"""Outside-in tracing: spans around the benchmark's calls into each layer.

Nothing here touches the package. Attribution works from outside:

* each span runs under its own Spark job group (the package sets none),
  so ``statusTracker().getJobIdsForGroup`` names exactly the jobs the
  span caused; per-stage executor metrics come from the driver's status
  store (``statusStore().lastStageAttempt``), which is populated with the
  UI off. A stage with no attempt was skipped and counts as zero;
* py4j round-trips are counted by wrapping ``send_command`` on py4j's
  connection classes inside this process.

Spans are kept in memory and written out once, at the end of the run.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager

STAGE_FIELDS = {
    # metric name -> (StageData accessor, scale to the reported unit)
    "executor_run_ms": ("executorRunTime", 1.0),
    "executor_cpu_ms": ("executorCpuTime", 1e-6),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1.0),
    "input_bytes": ("inputBytes", 1.0),
    "spill_bytes": (("memoryBytesSpilled", "diskBytesSpilled"), 1.0),
}
OP_FIELDS = ("py4j_calls", "spark_jobs", "spark_stages", "driver_ms", *STAGE_FIELDS)


class Py4jCounter:
    """Counts py4j round-trips made by this process."""

    def __init__(self):
        self.calls = 0
        self._lock = threading.Lock()
        self._saved: list[tuple[type, object]] = []

    def install(self) -> None:
        import py4j.clientserver
        import py4j.java_gateway

        for cls in (
            py4j.clientserver.ClientServerConnection,
            py4j.java_gateway.GatewayConnection,
        ):
            orig = cls.send_command
            self._saved.append((cls, orig))

            def counted(conn, command, *a, _orig=orig, **kw):
                with self._lock:
                    self.calls += 1
                return _orig(conn, command, *a, **kw)

            cls.send_command = counted

    def uninstall(self) -> None:
        for cls, orig in self._saved:
            cls.send_command = orig
        self._saved.clear()


class Tracer:
    """Span recorder. Disabled, ``span`` only yields; enabled, every span
    gets a job group, a py4j count and (at exit) its jobs' stage metrics."""

    def __init__(self, spark, enabled: bool):
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._sc = spark.sparkContext if spark is not None else None
        self._py4j = Py4jCounter()
        self._tracer_calls = 0
        self.enabled = False
        self.set_enabled(enabled)

    def set_enabled(self, enabled: bool) -> None:
        if enabled and not self.enabled:
            self._py4j.install()
        elif not enabled and self.enabled:
            self._py4j.uninstall()
        self.enabled = enabled

    def close(self) -> None:
        self.set_enabled(False)

    @contextmanager
    def span(self, name: str, op_id: int | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op_id": op_id if op_id is not None else (parent or {}).get("op_id"),
            "group": f"bench-{len(self.spans)}",
            "children": [],
        }
        self.spans.append(rec)
        if parent:
            parent["children"].append(rec["id"])
        self._stack.append(rec)
        self._bookkeep(self._sc.setJobGroup, rec["group"], name)
        rec["py4j_start"], rec["tracer_start"] = self._py4j.calls, self._tracer_calls
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["py4j_end"], rec["tracer_end"] = self._py4j.calls, self._tracer_calls
            self._stack.pop()
            if parent:
                self._bookkeep(self._sc.setJobGroup, parent["group"], parent["name"])
            else:
                self._bookkeep(self._clear_group)
                # attribution reads run only after the outermost span closed,
                # so they never fall inside any span's time or py4j count
                for s in self.subtree(rec):
                    self._harvest(s)

    def _bookkeep(self, fn, *args) -> None:
        """Run a tracer-side py4j call, keeping it out of span counts."""
        before = self._py4j.calls
        fn(*args)
        self._tracer_calls += self._py4j.calls - before

    def _clear_group(self) -> None:
        self._sc.setLocalProperty("spark.jobGroup.id", None)
        self._sc.setLocalProperty("spark.job.description", None)

    # -- attribution (runs after the span closed; not part of its time) --

    def _harvest(self, rec: dict) -> None:
        """Own jobs and stages of one span, read from the status store."""
        tracker = self._sc.statusTracker()
        store = self._sc._jsc.sc().statusStore()
        job_ids = sorted(tracker.getJobIdsForGroup(rec["group"]))
        stages: set[int] = set()
        intervals: list[tuple[float, float]] = []
        for jid in job_ids:
            job = self._settled_job(store, jid)
            info = tracker.getJobInfo(jid)
            stages.update(int(s) for s in (info.stageIds if info else ()))
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append(
                    (sub.get().getTime() / 1e3, done.get().getTime() / 1e3)
                )
        own = {k: 0.0 for k in STAGE_FIELDS}
        for sid in sorted(stages):
            try:
                sd = store.lastStageAttempt(sid)
            except Exception as e:  # skipped stage: no attempt was made
                if "NoSuchElement" not in str(e):
                    raise
                continue
            for key, (acc, scale) in STAGE_FIELDS.items():
                names = acc if isinstance(acc, tuple) else (acc,)
                own[key] += sum(float(getattr(sd, n)()) for n in names) * scale
        rec["jobs"] = job_ids
        rec["stages"] = sorted(stages)
        rec["job_intervals"] = intervals
        rec["own"] = own

    @staticmethod
    def _settled_job(store, jid: int):
        """The status store is filled by the listener bus, which may lag the
        action that returned; wait (bounded) until the job has ended."""
        deadline = time.monotonic() + 5.0
        while True:
            job = store.job(jid)
            if job.completionTime().isDefined() or time.monotonic() > deadline:
                return job
            time.sleep(0.005)

    # -- roll-ups --

    @staticmethod
    def py4j_calls(rec: dict) -> int:
        """Round-trips inside the span, minus the tracer's own job-group
        calls for nested spans."""
        return (rec["py4j_end"] - rec["py4j_start"]) - (
            rec["tracer_end"] - rec["tracer_start"]
        )

    def subtree(self, rec: dict) -> list[dict]:
        out, todo = [], [rec["id"]]
        while todo:
            s = self.spans[todo.pop()]
            out.append(s)
            todo.extend(s["children"])
        return out

    def op_metrics(self, rec: dict) -> dict:
        """The named per-operation metrics of one top-level span."""
        tree = self.subtree(rec)
        wall_s = rec["end"] - rec["start"]
        jobs = [j for s in tree for j in s.get("jobs", [])]
        stages = {st for s in tree for st in s.get("stages", [])}
        # driver time: span wall time minus the union of its jobs' intervals
        ivs = sorted(iv for s in tree for iv in s.get("job_intervals", []))
        busy, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in ivs:
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    busy += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            busy += cur_hi - cur_lo
        out = {
            "py4j_calls": float(self.py4j_calls(rec)),
            "spark_jobs": float(len(jobs)),
            "spark_stages": float(len(stages)),
            "driver_ms": max(0.0, wall_s - busy) * 1e3,
        }
        for k in STAGE_FIELDS:
            out[k] = sum(s["own"][k] for s in tree)
        return out

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per span name: duration minus the part
        covered by child spans (children never overlap: one thread)."""
        out: dict[str, float] = {}
        for s in self.spans:
            dur = s["end"] - s["start"]
            kids = sum(
                self.spans[c]["end"] - self.spans[c]["start"] for c in s["children"]
            )
            out[s["name"]] = out.get(s["name"], 0.0) + dur - kids
        return out

    def write(self, path: str, extra: dict) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        spans = [
            {
                "id": s["id"],
                "name": s["name"],
                "parent": s["parent"],
                "op_id": s["op_id"],
                "start_s": round(s["start"] - t0, 6),
                "end_s": round(s["end"] - t0, 6),
                "py4j_calls": self.py4j_calls(s),
                "jobs": s.get("jobs", []),
                "stages": s.get("stages", []),
                "own_stage_metrics": s.get("own", {}),
            }
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"spans": spans, **extra}, f, indent=1)
