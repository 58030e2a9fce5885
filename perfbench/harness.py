"""Shared harness pieces: the closed-loop operation runner, the run
context a workload receives, and the process-tree RSS sampler."""

from __future__ import annotations

import gc
import math
import os
import sys
import threading
import time
import traceback

SETUP_REPS = 3


def percentile(values: list[float], q: float, failed: int = 0) -> float:
    """Nearest-rank percentile; each failed operation counts as a sample
    that missed every latency limit."""
    vals = sorted(values) + [math.inf] * failed
    if not vals:
        return math.inf
    return vals[min(len(vals) - 1, max(0, math.ceil(q * len(vals)) - 1))]


def descendants(root: int | None = None) -> list[int]:
    """Pids of every live descendant of ``root`` (default: this process)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], list(children.get(root or os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


class RssSampler:
    """Peak resident set size of this process and all its descendants
    (the JVM and the Python workers), sampled from /proc."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def sample(self) -> None:
        total = 0
        for pid in [os.getpid(), *descendants()]:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                continue
        self.peak_bytes = max(self.peak_bytes, total)


class Ops:
    """Closed-loop operation runner: times each call, counts failures and,
    under tracing, keeps the per-operation layer metrics of its span."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.lat: dict[str, list[float]] = {}
        self.wall: dict[str, list[float]] = {}
        self.failed: dict[str, int] = {}
        self.layers: dict[str, list[dict]] = {}
        self.attempted = 0
        self._next_id = 0

    def run(self, name: str, fn):
        """Run ``fn`` as one timed operation; returns ``(ok, result)``.

        ``lat`` times ``fn`` alone. ``wall`` also covers entering and
        leaving the span, which under tracing sets the job group and reads
        the status store: the whole cost tracing adds."""
        self.attempted += 1
        self._next_id += 1
        w0 = time.perf_counter()
        with self.tracer.span(name, self._next_id) as rec:
            t0 = time.perf_counter()
            try:
                out = fn()
            except Exception:
                traceback.print_exc()
                self.failed[name] = self.failed.get(name, 0) + 1
                return False, None
            dt = time.perf_counter() - t0
        self.wall.setdefault(name, []).append(time.perf_counter() - w0)
        self.lat.setdefault(name, []).append(dt)
        if rec is not None:
            self.layers.setdefault(name, []).append(self.tracer.op_metrics(rec))
        return True, out

    def total_failed(self) -> int:
        return sum(self.failed.values())

    def p(self, name: str, q: float) -> float:
        return percentile(self.lat.get(name, []), q, self.failed.get(name, 0)) * 1e3


class Context:
    """What a workload needs: session, tracer, seed, clock and scratch dir."""

    def __init__(self, args, spark, tracer, root: str, work: str, session_s: float, t0: float):
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.spark = spark
        self.tracer = tracer
        self.root = root
        self.work = work
        self.out_dir = os.path.join(root, ".bench_out")
        self.session_s = session_s
        self.t0 = t0
        self.checks: dict[str, bool] = {}
        self.check_notes: dict[str, object] = {}

    def log(self, msg: str) -> None:
        """Progress line on standard error, stamped with seconds since start."""
        print(f"[perfbench {time.perf_counter() - self.t0:7.2f}s] {msg}", file=sys.stderr, flush=True)

    def check(self, name: str, ok: bool, note=None) -> None:
        """Record one correctness check; a name that fails once stays failed."""
        self.checks[name] = self.checks.get(name, True) and bool(ok)
        if note is not None:
            self.check_notes[name] = note

    def settle(self) -> None:
        """Collect garbage in both processes before timing starts, so a
        collection left over from set-up does not land in the window."""
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()

    def timed_phases(self, ops: Ops, next_op, execute, min_ops: int = 1, min_traced: int = 1) -> dict:
        """Run the closed loop for ``seconds``.

        ``next_op()`` gives the next operation, a tuple whose first item is
        its kind. The first ``min_ops`` operations always run; after them
        an operation starts only if the last one of its kind says it ends
        by the deadline, so the window holds whole operations.

        Traced, each operation runs twice, untraced and traced, in an order
        that alternates from one operation to the next (so warming and
        caching favour neither side), for half the time, and for at least
        ``min_traced`` operations. Returns the tracing overhead of those
        pairs: traced over untraced time, minus one, for the whole
        operation (``wall``, span bookkeeping included) and for the timed
        call alone (``op``)."""
        self.settle()
        plain = Ops(self.tracer) if self.traced else None
        floor = min_traced if self.traced else min_ops
        deadline = time.perf_counter() + (self.seconds / 2 if self.traced else self.seconds)
        last: dict[str, float] = {}
        n = 0
        while True:
            op = next_op()
            t0 = time.perf_counter()
            if n >= floor and t0 + last.get(op[0], 0.0) > deadline:
                break
            if plain is None:
                execute(ops, op)
            else:
                for traced in (False, True) if n % 2 == 0 else (True, False):
                    self.tracer.set_enabled(traced)
                    execute(ops if traced else plain, op, replay=traced)
            last[op[0]] = time.perf_counter() - t0
            n += 1
        if plain is None:
            return {}
        ops.attempted += plain.attempted
        for k, v in plain.failed.items():
            ops.failed[k] = ops.failed.get(k, 0) + v

        def ratio(field: str) -> float:
            untraced = sum(sum(v) for v in getattr(plain, field).values())
            traced = sum(sum(v) for v in getattr(ops, field).values())
            return traced / untraced - 1.0 if untraced > 0 else math.nan

        return {"wall": ratio("wall"), "op": ratio("lat")}
