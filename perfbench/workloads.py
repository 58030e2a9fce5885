"""The benchmark workloads: ``serve`` and ``prep_dedup``.

Each workload function takes a ``harness.Context`` and returns a dict with
``ops`` (the timed-operation record), ``inputs`` (measured input
properties), ``setup_s`` and either the untraced ``named`` metrics plus
the ``slots`` that map them onto the end-to-end metric names, or the
traced ``per_layer`` metrics. Every operation goes through the package's
public API; the few probes that time a cache build call the cache-building
method the serving path itself calls, named in README.md.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from harness import SETUP_REPS, Ops
from spans import OP_FIELDS

MODEL = "stub://16"
COL = "text"
LIMIT = 10
BATCH = 100
SCORE_TOL = 1e-6

# serve: the hot collection's size, and the row count above which
# strategy='auto' leaves the exact tier for it (README.md: the default
# 200k crossover would need a corpus whose set-up alone outlasts the run
# budget on 4 cores)
HOT_DOCS = 4_000
HOT_EXACT_MAX_ROWS = HOT_DOCS // 2
# the live collection starts at 20k rows, below the crossover: the size at
# which api.search (a fresh load and bundle build per request) and the
# join tier's driver cost were measured at about 0.8 s and 0.15 s p50
LIVE_DOCS = 20_000
VOCAB = 20_000
# one client cycle: about 15 s of operations on a 4-core host, from the
# per-operation costs measured there (README.md). A run always completes
# one cycle, so every run samples the same operations in the same order
# (their latencies keep drifting down as the JVM warms, so a run cut
# short by a slow host would report only its slowest samples). Every kind
# comes up within its first ten operations. The write (add-docs, then the
# search after the write and a freshness api.search) and the two batches
# of 100 queries take two thirds of it; per-query reads fill the rest.
# The seed picks every query; per-query reads of each kind cycle through
# 2..6 terms, so every run sees the same query-length mix
CYCLE = (
    "write", "search", "hybrid", "live_search", "search_many_hybrid",
    "hybrid", "search", "api_search", "hybrid", "search_many", "search",
    "live_search", "hybrid", "search", "live_search", "hybrid", "search",
    "live_search", "hybrid", "search",
)  # fmt: skip
BATCH_KINDS = ("search_many", "search_many_hybrid")
# the end-to-end slot (run.py) each workload fills, and the named metric
# it holds; README.md says why no serving latency or throughput is gated
SERVE_SLOTS = {"quality_frac": "recall_at_10"}
WRITE_FILES = 8
WRITE_SECTIONS = 4

PREP_DOCS = 2_400
PREP_VOCAB = 15_000
PREP_DUP_SHARE = 0.2
PREP_LOWQ_SHARE = 0.05
# fuzzy dedup must remove at least this share of planted copies. Measured
# 0.84-0.90 on seeds 1, 11-15 and 301-310: a copy is missed when its original kept
# boilerplate lines (as their lowest-key holder) that pull the pair's
# Jaccard below the 0.8 threshold
PREP_MIN_COPY_REMOVAL = 0.8

PREP_SLOTS = {"quality_frac": "planted_copy_removal"}

OP_NAMES = (
    "search",
    "hybrid",
    "search_many",
    "search_many_hybrid",
    "live_search",
    "api_search",
    "search_after_write",
    "add_docs",
    "prep",
)
BOTH = ("serve", "prep_dedup")
PROBES = {
    # name -> (unit, the workloads that measure it)
    "session.start_s": ("s", BOTH),
    "ingest.import_s": ("s", ("serve",)),
    "embed.embed_column_s": ("s", ("serve",)),
    "embedders.embed_ms_per_1k": ("ms", ("serve",)),
    "embedders.query_embed_ms": ("ms", ("serve",)),
    "chunker.chunk_s": ("s", ("serve",)),
    "keys.dense_key_s": ("s", ("serve",)),
    "keys.exchanges": ("count", ("serve",)),
    "serve_cache.view_build_s": ("s", ("serve",)),
    "serve_cache.hamming_build_s": ("s", ("serve",)),
    "serve_cache.lexical_build_s": ("s", ("serve",)),
    "api.load_ms": ("ms", ("serve",)),
    "api.bundle_build_ms": ("ms", ("serve",)),
    "pipeline.quality_filter_s": ("s", ("prep_dedup",)),
    "pipeline.line_dedup_s": ("s", ("prep_dedup",)),
    "pipeline.fuzzy_dedup_s": ("s", ("prep_dedup",)),
    "pipeline.split_pack_s": ("s", ("prep_dedup",)),
    "dedup.candidate_pairs": ("count", ("prep_dedup",)),
    "dedup.pair_precision": ("fraction", ("prep_dedup",)),
    "tracing.overhead_frac": ("fraction", BOTH),
}
OP_UNITS = {
    "py4j_calls": "count",
    "spark_jobs": "count",
    "spark_stages": "count",
    "driver_ms": "ms",
    "executor_run_ms": "ms",
    "executor_cpu_ms": "ms",
    "shuffle_write_bytes": "bytes",
    "input_bytes": "bytes",
    "spill_bytes": "bytes",
}


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else float("nan")


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def write_parquet(path: str, columns: dict) -> str:
    pq.write_table(pa.table(columns), path)
    return path


class Exact:
    """Brute-force cosine top-k over the stored vectors (the oracle).

    Keys are collected in ascending order. An append-only collection's
    keys continue from its largest one, so its state after ``n`` rows is
    its first ``n`` keys: ``rows`` picks that state."""

    def __init__(self, coll):
        t = coll.embeddings(COL).select("_key", "vector").orderBy("_key").toArrow()
        self.keys = np.asarray(t.column("_key").to_pylist(), dtype=np.int64)
        mat = np.array(t.column("vector").to_pylist(), dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        self.mat = mat / norms
        self.pos = {int(k): i for i, k in enumerate(self.keys)}
        from letsearch_spark.embedders import get_embedder

        self.embedder = get_embedder(MODEL)

    def scores(self, query: str, rows: int | None = None) -> np.ndarray:
        q = self.embedder.embed([query])[0].astype(np.float64)
        n = np.linalg.norm(q)
        return self.mat[:rows] @ (q / n if n > 0 else q)

    def kth(self, sims: np.ndarray, k: int = LIMIT) -> float:
        return float(np.partition(sims, -k)[-k]) if len(sims) >= k else -np.inf

    def check_exact(self, query: str, hits: list[tuple[int, float]], rows: int | None = None) -> bool:
        """Tie-aware equality with the exact top-k: ``limit`` hits, each
        scored as the oracle scores it and at least the k-th exact score."""
        sims = self.scores(query, rows)
        kth = self.kth(sims)
        if len(hits) != min(LIMIT, len(sims)):
            return False
        for key, score in hits:
            i = self.pos.get(int(key))
            if i is None or i >= len(sims) or abs(sims[i] - score) > SCORE_TOL or sims[i] < kth - SCORE_TOL:
                return False
        return True

    def recall(self, query: str, keys: list[int]) -> float:
        """Tie-aware recall@k: a hit counts if its exact score is at least
        the k-th exact score."""
        sims = self.scores(query)
        kth = self.kth(sims)
        good = sum(
            1
            for k in keys
            if int(k) in self.pos and sims[self.pos[int(k)]] >= kth - SCORE_TOL
        )
        return good / LIMIT


def rows_hits(rows) -> list[tuple[int, float]]:
    return [(int(r["key"]), float(r["score"])) for r in rows]


def per_op_metrics(ops: Ops) -> dict:
    out = {}
    for name in OP_NAMES:
        recs = ops.layers.get(name, [])
        for f in OP_FIELDS:
            out[f"{name}.{f}"] = median(r[f] for r in recs) if recs else 0.0
    return out


def finish_trace(ctx, ops: Ops, probes: dict, workload: str, overhead: dict) -> dict:
    """Per-layer metrics of a traced run: every per-operation and probe
    metric, with 0 for those this workload does not run (listed)."""
    probes = dict(probes, **{"session.start_s": ctx.session_s, "tracing.overhead_frac": overhead["wall"]})
    per_layer = per_op_metrics(ops)
    not_run = [f"{n}.*" for n in OP_NAMES if n not in ops.layers]
    for name, (_unit, where) in PROBES.items():
        if workload in where:
            per_layer[name] = float(probes[name])
        else:
            per_layer[name] = 0.0
            not_run.append(name)
    units = {f"{n}.{f}": OP_UNITS[f] for n in OP_NAMES for f in OP_FIELDS}
    units.update({k: u for k, (u, _w) in PROBES.items()})
    spans_path = os.path.join(ctx.out_dir, f"{workload}-seed{ctx.seed}-spans.json")
    self_time = {k: round(v, 6) for k, v in sorted(ctx.tracer.self_times().items())}
    ctx.tracer.write(spans_path, {"self_time_s": self_time, "per_layer": per_layer})
    return {
        "per_layer": {k: {"value": v, "unit": units[k]} for k, v in per_layer.items()},
        "trace_detail": {
            "spans_file": os.path.relpath(spans_path, ctx.root),
            "self_time_s": self_time,
            "not_run_here": not_run,
            "missing": {},
            "ops_traced": {k: len(v) for k, v in ops.layers.items()},
            "tracing_overhead_op_only_frac": overhead["op"],
        },
    }


# ------------------------------------------------------------------- serve


def serve(ctx) -> dict:
    """One serving process holding two collections over one vocabulary:

    * ``hot`` -- read-only, above the auto crossover, so ``auto`` serves
      from the hamming tier; the four serving operations run against it;
    * ``live`` -- below the crossover (exact ``join`` tier); it takes
      add-docs writes, and is read through ``api.search`` (a fresh load
      per request, like the reference's separate ``serve`` process) and
      through ``search(auto)`` on the held collection.

    Results are recorded in the window and checked after it, so the
    window holds only the operations being timed.
    """
    from letsearch_spark import api
    from letsearch_spark.chunker import ChunkerConfig, MarkdownChunker
    from letsearch_spark.collection import Collection

    rng = np.random.default_rng([ctx.seed, 0])
    model = gen.TextModel(rng, VOCAB)
    hot_docs = gen.flat_docs(rng, model, HOT_DOCS)
    live_docs = gen.flat_docs(rng, model, LIVE_DOCS)
    hot_path = write_parquet(os.path.join(ctx.work, "hot.parquet"), {COL: hot_docs})
    live_path = write_parquet(
        os.path.join(ctx.work, "live.parquet"),
        {
            "source_path": pa.array([None] * len(live_docs), pa.string()),
            "chunk_idx": pa.array([None] * len(live_docs), pa.int64()),
            COL: live_docs,
        },
    )
    qrng = np.random.default_rng([ctx.seed, 1])
    wrng = np.random.default_rng([ctx.seed, 2])
    chunker = MarkdownChunker(ChunkerConfig())
    tr = ctx.tracer
    ctx.log("inputs generated")

    # set-up: the hot collection SETUP_REPS times (the median counts),
    # then the live collection once, warm
    builds: dict[str, list[float]] = {}
    reps = []
    for rep in range(SETUP_REPS):
        ctx.spark.catalog.clearCache()
        with tr.span("setup"):
            t0 = time.perf_counter()
            hot = Collection.create(ctx.spark, os.path.join(ctx.work, f"hot{rep}"), "hot", [COL], MODEL)
            hot.auto_exact_max_rows = HOT_EXACT_MAX_ROWS
            for name, fn in (
                ("ingest.import_s", lambda: hot.import_parquet(hot_path)),
                ("embed.embed_column_s", lambda: hot.embed_column(COL)),
                ("hot.view_build_s", lambda: hot._serve_view(COL)),
                ("serve_cache.hamming_build_s", lambda: hot.build_hamming_index(COL)),
                (
                    "serve_cache.lexical_build_s",
                    lambda: (hot._lexical_view(COL), hot._lex_idf_map(COL)),
                ),
            ):
                with tr.span(name.rsplit("_", 1)[0]):
                    builds.setdefault(name, []).append(timed(fn)[1])
            reps.append(time.perf_counter() - t0)
        ctx.log(f"setup rep {rep}: {reps[-1]:.2f}s")
    with tr.span("setup_live"):
        t0 = time.perf_counter()
        live = Collection.create(ctx.spark, os.path.join(ctx.work, "live"), "live", [COL], MODEL)
        live.import_parquet(live_path)
        live.embed_column(COL)
        live._serve_view(COL)
        live_setup_s = time.perf_counter() - t0

    state = {
        "batches": 0,
        "queue": [],
        "rows_added": [],
        "hot": {"search": {}, "hybrid": {}},
        "first_batch": {},
        "auto_hits": [],
        "live_reads": [],
        "fresh": [],
    }

    def write_batch(batch_seed: int) -> tuple[str, str]:
        tag = f"b{state['batches']:03d}"
        state["batches"] += 1
        d = os.path.join(ctx.work, "batches", tag)
        gen.write_markdown_batch(
            np.random.default_rng(batch_seed), model, d, WRITE_FILES, WRITE_SECTIONS, tag
        )
        return d, tag

    # first calls of each operation (and one write), untimed, outside setup_s
    warm_q = [model.query(qrng, n) for n in (2, 4, 6)]
    with tr.span("warmup"):
        hot.search_many(COL, warm_q, limit=LIMIT, strategy="auto").collect()
        hot.search_many(COL, warm_q, limit=LIMIT, strategy="hybrid").collect()
        live.import_markdown_dir(write_batch(int(wrng.integers(0, 2**31)))[0])
        live.embed_column(COL)
        ctx.log("warm-up: batches and a write done")
        # the per-query reads are markedly slower on their first calls
        for q in warm_q[1:]:
            hot.search(COL, q, limit=LIMIT, strategy="auto").collect()
            hot.search(COL, q, limit=LIMIT, strategy="hybrid").collect()
            live.search(COL, q, limit=LIMIT, strategy="auto").collect()
        api.search(ctx.spark, live.root, "live", COL, warm_q[1], LIMIT)
    tiers = {"hot": hot.resolve_strategy(COL), "live": live.resolve_strategy(COL)}
    ctx.check("auto_tiers", tiers == {"hot": "hamming", "live": "join"}, tiers)
    state["live_rows"] = live.count()
    ctx.log("warm-up done")

    def next_op():
        """The next operation of the client's cycle. A batch opens with the
        queries of its per-query twin's reads in the same cycle, so the two
        paths can be compared on the window's own results."""
        if not state["queue"]:
            seen: dict[str, int] = {}
            cycle = []
            for k in CYCLE:
                if k == "write":
                    cycle.append((k, int(wrng.integers(0, 2**31)), model.query(qrng)))
                elif k in BATCH_KINDS:
                    cycle.append((k, []))
                else:
                    seen[k] = seen.get(k, 0) + 1
                    cycle.append((k, [model.query(qrng, 2 + seen[k] % 5)]))
            for kind, twin in zip(BATCH_KINDS, ("search", "hybrid")):
                mine = [op[1][0] for op in cycle if op[0] == twin]
                for op in cycle:
                    if op[0] == kind:
                        op[1].extend(mine + [model.query(qrng) for _ in range(BATCH - len(mine))])
            state["queue"] = cycle
        return state["queue"].pop(0)

    def hot_read(ops, kind, qs, replay):
        strategy = "hybrid" if "hybrid" in kind else "auto"
        if kind in ("search", "hybrid"):
            ok, rows = ops.run(
                kind, lambda: hot.search(COL, qs[0], limit=LIMIT, strategy=strategy).collect()
            )
            if ok:
                state["hot"][kind][qs[0]] = rows_hits(rows)
                if kind == "search" and not replay:
                    state["auto_hits"].append((qs[0], rows_hits(rows)))
            return
        ok, rows = ops.run(
            kind, lambda: hot.search_many(COL, qs, limit=LIMIT, strategy=strategy).collect()
        )
        if ok:
            ctx.check(f"{kind}_returns_all", len(rows) == LIMIT * len(qs))
            state["first_batch"].setdefault(kind, (qs, rows))
            if kind == "search_many" and not replay:
                for qi, q in enumerate(qs):
                    hits = sorted((r for r in rows if r["query_idx"] == qi), key=lambda r: r["rank"])
                    state["auto_hits"].append((q, rows_hits(hits)))

    def live_read(ops, kind, q):
        """A read of the live collection; checked after the window against
        the collection as it stood (its first ``live_rows`` keys)."""
        if kind == "api_search":
            ok, resp = ops.run(
                "api_search", lambda: api.search(ctx.spark, live.root, "live", COL, q, LIMIT)
            )
            if not ok:
                return None
            good = resp["status"] == 200
            ctx.check("api_search_status_200", good)
            hits = [(r["key"], r["score"]) for r in resp["data"]["results"]] if good else []
        else:
            ok, rows = ops.run(
                kind, lambda: live.search(COL, q, limit=LIMIT, strategy="auto").collect()
            )
            if not ok:
                return None
            hits = rows_hits(rows)
        state["live_reads"].append((kind, q, hits, state["live_rows"]))
        return hits

    def write(ops, batch_seed, q_after, replay):
        d, tag = write_batch(batch_seed + (1 if replay else 0))

        def add_docs():
            with tr.span("ingest.import_markdown_dir"):
                n = live.import_markdown_dir(d)
            with tr.span("embed.embed_column"):
                live.embed_column(COL)
            return n

        ok, n = ops.run("add_docs", add_docs)
        if not ok:
            return
        state["rows_added"].append((n, ops.lat["add_docs"][-1]))
        state["live_rows"] += n
        live_read(ops, "search_after_write", q_after)
        # freshness: the exact text of the batch's first chunk, through
        # api.search right after the write
        with open(os.path.join(d, f"doc_{tag}_0000.md")) as f:
            first = chunker.chunk(f.read())[0]
        hits = live_read(ops, "api_search", first)
        if hits is not None:
            state["fresh"].append((tag, first, {int(k) for k, _ in hits}))

    def execute(ops, op, replay=False):
        kind = op[0]
        if kind == "write":
            write(ops, op[1], op[2], replay)
        elif kind in ("api_search", "live_search"):
            live_read(ops, kind, op[1][0])
        else:
            hot_read(ops, kind, op[1], replay)

    ops = Ops(tr)
    first_of_each = max(CYCLE.index(k) for k in set(CYCLE)) + 1
    overhead = ctx.timed_phases(ops, next_op, execute, len(CYCLE), first_of_each)
    ctx.log("timed window done")
    check_serve(ctx, hot, live, state)

    inputs = {
        "hot": gen.text_stats(hot_docs),
        "live_start": gen.text_stats(live_docs),
        "live_rows_end": state["live_rows"],
        "auto_tiers": tiers,
        "write_batches": state["batches"],
        "files_per_batch": WRITE_FILES,
        "chunks_per_file": median(n / WRITE_FILES for n, _ in state["rows_added"]),
        "setup_steps_s": dict(
            {k: round(median(v), 4) for k, v in builds.items()}, live_setup_s=round(live_setup_s, 4)
        ),
    }
    setup_s = ctx.session_s + median(reps) + live_setup_s
    out = {"ops": ops, "inputs": inputs, "setup_s": setup_s}
    if ctx.traced:
        probes = {k: median(v) for k, v in builds.items() if k in PROBES}
        probes["embedders.query_embed_ms"] = query_embed_ms(model, qrng)
        probes.update(live_probes(ctx, live, model, qrng, write_batch, wrng))
        out.update(finish_trace(ctx, ops, probes, "serve", overhead))
        return out

    def qps(name):
        lat = ops.lat.get(name, [])
        return BATCH * len(lat) / sum(lat) if lat and not ops.failed.get(name) else 0.0

    rows = sum(n for n, _ in state["rows_added"])
    secs = sum(s for _, s in state["rows_added"])
    out["named"] = {
        "search_p50_ms": (ops.p("search", 0.5), "ms"),
        "search_p90_ms": (ops.p("search", 0.9), "ms"),
        "hybrid_p50_ms": (ops.p("hybrid", 0.5), "ms"),
        "search_many_qps": (qps("search_many"), "queries/s"),
        "search_many_hybrid_qps": (qps("search_many_hybrid"), "queries/s"),
        "recall_at_10": (state["recall"], "fraction"),
        "live_search_p50_ms": (ops.p("live_search", 0.5), "ms"),
        "live_search_p90_ms": (ops.p("live_search", 0.9), "ms"),
        "api_search_p50_ms": (ops.p("api_search", 0.5), "ms"),
        "api_search_p90_ms": (ops.p("api_search", 0.9), "ms"),
        "search_after_write_p50_ms": (ops.p("search_after_write", 0.5), "ms"),
        "add_docs_rows_per_s": (rows / secs if secs and not ops.failed.get("add_docs") else 0.0, "rows/s"),
    }
    out["slots"] = SERVE_SLOTS
    return out


def check_serve(ctx, hot, live, state) -> None:
    """The serve checks, on the results the window recorded."""
    from pyspark.sql import functions as F

    hot_exact, live_exact = Exact(hot), Exact(live)
    # append-only key continuation: the live state after n rows is its
    # first n keys
    ctx.check(
        "live_keys_dense",
        len(live_exact.keys) == state["live_rows"]
        and np.array_equal(live_exact.keys, np.arange(1, state["live_rows"] + 1)),
    )
    for kind, q, hits, rows in state["live_reads"]:
        ctx.check(f"{kind}_equals_exact_top10", live_exact.check_exact(q, hits, rows))

    # the hamming tier returns `limit` hits, each rescored exactly
    for kind, by_q in state["hot"].items():
        ctx.check(f"{kind}_returns_limit", all(len(h) == LIMIT for h in by_q.values()))
    ok = True
    for q, hits in state["auto_hits"]:
        sims = hot_exact.scores(q)
        ok = ok and len(hits) == LIMIT and all(abs(sims[hot_exact.pos[k]] - s) <= SCORE_TOL for k, s in hits)
    ctx.check("hamming_scores_exact", ok)
    recalls = [hot_exact.recall(q, [k for k, _ in hits]) for q, hits in state["auto_hits"]]
    state["recall"] = float(np.mean(recalls)) if recalls else 0.0

    # batched == per-query on the batch's leading queries: hamming bit for
    # bit, hybrid the same result sets
    for kind, twin in zip(BATCH_KINDS, ("search", "hybrid")):
        if kind not in state["first_batch"]:
            continue
        qs, rows = state["first_batch"][kind]
        single = state["hot"][twin]
        same = True
        for qi, q in enumerate(qs):
            if q not in single:
                continue
            batch = rows_hits(sorted((r for r in rows if r["query_idx"] == qi), key=lambda r: r["rank"]))
            if kind == "search_many":
                same = same and batch == single[q]
            else:
                same = same and {k for k, _ in batch} == {k for k, _ in single[q]}
        ctx.check(f"{kind}_equals_per_query", same and any(q in single for q in qs))

    # freshness: each write's first chunk came back from api.search
    firsts = {
        r["source_path"].rsplit("/", 1)[-1]: (int(r["_key"]), r[COL])
        for r in live.docs()
        .where(F.col("source_path").rlike(r"doc_b[0-9]+_0000\.md$"))
        .where(F.col("chunk_idx") == 0)
        .select("source_path", "_key", COL)
        .collect()
    }
    ok = bool(state["fresh"])
    for tag, text, keys in state["fresh"]:
        key, stored = firsts.get(f"doc_{tag}_0000.md", (None, None))
        ok = ok and stored == text and key in keys
    ctx.check("api_search_sees_write", ok)


def query_embed_ms(model, rng, n: int = 200) -> float:
    from letsearch_spark.embedders import get_embedder

    emb = get_embedder(MODEL)
    qs = [model.query(rng) for _ in range(n)]
    return median(timed(lambda q=q: emb.embed([q]))[1] * 1e3 for q in qs)


def live_probes(ctx, c, model, qrng, write_batch, wrng) -> dict:
    """Direct calls to the layers a write cycle on the live collection goes
    through, on the workload's own inputs (one extra write batch)."""
    from pyspark.sql import functions as F

    from letsearch_spark.chunker import ChunkerConfig, MarkdownChunker, chunk_column
    from letsearch_spark.collection import Collection
    from letsearch_spark.embedders import get_embedder
    from letsearch_spark.keys import add_dense_key_with_count

    tr = ctx.tracer
    probes: dict[str, float] = {}
    d, _tag = write_batch(int(wrng.integers(0, 2**31)))
    texts = []
    for fn in sorted(os.listdir(d)):
        with open(os.path.join(d, fn)) as f:
            texts.append(f.read())
    chunker = MarkdownChunker(ChunkerConfig())
    with tr.span("probe.chunker"):
        chunks, probes["chunker.chunk_s"] = timed(lambda: [chunker.chunk(t) for t in texts])
    flat = [x for cs in chunks for x in cs]
    emb = get_embedder(MODEL)
    sample = (flat * (1000 // max(1, len(flat)) + 1))[:1000]
    with tr.span("probe.embedders"):
        probes["embedders.embed_ms_per_1k"] = median(
            timed(lambda: emb.embed(sample))[1] * 1e3 for _ in range(3)
        )

    files = (
        ctx.spark.read.format("binaryFile")
        .load(d)
        .select(F.col("path").alias("source_path"), F.col("content").cast("string").alias("md"))
    )
    batch = chunk_column(files, "md", ChunkerConfig()).select("source_path", "chunk").cache()
    batch.count()
    times, exchanges = [], 0
    with tr.span("probe.keys"):
        for _ in range(3):
            def key_batch():
                keyed, _n = add_dense_key_with_count(batch, "_key", start=1, if_absent=False)
                keyed.collect()
                return keyed

            keyed, dt = timed(key_batch)
            times.append(dt)
            # an adaptive plan prints its final plan, then its initial one
            plan = keyed._jdf.queryExecution().executedPlan().toString()
            plan = plan.split("== Initial Plan ==")[0]
            exchanges = sum(
                1 for line in plan.splitlines() if line.lstrip(" +-:*").startswith("Exchange ")
            )
    batch.unpersist()
    probes["keys.dense_key_s"] = median(times)
    probes["keys.exchanges"] = float(exchanges)

    # the write invalidates the serve view; the next read rebuilds it
    c.import_markdown_dir(d)
    c.embed_column(COL)
    with tr.span("probe.serve_cache.view_build"):
        _v, probes["serve_cache.view_build_s"] = timed(lambda: c._serve_view(COL))

    loads, bundles = [], []
    with tr.span("probe.api"):
        for _ in range(3):
            q = model.query(qrng)
            fresh, dt = timed(lambda: Collection.load(ctx.spark, c.root, c.config.name))
            loads.append(dt * 1e3)
            first = timed(lambda: fresh.search_rows(COL, q, limit=LIMIT))[1]
            held = median(
                timed(lambda: fresh.search_rows(COL, model.query(qrng), limit=LIMIT))[1]
                for _ in range(5)
            )
            bundles.append((first - held) * 1e3)
    probes["api.load_ms"] = median(loads)
    probes["api.bundle_build_ms"] = median(bundles)
    return probes


# --------------------------------------------------------------- prep_dedup


def prep_dedup(ctx) -> dict:
    from letsearch_spark.pipeline import (
        PrepConfig,
        prepare_training_data,
        release_training_data,
    )

    rng = np.random.default_rng([ctx.seed, 0])
    model = gen.TextModel(rng, PREP_VOCAB)
    rows, truth, originals = gen.prep_corpus(rng, model, PREP_DOCS, PREP_DUP_SHARE, PREP_LOWQ_SHARE)
    path = write_parquet(
        os.path.join(ctx.work, "prep.parquet"),
        {"doc_id": [r[0] for r in rows], COL: [r[1] for r in rows]},
    )
    cfg = PrepConfig(key_col="doc_id", text_col=COL)
    tr = ctx.tracer
    state = {"audits": set(), "layouts": set(), "laps": [], "removal": [], "lost_originals": 0}
    copies = set(truth)

    def prep_once(docs):
        laps: dict[str, float] = {}
        clean, layout, audit = prepare_training_data(docs, cfg, stage_seconds=laps)
        return clean, layout.collect(), audit, laps

    def record(out):
        clean, layout, audit, laps = out
        kept = {int(r["doc_id"]) for r in clean.select("doc_id").collect()}
        release_training_data(clean)
        state["audits"].add(tuple(sorted(audit.items())))
        digest = hashlib.md5(repr(sorted(tuple(r) for r in layout)).encode()).hexdigest()
        state["layouts"].add(digest)
        state["laps"].append(laps)
        state["removal"].append(len(copies - kept) / len(copies))
        state["lost_originals"] = max(state["lost_originals"], len(originals - kept))
        state["train_tokens"] = sum(int(r["tok_len"]) for r in layout)
        return audit

    reps = []
    for _rep in range(SETUP_REPS):
        ctx.spark.catalog.clearCache()
        with tr.span("setup"):
            t0 = time.perf_counter()
            with tr.span("load_input"):
                docs = ctx.spark.read.parquet(path).cache()
                docs.count()
            reps.append(time.perf_counter() - t0)
        ctx.log(f"setup rep {_rep}: {reps[-1]:.2f}s")
    # one untimed warm-up iteration, outside setup_s (the first runs
    # markedly slower while the JVM and the Python workers warm up)
    with tr.span("warmup"):
        cold_s = timed(lambda: record(prep_once(docs)))[1]
    n_input = docs.count()

    def execute(ops, op, replay=False):
        ok, out = ops.run("prep", lambda: prep_once(docs))
        if ok:
            record(out)

    ctx.log("warm-up done")
    ops = Ops(tr)
    overhead = ctx.timed_phases(ops, lambda: ("prep",), execute)
    ctx.log("timed window done")

    audit = dict(next(iter(state["audits"]))) if state["audits"] else {}
    ctx.check("prep_audit_identical", len(state["audits"]) == 1, audit)
    ctx.check("prep_layout_identical", len(state["layouts"]) == 1)
    removal = min(state["removal"]) if state["removal"] else 0.0
    ctx.check("fuzzy_removes_planted_copies", removal >= PREP_MIN_COPY_REMOVAL, removal)
    ctx.check("originals_survive", state["lost_originals"] == 0, state["lost_originals"])
    texts = [r[1] for r in rows]
    inputs = dict(
        gen.text_stats(texts),
        planted_dup_share=round(len(copies) / len(rows), 4),
        audit=audit,
    )
    setup_s = ctx.session_s + median(reps)
    out = {"ops": ops, "inputs": inputs, "setup_s": setup_s}
    laps = state["laps"][1:] or state["laps"]
    stage = lambda k: median(l.get(k, 0.0) for l in laps)  # noqa: E731
    if ctx.traced:
        probes = {
            "pipeline.quality_filter_s": stage("quality_filter"),
            "pipeline.line_dedup_s": stage("line_dedup"),
            "pipeline.fuzzy_dedup_s": stage("fuzzy_dedup"),
            "pipeline.split_pack_s": stage("split_pack"),
        }
        probes.update(dedup_probe(ctx, docs, truth))
        out.update(finish_trace(ctx, ops, probes, "prep_dedup", overhead))
        return out
    lat = ops.lat.get("prep", [])
    ok = lat and not ops.failed
    tokens = state["train_tokens"]
    out["named"] = {
        "prep_docs_per_s": (n_input * len(lat) / sum(lat) if ok else 0.0, "docs/s"),
        "train_tokens_per_s": (tokens * len(lat) / sum(lat) if ok else 0.0, "tokens/s"),
        "prep_iteration_p50_ms": (ops.p("prep", 0.5), "ms"),
        "fuzzy_dedup_stage_p50_ms": (stage("fuzzy_dedup") * 1e3, "ms"),
        "dedup_stages_p50_ms": (
            median(l.get("line_dedup", 0.0) + l.get("fuzzy_dedup", 0.0) for l in laps) * 1e3,
            "ms",
        ),
        "quality_filter_stage_p50_ms": (stage("quality_filter") * 1e3, "ms"),
        "line_dedup_stage_p50_ms": (stage("line_dedup") * 1e3, "ms"),
        "split_pack_stage_p50_ms": (stage("split_pack") * 1e3, "ms"),
        "first_iteration_docs_per_s": (n_input / cold_s, "docs/s"),
        "planted_copy_removal": (removal, "fraction"),
    }
    out["slots"] = PREP_SLOTS
    return out


def dedup_probe(ctx, docs, truth: dict) -> dict:
    """Raw MinHash/LSH candidates on the prep input against the planted
    truth: the share of candidate pairs that are real near-duplicates."""
    from letsearch_spark.operators.dedup import minhash_lsh_pairs

    with ctx.tracer.span("probe.dedup.minhash_lsh_pairs"):
        cand = minhash_lsh_pairs(docs, "doc_id", COL, threshold=0.8, verify=False).collect()
    root = lambda x: truth.get(x, x)  # noqa: E731
    good = sum(1 for r in cand if root(int(r["id_a"])) == root(int(r["id_b"])))
    return {
        "dedup.candidate_pairs": float(len(cand)),
        "dedup.pair_precision": good / len(cand) if cand else 0.0,
    }


WORKLOADS = {"serve": serve, "prep_dedup": prep_dedup}
