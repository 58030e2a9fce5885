"""Binary sign-bit Hamming ANN (operators/hamming.py) and multi-vector
MaxSim retrieval (operators/pool.py maxsim_topk)."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from letsearch_spark.operators.hamming import (
    build_signbit_index,
    hamming_topk,
    pack_signbits,
    signbits_col,
)
from letsearch_spark.operators.pool import maxsim_topk


def _emb(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).select(
        F.col("vec_id").alias("_key"), F.col("embedding").alias("vector"), "label"
    )


def test_pack_signbits_twin_matches_catalyst(spark):
    rng = np.random.RandomState(7)
    vecs = rng.normal(size=(40, 10)).round(3)
    vecs[3, :] = 0.0  # all-zero vector: signature must be all zero words
    vecs[5, 2] = 0.0  # exact zero element: bit NOT set (strictly > 0)
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)], "id long, v array<double>"
    )
    for word_bits in (3, 32):
        got = {
            r["id"]: r["sig"]
            for r in df.select(
                "id", signbits_col("v", 10, word_bits).alias("sig")
            ).collect()
        }
        for i, v in enumerate(vecs):
            assert got[i] == pack_signbits(v, word_bits), (i, word_bits)


def test_signbits_validation(spark):
    df = spark.createDataFrame([(1, [0.1, 0.2])], "id long, v array<double>")
    for bad in (0, 63):
        with pytest.raises(ValueError):
            signbits_col("v", 2, word_bits=bad)
        with pytest.raises(ValueError):
            pack_signbits([0.1], word_bits=bad)
    with pytest.raises(ValueError):
        signbits_col("v", 0)


def test_build_signbit_index_shape_and_nulls(spark):
    df = spark.createDataFrame(
        [(1, [1.0, -1.0, 2.0]), (2, None), (3, [-1.0, -1.0, -1.0])],
        "_key long, vector array<double>",
    )
    idx = build_signbit_index(df, dim=3, word_bits=2)
    rows = {r["_key"]: r["_sig"] for r in idx.collect()}
    assert set(idx.columns) == {"_key", "_sig"}  # vectors dropped: 32x view
    assert set(rows) == {1, 3}  # null vector dropped
    assert rows[1] == [0b01, 0b1] and rows[3] == [0, 0]


def test_hamming_topk_full_rescore_equals_exact(spark, sf_dir):
    from letsearch_spark.operators.topk import cosine_topk

    emb = _emb(spark, sf_dir)
    q = emb.where(F.col("_key") == 0).select("vector").collect()[0][0]
    idx = build_signbit_index(emb, dim=64)
    exact = cosine_topk(emb, q, k=10).collect()
    got = hamming_topk(idx, emb, q, k=10, rescore=emb.count()).collect()
    assert [r["_key"] for r in got] == [r["_key"] for r in exact]
    for g, e in zip(got, exact):
        assert g["score"] == pytest.approx(e["score"], abs=1e-12)
    # self-match is hamming 0 and rank 1
    assert got[0]["_key"] == 0 and got[0]["hamming"] == 0


def test_hamming_topk_recall_at_partial_rescore(spark, sf_dir):
    """rescore=60 of 500 vectors must recover most of the exact top-10:
    sign-bit Hamming tracks angular order (E[ham]/dim = theta/pi)."""
    from letsearch_spark.operators.topk import cosine_topk

    emb = _emb(spark, sf_dir)
    idx = build_signbit_index(emb, dim=64)
    hits = total = 0
    for qid in (0, 7, 123):
        q = emb.where(F.col("_key") == qid).select("vector").collect()[0][0]
        exact = {r["_key"] for r in cosine_topk(emb, q, k=10).collect()}
        got = {r["_key"] for r in hamming_topk(idx, emb, q, k=10, rescore=60).collect()}
        hits += len(exact & got)
        total += len(exact)
    assert hits / total >= 0.5, f"recall {hits}/{total}"


def test_hamming_topk_validation(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    idx = build_signbit_index(emb, dim=64)
    q = [0.1] * 64
    with pytest.raises(ValueError):
        hamming_topk(idx, emb, q, k=0)
    with pytest.raises(ValueError):
        hamming_topk(idx, emb, q, k=101)
    with pytest.raises(ValueError):
        hamming_topk(idx, emb, q, k=10, rescore=5)


def test_hamming_candidates_take_ordered_and_broadcast(spark, sf_dir):
    """Plan gate: stage 1 is TakeOrderedAndProject over the bit-math scan
    (only `rescore` rows ship), stage 2 joins via broadcast -- never a
    shuffle of the corpus keyed by candidate."""
    emb = _emb(spark, sf_dir)
    idx = build_signbit_index(emb, dim=64)
    q = emb.where(F.col("_key") == 0).select("vector").collect()[0][0]
    plan = (
        hamming_topk(idx, emb, q, k=10, rescore=50)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_maxsim_topk_matches_numpy_twin(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    rows = emb.orderBy("_key").collect()
    mat = np.array([r["vector"] for r in rows], dtype=np.float64)
    labels = np.array([r["label"] for r in rows])
    qvecs = [mat[0], mat[1], mat[2]]

    norms = np.linalg.norm(mat, axis=1)
    expected = {}
    for lab in np.unique(labels):
        sub = mat[labels == lab]
        subn = norms[labels == lab]
        score = 0.0
        for q in qvecs:
            score += float(np.max(sub @ q / (subn * np.linalg.norm(q))))
        expected[int(lab)] = score
    order = sorted(expected, key=lambda g: (-expected[g], g))[:5]

    got = maxsim_topk(
        emb, [q.tolist() for q in qvecs], k=5, group_col="label", vec_col="vector"
    ).collect()
    assert [r["label"] for r in got] == order
    for r in got:
        assert r["score"] == pytest.approx(expected[r["label"]], abs=1e-9)
        assert r["n_chunks"] == int((labels == r["label"]).sum())


def test_maxsim_single_vector_is_grouped_cosine_max(spark, sf_dir):
    """With one query vector MaxSim degenerates to max-cosine per group --
    pinned exactly against the same Catalyst expression."""
    from letsearch_spark.functions.vector import cosine_similarity

    emb = _emb(spark, sf_dir)
    q = emb.where(F.col("_key") == 5).select("vector").collect()[0][0]
    direct = {
        r["label"]: r["m"]
        for r in emb.groupBy("label")
        .agg(F.max(cosine_similarity(F.col("vector"), q)).alias("m"))
        .collect()
    }
    got = maxsim_topk(emb, [q], k=10, group_col="label", vec_col="vector").collect()
    assert len(got) == 10
    for r in got:
        assert r["score"] == direct[r["label"]]  # bit-identical, same expr


def test_maxsim_validation_and_null_vectors(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (1, None), (2, None)],
        "doc long, vector array<double>",
    )
    with pytest.raises(ValueError):
        maxsim_topk(df, [], k=5, group_col="doc")
    with pytest.raises(ValueError):
        maxsim_topk(df, [[1.0, 0.0]], k=0, group_col="doc")
    out = maxsim_topk(df, [[1.0, 0.0]], k=5, group_col="doc").collect()
    # doc 2 had only a null vector: no row; doc 1's null dropped from count
    assert [(r["doc"], r["n_chunks"]) for r in out] == [(1, 1)]
    assert out[0]["score"] == 1.0


def test_hamming_knn_join_full_rescore_equals_exact(spark):
    """hamming_knn_join (r7): with rescore >= corpus every key appears
    per query with its exact Hamming distance; the per-partition numpy
    popcount must equal the Catalyst bit_count twin."""
    import numpy as np

    from letsearch_spark.operators.hamming import (
        build_signbit_index,
        hamming_distance_col,
        hamming_knn_join,
        pack_signbits,
    )

    rng = np.random.default_rng(7)
    dim = 48
    vecs = rng.normal(size=(60, dim))
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "`_key` long, vector array<double>",
    )
    idx = build_signbit_index(df, dim=dim).repartition(5)
    queries = spark.createDataFrame(
        [(int(q), vecs[q].tolist()) for q in (3, 41)],
        "query_id long, qvec array<double>",
    )
    out = hamming_knn_join(idx, queries, rescore=1000)
    rows = {(r["query_id"], r["_key"]): r["hamming"] for r in out.collect()}
    assert len(rows) == 120  # every key, both queries
    # Catalyst twin for one query
    qsig = pack_signbits(vecs[3].tolist())
    twin = {
        r["_key"]: r["h"]
        for r in idx.select(
            "_key", hamming_distance_col("_sig", qsig).alias("h")
        ).collect()
    }
    for k, h in twin.items():
        assert rows[(3, k)] == h
    # self-query: distance 0 at rank 1
    r1 = out.where("query_id = 3 AND rank = 1").first()
    assert r1["_key"] == 3 and r1["hamming"] == 0


def test_hamming_knn_join_local_rows_match_dataframe(spark):
    """r11 driver-boundary optimization: hamming_knn_join accepts the
    query set as pre-collected (id, vec) rows -- serving call sites
    already hold the vectors driver-side, so the createDataFrame +
    collect round-trip was a pointless Spark job per call. The two
    forms must produce identical candidates."""
    import numpy as np

    from letsearch_spark.operators.hamming import (
        build_signbit_index,
        hamming_knn_join,
    )

    rng = np.random.default_rng(11)
    dim = 32
    vecs = rng.normal(size=(50, dim))
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "`_key` long, vector array<double>",
    )
    idx = build_signbit_index(df, dim=dim).repartition(3)
    local = [(int(q), vecs[q].tolist()) for q in (7, 22, 48)]
    qdf = spark.createDataFrame(local, "query_id long, qvec array<double>")
    a = {
        (r["query_id"], r["_key"], r["hamming"], r["rank"])
        for r in hamming_knn_join(idx, qdf, rescore=12).collect()
    }
    b = {
        (r["query_id"], r["_key"], r["hamming"], r["rank"])
        for r in hamming_knn_join(idx, local, rescore=12).collect()
    }
    assert a == b and len(a) >= 36  # >= rescore x queries (tie-complete)


def test_raw_serve_frame_memo_invalidated_on_write(spark, tmp_path):
    """r11: _raw_serve_frame memoizes its PLAN (the docs() precedent --
    ~0.3 s of py4j/analysis per hamming call otherwise). The memo must
    be the same object across calls, never a cached dataset (fresh rows
    visible after a write), and must drop on _invalidate_cache so new
    parquet files are picked up."""
    from letsearch_spark.collection import Collection

    root = str(tmp_path / "c")
    c = Collection.create(
        spark, root, name="m", index_columns=["text"], model_name="stub://8"
    )
    df = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], ["doc_id", "text"]
    )
    c.import_df(df)
    c.embed_all()
    f1 = c._raw_serve_frame("text")
    assert c._raw_serve_frame("text") is f1  # memoized plan object
    assert f1.count() == 2
    # a write invalidates: new rows must appear in a REBUILT frame
    extra = spark.createDataFrame([(3, "epsilon zeta")], ["doc_id", "text"])
    pq = str(tmp_path / "extra.parquet")
    extra.write.parquet(pq)
    c.append_parquet(pq)
    c.embed_all()
    f2 = c._raw_serve_frame("text")
    assert f2 is not f1
    assert f2.count() == 3


def test_search_many_hamming_matches_per_query(spark, tmp_path, sf_dir):
    """search_many(strategy='hamming') reproduces per-query
    strategy='hamming' rows and scores exactly; strategy='auto' maps
    through resolve_strategy."""
    import os

    from letsearch_spark.collection import Collection

    c = Collection.create(
        spark, str(tmp_path), name="hb", model_name="stub://16"
    )
    c.import_parquet(os.path.join(sf_dir, "documents.parquet"))
    c.embed_column("text")
    queries = [
        "spark join query window batch",
        "vector index build embed",
        "agg line group hash",
    ]
    batched = c.search_many("text", queries, limit=5, strategy="hamming")
    got = {}
    for r in batched.collect():
        got.setdefault(r["query_idx"], []).append(
            (r["rank"], r["key"], r["score"])
        )
    for i, q in enumerate(queries):
        per = [
            (j + 1, r["key"], r["score"])
            for j, r in enumerate(
                c.search("text", q, limit=5, strategy="hamming").collect()
            )
        ]
        assert got[i] == per, q

    # auto on a small collection -> dense tier; on a shrunken exact
    # ceiling -> the hamming tier, same rows as explicit
    assert c.resolve_strategy("text") == "join"
    old = c.auto_exact_max_rows
    try:
        c.auto_exact_max_rows = 1
        assert c.resolve_strategy("text") == "hamming"
        auto = c.search_many("text", queries[:1], limit=5, strategy="auto")
        explicit = c.search_many(
            "text", queries[:1], limit=5, strategy="hamming"
        )
        assert [tuple(r) for r in auto.collect()] == [
            tuple(r) for r in explicit.collect()
        ]
    finally:
        c.auto_exact_max_rows = old


def test_hamming_index_persists_and_refreshes(spark, tmp_path, sf_dir):
    """r7: the signature parquet persists and refreshes at batch cost --
    append computes ONLY the new keys' signatures (exact at any
    fraction, no quantizer), a restart reuses it, a full re-embed
    drops it (stale-vector guard), tombstones don't force a rebuild,
    and a purge removes the doomed signatures from disk."""
    import os

    from letsearch_spark.collection import Collection

    root = str(tmp_path / "root")
    c = Collection.create(spark, root, name="hp", model_name="stub://16")
    c.import_parquet(os.path.join(sf_dir, "documents.parquet"))
    c.embed_column("text")

    assert c.refresh_hamming_index("text") == "built"
    assert c.refresh_hamming_index("text") == "current"
    path = c.hamming_path("text")
    n0 = spark.read.parquet(path).count()

    # first search builds the cache FROM the parquet (refresh: current)
    target = "an unmistakably unique sentence about comet tail dust"
    c.add_chunks([target], column="text")
    c.embed_column("text", incremental=True)
    assert c.refresh_hamming_index("text") == "appended"
    assert spark.read.parquet(path).count() == n0 + 1
    # rescore >= corpus is the provably-exact regime: the assertion
    # then proves the appended signature row actually serves (at the
    # default rescore it ALSO passes thanks to mean-centering -- pinned
    # separately below -- but exactness keeps this invariant unflaky)
    c.hamming_rescore = 10_000
    hit = c.search("text", target, limit=1, strategy="hamming").first()
    assert hit["content"] == target
    # mean-centered signatures keep the tier useful on non-centered
    # embedding families (stub vectors are all-non-negative: zero-
    # thresholded sign bits would be IDENTICAL for every row and the
    # candidate stage would degenerate to key order, losing this very
    # query at the default rescore)
    c.hamming_rescore = 100
    hit = c.search("text", target, limit=1, strategy="hamming").first()
    assert hit["content"] == target
    c.hamming_rescore = 10_000

    # restart: a fresh Collection reuses the persisted signatures
    c2 = Collection.load(spark, root, "hp")
    assert c2.refresh_hamming_index("text") == "current"

    # tombstone delete: the sidecar is NOT drift (probes filter)
    victim = c.docs().orderBy("_key").first()
    assert c.delete_where(f"_key = {victim['_key']}") == 1
    assert c.refresh_hamming_index("text") == "current"
    hits = c.search("text", victim["text"], limit=5, strategy="hamming").collect()
    assert all(h["key"] != victim["_key"] for h in hits)
    # ...but the signature bytes are still on disk until a purge
    assert (
        spark.read.parquet(path).where(F.col("_key") == victim["_key"]).count()
        == 1
    )
    assert c.delete_where(f"_key = {victim['_key'] + 1}", mode="purge") == 1
    gone = {victim["_key"], victim["_key"] + 1}
    assert (
        spark.read.parquet(path).where(F.col("_key").isin(*gone)).count() == 0
    )
    assert c.refresh_hamming_index("text") == "current"

    # full re-embed may change vectors behind existing keys: the
    # signature parquet is dropped and rebuilds
    c.embed_column("text", incremental=False)
    assert not os.path.exists(path)
    assert c.refresh_hamming_index("text") == "built"


def test_hamming_refresh_recenters_past_fraction(spark, tmp_path, sf_dir):
    """Review r7: the frozen center is statistical -- once appends
    exceed hamming_recenter_fraction the refresh must REBUILD
    (recompute the mean) instead of appending forever under a stale
    center; and building/refreshing must not materialize the float
    serve cache (the memory-play invariant)."""
    import os

    from letsearch_spark.collection import Collection

    c = Collection.create(spark, str(tmp_path), name="rc", model_name="stub://16")
    c.import_parquet(os.path.join(sf_dir, "documents.parquet"))
    c.embed_column("text")
    assert c.refresh_hamming_index("text") == "built"
    # the build must NOT have cached the float serve view
    assert ("text", "serve") not in c._memo
    c.search("text", "probe", limit=3, strategy="hamming").collect()
    assert ("text", "serve") not in c._memo

    # small append: frozen center, 'appended'
    c.add_chunks(["one new doc"], column="text")
    c.embed_column("text", incremental=True)
    assert c.refresh_hamming_index("text") == "appended"

    # large append (> recenter fraction of the index): 'rebuilt'
    c.hamming_recenter_fraction = 0.001
    c.add_chunks(["another new doc entirely"], column="text")
    c.embed_column("text", incremental=True)
    assert c.refresh_hamming_index("text") == "rebuilt"
    assert c.refresh_hamming_index("text") == "current"


def test_maxsim_topk_many_matches_per_query(spark, sf_dir):
    """Batched MaxSim (r8): maxsim_topk_many over 3 multi-vector
    queries must equal per-query maxsim_topk row-for-row and
    score-for-score (same cosine literals, same fixed-order sums, same
    tie-breaks), with the per-partition candidate prune provably
    lossless at this scale."""
    import os

    from pyspark.sql import functions as F

    from letsearch_spark.operators.pool import maxsim_topk, maxsim_topk_many

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    vecs = [
        r["embedding"]
        for r in emb.where(F.col("vec_id") < 6).orderBy("vec_id").collect()
    ]
    qsets = [vecs[0:2], vecs[2:5], vecs[5:6]]
    many = maxsim_topk_many(
        emb.repartition(7),
        qsets,
        k=5,
        group_col="label",
        vec_col="embedding",
        best_key_col="vec_id",
    ).collect()
    for i, qs in enumerate(qsets):
        one = maxsim_topk(
            emb, qs, k=5, group_col="label", vec_col="embedding",
            best_key_col="vec_id",
        ).collect()
        got = [r for r in many if r["query_idx"] == i]
        assert [
            (r["group"], r["score"], r["n_chunks"], r["best_key"])
            for r in got
        ] == [
            (r["label"], r["score"], r["n_chunks"], r["best_key"])
            for r in one
        ]
        assert [r["rank"] for r in got] == list(range(1, len(one) + 1))

    import pytest

    with pytest.raises(ValueError, match="non-empty"):
        maxsim_topk_many(emb, [vecs[0:1], []], group_col="label",
                         vec_col="embedding")
    with pytest.raises(ValueError, match="plan literal"):
        maxsim_topk_many(
            emb, [[vecs[0]] * 300], group_col="label", vec_col="embedding"
        )


def test_search_many_multi_matches_search_multi(spark, tmp_path, sf_dir):
    """Collection.search_many_multi == per-query search_multi, key for
    key, score for score, through the full serving contract (embed +
    group column + content fetch-back)."""
    import os

    from pyspark.sql import functions as F

    from letsearch_spark.collection import Collection

    c = Collection.create(
        spark, str(tmp_path), name="mm", model_name="stub://16"
    )
    c.import_parquet(os.path.join(sf_dir, "documents.parquet"))
    c.embed_column("text")
    c.serve_filter_columns = ["lang"]
    qsets = [
        ["spark join window", "dedup minhash"],
        ["stream state"],
        ["pack tokens shard", "quality gopher", "bloom filter"],
    ]
    many = c.search_many_multi(
        "text", qsets, limit=4, group_col="lang"
    ).collect()
    for i, qs in enumerate(qsets):
        one = c.search_multi("text", qs, limit=4, group_col="lang").collect()
        got = [r for r in many if r["query_idx"] == i]
        assert [
            (r["group"], r["key"], r["content"], r["score"], r["n_chunks"])
            for r in got
        ] == [tuple(r) for r in one]


def test_maxsim_unique_groups_bit_identical(spark, sf_dir):
    """r9 degenerate-group fast path: unique_groups=True (skips the
    stage-1 groupBy) must be bit-identical to the grouped path when
    every group really is one row -- same fixed-order float sums, same
    tie-breaks, same best_key -- for both the per-query and the
    batched operator."""
    from letsearch_spark.operators.pool import maxsim_topk, maxsim_topk_many

    emb = _emb(spark, sf_dir)
    rows = emb.orderBy("_key").limit(3).collect()
    qsets = [
        [rows[0]["vector"], rows[1]["vector"]],
        [rows[2]["vector"]],
    ]
    kw = dict(k=7, group_col="_key", vec_col="vector", best_key_col="_key")
    slow = maxsim_topk(emb, qsets[0], **kw).collect()
    fast = maxsim_topk(emb, qsets[0], unique_groups=True, **kw).collect()
    assert [tuple(r) for r in fast] == [tuple(r) for r in slow]
    assert all(r["n_chunks"] == 1 and r["best_key"] == r["_key"] for r in fast)

    slow_m = maxsim_topk_many(emb, qsets, **kw).collect()
    fast_m = maxsim_topk_many(emb, qsets, unique_groups=True, **kw).collect()
    assert [tuple(r) for r in fast_m] == [tuple(r) for r in slow_m]


def test_maxsim_many_nan_scores_raise(spark):
    """ADVICE r8: NaN sorts last in the pandas prune but greatest in
    Spark's orderBy -- instead of silently breaking batched==per-query
    parity, the prune must raise on non-finite scores."""
    from letsearch_spark.operators.pool import maxsim_topk_many

    df = spark.createDataFrame(
        [(1, [float("nan"), 1.0]), (2, [1.0, 0.0])],
        "_key long, vector array<double>",
    )
    with pytest.raises(Exception, match="non-finite"):
        maxsim_topk_many(
            df, [[[1.0, 0.0]]], k=5, group_col="_key", vec_col="vector",
            unique_groups=True,
        ).collect()


def test_maxsim_pool_index_persists_and_refreshes(spark, tmp_path):
    """r10 (VERDICT r9 #1): the grouped-MaxSim pooled-centroid sidecar
    persists, refreshes at batch cost on ANY live-count change (new
    group, new chunk behind an EXISTING group, tombstone, last-chunk
    delete), survives a restart, and is dropped by a full re-embed
    (the stale-vector guard). A refresh that re-pools only the touched
    groups is bit-identical to a from-scratch rebuild (fixed-point
    pooling is order-independent), and a NULL group is a first-class
    sidecar row throughout."""
    from letsearch_spark.collection import Collection

    root = str(tmp_path / "root")
    c = Collection.create(spark, root, name="mp", model_name="stub://16")
    rows = spark.createDataFrame(
        [
            ("spark join window", "a"),
            ("dedup minhash band", "a"),
            ("stream state store", None),
            ("bloom filter probe", "b"),
        ],
        "text string, grp string",
    )
    c.import_df(rows)
    c.embed_all()
    c.serve_filter_columns = ["grp"]

    assert c.refresh_maxsim_pool_index("text", "grp") == "built"
    assert c.refresh_maxsim_pool_index("text", "grp") == "current"
    path = c.maxsim_pool_path("text", "grp")
    before = {
        r["grp"]: (tuple(r["_pv"]), r["n_vecs"])
        for r in spark.read.parquet(path).collect()
    }
    assert set(before) == {"a", "b", None}
    assert before["a"][1] == 2  # pooled over BOTH of a's chunks

    # append a chunk to an EXISTING group + a brand-new group: the
    # count diff re-pools only the touched groups
    c._append_df(
        spark.createDataFrame(
            [("pack tokens shard", "a"), ("sessionize events", "c")],
            "text string, grp string",
        )
    )
    c.embed_column("text", incremental=True)
    assert c.refresh_maxsim_pool_index("text", "grp") == "refreshed"
    after = {
        r["grp"]: (tuple(r["_pv"]), r["n_vecs"])
        for r in spark.read.parquet(path).collect()
    }
    assert after["a"][1] == 3 and after["c"][1] == 1
    assert after["b"] == before["b"]  # untouched groups copied verbatim
    assert after[None] == before[None]
    assert after["a"][0] != before["a"][0]  # the mean actually moved

    # bit-identity with a from-scratch rebuild
    c._fs_delete(path)
    assert c.refresh_maxsim_pool_index("text", "grp") == "built"
    rebuilt = {
        r["grp"]: (tuple(r["_pv"]), r["n_vecs"])
        for r in spark.read.parquet(path).collect()
    }
    assert rebuilt == after

    # a restart reuses the persisted sidecar
    c2 = Collection.load(spark, root, "mp")
    assert c2.refresh_maxsim_pool_index("text", "grp") == "current"

    # tombstone delete moves a group's live count -> re-pool
    victim = c.docs().where(F.col("grp") == "a").orderBy("_key").first()
    assert c.delete_where(f"_key = {victim['_key']}") == 1
    assert c.refresh_maxsim_pool_index("text", "grp") == "refreshed"
    counts = {
        r["grp"]: r["n_vecs"] for r in spark.read.parquet(path).collect()
    }
    assert counts["a"] == 2

    # deleting a group's LAST chunk drops its sidecar row (the NULL
    # group must survive the drop logic untouched)
    assert c.delete_where("grp = 'c'") == 1
    assert c.refresh_maxsim_pool_index("text", "grp") == "refreshed"
    grps = {r["grp"] for r in spark.read.parquet(path).collect()}
    assert "c" not in grps and None in grps

    # full re-embed may change vectors behind existing keys: the
    # sidecar is dropped and rebuilds
    c.embed_column("text", incremental=False)
    assert not os.path.exists(path)
    assert c.refresh_maxsim_pool_index("text", "grp") == "built"
