"""ANN quality gate: the multi-table hyperplane LSH path must keep
recall against the exact brute-force baseline (deterministic planes +
data → deterministic recall)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pg_lake_spark.operators import similarity
from tests.conftest import SF_DIR


def test_lsh_topk_recall_floor(spark):
    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    q = emb.filter(F.col("vec_id") < 20)
    exact = similarity.brute_force_topk(emb, q, id_col="vec_id", vec_col="embedding", k=5)
    approx = similarity.lsh_topk(emb, q, id_col="vec_id", vec_col="embedding", dim=64, k=5)
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    a = {(r.query_id, r.vec_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # random vectors are the worst case for LSH (neighbors at cos≈0.5);
    # 0.7 is just under the measured 0.77 at the default L=16, r=5
    assert recall >= 0.7, f"LSH recall degraded: {recall:.2f}"


def test_lsh_subset_of_corpus_ids(spark):
    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    q = emb.filter(F.col("vec_id") < 5)
    out = similarity.lsh_topk(emb, q, id_col="vec_id", vec_col="embedding", dim=64, k=3)
    rows = out.collect()
    assert all(r.rank <= 3 for r in rows)
    assert all(r.query_id != r.vec_id for r in rows)


def test_ivf_full_probe_is_exact(spark):
    """n_probe = n_centroids degenerates IVF to exact brute force."""
    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    qs = emb.filter(F.col("vec_id") < 8)
    exact = similarity.brute_force_topk(emb, qs, k=5)
    full = similarity.ivf_topk(
        emb, qs, k=5, n_centroids=8, n_probe=8, train_iters=2
    )
    assert sorted(map(tuple, exact.collect())) == sorted(map(tuple, full.collect()))


def test_ivf_partial_probe_recall(spark):
    """Partial probing keeps high recall at a fraction of the work (the
    IVF contract); training is deterministic so the bound is stable."""
    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    qs = emb.filter(F.col("vec_id") < 8)
    exact = similarity.brute_force_topk(emb, qs, k=5)
    part = similarity.ivf_topk(
        emb, qs, k=5, n_centroids=8, n_probe=3, train_iters=2
    )
    want = {(r.query_id, r.vec_id) for r in exact.collect()}
    got = {(r.query_id, r.vec_id) for r in part.collect()}
    assert len(got & want) / len(want) >= 0.7


def test_ivf_reuses_pretrained_centroids(spark):
    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    cents = similarity.train_ivf_centroids(emb, n_centroids=4, iters=1)
    assert len(cents) == 4 and all(len(c) == 64 for c in cents)
    qs = emb.filter(F.col("vec_id") < 3)
    out = similarity.ivf_topk(emb, qs, k=3, centroids=cents, n_probe=4)
    assert out.count() == 9


def test_connected_components_chain_and_islands(spark):
    """Min-label propagation closes chains longer than one hop and keeps
    disjoint components apart."""
    from pg_lake_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "id_a bigint, id_b bigint",
    )
    got = {r.id: r.component for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_semantic_dedup_keeps_lowest_id_per_group(spark):
    """Three identical vectors (cosine 1.0) collapse to the lowest id;
    an orthogonal vector survives; output keeps original columns."""
    from pg_lake_spark.operators.similarity import semantic_dedup

    v1 = [1.0, 0.0, 0.0, 0.0] * 16
    v2 = [0.0, 1.0, 0.0, 0.0] * 16
    rows = [(1, v1, 0), (2, v1, 0), (3, v1, 0), (4, v2, 1)]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    out = semantic_dedup(
        df, "vec_id", "embedding", dim=64, threshold=0.9, n_planes=2
    )
    got = sorted(r.vec_id for r in out.collect())
    assert got == [1, 4]
    assert set(out.columns) == {"vec_id", "embedding", "label"}


def test_semantic_dedup_string_ids(spark):
    """ADVICE r10: the _drop schema follows the caller's id type —
    string/uuid ids must work (hard-coded 'long' crashed in the
    Arrow worker). Keep-lowest = lexicographic for strings."""
    from pg_lake_spark.operators.similarity import semantic_dedup

    v1 = [1.0, 0.0] * 32
    v2 = [0.0, 1.0] * 32
    rows = [("doc-a", v1), ("doc-b", v1), ("doc-c", v2)]
    df = spark.createDataFrame(rows, "doc_id string, emb array<float>")
    out = semantic_dedup(
        df, "doc_id", "emb", dim=64, threshold=0.9, n_planes=1
    )
    assert sorted(r.doc_id for r in out.collect()) == ["doc-a", "doc-c"]


def test_ivf_probe_tiebreak_matches_assignment(spark):
    """r14 review: with DUPLICATE centroids (possible under Forgy init
    on a corpus with repeated embeddings), assignment puts members in
    the LOWEST-index twin; the query probe order must break score ties
    the same way or n_probe=1 probes the empty twin and misses every
    neighbor."""
    from pyspark.sql import functions as F

    # two identical centroids passed explicitly; all corpus vectors sit
    # near them, so every vector is assigned to index 0 (first max)
    cents = [[1.0, 0.0], [1.0, 0.0], [0.0, 1.0]]
    rows = [(i, [1.0, 0.01 * i]) for i in range(10)]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    qs = emb.filter(F.col("vec_id") == 0)
    out = similarity.ivf_topk(
        emb, qs, k=3, n_probe=1, centroids=cents
    ).collect()
    assert len(out) == 3, "query probed the empty duplicate list"
    assert all(r.query_id == 0 and r.vec_id != 0 for r in out)


def test_streaming_band_keys_drop_null_text(spark):
    """r14 review: NULL text must emit NO band keys (batch parity — the
    batch pipeline's explode drops NULL-shingle docs); before the fix
    every null-text doc funneled into one md5('') mega-bucket. Short
    text keeps its whole-text shingle on both paths."""
    from pg_lake_spark.streaming.neardup import streaming_band_keys

    df = spark.createDataFrame(
        [(1, None), (2, "a"), (3, "one two three four five")],
        "doc_id bigint, text string",
    )
    out = streaming_band_keys(df, "doc_id", "text", shingle_n=3)
    assert {r._id for r in out.collect()} == {2, 3}


def test_neardup_pairs_string_ids_and_zero_norm(spark):
    """cosine_neardup_pairs hard-coded int64 ids (string/uuid ids
    crashed in the Arrow worker — same defect semantic_dedup was fixed
    for) and divided by zero norms (NaN rows) — r15 review."""
    from pg_lake_spark.operators.similarity import cosine_neardup_pairs

    df = spark.createDataFrame(
        [
            ("doc-a", [1.0, 0.0]),
            ("doc-b", [1.0, 0.0]),
            ("doc-z", [0.0, 0.0]),  # zero vector must not NaN the batch
        ],
        "doc_id string, emb array<double>",
    )
    pairs = cosine_neardup_pairs(
        df, "doc_id", "emb", threshold=0.99, n_blocks=2
    ).collect()
    assert [(r.id_a, r.id_b) for r in pairs] == [("doc-a", "doc-b")]


def test_rank_topk_shared_tiebreak(spark):
    """One ranking definition across similarity/quantization: ties
    break toward the LOWEST id."""
    from pg_lake_spark.operators.similarity import rank_topk

    scored = spark.createDataFrame(
        [(1, 7, 0.5), (1, 3, 0.5), (1, 9, 0.4)],
        "query_id int, vec_id int, cos_sim double",
    )
    rows = rank_topk(scored, 2, id_col="vec_id").collect()
    assert [(r.vec_id, r.rank) for r in rows] == [(3, 1), (7, 2)]


def test_bucket_kernel_nan_matches_jvm_semantics(spark):
    """r16 ADVICE: Spark orders NaN above every double, so the JVM
    path's ``dot >= 0`` is TRUE for a NaN dot; the Arrow kernel must
    set the same sign bits (``~(acc < 0)``), not clear them
    (``acc >= 0`` is false for NaN in NumPy). Differential: a
    NaN-component vector gets identical buckets from the kernel and
    from the hyperplane_bucket Column expression."""
    from pyspark.sql import functions as F

    from pg_lake_spark.operators.similarity import (
        _plane_values,
        _table_buckets_udf,
        hyperplane_bucket,
    )

    dim, n_planes, n_tables = 8, 5, 3
    rows = [
        (1, [float("nan")] * dim),          # all-NaN: every dot NaN
        (2, [1.0] * (dim - 1) + [float("nan")]),  # one NaN component
        (3, [0.5, -1.5, 2.0, -0.25, 1.0, 3.0, -2.0, 0.125]),  # clean
        (4, None),                           # NULL vector
        (5, [1.0, 2.0]),                     # wrong length
    ]
    df = spark.createDataFrame(rows, "vec_id int, v array<double>")

    planes = [
        _plane_values(dim, n_planes, seed=t * n_planes, spark=spark)
        for t in range(n_tables)
    ]
    assert all(p is not None for p in planes)
    kernel = _table_buckets_udf(planes)
    got_kernel = {
        r["vec_id"]: r["b"]
        for r in df.select("vec_id", kernel(F.col("v")).alias("b")).collect()
    }
    # Column path: when(NULL >= 0) -> 0; wrong-length vectors dot with
    # index-aligned zip_with semantics — mirror lsh_topk's contract by
    # checking only that both paths agree per table.
    jvm_cols = [
        F.coalesce(
            hyperplane_bucket(F.col("v"), dim, n_planes, seed=t * n_planes),
            F.lit(0),
        ).alias(f"b{t}")
        for t in range(n_tables)
    ]
    got_jvm = {
        r["vec_id"]: [r[f"b{t}"] for t in range(n_tables)]
        for r in df.select("vec_id", *jvm_cols).collect()
    }
    for vid in (1, 2, 3):
        assert got_kernel[vid] == got_jvm[vid], (
            f"vec {vid}: kernel {got_kernel[vid]} != jvm {got_jvm[vid]}"
        )
    # NULL stays bucket-0 on the kernel path (the documented contract)
    assert got_kernel[4] == [0] * n_tables


@pytest.mark.parametrize("n_blocks", [1, 2, 3, 5])
def test_neardup_pairs_equal_numpy_all_pairs(spark, n_blocks):
    """Every unordered block pair is generated exactly once, whatever
    the block count: the pairs equal a numpy brute-force all-pairs
    search over the same vectors (float32 → float64, as the operator
    casts)."""
    import numpy as np
    import pyarrow.parquet as pq

    from pg_lake_spark.operators.similarity import cosine_neardup_pairs

    path = os.path.join(SF_DIR, "embeddings.parquet")
    t = pq.read_table(path, columns=["vec_id", "embedding"])
    ids = t.column("vec_id").to_numpy()
    v = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    sims = v @ v.T
    thr = 0.3
    ai, bi = np.nonzero(np.triu(sims >= thr, k=1))
    want = {(min(ids[a], ids[b]), max(ids[a], ids[b])): sims[a, b] for a, b in zip(ai, bi)}

    got = {
        (r.id_a, r.id_b): r.cos_sim
        for r in cosine_neardup_pairs(
            spark.read.parquet(path), "vec_id", "embedding", threshold=thr, n_blocks=n_blocks
        ).collect()
    }
    assert len(want) > 100
    assert got.keys() == want.keys()
    assert all(abs(got[k] - want[k]) < 1e-9 for k in want)


def test_neardup_pairs_plan_has_no_broadcast_or_python_scan(spark):
    """Block pairs come from a per-row explode in the JVM: no broadcast
    join against a driver-built pair list, and no Python-RDD scan."""
    from pg_lake_spark.queries import QUERIES

    df = QUERIES["dd_embedding_neardup"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan
    assert "BroadcastExchange" not in plan
    assert "ExistingRDD" not in plan
