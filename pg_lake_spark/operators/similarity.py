"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — a broadcast join of the (small)
query set against the corpus with a JVM-side dot product
(``zip_with`` + ``aggregate``), then a per-query top-k window. No
Python, no driver materialization: at 100 TB the corpus side stays
partitioned and the only shuffle is the final per-query top-k.

Scale path: LSH bucketing via random hyperplanes (SimHash for vectors) —
sign bits of dot products against shared deterministic hyperplanes form
a bucket key; candidates only compare within a bucket. Hyperplanes are
derived from the vector index (deterministic, no RNG) so results are
reproducible and oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def dot(a: Column, b: Column) -> Column:
    """JVM-side dot product of two array<double> columns."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def rank_topk(
    scored: DataFrame,
    k: int,
    *,
    id_col: str,
    score_col: str = "cos_sim",
    query_col: str = "query_id",
) -> DataFrame:
    """Per-query top-k on (score desc, id asc) — THE tie-break contract
    every ANN entry point shares. One definition: four verbatim copies
    across similarity/quantization were one tie-break fix away from
    drifting (r15 review)."""
    w = Window.partitionBy(query_col).orderBy(
        F.col(score_col).desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy(query_col, "rank")
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k for each query vector.

    Output: (query_id, vec_id, cos_sim, rank) — self-matches excluded.
    ``queries`` is broadcast (assumed small); the corpus is scanned once.
    """
    # Norms are hoisted OUT of the pair loop (r16, guide §2.3/§4): the
    # naive cosine(q, c) recomputes sqrt(Σq²) and sqrt(Σc²) per PAIR
    # inside an interpreted higher-order expression — |Q|× per corpus
    # row and |C|× per query row. Computing each norm once per row
    # before the join leaves only the dot product per pair (≈3× less
    # interpreted array work). Float-identical: dot/(qn·cn) evaluates
    # the exact same operations in the same order, just cached.
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qvec")
    ).withColumn("_qn", l2_norm(F.col("qvec")))
    c = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("cvec")
    ).withColumn("_cn", l2_norm(F.col("cvec")))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            id_col,
            (dot(F.col("qvec"), F.col("cvec")) / (F.col("_qn") * F.col("_cn"))).alias(
                "cos_sim"
            ),
        )
    )
    return rank_topk(scored, k, id_col=id_col)


#: (dim, n_planes, seed) -> list of plane component lists, evaluated
#: ONCE by the JVM (see _plane_values). Bounded: a session uses a
#: handful of (dim, seed) combinations.
_PLANE_CACHE: dict[tuple, list] = {}


def _plane_values(dim: int, n_planes: int, seed: int, spark=None) -> list | None:
    """Hyperplane components as Python doubles, computed ONCE by the
    SAME JVM expression the per-row path would evaluate (r16, guide
    §2.3/§1.2): the plane arrays are constants — sin over a literal
    sequence — but Catalyst does not constant-fold higher-order
    lambdas, so every row re-evaluated dim·n_planes sin() calls
    (sim_lsh_topk: 16 tables × 5 planes × 64 dims = 5,120 interpreted
    sin per corpus row — measured 16.8s at sf0.1). Evaluating the
    identical expression once via spark.sql and embedding the results
    as array literals is bit-identical by construction: same JVM sin,
    same operation order, exact binary round-trip through collect.
    Returns None when no active session exists (caller falls back to
    the inline expression)."""
    key = (dim, n_planes, seed)
    vals = _PLANE_CACHE.get(key)
    if vals is None:
        from pyspark.sql import SparkSession

        spark = spark or SparkSession.getActiveSession()
        if spark is None:
            return None
        exprs = ", ".join(
            "transform(sequence(0, {last}), j -> sin({freq!r}D * (j + 1.0D) + 78.233D))".format(
                last=dim - 1, freq=(seed + p + 1) * 12.9898
            )
            for p in range(n_planes)
        )
        row = spark.sql(f"SELECT {exprs}").first()
        vals = [list(row[p]) for p in range(n_planes)]
        _PLANE_CACHE[key] = vals
    return vals


def hyperplane_bucket(vec: Column, dim: int, n_planes: int = 8, seed: int = 0) -> Column:
    """Deterministic random-hyperplane LSH bucket id (0 .. 2^n_planes-1).

    Plane p's component j is sin(freq·(j+1) + 78.233) with
    freq = (seed + p + 1)·12.9898 — a fixed pseudo-random sequence
    identically computable in any engine (no RNG state; the SQL oracles
    in queries/datapipe.py replay exactly this formula — the docstring
    previously described an ABANDONED cos(seed + p·dim + j) variant,
    which would give 0% bucket overlap to anyone re-implementing from
    it; r15 review). Distinct seeds give independent hash tables. The
    bucket is the integer formed by the sign bits of vec·plane.
    """
    def plane_fn(freq: float):
        # single-arg lambda (two-arg would become (element, index));
        # sin(freq*(j+1) + 78.233) components measured as good as true
        # gaussian planes (recall parity on the test corpus) while the
        # shifted-cos variant's cross-table correlation cost ~20 recall
        # points — the shift of a cosine is the same curve, so tables
        # were not independent.
        return lambda j: F.sin(freq * (j + F.lit(1.0)) + F.lit(78.233))

    # The planes are constants, but Catalyst does not fold higher-order
    # lambdas — the inline form re-evaluates dim sin() calls per plane
    # PER ROW. Pre-evaluate each plane once through the same JVM
    # expression (bit-identical; see _plane_values) and embed it as an
    # array literal; the per-row work is then just the dot product.
    vals = _plane_values(dim, n_planes, seed)
    bits = []
    for p in range(n_planes):
        if vals is not None:
            plane = F.array(*[F.lit(v) for v in vals[p]])
        else:
            plane = F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)), plane_fn((seed + p + 1) * 12.9898)
            )
        bits.append(
            F.when(dot(vec, plane) >= 0, F.lit(1 << p)).otherwise(F.lit(0))
        )
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def _table_buckets_udf(planes_tables: list):
    """One Arrow kernel computing EVERY table's hyperplane bucket id
    per vector (r16, guide §4.2): the Column form evaluated
    n_tables·n_planes interpreted dot products — dim element-lambda
    ops each — per ROW (sim_lsh_topk: 5,120 interpreted ops/row even
    with literal planes). Here the batch stacks into one matrix and
    each plane's dot accumulates dimension-by-dimension in the SAME
    left-to-right order as the JVM's ``aggregate`` fold (one IEEE mult
    + one IEEE add per step), so every dot — and therefore every sign
    bit and bucket id — is bit-identical to the Column form. NULL / a
    length-mismatched vector yields bucket 0 in every table, exactly
    like the Column form's ``when(NULL >= 0).otherwise(0)``; a NaN
    dot SETS the bit on both paths — Spark's comparison semantics order
    NaN above every value, so the JVM's ``dot >= 0`` is true, and the
    kernel mirrors that with ``~(acc < 0)`` (NaN < 0 is false in NumPy)
    rather than ``acc >= 0`` (which is false for NaN — the r16 ADVICE
    divergence).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    mats = [np.asarray(t, dtype=np.float64) for t in planes_tables]
    dim = mats[0].shape[1]
    n_tables = len(mats)

    # no type annotations: the module's postponed-annotation mode turns
    # them into strings pandas_udf cannot resolve from a closure scope;
    # the explicit returnType + default SCALAR eval type suffice
    @pandas_udf(T.ArrayType(T.IntegerType()))
    def k_buckets(vs):
        n = len(vs)
        zeros = [0] * n_tables
        out = [zeros] * n
        rows, idxs = [], []
        for i, v in enumerate(vs):
            if v is not None and len(v) == dim:
                rows.append(np.asarray(v, dtype=np.float64))
                idxs.append(i)
        if rows:
            V = np.stack(rows)  # (m, dim)
            m = V.shape[0]
            res = np.zeros((m, n_tables), dtype=np.int64)
            for t, P in enumerate(mats):  # P: (n_planes, dim)
                acc = np.zeros((P.shape[0], m))
                for j in range(dim):  # sequential fold == JVM aggregate order
                    acc += P[:, j][:, None] * V[:, j][None, :]
                bits = ~(acc < 0)  # NaN sets the bit, like Spark's >= 0
                res[:, t] = (
                    bits * (1 << np.arange(P.shape[0], dtype=np.int64))[:, None]
                ).sum(axis=0)
            for r, i in enumerate(idxs):
                out[i] = [int(x) for x in res[r]]
        return pd.Series(out, dtype=object)

    return k_buckets


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    k: int = 10,
    n_planes: int = 5,
    n_tables: int = 16,
) -> DataFrame:
    """Approximate top-k: compare only within matching hyperplane buckets.

    Multi-table LSH: ``n_tables`` independent hash tables, each with its
    own ``n_planes`` hyperplanes; a corpus vector is a candidate if it
    shares a bucket with the query in ANY table — recall 1-(1-p^r)^L
    while the work stays a bucket-equi-join (L-fold explode, no cross
    join). Defaults measured on the sf0.01 corpus: recall@5 = 0.77 at
    ~40% candidate fraction — near the true-gaussian-plane ceiling for
    RANDOM vectors, whose neighbors sit at cosine ≈ 0.5; on real
    embedding corpora (near-dups at cosine ≥ 0.9, p per plane ≈ 0.9)
    the same config reaches ≈ 1-(1-0.9^5)^16 ≈ 1.0 recall with a far
    smaller candidate fraction.
    """

    # All table buckets come from ONE Arrow kernel call per row (see
    # _table_buckets_udf — bit-identical to the Column form), then
    # posexplode assigns (tbl = position, bkt = element), exactly the
    # (t, bucket_t) pairs the old per-table struct explode produced.
    planes = [
        _plane_values(dim, n_planes, seed=t * n_planes, spark=corpus.sparkSession)
        for t in range(n_tables)
    ]
    if all(p is not None for p in planes):
        bucketer = _table_buckets_udf(planes)

        def tabled(df, vcol: str, keep: list[str]):
            return df.select(
                *keep, F.posexplode(bucketer(F.col(vcol))).alias("tbl", "bkt")
            )
    else:  # no active session for plane pre-evaluation — Column path

        def tabled(df, vcol: str, keep: list[str]):
            tb = F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("tbl"),
                            hyperplane_bucket(
                                F.col(vcol), dim, n_planes, seed=t * n_planes
                            ).alias("bkt"),
                        )
                        for t in range(n_tables)
                    ]
                )
            )
            return df.withColumn("tb", tb).select(*keep, "tb.tbl", "tb.bkt")

    # norms hoisted out of the per-candidate score, computed once per
    # source row BEFORE the table explode / bucket join (r16; same
    # float-identical rewrite as brute_force_topk — see its comment)
    c = tabled(
        corpus.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("cvec"))
        .withColumn("_cn", l2_norm(F.col("cvec"))),
        "cvec",
        [id_col, "cvec", "_cn"],
    )
    q = tabled(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qvec")
        ).withColumn("_qn", l2_norm(F.col("qvec"))),
        "qvec",
        ["query_id", "qvec", "_qn"],
    )
    cand = (
        c.join(q, ["tbl", "bkt"])
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", id_col, "qvec", "cvec", "_qn", "_cn")
    )
    # score BEFORE deduping: duplicate candidates (found by several
    # tables) score identically, so distinct on the scalar rows moves
    # ~24 B/row through the exchange instead of both embedding arrays
    # (~2xdim doubles per candidate; r15 review)
    scored = cand.select(
        "query_id",
        id_col,
        (dot(F.col("qvec"), F.col("cvec")) / (F.col("_qn") * F.col("_cn"))).alias("cos_sim"),
    ).distinct()
    return rank_topk(scored, k, id_col=id_col)


def cosine_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    threshold: float = 0.9,
    n_blocks: int | None = None,
    task_mem_bytes: int = 256 << 20,
    n_rows: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cos_sim ≥ t).

    Exact all-pairs search as a *distributed* block matrix product:
    rows hash into ``n_blocks`` blocks; each of the B(B+1)/2 unordered
    block pairs becomes one ``applyInPandas`` group that runs a single
    BLAS gemm between its two blocks. Each row expands to its block
    pairs in the JVM — no driver-side pair list and no Python before
    the gemm; replication is O(N·B) rows through one shuffle, and
    per-task memory is two blocks (≈ 2N/B vectors), so ``n_blocks``
    tunes corpus size against executor memory. The gemm is ~100× faster
    than a per-pair ``zip_with`` dot product (34 s → <1 s on 2k×64 at
    sf0.1).

    For corpora where even O(N²/B²) per-pair work is too much, run
    :func:`lsh_topk`'s hyperplane bucketing first and verify only
    bucket-mates — this exact kernel is then the per-bucket verifier.
    """
    import math

    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    if n_blocks is None:
        # Memory model: a gemm task holds two blocks ≈ 2·(N/B)·dim·8 B,
        # so B_mem = ceil(2·N·dim·8 / task_mem_bytes) bounds per-task
        # memory regardless of corpus size; B_par keeps B(B+1)/2 block
        # pairs ≥ the cluster's parallelism so the stage isn't capped at
        # a handful of tasks (the r2 finding: fixed B=4 ⇒ max 10 tasks).
        # Replication cost is O(N·B) rows through one shuffle.
        if n_rows is None:
            stats = df.select(
                F.count(F.lit(1)).alias("n"), F.first(F.size(F.col(vec_col))).alias("dim")
            ).first()
            n, dim = stats["n"] or 0, stats["dim"] or 0
        else:
            # caller-supplied exact count (parquet footer metadata) —
            # only the vector width still needs a (one-row) look
            n = n_rows
            row = df.select(F.size(F.col(vec_col)).alias("dim")).limit(1).first()
            dim = (row["dim"] if row is not None else 0) or 0
        par = spark.sparkContext.defaultParallelism
        b_mem = math.ceil(2 * n * dim * 8 / task_mem_bytes)
        b_par = math.ceil((math.sqrt(8 * par + 1) - 1) / 2)  # B(B+1)/2 >= par
        # Work floor (r16, guide §2.2/§6 task-sizing): B_par alone fans
        # a small corpus into B_par(B_par+1)/2 near-empty Python groups
        # — replication and per-task Arrow overhead with nothing to
        # amortize them. Cap the parallelism-driven block count so each
        # block pair keeps ≥ ~32 MFLOP of gemm (n²·dim multiply-adds
        # total); at scale b_work ≫ b_par so the cluster-driven sizing
        # is untouched. Blocking never changes results — each pair's
        # cosine is computed from its two full vectors regardless.
        pairs_cap = max(1, (n * n * dim) // (32 << 20))
        b_work = math.ceil((math.sqrt(8 * pairs_cap + 1) - 1) / 2)
        n_blocks = max(b_mem, min(b_par, b_work), 2)
    src = df.select(
        F.col(id_col).alias("vid"), F.col(vec_col).cast("array<double>").alias("vec")
    ).withColumn("blk", F.pmod(F.hash(F.col("vid")), F.lit(n_blocks)))
    # A block serves as the left side of pairs (blk, j>=blk) and the
    # right side of pairs (i<=blk, blk): explode replicates rows
    # map-side, then one shuffle co-locates each block pair.
    left = src.select(
        F.col("blk").alias("ba"),
        F.explode(F.sequence("blk", F.lit(n_blocks - 1))).alias("bb"),
        F.lit(0).alias("side"),
        "vid",
        "vec",
    )
    right = src.select(
        F.explode(F.sequence(F.lit(0), "blk")).alias("ba"),
        F.col("blk").alias("bb"),
        F.lit(1).alias("side"),
        "vid",
        "vec",
    )

    def gemm(pdf: pd.DataFrame) -> pd.DataFrame:
        a = pdf[pdf["side"] == 0]
        b = pdf[pdf["side"] == 1]
        if a.empty or b.empty:
            # dtype-preserving empty frame: the id columns carry the
            # caller's id type (string/uuid ids are legal — hard-coding
            # int64 crashed inside the Arrow worker; r15 review, same
            # fix semantic_dedup got earlier)
            e = pdf["vid"].iloc[:0]
            return pd.DataFrame(
                {"id_a": e, "id_b": e, "cos_sim": pd.Series([], dtype="float64")}
            )
        a_ids = a["vid"].to_numpy()
        b_ids = b["vid"].to_numpy()
        a_mat = np.array(list(a["vec"]), dtype=np.float64)
        b_mat = np.array(list(b["vec"]), dtype=np.float64)
        # zero-norm guard (an all-zero embedding otherwise yields a NaN
        # row + numpy warnings; every other kernel here guards it)
        an = np.linalg.norm(a_mat, axis=1, keepdims=True)
        bn = np.linalg.norm(b_mat, axis=1, keepdims=True)
        an[an == 0] = 1.0
        bn[bn == 0] = 1.0
        a_mat /= an
        b_mat /= bn
        diag = pdf["ba"].iat[0] == pdf["bb"].iat[0]
        # Chunk the gemm over a_mat rows: a full sims matrix is
        # (N/B)^2 doubles — 5 GB/task at 25k-row blocks (the r9 sf10
        # OOM; the block sizing counts the two INPUT blocks, not the
        # output). Chunking bounds peak memory at chunk*(N/B)*8 no
        # matter how the block sizing lands; BLAS throughput is
        # unaffected at >=1k-row chunks.
        chunk = max(1024, int(task_mem_bytes // (8 * max(len(b_ids), 1))))
        outs = []
        for lo_i in range(0, len(a_ids), chunk):
            sims = a_mat[lo_i : lo_i + chunk] @ b_mat.T
            c_ids = a_ids[lo_i : lo_i + chunk]
            if diag:
                # Diagonal block: every row is on both sides, so each
                # pair shows up twice — id_a < id_b keeps one and
                # drops selves.
                ai, bi = np.nonzero(
                    (sims >= threshold) & (c_ids[:, None] < b_ids[None, :])
                )
                lo, hi = c_ids[ai], b_ids[bi]
            else:
                # Off-diagonal: each cross pair appears exactly once,
                # but id order doesn't follow block order — normalize
                # to (min, max).
                ai, bi = np.nonzero(sims >= threshold)
                lo = np.minimum(c_ids[ai], b_ids[bi])
                hi = np.maximum(c_ids[ai], b_ids[bi])
            outs.append(
                pd.DataFrame({"id_a": lo, "id_b": hi, "cos_sim": sims[ai, bi]})
            )
        return pd.concat(outs, ignore_index=True)

    id_dt = df.schema[id_col].dataType.simpleString()
    return (
        left.unionByName(right)
        .groupBy("ba", "bb")
        .applyInPandas(gemm, f"id_a {id_dt}, id_b {id_dt}, cos_sim double")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: train centroids → invert corpus → probe
# ---------------------------------------------------------------------------

def _nearest_centroid(vec: Column, centroids: list[list[float]]) -> Column:
    """Index of the max-cosine centroid (centroids pre-normalized, so
    argmax over plain dot products; FIRST index wins ties — np.argmax's
    first-max rule, matching the old array_position behavior).

    Vectorized Arrow-batched pandas UDF: the expression form built k
    ``aggregate(zip_with(...))`` dot products per row, and higher-order
    array lambdas run on Catalyst's INTERPRETED path (no whole-stage
    codegen) — at the r16 sf10 audit that interpreted k·dim·n
    multiply-add tree, not the shuffle, was the entire IVF bottleneck
    (~150 s of the 156 s training wall at 200k×64). One numpy GEMM per
    batch replaces it; the centroid matrix rides the task closure
    (k·dim floats)."""
    import numpy as np
    import pandas as pd  # noqa: F401 — resolves the UDF's stringified hints
    from pyspark.sql.functions import pandas_udf

    C = np.array(centroids, dtype="float64")

    def assign(v):
        if not len(v):
            return pd.Series([], dtype="int32")
        mat = np.array(list(v), dtype="float64")
        return pd.Series(np.argmax(mat @ C.T, axis=1)).astype("int32")

    # explicit non-stringified annotations: `from __future__ import
    # annotations` turns inline hints into strings the UDF type-infer
    # cannot resolve against this module's globals
    assign.__annotations__ = {"v": pd.Series, "return": pd.Series}
    return pandas_udf(assign, "int")(vec)


def _probe_ids(qvec: Column, centroids: list[list[float]], n_probe: int) -> Column:
    """Indices of the ``n_probe`` highest-scoring centroids for a query.

    Tie-break matches :func:`_nearest_centroid` (LOWEST index wins):
    sort ascending on (-score, index). The previous
    reverse(array_sort(struct(score, index))) broke ties toward the
    HIGHEST index, so duplicate centroids (possible under Forgy init on
    a corpus with repeated embeddings) made assignment put every member
    in list i while queries probed the empty twin list j > i."""
    zipped = F.arrays_zip(
        F.array(*[-dot(qvec, F.lit(c)) for c in centroids]).alias("s"),
        F.sequence(F.lit(0), F.lit(len(centroids) - 1)).alias("i"),
    )
    return F.transform(F.slice(F.array_sort(zipped), 1, n_probe), lambda x: x["i"])


def train_ivf_centroids(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    iters: int = 5,
) -> list[list[float]]:
    """Spherical k-means centroids, fully deterministic.

    Init is Forgy with a deterministic choice (the ``n_centroids``
    lowest-id vectors). Each Lloyd iteration is ONE distributed job:
    assignment via the vectorized :func:`_nearest_centroid` GEMM
    (centroids ride the task closure), per-cluster means via
    ``Summarizer.mean`` — a vector aggregate with a MAP-SIDE partial,
    so the shuffle carries one summary per (partition, cid), O(k·dim)
    per partition regardless of corpus size — and a k-row collect.
    The per-iteration driver handoff is the k×dim centroid matrix
    (bounded, corpus-independent — the same contract FAISS's coarse
    trainer uses). The r16 sf10 audit retired the previous all-
    expression design: its per-row ``aggregate(zip_with(...))`` dots
    ran on Catalyst's interpreted path (higher-order lambdas never
    enter whole-stage codegen) and cost ~150 s/200k vectors against
    ~4 s for this shape. Empty clusters keep their previous centroid.
    No RNG anywhere, so the index is reproducible across runs.
    """
    import numpy as np

    from pyspark.ml.functions import array_to_vector, vector_to_array
    from pyspark.ml.stat import Summarizer

    src = corpus.select(
        F.col(id_col).alias("vid"), F.col(vec_col).cast("array<double>").alias("vec")
    )
    # Loop-INVARIANT input materialized once (r16 optimization round,
    # the iterative-algorithm pattern of connected_components /
    # d_recursive_hierarchy): the seed scan and every Lloyd iteration
    # re-executed src's full lineage — corpus scan + array cast —
    # iters+1 times. The checkpoint caches the same rows, so centroids
    # are identical by construction; it is freed when training returns
    # (its own RDD id only — never a session-global diff).
    from pg_lake_spark.operators.dedup import _ckpt_ids

    src = src.localCheckpoint(eager=True)
    ckpt_ids = _ckpt_ids(src)
    try:
        seed = src.orderBy("vid").limit(n_centroids).collect()
        if not seed:
            raise ValueError("empty corpus")
        cents = np.array([r.vec for r in seed], dtype="float64")
        norms = np.linalg.norm(cents, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        cents = cents / norms
        for _ in range(iters):
            cent_list = [[float(x) for x in c] for c in cents]
            agg = (
                src.withColumn("cid", _nearest_centroid(F.col("vec"), cent_list))
                .select("cid", array_to_vector("vec").alias("v"))
                .groupBy("cid")
                .agg(Summarizer.mean(F.col("v")).alias("mv"))
                .select("cid", vector_to_array("mv").alias("m"))
                .collect()
            )
            for r in agg:  # clusters absent here had no members: keep prior
                m = np.array(r.m, dtype="float64")
                n = np.linalg.norm(m)
                cents[r.cid] = m / (n if n else 1.0)
    finally:
        sc = corpus.sparkSession.sparkContext
        m = sc._jsc.getPersistentRDDs()
        for k in m.keySet().toArray():
            if int(k) in ckpt_ids:
                m.get(k).unpersist(False)
    return [[float(x) for x in c] for c in cents]


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    train_iters: int = 5,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF cosine top-k: each corpus vector lives in exactly ONE
    inverted list (its nearest centroid), queries probe their
    ``n_probe`` nearest lists, and scoring happens only inside probed
    lists — a plain equi-join on the centroid id, no corpus explosion
    at all (cheaper than multi-table LSH, which replicates the corpus
    L×). ``n_probe >= n_centroids`` degenerates to exact brute force —
    the oracle-checkable configuration; recall/cost scales with
    ``n_probe`` the usual IVF way. Pass ``centroids`` to reuse a
    trained index (at scale you train once and persist).
    """
    if centroids is None:
        centroids = train_ivf_centroids(
            corpus,
            id_col=id_col,
            vec_col=vec_col,
            n_centroids=n_centroids,
            iters=train_iters,
        )
    n_probe = min(n_probe, len(centroids))

    # norms hoisted out of the per-candidate score (r16; float-identical
    # rewrite — see brute_force_topk)
    c = (
        corpus.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("cvec"))
        .withColumn("_cn", l2_norm(F.col("cvec")))
        .withColumn("cid", _nearest_centroid(F.col("cvec"), centroids))
    )

    probes = _probe_ids(F.col("qvec"), centroids, n_probe)
    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("qvec"),
        )
        .withColumn("_qn", l2_norm(F.col("qvec")))
        .withColumn("cid", F.explode(probes))
        .select("query_id", "qvec", "_qn", F.col("cid").cast("int").alias("cid"))
    )
    cand = c.join(q, "cid").filter(F.col(id_col) != F.col("query_id"))
    scored = cand.select(
        "query_id",
        id_col,
        (dot(F.col("qvec"), F.col("cvec")) / (F.col("_qn") * F.col("_cn"))).alias("cos_sim"),
    )
    return rank_topk(scored, k, id_col=id_col)


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    dim: int,
    threshold: float = 0.35,
    n_planes: int | None = None,
    target_bucket: int = 512,
    seed: int = 0,
    chunk_rows: int = 1024,
) -> DataFrame:
    """SemDeDup-style semantic pruning (Abbas et al.: cluster the
    embedding space, then within each cluster keep ONE representative
    of every near-duplicate group). The clustering here is the
    deterministic hyperplane bucketing (``hyperplane_bucket`` — no
    RNG, oracle-replayable) instead of k-means; within a bucket a
    vector is dropped when ANY lower-id vector sits at cosine >=
    ``threshold`` (keep-lowest-id = deterministic representative,
    independent of the killer's own fate — exactly replayable in
    SQL as a pairwise anti-join).

    Scale design (the r10 sf1 audit caught the naive version: a
    DataFrame self-join with interpreted per-pair cosine ran 370 s on
    50k vectors): ``n_planes`` auto-scales so expected bucket size
    ~= ``target_bucket`` (2^n_planes ~ N / target_bucket — the same
    corpus-partitioned regime SemDeDup's k-means uses), and each
    bucket prunes in ONE Arrow batch with a chunked BLAS gram matrix
    (peak memory chunk_rows x bucket, never bucket^2). One bucket
    shuffle, one anti-join; no all-pairs anywhere.

    Returns the surviving rows of ``df`` (all original columns).
    """
    import math as _math

    import numpy as np
    import pandas as pd

    if n_planes is None:
        n = df.count()
        n_planes = max(1, min(24, _math.ceil(
            _math.log2(max(n / target_bucket, 2.0)))))
    # The _drop frame carries the caller's id type (string/uuid ids
    # are legal); hard-coding long crashed inside the Arrow worker.
    id_dt = df.schema[id_col].dataType
    b = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    ).withColumn("_b", hyperplane_bucket(F.col("_v"), dim, n_planes, seed))

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf["_id"].to_numpy(), kind="stable")
        ids = pdf["_id"].to_numpy()[order]
        nrow = len(ids)
        if nrow < 2:
            return pd.DataFrame({"_drop": pd.Series([], dtype=pdf["_id"].dtype)})
        M = np.vstack(pdf["_v"].to_numpy()[order]).astype(np.float64)
        norms = np.linalg.norm(M, axis=1)
        norms[norms == 0] = 1.0
        Mn = M / norms[:, None]
        drop = np.zeros(nrow, dtype=bool)
        for s0 in range(0, nrow, chunk_rows):
            e0 = min(s0 + chunk_rows, nrow)
            hits = (Mn[s0:e0] @ Mn.T) >= threshold
            for k in range(e0 - s0):
                gi = s0 + k
                if gi + 1 < nrow:
                    drop[gi + 1:] |= hits[k, gi + 1:]
        return pd.DataFrame({"_drop": ids[drop]})

    drops = b.groupBy("_b").applyInPandas(
        prune, schema=T.StructType([T.StructField("_drop", id_dt)])
    )
    return df.join(
        drops.select("_drop").distinct(),
        df[id_col] == F.col("_drop"),
        "left_anti",
    )
