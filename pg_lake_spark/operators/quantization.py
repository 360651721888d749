"""Product quantization (PQ) for embedding search at scale.

The standard 100-TB vector-search memory lever (Jégou, Douze, Schmid,
"Product Quantization for Nearest Neighbor Search", TPAMI 2011): split
a D-dim embedding into ``m`` subvectors, vector-quantize each against
its own ``k``-entry codebook, and store only the m byte codes — a
64-dim float32 vector (256 B) compresses to 8 bytes at m=8, so a
billion-vector corpus fits where exact vectors cannot. Queries score
against codes with an asymmetric distance computation (ADC): one
m×k lookup table of query-subvector · codebook-entry inner products
per query, then each corpus vector's score is m table lookups — no
float vector ever read at query time.

Division of labor, mirroring FAISS's:
- **train** on a bounded deterministic sample, driver-side numpy
  (standard practice — codebooks are tiny and training data need not
  exceed ~100k rows regardless of corpus size; the sample bound makes
  this O(1) in corpus scale)
- **encode** distributed: one Arrow-batched ``mapInPandas`` pass,
  vectorized argmin over each subspace's codebook
- **score** distributed: the per-query LUT broadcasts (m·k floats per
  query), codes score via numpy take+sum in ``mapInPandas``, partial
  top-k per partition, exact top-k at the (tiny) reduce

Composes with the IVF index (operators/similarity.py) the same way
FAISS's IVFPQ does: IVF prunes to probed lists, PQ scores the
survivors. Deterministic end to end — Forgy init on the lowest-id
sample rows, no RNG — so results are reproducible across runs.

Reference note: pg_lake ships no vector-search surface (its slice ends
at array columns); this module is part of the training-data-pipeline
mandate (embedding near-dup / similarity at corpus scale).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pg_lake_spark.operators import local_frame


def _kmeans_np(data, k: int, iters: int):
    """Deterministic Lloyd on a numpy matrix: Forgy init = first k rows
    (callers pass id-sorted samples), empty clusters keep their
    previous centroid. Returns (k, dsub) float32 centroids."""
    import numpy as np

    cents = data[:k].astype("float32").copy()
    for _ in range(iters):
        # (n, k) distances via ||x||^2 - 2 x·c + ||c||^2 ; argmin per row
        d2 = (
            (data * data).sum(axis=1, keepdims=True)
            - 2.0 * data @ cents.T
            + (cents * cents).sum(axis=1)
        )
        assign = d2.argmin(axis=1)
        for j in range(k):
            members = data[assign == j]
            if len(members):
                cents[j] = members.mean(axis=0)
    return cents


def train_pq_codebooks(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    iters: int = 8,
    train_rows: int = 4096,
) -> list[list[list[float]]]:
    """Per-subspace codebooks as a plain nested list [m][k][D/m].

    Trains on the ``train_rows`` lowest-id vectors (bounded,
    deterministic — the driver-side cost is O(train_rows · D), constant
    in corpus size). D must divide by m."""
    import numpy as np

    sample = (
        corpus.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))
        .orderBy("vid")
        .limit(train_rows)
        .collect()
    )
    if not sample:
        raise ValueError("empty corpus")
    mat = np.array([r.vec for r in sample], dtype="float32")
    # L2-normalize: PQ here serves COSINE search, so codebooks live on
    # the unit sphere and ADC inner products ARE cosines
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    mat = mat / norms
    dim = mat.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    books = []
    for s in range(m):
        sub = mat[:, s * dsub : (s + 1) * dsub]
        books.append(_kmeans_np(sub, k, iters).tolist())
    return books


def _query_luts(qrows, books, dsub):
    """Per-query ADC lookup tables: {qid: (m, k_codebook) of
    query-subvector · codeword inner products} — one shared builder for
    pq_topk and ivfpq_topk (they drifted as copies before r14)."""
    import numpy as np

    m = len(books)
    luts = {}
    for r in qrows:
        qv = np.array(r.vec, dtype="float32")
        nrm = np.linalg.norm(qv)
        qv = qv / (nrm if nrm else 1.0)
        luts[int(r.qid)] = np.stack(
            [books[s] @ qv[s * dsub : (s + 1) * dsub] for s in range(m)]
        )
    return luts


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Global per-query top-k: (score desc, vec_id) rank, ordered
    (query_id, rank) — delegates to THE shared tie-break contract
    (similarity.rank_topk; r15 review folded four copies into one)."""
    from pg_lake_spark.operators.similarity import rank_topk

    return rank_topk(scored, k, id_col="vec_id", score_col="score")


def _exact_rerank(
    cand: DataFrame, rerank_with: DataFrame, qrows, spark, *, id_col: str, vec_col: str
) -> DataFrame:
    """Re-score over-fetched ADC candidates with exact cosines (FAISS's
    refine step); caller ranks the result."""
    from pg_lake_spark.operators.similarity import cosine

    vecs = rerank_with.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("cvec"),
    )
    qvecs = local_frame(
        spark,
        [(int(r.qid), [float(x) for x in r.vec]) for r in qrows],
        "query_id bigint, qvec array<double>",
    )
    # broadcast the candidate list (|queries|·overfetch·k rows): the
    # raw-vector frame is the full corpus, and without the hint the
    # stats-free window output above drives Catalyst to a sort-merge
    # join that shuffles EVERY corpus vector by vec_id — the exact
    # full-corpus movement the PQ candidate pruning exists to avoid
    # (r16 review; AQE can rescue this at runtime, but the refine step
    # should not depend on it)
    return (
        vecs.join(F.broadcast(cand), "vec_id")
        .join(F.broadcast(qvecs), "query_id")
        .select(
            "query_id", "vec_id", cosine(F.col("qvec"), F.col("cvec")).alias("score")
        )
    )


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry: Column | None = None,
    carry_name: str = "cid",
) -> DataFrame:
    """(id, codes array<int>[, carry]) — each vector's m
    nearest-codeword ids.

    One Arrow-batched pass; the codebooks ride to executors as a task
    closure (m·k·dsub floats — a few KB). ``carry`` optionally threads
    an int Column (e.g. the IVF list id) computed from the corpus row
    through the pass — ivfpq previously re-derived it with a SECOND
    full corpus scan plus a corpus-wide shuffle join on vec_id
    (r15 review)."""
    import numpy as np
    import pandas as pd

    m = len(codebooks)
    books = [np.array(b, dtype="float32") for b in codebooks]
    dsub = books[0].shape[1]

    cols = [F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec")]
    if carry is not None:
        cols.append(carry.cast("int").alias("__carry"))
    src = corpus.select(*cols)

    def encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue  # empty Arrow batch: norm/argmin would raise
            mat = np.array(list(pdf["vec"]), dtype="float32")
            norms = np.linalg.norm(mat, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            mat = mat / norms
            codes = np.empty((len(pdf), m), dtype="int32")
            for s in range(m):
                sub = mat[:, s * dsub : (s + 1) * dsub]
                cb = books[s]
                d2 = (
                    (sub * sub).sum(axis=1, keepdims=True)
                    - 2.0 * sub @ cb.T
                    + (cb * cb).sum(axis=1)
                )
                codes[:, s] = d2.argmin(axis=1)
            out = {"vec_id": pdf["vec_id"], "codes": list(codes)}
            if "__carry" in pdf.columns:
                out[carry_name] = pdf["__carry"]
            yield pd.DataFrame(out)

    schema = "vec_id bigint, codes array<int>"
    if carry is not None:
        schema += f", {carry_name} int"
    return src.mapInPandas(encode, schema)


def pq_topk(
    codes_df: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    *,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank_with: DataFrame | None = None,
    overfetch: int = 4,
    exclude_self: bool = False,
) -> DataFrame:
    """Approximate top-k by ADC over PQ codes → (query_id, vec_id, score).

    Each query contributes one m×k_codebook lookup table of
    query-subvector inner products; corpus codes score via table
    take+sum (numpy, Arrow-batched), keep a per-partition partial
    top-(k·overfetch), then reduce globally. With ``rerank_with`` (the
    raw-vector frame) the over-fetched candidates re-score exactly —
    FAISS's IVFPQ+refine pattern; scores are then exact cosines for the
    surviving k. Output ordered (query_id, rank)."""
    import numpy as np
    import pandas as pd

    m = len(codebooks)
    books = [np.array(b, dtype="float32") for b in codebooks]
    dsub = books[0].shape[1]
    qrows = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("vec")
    ).collect()
    if not qrows:
        raise ValueError("no queries")
    luts = _query_luts(qrows, books, dsub)
    fetch = k * (overfetch if rerank_with is not None else 1)

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue  # empty Arrow batch: lut[rows, codes] would raise
            codes = np.array(list(pdf["codes"]), dtype="int64")  # (n, m)
            ids = pdf["vec_id"].to_numpy()
            out_q, out_v, out_s = [], [], []
            rows = np.arange(m)
            for qid, lut in luts.items():
                sc = lut[rows, codes].sum(axis=1)  # (n,) ADC scores
                if exclude_self:
                    # drop self BEFORE the partial top-fetch, or it
                    # consumes a candidate slot and a true neighbor at
                    # the fetch boundary is lost
                    keep = ids != qid
                    sc_k, ids_k = sc[keep], ids[keep]
                else:
                    sc_k, ids_k = sc, ids
                # lexsort (score desc, vec_id asc): score-only quicksort
                # cut TIED scores at the fetch boundary arbitrarily, so
                # the batch could drop the vec_id the global (score,
                # vec_id) ranking prefers — PQ maps near-dups to
                # identical codes, making exact ties common (r15 review)
                top = np.lexsort((ids_k, -sc_k))[:fetch]
                out_q.extend([qid] * len(top))
                out_v.extend(ids_k[top])
                out_s.extend(sc_k[top])
            yield pd.DataFrame(
                {"query_id": out_q, "vec_id": out_v, "score": out_s}
            )

    partial = codes_df.mapInPandas(score, "query_id bigint, vec_id bigint, score double")
    if rerank_with is None:
        return _rank_topk(partial, k)
    cand = _rank_topk(partial, fetch).drop("rank")
    exact = _exact_rerank(
        cand, rerank_with, qrows, codes_df.sparkSession, id_col=id_col, vec_col=vec_col
    )
    return _rank_topk(exact, k)


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 16,
    k_codebook: int = 32,
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
    rerank_with: DataFrame | None = None,
    overfetch: int = 4,
    exclude_self: bool = False,
) -> DataFrame:
    """IVF + PQ composed — the FAISS IVFPQ index shape.

    The coarse quantizer (spherical k-means from
    ``similarity.train_ivf_centroids``) assigns every corpus vector to
    ONE inverted list; queries probe their ``n_probe`` nearest lists;
    ADC scoring over PQ codes runs ONLY on probed-list members (an
    equi-join on the list id restricts the scan before any Python
    executes). At 100 TB that is the full index discipline: list
    pruning bounds IO, byte codes bound memory, and the optional exact
    re-rank (``rerank_with``) restores recall on the short candidate
    list. Train once, pass ``centroids``/``codebooks`` to reuse.
    """
    from pg_lake_spark.operators.similarity import (
        _nearest_centroid,
        _probe_ids,
        train_ivf_centroids,
    )

    if centroids is None:
        centroids = train_ivf_centroids(
            corpus, id_col=id_col, vec_col=vec_col, n_centroids=n_centroids
        )
    if codebooks is None:
        codebooks = train_pq_codebooks(
            corpus, id_col=id_col, vec_col=vec_col, m=m, k=k_codebook
        )
    n_probe = min(n_probe, len(centroids))

    # the IVF list id rides through the encode pass as a carry column —
    # one corpus scan, no corpus-wide vec_id re-join (r15 review)
    coded = pq_encode(
        corpus,
        codebooks,
        id_col=id_col,
        vec_col=vec_col,
        carry=_nearest_centroid(F.col(vec_col).cast("array<double>"), centroids),
    )

    probes = _probe_ids(F.col("qvec"), centroids, n_probe)
    probe_map = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("qvec"),
        )
        .withColumn("cid", F.explode(probes))
        .select("query_id", F.col("cid").cast("int").alias("cid"))
    )
    # restrict the code scan to probed lists BEFORE scoring: semi-join
    # on the short list id — the IVF pruning step
    probed_cids = probe_map.select("cid").distinct()
    probed = coded.join(F.broadcast(probed_cids), "cid", "left_semi")
    # per-query membership: only score codes in THAT query's lists
    member = probed.join(F.broadcast(probe_map), "cid").select(
        "query_id", "vec_id", "codes"
    )

    # score member codes via the same ADC kernel, restricted per query
    import numpy as np
    import pandas as pd

    mm = len(codebooks)
    books = [np.array(b, dtype="float32") for b in codebooks]
    dsub = books[0].shape[1]
    qrows = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("vec")
    ).collect()
    if not qrows:
        raise ValueError("no queries")  # same contract as pq_topk
    luts = _query_luts(qrows, books, dsub)
    fetch = k * (overfetch if rerank_with is not None else 1)

    def score(batches):
        rows = np.arange(mm)
        for pdf in batches:
            if not len(pdf):
                continue
            out = []
            for qid, grp in pdf.groupby("query_id"):
                lut = luts.get(int(qid))
                if lut is None:
                    continue
                codes_m = np.array(list(grp["codes"]), dtype="int64")
                sc = lut[rows, codes_m].sum(axis=1)
                ids = grp["vec_id"].to_numpy()
                if exclude_self:
                    keep = ids != int(qid)  # before the top-fetch
                    sc, ids = sc[keep], ids[keep]
                # lexsort: ties at the fetch boundary keep the lowest
                # vec_id, matching the global ranking (r15 review)
                top = np.lexsort((ids, -sc))[:fetch]
                out.append(
                    pd.DataFrame(
                        {"query_id": int(qid), "vec_id": ids[top], "score": sc[top]}
                    )
                )
            if out:
                yield pd.concat(out)

    partial = member.mapInPandas(score, "query_id bigint, vec_id bigint, score double")
    if rerank_with is None:
        return _rank_topk(partial, k)
    cand = _rank_topk(partial, fetch).drop("rank")
    exact = _exact_rerank(
        cand, rerank_with, qrows, corpus.sparkSession, id_col=id_col, vec_col=vec_col
    )
    return _rank_topk(exact, k)
