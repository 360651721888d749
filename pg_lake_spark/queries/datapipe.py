"""Training-data pipeline queries: dedup, similarity search, text
analysis, multimodal plumbing — declared with DuckDB oracles wherever
SQL can express the semantics (everything except LSH candidate
generation, which is checked rows-only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pg_lake_spark.operators import dedup, multimodal, similarity, textstats
from pg_lake_spark.queries.registry import query
from pg_lake_spark.session import load_tables

# DuckDB expression for the same word-n-gram shingle set produced by
# dedup.word_shingles (kept adjacent so the two dialects stay in sync).
_DUCK_SHINGLES = """
    list_distinct(list_transform(
        range(1, greatest(len(ws) - {nm1}, 1) + 1),
        i -> array_to_string(ws[i:i+{nm1}], ' ')))
"""


def _duck_shingles(n: int) -> str:
    return _DUCK_SHINGLES.format(nm1=n - 1)


def _footer_rows(sf_dir: str, table: str) -> int | None:
    """Exact row count from parquet footers — a driver-side metadata
    read (no Spark job), the same statistic a CBO would consult. Feeds
    the operators' size-aware decisions (cap-probe skip, block sizing);
    ``None`` on any failure keeps the operator's self-probing path.

    ``<table>.parquet`` may be a single file (the testdata layout) or a
    DIRECTORY of part files (any real lakehouse table): the directory
    case sums ``num_rows`` across its ``*.parquet`` footers (r17, guide
    §6 — previously it returned None there, silently re-enabling the
    probe job exactly where table sizes make it expensive)."""
    import os

    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{table}.parquet")
    try:
        if os.path.isdir(path):
            total = 0
            for root, _dirs, files in os.walk(path):
                for fname in files:
                    if fname.endswith(".parquet"):
                        total += pq.ParquetFile(
                            os.path.join(root, fname)
                        ).metadata.num_rows
            return total
        return pq.ParquetFile(path).metadata.num_rows
    except Exception:
        return None


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------

@query(
    "dd_exact_hash_groups",
    oracle="""
    SELECT md5(text) AS content_hash, count(*) AS n_copies, min(doc_id) AS keep_id
    FROM documents
    GROUP BY content_hash
    ORDER BY content_hash
    """,
    doc="Exact dedup: content-hash groups with survivor id.",
)
def dd_exact_hash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return (
        t["documents"]
        .select("doc_id", F.md5("text").alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min("doc_id").alias("keep_id"))
        .orderBy("content_hash")
    )


@query(
    "dd_minhash_signatures",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, {_duck_shingles(3)} AS s
      FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS ws
            FROM documents WHERE doc_id < 100) t
    )
    SELECT doc_id,
           list_aggregate(list_transform(s, x -> md5('seed0:' || x)), 'min') AS sig0,
           list_aggregate(list_transform(s, x -> md5('seed1:' || x)), 'min') AS sig1,
           list_aggregate(list_transform(s, x -> md5('seed2:' || x)), 'min') AS sig2,
           list_aggregate(list_transform(s, x -> md5('seed3:' || x)), 'min') AS sig3
    FROM sh ORDER BY doc_id
    """,
    doc="MinHash signatures (k-mins over word-3-gram shingles, md5 family).",
)
def dd_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    d = t["documents"].filter(F.col("doc_id") < 100)
    sig = dedup.minhash_signature(dedup.word_shingles("text", 3), num_hashes=4)
    return d.select(
        "doc_id",
        *[F.element_at(sig, i + 1).alias(f"sig{i}") for i in range(4)],
    ).orderBy("doc_id")


@query(
    "dd_ngram_jaccard_pairs",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, {_duck_shingles(2)} AS s
      FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS ws
            FROM documents WHERE doc_id < 150) t
    )
    SELECT * FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len(list_distinct(list_filter(a.s, x -> list_contains(b.s, x)))) AS DOUBLE)
               / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
      FROM sh a, sh b WHERE a.doc_id < b.doc_id
    ) WHERE jaccard >= 0.1
    ORDER BY id_a, id_b
    """,
    doc="Exact all-pairs word-bigram Jaccard (bounded subset; LSH baseline).",
)
def dd_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    d = t["documents"].filter(F.col("doc_id") < 150)
    return dedup.ngram_jaccard_pairs(d, "doc_id", "text", shingle_n=2, threshold=0.1).orderBy(
        "id_a", "id_b"
    )


@query(
    "dd_lsh_candidates",
    # The LSH output is exact-Jaccard verified, and recall completeness on
    # this corpus is test-gated (real near-dups sit at j ≥ 0.8, far above
    # the banding threshold), so exact all-pairs Jaccard IS the oracle.
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, {_duck_shingles(2)} AS s
      FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS ws FROM documents) t
    )
    SELECT * FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len(list_distinct(list_filter(a.s, x -> list_contains(b.s, x)))) AS DOUBLE)
               / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
      FROM sh a, sh b WHERE a.doc_id < b.doc_id
    ) WHERE jaccard >= 0.3
    ORDER BY id_a, id_b
    """,
    doc="MinHash-LSH near-dup pairs, exact-Jaccard verified (the 100 TB scale path).",
)
def dd_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    # est_gate is opt-in (library default None = pure candidates-then-
    # exact-verify); "auto" here cuts ~68% of verify volume and is
    # recall-exact on this corpus (pinned by tests/test_dedup_gate.py —
    # the oracle below is exact ALL-PAIRS jaccard, so any gate false-drop
    # would fail this row).
    return dedup.lsh_candidate_pairs(
        t["documents"], "doc_id", "text", shingle_n=2, num_hashes=12, bands=4,
        threshold=0.3, est_gate="auto", n_rows=_footer_rows(sf_dir, "documents"),
    ).orderBy("id_a", "id_b")


@query(
    "dd_neardup_clusters",
    # Oracle: exact all-pairs Jaccard edges (as in dd_lsh_candidates,
    # whose recall completeness is test-gated) closed transitively with
    # a recursive CTE; component id = min doc id reachable. Singletons
    # keep their own id.
    oracle=f"""
    WITH RECURSIVE sh AS (
      SELECT doc_id, {_duck_shingles(2)} AS s
      FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS ws FROM documents) t
    ),
    pairs AS (
      SELECT id_a, id_b FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(len(list_distinct(list_filter(a.s, x -> list_contains(b.s, x)))) AS DOUBLE)
                 / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
        FROM sh a, sh b WHERE a.doc_id < b.doc_id
      ) WHERE jaccard >= 0.3
    ),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    comp AS (
      SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a
    )
    SELECT d.doc_id, CAST(coalesce(c.cluster_id, d.doc_id) AS BIGINT) AS cluster_id
    FROM documents d LEFT JOIN comp c USING (doc_id)
    ORDER BY d.doc_id
    """,
    doc="Near-dup clustering: connected components over the LSH pair "
    "graph assign each doc the min id of its component — the canonical-"
    "survivor keep/drop key of a dedup pipeline.",
)
def dd_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return dedup.neardup_clusters(
        t["documents"], "doc_id", "text",
        shingle_n=2, num_hashes=12, bands=4, threshold=0.3, est_gate="auto",
        n_rows=_footer_rows(sf_dir, "documents"),
    ).orderBy("doc_id")


@query(
    "dd_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(trim(regexp_replace(regexp_replace(lower(text), '[^\\w\\s]', '', 'g'),
                                   '\\s+', ' ', 'g'))) AS fingerprint
    FROM documents ORDER BY doc_id
    """,
    doc="Normalized-content fingerprint (case/space/punct-insensitive md5).",
)
def dd_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return t["documents"].select(
        "doc_id", textstats.fingerprint("text").alias("fingerprint")
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

@query(
    "sim_cosine_topk",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec
               FROM embeddings WHERE vec_id < 5)
    SELECT query_id, vec_id, round(cos_sim, 6) AS cos_sim, rank FROM (
      SELECT q.query_id, e.vec_id,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qvec) AS cos_sim,
             row_number() OVER (
               PARTITION BY q.query_id
               ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qvec) DESC,
                        e.vec_id) AS rank
      FROM embeddings e, q
      WHERE e.vec_id <> q.query_id
    ) WHERE rank <= 10
    ORDER BY query_id, rank
    """,
    doc="Brute-force cosine top-k ANN baseline (JVM zip_with dot product).",
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    return similarity.brute_force_topk(
        emb, emb.filter(F.col("vec_id") < 5), id_col="vec_id", vec_col="embedding", k=10
    ).withColumn("cos_sim", F.round("cos_sim", 6))


@query(
    "sim_ivf_topk",
    # Exhaustive probe (n_probe = n_centroids) makes IVF exact, so the
    # brute-force top-k is a true oracle for the full index pipeline —
    # deterministic spherical-k-means training, inverted-list assignment,
    # probe join, scoring. (Partial-probe recall is pinned in pytest.)
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec
               FROM embeddings WHERE vec_id < 8)
    SELECT query_id, vec_id, round(cos_sim, 6) AS cos_sim, rank FROM (
      SELECT q.query_id, e.vec_id,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qvec) AS cos_sim,
             row_number() OVER (
               PARTITION BY q.query_id
               ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qvec) DESC,
                        e.vec_id) AS rank
      FROM embeddings e, q
      WHERE e.vec_id <> q.query_id
    ) WHERE rank <= 5
    ORDER BY query_id, rank
    """,
    doc="IVF inverted-file ANN (second scale path beside LSH): corpus "
    "vectors live in one centroid list each (no corpus explosion), "
    "queries probe their nearest lists via an equi-join on centroid id.",
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    return similarity.ivf_topk(
        emb,
        emb.filter(F.col("vec_id") < 8),
        id_col="vec_id",
        vec_col="embedding",
        k=5,
        n_centroids=8,
        n_probe=8,
        train_iters=2,
    ).withColumn("cos_sim", F.round("cos_sim", 6))


@query(
    "sim_lsh_topk",
    # The sin-derived hyperplanes are deterministic math (no RNG), so the
    # bucketing replays exactly in SQL: same planes, same sign bits, same
    # candidate set, same top-k — an exact oracle for an "approximate"
    # operator (similarity.hyperplane_bucket: freq=(t*5+p+1)*12.9898,
    # component_j = sin(freq*(j+1)+78.233), bucket = Σ 2^p [dot ≥ 0]).
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    planes AS (
      SELECT t.tbl, p.p,
             list_transform(range(1, 65),
                 j -> sin((t.tbl * 5 + p.p + 1) * 12.9898 * j + 78.233)) AS plane
      FROM (SELECT unnest(range(0, 16)) AS tbl) t,
           (SELECT unnest(range(0, 5)) AS p) p
    ),
    buckets AS (
      SELECT e.vec_id, pl.tbl,
             CAST(sum(CASE WHEN list_inner_product(e.v, pl.plane) >= 0
                           THEN CAST(power(2, pl.p) AS BIGINT) ELSE 0 END) AS INT) AS bkt
      FROM e, planes pl
      GROUP BY e.vec_id, pl.tbl
    ),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id
      FROM buckets c JOIN buckets q ON c.tbl = q.tbl AND c.bkt = q.bkt
      WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id
    ),
    scored AS (
      SELECT cand.query_id, cand.vec_id,
             list_cosine_similarity(e.v, qe.v) AS cos_sim
      FROM cand
      JOIN e ON e.vec_id = cand.vec_id
      JOIN e qe ON qe.vec_id = cand.query_id
    )
    SELECT query_id, vec_id, round(cos_sim, 6) AS cos_sim, rank FROM (
      SELECT query_id, vec_id, cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, vec_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    ORDER BY query_id, rank
    """,
    doc="Hyperplane-LSH bucketed ANN (scale path: bucket equi-join, no cross product).",
)
def sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    return similarity.lsh_topk(
        emb,
        emb.filter(F.col("vec_id") < 20),
        id_col="vec_id",
        vec_col="embedding",
        dim=64,
        k=5,
    ).withColumn("cos_sim", F.round("cos_sim", 6))


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

@query(
    "txt_stats",
    # the ws tokenizer filters empty tokens and stopword matching
    # lowercases first — kept in lockstep with textstats.words /
    # lang_scores (both sides changed together in the r15 review)
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len(ws) AS BIGINT) AS n_words,
           CAST(length(text) - (length(text) - length(regexp_replace(text, '\\s', '', 'g'))) AS DOUBLE)
             / greatest(len(ws), 1) AS avg_word_len,
           CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE)
             / greatest(length(text), 1) AS punct_ratio,
           CAST(length(text) - length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
             / greatest(length(text), 1) AS space_ratio,
           CAST(len(ws) AS BIGINT) AS n_tokens_ws,
           CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS BIGINT) AS n_tokens_bpe,
           CASE WHEN greatest(s_en, s_de, s_fr) > 0 AND s_en = greatest(s_en, s_de, s_fr) THEN 'en'
                WHEN greatest(s_en, s_de, s_fr) > 0 AND s_de = greatest(s_en, s_de, s_fr) THEN 'de'
                WHEN greatest(s_en, s_de, s_fr) > 0 AND s_fr = greatest(s_en, s_de, s_fr) THEN 'fr'
                ELSE 'und' END AS lang_pred,
           md5(trim(regexp_replace(regexp_replace(lower(text), '[^\\w\\s]', '', 'g'),
                                   '\\s+', ' ', 'g'))) AS fingerprint
    FROM (
      SELECT *,
        len(list_filter(list_distinct(list_transform(ws, w -> lower(w))),
            w -> list_contains(['the','a','and','of','to'], w))) AS s_en,
        len(list_filter(list_distinct(list_transform(ws, w -> lower(w))),
            w -> list_contains(['der','die','das','und','ist'], w))) AS s_de,
        len(list_filter(list_distinct(list_transform(ws, w -> lower(w))),
            w -> list_contains(['le','la','les','et','est'], w))) AS s_fr
      FROM (
        SELECT *, list_filter(string_split_regex(text, '\\s+'), w -> w != '') AS ws
        FROM documents
      )
    )
    ORDER BY doc_id
    """,
    doc="Text quality features + token counts + lang-ID + fingerprint, one map stage.",
)
def txt_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    # sort before the projection: see the queries.spatial_q docstring
    return textstats.text_stats(t["documents"].orderBy("doc_id"), "doc_id", "text")


@query(
    "txt_quality_by_lang",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           avg(n_chars) AS avg_chars,
           avg(len(list_filter(string_split_regex(text, '\\s+'), w -> w != ''))) AS avg_words,
           quantile_cont(CAST(n_chars AS DOUBLE), 0.5) AS median_chars
    FROM documents
    GROUP BY lang ORDER BY lang
    """,
    doc="Corpus quality rollup per labeled language.",
)
def txt_quality_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return (
        t["documents"]
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.avg("n_chars").alias("avg_chars"),
            F.avg(textstats.token_count_ws("text")).alias("avg_words"),
            F.percentile(F.col("n_chars").cast("double"), 0.5).alias("median_chars"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------

@query(
    "mm_binary_features",
    oracle="""
    SELECT doc_id AS media_id,
           'text/plain' AS mime,
           CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
           CAST(ascii(substr(text, 1, 1)) AS BIGINT) AS first_byte,
           CAST(list_aggregate(list_transform(range(1, length(text) + 1),
                i -> ascii(substr(text, i, 1))), 'sum') AS DOUBLE) / length(text) AS byte_mean,
           md5(text) AS payload_md5
    FROM documents WHERE doc_id < 100
    ORDER BY media_id
    """,
    doc="Multimodal binary column + Arrow mapInPandas feature extraction (stub decode).",
)
def mm_binary_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    media = multimodal.to_media(
        t["documents"].filter(F.col("doc_id") < 100), "doc_id", "text", "text/plain"
    )
    return multimodal.extract_features(media).orderBy("media_id")


@query(
    "mm_frame_sample",
    # The frame-sampling STUB slices the payload every 256 bytes (the
    # corpus is ASCII, so DuckDB's char offsets equal byte offsets);
    # frames compare as md5 + length so binary never crosses engines.
    oracle="""
    WITH m AS (SELECT doc_id AS media_id, text FROM documents WHERE doc_id < 50),
    f AS (
      SELECT media_id, CAST(i AS BIGINT) AS frame_no,
             CAST(i * 256 AS BIGINT) AS frame_offset,
             md5(substr(text, i * 256 + 1, 256)) AS frame_md5,
             CAST(octet_length(CAST(substr(text, i * 256 + 1, 256) AS BLOB)) AS BIGINT)
               AS frame_bytes
      FROM m, (SELECT unnest(range(0, 8)) AS i)
      WHERE i * 256 < length(text)
    )
    SELECT media_id, frame_no, frame_offset, frame_md5, frame_bytes
    FROM f ORDER BY media_id, frame_no
    """,
    doc="Video frame-sampling plumbing: one media row fans out to N "
    "frame rows through Arrow mapInPandas (shuffle-free; the decode is "
    "the documented deterministic stub — no libav in this env).",
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    media = multimodal.to_media(
        t["documents"].filter(F.col("doc_id") < 50), "doc_id", "text", "video/fake"
    )
    frames = multimodal.sample_frames(media, every_n_bytes=256, max_frames=8)
    return frames.select(
        "media_id",
        "frame_no",
        "frame_offset",
        F.md5("frame").alias("frame_md5"),
        F.length("frame").cast("bigint").alias("frame_bytes"),
    ).orderBy("media_id", "frame_no")


@query(
    "mm_resize_thumbs",
    # The resample STUB cycles the payload to width*height bytes; the
    # oracle replays it with repeat+substr (ASCII corpus: char = byte),
    # thumbs compare as md5 + length so binary never crosses engines.
    oracle="""
    WITH m AS (SELECT doc_id AS media_id, text FROM documents WHERE doc_id < 50)
    SELECT media_id, 'image/fake' AS mime,
           CAST(32 AS INT) AS width, CAST(32 AS INT) AS height,
           md5(substr(repeat(text, CAST(1024 / length(text) AS INT) + 1), 1, 1024))
             AS thumb_md5,
           CAST(1024 AS BIGINT) AS thumb_bytes
    FROM m ORDER BY media_id
    """,
    doc="Image resize plumbing: decode-resample-reencode as a map-only "
    "Arrow stage emitting fixed-size thumbnails (deterministic stub "
    "resample — no PIL in this env; swap the codec call, nothing else "
    "changes).",
)
def mm_resize_thumbs(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    media = multimodal.to_media(
        t["documents"].filter(F.col("doc_id") < 50), "doc_id", "text", "image/fake"
    )
    thumbs = multimodal.resize_images(media, width=32, height=32)
    return thumbs.select(
        "media_id",
        "mime",
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        F.md5("thumb").alias("thumb_md5"),
        F.length("thumb").cast("bigint").alias("thumb_bytes"),
    ).orderBy("media_id")


# ---------------------------------------------------------------------------
# SimHash dedup
# ---------------------------------------------------------------------------

def _duck_simhash(subset_pred: str, shingle_n: int, bits: int = 32) -> str:
    """DuckDB CTE computing the same SimHash as operators.dedup.simhash_agg.

    The base hash (first 8 md5 hex chars as a 32-bit int) is rebuilt
    digit-by-digit so both engines agree exactly.
    """
    bit_sums = ", ".join(
        f"sum(CASE WHEN (h // {1 << j}) % 2 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(bits)
    )
    recon = " + ".join(f"CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(bits))
    return f"""
    sh AS (SELECT doc_id, {_duck_shingles(shingle_n)} AS s
           FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS ws
                 FROM documents WHERE {subset_pred}) t),
    ex AS (SELECT doc_id, unnest(s) AS sg FROM sh),
    hh AS (SELECT doc_id,
                  CAST(list_sum(list_transform(range(1, 9),
                       k -> (strpos('0123456789abcdef', substr(md5(sg), k, 1)) - 1)
                            * power(16, 8 - k))) AS BIGINT) AS h
           FROM ex),
    bs AS (SELECT doc_id, {bit_sums} FROM hh GROUP BY doc_id),
    sims AS (SELECT doc_id, CAST({recon} AS BIGINT) AS simhash FROM bs)
    """


@query(
    "dd_simhash",
    oracle=f"""
    WITH {_duck_simhash('TRUE', 2)}
    SELECT doc_id, simhash FROM sims ORDER BY doc_id
    """,
    doc="Per-doc 32-bit SimHash fingerprint (Charikar; bit-exact vs oracle).",
)
def dd_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return (
        dedup.simhash_agg(t["documents"], "doc_id", "text", shingle_n=2)
        .select(F.col("_id").alias("doc_id"), "simhash")
        .orderBy("doc_id")
    )


def _duck_simhash64(subset_pred: str, shingle_n: int) -> str:
    """DuckDB CTE computing the same 64-bit two-word SimHash as
    operators.dedup.simhash64_agg: base hash = the two md5 halves as
    32-bit ints (every intermediate stays below 2^32 so both engines
    agree exactly; a single int64 would overflow differently)."""
    sum_a = ", ".join(
        f"sum(CASE WHEN (ha // {1 << j}) % 2 = 1 THEN 1 ELSE -1 END) AS a{j}"
        for j in range(32)
    )
    sum_b = ", ".join(
        f"sum(CASE WHEN (hb // {1 << j}) % 2 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(32)
    )
    rec_a = " + ".join(f"CASE WHEN a{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(32))
    rec_b = " + ".join(f"CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(32))
    return f"""
    sh AS (SELECT doc_id, {_duck_shingles(shingle_n)} AS s
           FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS ws
                 FROM documents WHERE {subset_pred}) t),
    ex AS (SELECT doc_id, unnest(s) AS sg FROM sh),
    hh AS (SELECT doc_id,
                  CAST(list_sum(list_transform(range(1, 9),
                       k -> (strpos('0123456789abcdef', substr(md5(sg), k, 1)) - 1)
                            * power(16, 8 - k))) AS BIGINT) AS ha,
                  CAST(list_sum(list_transform(range(9, 17),
                       k -> (strpos('0123456789abcdef', substr(md5(sg), k, 1)) - 1)
                            * power(16, 16 - k))) AS BIGINT) AS hb
           FROM ex),
    bs AS (SELECT doc_id, {sum_a}, {sum_b} FROM hh GROUP BY doc_id),
    sims AS (SELECT doc_id, CAST({rec_a} AS BIGINT) AS sim_a,
                    CAST({rec_b} AS BIGINT) AS sim_b FROM bs)
    """


@query(
    "dd_simhash_pairs",
    oracle=f"""
    WITH {_duck_simhash64('TRUE', 2)}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.sim_a, b.sim_a))
              + bit_count(xor(a.sim_b, b.sim_b)) AS BIGINT) AS hamming_dist
    FROM sims a, sims b
    WHERE a.doc_id < b.doc_id
      AND bit_count(xor(a.sim_a, b.sim_a)) + bit_count(xor(a.sim_b, b.sim_b)) <= 3
    ORDER BY id_a, id_b
    """,
    doc="SimHash near-dup pairs, Hamming ≤ 3 over a 64-bit fingerprint via "
    "exact band-bucket join (pigeonhole-complete: 4 bands > 3 differing "
    "bits; 16-bit bands ⇒ 65,536 buckets — the r2 scale fix).",
)
def dd_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return (
        dedup.simhash_pairs(
            t["documents"], "doc_id", "text", shingle_n=2, bands=4, max_dist=3,
            n_rows=_footer_rows(sf_dir, "documents"),
        )
        .withColumn("hamming_dist", F.col("hamming_dist").cast("long"))
        .orderBy("id_a", "id_b")
    )


@query(
    "dd_embedding_neardup",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
    FROM e a, e b
    WHERE a.vec_id < b.vec_id
      AND list_cosine_similarity(a.v, b.v) >= 0.40
    ORDER BY id_a, id_b
    """,
    doc="Embedding-cosine near-duplicate pairs (brute-force exactness baseline; "
    "LSH-bucketed variant is the scale path).",
)
def dd_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return (
        similarity.cosine_neardup_pairs(
            t["embeddings"], "vec_id", "embedding", threshold=0.40,
            n_rows=_footer_rows(sf_dir, "embeddings"),
        )
        # rounded: dot products associate differently per engine; see
        # w_exclude_current_row for the comparator-ordering rationale
        .withColumn("cos_sim", F.round("cos_sim", 6))
        .orderBy("id_a", "id_b")
    )


# md5-derived uniform hash in [0,1): 13 hex digits = 52 bits, exactly
# representable in a double → both engines divide identically. The
# Spark twin is operators/dedup.hash01_52bit — exactly two definitions
# repo-wide, one per dialect (r15 review: was four copies).
_DUCK_HASH01 = """
    (CAST(list_sum(list_transform(range(1, 14),
        i -> (strpos('0123456789abcdef', substr(md5(CAST({col} AS VARCHAR)), i, 1)) - 1)
             * power(16, 13 - i))) AS BIGINT) / CAST(power(2, 52) AS DOUBLE))
"""


def _spark_hash01(col):
    from pg_lake_spark.operators.dedup import hash01_52bit

    return hash01_52bit(col)


@query(
    "sk_kmv_distinct",
    oracle=f"""
    WITH bottom AS (
        SELECT DISTINCT {_DUCK_HASH01.format(col='l_partkey')} AS h
        FROM lineitem
        ORDER BY h LIMIT 256
    )
    SELECT 255.0 / max(h) AS est_distinct, 256 AS k FROM bottom
    """,
    doc="KMV bottom-k distinct sketch over l_partkey — deterministic and "
    "engine-portable (the 'novel sketch' custom-operator slot; estimate "
    "reproduced exactly by the SQL oracle).",
)
def sk_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return dedup.kmv_distinct_estimate(t["lineitem"], "l_partkey", k=256)


# ---------------------------------------------------------------------------
# Dataset assembly: deterministic splits + sequence packing
# ---------------------------------------------------------------------------

@query(
    "ds_train_val_split",
    oracle=f"""
    SELECT split, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM (
        SELECT CASE WHEN h < 0.8 THEN 'train'
                    WHEN h < 0.9 THEN 'val'
                    ELSE 'test' END AS split,
               n_chars
        FROM (SELECT {_DUCK_HASH01.format(col='doc_id')} AS h, n_chars FROM documents) t
    ) s
    GROUP BY split
    ORDER BY split
    """,
    doc="Deterministic 80/10/10 train/val/test split by content-stable "
    "hash — reproducible across runs/engines, no sampling state; the "
    "standard split primitive for training-data pipelines.",
)
def ds_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    h = _spark_hash01("doc_id")
    return (
        t["documents"]
        .select(
            F.when(h < 0.8, "train").when(h < 0.9, "val").otherwise("test").alias("split"),
            "n_chars",
        )
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("total_chars"))
        .orderBy("split")
    )


@query(
    "ds_pack_sequences",
    oracle="""
    SELECT bucket, pack_id, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
    FROM (
        SELECT bucket, doc_id, n_tokens,
               CAST(floor((sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                                               ROWS UNBOUNDED PRECEDING) - n_tokens)
                          / 2048.0) AS BIGINT) AS pack_id
        FROM (
            SELECT doc_id % 16 AS bucket, doc_id,
                   CAST(len(list_filter(string_split_regex(text, '\\s+'),
                            w -> w != '')) AS BIGINT) AS n_tokens
            FROM documents
        ) tok
    ) packed
    GROUP BY bucket, pack_id
    ORDER BY bucket, pack_id
    """,
    doc="Greedy sequence packing to a 2048-token budget: docs stream in "
    "stable order within hash buckets, a running token cumsum assigns "
    "pack ids. Buckets bound window-state and parallelize packing — "
    "the contiguous-fill packing used for LLM pretraining batches.",
)
def ds_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    tok = t["documents"].select(
        (F.col("doc_id") % 16).alias("bucket"),
        "doc_id",
        textstats.token_count_ws("text").cast("bigint").alias("n_tokens"),
    )
    w = Window.partitionBy("bucket").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    packed = tok.withColumn(
        "pack_id",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / 2048.0).cast("bigint"),
    )
    return (
        packed.groupBy("bucket", "pack_id")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("pack_tokens"))
        .orderBy("bucket", "pack_id")
    )


@query(
    "ts_gapfill_rollup",
    oracle="""
    WITH bounds AS (
        SELECT date_trunc('day', min(ts)) AS lo, date_trunc('day', max(ts)) AS hi
        FROM events
    ),
    grid AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day, et.event_type
        FROM bounds, (SELECT DISTINCT event_type FROM events) et
    ),
    agg AS (
        SELECT date_trunc('day', ts) AS day, event_type,
               count(*) AS n, sum(value) AS sum_value
        FROM events GROUP BY day, event_type
    )
    SELECT g.day, g.event_type,
           coalesce(a.n, 0) AS n,
           coalesce(a.sum_value, 0.0) AS sum_value
    FROM grid g LEFT JOIN agg a ON a.day = g.day AND a.event_type = g.event_type
    ORDER BY g.day, g.event_type
    """,
    doc="Hypertable-style rollup with gap filling: a generated day×type "
    "grid left-joined to the aggregate so empty buckets appear as zero "
    "rows (the time_bucket_gapfill pattern; grid via sequence(), no UDF).",
)
def ts_gapfill_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    ev = t["events"]
    bounds = ev.agg(
        F.date_trunc("day", F.min("ts")).alias("lo"), F.date_trunc("day", F.max("ts")).alias("hi")
    )
    grid = (
        bounds.select(
            F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("day")
        )
        .crossJoin(ev.select("event_type").distinct())
    )
    agg = ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("a_day"),
        F.col("event_type").alias("a_type"),
    ).agg(F.count(F.lit(1)).alias("a_n"), F.sum("value").alias("a_sum"))
    return (
        grid.join(
            agg,
            (F.col("a_day") == F.col("day")) & (F.col("a_type") == F.col("event_type")),
            "left_outer",
        )
        .select(
            "day",
            "event_type",
            F.coalesce(F.col("a_n"), F.lit(0)).alias("n"),
            F.coalesce(F.col("a_sum"), F.lit(0.0)).alias("sum_value"),
        )
        .orderBy("day", "event_type")
    )


@query(
    "ds_weighted_sample",
    oracle=f"""
    SELECT doc_id, n_chars
    FROM (
        SELECT doc_id, n_chars,
               pow({_DUCK_HASH01.format(col='doc_id')}, 1.0 / n_chars) AS key
        FROM documents
    ) t
    ORDER BY key DESC, doc_id
    LIMIT 100
    """,
    doc="Weighted sampling without replacement (Efraimidis-Spirakis A-ES: "
    "top-k by u^(1/w) with a content-stable uniform u) — deterministic, "
    "single top-k pass, the standard quality-weighted corpus sampler.",
)
def ds_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    key = F.pow(_spark_hash01("doc_id"), F.lit(1.0) / F.col("n_chars"))
    return (
        t["documents"]
        .select("doc_id", "n_chars", key.alias("key"))
        .orderBy(F.col("key").desc(), "doc_id")
        .limit(100)
        .select("doc_id", "n_chars")
    )


@query(
    "ds_chunk_documents",
    oracle="""
    SELECT doc_id, CAST(i AS INT) AS chunk_id,
           md5(substr(text, CAST(i AS INT) * 150 + 1, 200)) AS chunk_md5,
           length(substr(text, CAST(i AS INT) * 150 + 1, 200)) AS chunk_len,
           CAST(n_chunks AS INT) AS n_chunks
    FROM (
        SELECT doc_id, text, n_chunks, unnest(range(0, n_chunks)) AS i
        FROM (
            SELECT doc_id, text,
                   greatest(1, CAST(ceil((length(text) - 50) / 150.0) AS BIGINT)) AS n_chunks
            FROM documents WHERE doc_id <= 300
        ) d
    ) e
    ORDER BY doc_id, chunk_id
    """,
    doc="Sliding-window document chunking (200 chars, 50 overlap) — the "
    "context-window/RAG chunking primitive. Map-only generator explode; "
    "chunk content pinned via md5 against DuckDB's substr arithmetic.",
)
def ds_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pg_lake_spark.operators.chunking import chunk_documents

    t = load_tables(spark, sf_dir)
    docs = t["documents"].filter(F.col("doc_id") <= 300)
    return (
        chunk_documents(docs, size=200, overlap=50)
        .select(
            "doc_id",
            "chunk_id",
            F.md5("chunk").alias("chunk_md5"),
            F.length("chunk").cast("bigint").alias("chunk_len"),
            "n_chunks",
        )
        .orderBy("doc_id", "chunk_id")
    )


@query(
    "ds_stratified_sample",
    oracle="""
    SELECT lang, doc_id
    FROM (
        SELECT lang, doc_id,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk,
               CAST(ceil(0.2 * count(*) OVER (PARTITION BY lang)) AS INT) AS keep
        FROM documents
    ) s
    WHERE rk <= keep
    ORDER BY lang, doc_id
    """,
    doc="Deterministic 20% stratified sample: every language stratum is "
    "represented at the same rate via an md5-ranked per-stratum head — "
    "no RNG, reproducible across engines, small strata never vanish "
    "(plain hash-filter sampling loses them to variance).",
)
def ds_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pg_lake_spark.operators.chunking import stratified_sample

    t = load_tables(spark, sf_dir)
    out = stratified_sample(
        t["documents"], stratum_col="lang", fraction=0.2, id_col="doc_id"
    )
    return out.select("lang", "doc_id").orderBy("lang", "doc_id")


@query(
    "ds_mix_corpora",
    oracle="""
    SELECT lang, count(*) AS n_rows, CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM (
        SELECT lang, n_chars,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        FROM documents
    ) s
    WHERE rk <= CASE lang WHEN 'en' THEN 100 WHEN 'de' THEN 40 WHEN 'fr' THEN 30
                          WHEN 'es' THEN 20 WHEN 'zh' THEN 10 ELSE 0 END
    GROUP BY lang
    ORDER BY lang
    """,
    doc="Pretraining corpus mixing: a 200-row target mixed 50/20/15/10/5 "
    "across languages, each source contributing its quota in md5(id) "
    "order — the deterministic mixture-weights step of dataset assembly.",
)
def ds_mix_corpora(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pg_lake_spark.operators.chunking import mix_corpora

    t = load_tables(spark, sf_dir)
    mixed = mix_corpora(
        t["documents"],
        source_col="lang",
        weights={"en": 0.5, "de": 0.2, "fr": 0.15, "es": 0.1, "zh": 0.05},
        target_rows=200,
        id_col="doc_id",
    )
    return (
        mixed.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("lang")
    )


@query(
    "sk_hll_bounded_error",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS exact_distinct,
           TRUE AS within_tolerance
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc="HyperLogLog++ distinct sketch (Spark's native approx_count_"
    "distinct at rsd=0.02) validated the only way an approximation can "
    "be oracle-checked: the query emits the EXACT count plus a boolean "
    "asserting |approx-exact|/exact < 3*rsd, and the oracle expects "
    "TRUE — the sketch's error bound is the checked contract (companion "
    "to the exact KMV sketch in sk_kmv_distinct).",
)
def sk_hll_bounded_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    # Pre-dedup instead of mixing COUNT(DISTINCT) with the HLL agg
    # (r16 optimization round): the mixed form planned an Expand that
    # pushed 2x the fact rows through the first aggregate and two
    # exchanges. Deduping (flag, partkey) map-side first shuffles only
    # the distinct pairs; COUNT(*) over them IS the exact distinct, and
    # the HLL estimate is identical by construction — register updates
    # are idempotent, so the sketch of a multiset equals the sketch of
    # its distinct set. 2.23s -> 1.24s median at sf0.1 (rows and schema
    # frame-equal, approx value included).
    d = t["lineitem"].select("l_returnflag", "l_partkey").distinct()
    agg = d.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("exact_distinct"),
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx"),
    )
    return agg.select(
        "l_returnflag",
        "exact_distinct",
        (
            F.abs(F.col("approx") - F.col("exact_distinct"))
            / F.col("exact_distinct")
            < 0.06
        ).alias("within_tolerance"),
    ).orderBy("l_returnflag")


@query(
    "dd_url_canonical",
    oracle="""
    SELECT canonical_url, count(*) AS n_copies, min(doc_id) AS keep_id
    FROM (
        SELECT doc_id,
               source || '.example.com/docs/' || CAST(doc_id % 50 AS VARCHAR)
               || CASE WHEN doc_id % 4 = 3 THEN ''
                       ELSE '?q=' || CAST(doc_id % 7 AS VARCHAR) END AS canonical_url
        FROM documents
    ) s
    GROUP BY canonical_url
    ORDER BY canonical_url
    """,
    doc="URL-canonicalization dedup (operators/dedup.canonical_url — "
    "the first key every web-crawl pipeline applies): four synthetic "
    "URL variants per doc (www + utm params / http + trailing slash / "
    "reordered params + tracking / fragment) must all collapse to the "
    "canonical form the oracle computes arithmetically from the same "
    "components. Pure expressions, one hash aggregate.",
)
def dd_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pg_lake_spark.operators.dedup import url_dedup_groups

    t = load_tables(spark, sf_dir)
    d = t["documents"]
    k = F.col("doc_id") % 50
    q = F.col("doc_id") % 7
    host = F.concat(F.col("source"), F.lit(".example.com/docs/"), k.cast("string"))
    url = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit("https://www."), host, F.lit("?utm_source=x&q="), q.cast("string")),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(F.lit("http://"), host, F.lit("/?q="), q.cast("string")),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(F.lit("https://"), host, F.lit("?q="), q.cast("string"), F.lit("&utm_campaign=y")),
        )
        .otherwise(F.concat(F.lit("https://"), host, F.lit("#top")))
    )
    docs = d.select("doc_id", url.alias("url"))
    return url_dedup_groups(docs, "url", "doc_id").orderBy("canonical_url")


@query(
    "txt_pii_scrub",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS n_emails,
           CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS n_phones,
           1 AS n_ips,
           'Reach '
             || CASE WHEN doc_id % 2 = 0 THEN '<EMAIL>' ELSE 'nobody' END
             || CASE WHEN doc_id % 3 = 0 THEN ' call <PHONE>' ELSE '' END
             || ' from <IP> now' AS redacted
    FROM documents
    WHERE doc_id <= 400
    ORDER BY doc_id
    """,
    doc="PII scrub (operators/textstats.pii_counts/redact_pii): "
    "deterministic synthesized emails/phones/IPv4s must be counted and "
    "replaced by typed placeholders; the oracle reconstructs the ground "
    "truth arithmetically from the same components, so the regex path "
    "is checked against construction, not another regex engine.",
)
def txt_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pg_lake_spark.operators import textstats as T

    t = load_tables(spark, sf_dir)
    d = t["documents"].filter(F.col("doc_id") <= 400)
    text = F.concat(
        F.lit("Reach "),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit("a"), F.col("doc_id").cast("string"), F.lit("@test.org")),
        ).otherwise(F.lit("nobody")),
        F.when(
            F.col("doc_id") % 3 == 0, F.lit(" call 555-123-4567")
        ).otherwise(F.lit("")),
        F.lit(" from 10.0.0."),
        (F.col("doc_id") % 200).cast("string"),
        F.lit(" now"),
    )
    src = d.select("doc_id", text.alias("t"))
    counts = T.pii_counts("t")
    return src.select(
        "doc_id",
        counts["n_emails"].cast("int").alias("n_emails"),
        counts["n_phones"].cast("int").alias("n_phones"),
        counts["n_ips"].cast("int").alias("n_ips"),
        T.redact_pii("t").alias("redacted"),
    ).orderBy("doc_id")


@query(
    "txt_gopher_quality",
    oracle="""
    SELECT doc_id, n_words,
           round(mean_word_len, 6) AS mean_word_len,
           round(alpha_word_frac, 6) AS alpha_word_frac,
           (n_words >= 50 AND n_words <= 100000
            AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
            AND symbol_ratio <= 0.1 AND alpha_word_frac >= 0.8) AS keep
    FROM (
        SELECT doc_id,
               len(ws) AS n_words,
               list_sum(list_transform(ws, w -> CAST(len(w) AS DOUBLE)))
                   / greatest(len(ws), 1) AS mean_word_len,
               CAST(len(regexp_extract_all(text, '#'))
                    + len(regexp_extract_all(text, '\\.\\.\\.')) AS DOUBLE)
                   / greatest(len(ws), 1) AS symbol_ratio,
               CAST(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
                   / greatest(len(ws), 1) AS alpha_word_frac
        FROM (
            SELECT doc_id, text,
                   list_filter(string_split_regex(trim(text), '\\s+'),
                               w -> w != '') AS ws
            FROM documents WHERE doc_id <= 500
        ) w
    ) s
    ORDER BY doc_id
    """,
    doc="Gopher/MassiveText quality signals (Rae et al. 2021 appendix A "
    "— public rules): word count, mean word length, symbol-to-word "
    "ratio, alphabetic-word fraction and the keep verdict, computed as "
    "pure Column expressions and cross-checked against DuckDB list "
    "functions.",
)
def txt_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pg_lake_spark.operators import textstats as T

    t = load_tables(spark, sf_dir)
    d = t["documents"].filter(F.col("doc_id") <= 500)
    s = T.gopher_signals("text")
    return d.select(
        "doc_id",
        s["n_words"].cast("bigint").alias("n_words"),
        F.round(s["mean_word_len"], 6).alias("mean_word_len"),
        F.round(s["alpha_word_frac"], 6).alias("alpha_word_frac"),
        (
            # the length/symbol/alpha subset of gopher_keep (the SQL
            # oracle mirrors exactly these six terms; the bullet/
            # ellipsis line rules need multi-line text) — thresholds
            # shared with the operator, never re-hardcoded here
            (s["n_words"] >= T.GOPHER_MIN_WORDS)
            & (s["n_words"] <= T.GOPHER_MAX_WORDS)
            & (s["mean_word_len"] >= T.GOPHER_MIN_MEAN_WORD_LEN)
            & (s["mean_word_len"] <= T.GOPHER_MAX_MEAN_WORD_LEN)
            & (s["symbol_word_ratio"] <= T.GOPHER_MAX_SYMBOL_RATIO)
            & (s["alpha_word_frac"] >= T.GOPHER_MIN_ALPHA_FRAC)
        ).alias("keep"),
    ).orderBy("doc_id")


@query(
    "dd_decontaminate",
    oracle="""
    WITH sh AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(1, greatest(len(ws) - 7, 1) + 1),
                   i -> array_to_string(ws[i:i+7], ' ')))) AS s
        FROM (SELECT doc_id,
                     list_filter(string_split_regex(text, '\\s+'), w -> w != '') AS ws
              FROM documents) t
    ),
    ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0)
    SELECT d.doc_id,
           EXISTS (SELECT 1 FROM sh JOIN ev USING (s)
                   WHERE sh.doc_id = d.doc_id) AS contaminated
    FROM documents d
    ORDER BY d.doc_id
    """,
    doc="Eval-set decontamination (the public GPT-3/PaLM 8-gram overlap "
    "procedure): docs with doc_id % 97 = 0 stand in for the benchmark; "
    "every training doc sharing any word 8-gram with them is flagged. "
    "Broadcast shingle equi-join — linear in corpus shingles, no "
    "all-pairs.",
)
def dd_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    evalset = docs.filter(F.col("doc_id") % 97 == 0)
    return dedup.decontaminate_flags(
        docs, evalset, id_col="doc_id", text_col="text", shingle_n=8
    ).orderBy("doc_id")


@query(
    "dd_bloom_semi_join",
    oracle="""
    SELECT b.doc_id
    FROM documents b
    WHERE b.doc_id % 3 <> 0
      AND md5(substr(b.text, 1, 40)) IN (
        SELECT md5(substr(a.text, 1, 40)) FROM documents a WHERE a.doc_id % 3 = 0
      )
    ORDER BY b.doc_id
    """,
    doc="Cross-corpus membership: which probe docs duplicate a corpus "
    "doc's content. Runs as a Bloom-prefiltered EXACT semi join "
    "(operators/membership.py): the filter is a distributed (word, "
    "bits) bit_or aggregation, probing is a broadcast join — only "
    "bloom-positive rows (matches + ~1% FPs) reach the exact join, so "
    "at 100 TB the big shuffle moves a fraction of the probe corpus. "
    "No false negatives, hence the exact SQL oracle.",
)
def dd_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pg_lake_spark.operators.membership import bloom_semi_join

    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    # fingerprint = content-prefix hash, so the corpus's engineered
    # near-dup families produce genuine cross-split hits
    fp = F.md5(F.substring("text", 1, 40))
    corpus = docs.filter(F.col("doc_id") % 3 == 0).select(fp.alias("h"))
    probe = docs.filter(F.col("doc_id") % 3 != 0).select("doc_id", fp.alias("h"))
    # n_estimate: the parquet footer row count is a free UPPER bound on
    # the corpus key count (skips bloom_semi_join's sizing count job);
    # an overestimate only makes the filter larger/stricter — the exact
    # final semi-join keeps the output identical either way.
    return (
        bloom_semi_join(
            probe, corpus, "h", fpp=0.01, n_estimate=_footer_rows(sf_dir, "documents")
        )
        .select("doc_id")
        .orderBy("doc_id")
    )


@query(
    "ds_temperature_mix",
    # Oracle recomputes the mT5/XLM-R temperature rule in SQL: weight
    # n_s^(1/T) normalized, quota = round(w*target), rows chosen in
    # md5(id) order per source. T=2, target=400 chosen so no quota
    # lands near a .5 rounding boundary (engines round halves
    # differently; the corpus is fixed, so this is deterministic).
    oracle="""
    WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
    w AS (SELECT lang, pow(n, 0.5) AS u FROM c),
    q AS (SELECT lang, CAST(round(u / (SELECT sum(u) FROM w) * 400, 0) AS INT) AS quota
          FROM w),
    ranked AS (
        SELECT d.lang, d.n_chars,
               row_number() OVER (PARTITION BY d.lang
                                  ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rk
        FROM documents d
    )
    SELECT r.lang, count(*) AS n_rows, CAST(sum(r.n_chars) AS BIGINT) AS total_chars
    FROM ranked r JOIN q ON r.lang = q.lang
    WHERE r.rk <= q.quota
    GROUP BY r.lang
    ORDER BY r.lang
    """,
    doc="Temperature-scaled corpus mixing (operators/chunking."
    "temperature_mix — the mT5/XLM-R multilingual sampling rule): "
    "source weights n^(1/T) normalized, T=2 flattening the language "
    "distribution toward uniform before deterministic md5-order "
    "selection. The per-source count collect is O(#sources), a bounded "
    "reduction; selection is one window-filter pass.",
)
def ds_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pg_lake_spark.operators.chunking import temperature_mix

    t = load_tables(spark, sf_dir)
    mixed = temperature_mix(
        t["documents"],
        source_col="lang",
        temperature=2.0,
        target_rows=400,
        id_col="doc_id",
    )
    return (
        mixed.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("lang")
    )


@query(
    "dd_repeated_spans",
    oracle="""
    WITH words AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(text, '[ \\t\\n\\v\\f\\r]+', ' ', 'g')), ' ') AS w
      FROM documents
    ), wins AS (
      SELECT doc_id, array_to_string(w[i:i+7], ' ') AS span
      FROM words, LATERAL (
        SELECT unnest(generate_series(1, greatest(len(w) - 7, 1))) AS i
      ) t
    )
    SELECT span,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           count(*) AS n_occ
    FROM wins
    GROUP BY span
    HAVING count(DISTINCT doc_id) >= 2
    ORDER BY n_occ DESC, span
    LIMIT 50
    """,
    doc="Cross-document repeated 8-word spans (exact-substring dedup "
    "signal, Lee et al. 'Deduplicating Training Data Makes LMs "
    "Better'): operators/dedup.repeated_spans with hash_only=False so "
    "the DuckDB oracle groups the identical span STRINGS. The scale "
    "path (hash_only=True, default) shuffles 8-byte xxhash64 keys "
    "instead — pinned equivalent by pytest.",
)
def dd_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return dedup.repeated_spans(
        t["documents"], "doc_id", "text", window=8, min_docs=2, hash_only=False
    ).limit(50)


@query(
    "dd_maximal_spans",
    oracle="""
    WITH words AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(text, '[ \\t\\n\\v\\f\\r]+', ' ', 'g')),
                          ' ') AS w
      FROM documents
    ), wins AS (
      SELECT doc_id, i AS pos, array_to_string(w[i:i+7], ' ') AS span
      FROM words, LATERAL (
        SELECT unnest(generate_series(1, len(w) - 7)) AS i
      ) t
      WHERE len(w) >= 8
    ), rep AS (
      SELECT span FROM wins
      GROUP BY span HAVING count(DISTINCT doc_id) >= 2
    ), hot AS (
      SELECT wins.doc_id, wins.pos,
             pos - row_number() OVER (PARTITION BY wins.doc_id
                                      ORDER BY wins.pos) AS grp
      FROM wins JOIN rep USING (span)
    ), isl AS (
      SELECT doc_id, grp,
             CAST(min(pos) AS BIGINT) AS start_tok,
             CAST(max(pos) + 7 AS BIGINT) AS end_tok
      FROM hot GROUP BY 1, 2
    )
    SELECT isl.doc_id AS doc_id, start_tok, end_tok,
           CAST(end_tok - start_tok + 1 AS BIGINT) AS n_tokens,
           array_to_string(words.w[start_tok:end_tok], ' ') AS span
    FROM isl JOIN words ON isl.doc_id = words.doc_id
    ORDER BY isl.doc_id, start_tok
    """,
    doc="Maximal repeated substrings (Lee et al. suffix-array output "
    "shape): overlapping repeated 8-word windows merged into maximal "
    "per-document spans via gaps-and-islands over (doc, pos). The "
    "oracle independently rebuilds each maximal span by SLICING the "
    "original token array, cross-checking the operator's heads+tail "
    "window reconstruction. hash_only=True (r17): the span group + "
    "semi-join keys are 8-byte token-tuple hashes instead of joined "
    "span strings — LOSSLESS here because the output span text is "
    "rebuilt from the carried tokens, never the key (a 2^-64 "
    "collision could only falsely mark a window hot, the same bound "
    "the certified LSH rows document); output proven row-identical "
    "to the string-keyed form at every SF.",
)
def dd_maximal_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    # hash_only=True (r17, guide §2.3 — shuffle keys, not payloads):
    # sf0.1 noop A/B 2.53 -> 2.44s min, sf1 10.45 -> 9.80s min, rows
    # exceptAll-identical both ways at sf0.1/sf1. An in-array
    # map-only window-hash restructure (no corpus (doc,pos) exchange)
    # was measured and ruled out: the interpreted
    # transform(sequence, xxhash64(slice)) generation costs ~6s at
    # sf1 — more than the exchange it saves on this plan.
    return dedup.maximal_repeated_spans(
        t["documents"], "doc_id", "text",
        window=8, min_docs=2, hash_only=True,
    )


@query(
    "txt_bm25_topk",
    oracle="""
    WITH docs AS (
      SELECT doc_id,
             string_split(lower(trim(regexp_replace(text, '[ \\t\\n\\v\\f\\r]+', ' ',
                                                    'g'))), ' ') AS w
      FROM documents
    ), consts AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(len(w)) AS DOUBLE) / count(*) AS avgdl
      FROM docs
    ), q(query_id, term) AS (
      VALUES ('q_joins', 'join'), ('q_joins', 'hash'),
             ('q_joins', 'merge'),
             ('q_scan', 'scan'), ('q_scan', 'filter'),
             ('q_scan', 'parquet'),
             ('q_agg', 'agg'), ('q_agg', 'window'), ('q_agg', 'order')
    ), tok AS (
      SELECT doc_id, len(w) AS dl, unnest(w) AS t FROM docs
    ), tf AS (
      SELECT doc_id, dl, t, CAST(count(*) AS DOUBLE) AS tf
      FROM tok
      WHERE t IN (SELECT term FROM q)
      GROUP BY 1, 2, 3
    ), dfreq AS (
      SELECT t, count(*) AS df FROM tf GROUP BY 1
    ), scored AS (
      SELECT q.query_id, tf.doc_id,
             round(sum(
               ln(1 + (c.n - df + 0.5) / (df + 0.5))
               * tf * 2.2
               / (tf + 1.2 * (0.25 + 0.75 * dl / c.avgdl))
             ), 6) AS score
      FROM tf
      JOIN dfreq USING (t)
      JOIN q ON q.term = tf.t, consts c
      GROUP BY 1, 2
    )
    SELECT query_id, doc_id, score,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, doc_id)
                AS INT) AS rnk
    FROM scored
    QUALIFY rnk <= 10
    ORDER BY query_id, rnk
    """,
    doc="BM25 top-k retrieval (operators/textstats.bm25_topk): Okapi "
    "BM25 with Robertson idf over three term queries; tokens filter "
    "to the query-term union BEFORE the shuffle, so the scored frame "
    "is O(matching tokens). Exact integer tf/df/dl feed the double "
    "idf identically in both engines; scores round to 6dp before the "
    "id-tie-broken per-query row_number caps at k=10. Beyond-"
    "reference training-pipeline surface (corpus search / eval "
    "mining / hard-negative sampling).",
)
def txt_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pg_lake_spark.operators.textstats import bm25_topk

    t = load_tables(spark, sf_dir)
    return bm25_topk(
        t["documents"], "doc_id", "text",
        {
            "q_joins": ["join", "hash", "merge"],
            "q_scan": ["scan", "filter", "parquet"],
            "q_agg": ["agg", "window", "order"],
        },
        k=10,
    )


@query(
    "txt_unigram_surprisal",
    oracle="""
    WITH docs AS (
      SELECT doc_id,
             string_split(lower(trim(regexp_replace(text, '[ \\t\\n\\v\\f\\r]+', ' ',
                                                    'g'))), ' ') AS w
      FROM documents
    ), tok AS (
      SELECT doc_id, len(w) AS dl, unnest(w) AS t FROM docs
    ), corpus AS (
      SELECT t, count(*) AS c FROM tok GROUP BY 1
    ), total AS (
      SELECT CAST(sum(c) AS DOUBLE) AS tt FROM corpus
    ), tf AS (
      SELECT doc_id, dl, t, count(*) AS tf FROM tok GROUP BY 1, 2, 3
    )
    SELECT tf.doc_id,
           CAST(tf.dl AS BIGINT) AS n_tokens,
           round(sum(tf.tf * -ln(c.c / total.tt)) / tf.dl, 6)
             AS surprisal
    FROM tf JOIN corpus c USING (t), total
    GROUP BY tf.doc_id, tf.dl
    ORDER BY tf.doc_id
    """,
    doc="Per-document mean unigram surprisal (CCNet-style perplexity "
    "proxy, operators/textstats.unigram_surprisal): corpus unigram "
    "distribution from exact counts, per-doc token-weighted -ln p "
    "mean. One explode feeds both groupBys; the prob join is "
    "token-keyed (vocabulary never broadcasts). Beyond-reference "
    "training-pipeline quality signal.",
)
def txt_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pg_lake_spark.operators.textstats import unigram_surprisal

    t = load_tables(spark, sf_dir)
    return unigram_surprisal(t["documents"], "doc_id", "text")


@query(
    "dd_semantic_prune",
    # The sin-derived hyperplanes are deterministic math, so the
    # bucketing replays exactly in SQL (same convention as
    # sim_lsh_topk): seed=0 -> freq=(p+1)*12.9898, component_j =
    # sin(freq*(j+1)+78.233), bucket = sum 2^p [dot >= 0].
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    planes AS (
      SELECT p.p,
             list_transform(range(1, 65),
                 j -> sin((p.p + 1) * 12.9898 * j + 78.233)) AS plane
      FROM (SELECT unnest(range(0, 4)) AS p) p
    ),
    buckets AS (
      SELECT e.vec_id, e.v,
             CAST(sum(CASE WHEN list_inner_product(e.v, pl.plane) >= 0
                           THEN CAST(power(2, pl.p) AS BIGINT)
                           ELSE 0 END) AS INT) AS bkt
      FROM e, planes pl
      GROUP BY e.vec_id, e.v
    ),
    drops AS (
      SELECT DISTINCT c.vec_id
      FROM buckets a JOIN buckets c
        ON a.bkt = c.bkt AND a.vec_id < c.vec_id
      WHERE list_cosine_similarity(a.v, c.v) >= 0.35
    )
    SELECT e.vec_id, CAST(count(*) OVER () AS BIGINT) AS n_survivors
    FROM e ANTI JOIN drops USING (vec_id)
    ORDER BY e.vec_id
    """,
    doc="SemDeDup-style semantic pruning "
    "(operators/similarity.semantic_dedup): deterministic hyperplane "
    "buckets stand in for the k-means partition, keep-lowest-id "
    "within every cosine>=0.35 near-dup group. The oracle replays "
    "the exact plane math and the pairwise gate in SQL — an exact "
    "oracle for an 'approximate' operator. Beyond-reference "
    "training-pipeline surface.",
)
def dd_semantic_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pg_lake_spark.operators.similarity import semantic_dedup

    t = load_tables(spark, sf_dir)
    out = semantic_dedup(
        t["embeddings"], "vec_id", "embedding",
        dim=64, threshold=0.35, n_planes=4,
    )
    survivors = out.select("vec_id")
    # a partition-less count window would move every survivor row onto
    # ONE task (Spark even warns "No Partition Defined for Window");
    # the broadcast 1-row aggregate attaches the same total without
    # collapsing parallelism (r15 review).
    n = survivors.agg(F.count(F.lit(1)).cast("bigint").alias("n_survivors"))
    return survivors.crossJoin(F.broadcast(n)).orderBy("vec_id")
