"""Streaming queries (SURVEY §2.11 north-star; no reference analogue).

Each runs a real Structured Streaming pipeline (file source → watermark
→ windowed/stateful aggregation → memory sink, availableNow trigger)
over the bounded events table, so the result is deterministic and a
batch SQL oracle can verify it value-level:

- tumbling 1h windows  ↔ date_trunc('hour', ts)
- session windows      ↔ lag-gap-islands over (user_id, ts)
- stateful totals      ↔ plain groupBy
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pg_lake_spark.queries.registry import query
from pg_lake_spark.session import load_tables
from pg_lake_spark.streaming import (
    read_events_stream,
    run_available_now,
    running_user_totals,
    session_window_agg,
    tumbling_window_agg,
)


@query(
    "st_tumbling_counts",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           count(*) AS n_events,
           sum(value) AS sum_value
    FROM events
    GROUP BY window_start, event_type
    ORDER BY window_start, event_type
    """,
    doc="Streaming tumbling-window counts (watermark + window agg, availableNow).",
)
def st_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    sdf = tumbling_window_agg(read_events_stream(spark, sf_dir), window="1 hour")
    # key space = windows x types: narrow state partitions cut
    # per-partition state-store fixed cost (see run_available_now
    # docstring) without touching scan width. r16 re-measure at sf0.1
    # (3,600 keys): 8 -> 1.70s, 4 -> 1.23s, 2 -> 1.00s min; the derived
    # width lands on the floor (4) here — distributed, half of 8's
    # fixed cost — and grows with the corpus's TIME SPAN at scale
    # (r17: the pinned constant became _keyspace_state_width).
    width = _keyspace_state_width(spark, sf_dir, "events.parquet", slide_seconds=3600)
    return run_available_now(sdf, spark, state_partitions=width).orderBy(
        "window_start", "event_type"
    )


#: Domain bound on distinct event types. Parquet footers carry min/max
#: but no distinct counts, so the TYPE dimension of the state key space
#: uses this schema-level bound (the corpus has 5; 8 leaves headroom).
#: The dimension that actually grows with a 100 TB corpus — the number
#: of windows — is derived from footer timestamps, never pinned.
_EVENT_TYPE_BOUND = 8


def _keyspace_state_width(
    spark: SparkSession,
    sf_dir: str,
    fname: str,
    *,
    slide_seconds: float,
    ts_col: str = "ts",
    keys_per_partition: int = 2048,
) -> int | None:
    """State width for bounded-KEY-space window aggregations (tumbling/
    sliding), derived from the key space instead of a pinned constant
    (r17, VERDICT r16 #3; guide §2.2 — make partitioning scale-adaptive).

    Keys = panes x event types; panes = corpus time span / slide, read
    from the parquet footer's timestamp min/max (driver-side metadata,
    no job — the _footer_rows pattern). ~``keys_per_partition`` keys per
    state partition, floored at 4 (keeps the state stage distributed;
    the sf0.1 sweep value), capped at the session parallelism. None on
    any metadata failure → the engine default (caller's fallback path).
    """
    import math
    import os

    import pyarrow.parquet as pq

    try:
        md = pq.ParquetFile(os.path.join(sf_dir, fname)).metadata
        idx = next(
            i for i in range(md.num_columns)
            if md.row_group(0).column(i).path_in_schema == ts_col
        )
        lo, hi = None, None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                return None
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        span_s = (hi - lo).total_seconds()
    except Exception:
        return None
    if span_s < 0:
        return None
    panes = math.ceil(span_s / slide_seconds) + 1
    n_keys = panes * _EVENT_TYPE_BOUND
    par = spark.sparkContext.defaultParallelism
    return max(4, min(par, math.ceil(n_keys / keys_per_partition)))


def _scaled_state_width(spark: SparkSession, sf_dir: str, fname: str) -> int | None:
    """Scale-adaptive streaming state width (r16, guide §2: derive
    partitioning from input size, not a constant): for state that grows
    with the DATA (per-user totals, session windows, join buffers,
    dedup keys), the width follows the source size — ~one state
    partition per 32 MB of input, floored at 4, capped at the session's
    parallelism. At sf0.1 (events ≈ 2 MB) that is 4 partitions instead
    of 32 near-empty state stores each paying provider/snapshot fixed
    cost per micro-batch; a TB-scale source gets the full width.
    Bounded-KEY-space aggregations (tumbling/sliding) instead pin a
    small constant — see st_tumbling_counts."""
    import os

    try:
        src_bytes = os.path.getsize(os.path.join(sf_dir, fname))
    except OSError:
        return None
    par = spark.sparkContext.defaultParallelism
    return max(4, min(par, -(-src_bytes // (32 << 20))))


@query(
    "st_session_windows",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        SELECT user_id, ts,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS session_no
        FROM marked
    )
    SELECT min(ts) AS session_start, user_id, count(*) AS n_events
    FROM numbered
    GROUP BY user_id, session_no
    ORDER BY user_id, session_start
    """,
    doc="Streaming session windows (30 min gap) vs batch lag-gap-islands oracle.",
)
def st_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    sdf = session_window_agg(read_events_stream(spark, sf_dir), gap="30 minutes")
    # per-(user, session) state scales with the data → input-size-
    # derived width (sf0.1 A/B: ~2.0s at 32 partitions → ~1.5s at 4-8)
    width = _scaled_state_width(spark, sf_dir, "events.parquet")
    return run_available_now(sdf, spark, state_partitions=width).orderBy(
        "user_id", "session_start"
    )


@query(
    "st_stateful_user_totals",
    oracle="""
    SELECT user_id, count(*) AS n_events, sum(value) AS total_value
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
    doc="Custom stateful operator (applyInPandasWithState running totals); "
    "bounded single-batch source makes it equal the batch groupBy.",
)
def st_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    sdf = running_user_totals(read_events_stream(spark, sf_dir))
    # per-user state scales with the data → input-size-derived width
    width = _scaled_state_width(spark, sf_dir, "events.parquet")
    return run_available_now(
        sdf, spark, output_mode="update", state_partitions=width
    ).orderBy("user_id")


@query(
    "st_sliding_counts",
    oracle="""
    SELECT pane AS window_start, event_type, count(*) AS n_events
    FROM (
        SELECT unnest([date_trunc('hour', ts) - INTERVAL 1 HOUR,
                       date_trunc('hour', ts)]) AS pane,
               event_type
        FROM events
    ) panes
    GROUP BY window_start, event_type
    ORDER BY window_start, event_type
    """,
    doc="Streaming sliding windows (2h window, 1h slide): every event "
    "lands in two panes; the oracle unnests both pane starts.",
)
def st_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pg_lake_spark.streaming import sliding_window_agg

    sdf = sliding_window_agg(
        read_events_stream(spark, sf_dir), window="2 hours", slide="1 hour"
    )
    # same key-space-derived width as st_tumbling_counts: the pane count
    # is span/slide regardless of window width (each event lands in
    # window/slide panes, but the DISTINCT pane key count follows the
    # slide), so the slide is the denominator.
    width = _keyspace_state_width(spark, sf_dir, "events.parquet", slide_seconds=3600)
    return run_available_now(sdf, spark, state_partitions=width).orderBy(
        "window_start", "event_type"
    )


@query(
    "st_stream_dedup",
    oracle="""
    SELECT DISTINCT user_id, event_type
    FROM events
    ORDER BY user_id, event_type
    """,
    doc="Streaming exact dedup: Structured Streaming dropDuplicates "
    "keeps per-key state across micro-batches and emits each key once "
    "(append mode) — the streaming arm of the exact-dedup operator "
    "family; equals batch DISTINCT on the key columns for a bounded "
    "source.",
)
def st_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    sdf = (
        read_events_stream(spark, sf_dir)
        .select("user_id", "event_type")
        .dropDuplicates(["user_id", "event_type"])
    )
    # dedup state grows with the data → input-size-derived width
    # (measured 2.3s → ~1.3s at sf0.1; see _scaled_state_width)
    width = _scaled_state_width(spark, sf_dir, "events.parquet")
    return run_available_now(
        sdf, spark, output_mode="append", state_partitions=width
    ).orderBy("user_id", "event_type")


@query(
    "st_stream_lsh_neardup",
    # Same oracle as dd_lsh_candidates: the streaming banding computes
    # bit-identical signatures/buckets (streaming/neardup.py parity), so
    # the candidate set equals the batch pipeline's and the exact
    # all-pairs Jaccard is the oracle.
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             list_transform(range(len(ws) - 1),
                            i -> ws[i + 1] || ' ' || ws[i + 2]) AS s
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
    doc="STREAMING MinHash-LSH near-dup: applyInPandasWithState keeps "
    "per-bucket id and signature lists and emits gated candidate pairs "
    "as docs arrive; candidates are then exact-Jaccard verified "
    "batch-side by the batch pipeline's own verify stage. Signatures "
    "and bucket keys are bit-identical to the batch pipeline, so the "
    "batch query's oracle transfers. State layout: buckets "
    "array<long>, ids array<array<long>>, sigs array<array<array<long>>> "
    "(bigint bucket keys; checkpoints of the earlier string-keyed layout "
    "are refused on resume with STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE "
    "— restart such a stream with a fresh checkpointLocation).",
)
def st_stream_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from pg_lake_spark.operators.dedup import _auto_est_gate, verify_candidate_pairs
    from pg_lake_spark.streaming.neardup import stream_lsh_candidates

    path = os.path.join(sf_dir, "documents.parquet")
    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(
        os.path.join(sf_dir, "documents.[p]arquet")
    )
    # Coarse state-group count follows the CORPUS (free footer row
    # count, the dd_bloom_semi_join pattern): ~2048 (band,bucket) rows
    # per state group keeps a state row bounded at any scale while the
    # per-group fixed cost amortizes across its buckets (guide §2.2,
    # §4.2; see stream_lsh_candidates). Only grouping granularity —
    # never the pair set — depends on it. _footer_rows handles both the
    # single-file and directory table layouts (r17).
    from pg_lake_spark.queries.datapipe import _footer_rows

    n_docs = _footer_rows(sf_dir, "documents") or 0
    # Estimate gate ported from the certified batch row (r17, VERDICT
    # r16 #1; guide §2.4/§4.2): the EXACT float dd_lsh_candidates'
    # "auto" resolves to for these parameters, so the gated streaming
    # candidate set equals the gated batch candidate set bit-for-bit
    # (signature parity) and the batch row's oracle-proven zero
    # false-drop transfers. Gated-out pairs never leave the stateful
    # operator — the verify stage's doc set, shingling and per-pair
    # intersects all shrink by the gate's ~68% candidate cut.
    pairs_stream = stream_lsh_candidates(
        stream, "doc_id", "text", shingle_n=2, num_hashes=12, bands=4,
        state_groups=max(32, (4 * n_docs) // 2048),
        est_gate=_auto_est_gate(0.3, 12, 4),
    )
    # per-(band, bucket) id-list state scales with the corpus →
    # input-size-derived width
    width = _scaled_state_width(spark, sf_dir, "documents.parquet")
    cand = run_available_now(
        pairs_stream, spark, output_mode="append", state_partitions=width
    ).distinct()
    # exact-Jaccard verify (batch side, candidates only): the batch
    # pipeline's own verify stage, whose broadcast gate hints this
    # drained (KB-sized) candidate set
    docs = load_tables(spark, sf_dir)["documents"]
    return verify_candidate_pairs(
        docs, "doc_id", "text", cand, shingle_n=2, threshold=0.3
    ).orderBy("id_a", "id_b")


@query(
    "st_stream_interval_join",
    oracle="""
    SELECT c.user_id AS user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           c.ts AS click_ts,
           p.ts AS purchase_ts
    FROM events c
    JOIN events p
      ON c.user_id = p.user_id
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL 1 HOUR
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
      AND c.user_id % 7 = 0
    ORDER BY user_id, purchase_ts, click_ts, click_id, purchase_id
    """,
    doc="Stream-stream interval join (attribution: clicks within 1h "
    "before each purchase, same user) with watermarks bounding the "
    "join state on BOTH sides — inner stream-stream joins emit "
    "eagerly in append mode, so the bounded availableNow run equals "
    "the batch interval join. State is O(lookback horizon), not "
    "O(stream).",
)
def st_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pg_lake_spark.streaming.windows import stream_interval_join

    src = read_events_stream(spark, sf_dir).filter(F.col("user_id") % 7 == 0)
    sdf = stream_interval_join(src, lookback="1 hour")
    # join buffers scale with the lookback horizon of the DATA →
    # input-size-derived width
    width = _scaled_state_width(spark, sf_dir, "events.parquet")
    return run_available_now(
        sdf, spark, output_mode="append", state_partitions=width
    ).orderBy("user_id", "purchase_ts", "click_ts", "click_id", "purchase_id")
