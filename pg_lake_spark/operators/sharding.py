"""Deterministic training-shard writer.

The last step of a training-data pipeline is materializing the corpus
as an ordered sequence of fixed-size shards (by row count or token
budget) that a data loader can stream. Requirements at 100 TB: a
DETERMINISTIC global order (reruns must produce byte-identical shard
assignment), no single-partition sort (the naive
``row_number().over(Window.orderBy(...))`` collapses the whole corpus
into one task), and shard boundaries that respect a token budget.

Implementation: the classic two-pass global index —

1. range-repartition + sort within partitions on the order key (total
   order across partitions, parallel sort inside each),
2. one tiny aggregation collects per-partition row/token counts
   (#partitions rows on the driver — metadata scale),
3. broadcast the cumulative offsets back and combine with a
   PARTITION-LOCAL window (partitionBy spark_partition_id, so every
   partition ranks independently) → exact global row index / running
   token total with zero global shuffle,
4. shard id = index div shard_rows (or running_tokens div budget);
   one output file per shard via repartition on the shard id.

Everything is Column arithmetic; the only driver materialization is
the per-partition count list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pg_lake_spark.operators import local_frame


def assign_shards(
    df: DataFrame,
    order_by: list[str],
    *,
    shard_rows: int | None = None,
    token_col: str | None = None,
    tokens_per_shard: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Add a ``shard_id`` column under a deterministic global order.

    Exactly one of ``shard_rows`` (fixed rows per shard) or
    ``token_col`` + ``tokens_per_shard`` (token budget) must be given.
    ``order_by`` must be a total order (add a unique id as the last
    key) for the assignment to be rerun-stable.

    Token-budget semantics are cumulative BANDING, not sequential
    greedy packing: ``shard_id = (running_total - 1) div budget``, so
    every shard's token sum is <= budget, computed with zero sequential
    state (greedy close-on-cross needs a row-by-row scan — a
    non-starter at scale). Consequence: a single row larger than the
    budget skips bands, leaving gaps in the shard-id sequence — data
    loaders must iterate the manifest's actual ids, not assume
    0..N-1 contiguity.
    """
    if (shard_rows is None) == (tokens_per_shard is None):
        raise ValueError("pass exactly one of shard_rows / tokens_per_shard")
    if tokens_per_shard is not None and token_col is None:
        raise ValueError("token budget sharding needs token_col")

    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    ordered = df.repartitionByRange(parts, *order_by).sortWithinPartitions(*order_by)
    ordered = ordered.withColumn("__pid", F.spark_partition_id())
    # Pin the sorted layout: the offsets job (pass 1) and the ranking
    # job (pass 2) MUST see identical partition boundaries, and
    # repartitionByRange's boundary sampling is not guaranteed stable
    # across separate actions. localCheckpoint materializes the sorted
    # partitions once; both passes read that snapshot (and pass 2 skips
    # the re-sort).
    ordered = ordered.localCheckpoint(eager=False)

    # pass 1: per-partition totals (metadata-scale collect)
    agg = [F.count(F.lit(1)).alias("__n")]
    if token_col is not None:
        agg.append(F.sum(token_col).alias("__tok"))
    totals = {
        r["__pid"]: r for r in ordered.groupBy("__pid").agg(*agg).collect()
    }
    row_off, tok_off = {}, {}
    rows = toks = 0
    for pid in sorted(totals):
        row_off[pid] = rows
        tok_off[pid] = toks
        rows += totals[pid]["__n"]
        if token_col is not None:
            toks += totals[pid]["__tok"] or 0

    spark = df.sparkSession
    off_rows = [
        (int(pid), int(row_off[pid]), int(tok_off.get(pid, 0)))
        for pid in sorted(totals)
    ]
    offsets = local_frame(spark, off_rows, "__pid int, __row_off long, __tok_off long")

    # pass 2: partition-local rank/cumsum (parallel window), plus the
    # broadcast offset → exact global index
    w = Window.partitionBy("__pid").orderBy(*order_by)
    ordered = ordered.join(F.broadcast(offsets), "__pid")
    if shard_rows is not None:
        ordered = ordered.withColumn(
            "__gidx", F.row_number().over(w) - 1 + F.col("__row_off")
        ).withColumn(
            "shard_id", (F.col("__gidx") / shard_rows).cast("long")
        )
    else:
        ordered = ordered.withColumn(
            # coalesce: pass 1 already tolerates NULL token sums
            # ("or 0"); without it an all-NULL prefix makes the window
            # cumsum NULL -> shard_id NULL -> rows silently land in
            # __HIVE_DEFAULT_PARTITION__ and the manifest's int(None)
            # crashes AFTER the distributed write (r15 review)
            "__cum",
            F.sum(F.coalesce(F.col(token_col), F.lit(0))).over(w)
            + F.col("__tok_off"),
        ).withColumn(
            # cumulative banding (see docstring): ceil-div so the row
            # that lands exactly ON the budget closes that shard
            "shard_id",
            ((F.col("__cum") - 1) / tokens_per_shard).cast("long"),
        )
    return ordered.drop("__pid", "__row_off", "__tok_off", "__gidx", "__cum")


def write_training_shards(
    df: DataFrame,
    path: str,
    order_by: list[str],
    *,
    shard_rows: int | None = None,
    token_col: str | None = None,
    tokens_per_shard: int | None = None,
    fmt: str = "parquet",
) -> dict:
    """Materialize ``df`` as ``shard_id=N`` directories (one file per
    shard) under ``path`` and return a manifest
    ``{shard_id: {"rows": n, "tokens": t}}`` for the data loader."""
    sharded = assign_shards(
        df,
        order_by,
        shard_rows=shard_rows,
        token_col=token_col,
        tokens_per_shard=tokens_per_shard,
    )
    (
        sharded.repartition("shard_id")
        .sortWithinPartitions("shard_id", *order_by)
        .write.mode("overwrite")
        .partitionBy("shard_id")
        .format(fmt)
        .save(path)
    )
    agg = [F.count(F.lit(1)).alias("rows")]
    if token_col is not None:
        # NULL-token rows count 0 here exactly as they do in the
        # assignment cumsum; a shard holding only NULL-token rows
        # otherwise sums to NULL and int(None) crashes the manifest
        # AFTER the distributed write (r15 self-review).
        agg.append(
            F.sum(F.coalesce(F.col(token_col), F.lit(0))).alias("tokens")
        )
    manifest = {
        int(r.shard_id): {
            "rows": int(r.rows),
            **({"tokens": int(r.tokens)} if token_col is not None else {}),
        }
        for r in sharded.groupBy("shard_id").agg(*agg).collect()
    }
    import json

    _write_sidecar(
        df.sparkSession,
        path.rstrip("/") + "/_shard_manifest.json",
        json.dumps(manifest, indent=1, sort_keys=True),
    )
    return manifest


def _write_sidecar(spark, path: str, content: str) -> None:
    """Write a small text file next to the shard data on WHATEVER
    filesystem the data went to — a local open() on an s3a:///hdfs://
    output path would crash after the expensive distributed write
    completed. Remote schemes go through Hadoop's FileSystem (shared
    plumbing with sources.readers) — driver-side, one small file."""
    import re

    if "://" not in path or path.startswith("file:"):
        with open(re.sub(r"^file:(//)?", "", path), "w") as fh:
            fh.write(content)
        return
    from pg_lake_spark.sources.readers import _hadoop_fs

    fs, fs_path, _ = _hadoop_fs(spark, path)
    out = fs.create(fs_path, True)
    try:
        out.write(bytearray(content.encode("utf-8")))
    finally:
        out.close()
