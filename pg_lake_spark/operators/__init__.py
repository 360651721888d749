"""Custom operators beyond Spark built-ins.

Two families:
- Training-data pipeline operators (dedup, similarity search, text
  analysis, multimodal plumbing) — additive capabilities the reference
  lacks, designed for 100 TB scale: everything is expression- or
  join-based, nothing materializes on the driver.
- Relational extensions (as-of join) — composition-of-DataFrame-ops
  implementations of operators Spark lacks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def local_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """A small driver-built relation (``rows`` in ``schema``'s DDL
    order) as an Arrow-backed ``LocalTableScan``.

    ``spark.createDataFrame(<python list>)`` plans as ``Scan
    ExistingRDD``: every action re-runs it as a Python-RDD job, whose
    tasks pay the ~0.2 s Python-worker start each and spawn a second
    worker daemon next to the Arrow UDF one. An Arrow table ships the
    rows inside the plan instead, so no Python task runs — including
    for empty ``rows``.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    struct = DataType.fromDDL(schema)
    table = pa.Table.from_pylist(
        [dict(zip(struct.names, r)) for r in rows], schema=to_arrow_schema(struct)
    )
    return spark.createDataFrame(table, struct)
