"""Output checks, kept outside every timed window.

Each timed Spark operation carries a fingerprint computed by
``Dataset.observe`` while the operation runs (one extra projection on its
output, no extra job): the row count and, per column, the non-null count
plus a sum that both engines can compute exactly or to float precision:

- numbers: sum as double;
- strings: sum of CRC-32 of the UTF-8 bytes;
- dates / timestamps: sum of days / microseconds since the epoch;
- booleans: count of true; arrays: sum of sizes.

The same fingerprint is computed in Python from the DuckDB oracle's
result, so every timed operation is compared with the oracle. Once per
run, during the warm-up pass, each operation's full result is also
compared row by row with the oracle (:func:`frames_equal`).
"""

from __future__ import annotations

import math
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

Fingerprint = dict[str, float]

_NUM = (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType, T.DoubleType, T.DecimalType)
_TS = (T.TimestampType, T.TimestampNTZType)


def _kind(dt: T.DataType) -> str:
    if isinstance(dt, _NUM):
        return "num"
    if isinstance(dt, T.StringType):
        return "str"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, _TS):
        return "ts"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, T.ArrayType):
        return "arr"
    return "other"


def _sum_expr(c: Column, kind: str) -> Column | None:
    if kind == "num":
        return F.sum(c.cast("double"))
    if kind == "str":
        return F.sum(F.crc32(c.cast("binary")))
    if kind == "date":
        return F.sum(F.unix_date(c))
    if kind == "ts":
        return F.sum(F.unix_micros(c.cast("timestamp")).cast("double"))
    if kind == "bool":
        return F.sum(c.cast("int"))
    if kind == "arr":
        return F.sum(F.size(c))
    return None


def observed(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with its fingerprint attached; read it after the action."""
    exprs = [F.count(F.lit(1)).alias("rows")]
    for i, f in enumerate(df.schema.fields):
        c = F.col(f"`{f.name}`")
        exprs.append(F.count(c).alias(f"n{i}"))
        s = _sum_expr(c, _kind(f.dataType))
        if s is not None:
            exprs.append(s.alias(f"s{i}"))
    obs = Observation()
    return df.observe(obs, *exprs), obs


def fingerprint_of(obs: Observation) -> Fingerprint:
    return {k: (0.0 if v is None else float(v)) for k, v in obs.get.items()}


def fingerprint_pandas(pdf: pd.DataFrame, schema: T.StructType) -> Fingerprint:
    """The fingerprint of a pandas result, read with the Spark schema
    (columns are matched by name)."""
    fp: Fingerprint = {"rows": float(len(pdf))}
    for i, f in enumerate(schema.fields):
        col = pdf[f.name]
        nn = col[col.notna()]
        fp[f"n{i}"] = float(len(nn))
        kind = _kind(f.dataType)
        if kind == "num":
            fp[f"s{i}"] = math.fsum(float(v) for v in nn)
        elif kind == "str":
            fp[f"s{i}"] = float(sum(zlib.crc32(str(v).encode("utf-8")) for v in nn))
        elif kind == "date":
            days = pd.to_datetime(nn).astype("datetime64[s]").astype("int64") // 86400
            fp[f"s{i}"] = math.fsum(float(v) for v in days)
        elif kind == "ts":
            us = pd.to_datetime(nn).astype("datetime64[us]").astype("int64")
            fp[f"s{i}"] = math.fsum(float(v) for v in us)
        elif kind == "bool":
            fp[f"s{i}"] = float(sum(bool(v) for v in nn))
        elif kind == "arr":
            fp[f"s{i}"] = float(sum(len(v) for v in nn))
    return fp


def fingerprints_match(got: Fingerprint, want: Fingerprint) -> bool:
    if got.keys() != want.keys():
        return False
    for k, w in want.items():
        g = got[k]
        if k.startswith("s") and (math.isnan(g) or math.isnan(w)):
            if not (math.isnan(g) and math.isnan(w)):
                return False
        elif not math.isclose(g, w, rel_tol=1e-9, abs_tol=1e-6):
            return False
    return True


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if str(pdf[c].dtype).startswith("datetime64"):
            pdf[c] = pdf[c].astype("datetime64[us]")
        elif pdf[c].dtype == object and len(pdf[c].dropna()):
            first = pdf[c].dropna().iloc[0]
            if isinstance(first, (list, np.ndarray)):
                pdf[c] = pdf[c].map(lambda v: None if v is None else tuple(v))
    return pdf.sort_values(by=list(pdf.columns), kind="mergesort").reset_index(drop=True)


def frames_equal(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal as multisets of rows (floats to 1e-9 relative);
    otherwise a one-line reason."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    try:
        pd.testing.assert_frame_equal(
            _canon(got), _canon(want), check_dtype=False, rtol=1e-9, atol=1e-12
        )
    except AssertionError as exc:
        return " ".join(str(exc).split())[:200]
    return None


def approximate_pairs(got: pd.DataFrame, want: pd.DataFrame, min_recall: float) -> str | None:
    """None when ``got`` is a duplicate-free subset of the exact pairs in
    ``want`` (same ``jaccard``) holding at least ``min_recall`` of them."""
    keys = ["id_a", "id_b"]
    if got.duplicated(keys).any():
        return "duplicate pairs"
    m = got.merge(want, on=keys, how="left", suffixes=("", "_want"), indicator=True)
    extra = int((m["_merge"] != "both").sum())
    if extra:
        return f"{extra} pairs are not in the exact answer"
    if not np.allclose(m["jaccard"], m["jaccard_want"], rtol=1e-9, atol=0.0):
        return "jaccard values differ from the exact answer"
    if len(got) < min_recall * len(want):
        return f"recall {len(got)}/{len(want)} is below {min_recall}"
    return None


#: Exact all-pairs word-bigram Jaccard >= 0.3, the answer the registry
#: oracle of ``dd_lsh_candidates``/``st_stream_lsh_neardup`` defines,
#: written as a shingle self-join: pairs that share no shingle have
#: Jaccard 0 and cannot qualify, so only sharing pairs are scored. The
#: registry form scores every pair with list functions and takes ~9 s at
#: 500 documents; ``selftest.py`` checks that both forms agree.
LSH_PAIRS_ORACLE = """
WITH ws AS (
  SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM documents
), sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i + 1] AS s
  FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM ws)
), sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, CAST(i AS DOUBLE) / (na.n + nb.n - i) AS jaccard
FROM inter
JOIN sz na ON na.doc_id = id_a
JOIN sz nb ON nb.doc_id = id_b
WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= 0.3
ORDER BY id_a, id_b
"""


def register_duckdb(con, data_dir: str, tables) -> None:
    for t in tables:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )
