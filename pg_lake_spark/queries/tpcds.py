"""TPC-DS-shape query pack, adapted to the driver's star corpus.

The reference treats TPC-DS as a first-class correctness+perf surface
(pg_lake_benchmark/src/tpcds.c:1, pg_lake_benchmark/README.md:9-28 run
all 99 queries). This corpus has no DS tables, so each entry here keeps
a representative DS query's SHAPE — the plan-stressing construct TPC-H
lacks — re-expressed over region/nation/customer/orders/lineitem/part/
supplier/events. Each docstring names the DS query it mirrors.

Shapes covered (the ones VERDICT r6 called out as the coverage gap):
- multi-channel UNION ALL feeding a rollup (Q5/Q77)
- grouping-sets/rollup feeding a ranked window over the hierarchy (Q67;
  Q36's variant already exists as g_rollup_rank_hierarchy)
- correlated-EXISTS chains with OR-of-EXISTS (Q10, Q35)
- mutual-exclusion CASE aggregates in one scan (Q88)
- correlated scalar subquery vs per-group average (Q1)
- CTE-heavy semi-join composition (Q23), INTERSECT/EXCEPT channel
  overlap (Q38/Q87), cumulative-series crossover (Q51), banded counts
  (Q54), return-ratio ranking across channels (Q49), windowed deviation
  from a partition mean (Q89), coefficient of variation (Q17),
  year-over-year growth ratio (Q4/Q11), order-size bands (Q34/Q73),
  net-of-returns top spenders (Q93), HAVING-gated dimension totals (Q15).

Fourth wave (r9) adds: week-over-week CTE self-join (Q2), CASE over
scalar-count subqueries fused to one conditional scan (Q9), hierarchy
ROLLUP ordered by its average measure (Q22), per-band distinct-count
stats (Q28), correlated scalar aggregate against the same fact (Q32),
best/worst rank pairing (Q44), series outliers with lag/lead
neighbors (Q57), channel-union net-of-returns yearly decline (Q75),
composite-key FULL OUTER channel overlap (Q97), windowed class
revenue share (Q98), channel-union yearly decline (Q75), a
dimension-only deep attribute disjunction (Q41), cross-nation
per-order rollup (Q46), IN-of-INTERSECT membership (Q8), and a
global-average HAVING gate (Q24). Late-r9 additions: fact-activity-
gated dimension bands (Q37/Q82), time-sliced channel union (Q71),
item-price-vs-category-average gate with a HAVING'd geo count (Q6),
and three sibling period-return aggregates joined with cross-leg
deviation ratios (Q83), and a single-row stats profile under
OR'd cross-table band arms (Q13), promo revenue share (Q61),
multi-average rollup (Q18), and a grouped returns profile under
disjunctive demographic arms (Q85; Q7/Q26/Q27's filtered
demographic averages are the disjunction-free variants of the same
construct), and before/after sums netted against a LEFT-JOINed
returns frame (Q40), and a dimension-only identity lookup chain
(Q84) — 67 distinct dsqNN entries in this module; the fifth wave
(``tpcds_w5.py``, r10) adds the remaining 32 families, completing
all 99.

Spark-first notes: every query aggregates BEFORE windowing/joining
derived frames, so windows and self-joins run over grouped (tiny)
frames; dims broadcast through the size gate; facts shuffle once per
aggregation. No driver-side loops, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pg_lake_spark.plans.broadcast import broadcast_if_small as _bcast
from pg_lake_spark.queries.registry import query
from pg_lake_spark.session import load_tables


def _ts(s: str):
    return F.lit(s).cast("timestamp_ntz")


@query(
    "dsq05_channel_rollup",
    oracle="""
    WITH chan AS (
      SELECT 'ship' AS channel, n_name,
             l_extendedprice * (1 - l_discount) AS sales
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1998-01-01'
      UNION ALL
      SELECT 'order' AS channel, n_name, o_totalprice AS sales
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        AND o_orderdate <  TIMESTAMP '1998-01-01'
    )
    SELECT channel, n_name,
           round(sum(sales), 2) AS total_sales,
           count(*)             AS n_rows
    FROM chan
    GROUP BY ROLLUP (channel, n_name)
    ORDER BY channel NULLS FIRST, n_name NULLS FIRST
    """,
    doc="TPC-DS Q5 shape: multi-channel UNION ALL (ship-side vs "
    "order-side revenue, each with its own dimension path) feeding one "
    "ROLLUP. Each channel aggregates map-side before the union's single "
    "shuffle; dims broadcast.",
)
def dsq05_channel_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    ship = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= _ts("1997-01-01"))
            & (F.col("l_shipdate") < _ts("1998-01-01"))
        )
        .join(_bcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(_bcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.lit("ship").alias("channel"),
            "n_name",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sales"),
        )
    )
    orderc = (
        t["orders"]
        .filter(
            (F.col("o_orderdate") >= _ts("1997-01-01"))
            & (F.col("o_orderdate") < _ts("1998-01-01"))
        )
        .join(_bcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(_bcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(F.lit("order").alias("channel"), "n_name", F.col("o_totalprice").alias("sales"))
    )
    return (
        ship.unionByName(orderc)
        .rollup("channel", "n_name")
        .agg(
            F.round(F.sum("sales"), 2).alias("total_sales"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy(F.col("channel").asc_nulls_first(), F.col("n_name").asc_nulls_first())
    )


@query(
    "dsq77_channel_profit",
    oracle="""
    WITH per_chan AS (
      SELECT l_linestatus AS channel,
             sum(CASE WHEN l_returnflag <> 'R'
                      THEN l_extendedprice * (1 - l_discount) ELSE 0 END) AS sales,
             sum(CASE WHEN l_returnflag = 'R'
                      THEN l_extendedprice * (1 - l_discount) ELSE 0 END) AS returns
      FROM lineitem
      GROUP BY l_linestatus
    )
    SELECT channel,
           round(sum(sales), 2)               AS sales,
           round(sum(returns), 2)             AS returns,
           round(sum(sales) - sum(returns), 2) AS profit
    FROM per_chan
    GROUP BY ROLLUP (channel)
    ORDER BY channel NULLS FIRST
    """,
    doc="TPC-DS Q77 shape: per-channel sales / returns / profit with a "
    "grand-total rollup row. One scan, conditional aggregation, rollup "
    "over the already-tiny per-channel frame.",
)
def dsq77_channel_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_chan = (
        t["lineitem"]
        .groupBy(F.col("l_linestatus").alias("channel"))
        .agg(
            F.sum(F.when(F.col("l_returnflag") != "R", rev).otherwise(0.0)).alias("s"),
            F.sum(F.when(F.col("l_returnflag") == "R", rev).otherwise(0.0)).alias("r"),
        )
    )
    return (
        per_chan.rollup("channel")
        .agg(
            F.round(F.sum("s"), 2).alias("sales"),
            F.round(F.sum("r"), 2).alias("returns"),
            F.round(F.sum("s") - F.sum("r"), 2).alias("profit"),
        )
        .orderBy(F.col("channel").asc_nulls_first())
    )


@query(
    "dsq67_rollup_topk",
    oracle="""
    WITH agg AS (
      SELECT p_brand, p_type,
             CAST(month(l_shipdate) AS INT) AS ship_month,
             round(sum(l_quantity * l_extendedprice), 2) AS sumsales
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1998-01-01'
      GROUP BY ROLLUP (p_brand, p_type, month(l_shipdate))
    )
    SELECT * FROM (
      SELECT p_brand, p_type, ship_month, sumsales,
             CAST(rank() OVER (PARTITION BY p_brand
                               ORDER BY sumsales DESC,
                                        p_type NULLS FIRST,
                                        ship_month NULLS FIRST) AS INT) AS rk
      FROM agg
    )
    WHERE rk <= 3
    ORDER BY p_brand NULLS FIRST, rk, p_type NULLS FIRST, ship_month NULLS FIRST
    """,
    doc="TPC-DS Q67 shape: a 3-level ROLLUP feeding rank() partitioned "
    "by the top grouping column, keeping each brand's top rows. The "
    "window sees only rolled-up rows (|brands|*|types|*12), never the "
    "fact table.",
)
def dsq67_rollup_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    agg = (
        t["lineitem"]
        .filter(F.col("l_shipdate") >= _ts("1998-01-01"))
        .join(_bcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .rollup("p_brand", "p_type", F.month("l_shipdate").cast("int").alias("ship_month"))
        .agg(F.round(F.sum(F.col("l_quantity") * F.col("l_extendedprice")), 2).alias("sumsales"))
    )
    w = Window.partitionBy("p_brand").orderBy(
        F.col("sumsales").desc(),
        F.col("p_type").asc_nulls_first(),
        F.col("ship_month").asc_nulls_first(),
    )
    return (
        agg.withColumn("rk", F.rank().over(w).cast("int"))
        .filter(F.col("rk") <= 3)
        .orderBy(
            F.col("p_brand").asc_nulls_first(),
            "rk",
            F.col("p_type").asc_nulls_first(),
            F.col("ship_month").asc_nulls_first(),
        )
    )


@query(
    "dsq10_exists_chain",
    oracle="""
    SELECT c_mktsegment,
           CAST(floor(c_acctbal / 2000) AS INT) AS bal_band,
           count(*) AS cnt
    FROM customer c
    WHERE EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderdate >= TIMESTAMP '1997-01-01'
              AND o.o_orderdate <  TIMESTAMP '1998-01-01')
      AND (EXISTS (
             SELECT 1 FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
             WHERE o.o_custkey = c.c_custkey AND l.l_returnflag = 'R')
        OR EXISTS (
             SELECT 1 FROM orders o
             WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000))
    GROUP BY c_mktsegment, CAST(floor(c_acctbal / 2000) AS INT)
    ORDER BY c_mktsegment, bal_band
    """,
    doc="TPC-DS Q10/Q35 shape: an EXISTS chain with an OR-of-EXISTS "
    "branch — demographic counts over customers active in a window who "
    "also returned something or placed a jumbo order. Each EXISTS plans "
    "as a semi join on c_custkey; the OR branch is a semi join against "
    "the union of the two inner key sets (disjunctive EXISTS cannot be "
    "two stacked semi joins).",
)
def dsq10_exists_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    active = (
        t["orders"]
        .filter(
            (F.col("o_orderdate") >= _ts("1997-01-01"))
            & (F.col("o_orderdate") < _ts("1998-01-01"))
        )
        .select("o_custkey")
    )
    returned = (
        t["orders"]
        .join(
            t["lineitem"].filter(F.col("l_returnflag") == "R").select("l_orderkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
            "left_semi",
        )
        .select("o_custkey")
    )
    jumbo = t["orders"].filter(F.col("o_totalprice") > 300000).select("o_custkey")
    either = returned.unionByName(jumbo)
    return (
        t["customer"]
        .join(active, F.col("c_custkey") == active["o_custkey"], "left_semi")
        .join(either, F.col("c_custkey") == either["o_custkey"], "left_semi")
        .groupBy(
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 2000).cast("int").alias("bal_band"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("c_mktsegment", "bal_band")
    )


@query(
    "dsq88_case_counts",
    oracle="""
    SELECT count(CASE WHEN h BETWEEN 0 AND 5   AND event_type = 'click'    THEN 1 END) AS night_clicks,
           count(CASE WHEN h BETWEEN 6 AND 11  AND event_type = 'click'    THEN 1 END) AS morning_clicks,
           count(CASE WHEN h BETWEEN 12 AND 17 AND event_type = 'click'    THEN 1 END) AS afternoon_clicks,
           count(CASE WHEN h BETWEEN 18 AND 23 AND event_type = 'click'    THEN 1 END) AS evening_clicks,
           count(CASE WHEN h BETWEEN 0 AND 11  AND event_type = 'view'     THEN 1 END) AS am_views,
           count(CASE WHEN h BETWEEN 12 AND 23 AND event_type = 'view'     THEN 1 END) AS pm_views,
           count(CASE WHEN event_type = 'purchase' AND value > 50          THEN 1 END) AS big_purchases,
           count(CASE WHEN event_type = 'error'                            THEN 1 END) AS errors
    FROM (SELECT CAST(hour(ts) AS INT) AS h, event_type, value FROM events)
    """,
    doc="TPC-DS Q88 shape: eight mutually-exclusive CASE count "
    "aggregates over one scan — DS runs 8 subqueries and cross-joins "
    "the 1-row results; expressed Spark-first it is a single pass with "
    "map-side partial aggregation and zero joins.",
)
def dsq88_case_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    h = F.hour("ts")
    et = F.col("event_type")

    def cnt(cond):
        return F.count(F.when(cond, 1))

    return t["events"].agg(
        cnt(h.between(0, 5) & (et == "click")).alias("night_clicks"),
        cnt(h.between(6, 11) & (et == "click")).alias("morning_clicks"),
        cnt(h.between(12, 17) & (et == "click")).alias("afternoon_clicks"),
        cnt(h.between(18, 23) & (et == "click")).alias("evening_clicks"),
        cnt(h.between(0, 11) & (et == "view")).alias("am_views"),
        cnt(h.between(12, 23) & (et == "view")).alias("pm_views"),
        cnt((et == "purchase") & (F.col("value") > 50)).alias("big_purchases"),
        cnt(et == "error").alias("errors"),
    )


@query(
    "dsq01_returns_above_avg",
    oracle="""
    WITH supp_returns AS (
      SELECT l_suppkey, s_nationkey,
             sum(l_extendedprice * (1 - l_discount)) AS ret_total
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      WHERE l_returnflag = 'R'
      GROUP BY l_suppkey, s_nationkey
    )
    SELECT s_name, round(sr.ret_total, 2) AS ret_total
    FROM supp_returns sr
    JOIN supplier ON sr.l_suppkey = s_suppkey
    WHERE sr.ret_total > (
      SELECT avg(ret_total) * 1.05 FROM supp_returns sr2
      WHERE sr2.s_nationkey = sr.s_nationkey)
    ORDER BY s_name
    """,
    doc="TPC-DS Q1 shape: entities whose aggregate exceeds 1.05x the "
    "average of their group, via a correlated scalar subquery over a "
    "shared aggregated CTE. Planned as agg once + per-nation avg join — "
    "the correlation de-correlates to a broadcast join of 25 rows.",
)
def dsq01_returns_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    sr = (
        t["lineitem"]
        .filter(F.col("l_returnflag") == "R")
        .join(_bcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_suppkey", "s_nationkey")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("ret_total"))
    )
    nat_avg = sr.groupBy(F.col("s_nationkey").alias("nk")).agg(
        (F.avg("ret_total") * 1.05).alias("bar")
    )
    return (
        sr.join(F.broadcast(nat_avg), F.col("s_nationkey") == F.col("nk"))
        .filter(F.col("ret_total") > F.col("bar"))
        .join(
            _bcast(t["supplier"].select("s_suppkey", "s_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select("s_name", F.round("ret_total", 2).alias("ret_total"))
        .orderBy("s_name")
    )


@query(
    "dsq15_having_gate",
    oracle="""
    SELECT n_name, round(sum(o_totalprice), 2) AS total
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE c_mktsegment = 'AUTOMOBILE'
      AND o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1997-04-01'
    GROUP BY n_name
    HAVING sum(o_totalprice) > 500000
    ORDER BY total DESC, n_name
    """,
    doc="TPC-DS Q15 shape: dimension-bucketed quarter totals gated by "
    "HAVING. Filter pushes to the orders scan; customer/nation "
    "broadcast; one shuffle on n_name.",
)
def dsq15_having_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return (
        t["orders"]
        .filter(
            (F.col("o_orderdate") >= _ts("1997-01-01"))
            & (F.col("o_orderdate") < _ts("1997-04-01"))
        )
        .join(
            _bcast(t["customer"].filter(F.col("c_mktsegment") == "AUTOMOBILE")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(_bcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum("o_totalprice").alias("_raw"))
        .filter(F.col("_raw") > 500000)
        .select("n_name", F.round("_raw", 2).alias("total"))
        .orderBy(F.col("total").desc(), "n_name")
    )


@query(
    "dsq23_frequent_best",
    oracle="""
    WITH frequent_parts AS (
      SELECT l_partkey FROM lineitem
      GROUP BY l_partkey HAVING count(*) > 40
    ),
    best_customers AS (
      SELECT o_custkey FROM orders
      GROUP BY o_custkey HAVING sum(o_totalprice) > 1000000
    )
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_lines
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    WHERE l_partkey IN (SELECT l_partkey FROM frequent_parts)
      AND o_custkey IN (SELECT o_custkey FROM best_customers)
    """,
    doc="TPC-DS Q23 shape: revenue from BEST customers buying FREQUENT "
    "items — two aggregated CTEs consumed as IN-subqueries. Both plans "
    "as semi joins on short keys; the frequent/best sets are small "
    "after HAVING so they broadcast.",
)
def dsq23_frequent_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    frequent = (
        t["lineitem"].groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 40).select("l_partkey")
    )
    best = (
        t["orders"].groupBy("o_custkey").agg(F.sum("o_totalprice").alias("s"))
        .filter(F.col("s") > 1000000).select("o_custkey")
    )
    li = t["lineitem"].join(
        frequent.withColumnRenamed("l_partkey", "fp"),
        F.col("l_partkey") == F.col("fp"),
        "left_semi",
    )
    ords = t["orders"].join(
        best.withColumnRenamed("o_custkey", "bc"),
        F.col("o_custkey") == F.col("bc"),
        "left_semi",
    )
    return (
        li.join(ords, F.col("l_orderkey") == F.col("o_orderkey"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "dsq34_order_size_band",
    oracle="""
    WITH per_order AS (
      SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_items
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT c_name, o_orderkey, n_items
    FROM per_order
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    WHERE n_items BETWEEN 6 AND 7
      AND o_orderpriority = '1-URGENT'
    ORDER BY c_name, o_orderkey
    """,
    doc="TPC-DS Q34/Q73 shape: orders whose item count falls in a band, "
    "joined back to the customer — count-aggregate as a join input, a "
    "band predicate on the aggregate, then dimension fan-back.",
)
def dsq34_order_size_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    o = t["orders"].filter(F.col("o_orderpriority") == "1-URGENT")
    # Gate the fact by the FILTERED order keys BEFORE the per-order
    # count (the dsq94 rewrite): the semi-join shuffles lineitem on
    # the same key the groupBy needs — one effective fact shuffle —
    # and the aggregate then counts only the ~1/5 priority fraction.
    # Per-order counts are unchanged by an order-level filter, so
    # results are identical.
    per_order = (
        t["lineitem"].select("l_orderkey")
        .join(o.select("o_orderkey"),
              F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
        .groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n_items"))
        .filter(F.col("n_items").between(6, 7))
    )
    return (
        per_order.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(_bcast(t["customer"]), F.col("c_custkey") == F.col("o_custkey"))
        .select("c_name", "o_orderkey", "n_items")
        .orderBy("c_name", "o_orderkey")
    )


@query(
    "dsq38_intersect_channels",
    oracle="""
    SELECT count(*) AS loyal_customers FROM (
      SELECT o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
      INTERSECT
      SELECT o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
      INTERSECT
      SELECT o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1999-01-01'
    )
    """,
    doc="TPC-DS Q38 shape: customers present in ALL periods via chained "
    "INTERSECT of key sets (DS intersects store/catalog/web channels). "
    "Each leg prunes to one column before the distinct shuffle.",
)
def dsq38_intersect_channels(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)

    def leg(lo, hi):
        df = t["orders"]
        cond = F.col("o_orderdate") >= _ts(lo)
        if hi:
            cond = cond & (F.col("o_orderdate") < _ts(hi))
        return df.filter(cond).select("o_custkey")

    loyal = (
        leg("1995-01-01", "1997-01-01")
        .intersect(leg("1997-01-01", "1999-01-01"))
        .intersect(leg("1999-01-01", None))
    )
    return loyal.agg(F.count(F.lit(1)).alias("loyal_customers"))


@query(
    "dsq87_except_channels",
    oracle="""
    SELECT count(*) AS lapsed_customers FROM (
      SELECT o_custkey FROM orders
      WHERE o_orderdate <  TIMESTAMP '1997-01-01'
      EXCEPT
      SELECT o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01'
    )
    """,
    doc="TPC-DS Q87 shape: set difference of customer key sets across "
    "channels/periods (early-period buyers who never returned).",
)
def dsq87_except_channels(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    early = t["orders"].filter(F.col("o_orderdate") < _ts("1997-01-01")).select("o_custkey")
    late = t["orders"].filter(F.col("o_orderdate") >= _ts("1997-01-01")).select("o_custkey")
    # set-semantics EXCEPT (SQL EXCEPT = distinct difference) is
    # subtract(); exceptAll keeps per-occurrence leftovers, which would
    # wrongly retain a customer seen 5x early and 2x late
    return early.subtract(late).agg(F.count(F.lit(1)).alias("lapsed_customers"))


@query(
    "dsq51_cumulative_crossover",
    oracle="""
    WITH monthly AS (
      SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS INT) AS ym,
             round(sum(CASE WHEN l_linestatus = 'F'
                            THEN l_extendedprice * (1 - l_discount) END), 2) AS f_sales,
             round(sum(CASE WHEN l_linestatus = 'O'
                            THEN l_extendedprice * (1 - l_discount) END), 2) AS o_sales
      FROM lineitem
      GROUP BY year(l_shipdate) * 100 + month(l_shipdate)
    ),
    cume AS (
      SELECT ym,
             round(sum(coalesce(f_sales, 0)) OVER (ORDER BY ym), 2) AS f_cume,
             round(sum(coalesce(o_sales, 0)) OVER (ORDER BY ym), 2) AS o_cume
      FROM monthly
    )
    SELECT ym, f_cume, o_cume
    FROM cume
    WHERE o_cume > f_cume
    ORDER BY ym
    """,
    doc="TPC-DS Q51 shape: two channel series (here linestatus F vs O) "
    "cumulated by running-sum windows, reporting the crossover months "
    "where one channel's cumulative total overtakes the other. The "
    "windows run over the monthly (tiny) frame; rounding both engines "
    "to 2dp sidesteps ulp divergence in the running sums.",
)
def dsq51_cumulative_crossover(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    monthly = (
        t["lineitem"]
        .groupBy(
            (F.year("l_shipdate") * 100 + F.month("l_shipdate")).cast("int").alias("ym")
        )
        .agg(
            F.round(F.sum(F.when(F.col("l_linestatus") == "F", rev)), 2).alias("f_sales"),
            F.round(F.sum(F.when(F.col("l_linestatus") == "O", rev)), 2).alias("o_sales"),
        )
    )
    w = Window.orderBy("ym").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cume = monthly.select(
        "ym",
        F.round(F.sum(F.coalesce(F.col("f_sales"), F.lit(0.0))).over(w), 2).alias("f_cume"),
        F.round(F.sum(F.coalesce(F.col("o_sales"), F.lit(0.0))).over(w), 2).alias("o_cume"),
    )
    return cume.filter(F.col("o_cume") > F.col("f_cume")).orderBy("ym")


@query(
    "dsq54_revenue_bands",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey, sum(o_totalprice) AS revenue
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        AND o_orderdate <  TIMESTAMP '1998-01-01'
      GROUP BY o_custkey
    )
    SELECT CAST(floor(revenue / 100000) AS INT) AS band,
           count(*) AS n_customers
    FROM per_cust
    GROUP BY CAST(floor(revenue / 100000) AS INT)
    ORDER BY band
    """,
    doc="TPC-DS Q54 shape: segment customers into fixed revenue bands — "
    "aggregate per customer, bucket the aggregate, count per bucket. "
    "Two shuffles, both on short keys; the second input is per-customer "
    "(already small).",
)
def dsq54_revenue_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    per_cust = (
        t["orders"]
        .filter(
            (F.col("o_orderdate") >= _ts("1997-01-01"))
            & (F.col("o_orderdate") < _ts("1998-01-01"))
        )
        .groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("revenue"))
    )
    return (
        per_cust.groupBy(F.floor(F.col("revenue") / 100000).cast("int").alias("band"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("band")
    )


@query(
    "dsq49_return_ratio_rank",
    oracle="""
    WITH per_part AS (
      SELECT l_linestatus AS channel, l_partkey,
             sum(CASE WHEN l_returnflag = 'R' THEN l_quantity ELSE 0 END) AS ret_qty,
             sum(l_quantity) AS tot_qty
      FROM lineitem
      GROUP BY l_linestatus, l_partkey
      HAVING sum(l_quantity) >= 100
    )
    SELECT channel, l_partkey,
           round(ret_qty / tot_qty, 6) AS return_ratio,
           CAST(rank() OVER (PARTITION BY channel
                             ORDER BY ret_qty / tot_qty DESC, l_partkey) AS INT) AS rk
    FROM per_part
    QUALIFY rk <= 10
    ORDER BY channel, rk, l_partkey
    """,
    doc="TPC-DS Q49 shape: worst return ratios ranked per channel "
    "(linestatus standing in for web/catalog/store), with a volume "
    "floor. One grouped pass builds the ratio; the rank window runs on "
    "the per-(channel,part) aggregate.",
)
def dsq49_return_ratio_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    per_part = (
        t["lineitem"]
        .groupBy(F.col("l_linestatus").alias("channel"), "l_partkey")
        .agg(
            F.sum(
                F.when(F.col("l_returnflag") == "R", F.col("l_quantity")).otherwise(0.0)
            ).alias("ret_qty"),
            F.sum("l_quantity").alias("tot_qty"),
        )
        .filter(F.col("tot_qty") >= 100)
    )
    ratio = F.col("ret_qty") / F.col("tot_qty")
    w = Window.partitionBy("channel").orderBy(ratio.desc(), "l_partkey")
    return (
        per_part.withColumn("rk", F.rank().over(w).cast("int"))
        .filter(F.col("rk") <= 10)
        .select(
            "channel", "l_partkey", F.round(ratio, 6).alias("return_ratio"), "rk"
        )
        .orderBy("channel", "rk", "l_partkey")
    )


@query(
    "dsq93_net_after_returns",
    oracle="""
    SELECT c_name,
           round(sum(CASE WHEN l_returnflag = 'R'
                          THEN -l_extendedprice * (1 - l_discount)
                          ELSE  l_extendedprice * (1 - l_discount) END), 2) AS net_spend
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    GROUP BY c_name
    ORDER BY net_spend DESC, c_name
    LIMIT 10
    """,
    doc="TPC-DS Q93 shape: net sales after refunding returned lines "
    "(returns contribute negatively), top spenders. The refund is an "
    "expression inside one aggregation — no second scan of the returns "
    "side, unlike DS's store_returns join.",
)
def dsq93_net_after_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    signed = F.when(F.col("l_returnflag") == "R", -rev).otherwise(rev)
    # r16 optimization round (guide §2.3 "aggregate before you
    # shuffle"): the signed revenue needs only lineitem columns, so the
    # per-order partial sum runs BEFORE the fact⋈fact join — the join
    # then moves one row per order instead of one per line item, and
    # the map-side combine of the pre-aggregation shrinks the shuffle
    # the same way. The per-customer total is the sum of its per-order
    # sums (same rows, regrouped); output rounds to 2 decimals, far
    # above double-sum association noise — re-proven against the
    # oracle at all three SFs.
    per_order = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.sum(signed).alias("net"))
    )
    return (
        per_order.join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(_bcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_name")
        .agg(F.round(F.sum("net"), 2).alias("net_spend"))
        .orderBy(F.col("net_spend").desc(), "c_name")
        .limit(10)
    )


@query(
    "dsq89_monthly_deviation",
    oracle="""
    WITH monthly AS (
      SELECT p_brand, CAST(year(l_shipdate) * 100 + month(l_shipdate) AS INT) AS ym,
             sum(l_extendedprice * (1 - l_discount)) AS sales
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1998-01-01'
      GROUP BY p_brand, year(l_shipdate) * 100 + month(l_shipdate)
    )
    SELECT p_brand, ym, round(sales, 2) AS sales,
           round(avg_sales, 2) AS avg_sales
    FROM (
      SELECT p_brand, ym, sales,
             avg(sales) OVER (PARTITION BY p_brand) AS avg_sales
      FROM monthly
    )
    WHERE avg_sales > 0 AND abs(sales - avg_sales) / avg_sales > 0.3
    ORDER BY p_brand, ym
    """,
    doc="TPC-DS Q89 shape: months deviating >30% from their brand's "
    "mean monthly sales — an unbounded window mean over the grouped "
    "frame, then a relative-deviation predicate. Filter on the RAW "
    "window value, round only for display (rounding before the "
    "predicate would flip borderline rows differently per engine).",
)
def dsq89_monthly_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    monthly = (
        t["lineitem"]
        .filter(F.col("l_shipdate") >= _ts("1998-01-01"))
        .join(_bcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(
            "p_brand",
            (F.year("l_shipdate") * 100 + F.month("l_shipdate")).cast("int").alias("ym"),
        )
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sales"))
    )
    w = Window.partitionBy("p_brand")
    return (
        monthly.withColumn("avg_sales", F.avg("sales").over(w))
        .filter(
            (F.col("avg_sales") > 0)
            & (F.abs(F.col("sales") - F.col("avg_sales")) / F.col("avg_sales") > 0.3)
        )
        .select(
            "p_brand", "ym",
            F.round("sales", 2).alias("sales"),
            F.round("avg_sales", 2).alias("avg_sales"),
        )
        .orderBy("p_brand", "ym")
    )


@query(
    "dsq17_quantity_cov",
    oracle="""
    SELECT p_brand,
           round(avg(l_quantity), 6) AS mean_qty,
           round(stddev_samp(l_quantity), 6) AS sd_qty,
           round(stddev_samp(l_quantity) / avg(l_quantity), 6) AS cov
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    HAVING stddev_samp(l_quantity) / avg(l_quantity) > 0.5
    ORDER BY cov DESC, p_brand
    """,
    doc="TPC-DS Q17 shape: coefficient of variation of quantity per "
    "brand, keeping volatile brands. Statistical aggregates compute in "
    "the same single grouped pass as the mean.",
)
def dsq17_quantity_cov(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    cov = F.stddev_samp("l_quantity") / F.avg("l_quantity")
    return (
        t["lineitem"]
        .join(_bcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.round(F.avg("l_quantity"), 6).alias("mean_qty"),
            F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
            F.round(cov, 6).alias("cov"),
        )
        .filter(F.col("cov") > 0.5)
        .orderBy(F.col("cov").desc(), "p_brand")
    )


@query(
    "dsq04_yoy_growth",
    oracle="""
    WITH yearly AS (
      SELECT o_custkey, CAST(year(o_orderdate) AS INT) AS yr,
             sum(o_totalprice) AS total
      FROM orders
      GROUP BY o_custkey, year(o_orderdate)
    )
    SELECT c_name,
           round(y1.total, 2) AS total_1997,
           round(y2.total, 2) AS total_1998,
           round(y2.total / y1.total, 6) AS growth
    FROM yearly y1
    JOIN yearly y2 ON y1.o_custkey = y2.o_custkey
    JOIN customer ON c_custkey = y1.o_custkey
    WHERE y1.yr = 1997 AND y2.yr = 1998
      AND y1.total > 0 AND y2.total / y1.total > 2.0
    ORDER BY growth DESC, c_name
    """,
    doc="TPC-DS Q4/Q11 shape: year-over-year growth per customer — the "
    "yearly aggregate self-joined across consecutive years with a "
    "growth-ratio predicate. The self-join runs on the per-(customer, "
    "year) aggregate, not on orders.",
)
def dsq04_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    yearly = (
        t["orders"]
        .groupBy("o_custkey", F.year("o_orderdate").cast("int").alias("yr"))
        .agg(F.sum("o_totalprice").alias("total"))
    )
    y1 = yearly.filter(F.col("yr") == 1997).select(
        F.col("o_custkey").alias("ck"), F.col("total").alias("t1")
    )
    y2 = yearly.filter(F.col("yr") == 1998).select(
        F.col("o_custkey").alias("ck2"), F.col("total").alias("t2")
    )
    return (
        y1.join(y2, F.col("ck") == F.col("ck2"))
        .filter((F.col("t1") > 0) & (F.col("t2") / F.col("t1") > 2.0))
        .join(_bcast(t["customer"]), F.col("c_custkey") == F.col("ck"))
        .select(
            "c_name",
            F.round("t1", 2).alias("total_1997"),
            F.round("t2", 2).alias("total_1998"),
            F.round(F.col("t2") / F.col("t1"), 6).alias("growth"),
        )
        .orderBy(F.col("growth").desc(), "c_name")
    )


@query(
    "dsq14_cross_channel_items",
    oracle="""
    WITH both_chan AS (
      SELECT l_partkey FROM lineitem WHERE l_linestatus = 'F'
      INTERSECT
      SELECT l_partkey FROM lineitem WHERE l_linestatus = 'O'
    )
    SELECT p_brand,
           count(*) AS n_lines,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_partkey IN (SELECT l_partkey FROM both_chan)
      AND l_shipdate >= TIMESTAMP '1998-01-01'
    GROUP BY p_brand
    ORDER BY p_brand
    """,
    doc="TPC-DS Q14 shape: cross-channel item set (items sold in BOTH "
    "channels via INTERSECT) gating a per-brand aggregate. The "
    "intersect runs on pruned single-column key sets; the gate plans "
    "as a semi join.",
)
def dsq14_cross_channel_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    f_parts = t["lineitem"].filter(F.col("l_linestatus") == "F").select("l_partkey")
    o_parts = t["lineitem"].filter(F.col("l_linestatus") == "O").select("l_partkey")
    both = f_parts.intersect(o_parts).withColumnRenamed("l_partkey", "bp")
    return (
        t["lineitem"]
        .filter(F.col("l_shipdate") >= _ts("1998-01-01"))
        .join(both, F.col("l_partkey") == F.col("bp"), "left_semi")
        .join(_bcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        )
        .orderBy("p_brand")
    )


@query(
    "dsq31_qoq_growth_compare",
    oracle="""
    WITH q AS (
      SELECT n_name,
             CAST(year(o_orderdate) * 10 + quarter(o_orderdate) AS INT) AS yq,
             sum(o_totalprice) AS total
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        AND o_orderdate <  TIMESTAMP '1998-01-01'
      GROUP BY n_name, year(o_orderdate) * 10 + quarter(o_orderdate)
    )
    SELECT q1.n_name,
           round(q2.total / q1.total, 6) AS g_q1_q2,
           round(q3.total / q2.total, 6) AS g_q2_q3
    FROM q q1 JOIN q q2 ON q1.n_name = q2.n_name
              JOIN q q3 ON q1.n_name = q3.n_name
    WHERE q1.yq = 19971 AND q2.yq = 19972 AND q3.yq = 19973
      AND q1.total > 0 AND q2.total > 0
      AND q2.total / q1.total > q3.total / q2.total
    ORDER BY q1.n_name
    """,
    doc="TPC-DS Q31 shape: quarter-over-quarter growth ratios compared "
    "across consecutive quarters per region — the quarterly aggregate "
    "self-joined twice, ratio predicate across the join. All joins run "
    "on the per-(nation, quarter) aggregate (~100 rows).",
)
def dsq31_qoq_growth_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    q = (
        t["orders"]
        .filter(
            (F.col("o_orderdate") >= _ts("1997-01-01"))
            & (F.col("o_orderdate") < _ts("1998-01-01"))
        )
        .join(_bcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(_bcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            "n_name",
            (F.year("o_orderdate") * 10 + F.quarter("o_orderdate")).cast("int").alias("yq"),
        )
        .agg(F.sum("o_totalprice").alias("total"))
    )
    q1 = q.filter(F.col("yq") == 19971).select(F.col("n_name"), F.col("total").alias("t1"))
    q2 = q.filter(F.col("yq") == 19972).select(F.col("n_name").alias("n2"), F.col("total").alias("t2"))
    q3 = q.filter(F.col("yq") == 19973).select(F.col("n_name").alias("n3"), F.col("total").alias("t3"))
    return (
        q1.join(q2, F.col("n_name") == F.col("n2"))
        .join(q3, F.col("n_name") == F.col("n3"))
        .filter(
            (F.col("t1") > 0) & (F.col("t2") > 0)
            & (F.col("t2") / F.col("t1") > F.col("t3") / F.col("t2"))
        )
        .select(
            "n_name",
            F.round(F.col("t2") / F.col("t1"), 6).alias("g_q1_q2"),
            F.round(F.col("t3") / F.col("t2"), 6).alias("g_q2_q3"),
        )
        .orderBy("n_name")
    )


@query(
    "dsq48_band_disjunction",
    oracle="""
    SELECT CAST(sum(l_quantity) AS DOUBLE) AS total_qty,
           count(*) AS n_lines
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE (c_mktsegment = 'AUTOMOBILE' AND l_extendedprice BETWEEN 500 AND 20000 AND l_discount <= 0.05)
       OR (c_mktsegment = 'BUILDING'   AND l_extendedprice BETWEEN 20000 AND 60000 AND l_quantity >= 10)
       OR (c_mktsegment = 'MACHINERY'  AND l_extendedprice > 60000 AND l_tax < 0.05)
    """,
    doc="TPC-DS Q48 shape: a 3-arm OR of conjunctive band predicates "
    "spanning fact and dimension columns — the disjunction survives as "
    "one post-join filter; the per-arm range predicates cannot push to "
    "the scan but the join keys still prune columns.",
)
def dsq48_band_disjunction(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    seg = F.col("c_mktsegment")
    arm1 = (seg == "AUTOMOBILE") & F.col("l_extendedprice").between(500, 20000) & (F.col("l_discount") <= 0.05)
    arm2 = (seg == "BUILDING") & F.col("l_extendedprice").between(20000, 60000) & (F.col("l_quantity") >= 10)
    arm3 = (seg == "MACHINERY") & (F.col("l_extendedprice") > 60000) & (F.col("l_tax") < 0.05)
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(_bcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .filter(arm1 | arm2 | arm3)
        .agg(
            F.sum("l_quantity").cast("double").alias("total_qty"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "dsq58_channel_tolerance",
    oracle="""
    WITH per_chan AS (
      SELECT l_partkey,
             sum(CASE WHEN l_linestatus = 'F'
                      THEN l_extendedprice * (1 - l_discount) ELSE 0 END) AS f_rev,
             sum(CASE WHEN l_linestatus = 'O'
                      THEN l_extendedprice * (1 - l_discount) ELSE 0 END) AS o_rev
      FROM lineitem
      GROUP BY l_partkey
    )
    SELECT l_partkey, f_rev, o_rev
    FROM (SELECT l_partkey, round(f_rev, 0) AS f_rev, round(o_rev, 0) AS o_rev
          FROM per_chan)
    WHERE f_rev > 0 AND o_rev > 0
      AND f_rev / o_rev BETWEEN 0.98 AND 1.02
    ORDER BY l_partkey
    """,
    doc="TPC-DS Q58 shape: items whose revenue is balanced across "
    "channels within a tolerance band. DS joins three per-channel CTEs; "
    "expressed Spark-first both channels come out of ONE grouped scan "
    "as conditional sums, and the tolerance is a plain filter.",
)
def dsq58_channel_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per = (
        t["lineitem"]
        .groupBy("l_partkey")
        .agg(
            F.sum(F.when(F.col("l_linestatus") == "F", rev).otherwise(0.0)).alias("f"),
            F.sum(F.when(F.col("l_linestatus") == "O", rev).otherwise(0.0)).alias("o"),
        )
    )
    # round BEFORE the ratio predicate, to WHOLE currency units: the
    # tolerance band must test the same stable values in both engines —
    # cent-level (2dp) rounding sits on engine ulp boundaries
    # (786514.935 summed in different orders rounds .93/.94) and
    # flipped borderline rows
    rounded = per.select(
        "l_partkey", F.round("f", 0).alias("f_rev"), F.round("o", 0).alias("o_rev")
    )
    return (
        rounded.filter(
            (F.col("f_rev") > 0) & (F.col("o_rev") > 0)
            & (F.col("f_rev") / F.col("o_rev")).between(0.98, 1.02)
        )
        .orderBy("l_partkey")
    )


@query(
    "dsq90_am_pm_ratio",
    oracle="""
    SELECT round(
             CAST(count(CASE WHEN hour(ts) < 12 THEN 1 END) AS DOUBLE)
           / CAST(count(CASE WHEN hour(ts) >= 12 THEN 1 END) AS DOUBLE), 6) AS am_pm_ratio,
           count(*) AS n_events
    FROM events
    WHERE event_type = 'view'
    """,
    doc="TPC-DS Q90 shape: am/pm activity ratio — DS divides two "
    "subquery counts through a cross join; here both counts come from "
    "one conditional aggregation pass.",
)
def dsq90_am_pm_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    am = F.count(F.when(F.hour("ts") < 12, 1)).cast("double")
    pm = F.count(F.when(F.hour("ts") >= 12, 1)).cast("double")
    return (
        t["events"]
        .filter(F.col("event_type") == "view")
        .agg(
            F.round(am / pm, 6).alias("am_pm_ratio"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@query(
    "dsq74_two_metric_growth",
    oracle="""
    WITH o_year AS (
      SELECT o_custkey AS ck, CAST(year(o_orderdate) AS INT) AS yr,
             sum(o_totalprice) AS m
      FROM orders GROUP BY o_custkey, year(o_orderdate)
    ),
    l_year AS (
      SELECT o_custkey AS ck, CAST(year(l_shipdate) AS INT) AS yr,
             sum(l_extendedprice * (1 - l_discount)) AS m
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_custkey, year(l_shipdate)
    )
    SELECT c_name,
           round(o2.m / o1.m, 6) AS order_growth,
           round(l2.m / l1.m, 6) AS ship_growth
    FROM o_year o1 JOIN o_year o2 ON o1.ck = o2.ck
    JOIN l_year l1 ON l1.ck = o1.ck
    JOIN l_year l2 ON l2.ck = o1.ck
    JOIN customer ON c_custkey = o1.ck
    WHERE o1.yr = 1997 AND o2.yr = 1998
      AND l1.yr = 1997 AND l2.yr = 1998
      AND o1.m > 0 AND l1.m > 0
      AND o2.m / o1.m > l2.m / l1.m
    ORDER BY c_name
    """,
    doc="TPC-DS Q74/Q4 shape: year-over-year growth computed on TWO "
    "metrics (order totals vs shipped revenue) per customer, keeping "
    "customers whose order growth outpaced ship growth. Four self-join "
    "legs, all over per-(customer, year) aggregates.",
)
def dsq74_two_metric_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    # r16 optimization-round rewrite (guide §2.4): the four per-year
    # legs used to be four filtered copies of the aggregation subtrees
    # — Catalyst planned 2 orders scans + 2 lineitem⋈orders joins and
    # three ck self-joins. One conditional aggregation per source frame
    # (sum(when(yr = …))) computes both years in a single pass: half
    # the scans, one ck join instead of three. Per-leg sums are over
    # exactly the same rows (a year's sum is the sum over that year's
    # rows either way); a customer missing a year gets a NULL
    # conditional sum, which the o1 > 0 / l1 > 0 / three-valued '>'
    # filters drop exactly as the inner leg-joins did.
    o_pair = (
        t["orders"]
        .filter(F.year("o_orderdate").isin(1997, 1998))
        .groupBy(F.col("o_custkey").alias("ck"))
        .agg(
            F.sum(F.when(F.year("o_orderdate") == 1997, F.col("o_totalprice"))).alias("o1"),
            F.sum(F.when(F.year("o_orderdate") == 1998, F.col("o_totalprice"))).alias("o2"),
        )
    )
    l_pair = (
        t["lineitem"]
        .filter(F.year("l_shipdate").isin(1997, 1998))
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("o_custkey").alias("lck"))
        .agg(
            F.sum(
                F.when(F.year("l_shipdate") == 1997, F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("l1"),
            F.sum(
                F.when(F.year("l_shipdate") == 1998, F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("l2"),
        )
    )
    return (
        o_pair.join(l_pair, F.col("ck") == F.col("lck"))
        .filter(
            (F.col("o1") > 0) & (F.col("l1") > 0)
            & (F.col("o2") / F.col("o1") > F.col("l2") / F.col("l1"))
        )
        .join(_bcast(t["customer"]), F.col("c_custkey") == F.col("ck"))
        .select(
            "c_name",
            F.round(F.col("o2") / F.col("o1"), 6).alias("order_growth"),
            F.round(F.col("l2") / F.col("l1"), 6).alias("ship_growth"),
        )
        .orderBy("c_name")
    )


@query(
    "dsq96_multi_filter_count",
    oracle="""
    SELECT count(*) AS cnt
    FROM events
    WHERE hour(ts) BETWEEN 9 AND 11
      AND event_type = 'click'
      AND value BETWEEN 20 AND 80
    """,
    doc="TPC-DS Q96 shape: a bare count through three dimension-style "
    "band filters — the canonical selectivity probe. All three "
    "predicates sit on one scan.",
)
def dsq96_multi_filter_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .filter(
            F.hour("ts").between(9, 11)
            & (F.col("event_type") == "click")
            & F.col("value").between(20, 80)
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@query(
    "dsq64_cross_year_wide_join",
    oracle="""
    WITH sales AS (
      SELECT p_partkey, p_name, CAST(year(o_orderdate) AS INT) AS yr,
             count(*) AS n_sales,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT))
                  AS BIGINT) AS revenue_cents
      FROM lineitem
      JOIN orders   ON l_orderkey  = o_orderkey
      JOIN customer ON o_custkey   = c_custkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN part     ON l_partkey   = p_partkey
      JOIN supplier ON l_suppkey   = s_suppkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      WHERE p_size <= 25
      GROUP BY p_partkey, p_name, year(o_orderdate)
    )
    SELECT s1.p_partkey AS p_partkey, s1.p_name AS p_name,
           s1.n_sales AS n_1997, s2.n_sales AS n_1998,
           s1.revenue_cents AS rev_1997_cents,
           s2.revenue_cents AS rev_1998_cents
    FROM sales s1 JOIN sales s2 ON s1.p_partkey = s2.p_partkey
    WHERE s1.yr = 1997 AND s2.yr = 1998 AND s2.revenue_cents > s1.revenue_cents
    ORDER BY p_partkey
    """,
    doc="TPC-DS Q64 shape: one wide multi-join CTE (fact + 6 dimension "
    "hops, two nation roles) aggregated per (item, year), then "
    "self-joined across two years keeping items whose revenue grew. "
    "The CTE aggregates BEFORE the self-join, so the year-vs-year join "
    "runs over the small grouped frame; all dims broadcast through the "
    "size gate; the fact shuffles once for the aggregate.",
)
def dsq64_cross_year_wide_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    cn = t["nation"].select(F.col("n_nationkey").alias("cn_key"))
    sn = t["nation"].select(F.col("n_nationkey").alias("sn_key"))
    # money as exact integer cents: per-line rounding is bit-identical
    # across engines and the integer sum is order-independent, so the
    # cross-engine compare cannot hit a .005 rounding boundary
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0).cast(
        "bigint"
    )
    # only the 1997/1998 legs survive the self-join below — the date
    # pre-filter is semantically redundant but pushes to the orders
    # scan (the post-aggregation yr filter cannot), cutting the fact
    # read to two of seven years
    orders_win = t["orders"].filter(
        (F.col("o_orderdate") >= _ts("1997-01-01"))
        & (F.col("o_orderdate") < _ts("1999-01-01"))
    )
    sales = (
        t["lineitem"]
        .join(orders_win, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(_bcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(_bcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(_bcast(t["part"].filter(F.col("p_size") <= 25)),
              F.col("l_partkey") == F.col("p_partkey"))
        .join(_bcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(_bcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy("p_partkey", "p_name", F.year("o_orderdate").cast("int").alias("yr"))
        .agg(
            F.count(F.lit(1)).alias("n_sales"),
            F.sum(cents).alias("revenue_cents"),
        )
    )
    s1 = sales.filter(F.col("yr") == 1997).alias("s1")
    s2 = sales.filter(F.col("yr") == 1998).alias("s2")
    return (
        s1.join(s2, F.col("s1.p_partkey") == F.col("s2.p_partkey"))
        .filter(F.col("s2.revenue_cents") > F.col("s1.revenue_cents"))
        .select(
            F.col("s1.p_partkey").alias("p_partkey"),
            F.col("s1.p_name").alias("p_name"),
            F.col("s1.n_sales").alias("n_1997"),
            F.col("s2.n_sales").alias("n_1998"),
            F.col("s1.revenue_cents").alias("rev_1997_cents"),
            F.col("s2.revenue_cents").alias("rev_1998_cents"),
        )
        .orderBy("p_partkey")
    )


@query(
    "dsq72_late_ship_chain",
    oracle="""
    SELECT p_brand, count(*) AS n_late
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN part     ON l_partkey  = p_partkey
    JOIN supplier ON l_suppkey  = s_suppkey
    WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
      AND o_orderpriority LIKE '%URGENT%'
    GROUP BY p_brand
    ORDER BY n_late DESC, p_brand
    LIMIT 15
    """,
    doc="TPC-DS Q72 shape: a broadcast-dimension chain on the fact "
    "with a date-window INEQUALITY inside the join predicate (DS joins "
    "d1.d_date < d2.d_date across date-dim roles; here ship lag vs "
    "order date) — the inequality rides the equi-join on the order "
    "key, never a cross product. part/supplier broadcast; one shuffle "
    "for the brand aggregate.",
)
def dsq72_late_ship_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(
            (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY"))
            & F.col("o_orderpriority").like("%URGENT%")
        )
        .join(_bcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .join(_bcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_late"))
        .orderBy(F.col("n_late").desc(), "p_brand")
        .limit(15)
    )


@query(
    "dsq78_channel_fullouter_ratio",
    oracle="""
    WITH ship AS (
      SELECT o_custkey AS custkey, CAST(year(l_shipdate) AS INT) AS yr,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT))
                  AS BIGINT) AS ship_cents
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_returnflag <> 'R'
      GROUP BY o_custkey, year(l_shipdate)
    ), ret AS (
      SELECT o_custkey AS custkey, CAST(year(l_shipdate) AS INT) AS yr,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT))
                  AS BIGINT) AS ret_cents
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_returnflag = 'R'
      GROUP BY o_custkey, year(l_shipdate)
    )
    SELECT coalesce(s.custkey, r.custkey) AS custkey,
           coalesce(s.yr, r.yr) AS yr,
           CAST(coalesce(s.ship_cents, 0) AS BIGINT) AS ship_cents,
           CAST(coalesce(r.ret_cents, 0) AS BIGINT) AS ret_cents
    FROM ship s FULL OUTER JOIN ret r ON s.custkey = r.custkey AND s.yr = r.yr
    WHERE coalesce(r.ret_cents, 0) > coalesce(s.ship_cents, 0)
    ORDER BY custkey, yr
    """,
    doc="TPC-DS Q78 shape: two channel aggregates (kept vs returned "
    "revenue per customer-year) FULL OUTER joined on the grouped keys, "
    "COALESCE-merged, keeping customers whose returns exceed keeps — "
    "customers present in only one channel must survive the outer "
    "join. Both aggregates reduce the fact before the (small) "
    "full-outer shuffle; the predicate compares RAW sums (rounding "
    "only for display).",
)
def dsq78_channel_fullouter_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    # exact integer cents (see dsq64 note): order-independent sums, no
    # cross-engine rounding-boundary flips in the 2.5k-row output
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0).cast(
        "bigint"
    )
    base = t["lineitem"].join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
    # ONE conditional aggregation replaces the two filtered aggregate
    # legs + full-outer merge (r17, the dsq74 fold, guide §2.4): the
    # fact join ran TWICE (once per leg) and the leg outputs met in a
    # SortMergeJoin FullOuter. Equivalence: a leg had a (custkey, yr)
    # row iff the group has ≥1 row of its flag class, and sum(when(..))
    # is NULL exactly then — so the conditional sums reproduce the
    # outer join's NULL pattern, and the coalesce/filter logic below is
    # untouched. Output toPandas-equal (25,188 rows, dtypes included).
    # Local A/B is modest (dims broadcast at sf0.1: 1.46 → 1.33s) but
    # the plan drops one full fact join + the SMJ FullOuter — the terms
    # that dominate at scale.
    # NULL keys never match in the outer join, so a NULL-keyed group's
    # ship and return legs stay two rows there: ``leg`` splits them
    # (NULL — one merged group — whenever both keys are present).
    custkey = F.col("o_custkey")
    yr = F.year("l_shipdate").cast("int")
    leg = F.when(custkey.isNull() | yr.isNull(), F.col("l_returnflag") == "R")
    agg = base.groupBy(custkey.alias("custkey"), yr.alias("yr"), leg.alias("leg")).agg(
        F.sum(F.when(F.col("l_returnflag") != "R", cents)).alias("s_cents"),
        F.sum(F.when(F.col("l_returnflag") == "R", cents)).alias("r_cents"),
    )
    return (
        agg.filter(
            F.coalesce(F.col("r_cents"), F.lit(0)) > F.coalesce(F.col("s_cents"), F.lit(0))
        )
        .select(
            "custkey",
            "yr",
            F.coalesce(F.col("s_cents"), F.lit(0)).alias("ship_cents"),
            F.coalesce(F.col("r_cents"), F.lit(0)).alias("ret_cents"),
        )
        .orderBy("custkey", "yr")
    )


@query(
    "dsq95_dual_semijoin",
    oracle="""
    WITH multi_supp AS (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING count(DISTINCT l_suppkey) > 1
    ), returned AS (
      SELECT DISTINCT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
    )
    SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
      AND o_orderkey IN (SELECT l_orderkey FROM multi_supp)
      AND o_orderkey IN (SELECT l_orderkey FROM returned)
    """,
    doc="TPC-DS Q95 shape: TWO semi-join chains on the same key — "
    "orders shipped by more than one supplier AND appearing among "
    "returned lines (DS: ws_order_number in two-warehouse set and in "
    "web_returns) — inside a date window, reduced to one summary row. "
    "Both IN-subqueries become left-semi joins over pre-aggregated "
    "key sets; the multi-supplier set is a HAVING over a distinct "
    "count, computed once.",
)
def dsq95_dual_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    o = t["orders"].filter(
        (F.col("o_orderdate") >= _ts("1996-01-01"))
        & (F.col("o_orderdate") < _ts("1997-01-01"))
    )
    # Gate the fact by the WINDOWED order keys BEFORE the per-order
    # aggregate (the dsq94 rewrite), and fold BOTH IN-gates into ONE
    # aggregate over the reduced frame: the semi-join shuffles
    # lineitem on the same key the groupBy needs (one effective fact
    # shuffle, vs TWO full-fact aggregations before), and
    # IN(multi-supplier) AND IN(returned) is exactly the per-order
    # predicate ns > 1 AND has_ret = 1 — lines belong to one order,
    # so order-level windowing cannot change either gate.
    gates = (
        t["lineitem"].select("l_orderkey", "l_suppkey", "l_returnflag")
        .join(o.select("o_orderkey"),
              F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
        .groupBy("l_orderkey")
        .agg(
            F.count_distinct("l_suppkey").alias("ns"),
            F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("has_ret"),
        )
        .filter((F.col("ns") > 1) & (F.col("has_ret") == 1))
        .select("l_orderkey")
    )
    return (
        o.join(gates, F.col("o_orderkey") == gates["l_orderkey"], "left_semi")
        .agg(
            F.count_distinct("o_custkey").cast("bigint").alias("n_custs"),
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


@query(
    "dsq16_exists_notexists_window",
    oracle="""
    SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1995-01-01'
      AND o_orderdate <  TIMESTAMP '1995-07-01'
      AND EXISTS (SELECT 1 FROM lineitem l1
                  WHERE l1.l_orderkey = o.o_orderkey AND l1.l_discount > 0.05)
      AND NOT EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = o.o_orderkey AND l2.l_returnflag = 'R')
    """,
    doc="TPC-DS Q16 shape: date-window count with an EXISTS and a "
    "NOT EXISTS against the same fact on the same correlation key "
    "(DS: another catalog line from a different warehouse exists, no "
    "return exists). Planned as one left-semi plus one left-anti join "
    "over key sets reduced from a single lineitem scan each; the "
    "window filter prunes orders before either join.",
)
def dsq16_exists_notexists_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    li = t["lineitem"]
    disc = li.filter(F.col("l_discount") > 0.05).select("l_orderkey")
    ret = li.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        t["orders"]
        .filter(
            (F.col("o_orderdate") >= _ts("1995-01-01"))
            & (F.col("o_orderdate") < _ts("1995-07-01"))
        )
        .join(disc, F.col("o_orderkey") == disc["l_orderkey"], "left_semi")
        .join(ret, F.col("o_orderkey") == ret["l_orderkey"], "left_anti")
        .agg(
            F.count_distinct("o_custkey").cast("bigint").alias("n_custs"),
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


@query(
    "dsq47_moving_avg_deviation",
    oracle="""
    WITH monthly AS (
      SELECT p_brand, CAST(year(l_shipdate) * 100 + month(l_shipdate) AS INT) AS ym,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT))
                  AS BIGINT) AS cents
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      GROUP BY p_brand, year(l_shipdate) * 100 + month(l_shipdate)
    )
    SELECT p_brand, ym, cents,
           CAST(floor(avg(cents) OVER (PARTITION BY p_brand ORDER BY ym
                                       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW))
                AS BIGINT) AS mavg_cents
    FROM monthly
    QUALIFY abs(cents - avg(cents) OVER (PARTITION BY p_brand ORDER BY ym
                                         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW))
            > 0.2 * avg(cents) OVER (PARTITION BY p_brand ORDER BY ym
                                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    ORDER BY p_brand, ym
    """,
    doc="TPC-DS Q47/Q57 shape: months deviating >20% from their "
    "brand's trailing 3-month moving average — a bounded ROWS frame "
    "over the grouped monthly series, with the deviation predicate on "
    "the RAW window value (QUALIFY in the oracle). Aggregate before "
    "window: the frame runs over brand-month rows, never the fact. "
    "Money in exact integer cents; the 3-row average divides identical "
    "integer sums, so both engines produce bit-identical doubles.",
)
def dsq47_moving_avg_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0).cast(
        "bigint"
    )
    monthly = (
        t["lineitem"]
        .filter(F.col("l_shipdate") >= _ts("1997-01-01"))
        .join(_bcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(
            "p_brand",
            (F.year("l_shipdate") * 100 + F.month("l_shipdate")).cast("int").alias("ym"),
        )
        .agg(F.sum(cents).alias("cents"))
    )
    w = Window.partitionBy("p_brand").orderBy("ym").rowsBetween(-2, 0)
    mavg = F.avg("cents").over(w)
    return (
        monthly.withColumn("__mavg", mavg)
        .filter(F.abs(F.col("cents") - F.col("__mavg")) > 0.2 * F.col("__mavg"))
        .select(
            "p_brand", "ym", "cents",
            F.floor("__mavg").cast("bigint").alias("mavg_cents"),
        )
        .orderBy("p_brand", "ym")
    )


@query(
    "dsq35_segment_profile_exists",
    oracle="""
    SELECT n_name, c_mktsegment,
           count(*) AS n_custs,
           round(avg(c_acctbal), 6) AS avg_bal,
           round(max(c_acctbal), 2) AS max_bal,
           round(min(c_acctbal), 2) AS min_bal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '1995-01-01'
                    AND o_orderdate <  TIMESTAMP '1996-01-01')
    GROUP BY n_name, c_mktsegment
    ORDER BY n_name, c_mktsegment
    """,
    doc="TPC-DS Q35 shape: demographic profile (count/avg/max/min per "
    "dimension pair) of customers gated by an EXISTS activity window "
    "(DS: store_sales existence per demographic cell). The EXISTS is a "
    "left-semi join against the date-pruned orders key set; nation "
    "broadcasts; one aggregate shuffle over surviving customers.",
)
def dsq35_segment_profile_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    active = (
        t["orders"]
        .filter(
            (F.col("o_orderdate") >= _ts("1995-01-01"))
            & (F.col("o_orderdate") < _ts("1996-01-01"))
        )
        .select("o_custkey")
    )
    return (
        t["customer"]
        .join(active, F.col("c_custkey") == active["o_custkey"], "left_semi")
        .join(_bcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            F.round(F.avg("c_acctbal"), 6).alias("avg_bal"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
            F.round(F.min("c_acctbal"), 2).alias("min_bal"),
        )
        .orderBy("n_name", "c_mktsegment")
    )


@query(
    "dsq21_before_after_pivot",
    oracle="""
    SELECT p_brand,
           CAST(sum(CASE WHEN l_shipdate <  TIMESTAMP '1997-07-01' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_before,
           CAST(sum(CASE WHEN l_shipdate >= TIMESTAMP '1997-07-01' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_after
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY p_brand
    HAVING sum(CASE WHEN l_shipdate <  TIMESTAMP '1997-07-01' THEN 1 ELSE 0 END) > 0
       AND sum(CASE WHEN l_shipdate >= TIMESTAMP '1997-07-01' THEN 1 ELSE 0 END) > 0
       AND CAST(sum(CASE WHEN l_shipdate >= TIMESTAMP '1997-07-01' THEN 1 ELSE 0 END) AS DOUBLE)
           / sum(CASE WHEN l_shipdate < TIMESTAMP '1997-07-01' THEN 1 ELSE 0 END)
           BETWEEN 2.0/3.0 AND 3.0/2.0
    ORDER BY p_brand
    """,
    doc="TPC-DS Q21 shape: per-item activity counted before vs after a "
    "pivot date inside one window, keeping items whose after/before "
    "ratio stays within [2/3, 3/2] (DS counts inventory around a sales "
    "date). Both counts are CASE aggregates in ONE scan — no "
    "self-join; the HAVING ratio divides exact integer counts.",
)
def dsq21_before_after_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    pivot = _ts("1997-07-01")
    before = F.sum(F.when(F.col("l_shipdate") < pivot, 1).otherwise(0))
    after = F.sum(F.when(F.col("l_shipdate") >= pivot, 1).otherwise(0))
    return (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= _ts("1997-01-01"))
            & (F.col("l_shipdate") < _ts("1998-01-01"))
        )
        .join(_bcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(before.cast("bigint").alias("n_before"), after.cast("bigint").alias("n_after"))
        .filter(
            (F.col("n_before") > 0)
            & (F.col("n_after") > 0)
            & (F.col("n_after").cast("double") / F.col("n_before")).between(
                2.0 / 3.0, 3.0 / 2.0
            )
        )
        .orderBy("p_brand")
    )


@query(
    "dsq39_cov_month_pairs",
    oracle="""
    WITH stats AS (
      SELECT p_brand, CAST(month(l_shipdate) AS INT) AS mo,
             count(*) AS n,
             avg(l_quantity) AS mu,
             stddev_samp(l_quantity) AS sigma
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        AND l_shipdate <  TIMESTAMP '1999-01-01'
      GROUP BY p_brand, month(l_shipdate)
      HAVING count(*) > 1 AND avg(l_quantity) > 0
    )
    SELECT s1.p_brand AS p_brand, s1.mo AS mo1, s2.mo AS mo2,
           round(s1.sigma / s1.mu, 6) AS cov1,
           round(s2.sigma / s2.mu, 6) AS cov2
    FROM stats s1 JOIN stats s2
      ON s1.p_brand = s2.p_brand AND s1.mo + 1 = s2.mo
    WHERE s1.sigma / s1.mu > 0.5 AND s2.sigma / s2.mu > 0.5
    ORDER BY p_brand, mo1
    """,
    doc="TPC-DS Q39 shape: coefficient-of-variation per (item, month) "
    "computed once, then a self-join pairs CONSECUTIVE months where "
    "both sides exceed the volatility threshold (DS pairs warehouse "
    "months). The join runs over the grouped stats frame, never the "
    "fact; the cov predicate uses raw sums, rounding only for display.",
)
def dsq39_cov_month_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    stats = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= _ts("1998-01-01"))
            & (F.col("l_shipdate") < _ts("1999-01-01"))
        )
        .join(_bcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", F.month("l_shipdate").cast("int").alias("mo"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("l_quantity").alias("mu"),
            F.stddev_samp("l_quantity").alias("sigma"),
        )
        .filter((F.col("n") > 1) & (F.col("mu") > 0))
    )
    s1 = stats.alias("s1")
    s2 = stats.alias("s2")
    return (
        s1.join(
            s2,
            (F.col("s1.p_brand") == F.col("s2.p_brand"))
            & (F.col("s1.mo") + 1 == F.col("s2.mo")),
        )
        .filter(
            (F.col("s1.sigma") / F.col("s1.mu") > 0.5)
            & (F.col("s2.sigma") / F.col("s2.mu") > 0.5)
        )
        .select(
            F.col("s1.p_brand").alias("p_brand"),
            F.col("s1.mo").alias("mo1"),
            F.col("s2.mo").alias("mo2"),
            F.round(F.col("s1.sigma") / F.col("s1.mu"), 6).alias("cov1"),
            F.round(F.col("s2.sigma") / F.col("s2.mu"), 6).alias("cov2"),
        )
        .orderBy("p_brand", "mo1")
    )


@query(
    "dsq59_week_over_year_ratio",
    oracle="""
    WITH weekly AS (
      SELECT n_name, CAST(year(o_orderdate) AS INT) AS yr,
             CAST(week(o_orderdate) AS INT) AS wk,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        AND o_orderdate <  TIMESTAMP '1999-01-01'
      GROUP BY n_name, year(o_orderdate), week(o_orderdate)
    )
    SELECT w1.n_name AS n_name, w1.wk AS wk,
           w1.cents AS cents_1997, w2.cents AS cents_1998,
           round(CAST(w2.cents AS DOUBLE) / w1.cents, 6) AS ratio
    FROM weekly w1 JOIN weekly w2
      ON w1.n_name = w2.n_name AND w1.wk = w2.wk
    WHERE w1.yr = 1997 AND w2.yr = 1998 AND w1.cents > 0
    ORDER BY n_name, wk
    """,
    doc="TPC-DS Q59 shape: weekly revenue per dimension, self-joined "
    "same-week-across-years to a growth ratio (DS compares store weeks "
    "y vs y+1). ISO week number must agree across engines (both "
    "ISO-8601); money in exact cents so the compared values and the "
    "ratio inputs are engine-identical.",
)
def dsq59_week_over_year_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    weekly = (
        t["orders"]
        .filter(
            (F.col("o_orderdate") >= _ts("1997-01-01"))
            & (F.col("o_orderdate") < _ts("1999-01-01"))
        )
        .join(_bcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(_bcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            "n_name",
            F.year("o_orderdate").cast("int").alias("yr"),
            F.weekofyear("o_orderdate").cast("int").alias("wk"),
        )
        .agg(F.sum(cents).alias("cents"))
    )
    w1 = weekly.filter(F.col("yr") == 1997).alias("w1")
    w2 = weekly.filter(F.col("yr") == 1998).alias("w2")
    return (
        w1.join(
            w2,
            (F.col("w1.n_name") == F.col("w2.n_name")) & (F.col("w1.wk") == F.col("w2.wk")),
        )
        .filter(F.col("w1.cents") > 0)
        .select(
            F.col("w1.n_name").alias("n_name"),
            F.col("w1.wk").alias("wk"),
            F.col("w1.cents").alias("cents_1997"),
            F.col("w2.cents").alias("cents_1998"),
            F.round(F.col("w2.cents").cast("double") / F.col("w1.cents"), 6).alias("ratio"),
        )
        .orderBy("n_name", "wk")
    )


@query(
    "dsq76_channel_null_dims",
    oracle="""
    WITH chan AS (
      SELECT 'line' AS channel, l_returnflag AS flag, NULL AS prio,
             CAST(year(l_shipdate) AS INT) AS yr,
             CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents
      FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-01-01'
      UNION ALL
      SELECT 'order' AS channel, NULL AS flag, o_orderpriority AS prio,
             CAST(year(o_orderdate) AS INT) AS yr,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
      FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
    )
    SELECT channel, flag, prio, yr,
           count(*) AS n,
           CAST(sum(cents) AS BIGINT) AS total_cents
    FROM chan
    GROUP BY channel, flag, prio, yr
    ORDER BY channel, flag NULLS FIRST, prio NULLS FIRST, yr
    """,
    doc="TPC-DS Q76 shape: channels UNION ALL'd with deliberately-NULL "
    "dimension columns (each channel lacks the other's dimension), "
    "grouped across the union — NULL grouping keys must flow through "
    "the union and group correctly (DS unions store/web/catalog with "
    "null-filled columns). Each branch reduces map-side before the one "
    "aggregate shuffle.",
)
def dsq76_channel_null_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    line = (
        t["lineitem"]
        .filter(F.col("l_shipdate") >= _ts("1998-01-01"))
        .select(
            F.lit("line").alias("channel"),
            F.col("l_returnflag").alias("flag"),
            F.lit(None).cast("string").alias("prio"),
            F.year("l_shipdate").cast("int").alias("yr"),
            F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("cents"),
        )
    )
    order = (
        t["orders"]
        .filter(F.col("o_orderdate") >= _ts("1998-01-01"))
        .select(
            F.lit("order").alias("channel"),
            F.lit(None).cast("string").alias("flag"),
            F.col("o_orderpriority").alias("prio"),
            F.year("o_orderdate").cast("int").alias("yr"),
            F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
        )
    )
    return (
        line.unionByName(order)
        .groupBy("channel", "flag", "prio", "yr")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("total_cents"))
        .orderBy("channel", F.col("flag").asc_nulls_first(), F.col("prio").asc_nulls_first(), "yr")
    )


@query(
    "dsq66_monthly_pivot_wide",
    oracle="""
    SELECT n_name,
           CAST(sum(CASE WHEN month(o_orderdate) = 1  THEN 1 ELSE 0 END) AS BIGINT) AS jan,
           CAST(sum(CASE WHEN month(o_orderdate) = 2  THEN 1 ELSE 0 END) AS BIGINT) AS feb,
           CAST(sum(CASE WHEN month(o_orderdate) = 3  THEN 1 ELSE 0 END) AS BIGINT) AS mar,
           CAST(sum(CASE WHEN month(o_orderdate) = 4  THEN 1 ELSE 0 END) AS BIGINT) AS apr,
           CAST(sum(CASE WHEN month(o_orderdate) = 5  THEN 1 ELSE 0 END) AS BIGINT) AS may,
           CAST(sum(CASE WHEN month(o_orderdate) = 6  THEN 1 ELSE 0 END) AS BIGINT) AS jun,
           CAST(sum(CASE WHEN month(o_orderdate) = 7  THEN 1 ELSE 0 END) AS BIGINT) AS jul,
           CAST(sum(CASE WHEN month(o_orderdate) = 8  THEN 1 ELSE 0 END) AS BIGINT) AS aug,
           CAST(sum(CASE WHEN month(o_orderdate) = 9  THEN 1 ELSE 0 END) AS BIGINT) AS sep,
           CAST(sum(CASE WHEN month(o_orderdate) = 10 THEN 1 ELSE 0 END) AS BIGINT) AS oct,
           CAST(sum(CASE WHEN month(o_orderdate) = 11 THEN 1 ELSE 0 END) AS BIGINT) AS nov,
           CAST(sum(CASE WHEN month(o_orderdate) = 12 THEN 1 ELSE 0 END) AS BIGINT) AS dec_
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    ORDER BY n_name
    """,
    doc="TPC-DS Q66 shape: 12 month-columns materialized as CASE "
    "aggregates in ONE pass over the fact (DS pivots ship-mode monthly "
    "totals the same way) — wide aggregate, no pivot shuffle, no "
    "repeated scans.",
)
def dsq66_monthly_pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    names = ["jan", "feb", "mar", "apr", "may", "jun",
             "jul", "aug", "sep", "oct", "nov", "dec_"]
    aggs = [
        F.sum(F.when(F.month("o_orderdate") == m, 1).otherwise(0))
        .cast("bigint")
        .alias(names[m - 1])
        for m in range(1, 13)
    ]
    return (
        t["orders"]
        .filter(
            (F.col("o_orderdate") >= _ts("1997-01-01"))
            & (F.col("o_orderdate") < _ts("1998-01-01"))
        )
        .join(_bcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(_bcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(*aggs)
        .orderBy("n_name")
    )


@query(
    "dsq50_ship_latency_buckets",
    oracle="""
    SELECT n_name,
           CAST(sum(CASE WHEN datediff('day', o_orderdate, l_shipdate) <= 30
                         THEN 1 ELSE 0 END) AS BIGINT) AS d30,
           CAST(sum(CASE WHEN datediff('day', o_orderdate, l_shipdate) > 30
                          AND datediff('day', o_orderdate, l_shipdate) <= 60
                         THEN 1 ELSE 0 END) AS BIGINT) AS d60,
           CAST(sum(CASE WHEN datediff('day', o_orderdate, l_shipdate) > 60
                          AND datediff('day', o_orderdate, l_shipdate) <= 90
                         THEN 1 ELSE 0 END) AS BIGINT) AS d90,
           CAST(sum(CASE WHEN datediff('day', o_orderdate, l_shipdate) > 90
                         THEN 1 ELSE 0 END) AS BIGINT) AS d90plus
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey  = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    ORDER BY n_name
    """,
    doc="TPC-DS Q50 shape: order-to-ship latency banded into CASE "
    "buckets per dimension in one pass (DS buckets days-to-return per "
    "store). datediff runs identically in both engines on NTZ "
    "timestamps; dims broadcast; one aggregate shuffle.",
)
def dsq50_ship_latency_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    lag = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    def band(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(
            (F.col("o_orderdate") >= _ts("1997-01-01"))
            & (F.col("o_orderdate") < _ts("1998-01-01"))
        )
        .join(_bcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(_bcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            band(lag <= 30).alias("d30"),
            band((lag > 30) & (lag <= 60)).alias("d60"),
            band((lag > 60) & (lag <= 90)).alias("d90"),
            band(lag > 90).alias("d90plus"),
        )
        .orderBy("n_name")
    )


@query(
    "dsq33_category_union_sum",
    oracle="""
    WITH hits AS (
      SELECT p_brand,
             CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT) AS cents
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_type LIKE '%PROMO%'
        AND l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1997-07-01'
      UNION ALL
      SELECT p_brand,
             CAST(round(o_totalprice * 10, 0) AS BIGINT) AS cents
      FROM orders
      JOIN lineitem ON o_orderkey = l_orderkey
      JOIN part     ON l_partkey = p_partkey
      WHERE p_type LIKE '%PROMO%'
        AND o_orderdate >= TIMESTAMP '1997-01-01'
        AND o_orderdate <  TIMESTAMP '1997-07-01'
    )
    SELECT p_brand, CAST(sum(cents) AS BIGINT) AS total_cents,
           count(*) AS n
    FROM hits
    GROUP BY p_brand
    ORDER BY total_cents DESC, p_brand
    LIMIT 10
    """,
    doc="TPC-DS Q33/Q56/Q60 shape: the same category-restricted "
    "aggregate computed per channel, UNION ALL'd, re-aggregated to a "
    "cross-channel total, top-N (DS unions store/web/catalog manu "
    "sums). The category filter lands on the part dimension in each "
    "branch before its join.",
)
def dsq33_category_union_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    brass = _bcast(t["part"].filter(F.col("p_type").like("%PROMO%")))
    line = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= _ts("1997-01-01"))
            & (F.col("l_shipdate") < _ts("1997-07-01"))
        )
        .join(brass, F.col("l_partkey") == F.col("p_partkey"))
        .select(
            "p_brand",
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0)
            .cast("bigint")
            .alias("cents"),
        )
    )
    ords = (
        t["orders"]
        .filter(
            (F.col("o_orderdate") >= _ts("1997-01-01"))
            & (F.col("o_orderdate") < _ts("1997-07-01"))
        )
        .join(t["lineitem"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(brass, F.col("l_partkey") == F.col("p_partkey"))
        .select(
            "p_brand",
            F.round(F.col("o_totalprice") * 10, 0).cast("bigint").alias("cents"),
        )
    )
    return (
        line.unionByName(ords)
        .groupBy("p_brand")
        .agg(F.sum("cents").cast("bigint").alias("total_cents"), F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("total_cents").desc(), "p_brand")
        .limit(10)
    )


@query(
    "dsq65_min_share_brands",
    oracle="""
    WITH brand_rev AS (
      SELECT p_brand,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT))
                  AS BIGINT) AS cents
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand
    )
    SELECT b.p_brand AS p_brand, b.cents AS cents,
           m.max_cents AS max_cents
    FROM brand_rev b
    CROSS JOIN (SELECT max(cents) AS max_cents FROM brand_rev) m
    WHERE b.cents * 10 <= m.max_cents * 8
    ORDER BY p_brand
    """,
    doc="TPC-DS Q65 shape: dimension members whose total falls below a "
    "fraction (80%) of the global best — an aggregate joined against the "
    "aggregate-of-the-aggregate (DS: stores' items under 10% of avg). "
    "The one-row max side cross-joins (broadcast) onto the grouped "
    "frame; the fraction predicate multiplies exact integer cents, no "
    "division.",
)
def dsq65_min_share_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0).cast(
        "bigint"
    )
    brand_rev = (
        t["lineitem"]
        .join(_bcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(F.sum(cents).cast("bigint").alias("cents"))
        # referenced twice (rows + global max); non-eager keeps the
        # BUILD lazy — eager ran the whole aggregation as a side effect
        # of merely constructing the frame (gen_plans.py dumped an
        # opaque checkpoint scan instead of the plan; r15 review)
        .localCheckpoint(eager=False)
    )
    mx = brand_rev.agg(F.max("cents").alias("max_cents"))
    return (
        brand_rev.crossJoin(F.broadcast(mx))  # one-row aggregate combine
        .filter(F.col("cents") * 10 <= F.col("max_cents") * 8)
        .select("p_brand", "cents", "max_cents")
        .orderBy("p_brand")
    )


@query(
    "dsq29_buy_return_rebuy",
    oracle="""
    WITH bought AS (
      SELECT DISTINCT o_custkey AS ck, l_partkey AS pk
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE l_returnflag <> 'R'
    ), returned AS (
      SELECT DISTINCT o_custkey AS ck, l_partkey AS pk
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE l_returnflag = 'R'
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT b.ck) AS BIGINT) AS n_custs
    FROM bought b JOIN returned r ON b.ck = r.ck AND b.pk = r.pk
    """,
    doc="TPC-DS Q29/Q25 shape: the sold -> returned -> re-bought chain "
    "keyed on (customer, item) across fact passes (DS chains "
    "store_sales/store_returns/catalog_sales). Two distinct key-set "
    "reductions of the same fact join on the composite key; the count "
    "summarizes the chain membership.",
)
def dsq29_buy_return_rebuy(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    base = t["orders"].join(t["lineitem"], F.col("o_orderkey") == F.col("l_orderkey"))
    bought = (
        base.filter(F.col("l_returnflag") != "R")
        .select(F.col("o_custkey").alias("b_ck"), F.col("l_partkey").alias("b_pk"))
        .distinct()
    )
    returned = (
        base.filter(F.col("l_returnflag") == "R")
        .select(F.col("o_custkey").alias("r_ck"), F.col("l_partkey").alias("r_pk"))
        .distinct()
    )
    return (
        bought.join(
            returned,
            (F.col("b_ck") == F.col("r_ck")) & (F.col("b_pk") == F.col("r_pk")),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.count_distinct("b_ck").cast("bigint").alias("n_custs"),
        )
    )


@query(
    "dsq45_disjunctive_semijoin",
    oracle="""
    SELECT n_name, CAST(count(*) AS BIGINT) AS n_custs,
           round(sum(c_acctbal), 2) AS total_bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE n_name IN ('NATION_3', 'NATION_7')
       OR c_custkey IN (SELECT o_custkey FROM orders
                        WHERE o_totalprice > 400000)
    GROUP BY n_name
    ORDER BY n_name
    """,
    doc="TPC-DS Q45 shape: a dimension-membership predicate OR'd with "
    "an IN-subquery (DS: zip in list OR item in set) — the disjunction "
    "prevents a plain semi-join, so the subquery becomes a left join "
    "with a match flag and the filter tests flag-or-membership. Money "
    "rounded at 2 over a per-nation sum of base values (not a "
    "computed product), safe against boundary flips.",
)
def dsq45_disjunctive_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    big = (
        t["orders"]
        .filter(F.col("o_totalprice") > 400000)
        .select(F.col("o_custkey").alias("big_ck"))
        .distinct()
    )
    return (
        t["customer"]
        .join(_bcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(big, F.col("c_custkey") == F.col("big_ck"), "left")
        .filter(F.col("n_name").isin("NATION_3", "NATION_7") | F.col("big_ck").isNotNull())
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_custs"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
        .orderBy("n_name")
    )


@query(
    "dsq70_rank_within_parent",
    oracle="""
    WITH agg AS (
      SELECT r_name, n_name,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents,
             CAST(grouping(r_name) AS INT) AS g_r,
             CAST(grouping(n_name) AS INT) AS g_n
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        AND o_orderdate <  TIMESTAMP '1998-01-01'
      GROUP BY ROLLUP (r_name, n_name)
    )
    SELECT r_name, n_name, cents, g_r, g_n,
           CAST(rank() OVER (PARTITION BY g_r, g_n,
                                          CASE WHEN g_n = 0 THEN r_name END
                             ORDER BY cents DESC) AS BIGINT) AS rnk
    FROM agg
    ORDER BY g_r DESC, g_n DESC, r_name NULLS FIRST, rnk, n_name NULLS FIRST
    """,
    doc="TPC-DS Q70 shape: RANK WITHIN PARENT over a ROLLUP — nations "
    "ranked inside their region on the detail rows, regions ranked "
    "against each other on the subtotal rows, the grand total alone — "
    "by partitioning the rank window on (grouping flags, parent key). "
    "The window consumes only the rollup output; grouping() flags ride "
    "as columns so both engines agree on level identity.",
)
def dsq70_rank_within_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    agg = (
        t["orders"]
        .filter(
            (F.col("o_orderdate") >= _ts("1997-01-01"))
            & (F.col("o_orderdate") < _ts("1998-01-01"))
        )
        .join(_bcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(_bcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(_bcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .rollup("r_name", "n_name")
        .agg(
            F.sum(cents).cast("bigint").alias("cents"),
            F.grouping("r_name").cast("int").alias("g_r"),
            F.grouping("n_name").cast("int").alias("g_n"),
        )
    )
    # Partition detail rows (g_n=0) per region; subtotal rows (g_n=1)
    # share ONE partition (NULL key) so regions genuinely rank against
    # each other — a constant r_name partition key would leave every
    # subtotal row alone with rnk=1 (advisor r8 finding).
    parent = F.when(F.col("g_n") == 0, F.col("r_name"))
    w = Window.partitionBy("g_r", "g_n", parent).orderBy(F.col("cents").desc())
    return (
        agg.withColumn("rnk", F.rank().over(w).cast("bigint"))
        .orderBy(
            F.col("g_r").desc(),
            F.col("g_n").desc(),
            F.col("r_name").asc_nulls_first(),
            "rnk",
            F.col("n_name").asc_nulls_first(),
        )
    )


# ---------------------------------------------------------------------------
# Fourth wave (r9): nine more DS families toward the reference's 99
# (pg_lake_benchmark/src/tpcds.c runs all of them).
# ---------------------------------------------------------------------------


@query(
    "dsq02_week_over_week",
    oracle="""
    WITH wk AS (
      SELECT CAST(year(l_shipdate) AS INT) AS yr,
             CAST(CAST(date_diff('day', DATE '1995-01-01', l_shipdate) AS BIGINT) % 7 AS INT) AS dow,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem
      GROUP BY year(l_shipdate),
               CAST(date_diff('day', DATE '1995-01-01', l_shipdate) AS BIGINT) % 7
    )
    SELECT a.yr AS yr, a.dow AS dow,
           a.cents AS cents, b.cents AS next_cents,
           round(CAST(b.cents AS DOUBLE) / a.cents, 6) AS wow_ratio
    FROM wk a JOIN wk b ON b.yr = a.yr + 1 AND b.dow = a.dow
    ORDER BY yr, dow
    """,
    doc="TPC-DS Q2 shape: per-day-of-week revenue compared year over "
    "year via a self-join of the SAME weekly CTE shifted by one year. "
    "Day-of-week is computed portably as days-since-epoch mod 7 (both "
    "engines disagree on dayofweek numbering, not on date arithmetic). "
    "The self-join runs over the tiny grouped frame (years x 7), never "
    "the fact.",
)
def dsq02_week_over_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0).cast(
        "bigint"
    )
    wk = (
        t["lineitem"]
        .groupBy(
            F.year("l_shipdate").cast("int").alias("yr"),
            F.pmod(F.datediff(F.col("l_shipdate"), F.lit("1995-01-01")), F.lit(7))
            .cast("int")
            .alias("dow"),
        )
        .agg(F.sum(cents).cast("bigint").alias("cents"))
    )
    a, b = wk.alias("a"), wk.alias("b")
    return (
        a.join(
            b,
            (F.col("b.yr") == F.col("a.yr") + 1) & (F.col("b.dow") == F.col("a.dow")),
        )
        .select(
            F.col("a.yr").alias("yr"),
            F.col("a.dow").alias("dow"),
            F.col("a.cents").alias("cents"),
            F.col("b.cents").alias("next_cents"),
            F.round(F.col("b.cents").cast("double") / F.col("a.cents"), 6).alias(
                "wow_ratio"
            ),
        )
        .orderBy("yr", "dow")
    )


@query(
    "dsq09_case_scalar_buckets",
    oracle="""
    SELECT
      CASE WHEN (SELECT count(*) FROM lineitem WHERE l_quantity BETWEEN 1 AND 10) > 11000
           THEN (SELECT round(avg(l_extendedprice), 6) FROM lineitem WHERE l_quantity BETWEEN 1 AND 10)
           ELSE (SELECT round(avg(l_discount), 6)      FROM lineitem WHERE l_quantity BETWEEN 1 AND 10)
      END AS bucket1,
      CASE WHEN (SELECT count(*) FROM lineitem WHERE l_quantity BETWEEN 11 AND 20) > 11000
           THEN (SELECT round(avg(l_extendedprice), 6) FROM lineitem WHERE l_quantity BETWEEN 11 AND 20)
           ELSE (SELECT round(avg(l_discount), 6)      FROM lineitem WHERE l_quantity BETWEEN 11 AND 20)
      END AS bucket2,
      CASE WHEN (SELECT count(*) FROM lineitem WHERE l_quantity BETWEEN 21 AND 30) > 11000
           THEN (SELECT round(avg(l_extendedprice), 6) FROM lineitem WHERE l_quantity BETWEEN 21 AND 30)
           ELSE (SELECT round(avg(l_discount), 6)      FROM lineitem WHERE l_quantity BETWEEN 21 AND 30)
      END AS bucket3,
      CASE WHEN (SELECT count(*) FROM lineitem WHERE l_quantity BETWEEN 31 AND 40) > 11000
           THEN (SELECT round(avg(l_extendedprice), 6) FROM lineitem WHERE l_quantity BETWEEN 31 AND 40)
           ELSE (SELECT round(avg(l_discount), 6)      FROM lineitem WHERE l_quantity BETWEEN 31 AND 40)
      END AS bucket4,
      CASE WHEN (SELECT count(*) FROM lineitem WHERE l_quantity BETWEEN 41 AND 50) > 11000
           THEN (SELECT round(avg(l_extendedprice), 6) FROM lineitem WHERE l_quantity BETWEEN 41 AND 50)
           ELSE (SELECT round(avg(l_discount), 6)      FROM lineitem WHERE l_quantity BETWEEN 41 AND 50)
      END AS bucket5
    """,
    doc="TPC-DS Q9 shape: five CASE WHEN (scalar-count subquery) THEN "
    "(scalar-avg subquery) ELSE (other scalar-avg) END projections. DS "
    "runs 15 scalar subqueries over the same fact; here all bucket "
    "counts and both candidate averages per bucket come from ONE "
    "conditional-aggregation scan (avg(x) FILTER equivalent), then the "
    "CASE picks among the aggregated scalars — 15 fact scans fused "
    "into 1.",
)
def dsq09_case_scalar_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    li = t["lineitem"]
    aggs = []
    for i, (lo, hi) in enumerate([(1, 10), (11, 20), (21, 30), (31, 40), (41, 50)], 1):
        inb = F.col("l_quantity").between(lo, hi)
        aggs += [
            F.count(F.when(inb, 1)).alias(f"n{i}"),
            F.avg(F.when(inb, F.col("l_extendedprice"))).alias(f"ep{i}"),
            F.avg(F.when(inb, F.col("l_discount"))).alias(f"dc{i}"),
        ]
    one = li.agg(*aggs)
    return one.select(
        *[
            F.when(F.col(f"n{i}") > 11000, F.round(F.col(f"ep{i}"), 6))
            .otherwise(F.round(F.col(f"dc{i}"), 6))
            .alias(f"bucket{i}")
            for i in range(1, 6)
        ]
    )


@query(
    "dsq22_inventory_hierarchy_avg",
    oracle="""
    SELECT p_type, p_brand,
           round(avg(l_quantity), 6) AS avg_qty,
           CAST(count(*) AS BIGINT)  AS n,
           CAST(grouping(p_type) AS INT)  AS g_t,
           CAST(grouping(p_brand) AS INT) AS g_b
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1998-01-01'
      AND l_shipdate <  TIMESTAMP '2000-01-01'
    GROUP BY ROLLUP (p_type, p_brand)
    ORDER BY avg_qty, p_type NULLS FIRST, p_brand NULLS FIRST
    """,
    doc="TPC-DS Q22 shape: average quantity on hand over the product "
    "hierarchy ROLLUP, ordered by the AVERAGE itself (not the "
    "hierarchy) — subtotal rows interleave with detail rows in the "
    "output. Quantities are integral doubles, so sum and count are "
    "both exact and the avg is bit-identical across engines.",
)
def dsq22_inventory_hierarchy_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= _ts("1998-01-01"))
            & (F.col("l_shipdate") < _ts("2000-01-01"))
        )
        .join(_bcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .rollup("p_type", "p_brand")
        .agg(
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count(F.lit(1)).alias("n"),
            F.grouping("p_type").cast("int").alias("g_t"),
            F.grouping("p_brand").cast("int").alias("g_b"),
        )
        .orderBy(
            "avg_qty",
            F.col("p_type").asc_nulls_first(),
            F.col("p_brand").asc_nulls_first(),
        )
    )


@query(
    "dsq28_distinct_band_stats",
    oracle="""
    SELECT CAST(floor(l_quantity / 10) AS INT) AS qty_band,
           round(CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE)
                 / (100.0 * count(*)), 6)      AS avg_price,
           CAST(count(*) AS BIGINT)            AS n,
           CAST(count(DISTINCT l_extendedprice) AS BIGINT) AS n_prices,
           CAST(count(DISTINCT l_partkey) AS BIGINT)       AS n_parts
    FROM lineitem
    WHERE l_discount BETWEEN 0.02 AND 0.08
    GROUP BY CAST(floor(l_quantity / 10) AS INT)
    ORDER BY qty_band
    """,
    doc="TPC-DS Q28 shape: per-band average price plus TWO distinct "
    "counts per band. DS writes six self-contained subqueries (one per "
    "bucket) cross-joined into one row; the fused form is a single "
    "scan with a band key — one shuffle carrying both count-distinct "
    "states. avg is computed from the exact integer-cents sum so both "
    "engines divide identical numbers.",
)
def dsq28_distinct_band_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")
    return (
        t["lineitem"]
        .filter(F.col("l_discount").between(0.02, 0.08))
        .groupBy(F.floor(F.col("l_quantity") / 10).cast("int").alias("qty_band"))
        .agg(
            F.round(
                F.sum(cents).cast("double") / (100.0 * F.count(F.lit(1))), 6
            ).alias("avg_price"),
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("l_extendedprice").alias("n_prices"),
            F.countDistinct("l_partkey").alias("n_parts"),
        )
        .orderBy("qty_band")
    )


@query(
    "dsq32_excess_discount",
    oracle="""
    SELECT CAST(sum(CAST(round(l1.l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
             AS excess_cents,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem l1
    JOIN part ON l1.l_partkey = p_partkey
    WHERE p_type = 'PROMO'
      AND l1.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l1.l_shipdate <  TIMESTAMP '1998-01-01'
      AND l1.l_discount > 1.3 * (
            SELECT avg(l2.l_discount) FROM lineitem l2
            WHERE l2.l_partkey = l1.l_partkey
          )
    """,
    doc="TPC-DS Q32 shape: revenue on lines whose discount exceeds "
    "1.3x the item's own average discount — a correlated scalar "
    "aggregate over the SAME fact table. Planned as one per-part "
    "aggregate (computed over the full fact, as the subquery demands) "
    "joined back to the filtered probe side; the date/type filters "
    "prune the probe scan only, and the one-row result is exact "
    "integer cents.",
)
def dsq32_excess_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    per_part = t["lineitem"].groupBy(F.col("l_partkey").alias("pk")).agg(
        F.avg("l_discount").alias("avg_disc")
    )
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")
    return (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= _ts("1997-01-01"))
            & (F.col("l_shipdate") < _ts("1998-01-01"))
        )
        .join(_bcast(t["part"].filter(F.col("p_type") == "PROMO")),
              F.col("l_partkey") == F.col("p_partkey"))
        .join(per_part, F.col("l_partkey") == F.col("pk"))
        .filter(F.col("l_discount") > 1.3 * F.col("avg_disc"))
        .agg(
            F.sum(cents).cast("bigint").alias("excess_cents"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "dsq44_best_worst_items",
    oracle="""
    WITH perf AS (
      SELECT p_name,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) AS DOUBLE)
               / count(*) AS avg_cents
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_name
    )
    SELECT b.rnk AS rnk, b.p_name AS best_name, w.p_name AS worst_name
    FROM (SELECT p_name, rank() OVER (ORDER BY avg_cents DESC, p_name) AS rnk FROM perf) b
    JOIN (SELECT p_name, rank() OVER (ORDER BY avg_cents ASC,  p_name) AS rnk FROM perf) w
      ON b.rnk = w.rnk
    WHERE b.rnk <= 10
    ORDER BY rnk
    """,
    doc="TPC-DS Q44 shape: best and worst performing items by average "
    "net revenue, paired by rank position — TWO opposite-direction "
    "rank windows over one grouped frame, joined on rank. The frame is "
    "one row per part, so both windows and the join are negligible "
    "next to the single fact aggregation. avg is exact-cents / count "
    "(bit-identical division in both engines); p_name breaks ties.",
)
def dsq44_best_worst_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0).cast(
        "bigint"
    )
    perf = (
        t["lineitem"]
        .join(_bcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_name")
        .agg((F.sum(cents).cast("double") / F.count(F.lit(1))).alias("avg_cents"))
    )
    wb = Window.orderBy(F.col("avg_cents").desc(), "p_name")
    ww = Window.orderBy(F.col("avg_cents").asc(), "p_name")
    best = perf.select(F.col("p_name"), F.rank().over(wb).alias("rnk"))
    worst = perf.select(F.col("p_name").alias("w_name"), F.rank().over(ww).alias("w_rnk"))
    return (
        best.filter(F.col("rnk") <= 10)
        .join(worst, F.col("rnk") == F.col("w_rnk"))
        .select(
            "rnk",
            F.col("p_name").alias("best_name"),
            F.col("w_name").alias("worst_name"),
        )
        .orderBy("rnk")
    )


@query(
    "dsq57_outlier_with_neighbors",
    oracle="""
    WITH monthly AS (
      SELECT p_brand,
             CAST(year(l_shipdate) AS INT)  AS yr,
             CAST(month(l_shipdate) AS INT) AS mo,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand, year(l_shipdate), month(l_shipdate)
    ), windowed AS (
      SELECT p_brand, yr, mo, cents,
             avg(CAST(cents AS DOUBLE)) OVER (PARTITION BY p_brand, yr) AS yr_avg,
             lag(cents)  OVER (PARTITION BY p_brand ORDER BY yr, mo) AS prev_cents,
             lead(cents) OVER (PARTITION BY p_brand ORDER BY yr, mo) AS next_cents
      FROM monthly
    )
    SELECT p_brand, yr, mo, cents, round(yr_avg, 4) AS yr_avg,
           prev_cents, next_cents
    FROM windowed
    WHERE yr_avg > 0 AND abs(cents - yr_avg) > 0.25 * yr_avg
    ORDER BY p_brand, yr, mo
    """,
    doc="TPC-DS Q57 shape: monthly series outliers (>25% off the "
    "brand-year mean) reported WITH their lag/lead neighbor values — "
    "an unbounded avg window plus lag+lead over a second ordering, all "
    "over the grouped monthly frame. The deviation predicate runs on "
    "the raw window value; rounding is display-only.",
)
def dsq57_outlier_with_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0).cast(
        "bigint"
    )
    monthly = (
        t["lineitem"]
        .join(_bcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(
            "p_brand",
            F.year("l_shipdate").cast("int").alias("yr"),
            F.month("l_shipdate").cast("int").alias("mo"),
        )
        .agg(F.sum(cents).cast("bigint").alias("cents"))
    )
    wavg = Window.partitionBy("p_brand", "yr")
    wseq = Window.partitionBy("p_brand").orderBy("yr", "mo")
    out = monthly.select(
        "p_brand",
        "yr",
        "mo",
        "cents",
        F.avg(F.col("cents").cast("double")).over(wavg).alias("yr_avg"),
        F.lag("cents").over(wseq).alias("prev_cents"),
        F.lead("cents").over(wseq).alias("next_cents"),
    )
    return (
        out.filter(
            (F.col("yr_avg") > 0)
            & (F.abs(F.col("cents") - F.col("yr_avg")) > 0.25 * F.col("yr_avg"))
        )
        .select(
            "p_brand", "yr", "mo", "cents",
            F.round("yr_avg", 4).alias("yr_avg"),
            "prev_cents", "next_cents",
        )
        .orderBy("p_brand", "yr", "mo")
    )


@query(
    "dsq97_channel_overlap_counts",
    oracle="""
    WITH ret AS (
      SELECT DISTINCT o_custkey AS ck, l_partkey AS pk
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_returnflag = 'R'
    ), kept AS (
      SELECT DISTINCT o_custkey AS ck, l_partkey AS pk
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_returnflag = 'N'
    )
    SELECT CAST(sum(CASE WHEN ret.ck IS NOT NULL AND kept.ck IS NULL  THEN 1 ELSE 0 END) AS BIGINT) AS only_returned,
           CAST(sum(CASE WHEN ret.ck IS NULL  AND kept.ck IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS only_kept,
           CAST(sum(CASE WHEN ret.ck IS NOT NULL AND kept.ck IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS both_channels
    FROM ret FULL OUTER JOIN kept ON ret.ck = kept.ck AND ret.pk = kept.pk
    """,
    doc="TPC-DS Q97 shape: store/catalog customer-item overlap — two "
    "DISTINCT (customer, item) sets FULL OUTER joined on the composite "
    "key, reduced to exclusive-left / exclusive-right / intersection "
    "cardinalities in one conditional aggregation. Both distincts and "
    "the join shuffle on the same (ck, pk) key, so AQE can reuse the "
    "exchange; output is one row.",
)
def dsq97_channel_overlap_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    pairs = t["lineitem"].join(
        t["orders"], F.col("l_orderkey") == F.col("o_orderkey")
    )

    def chan(flag: str, a: str, b: str) -> DataFrame:
        return (
            pairs.filter(F.col("l_returnflag") == flag)
            .select(F.col("o_custkey").alias(a), F.col("l_partkey").alias(b))
            .distinct()
        )

    ret = chan("R", "r_ck", "r_pk")
    kept = chan("N", "k_ck", "k_pk")
    j = ret.join(
        kept,
        (F.col("r_ck") == F.col("k_ck")) & (F.col("r_pk") == F.col("k_pk")),
        "full_outer",
    )
    return j.agg(
        F.sum(
            F.when(F.col("r_ck").isNotNull() & F.col("k_ck").isNull(), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("only_returned"),
        F.sum(
            F.when(F.col("r_ck").isNull() & F.col("k_ck").isNotNull(), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("only_kept"),
        F.sum(
            F.when(F.col("r_ck").isNotNull() & F.col("k_ck").isNotNull(), 1).otherwise(
                0
            )
        )
        .cast("bigint")
        .alias("both_channels"),
    )


@query(
    "dsq98_class_revenue_share",
    oracle="""
    WITH agg AS (
      SELECT p_type, p_brand,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        AND l_shipdate <  TIMESTAMP '1999-01-01'
      GROUP BY p_type, p_brand
    )
    SELECT p_type, p_brand, cents,
           round(100.0 * cents / sum(cents) OVER (PARTITION BY p_type), 6) AS class_share
    FROM agg
    ORDER BY p_type, class_share DESC, p_brand
    """,
    doc="TPC-DS Q98 shape: each item's revenue share of its class via "
    "a windowed sum over the grouped frame (ratio_to_report). The "
    "window input is exact integer cents, so the share division is "
    "bit-identical across engines; ordering is by share within class "
    "with a name tie-break.",
)
def dsq98_class_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0).cast(
        "bigint"
    )
    agg = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= _ts("1998-01-01"))
            & (F.col("l_shipdate") < _ts("1999-01-01"))
        )
        .join(_bcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_type", "p_brand")
        .agg(F.sum(cents).cast("bigint").alias("cents"))
    )
    w = Window.partitionBy("p_type")
    return (
        agg.select(
            "p_type",
            "p_brand",
            "cents",
            F.round(100.0 * F.col("cents") / F.sum("cents").over(w), 6).alias(
                "class_share"
            ),
        )
        .orderBy("p_type", F.col("class_share").desc(), "p_brand")
    )


@query(
    "dsq75_yearly_decline",
    oracle="""
    WITH chan AS (
      SELECT year(l_shipdate) AS yr, p_brand,
             CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)
               * (CASE WHEN l_returnflag = 'R' THEN -1 ELSE 1 END) AS cents
      FROM lineitem JOIN part ON l_partkey = p_partkey
      UNION ALL
      SELECT year(o_orderdate) AS yr, 'ORDERS#' || CAST(o_orderkey % 5 AS VARCHAR) AS p_brand,
             CAST(round(o_totalprice * 10, 0) AS BIGINT) AS cents
      FROM orders
    ), yearly AS (
      SELECT CAST(yr AS INT) AS yr, p_brand,
             CAST(sum(cents) AS BIGINT) AS net_cents
      FROM chan GROUP BY yr, p_brand
    )
    SELECT cur.p_brand AS p_brand, cur.yr AS yr,
           prev.net_cents AS prev_cents, cur.net_cents AS cur_cents,
           round(CAST(cur.net_cents AS DOUBLE) / prev.net_cents, 6) AS ratio
    FROM yearly cur JOIN yearly prev
      ON cur.p_brand = prev.p_brand AND cur.yr = prev.yr + 1
    WHERE prev.net_cents > 0 AND cur.net_cents < prev.net_cents * 0.9
    ORDER BY p_brand, yr
    """,
    doc="TPC-DS Q75 shape: net-of-returns sales UNION ALL'd across two "
    "channels, aggregated per (year, brand), self-joined on "
    "consecutive years, keeping brands whose sales DECLINED >10%. "
    "Returns contribute negatively inside the union (one scan per "
    "channel, no separate returns join); the YoY self-join runs over "
    "the tiny grouped frame. Money is exact integer cents end-to-end; "
    "the decline predicate compares raw bigints scaled by a DOUBLE "
    "constant identically in both engines.",
)
def dsq75_yearly_decline(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    li_cents = (
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0)
        .cast("bigint")
        * F.when(F.col("l_returnflag") == "R", -1).otherwise(1)
    )
    ship = (
        t["lineitem"]
        .join(_bcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .select(
            F.year("l_shipdate").alias("yr"),
            F.col("p_brand"),
            li_cents.alias("cents"),
        )
    )
    ord_chan = t["orders"].select(
        F.year("o_orderdate").alias("yr"),
        F.concat(F.lit("ORDERS#"), (F.col("o_orderkey") % 5).cast("string")).alias(
            "p_brand"
        ),
        F.round(F.col("o_totalprice") * 10, 0).cast("bigint").alias("cents"),
    )
    yearly = (
        ship.unionByName(ord_chan)
        .groupBy(F.col("yr").cast("int").alias("yr"), "p_brand")
        .agg(F.sum("cents").cast("bigint").alias("net_cents"))
    )
    cur, prev = yearly.alias("cur"), yearly.alias("prev")
    return (
        cur.join(
            prev,
            (F.col("cur.p_brand") == F.col("prev.p_brand"))
            & (F.col("cur.yr") == F.col("prev.yr") + 1),
        )
        .filter(
            (F.col("prev.net_cents") > 0)
            & (F.col("cur.net_cents") < F.col("prev.net_cents") * 0.9)
        )
        .select(
            F.col("cur.p_brand").alias("p_brand"),
            F.col("cur.yr").alias("yr"),
            F.col("prev.net_cents").alias("prev_cents"),
            F.col("cur.net_cents").alias("cur_cents"),
            F.round(
                F.col("cur.net_cents").cast("double") / F.col("prev.net_cents"), 6
            ).alias("ratio"),
        )
        .orderBy("p_brand", "yr")
    )


@query(
    "dsq41_attr_disjunction",
    oracle="""
    SELECT DISTINCT p_name
    FROM part
    WHERE p_size BETWEEN 1 AND 40
      AND (
        (p_type IN ('PROMO', 'ECONOMY') AND p_brand LIKE 'Brand#1%'
         AND p_retailprice BETWEEN 900 AND 1400 AND p_size BETWEEN 5 AND 25)
        OR
        (p_type IN ('SMALL', 'MEDIUM') AND p_brand LIKE 'Brand#2%'
         AND p_retailprice BETWEEN 950 AND 990 AND p_size BETWEEN 10 AND 35)
        OR
        (p_type IN ('STANDARD', 'LARGE') AND p_brand LIKE 'Brand#3%'
         AND p_retailprice BETWEEN 700 AND 1600 AND p_size BETWEEN 1 AND 20)
      )
    ORDER BY p_name
    LIMIT 100
    """,
    doc="TPC-DS Q41 shape: a dimension-only query with a deep "
    "disjunction of conjunctive attribute bands (three OR'd arms, each "
    "constraining type x brand-prefix x price x size) feeding DISTINCT "
    "+ ordered LIMIT. Stresses predicate normalization/pushdown of "
    "multi-arm disjunctions into one dimension scan — no fact table, "
    "no join; the whole query is scan -> filter -> distinct -> top-N.",
)
def dsq41_attr_disjunction(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    arm1 = (
        F.col("p_type").isin("PROMO", "ECONOMY")
        & F.col("p_brand").like("Brand#1%")
        & F.col("p_retailprice").between(900, 1400)
        & F.col("p_size").between(5, 25)
    )
    arm2 = (
        F.col("p_type").isin("SMALL", "MEDIUM")
        & F.col("p_brand").like("Brand#2%")
        & F.col("p_retailprice").between(950, 990)
        & F.col("p_size").between(10, 35)
    )
    arm3 = (
        F.col("p_type").isin("STANDARD", "LARGE")
        & F.col("p_brand").like("Brand#3%")
        & F.col("p_retailprice").between(700, 1600)
        & F.col("p_size").between(1, 20)
    )
    return (
        t["part"]
        .filter(F.col("p_size").between(1, 40) & (arm1 | arm2 | arm3))
        .select("p_name")
        .distinct()
        .orderBy("p_name")
        .limit(100)
    )


@query(
    "dsq46_cross_nation_orders",
    oracle="""
    SELECT o_orderkey, c_name, s_nation, c_nation,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) AS BIGINT)
             AS order_cents
    FROM (
      SELECT l_orderkey AS lok, n_name AS s_nation,
             l_extendedprice, l_discount
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
    ) ship
    JOIN orders   ON lok = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN (SELECT n_nationkey AS cnk, n_name AS c_nation FROM nation) cn
      ON c_nationkey = cnk
    WHERE s_nation <> c_nation
      AND o_orderdate >= TIMESTAMP '1998-01-01'
    GROUP BY o_orderkey, c_name, s_nation, c_nation
    ORDER BY order_cents DESC, o_orderkey, s_nation
    LIMIT 50
    """,
    doc="TPC-DS Q46/Q68 shape: per-order amounts where a line's "
    "supplier nation DIFFERS from the customer's nation (DS: current "
    "city <> bought-in city) — an inequality between two dimension "
    "attributes reached through different join paths, then a per-order "
    "rollup with the customer fan-back. The nation dim broadcasts "
    "twice under different roles; the inequality can only be applied "
    "post-join (no pushdown), which is the shape's point.",
)
def dsq46_cross_nation_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0).cast(
        "bigint"
    )
    s_nat = t["nation"].select(
        F.col("n_nationkey").alias("snk"), F.col("n_name").alias("s_nation")
    )
    c_nat = t["nation"].select(
        F.col("n_nationkey").alias("cnk"), F.col("n_name").alias("c_nation")
    )
    return (
        t["lineitem"]
        .join(_bcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(_bcast(s_nat), F.col("s_nationkey") == F.col("snk"))
        .join(
            t["orders"].filter(F.col("o_orderdate") >= _ts("1998-01-01")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(_bcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(_bcast(c_nat), F.col("c_nationkey") == F.col("cnk"))
        .filter(F.col("s_nation") != F.col("c_nation"))
        .groupBy("o_orderkey", "c_name", "s_nation", "c_nation")
        .agg(F.sum(cents).cast("bigint").alias("order_cents"))
        .orderBy(F.col("order_cents").desc(), "o_orderkey", "s_nation")
        .limit(50)
    )


@query(
    "dsq08_intersect_membership",
    oracle="""
    WITH active AS (
      SELECT DISTINCT c_nationkey AS nk
      FROM customer JOIN orders ON c_custkey = o_custkey
      WHERE o_orderdate >= TIMESTAMP '2000-01-01'
      INTERSECT
      SELECT DISTINCT c_nationkey AS nk
      FROM customer JOIN orders ON c_custkey = o_custkey
      WHERE o_totalprice > 150000
    )
    SELECT n_name,
           CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE c_nationkey IN (SELECT nk FROM active)
      AND o_orderdate >= TIMESTAMP '2000-06-01'
    GROUP BY n_name
    ORDER BY n_name
    """,
    doc="TPC-DS Q8 shape: the filter list is itself the INTERSECT of "
    "two subquery-derived key sets (DS: zip codes of preferred "
    "customers INTERSECT store zips), consumed as an IN predicate by "
    "the main aggregation. The INTERSECT runs over two tiny DISTINCT "
    "key sets and the IN plans as a semi-join against the grouped "
    "fact — three fact passes total, each aggregated before joining.",
)
def dsq08_intersect_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    co = t["customer"].join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
    a = (
        co.filter(F.col("o_orderdate") >= _ts("2000-01-01"))
        .select(F.col("c_nationkey").alias("nk"))
        .distinct()
    )
    b = (
        co.filter(F.col("o_totalprice") > 150000)
        .select(F.col("c_nationkey").alias("nk"))
        .distinct()
    )
    active = a.intersect(b)
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    return (
        t["orders"]
        .filter(F.col("o_orderdate") >= _ts("2000-06-01"))
        .join(_bcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(active, F.col("c_nationkey") == F.col("nk"), "left_semi")
        .join(_bcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.sum(cents).cast("bigint").alias("cents"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("n_name")
    )


@query(
    "dsq24_global_avg_gate",
    oracle="""
    WITH per_cust AS (
      SELECT c_name, n_name,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) AS BIGINT)
               AS cents
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      WHERE l_returnflag = 'R'
      GROUP BY c_name, n_name
    )
    SELECT c_name, n_name, cents
    FROM (
      SELECT c_name, n_name, cents,
             avg(CAST(cents AS DOUBLE)) OVER () AS global_avg
      FROM per_cust
    )
    WHERE cents > 2.0 * global_avg
    ORDER BY cents DESC, c_name
    """,
    doc="TPC-DS Q24 shape: per-customer totals gated by a multiple of "
    "the GLOBAL average of those same totals (DS: paid > 0.05 * "
    "avg-over-all) — DS writes HAVING sum(...) > (SELECT 0.05*avg(..) "
    "FROM the same CTE); planned as an empty-frame window over the "
    "grouped result, so the global statistic costs one single-partition "
    "pass over customers, never a fact re-scan. Gate compares the raw "
    "window value; cents are exact integers.",
)
def dsq24_global_avg_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0).cast(
        "bigint"
    )
    per_cust = (
        t["lineitem"]
        .filter(F.col("l_returnflag") == "R")
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(_bcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(_bcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_name", "n_name")
        .agg(F.sum(cents).cast("bigint").alias("cents"))
    )
    w = Window.partitionBy()
    return (
        per_cust.withColumn(
            "global_avg", F.avg(F.col("cents").cast("double")).over(w)
        )
        .filter(F.col("cents") > 2.0 * F.col("global_avg"))
        .select("c_name", "n_name", "cents")
        .orderBy(F.col("cents").desc(), "c_name")
    )


@query(
    "dsq37_active_band_parts",
    oracle="""
    SELECT p_partkey, p_name, p_brand, round(p_retailprice, 2) AS price
    FROM part
    WHERE p_retailprice BETWEEN 900 AND 1100
      AND p_size BETWEEN 10 AND 30
      AND p_partkey IN (
        SELECT l_partkey FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1999-01-01'
          AND l_shipdate <  TIMESTAMP '1999-07-01'
          AND l_quantity >= 20
      )
    ORDER BY p_name, p_brand, p_partkey
    LIMIT 50
    """,
    doc="TPC-DS Q37/Q82 shape: dimension rows inside attribute bands, "
    "gated by fact ACTIVITY through a semi-join (items with sufficient "
    "inventory moved in a date window). The band filters push to the "
    "dimension scan, the date+quantity filters to the fact scan, and "
    "the IN plans as LeftSemi — the dimension is the probe side, so "
    "the output order is dimension-attribute-driven, not fact-driven.",
)
def dsq37_active_band_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    active = t["lineitem"].filter(
        (F.col("l_shipdate") >= _ts("1999-01-01"))
        & (F.col("l_shipdate") < _ts("1999-07-01"))
        & (F.col("l_quantity") >= 20)
    ).select("l_partkey")
    return (
        t["part"]
        .filter(
            F.col("p_retailprice").between(900, 1100)
            & F.col("p_size").between(10, 30)
        )
        .join(active, F.col("p_partkey") == F.col("l_partkey"), "left_semi")
        .select(
            "p_partkey", "p_name", "p_brand",
            F.round("p_retailprice", 2).alias("price"),
        )
        .orderBy("p_name", "p_brand", "p_partkey")
        .limit(50)
    )


@query(
    "dsq71_hourly_channel_union",
    oracle="""
    WITH chan AS (
      SELECT 'morning' AS day_part, CAST(hour(ts) AS INT) AS hr,
             event_type, value
      FROM events WHERE hour(ts) BETWEEN 6 AND 11
      UNION ALL
      SELECT 'afternoon' AS day_part, CAST(hour(ts) AS INT) AS hr,
             event_type, value
      FROM events WHERE hour(ts) BETWEEN 12 AND 17
      UNION ALL
      SELECT 'evening' AS day_part, CAST(hour(ts) AS INT) AS hr,
             event_type, value
      FROM events WHERE hour(ts) BETWEEN 18 AND 23
    )
    SELECT day_part, hr, event_type,
           count(*) AS n, round(sum(value), 4) AS total_value
    FROM chan
    GROUP BY day_part, hr, event_type
    ORDER BY hr, event_type
    """,
    doc="TPC-DS Q71 shape: three time-sliced channel legs UNION ALL'd "
    "then grouped by (part-of-day, hour, type), ordered by the time "
    "dims. The three legs share one scan in DS (different dims); here "
    "each leg's hour filter pushes to its scan and the union's single "
    "shuffle carries the grouped partials. Slices are disjoint, so "
    "(day_part, hr, event_type) rows sort deterministically.",
)
def dsq71_hourly_channel_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)

    def leg(name: str, lo: int, hi: int) -> DataFrame:
        return (
            t["events"]
            .filter(F.hour("ts").between(lo, hi))
            .select(
                F.lit(name).alias("day_part"),
                F.hour("ts").cast("int").alias("hr"),
                "event_type",
                "value",
            )
        )

    chan = (
        leg("morning", 6, 11)
        .unionByName(leg("afternoon", 12, 17))
        .unionByName(leg("evening", 18, 23))
    )
    return (
        chan.groupBy("day_part", "hr", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .orderBy("hr", "event_type")
    )


@query(
    "dsq06_pricey_vs_brand_avg",
    oracle="""
    WITH brand_avg AS (
      SELECT p_brand, avg(p_retailprice) AS brand_avg_price
      FROM part GROUP BY p_brand
    )
    SELECT n_name, count(*) AS cnt
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN brand_avg b ON p.p_brand = b.p_brand
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-04-01'
      AND p.p_retailprice > 1.03 * b.brand_avg_price
    GROUP BY n_name
    HAVING count(*) >= 10
    ORDER BY cnt DESC, n_name
    LIMIT 100
    """,
    doc="TPC-DS Q6 shape: geography counts of fact rows whose ITEM is "
    "priced above a multiple of its category's average — the "
    "correlated scalar subquery `i_current_price > 1.2 * (SELECT "
    "avg(...) WHERE same category)` decorrelated into a category-avg "
    "frame joined back to the dimension, then a HAVING gate on the "
    "geo counts. The brand-avg frame is O(#brands) (constant, ~25) so "
    "it hard-broadcasts; the resulting pricey-part id set is SF-scaled "
    "so it gates the fact through a size-gated LeftSemi. The quarter "
    "filter pushes to the orders scan before the fact join.",
)
def dsq06_pricey_vs_brand_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    brand_avg = t["part"].groupBy("p_brand").agg(
        F.avg("p_retailprice").alias("brand_avg_price")
    )
    pricey = (
        t["part"]
        .join(F.broadcast(brand_avg), "p_brand")
        .filter(F.col("p_retailprice") > 1.03 * F.col("brand_avg_price"))
        .select("p_partkey")
    )
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= _ts("1996-01-01"))
        & (F.col("o_orderdate") < _ts("1996-04-01"))
    )
    return (
        t["lineitem"].select("l_orderkey", "l_partkey")
        .join(
            # r17 examined: pricey's own estimate explodes through the
            # brand_avg join so the size gate declines the hint — but
            # AQE already converts this semi-join to broadcast at
            # runtime (interleaved A/B with gauge=part read flat), so
            # the q2-style gauge fix is NOT applied here; left as-is.
            _bcast(pricey),
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            t["customer"].select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(t["nation"].select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= 10)
        .orderBy(F.col("cnt").desc(), "n_name")
        .limit(100)
    )


@query(
    "dsq83_tri_period_return_share",
    oracle="""
    WITH s1 AS (
      SELECT l_partkey AS pk, CAST(sum(l_quantity) AS BIGINT) AS q1
      FROM lineitem
      WHERE l_returnflag = 'R'
        AND l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-07-01'
      GROUP BY 1
    ), s2 AS (
      SELECT l_partkey AS pk, CAST(sum(l_quantity) AS BIGINT) AS q2
      FROM lineitem
      WHERE l_returnflag = 'R'
        AND l_shipdate >= TIMESTAMP '1996-07-01'
        AND l_shipdate <  TIMESTAMP '1997-01-01'
      GROUP BY 1
    ), s3 AS (
      SELECT l_partkey AS pk, CAST(sum(l_quantity) AS BIGINT) AS q3
      FROM lineitem
      WHERE l_returnflag = 'R'
        AND l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1997-07-01'
      GROUP BY 1
    )
    SELECT s1.pk AS p_partkey, q1, q2, q3,
           CAST(q1 + q2 + q3 AS BIGINT) AS total_qty,
           round(q1 * 3.0 / (q1 + q2 + q3), 6) AS share1,
           round(q2 * 3.0 / (q1 + q2 + q3), 6) AS share2,
           round(q3 * 3.0 / (q1 + q2 + q3), 6) AS share3
    FROM s1 JOIN s2 ON s1.pk = s2.pk JOIN s3 ON s1.pk = s3.pk
    ORDER BY p_partkey
    LIMIT 100
    """,
    doc="TPC-DS Q83 shape: three sibling aggregates of RETURNED "
    "quantity over disjoint periods (DS: three channels' returns), "
    "inner-joined on the item key, with each leg's deviation from the "
    "three-leg mean computed across the joined row (DS's "
    "`qty/((sr+cr+wr)/3.0)` ratio). Each leg aggregates BEFORE the "
    "join, so the three shuffles are keyed on the same partkey and "
    "the joins run over grouped (small) frames; the returnflag+date "
    "filters push to each scan. Integer-cents-free: quantities are "
    "integral, summed exactly as BIGINT, and the shares divide the "
    "same exact integers in both engines.",
)
def dsq83_tri_period_return_share(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    t = load_tables(spark, sf_dir)

    def leg(lo: str, hi: str, out: str) -> DataFrame:
        return (
            t["lineitem"]
            .filter(
                (F.col("l_returnflag") == "R")
                & (F.col("l_shipdate") >= _ts(lo))
                & (F.col("l_shipdate") < _ts(hi))
            )
            .groupBy(F.col("l_partkey").alias("pk"))
            .agg(F.sum("l_quantity").cast("bigint").alias(out))
        )

    s1 = leg("1996-01-01", "1996-07-01", "q1")
    s2 = leg("1996-07-01", "1997-01-01", "q2")
    s3 = leg("1997-01-01", "1997-07-01", "q3")
    total = F.col("q1") + F.col("q2") + F.col("q3")
    return (
        s1.join(s2, "pk").join(s3, "pk")
        .select(
            F.col("pk").alias("p_partkey"),
            "q1", "q2", "q3",
            total.cast("bigint").alias("total_qty"),
            F.round(F.col("q1") * 3.0 / total, 6).alias("share1"),
            F.round(F.col("q2") * 3.0 / total, 6).alias("share2"),
            F.round(F.col("q3") * 3.0 / total, 6).alias("share3"),
        )
        .orderBy("p_partkey")
        .limit(100)
    )


@query(
    "dsq13_disjunctive_band_profile",
    oracle="""
    WITH gated AS (
      SELECT o_totalprice, c_acctbal
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE (c_mktsegment = 'BUILDING'
             AND o_totalprice BETWEEN 1000 AND 60000
             AND c_acctbal BETWEEN 0 AND 5000)
         OR (c_mktsegment = 'MACHINERY'
             AND o_totalprice BETWEEN 60000 AND 180000
             AND c_acctbal BETWEEN 2000 AND 8000)
         OR (c_mktsegment = 'AUTOMOBILE'
             AND o_totalprice BETWEEN 180000 AND 400000
             AND c_acctbal BETWEEN -1000 AND 4000)
    )
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS price_cents,
           round(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                 / 100.0 / count(*), 4) AS avg_price,
           round(sum(CAST(round(c_acctbal * 100) AS BIGINT))
                 / 100.0 / count(*), 4) AS avg_acctbal
    FROM gated
    """,
    doc="TPC-DS Q13 shape: a single-row stats profile under an OR of "
    "conjunctive band arms that SPAN the join (demographic segment x "
    "sales-price band x net-profit band; here segment x order-total "
    "band x account-balance band). The disjunction can't push below "
    "the join as a whole, but each column's band hull "
    "(union of the per-arm ranges) can — Catalyst derives the "
    "hull predicates scan-side and evaluates the exact disjunction "
    "post-join. Averages are computed from exact integer cents / "
    "counts so both engines divide identical integers (playbook "
    "money rule), not from double sums.",
)
def dsq13_disjunctive_band_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    t = load_tables(spark, sf_dir)
    arm = (
        (
            (F.col("c_mktsegment") == "BUILDING")
            & F.col("o_totalprice").between(1000, 60000)
            & F.col("c_acctbal").between(0, 5000)
        )
        | (
            (F.col("c_mktsegment") == "MACHINERY")
            & F.col("o_totalprice").between(60000, 180000)
            & F.col("c_acctbal").between(2000, 8000)
        )
        | (
            (F.col("c_mktsegment") == "AUTOMOBILE")
            & F.col("o_totalprice").between(180000, 400000)
            & F.col("c_acctbal").between(-1000, 4000)
        )
    )
    price_cents = F.sum(
        F.round(F.col("o_totalprice") * 100).cast("bigint")
    )
    bal_cents = F.sum(F.round(F.col("c_acctbal") * 100).cast("bigint"))
    n = F.count(F.lit(1))
    return (
        t["orders"].select("o_custkey", "o_totalprice")
        .join(
            t["customer"].select("c_custkey", "c_acctbal", "c_mktsegment"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .filter(arm)
        .agg(
            n.alias("n"),
            price_cents.cast("bigint").alias("price_cents"),
            F.round(price_cents / 100.0 / n, 4).alias("avg_price"),
            F.round(bal_cents / 100.0 / n, 4).alias("avg_acctbal"),
        )
    )


@query(
    "dsq61_promo_share",
    oracle="""
    WITH promo AS (
      SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS promo_cents
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE p.p_type = 'PROMO'
        AND l.l_shipdate >= TIMESTAMP '1996-01-01'
        AND l.l_shipdate <  TIMESTAMP '1996-07-01'
    ), total AS (
      SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS total_cents
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-07-01'
    )
    SELECT promo_cents, total_cents,
           round(promo_cents * 100.0 / total_cents, 6) AS promo_pct
    FROM promo, total
    """,
    doc="TPC-DS Q61 shape: promotional revenue as a share of all "
    "revenue — two INDEPENDENTLY filtered one-row aggregates combined "
    "by a cross join into a ratio (DS's promotional_sales / "
    "all_sales). Unlike the CASE-in-one-scan family (dsq88/dsq90), "
    "the legs have different join shapes: the promo leg joins the "
    "part dimension, the total leg scans the fact alone — so the "
    "decorrelated two-leg plan IS the shape. The cross join is "
    "1-row x 1-row (the only crossJoin pattern the repo allows); "
    "exact integer cents make the ratio deterministic.",
)
def dsq61_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    window = (
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1996-07-01"))
    )
    cents = F.sum(
        F.round(F.col("l_extendedprice") * 100).cast("bigint")
    ).cast("bigint")
    promo = (
        t["lineitem"].filter(window)
        .join(
            _bcast(t["part"].filter(F.col("p_type") == "PROMO")
                   .select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .agg(cents.alias("promo_cents"))
    )
    total = t["lineitem"].filter(window).agg(cents.alias("total_cents"))
    return promo.crossJoin(total).select(
        "promo_cents", "total_cents",
        F.round(
            F.col("promo_cents") * 100.0 / F.col("total_cents"), 6
        ).alias("promo_pct"),
    )


@query(
    "dsq18_rollup_multi_avg",
    oracle="""
    SELECT CAST(GROUPING(r_name) + 2*GROUPING(n_name)
                + 4*GROUPING(c_mktsegment) AS BIGINT) AS gid,
           coalesce(r_name, 'ALL') AS region_name,
           coalesce(n_name, 'ALL') AS nation_name,
           coalesce(c_mktsegment, 'ALL') AS segment,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(CAST(round(o_totalprice*100) AS BIGINT))
                 / 100.0 / count(*), 4) AS avg_order,
           round(sum(CAST(round(c_acctbal*100) AS BIGINT))
                 / 100.0 / count(*), 4) AS avg_bal
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY ROLLUP(r_name, n_name, c_mktsegment)
    ORDER BY gid, region_name, nation_name, segment
    """,
    doc="TPC-DS Q18 shape: multiple AVERAGE measures at every level "
    "of a demographic/geography ROLLUP (DS averages five numeric "
    "casts over ROLLUP(country, state, county, item)). Averages are "
    "recomputed per rollup level from exact integer-cent sums and "
    "counts — both engines divide identical integers at every level, "
    "so no double-summation drift across the hierarchy. GROUPING() "
    "bits disambiguate genuine 'ALL' labels from subtotal rows. One "
    "fact shuffle: Spark's rollup expands grouping sets in a single "
    "Expand node over one scan.",
)
def dsq18_rollup_multi_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    order_cents = F.sum(
        F.round(F.col("o_totalprice") * 100).cast("bigint")
    )
    bal_cents = F.sum(F.round(F.col("c_acctbal") * 100).cast("bigint"))
    n = F.count(F.lit(1))
    gid = (
        F.grouping("r_name")
        + F.grouping("n_name") * 2
        + F.grouping("c_mktsegment") * 4
    ).cast("bigint")
    return (
        t["orders"]
        .filter(
            (F.col("o_orderdate") >= _ts("1996-01-01"))
            & (F.col("o_orderdate") < _ts("1997-01-01"))
        )
        .select("o_custkey", "o_totalprice")
        .join(
            t["customer"].select(
                "c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment"
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(t["nation"].select("n_nationkey", "n_regionkey",
                                           "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(t["region"].select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .rollup("r_name", "n_name", "c_mktsegment")
        .agg(
            gid.alias("gid"),
            n.alias("n"),
            F.round(order_cents / 100.0 / n, 4).alias("avg_order"),
            F.round(bal_cents / 100.0 / n, 4).alias("avg_bal"),
        )
        .select(
            "gid",
            F.coalesce("r_name", F.lit("ALL")).alias("region_name"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation_name"),
            F.coalesce("c_mktsegment", F.lit("ALL")).alias("segment"),
            "n", "avg_order", "avg_bal",
        )
        .orderBy("gid", "region_name", "nation_name", "segment")
    )


@query(
    "dsq85_reason_profile_disjunction",
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(CAST(round(l_quantity) AS BIGINT)) * 1.0
                 / count(*), 4) AS avg_qty,
           round(sum(CAST(round(l_extendedprice*100) AS BIGINT))
                 / 100.0 / count(*), 4) AS avg_refund
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE l_returnflag = 'R'
      AND ((c_mktsegment = 'BUILDING'
            AND c_acctbal BETWEEN 0 AND 3000
            AND l_quantity BETWEEN 1 AND 20)
        OR (c_mktsegment = 'MACHINERY'
            AND c_acctbal BETWEEN 3000 AND 7000
            AND l_quantity BETWEEN 20 AND 35)
        OR (c_mktsegment = 'HOUSEHOLD'
            AND c_acctbal BETWEEN -1000 AND 5000
            AND l_quantity BETWEEN 35 AND 50))
    GROUP BY o_orderpriority
    ORDER BY priority
    """,
    doc="TPC-DS Q85 shape: RETURNS joined through the order to the "
    "customer demographic, filtered by an OR of (demographic-band x "
    "quantity-band) arms spanning the join, grouped by a reason-like "
    "dimension with several per-group averages (DS groups web "
    "returns by r_reason_desc under OR'd marital/education/band "
    "arms). Distinct from dsq13 (single-row) — the disjunction feeds "
    "a GROUP BY. The returnflag filter and each table's disjunction "
    "hull push scan-side; averages from exact integer cents.",
)
def dsq85_reason_profile_disjunction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    t = load_tables(spark, sf_dir)
    arm = (
        (
            (F.col("c_mktsegment") == "BUILDING")
            & F.col("c_acctbal").between(0, 3000)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("c_mktsegment") == "MACHINERY")
            & F.col("c_acctbal").between(3000, 7000)
            & F.col("l_quantity").between(20, 35)
        )
        | (
            (F.col("c_mktsegment") == "HOUSEHOLD")
            & F.col("c_acctbal").between(-1000, 5000)
            & F.col("l_quantity").between(35, 50)
        )
    )
    qty = F.sum(F.round(F.col("l_quantity")).cast("bigint"))
    refund_cents = F.sum(
        F.round(F.col("l_extendedprice") * 100).cast("bigint")
    )
    n = F.count(F.lit(1))
    return (
        t["lineitem"]
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_quantity", "l_extendedprice")
        .join(
            t["orders"].select("o_orderkey", "o_custkey",
                               "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            t["customer"].select("c_custkey", "c_acctbal",
                                 "c_mktsegment"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .filter(arm)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            n.alias("n"),
            F.round(qty * 1.0 / n, 4).alias("avg_qty"),
            F.round(refund_cents / 100.0 / n, 4).alias("avg_refund"),
        )
        .orderBy("priority")
    )


@query(
    "dsq40_before_after_returns_net",
    oracle="""
    WITH sales AS (
      SELECT l_partkey AS pk, l_suppkey AS sk,
             CAST(sum(CASE WHEN l_shipdate < TIMESTAMP '1998-07-01'
                      THEN CAST(round(l_quantity) AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS q_before,
             CAST(sum(CASE WHEN l_shipdate >= TIMESTAMP '1998-07-01'
                      THEN CAST(round(l_quantity) AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS q_after
      FROM lineitem WHERE l_returnflag <> 'R' GROUP BY 1, 2
    ), rets AS (
      SELECT l_partkey AS pk, l_suppkey AS sk,
             CAST(sum(CASE WHEN l_shipdate < TIMESTAMP '1998-07-01'
                      THEN CAST(round(l_quantity) AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS r_before,
             CAST(sum(CASE WHEN l_shipdate >= TIMESTAMP '1998-07-01'
                      THEN CAST(round(l_quantity) AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS r_after
      FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1, 2
    )
    SELECT n_name,
           CAST(sum(q_before - coalesce(r_before, 0)) AS BIGINT)
             AS net_before,
           CAST(sum(q_after - coalesce(r_after, 0)) AS BIGINT)
             AS net_after
    FROM sales LEFT JOIN rets USING (pk, sk)
    JOIN supplier ON sk = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name ORDER BY n_name
    """,
    doc="TPC-DS Q40 shape: catalog sales LEFT JOINed to catalog "
    "returns on the (item, order) key, netted, then conditionally "
    "summed BEFORE/AFTER a pivot date and re-aggregated by the "
    "warehouse dimension (here: supplier nation). The construct Q21 "
    "lacks is the returns-netting LEFT JOIN — unmatched sales keys "
    "must survive with zero-filled return columns — feeding the "
    "before/after CASE sums. Both legs aggregate per (part, supplier) "
    "key BEFORE the join, so the LEFT JOIN runs over grouped frames "
    "keyed identically (one shuffle key for both legs); nation "
    "hard-broadcasts. Quantities are integral → exact BIGINT "
    "arithmetic end-to-end.",
)
def dsq40_before_after_returns_net(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    t = load_tables(spark, sf_dir)
    pivot_ts = _ts("1998-07-01")

    def leg(flag_pred, before: str, after: str) -> DataFrame:
        qty = F.round(F.col("l_quantity")).cast("bigint")
        return (
            t["lineitem"]
            .filter(flag_pred)
            .groupBy(
                F.col("l_partkey").alias("pk"),
                F.col("l_suppkey").alias("sk"),
            )
            .agg(
                F.sum(
                    F.when(F.col("l_shipdate") < pivot_ts, qty)
                    .otherwise(F.lit(0))
                ).cast("bigint").alias(before),
                F.sum(
                    F.when(F.col("l_shipdate") >= pivot_ts, qty)
                    .otherwise(F.lit(0))
                ).cast("bigint").alias(after),
            )
        )

    sales = leg(F.col("l_returnflag") != "R", "q_before", "q_after")
    rets = leg(F.col("l_returnflag") == "R", "r_before", "r_after")
    return (
        sales.join(rets, ["pk", "sk"], "left")
        .join(
            t["supplier"].select("s_suppkey", "s_nationkey"),
            F.col("sk") == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(t["nation"].select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(
            F.sum(
                F.col("q_before") - F.coalesce(F.col("r_before"), F.lit(0))
            ).cast("bigint").alias("net_before"),
            F.sum(
                F.col("q_after") - F.coalesce(F.col("r_after"), F.lit(0))
            ).cast("bigint").alias("net_after"),
        )
        .orderBy("n_name")
    )


@query(
    "dsq84_identity_lookup_chain",
    oracle="""
    SELECT c_custkey,
           c_name || ' (' || n_name || ', ' || r_name || ')'
             AS customer_id,
           round(c_acctbal, 2) AS acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE c_acctbal BETWEEN 4000 AND 4500
    ORDER BY customer_id, c_custkey
    LIMIT 100
    """,
    doc="TPC-DS Q84 shape: a dimension-only multi-hop lookup chain "
    "(customer -> current_addr -> household_demographics -> "
    "income_band in DS; customer -> nation -> region here) filtered "
    "by a band on the leaf attribute, returning a CONCATENATED "
    "identity string — no fact table at all. The band filter pushes "
    "to the customer scan; both dimension hops hard-broadcast "
    "(constant cardinality 25/5), so the plan is one scan + two "
    "broadcast lookups + TakeOrderedAndProject — the OLTP-ish lookup "
    "pattern a warehouse must still serve efficiently.",
)
def dsq84_identity_lookup_chain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return (
        t["customer"]
        .filter(F.col("c_acctbal").between(4000, 4500))
        .join(
            F.broadcast(t["nation"].select("n_nationkey", "n_regionkey",
                                           "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(t["region"].select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(
            "c_custkey",
            F.concat(
                F.col("c_name"), F.lit(" ("), F.col("n_name"),
                F.lit(", "), F.col("r_name"), F.lit(")"),
            ).alias("customer_id"),
            F.round("c_acctbal", 2).alias("acctbal"),
        )
        .orderBy("customer_id", "c_custkey")
        .limit(100)
    )
