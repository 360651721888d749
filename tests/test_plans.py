"""Plan-observability tests: pushed filters, column pruning, broadcast
choice, and codegen attribution must be visible through plan_summary —
the engine-side EXPLAIN transparency the reference provides via its
Vectorized SQL / Not Vectorized Constructs decoration."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from pg_lake_spark.plans import explain_report, plan_summary
from pg_lake_spark.queries import QUERIES
from tests.conftest import SF_DIR


def test_q3_plan_shape(spark):
    df = QUERIES["q3_shipping_priority"].fn(spark, SF_DIR)
    s = plan_summary(df, execute=True)
    assert len(s.scans) == 3
    # every scan pushes its filter and prunes columns
    assert all(sc.pushed_filters for sc in s.scans)
    li = next(sc for sc in s.scans if "l_shipdate" in sc.read_schema)
    assert "l_comment" not in li.read_schema and "l_tax" not in li.read_schema
    assert s.broadcast_joins == 2 and s.shuffle_joins == 0
    assert s.codegen_stages and s.codegen_stages >= 2
    # the only interpreted operator should be the top-k sink
    assert set(s.interpreted_ops) <= {"TakeOrderedAndProject"}


def test_q6_pushes_all_predicates(spark):
    df = QUERIES["q6_forecast_revenue"].fn(spark, SF_DIR)
    s = plan_summary(df)
    (scan,) = s.scans
    txt = " ".join(scan.pushed_filters)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in txt
    # projection pruned to the 4 referenced columns
    assert scan.read_schema.count(":") == 4


def test_report_renders(spark):
    df = QUERIES["q1_pricing_summary"].fn(spark, SF_DIR)
    rep = explain_report(df)
    assert "pushed=" in rep and "shuffles" in rep and "broadcasts" in rep


def test_plan_summary_sees_catalog_table_scans(spark):
    """Scan headers of catalog tables carry dotted identifiers
    ("Scan parquet spark_catalog.default.t") — the r15 review found the
    old word-class regex silently dropped them, reporting scans=[] for
    every saveAsTable/spark.table source."""
    spark.range(50).selectExpr("id AS k", "id * 2 AS v").write.mode(
        "overwrite"
    ).saveAsTable("t_plan_catalog")
    try:
        s = plan_summary(spark.table("t_plan_catalog").filter("k > 1").select("k"))
        assert len(s.scans) == 1
        assert any("k" in f for f in s.scans[0].pushed_filters)
        assert "v" not in s.scans[0].read_schema
    finally:
        spark.sql("DROP TABLE IF EXISTS t_plan_catalog")


def test_broadcast_exchange_not_counted_as_shuffle(spark):
    """A broadcast-only join has ZERO shuffle boundaries; the r15
    review found BroadcastExchange inflating `exchanges`, making the
    dominant-cost signal wrong by one per broadcast join."""
    import pyspark.sql.functions as F

    small = spark.range(10).selectExpr("id AS k")
    big = spark.range(1000).selectExpr("id AS k", "id AS w")
    s = plan_summary(big.join(F.broadcast(small), "k"), execute=True)
    assert s.exchanges == 0
    assert s.broadcasts == 1
    assert s.broadcast_joins == 1
    # AQE finalization via execute=True must reveal codegen spans
    # without collecting rows to the driver
    assert s.codegen_stages and s.codegen_stages >= 1


def test_codegen_visible_without_aqe_wrapper(spark):
    """Plans AQE never wraps (no exchange) expose codegen ids in the
    single tree; they must be reported, not left None forever."""
    s = plan_summary(spark.range(10).selectExpr("id + 1 AS x"), execute=True)
    assert s.codegen_stages == 1


def test_q21_single_lineitem_scan(spark):
    """The min/max-aggregate rewrite must keep q21 at ONE lineitem scan
    (the naive EXISTS/NOT-EXISTS plan reads it three times) with the
    supplier side broadcast — and no Window node: the r14 shape answers
    both EXISTS via map-side-combinable per-order aggregates, so a
    Window reappearing means the per-row collect_set shape regressed."""
    df = QUERIES["q21_waiting_suppliers"].fn(spark, SF_DIR)
    s = plan_summary(df)  # initial plan: AQE's final tree hides scans inside stages
    li_scans = [sc for sc in s.scans if "l_suppkey" in sc.read_schema]
    assert len(li_scans) == 1, "q21 regressed to multiple lineitem scans"
    assert s.broadcast_joins >= 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, "q21 regressed to the window shape"


def test_q20_semi_join_before_aggregate(spark):
    """q20's grouped-HAVING aggregate must consume the nation-filtered
    fact: the suppliers semi-join sits BELOW the l_suppkey aggregate
    (25x less aggregate input), not above it."""
    df = QUERIES["q20_excess_suppliers"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan, "q20 lost its semi joins"
    s = plan_summary(df)
    li_scans = [sc for sc in s.scans if "l_suppkey" in sc.read_schema]
    assert len(li_scans) == 1, "q20 must scan lineitem once"
    # the aggregate's input side must contain a semi join: two semi
    # joins total (prefilter below the agg + final supplier filter)
    assert plan.count("LeftSemi") >= 2, "q20 prefilter semi join missing"


def test_q22_anti_join_consumes_deduped_custkeys(spark):
    """q22's LeftAnti orders side must be a distinct aggregate: the
    partial HashAggregate dedupes ~10 orders/customer map-side before
    the custkey exchange, and the anti join reuses the distinct's hash
    partitioning (no extra shuffle). The avg(c_acctbal) scalar must
    stay a single broadcast, never recomputed per row."""
    df = QUERIES["q22_dormant_customers"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan, "q22 lost its anti join"
    # the o_custkey distinct shows up as a keys-only aggregate pair
    assert plan.count("HashAggregate(keys=[o_custkey") >= 2, (
        "q22's anti-join side lost its map-side distinct"
    )
    # one-row avg rides a single broadcast nested-loop (cross) join
    assert plan.count("BroadcastNestedLoopJoin") == 1
    s = plan_summary(df)
    ord_scans = [sc for sc in s.scans if "o_custkey" in sc.read_schema]
    assert len(ord_scans) == 1, "q22 must scan orders once"


def test_delta_scan_broadcasts_partition_map(spark, tmp_path):
    """The Delta partition-value recovery must stay a broadcast join —
    a shuffle join here would shuffle the whole corpus at scale."""
    from pg_lake_spark.lakehouse.delta_meta import scan_delta, write_delta_table

    loc = str(tmp_path / "dplan")
    df = spark.createDataFrame(
        [(i, "ab"[i % 2], float(i)) for i in range(20)], "k bigint, p string, v double"
    )
    write_delta_table(spark, loc, df, partition_by=["p"])
    s = plan_summary(scan_delta(spark, loc))
    assert s.broadcast_joins >= 1 and s.shuffle_joins == 0


def test_chunking_is_map_only(spark):
    """Document chunking must not shuffle: generator explode + substring
    are map-side; the only Exchange allowed is none at all."""
    from pg_lake_spark.operators.chunking import chunk_documents

    docs = spark.createDataFrame([(1, "x" * 500)], "doc_id bigint, text string")
    plan = (
        chunk_documents(docs, size=200, overlap=50)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan


def test_polygon_point_join_no_cross_product(spark):
    from pg_lake_spark.functions import spatial as S
    from pg_lake_spark.operators.spatial_join import polygon_point_join
    from pyspark.sql import functions as F

    polys = spark.range(5).select(
        F.col("id").alias("pid"),
        S.st_geomfromtext(
            F.concat(F.lit("POLYGON((0 0,10 0,0 10,0 0))"))
        ).alias("geometry"),
    )
    pts = spark.range(50).select(
        F.col("id").alias("pt"),
        (F.col("id") % 12).cast("double").alias("x"),
        (F.col("id") % 7).cast("double").alias("y"),
    )
    plan = (
        polygon_point_join(polys, pts, cell=8.0)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bloom_membership_broadcast_no_udf(spark):
    """The Bloom prefilter probes via BROADCAST joins and stays
    UDF-free: filter build is one shuffle (bit_or agg), probing never
    shuffles the probe side before the prefilter."""
    from pyspark.sql import functions as F

    from pg_lake_spark.operators.membership import (
        bloom_filter_maybe,
        bloom_params,
        build_bloom,
    )

    corpus = spark.range(0, 2000).select(F.col("id").alias("v"))
    m, k = bloom_params(2000, 0.01)
    bloom = build_bloom(corpus, "v", m, k)
    maybe = bloom_filter_maybe(
        spark.range(0, 5000).select(F.col("id").alias("v")), "v", bloom, m, k
    )
    s = plan_summary(maybe, execute=True)
    assert s.broadcast_joins >= 2  # filter-word join + semi join back
    plan = maybe._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dsq05_channel_rollup_plan(spark):
    """Multi-channel UNION rollup: every dim broadcast at bench scale,
    no shuffle joins; the union's rollup is the only wide stage."""
    df = QUERIES["dsq05_channel_rollup"].fn(spark, SF_DIR)
    s = plan_summary(df, execute=True)
    assert s.broadcast_joins == 4 and s.shuffle_joins == 0
    assert all(sc.pushed_filters for sc in s.scans if "l_shipdate" in sc.read_schema)


def test_dsq88_single_scan_no_joins(spark):
    """Eight CASE counts in ONE pass: zero joins (DS's 8-subquery
    cross-join collapses into a single aggregation)."""
    df = QUERIES["dsq88_case_counts"].fn(spark, SF_DIR)
    s = plan_summary(df, execute=True)
    assert s.broadcast_joins == 0 and s.shuffle_joins == 0
    assert len(s.scans) == 1


def test_dsq67_window_over_aggregate_only(spark):
    """The rank window must consume the ROLLUP output, never the fact
    table: exactly one lineitem scan, and the Window sits above the
    aggregate in the executed plan."""
    df = QUERIES["dsq67_rollup_topk"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") <= 2  # lineitem + part, once each
    assert "Window" in plan and "Expand" in plan  # rollup feeds the window


def test_cb_topn_fuses_take_ordered(spark):
    df = QUERIES["cb_user_activity_topn"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_dsq64_wide_join_broadcasts_dims(spark):
    """The Q64-shape wide join must broadcast every dimension hop
    (customer/nation/part/supplier) and scan lineitem exactly twice —
    once per year leg of the CTE self-join — never more."""
    df = QUERIES["dsq64_cross_year_wide_join"].fn(spark, SF_DIR)
    s = plan_summary(df, execute=True)
    li_scans = [sc for sc in s.scans if "l_partkey" in sc.read_schema]
    assert len(li_scans) <= 2, "dsq64 regressed to >2 lineitem scans"
    assert s.broadcast_joins >= 8  # 5 dims per leg, minus reuse
    # the year-vs-year join runs over grouped frames: the join above the
    # aggregates must not shuffle the fact again
    assert all(sc.pushed_filters is not None for sc in s.scans)


def test_dsq95_semi_joins_planned(spark):
    """Both IN-subqueries must plan as semi joins (LeftSemi), not
    inner-join + distinct — and the r12 prefilter rewrite must keep
    lineitem at ONE scan (the pre-rewrite plan aggregated the full
    fact twice: once for the multi-supplier set, once for the
    returned set)."""
    df = QUERIES["dsq95_dual_semijoin"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("LeftSemi") >= 2
    s = plan_summary(df)
    li_scans = [sc for sc in s.scans if "l_suppkey" in sc.read_schema]
    assert len(li_scans) == 1, "dsq95 regressed to multiple fact scans"


def test_dsq16_semi_plus_anti(spark):
    """EXISTS -> LeftSemi and NOT EXISTS -> LeftAnti in one plan; the
    orders date filter pushes to the scan."""
    df = QUERIES["dsq16_exists_notexists_window"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan and "LeftAnti" in plan
    s = plan_summary(df)
    o_scan = next(sc for sc in s.scans if "o_orderdate" in sc.read_schema)
    assert any("o_orderdate" in f for f in o_scan.pushed_filters)


def test_cb_url_domain_topn_fuses_take_ordered(spark):
    df = QUERIES["cb_url_domain_topn"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_cb_top_type_window_over_grouped_frame(spark):
    """The per-user rank window must consume the aggregate output, not
    the fact: one scan, partial aggregation map-side (so the agg
    exchange carries at most partitions x groups rows), and the window
    exchange re-clusters only the tiny grouped frame. Three exchanges
    total (agg, window, final sort) — all post-reduction."""
    df = QUERIES["cb_top_type_per_user"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re as _re

    n_exchanges = len(_re.findall(r"\bExchange (?:hash|range)partitioning", plan))
    assert n_exchanges <= 3
    assert plan.count("Scan parquet") == 1
    assert "partial_count" in plan or "partial" in plan.lower()
    assert "Window" in plan


def test_dsq44_windows_over_grouped_frame(spark):
    """Q44 shape: both opposite-direction rank windows and the
    rank-position join must consume the one-row-per-part aggregate, not
    the fact — exactly one lineitem scan, part broadcast."""
    df = QUERIES["dsq44_best_worst_items"].fn(spark, SF_DIR)
    s = plan_summary(df, execute=True)
    li_scans = [sc for sc in s.scans if "l_partkey" in sc.read_schema]
    assert len(li_scans) == 1, "dsq44 must scan lineitem once"
    assert s.broadcast_joins >= 1  # part dim through the size gate


def test_dsq32_correlated_avg_single_probe_filter(spark):
    """Q32 shape: the date+type filters must push to the probe-side
    scan; the per-part average is its own aggregation over the full
    fact (the subquery's semantics), so exactly two lineitem scans."""
    df = QUERIES["dsq32_excess_discount"].fn(spark, SF_DIR)
    s = plan_summary(df, execute=True)
    li_scans = [sc for sc in s.scans if "l_partkey" in sc.read_schema]
    assert len(li_scans) == 2
    probe = next(sc for sc in li_scans if sc.pushed_filters and any("l_shipdate" in f for f in sc.pushed_filters))
    assert probe is not None


def test_dsq97_full_outer_on_composite_key(spark):
    """Q97 shape: the channel overlap joins FULL OUTER on (ck, pk) and
    the distincts aggregate before the join — no join above raw facts."""
    df = QUERIES["dsq97_channel_overlap_counts"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FullOuter" in plan
    # both inputs deduplicate (HashAggregate) below the join
    assert plan.count("HashAggregate") >= 4


def test_dsq02_self_join_over_weekly_frame(spark):
    """Q2 shape: the year-over-year self-join runs over the grouped
    weekly frame (years x 7 rows) — one lineitem scan only (plus the
    ReusedExchange for the second leg)."""
    df = QUERIES["dsq02_week_over_week"].fn(spark, SF_DIR)
    s = plan_summary(df, execute=True)
    li_scans = [sc for sc in s.scans if "l_shipdate" in sc.read_schema]
    assert len(li_scans) <= 2  # <=2: ReusedExchange may or may not fire


def test_dsq46_dim_inequality_broadcasts(spark):
    """Q46 shape: supplier/customer/nation(x2 roles) all broadcast;
    exactly one lineitem scan; the nation<>nation inequality stays
    above the joins (it cannot push to any scan)."""
    df = QUERIES["dsq46_cross_nation_orders"].fn(spark, SF_DIR)
    s = plan_summary(df, execute=True)
    li_scans = [sc for sc in s.scans if "l_suppkey" in sc.read_schema]
    assert len(li_scans) == 1
    assert s.broadcast_joins >= 4  # supplier, nation x2, customer


def test_dsq08_intersect_feeds_semi_join(spark):
    """Q8 shape: the INTERSECT'd key set is consumed as a LeftSemi
    against the aggregating fact pass."""
    df = QUERIES["dsq08_intersect_membership"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan


def test_dsq06_semi_gate_and_dim_broadcasts(spark):
    """The pricey-part gate must plan as LeftSemi (IN, not join+distinct);
    nation hard-broadcasts; the quarter filter pushes to the orders scan."""
    df = QUERIES["dsq06_pricey_vs_brand_avg"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    s = plan_summary(df)
    o_scan = next(sc for sc in s.scans if "o_orderdate" in sc.read_schema)
    assert any("o_orderdate" in f for f in o_scan.pushed_filters)
    assert s.broadcast_joins >= 2  # brand_avg + nation (pricey size-gated)


def test_dsq83_aggregates_before_joins(spark):
    """Each period leg must aggregate BEFORE the three-way join — the
    joins run over grouped frames keyed on partkey, and the
    returnflag+date filters push to every lineitem scan."""
    df = QUERIES["dsq83_tri_period_return_share"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    s = plan_summary(df)
    li_scans = [sc for sc in s.scans if "l_returnflag" in sc.read_schema]
    assert len(li_scans) == 3
    assert all(
        any("l_returnflag" in f for f in sc.pushed_filters)
        and any("l_shipdate" in f for f in sc.pushed_filters)
        for sc in li_scans
    )
    # HashAggregate below the SortMergeJoin/BroadcastHashJoin: the final
    # plan's aggregates-per-leg show as >=3 partial aggs before any join
    assert plan.count("HashAggregate") >= 6  # partial+final per leg


def test_cb_point_lookup_pushes_key_filter(spark):
    """The needle equality must reach the parquet scan (row-group
    skipping at scale), and the plan must stay scan-filter-project —
    no shuffle, no aggregate."""
    df = QUERIES["cb_point_lookup"].fn(spark, SF_DIR)
    s = plan_summary(df)
    ev = next(sc for sc in s.scans if "user_id" in sc.read_schema)
    assert any("user_id" in f for f in ev.pushed_filters)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" not in plan


def test_cb_raw_rows_by_time_fuses_take_ordered(spark):
    """Full-width top-N by time: LIKE pushes as a contains filter and
    ORDER BY+LIMIT fuses to TakeOrderedAndProject (each partition keeps
    only its local 10)."""
    df = QUERIES["cb_raw_rows_by_time"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    s = plan_summary(df)
    ev = next(sc for sc in s.scans if "props" in sc.read_schema)
    assert any("props" in f for f in ev.pushed_filters)


def test_dsq13_disjunction_hull_pushes_to_both_scans(spark):
    """The OR-of-conjunctive-band-arms spans the join, but Catalyst's
    CNF conversion must derive each table's per-column hull and push it
    scan-side (orders gets the o_totalprice disjunction, customer the
    segment/acctbal one); the exact disjunction re-evaluates post-join."""
    df = QUERIES["dsq13_disjunctive_band_profile"].fn(spark, SF_DIR)
    s = plan_summary(df)
    o_scan = next(sc for sc in s.scans if "o_totalprice" in sc.read_schema)
    c_scan = next(sc for sc in s.scans if "c_acctbal" in sc.read_schema)
    assert any("o_totalprice" in f for f in o_scan.pushed_filters)
    assert any(
        "c_mktsegment" in f or "c_acctbal" in f for f in c_scan.pushed_filters
    )


def test_dsq94_single_fact_pass_semi_gate(spark):
    """Both Q94 gates (multi-supplier EXISTS + no-returns NOT EXISTS)
    must compute in ONE lineitem pass feeding ONE LeftSemi — not two
    correlated rescans — and the date window must push to the orders
    scan."""
    df = QUERIES["dsq94_ship_chain_anti"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    s = plan_summary(df)
    li_scans = [sc for sc in s.scans if "l_suppkey" in sc.read_schema]
    assert len(li_scans) == 1, "Q94 regressed to multiple lineitem scans"
    o_scan = next(sc for sc in s.scans if "o_orderdate" in sc.read_schema)
    assert any("o_orderdate" in f for f in o_scan.pushed_filters)


def test_dsq30_window_over_grouped_frame(spark):
    """The per-nation average must be a window over the GROUPED
    customer frame (one fact aggregation), never a second fact
    shuffle; returnflag pushes to the lineitem scan; customer and
    nation broadcast."""
    df = QUERIES["dsq30_return_ratio_vs_state"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    s = plan_summary(df)
    li = next(sc for sc in s.scans if "l_returnflag" in sc.read_schema)
    assert any("l_returnflag" in f for f in li.pushed_filters)
    assert plan.count("Window") == 1
    assert s.broadcast_joins >= 2  # customer (size-gated) + nation


def test_dsq36_rollup_window_over_rolled_frame(spark):
    """Q36's rank-within-parent window must run over the rolled-up
    frame (|regions| x |nations| rows), not the fact: exactly one
    Window node above one Expand (rollup), with all dims broadcast."""
    df = QUERIES["dsq36_margin_rollup_rank"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") == 1
    assert "Expand" in plan
    s = plan_summary(df)
    assert s.broadcast_joins >= 3  # supplier (gated) + nation + region
    li = next(sc for sc in s.scans if "l_shipdate" in sc.read_schema)
    assert any("l_shipdate" in f for f in li.pushed_filters)


def test_dsq25_legs_aggregate_before_join(spark):
    """All three Q25 legs must aggregate per customer BEFORE the
    three-way join (grouped frames share the join key), with the
    returnflag+date filters pushed to every lineitem scan."""
    df = QUERIES["dsq25_tri_leg_item_customer_join"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    s = plan_summary(df)
    li_scans = [sc for sc in s.scans if "l_returnflag" in sc.read_schema]
    assert len(li_scans) == 3
    assert all(
        any("l_shipdate" in f for f in sc.pushed_filters) for sc in li_scans
    )
    assert plan.count("HashAggregate") >= 6  # partial+final per leg


def test_maximal_spans_single_token_sort(spark):
    """maximal_repeated_spans must reuse ONE (doc, pos) sort for both
    the window generation and the island detection — the plan carries
    exactly one documents scan, and the hot-position gate plans as
    LeftSemi."""
    df = QUERIES["dd_maximal_spans"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    s = plan_summary(df)
    doc_scans = [sc for sc in s.scans if "text" in sc.read_schema]
    # Since the r16 window-frame checkpoint the documents scan runs
    # ONCE at materialization time and the visible plan reads the
    # checkpointed frame (ExistingRDD) in both consumers — zero parquet
    # re-scans is the strongest form of the invariant. Allow up to 2
    # for a future Spark that re-reads the semi build side inline.
    assert len(doc_scans) <= 2
    if not doc_scans:
        assert "ExistingRDD" in plan


def test_cb_offset_sorts_grouped_frame_only(spark):
    """The deep-OFFSET pageviews query must sort only the grouped
    |pages| frame: the events scan carries the pushed time filters,
    and no sort appears below the aggregate."""
    df = QUERIES["cb_windowed_offset_pageviews"].fn(spark, SF_DIR)
    s = plan_summary(df)
    ev = next(sc for sc in s.scans if "ts" in sc.read_schema)
    assert any("ts" in f for f in ev.pushed_filters)
    plan = df._jdf.queryExecution().executedPlan().toString()
    agg_pos = plan.find("HashAggregate")
    sort_pos = plan.find("Sort ")
    assert agg_pos != -1
    # the only Sort is above (printed before) the aggregate subtree's
    # scans — i.e. it consumes the grouped frame
    assert sort_pos == -1 or sort_pos < plan.find("Scan")


def test_dsq11_two_fact_passes_only(spark):
    """Q11 must fold both years into conditional sums in ONE pass per
    channel (two fact aggregations total, joined on the customer key)
    — never four separate year scans; the year filters push to both
    scans."""
    df = QUERIES["dsq11_two_channel_yoy_pref"].fn(spark, SF_DIR)
    s = plan_summary(df)
    li_scans = [sc for sc in s.scans if "l_shipdate" in sc.read_schema]
    o_scans = [sc for sc in s.scans if "o_totalprice" in sc.read_schema]
    assert len(li_scans) == 1, "line channel regressed to per-year scans"
    assert len(o_scans) == 1, "order channel regressed to per-year scans"


def test_dsq80_channels_aggregate_before_rollup(spark):
    """Each Q80 channel must reduce to O(|ids|) rows BEFORE the union
    feeds the rollup — three channel aggregates below one Expand;
    the date windows push to both date-filtered channels' scans."""
    df = QUERIES["dsq80_tri_channel_net_rollup"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in plan
    s = plan_summary(df)
    li = next(sc for sc in s.scans if "l_shipdate" in sc.read_schema)
    assert any("l_shipdate" in f for f in li.pushed_filters)
    o = next(sc for sc in s.scans if "o_orderdate" in sc.read_schema)
    assert any("o_orderdate" in f for f in o.pushed_filters)
    # partial+final per channel, plus the rollup's pair
    assert plan.count("HashAggregate") >= 8


def test_dsq56_ids_broadcast_to_every_leg(spark):
    """The color-restricted id set must BROADCAST to all three union
    legs (three lineitem scans, each with its date filter pushed; no
    shuffle joins)."""
    df = QUERIES["dsq56_color_restricted_union"].fn(spark, SF_DIR)
    s = plan_summary(df)
    li_scans = [sc for sc in s.scans if "l_shipdate" in sc.read_schema]
    assert len(li_scans) == 3
    assert all(
        any("l_shipdate" in f for f in sc.pushed_filters) for sc in li_scans
    )
    assert s.broadcast_joins >= 3 and s.shuffle_joins == 0


def test_dsq79_window_over_daily_frame(spark):
    """The best-day pick must run row_number over the grouped
    (customer, day) frame — one Window above one aggregate, with the
    date window pushed to the orders scan."""
    df = QUERIES["dsq79_best_shopping_day"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # exactly one Window operator; WindowGroupLimit nodes (Spark's
    # rank-limit pushdown, which prunes per-partition rows before the
    # sort) also contain the substring and are a BONUS, not a second
    # window
    assert plan.count("Window [") == 1
    assert "WindowGroupLimit" in plan
    s = plan_summary(df)
    o = next(sc for sc in s.scans if "o_orderdate" in sc.read_schema)
    assert any("o_orderdate" in f for f in o.pushed_filters)


def test_q9_single_fact_pass_pruned(spark):
    """r12 VERDICT #3: q9 (heaviest TPC-H row) must keep ONE lineitem
    scan with a 7-column projection, the %red%-filtered part and
    supplier sides size-gate-broadcast, and every scan's filter pushed.
    orders may legitimately flip broadcast->shuffle as SF grows (the
    gate defers to AQE there) — don't pin its strategy."""
    df = QUERIES["q9_product_profit"].fn(spark, SF_DIR)
    s = plan_summary(df)
    li = [sc for sc in s.scans if "l_partkey" in sc.read_schema]
    assert len(li) == 1, "q9 regressed to multiple lineitem scans"
    assert li[0].read_schema.count(":") <= 7  # pruned fact projection
    part = next(sc for sc in s.scans if "p_name" in sc.read_schema)
    assert part.read_schema.count(":") == 3
    assert all(sc.pushed_filters for sc in s.scans)
    assert s.broadcast_joins >= 3  # part, supplier, nation at minimum
    assert not s.interpreted_ops


def test_q18_single_aggregation_of_fact(spark):
    """r12 VERDICT #3: q18 has no selective order-side predicate to
    push (the only gate IS the per-order HAVING), so its optimal shape
    is ONE lineitem scan pruned to (l_orderkey, l_quantity) whose
    aggregate serves both the HAVING and the output sum."""
    df = QUERIES["q18_large_volume_customer"].fn(spark, SF_DIR)
    s = plan_summary(df)
    li = [sc for sc in s.scans if "l_quantity" in sc.read_schema]
    assert len(li) == 1, "q18 regressed to re-aggregating lineitem"
    assert li[0].read_schema.count(":") == 2  # l_orderkey, l_quantity only
    cust = next(sc for sc in s.scans if "c_name" in sc.read_schema)
    assert cust.read_schema.count(":") == 2
    assert set(s.interpreted_ops) <= {"TakeOrderedAndProject"}


_PYTHON_EVAL = ("ArrowEvalPython", "BatchEvalPython")


def _python_below_range_sort(plan: str) -> list[str]:
    """Python-eval nodes inside the subtree of any rangepartitioning
    exchange (a node's depth is the width of its tree-drawing prefix).
    The range partitioner samples its child in a separate job, so each
    such node runs twice per action."""
    def depth(line: str) -> int:
        return len(re.match(r"((?:[: ] {2})*)(?:[+:]- )?", line).group(0))

    lines = plan.splitlines()
    hits = []
    for i, line in enumerate(lines):
        if "Exchange rangepartitioning" not in line:
            continue
        for below in lines[i + 1 :]:
            if depth(below) <= depth(line):
                break
            if any(op in below for op in _PYTHON_EVAL):
                hits.append(below.strip())
    return hits


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


#: Rows whose final sort keys pass through a Python-kernel (or, for
#: txt_stats, a wide feature) projection unchanged: each sorts first and
#: projects second (queries.spatial_q module docstring).
SORT_BEFORE_PROJECTION = [
    "f_spatial_point",
    "f_spatial_measures",
    "f_spatial_relations",
    "f_spatial_overlay",
    "f_geojson_scan",
    "f_geodesic_sphere",
    "f_geodesic_spheroid",
    "f_polar_stereographic",
    "f_krovak_transform",
    "f_laea_transform",
    "f_merc_3395",
    "txt_stats",
]


@pytest.mark.parametrize("name", SORT_BEFORE_PROJECTION)
def test_python_projection_runs_above_range_sort(spark, name):
    plan = _physical_plan(QUERIES[name].fn(spark, SF_DIR))
    assert _python_below_range_sort(plan) == [], plan


def test_python_below_range_sort_detects_projection_under_sort(spark):
    """The guard above is not vacuous: a kernel projected first and
    sorted second is flagged."""
    from pyspark.sql import functions as F

    from pg_lake_spark.functions import spatial as S

    xy = F.col("id").cast("double")
    df = spark.range(8).select("id", S.st_x(S.st_point(xy, xy)).alias("x")).orderBy("id")
    assert _python_below_range_sort(_physical_plan(df))


def _shards(spark):
    from pg_lake_spark.operators.sharding import assign_shards

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    return assign_shards(docs, ["doc_id"], shard_rows=50)


def _bm25(n_terms):
    def build(spark):
        from pg_lake_spark.operators.textstats import bm25_topk

        docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        terms = ["the", "data"] + [f"zz{i}" for i in range(n_terms)]
        return bm25_topk(docs, "doc_id", "text", {"q1": terms}, k=3)

    return build


def _pq_rerank(spark):
    from pg_lake_spark.operators.quantization import pq_encode, pq_topk, train_pq_codebooks

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    books = train_pq_codebooks(emb, m=8, k=8, iters=2)
    queries = emb.filter(F.col("vec_id") < 3)
    return pq_topk(pq_encode(emb, books), queries, books, k=3, rerank_with=emb)


@pytest.mark.parametrize(
    "build, column",
    [
        (_shards, "__row_off"),
        (_bm25(0), "term"),
        (_bm25(1000), "_t"),
        (_pq_rerank, "qvec"),
    ],
    ids=["shard_offsets", "bm25_query_terms", "bm25_term_frame", "pq_rerank_queries"],
)
def test_driver_built_relations_plan_as_local_scans(spark, build, column):
    """Operator-internal relations built from a driver list are Arrow
    LocalTableScans: a ``Scan ExistingRDD`` would re-run as a Python-RDD
    job on every action and start a second Python worker daemon."""
    plan = _physical_plan(build(spark))
    leaves = re.findall(rf"(Scan ExistingRDD|LocalTableScan)\b[^\n]*\b{column}#", plan)
    assert leaves and set(leaves) == {"LocalTableScan"}, plan
