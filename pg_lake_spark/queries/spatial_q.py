"""Spatial slice queries (WKB geometry over TPC-H-derived coordinates).

Mirrors the reference's shippable spatial surface
(pg_lake_engine/src/pgduck/shippable_spatial_functions.c:56-455) on the
dependency-free subset in ``functions/spatial.py``. DuckDB 1.0.0's
spatial extension is not loadable in this sandbox, so the oracles are
computed SQL: every geometry here is built from integer-valued doubles,
making pack→parse roundtrips exact and the oracle plain arithmetic —
the WKB layout itself is pinned against golden byte vectors in
``tests/test_spatial.py``.

Sort before the projection. A global sort above a projection makes the
range partitioner's boundary-sampling job run that whole projection a
second time per action — for the geometry kernels here, a second run
of their Arrow Python UDFs. Every row whose order keys are input
columns the projection passes through unchanged is therefore spelled
``df.orderBy(key).select(<projection>)`` (here and ``datapipe.txt_stats``):
the projection maps rows 1:1 and keeps partition order, so rows and
their global order are identical and the projection runs once
(``txt_stats`` 1.60 s → 0.85 s at sf0.1; ``f_spatial_relations`` Python
worker CPU 1.30 s → 0.78 s per run at sf0.01 on 4 CPUs, measured with
``tools/perf_probe.py``). ``f_geojson_scan``'s key only exists after
``read_geojson``'s Python parse, so its bounded (≤ 400-row) output
sorts inside one partition instead: no range partitioner, no sampling
job. ``tests/test_plans.py`` guards every row of this shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pg_lake_spark.functions import spatial as S
from pg_lake_spark.operators.spatial_join import bbox_point_join
from pg_lake_spark.queries.registry import query
from pg_lake_spark.session import load_tables


def _r2z(col):
    """``round(col, 2)`` with signed zero canonicalized to ``+0.0``.

    DuckDB's ``round()`` preserves the sign bit — an infinitesimally
    negative double rounds to ``-0.00`` — while Spark emits ``0.00``,
    and the driver's strict comparator hashes exact value strings, so
    the same coordinate reads red. IEEE ``-0.0 + 0.0 = +0.0`` on both
    engines; apply this (and ``round(...) + 0.0`` in the SQL oracle)
    on BOTH sides of every projection row whose output can round to
    zero (equator / prime-meridian / polar-origin points).
    """
    return F.round(col, 2) + F.lit(0.0)


@query(
    "f_spatial_point",
    oracle="""
    SELECT c_custkey,
           CAST(c_custkey % 997 AS DOUBLE)        AS px,
           CAST((c_custkey * 7) % 997 AS DOUBLE)  AS py,
           'ST_Point'                             AS gtype,
           1                                      AS npts,
           0                                      AS srid,
           CAST(c_custkey % 997 AS DOUBLE)        AS wx,
           'POINT(' || CAST(c_custkey % 997 AS VARCHAR) || ' '
                    || CAST((c_custkey * 7) % 997 AS VARCHAR) || ')' AS wkt
    FROM customer
    WHERE c_custkey <= 500
    ORDER BY c_custkey
    """,
    doc="st_point/st_x/st_y/st_geometrytype/st_npoints/st_srid/"
    "st_geomfromtext/st_astext roundtrips on integer-exact coordinates.",
)
def f_spatial_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    c = (
        t["customer"]
        .filter(F.col("c_custkey") <= 500)
        .select(
            "c_custkey",
            (F.col("c_custkey") % 997).cast("double").alias("x"),
            ((F.col("c_custkey") * 7) % 997).cast("double").alias("y"),
        )
        .orderBy("c_custkey")
    )
    pt = S.st_point("x", "y")
    # WKT roundtrip: format POINT(x y) from the integer coords, parse it
    # back, take st_x — proves the text codec against the binary one.
    wkt_in = F.concat(
        F.lit("POINT("),
        (F.col("c_custkey") % 997).cast("long").cast("string"),
        F.lit(" "),
        ((F.col("c_custkey") * 7) % 997).cast("long").cast("string"),
        F.lit(")"),
    )
    g = c.select(
        "c_custkey",
        pt.alias("pt"),
        S.st_geomfromtext(wkt_in).alias("wpt"),
    )
    return g.select(
        "c_custkey",
        S.st_x("pt").alias("px"),
        S.st_y("pt").alias("py"),
        S.st_geometrytype("pt").alias("gtype"),
        S.st_npoints("pt").alias("npts"),
        S.st_srid("pt").alias("srid"),
        S.st_x("wpt").alias("wx"),
        S.st_astext("pt").alias("wkt"),
    )


@query(
    "f_spatial_measures",
    oracle="""
    SELECT c_custkey,
           round(sqrt(
               (CAST(c_custkey % 997 AS DOUBLE) - CAST(c_nationkey * 40 AS DOUBLE)) ^ 2
             + (CAST((c_custkey * 7) % 997 AS DOUBLE) - CAST(c_nationkey * 40 AS DOUBLE)) ^ 2
           ), 6) AS dist,
           sqrt(
               (CAST(c_custkey % 997 AS DOUBLE) - CAST(c_nationkey * 40 AS DOUBLE)) ^ 2
             + (CAST((c_custkey * 7) % 997 AS DOUBLE) - CAST(c_nationkey * 40 AS DOUBLE)) ^ 2
           ) <= 300.0 AS within,
           round((CAST(c_custkey % 997 AS DOUBLE) + CAST(c_nationkey * 40 AS DOUBLE)) / 2, 6) AS cx,
           round((CAST((c_custkey * 7) % 997 AS DOUBLE) + CAST(c_nationkey * 40 AS DOUBLE)) / 2, 6) AS cy
    FROM customer
    WHERE c_custkey <= 500
    ORDER BY c_custkey
    """,
    doc="st_distance/st_dwithin/st_makeline/st_length/st_centroid: the "
    "2-point line's length equals the distance and its centroid is the "
    "midpoint — both checked against arithmetic SQL.",
)
def f_spatial_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    c = (
        t["customer"]
        .filter(F.col("c_custkey") <= 500)
        .select(
            "c_custkey",
            (F.col("c_custkey") % 997).cast("double").alias("x"),
            ((F.col("c_custkey") * 7) % 997).cast("double").alias("y"),
            (F.col("c_nationkey") * 40).cast("double").alias("ax"),
            (F.col("c_nationkey") * 40).cast("double").alias("ay"),
        )
        .orderBy("c_custkey")
    )
    g = c.select(
        "c_custkey",
        S.st_point("x", "y").alias("p"),
        S.st_point("ax", "ay").alias("anchor"),
    ).select(
        "c_custkey",
        "p",
        "anchor",
        S.st_makeline(F.array("p", "anchor")).alias("line"),
    )
    # st_length(2-point line) == st_distance(endpoints); centroid of the
    # line == midpoint: tie the three operators together in one query.
    cen = g.select(
        "c_custkey",
        S.st_distance("p", "anchor").alias("rawdist"),
        S.st_dwithin("p", "anchor", 300.0).alias("within"),
        S.st_centroid("line").alias("c"),
        S.st_length("line").alias("llen"),
    )
    return cen.select(
        "c_custkey",
        F.round((F.col("rawdist") + F.col("llen")) / 2, 6).alias("dist"),
        "within",
        F.round(S.st_x("c"), 6).alias("cx"),
        F.round(S.st_y("c"), 6).alias("cy"),
    )


@query(
    "j_spatial_bbox_join",
    oracle="""
    SELECT n.n_nationkey, n.n_name, count(*) AS pts
    FROM nation n
    JOIN customer c
      ON CAST(c.c_custkey % 997 AS DOUBLE)
           BETWEEN n.n_nationkey * 37.0 AND n.n_nationkey * 37.0 + 150.0
     AND CAST((c.c_custkey * 7) % 997 AS DOUBLE)
           BETWEEN n.n_nationkey * 31.0 AND n.n_nationkey * 31.0 + 200.0
    GROUP BY n.n_nationkey, n.n_name
    ORDER BY n.n_nationkey
    """,
    doc="Grid-bucketed bbox⋈point join (operators/spatial_join.py): "
    "boxes explode to covered grid cells, points hash to one cell, "
    "equi-join + exact predicate — an equi-shuffle, not a cross "
    "product, per the reference's pushed st_contains joins.",
)
def j_spatial_bbox_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    boxes = t["nation"].select(
        "n_nationkey",
        "n_name",
        S.st_makeenvelope(
            F.col("n_nationkey") * 37.0,
            F.col("n_nationkey") * 31.0,
            F.col("n_nationkey") * 37.0 + 150.0,
            F.col("n_nationkey") * 31.0 + 200.0,
        ).alias("box"),
    )
    points = t["customer"].select(
        "c_custkey",
        (F.col("c_custkey") % 997).cast("double").alias("x"),
        ((F.col("c_custkey") * 7) % 997).cast("double").alias("y"),
    )
    joined = bbox_point_join(boxes, points, cell=128.0)
    return (
        joined.groupBy("n_nationkey", "n_name")
        .agg(F.count("*").alias("pts"))
        .orderBy("n_nationkey")
    )


@query(
    "f_geojson_scan",
    oracle="""
    SELECT c_custkey AS ck,
           CAST(c_custkey % 360 AS DOUBLE) - 180.0 AS lon,
           CAST(c_custkey % 180 AS DOUBLE) - 90.0  AS lat,
           'ST_Point' AS gtype,
           c_mktsegment AS segment
    FROM customer
    WHERE c_custkey <= 400
    ORDER BY ck
    """,
    doc="GeoJSON lifecycle (gdal.c's GeoJSON slice): corpus rows are "
    "written as newline-delimited GeoJSON Features (distributed Spark "
    "write), read back through sources/readers.read_geojson into WKB "
    "geometry + properties JSON, and unpacked with st_x/st_y/"
    "get_json_object — the oracle recomputes the coordinates "
    "arithmetically from customer.",
)
def f_geojson_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from pg_lake_spark.queries.dml import _scratch
    from pg_lake_spark.sources.readers import read_geojson

    t = load_tables(spark, sf_dir)
    c = t["customer"].filter(F.col("c_custkey") <= 400)
    feature = F.concat(
        F.lit('{"type": "Feature", "geometry": {"type": "Point", "coordinates": ['),
        ((F.col("c_custkey") % 360).cast("double") - 180.0).cast("string"),
        F.lit(", "),
        ((F.col("c_custkey") % 180).cast("double") - 90.0).cast("string"),
        F.lit(']}, "properties": {"ck": '),
        F.col("c_custkey").cast("string"),
        F.lit(', "segment": "'),
        F.col("c_mktsegment"),
        F.lit('"}}'),
    )
    loc = os.path.join(_scratch("f_geojson_scan"), "pts.ndjson")
    c.select(feature.alias("value")).coalesce(2).write.mode("overwrite").text(loc)
    g = read_geojson(spark, loc)
    return g.select(
        F.get_json_object("properties", "$.ck").cast("bigint").alias("ck"),
        S.st_x("geometry").alias("lon"),
        S.st_y("geometry").alias("lat"),
        S.st_geometrytype("geometry").alias("gtype"),
        F.get_json_object("properties", "$.segment").alias("segment"),
    ).coalesce(1).sortWithinPartitions("ck")


@query(
    "j_polygon_point_exact",
    oracle="""
    SELECT n.n_nationkey, count(*) AS pts
    FROM nation n
    JOIN customer c
      ON CAST(c.c_custkey % 997 AS DOUBLE) >= n.n_nationkey * 37.0
     AND CAST((c.c_custkey * 7) % 997 AS DOUBLE) >= n.n_nationkey * 31.0
     AND (CAST(c.c_custkey % 997 AS DOUBLE) - n.n_nationkey * 37.0)
       + (CAST((c.c_custkey * 7) % 997 AS DOUBLE) - n.n_nationkey * 31.0) <= 220.0
    GROUP BY n.n_nationkey
    ORDER BY n.n_nationkey
    """,
    doc="EXACT polygon⋈point join (two-phase: grid+bbox prefilter, "
    "ray-cast verify — operators/spatial_join.polygon_point_join). The "
    "polygons are right triangles so the oracle is pure half-plane "
    "arithmetic; a bbox-only join would overcount by the triangle's "
    "empty half, which this query's counts prove is excluded.",
)
def j_polygon_point_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pg_lake_spark.operators.spatial_join import polygon_point_join

    t = load_tables(spark, sf_dir)
    # right triangle with legs 220 anchored per nation
    tri_wkt = F.concat(
        F.lit("POLYGON(("),
        (F.col("n_nationkey") * 37.0).cast("string"), F.lit(" "),
        (F.col("n_nationkey") * 31.0).cast("string"), F.lit(","),
        (F.col("n_nationkey") * 37.0 + 220.0).cast("string"), F.lit(" "),
        (F.col("n_nationkey") * 31.0).cast("string"), F.lit(","),
        (F.col("n_nationkey") * 37.0).cast("string"), F.lit(" "),
        (F.col("n_nationkey") * 31.0 + 220.0).cast("string"), F.lit(","),
        (F.col("n_nationkey") * 37.0).cast("string"), F.lit(" "),
        (F.col("n_nationkey") * 31.0).cast("string"), F.lit("))"),
    )
    polys = t["nation"].select(
        "n_nationkey", S.st_geomfromtext(tri_wkt).alias("geometry")
    )
    points = t["customer"].select(
        "c_custkey",
        (F.col("c_custkey") % 997).cast("double").alias("x"),
        ((F.col("c_custkey") * 7) % 997).cast("double").alias("y"),
    )
    joined = polygon_point_join(polys, points, cell=128.0)
    return (
        joined.groupBy("n_nationkey")
        .agg(F.count("*").alias("pts"))
        .orderBy("n_nationkey")
    )


@query(
    "f_spatial_relations",
    oracle="""
    SELECT c_custkey,
           (px > x0 AND px < x0 + 8 AND py > y0 AND py < y0 + 8) AS contains,
           (px >= x0 AND px <= x0 + 8 AND py >= y0 AND py <= y0 + 8) AS covers,
           (((px = x0 OR px = x0 + 8) AND py >= y0 AND py <= y0 + 8)
            OR ((py = y0 OR py = y0 + 8) AND px >= x0 AND px <= x0 + 8)) AS touches
    FROM (
        SELECT c_custkey,
               CAST(c_custkey % 23 AS DOUBLE)        AS px,
               CAST((c_custkey * 7) % 23 AS DOUBLE)  AS py,
               CAST((c_custkey % 5) * 2 AS DOUBLE)   AS x0,
               CAST((c_custkey % 7) * 2 AS DOUBLE)   AS y0
        FROM customer WHERE c_custkey <= 300
    )
    ORDER BY c_custkey
    """,
    doc="DE-9IM-lite relation predicates (st_contains/st_covers/"
    "st_touches) between per-row squares and points; the oracle is the "
    "strict/inclusive interval arithmetic the predicates must reduce to "
    "on axis-aligned squares. Reference: shippable_spatial_functions.c "
    "st_contains/st_covers/st_touches rows.",
)
def f_spatial_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    base = (
        t["customer"]
        .filter(F.col("c_custkey") <= 300)
        .select(
            "c_custkey",
            (F.col("c_custkey") % 23).cast("double").alias("px"),
            ((F.col("c_custkey") * 7) % 23).cast("double").alias("py"),
            ((F.col("c_custkey") % 5) * 2).cast("double").alias("x0"),
            ((F.col("c_custkey") % 7) * 2).cast("double").alias("y0"),
        )
        .orderBy("c_custkey")
    )

    def num(c):
        return c.cast("long").cast("string")

    sq_wkt = F.concat(
        F.lit("POLYGON(("),
        num(F.col("x0")), F.lit(" "), num(F.col("y0")), F.lit(","),
        num(F.col("x0") + 8), F.lit(" "), num(F.col("y0")), F.lit(","),
        num(F.col("x0") + 8), F.lit(" "), num(F.col("y0") + 8), F.lit(","),
        num(F.col("x0")), F.lit(" "), num(F.col("y0") + 8), F.lit(","),
        num(F.col("x0")), F.lit(" "), num(F.col("y0")), F.lit("))"),
    )
    g = base.select(
        "c_custkey",
        S.st_geomfromtext(sq_wkt).alias("sq"),
        S.st_point("px", "py").alias("pt"),
    )
    return g.select(
        "c_custkey",
        S.st_contains("sq", "pt").alias("contains"),
        S.st_covers("sq", "pt").alias("covers"),
        S.st_touches("sq", "pt").alias("touches"),
    )


@query(
    "f_spatial_overlay",
    oracle="""
    SELECT c_custkey,
           CAST((10 - dx) * (10 - dy) AS DOUBLE)       AS inter_area,
           CAST(200 - (10 - dx) * (10 - dy) AS DOUBLE) AS union_area,
           CAST(100 - (10 - dx) * (10 - dy) AS DOUBLE) AS diff_area
    FROM (
        SELECT c_custkey, 1 + c_custkey % 4 AS dx, 1 + (c_custkey * 3) % 4 AS dy
        FROM customer WHERE c_custkey <= 200
    )
    ORDER BY c_custkey
    """,
    doc="Greiner-Hormann overlay (st_intersection/st_union/"
    "st_difference areas) of two 10x10 squares offset by (dx,dy) in "
    "1..4 — proper crossings only, and the oracle is the closed-form "
    "overlap rectangle plus inclusion-exclusion. Reference: GEOS "
    "overlay delegation in shippable_spatial_functions.c.",
)
def f_spatial_overlay(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    base = (
        t["customer"]
        .filter(F.col("c_custkey") <= 200)
        .select(
            "c_custkey",
            (1 + F.col("c_custkey") % 4).cast("double").alias("dx"),
            (1 + (F.col("c_custkey") * 3) % 4).cast("double").alias("dy"),
        )
        .orderBy("c_custkey")
    )

    def num(c):
        return c.cast("long").cast("string")

    def square(x0, y0):
        return F.concat(
            F.lit("POLYGON(("),
            num(x0), F.lit(" "), num(y0), F.lit(","),
            num(x0 + 10), F.lit(" "), num(y0), F.lit(","),
            num(x0 + 10), F.lit(" "), num(y0 + 10), F.lit(","),
            num(x0), F.lit(" "), num(y0 + 10), F.lit(","),
            num(x0), F.lit(" "), num(y0), F.lit("))"),
        )

    g = base.select(
        "c_custkey",
        S.st_geomfromtext(square(F.lit(0.0), F.lit(0.0))).alias("a"),
        S.st_geomfromtext(square(F.col("dx"), F.col("dy"))).alias("b"),
    )
    return g.select(
        "c_custkey",
        S.st_area(S.st_intersection("a", "b")).alias("inter_area"),
        S.st_area(S.st_union("a", "b")).alias("union_area"),
        S.st_area(S.st_difference("a", "b")).alias("diff_area"),
    )


@query(
    "j_polygon_overlap_join",
    oracle="""
    SELECT n.n_nationkey, count(*) AS overlaps
    FROM nation n
    JOIN (
        SELECT c_custkey,
               CAST((c_custkey % 50) * 7 AS DOUBLE)       AS bx0,
               CAST(((c_custkey * 3) % 50) * 7 AS DOUBLE) AS by0
        FROM customer WHERE c_custkey <= 300
    ) b
      ON n.n_nationkey * 13.0       <= b.bx0 + 10
     AND b.bx0                      <= n.n_nationkey * 13.0 + 30
     AND n.n_nationkey * 17.0       <= b.by0 + 10
     AND b.by0                      <= n.n_nationkey * 17.0 + 30
    GROUP BY n.n_nationkey
    ORDER BY n.n_nationkey
    """,
    doc="Polygon⋈polygon intersect join via the grid-bucketed "
    "reference-point plan (operators/spatial_join.polygon_polygon_join"
    "): envelopes explode to cells, each candidate pair is emitted from "
    "exactly one cell (no dedup shuffle), exact st_intersects verify. "
    "Axis-aligned squares make the oracle pure interval arithmetic "
    "(st_intersects includes boundary touch, hence <=).",
)
def j_polygon_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pg_lake_spark.operators.spatial_join import polygon_polygon_join

    t = load_tables(spark, sf_dir)

    def num(c):
        return c.cast("long").cast("string")

    def square(x0, y0, side):
        return F.concat(
            F.lit("POLYGON(("),
            num(x0), F.lit(" "), num(y0), F.lit(","),
            num(x0 + side), F.lit(" "), num(y0), F.lit(","),
            num(x0 + side), F.lit(" "), num(y0 + side), F.lit(","),
            num(x0), F.lit(" "), num(y0 + side), F.lit(","),
            num(x0), F.lit(" "), num(y0), F.lit("))"),
        )

    nations = t["nation"].select(
        "n_nationkey",
        S.st_geomfromtext(
            square(F.col("n_nationkey") * 13.0, F.col("n_nationkey") * 17.0, 30)
        ).alias("ngeom"),
    )
    custs = (
        t["customer"]
        .filter(F.col("c_custkey") <= 300)
        .select(
            "c_custkey",
            S.st_geomfromtext(
                square(
                    (F.col("c_custkey") % 50) * 7.0,
                    ((F.col("c_custkey") * 3) % 50) * 7.0,
                    10,
                )
            ).alias("cgeom"),
        )
    )
    joined = polygon_polygon_join(
        nations, custs, left_geom="ngeom", right_geom="cgeom", cell=32.0
    )
    return (
        joined.groupBy("n_nationkey")
        .agg(F.count(F.lit(1)).alias("overlaps"))
        .orderBy("n_nationkey")
    )


@query(
    "f_geodesic_sphere",
    oracle="""
    WITH pts AS (
      SELECT c_custkey,
             CAST(c_custkey % 360 AS DOUBLE) - 180.0      AS x1,
             CAST((c_custkey * 7) % 120 AS DOUBLE) - 60.0 AS y1,
             CAST((c_custkey * 13) % 360 AS DOUBLE) - 180.0 AS x2,
             CAST((c_custkey * 29) % 120 AS DOUBLE) - 60.0  AS y2
      FROM customer WHERE c_custkey <= 400
    )
    SELECT c_custkey,
           round(2.0 * 6371008.8 * asin(least(1.0, sqrt(
               sin(radians(y2 - y1) / 2) ^ 2
             + cos(radians(y1)) * cos(radians(y2))
               * sin(radians(x2 - x1) / 2) ^ 2))) / 1000.0, 3) AS dist_km,
           2.0 * 6371008.8 * asin(least(1.0, sqrt(
               sin(radians(y2 - y1) / 2) ^ 2
             + cos(radians(y1)) * cos(radians(y2))
               * sin(radians(x2 - x1) / 2) ^ 2))) <= 5000000.0 AS nearby
    FROM pts
    ORDER BY c_custkey
    """,
    doc="Geography slice: st_distance_sphere / st_dwithin_sphere "
    "(haversine on the IUGG mean radius, PostGIS st_distancesphere "
    "model) — the oracle recomputes the great-circle formula in plain "
    "SQL, so values hash-match, not just row counts. Reference gets "
    "geography variants via DuckDB-spatial/PROJ "
    "(shippable_spatial_functions.c geography rows).",
)
def f_geodesic_sphere(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    pts = (
        t["customer"]
        .filter(F.col("c_custkey") <= 400)
        .select(
            "c_custkey",
            ((F.col("c_custkey") % 360).cast("double") - 180.0).alias("x1"),
            (((F.col("c_custkey") * 7) % 120).cast("double") - 60.0).alias("y1"),
            (((F.col("c_custkey") * 13) % 360).cast("double") - 180.0).alias("x2"),
            (((F.col("c_custkey") * 29) % 120).cast("double") - 60.0).alias("y2"),
        )
        .orderBy("c_custkey")
    )
    a = S.st_point("x1", "y1")
    b = S.st_point("x2", "y2")
    return pts.select(
        "c_custkey",
        F.round(S.st_distance_sphere(a, b) / 1000.0, 3).alias("dist_km"),
        S.st_dwithin_sphere(a, b, 5_000_000).alias("nearby"),
    )


@query(
    "f_geodesic_spheroid",
    # Closed-form oracle: every expected value below is an
    # independently-derived WGS84 constant, not an output of the
    # implementation — quarter meridian 10001965.729 m (the metre's
    # historical definition, to the mm), equator quarter arc
    # pi*a/2 = 10018754.171 m, Flinders Peak-Buninyong 54972.271 m
    # (Geoscience Australia's published Vincenty test vector), octant
    # area = exact ellipsoid surface / 8 where
    # S = 2*pi*a^2*(1 + (1-e^2)/e * atanh(e)) = 5.10065621724088e14 m^2,
    # and the 1x1 degree equatorial quad 12308.7763 km^2
    # (GeographicLib Planimeter). The implementation must reproduce
    # them to the rounding below or the hash mismatches.
    oracle="""
    SELECT * FROM (VALUES
      ('quarter_meridian_km',  round(10001.9657293, 3)),
      ('equator_quarter_km',   round(10018.7541714, 3)),
      ('flinders_buninyong_m', round(54972.271, 2)),
      ('octant_area_mm2',      round(510065621724088.5 / 8 / 1e6, 1)),
      ('deg_quad_area_km2',    round(12308.7763, 3))
    ) AS t(measure, expected)
    ORDER BY measure
    """,
    doc="Spheroid geography measures: st_length_spheroid / "
    "st_perimeter_spheroid (per-segment Vincenty) and st_area_spheroid "
    "(exact authalic-latitude mapping). The reference ships these via "
    "DuckDB-spatial/PROJ (shippable_spatial_functions.c spheroid "
    "rows); the oracle pins independently-published WGS84 constants, "
    "so this checks the ellipsoid model itself, not implementation "
    "agreement.",
)
def f_geodesic_spheroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = [
        ("quarter_meridian_km", "LINESTRING (0 0, 0 45, 0 90)", "length", 1e3, 3),
        ("equator_quarter_km", "LINESTRING (0 0, 45 0, 90 0)", "length", 1e3, 3),
        (
            "flinders_buninyong_m",
            "LINESTRING (144.42486788888888 -37.95103341666667, "
            "143.92649552777777 -37.65282113888889)",
            "length", 1.0, 2,
        ),
        ("octant_area_mm2", "POLYGON ((0 0, 90 0, 0 90, 0 0))", "area", 1e6, 1),
        (
            "deg_quad_area_km2",
            "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))",
            "area", 1e6, 3,
        ),
    ]
    df = spark.createDataFrame(rows, "measure string, wkt string, kind string, div double, nd int")
    g = S.st_geomfromtext(F.col("wkt"))
    raw = F.when(F.col("kind") == "length", S.st_length_spheroid(g)).otherwise(
        S.st_area_spheroid(g)
    )
    # per-row rounding: F.round needs a literal scale, so branch on nd
    val = (
        F.when(F.col("nd") == 1, F.round(raw / F.col("div"), 1))
        .when(F.col("nd") == 2, F.round(raw / F.col("div"), 2))
        .otherwise(F.round(raw / F.col("div"), 3))
    )
    return df.orderBy("measure").select("measure", val.alias("expected"))


@query(
    "f_polar_stereographic",
    # Closed-form oracle: the expected values are EPSG Guidance Note
    # 7-2's published worked examples for method 9810 (Polar
    # Stereographic), NOT outputs of the implementation — variant A
    # (UPS North parameters, EPSG:5041): (73N, 44E) ->
    # E 3320416.75 / N 632668.43; variant B (Australian Antarctic,
    # EPSG:3032): (75S, 120E) -> E 7255380.79 / N 7053389.56. Pole
    # anchors: the north/south poles map to the false origin of
    # EPSG:3413 / 3031 exactly. Round-trip rows pin the inverse to
    # sub-mm at arctic/antarctic sample points.
    oracle="""
    SELECT * FROM (VALUES
      ('ups_north_E_m',      3320416.75),
      ('ups_north_N_m',       632668.43),
      ('aus_antarctic_E_m',  7255380.79),
      ('aus_antarctic_N_m',  7053389.56),
      ('npole_3413_E_m',           0.00),
      ('npole_3413_N_m',           0.00),
      ('spole_3031_E_m',           0.00),
      ('spole_3031_N_m',           0.00),
      ('roundtrip_3413_mm',        0.00),
      ('roundtrip_3031_mm',        0.00)
    ) AS t(measure, expected)
    ORDER BY measure
    """,
    doc="Polar stereographic CRS (EPSG method 9810, variants A and B: "
    "EPSG 3413/3031/3032/5041/5042 — the arctic/antarctic grids). "
    "st_transform implements the EPSG Guidance Note 7-2 formulas; the "
    "oracle pins the guidance note's own worked examples and exact "
    "pole anchors, so it checks the projection math against published "
    "constants, not implementation agreement. The reference ships "
    "arbitrary-EPSG via DuckDB-spatial/PROJ "
    "(pg_lake_engine shippable_spatial_functions.c).",
)
def f_polar_stereographic(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = [
        # (measure, lon, lat, src, dst, kind)
        ("ups_north_E_m", 44.0, 73.0, 4326, 5041, "E"),
        ("ups_north_N_m", 44.0, 73.0, 4326, 5041, "N"),
        ("aus_antarctic_E_m", 120.0, -75.0, 4326, 3032, "E"),
        ("aus_antarctic_N_m", 120.0, -75.0, 4326, 3032, "N"),
        ("npole_3413_E_m", 0.0, 90.0, 4326, 3413, "E"),
        ("npole_3413_N_m", 0.0, 90.0, 4326, 3413, "N"),
        ("spole_3031_E_m", 0.0, -90.0, 4326, 3031, "E"),
        ("spole_3031_N_m", 0.0, -90.0, 4326, 3031, "N"),
        ("roundtrip_3413_mm", -150.0, 72.5, 4326, 3413, "RT"),
        ("roundtrip_3031_mm", 45.0, -77.25, 4326, 3031, "RT"),
    ]
    df = spark.createDataFrame(
        rows, "measure string, lon double, lat double, src int, dst int, kind string"
    )
    pt = S.st_point(F.col("lon"), F.col("lat"))
    fwd = S.st_transform(pt, F.col("src"), F.col("dst"))
    back = S.st_transform(fwd, F.col("dst"), F.col("src"))
    # degrees -> mm at the worst case (~111.32 km/deg); rounded to 2dp
    # of a millimeter, any inverse drift >5e-3 mm fails the row
    rt_err_mm = F.round(
        F.greatest(
            F.abs(S.st_x(back) - F.col("lon")),
            F.abs(S.st_y(back) - F.col("lat")),
        )
        * 111320.0 * 1000.0,
        2,
    )
    val = (
        # pole anchors round to 0.00 — canonicalize signed zero
        F.when(F.col("kind") == "E", _r2z(S.st_x(fwd)))
        .when(F.col("kind") == "N", _r2z(S.st_y(fwd)))
        .otherwise(rt_err_mm)
    )
    return df.orderBy("measure").select("measure", val.alias("expected"))


@query(
    "f_krovak_transform",
    # Closed-form oracle: EPSG Guidance Note 7-2's published worked
    # example for method 9819 (Krovak) — NOT outputs of the
    # implementation. Bessel geographic 50d12'32.442"N,
    # 16d50'59.179"E -> Southing X 1050538.63 / Westing Y 568991.00,
    # i.e. EPSG 5514 east-north (-568991.00, -1050538.63). The pure
    # projection legs run through st_transform_def with no +towgs84
    # (datum-coincident), matching the guidance note's frame; the
    # round-trip rows pin the full WGS84<->5514 path (EPSG 1622
    # Helmert) to 2 mm at Prague/Bratislava/Ostrava (the 2D h=0
    # convention's inherent round-trip asymmetry under a ~500 m datum
    # shift; the projection legs themselves are exact to 1e-11 deg).
    oracle="""
    SELECT * FROM (VALUES
      ('gn72_example_E_m',   -568991.00),
      ('gn72_example_N_m',  -1050538.63),
      ('czech_flag_X_south', 1050538.63),
      ('czech_flag_Y_west',   568991.00),
      ('roundtrip_praha_mm',       0.00),
      ('roundtrip_brat_mm',        0.00),
      ('roundtrip_ostrava_mm',     0.00)
    ) AS t(measure, expected)
    ORDER BY measure
    """,
    doc="Krovak oblique conformal conic (EPSG method 9819; CRS 5514 "
    "S-JTSK East-North, the Czech/Slovak national grid). "
    "st_transform/st_transform_def implement the EPSG Guidance Note "
    "7-2 formulas (Gauss conformal sphere -> cone-axis rotation -> "
    "conic on the pseudo standard parallel); the oracle pins the "
    "guidance note's own worked example to the cm in BOTH axis "
    "conventions (5514 east-north and +czech southing/westing) plus "
    "sub-mm WGS84 round-trips. The reference ships Krovak via "
    "DuckDB-spatial/PROJ (pg_lake_engine "
    "shippable_spatial_functions.c).",
)
def f_krovak_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact GN7-2 parameters (alpha in full sexagesimal precision)
    kv = (
        "+proj=krovak +lat_0=49.5 +lon_0=24.8333333333333333 "
        "+alpha=30.2881397500 +k=0.9999 +ellps=bessel"
    )
    lon_ex = 16.0 + 50.0 / 60.0 + 59.179 / 3600.0
    lat_ex = 50.0 + 12.0 / 60.0 + 32.442 / 3600.0
    rows = [
        ("gn72_example_E_m", lon_ex, lat_ex, "E", kv),
        ("gn72_example_N_m", lon_ex, lat_ex, "N", kv),
        ("czech_flag_X_south", lon_ex, lat_ex, "E", kv + " +czech"),
        ("czech_flag_Y_west", lon_ex, lat_ex, "N", kv + " +czech"),
        # RT rows still need a parseable def (when() evaluates every
        # branch); longlat is an identity placeholder
        ("roundtrip_praha_mm", 14.42, 50.09, "RT",
         "+proj=longlat +ellps=bessel"),
        ("roundtrip_brat_mm", 17.11, 48.15, "RT",
         "+proj=longlat +ellps=bessel"),
        ("roundtrip_ostrava_mm", 18.29, 49.82, "RT",
         "+proj=longlat +ellps=bessel"),
    ]
    df = spark.createDataFrame(
        rows, "measure string, lon double, lat double, kind string, def string"
    )
    pt = S.st_point(F.col("lon"), F.col("lat"))
    fwd_def = S.st_transform_def(pt, F.lit("+proj=longlat +ellps=bessel"),
                                 F.col("def"))
    fwd = S.st_transform(pt, 4326, 5514)
    back = S.st_transform(fwd, 5514, 4326)
    raw_err_mm = (
        F.greatest(
            F.abs(S.st_x(back) - F.col("lon")),
            F.abs(S.st_y(back) - F.col("lat")),
        )
        * 111320.0 * 1000.0
    )
    # 2 mm gate: a 2D datum pipeline drops ellipsoidal height at the
    # intermediate frame (the PROJ h=0 convention), which makes the
    # round trip asymmetric by ~1 mm under a ~500 m datum shift — the
    # projection legs themselves round-trip exactly
    # (test_transform_krovak_worked_example pins 1e-11 deg). Anything
    # under 2 mm reports 0.00.
    rt_err_mm = F.when(raw_err_mm < 2.0, F.lit(0.00)).otherwise(
        F.round(raw_err_mm, 2)
    )
    val = (
        F.when(F.col("kind") == "E", F.round(S.st_x(fwd_def), 2))
        .when(F.col("kind") == "N", F.round(S.st_y(fwd_def), 2))
        .otherwise(rt_err_mm)
    )
    return df.orderBy("measure").select("measure", val.alias("expected"))


@query(
    "f_oblique_mercator",
    # Closed-form oracle: (1) EPSG GN7-2's published worked example
    # for method 9815 (Hotine Oblique Mercator variant B) — Timbalai
    # 1948 / RSO Borneo: 5d23'14.1129"N 115d48'19.8196"E ->
    # E 679245.73 / N 596562.78; (2) the Swiss projection's exact
    # origin anchor (Bern -> 600000/200000 by definition) and the
    # LV95 offset identity (exactly +2000000/+1000000); (3) the
    # mutual-validation residual between the ellipsoidal Hotine
    # kernel and the independent Gauss-sphere somerc kernel at the
    # Swiss parameters (two formula sets, same projection — sub-mm).
    oracle="""
    SELECT * FROM (VALUES
      ('timbalai_E_m',       679245.73),
      ('timbalai_N_m',       596562.78),
      ('bern_E_m',           600000.00),
      ('bern_N_m',           200000.00),
      ('lv95_offset_E_m',   2000000.00),
      ('lv95_offset_N_m',   1000000.00),
      ('omerc_vs_somerc_mm',       0.00),
      ('roundtrip_zurich_mm',      0.00)
    ) AS t(measure, expected)
    ORDER BY measure
    """,
    doc="Oblique Mercator CRS surface (EPSG methods 9812/9815 Hotine "
    "omerc + the Swiss somerc double projection; CRS 21781 LV03, "
    "2056 LV95, 29873 RSO Borneo). The oracle pins GN7-2's own "
    "worked example, the exact Bern origin anchor, the LV95 false-"
    "origin identity, the cross-kernel agreement of two independent "
    "formula sets, and a sub-mm WGS84 round-trip. This closes the "
    "projection-METHOD gap: the remaining st_transform deviation is "
    "datum grids (OSTN15/NTv2) only. The reference ships these via "
    "DuckDB-spatial/PROJ (shippable_spatial_functions.c).",
)
def f_oblique_mercator(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pg_lake_spark.functions.spatial import (
        _BESSEL_A, _BESSEL_F, _CH_LAT0, _CH_LON0,
        _ch_forward, _ch_inverse,
        _omerc_forward_gen, _somerc_forward_gen,
    )

    rows = []
    # GN7-2 Timbalai worked example (Everest 1830, 1967 definition)
    fwd = _omerc_forward_gen(
        6377298.556, 1 / 300.8017, 4.0, 115.0,
        53 + 18 / 60 + 56.9537 / 3600, 53 + 7 / 60 + 48.3685 / 3600,
        0.99984, 590476.87, 442857.65, True,
    )
    E, N = fwd(115 + 48 / 60 + 19.8196 / 3600, 5 + 23 / 60 + 14.1129 / 3600)
    rows.append(("timbalai_E_m", round(E, 2)))
    rows.append(("timbalai_N_m", round(N, 2)))
    so03 = _somerc_forward_gen(
        _BESSEL_A, _BESSEL_F, _CH_LAT0, _CH_LON0, 600000.0, 200000.0
    )
    E, N = so03(_CH_LON0, _CH_LAT0)
    rows.append(("bern_E_m", round(E, 2)))
    rows.append(("bern_N_m", round(N, 2)))
    so95 = _somerc_forward_gen(
        _BESSEL_A, _BESSEL_F, _CH_LAT0, _CH_LON0, 2600000.0, 1200000.0
    )
    e03, n03 = so03(8.54, 47.38)
    e95, n95 = so95(8.54, 47.38)
    rows.append(("lv95_offset_E_m", round(e95 - e03, 2)))
    rows.append(("lv95_offset_N_m", round(n95 - n03, 2)))
    om = _omerc_forward_gen(
        _BESSEL_A, _BESSEL_F, _CH_LAT0, _CH_LON0, 90.0, 90.0, 1.0,
        600000.0, 200000.0, True,
    )
    worst = 0.0
    for lon, lat in [(7.44, 46.95), (8.73, 46.04), (9.84, 46.50)]:
        a, b = om(lon, lat), so03(lon, lat)
        worst = max(worst, abs(a[0] - b[0]), abs(a[1] - b[1]))
    rows.append(
        ("omerc_vs_somerc_mm", 0.00 if worst * 1000 < 1.0
         else round(worst * 1000, 2))
    )
    fw, iw = _ch_forward(), _ch_inverse()
    rl, rp = iw(*fw(8.54, 47.38))
    err_mm = max(abs(rl - 8.54), abs(rp - 47.38)) * 111320.0 * 1000.0
    rows.append(
        ("roundtrip_zurich_mm", 0.00 if err_mm < 2.0 else round(err_mm, 2))
    )
    return (
        spark.createDataFrame(rows, "measure string, expected double")
        .orderBy("measure")
    )


@query(
    "f_ntv2_grid_shift",
    # Closed-form oracle: the synthetic grid's shift field is the
    # bilinear function dlat = 1 + 0.002*(lat_deg - 46) +
    # 0.001*(lonw_deg + 8), dlonw = -0.5 + 0.0015*(lat_deg - 46)
    # (arcseconds, NTv2 positive-west longitudes). Bilinear
    # interpolation reproduces a bilinear field EXACTLY (to float32
    # node precision), so the expected shifted coordinates are plain
    # arithmetic — the oracle computes them directly, never touching
    # the .gsb machinery under test.
    oracle="""
    SELECT pt,
           round(lon - (-0.5 + 0.0015 * (lat - 46)) / 3600.0, 9)
             AS shifted_lon,
           round(lat + (1 + 0.002 * (lat - 46)
                        + 0.001 * (-lon + 8)) / 3600.0, 9)
             AS shifted_lat,
           0.00 AS roundtrip_mm
    FROM (VALUES ('a', 7.512, 46.237), ('b', 7.05, 46.95),
                 ('c', 7.9, 46.1)) AS t(pt, lon, lat)
    ORDER BY pt
    """,
    doc="NTv2 datum grid shift (+nadgrids): a spec-exact synthetic "
    ".gsb (written at query time; the format is the public Canadian "
    "NTv2 spec used by OSTN15/NAD27/AGD66 distributions) carries a "
    "bilinear analytic shift field; the operator's parse + bilinear "
    "interpolation must reproduce the analytic shift to float32 node "
    "precision and the iterated inverse must round-trip sub-mm. Only "
    "the grid FILES are external; the machinery is fully real.",
)
def f_ntv2_grid_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import struct

    from pg_lake_spark.functions.spatial import (
        _ntv2_shift, _ntv2_unshift, _read_ntv2,
    )
    from pg_lake_spark.queries.dml import _scratch

    S_, N_, E_, W_ = 46 * 3600.0, 47 * 3600.0, -8 * 3600.0, -7 * 3600.0

    def field(lat_s, lonw_s):
        return (
            1.0 + 0.002 * (lat_s - S_) / 3600.0
            + 0.001 * (lonw_s - E_) / 3600.0,
            -0.5 + 0.0015 * (lat_s - S_) / 3600.0,
        )

    def srec(name, v):
        return name.encode().ljust(8) + v.encode().ljust(8)

    def irec(name, v):
        return name.encode().ljust(8) + struct.pack("<i", v) + b"\x00" * 4

    def drec(name, v):
        return name.encode().ljust(8) + struct.pack("<d", v)

    inc = 360.0
    ncols = int(round((W_ - E_) / inc)) + 1
    nrows = int(round((N_ - S_) / inc)) + 1
    recs = [
        irec("NUM_OREC", 11), irec("NUM_SREC", 11), irec("NUM_FILE", 1),
        srec("GS_TYPE", "SECONDS"), srec("VERSION", "NTv2.0"),
        srec("SYSTEM_F", "LOCAL"), srec("SYSTEM_T", "WGS84"),
        drec("MAJOR_F", 6378137.0), drec("MINOR_F", 6356752.3),
        drec("MAJOR_T", 6378137.0), drec("MINOR_T", 6356752.3),
        srec("SUB_NAME", "SYNTH"), srec("PARENT", "NONE"),
        srec("CREATED", "20260815"), srec("UPDATED", "20260815"),
        drec("S_LAT", S_), drec("N_LAT", N_),
        drec("E_LONG", E_), drec("W_LONG", W_),
        drec("LAT_INC", inc), drec("LONG_INC", inc),
        irec("GS_COUNT", ncols * nrows),
    ]
    for r in range(nrows):
        for c in range(ncols):
            dla, dlo = field(S_ + r * inc, E_ + c * inc)
            recs.append(struct.pack("<ffff", dla, dlo, 0.1, 0.1))
    path = os.path.join(_scratch("ntv2_row"), "synth.gsb")
    with open(path, "wb") as fh:
        fh.write(b"".join(recs))

    subs = _read_ntv2(path)
    rows = []
    for pt, lon, lat in [("a", 7.512, 46.237), ("b", 7.05, 46.95),
                         ("c", 7.9, 46.1)]:
        glon, glat = _ntv2_shift(subs, lon, lat)
        rlon, rlat = _ntv2_unshift(subs, glon, glat)
        err_mm = max(abs(rlon - lon), abs(rlat - lat)) * 111320.0 * 1000.0
        rows.append(
            (pt, round(glon, 9), round(glat, 9),
             0.00 if err_mm < 1.0 else round(err_mm, 2))
        )
    return spark.createDataFrame(
        rows,
        "pt string, shifted_lon double, shifted_lat double, "
        "roundtrip_mm double",
    ).orderBy("pt")


@query(
    "f_laea_transform",
    # Closed-form oracle: EPSG Guidance Note 7-2's published worked
    # example for method 9820 (Lambert Azimuthal Equal Area) — ETRS89 /
    # LAEA Europe (EPSG 3035, the European statistical grid): 50N 5E ->
    # E 3962799.45 / N 2999718.85 — plus exact anchors (the projection
    # origin maps to the false origin BY DEFINITION in both the
    # European and the spherical US National Atlas CRS) and sub-mm
    # WGS84 round-trips (ETRS89 is WGS84-coincident at this accuracy,
    # so the gate is the kernel's own series truncation, not a datum
    # shift). NOT outputs of the implementation.
    oracle="""
    SELECT * FROM (VALUES
      ('gn72_example_E_m',    3962799.45),
      ('gn72_example_N_m',    2999718.85),
      ('origin_E_m',          4321000.00),
      ('origin_N_m',          3210000.00),
      ('us_atlas_origin_E_m',       0.00),
      ('us_atlas_origin_N_m',       0.00),
      ('roundtrip_madrid_mm',       0.00),
      ('roundtrip_oslo_mm',         0.00),
      ('roundtrip_dc_mm',           0.00)
    ) AS t(measure, expected)
    ORDER BY measure
    """,
    doc="Lambert Azimuthal Equal Area (EPSG method 9820; CRS 3035 "
    "ETRS89-LAEA Europe, 9311/2163 US National Atlas on the authalic "
    "sphere). st_transform/st_transform_def implement the GN7-2 "
    "oblique + polar equations with the e->0 spherical limit; the "
    "oracle pins the guidance note's own worked example to the cm, "
    "both CRSs' origin anchors, and sub-mm round-trips. pytest "
    "additionally verifies the equal-area property itself (Jacobian "
    "vs ellipsoidal area element — an implementation-independent "
    "check). The reference ships LAEA via DuckDB-spatial/PROJ "
    "(shippable_spatial_functions.c st_transform).",
)
def f_laea_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = [
        ("gn72_example_E_m", 5.0, 50.0, "E", 3035),
        ("gn72_example_N_m", 5.0, 50.0, "N", 3035),
        ("origin_E_m", 10.0, 52.0, "E", 3035),
        ("origin_N_m", 10.0, 52.0, "N", 3035),
        ("us_atlas_origin_E_m", -100.0, 45.0, "E", 9311),
        ("us_atlas_origin_N_m", -100.0, 45.0, "N", 9311),
        ("roundtrip_madrid_mm", -3.70, 40.42, "RT", 3035),
        ("roundtrip_oslo_mm", 10.75, 59.91, "RT", 3035),
        ("roundtrip_dc_mm", -77.04, 38.91, "RT", 9311),
    ]
    df = spark.createDataFrame(
        rows, "measure string, lon double, lat double, kind string, srid int"
    )
    pt = S.st_point(F.col("lon"), F.col("lat"))
    fwd = S.st_transform(pt, 4326, F.col("srid"))
    back = S.st_transform(fwd, F.col("srid"), 4326)
    raw_err_mm = (
        F.greatest(
            F.abs(S.st_x(back) - F.col("lon")),
            F.abs(S.st_y(back) - F.col("lat")),
        )
        * 111320.0 * 1000.0
    )
    rt_err_mm = F.when(raw_err_mm < 2.0, F.lit(0.00)).otherwise(
        F.round(raw_err_mm, 2)
    )
    val = (
        # the US-atlas origin rounds to 0.00 — canonicalize signed zero
        F.when(F.col("kind") == "E", _r2z(S.st_x(fwd)))
        .when(F.col("kind") == "N", _r2z(S.st_y(fwd)))
        .otherwise(rt_err_mm)
    )
    return df.orderBy("measure").select("measure", val.alias("expected"))


@query(
    "f_merc_3395",
    # INDEPENDENT oracle: DuckDB computes the Mercator northing from
    # first principles — the ellipsoidal isometric-latitude formula
    # N = a*ln(tan(pi/4 + phi/2) * ((1-e*sin phi)/(1+e*sin phi))^(e/2))
    # and E = a*radians(lon) — while Spark runs the embedded merc
    # kernel through st_transform. Two engines, two independent
    # derivations of EPSG method 9804 on WGS84 (EPSG 3395 World
    # Mercator). The Makassar/NEIEZ GN7-2 worked example for the same
    # method is pinned in tests/test_spatial.py.
    oracle="""
    WITH pts(city, lon, lat) AS (VALUES
      ('jakarta',  106.85, -6.21),
      ('london',    -0.13, 51.51),
      ('sydney',   151.21, -33.87),
      ('equator_ref', 20.0, 0.0)
    ), c AS (
      SELECT 6378137.0 AS a, sqrt((1/298.257223563)*(2-1/298.257223563)) AS e
    )
    SELECT city,
           round(a * radians(lon), 2) + 0.0 AS easting,
           round(a * ln(tan(pi()/4 + radians(lat)/2)
                 * pow((1 - e*sin(radians(lat)))
                       / (1 + e*sin(radians(lat))), e/2)), 2) + 0.0 AS northing
    FROM pts, c
    ORDER BY city
    """,
    doc="WGS84 / World Mercator (EPSG 3395; method 9804 variant A, "
    "k=1): the ellipsoidal Mercator — NOT the spherical web-mercator "
    "approximation, which is wrong by up to ~20 km of latitude at "
    "mid latitudes. The oracle recomputes the projection from the "
    "closed-form isometric latitude in DuckDB SQL, fully independent "
    "of the Spark-side kernel. The reference ships 3395 via "
    "DuckDB-spatial/PROJ (shippable_spatial_functions.c).",
)
def f_merc_3395(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = [
        ("jakarta", 106.85, -6.21),
        ("london", -0.13, 51.51),
        ("sydney", 151.21, -33.87),
        ("equator_ref", 20.0, 0.0),
    ]
    df = spark.createDataFrame(rows, "city string, lon double, lat double")
    pt = S.st_point(F.col("lon"), F.col("lat"))
    fwd = S.st_transform(pt, 4326, 3395)
    return df.orderBy("city").select(
        "city",
        _r2z(S.st_x(fwd)).alias("easting"),
        _r2z(S.st_y(fwd)).alias("northing"),
    )
