"""Exact / deterministic t2 query set (SURVEY §2 "t2 oracle" column).

These are the DuckDB-hash-matched counterparts of every reference operator:
moments (SummaryStats), exact percentile/CDF/histogram (TDigest), exact
top-k with deterministic tie-break (SpaceSaving), plus the relational
plumbing (joins, windows, set ops) that drives them over the star schema.

Scale notes per query are inline; the common principles: single
hash-aggregate passes, integer-arithmetic determinism where possible,
broadcast joins for dimension tables, and no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from crick_spark.functions.quantiles import cdf_exprs, histogram
from crick_spark.functions.stats import nan_to_null
from crick_spark.functions.topk import exact_topk, exact_topk_per_group
from crick_spark.operators import moments_agg
from crick_spark.plans.registry import register, rounded
from crick_spark.sources.tables import load_table
from crick_spark.tmpdirs import run_tmpdir


# ---------------------------------------------------------------------------
# Pricing summary (TPC-H Q1 shape): scan → project → hash agg (partial+final)
# ---------------------------------------------------------------------------
@register(
    "q1_pricing_summary",
    oracle="""
SELECT l_returnflag, l_linestatus,
       count(*) AS cnt,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 1) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 1) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 1) AS sum_charge,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_extendedprice), 5) AS avg_price,
       round(avg(l_discount), 8) AS avg_disc
FROM lineitem
GROUP BY l_returnflag, l_linestatus
""",
    doc="TPC-H Q1-shaped pricing summary; one hash-agg pass, no shuffle of raw rows.",
)
def q1_pricing_summary(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("cnt"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 1).alias("sum_base_price"),
        F.round(F.sum(disc_price), 1).alias("sum_disc_price"),
        F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 1).alias("sum_charge"),
        F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 5).alias("avg_price"),
        F.round(F.avg("l_discount"), 8).alias("avg_disc"),
    )


# ---------------------------------------------------------------------------
# SummaryStats surface (crick/stats.pyx) — global and grouped moments
# ---------------------------------------------------------------------------
_MOMENTS_ORACLE_GLOBAL = """
WITH s AS (SELECT l_extendedprice AS x FROM lineitem WHERE l_extendedprice IS NOT NULL
           AND NOT isnan(l_extendedprice)),
     m AS (SELECT avg(x) AS mu, count(*) AS n FROM s)
SELECT count(*) AS cnt,
       round(sum(x), 1) AS sum_x,
       round(min(x), 6) AS min_x,
       round(max(x), 6) AS max_x,
       round(avg(x), 5) AS mean_x,
       round(var_pop(x), 1) AS var_pop_x,
       round(var_samp(x), 1) AS var_samp_x,
       round(stddev_pop(x), 4) AS std_pop_x,
       round(stddev_samp(x), 4) AS std_samp_x,
       round(avg(pow(x - mu, 3)) / pow(avg(pow(x - mu, 2)), 1.5), 6) AS skew_x,
       round(avg(pow(x - mu, 4)) / pow(avg(pow(x - mu, 2)), 2) - 3, 6) AS kurt_x
FROM s, m
GROUP BY mu
"""


@register(
    "summary_stats_extendedprice",
    oracle=_MOMENTS_ORACLE_GLOBAL,
    doc="Full SummaryStats result (crick/stats.pyx surface) in one aggregate pass; "
    "skew/kurt are population forms matching crick defaults "
    "(crick/stats_stubs.c:113-136).",
)
def summary_stats_extendedprice(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return moments_agg(li, "l_extendedprice").select(
        "cnt",
        *rounded(
            {"sum_x": 1, "min_x": 6, "max_x": 6, "mean_x": 5, "var_pop_x": 1,
             "var_samp_x": 1, "std_pop_x": 4, "std_samp_x": 4, "skew_x": 6,
             "kurt_x": 6}
        ),
    )


_MOMENTS_ORACLE_GROUPED = """
WITH s AS (SELECT l_returnflag AS g, l_quantity AS x FROM lineitem
           WHERE l_quantity IS NOT NULL AND NOT isnan(l_quantity)),
     m AS (SELECT g, avg(x) AS mu FROM s GROUP BY g)
SELECT s.g AS l_returnflag,
       count(*) AS cnt,
       round(sum(x), 2) AS sum_x,
       round(avg(x), 6) AS mean_x,
       round(var_pop(x), 6) AS var_pop_x,
       round(stddev_samp(x), 6) AS std_samp_x,
       round(avg(pow(x - mu, 3)) / pow(avg(pow(x - mu, 2)), 1.5), 6) AS skew_x,
       round(avg(pow(x - mu, 4)) / pow(avg(pow(x - mu, 2)), 2) - 3, 6) AS kurt_x
FROM s JOIN m ON s.g = m.g
GROUP BY s.g, m.mu
"""


@register(
    "summary_stats_by_returnflag",
    oracle=_MOMENTS_ORACLE_GROUPED,
    doc="Grouped SummaryStats — Catalyst partial+final aggregation is exactly "
    "crick's update+merge contract (SURVEY §3.4).",
)
def summary_stats_by_returnflag(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    out = moments_agg(li, "l_quantity", by=["l_returnflag"])
    return out.select(
        "l_returnflag",
        "cnt",
        *rounded(
            {"sum_x": 2, "mean_x": 6, "var_pop_x": 6, "std_samp_x": 6,
             "skew_x": 6, "kurt_x": 6}
        ),
    )


# ---------------------------------------------------------------------------
# Exact percentiles (TDigest.quantile oracle, crick/tdigest_stubs.c:483-516)
# ---------------------------------------------------------------------------
_QS = [0.001, 0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 0.999]


@register(
    "percentile_events_value",
    oracle="""
SELECT """
    + ",\n       ".join(
        f"round(quantile_cont(value, {q}), 6) AS p{str(q).replace('.', '_')}" for q in _QS
    )
    + """
FROM events
""",
    doc="EXACT accuracy twin for the t-digest quantile path (the "
    "production default at scale is tdigest_quantiles_events_value / "
    "tdigest_quantile_accuracy, crick TDigest.quantile): linear-"
    "interpolation percentiles whose F.percentile buffer holds every "
    "value in one reducer — deliberately the test-SF reference form "
    "that pins exact values for the digest's accuracy gates, not a "
    "100 TB shape.",
)
def percentile_events_value(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    c = nan_to_null(F.col("value"))
    return ev.agg(
        *[
            F.round(F.percentile(c, F.lit(q)), 6).alias(f"p{str(q).replace('.', '_')}")
            for q in _QS
        ]
    )


@register(
    "percentile_quantity_by_returnflag",
    oracle="""
SELECT l_returnflag,
       round(quantile_cont(l_quantity, 0.25), 6) AS p0_25,
       round(quantile_cont(l_quantity, 0.5), 6) AS p0_5,
       round(quantile_cont(l_quantity, 0.75), 6) AS p0_75,
       round(quantile_cont(l_quantity, 0.99), 6) AS p0_99
FROM lineitem
GROUP BY l_returnflag
""",
    doc="Grouped exact percentiles — EXACT accuracy twin of the grouped "
    "t-digest path (tdigest_quantiles_by_returnflag); same "
    "buffer-every-group-value caveat as percentile_events_value.",
)
def percentile_quantity_by_returnflag(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    c = nan_to_null(F.col("l_quantity"))
    return li.groupBy("l_returnflag").agg(
        *[
            F.round(F.percentile(c, F.lit(q)), 6).alias(f"p{str(q).replace('.', '_')}")
            for q in [0.25, 0.5, 0.75, 0.99]
        ]
    )


# ---------------------------------------------------------------------------
# Exact CDF (TDigest.cdf oracle — midpoint-at-ties, test_tdigest.py:52-56)
# ---------------------------------------------------------------------------
_CDF_POINTS = [1.0, 5.0, 10.0, 25.0, 50.0, 100.0, 200.0, 400.0]


@register(
    "cdf_events_value",
    oracle="""
SELECT """
    + ",\n       ".join(
        f"(count(*) FILTER (WHERE value < {x}) + 0.5 * count(*) FILTER (WHERE value = {x}))"
        f" / count(value) AS cdf_{str(x).replace('.', '_')}"
        for x in _CDF_POINTS
    )
    + """
FROM events
""",
    doc="Exact CDF at fixed points, crick midpoint-at-ties convention; pure "
    "integer counts → bit-deterministic under any partitioning.",
)
def cdf_events_value(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(*cdf_exprs(F.col("value"), _CDF_POINTS))


# ---------------------------------------------------------------------------
# Exact histogram (TDigest.histogram oracle, crick/tdigest.pyx:165-229)
# ---------------------------------------------------------------------------
@register(
    "histogram_quantity",
    oracle="""
WITH src AS (
  SELECT least(CAST(floor((l_quantity - 0.0) / 5.0) AS BIGINT), 9) AS bin
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND NOT isnan(l_quantity)
    AND l_quantity >= 0.0 AND l_quantity <= 50.0
),
counts AS (SELECT bin, count(*) AS cnt FROM src GROUP BY bin)
SELECT b.bin,
       round(0.0 + b.bin * 5.0, 6) AS bin_lo,
       round(0.0 + (b.bin + 1) * 5.0, 6) AS bin_hi,
       coalesce(c.cnt, 0) AS cnt
FROM (SELECT unnest(range(10)) AS bin) b
LEFT JOIN counts c USING (bin)
""",
    doc="Fixed-range 10-bin histogram over [0,50], top edge inclusive (numpy "
    "convention crick follows); integer bucket arithmetic.",
)
def histogram_quantity(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return histogram(li, "l_quantity", 0.0, 50.0, 10)


# ---------------------------------------------------------------------------
# Exact top-k (SpaceSaving.topk oracle, crick/space_saving.pyx:304-341)
# ---------------------------------------------------------------------------
@register(
    "topk_event_types",
    oracle="""
SELECT item, cnt, CAST(0 AS BIGINT) AS error FROM (
  SELECT event_type AS item, count(*) AS cnt,
         row_number() OVER (ORDER BY count(*) DESC, event_type ASC) AS rk
  FROM events GROUP BY event_type
) WHERE rk <= 5
""",
    doc="Global exact top-k with deterministic tie-break (count DESC, item ASC); "
    "error=0 marks the exact path of the SpaceSaving contract.",
)
def topk_event_types(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return exact_topk(ev, "event_type", 5)


@register(
    "topk_users_by_events",
    oracle="""
SELECT item, cnt, CAST(0 AS BIGINT) AS error FROM (
  SELECT user_id AS item, count(*) AS cnt,
         row_number() OVER (ORDER BY count(*) DESC, user_id ASC) AS rk
  FROM events GROUP BY user_id
) WHERE rk <= 20
""",
    doc="Heavy-hitter users: map-side partial agg collapses to distinct keys "
    "before the shuffle; sort input is |distinct users|, not |events|.",
)
def topk_users_by_events(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return exact_topk(ev, "user_id", 20)


@register(
    "topk_parts_per_brand",
    oracle="""
SELECT p_brand, item, cnt FROM (
  SELECT p.p_brand, l.l_partkey AS item, count(*) AS cnt,
         row_number() OVER (PARTITION BY p.p_brand
                            ORDER BY count(*) DESC, l.l_partkey ASC) AS rk
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY p.p_brand, l.l_partkey
) WHERE rk <= 3
""",
    doc="Per-group top-k through a dimension join; part is broadcast "
    "(dimension ≪ fact) so no shuffle of lineitem for the join.",
)
def topk_parts_per_brand(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part")
    joined = li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
    return exact_topk_per_group(joined, ["p_brand"], "l_partkey", 3)


# ---------------------------------------------------------------------------
# Relational drive-train: multi-join rollup (scan→broadcast join→agg)
# ---------------------------------------------------------------------------
@register(
    "revenue_by_nation",
    oracle="""
SELECT r.r_name, n.n_name,
       count(*) AS n_orders,
       round(sum(o.o_totalprice), 2) AS revenue,
       round(avg(o.o_totalprice), 5) AS avg_order
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name, n.n_name
""",
    doc="Star-schema rollup: customer/nation/region broadcast; orders never "
    "shuffles for the joins, only the tiny aggregate does.",
)
def revenue_by_nation(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.round(F.avg("o_totalprice"), 5).alias("avg_order"),
        )
    )


# ---------------------------------------------------------------------------
# Event-time tumbling window (batch form; streaming twin in streaming/)
# ---------------------------------------------------------------------------
@register(
    "events_hourly_rollup",
    oracle="""
SELECT date_trunc('hour', ts) AS hour_start, event_type,
       count(*) AS cnt,
       round(sum(value), 4) AS sum_value,
       round(min(value), 6) AS min_value,
       round(max(value), 6) AS max_value
FROM events
GROUP BY 1, 2
""",
    doc="Tumbling 1-hour event-time rollup (batch twin of the streaming "
    "window aggregate).",
)
def events_hourly_rollup(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour_start"), F.col("event_type")
    ).agg(
        F.count("*").alias("cnt"),
        F.round(F.sum("value"), 4).alias("sum_value"),
        F.round(F.min("value"), 6).alias("min_value"),
        F.round(F.max("value"), 6).alias("max_value"),
    )


# ---------------------------------------------------------------------------
# Distinct / set-op coverage (SURVEY §2.5 checklist rows)
# ---------------------------------------------------------------------------
@register(
    "distinct_mktsegments_per_region",
    oracle="""
SELECT r.r_name,
       count(DISTINCT c.c_mktsegment) AS n_segments,
       count(DISTINCT c.c_nationkey) AS n_nations
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
""",
    doc="Exact distinct-count coverage (approx twin: approx_distinct_users).",
)
def distinct_mktsegments_per_region(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count_distinct("c_mktsegment").alias("n_segments"),
            F.count_distinct("c_nationkey").alias("n_nations"),
        )
    )


# ---------------------------------------------------------------------------
# Grouping sets / rollup (free from Catalyst — SURVEY §2.5 'Aggregations')
# ---------------------------------------------------------------------------
@register(
    "rollup_revenue_region_nation",
    oracle="""
SELECT r.r_name, n.n_name,
       count(*) AS n_orders,
       round(sum(o.o_totalprice), 2) AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY ROLLUP (r.r_name, n.n_name)
""",
    doc="ROLLUP hierarchy totals (region → nation → grand total) — "
    "grouping-sets coverage; one pass, partial aggregation per set.",
)
def rollup_revenue_region_nation(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Set operations (SURVEY §2.5 'Set ops')
# ---------------------------------------------------------------------------
@register(
    "set_ops_customer_cohorts",
    oracle="""
WITH big_spenders AS (
  SELECT DISTINCT o_custkey AS k FROM orders WHERE o_totalprice > 300000
),
builders AS (
  SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
)
SELECT
  (SELECT count(*) FROM (SELECT k FROM big_spenders UNION SELECT k FROM builders)) AS n_union,
  (SELECT count(*) FROM (SELECT k FROM big_spenders INTERSECT SELECT k FROM builders)) AS n_intersect,
  (SELECT count(*) FROM (SELECT k FROM big_spenders EXCEPT SELECT k FROM builders)) AS n_except
""",
    doc="UNION / INTERSECT / EXCEPT over customer cohorts.",
)
def set_ops_customer_cohorts(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = o.where(F.col("o_totalprice") > 300000).select(
        F.col("o_custkey").alias("k")
    ).distinct()
    builders = c.where(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("k")
    )
    row = [
        big.union(builders).distinct().count(),
        big.intersect(builders).count(),
        big.exceptAll(builders.intersect(big)).count(),
    ]
    return spark.createDataFrame(
        [tuple(row)], "n_union bigint, n_intersect bigint, n_except bigint"
    )


# ---------------------------------------------------------------------------
# Scalar function coverage (string/date/math — SURVEY §2.5 'Scalar functions')
# ---------------------------------------------------------------------------
@register(
    "scalar_functions_orders",
    oracle="""
SELECT year(o_orderdate) AS yr,
       count(*) AS cnt,
       count(DISTINCT month(o_orderdate)) AS n_months,
       min(upper(substr(o_orderpriority, 1, 8))) AS min_prio,
       round(avg(sqrt(o_totalprice)), 6) AS avg_sqrt_price,
       round(avg(ln(o_totalprice)), 8) AS avg_ln_price,
       round(avg(abs(o_totalprice - 150000.0)), 4) AS avg_abs_dev,
       max(concat(o_orderstatus, '-', CAST(year(o_orderdate) AS VARCHAR))) AS max_tag
FROM orders
GROUP BY year(o_orderdate)
""",
    doc="String/date/math scalar-function coverage rolled up per year.",
)
def scalar_functions_orders(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy(F.year("o_orderdate").alias("yr")).agg(
        F.count("*").alias("cnt"),
        F.count_distinct(F.month("o_orderdate")).alias("n_months"),
        F.min(F.upper(F.substring("o_orderpriority", 1, 8))).alias("min_prio"),
        F.round(F.avg(F.sqrt("o_totalprice")), 6).alias("avg_sqrt_price"),
        F.round(F.avg(F.log("o_totalprice")), 8).alias("avg_ln_price"),
        F.round(F.avg(F.abs(F.col("o_totalprice") - 150000.0)), 4).alias("avg_abs_dev"),
        F.max(
            F.concat(
                F.col("o_orderstatus"), F.lit("-"), F.year("o_orderdate").cast("string")
            )
        ).alias("max_tag"),
    )


# ---------------------------------------------------------------------------
# Window functions (SURVEY §2.5 'Window functions')
# ---------------------------------------------------------------------------
@register(
    "window_functions_customer_orders",
    oracle="""
SELECT o_custkey, o_orderkey, rk,
       round(running_spend, 2) AS running_spend,
       round(coalesce(prev_price, 0.0), 2) AS prev_price
FROM (
  SELECT o_custkey, o_orderkey,
         row_number() OVER w AS rk,
         sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                                 ROWS UNBOUNDED PRECEDING) AS running_spend,
         lag(o_totalprice) OVER w AS prev_price
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
)
WHERE rk <= 3
""",
    doc="row_number / running sum / lag per customer (deterministic order "
    "keys) — window-function coverage.",
)
def window_functions_customer_orders(spark, sf_dir):
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.row_number().over(w).alias("rk"),
            F.round(F.sum("o_totalprice").over(wsum), 2).alias("running_spend"),
            F.round(
                F.coalesce(F.lag("o_totalprice").over(w), F.lit(0.0)), 2
            ).alias("prev_price"),
        )
        .where(F.col("rk") <= 3)
    )


# ---------------------------------------------------------------------------
# Sinks: write → read-back round trip (SURVEY §2.5 'Scans/sources/sinks')
# ---------------------------------------------------------------------------
@register(
    "sink_roundtrip_parquet",
    oracle="""
SELECT r.r_name, n.n_name,
       count(*) AS n_orders,
       round(sum(o.o_totalprice), 2) AS revenue,
       round(avg(o.o_totalprice), 5) AS avg_order
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name, n.n_name
""",
    doc="Sink coverage: aggregate → write parquet → read back; result must "
    "survive the round trip bit-exact.",
)
def sink_roundtrip_parquet(spark, sf_dir):

    from crick_spark.plans.registry import QUERIES

    out = QUERIES["revenue_by_nation"].fn(spark, sf_dir)
    path = run_tmpdir("crick_sink_") + "/revenue.parquet"
    out.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


# ---------------------------------------------------------------------------
# Version probe (crick numpy_version, SURVEY §2.4)
# ---------------------------------------------------------------------------
def _version_oracle() -> str:
    # the oracle is rendered at import time from the SAME runtime the Spark
    # query probes (one pip env; pyspark.__version__ is the JVM version for
    # a pip-installed Spark), so the hash-match is a genuine probe: if the
    # query misreports any component version, the driver hash breaks
    import numpy as np
    import pyspark

    import crick_spark

    return (
        f"SELECT '{crick_spark.version()}' AS engine_version, "
        f"'{pyspark.__version__}' AS spark_version, "
        f"'{np.__version__}' AS numpy_version"
    )


@register(
    "engine_version",
    oracle=_version_oracle(),
    doc="Version probe (crick/numpy_version.pyx analog): engine + spark + "
    "numpy versions as a one-row DataFrame; oracle-backed (r5: literal "
    "rendered from the same runtime at import).",
)
def engine_version(spark, sf_dir):
    import numpy as np

    import crick_spark

    return spark.createDataFrame(
        [(crick_spark.version(), spark.version, np.__version__)],
        "engine_version string, spark_version string, numpy_version string",
    )


# ---------------------------------------------------------------------------
# CSV / JSON sources (SURVEY §2.5 'Scans/sources/sinks')
# ---------------------------------------------------------------------------
@register(
    "source_csv_roundtrip",
    oracle="""
SELECT n.n_name, count(*) AS n_suppliers, round(sum(s.s_acctbal), 2) AS total_bal
FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
GROUP BY n.n_name
""",
    doc="CSV source coverage: supplier → write csv (header) → read back with "
    "explicit schema → join + aggregate; must survive the text round trip.",
)
def source_csv_roundtrip(spark, sf_dir):

    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    path = run_tmpdir("crick_csv_") + "/supplier.csv"
    s.write.mode("overwrite").option("header", True).csv(path)
    s2 = spark.read.schema(s.schema).option("header", True).csv(path)
    return (
        s2.join(F.broadcast(n), s2.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_suppliers"),
            F.round(F.sum("s_acctbal"), 2).alias("total_bal"),
        )
    )


@register(
    "source_json_roundtrip",
    oracle="""
SELECT r_name, count(*) AS n_nations, min(n_name) AS first_nation
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
""",
    doc="JSON-lines source coverage: nation → write json → read back with "
    "explicit schema → join + aggregate.",
)
def source_json_roundtrip(spark, sf_dir):

    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    path = run_tmpdir("crick_json_") + "/nation.json"
    n.write.mode("overwrite").json(path)
    n2 = spark.read.schema(n.schema).json(path)
    return (
        n2.join(F.broadcast(r), n2.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_nations"),
            F.min("n_name").alias("first_nation"),
        )
    )


@register(
    "source_jsonl_corrupt_records",
    oracle="""
SELECT 'permissive' AS mode,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN doc_id % 97 <> 3 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_good,
       CAST(sum(CASE WHEN doc_id % 97 <> 3 THEN coalesce(n_chars, 0)
                ELSE 0 END) AS BIGINT) AS chars_good
FROM documents
UNION ALL
SELECT 'dropmalformed',
       CAST(sum(CASE WHEN doc_id % 97 <> 3 THEN 1 ELSE 0 END) AS BIGINT),
       CAST(sum(CASE WHEN doc_id % 97 <> 3 THEN 1 ELSE 0 END) AS BIGINT),
       CAST(sum(CASE WHEN doc_id % 97 <> 3 THEN coalesce(n_chars, 0)
                ELSE 0 END) AS BIGINT)
FROM documents
""",
    doc="Malformed-record ingestion (r10): real JSONL feeds carry broken "
    "lines, and a 100 TB pipeline must COUNT them, not die or silently "
    "drop them.  Documents serialize to JSON lines with deterministic "
    "corruption injected (doc_id %% 97 == 3 → line truncated to 7 "
    "chars, unparseable), then read back under BOTH parser modes: "
    "PERMISSIVE routes each bad line's raw text into the "
    "columnNameOfCorruptRecord column (good rows parse, bad rows are "
    "countable — the quarantine-table pattern), DROPMALFORMED keeps "
    "exactly the good rows.  Fully value-oracled: the corruption "
    "predicate is arithmetic, so DuckDB reproduces per-mode row "
    "counts, good-row counts, and the good-row character sum from the "
    "source table.  (Jackson ignores trailing garbage after a parsed "
    "root — measured — so truncation, not suffixing, is the injected "
    "corruption.)",
)
def source_jsonl_corrupt_records(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", "lang"
    )
    line = F.to_json(F.struct("doc_id", "n_chars", "lang"))
    corrupted = F.when(
        F.col("doc_id") % 97 == 3, F.substring(line, 1, 7)
    ).otherwise(line)
    path = run_tmpdir("crick_jsonl_") + "/docs.jsonl"
    docs.select(corrupted.alias("value")).repartition(2).write.mode(
        "overwrite"
    ).text(path)
    perm = (
        spark.read.schema("doc_id long, n_chars long, lang string, _bad string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .json(path)
    )
    perm_row = perm.agg(
        F.lit("permissive").alias("mode"),
        F.count("*").alias("n_rows"),
        F.sum(F.when(F.col("_bad").isNull(), 1).otherwise(0)).alias("n_good"),
        F.sum(
            F.when(
                F.col("_bad").isNull(), F.coalesce(F.col("n_chars"), F.lit(0))
            ).otherwise(0)
        ).alias("chars_good"),
    )
    dropm = (
        spark.read.schema("doc_id long, n_chars long, lang string")
        .option("mode", "DROPMALFORMED")
        .json(path)
    )
    drop_row = dropm.agg(
        F.lit("dropmalformed").alias("mode"),
        F.count("*").alias("n_rows"),
        F.count("*").alias("n_good"),
        F.sum(F.coalesce(F.col("n_chars"), F.lit(0))).alias("chars_good"),
    )
    return perm_row.unionByName(drop_row)


@register(
    "quarantine_sink_roundtrip",
    oracle="""
SELECT CAST(sum(CASE WHEN doc_id % 97 <> 3 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_good,
       CAST(sum(CASE WHEN doc_id % 97 <> 3 THEN coalesce(n_chars, 0)
                ELSE 0 END) AS BIGINT) AS chars_good,
       CAST(sum(CASE WHEN doc_id % 97 = 3 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_quarantined,
       CAST(sum(CASE WHEN doc_id % 97 = 3 THEN 7 ELSE 0 END) AS BIGINT)
         AS quarantined_bytes,
       CAST(2 AS BIGINT) AS n_batches
FROM documents
""",
    doc="Dead-letter quarantine WRITE path (r11, VERDICT #5): "
    "source_jsonl_corrupt_records proves the read modes; this persists "
    "the split.  Documents serialize to JSON lines with deterministic "
    "corruption (doc_id %% 97 == 3 → truncated to 7 chars), feed a "
    "QuarantineSink (sources/quarantine.py) in two micro-batches split "
    "by doc_id parity, and batch 1 is then REPLAYED — the fence plus "
    "per-batch partition overwrite must leave counts unchanged "
    "(exactly-once split across restarts).  Fully value-oracled: good "
    "row count, good n_chars sum, quarantined line count, quarantined "
    "byte total (7 bytes per truncated line, summed from the PERSISTED "
    "raw column), and the committed batch count all reproduce from the "
    "source table arithmetic.",
)
def quarantine_sink_roundtrip(spark, sf_dir):
    from crick_spark.sources.quarantine import QuarantineSink

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", "lang"
    )
    line = F.to_json(F.struct("doc_id", "n_chars", "lang"))
    corrupted = F.when(
        F.col("doc_id") % 97 == 3, F.substring(line, 1, 7)
    ).otherwise(line)
    lines = docs.select(
        corrupted.alias("value"), (F.col("doc_id") % 2).alias("__half__")
    )
    sink = QuarantineSink(
        run_tmpdir("crick_quarantine_") + "/sink",
        schema="doc_id long, n_chars long, lang string",
    )
    assert sink.ingest(lines.where(F.col("__half__") == 0).drop("__half__"), 0)
    assert sink.ingest(lines.where(F.col("__half__") == 1).drop("__half__"), 1)
    # crash-replay of batch 1: fenced, counts must not move
    replayed = sink.ingest(
        lines.where(F.col("__half__") == 1).drop("__half__"), 1
    )
    assert replayed is False
    last_id, _ = sink.read_meta()
    good = sink.good(spark).agg(
        F.count("*").alias("n_good"),
        F.sum(F.coalesce(F.col("n_chars"), F.lit(0))).alias("chars_good"),
    )
    quar = sink.quarantined(spark).agg(
        F.count("*").alias("n_quarantined"),
        F.sum("raw_len").cast("long").alias("quarantined_bytes"),
    )
    return good.crossJoin(F.broadcast(quar)).select(
        "n_good",
        "chars_good",
        "n_quarantined",
        "quarantined_bytes",
        F.lit(last_id + 1).cast("long").alias("n_batches"),
    )


# ---------------------------------------------------------------------------
# Join-type coverage: outer / semi / anti (SURVEY §2.5 'Joins')
# ---------------------------------------------------------------------------
@register(
    "join_types_customer_orders",
    oracle="""
WITH per_cust AS (
  SELECT c.c_custkey, c.c_mktsegment, count(o.o_orderkey) AS n_orders
  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
  GROUP BY c.c_custkey, c.c_mktsegment
)
SELECT c_mktsegment,
       count(*) AS n_customers,
       count(*) FILTER (WHERE n_orders = 0) AS inactive,
       count(*) FILTER (WHERE n_orders > 0) AS active,
       CAST(sum(n_orders) AS BIGINT) AS total_orders
FROM per_cust
GROUP BY c_mktsegment
""",
    doc="LEFT OUTER + semi/anti semantics per market segment: customers with "
    "and without orders (anti-join = inactive), order totals preserved.",
)
def join_types_customer_orders(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers"),
        F.count(F.when(F.col("n_orders") == 0, 1)).alias("inactive"),
        F.count(F.when(F.col("n_orders") > 0, 1)).alias("active"),
        F.sum("n_orders").alias("total_orders"),
    )


# ---------------------------------------------------------------------------
# Storage layout: bucketed co-located join + partitioned pruning
# ---------------------------------------------------------------------------
@register(
    "bucketed_join_order_totals",
    oracle="""
SELECT c.c_mktsegment,
       count(*) AS n_orders,
       round(sum(o.o_totalprice), 2) AS revenue
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
""",
    doc="Co-located join on bucketed tables: orders and customer are "
    "written bucketed by custkey (one shuffle at write time), then joined "
    "with ZERO exchange below the join — the layout lever for fact-fact "
    "joins at 100 TB.  Exchange-freeness is asserted, not assumed.",
)
def bucketed_join_order_totals(spark, sf_dir):

    from crick_spark.sources.layout import (
        assert_no_shuffle_join,
        bucketed_join,
        write_bucketed,
    )

    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    base = run_tmpdir("crick_buckets_")
    write_bucketed(
        o.withColumnRenamed("o_custkey", "custkey"),
        "orders_bkt", "custkey", 8, path=f"{base}/orders_bkt",
    )
    write_bucketed(
        c.withColumnRenamed("c_custkey", "custkey"),
        "customer_bkt", "custkey", 8, path=f"{base}/customer_bkt",
    )
    joined = bucketed_join(spark, "orders_bkt", "customer_bkt", "custkey")
    assert_no_shuffle_join(joined)
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


@register(
    "partition_pruned_scan",
    oracle="""
SELECT o_orderpriority, count(*) AS cnt, round(sum(o_totalprice), 2) AS revenue
FROM orders
WHERE year(o_orderdate) = 1997
GROUP BY o_orderpriority
""",
    doc="Partitioned layout + pruning: orders written partitionBy(year), "
    "a year predicate prunes whole directories at planning time "
    "(PartitionFilters asserted in the scan) — no I/O for other years.",
)
def partition_pruned_scan(spark, sf_dir):

    from crick_spark.sources.layout import assert_partition_pruned

    o = load_table(spark, sf_dir, "orders")
    base = run_tmpdir("crick_part_") + "/orders_by_year"
    o.withColumn("o_year", F.year("o_orderdate")).write.mode(
        "overwrite"
    ).partitionBy("o_year").parquet(base)
    scan = spark.read.parquet(base).where(F.col("o_year") == 1997)
    assert_partition_pruned(scan, "o_year")
    return scan.groupBy("o_orderpriority").agg(
        F.count("*").alias("cnt"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# JSON / semi-structured scalar functions (SURVEY §2.5 'Scalar functions')
# ---------------------------------------------------------------------------
@register(
    "json_props_rollup",
    oracle="""
SELECT event_type,
       count(*) AS cnt,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
       CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
       count(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_k
FROM events
GROUP BY event_type
""",
    doc="JSON scalar functions over the events.props payload: parse with "
    "from_json (schema'd struct, codegen) and roll up the extracted field.",
)
def json_props_rollup(spark, sf_dir):
    from pyspark.sql.types import LongType, StructField, StructType

    ev = load_table(spark, sf_dir, "events")
    parsed = ev.select(
        "event_type",
        F.from_json(
            F.col("props"), StructType([StructField("k", LongType())])
        )["k"].alias("k"),
    )
    return parsed.groupBy("event_type").agg(
        F.count("*").alias("cnt"),
        F.sum("k").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        F.count_distinct("k").alias("n_k"),
    )


# ---------------------------------------------------------------------------
# Bias-corrected moments (crick skew(bias=False)/kurt(bias=False),
# stats_stubs.c:121,134) — DuckDB's builtins ARE the corrected sample forms
# ---------------------------------------------------------------------------
@register(
    "moments_bias_corrected",
    oracle="""
SELECT l_returnflag,
       count(*) AS cnt,
       round(skewness(l_quantity), 6) AS skew_corrected,
       round(kurtosis(l_quantity), 6) AS kurt_corrected
FROM lineitem
GROUP BY l_returnflag
""",
    doc="Bias-corrected skew/kurt (crick bias=False closed forms over the "
    "population moments) — matches DuckDB's sample-corrected builtins "
    "exactly, proving the correction formulas.",
)
def moments_bias_corrected(spark, sf_dir):
    from crick_spark.functions.stats import kurt_unbiased, skew_unbiased

    li = load_table(spark, sf_dir, "lineitem")
    agg = moments_agg(li, "l_quantity", by=["l_returnflag"])
    n = F.col("cnt")
    return agg.select(
        "l_returnflag",
        "cnt",
        F.round(skew_unbiased(n, F.col("skew_x")), 6).alias("skew_corrected"),
        F.round(kurt_unbiased(n, F.col("kurt_x")), 6).alias("kurt_corrected"),
    )


# ---------------------------------------------------------------------------
# CUBE (all grouping-set combinations) + grouped histogram
# ---------------------------------------------------------------------------
@register(
    "cube_orders_status_priority",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       count(*) AS cnt, round(sum(o_totalprice), 2) AS revenue
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
    doc="CUBE over (status, priority): all four grouping sets in one pass.",
)
def cube_orders_status_priority(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("cnt"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


@register(
    "histogram_value_by_event_type",
    oracle="""
WITH src AS (
  SELECT event_type,
         least(CAST(floor((value - 0.0) / 25.0) AS BIGINT), 7) AS bin
  FROM events
  WHERE value IS NOT NULL AND NOT isnan(value)
    AND value >= 0.0 AND value <= 200.0
),
counts AS (SELECT event_type, bin, count(*) AS cnt FROM src GROUP BY event_type, bin),
types AS (SELECT DISTINCT event_type FROM events)
SELECT t.event_type, b.bin,
       round(0.0 + b.bin * 25.0, 6) AS bin_lo,
       round(0.0 + (b.bin + 1) * 25.0, 6) AS bin_hi,
       coalesce(c.cnt, 0) AS cnt
FROM types t
CROSS JOIN (SELECT unnest(range(8)) AS bin) b
LEFT JOIN counts c ON c.event_type = t.event_type AND c.bin = b.bin
""",
    doc="Grouped fixed-range histogram (8 bins over [0,200] per event "
    "type), dense bins including empty ones.",
)
def histogram_value_by_event_type(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return histogram(ev, "value", 0.0, 200.0, 8, by=["event_type"])


# ---------------------------------------------------------------------------
# Count-weighted moments (crick update(x, count): each x observed count
# times, stats.pyx:108-126) — two-pass population form for numeric stability
# ---------------------------------------------------------------------------
@register(
    "weighted_moments_price",
    oracle="""
WITH m AS (
  SELECT l_returnflag,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS n,
         sum(l_quantity * l_extendedprice) / sum(l_quantity) AS mu
  FROM lineitem GROUP BY l_returnflag
),
p AS (
  SELECT l.l_returnflag,
         any_value(m.n) AS n_obs,
         any_value(m.mu) AS mu,
         sum(l.l_quantity * pow(l.l_extendedprice - m.mu, 2)) / any_value(m.n) AS m2,
         sum(l.l_quantity * pow(l.l_extendedprice - m.mu, 3)) / any_value(m.n) AS m3,
         sum(l.l_quantity * pow(l.l_extendedprice - m.mu, 4)) / any_value(m.n) AS m4
  FROM lineitem l JOIN m USING (l_returnflag)
  GROUP BY l.l_returnflag
)
SELECT l_returnflag, n_obs,
       round(mu, 4) AS wmean,
       round(sqrt(m2), 2) AS wstd,
       round(m3 / pow(m2, 1.5), 6) AS wskew,
       round(m4 / (m2 * m2) - 3, 6) AS wkurt
FROM p
""",
    doc="Count-weighted moments (crick's update(x, count) semantics — "
    "each value observed `count` times; here price weighted by "
    "quantity): weighted mean/std/skew/kurt via the numerically stable "
    "two-pass central-moment form (raw power sums lose ~8 digits at "
    "this magnitude).  Pass 1 is a tiny aggregate broadcast back; both "
    "passes are map-side-combined hash aggregates.",
)
def weighted_moments_price(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    c, x = F.col("l_quantity"), F.col("l_extendedprice")
    m = li.groupBy("l_returnflag").agg(
        F.sum(c.cast("bigint")).alias("n"),
        (F.sum(c * x) / F.sum(c)).alias("mu"),
    )
    d = x - F.col("mu")
    p = (
        li.join(F.broadcast(m), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.any_value("n").alias("n_obs"),
            F.any_value("mu").alias("mu"),
            (F.sum(c * F.pow(d, 2)) / F.any_value("n")).alias("m2"),
            (F.sum(c * F.pow(d, 3)) / F.any_value("n")).alias("m3"),
            (F.sum(c * F.pow(d, 4)) / F.any_value("n")).alias("m4"),
        )
    )
    return p.select(
        "l_returnflag",
        "n_obs",
        F.round("mu", 4).alias("wmean"),
        F.round(F.sqrt("m2"), 2).alias("wstd"),
        F.round(F.col("m3") / F.pow("m2", 1.5), 6).alias("wskew"),
        F.round(F.col("m4") / (F.col("m2") * F.col("m2")) - 3, 6).alias("wkurt"),
    )


@register(
    "sink_roundtrip_orc",
    oracle="""
SELECT r.r_name, n.n_name,
       count(*) AS n_orders,
       round(sum(o.o_totalprice), 2) AS revenue,
       round(avg(o.o_totalprice), 5) AS avg_order
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name, n.n_name
""",
    doc="ORC sink coverage: aggregate → write ORC → read back bit-exact "
    "(columnar format parity with the parquet sink).",
)
def sink_roundtrip_orc(spark, sf_dir):

    from crick_spark.plans.registry import QUERIES

    out = QUERIES["revenue_by_nation"].fn(spark, sf_dir)
    path = run_tmpdir("crick_sink_") + "/revenue.orc"
    out.write.mode("overwrite").orc(path)
    return spark.read.orc(path)


@register(
    "equidepth_histogram_value",
    oracle="""
WITH b AS (
  SELECT list_transform(
           quantile_cont(value, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
           x -> round(x, 6)) AS bs
  FROM events)
SELECT CAST(1 + list_sum(list_transform(
         b.bs, x -> CASE WHEN e.value > x THEN 1 ELSE 0 END)) AS BIGINT) AS bin,
       count(*) AS cnt
FROM events e, b
GROUP BY bin
""",
    doc="Equi-depth (equal-frequency) histogram: exact deciles of the value "
    "column become bin boundaries, every row is bucketed by comparison "
    "against the broadcast 9-element boundary array, then counted per bin.  "
    "Two aggregate passes, boundary array broadcast — no per-row shuffle "
    "beyond the bin rollup; boundaries rounded to a 1e-6 grid in-query so "
    "both engines compare against bit-identical cutpoints.",
)
def equidepth_histogram_value(spark, sf_dir):
    from crick_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("value")
    qs = [i / 10.0 for i in range(1, 10)]
    bounds = ev.agg(
        F.transform(
            F.percentile("value", F.array(*[F.lit(q) for q in qs])),
            lambda x: F.round(x, 6),
        ).alias("bs")
    )
    binned = ev.join(F.broadcast(bounds)).select(
        (
            1
            + F.aggregate(
                F.transform(
                    F.col("bs"),
                    lambda x: F.when(F.col("value") > x, 1).otherwise(0),
                ),
                F.lit(0),
                lambda acc, v: acc + v,
            )
        )
        .cast("long")
        .alias("bin")
    )
    return binned.groupBy("bin").agg(F.count("*").alias("cnt"))


@register(
    "source_text_roundtrip",
    oracle="""
SELECT doc_id, md5(text) AS text_md5 FROM documents
""",
    doc="Text-source roundtrip: documents serialized as tab-delimited lines "
    "through the text sink (one string column per line), read back with "
    "spark.read.text, re-parsed with split-on-first-tab — the "
    "line-oriented ingestion path (logs, WET/WARC-style dumps) of a "
    "corpus pipeline.  Text is percent-encoded (%, \\t, \\n, \\r) before "
    "serialization and decoded after, so arbitrary document content "
    "round-trips losslessly instead of silently corrupting on embedded "
    "tabs/newlines.  Hash-matched on (doc_id, md5(text)).",
)
def source_text_roundtrip(spark, sf_dir):

    from crick_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    path = run_tmpdir("crick_textsrc_") + "/docs_txt"
    # lossless line encoding: '%' first so decode order ('%' last) is
    # unambiguous — any '%09'/'%0A'/'%0D' in the encoded stream denotes a
    # real tab/LF/CR, never original text
    enc = F.col("text")
    for lit, code in [("%", "%25"), ("\t", "%09"), ("\n", "%0A"), ("\r", "%0D")]:
        enc = F.replace(enc, F.lit(lit), F.lit(code))
    docs.select(
        F.concat(F.col("doc_id").cast("string"), F.lit("\t"), enc).alias("value")
    ).write.mode("overwrite").text(path)
    lines = spark.read.text(path)
    tab = F.instr(F.col("value"), "\t")
    dec = F.expr("substring(value, instr(value, '\t') + 1)")
    for code, lit in [("%0D", "\r"), ("%0A", "\n"), ("%09", "\t"), ("%25", "%")]:
        dec = F.replace(dec, F.lit(code), F.lit(lit))
    return lines.select(
        F.substring(F.col("value"), 1, tab - 1).cast("long").alias("doc_id"),
        F.md5(dec).alias("text_md5"),
    )


@register(
    "source_schema_evolution",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN event_id < 500 THEN 1 ELSE 0 END) AS BIGINT)
         AS rows_old_schema,
       CAST(count(CASE WHEN event_id < 500 THEN user_id END) AS BIGINT)
         AS n_user_ids,
       round(sum(CASE WHEN event_id >= 500 THEN value END), 4) AS value_sum
FROM events
""",
    doc="Schema-evolution source coverage: two parquet generations of "
    "events — an old one carrying (event_id, user_id) and a new one "
    "carrying (event_id, value) — read together with mergeSchema; "
    "columns absent from a generation surface as NULLs.  The oracle "
    "recomputes the merged aggregate from the canonical events table "
    "with matching CASE fills.  At 100 TB schema drift across "
    "partitions is the norm, not the exception — readers must union "
    "by name off parquet footers, never by position.",
)
def source_schema_evolution(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    path = run_tmpdir("crick_evolve_") + "/events"
    old_gen = ev.where(F.col("event_id") < 500).select("event_id", "user_id")
    new_gen = ev.where(F.col("event_id") >= 500).select("event_id", "value")
    old_gen.write.mode("overwrite").parquet(f"{path}/gen=0")
    new_gen.write.mode("overwrite").parquet(f"{path}/gen=1")
    merged = spark.read.option("mergeSchema", True).parquet(path)
    return merged.agg(
        F.count("*").alias("n_rows"),
        F.sum((F.col("event_id") < 500).cast("long")).alias(
            "rows_old_schema"
        ),
        F.count("user_id").alias("n_user_ids"),
        F.round(F.sum("value"), 4).alias("value_sum"),
    )


@register(
    "incremental_rollup_merge",
    oracle="""
SELECT event_type, date_trunc('day', ts) AS d,
       count(*) AS n_events,
       round(sum(value), 4) AS sum_value,
       round(min(value), 6) AS min_value,
       round(max(value), 6) AS max_value,
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2
""",
    doc="Incremental aggregate maintenance — the crick merge contract "
    "applied to exact rollups: the corpus is split into a base load "
    "and a late-arriving delta (event_id parity), each rolled up "
    "independently, and the two AGGREGATE STATES merged (counts/sums "
    "add, min/max fold, distinct-user via union of the per-batch key "
    "sets) — the merged table must hash-match the full recompute, "
    "which is exactly what the oracle computes.  At 100 TB this is the "
    "materialized-view refresh path: touch only the delta, never "
    "rescan the base fact table.  count(DISTINCT) is the one "
    "non-algebraic column — merged through the per-batch distinct key "
    "sets (or an HLL register merge for the approximate variant, "
    "streaming_distinct_users_hll).",
)
def incremental_rollup_merge(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    base = ev.where(F.col("event_id") % 2 == 0)
    delta = ev.where(F.col("event_id") % 2 == 1)

    def rollup(df):
        return df.groupBy(
            "event_type", F.date_trunc("day", "ts").alias("d")
        ).agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            F.collect_set("user_id").alias("users"),
        )

    merged = (
        rollup(base)
        .unionByName(rollup(delta))
        .groupBy("event_type", "d")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.round(F.sum("sum_value"), 4).alias("sum_value"),
            F.round(F.min("min_value"), 6).alias("min_value"),
            F.round(F.max("max_value"), 6).alias("max_value"),
            F.size(
                F.array_distinct(F.flatten(F.collect_list("users")))
            ).cast("bigint").alias("n_users"),
        )
    )
    return merged
