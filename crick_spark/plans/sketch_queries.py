"""Sketch-operator queries (SURVEY §2.1-2.3 approximate surface).

Approximate results can't hash-match an exact SQL oracle → most entries are
rows-only for the driver; their accuracy is asserted in
``tests/test_sketch_operators.py`` at the reference's own tolerances.

Two exceptions get full oracles:

* ``spacesaving_topk_event_types`` — with |distinct| ≤ capacity the
  Space-Saving summary never evicts, so counts are exact and error = 0
  (the overestimate guarantee ``count−error ≤ actual ≤ count``
  collapses); deterministic.
* ``moments_sketch_extendedprice`` — SummaryStats is an *exact* algorithm
  (only FP summation order differs) → hash-matches after rounding.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from crick_spark.operators import (
    moments_agg,
    spacesaving_topk,
    tdigest_cdf,
    tdigest_histogram,
    tdigest_quantiles,
)
from crick_spark.functions.quantiles import empirical_cdf_at
from crick_spark.plans.registry import register, rounded
from crick_spark.sources.tables import load_table
from crick_spark.tmpdirs import run_tmpdir

_QS = [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
# The l_extendedprice moments oracles' rounding grid (per moments_agg column)
_PRICE_DIGITS = {
    "sum_x": 1, "min_x": 6, "max_x": 6, "mean_x": 5, "var_pop_x": 1,
    "var_samp_x": 1, "std_pop_x": 4, "std_samp_x": 4, "skew_x": 5, "kurt_x": 5,
}


@register(
    "tdigest_quantiles_events_value",
    doc="Mergeable t-digest quantiles over events.value (crick TDigest.quantile); "
    "accuracy ≤0.012 in q-space asserted in tests.",
)
def tdigest_quantiles_events_value(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return tdigest_quantiles(ev, "value", _QS)


@register(
    "tdigest_quantiles_by_returnflag",
    doc="Grouped t-digest quantiles (per-group mergeable sketch state).",
)
def tdigest_quantiles_by_returnflag(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return tdigest_quantiles(li, "l_extendedprice", [0.25, 0.5, 0.75, 0.99], by=["l_returnflag"])


_CDF_PTS = [5.0, 25.0, 50.0, 100.0, 200.0]


@register(
    "tdigest_cdf_events_value",
    oracle="SELECT "
    + ", ".join(
        f"CAST({x} AS DOUBLE) AS x_{str(x).replace('.', '_')}, "
        f"TRUE AS cdf_{str(x).replace('.', '_')}_ok"
        for x in _CDF_PTS
    ),
    doc="t-digest CDF at fixed points (crick TDigest.cdf), promoted to "
    "a hash-matchable boolean-tolerance oracle (r14, VERDICT r13 #8 - "
    "the tdigest_histogram_quantity pattern): the sketch CDF estimate "
    "at each point is compared JVM-side against the exact "
    "midpoint-at-ties empirical CDF (functions/quantiles.py:"
    "empirical_cdf_at, the reference's own tie convention) at the "
    "reference's cdf tolerance 0.005 (crick/tests/test_tdigest.py:"
    "105-107) plus 1/n discreteness; the probed points hash-match "
    "directly.  Exact twin: cdf_events_value (still oracle-checked); "
    "the sketch aggregate is unchanged, one exact single-pass "
    "aggregate rides beside it.",
)
def tdigest_cdf_events_value(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    est = tdigest_cdf(ev, "value", _CDF_PTS)
    exact = ev.agg(
        F.count("value").alias("__n__"),
        *[
            empirical_cdf_at(F.col("value"), x).alias(f"__exact_{i}__")
            for i, x in enumerate(_CDF_PTS)
        ],
    )
    tol = F.lit(0.005) + F.lit(1.0) / F.col("__n__")
    cols = []
    for i, x in enumerate(_CDF_PTS):
        tag = str(x).replace(".", "_")
        cols.append(F.lit(float(x)).alias(f"x_{tag}"))
        cols.append(
            (
                F.abs(F.col(f"cdf_{tag}") - F.col(f"__exact_{i}__")) <= tol
            ).alias(f"cdf_{tag}_ok")
        )
    return est.crossJoin(F.broadcast(exact)).select(*cols)


@register(
    "tdigest_histogram_quantity",
    oracle="""
SELECT CAST(i AS BIGINT) AS bin,
       CAST(5.0 * i AS DOUBLE) AS bin_lo,
       CAST(5.0 * (i + 1) AS DOUBLE) AS bin_hi,
       TRUE AS cnt_within_bound
FROM range(10) t(i)
""",
    doc="t-digest histogram by CDF differencing (crick TDigest.histogram), "
    "promoted to a hash-matchable oracle (r5: boolean-tolerance pattern): "
    "the bin structure (index + edges) is deterministic and hash-matches "
    "directly; each bin's estimated mass is compared JVM-side against the "
    "exact midpoint-at-ties empirical mass of the same interval — per-edge "
    "CDF error is ≤0.005 (the reference's own bound, crick/tests/"
    "test_tdigest.py:105-107), so per-bin mass error is ≤0.01·N, the "
    "hashed tolerance.  Exact twin: histogram_quantity.",
)
def tdigest_histogram_quantity(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select("l_quantity")
    hist = tdigest_histogram(li, "l_quantity", 0.0, 50.0, 10)
    edges = [5.0 * i for i in range(11)]
    exact = li.agg(
        F.count("l_quantity").alias("__n__"),
        *[
            empirical_cdf_at(F.col("l_quantity"), e).alias(f"__cdf_{i}__")
            for i, e in enumerate(edges)
        ],
    )
    cdf_arr = F.array(*[F.col(f"__cdf_{i}__") for i in range(len(edges))])
    exact_cnt = (
        F.element_at(cdf_arr, (F.col("bin") + 2).cast("int"))
        - F.element_at(cdf_arr, (F.col("bin") + 1).cast("int"))
    ) * F.col("__n__")
    tol = F.greatest(F.lit(2.0), F.lit(0.01) * F.col("__n__"))
    return hist.crossJoin(F.broadcast(exact)).select(
        "bin",
        "bin_lo",
        "bin_hi",
        (F.abs(F.col("cnt_est") - exact_cnt) <= tol).alias("cnt_within_bound"),
    )


@register(
    "spacesaving_topk_event_types",
    oracle="""
SELECT item, cnt, CAST(0 AS BIGINT) AS error FROM (
  SELECT event_type AS item, count(*) AS cnt,
         row_number() OVER (ORDER BY count(*) DESC, event_type ASC) AS rk
  FROM events GROUP BY event_type
) WHERE rk <= 5
""",
    doc="Space-Saving top-k on a low-cardinality column: summary never fills "
    "→ exact counts, error=0 (crick/tests/test_space_saving.py:34-41 regime) "
    "— deterministic, full oracle.",
)
def spacesaving_topk_event_types(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return spacesaving_topk(ev, "event_type", 5, capacity=20)


@register(
    "spacesaving_topk_users",
    oracle="""
SELECT item, cnt, CAST(0 AS BIGINT) AS error FROM (
  SELECT user_id AS item, count(*) AS cnt,
         row_number() OVER (ORDER BY count(*) DESC, user_id ASC) AS rk
  FROM events GROUP BY user_id
) WHERE rk <= 10
""",
    doc="Space-Saving heavy-hitter users, exact-regime oracle (r2 VERDICT "
    "promotion): capacity sized from the data (max(4096, |distinct users|) "
    "— one key-only count-distinct) so the summary never evicts at ANY "
    "scale factor → counts exact, error = 0, deterministic count DESC / "
    "item ASC order.  The bounded-error regime (capacity < |items|, "
    "overestimate count−error ≤ actual ≤ count) is asserted separately "
    "in tests/test_sketch_operators.py.",
)
def spacesaving_topk_users(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    n_users = ev.select("user_id").distinct().count()
    return spacesaving_topk(ev, "user_id", 10, capacity=max(4096, n_users))


@register(
    "moments_sketch_extendedprice",
    oracle="""
WITH s AS (SELECT l_extendedprice AS x FROM lineitem WHERE l_extendedprice IS NOT NULL
           AND NOT isnan(l_extendedprice)),
     m AS (SELECT avg(x) AS mu FROM s)
SELECT count(*) AS cnt,
       round(sum(x), 1) AS sum_x,
       round(min(x), 6) AS min_x,
       round(max(x), 6) AS max_x,
       round(avg(x), 5) AS mean_x,
       round(var_pop(x), 1) AS var_pop_x,
       round(var_samp(x), 1) AS var_samp_x,
       round(stddev_pop(x), 4) AS std_pop_x,
       round(stddev_samp(x), 4) AS std_samp_x,
       round(avg(pow(x - mu, 3)) / pow(avg(pow(x - mu, 2)), 1.5), 5) AS skew_x,
       round(avg(pow(x - mu, 4)) / pow(avg(pow(x - mu, 2)), 2) - 3, 5) AS kurt_x
FROM s, m
GROUP BY mu
""",
    doc="SummaryStats through moments_agg — one JVM aggregate whose "
    "partial/final central-moment buffers are crick's Pébay update/merge; "
    "an exact algorithm, so it hash-matches the two-pass oracle after "
    "rounding.",
)
def moments_sketch_extendedprice(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return moments_agg(li, "l_extendedprice").select("cnt", *rounded(_PRICE_DIGITS))


# r14 (VERDICT r13 #8): approx_quantiles_accuracy retired — its
# error-bound gate moved INTO approx_quantiles_builtin below, which was
# a rows-only headline emitting GK estimates no SQL engine can
# reproduce (GK picks SOME element within the rank tolerance, so the
# values themselves are not oracle-able).  One query now does the same
# sketch work AND carries the hash-matched accuracy booleans; the
# bench headline keeps its name and its dominant aggregate (the extra
# exact-CDF pass is one column scan + a 1-row broadcast, recorded in
# BASELINE.md).
@register(
    "approx_quantiles_builtin",
    oracle="SELECT "
    + ", ".join(f"TRUE AS p{str(q).replace('.', '_')}_ok" for q in _QS),
    doc="Built-in percentile_approx fast path (GK sketch — same contract "
    "as t-digest, SURVEY §2.1); API-completeness twin of "
    "tdigest_quantiles, promoted r14 from rows-only to a hash-matched "
    "boolean-tolerance oracle (VERDICT r13 #8; absorbs the former "
    "approx_quantiles_accuracy twin).  GK with accuracy=10000 "
    "guarantees rank error ≤ n/10000, i.e. |cdf(est) − q| ≤ 1e-4 "
    "(+1/n discreteness); the gate asserts ≤ 0.001, a 10× margin that "
    "still catches any real sketch break.  One pass computes the "
    "estimates, a second computes their exact plotting-position CDF "
    "via a 1-row broadcast cross join — no driver round-trip of the "
    "data.",
)
def approx_quantiles_builtin(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    ests = ev.agg(
        *[
            F.percentile_approx("value", F.lit(q), F.lit(10000)).alias(
                f"est_{i}"
            )
            for i, q in enumerate(_QS)
        ]
    )
    joined = ev.select("value").crossJoin(F.broadcast(ests))
    cdfs = joined.agg(
        *[
            F.avg(
                (F.col("value") <= F.col(f"est_{i}")).cast("double")
            ).alias(f"cdf_{i}")
            for i in range(len(_QS))
        ]
    )
    return cdfs.select(
        *[
            (F.abs(F.col(f"cdf_{i}") - F.lit(q)) <= F.lit(0.001)).alias(
                f"p{str(q).replace('.', '_')}_ok"
            )
            for i, q in enumerate(_QS)
        ]
    )


@register(
    "approx_distinct_users",
    oracle="""
SELECT count(DISTINCT user_id) AS exact_users,
       count(DISTINCT event_type) AS exact_event_types,
       TRUE AS users_within_bound,
       TRUE AS types_within_bound
FROM events
""",
    doc="approx_count_distinct (HLL++) with a driver-checkable error-bound "
    "oracle (r2 VERDICT promotion): the Spark side emits the exact distinct "
    "counts plus booleans asserting the HLL++ estimate (rsd=0.01) lands "
    "within 4·rsd of exact — the reference's tolerance-as-correctness "
    "pattern (crick/tests/test_tdigest.py:99-107) made hash-matchable.  "
    "A false boolean or drifted exact count breaks the hash.",
)
def approx_distinct_users(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    a = ev.agg(
        F.count_distinct("user_id").alias("exact_users"),
        F.count_distinct("event_type").alias("exact_event_types"),
        F.approx_count_distinct("user_id", 0.01).alias("au"),
        F.approx_count_distinct("event_type", 0.01).alias("ae"),
    )
    bound = 0.04  # 4·rsd
    return a.select(
        "exact_users",
        "exact_event_types",
        (
            F.abs(F.col("au") - F.col("exact_users"))
            <= F.col("exact_users") * F.lit(bound)
        ).alias("users_within_bound"),
        (
            F.abs(F.col("ae") - F.col("exact_event_types"))
            <= F.greatest(F.col("exact_event_types") * F.lit(bound), F.lit(1.0))
        ).alias("types_within_bound"),
    )


@register(
    "tdigest_persist_roundtrip",
    oracle="""
SELECT l_returnflag, count(l_extendedprice) AS n_values,
       TRUE AS roundtrip_equal
FROM lineitem GROUP BY l_returnflag
""",
    doc="Sketch persistence (SURVEY §7.2 'sketch persistence'; crick pickle "
    "surface tdigest.pyx:246-263): per-group digest state → parquet → read "
    "back → merge → quantiles.  The incremental-rollup pattern: yesterday's "
    "persisted digests merge with today's partials without rescanning.  "
    "Hash-matched boolean oracle: the persisted→restored→merged quantiles "
    "must equal the never-persisted direct path bit-for-bit (pickle and "
    "parquet roundtrips are byte-preserving and the merge fold order is "
    "pinned), emitted beside the exact per-group count.",
)
def tdigest_persist_roundtrip(spark, sf_dir):

    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    from crick_spark.operators import merge_sketches, tdigest_agg

    li = load_table(spark, sf_dir, "lineitem")
    partials = tdigest_agg(li, "l_extendedprice", by=["l_returnflag"])
    path = run_tmpdir("crick_digests_") + "/digests.parquet"
    partials.write.mode("overwrite").parquet(path)
    restored = spark.read.parquet(path)
    qs = [0.25, 0.5, 0.75, 0.99]
    pnames = [f"p{str(q).replace('.', '_')}" for q in qs]
    schema = StructType([StructField(p, DoubleType()) for p in pnames])

    def finalize(sk):
        return pd.DataFrame(
            [{f"p{str(q).replace('.', '_')}": float(sk.quantile(q)) for q in qs}]
        )

    via_disk = merge_sketches(restored, ["l_returnflag"], finalize, schema)
    direct = merge_sketches(partials, ["l_returnflag"], finalize, schema)
    counts = li.groupBy("l_returnflag").agg(
        F.count("l_extendedprice").alias("n_values")
    )
    d = direct.select(
        "l_returnflag", *[F.col(p).alias(f"__d_{p}") for p in pnames]
    )
    eq = F.lit(True)
    for p in pnames:
        eq = eq & (F.col(p) == F.col(f"__d_{p}"))
    return (
        via_disk.join(d, "l_returnflag")
        .join(counts, "l_returnflag")
        .select("l_returnflag", "n_values", eq.alias("roundtrip_equal"))
    )


@register(
    "tdigest_centroids_events",
    doc="Digest internal state as rows (crick TDigest.centroids, "
    "tdigest.pyx:231-244) per event_type; invariants (means ascending, "
    "Σweight = count) asserted in tests.",
)
def tdigest_centroids_events(spark, sf_dir):
    from crick_spark.operators import tdigest_centroids

    ev = load_table(spark, sf_dir, "events")
    return tdigest_centroids(ev, "value", by=["event_type"])


@register(
    "tdigest_centroid_invariants",
    oracle="""
SELECT event_type,
       count(value) AS n_values,
       TRUE AS weight_matches,
       TRUE AS means_in_range,
       TRUE AS means_monotone
FROM events GROUP BY event_type
""",
    doc="Digest structural invariants as a hash-matchable oracle (r2 VERDICT "
    "promotion of the rows-only centroids surface): per event_type the "
    "centroid set must satisfy Σweight = row count exactly (weights are "
    "integer sample counts), all centroid means within [min(value), "
    "max(value)], and means ascending (crick's merge invariant, "
    "tdigest_stubs.c:186-187; non-strict — small digests can carry "
    "adjacent centroids with equal means when the data has ties).  "
    "Emitted as booleans beside the exact count so any violation breaks "
    "the driver hash.",
)
def tdigest_centroid_invariants(spark, sf_dir):
    from pyspark.sql import Window as W

    from crick_spark.operators import tdigest_centroids

    ev = load_table(spark, sf_dir, "events")
    cent = tdigest_centroids(ev, "value", by=["event_type"])
    lag_mean = F.lag("mean").over(
        W.partitionBy("event_type").orderBy("centroid")
    )
    per_type = (
        cent.withColumn("step_ok", (lag_mean.isNull()) | (F.col("mean") >= lag_mean))
        .groupBy("event_type")
        .agg(
            F.sum("weight").alias("w_total"),
            F.min("mean").alias("mean_lo"),
            F.max("mean").alias("mean_hi"),
            F.bool_and("step_ok").alias("means_monotone"),
        )
    )
    exact = ev.groupBy("event_type").agg(
        F.count("value").alias("n_values"),
        F.min("value").alias("v_lo"),
        F.max("value").alias("v_hi"),
    )
    return exact.join(F.broadcast(per_type), "event_type").select(
        "event_type",
        "n_values",
        (F.abs(F.col("w_total") - F.col("n_values")) < F.lit(1e-6)).alias(
            "weight_matches"
        ),
        (
            (F.col("mean_lo") >= F.col("v_lo")) & (F.col("mean_hi") <= F.col("v_hi"))
        ).alias("means_in_range"),
        "means_monotone",
    )


@register(
    "tdigest_quantile_accuracy",
    oracle="SELECT "
    + ", ".join(
        f"TRUE AS ok_{str(q).replace('.', '_')}" for q in [0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
    ),
    doc="t-digest quantile accuracy at the reference's own tolerance "
    "(|cdf(estimate) − q| ≤ 0.012, crick/tests/test_tdigest.py:99-102) as "
    "a hash-matchable oracle: the digest estimates quantiles of "
    "events.value, the exact empirical CDF (midpoint-at-ties convention, "
    "test_tdigest.py:52-56) is evaluated at each estimate JVM-side, and "
    "the per-q pass/fail booleans are what the driver hashes.",
)
def tdigest_quantile_accuracy(spark, sf_dir):
    qs = [0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
    ev = load_table(spark, sf_dir, "events").select("value")
    est = tdigest_quantiles(ev, "value", qs)  # 1 row of p* estimates
    joined = ev.crossJoin(F.broadcast(est))
    checks = []
    for q in qs:
        p = f"p{str(q).replace('.', '_')}"
        cdf = empirical_cdf_at(F.col("value"), F.col(p))
        checks.append(
            (F.abs(cdf - F.lit(q)) <= F.lit(0.012)).alias(f"ok_{str(q).replace('.', '_')}")
        )
    return joined.agg(*checks)


@register(
    "tdigest_decayed_quantiles",
    oracle="""
SELECT event_type,
       TRUE AS quantiles_monotone,
       TRUE AS quantiles_in_range,
       TRUE AS decayed_mass_bounded
FROM events GROUP BY event_type
""",
    doc="Exponentially-decayed quantiles via TDigest.scale "
    "(tdigest.pyx:326-340 'exponential decay of windows'): per-day digests "
    "scaled by 0.5^(age/7d) and merged per event_type — recent data "
    "dominates, old data fades.  Hash-matched invariant oracle (the "
    "boolean-tolerance promotion pattern): p50≤p90≤p99 monotone, every "
    "estimate within the group's [min,max], and 0 < decayed mass ≤ group "
    "count (scale weights are ≤1).  Exact decay weights asserted in "
    "tests/test_sketch_operators.py.",
)
def tdigest_decayed_quantiles_q(spark, sf_dir):
    from crick_spark.operators import tdigest_decayed_quantiles

    ev = load_table(spark, sf_dir, "events")
    dq = tdigest_decayed_quantiles(
        ev, "value", "ts", [0.5, 0.9, 0.99], by=["event_type"], half_life_days=7.0
    )
    bounds = ev.groupBy("event_type").agg(
        F.min("value").alias("__mn__"),
        F.max("value").alias("__mx__"),
        F.count("value").alias("__n__"),
    )
    return dq.join(bounds, "event_type").select(
        "event_type",
        ((F.col("p0_5") <= F.col("p0_9")) & (F.col("p0_9") <= F.col("p0_99"))).alias(
            "quantiles_monotone"
        ),
        ((F.col("p0_5") >= F.col("__mn__")) & (F.col("p0_99") <= F.col("__mx__"))).alias(
            "quantiles_in_range"
        ),
        ((F.col("decayed_n") > 0) & (F.col("decayed_n") <= F.col("__n__"))).alias(
            "decayed_mass_bounded"
        ),
    )


@register(
    "spacesaving_topk_types_by_nation",
    oracle="""
SELECT n.n_name, e.item, e.cnt, CAST(0 AS BIGINT) AS error FROM (
  SELECT c.c_nationkey AS nk, o.o_orderpriority AS item,
         count(*) AS cnt,
         row_number() OVER (PARTITION BY c.c_nationkey
                            ORDER BY count(*) DESC, o.o_orderpriority) AS rk
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY c.c_nationkey, o.o_orderpriority
) e JOIN nation n ON e.nk = n.n_nationkey
WHERE e.rk <= 3
""",
    doc="Grouped Space-Saving top-3 order priorities per nation: |distinct| "
    "(5) ≤ capacity (20) → no evictions, counts exact, error = 0 — "
    "hash-matches the exact window-rank oracle (deterministic tie-break "
    "by item built into the summary's count-then-insertion order).",
)
def spacesaving_topk_types_by_nation(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    joined = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    )
    out = spacesaving_topk(
        joined, "o_orderpriority", k=3, by=["n_name"], capacity=20
    )
    return out.select("n_name", "item", "cnt", "error")


@register(
    "tdigest_weighted_quantiles",
    oracle="SELECT "
    + ", ".join(
        f"TRUE AS ok_{str(q).replace('.', '_')}" for q in [0.25, 0.5, 0.75, 0.99]
    ),
    doc="Weighted t-digest (crick TDigest.add(x, w), tdigest.pyx:265-280): "
    "quantiles of l_extendedprice weighted by l_quantity.  Hash-matched "
    "boolean oracle (the tdigest_quantile_accuracy pattern, weighted): "
    "the WEIGHTED empirical CDF (midpoint-at-ties) evaluated at each "
    "estimate must sit within 0.015 of the target q; weighted-stream "
    "equivalence additionally asserted in kernel tests.",
)
def tdigest_weighted_quantiles(spark, sf_dir):
    qs = [0.25, 0.5, 0.75, 0.99]
    li = load_table(spark, sf_dir, "lineitem")
    est = tdigest_quantiles(li, "l_extendedprice", qs, weight_col="l_quantity")
    joined = li.crossJoin(F.broadcast(est))
    w = F.col("l_quantity").cast("double")
    checks = []
    for q in qs:
        p = f"p{str(q).replace('.', '_')}"
        wcdf = (
            F.sum(F.when(F.col("l_extendedprice") < F.col(p), w).otherwise(0.0))
            + F.sum(
                F.when(F.col("l_extendedprice") == F.col(p), w).otherwise(0.0)
            )
            / 2.0
        ) / F.sum(w)
        checks.append(
            (F.abs(wcdf - F.lit(q)) <= F.lit(0.015)).alias(
                f"ok_{str(q).replace('.', '_')}"
            )
        )
    return joined.agg(*checks)


@register(
    "moments_sketch_by_returnflag",
    oracle="""
WITH s AS (SELECT l_returnflag AS g, l_quantity AS x FROM lineitem
           WHERE l_quantity IS NOT NULL AND NOT isnan(l_quantity)),
     m AS (SELECT g, avg(x) AS mu FROM s GROUP BY g)
SELECT s.g AS l_returnflag,
       count(*) AS cnt,
       round(sum(x), 2) AS sum_x,
       round(min(x), 6) AS min_x,
       round(max(x), 6) AS max_x,
       round(avg(x), 6) AS mean_x,
       round(var_pop(x), 6) AS var_pop_x,
       round(avg(pow(x - mu, 3)) / pow(avg(pow(x - mu, 2)), 1.5), 5) AS skew_x,
       round(avg(pow(x - mu, 4)) / pow(avg(pow(x - mu, 2)), 2) - 3, 5) AS kurt_x
FROM s JOIN m ON s.g = m.g
GROUP BY s.g, m.mu
""",
    doc="Grouped single-pass moments (crick SummaryStats per group) through "
    "moments_agg's one JVM aggregate — exact algorithm, hash-matches the "
    "two-pass oracle after rounding.",
)
def moments_sketch_by_returnflag(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    out = moments_agg(li, "l_quantity", by=["l_returnflag"])
    return out.select(
        "l_returnflag",
        "cnt",
        *rounded(
            {"sum_x": 2, "min_x": 6, "max_x": 6, "mean_x": 6, "var_pop_x": 6,
             "skew_x": 5, "kurt_x": 5}
        ),
    )


@register(
    "cms_freq_event_types",
    oracle="""
SELECT t.item, coalesce(c.cnt, 0) AS est_cnt
FROM (VALUES ('click'), ('view'), ('purchase'), ('signup'),
             ('error'), ('__absent__')) AS t(item)
LEFT JOIN (SELECT event_type AS item, count(*) AS cnt
           FROM events GROUP BY event_type) c USING (item)
""",
    doc="Count-Min point frequencies (family extension; Cormode & "
    "Muthukrishnan 2005): one CMS pass over event_type, queried for the "
    "five known types plus an absent item.  At this key cardinality vs "
    "width 4096 no cell collides, so the estimates are exactly the true "
    "counts and the oracle is the exact GROUP BY — the additive-error "
    "regime (high cardinality) is exercised in tests over user_id.  "
    "err_bound omitted from the result here to keep the oracle exact; "
    "the guarantee is asserted in tests.",
)
def cms_freq_event_types(spark, sf_dir):
    from crick_spark.operators import cms_frequencies

    ev = load_table(spark, sf_dir, "events")
    out = cms_frequencies(
        ev,
        "event_type",
        ["click", "view", "purchase", "signup", "error", "__absent__"],
        width=4096,
        depth=4,
    )
    return out.select("item", "est_cnt")


@register(
    "spacesaving_persist_roundtrip",
    oracle="""
SELECT event_type, item, cnt, CAST(0 AS BIGINT) AS error FROM (
  SELECT event_type, user_id AS item, count(*) AS cnt,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY count(*) DESC, user_id ASC) AS rk
  FROM events GROUP BY event_type, user_id
) WHERE rk <= 5
""",
    doc="Space-Saving persistence (crick pickle surface "
    "space_saving.pyx:229-245): per-event-type summaries → parquet of "
    "binary buffers → read back → Cafaro merge → top-5 with error bounds.  "
    "The incremental heavy-hitters pattern: yesterday's persisted "
    "summaries absorb today's partials without rescanning history.  "
    "Capacity is data-sized (max(1024, |distinct users|)) so the exact "
    "regime holds at any SF → counts exact, error = 0, hash-matches the "
    "window-rank oracle (r2 VERDICT promotion); roundtrip ≡ direct-path "
    "equality additionally asserted in tests.",
)
def spacesaving_persist_roundtrip(spark, sf_dir):

    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    from crick_spark.operators.crick_ops import _spacesaving_build
    from crick_spark.operators.sketch_agg import merge_sketches, partial_sketches
    from crick_spark.sketches import SpaceSaving

    ev = load_table(spark, sf_dir, "events")
    # exact regime at any SF: capacity >= |distinct users| (key-only scan)
    cap = max(1024, ev.select("user_id").distinct().count())
    build = _spacesaving_build("user_id", cap, None)
    partials = partial_sketches(ev, build, ["user_id"], ["event_type"])
    path = run_tmpdir("crick_spsv_") + "/summaries.parquet"
    partials.write.mode("overwrite").parquet(path)
    restored = spark.read.parquet(path)
    schema = StructType(
        [
            StructField("item", LongType()),
            StructField("cnt", LongType()),
            StructField("error", LongType()),
        ]
    )

    def finalize(sk: SpaceSaving) -> pd.DataFrame:
        return pd.DataFrame(sk.topk(5), columns=["item", "cnt", "error"])

    return merge_sketches(restored, ["event_type"], finalize, schema)


@register(
    "moments_persist_roundtrip",
    oracle="""
WITH s AS (SELECT l_returnflag AS g, l_extendedprice AS x FROM lineitem
           WHERE l_extendedprice IS NOT NULL AND NOT isnan(l_extendedprice)),
     m AS (SELECT g, avg(x) AS mu FROM s GROUP BY g)
SELECT s.g AS l_returnflag,
       count(*) AS cnt,
       round(sum(x), 1) AS sum_x,
       round(min(x), 6) AS min_x,
       round(max(x), 6) AS max_x,
       round(avg(x), 5) AS mean_x,
       round(var_pop(x), 1) AS var_pop_x,
       round(var_samp(x), 1) AS var_samp_x,
       round(stddev_pop(x), 4) AS std_pop_x,
       round(stddev_samp(x), 4) AS std_samp_x,
       round(avg(pow(x - mu, 3)) / pow(avg(pow(x - mu, 2)), 1.5), 5) AS skew_x,
       round(avg(pow(x - mu, 4)) / pow(avg(pow(x - mu, 2)), 2) - 3, 5) AS kurt_x
FROM s JOIN m ON s.g = m.g
GROUP BY s.g, m.mu
""",
    doc="SummaryStats persistence (crick pickle surface stats.pyx:74-91): "
    "per-returnflag 9-field moment states → parquet → read back → Pébay "
    "merge → full stats struct.  SummaryStats is an exact algorithm, so "
    "the persisted-and-merged result hash-matches the two-pass SQL oracle "
    "after rounding (r2 VERDICT promotion); blob-sorted merge order keeps "
    "float results run-stable, and roundtrip ≡ direct-path equality is "
    "additionally asserted in tests.",
)
def moments_persist_roundtrip(spark, sf_dir):

    import numpy as np
    import pandas as pd

    from crick_spark.operators.sketch_agg import merge_sketches, partial_sketches
    from crick_spark.sketches import Moments

    li = load_table(spark, sf_dir, "lineitem")

    def build(pdf: pd.DataFrame) -> Moments:
        return Moments.from_values(pdf["l_extendedprice"].to_numpy(np.float64))

    partials = partial_sketches(li, build, ["l_extendedprice"], ["l_returnflag"])
    path = run_tmpdir("crick_moments_") + "/moments.parquet"
    partials.write.mode("overwrite").parquet(path)
    restored = spark.read.parquet(path)
    # Moments.finalize() emits moments_agg's struct, so its (unexecuted)
    # plan supplies the field names and types
    schema = moments_agg(li, "l_extendedprice").schema

    def finalize(sk: Moments) -> pd.DataFrame:
        return pd.DataFrame([sk.finalize()])

    out = merge_sketches(restored, ["l_returnflag"], finalize, schema)
    return out.select("l_returnflag", "cnt", *rounded(_PRICE_DIGITS))


@register(
    "spacesaving_weighted_topk_parts",
    oracle="""
SELECT item, CAST(cnt AS BIGINT) AS cnt, CAST(0 AS BIGINT) AS error FROM (
  SELECT l_partkey AS item,
         sum(CAST(floor(l_quantity) AS BIGINT)) AS cnt,
         row_number() OVER (
           ORDER BY sum(CAST(floor(l_quantity) AS BIGINT)) DESC,
                    l_partkey ASC) AS rk
  FROM lineitem GROUP BY l_partkey
) WHERE rk <= 10
""",
    doc="Weighted heavy hitters — crick's add(item, count) surface "
    "(space_saving.pyx:247-268, count-weighted increments): top-10 parts "
    "by total shipped quantity.  Quantities floor()ed to integer weights "
    "identically on both engines (Spark cast truncates, DuckDB rounds — "
    "floor removes the divergence).  Capacity is sized from the data "
    "(max(4096, distinct parts) — one cheap key-only count-distinct) so "
    "the exact regime (error = 0, deterministic count DESC / item ASC "
    "order) holds at ANY scale factor, not just the gate SF; the "
    "bounded-error regime is tested separately.",
)
def spacesaving_weighted_topk_parts(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", F.floor("l_quantity").cast("long").alias("qty_w")
    )
    # exact-regime guarantee requires capacity >= |distinct items|; size it
    # from the data instead of assuming the SF (column-pruned scan of the
    # key column only — trivially cheap next to the aggregate itself)
    n_parts = li.select("l_partkey").distinct().count()
    return spacesaving_topk(
        li, "l_partkey", 10, capacity=max(4096, n_parts), count_col="qty_w"
    )


@register(
    "tdigest_cdf_accuracy",
    oracle="SELECT "
    + ", ".join(
        f"TRUE AS ok_{str(x).replace('.', '_')}" for x in [5.0, 25.0, 50.0, 100.0, 200.0]
    ),
    doc="t-digest CDF accuracy at the reference's own tolerance "
    "(|cdf_est(x) − cdf_exact(x)| ≤ 0.005, crick/tests/test_tdigest.py:"
    "105-107) as a hash-matchable oracle: the digest's CDF at five fixed "
    "probe points is compared JVM-side against the exact midpoint-at-ties "
    "empirical CDF, and the per-point pass/fail booleans are hashed — "
    "the companion of tdigest_quantile_accuracy on the inverse axis.",
)
def tdigest_cdf_accuracy(spark, sf_dir):
    xs = [5.0, 25.0, 50.0, 100.0, 200.0]
    ev = load_table(spark, sf_dir, "events").select("value")
    est = tdigest_cdf(ev, "value", xs)  # 1 row of cdf_* estimates
    exact = ev.agg(
        *[
            empirical_cdf_at(F.col("value"), x).alias(f"exact_{i}")
            for i, x in enumerate(xs)
        ]
    )
    joined = est.crossJoin(F.broadcast(exact))
    est_cols = est.columns
    return joined.select(
        *[
            (F.abs(F.col(est_cols[i]) - F.col(f"exact_{i}")) <= F.lit(0.005)).alias(
                f"ok_{str(x).replace('.', '_')}"
            )
            for i, x in enumerate(xs)
        ]
    )


@register(
    "incremental_sketch_merge",
    oracle="""
SELECT event_type,
       count(value) AS n_values,
       TRUE AS mass_conserved,
       TRUE AS p50_within_bound,
       TRUE AS p90_within_bound,
       TRUE AS hll_union_consistent
FROM events GROUP BY event_type
""",
    doc="Incremental maintenance for SKETCH rollups — the crick merge "
    "contract (tdigest.pyx:310-324) as the materialized-view refresh "
    "path, extending incremental_rollup_merge from exact aggregates to "
    "sketch state: events are split into a base load and a late delta "
    "(event_id parity); the base's per-event_type t-digest AND HLL "
    "register state are PERSISTED to parquet, read back, and merged "
    "with the delta's partials — no rescan of the base rows.  At 100 TB "
    "this is the only affordable refresh: the delta scan is "
    "O(|delta|) and the state shuffled is KBs per group.  "
    "Hash-matched boolean oracle: (1) merged digest mass equals the "
    "exact group row count (t-digest conserves weight exactly under "
    "merge); (2) merged-digest p50/p90 are within the reference's own "
    "0.012 rank-error bound of the exact empirical CDF (crick/tests/"
    "test_tdigest.py:99-102) — the same bound the full-recompute path "
    "meets, so incremental refresh costs no accuracy; (3) the merged "
    "HLL estimate agrees with the full-recompute estimate within "
    "estimator-mode tolerance — register union is lossless "
    "(merge(sk(A), sk(B)) has sk(A∪B)'s registers), but above sparse "
    "mode Datasketches reports HIP on single-pass sketches vs the "
    "composite estimator post-union, so estimates can differ slightly "
    "at high cardinality; 2% covers both modes (SE at lgK=14: 0.81%).",
)
def incremental_sketch_merge(spark, sf_dir):
    import shutil

    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    from crick_spark.operators import merge_sketches, tdigest_agg

    ev = load_table(spark, sf_dir, "events")
    base = ev.where(F.col("event_id") % 2 == 0)
    delta = ev.where(F.col("event_id") % 2 == 1)

    work = run_tmpdir("crick_incr_sketch_")
    td_path = work + "/tdigest_state.parquet"
    hll_path = work + "/hll_state.parquet"

    # ---- persist yesterday's state (one digest + one HLL per group) ----
    tdigest_agg(base, "value", by=["event_type"]).write.mode("overwrite").parquet(
        td_path
    )
    base.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", F.lit(14)).alias("hsk")
    ).write.mode("overwrite").parquet(hll_path)

    # ---- refresh: stored state ∪ delta partials, merged per group ----
    td_state = spark.read.parquet(td_path)
    td_merged_in = td_state.unionByName(tdigest_agg(delta, "value", by=["event_type"]))
    qs = [0.5, 0.9]
    schema = StructType(
        [StructField("p50", DoubleType()), StructField("p90", DoubleType()),
         StructField("mass", DoubleType())]
    )

    def finalize(sk):
        return pd.DataFrame(
            [{"p50": float(sk.quantile(0.5)), "p90": float(sk.quantile(0.9)),
              "mass": float(sk.size())}]
        )

    refreshed = merge_sketches(td_merged_in, ["event_type"], finalize, schema)

    hll_state = spark.read.parquet(hll_path)
    hll_delta = delta.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", F.lit(14)).alias("hsk")
    )
    hll_refreshed = (
        hll_state.unionByName(hll_delta)
        .groupBy("event_type")
        .agg(F.hll_union_agg("hsk").alias("hsk"))
        .select("event_type", F.hll_sketch_estimate("hsk").alias("est_inc"))
    )
    hll_full = ev.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(14))).alias("est_full")
    )

    # ---- exact per-group facts for the boolean gates ----
    # exact rank of each refreshed estimate: join estimates back to the rows
    # (estimates table is tiny → broadcast) and evaluate the midpoint-at-ties
    # empirical CDF JVM-side, the tdigest_quantile_accuracy pattern grouped.
    est_b = F.broadcast(refreshed)
    joined = ev.join(est_b, "event_type")

    def cdf_at(col):
        return empirical_cdf_at(F.col("value"), F.col(col))

    out = joined.groupBy("event_type").agg(
        F.count("value").alias("n_values"),
        F.first("mass").alias("__mass__"),
        (F.abs(cdf_at("p50") - F.lit(0.5)) <= F.lit(0.012)).alias("p50_within_bound"),
        (F.abs(cdf_at("p90") - F.lit(0.9)) <= F.lit(0.012)).alias("p90_within_bound"),
    )
    out = (
        out.join(F.broadcast(hll_refreshed), "event_type")
        .join(F.broadcast(hll_full), "event_type")
        .select(
            "event_type",
            "n_values",
            (F.abs(F.col("__mass__") - F.col("n_values")) < F.lit(1e-6)).alias(
                "mass_conserved"
            ),
            "p50_within_bound",
            "p90_within_bound",
            (
                F.abs(F.col("est_inc") - F.col("est_full"))
                <= F.greatest(F.lit(2.0), F.lit(0.02) * F.col("est_full"))
            ).alias("hll_union_consistent"),
        )
    )
    # materialize off the temp state files so they can be deleted now
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(work, ignore_errors=True)
    return out


@register(
    "cms_join_size_orders_lineitem",
    oracle="""
SELECT CAST((SELECT count(*) FROM orders o
             JOIN lineitem l ON o.o_orderkey = l.l_orderkey) AS BIGINT)
         AS exact_join_size,
       TRUE AS never_underestimates,
       TRUE AS within_bound
""",
    doc="Join-size estimation from sketch state — the CMS inner product "
    "(Cormode & Muthukrishnan 2005 §4.2) estimates |orders ⋈ lineitem| "
    "from two bounded-state scans WITHOUT running the join: the "
    "optimizer-statistics use case of the sketch family.  Hash-matched "
    "boolean oracle beside the exact join size: the estimate never "
    "underestimates and sits within the (e/w)·N_a·N_b additive ceiling "
    "(width 16384 → ceiling ≈ 0.017%·N_a·N_b; at the fixture's key "
    "multiplicities the estimate is typically exact).",
)
def cms_join_size_orders_lineitem(spark, sf_dir):
    from crick_spark.operators.crick_ops import cms_join_size

    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    est = cms_join_size(o, "o_orderkey", li, "l_orderkey", width=16384)
    exact = o.join(li, o.o_orderkey == li.l_orderkey).agg(
        F.count("*").alias("exact_join_size")
    )
    return exact.crossJoin(F.broadcast(est)).select(
        "exact_join_size",
        (F.col("est_join_size") >= F.col("exact_join_size")).alias(
            "never_underestimates"
        ),
        (
            F.col("est_join_size")
            <= F.col("exact_join_size") + F.col("err_bound")
        ).alias("within_bound"),
    )


def _kmv_bottom(df, col, k):
    """Bottom-k normalized hashes of the DISTINCT values of ``col`` — the
    KMV/theta sketch as a plain DataFrame plan: distinct → hash to (0,1)
    → TakeOrderedAndProject(k) → one row holding the sorted array.
    Mergeable (union = bottom-k of array concat) and intersectable via
    the shared-fraction estimator — the set-operation story HLL cannot
    provide (registers union but do not intersect)."""
    grid = float(2**40)
    u = F.pmod(F.xxhash64(F.col(col).cast("string")), F.lit(2**40)) / F.lit(grid)
    return (
        df.select(col)
        .distinct()
        .select(u.alias("u"))
        .orderBy("u")
        .limit(k)
        .agg(F.array_sort(F.collect_list("u")).alias("kmv"))
    )


_KMV_K = 512


@register(
    "kmv_setops_users",
    oracle="""
WITH a AS (SELECT DISTINCT user_id FROM events
           WHERE event_type = 'click' AND user_id IS NOT NULL),
     b AS (SELECT DISTINCT user_id FROM events
           WHERE event_type = 'purchase' AND user_id IS NOT NULL)
SELECT (SELECT count(*) FROM a) AS exact_a,
       (SELECT count(*) FROM b) AS exact_b,
       (SELECT count(*) FROM (SELECT user_id FROM a UNION SELECT user_id FROM b))
         AS exact_union,
       (SELECT count(*) FROM a WHERE user_id IN (SELECT user_id FROM b))
         AS exact_inter,
       TRUE AS a_within_bound,
       TRUE AS b_within_bound,
       TRUE AS union_within_bound,
       TRUE AS inter_within_bound
""",
    doc="KMV (theta-sketch-style) SET OPERATIONS — the fifth sketch "
    "family member, covering what HLL cannot: estimated distinct "
    "|A|, |B|, |A∪B| AND |A∩B| from two bottom-512 hash sketches, "
    "entirely in JVM array expressions (no UDF).  Estimators: "
    "n̂ = (k−1)/R_k (Beyer et al. 2007); union = bottom-k of the "
    "merged arrays; intersection = shared-fraction ρ of the union "
    "sketch × n̂_union.  Hash-matched boolean oracle beside the exact "
    "counts: point/union estimates within 15% (SE = 1/√(k−2) ≈ 4.4%, "
    "bound ≈ 3.4σ) and intersection within 15% of the UNION size "
    "(ρ's binomial SE scales with the union estimate, not the "
    "intersection).  Scale shape: one distinct + TakeOrdered per set — "
    "sketch size k doubles cross the wire, never the sets.",
)
def kmv_setops_users(spark, sf_dir):
    k = _KMV_K
    # NULL keys excluded on every path: xxhash64(NULL) is the constant
    # seed (42 -> u~4e-11, permanently occupying a bottom-k slot) while
    # the exact counts skip NULLs - both sides must agree
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    a = _kmv_bottom(ev.where(F.col("event_type") == "click"), "user_id", k)
    b = _kmv_bottom(ev.where(F.col("event_type") == "purchase"), "user_id", k)
    pair = a.select(F.col("kmv").alias("ka")).crossJoin(
        b.select(F.col("kmv").alias("kb"))
    )

    def est(arr):
        n = F.size(arr)
        return F.when(
            n < F.lit(k), n.cast("double")
        ).otherwise(F.lit(float(k - 1)) / F.element_at(arr, k))

    merged_full = F.array_sort(F.array_union(F.col("ka"), F.col("kb")))
    merged = F.slice(merged_full, 1, k)
    shared = F.size(
        F.array_intersect(F.array_intersect(merged, F.col("ka")), F.col("kb"))
    )
    kp = F.size(merged)
    est_u = est(merged)
    sk = pair.select(
        est(F.col("ka")).alias("na"),
        est(F.col("kb")).alias("nb"),
        est_u.alias("nu"),
        # try_divide + coalesce: two empty sets give kp = 0 -> the
        # intersection estimate is 0, not a NULL/ANSI abort
        F.coalesce(
            F.try_divide(shared.cast("double"), kp.cast("double")) * est_u,
            F.lit(0.0),
        ).alias("ni"),
    )
    # all four exact counts from ONE scan + one shuffle: per-user
    # membership flags, then conditional counts over the flag table
    flags = (
        ev.where(F.col("event_type").isin("click", "purchase"))
        .groupBy("user_id")
        .agg(
            F.max((F.col("event_type") == "click").cast("int")).alias("in_a"),
            F.max((F.col("event_type") == "purchase").cast("int")).alias(
                "in_b"
            ),
        )
    )
    exact = flags.agg(
        F.sum("in_a").alias("exact_a"),
        F.sum("in_b").alias("exact_b"),
        F.count("*").alias("exact_union"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("exact_inter"),
    )

    def ok(est_col, exact_col, scale_col, frac):
        return (
            F.abs(est_col - F.col(exact_col))
            <= F.greatest(F.lit(5.0), F.lit(frac) * F.col(scale_col))
        )

    return exact.crossJoin(F.broadcast(sk)).select(
        "exact_a",
        "exact_b",
        "exact_union",
        "exact_inter",
        ok(F.col("na"), "exact_a", "exact_a", 0.15).alias("a_within_bound"),
        ok(F.col("nb"), "exact_b", "exact_b", 0.15).alias("b_within_bound"),
        ok(F.col("nu"), "exact_union", "exact_union", 0.15).alias(
            "union_within_bound"
        ),
        ok(F.col("ni"), "exact_inter", "exact_union", 0.15).alias(
            "inter_within_bound"
        ),
    )


@register(
    "spacesaving_decayed_topk",
    oracle="""
SELECT TRUE AS exact_when_capacity_covers,
       TRUE AS topk_within_bounds,
       TRUE AS decay_downweights_old
""",
    doc="Round-6 decayed heavy hitters, hash-matched boolean oracle — "
    "the SpaceSaving analog of tdigest_decayed_quantiles (crick "
    "TDigest.scale, tdigest.pyx:326-340): per-day SpaceSaving partials "
    "scaled by 0.5^(age/7d) at merge, Cafaro-folded, top-k.  Ground "
    "truth is the EXACT decayed rollup computed in-plan (groupBy day, "
    "in-plan max-day window, sum(cnt*0.5^(age/7)) — all JVM "
    "expressions).  Booleans: with capacity covering the item domain "
    "the estimate equals the exact decayed count (error 0); with a "
    "deliberately tight capacity every recovered item still satisfies "
    "exact <= cnt AND cnt <= exact + err_bound (the scaled "
    "overestimate invariant); and total decayed mass is strictly below "
    "the raw row count (decay actually applied).",
)
def spacesaving_decayed_topk_q(spark, sf_dir):
    from pyspark.sql.window import Window

    from crick_spark.operators.crick_ops import spacesaving_decayed_topk

    ev = load_table(spark, sf_dir, "events")
    byday = ev.groupBy(
        F.col("event_type").alias("item"), F.to_date("ts").alias("day")
    ).agg(F.count("*").alias("cnt"))
    w = Window.partitionBy(F.lit(1))
    exact = (
        byday.withColumn("ref", F.max("day").over(w))
        .groupBy("item")
        .agg(
            F.sum(
                F.col("cnt")
                * F.pow(F.lit(0.5), F.datediff("ref", "day") / F.lit(7.0))
            ).alias("exact_decayed")
        )
    )
    wide = spacesaving_decayed_topk(
        ev, "event_type", "ts", k=50, capacity=64, half_life_days=7.0
    )
    tight = spacesaving_decayed_topk(
        ev, "event_type", "ts", k=3, capacity=4, half_life_days=7.0
    )
    tol = 1e-6
    wide_ok = (
        wide.join(exact, "item")
        .agg(
            F.bool_and(
                (F.col("err_bound") < F.lit(tol))
                & (
                    F.abs(F.col("decayed_cnt") - F.col("exact_decayed"))
                    <= F.lit(tol) * (F.col("exact_decayed") + 1.0)
                )
            ).alias("exact_when_capacity_covers")
        )
    )
    tight_ok = (
        tight.join(exact, "item")
        .agg(
            F.bool_and(
                (F.col("exact_decayed") <= F.col("decayed_cnt") + F.lit(tol))
                & (
                    F.col("decayed_cnt")
                    <= F.col("exact_decayed") + F.col("err_bound") + F.lit(tol)
                )
            ).alias("topk_within_bounds")
        )
    )
    decayed_less = (
        wide.agg(F.sum("decayed_cnt").alias("mass"))
        .crossJoin(F.broadcast(ev.agg(F.count("*").alias("n"))))
        .select((F.col("mass") < F.col("n")).alias("decay_downweights_old"))
    )
    return (
        wide_ok.crossJoin(F.broadcast(tight_ok))
        .crossJoin(F.broadcast(decayed_less))
        .select(
            "exact_when_capacity_covers",
            "topk_within_bounds",
            "decay_downweights_old",
        )
    )


# ---------------------------------------------------------------------------
# Bloom filter (5th family): runtime-filtered semi join + FPR guarantee
# ---------------------------------------------------------------------------
@register(
    "bloom_semi_join_urgent_revenue",
    oracle="""
SELECT l_returnflag,
       count(*) AS n_items,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
WHERE l_orderkey IN (
  SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
)
GROUP BY l_returnflag
""",
    doc="Runtime-filtered semi join through the Bloom family "
    "(sketches/bloom.py): dim keys -> per-partition partial filters -> "
    "bitwise-OR merge (exact) -> vectorized fact-scan prefilter -> exact "
    "left-semi rebuild.  No false negatives, so the sketch changes the "
    "intermediate volume (|matches| + fpp*N rows instead of N), never "
    "the answer -> FULLY value-oracled against WHERE key IN (...).  "
    "The 100 TB join-pruning primitive, statistics-independent.",
)
def bloom_semi_join_urgent_revenue(spark, sf_dir):
    from crick_spark.operators.crick_ops import bloom_semi_join

    lineitem = load_table(spark, sf_dir, "lineitem")
    urgent = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    kept = bloom_semi_join(
        lineitem, "l_orderkey", urgent, "o_orderkey", n_bits=1 << 16, n_hashes=5
    )
    return kept.groupBy("l_returnflag").agg(
        F.count("*").alias("n_items"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
    )


@register(
    "bloom_fpr_guarantee",
    oracle="""
SELECT TRUE AS no_false_negatives,
       TRUE AS fpr_ok,
       (SELECT count(*) FROM lineitem
        WHERE l_orderkey IN (
          SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
        )) AS n_true_match
""",
    doc="Bloom one-sided-error guarantee, hash-matched boolean oracle: "
    "every true member row is flagged (zero false negatives, the property "
    "bloom_semi_join's exact rebuild relies on), and the measured "
    "false-positive rate over non-member fact keys stays within 2.5x the "
    "realised-fill estimate fill^k (+1% absolute floor, so the bound is "
    "SF-independent).  n_true_match pins the exact member-row count.",
)
def bloom_fpr_guarantee(spark, sf_dir):
    from crick_spark.operators.crick_ops import (
        bloom_build_bytes,
        bloom_probe_column,
    )
    from crick_spark.sketches import codec

    lineitem = load_table(spark, sf_dir, "lineitem")
    urgent = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    blob = bloom_build_bytes(urgent, "o_orderkey", n_bits=1 << 16, n_hashes=5)
    fpp_est = codec.loads(blob).fpp()
    bound = max(2.5 * fpp_est, 0.01)

    keys = urgent.select(F.col("o_orderkey").alias("__dim_key__")).distinct()
    flagged = lineitem.select(
        "l_orderkey",
        bloom_probe_column(blob, lineitem, "l_orderkey").alias("bloom_hit"),
    ).join(keys, F.col("l_orderkey") == F.col("__dim_key__"), "left")
    agg = flagged.agg(
        F.sum(
            F.when(F.col("__dim_key__").isNotNull() & ~F.col("bloom_hit"), 1)
            .otherwise(0)
        ).alias("false_negs"),
        F.sum(
            F.when(F.col("__dim_key__").isNull() & F.col("bloom_hit"), 1)
            .otherwise(0)
        ).alias("false_pos"),
        F.sum(F.when(F.col("__dim_key__").isNull(), 1).otherwise(0)).alias(
            "n_non_members"
        ),
        F.sum(F.when(F.col("__dim_key__").isNotNull(), 1).otherwise(0)).alias(
            "n_members"
        ),
    )
    return agg.select(
        (F.col("false_negs") == 0).alias("no_false_negatives"),
        (
            F.col("false_pos")
            <= F.greatest(
                F.round(F.lit(bound) * F.col("n_non_members")), F.lit(0)
            )
        ).alias("fpr_ok"),
        F.col("n_members").cast("long").alias("n_true_match"),
    )


@register(
    "tdigest_rollup_hierarchy_events",
    oracle="""
SELECT 'day' AS level, strftime(date_trunc('day', ts), '%Y-%m-%d') AS period,
       count(*) AS n, TRUE AS ok_p50, TRUE AS ok_p95
FROM events GROUP BY period
UNION ALL
SELECT 'week', strftime(date_trunc('week', ts), '%Y-%m-%d'), count(*), TRUE, TRUE
FROM events GROUP BY 2
UNION ALL
SELECT 'month', strftime(date_trunc('month', ts), '%Y-%m-%d'), count(*), TRUE, TRUE
FROM events GROUP BY 2
""",
    doc="Hierarchical quantile rollup by sketch merge (the materialized-"
    "rollup pattern crick's TDigest.merge exists for): ONE scan builds "
    "per-day digests; week and month levels merge the DAY sketches, "
    "never rescanning rows.  Hash-matched: per (level, period) the "
    "digest mass n equals the exact row count (unit weights merge "
    "losslessly - the consistency proof), and p50/p95 land within the "
    "reference's 0.012 q-space tolerance via the shared empirical-CDF "
    "check.  At 100 TB each coarser level costs a KB-sized sketch "
    "shuffle instead of a re-aggregation.",
)
def tdigest_rollup_hierarchy_events(spark, sf_dir):
    from crick_spark.operators.crick_ops import tdigest_rollup_levels

    ev = load_table(spark, sf_dir, "events").select("ts", "value")
    roll = tdigest_rollup_levels(
        ev, "value", "ts", levels=("day", "week", "month"), qs=(0.5, 0.95)
    )
    # re-derive each row's period from the raw events at ITS level, join,
    # and evaluate the exact empirical CDF of the digest's estimates
    ev_lv = ev.select(
        "value",
        F.to_date("ts").alias("__d__"),
        F.date_trunc("week", F.to_date("ts")).cast("date").alias("__w__"),
        F.date_trunc("month", F.to_date("ts")).cast("date").alias("__m__"),
    )
    period_at_level = (
        F.when(F.col("level") == "day", F.col("__d__"))
        .when(F.col("level") == "week", F.col("__w__"))
        .otherwise(F.col("__m__"))
    )
    joined = ev_lv.join(
        F.broadcast(roll), F.col("period") == period_at_level, "inner"
    )
    # n/p0_5/p0_95 are constants within a (level, period) group — make
    # them grouping keys so the CDF aggregate can reference them without
    # nesting first() inside avg()
    # tolerance = digest bound + empirical-CDF discreteness: a group of
    # n rows has CDF steps of 1/n, so for small periods (sf0.001 days are
    # ~70 rows) the 0.012 q-space bound is unmeasurable without the +1/n
    # term — which vanishes at scale
    agg = joined.groupBy("level", "period", "n", "p0_5", "p0_95").agg(
        empirical_cdf_at(F.col("value"), F.col("p0_5")).alias("cdf50"),
        empirical_cdf_at(F.col("value"), F.col("p0_95")).alias("cdf95"),
        F.count("value").alias("n_rows"),
    )
    tol = F.lit(0.012) + F.lit(1.0) / F.col("n_rows")
    return agg.select(
        "level",
        F.date_format("period", "yyyy-MM-dd").alias("period"),
        F.col("n").cast("long").alias("n"),
        (F.abs(F.col("cdf50") - F.lit(0.5)) <= tol).alias("ok_p50"),
        (F.abs(F.col("cdf95") - F.lit(0.95)) <= tol).alias("ok_p95"),
    )
