"""Spark integration tests for the two-phase sketch operators.

Mirrors the reference's merge-path tests (SURVEY §5): partition-count
invariance (1 vs 32 partitions exercises partial/final merge), accuracy vs
the exact built-ins at reference tolerances, exact top-k recovery, and
sketch persistence round-trips (crick pickle surface)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from crick_spark.operators import (
    merge_sketches,
    moments_agg,
    spacesaving_topk,
    tdigest_agg,
    tdigest_cdf,
    tdigest_histogram,
    tdigest_quantiles,
)
from crick_spark.sources.tables import load_table
from tests.conftest import SF_SMALL

QS = [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]


@pytest.fixture(scope="module")
def lineitem(spark):
    df = load_table(spark, SF_SMALL, "lineitem").cache()
    yield df
    # later modules plan over the same scan; a cached relation would
    # replace their file scans with in-memory scans
    df.unpersist()


@pytest.fixture(scope="module")
def events(spark):
    df = load_table(spark, SF_SMALL, "events").cache()
    yield df
    df.unpersist()


def test_tdigest_quantiles_accuracy_vs_exact(spark, lineitem):
    est = tdigest_quantiles(lineitem, "l_extendedprice", QS).collect()[0]
    exact = lineitem.agg(
        *[F.percentile("l_extendedprice", F.lit(q)).alias(f"q{i}") for i, q in enumerate(QS)]
    ).collect()[0]
    values = np.sort(
        np.array(lineitem.select("l_extendedprice").toPandas()["l_extendedprice"])
    )
    n = len(values)
    for i, q in enumerate(QS):
        est_v = est[f"p{str(q).replace('.', '_')}"]
        # error measured in q-space like the reference (test_tdigest.py:87-102)
        rank = np.searchsorted(values, est_v) / n
        assert abs(rank - q) <= 0.012, (q, est_v, exact[f"q{i}"])


def test_tdigest_partition_invariance(spark, lineitem):
    """repartition(1) vs repartition(32) → same accuracy (the merge path)."""
    one = tdigest_quantiles(lineitem.repartition(1), "l_quantity", [0.5]).collect()[0]
    many = tdigest_quantiles(lineitem.repartition(32), "l_quantity", [0.5]).collect()[0]
    exact = lineitem.agg(F.percentile("l_quantity", F.lit(0.5))).collect()[0][0]
    assert abs(one["p0_5"] - exact) <= 1.0
    assert abs(many["p0_5"] - exact) <= 1.0


def test_tdigest_grouped(spark, lineitem):
    out = tdigest_quantiles(lineitem, "l_extendedprice", [0.5], by=["l_returnflag"])
    rows = {r["l_returnflag"]: r["p0_5"] for r in out.collect()}
    exact = {
        r["l_returnflag"]: r["m"]
        for r in lineitem.groupBy("l_returnflag")
        .agg(F.percentile("l_extendedprice", F.lit(0.5)).alias("m"))
        .collect()
    }
    assert set(rows) == set(exact)
    for flag, v in rows.items():
        assert abs(v - exact[flag]) / exact[flag] <= 0.05, flag


def test_tdigest_cdf_accuracy(spark, events):
    pts = [5.0, 25.0, 50.0, 100.0, 200.0]
    est = tdigest_cdf(events, "value", pts).collect()[0]
    n = events.count()
    for x in pts:
        lt = events.where(F.col("value") < x).count()
        eq = events.where(F.col("value") == x).count()
        true = (lt + 0.5 * eq) / n
        name = f"cdf_{str(x).replace('.', '_')}"
        assert abs(est[name] - true) <= 0.005, (x, est[name], true)


def test_tdigest_histogram_close_to_exact(spark, lineitem):
    out = tdigest_histogram(lineitem, "l_quantity", 0.0, 50.0, 10).collect()
    n = lineitem.count()
    exact = {
        r["bin"]: r["cnt"]
        for r in __import__("crick_spark.functions.quantiles", fromlist=["histogram"])
        .histogram(lineitem, "l_quantity", 0.0, 50.0, 10)
        .collect()
    }
    assert len(out) == 10
    # discrete integer data puts mass exactly on bin edges; the CDF midpoint
    # convention splits it across adjacent bins (same behavior as crick's
    # cdf-differencing histogram) → allow half an edge-value's mass (~2%)
    for r in out:
        assert abs(r["cnt_est"] - exact[r["bin"]]) / n <= 0.02, r


def test_tdigest_sketch_persistence_roundtrip(spark, lineitem, tmp_path):
    """Digest column → parquet → read → merge+finalize (crick pickle
    surface, tdigest.pyx:246-263)."""
    from pyspark.sql.types import DoubleType, StructField, StructType
    import pandas as pd

    path = str(tmp_path / "digests.parquet")
    tdigest_agg(lineitem, "l_extendedprice", by=["l_returnflag"]).write.parquet(path)
    persisted = spark.read.parquet(path)
    schema = StructType([StructField("p0_5", DoubleType())])
    out = merge_sketches(
        persisted,
        ["l_returnflag"],
        lambda sk: pd.DataFrame([{"p0_5": float(sk.quantile(0.5))}]),
        schema,
    )
    rows = {r["l_returnflag"]: r["p0_5"] for r in out.collect()}
    assert len(rows) == 3
    exact = {
        r["l_returnflag"]: r["m"]
        for r in lineitem.groupBy("l_returnflag")
        .agg(F.percentile("l_extendedprice", F.lit(0.5)).alias("m"))
        .collect()
    }
    for flag in rows:
        assert abs(rows[flag] - exact[flag]) / exact[flag] <= 0.05


def test_spacesaving_exact_recovery_spark(spark, events):
    """Low-cardinality column: top-k counts exact (test_space_saving.py:34-41)."""
    out = spacesaving_topk(events, "event_type", 5, capacity=20).collect()
    exact = {
        r["event_type"]: r["cnt"]
        for r in events.groupBy("event_type").agg(F.count("*").alias("cnt")).collect()
    }
    assert len(out) == min(5, len(exact))
    for r in out:
        assert r["cnt"] == exact[r["item"]], r
        assert r["error"] == 0


def test_spacesaving_bounds_high_cardinality(spark, events):
    """user_id (150 distinct) through capacity-50 summaries: bounds hold."""
    out = spacesaving_topk(
        events.repartition(16), "user_id", 10, capacity=50
    ).collect()
    exact = {
        r["user_id"]: r["cnt"]
        for r in events.groupBy("user_id").agg(F.count("*").alias("cnt")).collect()
    }
    for r in out:
        actual = exact[r["item"]]
        assert r["cnt"] - r["error"] <= actual <= r["cnt"], r


def test_spacesaving_grouped(spark, events):
    out = spacesaving_topk(events, "event_type", 2, by=["user_id"], capacity=10)
    pdf = out.toPandas()
    assert set(pdf.columns) == {"user_id", "item", "cnt", "error"}
    assert (pdf.groupby("user_id").size() <= 2).all()


def test_moments_agg_matches_builtin(spark, lineitem):
    sk = moments_agg(lineitem, "l_extendedprice").collect()[0]
    bi = lineitem.agg(
        F.count("l_extendedprice").alias("cnt"),
        F.sum("l_extendedprice").alias("s"),
        F.avg("l_extendedprice").alias("mean"),
        F.var_pop("l_extendedprice").alias("vp"),
        F.var_samp("l_extendedprice").alias("vs"),
        F.skewness("l_extendedprice").alias("sk"),
        F.kurtosis("l_extendedprice").alias("ku"),
    ).collect()[0]
    assert sk["cnt"] == bi["cnt"]
    assert math.isclose(sk["sum_x"], bi["s"], rel_tol=1e-10)
    assert math.isclose(sk["mean_x"], bi["mean"], rel_tol=1e-12)
    assert math.isclose(sk["var_pop_x"], bi["vp"], rel_tol=1e-9)
    assert math.isclose(sk["var_samp_x"], bi["vs"], rel_tol=1e-9)
    assert math.isclose(sk["skew_x"], bi["sk"], rel_tol=1e-6)
    assert math.isclose(sk["kurt_x"], bi["ku"], rel_tol=1e-6)


def test_moments_partition_invariance(spark, lineitem):
    a = moments_agg(lineitem.repartition(1), "l_quantity").collect()[0]
    b = moments_agg(lineitem.repartition(32), "l_quantity").collect()[0]
    for f in ("cnt", "sum_x", "mean_x", "var_pop_x", "skew_x", "kurt_x"):
        assert math.isclose(a[f], b[f], rel_tol=1e-8), f


def test_moments_grouped(spark, lineitem):
    out = moments_agg(lineitem, "l_quantity", by=["l_returnflag", "l_linestatus"])
    assert out.count() == lineitem.select("l_returnflag", "l_linestatus").distinct().count()


def _kernel_stats(xs) -> dict:
    """The Moments kernel's SummaryStats with NaN read as NULL."""
    from crick_spark.sketches import Moments

    out = Moments.from_values(np.asarray(xs, dtype=np.float64)).finalize()
    return {k: None if isinstance(v, float) and math.isnan(v) else v for k, v in out.items()}


def _assert_stats_equal(got: dict, want: dict, ctx) -> None:
    for k, w in want.items():
        g = got[k]
        if w is None or g is None:
            assert g is w, (ctx, k, g, w)
        else:
            assert math.isclose(g, w, rel_tol=1e-9, abs_tol=1e-12), (ctx, k, g, w)


def test_moments_agg_matches_kernel_on_edge_groups(spark):
    """moments_agg ≡ the Moments kernel (NaN read as NULL) on groups that
    are all NaN, single-row, constant, NaN-mixed, ordinary and int-typed;
    plus the two places the JVM aggregate differs from the kernel."""
    nan, inf = float("nan"), float("inf")
    groups = {
        "all_nan": [nan, nan, nan],
        "single": [5.0],
        "constant": [3.5] * 6,
        "nan_mixed": [1.0, nan, 2.0, 4.0, nan, 8.0],
        "ordinary": [1.0, 2.0, 3.0, 10.0, -4.0, 0.5, 7.25],
    }
    df = spark.createDataFrame(
        [(g, x) for g, xs in groups.items() for x in xs], "g string, x double"
    )
    got = {r["g"]: r.asDict() for r in moments_agg(df, "x", by=["g"]).collect()}
    assert set(got) == set(groups)
    for g, xs in groups.items():
        _assert_stats_equal(got[g], _kernel_stats(xs), g)

    ints = [3, 1, 4, 1, 5, 9, 2, 6]
    idf = spark.createDataFrame([(x,) for x in ints], "x bigint")
    out = moments_agg(idf, "x")
    assert {f.name: f.dataType.simpleString() for f in out.schema.fields} == {
        "cnt": "bigint", **{k: "double" for k in _kernel_stats([1.0]) if k != "cnt"}
    }
    _assert_stats_equal(out.collect()[0].asDict(), _kernel_stats(ints), "int")

    # a group holding +inf or -inf: the kernel's finalize yields NULL for
    # var/std/skew/kurt, the JVM aggregate NaN; count/sum/min/max/mean agree
    spread = ("var_pop_x", "var_samp_x", "std_pop_x", "std_samp_x", "skew_x", "kurt_x")
    for xs in ([1.0, inf, 2.0], [-inf, 3.0, 4.0, 3.0]):
        row = moments_agg(
            spark.createDataFrame([(x,) for x in xs], "x double"), "x"
        ).collect()[0].asDict()
        want = _kernel_stats(xs)
        for k in spread:
            assert want[k] is None and math.isnan(row[k]), (xs, k)
        _assert_stats_equal(
            {k: v for k, v in row.items() if k not in spread},
            {k: v for k, v in want.items() if k not in spread},
            xs,
        )

    # keyless empty input: one row with cnt = 0 (the kernel path gave none)
    empty = moments_agg(spark.createDataFrame([], "x double"), "x").collect()
    assert len(empty) == 1 and empty[0]["cnt"] == 0
    assert all(v is None for k, v in empty[0].asDict().items() if k != "cnt")


def test_moments_agg_plan_has_no_python_node(spark, lineitem):
    """One JVM hash aggregate: no Arrow/pandas crossing in the plan."""
    for by in (None, ["l_returnflag"]):
        df = moments_agg(lineitem, "l_quantity", by=by)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "HashAggregate" in plan, plan
        for node in ("MapInPandas", "FlatMapGroupsInPandas", "ArrowEvalPython"):
            assert node not in plan, plan


def test_tdigest_persist_roundtrip_equals_direct(spark, tmp_path):
    """Persisted-then-merged digests ≡ directly aggregated digests."""
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    from crick_spark.sources.tables import load_table

    li = load_table(spark, SF_SMALL, "lineitem")
    direct = {
        r.l_returnflag: (r.p0_25, r.p0_5, r.p0_99)
        for r in tdigest_quantiles(
            li, "l_extendedprice", [0.25, 0.5, 0.99], by=["l_returnflag"]
        ).collect()
    }
    partials = tdigest_agg(li, "l_extendedprice", by=["l_returnflag"])
    path = str(tmp_path / "digests.parquet")
    partials.write.parquet(path)
    schema = StructType(
        [StructField(p, DoubleType()) for p in ("p0_25", "p0_5", "p0_99")]
    )

    def finalize(sk):
        return pd.DataFrame(
            [{p: float(sk.quantile(q)) for p, q in
              zip(("p0_25", "p0_5", "p0_99"), (0.25, 0.5, 0.99))}]
        )

    restored = merge_sketches(
        spark.read.parquet(path), ["l_returnflag"], finalize, schema
    )
    got = {r.l_returnflag: (r.p0_25, r.p0_5, r.p0_99) for r in restored.collect()}
    assert set(got) == set(direct)
    for k in got:
        for g, d in zip(got[k], direct[k]):
            assert g == pytest.approx(d, rel=1e-9), k


def test_tdigest_centroids_invariants(spark):
    """Means ascending, weights positive, Σweight = group count (crick
    TDigest.centroids contract)."""
    from crick_spark.operators import tdigest_centroids
    from crick_spark.sources.tables import load_table

    ev = load_table(spark, SF_SMALL, "events")
    pdf = tdigest_centroids(ev, "value", by=["event_type"]).toPandas()
    counts = {
        r["event_type"]: r["cnt"]
        for _, r in ev.groupBy("event_type").count().withColumnRenamed("count", "cnt").toPandas().iterrows()
    }
    for key, g in pdf.groupby("event_type"):
        g = g.sort_values("centroid")
        assert (np.diff(g["mean"].to_numpy()) >= 0).all(), key
        assert (g["weight"] > 0).all(), key
        assert g["weight"].sum() == pytest.approx(counts[key]), key


def test_tdigest_decayed_weights(spark):
    """decayed_n = Σ_day 0.5^(age/half_life) · n_day, and quantiles of a
    uniform-age stream match the undecayed digest."""
    from crick_spark.operators import tdigest_decayed_quantiles
    from crick_spark.sources.tables import load_table

    ev = load_table(spark, SF_SMALL, "events")
    out = tdigest_decayed_quantiles(
        ev, "value", "ts", [0.5], by=["event_type"], half_life_days=7.0
    ).toPandas()
    days = ev.select(
        "event_type", F.to_date("ts").alias("d")
    ).groupBy("event_type", "d").count().toPandas()
    ref = days["d"].max()
    for _, r in out.iterrows():
        g = days[days["event_type"] == r["event_type"]]
        expect = sum(
            0.5 ** ((ref - d).days / 7.0) * c for d, c in zip(g["d"], g["count"])
        )
        assert r["decayed_n"] == pytest.approx(expect, rel=1e-9), r["event_type"]


def test_decayed_operators_keyless_equals_single_group(spark):
    """With one group, the keyless decayed forms (one global merge) give
    the same answer as the grouped forms: same decayed_n and quantiles
    for t-digest, same decayed counts and bounds for Space-Saving."""
    from crick_spark.operators.crick_ops import (
        spacesaving_decayed_topk,
        tdigest_decayed_quantiles,
    )

    ev = load_table(spark, SF_SMALL, "events")
    one = ev.where(F.col("event_type") == ev.first()["event_type"])
    qs = [0.1, 0.5, 0.9]

    def rows(df, drop):
        return sorted(tuple(r[c] for c in df.columns if c != drop) for r in df.collect())

    grouped = tdigest_decayed_quantiles(one, "value", "ts", qs, by=["event_type"])
    keyless = tdigest_decayed_quantiles(one, "value", "ts", qs)
    g, k = rows(grouped, "event_type"), rows(keyless, None)
    assert len(g) == 1 and g == k
    days = one.groupBy(F.to_date("ts").alias("d")).count().toPandas()
    ref = days["d"].max()
    expect = sum(0.5 ** ((ref - d).days / 7.0) * c for d, c in zip(days["d"], days["count"]))
    assert k[0][0] == pytest.approx(expect, rel=1e-9)

    grouped = spacesaving_decayed_topk(one, "user_id", "ts", 5, by=["event_type"])
    keyless = spacesaving_decayed_topk(one, "user_id", "ts", 5)
    g, k = rows(grouped, "event_type"), rows(keyless, None)
    assert len(g) == 5 and g == k


def test_hll_estimates_within_tolerance(spark):
    """Datasketches HLL at lgK=14 is well under the query's 3% bound at
    the fixture cardinalities; the query emits the bound check as a
    hash-matchable boolean and the exact counts alongside — every
    within_bound must be TRUE and the exact total must match batch."""
    from crick_spark.plans import QUERIES
    from crick_spark.sources.tables import load_table

    out = QUERIES["hll_distinct_users_by_type"].fn(spark, SF_SMALL).toPandas()
    per = out[out["event_type"] != "__all__"]
    assert len(per) > 0
    assert out["within_bound"].all()
    ev = load_table(spark, SF_SMALL, "events")
    exact_total = ev.select("user_id").distinct().count()
    total = out[out["event_type"] == "__all__"]["exact_distinct"].iloc[0]
    assert total == exact_total


def test_bottomk_kmv_distinct_estimate(spark):
    """The k-th smallest normalized hash of a bottom-k sample estimates
    distinct count as (k-1)/h_k (KMV); with k=20 the relative error bound
    is loose (~1/sqrt(k-1) ≈ 23%) — assert within 40% per source, and
    that the map-side rank cut (WindowGroupLimit) is in the plan."""
    from crick_spark.plans import QUERIES
    from crick_spark.sources.tables import load_table

    df = QUERIES["bottomk_sample_per_source"].fn(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    out = df.toPandas()
    docs = load_table(spark, SF_SMALL, "documents")
    exact = {
        r["source"]: r["n"]
        for r in docs.groupBy("source")
        .agg(F.count_distinct("doc_id").alias("n"))
        .collect()
    }
    for src, g in out.groupby("source"):
        k = len(g)
        assert k == 20
        h_k = int(g["hx"].max()[:8], 16) / 16**8
        est = (k - 1) / h_k
        assert abs(est - exact[src]) / exact[src] < 0.40, (src, est, exact[src])


def test_streaming_distinct_users_within_tolerance(spark):
    """Streamed per-day approx_count_distinct: the query emits the checks
    as hash-matchable booleans — stream estimate ≡ batch estimate
    (HLL++ merge is order-independent) and within 20% of exact — plus
    the exact per-day counts; all must hold against batch."""
    from crick_spark.plans import QUERIES
    from crick_spark.sources.tables import load_table

    out = QUERIES["streaming_distinct_users_hll"].fn(spark, SF_SMALL).toPandas()
    ev = load_table(spark, SF_SMALL, "events")
    exact = {
        r["d"]: r["n"]
        for r in ev.groupBy(F.date_trunc("day", "ts").alias("d"))
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert len(out) == len(exact)
    assert out["stream_eq_batch"].all()
    assert out["within_bound"].all()
    for _, r in out.iterrows():
        assert r["exact_users"] == exact[r["day_start"]], r["day_start"]


def test_cms_operator_partition_invariant_and_bounded(spark):
    """CMS merge is exact table addition, so the distributed estimate is
    bit-identical across partitionings, and every estimate obeys
    true <= est <= true + err_bound on the high-cardinality user_id."""
    from crick_spark.operators import cms_frequencies
    from crick_spark.sources.tables import load_table

    ev = load_table(spark, SF_SMALL, "events")
    users = [r["user_id"] for r in ev.select("user_id").distinct().limit(25).collect()]
    exact = {
        r["user_id"]: r["cnt"]
        for r in ev.groupBy("user_id").agg(F.count("*").alias("cnt")).collect()
    }
    outs = []
    for parts in (1, 13):
        out = (
            cms_frequencies(ev.repartition(parts), "user_id", users,
                            width=1024, depth=4)
            .toPandas()
            .sort_values("item", ignore_index=True)
        )
        outs.append(out)
    assert outs[0].equals(outs[1])
    for _, r in outs[0].iterrows():
        t = exact[r["item"]]
        assert t <= r["est_cnt"] <= t + r["err_bound"], (r["item"], t, dict(r))


def test_hll_setops_within_tolerance(spark):
    """Inclusion-exclusion over HLL sketches: the query emits the bound
    checks as hash-matchable booleans (|A|, |B|, |A∪B| within 3%,
    |A∩B| within 5% of the union) and the exact cohort counts alongside;
    every ok_* must be TRUE and the exacts must match batch sets."""
    from pyspark.sql import functions as F

    from crick_spark.plans import QUERIES
    from crick_spark.sources.tables import load_table

    out = QUERIES["hll_setops_users"].fn(spark, SF_SMALL).toPandas().iloc[0]
    ev = load_table(spark, SF_SMALL, "events")
    a = {
        r[0]
        for r in ev.where(F.col("event_type") == "click")
        .select("user_id")
        .distinct()
        .collect()
    }
    b = {
        r[0]
        for r in ev.where(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
        .collect()
    }
    assert out["exact_click"] == len(a)
    assert out["exact_purchase"] == len(b)
    assert out["exact_union"] == len(a | b)
    for k in ("ok_click", "ok_purchase", "ok_union", "ok_intersection"):
        assert out[k], (k, dict(out))


def test_spacesaving_persist_roundtrip_equals_direct(spark):
    """Persist → restore → merge must finalize to the same top-5 as the
    direct spacesaving_topk path (capacity 1000 >> cardinality: exact
    regime, so counts are exact and the comparison is deterministic)."""
    from crick_spark.operators.crick_ops import spacesaving_topk
    from crick_spark.plans import QUERIES
    from crick_spark.sources.tables import load_table

    got = (
        QUERIES["spacesaving_persist_roundtrip"]
        .fn(spark, SF_SMALL)
        .toPandas()
        .sort_values(["event_type", "cnt", "item"], ignore_index=True)
    )
    ev = load_table(spark, SF_SMALL, "events")
    want = (
        spacesaving_topk(ev, "user_id", 5, by=["event_type"], capacity=1000)
        .toPandas()
        .sort_values(["event_type", "cnt", "item"], ignore_index=True)
    )
    assert got["cnt"].tolist() == want["cnt"].tolist()
    assert got["error"].tolist() == want["error"].tolist()
    assert (got["error"] == 0).all()  # exact regime


def test_moments_persist_roundtrip_equals_direct(spark):
    """Persist → restore → Pébay merge ≡ the same Moments partials merged
    in memory (bit-equal: both paths fold blobs in sorted byte order).
    The registered query rounds for its SQL oracle, so the direct path
    gets the same in-query rounding before comparison."""
    import pandas as pd

    from crick_spark.operators import partial_sketches
    from crick_spark.plans import QUERIES
    from crick_spark.plans.registry import rounded
    from crick_spark.plans.sketch_queries import _PRICE_DIGITS
    from crick_spark.sketches import Moments
    from crick_spark.sources.tables import load_table

    got = (
        QUERIES["moments_persist_roundtrip"]
        .fn(spark, SF_SMALL)
        .toPandas()
        .sort_values("l_returnflag", ignore_index=True)
    )
    li = load_table(spark, SF_SMALL, "lineitem")
    partials = partial_sketches(
        li,
        lambda pdf: Moments.from_values(pdf["l_extendedprice"].to_numpy(np.float64)),
        ["l_extendedprice"],
        ["l_returnflag"],
    )
    direct = merge_sketches(
        partials,
        ["l_returnflag"],
        lambda sk: pd.DataFrame([sk.finalize()]),
        moments_agg(li, "l_extendedprice").schema,
    )
    want = (
        direct.select("l_returnflag", "cnt", *rounded(_PRICE_DIGITS))
        .toPandas()
        .sort_values("l_returnflag", ignore_index=True)
    )
    for c in want.columns:
        assert got[c].tolist() == want[c].tolist(), c


def test_kmv_estimators_large_disjoint_and_overlapping_sets(spark):
    """KMV set-op estimators in the |S| >> k regime: 20k-element sets with
    50% overlap — point/union within 3.4 sigma (15%), intersection within
    15% of union, and the shared-fraction Jaccard is sane."""
    from crick_spark.plans.sketch_queries import _KMV_K, _kmv_bottom
    from pyspark.sql import functions as F

    n = 20_000
    A = spark.range(0, n).select(F.col("id").alias("user_id"))          # 0..20k
    B = spark.range(n // 2, n + n // 2).select(F.col("id").alias("user_id"))
    k = _KMV_K
    ka = _kmv_bottom(A, "user_id", k).collect()[0]["kmv"]
    kb = _kmv_bottom(B, "user_id", k).collect()[0]["kmv"]

    def est(arr):
        return len(arr) if len(arr) < k else (k - 1) / arr[k - 1]

    assert abs(est(ka) - n) <= 0.15 * n
    assert abs(est(kb) - n) <= 0.15 * n
    merged = sorted(set(ka) | set(kb))[:k]
    nu = est(merged)
    assert abs(nu - 1.5 * n) <= 0.15 * 1.5 * n
    shared = sum(1 for u in merged if u in set(ka) and u in set(kb))
    ni = shared / len(merged) * nu
    assert abs(ni - 0.5 * n) <= 0.15 * 1.5 * n

    # DISJOINT sets: the shared-fraction path must report ~0, not noise
    C = spark.range(10 * n, 11 * n).select(F.col("id").alias("user_id"))
    kc = _kmv_bottom(C, "user_id", k).collect()[0]["kmv"]
    merged_ac = sorted(set(ka) | set(kc))[:k]
    shared_ac = sum(1 for u in merged_ac if u in set(ka) and u in set(kc))
    ni_ac = (shared_ac / len(merged_ac)) * est(merged_ac)
    assert ni_ac <= 0.02 * est(merged_ac)  # hash collisions only


def test_cms_join_size_empty_sides(spark):
    """An empty side (zero rows or all-NULL key) must yield ONE row with
    est_join_size=0 — not an empty frame that silently annihilates a
    caller's crossJoin (round-6 advice fix: the empty side's merged
    sketch frame had zero rows before the empty-sketch union)."""
    from crick_spark.operators.crick_ops import cms_join_size

    a = spark.createDataFrame([(1,), (2,), (2,)], "k int")
    b_empty = spark.createDataFrame([], "k int")
    b_null = spark.createDataFrame([(None,)], "k int")

    r = cms_join_size(a, "k", b_empty, "k").collect()
    assert len(r) == 1 and r[0]["est_join_size"] == 0 and r[0]["n_b"] == 0
    r = cms_join_size(b_null, "k", a, "k").collect()
    assert len(r) == 1 and r[0]["est_join_size"] == 0 and r[0]["n_a"] == 0
    # non-empty baseline unchanged: |{2,2} x {2}| = 2, never underestimates
    r = cms_join_size(a, "k", spark.createDataFrame([(2,), (3,)], "k int"), "k").collect()[0]
    assert r["est_join_size"] >= 2 and r["n_a"] == 3 and r["n_b"] == 2


def test_empirical_cdf_skips_null_and_nan(spark):
    """NULL/NaN inputs must not inflate the CDF denominator (round-6
    advice fix): on [1,2,3,NULL,NaN] the CDF at 2 is 1.5/3 = 0.5, not
    1.5/5 = 0.3."""
    from pyspark.sql import functions as F

    from crick_spark.functions.quantiles import empirical_cdf_at

    df = spark.createDataFrame(
        [(1.0,), (2.0,), (3.0,), (None,), (float("nan"),)], "v double"
    )
    got = df.agg(empirical_cdf_at(F.col("v"), 2.0).alias("c")).collect()[0]["c"]
    assert got == 0.5


def test_spacesaving_scale_kernel():
    """SpaceSaving.scale (round 6): counts and errors scale linearly,
    the overestimate invariant survives, and scaling commutes with the
    Cafaro merge when both sides share the factor."""
    import pytest as _pytest

    from crick_spark.sketches.spacesaving import SpaceSaving

    a = SpaceSaving.from_batch(
        np.array(["x"] * 6 + ["y"] * 3 + ["z"] * 2), capacity=2
    )
    half = a.scale(0.5)
    for item, (c, e) in a.counters.items():
        hc, he = half.counters[item]
        assert hc == c * 0.5 and he == e * 0.5
    b = SpaceSaving.from_batch(np.array(["x"] * 4 + ["w"] * 5), capacity=2)
    lhs = a.scale(0.25).merge(b.scale(0.25)).counters
    rhs = a.merge(b).scale(0.25).counters
    assert lhs == rhs
    with _pytest.raises(ValueError):
        a.scale(0.0)
    with _pytest.raises(ValueError):
        a.scale(1.5)


def test_spacesaving_decayed_topk_partition_invariance(spark):
    """Decayed top-k is partition-invariant when capacity covers the
    per-day item domain (partials are exact), and bound-respecting
    under a tight capacity for every partitioning."""
    import datetime

    from crick_spark.operators.crick_ops import spacesaving_decayed_topk

    base = datetime.datetime(2024, 3, 1)
    rows = []
    i = 0
    for day, spec in enumerate([("a", 30), ("b", 10), ("a", 5), ("c", 20)]):
        item, n = spec
        for _ in range(n):
            rows.append((i, base + datetime.timedelta(days=day), item))
            i += 1
        rows.append((i, base + datetime.timedelta(days=day), "filler"))
        i += 1
    df = spark.createDataFrame(rows, "id long, ts timestamp, item string")

    def run(parts, capacity, k=10):
        out = spacesaving_decayed_topk(
            df.repartition(parts), "item", "ts", k=k,
            capacity=capacity, half_life_days=2.0,
        ).collect()
        return [(r["item"], round(r["decayed_cnt"], 9), round(r["err_bound"], 9)) for r in out]

    assert run(1, 16) == run(13, 16)
    # exact decayed ground truth with half-life 2d, ref day = day 3
    exact = {
        "a": 30 * 0.5 ** (3 / 2) + 5 * 0.5 ** (1 / 2),
        "b": 10 * 0.5 ** (2 / 2),
        "c": 20.0,
        "filler": 0.5 ** 1.5 + 0.5 ** 1 + 0.5 ** 0.5 + 1,
    }
    got = dict((it, (c, e)) for it, c, e in run(1, 16))
    for it, ex in exact.items():
        c, e = got[it]
        assert abs(c - ex) < 1e-6 and e < 1e-9, (it, c, ex)
    # tight capacity: bounds hold under any partitioning
    for parts in (1, 7):
        for it, c, e in run(parts, 2, k=2):
            assert exact[it] <= c + 1e-6 <= exact[it] + e + 2e-6, (it, c, e)


def test_bloom_semi_join_exact_and_pruning(spark):
    """bloom_semi_join ≡ plain left-semi (no false negatives → the exact
    rebuild loses nothing), and the prefilter genuinely prunes: with a
    tight filter the approximate survivor set is a strict subset of the
    fact table yet a superset of the true matches."""
    import pandas as pd

    from crick_spark.operators.crick_ops import bloom_semi_join

    rng = __import__("numpy").random.default_rng(13)
    fact = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": rng.integers(0, 10_000, size=20_000),
                "v": rng.normal(size=20_000),
            }
        )
    ).repartition(7)
    dim = spark.createDataFrame(
        pd.DataFrame({"dk": rng.choice(10_000, size=300, replace=False)})
    )

    exact = bloom_semi_join(fact, "k", dim, "dk", n_bits=1 << 14, n_hashes=5)
    expect = fact.join(dim, fact["k"] == dim["dk"], "left_semi")
    assert (
        sorted(map(tuple, exact.collect()))
        == sorted(map(tuple, expect.collect()))
    )

    approx = bloom_semi_join(
        fact, "k", dim, "dk", n_bits=1 << 14, n_hashes=5, exact=False
    )
    n_fact = fact.count()
    n_true = expect.count()
    n_approx = approx.count()
    assert n_true <= n_approx < n_fact
    # with m/n ≈ 55 bits per key the FPR is tiny — survivors stay close
    # to the true matches (the pruning actually bites)
    assert n_approx <= n_true + 0.05 * (n_fact - n_true)


def test_bloom_semi_join_null_and_empty_dim(spark):
    """NULL fact keys never match; an empty dim yields an empty result
    (the empty filter rejects everything) instead of erroring."""
    import pandas as pd

    from crick_spark.operators.crick_ops import bloom_semi_join

    fact = spark.createDataFrame(
        pd.DataFrame({"k": [1, 2, None, 4], "v": [1.0, 2.0, 3.0, 4.0]})
    )
    dim = spark.createDataFrame(pd.DataFrame({"dk": [2, 4]}))
    got = bloom_semi_join(fact, "k", dim, "dk", n_bits=1 << 10, n_hashes=3)
    assert sorted(r["k"] for r in got.collect()) == [2, 4]

    empty_dim = dim.where("dk < 0")
    got2 = bloom_semi_join(fact, "k", empty_dim, "dk", n_bits=1 << 10, n_hashes=3)
    assert got2.count() == 0
