"""The crick operator surface as DataFrame-level aggregations.

Each function is the Spark-native form of a reference operator (SURVEY §2):
``tdigest_*`` ↔ ``crick.TDigest`` and ``spacesaving_topk`` ↔
``crick.SpaceSaving.topk`` run through the two-phase sketch aggregation in
``sketch_agg`` (bounded state, buffer-only shuffle; SURVEY §3.3/§3.4).
``moments_agg`` ↔ ``crick.SummaryStats`` is algebraic, so it needs no
sketch bytes: it is one JVM aggregate over
``functions.stats.summary_stats_exprs``, whose partial/final central-moment
buffers are the same mergeable one-pass algorithm.

``tdigest_agg`` returns the *sketch itself* as a column (crick's pickle
surface, ``tdigest.pyx:246-263``): persistable to parquet, mergeable later
with ``merge_sketches`` — the pattern for incremental rollups where
yesterday's digests merge with today's partials without rescanning.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from crick_spark.functions.stats import summary_stats_exprs
from crick_spark.operators.sketch_agg import (
    BLOB_SCHEMA,
    merge_sketches,
    partial_sketches,
    sketch_aggregate,
    to_blob,
)
from crick_spark.sketches import SpaceSaving, TDigest, codec


def _qname(q: float) -> str:
    return f"p{str(q).replace('.', '_')}"


def _xname(prefix: str, x: float) -> str:
    return f"{prefix}{str(x).replace('.', '_').replace('-', 'm')}"


# ---------------------------------------------------------------------------
# TDigest
# ---------------------------------------------------------------------------
def _tdigest_build(
    col: str, weight_col: str | None, compression: float
) -> Callable[[pd.DataFrame], TDigest]:
    def build(pdf: pd.DataFrame) -> TDigest:
        w = pdf[weight_col].to_numpy(np.float64) if weight_col else None
        return TDigest.from_values(
            pdf[col].to_numpy(np.float64), w, compression=compression
        )

    return build


def tdigest_agg(
    df: DataFrame,
    col: str,
    by: list[str] | None = None,
    compression: float = 100.0,
    weight_col: str | None = None,
) -> DataFrame:
    """Aggregate to a digest column (by…, sketch: binary) — one row per
    group; the persistable/mergeable sketch state."""
    cols = [col] + ([weight_col] if weight_col else [])
    return partial_sketches(
        df, _tdigest_build(col, weight_col, compression), cols, by or []
    )


# The name perfbench's layer probe imports; package code calls merge_sketches.
tdigest_merge_finalize = merge_sketches


def tdigest_quantiles(
    df: DataFrame,
    col: str,
    qs: list[float],
    by: list[str] | None = None,
    compression: float = 100.0,
    weight_col: str | None = None,
) -> DataFrame:
    """Approximate quantiles via mergeable t-digest (crick
    ``TDigest.quantile``): one row per group, one column per q."""
    schema = StructType([StructField(_qname(q), DoubleType()) for q in qs])

    def finalize(sk: TDigest) -> pd.DataFrame:
        return pd.DataFrame([{_qname(q): float(sk.quantile(q)) for q in qs}])

    build = _tdigest_build(col, weight_col, compression)
    cols = [col] + ([weight_col] if weight_col else [])
    return sketch_aggregate(df, build, cols, by, finalize, schema)


def tdigest_cdf(
    df: DataFrame,
    col: str,
    points: list[float],
    by: list[str] | None = None,
    compression: float = 100.0,
) -> DataFrame:
    """Approximate CDF at fixed points (crick ``TDigest.cdf``)."""
    schema = StructType(
        [StructField(_xname("cdf_", x), DoubleType()) for x in points]
    )

    def finalize(sk: TDigest) -> pd.DataFrame:
        return pd.DataFrame(
            [{_xname("cdf_", x): float(sk.cdf(x)) for x in points}]
        )

    return sketch_aggregate(
        df, _tdigest_build(col, None, compression), [col], by, finalize, schema
    )


def tdigest_histogram(
    df: DataFrame,
    col: str,
    lo: float,
    hi: float,
    nbins: int,
    by: list[str] | None = None,
    compression: float = 100.0,
) -> DataFrame:
    """Approximate histogram by CDF differencing (crick
    ``TDigest.histogram``): rows (by…, bin, bin_lo, bin_hi, cnt_est)."""
    schema = StructType(
        [
            StructField("bin", LongType()),
            StructField("bin_lo", DoubleType()),
            StructField("bin_hi", DoubleType()),
            StructField("cnt_est", DoubleType()),
        ]
    )

    def finalize(sk: TDigest) -> pd.DataFrame:
        hist, edges = sk.histogram(bins=nbins, range=(lo, hi))
        return pd.DataFrame(
            {
                "bin": np.arange(nbins),
                "bin_lo": edges[:-1],
                "bin_hi": edges[1:],
                "cnt_est": hist,
            }
        )

    return sketch_aggregate(
        df, _tdigest_build(col, None, compression), [col], by, finalize, schema
    )


def tdigest_centroids(
    df: DataFrame,
    col: str,
    by: list[str] | None = None,
    compression: float = 100.0,
) -> DataFrame:
    """The digest's internal state as rows (crick ``TDigest.centroids``,
    ``tdigest.pyx:231-244``): (by…, centroid, mean, weight), means
    ascending, Σweight = group count."""
    schema = StructType(
        [
            StructField("centroid", LongType()),
            StructField("mean", DoubleType()),
            StructField("weight", DoubleType()),
        ]
    )

    def finalize(sk: TDigest) -> pd.DataFrame:
        arr = sk.centroids()
        return pd.DataFrame(
            {
                "centroid": np.arange(len(arr)),
                "mean": arr["mean"],
                "weight": arr["weight"],
            }
        )

    return sketch_aggregate(
        df, _tdigest_build(col, None, compression), [col], by, finalize, schema
    )


def _decayed_aggregate(
    df: DataFrame,
    build: Callable[[pd.DataFrame], object],
    value_cols: list[str],
    ts_col: str,
    by: list[str],
    half_life_days: float,
    finalize: Callable[[object], pd.DataFrame],
    result_schema: StructType,
) -> DataFrame:
    """Per-day partials, each scaled by ``0.5^(age_days/half_life)``, then
    the ordinary ``merge_sketches`` over ``by``.  Works for any kernel
    whose ``scale`` is linear in its weights/counts, so scaling partials
    before the merge equals scaling the merged day-sketch."""
    from pyspark.sql.window import Window

    partials = partial_sketches(
        df.withColumn("__day__", F.to_date(F.col(ts_col))),
        build,
        value_cols,
        by + ["__day__"],
    )
    # reference day = global max day, computed IN-PLAN over the tiny
    # partials relation (groups × days rows) via an unpartitioned window —
    # no driver .collect(), no second scan of the fact table.  The
    # single-partition shuffle is bounded by the partial count, not rows.
    partials = partials.withColumn(
        "__ref_day__", F.max("__day__").over(Window.partitionBy(F.lit(1)))
    )
    hl = float(half_life_days)

    def scale(batches):
        for pdf in batches:
            ages = [(r - d).days for r, d in zip(pdf["__ref_day__"], pdf["__day__"])]
            yield pdf[by].assign(
                sketch=[
                    codec.dumps(codec.loads(b).scale(0.5 ** (age / hl)))
                    for b, age in zip(pdf["sketch"], ages)
                ]
            )

    scaled = partials.mapInPandas(
        scale, schema=StructType([partials.schema[k] for k in by + ["sketch"]])
    )
    return merge_sketches(scaled, by, finalize, result_schema)


def tdigest_decayed_quantiles(
    df: DataFrame,
    col: str,
    ts_col: str,
    qs: list[float],
    by: list[str] | None = None,
    half_life_days: float = 7.0,
    compression: float = 100.0,
) -> DataFrame:
    """Exponentially-decayed quantiles — the crick ``TDigest.scale`` use
    case (``tdigest.pyx:326-340``: 'used for exponential decay of
    windows').  Each day's partial digests are scaled by
    ``0.5^(age_days/half_life)`` and merged; recent data dominates the
    estimate, old data fades instead of falling off a cliff.

    ``scale`` is linear in the weights, so scaling per-partition partials
    before the merge equals scaling the merged day-digest — the
    decay composes with the two-phase distributed aggregation unchanged.
    Emits (by…, decayed_n, p…)."""
    schema = StructType(
        [StructField("decayed_n", DoubleType())]
        + [StructField(_qname(q), DoubleType()) for q in qs]
    )

    def finalize(sk: TDigest) -> pd.DataFrame:
        row = {"decayed_n": float(sk.size())}
        row.update({_qname(q): float(sk.quantile(q)) for q in qs})
        return pd.DataFrame([row])

    return _decayed_aggregate(
        df,
        _tdigest_build(col, None, compression),
        [col],
        ts_col,
        by or [],
        half_life_days,
        finalize,
        schema,
    )


# ---------------------------------------------------------------------------
# SpaceSaving
# ---------------------------------------------------------------------------
def _spacesaving_build(
    col: str, capacity: int, count_col: str | None
) -> Callable[[pd.DataFrame], SpaceSaving]:
    def build(pdf: pd.DataFrame) -> SpaceSaving:
        counts = pdf[count_col].to_numpy(np.int64) if count_col else None
        return SpaceSaving.from_batch(pdf[col].to_numpy(), counts, capacity=capacity)

    return build


def spacesaving_topk(
    df: DataFrame,
    col: str,
    k: int,
    by: list[str] | None = None,
    capacity: int = 20,
    count_col: str | None = None,
) -> DataFrame:
    """Approximate top-k with per-item error bounds (crick
    ``SpaceSaving.topk``): rows (by…, item, cnt, error) where
    ``cnt − error ≤ actual ≤ cnt``; item keeps the input column's type."""
    item_field = StructField("item", df.schema[col].dataType)
    schema = StructType(
        [item_field, StructField("cnt", LongType()), StructField("error", LongType())]
    )

    def finalize(sk: SpaceSaving) -> pd.DataFrame:
        rows = sk.topk(k)
        return pd.DataFrame(rows, columns=["item", "cnt", "error"])

    build = _spacesaving_build(col, capacity, count_col)
    cols = [col] + ([count_col] if count_col else [])
    return sketch_aggregate(df, build, cols, by, finalize, schema)


def spacesaving_decayed_topk(
    df: DataFrame,
    col: str,
    ts_col: str,
    k: int,
    by: list[str] | None = None,
    half_life_days: float = 7.0,
    capacity: int = 20,
    count_col: str | None = None,
) -> DataFrame:
    """Exponentially-decayed heavy hitters (round 6) — the SpaceSaving
    analog of ``tdigest_decayed_quantiles`` (crick ``TDigest.scale``,
    tdigest.pyx:326-340): per-day SpaceSaving partials, each scaled by
    ``0.5^(age_days/half_life)`` before the merge (count AND error scale
    — the bound stays conservative), Cafaro-merged, then top-k.
    Recent items dominate the ranking; stale ones fade instead of
    falling off a cliff.

    Emits (by…, item, decayed_cnt, err_bound) with
    ``actual_decayed ≤ decayed_cnt ≤ actual_decayed + err_bound`` —
    verified against the exact decayed rollup in the registry gate.
    Same 100 TB shape as the quantile twin: two-phase agg produces
    groups × days sketch rows (KBs), the ref day comes from an in-plan
    window over that tiny relation, and only capacity-bounded counters
    ever reach the final fold."""
    schema = StructType(
        [
            StructField("item", df.schema[col].dataType),
            StructField("decayed_cnt", DoubleType()),
            StructField("err_bound", DoubleType()),
        ]
    )

    def finalize(sk: SpaceSaving) -> pd.DataFrame:
        return pd.DataFrame(sk.topk(k), columns=["item", "decayed_cnt", "err_bound"])

    cols = [col] + ([count_col] if count_col else [])
    return _decayed_aggregate(
        df,
        _spacesaving_build(col, capacity, count_col),
        cols,
        ts_col,
        by or [],
        half_life_days,
        finalize,
        schema,
    )


# ---------------------------------------------------------------------------
# Moments (SummaryStats)
# ---------------------------------------------------------------------------
def moments_agg(df: DataFrame, col: str, by: list[str] | None = None) -> DataFrame:
    """Full SummaryStats struct (crick ``SummaryStats``): (by…, cnt, sum_x,
    min_x, max_x, mean_x, var_pop_x, var_samp_x, std_pop_x, std_samp_x,
    skew_x, kurt_x), every statistic a double.

    One JVM hash aggregate over ``summary_stats_exprs`` — Catalyst's
    partial/final central-moment buffers are crick's Pébay update/merge, so
    no Python crosses the plan.  NaN is skipped like NULL; where a
    statistic is undefined (empty group, n < 2 for var_samp/std_samp, a
    constant group for skew/kurt) it is NULL, and a group holding ±inf
    gets NaN for var/std/skew/kurt.  With no ``by`` the result is one row,
    ``cnt`` = 0 on empty input."""
    g = df.groupBy(*by) if by else df
    return g.agg(*summary_stats_exprs(F.col(col).cast("double")))


# ---------------------------------------------------------------------------
# Count-Min Sketch (family extension — not in crick; same contract)
# ---------------------------------------------------------------------------
def _cms_build(
    width: int, depth: int, count_col: str | None = None
) -> Callable[[pd.DataFrame], "CountMinSketch"]:
    """Build function shared by every CMS entry point (the _tdigest_build
    pattern): builds from the JVM-hashed ``__cms_key__`` column."""
    from crick_spark.sketches.cms import CountMinSketch

    def build(pdf: pd.DataFrame) -> "CountMinSketch":
        counts = pdf[count_col].to_numpy(np.int64) if count_col else None
        return CountMinSketch.from_batch(
            pdf["__cms_key__"].to_numpy(np.int64), counts, width=width, depth=depth
        )

    return build


def cms_frequencies(
    df: DataFrame,
    col: str,
    items: list,
    by: list[str] | None = None,
    width: int = 4096,
    depth: int = 4,
    count_col: str | None = None,
) -> DataFrame:
    """Point-frequency estimates for ``items`` from one CMS pass over
    ``df[col]``: rows (by…, item, est_cnt, err_bound) with the guarantee
    ``actual ≤ est_cnt ≤ actual + err_bound`` w.p. ≥ 1 − e^(−depth).

    Keys are hashed JVM-side with ``xxhash64`` so the kernel is pure int64
    numpy; the query items go through the same hash via a tiny local
    DataFrame (one job, ``len(items)`` rows) to keep both sides identical.
    """
    from crick_spark.sketches.cms import CountMinSketch

    item_field = StructField("item", df.schema[col].dataType)
    schema = StructType(
        [
            item_field,
            StructField("est_cnt", LongType()),
            StructField("err_bound", LongType()),
        ]
    )
    spark = df.sparkSession
    hashed_items = (
        spark.createDataFrame([(it,) for it in items], schema=StructType([item_field]))
        .select("item", F.xxhash64("item").alias("key"))
        .collect()
    )
    item_keys = np.array([r["key"] for r in hashed_items], dtype=np.int64)

    keyed = df.withColumn("__cms_key__", F.xxhash64(col))

    def finalize(sk: CountMinSketch) -> pd.DataFrame:
        ests = sk.query(item_keys)
        bound = int(np.ceil(sk.error_bound()))
        return pd.DataFrame(
            {"item": items, "est_cnt": ests, "err_bound": bound}
        )

    cols = ["__cms_key__"] + ([count_col] if count_col else [])
    return sketch_aggregate(
        keyed, _cms_build(width, depth, count_col), cols, by, finalize, schema
    )


def cms_join_size(
    dfa: DataFrame,
    col_a: str,
    dfb: DataFrame,
    col_b: str,
    width: int = 4096,
    depth: int = 4,
) -> DataFrame:
    """Equi-join SIZE estimate |A ⋈ B| from two CMS passes — the classic
    sketch application to query optimization (Cormode & Muthukrishnan
    2005 §4.2: the CMS inner product overestimates the true join size by
    ≤ (e/w)·N_a·N_b w.p. ≥ 1−e^(−d), never underestimates).  At 100 TB
    this answers "should this join broadcast / how many output rows"
    from two O(w·d)-state scans WITHOUT running the join.

    One row: (est_join_size, n_a, n_b, err_bound).  Both sides hash keys
    JVM-side with the same ``xxhash64`` so the frequency vectors share a
    key space; sketches merge exactly (element-wise), so the estimate is
    partition-invariant.
    """
    from crick_spark.sketches.cms import CountMinSketch

    out_schema = StructType(
        [
            StructField("est_join_size", LongType()),
            StructField("n_a", LongType()),
            StructField("n_b", LongType()),
            StructField("err_bound", DoubleType()),
        ]
    )
    def side(df: DataFrame, col: str, tag: str) -> DataFrame:
        # NULLs never match an equi-join — hashing them (xxhash64(NULL)
        # is the constant 42) would add phantom NULLxNULL pairs the
        # error ceiling does not cover.  Cast to string before hashing:
        # xxhash64 is TYPE-sensitive (int 5 and bigint 5 hash apart), and
        # int-keyed dims joining bigint-keyed facts is routine
        keyed = df.where(F.col(col).isNotNull()).select(
            F.xxhash64(F.col(col).cast("string")).alias("__cms_key__")
        )
        partials = partial_sketches(
            keyed, _cms_build(width, depth), ["__cms_key__"], []
        )
        # An empty side (zero rows, or all-NULL key column) has ZERO
        # partials, which would merge to zero rows and annihilate the
        # crossJoin below instead of giving est_join_size=0.  Union a
        # one-row EMPTY sketch (merge identity: all-zero table, n=0) into
        # the partials, so the one merge always emits exactly one row.
        identity = df.sparkSession.createDataFrame(
            [(codec.dumps(CountMinSketch(width=width, depth=depth)),)],
            BLOB_SCHEMA,
        )
        merged = merge_sketches(
            partials.unionByName(identity), [], to_blob, BLOB_SCHEMA
        )
        return merged.select(F.col("sketch").alias(f"__sk_{tag}__"))

    pair = side(dfa, col_a, "a").crossJoin(side(dfb, col_b, "b"))

    def combine(pdfs):
        for pdf in pdfs:
            rows = []
            for ba, bb in zip(pdf["__sk_a__"], pdf["__sk_b__"]):
                a: CountMinSketch = codec.loads(ba)
                b: CountMinSketch = codec.loads(bb)
                rows.append(
                    {
                        "est_join_size": a.inner_product(b),
                        "n_a": a.n,
                        "n_b": b.n,
                        "err_bound": a.inner_product_error_bound(b),
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

    return pair.mapInPandas(combine, schema=out_schema)


# ---------------------------------------------------------------------------
# Bloom filter (family extension — not in crick; same contract)
# ---------------------------------------------------------------------------
def _bloom_build(n_bits: int, n_hashes: int) -> Callable[[pd.DataFrame], "BloomFilter"]:
    """Build function shared by every Bloom entry point (the _cms_build
    pattern): builds from the JVM-hashed ``__bloom_key__`` column."""
    from crick_spark.sketches.bloom import BloomFilter

    def build(pdf: pd.DataFrame) -> "BloomFilter":
        return BloomFilter.from_batch(
            pdf["__bloom_key__"].to_numpy(np.int64),
            n_bits=n_bits,
            n_hashes=n_hashes,
        )

    return build


def _bloom_key(df: DataFrame, col: str):
    # Normalize-then-hash, for the same reason as cms_join_size: xxhash64
    # is TYPE-sensitive and the two join sides may carry the same key at
    # different widths.  Numeric keys route through a double cast first —
    # the coercion Spark itself applies to a mixed-width equi-join — so
    # bigint 2 and double 2.0 hash identically (int-vs-float was a false
    # NEGATIVE under a bare string cast: "2" vs "2.0"); any precision loss
    # beyond 2^53 is identical on both sides, so it can only create false
    # positives, which the exact rebuild removes.  NULL keys never match
    # an equi-join, so callers filter them before hashing.
    from pyspark.sql.types import NumericType

    c = F.col(col)
    if isinstance(df.schema[col].dataType, NumericType):
        c = c.cast("double")
    return F.xxhash64(c.cast("string"))


def bloom_build_bytes(
    df: DataFrame, col: str, n_bits: int = 1 << 20, n_hashes: int = 5
) -> bytes:
    """Build ONE merged Bloom filter over ``df[col]`` and return its codec
    bytes — per-partition partial filters, bitwise-OR merge (exact, so the
    result is partition-invariant bit-for-bit), one-row driver fetch of
    n_bits/8 bytes (the bounded-collect pattern: the blob is the result,
    KBs–MBs regardless of input rows)."""
    keyed = df.where(F.col(col).isNotNull()).select(
        _bloom_key(df, col).alias("__bloom_key__")
    )
    partials = partial_sketches(
        keyed, _bloom_build(n_bits, n_hashes), ["__bloom_key__"], []
    )
    rows = merge_sketches(partials, [], to_blob, BLOB_SCHEMA).collect()
    if not rows:  # empty / all-NULL build side: the empty filter
        from crick_spark.sketches.bloom import BloomFilter

        return codec.dumps(BloomFilter(n_bits=n_bits, n_hashes=n_hashes))
    return bytes(rows[0]["sketch"])


def bloom_probe_column(blob: bytes, df: DataFrame, col: str):
    """Boolean membership Column for ``df[col]`` against an encoded filter.

    Arrow-batched pandas_udf; the filter is decoded ONCE per python
    worker (closure cache), then every batch is a vectorized numpy probe.
    The blob ships inside the task binary — broadcast once per stage by
    Spark, never per row.  No false negatives: a True-membership miss is
    impossible for any key that was added on the build side."""
    from pyspark.sql.types import BooleanType

    cache: dict = {}

    @F.pandas_udf(BooleanType())
    def probe(keys: pd.Series) -> pd.Series:
        bf = cache.get("bf")
        if bf is None:
            bf = cache["bf"] = codec.loads(blob)
        return pd.Series(bf.contains_batch(keys.to_numpy(np.int64)))

    return probe(_bloom_key(df, col))


def bloom_semi_join(
    fact: DataFrame,
    fact_col: str,
    dim: DataFrame,
    dim_col: str,
    n_bits: int = 1 << 20,
    n_hashes: int = 5,
    exact: bool = True,
) -> DataFrame:
    """Runtime-filtered semi join: keep fact rows whose key appears in the
    dimension — the 100 TB join-pruning primitive.

    Plan shape: (1) one bounded-state pass over the dim keys builds a
    merged Bloom filter (n_bits/8 bytes cross the wire, never key rows);
    (2) the fact scan is prefiltered by a vectorized membership probe, so
    only |true matches| + fpp·N rows survive to (3) the exact left-semi
    join that removes the false positives.  Because the filter has no
    false negatives, the result is EXACTLY the semi join — the sketch
    changes the plan's intermediate volume, not its answer — so this
    operator is fully value-oracled against ``WHERE key IN (...)``.

    With ``exact=False`` step (3) is skipped: the approximate contains-
    superset form for pipelines that tolerate fpp (e.g. candidate
    pruning), saving the dim-side shuffle entirely.

    At local scale the prefilter is overhead over a broadcast hash join;
    at 100 TB with a large-but-filterable dim it replaces a full
    fact-side shuffle with a scan-side drop — the same trick Spark's own
    ``spark.sql.optimizer.runtime.bloomFilter`` injects when statistics
    allow, made explicit and statistics-independent here.
    """
    blob = bloom_build_bytes(dim, dim_col, n_bits=n_bits, n_hashes=n_hashes)
    survivors = fact.where(
        F.col(fact_col).isNotNull() & bloom_probe_column(blob, fact, fact_col)
    )
    if not exact:
        return survivors
    dim_keys = dim.where(F.col(dim_col).isNotNull()).select(dim_col)
    return survivors.join(
        dim_keys,
        survivors[fact_col] == dim_keys[dim_col],
        "left_semi",
    )


def tdigest_rollup_levels(
    df: DataFrame,
    col: str,
    ts_col: str,
    levels: tuple[str, ...] = ("day", "week", "month"),
    qs: tuple[float, ...] = (0.5, 0.95),
    compression: float = 100.0,
) -> DataFrame:
    """Hierarchical quantile rollup by SKETCH MERGE: one scan of the fact
    table builds per-day digest partials; every coarser calendar level
    (week, month, …) is derived by merging the day sketches — the rows
    are never rescanned.  This is the materialized-rollup pattern crick's
    ``merge`` exists for (``tdigest.pyx:310-324``): at 100 TB the day
    partials are KBs per day, so week/month/quarter answers cost a
    KB-sized shuffle each instead of |rows|-sized re-aggregations.

    Emits (level, period, n, p…): ``n`` is the digest's total weight,
    which is EXACTLY the row count (unit weights, exact-sum merge) — the
    lossless consistency hook the oracle pins; quantile columns carry the
    usual t-digest accuracy (≤0.012 in q-space, tested at every level).

    The day-partial relation is materialized before fan-out (eager
    ``localCheckpoint``, |days| KB-sized sketch rows): it is the union's
    shared input, and without pinning it each level would re-run the
    fact scan.  localCheckpoint rather than persist() so the blocks die
    with the returned DataFrame instead of sitting in the SQL cache
    manager until someone calls unpersist — repeated calls in a
    long-lived session leak nothing.
    """
    day = F.to_date(F.col(ts_col))
    partials = tdigest_agg(
        df.withColumn("__day__", day), col, by=["__day__"], compression=compression
    ).localCheckpoint(eager=True)

    schema = StructType(
        [StructField("n", DoubleType())]
        + [StructField(_qname(q), DoubleType()) for q in qs]
    )

    def finalize(sk: TDigest) -> pd.DataFrame:
        row = {"n": sk.size()}
        row.update({_qname(q): float(sk.quantile(q)) for q in qs})
        return pd.DataFrame([row])

    out = None
    for level in levels:
        period = (
            F.col("__day__")
            if level == "day"
            else F.date_trunc(level, F.col("__day__")).cast("date")
        )
        leveled = partials.withColumn("period", period).drop("__day__")
        res = merge_sketches(leveled, ["period"], finalize, schema)
        res = res.select(F.lit(level).alias("level"), "period", "n", *[_qname(q) for q in qs])
        out = res if out is None else out.unionByName(res)
    return out
