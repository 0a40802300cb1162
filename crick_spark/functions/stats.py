"""Exact summary statistics — the SummaryStats surface on Spark built-ins.

Reference: ``crick/stats.pyx`` (count/sum/min/max/mean/var/std/skew/kurt with
one-pass Pébay moment merging, ``crick/stats_stubs.c:47-75``).  Spark's
built-in aggregates implement the same partial/final moment merging inside
``HashAggregateExec`` whole-stage codegen, so the entire surface is
declarative — no UDF in the hot path, map-side partial aggregation for free,
and the shuffle carries only per-group moment buffers.

Semantics deltas handled here (SURVEY §7.3):

* crick skips NaN (``crick/stats_stubs.c:92-95``); Spark aggregates skip
  NULL but propagate NaN → ``nan_to_null`` normalizes.
* crick ``skew()``/``kurt()`` default to the biased/population forms, which
  are exactly Spark's ``skewness``/``kurtosis`` (Fisher definition for
  kurtosis, i.e. excess kurtosis).  Bias-corrected variants
  (``bias=False``, ``crick/stats_stubs.c:121,134``) are provided as closed
  forms over (n, g1) / (n, g2).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def nan_to_null(col: Column) -> Column:
    """Map NaN → NULL so Spark aggregates skip it like crick skips NaN
    (``crick/stats_stubs.c:92-95``, ``crick/tdigest_stubs.c:283-286``)."""
    return F.when(F.isnan(col) | col.isNull(), F.lit(None)).otherwise(col)


def skew_unbiased(n: Column, g1: Column) -> Column:
    """Bias-corrected skewness from population skewness g1
    (``crick/stats_stubs.c:121``): ``sqrt(n(n-1))/(n-2) * g1``."""
    return F.sqrt(n * (n - 1)) / (n - 2) * g1


def kurt_unbiased(n: Column, g2: Column) -> Column:
    """Bias-corrected excess kurtosis from population excess kurtosis g2
    (``crick/stats_stubs.c:134``): ``((n²-1)·k - 9n + 15)/((n-2)(n-3))``
    where k = g2 + 3 is the non-excess population kurtosis, result excess."""
    k = g2 + 3.0
    return ((n * n - 1) * k - 9 * n + 15) / ((n - 2) * (n - 3)) - 3.0

def summary_stats_exprs(col: Column) -> list[Column]:
    """The full SummaryStats result as aliased aggregate expressions — the
    package's one SummaryStats implementation (``operators.moments_agg``
    and every moments query aggregate through it).

    One hash-aggregate pass computes everything (crick computes all moments
    in one ``update`` pass too, ``crick/stats_stubs.c:139-226``).  NaN is
    skipped like NULL; a group with no non-NaN value gets ``cnt`` = 0 and
    NULL elsewhere, and var/std/skew/kurt are NULL where they are
    undefined (too few values, or a constant group for skew/kurt).
    """
    c = nan_to_null(col)
    return [
        F.count(c).alias("cnt"),
        F.sum(c).alias("sum_x"),
        F.min(c).alias("min_x"),
        F.max(c).alias("max_x"),
        F.avg(c).alias("mean_x"),
        F.var_pop(c).alias("var_pop_x"),
        F.var_samp(c).alias("var_samp_x"),
        F.stddev_pop(c).alias("std_pop_x"),
        F.stddev_samp(c).alias("std_samp_x"),
        F.skewness(c).alias("skew_x"),
        F.kurtosis(c).alias("kurt_x"),
    ]


def linear_fit(df, y_col: str, x_cols: list[str]):
    """One-pass distributed OLS by normal equations: ONE codegen
    aggregate collects every entry of the (k+2)×(k+2) moment matrix over
    terms [1, x₁..x_k, y] (sums of pairwise products — map-side combined,
    no Python, no second scan), then the driver solves the (k+1)-sized
    system.  The single-feature case hash-matches DuckDB's
    regr_slope/regr_intercept/regr_r2 exactly; the general case is the
    same closed form ``β = (XᵀX)⁻¹Xᵀy`` the SQL regr_* family
    specializes.

    Rows with a NULL in any term are dropped (the regr_* convention).
    Returns (beta, r2, n): beta[0] is the intercept, beta[1:] follow
    ``x_cols`` order.
    """
    import numpy as np

    terms = [F.lit(1.0)] + [
        F.col(c).cast("double") for c in list(x_cols) + [y_col]
    ]
    k = len(terms)
    cond = F.lit(True)
    for c in list(x_cols) + [y_col]:
        cond = cond & F.col(c).isNotNull()
    d = df.where(cond)
    aggs = []
    for i in range(k):
        for j in range(i, k):
            aggs.append(F.sum(terms[i] * terms[j]).alias(f"m_{i}_{j}"))
    row = d.agg(*aggs).collect()[0]
    if row["m_0_0"] is None:
        raise ValueError("linear_fit: no rows after NULL filtering")
    G = np.zeros((k, k))
    for i in range(k):
        for j in range(i, k):
            G[i, j] = G[j, i] = row[f"m_{i}_{j}"]
    n = G[0, 0]
    A = G[: k - 1, : k - 1]
    b = G[: k - 1, k - 1]
    beta = np.linalg.solve(A, b)
    yy = G[k - 1, k - 1]
    sse = float(yy - beta @ b)
    sst = float(yy - G[0, k - 1] ** 2 / n)
    r2 = 1.0 - sse / sst if sst > 0 else float("nan")
    return beta, r2, int(n)
