"""Generic two-phase sketch aggregation — the distributed crick lifecycle.

The reference's intended multi-node flow is per-partition sketch → encode →
ship → merge (SURVEY §3.3, ``crick/tdigest.pyx:246-263`` etc.).  On Spark
that maps to:

  stage 1 (map side): ``mapInPandas`` folds every Arrow batch of a
      partition into one sketch per group — bounded state, no raw-row
      shuffle.  Output: one row (group keys…, sketch bytes) per group per
      partition.
  stage 2 (reduce side): ``groupBy(keys).applyInPandas`` merges the ≤
      #partitions sketch buffers per group with the kernel's ``.merge`` and
      finalizes.  With no keys, ``groupBy()`` plans one single-partition
      exchange and yields no row for empty input.

This module is the only implementation of that partial → shuffle → merge →
finalize path: every operator, the persisted stores and the decayed forms
go through ``partial_sketches``/``merge_sketches``.  Sketch bytes are
always ``crick_spark.sketches.codec`` bytes.

Shuffle volume is ``partitions × |groups per partition| × sketch size``
(KBs), independent of row count — this is what makes the pattern hold at
100 TB: a 1000-executor scan of 10¹¹ rows shuffles only ~10⁵ small buffers.

PySpark's pandas GROUPED_AGG UDAFs expose no partial/final hooks, so this
module implements the two phases explicitly (SURVEY §7.3).
"""

from __future__ import annotations

from functools import reduce
from typing import Callable, Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import BinaryType, StructField, StructType

from crick_spark.sketches import codec

BLOB_SCHEMA = StructType([StructField("sketch", BinaryType())])


def to_blob(sk) -> pd.DataFrame:
    """Finalize that keeps the merged sketch itself: one encoded row
    matching ``BLOB_SCHEMA``."""
    return pd.DataFrame([{"sketch": codec.dumps(sk)}])


def _key_fields(df: DataFrame, by: list[str]) -> list[StructField]:
    return [df.schema[k] for k in by]


def partial_sketches(
    df: DataFrame,
    build: Callable[[pd.DataFrame], object],
    value_cols: list[str],
    by: list[str],
) -> DataFrame:
    """Stage 1: one encoded sketch per (partition, group); ``build`` turns
    a pandas batch of one group into a sketch."""
    out_schema = StructType(
        _key_fields(df, by) + [StructField("sketch", BinaryType(), False)]
    )
    cols = by + value_cols

    def fold(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        acc: dict[tuple, object] = {}
        for pdf in batches:
            groups = pdf.groupby(by, dropna=False, sort=False) if by else [((), pdf)]
            for kt, g in groups:
                key = kt if isinstance(kt, tuple) else (kt,)
                sk = build(g)
                acc[key] = acc[key].merge(sk) if key in acc else sk
        if acc:
            yield pd.DataFrame(
                [(*key, codec.dumps(sk)) for key, sk in acc.items()],
                columns=by + ["sketch"],
            )

    return df.select(*cols).mapInPandas(fold, schema=out_schema)


def merge_sketches(
    partials: DataFrame,
    by: list[str],
    finalize: Callable[[object], pd.DataFrame],
    result_schema: StructType,
) -> DataFrame:
    """Stage 2: merge each group's buffers (deterministic byte-order fold so
    float results are run-stable) and finalize to result rows."""
    out_schema = StructType(_key_fields(partials, by) + list(result_schema.fields))

    def merge_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        blobs = sorted(pdf["sketch"].tolist())
        sk = reduce(lambda a, b: a.merge(b), map(codec.loads, blobs))
        res = finalize(sk)
        for i, k in enumerate(by):
            res.insert(i, k, pdf[k].iloc[0])
        return res

    return partials.groupBy(*by).applyInPandas(merge_fn, schema=out_schema)


def sketch_aggregate(
    df: DataFrame,
    build: Callable[[pd.DataFrame], object],
    value_cols: list[str],
    by: list[str] | None,
    finalize: Callable[[object], pd.DataFrame],
    result_schema: StructType,
) -> DataFrame:
    """partial → shuffle buffers → merge/finalize, end to end."""
    by = by or []
    partials = partial_sketches(df, build, value_cols, by)
    return merge_sketches(partials, by, finalize, result_schema)
