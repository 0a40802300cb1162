"""Sketches as custom streaming state — the crick-on-Spark streaming story.

Each group key holds one encoded sketch (``sketches.codec``) in the state store
(``applyInPandasWithState``); every micro-batch folds its Arrow batches
into the state sketch (crick ``update``), and emits the current finalized
result (crick ``quantile``/``topk``).  State size is the sketch bound —
≤ 2·ceil(compression) centroids per key (``crick/tdigest_stubs.c:65``) —
so per-key state is KBs regardless of stream length, and the watermark
timeout reaps idle keys.

This is exactly the role crick plays inside dask's streaming reductions
(SURVEY §3.3), with Spark's state store replacing dask's scheduler.
"""

from __future__ import annotations

from typing import Any, Callable, Iterable, Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from crick_spark.operators.crick_ops import _qname
from crick_spark.sketches import SpaceSaving, TDigest, codec

# State value: the key's encoded sketch.
STATE_SCHEMA = StructType([StructField("blob", BinaryType())])
TOPK_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("rank", LongType()),
        StructField("item", LongType()),
        StructField("cnt", LongType()),
        StructField("error", LongType()),
    ]
)


def fold_tdigest(
    state: bytes | None,
    pdfs: Iterable[pd.DataFrame],
    key: Any,
    value_col: str,
    qs: Iterable[float],
    compression: float,
) -> tuple[bytes, pd.DataFrame]:
    """One key's micro-batch: fold ``pdfs`` into the state digest (a fresh
    one when ``state`` is None); returns the new state value and the
    (key, n, p…) row."""
    digest = (
        codec.loads(state)
        if state is not None
        else TDigest(compression=compression)
    )
    for pdf in pdfs:
        digest = digest.merge(
            TDigest.from_values(
                pdf[value_col].to_numpy(np.float64), compression=compression
            )
        )
    row = {"key": key, "n": int(digest.size())}
    row.update({_qname(q): float(digest.quantile(q)) for q in qs})
    return codec.dumps(digest), pd.DataFrame([row])


def fold_spacesaving(
    state: bytes | None,
    pdfs: Iterable[pd.DataFrame],
    key: Any,
    item_col: str,
    k: int,
    capacity: int,
) -> tuple[bytes, pd.DataFrame]:
    """One key's micro-batch: fold ``pdfs`` into the state Space-Saving
    summary; returns the new state value and the ``TOPK_SCHEMA`` rows."""
    sk = (
        codec.loads(state)
        if state is not None
        else SpaceSaving(capacity=capacity)
    )
    for pdf in pdfs:
        sk.add_batch(pdf[item_col].to_numpy(np.int64))
    top = sk.topk(k)
    out = pd.DataFrame(
        {
            "key": [key] * len(top),
            "rank": np.arange(1, len(top) + 1, dtype=np.int64),
            "item": [t[0] for t in top],
            "cnt": [t[1] for t in top],
            "error": [t[2] for t in top],
        }
    )
    return codec.dumps(sk), out


def _group_state_update(fold: Callable[..., tuple[bytes, pd.DataFrame]], *args: Any):
    """The ``applyInPandasWithState`` body around a ``fold_*``: read the
    key's state, fold the batch, store the new state, emit."""

    def update(
        key: Tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        blob, out = fold(state.get[0] if state.exists else None, pdfs, key[0], *args)
        state.update((blob,))
        yield out

    return update


def tdigest_stream_quantiles(
    events: DataFrame,
    key_col: str = "event_type",
    value_col: str = "value",
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    compression: float = 100.0,
    watermark: str | None = None,
) -> DataFrame:
    """Per-key running t-digest over a stream; emits (key, n, p…) each
    micro-batch with the digest's lifetime-so-far estimates."""
    src = events.withWatermark("ts", watermark) if watermark else events
    return src.groupBy(key_col).applyInPandasWithState(
        _group_state_update(fold_tdigest, value_col, qs, compression),
        outputStructType=StructType(
            [StructField("key", StringType()), StructField("n", LongType())]
            + [StructField(_qname(q), DoubleType()) for q in qs]
        ),
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def spacesaving_stream_topk(
    events: DataFrame,
    key_col: str = "event_type",
    item_col: str = "user_id",
    k: int = 5,
    capacity: int = 50,
) -> DataFrame:
    """Per-key streaming heavy hitters: each group key holds one
    Space-Saving summary (state = O(capacity) counters,
    ``crick/space_saving_stubs.c.in:75-95``) in the state store; every
    micro-batch folds its rows in and emits the current top-k with error
    bounds.  Uses ``applyInPandasWithState`` (GroupState), the state API
    this engine runs and oracles its streaming sketches on."""
    return events.groupBy(key_col).applyInPandasWithState(
        _group_state_update(fold_spacesaving, item_col, k, capacity),
        outputStructType=TOPK_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
