"""Spark 4.x ``transformWithStateInPandas`` state operators (r14, VERDICT
r13 #6): per-key TTL and event-time TIMERS replace watermark-only
eviction for session and sketch state.

Why this API matters at 100 TB: the ``applyInPandasWithState`` forms
(sketch_state.py, and the session_window aggregate) can only reap idle
keys through watermark timeouts tied to the query's event-time column —
every key's state lives until the watermark passes it, and nothing can
fire BETWEEN batches.  ``transformWithStateInPandas`` gives each key
(a) ``ttlDurationMs`` on the state value itself — the state store
evicts idle keys without any watermark plumbing — and (b) registered
event-time timers, so a session closes exactly when its gap expires
(``handleExpiredTimer``) instead of waiting for the key's next input
batch.  With the RocksDB state store provider that is the
bounded-state story for billions of keys.

Runtime gating: the TWS Python worker speaks protobuf to the JVM state
server; this container lacks ``google.protobuf``, so the stream forms
raise with the probe's reason (``sketch_state.tws_available``) and the
e2e equivalence tests record an explicit env skip.  The PROCESSOR
LOGIC, however, is fully verified here: processors are plain classes
over a narrow handle interface, so tests drive ``handleInputRows`` /
``handleExpiredTimer`` directly against a mock handle and assert
session/sketch semantics against batch recomputation
(tests/test_streaming.py) — the only thing the skip leaves unexercised
is Spark's own state transport.

Reference parity: the state payload is the same encoded crick-semantics
sketch the ``applyInPandasWithState`` forms carry (one TDigest /
SpaceSaving per key, SURVEY §3.3), folded by the same
``sketch_state.fold_*`` bodies; those forms stay the proven
equivalence twins.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from crick_spark.streaming.sketch_state import (
    STATE_SCHEMA,
    fold_tdigest,
    quantiles_schema,
    tws_available,
)

SESSION_STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n", LongType()),
        StructField("sum_value", DoubleType()),
    ]
)
SESSION_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
    ]
)


def _require_stateful_processor():
    """Import StatefulProcessor if the API exists, else a plain-object
    stand-in — the processor classes must be DEFINABLE (for the mock
    tests) even where the stream runtime can't run."""
    try:
        from pyspark.sql.streaming import StatefulProcessor

        return StatefulProcessor
    except ImportError:  # pragma: no cover - present on pyspark>=4
        return object


_Base = _require_stateful_processor()


def _session_row(user: int, start_us: int, n: int, sv: float) -> dict:
    return {
        "user_id": int(user),
        "session_start": pd.Timestamp(int(start_us), unit="us"),
        "n_events": int(n),
        "sum_value": round(float(sv), 4),
    }


class SessionRollupProcessor(_Base):
    """Gap-based session windows per user with event-time timers.

    State = the OPEN session only (4 scalars per key).  Sessions closed
    by in-batch evidence (a later event > gap after the session's last)
    emit immediately from ``handleInputRows``; the final open session
    emits from ``handleExpiredTimer`` when the watermark passes
    ``last_ts + gap`` — the semantics ``session_window`` implements
    inside the JVM aggregate, re-expressed on the public state API so
    the session can carry arbitrary payloads (sketches, not just sums).
    Single-timer discipline: each fold re-registers the one timer at the
    new session end and deletes the stale one, so timer count is O(keys),
    not O(batches).
    """

    def __init__(self, gap_ms: int, ttl_ms: int | None = None):
        self.gap_us = int(gap_ms) * 1000
        self.ttl_ms = ttl_ms

    def init(self, handle) -> None:
        self._state = handle.getValueState(
            "session", SESSION_STATE_SCHEMA, ttlDurationMs=self.ttl_ms
        )
        self._handle = handle

    def handleInputRows(
        self, key: Any, rows: Iterable[pd.DataFrame], timerValues
    ) -> Iterator[pd.DataFrame]:
        pdfs = [pdf for pdf in rows if len(pdf)]
        if not pdfs:
            return
        batch = pd.concat(pdfs, ignore_index=True).sort_values("ts")
        ts_us = batch["ts"].to_numpy("datetime64[us]").astype(np.int64)
        vals = batch["value"].to_numpy(np.float64)
        if self._state.exists():
            start_us, last_us, n, sv = self._state.get()
        else:
            start_us, last_us, n, sv = int(ts_us[0]), None, 0, 0.0
        closed: list[dict] = []
        for t, v in zip(ts_us, vals):
            if last_us is not None and t - last_us > self.gap_us:
                closed.append(_session_row(key[0], start_us, n, sv))
                start_us, n, sv = int(t), 0, 0.0
            last_us = int(t)
            n += 1
            sv += float(v)
        for old in self._handle.listTimers():
            self._handle.deleteTimer(old)
        self._state.update((int(start_us), int(last_us), int(n), float(sv)))
        self._handle.registerTimer((last_us + self.gap_us) // 1000)
        if closed:
            yield pd.DataFrame(closed)

    def handleExpiredTimer(
        self, key: Any, timerValues, expiredTimerInfo
    ) -> Iterator[pd.DataFrame]:
        if not self._state.exists():
            return
        start_us, last_us, n, sv = self._state.get()
        if expiredTimerInfo.getExpiryTimeInMs() * 1000 < last_us + self.gap_us:
            # stale timer from before a fold extended the session
            return
        yield pd.DataFrame([_session_row(key[0], start_us, n, sv)])
        self._state.clear()

    def close(self) -> None:
        pass


class TDigestQuantilesProcessor(_Base):
    """Per-key running t-digest with state-store TTL eviction.

    Same fold/emit semantics as ``sketch_state.tdigest_stream_quantiles``
    (the applyInPandasWithState twin): state is ONE encoded digest per
    key — ≤ 2·ceil(compression) centroids (crick/tdigest_stubs.c:65) —
    but idle keys are evicted by ``ttlDurationMs`` on the value state
    itself, no watermark required on the query.
    """

    def __init__(
        self,
        value_col: str = "value",
        qs: tuple[float, ...] = (0.5, 0.9, 0.99),
        compression: float = 100.0,
        ttl_ms: int | None = None,
    ):
        self.value_col = value_col
        self.qs = qs
        self.compression = compression
        self.ttl_ms = ttl_ms

    def init(self, handle) -> None:
        self._state = handle.getValueState(
            "digest", STATE_SCHEMA, ttlDurationMs=self.ttl_ms
        )

    def handleInputRows(
        self, key: Any, rows: Iterable[pd.DataFrame], timerValues
    ) -> Iterator[pd.DataFrame]:
        blob, out = fold_tdigest(
            self._state.get()[0] if self._state.exists() else None,
            rows,
            key[0],
            self.value_col,
            self.qs,
            self.compression,
        )
        self._state.update((blob,))
        yield out

    def close(self) -> None:
        pass


def _gap_to_ms(gap: str) -> int:
    num, unit = gap.split()
    mult = {
        "second": 1000,
        "seconds": 1000,
        "minute": 60_000,
        "minutes": 60_000,
        "hour": 3_600_000,
        "hours": 3_600_000,
    }[unit]
    return int(num) * mult


def session_rollup_tws(
    events: DataFrame,
    gap: str = "10 minutes",
    watermark: str = "30 minutes",
    ttl: str | None = None,
) -> DataFrame:
    """``session_rollup_batch`` semantics on the Spark 4.x state API:
    event-time timers close sessions at gap expiry, optional TTL evicts
    idle keys.  Raises ImportError where the protobuf runtime is absent
    (``tws_available``); the processor logic itself is mock-verified in
    tests either way."""
    ok, reason = tws_available()
    if not ok:
        raise ImportError(f"transformWithStateInPandas unavailable: {reason}")
    proc = SessionRollupProcessor(
        _gap_to_ms(gap), _gap_to_ms(ttl) if ttl else None
    )
    return (
        events.withWatermark("ts", watermark)
        .select("user_id", "ts", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            proc,
            outputStructType=SESSION_OUT_SCHEMA,
            outputMode="Append",
            timeMode="EventTime",
        )
    )


def tdigest_stream_quantiles_tws(
    events: DataFrame,
    key_col: str = "event_type",
    value_col: str = "value",
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    compression: float = 100.0,
    ttl: str | None = "1 hour",
) -> DataFrame:
    """``sketch_state.tdigest_stream_quantiles`` on the Spark 4.x state
    API with per-key TTL.  Same emission schema; raises ImportError
    where the protobuf runtime is absent."""
    ok, reason = tws_available()
    if not ok:
        raise ImportError(f"transformWithStateInPandas unavailable: {reason}")
    proc = TDigestQuantilesProcessor(
        value_col, qs, compression, _gap_to_ms(ttl) if ttl else None
    )
    return events.groupBy(key_col).transformWithStateInPandas(
        proc,
        outputStructType=quantiles_schema(qs),
        outputMode="Update",
        timeMode="None",
    )
