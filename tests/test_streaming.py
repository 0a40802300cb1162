"""Streaming tests: batch/stream equivalence, incremental multi-trigger
processing, stateful sketch accuracy, watermark/late-data semantics."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from crick_spark.operators import tdigest_quantiles
from crick_spark.sources.tables import load_table
from crick_spark.streaming import (
    session_rollup_batch,
    stream_events,
    streamed_hourly_rollup,
    tdigest_stream_quantiles,
    windowed_rollup,
)
from tests.conftest import SF_SMALL


def test_stream_equals_batch_hourly(spark):
    """Structured Streaming correctness contract: same input ⇒ same result."""
    streamed = streamed_hourly_rollup(spark, SF_SMALL).toPandas()
    ev = load_table(spark, SF_SMALL, "events")
    batch = (
        windowed_rollup(ev)
        .select(
            F.col("w.start").alias("hour_start"),
            "event_type",
            "cnt",
            "sum_value",
            "min_value",
            "max_value",
        )
        .toPandas()
    )
    cols = sorted(streamed.columns)
    s = streamed[cols].sort_values(cols, ignore_index=True)
    b = batch[cols].sort_values(cols, ignore_index=True)
    assert s.equals(b)


def test_sliding_window_batch(spark):
    ev = load_table(spark, SF_SMALL, "events")
    out = windowed_rollup(ev, window="2 hours", slide="1 hour").toPandas()
    n_hours = ev.select(F.date_trunc("hour", "ts")).distinct().count()
    # every event lands in exactly 2 sliding windows
    assert out["cnt"].sum() == 2 * ev.count()
    assert len(out) > n_hours


def test_session_rollup_conservation(spark):
    ev = load_table(spark, SF_SMALL, "events")
    out = session_rollup_batch(ev, "10 minutes").toPandas()
    assert out["n_events"].sum() == ev.count()
    # sessions per user ≥ 1, starts unique per user
    per_user = out.groupby("user_id")["session_start"].nunique()
    sizes = out.groupby("user_id").size()
    assert (per_user == sizes).all()


def test_streaming_session_equals_batch(spark):
    """Stream ≡ batch for SESSION windows (r9, VERDICT item 7): the
    Structured Streaming session_window rollup (watermark + complete
    mode, availableNow over multi-file micro-batches) must equal the
    batch session_window rollup row-for-row — merging-session state
    across micro-batches cannot change the final sessionization."""
    from crick_spark.plans import QUERIES

    streamed = (
        QUERIES["streaming_session_rollup"].fn(spark, SF_SMALL)
        .toPandas()
        .sort_values(["user_id", "session_start"], ignore_index=True)
    )
    ev = load_table(spark, SF_SMALL, "events")
    batch = (
        session_rollup_batch(ev, "10 minutes")
        .withColumn(
            "session_start", F.col("session_start").cast("timestamp_ntz")
        )
        .toPandas()
        .sort_values(["user_id", "session_start"], ignore_index=True)
    )
    cols = ["user_id", "session_start", "n_events", "sum_value"]
    assert streamed[cols].equals(batch[cols])
    assert len(streamed) > 0


def test_tdigest_stream_state_matches_batch(spark):
    """Final streaming-state digest ≈ batch digest over the same data,
    fed through multiple triggers (maxFilesPerTrigger=1 still gives ≥1
    micro-batch; state merge path exercised by partitioned input)."""
    sdf = stream_events(spark, SF_SMALL)
    out = tdigest_stream_quantiles(sdf, "event_type", "value", (0.5, 0.9))
    sink = f"t_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    res = spark.table(sink)
    final = (
        res.groupBy("key")
        .agg(F.max_by(F.struct("n", "p0_5", "p0_9"), "n").alias("s"))
        .select("key", "s.*")
        .toPandas()
        .set_index("key")
    )
    ev = load_table(spark, SF_SMALL, "events")
    batch = (
        tdigest_quantiles(ev, "value", [0.5, 0.9], by=["event_type"])
        .toPandas()
        .set_index("event_type")
    )
    counts = {
        r["event_type"]: r["cnt"]
        for r in ev.groupBy("event_type").agg(F.count("*").alias("cnt")).collect()
    }
    assert set(final.index) == set(batch.index)
    for k in final.index:
        assert final.loc[k, "n"] == counts[k]
        for col in ("p0_5", "p0_9"):
            rel = abs(final.loc[k, col] - batch.loc[k, col]) / max(
                1e-9, abs(batch.loc[k, col])
            )
            assert rel <= 0.05, (k, col, final.loc[k, col], batch.loc[k, col])


def test_watermark_drops_late_data(spark, tmp_path):
    """Append-mode windowed agg with watermark: a record older than the
    watermark at its arrival time is dropped (late-data semantics)."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    def write_batch(rows):
        spark.createDataFrame(rows, "ts timestamp, v double").coalesce(1).write.mode(
            "append"
        ).parquet(src)

    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    # batch 1: establishes watermark at 03:00 - 1h = 02:00
    write_batch([(t0 + dt.timedelta(hours=3), 1.0), (t0 + dt.timedelta(hours=3, minutes=5), 2.0)])

    sdf = spark.readStream.schema("ts timestamp, v double").parquet(src)
    agg = (
        sdf.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").alias("ws"), "cnt")
    )
    def run_once():
        q = (
            agg.writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()  # watermark after: 02:05
    # batch 2: hour-0 record is now LATE (watermark 02:05 > its window end
    # 01:00 → dropped); hour-4 record is on time and advances the watermark
    write_batch([(t0 + dt.timedelta(hours=4, minutes=10), 3.0), (t0, 99.0)])
    run_once()  # watermark after: 03:10
    # two more advancing batches so the hour-3/hour-4 windows close & emit
    write_batch([(t0 + dt.timedelta(hours=6), 4.0)])
    run_once()  # watermark after: 05:00 → emits windows ending ≤ 03:10
    write_batch([(t0 + dt.timedelta(hours=8), 5.0)])
    run_once()  # watermark 05:00 at start → emits hour-3 and hour-4 windows
    emitted = {r["ws"]: r["cnt"] for r in spark.read.parquet(out_dir).collect()}
    # hour-3 window closed and emitted; hour-0 late record never appears
    assert t0 + dt.timedelta(hours=3) in emitted
    assert emitted[t0 + dt.timedelta(hours=3)] == 2
    # the hour-4 window emitted exactly 1 row: the late hour-0 record from
    # the same input file was dropped, not misassigned
    assert emitted.get(t0 + dt.timedelta(hours=4)) == 1
    assert t0 not in emitted


def test_spacesaving_stream_topk_exact_regime(spark):
    """One availableNow pass with capacity ≥ |distinct| → counts exact and
    error 0; returned items dominate all excluded items."""
    import uuid

    from crick_spark.streaming.sketch_state import spacesaving_stream_topk
    from crick_spark.streaming.windows import stream_events

    sdf = stream_events(spark, SF_SMALL)
    out = spacesaving_stream_topk(sdf, "event_type", "user_id", k=5, capacity=5000)
    sink = f"t_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.table(sink).toPandas()

    ev = load_table(spark, SF_SMALL, "events")
    exact = (
        ev.groupBy("event_type", "user_id").count().toPandas()
    )
    for key, g in got.groupby("key"):
        ex = exact[exact["event_type"] == key].set_index("user_id")["count"]
        assert (g["error"] == 0).all()
        for _, r in g.iterrows():
            assert ex[r["item"]] == r["cnt"], (key, r["item"])
        excluded = ex.drop(index=g["item"])
        assert g["cnt"].min() >= excluded.max(), key


def test_sketch_state_carries_across_micro_batches(spark, tmp_path):
    """Two micro-batches: the second folds into the binary state the first
    stored, so each key's final digest mass is its full event count."""
    import pyarrow.parquet as pq

    from crick_spark.sources.tables import normalize_events_ts

    events = pq.read_table(f"{SF_SMALL}/events.parquet")
    half = events.num_rows // 2
    pq.write_table(events.slice(0, half), str(tmp_path / "a.parquet"))
    pq.write_table(events.slice(half), str(tmp_path / "b.parquet"))
    load_table(spark, SF_SMALL, "events")  # sets the nanos conf
    sdf = normalize_events_ts(
        spark.readStream.schema(spark.read.parquet(str(tmp_path)).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path))
    )
    sink = f"t_{uuid.uuid4().hex[:8]}"
    q = (
        tdigest_stream_quantiles(sdf, "event_type", "value", (0.5,))
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert len(q.recentProgress) == 2
    final = {
        r["key"]: r["n"]
        for r in spark.table(sink).groupBy("key").agg(F.max("n").alias("n")).collect()
    }
    counts = events.group_by("event_type").aggregate([("event_type", "count")])
    assert final == dict(
        zip(counts["event_type"].to_pylist(), counts["event_type_count"].to_pylist())
    )


def test_incremental_dedup_equals_batch_lsh(spark, tmp_path):
    """The streaming incremental candidate set (4 micro-batches folding
    into a persisted bucket store) must equal the single-batch
    lsh_candidate_pairs set EXACTLY — signatures and band buckets are
    deterministic per doc, so batching cannot change the union."""
    from crick_spark.pipeline.dedup import lsh_candidate_pairs, minhash_signatures
    from crick_spark.sources.tables import load_table
    from crick_spark.streaming.incremental_dedup import (
        incremental_near_dup_candidates,
    )

    docs = load_table(spark, SF_SMALL, "documents")
    src = str(tmp_path / "docs")
    docs.repartition(4).write.parquet(src)
    sdf = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    got = {
        (r.id_a, r.id_b)
        for r in incremental_near_dup_candidates(
            spark, sdf, "doc_id", "text", work_dir=str(tmp_path / "state")
        ).collect()
    }
    sigs = minhash_signatures(docs, "doc_id", "text")
    want = {(r.id_a, r.id_b) for r in lsh_candidate_pairs(sigs, "doc_id").collect()}
    assert got == want and len(got) > 0


def test_incremental_dedup_state_probe_is_not_driver_local(spark, tmp_path):
    """The bucket-store existence probe must go through the Hadoop
    FileSystem (portable to s3a://hdfs://), never ``os.path``.  Drive
    two batches against a ``file:``-scheme URI — a path string for which
    ``os.path.isdir`` is always False — and assert the second batch
    still finds the history and emits cross-batch candidates."""
    import os

    from crick_spark.streaming.incremental_dedup import process_batch

    batch_a = load_table(spark, SF_SMALL, "documents").limit(50).cache()
    # batch B = the SAME texts under shifted ids → every B doc collides
    # with its A twin in every band, so cross-batch pairs are guaranteed
    batch_b = batch_a.withColumn("doc_id", F.col("doc_id") + F.lit(10_000_000))
    state = f"file:{tmp_path}/buckets"
    pairs = f"file:{tmp_path}/pairs"
    assert not os.path.isdir(state)  # the URI form defeats os.path
    process_batch(spark, batch_a, "doc_id", "text", state, pairs, batch_id=0)
    assert not os.path.isdir(state)  # still not visible to os.path...
    process_batch(spark, batch_b, "doc_id", "text", state, pairs, batch_id=1)
    got = {
        (r.id_a, r.id_b)
        for r in spark.read.parquet(pairs)
        .select("id_a", "id_b")
        .distinct()
        .collect()
    }
    a_ids = {r.doc_id for r in batch_a.select("doc_id").collect()}
    # every (a, a+10M) twin pair must have been found via the history join
    twins = {(i, i + 10_000_000) for i in a_ids}
    assert twins <= got
    batch_a.unpersist()


def test_session_window_state_evicted_after_watermark(spark, tmp_path):
    """Session-window state must be EVICTED once the watermark passes the
    session's close (SURVEY §7.3 risk: unbounded state under high-
    cardinality keys).  Feed 300 one-event user sessions, then advance
    event time far past watermark+gap in later micro-batches; the state
    operator's numRowsTotal must first hold all 300 sessions and then
    drop to (nearly) zero — results alone can't show this, only the
    state-store metrics can."""
    import datetime as dt
    import json
    import os
    import time

    src = tmp_path / "sess_src"
    src.mkdir()
    base = dt.datetime(2026, 1, 1, 0, 0, 0)
    users = list(range(300))
    f1 = spark.createDataFrame(
        [(u, base, 1.0) for u in users], "user_id long, ts timestamp, value double"
    )
    # two later files so the watermark advanced by f2 is APPLIED (and
    # state evicted) in the batch that reads f3
    f2 = spark.createDataFrame(
        [(9001, base + dt.timedelta(hours=6), 1.0)],
        "user_id long, ts timestamp, value double",
    )
    f3 = spark.createDataFrame(
        [(9002, base + dt.timedelta(hours=12), 1.0)],
        "user_id long, ts timestamp, value double",
    )
    for i, df in enumerate((f1, f2, f3)):
        p = str(src / f"f{i}.parquet")
        df.coalesce(1).write.mode("overwrite").parquet(p)
        # file source orders micro-batches by modification time
        t = time.time() + i * 2
        for root, _, files in os.walk(p):
            for fn in files:
                os.utime(os.path.join(root, fn), (t, t))
    sdf = (
        spark.readStream.schema(f1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    agg = (
        sdf.withWatermark("ts", "30 minutes")
        .groupBy(F.session_window("ts", "10 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    sink = f"sess_evict_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    state_rows = [
        p["stateOperators"][0]["numRowsTotal"]
        for p in (json.loads(pr.json) for pr in q.recentProgress)
        if p.get("stateOperators")
    ]
    assert max(state_rows) >= 300, state_rows  # all sessions held at peak
    assert state_rows[-1] <= 2, state_rows  # evicted after watermark passed
    # and the finalized sessions were all emitted downstream
    assert spark.table(sink).count() >= 300


def test_incremental_dedup_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: replaying a micro-batch with the
    same batch_id must OVERWRITE its state partition, not append a
    second copy — otherwise every future cross-batch join fans out on
    duplicated bucket rows."""
    from crick_spark.streaming.incremental_dedup import process_batch

    docs = load_table(spark, SF_SMALL, "documents").limit(100)
    state = str(tmp_path / "buckets")
    pairs = str(tmp_path / "pairs")
    process_batch(spark, docs, "doc_id", "text", state, pairs, batch_id=0)
    once = spark.read.parquet(state).count()
    pairs_once = spark.read.parquet(pairs).count()
    # replay the same batch id (simulated retry after failure)
    process_batch(spark, docs, "doc_id", "text", state, pairs, batch_id=0)
    assert spark.read.parquet(state).count() == once
    assert spark.read.parquet(pairs).count() == pairs_once


def test_sketch_store_replay_fencing_and_mass(spark, tmp_path):
    """SketchStore.fold is idempotent under batch replay (foreachBatch
    re-executes batches after failures): a replayed id is a fenced no-op,
    digest mass equals the exact row count after distinct batches, and
    all state round-trips through disk (fresh SketchStore object —
    nothing process-local)."""
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    from crick_spark.streaming.sketch_store import SketchStore

    b0 = spark.createDataFrame(
        [("a", 1.0, 10), ("a", 2.0, 11), ("b", 5.0, 12)],
        "event_type string, value double, user_id long",
    )
    b1 = spark.createDataFrame(
        [("a", 3.0, 10), ("b", 6.0, 13)],
        "event_type string, value double, user_id long",
    )
    store = SketchStore(str(tmp_path / "store"))
    assert store.fold(b0, 0) is True
    assert store.fold(b1, 1) is True
    # replays of both batches: fenced no-ops
    assert store.fold(b0, 0) is False
    assert store.fold(b1, 1) is False

    schema = StructType([StructField("mass", DoubleType())])
    # a FRESH handle proves the state lives on disk, not in the object
    store2 = SketchStore(str(tmp_path / "store"))
    mass = {
        r["event_type"]: r["mass"]
        for r in store2.digests(
            spark, lambda sk: pd.DataFrame([{"mass": float(sk.size())}]), schema
        ).collect()
    }
    assert mass == {"a": 3.0, "b": 2.0}  # replay did NOT double-ingest
    est = {
        r["event_type"]: r["est_stream"]
        for r in store2.hll_estimates(spark).collect()
    }
    assert round(est["a"]) == 2 and round(est["b"]) == 2


def test_sketch_store_noncontiguous_ids_and_empty_store(spark, tmp_path):
    """flip derives from store state, not batch-id parity: folding ids
    0 then 2 (same parity) must not read-and-overwrite one path; a fresh
    store raises a clear error instead of parquet(None)."""
    import pandas as pd
    import pytest as _pytest
    from pyspark.sql.types import DoubleType, StructField, StructType

    from crick_spark.streaming.sketch_store import SketchStore

    store = SketchStore(str(tmp_path / "store"))
    with _pytest.raises(ValueError, match="empty"):
        store.digests(
            spark,
            lambda sk: pd.DataFrame([{"mass": float(sk.size())}]),
            StructType([StructField("mass", DoubleType())]),
        )
    b = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "event_type string, value double, user_id long"
    )
    assert store.fold(b([("a", 1.0, 1)]), 0)
    assert store.fold(b([("a", 2.0, 2)]), 2)  # same parity as 0
    assert store.fold(b([("a", 3.0, 3)]), 5)
    mass = store.digests(
        spark,
        lambda sk: pd.DataFrame([{"mass": float(sk.size())}]),
        StructType([StructField("mass", DoubleType())]),
    ).collect()
    assert mass[0]["mass"] == 3.0


def test_sketch_store_meta_is_append_only(spark, tmp_path):
    """The commit marker must be append-only (round-6 advice fix): an
    overwrite-in-place meta deletes the previous commit before the new
    one lands, so a crash in that window reads as a fresh store and
    silently drops all state.  After N folds the meta log holds N rows
    and read_meta picks max(batch_id)."""
    from crick_spark.streaming.sketch_store import SketchStore

    store = SketchStore(str(tmp_path / "store"))
    b = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "event_type string, value double, user_id long"
    )
    assert store.fold(b([("a", 1.0, 1)]), 0)
    assert store.fold(b([("a", 2.0, 2)]), 1)
    assert store.fold(b([("a", 3.0, 3)]), 2)
    log = spark.read.parquet(str(tmp_path / "store" / "meta"))
    assert log.count() == 3  # every generation retained, none overwritten
    bid, td, hll = store.read_meta(spark)
    assert bid == 2 and td is not None and hll is not None
    # deleting the NEWEST row (≈ crash before its commit landed) must
    # fall back to the previous generation, never to 'fresh'
    import pyspark.sql.functions as F

    rows = log.where(F.col("batch_id") < 2).collect()
    assert {r["batch_id"] for r in rows} == {0, 1}
    # meta protocol v2 (r14): driver-written commit files — remote
    # schemes refused loudly; single-slash file URIs normalize
    with pytest.raises(ValueError, match="scheme 's3a:'"):
        SketchStore("s3a://bucket/store")
    uri_store = SketchStore(f"file:{tmp_path}/uri_store")
    assert uri_store._meta_local == f"{tmp_path}/uri_store/meta"


def test_sketch_store_both_writes_fail(spark, tmp_path, monkeypatch):
    """When the t-digest and HLL writes both fail, fold raises the
    t-digest (first-started) write's error chained to the HLL one, even
    though the HLL write fails first, and commits no meta generation."""
    import time
    import traceback

    from pyspark.sql.readwriter import DataFrameWriter

    from crick_spark.streaming.sketch_store import SketchStore

    def failing_parquet(self, path, *args, **kwargs):
        if "/td_" in path:
            time.sleep(0.5)
            raise OSError(f"td write failed: {path}")
        raise OSError(f"hll write failed: {path}")

    monkeypatch.setattr(DataFrameWriter, "parquet", failing_parquet)
    store = SketchStore(str(tmp_path / "store"))
    batch = spark.createDataFrame(
        [("a", 1.0, 1)], "event_type string, value double, user_id long"
    )
    with pytest.raises(OSError, match="td write failed") as info:
        store.fold(batch, 0)
    assert "hll write failed" in str(info.value.__cause__)
    text = "".join(traceback.format_exception(info.value))
    assert "td write failed" in text and "hll write failed" in text
    assert store._meta_files() == []
    assert store.read_meta(spark) == (-1, None, None)


def test_sketch_store_retention_bounds_state(spark, tmp_path):
    """Round-6 sliding-window TTL: with retention_days=3 a 6-day replay
    keeps at most groups x 3 day-partial rows on disk (state bounded
    under arbitrarily long replays), and the final digests/HLL answer
    EXACTLY over the retained window (digest mass = retained row count;
    HLL union over day-partials = direct HLL — lossless)."""
    import datetime

    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    from crick_spark.streaming.sketch_store import SketchStore

    base = datetime.datetime(2024, 5, 1, 12, 0, 0)
    store = SketchStore(
        str(tmp_path / "store"), by=["event_type"], retention_days=3
    )

    def batch(day, rows):
        return spark.createDataFrame(
            [
                ("a", float(v), uid, base + datetime.timedelta(days=day))
                for v, uid in rows
            ],
            "event_type string, value double, user_id long, ts timestamp",
        )

    all_rows = {}
    for day in range(6):
        rows = [(day * 10 + i, 100 + day * 2 + (i % 2)) for i in range(day + 2)]
        all_rows[day] = rows
        assert store.fold(batch(day, rows), day) is True

    bid, td_path, _ = store.read_meta(spark)
    assert bid == 5
    stored = spark.read.parquet(td_path)
    days_on_disk = [r["__day__"] for r in stored.select("__day__").distinct().collect()]
    assert len(days_on_disk) == 3  # days 3,4,5 only — state bounded
    assert min(days_on_disk).day == 4  # 2024-05-01 + 3 days

    retained = [v for day in (3, 4, 5) for v in all_rows[day]]
    schema = StructType([StructField("mass", DoubleType())])
    mass = store.digests(
        spark, lambda sk: pd.DataFrame([{"mass": float(sk.size())}]), schema
    ).collect()[0]["mass"]
    assert mass == float(len(retained))
    est = store.hll_estimates(spark).collect()[0]["est_stream"]
    assert round(est) == len({uid for _, uid in retained})
    # replay fencing still active under retention
    assert store.fold(batch(5, all_rows[5]), 5) is False


def test_bloom_dedup_store_replay_fence_and_invariants(spark, tmp_path):
    """BloomDedupStore: keys never emitted twice across batches, replayed
    batch ids are no-ops (idempotent restart), and survivors cover the
    distinct key set up to the fpp bound."""
    import pandas as pd

    from crick_spark.streaming.bloom_dedup import BloomDedupStore

    store = BloomDedupStore(str(tmp_path / "store"), key_col="k", n_bits=1 << 16)
    b0 = spark.createDataFrame(pd.DataFrame({"k": [1, 2, 3, 2, 1]}))
    b1 = spark.createDataFrame(pd.DataFrame({"k": [3, 4, 5, 4]}))

    assert store.fold(b0, 0) is True
    assert store.fold(b0, 0) is False  # replay fenced
    assert store.fold(b1, 1) is True

    surv = store.survivors(spark).toPandas()
    # batch 0 emits {1,2,3}; batch 1 emits only the new {4,5}
    assert sorted(surv[surv.batch_id == 0]["k"]) == [1, 2, 3]
    assert sorted(surv[surv.batch_id == 1]["k"]) == [4, 5]
    # never twice, ever
    assert surv["k"].is_unique
    # n_in_batch carries the within-batch multiplicity of the first batch
    assert int(surv[surv.k == 2]["n_in_batch"].iloc[0]) == 2


def test_bloom_dedup_store_commit_protocol(spark, tmp_path):
    """v2 commit protocol: each fold publishes ONE append-only meta file
    carrying the snapshot itself (atomic rename, written last).  The
    live generation is never overwritten in place; in-flight tmp files
    and foreign junk are invisible to readers; vacuum bounds the
    generation count without ever touching the latest; remote-scheme
    base dirs are refused at construction (single-slash 'file:' URIs
    normalize instead of bypassing the guard — r10 ADVICE)."""
    import os

    import pandas as pd
    import pytest

    from crick_spark.streaming.bloom_dedup import BloomDedupStore

    store = BloomDedupStore(str(tmp_path / "store"), key_col="k", n_bits=1 << 16)
    for bid in range(4):
        df = spark.createDataFrame(pd.DataFrame({"k": [bid * 10, bid * 10 + 1]}))
        assert store.fold(df, bid) is True
    # one committed generation per fold, append-only
    files = store._meta_files()
    assert [b for b, _ in files] == [0, 1, 2, 3]
    # a torn in-flight write (crash mid-pq.write_table) is invisible
    with open(os.path.join(store._meta_local, ".part-junk.parquet.tmp"), "wb") as f:
        f.write(b"torn")
    with open(os.path.join(store._meta_local, "not-a-part.txt"), "w") as f:
        f.write("junk")
    bid, bf = store.read_meta(spark)
    assert bid == 3 and bf is not None
    # the committed filter answers True for every key ever folded
    import numpy as np

    from crick_spark.operators.crick_ops import _bloom_key

    all_keys = spark.createDataFrame(
        pd.DataFrame({"k": [b * 10 + i for b in range(4) for i in (0, 1)]})
    )
    hashes = all_keys.select(_bloom_key(all_keys, "k").alias("h")).toPandas()["h"]
    assert bf.contains_batch(hashes.to_numpy(np.int64)).all()
    # vacuum keeps the newest generations only, never the latest == 0
    assert store.vacuum(keep_last=2) == 2
    assert [b for b, _ in store._meta_files()] == [2, 3]
    assert store.read_meta(spark)[0] == 3
    assert store.vacuum(keep_last=0) == 1  # clamped: latest survives
    assert store.read_meta(spark)[0] == 3
    # replay fencing intact after vacuum
    assert store.fold(all_keys, 3) is False
    # remote schemes refused loudly; single-slash file URIs normalize
    with pytest.raises(ValueError, match="scheme 's3a:'"):
        BloomDedupStore("s3a://bucket/store", key_col="k")
    uri_store = BloomDedupStore(f"file:{tmp_path}/uri_store", key_col="k")
    assert uri_store._meta_local == f"{tmp_path}/uri_store/meta"


def test_bloom_dedup_store_crash_replay_is_idempotent(spark, tmp_path):
    """Crash between the survivor write and the meta commit: the replayed
    batch must REWRITE its survivor partition, not append a second copy."""
    import pandas as pd

    from crick_spark.streaming.bloom_dedup import BloomDedupStore

    store = BloomDedupStore(str(tmp_path / "store"), key_col="k", n_bits=1 << 16)
    b0 = spark.createDataFrame(pd.DataFrame({"k": [1, 2, 3]}))
    assert store.fold(b0, 0) is True

    # simulate the crash window for batch 1: survivors landed, meta did not
    b1 = spark.createDataFrame(pd.DataFrame({"k": [3, 4, 5]}))
    b1.groupBy("k").agg(F.count("*").alias("n_in_batch")).where(
        F.col("k").isin(4, 5)
    ).select("k", "n_in_batch").write.mode("overwrite").parquet(
        f"{store._out}/batch_id=1"
    )
    # restart replays batch 1 from the source (meta still at batch 0)
    assert store.fold(b1, 1) is True
    surv = store.survivors(spark).toPandas()
    assert sorted(surv[surv.batch_id == 1]["k"]) == [4, 5]  # one copy, not two
    assert surv["k"].is_unique


def test_bloom_distributed_fold_matches_driver_fold(spark):
    """bloom_build_bytes (per-partition partials + OR-merge) is BYTE-
    identical to a single driver-side fold over the same keys, on a
    multi-partition input — OR-merge is exact, so the distributed path in
    BloomDedupStore.fold changes nothing but scalability."""
    import pickle

    import numpy as np
    import pandas as pd

    from crick_spark.operators.crick_ops import _bloom_key, bloom_build_bytes
    from crick_spark.sketches.bloom import BloomFilter

    pdf = pd.DataFrame({"k": np.arange(5000) % 1700})
    # fold() builds over the batch's DISTINCT keys; mirror that here so
    # n_added (part of the pickled state) is comparable too
    df = spark.createDataFrame(pdf).distinct().repartition(8)
    blob = bloom_build_bytes(df, "k", n_bits=1 << 16, n_hashes=5)

    hashes = (
        df.select(_bloom_key(df, "k").alias("h")).distinct().toPandas()["h"]
    )
    driver = BloomFilter(n_bits=1 << 16, n_hashes=5)
    driver.add_batch(hashes.to_numpy(np.int64))
    dist = pickle.loads(blob)
    assert np.array_equal(dist.words, driver.words)
    assert dist.n_added == driver.n_added == 1700
    assert pickle.dumps(dist) == pickle.dumps(driver)


def test_cluster_store_incremental_equals_full_closure(spark, tmp_path):
    """Folding near-dup pair batches into the persisted labeling one at a
    time yields EXACTLY the labels of a full connected-components
    re-closure over the union of all pairs, after every batch — including
    batches that merge previously separate components and batches that
    only add new nodes.  Replays are fenced."""
    from crick_spark.pipeline.graph import connected_components
    from crick_spark.streaming.cluster_store import ClusterStore

    batches = [
        [(1, 2), (3, 4), (10, 11)],   # three components
        [(2, 3)],                     # merge {1,2} + {3,4}
        [(5, 6), (4, 5)],             # chain-extend the merged component
        [(7, 8), (11, 12)],           # new comp + grow an old one
        [(1, 4)],                     # within-component pair: no change
    ]
    store = ClusterStore(str(tmp_path / "store"))
    seen: list = []
    for bid, pb in enumerate(batches):
        df = spark.createDataFrame(pb, "id_a long, id_b long")
        assert store.fold(df, bid) is True
        assert store.fold(df, bid) is False  # fenced replay
        seen += pb
        full = connected_components(
            spark.createDataFrame(seen, "id_a long, id_b long"),
            src="id_a",
            dst="id_b",
        )
        inc = store.labels(spark)
        assert sorted(map(tuple, inc.collect())) == sorted(
            map(tuple, full.collect())
        ), f"divergence after batch {bid}"


def _bucket_files(path: str) -> dict[str, bytes]:
    """{relative file path: content} for every data file under a
    per-bucket snapshot directory."""
    import os

    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = fh.read()
    return out


def test_cluster_store_untouched_buckets_byte_identical(spark, tmp_path):
    """r8 bucketed snapshots: a fold rewrites ONLY the buckets holding a
    remapped component's members or a new node; every other bucket's
    current snapshot files stay the same on-disk files, byte for byte —
    the rewrite is O(touched buckets), not O(|labels|)."""
    from crick_spark.streaming.cluster_store import ClusterStore

    store = ClusterStore(str(tmp_path / "store"), n_buckets=8)
    # batch 0: many independent components spread across buckets
    b0 = [(i, i + 1000) for i in range(0, 40, 2)]
    assert store.fold(
        spark.createDataFrame(b0, "id_a long, id_b long"), 0
    )
    _, paths0, _ = store.read_meta(spark)
    before = {b: _bucket_files(p) for b, p in paths0.items()}
    # batch 1: one new pair touching a single known node — the only
    # buckets that may change are those of the remapped component's
    # members (0, 1000) and of the new node (77777)
    assert store.fold(
        spark.createDataFrame([(0, 77777)], "id_a long, id_b long"), 1
    )
    _, paths1, _ = store.read_meta(spark)
    from pyspark.sql import functions as F

    bkt = lambda n: spark.range(1).select(  # noqa: E731
        F.pmod(F.xxhash64(F.lit(n).cast("long")), F.lit(8)).cast("int")
    ).collect()[0][0]
    may_change = {bkt(0), bkt(1000), bkt(77777)}
    touched = {b for b in paths1 if paths1[b] != paths0.get(b)}
    assert touched, "the merge must rewrite at least one bucket"
    assert touched <= may_change, (touched, may_change)
    for b, p in paths1.items():
        if b in touched:
            continue
        # untouched buckets: same committed path AND same bytes
        assert p == paths0[b]
        assert _bucket_files(p) == before[b], f"bucket {b} rewritten"
    # labels stay exactly the full closure
    from crick_spark.pipeline.graph import connected_components

    full = connected_components(
        spark.createDataFrame(
            b0 + [(0, 77777)], "id_a long, id_b long"
        ),
        src="id_a",
        dst="id_b",
    )
    assert sorted(map(tuple, store.labels(spark).collect())) == sorted(
        map(tuple, full.collect())
    )


def test_cluster_store_delete_rtbf_semantics(spark, tmp_path):
    """r14 (VERDICT r13 #2): ClusterStore.delete erases nodes with
    representative relabeling — after a successful delete no forgotten
    id appears as a node, a component label, or a cindex component;
    survivors keep their component partition (node erasure, not graph
    re-closure); replays of a committed delete are fenced; and a fold
    AFTER the delete still equals the full closure over the post-delete
    labeling plus the new pairs (batch ≡ incremental-after-delete)."""
    from pyspark.sql import functions as F

    from crick_spark.pipeline.graph import connected_components
    from crick_spark.streaming.cluster_store import ClusterStore

    store = ClusterStore(str(tmp_path / "store"), n_buckets=8)
    # components {1,2,3}, {10,11}, {20,21,22}
    assert store.fold(
        spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)],
            "id_a long, id_b long",
        ),
        0,
    )
    # delete the rep of {1,2,3} (forces relabel to new min 2), a
    # non-rep member of {20,21,22} (label untouched), and an unknown id
    stats = store.delete(
        spark.createDataFrame([(1,), (21,), (99,)], "node long"), 1
    )
    assert stats["n_deleted"] == 2
    assert stats["n_relabeled_components"] == 1
    assert stats["n_erased_components"] == 0
    labels = {r["node"]: r["component"] for r in store.labels(spark).collect()}
    assert labels == {2: 2, 3: 2, 10: 10, 11: 10, 20: 20, 22: 20}
    # committed delete replays are fenced
    assert store.delete(
        spark.createDataFrame([(1,)], "node long"), 1
    ) is False
    # erase an entire component
    stats = store.delete(
        spark.createDataFrame([(10,), (11,)], "node long"), 2
    )
    assert stats["n_deleted"] == 2
    assert stats["n_erased_components"] == 1
    labels = {r["node"]: r["component"] for r in store.labels(spark).collect()}
    assert labels == {2: 2, 3: 2, 20: 20, 22: 20}
    # forgotten ids are gone from the component INDEX too (they would
    # otherwise leak through the remap probe's read path)
    _, _, idx_paths = store.read_meta(spark)
    idx = store._read_buckets(spark, idx_paths, None, ["component", "nbucket"])
    comps = {
        r["component"]
        for r in idx.where(F.col("component").isNotNull()).collect()
    }
    assert comps == {2, 20}, comps
    # batch ≡ incremental AFTER delete: fold new pairs (growing a
    # relabeled comp through a surviving member, plus a brand-new comp)
    new_pairs = [(3, 30), (30, 31), (40, 41)]
    assert store.fold(
        spark.createDataFrame(new_pairs, "id_a long, id_b long"), 3
    )
    base_edges = [(3, 2), (22, 20)]  # surviving labeling as edges
    full = connected_components(
        spark.createDataFrame(
            base_edges + new_pairs, "id_a long, id_b long"
        ),
        src="id_a",
        dst="id_b",
    )
    assert sorted(map(tuple, store.labels(spark).collect())) == sorted(
        map(tuple, full.collect())
    )


def test_cluster_store_empty_labeling_typed_not_none(spark, tmp_path):
    """r14 sf0.3 sweep find: a store whose commits hold no resident
    labels (pair-free folds, or deletes that emptied it) must return an
    EMPTY typed DataFrame from labels(), not None — callers chain
    groupBy/join on it, and a zero-near-dup corpus crashed both cluster
    gate queries.  None stays reserved for never-committed stores."""
    from crick_spark.streaming.cluster_store import ClusterStore

    store = ClusterStore(str(tmp_path / "store"), n_buckets=4)
    assert store.labels(spark) is None  # no meta yet: contract unchanged
    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert store.fold(empty, 0)
    lab = store.labels(spark)
    assert lab is not None and lab.count() == 0
    assert [f.name for f in lab.schema.fields] == ["node", "component"]
    # chaining works (the exact shape the gate queries run)
    assert lab.groupBy("component").count().count() == 0
    # deletes that empty the store land in the same contract
    assert store.fold(
        spark.createDataFrame([(1, 2)], "id_a long, id_b long"), 1
    )
    store.delete(spark.createDataFrame([(1,), (2,)], "node long"), 2)
    lab = store.labels(spark)
    assert lab is not None and lab.count() == 0


def test_cluster_store_delete_untouched_buckets_byte_identical(
    spark, tmp_path
):
    """r14: delete's rewrite is O(touched buckets) — only the deleted
    nodes' hash buckets (plus relabeled components' member buckets) are
    rewritten; every other bucket's current snapshot files stay the same
    on-disk files, byte for byte.  A delete of all-absent keys commits a
    fence and rewrites nothing."""
    from pyspark.sql import functions as F

    from crick_spark.streaming.cluster_store import ClusterStore

    store = ClusterStore(str(tmp_path / "store"), n_buckets=8)
    b0 = [(i, i + 1000) for i in range(0, 40, 2)]  # 20 two-node comps
    assert store.fold(spark.createDataFrame(b0, "id_a long, id_b long"), 0)
    _, paths0, _ = store.read_meta(spark)
    before = {b: _bucket_files(p) for b, p in paths0.items()}
    # delete node 4 — the REP of {4, 1004}: relabel touches the member
    # buckets of that component only
    stats = store.delete(spark.createDataFrame([(4,)], "node long"), 1)
    assert stats["n_deleted"] == 1
    assert stats["n_relabeled_components"] == 1
    _, paths1, _ = store.read_meta(spark)
    bkt = lambda n: spark.range(1).select(  # noqa: E731
        F.pmod(F.xxhash64(F.lit(n).cast("long")), F.lit(8)).cast("int")
    ).collect()[0][0]
    may_change = {bkt(4), bkt(1004)}
    touched = {b for b in paths1 if paths1[b] != paths0.get(b)}
    assert touched, "the delete must rewrite at least one bucket"
    assert touched <= may_change, (touched, may_change)
    for b, p in paths1.items():
        if b in touched or p is None:
            continue
        assert p == paths0[b]
        assert _bucket_files(p) == before[b], f"bucket {b} rewritten"
    labels = {r["node"]: r["component"] for r in store.labels(spark).collect()}
    assert labels[1004] == 1004 and 4 not in labels
    # absent-key delete: fence-only commit, no bucket rewritten
    stats = store.delete(spark.createDataFrame([(123456,)], "node long"), 2)
    assert stats["n_deleted"] == 0
    assert stats["label_buckets_written"] == 0
    _, paths2, _ = store.read_meta(spark)
    assert paths2 == paths1
    # and the fence still advances the replay guard
    assert store.delete(
        spark.createDataFrame([(123456,)], "node long"), 2
    ) is False


def test_cluster_store_fold_reads_o_touched_buckets(spark, tmp_path):
    """r9 (VERDICT r8 item 3): a fold's READS are O(touched buckets),
    not O(|labels|).  Endpoint resolution reads only the buckets the
    batch's endpoints hash into; the remap probe goes through the
    component→bucket index (cindex, partitioned by component hash)
    instead of scanning the label table; the rewrite reads only the
    touched buckets.  With 64 buckets and a 2-pair batch, every phase
    must touch a small constant number of bucket files — and the
    labeling must still equal the full re-closure."""
    from crick_spark.pipeline.graph import connected_components
    from crick_spark.streaming.cluster_store import ClusterStore

    store = ClusterStore(str(tmp_path / "store"), n_buckets=64)
    b0 = [(i, i + 10_000) for i in range(0, 40, 2)]  # 20 tiny components
    assert store.fold(
        spark.createDataFrame(b0, "id_a long, id_b long"), 0
    )
    # batch 1: merge two known components + attach one new node —
    # endpoints {0, 2, 123456} (≤3 buckets), remapped members
    # {0, 10000, 2, 10002} + new node 123456 (≤5 touched buckets)
    b1 = [(0, 2), (123456, 0)]
    assert store.fold(
        spark.createDataFrame(b1, "id_a long, id_b long"), 1
    )
    st = store.last_fold_stats
    assert st["label_buckets_read"] <= 8, st  # 3 endpoint + 5 touched « 64
    assert st["label_buckets_written"] <= 5, st
    # index: ≤2 old-id partitions probed + old+new partitions for the
    # rewrite (touched buckets hold ≤2 bystander components each)
    assert st["index_partitions_read"] <= 16, st
    assert st["index_partitions_written"] <= 16, st
    full = connected_components(
        spark.createDataFrame(b0 + b1, "id_a long, id_b long"),
        src="id_a",
        dst="id_b",
    )
    assert sorted(map(tuple, store.labels(spark).collect())) == sorted(
        map(tuple, full.collect())
    )
    # batch 2: new-nodes-only fold — no remap, so no index probe beyond
    # the new components' own partitions
    b2 = [(555_001, 555_002)]
    assert store.fold(
        spark.createDataFrame(b2, "id_a long, id_b long"), 2
    )
    st2 = store.last_fold_stats
    assert st2["label_buckets_read"] <= 4, st2
    assert st2["label_buckets_written"] <= 2, st2
    full2 = connected_components(
        spark.createDataFrame(b0 + b1 + b2, "id_a long, id_b long"),
        src="id_a",
        dst="id_b",
    )
    assert sorted(map(tuple, store.labels(spark).collect())) == sorted(
        map(tuple, full2.collect())
    )


def test_cluster_store_meta_commits_last_and_vacuum(spark, tmp_path):
    """Crash-safety + hygiene of the bucketed layout: a no-op batch
    commits only a fence sentinel (replays stay fenced, labels
    unchanged), n_buckets is pinned for the store's lifetime, and
    vacuum() drops exactly the superseded per-bucket directories while
    the current resolution still reads whole."""
    import glob

    import pytest

    from crick_spark.streaming.cluster_store import ClusterStore

    store = ClusterStore(str(tmp_path / "store"), n_buckets=4)
    assert store.fold(
        spark.createDataFrame([(1, 2), (3, 4)], "id_a long, id_b long"), 0
    )
    before = sorted(map(tuple, store.labels(spark).collect()))
    # within-component pair: no bucket content changes -> sentinel only
    assert store.fold(
        spark.createDataFrame([(1, 2)], "id_a long, id_b long"), 1
    )
    assert not store.fold(
        spark.createDataFrame([(1, 2)], "id_a long, id_b long"), 1
    )  # fenced
    assert sorted(map(tuple, store.labels(spark).collect())) == before
    # a merge supersedes some bucket generations; vacuum removes them
    assert store.fold(
        spark.createDataFrame([(2, 3)], "id_a long, id_b long"), 2
    )
    def n_dirs():
        return len(
            glob.glob(str(tmp_path / "store/labels/gen_*/bucket=*"))
        ) + len(glob.glob(str(tmp_path / "store/cindex/gen_*/cbucket=*")))

    n_dirs_before = n_dirs()
    removed = store.vacuum(spark)
    assert removed > 0
    _, current, _ = store.read_meta(spark)
    assert n_dirs() == n_dirs_before - removed
    got = sorted(map(tuple, store.labels(spark).collect()))
    assert got == [(1, 1), (2, 1), (3, 1), (4, 1)]
    with pytest.raises(ValueError, match="n_buckets"):
        ClusterStore(str(tmp_path / "store"), n_buckets=8).read_meta(spark)


def test_streaming_clusters_equal_batch_closure(spark, tmp_path):
    """End-to-end continuous-curation loop: documents stream in 4
    micro-batches; each batch's candidate pairs fold into the persisted
    ClusterStore labeling in the SAME foreachBatch.  The final labels
    must equal a full connected-components closure over the single-batch
    LSH candidate pair set — incremental pair detection AND incremental
    closure both batching-invariant, composed."""
    from crick_spark.pipeline.dedup import lsh_candidate_pairs, minhash_signatures
    from crick_spark.pipeline.graph import connected_components
    from crick_spark.sources.tables import load_table
    from crick_spark.streaming.incremental_dedup import (
        incremental_near_dup_candidates,
    )

    docs = load_table(spark, SF_SMALL, "documents")
    src = str(tmp_path / "docs")
    docs.repartition(4).write.parquet(src)
    sdf = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    labels = incremental_near_dup_candidates(
        spark,
        sdf,
        "doc_id",
        "text",
        work_dir=str(tmp_path / "state"),
        with_clusters=True,
    )
    pairs = lsh_candidate_pairs(
        minhash_signatures(docs, "doc_id", "text"), "doc_id"
    )
    want = connected_components(pairs, src="id_a", dst="id_b")
    got_rows = sorted(map(tuple, labels.collect()))
    want_rows = sorted(map(tuple, want.collect()))
    assert got_rows == want_rows and len(got_rows) > 0


def test_cluster_store_random_fold_sequences_equal_closure(spark, tmp_path):
    """Property (hypothesis): for RANDOM edge sets randomly partitioned
    into batches — merges, re-merges, no-op duplicate pairs, singleton
    extensions in arbitrary order — folding batch-wise into the bucketed
    ClusterStore yields exactly the min-label closure of the union, and
    the store's labels carry NO stale nodes.  Fixed-example suites pin
    chosen shapes; this pins the algebra."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from crick_spark.streaming.cluster_store import ClusterStore

    def reference(pairs):
        parent: dict = {}

        def find(x):
            while parent.get(x, x) != x:
                parent[x] = parent.get(parent[x], parent[x])
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        nodes = {n for p in pairs for n in p}
        return sorted((n, find(n)) for n in nodes)

    counter = [0]

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=list(HealthCheck),
    )
    @given(
        edges=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=24),
                st.integers(min_value=0, max_value=24),
            ).filter(lambda p: p[0] != p[1]),
            min_size=1,
            max_size=16,
        ),
        cut_seed=st.integers(min_value=0, max_value=1_000_000),
    )
    def check(edges, cut_seed):
        import random

        rng = random.Random(cut_seed)
        n_batches = rng.randint(1, 4)
        batches: list[list] = [[] for _ in range(n_batches)]
        for e in edges:
            batches[rng.randrange(n_batches)].append(e)
        counter[0] += 1
        store = ClusterStore(
            str(tmp_path / f"store_{counter[0]}"), n_buckets=4
        )
        folded = 0
        for bid, batch in enumerate(batches):
            if not batch:
                continue
            df = spark.createDataFrame(batch, "id_a long, id_b long")
            assert store.fold(df, bid) is True
            folded += 1
        if not folded:
            return
        got = sorted(map(tuple, store.labels(spark).collect()))
        assert got == reference(edges)

    check()


def test_pyhash_matches_spark(spark):
    """functions/pyhash.spark_xxhash64 must be BIT-EQUAL to the engine's
    xxhash64 (and its pmod bucketing) — the ClusterStore driver fast
    path files rows into buckets with it, and a divergence would split
    the bucket space between the driver and distributed fold paths."""
    from pyspark.sql import functions as F

    from crick_spark.functions.pyhash import spark_xxhash64

    longs = [0, 1, -1, 42, -42, 2**63 - 1, -(2**63), 123456789,
             -987654321, 10_000, 555_001, 7, -8]
    strs = ["", "a", "abc", "abcd", "abcde", "1234567", "12345678",
            "123456789", "x" * 31, "y" * 32, "z" * 33, "w" * 40,
            "héllo wörld ünïcode"]
    got = spark.createDataFrame([(v,) for v in longs], "v long").select(
        "v",
        F.xxhash64("v").alias("h"),
        F.pmod(F.xxhash64("v"), F.lit(10)).cast("int").alias("b"),
    ).collect()
    for r in got:
        assert spark_xxhash64(r["v"]) == r["h"], r
        assert spark_xxhash64(r["v"]) % 10 == r["b"], r
    got_s = spark.createDataFrame([(v,) for v in strs], "v string").select(
        "v", F.xxhash64("v").alias("h")
    ).collect()
    for r in got_s:
        assert spark_xxhash64(r["v"]) == r["h"], r
    import pytest

    with pytest.raises(TypeError):
        spark_xxhash64(1.5)


_FOLD_BATCHES = [
    [(i, i + 10_000) for i in range(0, 20, 2)],  # 10 tiny components
    [(0, 2), (123456, 0)],  # merge two + attach a new node
    [(4, 4), (None, 9)],  # degenerate rows only -> fence
    [(6, 8), (555_001, 555_002)],  # merge + disjoint new pair
]


def _resolved_meta(spark, st):
    """(bucket set, emptied-bucket set) of a store's labels and cindex meta."""
    _, lab, idx = st.read_meta(spark)
    return [(set(m), {b for b, p in m.items() if p is None}) for m in (lab, idx)]


def test_cluster_store_driver_fold_matches_distributed_fold(spark, tmp_path):
    """ClusterStore's driver fold (batch collected once, every bucket
    read/write a pyarrow call on the driver — zero Spark jobs) and its
    distributed fold (forced by a zero driver-close cap, from the first
    fold on an empty store) give the same stats for every batch, the
    same labeling and the same resolved meta, emptied partitions
    included."""
    from crick_spark.streaming.cluster_store import ClusterStore

    local = ClusterStore(str(tmp_path / "local"), n_buckets=8)
    spk = ClusterStore(str(tmp_path / "spark"), n_buckets=8)
    spk.DRIVER_CLOSE_MAX_EDGES = 0  # force the Spark tier
    for bid, batch in enumerate(_FOLD_BATCHES):
        for st in (local, spk):
            df = spark.createDataFrame(batch, "id_a long, id_b long")
            assert st.fold(df, bid) is True
        assert local.last_fold_stats == spk.last_fold_stats, (
            bid,
            local.last_fold_stats,
            spk.last_fold_stats,
        )
    assert sorted(map(tuple, spk.labels(spark).collect())) == sorted(
        map(tuple, local.labels(spark).collect())
    )
    assert _resolved_meta(spark, spk) == _resolved_meta(spark, local)


def test_cluster_store_local_data_fold_matches_spark_paths(
    spark, tmp_path
):
    """The two fold tiers interoperate on one store: a store that
    alternates tiers (the Spark tier forced by a zero data-byte cap on
    odd batches), so each tier folds on top of the other's generations,
    matches a pyarrow-tier store in stats, labeling and resolved meta.
    Spark reads the pyarrow-written generations (the labels() view IS a
    Spark read); a reopen resolves from disk alone; string node ids
    agree across tiers too."""
    from crick_spark.streaming.cluster_store import ClusterStore

    local = ClusterStore(str(tmp_path / "local"), n_buckets=8)
    mixed = ClusterStore(str(tmp_path / "mixed"), n_buckets=8)
    for bid, batch in enumerate(_FOLD_BATCHES):
        mixed.DRIVER_DATA_MAX_BYTES = (
            0 if bid % 2 else ClusterStore.DRIVER_DATA_MAX_BYTES
        )
        for st in (local, mixed):
            df = spark.createDataFrame(batch, "id_a long, id_b long")
            assert st.fold(df, bid) is True
        assert local.last_fold_stats == mixed.last_fold_stats, (
            bid,
            local.last_fold_stats,
            mixed.last_fold_stats,
        )

    reopened = ClusterStore(str(tmp_path / "local"), n_buckets=8)
    want = sorted(map(tuple, local.labels(spark).collect()))
    for st in (mixed, reopened):
        assert sorted(map(tuple, st.labels(spark).collect())) == want
        assert _resolved_meta(spark, st) == _resolved_meta(spark, local)
    sa = ClusterStore(str(tmp_path / "sa"), n_buckets=4)
    sb = ClusterStore(str(tmp_path / "sb"), n_buckets=4)
    sb.DRIVER_CLOSE_MAX_EDGES = 0
    for bid, batch in enumerate(
        [[("a", "b"), ("c", "d")], [("b", "c"), ("x", "a")]]
    ):
        for st in (sa, sb):
            df = spark.createDataFrame(batch, "id_a string, id_b string")
            assert st.fold(df, bid) is True
        assert sa.last_fold_stats == sb.last_fold_stats, bid
    assert sorted(map(tuple, sa.labels(spark).collect())) == sorted(
        map(tuple, sb.labels(spark).collect())
    )


def _move_cindex_pair(spark, store, pair, frm, into):
    """Damage a ClusterStore's component index: move ``pair`` out of
    partition ``frm`` (its hash partition) into partition ``into``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    _, _, idx = store.read_meta(spark)
    for part, keep in ((frm, False), (into, True)):
        (f,) = store._local_parquet_files(idx[part])
        t = pq.read_table(f)
        rows = [
            (c, b)
            for c, b in zip(
                t.column("component").to_pylist(),
                t.column("nbucket").to_pylist(),
            )
            if (c, b) != pair
        ]
        if keep:
            rows.append(pair)
        pq.write_table(
            pa.table(
                {
                    "component": pa.array([c for c, _ in rows], pa.int64()),
                    "nbucket": pa.array([b for _, b in rows], pa.int32()),
                }
            ),
            f,
        )


def _cindex_pairs(spark, store):
    """{cindex partition: sorted (component, nbucket) pairs} as meta
    resolves it (sentinel rows and empty partitions dropped)."""
    _, _, idx = store.read_meta(spark)
    out = {}
    for part, path in idx.items():
        t = store._read_buckets_local(
            {part: path}, None, ["component", "nbucket"]
        )
        if t is None:
            continue
        pairs = sorted(
            (c, b)
            for c, b in zip(
                t.column("component").to_pylist(),
                t.column("nbucket").to_pylist(),
            )
            if c is not None
        )
        if pairs:
            out[part] = pairs
    return out


def test_cluster_store_refiles_misfiled_cindex_pair(spark, tmp_path):
    """A component-index partition holding a pair whose component hashes
    to ANOTHER partition (a damaged index) must not break a fold: both
    fold tiers — the pyarrow tier and the Spark tier (zero data-byte
    cap) — re-file the pair into its hash partition, read and rewrite
    that partition too, and end with identical labels, cindex and stats;
    the resolved cindex is then exactly the one the labels imply."""
    from crick_spark.functions.pyhash import spark_xxhash64
    from crick_spark.streaming.cluster_store import ClusterStore

    nb = 8

    def h(x):
        return spark_xxhash64(x) % nb

    first = [(i, i + 10_000) for i in range(0, 40, 2)]  # 20 components
    second = [(0, 2)]  # remaps component 2 into 0
    labels0 = {n: a for a, b in first for n in (a, b)}
    # the second fold reads the cindex partitions of the remapped id and
    # of every component with members in the touched label buckets
    touched = {h(2), h(10_002)}
    read = {h(2)} | {
        h(0 if c == 2 else c) for n, c in labels0.items() if h(n) in touched
    }
    moved = next(c for c in range(4, 40, 2) if h(c) not in read)
    pair = (moved, h(moved + 10_000))
    into = h(2)

    def damage(store):
        # move one pair of component `moved` from its own partition into
        # partition h(2)
        _move_cindex_pair(spark, store, pair, h(moved), into)

    def cindex(store):
        return _cindex_pairs(spark, store)

    stores = []
    for name, data_cap in (("local", None), ("spark", 0)):
        st = ClusterStore(str(tmp_path / name), n_buckets=nb)
        assert st.fold(spark.createDataFrame(first, "id_a long, id_b long"), 0)
        damage(st)
        assert pair in cindex(st)[into]
        if data_cap is not None:
            st.DRIVER_DATA_MAX_BYTES = data_cap
        batch = spark.createDataFrame(second, "id_a long, id_b long")
        assert st.fold(batch, 1)
        stores.append(st)
    local, sp = stores
    assert local.last_fold_stats == sp.last_fold_stats
    got = sorted(map(tuple, local.labels(spark).collect()))
    assert got == sorted(map(tuple, sp.labels(spark).collect()))
    assert got == sorted((n, 0 if c == 2 else c) for n, c in labels0.items())
    want = {}
    for n, c in got:
        want.setdefault(h(c), set()).add((c, h(n)))
    want = {k: sorted(v) for k, v in want.items()}
    assert cindex(local) == cindex(sp) == want


def test_cluster_store_delete_refiles_misfiled_cindex_pair(spark, tmp_path):
    """``delete`` keeps the pairs of components it does not relabel; one
    filed outside its component's hash partition (a damaged index) in a
    partition the delete rewrites is re-filed into its hash partition,
    which is read (its old pairs kept), rewritten and recorded in meta —
    after one delete the cindex is exactly the one the labels imply."""
    from crick_spark.functions.pyhash import spark_xxhash64
    from crick_spark.streaming.cluster_store import ClusterStore

    nb = 8

    def h(x):
        return spark_xxhash64(x) % nb

    first = [(i, i + 10_000) for i in range(0, 40, 2)]  # 20 components
    labels0 = {n: a for a, b in first for n in (a, b)}
    # erasing node 2 relabels component 2 to 10_002: the delete rewrites
    # the cindex partitions of both ids
    rewritten = {h(2), h(10_002)}
    moved = next(c for c in range(4, 40, 2) if h(c) not in rewritten)
    pair = (moved, h(moved + 10_000))
    st = ClusterStore(str(tmp_path / "store"), n_buckets=nb)
    assert st.fold(spark.createDataFrame(first, "id_a long, id_b long"), 0)
    _move_cindex_pair(spark, st, pair, h(moved), h(2))
    damaged = _cindex_pairs(spark, st)
    assert pair in damaged[h(2)] and pair not in damaged.get(h(moved), [])
    stats = st.delete(spark.createDataFrame([(2,)], "node long"), 1)
    assert stats["n_deleted"] == stats["n_relabeled_components"] == 1
    assert stats["index_partitions_written"] == len(rewritten | {h(moved)})
    got = sorted(map(tuple, st.labels(spark).collect()))
    assert got == sorted(
        (n, 10_002 if c == 2 else c) for n, c in labels0.items() if n != 2
    )
    want = {}
    for n, c in got:
        want.setdefault(h(c), set()).add((c, h(n)))
    assert _cindex_pairs(spark, st) == {k: sorted(v) for k, v in want.items()}


def test_cluster_store_empty_first_batch_commits_fence(spark, tmp_path):
    """r10 ADVICE: an empty (or all-null / all-self-pair) FIRST batch
    must commit the replay fence and return, not write a zero-file
    generation dir that spark.read.parquet cannot infer a schema from
    (which killed the stream on the next read)."""
    from crick_spark.streaming.cluster_store import ClusterStore

    store = ClusterStore(str(tmp_path / "store"), n_buckets=4)
    empty = spark.createDataFrame([], "id_a long, id_b long")
    self_pairs = spark.createDataFrame(
        [(7, 7), (None, 3)], "id_a long, id_b long"
    )
    assert store.fold(empty, 0) is True
    assert store.fold(empty, 0) is False  # fence advanced
    # r14: committed-but-empty labeling is an empty TYPED frame (the
    # zero-pair-corpus contract), no longer None
    assert store.labels(spark).count() == 0
    assert store.fold(self_pairs, 1) is True  # normalizes to empty
    assert store.labels(spark).count() == 0
    # a real batch after the fences folds normally
    real = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    assert store.fold(real, 2) is True
    assert sorted(map(tuple, store.labels(spark).collect())) == [
        (1, 1),
        (2, 1),
        (3, 1),
    ]


def test_cluster_store_rejects_old_layout_meta(spark, tmp_path):
    """r10 ADVICE: meta files written by the pre-r9 layout (no 'kind'
    column) must fail loudly on reopen, not misparse into an empty
    labels view; a meta dir MIXING old and new files must fail too."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from crick_spark.streaming.cluster_store import ClusterStore

    base = tmp_path / "store"
    meta = base / "meta"
    os.makedirs(meta)
    old = pa.table(
        {
            "batch_id": pa.array([0], pa.int64()),
            "bucket": pa.array([1], pa.int32()),
            "path": pa.array(["labels/gen_0/bucket=1"], pa.string()),
            "n_buckets": pa.array([4], pa.int32()),
        }
    )
    pq.write_table(old, str(meta / "part-old.parquet"))
    store = ClusterStore(str(base), n_buckets=4)
    with pytest.raises(ValueError, match="older"):
        store.read_meta(spark)
    # mixed old + new files: mergeSchema surfaces kind with NULLs for
    # the old rows — still a loud failure, never a silent misparse
    new = pa.table(
        {
            "batch_id": pa.array([1], pa.int64()),
            "kind": pa.array(["labels"], pa.string()),
            "bucket": pa.array([2], pa.int32()),
            "path": pa.array(["labels/gen_1/bucket=2"], pa.string()),
            "n_buckets": pa.array([4], pa.int32()),
        }
    )
    pq.write_table(new, str(meta / "part-new.parquet"))
    with pytest.raises(ValueError, match="older|mixes"):
        store.read_meta(spark)


def test_cluster_store_rejects_remote_scheme(tmp_path):
    """r10 ADVICE: meta commits are driver-local atomic renames, so a
    remote base_dir scheme must be refused at construction instead of
    silently committing nothing on HDFS/S3."""
    import pytest

    from crick_spark.streaming.cluster_store import ClusterStore

    with pytest.raises(ValueError, match="scheme"):
        ClusterStore("s3a://bucket/store")
    with pytest.raises(ValueError, match="scheme"):
        ClusterStore("hdfs://nn/store")
    # Hadoop SINGLE-SLASH remote URIs must not slip past a '://' check
    # (r10 ADVICE: 'file:/x' was accepted by Spark's data writes while
    # the guard and the 'file://' strips missed it)
    with pytest.raises(ValueError, match="scheme"):
        ClusterStore("hdfs:/nn/store")
    # local schemes construct fine
    ClusterStore(str(tmp_path / "a"))
    ClusterStore(f"file://{tmp_path}/b")
    ClusterStore(f"file:{tmp_path}/c")


def test_fsutil_scheme_guard_and_normalization(tmp_path):
    """local_meta_path/strip_file_scheme: urlparse-style scheme sniff —
    double- and single-slash file URIs normalize to plain paths, remote
    schemes (either slash style) raise, remote file-URI authorities
    raise, plain paths pass through untouched."""
    import pytest

    from crick_spark.streaming.fsutil import (
        local_meta_path,
        strip_file_scheme,
    )

    assert strip_file_scheme("/a/b") == "/a/b"
    assert strip_file_scheme("file:///a/b") == "/a/b"
    assert strip_file_scheme("file://localhost/a/b") == "/a/b"
    assert strip_file_scheme("file:/a/b") == "/a/b"
    assert strip_file_scheme("file://") == "/"
    with pytest.raises(ValueError, match="authority"):
        strip_file_scheme("file://otherhost/a")

    assert local_meta_path("/a/b", "X") == "/a/b"
    assert local_meta_path("file:/a/b", "X") == "/a/b"
    assert local_meta_path("file:///a/b", "X") == "/a/b"
    assert local_meta_path("relative/dir", "X") == "relative/dir"
    for bad in ("s3a://bucket/k", "hdfs://nn/x", "hdfs:/nn/x", "gs://b/x"):
        with pytest.raises(ValueError, match="scheme"):
            local_meta_path(bad, "X")


def test_exact_dedup_store_fold_equals_batch_and_attribution(spark, tmp_path):
    """r11: folding batches in order ≡ one-shot distinct with min-batch
    attribution — exact, no false positives, every key in exactly one
    batch partition."""
    from crick_spark.streaming.exact_dedup import ExactDedupStore

    rows = [(i, f"k{i % 37}") for i in range(300)]
    df = spark.createDataFrame(rows, "i long, key string")
    store = ExactDedupStore(str(tmp_path / "store"), key_col="key", n_buckets=8)
    stats = []
    for b in range(3):
        stats.append(store.fold(df.where(F.col("i") % 3 == b), b))

    got = {
        r["key"]: r["first_batch"] for r in store.keys(spark).collect()
    }
    want = {}
    for i, k in rows:
        b = i % 3
        if k not in want or b < want[k]:
            # first CALLED batch == min residue holding the key
            want[k] = min(want.get(k, 3), b)
    assert got == want
    assert sum(s["n_new"] for s in stats) == len(want)
    assert all(s["n_keys"] >= s["n_new"] for s in stats)


def test_exact_dedup_store_replay_is_byte_identical(spark, tmp_path):
    """A replayed fold (the foreachBatch crash-recovery path) rewrites
    only its own partitions with identical content — the store's files
    outside the replayed batch are untouched, and attribution is
    invariant."""
    import pathlib

    from crick_spark.streaming.exact_dedup import ExactDedupStore

    df = spark.createDataFrame(
        [(i, i % 23) for i in range(200)], "i long, key long"
    )
    root = tmp_path / "store"
    store = ExactDedupStore(str(root), key_col="key", n_buckets=4)
    for b in range(3):
        store.fold(df.where(F.col("i") % 3 == b), b)
    before = {r["key"]: r["first_batch"] for r in store.keys(spark).collect()}
    other = {
        p: p.stat().st_mtime
        for p in pathlib.Path(root).rglob("*.parquet")
        if "batch=1" not in str(p)
    }

    replay = store.fold(df.where(F.col("i") % 3 == 1), 1)

    after = {r["key"]: r["first_batch"] for r in store.keys(spark).collect()}
    assert after == before
    assert replay["n_new"] == sum(1 for b in before.values() if b == 1)
    for p, mt in other.items():  # non-replayed partitions never rewritten
        assert p.stat().st_mtime == mt


def test_exact_dedup_store_fold_prunes_to_touched_buckets(spark, tmp_path):
    """The resident read is bounded by the batch's touched buckets: a
    one-key batch against a wide resident store scans only that key's
    bucket partition (PartitionFilters carry bucket + batch)."""
    from crick_spark.streaming.exact_dedup import ExactDedupStore

    df = spark.createDataFrame([(i,) for i in range(400)], "key long")
    store = ExactDedupStore(str(tmp_path / "store"), key_col="key", n_buckets=16)
    store.fold(df, 0)

    one = spark.createDataFrame([(7,)], "key long")
    keys = one.select(F.col("key")).withColumn(
        "bucket", F.pmod(F.xxhash64("key"), F.lit(16))
    )
    touched = [r["bucket"] for r in keys.select("bucket").distinct().collect()]
    resident = store._resident(spark, 1).where(F.col("bucket").isin(touched))
    plan = resident._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # execute: the pruned read returns only the touched bucket's keys
    n_bucket = resident.count()
    n_total = store.keys(spark).count()
    assert 0 < n_bucket < n_total

    stats = store.fold(one, 1)
    assert stats == {"batch_id": 1, "n_keys": 1, "n_new": 0}


def test_incremental_audio_fp_dedup_equals_batch(spark, tmp_path):
    """r13 (VERDICT r12 #8): folding audio fingerprints batch-wise
    through ExactDedupStore (with a replay) must admit exactly the
    batch-computed distinct fingerprint set, with first-batch
    attribution matching the min batch_key per fingerprint."""
    from pyspark.sql import functions as F

    from crick_spark.pipeline.multimodal import (
        attach_wav_dup_media,
        audio_fingerprint,
        real_audio_decoder,
    )
    from crick_spark.streaming.exact_dedup import ExactDedupStore
    from tests.conftest import SF_SMALL

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").limit(60)
    fps = audio_fingerprint(
        attach_wav_dup_media(docs), n_windows=16, decoder=real_audio_decoder
    ).withColumn("batch_key", (F.col("doc_id") % 3).cast("int"))
    fps = fps.localCheckpoint(eager=True)

    store = ExactDedupStore(str(tmp_path / "store"), key_col="fp", n_buckets=8)
    for b in (0, 1, 2, 1, 2):  # folds + replays of batches 1 and 2
        store.fold(fps.where(F.col("batch_key") == (b % 3)), b % 3)

    got = {
        (r["key"], r["first_batch"])
        for r in store.keys(spark).collect()
    }
    want = {
        (r["fp"], r["fb"])
        for r in fps.groupBy("fp")
        .agg(F.min("batch_key").alias("fb"))
        .collect()
    }
    assert got == want
