"""Streaming queries (SURVEY §7.1 M5).

``streaming_hourly_rollup`` runs a real Structured Streaming query
(availableNow → memory sink) inside the correctness harness and shares the
*batch* oracle — batch/stream equivalence IS the correctness statement.
``session_rollup_users`` checks Spark's session_window against classic
gaps-and-islands SQL.  The stateful-sketch stream is rows-only (approx).
"""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from crick_spark.functions.quantiles import empirical_cdf_at
from crick_spark.plans.registry import register
from crick_spark.streaming.windows import session_rollup_batch, stream_events
from crick_spark.streaming.sketch_state import tdigest_stream_quantiles
from crick_spark.sources.tables import load_table
from crick_spark.tmpdirs import run_tmpdir


@register(
    "streaming_hourly_rollup",
    oracle="""
SELECT date_trunc('hour', ts) AS hour_start, event_type,
       count(*) AS cnt,
       round(sum(value), 4) AS sum_value,
       round(min(value), 6) AS min_value,
       round(max(value), 6) AS max_value
FROM events
GROUP BY 1, 2
""",
    doc="Tumbling-window rollup executed through Structured Streaming "
    "(availableNow trigger, complete mode, watermark) — hash-matches the "
    "BATCH oracle: stream ≡ batch on the same input.",
)
def streaming_hourly_rollup(spark, sf_dir):
    from crick_spark.streaming.windows import streamed_hourly_rollup

    return streamed_hourly_rollup(spark, sf_dir)


@register(
    "session_rollup_users",
    oracle="""
WITH marked AS (
  SELECT user_id, ts, value, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL 10 MINUTE
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts, value,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM marked
)
SELECT user_id, min(ts) AS session_start,
       count(*) AS n_events,
       round(sum(value), 4) AS sum_value
FROM sessions GROUP BY user_id, sess_id
""",
    doc="Gap-based session windows (10 min) per user via session_window, "
    "hash-matched against gaps-and-islands SQL.",
)
def session_rollup_users(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return session_rollup_batch(ev, "10 minutes")


@register(
    "tdigest_stream_quantiles",
    oracle="""
SELECT event_type AS key, count(value) AS n,
       TRUE AS ok_0_5, TRUE AS ok_0_9, TRUE AS ok_0_99
FROM events GROUP BY event_type
""",
    doc="Per-event-type running t-digest as custom streaming state "
    "(applyInPandasWithState): bounded per-key state, update-mode "
    "emission.  Hash-matched oracle: the final streamed digest must have "
    "ingested exactly count(value) rows per key (n hash-matches DuckDB) "
    "and each lifetime quantile estimate must sit within 0.02 of the "
    "target rank on the exact batch CDF (midpoint-at-ties) — the "
    "streaming analog of tdigest_quantile_accuracy.",
)
def tdigest_stream_quantiles_q(spark, sf_dir):
    sdf = stream_events(spark, sf_dir)
    out = tdigest_stream_quantiles(sdf, "event_type", "value")
    sink = f"tdigest_state_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    # update-mode sink may hold one row per key per batch; keep the last
    t = spark.table(sink)
    est = (
        t.groupBy("key")
        .agg(
            F.max_by(
                F.struct("n", *[c for c in t.columns if c.startswith("p")]), "n"
            ).alias("s")
        )
        .select("key", "s.*")
    )
    ev = load_table(spark, sf_dir, "events")
    joined = ev.join(F.broadcast(est), ev["event_type"] == est["key"])
    aggs = [F.max("n").alias("n")]
    for qq in (0.5, 0.9, 0.99):
        p = f"p{str(qq).replace('.', '_')}"
        cdf = empirical_cdf_at(F.col("value"), F.col(p))
        aggs.append(
            (F.abs(cdf - F.lit(qq)) <= F.lit(0.02)).alias(
                f"ok_{str(qq).replace('.', '_')}"
            )
        )
    return joined.groupBy("key").agg(*aggs)


@register(
    "sliding_window_rollup",
    oracle="""
WITH e AS (
  SELECT unnest([
           make_timestamp(CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT) * 1000000),
           make_timestamp((CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT) - 1800) * 1000000)
         ]) AS window_start,
         event_type, value
  FROM events
)
SELECT window_start, event_type,
       count(*) AS cnt,
       round(sum(value), 4) AS sum_value,
       round(min(value), 6) AS min_value,
       round(max(value), 6) AS max_value
FROM e GROUP BY 1, 2
""",
    doc="Sliding-window rollup (1h window / 30min slide) through Structured "
    "Streaming — each event lands in exactly two windows; oracle expands "
    "the membership with unnest (stream ≡ batch ≡ SQL).",
)
def sliding_window_rollup(spark, sf_dir):
    import uuid as _uuid

    from crick_spark.streaming.windows import stream_events, windowed_rollup

    sdf = stream_events(spark, sf_dir)
    agg = windowed_rollup(sdf, window="1 hour", slide="30 minutes")
    out = agg.select(
        F.col("w.start").cast("timestamp_ntz").alias("window_start"),
        "event_type",
        "cnt",
        "sum_value",
        "min_value",
        "max_value",
    )
    sink = f"stream_sliding_{_uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(sink)


@register(
    "spacesaving_stream_topk",
    oracle="""
SELECT event_type AS key, TRUE AS bounds_hold, TRUE AS counts_match_exact
FROM events GROUP BY event_type
""",
    doc="Per-event-type streaming heavy hitters (Space-Saving summaries as "
    "applyInPandasWithState GroupState; bounded O(capacity) state per "
    "key); one availableNow pass over events — top-5 users per event_type "
    "with error bounds.  Hash-matched oracle: every emitted counter must "
    "obey the Space-Saving guarantee cnt-error ≤ actual ≤ cnt (crick's "
    "overestimate convention — the r12 form had it inverted, masked by "
    "error=0 in the exact regime; found by the r13 sf0.1 sweep) against "
    "exact batch counts, and (capacity 4096 ≫ per-key user cardinality "
    "at every tested SF — 1,500 at sf0.1) the top-5 count MULTISET must "
    "equal the exact "
    "top-5 counts — multiset, not items, so boundary ties cannot flap "
    "the hash.  applyInPandasWithState is the engine's one streaming "
    "state API (no transformWithStateInPandas form is kept: it needs a "
    "protobuf runtime the engine does not ship).",
)
def spacesaving_stream_topk_q(spark, sf_dir):
    import uuid as _uuid

    from pyspark.sql.window import Window

    from crick_spark.streaming.sketch_state import spacesaving_stream_topk
    from crick_spark.streaming.windows import stream_events

    sdf = stream_events(spark, sf_dir)
    out = spacesaving_stream_topk(sdf, "event_type", "user_id", k=5, capacity=4096)
    sink = f"stream_topk_{_uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    # update-mode sink may hold one row per (key, rank) per batch; keep
    # the lifetime-final (largest-count) emission per slot
    t = spark.table(sink)
    stream = (
        t.groupBy("key", "rank")
        .agg(F.max_by(F.struct("item", "cnt", "error"), "cnt").alias("s"))
        .select("key", "rank", "s.*")
    )
    ev = load_table(spark, sf_dir, "events")
    actual = ev.groupBy(
        F.col("event_type").alias("key"), F.col("user_id").alias("item")
    ).agg(F.count("*").alias("actual"))
    per_key = (
        stream.join(actual, ["key", "item"], "left")
        .groupBy("key")
        .agg(
            F.min(
                (F.col("cnt") - F.col("error") <= F.col("actual"))
                & (F.col("actual") <= F.col("cnt"))
            ).alias("bounds_hold"),
            F.sort_array(F.collect_list("cnt")).alias("stream_cnts"),
        )
    )
    rk = F.row_number().over(
        Window.partitionBy("key").orderBy(F.desc("actual"), "item")
    )
    exact_top = (
        actual.withColumn("rk", rk)
        .where(F.col("rk") <= 5)
        .groupBy("key")
        .agg(F.sort_array(F.collect_list("actual")).alias("exact_cnts"))
    )
    return per_key.join(exact_top, "key").select(
        "key",
        "bounds_hold",
        (F.col("stream_cnts") == F.col("exact_cnts")).alias("counts_match_exact"),
    )


@register(
    "streaming_dedup_users",
    oracle="""
SELECT event_type, count(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
""",
    doc="Streaming exact dedup: dropDuplicates on (event_type, user_id) "
    "over the event stream (append mode — each key emitted once, state "
    "is one entry per distinct key; add withWatermark/"
    "dropDuplicatesWithinWatermark to bound state on unbounded feeds), "
    "then a batch rollup of the deduped sink.  Hash-matches the batch "
    "COUNT(DISTINCT) oracle: stream dedup ≡ batch distinct.",
)
def streaming_dedup_users(spark, sf_dir):
    sdf = stream_events(spark, sf_dir)
    deduped = sdf.select("event_type", "user_id").dropDuplicates(
        ["event_type", "user_id"]
    )
    sink = f"stream_dedup_{uuid.uuid4().hex[:8]}"
    q = (
        deduped.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return (
        spark.table(sink)
        .groupBy("event_type")
        .agg(F.count("user_id").alias("n_users"))
    )


@register(
    "streaming_dedup_within_watermark",
    oracle="""
SELECT event_type, count(*) AS n_events FROM events GROUP BY event_type
""",
    doc="State-BOUNDED streaming exact dedup: each event is doubled "
    "in-stream (explode ×2 — simulating an at-least-once feed), then "
    "dropDuplicatesWithinWatermark(event_id) under a 1-hour watermark "
    "removes every duplicate.  Unlike plain dropDuplicates (one state "
    "row per key forever, streaming_dedup_users), the within-watermark "
    "form EVICTS keys once the watermark passes — the only dedup that "
    "survives an unbounded 100 TB feed.  Hash-matches the batch count "
    "oracle: doubling then deduping is the identity.",
)
def streaming_dedup_within_watermark(spark, sf_dir):
    sdf = stream_events(spark, sf_dir)
    doubled = sdf.select(
        "*", F.explode(F.array(F.lit(1), F.lit(2))).alias("__copy__")
    ).drop("__copy__")
    deduped = doubled.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    sink = f"stream_wm_dedup_{uuid.uuid4().hex[:8]}"
    q = (
        deduped.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return (
        spark.table(sink)
        .groupBy("event_type")
        .agg(F.count("*").alias("n_events"))
    )


@register(
    "stream_static_join_segments",
    oracle="""
SELECT c.c_mktsegment, count(*) AS cnt, round(sum(e.value), 4) AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment
""",
    doc="Stream-static join: the event stream enriched against the static "
    "customer dimension (broadcast hash join — the dimension ships to "
    "executors once, no stream-side shuffle), then a windowless running "
    "rollup per market segment in complete mode.  Stream ≡ batch join "
    "oracle.",
)
def stream_static_join_segments(spark, sf_dir):
    sdf = stream_events(spark, sf_dir)
    cust = F.broadcast(
        load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    )
    joined = sdf.join(cust, sdf["user_id"] == cust["c_custkey"])
    agg = joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("cnt"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )
    sink = f"stream_join_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(sink)


@register(
    "stream_stream_join_click_purchase",
    oracle="""
SELECT c.user_id,
       count(*) AS n_attributed,
       round(sum(p.value), 4) AS attributed_value
FROM events c
JOIN events p
  ON p.user_id = c.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND epoch_us(p.ts) >  epoch_us(c.ts)
 AND epoch_us(p.ts) <= epoch_us(c.ts) + 600000000
GROUP BY c.user_id
""",
    doc="Stream-stream inner join with event-time range condition "
    "(click→purchase attribution within 10 min): both sides are "
    "watermarked streams, state is bounded by watermark + range bound "
    "(Spark drops buffered rows once the watermark passes the join "
    "window).  Joined pairs land in an append sink, rolled up batch-"
    "side; hash-matches the batch range-join oracle.",
)
def stream_stream_join_click_purchase(spark, sf_dir):
    sdf = stream_events(spark, sf_dir)
    clicks = (
        sdf.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        sdf.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("p_value"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("p_ts") > F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 10 MINUTES")),
    )
    sink = f"stream_ssj_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return (
        spark.table(sink)
        .groupBy(F.col("c_user").alias("user_id"))
        .agg(
            F.count("*").alias("n_attributed"),
            F.round(F.sum("p_value"), 4).alias("attributed_value"),
        )
    )


@register(
    "streaming_distinct_users_hll",
    oracle="""
SELECT date_trunc('day', ts) AS day_start,
       count(DISTINCT user_id) AS exact_users,
       TRUE AS stream_eq_batch,
       TRUE AS within_bound
FROM events GROUP BY 1
""",
    doc="Windowed approx-distinct over the event stream: per-day "
    "approx_count_distinct(user_id) through Structured Streaming "
    "(availableNow, complete mode) — HLL±5% rsd state per window instead "
    "of a per-user distinct set, so state size is bounded regardless of "
    "user cardinality.  Hash-matched boolean oracle: the streamed "
    "estimate must equal the BATCH approx_count_distinct bit-for-bit "
    "(HLL++ register merge is order-independent, so micro-batching "
    "cannot change the estimate — the streaming analog of stream≡batch) "
    "and sit within max(5, 20%) of exact (4σ at rsd=5%); the exact "
    "per-day counts ride along and hash-match DuckDB.",
)
def streaming_distinct_users_hll(spark, sf_dir):
    ev = stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.approx_count_distinct("user_id").alias("approx_users"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("day_start"),
            "approx_users",
        )
    )
    sink = f"hlldistinct_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.trigger(availableNow=True)
        .outputMode("complete")
        .format("memory")
        .queryName(sink)
        .start()
    )
    q.awaitTermination()
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("day", "ts").cast("timestamp_ntz").alias("day_start")
        )
        .agg(
            F.count_distinct("user_id").alias("exact_users"),
            F.approx_count_distinct("user_id").alias("approx_batch"),
        )
    )
    return (
        spark.table(sink)
        .join(batch, "day_start")
        .select(
            "day_start",
            "exact_users",
            (F.col("approx_users") == F.col("approx_batch")).alias(
                "stream_eq_batch"
            ),
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                <= F.greatest(F.lit(5.0), F.lit(0.20) * F.col("exact_users"))
            ).alias("within_bound"),
        )
    )


@register(
    "streaming_upsert_foreachbatch",
    oracle="""
SELECT user_id, event_type AS last_type, round(value, 6) AS last_value,
       ts AS last_ts, n_updates
FROM (
  SELECT user_id, event_type, value, ts,
         count(*) OVER (PARTITION BY user_id) AS n_updates,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events)
WHERE rn = 1
""",
    doc="Streaming CDC upsert via foreachBatch: each micro-batch is "
    "latest-wins-merged (max_by over (ts, event_id), n_updates summed) "
    "into a parquet snapshot, alternating between two paths so a batch "
    "never reads the file it is overwriting.  The final snapshot "
    "hash-matches the BATCH changelog compaction oracle — stream ≡ "
    "batch.  At scale the full-snapshot rewrite becomes a partitioned "
    "merge (or a table format with row-level merge); the per-batch "
    "merge logic is what this exercises.",
)
def streaming_upsert_foreachbatch(spark, sf_dir):

    base = run_tmpdir("crick_upsert_")
    paths = [f"{base}/snap_a", f"{base}/snap_b"]
    state = {"cur": None, "flip": 0}

    def upsert(batch_df, batch_id):
        s = batch_df.sparkSession
        incoming = batch_df.select(
            "user_id", "event_type", "value", "ts", "event_id"
        ).withColumn("n_updates", F.lit(1).cast("long"))
        if state["cur"] is not None:
            prev = s.read.parquet(state["cur"])
            incoming = prev.unionByName(incoming)
        ordk = F.struct(F.col("ts"), F.col("event_id"))
        snap = incoming.groupBy("user_id").agg(
            F.max_by("event_type", ordk).alias("event_type"),
            F.max_by("value", ordk).alias("value"),
            F.max_by("ts", ordk).alias("ts"),
            F.max_by("event_id", ordk).alias("event_id"),
            F.sum("n_updates").alias("n_updates"),
        )
        target = paths[state["flip"]]
        snap.write.mode("overwrite").parquet(target)
        state["cur"] = target
        state["flip"] = 1 - state["flip"]

    ev = stream_events(spark, sf_dir)
    q = (
        ev.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", f"{base}/ckpt")
        .foreachBatch(upsert)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(state["cur"]).select(
        "user_id",
        F.col("event_type").alias("last_type"),
        F.round("value", 6).alias("last_value"),
        F.col("ts").cast("timestamp_ntz").alias("last_ts"),
        "n_updates",
    )


@register(
    "streaming_session_rollup",
    oracle="""
WITH marked AS (
  SELECT user_id, ts, value, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL 10 MINUTE
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts, value,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM marked
)
SELECT user_id, min(ts) AS session_start,
       count(*) AS n_events,
       round(sum(value), 4) AS sum_value
FROM sessions GROUP BY user_id, sess_id
""",
    doc="Gap-based session windows (10 min) computed through Structured "
    "Streaming (session_window + watermark, complete mode, availableNow): "
    "state is one merging session per (user, open window), reaped by the "
    "watermark on unbounded feeds.  Hash-matches the same gaps-and-islands "
    "batch oracle as the batch path — stream ≡ batch ≡ SQL.",
)
def streaming_session_rollup(spark, sf_dir):
    sdf = stream_events(spark, sf_dir)
    agg = (
        sdf.withWatermark("ts", "1 hour")
        .groupBy(
            F.session_window("ts", "10 minutes").alias("w"), F.col("user_id")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").cast("timestamp_ntz").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )
    sink = f"stream_sess_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(sink)


@register(
    "streaming_incremental_dedup",
    oracle="SELECT TRUE AS pairs_match_batch, TRUE AS any_pairs_found",
    doc="Streaming incremental near-dup detection — dedup-against-history "
    "(the continuous-ingestion pattern for training corpora): documents "
    "stream in 4 micro-batches; each batch's MinHash/LSH band buckets "
    "join the accumulated bucket store for cross-batch candidates plus a "
    "within-batch self-join, then overwrite their batch_id partition of "
    "the store — history's text is never rescanned.  Hash-matched "
    "boolean oracle: signatures and buckets are deterministic per doc, "
    "so the incremental candidate set must EQUAL the single-batch "
    "lsh_candidate_pairs set exactly (symmetric difference empty) and be "
    "non-empty — batching cannot change the union.",
)
def streaming_incremental_dedup(spark, sf_dir):
    import shutil

    from crick_spark.pipeline.dedup import lsh_candidate_pairs, minhash_signatures
    from crick_spark.streaming.incremental_dedup import (
        incremental_near_dup_candidates,
    )

    work = run_tmpdir("crick_incdedup_q_")
    src = f"{work}/docs"
    docs = load_table(spark, sf_dir, "documents")
    docs.repartition(4).write.parquet(src)
    sdf = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    pairs = incremental_near_dup_candidates(
        spark, sdf, "doc_id", "text", work_dir=f"{work}/state"
    )
    # materialize the (small) pair set so the doc copy + bucket store +
    # checkpoint under work/ can be deleted instead of leaking per run
    inc = pairs.localCheckpoint(eager=True)
    shutil.rmtree(work, ignore_errors=True)
    batch = lsh_candidate_pairs(
        minhash_signatures(docs, "doc_id", "text"), "doc_id"
    ).select("id_a", "id_b")
    sym_diff = inc.subtract(batch).unionByName(batch.subtract(inc))
    return inc.agg(F.count("*").alias("__n__")).crossJoin(
        sym_diff.agg(F.count("*").alias("__d__"))
    ).select(
        (F.col("__d__") == 0).alias("pairs_match_batch"),
        (F.col("__n__") > 0).alias("any_pairs_found"),
    )


@register(
    "streaming_ann_index_maintenance",
    oracle="""
SELECT TRUE AS results_match_full_build,
       TRUE AS rows_conserved,
       TRUE AS multi_batch,
       TRUE AS drift_signal_per_fold,
       (SELECT count(*) FROM embeddings) AS n_rows_layout,
       (SELECT count(*) FROM embeddings WHERE vec_id % 3 = 0)
         AS n_resident_initial,
       (SELECT count(*) FROM embeddings WHERE vec_id % 3 <> 0)
         AS n_appended
""",
    doc="Streaming maintenance of the IVF index layout (r9) - the "
    "Structured-Streaming twin of ivf_layout_incremental: a third of "
    "the corpus builds the cluster-partitioned layout one-shot, the "
    "rest arrives as a file stream (maxFilesPerTrigger=1) and "
    "foreachBatch folds each micro-batch in with ivf_layout_append - "
    "frozen-centroid assignment, one new file per touched cluster, "
    "resident files never reopened, a mean-top-cosine drift stat per "
    "fold.  Hash-matched booleans on the FINAL layout: panel results "
    "equal the in-memory ivf_bulk_topk over the full corpus EXACTLY, "
    "row count is conserved across all writes, the stream really "
    "delivered multiple micro-batches, and every fold reported its "
    "drift signal.  At 100 TB this is the continuous-ingestion ANN "
    "story end-to-end: ingest never reshuffles the resident corpus "
    "and the index is queryable between every batch.",
)
def streaming_ann_index_maintenance(spark, sf_dir):
    import shutil

    from crick_spark.pipeline.similarity import (
        ivf_bulk_topk,
        ivf_bulk_topk_from_layout,
        ivf_layout_append,
        train_ivf_centroids,
        write_ivf_layout,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = train_ivf_centroids(emb, k=16, n_iter=5)
    work = run_tmpdir("crick_ann_stream_")
    layout = f"{work}/layout"
    write_ivf_layout(emb.where(F.col("vec_id") % 3 == 0), cents, layout)
    src = f"{work}/incoming"
    incoming = emb.where(F.col("vec_id") % 3 != 0).select(
        "vec_id", "embedding"
    )
    incoming.repartition(3).write.parquet(src)
    sdf = (
        spark.readStream.schema(incoming.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    fold_stats: list[dict] = []

    def fold(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        fold_stats.append(ivf_layout_append(batch_df, cents, layout))

    q = (
        sdf.writeStream.foreachBatch(fold)
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").cast("bigint").alias("query_id"), "embedding"
    )
    mem = ivf_bulk_topk(queries, emb, cents, k=10, nprobe=4)
    lay = ivf_bulk_topk_from_layout(
        spark, queries, layout, cents, k=10, nprobe=4
    )
    diff = mem.exceptAll(lay).unionByName(lay.exceptAll(mem))
    rows_layout = spark.read.parquet(layout).count()
    rows_total = emb.count()
    n_resident = emb.where(F.col("vec_id") % 3 == 0).count()
    out = diff.agg(F.count("*").alias("__d__")).select(
        (F.col("__d__") == 0).alias("results_match_full_build"),
        F.lit(rows_layout == rows_total).alias("rows_conserved"),
        F.lit(len(fold_stats) >= 2).alias("multi_batch"),
        F.lit(
            all(
                s["mean_top_cosine"] is not None and s["rows"] > 0
                for s in fold_stats
            )
        ).alias("drift_signal_per_fold"),
        # value-bearing beside the booleans (VERDICT r10 #7): layout row
        # count and the resident/appended split, DuckDB-reproducible
        F.lit(rows_layout).cast("long").alias("n_rows_layout"),
        F.lit(n_resident).cast("long").alias("n_resident_initial"),
        F.lit(sum(s["rows"] for s in fold_stats))
        .cast("long")
        .alias("n_appended"),
    )
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(work, ignore_errors=True)
    return out


@register(
    "streaming_sketch_store",
    oracle="""
SELECT event_type,
       count(value) AS n_values,
       TRUE AS mass_conserved,
       TRUE AS p50_within_bound,
       TRUE AS p90_within_bound,
       TRUE AS hll_union_consistent
FROM events GROUP BY event_type
""",
    doc="Streaming maintenance of a PERSISTED sketch store — the "
    "Structured-Streaming twin of incremental_sketch_merge and the "
    "streaming materialized-view story end-to-end: events arrive as "
    "micro-batches (file stream, maxFilesPerTrigger=1) and foreachBatch "
    "folds each batch's t-digest partials and HLL registers into a "
    "parquet store (one blob per event_type, alternating snapshot "
    "paths so a batch never reads the file it overwrites — the "
    "streaming_upsert_foreachbatch pattern).  The store never rescans "
    "history: per batch it reads back KBs of sketch state, not rows.  "
    "Hash-matched boolean oracle on the FINAL store: digest mass "
    "equals the exact per-type row count; store p50/p90 are within "
    "the reference's 0.012 rank-error bound of the exact empirical "
    "CDF; the store's HLL estimate agrees with a single-pass batch "
    "HLL within estimator-mode tolerance (register union is lossless "
    "and order-independent, but above sparse mode Datasketches reports "
    "the order-dependent HIP estimator on a single-pass sketch vs the "
    "composite estimator post-union — identical registers, slightly "
    "different estimates; the 2% bound covers both modes at lgK=14's "
    "0.81% standard error).",
)
def streaming_sketch_store(spark, sf_dir):
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    from crick_spark.streaming.sketch_store import SketchStore

    base = run_tmpdir("crick_sketch_store_")
    store = SketchStore(f"{base}/store")

    def fold(batch_df, batch_id):
        store.fold(batch_df, batch_id)

    # 2 micro-batches: re-shard events, stream one file per trigger.
    # Two folds fully exercise the protocol registered here (batch 2
    # reads back batch 1's persisted sketch state and merges into it);
    # the long-replay / crash / alternation variants live in pytest —
    # per-batch parquet-commit overhead at toy scale is what bench
    # measures beyond two folds, not the operator (r7 VERDICT item 6).
    # source carries only the columns the store folds (type, value,
    # user) - re-sharding all event columns just to stream 3 of them
    # measured ~2 s of pure source-write overhead per bench run
    src = f"{base}/src"
    load_table(spark, sf_dir, "events").select(
        "event_type", "value", "user_id"
    ).repartition(2).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = (
        stream.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", f"{base}/ckpt")
        .foreachBatch(fold)
        .start()
    )
    q.awaitTermination()

    # finalize the store: p50/p90/mass per type from the stored digests
    qs_schema = StructType(
        [
            StructField("p50", DoubleType()),
            StructField("p90", DoubleType()),
            StructField("mass", DoubleType()),
        ]
    )

    def finalize(sk) -> pd.DataFrame:
        return pd.DataFrame(
            [{"p50": float(sk.quantile(0.5)), "p90": float(sk.quantile(0.9)),
              "mass": float(sk.size())}]
        )

    sstore = store.digests(spark, finalize, qs_schema)
    hll_store = store.hll_estimates(spark)
    ev = load_table(spark, sf_dir, "events")
    hll_batch = ev.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(14))).alias(
            "est_batch"
        )
    )

    def cdf_at(col):
        return empirical_cdf_at(F.col("value"), F.col(col))

    joined = ev.join(F.broadcast(sstore), "event_type")
    out = (
        joined.groupBy("event_type")
        .agg(
            F.count("value").alias("n_values"),
            F.first("mass").alias("__mass__"),
            (F.abs(cdf_at("p50") - F.lit(0.5)) <= F.lit(0.012)).alias(
                "p50_within_bound"
            ),
            (F.abs(cdf_at("p90") - F.lit(0.9)) <= F.lit(0.012)).alias(
                "p90_within_bound"
            ),
        )
        .join(F.broadcast(hll_store), "event_type")
        .join(F.broadcast(hll_batch), "event_type")
        .select(
            "event_type",
            "n_values",
            (F.abs(F.col("__mass__") - F.col("n_values")) < F.lit(1e-6)).alias(
                "mass_conserved"
            ),
            "p50_within_bound",
            "p90_within_bound",
            (
                F.abs(F.col("est_stream") - F.col("est_batch"))
                <= F.greatest(F.lit(2.0), F.lit(0.02) * F.col("est_batch"))
            ).alias("hll_union_consistent"),
        )
    )
    out = out.localCheckpoint(eager=True)
    import shutil

    shutil.rmtree(base, ignore_errors=True)
    return out


@register(
    "streaming_bloom_dedup_users",
    oracle="""
SELECT TRUE AS never_twice,
       TRUE AS survivors_subset,
       TRUE AS coverage_ok,
       (SELECT count(DISTINCT user_id) FROM events) AS n_distinct
""",
    doc="Bounded-state streaming dedup through the Bloom family "
    "(streaming/bloom_dedup.py): a persisted filter (n_bits/8 bytes "
    "TOTAL regardless of key count) drops probably-seen user_ids per "
    "micro-batch - the bounded-memory alternative to dropDuplicates' "
    "unbounded state store, with one-sided error in the dedup-safe "
    "direction.  Hash-matched: no key ever emitted twice "
    "(unconditional - a seen key's bits are set), survivors are a "
    "subset of the true distinct set, coverage >= 99% (false positives "
    "bounded by fpp; 4M bits vs ~tens of thousands of keys), and the "
    "exact distinct count is pinned.",
)
def streaming_bloom_dedup_users(spark, sf_dir):
    from crick_spark.streaming.bloom_dedup import BloomDedupStore

    base = run_tmpdir("crick_bloom_dedup_")
    store = BloomDedupStore(f"{base}/store", key_col="user_id")

    # 2 micro-batches: batch 2 probes the filter batch 1 persisted —
    # the cross-batch protocol this query registers; A/B alternation,
    # crash replay, and long folds are pytest coverage (r7 VERDICT
    # item 6: fewer folds at toy scale, same keys)
    src = f"{base}/src"
    load_table(spark, sf_dir, "events").select("user_id").repartition(
        2
    ).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = (
        stream.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", f"{base}/ckpt")
        .foreachBatch(lambda df, bid: store.fold(df, bid))
        .start()
    )
    q.awaitTermination()

    surv = store.survivors(spark).select("user_id")
    ev_users = load_table(spark, sf_dir, "events").select("user_id").where(
        F.col("user_id").isNotNull()
    )
    distinct_users = ev_users.distinct()
    stats = (
        surv.agg(
            F.count("*").alias("n_surv"),
            F.countDistinct("user_id").alias("n_surv_distinct"),
        )
        .crossJoin(
            F.broadcast(
                distinct_users.agg(F.count("*").alias("n_distinct"))
            )
        )
        .crossJoin(
            F.broadcast(
                surv.join(distinct_users, "user_id", "left_anti")
                .agg(F.count("*").alias("n_phantom"))
            )
        )
    )
    return stats.select(
        (F.col("n_surv") == F.col("n_surv_distinct")).alias("never_twice"),
        (F.col("n_phantom") == 0).alias("survivors_subset"),
        (
            F.col("n_surv_distinct")
            >= F.ceil(F.lit(0.99) * F.col("n_distinct"))
        ).alias("coverage_ok"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
    )


@register(
    "incremental_exact_dedup_frames",
    oracle="""
WITH lum AS (
  SELECT d.doc_id AS d, fr.f, px.p,
         (d.doc_id*17 + fr.f*29 + px.p*13) % 256 AS l
  FROM documents d, range(6) fr(f), range(32) px(p)
  WHERE fr.f < 2 + d.doc_id % 5
),
m AS (SELECT d, f, avg(l) AS ml FROM lum GROUP BY d, f),
h AS (
  SELECT lum.d, lum.f, CAST(lum.d % 3 AS INT) AS batch_key,
         CAST(sum(CASE WHEN lum.l > m.ml THEN (CAST(1 AS BIGINT) << lum.p)
                       ELSE 0 END) AS BIGINT) AS ahash
  FROM lum JOIN m ON lum.d = m.d AND lum.f = m.f
  GROUP BY lum.d, lum.f
),
bh AS (SELECT batch_key, ahash FROM h GROUP BY batch_key, ahash),
fb AS (SELECT ahash, min(batch_key) AS fbk FROM bh GROUP BY ahash),
nf AS (SELECT batch_key, count(*) AS n_frames FROM h GROUP BY batch_key)
SELECT bh.batch_key, any_value(nf.n_frames) AS n_frames,
       count(*) AS n_batch_hashes,
       CAST(sum(CASE WHEN fb.fbk = bh.batch_key THEN 1 ELSE 0 END)
            AS BIGINT) AS n_new_hashes
FROM bh JOIN fb USING (ahash) JOIN nf ON nf.batch_key = bh.batch_key
GROUP BY bh.batch_key
""",
    doc="Exact incremental dedup with first-batch attribution "
    "(streaming/exact_dedup.py) - the exact twin of the Bloom fold, and "
    "the registry's first FULLY VALUE-ORACLED incremental-dedup entry: "
    "video frames stream in 3 deterministic micro-batches (doc_id%3), "
    "each fold anti-joins the batch's frame aHashes against ONLY the "
    "touched (bucket, batch<id) store partitions and dynamic-overwrites "
    "its own partitions - then batch 1 is REPLAYED after batch 2 (the "
    "crash-recovery path), which must leave the store byte-identical "
    "because replays prune residents to batch<1 and rewrite the same "
    "partitions.  Output per batch: frame count, within-batch distinct "
    "hashes, and first-seen hash count - DuckDB reproduces all three "
    "from the generator arithmetic (min-batch attribution), so any "
    "ordering bug, replay leak, or bucket-pruning mistake hash-"
    "mismatches.  100 TB shape: state is keyed parquet bucketed by "
    "xxhash64, folds read O(touched buckets), never full history.",
)
def incremental_exact_dedup_frames(spark, sf_dir):
    import shutil

    from crick_spark.pipeline.multimodal import (
        ahash_frames,
        attach_y4m_media,
        real_video_frame_decoder,
        sample_frames,
    )
    from crick_spark.streaming.exact_dedup import ExactDedupStore

    docs = load_table(spark, sf_dir, "documents")
    media = attach_y4m_media(docs)
    frames = sample_frames(
        media, fps=5.0, max_frames=8, frame_decoder=real_video_frame_decoder
    )
    hashes = ahash_frames(frames).withColumn(
        "batch_key", (F.col("doc_id") % 3).cast("int")
    )
    hashes = hashes.localCheckpoint(eager=True)  # one decode pass, 4 folds

    work = run_tmpdir("crick_exact_dedup_")
    store = ExactDedupStore(f"{work}/store", key_col="ahash", n_buckets=16)
    for b in (0, 1, 2, 1):  # ascending folds + replay of batch 1
        store.fold(hashes.where(F.col("batch_key") == (b % 3)), b % 3)

    per_batch = hashes.groupBy("batch_key").agg(
        F.count("*").alias("n_frames"),
        F.countDistinct("ahash").alias("n_batch_hashes"),
    )
    news = (
        store.keys(spark)
        .groupBy(F.col("first_batch").alias("batch_key"))
        .agg(F.count("*").alias("n_new_hashes"))
    )
    out = per_batch.join(news, "batch_key", "left").select(
        "batch_key",
        "n_frames",
        "n_batch_hashes",
        F.coalesce("n_new_hashes", F.lit(0)).alias("n_new_hashes"),
    )
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(work, ignore_errors=True)
    return out


@register(
    "incremental_audio_fingerprint_dedup",
    oracle="""
WITH s AS (
  SELECT d.doc_id AS d, t.i,
         ((d.doc_id % 16) * 37 + t.i * (97 + 13 * (d.doc_id % 16)))
           % 4001 - 2000 AS base,
         1 + (d.doc_id // 16) % 3 AS gain
  FROM documents d, range(160) t(i)),
e AS (
  SELECT d, t.i // 10 AS w,
         sum(CAST(base * gain AS BIGINT) * CAST(base * gain AS BIGINT)) AS en
  FROM s t GROUP BY d, t.i // 10),
b AS (
  SELECT d, w, en, lag(en) OVER (PARTITION BY d ORDER BY w) AS pen FROM e),
fps AS (
  SELECT d, CAST(sum(CASE WHEN w >= 1 AND en > pen
                          THEN (CAST(1 AS BIGINT) << (w - 1))
                          ELSE 0 END) AS BIGINT) AS fp
  FROM b GROUP BY d),
bh AS (SELECT CAST(d % 3 AS INT) AS batch_key, fp FROM fps GROUP BY 1, 2),
fb AS (SELECT fp, min(batch_key) AS fbk FROM bh GROUP BY fp),
nc AS (SELECT CAST(d % 3 AS INT) AS batch_key, count(*) AS n_clips
       FROM fps GROUP BY 1)
SELECT bh.batch_key, any_value(nc.n_clips) AS n_clips,
       count(*) AS n_batch_fps,
       CAST(sum(CASE WHEN fb.fbk = bh.batch_key THEN 1 ELSE 0 END)
            AS BIGINT) AS n_new_fps
FROM bh JOIN fb USING (fp) JOIN nc ON nc.batch_key = bh.batch_key
GROUP BY bh.batch_key
""",
    doc="Incremental AUDIO perceptual dedup (r13, VERDICT r12 #8) - the "
    "audio twin of incremental_exact_dedup_frames, closing the last "
    "batch-only dedup modality: energy-contour fingerprints "
    "(pipeline/multimodal.py:audio_fingerprint, gain-invariant by "
    "construction) stream in 3 deterministic micro-batches (doc_id%3) "
    "folded through the SAME partitioned ExactDedupStore commit "
    "protocol - anti-join against only touched (bucket, batch<id) "
    "partitions, dynamic overwrite, then batch 1 REPLAYED (the crash-"
    "recovery path) which must leave the store byte-identical.  Output "
    "per batch: clip count, within-batch distinct fingerprints, and "
    "first-seen fingerprint count - DuckDB reproduces all three from "
    "the WAV generator's integer arithmetic with min-batch attribution, "
    "so an ordering bug, replay leak, or bucket-pruning mistake hash-"
    "mismatches.  batch==incremental equivalence is pytest-pinned "
    "(tests/test_streaming.py).",
)
def incremental_audio_fingerprint_dedup(spark, sf_dir):
    import shutil

    from crick_spark.pipeline.multimodal import (
        attach_wav_dup_media,
        audio_fingerprint,
        real_audio_decoder,
    )
    from crick_spark.streaming.exact_dedup import ExactDedupStore

    docs = load_table(spark, sf_dir, "documents")
    media = attach_wav_dup_media(docs)
    fps = audio_fingerprint(
        media, n_windows=16, decoder=real_audio_decoder
    ).withColumn("batch_key", (F.col("doc_id") % 3).cast("int"))
    fps = fps.localCheckpoint(eager=True)  # one decode pass, 4 folds

    work = run_tmpdir("crick_audio_dedup_")
    store = ExactDedupStore(f"{work}/store", key_col="fp", n_buckets=8)
    for b in (0, 1, 2, 1):  # ascending folds + replay of batch 1
        store.fold(fps.where(F.col("batch_key") == (b % 3)), b % 3)

    per_batch = fps.groupBy("batch_key").agg(
        F.count("*").alias("n_clips"),
        F.countDistinct("fp").alias("n_batch_fps"),
    )
    news = (
        store.keys(spark)
        .groupBy(F.col("first_batch").alias("batch_key"))
        .agg(F.count("*").alias("n_new_fps"))
    )
    out = per_batch.join(news, "batch_key", "left").select(
        "batch_key",
        "n_clips",
        "n_batch_fps",
        F.coalesce("n_new_fps", F.lit(0)).alias("n_new_fps"),
    )
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(work, ignore_errors=True)
    return out


@register(
    "dedup_store_delete_rtbf",
    oracle="""
WITH u AS (SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL)
SELECT CAST(user_id % 2 AS INT) AS batch_key,
       CAST(count(*) AS BIGINT) AS n_admitted,
       CAST(sum(CASE WHEN user_id % 11 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_deleted,
       CAST(sum(CASE WHEN user_id % 11 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_surviving
FROM u GROUP BY user_id % 2
""",
    doc="Right-to-be-forgotten over the incremental dedup store (r13, "
    "streaming/exact_dedup.py:ExactDedupStore.delete — the erasure "
    "twin of fold, same (bucket, batch) commit protocol): user_id keys "
    "fold in 2 deterministic micro-batches (user_id%2), then every "
    "user_id%11==0 key is erased — only the touched partitions "
    "rewritten, fully-emptied dirs removed, survivors keeping their "
    "original first-batch attribution (a deleted key that re-folds "
    "later is attributed to the NEW batch — the store forgets, which "
    "is the compliance semantic; pytest pins it).  Hash-matched: "
    "per-batch admitted/deleted/surviving counts all reproduce in "
    "DuckDB from the modulus arithmetic over the distinct user set.",
)
def dedup_store_delete_rtbf(spark, sf_dir):
    import shutil

    from crick_spark.streaming.exact_dedup import ExactDedupStore

    users = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .where(F.col("user_id").isNotNull())
        .distinct()
        .withColumn("batch_key", (F.col("user_id") % 2).cast("int"))
        .localCheckpoint(eager=True)
    )
    work = run_tmpdir("crick_rtbf_store_")
    store = ExactDedupStore(f"{work}/store", key_col="user_id", n_buckets=8)
    for b in (0, 1):
        store.fold(users.where(F.col("batch_key") == b), b)
    store.delete(users.where(F.col("user_id") % 11 == 0))

    admitted = users.groupBy("batch_key").agg(
        F.count("*").alias("n_admitted"),
        F.sum((F.col("user_id") % 11 == 0).cast("long")).alias("n_deleted"),
    )
    surviving = (
        store.keys(spark)
        .groupBy(F.col("first_batch").alias("batch_key"))
        .agg(F.count("*").alias("n_surviving"))
    )
    out = admitted.join(surviving, "batch_key", "left").select(
        "batch_key",
        "n_admitted",
        "n_deleted",
        F.coalesce("n_surviving", F.lit(0)).alias("n_surviving"),
    ).localCheckpoint(eager=True)
    shutil.rmtree(work, ignore_errors=True)
    return out


@register(
    "cluster_store_delete_rtbf",
    oracle=r"""
WITH RECURSIVE s AS MATERIALIZED (
  SELECT doc_id, lang,
    CASE WHEN len(string_split_regex(trim(coalesce(text, '')), '\s+')) - 2 >= 1
      THEN list_distinct(list_transform(
             generate_series(1, len(string_split_regex(trim(coalesce(text, '')), '\s+')) - 2),
             i -> array_to_string(string_split_regex(trim(coalesce(text, '')), '\s+')[i:i+2], ' ')))
      ELSE [array_to_string(string_split_regex(trim(coalesce(text, '')), '\s+'), ' ')]
    END AS sh
  FROM documents
),
pairs AS MATERIALIZED (
  SELECT id_a, id_b FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS j
    FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
  ) WHERE j >= 0.5
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT u AS node, u AS r FROM edges
  UNION
  SELECT reach.node, e.v FROM reach JOIN edges e ON reach.r = e.u
),
comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
surv AS (SELECT node, component FROM comp WHERE node % 13 <> 0),
newlab AS (SELECT component, min(node) AS newc FROM surv GROUP BY component)
SELECT surv.node AS node, newlab.newc AS component
FROM surv JOIN newlab USING (component)
""",
    doc="Right-to-be-forgotten over the incremental dedup-cluster store "
    "(r14, VERDICT r13 #2 — streaming/cluster_store.py:ClusterStore."
    "delete, the erasure twin of fold): the exact-Jaccard pair set "
    "folds in 2 batches into the persisted bucketed labeling, then "
    "every doc_id%13==0 node is erased.  Node erasure, not graph "
    "re-closure: survivors stay in their components, but a component "
    "whose REPRESENTATIVE was erased is relabeled to its new min "
    "surviving member — no forgotten id survives as a node, a label, "
    "or a cindex entry, and only the touched buckets are rewritten "
    "(generation+meta commit, so a crashed delete re-surfaces the "
    "pre-delete state whole; replays of a committed delete are "
    "fenced, asserted inline).  FULLY value-oracled: DuckDB rebuilds "
    "the closure, drops the %13 nodes, and re-derives each component's "
    "min surviving label — the entire surviving labeling hash-matches "
    "row for row.",
)
def cluster_store_delete_rtbf(spark, sf_dir):
    import shutil

    from crick_spark.pipeline.dedup import jaccard_ngram_pairs
    from crick_spark.streaming.cluster_store import ClusterStore

    docs = load_table(spark, sf_dir, "documents")
    pairs = jaccard_ngram_pairs(
        docs, "doc_id", "text", block_col="lang", threshold=0.5, n=3
    ).localCheckpoint(eager=True)
    work = run_tmpdir("crick_clusterstore_rtbf_")
    store = ClusterStore(f"{work}/store")
    for bid in range(2):
        store.fold(
            pairs.where(
                F.pmod(F.xxhash64("id_a", "id_b"), F.lit(2)) == bid
            ),
            bid,
        )
    dele = docs.select(F.col("doc_id").alias("node")).where(
        F.col("doc_id") % 13 == 0
    )
    stats = store.delete(dele, batch_id=2)
    assert stats is not False, "first delete must not be fenced"
    assert store.delete(dele, batch_id=2) is False, (
        "replay of a committed delete must be fenced"
    )
    out = store.labels(spark).localCheckpoint(eager=True)
    shutil.rmtree(work, ignore_errors=True)
    return out
