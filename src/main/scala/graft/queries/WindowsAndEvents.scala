package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.operators.AsOfJoin
import graft.sources.ParquetSource

/** Window functions (W1–W4), batch event-time windowing (ST1/ST2 batch
  * shape over `events`), and the as-of join (J6).
  *
  * The reference does no SQL window functions (its top-k is ORDER BY+LIMIT,
  * SURVEY.md §3.5); these are north-star requirements. Window aggregates
  * over doubles use DECIMAL framing ([[graft.sql.Stable]] rationale) so the
  * running sums hash-match the oracle.
  */
object WindowsAndEvents extends QueryPack {

  private def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Per-type (mean, sd) profile from exact-decimal moments, shared by
    * dq3 (batch outliers) and st11 (the published streaming-alert
    * profile). greatest(...,0): E[x²]−mean² can cancel to ~-1e-18 in
    * doubles for a constant-valued type — DuckDB's sqrt THROWS on
    * negatives and Spark yields NaN. sd=0 types have no outliers by
    * definition and are filtered rather than divided by zero (IEEE
    * Inf/NaN vs DuckDB NULL).
    */
  private def typeProfile(e: DataFrame): DataFrame =
    e.groupBy(col("event_type").as("t"))
      .agg(
        (sum(dec2(col("value"))).cast("double") / count(lit(1))).as("mean"),
        (sum(dec2(col("value")) * dec2(col("value"))).cast("double") /
          count(lit(1))).as("msq"))
      .withColumn("sd", sqrt(greatest(col("msq") - col("mean") * col("mean"), lit(0.0))))
      .filter(col("sd") > 0)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // W1: ranking family over a partition.
    "w1_rank" -> { (s, d) =>
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables.orders(s, d)
        .select(col("o_orderstatus"), col("o_orderkey"), col("o_totalprice"))
        .withColumn("rn", row_number().over(w))
        .withColumn("rnk", rank().over(w))
        .withColumn("drnk", dense_rank().over(w))
        .withColumn("quartile", ntile(4).over(w))
        .filter(col("rn") <= 50)
        .orderBy("o_orderstatus", "rn")
    },

    // W2: lag/lead with inter-event gaps (sessionization building block).
    "w2_lag_lead" -> { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"), col("value"))
        .withColumn("prev_value", lag(col("value"), 1).over(w))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .withColumn("gap_us", unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
        .select("user_id", "event_id", "prev_value", "next_type", "gap_us")
        .orderBy("user_id", "event_id")
    },

    // W9: last-touch revenue attribution — every purchase credits the
    // user's most recent PRECEDING non-purchase event type ('direct' when
    // none), the marketing-analytics staple. One user-keyed window with a
    // [unbounded, 1 preceding) frame does the touch lookup (last_value
    // ignoreNulls over a purchase-masked column — no self-join against
    // the history), then a |types|-cell decimal-exact rollup. Same
    // single-exchange shape as w8; the frame never buffers more than the
    // partition it already sorted.
    "w9_attribution" -> { (s, d) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, d)
        .withColumn("touch",
          last(when(col("event_type") =!= "purchase", col("event_type")),
            ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .groupBy(coalesce(col("touch"), lit("direct")).as("touch"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(dec2(col("value"))).cast("double").as("attributed_value"))
        .orderBy("touch")
    },

    // W8: path analysis — the event-type transition matrix (the Markov
    // bigram model behind funnel mining and next-action prediction). Each
    // user's stream, totally ordered by (ts, event_id) like w2/w3, emits
    // (event_type → next_type) bigrams via lead(); one shuffle on
    // user_id, the window runs inside that partition, and the final hash
    // agg collapses to ~|types|² cells with map-side combine — the heavy
    // stage stays the single user-keyed exchange at any scale.
    "w8_transitions" -> { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type"), col("next_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("event_type").asc, col("next_type").asc)
    },

    // W3: frames — running sum + 3-row moving average per user.
    "w3_frames" -> { (s, d) =>
      val ordered = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
      val running = ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val moving  = ordered.rowsBetween(-2, Window.currentRow)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
        .withColumn("running_total", sum(dec2(col("value"))).over(running).cast("double"))
        .withColumn("moving_avg",
          (sum(dec2(col("value"))).over(moving).cast("double") / count(lit(1)).over(moving)))
        .select("user_id", "event_id", "running_total", "moving_avg")
        .orderBy("user_id", "event_id")
    },

    // W4: top-k per group via row_number.
    "w4_topk_per_group" -> { (s, d) =>
      val w = Window.partitionBy(col("p_brand"))
        .orderBy(col("p_retailprice").desc, col("p_partkey").asc)
      Tables.part(s, d)
        .select(col("p_brand"), col("p_partkey"), col("p_retailprice"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .orderBy("p_brand", "rn")
    },

    // W4b: the same top-k-per-group semantics through the CUSTOM
    // whole-operator stack (graft.plans.TopKPerKey: logical node →
    // injected strategy → heap-based exec) instead of a window function.
    "w4_topk_operator" -> { (s, d) =>
      graft.plans.TopKPerKey(
        Tables.part(s, d).select("p_brand", "p_partkey", "p_retailprice"),
        keyCols = Seq("p_brand"),
        order = Seq("p_retailprice" -> false, "p_partkey" -> true),
        k = 3)
        .orderBy(col("p_brand"), col("p_retailprice").desc, col("p_partkey").asc)
    },

    // W7 (distribution family): percent_rank / cume_dist of supplier
    // account balances within each nation. Both are rank-count ratios —
    // one IEEE division of two small integers per row, so the doubles are
    // bit-identical across engines with no decimal framing needed. Ties on
    // the raw balance are left in the ordering on purpose (the tie
    // semantics of rank vs row count are the point of the family).
    "w7_distribution" -> { (s, d) =>
      val w = Window.partitionBy(col("s_nationkey")).orderBy(col("s_acctbal").asc)
      Tables.supplier(s, d)
        .select(col("s_nationkey"), col("s_suppkey"), col("s_acctbal"))
        .withColumn("pr", percent_rank().over(w))
        .withColumn("cd", cume_dist().over(w))
        .orderBy("s_nationkey", "s_suppkey")
    },

    // ST1 (batch shape): tumbling 1-hour event-time windows per event type.
    "st1_tumbling_window" -> { (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(dec2(col("value"))).cast("double").as("total_value"))
        .select(col("w.start").as("ws"), col("event_type"), col("n"), col("total_value"))
        .orderBy("ws", "event_type")
    },

    // ST1b (batch shape): sliding windows — 1 hour long, 30 min slide.
    "st1_sliding_window" -> { (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("ws"), col("n"))
        .orderBy("ws")
    },

    // ST2 (batch shape): session windows with a 30-minute gap, per user.
    "st2_session_window" -> { (s, d) =>
      Tables.events(s, d)
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), sum(dec2(col("value"))).cast("double").as("total_value"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("w.end").as("session_end"), col("n_events"), col("total_value"))
        .orderBy("user_id", "session_start")
    },

    // ST3 (batch shape): watermark late-row semantics made oracle-visible —
    // per user, the watermark is that user's max event time minus a 24 h
    // horizon; rows behind it are the ones a streaming run with
    // `withWatermark("ts", "24 hours")` would have dropped had they arrived
    // last (the StreamingSpec late-row scenario, rendered deterministically
    // over the full batch). Output: per-user kept/dropped accounting.
    "st3_late_drop" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
      Tables.events(s, d)
        .withColumn("wm", max(col("ts")).over(w) - expr("INTERVAL 24 HOURS"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("ts") < col("wm"), 1L).otherwise(0L)).as("n_dropped"),
          max(col("ts")).as("max_ts"))
        .orderBy("user_id")
    },

    // ST4 (batch shape): timeout sessionization — the deterministic render
    // of `StreamOps.userSessionsTimeout` (flatMapGroupsWithState +
    // EventTimeTimeout, gap 45 min) over the full batch. Per user: session
    // id = running count of gap>45min breaks (lag + cumulative sum), then
    // per-session agg with the EXACT SessionOut shape (session_end = last
    // event, not last+gap — the state machine's endMs, unlike ST2's
    // session_window). `closed` mirrors timeout scheduling: a session has
    // fired by end-of-input iff the global event-time watermark (max ts
    // over ALL users) passed its end + gap; open sessions are what the
    // state store still holds. The 1-row global-max side is a broadcast
    // cross join — no single-partition window, scales with users not rows.
    "st4_sessionization" -> { (s, d) =>
      val e = Tables.events(s, d)
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
      val sessions = e
        .withColumn("brk",
          when(col("ts") - lag(col("ts"), 1).over(w) >= expr("INTERVAL 45 MINUTES"), 1L)
            .otherwise(when(lag(col("ts"), 1).over(w).isNull, 1L).otherwise(0L)))
        .withColumn("sid", sum(col("brk")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("sid"))
        .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
          count(lit(1)).as("n_events"))
      sessions
        .crossJoin(broadcast(e.agg(max(col("ts")).as("wm_ts"))))
        // STRICT <: EventTimeTimeout fires only when the watermark EXCEEDS
        // the timeout timestamp (timeoutTimestamp < watermark in
        // FlatMapGroupsWithStateExec), so a session whose end+gap equals
        // the final watermark is still held in state, not emitted.
        .select(col("user_id"), col("session_start"), col("session_end"), col("n_events"),
          (col("session_end") + expr("INTERVAL 45 MINUTES") < col("wm_ts")).as("closed"))
        .orderBy("user_id", "session_start")
    },

    // ST5 (batch shape): dedup by event_id — input doubled so the dedup
    // provably halves it; streaming form is dropDuplicatesWithinWatermark
    // (graft.streaming.StreamOps.dedupEvents, asserted in StreamingSpec).
    "st5_dedup" -> { (s, d) =>
      val e = Tables.events(s, d)
      val doubled = e.union(e)
      doubled.agg(count(lit(1)).as("n_total"))
        .crossJoin(doubled.dropDuplicates("event_id").agg(count(lit(1)).as("n_unique")))
    },

    // ST7+S8/S9 made oracle-visible: a REAL Structured Streaming run —
    // file-stream source over the events parquet → foreachBatch parquet
    // append sink (AvailableNow trigger) → SnapshotSink atomic symlink
    // publish — then the published snapshot is read back and aggregated
    // per event type. The hash gate proves every source row landed in the
    // sink exactly once: any dropped/duplicated batch changes the counts.
    // Reruns are idempotent: the checkpoint makes re-delivery a no-op and
    // the snapshot republish swaps in identical content.
    "st7_sink_roundtrip" -> { (s, d) =>
      val base = scratchDir(s, d, "st7_sink")
      val staging = s"$base/staging"
      val ckpt    = s"$base/ckpt"
      val snap    = s"$base/snapshot"
      val q = graft.streaming.StreamOps.parquetAppendSink(
        graft.streaming.StreamOps.eventsStream(s, d), staging, ckpt)
      q.awaitTermination()
      graft.sources.SnapshotSink.overwrite(ParquetSource.read(s, staging), snap)
      ParquetSource.read(s, snap)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(dec2(col("value"))).cast("double").as("total_value"))
        .orderBy("event_type")
    },

    // ST2 as a REAL streaming run (the st7 recipe applied to session
    // windows): file-stream source → watermarked session_window agg →
    // foreachBatch parquet append (AvailableNow) → SnapshotSink publish →
    // read the landed snapshot back. What lands is exactly the sessions
    // the engine FINALIZED: append-mode session aggregation emits a
    // session once the event-time watermark passes its end, where the
    // watermark is the max event time TRUNCATED TO MILLISECONDS (the
    // engine tracks event times in epoch-ms) minus the 10-minute delay,
    // and the comparison is NON-STRICT (session_end == watermark emits —
    // pinned in StreamingSpec's boundary test). Sessions newer than that
    // stay in the state store and do not land. The oracle mirrors the
    // batch session render plus that exact finalization predicate.
    "st2_stream_roundtrip" -> { (s, d) =>
      val base = scratchDir(s, d, "st2_sink")
      val q = graft.streaming.StreamOps.parquetAppendSink(
        graft.streaming.StreamOps.sessionStats(
          graft.streaming.StreamOps.eventsStream(s, d),
          gap = "30 minutes", watermark = "10 minutes"),
        s"$base/staging", s"$base/ckpt")
      q.awaitTermination()
      graft.sources.SnapshotSink.overwrite(
        ParquetSource.read(s, s"$base/staging"), s"$base/snapshot")
      ParquetSource.read(s, s"$base/snapshot")
        .orderBy("user_id", "session_start")
    },

    // ST10: streaming windowed TRENDING as a REAL stream — tumbling
    // 1-day counts per event type in append mode (only watermark-
    // finalized windows land: end ≤ wm, the same non-strict rule st2's
    // oracle pins), then top-3 types per landed window ranked at publish
    // time. The production "what's trending" feed: the stream maintains
    // only |types| counters per open window (bounded state), finalized
    // windows append once (exactly-once via checkpoint + the hash gate),
    // and the ranking runs over the landed aggregate — tiny — never the
    // event stream.
    "st10_stream_topk" -> { (s, d) =>
      val base = scratchDir(s, d, "st10_sink")
      val windowed = graft.streaming.StreamOps.eventsStream(s, d)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("window_start"), col("event_type"), col("n"))
      val q = graft.streaming.StreamOps.parquetAppendSink(
        windowed, s"$base/staging", s"$base/ckpt")
      q.awaitTermination()
      val rankW = Window.partitionBy(col("window_start"))
        .orderBy(col("n").desc, col("event_type").asc)
      graft.sources.SnapshotSink.overwrite(
        ParquetSource.read(s, s"$base/staging")
          .withColumn("rn", row_number().over(rankW)).filter(col("rn") <= 3),
        s"$base/snapshot")
      ParquetSource.read(s, s"$base/snapshot").orderBy("window_start", "rn")
    },

    // ST13: CHAINED STATEFUL AGGREGATIONS in one real stream — w13's
    // sliding distinct-actives as a stream: stage 1 collapses events to
    // (7-day/1-day sliding window, user) rows, stage 2 re-aggregates BY
    // THE WINDOW STRUCT to count distinct users — the two-stateful-
    // operator pipeline (agg → agg) Spark supports natively in append
    // mode since multiple-stateful-operator support landed; previously
    // this required a foreachBatch workaround. The window column carries
    // event time through to stage 2, so both stages finalize against the
    // same end-of-input watermark and only closed windows land (st2's
    // non-strict end ≤ wm rule, oracle-encoded). State is bounded:
    // stage 1 holds (window × active user) counters inside the watermark
    // horizon, stage 2 one counter per open window.
    "st13_stream_sliding_active" -> { (s, d) =>
      val base = scratchDir(s, d, "st13_sink")
      val perUser = graft.streaming.StreamOps.eventsStream(s, d)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "7 days", "1 day").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
      val active = perUser
        .groupBy(col("w"))
        .agg(count(lit(1)).as("n_active"))
        .select(col("w.start").as("window_start"), col("n_active"))
      val q = graft.streaming.StreamOps.parquetAppendSink(
        active, s"$base/staging", s"$base/ckpt")
      q.awaitTermination()
      graft.sources.SnapshotSink.overwrite(
        ParquetSource.read(s, s"$base/staging"), s"$base/snapshot")
      ParquetSource.read(s, s"$base/snapshot").orderBy("window_start")
    },

    // ST14: the SAME tumbling-window pipeline as st1, fed through the
    // KAFKA-SHAPED source adapter (SURVEY S8's format("kafka") gap): the
    // events table lands in the Kafka wire schema (binary key/value,
    // topic/partition/offset/timestamp), the stream consumes it
    // rate-limited (maxFilesPerTrigger=1 — one "partition fetch" per
    // micro-batch, 4 micro-batches end to end) and decodes value with
    // from_json exactly as a format("kafka") consumer would. The oracle
    // is st1's tumbling aggregate restricted to watermark-finalized
    // windows (st2/st10's non-strict end ≤ wm rule) — proving the
    // pipeline is source-agnostic: pacing and wire format change NOTHING
    // in what lands.
    "st14_kafka_shaped_source" -> { (s, d) =>
      val base = scratchDir(s, d, "st14_sink")
      val src = graft.streaming.StreamOps.eventsSource(s, d, "kafka", base)
      val windowed = src
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("value"))).cast("double").as("total_value"))
        .select(col("w.start").as("ws"), col("event_type"), col("n"),
          col("total_value"))
      val q = graft.streaming.StreamOps.parquetAppendSink(
        windowed, s"$base/staging", s"$base/ckpt")
      q.awaitTermination()
      graft.sources.SnapshotSink.overwrite(
        ParquetSource.read(s, s"$base/staging"), s"$base/snapshot")
      ParquetSource.read(s, s"$base/snapshot").orderBy("ws", "event_type")
    },

    // ST4 as a REAL streaming run: the flatMapGroupsWithState
    // sessionization (EventTimeTimeout, 45-minute gap) executed as an
    // actual stream over the events source, landed via foreachBatch and
    // published. A session lands iff its timeout FIRED before end of
    // input: timeoutTimestamp (= session_end + gap, in epoch-ms — the
    // state machine clocks in milliseconds) STRICTLY below the final
    // watermark (max event-ms − 10-minute delay). The oracle replays the
    // same state machine over ms-truncated event times — gap splits,
    // session bounds, and the firing predicate all in the millisecond
    // domain the engine actually sees.
    "st4_stream_roundtrip" -> { (s, d) =>
      import graft.streaming.StreamOps
      val base = scratchDir(s, d, "st4_sink")
      val events = StreamOps.eventsStream(s, d)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .withWatermark("ts", "10 minutes")
        .as[StreamOps.Event](org.apache.spark.sql.Encoders.product[StreamOps.Event])
      val q = StreamOps.parquetAppendSink(
        StreamOps.userSessionsTimeout(events, gapMs = 45 * 60 * 1000L).toDF(),
        s"$base/staging", s"$base/ckpt")
      q.awaitTermination()
      graft.sources.SnapshotSink.overwrite(
        ParquetSource.read(s, s"$base/staging"), s"$base/snapshot")
      ParquetSource.read(s, s"$base/snapshot")
        .orderBy("user_id", "session_start")
    },

    // ST16: transformWithState (Spark 4's arbitrary-state API, RocksDB-
    // backed) as a REAL streaming run — per-user running profiles over a
    // ValueState (exact-cents totals) + a MapState (per-event-type
    // counts), one updated row per user per micro-batch, merged
    // last-writer-wins into an atomically-published snapshot (the st12
    // pattern). The merge makes the final snapshot batch-boundary
    // INVARIANT, so the oracle is the plain batch GROUP BY over events —
    // stream-must-equal-batch, the strongest cross-check for a stateful
    // operator.
    "st16_tws_user_stats" -> { (s, d) =>
      import graft.streaming.StreamOps
      val base = scratchDir(s, d, "st16_sink")
      val snap = s"$base/snapshot"
      val providerKey = "spark.sql.streaming.stateStore.providerClass"
      val prevProvider = s.conf.getOption(providerKey)
      s.conf.set(providerKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val events = StreamOps.eventsStream(s, d)
          .select("event_id", "ts", "user_id", "event_type", "value")
          .as[StreamOps.Event](org.apache.spark.sql.Encoders.product[StreamOps.Event])
        val q = StreamOps.userStatsTws(events).toDF().writeStream
          .outputMode("update")
          .option("checkpointLocation", s"$base/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            val ss = batch.sparkSession
            val merged =
              if (java.nio.file.Files.exists(java.nio.file.Paths.get(snap)))
                graft.operators.Merge.upsert(
                  ParquetSource.read(ss, snap), batch, "user_id")
              else batch
            graft.sources.SnapshotSink.overwrite(merged, snap)
          }
          .start()
        q.awaitTermination()
        ParquetSource.read(s, snap).orderBy("user_id")
      } finally {
        prevProvider match {
          case Some(p) => s.conf.set(providerKey, p)
          case None    => s.conf.unset(providerKey)
        }
      }
    },

    // ST17: transformWithState EVENT-TIME TIMERS as a REAL streaming run —
    // the st4 gap-sessionization re-expressed on Spark 4's processor-timer
    // surface (explicit registerTimer/deleteTimer + handleExpiredTimer
    // eviction over RocksDB, StreamOps.SessionTimerProcessor) instead of
    // fMGWS's hasTimedOut re-entry. The emission set is the SAME state
    // machine — sessions closed by a later event emit from the data batch,
    // the final open session emits iff its timer fired strictly before the
    // final watermark — so the st4 oracle replay gates this query
    // unchanged: a timer mis-registration, a stale-timer double fire, or a
    // wrong watermark comparator each change the landed set and go red.
    "st17_tws_session_timers" -> { (s, d) =>
      import graft.streaming.StreamOps
      val base = scratchDir(s, d, "st17_sink")
      val providerKey = "spark.sql.streaming.stateStore.providerClass"
      val prevProvider = s.conf.getOption(providerKey)
      s.conf.set(providerKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val events = StreamOps.eventsStream(s, d)
          .select("event_id", "ts", "user_id", "event_type", "value")
          .withWatermark("ts", "10 minutes")
          .as[StreamOps.Event](org.apache.spark.sql.Encoders.product[StreamOps.Event])
        val q = StreamOps.parquetAppendSink(
          StreamOps.userSessionsTws(events, gapMs = 45 * 60 * 1000L).toDF(),
          s"$base/staging", s"$base/ckpt")
        q.awaitTermination()
        graft.sources.SnapshotSink.overwrite(
          ParquetSource.read(s, s"$base/staging"), s"$base/snapshot")
        ParquetSource.read(s, s"$base/snapshot")
          .orderBy("user_id", "session_start")
      } finally {
        prevProvider match {
          case Some(p) => s.conf.set(providerKey, p)
          case None    => s.conf.unset(providerKey)
        }
      }
    },

    // ST8: stream-STREAM join as a REAL streaming run — two watermarked
    // streams over the events source (errors / purchases) joined on user
    // within a 1-day event-time range, landed via foreachBatch and
    // published. Inner matches emit in the batch where they form; the
    // watermark + range predicate bound the join STATE, not the output —
    // so with AvailableNow draining the source, exactly the batch interval
    // join's rows land, and the oracle is the same SQL as j6_interval_join
    // (the strongest possible cross-check: a stateful streaming operator
    // hash-equal to its batch semantics).
    "st8_stream_stream_join" -> { (s, d) =>
      val base = scratchDir(s, d, "st8_sink")
      val q = graft.streaming.StreamOps.parquetAppendSink(
        graft.streaming.StreamOps.errorsAfterPurchases(
          graft.streaming.StreamOps.eventsStream(s, d)),
        s"$base/staging", s"$base/ckpt")
      q.awaitTermination()
      graft.sources.SnapshotSink.overwrite(
        ParquetSource.read(s, s"$base/staging"), s"$base/snapshot")
      ParquetSource.read(s, s"$base/snapshot")
        .orderBy("event_id", "purchase_id")
    },

    // ST9: stream-stream LEFT OUTER interval join as a REAL streaming run.
    // Inner matches land as they form (= the batch join); an UNMATCHED
    // error lands with a NULL purchase id only when the engine can PROVE
    // no matching purchase can still arrive — its match window requires
    // p_ts <= ts, so the null row emits once the final watermark (max
    // event-ms − 10 min) passes the error's ts. Unmatched errors younger
    // than the watermark stay in state and do NOT land: the oracle's
    // null-row branch carries exactly that ts < watermark cut.
    "st9_stream_outer_join" -> { (s, d) =>
      val base = scratchDir(s, d, "st9_sink")
      val q = graft.streaming.StreamOps.parquetAppendSink(
        graft.streaming.StreamOps.errorsAfterPurchasesJoin(
          graft.streaming.StreamOps.eventsStream(s, d), "10 minutes", "left_outer")
          .select(col("event_id"), col("purchase_id")),
        s"$base/staging", s"$base/ckpt")
      q.awaitTermination()
      graft.sources.SnapshotSink.overwrite(
        ParquetSource.read(s, s"$base/staging"), s"$base/snapshot")
      ParquetSource.read(s, s"$base/snapshot")
        .orderBy(col("event_id").asc, col("purchase_id").asc_nulls_first)
    },

    // ST6 (batch shape): stream-static enrichment — events joined to the
    // customer dimension (broadcast), aggregated per segment.
    "st6_stream_static" -> { (s, d) =>
      Tables.events(s, d)
        .join(broadcast(Tables.customer(s, d)),
          col("user_id") === col("c_custkey"), "left_outer")
        .groupBy(coalesce(col("c_mktsegment"), lit("<none>")).as("segment"))
        .agg(count(lit(1)).as("n"), sum(dec2(col("value"))).cast("double").as("total_value"))
        .orderBy("segment")
    },

    // W5: funnel analysis — ordered-sequence matching (view → click →
    // purchase, strictly increasing event times per user), the
    // match_recognize-style capability class. Each stage is a keyed min
    // over the events AFTER the previous stage's timestamp: three tiny
    // per-user aggregates joined in sequence (the user-stage tables are
    // filtered aggregations, far smaller than the event stream), then one
    // single-row census with exact conversion ratios. No windows over the
    // full stream, no cross product.
    "w5_event_funnel" -> { (s, d) =>
      val e = Tables.events(s, d)
      val v = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
      val c = e.filter(col("event_type") === "click").join(v, Seq("user_id"))
        .filter(col("ts") > col("t_view"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
      val p = e.filter(col("event_type") === "purchase").join(c, Seq("user_id"))
        .filter(col("ts") > col("t_click"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
      v.agg(count(lit(1)).as("n_viewed"))
        .crossJoin(c.agg(count(lit(1)).as("n_clicked")))
        .crossJoin(p.agg(count(lit(1)).as("n_purchased")))
        // Both denominators guarded: 0/0 is NULL in Spark but NaN/Inf in
        // DuckDB's IEEE float ops — an empty stage must not diverge.
        .select(col("n_viewed"), col("n_clicked"), col("n_purchased"),
          round(col("n_clicked").cast("double") /
            greatest(col("n_viewed"), lit(1L)), 6).as("view_to_click"),
          round(col("n_purchased").cast("double") /
            greatest(col("n_clicked"), lit(1L)), 6).as("click_to_purchase"))
    },

    // W6: cohort retention — users bucketed by the week of their FIRST
    // event; for each cohort, the fraction still active 1–4 weeks later.
    // The other classic event-analytics shape next to w5's funnel. Week
    // ids are exact integer floor((days since epoch-date)/7) on both
    // engines; cohort/active tables are per-user aggregates (small), the
    // retention join is cohort-keyed.
    "w6_cohort_retention" -> { (s, d) =>
      val e = Tables.events(s, d)
        .withColumn("week",
          floor(datediff(col("ts").cast("date"), lit("2024-01-01").cast("date")) / 7)
            .cast("long"))
      val firstWeek = e.groupBy(col("user_id")).agg(min(col("week")).as("cohort"))
      val active = e.select(col("user_id"), col("week")).distinct()
      val sizes = firstWeek.groupBy(col("cohort")).agg(count(lit(1)).as("n_users"))
      active.join(firstWeek, Seq("user_id"))
        .withColumn("week_offset", col("week") - col("cohort"))
        .filter(col("week_offset").between(1, 4))
        .groupBy(col("cohort"), col("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        .join(sizes, Seq("cohort"))
        .select(col("cohort"), col("week_offset"), col("n_users"), col("n_active"),
          round(col("n_active").cast("double") / col("n_users"), 6).as("retention"))
        .orderBy("cohort", "week_offset")
    },

    // DQ3: z-score anomaly detection per event type — the data-quality
    // outlier pass a pipeline runs over metric columns. Mean and E[x²] run
    // through EXACT decimal sums (value has 2dp → squares exact at 4dp),
    // divisions/sqrt are then scalar IEEE doubles over identical operands
    // in both engines, so the z-scores are bit-identical and the |z|>3
    // flag list hash-matches. The per-type stats table is tiny (one row
    // per type) and broadcast back onto the stream — no window over the
    // full table, no second shuffle at scale.
    "dq3_outliers" -> { (s, d) =>
      val e = Tables.events(s, d)
      e.join(broadcast(typeProfile(e)), col("event_type") === col("t"))
        .withColumn("z", round((col("value") - col("mean")) / col("sd"), 6))
        .filter(abs(col("z")) > 3.0)
        .select(col("event_id"), col("event_type"), col("value"),
          round(col("mean"), 6).as("type_mean"), col("z"))
        .orderBy("event_id")
    },

    // ST11: streaming anomaly ALERTING as a REAL stream — the monitoring
    // deployment shape: the per-type (mean, sd) profile is precomputed
    // from the corpus and PUBLISHED (ArtifactStore snapshot, the
    // "trained" profile a monitor serves), the events stream joins it
    // broadcast (stream-static, STATELESS — no watermark state to
    // bound), |z| > 3 rows land via foreachBatch and publish. Shares
    // dq3's oracle verbatim: a stateless stream must land exactly the
    // batch decision, row for row.
    "st11_stream_alerts" -> { (s, d) =>
      val base = scratchDir(s, d, "st11_sink")
      val profile = graft.sources.ArtifactStore.snapshot(s, d, "type_profile") {
        typeProfile(Tables.events(s, d))
      }
      val alerts = graft.streaming.StreamOps.eventsStream(s, d)
        .join(broadcast(profile), col("event_type") === col("t"))
        .withColumn("z", round((col("value") - col("mean")) / col("sd"), 6))
        .filter(abs(col("z")) > 3.0)
        .select(col("event_id"), col("event_type"), col("value"),
          round(col("mean"), 6).as("type_mean"), col("z"))
      val q = graft.streaming.StreamOps.parquetAppendSink(
        alerts, s"$base/staging", s"$base/ckpt")
      q.awaitTermination()
      graft.sources.SnapshotSink.overwrite(
        ParquetSource.read(s, s"$base/staging"), s"$base/snapshot")
      ParquetSource.read(s, s"$base/snapshot").orderBy("event_id")
    },

    // J6b: interval join — error events landing within 1 day AFTER a
    // purchase by the same user, via the bucketed equi-join formulation
    // (graft.operators.RangeJoin; per-key blowup bounded by bucket count).
    "j6_interval_join" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val errors = ev.filter(col("event_type") === "error")
        .select("event_id", "user_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
          col("ts").as("win_start"),
          (col("ts") + expr("INTERVAL 1 DAY")).as("win_end"))
      graft.operators.RangeJoin.intervalJoin(
        errors, purchases,
        leftKey = "user_id", rightKey = "p_user",
        leftTime = "ts", start = "win_start", end = "win_end",
        widthSec = 24 * 3600L)
        .select("event_id", "purchase_id")
        .orderBy("event_id", "purchase_id")
    },

    // J6: as-of join — each event gets the user's most recent prior order.
    "j6_asof_join" -> { (s, d) =>
      AsOfJoin.asOf(
        left = Tables.events(s, d).select("event_id", "user_id", "ts"),
        right = Tables.orders(s, d).select("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice"),
        leftKey = "user_id", rightKey = "o_custkey",
        leftTime = "ts", rightTime = "o_orderdate",
        tiebreak = "o_orderkey",
        rightCols = Seq("o_orderkey", "o_totalprice"))
        .select("event_id", "user_id", "o_orderkey", "o_totalprice")
        .orderBy("event_id")
    },

    // W10: calendar GAP-FILL with forward fill — the time-series
    // regularization operator (resample-to-daily): per user, a dense day
    // spine from first to last active day (sequence+explode — output-linear,
    // the inherent cost of gap-fill), daily aggregates left-joined on, gaps
    // 0-filled for additive metrics and LOCF-filled (last() ignoreNulls
    // window) for state-like ones. Spine build, join, and window all key on
    // user_id; the spine side arrives already partitioned by user_id from
    // its groupBy, so AQE reuses that Exchange — the marginal shuffles are
    // the (user_id, day) join re-key and nothing else. Per-user window
    // state is one carried value — no frame buffering.
    "w10_gapfill" -> { (s, d) =>
      val daily = Tables.events(s, d)
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n_events"),
          max(col("event_type")).as("day_max_type"))
      val spine = daily.groupBy(col("user_id"))
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(col("user_id"),
          explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      spine.join(daily, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          last(col("day_max_type"), ignoreNulls = true)
            .over(Window.partitionBy(col("user_id")).orderBy(col("day")))
            .as("carried_type"))
        .orderBy("user_id", "day")
    },

    // W11: gaps-and-islands — collapse each user's active days into maximal
    // consecutive runs. The textbook form (distinct days → day −
    // row_number() window → re-group) costs TWO key exchanges plus a
    // window sort ((user_id, day) for the distinct, user_id again for the
    // window). Here the ONLY shuffle is one user_id hash agg:
    // collect_set(day) partial-aggregates map-side, and the island split
    // is a per-row fold over the sorted day array (start a new island when
    // the day gap exceeds 1) — no window, no second exchange. The fold's
    // accumulator-copy cost is quadratic in the PER-USER island count,
    // which the calendar bounds (a user-day table spans thousands of days
    // at most — never corpus-scale). n_days = island span because every
    // day inside an island is present by construction.
    "w11_activity_islands" -> { (s, d) =>
      Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .groupBy(col("user_id"))
        .agg(array_sort(collect_set(col("day"))).as("days"))
        .select(col("user_id"), explode(expr(
          """aggregate(
            |  slice(days, 2, size(days) - 1),
            |  array(named_struct('s', days[0], 'e', days[0])),
            |  (acc, d) -> CASE WHEN datediff(d, element_at(acc, -1).e) = 1
            |    THEN concat(slice(acc, 1, size(acc) - 1),
            |                array(named_struct('s', element_at(acc, -1).s, 'e', d)))
            |    ELSE concat(acc, array(named_struct('s', d, 'e', d))) END)""".stripMargin))
          .as("isl"))
        .select(col("user_id"),
          col("isl.s").as("island_start"),
          col("isl.e").as("island_end"),
          (datediff(col("isl.e"), col("isl.s")) + 1).cast("long").as("n_days"))
        .orderBy("user_id", "island_start")
    },

    // W12: exponential moving average — the order-dependent recursion
    // (ema_i = ½·ema_{i−1} + ½·x_i, seeded at the first observation) that
    // no window frame expresses: a frame aggregates the frame's ROWS, EMA
    // depends on its own previous OUTPUT. Per user: daily exact-decimal
    // mean values (dq3's determinism idiom), then ONE chronological fold
    // over the sorted day array — one user_id shuffle total (collect_list
    // partial-aggregates map-side), fold cost linear in per-user days
    // (calendar-bounded). DuckDB's list_reduce seeds with the first
    // element and folds left exactly like the slice+element_at form here,
    // and ½-weights are exact in binary, so the recursion is
    // bit-identical cross-engine.
    "w12_ema" -> { (s, d) =>
      val daily = Tables.events(s, d)
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg((sum(dec2(col("value"))).cast("double") / count(lit(1))).as("v"))
      daily.groupBy(col("user_id"))
        .agg(
          transform(array_sort(collect_list(struct(col("day"), col("v")))),
            x => x.getField("v")).as("vs"),
          count(lit(1)).as("n_days"),
          max(col("day")).as("last_day"))
        .select(col("user_id"), col("n_days"), col("last_day"),
          round(expr(
            "aggregate(slice(vs, 2, size(vs) - 1), element_at(vs, 1)," +
              " (acc, x) -> acc * 0.5D + x * 0.5D)"), 6).as("ema"))
        .orderBy("user_id")
    },

    // W14: sequence PATTERN MATCHING (MATCH_RECOGNIZE-lite) — the event
    // analytics SQL:2016 added a whole clause for: find regex patterns
    // over each user's ordered event stream. The portable formulation:
    // render the stream as a per-user symbol string (one char per event
    // type, (ts, event_id)-ordered — both engines agree on the string
    // byte-for-byte) and run the pattern as an actual regex —
    // 'v+cp' = "one or more views, then click, then purchase", counted
    // non-overlapping left-to-right (Java and RE2 agree for this
    // pattern class). One user_id shuffle; per-user state is the
    // symbol string — one byte per event, bounded by per-user activity.
    // w5's funnel is the existence special case; this is the general
    // counting machine.
    "w14_pattern_match" -> { (s, d) =>
      val seqs = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(concat_ws("", expr(
          "transform(array_sort(collect_list(struct(ts, event_id, " +
            "substring(event_type, 1, 1) AS c))), x -> x.c)")).as("seq"))
      seqs.select(col("user_id"),
          length(col("seq")).as("n_events"),
          size(expr("regexp_extract_all(seq, 'v+cp', 0)")).as("n_funnels"),
          size(expr("regexp_extract_all(seq, 'e{2,}', 0)")).as("n_error_bursts"))
        .orderBy("user_id")
    },

    // W13: sliding-window DISTINCT count — trailing-7-day active users per
    // day. SQL cannot express this as a window function
    // (COUNT(DISTINCT) OVER RANGE is unsupported in every engine — frames
    // aggregate rows, distinctness needs set state); the scalable shape is
    // the contribute-explode: dedup to (user, day) — the heavy stream
    // collapses here, map-side combinable — then each user-day contributes
    // to the ≤7 windows it falls in (bounded fan-out = window span) and
    // one (win_end) hash agg counts distinct users. Cost is
    // 7 × |user-days|, never 7 × |events|, and never a per-window rescan.
    "w13_sliding_distinct" -> { (s, d) =>
      val ud = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val mx = ud.agg(max(col("day")).as("mday"))
      ud.select(col("user_id"),
          explode(expr("sequence(day, date_add(day, 6))")).as("win_end"))
        .crossJoin(broadcast(mx))
        .filter(col("win_end") <= col("mday"))
        .groupBy(col("win_end"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        .orderBy("win_end")
    }
  )

  private val outliersOracleSql: String =
    """WITH stats AS (
      |  SELECT event_type AS t,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS mean,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS msq
      |  FROM events GROUP BY event_type
      |), st AS (SELECT t, mean, sqrt(greatest(msq - mean * mean, 0)) AS sd FROM stats)
      |SELECT event_id, event_type, value, round(mean, 6) AS type_mean,
      |  round((value - mean) / sd, 6) AS z
      |FROM events JOIN st ON event_type = t
      |WHERE sd > 0 AND abs(round((value - mean) / sd, 6)) > 3.0
      |ORDER BY event_id""".stripMargin

  val oracle: Map[String, String] = Map(
    "w1_rank" ->
      """SELECT * FROM (
        |  SELECT o_orderstatus, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER w AS rn, RANK() OVER w AS rnk,
        |    DENSE_RANK() OVER w AS drnk, NTILE(4) OVER w AS quartile
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey ASC)
        |) WHERE rn <= 50 ORDER BY o_orderstatus, rn""".stripMargin,

    "w2_lag_lead" ->
      """SELECT user_id, event_id, LAG(value, 1) OVER w AS prev_value,
        |  LEAD(event_type, 1) OVER w AS next_type,
        |  epoch_us(ts) - LAG(epoch_us(ts), 1) OVER w AS gap_us
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        |ORDER BY user_id, event_id""".stripMargin,

    "w9_attribution" ->
      """SELECT COALESCE(touch, 'direct') AS touch, COUNT(*) AS n_purchases,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS attributed_value
        |FROM (
        |  SELECT event_type, value,
        |    LAST_VALUE(CASE WHEN event_type != 'purchase' THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
        |  FROM events
        |) WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY touch""".stripMargin,

    "w8_transitions" ->
      """SELECT event_type, next_type, COUNT(*) AS n FROM (
        |  SELECT event_type,
        |    LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS next_type
        |  FROM events
        |) WHERE next_type IS NOT NULL
        |GROUP BY event_type, next_type
        |ORDER BY n DESC, event_type ASC, next_type ASC""".stripMargin,

    "w3_frames" ->
      """SELECT user_id, event_id,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER running AS DOUBLE) AS running_total,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER moving AS DOUBLE) / COUNT(*) OVER moving AS moving_avg
        |FROM events
        |WINDOW
        |  running AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  moving AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,

    "w4_topk_per_group" ->
      """SELECT * FROM (
        |  SELECT p_brand, p_partkey, p_retailprice,
        |    ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey ASC) AS rn
        |  FROM part
        |) WHERE rn <= 3 ORDER BY p_brand, rn""".stripMargin,

    "w4_topk_operator" ->
      """SELECT p_brand, p_partkey, p_retailprice FROM (
        |  SELECT p_brand, p_partkey, p_retailprice,
        |    ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey ASC) AS rn
        |  FROM part
        |) WHERE rn <= 3 ORDER BY p_brand, p_retailprice DESC, p_partkey ASC""".stripMargin,

    "w7_distribution" ->
      """SELECT s_nationkey, s_suppkey, s_acctbal,
        |  percent_rank() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal ASC) AS pr,
        |  cume_dist() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal ASC) AS cd
        |FROM supplier ORDER BY s_nationkey, s_suppkey""".stripMargin,

    "st1_tumbling_window" ->
      """SELECT date_trunc('hour', ts) AS ws, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin,

    "st1_sliding_window" ->
      """WITH assigned AS (
        |  SELECT make_timestamp((epoch_us(ts) // 1800000000) * 1800000000) AS ws FROM events
        |  UNION ALL
        |  SELECT make_timestamp((epoch_us(ts) // 1800000000) * 1800000000 - 1800000000) AS ws FROM events
        |)
        |SELECT ws, COUNT(*) AS n FROM assigned GROUP BY ws ORDER BY ws""".stripMargin,

    "st2_session_window" ->
      """WITH marked AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        |), grouped AS (
        |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked
        |)
        |SELECT user_id, MIN(ts) AS session_start,
        |  MAX(ts) + INTERVAL 30 MINUTE AS session_end, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM grouped GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,

    "st3_late_drop" ->
      """SELECT user_id, COUNT(*) AS n_total,
        |  CAST(SUM(CASE WHEN ts < wm THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  MAX(ts) AS max_ts
        |FROM (
        |  SELECT user_id, ts, MAX(ts) OVER (PARTITION BY user_id) - INTERVAL 24 HOUR AS wm
        |  FROM events
        |)
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "st4_sessionization" ->
      """WITH marked AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR ts - LAG(ts) OVER w >= INTERVAL 45 MINUTE THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        |), grouped AS (
        |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked
        |), sessions AS (
        |  SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
        |    COUNT(*) AS n_events
        |  FROM grouped GROUP BY user_id, sid
        |)
        |SELECT user_id, session_start, session_end, n_events,
        |  session_end + INTERVAL 45 MINUTE < (SELECT MAX(ts) FROM events) AS closed
        |FROM sessions ORDER BY user_id, session_start""".stripMargin,

    "st5_dedup" ->
      """SELECT (SELECT COUNT(*) FROM (SELECT * FROM events UNION ALL SELECT * FROM events)) AS n_total,
        |  (SELECT COUNT(DISTINCT event_id) FROM events) AS n_unique""".stripMargin,

    "st7_sink_roundtrip" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // Batch session render + the engine's append-mode finalization
    // predicate: a session lands iff session_end <= final watermark, where
    // the watermark is the ms-truncated max event time minus the 10-minute
    // delay (the engine tracks event-time stats in epoch-ms and converts
    // back to µs for the state-eviction compare — hence the //1000 *1000).
    // Finalization mirrors st2's non-strict rule: a day window lands iff
    // window_end <= watermark (max event-ms minus the 10-minute delay).
    "st10_stream_topk" ->
      """WITH wm AS (
        |  SELECT make_timestamp(((MAX(epoch_us(ts)) // 1000) - 600000) * 1000) AS wm_ts
        |  FROM events
        |), counts AS (
        |  SELECT date_trunc('day', ts) AS window_start, event_type, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2
        |), final AS (
        |  SELECT c.* FROM counts c, wm WHERE c.window_start + INTERVAL 1 DAY <= wm.wm_ts
        |)
        |SELECT window_start, event_type, n, rn FROM (
        |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY window_start
        |    ORDER BY n DESC, event_type ASC) AS INTEGER) AS rn
        |  FROM final
        |) WHERE rn <= 3
        |ORDER BY window_start, rn""".stripMargin,

    // st1's tumbling aggregate over only the watermark-finalized windows
    // (hour end ≤ ms-truncated max event time − 10 min, the st10 rule).
    // Identical regardless of source pacing — that's the point of st14.
    "st14_kafka_shaped_source" ->
      """WITH wm AS (
        |  SELECT make_timestamp(((MAX(epoch_us(ts)) // 1000) - 600000) * 1000) AS wm_ts
        |  FROM events
        |), agg AS (
        |  SELECT date_trunc('hour', ts) AS ws, event_type, COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT a.ws, a.event_type, a.n, a.total_value FROM agg a, wm
        |WHERE a.ws + INTERVAL 1 HOUR <= wm.wm_ts
        |ORDER BY ws, event_type""".stripMargin,

    "st2_stream_roundtrip" ->
      """WITH marked AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        |), grouped AS (
        |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked
        |), sessions AS (
        |  SELECT user_id, MIN(ts) AS session_start,
        |    MAX(ts) + INTERVAL 30 MINUTE AS session_end, COUNT(*) AS n_events,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |  FROM grouped GROUP BY user_id, sid
        |), wm AS (
        |  SELECT make_timestamp(((MAX(epoch_us(ts)) // 1000) - 600000) * 1000) AS wm_ts
        |  FROM events
        |)
        |SELECT user_id, session_start, session_end, n_events, total_value
        |FROM sessions, wm WHERE session_end <= wm_ts
        |ORDER BY user_id, session_start""".stripMargin,

    // The flatMapGroupsWithState machine replayed in the MILLISECOND domain
    // it actually clocks in (Timestamp.getTime): gap splits on ms deltas,
    // session bounds as ms-truncated timestamps. A session lands iff it was
    // closed by a later event's arrival (every session but the user's last
    // — emitted in the data batch regardless of watermark) OR its timeout
    // fired: end_ms + gap STRICTLY below the final watermark (max event-ms
    // − 10-minute delay), evaluated in the trailing no-data batch.
    "st4_stream_roundtrip" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) // 1000 AS tms FROM events
        |), marked AS (
        |  SELECT user_id, event_id, tms,
        |    CASE WHEN LAG(tms) OVER w IS NULL
        |           OR tms - LAG(tms) OVER w >= 2700000 THEN 1 ELSE 0 END AS brk
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY tms ASC, event_id ASC)
        |), grouped AS (
        |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY tms ASC, event_id ASC ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked
        |), sessions AS (
        |  SELECT user_id, sid, MIN(tms) AS start_ms, MAX(tms) AS end_ms,
        |    COUNT(*) AS n_events
        |  FROM grouped GROUP BY user_id, sid
        |), wm AS (
        |  SELECT (MAX(epoch_us(ts)) // 1000) - 600000 AS wm_ms FROM events
        |)
        |SELECT user_id, make_timestamp(start_ms * 1000) AS session_start,
        |  make_timestamp(end_ms * 1000) AS session_end, n_events
        |FROM (SELECT *, MAX(sid) OVER (PARTITION BY user_id) AS max_sid FROM sessions), wm
        |WHERE sid < max_sid OR end_ms + 2700000 < wm_ms
        |ORDER BY user_id, session_start""".stripMargin,

    // Same truth as st4_stream_roundtrip: the timer-driven TWS machine
    // emits exactly the fMGWS emission set (gap splits on ms deltas;
    // last session iff end_ms + gap strictly below the final watermark).
    "st17_tws_session_timers" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) // 1000 AS tms FROM events
        |), marked AS (
        |  SELECT user_id, event_id, tms,
        |    CASE WHEN LAG(tms) OVER w IS NULL
        |           OR tms - LAG(tms) OVER w >= 2700000 THEN 1 ELSE 0 END AS brk
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY tms ASC, event_id ASC)
        |), grouped AS (
        |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY tms ASC, event_id ASC ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked
        |), sessions AS (
        |  SELECT user_id, sid, MIN(tms) AS start_ms, MAX(tms) AS end_ms,
        |    COUNT(*) AS n_events
        |  FROM grouped GROUP BY user_id, sid
        |), wm AS (
        |  SELECT (MAX(epoch_us(ts)) // 1000) - 600000 AS wm_ms FROM events
        |)
        |SELECT user_id, make_timestamp(start_ms * 1000) AS session_start,
        |  make_timestamp(end_ms * 1000) AS session_end, n_events
        |FROM (SELECT *, MAX(sid) OVER (PARTITION BY user_id) AS max_sid FROM sessions), wm
        |WHERE sid < max_sid OR end_ms + 2700000 < wm_ms
        |ORDER BY user_id, session_start""".stripMargin,

    // The TWS profile is batch-boundary invariant by construction (last-
    // writer-wins merge of per-batch updates), so the truth is the plain
    // batch aggregate: exact integer cents (value is an exact 2-dp
    // double), distinct types, max.
    "st16_tws_user_stats" ->
      """SELECT user_id,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS total_cents,
        |  COUNT(DISTINCT event_type) AS n_types,
        |  CAST(MAX(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS max_cents
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "st6_stream_static" ->
      """SELECT COALESCE(c_mktsegment, '<none>') AS segment, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events LEFT JOIN customer ON user_id = c_custkey
        |GROUP BY 1 ORDER BY segment""".stripMargin,

    "w5_event_funnel" ->
      """WITH v AS (
        |  SELECT user_id, MIN(ts) AS t_view FROM events
        |  WHERE event_type = 'view' GROUP BY user_id
        |), c AS (
        |  SELECT e.user_id, MIN(e.ts) AS t_click
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY e.user_id
        |), p AS (
        |  SELECT e.user_id, MIN(e.ts) AS t_purchase
        |  FROM events e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY e.user_id
        |)
        |SELECT (SELECT COUNT(*) FROM v) AS n_viewed,
        |  (SELECT COUNT(*) FROM c) AS n_clicked,
        |  (SELECT COUNT(*) FROM p) AS n_purchased,
        |  round(CAST((SELECT COUNT(*) FROM c) AS DOUBLE) / greatest((SELECT COUNT(*) FROM v), 1), 6) AS view_to_click,
        |  round(CAST((SELECT COUNT(*) FROM p) AS DOUBLE) / greatest((SELECT COUNT(*) FROM c), 1), 6) AS click_to_purchase""".stripMargin,

    "w6_cohort_retention" ->
      """WITH w AS (
        |  SELECT user_id,
        |    CAST(floor(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) / 7) AS BIGINT) AS week
        |  FROM events
        |), fw AS (SELECT user_id, MIN(week) AS cohort FROM w GROUP BY user_id),
        |act AS (SELECT DISTINCT user_id, week FROM w),
        |sizes AS (SELECT cohort, COUNT(*) AS n_users FROM fw GROUP BY cohort)
        |SELECT f.cohort, a.week - f.cohort AS week_offset, s.n_users,
        |  COUNT(DISTINCT a.user_id) AS n_active,
        |  round(CAST(COUNT(DISTINCT a.user_id) AS DOUBLE) / s.n_users, 6) AS retention
        |FROM act a JOIN fw f ON a.user_id = f.user_id JOIN sizes s ON s.cohort = f.cohort
        |WHERE a.week - f.cohort BETWEEN 1 AND 4
        |GROUP BY f.cohort, a.week - f.cohort, s.n_users
        |ORDER BY f.cohort, week_offset""".stripMargin,

    "dq3_outliers" -> outliersOracleSql,

    // One oracle, two execution modes: the stateless alert stream must
    // land exactly the batch outlier decision.
    "st11_stream_alerts" -> outliersOracleSql,

    "j6_interval_join" ->
      """SELECT e.event_id, p.event_id AS purchase_id
        |FROM events e JOIN events p
        |  ON e.user_id = p.user_id
        |  AND e.event_type = 'error' AND p.event_type = 'purchase'
        |  AND e.ts >= p.ts AND e.ts <= p.ts + INTERVAL 1 DAY
        |ORDER BY e.event_id, purchase_id""".stripMargin,

    // Identical semantics to j6_interval_join by design: the streaming
    // inner join must land exactly the batch join's rows.
    "st8_stream_stream_join" ->
      """SELECT e.event_id, p.event_id AS purchase_id
        |FROM events e JOIN events p
        |  ON e.user_id = p.user_id
        |  AND e.event_type = 'error' AND p.event_type = 'purchase'
        |  AND e.ts >= p.ts AND e.ts <= p.ts + INTERVAL 1 DAY
        |ORDER BY e.event_id, purchase_id""".stripMargin,

    // Inner rows = the batch join. Null rows = unmatched errors whose
    // match window the engine PROVED closed: the query watermark is the
    // MIN across both streams' watermark nodes (multipleWatermarkPolicy =
    // min, each node tracking its own filtered stream's max event-ms),
    // and a buffered error is null-evicted once its ts is STRICTLY below
    // that watermark (boundary pinned in StreamingSpec). The newest
    // errors therefore stay in state and do not land.
    "st9_stream_outer_join" ->
      """WITH e AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
        |p AS (SELECT event_id AS purchase_id, user_id AS pu, ts AS pts FROM events WHERE event_type = 'purchase'),
        |inner_rows AS (
        |  SELECT e.event_id, p.purchase_id
        |  FROM e JOIN p ON e.user_id = pu AND e.ts >= pts AND e.ts <= pts + INTERVAL 1 DAY
        |),
        |wm AS (SELECT LEAST(
        |    (SELECT MAX(epoch_us(ts)) // 1000 FROM e),
        |    (SELECT MAX(epoch_us(pts)) // 1000 FROM p)) - 600000 AS wm_ms),
        |null_rows AS (
        |  SELECT e.event_id, CAST(NULL AS BIGINT) AS purchase_id
        |  FROM e, wm
        |  WHERE e.event_id NOT IN (SELECT event_id FROM inner_rows)
        |    AND epoch_us(e.ts) // 1000 < wm.wm_ms
        |)
        |SELECT * FROM (SELECT * FROM inner_rows UNION ALL SELECT * FROM null_rows)
        |ORDER BY event_id ASC, purchase_id ASC NULLS FIRST""".stripMargin,

    "j6_asof_join" ->
      """WITH r AS (
        |  SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC) AS rn
        |    FROM orders
        |  ) WHERE rn = 1
        |)
        |SELECT e.event_id, e.user_id, r.o_orderkey, r.o_totalprice
        |FROM events e ASOF JOIN r ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
        |ORDER BY e.event_id""".stripMargin,

    "w10_gapfill" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n_events,
        |    MAX(event_type) AS day_max_type
        |  FROM events GROUP BY 1, 2
        |), bounds AS (
        |  SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY user_id
        |), spine AS (
        |  SELECT user_id,
        |    CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM bounds
        |)
        |SELECT s.user_id, s.day,
        |  CAST(COALESCE(d.n_events, 0) AS BIGINT) AS n_events,
        |  last_value(d.day_max_type IGNORE NULLS)
        |    OVER (PARTITION BY s.user_id ORDER BY s.day) AS carried_type
        |FROM spine s LEFT JOIN daily d USING (user_id, day)
        |ORDER BY user_id, day""".stripMargin,

    "w11_activity_islands" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        |), grps AS (
        |  SELECT user_id, day,
        |    day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS INT) AS grp
        |  FROM days
        |)
        |SELECT user_id, MIN(day) AS island_start, MAX(day) AS island_end,
        |  COUNT(*) AS n_days
        |FROM grps GROUP BY user_id, grp
        |ORDER BY user_id, island_start""".stripMargin,

    // list_reduce folds left seeded with the first element — the same
    // recursion order as the engine's slice+element_at aggregate().
    "w12_ema" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS v
        |  FROM events GROUP BY 1, 2
        |), arr AS (
        |  SELECT user_id, list(v ORDER BY day) AS vs, COUNT(*) AS n_days,
        |    MAX(day) AS last_day
        |  FROM daily GROUP BY user_id
        |)
        |SELECT user_id, n_days, last_day,
        |  round(list_reduce(vs, (acc, x) -> acc * 0.5 + x * 0.5), 6) AS ema
        |FROM arr ORDER BY user_id""".stripMargin,

    // Sliding-window assignment mirrored arithmetically: an event at ts
    // belongs to the 7 windows starting floor_day(ts) − k days, k ∈ 0..6;
    // append mode lands a window iff its END (start + 7 days) is ≤ the
    // end-of-input watermark (max ts − 10 min).
    "st13_stream_sliding_active" ->
      """WITH wm AS (
        |  SELECT make_timestamp(((MAX(epoch_us(ts)) // 1000) - 600000) * 1000) AS wm_ts
        |  FROM events
        |), starts AS (
        |  SELECT user_id,
        |    make_timestamp((epoch_us(ts) // 86400000000) * 86400000000 - k.k * 86400000000) AS window_start
        |  FROM events CROSS JOIN (VALUES (0),(1),(2),(3),(4),(5),(6)) AS k(k)
        |), du AS (SELECT DISTINCT user_id, window_start FROM starts),
        |counts AS (SELECT window_start, COUNT(*) AS n_active FROM du GROUP BY window_start),
        |final AS (
        |  SELECT c.* FROM counts c, wm WHERE c.window_start + INTERVAL 7 DAY <= wm.wm_ts
        |)
        |SELECT window_start, n_active FROM final ORDER BY window_start""".stripMargin,

    "w14_pattern_match" ->
      """WITH seqs AS (
        |  SELECT user_id,
        |    string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq
        |  FROM events GROUP BY user_id
        |)
        |SELECT user_id, CAST(length(seq) AS INT) AS n_events,
        |  CAST(len(regexp_extract_all(seq, 'v+cp')) AS INT) AS n_funnels,
        |  CAST(len(regexp_extract_all(seq, 'e{2,}')) AS INT) AS n_error_bursts
        |FROM seqs ORDER BY user_id""".stripMargin,

    "w13_sliding_distinct" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        |), mx AS (SELECT MAX(day) AS mday FROM ud),
        |w AS (
        |  SELECT user_id,
        |    CAST(unnest(generate_series(day, day + 6, INTERVAL 1 DAY)) AS DATE) AS win_end
        |  FROM ud
        |)
        |SELECT win_end, COUNT(DISTINCT user_id) AS n_active
        |FROM w CROSS JOIN mx WHERE win_end <= mday
        |GROUP BY win_end ORDER BY win_end""".stripMargin
  )
}
