package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import graft.SessionConf.withConf
import Replay.collectBounded

/** Structured Streaming layer over the `events` shape (beyond-reference: the
  * reference is batch-only, SURVEY §2.12; this is the Spark-native extension
  * the `events` table exists for).
  *
  * The aggregation logic is shared between batch and streaming — the same
  * `windowedCounts` plan runs on a static frame (oracle-checkable) and on a
  * `readStream` source with a watermark (late-data bound + state eviction).
  */
object EventStream {

  /** Hard driver-side bound for replay-harness inputs. The `*Replay`
    * helpers exist to HASH-GATE the streaming state path: they collect a
    * bounded events frame on the driver and feed it back through a
    * MemoryStream in timestamp-ordered micro-batches. All of them (and the
    * two index-ingest replays in `graft.operators`) run that loop through
    * ONE driver, [[Replay]]: bounded collect, chunking, checkpoint, one
    * drain per step, stop; each replay supplies only its plan, sink,
    * sentinel flush steps and conf overrides. That is the right
    * gate design (the state machine, not just the batch plan, is what is
    * verified) but it means a misrouted corpus-scale frame would OOM the
    * driver — so every replay helper refuses inputs past this cap with a
    * clear error, the same discipline as `Exporter.writeXlsx(rowCap)` and
    * [[incrementalAggReplay]]'s `maxKeys`. Production streams go through
    * the pure-plan entry points (`sessionize`, `windowedCounts`,
    * `attributionJoin`, `enrichStream`, …), which never touch the driver.
    *
    * Sized for the largest legitimate gate input — the doubled sf1 events
    * frame of the x20 dedup replay (2M rows; ≤ ~200 MB of collected
    * tuples at the widest replay row, well inside the 8 GiB driver) —
    * while a misrouted corpus-scale frame still fails fast. */
  val ReplayInputMaxRows: Int = 4000000

  /** Tumbling-window counts + sums per event type. On a stream, the 10-minute
    * watermark bounds state; on a batch frame it is a no-op. Partial
    * aggregation keeps the shuffle one-pass at any scale. */
  def windowedCounts(events: DataFrame, windowLength: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame = {
    val withWm =
      if (events.isStreaming) events.withWatermark("ts", watermark) else events
    withWm
      .groupBy(window(col("ts"), windowLength).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))
  }

  /** [[windowedCounts]] with DECIMAL-exact value sums: streaming state
    * merges partial sums across micro-batches in arrival order, so a double
    * accumulator could drift an ulp across a round(…,2) boundary vs the
    * batch plan; decimal addition is order-free, making the streamed result
    * bit-equal to the batch twin no matter how the feed is batched. */
  def windowedCountsExact(events: DataFrame, windowLength: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame = {
    val withWm =
      if (events.isStreaming) events.withWatermark("ts", watermark) else events
    withWm
      .groupBy(window(col("ts"), windowLength).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).as("__tv"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), round(col("__tv").cast("double"), 2).as("total_value"))
  }

  /** Sliding-window counts + sums: each event lands in windowLength/slide
    * overlapping windows — `window(ts, len, slide)` explodes that constant
    * fan-out BEFORE the shuffle, so partial aggregation still collapses it
    * map-side and the exchange carries |windows|·|types| rows, not events.
    * DECIMAL value sums keep the result independent of aggregation order
    * (same discipline as [[windowedCountsExact]]); on a stream the
    * watermark bounds state per window exactly as in the tumbling shape. */
  def slidingWindowedCounts(events: DataFrame,
      windowLength: String = "1 hour", slide: String = "15 minutes",
      watermark: String = "10 minutes"): DataFrame = {
    val withWm =
      if (events.isStreaming) events.withWatermark("ts", watermark) else events
    withWm
      .groupBy(window(col("ts"), windowLength, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).as("__tv"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), round(col("__tv").cast("double"), 2).as("total_value"))
  }

  /** THE deploy shape, end to end: a real file-source stream (parquet
    * directory, one file per micro-batch) through the watermarked windowed
    * aggregate into a parquet SINK, run to completion with AvailableNow.
    *
    * Append-mode windowed aggs only emit a window once the watermark passes
    * it — the tail windows would stay in state forever on a bounded feed, so
    * the replay plants a far-future SENTINEL event as the LAST file: every
    * real window flushes, and only the sentinel's own window stays behind.
    * Returns the sink parquet read back; it must equal the batch aggregate
    * of the same input — the gate for the whole file→stream→file path. */
  def fileSourceReplay(spark: SparkSession, events: DataFrame,
      windowLength: String = "1 hour"): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val tmp = java.nio.file.Files.createTempDirectory("stream_file")
    val inDir = tmp.resolve("in").toString
    val outDir = tmp.resolve("out").toString
    val ckpt = tmp.resolve("ckpt").toString
    val cols = Seq(col("ts"), col("event_type"), col("value"))
    // file 1: the real feed; file 2 (written after): the watermark sentinel
    events.select(cols: _*).coalesce(1).write.mode("append").parquet(inDir)
    val maxTs = events.agg(max(col("ts"))).head().getTimestamp(0)
    events.sparkSession.range(1)
      .select(timestamp_micros(lit(maxTs.getTime * 1000L + 2L * 86400L * 1000000L)).as("ts"),
        lit("__sentinel").as("event_type"), lit(0.0).as("value"))
      .coalesce(1).write.mode("append").parquet(inDir)
    val schema = spark.read.parquet(inDir).schema
    withConf(spark, replayShuffle(spark)) {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir)
      val q = windowedCountsExact(stream, windowLength)
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.read.parquet(outDir)
  }

  /** THE resumable deploy shape: a file-source stream (parquet directory)
    * through the watermarked [[sessionWindows]] aggregate into a parquet
    * sink, driven by AvailableNow against a RELIABLE checkpoint. Each call
    * processes whatever files have appeared since the last run and then
    * terminates; state (open sessions, source offsets, sink commit log)
    * lives entirely under `ckptDir`/`outDir`, so the next invocation — in
    * the same JVM or after a crash/redeploy — resumes exactly where this
    * one stopped. A session SPANNING two runs merges across the restart:
    * that is the recovery property RestartRecoverySpec pins against the
    * batch oracle.
    *
    * `rocksDb = true` swaps in the RocksDB state store provider with
    * changelog checkpointing for the run (the production setting once
    * state outgrows the executor heap); results are identical either way.
    *
    * Expected input schema: (ts TIMESTAMP, user_id LONG, value DOUBLE). */
  def sessionWindowPipeline(spark: SparkSession, inDir: String,
      outDir: String, ckptDir: String, gap: String = "30 minutes",
      watermark: String = "30 minutes", rocksDb: Boolean = false): Unit = {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("value", DoubleType)))
    withConf(spark, (if (rocksDb) RocksDb else Nil) :+ replayShuffle(spark): _*) {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir)
      val q = sessionWindows(stream, gap, watermark)
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckptDir)
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
  }

  /** Native session-window aggregation — Spark's `session_window` groupBy
    * (the declarative sibling of [[sessionizeFull]]'s mapGroupsWithState):
    * events of one user merge while consecutive gaps stay UNDER `gap`; the
    * window end is the last event plus the gap. Catalyst plans its own
    * merging-session aggregate — no user state code, and on a stream the
    * watermark evicts closed sessions. Value sums are decimal so per-session
    * totals are independent of merge order (same rationale as
    * [[windowedCountsExact]]). */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "30 minutes"): DataFrame = {
    val withWm =
      if (events.isStreaming) events.withWatermark("ts", watermark) else events
    withWm
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).as("__tv"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"),
        round(col("__tv").cast("double"), 2).as("total_value"))
  }

  /** [[sessionWindows]] with a DYNAMIC per-event gap (session_window's
    * Column overload, SPARK-36465): each event proposes [ts, ts + gap(row))
    * and overlapping proposals MERGE — here purchases hold a session open
    * for 60 minutes, everything else 30. The merging semantics are exactly
    * interval-union: a new session starts only when an event's ts clears
    * every previous event's proposed end ([start,end) windows — touching
    * does NOT merge). */
  def sessionWindowsDynamic(events: DataFrame): DataFrame = {
    // string gaps, not ANSI INTERVAL exprs: the dynamic-gap overload
    // requires CalendarIntervalType and casts strings to it, while
    // INTERVAL literals are DayTimeIntervalType and are rejected
    val gapCol = when(col("event_type") === "purchase", lit("60 minutes"))
      .otherwise(lit("30 minutes"))
    events
      .groupBy(session_window(col("ts"), gapCol).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).as("__tv"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"),
        round(col("__tv").cast("double"), 2).as("total_value"))
  }

  /** Replay a STATIC events frame through [[sessionWindows]] as a real
    * watermarked stream (the x15 pattern applied to the NATIVE
    * session_window aggregate): time-ordered micro-batches into a
    * MemoryStream, then one sentinel event per user far past the last
    * timestamp so the watermark overtakes every real session's end and
    * Append mode emits it. Sentinel sessions themselves stay open (the
    * watermark never passes them) and are therefore never emitted, so the
    * returned frame must equal the batch [[sessionWindows]] of the same
    * input — the merging-session STATE PATH, not just its batch plan, is
    * hash-gated. */
  def sessionWindowsReplay(spark: SparkSession, events: DataFrame,
      gap: String = "30 minutes", batches: Int = 4,
      maxRows: Int = ReplayInputMaxRows): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = collectBounded(events.select(col("user_id").cast("long"),
        unix_micros(col("ts")), col("value").cast("double"))
      .as[(Long, Long, Double)], "sessionWindowsReplay", maxRows)
      .sortBy(r => (r._2, r._1))
    val users = rows.map(_._1).distinct.toSeq
    val gapUs = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(gap))
    val gapTotalUs = gapUs.microseconds + gapUs.days * 86400000000L
    val maxUs = if (rows.isEmpty) 0L else rows.iterator.map(_._2).max
    val sentinelUs = maxUs + 3 * gapTotalUs

    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Double)]
    val streamDf = mem.toDF().toDF("user_id", "ts_us", "value")
      .select(col("user_id"), timestamp_micros(col("ts_us")).as("ts"), col("value"))
    Replay.toMemory(spark, "sesswin",
      Replay.feed(mem, rows, batches, users.map(u => (u, sentinelUs, 0.0))),
      Seq(replayShuffle(spark)))(sessionWindows(streamDf, gap, watermark = gap))
  }

  /** Per-user sessionization with mapGroupsWithState: a session closes after
    * `gapSeconds` of inactivity; emits (user_id, session_start, n_events).
    * State is one small record per active user — bounded by the timeout. */
  final case class SessionState(start: Long, last: Long, n: Long)
  final case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
      n_events: Long, closed: Boolean)

  def sessionize(events: DataFrame, gapSeconds: Long = 1800): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events.select(col("user_id").cast("long"),
      col("ts").cast("timestamp")).as[(Long, java.sql.Timestamp)]
    typed.groupByKey(_._1)
      .mapGroupsWithState[SessionState, SessionOut](GroupStateTimeout.NoTimeout) {
        (user, rows, state: GroupState[SessionState]) =>
          val times = rows.map(_._2.getTime).toSeq.sorted
          var st = state.getOption.getOrElse(SessionState(times.head, times.head, 0))
          var latest = st
          times.foreach { t =>
            latest =
              if (t - latest.last > gapSeconds * 1000L)
                SessionState(t, t, 1) // gap exceeded → new session
              else latest.copy(last = t, n = latest.n + 1)
          }
          state.update(latest)
          SessionOut(user, new java.sql.Timestamp(latest.start), latest.n, closed = false)
      }.toDF()
  }

  /** Full sessionization: emits every CLOSED session (inactivity gap
    * exceeded) as (user_id, session_id, n_events, session_start), with
    * session_id a 1-based per-user ordinal — the same semantics as the
    * batch twin (e2_batch_sessionize). Open sessions stay in state; stream
    * a far-future sentinel event per user to flush them. Timestamps are
    * carried as epoch MICROS through state so sub-millisecond precision
    * survives the round-trip. State is one small record per active user. */
  final case class OpenSession(startUs: Long, lastUs: Long, n: Long, idx: Long)
  final case class ClosedSession(user_id: Long, session_id: Long,
      n_events: Long, start_us: Long)

  def sessionizeFull(events: DataFrame, gapSeconds: Long = 1800): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapSeconds * 1000000L
    val typed = events
      .select(col("user_id").cast("long"), unix_micros(col("ts")))
      .as[(Long, Long)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user, rows, state: GroupState[OpenSession]) =>
          val times = rows.map(_._2).toArray.sorted
          val out = Vector.newBuilder[ClosedSession]
          var st = state.getOption.orNull
          times.foreach { t =>
            if (st == null) st = OpenSession(t, t, 1L, 1L)
            else if (t - st.lastUs > gapUs) {
              out += ClosedSession(user, st.idx, st.n, st.startUs)
              st = OpenSession(t, t, 1L, st.idx + 1L)
            } else st = OpenSession(st.startUs, t, st.n + 1L, st.idx)
          }
          if (st != null) state.update(st)
          out.result().iterator
      }
      .toDF()
      .select(col("user_id"), col("session_id"), col("n_events"),
        timestamp_micros(col("start_us")).as("session_start"))
  }

  /** TWO stateful operators CHAINED in one streaming query (SPARK-42376,
    * allowed since 3.5): watermarked dropDuplicatesWithinWatermark feeds
    * the native session_window aggregate directly — dedup state expires
    * with the watermark (bounded, unlike plain dropDuplicates), and the
    * SAME watermark then evicts closed sessions downstream. The input is
    * doubled at the source; the replay must equal [[sessionWindows]] of
    * the ORIGINAL events, proving both the chained-operator watermark
    * propagation and the in-stream dedup. Sentinels use negative
    * event_ids so they can never collide with (and get deduped against)
    * real events; their sessions stay open and are never emitted. */
  def dedupSessionWindowsReplay(spark: SparkSession, events: DataFrame,
      gap: String = "30 minutes", batches: Int = 4,
      maxRows: Int = ReplayInputMaxRows): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = collectBounded(events.select(col("event_id").cast("long"),
        col("user_id").cast("long"), unix_micros(col("ts")),
        col("value").cast("double"))
      .as[(Long, Long, Long, Double)], "dedupSessionWindowsReplay", maxRows)
      .sortBy(r => (r._3, r._1))
    val doubled = rows.flatMap(r => Seq(r, r)) // exact duplicate per event
    val users = rows.map(_._2).distinct.toSeq
    val gapIv = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(gap))
    val gapTotalUs = gapIv.microseconds + gapIv.days * 86400000000L
    val maxUs = if (rows.isEmpty) 0L else rows.iterator.map(_._3).max
    val sentinelUs = maxUs + 3 * gapTotalUs

    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Long, Double)]
    val chained = mem.toDF().toDF("event_id", "user_id", "ts_us", "value")
      .select(col("event_id"), col("user_id"),
        timestamp_micros(col("ts_us")).as("ts"), col("value"))
      .withWatermark("ts", gap)             // ONE watermark drives BOTH ops
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).as("__tv"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"),
        round(col("__tv").cast("double"), 2).as("total_value"))
    Replay.toMemory(spark, "dedupsess",
      Replay.feed(mem, doubled, batches,
        users.zipWithIndex.map { case (u, i) => (-1L - i, u, sentinelUs, 0.0) },
        users.zipWithIndex.map { case (u, i) =>
          (-1000000L - i, u, sentinelUs + gapTotalUs, 0.0) }),
      Seq(NoDataBatchesOff, replayShuffle(spark)))(chained)
  }

  /** [[sessionizeFull]] driven by EVENT-TIME TIMEOUTS — the third state
    * API path (after NoTimeout flatMap and the native session_window): a
    * session also closes when the WATERMARK passes its last event + gap,
    * so a user who simply goes quiet gets their session emitted without
    * any later event of their own arriving. Same output shape and
    * semantics as the batch twin; with time-ordered input the
    * timeout-closed sessions are provably identical to gap-closed ones
    * (any event after a fired timeout is beyond the gap by watermark
    * monotonicity, so it would have started a new session anyway).
    *
    * A closed-by-timeout user leaves a zero-count tombstone carrying the
    * next session ordinal (state stays one record per user either way);
    * the timeout timestamp clamps above the current watermark for users
    * whose tail is older than what other users' events already advanced
    * the watermark to. */
  def sessionizeTimeout(events: DataFrame, gapSeconds: Long = 1800): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapSeconds * 1000000L
    val typed = events
      .select(col("user_id").cast("long").as("user_id"), col("ts"))
      .withWatermark("ts", "0 seconds")
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"))
      .as[(Long, java.sql.Timestamp, Long)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user, rows, state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.update(OpenSession(0L, 0L, 0L, st.idx + 1L)) // tombstone
            Iterator.single(ClosedSession(user, st.idx, st.n, st.startUs))
          } else {
            val times = rows.map(_._3).toArray.sorted
            val out = Vector.newBuilder[ClosedSession]
            var st = state.getOption.orNull
            times.foreach { t =>
              if (st == null) st = OpenSession(t, t, 1L, 1L)
              else if (st.n == 0L) st = OpenSession(t, t, 1L, st.idx)
              else if (t - st.lastUs > gapUs) {
                out += ClosedSession(user, st.idx, st.n, st.startUs)
                st = OpenSession(t, t, 1L, st.idx + 1L)
              } else st = OpenSession(st.startUs, t, st.n + 1L, st.idx)
            }
            if (st != null && st.n > 0L) {
              state.update(st)
              val fireMs = st.lastUs / 1000L + gapSeconds * 1000L
              state.setTimeoutTimestamp(
                math.max(fireMs, state.getCurrentWatermarkMs + 1L))
            }
            out.result().iterator
          }
      }
      .toDF()
      .select(col("user_id"), col("session_id"), col("n_events"),
        timestamp_micros(col("start_us")).as("session_start"))
  }

  /** Replay a STATIC events frame through [[sessionizeTimeout]]: unlike
    * [[sessionizeReplay]], NO per-user sentinel is needed — two far-future
    * events for one reserved user (-1) advance the watermark and then let
    * the fired timeouts drain, closing every real user's tail session.
    * The result must equal the batch sessionization — the timeout path's
    * correctness gate. */
  def sessionizeTimeoutReplay(spark: SparkSession, events: DataFrame,
      gapSeconds: Long = 1800, batches: Int = 4,
      maxRows: Int = ReplayInputMaxRows): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = collectBounded(
      events.select(col("user_id").cast("long"), unix_micros(col("ts")))
        .as[(Long, Long)], "sessionizeTimeoutReplay", maxRows)
      .sortBy(r => (r._2, r._1))
    val maxUs = if (rows.isEmpty) 0L else rows.iterator.map(_._2).max
    val gapUs = gapSeconds * 1000000L
    val sentinelUs = maxUs + 2 * gapUs

    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
    val streamDf = mem.toDF().toDF("user_id", "ts_us")
      .select(col("user_id"), timestamp_micros(col("ts_us")).as("ts"))
    // flush 1: watermark jumps past every last-event + gap;
    // flush 2: the fired timeouts are processed and their sessions emitted
    Replay.toMemory(spark, "tsessions",
      Replay.feed(mem, rows, batches,
        Seq((-1L, sentinelUs)), Seq((-1L, sentinelUs + 2 * gapUs))),
      Seq(NoDataBatchesOff, replayShuffle(spark)))(
      sessionizeTimeout(streamDf, gapSeconds))
      .filter(col("user_id") >= 0)
  }

  /** [[sessionizeFull]] on Spark 4's `transformWithState` — the arbitrary-
    * state API that replaces `flatMapGroupsWithState` (SPARK-46815): typed
    * `ValueState` handles, explicit per-key event-time TIMERS, and the
    * RocksDB state store (the only provider the operator supports — state
    * lives off-heap and spills to disk, so per-executor state is bounded
    * by local SSD, not JVM heap; exactly what 100 TB session state needs).
    *
    * Timer discipline: each input batch for a user deletes that user's
    * registered timers (`listTimers` is per-key) and arms one at
    * last-event + gap, clamped above the current watermark; the fired
    * timer emits the session and leaves the zero-count tombstone carrying
    * the next ordinal — identical output to [[sessionizeTimeout]], but the
    * close logic lives in `handleExpiredTimer`, not in a hasTimedOut
    * branch of the input path. */
  /** The session fold + timer discipline shared by [[SessionProcessor]]
    * and [[SessionBootstrapProcessor]] (single inheritance: the bootstrap
    * variant must extend StatefulProcessorWithInitialState, so the common
    * logic lives here as static helpers over the handle + state). */
  private object TwsSessionFold {
    import org.apache.spark.sql.streaming.{StatefulProcessorHandle, TimerValues, ValueState}

    def armTimer(handle: StatefulProcessorHandle, st: OpenSession,
        gapSeconds: Long, timerValues: TimerValues): Unit = {
      handle.listTimers().foreach(ms => handle.deleteTimer(ms.asInstanceOf[Long]))
      val fireMs = st.lastUs / 1000L + gapSeconds * 1000L
      handle.registerTimer(
        math.max(fireMs, timerValues.getCurrentWatermarkInMs + 1L))
    }

    def onRows(handle: StatefulProcessorHandle, session: ValueState[OpenSession],
        gapSeconds: Long, user: Long, times: Array[Long],
        timerValues: TimerValues): Iterator[ClosedSession] = {
      val gapUs = gapSeconds * 1000000L
      val out = Vector.newBuilder[ClosedSession]
      var st = if (session.exists()) session.get() else null
      times.foreach { t =>
        if (st == null) st = OpenSession(t, t, 1L, 1L)
        else if (st.n == 0L) st = OpenSession(t, t, 1L, st.idx)
        else if (t - st.lastUs > gapUs) {
          out += ClosedSession(user, st.idx, st.n, st.startUs)
          st = OpenSession(t, t, 1L, st.idx + 1L)
        } else st = OpenSession(st.startUs, t, st.n + 1L, st.idx)
      }
      if (st != null && st.n > 0L) {
        session.update(st)
        armTimer(handle, st, gapSeconds, timerValues)
      }
      out.result().iterator
    }

    def onTimer(session: ValueState[OpenSession], gapSeconds: Long,
        user: Long, expiryMs: Long): Iterator[ClosedSession] = {
      val st = if (session.exists()) session.get() else null
      // Guard against a stale timer (deleted-then-fired races can't happen
      // with the delete-on-input discipline, but the check is free): the
      // timer is current only if it was armed at/after last + gap.
      if (st != null && st.n > 0L &&
          expiryMs >= st.lastUs / 1000L + gapSeconds * 1000L) {
        session.update(OpenSession(0L, 0L, 0L, st.idx + 1L)) // tombstone
        Iterator.single(ClosedSession(user, st.idx, st.n, st.startUs))
      } else Iterator.empty
    }
  }

  private final class SessionProcessor(gapSeconds: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, java.sql.Timestamp, Long), ClosedSession] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TTLConfig, TimeMode, TimerValues, ValueState}
    import org.apache.spark.sql.Encoders
    @transient private var session: ValueState[OpenSession] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      session = getHandle.getValueState[OpenSession](
        "session", Encoders.product[OpenSession], TTLConfig.NONE)

    override def handleInputRows(user: Long,
        rows: Iterator[(Long, java.sql.Timestamp, Long)],
        timerValues: TimerValues): Iterator[ClosedSession] =
      TwsSessionFold.onRows(getHandle, session, gapSeconds, user,
        rows.map(_._3).toArray.sorted, timerValues)

    override def handleExpiredTimer(user: Long, timerValues: TimerValues,
        info: ExpiredTimerInfo): Iterator[ClosedSession] =
      TwsSessionFold.onTimer(session, gapSeconds, user, info.getExpiryTimeInMs)
  }

  /** [[SessionProcessor]] plus batch BOOTSTRAP: `handleInitialState` seeds
    * each user's ValueState from a batch-computed open session and arms its
    * gap timer, so a streaming deployment takes over from a batch history
    * mid-session with no replay — the migration path for a pipeline that
    * has years of history in tables and switches to streaming today. */
  private final class SessionBootstrapProcessor(gapSeconds: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
        Long, (Long, java.sql.Timestamp, Long), ClosedSession, OpenSession] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TTLConfig, TimeMode, TimerValues, ValueState}
    import org.apache.spark.sql.Encoders
    @transient private var session: ValueState[OpenSession] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      session = getHandle.getValueState[OpenSession](
        "session", Encoders.product[OpenSession], TTLConfig.NONE)

    override def handleInitialState(user: Long, initial: OpenSession,
        timerValues: TimerValues): Unit = {
      session.update(initial)
      // the timer matters for users with NO post-handoff events: their
      // carried-open session must still close once the watermark passes
      TwsSessionFold.armTimer(getHandle, initial, gapSeconds, timerValues)
    }

    override def handleInputRows(user: Long,
        rows: Iterator[(Long, java.sql.Timestamp, Long)],
        timerValues: TimerValues): Iterator[ClosedSession] =
      TwsSessionFold.onRows(getHandle, session, gapSeconds, user,
        rows.map(_._3).toArray.sorted, timerValues)

    override def handleExpiredTimer(user: Long, timerValues: TimerValues,
        info: ExpiredTimerInfo): Iterator[ClosedSession] =
      TwsSessionFold.onTimer(session, gapSeconds, user, info.getExpiryTimeInMs)
  }

  /** [[sessionizeTimeout]] re-expressed on `transformWithState` (see
    * [[SessionProcessor]]). Requires the RocksDB state store provider. */
  def sessionizeTws(events: DataFrame, gapSeconds: Long = 1800): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    val typed = events
      .select(col("user_id").cast("long").as("user_id"), col("ts"))
      .withWatermark("ts", "0 seconds")
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"))
      .as[(Long, java.sql.Timestamp, Long)]
    typed.groupByKey(_._1)
      .transformWithState(new SessionProcessor(gapSeconds),
        TimeMode.EventTime(), OutputMode.Append())
      .toDF()
      .select(col("user_id"), col("session_id"), col("n_events"),
        timestamp_micros(col("start_us")).as("session_start"))
  }

  /** Replay a STATIC events frame through [[sessionizeTws]] — the same
    * watermark-advance drain as [[sessionizeTimeoutReplay]] (no per-user
    * sentinel; fired TIMERS close every tail session), with the RocksDB
    * provider the operator requires swapped in for the query's lifetime. */
  def sessionizeTwsReplay(spark: SparkSession, events: DataFrame,
      gapSeconds: Long = 1800, batches: Int = 4,
      maxRows: Int = ReplayInputMaxRows): DataFrame =
    runTwsReplay(spark, events, gapSeconds, batches, maxRows, None)

  /** [[sessionizeTwsReplay]] body. [[twsStateSnapshot]] passes its own
    * `checkpoint` directory, which is kept so it can batch-read the
    * RocksDB state the query left behind. */
  private def runTwsReplay(spark: SparkSession, events: DataFrame,
      gapSeconds: Long, batches: Int, maxRows: Int,
      checkpoint: Option[String]): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = collectBounded(
      events.select(col("user_id").cast("long"), unix_micros(col("ts")))
        .as[(Long, Long)], "sessionizeTwsReplay", maxRows)
      .sortBy(r => (r._2, r._1))
    val maxUs = if (rows.isEmpty) 0L else rows.iterator.map(_._2).max
    val gapUs = gapSeconds * 1000000L
    val sentinelUs = maxUs + 2 * gapUs

    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
    val streamDf = mem.toDF().toDF("user_id", "ts_us")
      .select(col("user_id"), timestamp_micros(col("ts_us")).as("ts"))
    Replay.toMemory(spark, "wsessions",
      Replay.feed(mem, rows, batches,
        Seq((-1L, sentinelUs)), Seq((-1L, sentinelUs + 2 * gapUs))),
      RocksDb :+ replayShuffle(4), checkpoint)(
      sessionizeTws(streamDf, gapSeconds))
      .filter(col("user_id") >= 0)
  }

  /** The remaining two transformWithState primitives, each gated through
    * the state READER (the processors emit nothing; their state IS the
    * product):
    *  - [[LastNProcessor]]: a bounded per-user recency window in
    *    `ListState` — the "context" feature a serving layer reads (last N
    *    events per user), size-capped so state never grows with history;
    *  - [[TypeCountProcessor]]: per-user event-type counts in `MapState` —
    *    incremental update of one (type → count) entry per event, no
    *    read-modify-write of a whole composite value.
    */
  private final class LastNProcessor(n: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Long), Long] {
    import org.apache.spark.sql.streaming.{ListState, TTLConfig, TimeMode, TimerValues}
    import org.apache.spark.sql.Encoders
    @transient private var recent: ListState[(Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      recent = getHandle.getListState[(Long, Long)](
        "recent", Encoders.product[(Long, Long)], TTLConfig.NONE)

    override def handleInputRows(user: Long,
        rows: Iterator[(Long, Long, Long)],
        timerValues: TimerValues): Iterator[Long] = {
      // merge the carried window with the batch, keep the top-n by
      // (ts, event_id) — the put() rewrites one bounded array, so state
      // per user is O(n) regardless of event history
      val merged = (recent.get().toArray ++ rows.map(r => (r._3, r._2)))
        .sorted.takeRight(n)
      recent.put(merged)
      Iterator.empty
    }
  }

  private final class TypeCountProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, String), Long] {
    import org.apache.spark.sql.streaming.{MapState, TTLConfig, TimeMode, TimerValues}
    import org.apache.spark.sql.Encoders
    @transient private var counts: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[String, Long](
        "counts", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[(Long, String)],
        timerValues: TimerValues): Iterator[Long] = {
      rows.foreach { case (_, t) =>
        val cur = if (counts.containsKey(t)) counts.getValue(t) else 0L
        counts.updateValue(t, cur + 1L)
      }
      Iterator.empty
    }
  }

  /** Replay `events` through a no-output stateful processor and hand back
    * the checkpoint for state introspection (no watermark, no timers —
    * TimeMode.None; the drain IS the last processed batch). The
    * checkpoint is kept: the snapshot readers' lazy `statestore` frames
    * read it. */
  private def runSilentStateReplay[T <: Product : org.apache.spark.sql.Encoder](
      spark: SparkSession, rows: Seq[T], toStream: DataFrame => DataFrame,
      batches: Int): String = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[T]
    val ckpt = java.nio.file.Files.createTempDirectory("silent_ckpt").toString
    Replay.toMemory(spark, "silent", Replay.feed(mem, rows, batches),
      RocksDb :+ replayShuffle(4), Some(ckpt))(toStream(mem.toDF()))
    ckpt
  }

  /** Last-n-events-per-user via `ListState`, read back through the state
    * data source: returns (user_id, event_id) — each user's n most recent
    * events by (ts, event_id). The oracle recomputes the same window from
    * the batch table. */
  def lastNStateSnapshot(spark: SparkSession, events: DataFrame,
      n: Int = 3, batches: Int = 4,
      maxRows: Int = ReplayInputMaxRows): DataFrame = {
    import spark.implicits._
    val rows = collectBounded(events.select(col("user_id").cast("long"),
        col("event_id").cast("long"), unix_micros(col("ts")))
      .as[(Long, Long, Long)], "lastNStateSnapshot", maxRows)
      .sortBy(r => (r._3, r._2))
    val ckpt = runSilentStateReplay[(Long, Long, Long)](spark, rows.toSeq,
      df => {
        import org.apache.spark.sql.streaming.TimeMode
        df.toDF("user_id", "event_id", "ts_us")
          .as[(Long, Long, Long)]
          .groupByKey(_._1)
          .transformWithState(new LastNProcessor(n),
            TimeMode.None(), OutputMode.Append())
          .toDF()
      }, batches)
    spark.read.format("statestore")
      .option("path", ckpt).option("stateVarName", "recent")
      .load()
      .select(col("key.value").as("user_id"),
        col("list_element._2").as("event_id"))
  }

  /** Per-user event-type counts via `MapState`, read back through the
    * state data source: returns (user_id, event_type, n) ≡ the batch
    * group-by — the streaming store IS an incrementally-maintained cube. */
  def typeCountsStateSnapshot(spark: SparkSession, events: DataFrame,
      batches: Int = 4, maxRows: Int = ReplayInputMaxRows): DataFrame = {
    import spark.implicits._
    val rows = collectBounded(events.select(col("event_id").cast("long"),
        col("user_id").cast("long"), col("event_type"))
      .as[(Long, Long, String)], "typeCountsStateSnapshot", maxRows)
      .sortBy(_._1)
      .map(r => (r._2, r._3))
    val ckpt = runSilentStateReplay[(Long, String)](spark, rows.toSeq,
      df => {
        import org.apache.spark.sql.streaming.TimeMode
        df.toDF("user_id", "event_type")
          .as[(Long, String)]
          .groupByKey(_._1)
          .transformWithState(new TypeCountProcessor,
            TimeMode.None(), OutputMode.Append())
          .toDF()
      }, batches)
    spark.read.format("statestore")
      .option("path", ckpt).option("stateVarName", "counts")
      .load()
      .select(col("key.value").as("user_id"),
        col("user_map_key.value").as("event_type"),
        col("user_map_value.value").as("n"))
  }

  /** Batch history → streaming continuation: sessionize the FIRST HALF of
    * the time range in batch (gap-cumsum windows), hand each user's final
    * — still open — session to [[SessionBootstrapProcessor]] as
    * transformWithState INITIAL STATE, stream only the second half, and
    * union batch-closed sessions with the stream's output. The result must
    * equal sessionizing the whole table in one pass (x15's oracle): the
    * handoff is seamless — sessions SPANNING the cut are continued, not
    * restarted, and carried ordinals stay globally correct. This is the
    * migration path for a pipeline with years of batch history switching
    * to streaming: no replay of history, one initial-state join. */
  def sessionizeBootstrapReplay(spark: SparkSession, events: DataFrame,
      gapSeconds: Long = 1800, batches: Int = 4,
      maxRows: Int = ReplayInputMaxRows): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.streaming.TimeMode
    import org.apache.spark.sql.Encoders
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val gapUs = gapSeconds * 1000000L

    val evUs = events.select(col("user_id").cast("long").as("user_id"),
      unix_micros(col("ts")).as("ts_us"))
    val (minUs, maxUs) = {
      val r = evUs.agg(min("ts_us"), max("ts_us")).head
      if (r.isNullAt(0)) (0L, 0L) else (r.getLong(0), r.getLong(1))
    }
    val cutUs = minUs + (maxUs - minUs) / 2

    // batch prefix: per-user gap-cumsum sessions over events ≤ cut
    val w = Window.partitionBy("user_id").orderBy("ts_us")
    val perSession = evUs.filter(col("ts_us") <= cutUs)
      .withColumn("new_s",
        when(col("ts_us") - lag("ts_us", 1).over(w) > gapUs, 1).otherwise(0))
      .withColumn("sid", sum("new_s").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)) + 1)
      .groupBy("user_id", "sid")
      .agg(min("ts_us").as("start_us"), max("ts_us").as("last_us"),
        count(lit(1)).as("n"))
    val withMax = perSession.withColumn("max_sid",
      max("sid").over(Window.partitionBy("user_id")))
    // each user's LAST prefix session is handed over still-open; the rest
    // closed inside the prefix and are emitted from batch directly
    val handoff = withMax.filter(col("sid") === col("max_sid"))
      .select(col("user_id"), col("start_us"), col("last_us"), col("n"),
        col("sid").cast("long").as("idx"))
      .as[(Long, Long, Long, Long, Long)]
      .map(r => (r._1, OpenSession(r._2, r._3, r._4, r._5)))
      .groupByKey(_._1).mapValues(_._2)
    val closedBatch = withMax.filter(col("sid") < col("max_sid"))
      .select(col("user_id"), col("sid").cast("long").as("session_id"),
        col("n").as("n_events"),
        timestamp_micros(col("start_us")).as("session_start"))

    // streaming suffix: only events AFTER the cut, with the handoff state
    val rows = collectBounded(events.filter(unix_micros(col("ts")) > cutUs)
      .select(col("user_id").cast("long"), unix_micros(col("ts")))
      .as[(Long, Long)], "sessionizeBootstrapReplay", maxRows)
      .sortBy(r => (r._2, r._1))
    val sentinelUs = maxUs + 2 * gapUs

    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
    val streamTyped = mem.toDF().toDF("user_id", "ts_us")
      .select(col("user_id"), timestamp_micros(col("ts_us")).as("ts"))
      .select(col("user_id").cast("long").as("user_id"), col("ts"))
      .withWatermark("ts", "0 seconds")
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"))
      .as[(Long, java.sql.Timestamp, Long)]
    val streamed = Replay.toMemory(spark, "bsessions",
      Replay.feed(mem, rows, batches,
        Seq((-1L, sentinelUs)), Seq((-1L, sentinelUs + 2 * gapUs))),
      RocksDb :+ replayShuffle(4)) {
      streamTyped.groupByKey(_._1)
        .transformWithState(new SessionBootstrapProcessor(gapSeconds),
          TimeMode.EventTime(), OutputMode.Append(), handoff,
          Encoders.product[ClosedSession], Encoders.product[OpenSession])
        .toDF()
        .select(col("user_id"), col("session_id"), col("n_events"),
          timestamp_micros(col("start_us")).as("session_start"))
    }
    closedBatch.unionByName(streamed.filter(col("user_id") >= 0))
  }

  /** Conf overrides for the RocksDB state store provider + changelog
    * checkpointing (scoped by [[graft.SessionConf.withConf]]):
    * transformWithState only runs on RocksDB, and changelog
    * checkpointing makes each micro-batch commit upload only the delta
    * (full snapshots move to background maintenance) — the
    * production-recommended setting once state is large, and measurably
    * faster even on the local replay. */
  private val RocksDb = Seq(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
      "true")

  /** Batch-introspect the streaming state [[sessionizeTws]] leaves behind,
    * via Spark 4's state data source (SPARK-45511): after the watermark
    * drain, every real user's RocksDB `session` ValueState MUST be the
    * zero-count tombstone carrying their next session ordinal — a fact the
    * oracle derives independently from the events table (sessions per user
    * + 1). This gates the operator's internal state, not just its output:
    * a state-machine bug that emitted correct sessions but corrupted the
    * carried ordinal (breaking the NEXT day's resume) is invisible to
    * x15/x122/x123 and caught only here. At scale this reader is the
    * debugging/repair path for production state: a corrupt store is
    * diagnosed with a batch query instead of replaying the stream.
    *
    * The returned frame is a lazy `statestore` read of the replay's
    * checkpoint, so that checkpoint is kept (like those of
    * [[lastNStateSnapshot]] and [[typeCountsStateSnapshot]]). */
  def twsStateSnapshot(spark: SparkSession, events: DataFrame,
      gapSeconds: Long = 1800, batches: Int = 4): DataFrame = {
    val ckpt = java.nio.file.Files.createTempDirectory("wsess_ckpt").toString
    runTwsReplay(spark, events, gapSeconds, batches, ReplayInputMaxRows,
      Some(ckpt))
    spark.read.format("statestore")
      .option("path", ckpt)
      .option("stateVarName", "session")
      .load()
      .select(col("key.value").as("user_id"),
        col("value.idx").as("next_session_id"),
        col("value.n").as("n_open"))
      .filter(col("user_id") >= 0)
  }

  /** Conf override setting a replay's state width to the session's
    * shuffle width, capped at 8. Every stateful streaming operator keeps
    * one state store PER shuffle partition and commits each of them PER
    * micro-batch. On [[Replay.withCheckpoint]]'s temp checkpoints a
    * commit is a few local file writes, so the session's width costs
    * little and runs the state tasks in one wave; the cap keeps a wide
    * session (32 cores) from committing 32 mostly empty stores a batch
    * for a bounded replay's few rows. A production stream sizes the
    * state width to its real key volume instead. Result content is
    * partition-count-independent (the oracle gates prove it). */
  private def replayShuffle(spark: SparkSession): (String, String) =
    replayShuffle(math.min(8, graft.SessionConf.shufflePartitions(spark)))

  private def replayShuffle(n: Int): (String, String) =
    "spark.sql.shuffle.partitions" -> n.toString

  /** Conf override disabling Spark's no-data micro-batches for a replay
    * whose FINAL emissions are all driven by explicit sentinel DATA
    * batches (the two-step sentinel flush: batch 1 jumps the watermark,
    * batch 2 processes the fired timers/evictions). For those replays the
    * no-data batches Spark inserts after every data batch re-run the
    * whole micro-batch planning loop and emit nothing — measured
    * 0.54-0.78× on the sessionize-timeout / chained-session /
    * outer-attribution / dedupe replays (r16).
    *
    * DO NOT apply where emission relies on a watermark-only batch:
    * the file-source session pipeline (x106) LOSES final sessions
    * without no-data batches (measured — file feeds have no sentinel
    * mechanism), and the transformWithState list/map-state replays
    * measured 1.7-2.2× SLOWER with them off. Scoped per-operator for
    * exactly that reason. */
  private val NoDataBatchesOff =
    "spark.sql.streaming.noDataMicroBatches.enabled" -> "false"

  /** Replay a STATIC events frame through [[sessionizeFull]] as a real
    * stream: time-ordered micro-batches into a MemoryStream, then one
    * sentinel event per user far past the last timestamp to flush open
    * sessions. Returns the static closed-session frame — which therefore
    * must equal the batch sessionization of the same input, giving the
    * streaming path a correctness gate instead of spec-only coverage. */
  def sessionizeReplay(spark: SparkSession, events: DataFrame,
      gapSeconds: Long = 1800, batches: Int = 4,
      maxRows: Int = ReplayInputMaxRows): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = collectBounded(
      events.select(col("user_id").cast("long"), unix_micros(col("ts")))
        .as[(Long, Long)], "sessionizeReplay", maxRows)
      .sortBy(r => (r._2, r._1))
    val users = rows.map(_._1).distinct.toSeq
    val maxUs = if (rows.isEmpty) 0L else rows.iterator.map(_._2).max
    val sentinelUs = maxUs + 2 * gapSeconds * 1000000L

    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
    val streamDf = mem.toDF().toDF("user_id", "ts_us")
      .select(col("user_id"), timestamp_micros(col("ts_us")).as("ts"))
    Replay.toMemory(spark, "sessions",
      Replay.feed(mem, rows, batches, users.map(u => (u, sentinelUs))),
      Seq(replayShuffle(spark)))(sessionizeFull(streamDf, gapSeconds))
  }

  /** Streaming dedup: keep the first occurrence per key, with state bounded
    * by the watermark — the streaming twin of the batch D2 union-dedupe. On
    * a stream, `dropDuplicatesWithinWatermark` evicts each key's state once
    * the watermark passes its event time (a true 100 TB stream cannot hold
    * every key forever); on a batch frame it degrades to dropDuplicates. */
  def dedupeStream(events: DataFrame, keys: Seq[String],
      watermark: String = "10 minutes"): DataFrame =
    if (events.isStreaming)
      events.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(keys)
    else events.dropDuplicates(keys)

  /** Replay a STATIC events frame (with planted duplicates) through
    * [[dedupeStream]] as a real MemoryStream in time-ordered micro-batches;
    * returns the static deduplicated frame. Duplicates arriving within the
    * watermark of their original are dropped, so replaying `df ∪ df` must
    * return exactly `df`. */
  def dedupeReplay(spark: SparkSession, events: DataFrame,
      keys: Seq[String], watermark: String = "10 minutes",
      batches: Int = 4, maxRows: Int = ReplayInputMaxRows): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = collectBounded(events.select(col("event_id").cast("long"),
        unix_micros(col("ts")), col("user_id").cast("long"),
        col("event_type").cast("string"), col("value").cast("double"))
      .as[(Long, Long, Long, String, Double)], "dedupeReplay", maxRows)
      .sortBy(r => (r._2, r._1))

    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, Long, String, Double)]
    val streamDf = mem.toDF()
      .toDF("event_id", "ts_us", "user_id", "event_type", "value")
      .select(col("event_id"), timestamp_micros(col("ts_us")).as("ts"),
        col("user_id"), col("event_type"), col("value"))
    Replay.toMemory(spark, "dedupe", Replay.feed(mem, rows, batches),
      Seq(NoDataBatchesOff, replayShuffle(spark)))(dedupeStream(streamDf, keys))
  }

  /** Stream-stream interval join: attribute each purchase to the same
    * user's clicks within the preceding `withinSeconds`. Both sides carry
    * watermarks and the join condition bounds event time on BOTH ends, so
    * Spark can evict click state once the watermark passes
    * `click_ts + withinSeconds` — the state stays proportional to the
    * window, not the stream. Works identically on static frames (the
    * batch twin the oracle checks). */
  def attributionJoin(clicks: DataFrame, purchases: DataFrame,
      withinSeconds: Long = 1800, watermark: String = "30 minutes",
      joinType: String = "inner"): DataFrame = {
    val c = (if (clicks.isStreaming) clicks.withWatermark("ts", watermark)
             else clicks)
      .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
        col("ts").as("click_ts"))
    val p = (if (purchases.isStreaming) purchases.withWatermark("ts", watermark)
             else purchases)
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"))
    p.join(c,
      col("click_user") === col("user_id") &&
        col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $withinSeconds SECONDS") &&
        col("click_ts") <= col("purchase_ts"),
      joinType)
      .select(col("purchase_id"), col("click_id"), col("user_id"))
  }

  /** Replay static clicks/purchases through [[attributionJoin]] as two real
    * MemoryStreams advancing in lockstep over global time windows; with an
    * ordered feed nothing is late, so the streamed result must equal the
    * batch join — the correctness gate for the stream-stream path. */
  def attributionReplay(spark: SparkSession, events: DataFrame,
      withinSeconds: Long = 1800, batches: Int = 4,
      joinType: String = "inner",
      maxRows: Int = ReplayInputMaxRows): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def side(tpe: String) = collectBounded(
      events.filter(col("event_type") === tpe)
        .select(col("event_id").cast("long"), unix_micros(col("ts")),
          col("user_id").cast("long"))
        .as[(Long, Long, Long)], s"attributionReplay($tpe)", maxRows)
      .sortBy(r => (r._2, r._1))
    val clicks = side("click")
    val purchases = side("purchase")
    val allTs = (clicks.map(_._2) ++ purchases.map(_._2)).sorted
    val cuts = (1 until batches).map(i => allTs((allTs.length.toLong * i / batches).toInt))

    val memC = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Long)]
    val memP = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Long)]
    def streamDf(m: org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Long)]) =
      m.toDF().toDF("event_id", "ts_us", "user_id")
        .select(col("event_id"), timestamp_micros(col("ts_us")).as("ts"), col("user_id"))
    // both sides advance in lockstep: one step per global time window
    val bounds = cuts :+ Long.MaxValue
    def windows(side: Array[(Long, Long, Long)]) = {
      var rest = side
      bounds.map { hi => val (c, r) = rest.span(_._2 <= hi); rest = r; c }
    }
    val data: Seq[Replay.Step] = windows(clicks).zip(windows(purchases)).map {
      case (c, p) => () => {
        if (c.nonEmpty) memC.addData(c.toSeq)
        if (p.nonEmpty) memP.addData(p.toSeq)
        ()
      }
    }
    // OUTER emission is watermark-driven: an unmatched purchase only
    // surfaces with null click columns once the watermark proves no
    // matching click can still arrive. Advance both sides twice
    // (watermark updates at batch END, eviction happens a batch later)
    // with reserved-user sentinels, filtered below.
    val flush: Seq[Replay.Step] = if (joinType == "inner") Nil else {
      val maxUs = (clicks.map(_._2) ++ purchases.map(_._2) :+ 0L).max
      val winUs = withinSeconds * 1000000L
      Seq(maxUs + 3 * winUs, maxUs + 6 * winUs).map { t => () => {
        memC.addData(Seq((-1L, t, -1L)))
        memP.addData(Seq((-2L, t, -1L)))
        ()
      } }
    }
    Replay.toMemory(spark, "attr", data ++ flush,
      Seq(NoDataBatchesOff, replayShuffle(spark)))(
      attributionJoin(streamDf(memC), streamDf(memP), withinSeconds,
        joinType = joinType))
      .filter(col("user_id") >= 0)
  }

  /** Stream-static enrichment join: each micro-batch joins against the
    * BROADCAST static dimension — stateless (no watermark, no state store),
    * the workhorse shape for attaching dimension attributes to a live
    * stream. Works identically on a batch frame (the oracle's twin). */
  def enrichStream(events: DataFrame, dim: DataFrame,
      joinCond: org.apache.spark.sql.Column): DataFrame =
    events.join(broadcast(dim), joinCond)

  /** Replay a STATIC events frame through [[enrichStream]] as a real
    * MemoryStream: the streamed enrichment must equal the batch join of the
    * same inputs — the correctness gate for the stream-static path. */
  def enrichReplay(spark: SparkSession, events: DataFrame, dim: DataFrame,
      batches: Int = 2, maxRows: Int = ReplayInputMaxRows): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = collectBounded(events.select(col("event_id").cast("long"),
        unix_micros(col("ts")), col("user_id").cast("long"))
      .as[(Long, Long, Long)], "enrichReplay", maxRows)
      .sortBy(r => (r._2, r._1))
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Long)]
    val streamDf = mem.toDF().toDF("event_id", "ts_us", "user_id")
      .select(col("event_id"), timestamp_micros(col("ts_us")).as("ts"),
        col("user_id"))
    Replay.toMemory(spark, "enrich", Replay.feed(mem, rows, batches)) {
      enrichStream(streamDf, dim, col("c_custkey") === col("user_id") + 1)
        .select(col("event_id"), col("user_id"), col("c_mktsegment"))
    }
  }

  /** Streaming materialized view: replay a static events frame through a
    * foreachBatch sink that maintains an [[graft.operators.Incremental]]
    * aggregate state — each micro-batch contributes its own aggState, merged
    * into the running state (never rescanning earlier batches). Returns the
    * final state, which must equal the direct aggregate over everything
    * (the x44 merge==recompute guarantee, proven on the streaming path).
    *
    * 100 TB design: the state is |keys| rows and the per-batch work is one
    * partial aggregate of that batch — the PRODUCTION shape writes the
    * merged state to a keyed sink table per batch (exactly-once via the
    * batchId), never holding it on the driver. This REPLAY keeps state in
    * driver memory only because the oracle harness must hand the final
    * frame back synchronously, so it is the one place a data-sized
    * structure could land on the driver: `maxKeys` hard-bounds the grouped
    * key domain (the replay aborts rather than silently ballooning).
    * State is re-materialized from driver-held rows each batch, so lineage
    * never chains across batches. */
  def incrementalAggReplay(spark: SparkSession, events: DataFrame,
      batches: Int = 4, maxKeys: Int = 100000,
      maxRows: Int = ReplayInputMaxRows): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = collectBounded(events.select(col("event_id").cast("long"),
        unix_micros(col("ts")), col("event_type").cast("string"),
        col("value").cast("double"))
      .as[(Long, Long, String, Double)], "incrementalAggReplay", maxRows)
      .sortBy(r => (r._2, r._1))
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, String, Double)]
    val streamDf = mem.toDF().toDF("event_id", "ts_us", "event_type", "value")
    var state: Array[org.apache.spark.sql.Row] = Array.empty
    var stateSchema: org.apache.spark.sql.types.StructType = null
    Replay.run(spark, "incr", Replay.feed(mem, rows, batches),
        Seq(replayShuffle(spark))) {
      streamDf.writeStream
        .outputMode(OutputMode.Append())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val batchState = graft.operators.Incremental.aggState(
            batch.select("event_type", "value"), Seq("event_type"), Seq("value"))
          val merged =
            if (state.isEmpty) batchState
            else graft.operators.Incremental.mergeStates(Seq(
              spark.createDataFrame(
                java.util.Arrays.asList(state: _*), stateSchema),
              batchState), Seq("event_type"))
          val collected = merged.collect()
          require(collected.length <= maxKeys,
            s"incrementalAggReplay: ${collected.length} state keys exceed " +
              s"maxKeys=$maxKeys — this replay holds state on the driver; " +
              "use a keyed sink store for unbounded key domains")
          stateSchema = merged.schema
          state = collected
          ()
        }
    }
    require(stateSchema != null, "no batches processed")
    spark.createDataFrame(java.util.Arrays.asList(state: _*), stateSchema)
  }

  /** File-source stream over a directory of parquet events → sink. The
    * standard deploy shape: checkpointed, append-mode, watermarked. */
  def run(spark: SparkSession, inputDir: String, checkpointDir: String,
      outputDir: String): StreamingQuery = {
    val schema = spark.read.parquet(inputDir).schema
    val stream = spark.readStream.schema(schema).parquet(inputDir)
    windowedCounts(stream)
      .writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .format("parquet")
      .option("path", outputDir)
      .start()
  }
}

/** The one driver of graft's replay harnesses: a bounded static input,
  * collected on the driver, fed back through MemoryStream micro-batches
  * so the streaming STATE PATH (not just the batch plan) is what a gate
  * checks. The driver owns the whole loop — the bounded collect, the
  * chunking, the checkpoint, start, one drain per step, stop — and
  * each replay passes in only its plan, its sink, its sentinel flush
  * steps and its session-conf overrides. It shares this file with its
  * main caller, so call-site job attribution (the first `graft.` frame's
  * file) keeps naming the replay jobs `EventStream`'s. */
private[graft] object Replay {

  /** One replay step: put data on the source(s). The driver then drains
    * it with one `processAllAvailable`. */
  type Step = () => Unit

  /** Collect a replay input with the [[EventStream.ReplayInputMaxRows]]
    * guard: the LIMIT rides into the collect job itself (no extra
    * counting pass), and one row past the cap proves the overflow. */
  def collectBounded[T](ds: Dataset[T], helper: String, maxRows: Int): Array[T] = {
    val cap = EventStream.ReplayInputMaxRows
    require(maxRows >= 1 && maxRows <= cap,
      s"$helper: maxRows=$maxRows out of [1, $cap]")
    val arr = ds.limit(maxRows + 1).collect()
    require(arr.length <= maxRows,
      s"$helper: replay input exceeds maxRows=$maxRows rows. Replay " +
        "harnesses materialize their bounded input on the driver to feed " +
        "micro-batches (verification use); route large streams through " +
        "the production entry point (a pure streaming plan) instead.")
    arr
  }

  /** `rows` cut into `batches` near-equal chunks, then each `flush`
    * chunk (the caller's sentinels, added even when empty), each added
    * to `mem` as one step. */
  def feed[T](mem: MemoryStream[T], rows: Seq[T], batches: Int,
      flush: Seq[T]*): Seq[Step] = {
    val chunk = math.max(1, math.ceil(rows.length.toDouble / batches).toInt)
    (rows.grouped(chunk).toSeq ++ flush).map(c => () => { mem.addData(c); () })
  }

  /** Start `writer` with `conf` set on the session (restored after the
    * stop), run each step followed by one `processAllAvailable`, then
    * stop, on [[withCheckpoint]]'s directory (the results live in the
    * sink; a caller that reads the state back passes its own directory
    * and keeps it). */
  def run(spark: SparkSession, label: String, steps: Seq[Step],
      conf: Seq[(String, String)] = Nil, checkpoint: Option[String] = None)(
      writer: => DataStreamWriter[Row]): Unit =
    withCheckpoint(spark, label, checkpoint) { ckpt =>
      withConf(spark, conf: _*) {
        val q = writer.option("checkpointLocation", ckpt).start()
        try steps.foreach { step => step(); q.processAllAvailable() }
        finally q.stop()
      }
    }

  /** `body` on the caller's durable `checkpoint`, left as it is and
    * written by Spark's default checkpoint file manager; without one, on
    * a fresh temp checkpoint named after `label` ([[withTempDir]]),
    * written by [[LocalCheckpointFileManager]] so that no micro-batch
    * forks a process. The manager conf is set for `body` only, so every
    * query `body` starts, and the state stores those queries open, use
    * it. */
  def withCheckpoint[T](spark: SparkSession, label: String,
      checkpoint: Option[String])(body: String => T): T =
    checkpoint match {
      case Some(ckpt) => body(ckpt)
      case None => withTempDir(spark, s"${label}_ckpt") { ckpt =>
        withConf(spark, "spark.sql.streaming.checkpointFileManagerClass" ->
          classOf[LocalCheckpointFileManager].getName)(body(ckpt))
      }
    }

  /** `body` on a fresh temp directory named after `prefix`, deleted when
    * `body` returns or throws.
    *
    * The RocksDB store's background maintenance may still upload the
    * final snapshot of a stopped query's stores after that delete
    * (unloaded providers are queued for one last maintenance pass), so
    * the directory is also registered for deletion at JVM exit. */
  def withTempDir[T](spark: SparkSession, prefix: String)(
      body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    try body(dir) finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.deleteOnExit(p)
      fs.delete(p, true)
    }
  }

  /** [[run]] `out` into a uniquely named Append-mode memory sink;
    * returns the sink's table. */
  def toMemory(spark: SparkSession, label: String, steps: Seq[Step],
      conf: Seq[(String, String)] = Nil, checkpoint: Option[String] = None)(
      out: => DataFrame): DataFrame = {
    val name = label + "_" + java.util.UUID.randomUUID().toString.replace("-", "")
    run(spark, label, steps, conf, checkpoint) {
      out.writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append())
    }
    spark.table(name)
  }
}
