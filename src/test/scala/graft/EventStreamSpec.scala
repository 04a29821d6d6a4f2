package graft

import graft.streaming.EventStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Structured Streaming layer: windowed aggregation with watermark over a
  * real stream (MemoryStream), equivalence with the batch twin, and
  * stateful sessionization. */
class EventStreamSpec extends SparkSpec {
  import spark.implicits._

  private def ts(m: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")

  test("windowedCounts on a real stream matches the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val streamDf = mem.toDF().toDF("ts", "event_type", "value")

    val q = EventStream.windowedCounts(streamDf, windowLength = "10 minutes")
      .writeStream.format("memory").queryName("win_test")
      .outputMode("complete").start()
    try {
      mem.addData((ts(1), "click", 1.5), (ts(2), "click", 2.0), (ts(11), "view", 3.0))
      q.processAllAvailable()
      val got = spark.table("win_test").orderBy("window_start", "event_type").collect()
      assert(got.length == 2)
      assert(got(0).getAs[String]("event_type") == "click")
      assert(got(0).getAs[Long]("n_events") == 2L)
      assert(got(0).getAs[Double]("total_value") == 3.5)

      // batch twin over the same rows produces identical aggregates
      val batch = EventStream.windowedCounts(
        Seq((ts(1), "click", 1.5), (ts(2), "click", 2.0), (ts(11), "view", 3.0))
          .toDF("ts", "event_type", "value"), windowLength = "10 minutes")
        .orderBy("window_start", "event_type").collect()
      assert(batch.map(_.toSeq).toSeq == got.map(_.toSeq).toSeq)
    } finally q.stop()
  }

  test("slidingWindowedCounts: 4-window fan-out, stream equals batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val streamDf = mem.toDF().toDF("ts", "event_type", "value")
    val rows = Seq((ts(16), "click", 1.5), (ts(16), "click", 2.0))

    val q = EventStream.slidingWindowedCounts(streamDf,
        windowLength = "20 minutes", slide = "5 minutes")
      .writeStream.format("memory").queryName("slide_test")
      .outputMode("complete").start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("slide_test").orderBy("window_start").collect()
      // one event time → exactly windowLength/slide = 4 overlapping windows,
      // each carrying BOTH events
      assert(got.length == 4)
      assert(got.forall(r => r.getAs[Long]("n_events") == 2L &&
        r.getAs[Double]("total_value") == 3.5))
      // consecutive window starts are 5 minutes apart
      val starts = got.map(_.getAs[Timestamp]("window_start").getTime)
      assert(starts.sliding(2).forall(p => p(1) - p(0) == 5 * 60 * 1000L))

      val batch = EventStream.slidingWindowedCounts(
          rows.toDF("ts", "event_type", "value"),
          windowLength = "20 minutes", slide = "5 minutes")
        .orderBy("window_start").collect()
      assert(batch.map(_.toSeq).toSeq == got.map(_.toSeq).toSeq)
    } finally q.stop()
  }

  test("watermark bounds state in append mode (late rows beyond it dropped)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val q = EventStream.windowedCounts(mem.toDF().toDF("ts", "event_type", "value"),
        windowLength = "10 minutes", watermark = "5 minutes")
      .writeStream.format("memory").queryName("wm_test")
      .outputMode("append").start()
    try {
      mem.addData((ts(1), "click", 1.0))
      q.processAllAvailable()
      mem.addData((ts(31), "click", 1.0)) // advances watermark past window 10:00-10:10
      q.processAllAvailable()
      mem.addData((ts(2), "click", 99.0)) // late beyond watermark → dropped
      q.processAllAvailable()
      val closed = spark.table("wm_test")
        .filter($"window_start" === ts(0)).collect()
      assert(closed.length == 1)
      assert(closed.head.getAs[Double]("total_value") == 1.0) // late row excluded
    } finally q.stop()
  }

  test("sessionizeFull replay emits every closed session with batch semantics") {
    val events = Seq(
      (1L, ts(0)), (1L, ts(5)), (1L, ts(40)), // gap > 30 min → two sessions
      (2L, ts(10)))
      .toDF("user_id", "ts")
    val out = EventStream.sessionizeReplay(spark, events, gapSeconds = 1800,
        batches = 2)
      .orderBy("user_id", "session_id").collect()
    assert(out.length == 3)
    assert(out(0).getAs[Long]("user_id") == 1L &&
      out(0).getAs[Long]("session_id") == 1L &&
      out(0).getAs[Long]("n_events") == 2L &&
      out(0).getAs[Timestamp]("session_start") == ts(0))
    assert(out(1).getAs[Long]("session_id") == 2L &&
      out(1).getAs[Long]("n_events") == 1L &&
      out(1).getAs[Timestamp]("session_start") == ts(40))
    assert(out(2).getAs[Long]("user_id") == 2L &&
      out(2).getAs[Long]("n_events") == 1L)
  }

  test("sessionizeTimeout closes tail sessions by watermark, matching batch") {
    // No per-user sentinel exists: user 1's second session and user 2's only
    // session can ONLY be emitted by the EventTimeTimeout firing once the
    // reserved-user watermark advance passes last-event + gap.
    val events = Seq(
      (1L, ts(0)), (1L, ts(5)), (1L, ts(40)), // gap > 30 min → two sessions
      (2L, ts(10)))
      .toDF("user_id", "ts")
    val out = EventStream.sessionizeTimeoutReplay(spark, events,
        gapSeconds = 1800, batches = 2)
      .orderBy("user_id", "session_id").collect()
    assert(out.length == 3)
    assert(out(0).getAs[Long]("user_id") == 1L &&
      out(0).getAs[Long]("session_id") == 1L &&
      out(0).getAs[Long]("n_events") == 2L &&
      out(0).getAs[Timestamp]("session_start") == ts(0))
    assert(out(1).getAs[Long]("session_id") == 2L &&
      out(1).getAs[Long]("n_events") == 1L &&
      out(1).getAs[Timestamp]("session_start") == ts(40))
    assert(out(2).getAs[Long]("user_id") == 2L &&
      out(2).getAs[Long]("n_events") == 1L)
  }

  test("sessionizeTws (transformWithState + timers) matches batch semantics") {
    val events = Seq(
      (1L, ts(0)), (1L, ts(5)), (1L, ts(40)), // gap > 30 min → two sessions
      (2L, ts(10)))
      .toDF("user_id", "ts")
    val out = EventStream.sessionizeTwsReplay(spark, events,
        gapSeconds = 1800, batches = 2)
      .orderBy("user_id", "session_id").collect()
    assert(out.length == 3)
    assert(out(0).getAs[Long]("user_id") == 1L &&
      out(0).getAs[Long]("session_id") == 1L &&
      out(0).getAs[Long]("n_events") == 2L &&
      out(0).getAs[Timestamp]("session_start") == ts(0))
    assert(out(1).getAs[Long]("session_id") == 2L &&
      out(1).getAs[Long]("n_events") == 1L &&
      out(1).getAs[Timestamp]("session_start") == ts(40))
    assert(out(2).getAs[Long]("user_id") == 2L &&
      out(2).getAs[Long]("n_events") == 1L)
  }

  test("twsStateSnapshot reads tombstone ordinals back from RocksDB state") {
    val events = Seq(
      (1L, ts(0)), (1L, ts(5)), (1L, ts(40)), // two sessions → next = 3
      (2L, ts(10)))                           // one session  → next = 2
      .toDF("user_id", "ts")
    val snap = EventStream.twsStateSnapshot(spark, events,
        gapSeconds = 1800, batches = 2)
      .orderBy("user_id").collect()
    assert(snap.length == 2)
    assert(snap(0).getAs[Long]("user_id") == 1L &&
      snap(0).getAs[Long]("next_session_id") == 3L &&
      snap(0).getAs[Long]("n_open") == 0L)
    assert(snap(1).getAs[Long]("user_id") == 2L &&
      snap(1).getAs[Long]("next_session_id") == 2L &&
      snap(1).getAs[Long]("n_open") == 0L)
  }

  test("dynamic gap: a purchase holds its session open longer than a click") {
    // clicks 45 min apart split (gap 30); a purchase then a 45-min-later
    // click merge (gap 60) — same spacing, different outcome by type
    val events = Seq(
      (1L, ts(0), 10L, "click", 1.0), (2L, Timestamp.valueOf("2024-01-01 10:45:00"), 10L, "click", 1.0),
      (3L, ts(0), 11L, "purchase", 9.0), (4L, Timestamp.valueOf("2024-01-01 10:45:00"), 11L, "click", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = EventStream.sessionWindowsDynamic(events)
      .orderBy("user_id", "session_start").collect()
    assert(out.count(_.getAs[Long]("user_id") == 10L) == 2, "clicks must split")
    val merged = out.filter(_.getAs[Long]("user_id") == 11L)
    assert(merged.length == 1 && merged.head.getAs[Long]("n_events") == 2,
      "purchase's 60-min gap must merge the pair")
  }

  test("chained dedup + session_window equals the un-doubled batch twin") {
    val events = Seq(
      (101L, 1L, ts(0), 2.5), (102L, 1L, ts(5), 1.5),  // one session, 2 events
      (103L, 2L, ts(10), 4.0))
      .toDF("event_id", "user_id", "ts", "value")
    // the replay doubles every event internally; counts/sums must NOT double
    val out = EventStream.dedupSessionWindowsReplay(spark, events, batches = 2)
      .orderBy("user_id", "session_start").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("user_id") == 1L &&
      out(0).getAs[Long]("n_events") == 2L &&
      out(0).getAs[Double]("total_value") == 4.0)
    assert(out(1).getAs[Long]("user_id") == 2L &&
      out(1).getAs[Long]("n_events") == 1L &&
      out(1).getAs[Double]("total_value") == 4.0)
  }

  test("bootstrap handoff continues a session that spans the batch/stream cut") {
    // time range 10:00–10:25 → cut at 10:12:30. User 1's session straddles
    // the cut (10:00 batch; 10:20, 10:25 streamed within the gap): the
    // initial state must CONTINUE it — one 3-event session, not a restart.
    // User 2 exists only in the batch half: the initial-state timer alone
    // must close their session at the drain (they never stream an event).
    val events = Seq(
      (1L, ts(0)), (1L, ts(20)), (1L, ts(25)),
      (2L, ts(5)))
      .toDF("user_id", "ts")
    val out = EventStream.sessionizeBootstrapReplay(spark, events,
        gapSeconds = 1800, batches = 2)
      .orderBy("user_id", "session_id").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("user_id") == 1L &&
      out(0).getAs[Long]("session_id") == 1L &&
      out(0).getAs[Long]("n_events") == 3L &&
      out(0).getAs[Timestamp]("session_start") == ts(0))
    assert(out(1).getAs[Long]("user_id") == 2L &&
      out(1).getAs[Long]("n_events") == 1L &&
      out(1).getAs[Timestamp]("session_start") == ts(5))
  }

  test("lastNStateSnapshot keeps only the n most recent events per user") {
    val events = Seq(
      (1L, 101L, ts(0), "click"), (1L, 102L, ts(5), "view"),
      (1L, 103L, ts(10), "click"), (1L, 104L, ts(15), "click"),
      (2L, 201L, ts(1), "buy"))
      .toDF("user_id", "event_id", "ts", "event_type")
    val out = EventStream.lastNStateSnapshot(spark, events, n = 3, batches = 2)
      .orderBy("user_id", "event_id").collect()
    // 101 must be evicted: ListState holds a bounded window, not history
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 102L), (1L, 103L), (1L, 104L), (2L, 201L)))
  }

  test("typeCountsStateSnapshot equals the batch group-by") {
    val events = Seq(
      (1L, 101L, ts(0), "click"), (1L, 102L, ts(5), "view"),
      (1L, 103L, ts(10), "click"), (2L, 201L, ts(1), "buy"))
      .toDF("user_id", "event_id", "ts", "event_type")
    val out = EventStream.typeCountsStateSnapshot(spark, events, batches = 2)
      .orderBy("user_id", "event_type").collect()
    assert(out.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq((1L, "click", 2L), (1L, "view", 1L), (2L, "buy", 1L)))
  }

  test("sessionizeTimeout reopens after a tombstone with the next ordinal") {
    // User 1's first session closes by timeout mid-stream (tombstone left in
    // state); a later event for the same user must start session 2, not 1.
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp)]
    val streamDf = mem.toDF().toDF("user_id", "ts")
    val name = "tsess_reopen"
    val ckpt = java.nio.file.Files.createTempDirectory("tsess_reopen").toString
    val q = EventStream.sessionizeTimeout(streamDf, gapSeconds = 1800)
      .writeStream.format("memory").queryName(name)
      .outputMode("append").option("checkpointLocation", ckpt).start()
    def t(hm: String) = Timestamp.valueOf(s"2024-01-01 $hm:00")
    try {
      mem.addData((1L, ts(0)))
      q.processAllAvailable()
      mem.addData((2L, t("12:00"))) // watermark → 12:00, past 10:00+gap
      q.processAllAvailable()
      mem.addData((2L, t("12:01"))) // user 1's timeout fires: session 1 out
      q.processAllAvailable()
      mem.addData((1L, t("12:05"))) // reopens from the tombstone
      q.processAllAvailable()
      mem.addData((2L, t("14:00"))) // watermark → 14:00, past 12:05+gap
      q.processAllAvailable()
      mem.addData((2L, t("14:01"))) // user 1's second timeout fires
      q.processAllAvailable()
      val closed = spark.table(name).filter($"user_id" === 1L)
        .orderBy("session_id").collect()
      assert(closed.length == 2)
      assert(closed(0).getAs[Long]("session_id") == 1L &&
        closed(0).getAs[Timestamp]("session_start") == ts(0))
      assert(closed(1).getAs[Long]("session_id") == 2L &&
        closed(1).getAs[Timestamp]("session_start") == t("12:05"))
    } finally q.stop()
  }

  test("dedupeStream drops in-watermark duplicates, keeps first occurrence") {
    val ev = Seq(
      (1L, ts(0), 10L, "click", 1.0), (2L, ts(1), 10L, "view", 2.0),
      (3L, ts(2), 11L, "click", 3.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val doubled = ev.union(ev)
    val out = EventStream.dedupeReplay(spark, doubled, Seq("event_id"),
        batches = 3)
      .orderBy("event_id").collect()
    assert(out.length == 3)
    assert(out.map(_.getAs[Long]("event_id")).toSeq == Seq(1L, 2L, 3L))
    assert(out(0).getAs[Double]("value") == 1.0)
  }

  test("stream-stream attribution equals the batch interval join") {
    val events = Seq(
      (1L, ts(0), 10L, "click", 0.0),   // within 30 min of purchase → match
      (2L, ts(29), 10L, "purchase", 9.9),
      (3L, ts(35), 10L, "click", 0.0),  // after the purchase → no match
      (4L, ts(1), 11L, "click", 0.0))   // other user → no match
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = EventStream.attributionReplay(spark, events, withinSeconds = 1800,
        batches = 2)
      .orderBy("purchase_id", "click_id").collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("purchase_id") == 2L &&
      out.head.getAs[Long]("click_id") == 1L)
  }

  test("outer stream-stream join emits unmatched purchases after watermark") {
    val events = Seq(
      (1L, ts(0), 10L, "click", 0.0),    // matches purchase 2 (within 30 min)
      (2L, ts(10), 10L, "purchase", 5.0),
      (3L, ts(12), 11L, "purchase", 7.0)) // user 11 never clicked → null click
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = EventStream.attributionReplay(spark, events,
        withinSeconds = 1800, batches = 2, joinType = "left_outer")
      .orderBy($"purchase_id", $"click_id".asc_nulls_first).collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("purchase_id") == 2L &&
      out(0).getAs[Long]("click_id") == 1L)
    assert(out(1).getAs[Long]("purchase_id") == 3L && out(1).isNullAt(1),
      "unmatched purchase must surface with a NULL click after the drain")
  }

  test("stream-static enrichment equals the batch broadcast join") {
    val events = Seq(
      (1L, ts(0), 0L, "view", 0.0),   // user 0 → custkey 1
      (2L, ts(1), 1L, "view", 0.0),   // user 1 → custkey 2
      (3L, ts(2), 99L, "view", 0.0))  // custkey 100 absent → dropped
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val dim = Seq((1L, "BUILDING"), (2L, "MACHINERY"))
      .toDF("c_custkey", "c_mktsegment")
    val out = EventStream.enrichReplay(spark, events, dim, batches = 2)
      .orderBy("event_id").collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[String]("c_mktsegment")))
    assert(out.toSeq == Seq((1L, "BUILDING"), (2L, "MACHINERY")))
  }

  test("sessionize groups events by inactivity gap per user") {
    val events = Seq(
      (1L, ts(0)), (1L, ts(5)), (1L, ts(40)), // gap > 30 min → new session
      (2L, ts(10)))
      .toDF("user_id", "ts")
    val out = EventStream.sessionize(events, gapSeconds = 1800)
      .orderBy("user_id").collect()
    assert(out.length == 2)
    val u1 = out(0)
    assert(u1.getAs[Long]("user_id") == 1L)
    assert(u1.getAs[Timestamp]("session_start") == ts(40)) // latest session
    assert(u1.getAs[Long]("n_events") == 1L)
    assert(out(1).getAs[Long]("n_events") == 1L)
  }

  test("incrementalAggReplay state equals the direct aggregate at any batching") {
    import spark.implicits._
    val events = (1 to 40).map { i =>
      (i.toLong, java.sql.Timestamp.valueOf(f"2024-01-01 10:${i % 60}%02d:00"),
        i.toLong % 5, if (i % 2 == 0) "click" else "view", i * 0.25)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val direct = events.groupBy("event_type")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_rows"),
        org.apache.spark.sql.functions.sum(col("value").cast("decimal(18,6)"))
          .cast("decimal(28,6)").as("sum_value"))
      .orderBy("event_type").collect().toSeq
    for (batches <- Seq(1, 3, 7)) {
      val replay = EventStream.incrementalAggReplay(spark, events, batches)
        .orderBy("event_type").collect().toSeq
      assert(replay == direct, s"batches=$batches")
    }
  }

  test("incrementalAggReplay aborts when state keys exceed the driver bound") {
    import spark.implicits._
    val events = (1 to 40).map { i =>
      (i.toLong, java.sql.Timestamp.valueOf(f"2024-01-01 10:${i % 60}%02d:00"),
        i.toLong % 5, s"type_${i % 4}", i * 0.25)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val e = intercept[Exception] {
      EventStream.incrementalAggReplay(spark, events, batches = 2, maxKeys = 2)
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("maxKeys")), messages(e).mkString("; "))
  }

  test("sentinel-flushed replays restore the no-data-batch conf; x106 keeps its final sessions") {
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    // every conf a replay overrides, compared explicit-versus-unset: a
    // replay must not leave a previously unset key explicitly set
    val keys = Seq(key, "spark.sql.shuffle.partitions",
      "spark.sql.streaming.stateStore.providerClass",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
    val explicitValues = Seq("true", "6",
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
      "false")
    def explicit() = keys.map(spark.conf.getAll.get)
    val original = explicit()
    val events = Seq(
      (1L, ts(0), 10L, "click", 1.0), (2L, ts(5), 10L, "purchase", 2.0),
      (3L, ts(50), 10L, "click", 3.0), (4L, ts(7), 11L, "click", 4.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val replays: Seq[(String, () => Any)] = Seq(
      "dedupSessionWindowsReplay" -> (() =>
        EventStream.dedupSessionWindowsReplay(spark, events, batches = 2)),
      "sessionizeTimeoutReplay" -> (() =>
        EventStream.sessionizeTimeoutReplay(spark, events, batches = 2)),
      "dedupeReplay" -> (() =>
        EventStream.dedupeReplay(spark, events, Seq("event_id"), batches = 2)),
      "attributionReplay" -> (() =>
        EventStream.attributionReplay(spark, events, batches = 2)),
      "sessionizeReplay" -> (() =>
        EventStream.sessionizeReplay(spark, events, batches = 2)),
      "sessionizeTwsReplay" -> (() =>
        EventStream.sessionizeTwsReplay(spark, events, batches = 2)))
    // the caller's settings come back, whether they were unset or set
    try replays.foreach { case (name, run) =>
      Seq(false, true).foreach { set =>
        keys.zip(explicitValues).foreach { case (k, v) =>
          if (set) spark.conf.set(k, v) else spark.conf.unset(k)
        }
        val before = explicit()
        run()
        assert(explicit() == before, s"$name changed the explicit conf " +
          s"(set = $set): ${keys.zip(explicit())} vs ${keys.zip(before)}")
      }
    } finally keys.zip(original).foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    assert(explicit() == original)
    // x106's replay keeps no-data batches: every user's last session,
    // which only the final watermark advance closes, is still emitted
    val replayed = EventStream.sessionWindowsReplay(spark, events, batches = 2)
      .orderBy("user_id", "session_start").collect().toSeq
    val batch = EventStream.sessionWindows(events)
      .orderBy("user_id", "session_start").collect().toSeq
    assert(replayed.length == 3)
    assert(replayed == batch)
    assert(replayed.last.getAs[Long]("user_id") == 11L)
  }

  test("every replay helper refuses inputs past its maxRows driver bound") {
    import spark.implicits._
    val events = (1 to 10).map { i =>
      (i.toLong, java.sql.Timestamp.valueOf(f"2024-01-01 10:${i % 60}%02d:00"),
        i.toLong % 3, if (i % 2 == 0) "click" else "purchase", i * 0.5)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val dim = Seq((1L, "SEG")).toDF("c_custkey", "c_mktsegment")
    // the guard fires during input collection, before any stream starts
    val attempts: Seq[(String, () => Any)] = Seq(
      "sessionWindowsReplay" -> (() =>
        EventStream.sessionWindowsReplay(spark, events, maxRows = 4)),
      "dedupSessionWindowsReplay" -> (() =>
        EventStream.dedupSessionWindowsReplay(spark, events, maxRows = 4)),
      "sessionizeTimeoutReplay" -> (() =>
        EventStream.sessionizeTimeoutReplay(spark, events, maxRows = 4)),
      "sessionizeTwsReplay" -> (() =>
        EventStream.sessionizeTwsReplay(spark, events, maxRows = 4)),
      "lastNStateSnapshot" -> (() =>
        EventStream.lastNStateSnapshot(spark, events, maxRows = 4)),
      "typeCountsStateSnapshot" -> (() =>
        EventStream.typeCountsStateSnapshot(spark, events, maxRows = 4)),
      "sessionizeBootstrapReplay" -> (() =>
        EventStream.sessionizeBootstrapReplay(spark, events, maxRows = 2)),
      "sessionizeReplay" -> (() =>
        EventStream.sessionizeReplay(spark, events, maxRows = 4)),
      "dedupeReplay" -> (() =>
        EventStream.dedupeReplay(spark, events, Seq("event_id"), maxRows = 4)),
      "attributionReplay" -> (() =>
        EventStream.attributionReplay(spark, events, maxRows = 2)),
      "enrichReplay" -> (() =>
        EventStream.enrichReplay(spark, events, dim, maxRows = 4)),
      "incrementalAggReplay" -> (() =>
        EventStream.incrementalAggReplay(spark, events, maxRows = 4)),
      "streamingIndexIngestReplay" -> (() =>
        graft.operators.Retrieval.streamingIndexIngestReplay(spark,
          events.select(col("event_id"), col("event_type").as("text")),
          "event_id", "text", "graft_test_bound_ix", maxRows = 4)),
      "streamingIvfIngestReplay" -> (() =>
        graft.operators.Similarity.streamingIvfIngestReplay(spark,
          events.select(col("event_id"), col("user_id").cast("int"),
            array(col("value").cast("float")).as("vec")),
          "event_id", "user_id", "vec", "graft_test_bound_ivf",
          maxRows = 4)))
    attempts.foreach { case (name, run) =>
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains("maxRows"), s"$name: ${e.getMessage}")
    }
    // and a maxRows above the cap is itself rejected
    val over = intercept[IllegalArgumentException] {
      EventStream.sessionizeReplay(spark, events,
        maxRows = EventStream.ReplayInputMaxRows + 1)
    }
    assert(over.getMessage.contains("out of"))
  }

  test("memory-sink and index replays delete their checkpoints") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def ckpts() = tmp.listFiles().map(_.getName)
      .filter(_.contains("_ckpt")).toSet
    val before = ckpts()
    val events = Seq((1L, ts(0), 10L, "click", 1.0),
        (2L, ts(45), 10L, "click", 2.0), (3L, ts(7), 11L, "purchase", 3.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    assert(EventStream.sessionizeReplay(spark, events, batches = 2)
      .count() == 3)
    graft.operators.Retrieval.streamingIndexIngestReplay(spark,
      Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("doc_id", "text"),
      "doc_id", "text", "graft_test_ckpt_ix", buckets = 2, batches = 2)
    assert(spark.table("graft_test_ckpt_ix_docs").count() == 2)
    assert(ckpts() -- before == Set.empty[String])
  }
}
