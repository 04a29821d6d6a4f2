package graft

import graft.streaming.EventStream
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.sql.Timestamp

/** Restart-recovery gate for the resumable streaming deploy shape
  * ([[EventStream.sessionWindowPipeline]]): a RocksDB-state,
  * reliable-checkpoint session-window pipeline is run over a PREFIX of its
  * input, terminated, and restarted over the suffix — and the merged output
  * must equal the batch session aggregate of the whole input. The sharp
  * assertion is the session that SPANS the cut: its events arrive in two
  * different query lifetimes, so it can only come out right if the open
  * session state was restored from the checkpoint, not recomputed.
  */
class RestartRecoverySpec extends SparkSpec {
  import spark.implicits._

  private def ts(h: Int, m: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")

  private def writeFile(dir: String, rows: Seq[(Timestamp, Long, Double)]): Unit =
    rows.toDF("ts", "user_id", "value").coalesce(1)
      .write.mode("append").parquet(dir)

  test("killed mid-stream, the RocksDB session pipeline resumes from the " +
      "reliable checkpoint and matches the batch oracle") {
    graft.streaming.Replay.withTempDir(spark, "restart") { d =>
      val tmp = java.nio.file.Paths.get(d)
      val inDir = tmp.resolve("in").toString
      val outDir = tmp.resolve("out").toString
      val ckpt = tmp.resolve("ckpt").toString

      // user 1's 4-event session spans the restart cut (10:00–10:30, 30 min
      // gap); user 2 closes one session before the cut and opens another after
      val prefix = Seq((ts(10, 0), 1L, 1.0), (ts(10, 10), 1L, 2.0),
        (ts(10, 0), 2L, 5.0))
      val suffix = Seq((ts(10, 20), 1L, 3.0), (ts(10, 30), 1L, 4.0),
        (ts(12, 0), 2L, 6.0))
      // far-future sentinels advance the watermark past every real session
      val sentinels = Seq((ts(20, 0), 1L, 0.0), (ts(20, 0), 2L, 0.0))

      // run 1: prefix only — terminates with open sessions held ONLY in the
      // checkpointed state store
      writeFile(inDir, prefix)
      EventStream.sessionWindowPipeline(spark, inDir, outDir, ckpt,
        rocksDb = true)
      val afterRun1 = spark.read.parquet(outDir)
      assert(afterRun1.isEmpty,
        "no session may flush before the watermark passes it")
      assert(Files.exists(java.nio.file.Paths.get(ckpt, "state")),
        "run 1 must leave reliable state behind")
      assert(Files.exists(java.nio.file.Paths.get(ckpt, "offsets")),
        "run 1 must commit source offsets")

      // run 1b: restart with NO new input — must be an idempotent no-op
      EventStream.sessionWindowPipeline(spark, inDir, outDir, ckpt,
        rocksDb = true)
      assert(spark.read.parquet(outDir).isEmpty)

      // run 2: suffix + sentinels appear; the restarted query must pick up
      // the open sessions and flush every real one
      writeFile(inDir, suffix)
      writeFile(inDir, sentinels)
      EventStream.sessionWindowPipeline(spark, inDir, outDir, ckpt,
        rocksDb = true)

      val got = spark.read.parquet(outDir)
        .select("user_id", "session_start", "session_end", "n_events",
          "total_value")
        .orderBy("user_id", "session_start").collect().map(_.toSeq).toSeq
      val expected = EventStream.sessionWindows(
          (prefix ++ suffix).toDF("ts", "user_id", "value"))
        .select("user_id", "session_start", "session_end", "n_events",
          "total_value")
        .orderBy("user_id", "session_start").collect().map(_.toSeq).toSeq
      assert(got == expected,
        s"streamed-across-restart sessions differ from batch:\n$got\nvs\n$expected")

      // the cut-spanning session merged across the two query lifetimes
      val u1 = got.filter(_.head == 1L)
      assert(u1.size == 1 && u1.head(3) == 4L,
        s"user 1's session must merge across the restart, got $u1")
    }
  }

  test("IngestLedger: watermark compaction bounds the file count at O(1), " +
    "coverage stays exact, crash-mid-compaction only duplicates") {
    import graft.operators.IngestLedger
    graft.streaming.Replay.withTempDir(spark, "graft_ledger_test") { ckpt =>
      def partFiles(): Array[org.apache.hadoop.fs.Path] = {
        val p = new org.apache.hadoop.fs.Path(s"$ckpt/graft_applied")
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(p)) Array.empty
        else fs.listStatus(p).map(_.getPath)
          .filter(_.getName.startsWith("part-"))
      }
      // a long stream: 41 committed batches — the naive one-file-per-batch
      // ledger would hold 41 files and re-read all of them every batch
      (0L to 40L).foreach(IngestLedger.recordAppliedBatch(spark, ckpt, _))
      val a = IngestLedger.appliedBatchIds(spark, ckpt)
      assert((0L to 40L).forall(a.contains), s"coverage lost: $a")
      assert(!a.contains(41L) && !a.contains(100L), s"over-coverage: $a")
      assert(partFiles().length <= IngestLedger.CompactAt + 1,
        s"compaction did not bound the ledger: ${partFiles().length} files")
      // crash-mid-compaction: the summary landed but the subsumed files
      // were not deleted — the reader unions, coverage must be UNCHANGED
      spark.createDataFrame(Seq((40L, true), (7L, false)))
        .toDF("batch_id", "is_wm")
        .coalesce(1).write.mode("append").parquet(s"$ckpt/graft_applied")
      val dup = IngestLedger.appliedBatchIds(spark, ckpt)
      assert((0L to 40L).forall(dup.contains) && !dup.contains(41L),
        s"duplicate coverage changed the set: $dup")
      // recording continues over the duplicated state; resume reads O(1)
      (41L to 60L).foreach(IngestLedger.recordAppliedBatch(spark, ckpt, _))
      val b = IngestLedger.appliedBatchIds(spark, ckpt)
      assert((0L to 60L).forall(b.contains) && !b.contains(61L))
      assert(b.extra.isEmpty,
        s"contiguous commits must fold into the watermark: $b")
      assert(partFiles().length <= IngestLedger.CompactAt + 1)
    }
  }
}
