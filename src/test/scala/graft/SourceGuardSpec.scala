package graft

import org.scalatest.funsuite.AnyFunSuite

/** Keeps shared plumbing shared: each pattern below may appear in
  * `src/main` code only inside the one definition that owns it, so a
  * hand-written copy cannot come back one operator at a time. */
class SourceGuardSpec extends AnyFunSuite {

  private val root = new java.io.File("src/main/scala")

  /** (file path under `root`, line number, line) of every code line —
    * comment lines dropped. */
  private lazy val codeLines: Seq[(String, Int, String)] = {
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f =>
        if (f.isDirectory) files(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    files(root).flatMap { f =>
      val rel = root.toPath.relativize(f.toPath).toString
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().toList.zipWithIndex.collect {
        case (line, i) if !line.trim.startsWith("*") &&
            !line.trim.startsWith("/*") && !line.trim.startsWith("//") =>
          (rel, i + 1, line)
      } finally src.close()
    }
  }

  private def hits(pattern: String): Seq[(String, Int, String)] = {
    val re = pattern.r
    codeLines.filter { case (_, _, l) => re.findFirstIn(l).isDefined }
  }

  private def show(hs: Seq[(String, Int, String)]): String =
    hs.map { case (f, n, l) => s"$f:$n: ${l.trim}" }.mkString("\n")

  /** `pattern` occurs in code exactly `count` times, all in `owner`. */
  private def assertOnlyIn(pattern: String, owner: String, count: Int): Unit = {
    val hits = this.hits(pattern)
    val strays = hits.filter(_._1 != owner)
    assert(strays.isEmpty, s"`$pattern` outside $owner:\n" + show(strays))
    assert(hits.length == count,
      s"`$pattern` expected $count times in $owner:\n" + show(hits))
  }

  test("session conf changes only through SessionConf.withConf") {
    // withConf's own set, restore-set and restore-unset
    assertOnlyIn("""\.conf\.(set|unset)\(""", "graft/SessionConf.scala", 3)
  }

  test("micro-batch drains only in the Replay driver") {
    // Replay.run's one drain per step (Replay shares EventStream.scala)
    assertOnlyIn("processAllAvailable", "graft/streaming/EventStream.scala", 1)
  }

  test("the ingest ledger is read only by its exactly-once shell") {
    // the definition and IngestLedger.ingestFeed's one call
    assertOnlyIn("appliedBatchIds", "graft/operators/IngestLedger.scala", 2)
  }

  test("sessions are built only by GraftSession") {
    assertOnlyIn("""SparkSession\.builder""", "graft/GraftSession.scala", 1)
  }

  test("listeners are attached only by JobMeter, and nothing sleeps") {
    // JobMeter.apply's one attach; waits go through the bus flush
    assertOnlyIn("addSparkListener", "graft/JobMeter.scala", 1)
    val sleeps = hits("""Thread\.sleep""")
    assert(sleeps.isEmpty, "`Thread.sleep` in src/main:\n" + show(sleeps))
  }

  test("the library packages read no environment variables") {
    val libs = Seq("operators", "functions", "plans", "sources", "streaming",
      "queries").map(p => s"graft/$p/")
    val reads = hits("""sys\.env|System\.getenv""")
      .filter(h => libs.exists(h._1.startsWith))
    assert(reads.isEmpty, "environment read in a library package:\n" +
      show(reads))
  }

  test("the checkpoint file manager is swapped only by Replay") {
    // Replay.withCheckpoint's one override, around its own temp checkpoints
    val owner = "graft/streaming/EventStream.scala"
    assertOnlyIn("checkpointFileManagerClass", owner, 1)
    // object Replay spans its header line to the next top-level `}`
    val inFile = codeLines.filter(_._1 == owner)
    val start = inFile.find(_._3.startsWith("private[graft] object Replay "))
      .map(_._2).getOrElse(fail("object Replay not found in " + owner))
    val end = inFile.find(l => l._2 > start && l._3.startsWith("}"))
      .map(_._2).getOrElse(Int.MaxValue)
    val set = hits("checkpointFileManagerClass").head
    assert(set._2 > start && set._2 < end,
      "checkpointFileManagerClass set outside object Replay:\n" +
        show(Seq(set)))
  }

  test("the logistic GD kernel is the one tree-aggregated job") {
    // Curation.kernelPass: every setup and GD pass of the logistic family
    assertOnlyIn("""\.treeAggregate\(""", "graft/functions/Curation.scala", 1)
    // the per-step SQL gradient aggregate it replaced stays gone
    val scatter = hits("ScatterSumDec18|scatter_sum_dec18")
    assert(scatter.isEmpty, "the per-step scatter aggregate is back:\n" +
      show(scatter))
  }

  test("graft's local path writes go through LocalWrites") {
    // the one writer option that names the fork-free file system
    assertOnlyIn("""fs\.file\.impl""", "graft/io/LocalWrites.scala", 1)
    val writers = Map("graft/operators/Exporter.scala" -> 4,
      "graft/operators/IngestLedger.scala" -> 2,
      "graft/operators/Compaction.scala" -> 1,
      "graft/operators/PartitionLayout.scala" -> 1,
      "graft/operators/ZOrder.scala" -> 2, "graft/Verify.scala" -> 1,
      "graft/queries/RetrievalQueries.scala" -> 10,
      "graft/queries/ScaleQueries.scala" -> 3, "graft/ServeProbe.scala" -> 2)
    val direct = hits("""(?<!LocalWrites)\.write\b(?!\()""")
      .filter(h => writers.contains(h._1))
    assert(direct.isEmpty, "a `.write` without LocalWrites:\n" + show(direct))
    val helped = hits("""LocalWrites\.write\(""").groupBy(_._1)
      .map { case (f, hs) => f -> hs.length }
    writers.foreach { case (f, n) =>
      assert(helped.getOrElse(f, 0) == n, s"$f: ${helped.getOrElse(f, 0)} " +
        s"LocalWrites.write calls, expected $n")
    }
    // the index generation file, the one driver-side file write
    assertOnlyIn("""LocalWrites\.withFileSystem\(""",
      "graft/operators/Retrieval.scala", 1)
  }

  test("replay and index widths take no literal default") {
    val literals = hits("""def replayShuffle\([^)]*=""") ++
      hits("""partitions: (Int|Option\[Int\]) = (\d|Some)""")
    assert(literals.isEmpty, "a literal default width:\n" + show(literals))
  }
}
