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

  /** `pattern` occurs in code exactly `count` times, all in `owner`. */
  private def assertOnlyIn(pattern: String, owner: String, count: Int): Unit = {
    val re = pattern.r
    val hits = codeLines.filter { case (_, _, l) => re.findFirstIn(l).isDefined }
    def show(hs: Seq[(String, Int, String)]) =
      hs.map { case (f, n, l) => s"$f:$n: ${l.trim}" }.mkString("\n")
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
}
