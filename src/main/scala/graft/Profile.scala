package graft

/** Dev-only empirical profiler (optimization guide §1/§7): run registry
  * queries under the bench session shape (local[32], shuffle.partitions=32)
  * with [[JobMeter]], which aggregates per-stage task metrics, then print the
  * top stages by executor time with shuffle read/write bytes and fetch
  * wait. This is the "which stage is the time going to" loop from the
  * guide, minus the UI (headless sandbox).
  *
  * {{{
  *   tools/runmain.sh graft.Profile <sfDir> x55_pagerank x154_personalized_pagerank
  * }}}
  */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Profile <sfDir> <query>...")
    val sfDir = args(0)
    val names = args.drop(1)
    val spark = GraftSession.local(defaultCpus = "32")
    GraftSession.warmUp(spark, sfDir)

    def mb(b: Long): String = f"${b / 1048576.0}%.1f"
    names.foreach { n =>
      val (_, m) = JobMeter(spark) {
        queries.Registry.byName(n).run(spark, sfDir).count() }
      queries.PhaseTimer.drain(n)
      val snap = m.stages
      val totRun = snap.map(_._2.runTimeMs).sum
      val totWall = snap.map(_._2.wallMs).sum
      println(f"==== $n: wall=${m.wallS}%.2fs jobs=${m.jobs} stages=${snap.size} " +
        f"taskTime=${totRun / 1000.0}%.1fs stageWallSum=${totWall / 1000.0}%.1fs ====")
      snap.sortBy(-_._2.wallMs).take(25).foreach { case (id, a) =>
        println(f"  st$id%-5d wall=${a.wallMs / 1000.0}%6.2fs run=${a.runTimeMs / 1000.0}%7.2fs " +
          f"cpu=${a.cpuTimeNs / 1e9}%7.2fs gc=${a.gcTimeMs / 1000.0}%5.2fs tasks=${a.tasks}%-4d " +
          f"in=${mb(a.inputB)}%8sM sr=${mb(a.shuffleReadB)}%8sM fw=${a.fetchWaitMs / 1000.0}%5.2fs " +
          f"sw=${mb(a.shuffleWriteB)}%8sM out=${mb(a.outputB)}%7sM spill=${mb(a.spillB)}%6sM " +
          f"deser=${a.deserMs / 1000.0}%5.2fs | ${a.name.take(70)}")
      }
      spark.catalog.clearCache()
      System.gc()
    }
    spark.stop()
  }
}
