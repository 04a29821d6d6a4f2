package graft

/** Benchmark main (driver contract): run every registry query at local[32]
  * against SPARK_GRAFT_SF_DIR, print ONE JSON line with per-query seconds.
  * Failed queries are reported in an `errors` map — never silently timed as
  * fast results (round-1 verdict fix). */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(defaultCpus = "32")
    GraftSession.warmUp(spark, sfDir)

    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // per-phase sub-timings for the lifecycle chains (r14 verdict #4):
    // the chain bodies record eager build/maintain blocks through
    // PhaseTimer; whatever the count() paid beyond those is the
    // lazily-executed SERVE — the latency-critical number a chain
    // total hides
    val phases = scala.collection.mutable.LinkedHashMap[
      String, Seq[(String, Double)]]()
    // Optional dev-only subset: regex over query names (the driver sets no
    // filter and always benches the full registry).
    val nameFilter = sys.env.get("SPARK_GRAFT_BENCH_FILTER").map(_.r)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) =>
        nameFilter.forall(_.findFirstIn(name).isDefined) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        timings(name) = dt
        val ph = queries.PhaseTimer.drain(name)
        if (ph.nonEmpty) {
          // fold the residual (the lazily-counted serve) into `serve`
          val residual = math.max(0.0, dt - ph.map(_._2).sum)
          val m = scala.collection.mutable.LinkedHashMap(ph: _*)
          m("serve") = m.getOrElse("serve", 0.0) + residual
          phases(name) = m.toSeq
        }
      } catch {
        case e: Throwable =>
          queries.PhaseTimer.drain(name) // never leak into the next query
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
            .replaceAll("[\"\\\\\n\r\t]", " ").take(200)
      }
      // Isolation between queries: several operators persist() frames with
      // caller-managed lifetime (Stats/Graph/Similarity document this).
      // Without cleanup the cached blocks of ~270 queries accumulate in one
      // JVM and the memory pressure inflates every LATER query's time —
      // at sf1 this showed as fake 10-50× "scaling" on alphabetically late
      // queries. clearCache drops catalog-tracked cache entries; the
      // periodic GC lets ContextCleaner reap localCheckpoint RDD blocks
      // whose frames have gone unreachable.
      spark.catalog.clearCache()
      if (timings.size % 25 == 0) System.gc()
    }
    def jd(d: Double): String = f"$d%.3f"
    val qs = timings.map { case (k, v) => s""""$k":${jd(v)}""" }.mkString("{", ",", "}")
    val es = errors.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
    val ps = phases.map { case (k, m) =>
      s""""$k":${m.map { case (p, v) => s""""$p":${jd(v)}""" }
        .mkString("{", ",", "}")}"""
    }.mkString("{", ",", "}")
    val total = timings.values.sum
    // isolation field: measurement-protocol marker so cross-round bench
    // diffs carry their own caveat (r6 numbers predate per-query cache
    // clearing and are flattered for persist-heavy queries — see r7 verdict)
    // boot fingerprint: host + kernel boot time. Two bench maps are only
    // ratio-comparable when they ran on the same boot — a slower host
    // boot once showed as a uniform fake 1.25x on identical code (r12);
    // scaling.py refuses to pair maps whose boot ids differ.
    val boot = try {
      val btime = scala.io.Source.fromFile("/proc/stat").getLines()
        .find(_.startsWith("btime "))
        .map(_.stripPrefix("btime ").trim).getOrElse("nobtime")
      s"${java.net.InetAddress.getLocalHost.getHostName}-$btime"
    } catch { case _: Throwable => "unknown" }
    val line = s"""{"metric":"total","value":${jd(total)},"unit":"sec","isolation":"clearCache-per-query","boot":"$boot","queries":$qs,"phases":$ps,"errors":$es,"n_queries":${timings.size},"n_errors":${errors.size},"sf":"$sfDir"}"""
    println(line)
    // Also persist the FULL per-query map: the driver's bench artifact
    // keeps only a tail of stdout, which truncates ~75% of the registry;
    // round-over-round diffs need every query (r8 verdict #5). Commit the
    // copy under docs/ after each round's run.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "target/bench_full.json")
    val p = java.nio.file.Paths.get(out)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p,
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
