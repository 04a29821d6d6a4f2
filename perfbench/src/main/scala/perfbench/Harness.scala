package perfbench

import graft.model.TemplateCodec
import graft.plans.Pipeline
import graft.queries.Registry
import org.apache.spark.sql.SparkSession

import com.sun.management.GarbageCollectionNotificationInfo
import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Benchmark harness: one closed-loop client on `local[cores]`.
  *
  * Runs whole passes over a workload's items until `--seconds` have been
  * spent measuring (at least three passes), then writes `result.json` (set-up
  * times and one record per item) and, with `--trace 1`, `trace.jsonl`
  * (spans, Spark jobs, query executions, streaming batches) into `--work`.
  * Metrics and output checks are computed from those files by `run.py`.
  *
  *   --workload template_batch|curation_batch
  *   --seed N --seconds S --trace 0|1 --cores C
  *   --data DIR    parquet tables (curation_batch)
  *   --sheets DIR  generated CSV sheets + templates (template_batch)
  *   --work DIR    fresh per-run directory for every file the run writes
  *   --dump DIR    instead of measuring, write each registry item's result
  *                 as parquet plus oracle_sql.json (for tools/check.py)
  */
object Harness {

  /** Registry items per workload (README.md says why each was chosen). */
  val registry: Map[String, Seq[String]] = Map(
    "curation_batch" -> Seq("x2_minhash_lsh_neardups", "x176_classifier_train",
      "x15_stream_sessionize"),
  )
  val workloads: Seq[String] = "template_batch" +: registry.keys.toSeq.sorted

  def main(args: Array[String]): Unit = {
    val jvmS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    require(workloads.contains(workload), s"unknown workload $workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.get("trace").contains("1")
    val cores = a("cores")
    val data = a("data")
    val work = Paths.get(a("work")).toAbsolutePath
    Files.createDirectories(work)

    val t0 = System.nanoTime()
    // the session conf of graft.Bench; the two directories only keep every
    // file the run writes inside its work directory
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    a.get("dump") match {
      case Some(dir) => dump(spark, workload, data, Paths.get(dir))
      case None =>
        val tr = new Trace(spark)
        if (traced) tr.start()
        val run = new Run(spark, tr, workload, seed, data,
          a.get("sheets").map(Paths.get(_)), work)
        val records = run.measure(seconds)
        if (traced) tr.write(work.resolve("trace.jsonl"))
        val json = Json.obj(
          "workload" -> workload, "seed" -> seed, "cores" -> cores.toInt,
          "traced" -> traced,
          "setup" -> Json.obj("jvm_s" -> jvmS, "session_s" -> sessionS,
            "warm_pass_s" -> run.warmS),
          "items" -> records)
        Files.write(work.resolve("result.json"), json.text.getBytes("UTF-8"))
    }
    spark.stop()
  }

  /** Write each registry item's result the way graft.Verify does, its
    * oracle SQL, and the fingerprint of the written result, so that
    * `tools/check.py <data> <dir>` ties expected.json to the DuckDB oracle. */
  private def dump(spark: SparkSession, workload: String, data: String,
      dir: Path): Unit = {
    val names = registry(workload)
    val fps = names.map { n =>
      val out = dir.resolve(n).toString
      Registry.byName(n).run(spark, data).coalesce(1).write.mode("overwrite")
        .parquet(out)
      spark.catalog.clearCache()
      n -> Fingerprint.of(spark.read.parquet(out)).hex
    }
    val oracles = names.flatMap(n => Registry.byName(n).oracle.map(n -> _))
    Files.write(dir.resolve("oracle_sql.json"),
      Json.obj(oracles: _*).text.getBytes("UTF-8"))
    Files.write(dir.resolve("fingerprints.json"),
      Json.obj(fps: _*).text.getBytes("UTF-8"))
  }
}

/** One measuring run of a workload. */
final class Run(spark: SparkSession, tr: Trace, workload: String, seed: Long,
    data: String, sheets: Option[Path], work: Path) {

  private val records = scala.collection.mutable.ArrayBuffer[Json.RawJson]()
  private val heap = ManagementFactory.getMemoryMXBean

  /** Largest heap in use just after a GC since the last reset, from the
    * JVM's GC notifications (heap pools only). */
  @volatile private var postGcMaxB = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val gcListener = new NotificationListener {
    override def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[CompositeData]).getGcInfo
        val used = info.getMemoryUsageAfterGc.asScala
          .collect { case (p, u) if heapPools(p) => u.getUsed }.sum
        synchronized { postGcMaxB = math.max(postGcMaxB, used) }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(gcListener, null, null)
    case _ =>
  }

  var warmS = 0.0

  /** One untimed warm-up pass (JIT, codegen, parquet footers, state-store
    * classes: after graft.Bench's single warm-up query the first pass still
    * runs 2-4x slower than later ones), then whole passes until `seconds`
    * are spent, and at least three: a fixed pass count keeps the medians'
    * make-up the same when a slow machine fits fewer passes in the time. */
  def measure(seconds: Double): Seq[Json.RawJson] = {
    val w0 = System.nanoTime()
    runPass(-1)
    warmS = (System.nanoTime() - w0) / 1e9
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var pass = 0
    tr.span("workload", "name" -> workload) {
      while (pass < 3 || System.nanoTime() < deadline) {
        runPass(pass)
        pass += 1
      }
    }
    records.toSeq
  }

  /** Item order of a pass: a seeded permutation, different every pass.
    * The warm-up pass keeps the listed order: the JIT specialises code for
    * whatever runs first, and a seed-dependent warm-up order made whole runs
    * up to 30% slower or faster. */
  private def order[T](items: Seq[T], pass: Int): Seq[T] =
    if (pass < 0) items
    else new scala.util.Random(
      scala.util.hashing.MurmurHash3.productHash((seed, pass))).shuffle(items)

  private def runPass(pass: Int): Unit = {
    val label = if (pass < 0) "warm" else s"pass$pass"
    val dir = work.resolve(label)
    // fresh warehouse, inputs, outputs, archive and quarantine per pass
    val db = s"perfbench_$label"
    val files = sheets match {
      case Some(src) =>
        val in = Files.createDirectories(dir.resolve("in"))
        val names = Files.list(src).iterator().asScala
          .map(_.getFileName.toString).toSeq.sorted
        names.foreach(n => Files.copy(src.resolve(n), in.resolve(n)))
        names.filter(_.endsWith(".csv"))
      case None =>
        spark.sql(s"CREATE DATABASE $db LOCATION '${dir.resolve("warehouse").toUri}'")
        spark.sql(s"USE $db")
        Nil
    }

    tr.span("pass", "pass" -> pass) {
      if (sheets.isDefined)
        order(files, pass).foreach(f => item(pass, dir, f)(templateFile(dir, f)))
      else order(Harness.registry(workload), pass).foreach(n =>
        item(pass, dir, n)(registryItem(n)))
    }
    if (sheets.isEmpty) {
      spark.sql("USE default")
      spark.sql(s"DROP DATABASE $db CASCADE")
    }
  }

  /** Run one item, then record it with the cache and heap state it left. */
  private def item(pass: Int, dir: Path, name: String)(
      body: => Seq[(String, Any)]): Unit = {
    tr.item = records.size
    gcListener.synchronized { postGcMaxB = 0L }
    val t0 = tr.now()
    val res: Seq[(String, Any)] =
      try tr.span("item", "name" -> name)(body)
      catch {
        case e: Throwable => Seq("error" -> Option(e.getMessage)
          .getOrElse(e.getClass.getName).take(300))
      }
    val t1 = tr.now()
    org.apache.spark.perfbench.Bus.flush(spark.sparkContext)
    val sc = spark.sparkContext
    val cachedRdds = sc.getPersistentRDDs.size
    val cachedMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
    // the live heap the item left, cached data included, against the
    // largest post-GC heap seen while it ran
    System.gc()
    val heapMb = math.max(heap.getHeapMemoryUsage.getUsed,
      gcListener.synchronized(postGcMaxB)) / 1048576.0
    // graft.Bench's per-query isolation; the GC keeps the freed cache out
    // of the next item's figures
    spark.catalog.clearCache()
    System.gc()
    records += Json.obj((Seq("pass" -> pass, "dir" -> dir.toString,
      "item" -> name, "start" -> t0,
      "end" -> t1, "seconds" -> (t1 - t0), "cached_rdds_left" -> cachedRdds,
      "cached_mb" -> cachedMb, "heap_mb" -> heapMb) ++ res): _*)
  }

  private def registryItem(name: String): Seq[(String, Any)] = {
    val t0 = System.nanoTime()
    val df = tr.span("queries.construct")(Registry.byName(name).run(spark, data))
    val t1 = System.nanoTime()
    val fp = Fingerprint.frame(df)
    tr.span("queries.plan")(fp.queryExecution.executedPlan)
    val t2 = System.nanoTime()
    // collect() runs the plan forced above; the hash reads every column
    val r = tr.span("queries.action")(fp.collect().head)
    val t3 = System.nanoTime()
    Seq("construct_s" -> (t1 - t0) / 1e9, "plan_s" -> (t2 - t1) / 1e9,
      "action_s" -> (t3 - t2) / 1e9, "rows" -> r.getLong(0),
      "fp" -> Fingerprint.Fp(r.getLong(0), r.getLong(1), r.getLong(2)).hex)
  }

  /** The CLI `run` path for one sheet (graft.Main.runBatch). */
  private def templateFile(dir: Path, file: String): Seq[(String, Any)] = {
    val f = dir.resolve("in").resolve(file)
    val t0 = System.nanoTime()
    val t = tr.span("model.load")(TemplateCodec.load(TemplateCodec.locate(f).get))
    val t1 = System.nanoTime()
    val stem = file.stripSuffix(".csv")
    val out = dir.resolve("out").resolve(s"${stem}_clean.parquet")
    val r = tr.span("plans.runPipeline")(Pipeline.runPipeline(spark, f, t, out,
      dir.resolve("archive"), dir.resolve("quarantine")))
    val t2 = System.nanoTime()
    Seq("load_s" -> (t1 - t0) / 1e9, "pipeline_s" -> (t2 - t1) / 1e9,
      "success" -> r.success, "rows" -> r.rowCount,
      "output" -> r.outputPath.orNull)
  }
}
