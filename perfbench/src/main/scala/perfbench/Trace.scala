package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** In-memory trace of one run, written out at the end.
  *
  * Spans come from the harness's own wrappers around the public calls it
  * makes (workload → pass → item → call). Spark jobs, query executions and
  * streaming batches come from listeners the harness registers; nothing in
  * the engine is changed. Every record carries the item that was running
  * when it arrived: the harness drains the listener bus at each item
  * boundary, so an event always lands on the item that caused it.
  *
  * Times are epoch seconds (Spark stamps its events in epoch milliseconds).
  */
final class Trace(spark: SparkSession) {
  private val origin = (System.currentTimeMillis() / 1e3, System.nanoTime())
  def now(): Double = origin._1 + (System.nanoTime() - origin._2) / 1e9

  private val out = mutable.ArrayBuffer[String]()
  private def emit(r: Json.RawJson): Unit = out.synchronized { out += r.text }
  @volatile var item: Int = -1

  // ---------------------------------------------------------------- spans

  private var nextId = 0
  private val stack = mutable.Stack[Int]()

  /** Time `body` as a span named `name`, nested under the open span. */
  def span[T](name: String, attrs: (String, Any)*)(body: => T): T = {
    val id = { nextId += 1; nextId }
    val parent = stack.headOption.getOrElse(0)
    stack.push(id)
    val t0 = now()
    try body
    finally {
      stack.pop()
      emit(Json.obj("kind" -> "span", "id" -> id, "parent" -> parent,
        "name" -> name, "start" -> t0, "end" -> now(), "item" -> item,
        "attrs" -> Json.obj(attrs: _*)))
    }
  }

  // ------------------------------------------------------- job attribution

  /** First `graft.` frame of a call-site stack, as `layer.File`; frames of
    * the top-level package (`graft.Main`, ...) are the `cli` layer. */
  private val Frame = """(?m)^\s*(?:at\s+)?graft\.([\w$.<>]+)\((\w+)\.scala:\d+\)""".r
  def site(stack: String): Option[String] =
    Frame.findFirstMatchIn(Option(stack).getOrElse("")).map { m =>
      val path = m.group(1).split('.') // package(s), class, method
      s"${if (path.length > 2) path(0) else "cli"}.${m.group(2)}"
    }

  private val execSite = mutable.Map[Long, String]()
  private val streamSite = mutable.Map[String, String]()
  private val jobStages = mutable.Map[Int, Seq[Int]]()
  private val stageJob = mutable.Map[Int, Int]()
  private final class JobAcc(val id: Int, val start: Double, val site: String,
      val item: Int) {
    var stages = 0; var tasks = 0
    var runS = 0.0; var cpuS = 0.0; var gcS = 0.0; var fetchS = 0.0
    var shR = 0L; var shW = 0L; var spill = 0L; var inB = 0L; var outB = 0L
  }
  private val jobs = mutable.Map[Int, JobAcc]()

  private val sparkListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        site(s.details).foreach(x => execSite.synchronized(execSite(s.executionId) = x))
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val details = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).orNull
      // a job launched from a pool thread (broadcast or subquery future)
      // has no graft frame; it belongs to the SQL execution that spawned
      // it, and a micro-batch job to the code that started its stream
      val s = site(details)
        .orElse(prop("spark.sql.execution.id").flatMap(x =>
          execSite.synchronized(execSite.get(x.toLong))))
        .orElse(prop("sql.streaming.queryId").flatMap(x =>
          streamSite.synchronized(streamSite.get(x))))
        .getOrElse("none")
      synchronized {
        jobStages(e.jobId) = e.stageIds
        e.stageIds.foreach(stageJob(_) = e.jobId)
        jobs(e.jobId) = new JobAcc(e.jobId, e.time / 1e3, s, item)
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach { j =>
          if (e.stageInfo.completionTime.isDefined &&
              e.stageInfo.numTasks > 0) j.stages += 1
        }
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid) if m != null) {
        j.tasks += 1
        j.runS += m.executorRunTime / 1e3
        j.cpuS += m.executorCpuTime / 1e9
        j.gcS += m.jvmGCTime / 1e3
        j.fetchS += m.shuffleReadMetrics.fetchWaitTime / 1e3
        j.shR += m.shuffleReadMetrics.totalBytesRead
        j.shW += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.inB += m.inputMetrics.bytesRead
        j.outB += m.outputMetrics.bytesWritten
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = synchronized {
        jobStages.remove(e.jobId).foreach(_.foreach(stageJob.remove))
        jobs.remove(e.jobId)
      }
      j.foreach { j =>
        emit(Json.obj("kind" -> "job", "id" -> j.id, "start" -> j.start,
          "end" -> e.time / 1e3, "item" -> j.item, "site" -> j.site,
          "stages" -> j.stages, "tasks" -> j.tasks, "task_run_s" -> j.runS,
          "task_cpu_s" -> j.cpuS, "gc_s" -> j.gcS, "fetch_wait_s" -> j.fetchS,
          "shuffle_read_b" -> j.shR, "shuffle_write_b" -> j.shW,
          "spill_b" -> j.spill, "input_b" -> j.inB, "output_b" -> j.outB))
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val ms = qe.tracker.phases.values.map(_.durationMs).sum
      emit(Json.obj("kind" -> "qe", "item" -> item, "plan_ms" -> ms))
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    // called synchronously on the thread that starts the stream, so the
    // stack still shows which graft code started it
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      site(Thread.currentThread.getStackTrace.mkString("\n")).foreach(s =>
        streamSite.synchronized(streamSite(e.id.toString) = s))

    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      emit(Json.obj("kind" -> "batch", "item" -> item,
        "rows" -> p.numInputRows, "trigger_ms" -> ms("triggerExecution"),
        "plan_ms" -> ms("queryPlanning"),
        "commit_ms" -> (ms("walCommit") + ms("commitOffsets")),
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
        "state_b" -> p.stateOperators.map(_.memoryUsedBytes).sum))
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Write every record (JSON lines). */
  def write(path: java.nio.file.Path): Unit = out.synchronized {
    java.nio.file.Files.write(path,
      out.mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

/** Minimal JSON rendering for the harness's flat records. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*).text
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case raw: RawJson => raw.text
    case other => str(other.toString)
  }

  final case class RawJson(text: String)
  def obj(kv: (String, Any)*): RawJson =
    RawJson(kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}"))
}
