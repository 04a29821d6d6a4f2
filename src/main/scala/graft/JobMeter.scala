package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** The one job listener of graft's mains and specs: what a block of code
  * cost Spark — its jobs, its per-stage task metrics and the query
  * executions its session completed. Made only by [[JobMeter.apply]],
  * which counts between two flushes of the listener bus, so no earlier
  * event leaks in and no late one is missed. */
private[graft] final class JobMeter private ()
    extends SparkListener with QueryExecutionListener {
  private var nJobs = 0
  // per job: the root SQL execution that started it, if any
  private val jobSql = mutable.ArrayBuffer[Option[String]]()
  private val stageAggs = mutable.LinkedHashMap[Int, JobMeter.Stage]()
  private val qes = mutable.ArrayBuffer[QueryExecution]()
  private var wall = 0.0

  /** Jobs started inside the block. */
  def jobs: Int = synchronized(nJobs)
  /** Jobs started outside any SQL execution (plain RDD actions). */
  def jobsOutsideSql: Int = synchronized(jobSql.count(_.isEmpty))
  /** Distinct root SQL executions that started at least one job. */
  def sqlExecutionsWithJobs: Int = synchronized(jobSql.flatten.distinct.size)
  /** Task metrics summed per stage, keyed by stage id. */
  def stages: Seq[(Int, JobMeter.Stage)] = synchronized(stageAggs.toSeq)
  /** Executions of the session that finished successfully inside the block. */
  def executions: Seq[QueryExecution] = synchronized(qes.toList)
  /** The block's own wall seconds (the closing flush excluded). */
  def wallS: Double = wall

  private def stage(id: Int): JobMeter.Stage =
    stageAggs.getOrElseUpdate(id, new JobMeter.Stage)

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    nJobs += 1
    jobSql += Option(j.properties).flatMap(p =>
      Option(p.getProperty("spark.sql.execution.root.id"))
        .orElse(Option(p.getProperty("spark.sql.execution.id"))))
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
    synchronized {
      val info = s.stageInfo
      val a = stage(info.stageId)
      a.name = info.name
      for (t0 <- info.submissionTime; t1 <- info.completionTime)
        a.wallMs = t1 - t0
    }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    val m = t.taskMetrics
    if (m != null) {
      val a = stage(t.stageId)
      a.tasks += 1
      a.runTimeMs += m.executorRunTime
      a.cpuTimeNs += m.executorCpuTime
      a.gcTimeMs += m.jvmGCTime
      a.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      a.inputB += m.inputMetrics.bytesRead
      a.outputB += m.outputMetrics.bytesWritten
      a.spillB += m.diskBytesSpilled
      a.deserMs += m.executorDeserializeTime
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized { qes += qe }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}

private[graft] object JobMeter {
  /** One stage's task metrics, summed over its finished tasks. */
  final class Stage {
    var name = ""
    var wallMs = 0L
    var tasks = 0
    var runTimeMs = 0L
    var cpuTimeNs = 0L
    var gcTimeMs = 0L
    var shuffleReadB = 0L
    var fetchWaitMs = 0L
    var shuffleWriteB = 0L
    var inputB = 0L
    var outputB = 0L
    var spillB = 0L
    var deserMs = 0L
  }

  /** Run `body` under a fresh meter: flush the bus, attach, run, flush
    * again, detach. Returns `body`'s result and the meter. */
  def apply[T](spark: SparkSession)(body: => T): (T, JobMeter) = {
    val sc = spark.sparkContext
    val meter = new JobMeter
    Bridge.flushListenerBus(sc)
    sc.addSparkListener(meter)
    spark.listenerManager.register(meter)
    try {
      val t0 = System.nanoTime()
      val r = body
      meter.wall = (System.nanoTime() - t0) / 1e9
      Bridge.flushListenerBus(sc)
      (r, meter)
    } finally {
      spark.listenerManager.unregister(meter)
      sc.removeSparkListener(meter)
    }
  }
}
