package graft

import org.apache.spark.sql.SparkSession

/** The one session factory of graft's mains (Bench, Verify, Profile,
  * ServeProbe, GenScale, Main, PlanDump). Every session gets Bench's
  * fixed conf; callers choose only the master and the shuffle width. */
private[graft] object GraftSession {

  /** `getOrCreate` with the fixed conf: no UI, parquet nanosecond
    * timestamps read as longs, UTC session time zone, WARN logging. A live
    * session is reused (its runtime SQL conf is updated). */
  def apply(master: String, shufflePartitions: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `local[cpus]` with `cpus` shuffle partitions, `cpus` taken from
    * `SPARK_GRAFT_CPUS` or else `defaultCpus`. */
  def local(defaultCpus: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    apply(s"local[$cpus]", cpus)
  }

  /** JIT/codegen + parquet-footer warm-up, so the first measured query is
    * not charged for JVM start-up. */
  def warmUp(spark: SparkSession, sfDir: String): Unit =
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().collect()
}
