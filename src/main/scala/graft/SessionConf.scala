package graft

import org.apache.spark.sql.SparkSession

/** The one place graft changes the caller's session conf. */
private[graft] object SessionConf {

  /** Run `body` with each `key -> value` override set on `spark`'s conf,
    * then put every key back as it was: its previous EXPLICIT value, or
    * unset when it had none (a default is never written back as an
    * explicit setting). Wrap a whole block of concurrent [[graft.operators.Par]]
    * lanes in one call, never a single lane, so no lane can observe a
    * half-restored conf. */
  def withConf[T](spark: SparkSession, overrides: (String, String)*)(body: => T): T = {
    val explicit = spark.conf.getAll
    overrides.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally overrides.foreach { case (k, _) =>
      explicit.get(k) match {
        case Some(v) => spark.conf.set(k, v)
        case None => spark.conf.unset(k)
      }
    }
  }

  /** The session's shuffle width, `spark.sql.shuffle.partitions`: the
    * width graft's own repartitions take unless a caller names one. */
  def shufflePartitions(spark: SparkSession): Int =
    spark.conf.get("spark.sql.shuffle.partitions").toInt
}
