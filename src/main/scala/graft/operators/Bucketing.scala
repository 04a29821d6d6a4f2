package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed co-located joins (100 TB toolkit; beyond reference).
  *
  * A fact table joined repeatedly on the same key should be written
  * bucketed: both sides hash-partitioned into the same bucket count at
  * WRITE time means the join needs NO exchange at read time — the single
  * biggest shuffle eliminator for repeated star-schema joins. Spark only
  * honors bucketing through the catalog (`saveAsTable`), not raw paths.
  */
object Bucketing {

  /** Write `df` as a bucketed (+ optionally sorted) catalog table.
    * Idempotent across sessions: drops any existing table AND clears a
    * leftover warehouse directory (a fresh in-memory catalog doesn't know
    * about directories a previous session's saveAsTable left behind). */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
      keys: Seq[String], sortCols: Seq[String] = Nil): Unit = {
    require(keys.nonEmpty, "bucketing needs at least one key")
    Warehouse.dropTableWithDir(df.sparkSession, table)
    val w = df.write.mode("overwrite")
      .bucketBy(buckets, keys.head, keys.tail: _*)
    val sorted = if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w
    sorted.format("parquet").saveAsTable(table)
  }

  /** Join two same-bucketed tables on their bucket keys — plans as a
    * SortMergeJoin with ZERO Exchange when bucket layouts line up. */
  def bucketedJoin(spark: SparkSession, leftTable: String, rightTable: String,
      keys: Seq[String], how: String = "inner"): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), keys, how)
}
