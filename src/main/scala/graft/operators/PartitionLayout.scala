package graft.operators

import graft.io.LocalWrites
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hive-style partitioned layout (100 TB toolkit; beyond reference).
  *
  * Partition columns become directory keys (`.../p_key=v/...`): a filter on
  * them prunes whole directories BEFORE any file listing/footer IO — the
  * coarsest and cheapest skipping Spark has, and the standard layout for
  * time-series fact tables (partition by day, z-order or sort within).
  *
  * The sharp edge at scale is small files: naive `partitionBy` writes
  * one file per (task × partition value). `writePartitioned` repartitions
  * by the partition columns first so each partition value is written by
  * ONE task — files ≈ partition values, not tasks × values. For skewed
  * partition values add a salt column to the repartition (not the layout).
  */
object PartitionLayout {

  /** Repartition on the partition keys, then write hive-layout parquet. */
  def writePartitioned(df: DataFrame, partCols: Seq[String], path: String,
      sortCols: Seq[String] = Nil): Unit = {
    require(partCols.nonEmpty, "need at least one partition column")
    val clustered = df.repartition(partCols.map(col): _*)
    val sorted =
      if (sortCols.isEmpty) clustered
      else clustered.sortWithinPartitions((partCols ++ sortCols).map(col): _*)
    LocalWrites.write(sorted).mode("overwrite").partitionBy(partCols: _*).parquet(path)
  }

  /** Read back with the partition schema inferred from the directories. */
  def readPartitioned(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
}
