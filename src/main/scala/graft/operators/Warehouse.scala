package graft.operators

import org.apache.spark.sql.DataFrame

/** Shared warehouse-table plumbing: dropping a managed table together
  * with its directory (index lifecycles, Dedup, Bucketing), and, for the
  * index-lifecycle operators (postings + IVF), small-companion
  * replacement via STAGING WRITE + catalog rename.
  *
  * Why staging (r15): the drop-then-overwrite shape either loses the old
  * incarnation while the replacement plan still reads it (FILE_NOT_EXIST)
  * or forces callers to pin the replacement with an eager
  * `localCheckpoint` first — one whole Spark job per companion per ingest
  * micro-batch, measured pure overhead. Writing to `<name>__stg` keeps
  * the old table readable until the data is durable, then a catalog
  * rename (the in-memory catalog moves the managed directory) swaps it
  * in. The post-swap refreshTable evicts any cached relation/file
  * listing of the previous incarnation (the x241 relation-cache lesson). */
private[operators] object Warehouse {

  /** Drop a table AND its leftover warehouse directory — a fresh
    * in-memory catalog does not know the directories a previous
    * session's saveAsTable left behind, and would refuse the next write
    * with LOCATION_ALREADY_EXISTS. Skips the DROP statement when the
    * catalog has no such table: the hygiene drops of the index builds
    * hit several usually-absent companions, and a parsed no-op DDL per
    * absent table is measurable ingest overhead. */
  def dropTableWithDir(spark: org.apache.spark.sql.SparkSession,
      name: String): Unit = {
    if (spark.catalog.tableExists(name)) spark.sql(s"DROP TABLE `$name`")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val loc = new org.apache.hadoop.fs.Path(wh, name.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  /** The staging swap: `write` the replacement as `<name>__stg`, then
    * drop `name` and rename the staging table over it. */
  private def swapIn(df: DataFrame, name: String)(
      write: String => Unit): Unit = {
    val spark = df.sparkSession
    val stg = s"${name}__stg"
    dropTableWithDir(spark, stg)
    write(stg)
    dropTableWithDir(spark, name)
    spark.sql(s"ALTER TABLE `$stg` RENAME TO `$name`")
    spark.catalog.refreshTable(name)
  }

  /** Bucketed twin of [[replaceSmallTable]]: staging write with the
    * given bucket spec, then the same drop + rename swap (the catalog
    * entry carries the bucket spec through the rename). Callers whose
    * replacement frame READS the table being replaced need no eager
    * pin. */
  def replaceBucketedTable(df: DataFrame, name: String, buckets: Int,
      keys: Seq[String], sortCols: Seq[String] = Nil): Unit =
    swapIn(df, name) { stg =>
      val w = df.write.mode("overwrite")
        .bucketBy(buckets, keys.head, keys.tail: _*)
      val sorted =
        if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*)
        else w
      sorted.format("parquet").saveAsTable(stg)
    }

  def replaceSmallTable(df: DataFrame, name: String): Unit =
    swapIn(df, name)(stg =>
      df.write.mode("overwrite").format("parquet").saveAsTable(stg))
}
