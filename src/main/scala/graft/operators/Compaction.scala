package graft.operators

import graft.io.LocalWrites
import org.apache.spark.sql.SparkSession

/** Small-file compaction (100 TB toolkit; beyond reference).
  *
  * Streaming sinks and over-parallel writes leave thousands of KB-sized
  * parquet files; every downstream scan then pays per-file open/footer
  * costs and the driver pays listing. Compaction rewrites a directory into
  * `ceil(bytes / targetFileBytes)` files via a round-robin repartition —
  * content-identical (the correctness gate), file count bounded by data
  * volume, not writer parallelism.
  *
  * The rewrite goes through a temp directory and an atomic-ish swap so a
  * crash never leaves the table half-compacted in place.
  */
object Compaction {

  /** Returns (filesBefore, filesAfter). */
  def compact(spark: SparkSession, path: String,
      targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(p: org.apache.hadoop.fs.Path) =
      fs.listStatus(p).filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    val before = dataFiles(hPath)
    val totalBytes = before.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)

    val tmp = new org.apache.hadoop.fs.Path(path + "__compacting")
    LocalWrites.write(spark.read.parquet(path).repartition(nOut))
      .mode("overwrite").parquet(tmp.toString)
    val backup = new org.apache.hadoop.fs.Path(path + "__precompact")
    if (fs.exists(backup)) fs.delete(backup, true)
    fs.rename(hPath, backup)
    fs.rename(tmp, hPath)
    fs.delete(backup, true)
    (before.length, dataFiles(hPath).length)
  }
}
