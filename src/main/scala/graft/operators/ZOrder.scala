package graft.operators

import graft.io.LocalWrites
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) layout for multi-column data skipping (100 TB
  * toolkit; beyond reference).
  *
  * Sorting a table by one column clusters that column's min/max file stats
  * but leaves every other filter column scattered — a filter on the second
  * column reads every file. Interleaving the bits of k rank-normalized
  * columns gives every one of them locality: a range filter on ANY z-column
  * touches ~n^((k-1)/k) of the files instead of all of them, which parquet
  * row-group/file statistics turn into real skipped IO.
  *
  * Everything is expressions (codegen'd): min/max bounds (ONE tiny agg,
  * broadcast) → 16-bit equal-width quantization → bit interleave → range
  * repartition + local sort on the z-value. No global window anywhere —
  * the layout job is a scan + broadcast + shuffle, the same cost as a
  * plain sorted write, at any scale. For heavily skewed columns swap the
  * equal-width quantizer for approx-quantile boundaries; interleave and
  * layout stages are unchanged.
  */
object ZOrder {

  private val Bits = 16

  /** Interleave the low `Bits` bits of the given int columns (column i owns
    * bit positions i, i+k, i+2k, …). */
  def interleave(cols: Seq[Column]): Column = {
    val k = cols.length
    val terms = for {
      (c, ci) <- cols.zipWithIndex
      b <- 0 until Bits
    } yield shiftleft(shiftright(c, b).bitwiseAND(1).cast("long"), b * k + ci)
    terms.reduce(_ + _)
  }

  /** Return `df` with a `__z` Morton value over `cols`, clustered: range
    * partitioned into `numFiles` buckets by `__z` and locally sorted. Write
    * the result with `.write.parquet` — each output file covers a compact
    * z-range, so min/max stats on every z-column are tight.
    *
    * Quantization is 16-bit equal-width over the observed min/max — the
    * bounds are one broadcast single-row aggregate, so the whole layout is
    * distributed (no global window / single-partition sort anywhere). */
  def zOrdered(df: DataFrame, cols: Seq[String], numFiles: Int): DataFrame = {
    require(cols.size >= 2, "z-ordering needs at least two columns")
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"__min_$c"), max(col(c)).as(s"__max_$c")))
    val bounds = broadcast(df.agg(aggs.head, aggs.tail: _*))
    val ranked = cols.foldLeft(df.crossJoin(bounds)) { (d, c) =>
      d.withColumn(s"__r_$c",
        (((col(c) - col(s"__min_$c")).cast("double") /
          greatest((col(s"__max_$c") - col(s"__min_$c")).cast("double"), lit(1.0))) *
          ((1 << Bits) - 1)).cast("int"))
    }
    ranked
      .withColumn("__z", interleave(cols.map(c => col(s"__r_$c"))))
      .drop(cols.flatMap(c => Seq(s"__r_$c", s"__min_$c", s"__max_$c")): _*)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
  }

  /** Z-order write: layout + parquet, dropping the helper column. */
  def writeZOrdered(df: DataFrame, cols: Seq[String], numFiles: Int,
      path: String): Unit = {
    // __z must survive until AFTER the exchange/sort; dropping it earlier
    // would let the optimizer collapse the layout
    LocalWrites.write(zOrdered(df, cols, numFiles)).mode("overwrite").parquet(path)
  }

  /** Equal-MASS variant for skewed columns: equal-width quantization
    * collapses a skewed column into a handful of rank values (most rows
    * share a z-prefix → most files overlap → nothing skips). Here each
    * column is ranked by approx-quantile boundaries (one driver-side sketch
    * per column — the documented build action), compiled into a BALANCED
    * `when()` tree: ⌈log₂ buckets⌉ codegen'd comparisons per row, no UDF,
    * no window. Ranks are scaled to the 16-bit curve. */
  def zOrderedQuantile(df: DataFrame, cols: Seq[String], numFiles: Int,
      buckets: Int = 256): DataFrame = {
    require(cols.size >= 2, "z-ordering needs at least two columns")
    require(buckets >= 2 && (buckets & (buckets - 1)) == 0,
      "buckets must be a power of two")
    val scale = (1 << Bits) / buckets
    val ranked = cols.foldLeft(df) { (d, c) =>
      val bounds = df.stat.approxQuantile(c,
        (1 until buckets).map(_.toDouble / buckets).toArray, 1.0 / (8 * buckets))
      d.withColumn(s"__r_$c", bucketOf(col(c).cast("double"), bounds, 0, buckets - 1) * scale)
    }
    ranked
      .withColumn("__z", interleave(cols.map(c => col(s"__r_$c"))))
      .drop(cols.map(c => s"__r_$c"): _*)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
  }

  def writeZOrderedQuantile(df: DataFrame, cols: Seq[String], numFiles: Int,
      path: String, buckets: Int = 256): Unit =
    LocalWrites.write(zOrderedQuantile(df, cols, numFiles, buckets))
      .mode("overwrite").parquet(path)

  /** Balanced binary search over sorted boundaries as a nested-when tree:
    * bucket index in [lo, hi]; `bounds(i)` is the upper boundary of bucket
    * i (bucket b holds values in (bounds(b-1), bounds(b)]). */
  private def bucketOf(c: Column, bounds: Array[Double], lo: Int, hi: Int): Column =
    if (lo >= hi) lit(lo)
    else {
      val mid = (lo + hi) / 2 // c <= bounds(mid) → left half
      when(c <= lit(bounds(mid)), bucketOf(c, bounds, lo, mid))
        .otherwise(bucketOf(c, bounds, mid + 1, hi))
    }
}
