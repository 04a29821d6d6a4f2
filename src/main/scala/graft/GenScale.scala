package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-up generator: replicate an sf directory k× with consistent key
  * shifts, producing a larger benchmark point (e.g. sf0.1 → ~sf1) without
  * touching the read-only driver testdata.
  *
  * Every copy i shifts each FACT key column by `i * span(key)` where span is
  * a power of ten above the global max, so joins resolve strictly within a
  * copy and all join cardinalities scale linearly. Dimension tables
  * (region/nation) and foreign keys into them are left untouched. Documents
  * keep their text verbatim — a 10× corpus of exact duplicates is exactly
  * the shape a real crawl has and what the dedup pre-pass exists for.
  *
  * Usage: runMain graft.GenScale <srcDir> <dstDir> [k=10]
  */
object GenScale {

  // fact-table key columns to shift per copy (names must stay consistent
  // across tables so joins keep working: orderkey shifts identically in
  // orders and lineitem, custkey in customer and orders, ...)
  private val shiftCols: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"),
    "region" -> Nil,
    "nation" -> Nil,
  )

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val k = if (args.length > 2) args(2).toInt else 10
    val spark = GraftSession.local(defaultCpus = "32")

    shiftCols.foreach { case (table, keys) =>
      val df = spark.read.parquet(s"$src/$table.parquet")
      val out = if (keys.isEmpty || k == 1) df else replicate(df, keys, k)
      out.write.mode("overwrite").parquet(s"$dst/$table.parquet")
      println(s"$table: ${df.count()} -> ${out.count()} rows")
    }
    spark.stop()
  }

  private def replicate(df: DataFrame, keys: Seq[String], k: Int): DataFrame = {
    val spans = keys.map { c =>
      val mx = df.agg(max(col(c))).head().getLong(0)
      c -> math.pow(10, math.ceil(math.log10(mx.toDouble + 2))).toLong
    }.toMap
    val copied = df.withColumn("__copy",
      explode(sequence(lit(0), lit(k - 1))))
    keys.foldLeft(copied) { (d, c) =>
      d.withColumn(c, col(c) + col("__copy").cast("long") * spans(c))
    }.drop("__copy")
  }
}
