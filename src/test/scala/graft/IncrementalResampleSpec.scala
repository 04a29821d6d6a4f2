package graft

import graft.functions.Sketches
import graft.operators.{Incremental, Resample}
import org.apache.spark.sql.functions._

class IncrementalResampleSpec extends SparkSpec {
  import spark.implicits._

  test("merged incremental states equal the direct aggregate") {
    val all = (1 to 300).map(i => (s"k${i % 3}", i.toDouble / 7)).toDF("k", "v")
    val parts = Seq(all.filter($"v" < 10), all.filter($"v" >= 10 && $"v" < 30),
      all.filter($"v" >= 30))
    val merged = Incremental.mergeStates(
        parts.map(p => Incremental.aggState(p, Seq("k"), Seq("v"))), Seq("k"))
      .orderBy("k").collect()
    val direct = Incremental.aggState(all, Seq("k"), Seq("v"))
      .orderBy("k").collect()
    assert(merged.map(_.toSeq).toSeq == direct.map(_.toSeq).toSeq)
  }

  test("state merge is order-independent (decimal sums)") {
    val a = Incremental.aggState(Seq(("k", 0.1), ("k", 0.2)).toDF("k", "v"), Seq("k"), Seq("v"))
    val b = Incremental.aggState(Seq(("k", 0.3)).toDF("k", "v"), Seq("k"), Seq("v"))
    val ab = Incremental.mergeStates(Seq(a, b), Seq("k")).collect().head.toSeq
    val ba = Incremental.mergeStates(Seq(b, a), Seq("k")).collect().head.toSeq
    assert(ab == ba)
  }

  test("dailyResample fills gaps with 0 and carries totals forward") {
    val df = Seq(
      ("a", "2024-01-01 10:00:00", 5.0),
      ("a", "2024-01-01 11:00:00", 3.0),
      // Jan 2 missing entirely
      ("a", "2024-01-03 09:00:00", 7.0))
      .toDF("g", "ts", "v").withColumn("ts", to_timestamp(col("ts")))
    val out = Resample.dailyResample(df, "g", "ts", "v").orderBy("day").collect()
    assert(out.length == 3) // full span, gap day materialized
    val gap = out(1)
    assert(gap.getAs[Long]("n_events") == 0L)
    assert(gap.isNullAt(gap.fieldIndex("total_value")))
    assert(gap.getAs[Double]("carried_total") == 8.0) // Jan 1 total carried
    assert(out(2).getAs[Double]("carried_total") == 7.0)
  }

  test("dailyResample spines are per group, not global") {
    val df = Seq(
      ("a", "2024-01-01 00:00:00", 1.0), ("a", "2024-01-05 00:00:00", 1.0),
      ("b", "2024-02-10 00:00:00", 1.0))
      .toDF("g", "ts", "v").withColumn("ts", to_timestamp(col("ts")))
    val out = Resample.dailyResample(df, "g", "ts", "v")
      .groupBy("g").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("a" -> 5L, "b" -> 1L)) // b never inherits a's span
  }

  test("movingAverage averages only the trailing window rows") {
    val daily = Seq(
      ("g", 1, java.math.BigDecimal.valueOf(10)),
      ("g", 2, java.math.BigDecimal.valueOf(20)),
      ("g", 3, java.math.BigDecimal.valueOf(60)))
      .toDF("g", "d", "v").withColumn("v", col("v").cast("decimal(18,6)"))
    val out = Resample.movingAverage(daily, "g", "d", "v", days = 2)
      .orderBy("d").collect().map(_.getAs[Double]("ma2"))
    assert(out.toSeq == Seq(10.0, 15.0, 40.0))
  }

  test("ewmaHalf is exact at the largest allowed terms (10) and max magnitude") {
    import java.math.BigDecimal
    val half = BigDecimal.valueOf(0.5)
    // 12 integer digits + 6 fractional — the full decimal(18,6) width the
    // precision budget in the scaladoc is sized for.
    val vals = (0 until 12).map(i =>
      new BigDecimal(s"98765432109${i % 10}.7654${i % 10}3"))
    val df = vals.zipWithIndex.map { case (v, i) => ("g", i, v) }
      .toDF("g", "i", "v").withColumn("v", col("v").cast("decimal(18,6)"))
    val out = Resample.ewmaHalf(df, "g", "i", "v", terms = 10)
      .orderBy("i").collect().map(_.getAs[Double]("ewma"))
    vals.indices.foreach { t =>
      val ks = 0 to math.min(t, 9)
      val num = ks.map(k => vals(t - k).multiply(half.pow(k))).reduce(_ add _)
      val den = ks.map(k => half.pow(k)).reduce(_ add _)
      val expect =
        math.floor(num.doubleValue / den.doubleValue * 10000 + 0.5) / 10000
      assert(out(t) == expect, s"t=$t: got ${out(t)}, want $expect")
    }
    intercept[IllegalArgumentException] {
      Resample.ewmaHalf(df, "g", "i", "v", terms = 11)
    }
  }

  test("globalIndex equals the naive global row_number") {
    val df = (1 to 500).map(i => Tuple1(i * 3L)).toDF("k")
    val out = graft.operators.Indexing.globalIndex(df, "k", partitions = Some(8))
      .orderBy("k").collect()
    out.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[Long]("global_idx") == i + 1L,
        s"row $i got ${r.getAs[Long]("global_idx")}")
    }
  }

  test("keySkew reports hot keys with share and ratio") {
    val df = (Seq.fill(60)("hot") ++ (1 to 40).map(i => s"k$i")).toDF("key")
    val out = graft.operators.Profiler.keySkew(df, "key", topK = 3).collect()
    assert(out.head.getAs[String]("key") == "hot")
    assert(out.head.getAs[Long]("n_rows") == 60L)
    assert(out.head.getAs[Double]("pct_of_total") == 60.0)
    // 100 rows / 41 keys → mean ≈ 2.439; 60 / mean ≈ 24.6
    assert(math.abs(out.head.getAs[Double]("ratio_to_avg") - 24.6) < 0.01)
  }

  test("HLL estimate tracks the true cardinality within sketch error") {
    val df = (1 to 5000).map(i => ("g", i % 1000)).toDF("grp", "v")
    val est = Sketches.hllDistinct(df, "grp", "v", b = 5).collect().head
      .getAs[Double]("hll_estimate")
    // m=32 → ~18.5% relative s.d.; allow 3 sigma
    assert(est > 1000 * 0.45 && est < 1000 * 1.55, s"estimate $est vs 1000")
  }

  test("HLL takes the linear-counting branch at tiny cardinalities") {
    val df = Seq(("g", 1), ("g", 2), ("g", 3)).toDF("grp", "v")
    val est = Sketches.hllDistinct(df, "grp", "v", b = 5).collect().head
      .getAs[Double]("hll_estimate")
    assert(est > 0.5 && est < 10, s"tiny-cardinality estimate off: $est")
  }

  test("deltaJoinRefresh equals the direct join over full tables") {
    val baseA = Seq((1, "a1"), (2, "a2")).toDF("k", "av")
    val deltaA = Seq((2, "a2d"), (3, "a3")).toDF("k", "av")
    val baseB = Seq((1, "b1"), (3, "b3")).toDF("j", "bv")
    val deltaB = Seq((2, "b2"), (3, "b3d")).toDF("j", "bv")
    val view = baseA.join(baseB, col("k") === col("j"))
    val refreshed = Incremental.deltaJoinRefresh(view, baseA, deltaA,
      baseB, deltaB, Seq("k"), Seq("j"))
    val direct = baseA.unionByName(deltaA)
      .join(baseB.unionByName(deltaB), col("k") === col("j"))
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getInt(0), r.getString(1), r.getString(3))
    assert(refreshed.collect().map(key).sorted.toSeq ==
      direct.collect().map(key).sorted.toSeq)
    assert(refreshed.count() == direct.count())
  }

  test("seasonalDecompose: pure periodic series has flat trend, 0 remainder") {
    import spark.implicits._
    // y repeats (3, 6, 9) with period 3: trend = 6 everywhere centered,
    // seasonal = (-3, 0, +3) by phase, remainder identically 0
    val df = (1 to 9).map(i => (i, Seq(3L, 6L, 9L)((i - 1) % 3)))
      .toDF("i", "y")
    val out = graft.operators.Resample.seasonalDecompose(df, "i", "y", 3)
      .orderBy("i").collect()
    assert(out.length == 9)
    // edges have no centered window → null trend and remainder
    assert(out.head.isNullAt(2) && out.last.isNullAt(2))
    val interior = out.slice(1, 8)
    assert(interior.forall(_.getDouble(2) == 6.0))
    assert(interior.forall(_.getDouble(4) == 0.0))
    assert(out.map(_.getDouble(3)).toSeq ==
      Seq(-3.0, 0.0, 3.0, -3.0, 0.0, 3.0, -3.0, 0.0, 3.0))
    // even period is rejected (no centered window)
    intercept[IllegalArgumentException] {
      graft.operators.Resample.seasonalDecompose(df, "i", "y", 4)
    }
  }
}
