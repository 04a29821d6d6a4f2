package graft

import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [[Dedup.minhashNearDups]] against the formulation it replaced, kept
  * here as the reference: a content-hash groupBy with a `members` join,
  * signatures from an explode + per-slot `min` groupBy, a banded self-join
  * with `distinct` candidates, two verify joins, and a union of the
  * intra-group and re-expanded cross-group pairs (its three persists are
  * left out; they do not change a result). Every result must be equal as
  * a multiset of (id_a, id_b, jaccard bits), except that the reference
  * turns a null id that shares its text into an `(x, x)` self-pair. */
class MinHashLshSpec extends SparkSpec {
  import spark.implicits._
  import MinHashLshSpec._

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(r => s"${r.get(0)},${r.get(1)}," +
      java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(r.getDouble(2))))
      .sorted

  private def assertSame(what: String, df: DataFrame, bands: Int = 4,
      rowsPerBand: Int = 2, threshold: Double = 0.8, shingleK: Int = 3,
      maxBucket: Int = Int.MaxValue): Seq[String] = {
    val got = rows(Dedup.minhashNearDups(df, "id", "text", bands, rowsPerBand,
      threshold, shingleK, maxBucket))
    val want = rows(reference(df, bands, rowsPerBand, threshold, shingleK,
      maxBucket))
    assert(got == want, s"$what: ${got.size} rows vs ${want.size}\n" +
      s"only new: ${got.diff(want).take(10)}\nonly reference: " +
      s"${want.diff(got).take(10)}")
    got
  }

  // the benchmark's copy of the seed-42 sf0.01 documents (500 rows)
  private lazy val docs: DataFrame =
    spark.read.parquet("perfbench/data/documents.parquet")
      .select(col("doc_id").as("id"), col("text"))

  /** 40 near-identical documents (one body, a unique tail word), three
    * exact copies of one of them, and an ordinary near-dup pair. */
  private lazy val flood: DataFrame = {
    val base = (1 to 60).map(i => s"word$i").mkString(" ")
    val other = (200 to 260).map(i => s"tok$i").mkString(" ")
    ((1L to 40L).map(i => (i, s"$base tail$i")) ++
      (41L to 43L).map(i => (i, s"$base tail7")) ++
      Seq((100L, other), (101L, other + " extra"))).toDF("id", "text")
  }

  test("equals the reference on the documents table (x2 shape)") {
    assert(assertSame("x2", docs).nonEmpty)
  }

  test("equals the reference on the 8-fold exact-duplicated table (x17 shape)") {
    val fat = (0 until 8).map(i => docs.select((col("id") * 8 + i).as("id"),
      col("text"))).reduce(_ union _)
    assert(assertSame("x17", fat).nonEmpty)
  }

  for ((b, r, k, t) <- Seq((8, 1, 3, 0.5), (3, 3, 2, 0.3)))
    test(s"equals the reference at bands=$b rowsPerBand=$r k=$k threshold=$t") {
      assertSame(s"($b, $r, $k, $t)", docs, b, r, t, k)
    }

  test("bucket caps 1, 2, 5 and 20 equal the reference on a near-identical flood") {
    val uncapped = assertSame("uncapped", flood)
    for (cap <- Seq(1, 2, 5, 20)) {
      val capped = assertSame(s"cap $cap", flood, maxBucket = cap)
      assert(capped.size < uncapped.size, s"cap $cap had no effect")
      // exact copies pair under any cap; the ordinary pair's buckets hold
      // two groups
      assert(capped.exists(_.startsWith("41,42,")), s"cap $cap")
      assert(capped.exists(_.startsWith("100,101,")) == cap >= 2, s"cap $cap")
    }
  }

  test("exact-dup floods, null, empty and short texts, repeated ids") {
    val body = "the quick brown fox jumps over the lazy dog again and again"
    val fx = (1L to 30L).map(i => (Option(i), Option(body))) ++ Seq(
      (Some(31L), Some(body + " today")),   // near-dup of the flood
      (Some(32L), None), (Some(33L), None),  // null texts
      (Some(34L), Some("")), (Some(35L), Some("")),
      (Some(36L), Some("two words")), (Some(37L), Some("two words")),
      (Some(38L), Some("!!! ...")),
      (Some(5L), Some(body)),                // a repeated id, same text
      (None, Some("no id here but words enough")))
    val df = fx.toDF("id", "text")
    assertSame("edge fixture", df)
    assertSame("edge fixture, k = 1", df, shingleK = 1, threshold = 0.5)
    assertSame("edge fixture, cap 3", df, maxBucket = 3)
  }

  test("empty and one-document corpora yield no pairs, like the reference") {
    val empty = Seq.empty[(Long, String)].toDF("id", "text")
    assert(assertSame("empty", empty).isEmpty)
    val one = Seq((1L, "only one document here with several words"))
      .toDF("id", "text")
    assert(assertSame("one doc", one).isEmpty)
  }

  test("null ids contribute no pair and no row pairs an id with itself") {
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val b = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    val c = "unrelated words of another document entirely"
    val d = "lonely null id document text"
    val fx: Seq[(Option[Long], String)] = Seq(Some(1L) -> a, None -> a,
      Some(2L) -> a, Some(3L) -> b, None -> b, Some(4L) -> c, None -> c,
      Some(9L) -> b, None -> d, Some(10L) -> a, Some(11L) -> b,
      Some(12L) -> "short", None -> "short")
    val df = fx.toDF("id", "text")
    val got = Dedup.minhashNearDups(df, "id", "text", threshold = 0.5)
      .collect().toSeq
    assert(got.nonEmpty)
    assert(got.forall(r => !r.isNullAt(0) && !r.isNullAt(1) &&
      r.getLong(0) < r.getLong(1)), got.mkString("\n"))
    // the reference's self-pairs come only from the null ids
    val want = reference(df, 4, 2, 0.5, 3, Int.MaxValue)
    assert(want.filter(col("id_a") === col("id_b")).count() > 0)
    assert(rows(Dedup.minhashNearDups(df, "id", "text", threshold = 0.5)) ==
      rows(want.filter(col("id_a") < col("id_b"))))
  }

  test("one near-dup pass runs at most 6 jobs and leaves no cache") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val meter = JobMeter(spark)(
      Dedup.minhashNearDups(docs, "id", "text").count())._2
    assert(meter.jobs <= 6, s"minhashNearDups ran ${meter.jobs} jobs")
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "minhashNearDups left a persisted RDD")
  }
}

object MinHashLshSpec {

  /** The replaced signature formulation: one md5 per shingle, `numPerms`
    * Kirsch–Mitzenmacher slots, an explode and a per-slot `min` groupBy. */
  def signatures(sets: DataFrame, numPerms: Int): DataFrame = {
    val exploded = sets.select(col("id"), explode(col("shs")).as("sh"))
      .withColumn("__md5", md5(col("sh")))
      .withColumn("__ha", conv(substring(col("__md5"), 1, 8), 16, 10).cast("long"))
      .withColumn("__hb", conv(substring(col("__md5"), 9, 8), 16, 10).cast("long"))
    val aggs = (0 until numPerms).map(i =>
      min((col("__ha") + lit(i.toLong) * col("__hb")) % lit(4294967296L)).as(s"h$i"))
    exploded.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
  }

  /** The replaced near-dup formulation over an (id, text) frame. */
  def reference(df: DataFrame, bands: Int, rowsPerBand: Int,
      threshold: Double, shingleK: Int, maxBucket: Int): DataFrame = {
    val numPerms = bands * rowsPerBand
    val hashed = df.select(col("id"), col("text").as("__text"))
      .withColumn("__th", md5(col("__text")))
    val repAgg = hashed.groupBy("__th")
      .agg(min(col("id")).as("rep"), min_by(col("__text"), col("id")).as("__text"))
    val members = hashed.select(col("id"), col("__th"))
      .join(repAgg.select(col("__th"), col("rep")), "__th")
      .select(col("id"), col("rep"))
    val reps = repAgg.select(col("rep").as("id"), col("__text"))
    val sets = Dedup.shingleSets(reps, "id", "__text", shingleK)
    val sig = signatures(sets, numPerms)
    val bandStructs = (0 until bands).map { b =>
      val key = concat_ws("_",
        (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}").cast("string")): _*)
      struct(lit(b).as("band"), key.as("bkey"))
    }
    val bandRows = sig.select(col("id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
    val capped =
      if (maxBucket == Int.MaxValue) bandRows
      else bandRows.withColumn("__bs",
          count(lit(1)).over(Window.partitionBy("band", "bkey")))
        .filter(col("__bs") <= maxBucket).drop("__bs")
    val candidates = capped.alias("a").join(capped.alias("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("ra"), col("b.id").as("rb"))
      .distinct()
    val sa = sets.select(col("id").as("ra"), col("shs").as("shs_a"))
    val sb = sets.select(col("id").as("rb"), col("shs").as("shs_b"))
    val repPairs = candidates.join(sa, "ra").join(sb, "rb")
      .select(col("ra"), col("rb"),
        (size(array_intersect(col("shs_a"), col("shs_b"))).cast("double") /
          (size(col("shs_a")) + size(col("shs_b")) -
            size(array_intersect(col("shs_a"), col("shs_b"))))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    val sigReps = sets.filter(size(col("shs")) > 0).select(col("id").as("rep"))
    val inSig = members.join(sigReps, "rep")
    val intra = inSig.select(col("rep"), col("id").as("id_a"))
      .join(inSig.select(col("rep"), col("id").as("id_b")), "rep")
      .filter(col("id_a") < col("id_b") && lit(1.0) >= lit(threshold))
      .select(col("id_a"), col("id_b"), lit(1.0).as("jaccard"))
    val cross = repPairs
      .join(members.select(col("rep").as("ra"), col("id").as("xa")), "ra")
      .join(members.select(col("rep").as("rb"), col("id").as("xb")), "rb")
      .select(least(col("xa"), col("xb")).as("id_a"),
        greatest(col("xa"), col("xb")).as("id_b"), col("jaccard"))
    intra.unionByName(cross)
  }
}
