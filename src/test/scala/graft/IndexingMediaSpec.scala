package graft

import graft.functions.{Multimodal, Sketches}
import graft.operators.{Exporter, Indexing}
import org.apache.spark.sql.functions._

/** Controlled-fixture semantics for the wave-11 operators: zone-map
  * skipping index, histogram quantiles, WAV audio decode, ORC sink
  * (the x56-x58/k9 oracle queries cover the testdata-scale paths). */
class IndexingMediaSpec extends SparkSpec {
  import spark.implicits._

  test("zoneMap blocks are exact and pruneBlocks skips provably-missing blocks") {
    val df = (1L to 100L).map(i => (i, i * 10)).toDF("k", "v")
    val zm = Indexing.zoneMap(df, "k", Seq("v"), blockSize = 30)
    val rows = zm.orderBy("block_id").collect()
    assert(rows.map(_.getLong(1)).toSeq == Seq(30L, 30L, 30L, 10L))
    assert(rows.head.getAs[Long]("v_min") == 10L &&
      rows.head.getAs[Long]("v_max") == 300L)
    val pruned = Indexing.pruneBlocks(zm, "v", lit(310L), lit(610L))
      .orderBy("block_id").collect()
    // block 0: v in [10,300] → skip; block 1: [310,600] → scan;
    // block 2: [610,900] → skip (min >= hi); block 3: [910,1000] → skip
    assert(pruned.map(_.getAs[Boolean]("would_scan")).toSeq ==
      Seq(false, true, false, false))
  }

  test("globalIndex is a permutation of 1..n at multi-partition scale") {
    // regression for the boundary-resample desync: two executions of the
    // range exchange must not disagree (caught at 15k rows, x56)
    val df = (1L to 5000L).map(i => Tuple1(i * 7 % 5001)).toDF("k")
    val idx = Indexing.globalIndex(df, "k", partitions = Some(16))
      .select("global_idx").collect().map(_.getLong(0)).sorted
    assert(idx.toSeq == (1L to 5000L).toSeq)
  }

  test("histogramQuantiles: right-edge estimates on a uniform fixture") {
    val df = (1 to 100).map(_.toDouble).toDF("v")
    val out = Sketches.histogramQuantiles(df, "v", bins = 10,
      qs = Seq("p50" -> 0.5, "p90" -> 0.9))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // bins of width 9.9 over [1,100]; p50 → first bin with cum>=50 is bin 4
    // (values 40.6..50.5 → cum 50), right edge = 1 + 5*9.9 = 50.5
    assert(out("p50")._1 == 4L && math.abs(out("p50")._2 - 50.5) < 1e-9)
    assert(out("p90")._1 == 8L && math.abs(out("p90")._2 - 90.1) < 1e-9)
  }

  test("histogramQuantiles survives a constant column (hi == lo)") {
    val df = Seq.fill(10)(5.0).toDF("v")
    val out = Sketches.histogramQuantiles(df, "v", bins = 4,
      qs = Seq("p50" -> 0.5)).collect()
    assert(out.length == 1 && out.head.getLong(1) == 0L)
  }

  test("WAV round-trip: header fields and PCM sum of squares survive decode") {
    val df = Seq((7L, "hello world"), (8L, "x")).toDF("doc_id", "text")
    val out = Multimodal.decodeWavFeatures(
      Multimodal.asWavMedia(df, "doc_id", "text")).orderBy("doc_id").collect()
    val r = out.head
    assert(r.getAs[Boolean]("decoded"))
    val len = "hello world".length
    assert(r.getAs[Int]("sample_rate") == 8000 + (len % 3) * 4000)
    assert(r.getAs[Int]("n_channels") == 1 && r.getAs[Int]("bits_per_sample") == 16)
    assert(r.getAs[Long]("n_samples") == len * 20 + 100)
    // replay the synth on the driver: decode must equal generation exactly
    val expectSq = (0 until len * 20 + 100).map { i =>
      val s = ((i * 73L + 7L * 7919L) % 4096L) - 2048L; s * s
    }.sum
    assert(r.getAs[Long]("sum_sq") == expectSq)
  }

  test("decodeWavFeatures falls back (decoded=false) on non-WAV payloads") {
    val junk = Seq((1L, Array[Byte](1, 2, 3, 4, 5))).toDF("doc_id", "content")
    val out = Multimodal.decodeWavFeatures(junk).collect().head
    assert(!out.getAs[Boolean]("decoded") && out.isNullAt(2))
  }

  test("scalarQuantize: codes span the range, RMSE bounded by bucket width") {
    val vecs = Seq(
      (1L, Seq(0.0f, 10.0f)), (2L, Seq(10.0f, 0.0f)), (3L, Seq(5.0f, 5.0f)))
      .toDF("vec_id", "embedding")
    val out = graft.operators.Similarity
      .scalarQuantize(vecs, "vec_id", "embedding", levels = 4)
      .orderBy("vec_id").collect()
    // dim range [0,10], 4 levels of width 2.5: 0→code 0, 10→code 3, 5→code 2
    assert(out.map(_.getString(1)).toSeq == Seq("0,3", "3,0", "2,2"))
    // reconstruction at bucket centers → |err| ≤ 1.25 per dim
    assert(out.forall(_.getDouble(3) <= 1.25))
    // constant dimension quantizes to code 0 without dividing by zero
    val const = Seq((1L, Seq(7.0f)), (2L, Seq(7.0f))).toDF("vec_id", "embedding")
    val c = graft.operators.Similarity
      .scalarQuantize(const, "vec_id", "embedding").collect()
    assert(c.forall(r => r.getString(1) == "0" && r.getDouble(3) == 0.0))
  }

  test("recallAtK: overlap and basis points are exact") {
    val exact = Seq(1L, 2L, 3L, 4L, 5L).toDF("id")
    val approx = Seq(1L, 2L, 3L, 9L, 10L).toDF("id")
    val r = graft.operators.Similarity.recallAtK(exact, approx, "id")
      .collect().head
    assert(r.getLong(0) == 5L && r.getLong(1) == 5L && r.getLong(2) == 3L)
    assert(r.getLong(3) == 6000L)
  }

  test("ORC writer round-trips schema and values") {
    graft.streaming.Replay.withTempDir(spark, "graft_orc") { d =>
      val dir = java.nio.file.Paths.get(d)
      val df = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("k", "s", "v")
      Exporter.writeOrc(df, dir.resolve("t.orc"))
      val back = spark.read.orc(dir.resolve("t.orc").toString).orderBy("k")
      // ORC reads everything back nullable — compare names + types only
      assert(back.schema.map(f => (f.name, f.dataType)) ==
        df.schema.map(f => (f.name, f.dataType)))
      assert(back.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq ==
        Seq((1L, "a", 1.5), (2L, "b", 2.5)))
    }
  }
}
