package graft

import graft.functions.{Curation, TextAnalysis}
import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** Decontamination / quality-rule / sequence-packing semantics on controlled
  * fixtures (the x32/x37/x38 oracle queries cover the testdata-scale paths). */
class TrainingOpsSpec extends SparkSpec {
  import spark.implicits._

  test("decontaminate flags exactly the docs sharing an n-gram with the benchmark") {
    val bench = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "zzz alpha beta gamma yyy"),       // shares "alpha beta gamma"
      (2L, "totally different words here"),   // clean
      (3L, "beta gamma delta and more")       // shares "beta gamma delta"
    ).toDF("doc_id", "text")
    val out = Curation.decontaminate(train, bench, "doc_id", "text", n = 3)
      .orderBy("doc_id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq ==
      Seq((1L, 1L, true), (2L, 0L, false), (3L, 1L, true)))
  }

  test("decontaminate counts DISTINCT shared grams, not occurrences") {
    val bench = Seq((9L, "a b c d")).toDF("doc_id", "text")
    // "a b c" appears twice in the train doc but counts once (distinct set)
    val train = Seq((1L, "a b c x a b c")).toDF("doc_id", "text")
    val out = Curation.decontaminate(train, bench, "doc_id", "text", n = 3).collect()
    assert(out.head.getAs[Long]("n_overlap") == 1L)
  }

  test("qualityRules: each gate fires independently") {
    def rules(s: String) = {
      val r = Seq(Tuple1(s)).toDF("text")
        .select(TextAnalysis.qualityRules(col("text")).as("q"))
        .select("q.*").collect().head
      (r.getBoolean(0), r.getBoolean(1), r.getBoolean(2), r.getBoolean(3), r.getBoolean(4))
    }
    val good = (1 to 30).map(_ => "the cat sat").mkString(" ") // 90 words > 80
    assert(rules(good) == (false, true, true, true, false))
    val ok = "the quick brown fox jumps over a lazy dog and then " +
      "runs far away to the hills in the morning light again and again ok"
    assert(rules(ok)._1 && rules(ok)._2 && rules(ok)._3 && rules(ok)._4 && rules(ok)._5)
    // numeric flood fails the numeric-ratio gate only
    val nums = "the a " + (1 to 28).map(_.toString).mkString(" ")
    val rn = rules(nums)
    assert(rn._1 && rn._3 && !rn._4 && !rn._5)
    // empty text fails everything except mean-word-len=0 handling
    assert(!rules("")._5)
  }

  test("vocabEncode ranks by frequency then token, OOV maps to 0") {
    val df = Seq(
      (1L, "b b b a a c"),    // b:3 a:2 c:1
      (2L, "a rare b")).toDF("doc_id", "text")
    val out = Curation.vocabEncode(df, "doc_id", "text", vocabSize = 3)
      .orderBy("doc_id").collect()
    // vocab: b=1 (most frequent), a=2, c=3; "rare" is OOV → 0
    assert(out(0).getAs[String]("token_ids") == "1,1,1,2,2,3")
    assert(out(1).getAs[String]("token_ids") == "2,0,1")
    assert(out(1).getAs[Long]("n_tokens") == 3L)
  }

  test("vocabEncode tie-breaks equal counts alphabetically") {
    val df = Seq((1L, "z y z y")).toDF("doc_id", "text")
    val out = Curation.vocabEncode(df, "doc_id", "text", vocabSize = 10)
      .collect().head.getAs[String]("token_ids")
    assert(out == "1,2,1,2" == false || out == "2,1,2,1") // y=1, z=2 (alpha on tie)
    assert(out == "2,1,2,1")
  }

  test("anomalyZScore flags a spike against the trailing baseline only") {
    import org.apache.spark.sql.types.DecimalType
    val days = (1 to 9).map(d => ("g", d, if (d == 9) 100.0 else 10.0 + d * 0.001))
    val daily = days.toDF("g", "d", "v")
      .withColumn("v", col("v").cast(DecimalType(18, 6)))
    val out = graft.operators.Resample.anomalyZScore(daily, "g", "d", "v")
      .orderBy("d").collect()
    assert(!out(0).getAs[Boolean]("is_anomaly")) // no history → null z → false
    assert(out(0).isNullAt(out(0).fieldIndex("z")))
    assert(out(8).getAs[Boolean]("is_anomaly"))  // the spike
    assert(out(8).getAs[Double]("z") > 2.0)
    assert(!out(7).getAs[Boolean]("is_anomaly")) // steady day, not flagged
  }

  test("editDistanceVerify computes exact Levenshtein over the candidate frame only") {
    val docs = Seq((1L, "kitten"), (2L, "sitting"), (3L, "kitten"), (4L, "zzz"))
      .toDF("doc_id", "text")
    val cand = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val out = graft.operators.Dedup.editDistanceVerify(docs, "doc_id", "text", cand)
      .orderBy("id_a", "id_b").collect()
    assert(out.length == 2) // only candidate pairs, (4) never touched
    assert(out(0).getAs[Long]("edit_distance") == 3L) // kitten→sitting classic
    assert(out(1).getAs[Long]("edit_distance") == 0L &&
      out(1).getAs[Double]("similarity") == 1.0)
  }

  test("packSequences cuts the concatenated token stream at capacity boundaries") {
    // one shard, capacity 10: docs of 4, 5, 3 tokens → cum 4, 9, 12
    val df = Seq(
      (1L, "s", "w w w w"),
      (2L, "s", "w w w w w"),
      (3L, "s", "w w w")).toDF("doc_id", "source", "text")
    val out = Curation.packSequences(df, "doc_id", "text", 10, "source")
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("pack_id"),
        r.getAs[Long]("pack_offset"), r.getAs[Long]("n_packs")))
    assert(out.toSeq == Seq((1L, 0L, 0L, 1L), (2L, 0L, 4L, 1L), (3L, 0L, 9L, 2L)))
  }

  test("packSequences packs shards independently and drops empty docs") {
    val df = Seq(
      (1L, "a", "x x x x x x"), (2L, "a", "!!!"),  // doc 2 has 0 tokens
      (3L, "b", "y y y y y y y y")).toDF("doc_id", "source", "text")
    val out = Curation.packSequences(df, "doc_id", "text", 5, "source")
      .orderBy("doc_id").collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L, 3L))
    // both shards start at pack 0 offset 0
    assert(out.forall(r => r.getAs[Long]("pack_id") == 0L &&
      r.getAs[Long]("pack_offset") == 0L && r.getAs[Long]("n_packs") == 2L))
  }

  test("doc spanning many packs reports the full span") {
    val df = Seq((1L, "s", (1 to 23).map(_ => "t").mkString(" ")))
      .toDF("doc_id", "source", "text")
    val r = Curation.packSequences(df, "doc_id", "text", 5, "source").collect().head
    assert(r.getAs[Long]("n_packs") == 5L) // 23 tokens over capacity-5 packs
  }

  test("scrubCardsWithAudit redacts only Luhn-valid candidates") {
    val df = Seq(
      // 4111111111111111 is Luhn-valid (separators allowed); the order id
      // 4111111111111112 fails the checksum and must survive untouched
      (1L, "pay 4111 1111 1111 1111 ref order 4111111111111112 done"),
      (2L, "no digits worth scrubbing, just 12345 and 2024-01-01"),
      // two valid cards in one row, counted and redacted independently
      (3L, "a 4111111111111111 b 5500005555555559 c")
    ).toDF("doc_id", "text")
    val out = Curation.scrubCardsWithAudit(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out.map(_.getAs[Long]("n_cards")).toSeq == Seq(1L, 0L, 2L))
    assert(out(0).getAs[String]("text") ==
      "pay [CARD] ref order 4111111111111112 done")
    assert(out(1).getAs[String]("text") ==
      "no digits worth scrubbing, just 12345 and 2024-01-01")
    assert(out(2).getAs[String]("text") == "a [CARD] b [CARD] c")
  }

  test("scrubCardsWithAudit counts repeated occurrences but redacts all") {
    val df = Seq((1L, "x 4111111111111111 y 4111111111111111 z"))
      .toDF("doc_id", "text")
    val r = Curation.scrubCardsWithAudit(df, "doc_id", "text").collect().head
    assert(r.getAs[Long]("n_cards") == 2L)
    assert(r.getAs[String]("text") == "x [CARD] y [CARD] z")
  }

  test("unigramPerplexity: repetitive low, rare-word high, degenerate = 1") {
    val df = Seq(
      (1L, "the the the the the the the the"),   // pure corpus mass → low
      (2L, "zeta omega quux xyzzy"),             // all rare words → high
      (3L, "the the zeta the the the")).toDF("doc_id", "text")
    val out = TextAnalysis.unigramPerplexity(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    val ppl = out.map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("perplexity")).toMap
    assert(ppl(1L) < ppl(3L) && ppl(3L) < ppl(2L))
    // doc of only the corpus's dominant word: p(the)=13/18, ppl = 18/13
    assert(math.abs(ppl(1L) - 18.0 / 13.0) < 1e-3)
    // a doc with zero tokens drops out rather than scoring
    val out2 = TextAnalysis.unigramPerplexity(
      Seq((1L, "word here"), (2L, "!!!")).toDF("doc_id", "text"), "doc_id", "text")
    assert(out2.collect().map(_.getLong(0)).toSeq == Seq(1L))
    // single-repeated-word corpus: p=1 everywhere → perplexity exactly 1
    val uni = TextAnalysis.unigramPerplexity(
      Seq((1L, "a a a")).toDF("doc_id", "text"), "doc_id", "text").collect().head
    assert(uni.getAs[Double]("perplexity") == 1.0 && uni.getAs[Long]("n_tokens") == 3L)
  }

  test("mixturePlan: integer targets, epochs, tail fraction, recipe-only sources") {
    // a: 4 tokens over 2 docs; b: 2 tokens; c: unweighted → excluded
    val df = Seq(
      ("a", "one two"), ("a", "three four"),
      ("b", "five six"),
      ("c", "seven")).toDF("source", "text")
    val out = Curation.mixturePlan(df, "source", "text",
        Map("a" -> 3L, "b" -> 1L), budgetTokens = 10L)
      .orderBy("source").collect()
    assert(out.map(_.getString(0)).toSeq == Seq("a", "b"))
    val a = out(0)
    // target = 10*3 div 4 = 7 → 1 full epoch of 4 + 3/4 tail, oversampled
    assert(a.getAs[Long]("available_tokens") == 4L &&
      a.getAs[Long]("target_tokens") == 7L &&
      a.getAs[Long]("n_full_epochs") == 1L &&
      a.getAs[Long]("tail_sample_bps") == 7500L &&
      a.getAs[Boolean]("oversampled"))
    val b = out(1)
    // target = 10*1 div 4 = 2 → exactly one epoch, no tail, not oversampled
    assert(b.getAs[Long]("available_tokens") == 2L &&
      b.getAs[Long]("target_tokens") == 2L &&
      b.getAs[Long]("n_full_epochs") == 1L &&
      b.getAs[Long]("tail_sample_bps") == 0L &&
      !b.getAs[Boolean]("oversampled"))
  }

  test("temporalSplit: boundary ranks, embargo gaps, no temporal leakage") {
    import java.sql.Timestamp
    def ts(min: Int) = Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")
    // 10 rows one minute apart; fracs 0.7/0.15 → boundaries at ranks 7, 8
    val df = (1 to 10).map(i => (i.toLong, ts(i))).toDF("id", "t")
    val out = Curation.temporalSplit(df, "t", "id",
        trainFrac = 0.7, valFrac = 0.15, embargoSeconds = 60)
      .orderBy("id").collect()
    val bySplit = out.groupBy(_.getAs[String]("split"))
      .view.mapValues(_.map(_.getAs[Long]("id")).toSeq.sorted).toMap
    // t1 = minute 7: rows 1-7 train; minute 8 inside the 60 s embargo;
    // t2 = minute 8: nothing left for val; minute 9 in the second gap
    assert(bySplit("train") == (1L to 7L))
    assert(bySplit("embargo_train_val") == Seq(8L))
    assert(bySplit("embargo_val_test") == Seq(9L))
    assert(bySplit("test") == Seq(10L))
    assert(!bySplit.contains("val"))
    // leakage guard: every train ts + embargo < every val/test ts
    val trainMax = ts(7).getTime
    assert(out.filter(_.getAs[String]("split") == "test")
      .forall(_.getAs[Timestamp]("t").getTime > trainMax + 60000L))
  }

  test("temporalSplit with a wide val window fills all five labels") {
    import java.sql.Timestamp
    def ts(min: Int) = Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")
    val df = (1 to 20).map(i => (i.toLong, ts(i))).toDF("id", "t")
    val out = Curation.temporalSplit(df, "t", "id",
        trainFrac = 0.5, valFrac = 0.3, embargoSeconds = 60)
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // t1 = minute 10, t2 = minute 16: 10 train, 1+1 embargoed, 5 val, 3 test
    assert(out == Map("train" -> 10L, "embargo_train_val" -> 1L,
      "val" -> 5L, "embargo_val_test" -> 1L, "test" -> 3L))
  }

  test("pruneBottomQuantile drops exactly floor(n * fraction) rows") {
    val df = (1 to 10).map(i => (i.toLong, i.toLong * 100)).toDF("id", "key")
    val kept = Curation.pruneBottomQuantile(df, "key", 0.2)
      .orderBy("id").collect().map(_.getAs[Long]("id")).toSeq
    assert(kept == (3L to 10L))            // bottom 2 of 10 pruned
    val all = Curation.pruneBottomQuantile(df, "key", 0.0).count()
    assert(all == 10L)                     // fraction 0 keeps everything
  }

  test("distinctNgrams: repetitive text sinks, diverse text stays at 1.0") {
    val df = Seq(
      ("rep", "spam spam spam spam spam spam spam spam"),
      ("div", "eight totally different words appear exactly once here"))
      .toDF("source", "text")
    val out = TextAnalysis.distinctNgrams(df, "source", "text")
      .orderBy("source", "n").collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Int]("n")) ->
        (r.getAs[Long]("n_total"), r.getAs[Long]("n_distinct"),
          r.getAs[Double]("distinct_ratio"))).toMap
    assert(out(("div", 1)) == ((8L, 8L, 1.0)))
    assert(out(("div", 3)) == ((6L, 6L, 1.0)))
    assert(out(("rep", 1)) == ((8L, 1L, 0.125)))
    assert(out(("rep", 2)) == ((7L, 1L, 0.1429)))  // "spam spam" x7
    assert(out.size == 6)                          // 2 sources x n=1..3
  }

  test("sourceKlDivergence: corpus-identical group at 0, skewed group above") {
    // two groups with the SAME word distribution → each is the corpus
    // mixture → KL = 0 for both
    val same = Seq(
      ("a", "x x y z"), ("b", "x x y z")).toDF("source", "text")
    val zero = TextAnalysis.sourceKlDivergence(same, "source", "text")
      .collect().map(r => r.getAs[String]("source") -> r.getAs[Double]("kl_nats"))
    assert(zero.forall(_._2 == 0.0), zero.mkString(","))
    // a group speaking its own vocabulary diverges; the KL is computable
    // exactly: p_g = 1 for "q", p_c = 4/12 → KL = ln(3)
    val skew = Seq(
      ("a", "x y z w"), ("b", "x y z w"), ("c", "q q q q"))
      .toDF("source", "text")
    val out = TextAnalysis.sourceKlDivergence(skew, "source", "text")
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("vocab"),
          r.getAs[Double]("kl_nats"))).toMap
    assert(out("c") == ((4L, 1L, BigDecimal(math.log(3))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    assert(out("a")._3 > 0.0 && out("a") == out("b"))
  }

  test("zipfSlope: steep for power-law text, exactly 0 for flat text") {
    val power = Seq(("p", ("a " * 8 + "b " * 4 + "c " * 2 + "d").trim))
      .toDF("source", "text")
    val flat = Seq(("f", "u v w x y z")).toDF("source", "text")
    val out = TextAnalysis.zipfSlope(power.unionAll(flat), "source", "text")
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_rows"), r.getAs[Double]("slope"))).toMap
    assert(out(("f"))._1 == 6L && out(("f"))._2 == 0.0) // all freq 1 → flat
    // freq 8,4,2,1 over ranks 1,2,3,4: decreasing → clearly negative slope
    assert(out(("p"))._1 == 4L && out(("p"))._2 < -1.0)
  }

  test("embeddingDimStats: exact moments per dimension") {
    val df = Seq(
      (1L, Array(1.0f, -2.0f)),
      (2L, Array(3.0f, 2.0f))).toDF("id", "vec")
    val out = graft.operators.Similarity.embeddingDimStats(df, "vec")
      .orderBy("dim").collect()
    assert(out.length == 2)
    val d1 = out.head
    assert(d1.getAs[Long]("dim") == 1L && d1.getAs[Long]("n_vals") == 2L)
    assert(d1.getAs[Double]("mean") == 2.0 && d1.getAs[Double]("variance") == 1.0)
    assert(d1.getAs[Double]("min_v") == 1.0 && d1.getAs[Double]("max_v") == 3.0)
    val d2 = out(1)
    assert(d2.getAs[Double]("mean") == 0.0 && d2.getAs[Double]("variance") == 4.0)
  }

  test("effectiveRank: collapsed embeddings give PR=1, isotropic give PR=d") {
    // all variance on axis 1 → participation ratio exactly 1
    val collapsed = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(2.0f, 0.0f)),
      (3L, Array(3.0f, 0.0f))).toDF("id", "vec")
    val r1 = graft.operators.Similarity.effectiveRank(collapsed, "id", "vec").head()
    assert(r1.getAs[Long]("n_vectors") == 3L)
    assert(r1.getAs[Double]("participation_ratio") == 1.0)
    // unit cross, zero mean: C = diag(.5, .5) → trace 1, fro .5, PR = 2
    val iso = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(-1.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(0.0f, -1.0f))).toDF("id", "vec")
    val r2 = graft.operators.Similarity.effectiveRank(iso, "id", "vec").head()
    assert(r2.getAs[Double]("trace") == 1.0)
    assert(r2.getAs[Double]("fro_sq") == 0.5)
    assert(r2.getAs[Double]("participation_ratio") == 2.0)
  }

  test("dsirSelect ranks in-domain-looking raw docs above off-domain ones") {
    // target domain speaks "alpha beta gamma"; raw docs 10-12 mimic it,
    // 20-22 speak an unrelated vocabulary. k=5 must pick the two target
    // docs (strongest in-domain signal) plus the three mimics.
    val target = Seq(
      (1L, "alpha beta gamma alpha beta", true),
      (2L, "beta gamma alpha gamma", true))
    val mimics = (10L to 12L).map(i => (i, "alpha beta gamma", false))
    val offdom = (20L to 22L).map(i => (i, "zig zag zug quux", false))
    val df = (target ++ mimics ++ offdom).toDF("id", "text", "is_t")
    val out = Curation.dsirSelect(df, "id", "text", $"is_t", dim = 64,
      topK = 5).collect()
    assert(out.map(_.getAs[Long]("id")).toSet == Set(1L, 2L, 10L, 11L, 12L))
    // every selected doc scores strictly above every off-domain doc
    val all = Curation.dsirSelect(df, "id", "text", $"is_t", dim = 64,
      topK = 100).collect().map(r =>
        r.getAs[Long]("id") -> r.getAs[Double]("log_ratio")).toMap
    assert(Set(1L, 2L, 10L).map(all).min > Set(20L, 21L, 22L).map(all).max)
    // zero-token docs have no features and are never selected
    val withEmpty = df.union(Seq((30L, "!!!", false)).toDF("id", "text", "is_t"))
    val sel = Curation.dsirSelect(withEmpty, "id", "text", $"is_t",
      topK = 100).collect().map(_.getAs[Long]("id"))
    assert(!sel.contains(30L) && sel.length == 8)
  }

  test("logisticTrain learns a one-word signal; score reports exact confusion") {
    import org.apache.spark.sql.functions._
    // 20 positives carry the marker word, 20 negatives don't; filler words
    // differ per doc so buckets other than the marker's carry noise
    val docs = ((0 until 20).map(i => (i.toLong, s"quality filler$i common words here")) ++
      (20 until 40).map(i => (i.toLong, s"junk filler$i common words here")))
      .toDF("id", "text")
    val label = array_contains(graft.operators.Dedup.words(col("text")), "quality")
    val w = Curation.logisticTrain(docs, "id", "text", label,
      dim = 16, iters = 5, lr = 0.5).collect()
    // weights exist for observed buckets + the bias bucket (16)
    assert(w.map(_.getAs[Long]("bucket")).contains(16L))
    val score = Curation.logisticScore(docs, "id", "text", label,
      dim = 16, iters = 5, lr = 0.5).collect().head
    assert(score.getAs[Long]("n_docs") == 40L)
    val acc = score.getAs[Long]("accuracy_bps")
    assert(acc >= 9000L, s"classifier failed to learn the marker: $acc bps")
    assert(score.getAs[Long]("tp") + score.getAs[Long]("fn") == 20L)
  }

  test("logisticScoreWith applies pre-trained weights with zero GD iterations in-plan") {
    import org.apache.spark.sql.functions._
    val docs = ((0 until 20).map(i => (i.toLong, s"quality filler$i common words here")) ++
      (20 until 40).map(i => (i.toLong, s"junk filler$i common words here")))
      .toDF("id", "text")
    val label = array_contains(graft.operators.Dedup.words(col("text")), "quality")
    val w = Curation.logisticTrain(docs, "id", "text", label,
      dim = 16, iters = 5, lr = 0.5)
    // scoring with a PRE-MATERIALIZED weight frame (the production shape:
    // weights come from a table, not a live training lineage)
    val wLocal = {
      val rows = w.collect().map(r =>
        (r.getAs[Long]("bucket"), r.getAs[Double]("weight")))
      rows.toSeq.toDF("bucket", "weight")
    }
    val scored = Curation.logisticScoreWith(docs, "id", "text", label,
      wLocal, dim = 16)
    // plan audit: one pass, no training machinery — no persisted feature
    // frame (InMemoryTableScan), no per-iteration lineage cuts, and the
    // only shuffles are the z aggregate + the final 1-row confusion agg
    val plan = scored.queryExecution.executedPlan.toString
    assert(!plan.contains("InMemoryTableScan"),
      "scoring must not touch the persisted training feature frame:\n" +
        plan.take(800))
    assert(!plan.contains("Scan ExistingRDD"),
      "scoring must not traverse checkpointed GD weight frames:\n" +
        plan.take(800))
    // at most 2 hash shuffles: the feature distinct on (id,y,bucket), with
    // the bias bucket in each doc's array, and the per-doc z aggregate — a
    // GD iteration would add more per step
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles <= 2,
      s"one-pass scoring should shuffle at most 2 times (feature distinct + " +
        s"z agg), found $shuffles:\n" + plan.take(1200))
    val row = scored.collect().head
    assert(row.getAs[Long]("n_docs") == 40L)
    assert(row.getAs[Long]("accuracy_bps") >= 9000L)
    // per-doc prediction path: every featured doc emits (prob, pred),
    // pred integer-consistent with prob at the 0.5 boundary
    val preds = Curation.logisticPredictWith(docs, "id", "text", wLocal,
      dim = 16).collect()
    assert(preds.length == 40)
    assert(preds.forall(r => (r.getAs[Double]("prob") >= 0.5) ==
      (r.getAs[Int]("pred") == 1)))
    // decision equivalence: scoreWith(round-6 trained w) reaches the same
    // confusion as the fused train+score (round-6 wobble ~1e-6 never
    // crosses a decision boundary with this margin)
    val direct = Curation.logisticScore(docs, "id", "text", label,
      dim = 16, iters = 5, lr = 0.5).collect().head
    val viaW = Curation.logisticScoreWith(docs, "id", "text", label, w,
      dim = 16).collect().head
    assert(viaW.getAs[Long]("tp") == direct.getAs[Long]("tp") &&
      viaW.getAs[Long]("tn") == direct.getAs[Long]("tn"))
  }

  test("logisticCrossVal: folds partition the corpus; separable signal is " +
      "graded near-perfect on every held-out fold; deterministic") {
    import org.apache.spark.sql.functions._
    val docs = ((0 until 30).map(i => (i.toLong, s"quality filler$i common words here")) ++
      (30 until 60).map(i => (i.toLong, s"junk filler$i common words here")))
      .toDF("id", "text")
    val label = array_contains(graft.operators.Dedup.words(col("text")), "quality")
    val cv = Curation.logisticCrossVal(docs, "id", "text", label,
      k = 3, dim = 16, iters = 5, lr = 0.5)
    val rows = cv.collect()
    assert(rows.map(_.getAs[Long]("fold")).toSeq == Seq(0L, 1L, 2L))
    // held-out folds partition the corpus: every doc is graded exactly once
    assert(rows.map(r => r.getAs[Long]("n_pos") + r.getAs[Long]("n_neg")).sum == 60L)
    assert(rows.map(_.getAs[Long]("n_pos")).sum == 30L)
    // the marker word separates train and held-out alike: rank AUC ≈ 1 on
    // every fold (margin is wide enough that 5 GD steps suffice)
    rows.foreach { r =>
      val auc = r.getAs[Double]("auc")
      assert(auc >= 0.9, s"fold ${r.getAs[Long]("fold")} auc=$auc")
    }
    // md5 fold assignment is deterministic: a second run is bit-identical
    assert(cv.collect().toSeq == rows.toSeq)
  }

  test("learningCurve: fixed eval slice down the whole curve; full-pool " +
      "training learns the separable signal") {
    import org.apache.spark.sql.functions._
    val docs = ((0 until 40).map(i => (i.toLong, s"quality filler$i common words here")) ++
      (40 until 80).map(i => (i.toLong, s"junk filler$i common words here")))
      .toDF("id", "text")
    val label = array_contains(graft.operators.Dedup.words(col("text")), "quality")
    val rows = Curation.learningCurve(docs, "id", "text", label,
      fractionsPct = Seq(25, 100), dim = 16, iters = 5, lr = 0.5).collect()
    assert(rows.map(_.getAs[Long]("train_pct")).toSeq == Seq(25L, 100L))
    // the eval slice is FIXED: every curve point scores the same docs
    assert(rows.map(_.getAs[Long]("n_docs")).distinct.length == 1)
    // the full-pool point separates the marker
    assert(rows.last.getAs[Long]("accuracy_bps") >= 9000L)
    // confusion cells always total n_docs
    rows.foreach { r =>
      assert(r.getAs[Long]("tp") + r.getAs[Long]("fp") + r.getAs[Long]("tn")
        + r.getAs[Long]("fn") == r.getAs[Long]("n_docs"))
    }
  }

  test("chi2TokenSelect: hand-computed 2x2 chi-square; degenerate margins " +
      "score 0; minDf prunes; topK caps") {
    import org.apache.spark.sql.functions._
    // 4 positives all carry "sig"; 6 negatives none; "common" in all docs
    val docs = ((0 until 4).map(i => (i.toLong, s"sig common w$i")) ++
      (4 until 10).map(i => (i.toLong, s"common w$i other"))).toDF("id", "text")
    val label = array_contains(graft.operators.Dedup.words(col("text")), "sig")
    val out = Curation.chi2TokenSelect(docs, "id", "text", label,
      topK = 100, minDf = 1).collect()
    val sig = out.find(_.getAs[String]("token") == "sig").get
    // a=4 b=0 c=0 d=6: chi2 = 10*(4*6)^2/(4*6*4*6) = 10, perfect association
    assert(sig.getAs[Double]("chi2") == 10.0)
    assert(sig.getAs[Long]("df_docs") == 4L && sig.getAs[Long]("pos_docs") == 4L)
    // chi-square is symmetric: "other" (all-negative marker, a=0 b=6) ties
    // at 10.0 and wins the alphabetical tie-break
    assert(out.take(2).map(_.getAs[String]("token")).toSeq ==
      Seq("other", "sig"))
    assert(out(1).getAs[Double]("chi2") == 10.0)
    // "common" appears in every doc: c+d margin is 0 -> chi2 defined as 0
    val common = out.find(_.getAs[String]("token") == "common").get
    assert(common.getAs[Double]("chi2") == 0.0)
    // minDf prunes the per-doc filler tokens (each df=1)
    val pruned = Curation.chi2TokenSelect(docs, "id", "text", label,
      topK = 100, minDf = 2).collect()
    assert(pruned.map(_.getAs[String]("token")).toSet ==
      Set("sig", "common", "other"))
    // topK caps the output
    assert(Curation.chi2TokenSelect(docs, "id", "text", label,
      topK = 3, minDf = 1).collect().length == 3)
  }

  test("logisticCrossVal rejects k outside [2,8]") {
    import org.apache.spark.sql.functions._
    val docs = Seq((1L, "a b")).toDF("id", "text")
    intercept[IllegalArgumentException] {
      Curation.logisticCrossVal(docs, "id", "text", lit(true), k = 1)
    }
    intercept[IllegalArgumentException] {
      Curation.logisticCrossVal(docs, "id", "text", lit(true), k = 9)
    }
  }

  test("bigram features separate a word-order label that unigrams cannot see") {
    import org.apache.spark.sql.functions._
    // each pos/neg pair shares the IDENTICAL unigram multiset
    // {a,b,c,fillerN} — filler N appears in exactly one positive AND one
    // negative, so no unigram carries label signal; only the order
    // differs ("a b" adjacent vs "a c b") — a unigram model is
    // structurally blind, the bigram model separates
    val docs = ((0 until 20).map(i => (i.toLong, s"a b c filler$i")) ++
      (20 until 40).map(i => (i.toLong, s"a c b filler${i - 20}")))
      .toDF("id", "text")
    val label = col("id") < 20 // == "a b" adjacent by construction
    val uni = Curation.logisticScore(docs, "id", "text", label,
      dim = 256, iters = 8, lr = 0.5, bigrams = false).collect().head
    // identical unigram features per pair: the model cannot beat chance
    // on one of the classes (tp+tn can't exceed one class + ties)
    assert(uni.getAs[Long]("accuracy_bps") <= 5000L,
      s"unigram model should be blind to order, got ${uni}")
    val bi = Curation.logisticScore(docs, "id", "text", label,
      dim = 256, iters = 8, lr = 0.5, bigrams = true).collect().head
    assert(bi.getAs[Long]("accuracy_bps") >= 9500L,
      s"bigram model should separate order, got ${bi}")
    assert(bi.getAs[Long]("tp") == 20L && bi.getAs[Long]("tn") == 20L)
  }

  test("logisticTrain excludes token-free docs; zero-feature corpus rejected sanely") {
    import org.apache.spark.sql.functions._
    val docs = Seq((1L, "aaa bbb"), (2L, ""), (3L, "aaa ccc")).toDF("id", "text")
    val s = Curation.logisticScore(docs, "id", "text",
      array_contains(graft.operators.Dedup.words(col("text")), "aaa"),
      dim = 8, iters = 2, lr = 0.5).collect().head
    // the empty doc has no features and is excluded from training/scoring
    assert(s.getAs[Long]("n_docs") == 2L)
  }

  test("associationRules: hand-checked confidences and lift; " +
    "Apriori prunes infrequent items") {
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a c"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.associationRules(docs, "doc_id", "text",
      minSupport = 2, topK = 10).collect()
    // only (a,b) survives: supp(a)=3, supp(b)=2, pair=2; c never frequent
    assert(r.length == 1)
    val ab = r.head
    assert(ab.getAs[String]("item_a") == "a")
    assert(ab.getAs[String]("item_b") == "b")
    assert(ab.getAs[Long]("pair_support") == 2L)
    assert(ab.getAs[Long]("conf_ab_bps") == 6666L) // 2/3 floor
    assert(ab.getAs[Long]("conf_ba_bps") == 10000L) // 2/2
    assert(ab.getAs[Long]("lift_ppm") == 1000000L) // 2·3/(3·2)
    // duplicate tokens in one doc count once (distinct doc-item pairs)
    val dup = Seq((1L, "a a b b"), (2L, "a b")).toDF("doc_id", "text")
    val rd = TextAnalysis.associationRules(dup, "doc_id", "text",
      minSupport = 2, topK = 10).collect()
    assert(rd.length == 1 && rd.head.getAs[Long]("pair_support") == 2L)
  }

  test("jmTrigramPerplexity: closed-form single-doc case; short docs drop") {
    val docs = Seq((1L, "x x x"), (2L, "x y")).toDF("doc_id", "text")
    val r = TextAnalysis.jmTrigramPerplexity(docs, "doc_id", "text")
      .collect()
    // only doc 1 has a trigram; its probability is
    // 0.6·(1/2) + 0.3·(2/4) + 0.1·(4/5) = 0.53
    // (c("x x x")=1, c("x x")=2, c2("x")=4, c3("x")=4, N=5)
    assert(r.length == 1)
    val d = r.head
    assert(d.getAs[Long]("n_trigrams") == 1L)
    assert(d.getAs[Double]("nll") ==
      BigDecimal(-math.log(0.53)).setScale(4,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
    // nll == per-trigram nll here, so ppl = 1/p
    assert(math.abs(d.getAs[Double]("perplexity") - 1.0 / 0.53) < 1e-3)
  }

  test("mmrRerank: a near-duplicate of the top hit is demoted below a " +
    "diverse result; pure relevance would keep it second") {
    import spark.implicits._
    // query [1,1]; a1/a2 nearly identical high-relevance pair, b diverse
    val corpus = Seq(
      (1L, Seq(1.0, 0.2)), //  rel .8321  (top hit)
      (2L, Seq(1.0, 0.19)), // rel .8287, cos(·,a1) ≈ .99995 (near-dup)
      (3L, Seq(0.1, 1.0))) // rel .7741, cos(·,a1) ≈ .2928  (diverse)
      .toDF("vec_id", "embedding")
    val q = Seq((100L, Seq(1.0, 1.0))).toDF("vec_id", "embedding")
    val mmr = Similarity.mmrRerank(corpus, "vec_id", "embedding", q,
      "vec_id", m = 3, k = 3, lambda = 0.7).collect()
    assert(mmr.map(_.getAs[Long]("vec_id")).toSeq == Seq(1L, 3L, 2L))
    // relevance-only order for contrast: 1, 2, 3
    val rel = Similarity.bruteForceTopKBatch(corpus, "vec_id", "embedding",
      q, "vec_id", 3).orderBy("rank").collect()
    assert(rel.map(_.getAs[Long]("vec_id")).toSeq == Seq(1L, 2L, 3L))
    // rank-1 pick has msim 0, so its mmr is λ·score exactly
    val first = mmr.head
    assert(math.abs(first.getAs[Double]("mmr") -
      0.7 * first.getAs[Double]("score")) < 2e-4)
  }

  test("knnClassify: clean clusters classify perfectly; " +
    "a planted mislabel costs exactly its own query") {
    import spark.implicits._
    // two tight clusters on orthogonal axes, 4 vectors each
    def v(axis: Int, eps: Double) = {
      val a = Array.fill(4)(eps); a(axis) = 1.0; a.toSeq
    }
    val rows = (0 until 4).map(i => (i.toLong, v(0, 0.01 * (i + 1)), 0)) ++
      (4 until 8).map(i => (i.toLong, v(1, 0.01 * (i - 3)), 1))
    val emb = rows.toDF("vec_id", "embedding", "label")
    val r = Similarity.knnClassify(emb, "vec_id", "embedding", "label",
      nQueries = 8, k = 3).collect()
    assert(r.length == 2)
    assert(r.forall(row => row.getAs[Long]("acc_bps") == 10000L))
    assert(r.map(_.getAs[Long]("n_queries")).sum == 8L)

    // flip one label: that vector's own query misclassifies (its
    // neighbors kept their labels), and it pollutes no majority at k=3
    val flipped = emb.withColumn("label",
      when($"vec_id" === 0L, 1).otherwise($"label"))
    val rf = Similarity.knnClassify(flipped, "vec_id", "embedding",
      "label", nQueries = 8, k = 3).collect()
    val byLabel = rf.map(row =>
      row.getAs[Long]("label") -> row.getAs[Long]("n_correct")).toMap
    // label 1 now has 5 queries; the flipped one votes with cluster-0
    // neighbors (labeled 0) and misses
    assert(byLabel(0L) == 3L && byLabel(1L) == 4L)
  }

  test("tokenizerFertility: punctuation-heavy text pays more subwords " +
    "per word; integer sums per group") {
    val docs = Seq(("clean", "a b c"), ("clean", "d e"),
      ("punct", "a.b, c!")).toDF("lang", "text")
    val out = TextAnalysis.tokenizerFertility(docs, "lang", "text")
      .collect()
    val byLang = out.map(r => r.getAs[String]("lang") -> r).toMap
    assert(byLang("clean").getAs[Long]("n_docs") == 2L)
    assert(byLang("clean").getAs[Long]("n_tokens") == 5L)
    assert(byLang("clean").getAs[Long]("n_subwords") == 5L)
    assert(byLang("clean").getAs[Double]("fertility") == 1.0)
    assert(byLang("punct").getAs[Long]("n_tokens") == 3L)
    assert(byLang("punct").getAs[Long]("n_subwords") == 6L)
    assert(byLang("punct").getAs[Double]("fertility") == 2.0)
    assert(byLang("clean").getAs[Double]("tokens_per_doc") == 2.5)
  }

  test("quotaSample: Hamilton apportionment hits exact quotas; output " +
    "size is exactly the requested total; draw is deterministic") {
    // counts a=3, b=2, c=5; total 7 → base (2,1,3), remainders (1,4,5),
    // one leftover goes to c → quotas (2,1,4)
    val df = (Seq.fill(3)("a") ++ Seq.fill(2)("b") ++ Seq.fill(5)("c"))
      .zipWithIndex.map { case (g, i) => (i.toLong, g) }
      .toDF("id", "g")
    val out = Curation.quotaSample(df, "id", "g", total = 7).collect()
    assert(out.length == 7)
    val byG = out.groupBy(_.getAs[String]("g")).view.mapValues(_.length)
    assert(byG("a") == 2 && byG("b") == 1 && byG("c") == 4)
    assert(out.filter(_.getAs[String]("g") == "c")
      .forall(_.getAs[Long]("quota") == 4L))
    val again = Curation.quotaSample(df, "id", "g", total = 7).collect()
    assert(out.map(r => (r.getString(0), r.getLong(1))).sorted.toSeq ==
      again.map(r => (r.getString(0), r.getLong(1))).sorted.toSeq)

    // total > N: the "output size is EXACTLY total" contract cannot be
    // met — fail loudly at action time, never silently return N rows
    val ex = intercept[Exception] {
      Curation.quotaSample(df, "id", "g", total = 11).collect()
    }
    assert(ex.getMessage.contains("exceeds corpus size") ||
      Option(ex.getCause).exists(_.getMessage.contains("exceeds corpus size")))
  }

  test("temperatureQuotaSample: sqrt flattening oversamples the small " +
    "group vs proportional quotas; budget exact; saturation throws") {
    // counts a=81, b=9: sqrt weights 9e6/3e6 → quotas (3,1) at total=4,
    // where proportional apportionment would give (4,0) — the
    // low-resource group is guaranteed representation
    val df = (Seq.fill(81)("a") ++ Seq.fill(9)("b"))
      .zipWithIndex.map { case (g, i) => (i.toLong, g) }.toDF("id", "g")
    val out = Curation.temperatureQuotaSample(df, "id", "g", total = 4)
      .collect()
    assert(out.length == 4)
    val byG = out.groupBy(_.getAs[String]("g")).view.mapValues(_.length)
    assert(byG("a") == 3 && byG("b") == 1)
    val prop = Curation.quotaSample(df, "id", "g", total = 4).collect()
    assert(prop.groupBy(_.getAs[String]("g")).view.mapValues(_.length)
      .getOrElse("b", 0) == 0)
    // deterministic draw
    val again = Curation.temperatureQuotaSample(df, "id", "g", total = 4)
      .collect()
    assert(out.map(r => (r.getString(0), r.getLong(1))).sorted.toSeq ==
      again.map(r => (r.getString(0), r.getLong(1))).sorted.toSeq)
    // a singleton group saturates under flattening: fail, don't shortfall
    val tiny = (Seq.fill(81)("a") ++ Seq("b"))
      .zipWithIndex.map { case (g, i) => (i.toLong, g) }.toDF("id", "g")
    val ex = intercept[Exception] {
      Curation.temperatureQuotaSample(tiny, "id", "g", total = 20)
        .collect()
    }
    assert(ex.getMessage.contains("exceeds group size") ||
      Option(ex.getCause).exists(_.getMessage.contains("exceeds group size")))
  }

  test("paddingWaste: buckets pad to their own max; boundary values land " +
    "in the upper bucket; empty-free buckets exact") {
    // token counts: 2, 3 (bucket 0), 5 (bucket 1), 9 (bucket 2)
    val docs = Seq((1L, "a b"), (2L, "a b c"), (3L, "a b c d e"),
      (4L, "a b c d e f g h i")).toDF("doc_id", "text")
    val out = TextAnalysis.paddingWaste(docs, "text", Seq(4, 8)).collect()
    assert(out.map(_.getAs[Long]("bucket")).toSeq == Seq(0L, 1L, 2L))
    val b0 = out(0)
    assert(b0.getAs[Long]("n_docs") == 2L && b0.getAs[Long]("max_len") == 3L)
    assert(b0.getAs[Long]("padded") == 6L && b0.getAs[Long]("sum_len") == 5L)
    assert(b0.getAs[Double]("waste_pct") == 0.166667)
    assert(out(1).getAs[Double]("waste_pct") == 0.0)
    assert(out(2).getAs[Long]("n_docs") == 1L)
  }

  test("vocabCoverage: frequency-ranked mass shares; ties rank by token; " +
    "oversized V saturates at full coverage") {
    // freq: a=3, b=2, c=2, d=1 (b/c tie → b first); total mass 8
    val docs = Seq((1L, "a a a b b c"), (2L, "c d")).toDF("doc_id", "text")
    val out = TextAnalysis.vocabCoverage(docs, "text", Seq(1, 2, 3, 9))
      .collect()
    assert(out.map(_.getAs[Long]("vocab_size")).toSeq == Seq(1L, 2L, 3L, 9L))
    val byV = out.map(r => r.getAs[Long]("vocab_size") -> r).toMap
    assert(out.forall(_.getAs[Long]("n_vocab") == 4L))
    assert(out.forall(_.getAs[Long]("total_tokens") == 8L))
    assert(byV(1L).getAs[Long]("covered") == 3L) // {a}
    assert(byV(2L).getAs[Long]("covered") == 5L) // {a, b} — tie-break
    assert(byV(3L).getAs[Long]("covered") == 7L) // {a, b, c}
    assert(byV(9L).getAs[Long]("covered") == 8L)
    assert(byV(9L).getAs[Double]("coverage") == 1.0)
    assert(byV(2L).getAs[Double]("coverage") == 0.625)
  }
}
