package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}

/** Round-14 maintenance-and-guards coverage: the maintainIvfIndex policy
  * threshold boundary, the in-plan single-query guard's zero-job cost,
  * the incremental substring-dedup equality/contract, and the logistic
  * family's empty-slice degradation (r13 ADVICE null guards). */
class MaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def vecs(rows: Seq[(Long, String, Seq[Double])]) =
    rows.toDF("id", "cell", "vec")

  private def freshIvf(table: String): Unit = {
    // 4 corner vectors: per-dim grid is exactly [0, 1]
    val base = vecs(Seq(
      (1L, "a", Seq(0.0, 0.0)), (2L, "a", Seq(0.0, 1.0)),
      (3L, "b", Seq(1.0, 0.0)), (4L, "b", Seq(1.0, 1.0))))
    Similarity.buildIvfIndex(base, "id", "cell", "vec", table)
    Similarity.buildIvfCodes(spark, table, "id", "cell", "vec")
  }

  // 5 vectors x 2 dims = 10 components, EXACTLY one outside [0,1]:
  // clamp_bps = 1 * 10000 div 10 = 1000 on the nose
  private val boundaryBatch = vecs(Seq(
    (11L, "a", Seq(0.1, 0.2)), (12L, "a", Seq(0.3, 0.4)),
    (13L, "b", Seq(0.5, 0.6)), (14L, "b", Seq(0.7, 0.8)),
    (15L, "b", Seq(2.0, 0.9))))

  test("maintainIvfIndex: clamp_bps equal to the threshold does NOT refit") {
    freshIvf("graft_test_maint_eq")
    val r = Similarity.maintainIvfIndex(spark, "graft_test_maint_eq",
      boundaryBatch, "id", "cell", "vec", maxClampBps = 1000L).head()
    assert(r.getAs[Long]("clamp_bps") == 1000L)
    assert(r.getAs[Long]("refit") == 0L)
    assert(r.getAs[Long]("grid_gen_before") == 0L)
    assert(r.getAs[Long]("grid_gen_after") == 0L)
    // the batch was appended even without a refit
    assert(spark.table("graft_test_maint_eq").count() == 9L)
    // and the frozen grid is untouched: [0, 1] per dim
    val g = spark.table("graft_test_maint_eq_cdims").orderBy("pos")
      .collect().map(r2 => (r2.getAs[Double]("lo"), r2.getAs[Double]("hi")))
    assert(g.toSeq == Seq((0.0, 1.0), (0.0, 1.0)))
  }

  test("maintainIvfIndex: one basis point past the threshold refits once") {
    freshIvf("graft_test_maint_gt")
    val r = Similarity.maintainIvfIndex(spark, "graft_test_maint_gt",
      boundaryBatch, "id", "cell", "vec", maxClampBps = 999L).head()
    assert(r.getAs[Long]("clamp_bps") == 1000L)
    assert(r.getAs[Long]("refit") == 1L)
    assert(r.getAs[Long]("grid_gen_before") == 0L)
    assert(r.getAs[Long]("grid_gen_after") == 1L)
    // the refit grid covers the appended out-of-range component
    val hi0 = spark.table("graft_test_maint_gt_cdims")
      .filter(col("pos") === 0).head().getAs[Double]("hi")
    assert(hi0 == 2.0)
    // a healthy follow-up batch no-ops at the NEW generation
    val r2 = Similarity.maintainIvfIndex(spark, "graft_test_maint_gt",
      vecs(Seq((21L, "a", Seq(0.5, 0.5)))), "id", "cell", "vec",
      maxClampBps = 999L).head()
    assert(r2.getAs[Long]("clamp_bps") == 0L)
    assert(r2.getAs[Long]("refit") == 0L)
    assert(r2.getAs[Long]("grid_gen_before") == 1L)
    assert(r2.getAs[Long]("grid_gen_after") == 1L)
  }

  test("maintainIvfIndex: an empty batch is a full no-op") {
    freshIvf("graft_test_maint_mt")
    val r = Similarity.maintainIvfIndex(spark, "graft_test_maint_mt",
      vecs(Seq()).filter(lit(false)), "id", "cell", "vec").head()
    assert(r.getAs[Long]("n_vectors") == 0L)
    assert(r.getAs[Long]("clamp_bps") == 0L)
    assert(r.getAs[Long]("refit") == 0L)
    assert(spark.table("graft_test_maint_mt").count() == 4L)
  }

  test("ivfTopKQuantized: plan construction costs ZERO jobs;" +
      " a multi-row query frame fails loudly in-plan") {
    freshIvf("graft_test_guard")
    val q1 = vecs(Seq((100L, "q", Seq(0.9, 0.9)))).select("vec")
    val (served, meter) = JobMeter(spark) {
      Similarity.ivfTopKQuantized(spark, "graft_test_guard",
        "id", "cell", "vec", q1, k = 1, nprobe = 1, rescore = 1)
    }
    // ZERO call-time jobs: the 1-row _cmeta levels read rides the
    // serving plan as a broadcast cross join (r16 — it was an eager
    // head() job per serve; the r13 guard ran a SECOND job on top)
    assert(meter.jobs == 0, s"expected 0 call-time jobs, saw ${meter.jobs}")
    assert(served.collect().length == 1)
    // multi-row frame: the in-plan raise_error fires at serve time
    val q2 = vecs(Seq((100L, "q", Seq(0.9, 0.9)),
      (101L, "q", Seq(0.1, 0.1)))).select("vec")
    val bad = Similarity.ivfTopKQuantized(spark, "graft_test_guard",
      "id", "cell", "vec", q2, k = 1, nprobe = 1, rescore = 1)
    val e = intercept[Exception] { bad.collect() }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Seq() else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("exactly one query row")),
      s"unexpected error: ${chain(e).mkString(" | ")}")
  }

  test("maintainIvfCells: skew_bps equal to the threshold does NOT " +
      "rebalance; one past does and carries the codes companion") {
    val tbl = "graft_test_maint_cells"
    // occupancy (2,1,1): skew = 2*10000*3/4 = 15000 on the nose; ids 3
    // and 4 land in different md5 halves so the split really splits
    val base = Seq(
      (3L, 1, Seq(1.0, 0.0)), (4L, 1, Seq(0.0, 1.0)),
      (1L, 2, Seq(0.2, 0.2)), (2L, 3, Seq(0.8, 0.8)))
      .toDF("id", "cell", "vec")
    Similarity.buildIvfIndex(base, "id", "cell", "vec", tbl)
    Similarity.buildIvfCodes(spark, tbl, "id", "cell", "vec")
    val empty = base.filter(lit(false))
    val r1 = Similarity.maintainIvfCells(spark, tbl, empty, "id", "cell",
      "vec", maxSkewBps = 15000L, splitAbove = 1.2).head()
    assert(r1.getAs[Long]("skew_bps") == 15000L)
    assert(r1.getAs[Long]("rebalanced") == 0L)
    assert(r1.getAs[Long]("n_cells") == 3L)
    assert(r1.getAs[Long]("occ_max") == 2L)
    assert(r1.getAs[Long]("rebalance_gen_before") == 0L)
    assert(r1.getAs[Long]("rebalance_gen_after") == 0L)
    val r2 = Similarity.maintainIvfCells(spark, tbl, empty, "id", "cell",
      "vec", maxSkewBps = 14999L, splitAbove = 1.2).head()
    assert(r2.getAs[Long]("rebalanced") == 1L)
    assert(r2.getAs[Long]("n_cells_after") == 4L)
    assert(r2.getAs[Long]("occ_max_after") == 1L)
    assert(r2.getAs[Long]("rebalance_gen_before") == 0L)
    assert(r2.getAs[Long]("rebalance_gen_after") == 1L)
    // the codes companion followed the new assignment: same rows, same
    // cells as the rebalanced table (a stale partition would serve
    // phantom candidates)
    val tblCells = spark.table(tbl).select("cell").distinct()
      .collect().map(_.getInt(0)).sorted.toSeq
    val codeCells = spark.table(s"${tbl}_codes").select("cell").distinct()
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(tblCells == codeCells && tblCells.size == 4)
    assert(spark.table(s"${tbl}_codes").count() == 4L)
  }

  test("maintainPostingsIndex: tombstone_bps equal to the threshold does" +
      " NOT compact; one basis point past does") {
    val tbl = "graft_test_maintp_eq"
    // 10 docs x 1 unique token = 10 postings rows; deleting one doc
    // leaves exactly 1000 bps of debt on the nose
    val docs = (1L to 10L).map(i => (i, s"tok$i")).toDF("doc_id", "text")
    operators.Retrieval.buildPostingsIndex(docs, "doc_id", "text", tbl)
    operators.Retrieval.deleteFromPostingsIndex(spark,
      Seq(1L).toDF("doc_id"), "doc_id", tbl)
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val r1 = operators.Retrieval.maintainPostingsIndex(spark, tbl, empty,
      "doc_id", "text", maxTombstoneBps = 1000L).head()
    assert(r1.getAs[Long]("n_docs") == 0L)
    assert(r1.getAs[Long]("rows_total_before") == 10L)
    assert(r1.getAs[Long]("rows_dead_before") == 1L)
    assert(r1.getAs[Long]("tombstone_bps") == 1000L)
    assert(r1.getAs[Long]("compacted") == 0L)
    assert(r1.getAs[Long]("rows_total_after") == 10L)
    assert(spark.catalog.tableExists(s"${tbl}_tomb")) // debt still parked
    val r2 = operators.Retrieval.maintainPostingsIndex(spark, tbl,
      Seq((11L, "tok11")).toDF("doc_id", "text"), "doc_id", "text",
      maxTombstoneBps = 999L).head()
    assert(r2.getAs[Long]("n_docs") == 1L)
    assert(r2.getAs[Long]("tombstone_bps") == 1000L)
    assert(r2.getAs[Long]("compacted") == 1L)
    // 9 survivors + the appended doc; tombstones physically reclaimed
    assert(r2.getAs[Long]("rows_total_after") == 10L)
    assert(!spark.catalog.tableExists(s"${tbl}_tomb"))
  }

  test("maintainPostingsIndex: a compacting round keeps the bmw serving" +
      " pins and scores like a rebuild") {
    import org.apache.spark.sql.execution.ExplainMode
    val docs = (0L until 40L).map(i =>
      (i, s"alpha beta w$i gamma ${if (i % 3 == 0) "delta" else "eps"} x"))
      .toDF("doc_id", "text")
    val tbl = "graft_test_maintp_serve"
    val built = docs.filter(col("doc_id") >= 5 && col("doc_id") % 7 <= 4)
    val batch = docs.filter(col("doc_id") >= 5 && col("doc_id") % 7 === 5)
    operators.Retrieval.buildPostingsIndex(built, "doc_id", "text", tbl)
    operators.Retrieval.buildImpactBounds(spark, tbl)
    operators.Retrieval.buildBlockMax(spark, tbl, nBlocks = 4)
    operators.Retrieval.deleteFromPostingsIndex(spark,
      docs.filter(col("doc_id") % 10 === 7).select("doc_id"), "doc_id",
      tbl)
    val dec = operators.Retrieval.maintainPostingsIndex(spark, tbl,
      batch, "doc_id", "text", maxTombstoneBps = 0L).head()
    assert(dec.getAs[Long]("rows_dead_before") > 0L)
    assert(dec.getAs[Long]("compacted") == 1L)
    val sparse = operators.Retrieval.bmwTopK(spark, tbl,
      docs.filter(col("doc_id") < 2), "doc_id", "text", k = 3)
    val sp = sparse.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(sp.contains("LeftSemi"),
      "post-policy-compaction bmw lost its candidate semi-join:\n" +
        sp.take(800))
    assert(sp.contains("BroadcastHashJoin"), sp.take(800))
    assert(!sp.contains("CartesianProduct"))
    assert(sparse.count() > 0)
    // and the maintained index scores exactly like a from-scratch build
    // on survivors ∪ batch
    val survivors = built.filter(col("doc_id") % 10 =!= 7)
      .unionByName(batch)
    val got = operators.Retrieval.bm25TopKIndexed(spark, tbl,
      docs.filter(col("doc_id") < 2), "doc_id", "text", k = 3)
      .orderBy("query_id", "rank").collect().toSeq
    val want = operators.Retrieval.bm25TopK(survivors, "doc_id", "text",
      docs.filter(col("doc_id") < 2), "doc_id", "text", k = 3)
      .orderBy("query_id", "rank").collect().toSeq
    assert(got == want)
  }

  test("post-maintenance serving keeps its plan pins: bmw stays " +
      "candidate-bounded, the quantized batch probe stays cell-pruned") {
    import org.apache.spark.sql.execution.ExplainMode
    // sparse family: build -> append -> delete -> compact (x286's steps)
    val docs = (0L until 40L).map(i =>
      (i, s"alpha beta w$i gamma ${if (i % 3 == 0) "delta" else "eps"} x"))
      .toDF("doc_id", "text")
    val tbl = "graft_test_maint_serve_postings"
    operators.Retrieval.buildPostingsIndex(
      docs.filter(col("doc_id") >= 5 && col("doc_id") % 5 =!= 4),
      "doc_id", "text", tbl)
    operators.Retrieval.buildImpactBounds(spark, tbl)
    operators.Retrieval.buildBlockMax(spark, tbl, nBlocks = 4)
    operators.Retrieval.appendToPostingsIndex(
      docs.filter(col("doc_id") >= 5 && col("doc_id") % 5 === 4),
      "doc_id", "text", tbl)
    operators.Retrieval.deleteFromPostingsIndex(spark,
      docs.filter(col("doc_id") % 10 === 7).select("doc_id"), "doc_id",
      tbl)
    operators.Retrieval.compactPostingsIndex(spark, tbl)
    val sparse = operators.Retrieval.bmwTopK(spark, tbl,
      docs.filter(col("doc_id") < 2), "doc_id", "text", k = 3)
    val sp = sparse.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    // the scoring aggregate must consume the PRUNED candidate set, and
    // query terms broadcast — the corpus-sized postings never pay a
    // candidate-side shuffle, even after the full maintenance chain
    assert(sp.contains("LeftSemi"),
      "post-maintenance bmw lost its candidate semi-join:\n" + sp.take(800))
    assert(sp.contains("BroadcastHashJoin"), sp.take(800))
    assert(!sp.contains("CartesianProduct"))
    assert(sparse.count() > 0)

    // dense family: build -> maintainIvfIndex (forced refit) -> delete,
    // then the batch ADC serve must still partition-prune the codes scan
    val n = 60
    val vecsDf = (0 until n).map { i =>
      (i.toLong, s"c${i % 3}", Seq(i / 10.0, (n - i) / 10.0, (i % 7) / 3.0))
    }.toDF("id", "cell", "vec")
    val ivf = "graft_test_maint_serve_ivf"
    Similarity.buildIvfIndex(vecsDf.filter(col("id") >= 4), "id", "cell",
      "vec", ivf)
    Similarity.buildIvfCodes(spark, ivf, "id", "cell", "vec")
    val drifted = vecsDf.filter(col("id") >= 4 && col("id") % 5 === 0)
      .select((col("id") + 1000L).as("id"), col("cell"),
        expr("transform(vec, e -> e * 5.0D + 40.0D)").as("vec"))
    val dec = Similarity.maintainIvfIndex(spark, ivf, drifted, "id",
      "cell", "vec", maxClampBps = 0L).head()
    assert(dec.getAs[Long]("refit") == 1L) // the chain really refit
    Similarity.deleteFromIvfIndex(spark,
      vecsDf.filter(col("id") % 10 === 9).select("id"), "id", ivf,
      "cell", "vec")
    val served = Similarity.ivfTopKQuantizedBatch(spark, ivf, "id",
      "cell", "vec", vecsDf.filter(col("id") < 2), "id", k = 2,
      nprobe = 2, rescore = 4)
    val dp = served.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    // the 2-bytes/dim story survives maintenance only if the codes scan
    // still reads just the probed cells' partitions
    assert(dp.contains("dynamicpruningexpression"),
      "post-maintenance codes scan lost partition pruning:\n" +
        dp.take(800))
    assert(!dp.contains("CartesianProduct"))
    assert(served.count() > 0)
  }

  test("IVF delete, rebalance and repair put partitionOverwriteMode back, " +
    "whether it was unset or set") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    // cell 0 holds 9 of 12 vectors (past 2x the mean: splits), cell 2 one
    // (below half the mean: merges), so every operator reaches its
    // dynamic-overwrite block
    val base = (0 until 12).map { i =>
      (i.toLong, if (i < 9) 0 else if (i < 11) 1 else 2,
        Seq(i / 10.0, (12 - i) / 10.0))
    }.toDF("id", "cell", "vec")
    val extra = Seq((100L, 1, Seq(0.5, 0.5))).toDF("id", "cell", "vec")
    val ops: Seq[(String, String => Unit)] = Seq(
      "delete" -> (t => Similarity.deleteFromIvfIndex(spark,
        Seq(3L).toDF("id"), "id", t, "cell", "vec")),
      "rebalance" -> (t => Similarity.rebalanceIvfCells(spark, t, "id",
        "cell", "vec")),
      // a fully landed append looks like a crashed one to the repair,
      // which takes the batch back out of the table and its codes
      "repair" -> { t =>
        Similarity.appendToIvfIndex(extra, "id", "cell", "vec", t)
        Similarity.repairPartialIvfAppend(spark, extra.select("id"), "id",
          t, "cell", "vec")
      })
    try for ((name, op) <- ops; prior <- Seq(None, Some("STATIC"))) {
      val t = s"graft_test_conf_${name}_${prior.isDefined}"
      Similarity.buildIvfIndex(base, "id", "cell", "vec", t)
      Similarity.buildIvfCodes(spark, t, "id", "cell", "vec")
      prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      op(t)
      assert(spark.conf.getAll.get(key) == prior,
        s"$name left $key as ${spark.conf.getAll.get(key)}, was $prior")
    } finally spark.conf.unset(key)
  }

  private val hist = Seq(
    (1L, "a b c d e"),        // "a b c" also in doc 3 (within-history dup)
    (2L, "k l m n"),
    (3L, "a b c q r")         // keeps nothing of "a b c" (doc 1 is first)
  ).toDF("doc_id", "text")
  private val batch = Seq(
    (10L, "p q r a b c s"),   // "a b c" exists in history -> stripped here
    (11L, "u v w t1"),        // batch-only dup: first occurrence, kept
    (12L, "u v w t2"),        // second occurrence, stripped
    (13L, "hi")               // shorter than l: untouched
  ).toDF("doc_id", "text")

  test("incrementalSubstringDedup equals the full-corpus pass on the batch") {
    val full = Dedup.substringDedup(hist.unionByName(batch), "doc_id",
      "text", l = 3).orderBy("doc_id").collect().toSeq
    val inc = Dedup.substringDedup(hist, "doc_id", "text", l = 3)
      .unionByName(Dedup.incrementalSubstringDedup(hist, batch, "doc_id",
        "text", l = 3))
      .orderBy("doc_id").collect().toSeq
    assert(inc == full)
    // spot-check the semantics actually bit: history hit stripped from
    // the batch doc, batch-first occurrence kept, second stripped
    val byId = inc.map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byId(10L) == "p q r s")
    assert(byId(11L) == "u v w t1")
    assert(byId(12L) == "t2")
    assert(byId(13L) == "hi")
  }

  test("incrementalSubstringDedup: empty history and empty batch degrade") {
    val mtHist = hist.filter(lit(false))
    val alone = Dedup.incrementalSubstringDedup(mtHist, batch, "doc_id",
      "text", l = 3).orderBy("doc_id").collect().toSeq
    val full = Dedup.substringDedup(batch, "doc_id", "text", l = 3)
      .orderBy("doc_id").collect().toSeq
    assert(alone == full)
    assert(Dedup.incrementalSubstringDedup(hist, batch.filter(lit(false)),
      "doc_id", "text", l = 3).count() == 0L)
  }

  test("indexed rolling substring dedup equals the full pass across two batches") {
    val b1 = Seq((10L, "p q r a b c s"), (11L, "u v w t1")).toDF("doc_id", "text")
    val b2 = Seq((12L, "u v w t2"), (13L, "hi")).toDF("doc_id", "text")
    Dedup.buildSubstringKeys(hist, "doc_id", "text", l = 3,
      "graft_test_subkeys")
    val out1 = Dedup.incrementalSubstringDedupIndexed(spark,
        "graft_test_subkeys", b1, "doc_id", "text", l = 3)
      .localCheckpoint(eager = true)
    Dedup.appendSubstringKeys(b1, "doc_id", "text", l = 3,
      "graft_test_subkeys")
    val out2 = Dedup.incrementalSubstringDedupIndexed(spark,
      "graft_test_subkeys", b2, "doc_id", "text", l = 3)
    val rolled = Dedup.substringDedup(hist, "doc_id", "text", l = 3)
      .unionByName(out1).unionByName(out2)
      .orderBy("doc_id").collect().toSeq
    val full = Dedup.substringDedup(
        hist.unionByName(b1).unionByName(b2), "doc_id", "text", l = 3)
      .orderBy("doc_id").collect().toSeq
    assert(rolled == full)
    // cross-BATCH dedup actually bit: doc 12's "u v w" was first seen in
    // batch 1 (doc 11), via the key table only
    assert(rolled.find(_.getLong(0) == 12L).get.getString(1) == "t2")
    // the meta max_id advanced, so a stale-ordered batch fails loudly
    val e = intercept[IllegalArgumentException] {
      Dedup.incrementalSubstringDedupIndexed(spark, "graft_test_subkeys",
        Seq((5L, "z z z")).toDF("doc_id", "text"), "doc_id", "text", l = 3)
    }
    assert(e.getMessage.contains("max_id"))
  }

  test("deleteSubstringKeys: re-introduced deleted text is kept, shared" +
      " keys keep stripping, compaction preserves both") {
    val tbl = "graft_test_subkey_del"
    // doc 1 and doc 2 SHARE window "p q r"; "q r s" is exclusive to the
    // doc being taken down
    val histDf = Seq((1L, "p q r s"), (2L, "p q r t"))
      .toDF("doc_id", "text")
    Dedup.buildSubstringKeys(histDf, "doc_id", "text", l = 3, tbl)
    Dedup.deleteSubstringKeys(Seq((1L, "p q r s")).toDF("doc_id", "text"),
      "doc_id", "text", l = 3, tbl)
    val batchDf = Seq((10L, "p q r z1"), (11L, "q r s z2"))
      .toDF("doc_id", "text")
    def run(b: org.apache.spark.sql.DataFrame) =
      Dedup.incrementalSubstringDedupIndexed(spark, tbl, b, "doc_id",
          "text", l = 3)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
    val got = run(batchDf)
    // shared key still live (doc 2 survives) -> stripped; exclusive key
    // released by the takedown -> re-introduction kept
    assert(got == Seq((10L, "z1"), (11L, "q r s z2")))
    // equality with the full pass over survivors ∪ batch on batch ids
    val full = Dedup.substringDedup(
        Seq((2L, "p q r t")).toDF("doc_id", "text").unionByName(batchDf),
        "doc_id", "text", l = 3)
      .filter(col("doc_id") >= 10L).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == full)
    // ledger before compaction: 3 build rows + 2 negative delete rows;
    // compaction folds to one live row per key and drops the dead key
    assert(spark.table(tbl).count() == 5L)
    Dedup.compactSubstringKeys(spark, tbl)
    assert(spark.table(tbl).count() == 2L)
    assert(run(Seq((20L, "p q r z3"), (21L, "q r s z4"))
      .toDF("doc_id", "text")) == Seq((20L, "z3"), (21L, "q r s z4")))
  }

  test("appendSubstringKeys rejects an out-of-order or replayed batch") {
    val tbl = "graft_test_subkey_order"
    Dedup.buildSubstringKeys(Seq((5L, "a b c d")).toDF("doc_id", "text"),
      "doc_id", "text", l = 3, tbl)
    val e = intercept[IllegalArgumentException] {
      Dedup.appendSubstringKeys(Seq((5L, "x y z w")).toDF("doc_id",
        "text"), "doc_id", "text", l = 3, tbl)
    }
    assert(e.getMessage.contains("poison"))
  }

  test("deleteSubstringKeys rejects ids beyond the ingest watermark") {
    val tbl = "graft_test_subkey_delwm"
    Dedup.buildSubstringKeys(Seq((5L, "a b c d")).toDF("doc_id", "text"),
      "doc_id", "text", l = 3, tbl)
    val e = intercept[IllegalArgumentException] {
      Dedup.deleteSubstringKeys(Seq((9L, "a b c d")).toDF("doc_id",
        "text"), "doc_id", "text", l = 3, tbl)
    }
    assert(e.getMessage.contains("taken down"))
  }

  test("incrementalSubstringDedup rejects batch ids at or below history's") {
    val bad = Seq((2L, "z z z")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.incrementalSubstringDedup(hist, bad, "doc_id", "text", l = 3)
    }
    assert(e.getMessage.contains("sort after every history id"))
  }

  private val tokenless = Seq((1L, "!!!", 1), (2L, "???", 0), (3L, "...", 1))
    .toDF("id", "text", "y")

  test("logistic family degrades gracefully on a zero-featured-doc slice") {
    // r13 ADVICE: the global class-count agg returns null sums on an
    // empty docs frame — these must not NPE
    assert(functions.Curation.logisticTrain(tokenless, "id", "text",
      col("y") === 1, dim = 8, iters = 2).count() == 0L)
    assert(functions.Curation.logisticTrainCurve(tokenless, "id", "text",
      col("y") === 1, dim = 8, iters = 2).count() == 0L)
    assert(functions.Curation.learningCurve(tokenless, "id", "text",
      col("y") === 1, fractionsPct = Seq(50, 100), dim = 8,
      iters = 2).count() == 2L)
    // crossval folds with no featured docs emit no rows, not an error
    functions.Curation.logisticCrossVal(tokenless, "id", "text",
      col("y") === 1, k = 2, dim = 8, iters = 2).collect()
  }
}
