package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Large-scale training-data deduplication (beyond-reference north star):
  * exact, MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * 100 TB design rules baked in:
  *  - NEVER an all-pairs cross join: candidates come from LSH band bucketing
  *    (O(n·bands) shuffle), verified pairwise only within buckets;
  *  - exact dedup is one hash-partitioned groupBy (map-side combine);
  *  - all hashing is md5-derived (deterministic, engine-portable, seedable) —
  *    every step is reproducible across runs and engines, which the DuckDB
  *    oracle exploits;
  *  - signatures are fixed-width columns, not variable blobs, so the whole
  *    path stays in whole-stage codegen.
  */
object Dedup {

  /** Lowercased alphanumeric word tokens. */
  def words(text: Column): Column =
    filter(split(regexp_replace(lower(text), "[^a-z0-9]+", " "), " "),
      w => w =!= "")

  /** Distinct word k-shingles ("a b c" strings); empty when fewer than k
    * words. Built by zipping k-1 shifted slices — `ws` is evaluated a
    * CONSTANT number of times per row. (The naive
    * `transform(sequence(...), i -> element_at(ws, i+j))` form re-evaluates
    * the whole `ws` subtree per element inside the lambda — quadratic per
    * row, ~25× slower on real documents.) */
  def shingles(ws: Column, k: Int = 3): Column =
    array_distinct(shingleList(ws, k))

  /** Positional (NON-distinct) k-shingles, in document order — what
    * repetition metrics need (`shingles` is the distinct view for set
    * semantics). */
  def shingleList(ws: Column, k: Int = 3): Column = {
    val zipped = (2 to k).foldLeft(ws) { (acc, j) =>
      zip_with(acc, slice(ws, lit(j), greatest(size(ws) - (j - 1), lit(0))),
        (a, b) => when(b.isNull, lit(null)).otherwise(concat_ws(" ", a, b)))
    }
    when(size(ws) < k, array().cast("array<string>"))
      .otherwise(slice(zipped, lit(1), size(ws) - (k - 1)))
  }

  /** Shingle sets as a frame (id, shs). The words array is bound to a real
    * column first so multiple consumers share ONE evaluation per row
    * (CollapseProject keeps multiply-referenced non-trivial aliases). */
  def shingleSets(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame =
    df.withColumn("__ws", words(col(textCol)))
      .select(col(idCol), shingles(col("__ws"), k).as("shs"))

  /** Seeded 32-bit hash from md5 — identical in any engine with md5:
    * first 8 hex digits of md5("<seed>:<value>") as an unsigned int. */
  def seededHash(seed: Int, v: Column): Column =
    conv(substring(md5(concat(lit(s"$seed:"), v)), 1, 8), 16, 10).cast("long")

  /** Exact dedup at scale: one groupBy on md5(text), keeping the smallest id
    * per group (deterministic winner, unlike dropDuplicates). */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_count"))

  /** MinHash signatures: `numPerms` min-hash columns `h0..h{n-1}` per id.
    * One explode + one groupBy — the heavy lifting is a single shuffle with
    * partial aggregation. Permutations use the Kirsch-Mitzenmacher scheme
    * (h_i = h1 + i·h2 mod 2³²) so each shingle is md5'd ONCE, not numPerms
    * times — at 100 TB the hash work dominates this operator. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      numPerms: Int, shingleK: Int = 3): DataFrame =
    minhashFromSets(shingleSets(df, idCol, textCol, shingleK), idCol, numPerms)

  private[operators] def minhashFromSets(sets: DataFrame, idCol: String,
      numPerms: Int): DataFrame = {
    val exploded = sets.select(col(idCol), explode(col("shs")).as("sh"))
      .withColumn("__md5", md5(col("sh")))
      .withColumn("__ha", conv(substring(col("__md5"), 1, 8), 16, 10).cast("long"))
      .withColumn("__hb", conv(substring(col("__md5"), 9, 8), 16, 10).cast("long"))
    val aggs = (0 until numPerms).map(i =>
      min((col("__ha") + lit(i.toLong) * col("__hb")) % lit(4294967296L)).as(s"h$i"))
    exploded.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** MinHash+LSH near-duplicate pairs: exact-dup pre-pass → signatures over
    * distinct content → banded bucket join → true-Jaccard verify → group
    * re-expansion. Returns (id_a, id_b, jaccard) with id_a < id_b,
    * jaccard >= threshold.
    *
    * bands×rowsPerBand = numPerms. Candidate generation is a self-join on
    * (band, band_key) — skew-safe because band keys are hashes; at 100 TB
    * the bucket join shuffles O(n·bands) rows, never O(n²).
    *
    * EXACT-DUP PRE-PASS: identical texts have identical signatures, so a
    * group of m exact copies would put m rows in every one of its band
    * buckets — O(m²) candidate pairs per bucket, the classic LSH blow-up on
    * real corpora (where exact duplication is heavy). Instead LSH runs over
    * ONE representative per distinct content (min id) and membership is
    * re-expanded afterwards. The output is provably identical to running
    * LSH over every row, because signatures depend only on content: two
    * rows share a bucket iff their representatives do. */
  /** @param maxBucket optional per-bucket cap (default: unlimited). The
    *   exact-dup pre-pass removes byte-identical floods, but m NEAR-identical
    *   documents (templated spam, boilerplate) still share every band key and
    *   cost O(m²) candidates. Buckets larger than the cap are degenerate
    *   ("everything matches everything") and are dropped wholesale — a
    *   recall/cost trade the caller opts into; pair discovery for capped
    *   content should fall back to coarser keys (e.g. exactDedup on a
    *   normalized prefix). */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
      bands: Int = 4, rowsPerBand: Int = 2, threshold: Double = 0.8,
      shingleK: Int = 3, maxBucket: Int = Int.MaxValue): DataFrame = {
    val numPerms = bands * rowsPerBand
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val hashed = df.select(col(idCol).as("id"), col(textCol).as("__text"))
      .withColumn("__th", md5(col("__text")))
    // one groupBy on the content hash yields the representative per group …
    val repAgg = hashed.groupBy("__th")
      .agg(min(col("id")).as("rep"), min_by(col("__text"), col("id")).as("__text"))
      .persist(lvl)
    // … the membership map (id → rep) …
    val members = hashed.select(col("id"), col("__th"))
      .join(repAgg.select(col("__th"), col("rep")), "__th")
      .select(col("id"), col("rep"))
      .persist(lvl)
    // … and the distinct-content frame LSH actually runs on.
    val reps = repAgg.select(col("rep").as("id"), col("__text"))

    // shingle sets feed the signature AND both sides of the verify join —
    // persist once instead of re-tokenizing the corpus three times
    val sets = shingleSets(reps, "id", "__text", shingleK).persist(lvl)
    val sig = minhashFromSets(sets, "id", numPerms)

    // band rows: (id, band, key = "_"-joined minhashes of the band)
    val bandStructs = (0 until bands).map { b =>
      val key = concat_ws("_",
        (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}").cast("string")): _*)
      struct(lit(b).as("band"), key.as("bkey"))
    }
    val bandRows = sig.select(col("id"),
        explode(array(bandStructs: _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))

    val capped =
      if (maxBucket == Int.MaxValue) bandRows
      else {
        val wB = org.apache.spark.sql.expressions.Window.partitionBy("band", "bkey")
        bandRows.withColumn("__bs", count(lit(1)).over(wB))
          .filter(col("__bs") <= maxBucket).drop("__bs")
      }
    val a = capped.alias("a")
    val b = capped.alias("b")
    val candidates = a.join(b,
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

    // Re-expansion. Intra-group: every pair of exact copies has Jaccard 1.0
    // exactly — but only groups whose representative produced a signature
    // (non-empty shingle set) ever appeared in LSH, matching the all-rows
    // semantics where short docs emit no pairs.
    val sigReps = sets.filter(size(col("shs")) > 0).select(col("id").as("rep"))
    val inSig = members.join(sigReps, "rep")
    val intra = inSig.select(col("rep"), col("id").as("id_a"))
      .join(inSig.select(col("rep"), col("id").as("id_b")), "rep")
      .filter(col("id_a") < col("id_b") && lit(1.0) >= lit(threshold))
      .select(col("id_a"), col("id_b"), lit(1.0).as("jaccard"))
    // Cross-group: each verified representative pair expands to all member
    // combinations (hash joins on rep — no new shuffling shape).
    val cross = repPairs
      .join(members.select(col("rep").as("ra"), col("id").as("xa")), "ra")
      .join(members.select(col("rep").as("rb"), col("id").as("xb")), "rb")
      .select(least(col("xa"), col("xb")).as("id_a"),
        greatest(col("xa"), col("xb")).as("id_b"), col("jaccard"))
    intra.unionByName(cross)
  }

  /** Planted-pair recall audit for MinHash-LSH banding — the honesty gate
    * the banding parameters need (the x69/x168 pattern pointed at text
    * dedup): take a bounded deterministic md5 sample of documents, plant
    * one perturbed near-duplicate per doc (the same text minus its last
    * `dropLast` words — its shingle set is a strict subset, so the true
    * Jaccard is known and high), run the production LSH over
    * originals ∪ plants, and report what fraction of the
    * above-threshold planted pairs the banding recovered. A recall
    * printed here is the recall the 100 TB dedup run will have at that
    * similarity level — measured, not inferred from the S-curve.
    *
    * Bounded by construction: 2·sampleN documents total, the truth side
    * is the sampleN planted pairs (never all-pairs), and the sample
    * ranking (md5 of "lshaudit:id", id tiebreak) is engine-replayable.
    * Output: one row (n_planted, n_qualifying, n_hit, recall). */
  def lshPlantedRecall(df: DataFrame, idCol: String, textCol: String,
      bands: Int = 4, rowsPerBand: Int = 2, threshold: Double = 0.8,
      shingleK: Int = 3, sampleN: Int = 64, dropLast: Int = 8): DataFrame = {
    require(sampleN >= 1 && sampleN <= 1024, "sampleN must be in [1, 1024]")
    require(dropLast >= 1, "dropLast must be positive")
    val sample = df.select(col(idCol).cast("long").as("id"),
        col(textCol).as("__text"))
      .withColumn("__rk", conv(substring(md5(concat(lit("lshaudit:"),
        col("id").cast("string"))), 1, 8), 16, 10).cast("long"))
      .orderBy(col("__rk"), col("id")).limit(sampleN)
      .select(col("id"), col("__text"))
    // plants carry id' = -id - 1 (disjoint from non-negative corpus ids)
    val planted = sample.select((-col("id") - 1).as("id"),
      concat_ws(" ", slice(words(col("__text")), lit(1),
        greatest(size(words(col("__text"))) - dropLast, lit(0)))).as("__text"))
    val all = sample.unionByName(planted).localCheckpoint(eager = true)
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val sets = shingleSets(all, "id", "__text", shingleK).persist(lvl)
    val orig = sets.filter(col("id") >= 0 && size(col("shs")) > 0)
      .select(col("id").as("oid"), col("shs").as("__so"))
    val cop = sets.filter(col("id") < 0)
      .select((-col("id") - 1).as("oid"), col("id").as("cid"),
        col("shs").as("__sc"))
    val qual = orig.join(cop, "oid")
      .select(col("oid"), col("cid"),
        jaccardOf(col("__so"), col("__sc")).as("__j"))
      .withColumn("__q", (col("__j") >= threshold).cast("long"))
    val lsh = minhashNearDups(all, "id", "__text", bands, rowsPerBand,
        threshold, shingleK)
      .select(col("id_a"), col("id_b")).withColumn("__hit", lit(1L))
    // planted pair sorts as (cid, oid): the plant id is negative
    qual.join(lsh, qual("cid") === lsh("id_a") && qual("oid") === lsh("id_b"),
        "left")
      .agg(count(lit(1)).as("n_planted"),
        sum(col("__q")).as("n_qualifying"),
        sum(when(col("__q") === 1L, coalesce(col("__hit"), lit(0L)))
          .otherwise(0L)).as("n_hit"))
      .select(col("n_planted"), col("n_qualifying"), col("n_hit"),
        when(col("n_qualifying") === 0, lit(null)).otherwise(
          round(col("n_hit").cast("double") /
            col("n_qualifying").cast("double"), 6)).as("recall"))
  }

  /** Incremental-ingest exact dedup: drop batch rows whose content already
    * exists in the (much larger) history, then keep one min-id winner per
    * content within the batch — the "dedupe today's crawl against
    * everything ever crawled" step. A Bloom filter of history content
    * hashes splits the batch: definitely-new rows skip the join entirely
    * (no false negatives ⇒ safe), only maybe-dup rows pay the exact
    * left-anti confirm (false positives cost a lookup, never a wrong
    * drop). Returns (text_hash, idCol = min surviving id, n_dups).
    *
    * 100 TB design: history is touched ONCE to build the filter — now
    * built IN-PLAN ([[BloomPrune.bloomAgg]], r14 verdict #6: no eager
    * count job, no driver round-trip) — plus the anti join against only
    * the maybe subset; at a typical <1% batch-vs-history overlap the
    * join probe is ~fpp·|batch| rows, not |batch|. An empty history
    * yields a NULL filter ⇒ `maybe` coalesces to false ⇒ the whole
    * batch takes the skip-the-join branch, the old n==0 special case
    * for free. */
  def incrementalDedup(history: DataFrame, batch: DataFrame, idCol: String,
      textCol: String, fpp: Double = 0.01): DataFrame = {
    val b = batch.select(col(idCol),
      seededHash(2, col(textCol)).as("__pk"), md5(col(textCol)).as("text_hash"))
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // persisted: the sizing count, the in-plan filter build, and the
    // exact anti-join confirm all read the distinct history keys — one
    // history scan backs all three
    val h = history.select(seededHash(2, col(textCol)).as("__pk"),
      md5(col(textCol)).as("text_hash")).distinct().persist(lvl)
    // exact-count sizing (the explicit build-side scan of the pre-in-plan
    // shape): a fixed estItems allocates per-partial-task bit buffers for
    // the WORST case — ~4.8 MB × |partitions| of churn when history is
    // small — while |h| bits-per-key scales with the data
    val nh = math.max(h.count(), 1L)
    val bm = b.withColumn("__maybe",
      coalesce(BloomPrune.bloomProbe(h, col("__pk"), col("__pk"),
        estItems = nh, fpp = fpp), lit(false)))
    val surv = bm.filter(!col("__maybe")).drop("__maybe")
      .unionByName(bm.filter(col("__maybe")).drop("__maybe")
        .join(h.select("text_hash"), Seq("text_hash"), "left_anti"))
    surv.groupBy("text_hash")
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_dups"))
  }

  /** Cross-corpus MinHash+LSH near-duplicate pairs: the FUZZY
    * decontamination / contamination-audit primitive — find (left, right)
    * pairs whose texts are near-identical across two different corpora
    * (train vs eval set, fresh crawl vs existing corpus). Same banded
    * machinery as [[minhashNearDups]], but the candidate join is
    * left-bands ⋈ right-bands: still an equi-join on (band, key), still
    * O(n·bands) shuffle — never a cross join between the corpora.
    * Returns (id_a ∈ left, id_b ∈ right, jaccard ≥ threshold). */
  def minhashCrossDups(left: DataFrame, right: DataFrame, idCol: String,
      textCol: String, bands: Int = 4, rowsPerBand: Int = 2,
      threshold: Double = 0.8, shingleK: Int = 3): DataFrame = {
    val numPerms = bands * rowsPerBand
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    def prep(df: DataFrame) = shingleSets(
      df.select(col(idCol).as("id"), col(textCol).as("__text")),
      "id", "__text", shingleK).persist(lvl)
    def bandRows(sets: DataFrame) = {
      val sig = minhashFromSets(sets, "id", numPerms)
      val bandStructs = (0 until bands).map { b =>
        val key = concat_ws("_", (0 until rowsPerBand)
          .map(r => col(s"h${b * rowsPerBand + r}").cast("string")): _*)
        struct(lit(b).as("band"), key.as("bkey"))
      }
      sig.select(col("id"), explode(array(bandStructs: _*)).as("bk"))
        .select(col("id"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
    }
    val setsL = prep(left)
    val setsR = prep(right)
    val candidates = bandRows(setsL).alias("a")
      .join(bandRows(setsR).alias("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val inter = size(array_intersect(col("shs_a"), col("shs_b")))
    candidates
      .join(setsL.select(col("id").as("id_a"), col("shs").as("shs_a")), "id_a")
      .join(setsR.select(col("id").as("id_b"), col("shs").as("shs_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        (inter.cast("double") /
          (size(col("shs_a")) + size(col("shs_b")) - inter)).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** SimHash: 32-bit signature from token hashes with multiplicity — bit j of
    * the signature is 1 when the weighted sum of (±1 per token occurrence)
    * is positive. One explode + one groupBy with 32 conditional sums. */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tokens = df.select(col(idCol), explode(words(col(textCol))).as("tok"))
      .withColumn("h", seededHash(0, col("tok")))
    val bitSums = (0 until 32).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$j")
    }
    val agg = tokens.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
    val value = (0 until 32).map { j =>
      when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    agg.select(col(idCol), value.as("simhash"))
  }

  /** SimHash near-duplicate pairs: signatures → byte-banded bucket join →
    * hamming verify. Pigeonhole guarantee: two 32-bit signatures within
    * hamming distance 3 differ in at most 3 of the 4 bytes, so they share
    * at least one identical (band, byte) bucket — full recall for
    * `maxHamming` ≤ 3, heuristic above. Same skeleton as minhashNearDups:
    * exact-dup pre-pass (identical text ⇒ identical signature), candidates
    * from an equi-join, re-expansion — never all-pairs. */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val hashed = df.select(col(idCol).as("id"), col(textCol).as("__text"))
      .withColumn("__th", md5(col("__text")))
    val repAgg = hashed.groupBy("__th")
      .agg(min(col("id")).as("rep"), min_by(col("__text"), col("id")).as("__text"))
      .persist(lvl)
    val members = hashed.select(col("id"), col("__th"))
      .join(repAgg.select(col("__th"), col("rep")), "__th")
      .select(col("id"), col("rep"))
      .persist(lvl)

    val sig = simhash(repAgg.select(col("rep").as("id"), col("__text")),
      "id", "__text").persist(lvl)
    val bandRows = sig.select(col("id"), posexplode(array((0 until 4).map(b =>
        shiftright(col("simhash"), b * 8).bitwiseAND(255)): _*)))
      .select(col("id"), col("pos").as("band"), col("col").as("bv"))
    val cands = bandRows.alias("a").join(bandRows.alias("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("ra"), col("b.id").as("rb")).distinct()
    val sa = sig.select(col("id").as("ra"), col("simhash").as("__sa"))
    val sb = sig.select(col("id").as("rb"), col("simhash").as("__sb"))
    val repPairs = cands.join(sa, "ra").join(sb, "rb")
      .select(col("ra"), col("rb"),
        bit_count(col("__sa").bitwiseXOR(col("__sb"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)

    // identical text ⇒ identical signature ⇒ hamming 0 (always ≤ max);
    // only groups whose rep SIGNED (had tokens) pair, matching all-rows
    val inSig = members.join(sig.select(col("id").as("rep")), "rep")
    val intra = inSig.select(col("rep"), col("id").as("id_a"))
      .join(inSig.select(col("rep"), col("id").as("id_b")), "rep")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(0).as("hamming"))
    val cross = repPairs
      .join(members.select(col("rep").as("ra"), col("id").as("xa")), "ra")
      .join(members.select(col("rep").as("rb"), col("id").as("xb")), "rb")
      .select(least(col("xa"), col("xb")).as("id_a"),
        greatest(col("xa"), col("xb")).as("id_b"), col("hamming"))
    intra.unionByName(cross)
  }

  /** Near-dup pairs → dedup GROUPS: connected components over the pair
    * graph by iterative min-label propagation. Each round is one edge join
    * + one min aggregate (all hash-partitioned on the node id — the
    * standard scalable CC formulation); labels converge to the component's
    * minimum id in ≤ graph-diameter rounds. `iters` is FIXED so the
    * computation is a deterministic, engine-replayable plan; dedup
    * clusters are near-cliques (diameter 1-2), so a handful of rounds
    * converges. Returns (node, component) for every node with ≥1 edge —
    * keep `component = node` rows as survivors, drop the rest. */
  def nearDupComponents(pairs: DataFrame, iters: Int = 4,
      checkpointDir: Option[String] = None): DataFrame = {
    // pairs is read twice to build the undirected edge list — persist it so
    // an expensive upstream (the whole LSH pipeline) executes once
    val p0 = pairs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val und = p0.select(col("id_a").as("u"), col("id_b").as("v"))
      .unionByName(p0.select(col("id_b").as("u"), col("id_a").as("v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = und.select(col("u").as("node")).distinct()
      .withColumn("lab", col("node"))
    for (_ <- 1 to iters) {
      val viaEdges = und.join(labels.withColumnRenamed("node", "v"), "v")
        .select(col("u").as("node"), col("lab"))
      // each round references the previous labels TWICE (identity ∪ via
      // edges); lineage-truncate per round so the work stays linear in
      // `iters` — persist alone leaves a plan tree that grows every round
      // and is re-analyzed on the driver by every later round AND every
      // downstream consumer (measured ~4 s of planning per action behind
      // this chain at sf0.1; see Graph.pageRank). checkpointDir switches
      // local (executor-block) truncation to reliable storage-backed
      // checkpoints for cluster runs — see Checkpoints.truncate.
      labels = Checkpoints.truncate(labels.unionByName(viaEdges)
        .groupBy("node").agg(min(col("lab")).as("lab")),
        checkpointDir)
    }
    labels.select(col("node"), col("lab").as("component"))
  }

  /** Distinct char n-grams per id: (id, grams). */
  private def charGrams(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    df.withColumn("__norm", trim(regexp_replace(lower(col(textCol)), "[^a-z0-9]+", " ")))
      // dynamic-position substring needs the SQL form of transform
      .select(col(idCol).as("id"),
        array_distinct(expr(
          s"case when length(__norm) >= $n then " +
          s"transform(sequence(1, length(__norm) - ${n - 1}), i -> substring(__norm, i, $n)) " +
          s"else array() end")).as("grams"))

  private def jaccardOf(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      (size(a) + size(b) - size(array_intersect(a, b)))

  /** Character n-gram Jaccard verified over an EXPLICIT candidate-pair frame
    * `(id_a, id_b)` — the same verify shape `minhashNearDups` uses for its
    * LSH buckets. Cost is two hash equi-joins: O(|candidates| + |df|), never
    * all-pairs, so this entry point is safe on unbounded inputs. */
  def charNgramJaccard(df: DataFrame, idCol: String, textCol: String,
      candidates: DataFrame, n: Int): DataFrame = {
    require(candidates.columns.contains("id_a") && candidates.columns.contains("id_b"),
      "candidate frame must have columns (id_a, id_b)")
    val grams = charGrams(df, idCol, textCol, n)
    val ga = grams.select(col("id").as("id_a"), col("grams").as("ga"))
    val gb = grams.select(col("id").as("id_b"), col("grams").as("gb"))
    candidates.select("id_a", "id_b").join(ga, "id_a").join(gb, "id_b")
      .select(col("id_a"), col("id_b"), jaccardOf(col("ga"), col("gb")).as("jaccard"))
  }

  /** Asymmetric n-gram CONTAINMENT over an EXPLICIT candidate-pair frame —
    * the verify primitive for quote/subset detection, where Jaccard fails:
    * a paragraph wholly quoted inside a much longer document has low
    * Jaccard (the union is huge) but containment(A in B) =
    * |grams(A)∩grams(B)| / |grams(A)| ≈ 1. Reported in integer basis
    * points both directions, so the gate never touches a float. Same cost
    * shape as [[charNgramJaccard]]: two hash equi-joins, never all-pairs. */
  def ngramContainment(df: DataFrame, idCol: String, textCol: String,
      candidates: DataFrame, n: Int): DataFrame = {
    require(candidates.columns.contains("id_a") && candidates.columns.contains("id_b"),
      "candidate frame must have columns (id_a, id_b)")
    val grams = charGrams(df, idCol, textCol, n)
    val ga = grams.select(col("id").as("id_a"), col("grams").as("ga"))
    val gb = grams.select(col("id").as("id_b"), col("grams").as("gb"))
    candidates.select("id_a", "id_b").join(ga, "id_a").join(gb, "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("ga"), col("gb"))).cast("long").as("n_inter"),
        size(col("ga")).cast("long").as("n_a"),
        size(col("gb")).cast("long").as("n_b"))
      .select(col("id_a"), col("id_b"), col("n_inter"), col("n_a"), col("n_b"),
        when(col("n_a") > 0, expr("n_inter * 10000 div n_a"))
          .otherwise(0L).as("containment_a_bps"),
        when(col("n_b") > 0, expr("n_inter * 10000 div n_b"))
          .otherwise(0L).as("containment_b_bps"))
  }

  /** Edit-distance verify over an EXPLICIT candidate-pair frame — the third
    * verify primitive next to Jaccard (charNgramJaccard) and cosine: exact
    * Levenshtein distance plus a length-normalized similarity. Candidates
    * come from LSH/simhash buckets or any bounded pairing; cost is two hash
    * equi-joins + a per-pair DP, never all-pairs. */
  def editDistanceVerify(df: DataFrame, idCol: String, textCol: String,
      candidates: DataFrame): DataFrame = {
    require(candidates.columns.contains("id_a") && candidates.columns.contains("id_b"),
      "candidate frame must have columns (id_a, id_b)")
    val ta = df.select(col(idCol).as("id_a"), col(textCol).as("__ta"))
    val tb = df.select(col(idCol).as("id_b"), col(textCol).as("__tb"))
    candidates.select("id_a", "id_b").join(ta, "id_a").join(tb, "id_b")
      .select(col("id_a"), col("id_b"),
        levenshtein(col("__ta"), col("__tb")).cast("long").as("edit_distance"),
        round(lit(1.0) - levenshtein(col("__ta"), col("__tb")).cast("double") /
          greatest(length(col("__ta")), length(col("__tb")), lit(1)), 4)
          .as("similarity"))
  }

  /** All-pairs convenience for a SMALL bounded block (an LSH bucket, a
    * sampled window). The bound is enforced IN the plan: a global window
    * count feeds a `raise_error` guard on the grams column, so exceeding
    * `maxRows` fails the job at runtime — lazily (no builder-time action)
    * and un-prunable (the guard wraps a column every downstream op reads).
    * The O(n²) discovery path is therefore unreachable on large frames;
    * for those, generate candidates (LSH) and call [[charNgramJaccard]].
    * The global window serializes the block through one partition — fine
    * precisely because the block is bounded. */
  def charNgramJaccardBlock(df: DataFrame, idCol: String, textCol: String,
      n: Int = 4, maxRows: Int = 10000): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    val guarded = charGrams(df, idCol, textCol, n)
      .withColumn("__cnt", count(lit(1)).over(w))
      .withColumn("grams",
        when(col("__cnt") > maxRows,
          raise_error(concat(lit("charNgramJaccardBlock: block has "),
            col("__cnt").cast("string"),
            lit(s" rows > maxRows=$maxRows — pass a candidate-pair frame" +
              " to charNgramJaccard instead"))).cast("array<string>"))
        .otherwise(col("grams")))
      .drop("__cnt")
    val a = guarded.select(col("id").as("id_a"), col("grams").as("ga"))
    val b = guarded.select(col("id").as("id_b"), col("grams").as("gb"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), jaccardOf(col("ga"), col("gb")).as("jaccard"))
  }

  /** EXACT set-similarity self-join via prefix filtering (PPJoin-style) —
    * the guarantee-carrying complement to [[minhashNearDups]]: zero false
    * negatives at Jaccard ≥ num/den, no probabilistic banding.
    *
    * Theorem: fix ANY one global total order on tokens (here: ascending
    * document frequency, token as tiebreak — rare first); two sets with
    * Jaccard ≥ t MUST share a token within each other's first
    * |x| − ⌈t·|x|⌉ + 1 tokens under that order. So candidates come from an
    * EQUI-join on prefix tokens only — and rare-first ordering makes those
    * the least-shared tokens, keeping the candidate count near the
    * true-pair count. The threshold is a rational num/den and every gate
    * comparison is integer-exact (⌈t·sz⌉ = (num·sz + den − 1) div den;
    * verify cross-multiplies).
    *
    * 100 TB design — candidates track DISTINCT contents, not rows: a
    * content-group pre-pass collapses identical shingle multisets (md5 of
    * the array) to one representative before the quadratic candidate
    * stage, exactly the discipline [[minhashNearDups]] uses. A crawl-like
    * corpus where half the rows are exact dups pays the PPJoin price only
    * on the distinct half; within-group pairs are emitted directly
    * (identical sets ⇒ Jaccard exactly 1 ≥ any proper-fraction t) and
    * cross-group pairs expand from the representative verdict (members
    * share their representative's set, so the Jaccard carries over
    * verbatim). Output is bit-identical to the naive all-rows form —
    * the theorem holds for the rep-frequency order too, it is still one
    * consistent global order.
    *
    * `maxTokenDf` (> 0 to enable) drops prefix tokens whose representative
    * document frequency exceeds the cap from CANDIDATE GENERATION only —
    * an OPTIONAL, EXACTNESS-BREAKING throttle for ultra-common shingles,
    * mirroring `minhashNearDups(maxBucket)`: a pair whose every shared
    * prefix token is capped is silently missed (within-group exact-dup
    * pairs are never affected). Leave 0 for the zero-false-negative
    * contract; use [[prefixCandidateStats]] to see which tokens a cap
    * would touch before trading recall for a bounded join.
    *
    * Persisted frames (the rep sets and the narrow id→group map) follow
    * the caller-managed lifetime convention of [[minhashNearDups]]. */
  def prefixFilterJoin(df: DataFrame, idCol: String, textCol: String,
      thresholdNum: Int = 4, thresholdDen: Int = 5,
      maxTokenDf: Int = 0): DataFrame = {
    require(thresholdNum > 0 && thresholdNum < thresholdDen,
      "threshold must be a proper fraction")
    val w = org.apache.spark.sql.expressions.Window
    val hashed = shingleSets(df, idCol, textCol)
      .filter(size(col("shs")) > 0)
      .withColumn("__h", md5(concat_ws("\u0001", col("shs"))))
    // narrow (id, group) map — the only all-rows frame the pair stages
    // touch; everything quadratic below runs on representatives.
    val members = hashed.select(col(idCol).as("id"), col("__h")).persist()
    val reps = hashed.groupBy("__h")
      .agg(min(col(idCol)).as("id"), first(col("shs")).as("shs"))
      .persist()
    val toks = reps.select(col("id"), col("__h"), explode(col("shs")).as("tok"))
    val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    val pref = toks.join(dfreq, "tok")
      .withColumn("rn", row_number().over(
        w.partitionBy("id").orderBy(col("df"), col("tok"))))
      .withColumn("sz", count(lit(1)).over(w.partitionBy("id")))
      .filter(col("rn") <=
        col("sz") - expr(s"($thresholdNum * sz + ${thresholdDen - 1}) div $thresholdDen") + 1)
      .filter(if (maxTokenDf > 0) col("df") <= maxTokenDf else lit(true))
      .select(col("id"), col("__h"), col("tok"), col("rn"), col("sz"))
    // Two further exactness-preserving candidate pruners (PPJoin proper),
    // both integer cross-multiplied:
    //  - length filter: J ≥ t forces t·max(|x|,|y|) ≤ min(|x|,|y|), so
    //    wildly different sizes never verify — drop them pre-shuffle;
    //  - positional filter: for the EARLIEST shared token (global
    //    freq-then-token order), everything before it in either list is
    //    unshared, so overlap ≤ 1 + min(szₓ−rnₓ, sz_y−rn_y); a true pair
    //    keeps at least that token's match row because the earliest shared
    //    token always lies inside both prefixes.
    val need = thresholdNum + thresholdDen
    val cand = pref.select(col("id").as("id_a"), col("__h").as("__ha"), col("tok"),
        col("rn").as("rn_a"), col("sz").as("sz_a"))
      .join(pref.select(col("id").as("id_b"), col("__h").as("__hb"), col("tok"),
        col("rn").as("rn_b"), col("sz").as("sz_b")), "tok")
      .filter(col("id_a") < col("id_b"))
      .filter(lit(thresholdNum) * col("sz_a") <= lit(thresholdDen) * col("sz_b") &&
        lit(thresholdNum) * col("sz_b") <= lit(thresholdDen) * col("sz_a"))
      .filter((least(col("sz_a") - col("rn_a"), col("sz_b") - col("rn_b")) +
        lit(1)) * lit(need) >= lit(thresholdNum) * (col("sz_a") + col("sz_b")))
      .select("id_a", "id_b", "__ha", "__hb").distinct()
    // verify on representatives only → (group_a, group_b, jaccard)
    val repPairs = cand
      .join(reps.select(col("id").as("__ia"), col("shs").as("__sa")),
        col("id_a") === col("__ia"))
      .join(reps.select(col("id").as("__ib"), col("shs").as("__sb")),
        col("id_b") === col("__ib"))
      .withColumn("__i", size(array_intersect(col("__sa"), col("__sb"))))
      .withColumn("__u",
        size(col("__sa")) + size(col("__sb")) - col("__i"))
      .filter(col("__i") * thresholdDen >= lit(thresholdNum) * col("__u"))
      .select(col("__ha"), col("__hb"),
        round(col("__i").cast("double") / col("__u"), 4).as("jaccard"))
    // expansion: identical-content pairs (Jaccard exactly 1)…
    val within = members.select(col("id").as("id_a"), col("__h"))
      .join(members.select(col("id").as("id_b"), col("__h")), "__h")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(1.0).as("jaccard"))
    // …plus every member×member pair of each verified group pair (ids of
    // different groups interleave, so re-order with least/greatest).
    val cross = repPairs
      .join(members.select(col("id").as("__ma"), col("__h").as("__ha")), "__ha")
      .join(members.select(col("id").as("__mb"), col("__h").as("__hb")), "__hb")
      .select(least(col("__ma"), col("__mb")).as("id_a"),
        greatest(col("__ma"), col("__mb")).as("id_b"), col("jaccard"))
    within.unionByName(cross)
  }

  /** Candidate-cost diagnostic for [[prefixFilterJoin]] — run this BEFORE
    * trading recall for a `maxTokenDf` cap: one row per prefix token with
    * its representative document frequency (`df`, over distinct contents),
    * how many representative prefixes it appears in (`df_pref`), and the
    * candidate pairs it alone would feed into the equi-join
    * (`cand_pairs` = df_pref·(df_pref−1)/2, pre length/positional
    * filters). The skew story of the join is the head of this frame
    * sorted by `cand_pairs`: a handful of ultra-common shingles producing
    * most candidates is precisely the case the cap exists for. Same
    * content-group collapse and rare-first ranking as the join itself, so
    * the numbers are the join's actual inputs, not an approximation. */
  def prefixCandidateStats(df: DataFrame, idCol: String, textCol: String,
      thresholdNum: Int = 4, thresholdDen: Int = 5): DataFrame = {
    require(thresholdNum > 0 && thresholdNum < thresholdDen,
      "threshold must be a proper fraction")
    val w = org.apache.spark.sql.expressions.Window
    val reps = shingleSets(df, idCol, textCol)
      .filter(size(col("shs")) > 0)
      .withColumn("__h", md5(concat_ws("\u0001", col("shs"))))
      .groupBy("__h")
      .agg(min(col(idCol)).as("id"), first(col("shs")).as("shs"))
    val toks = reps.select(col("id"), explode(col("shs")).as("tok"))
    val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    toks.join(dfreq, "tok")
      .withColumn("rn", row_number().over(
        w.partitionBy("id").orderBy(col("df"), col("tok"))))
      .withColumn("sz", count(lit(1)).over(w.partitionBy("id")))
      .filter(col("rn") <=
        col("sz") - expr(s"($thresholdNum * sz + ${thresholdDen - 1}) div $thresholdDen") + 1)
      .groupBy("tok")
      .agg(first(col("df")).as("df"), count(lit(1)).as("df_pref"))
      .withColumn("cand_pairs", expr("df_pref * (df_pref - 1) div 2"))
  }

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken — the MOSS
    * algorithm, at word granularity): hash every `k`-WORD shingle, slide a
    * window of `w` consecutive shingle hashes, keep each window's MINIMUM
    * hash (ties → rightmost position), dedup'd per document. The guarantee
    * the other near-dup primitives lack: any shared word run of ≥
    * w + k − 1 words yields at least one SHARED fingerprint — minhash sees
    * whole-document similarity, simhash near-identity; winnowing finds
    * LOCAL overlap (quotes, partial plagiarism) with a proof, at expected
    * density 2/(w+1) of the shingle count. Word shingles (the minhash
    * granularity) keep the hash count ~6× below char-grams at equal
    * detection power for quote-length matches.
    *
    * 100 TB design: shingle hashing is expression-only; the per-window
    * minimum is a frame-bounded window aggregate `min(struct(h, -p))`
    * (lexicographic struct order ⇒ smallest hash, ties to the RIGHTMOST
    * position) — one shuffle on the document key, codegen'd end to end.
    * Deliberately NOT the nested-lambda array formulation
    * (aggregate-inside-transform with an outer lambda reference hangs
    * Catalyst's optimizer on Spark 4.1); window-over-posexplode is the
    * battle-tested equivalent and DuckDB replays it verbatim.
    * Returns (id, fp_hash, fp_pos), distinct. */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 4): DataFrame = {
    require(k >= 1 && k <= 16, s"k=$k out of [1,16]")
    require(w >= 2 && w <= 64, s"w=$w out of [2,64]")
    val grams = df
      .withColumn("__ws", words(col(textCol)))
      .filter(size(col("__ws")) >= k)
      // shuffle BEFORE the hash work, not after: the window below needs
      // hash-partitioning on id anyway, so repartitioning here elides the
      // window's own Exchange (same shuffle count) while moving the md5
      // extraction behind the full partition fan-out — otherwise a compact
      // source (one parquet row-group) serializes all hashing on one core,
      // and the shuffled payload is the raw word arrays, smaller than the
      // k-times-duplicated exploded shingles
      .repartition(col(idCol))
      .select(col(idCol).as("id"), posexplode(expr(
        s"transform(sequence(1, size(__ws) - ${k - 1}), i -> " +
          s"cast(conv(substring(md5(array_join(slice(__ws, i, $k), ' ')), 1, 8), 16, 10) as bigint))"))
        .as(Seq("__i", "h")))
      .select(col("id"), (col("__i") + 1).cast("int").as("p"), col("h"))
    val frame = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("p")
      .rowsBetween(org.apache.spark.sql.expressions.Window.currentRow, w - 1)
    val perDoc = org.apache.spark.sql.expressions.Window.partitionBy("id")
    grams
      .withColumn("__best",
        min(struct(col("h"), (-col("p")).as("np"))).over(frame))
      .withColumn("__n", count(lit(1)).over(perDoc))
      // full windows only: starts p ≤ n−w+1; short docs (n < w) keep the
      // single all-grams window at p = 1
      .filter(col("p") <= greatest(col("__n") - (w - 1), lit(1)))
      .select(col("id"), col("__best.h").as("fp_hash"),
        (-col("__best.np")).as("fp_pos"))
      .distinct()
  }

  /** Local-overlap pair discovery over [[winnowFingerprints]]: the
    * inverted-index shape — fingerprints equi-join on fp_hash, document
    * frequency capped at `maxDf` (a fingerprint present in more documents
    * than that is boilerplate, and the winnowing guarantee is about rare
    * shared content, not chrome), pairs gated at ≥ `minShared` shared
    * hashes. One groupBy for the df filter + one hash join + one pair
    * aggregate; the cap bounds every posting list, so no bucket can go
    * quadratic. Returns (id_a, id_b, n_shared). */
  def winnowMatches(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 4, minShared: Long = 3,
      maxDf: Long = 16): DataFrame = {
    // eager lineage truncation, not lazy persist: this frame feeds FOUR
    // scans of one plan (df filter + both join sides + the aggregate), and
    // a lazy cache lets parallel stages race its first materialization and
    // re-run the whole fingerprint extraction per scan
    val fps = winnowFingerprints(df, idCol, textCol, k, w)
      .select(col("id"), col("fp_hash")).distinct()
      .localCheckpoint()
    val rare = fps.groupBy("fp_hash")
      .agg(countDistinct(col("id")).as("__df"))
      .filter(col("__df") <= maxDf)
      .select("fp_hash")
    val kept = fps.join(rare, "fp_hash")
    kept.select(col("fp_hash"), col("id").as("id_a"))
      .join(kept.select(col("fp_hash"), col("id").as("id_b")), "fp_hash")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).cast("long").as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Cross-document duplicated-PASSAGE extraction (the substring-level
    * dedup of Lee et al. 2021, "Deduplicating Training Data Makes
    * Language Models Better", at word-k-gram granularity): for every
    * document, the maximal word spans whose every k-gram also appears in
    * at least one OTHER document — the passages a substring-dedup pass
    * would cut. Unlike [[winnowFingerprints]] (sampled fingerprints, used
    * to DETECT overlap) this reports the exact duplicated spans with
    * positions, and unlike [[ngramContainment]] (one doc-level score) it
    * localizes WHERE the duplication sits.
    *
    * Returns (id, start_word, end_word, n_words, n_dup_grams) — 1-based
    * inclusive word positions; overlapping/adjacent duplicated k-grams
    * merge into one maximal span (positions p, q chain iff q−p ≤ k, i.e.
    * their covered intervals [p, p+k−1], [q, q+k−1] touch).
    *
    * Scale shape: positional k-grams are a map-side posexplode; the
    * duplicated-gram set comes from one (gram-hash, doc) dedup +
    * per-hash count — hash-partitioned shuffles, skew-safe because keys
    * are md5 hashes; the join back is a shuffle join on the same hash
    * key (the dup-gram set is corpus-sized in the worst case — never
    * assume broadcast); island merging is a per-document window, and the
    * span aggregate reuses the window's doc partitioning (groupBy on a
    * superset of the partition key adds no exchange). */
  def duplicatedPassages(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    // the gram frame feeds BOTH the dup-gram aggregate and the join-back,
    // so the tokenize+shingle+md5 scan (the dominant map cost) must run
    // ONCE (r13 verdict). r13 used an eager localCheckpoint, but its
    // corpus × n_tokens blocks were only freed when the driver GC'd the
    // RDD — repeated calls accumulated executor storage (r14 ADVICE).
    // Now: persist the gram frame, eagerly materialize the RESULT (the
    // span frame — output-sized, orders of magnitude smaller than the
    // exploded grams), and release the gram blocks in finally — the
    // Curation call-site discipline.
    val grams = df
      .select(col(idCol),
        posexplode(shingleList(words(col(textCol)), k)).as(Seq("__p0", "__g")))
      .select(col(idCol), (col("__p0") + 1).as("__pos"), md5(col("__g")).as("__h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val dupGrams = grams.select(col(idCol), col("__h")).distinct()
        .groupBy("__h").agg(count(lit(1)).as("__nd"))
        .filter(col("__nd") >= 2).select("__h")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(idCol).orderBy("__pos")
      grams.join(dupGrams, "__h")
        .withColumn("__new", when(col("__pos") - lag("__pos", 1).over(w) > k, 1)
          .otherwise(0))
        .withColumn("__island", sum("__new").over(w))
        .groupBy(col(idCol), col("__island"))
        .agg(min("__pos").cast("long").as("start_word"),
          (max("__pos") + (k - 1)).cast("long").as("end_word"),
          count(lit(1)).cast("long").as("n_dup_grams"))
        .select(col(idCol), col("start_word"), col("end_word"),
          (col("end_word") - col("start_word") + 1L).as("n_words"),
          col("n_dup_grams"))
        .localCheckpoint(eager = true)
    } finally grams.unpersist()
  }

  /** Exact substring dedup (Lee et al. 2021, "Deduplicating Training Data
    * Makes Language Models Better", arXiv:2107.06499 — the ExactSubstr
    * family): every verbatim token run of length ≥ `l` that occurs more
    * than once in the corpus keeps its FIRST occurrence (global
    * (id, position) order) and is stripped everywhere else — within AND
    * across documents, the case [[duplicatedPassages]] only localizes and
    * [[graft.functions.Curation.removeBoilerplate]]'s distinct-doc
    * threshold misses (a passage repeated 50× inside ONE doc is
    * boilerplate-invisible but substring-dup). Returns one row per input
    * document: `clean_text` (survivors rejoined in order),
    * `n_tokens_kept`, `n_tokens_removed`.
    *
    * Suffix-array-free Spark shape: every length-`l` token window md5s
    * (one posexplode — n_tokens windows per doc, O(n·l) transient map-side
    * chars, no shuffled window text, only 128-bit keys); duplicate
    * detection is ONE map-side-combinable count per key; only occurrences
    * of duplicated keys (low selectivity by construction) reach the
    * per-key first-occurrence window and the ×`l` position explode; and
    * reassembly is the removeBoilerplate shape — distinct (id, position)
    * integer lists, never re-grouped text, with AQE broadcasting the
    * per-doc removal lists into a map-only final join. A million-fold
    * repeated passage costs its occurrence count (linear), never its
    * square. */
  def substringDedup(df: DataFrame, idCol: String, textCol: String,
      l: Int = 50): DataFrame = {
    require(l >= 2, "window length l must be >= 2")
    val base = substrBase(df, textCol)
    val occ = substrOcc(base, idCol, l)
    val dupKeys = occ.groupBy("__h").agg(count(lit(1)).as("__nocc"))
      .filter(col("__nocc") >= 2).select("__h")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__h").orderBy(col(idCol), col("__pos"))
    val removedOcc = occ.join(dupKeys, "__h")
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") > 1)
    substrStrip(base, removedOcc, idCol, l)
  }

  /** (__ws, __nt) working columns for the substring-dedup family. */
  private def substrBase(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("__ws", words(col(textCol)))
      .withColumn("__nt", size(col("__ws")))

  /** Every length-`l` token window of `base`, as (idCol, __pos, __h) —
    * __ws is a bound column, so the slice lambda reads an attribute (one
    * words() evaluation per row — the shingleList discipline); windows
    * hash in place and only (id, pos, hash) leaves the projection. */
  private def substrOcc(base: DataFrame, idCol: String, l: Int): DataFrame =
    base.filter(col("__nt") >= l)
      .select(col(idCol), posexplode(expr(
        s"transform(sequence(1, __nt - ${l - 1}), " +
        s"i -> md5(array_join(slice(__ws, i, $l), ' ')))"))
        .as(Seq("__p0", "__h")))
      .select(col(idCol), (col("__p0") + 1).cast("long").as("__pos"),
        col("__h"))

  /** Strip the token positions covered by `removedOcc`'s windows from
    * `base` and reassemble — the shared tail of [[substringDedup]] and
    * [[incrementalSubstringDedup]]. */
  private def substrStrip(base: DataFrame, removedOcc: DataFrame,
      idCol: String, l: Int): DataFrame = {
    // covered token positions, distinct per doc: overlapping duplicated
    // windows merge into one removal set
    val rmPos = removedOcc
      .select(col(idCol),
        explode(expr(s"sequence(__pos, __pos + ${l - 1})")).as("__rp"))
      .distinct()
      .groupBy(idCol)
      .agg(sort_array(collect_list(col("__rp"))).as("__rm"))
    // Reassembly is LINEAR per document: kept positions come from ONE
    // hash-set pass (array_except of the 1..nt sequence against the
    // sorted removal list — order-preserving, O(nt + |rm|)), then each
    // kept token is an O(1) element_at. The earlier per-token
    // `array_contains(__rm, i)` lambda was O(nt·|rm|) — quadratic in doc
    // length exactly when a doc is mostly duplicated text, this
    // operator's target case (r7 verdict nit; worst-case spec pins it).
    base.join(rmPos, Seq(idCol.toString), "left")
      .withColumn("__rm",
        coalesce(col("__rm"), expr("array()").cast("array<long>")))
      .select(col(idCol),
        when(col("__nt") < 1, lit(""))
          .otherwise(array_join(expr(
            "transform(array_except(sequence(bigint(1), bigint(__nt)), __rm)," +
              " p -> element_at(__ws, int(p)))"),
            " ")).as("clean_text"),
        (col("__nt") - size(col("__rm"))).cast("long").as("n_tokens_kept"),
        size(col("__rm")).cast("long").as("n_tokens_removed"))
  }

  /** Incremental ExactSubstr dedup — [[substringDedup]] for a ROLLING
    * ingest: dedupe only the BATCH against history ∪ batch, equal to the
    * full-corpus pass restricted to batch ids (the [[incrementalDedup]]
    * batch-vs-history decomposition lifted to substring level). At
    * 100 TB this is what makes substring dedup affordable on a live
    * corpus: history is touched by ONE map-only window scan filtered
    * through a Bloom filter of the batch's window keys — no full-corpus
    * shuffle, no history re-windowing into the duplicate aggregate.
    *
    * Semantics (first occurrence = global (id, position) order):
    *  - a batch window whose key exists ANYWHERE in history duplicates
    *    an earlier occurrence → stripped from every batch position;
    *  - a key absent from history but occurring ≥2× within the batch
    *    keeps its batch-first occurrence;
    *  - history documents are NOT rewritten — valid because of the
    *    CONTRACT (checked, one column-pruned scan per side): every batch
    *    id sorts AFTER every history id (ingest order = id order), so a
    *    history occurrence always precedes every batch occurrence and
    *    the full-corpus pass would keep history text unchanged.
    *
    * Bloom direction: the filter summarizes the BATCH keys (bounded),
    * not history's (corpus-many windows would not fit a driver-built
    * filter) — history windows stream past it map-side and only
    * maybe-matching keys shuffle into the exact semi-join confirm
    * (false positives cost a lookup, never a wrong strip; no false
    * negatives ⇒ no missed duplicate). Returns one row per BATCH doc:
    * (idCol, clean_text, n_tokens_kept, n_tokens_removed) — gated equal
    * to [[substringDedup]](history ∪ batch) on the batch ids (x288).
    *
    * Rolling ingests should prefer [[incrementalSubstringDedupIndexed]]:
    * this variant not only re-WINDOWS history text per call, even its
    * ingest-order `require` below costs a full history id-column scan
    * per batch (`max(id)` does not fold to parquet footer stats by
    * default) — the indexed path does the same check in O(1) off the
    * key table's 1-row `_meta`. */
  def incrementalSubstringDedup(history: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, l: Int = 50,
      fpp: Double = 0.01): DataFrame = {
    require(l >= 2, "window length l must be >= 2")
    val ordered = history.agg(max(col(idCol)).as("__hm"))
      .crossJoin(batch.agg(min(col(idCol)).as("__bn")))
      .select((col("__hm").isNull || col("__bn").isNull ||
        col("__hm") < col("__bn")).as("ok"))
      .head().getBoolean(0)
    require(ordered, "incrementalSubstringDedup: every batch id must " +
      "sort after every history id (ingest order = id order) — " +
      "otherwise first occurrences could move into the batch and " +
      "already-published history documents would need rewriting")
    incrementalSubstrCore(
      substrOcc(substrBase(history, textCol), idCol, l).select(col("__h")),
      batch, idCol, textCol, l, fpp)
  }

  /** The batch-side core shared by [[incrementalSubstringDedup]] (history
    * re-windowed per call) and [[incrementalSubstringDedupIndexed]]
    * (history keys read from the persisted key table): `histKeys` is a
    * frame of the past corpus's window keys (`__h`), consumed through
    * one Bloom-filtered map-only scan. It may carry a signed doc-count
    * ledger column `__n` (the [[buildSubstringKeys]] /
    * [[deleteSubstringKeys]] state) — a key is then live iff its counts
    * sum > 0, reconciled AFTER the Bloom filter so the ledger aggregate
    * shuffles only batch-matched keys, never the corpus. Without `__n`
    * every row counts 1 (plain occurrences — always live). */
  private def incrementalSubstrCore(histKeys: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, l: Int, fpp: Double): DataFrame = {
    val baseB = substrBase(batch, textCol)
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // four eager consumers (bKeys, history-hit strip, batch-dup keys,
    // batch-dup rank) read the batch windows — window the batch text
    // ONCE into a persisted narrow frame (the duplicatedPassages lesson)
    val occB = substrOcc(baseB, idCol, l).persist(lvl)
    val bKeys = occB.select(col("__h")).distinct().persist(lvl)
    try {
      val hk =
        if (histKeys.columns.contains("__n")) histKeys
        else histKeys.select(col("__h"), lit(1L).as("__n"))
      // the batch-key Bloom filter is built IN-PLAN (BloomPrune
      // .bloomProbe, r14 verdict #6): the 1-row binary aggregate rides
      // the consuming action as a scalar-subquery job over the CACHED
      // bKeys and the probe is codegen'd. It is SIZED from an exact
      // bKeys count (r15 verdict #2: the fixed 4M-item default allocated
      // a ~4.8 MB bit buffer per partial-aggregate task and shuffled
      // them all into one merger — measured as the x288/x289
      // regression); the count also pre-materializes the occB/bKeys
      // caches that the removal-set action would populate anyway. An
      // EMPTY batch yields a NULL filter ⇒ the coalesce(false) probe
      // drops every history key — the old nb == 0 short-circuit,
      // in-plan.
      // ledger reconciliation rides the batch-bounded post-Bloom set:
      // sum the signed doc counts per key and keep only live keys
      // (all-1 ledgers reduce to the old distinct() semantics)
      val nb = math.max(bKeys.count(), 1L)
      val histHits = hk
        .filter(coalesce(
          BloomPrune.bloomProbe(bKeys, col("__h"), col("__h"),
            estItems = nb, fpp = fpp),
          lit(false)))
        .groupBy("__h").agg(sum(col("__n")).as("__live"))
        .filter(col("__live") > 0L).select("__h")
        .join(bKeys, Seq("__h"), "left_semi")
      // (a) key seen in history: every batch occurrence has an earlier
      //     (history) occurrence — all stripped
      val remA = occB.join(histHits, Seq("__h"), "left_semi")
      // (b) batch-only duplicates: strip all but the (id, pos)-first —
      //     the batch-local rank IS the global rank (no history
      //     occurrence exists for these keys)
      val dupB = occB.groupBy("__h").agg(count(lit(1)).as("__nocc"))
        .filter(col("__nocc") >= 2).select("__h")
        .join(histHits, Seq("__h"), "left_anti")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("__h").orderBy(col(idCol), col("__pos"))
      val remB = occB.join(dupB, "__h")
        .withColumn("__rk", row_number().over(w))
        .filter(col("__rk") > 1).drop("__rk")
      // the strip plan re-reads the removal occurrences lazily — pin the
      // union so the Bloom/confirm work runs once, then release bKeys
      val removed = remA.unionByName(remB).localCheckpoint(eager = true)
      substrStrip(baseB, removed, idCol, l)
    } finally { bKeys.unpersist(); occB.unpersist() }
  }

  /** Persist the historical window-key state [[incrementalSubstringDedup]]
    * re-derives per call: a `table` of every distinct length-`l` window
    * key in `df` (narrow — 32 hex chars per key) plus a 1-row
    * `<table>_meta (max_id)` for the O(1) ingest-order contract check.
    * With the table in place a ROLLING ingest never re-windows history:
    * each batch is one [[incrementalSubstringDedupIndexed]] call + one
    * [[appendSubstringKeys]], and history text is never read again.
    *
    * Each key row carries `__n`, the SIGNED count of distinct history
    * docs containing the key — what makes the state DELETABLE
    * ([[deleteSubstringKeys]] appends negative deltas; a key is live iff
    * its counts sum > 0, so a key shared with a surviving doc survives
    * the takedown exactly). Consumers aggregate the counts AFTER the
    * batch-keyed Bloom filter, so the reconciliation shuffle is bounded
    * by the batch's key set, never the corpus. */
  def buildSubstringKeys(df: DataFrame, idCol: String, textCol: String,
      l: Int, table: String): Unit = {
    require(l >= 2, "window length l must be >= 2")
    val spark = df.sparkSession
    Warehouse.dropTableWithDir(spark, table)
    docKeyCounts(df, idCol, textCol, l)
      .write.mode("overwrite").format("parquet").saveAsTable(table)
    Warehouse.dropTableWithDir(spark, s"${table}_meta")
    df.agg(max(col(idCol)).as("max_id"))
      .write.mode("overwrite").format("parquet")
      .saveAsTable(s"${table}_meta")
  }

  /** (__h, __n = distinct containing docs) of every length-`l` window key
    * in `df` — the unit the key state's signed ledger is kept in. */
  private def docKeyCounts(df: DataFrame, idCol: String, textCol: String,
      l: Int): DataFrame =
    substrOcc(substrBase(df, textCol), idCol, l)
      .select(col(idCol), col("__h")).distinct()
      .groupBy("__h").agg(count(lit(1)).as("__n"))

  /** Advance the key state past a processed batch: the batch's
    * per-key doc counts APPEND to the table (cross-batch rows for one
    * key are fine — consumers sum the signed ledger; see
    * [[compactSubstringKeys]] if the row multiset ever bothers storage)
    * and `max_id` advances. Call AFTER
    * [[incrementalSubstringDedupIndexed]] has materialized the batch's
    * output — appending first would make the batch its own history and
    * strip every window; the `require` makes that mis-order (and a
    * replayed append) loud instead of silently poisoning the state. */
  def appendSubstringKeys(batch: DataFrame, idCol: String,
      textCol: String, l: Int, table: String): Unit = {
    val spark = batch.sparkSession
    // O(1) ingest-order contract, same check as the read path: a batch
    // at-or-below the watermark is either out of order or appended twice
    val ordered = spark.table(s"${table}_meta")
      .crossJoin(batch.agg(min(col(idCol)).as("__bn")))
      .select((col("max_id").isNull || col("__bn").isNull ||
        col("max_id") < col("__bn")).as("ok"))
      .head().getBoolean(0)
    require(ordered, "appendSubstringKeys: every batch id must sort " +
      "after the key table's max_id — appending an already-covered or " +
      "out-of-order batch would permanently poison the key state")
    docKeyCounts(batch, idCol, textCol, l)
      .write.mode("append").format("parquet").saveAsTable(table)
    val newMax = spark.table(s"${table}_meta")
      .crossJoin(batch.agg(max(col(idCol)).as("__bm")))
      .select(when(col("max_id").isNull || col("max_id") < col("__bm"),
        col("__bm")).otherwise(col("max_id")).as("max_id"))
      .localCheckpoint(eager = true)
    newMax.write.mode("overwrite").format("parquet")
      .saveAsTable(s"${table}_meta")
  }

  /** Takedown for the rolling key state — the [[graft.operators.Merge]]
    * `deleteCascade` reach into DERIVED state: erase `deleted` docs'
    * contribution so a future batch that legitimately re-introduces
    * their text is no longer stripped (its first occurrence no longer
    * exists), while keys SHARED with surviving docs keep stripping.
    * `deleted` must be the erased docs exactly as ingested (same ids,
    * same text), each passed once — the call appends per-key NEGATIVE
    * doc counts, and the live-key predicate is `sum(__n) > 0`, exact
    * under sharing because build/append counted distinct docs per key.
    * Cost: one map-side windowing of the deleted docs (takedown-sized)
    * + one batch-bounded append — surviving history text is never read.
    * `max_id` does NOT move: erased ids stay unusable (first-occurrence
    * order is id order; resurrecting an id would reorder the past). */
  def deleteSubstringKeys(deleted: DataFrame, idCol: String,
      textCol: String, l: Int, table: String): Unit = {
    require(l >= 2, "window length l must be >= 2")
    val spark = deleted.sparkSession
    require(spark.catalog.tableExists(table) &&
      spark.catalog.tableExists(s"${table}_meta"),
      s"deleteSubstringKeys needs $table and ${table}_meta — run " +
        "buildSubstringKeys first")
    // only ids at or below the watermark can be part of history — a
    // not-yet-ingested id in the delete set means the caller is erasing
    // text that was never appended (a contract bug, not a no-op)
    val covered = spark.table(s"${table}_meta")
      .crossJoin(deleted.agg(max(col(idCol)).as("__dm")))
      .select((col("__dm").isNull ||
        (col("max_id").isNotNull && col("__dm") <= col("max_id")))
        .as("ok"))
      .head().getBoolean(0)
    require(covered, "deleteSubstringKeys: delete ids must be <= the " +
      "key table's max_id — only ingested docs can be taken down")
    docKeyCounts(deleted, idCol, textCol, l)
      .select(col("__h"), (-col("__n")).as("__n"))
      .write.mode("append").format("parquet").saveAsTable(table)
  }

  /** Physically reconcile the key table's signed ledger: rewrite it as
    * one live row per key (`sum(__n) > 0`), dropping taken-down keys and
    * merging cross-batch rows. Purely a storage operation — consumers
    * sum the ledger anyway — staged durably before the replace. */
  def compactSubstringKeys(spark: org.apache.spark.sql.SparkSession,
      table: String): Unit = {
    val stagingT = s"${table}_compact_staging"
    Warehouse.dropTableWithDir(spark, stagingT)
    spark.table(table).groupBy("__h").agg(sum(col("__n")).as("__n"))
      .filter(col("__n") > 0L)
      .write.mode("overwrite").format("parquet").saveAsTable(stagingT)
    Warehouse.dropTableWithDir(spark, table)
    spark.table(stagingT).write.mode("overwrite").format("parquet")
      .saveAsTable(table)
    Warehouse.dropTableWithDir(spark, stagingT)
  }

  /** [[incrementalSubstringDedup]] against the PERSISTED key state
    * ([[buildSubstringKeys]]) — the rolling-ingest steady state: history
    * contributes one Bloom-filtered scan of the narrow key table, never
    * a re-tokenization of corpus text. Same semantics, same equality
    * gate (x289 rolls two batches and must reproduce the full-corpus
    * pass); the ingest-order contract checks against the table's
    * `max_id` in O(1). */
  def incrementalSubstringDedupIndexed(
      spark: org.apache.spark.sql.SparkSession, table: String,
      batch: DataFrame, idCol: String, textCol: String, l: Int = 50,
      fpp: Double = 0.01): DataFrame = {
    require(l >= 2, "window length l must be >= 2")
    require(spark.catalog.tableExists(table) &&
      spark.catalog.tableExists(s"${table}_meta"),
      s"incrementalSubstringDedupIndexed needs $table and ${table}_meta" +
        " — run buildSubstringKeys first")
    val ordered = spark.table(s"${table}_meta")
      .crossJoin(batch.agg(min(col(idCol)).as("__bn")))
      .select((col("max_id").isNull || col("__bn").isNull ||
        col("max_id") < col("__bn")).as("ok"))
      .head().getBoolean(0)
    require(ordered, "incrementalSubstringDedupIndexed: every batch id " +
      "must sort after the key table's max_id (ingest order = id " +
      "order) — otherwise first occurrences could move into the batch " +
      "and already-published history documents would need rewriting")
    incrementalSubstrCore(
      spark.table(table).select(col("__h"), col("__n")), batch,
      idCol, textCol, l, fpp)
  }
}
