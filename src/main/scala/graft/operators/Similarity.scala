package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (beyond-reference north star):
  * brute-force cosine top-k as the exact baseline, IVF (inverted-file,
  * centroid-probed) as the scale path.
  *
  * 100 TB design:
  *  - the query vector is a one-row broadcast (never a shuffle);
  *  - brute force is a single scan + TakeOrderedAndProject — exact, O(n·d),
  *    the right tool up to ~10⁸ vectors per query batch;
  *  - IVF prunes the scan to `nprobe` cells: centroids are a tiny aggregate
  *    (numCells×d), cell assignment co-partitions the candidate scan, and
  *    only ~nprobe/numCells of the data is read when the table is
  *    partitioned/bucketed by cell id;
  *  - all vector math is `zip_with`/`aggregate` over array columns —
  *    codegen'd, no UDFs, no driver collects of data rows.
  */
object Similarity {
  import Warehouse.dropTableWithDir
  import graft.SessionConf.withConf

  /** Dynamic partition overwrite for the IVF cell-partition rewrites,
    * scoped by [[graft.SessionConf.withConf]]. It has to be the SESSION
    * conf: the DataFrameWriter option form only applies to path-based
    * save(), and a catalog insertInto silently falls back to a static
    * overwrite under it. */
  private val DynamicOverwrite =
    "spark.sql.sources.partitionOverwriteMode" -> "dynamic"

  /** Elementwise dot product of two double-array columns — a native
    * codegen'd expression (the `aggregate(zip_with(...))` formulation is
    * interpreted per element and breaks whole-stage codegen; same fold
    * order, bit-identical results). */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.functions.expr.DotProduct(
      Bridge.expression(a), Bridge.expression(b)))
  }

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Deterministic md5 cell seed: cell = md5("tag:id") % k. The earlier
    * pmod(id, k) seeding silently COLLAPSES on non-numeric ids — a UUID
    * string casts to null, every row lands in the single null cell, and a
    * "within-cell" pair stage becomes all-pairs quadratic. md5 of the
    * string form is defined for every id type, balanced, and replayable
    * in any engine with md5 (the seeding discipline of
    * [[graft.functions.Curation]]). */
  private[graft] def md5Cell(tag: String, id: Column, k: Int): Column =
    (conv(substring(md5(concat(lit(tag + ":"), id.cast("string"))), 1, 6),
      16, 10).cast("long") % k).cast("int")

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Cast a float-array column to double for stable math. */
  def asDouble(a: Column): Column = transform(a, x => x.cast("double"))

  /** Exact brute-force cosine top-k against a single query vector (taken
    * from `queryDf`, one row). The join is a broadcast of that one row. */
  def bruteForceTopK(data: DataFrame, idCol: String, vecCol: String,
      queryDf: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queryDf.select(asDouble(col(vecCol)).as("__qv")))
    data.select(col(idCol), asDouble(col(vecCol)).as("__v"))
      .crossJoin(q)
      .select(col(idCol), cosine(col("__v"), col("__qv")).as("cosine"))
      .orderBy(desc("cosine"), col(idCol))
      .limit(k)
  }

  /** Scalar quantization (the SQ8 compression step of a production ANN
    * index): per-dimension min/max over the corpus, each component mapped
    * to a `levels`-bucket code, reconstruction at bucket centers. Returns
    * one row per vector: the code sequence (comma string), an exact
    * integer code checksum, and the reconstruction RMSE.
    *
    * 100 TB design: the stats frame is |dims| rows (broadcast back); the
    * quantize pass is one explode + broadcast join + per-vector aggregate.
    * Determinism: codes are floor() of identical IEEE ops (never round);
    * the RMSE sums DECIMAL-quantized squared errors, so partial-aggregation
    * order cannot move it; the final quantize is floor(x·1e8 + 0.5). */
  def scalarQuantize(df: DataFrame, idCol: String, vecCol: String,
      levels: Int = 256): DataFrame = {
    require(levels > 1, "need at least 2 quantization levels")
    val e = df.select(col(idCol),
        posexplode(asDouble(col(vecCol))).as(Seq("pos", "v")))
    val dims = e.groupBy("pos")
      .agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
    val q = e.join(broadcast(dims), "pos")
      .withColumn("qc", when(col("hi") === col("lo"), lit(0L))
        .otherwise(least(floor((col("v") - col("lo")) /
            (col("hi") - col("lo")) * lit(levels)), lit(levels - 1))
          .cast("long")))
      .withColumn("deq", col("lo") + (col("qc").cast("double") + lit(0.5)) *
        (col("hi") - col("lo")) / lit(levels.toDouble))
    q.groupBy(col(idCol))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("qc")))),
          s => s.getField("qc").cast("string")), ",").as("codes"),
        sum(col("qc") * (col("pos") + 1)).as("q_checksum"),
        count(lit(1)).as("__nd"),
        sum(((col("v") - col("deq")) * (col("v") - col("deq")))
          .cast("decimal(20,18)")).as("__sse"))
      .select(col(idCol), col("codes"), col("q_checksum"),
        (floor(sqrt(col("__sse").cast("double") / col("__nd").cast("double"))
          * lit(1e8) + lit(0.5)) / lit(1e8)).as("rmse"))
  }

  /** Johnson-Lindenstrauss random projection with a SEEDED ±1 sign matrix:
    * sign(j,i) = parity of the first hex digit of md5("seed:j:i"), so the
    * matrix is a pure function of (seed, shape) that any engine can replay —
    * no RNG state, no shipped matrix files. Input components are
    * floor-quantized to integers FIRST (×10⁴), so projection and every
    * downstream distance is exact BIGINT arithmetic: the gate never touches
    * a float, and E[‖y‖²] = outDim·‖x‖² gives the distortion check its
    * expected ratio.
    *
    * 100 TB design: the matrix is built ONCE on a 1-row frame (outDim·inDim
    * md5 calls total, NOT per data row) and broadcast via crossJoin; the
    * projection itself is a per-row zip_with/aggregate fold — one scan, no
    * shuffle. Returns (id, xq: array<long>, yq: array<long>). */
  def randomProjectSigned(df: DataFrame, idCol: String, vecCol: String,
      inDim: Int, outDim: Int, seed: String): DataFrame = {
    require(outDim >= 1 && outDim <= inDim, s"outDim=$outDim out of [1,$inDim]")
    val spark = df.sparkSession
    val sign = (j: Column, i: Column) =>
      when(conv(substring(md5(concat_ws(":", lit(seed), j, i)), 1, 1), 16, 10)
        .cast("int") % 2 === 0, 1L).otherwise(-1L)
    val mat = spark.range(1).select(
      transform(sequence(lit(0), lit(outDim - 1)), j =>
        transform(sequence(lit(0), lit(inDim - 1)), i => sign(j, i))).as("__m"))
    df.select(col(idCol),
        transform(col(vecCol), v =>
          floor(v.cast("double") * lit(10000)).cast("long")).as("xq"))
      .crossJoin(broadcast(mat))
      .select(col(idCol), col("xq"),
        transform(col("__m"), row =>
          aggregate(zip_with(col("xq"), row, (x, s) => x * s),
            lit(0L), (acc, v) => acc + v)).as("yq"))
  }

  /** Reconstructed (dequantized) vectors from the same SQ codes
    * [[scalarQuantize]] emits — the corpus an asymmetric-distance search
    * (full-precision query vs compressed corpus) actually scans. Returns
    * (id, qvec: array<double>) with components at bucket centers. */
  def dequantizedVectors(df: DataFrame, idCol: String, vecCol: String,
      levels: Int = 256): DataFrame = {
    require(levels > 1, "need at least 2 quantization levels")
    val e = df.select(col(idCol),
        posexplode(asDouble(col(vecCol))).as(Seq("pos", "v")))
    val dims = e.groupBy("pos")
      .agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
    e.join(broadcast(dims), "pos")
      .withColumn("qc", when(col("hi") === col("lo"), lit(0L))
        .otherwise(least(floor((col("v") - col("lo")) /
            (col("hi") - col("lo")) * lit(levels)), lit(levels - 1))
          .cast("long")))
      .withColumn("deq", col("lo") + (col("qc").cast("double") + lit(0.5)) *
        (col("hi") - col("lo")) / lit(levels.toDouble))
      .groupBy(col(idCol))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("deq")))),
        s => s.getField("deq")).as("qvec"))
  }

  /** Recall@k of an approximate ANN result against the exact one — the
    * eval primitive every ANN deployment needs (is nprobe/banding good
    * enough?). One lazy plan: three 1-row aggregates cross-joined, overlap
    * via an id equi-join, recall as exact integer basis points. */
  def recallAtK(exact: DataFrame, approx: DataFrame, idCol: String): DataFrame = {
    val ne = exact.agg(count(lit(1)).as("n_exact"))
    val na = approx.agg(count(lit(1)).as("n_approx"))
    val no = exact.select(col(idCol))
      .join(approx.select(col(idCol)), Seq(idCol.toString))
      .agg(count(lit(1)).as("n_overlap"))
    ne.crossJoin(na).crossJoin(no)
      .withColumn("recall_bps", expr("n_overlap * 10000 div n_exact"))
  }

  /** Elementwise mean of double-array rows as a typed Aggregator: one pass,
    * one buffer of d doubles per group — no row explosion. The posexplode
    * alternative multiplies the shuffle by d (64× here); at 100 TB that is
    * the difference between a d-sized partial aggregate per partition and a
    * d× full-table shuffle. */
  private val vectorMean: org.apache.spark.sql.expressions.Aggregator[
      Seq[Double], (Array[Double], Long), Seq[Double]] =
    new org.apache.spark.sql.expressions.Aggregator[
        Seq[Double], (Array[Double], Long), Seq[Double]] {
      def zero: (Array[Double], Long) = (Array.empty[Double], 0L)
      def reduce(b: (Array[Double], Long), v: Seq[Double]): (Array[Double], Long) = {
        val sums = if (b._1.isEmpty) new Array[Double](v.length) else b._1
        var i = 0
        while (i < v.length) { sums(i) += v(i); i += 1 }
        (sums, b._2 + 1)
      }
      def merge(a: (Array[Double], Long), b: (Array[Double], Long)): (Array[Double], Long) = {
        if (a._1.isEmpty) b
        else if (b._1.isEmpty) a
        else {
          var i = 0
          while (i < a._1.length) { a._1(i) += b._1(i); i += 1 }
          (a._1, a._2 + b._2)
        }
      }
      def finish(r: (Array[Double], Long)): Seq[Double] =
        if (r._2 == 0) Seq.empty else r._1.map(_ / r._2).toSeq
      def bufferEncoder = org.apache.spark.sql.Encoders.product[(Array[Double], Long)]
      def outputEncoder = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
    }

  /** Batch ANN: exact top-k per query vector. The query SET broadcasts (it
    * is the small side by construction); ranking is a per-query window —
    * Spark plans `WindowGroupLimit`, so each partition forwards at most k
    * rows per query before the shuffle. At 100 TB this is one scan of the
    * data side regardless of how many queries ride along. */
  def bruteForceTopKBatch(data: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, queryIdCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(queryIdCol).as("query_id"),
      asDouble(col(vecCol)).as("__qv")))
    val scored = data.select(col(idCol), asDouble(col(vecCol)).as("__v"))
      .crossJoin(q)
      .select(col("query_id"), col(idCol), cosine(col("__v"), col("__qv")).as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(desc("cosine"), col(idCol))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Per-cell centroids: mean vector per `cellCol` (e.g. a cluster label or
    * a hash bucket) via the one-pass vectorMean Aggregator — numCells×d
    * output, small enough to broadcast. */
  def centroids(data: DataFrame, cellCol: String, vecCol: String): DataFrame = {
    val agg = udaf(vectorMean, org.apache.spark.sql.catalyst.encoders
      .ExpressionEncoder[Seq[Double]]())
    data.select(col(cellCol).as("cell"), asDouble(col(vecCol)).as("__v"))
      .groupBy("cell").agg(agg(col("__v")).as("centroid"))
  }

  /** Embedding-cosine near-duplicate pairs, cell-bucketed: candidates come
    * from an EQUI-join on the cell key (a cluster label, an IVF cell id, or
    * any locality hash) — never a global all-pairs — and are verified with
    * exact cosine ≥ threshold. The same candidates-then-verify shape as
    * MinHash LSH, with cells playing the role of bands: recall is bounded by
    * the cell assignment (near-dups in different cells are missed — use
    * overlapping/multi-probe cells to trade cost for recall), cost is
    * Σ|cell|² instead of n². */
  private val CacheLvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

  /** Exact-duplicate pre-pass shared by the near-dup discoverers: group rows
    * by a content key, return (reps with one row per distinct content,
    * members id→rep). Identical embeddings are the normal case in a real
    * corpus (re-ingested shards, mirrored documents); without this, a group
    * of m copies contributes m² candidate pairs per cell — the same blow-up
    * the LSH text pre-pass removes. Pair discovery runs over reps only and
    * is re-expanded afterwards; because cell assignment and cosine depend
    * only on content, the expanded output is provably identical to running
    * discovery over every row. */
  private def contentGroups(base: DataFrame, keyCols: Seq[String])
      : (DataFrame, DataFrame) = {
    val keyed = base.withColumn("__vk",
      md5(to_json(struct(keyCols.map(col): _*))))
    val repAgg = keyed.groupBy("__vk")
      .agg(min(col("id")).as("id"),
        min_by(col("cell"), col("id")).as("cell"),
        min_by(col("__v"), col("id")).as("__v"),
        min_by(col("__n"), col("id")).as("__n"))
      .persist(CacheLvl)
    val members = keyed.select(col("id"), col("__vk"))
      .join(repAgg.select(col("__vk"), col("id").as("rep")), "__vk")
      .select(col("id"), col("rep"))
      .persist(CacheLvl)
    (repAgg.drop("__vk"), members)
  }

  /** Expand rep-level pairs back to member pairs, plus the intra-group
    * pairs (identical content in the same group): cosine of identical
    * vectors is computed the same way a pairwise compare would
    * (dot/(n·n)), so thresholds and hashes match the all-rows algorithm. */
  private def expandPairs(repPairs: DataFrame, reps: DataFrame,
      members: DataFrame, threshold: Double): DataFrame = {
    val selfCos = reps.select(col("id").as("rep"),
      (dot(col("__v"), col("__v")) / (col("__n") * col("__n"))).as("cosine"))
    val intra = members.select(col("rep"), col("id").as("id_a"))
      .join(members.select(col("rep"), col("id").as("id_b")), "rep")
      .filter(col("id_a") < col("id_b"))
      .join(selfCos, "rep")
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
    val cross = repPairs
      .join(members.select(col("rep").as("ra"), col("id").as("xa")), "ra")
      .join(members.select(col("rep").as("rb"), col("id").as("xb")), "rb")
      .select(least(col("xa"), col("xb")).as("id_a"),
        greatest(col("xa"), col("xb")).as("id_b"), col("cosine"))
    intra.unionByName(cross)
  }

  def embeddingNearDups(data: DataFrame, idCol: String, cellCol: String,
      vecCol: String, threshold: Double): DataFrame = {
    // norms are per-ROW, computed once before the pair join — the pairwise
    // work is one dot product, not three (same fp operations, same result)
    val base = data.select(col(idCol).as("id"), col(cellCol).as("cell"),
        asDouble(col(vecCol)).as("__v"))
      .withColumn("__n", norm(col("__v")))
    // same (content, cell) → one representative; pairs discovered over reps
    val (reps, members) = contentGroups(base, Seq("cell", "__v"))
    val a = reps.select(col("id").as("ra"), col("cell"),
      col("__v").as("__va"), col("__n").as("__na"))
    val b = reps.select(col("id").as("rb"), col("cell"),
      col("__v").as("__vb"), col("__n").as("__nb"))
    val repPairs = a.join(b, Seq("cell")).filter(col("ra") < col("rb"))
      .select(col("ra"), col("rb"),
        (dot(col("__va"), col("__vb")) / (col("__na") * col("__nb"))).as("cosine"))
      .filter(col("cosine") >= threshold)
    expandPairs(repPairs, reps, members, threshold)
  }

  /** Multi-probe variant of [[embeddingNearDups]]: each vector is assigned
    * to its `probes` nearest CENTROIDS (computed from the given cells), so
    * a near-dup pair split across a cell boundary still shares a probed
    * cell. Candidates remain an equi-join on the probed cell id; pairs
    * sharing several cells are deduplicated BEFORE the vector verify (the
    * minhashNearDups candidate shape). Cost ≈ probes² × Σ|cell|²/cells;
    * recall loss only when a pair's vectors rank no common centroid in
    * their top `probes`. */
  def embeddingNearDupsMultiProbe(data: DataFrame, idCol: String,
      cellCol: String, vecCol: String, threshold: Double,
      probes: Int = 2): DataFrame = {
    // centroids come from the FULL corpus (duplicates weigh into the mean,
    // exactly as the all-rows algorithm computes them)…
    val cents = broadcast(centroids(data, cellCol, vecCol)
      .select(col("cell"), col("centroid"),
        norm(col("centroid")).as("__cn")))
    val base = data.select(col(idCol).as("id"), col(cellCol).as("cell"),
        asDouble(col(vecCol)).as("__v"))
      .withColumn("__n", norm(col("__v")))
    // …but assignment ranks and pair discovery run over one representative
    // per distinct content: identical vectors rank identical probe cells,
    // so the expanded output equals the all-rows run
    val (reps, members) = contentGroups(base, Seq("__v"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id")
      .orderBy(desc("__cs"), col("cell"))
    val assigned = reps.select(col("id"), col("__v"), col("__n")).crossJoin(cents)
      .select(col("id"),
        (dot(col("__v"), col("centroid")) / (col("__n") * col("__cn"))).as("__cs"),
        col("cell"))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= probes)
      .select(col("id"), col("cell"))

    val candidates = assigned.select(col("id").as("ra"), col("cell"))
      .join(assigned.select(col("id").as("rb"), col("cell")), Seq("cell"))
      .filter(col("ra") < col("rb"))
      .select("ra", "rb").distinct()

    val va = reps.select(col("id").as("ra"), col("__v").as("__va"), col("__n").as("__na"))
    val vb = reps.select(col("id").as("rb"), col("__v").as("__vb"), col("__n").as("__nb"))
    val repPairs = candidates.join(va, "ra").join(vb, "rb")
      .select(col("ra"), col("rb"),
        (dot(col("__va"), col("__vb")) / (col("__na") * col("__nb"))).as("cosine"))
      .filter(col("cosine") >= threshold)
    expandPairs(repPairs, reps, members, threshold)
  }

  /** Lloyd (k-means) refinement of an initial cell assignment: `iters`
    * rounds of (centroid = mean per cell) → (cell = nearest centroid by
    * cosine, ties to the lowest cell id). Returns (id, cell). Each round is
    * one small aggregate (numCells×d, broadcast) + one scan with a top-1
    * window per id — no driver loops over data, deterministic given the
    * input. Better-fitting cells mean IVF probes prune more of the scan. */
  def refineCells(data: DataFrame, idCol: String, cellCol: String,
      vecCol: String, iters: Int): DataFrame = {
    val v = data.select(col(idCol).as("id"), asDouble(col(vecCol)).as("__v"))
      .withColumn("__n", norm(col("__v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var assign = data.select(col(idCol).as("id"), col(cellCol).as("cell"))
    for (_ <- 1 to iters) {
      val cents = broadcast(
        centroids(v.join(assign, "id"), "cell", "__v")
          .select(col("cell"), col("centroid"), norm(col("centroid")).as("__cn")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("id").orderBy(desc("__cs"), col("cell"))
      assign = v.crossJoin(cents)
        .select(col("id"), col("cell"),
          (dot(col("__v"), col("centroid")) / (col("__n") * col("__cn"))).as("__cs"))
        .withColumn("__rk", row_number().over(w))
        .filter(col("__rk") === 1)
        .select(col("id"), col("cell"))
    }
    assign
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus with k-means, find
    * cosine-≥-threshold pairs WITHIN each cluster only, connect them into
    * semantic groups, and keep one representative (the min id) per group.
    * Returns every input id with its final cluster, its semantic-group
    * label, and a `kept` flag — the keep/drop decision a curation pipeline
    * filters on.
    *
    * 100 TB design: `k` is the scale knob — size it ~ n/targetCellSize so
    * Σ|cell|² stays k·target² (SemDeDup runs k in the tens of thousands on
    * web-scale corpora). Clustering is [[refineCells]] (deterministic
    * [[md5Cell]] seed — safe for string/UUID ids, where a pmod(id, k) seed
    * would collapse every row into one quadratic null cell; each Lloyd
    * round = one broadcast centroid agg + one
    * top-1 window); the within-cell pair stage is [[embeddingNearDups]],
    * whose content-group pre-pass collapses identical vectors to one
    * representative BEFORE the quadratic step (m exact copies cost m, not
    * m²); grouping is [[Dedup.nearDupComponents]] (min-label propagation,
    * lineage-truncated per round, reliable-checkpoint capable). */
  def semanticDedup(data: DataFrame, idCol: String, vecCol: String,
      k: Int, threshold: Double, lloydIters: Int = 1,
      componentIters: Int = 2): DataFrame = {
    require(k >= 1, "k must be positive")
    val base = data.select(col(idCol).as("id"), asDouble(col(vecCol)).as("__v"))
      .withColumn("cell", md5Cell("cell", col("id"), k))
    val assigned = base.drop("cell")
      .join(refineCells(base, "id", "cell", "__v", lloydIters), "id")
    val pairs = embeddingNearDups(assigned, "id", "cell", "__v", threshold)
    val comps = Dedup.nearDupComponents(pairs, componentIters)
      .withColumnRenamed("node", "id")
    assigned.select(col("id"), col("cell"))
      .join(comps, Seq("id"), "left")
      .select(col("id"), col("cell"),
        coalesce(col("component"), col("id")).as("component"))
      .withColumn("kept", col("component") === col("id"))
  }

  /** Hard-negative mining for contrastive training: for every vector, the
    * `k` most-cosine-similar vectors carrying a DIFFERENT label — the
    * near-misses an embedding model must learn to separate (random
    * negatives are trivially far; these are the gradient-bearing ones).
    *
    * Candidate geometry is SIGN-BUCKET LSH (axis-aligned random-hyperplane
    * family): bucket = the sign pattern of the first `bits` components, so
    * the corpus splits into 2^bits cells of expected size n/2^bits, and a
    * query probes its own bucket plus (with `probeHamming = 1`) the `bits`
    * one-flip neighbors. An earlier label-centroid design was QUADRATIC in
    * practice — |labels| cells of size n/|labels| cost Σ|cell|² ≈
    * n²/|labels| exact cosines (measured 389 s at sf1 vs 3 s at sf0.1);
    * sign buckets bound the same verify at (bits+1)·n²/2^bits with a knob
    * that scales (production: bits ~ log2(n/targetCellSize), or a trained
    * ANN index for the recall-critical regime).
    *
    * 100 TB design: bucketing is a pure expression (no centroid pass);
    * candidates come from ONE equi-join on the bucket key (every
    * Hamming-≤1 pair meets in exactly one probe, so no dedup pass); the
    * final top-k is a per-query window over candidate rows only. Ranking
    * uses the RAW cosine (ties → smallest neighbor id) and only the
    * reported value is quantized.
    *
    * MEASURED recall (x168_signbucket_recall — a bounded md5-ranked
    * 256-query sample, so the brute-force ground truth stays linear in
    * corpus size — vs bruteForceTopK, bits=8/probeHamming=1, identical at
    * the sizedBits setting): the candidate set contains the EXACT nearest
    * cross-vector for only
    * 13.4% of queries at sf0.01 (16/119) and 15.2% at sf0.1 (39/256) —
    * precisely the Hamming-≤1 fraction (arbitrary nearest neighbors
    * average Hamming ≈ 3.0 in the first 8 sign bits on this fixture).
    * Read this as the contract: sign buckets reliably surface
    * sign-pattern-PRESERVING near-copies (the hard-negative/dedup
    * regime), not general nearest-neighbor rank quality — mine
    * recall-critical negatives with [[bruteForceTopKBatch]] or
    * [[ivfTopK]] instead. */
  /** Size the sign-bucket width so expected bucket occupancy stays near
    * `targetBucket` as the corpus grows: bits = ceil(log2(n/targetBucket)),
    * clamped to [minBits, maxBits]. With this rule the candidate count of
    * [[hardNegatives]] is (bits+1)·n·targetBucket — LINEAR in n — instead
    * of (bits+1)·n²/2^bits at a pinned width (measured 13× time at 10×
    * data with bits=8 held fixed). The minBits=8 floor keeps small-corpus
    * runs (n ≤ 2048 at targetBucket=8) on the exact bucketing the sf0.01
    * oracles replay. */
  def sizedBits(n: Long, targetBucket: Int = 8, minBits: Int = 8,
      maxBits: Int = 16): Int = {
    require(n >= 0 && targetBucket >= 1 && minBits >= 1 && maxBits >= minBits)
    val cells = math.max(1.0, n.toDouble / targetBucket)
    val b = math.ceil(math.log(cells) / math.log(2.0)).toInt
    math.min(maxBits, math.max(minBits, b))
  }

  /** The [[sizedBits]] rule computed INSIDE the plan: one tiny count
    * aggregate returning a 1-row `__bits` frame to broadcast, so callers
    * pay no separate driver `count()` action at plan-construction time.
    * ceil(log2(x)) is done as the BIT LENGTH of ceil(n/targetBucket)−1
    * (`length(bin(c−1))`) — pure integer arithmetic, no float log2 whose
    * last-ulp drift could flip the width at a power-of-two boundary. */
  private def bitsFrame(data: DataFrame, targetBucket: Int, minBits: Int,
      maxBits: Int): DataFrame = {
    require(targetBucket >= 1 && minBits >= 1 && maxBits >= minBits &&
      maxBits <= 16, s"bad sizing: target=$targetBucket [$minBits,$maxBits]")
    val c = expr(s"(__nn + ${targetBucket - 1}) div $targetBucket")
    data.agg(count(lit(1)).as("__nn"))
      .select(least(lit(maxBits), greatest(lit(minBits),
        when(c <= 1, lit(0))
          .otherwise(length(bin(c - 1))).cast("int"))).as("__bits"))
  }

  /** Sign bucket of `v`'s first `__bits` components as a column expression
    * (the dynamic-width twin of the unrolled literal-bits form): a left
    * fold over sequence(0, __bits−1) adding 2^j per positive component —
    * the same addition order as the unrolled form, so values are
    * identical. */
  private def signBucket(v: Column, bits: Column): Column =
    aggregate(sequence(lit(0), bits - 1), lit(0),
      (acc, j) => acc + when(element_at(v, j + 1) > 0,
        pow(lit(2.0), j).cast("int")).otherwise(lit(0)))

  /** Home bucket plus (when probing) the `__bits` Hamming-1 flips, plus
    * (at `probeHamming = 2`) the C(bits, 2) two-bit flips — the
    * high-recall audit widening. Every Hamming-≤h pair still meets in
    * exactly ONE probe (the mask equal to the buckets' XOR), so candidate
    * pairs never need a dedup pass at any h. */
  private def probeBuckets(b: Column, bits: Column,
      probeHamming: Int): Column = {
    val h1 = transform(sequence(lit(0), bits - 1),
      j => b.bitwiseXOR(pow(lit(2.0), j).cast("int")))
    probeHamming match {
      case 0 => array(b)
      case 1 => concat(array(b), h1)
      case _ =>
        // two-flip masks 2^i + 2^j, i < j; the `when` guards bits = 1
        // (sequence(0, -1) would run descending) — CaseWhen evaluates
        // only the taken branch
        val h2 = when(bits >= 2,
          flatten(transform(sequence(lit(0), bits - 2), i =>
            transform(sequence(i + 1, bits - 1), j =>
              b.bitwiseXOR((pow(lit(2.0), i) + pow(lit(2.0), j))
                .cast("int"))))))
          .otherwise(array().cast("array<int>"))
        concat(array(b), h1, h2)
    }
  }

  /** [[hardNegatives]] with the bucket width derived IN-PLAN by the
    * [[sizedBits]] rule — candidates stay linear in n at any corpus size,
    * with no plan-construction-time `count()` action (the 1-row bits frame
    * broadcasts into the bucketing expressions). Same output as
    * `hardNegatives(…, bits = sizedBits(n))` at every n. */
  def hardNegativesAuto(data: DataFrame, idCol: String, labelCol: String,
      vecCol: String, k: Int = 3, targetBucket: Int = 8, minBits: Int = 8,
      maxBits: Int = 16, probeHamming: Int = 1): DataFrame = {
    require(k >= 1, "k must be positive")
    require(probeHamming >= 0 && probeHamming <= 1, "probeHamming in {0,1}")
    val bf = broadcast(bitsFrame(data, targetBucket, minBits, maxBits))
    val base = data.select(col(idCol).as("id"), col(labelCol).as("lab"),
        asDouble(col(vecCol)).as("__v"))
      .crossJoin(bf)
      .withColumn("__b", signBucket(col("__v"), col("__bits")))
      .withColumn("__n", norm(col("__v")))
    val probes = base.select(col("id").as("qid"),
      explode(probeBuckets(col("__b"), col("__bits"), probeHamming)).as("__b"))
    val cand = probes
      .join(base.select(col("id").as("nid"), col("__b")), Seq("__b"))
      .filter(col("qid") =!= col("nid"))
      .select("qid", "nid")
    val qa = base.select(col("id").as("qid"), col("lab").as("__ql"),
      col("__v").as("__qv"), col("__n").as("__qn"))
    val nb = base.select(col("id").as("nid"), col("lab").as("__nl"),
      col("__v").as("__nv"), col("__n").as("__nn"))
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(desc("__cos"), col("nid"))
    cand.join(qa, "qid").join(nb, "nid")
      .filter(col("__ql") =!= col("__nl"))
      .select(col("qid"), col("nid"), col("__nl"),
        (dot(col("__qv"), col("__nv")) / (col("__qn") * col("__nn"))).as("__cos"))
      .withColumn("rank", row_number().over(rankW).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid").as("vec_id"), col("rank"), col("nid").as("neg_id"),
        col("__nl").as("neg_label"), round(col("__cos"), 4).as("cosine"))
  }

  /** [[splitLeakage]] with the bucket width derived IN-PLAN by the
    * [[sizedBits]] rule (sized on the FULL frame, query + target, so the
    * width matches `splitLeakage(…, bits = sizedBits(n))` on the same
    * data). Candidate-less queries report a null nearest / `leaked=false`
    * row exactly like the fixed-bits form. */
  def splitLeakageAuto(data: DataFrame, idCol: String, splitCol: String,
      vecCol: String, querySplit: String = "test",
      targetSplit: String = "train", threshold: Double = 0.95,
      targetBucket: Int = 8, minBits: Int = 8, maxBits: Int = 16,
      probeHamming: Int = 1): DataFrame = {
    require(probeHamming >= 0 && probeHamming <= 2, "probeHamming in {0,1,2}")
    val bf = broadcast(bitsFrame(data, targetBucket, minBits, maxBits))
    val base = data.select(col(idCol).as("id"), col(splitCol).as("sp"),
        asDouble(col(vecCol)).as("__v"))
      .crossJoin(bf)
      .withColumn("__b", signBucket(col("__v"), col("__bits")))
      .withColumn("__n", norm(col("__v")))
    val q = base.filter(col("sp") === querySplit)
    val tgt = base.filter(col("sp") === targetSplit)
    val cand = q.select(col("id").as("qid"),
        explode(probeBuckets(col("__b"), col("__bits"), probeHamming))
          .as("__b"))
      .join(tgt.select(col("id").as("tid"), col("__b")), Seq("__b"))
      .select("qid", "tid")
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(desc("__cos"), col("tid"))
    val top1 = cand
      .join(q.select(col("id").as("qid"), col("__v").as("__qv"),
        col("__n").as("__qn")), "qid")
      .join(tgt.select(col("id").as("tid"), col("__v").as("__tv"),
        col("__n").as("__tn")), "tid")
      .select(col("qid"), col("tid"),
        (dot(col("__qv"), col("__tv")) / (col("__qn") * col("__tn")))
          .as("__cos"))
      .withColumn("__rk", row_number().over(rankW))
      .filter(col("__rk") === 1)
    q.select(col("id").as("qid"))
      .join(top1, Seq("qid"), "left")
      .select(col("qid").as(idCol), col("tid").as("nearest_train_id"),
        round(col("__cos"), 4).as("cosine"),
        coalesce(col("__cos") >= threshold, lit(false)).as("leaked"))
  }

  def hardNegatives(data: DataFrame, idCol: String, labelCol: String,
      vecCol: String, k: Int = 3, bits: Int = 8,
      probeHamming: Int = 1): DataFrame = {
    require(k >= 1, "k must be positive")
    require(bits >= 1 && bits <= 16, s"bits=$bits out of [1,16]")
    require(probeHamming >= 0 && probeHamming <= 1, "probeHamming in {0,1}")
    val base = data.select(col(idCol).as("id"), col(labelCol).as("lab"),
        asDouble(col(vecCol)).as("__v"))
      .withColumn("__n", norm(col("__v")))
      .withColumn("__b", (0 until bits).map(j =>
          when(element_at(col("__v"), j + 1) > 0, lit(1 << j)).otherwise(lit(0)))
        .reduce(_ + _).cast("int"))
    val probeCols = col("__b") +: (if (probeHamming >= 1)
      (0 until bits).map(j => expr(s"__b ^ ${1 << j}").cast("int")) else Seq.empty)
    val probes = base.select(col("id").as("qid"),
      explode(array(probeCols: _*)).as("__b"))
    val cand = probes
      .join(base.select(col("id").as("nid"), col("__b")), Seq("__b"))
      .filter(col("qid") =!= col("nid"))
      .select("qid", "nid")
    val qa = base.select(col("id").as("qid"), col("lab").as("__ql"),
      col("__v").as("__qv"), col("__n").as("__qn"))
    val nb = base.select(col("id").as("nid"), col("lab").as("__nl"),
      col("__v").as("__nv"), col("__n").as("__nn"))
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(desc("__cos"), col("nid"))
    cand.join(qa, "qid").join(nb, "nid")
      .filter(col("__ql") =!= col("__nl"))
      .select(col("qid"), col("nid"), col("__nl"),
        (dot(col("__qv"), col("__nv")) / (col("__qn") * col("__nn"))).as("__cos"))
      .withColumn("rank", row_number().over(rankW).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid").as("vec_id"), col("rank"), col("nid").as("neg_id"),
        col("__nl").as("neg_label"), round(col("__cos"), 4).as("cosine"))
  }

  /** Embedding-level train/test leakage detection — semantic
    * decontamination, the cosine-space companion of the n-gram
    * decontamination in [[graft.functions.Curation]]: exact-text dedup
    * misses paraphrases and near-copies that cross a split boundary, but
    * their embeddings still collide. For every vector in `querySplit`
    * (e.g. "test"), reports the single most-cosine-similar vector from
    * `targetSplit` ("train") among sign-bucket LSH candidates (home
    * bucket + Hamming-1 probes), with a `leaked` flag at `threshold`.
    * EVERY query vector emits a row: one with no LSH candidate (no train
    * vector shares its home or Hamming-1 buckets) reports a null
    * `nearest_train_id`/`cosine` and `leaked = false`, so a leakage audit
    * can distinguish "checked, nothing near" from "not checked" instead of
    * silently dropping the row.
    *
    * 100 TB shape: candidates are bucket-equi-join rows, never a
    * test×train cross product; size `bits` with [[sizedBits]] so bucket
    * occupancy — and with it candidate count — stays linear in the corpus.
    * Recall caveat inherited from the bucketing: at the default
    * `probeHamming = 1` a leaked pair whose sign patterns differ in ≥2 of
    * the first `bits` components is missed. `probeHamming = 2` is the
    * HIGH-RECALL AUDIT MODE: probes widen from bits+1 to
    * (bits²+bits+2)/2 per query (37 vs 9 at bits=8 — candidate volume
    * ×~4, still linear in the corpus at fixed bits).
    * MEASURED at both operating points (x168_signbucket_recall, a
    * bounded 256-query sample vs bruteForceTopK ground truth, bits=8;
    * sizedBits is identical at these corpus sizes): the probed buckets
    * contain the exact nearest train vector for
    *   - probeHamming=1: 13.4% of test queries at sf0.01, 15.2% at sf0.1
    *     (exactly the Hamming-≤1 fraction — arbitrary nearest neighbors
    *     average Hamming ≈ 3.0 of 8 sign bits here);
    *   - probeHamming=2: 37.0% at sf0.01, 38.7% at sf0.1 — ~2.5× the
    *     recall for ~4× the candidates.
    * Beyond that, lower `threshold` on a confirmation pass or route
    * through [[ivfTopK]] instead of widening probes combinatorially. For LEAKED pairs the picture inverts: a near-copy
    * at cosine ≥ 0.95 concentrates mass on agreeing signs, and an exact
    * or scaled copy agrees on ALL bits, so the gate's target population
    * sits in the found fraction — but treat a clean report as "no
    * sign-preserving leak", not "no leak", and confirm critical splits
    * with an exact pass over candidate-less rows (they are reported,
    * never dropped). */
  def splitLeakage(data: DataFrame, idCol: String, splitCol: String,
      vecCol: String, querySplit: String = "test",
      targetSplit: String = "train", threshold: Double = 0.95,
      bits: Int = 8, probeHamming: Int = 1): DataFrame = {
    require(bits >= 1 && bits <= 16, s"bits=$bits out of [1,16]")
    require(probeHamming >= 0 && probeHamming <= 2, "probeHamming in {0,1,2}")
    val base = data.select(col(idCol).as("id"), col(splitCol).as("sp"),
        asDouble(col(vecCol)).as("__v"))
      .withColumn("__n", norm(col("__v")))
      .withColumn("__b", (0 until bits).map(j =>
          when(element_at(col("__v"), j + 1) > 0, lit(1 << j)).otherwise(lit(0)))
        .reduce(_ + _).cast("int"))
    val q = base.filter(col("sp") === querySplit)
    val tgt = base.filter(col("sp") === targetSplit)
    val oneFlips = if (probeHamming >= 1)
      (0 until bits).map(j => expr(s"__b ^ ${1 << j}").cast("int"))
      else Seq.empty
    // high-recall audit mode: the C(bits,2) two-bit flips as well —
    // candidate volume grows from (bits+1) to (bits²+bits+2)/2 probes per
    // query (37 at bits=8), recall measured by x168
    val twoFlips = if (probeHamming >= 2)
      (for { i <- 0 until bits; j <- i + 1 until bits }
        yield expr(s"__b ^ ${(1 << i) | (1 << j)}").cast("int"))
      else Seq.empty
    val probeCols = (col("__b") +: oneFlips) ++ twoFlips
    // probe buckets are pairwise distinct and each target lives in exactly
    // one bucket, so (qid, tid) candidate pairs are already unique
    val cand = q.select(col("id").as("qid"),
        explode(array(probeCols: _*)).as("__b"))
      .join(tgt.select(col("id").as("tid"), col("__b")), Seq("__b"))
      .select("qid", "tid")
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(desc("__cos"), col("tid"))
    val top1 = cand
      .join(q.select(col("id").as("qid"), col("__v").as("__qv"),
        col("__n").as("__qn")), "qid")
      .join(tgt.select(col("id").as("tid"), col("__v").as("__tv"),
        col("__n").as("__tn")), "tid")
      .select(col("qid"), col("tid"),
        (dot(col("__qv"), col("__tv")) / (col("__qn") * col("__tn")))
          .as("__cos"))
      .withColumn("__rk", row_number().over(rankW))
      .filter(col("__rk") === 1)
    // left join: candidate-less queries still report (null nearest, not
    // leaked) — an audit must never silently drop a query vector
    q.select(col("id").as("qid"))
      .join(top1, Seq("qid"), "left")
      .select(col("qid").as(idCol), col("tid").as("nearest_train_id"),
        round(col("__cos"), 4).as("cosine"),
        coalesce(col("__cos") >= threshold, lit(false)).as("leaked"))
  }

  /** IVF search: probe the `nprobe` cells whose centroids are closest to the
    * query (by cosine), then brute-force only within those cells. */
  def ivfTopK(data: DataFrame, idCol: String, cellCol: String, vecCol: String,
      queryDf: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val cents = centroids(data, cellCol, vecCol)
    val q = broadcast(queryDf.select(asDouble(col(vecCol)).as("__qv")))
    val probed = cents.crossJoin(q)
      .select(col("cell"), cosine(col("centroid"), col("__qv")).as("cs"))
      .orderBy(desc("cs"), col("cell"))
      .limit(nprobe)
    // cell list is tiny: broadcast the probe set into the candidate filter
    // (aliased so a data cell column literally named "cell" stays unambiguous)
    val candidates = data.join(
      broadcast(probed.select(col("cell").as("__probe_cell"))),
      data(cellCol) === col("__probe_cell"))
    bruteForceTopK(candidates, idCol, vecCol, queryDf, k)
  }

  /** Materialize the IVF index once: the vectors written as a catalog
    * table PARTITIONED by cell (probe-time cell predicates prune at the
    * FILE level — a 3-of-k probe reads 3/k of the corpus bytes, visible
    * as `PartitionFilters` in the scan), plus a `<table>_centroids`
    * companion (numCells×d — broadcast-sized).
    *
    * The dense-side twin of [[graft.operators.Retrieval.buildPostingsIndex]]:
    * hybrid search (x172's BM25 + cosine fusion) runs many query batches
    * against one corpus, and without the index every [[ivfTopK]] call
    * pays the full centroid aggregate plus an unpruned corpus scan. */
  def buildIvfIndex(data: DataFrame, idCol: String, cellCol: String,
      vecCol: String, table: String): Unit = {
    val spark = data.sparkSession
    // vector partitions and the centroid-state→centroids chain are
    // independent — overlap them on the shared [[Par]] pool (r15,
    // guide §2.6)
    Par.all(Seq(
      () => {
        dropTableWithDir(spark, table)
        data.select(col(idCol), col(cellCol), col(vecCol))
          .write.mode("overwrite").format("parquet")
          .partitionBy(cellCol).saveAsTable(table)
      },
      () => {
        dropTableWithDir(spark, s"${table}_cstate")
        centroidState(data, cellCol, vecCol)
          .write.mode("overwrite").format("parquet")
          .saveAsTable(s"${table}_cstate")
        dropTableWithDir(spark, s"${table}_centroids")
        centroidsFromState(spark.table(s"${table}_cstate"))
          .write.mode("overwrite").format("parquet")
          .saveAsTable(s"${table}_centroids")
      }))
    // a rebuilt index must not inherit a previous incarnation's
    // quantized serving companions (the stale-champion defect class):
    // the grid and codes describe the OLD corpus
    Seq("_codes", "_cdims", "_cmeta")
      .foreach(s => dropTableWithDir(spark, s"$table$s"))
  }

  /** SQ8 codes of a vector frame under `table`'s FROZEN grid
    * (`_cdims`/`_cmeta`) — the shared quantizer of [[buildIvfCodes]]
    * (where it sees exactly the vectors the grid was fit on) and the
    * lifecycle maintenance paths (where out-of-grid components CLAMP
    * into the edge buckets — the standard frozen-grid contract that
    * keeps codes comparable across the index lifetime). Returns
    * (idCol, cellCol, code array<smallint> in dim order). */
  private def sqCodesOf(spark: org.apache.spark.sql.SparkSession,
      df: DataFrame, idCol: String, cellCol: String, vecCol: String,
      table: String): DataFrame = {
    val dims = broadcast(spark.table(s"${table}_cdims"))
    val levels = spark.table(s"${table}_cmeta").head()
      .getAs[Int]("levels")
    df.select(col(idCol), col(cellCol),
        posexplode(asDouble(col(vecCol))).as(Seq("pos", "v")))
      .join(dims, "pos")
      .withColumn("qc", when(col("hi") === col("lo"), lit(0L))
        .otherwise(greatest(lit(0L),
          least(floor((col("v") - col("lo")) / (col("hi") - col("lo")) *
            lit(levels)), lit((levels - 1).toLong)))))
      .groupBy(col(idCol), col(cellCol))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("qc")))),
        s => s.getField("qc").cast("smallint")).as("code"))
  }

  /** Quantized serving companion for a [[buildIvfIndex]] index: a
    * `<table>_codes` table `(id, code array<smallint>, cell)` — SQ8
    * codes partitioned by the SAME cells as the full-precision vectors —
    * plus the frozen grid `_cdims (pos, lo, hi)` and 1-row
    * `_cmeta (levels)`. This is the memory/IO story of a 100 TB ANN
    * deployment: the probe-time scan reads 2 bytes per dimension instead
    * of 8 (float64) — the full-precision table is touched only for the
    * final `rescore`-row exact pass of [[ivfTopKQuantized]].
    *
    * Grid semantics: per-dim (lo, hi) fit over the CURRENT index corpus
    * and then FROZEN — appended vectors quantize into the same grid
    * (edge-bucket clamp), so codes stay mutually comparable; re-fit by
    * calling [[buildIvfCodes]] again. Lifecycle: append rides
    * ([[appendToIvfIndex]] appends the batch's codes into their cell
    * partitions), delete/upsert rewrite exactly the affected cell
    * partitions from surviving truth, [[rebalanceIvfCells]] rebuilds the
    * codes table to the new assignment (codes are per-row functions of
    * the vector, so the rebuild is one corpus pass at the frozen grid —
    * never a re-fit). */
  def buildIvfCodes(spark: org.apache.spark.sql.SparkSession,
      table: String, idCol: String, cellCol: String, vecCol: String,
      levels: Int = 256): Unit =
    fitCodes(spark, table, idCol, cellCol, vecCol, levels, gridGen = 0L)

  /** Grid REFIT — the drift repair the frozen-grid contract needs: after
    * enough appended drift, clamped components saturate the edge buckets
    * and ADC recall decays with no honest way back. This re-fits the
    * per-dim (lo, hi) grid over the CURRENT corpus, rebuilds every code
    * under it (one corpus pass — codes are per-row functions of the
    * vector and grid), and bumps `grid_gen` in `_cmeta` so operators can
    * tell refit generations apart. `levels` is preserved. Equivalent to
    * [[buildIvfCodes]] from scratch at the same levels (RefitSpec), so
    * every serving guarantee carries over; the before/after recall is
    * measured, not assumed (x283's drift-honesty gate). */
  def refitIvfCodes(spark: org.apache.spark.sql.SparkSession,
      table: String, idCol: String, cellCol: String,
      vecCol: String): Unit = {
    require(spark.catalog.tableExists(s"${table}_cmeta"),
      s"refitIvfCodes needs ${table}_cmeta — run buildIvfCodes first")
    val meta = spark.table(s"${table}_cmeta").head()
    val gen = if (meta.schema.fieldNames.contains("grid_gen"))
      meta.getAs[Long]("grid_gen") else 0L
    fitCodes(spark, table, idCol, cellCol, vecCol,
      meta.getAs[Int]("levels"), gen + 1L)
  }

  /** Clamp-rate DRIFT MONITOR for a frozen SQ8 grid — the number an
    * operator watches to decide when [[refitIvfCodes]] is due: for a
    * candidate batch (typically the next append), the fraction of vector
    * components that fall OUTSIDE the per-dim (lo, hi) grid and would
    * clamp into an edge bucket. A healthy in-distribution batch clamps
    * ~0 bps (the grid was fit on min/max, so in-range data never
    * clamps); a drifted batch shows up in the thousands — x283 measured
    * the recall cost of exactly that state, this operator detects it
    * BEFORE serving quality decays. Returns one row:
    * (n_vectors, n_components, n_clamped, n_dims_affected, clamp_bps) —
    * exact integers, basis points by integer division.
    *
    * Scale shape: one map-side pass over the batch (posexplode against
    * the broadcast d-row grid) into a single global aggregate — never
    * touches the index. */
  def sqClampStats(spark: org.apache.spark.sql.SparkSession,
      table: String, batch: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    require(spark.catalog.tableExists(s"${table}_cdims"),
      s"sqClampStats needs ${table}_cdims — run buildIvfCodes first")
    val out = when(col("v") < col("lo") || col("v") > col("hi"), 1L)
      .otherwise(0L)
    batch.select(col(idCol).as("__id"),
        posexplode(asDouble(col(vecCol))).as(Seq("pos", "v")))
      .join(broadcast(spark.table(s"${table}_cdims")), "pos")
      .withColumn("__c", out)
      .agg(countDistinct(col("__id")).as("n_vectors"),
        count(lit(1)).as("n_components"),
        sum(col("__c")).as("n_clamped"),
        countDistinct(when(col("__c") === 1L, col("pos")))
          .as("n_dims_affected"))
      .withColumn("clamp_bps",
        expr("n_clamped * 10000 div n_components"))
  }

  /** Close the SQ8 drift loop — the scheduled-maintenance POLICY op:
    * [[sqClampStats]] detects drift, x283 measured its recall cost,
    * [[refitIvfCodes]] repairs it; this is the one call an ingest
    * pipeline actually runs per batch. It (1) measures the batch's clamp
    * rate against the CURRENT frozen grid (one map-side pass, before the
    * batch can influence the grid), (2) appends the batch through
    * [[appendToIvfIndex]] (codes ride at the frozen grid), and (3) if
    * the measured `clamp_bps` EXCEEDS `maxClampBps`, refits grid+codes
    * over the post-append corpus ([[refitIvfCodes]] — `grid_gen` bumps
    * exactly once); a healthy batch leaves the grid untouched. An empty
    * batch is a full no-op (no append, no refit).
    *
    * Returns the DECISION ROW a maintenance log wants — all exact
    * BIGINTs, oracle-replayable: (n_vectors, n_components, n_clamped,
    * n_dims_affected, clamp_bps, max_clamp_bps, refit,
    * grid_gen_before, grid_gen_after); gens are read back from `_cmeta`,
    * not inferred. */
  def maintainIvfIndex(spark: org.apache.spark.sql.SparkSession,
      table: String, batch: DataFrame, idCol: String, cellCol: String,
      vecCol: String, maxClampBps: Long = 100L): DataFrame = {
    require(maxClampBps >= 0L, "maxClampBps must be >= 0")
    require(spark.catalog.tableExists(s"${table}_cmeta"),
      s"maintainIvfIndex needs ${table}_cmeta — run buildIvfCodes first")
    def gen(): Long = {
      val m = spark.table(s"${table}_cmeta").head()
      if (m.schema.fieldNames.contains("grid_gen"))
        m.getAs[Long]("grid_gen")
      else 0L // pre-grid_gen _cmeta (refitIvfCodes' convention)
    }
    // pin the batch once: the clamp measurement and the append both
    // execute its plan — an uncached non-deterministic source could
    // append data DIFFERING from what the decision measured (r14
    // ADVICE; the maintainIvfCells / incrementalSubstrCore discipline)
    val b = batch.select(col(idCol), col(cellCol), col(vecCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val st = sqClampStats(spark, table, b, idCol, vecCol).head()
      val nVec = st.getLong(0)
      // integer-division bps is null only when n_components = 0 (empty
      // batch) — nothing to clamp, nothing to repair
      val clampBps = if (st.isNullAt(4)) 0L else st.getLong(4)
      val genBefore = gen()
      val refit = nVec > 0L && clampBps > maxClampBps
      if (nVec > 0L) {
        appendToIvfIndex(b, idCol, cellCol, vecCol, table)
        if (refit) refitIvfCodes(spark, table, idCol, cellCol, vecCol)
      }
      spark.range(1).select(
        lit(nVec).as("n_vectors"),
        lit(if (st.isNullAt(1)) 0L else st.getLong(1)).as("n_components"),
        lit(if (st.isNullAt(2)) 0L else st.getLong(2)).as("n_clamped"),
        lit(if (st.isNullAt(3)) 0L else st.getLong(3)).as("n_dims_affected"),
        lit(clampBps).as("clamp_bps"),
        lit(maxClampBps).as("max_clamp_bps"),
        lit(if (refit) 1L else 0L).as("refit"),
        lit(genBefore).as("grid_gen_before"),
        lit(gen()).as("grid_gen_after"))
    } finally b.unpersist()
  }

  /** Close the third drift loop — the cell-occupancy POLICY op beside
    * [[maintainIvfIndex]] (grid drift) and [[maintainPostingsIndex]]'s
    * sparse twin (tombstone debt): a skewed ingest stream piles vectors
    * into hot cells until probes over-scan (x257 measured the recall
    * cost, [[rebalanceIvfCells]] repairs it — this measures and
    * DECIDES). It (1) appends the batch through [[appendToIvfIndex]]
    * (skipped when empty; codes ride at the frozen grid), (2) measures
    * POST-append occupancy skew off the |cells|-bounded `_cstate` —
    * `skew_bps = max_occupancy · 10000 · n_cells / total` (exact integer
    * division; 10000 = perfectly uniform), and (3) if the skew EXCEEDS
    * `maxSkewBps`, runs [[rebalanceIvfCells]] — which rewrites ONLY the
    * affected cell partitions and carries the `_codes` companion through
    * to the new assignment (rebalancing invalidates its cell
    * partitioning; the x269 sequence, now policy-driven).
    *
    * Returns the DECISION ROW — exact BIGINTs, oracle-replayable:
    * (n_vectors, n_cells, occ_total, occ_max, skew_bps, max_skew_bps,
    * rebalanced, n_cells_after, occ_max_after, rebalance_gen_before,
    * rebalance_gen_after); the generation lives in the 1-row `_rmeta`
    * companion (absent = 0) and bumps exactly once per rebalance. */
  def maintainIvfCells(spark: org.apache.spark.sql.SparkSession,
      table: String, batch: DataFrame, idCol: String, cellCol: String,
      vecCol: String, maxSkewBps: Long = 20000L,
      splitAbove: Double = 2.0, mergeBelow: Double = 0.5): DataFrame = {
    require(maxSkewBps >= 10000L,
      "maxSkewBps below 10000 (= perfectly uniform occupancy) would " +
        "rebalance on every batch forever")
    def rgen(): Long =
      if (spark.catalog.tableExists(s"${table}_rmeta"))
        spark.table(s"${table}_rmeta").head().getAs[Long]("rebalance_gen")
      else 0L
    def occStats(): (Long, Long, Long) = {
      val st = spark.table(s"${table}_cstate")
        .groupBy("cell").agg(max(col("cn")).as("__n"))
        .agg(count(lit(1)).as("n_cells"), sum(col("__n")).as("n_total"),
          max(col("__n")).as("n_max"))
        .head()
      (st.getLong(0), if (st.isNullAt(1)) 0L else st.getLong(1),
        if (st.isNullAt(2)) 0L else st.getLong(2))
    }
    // pin the batch once: it feeds the emptiness probe + the append's
    // several passes (the maintainPostingsIndex discipline)
    val b = batch.select(col(idCol), col(cellCol), col(vecCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nVec = b.count()
      if (nVec > 0L) appendToIvfIndex(b, idCol, cellCol, vecCol, table)
      val (nCells, nTotal, nMax) = occStats()
      val skewBps =
        if (nTotal == 0L) 0L else nMax * 10000L * nCells / nTotal
      val genBefore = rgen()
      val rebalance = skewBps > maxSkewBps
      if (rebalance) {
        rebalanceIvfCells(spark, table, idCol, cellCol, vecCol,
          splitAbove, mergeBelow)
        dropTableWithDir(spark, s"${table}_rmeta")
        spark.range(1)
          .select(lit(genBefore + 1L).as("rebalance_gen"))
          .write.mode("overwrite").format("parquet")
          .saveAsTable(s"${table}_rmeta")
      }
      val (nCellsAfter, _, nMaxAfter) =
        if (rebalance) occStats() else (nCells, nTotal, nMax)
      spark.range(1).select(
        lit(nVec).as("n_vectors"),
        lit(nCells).as("n_cells"),
        lit(nTotal).as("occ_total"),
        lit(nMax).as("occ_max"),
        lit(skewBps).as("skew_bps"),
        lit(maxSkewBps).as("max_skew_bps"),
        lit(if (rebalance) 1L else 0L).as("rebalanced"),
        lit(nCellsAfter).as("n_cells_after"),
        lit(nMaxAfter).as("occ_max_after"),
        lit(genBefore).as("rebalance_gen_before"),
        lit(rgen()).as("rebalance_gen_after"))
    } finally b.unpersist()
  }

  private def fitCodes(spark: org.apache.spark.sql.SparkSession,
      table: String, idCol: String, cellCol: String, vecCol: String,
      levels: Int, gridGen: Long): Unit = {
    require(levels > 1 && levels <= 32767, "levels must fit a smallint")
    val data = spark.table(table)
    // the grid plan reads only the vector table (never `_cdims` itself),
    // so it writes straight through — the former eager localCheckpoint
    // re-materialized the full-corpus posexplode scan for nothing (r15)
    val dims = data
      .select(posexplode(asDouble(col(vecCol))).as(Seq("pos", "v")))
      .groupBy("pos")
      .agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
    dropTableWithDir(spark, s"${table}_cdims")
    dims.write.mode("overwrite").format("parquet")
      .saveAsTable(s"${table}_cdims")
    dropTableWithDir(spark, s"${table}_cmeta")
    spark.range(1).select(lit(levels).as("levels"),
        lit(gridGen).as("grid_gen"))
      .write.mode("overwrite").format("parquet")
      .saveAsTable(s"${table}_cmeta")
    dropTableWithDir(spark, s"${table}_codes")
    sqCodesOf(spark, data, idCol, cellCol, vecCol, table)
      .write.mode("overwrite").format("parquet")
      .partitionBy(cellCol).saveAsTable(s"${table}_codes")
  }

  /** IVF search over the QUANTIZED index — the asymmetric-distance
    * (ADC) serving path: route the query to `nprobe` cells via the
    * broadcast centroids, scan only those cells' `_codes` partitions,
    * score the full-precision query against bucket-center
    * reconstructions, keep the top `rescore` candidates, and EXACT-score
    * just those against the full-precision table — the standard
    * two-stage quantized serve (coarse pass reads the 2-byte/dim codes,
    * the 8-byte/dim vectors are read for `rescore` rows only). Returns
    * (idCol, adc_cosine, cosine, rank) ranked by the EXACT cosine,
    * id-tiebroken; `rescore` ≥ k trades the re-read volume against the
    * chance the ADC pass mis-orders near-ties. */
  def ivfTopKQuantized(spark: org.apache.spark.sql.SparkSession,
      table: String, idCol: String, cellCol: String, vecCol: String,
      queryDf: DataFrame, k: Int, nprobe: Int, rescore: Int): DataFrame = {
    require(k >= 1 && rescore >= k, "need rescore >= k >= 1")
    require(spark.catalog.tableExists(s"${table}_codes"),
      s"ivfTopKQuantized needs ${table}_codes — run buildIvfCodes first")
    // single-query contract, enforced IN the serving plan: the routing
    // limit and the partition-less rank windows below assume ONE query
    // vector — a multi-row frame would silently mix queries into one
    // ranking (r12 ADVICE). A global window count rides the broadcast
    // build and raise_error fires on >1 rows, so the hard error costs
    // ZERO extra jobs (the r13 eager limit(2).count() guard re-executed
    // the query frame's lineage on every serve — a latency tax on the
    // hot path). The limit(2) BEFORE the window caps what a
    // pathologically large wrong input can cost: without it, the
    // partition-less window would shuffle the ENTIRE bad frame into one
    // task before raise_error could fire; with it, at most two rows ever
    // reach the window and the error still fires on anything >1
    // (r14 ADVICE). An EMPTY query frame serves an empty result (no
    // query, no answer — callers wanting a hard error on empty should
    // guard upstream). Batches go through ivfTopKQuantizedBatch, which
    // keys everything by query.
    val wq = org.apache.spark.sql.expressions.Window.partitionBy()
    val q = broadcast(queryDf.select(asDouble(col(vecCol)).as("__qv"))
      .limit(2)
      .withColumn("__nq", count(lit(1)).over(wq))
      .select(when(col("__nq") > 1L,
          raise_error(
            lit("ivfTopKQuantized takes exactly one query row, got " +
              "several — use ivfTopKQuantizedBatch for query batches"))
            .cast("array<double>"))
        .otherwise(col("__qv")).as("__qv")))
    val probed = spark.table(s"${table}_centroids").crossJoin(q)
      .select(col("cell"), cosine(col("centroid"), col("__qv")).as("cs"))
      .orderBy(desc("cs"), col("cell"))
      .limit(nprobe)
    val codes = spark.table(s"${table}_codes")
    val cand = codes.join(
      broadcast(probed.select(col("cell").as("__probe_cell"))),
      codes(cellCol) === col("__probe_cell"))
    // bucket-center reconstruction — the dequantizedVectors formula,
    // restricted to the probed cells; the `levels` scalar rides the
    // plan as a broadcast 1-row cross join instead of an eager head()
    // job per serve (r16 job-count cut — same double arithmetic)
    val deq = cand
      .select(col(idCol), posexplode(col("code")).as(Seq("pos", "qc")))
      .join(broadcast(spark.table(s"${table}_cdims")), "pos")
      .crossJoin(broadcast(
        spark.table(s"${table}_cmeta").select(col("levels"))))
      .withColumn("deq", col("lo") + (col("qc").cast("double") +
        lit(0.5)) * (col("hi") - col("lo")) / col("levels").cast("double"))
      .drop("levels")
      .groupBy(col(idCol))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("deq")))),
        s => s.getField("deq")).as("__dv"))
    val topR = deq.crossJoin(q)
      .select(col(idCol),
        cosine(col("__dv"), col("__qv")).as("adc_cosine"))
      .orderBy(desc("adc_cosine"), col(idCol))
      .limit(rescore)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(desc("__cos"), col(idCol))
    spark.table(table)
      .join(broadcast(topR), Seq(idCol))
      .crossJoin(q)
      .select(col(idCol), col("adc_cosine"),
        cosine(asDouble(col(vecCol)), col("__qv")).as("__cos"))
      // rescore-bounded frame: the partition-less rank window holds at
      // most `rescore` rows
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), round(col("adc_cosine"), 4).as("adc_cosine"),
        round(col("__cos"), 4).as("cosine"), col("rank"))
      .orderBy("rank")
  }

  /** Per-(cell, dim) centroid STATE `(cell, i, cs, cn)` with exact
    * DECIMAL(28,18) element sums — the mergeable half of a centroid.
    * Decimal sums are associative and order-independent, so merging a
    * batch state into the stored state ([[appendToIvfIndex]]) yields
    * BIT-identical centroids to a full rebuild — the IVM equality the
    * x60 pattern gates. (vectorMean's double sums would drift with
    * partitioning; the index path pays the explode for exactness.) */
  private def centroidState(data: DataFrame, cellCol: String,
      vecCol: String): DataFrame =
    data.select(col(cellCol).as("cell"),
        posexplode(asDouble(col(vecCol))).as(Seq("i", "x")))
      .groupBy("cell", "i")
      .agg(sum(col("x").cast("decimal(28,18)")).as("cs"),
        count(lit(1)).as("cn"))

  /** Derive the broadcastable `(cell, centroid, n)` table from the state:
    * element mean = double(exact sum)/n, array rebuilt in dim order. */
  private def centroidsFromState(st: DataFrame): DataFrame =
    st.groupBy("cell")
      .agg(transform(
          array_sort(collect_list(struct(col("i"),
            (col("cs").cast("double") / col("cn").cast("double")).as("v")))),
          s => s.getField("v")).as("centroid"),
        max(col("cn")).as("n"))

  /** Incremental maintenance of a [[buildIvfIndex]] index: append a
    * vector batch (carrying its cell assignment — route cell-less
    * batches with [[routeToNearestCell]] first) without rebuilding.
    * Batch ids must be disjoint from the indexed corpus.
    *
    * What moves: the batch rows land in their cell PARTITIONS
    * (mode("append") writes only new files into matched cell
    * directories — existing files untouched); the centroid state merges
    * by summation ([[Incremental.mergeStates]] over the exact DECIMAL
    * element sums — associative, so append ≡ rebuild exactly, gated by
    * x210); the centroid table regenerates from the merged state
    * (numCells×d — broadcast-sized). The corpus-sized vector table is
    * read by NOTHING in this path. */
  def appendToIvfIndex(newData: DataFrame, idCol: String, cellCol: String,
      vecCol: String, table: String): Unit = {
    val spark = newData.sparkSession
    // three INDEPENDENT updates (vector partitions, centroid state +
    // derived centroids, quantized codes), overlapped on the shared
    // [[Par]] pool (guide §2.6 — serially each paid its own fixed
    // driver/commit cost per micro-batch). The cstate merge reads the
    // table it replaces; [[Warehouse.replaceSmallTable]]'s staging write
    // keeps the old incarnation readable, retiring the former eager
    // localCheckpoint pin (r15).
    val lanes = Seq.newBuilder[() => Unit]
    lanes += { () =>
      newData.select(col(idCol), col(cellCol), col(vecCol))
        .write.mode("append").format("parquet")
        .partitionBy(cellCol).saveAsTable(table)
    }
    lanes += { () =>
      val merged = graft.operators.Incremental.mergeStates(
        Seq(spark.table(s"${table}_cstate"),
          centroidState(newData, cellCol, vecCol)), Seq("cell", "i"))
      Warehouse.replaceSmallTable(merged, s"${table}_cstate")
      Warehouse.replaceSmallTable(
        centroidsFromState(spark.table(s"${table}_cstate")),
        s"${table}_centroids")
    }
    // quantized serving companion: the batch's codes ride the append
    // into their cell partitions at the FROZEN grid (see
    // [[buildIvfCodes]] — out-of-grid components clamp, never re-fit)
    if (spark.catalog.tableExists(s"${table}_codes")) lanes += { () =>
      sqCodesOf(spark, newData.select(col(idCol), col(cellCol),
          col(vecCol)), idCol, cellCol, vecCol, table)
        .write.mode("append").format("parquet")
        .partitionBy(cellCol).saveAsTable(s"${table}_codes")
    }
    Par.all(lanes.result())
  }

  /** Batch twin of [[ivfTopKQuantized]] — the serving shape a real
    * deployment runs (hybrid-search pipelines score QUERY BATCHES, not
    * one vector at a time): per-query routing to `nprobe` cells
    * ([[ivfTopKBatch]]'s window), ONE bucket-center reconstruction per
    * candidate doc across the whole batch (the distinct probed-cell set
    * drives the code scan, so a doc probed by five queries dequantizes
    * once, not five times), per-query ADC top-`rescore`, then the exact
    * full-precision rescore ranks top-k. Returns
    * (query_id, idCol, adc_cosine, cosine, rank). */
  def ivfTopKQuantizedBatch(spark: org.apache.spark.sql.SparkSession,
      table: String, idCol: String, cellCol: String, vecCol: String,
      queries: DataFrame, queryIdCol: String, k: Int, nprobe: Int,
      rescore: Int): DataFrame = {
    // same contract as the single-query probe (r12 ADVICE: a batch call
    // with rescore < k silently served fewer than k rows per query)
    require(k >= 1 && rescore >= k, "need rescore >= k >= 1")
    require(spark.catalog.tableExists(s"${table}_codes"),
      s"ivfTopKQuantizedBatch needs ${table}_codes — run buildIvfCodes" +
        " first")
    val q = broadcast(queries.select(col(queryIdCol).as("query_id"),
      asDouble(col(vecCol)).as("__qv")))
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy("__pq").orderBy(desc("__cs"), col("__probe_cell"))
    val cells = spark.table(s"${table}_centroids").crossJoin(q)
      .select(col("query_id").as("__pq"), col("cell").as("__probe_cell"),
        cosine(col("centroid"), col("__qv")).as("__cs"))
      .withColumn("__r", row_number().over(wp))
      .filter(col("__r") <= nprobe)
      .select(col("__pq"), col("__probe_cell"))
    val codes = spark.table(s"${table}_codes")
    // one reconstruction per doc in the UNION of probed cells; the
    // `levels` scalar rides the plan as a broadcast 1-row cross join
    // instead of an eager head() job per serve (r16 job-count cut)
    val probedCells = cells.select(col("__probe_cell")).distinct()
    val deq = codes.join(broadcast(probedCells),
        codes(cellCol) === col("__probe_cell"))
      .select(col(idCol), col(cellCol),
        posexplode(col("code")).as(Seq("pos", "qc")))
      .join(broadcast(spark.table(s"${table}_cdims")), "pos")
      .crossJoin(broadcast(
        spark.table(s"${table}_cmeta").select(col("levels"))))
      .withColumn("deq", col("lo") + (col("qc").cast("double") +
        lit(0.5)) * (col("hi") - col("lo")) / col("levels").cast("double"))
      .drop("levels")
      .groupBy(col(idCol), col(cellCol))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("deq")))),
        s => s.getField("deq")).as("__dv"))
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(desc("adc_cosine"), col(idCol))
    val topR = deq.join(broadcast(cells),
        deq(cellCol) === col("__probe_cell"))
      .join(q, col("__pq") === q("query_id"))
      .select(col("query_id"), col(idCol),
        cosine(col("__dv"), col("__qv")).as("adc_cosine"))
      .withColumn("__rr", row_number().over(wr))
      .filter(col("__rr") <= rescore)
      .drop("__rr")
    val wk = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(desc("__cos"), col(idCol))
    spark.table(table)
      .join(broadcast(topR), Seq(idCol))
      .join(q, Seq("query_id"))
      .select(col("query_id"), col(idCol), col("adc_cosine"),
        cosine(asDouble(col(vecCol)), col("__qv")).as("__cos"))
      .withColumn("rank", row_number().over(wk))
      .filter(col("rank") <= k)
      .select(col("query_id"), col(idCol),
        round(col("adc_cosine"), 4).as("adc_cosine"),
        round(col("__cos"), 4).as("cosine"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** Delete vectors from a [[buildIvfIndex]] index — the lifecycle
    * complement of [[appendToIvfIndex]] (and the ingredient
    * [[refineCells]] doesn't cover: shrinking the corpus). Ids absent
    * from the index are no-ops, so a re-run is idempotent.
    *
    * What moves, and why the result is BIT-identical to a rebuild on
    * the surviving vectors (gated by x238):
    *  - the deleted rows are found by ONE id-semi-joined index scan and
    *    staged durably; only their cells' PARTITIONS are rewritten
    *    (dynamic partition overwrite — untouched cells keep their
    *    files), with cells emptied entirely dropped via partition DDL,
    *    exactly as a rebuild would not produce them;
    *  - the exact-DECIMAL centroid state has the deleted batch's state
    *    SUBTRACTED (decimal sums are associative, so full − deleted =
    *    survivors to the bit); cells whose count reaches 0 drop out;
    *  - the broadcast centroid table regenerates from the merged state.
    *
    * Both the deleted rows and the affected-cell survivors are staged
    * as durable parquet tables BEFORE any partition of the source is
    * overwritten (the refineCells lesson — executor-local pins are not
    * crash-safe when the source is being destroyed). */
  def deleteFromIvfIndex(spark: org.apache.spark.sql.SparkSession,
      deleteIds: DataFrame, idCol: String, table: String,
      cellCol: String, vecCol: String): Unit = {
    val delT = s"${table}_delete_staging"
    val survT = s"${table}_survivor_staging"
    dropTableWithDir(spark, delT)
    spark.table(table)
      .join(broadcast(deleteIds.select(col(idCol)).distinct()), Seq(idCol),
        "left_semi")
      .write.mode("overwrite").format("parquet").saveAsTable(delT)
    val delS = spark.table(delT)
    // driver collect bounded by |cells| BY CONSTRUCTION (distinct values
    // of the partition column — centroid-table-sized, never the corpus)
    val affected = delS.select(col(cellCol)).distinct().collect()
      .map(_.get(0))
    if (affected.nonEmpty) {
      dropTableWithDir(spark, survT)
      spark.table(table).filter(col(cellCol).isin(affected: _*))
        .join(broadcast(delS.select(col(idCol))), Seq(idCol), "left_anti")
        .write.mode("overwrite").format("parquet").saveAsTable(survT)
      // cells with no survivors get no partition from the dynamic
      // overwrite — they need an explicit DDL drop, as a rebuild
      // would never have written them (collect again |cells|-bounded)
      val survCells = spark.table(survT).select(col(cellCol)).distinct()
        .collect().map(_.get(0)).toSet
      val vacated = affected.filterNot(survCells)
      // Once the survivors and the delete set are STAGED DURABLY, the
      // three remaining updates touch DISJOINT tables and overlap on the
      // shared [[Par]] pool (guide §2.6 — serially each paid its own
      // fixed driver/commit cost). The dynamic partition-overwrite mode
      // is a SESSION conf (the DataFrameWriter option form only applies
      // to path-based save(), not catalog insertInto — verified: the
      // option silently fell back to static and wiped unaffected
      // partitions), so the toggle wraps the WHOLE lane block: the only
      // writes that consult it are the two partitioned insertIntos, and
      // the state lane's non-partitioned saveAsTable swaps never read
      // it — no lane can observe a torn value.
      val lanes = Seq.newBuilder[() => Unit]
      // lane 1: rewrite ONLY the affected cell partitions of the vector
      // table (positional insertInto: partition column last, matching
      // the table's on-disk layout), then vacate survivor-less cells
      lanes += { () =>
        spark.table(survT)
          .select(spark.table(table).columns.map(col).toIndexedSeq: _*)
          .write.mode("overwrite")
          .insertInto(table)
        vacated.foreach { c =>
          val v = c.toString.replace("'", "''")
          spark.sql(s"ALTER TABLE `$table` DROP IF EXISTS " +
            s"PARTITION (`$cellCol`='$v')")
        }
      }
      // lane 2: quantized serving companion — affected cells' codes
      // recomputed from the STAGED survivors at the frozen grid,
      // vacated cells dropped by the same DDL (a stale codes partition
      // would resurrect deleted vectors in every ADC pass)
      if (spark.catalog.tableExists(s"${table}_codes")) lanes += { () =>
        sqCodesOf(spark, spark.table(survT), idCol, cellCol, vecCol,
            table)
          .select(spark.table(s"${table}_codes").columns
            .map(col).toIndexedSeq: _*)
          .write.mode("overwrite")
          .insertInto(s"${table}_codes")
        vacated.foreach { c =>
          val v = c.toString.replace("'", "''")
          spark.sql(s"ALTER TABLE `${table}_codes` DROP IF EXISTS " +
            s"PARTITION (`$cellCol`='$v')")
        }
        spark.catalog.refreshTable(s"${table}_codes")
      }
      // lane 3: centroid state — the merged (full − deleted) state swaps
      // in via [[Warehouse.replaceSmallTable]] (staging write + catalog
      // rename): the old incarnation stays readable while the merge plan
      // reads it AND the staging write is durable before the swap — the
      // refineCells discipline (an executor loss mid-swap never holds
      // the only copy), with one write+read pair FEWER than the former
      // explicit staging-table shuffle. The delete-side state reads the
      // staged delT, not the vector table lane 1 is overwriting.
      lanes += { () =>
        val neg = centroidState(delS, cellCol, vecCol)
          .select(col("cell"), col("i"), (-col("cs")).as("cs"),
            (-col("cn")).as("cn"))
        Warehouse.replaceSmallTable(
          graft.operators.Incremental.mergeStates(
              Seq(spark.table(s"${table}_cstate"), neg), Seq("cell", "i"))
            .filter(col("cn") > 0),
          s"${table}_cstate")
        Warehouse.replaceSmallTable(
          centroidsFromState(spark.table(s"${table}_cstate")),
          s"${table}_centroids")
      }
      withConf(spark, DynamicOverwrite)(Par.all(lanes.result()))
      dropTableWithDir(spark, survT)
    }
    dropTableWithDir(spark, delT)
  }

  /** Upsert a vector batch into a [[buildIvfIndex]] index: replace
    * vectors whose ids are already indexed, insert the rest — delete →
    * append. Unlike the postings upsert there is NO compaction step:
    * [[deleteFromIvfIndex]] is physical (the affected cell partitions
    * are rewritten immediately), so a re-added id has no old rows to
    * collide with. Batches must carry their cell assignment — route
    * cell-less batches with [[routeToNearestCell]] first. Gated by
    * x239: stale-build → upsert ≡ building on the final corpus. */
  def upsertIntoIvfIndex(spark: org.apache.spark.sql.SparkSession,
      newData: DataFrame, idCol: String, cellCol: String, vecCol: String,
      table: String): Unit = {
    deleteFromIvfIndex(spark, newData.select(col(idCol)), idCol, table,
      cellCol, vecCol)
    appendToIvfIndex(newData, idCol, cellCol, vecCol, table)
  }

  /** Per-cell health report of an IVF index — the "when do I refine"
    * signal ([[refineCells]] is the corpus-rewrite answer): cell sizes
    * with each cell's share of the corpus and its ratio to the mean
    * cell size. A max ratio ≫ 1 means probe cost is dominated by one
    * hot cell (appends drifted the balance); ratios near 1 mean the
    * partitions prune evenly. Reads ONLY the (cells×d)-row state table
    * — never the vectors. */
  def ivfIndexStats(spark: org.apache.spark.sql.SparkSession,
      table: String): DataFrame = {
    val sizes = spark.table(s"${table}_cstate")
      .groupBy(col("cell")).agg(max(col("cn")).as("n_vectors"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    sizes
      .withColumn("__tot", sum(col("n_vectors")).over(w))
      .withColumn("__ncells", count(lit(1)).over(w))
      .select(col("cell"), col("n_vectors"),
        round(col("n_vectors").cast("double") /
          col("__tot").cast("double"), 6).as("share"),
        round(col("n_vectors").cast("double") * col("__ncells").cast("double") /
          col("__tot").cast("double"), 6).as("ratio_to_mean"))
      .orderBy("cell")
  }

  /** Targeted IVF cell maintenance — the surgical middle ground between
    * cheap appends and [[refineCells]]' full corpus rewrite, driven by
    * exactly the signal [[ivfIndexStats]] reports: SPLIT every cell
    * whose size ratio-to-mean exceeds `splitAbove` (one 2-means Lloyd
    * step on JUST that cell's rows: deterministic md5 half seeding →
    * exact-DECIMAL half centroids → one cosine reassignment, half 0
    * keeping the cell id, half 1 taking a fresh id above the current
    * max) and MERGE every cell below `mergeBelow` (members rerouted to
    * the nearest SURVIVING centroid, ties to the lowest cell; arrivals
    * into a cell that is itself splitting join that cell's split
    * assignment, so one pass leaves no oversized survivor it created
    * itself).
    *
    * 100 TB shape: only the AFFECTED partitions move — split sources,
    * merge sources (vacated via partition DDL, the x238 machinery),
    * reroute targets (their untouched rows ride along so the dynamic
    * partition overwrite is complete per partition), and the fresh
    * split halves. The corpus outside those partitions is read by
    * nothing. The full affected contents are staged DURABLY before any
    * destructive write (the refineCells discipline), and the centroid
    * state of affected cells is recomputed from the staged truth with
    * the same exact-DECIMAL sums as a from-scratch build — so the
    * centroid table is bit-identical to rebuilding on the final
    * assignment. Cell ids must be integral (the library's md5Cell /
    * label cells are). Driver collects are |cells|-bounded throughout.
    * Gated by x257 (full per-step oracle replay: sizes → split/merge
    * sets → reroute → half seeding → reassignment → probe → top-k). */
  def rebalanceIvfCells(spark: org.apache.spark.sql.SparkSession,
      table: String, idCol: String, cellCol: String, vecCol: String,
      splitAbove: Double = 2.0, mergeBelow: Double = 0.5): Unit = {
    require(splitAbove > 1.0 && mergeBelow < 1.0 && mergeBelow >= 0.0,
      s"need mergeBelow < 1 < splitAbove, got ($mergeBelow, $splitAbove)")
    // sizes off the (cells×d) state — |cells|-bounded driver collect
    val sizes = spark.table(s"${table}_cstate")
      .groupBy(col("cell").cast("long").as("cell"))
      .agg(max(col("cn")).as("n")).orderBy("cell").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val total = sizes.map(_._2).sum
    val mean = total.toDouble / sizes.length
    val splits = sizes.filter(_._2 > splitAbove * mean).map(_._1)
    val merges = sizes.filter(_._2 < mergeBelow * mean).map(_._1)
    require(sizes.length - merges.length >= 1,
      "rebalanceIvfCells: merging every cell leaves nothing to route to")
    if (splits.isEmpty && merges.isEmpty) return
    val maxCell = sizes.map(_._1).max
    // fresh ids for the second half of each split, in split-cell order
    val newIdOf = splits.sorted.zipWithIndex
      .map { case (c, i) => (c, maxCell + 1 + i) }.toMap
    val splitSet = splits.toSet
    val base = spark.table(table)
    // 1) reroute merge-cell members to the nearest surviving centroid
    val survCents = broadcast(spark.table(s"${table}_centroids")
      .filter(!col("cell").cast("long").isin(merges: _*))
      .select(col("cell").cast("long").as("cell"), col("centroid"),
        norm(col("centroid")).as("__cn")))
    val wT = org.apache.spark.sql.expressions.Window
      .partitionBy("__id").orderBy(desc("__cs"), col("cell"))
    val rerouted =
      if (merges.isEmpty) null
      else base.filter(col(cellCol).cast("long").isin(merges: _*))
        .select(col(idCol).as("__id"), col(vecCol).as("__vec"))
        .withColumn("__v", asDouble(col("__vec")))
        .withColumn("__nn", norm(col("__v")))
        .crossJoin(survCents)
        .select(col("__id"), col("__vec"), col("cell"),
          (dot(col("__v"), col("centroid")) / (col("__nn") * col("__cn")))
            .as("__cs"))
        .withColumn("__rk", row_number().over(wT))
        .filter(col("__rk") === 1)
        .select(col("__id").as(idCol), col("cell").as("__dest"),
          col("__vec").as(vecCol))
    // 2) split assignment: original rows of split cells ∪ arrivals into
    //    them; md5 half seed → exact-DECIMAL half centroids → one cosine
    //    reassignment (ties to half 0). The persisted per-split input is
    //    released in the finally below — it is read by two jobs (half
    //    centroids + reassignment) and dead after the staging write.
    var splitInput: DataFrame = null
    try {
    val splitAssigned =
      if (splits.isEmpty) null
      else {
        val own = base.filter(col(cellCol).cast("long").isin(splits: _*))
          .select(col(idCol), col(cellCol).cast("long").as("__c"),
            col(vecCol))
        splitInput = (if (rerouted == null) own
          else own.unionByName(rerouted
            .filter(col("__dest").isin(splits: _*))
            .select(col(idCol), col("__dest").as("__c"), col(vecCol))))
          .withColumn("__half", md5Cell("ivfsplit", col(idCol), 2))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val halfCents = broadcast(splitInput
          .select(col("__c"), col("__half"),
            posexplode(asDouble(col(vecCol))).as(Seq("i", "x")))
          .groupBy("__c", "__half", "i")
          .agg((sum(dec18(col("x"))).cast("double") /
            count(lit(1)).cast("double")).as("v"))
          .groupBy("__c", "__half")
          .agg(transform(
              array_sort(collect_list(struct(col("i"), col("v")))),
              s => s.getField("v")).as("__hc"))
          .withColumn("__hn", norm(col("__hc"))))
        val wH = org.apache.spark.sql.expressions.Window
          .partitionBy("__rid").orderBy(desc("__cs"), col("__half"))
        val newIdCol = splits.sorted.foldLeft(lit(null).cast("long")) {
          (acc, c) => when(col("__c") === c, lit(newIdOf(c))).otherwise(acc)
        }
        splitInput
          .select(col(idCol).as("__rid"), col("__c"), col(vecCol)
            .as("__vec"))
          .withColumn("__v", asDouble(col("__vec")))
          .withColumn("__nn", norm(col("__v")))
          .join(halfCents, Seq("__c"))
          .select(col("__rid"), col("__c"), col("__vec"), col("__half"),
            (dot(col("__v"), col("__hc")) / (col("__nn") * col("__hn")))
              .as("__cs"))
          .withColumn("__rk", row_number().over(wH))
          .filter(col("__rk") === 1)
          .select(col("__rid").as(idCol),
            when(col("__half") === 0, col("__c")).otherwise(newIdCol)
              .as("__dest"),
            col("__vec").as(vecCol))
      }
    // 3) complete contents of every affected partition, staged durably:
    //    reroute targets carry their untouched original rows so the
    //    dynamic partition overwrite replaces each partition wholesale
    val arrivals =
      if (rerouted == null) splitAssigned
      else if (splitAssigned == null) rerouted
      else splitAssigned.unionByName(
        rerouted.filter(!col("__dest").isin(splits: _*)))
    // ONE |cells|-bounded collect of every staged destination: feeds the
    // reroute-target partition completion AND the vacate set below
    val destCells = arrivals.select(col("__dest")).distinct().collect()
      .map(_.getLong(0))
    val targetCells = destCells.filterNot(splitSet).filter(_ <= maxCell)
    val targetOrig = base
      .filter(col(cellCol).cast("long").isin(targetCells.toSeq: _*))
      .select(col(idCol), col(cellCol).cast("long").as("__dest"),
        col(vecCol))
    // staged cell ids go back to the table's own cell type (partition
    // column and state-table cell types must line up exactly)
    val cellType = base.schema(cellCol).dataType
    val staged = arrivals.select(col(idCol), col("__dest"), col(vecCol))
      .unionByName(targetOrig)
      .select(col(idCol), col("__dest").cast(cellType).as(cellCol),
        col(vecCol))
    val stagingT = s"${table}_rebalance_staging"
    dropTableWithDir(spark, stagingT)
    staged.write.mode("overwrite").format("parquet").saveAsTable(stagingT)
    // Everything below the staged truth splits into two INDEPENDENT
    // lanes on the shared [[Par]] pool (guide §2.6): the vector-table
    // partition surgery + its codes rebuild (the codes read the
    // POST-surgery table, so they stay one lane, strictly ordered), and
    // the centroid-state surgery (reads stagingT + the old state —
    // disjoint from the vector table). The dynamic partition-overwrite
    // SESSION conf wraps the whole lane block (the DataFrameWriter
    // option form only applies to path-based save(), not catalog
    // insertInto): the only write that consults it is lane 1's
    // partitioned insertInto; the state lane's non-partitioned
    // saveAsTable swaps never read it — no lane can observe a torn
    // value.
    val vacated = merges ++ splits.filterNot(destCells.toSet)
    val lanes = Seq.newBuilder[() => Unit]
    // lane 1: 4) partition surgery — overwrite exactly the staged
    // partitions, then vacate the merged sources AND any split source no
    // staged row kept (when a split's reassignment or md5 half seeding
    // leaves half 0 empty, the dynamic overwrite never touched the
    // source partition; without the DDL its old rows would stay live on
    // disk while the cell vanished from _cstate/_centroids) — then the
    // quantized codes rebuild to the NEW assignment at the FROZEN grid
    // (one pass over the rebalanced table; codes are per-row functions
    // of the vector, so no re-fit — and the plan reads only `table` +
    // the grid companions, so the former eager localCheckpoint pin
    // before the codes drop bought nothing: the fitCodes r15 lesson)
    lanes += { () =>
      spark.table(stagingT)
        .select(base.columns.map(col).toIndexedSeq: _*)
        .write.mode("overwrite")
        .insertInto(table)
      vacated.foreach { c =>
        spark.sql(s"ALTER TABLE `$table` DROP IF EXISTS " +
          s"PARTITION (`$cellCol`='$c')")
      }
      if (spark.catalog.tableExists(s"${table}_codes")) {
        val fresh = sqCodesOf(spark, spark.table(table), idCol, cellCol,
          vecCol, table)
        dropTableWithDir(spark, s"${table}_codes")
        fresh.write.mode("overwrite").format("parquet")
          .partitionBy(cellCol).saveAsTable(s"${table}_codes")
      }
    }
    // lane 2: 5) state surgery — affected cells recomputed from the
    // staged truth (exact-DECIMAL sums ≡ a from-scratch build on the
    // final assignment), untouched cells keep their rows. The swap rides
    // [[Warehouse.replaceSmallTable]] (staging write + catalog rename):
    // durable before the old incarnation drops — the refineCells
    // discipline — with one write+read pair FEWER than the former
    // explicit staging table.
    val affected = (splits ++ merges ++ targetCells ++
      splits.map(newIdOf)).distinct
    lanes += { () =>
      Warehouse.replaceSmallTable(
        spark.table(s"${table}_cstate")
          .filter(!col("cell").cast("long").isin(affected: _*))
          .unionByName(
            centroidState(spark.table(stagingT), cellCol, vecCol)),
        s"${table}_cstate")
      Warehouse.replaceSmallTable(
        centroidsFromState(spark.table(s"${table}_cstate")),
        s"${table}_centroids")
    }
    withConf(spark, DynamicOverwrite)(Par.all(lanes.result()))
    dropTableWithDir(spark, stagingT)
    } finally if (splitInput != null) splitInput.unpersist()
  }

  /** Route a cell-less vector batch to its nearest EXISTING index cell
    * (cosine against the broadcast centroid table, ties to the lowest
    * cell id — one batch scan + a per-id top-1 window, the
    * [[refineCells]] assignment step pointed at the stored index).
    * Returns (idCol, cell) for [[appendToIvfIndex]]. */
  def routeToNearestCell(spark: org.apache.spark.sql.SparkSession,
      table: String, newData: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val cents = broadcast(spark.table(s"${table}_centroids")
      .select(col("cell"), col("centroid"),
        norm(col("centroid")).as("__cn")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__id").orderBy(desc("__cs"), col("cell"))
    newData.select(col(idCol).as("__id"), asDouble(col(vecCol)).as("__v"))
      .withColumn("__n", norm(col("__v")))
      .crossJoin(cents)
      .select(col("__id"), col("cell"),
        (dot(col("__v"), col("centroid")) / (col("__n") * col("__cn")))
          .as("__cs"))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select(col("__id").as(idCol), col("cell"))
  }

  /** Replay a static vector frame through Structured Streaming into an
    * IVF index — the dense-side twin of
    * [[graft.operators.Retrieval.streamingIndexIngestReplay]]: seed an
    * empty index, stream the corpus as MemoryStream micro-batches, and
    * commit each through `foreachBatch` → [[appendToIvfIndex]] (batch
    * rows land in their cell partitions, the exact-DECIMAL centroid
    * state merges associatively — so batch boundaries leave no trace
    * and stream-built ≡ batch-built to the bit, gated by x242 against
    * the full-corpus IVF oracle). Batches carry their cell assignment;
    * a cell-less live feed would [[routeToNearestCell]] each
    * micro-batch first. The driver-side collect is the replay harness
    * ONLY (bounded by `maxRows`); production reads `readStream`. */
  def streamingIvfIngestReplay(spark: org.apache.spark.sql.SparkSession,
      data: DataFrame, idCol: String, cellCol: String, vecCol: String,
      table: String, batches: Int = 4, maxRows: Int = 250000): Unit = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sorted = graft.streaming.Replay.collectBounded(data
      .select(col(idCol).cast("long"), col(cellCol).cast("int"), col(vecCol))
      .as[(Long, Int, Seq[Float])], "streamingIvfIngestReplay", maxRows)
      .sortBy(_._1)
    buildIvfIndex(
      spark.createDataset(Seq.empty[(Long, Int, Seq[Float])])
        .toDF(idCol, cellCol, vecCol),
      idCol, cellCol, vecCol, table)
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Int, Seq[Float])]
    graft.streaming.Replay.run(spark, "ivf",
        graft.streaming.Replay.feed(mem, sorted, batches)) {
      mem.toDF().toDF(idCol, cellCol, vecCol).writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          appendToIvfIndex(batch, idCol, cellCol, vecCol, table)
        }
    }
    // the micro-batches committed through foreachBatch's CLONED session;
    // its table rewrites don't invalidate THIS session's relation cache
    // (the empty-seed build read _cstate back here, caching its file
    // listing) — refresh, or the next read lists vanished files
    Seq(table, s"${table}_cstate", s"${table}_centroids")
      .foreach(spark.catalog.refreshTable)
  }

  /** Repair a PARTIALLY APPLIED IVF append of `ids` (a crash inside
    * [[appendToIvfIndex]] between the partition append and the state
    * merge): any row of the batch's ids already in the table is an
    * orphan (the append contract says the ids were new), so the
    * affected partitions are rewritten without them (the x238 partition
    * surgery) and the centroid state is rebuilt FROM THE PHYSICAL TABLE
    * — the crashed attempt may or may not have merged its state delta,
    * and recomputing the exact-DECIMAL sums from surviving truth is the
    * only assumption-free repair (bit-identical to a from-scratch
    * build). Cost: one id-probe always; one corpus scan for the state
    * rebuild only when a trace is found — at most once per stream
    * (re)start. */
  private[graft] def repairPartialIvfAppend(
      spark: org.apache.spark.sql.SparkSession, ids: DataFrame,
      idCol: String, table: String, cellCol: String,
      vecCol: String): Unit = {
    val delT = s"${table}_repair_staging"
    dropTableWithDir(spark, delT)
    spark.table(table)
      .join(broadcast(ids.select(col(idCol)).distinct()), Seq(idCol),
        "left_semi")
      .write.mode("overwrite").format("parquet").saveAsTable(delT)
    val delS = spark.table(delT)
    if (delS.isEmpty) { dropTableWithDir(spark, delT); return }
    // |cells|-bounded collects, as in deleteFromIvfIndex
    val affected = delS.select(col(cellCol)).distinct().collect()
      .map(_.get(0))
    val survT = s"${table}_repair_surv_staging"
    dropTableWithDir(spark, survT)
    spark.table(table).filter(col(cellCol).isin(affected: _*))
      .join(broadcast(delS.select(col(idCol))), Seq(idCol), "left_anti")
      .write.mode("overwrite").format("parquet").saveAsTable(survT)
    withConf(spark, DynamicOverwrite) {
      spark.table(survT)
        .select(spark.table(table).columns.map(col).toIndexedSeq: _*)
        .write.mode("overwrite").insertInto(table)
    }
    val survCells = spark.table(survT).select(col(cellCol)).distinct()
      .collect().map(_.get(0)).toSet
    affected.filterNot(survCells).foreach { c =>
      val v = c.toString.replace("'", "''")
      spark.sql(s"ALTER TABLE `$table` DROP IF EXISTS " +
        s"PARTITION (`$cellCol`='$v')")
    }
    spark.catalog.refreshTable(table)
    dropTableWithDir(spark, s"${table}_cstate")
    centroidState(spark.table(table), cellCol, vecCol)
      .write.mode("overwrite").format("parquet")
      .saveAsTable(s"${table}_cstate")
    dropTableWithDir(spark, s"${table}_centroids")
    centroidsFromState(spark.table(s"${table}_cstate"))
      .write.mode("overwrite").format("parquet")
      .saveAsTable(s"${table}_centroids")
    // quantized serving companion: the crashed attempt may have landed
    // its code rows too (codes append last in appendToIvfIndex, so code
    // orphans only ever live in cells the main-table repair already
    // flagged) — rewrite the affected cells' codes from the repaired
    // truth at the frozen grid, or ADC serving would resurrect the
    // orphans and double-serve them after the re-append
    if (spark.catalog.tableExists(s"${table}_codes")) {
      val repCodes = sqCodesOf(spark,
        spark.table(table).filter(col(cellCol).isin(affected: _*)),
        idCol, cellCol, vecCol, table)
      withConf(spark, DynamicOverwrite) {
        repCodes
          .select(spark.table(s"${table}_codes").columns
            .map(col).toIndexedSeq: _*)
          .write.mode("overwrite").insertInto(s"${table}_codes")
      }
      affected.filterNot(survCells).foreach { c =>
        val v = c.toString.replace("'", "''")
        spark.sql(s"ALTER TABLE `${table}_codes` DROP IF EXISTS " +
          s"PARTITION (`$cellCol`='$v')")
      }
      spark.catalog.refreshTable(s"${table}_codes")
    }
    dropTableWithDir(spark, survT)
    dropTableWithDir(spark, delT)
  }

  /** THE production deploy shape for dense-index ingest — the IVF twin
    * of [[graft.operators.Retrieval.fileStreamIndexIngest]]: tail a
    * parquet feed directory of (id, cell, vector) rows with `readStream`
    * (`maxFilesPerTrigger = 1`), commit each micro-batch through
    * `foreachBatch` → [[appendToIvfIndex]] onto an empty seed index,
    * driven with `Trigger.AvailableNow`. Batch rows land in their cell
    * partitions and the exact-DECIMAL centroid state merges
    * associatively, so stream-built ≡ batch-built to the bit no matter
    * how the feed was split into files (x268 gates it on the full-corpus
    * IVF oracle; a cell-less live feed would [[routeToNearestCell]] each
    * batch first). Post-stream maintenance composes: [[ivfIndexStats]] →
    * [[rebalanceIvfCells]] → the x258 recall gate, exactly as with a
    * batch-built index (x269).
    *
    * Exactly-once under foreachBatch's at-least-once replays, via the
    * same two-leg protocol as the sparse family: committed batch ids are
    * recorded in a checkpoint-scoped [[IngestLedger]] (recorded replays
    * SKIP), and the first unrecorded batch after a (re)start runs
    * [[repairPartialIvfAppend]] before appending. Pass a durable
    * `checkpointDir` for restartable runs (a resume re-reads only
    * unprocessed files and never reseeds). */
  def fileStreamIvfIngest(spark: org.apache.spark.sql.SparkSession,
      feedDir: String, idCol: String, cellCol: String, vecCol: String,
      table: String, checkpointDir: Option[String] = None): Unit = {
    // eager schema read: the feed directory must already hold >= 1
    // parquet file when ingest starts (readStream cannot infer a schema
    // from an empty directory)
    val schema = spark.read.parquet(feedDir).schema
    val resuming = checkpointDir.isDefined &&
      spark.catalog.tableExists(table)
    if (!resuming)
      buildIvfIndex(spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema),
        idCol, cellCol, vecCol, table)
    IngestLedger.ingestFeed(spark, feedDir, schema, checkpointDir,
        "ivf_feed")(
      batch => repairPartialIvfAppend(batch.sparkSession,
        batch.select(col(idCol)), idCol, table, cellCol, vecCol),
      batch => appendToIvfIndex(batch, idCol, cellCol, vecCol, table))
    Seq(table, s"${table}_cstate", s"${table}_centroids")
      .foreach(spark.catalog.refreshTable)
  }

  /** Greedy k-center (farthest-point) seed selection — the
    * diversity-maximizing subset a labeling/eval budget wants: start
    * from the lowest id, then repeatedly pick the vector FARTHEST
    * (cosine distance) from everything selected so far. The classic
    * 2-approximation to the k-center objective (Gonzalez 1985); as a
    * training-data op it seeds diverse eval sets and active-learning
    * batches where random sampling oversamples dense clusters.
    *
    * Determinism: seed 1 is the minimum id; every argmax breaks ties on
    * the lowest id; already-selected ids are anti-joined out so exact
    * duplicates can never re-pick a seed. Distances are plain double
    * cosine (the x211 selection-tolerance argument: margins, not ULPs,
    * decide picks; ties fall to the id).
    *
    * Scale shape: k iterations, each ONE corpus scan × a broadcast
    * ≤k-row seed frame → per-id min → global top-1
    * (TakeOrderedAndProject) → a 1-row join back for the vector. The
    * seed frame is eagerly localCheckpoint'ed per step (flat lineage —
    * the MMR/x176 2^N lesson); k is capped so the loop stays bounded. */
  def kCenterSeeds(df: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    require(k >= 1 && k <= 16, "k must be in [1, 16]")
    val base = df.select(col(idCol).as("__id"), asDouble(col(vecCol))
        .as("__v"))
      .withColumn("__n", norm(col("__v"))).persist()
    var seeds = base.orderBy("__id").limit(1)
      .select(col("__id").as("sid"), col("__v").as("sv"),
        col("__n").as("sn"), lit(1L).as("seed_rank"),
        lit(null).cast("double").as("min_dist"))
      .localCheckpoint(eager = true)
    for (t <- 2 to k) {
      val mind = base
        .join(seeds.select(col("sid").as("__id")), Seq("__id"), "left_anti")
        .crossJoin(broadcast(seeds.select(col("sv"), col("sn"))))
        .select(col("__id"),
          (lit(1.0) - dot(col("__v"), col("sv")) /
            (col("__n") * col("sn"))).as("__d"))
        .groupBy("__id").agg(min(col("__d")).as("__mind"))
      val next = mind.orderBy(desc("__mind"), col("__id")).limit(1)
        .join(base, "__id")
        .select(col("__id").as("sid"), col("__v").as("sv"),
          col("__n").as("sn"), lit(t.toLong).as("seed_rank"),
          round(col("__mind"), 6).as("min_dist"))
      seeds = seeds.unionByName(next).localCheckpoint(eager = true)
    }
    base.unpersist()
    seeds.select(col("seed_rank"), col("sid").as(idCol), col("min_dist"))
      .orderBy("seed_rank")
  }

  /** One Lloyd refinement of a stored IVF index — the periodic
    * maintenance step after [[appendToIvfIndex]] batches have drifted
    * the cells: reassign EVERY indexed vector to its nearest current
    * centroid ([[routeToNearestCell]] pointed at the index's own
    * vectors), then rebuild the partitioned table, the exact-DECIMAL
    * centroid state, and the broadcast centroid table from the new
    * assignment. Appends stay cheap and incremental; refine is the
    * deliberate corpus-rewrite that restores cell coherence (and with
    * it probe recall) — the classic build-fast/refine-periodically
    * split of IVF maintenance.
    *
    * Plan: one corpus scan × broadcast centroids → per-id top-1 window
    * (WindowGroupLimit) → partitioned rewrite + the (cells×d)-row state
    * aggregate.
    *
    * The refined assignment is staged DURABLY (a `_refine_staging`
    * parquet table) before the rebuild drops the source table, because
    * the rewrite overwrites the very table the assignment reads. An
    * executor-local pin (localCheckpoint) is NOT enough here: its
    * blocks are non-replicated, so losing an executor between the pin
    * and the rewrite — after the source is dropped — would lose the
    * corpus. With the staging table, a rebuild that dies mid-write is
    * recoverable from disk; the staging table is dropped only after
    * the rebuild completes. */
  def refineCells(spark: org.apache.spark.sql.SparkSession, table: String,
      idCol: String, cellCol: String, vecCol: String): Unit = {
    val staging = s"${table}_refine_staging"
    val vecs = spark.table(table).select(col(idCol), col(vecCol))
    val refined = vecs
      .join(routeToNearestCell(spark, table, vecs, idCol, vecCol)
        .withColumnRenamed("cell", "__newcell"), idCol)
      .select(col(idCol), col("__newcell").as(cellCol), col(vecCol))
    dropTableWithDir(spark, staging)
    refined.write.mode("overwrite").format("parquet").saveAsTable(staging)
    buildIvfIndex(spark.table(staging), idCol, cellCol, vecCol, table)
    dropTableWithDir(spark, staging)
  }

  /** [[ivfTopK]] over a [[buildIvfIndex]] table: identical output (same
    * centroid ranking, probe set, and exact in-cell cosines — x183 gates
    * equality against the x6 oracle), but the centroid pass reads the
    * tiny materialized table and the candidate scan prunes to the probed
    * cell partitions. */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession, table: String,
      idCol: String, cellCol: String, vecCol: String, queryDf: DataFrame,
      k: Int, nprobe: Int): DataFrame = {
    val cents = spark.table(s"${table}_centroids")
    val q = broadcast(queryDf.select(asDouble(col(vecCol)).as("__qv")))
    val probed = cents.crossJoin(q)
      .select(col("cell"), cosine(col("centroid"), col("__qv")).as("cs"))
      .orderBy(desc("cs"), col("cell"))
      .limit(nprobe)
    val data = spark.table(table)
    val candidates = data.join(
      broadcast(probed.select(col("cell").as("__probe_cell"))),
      data(cellCol) === col("__probe_cell"))
    bruteForceTopK(candidates, idCol, vecCol, queryDf, k)
  }

  /** Product quantization, end to end: train per-subspace codebooks (`m`
    * subspaces of `dim/m` dims, `k` L2 centroids each — one Lloyd
    * refinement from the deterministic id%k seed), encode every vector as
    * m codes, and search by ASYMMETRIC distance: the full-precision query
    * scored against codebook-reconstructed corpus vectors. Returns the
    * `topK` ids with their reconstructed cosine.
    *
    * 100 TB shape: the codebook is m·k·(dim/m) = dim·k rows and BROADCASTS
    * everywhere it is used; training and encoding are grouped aggregates +
    * one WindowGroupLimit argmin per (vector, subspace) — the corpus is
    * never joined against itself, and a stored index would persist just the
    * m small codes per vector (dim/m × compression at k=256). */
  def pqTopK(data: DataFrame, idCol: String, vecCol: String,
      queryDf: DataFrame, dim: Int, m: Int = 8, k: Int = 16,
      topK: Int = 10): DataFrame = {
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val subDim = dim / m
    val e = data.select(col(idCol).as("id"),
        posexplode(asDouble(col(vecCol))).as(Seq("pos", "v")))
      .withColumn("sub", expr(s"pos div $subDim"))
      .persist()
    // md5-seeded assignment → subspace centroids (float-exact double sums);
    // md5Cell, not pmod: a string id under pmod would null-collapse to one cell
    val c1 = e.withColumn("cell", md5Cell("pqcell", col("id"), k))
      .groupBy("sub", "cell", "pos").agg(avg(col("v")).as("cv"))
    def assign(codebook: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("id", "sub").orderBy(col("dist"), col("cell"))
      e.join(broadcast(codebook), Seq("sub", "pos"))
        .groupBy(col("id"), col("sub"), col("cell"))
        .agg(sum((col("v") - col("cv")) * (col("v") - col("cv"))).as("dist"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("id"), col("sub"), col("cell").as("code"))
    }
    // one Lloyd round: reassign, recompute, re-encode against the refined book
    val c2 = e.join(assign(c1), Seq("id", "sub"))
      .groupBy(col("sub"), col("code").as("cell"), col("pos"))
      .agg(avg(col("v")).as("cv"))
      .persist()
    val codes = assign(c2)
    // asymmetric-distance scoring: reconstruct from the broadcast codebook,
    // one grouped dot product per vector — no arrays materialized
    val q = queryDf.select(posexplode(asDouble(col(vecCol))).as(Seq("pos", "qv")))
    val qn = q.agg(sqrt(sum(col("qv") * col("qv"))).as("qnorm"))
    codes
      .join(broadcast(c2.withColumnRenamed("cell", "code")), Seq("sub", "code"))
      .join(broadcast(q), "pos")
      .groupBy("id")
      .agg(sum(col("cv") * col("qv")).as("dp"),
        sqrt(sum(col("cv") * col("cv"))).as("rnorm"))
      .crossJoin(broadcast(qn))
      .withColumn("pq_cosine", col("dp") / (col("rnorm") * col("qnorm")))
      .orderBy(desc("pq_cosine"), col("id"))
      .limit(topK)
      .select(col("id").as(idCol), col("pq_cosine"))
  }

  /** Per-dimension statistics of an embedding column — the drift/health
    * monitor in front of every ANN index (a collapsed dimension means a
    * broken encoder; a shifted mean invalidates trained centroids and PQ
    * codebooks). Returns one row per dimension (1-based): count, mean,
    * population variance, min, max.
    *
    * One posexplode + one aggregate keyed by dimension — d keys total,
    * perfectly balanced, map-side combined. Moments follow the
    * DECIMAL(28,6) per-term quantization of Stats.olsTrend so mean and
    * variance replay exactly in any engine; min/max of float values are
    * exact by nature. */
  def embeddingDimStats(data: DataFrame, vecCol: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(28,6)")
    data.select(posexplode(col(vecCol).cast("array<double>"))
        .as(Seq("__d0", "__x")))
      .select((col("__d0") + 1).as("dim"), col("__x"))
      .groupBy("dim")
      .agg(count(lit(1)).as("__n"),
        sum(dec(col("__x"))).cast("double").as("__sx"),
        sum(dec(col("__x") * col("__x"))).cast("double").as("__sxx"),
        round(min("__x"), 4).as("min_v"),
        round(max("__x"), 4).as("max_v"))
      .select(col("dim").cast("long"), col("__n").cast("long").as("n_vals"),
        round(col("__sx") / col("__n"), 4).as("mean"),
        round((col("__sxx") - col("__sx") * col("__sx") / col("__n")) /
          col("__n"), 4).as("variance"),
        col("min_v"), col("max_v"))
  }

  /** Embedding-space effective dimensionality via the participation ratio
    * PR = trace(C)² / ‖C‖_F² of the covariance matrix C — the standard
    * embedding-collapse monitor (PR ≈ d: variance spread across all
    * directions; PR ≈ 1: representations collapsed onto a line), computed
    * WITHOUT an eigendecomposition: trace and Frobenius norm come straight
    * from the d(d+1)/2 covariance entries.
    *
    * Shape: one posexplode to (id, dim, x), a same-key self-join that emits
    * each row's d²/2 upper-triangle products LOCALLY (the join key is the
    * row id, so candidates never cross rows), then a map-side-combined
    * aggregate onto d(d+1)/2 groups — shuffle is O(n·d + partitions·d²),
    * never the product stream. The O(n·d²) multiply work is inherent to any
    * Gram/covariance computation (it is MLlib's computeGramianMatrix cost,
    * expressed declaratively so it stays in whole-stage codegen).
    *
    * Exactness: per-term DECIMAL(28,12) quantization makes the moment sums
    * order-free; covariance entries are assembled in ONE fixed double
    * operation order; each cv² term is re-quantized to DECIMAL(28,18)
    * before the final sum — bit-identical in any engine. */
  def effectiveRank(data: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val dec12 = (c: Column) => c.cast("decimal(28,12)")
    val x = data.select(col(idCol).as("__id"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("__d0", "__x")))
      .select(col("__id"), (col("__d0") + 1).as("__i"), col("__x"))
    val pairSums = x.as("a")
      .join(x.as("b"),
        col("a.__id") === col("b.__id") && col("a.__i") <= col("b.__i"))
      .groupBy(col("a.__i").as("i"), col("b.__i").as("j"))
      .agg(sum(dec12(col("a.__x") * col("b.__x"))).as("__s"))
    val dimSums = x.groupBy(col("__i").as("k"))
      .agg(sum(dec12(col("__x"))).as("__sx"))
    // n counts vectors that actually posexploded (null/empty vectors emit
    // no dims) — counting the raw frame would divide every covariance
    // entry by a too-large n. Dim 1 exists for every contributing vector.
    val tot = x.filter(col("__i") === 1).agg(count(lit(1)).as("__nl"))
      .select(col("__nl"), col("__nl").cast("double").as("__n"))
    val cv = (col("__s").cast("double") -
      col("__sxi").cast("double") * col("__sxj").cast("double") / col("__n")) /
      col("__n")
    pairSums
      .join(broadcast(dimSums.select(col("k"), col("__sx").as("__sxi"))),
        col("i") === col("k")).drop("k")
      .join(broadcast(dimSums.select(col("k"), col("__sx").as("__sxj"))),
        col("j") === col("k")).drop("k")
      .crossJoin(broadcast(tot))
      .select(col("i"), col("j"), col("__nl"), cv.as("__cv"))
      .agg(first(col("__nl")).as("__nv"),
        sum(when(col("i") === col("j"), col("__cv")).otherwise(lit(0.0))
          .cast("decimal(28,18)")).cast("double").as("__tr"),
        sum((col("__cv") * col("__cv") *
            when(col("i") === col("j"), lit(1.0)).otherwise(lit(2.0)))
          .cast("decimal(28,18)")).cast("double").as("__fro"))
      .select(col("__nv").cast("long").as("n_vectors"),
        round(col("__tr"), 6).as("trace"),
        round(col("__fro"), 9).as("fro_sq"),
        // zero-variance corpus (all vectors identical): PR is undefined —
        // null, not an ANSI divide-by-zero
        when(col("__fro") === 0.0, lit(null))
          .otherwise(round(col("__tr") * col("__tr") / col("__fro"), 6))
          .as("participation_ratio"))
  }

  /** Top principal component of an embedding corpus by power iteration —
    * the decorrelation/compression primitive next to [[scalarQuantize]]/
    * [[pqTopK]]/[[randomProjection]]: which single direction carries the
    * most variance, and how much (Rayleigh eigenvalue + explained share
    * of the trace).
    *
    * 100 TB design: the covariance matrix is NEVER materialized (no d²
    * row stream, unlike the inherent Gram cost of [[effectiveRank]]).
    * Each iteration applies C·v directly to the data via the identity
    * (C·v)_i = (Σ_r x_ri·u_r − μ_i·Σ_r u_r)/n with u_r = x_r·v − μ·v:
    * ONE pass over the persisted (id, vec) frame per step — the per-row
    * dot is a codegen'd literal-vector expression (map-only), the
    * per-dim sums one map-side-combined hash aggregate whose shuffle is
    * d×partitions rows. All d-vector arithmetic (means, deflation dots,
    * norms, Rayleigh quotients) lives on the DRIVER, bounded by the
    * embedding dimension d, never the corpus — and replicates the SQL
    * decimal/double op sequence bit-exactly (see [[pcaBase]]).
    *
    * Determinism (gate-grade): v₀ = 1/√d on every dim; per-row products
    * are bit-identical cross-engine and every order-sensitive sum (dots,
    * per-dim aggregates, norms, trace) is DECIMAL(28,18)-quantized
    * first; σ-free fixed double op order elsewhere. `iters` is a fixed
    * unrollable count, not a convergence test — the whole run replays in
    * SQL. Convergence note: v₀ must not be orthogonal to the top
    * eigenvector; for real embedding data the all-ones direction never
    * is, and more `iters` sharpens the estimate (ratio of top two
    * eigenvalues per step).
    *
    * Returns one row per dimension: (dim, loading) plus the corpus-level
    * `eigenvalue` (Rayleigh v·Cv of the final step) and `explained`
    * (eigenvalue / trace(C)) repeated on every row. */
  def pcaTopComponent(data: DataFrame, idCol: String, vecCol: String,
      iters: Int = 5): DataFrame =
    pcaTopComponents(data, idCol, vecCol, m = 1, iters = iters)
      .select("dim", "loading", "eigenvalue", "explained")

  private def dec18(c: Column): Column = c.cast("decimal(28,18)")

  /** Per-term-DECIMAL(28,18)-quantized dot of two double-array columns —
    * the gate-grade twin of [[dot]] (native codegen'd expression; see
    * [[graft.functions.expr.DotProductDec18]] for the bit-identity
    * argument against the `sum(dec18(x*v))` aggregate it replaces). */
  private def dot18(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.functions.expr.DotProductDec18(
      Bridge.expression(a), Bridge.expression(b)))
  }

  /** Shared power-iteration machinery of [[pcaTopComponents]] /
    * [[pcaProject]] / the block variants: the persisted (id, xs) frame
    * plus the DRIVER-side d-bounded state — corpus size n, dimension d,
    * per-dim means, trace of C, and per component its final unit vector
    * and Rayleigh λ. Every d-vector lives on the driver (d is the
    * embedding dimension — bounded by the model, never the corpus);
    * only the O(n·d) operator application is distributed. */
  private case class PcaComp(v: Array[Double], lam: Double)
  private case class PcaParts(exArr: DataFrame, n: Double, d: Int,
      mu: Array[Double], tr: Double, comps: Seq[PcaComp])

  /** Corpus-side base state: one persisted (id, xs) scan + ONE moment
    * aggregate (per-dim Σx, Σx², row count), computed by the NATIVE
    * [[graft.functions.expr.VecMomentsDec18]] aggregate — no posexplode,
    * no interpreted per-dim decimal sums, one primitive loop per row
    * (the x182/x249/x250 cost center; the PairMomentsDec6 technique).
    * All arithmetic replicates the former posexplode + groupBy(dim)
    * formulation bit-exactly (DECIMAL(28,18) per-term quantization =
    * Spark's own double→decimal cast sequence, exact decimal sums,
    * `doubleValue` conversion = Spark's decimal→double cast), so the
    * x178/x180/x182 oracles gate this path unchanged. Assumes
    * fixed-width (dense) vectors, like every consumer of the embeddings
    * column. */
  private def pcaBase(data: DataFrame, idCol: String,
      vecCol: String): PcaParts = {
    import graft.functions.expr.DotProductDec18.d18
    import org.apache.spark.sql.graftbridge.Bridge
    val exArr = data.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("xs"))
      .filter(col("xs").isNotNull && size(col("xs")) >= 1)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val momAgg = Bridge.column(graft.functions.expr.VecMomentsDec18(
      Bridge.expression(col("xs")),
      Bridge.expression(lit(Array.empty[Double])), c = 0,
      wantBase = true).toAggregateExpression())
    // layout: [d, n_rows, cnt(d), sx(d), sxx(d)]
    val mom = exArr.agg(momAgg.as("__mom"))
      .head().getSeq[java.lang.Double](0)
    val d = mom(0).doubleValue.toInt
    require(d >= 1, "pca: empty corpus")
    // n = the dim-0 coverage count, exactly the count(lit(1)) the dim-0
    // group of the replaced formulation carried
    val n = mom(2).doubleValue
    val sx = Array.tabulate(d)(i => mom(2 + d + i).doubleValue)
    val sxx = Array.tabulate(d)(i => mom(2 + 2 * d + i).doubleValue)
    val mu = Array.tabulate(d)(i => sx(i) / n)
    // trace(C) = Σ dec18((Σx² − (Σx)²/n)/n), exact-decimal summed
    var acc = java.math.BigDecimal.ZERO
    var i = 0
    while (i < d) {
      acc = acc.add(d18((sxx(i) - sx(i) * sx(i) / n) / n)); i += 1
    }
    PcaParts(exArr, n, d, mu, acc.doubleValue, Seq.empty)
  }

  /** ONE distributed pass applying the (uncentered half of the)
    * covariance operator to a batch of direction vectors: per row,
    * u_c = dot18(xs, v_c) − μ·v_c (codegen'd, map-only), then ALL the
    * per-dim decimal sums a_{c,i} = Σ_rows dec18(x_i·u_c) and b_c =
    * Σ_rows dec18(u_c) in ONE native
    * [[graft.functions.expr.VecMomentsDec18]] aggregate — no posexplode,
    * no interpreted decimal aggregation, one primitive quantize/
    * accumulate loop per row; partial aggregation still applies, so the
    * shuffle carries one buffer per partition. Bit-identical to the
    * posexplode + groupBy(dim) formulation it replaces (the x178–x250
    * oracles gate it unchanged). Returns the collected d-vectors —
    * bounded by the embedding dimension, never the corpus. */
  private def pcaApply(exArr: DataFrame,
      vs: Seq[(Array[Double], Double)])
      : (IndexedSeq[Array[Double]], IndexedSeq[Double]) = {
    import org.apache.spark.sql.graftbridge.Bridge
    val c = vs.size
    val uCols = vs.map { case (v, muv) =>
      dot18(col("xs"), lit(v)) - lit(muv) }
    val momAgg = Bridge.column(graft.functions.expr.VecMomentsDec18(
      Bridge.expression(col("xs")),
      Bridge.expression(array(uCols: _*)), c,
      wantBase = false).toAggregateExpression())
    // layout: [d, n, cnt(d), sb(c), sa(0)(d) … sa(c−1)(d)]
    val mom = exArr.agg(momAgg.as("__mom"))
      .head().getSeq[java.lang.Double](0)
    val d = mom(0).doubleValue.toInt
    val a = vs.indices.map(ci =>
      Array.tabulate(d)(i => mom(2 + d + c + ci * d + i).doubleValue))
    // b_c is Σ over all rows (dense vectors: every row covers dim 0)
    val b = vs.indices.map(ci => mom(2 + d + ci).doubleValue)
    (a, b)
  }

  private def pcaParts(data: DataFrame, idCol: String, vecCol: String,
      m: Int, iters: Int): PcaParts = {
    import graft.functions.expr.DotProductDec18.dotArr
    require(m >= 1 && m <= 4, s"m=$m out of [1,4]")
    require(iters >= 1 && iters <= 16, "iters out of [1,16]")
    val base = pcaBase(data, idCol, vecCol)
    val d = base.d
    val v0 = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    val comps = scala.collection.mutable.ArrayBuffer.empty[PcaComp]
    (1 to m).foreach { _ =>
      var v = v0; var vPrev = v0; var tFin = v0
      (1 to iters).foreach { _ =>
        val muv = dotArr(base.mu, v)
        val (a, b) = pcaApply(base.exArr, Seq((v, muv)))
        val tRaw =
          Array.tabulate(d)(i => (a(0)(i) - base.mu(i) * b(0)) / base.n)
        // projection deflation: every p_j is computed against the RAW
        // image (not the running difference) and the subtractions chain
        // left-to-right in component order — the exact FP op sequence
        // the x180 oracle replays
        val t = tRaw.clone()
        comps.foreach { pc =>
          val pj = dotArr(pc.v, tRaw)
          var i = 0
          while (i < d) { t(i) = t(i) - pj * pc.v(i); i += 1 }
        }
        val q = dotArr(t, t)
        val vn = Array.tabulate(d)(i => t(i) / math.sqrt(q))
        vPrev = v; tFin = t; v = vn
      }
      // Rayleigh λ of the deflated operator: v_{iters−1} · t_iters
      comps += PcaComp(v, dotArr(vPrev, tFin))
    }
    base.copy(comps = comps.toSeq)
  }

  /** Block (simultaneous/orthogonal) power iteration — ALL m components
    * advance in ONE data pass per step (Golub & Van Loan §8.2.4), the
    * scale completion of [[pcaTopComponents]]'s sequential deflation:
    * where deflation pays m·iters operator applications (each a corpus
    * pass), the block runs iters applications of C to the whole m-column
    * block, re-orthonormalized per step by classical Gram–Schmidt on the
    * driver (m² dot products of d-vectors — never touches the data).
    *
    * Starting block: interleaved indicator vectors (component c takes
    * dims ≡ c−1 mod m, normalized) — deterministic, SQL-replayable,
    * linearly independent by disjoint support, and their span contains
    * the all-ones direction the sequential variant starts from.
    *
    * Same gate-grade determinism discipline as the deflation path
    * (per-term DECIMAL(28,18) quantization in every dot/aggregate/norm,
    * fixed projection order p_j against the raw image with left-chained
    * subtraction, unrollable step count) — the whole run replays in SQL
    * (x249). Converged spectra match the deflation variant; at finite
    * iters the iterates differ by construction (deflation projects
    * against FINAL earlier components, the block against the current
    * step's), so the two operators are gated by separate oracles. */
  private def pcaPartsBlock(data: DataFrame, idCol: String, vecCol: String,
      m: Int, iters: Int): PcaParts = {
    import graft.functions.expr.DotProductDec18.dotArr
    require(m >= 1 && m <= 4, s"m=$m out of [1,4]")
    require(iters >= 1 && iters <= 16, "iters out of [1,16]")
    val base = pcaBase(data, idCol, vecCol)
    val d = base.d
    require(m <= d, s"m=$m exceeds dimension $d")
    var vs: IndexedSeq[Array[Double]] = (1 to m).map { c =>
      val cnt = (0 until d).count(_ % m == c - 1).toDouble
      Array.tabulate(d)(i0 =>
        if (i0 % m == c - 1) 1.0 / math.sqrt(cnt) else 0.0)
    }
    var vPrevs = vs
    var tFins = vs
    (1 to iters).foreach { _ =>
      val muvs = vs.map(v => dotArr(base.mu, v))
      val (a, b) = pcaApply(base.exArr, vs.zip(muvs))
      val tRaws = (0 until m).map(c =>
        Array.tabulate(d)(i => (a(c)(i) - base.mu(i) * b(c)) / base.n))
      val newVs = Array.ofDim[Array[Double]](m)
      val tProjs = Array.ofDim[Array[Double]](m)
      (0 until m).foreach { c =>
        val t = tRaws(c).clone()
        (0 until c).foreach { j =>
          val pj = dotArr(newVs(j), tRaws(c))
          var i = 0
          while (i < d) { t(i) = t(i) - pj * newVs(j)(i); i += 1 }
        }
        val q = dotArr(t, t)
        newVs(c) = Array.tabulate(d)(i => t(i) / math.sqrt(q))
        tProjs(c) = t
      }
      vPrevs = vs; tFins = tProjs.toIndexedSeq; vs = newVs.toIndexedSeq
    }
    base.copy(comps = (0 until m).map(c =>
      PcaComp(vs(c), dotArr(vPrevs(c), tFins(c)))))
  }

  /** (component, dim, loading, eigenvalue, explained, cum_explained)
    * output frame from driver-side parts — divisions and rounding stay
    * IN Spark, exactly as the frame-based formulation did. */
  private def componentsOut(spark: org.apache.spark.sql.SparkSession,
      p: PcaParts): DataFrame = {
    import spark.implicits._
    val rows = for {
      (pc, cIdx) <- p.comps.zipWithIndex
      // cum-λ: fixed left-to-right double addition
      cum = p.comps.take(cIdx + 1).map(_.lam).reduce(_ + _)
      i <- 0 until p.d
    } yield (cIdx + 1, (i + 1).toLong, pc.v(i), pc.lam, cum)
    rows.toDF("component", "dim", "v", "lam", "cum")
      .select(col("component"), col("dim"),
        round(col("v"), 6).as("loading"),
        round(col("lam"), 6).as("eigenvalue"),
        round(col("lam") / lit(p.tr), 4).as("explained"),
        round(col("cum") / lit(p.tr), 4).as("cum_explained"))
  }

  /** (id, component, coord) projection frame: one map-only pass over the
    * persisted (id, xs) scan for ALL components (per-row dot18 against
    * each broadcast-literal component vector), never a shuffle. */
  private def projectOut(p: PcaParts, whiten: Boolean,
      roundTo: Int): DataFrame = {
    import graft.functions.expr.DotProductDec18.dotArr
    val cols = p.comps.zipWithIndex.map { case (pc, ci) =>
      val muv = dotArr(p.mu, pc.v)
      val dotc = dot18(col("xs"), lit(pc.v)) - lit(muv)
      val coord = if (whiten) dotc / lit(math.sqrt(pc.lam)) else dotc
      struct(lit(ci + 1).as("component"), round(coord, roundTo).as("coord"))
    }
    p.exArr.select(col("id"), explode(array(cols: _*)).as("__pc"))
      .select(col("id"), col("__pc.component").as("component"),
        col("__pc.coord").as("coord"))
  }

  /** Top-`m` principal components by power iteration with PROJECTION
    * (Gram–Schmidt) deflation — the multi-component completion of
    * [[pcaTopComponent]] (whitening/decorrelation before
    * [[scalarQuantize]]/[[pqTopK]] needs the top-m subspace, not one
    * direction). Component c runs the same power loop, but every
    * iteration's image t = C·v is re-orthogonalized against the found
    * components before normalizing: t ← t − Σ_{j<c} (v_j·t)·v_j. Each
    * correction is driver-side d-vector arithmetic — O(d) per prior
    * component per iteration, on top of the single O(n·d) data pass of
    * the component loop; the data is never touched by the deflation.
    * (When m > 1 and the corpus passes dominate, see
    * [[pcaTopComponentsBlock]] — iters passes total instead of
    * m·iters.)
    *
    * Projection deflation is chosen over Hotelling (C − λvvᵀ)
    * deliberately: it makes v_c orthogonal to every v_j BY CONSTRUCTION
    * (the decorrelation contract), independent of how far the earlier
    * components have converged — measured on the embeddings fixture
    * (tight spectrum, λ₂/λ₁ ≈ 0.91, 5 iters) Hotelling left
    * |v₁·v₂| ≈ 0.15 while projection holds it at float-rounding scale.
    * ScaleOpsSpec asserts the orthogonality.
    *
    * Same gate-grade determinism as [[pcaTopComponent]]: DECIMAL(28,18)
    * quantization before every order-sensitive sum (including the
    * deflation dots), fixed `pj * vj` correction op order and
    * left-associated subtraction chain, fixed left-to-right
    * cumulative-λ addition, unrollable iteration/component counts — the
    * whole run replays in SQL (x180). λ_c is the Rayleigh quotient of
    * the PROJECTED operator (v_{k−1}·t_final), which converges to the
    * c-th eigenvalue of C as the components converge.
    *
    * Returns one row per (component, dim): per-component `eigenvalue`,
    * `explained` = λ_c/trace(C), and the running `cum_explained`
    * Σ_{j≤c} λ_j / trace(C). */
  def pcaTopComponents(data: DataFrame, idCol: String, vecCol: String,
      m: Int = 2, iters: Int = 5): DataFrame =
    componentsOut(data.sparkSession, pcaParts(data, idCol, vecCol, m, iters))

  /** [[pcaTopComponents]]'s output contract computed by BLOCK power
    * iteration (see [[pcaPartsBlock]]): iters corpus passes total instead
    * of m·iters — the variant to reach for when m > 1 and the corpus is
    * the cost. Gated by its own per-step-replay oracle (x249). */
  def pcaTopComponentsBlock(data: DataFrame, idCol: String, vecCol: String,
      m: Int = 2, iters: Int = 5): DataFrame =
    componentsOut(data.sparkSession,
      pcaPartsBlock(data, idCol, vecCol, m, iters))

  /** [[pcaProject]] on block-iterated components — training costs iters
    * corpus passes (not m·iters), the projection one map-only pass for
    * all m coordinates. Gated by x250. */
  def pcaProjectBlock(data: DataFrame, idCol: String, vecCol: String,
      m: Int = 2, iters: Int = 5, whiten: Boolean = false,
      roundTo: Int = 6): DataFrame =
    projectOut(pcaPartsBlock(data, idCol, vecCol, m, iters), whiten,
      roundTo)

  /** Project every vector onto the top-`m` principal components — the
    * actual decorrelation/compression step the component extraction
    * exists for: y_c = (x − μ)·v_c per row, computed WITHOUT
    * materializing centered vectors ((x − μ)·v = x·v − μ·v, so one
    * per-row dot against the broadcast v_c plus a broadcast 1-row μ·v_c
    * constant). With `whiten = true` each coordinate divides by √λ_c,
    * giving unit-variance decorrelated features — the standard
    * preconditioning before [[scalarQuantize]]/[[pqTopK]] (quantizers
    * spend their budget evenly instead of on the dominant direction).
    *
    * ONE map-only O(n·d·m) pass over the persisted (id, vec) frame for
    * ALL components (each coordinate a codegen'd per-row dot against
    * its literal component vector) — the projection never shuffles.
    * Determinism: the per-row dot is a DECIMAL(28,18)-quantized sum;
    * (dot − μ·v)/√λ is one fixed double op sequence (x182 replays
    * training AND projection).
    *
    * Returns (id, component, coord), one row per vector per component. */
  def pcaProject(data: DataFrame, idCol: String, vecCol: String,
      m: Int = 2, iters: Int = 5, whiten: Boolean = false,
      roundTo: Int = 6): DataFrame =
    projectOut(pcaParts(data, idCol, vecCol, m, iters), whiten, roundTo)

  /** Batched [[ivfTopKIndexed]]: per-QUERY probe routing against the
    * materialized IVF index — each query ranks the (broadcast-sized)
    * centroid table, keeps its own `nprobe` cells, and scans only
    * candidates in those cells. The candidate scan is ONE pass over the
    * UNION of probed cells (a broadcast equi-join on the partition
    * column — partition-prunable), so a 1000-query batch costs one
    * pruned scan, not 1000 probes. Exact within probed cells; recall is
    * bounded by cell routing exactly as in the single-query variant. */
  def ivfTopKBatch(spark: org.apache.spark.sql.SparkSession, table: String,
      idCol: String, cellCol: String, vecCol: String, queries: DataFrame,
      queryIdCol: String, k: Int, nprobe: Int): DataFrame = {
    val q = broadcast(queries.select(col(queryIdCol).as("query_id"),
      asDouble(col(vecCol)).as("__qv")))
    val cents = spark.table(s"${table}_centroids")
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy("__pq").orderBy(desc("__cs"), col("__probe_cell"))
    val cells = cents.crossJoin(q)
      .select(col("query_id").as("__pq"), col("cell").as("__probe_cell"),
        cosine(col("centroid"), col("__qv")).as("__cs"))
      .withColumn("__r", row_number().over(wp)).filter(col("__r") <= nprobe)
      .select(col("__pq"), col("__probe_cell"))
    val data = spark.table(table)
    val scored = data
      .join(broadcast(cells), data(cellCol) === col("__probe_cell"))
      .join(q, col("__pq") === q("query_id"))
      .select(col("query_id"), col(idCol),
        cosine(asDouble(col(vecCol)), col("__qv")).as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(desc("cosine"), col(idCol))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Maximal-Marginal-Relevance diversified re-ranking (Carbonell &
    * Goldstein 1998): from each query's top-`m` relevance candidates,
    * greedily pick `k` results maximizing
    * λ·relevance − (1−λ)·max-similarity-to-already-picked — the standard
    * search-results / few-shot-example diversifier (near-duplicate hits
    * crowd each other out instead of filling the page).
    *
    * Scale shape: relevance candidates come from [[bruteForceTopKBatch]]
    * (one corpus scan, queries broadcast, WindowGroupLimit), so the
    * iterative part runs on a queries×m frame — BOUNDED BY CONSTRUCTION,
    * never corpus-sized. Each of the k greedy steps is one per-query
    * argmax window + one query-keyed join against the (1-row-per-query)
    * pick — k is small and fixed, the plan static and replayable. (1−λ)
    * is derived via BigDecimal so both engines see the same literal
    * (1−0.7 in IEEE would be 0.30000000000000004, silently diverging
    * from an oracle that spells 0.3). */
  def mmrRerank(data: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, queryIdCol: String, m: Int = 10, k: Int = 5,
      lambda: Double = 0.7): DataFrame = {
    require(k >= 1 && m >= k, "need k >= 1 and m >= k")
    require(k <= 16, s"k=$k out of [1,16] — each greedy step adds a " +
      "window+join layer to the plan; beyond ~16 re-rank in pages")
    val lam = lit(lambda)
    val oneMinus = lit((BigDecimal(1) - BigDecimal(lambda)).toDouble)
    val vecs = data.select(col(idCol).as("__id"),
      asDouble(col(vecCol)).as("__v"))
    val cands = bruteForceTopKBatch(data, idCol, vecCol, queries,
        queryIdCol, m)
      .select(col("query_id"), col(idCol).as("__id"),
        col("cosine").as("__score"))
      .join(vecs, "__id")
    var remaining = cands.withColumn("__msim", lit(0.0))
    val picks = Seq.newBuilder[DataFrame]
    for (t <- 1 to k) {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id")
        .orderBy(desc("__mmr"), col("__id"))
      val pick = remaining
        .withColumn("__mmr", lam * col("__score") - oneMinus * col("__msim"))
        .withColumn("__r", row_number().over(w))
        .filter(col("__r") === 1)
        .select(col("query_id"), col("__id"), col("__v").as("__sv"),
          col("__score"), col("__mmr"))
      picks += pick.select(col("query_id"), col("__id").as(idCol),
        lit(t).as("rank"), round(col("__score"), 4).as("score"),
        round(col("__mmr"), 4).as("mmr"))
      // `remaining` references `pick` which references the PRIOR
      // `remaining` twice (argmax + anti-filter) — without a lineage cut
      // the logical plan doubles per step (~2^k copies of the
      // bruteForceTopKBatch subplan), the exact 2^N blow-up the DuckDB
      // oracle avoids with AS MATERIALIZED. The lazy localCheckpoint
      // materializes each step's queries×m frame (bounded by
      // construction) the first time it is computed.
      remaining = remaining
        .join(pick.select(col("query_id"), col("__id").as("__pid"),
          col("__sv")), "query_id")
        .filter(col("__id") =!= col("__pid"))
        .withColumn("__msim",
          greatest(col("__msim"), cosine(col("__v"), col("__sv"))))
        .select(col("query_id"), col("__id"), col("__score"), col("__v"),
          col("__msim"))
        .localCheckpoint(eager = false)
    }
    picks.result().reduce(_.unionByName(_)).orderBy("query_id", "rank")
  }

  /** Shared kNN stage: md5-ranked query sample → exact top-k OTHER
    * neighbors with labels, (query id, query label, neighbor id,
    * neighbor label) rows. */
  private def knnNeighbors(data: DataFrame, idCol: String, vecCol: String,
      labelCol: String, nQueries: Int, k: Int): DataFrame = {
    require(nQueries >= 1 && k >= 1, "nQueries and k must be positive")
    val q = broadcast(data
      .select(col(idCol).as("__qid"), asDouble(col(vecCol)).as("__qv"),
        col(labelCol).cast("long").as("__qlab"))
      .orderBy(md5(col("__qid").cast("string")), col("__qid"))
      .limit(nQueries))
    val scored = data
      .select(col(idCol).as("__nid"), asDouble(col(vecCol)).as("__v"),
        col(labelCol).cast("long").as("__nlab"))
      .crossJoin(q)
      .filter(col("__nid") =!= col("__qid"))
      .select(col("__qid"), col("__qlab"), col("__nid"), col("__nlab"),
        cosine(col("__v"), col("__qv")).as("__cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__qid").orderBy(desc("__cos"), col("__nid"))
    scored.withColumn("__r", row_number().over(w)).filter(col("__r") <= k)
  }

  /** k-NN label classification accuracy over the embedding corpus — the
    * standard "are these embeddings any good" probe (labels exist, so
    * measure whether cosine neighborhoods are label-pure): for a bounded
    * deterministic query sample, predict each query's label by majority
    * vote over its k nearest OTHER vectors and report per-class accuracy.
    * Doubles as the evaluation harness for any ANN index (swap the exact
    * scorer for an index probe and diff the accuracy).
    *
    * Scale shape — the x168 harness discipline: the QUERY side is a
    * bounded md5-ranked sample (TakeOrderedAndProject, engine-replayable),
    * never the whole corpus, so cost is nQueries × corpus (one data scan,
    * queries broadcast) instead of corpus². Ranking is a per-query window
    * (WindowGroupLimit forwards ≤ k rows per query per partition); the
    * majority vote is max(struct(cnt, −label)) — a hash aggregate, no
    * second window. Accuracy is integer bps via exact decimal division. */
  def knnClassify(data: DataFrame, idCol: String, vecCol: String,
      labelCol: String, nQueries: Int = 256, k: Int = 10): DataFrame = {
    val voted = knnNeighbors(data, idCol, vecCol, labelCol, nQueries, k)
      .groupBy(col("__qid"), col("__qlab"), col("__nlab"))
      .agg(count(lit(1)).as("__cnt"))
      .groupBy(col("__qid"), col("__qlab"))
      .agg(max(struct(col("__cnt"), (-col("__nlab")).as("nl"))).as("__best"))
      .select(col("__qid"), col("__qlab"),
        (-col("__best.nl")).as("__pred"))
    voted.groupBy(col("__qlab").as("label"))
      .agg(count(lit(1)).as("n_queries"),
        sum(when(col("__pred") === col("__qlab"), 1L).otherwise(0L))
          .as("n_correct"))
      .select(col("label"), col("n_queries"), col("n_correct"),
        expr("CAST((CAST(n_correct AS DECIMAL(38,0)) * 10000) DIV " +
          "CAST(n_queries AS DECIMAL(38,0)) AS BIGINT)").as("acc_bps"))
      .orderBy("label")
  }

  /** Label-noise audit by neighborhood disagreement — confident-learning
    * lite: for each sampled example, the share of its k nearest OTHER
    * vectors carrying a DIFFERENT label. An example whose entire
    * neighborhood disagrees is the classic mislabel signature (or sits on
    * a genuine class boundary — either way, a human-review candidate).
    * Returns the top-`topN` suspects; disagreement in integer bps so the
    * suspect ranking is exact. Same bounded-sample + one-scan +
    * WindowGroupLimit shape as [[knnClassify]]. */
  def labelNoiseAudit(data: DataFrame, idCol: String, vecCol: String,
      labelCol: String, nQueries: Int = 256, k: Int = 10,
      topN: Int = 20): DataFrame = {
    require(topN >= 1, "topN must be positive")
    knnNeighbors(data, idCol, vecCol, labelCol, nQueries, k)
      .groupBy(col("__qid"), col("__qlab"))
      .agg(count(lit(1)).as("n_neighbors"),
        sum(when(col("__nlab") =!= col("__qlab"), 1L).otherwise(0L))
          .as("n_diff"))
      .select(col("__qid").as(idCol), col("__qlab").as(labelCol),
        col("n_neighbors"), col("n_diff"),
        expr("CAST((CAST(n_diff AS DECIMAL(38,0)) * 10000) DIV " +
          "CAST(n_neighbors AS DECIMAL(38,0)) AS BIGINT)").as("diff_bps"))
      .orderBy(desc("diff_bps"), col(idCol))
      .limit(topN)
  }

  /** Nearest-centroid (Rocchio) classification over the embedding corpus
    * — the cheapest "are the classes linearly separated in embedding
    * space" probe and the SCALABLE companion to [[knnClassify]]: where
    * kNN pays one corpus scan per query batch, this trains k class
    * centroids in ONE aggregate over the md5-assigned train folds and
    * scores every held-out vector against the broadcast (k × d) centroid
    * frame — O(n·d) end to end, no per-query work, no sample cap.
    *
    * Split: md5(id) % folds == testFold holds out (the registry's
    * deterministic-seeding convention — row-level; near-duplicate pairs
    * that must not straddle the split need cluster-keyed hashing, see
    * [[splitLeakage]]). Centroid c_ℓ = mean of class ℓ's train vectors,
    * assembled per (class, dim) with DECIMAL(28,18)-quantized sums, then
    * packed into an i-ordered array so the scoring dot ([[dot]], native
    * in-order fold) is bit-reproducible cross-engine. Prediction =
    * argmax_ℓ cosine(x, c_ℓ), ties broken by smaller class id. A class
    * with no train vectors contributes no centroid (its held-out rows
    * are graded against the others and score 0 correct); a class with no
    * held-out vectors emits no row.
    *
    * Returns one row per true class: (label, n_vectors, n_correct,
    * acc_bps) with integer-exact basis-point accuracy. */
  def nearestCentroidClassify(data: DataFrame, idCol: String,
      vecCol: String, labelCol: String, folds: Int = 4,
      testFold: Int = 0): DataFrame = {
    require(folds >= 2 && folds <= 16, s"folds=$folds out of [2,16]")
    require(testFold >= 0 && testFold < folds, "testFold out of [0,folds)")
    val fold = conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
      .cast("long") % folds
    val ex = data.filter(fold =!= testFold)
      .select(col(labelCol).cast("long").as("__lab"),
        posexplode(asDouble(col(vecCol))).as(Seq("__d0", "__x")))
      .select(col("__lab"), (col("__d0") + 1).cast("long").as("__i"),
        col("__x"))
    // per-(class, dim) quantized mean, then an i-ordered centroid array;
    // count(*) per (class, dim) IS the class size (one row per vector)
    val cent = ex.groupBy("__lab", "__i")
      .agg(sum(dec18(col("__x"))).as("__s"), count(lit(1)).as("__nc"))
      .select(col("__lab"), col("__i"),
        (col("__s").cast("double") / col("__nc").cast("double")).as("__c"))
      .groupBy("__lab")
      .agg(expr("transform(array_sort(collect_list(struct(__i, __c))), " +
        "s -> s.__c)").as("__cv"))
    val scored = data.filter(fold === testFold)
      .select(col(idCol).as("__id"), col(labelCol).cast("long").as("__true"),
        asDouble(col(vecCol)).as("__v"))
      .crossJoin(broadcast(cent))
      .select(col("__id"), col("__true"), col("__lab"),
        cosine(col("__v"), col("__cv")).as("__cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__id").orderBy(desc("__cos"), col("__lab"))
    scored.withColumn("__r", row_number().over(w))
      .filter(col("__r") === 1)
      .groupBy(col("__true").as("label"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(when(col("__lab") === col("__true"), 1L).otherwise(0L))
          .as("n_correct"))
      .select(col("label"), col("n_vectors"), col("n_correct"),
        expr("CAST((CAST(n_correct AS DECIMAL(38,0)) * 10000) DIV " +
          "CAST(n_vectors AS DECIMAL(38,0)) AS BIGINT)").as("acc_bps"))
      .orderBy("label")
  }
}
