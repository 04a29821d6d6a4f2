package graft.queries

import graft.io.LocalWrites
import graft.functions.{Curation, Multimodal, TextAnalysis}
import graft.operators.{Combiner, Dedup, Graph, Similarity}
import graft.streaming.{EventStream, Replay}
import org.apache.spark.sql.functions._

/** Beyond-reference scale operators (the LLM-training-data north star):
  * dedup (exact/minhash-LSH/simhash/n-gram), similarity search (brute +
  * IVF), text analysis, multimodal plumbing, and the streaming batch-twin.
  * Oracles replicate the exact same md5-derived hash pipeline in DuckDB, so
  * candidate generation is compared step-for-step, not just end results.
  */
object ScaleQueries {
  import Tables.t

  /** DuckDB twin of Dedup.words/shingles (word 3-grams, distinct). */
  private val SETS_CTE =
    """sets AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(ws)-1),
      |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shs
      |  FROM (SELECT doc_id,
      |          list_filter(string_split_regex(regexp_replace(lower(text),
      |            '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '') AS ws
      |        FROM documents))""".stripMargin

  private def duckHash(seed: Int, v: String): String =
    s"('0x' || substring(md5('$seed:' || $v), 1, 8))::BIGINT"

  // Exact dedup: hash-groupBy keeps the smallest id per content hash.
  // Input doubled via self-union so dup_count is observable.
  private val x1 = Q("x1_exact_dedup", Some(
    """SELECT md5(text) AS text_hash, doc_id, CAST(2 AS BIGINT) AS dup_count
      |FROM documents ORDER BY doc_id""".stripMargin)) { (s, dir) =>
    val docs = t(s, dir, "documents")
    Dedup.exactDedup(Combiner.concat(Seq(docs, docs)), "doc_id", "text")
      .select("text_hash", "doc_id", "dup_count")
      .orderBy("doc_id")
  }

  // MinHash(8 perms) + LSH(4 bands × 2 rows) near-dup pairs, verified at
  // true Jaccard ≥ 0.8. The oracle replays signature, banding, candidate
  // join, and verification identically.
  private val x2 = Q("x2_minhash_lsh_neardups", Some {
    // Kirsch-Mitzenmacher permutations: ONE md5 per shingle, h_i = ha + i·hb
    val hashes = (0 until 8).map(i =>
      s"min((ha + $i * hb) % 4294967296) AS h$i").mkString(", ")
    val bandKeys = (0 until 4).map(b =>
      s"(${b}, h${2 * b}::VARCHAR || '_' || h${2 * b + 1}::VARCHAR)").mkString(", ")
    s"""WITH $SETS_CTE,
       |expl AS (
       |  SELECT doc_id,
       |    ('0x' || substring(md5(u.sh), 1, 8))::BIGINT AS ha,
       |    ('0x' || substring(md5(u.sh), 9, 8))::BIGINT AS hb
       |  FROM sets, unnest(shs) AS u(sh)),
       |sig AS (SELECT doc_id, $hashes FROM expl GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, u.b[1]::INT AS band, u.b[2] AS bkey
       |  FROM sig, unnest([$bandKeys]) AS u(b)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b,
       |  round(len(list_intersect(x.shs, y.shs))::DOUBLE /
       |    (len(x.shs) + len(y.shs) - len(list_intersect(x.shs, y.shs))), 4) AS jaccard
       |FROM cand JOIN sets x ON cand.id_a = x.doc_id
       |          JOIN sets y ON cand.id_b = y.doc_id
       |WHERE len(list_intersect(x.shs, y.shs))::DOUBLE /
       |    (len(x.shs) + len(y.shs) - len(list_intersect(x.shs, y.shs))) >= 0.8
       |ORDER BY id_a, id_b""".stripMargin
  }) { (s, dir) =>
    Dedup.minhashNearDups(t(s, dir, "documents"), "doc_id", "text")
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy("id_a", "id_b")
  }

  // Planted-pair recall audit for the x2 banding parameters: every
  // md5-sampled doc gets a perturbed near-duplicate (last 8 words
  // dropped — the true Jaccard is a strict-subset ratio, known and
  // high), the production LSH runs over originals ∪ plants, and the
  // recovered fraction of above-threshold planted pairs IS the banding
  // recall at that similarity level. The oracle replays the sample, the
  // plants, the x2 minhash/band/verify chain, and the hit join.
  private val x230 = Q("x230_lsh_planted_recall", Some {
    val hashes = (0 until 8).map(i =>
      s"min((ha + $i * hb) % 4294967296) AS h$i").mkString(", ")
    val bandKeys = (0 until 4).map(b =>
      s"(${b}, h${2 * b}::VARCHAR || '_' || h${2 * b + 1}::VARCHAR)").mkString(", ")
    s"""WITH base AS (
       |  SELECT doc_id AS id, text,
       |    ('0x' || substring(md5('lshaudit:' || doc_id::VARCHAR), 1, 8))::BIGINT
       |      AS rk
       |  FROM documents),
       |samp AS (SELECT id, text FROM base ORDER BY rk, id LIMIT 64),
       |wsd AS (SELECT id, list_filter(string_split_regex(regexp_replace(
       |          lower(text), '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '')
       |          AS ws
       |        FROM samp),
       |pl AS (SELECT -id - 1 AS id,
       |         array_to_string(ws[1:greatest(len(ws) - 8, 0)], ' ') AS text
       |       FROM wsd),
       |alls AS (SELECT id, text FROM samp UNION ALL SELECT id, text FROM pl),
       |sets AS (
       |  SELECT id, list_distinct(list_transform(range(1, len(ws)-1),
       |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shs
       |  FROM (SELECT id, list_filter(string_split_regex(regexp_replace(
       |          lower(text), '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '')
       |          AS ws
       |        FROM alls)),
       |qual AS (
       |  SELECT o.id AS oid, c.id AS cid,
       |    CASE WHEN len(list_intersect(o.shs, c.shs))::DOUBLE /
       |      (len(o.shs) + len(c.shs) - len(list_intersect(o.shs, c.shs)))
       |      >= 0.8 THEN 1 ELSE 0 END AS q
       |  FROM sets o JOIN sets c ON c.id = -o.id - 1
       |  WHERE o.id >= 0 AND len(o.shs) > 0),
       |ne AS (SELECT id, shs FROM sets WHERE len(shs) > 0),
       |expl AS (
       |  SELECT id, ('0x' || substring(md5(u.sh), 1, 8))::BIGINT AS ha,
       |    ('0x' || substring(md5(u.sh), 9, 8))::BIGINT AS hb
       |  FROM ne, unnest(shs) AS u(sh)),
       |sig AS (SELECT id, $hashes FROM expl GROUP BY id),
       |bands AS (SELECT id, u.b[1]::INT AS band, u.b[2] AS bkey
       |          FROM sig, unnest([$bandKeys]) AS u(b)),
       |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |         FROM bands a JOIN bands b
       |           ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id),
       |lsh AS (SELECT cand.id_a, cand.id_b
       |        FROM cand JOIN ne x ON cand.id_a = x.id
       |                  JOIN ne y ON cand.id_b = y.id
       |        WHERE len(list_intersect(x.shs, y.shs))::DOUBLE /
       |          (len(x.shs) + len(y.shs) - len(list_intersect(x.shs, y.shs)))
       |          >= 0.8)
       |SELECT CAST(count(*) AS BIGINT) AS n_planted,
       |  CAST(sum(q) AS BIGINT) AS n_qualifying,
       |  CAST(sum(CASE WHEN q = 1 AND l.id_a IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_hit,
       |  CASE WHEN sum(q) = 0 THEN NULL
       |       ELSE round(CAST(sum(CASE WHEN q = 1 AND l.id_a IS NOT NULL
       |           THEN 1 ELSE 0 END) AS DOUBLE) / CAST(sum(q) AS DOUBLE), 6)
       |       END AS recall
       |FROM qual LEFT JOIN lsh l
       |  ON l.id_a = qual.cid AND l.id_b = qual.oid""".stripMargin
  }) { (s, dir) =>
    Dedup.lshPlantedRecall(t(s, dir, "documents"), "doc_id", "text")
  }

  // SimHash 32-bit signatures (token hashes with multiplicity).
  private val x3 = Q("x3_simhash", Some {
    val bitSums = (0 until 32).map(j =>
      s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b$j").mkString(", ")
    val value = (0 until 32).map(j =>
      s"CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, ${duckHash(0, "u.tok")} AS h
       |  FROM (SELECT doc_id,
       |          list_filter(string_split_regex(regexp_replace(lower(text),
       |            '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '') AS ws
       |        FROM documents), unnest(ws) AS u(tok)),
       |bits AS (SELECT doc_id, $bitSums FROM toks GROUP BY doc_id)
       |SELECT doc_id, CAST($value AS BIGINT) AS simhash FROM bits
       |ORDER BY doc_id""".stripMargin
  }) { (s, dir) =>
    Dedup.simhash(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")
  }

  // Character-4-gram Jaccard over a bounded block (verify primitive).
  private val x4 = Q("x4_char_ngram_jaccard", Some(
    """WITH grams AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(nt)-2, 1)),
      |           i -> substring(nt, i, 4))) AS gs
      |  FROM (SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS nt
      |        FROM documents WHERE doc_id < 60))
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  round(len(list_intersect(a.gs, b.gs))::DOUBLE /
      |    (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))), 4) AS jaccard
      |FROM grams a JOIN grams b ON a.doc_id < b.doc_id
      |WHERE len(list_intersect(a.gs, b.gs))::DOUBLE /
      |    (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) >= 0.4
      |ORDER BY id_a, id_b""".stripMargin)) { (s, dir) =>
    Dedup.charNgramJaccardBlock(
        t(s, dir, "documents").filter(col("doc_id") < 60), "doc_id", "text")
      .filter(col("jaccard") >= 0.4)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy("id_a", "id_b")
  }

  // Brute-force cosine top-10 against the vec_id=0 embedding (exact baseline;
  // a single broadcast + TakeOrderedAndProject).
  private val x5 = Q("x5_ann_brute_force", Some(
    """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
      |SELECT vec_id,
      |  round(list_dot_product(CAST(embedding AS DOUBLE[]), q.qv) /
      |    (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) *
      |     sqrt(list_dot_product(q.qv, q.qv))), 4) AS cosine
      |FROM embeddings, q
      |ORDER BY list_dot_product(CAST(embedding AS DOUBLE[]), q.qv) /
      |    (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) *
      |     sqrt(list_dot_product(q.qv, q.qv))) DESC, vec_id
      |LIMIT 10""".stripMargin)) { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") === 0), 10)
      .select(col("vec_id"), round(col("cosine"), 4).as("cosine"))
  }

  // IVF: label-partitioned cells, probe top-3 centroids, search within.
  /** Shared by x6 (from-scratch IVF) and x183 (materialized IVF index):
    * the indexed path must be output-IDENTICAL, so both gate against the
    * same SQL. */
  private val ivfOracle =
    """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
      |cent AS (
      |  SELECT label, i, avg(embedding[i]::DOUBLE) AS cv
      |  FROM embeddings CROSS JOIN range(1, 65) AS r(i)
      |  GROUP BY label, i),
      |cscore AS (
      |  SELECT label,
      |    sum(cv * q.qv[i]) / (sqrt(sum(cv * cv)) * sqrt((SELECT list_dot_product(qv, qv) FROM q))) AS cs
      |  FROM cent, q GROUP BY label),
      |probe AS (SELECT label FROM cscore ORDER BY cs DESC, label LIMIT 3)
      |SELECT vec_id,
      |  round(list_dot_product(CAST(embedding AS DOUBLE[]), q.qv) /
      |    (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) *
      |     sqrt(list_dot_product(q.qv, q.qv))), 4) AS cosine
      |FROM embeddings, q WHERE label IN (SELECT label FROM probe)
      |ORDER BY list_dot_product(CAST(embedding AS DOUBLE[]), q.qv) /
      |    (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) *
      |     sqrt(list_dot_product(q.qv, q.qv))) DESC, vec_id
      |LIMIT 10""".stripMargin

  private val x6 = Q("x6_ann_ivf", Some(ivfOracle)) { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    Similarity.ivfTopK(emb, "vec_id", "label", "embedding",
        emb.filter(col("vec_id") === 0), k = 10, nprobe = 3)
      .select(col("vec_id"), round(col("cosine"), 4).as("cosine"))
  }

  // IVF from the MATERIALIZED index: vectors partitioned by cell (probe
  // predicates prune at the file level via dynamic partition pruning) +
  // the broadcast-sized centroids table — the dense-side twin of the
  // x181 postings index, same oracle as x6 (equality, not similarity).
  private val x183 = Q("x183_ann_ivf_indexed", Some(ivfOracle)) { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    Similarity.buildIvfIndex(emb, "vec_id", "label", "embedding",
      "graft_x183_ivf")
    Similarity.ivfTopKIndexed(s, "graft_x183_ivf", "vec_id", "label",
        "embedding", emb.filter(col("vec_id") === 0), k = 10, nprobe = 3)
      .select(col("vec_id"), round(col("cosine"), 4).as("cosine"))
  }

  // Incremental IVF-index maintenance, x60 IVM equality: build the index
  // on 80% of the vectors, APPEND the remaining 20% batch (batch rows
  // land in their cell partitions, the exact-DECIMAL centroid state
  // merges by summation — decimal sums are associative, so the merged
  // centroids are BIT-identical to a full rebuild's), then probe. The
  // oracle is x6/x183's full-corpus IVF verbatim: append-then-query
  // must equal rebuild-then-query must equal the from-scratch path.
  private val x210 = Q("x210_ivf_append", Some(ivfOracle)) { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    Similarity.buildIvfIndex(emb.filter(col("vec_id") % 5 =!= 4),
      "vec_id", "label", "embedding", "graft_x210_ivf")
    Similarity.appendToIvfIndex(emb.filter(col("vec_id") % 5 === 4),
      "vec_id", "label", "embedding", "graft_x210_ivf")
    Similarity.ivfTopKIndexed(s, "graft_x210_ivf", "vec_id", "label",
        "embedding", emb.filter(col("vec_id") === 0), k = 10, nprobe = 3)
      .select(col("vec_id"), round(col("cosine"), 4).as("cosine"))
  }

  // Probe routing for a cell-LESS ingest batch: assign each new vector
  // to its nearest EXISTING index cell by centroid cosine (ties to the
  // lowest cell id) — the step before appendToIvfIndex when the batch
  // doesn't carry an assignment. The oracle recomputes the 80%-corpus
  // per-cell centroids and replays the argmax; cell ids are integers, so
  // the gate is exact as long as no vector is centroid-equidistant at
  // double precision (margins on the labeled fixture are wide).
  private val x211 = Q("x211_ivf_route", Some(
    """WITH base AS (SELECT * FROM embeddings WHERE vec_id % 5 != 4),
      |cent AS (
      |  SELECT label AS cell, i, avg(embedding[i]::DOUBLE) AS cv
      |  FROM base CROSS JOIN range(1, 65) AS r(i)
      |  GROUP BY label, i),
      |batch AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |            sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
      |              CAST(embedding AS DOUBLE[]))) AS vn
      |          FROM embeddings WHERE vec_id % 5 = 4),
      |sc AS (
      |  SELECT b.vec_id, c.cell,
      |    sum(c.cv * b.v[c.i]) / (sqrt(sum(c.cv * c.cv)) * b.vn) AS cs
      |  FROM batch b CROSS JOIN cent c
      |  GROUP BY b.vec_id, c.cell, b.vn)
      |SELECT vec_id, cell
      |FROM sc
      |QUALIFY row_number() OVER (PARTITION BY vec_id
      |  ORDER BY cs DESC, cell) = 1
      |ORDER BY vec_id""".stripMargin)) { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    Similarity.buildIvfIndex(emb.filter(col("vec_id") % 5 =!= 4),
      "vec_id", "label", "embedding", "graft_x211_ivf")
    Similarity.routeToNearestCell(s, "graft_x211_ivf",
        emb.filter(col("vec_id") % 5 === 4).drop("label"),
        "vec_id", "embedding")
      .orderBy("vec_id")
  }

  // Periodic IVF maintenance: ONE Lloyd refinement of the stored index
  // (every vector reassigned to its nearest current centroid, table +
  // exact-DECIMAL state + centroid table rebuilt), then the standard
  // probe. The oracle replays the label-seeded centroids, the x211
  // argmax reassignment over the FULL corpus, the refined centroids,
  // the top-3 probe, and the in-cell cosine top-k — cell ids and rank
  // boundaries are integer/tie-broken, so the gate is exact.
  private val x221 = Q("x221_ivf_refine", Some(
    """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
      |cent AS (
      |  SELECT label AS cell, i, avg(embedding[i]::DOUBLE) AS cv
      |  FROM embeddings CROSS JOIN range(1, 65) AS r(i)
      |  GROUP BY label, i),
      |allv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |           sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
      |             CAST(embedding AS DOUBLE[]))) AS vn
      |         FROM embeddings),
      |sc AS (
      |  SELECT a.vec_id, c.cell,
      |    sum(c.cv * a.v[c.i]) / (sqrt(sum(c.cv * c.cv)) * a.vn) AS cs
      |  FROM allv a CROSS JOIN cent c
      |  GROUP BY a.vec_id, c.cell, a.vn),
      |asg AS (SELECT vec_id, cell FROM sc
      |        QUALIFY row_number() OVER (PARTITION BY vec_id
      |          ORDER BY cs DESC, cell) = 1),
      |cent2 AS (
      |  SELECT asg.cell, r.i, avg(e.embedding[r.i]::DOUBLE) AS cv
      |  FROM embeddings e JOIN asg USING (vec_id)
      |  CROSS JOIN range(1, 65) AS r(i)
      |  GROUP BY asg.cell, r.i),
      |cscore AS (
      |  SELECT cell,
      |    sum(cv * q.qv[i]) / (sqrt(sum(cv * cv)) * sqrt((SELECT list_dot_product(qv, qv) FROM q))) AS cs
      |  FROM cent2, q GROUP BY cell),
      |probe AS (SELECT cell FROM cscore ORDER BY cs DESC, cell LIMIT 3)
      |SELECT e.vec_id,
      |  round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv) /
      |    (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
      |     sqrt(list_dot_product(q.qv, q.qv))), 4) AS cosine
      |FROM embeddings e JOIN asg USING (vec_id), q
      |WHERE asg.cell IN (SELECT cell FROM probe)
      |ORDER BY list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv) /
      |    (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
      |     sqrt(list_dot_product(q.qv, q.qv))) DESC, e.vec_id
      |LIMIT 10""".stripMargin)) { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    Similarity.buildIvfIndex(emb, "vec_id", "label", "embedding",
      "graft_x221_ivf")
    Similarity.refineCells(s, "graft_x221_ivf", "vec_id", "label",
      "embedding")
    Similarity.ivfTopKIndexed(s, "graft_x221_ivf", "vec_id", "label",
        "embedding", emb.filter(col("vec_id") === 0), k = 10, nprobe = 3)
      .select(col("vec_id"), round(col("cosine"), 4).as("cosine"))
  }

  // Greedy k-center (farthest-point) seed selection over the embedding
  // corpus: seed 1 = lowest id, each next seed maximizes its min cosine
  // distance to everything selected (ties to the lowest id, selected ids
  // excluded). The oracle unrolls all 6 greedy steps as MATERIALIZED
  // CTEs (the x176 2^N lesson) — argmax margins on the clustered
  // fixture are wide, rank boundaries id-tiebroken.
  private val x224 = Q("x224_kcenter_seeds", Some {
    val k = 6
    val steps = (2 to k).map { t =>
      val prev = t - 1
      s"""d$t AS MATERIALIZED (
         |  SELECT a.id, min(1.0 - list_dot_product(a.v, s.v) / (a.n * s.n))
         |    AS mind
         |  FROM v a, sel$prev s
         |  WHERE a.id NOT IN (SELECT id FROM sel$prev)
         |  GROUP BY a.id),
         |s$t AS MATERIALIZED (
         |  SELECT v.id, v.v, v.n, $t::BIGINT AS seed_rank,
         |    round(d$t.mind, 6) AS min_dist
         |  FROM d$t JOIN v ON v.id = d$t.id
         |  ORDER BY d$t.mind DESC, d$t.id LIMIT 1),
         |sel$t AS MATERIALIZED (
         |  SELECT id, v, n FROM sel$prev
         |  UNION ALL SELECT id, v, n FROM s$t)""".stripMargin
    }.mkString(",\n")
    val unions = (2 to k)
      .map(t => s"UNION ALL SELECT seed_rank, id, min_dist FROM s$t")
      .mkString("\n  ")
    s"""WITH v AS MATERIALIZED (
       |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v,
       |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
       |      CAST(embedding AS DOUBLE[]))) AS n
       |  FROM embeddings),
       |s1 AS MATERIALIZED (
       |  SELECT id, v, n, 1::BIGINT AS seed_rank, NULL::DOUBLE AS min_dist
       |  FROM v ORDER BY id LIMIT 1),
       |sel1 AS MATERIALIZED (SELECT id, v, n FROM s1),
       |$steps
       |SELECT seed_rank, id AS vec_id, min_dist FROM (
       |  SELECT seed_rank, id, min_dist FROM s1
       |  $unions
       |) ORDER BY seed_rank""".stripMargin
  }) { (s, dir) =>
    Similarity.kCenterSeeds(t(s, dir, "embeddings"), "vec_id",
      "embedding", k = 6)
  }

  // Matryoshka-style truncation audit: exact cosine top-10 from the
  // full 64-dim embeddings vs the same ranking from the FIRST 16 dims,
  // graded per query with rankingRecall — the "how many dims can the
  // ANN tier drop" measurement. The oracle replays both rankings (the
  // x172 dense-ranking SQL, sliced lists on the truncated side) and the
  // recall join; every rank boundary id-tiebroken.
  private val x226 = Q("x226_matryoshka_recall", Some(
    """WITH qf AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      |            FROM embeddings WHERE vec_id < 5),
      |rf AS (
      |  SELECT query_id, vec_id,
      |    row_number() OVER (PARTITION BY query_id ORDER BY
      |      list_dot_product(CAST(embedding AS DOUBLE[]), qv) /
      |        (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
      |           CAST(embedding AS DOUBLE[]))) * sqrt(list_dot_product(qv, qv)))
      |      DESC, vec_id) AS r
      |  FROM embeddings, qf WHERE vec_id >= 5
      |  QUALIFY r <= 10),
      |qt AS (SELECT vec_id AS query_id,
      |         (CAST(embedding AS DOUBLE[]))[1:16] AS qv
      |       FROM embeddings WHERE vec_id < 5),
      |rt AS (
      |  SELECT query_id, vec_id,
      |    row_number() OVER (PARTITION BY query_id ORDER BY
      |      list_dot_product((CAST(embedding AS DOUBLE[]))[1:16], qv) /
      |        (sqrt(list_dot_product((CAST(embedding AS DOUBLE[]))[1:16],
      |           (CAST(embedding AS DOUBLE[]))[1:16])) * sqrt(list_dot_product(qv, qv)))
      |      DESC, vec_id) AS r
      |  FROM embeddings, qt WHERE vec_id >= 5
      |  QUALIFY r <= 10)
      |SELECT f.query_id AS query_id, CAST(count(*) AS BIGINT) AS n_exact,
      |  CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_hit,
      |  round(CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
      |      AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS recall
      |FROM rf f LEFT JOIN rt a
      |  ON a.query_id = f.query_id AND a.vec_id = f.vec_id
      |GROUP BY f.query_id ORDER BY query_id""".stripMargin)) { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    val corpus = emb.filter(col("vec_id") >= 5)
    val queries = emb.filter(col("vec_id") < 5)
    def cut(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("embedding", slice(col("embedding"), 1, 16))
    val full = Similarity.bruteForceTopKBatch(corpus, "vec_id",
      "embedding", queries, "vec_id", k = 10)
    val trunc = Similarity.bruteForceTopKBatch(cut(corpus), "vec_id",
      "embedding", cut(queries), "vec_id", k = 10)
    graft.operators.Retrieval.rankingRecall(full, trunc, "query_id",
      "vec_id")
  }

  // Text analysis: language-ID + token counts + quality + fingerprint.
  private val x7 = Q("x7_text_analysis", Some {
    val markers = TextAnalysis.LangMarkers
    val scores = markers.map { case (lang, ms) =>
      val set = ms.map(m => s"'$m'").mkString(", ")
      s"len(list_filter(ws, w -> w IN ($set))) AS s_$lang"
    }.mkString(", ")
    val maxExpr = "greatest(" + markers.map("s_" + _._1).mkString(", ") + ")"
    val winner = markers.map { case (lang, _) =>
      s"WHEN s_$lang = __m THEN '$lang'"
    }.mkString(" ")
    s"""WITH w AS (
       |  SELECT doc_id, text,
       |    list_filter(string_split_regex(regexp_replace(lower(text),
       |      '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '') AS ws
       |  FROM documents),
       |sc AS (SELECT doc_id, text, ws, $scores FROM w),
       |m AS (SELECT *, $maxExpr AS __m FROM sc),
       |shs AS (
       |  SELECT doc_id, list_distinct(list_transform(range(1, len(ws)-1),
       |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sl
       |  FROM w)
       |SELECT m.doc_id,
       |  CASE WHEN len(ws) = 0 OR __m <= 0 THEN 'und' $winner END AS lang_pred,
       |  CAST(len(ws) AS INT) AS n_tokens,
       |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) +
       |       len(regexp_extract_all(text, '[^A-Za-z0-9 \\t\\n]')) AS INT) AS n_subwords,
       |  round((
       |    (CASE WHEN length(text) BETWEEN 200 AND 8000 THEN 1.0
       |          WHEN length(text) >= 50 THEN 0.5 ELSE 0.0 END) +
       |    (CASE WHEN length(text) = 0 THEN 0.0
       |          WHEN length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE / length(text) >= 0.6 THEN 1.0
       |          WHEN length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE / length(text) >= 0.3 THEN 0.5
       |          ELSE 0.0 END) +
       |    (CASE WHEN length(text) = 0 THEN 0.0
       |          WHEN length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE / length(text) <= 0.1 THEN 1.0
       |          ELSE 0.5 END) +
       |    (CASE WHEN len(ws) = 0 THEN 0.0
       |          WHEN length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE / len(ws)
       |               BETWEEN 2.5 AND 12.0 THEN 1.0 ELSE 0.5 END)) / 4.0, 4) AS quality,
       |  (SELECT CASE WHEN len(sl) = 0 THEN NULL
       |     ELSE list_min(list_transform(sl, s -> ${duckHash(0, "s")})) END
       |   FROM shs WHERE shs.doc_id = m.doc_id) AS fingerprint
       |FROM m ORDER BY doc_id""".stripMargin
  }) { (s, dir) =>
    t(s, dir, "documents").select(
      col("doc_id"),
      TextAnalysis.langId(col("text")).as("lang_pred"),
      TextAnalysis.tokenCount(col("text")).as("n_tokens"),
      TextAnalysis.subwordCount(col("text")).as("n_subwords"),
      TextAnalysis.qualityScore(col("text")).as("quality"),
      TextAnalysis.fingerprint(col("text")).as("fingerprint"))
      .orderBy("doc_id")
  }

  // Multimodal: REAL codec round-trip. Each document is rendered as an
  // actual PNG (dims + corner pixel derived from the text), then decoded
  // back through javax.imageio — width/height/corner_rgb come from the
  // codec. The oracle replays the generation formulas, so a hash match
  // proves the encode→zlib→decode loop is lossless and real.
  private val x8 = Q("x8_multimodal_decode", Some(
    """SELECT doc_id,
      |  CAST((length(text) * 7) % 64 + 16 AS INT) AS width,
      |  CAST((length(text) * 13) % 48 + 16 AS INT) AS height,
      |  CAST(1 AS INT) AS n_frames,
      |  CAST(('0x' || substring(md5(text), 1, 6)) AS INT) AS corner_rgb,
      |  true AS decoded
      |FROM documents ORDER BY doc_id""".stripMargin)) { (s, dir) =>
    Multimodal.decodeFeatures(
        Multimodal.asPngMedia(t(s, dir, "documents"), "doc_id", "text"))
      .select(col("doc_id"), col("width"), col("height"), col("n_frames"),
        col("corner_rgb"), col("decoded"))
      .orderBy("doc_id")
  }

  // Streaming batch-twin: the same windowedCounts plan the readStream path
  // runs, executed on the static events frame.
  private val x9 = Q("x9_event_windows", Some(
    """SELECT time_bucket(INTERVAL '1 hour', ts)::TIMESTAMP AS window_start, event_type,
      |  count(*) AS n_events, round(sum(value), 2) AS total_value
      |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin)) {
    (s, dir) =>
      EventStream.windowedCounts(Tables.events(s, dir))
        .orderBy("window_start", "event_type")
  }

  // End-to-end curation pipeline — the composition a training-data run
  // performs: quality gate → language filter → near-dup removal (LSH pairs,
  // drop the higher id) → fingerprinted survivors.
  private val x10 = Q("x10_curation_pipeline", Some {
    val hashes = (0 until 8).map(i =>
      s"min((ha + $i * hb) % 4294967296) AS h$i").mkString(", ")
    val bandKeys = (0 until 4).map(b =>
      s"(${b}, h${2 * b}::VARCHAR || '_' || h${2 * b + 1}::VARCHAR)").mkString(", ")
    s"""WITH $SETS_CTE,
       |expl AS (
       |  SELECT doc_id,
       |    ('0x' || substring(md5(u.sh), 1, 8))::BIGINT AS ha,
       |    ('0x' || substring(md5(u.sh), 9, 8))::BIGINT AS hb
       |  FROM sets, unnest(shs) AS u(sh)),
       |sig AS (SELECT doc_id, $hashes FROM expl GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, u.b[1]::INT AS band, u.b[2] AS bkey
       |  FROM sig, unnest([$bandKeys]) AS u(b)),
       |dups AS (
       |  SELECT DISTINCT b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
       |  JOIN sets x ON a.doc_id = x.doc_id JOIN sets y ON b.doc_id = y.doc_id
       |  WHERE len(list_intersect(x.shs, y.shs))::DOUBLE /
       |    (len(x.shs) + len(y.shs) - len(list_intersect(x.shs, y.shs))) >= 0.8),
       |quality AS (
       |  SELECT doc_id, text, round((
       |    (CASE WHEN length(text) BETWEEN 200 AND 8000 THEN 1.0
       |          WHEN length(text) >= 50 THEN 0.5 ELSE 0.0 END) +
       |    (CASE WHEN length(text) = 0 THEN 0.0
       |          WHEN length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE / length(text) >= 0.6 THEN 1.0
       |          WHEN length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE / length(text) >= 0.3 THEN 0.5
       |          ELSE 0.0 END) +
       |    (CASE WHEN length(text) = 0 THEN 0.0
       |          WHEN length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE / length(text) <= 0.1 THEN 1.0
       |          ELSE 0.5 END) +
       |    (CASE WHEN len(list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '')) = 0 THEN 0.0
       |          WHEN length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE /
       |               len(list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> ''))
       |               BETWEEN 2.5 AND 12.0 THEN 1.0 ELSE 0.5 END)) / 4.0, 4) AS quality
       |  FROM documents)
       |SELECT q.doc_id, q.quality,
       |  (SELECT CASE WHEN len(s.shs) = 0 THEN NULL
       |     ELSE list_min(list_transform(s.shs, x -> ('0x' || substring(md5('0:' || x), 1, 8))::BIGINT)) END
       |   FROM sets s WHERE s.doc_id = q.doc_id) AS fingerprint
       |FROM quality q
       |WHERE q.quality >= 0.5 AND q.doc_id NOT IN (SELECT id_b FROM dups)
       |ORDER BY q.doc_id""".stripMargin
  }) { (s, dir) =>
    val docs = t(s, dir, "documents")
    val dupIds = Dedup.minhashNearDups(docs, "doc_id", "text")
      .select(col("id_b").as("doc_id")).distinct()
    docs.select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"),
        TextAnalysis.fingerprint(col("text")).as("fingerprint"))
      .filter(col("quality") >= 0.5)
      .join(broadcast(dupIds), Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }

  // Batch ANN: one scan of the data side, top-5 per query vector.
  private val x11 = Q("x11_ann_batch", Some(
    """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      |           FROM embeddings WHERE vec_id < 3)
      |SELECT query_id, vec_id,
      |  round(list_dot_product(CAST(embedding AS DOUBLE[]), q.qv) /
      |    (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) *
      |     sqrt(list_dot_product(q.qv, q.qv))), 4) AS cosine,
      |  CAST(row_number() OVER w AS INT) AS rank
      |FROM embeddings, q
      |WINDOW w AS (PARTITION BY query_id ORDER BY
      |  list_dot_product(CAST(embedding AS DOUBLE[]), q.qv) /
      |    (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) *
      |     sqrt(list_dot_product(q.qv, q.qv))) DESC, vec_id)
      |QUALIFY rank <= 5
      |ORDER BY query_id, rank""".stripMargin)) { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    Similarity.bruteForceTopKBatch(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 3), "vec_id", 5)
      .select(col("query_id"), col("vec_id"), round(col("cosine"), 4).as("cosine"),
        col("rank"))
      .orderBy("query_id", "rank")
  }

  // Token-bounded chunking with overlap (context-window prep).
  private val x12 = Q("x12_doc_chunking", Some(
    """WITH w AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(regexp_replace(lower(text),
      |      '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '') AS ws
      |  FROM documents),
      |chunks AS (
      |  SELECT doc_id, i AS chunk_idx,
      |    array_to_string(ws[i * 40 + 1 : i * 40 + 50], ' ') AS chunk_text
      |  FROM w, unnest(range(0, ((greatest(len(ws) - 11, 0)) // 40) + 1)) AS u(i)
      |  WHERE len(ws) > 0)
      |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx, chunk_text,
      |  CAST(len(string_split(chunk_text, ' ')) AS INT) AS chunk_tokens
      |FROM chunks ORDER BY doc_id, chunk_idx""".stripMargin)) { (s, dir) =>
    Curation.chunkDocuments(t(s, dir, "documents"), "doc_id", "text",
        chunkTokens = 50, overlap = 10)
      .orderBy("doc_id", "chunk_idx")
  }

  // Deterministic stratified sampling by language (hash-bucketed, seeded).
  private val x13 = Q("x13_stratified_sample", Some(
    """SELECT doc_id, lang FROM documents
      |WHERE ('0x' || substring(md5('0:s:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
      |  < CASE lang WHEN 'en' THEN 50 WHEN 'de' THEN 25 ELSE 10 END
      |ORDER BY doc_id""".stripMargin)) { (s, dir) =>
    Curation.stratifiedSample(t(s, dir, "documents"), "doc_id", "lang",
        Map("en" -> 50, "de" -> 25), defaultPct = 10)
      .select("doc_id", "lang").orderBy("doc_id")
  }

  // PII scrubbing with audit counts over deterministically injected PII.
  private val x14 = Q("x14_pii_scrub", Some(
    """WITH dirty AS (
      |  SELECT doc_id,
      |    substring(text, 1, 40) || ' contact u' || CAST(doc_id AS VARCHAR) ||
      |    '@mail.example.com or ' ||
      |    CASE WHEN doc_id % 3 = 0 THEN '555-867-5309' ELSE 'n/a' END AS text
      |  FROM documents)
      |SELECT doc_id,
      |  regexp_replace(regexp_replace(text,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
      |    '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b', '[PHONE]', 'g') AS text,
      |  CAST(1 AS INT) AS n_emails,
      |  CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS INT) AS n_phones
      |FROM dirty ORDER BY doc_id""".stripMargin)) { (s, dir) =>
    val dirty = t(s, dir, "documents").select(col("doc_id"),
      concat(substring(col("text"), 1, 40),
        lit(" contact u"), col("doc_id").cast("string"), lit("@mail.example.com or "),
        when(col("doc_id") % 3 === 0, lit("555-867-5309")).otherwise(lit("n/a")))
        .as("text"))
    Curation.scrubPiiWithCounts(dirty, "text")
      .select("doc_id", "text", "n_emails", "n_phones")
      .orderBy("doc_id")
  }

  // Streaming sessionization under the SAME oracle as the batch twin (e2):
  // the static events frame is replayed through flatMapGroupsWithState as a
  // real MemoryStream in time-ordered micro-batches (sentinel-flushed), so
  // the stateful streaming path — not just its batch twin — is hash-gated.
  // ONE batch-sessionization oracle, TWO streaming formulations (x15
  // sentinel-flushed NoTimeout, x122 watermark-driven EventTimeTimeout).
  private val SessionOracle =
    """WITH flagged AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
      |         OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS boundary
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sessions AS (
      |  SELECT user_id, ts,
      |    sum(boundary) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM flagged)
      |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
      |  count(*) AS n_events, min(ts) AS session_start
      |FROM sessions GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  private val x15 = Q("x15_stream_sessionize", Some(SessionOracle)) { (s, dir) =>
    EventStream.sessionizeReplay(s, Tables.events(s, dir))
      .orderBy("user_id", "session_id")
  }

  // The EVENT-TIME-TIMEOUT sessionizer under the identical oracle: tail
  // sessions close because the watermark passes last-event + gap — no
  // per-user sentinel exists to flush them — so the state-timeout
  // machinery itself is what the hash gate verifies.
  private val x122 = Q("x122_timeout_sessions", Some(SessionOracle)) { (s, dir) =>
    EventStream.sessionizeTimeoutReplay(s, Tables.events(s, dir))
      .orderBy("user_id", "session_id")
  }

  // Spark 4's transformWithState (typed ValueState + explicit event-time
  // TIMERS on the RocksDB store) under the same oracle: the replacement
  // API for flatMapGroupsWithState, hash-gated against the batch cumsum.
  private val x123 = Q("x123_tws_sessions", Some(SessionOracle)) { (s, dir) =>
    EventStream.sessionizeTwsReplay(s, Tables.events(s, dir))
      .orderBy("user_id", "session_id")
  }

  // Spark 4's state data source reading x123's RocksDB state BACK as a
  // batch frame after the drain: every user's ValueState must be the
  // zero-count tombstone carrying next-session ordinal = sessions + 1,
  // derived independently by the oracle from the events table. This gates
  // the operator's INTERNAL state machine (a bug that emits correct
  // sessions but corrupts the carried ordinal breaks tomorrow's resume
  // and is invisible to x15/x122/x123).
  // Batch history → streaming continuation under the identical oracle:
  // the first half of the time range sessionizes in BATCH, each user's
  // still-open final session seeds transformWithState INITIAL STATE, and
  // only the second half streams. Union(batch-closed, stream output) must
  // equal one-pass sessionization — proving the handoff continues
  // mid-session (no restart, globally correct ordinals): the no-replay
  // migration path from batch history to a live stream.
  private val x130 = Q("x130_bootstrap_sessions", Some(SessionOracle)) { (s, dir) =>
    EventStream.sessionizeBootstrapReplay(s, Tables.events(s, dir))
      .orderBy("user_id", "session_id")
  }

  // ListState: a bounded per-user recency window (last 3 events), state
  // read back and gated against the batch row_number window — the
  // "serving context" feature kept O(n) per user regardless of history.
  private val x128 = Q("x128_liststate_recency", Some(
    """WITH r AS (
      |  SELECT user_id, event_id, row_number() OVER (
      |    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events)
      |SELECT user_id, event_id FROM r WHERE rn <= 3
      |ORDER BY user_id, event_id""".stripMargin)) { (s, dir) =>
    EventStream.lastNStateSnapshot(s, Tables.events(s, dir), n = 3)
      .orderBy("user_id", "event_id")
  }

  // MapState: per-user event-type counts updated one entry per event —
  // the streaming store IS an incrementally-maintained group-by cube,
  // and must equal the batch group-by exactly.
  private val x129 = Q("x129_mapstate_counts", Some(
    """SELECT user_id, event_type, count(*) AS n
      |FROM events GROUP BY user_id, event_type
      |ORDER BY user_id, event_type""".stripMargin)) { (s, dir) =>
    EventStream.typeCountsStateSnapshot(s, Tables.events(s, dir))
      .orderBy("user_id", "event_type")
  }

  private val x127 = Q("x127_state_introspection", Some(
    """WITH flagged AS (
      |  SELECT user_id,
      |    CASE WHEN epoch_ms(ts) - epoch_ms(lag(ts) OVER (
      |      PARTITION BY user_id ORDER BY ts, event_id)) > 1800000
      |    THEN 1 ELSE 0 END AS new_s
      |  FROM events)
      |SELECT user_id, CAST(2 + sum(new_s) AS BIGINT) AS next_session_id,
      |  CAST(0 AS BIGINT) AS n_open
      |FROM flagged GROUP BY user_id ORDER BY user_id""".stripMargin)) { (s, dir) =>
    EventStream.twsStateSnapshot(s, Tables.events(s, dir))
      .orderBy("user_id")
  }

  // Near-dup discovery on a HEAVILY exact-duplicated corpus (every doc ×8):
  // exercises minhashNearDups' exact-dup pre-pass — LSH candidates stay at
  // distinct-content scale while the oracle replays the naive all-rows
  // banding (provably the same result, since signatures are content-only).
  private val x17 = Q("x17_neardup_heavy_dup", Some {
    val hashes = (0 until 8).map(i =>
      s"min((ha + $i * hb) % 4294967296) AS h$i").mkString(", ")
    val bandKeys = (0 until 4).map(b =>
      s"(${b}, h${2 * b}::VARCHAR || '_' || h${2 * b + 1}::VARCHAR)").mkString(", ")
    s"""WITH docs8 AS (
       |  SELECT doc_id * 8 + r.i AS doc_id, text FROM documents, range(0, 8) r(i)),
       |sets AS (
       |  SELECT doc_id, list_distinct(list_transform(range(1, len(ws)-1),
       |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shs
       |  FROM (SELECT doc_id,
       |          list_filter(string_split_regex(regexp_replace(lower(text),
       |            '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '') AS ws
       |        FROM docs8)),
       |expl AS (
       |  SELECT doc_id,
       |    ('0x' || substring(md5(u.sh), 1, 8))::BIGINT AS ha,
       |    ('0x' || substring(md5(u.sh), 9, 8))::BIGINT AS hb
       |  FROM sets, unnest(shs) AS u(sh)),
       |sig AS (SELECT doc_id, $hashes FROM expl GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, u.b[1]::INT AS band, u.b[2] AS bkey
       |  FROM sig, unnest([$bandKeys]) AS u(b)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |pairs AS (
       |  SELECT id_a, id_b,
       |    len(list_intersect(x.shs, y.shs))::DOUBLE /
       |      (len(x.shs) + len(y.shs) - len(list_intersect(x.shs, y.shs))) AS jaccard
       |  FROM cand JOIN sets x ON cand.id_a = x.doc_id
       |            JOIN sets y ON cand.id_b = y.doc_id
       |  WHERE len(list_intersect(x.shs, y.shs))::DOUBLE /
       |      (len(x.shs) + len(y.shs) - len(list_intersect(x.shs, y.shs))) >= 0.8)
       |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST(sum(CASE WHEN jaccard >= 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact
       |FROM pairs""".stripMargin
  }) { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val fat = Combiner.concat((0 until 8).map(i =>
      docs.select((col("doc_id") * 8 + lit(i)).as("doc_id"), col("text"))))
    Dedup.minhashNearDups(fat, "doc_id", "text")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("jaccard") >= 1.0, 1L).otherwise(0L)).as("n_exact"))
  }

  // Salted skew join, hash-gated: 80% of events collapse onto one hot key
  // (the pathology AQE can't always split), the dim side is replicated
  // salts×, and the aggregate must equal a plain join. Oracle is the plain
  // join — salting must be semantically invisible.
  private val x16 = Q("x16_salted_join", Some(
    """WITH ev AS (
      |  SELECT user_id, value,
      |    CASE WHEN user_id % 10 < 8 THEN 0 ELSE user_id END AS k
      |  FROM events),
      |dim AS (SELECT DISTINCT k, k % 7 AS bucket FROM ev)
      |SELECT bucket, count(*) AS n_rows, round(sum(value), 2) AS total_value
      |FROM ev JOIN dim USING (k)
      |GROUP BY bucket ORDER BY bucket""".stripMargin)) { (s, dir) =>
    val ev = Tables.events(s, dir).select(col("user_id"), col("value"),
      when(col("user_id") % 10 < 8, lit(0L)).otherwise(col("user_id")).as("k"))
    val dim = ev.select("k").distinct().withColumn("bucket", col("k") % 7)
    graft.operators.SkewJoin.saltedJoin(ev, dim, Seq("k"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"), round(sum(col("value")), 2).as("total_value"))
      .orderBy("bucket")
  }

  // Bucketed co-located join, hash-gated: both sides written bucketed on
  // user_id (saveAsTable — the only way Spark honors bucketing), joined and
  // aggregated WITHOUT any exchange. Oracle is the plain join+agg.
  private val x18 = Q("x18_bucketed_join", Some(
    """WITH purch AS (SELECT user_id, value FROM events WHERE event_type = 'purchase'),
      |clicks AS (SELECT user_id, count(*) AS n_clicks FROM events
      |           WHERE event_type = 'click' GROUP BY user_id)
      |SELECT p.user_id, count(*) AS n_purchases,
      |  CAST(max(c.n_clicks) AS BIGINT) AS n_clicks,
      |  round(sum(p.value), 2) AS total_value
      |FROM purch p JOIN clicks c ON p.user_id = c.user_id
      |GROUP BY p.user_id ORDER BY p.user_id""".stripMargin)) { (s, dir) =>
    val ev = Tables.events(s, dir)
    val purch = ev.filter(col("event_type") === "purchase")
      .select("user_id", "value")
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy("user_id").agg(count(lit(1)).as("n_clicks"))
    graft.operators.Bucketing.writeBucketed(purch, "graft_bkt_purch", 8,
      Seq("user_id"), Seq("user_id"))
    graft.operators.Bucketing.writeBucketed(clicks, "graft_bkt_clicks", 8,
      Seq("user_id"), Seq("user_id"))
    graft.operators.Bucketing
      .bucketedJoin(s, "graft_bkt_purch", "graft_bkt_clicks", Seq("user_id"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_purchases"), max(col("n_clicks")).as("n_clicks"),
        round(sum(col("value")), 2).as("total_value"))
      .orderBy("user_id")
  }

  // Streaming dedup under the oracle: the doubled events table is replayed
  // as a real stream through dropDuplicatesWithinWatermark (state bounded
  // by the watermark, first occurrence wins) and must reproduce the
  // original table exactly — the streaming twin of D2's union-dedupe.
  private val x20 = Q("x20_stream_dedupe", Some(
    """SELECT event_id, ts, user_id, event_type, value
      |FROM events ORDER BY event_id""".stripMargin)) { (s, dir) =>
    val ev = Tables.events(s, dir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    EventStream.dedupeReplay(s, Combiner.concat(Seq(ev, ev)), Seq("event_id"))
      .select("event_id", "ts", "user_id", "event_type", "value")
      .orderBy("event_id")
  }

  // Embedding-cosine near-dup (the 5th dedup family from the brief):
  // cell-bucketed candidates (equi-join on label, never global all-pairs)
  // verified at exact cosine. Near-dups are planted as ×2-scaled copies —
  // scaling is exact in float math, so both engines see identical bits and
  // the planted pairs score cosine ≈ 1.0 deterministically.
  private val x19 = Q("x19_embedding_neardup", Some(
    """WITH cp AS (
      |  SELECT vec_id + 100000 AS vec_id, label,
      |    list_transform(embedding, x -> x * 2) AS embedding
      |  FROM embeddings WHERE vec_id < 50),
      |all_e AS (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |  UNION ALL
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM cp)
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  round(list_dot_product(a.v, b.v) /
      |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) AS cosine
      |FROM all_e a JOIN all_e b ON a.label = b.label AND a.vec_id < b.vec_id
      |WHERE list_dot_product(a.v, b.v) /
      |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.99
      |ORDER BY id_a, id_b""".stripMargin)) { (s, dir) =>
    val emb = t(s, dir, "embeddings").select("vec_id", "label", "embedding")
    val copies = emb.filter(col("vec_id") < 50)
      .select((col("vec_id") + 100000).as("vec_id"), col("label"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
    Similarity.embeddingNearDups(Combiner.concat(Seq(emb, copies)),
        "vec_id", "label", "embedding", threshold = 0.99)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
      .orderBy("id_a", "id_b")
  }

  // Z-order layout, hash-gated: lineitem is rewritten on a Morton curve
  // over (l_partkey, l_suppkey) — files cover compact z-ranges so range
  // filters on EITHER column skip files (ZOrderSpec measures that) — and
  // a filtered aggregate over the re-laid-out copy must equal the plain
  // table: layout must lose/alter nothing.
  private val x21 = Q("x21_zorder_layout", Some(
    """SELECT l_suppkey, count(*) AS n_rows,
      |  round(sum(l_quantity), 2) AS total_qty
      |FROM lineitem
      |WHERE l_partkey BETWEEN 10 AND 150 AND l_suppkey BETWEEN 1 AND 8
      |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin)) { (s, dir) =>
    val li = t(s, dir, "lineitem")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    val out = java.nio.file.Files.createTempDirectory("graft_zorder")
      .resolve("li").toString
    graft.operators.ZOrder.writeZOrdered(li, Seq("l_partkey", "l_suppkey"), 16, out)
    s.read.parquet(out)
      .filter(col("l_partkey").between(10, 150) && col("l_suppkey").between(1, 8))
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("n_rows"), round(sum(col("l_quantity")), 2).as("total_qty"))
      .orderBy("l_suppkey")
  }

  // Bloom-pruned join, hash-gated: lineitem joins a small high-balance
  // supplier subset; the fact side is bloom-pruned before the join (no
  // false negatives), so the result must equal the plain join — the
  // explicit form of the runtime filters big engines inject.
  private val x22 = Q("x22_bloom_pruned_join", Some(
    """WITH s AS (SELECT s_suppkey, s_acctbal FROM supplier WHERE s_acctbal > 5000)
      |SELECT l.l_suppkey, count(*) AS n_rows,
      |  round(sum(l.l_extendedprice), 2) AS total_price
      |FROM lineitem l JOIN s ON l.l_suppkey = s.s_suppkey
      |GROUP BY l.l_suppkey ORDER BY l.l_suppkey""".stripMargin)) { (s, dir) =>
    val li = t(s, dir, "lineitem").select("l_suppkey", "l_extendedprice")
    val supp = t(s, dir, "supplier").filter(col("s_acctbal") > 5000)
      .select("s_suppkey", "s_acctbal")
      .withColumnRenamed("s_suppkey", "l_suppkey")
    graft.operators.BloomPrune.prunedJoin(li, supp, "l_suppkey")
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("l_extendedprice")), 2).as("total_price"))
      .orderBy("l_suppkey")
  }

  // Hive-partitioned layout, hash-gated: events rewritten partitioned by
  // event_type (one task per partition value — no small-file explosion),
  // read back with a partition filter that prunes whole directories
  // (PlanRegressionSpec asserts the PartitionFilters), aggregate must
  // equal the plain table.
  private val x23 = Q("x23_partitioned_layout", Some(
    """SELECT date_trunc('day', ts)::TIMESTAMP AS d, count(*) AS n_events,
      |  round(sum(value), 2) AS total_value
      |FROM events WHERE event_type = 'purchase'
      |GROUP BY 1 ORDER BY d""".stripMargin)) { (s, dir) =>
    val ev = Tables.events(s, dir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val out = java.nio.file.Files.createTempDirectory("graft_partlay")
      .resolve("events").toString
    graft.operators.PartitionLayout.writePartitioned(ev, Seq("event_type"), out)
    graft.operators.PartitionLayout.readPartitioned(s, out)
      .filter(col("event_type") === "purchase")
      .groupBy(date_trunc("day", col("ts")).as("d"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("total_value"))
      .orderBy("d")
  }

  // Multi-probe embedding near-dup: each vector is assigned to its 2
  // nearest centroids, so boundary-splitting pairs still share a probed
  // cell. The oracle replays centroids, top-2 assignment, candidate join
  // and verify step-for-step. Planted ×2-scaled copies score identical
  // cell rankings (scaling is exact), so the output is the planted pairs
  // on both engines regardless of ulp-level centroid differences.
  private val x24 = Q("x24_embedding_multiprobe", Some(
    """WITH cp AS (
      |  SELECT vec_id + 100000 AS vec_id, label,
      |    list_transform(embedding, x -> x * 2) AS embedding
      |  FROM embeddings WHERE vec_id < 50),
      |e AS (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |  UNION ALL
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM cp),
      |cent AS (
      |  SELECT label AS cell, r.i, avg(v[r.i]) AS cv
      |  FROM e CROSS JOIN range(1, 65) r(i) GROUP BY 1, 2),
      |cnorm AS (SELECT cell, sqrt(sum(cv * cv)) AS cn FROM cent GROUP BY cell),
      |score AS (
      |  SELECT e.vec_id, c.cell, sum(c.cv * e.v[c.i]) AS dp,
      |    any_value(sqrt(list_dot_product(e.v, e.v))) AS vn
      |  FROM e CROSS JOIN cent c GROUP BY e.vec_id, c.cell),
      |assigned AS (
      |  SELECT s.vec_id, s.cell FROM score s JOIN cnorm cn ON s.cell = cn.cell
      |  QUALIFY row_number() OVER (PARTITION BY s.vec_id
      |    ORDER BY s.dp / (cn.cn * s.vn) DESC, s.cell) <= 2),
      |cand AS (
      |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      |  FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id)
      |SELECT id_a, id_b, round(cos, 4) AS cosine FROM (
      |  SELECT cand.id_a, cand.id_b,
      |    list_dot_product(x.v, y.v) /
      |      (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) AS cos
      |  FROM cand JOIN e x ON cand.id_a = x.vec_id JOIN e y ON cand.id_b = y.vec_id)
      |WHERE cos >= 0.99 ORDER BY id_a, id_b""".stripMargin)) { (s, dir) =>
    val emb = t(s, dir, "embeddings").select("vec_id", "label", "embedding")
    val copies = emb.filter(col("vec_id") < 50)
      .select((col("vec_id") + 100000).as("vec_id"), col("label"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
    Similarity.embeddingNearDupsMultiProbe(Combiner.concat(Seq(emb, copies)),
        "vec_id", "label", "embedding", threshold = 0.99, probes = 2)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
      .orderBy("id_a", "id_b")
  }

  // IVF with 2 Lloyd refinement rounds: labels seed the cells, k-means
  // tightens them, the probe runs against the REFINED centroids. The
  // oracle replays both iterations (centroid → nearest-centroid
  // reassignment with the same tie-break) and the probe+search
  // step-for-step.
  private val x25 = Q("x25_ivf_kmeans", Some {
    def cents(assign: String, name: String) =
      s"""$name AS (
         |  SELECT a.cell, r.i, avg(e.v[r.i]) AS cv
         |  FROM $assign a JOIN e USING (vec_id) CROSS JOIN range(1, 65) r(i)
         |  GROUP BY 1, 2),
         |${name}n AS (SELECT cell, sqrt(sum(cv * cv)) AS cn FROM $name GROUP BY cell)""".stripMargin
    def reassign(cent: String, name: String) =
      s"""${name}s AS (
         |  SELECT e.vec_id, c.cell, sum(c.cv * e.v[c.i]) AS dp,
         |    any_value(sqrt(list_dot_product(e.v, e.v))) AS vn
         |  FROM e CROSS JOIN $cent c GROUP BY 1, 2),
         |$name AS (
         |  SELECT s.vec_id, s.cell FROM ${name}s s JOIN ${cent}n cn ON s.cell = cn.cell
         |  QUALIFY row_number() OVER (PARTITION BY s.vec_id
         |    ORDER BY s.dp / (cn.cn * s.vn) DESC, s.cell) = 1)""".stripMargin
    s"""WITH e AS (
       |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |a0 AS (SELECT vec_id, label AS cell FROM e),
       |${cents("a0", "c1")},
       |${reassign("c1", "a1")},
       |${cents("a1", "c2")},
       |${reassign("c2", "a2")},
       |${cents("a2", "c3")},
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |probe AS (
       |  SELECT c.cell FROM c3 c JOIN c3n cn ON c.cell = cn.cell, q
       |  GROUP BY c.cell, cn.cn
       |  ORDER BY sum(c.cv * q.qv[c.i]) /
       |    (cn.cn * (SELECT sqrt(list_dot_product(qv, qv)) FROM q)) DESC, c.cell
       |  LIMIT 3)
       |SELECT e.vec_id,
       |  round(list_dot_product(e.v, q.qv) /
       |    (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))), 4) AS cosine
       |FROM e JOIN a2 ON e.vec_id = a2.vec_id, q
       |WHERE a2.cell IN (SELECT cell FROM probe)
       |ORDER BY list_dot_product(e.v, q.qv) /
       |  (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))) DESC, e.vec_id
       |LIMIT 10""".stripMargin
  }) { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    val cells = Similarity.refineCells(emb, "vec_id", "label", "embedding", 2)
      .withColumnRenamed("id", "vec_id")
    val data2 = emb.select("vec_id", "embedding").join(cells, "vec_id")
    Similarity.ivfTopK(data2, "vec_id", "cell", "embedding",
        emb.filter(col("vec_id") === 0), 10, 3)
      .select(col("vec_id"), round(col("cosine"), 4).as("cosine"))
  }

  // SimHash near-dup pairs: byte-banded buckets (pigeonhole: hamming ≤ 3
  // guarantees a shared byte), hamming verify — completes the simhash
  // story from signature (x3) to dedup decision. Oracle replays banding
  // and verify over every row; the Spark side's pre-pass provably matches.
  private val x26 = Q("x26_simhash_neardups", Some {
    val bitSums = (0 until 32).map(j =>
      s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b$j").mkString(", ")
    val value = (0 until 32).map(j =>
      s"CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, ${duckHash(0, "u.tok")} AS h
       |  FROM (SELECT doc_id,
       |          list_filter(string_split_regex(regexp_replace(lower(text),
       |            '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '') AS ws
       |        FROM documents), unnest(ws) AS u(tok)),
       |bits AS (SELECT doc_id, $bitSums FROM toks GROUP BY doc_id),
       |sig AS (SELECT doc_id, CAST($value AS BIGINT) AS sh FROM bits),
       |bands AS (
       |  SELECT doc_id, b.i AS band, (sh >> CAST(b.i * 8 AS INT)) & 255 AS bv
       |  FROM sig CROSS JOIN range(0, 4) b(i)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b, CAST(bit_count(xor(x.sh, y.sh)) AS INT) AS hamming
       |FROM cand JOIN sig x ON cand.id_a = x.doc_id
       |          JOIN sig y ON cand.id_b = y.doc_id
       |WHERE bit_count(xor(x.sh, y.sh)) <= 3
       |ORDER BY id_a, id_b""".stripMargin
  }) { (s, dir) =>
    Dedup.simhashNearDups(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("id_a", "id_b")
  }

  // Corpus vocabulary stats: top-50 terms with counts + document frequency.
  // One explode + one partial-aggregated groupBy; top-k via the usual
  // TakeOrderedAndProject (count desc, term tiebreak).
  private val x27 = Q("x27_vocab_topk", Some(
    """WITH w AS (
      |  SELECT doc_id, u.tok FROM (
      |    SELECT doc_id,
      |      list_filter(string_split_regex(regexp_replace(lower(text),
      |        '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '') AS ws
      |    FROM documents), unnest(ws) AS u(tok))
      |SELECT tok, count(*) AS n_occurrences,
      |  count(DISTINCT doc_id) AS n_docs
      |FROM w GROUP BY tok
      |ORDER BY n_occurrences DESC, tok LIMIT 50""".stripMargin)) { (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"), explode(Dedup.words(col("text"))).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("n_occurrences"),
        count_distinct(col("doc_id")).as("n_docs"))
      .orderBy(desc("n_occurrences"), col("tok"))
      .limit(50)
  }

  // TF-IDF keywords: top-3 terms per document (raw tf × ln(N/df), rank
  // with deterministic tie-breaks). Two aggregates + a broadcast-joined
  // doc-frequency table + one per-doc window; every arithmetic step is
  // the same IEEE op sequence on both engines.
  private val x28 = Q("x28_tfidf_keywords", Some(
    """WITH w AS (
      |  SELECT doc_id, u.tok FROM (
      |    SELECT doc_id,
      |      list_filter(string_split_regex(regexp_replace(lower(text),
      |        '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '') AS ws
      |    FROM documents WHERE doc_id < 100), unnest(ws) AS u(tok)),
      |tf AS (SELECT doc_id, tok, count(*) AS tf FROM w GROUP BY 1, 2),
      |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM w GROUP BY tok),
      |n AS (SELECT count(DISTINCT doc_id) AS n FROM w),
      |scored AS (
      |  SELECT tf.doc_id, tf.tok,
      |    tf.tf * ln(n.n::DOUBLE / df.df) AS score
      |  FROM tf JOIN df USING (tok), n)
      |SELECT doc_id, tok, round(score, 4) AS score,
      |  CAST(rank AS INT) AS rank
      |FROM (SELECT doc_id, tok, score,
      |        row_number() OVER (PARTITION BY doc_id
      |          ORDER BY score DESC, tok) AS rank
      |      FROM scored)
      |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin)) { (s, dir) =>
    val w = t(s, dir, "documents").filter(col("doc_id") < 100)
      .select(col("doc_id"), explode(Dedup.words(col("text"))).as("tok"))
    val tf = w.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dfreq = w.groupBy("tok").agg(count_distinct(col("doc_id")).as("df"))
    val n = w.agg(count_distinct(col("doc_id")).as("n"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(desc("score"), col("tok"))
    tf.join(broadcast(dfreq), "tok").crossJoin(broadcast(n))
      .select(col("doc_id"), col("tok"),
        (col("tf") * log(col("n").cast("double") / col("df"))).as("score"))
      .withColumn("rank", row_number().over(win))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("tok"), round(col("score"), 4).as("score"),
        col("rank"))
      .orderBy("doc_id", "rank")
  }

  // Near-dup pairs → dedup groups: connected components by 2 rounds of
  // min-label propagation over the LSH pair graph (near-dup clusters are
  // near-cliques, diameter ≤ 2). The oracle replays the pair pipeline AND
  // both propagation rounds, so every cluster assignment is hash-checked.
  /** The full MinHash-LSH → Jaccard-verify → 2-round min-label CC chain as a
    * DuckDB WITH body ending at `l2(node, lab)` — the oracle twin of
    * [[Shared.neardupComponents]], shared by x29 and x109. */
  private val COMPONENTS_CTE: String = {
    val hashes = (0 until 8).map(i =>
      s"min((ha + $i * hb) % 4294967296) AS h$i").mkString(", ")
    val bandKeys = (0 until 4).map(b =>
      s"(${b}, h${2 * b}::VARCHAR || '_' || h${2 * b + 1}::VARCHAR)").mkString(", ")
    def prop(prev: String, name: String) =
      s"""$name AS (
         |  SELECT node, min(lab) AS lab FROM (
         |    SELECT node, lab FROM $prev
         |    UNION ALL
         |    SELECT e.u AS node, l.lab FROM und e JOIN $prev l ON e.v = l.node)
         |  GROUP BY node)""".stripMargin
    s"""$SETS_CTE,
       |expl AS (
       |  SELECT doc_id,
       |    ('0x' || substring(md5(u.sh), 1, 8))::BIGINT AS ha,
       |    ('0x' || substring(md5(u.sh), 9, 8))::BIGINT AS hb
       |  FROM sets, unnest(shs) AS u(sh)),
       |sig AS (SELECT doc_id, $hashes FROM expl GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, u.b[1]::INT AS band, u.b[2] AS bkey
       |  FROM sig, unnest([$bandKeys]) AS u(b)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |prs AS (
       |  SELECT id_a, id_b
       |  FROM cand JOIN sets x ON cand.id_a = x.doc_id
       |            JOIN sets y ON cand.id_b = y.doc_id
       |  WHERE len(list_intersect(x.shs, y.shs))::DOUBLE /
       |      (len(x.shs) + len(y.shs) - len(list_intersect(x.shs, y.shs))) >= 0.8),
       |und AS (SELECT id_a AS u, id_b AS v FROM prs
       |        UNION ALL SELECT id_b AS u, id_a AS v FROM prs),
       |l0 AS (SELECT DISTINCT u AS node, u AS lab FROM und),
       |${prop("l0", "l1")},
       |${prop("l1", "l2")}""".stripMargin
  }

  private val x29 = Q("x29_neardup_components", Some(
    s"""WITH $COMPONENTS_CTE
       |SELECT node AS doc_id, CAST(lab AS BIGINT) AS component
       |FROM l2 ORDER BY doc_id""".stripMargin)) { (s, dir) =>
    // the LSH → verify → components chain is shared with x85 (one persisted
    // frame per session+dir) — see queries.Shared
    Shared.neardupComponents(s, dir)
      .select(col("node").as("doc_id"), col("component"))
      .orderBy("doc_id")
  }

  // Canonical-doc selection per near-dup cluster — the KEEP side of dedup
  // (detection alone only finds the clusters; a pipeline must then choose
  // ONE survivor each). Survivor = argmax n_chars, ties to the smaller
  // doc_id, computed as one max(struct) hash aggregate over the shared
  // components frame — no per-cluster window, no second LSH pass. The
  // oracle replays the full LSH → verify → CC chain and the argmax.
  private val x109 = Q("x109_dedup_canonical", Some(
    s"""WITH $COMPONENTS_CTE,
       |j AS (
       |  SELECT l2.lab AS component, d.doc_id, d.n_chars
       |  FROM l2 JOIN documents d ON l2.node = d.doc_id)
       |SELECT CAST(component AS BIGINT) AS component,
       |  doc_id AS canonical_doc,
       |  CAST(n_chars AS BIGINT) AS canonical_chars,
       |  CAST(n_members AS BIGINT) AS n_members
       |FROM (SELECT component, doc_id, n_chars,
       |        row_number() OVER (PARTITION BY component
       |          ORDER BY n_chars DESC, doc_id) AS rk,
       |        count(*) OVER (PARTITION BY component) AS n_members
       |      FROM j)
       |WHERE rk = 1 ORDER BY component""".stripMargin)) { (s, dir) =>
    val comps = Shared.neardupComponents(s, dir)
    val docs = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
    comps.join(docs, comps("node") === docs("doc_id"))
      .groupBy(col("component"))
      // argmax(n_chars, then smaller doc_id) as a plain aggregate: struct
      // max orders lexicographically, and negating the id flips its tie
      .agg(max(struct(col("n_chars"), (-col("doc_id")).as("neg"))).as("m"),
        count(lit(1)).as("n_members"))
      .select(col("component").cast("long").as("component"),
        (-col("m.neg")).as("canonical_doc"),
        col("m.n_chars").cast("long").as("canonical_chars"),
        col("n_members"))
      .orderBy("component")
  }

  // Dedup-AWARE seeded sampling — sample uniformly over CONTENT, not over
  // copies: every document joins its near-dup cluster (singletons stand
  // alone), and ONE member per cluster is chosen uniformly at random by
  // seeded-hash argmin — deterministic, replayable, and immune to the
  // "popular pages get sampled 40×" bias of row-uniform sampling. The
  // keep-side complement to x109's quality-canonical selection.
  private val x148 = Q("x148_dedup_aware_sample", Some(
    s"""WITH $COMPONENTS_CTE,
       |lab AS (
       |  SELECT d.doc_id, coalesce(l2.lab, d.doc_id) AS cluster
       |  FROM documents d LEFT JOIN l2 ON l2.node = d.doc_id),
       |r AS (
       |  SELECT cluster, doc_id,
       |    md5('r5' || CAST(doc_id AS VARCHAR)) AS h
       |  FROM lab),
       |sel AS (
       |  SELECT cluster, doc_id,
       |    row_number() OVER (PARTITION BY cluster ORDER BY h, doc_id) AS rk,
       |    count(*) OVER (PARTITION BY cluster) AS nm
       |  FROM r)
       |SELECT CAST(cluster AS BIGINT) AS cluster, doc_id AS sampled_doc,
       |  CAST(nm AS BIGINT) AS n_members
       |FROM sel WHERE rk = 1 ORDER BY cluster""".stripMargin)) { (s, dir) =>
    val comps = Shared.neardupComponents(s, dir)
    val docs = t(s, dir, "documents").select(col("doc_id"))
    docs.join(comps, docs("doc_id") === comps("node"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("cluster"),
        md5(concat(lit("r5"), col("doc_id").cast("string"))).as("h"))
      .groupBy("cluster")
      .agg(min(struct(col("h"), col("doc_id"))).as("m"),
        count(lit(1)).as("n_members"))
      .select(col("cluster").cast("long").as("cluster"),
        col("m.doc_id").as("sampled_doc"), col("n_members"))
      .orderBy("cluster")
  }

  // Stream-stream interval join under the oracle: clicks and purchases
  // replayed as two real watermarked streams in lockstep; with an ordered
  // feed nothing is late, so the streamed attribution must equal the plain
  // batch interval join.
  private val x30 = Q("x30_stream_attribution", Some(
    """SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
      |FROM events p JOIN events c
      |  ON p.user_id = c.user_id
      | AND c.ts BETWEEN p.ts - INTERVAL 2 HOUR AND p.ts
      |WHERE p.event_type = 'purchase' AND c.event_type = 'click'
      |ORDER BY purchase_id, click_id""".stripMargin)) { (s, dir) =>
    EventStream.attributionReplay(s, Tables.events(s, dir), withinSeconds = 7200, batches = 2)
      .orderBy("purchase_id", "click_id")
  }

  // LEFT OUTER stream-stream join — a different state machine from x30's
  // inner: an unmatched purchase is held in state and emitted with NULL
  // click columns only once the WATERMARK proves no matching click can
  // still arrive (the replay drains via reserved-user sentinel advances).
  // Gated against the batch left join, null sort order pinned.
  private val x132 = Q("x132_outer_attribution", Some(
    """SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
      |FROM events p LEFT JOIN events c
      |  ON c.event_type = 'click' AND p.user_id = c.user_id
      | AND c.ts BETWEEN p.ts - INTERVAL 2 HOUR AND p.ts
      |WHERE p.event_type = 'purchase'
      |ORDER BY purchase_id, click_id NULLS FIRST""".stripMargin)) { (s, dir) =>
    EventStream.attributionReplay(s, Tables.events(s, dir),
        withinSeconds = 7200, batches = 2, joinType = "left_outer")
      .orderBy(col("purchase_id"), col("click_id").asc_nulls_first)
  }

  // Stream-static enrichment: events replayed as a real stream, each
  // micro-batch joined against the BROADCAST customer dim (stateless — no
  // watermark/state store); streamed result must equal the batch join.
  // Completes the streaming join matrix: windowed agg, sessionization,
  // dedup, stream-stream interval, stream-static broadcast.
  private val x42 = Q("x42_stream_enrich", Some(
    """SELECT e.event_id, e.user_id, c.c_mktsegment
      |FROM events e JOIN customer c ON c.c_custkey = e.user_id + 1
      |ORDER BY e.event_id""".stripMargin)) { (s, dir) =>
    EventStream.enrichReplay(s, Tables.events(s, dir),
        t(s, dir, "customer").select("c_custkey", "c_mktsegment"))
      .orderBy("event_id")
  }

  // Small-file compaction, content-gated: events written as 64 shards,
  // compacted to a handful of bin-packed files, and the aggregate over the
  // compacted copy must equal the plain table — compaction may change
  // layout, never content.
  private val x31 = Q("x31_compaction", Some(
    """SELECT event_type, count(*) AS n_events, count(DISTINCT user_id) AS n_users,
      |  round(sum(value), 2) AS total_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)) { (s, dir) =>
    val out = java.nio.file.Files.createTempDirectory("graft_compact")
      .resolve("events").toString
    LocalWrites.write(Tables.events(s, dir)
        .select("event_id", "ts", "user_id", "event_type", "value").repartition(64))
      .mode("overwrite").parquet(out)
    val (before, after) = graft.operators.Compaction.compact(s, out,
      targetFileBytes = 8L * 1024 * 1024)
    assert(after < before, s"compaction did not reduce files: $before -> $after")
    s.read.parquet(out)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), count_distinct(col("user_id")).as("n_users"),
        round(sum(col("value")), 2).as("total_value"))
      .orderBy("event_type")
  }

  // PageRank over the part↔supplier co-purchase graph (symmetrized, 3
  // damped iterations): which parts/suppliers sit at the center of the
  // supply network. The oracle unrolls all three iterations with the SAME
  // decimal-quantized contribution sums and floor-requantized ranks, so
  // every iteration's fixed point is hash-checked, not just the last.
  private val x55 = Q("x55_pagerank", Some(
    """WITH e0 AS (
      |  SELECT DISTINCT 'p' || l_partkey::VARCHAR AS src,
      |    's' || l_suppkey::VARCHAR AS dst
      |  FROM lineitem),
      |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
      |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
      |n AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM deg),
      |r0 AS (SELECT d.src AS node,
      |         floor(CAST(1 AS DOUBLE) / n.nn * 1e10 + 0.5) / 1e10 AS pr
      |       FROM deg d, n),
      |r1 AS (SELECT e.dst AS node,
      |         floor(((CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / max(n.nn)
      |           + CAST(0.85 AS DOUBLE) * CAST(sum(CAST(r.pr / d.deg AS DECIMAL(28,14))) AS DOUBLE)) * 1e10 + 0.5) / 1e10 AS pr
      |       FROM e JOIN r0 r ON r.node = e.src
      |       JOIN deg d ON d.src = e.src, n
      |       GROUP BY e.dst),
      |r2 AS (SELECT e.dst AS node,
      |         floor(((CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / max(n.nn)
      |           + CAST(0.85 AS DOUBLE) * CAST(sum(CAST(r.pr / d.deg AS DECIMAL(28,14))) AS DOUBLE)) * 1e10 + 0.5) / 1e10 AS pr
      |       FROM e JOIN r1 r ON r.node = e.src
      |       JOIN deg d ON d.src = e.src, n
      |       GROUP BY e.dst),
      |r3 AS (SELECT e.dst AS node,
      |         floor(((CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / max(n.nn)
      |           + CAST(0.85 AS DOUBLE) * CAST(sum(CAST(r.pr / d.deg AS DECIMAL(28,14))) AS DOUBLE)) * 1e10 + 0.5) / 1e10 AS pr
      |       FROM e JOIN r2 r ON r.node = e.src
      |       JOIN deg d ON d.src = e.src, n
      |       GROUP BY e.dst)
      |SELECT node, pr FROM r3 ORDER BY pr DESC, node LIMIT 30""".stripMargin)) { (s, dir) =>
    val e = t(s, dir, "lineitem").select(
      concat(lit("p"), col("l_partkey").cast("string")).as("src"),
      concat(lit("s"), col("l_suppkey").cast("string")).as("dst")).distinct()
    Graph.pageRank(e, "src", "dst", iters = 3)
      .select(col("node"), col("rank").as("pr"))
      .orderBy(desc("pr"), col("node"))
      .limit(30)
  }

  // Katz centrality (path-counting influence, no degree normalization)
  // over the part–supplier graph — pageRank's sibling with the same
  // engine-parity discipline: 1e-10-grid scores per iteration,
  // DECIMAL(28,14)-quantized contributions, id-tiebroken top-k. The
  // oracle unrolls all 4 iterations.
  private val x231 = Q("x231_katz_centrality", Some {
    val steps = (1 to 4).map { t =>
      s"""k$t AS (
         |  SELECT e.dst AS node,
         |    floor((CAST(1.0 AS DOUBLE) + CAST(0.1 AS DOUBLE)
         |      * CAST(sum(CAST(k.k AS DECIMAL(28,14))) AS DOUBLE)) * 1e10
         |      + 0.5) / 1e10 AS k
         |  FROM e JOIN k${t - 1} k ON k.node = e.src
         |  GROUP BY e.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (
       |  SELECT DISTINCT 'p' || l_partkey::VARCHAR AS src,
       |    's' || l_suppkey::VARCHAR AS dst
       |  FROM lineitem),
       |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
       |k0 AS (SELECT DISTINCT src AS node,
       |         floor(CAST(1.0 AS DOUBLE) * 1e10 + 0.5) / 1e10 AS k
       |       FROM e),
       |$steps
       |SELECT node, k AS katz FROM k4
       |ORDER BY katz DESC, node LIMIT 30""".stripMargin
  }) { (s, dir) =>
    val e = t(s, dir, "lineitem").select(
      concat(lit("p"), col("l_partkey").cast("string")).as("src"),
      concat(lit("s"), col("l_suppkey").cast("string")).as("dst")).distinct()
    Graph.katzCentrality(e, "src", "dst", iters = 4)
      .orderBy(desc("katz"), col("node"))
      .limit(30)
  }

  // Local clustering coefficient over the x71 co-occurrence graph: how
  // much of each user's neighborhood is itself connected — exact-integer
  // triangle/degree arithmetic, one double division, degree<2 rows
  // excluded (cc undefined). The oracle replays the capped graph, the
  // ordered triangle join, degrees, and the ratio.
  private val x232 = Q("x232_clustering_coeff", Some(
    """WITH bkt AS (
      |  SELECT DISTINCT event_type, date_trunc('hour', ts) AS h, user_id
      |  FROM events),
      |capped AS (
      |  SELECT event_type, h FROM bkt GROUP BY event_type, h
      |  HAVING count(*) <= 10),
      |inb AS (SELECT b.* FROM bkt b JOIN capped c
      |        ON b.event_type = c.event_type AND b.h = c.h),
      |e AS (
      |  SELECT DISTINCT least(x.user_id, y.user_id) AS a,
      |    greatest(x.user_id, y.user_id) AS b
      |  FROM inb x JOIN inb y
      |    ON x.event_type = y.event_type AND x.h = y.h
      |   AND x.user_id < y.user_id),
      |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS degree
      |        FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
      |        GROUP BY node),
      |tri AS (
      |  SELECT e1.a, e1.b, e2.b AS c
      |  FROM e e1 JOIN e e2 ON e2.a = e1.b
      |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      |tn AS (SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
      |       FROM (SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
      |             UNION ALL SELECT c FROM tri)
      |       GROUP BY node)
      |SELECT d.node, d.degree, coalesce(tn.n_triangles, 0) AS n_triangles,
      |  round(2.0 * CAST(coalesce(tn.n_triangles, 0) AS DOUBLE)
      |    / (CAST(d.degree AS DOUBLE) * (CAST(d.degree AS DOUBLE) - 1.0)),
      |    6) AS cc
      |FROM deg d LEFT JOIN tn USING (node)
      |WHERE d.degree >= 2
      |ORDER BY cc DESC, node LIMIT 20""".stripMargin)) { (s, dir) =>
    val ev = Tables.events(s, dir)
      .select(col("event_type"), date_trunc("HOUR", col("ts")).as("h"),
        col("user_id"))
      .distinct()
    val capped = ev.groupBy("event_type", "h")
      .agg(count(lit(1)).as("__n")).filter(col("__n") <= 10)
      .select("event_type", "h")
    val inb = ev.join(capped, Seq("event_type", "h"))
    val edges = inb.alias("x")
      .join(inb.alias("y"),
        col("x.event_type") === col("y.event_type") &&
          col("x.h") === col("y.h") &&
          col("x.user_id") < col("y.user_id"))
      .select(col("x.user_id").as("src"), col("y.user_id").as("dst"))
    Graph.clusteringCoefficient(edges, "src", "dst")
      .filter(col("degree") >= 2)
      .orderBy(desc("cc"), col("node"))
      .limit(20)
  }

  // Audio modality for real: every doc becomes a genuine RIFF/WAVE payload
  // (PCM16 mono, deterministic synth), decoded back by walking the actual
  // container bytes — rate/duration from the header, RMS from the PCM
  // samples. The oracle predicts every field from the generation contract
  // (the x8 pattern) INCLUDING the exact integer sum of squares.
  private val x58 = Q("x58_audio_decode", Some(
    """WITH d AS (SELECT doc_id, length(text) AS len FROM documents),
      |p AS (SELECT doc_id, 8000 + (len % 3) * 4000 AS sample_rate,
      |        len * 20 + 100 AS n_samples FROM d),
      |sq AS (
      |  SELECT p.doc_id,
      |    CAST(sum(((u.i * 73 + p.doc_id * 7919) % 4096 - 2048)
      |           * ((u.i * 73 + p.doc_id * 7919) % 4096 - 2048)) AS BIGINT) AS sum_sq
      |  FROM p, unnest(range(0, p.n_samples)) AS u(i)
      |  GROUP BY p.doc_id)
      |SELECT p.doc_id, CAST(p.sample_rate AS INT) AS sample_rate,
      |  CAST(p.n_samples AS BIGINT) AS n_samples,
      |  CAST(p.n_samples * 1000 // p.sample_rate AS BIGINT) AS duration_ms,
      |  floor(sqrt(CAST(sq.sum_sq AS DOUBLE) / CAST(p.n_samples AS DOUBLE))
      |    * 10000 + 0.5) / 10000 AS rms,
      |  true AS decoded
      |FROM p JOIN sq ON p.doc_id = sq.doc_id
      |ORDER BY p.doc_id""".stripMargin)) { (s, dir) =>
    Multimodal.decodeWavFeatures(
        Multimodal.asWavMedia(t(s, dir, "documents"), "doc_id", "text"))
      .select(col("doc_id"), col("sample_rate"), col("n_samples"),
        col("duration_ms"),
        (floor(sqrt(col("sum_sq").cast("double") / col("n_samples").cast("double"))
          * lit(10000) + lit(0.5)) / lit(10000)).as("rms"),
        col("decoded"))
      .orderBy("doc_id")
  }

  // Streaming materialized view: events replayed through a foreachBatch
  // sink that merges per-batch Incremental aggregate states; the final
  // state must equal the DIRECT aggregate over all events (the oracle) —
  // merge==recompute proven on the streaming path, not just batch halves.
  private val x61 = Q("x61_stream_incremental", Some(
    """SELECT event_type, count(*) AS n_rows,
      |  round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)) { (s, dir) =>
    EventStream.incrementalAggReplay(s, Tables.events(s, dir))
      .select(col("event_type"), col("n_rows"),
        round(col("sum_value").cast("double"), 2).as("sum_value"))
      .orderBy("event_type")
  }

  // Cross-corpus FUZZY decontamination: LSH near-dup join between the
  // corpus and a synthetic "benchmark" built from every 11th doc with one
  // appended token (guaranteed near-dups, J = n/(n+1) on the shingle
  // sets). The oracle replays BOTH sides' signatures, the cross band join,
  // and the verify — candidate generation is checked step-for-step.
  private val x64 = Q("x64_fuzzy_decontamination", Some {
    val hashes = (0 until 8).map(i =>
      s"min((ha + $i * hb) % 4294967296) AS h$i").mkString(", ")
    val bandKeys = (0 until 4).map(b =>
      s"(${b}, h${2 * b}::VARCHAR || '_' || h${2 * b + 1}::VARCHAR)").mkString(", ")
    def sets(src: String, name: String) =
      s"""$name AS (
         |  SELECT doc_id, list_distinct(list_transform(range(1, len(ws)-1),
         |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shs
         |  FROM (SELECT doc_id,
         |          list_filter(string_split_regex(regexp_replace(lower(text),
         |            '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '') AS ws
         |        FROM $src))"""
    def pipe(setsName: String, p: String) =
      s"""expl$p AS (
         |  SELECT doc_id,
         |    ('0x' || substring(md5(u.sh), 1, 8))::BIGINT AS ha,
         |    ('0x' || substring(md5(u.sh), 9, 8))::BIGINT AS hb
         |  FROM $setsName, unnest(shs) AS u(sh)),
         |sig$p AS (SELECT doc_id, $hashes FROM expl$p GROUP BY doc_id),
         |bands$p AS (
         |  SELECT doc_id, u.b[1]::INT AS band, u.b[2] AS bkey
         |  FROM sig$p, unnest([$bandKeys]) AS u(b))"""
    s"""WITH bench0 AS (
       |  SELECT doc_id + 1000000 AS doc_id, text || ' extrabenchtoken' AS text
       |  FROM documents WHERE doc_id % 11 = 0),
       |${sets("documents", "setsT")},
       |${sets("bench0", "setsB")},
       |${pipe("setsT", "T")},
       |${pipe("setsB", "B")},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bandsT a JOIN bandsB b ON a.band = b.band AND a.bkey = b.bkey)
       |SELECT id_a, id_b,
       |  round(len(list_intersect(x.shs, y.shs))::DOUBLE /
       |    (len(x.shs) + len(y.shs) - len(list_intersect(x.shs, y.shs))), 4) AS jaccard
       |FROM cand JOIN setsT x ON cand.id_a = x.doc_id
       |          JOIN setsB y ON cand.id_b = y.doc_id
       |WHERE len(list_intersect(x.shs, y.shs))::DOUBLE /
       |    (len(x.shs) + len(y.shs) - len(list_intersect(x.shs, y.shs))) >= 0.8
       |ORDER BY id_a, id_b""".stripMargin
  }) { (s, dir) =>
    val docs = t(s, dir, "documents")
    val bench = docs.filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" extrabenchtoken")).as("text"))
    Dedup.minhashCrossDups(docs, bench, "doc_id", "text")
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy("id_a", "id_b")
  }

  // Scalar quantization of the embedding corpus (SQ8): per-dim min/max →
  // 256-level codes → reconstruction RMSE. The oracle replays the stats,
  // every code (checksum + full code string), and the decimal-quantized
  // error sum.
  private val x67 = Q("x67_embedding_quantize", Some(
    """WITH e AS (
      |  SELECT vec_id, u.i - 1 AS pos, CAST(embedding[u.i] AS DOUBLE) AS v
      |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)),
      |d AS (SELECT pos, min(v) AS lo, max(v) AS hi FROM e GROUP BY pos),
      |q AS (
      |  SELECT e.vec_id, e.pos, e.v, d.lo, d.hi,
      |    CASE WHEN d.hi = d.lo THEN 0
      |         ELSE CAST(least(floor((e.v - d.lo) / (d.hi - d.lo) * 256), 255) AS BIGINT)
      |    END AS qc
      |  FROM e JOIN d ON e.pos = d.pos),
      |r AS (SELECT vec_id, pos, qc, v,
      |        lo + (CAST(qc AS DOUBLE) + 0.5) * (hi - lo) / 256 AS deq
      |      FROM q),
      |s AS (
      |  SELECT vec_id,
      |    array_to_string(array_agg(qc ORDER BY pos), ',') AS codes,
      |    CAST(sum(qc * (pos + 1)) AS BIGINT) AS q_checksum,
      |    count(*) AS nd,
      |    sum(CAST((v - deq) * (v - deq) AS DECIMAL(20,18))) AS sse
      |  FROM r GROUP BY vec_id)
      |SELECT vec_id, codes, q_checksum,
      |  floor(sqrt(CAST(sse AS DOUBLE) / CAST(nd AS DOUBLE)) * 1e8 + 0.5) / 1e8 AS rmse
      |FROM s ORDER BY vec_id""".stripMargin)) { (s, dir) =>
    Similarity.scalarQuantize(t(s, dir, "embeddings"), "vec_id", "embedding")
      .orderBy("vec_id")
  }

  // ANN recall@10: IVF(nprobe=3) scored against exact brute force — the
  // eval that decides whether an index config ships. The oracle replays
  // BOTH retrieval pipelines and the same integer-bps recall.
  private val x69 = Q("x69_ann_recall", Some(
    """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
      |bf AS (
      |  SELECT vec_id FROM embeddings, q
      |  ORDER BY list_dot_product(CAST(embedding AS DOUBLE[]), q.qv) /
      |      (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) *
      |       sqrt(list_dot_product(q.qv, q.qv))) DESC, vec_id
      |  LIMIT 10),
      |cent AS (
      |  SELECT label, i, avg(embedding[i]::DOUBLE) AS cv
      |  FROM embeddings CROSS JOIN range(1, 65) AS r(i)
      |  GROUP BY label, i),
      |cscore AS (
      |  SELECT label,
      |    sum(cv * q.qv[i]) / (sqrt(sum(cv * cv)) * sqrt((SELECT list_dot_product(qv, qv) FROM q))) AS cs
      |  FROM cent, q GROUP BY label),
      |probe AS (SELECT label FROM cscore ORDER BY cs DESC, label LIMIT 3),
      |ivf AS (
      |  SELECT vec_id FROM embeddings, q
      |  WHERE label IN (SELECT label FROM probe)
      |  ORDER BY list_dot_product(CAST(embedding AS DOUBLE[]), q.qv) /
      |      (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) *
      |       sqrt(list_dot_product(q.qv, q.qv))) DESC, vec_id
      |  LIMIT 10)
      |SELECT (SELECT count(*) FROM bf) AS n_exact,
      |  (SELECT count(*) FROM ivf) AS n_approx,
      |  (SELECT count(*) FROM bf JOIN ivf USING (vec_id)) AS n_overlap,
      |  CAST((SELECT count(*) FROM bf JOIN ivf USING (vec_id)) * 10000
      |    // (SELECT count(*) FROM bf) AS BIGINT) AS recall_bps""".stripMargin)) { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    val query = emb.filter(col("vec_id") === 0)
    Similarity.recallAtK(
      Similarity.bruteForceTopK(emb, "vec_id", "embedding", query, 10),
      Similarity.ivfTopK(emb, "vec_id", "label", "embedding", query,
        k = 10, nprobe = 3),
      "vec_id")
  }

  // Per-node triangle counts over the user co-occurrence graph (same
  // event_type + hour bucket, bucket size capped at 10 — the hub-cap move
  // that keeps the pair explosion bounded). The oracle replays bucketing,
  // the cap, edge canonicalization, and the two-hop triangle join.
  private val x71 = Q("x71_triangle_counts", Some(
    """WITH bkt AS (
      |  SELECT DISTINCT event_type, date_trunc('hour', ts) AS h, user_id
      |  FROM events),
      |capped AS (
      |  SELECT event_type, h FROM bkt GROUP BY event_type, h
      |  HAVING count(*) <= 10),
      |inb AS (SELECT b.* FROM bkt b JOIN capped c
      |        ON b.event_type = c.event_type AND b.h = c.h),
      |e AS (
      |  SELECT DISTINCT least(x.user_id, y.user_id) AS a,
      |    greatest(x.user_id, y.user_id) AS b
      |  FROM inb x JOIN inb y
      |    ON x.event_type = y.event_type AND x.h = y.h
      |   AND x.user_id < y.user_id),
      |tri AS (
      |  SELECT e1.a, e1.b, e2.b AS c
      |  FROM e e1 JOIN e e2 ON e2.a = e1.b
      |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      |nodes AS (
      |  SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
      |  UNION ALL SELECT c FROM tri)
      |SELECT node, count(*) AS n_triangles
      |FROM nodes GROUP BY node
      |ORDER BY n_triangles DESC, node LIMIT 20""".stripMargin)) { (s, dir) =>
    val ev = Tables.events(s, dir)
      .select(col("event_type"), date_trunc("HOUR", col("ts")).as("h"),
        col("user_id"))
      .distinct()
    val capped = ev.groupBy("event_type", "h")
      .agg(count(lit(1)).as("__n")).filter(col("__n") <= 10)
      .select("event_type", "h")
    val inb = ev.join(capped, Seq("event_type", "h"))
    val edges = inb.alias("x")
      .join(inb.alias("y"),
        col("x.event_type") === col("y.event_type") &&
          col("x.h") === col("y.h") &&
          col("x.user_id") < col("y.user_id"))
      .select(col("x.user_id").as("src"), col("y.user_id").as("dst"))
    Graph.triangleCounts(edges, "src", "dst")
      .orderBy(desc("n_triangles"), col("node"))
      .limit(20)
  }

  // Quantized ANN end-to-end (asymmetric distance): full-precision query
  // against the SQ8-RECONSTRUCTED corpus, recall@10 vs exact search — the
  // proof the compressed index path retrieves. The oracle replays
  // quantization, reconstruction, both searches, and the recall.
  private val x75 = Q("x75_quantized_ann", Some(
    """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
      |bf AS (
      |  SELECT vec_id FROM embeddings, q
      |  ORDER BY list_dot_product(CAST(embedding AS DOUBLE[]), q.qv) /
      |      (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) *
      |       sqrt(list_dot_product(q.qv, q.qv))) DESC, vec_id
      |  LIMIT 10),
      |e AS (
      |  SELECT vec_id, u.i - 1 AS pos, CAST(embedding[u.i] AS DOUBLE) AS v
      |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)),
      |d AS (SELECT pos, min(v) AS lo, max(v) AS hi FROM e GROUP BY pos),
      |r AS (
      |  SELECT e.vec_id, e.pos,
      |    d.lo + (CAST(CASE WHEN d.hi = d.lo THEN 0
      |      ELSE CAST(least(floor((e.v - d.lo) / (d.hi - d.lo) * 256), 255) AS BIGINT)
      |      END AS DOUBLE) + 0.5) * (d.hi - d.lo) / 256 AS deq
      |  FROM e JOIN d ON e.pos = d.pos),
      |vecs AS (SELECT vec_id, array_agg(deq ORDER BY pos) AS qvec
      |         FROM r GROUP BY vec_id),
      |ann AS (
      |  SELECT vec_id FROM vecs, q
      |  ORDER BY list_dot_product(qvec, q.qv) /
      |      (sqrt(list_dot_product(qvec, qvec)) * sqrt(list_dot_product(q.qv, q.qv)))
      |    DESC, vec_id
      |  LIMIT 10)
      |SELECT (SELECT count(*) FROM bf) AS n_exact,
      |  (SELECT count(*) FROM ann) AS n_approx,
      |  (SELECT count(*) FROM bf JOIN ann USING (vec_id)) AS n_overlap,
      |  CAST((SELECT count(*) FROM bf JOIN ann USING (vec_id)) * 10000
      |    // (SELECT count(*) FROM bf) AS BIGINT) AS recall_bps""".stripMargin)) { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    val query = emb.filter(col("vec_id") === 0)
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", query, 10)
    val approx = Similarity.bruteForceTopK(
      Similarity.dequantizedVectors(emb, "vec_id", "embedding"),
      "vec_id", "qvec", query.select(col("embedding").as("qvec")), 10)
    Similarity.recallAtK(exact, approx, "vec_id")
  }

  // Incremental-ingest dedup: a batch (new docs + re-keyed copies of
  // history docs) deduped against history via bloom-split + exact anti
  // confirm, then min-id within the batch. The bloom is semantically
  // transparent (x22's property), so the oracle is the exact NOT EXISTS +
  // group-min replay.
  private val x76 = Q("x76_incremental_dedup", Some(
    """WITH hist AS (SELECT text FROM documents WHERE doc_id % 3 <> 0),
      |batch AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
      |  UNION ALL
      |  SELECT doc_id + 500000 AS doc_id, text FROM documents
      |  WHERE doc_id % 7 = 0),
      |surv AS (
      |  SELECT b.doc_id, md5(b.text) AS text_hash FROM batch b
      |  WHERE NOT EXISTS (SELECT 1 FROM hist h WHERE md5(h.text) = md5(b.text)))
      |SELECT text_hash, min(doc_id) AS doc_id, count(*) AS n_dups
      |FROM surv GROUP BY text_hash
      |ORDER BY doc_id""".stripMargin)) { (s, dir) =>
    val docs = t(s, dir, "documents").select("doc_id", "text")
    val hist = docs.filter(col("doc_id") % 3 =!= 0)
    val batch = docs.filter(col("doc_id") % 3 === 0)
      .unionByName(docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 500000).as("doc_id"), col("text")))
    Dedup.incrementalDedup(hist, batch, "doc_id", "text")
      .orderBy("doc_id")
  }

  // Leakage-safe train/val/test split: the near-dup CLUSTER (x29's
  // connected components; singletons = themselves) is the split unit, so
  // near-identical docs can never straddle splits. Assignment is a seeded
  // md5 bucket of the cluster id. The oracle replays the whole chain —
  // LSH → components → bucket → split — and the max_splits_per_cluster
  // column PROVES the no-leak invariant (must be 1) inside the hash gate.
  private val x85 = Q("x85_group_split", Some {
    val hashes = (0 until 8).map(i =>
      s"min((ha + $i * hb) % 4294967296) AS h$i").mkString(", ")
    val bandKeys = (0 until 4).map(b =>
      s"(${b}, h${2 * b}::VARCHAR || '_' || h${2 * b + 1}::VARCHAR)").mkString(", ")
    def prop(prev: String, name: String) =
      s"""$name AS (
         |  SELECT node, min(lab) AS lab FROM (
         |    SELECT node, lab FROM $prev
         |    UNION ALL
         |    SELECT e.u AS node, l.lab FROM und e JOIN $prev l ON e.v = l.node)
         |  GROUP BY node)""".stripMargin
    s"""WITH $SETS_CTE,
       |expl AS (
       |  SELECT doc_id,
       |    ('0x' || substring(md5(u.sh), 1, 8))::BIGINT AS ha,
       |    ('0x' || substring(md5(u.sh), 9, 8))::BIGINT AS hb
       |  FROM sets, unnest(shs) AS u(sh)),
       |sig AS (SELECT doc_id, $hashes FROM expl GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, u.b[1]::INT AS band, u.b[2] AS bkey
       |  FROM sig, unnest([$bandKeys]) AS u(b)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |prs AS (
       |  SELECT id_a, id_b
       |  FROM cand JOIN sets x ON cand.id_a = x.doc_id
       |            JOIN sets y ON cand.id_b = y.doc_id
       |  WHERE len(list_intersect(x.shs, y.shs))::DOUBLE /
       |      (len(x.shs) + len(y.shs) - len(list_intersect(x.shs, y.shs))) >= 0.8),
       |und AS (SELECT id_a AS u, id_b AS v FROM prs
       |        UNION ALL SELECT id_b AS u, id_a AS v FROM prs),
       |l0 AS (SELECT DISTINCT u AS node, u AS lab FROM und),
       |${prop("l0", "l1")},
       |${prop("l1", "l2")},
       |assigned AS (
       |  SELECT d.doc_id, coalesce(c.lab, d.doc_id) AS cluster,
       |    ('0x' || substring(md5('split42:' ||
       |      coalesce(c.lab, d.doc_id)::VARCHAR), 1, 6))::BIGINT % 10 AS b
       |  FROM documents d LEFT JOIN l2 c ON d.doc_id = c.node),
       |labeled AS (
       |  SELECT doc_id, cluster,
       |    CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM assigned),
       |leak AS (
       |  SELECT max(ns) AS max_splits_per_cluster FROM (
       |    SELECT cluster, count(DISTINCT split) AS ns
       |    FROM labeled GROUP BY cluster))
       |SELECT split, count(*) AS n_docs,
       |  count(DISTINCT cluster) AS n_clusters,
       |  (SELECT max_splits_per_cluster FROM leak) AS max_splits_per_cluster
       |FROM labeled GROUP BY split ORDER BY split""".stripMargin
  }) { (s, dir) =>
    val docs = t(s, dir, "documents").select("doc_id", "text")
    // components shared with x29 (one persisted frame per session+dir);
    // only the cheap join+bucket assignment is computed here
    val split = graft.functions.Curation
      .groupAwareSplitFromComponents(docs, "doc_id",
        Shared.neardupComponents(s, dir), "split42").persist()
    // materialize the assignment ONCE before fan-out: the broadcast (leak)
    // subtree and the main aggregate otherwise evaluate concurrently,
    // racing the persist and re-running the assignment several times
    split.count()
    val leak = split.groupBy("cluster")
      .agg(countDistinct(col("split")).as("__ns"))
      .agg(max(col("__ns")).as("max_splits_per_cluster"))
    split.groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("cluster")).as("n_clusters"))
      .crossJoin(broadcast(leak))
      .orderBy("split")
  }

  // Product quantization end-to-end: per-subspace codebooks (8 subspaces ×
  // 16 L2 centroids, one Lloyd round from the id%k seed), byte-code
  // encoding, asymmetric-distance search, and recall vs exact — the
  // compressed-index path beyond SQ8 (x75): 8× smaller codes, codebook
  // broadcast everywhere. The oracle replays training, encoding, and both
  // searches step-for-step; each top-10 row carries the recall gate.
  private val x90 = Q("x90_product_quantization", Some(
    """WITH e AS (
      |  SELECT vec_id AS id, u.i - 1 AS pos, CAST(embedding[u.i] AS DOUBLE) AS v,
      |    (u.i - 1) // 8 AS sub
      |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)),
      |c1 AS (SELECT sub,
      |  ('0x' || substring(md5('pqcell:' || id), 1, 6))::BIGINT % 16 AS cell,
      |  pos, avg(v) AS cv FROM e GROUP BY 1, 2, 3),
      |d1 AS (SELECT e.id, e.sub, c.cell, sum((e.v - c.cv) * (e.v - c.cv)) AS dist
      |       FROM e JOIN c1 c ON e.sub = c.sub AND e.pos = c.pos GROUP BY 1, 2, 3),
      |a1 AS (SELECT id, sub, cell AS code FROM d1
      |       QUALIFY row_number() OVER (PARTITION BY id, sub ORDER BY dist, cell) = 1),
      |c2 AS (SELECT e.sub, a.code AS cell, e.pos, avg(e.v) AS cv
      |       FROM e JOIN a1 a ON e.id = a.id AND e.sub = a.sub GROUP BY 1, 2, 3),
      |d2 AS (SELECT e.id, e.sub, c.cell, sum((e.v - c.cv) * (e.v - c.cv)) AS dist
      |       FROM e JOIN c2 c ON e.sub = c.sub AND e.pos = c.pos GROUP BY 1, 2, 3),
      |codes AS (SELECT id, sub, cell AS code FROM d2
      |       QUALIFY row_number() OVER (PARTITION BY id, sub ORDER BY dist, cell) = 1),
      |q AS (SELECT u.i - 1 AS pos, CAST(embedding[u.i] AS DOUBLE) AS qv
      |      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
      |      WHERE vec_id = 0),
      |qn AS (SELECT sqrt(sum(qv * qv)) AS qnorm FROM q),
      |sc AS (SELECT c.id, sum(cb.cv * q.qv) AS dp, sqrt(sum(cb.cv * cb.cv)) AS rnorm
      |       FROM codes c JOIN c2 cb ON c.sub = cb.sub AND c.code = cb.cell
      |       JOIN q ON cb.pos = q.pos GROUP BY c.id),
      |ann AS (SELECT id, dp / (rnorm * (SELECT qnorm FROM qn)) AS pq_cos FROM sc
      |        ORDER BY pq_cos DESC, id LIMIT 10),
      |qv2 AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
      |bf AS (SELECT vec_id AS id FROM embeddings, qv2
      |       ORDER BY list_dot_product(CAST(embedding AS DOUBLE[]), qv) /
      |         (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) *
      |          sqrt(list_dot_product(qv, qv))) DESC, vec_id LIMIT 10)
      |SELECT a.id AS vec_id, round(a.pq_cos, 4) AS pq_cosine,
      |  CAST((SELECT count(*) FROM bf JOIN ann USING (id)) * 1000 AS BIGINT) AS recall_bps
      |FROM ann a ORDER BY vec_id""".stripMargin)) { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    val query = emb.filter(col("vec_id") === 0)
    val approx = Similarity.pqTopK(emb, "vec_id", "embedding", query, dim = 64)
      .persist()
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", query, 10)
    val recall = exact.select("vec_id")
      .join(approx.select("vec_id"), "vec_id")
      .agg((count(lit(1)) * 1000).cast("bigint").as("recall_bps"))
    approx
      .select(col("vec_id"), round(col("pq_cosine"), 4).as("pq_cosine"))
      .crossJoin(broadcast(recall))
      .orderBy("vec_id")
  }

  // EXACT similarity self-join via prefix filtering — the zero-false-
  // negative complement to x2's LSH: same shingle sets, same 0.8 Jaccard
  // bar, but candidates come from an equi-join on the RAREST ⌈0.2·sz⌉+1
  // tokens per doc (prefix-filter theorem), and every gate comparison is
  // integer-exact. The oracle replays ranking, prefix selection, candidate
  // join, and verify.
  private val x96 = Q("x96_prefix_filter_join", Some(
    s"""WITH $SETS_CTE,
       |sets2 AS (SELECT doc_id, shs FROM sets WHERE len(shs) > 0),
       |toks AS (SELECT doc_id, unnest(shs) AS tok FROM sets2),
       |dfreq AS (SELECT tok, count(*) AS df FROM toks GROUP BY tok),
       |pref AS (
       |  SELECT doc_id, tok FROM (
       |    SELECT t.doc_id, t.tok,
       |      row_number() OVER (PARTITION BY t.doc_id ORDER BY d.df, t.tok) AS rn,
       |      count(*) OVER (PARTITION BY t.doc_id) AS sz
       |    FROM toks t JOIN dfreq d ON t.tok = d.tok)
       |  WHERE rn <= sz - ((4 * sz + 4) // 5) + 1),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM pref a JOIN pref b ON a.tok = b.tok AND a.doc_id < b.doc_id),
       |ver AS (
       |  SELECT c.id_a, c.id_b, len(list_intersect(x.shs, y.shs)) AS i,
       |    len(x.shs) AS sa, len(y.shs) AS sb
       |  FROM cand c JOIN sets2 x ON c.id_a = x.doc_id
       |              JOIN sets2 y ON c.id_b = y.doc_id)
       |SELECT id_a, id_b, round(i::DOUBLE / (sa + sb - i), 4) AS jaccard
       |FROM ver WHERE i * 5 >= 4 * (sa + sb - i)
       |ORDER BY id_a, id_b""".stripMargin)) { (s, dir) =>
    Dedup.prefixFilterJoin(t(s, dir, "documents"), "doc_id", "text", 4, 5)
      .orderBy("id_a", "id_b")
  }

  // x96's candidate-cost diagnostic: per prefix token, its rep-corpus
  // document frequency, prefix hits, and the candidate pairs it alone
  // feeds the equi-join — the observable form of the PPJoin blowup, and
  // the evidence to consult before enabling the maxTokenDf recall trade.
  // The oracle replays the content-group collapse, the rare-first ranking,
  // the prefix cut, and the per-token pair arithmetic.
  private val x159 = Q("x159_prefix_candidate_stats", Some(
    s"""WITH $SETS_CTE,
       |sets2 AS (SELECT doc_id, shs FROM sets WHERE len(shs) > 0),
       |hs AS (SELECT doc_id, shs,
       |         md5(array_to_string(shs, chr(1))) AS hh FROM sets2),
       |reps AS (SELECT hh, min(doc_id) AS id, arg_min(shs, doc_id) AS shs
       |         FROM hs GROUP BY hh),
       |toks AS (SELECT id, unnest(shs) AS tok FROM reps),
       |dfreq AS (SELECT tok, count(*) AS df FROM toks GROUP BY tok),
       |pref AS (
       |  SELECT id, tok, df FROM (
       |    SELECT t.id, t.tok, d.df,
       |      row_number() OVER (PARTITION BY t.id ORDER BY d.df, t.tok) AS rn,
       |      count(*) OVER (PARTITION BY t.id) AS sz
       |    FROM toks t JOIN dfreq d USING (tok))
       |  WHERE rn <= sz - ((4 * sz + 4) // 5) + 1)
       |SELECT tok, any_value(df) AS df, count(*) AS df_pref,
       |  count(*) * (count(*) - 1) // 2 AS cand_pairs
       |FROM pref GROUP BY tok
       |ORDER BY cand_pairs DESC, tok LIMIT 30""".stripMargin)) { (s, dir) =>
    Dedup.prefixCandidateStats(t(s, dir, "documents"), "doc_id", "text", 4, 5)
      .orderBy(desc("cand_pairs"), col("tok"))
      .limit(30)
  }

  // The capped (exactness-trading) PPJoin variant: prefix tokens with
  // rep-df > 2 are barred from candidate generation, so ultra-common
  // shingles can no longer quadratically feed the join — the bounded-cost
  // mode a 100 TB run would enable after reading x159. The oracle replays
  // the cap exactly (content collapse → capped candidates → rep verify →
  // group expansion), so the recall trade is pinned, not hand-waved.
  private val x160 = Q("x160_prefix_join_capped", Some(
    s"""WITH $SETS_CTE,
       |sets2 AS (SELECT doc_id, shs FROM sets WHERE len(shs) > 0),
       |hs AS (SELECT doc_id, shs,
       |         md5(array_to_string(shs, chr(1))) AS hh FROM sets2),
       |reps AS (SELECT hh, min(doc_id) AS id, arg_min(shs, doc_id) AS shs
       |         FROM hs GROUP BY hh),
       |toks AS (SELECT id, hh, unnest(shs) AS tok FROM reps),
       |dfreq AS (SELECT tok, count(*) AS df FROM toks GROUP BY tok),
       |pref AS (
       |  SELECT id, hh, tok FROM (
       |    SELECT t.id, t.hh, t.tok, d.df,
       |      row_number() OVER (PARTITION BY t.id ORDER BY d.df, t.tok) AS rn,
       |      count(*) OVER (PARTITION BY t.id) AS sz
       |    FROM toks t JOIN dfreq d USING (tok))
       |  WHERE rn <= sz - ((4 * sz + 4) // 5) + 1 AND df <= 2),
       |cand AS (
       |  SELECT DISTINCT a.hh AS ha, b.hh AS hb
       |  FROM pref a JOIN pref b ON a.tok = b.tok AND a.id < b.id),
       |rp AS (
       |  SELECT ha, hb, round(i::DOUBLE / u, 4) AS jaccard FROM (
       |    SELECT c.ha, c.hb, len(list_intersect(x.shs, y.shs)) AS i,
       |      len(x.shs) + len(y.shs) - len(list_intersect(x.shs, y.shs)) AS u
       |    FROM cand c JOIN reps x ON c.ha = x.hh JOIN reps y ON c.hb = y.hh)
       |  WHERE i * 5 >= 4 * u),
       |within AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(1.0 AS DOUBLE) AS jaccard
       |  FROM hs a JOIN hs b ON a.hh = b.hh AND a.doc_id < b.doc_id),
       |crossp AS (
       |  SELECT least(ma.doc_id, mb.doc_id) AS id_a,
       |    greatest(ma.doc_id, mb.doc_id) AS id_b, r.jaccard
       |  FROM rp r JOIN hs ma ON r.ha = ma.hh JOIN hs mb ON r.hb = mb.hh)
       |SELECT id_a, id_b, jaccard FROM within
       |UNION ALL SELECT id_a, id_b, jaccard FROM crossp
       |ORDER BY id_a, id_b""".stripMargin)) { (s, dir) =>
    Dedup.prefixFilterJoin(t(s, dir, "documents"), "doc_id", "text", 4, 5,
        maxTokenDf = 2)
      .orderBy("id_a", "id_b")
  }

  // Inter-label centroid similarity matrix — the domain-similarity report
  // behind mixing/dedup decisions ("how close are these two sources?").
  // The |labels|×d centroid frame comes out of ONE vectorMean aggregate;
  // the pairwise pass is a self-join of that tiny frame (|labels|²/2
  // rows), never a pass over the vectors. Cosines replay in DuckDB from
  // per-dimension averages (x25's centroid discipline, round-4 gate).
  private val x114 = Q("x114_label_similarity", Some(
    """WITH e AS (
      |  SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |c AS (
      |  SELECT label, r.i, avg(v[r.i]) AS cv
      |  FROM e CROSS JOIN range(1, 65) r(i) GROUP BY 1, 2),
      |n AS (SELECT label, sqrt(sum(cv * cv)) AS nn FROM c GROUP BY label),
      |d AS (
      |  SELECT a.label AS label_a, b.label AS label_b, sum(a.cv * b.cv) AS dp
      |  FROM c a JOIN c b ON a.i = b.i AND a.label < b.label
      |  GROUP BY 1, 2)
      |SELECT label_a, label_b,
      |  round(dp / (na.nn * nb.nn), 4) AS cosine
      |FROM d JOIN n na ON label_a = na.label JOIN n nb ON label_b = nb.label
      |ORDER BY label_a, label_b""".stripMargin)) { (s, dir) =>
    // one centroid pass, not two: without the checkpoint both sides of the
    // self-join re-scan embeddings and re-aggregate — at corpus scale that
    // doubles the dominant cost. The checkpointed frame is |labels|×d.
    val cents = Similarity.centroids(t(s, dir, "embeddings"),
      "label", "embedding").localCheckpoint()
    val a = cents.select(col("cell").as("label_a"), col("centroid").as("__va"))
    val b = cents.select(col("cell").as("label_b"), col("centroid").as("__vb"))
    a.crossJoin(b).filter(col("label_a") < col("label_b"))
      .select(col("label_a"), col("label_b"),
        round(Similarity.cosine(col("__va"), col("__vb")), 4).as("cosine"))
      .orderBy("label_a", "label_b")
  }

  // Substring-level dup extraction (Lee et al. 2021 at k-gram grain):
  // maximal word spans whose every 3-gram appears in >= 2 docs. The
  // oracle replays positional grams, the cross-doc dup-gram set, the
  // island chaining (gap > 3 starts a new span), and the span aggregate.
  private val x117 = Q("x117_dup_passages", Some(
    """WITH w AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(regexp_replace(lower(text),
      |      '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '') AS ws
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id, u.g['i']::BIGINT AS pos, u.g['h']::VARCHAR AS h
      |  FROM (SELECT doc_id, list_transform(range(1, len(ws) - 1),
      |          i -> {'i': i,
      |                'h': md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])}) AS gs
      |        FROM w), unnest(gs) AS u(g)),
      |dup AS (
      |  SELECT h FROM (SELECT DISTINCT doc_id, h FROM grams)
      |  GROUP BY h HAVING count(*) >= 2),
      |hits AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (h)),
      |gaps AS (
      |  SELECT doc_id, pos,
      |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 3
      |         THEN 1 ELSE 0 END AS brk
      |  FROM hits),
      |isl AS (
      |  SELECT doc_id, pos,
      |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      |  FROM gaps)
      |SELECT doc_id, CAST(min(pos) AS BIGINT) AS start_word,
      |  CAST(max(pos) + 2 AS BIGINT) AS end_word,
      |  CAST(max(pos) + 2 - min(pos) + 1 AS BIGINT) AS n_words,
      |  CAST(count(*) AS BIGINT) AS n_dup_grams
      |FROM isl GROUP BY doc_id, island
      |ORDER BY doc_id, start_word""".stripMargin)) { (s, dir) =>
    Dedup.duplicatedPassages(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id", "start_word")
  }

  // Batched IVF from the materialized index: 8 queries, each routed to
  // its own top-3 centroid cells, candidates fetched in ONE pruned scan
  // of the union of probed partitions (not 8 probes). Per-query results
  // gate against the oracle's full replay (centroids → per-query probe →
  // within-cell exact top-10).
  private val x198 = Q("x198_ann_ivf_batch", Some(
    """WITH q AS (
      |  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv,
      |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
      |      CAST(embedding AS DOUBLE[]))) AS qn
      |  FROM embeddings WHERE vec_id < 8),
      |cent AS (
      |  SELECT label, i, avg(embedding[i]::DOUBLE) AS cv
      |  FROM embeddings CROSS JOIN range(1, 65) AS r(i)
      |  GROUP BY label, i),
      |cscore AS (
      |  SELECT q.qid, c.label,
      |    sum(c.cv * q.qv[c.i]) / (sqrt(sum(c.cv * c.cv)) * q.qn) AS cs
      |  FROM cent c, q GROUP BY q.qid, c.label, q.qn),
      |probe AS (
      |  SELECT qid, label FROM cscore
      |  QUALIFY row_number() OVER (PARTITION BY qid
      |    ORDER BY cs DESC, label) <= 3),
      |sc AS (
      |  SELECT p.qid AS query_id, e.vec_id,
      |    list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv) /
      |      (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
      |        CAST(e.embedding AS DOUBLE[]))) * q.qn) AS cos
      |  FROM embeddings e JOIN probe p ON e.label = p.label
      |    JOIN q ON q.qid = p.qid)
      |SELECT query_id, vec_id, round(cos, 4) AS cosine,
      |  CAST(row_number() OVER (PARTITION BY query_id
      |    ORDER BY cos DESC, vec_id) AS INT) AS rank
      |FROM sc
      |QUALIFY row_number() OVER (PARTITION BY query_id
      |  ORDER BY cos DESC, vec_id) <= 10
      |ORDER BY query_id, rank""".stripMargin)) { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    Similarity.buildIvfIndex(emb, "vec_id", "label", "embedding",
      "graft_x198_ivf")
    Similarity.ivfTopKBatch(s, "graft_x198_ivf", "vec_id", "label",
        "embedding", emb.filter(col("vec_id") < 8), "vec_id",
        k = 10, nprobe = 3)
      .select(col("query_id"), col("vec_id"),
        round(col("cosine"), 4).as("cosine"), col("rank"))
      .orderBy("query_id", "rank")
  }

  // IVF index delete (the lifecycle complement of x210's append): build
  // on the FULL corpus, delete the 20% batch — only the affected cell
  // partitions are rewritten (survivors staged durably first; emptied
  // cells dropped via partition DDL), and the exact-DECIMAL centroid
  // state has the batch SUBTRACTED (decimal sums are associative, so
  // full − deleted ≡ a survivor rebuild to the bit) — then probe. The
  // oracle recomputes centroids and cosines on the surviving vectors
  // from scratch: delete-then-query must equal rebuild-then-query.
  private val x238 = Q("x238_ivf_delete", Some(
    """WITH base AS (SELECT * FROM embeddings WHERE vec_id % 5 != 4),
      |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM base
      |      WHERE vec_id = 0),
      |cent AS (
      |  SELECT label, i, avg(embedding[i]::DOUBLE) AS cv
      |  FROM base CROSS JOIN range(1, 65) AS r(i)
      |  GROUP BY label, i),
      |cscore AS (
      |  SELECT label,
      |    sum(cv * q.qv[i]) / (sqrt(sum(cv * cv)) * sqrt((SELECT list_dot_product(qv, qv) FROM q))) AS cs
      |  FROM cent, q GROUP BY label),
      |probe AS (SELECT label FROM cscore ORDER BY cs DESC, label LIMIT 3)
      |SELECT vec_id,
      |  round(list_dot_product(CAST(embedding AS DOUBLE[]), q.qv) /
      |    (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) *
      |     sqrt(list_dot_product(q.qv, q.qv))), 4) AS cosine
      |FROM base, q WHERE label IN (SELECT label FROM probe)
      |ORDER BY list_dot_product(CAST(embedding AS DOUBLE[]), q.qv) /
      |    (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) *
      |     sqrt(list_dot_product(q.qv, q.qv))) DESC, vec_id
      |LIMIT 10""".stripMargin)) { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    Similarity.buildIvfIndex(emb, "vec_id", "label", "embedding",
      "graft_x238_ivf")
    Similarity.deleteFromIvfIndex(s,
      emb.filter(col("vec_id") % 5 === 4).select(col("vec_id")),
      "vec_id", "graft_x238_ivf", "label", "embedding")
    Similarity.ivfTopKIndexed(s, "graft_x238_ivf", "vec_id", "label",
        "embedding", emb.filter(col("vec_id") === 0), k = 10, nprobe = 3)
      .select(col("vec_id"), round(col("cosine"), 4).as("cosine"))
  }

  // IVF cell split/merge maintenance — the surgical answer to the
  // drift x240 measures, without refineCells' full corpus rewrite: a
  // deliberately skewed assignment (labels 0..3 collapsed into one hot
  // cell at ~3x the mean, every 29th vector exiled to a starved cell)
  // is rebalanced — the hot cell 2-means-splits (md5 half seeding, one
  // cosine reassignment), the starved cell's members reroute to the
  // nearest surviving centroid — then probed. Only affected partitions
  // move. The oracle replays EVERY decision: sizes → threshold sets →
  // exact-DECIMAL surviving centroids → reroute argmax → md5 halves →
  // half centroids → reassignment → fresh-id numbering → final
  // centroids → probe → exact in-cell top-k.
  private val ivfRebalanceCte = ivfRebalanceCteOver(
    """SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |    CASE WHEN vec_id % 29 = 0 THEN 99
      |         WHEN label <= 3 THEN 0 ELSE label END AS cell
      |  FROM embeddings""".stripMargin)

  // Corpus-parameterized rebalance replay: `embSql` must expose
  // (vec_id, v DOUBLE[], cell). x292/x293 instantiate it over the
  // append-chain corpus instead of x257's skewed remap.
  private def ivfRebalanceCteOver(embSql: String): String =
    s"""emb AS (
      |  $embSql),
      |vn AS (SELECT vec_id, sqrt(list_dot_product(v, v)) AS nv FROM emb),
      |sizes AS (SELECT cell, count(*) AS n FROM emb GROUP BY cell),
      |tot AS (SELECT CAST(sum(n) AS DOUBLE) AS t,
      |        CAST(count(*) AS DOUBLE) AS k, max(cell) AS maxc FROM sizes),
      |splits AS (
      |  SELECT cell, (SELECT maxc FROM tot) +
      |    row_number() OVER (ORDER BY cell) AS newid
      |  FROM sizes, tot WHERE n > 2.0 * (t / k)),
      |mergesx AS (SELECT cell FROM sizes, tot WHERE n < 0.5 * (t / k)),
      |survst AS MATERIALIZED (
      |  SELECT e.cell, r.i,
      |    CAST(sum(CAST(v[r.i] AS DECIMAL(28,18))) AS DOUBLE) / count(*)
      |      AS cv
      |  FROM emb e CROSS JOIN range(1, 65) AS r(i)
      |  WHERE e.cell NOT IN (SELECT cell FROM mergesx)
      |  GROUP BY e.cell, r.i),
      |mcos AS (
      |  SELECT m.vec_id, s.cell,
      |    sum(s.cv * m.v[s.i]) AS dp, sum(s.cv * s.cv) AS cn2
      |  FROM emb m JOIN survst s ON true
      |  WHERE m.cell IN (SELECT cell FROM mergesx)
      |  GROUP BY m.vec_id, s.cell),
      |mroute AS (
      |  SELECT vec_id, cell AS dest FROM (
      |    SELECT c.vec_id, c.cell,
      |      row_number() OVER (PARTITION BY c.vec_id
      |        ORDER BY c.dp / (sqrt(c.cn2) * n.nv) DESC, c.cell) AS rk
      |    FROM mcos c JOIN vn n USING (vec_id))
      |  WHERE rk = 1),
      |sirows AS MATERIALIZED (
      |  SELECT e.vec_id, e.cell AS c, e.v FROM emb e
      |  WHERE e.cell IN (SELECT cell FROM splits)
      |  UNION ALL
      |  SELECT r.vec_id, r.dest AS c, e.v
      |  FROM mroute r JOIN emb e USING (vec_id)
      |  WHERE r.dest IN (SELECT cell FROM splits)),
      |shalf AS MATERIALIZED (
      |  SELECT vec_id, c, v,
      |    ((('0x' || substring(md5('ivfsplit:' || vec_id), 1, 6))::BIGINT
      |      % 2))::INT AS half
      |  FROM sirows),
      |hcent AS MATERIALIZED (
      |  SELECT c, half, r.i,
      |    CAST(sum(CAST(v[r.i] AS DECIMAL(28,18))) AS DOUBLE) / count(*)
      |      AS cv
      |  FROM shalf CROSS JOIN range(1, 65) AS r(i)
      |  GROUP BY c, half, r.i),
      |scos AS (
      |  SELECT s.vec_id, s.c, h.half,
      |    sum(h.cv * s.v[h.i]) AS dp, sum(h.cv * h.cv) AS hn2
      |  FROM shalf s JOIN hcent h ON h.c = s.c
      |  GROUP BY s.vec_id, s.c, h.half),
      |sassign AS (
      |  SELECT x.vec_id,
      |    CASE WHEN x.half = 0 THEN x.c ELSE sp.newid END AS dest
      |  FROM (
      |    SELECT c2.vec_id, c2.c, c2.half,
      |      row_number() OVER (PARTITION BY c2.vec_id
      |        ORDER BY c2.dp / (sqrt(c2.hn2) * n.nv) DESC, c2.half) AS rk
      |    FROM scos c2 JOIN vn n USING (vec_id)) x
      |  JOIN splits sp ON sp.cell = x.c
      |  WHERE x.rk = 1),
      |final AS MATERIALIZED (
      |  SELECT e.vec_id, e.v, e.cell FROM emb e
      |  WHERE e.cell NOT IN (SELECT cell FROM mergesx)
      |    AND e.cell NOT IN (SELECT cell FROM splits)
      |  UNION ALL
      |  SELECT r.vec_id, e.v, r.dest FROM mroute r JOIN emb e USING (vec_id)
      |  WHERE r.dest NOT IN (SELECT cell FROM splits)
      |  UNION ALL
      |  SELECT a.vec_id, e.v, a.dest FROM sassign a JOIN emb e USING (vec_id)),
      |fcent AS MATERIALIZED (
      |  SELECT f.cell, r.i,
      |    CAST(sum(CAST(v[r.i] AS DECIMAL(28,18))) AS DOUBLE) / count(*)
      |      AS cv
      |  FROM final f CROSS JOIN range(1, 65) AS r(i)
      |  GROUP BY f.cell, r.i),
      |q AS (SELECT v AS qv FROM emb WHERE vec_id = 0),
      |cscore AS (
      |  SELECT cell,
      |    sum(cv * q.qv[i]) / (sqrt(sum(cv * cv)) *
      |      sqrt((SELECT list_dot_product(qv, qv) FROM q))) AS cs
      |  FROM fcent, q GROUP BY cell),
      |probe AS (SELECT cell FROM cscore ORDER BY cs DESC, cell LIMIT 3)""".stripMargin

  /** Shared Spark-side rebalance harness of x257/x258: skewed build →
    * rebalance. Returns the original embeddings frame. */
  private def rebalancedIvf(s: org.apache.spark.sql.SparkSession,
      dir: String, table: String): org.apache.spark.sql.DataFrame = {
    val emb = t(s, dir, "embeddings")
    val skewed = emb.select(col("vec_id"),
      when(col("vec_id") % 29 === 0, lit(99))
        .otherwise(when(col("label") <= 3, lit(0)).otherwise(col("label")))
        .cast("int").as("label"),
      col("embedding"))
    Similarity.buildIvfIndex(skewed, "vec_id", "label", "embedding", table)
    Similarity.rebalanceIvfCells(s, table, "vec_id", "label",
      "embedding", splitAbove = 2.0, mergeBelow = 0.5)
    emb
  }

  private val x257 = Q("x257_ivf_rebalance", Some(
    s"""WITH $ivfRebalanceCte
      |SELECT f.vec_id,
      |  round(list_dot_product(f.v, q.qv) /
      |    (sqrt(list_dot_product(f.v, f.v)) *
      |     sqrt(list_dot_product(q.qv, q.qv))), 4) AS cosine
      |FROM final f, q WHERE f.cell IN (SELECT cell FROM probe)
      |ORDER BY list_dot_product(f.v, q.qv) /
      |    (sqrt(list_dot_product(f.v, f.v)) *
      |     sqrt(list_dot_product(q.qv, q.qv))) DESC, vec_id
      |LIMIT 10""".stripMargin)) { (s, dir) =>
    val emb = rebalancedIvf(s, dir, "graft_x257_ivf")
    Similarity.ivfTopKIndexed(s, "graft_x257_ivf", "vec_id", "label",
        "embedding", emb.filter(col("vec_id") === 0), k = 10, nprobe = 3)
      .select(col("vec_id"), round(col("cosine"), 4).as("cosine"))
  }

  // The honesty gate for the rebalance (the x218 pattern pointed at
  // x257): recall@10 of the rebalanced 3-probe IVF ranking against
  // exact brute force over the same corpus. The oracle replays the
  // whole rebalance (x257's CTE chain) AND the brute-force ranking,
  // then the hit-count join — so the reported recall is itself
  // hash-gated, not an article of faith.
  private val x258 = Q("x258_ivf_rebalance_recall", Some(
    s"""WITH $ivfRebalanceCte,
      |approx AS (
      |  SELECT f.vec_id FROM final f, q
      |  WHERE f.cell IN (SELECT cell FROM probe)
      |  ORDER BY list_dot_product(f.v, q.qv) /
      |      (sqrt(list_dot_product(f.v, f.v)) *
      |       sqrt(list_dot_product(q.qv, q.qv))) DESC, vec_id
      |  LIMIT 10),
      |exact AS (
      |  SELECT e.vec_id FROM emb e, q
      |  ORDER BY list_dot_product(e.v, q.qv) /
      |      (sqrt(list_dot_product(e.v, e.v)) *
      |       sqrt(list_dot_product(q.qv, q.qv))) DESC, vec_id
      |  LIMIT 10)
      |SELECT CAST(0 AS BIGINT) AS query_id,
      |  CAST(count(*) AS BIGINT) AS n_exact,
      |  CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_hit,
      |  round(CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
      |      AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS recall
      |FROM exact e LEFT JOIN approx a USING (vec_id)""".stripMargin)) {
    (s, dir) =>
      val emb = rebalancedIvf(s, dir, "graft_x258_ivf")
      val q = emb.filter(col("vec_id") === 0)
      val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          q, k = 10)
        .select(lit(0L).as("query_id"), col("vec_id"))
      val approx = Similarity.ivfTopKIndexed(s, "graft_x258_ivf",
          "vec_id", "label", "embedding", q, k = 10, nprobe = 3)
        .select(lit(0L).as("query_id"), col("vec_id"))
      graft.operators.Retrieval.rankingRecall(exact, approx, "query_id",
        "vec_id")
  }

  // IVF upsert — delete → append, NO compact needed (the IVF delete is
  // physical, so a re-added id has no old rows to collide with, unlike
  // the postings store): the index is built with the 20% batch's
  // vectors STALE (negated — same cells, wrong geometry), then the true
  // vectors are upserted. The oracle is x6/x183's full-corpus IVF
  // verbatim: after the upsert the index must be indistinguishable from
  // one that never saw the stale vectors — centroids included, since
  // the negated vectors' exact-DECIMAL state was subtracted on delete.
  private val x239 = Q("x239_ivf_upsert", Some(ivfOracle)) { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    val stale = emb.withColumn("embedding",
      when(col("vec_id") % 5 === 4,
        transform(col("embedding"), x => -x)).otherwise(col("embedding")))
    Similarity.buildIvfIndex(stale, "vec_id", "label", "embedding",
      "graft_x239_ivf")
    Similarity.upsertIntoIvfIndex(s,
      emb.filter(col("vec_id") % 5 === 4), "vec_id", "label", "embedding",
      "graft_x239_ivf")
    Similarity.ivfTopKIndexed(s, "graft_x239_ivf", "vec_id", "label",
        "embedding", emb.filter(col("vec_id") === 0), k = 10, nprobe = 3)
      .select(col("vec_id"), round(col("cosine"), 4).as("cosine"))
  }

  // IVF health report after an append has grown the cells: per-cell
  // sizes with share-of-corpus and ratio-to-mean — the "when do I
  // refine" signal, read ENTIRELY from the (cells×d)-row state table
  // (the corpus-sized vector partitions appear nowhere in the plan).
  // The oracle recounts the cells from the raw vectors.
  private val x240 = Q("x240_ivf_stats", Some(
    """WITH c AS (SELECT label AS cell, CAST(count(*) AS BIGINT) AS n
      |          FROM embeddings GROUP BY label),
      |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot,
      |        CAST(count(*) AS BIGINT) AS nc FROM c)
      |SELECT cell, n AS n_vectors,
      |  round(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS share,
      |  round(CAST(n AS DOUBLE) * CAST(nc AS DOUBLE)
      |    / CAST(tot AS DOUBLE), 6) AS ratio_to_mean
      |FROM c, t ORDER BY cell""".stripMargin)) { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    Similarity.buildIvfIndex(emb.filter(col("vec_id") % 5 =!= 4),
      "vec_id", "label", "embedding", "graft_x240_ivf")
    Similarity.appendToIvfIndex(emb.filter(col("vec_id") % 5 === 4),
      "vec_id", "label", "embedding", "graft_x240_ivf")
    Similarity.ivfIndexStats(s, "graft_x240_ivf")
  }

  // Streaming ingest into the IVF index — the dense twin of x241: the
  // corpus replayed as a real MemoryStream in id-ordered micro-batches,
  // each committed by foreachBatch → appendToIvfIndex onto an empty
  // seed index, then probed. Oracle: x6/x183's full-corpus IVF
  // verbatim — the exact-DECIMAL centroid state merges associatively,
  // so micro-batch boundaries cannot move a centroid bit.
  private val x242 = Q("x242_streaming_ivf_ingest", Some(ivfOracle)) {
    (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity.streamingIvfIngestReplay(s, emb, "vec_id", "label",
        "embedding", "graft_x242_ivf")
      Similarity.ivfTopKIndexed(s, "graft_x242_ivf", "vec_id", "label",
          "embedding", emb.filter(col("vec_id") === 0), k = 10, nprobe = 3)
        .select(col("vec_id"), round(col("cosine"), 4).as("cosine"))
  }

  // File-feed streaming ingest into the IVF index — the dense twin of
  // x256 (x242's MemoryStream replay is the harness; this is the deploy
  // shape): the corpus written as a 4-file parquet feed, readStream →
  // foreachBatch → appendToIvfIndex onto an empty seed, AvailableNow.
  // Oracle: the full-corpus IVF verbatim — the exact-DECIMAL centroid
  // state merges associatively, so the file split cannot move a
  // centroid bit.
  private val x268 = Q("x268_ivf_file_stream_ingest", Some(ivfOracle)) {
    (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Replay.withTempDir(s, "graft_x268_feed") { feed =>
        LocalWrites.write(emb
          .select(col("vec_id"), col("label"), col("embedding"))
          .repartition(4)).mode("overwrite").parquet(feed)
        Similarity.fileStreamIvfIngest(s, feed, "vec_id", "label",
          "embedding", "graft_x268_ivf")
      }
      Similarity.ivfTopKIndexed(s, "graft_x268_ivf", "vec_id", "label",
          "embedding", emb.filter(col("vec_id") === 0), k = 10, nprobe = 3)
        .select(col("vec_id"), round(col("cosine"), 4).as("cosine"))
  }

  /** x269's Spark side: the x257/x258 skewed corpus arrives as a FILE
    * FEED instead of a batch build, then the same surgical rebalance
    * runs on the stream-built index. Stream ≡ batch makes x258's oracle
    * (which replays skewed-build → rebalance → probe → recall against
    * brute force) hold verbatim over the streamed path. */
  private def streamRebalancedIvf(s: org.apache.spark.sql.SparkSession,
      dir: String, table: String): org.apache.spark.sql.DataFrame = {
    val emb = t(s, dir, "embeddings")
    val skewed = emb.select(col("vec_id"),
      when(col("vec_id") % 29 === 0, lit(99))
        .otherwise(when(col("label") <= 3, lit(0)).otherwise(col("label")))
        .cast("int").as("label"),
      col("embedding"))
    Replay.withTempDir(s, s"graft_${table}_feed") { feed =>
      LocalWrites.write(skewed.repartition(4)).mode("overwrite").parquet(feed)
      Similarity.fileStreamIvfIngest(s, feed, "vec_id", "label",
        "embedding", table)
    }
    Similarity.rebalanceIvfCells(s, table, "vec_id", "label",
      "embedding", splitAbove = 2.0, mergeBelow = 0.5)
    emb
  }

  private val x269 = Q("x269_ivf_stream_rebalance_recall", Some(
    s"""WITH $ivfRebalanceCte,
      |approx AS (
      |  SELECT f.vec_id FROM final f, q
      |  WHERE f.cell IN (SELECT cell FROM probe)
      |  ORDER BY list_dot_product(f.v, q.qv) /
      |      (sqrt(list_dot_product(f.v, f.v)) *
      |       sqrt(list_dot_product(q.qv, q.qv))) DESC, vec_id
      |  LIMIT 10),
      |exact AS (
      |  SELECT e.vec_id FROM emb e, q
      |  ORDER BY list_dot_product(e.v, q.qv) /
      |      (sqrt(list_dot_product(e.v, e.v)) *
      |       sqrt(list_dot_product(q.qv, q.qv))) DESC, vec_id
      |  LIMIT 10)
      |SELECT CAST(0 AS BIGINT) AS query_id,
      |  CAST(count(*) AS BIGINT) AS n_exact,
      |  CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_hit,
      |  round(CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
      |      AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS recall
      |FROM exact e LEFT JOIN approx a USING (vec_id)""".stripMargin)) {
    (s, dir) =>
      val emb = streamRebalancedIvf(s, dir, "graft_x269_ivf")
      val q = emb.filter(col("vec_id") === 0)
      val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          q, k = 10)
        .select(lit(0L).as("query_id"), col("vec_id"))
      val approx = Similarity.ivfTopKIndexed(s, "graft_x269_ivf",
          "vec_id", "label", "embedding", q, k = 10, nprobe = 3)
        .select(lit(0L).as("query_id"), col("vec_id"))
      graft.operators.Retrieval.rankingRecall(exact, approx, "query_id",
        "vec_id")
  }

  /** Shared by x275/x276: the ADC two-stage serve replayed in SQL —
    * routing (nprobe=3 by centroid cosine), bucket-center reconstruction
    * under the grid fit on `gridWhere`'s vectors (edge-bucket CLAMP for
    * out-of-grid components), top-20 by reconstructed cosine, exact
    * rescore, top-10 by exact cosine, id-tiebroken. */
  private def adcOracle(gridWhere: String): String =
    s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
       |cent AS (
       |  SELECT label, i, avg(embedding[i]::DOUBLE) AS cv
       |  FROM embeddings CROSS JOIN range(1, 65) AS r(i)
       |  GROUP BY label, i),
       |cscore AS (
       |  SELECT label,
       |    sum(cv * q.qv[i]) / (sqrt(sum(cv * cv)) * sqrt((SELECT list_dot_product(qv, qv) FROM q))) AS cs
       |  FROM cent, q GROUP BY label),
       |probe AS (SELECT label FROM cscore ORDER BY cs DESC, label LIMIT 3),
       |e AS (
       |  SELECT vec_id, label, u.i - 1 AS pos, CAST(embedding[u.i] AS DOUBLE) AS v
       |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)),
       |d AS (SELECT pos, min(v) AS lo, max(v) AS hi FROM e
       |      WHERE $gridWhere GROUP BY pos),
       |r AS (
       |  SELECT e.vec_id, e.pos,
       |    d.lo + (CAST(CASE WHEN d.hi = d.lo THEN 0
       |      ELSE greatest(0, least(floor((e.v - d.lo) / (d.hi - d.lo) * 256), 255))
       |      END AS DOUBLE) + 0.5) * (d.hi - d.lo) / 256 AS deq
       |  FROM e JOIN d USING (pos)
       |  WHERE e.label IN (SELECT label FROM probe)),
       |vecs AS (SELECT vec_id, array_agg(deq ORDER BY pos) AS dv
       |         FROM r GROUP BY vec_id),
       |adc AS (
       |  SELECT vec_id, list_dot_product(dv, q.qv) /
       |    (sqrt(list_dot_product(dv, dv)) * sqrt(list_dot_product(q.qv, q.qv))) AS adc_cos
       |  FROM vecs, q
       |  ORDER BY adc_cos DESC, vec_id LIMIT 20),
       |ex AS (
       |  SELECT a.vec_id, a.adc_cos,
       |    list_dot_product(CAST(em.embedding AS DOUBLE[]), q.qv) /
       |      (sqrt(list_dot_product(CAST(em.embedding AS DOUBLE[]), CAST(em.embedding AS DOUBLE[]))) *
       |       sqrt(list_dot_product(q.qv, q.qv))) AS cos
       |  FROM adc a JOIN embeddings em USING (vec_id), q)
       |SELECT vec_id, round(adc_cos, 4) AS adc_cosine,
       |  round(cos, 4) AS cosine,
       |  CAST(row_number() OVER (ORDER BY cos DESC, vec_id) AS INT) AS rank
       |FROM ex
       |QUALIFY row_number() OVER (ORDER BY cos DESC, vec_id) <= 10
       |ORDER BY rank""".stripMargin

  // Quantized (SQ8) serving from the materialized IVF index — the
  // memory/IO posture of a 100 TB ANN deployment: the probe-time scan
  // reads the 2-byte/dim `_codes` partitions of the routed cells, and
  // the full-precision vectors are read ONLY for the top-20 rescore.
  // The oracle replays routing, grid fit, quantize/reconstruct, the ADC
  // top-20, and the exact rescore rank.
  private val x275 = Q("x275_ivf_sq8_adc", Some(adcOracle("TRUE"))) {
    (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity.buildIvfIndex(emb, "vec_id", "label", "embedding",
        "graft_x275_ivf")
      Similarity.buildIvfCodes(s, "graft_x275_ivf", "vec_id", "label",
        "embedding")
      Similarity.ivfTopKQuantized(s, "graft_x275_ivf", "vec_id", "label",
        "embedding", emb.filter(col("vec_id") === 0), k = 10, nprobe = 3,
        rescore = 20)
  }

  // Frozen-grid lifecycle: the grid is fit on the 80% build corpus and
  // FROZEN; the appended 20% batch's codes ride appendToIvfIndex into
  // their cell partitions, out-of-grid components clamping into the
  // edge buckets. The oracle quantizes EVERY vector under the 80% grid
  // — serve-after-append must equal that replay exactly, or the frozen
  // grid / clamp / code-append contract broke somewhere.
  private val x276 = Q("x276_ivf_sq8_append", Some(
    adcOracle("vec_id % 5 <> 4"))) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity.buildIvfIndex(emb.filter(col("vec_id") % 5 =!= 4),
        "vec_id", "label", "embedding", "graft_x276_ivf")
      Similarity.buildIvfCodes(s, "graft_x276_ivf", "vec_id", "label",
        "embedding")
      Similarity.appendToIvfIndex(emb.filter(col("vec_id") % 5 === 4),
        "vec_id", "label", "embedding", "graft_x276_ivf")
      Similarity.ivfTopKQuantized(s, "graft_x276_ivf", "vec_id", "label",
        "embedding", emb.filter(col("vec_id") === 0), k = 10, nprobe = 3,
        rescore = 20)
  }

  // The honesty gate for quantized serving: recall@10 of the pure-ADC
  // candidate set (rescore = k keeps exactly the ADC top-k ids) against
  // the full-precision indexed probe AT THE SAME nprobe — so the number
  // isolates quantization loss from routing loss. The oracle replays
  // both rankings and the integer basis-point recall.
  private val x279 = Q("x279_ivf_sq8_recall", Some(
    """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
      |cent AS (
      |  SELECT label, i, avg(embedding[i]::DOUBLE) AS cv
      |  FROM embeddings CROSS JOIN range(1, 65) AS r(i)
      |  GROUP BY label, i),
      |cscore AS (
      |  SELECT label,
      |    sum(cv * q.qv[i]) / (sqrt(sum(cv * cv)) * sqrt((SELECT list_dot_product(qv, qv) FROM q))) AS cs
      |  FROM cent, q GROUP BY label),
      |probe AS (SELECT label FROM cscore ORDER BY cs DESC, label LIMIT 3),
      |bf AS (
      |  SELECT vec_id FROM embeddings, q
      |  WHERE label IN (SELECT label FROM probe)
      |  ORDER BY list_dot_product(CAST(embedding AS DOUBLE[]), q.qv) /
      |    (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) *
      |     sqrt(list_dot_product(q.qv, q.qv))) DESC, vec_id
      |  LIMIT 10),
      |e AS (
      |  SELECT vec_id, label, u.i - 1 AS pos, CAST(embedding[u.i] AS DOUBLE) AS v
      |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)),
      |d AS (SELECT pos, min(v) AS lo, max(v) AS hi FROM e GROUP BY pos),
      |r AS (
      |  SELECT e.vec_id, e.pos,
      |    d.lo + (CAST(CASE WHEN d.hi = d.lo THEN 0
      |      ELSE greatest(0, least(floor((e.v - d.lo) / (d.hi - d.lo) * 256), 255))
      |      END AS DOUBLE) + 0.5) * (d.hi - d.lo) / 256 AS deq
      |  FROM e JOIN d USING (pos)
      |  WHERE e.label IN (SELECT label FROM probe)),
      |vecs AS (SELECT vec_id, array_agg(deq ORDER BY pos) AS dv
      |         FROM r GROUP BY vec_id),
      |adc AS (
      |  SELECT vec_id FROM vecs, q
      |  ORDER BY list_dot_product(dv, q.qv) /
      |    (sqrt(list_dot_product(dv, dv)) * sqrt(list_dot_product(q.qv, q.qv))) DESC, vec_id
      |  LIMIT 10)
      |SELECT (SELECT count(*) FROM bf) AS n_exact,
      |  (SELECT count(*) FROM adc) AS n_approx,
      |  (SELECT count(*) FROM bf JOIN adc USING (vec_id)) AS n_overlap,
      |  CAST((SELECT count(*) FROM bf JOIN adc USING (vec_id)) * 10000
      |    // (SELECT count(*) FROM bf) AS BIGINT) AS recall_bps""".stripMargin)) {
    (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity.buildIvfIndex(emb, "vec_id", "label", "embedding",
        "graft_x279_ivf")
      Similarity.buildIvfCodes(s, "graft_x279_ivf", "vec_id", "label",
        "embedding")
      val q = emb.filter(col("vec_id") === 0)
      val exact = Similarity.ivfTopKIndexed(s, "graft_x279_ivf",
        "vec_id", "label", "embedding", q, k = 10, nprobe = 3)
      // rescore = k keeps exactly the ADC top-k ids (the exact pass
      // reorders them, never swaps the set) — set-recall of pure ADC
      val approx = Similarity.ivfTopKQuantized(s, "graft_x279_ivf",
        "vec_id", "label", "embedding", q, k = 10, nprobe = 3,
        rescore = 10)
      Similarity.recallAtK(exact, approx, "vec_id")
  }

  // Batch quantized serving (x198's batch probe over the SQ8 codes):
  // per-query routing, ONE bucket-center reconstruction per candidate
  // doc across the whole 4-query batch, per-query ADC top-20, exact
  // rescore top-10. The oracle replays routing, grid, reconstruction,
  // and both ranking stages per query.
  private val x280 = Q("x280_ivf_sq8_batch", Some(
    """WITH q AS (
      |  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv,
      |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
      |      CAST(embedding AS DOUBLE[]))) AS qn
      |  FROM embeddings WHERE vec_id < 4),
      |cent AS (
      |  SELECT label, i, avg(embedding[i]::DOUBLE) AS cv
      |  FROM embeddings CROSS JOIN range(1, 65) AS r(i)
      |  GROUP BY label, i),
      |cscore AS (
      |  SELECT q.qid, c.label,
      |    sum(c.cv * q.qv[c.i]) / (sqrt(sum(c.cv * c.cv)) * q.qn) AS cs
      |  FROM cent c, q GROUP BY q.qid, c.label, q.qn),
      |probe AS (
      |  SELECT qid, label FROM cscore
      |  QUALIFY row_number() OVER (PARTITION BY qid
      |    ORDER BY cs DESC, label) <= 3),
      |e AS (
      |  SELECT vec_id, label, u.i - 1 AS pos, CAST(embedding[u.i] AS DOUBLE) AS v
      |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)),
      |d AS (SELECT pos, min(v) AS lo, max(v) AS hi FROM e GROUP BY pos),
      |r AS (
      |  SELECT e.vec_id, e.label, e.pos,
      |    d.lo + (CAST(CASE WHEN d.hi = d.lo THEN 0
      |      ELSE greatest(0, least(floor((e.v - d.lo) / (d.hi - d.lo) * 256), 255))
      |      END AS DOUBLE) + 0.5) * (d.hi - d.lo) / 256 AS deq
      |  FROM e JOIN d USING (pos)),
      |vecs AS (SELECT vec_id, label, array_agg(deq ORDER BY pos) AS dv
      |         FROM r GROUP BY vec_id, label),
      |adc AS (
      |  SELECT p.qid AS query_id, v.vec_id,
      |    list_dot_product(v.dv, q.qv) /
      |      (sqrt(list_dot_product(v.dv, v.dv)) * q.qn) AS adc_cos
      |  FROM vecs v JOIN probe p ON v.label = p.label
      |    JOIN q ON q.qid = p.qid),
      |topr AS (
      |  SELECT query_id, vec_id, adc_cos FROM adc
      |  QUALIFY row_number() OVER (PARTITION BY query_id
      |    ORDER BY adc_cos DESC, vec_id) <= 20),
      |ex AS (
      |  SELECT t.query_id, t.vec_id, t.adc_cos,
      |    list_dot_product(CAST(em.embedding AS DOUBLE[]), q.qv) /
      |      (sqrt(list_dot_product(CAST(em.embedding AS DOUBLE[]),
      |        CAST(em.embedding AS DOUBLE[]))) * q.qn) AS cos
      |  FROM topr t JOIN embeddings em USING (vec_id)
      |    JOIN q ON q.qid = t.query_id)
      |SELECT query_id, vec_id, round(adc_cos, 4) AS adc_cosine,
      |  round(cos, 4) AS cosine,
      |  CAST(row_number() OVER (PARTITION BY query_id
      |    ORDER BY cos DESC, vec_id) AS INT) AS rank
      |FROM ex
      |QUALIFY row_number() OVER (PARTITION BY query_id
      |  ORDER BY cos DESC, vec_id) <= 10
      |ORDER BY query_id, rank""".stripMargin)) { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    Similarity.buildIvfIndex(emb, "vec_id", "label", "embedding",
      "graft_x280_ivf")
    Similarity.buildIvfCodes(s, "graft_x280_ivf", "vec_id", "label",
      "embedding")
    Similarity.ivfTopKQuantizedBatch(s, "graft_x280_ivf", "vec_id",
        "label", "embedding", emb.filter(col("vec_id") < 4), "vec_id",
        k = 10, nprobe = 3, rescore = 20)
      .orderBy("query_id", "rank")
  }

  // The drift-honesty gate for the frozen-grid contract: the appended
  // batch is DISTRIBUTION-SHIFTED (every component ×3 + 2 — far outside
  // the base grid, so its codes clamp into the edge buckets), ADC recall
  // is measured at the frozen grid, the grid is REFIT over the current
  // corpus (refitIvfCodes: new per-dim bounds, full code rebuild, same
  // levels, grid_gen bump), and recall is measured again. The oracle
  // replays BOTH recalls — the same routing/quantize/clamp/rank chain
  // under the two grids — so the query certifies both the decay and the
  // repair with numbers, not vibes.
  private val x283 = Q("x283_ivf_sq8_grid_refit", Some(
    """WITH q AS (
      |  SELECT list_transform(CAST(embedding AS DOUBLE[]),
      |    e -> e * 3.0 + 2.0) AS qv
      |  FROM embeddings WHERE vec_id = 0),
      |corpus AS (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings WHERE vec_id % 5 <> 4
      |  UNION ALL
      |  SELECT vec_id, label,
      |    list_transform(CAST(embedding AS DOUBLE[]), e -> e * 3.0 + 2.0)
      |  FROM embeddings WHERE vec_id % 5 = 4),
      |cent AS (
      |  SELECT label, i, avg(v[i]) AS cv
      |  FROM corpus CROSS JOIN range(1, 65) AS r(i)
      |  GROUP BY label, i),
      |cscore AS (
      |  SELECT label,
      |    sum(cv * q.qv[i]) / (sqrt(sum(cv * cv)) * sqrt((SELECT list_dot_product(qv, qv) FROM q))) AS cs
      |  FROM cent, q GROUP BY label),
      |probe AS (SELECT label FROM cscore ORDER BY cs DESC, label LIMIT 3),
      |e AS (
      |  SELECT c.vec_id, c.label, u.i - 1 AS pos, c.v[u.i] AS x
      |  FROM corpus c, unnest(range(1, len(c.v) + 1)) AS u(i)),
      |bf AS (
      |  SELECT c.vec_id FROM corpus c, q
      |  WHERE c.label IN (SELECT label FROM probe)
      |  ORDER BY list_dot_product(c.v, q.qv) /
      |    (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(q.qv, q.qv))) DESC, vec_id
      |  LIMIT 10),
      |dfro AS (SELECT pos, min(x) AS lo, max(x) AS hi FROM e
      |         WHERE vec_id % 5 <> 4 GROUP BY pos),
      |dref AS (SELECT pos, min(x) AS lo, max(x) AS hi FROM e GROUP BY pos),
      |rfro AS (
      |  SELECT e.vec_id, e.pos,
      |    d.lo + (CAST(CASE WHEN d.hi = d.lo THEN 0
      |      ELSE greatest(0, least(floor((e.x - d.lo) / (d.hi - d.lo) * 256), 255))
      |      END AS DOUBLE) + 0.5) * (d.hi - d.lo) / 256 AS deq
      |  FROM e JOIN dfro d USING (pos)
      |  WHERE e.label IN (SELECT label FROM probe)),
      |vfro AS (SELECT vec_id, array_agg(deq ORDER BY pos) AS dv
      |         FROM rfro GROUP BY vec_id),
      |afro AS (
      |  SELECT vec_id FROM vfro, q
      |  ORDER BY list_dot_product(dv, q.qv) /
      |    (sqrt(list_dot_product(dv, dv)) * sqrt(list_dot_product(q.qv, q.qv))) DESC, vec_id
      |  LIMIT 10),
      |rref AS (
      |  SELECT e.vec_id, e.pos,
      |    d.lo + (CAST(CASE WHEN d.hi = d.lo THEN 0
      |      ELSE greatest(0, least(floor((e.x - d.lo) / (d.hi - d.lo) * 256), 255))
      |      END AS DOUBLE) + 0.5) * (d.hi - d.lo) / 256 AS deq
      |  FROM e JOIN dref d USING (pos)
      |  WHERE e.label IN (SELECT label FROM probe)),
      |vref AS (SELECT vec_id, array_agg(deq ORDER BY pos) AS dv
      |         FROM rref GROUP BY vec_id),
      |aref AS (
      |  SELECT vec_id FROM vref, q
      |  ORDER BY list_dot_product(dv, q.qv) /
      |    (sqrt(list_dot_product(dv, dv)) * sqrt(list_dot_product(q.qv, q.qv))) DESC, vec_id
      |  LIMIT 10)
      |SELECT * FROM (
      |  SELECT 'frozen' AS phase,
      |    (SELECT count(*) FROM bf) AS n_exact,
      |    (SELECT count(*) FROM afro) AS n_approx,
      |    (SELECT count(*) FROM bf JOIN afro USING (vec_id)) AS n_overlap,
      |    CAST((SELECT count(*) FROM bf JOIN afro USING (vec_id)) * 10000
      |      // (SELECT count(*) FROM bf) AS BIGINT) AS recall_bps
      |  UNION ALL
      |  SELECT 'refit',
      |    (SELECT count(*) FROM bf),
      |    (SELECT count(*) FROM aref),
      |    (SELECT count(*) FROM bf JOIN aref USING (vec_id)),
      |    CAST((SELECT count(*) FROM bf JOIN aref USING (vec_id)) * 10000
      |      // (SELECT count(*) FROM bf) AS BIGINT)
      |) ORDER BY phase""".stripMargin)) { (s, dir) =>
    val emb = t(s, dir, "embeddings")
      .withColumn("embedding", col("embedding").cast("array<double>"))
    val base = emb.filter(col("vec_id") % 5 =!= 4)
    val shifted = emb.filter(col("vec_id") % 5 === 4)
      .withColumn("embedding",
        expr("transform(embedding, e -> e * 3.0D + 2.0D)"))
    Similarity.buildIvfIndex(base, "vec_id", "label", "embedding",
      "graft_x283_ivf")
    Similarity.buildIvfCodes(s, "graft_x283_ivf", "vec_id", "label",
      "embedding")
    Similarity.appendToIvfIndex(shifted, "vec_id", "label", "embedding",
      "graft_x283_ivf")
    // the query FOLLOWS the drifted distribution (what drift means in
    // production: new queries look like new documents) — its true
    // neighbors are the shifted batch, whose frozen-grid codes clamp
    val q = emb.filter(col("vec_id") === 0)
      .withColumn("embedding",
        expr("transform(embedding, e -> e * 3.0D + 2.0D)"))
    def recall(phase: String) = {
      val exact = Similarity.ivfTopKIndexed(s, "graft_x283_ivf", "vec_id",
        "label", "embedding", q, k = 10, nprobe = 3)
      val approx = Similarity.ivfTopKQuantized(s, "graft_x283_ivf",
        "vec_id", "label", "embedding", q, k = 10, nprobe = 3,
        rescore = 10)
      // eager: the frozen-phase numbers must land BEFORE refit rewrites
      // the grid and codes under this lazy plan
      Similarity.recallAtK(exact, approx, "vec_id")
        .select(lit(phase).as("phase"), col("n_exact"), col("n_approx"),
          col("n_overlap"), col("recall_bps"))
        .localCheckpoint(eager = true)
    }
    val frozen = recall("frozen")
    Similarity.refitIvfCodes(s, "graft_x283_ivf", "vec_id", "label",
      "embedding")
    frozen.unionByName(recall("refit")).orderBy("phase")
  }

  // The refit DECISION metric: x283 measured what drift costs (ADC
  // recall 3000 vs 9000 bps) and refitIvfCodes repairs it — this is the
  // monitor that says WHEN. Clamp rate of a candidate batch against the
  // frozen grid: the natural out-of-sample batch clamps near zero, the
  // distribution-shifted one in the thousands of bps. Exact integers,
  // replayed end to end (grid fit, per-component out-of-range test,
  // distinct-dim count, integer basis points).
  private val x285 = Q("x285_sq8_clamp_monitor", Some(
    """WITH eb AS (
      |  SELECT vec_id, u.i - 1 AS pos, CAST(embedding[u.i] AS DOUBLE) AS x
      |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)),
      |d AS (SELECT pos, min(x) AS lo, max(x) AS hi FROM eb
      |      WHERE vec_id % 5 <> 4 GROUP BY pos),
      |cl AS (
      |  SELECT e.vec_id, e.pos,
      |    CASE WHEN e.x < d.lo OR e.x > d.hi THEN 1 ELSE 0 END AS c
      |  FROM eb e JOIN d USING (pos) WHERE e.vec_id % 5 = 4),
      |sh AS (
      |  SELECT e.vec_id, e.pos,
      |    CASE WHEN e.x * 3.0 + 2.0 < d.lo OR e.x * 3.0 + 2.0 > d.hi
      |      THEN 1 ELSE 0 END AS c
      |  FROM eb e JOIN d USING (pos) WHERE e.vec_id % 5 = 4)
      |SELECT * FROM (
      |  SELECT 'clean' AS phase,
      |    CAST(count(DISTINCT vec_id) AS BIGINT) AS n_vectors,
      |    CAST(count(*) AS BIGINT) AS n_components,
      |    CAST(sum(c) AS BIGINT) AS n_clamped,
      |    CAST(count(DISTINCT CASE WHEN c = 1 THEN pos END) AS BIGINT)
      |      AS n_dims_affected,
      |    CAST(sum(c) * 10000 // count(*) AS BIGINT) AS clamp_bps
      |  FROM cl
      |  UNION ALL
      |  SELECT 'shifted',
      |    CAST(count(DISTINCT vec_id) AS BIGINT),
      |    CAST(count(*) AS BIGINT),
      |    CAST(sum(c) AS BIGINT),
      |    CAST(count(DISTINCT CASE WHEN c = 1 THEN pos END) AS BIGINT),
      |    CAST(sum(c) * 10000 // count(*) AS BIGINT)
      |  FROM sh
      |) ORDER BY phase""".stripMargin)) { (s, dir) =>
    val emb = t(s, dir, "embeddings")
      .withColumn("embedding", col("embedding").cast("array<double>"))
    Similarity.buildIvfIndex(emb.filter(col("vec_id") % 5 =!= 4),
      "vec_id", "label", "embedding", "graft_x285_ivf")
    Similarity.buildIvfCodes(s, "graft_x285_ivf", "vec_id", "label",
      "embedding")
    val clean = emb.filter(col("vec_id") % 5 === 4)
    val shifted = clean.withColumn("embedding",
      expr("transform(embedding, e -> e * 3.0D + 2.0D)"))
    def stats(phase: String, b: org.apache.spark.sql.DataFrame) =
      Similarity.sqClampStats(s, "graft_x285_ivf", b, "vec_id",
          "embedding")
        .select(lit(phase).as("phase"), col("n_vectors"),
          col("n_components"), col("n_clamped"), col("n_dims_affected"),
          col("clamp_bps"))
    stats("clean", clean).unionByName(stats("shifted", shifted))
      .orderBy("phase")
  }

  // Closing the drift loop (x285 detects, x283 measures, refitIvfCodes
  // repairs): maintainIvfIndex is the POLICY op a scheduled ingest runs —
  // measure the batch's clamp bps against the frozen grid, append, and
  // refit only past the threshold. Two maintenance rounds: the clean
  // batch no-ops (grid_gen stays), the distribution-shifted one refits
  // (grid_gen +1). The oracle replays BOTH decisions from raw data —
  // including the phase-2 grid being conditional on phase 1's decision
  // (if the clean batch HAD refit, phase 2 would clamp against the
  // refit grid), so the threshold logic itself is what's gated, not a
  // hardcoded outcome.
  private val x287 = Q("x287_ivf_auto_maintenance", Some(
    """WITH eb AS (
      |  SELECT vec_id, u.i - 1 AS pos, CAST(embedding[u.i] AS DOUBLE) AS x
      |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)),
      |d0 AS (SELECT pos, min(x) AS lo, max(x) AS hi FROM eb
      |       WHERE vec_id % 5 <> 4 GROUP BY pos),
      |c1 AS (
      |  SELECT e.vec_id, e.pos,
      |    CASE WHEN e.x < d.lo OR e.x > d.hi THEN 1 ELSE 0 END AS c
      |  FROM eb e JOIN d0 d USING (pos) WHERE e.vec_id % 5 = 4),
      |s1 AS (
      |  SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS nv,
      |    CAST(count(*) AS BIGINT) AS nc,
      |    CAST(sum(c) AS BIGINT) AS ncl,
      |    CAST(count(DISTINCT CASE WHEN c = 1 THEN pos END) AS BIGINT)
      |      AS nd,
      |    CAST(sum(c) * 10000 // count(*) AS BIGINT) AS bps
      |  FROM c1),
      |r1 AS (SELECT CASE WHEN bps > 100 THEN 1 ELSE 0 END AS refit
      |       FROM s1),
      |dall AS (SELECT pos, min(x) AS lo, max(x) AS hi FROM eb GROUP BY pos),
      |d2 AS (
      |  SELECT b.pos,
      |    CASE WHEN (SELECT refit FROM r1) = 1 THEN a.lo ELSE b.lo END AS lo,
      |    CASE WHEN (SELECT refit FROM r1) = 1 THEN a.hi ELSE b.hi END AS hi
      |  FROM d0 b JOIN dall a USING (pos)),
      |c2 AS (
      |  SELECT e.vec_id, e.pos,
      |    CASE WHEN e.x * 3.0 + 2.0 < d.lo OR e.x * 3.0 + 2.0 > d.hi
      |      THEN 1 ELSE 0 END AS c
      |  FROM eb e JOIN d2 d USING (pos) WHERE e.vec_id % 5 = 4),
      |s2 AS (
      |  SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS nv,
      |    CAST(count(*) AS BIGINT) AS nc,
      |    CAST(sum(c) AS BIGINT) AS ncl,
      |    CAST(count(DISTINCT CASE WHEN c = 1 THEN pos END) AS BIGINT)
      |      AS nd,
      |    CAST(sum(c) * 10000 // count(*) AS BIGINT) AS bps
      |  FROM c2),
      |r2 AS (SELECT CASE WHEN bps > 100 THEN 1 ELSE 0 END AS refit
      |       FROM s2)
      |SELECT * FROM (
      |  SELECT '1_clean' AS phase, nv AS n_vectors, nc AS n_components,
      |    ncl AS n_clamped, nd AS n_dims_affected, bps AS clamp_bps,
      |    CAST(100 AS BIGINT) AS max_clamp_bps,
      |    CAST((SELECT refit FROM r1) AS BIGINT) AS refit,
      |    CAST(0 AS BIGINT) AS grid_gen_before,
      |    CAST((SELECT refit FROM r1) AS BIGINT) AS grid_gen_after
      |  FROM s1
      |  UNION ALL
      |  SELECT '2_shifted', nv, nc, ncl, nd, bps,
      |    CAST(100 AS BIGINT),
      |    CAST((SELECT refit FROM r2) AS BIGINT),
      |    CAST((SELECT refit FROM r1) AS BIGINT),
      |    CAST((SELECT refit FROM r1) + (SELECT refit FROM r2) AS BIGINT)
      |  FROM s2
      |) ORDER BY phase""".stripMargin)) { (s, dir) =>
    val emb = t(s, dir, "embeddings")
      .withColumn("embedding", col("embedding").cast("array<double>"))
    Similarity.buildIvfIndex(emb.filter(col("vec_id") % 5 =!= 4),
      "vec_id", "label", "embedding", "graft_x287_ivf")
    Similarity.buildIvfCodes(s, "graft_x287_ivf", "vec_id", "label",
      "embedding")
    val clean = emb.filter(col("vec_id") % 5 === 4)
    // the drifted batch carries FRESH ids (a later crawl, disjoint from
    // every corpus id) — count columns in the gate are id-free, so the
    // offset never enters the oracle
    val shifted = clean.select((col("vec_id") + 10000000L).as("vec_id"),
      col("label"),
      expr("transform(embedding, e -> e * 3.0D + 2.0D)").as("embedding"))
    def decide(phase: String, b: org.apache.spark.sql.DataFrame) =
      Similarity.maintainIvfIndex(s, "graft_x287_ivf", b, "vec_id",
          "label", "embedding", maxClampBps = 100L)
        .select(lit(phase).as("phase"), col("n_vectors"),
          col("n_components"), col("n_clamped"), col("n_dims_affected"),
          col("clamp_bps"), col("max_clamp_bps"), col("refit"),
          col("grid_gen_before"), col("grid_gen_after"))
    decide("1_clean", clean).unionByName(decide("2_shifted", shifted))
      .orderBy("phase")
  }

  // The append-chain corpus shared by x292/x293: a balanced batch
  // (natural labels, fresh +10M ids), then a HOT batch (same vectors
  // again, all forced into cell 0, +20M ids) — the skewed-stream shape
  // x257 measured, arriving through the policy op instead of a manual
  // rebalance call.
  private val x292EmbSql =
    """SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label AS cell
      |  FROM embeddings WHERE vec_id % 4 <> 3
      |  UNION ALL
      |  SELECT vec_id + 10000000, CAST(embedding AS DOUBLE[]) AS v, label
      |  FROM embeddings WHERE vec_id % 4 = 3
      |  UNION ALL
      |  SELECT vec_id + 20000000, CAST(embedding AS DOUBLE[]) AS v, 0
      |  FROM embeddings WHERE vec_id % 4 = 3""".stripMargin

  private def x292Chain(s: org.apache.spark.sql.SparkSession,
      dir: String, table: String): org.apache.spark.sql.DataFrame = {
    val emb = t(s, dir, "embeddings")
      .withColumn("embedding", col("embedding").cast("array<double>"))
    Similarity.buildIvfIndex(emb.filter(col("vec_id") % 4 =!= 3),
      "vec_id", "label", "embedding", table)
    emb
  }

  private def x292B1(emb: org.apache.spark.sql.DataFrame) =
    emb.filter(col("vec_id") % 4 === 3)
      .select((col("vec_id") + 10000000L).as("vec_id"), col("label"),
        col("embedding"))

  private def x292B2(emb: org.apache.spark.sql.DataFrame) =
    emb.filter(col("vec_id") % 4 === 3)
      .select((col("vec_id") + 20000000L).as("vec_id"),
        lit(0).cast("int").as("label"), col("embedding"))

  // Cell-occupancy auto-maintenance — the third drift loop closed as
  // policy (grid drift = x287, tombstone debt = x290): maintainIvfCells
  // appends, measures post-append occupancy skew (max·10000·cells/total
  // bps off the |cells|-bounded state), and rebalances only past the
  // threshold, carrying the codes companion through. The balanced batch
  // no-ops (~11800 bps); the hot-cell batch (~28000 bps) rebalances.
  // The oracle replays both decisions from raw data — occupancy stats,
  // the integer bps arithmetic, the threshold comparison, the gen
  // chain — and the REALIZED after-state: the compacting branch's
  // n_cells/occ_max come from the full DuckDB rebalance replay
  // (splits/merges/reroute/md5-half split, the x258 machinery) over the
  // same corpus; the not-taken branch of phase 1 is pinned to a -1
  // sentinel, so any divergence in the decision path flips the hash
  // loudly rather than silently replaying the wrong branch.
  private val x292 = Q("x292_ivf_cell_auto_maintenance", Some(
    s"""WITH ${ivfRebalanceCteOver(x292EmbSql)},
       |occ1 AS (SELECT cell, count(*) AS n FROM emb
       |         WHERE vec_id < 20000000 GROUP BY cell),
       |s1 AS (SELECT CAST(count(*) AS BIGINT) AS nc,
       |         CAST(sum(n) AS BIGINT) AS tot,
       |         CAST(max(n) AS BIGINT) AS mx FROM occ1),
       |s2 AS (SELECT CAST(count(*) AS BIGINT) AS nc,
       |         CAST(sum(n) AS BIGINT) AS tot,
       |         CAST(max(n) AS BIGINT) AS mx FROM sizes),
       |d1 AS (SELECT mx * 10000 * nc // tot AS bps,
       |         CASE WHEN mx * 10000 * nc // tot > 20000 THEN 1 ELSE 0
       |           END AS r, s1.* FROM s1),
       |d2 AS (SELECT mx * 10000 * nc // tot AS bps,
       |         CASE WHEN mx * 10000 * nc // tot > 20000 THEN 1 ELSE 0
       |           END AS r, s2.* FROM s2),
       |b1n AS (SELECT CAST(count(*) AS BIGINT) AS nv FROM emb
       |        WHERE vec_id >= 10000000 AND vec_id < 20000000),
       |b2n AS (SELECT CAST(count(*) AS BIGINT) AS nv FROM emb
       |        WHERE vec_id >= 20000000),
       |fin AS (SELECT CAST(count(*) AS BIGINT) AS nc,
       |          CAST(max(n) AS BIGINT) AS mx
       |        FROM (SELECT cell, count(*) AS n FROM final GROUP BY cell))
       |SELECT * FROM (
       |  SELECT '1_balanced' AS phase, (SELECT nv FROM b1n) AS n_vectors,
       |    nc AS n_cells, tot AS occ_total, mx AS occ_max,
       |    bps AS skew_bps, CAST(20000 AS BIGINT) AS max_skew_bps,
       |    CAST(r AS BIGINT) AS rebalanced,
       |    CASE WHEN r = 1 THEN CAST(-1 AS BIGINT) ELSE nc END
       |      AS n_cells_after,
       |    CASE WHEN r = 1 THEN CAST(-1 AS BIGINT) ELSE mx END
       |      AS occ_max_after,
       |    CAST(0 AS BIGINT) AS rebalance_gen_before,
       |    CAST(r AS BIGINT) AS rebalance_gen_after
       |  FROM d1
       |  UNION ALL
       |  SELECT '2_hot_cell', (SELECT nv FROM b2n), nc, tot, mx, bps,
       |    CAST(20000 AS BIGINT), CAST(r AS BIGINT),
       |    CASE WHEN r = 1 THEN (SELECT nc FROM fin) ELSE nc END,
       |    CASE WHEN r = 1 THEN (SELECT mx FROM fin) ELSE mx END,
       |    CAST((SELECT r FROM d1) AS BIGINT),
       |    CAST((SELECT r FROM d1) + r AS BIGINT)
       |  FROM d2
       |) ORDER BY phase""".stripMargin)) { (s, dir) =>
    val emb = x292Chain(s, dir, "graft_x292_ivf")
    def decide(phase: String, b: org.apache.spark.sql.DataFrame) =
      Similarity.maintainIvfCells(s, "graft_x292_ivf", b, "vec_id",
          "label", "embedding", maxSkewBps = 20000L)
        .select(lit(phase).as("phase"), col("n_vectors"), col("n_cells"),
          col("occ_total"), col("occ_max"), col("skew_bps"),
          col("max_skew_bps"), col("rebalanced"), col("n_cells_after"),
          col("occ_max_after"), col("rebalance_gen_before"),
          col("rebalance_gen_after"))
    decide("1_balanced", x292B1(emb))
      .unionByName(decide("2_hot_cell", x292B2(emb)))
      .orderBy("phase")
  }

  // Recall gate around the SAME policy chain (x269's machinery): serve
  // the skewed post-append index, let maintainIvfCells (empty sweep
  // batch — pure measurement) trigger the rebalance, serve again; both
  // recalls vs brute force are replayed — the before-probe over the
  // hot-cell assignment, the after-probe over the full rebalance
  // replay's final cells.
  private val x293 = Q("x293_ivf_cell_maintenance_recall", Some(
    s"""WITH ${ivfRebalanceCteOver(x292EmbSql)},
       |bcent AS (
       |  SELECT e.cell, r.i,
       |    CAST(sum(CAST(v[r.i] AS DECIMAL(28,18))) AS DOUBLE) / count(*)
       |      AS cv
       |  FROM emb e CROSS JOIN range(1, 65) AS r(i)
       |  GROUP BY e.cell, r.i),
       |bscore AS (
       |  SELECT cell,
       |    sum(cv * q.qv[i]) / (sqrt(sum(cv * cv)) *
       |      sqrt((SELECT list_dot_product(qv, qv) FROM q))) AS cs
       |  FROM bcent, q GROUP BY cell),
       |bprobe AS (SELECT cell FROM bscore ORDER BY cs DESC, cell LIMIT 3),
       |approx_b AS (
       |  SELECT e.vec_id FROM emb e, q
       |  WHERE e.cell IN (SELECT cell FROM bprobe)
       |  ORDER BY list_dot_product(e.v, q.qv) /
       |      (sqrt(list_dot_product(e.v, e.v)) *
       |       sqrt(list_dot_product(q.qv, q.qv))) DESC, vec_id
       |  LIMIT 10),
       |approx_a AS (
       |  SELECT f.vec_id FROM final f, q
       |  WHERE f.cell IN (SELECT cell FROM probe)
       |  ORDER BY list_dot_product(f.v, q.qv) /
       |      (sqrt(list_dot_product(f.v, f.v)) *
       |       sqrt(list_dot_product(q.qv, q.qv))) DESC, vec_id
       |  LIMIT 10),
       |exact AS (
       |  SELECT e.vec_id FROM emb e, q
       |  ORDER BY list_dot_product(e.v, q.qv) /
       |      (sqrt(list_dot_product(e.v, e.v)) *
       |       sqrt(list_dot_product(q.qv, q.qv))) DESC, vec_id
       |  LIMIT 10)
       |SELECT * FROM (
       |  SELECT '1_before' AS phase, CAST(0 AS BIGINT) AS query_id,
       |    CAST(count(*) AS BIGINT) AS n_exact,
       |    CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_hit,
       |    round(CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0
       |      END) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS recall
       |  FROM exact e LEFT JOIN approx_b a USING (vec_id)
       |  UNION ALL
       |  SELECT '2_after', CAST(0 AS BIGINT),
       |    CAST(count(*) AS BIGINT),
       |    CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
       |      AS BIGINT),
       |    round(CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0
       |      END) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
       |  FROM exact e LEFT JOIN approx_a a USING (vec_id)
       |) ORDER BY phase""".stripMargin)) { (s, dir) =>
    val emb = x292Chain(s, dir, "graft_x293_ivf")
    Similarity.appendToIvfIndex(x292B1(emb), "vec_id", "label",
      "embedding", "graft_x293_ivf")
    Similarity.appendToIvfIndex(x292B2(emb), "vec_id", "label",
      "embedding", "graft_x293_ivf")
    val all = emb.filter(col("vec_id") % 4 =!= 3)
      .select(col("vec_id"), col("embedding"))
      .unionByName(x292B1(emb).select("vec_id", "embedding"))
      .unionByName(x292B2(emb).select("vec_id", "embedding"))
    val q = emb.filter(col("vec_id") === 0)
    val exact = Similarity.bruteForceTopK(all, "vec_id", "embedding",
        q, k = 10)
      .select(lit(0L).as("query_id"), col("vec_id"))
    def recallRow(phase: String) = graft.operators.Retrieval
      .rankingRecall(exact,
        Similarity.ivfTopKIndexed(s, "graft_x293_ivf", "vec_id", "label",
            "embedding", q, k = 10, nprobe = 3)
          .select(lit(0L).as("query_id"), col("vec_id")),
        "query_id", "vec_id")
      .select(lit(phase).as("phase"), col("query_id"), col("n_exact"),
        col("n_hit"), col("recall"))
      .localCheckpoint(eager = true) // served against the CURRENT index
    val before = recallRow("1_before")
    val dec = Similarity.maintainIvfCells(s, "graft_x293_ivf",
      x292B2(emb).filter(lit(false)), "vec_id", "label", "embedding",
      maxSkewBps = 20000L).head()
    require(dec.getAs[Long]("rebalanced") == 1L,
      "x293 expects the sweep to rebalance")
    before.unionByName(recallRow("2_after")).orderBy("phase")
  }

  val qs: Seq[Q] =
    Seq(x1, x2, x3, x4, x5, x6, x7, x8, x9, x10, x11, x12, x13, x14, x15, x16,
      x17, x18, x19, x20, x21, x22, x23, x24, x25, x26, x27, x28, x29, x30, x42,
      x31, x55, x58, x61, x64, x67, x69, x71, x75, x76, x85, x90, x96, x109,
      x114, x117, x122, x123, x127, x128, x129, x130, x132, x148, x159, x160,
      x183, x198, x210, x211, x221, x224, x226, x230, x231, x232, x238, x239,
      x240, x242, x257, x258, x268, x269, x275, x276, x279, x280, x283, x285,
      x287, x292, x293)
}
