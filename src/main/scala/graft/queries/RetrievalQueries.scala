package graft.queries

import graft.io.LocalWrites
import graft.operators.{Retrieval, Similarity}
import graft.streaming.Replay
import org.apache.spark.sql.functions._

import Tables.t

/** Round-7 retrieval family: BM25 ranked search, reciprocal-rank fusion of
  * sparse + dense rankings (hybrid search), and nDCG ranking evaluation.
  * Every oracle replays the full scoring pipeline in DuckDB — identical
  * tokenization, the same IEEE op sequence per term, DECIMAL(28,18)
  * quantization before every order-sensitive sum, and id tie-breaks at
  * every rank boundary. */
object RetrievalQueries {

  /** DuckDB twin of Dedup.words over a column named `text`. */
  private val WORDS =
    """list_filter(string_split_regex(regexp_replace(lower(text),
      |  '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '')""".stripMargin

  /** The BM25 scoring CTE chain (k1 = 1.2, b = 0.75): corpus = documents
    * with doc_id >= 5, queries = documents with doc_id < `nQueries`. Ends
    * at `ranked(query_id, doc_id, score, matched_terms, rank)` with rank
    * <= `k`. Mirrors Retrieval.bm25TopK term for term. */
  // `sfx` suffixes every CTE name so two instantiations (different
  // corpus slices — the x286 lifecycle phases) can share one WITH.
  private def bm25Cte(nQueries: Int, k: Int,
      corpusWhere: String = "doc_id >= 5", qtSql: String = null,
      sfx: String = ""): String =
    s"""ct$sfx AS (
       |  SELECT doc_id AS doc, u.w AS token
       |  FROM (SELECT doc_id, $WORDS AS ws FROM documents WHERE $corpusWhere),
       |    unnest(ws) AS u(w)),
       |tf$sfx AS (SELECT doc, token, count(*) AS tf FROM ct$sfx GROUP BY 1, 2),
       |tfdl$sfx AS (
       |  SELECT doc, token, tf, sum(tf) OVER (PARTITION BY doc) AS dl
       |  FROM tf$sfx),
       |dfq$sfx AS (SELECT token, count(*) AS df FROM tf$sfx GROUP BY token),
       |stats$sfx AS (
       |  SELECT count(*) AS n_corpus,
       |    CAST(sum(len($WORDS)) AS BIGINT) AS total_dl
       |  FROM documents WHERE $corpusWhere),
       |qt$sfx AS (${Option(qtSql).getOrElse(
      s"""
       |  SELECT DISTINCT doc_id AS query_id, u.w AS token
       |  FROM (SELECT doc_id, $WORDS AS ws FROM documents
       |        WHERE doc_id < $nQueries), unnest(ws) AS u(w)""")}),
       |terms$sfx AS (
       |  SELECT qt$sfx.query_id, tfdl$sfx.doc,
       |    CAST(ln(1.0::DOUBLE +
       |        (CAST(n_corpus AS DOUBLE) - CAST(df AS DOUBLE) + 0.5::DOUBLE)
       |        / (CAST(df AS DOUBLE) + 0.5::DOUBLE))
       |      * (CAST(tf AS DOUBLE) * 2.2::DOUBLE)
       |      / (CAST(tf AS DOUBLE) + 1.2::DOUBLE *
       |          (0.25::DOUBLE + 0.75::DOUBLE * CAST(dl AS DOUBLE)
       |            / (CAST(total_dl AS DOUBLE) / CAST(n_corpus AS DOUBLE))))
       |      AS DECIMAL(28,18)) AS term
       |  FROM tfdl$sfx JOIN qt$sfx USING (token) JOIN dfq$sfx USING (token),
       |    stats$sfx),
       |scored$sfx AS (
       |  SELECT query_id, doc, sum(term) AS s,
       |    CAST(count(*) AS BIGINT) AS matched_terms
       |  FROM terms$sfx GROUP BY 1, 2),
       |ranked$sfx AS (
       |  SELECT query_id, doc AS doc_id, round(CAST(s AS DOUBLE), 4) AS score,
       |    matched_terms,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY s DESC, doc) AS INT) AS rank
       |  FROM scored$sfx QUALIFY rank <= $k)""".stripMargin

  // BM25 top-5 per query: 5 query docs against the rest of the corpus.
  // The oracle replays tokenize → tf → windowed dl → df → the exact
  // Robertson idf × saturation term (same op order, DECIMAL-quantized
  // before the per-(query, doc) sum) → the id-tiebroken rank boundary.
  private val x171 = Q("x171_bm25_topk", Some(
    s"""WITH ${bm25Cte(nQueries = 5, k = 5)}
       |SELECT * FROM ranked ORDER BY query_id, rank""".stripMargin)) {
    (s, dir) =>
      val d = t(s, dir, "documents")
      Retrieval.bm25TopK(d.filter(col("doc_id") >= 5), "doc_id", "text",
          d.filter(col("doc_id") < 5), "doc_id", "text", k = 5)
        .orderBy("query_id", "rank")
  }

  // Hybrid search: BM25 top-20 over documents fused with dense cosine
  // top-20 over embeddings by reciprocal-rank fusion (integer ⌊10⁹/(60+r)⌋
  // contributions — bit-stable fusion, no float scales to reconcile).
  // Item spaces overlap only partially (vec ids are a subset of doc ids)
  // — exactly the real hybrid-search shape. The oracle replays BOTH
  // rankings end to end and the integer fusion arithmetic.
  private val x172 = Q("x172_hybrid_rrf", Some(
    s"""WITH ${bm25Cte(nQueries = 3, k = 20)},
       |dq AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
       |       FROM embeddings WHERE vec_id < 3),
       |dr AS (
       |  SELECT query_id, vec_id AS item_id,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY
       |      list_dot_product(CAST(embedding AS DOUBLE[]), qv) /
       |        (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
       |           CAST(embedding AS DOUBLE[]))) * sqrt(list_dot_product(qv, qv)))
       |      DESC, vec_id) AS INT) AS rank
       |  FROM embeddings, dq WHERE vec_id >= 5
       |  QUALIFY rank <= 20),
       |contribs AS (
       |  SELECT query_id, doc_id AS item_id, 1000000000 // (60 + rank) AS c
       |  FROM ranked
       |  UNION ALL
       |  SELECT query_id, item_id, 1000000000 // (60 + rank) FROM dr),
       |fused AS (
       |  SELECT query_id, item_id, CAST(sum(c) AS BIGINT) AS rrf_ppb,
       |    CAST(count(*) AS BIGINT) AS n_lists
       |  FROM contribs GROUP BY 1, 2)
       |SELECT query_id, item_id, rrf_ppb, n_lists,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY rrf_ppb DESC, item_id) AS INT) AS rank
       |FROM fused QUALIFY rank <= 10 ORDER BY query_id, rank""".stripMargin)) {
    (s, dir) =>
      val d = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val sparse = Retrieval.bm25TopK(d.filter(col("doc_id") >= 5), "doc_id",
          "text", d.filter(col("doc_id") < 3), "doc_id", "text", k = 20)
        .select(col("query_id"), col("doc_id").as("item"), col("rank"))
      val dense = Similarity.bruteForceTopKBatch(
          emb.filter(col("vec_id") >= 5), "vec_id", "embedding",
          emb.filter(col("vec_id") < 3), "vec_id", k = 20)
        .select(col("query_id"), col("vec_id").as("item"), col("rank"))
      Retrieval.rrfFuse(Seq(sparse, dense), "query_id", "item", "rank",
          kRrf = 60, topK = 10)
        .orderBy("query_id", "rank")
  }

  // Ranking evaluation: nDCG@10 of the exact dense ranking, with relevance
  // = shared cluster label (the embeddings fixture's ground truth). The
  // oracle replays the cosine ranking, the rel join, both DECIMAL-quantized
  // discounted sums (ln-based log₂ with a shared ln2 literal), and the
  // ideal re-rank.
  private val x173 = Q("x173_ndcg_label", Some(
    """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv,
      |             label AS qlabel
      |           FROM embeddings WHERE vec_id < 5),
      |ranked AS (
      |  SELECT query_id, qlabel, vec_id AS item_id, label,
      |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY
      |      list_dot_product(CAST(embedding AS DOUBLE[]), qv) /
      |        (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
      |           CAST(embedding AS DOUBLE[]))) * sqrt(list_dot_product(qv, qv)))
      |      DESC, vec_id) AS INT) AS r
      |  FROM embeddings, q WHERE vec_id >= 5
      |  QUALIFY r <= 10),
      |dcg AS (
      |  SELECT query_id,
      |    sum(CAST(CASE WHEN label = qlabel THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END
      |      / ln(CAST(r AS DOUBLE) + 1.0::DOUBLE) * 0.6931471805599453
      |      AS DECIMAL(28,18))) AS dcg_d,
      |    CAST(count(*) AS BIGINT) AS n_ranked
      |  FROM ranked GROUP BY query_id),
      |rel AS (
      |  SELECT q.query_id, e.vec_id AS item_id,
      |    CAST(row_number() OVER (PARTITION BY q.query_id
      |      ORDER BY e.vec_id) AS INT) AS ir
      |  FROM embeddings e JOIN q ON e.label = q.qlabel AND e.vec_id >= 5),
      |idcg AS (
      |  SELECT query_id,
      |    sum(CASE WHEN ir <= 10 THEN
      |      CAST(1.0::DOUBLE / ln(CAST(ir AS DOUBLE) + 1.0::DOUBLE)
      |        * 0.6931471805599453 AS DECIMAL(28,18)) END) AS idcg_d,
      |    CAST(count(*) AS BIGINT) AS n_relevant
      |  FROM rel GROUP BY query_id)
      |SELECT d.query_id, d.n_ranked,
      |  CAST(COALESCE(i.n_relevant, 0) AS BIGINT) AS n_relevant,
      |  round(CAST(d.dcg_d AS DOUBLE), 4) AS dcg,
      |  round(CAST(COALESCE(i.idcg_d, 0.0) AS DOUBLE), 4) AS idcg,
      |  round(CAST(d.dcg_d AS DOUBLE) / CAST(i.idcg_d AS DOUBLE), 4) AS ndcg
      |FROM dcg d LEFT JOIN idcg i USING (query_id)
      |ORDER BY query_id""".stripMargin)) { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    val corpus = emb.filter(col("vec_id") >= 5)
    val queries = emb.filter(col("vec_id") < 5)
    val ranked = Similarity.bruteForceTopKBatch(corpus, "vec_id", "embedding",
      queries, "vec_id", k = 10)
    val truth = queries.select(col("vec_id").as("qid"), col("label"))
      .join(corpus.select(col("vec_id").as("item"), col("label")), "label")
      .select(col("qid"), col("item"), lit(1.0).as("rel"))
    Retrieval.ndcgAtK(ranked, "query_id", "vec_id", "rank",
        truth, "qid", "item", "rel", k = 10)
      .orderBy("query_id")
  }

  // Dirichlet query likelihood (μ=300 against the ~54-token synthetic
  // docs; production retunes freely): the other canonical sparse scorer,
  // in its postings-only decomposition (matching-term sum + per-doc
  // length normalizer — rank-identical to full QL, candidates from
  // postings only). The oracle replays tf/dl/cf/|C|, the exact term
  // arithmetic (same IEEE op order, DECIMAL-quantized sums), the
  // normalizer, and the id-tiebroken rank boundary.
  private val x174 = Q("x174_query_likelihood", Some(
    s"""WITH ct AS (
       |  SELECT doc_id AS doc, u.w AS token
       |  FROM (SELECT doc_id, $WORDS AS ws FROM documents WHERE doc_id >= 5),
       |    unnest(ws) AS u(w)),
       |tf AS (SELECT doc, token, count(*) AS tf FROM ct GROUP BY 1, 2),
       |tfdl AS (
       |  SELECT doc, token, tf, sum(tf) OVER (PARTITION BY doc) AS dl FROM tf),
       |cfq AS (SELECT token, CAST(sum(tf) AS BIGINT) AS cf FROM tf
       |        GROUP BY token),
       |stats AS (
       |  SELECT CAST(sum(len($WORDS)) AS BIGINT) AS total_c
       |  FROM documents WHERE doc_id >= 5),
       |qt AS (
       |  SELECT doc_id AS query_id, u.w AS token, count(*) AS qtf
       |  FROM (SELECT doc_id, $WORDS AS ws FROM documents WHERE doc_id < 5),
       |    unnest(ws) AS u(w)
       |  GROUP BY 1, 2),
       |qtl AS (
       |  SELECT query_id, token, qtf,
       |    sum(qtf) OVER (PARTITION BY query_id) AS qlen FROM qt),
       |terms AS (
       |  SELECT qtl.query_id, tfdl.doc, tfdl.dl, qtl.qlen,
       |    CAST(CAST(qtf AS DOUBLE) *
       |      ln(1.0::DOUBLE + CAST(tf AS DOUBLE) * CAST(total_c AS DOUBLE)
       |        / (300.0::DOUBLE * CAST(cf AS DOUBLE)))
       |      AS DECIMAL(28,18)) AS term
       |  FROM tfdl JOIN qtl USING (token) JOIN cfq USING (token), stats),
       |scored AS (
       |  SELECT query_id, doc,
       |    sum(term) + CAST(CAST(max(qlen) AS DOUBLE) *
       |      ln(300.0::DOUBLE / (CAST(max(dl) AS DOUBLE) + 300.0::DOUBLE))
       |      AS DECIMAL(28,18)) AS s,
       |    CAST(count(*) AS BIGINT) AS matched_terms
       |  FROM terms GROUP BY 1, 2),
       |ranked AS (
       |  SELECT query_id, doc AS doc_id, round(CAST(s AS DOUBLE), 4) AS score,
       |    matched_terms,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY s DESC, doc) AS INT) AS rank
       |  FROM scored QUALIFY rank <= 5)
       |SELECT * FROM ranked ORDER BY query_id, rank""".stripMargin)) {
    (s, dir) =>
      val d = t(s, dir, "documents")
      Retrieval.queryLikelihoodTopK(d.filter(col("doc_id") >= 5), "doc_id",
          "text", d.filter(col("doc_id") < 5), "doc_id", "text", k = 5,
          mu = 300.0)
        .orderBy("query_id", "rank")
  }

  // MRR + recall@10 of the exact dense ranking against cluster-label
  // relevance — the binary-metric companion of x173, all integer-exact
  // (⌊10⁹/rank⌋ reciprocal ranks, basis-point recall). The oracle replays
  // the cosine ranking, the first-relevant boundary, and the integer
  // metric arithmetic.
  private val x175 = Q("x175_mrr_recall", Some(
    """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv,
      |             label AS qlabel
      |           FROM embeddings WHERE vec_id < 5),
      |ranked AS (
      |  SELECT query_id, qlabel, vec_id AS item_id, label,
      |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY
      |      list_dot_product(CAST(embedding AS DOUBLE[]), qv) /
      |        (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
      |           CAST(embedding AS DOUBLE[]))) * sqrt(list_dot_product(qv, qv)))
      |      DESC, vec_id) AS INT) AS r
      |  FROM embeddings, q WHERE vec_id >= 5
      |  QUALIFY r <= 10),
      |hits AS (
      |  SELECT query_id, CAST(min(r) AS BIGINT) AS first_rel_rank,
      |    CAST(count(*) AS BIGINT) AS hits_at_k
      |  FROM ranked WHERE label = qlabel GROUP BY query_id),
      |nrel AS (
      |  SELECT q.query_id, CAST(count(*) AS BIGINT) AS n_relevant
      |  FROM embeddings e JOIN q ON e.label = q.qlabel AND e.vec_id >= 5
      |  GROUP BY q.query_id),
      |cnt AS (
      |  SELECT query_id, CAST(count(*) AS BIGINT) AS n_ranked
      |  FROM ranked GROUP BY query_id),
      |base AS (
      |  SELECT query_id, CAST(COALESCE(n_ranked, 0) AS BIGINT) AS n_ranked
      |  FROM (SELECT query_id FROM ranked UNION
      |        SELECT query_id FROM nrel) u LEFT JOIN cnt USING (query_id))
      |SELECT b.query_id, b.n_ranked, h.first_rel_rank,
      |  CAST(COALESCE(1000000000 // h.first_rel_rank, 0) AS BIGINT) AS rr_ppb,
      |  CAST(COALESCE(h.hits_at_k, 0) AS BIGINT) AS hits_at_k,
      |  CAST(COALESCE(n.n_relevant, 0) AS BIGINT) AS n_relevant,
      |  CAST(COALESCE(h.hits_at_k, 0) * 10000 // nullif(n.n_relevant, 0)
      |    AS BIGINT) AS recall_bps
      |FROM base b LEFT JOIN hits h USING (query_id)
      |  LEFT JOIN nrel n USING (query_id)
      |ORDER BY b.query_id""".stripMargin)) { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    val corpus = emb.filter(col("vec_id") >= 5)
    val queries = emb.filter(col("vec_id") < 5)
    val ranked = Similarity.bruteForceTopKBatch(corpus, "vec_id", "embedding",
      queries, "vec_id", k = 10)
    val truth = queries.select(col("vec_id").as("qid"), col("label"))
      .join(corpus.select(col("vec_id").as("item"), col("label")), "label")
      .select(col("qid"), col("item"))
    Retrieval.evalRanking(ranked, "query_id", "vec_id", "rank",
        truth, "qid", "item", k = 10)
      .orderBy("query_id")
  }

  // Materialized-index BM25: build the bucketed postings table once
  // (token, doc, tf, dl, df, cf + 1-row stats), then score the same 5
  // queries from the index — zero corpus-side shuffles, zero
  // re-tokenization in the scoring plan (PlanRegressionSpec). The oracle
  // is x171's, verbatim: the index path must be output-IDENTICAL to the
  // from-scratch scorer.
  private val x181 = Q("x181_bm25_indexed", Some(
    s"""WITH ${bm25Cte(nQueries = 5, k = 5)}
       |SELECT * FROM ranked ORDER BY query_id, rank""".stripMargin)) {
    (s, dir) =>
      val d = t(s, dir, "documents")
      Retrieval.buildPostingsIndex(d.filter(col("doc_id") >= 5), "doc_id",
        "text", "graft_x181_postings")
      Retrieval.bm25TopKIndexed(s, "graft_x181_postings",
          d.filter(col("doc_id") < 5), "doc_id", "text", k = 5)
        .orderBy("query_id", "rank")
  }

  // Incremental postings-index maintenance, gated with the x60 IVM
  // equality pattern: build the index on 80% of the corpus (doc_id % 5
  // != 4), APPEND the remaining 20% batch (batch-only tokenization +
  // bucketed append + vocabulary-sized df/cf merge — the corpus-sized
  // postings are read by nothing in the append path), then score the
  // same 5 queries. The oracle is x171's FULL-corpus BM25 verbatim:
  // append-then-query must equal rebuild-then-query must equal the
  // from-scratch scorer, exactly (tf/dl are per-doc, df/cf merge as
  // integer sums — no approximation anywhere).
  private val x209 = Q("x209_postings_append", Some(
    s"""WITH ${bm25Cte(nQueries = 5, k = 5)}
       |SELECT * FROM ranked ORDER BY query_id, rank""".stripMargin)) {
    (s, dir) =>
      val d = t(s, dir, "documents")
      val corpus = d.filter(col("doc_id") >= 5)
      Retrieval.buildPostingsIndex(corpus.filter(col("doc_id") % 5 =!= 4),
        "doc_id", "text", "graft_x209_postings")
      Retrieval.appendToPostingsIndex(
        corpus.filter(col("doc_id") % 5 === 4),
        "doc_id", "text", "graft_x209_postings")
      Retrieval.bm25TopKIndexed(s, "graft_x209_postings",
          d.filter(col("doc_id") < 5), "doc_id", "text", k = 5)
        .orderBy("query_id", "rank")
  }

  // Champion-list (impact-ordered) approximate BM25: per-token top-8
  // impact lists materialized from the postings index, the 5 queries
  // served ENTIRELY from that bounded table (sum of champion impacts;
  // terms whose list misses a doc contribute nothing — the documented
  // IIR §7.1.3 approximation). The oracle replays tokenize → tf/dl/df →
  // the quantized impact → the per-token top-8 window (impact DESC, doc
  // tie-break) → the champion-only score sum → the id-tiebroken rank.
  private val x217 = Q("x217_champion_topk", Some(
    s"""WITH ct AS (
       |  SELECT doc_id AS doc, u.w AS token
       |  FROM (SELECT doc_id, $WORDS AS ws FROM documents WHERE doc_id >= 5),
       |    unnest(ws) AS u(w)),
       |tf AS (SELECT doc, token, count(*) AS tf FROM ct GROUP BY 1, 2),
       |tfdl AS (
       |  SELECT doc, token, tf, sum(tf) OVER (PARTITION BY doc) AS dl FROM tf),
       |dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
       |stats AS (
       |  SELECT count(*) AS n_corpus,
       |    CAST(sum(len($WORDS)) AS BIGINT) AS total_dl
       |  FROM documents WHERE doc_id >= 5),
       |imp AS (
       |  SELECT tfdl.token, tfdl.doc,
       |    CAST(ln(1.0::DOUBLE +
       |        (CAST(n_corpus AS DOUBLE) - CAST(df AS DOUBLE) + 0.5::DOUBLE)
       |        / (CAST(df AS DOUBLE) + 0.5::DOUBLE))
       |      * (CAST(tf AS DOUBLE) * 2.2::DOUBLE)
       |      / (CAST(tf AS DOUBLE) + 1.2::DOUBLE *
       |          (0.25::DOUBLE + 0.75::DOUBLE * CAST(dl AS DOUBLE)
       |            / (CAST(total_dl AS DOUBLE) / CAST(n_corpus AS DOUBLE))))
       |      AS DECIMAL(28,18)) AS impact
       |  FROM tfdl JOIN dfq USING (token), stats),
       |champ AS (
       |  SELECT token, doc, impact,
       |    row_number() OVER (PARTITION BY token
       |      ORDER BY impact DESC, doc) AS r
       |  FROM imp QUALIFY r <= 8),
       |qt AS (
       |  SELECT DISTINCT doc_id AS query_id, u.w AS token
       |  FROM (SELECT doc_id, $WORDS AS ws FROM documents
       |        WHERE doc_id < 5), unnest(ws) AS u(w)),
       |scored AS (
       |  SELECT query_id, doc, sum(impact) AS s,
       |    CAST(count(*) AS BIGINT) AS matched_terms
       |  FROM champ JOIN qt USING (token) GROUP BY 1, 2),
       |ranked AS (
       |  SELECT query_id, doc AS doc_id, round(CAST(s AS DOUBLE), 4) AS score,
       |    matched_terms,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY s DESC, doc) AS INT) AS rank
       |  FROM scored QUALIFY rank <= 5)
       |SELECT * FROM ranked ORDER BY query_id, rank""".stripMargin)) {
    (s, dir) =>
      val d = t(s, dir, "documents")
      Retrieval.buildPostingsIndex(d.filter(col("doc_id") >= 5), "doc_id",
        "text", "graft_x217_postings")
      Retrieval.buildChampionLists(s, "graft_x217_postings", topN = 8)
      Retrieval.championTopK(s, "graft_x217_postings",
          d.filter(col("doc_id") < 5), "doc_id", "text", k = 5)
        .orderBy("query_id", "rank")
  }

  // The honesty gate for champion-list pruning: per-query recall@5 of the
  // champion ranking against exact indexed BM25 on the same index. The
  // oracle replays BOTH pipelines (they share the tokenize/tf/df/stats
  // CTEs) plus the left-join recall aggregate — integer hit counts, one
  // double division.
  private val x218 = Q("x218_champion_recall", Some(
    s"""WITH ${bm25Cte(nQueries = 5, k = 5)},
       |imp AS (
       |  SELECT tfdl.token, tfdl.doc,
       |    CAST(ln(1.0::DOUBLE +
       |        (CAST(n_corpus AS DOUBLE) - CAST(df AS DOUBLE) + 0.5::DOUBLE)
       |        / (CAST(df AS DOUBLE) + 0.5::DOUBLE))
       |      * (CAST(tf AS DOUBLE) * 2.2::DOUBLE)
       |      / (CAST(tf AS DOUBLE) + 1.2::DOUBLE *
       |          (0.25::DOUBLE + 0.75::DOUBLE * CAST(dl AS DOUBLE)
       |            / (CAST(total_dl AS DOUBLE) / CAST(n_corpus AS DOUBLE))))
       |      AS DECIMAL(28,18)) AS impact
       |  FROM tfdl JOIN dfq USING (token), stats),
       |champ AS (
       |  SELECT token, doc, impact,
       |    row_number() OVER (PARTITION BY token
       |      ORDER BY impact DESC, doc) AS r
       |  FROM imp QUALIFY r <= 8),
       |cscored AS (
       |  SELECT query_id, doc, sum(impact) AS s
       |  FROM champ JOIN qt USING (token) GROUP BY 1, 2),
       |cranked AS (
       |  SELECT query_id, doc AS doc_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY s DESC, doc) AS rank
       |  FROM cscored QUALIFY rank <= 5)
       |SELECT r.query_id AS query_id, CAST(count(*) AS BIGINT) AS n_exact,
       |  CAST(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_hit,
       |  round(CAST(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)
       |      AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS recall
       |FROM ranked r LEFT JOIN cranked c
       |  ON c.query_id = r.query_id AND c.doc_id = r.doc_id
       |GROUP BY r.query_id ORDER BY query_id""".stripMargin)) { (s, dir) =>
    val d = t(s, dir, "documents")
    Retrieval.buildPostingsIndex(d.filter(col("doc_id") >= 5), "doc_id",
      "text", "graft_x218_postings")
    Retrieval.buildChampionLists(s, "graft_x218_postings", topN = 8)
    val q5 = d.filter(col("doc_id") < 5)
    val exact = Retrieval.bm25TopKIndexed(s, "graft_x218_postings", q5,
      "doc_id", "text", k = 5)
    val approx = Retrieval.championTopK(s, "graft_x218_postings", q5,
      "doc_id", "text", k = 5)
    Retrieval.rankingRecall(exact, approx, "query_id", "doc_id")
  }

  // Pseudo-relevance-feedback expansion over the postings index: pass 1
  // BM25 top-3 picks feedback docs, the 5 most frequent feedback terms
  // not already in the query (integer Σtf ranking, token tie-break) join
  // the term set, pass 2 rescores with the expanded set. The oracle
  // replays both passes, the feedback term counts, the anti-join against
  // original terms, and the expansion window — every rank boundary
  // id-tiebroken.
  private val x184 = Q("x184_bm25_prf_expansion", Some(
    s"""WITH ${bm25Cte(nQueries = 3, k = 3)},
       |fbt AS (
       |  SELECT r.query_id, tfdl.token, CAST(sum(tfdl.tf) AS BIGINT) AS ftf
       |  FROM ranked r JOIN tfdl ON tfdl.doc = r.doc_id
       |  GROUP BY r.query_id, tfdl.token),
       |fbx AS (
       |  SELECT f.query_id, f.token, f.ftf FROM fbt f
       |  LEFT JOIN qt ON qt.query_id = f.query_id AND qt.token = f.token
       |  WHERE qt.token IS NULL),
       |expt AS (
       |  SELECT query_id, token FROM (
       |    SELECT query_id, token,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY ftf DESC, token) AS er
       |    FROM fbx) WHERE er <= 5),
       |qt2 AS (SELECT query_id, token FROM qt
       |        UNION ALL SELECT query_id, token FROM expt),
       |terms2 AS (
       |  SELECT qt2.query_id, tfdl.doc,
       |    CAST(ln(1.0::DOUBLE +
       |        (CAST(n_corpus AS DOUBLE) - CAST(df AS DOUBLE) + 0.5::DOUBLE)
       |        / (CAST(df AS DOUBLE) + 0.5::DOUBLE))
       |      * (CAST(tf AS DOUBLE) * 2.2::DOUBLE)
       |      / (CAST(tf AS DOUBLE) + 1.2::DOUBLE *
       |          (0.25::DOUBLE + 0.75::DOUBLE * CAST(dl AS DOUBLE)
       |            / (CAST(total_dl AS DOUBLE) / CAST(n_corpus AS DOUBLE))))
       |      AS DECIMAL(28,18)) AS term
       |  FROM tfdl JOIN qt2 USING (token) JOIN dfq USING (token), stats),
       |scored2 AS (
       |  SELECT query_id, doc, sum(term) AS s,
       |    CAST(count(*) AS BIGINT) AS matched_terms
       |  FROM terms2 GROUP BY 1, 2),
       |ranked2 AS (
       |  SELECT query_id, doc AS doc_id, round(CAST(s AS DOUBLE), 4) AS score,
       |    matched_terms,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY s DESC, doc) AS INT) AS rank
       |  FROM scored2 QUALIFY rank <= 5)
       |SELECT * FROM ranked2 ORDER BY query_id, rank""".stripMargin)) {
    (s, dir) =>
      val d = t(s, dir, "documents")
      Retrieval.buildPostingsIndex(d.filter(col("doc_id") >= 5), "doc_id",
        "text", "graft_x184_postings")
      Retrieval.bm25ExpandedTopKIndexed(s, "graft_x184_postings",
          d.filter(col("doc_id") < 3), "doc_id", "text", k = 5, fbDocs = 3,
          fbTerms = 5)
        .orderBy("query_id", "rank")
  }

  // Exact phrase search: an n-word phrase is exactly a positional
  // n-shingle, so matching is explode+filter with the literal IN-set in
  // the scan projection — no positional postings table, no corpus-side
  // join. "table hash" is the x185 bigram label (~9% of docs); the
  // 3-word phrase exercises the second shingle length in the same call.
  private def phraseOracleWhere(corpusWhere: String) =
    s"""WITH base AS (
       |  SELECT doc_id, $WORDS AS ws, len($WORDS) AS n FROM documents
       |  WHERE $corpusWhere),
       |sh2 AS (
       |  SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS sh
       |  FROM base, unnest(range(1, n)) AS r(i) WHERE n >= 2),
       |sh3 AS (
       |  SELECT doc_id, ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS sh
       |  FROM base, unnest(range(1, n - 1)) AS r(i) WHERE n >= 3),
       |m AS (SELECT doc_id, sh FROM sh2 WHERE sh = 'table hash'
       |      UNION ALL
       |      SELECT doc_id, sh FROM sh3 WHERE sh = 'key agg row'),
       |c AS (SELECT sh AS phrase, doc_id, count(*) AS n_occurrences
       |      FROM m GROUP BY sh, doc_id)
       |SELECT phrase, doc_id,
       |  CAST(n_occurrences AS BIGINT) AS n_occurrences,
       |  CAST(row_number() OVER (PARTITION BY phrase
       |    ORDER BY n_occurrences DESC, doc_id) AS INT) AS rank
       |FROM c
       |QUALIFY row_number() OVER (PARTITION BY phrase
       |  ORDER BY n_occurrences DESC, doc_id) <= 10
       |ORDER BY phrase, rank""".stripMargin

  private val phraseOracle = phraseOracleWhere("1 = 1")

  private val x195 = Q("x195_phrase_search", Some(phraseOracle)) {
    (s, dir) =>
      graft.operators.Retrieval.phraseTopK(t(s, dir, "documents"),
        "doc_id", "text", Seq("Table-Hash!", "key agg row"), k = 10)
  }

  // The same phrases served from a MATERIALIZED positional index
  // (token, doc, pos): the classic positional-intersection algorithm —
  // per phrase, n single-token postings scans aligned to a common start
  // and intersected by (doc, start) equi-joins; work is
  // Σ|postings(phrase tokens)|, with NO corpus re-tokenization and no
  // per-query shingle explode (x195 pays both per call). Same oracle as
  // x195: index-served phrase counts must be identical.
  private val x246 = Q("x246_phrase_indexed", Some(phraseOracle)) {
    (s, dir) =>
      Retrieval.buildPositionalIndex(t(s, dir, "documents"), "doc_id",
        "text", "graft_x246_positions")
      Retrieval.phraseTopKIndexed(s, "graft_x246_positions",
        Seq("Table-Hash!", "key agg row"), k = 10)
  }

  // Rank-biased overlap between the sparse (BM25) and dense (cosine)
  // top-10 rankings of the same 3 queries — the top-weighted
  // scorer-agreement grade that sizes what RRF fusion (x172) can add
  // (low RBO = complementary rankers). p = 9/10 with EXACT integer
  // p-powers embedded as a VALUES table on both sides (never libm pow);
  // each depth term DECIMAL-quantized pre-sum; zero-overlap queries
  // surfaced with rbo = 0. The oracle replays both rankings end to end,
  // the max-rank entry depths, and the depth-weighted sum.
  private val x207 = Q("x207_rbo_agreement", Some {
    val dep = (1 to 10).map(d =>
      s"($d, ${BigInt(9).pow(d - 1)}, ${BigInt(10).pow(d - 1)})")
      .mkString(", ")
    s"""WITH ${bm25Cte(nQueries = 3, k = 10)},
       |dq AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
       |       FROM embeddings WHERE vec_id < 3),
       |dr AS (
       |  SELECT query_id, vec_id AS item_id,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY
       |      list_dot_product(CAST(embedding AS DOUBLE[]), qv) /
       |        (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
       |           CAST(embedding AS DOUBLE[]))) * sqrt(list_dot_product(qv, qv)))
       |      DESC, vec_id) AS INT) AS rank
       |  FROM embeddings, dq WHERE vec_id >= 5
       |  QUALIFY rank <= 10),
       |dep(d, p9, p10) AS (VALUES $dep),
       |ja AS (SELECT query_id, doc_id AS item, rank FROM ranked),
       |jb AS (SELECT query_id, item_id AS item, rank FROM dr),
       |jt AS (SELECT a.query_id, greatest(a.rank, b.rank) AS m
       |       FROM ja a JOIN jb b USING (query_id, item)),
       |xd AS (SELECT query_id, d, p9, p10, count(*) AS x
       |       FROM jt JOIN dep ON m <= d GROUP BY 1, 2, 3, 4),
       |pq AS (SELECT query_id,
       |    sum(CASE WHEN d = 10 THEN x ELSE 0 END) AS overlap_at_k,
       |    (1.0::DOUBLE / 10.0::DOUBLE) * CAST(sum(CAST(
       |        (CAST(p9 AS DOUBLE) / CAST(p10 AS DOUBLE))
       |        * CAST(x AS DOUBLE) / CAST(d AS DOUBLE)
       |      AS DECIMAL(28,18))) AS DOUBLE) AS rbo
       |  FROM xd GROUP BY query_id),
       |qs0 AS (SELECT DISTINCT query_id FROM
       |        (SELECT query_id FROM ja UNION ALL SELECT query_id FROM jb))
       |SELECT q.query_id,
       |  CAST(coalesce(pq.overlap_at_k, 0) AS BIGINT) AS overlap_at_k,
       |  round(coalesce(pq.rbo, 0.0), 6) AS rbo,
       |  round(coalesce(pq.rbo, 0.0) +
       |    CAST(coalesce(pq.overlap_at_k, 0) AS DOUBLE) / 10.0::DOUBLE
       |      * (3486784401.0::DOUBLE / 10000000000.0::DOUBLE), 6)
       |    AS rbo_ext,
       |  round(1.0::DOUBLE - 3486784401.0::DOUBLE / 10000000000.0::DOUBLE, 6)
       |    AS rbo_max
       |FROM qs0 q LEFT JOIN pq USING (query_id)
       |ORDER BY query_id""".stripMargin
  }) { (s, dir) =>
    val d = t(s, dir, "documents")
    val emb = t(s, dir, "embeddings")
    val sparse = Retrieval.bm25TopK(d.filter(col("doc_id") >= 5), "doc_id",
        "text", d.filter(col("doc_id") < 3), "doc_id", "text", k = 10)
      .select(col("query_id"), col("doc_id").as("item"), col("rank"))
    val dense = Similarity.bruteForceTopKBatch(
        emb.filter(col("vec_id") >= 5), "vec_id", "embedding",
        emb.filter(col("vec_id") < 3), "vec_id", k = 10)
      .select(col("query_id"), col("vec_id").as("item"), col("rank"))
    Retrieval.rboOverlap(sparse, dense, "query_id", "item", "rank",
      k = 10, pNum = 9, pDen = 10)
  }

  // Logical delete from the postings index (the lifecycle complement of
  // x209's append): build on the FULL corpus, tombstone the 20% batch —
  // _tok df/cf decremented by exact integer deltas, _stats from the
  // _docs membership rows, scorers anti-join the broadcast tombstones —
  // then score. The oracle is a from-scratch BM25 on the SURVIVING
  // corpus: tombstone-phase delete must equal a rebuild, bit-exactly,
  // before any compaction has run.
  private val x234 = Q("x234_postings_delete", Some(
    s"""WITH ${bm25Cte(nQueries = 5, k = 5,
        corpusWhere = "doc_id >= 5 AND doc_id % 5 != 4")}
       |SELECT * FROM ranked ORDER BY query_id, rank""".stripMargin)) {
    (s, dir) =>
      val d = t(s, dir, "documents")
      Retrieval.buildPostingsIndex(d.filter(col("doc_id") >= 5), "doc_id",
        "text", "graft_x234_postings")
      Retrieval.deleteFromPostingsIndex(s,
        d.filter(col("doc_id") >= 5 && col("doc_id") % 5 === 4)
          .select(col("doc_id")),
        "doc_id", "graft_x234_postings")
      Retrieval.bm25TopKIndexed(s, "graft_x234_postings",
          d.filter(col("doc_id") < 5), "doc_id", "text", k = 5)
        .orderBy("query_id", "rank")
  }

  // Physical reclaim: same delete, then compactPostingsIndex rewrites
  // the postings minus tombstones (survivors staged durably first),
  // REBUILDS every companion from surviving truth (compaction doubles
  // as the repair op), and drops _tomb — after which the scoring plan
  // has no anti-join left. Same oracle as x234: compaction must not
  // move a single score.
  private val x235 = Q("x235_postings_compact", Some(
    s"""WITH ${bm25Cte(nQueries = 5, k = 5,
        corpusWhere = "doc_id >= 5 AND doc_id % 5 != 4")}
       |SELECT * FROM ranked ORDER BY query_id, rank""".stripMargin)) {
    (s, dir) =>
      val d = t(s, dir, "documents")
      Retrieval.buildPostingsIndex(d.filter(col("doc_id") >= 5), "doc_id",
        "text", "graft_x235_postings")
      Retrieval.deleteFromPostingsIndex(s,
        d.filter(col("doc_id") >= 5 && col("doc_id") % 5 === 4)
          .select(col("doc_id")),
        "doc_id", "graft_x235_postings")
      Retrieval.compactPostingsIndex(s, "graft_x235_postings")
      Retrieval.bm25TopKIndexed(s, "graft_x235_postings",
          d.filter(col("doc_id") < 5), "doc_id", "text", k = 5)
        .orderBy("query_id", "rank")
  }

  // Upsert — the full CRUD composition (delete → compact → append):
  // the index is built with 20% of the corpus STALE (mangled text),
  // then the true versions are upserted. The oracle is x171's
  // full-corpus BM25 verbatim: after the upsert the index must be
  // indistinguishable from one that never saw the stale text.
  private val x236 = Q("x236_postings_upsert", Some(
    s"""WITH ${bm25Cte(nQueries = 5, k = 5)}
       |SELECT * FROM ranked ORDER BY query_id, rank""".stripMargin)) {
    (s, dir) =>
      val d = t(s, dir, "documents")
      val corpus = d.filter(col("doc_id") >= 5)
      val stale = corpus.withColumn("text",
        when(col("doc_id") % 5 === 4,
          concat(col("text"), lit(" zzstalemarker zzstalemarker")))
          .otherwise(col("text")))
      Retrieval.buildPostingsIndex(stale, "doc_id", "text",
        "graft_x236_postings")
      Retrieval.upsertIntoPostingsIndex(s,
        corpus.filter(col("doc_id") % 5 === 4), "doc_id", "text",
        "graft_x236_postings")
      Retrieval.bm25TopKIndexed(s, "graft_x236_postings",
          d.filter(col("doc_id") < 5), "doc_id", "text", k = 5)
        .orderBy("query_id", "rank")
  }

  // Index health report mid-lifecycle (after a delete, before the
  // compact): the physical/live gaps — docs and postings rows — are
  // the "when do I compact" signal, and the live avg_dl is what the
  // scorers are actually normalizing by. The oracle replays doc
  // membership, the tombstone split, live vocabulary (tokens whose df
  // survives), and physical-vs-live postings counts from the raw text.
  private val x237 = Q("x237_postings_stats", Some(
    s"""WITH phys AS (SELECT doc_id, text FROM documents WHERE doc_id >= 5),
       |live AS (SELECT doc_id, text FROM phys WHERE doc_id % 5 != 4),
       |pp AS (SELECT DISTINCT p.doc_id, u.w AS token
       |       FROM (SELECT doc_id, $WORDS AS ws FROM phys) p,
       |         unnest(ws) AS u(w)),
       |pl AS (SELECT DISTINCT l.doc_id, u.w AS token
       |       FROM (SELECT doc_id, $WORDS AS ws FROM live) l,
       |         unnest(ws) AS u(w))
       |SELECT
       |  (SELECT CAST(count(*) AS BIGINT) FROM phys) AS n_docs,
       |  (SELECT CAST(count(*) AS BIGINT) FROM live) AS n_docs_live,
       |  (SELECT CAST(count(*) AS BIGINT) FROM phys
       |   WHERE doc_id % 5 = 4) AS n_tombstoned,
       |  (SELECT CAST(count(DISTINCT token) AS BIGINT) FROM pl)
       |    AS n_tokens,
       |  (SELECT CAST(count(*) AS BIGINT) FROM pp) AS n_postings,
       |  (SELECT CAST(count(*) AS BIGINT) FROM pl) AS n_postings_live,
       |  (SELECT CAST(sum(len($WORDS)) AS BIGINT) FROM live)
       |    AS total_dl,
       |  round((SELECT CAST(sum(len($WORDS)) AS DOUBLE) FROM live) /
       |    (SELECT CAST(count(*) AS DOUBLE) FROM live), 6) AS avg_dl""".stripMargin)) { (s, dir) =>
    val d = t(s, dir, "documents")
    Retrieval.buildPostingsIndex(d.filter(col("doc_id") >= 5), "doc_id",
      "text", "graft_x237_postings")
    Retrieval.deleteFromPostingsIndex(s,
      d.filter(col("doc_id") >= 5 && col("doc_id") % 5 === 4)
        .select(col("doc_id")),
      "doc_id", "graft_x237_postings")
    Retrieval.postingsIndexStats(s, "graft_x237_postings")
  }

  // Streaming ingest into the postings index: the corpus replayed as a
  // real MemoryStream in id-ordered micro-batches, each committed by
  // foreachBatch → appendToPostingsIndex onto an empty seed index —
  // then scored. The oracle is x171's full-corpus BM25 verbatim:
  // stream-built ≡ batch-built, exactly (micro-batch tokenization is
  // per-doc, companion merges are associative integer sums, so the
  // batch boundaries cannot leave a trace).
  private val x241 = Q("x241_streaming_index_ingest", Some(
    s"""WITH ${bm25Cte(nQueries = 5, k = 5)}
       |SELECT * FROM ranked ORDER BY query_id, rank""".stripMargin)) {
    (s, dir) =>
      val d = t(s, dir, "documents")
      Retrieval.streamingIndexIngestReplay(s,
        d.filter(col("doc_id") >= 5), "doc_id", "text",
        "graft_x241_postings")
      Retrieval.bm25TopKIndexed(s, "graft_x241_postings",
          d.filter(col("doc_id") < 5), "doc_id", "text", k = 5)
        .orderBy("query_id", "rank")
  }

  // Champion lists rebuilt AFTER a delete: the bounded serving table
  // must reflect the surviving corpus (impacts at the decremented
  // df/cf/N stats, tombstoned docs absent from every list). Uncapped
  // topN makes champion scoring exactly BM25, so the gate is the x234
  // survivor oracle verbatim — any stale stat or leaked tombstone in
  // the champion build path flips a hash.
  private val x245 = Q("x245_champion_after_delete", Some(
    s"""WITH ${bm25Cte(nQueries = 5, k = 5,
        corpusWhere = "doc_id >= 5 AND doc_id % 5 != 4")}
       |SELECT * FROM ranked ORDER BY query_id, rank""".stripMargin)) {
    (s, dir) =>
      val d = t(s, dir, "documents")
      Retrieval.buildPostingsIndex(d.filter(col("doc_id") >= 5), "doc_id",
        "text", "graft_x245_postings")
      Retrieval.deleteFromPostingsIndex(s,
        d.filter(col("doc_id") >= 5 && col("doc_id") % 5 === 4)
          .select(col("doc_id")),
        "doc_id", "graft_x245_postings")
      Retrieval.buildChampionLists(s, "graft_x245_postings",
        topN = 1000000)
      Retrieval.championTopK(s, "graft_x245_postings",
          d.filter(col("doc_id") < 5), "doc_id", "text", k = 5)
        .orderBy("query_id", "rank")
  }

  // Term-proximity ranking from the positional index: per (query, doc),
  // the count of two-different-query-term occurrence pairs within 3
  // positions — the nearness signal BM25 can't see. The Spark side
  // answers it with a BANDED position self-join (each occurrence joins
  // its own and two adjacent window buckets — never a per-doc
  // cartesian); the oracle brute-forces the |Δpos| ≤ 3 pair join on the
  // same positions (h MATERIALIZED — it is referenced twice and DuckDB
  // inlines dual-referenced CTEs). Counts are exact integers.
  private def proximityOracle(corpusWhere: String) =
    s"""WITH base AS (
       |  SELECT doc_id, $WORDS AS ws, len($WORDS) AS n FROM documents
       |  WHERE $corpusWhere),
       |pos AS (
       |  SELECT doc_id AS doc, ws[i] AS token, CAST(i - 1 AS BIGINT) AS pos
       |  FROM base, unnest(range(1, n + 1)) AS r(i)),
       |qt AS (
       |  SELECT DISTINCT doc_id AS query_id, u.w AS token
       |  FROM (SELECT doc_id, $WORDS AS ws FROM documents
       |        WHERE doc_id < 5), unnest(ws) AS u(w)),
       |h AS MATERIALIZED (
       |  SELECT qt.query_id, p.doc, p.token, p.pos
       |  FROM pos p JOIN qt USING (token)),
       |pairs AS (
       |  SELECT a.query_id, a.doc,
       |    CAST(count(*) AS BIGINT) AS n_close_pairs
       |  FROM h a JOIN h b ON a.query_id = b.query_id AND a.doc = b.doc
       |    AND a.token < b.token AND abs(a.pos - b.pos) <= 3
       |  GROUP BY a.query_id, a.doc)
       |SELECT query_id, doc AS doc_id, n_close_pairs,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY n_close_pairs DESC, doc) AS INT) AS rank
       |FROM pairs
       |QUALIFY row_number() OVER (PARTITION BY query_id
       |  ORDER BY n_close_pairs DESC, doc) <= 5
       |ORDER BY query_id, rank""".stripMargin

  private val x248 = Q("x248_proximity_rank",
      Some(proximityOracle("doc_id >= 5"))) { (s, dir) =>
    val d = t(s, dir, "documents")
    Retrieval.buildPositionalIndex(d.filter(col("doc_id") >= 5), "doc_id",
      "text", "graft_x248_positions")
    Retrieval.proximityTopK(s, "graft_x248_positions",
      d.filter(col("doc_id") < 5), "doc_id", "text", k = 5, window = 3)
  }

  // Incremental champion refresh after an APPEND (the half of the
  // champion lifecycle x245's rebuild-after-delete left open): the index
  // is built on 80% of the corpus with champion lists, the remaining 20%
  // appended — appendToPostingsIndex now re-scores surviving champions ∪
  // batch postings at the POST-append stats and re-selects each token's
  // top-N, so the bounded serving table neither freezes at pre-append
  // idf nor misses the new docs. Uncapped topN makes the candidate bound
  // exact by construction, so the oracle is the from-scratch FULL-corpus
  // BM25: append + incremental refresh must equal a full rebuild,
  // bit-exactly.
  private val x251 = Q("x251_champion_refresh_append", Some(
    s"""WITH ${bm25Cte(nQueries = 5, k = 5)}
       |SELECT * FROM ranked ORDER BY query_id, rank""".stripMargin)) {
    (s, dir) =>
      val d = t(s, dir, "documents")
      val corpus = d.filter(col("doc_id") >= 5)
      Retrieval.buildPostingsIndex(corpus.filter(col("doc_id") % 5 =!= 4),
        "doc_id", "text", "graft_x251_postings")
      Retrieval.buildChampionLists(s, "graft_x251_postings",
        topN = 1000000)
      Retrieval.appendToPostingsIndex(
        corpus.filter(col("doc_id") % 5 === 4),
        "doc_id", "text", "graft_x251_postings")
      Retrieval.championTopK(s, "graft_x251_postings",
          d.filter(col("doc_id") < 5), "doc_id", "text", k = 5)
        .orderBy("query_id", "rank")
  }

  // ONE takedown call silences BOTH indexes: the positional table is
  // built as the postings index's `_pos` SIBLING, and a single
  // deleteFromPostingsIndex mirrors its (doc, gen) tombstone cutoffs to
  // the sibling — phrase search stops serving the deleted docs with no
  // second delete call and no rewrite. The oracle is the from-scratch
  // phrase search on the SURVIVING corpus.
  private val x252 = Q("x252_phrase_after_takedown", Some(
      phraseOracleWhere("doc_id % 5 != 4"))) { (s, dir) =>
    val d = t(s, dir, "documents")
    Retrieval.buildPostingsIndex(d, "doc_id", "text",
      "graft_x252_postings")
    Retrieval.buildPositionalIndex(d, "doc_id", "text",
      "graft_x252_postings_pos")
    Retrieval.deleteFromPostingsIndex(s,
      d.filter(col("doc_id") % 5 === 4).select(col("doc_id")),
      "doc_id", "graft_x252_postings")
    Retrieval.phraseTopKIndexed(s, "graft_x252_postings_pos",
      Seq("Table-Hash!", "key agg row"), k = 10)
  }

  // Family compaction: after the takedown, compactPostingsIndex rewrites
  // BOTH the postings and the positional sibling to their survivors and
  // drops both tombstone tables — proximity ranking must then equal the
  // from-scratch survivor oracle with NO tombstone filter left anywhere
  // (physical reclaim, not logical masking).
  private val x253 = Q("x253_proximity_after_compact", Some(
      proximityOracle("doc_id >= 5 AND doc_id % 5 != 4"))) { (s, dir) =>
    val d = t(s, dir, "documents")
    val corpus = d.filter(col("doc_id") >= 5)
    Retrieval.buildPostingsIndex(corpus, "doc_id", "text",
      "graft_x253_postings")
    Retrieval.buildPositionalIndex(corpus, "doc_id", "text",
      "graft_x253_postings_pos")
    Retrieval.deleteFromPostingsIndex(s,
      corpus.filter(col("doc_id") % 5 === 4).select(col("doc_id")),
      "doc_id", "graft_x253_postings")
    Retrieval.compactPostingsIndex(s, "graft_x253_postings")
    Retrieval.proximityTopK(s, "graft_x253_postings_pos",
      d.filter(col("doc_id") < 5), "doc_id", "text", k = 5, window = 3)
  }

  // Family append: appendToPostingsIndex appends the batch's occurrence
  // rows into the `_pos` sibling at the batch generation — one ingest
  // call maintains BM25 and phrase serving together. The oracle is the
  // from-scratch phrase search on the FULL corpus: append-maintained
  // positional index ≡ rebuild.
  private val x254 = Q("x254_phrase_after_family_append", Some(
      phraseOracle)) { (s, dir) =>
    val d = t(s, dir, "documents")
    val seed = d.filter(col("doc_id") % 5 =!= 4)
    Retrieval.buildPostingsIndex(seed, "doc_id", "text",
      "graft_x254_postings")
    Retrieval.buildPositionalIndex(seed, "doc_id", "text",
      "graft_x254_postings_pos")
    Retrieval.appendToPostingsIndex(d.filter(col("doc_id") % 5 === 4),
      "doc_id", "text", "graft_x254_postings")
    Retrieval.phraseTopKIndexed(s, "graft_x254_postings_pos",
      Seq("Table-Hash!", "key agg row"), k = 10)
  }

  // The full generational CRUD chain: build with 20% of the corpus
  // STALE, upsert the true versions (now a PURELY LOGICAL delete+append —
  // no per-batch compaction), then DELETE a slice that includes
  // freshly-upserted docs (their tombstone cutoff must be RAISED past
  // the re-insert generation, the subtlest path in the design), then
  // compact the multi-generation index. The oracle is a from-scratch
  // build on the final surviving corpus: no sequence of logical
  // operations may be distinguishable from it.
  private val x255 = Q("x255_upsert_delete_compact_chain", Some(
    s"""WITH ${bm25Cte(nQueries = 5, k = 5,
        corpusWhere = "doc_id >= 5 AND doc_id % 10 != 4")}
       |SELECT * FROM ranked ORDER BY query_id, rank""".stripMargin)) {
    (s, dir) =>
      val d = t(s, dir, "documents")
      val corpus = d.filter(col("doc_id") >= 5)
      val stale = corpus.withColumn("text",
        when(col("doc_id") % 5 === 4,
          concat(col("text"), lit(" zzstalemarker zzstalemarker")))
          .otherwise(col("text")))
      Retrieval.buildPostingsIndex(stale, "doc_id", "text",
        "graft_x255_postings")
      Retrieval.upsertIntoPostingsIndex(s,
        corpus.filter(col("doc_id") % 5 === 4), "doc_id", "text",
        "graft_x255_postings")
      Retrieval.deleteFromPostingsIndex(s,
        corpus.filter(col("doc_id") % 10 === 4).select(col("doc_id")),
        "doc_id", "graft_x255_postings")
      Retrieval.compactPostingsIndex(s, "graft_x255_postings")
      Retrieval.bm25TopKIndexed(s, "graft_x255_postings",
          d.filter(col("doc_id") < 5), "doc_id", "text", k = 5)
        .orderBy("query_id", "rank")
  }

  // Production-shaped streaming ingest: the corpus written as a 4-file
  // parquet FEED DIRECTORY, tailed by readStream (one micro-batch per
  // file) through foreachBatch → appendToPostingsIndex onto an empty
  // seed, driven to completion with AvailableNow — the x89 file-pipeline
  // pattern pointed at the index (x241's MemoryStream replay is the
  // harness; this is the deploy shape, zero driver collects). The oracle
  // is the from-scratch full-corpus BM25: per-doc tokenization, bucketed
  // appends, and associative integer companion merges make the file
  // split undetectable.
  private val x256 = Q("x256_file_stream_ingest", Some(
    s"""WITH ${bm25Cte(nQueries = 5, k = 5)}
       |SELECT * FROM ranked ORDER BY query_id, rank""".stripMargin)) {
    (s, dir) =>
      val d = t(s, dir, "documents")
      Replay.withTempDir(s, "graft_x256_feed") { feed =>
        LocalWrites.write(d.filter(col("doc_id") >= 5).repartition(4))
          .mode("overwrite").parquet(feed)
        Retrieval.fileStreamIndexIngest(s, feed, "doc_id", "text",
          "graft_x256_postings")
      }
      Retrieval.bm25TopKIndexed(s, "graft_x256_postings",
          d.filter(col("doc_id") < 5), "doc_id", "text", k = 5)
        .orderBy("query_id", "rank")
  }

  // Directional (ordered-window) proximity from the positional index:
  // per (query, doc), ordered pairs of two different query terms where
  // the first precedes the second by 1..3 positions — the
  // sequential-dependence signal x248's unordered counts can't see.
  // The oracle brute-forces the directional pair join on the same
  // positions (h MATERIALIZED — dual-referenced); counts exact.
  private val x259 = Q("x259_ordered_window_rank", Some(
    s"""WITH base AS (
       |  SELECT doc_id, $WORDS AS ws, len($WORDS) AS n FROM documents
       |  WHERE doc_id >= 5),
       |pos AS (
       |  SELECT doc_id AS doc, ws[i] AS token, CAST(i - 1 AS BIGINT) AS pos
       |  FROM base, unnest(range(1, n + 1)) AS r(i)),
       |qt AS (
       |  SELECT DISTINCT doc_id AS query_id, u.w AS token
       |  FROM (SELECT doc_id, $WORDS AS ws FROM documents
       |        WHERE doc_id < 5), unnest(ws) AS u(w)),
       |h AS MATERIALIZED (
       |  SELECT qt.query_id, p.doc, p.token, p.pos
       |  FROM pos p JOIN qt USING (token)),
       |pairs AS (
       |  SELECT a.query_id, a.doc,
       |    CAST(count(*) AS BIGINT) AS n_ordered_pairs
       |  FROM h a JOIN h b ON a.query_id = b.query_id AND a.doc = b.doc
       |    AND a.token <> b.token AND b.pos - a.pos BETWEEN 1 AND 3
       |  GROUP BY a.query_id, a.doc)
       |SELECT query_id, doc AS doc_id, n_ordered_pairs,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY n_ordered_pairs DESC, doc) AS INT) AS rank
       |FROM pairs
       |QUALIFY row_number() OVER (PARTITION BY query_id
       |  ORDER BY n_ordered_pairs DESC, doc) <= 5
       |ORDER BY query_id, rank""".stripMargin)) { (s, dir) =>
    val d = t(s, dir, "documents")
    Retrieval.buildPositionalIndex(d.filter(col("doc_id") >= 5), "doc_id",
      "text", "graft_x259_positions")
    Retrieval.orderedPairTopK(s, "graft_x259_positions",
      d.filter(col("doc_id") < 5), "doc_id", "text", k = 5, window = 3)
  }

  // Sequential-dependence ranking over the index FAMILY: BM25 term
  // evidence + ln(1+ordered pairs) + ln(1+unordered pairs), weighted
  // 0.8/0.1/0.1, candidates = the BM25 term-match set, final scores
  // DECIMAL-quantized before the id-tiebroken rank. The oracle replays
  // all three component frames (the full uncapped BM25 CTE, both
  // positional pair joins) and the fixed-order fusion expression.
  private val x261 = Q("x261_sdm_rank", Some(
    s"""WITH ${bm25Cte(nQueries = 5, k = 5)},
       |base2 AS (
       |  SELECT doc_id, $WORDS AS ws, len($WORDS) AS n FROM documents
       |  WHERE doc_id >= 5),
       |pos AS (
       |  SELECT doc_id AS doc, ws[i] AS token, CAST(i - 1 AS BIGINT) AS pos
       |  FROM base2, unnest(range(1, n + 1)) AS r(i)),
       |h AS MATERIALIZED (
       |  SELECT qt.query_id, p.doc, p.token, p.pos
       |  FROM pos p JOIN qt USING (token)),
       |po AS (
       |  SELECT a.query_id, a.doc, CAST(count(*) AS BIGINT) AS no
       |  FROM h a JOIN h b ON a.query_id = b.query_id AND a.doc = b.doc
       |    AND a.token <> b.token AND b.pos - a.pos BETWEEN 1 AND 3
       |  GROUP BY a.query_id, a.doc),
       |pu AS (
       |  SELECT a.query_id, a.doc, CAST(count(*) AS BIGINT) AS nu
       |  FROM h a JOIN h b ON a.query_id = b.query_id AND a.doc = b.doc
       |    AND a.token < b.token AND abs(a.pos - b.pos) <= 3
       |  GROUP BY a.query_id, a.doc),
       |comb AS (
       |  SELECT s.query_id, s.doc, s.matched_terms,
       |    coalesce(po.no, 0) AS no, coalesce(pu.nu, 0) AS nu,
       |    CAST(0.8::DOUBLE * CAST(s.s AS DOUBLE)
       |      + 0.1::DOUBLE * ln(1.0::DOUBLE +
       |          CAST(coalesce(po.no, 0) AS DOUBLE))
       |      + 0.1::DOUBLE * ln(1.0::DOUBLE +
       |          CAST(coalesce(pu.nu, 0) AS DOUBLE))
       |      AS DECIMAL(28,18)) AS sc
       |  FROM scored s
       |    LEFT JOIN po ON po.query_id = s.query_id AND po.doc = s.doc
       |    LEFT JOIN pu ON pu.query_id = s.query_id AND pu.doc = s.doc)
       |SELECT query_id, doc AS doc_id,
       |  round(CAST(sc AS DOUBLE), 4) AS score, matched_terms,
       |  no AS n_ordered, nu AS n_unordered,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY sc DESC, doc) AS INT) AS rank
       |FROM comb
       |QUALIFY row_number() OVER (PARTITION BY query_id
       |  ORDER BY sc DESC, doc) <= 5
       |ORDER BY query_id, rank""".stripMargin)) { (s, dir) =>
    val d = t(s, dir, "documents")
    val corpus = d.filter(col("doc_id") >= 5)
    Retrieval.buildPostingsIndex(corpus, "doc_id", "text",
      "graft_x261_postings")
    Retrieval.buildPositionalIndex(corpus, "doc_id", "text",
      "graft_x261_postings_pos")
    Retrieval.sdmTopK(s, "graft_x261_postings",
        d.filter(col("doc_id") < 5), "doc_id", "text", k = 5, window = 3)
      .orderBy("query_id", "rank")
  }

  // The streamed feed maintaining the WHOLE family: readStream over a
  // 4-file parquet feed, each micro-batch appended through foreachBatch
  // into the postings index AND its positional sibling (occurrence rows
  // ride the same family append) — then PHRASE search served from the
  // stream-built sibling. The oracle is the from-scratch phrase scan on
  // the full corpus: per-doc occurrence rows make the file split
  // undetectable on the positional side exactly as the integer merges
  // do on the BM25 side (x256).
  private val x262 = Q("x262_file_stream_phrase", Some(phraseOracle)) {
    (s, dir) =>
      val d = t(s, dir, "documents")
      Replay.withTempDir(s, "graft_x262_feed") { feed =>
        LocalWrites.write(d.repartition(4)).mode("overwrite").parquet(feed)
        Retrieval.fileStreamIndexIngest(s, feed, "doc_id", "text",
          "graft_x262_postings", withPositional = true)
      }
      Retrieval.phraseTopKIndexed(s, "graft_x262_postings_pos",
        Seq("Table-Hash!", "key agg row"), k = 10)
  }

  // Champion refresh is IDEMPOTENT across sequential appends: the index
  // is built on 60% of the corpus with champion lists, then TWO separate
  // 20% batches append — each append re-scores surviving champions ∪ its
  // batch at that moment's stats, so the second refresh runs over the
  // FIRST refresh's output (the compounding path x251's single append
  // can't see). Uncapped topN keeps the candidate bound exact at every
  // step, so the oracle is the from-scratch FULL-corpus BM25: two
  // chained incremental refreshes must be indistinguishable from one
  // final rebuild.
  private val x263 = Q("x263_champion_chained_appends", Some(
    s"""WITH ${bm25Cte(nQueries = 5, k = 5)}
       |SELECT * FROM ranked ORDER BY query_id, rank""".stripMargin)) {
    (s, dir) =>
      val d = t(s, dir, "documents")
      val corpus = d.filter(col("doc_id") >= 5)
      Retrieval.buildPostingsIndex(
        corpus.filter(col("doc_id") % 5 < 3), "doc_id", "text",
        "graft_x263_postings")
      Retrieval.buildChampionLists(s, "graft_x263_postings",
        topN = 1000000)
      Retrieval.appendToPostingsIndex(
        corpus.filter(col("doc_id") % 5 === 3), "doc_id", "text",
        "graft_x263_postings")
      Retrieval.appendToPostingsIndex(
        corpus.filter(col("doc_id") % 5 === 4), "doc_id", "text",
        "graft_x263_postings")
      Retrieval.championTopK(s, "graft_x263_postings",
          d.filter(col("doc_id") < 5), "doc_id", "text", k = 5)
        .orderBy("query_id", "rank")
  }

  // Champions ride the streamed family: the feed-directory ingest seeds
  // `_champ`/`_champ_meta` on the empty build, so EVERY micro-batch's
  // append refreshes the champion lists at post-batch stats — champion
  // serving is maintained by the same stream that maintains BM25. At
  // uncapped topN the bounded-candidate refresh is exact (the x263
  // argument), so championTopK from the purely stream-built index must
  // equal the full-corpus BM25 oracle verbatim.
  private val x264 = Q("x264_file_stream_champions", Some(
    s"""WITH ${bm25Cte(nQueries = 5, k = 5)}
       |SELECT * FROM ranked ORDER BY query_id, rank""".stripMargin)) {
    (s, dir) =>
      val d = t(s, dir, "documents")
      Replay.withTempDir(s, "graft_x264_feed") { feed =>
        LocalWrites.write(d.filter(col("doc_id") >= 5).repartition(4))
          .mode("overwrite").parquet(feed)
        Retrieval.fileStreamIndexIngest(s, feed, "doc_id", "text",
          "graft_x264_postings", champTopN = 1000000)
      }
      Retrieval.championTopK(s, "graft_x264_postings",
          d.filter(col("doc_id") < 5), "doc_id", "text", k = 5)
        .orderBy("query_id", "rank")
  }

  // Exact BM25 top-k under MaxScore dynamic pruning: per-token
  // (max_tf, min_dl) bounds upper-bound every term contribution, the
  // rarest term's fully-scored postings seed the k-th-best threshold,
  // and docs matching only below-threshold terms never enter the
  // scoring aggregate. EXACTNESS is the algorithm's guarantee, so the
  // oracle is x171's full-corpus BM25 VERBATIM — any pruning error
  // flips a hash.
  private val x265 = Q("x265_wand_topk", Some(
    s"""WITH ${bm25Cte(nQueries = 5, k = 5)}
       |SELECT * FROM ranked ORDER BY query_id, rank""".stripMargin)) {
    (s, dir) =>
      val d = t(s, dir, "documents")
      Retrieval.buildPostingsIndex(d.filter(col("doc_id") >= 5), "doc_id",
        "text", "graft_x265_postings")
      Retrieval.buildImpactBounds(s, "graft_x265_postings")
      Retrieval.wandTopK(s, "graft_x265_postings",
          d.filter(col("doc_id") < 5), "doc_id", "text", k = 5)
        .orderBy("query_id", "rank")
  }

  /** The skewed-token serving pair (x266 = wand, x267 = the
    * bm25TopKIndexed baseline): a 16-query batch, each mixing the
    * corpus's rarest token ('dup', df ≈ 5% of docs) with a
    * near-universal one ('batch', df ≈ 80%) — the shape where MaxScore
    * pays off, because the stopword-adjacent term's corpus-sized
    * postings are non-essential once the rare term's top-k seeds the
    * threshold. The 16-way batch makes SERVING dominate the shared
    * index build, so the bench JSON carries a meaningful serving-cost
    * comparison (the full scorer aggregates 16 × postings('batch')
    * rows; wand aggregates 16 × the pruned candidate set). Same oracle
    * both sides — wand is exact. */
  private val skewedQt =
    """
      |  SELECT CAST(r.i AS BIGINT) AS query_id, u.w AS token
      |  FROM range(1, 17) AS r(i), unnest(['dup', 'batch']) AS u(w)""".stripMargin
  private val skewedOracle =
    s"""WITH ${bm25Cte(nQueries = 0, k = 5, qtSql = skewedQt)}
       |SELECT * FROM ranked ORDER BY query_id, rank""".stripMargin

  private def skewedQueries(s: org.apache.spark.sql.SparkSession) = {
    import s.implicits._
    (1 to 16).map(i => (i.toLong, "dup batch")).toDF("doc_id", "text")
  }

  private val x266 = Q("x266_wand_skewed", Some(skewedOracle)) {
    (s, dir) =>
      val d = t(s, dir, "documents")
      Retrieval.buildPostingsIndex(d.filter(col("doc_id") >= 5), "doc_id",
        "text", "graft_x266_postings")
      Retrieval.buildImpactBounds(s, "graft_x266_postings")
      Retrieval.wandTopK(s, "graft_x266_postings", skewedQueries(s),
          "doc_id", "text", k = 5)
        .orderBy("query_id", "rank")
  }

  private val x267 = Q("x267_bm25_skewed_baseline", Some(skewedOracle)) {
    (s, dir) =>
      val d = t(s, dir, "documents")
      Retrieval.buildPostingsIndex(d.filter(col("doc_id") >= 5), "doc_id",
        "text", "graft_x267_postings")
      Retrieval.bm25TopKIndexed(s, "graft_x267_postings",
          skewedQueries(s), "doc_id", "text", k = 5)
        .orderBy("query_id", "rank")
  }

  // Minimal-span (shortest cover) ranking from the positional index:
  // per (query, doc), the smallest window containing every query term —
  // the passage primitive the pairwise scorers can't express (spans of
  // ANY length; the banded pair joins cap at `window`). The oracle
  // replays the exact start×term union, the ordered
  // next-occurrence window (starts-first at equal pos), the
  // all-terms-covered gate, and the span-asc id-tiebroken rank — all
  // integer arithmetic.
  private val x270 = Q("x270_min_span_rank", Some(
    s"""WITH base AS (
       |  SELECT doc_id, $WORDS AS ws, len($WORDS) AS n FROM documents
       |  WHERE doc_id >= 5),
       |pos AS (
       |  SELECT doc_id AS doc, ws[i] AS token, CAST(i - 1 AS BIGINT) AS pos
       |  FROM base, unnest(range(1, n + 1)) AS r(i)),
       |qt AS (
       |  SELECT CAST(1 AS BIGINT) AS query_id, u.w AS token
       |  FROM unnest(['dup', 'batch']) AS u(w)
       |  UNION ALL
       |  SELECT CAST(2 AS BIGINT), u.w
       |  FROM unnest(['spark', 'window', 'group']) AS u(w)),
       |qm AS (SELECT query_id, count(*) AS m FROM qt GROUP BY 1),
       |occ AS MATERIALIZED (
       |  SELECT qt.query_id, p.doc, p.token, p.pos
       |  FROM pos p JOIN qt USING (token)),
       |st AS (
       |  SELECT o.query_id, o.doc, q2.token AS term, o.pos,
       |    1 AS isq
       |  FROM (SELECT DISTINCT query_id, doc, pos FROM occ) o
       |  JOIN qt q2 USING (query_id)),
       |un AS (
       |  SELECT * FROM st
       |  UNION ALL
       |  SELECT query_id, doc, token AS term, pos, 0 AS isq FROM occ),
       |nx AS (
       |  SELECT query_id, doc, term, pos, isq,
       |    min(CASE WHEN isq = 0 THEN pos END) OVER (
       |      PARTITION BY query_id, doc, term
       |      ORDER BY pos, isq DESC
       |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nxt
       |  FROM un),
       |spans AS (
       |  SELECT query_id, doc, pos, count(nxt) AS cov,
       |    max(nxt) AS e
       |  FROM nx WHERE isq = 1 GROUP BY 1, 2, 3),
       |best AS (
       |  SELECT s.query_id, s.doc, min(s.e - s.pos + 1) AS min_span
       |  FROM spans s JOIN qm USING (query_id)
       |  WHERE s.cov = qm.m GROUP BY 1, 2)
       |SELECT query_id, doc AS doc_id, min_span,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY min_span, doc) AS INT) AS rank
       |FROM best
       |QUALIFY row_number() OVER (PARTITION BY query_id
       |  ORDER BY min_span, doc) <= 5
       |ORDER BY query_id, rank""".stripMargin)) { (s, dir) =>
    import s.implicits._
    val d = t(s, dir, "documents")
    Retrieval.buildPositionalIndex(d.filter(col("doc_id") >= 5), "doc_id",
      "text", "graft_x270_positions")
    Retrieval.minSpanTopK(s, "graft_x270_positions",
      Seq((1L, "dup batch"), (2L, "spark window group"))
        .toDF("doc_id", "text"),
      "doc_id", "text", k = 5)
  }

  // THE composition certificate for the whole index story: one harness
  // stream-ingests the FAMILY from a file feed (postings + positional
  // sibling + champion lists), deletes a slice (one takedown call,
  // tombstones mirrored family-wide), appends a late batch (sibling +
  // champions ride), compacts (survivor rewrite, companion rebuild,
  // tombstones reclaimed) — then serves sequential-dependence ranking
  // from what remains. The oracle is x261's three-frame SDM replay on
  // the FINAL SURVIVOR corpus from scratch: if any lifecycle step leaks
  // a deleted doc, loses an appended one, or drifts a stat, the fusion
  // scores flip the hash.
  private val x271 = Q("x271_streamed_family_chain", Some {
    val survivors = "doc_id >= 5 AND doc_id % 10 <> 7"
    s"""WITH ${bm25Cte(nQueries = 5, k = 5, corpusWhere = survivors)},
       |base2 AS (
       |  SELECT doc_id, $WORDS AS ws, len($WORDS) AS n FROM documents
       |  WHERE $survivors),
       |pos AS (
       |  SELECT doc_id AS doc, ws[i] AS token, CAST(i - 1 AS BIGINT) AS pos
       |  FROM base2, unnest(range(1, n + 1)) AS r(i)),
       |h AS MATERIALIZED (
       |  SELECT qt.query_id, p.doc, p.token, p.pos
       |  FROM pos p JOIN qt USING (token)),
       |po AS (
       |  SELECT a.query_id, a.doc, CAST(count(*) AS BIGINT) AS no
       |  FROM h a JOIN h b ON a.query_id = b.query_id AND a.doc = b.doc
       |    AND a.token <> b.token AND b.pos - a.pos BETWEEN 1 AND 3
       |  GROUP BY a.query_id, a.doc),
       |pu AS (
       |  SELECT a.query_id, a.doc, CAST(count(*) AS BIGINT) AS nu
       |  FROM h a JOIN h b ON a.query_id = b.query_id AND a.doc = b.doc
       |    AND a.token < b.token AND abs(a.pos - b.pos) <= 3
       |  GROUP BY a.query_id, a.doc),
       |comb AS (
       |  SELECT s.query_id, s.doc, s.matched_terms,
       |    coalesce(po.no, 0) AS no, coalesce(pu.nu, 0) AS nu,
       |    CAST(0.8::DOUBLE * CAST(s.s AS DOUBLE)
       |      + 0.1::DOUBLE * ln(1.0::DOUBLE +
       |          CAST(coalesce(po.no, 0) AS DOUBLE))
       |      + 0.1::DOUBLE * ln(1.0::DOUBLE +
       |          CAST(coalesce(pu.nu, 0) AS DOUBLE))
       |      AS DECIMAL(28,18)) AS sc
       |  FROM scored s
       |    LEFT JOIN po ON po.query_id = s.query_id AND po.doc = s.doc
       |    LEFT JOIN pu ON pu.query_id = s.query_id AND pu.doc = s.doc)
       |SELECT query_id, doc AS doc_id,
       |  round(CAST(sc AS DOUBLE), 4) AS score, matched_terms,
       |  no AS n_ordered, nu AS n_unordered,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY sc DESC, doc) AS INT) AS rank
       |FROM comb
       |QUALIFY row_number() OVER (PARTITION BY query_id
       |  ORDER BY sc DESC, doc) <= 5
       |ORDER BY query_id, rank""".stripMargin
  }) { (s, dir) =>
    val d = t(s, dir, "documents")
    val tbl = "graft_x271_postings"
    // 80% of the corpus arrives as a 4-file stream maintaining the
    // whole family; doc ids ≡ 7 (mod 10) are all in this slice
    PhaseTimer.time("x271_streamed_family_chain", "build") {
      Replay.withTempDir(s, "graft_x271_feed") { feed =>
        LocalWrites.write(d.filter(col("doc_id") >= 5 && col("doc_id") % 5 =!= 4)
          .repartition(4)).mode("overwrite").parquet(feed)
        // champions ride at a REALISTIC capped topN: the chain certifies
        // the maintenance paths compose (seed → per-batch refresh →
        // tombstone filter → compaction rewrite); the equality gate is
        // sdmTopK, which never reads `_champ` — x264 owns the uncapped
        // champion-equality gate, so paying 4 uncapped corpus-sized
        // refreshes here bought nothing but wall-clock
        Retrieval.fileStreamIndexIngest(s, feed, "doc_id", "text", tbl,
          withPositional = true, champTopN = 8)
      }
    }
    PhaseTimer.time("x271_streamed_family_chain", "maintain") {
      // takedown: one call silences BM25 + phrase + proximity + champions
      Retrieval.deleteFromPostingsIndex(s,
        d.filter(col("doc_id") % 10 === 7).select("doc_id"), "doc_id", tbl)
      // the late 20% batch appends through the same family path
      Retrieval.appendToPostingsIndex(
        d.filter(col("doc_id") >= 5 && col("doc_id") % 5 === 4),
        "doc_id", "text", tbl)
      // physical reclaim + companion rebuild-from-truth
      Retrieval.compactPostingsIndex(s, tbl)
    }
    Retrieval.sdmTopK(s, tbl, d.filter(col("doc_id") < 5),
        "doc_id", "text", k = 5, window = 3)
      .orderBy("query_id", "rank")
  }

  // Block-Max pruning on top of MaxScore: per-(token, hash-block)
  // (max_tf, min_dl) bounds disqualify candidate docs whose summed block
  // bounds cannot reach the seeded threshold — a strictly tighter
  // candidate set than x265's global bounds (one high-tf outlier doc
  // inflates only its OWN block's bound). Survivors still score fully,
  // so EXACTNESS is again the algorithm's guarantee and the oracle is
  // x171's full-corpus BM25 verbatim.
  private val x272 = Q("x272_blockmax_topk", Some(
    s"""WITH ${bm25Cte(nQueries = 5, k = 5)}
       |SELECT * FROM ranked ORDER BY query_id, rank""".stripMargin)) {
    (s, dir) =>
      val d = t(s, dir, "documents")
      Retrieval.buildPostingsIndex(d.filter(col("doc_id") >= 5), "doc_id",
        "text", "graft_x272_postings")
      Retrieval.buildImpactBounds(s, "graft_x272_postings")
      Retrieval.buildBlockMax(s, "graft_x272_postings", nBlocks = 16)
      Retrieval.bmwTopK(s, "graft_x272_postings",
          d.filter(col("doc_id") < 5), "doc_id", "text", k = 5)
        .orderBy("query_id", "rank")
  }

  // The skewed-token serving batch (x266's 16 queries) under Block-Max:
  // completes the serving triple x267 (full scan) > x266 (MaxScore) >
  // x273 (Block-Max) over the same oracle — the bench JSON carries the
  // three-way serving-cost comparison on the identical query load.
  private val x273 = Q("x273_blockmax_skewed", Some(skewedOracle)) {
    (s, dir) =>
      val d = t(s, dir, "documents")
      Retrieval.buildPostingsIndex(d.filter(col("doc_id") >= 5), "doc_id",
        "text", "graft_x273_postings")
      Retrieval.buildImpactBounds(s, "graft_x273_postings")
      Retrieval.buildBlockMax(s, "graft_x273_postings", nBlocks = 16)
      Retrieval.bmwTopK(s, "graft_x273_postings", skewedQueries(s),
          "doc_id", "text", k = 5)
        .orderBy("query_id", "rank")
  }

  // Snippet extraction — the serving half of x270's minimal spans: the
  // top docs by smallest cover, each with its best window's bounds and
  // the window's token text REASSEMBLED FROM THE POSITIONAL INDEX
  // (dense positions make the [start, end] slice the exact tokenized
  // passage — no second corpus scan). Best window = smallest span,
  // earliest start on ties. The oracle replays span discovery, the
  // per-doc window pick, the rank, and the string_agg reassembly.
  private val x274 = Q("x274_min_span_snippets", Some(
    s"""WITH base AS (
       |  SELECT doc_id, $WORDS AS ws, len($WORDS) AS n FROM documents
       |  WHERE doc_id >= 5),
       |pos AS (
       |  SELECT doc_id AS doc, ws[i] AS token, CAST(i - 1 AS BIGINT) AS pos
       |  FROM base, unnest(range(1, n + 1)) AS r(i)),
       |qt AS (
       |  SELECT CAST(1 AS BIGINT) AS query_id, u.w AS token
       |  FROM unnest(['dup', 'batch']) AS u(w)
       |  UNION ALL
       |  SELECT CAST(2 AS BIGINT), u.w
       |  FROM unnest(['spark', 'window', 'group']) AS u(w)),
       |qm AS (SELECT query_id, count(*) AS m FROM qt GROUP BY 1),
       |occ AS MATERIALIZED (
       |  SELECT qt.query_id, p.doc, p.token, p.pos
       |  FROM pos p JOIN qt USING (token)),
       |st AS (
       |  SELECT o.query_id, o.doc, q2.token AS term, o.pos,
       |    1 AS isq
       |  FROM (SELECT DISTINCT query_id, doc, pos FROM occ) o
       |  JOIN qt q2 USING (query_id)),
       |un AS (
       |  SELECT * FROM st
       |  UNION ALL
       |  SELECT query_id, doc, token AS term, pos, 0 AS isq FROM occ),
       |nx AS (
       |  SELECT query_id, doc, term, pos, isq,
       |    min(CASE WHEN isq = 0 THEN pos END) OVER (
       |      PARTITION BY query_id, doc, term
       |      ORDER BY pos, isq DESC
       |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nxt
       |  FROM un),
       |spans AS (
       |  SELECT query_id, doc, pos, count(nxt) AS cov,
       |    max(nxt) AS e
       |  FROM nx WHERE isq = 1 GROUP BY 1, 2, 3),
       |bestw AS (
       |  SELECT s.query_id, s.doc, s.pos AS start_pos, s.e,
       |    s.e - s.pos + 1 AS min_span
       |  FROM spans s JOIN qm USING (query_id)
       |  WHERE s.cov = qm.m
       |  QUALIFY row_number() OVER (PARTITION BY s.query_id, s.doc
       |    ORDER BY s.e - s.pos + 1, s.pos) = 1),
       |topd AS (
       |  SELECT query_id, doc, start_pos, e, min_span,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY min_span, doc) AS INT) AS rank
       |  FROM bestw
       |  QUALIFY row_number() OVER (PARTITION BY query_id
       |    ORDER BY min_span, doc) <= 5)
       |SELECT t.query_id, t.doc AS doc_id, t.min_span, t.start_pos,
       |  string_agg(p.token, ' ' ORDER BY p.pos) AS snippet, t.rank
       |FROM topd t JOIN pos p ON p.doc = t.doc
       |  AND p.pos BETWEEN t.start_pos AND t.e
       |GROUP BY t.query_id, t.doc, t.min_span, t.start_pos, t.rank
       |ORDER BY query_id, rank""".stripMargin)) { (s, dir) =>
    import s.implicits._
    val d = t(s, dir, "documents")
    Retrieval.buildPositionalIndex(d.filter(col("doc_id") >= 5), "doc_id",
      "text", "graft_x274_positions")
    // corpus handed in: the snippet reassembly re-tokenizes ONLY the
    // winner docs (broadcast semi-join on the corpus scan) instead of
    // paying a full pass over the token-bucketed positional table
    Retrieval.minSpanSnippets(s, "graft_x274_positions",
      Seq((1L, "dup batch"), (2L, "spark window group"))
        .toDF("doc_id", "text"),
      "doc_id", "text", k = 5,
      corpus = Some((d.filter(col("doc_id") >= 5), "doc_id", "text")))
  }

  // Dynamic pruning rides the streamed family: the feed ingest seeds
  // `_ub` + `_bm` on the empty build and every micro-batch merges the
  // extremes associatively, so Block-Max serving works straight off the
  // drained feed. Because bmw is EXACT, the gate is the from-scratch
  // full-corpus BM25 oracle itself — stale or mis-merged bounds under a
  // streamed build would flip the hash.
  private val x277 = Q("x277_file_stream_bmw", Some(
    s"""WITH ${bm25Cte(nQueries = 5, k = 5)}
       |SELECT * FROM ranked ORDER BY query_id, rank""".stripMargin)) {
    (s, dir) =>
      val d = t(s, dir, "documents")
      Replay.withTempDir(s, "graft_x277_feed") { feed =>
        LocalWrites.write(d.filter(col("doc_id") >= 5).repartition(4))
          .mode("overwrite").parquet(feed)
        Retrieval.fileStreamIndexIngest(s, feed, "doc_id", "text",
          "graft_x277_postings", boundsBlocks = 16)
      }
      Retrieval.bmwTopK(s, "graft_x277_postings",
          d.filter(col("doc_id") < 5), "doc_id", "text", k = 5)
        .orderBy("query_id", "rank")
  }

  // Two-stage cascade: WAND-pruned exact BM25 top-20 candidates, then
  // the SDM fusion reranks ONLY those 20 per query — the production
  // candidate-generation → reranker shape, where positional evidence is
  // paid for a constant candidate pool instead of every term match. The
  // oracle replays the unrounded-DECIMAL top-20 cut and the full SDM
  // fusion restricted to it.
  /** Shared by x278 (MaxScore stage 1) and x284 (Block-Max stage 1):
    * the cascade's oracle replays the unrounded-DECIMAL BM25 top-20 cut
    * and the full SDM fusion restricted to it — both stage-1 pruners
    * are exact, so the pool and the answer are pruner-independent. */
  private val cascadeOracle: String =
    s"""WITH ${bm25Cte(nQueries = 5, k = 5)},
       |base2 AS (
       |  SELECT doc_id, $WORDS AS ws, len($WORDS) AS n FROM documents
       |  WHERE doc_id >= 5),
       |pos AS (
       |  SELECT doc_id AS doc, ws[i] AS token, CAST(i - 1 AS BIGINT) AS pos
       |  FROM base2, unnest(range(1, n + 1)) AS r(i)),
       |cand AS (
       |  SELECT query_id, doc FROM scored
       |  QUALIFY row_number() OVER (PARTITION BY query_id
       |    ORDER BY s DESC, doc) <= 20),
       |h AS MATERIALIZED (
       |  SELECT qt.query_id, p.doc, p.token, p.pos
       |  FROM pos p JOIN qt USING (token)
       |  JOIN cand c ON c.query_id = qt.query_id AND c.doc = p.doc),
       |po AS (
       |  SELECT a.query_id, a.doc, CAST(count(*) AS BIGINT) AS no
       |  FROM h a JOIN h b ON a.query_id = b.query_id AND a.doc = b.doc
       |    AND a.token <> b.token AND b.pos - a.pos BETWEEN 1 AND 3
       |  GROUP BY a.query_id, a.doc),
       |pu AS (
       |  SELECT a.query_id, a.doc, CAST(count(*) AS BIGINT) AS nu
       |  FROM h a JOIN h b ON a.query_id = b.query_id AND a.doc = b.doc
       |    AND a.token < b.token AND abs(a.pos - b.pos) <= 3
       |  GROUP BY a.query_id, a.doc),
       |comb AS (
       |  SELECT s.query_id, s.doc, s.matched_terms,
       |    coalesce(po.no, 0) AS no, coalesce(pu.nu, 0) AS nu,
       |    CAST(0.8::DOUBLE * CAST(s.s AS DOUBLE)
       |      + 0.1::DOUBLE * ln(1.0::DOUBLE +
       |          CAST(coalesce(po.no, 0) AS DOUBLE))
       |      + 0.1::DOUBLE * ln(1.0::DOUBLE +
       |          CAST(coalesce(pu.nu, 0) AS DOUBLE))
       |      AS DECIMAL(28,18)) AS sc
       |  FROM scored s
       |    JOIN cand USING (query_id, doc)
       |    LEFT JOIN po ON po.query_id = s.query_id AND po.doc = s.doc
       |    LEFT JOIN pu ON pu.query_id = s.query_id AND pu.doc = s.doc)
       |SELECT query_id, doc AS doc_id,
       |  round(CAST(sc AS DOUBLE), 4) AS score, matched_terms,
       |  no AS n_ordered, nu AS n_unordered,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY sc DESC, doc) AS INT) AS rank
       |FROM comb
       |QUALIFY row_number() OVER (PARTITION BY query_id
       |  ORDER BY sc DESC, doc) <= 5
       |ORDER BY query_id, rank""".stripMargin

  private val x278 = Q("x278_cascade_rank", Some(cascadeOracle)) {
    (s, dir) =>
      val d = t(s, dir, "documents")
      val corpus = d.filter(col("doc_id") >= 5)
      Retrieval.buildPostingsIndex(corpus, "doc_id", "text",
        "graft_x278_postings")
      Retrieval.buildPositionalIndex(corpus, "doc_id", "text",
        "graft_x278_postings_pos")
      Retrieval.buildImpactBounds(s, "graft_x278_postings")
      Retrieval.cascadeTopK(s, "graft_x278_postings",
          d.filter(col("doc_id") < 5), "doc_id", "text", k = 5,
          candN = 20, window = 3)
        .orderBy("query_id", "rank")
  }

  // x278 with `_bm` present: cascadeTopK's stage 1 rides Block-Max
  // (bmwCandidateDocs — a strictly smaller exact candidate superset for
  // the same top-candN pool), gated on the IDENTICAL oracle — the
  // refinement must be invisible in the answer, visible only in the
  // candidate volume.
  private val x284 = Q("x284_cascade_blockmax", Some(cascadeOracle)) {
    (s, dir) =>
      val d = t(s, dir, "documents")
      val corpus = d.filter(col("doc_id") >= 5)
      Retrieval.buildPostingsIndex(corpus, "doc_id", "text",
        "graft_x284_postings")
      Retrieval.buildPositionalIndex(corpus, "doc_id", "text",
        "graft_x284_postings_pos")
      Retrieval.buildImpactBounds(s, "graft_x284_postings")
      Retrieval.buildBlockMax(s, "graft_x284_postings", nBlocks = 16)
      Retrieval.cascadeTopK(s, "graft_x284_postings",
          d.filter(col("doc_id") < 5), "doc_id", "text", k = 5,
          candN = 20, window = 3)
        .orderBy("query_id", "rank")
  }

  // The bounds-lifecycle chain certificate: stream-ingest the index
  // with `_ub`/`_bm` riding every micro-batch → delete a slice (bounds
  // stay stale-but-valid) → append a late batch (extremes merge) →
  // compact (bounds rebuild from survivors, regaining tightness) →
  // serve Block-Max top-k. bmw is exact at EVERY point of that chain,
  // so the gate is the from-scratch full BM25 on the final survivors —
  // if any lifecycle step under- or over-bounds a term, pruning goes
  // wrong and the hash flips.
  private val x281 = Q("x281_bounds_lifecycle_chain", Some {
    val survivors = "doc_id >= 5 AND doc_id % 10 <> 7"
    s"""WITH ${bm25Cte(nQueries = 5, k = 5, corpusWhere = survivors)}
       |SELECT * FROM ranked ORDER BY query_id, rank""".stripMargin
  }) { (s, dir) =>
    val d = t(s, dir, "documents")
    val tbl = "graft_x281_postings"
    PhaseTimer.time("x281_bounds_lifecycle_chain", "build") {
      Replay.withTempDir(s, "graft_x281_feed") { feed =>
        LocalWrites.write(d.filter(col("doc_id") >= 5 && col("doc_id") % 5 =!= 4)
          .repartition(4)).mode("overwrite").parquet(feed)
        Retrieval.fileStreamIndexIngest(s, feed, "doc_id", "text", tbl,
          boundsBlocks = 16)
      }
    }
    PhaseTimer.time("x281_bounds_lifecycle_chain", "maintain") {
      Retrieval.deleteFromPostingsIndex(s,
        d.filter(col("doc_id") % 10 === 7).select("doc_id"), "doc_id", tbl)
      Retrieval.appendToPostingsIndex(
        d.filter(col("doc_id") >= 5 && col("doc_id") % 5 === 4),
        "doc_id", "text", tbl)
      Retrieval.compactPostingsIndex(s, tbl)
    }
    Retrieval.bmwTopK(s, tbl, d.filter(col("doc_id") < 5),
        "doc_id", "text", k = 5)
      .orderBy("query_id", "rank")
  }

  // The PRODUCTION hybrid-serving certificate (x172 fused the
  // non-indexed scorers; this fuses the INDEXES): both families arrive
  // as file streams — postings with `_ub`/`_bm` bounds riding every
  // micro-batch, IVF with its exact-decimal centroid state — the SQ8
  // codes are fit on the drained dense index, and the served rankings
  // are Block-Max BM25 (exact) and the quantized ADC batch probe, fused
  // by integer reciprocal-rank. The oracle replays the full BM25, the
  // full routing/grid/quantize/ADC/rescore chain, and the integer
  // fusion — the x171/x280 oracle disciplines composed over the x271
  // streamed-harness pattern.
  private val x282 = Q("x282_hybrid_indexed_fusion", Some(
    s"""WITH ${bm25Cte(nQueries = 3, k = 20)},
       |eq AS (
       |  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv,
       |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
       |      CAST(embedding AS DOUBLE[]))) AS qn
       |  FROM embeddings WHERE vec_id < 3),
       |corp AS (
       |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings WHERE vec_id >= 5),
       |cent AS (
       |  SELECT label, i, avg(v[i]) AS cv
       |  FROM corp CROSS JOIN range(1, 65) AS r(i) GROUP BY label, i),
       |cscore AS (
       |  SELECT eq.qid, c.label,
       |    sum(c.cv * eq.qv[c.i]) / (sqrt(sum(c.cv * c.cv)) * eq.qn) AS cs
       |  FROM cent c, eq GROUP BY eq.qid, c.label, eq.qn),
       |probe AS (
       |  SELECT qid, label FROM cscore
       |  QUALIFY row_number() OVER (PARTITION BY qid
       |    ORDER BY cs DESC, label) <= 3),
       |e AS (
       |  SELECT c.vec_id, c.label, u.i - 1 AS pos, c.v[u.i] AS x
       |  FROM corp c, unnest(range(1, len(c.v) + 1)) AS u(i)),
       |dg AS (SELECT pos, min(x) AS lo, max(x) AS hi FROM e GROUP BY pos),
       |r2 AS (
       |  SELECT e.vec_id, e.label, e.pos,
       |    dg.lo + (CAST(CASE WHEN dg.hi = dg.lo THEN 0
       |      ELSE greatest(0, least(floor((e.x - dg.lo) / (dg.hi - dg.lo) * 256), 255))
       |      END AS DOUBLE) + 0.5) * (dg.hi - dg.lo) / 256 AS deq
       |  FROM e JOIN dg USING (pos)),
       |vecs AS (SELECT vec_id, label, array_agg(deq ORDER BY pos) AS dv
       |         FROM r2 GROUP BY vec_id, label),
       |adc AS (
       |  SELECT p.qid AS query_id, v.vec_id,
       |    list_dot_product(v.dv, eq.qv) /
       |      (sqrt(list_dot_product(v.dv, v.dv)) * eq.qn) AS adc_cos
       |  FROM vecs v JOIN probe p ON v.label = p.label
       |    JOIN eq ON eq.qid = p.qid),
       |topr AS (
       |  SELECT query_id, vec_id FROM adc
       |  QUALIFY row_number() OVER (PARTITION BY query_id
       |    ORDER BY adc_cos DESC, vec_id) <= 30),
       |dr AS (
       |  SELECT t.query_id, t.vec_id AS item_id,
       |    CAST(row_number() OVER (PARTITION BY t.query_id ORDER BY
       |      list_dot_product(c.v, eq.qv) /
       |        (sqrt(list_dot_product(c.v, c.v)) * eq.qn) DESC, t.vec_id)
       |      AS INT) AS rank
       |  FROM topr t JOIN corp c USING (vec_id)
       |    JOIN eq ON eq.qid = t.query_id
       |  QUALIFY rank <= 20),
       |contribs AS (
       |  SELECT query_id, doc_id AS item_id, 1000000000 // (60 + rank) AS c
       |  FROM ranked
       |  UNION ALL
       |  SELECT query_id, item_id, 1000000000 // (60 + rank) FROM dr),
       |fused AS (
       |  SELECT query_id, item_id, CAST(sum(c) AS BIGINT) AS rrf_ppb,
       |    CAST(count(*) AS BIGINT) AS n_lists
       |  FROM contribs GROUP BY 1, 2)
       |SELECT query_id, item_id, rrf_ppb, n_lists,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY rrf_ppb DESC, item_id) AS INT) AS rank
       |FROM fused QUALIFY rank <= 10
       |ORDER BY query_id, rank""".stripMargin)) { (s, dir) =>
    val d = t(s, dir, "documents")
    val emb = t(s, dir, "embeddings")
    PhaseTimer.time("x282_hybrid_indexed_fusion", "build") {
      Replay.withTempDir(s, "graft_x282_feed_s") { feedS =>
        LocalWrites.write(d.filter(col("doc_id") >= 5).repartition(4))
          .mode("overwrite").parquet(feedS)
        Retrieval.fileStreamIndexIngest(s, feedS, "doc_id", "text",
          "graft_x282_postings", boundsBlocks = 16)
      }
      Replay.withTempDir(s, "graft_x282_feed_d") { feedD =>
        LocalWrites.write(emb
          .select(col("vec_id"), col("label"), col("embedding"))
          .filter(col("vec_id") >= 5).repartition(4))
          .mode("overwrite").parquet(feedD)
        Similarity.fileStreamIvfIngest(s, feedD, "vec_id", "label",
          "embedding", "graft_x282_ivf")
      }
      Similarity.buildIvfCodes(s, "graft_x282_ivf", "vec_id", "label",
        "embedding")
    }
    val sparse = Retrieval.bmwTopK(s, "graft_x282_postings",
        d.filter(col("doc_id") < 3), "doc_id", "text", k = 20)
      .select(col("query_id"), col("doc_id").as("item"), col("rank"))
    val dense = Similarity.ivfTopKQuantizedBatch(s, "graft_x282_ivf",
        "vec_id", "label", "embedding", emb.filter(col("vec_id") < 3),
        "vec_id", k = 20, nprobe = 3, rescore = 30)
      .select(col("query_id"), col("vec_id").as("item"), col("rank"))
    Retrieval.rrfFuse(Seq(sparse, dense), "query_id", "item", "rank",
        kRrf = 60, topK = 10)
      .orderBy("query_id", "rank")
  }

  // One lifecycle phase of the x286 oracle: the full x282 dense replay
  // (query norms → exact-decimal-free cosine routing → per-dim grid fit
  // over THIS PHASE's corpus → SQ8 quantize/dequantize → ADC top-rescore
  // → exact rescore top-k) plus the integer RRF fusion against
  // `ranked$sfx` (the suffixed bm25Cte instantiation). Grid-per-phase is
  // the point: phase 1's grid is the stream-drained fit, phase 2's is
  // refitIvfCodes' re-fit over the post-append-post-delete survivors.
  private def hybridDenseCte(sfx: String, vecWhere: String): String =
    s"""eq$sfx AS (
       |  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv,
       |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
       |      CAST(embedding AS DOUBLE[]))) AS qn
       |  FROM embeddings WHERE vec_id < 3),
       |corp$sfx AS (
       |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings WHERE $vecWhere),
       |cent$sfx AS (
       |  SELECT label, i, avg(v[i]) AS cv
       |  FROM corp$sfx CROSS JOIN range(1, 65) AS r(i) GROUP BY label, i),
       |cscore$sfx AS (
       |  SELECT eq$sfx.qid, c.label,
       |    sum(c.cv * eq$sfx.qv[c.i]) /
       |      (sqrt(sum(c.cv * c.cv)) * eq$sfx.qn) AS cs
       |  FROM cent$sfx c, eq$sfx GROUP BY eq$sfx.qid, c.label, eq$sfx.qn),
       |probe$sfx AS (
       |  SELECT qid, label FROM cscore$sfx
       |  QUALIFY row_number() OVER (PARTITION BY qid
       |    ORDER BY cs DESC, label) <= 3),
       |e$sfx AS (
       |  SELECT c.vec_id, c.label, u.i - 1 AS pos, c.v[u.i] AS x
       |  FROM corp$sfx c, unnest(range(1, len(c.v) + 1)) AS u(i)),
       |dg$sfx AS (SELECT pos, min(x) AS lo, max(x) AS hi
       |           FROM e$sfx GROUP BY pos),
       |r2$sfx AS (
       |  SELECT e$sfx.vec_id, e$sfx.label, e$sfx.pos,
       |    dg$sfx.lo + (CAST(CASE WHEN dg$sfx.hi = dg$sfx.lo THEN 0
       |      ELSE greatest(0, least(floor((e$sfx.x - dg$sfx.lo)
       |        / (dg$sfx.hi - dg$sfx.lo) * 256), 255))
       |      END AS DOUBLE) + 0.5) * (dg$sfx.hi - dg$sfx.lo) / 256 AS deq
       |  FROM e$sfx JOIN dg$sfx USING (pos)),
       |vecs$sfx AS (SELECT vec_id, label, array_agg(deq ORDER BY pos) AS dv
       |             FROM r2$sfx GROUP BY vec_id, label),
       |adc$sfx AS (
       |  SELECT p.qid AS query_id, v.vec_id,
       |    list_dot_product(v.dv, eq$sfx.qv) /
       |      (sqrt(list_dot_product(v.dv, v.dv)) * eq$sfx.qn) AS adc_cos
       |  FROM vecs$sfx v JOIN probe$sfx p ON v.label = p.label
       |    JOIN eq$sfx ON eq$sfx.qid = p.qid),
       |topr$sfx AS (
       |  SELECT query_id, vec_id FROM adc$sfx
       |  QUALIFY row_number() OVER (PARTITION BY query_id
       |    ORDER BY adc_cos DESC, vec_id) <= 30),
       |dr$sfx AS (
       |  SELECT t.query_id, t.vec_id AS item_id,
       |    CAST(row_number() OVER (PARTITION BY t.query_id ORDER BY
       |      list_dot_product(c.v, eq$sfx.qv) /
       |        (sqrt(list_dot_product(c.v, c.v)) * eq$sfx.qn) DESC,
       |      t.vec_id) AS INT) AS rank
       |  FROM topr$sfx t JOIN corp$sfx c USING (vec_id)
       |    JOIN eq$sfx ON eq$sfx.qid = t.query_id
       |  QUALIFY rank <= 20),
       |contribs$sfx AS (
       |  SELECT query_id, doc_id AS item_id, 1000000000 // (60 + rank) AS c
       |  FROM ranked$sfx
       |  UNION ALL
       |  SELECT query_id, item_id, 1000000000 // (60 + rank) FROM dr$sfx),
       |fused$sfx AS (
       |  SELECT query_id, item_id, CAST(sum(c) AS BIGINT) AS rrf_ppb,
       |    CAST(count(*) AS BIGINT) AS n_lists
       |  FROM contribs$sfx GROUP BY 1, 2)""".stripMargin

  // The HYBRID-STACK LIFECYCLE certificate — the scenario a production
  // corpus actually lives: x282 certified build→serve for the fused
  // bmw + SQ8-ADC + integer-RRF stack; this chains MAINTENANCE through
  // the middle. Stream-build both families, serve the fused top-k, then
  // append a late batch to BOTH families, take down a slice from BOTH,
  // refit the drifted SQ8 grid (grid_gen bump), compact the postings —
  // and serve again. BOTH serves gate on full oracle replays: phase 1
  // against the streamed 80% slice, phase 2 against the post-maintenance
  // survivors with the grid REFIT over them — if any maintenance step
  // leaves a stale posting, bound, code, centroid or grid row behind,
  // the second serve's hash flips.
  private val x286 = Q("x286_hybrid_lifecycle_chain", Some {
    val p1Docs = "doc_id >= 5 AND doc_id % 5 <> 4"
    val p2Docs = "doc_id >= 5 AND doc_id % 10 <> 7"
    val p1Vecs = "vec_id >= 5 AND vec_id % 5 <> 4"
    val p2Vecs = "vec_id >= 5 AND vec_id % 10 <> 7"
    s"""WITH ${bm25Cte(nQueries = 3, k = 20, corpusWhere = p1Docs, sfx = "_p1")},
       |${hybridDenseCte("_p1", p1Vecs)},
       |${bm25Cte(nQueries = 3, k = 20, corpusWhere = p2Docs, sfx = "_p2")},
       |${hybridDenseCte("_p2", p2Vecs)}
       |SELECT * FROM (
       |  SELECT '1_built' AS phase, query_id, item_id, rrf_ppb, n_lists,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY rrf_ppb DESC, item_id) AS INT) AS rank
       |  FROM fused_p1
       |  QUALIFY rank <= 10
       |  UNION ALL
       |  SELECT '2_maintained', query_id, item_id, rrf_ppb, n_lists,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY rrf_ppb DESC, item_id) AS INT) AS rank
       |  FROM fused_p2
       |  QUALIFY rank <= 10
       |) ORDER BY phase, query_id, rank""".stripMargin
  }) { (s, dir) =>
    val d = t(s, dir, "documents")
    val emb = t(s, dir, "embeddings")
    // 80% of both corpora arrive as 4-file streams maintaining the whole
    // family (postings + _ub/_bm bounds; IVF vectors + exact-decimal
    // centroid state); ids ≡ 7 (mod 10) are all inside this slice
    PhaseTimer.time("x286_hybrid_lifecycle_chain", "build") {
      Replay.withTempDir(s, "graft_x286_feed_s") { feedS =>
        LocalWrites.write(d.filter(col("doc_id") >= 5 && col("doc_id") % 5 =!= 4)
          .repartition(4)).mode("overwrite").parquet(feedS)
        Retrieval.fileStreamIndexIngest(s, feedS, "doc_id", "text",
          "graft_x286_postings", boundsBlocks = 16)
      }
      Replay.withTempDir(s, "graft_x286_feed_d") { feedD =>
        LocalWrites.write(emb
          .select(col("vec_id"), col("label"), col("embedding"))
          .filter(col("vec_id") >= 5 && col("vec_id") % 5 =!= 4)
          .repartition(4)).mode("overwrite").parquet(feedD)
        Similarity.fileStreamIvfIngest(s, feedD, "vec_id", "label",
          "embedding", "graft_x286_ivf")
      }
      Similarity.buildIvfCodes(s, "graft_x286_ivf", "vec_id", "label",
        "embedding")
    }
    // one fused serve; eager (localCheckpoint) because the maintenance
    // steps REWRITE the tables this lazy plan reads — the x283 phase
    // discipline. Both serves are timed under the `serve` phase — the
    // latency-critical rows the 40 s chain total was hiding (r14 #4).
    def serve(phase: String) = PhaseTimer.time(
        "x286_hybrid_lifecycle_chain", "serve") {
      val sparse = Retrieval.bmwTopK(s, "graft_x286_postings",
          d.filter(col("doc_id") < 3), "doc_id", "text", k = 20)
        .select(col("query_id"), col("doc_id").as("item"), col("rank"))
      val dense = Similarity.ivfTopKQuantizedBatch(s, "graft_x286_ivf",
          "vec_id", "label", "embedding", emb.filter(col("vec_id") < 3),
          "vec_id", k = 20, nprobe = 3, rescore = 30)
        .select(col("query_id"), col("vec_id").as("item"), col("rank"))
      Retrieval.rrfFuse(Seq(sparse, dense), "query_id", "item", "rank",
          kRrf = 60, topK = 10)
        .select(lit(phase).as("phase"), col("query_id"), col("item_id"),
          col("rrf_ppb"), col("n_lists"), col("rank"))
        .localCheckpoint(eager = true)
    }
    val built = serve("1_built")
    // mid-life maintenance, every step on BOTH families: late 20% batch
    // appends (codes ride the frozen grid), a takedown slice deletes
    // (tombstones + partition rewrites), the SQ8 grid refits over the
    // survivors (grid_gen 0 → 1), postings compact (physical reclaim +
    // companion rebuild from surviving truth)
    PhaseTimer.time("x286_hybrid_lifecycle_chain", "maintain") {
      Retrieval.appendToPostingsIndex(
        d.filter(col("doc_id") >= 5 && col("doc_id") % 5 === 4),
        "doc_id", "text", "graft_x286_postings")
      Similarity.appendToIvfIndex(
        emb.select(col("vec_id"), col("label"), col("embedding"))
          .filter(col("vec_id") >= 5 && col("vec_id") % 5 === 4),
        "vec_id", "label", "embedding", "graft_x286_ivf")
      Retrieval.deleteFromPostingsIndex(s,
        d.filter(col("doc_id") % 10 === 7).select("doc_id"), "doc_id",
        "graft_x286_postings")
      Similarity.deleteFromIvfIndex(s,
        emb.filter(col("vec_id") % 10 === 7).select("vec_id"), "vec_id",
        "graft_x286_ivf", "label", "embedding")
      Similarity.refitIvfCodes(s, "graft_x286_ivf", "vec_id", "label",
        "embedding")
      Retrieval.compactPostingsIndex(s, "graft_x286_postings")
    }
    built.unionByName(serve("2_maintained"))
      .orderBy("phase", "query_id", "rank")
  }

  // Sparse-side auto-maintenance POLICY — the postings twin of x287's
  // SQ8 drift loop: maintainPostingsIndex measures the index's tombstone
  // debt (dead postings rows behind the _tomb cutoffs, in exact bps),
  // appends the batch, and compacts only past the threshold. Two rounds:
  // the healthy one (no deletes yet — 0 bps) appends without compacting;
  // after a 20%-of-live takedown the delete-heavy round measures ~2000
  // bps > 1000 and compacts. The oracle replays BOTH decision rows from
  // raw text — postings-row counts are distinct (doc, token) pairs under
  // the same tokenization, the bps arithmetic is the same integer
  // division, and the compacted flag and the physical row counts after
  // each round are CASE expressions over the replayed threshold
  // comparison, so the policy logic itself is what's gated.
  private val x290 = Q("x290_postings_auto_maintenance", Some(
    s"""WITH ct AS (
       |  SELECT doc_id, u.w AS token
       |  FROM (SELECT doc_id, $WORDS AS ws FROM documents
       |        WHERE doc_id >= 5), unnest(ws) AS u(w)),
       |pc AS (
       |  SELECT doc_id, count(*) AS pr
       |  FROM (SELECT DISTINCT doc_id, token FROM ct) GROUP BY doc_id),
       |docs AS (
       |  SELECT d.doc_id, d.doc_id % 7 AS grp, coalesce(pc.pr, 0) AS pr
       |  FROM documents d LEFT JOIN pc USING (doc_id)
       |  WHERE d.doc_id >= 5),
       |agg AS (
       |  SELECT
       |    CAST(sum(CASE WHEN grp <= 4 THEN pr ELSE 0 END) AS BIGINT)
       |      AS r_built,
       |    CAST(sum(CASE WHEN grp = 5 THEN pr ELSE 0 END) AS BIGINT)
       |      AS r_b1,
       |    CAST(sum(CASE WHEN grp = 6 THEN pr ELSE 0 END) AS BIGINT)
       |      AS r_b2,
       |    CAST(sum(CASE WHEN grp <= 5 AND doc_id % 5 = 4 THEN pr
       |      ELSE 0 END) AS BIGINT) AS r_dead,
       |    CAST(sum(CASE WHEN grp = 5 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_b1,
       |    CAST(sum(CASE WHEN grp = 6 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_b2
       |  FROM docs),
       |p2 AS (
       |  SELECT r_dead * 10000 // (r_built + r_b1) AS bps2, agg.*
       |  FROM agg)
       |SELECT * FROM (
       |  SELECT '1_healthy' AS phase, n_b1 AS n_docs,
       |    r_built AS rows_total_before,
       |    CAST(0 AS BIGINT) AS rows_dead_before,
       |    CAST(0 AS BIGINT) AS tombstone_bps,
       |    CAST(1000 AS BIGINT) AS max_tombstone_bps,
       |    CAST(CASE WHEN 0 > 1000 THEN 1 ELSE 0 END AS BIGINT)
       |      AS compacted,
       |    r_built + r_b1 AS rows_total_after
       |  FROM p2
       |  UNION ALL
       |  SELECT '2_delete_heavy', n_b2, r_built + r_b1, r_dead, bps2,
       |    CAST(1000 AS BIGINT),
       |    CAST(CASE WHEN bps2 > 1000 THEN 1 ELSE 0 END AS BIGINT),
       |    CASE WHEN bps2 > 1000
       |      THEN r_built + r_b1 - r_dead + r_b2
       |      ELSE r_built + r_b1 + r_b2 END
       |  FROM p2
       |) ORDER BY phase""".stripMargin)) { (s, dir) =>
    val d = t(s, dir, "documents")
    Retrieval.buildPostingsIndex(
      d.filter(col("doc_id") >= 5 && col("doc_id") % 7 <= 4),
      "doc_id", "text", "graft_x290_postings")
    def decide(phase: String, b: org.apache.spark.sql.DataFrame) =
      Retrieval.maintainPostingsIndex(s, "graft_x290_postings", b,
          "doc_id", "text", maxTombstoneBps = 1000L)
        .select(lit(phase).as("phase"), col("n_docs"),
          col("rows_total_before"), col("rows_dead_before"),
          col("tombstone_bps"), col("max_tombstone_bps"),
          col("compacted"), col("rows_total_after"))
    // phase 1 executes eagerly inside the call (the decision row is
    // driver-held literals), so the takedown below cannot retro-change it
    val p1 = decide("1_healthy",
      d.filter(col("doc_id") >= 5 && col("doc_id") % 7 === 5))
    Retrieval.deleteFromPostingsIndex(s,
      d.filter(col("doc_id") >= 5 && col("doc_id") % 7 <= 5 &&
        col("doc_id") % 5 === 4).select("doc_id"),
      "doc_id", "graft_x290_postings")
    p1.unionByName(decide("2_delete_heavy",
        d.filter(col("doc_id") >= 5 && col("doc_id") % 7 === 6)))
      .orderBy("phase")
  }

  val qs: Seq[Q] = Seq(x171, x172, x173, x174, x175, x181, x184, x195,
    x207, x209, x217, x218, x234, x235, x236, x237, x241, x245, x246,
    x248, x251, x252, x253, x254, x255, x256, x259, x261, x262, x263,
    x264, x265, x266, x267, x270, x271, x272, x273, x274, x277, x278,
    x281, x282, x284, x286, x290)
}
