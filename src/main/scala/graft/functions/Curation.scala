package graft.functions

import graft.functions.expr.{Dec18Sums, GatherSumDec18}
import graft.operators.Dedup
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions._

/** Training-data curation operators (beyond-reference north star):
  * token-bounded chunking, deterministic stratified sampling, PII
  * scrubbing. All pure expressions — no shuffle except the chunk explode.
  */
object Curation {

  /** Split documents into token-bounded chunks with overlap. stride =
    * chunkTokens - overlap; every token lands in ≥1 chunk, consecutive
    * chunks share `overlap` tokens (the standard context-window prep).
    * One explode — embarrassingly parallel, no shuffle. */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int = 50, overlap: Int = 10): DataFrame = {
    require(overlap < chunkTokens, "overlap must be smaller than chunkTokens")
    val stride = chunkTokens - overlap
    val withWords = df.withColumn("__ws", Dedup.words(col(textCol)))
      .withColumn("__n", size(col("__ws")))
    withWords
      .filter(col("__n") > 0)
      .withColumn("__chunks", expr(
        s"transform(sequence(0, int((greatest(__n - $overlap - 1, 0)) / $stride)), " +
        s"i -> array_join(slice(__ws, i * $stride + 1, $chunkTokens), ' '))"))
      .select(col(idCol), posexplode(col("__chunks")))
      .select(col(idCol), col("pos").cast("int").as("chunk_idx"),
        col("col").as("chunk_text"),
        size(split(col("col"), " ")).as("chunk_tokens"))
  }

  /** Deterministic stratified sampling: md5-hash the id with a seed and
    * keep the row when `hash % 100 < rate(stratum)`. Reproducible across
    * runs AND engines (no rand()), per-stratum rates, default for unlisted
    * strata. Pure filter — pushes down, no shuffle, no driver state. */
  def stratifiedSample(df: DataFrame, idCol: String, stratumCol: String,
      ratesPct: Map[String, Int], defaultPct: Int, seed: String = "s"): DataFrame = {
    val bucket = Dedup.seededHash(0, concat(lit(s"$seed:"), col(idCol).cast("string"))) % 100
    val rate = ratesPct.foldLeft(lit(defaultPct)) { case (acc, (stratum, pct)) =>
      when(col(stratumCol) === stratum, lit(pct)).otherwise(acc)
    }
    df.filter(bucket < rate)
  }

  /** Exact-quota mixture sampling — "build me a training mix of exactly
    * `total` documents with each group's share preserved": per-group
    * quotas by Hamilton's largest-remainder method (base = ⌊total·n_g/N⌋,
    * the total−Σbase leftovers go to the largest integer remainders,
    * ties to the lower group key), then each group contributes its
    * md5-ranked top-quota documents. Unlike rate-based sampling
    * ([[stratifiedSample]]) the output size is EXACTLY `total` and the
    * allocation is the closest integer apportionment to the true shares
    * — the property a fixed token budget needs.
    *
    * Everything is integer arithmetic (quotas via DECIMAL(38,0) div/mod
    * — no float shares anywhere) plus one deterministic md5 order, so
    * the draw replays bit-for-bit in any engine. Scale shape: one count
    * aggregate (≤|groups| rows, windows over that bounded frame only),
    * quotas broadcast back, and the per-group draw is a rank window the
    * optimizer caps pre-shuffle (WindowGroupLimit at the max quota).
    *
    * Requires total ≤ N (quota of a group never exceeds its n_g only
    * when shares are consistent — callers sample DOWN). ENFORCED at
    * action time: a `raise_error` guard rides the ≤|groups|-row counts
    * frame (no extra corpus pass, the plan stays lazily buildable), so
    * a budget larger than the corpus fails loudly instead of silently
    * returning all N rows — fewer than the promised total.
    *
    * EMPTY-corpus caveat: the guard rides the counts frame, which has
    * no rows when `df` is empty — an empty input returns an EMPTY frame
    * rather than raising (there is no row for the guard to evaluate
    * on), even though total >= 1 > N = 0 violates the exact-budget
    * contract. Callers drawing from a possibly-empty corpus must treat
    * an empty result as that violation; every non-empty input with
    * total > N raises. The same caveat applies to
    * [[temperatureQuotaSample]]'s saturation guard. */
  def quotaSample(df: DataFrame, idCol: String, groupCol: String,
      total: Int, seed: String = "q"): DataFrame = {
    require(total >= 1, "total must be positive")
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val counts = df.groupBy(col(groupCol)).agg(count(lit(1)).as("__n"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val wRem = org.apache.spark.sql.expressions.Window
      .orderBy(desc("__rem"), col(groupCol))
    // "__tot", not "__N": Spark SQL resolution is case-insensitive, so a
    // name differing from "__n" only by case would alias the SAME column
    // inside expr() and the apportionment would divide n by itself
    val quotas = counts
      .withColumn("__tot", sum(col("__n")).over(wAll))
      .withColumn("__tot",
        when(col("__tot") < lit(total.toLong),
          raise_error(concat(
            lit(s"quotaSample: total=$total exceeds corpus size N="),
            col("__tot").cast("string"))).cast("bigint"))
        .otherwise(col("__tot")))
      .withColumn("__base",
        expr(s"CAST((CAST(__n AS DECIMAL(38,0)) * $total) DIV __tot " +
          "AS BIGINT)"))
      .withColumn("__rem",
        (dec(col("__n")) * dec(lit(total.toLong))) %
          dec(col("__tot")))
      .withColumn("__left",
        lit(total.toLong) - sum(col("__base")).over(wAll))
      .withColumn("__rr", row_number().over(wRem))
      .select(col(groupCol),
        (col("__base") +
          when(col("__rr") <= col("__left"), 1L).otherwise(0L))
          .as("quota"))
    val wDraw = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol)
      .orderBy(col("__ord"), col(idCol))
    df.select(col(groupCol), col(idCol))
      .withColumn("__ord", Dedup.seededHash(0,
        concat(lit(s"$seed:"), col(idCol).cast("string"))))
      .join(broadcast(quotas), Seq(groupCol))
      .withColumn("__rn", row_number().over(wDraw))
      .filter(col("__rn") <= col("quota"))
      .select(col(groupCol), col(idCol), col("quota"))
  }

  /** Temperature-flattened mixture sampling — the multilingual/multi-
    * domain rebalancing step of LLM data prep (Lample & Conneau 2019's
    * exponentiated-share sampling): per-group quotas proportional to
    * n_g^α instead of n_g, so low-resource groups are oversampled
    * relative to their raw share while the corpus-wide budget stays
    * EXACTLY `total`. α = 1/2^sqrtSteps (default 0.5, the common
    * choice): the exponent is computed as `sqrtSteps` nested square
    * roots because IEEE sqrt is correctly rounded — bit-identical in
    * any engine — where a general libm pow() is not.
    *
    * Determinism: weights are integerized as floor(1e6·n^α + 0.5)
    * (floor(x+0.5) is engine-stable where round()/rint() tie rules are
    * not), apportionment is [[quotaSample]]'s Hamilton largest-remainder
    * method on those exact integers, and the per-group draw is the same
    * md5-ranked top-quota. Scale shape identical to [[quotaSample]]:
    * one ≤|groups|-row counts aggregate (windows ride only that frame),
    * quotas broadcast back, WindowGroupLimit-capped draw.
    *
    * Flattening can apportion a small group MORE than it has (that is
    * the point of temperature sampling — and its failure mode, since
    * a saturated group cannot fill its quota): enforced at action time
    * via raise_error on the bounded quota frame — lower `total` or use
    * more corpus rather than silently missing the budget. */
  def temperatureQuotaSample(df: DataFrame, idCol: String,
      groupCol: String, total: Int, sqrtSteps: Int = 1,
      seed: String = "tq"): DataFrame = {
    require(total >= 1, "total must be positive")
    require(sqrtSteps >= 1 && sqrtSteps <= 3, "sqrtSteps must be in [1, 3]")
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val counts = df.groupBy(col(groupCol)).agg(count(lit(1)).as("__n"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val wRem = org.apache.spark.sql.expressions.Window
      .orderBy(desc("__rem"), col(groupCol))
    val flat = (1 to sqrtSteps)
      .foldLeft(col("__n").cast("double"))((a, _) => sqrt(a))
    val quotas = counts
      .withColumn("__w",
        floor(flat * lit(1000000.0) + lit(0.5)).cast("long"))
      .withColumn("__wtot", sum(col("__w")).over(wAll))
      .withColumn("__base",
        expr(s"CAST((CAST(__w AS DECIMAL(38,0)) * $total) DIV __wtot " +
          "AS BIGINT)"))
      .withColumn("__rem",
        (dec(col("__w")) * dec(lit(total.toLong))) % dec(col("__wtot")))
      .withColumn("__left",
        lit(total.toLong) - sum(col("__base")).over(wAll))
      .withColumn("__rr", row_number().over(wRem))
      .withColumn("quota",
        col("__base") +
          when(col("__rr") <= col("__left"), 1L).otherwise(0L))
      .withColumn("quota",
        when(col("quota") > col("__n"),
          raise_error(concat(
            lit("temperatureQuotaSample: flattened quota "),
            col("quota").cast("string"), lit(" exceeds group size "),
            col("__n").cast("string"),
            lit(" — lower total or flatten less"))).cast("bigint"))
        .otherwise(col("quota")))
      .select(col(groupCol), col("quota"))
    val wDraw = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol)
      .orderBy(col("__ord"), col(idCol))
    df.select(col(groupCol), col(idCol))
      .withColumn("__ord", Dedup.seededHash(0,
        concat(lit(s"$seed:"), col(idCol).cast("string"))))
      .join(broadcast(quotas), Seq(groupCol))
      .withColumn("__rn", row_number().over(wDraw))
      .filter(col("__rn") <= col("quota"))
      .select(col(groupCol), col(idCol), col("quota"))
  }

  /** Benchmark decontamination: flag training documents that share any word
    * n-gram with an eval/benchmark set (the standard n-gram-overlap
    * decontamination step of LLM training-data prep; production uses n≈13,
    * the parameter scales freely). 100 TB design: the benchmark side is an
    * eval suite — small by construction — so its DISTINCT grams broadcast
    * (`broadcastBench=false` falls back to a shuffle hash join when the
    * "benchmark" is itself large); the train side is one shingle explode +
    * one hash aggregate, never a cross join. Returns one row per train doc:
    * (id, n_overlap = distinct shared grams, contaminated). */
  def decontaminate(train: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, n: Int = 13, broadcastBench: Boolean = true): DataFrame = {
    val bg0 = Dedup.shingleSets(bench, idCol, textCol, n)
      .select(explode(col("shs")).as("g")).distinct()
    val bg = if (broadcastBench) broadcast(bg0) else bg0
    val tg = Dedup.shingleSets(train, idCol, textCol, n)
      .select(col(idCol), explode(col("shs")).as("g"))
    val hits = tg.join(bg, "g")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_overlap"))
    train.select(col(idCol)).join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)) > 0).as("contaminated"))
  }

  /** GPT-style sequence packing: conceptually concatenate all documents of a
    * shard in id order and cut the token stream at `capacity` boundaries.
    * Emits, per document, the pack its first token lands in, the offset
    * inside that pack, and how many packs it spans — everything a writer
    * needs to materialize packed training sequences. Zero-token documents
    * contribute nothing to the stream and are dropped.
    *
    * 100 TB design: the only non-map operation is a running sum windowed BY
    * SHARD (`shardCol`) — packs are per-shard, so shards pack in parallel
    * with no global ordering bottleneck (pack ids are unique per shard, as
    * training shards are). */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
      capacity: Int, shardCol: String): DataFrame = {
    require(capacity > 0, "capacity must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(shardCol).orderBy(idCol)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    df.withColumn("n_tokens", size(Dedup.words(col(textCol))).cast("long"))
      .filter(col("n_tokens") > 0)
      .withColumn("__cum", sum(col("n_tokens")).over(w))
      .withColumn("__start", col("__cum") - col("n_tokens"))
      .select(col(idCol), col(shardCol), col("n_tokens"),
        expr(s"__start div $capacity").as("pack_id"),
        (col("__start") % capacity).as("pack_offset"),
        (expr(s"(__cum - 1) div $capacity") -
          expr(s"__start div $capacity") + 1).as("n_packs"))
  }

  /** Vocabulary-based token-id encoding: build a frequency-ranked vocab of
    * the top `vocabSize` tokens (deterministic count-then-token ordering),
    * then encode every document as its token-id sequence (OOV → 0). The
    * classic text→ids step before sequence packing.
    *
    * 100 TB design: the vocab is bounded (`vocabSize` rows) and broadcast;
    * encoding is one posexplode + broadcast join + one groupBy with an
    * in-group sort — no global ordering. Token ids are emitted as a
    * comma-joined string column (`token_ids`), ready for a writer. */
  def vocabEncode(df: DataFrame, idCol: String, textCol: String,
      vocabSize: Int = 50): DataFrame = {
    val toks = df.select(col(idCol),
      posexplode(Dedup.words(col(textCol))).as(Seq("pos", "w")))
    val wRank = org.apache.spark.sql.expressions.Window
      .orderBy(desc("__c"), col("w"))
    val vocab = toks.groupBy("w").agg(count(lit(1)).as("__c"))
      .orderBy(desc("__c"), col("w")).limit(vocabSize)
      .withColumn("token_id", row_number().over(wRank).cast("long"))
      .select(col("w"), col("token_id"))
    toks.join(broadcast(vocab), Seq("w"), "left")
      .withColumn("__tid", coalesce(col("token_id"), lit(0L)))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("__tid")))),
          s => s.getField("__tid").cast("string")), ",").as("token_ids"))
  }

  /** Data-driven domain rebalancing: hit a target corpus MIX, not fixed
    * per-stratum rates. Given target weights per domain and a total row
    * budget, the keep-rate for domain d is min(1, budget·w_d / n_d) —
    * computed FROM the data (one tiny count aggregate, broadcast back) —
    * and rows are kept by the same deterministic seeded-hash filter as
    * [[stratifiedSample]]. Domains without a weight fall back to
    * `defaultWeight`. At 100 TB the counts frame is |domains| rows; the
    * data-side work is a broadcast join + a pushed-down filter. */
  def domainMix(df: DataFrame, idCol: String, domainCol: String,
      weights: Map[String, Double], totalTarget: Long,
      defaultWeight: Double = 0.0, seed: String = "mix"): DataFrame = {
    val wExpr = weights.foldLeft(lit(defaultWeight)) { case (acc, (d, w)) =>
      when(col(domainCol) === d, lit(w)).otherwise(acc)
    }
    val rates = df.groupBy(domainCol).agg(count(lit(1)).as("__n"))
      .withColumn("__cut",
        floor(least(lit(1.0), lit(totalTarget.toDouble) * wExpr / col("__n"))
          * 10000).cast("long"))
      .select(col(domainCol), col("__cut"))
    df.join(broadcast(rates), Seq(domainCol))
      .filter(Dedup.seededHash(0,
        concat(lit(s"$seed:"), col(idCol).cast("string"))) % 10000 < col("__cut"))
      .drop("__cut")
  }

  /** URL canonicalization — the normalization step before URL-keyed dedup
    * of a crawl (same page fetched as `HTTP://Site.com/a?utm_source=x#top`
    * and `http://site.com/a` must collide). Steps, in order: lowercase the
    * scheme+host (path stays case-sensitive), drop the fragment, strip
    * tracking params (utm_*, fbclid, gclid), drop default ports (:80/:443),
    * collapse a now-empty query, and trim one trailing slash. Pure
    * RE2-compatible regexp_replace chain — codegen'd, engine-portable, no
    * UDF. */
  def canonicalizeUrl(url: Column): Column = {
    // lowercase scheme://host[:port] only: rebuild from extracted groups
    val scheme = lower(regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val rest = regexp_replace(url, "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    val host = lower(regexp_extract(rest, "^([^/?#]*)", 1))
    val tail = regexp_replace(rest, "^[^/?#]*", "")
    val noFragment = regexp_replace(tail, "#.*", "")
    val noTracking = regexp_replace(noFragment,
      "(utm_[a-z]+|fbclid|gclid)=[^&#]*&?", "")
    val noDanglingSep = regexp_replace(noTracking, "[?&]$", "")
    val noDefaultPort = regexp_replace(host, ":(80|443)$", "")
    val joined = concat(scheme, lit("://"), noDefaultPort, noDanglingSep)
    regexp_replace(joined, "/$", "")
  }

  /** Keyed crawl dedup: canonicalize `urlCol`, keep the first (min-id) row
    * per canonical URL. Same one-shuffle min-aggregate shape as
    * Dedup.exactDedup — no window, map-side combine does most of the work. */
  def urlDedup(df: DataFrame, idCol: String, urlCol: String): DataFrame = {
    val withC = df.withColumn("canonical_url", canonicalizeUrl(col(urlCol)))
    val winners = withC.groupBy("canonical_url")
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_dups"))
    withC.join(winners, Seq("canonical_url", idCol))
  }

  /** Exactly-n-per-group sampling: rank rows inside each stratum by a
    * seeded md5 of the id and keep the first n. Unlike [[stratifiedSample]]
    * (rate-based, size ∝ stratum), this guarantees the sample SIZE —
    * the eval-set / few-shot-selection primitive. The rank filter plans a
    * WindowGroupLimit, so each map task forwards at most n rows per group
    * before the shuffle. Deterministic across runs and engines. */
  def groupSample(df: DataFrame, idCol: String, stratumCol: String,
      n: Int, seed: String = "gs"): DataFrame = {
    require(n > 0, "sample size must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(stratumCol)
      .orderBy(md5(concat(lit(s"$seed:"), col(idCol).cast("string"))), col(idCol))
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= n)
      .drop("__rk")
  }

  /** Content-defined chunking (stateless gear-hash style): a position is a
    * chunk boundary when the md5 of the trailing `window` chars hits
    * 0 mod `mask` — so boundaries depend only on LOCAL content and survive
    * insertions/deletions elsewhere (the CDC property that makes
    * blob-level dedup work across edits; average chunk ≈ `mask` chars).
    * Returns per doc: n_chunks, max_chunk, and the exact boundary-position
    * sum (the audit checksum).
    *
    * 100 TB design: one explode over positions + one per-doc window/agg —
    * embarrassingly parallel across docs, no cross-doc state. (A
    * min/max-chunk-size variant needs a sequential scan per doc — this
    * stateless form is the one that parallelizes.) */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
      window: Int = 8, mask: Int = 32): DataFrame = {
    require(window >= 2 && mask >= 2, "window and mask must be >= 2")
    val base = df.select(col(idCol), col(textCol).cast("string").as("__t"))
      .withColumn("__len", length(col("__t")).cast("long"))
    // sequence(a, b) with b < a generates DESCENDING values — guard first
    val bounds = base.filter(col("__len") >= window)
      .select(col(idCol), col("__len"), col("__t"),
        explode(expr(s"sequence($window, __len)")).as("i"))
      .withColumn("__w", expr(s"substring(__t, i - ${window - 1}, $window)"))
      .filter(Dedup.seededHash(1, col("__w")) % mask === 0)
      .select(col(idCol), col("__len"), col("i"))
    val wLag = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy("i")
    val agg = bounds
      .withColumn("__gap", col("i") - coalesce(lag(col("i"), 1).over(wLag), lit(0L)))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__nb"), sum(col("i")).as("boundary_sum"),
        max(col("__gap")).as("__maxgap"), max(col("i")).as("__lastb"),
        max(col("__len")).as("__len"))
    base.select(col(idCol), col("__len").as("__dlen"))
      .join(agg, Seq(idCol.toString), "left")
      .select(col(idCol),
        when(col("__nb").isNull, lit(1L))
          .otherwise(col("__nb") +
            when(col("__dlen") > col("__lastb"), lit(1L)).otherwise(lit(0L)))
          .as("n_chunks"),
        when(col("__nb").isNull, col("__dlen"))
          .otherwise(greatest(col("__maxgap"), col("__dlen") - col("__lastb")))
          .as("max_chunk"),
        coalesce(col("boundary_sum"), lit(0L)).as("boundary_sum"))
  }

  /** Weight-proportional sampling with EXACT integer tickets: each row gets
    * `weight` md5 tickets and its priority is the minimum ticket; the k rows
    * with the smallest priorities win. P(selected) grows with weight like
    * the classic exponential-key A-Res scheme, but every comparison is an
    * integer md5 compare — no pow()/ln() whose last-ulp drift could flip a
    * selection across engines or hardware.
    *
    * 100 TB design: the explode is bounded by `maxWeight` (guarded), the
    * per-row min is a map-side-combined aggregate, and the global top-k is
    * TakeOrderedAndProject — no global sort, no driver loop. */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
      k: Int, maxWeight: Int = 64, seed: String = "ws"): DataFrame = {
    require(k > 0, "k must be positive")
    val capped = least(greatest(col(weightCol).cast("int"), lit(1)), lit(maxWeight))
    df.withColumn("__w", capped)
      .withColumn("__t", explode(expr("sequence(1, __w)")))
      .withColumn("__ticket", Dedup.seededHash(0,
        concat(lit(s"$seed:"), col(idCol).cast("string"), lit(":"),
          col("__t").cast("string"))))
      .groupBy(col(idCol))
      .agg(min(col("__ticket")).as("priority"),
        first(col("__w")).as("eff_weight"))
      .orderBy(col("priority"), col(idCol))
      .limit(k)
  }

  /** PII scrubbing: redact emails and phone-shaped tokens. RE2-compatible
    * patterns (portable across engines); extend the list per policy. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"

  def scrubPii(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailPattern, "[EMAIL]"),
      PhonePattern, "[PHONE]")

  /** Scrub + count what was redacted in the same pass (audit trail). */
  def scrubPiiWithCounts(df: DataFrame, textCol: String): DataFrame = df
    .withColumn("n_emails",
      size(split(col(textCol), EmailPattern, -1)) - 1)
    .withColumn("n_phones",
      size(split(col(textCol), PhonePattern, -1)) - 1)
    .withColumn(textCol, scrubPii(col(textCol)))

  /** 13–19 digit runs with optional single space/dash separators — the
    * payment-card CANDIDATE shape; the Luhn checksum decides. */
  val CardPattern = "\\b(?:\\d[ -]?){12,18}\\d\\b"

  /** Luhn-validated card scrub: candidates come from [[CardPattern]], but
    * only sequences passing the Luhn mod-10 checksum are redacted — the
    * distinction a naive regex cannot make (invoices, order ids and
    * timestamps are 16-digit runs too; scrubbing them destroys data for
    * zero privacy gain). Returns the frame with `textCol` scrubbed and an
    * exact `n_cards` audit count.
    *
    * Shape: candidates explode to rows, the checksum is the native
    * codegen'd [[graft.functions.expr.LuhnValid]] (one right-to-left byte
    * scan — no regexp_replace/reverse/HOF-fold chain, no per-row lambda
    * interpretation), valid matches regroup per row, and the redaction is
    * one fold of `replace` over the distinct matches, longest first so a
    * shorter match can never corrupt a longer one it is a substring of.
    * One explode + one groupBy on the row key; no shuffle wider than the
    * candidate count. */
  def scrubCardsWithAudit(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val cand = df.select(col(idCol), col(textCol).as("__text"),
        explode_outer(regexp_extract_all(col(textCol), lit(CardPattern), lit(0)))
          .as("__m"))
      // Luhn: from the rightmost digit, double every second one, subtract
      // 9 when doubling overflows a digit; valid iff the sum is ≡ 0 mod 10
      // AND the digit count (separators ignored) lands in [13, 19]
      .withColumn("__ok", {
        import org.apache.spark.sql.graftbridge.Bridge
        col("__m").isNotNull && Bridge.column(
          graft.functions.expr.LuhnValid(Bridge.expression(col("__m"))))
      })
    cand.groupBy(col(idCol), col("__text"))
      .agg(sum(when(col("__ok"), 1L).otherwise(0L)).as("n_cards"),
        array_distinct(collect_list(when(col("__ok"), col("__m")))).as("__cards"))
      .withColumn("__sorted", expr(
        "transform(array_sort(transform(__cards, " +
          "m -> struct(-length(m) as l, m as m))), s -> s.m)"))
      .withColumn(textCol, expr(
        "aggregate(__sorted, __text, (acc, m) -> replace(acc, m, '[CARD]'))"))
      .drop("__text", "__cards", "__sorted")
  }

  /** Drop the bottom `fraction` of rows by `keyCol` — the exact-percentile
    * corpus gate ("prune the worst-quality 20%") with NO SinglePartition
    * window: ranks come from Indexing.globalIndex (range shuffle + local
    * row_number + broadcast offsets) and the row count rides in as a
    * broadcast 1-row frame, so the cut is exact and deterministic (make
    * `keyCol` unique — compose score and id) at any scale. */
  def pruneBottomQuantile(df: DataFrame, keyCol: String,
      fraction: Double): DataFrame = {
    require(fraction >= 0.0 && fraction < 1.0, s"fraction=$fraction out of [0,1)")
    val n = df.agg(count(lit(1)).as("__n"))
    graft.operators.Indexing.globalIndex(df, keyCol)
      .crossJoin(broadcast(n))
      .filter(col("global_idx") > floor(col("__n") * fraction))
      .drop("__n", "global_idx")
  }

  /** Leakage-safe TEMPORAL train/val/test split with embargo — the
    * time-series complement to [[groupAwareSplit]]'s cluster split:
    * boundaries
    * are the actual timestamps at ranks `floor(n·trainFrac)` and
    * `floor(n·(trainFrac+valFrac))` (discrete, so no interpolation
    * arithmetic can differ across engines), and rows within
    * `embargoSeconds` AFTER each boundary are labeled `embargo_*` — a
    * model trained on `train` never sees a `val` row whose look-back
    * window overlaps the training period (the purged/embargoed split of
    * financial ML). Rank assignment is by (`tsCol`, `idCol`) — the id
    * tiebreak makes the boundary deterministic on timestamp ties.
    *
    * Scale shape: ranks via the range-partitioned [[graft.operators
    * .Indexing.globalIndexBy]] (never a SinglePartition window), the two
    * boundary timestamps and the row count ride back as a broadcast 1-row
    * frame, and the labeling itself is a map-only projection. */
  def temporalSplit(df: DataFrame, tsCol: String, idCol: String,
      trainFrac: Double = 0.7, valFrac: Double = 0.15,
      embargoSeconds: Long = 3600): DataFrame = {
    require(trainFrac > 0 && valFrac > 0 && trainFrac + valFrac < 1,
      s"bad fractions: train=$trainFrac val=$valFrac")
    require(embargoSeconds >= 0, s"embargoSeconds=$embargoSeconds")
    val n = df.agg(count(lit(1)).as("__n"))
    val bounds = graft.operators.Indexing.globalIndexBy(df, Seq(tsCol, idCol))
      .crossJoin(broadcast(n))
      .filter(col("global_idx") ===
          greatest(lit(1L), floor(col("__n") * trainFrac)) ||
        col("global_idx") ===
          greatest(lit(1L), floor(col("__n") * (trainFrac + valFrac))))
      // the smaller rank is the earlier timestamp (ordering is by ts)
      .agg(min(col(tsCol)).as("__t1"), max(col(tsCol)).as("__t2"))
    df.crossJoin(broadcast(bounds))
      .withColumn("split",
        when(col(tsCol) <= col("__t1"), "train")
          .when(col(tsCol) <=
            col("__t1") + expr(s"INTERVAL $embargoSeconds SECOND"),
            "embargo_train_val")
          .when(col(tsCol) <= col("__t2"), "val")
          .when(col(tsCol) <=
            col("__t2") + expr(s"INTERVAL $embargoSeconds SECOND"),
            "embargo_val_test")
          .otherwise("test"))
      .drop("__t1", "__t2")
  }

  /** Training-mixture token allocator — the "data recipe" step: given
    * per-source integer weights and a total token budget, how many FULL
    * passes of each source to take plus what fraction of one more. All
    * arithmetic is integer (targets are `budget·w div Σw`, the tail
    * fraction is basis points of the last pass), so the plan replays
    * bit-exactly in any engine — no fp mixture drift. Sources absent from
    * `weights` are excluded from the plan (not in the recipe, not in the
    * run). One token-count aggregate over the corpus + a broadcast join
    * against the |sources|-row weight frame. */
  def mixturePlan(df: DataFrame, sourceCol: String, textCol: String,
      weights: Map[String, Long], budgetTokens: Long): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      "weights must be positive")
    require(budgetTokens >= 0, s"budgetTokens=$budgetTokens")
    val sumW = weights.values.sum
    val spark = df.sparkSession
    import spark.implicits._
    val w = broadcast(weights.toSeq.sortBy(_._1)
      .toDF(sourceCol, "__w"))
    df.select(col(sourceCol),
        size(Dedup.words(col(textCol))).cast("long").as("__t"))
      .groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("__t")).as("available_tokens"))
      .join(w, sourceCol)
      .withColumn("target_tokens",
        expr(s"${budgetTokens}L * __w div ${sumW}L"))
      .withColumn("n_full_epochs",
        expr("target_tokens div available_tokens"))
      .withColumn("tail_sample_bps",
        expr("(target_tokens % available_tokens) * 10000 div available_tokens"))
      .withColumn("oversampled",
        col("target_tokens") > col("available_tokens"))
      .drop("__w")
  }

  /** Deterministic epoch shuffle into training shards: each row's md5
    * ticket (seed + id) decides its shard AND its position within the
    * shard — a seeded pseudo-random permutation with no global sort.
    * Changing the seed reshuffles every epoch; the same seed replays
    * identically (resumable training). The position window partitions BY
    * SHARD, so shards order themselves in parallel — no SinglePartition
    * exchange at any scale. */
  def epochShuffle(df: DataFrame, idCol: String, seed: String,
      nShards: Int = 8): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(col("__r"), col(idCol))
    df.withColumn("__r",
        md5(concat(lit(seed + ":"), col(idCol).cast("string"))))
      .withColumn("shard",
        conv(substring(col("__r"), 1, 8), 16, 10).cast("long") % nShards)
      .withColumn("pos_in_shard", row_number().over(w))
      .drop("__r")
  }

  /** Hashing-trick bag-of-words: each token hashes (md5 — engine-portable,
    * seedable) into one of `dim` buckets; a document becomes its sparse
    * (bucket → count) vector. Fixed dimensionality with NO vocabulary pass —
    * the point of feature hashing at corpus scale. Returns per-doc
    * (nnz, l1, checksum, vec_md5) plus the sparse vector itself. */
  def featureHash(df: DataFrame, idCol: String, textCol: String,
      dim: Int = 32): DataFrame = {
    val buckets = df
      .select(col(idCol), explode(Dedup.words(col(textCol))).as("__w"))
      .withColumn("__bucket",
        conv(substring(md5(col("__w")), 1, 8), 16, 10).cast("long") % dim)
      .groupBy(col(idCol), col("__bucket"))
      .agg(count(lit(1)).as("__cnt"))
    buckets.groupBy(idCol)
      .agg(count(lit(1)).as("nnz"),
        sum(col("__cnt")).cast("long").as("l1"),
        sum((col("__bucket") + 1) * col("__cnt")).cast("long").as("checksum"),
        expr("transform(array_sort(collect_list(struct(__bucket, __cnt))), " +
          "x -> concat(x.__bucket, ':', x.__cnt))").as("__vec"))
      .withColumn("vec_md5", md5(array_join(col("__vec"), ",")))
      .withColumn("vector", col("__vec"))
      .drop("__vec")
  }

  /** Leakage-safe train/val/test split: near-duplicate CLUSTERS are the
    * split unit, so two near-identical documents can never land in
    * different splits (the classic eval-contamination bug). Cluster labels
    * come from [[Dedup.nearDupComponents]] over the supplied candidate
    * pairs; singletons cluster as themselves. Assignment is a seeded md5
    * bucket of the CLUSTER id — deterministic, engine-portable, and stable
    * under re-runs. Buckets 0..trainPct-1 → train, next valPct → val,
    * rest → test (out of 10). */
  def groupAwareSplit(docs: DataFrame, idCol: String, pairs: DataFrame,
      seed: String, trainPct: Int = 8, valPct: Int = 1,
      iters: Int = 2): DataFrame =
    groupAwareSplitFromComponents(docs, idCol,
      Dedup.nearDupComponents(pairs, iters), seed, trainPct, valPct)

  /** [[groupAwareSplit]] over PRE-COMPUTED components (node, component) —
    * the entry point when the near-dup clustering already exists (it is
    * the expensive half: LSH + iterative propagation), so one persisted
    * components frame can feed dedup reporting and splitting without
    * re-deriving the chain. */
  def groupAwareSplitFromComponents(docs: DataFrame, idCol: String,
      comps: DataFrame, seed: String, trainPct: Int = 8,
      valPct: Int = 1): DataFrame = {
    require(trainPct + valPct < 10, "train+val must leave room for test")
    docs.select(col(idCol))
      .join(comps, col(idCol) === col("node"), "left")
      .withColumn("cluster", coalesce(col("component"), col(idCol)))
      .withColumn("__b", conv(substring(md5(
        concat(lit(seed + ":"), col("cluster").cast("string"))), 1, 6), 16, 10)
        .cast("long") % 10)
      .withColumn("split",
        when(col("__b") < trainPct, "train")
          .when(col("__b") < trainPct + valPct, "val")
          .otherwise("test"))
      .select(col(idCol), col("cluster"), col("split"))
  }

  /** CCNet-style boilerplate removal: segments that recur across ≥ `minDocs`
    * DISTINCT documents (headers, footers, navigation chrome) are dropped
    * from every document, and the survivors reassemble in order.
    *
    * Segmentation is expression-only (slice over the word array — no
    * shuffle) and the cross-corpus frequency is ONE map-side-combinable
    * distinct-count groupBy. The key scale property is what the
    * reassembly does NOT shuffle: instead of re-grouping every kept
    * segment's text per document (full-corpus text through a
    * collect_list), only boilerplate OCCURRENCES — (id, seg_idx) integer
    * pairs, a ≤1/minDocs-selectivity semi join — reach the per-doc
    * aggregate, and the clean text is rebuilt doc-side by an index-filter
    * expression over the original segment array (map-only; AQE broadcasts
    * the per-doc removal lists when they fit, making the final join
    * shuffle-free). A prior collect_list-reassembly version measured 8.6×
    * time at 10× data; this shape is the fix. */
  def removeBoilerplate(df: DataFrame, idCol: String, textCol: String,
      segWords: Int = 2, minDocs: Long = 150): DataFrame = {
    val withSegs = df
      .withColumn("__ws", Dedup.words(col(textCol)))
      .withColumn("__segs", expr(
        s"transform(sequence(0, int((size(__ws) - 1) / $segWords)), " +
        s"i -> array_join(slice(__ws, i * $segWords + 1, $segWords), ' '))"))
      .drop("__ws")
    val segs = withSegs
      .select(col(idCol), posexplode(col("__segs")))
      .select(col(idCol), col("pos").cast("long").as("seg_idx"),
        col("col").as("seg"))
    val boilerplate = segs.groupBy("seg")
      .agg(countDistinct(col(idCol)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select("seg")
    val removed = segs.join(boilerplate, Seq("seg"), "left_semi")
      .groupBy(idCol)
      .agg(sort_array(collect_list(col("seg_idx"))).as("__rm"))
    withSegs.join(removed, Seq(idCol), "left")
      .withColumn("__rm",
        coalesce(col("__rm"), expr("array()").cast("array<long>")))
      .select(col(idCol),
        array_join(expr(
          "filter(__segs, (s, i) -> NOT array_contains(__rm, bigint(i)))"),
          " ").as("clean_text"),
        (size(col("__segs")) - size(col("__rm"))).cast("long").as("n_kept"),
        size(col("__rm")).cast("long").as("n_removed"))
  }

  /** DSIR-style data selection (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling", hashed-n-gram variant):
    * every document is scored by the log-likelihood ratio of its hashed
    * word-unigram features under an add-1-smoothed TARGET bucket model vs
    * the RAW (non-target) corpus model, and the top-k highest-ratio
    * documents are kept — "give me more raw data that looks like my
    * high-quality domain".
    *
    * Determinism discipline: bucket = md5-hash(word) % dim (the
    * [[featureHash]] convention, engine-portable); each of the two ln
    * bucket-probabilities is quantized to DECIMAL(24,14) BEFORE the
    * subtraction, so per-bucket log-ratios are exact decimals, the
    * BIGINT count × DECIMAL(24,14) product fits decimal(35,14) with zero
    * loss, and the per-document sum is order-free — identical in any
    * engine. The top-k boundary tie-breaks on id.
    *
    * Scale shape: ONE explode over the corpus feeds a (doc, bucket)
    * count aggregate that is lineage-truncated and reused by BOTH the
    * model pass and the scoring pass (without it the corpus tokenizes
    * twice). The model, totals, and log-ratio frames are ≤ dim rows and
    * broadcast; scoring is a broadcast join + per-doc aggregate; the
    * final top-k is TakeOrderedAndProject, never a global sort.
    * (localCheckpoint is the single-JVM shape — on a real cluster the
    * counts frame would land in an intermediate table.)
    *
    * Documents with zero alphanumeric tokens have no features, hence no
    * score, and are never selected. */
  def dsirSelect(df: DataFrame, idCol: String, textCol: String,
      isTarget: Column, dim: Int = 64, topK: Int = 100): DataFrame = {
    require(dim >= 2 && dim <= 4096, s"dim=$dim out of [2,4096]")
    val counts = df
      .select(col(idCol), isTarget.as("__t"),
        explode(Dedup.words(col(textCol))).as("__w"))
      .withColumn("__bucket",
        conv(substring(md5(col("__w")), 1, 8), 16, 10).cast("long") % dim)
      .groupBy(col(idCol), col("__t"), col("__bucket"))
      .agg(count(lit(1)).as("__n"))
      .localCheckpoint()
    val model = counts.groupBy("__bucket")
      .agg(sum(when(col("__t"), col("__n")).otherwise(0L)).as("__tn"),
        sum(when(!col("__t"), col("__n")).otherwise(0L)).as("__rn"))
    val totals = model.agg(sum("__tn").as("__tt"), sum("__rn").as("__rt"))
    val ratio = model.crossJoin(broadcast(totals))
      .select(col("__bucket"),
        (log((col("__tn") + 1).cast("double") / (col("__tt") + dim).cast("double"))
            .cast("decimal(24,14)")
          - log((col("__rn") + 1).cast("double") / (col("__rt") + dim).cast("double"))
            .cast("decimal(24,14)")).as("__lr"))
    counts.join(broadcast(ratio), "__bucket")
      .groupBy(col(idCol))
      .agg(sum("__n").cast("long").as("n_tokens"),
        sum(col("__n").cast("decimal(10,0)") * col("__lr")).as("__s"))
      .orderBy(col("__s").desc, col(idCol))
      .limit(topK)
      .select(col(idCol), col("n_tokens"),
        round(col("__s").cast("double"), 4).as("log_ratio"))
  }

  /** Per-row presence buckets for the logistic family: md5 unigram
    * buckets (the [[featureHash]] convention), optionally plus hashed
    * word-BIGRAM buckets in the same space, distinct within the row, and
    * the bias bucket `dim` appended last. Features are BINARY presence
    * (x = 1; bounded feature scale keeps constant-rate GD from
    * oscillating the way raw counts measurably do). A row with no grams
    * is dropped: token-free documents have no features to learn from and
    * are excluded from training and scoring. One tokenization, no
    * shuffle.
    *
    * `bigrams = true` is the fastText signature: word order enters the
    * linear model through bigram features; collisions with unigram
    * buckets are the accepted hashing-trick noise — size `dim` up. */
  private def rowBuckets(df: DataFrame, idCol: String, textCol: String,
      label: Column, dim: Int, bigrams: Boolean): DataFrame = {
    val base = df.select(col(idCol).as("id"), label.cast("int").as("y"),
      Dedup.words(col(textCol)).as("__ws"))
    // per-doc array_distinct BEFORE the hash: collapsing repeated words
    // row-locally saves one md5+conv per repeated occurrence
    val gramsCol =
      if (!bigrams) array_distinct(col("__ws"))
      else array_distinct(concat(col("__ws"),
        // guard: sequence(1, 0) runs DESCENDING, so token counts < 2
        // must emit an empty bigram list, not a broken one
        when(size(col("__ws")) >= 2,
          expr("transform(sequence(1, size(__ws) - 1), " +
            "i -> concat(element_at(__ws, i), ' ', element_at(__ws, i + 1)))"))
          .otherwise(expr("array()").cast("array<string>"))))
    base.select(col("id"), col("y"), transform(gramsCol, w =>
        conv(substring(md5(w), 1, 8), 16, 10).cast("long") % dim).as("__h"))
      .filter(size(col("__h")) > 0)
      .select(col("id"), col("y"),
        concat(array_distinct(col("__h")), array(lit(dim.toLong))).as("__bs"))
  }

  /** Exploded (id, y, bucket) presence rows for the single-pass scorers:
    * one row per distinct feature of a featured document, bias included. */
  private def logisticFeatures(df: DataFrame, idCol: String, textCol: String,
      label: Column, dim: Int, bigrams: Boolean): DataFrame =
    explodeBuckets(rowBuckets(df, idCol, textCol, label, dim, bigrams))
      .distinct()

  private def explodeBuckets(docs: DataFrame): DataFrame =
    docs.select(col("id"), col("y"), explode(col("__bs")).as("bucket"))

  /** Per-doc exact-decimal logit: one pass over the feature frame with
    * the broadcast (≤ dim+1)-row weight frame. A corpus bucket with no
    * trained weight contributes 0 by the inner join (the hashing-trick
    * unseen-feature convention); the bias bucket keeps every featured
    * doc present. */
  private def zOf(feats: DataFrame, w: DataFrame): DataFrame =
    feats.join(broadcast(w.select(col("bucket"),
        col("weight").cast("double").as("weight"))), "bucket")
      .groupBy("id")
      // NOTE: stays the interpreted decimal sum deliberately — a native
      // TypedImperativeAggregate here would put corpus-many keys through
      // ObjectHashAggregate, whose 128-key fallback degrades to
      // sort-based aggregation (measured 2x SLOWER at sf0.1)
      .agg(sum(col("weight").cast("decimal(28,18)")).as("__z"),
        max(col("y")).as("y"))

  /** Confusion matrix + basis-point accuracy of the integer-exact
    * decision σ(z) ≥ 0.5 ⇔ z ≥ 0 on the exact DECIMAL z. */
  private def confusionOf(z: DataFrame): DataFrame =
    z.withColumn("__pred", (col("__z") >= lit(0)).cast("int"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("y") === 1 && col("__pred") === 1, 1L).otherwise(0L))
          .as("tp"),
        sum(when(col("y") === 0 && col("__pred") === 1, 1L).otherwise(0L))
          .as("fp"),
        sum(when(col("y") === 0 && col("__pred") === 0, 1L).otherwise(0L))
          .as("tn"),
        sum(when(col("y") === 1 && col("__pred") === 0, 1L).otherwise(0L))
          .as("fn"))
      .withColumn("accuracy_bps", expr("(tp + tn) * 10000 div n_docs"))

  /** The GD working set, PERSISTED (the caller unpersists): one row per
    * (id, y) featured document — `__bs`, its sorted distinct buckets
    * with the bias `dim` last, built with ONE shuffle (per-row distinct
    * buckets → groupBy(id, y) → sorted distinct union) — and `__k`, the
    * document's slice key (`key` of the id; null becomes -1, which no
    * model slice contains; see [[logisticFit]]). */
  private[graft] def logisticDocs(df: DataFrame, idCol: String,
      textCol: String, label: Column, dim: Int, bigrams: Boolean,
      key: Column => Column): DataFrame =
    rowBuckets(df, idCol, textCol, label, dim, bigrams)
      .groupBy("id", "y")
      .agg(sort_array(array_distinct(flatten(collect_list(col("__bs")))))
        .as("__bs"))
      .withColumn("__k", coalesce(key(col("id")).cast("long"), lit(-1L)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** A trained model: the buckets its slice saw (ascending, bias last),
    * its UNROUNDED weights indexed by bucket, its featured-doc count and,
    * when traced, per step the class-weighted loss at the incoming
    * weights and the gradient L2 norm (both unrounded). */
  private[graft] final case class LogisticFit(seen: Array[Long],
      w: Array[Double], n: Double, curve: Seq[(Double, Double)])

  /** The logistic family's GD kernel: M models trained TOGETHER over one
    * persisted [[logisticDocs]] frame, one Spark job per pass. Model j
    * trains on the docs whose slice key is in [0, hi(j)) and is not
    * skip(j) — a crossval fold's complement, a learning-curve fraction,
    * or (hi = 1 over key 0) the whole corpus.
    *
    * Pass 1 (setup) counts each model's docs and classes and marks the
    * buckets it sees; it also materializes the docs cache. Then each GD
    * step is ONE map-only pass — a `treeAggregate` over the cached rows,
    * the shape MLlib iterates with — carrying the M driver-held weight
    * vectors in the task closure. Per row and model it runs the same
    * arithmetic as the SQL step it replaces: z is
    * [[graft.functions.expr.GatherSumDec18]]'s exact-decimal gather over
    * the weights, the residual (σ(z) − y)·cw is the same IEEE op sequence
    * (the class weight cw = n/(2·n_class) balances a rare class), it is
    * quantized once to DECIMAL(28,18) and added exactly into the doc's
    * bucket slots ([[graft.functions.expr.Dec18Sums]]). Partial sums
    * merge exactly, so partitioning and merge order cannot change a bit;
    * the driver then applies w(b) −= lr·(total(b)/n) to every bucket with
    * a gradient term. A traced fit adds the loss at the incoming weights
    * as one more exact slot of the same pass, so a curve step is still
    * one job. A model with no featured docs keeps zero weights and runs
    * no step; if every model is empty no step runs at all.
    *
    * 100 TB shape: one scan of the cached per-doc frame per step, a
    * fixed (dim+2)-slot buffer per task and model, never a row per
    * feature and no per-step query planning. */
  private[graft] def logisticFit(docs: DataFrame, dim: Int, iters: Int,
      lr: Double, hi: Array[Long], skip: Array[Long], traced: Boolean)
      : Seq[LogisticFit] = {
    val m = hi.length
    val slots = dim + 1
    val slices = new LogisticSlices(hi, skip)
    val rows = docs.select("y", "__bs", "__k").queryExecution.toRdd
    val stats = kernelPass(rows, new DocCounts(m, slots)) { (a, r) =>
      a.add(slices, r); a } { (a, b) => a.merge(b) }
    val n = stats.n.map(_.toDouble)
    // class-balanced residual weights n/(2·n_class): with a 5% positive
    // rate an unweighted full-batch GD provably stalls (the rare class's
    // gradient is outvoted ~20:1 — measured: all-negative predictions
    // after 8 steps); balanced weights also cancel the gradient of every
    // non-discriminative bucket at w=0, so learning concentrates on the
    // separating features. max(·,1) guards a single-class slice
    // (weights degenerate to a no-op instead of dividing by zero).
    val wpos = Array.tabulate(m)(j => n(j) / (2.0 * math.max(stats.pos(j), 1L)))
    val wneg = Array.tabulate(m)(j => n(j) / (2.0 * math.max(stats.neg(j), 1L)))
    val seen = Array.tabulate(m)(j =>
      (0 until slots).filter(b => stats.seen(j)(b)).map(_.toLong).toArray)
    val w = Array.tabulate(m)(j =>
      new Array[Double](if (seen(j).isEmpty) 1 else seen(j).last.toInt + 1))
    val curves = Array.fill(m)(Seq.newBuilder[(Double, Double)])
    val live = (0 until m).filter(n(_) > 0)
    if (live.nonEmpty) for (_ <- 1 to iters) {
      val step = new LogisticStep(slices,
        w.map(a => UnsafeArrayData.fromPrimitiveArray(a)), wpos, wneg, traced)
      val g = kernelPass(rows, new GdSums(m, slots, traced)) { (a, r) =>
        step.add(a, r); a } { (a, b) => a.merge(b) }
      for (j <- live) {
        val s = g.sums(j)
        val grads = (0 until slots).filter(b => s.seen(b)).map(b =>
          b -> s.total(b).doubleValue / n(j))
        if (traced) {
          // grad-norm: sqrt of the exact dec18 sum of grad², replayed
          // driver-side over the (dim+1)-bounded gradient; the loss slot
          // with no term (an all-null-loss slice) reads 0
          var g2 = java.math.BigDecimal.ZERO
          grads.foreach { case (_, gb) =>
            val q = graft.functions.expr.DotProductDec18.q18OrNull(gb * gb)
            if (q ne null) g2 = g2.add(q)
          }
          val ls = if (s.seen(slots)) s.total(slots).doubleValue else 0.0
          curves(j) += ((ls / n(j), math.sqrt(g2.doubleValue)))
        }
        grads.foreach { case (b, gb) => w(j)(b) -= lr * gb }
      }
    }
    (0 until m).map(j => LogisticFit(seen(j), w(j), n(j), curves(j).result()))
  }

  /** The kernel's only Spark job: one tree-aggregated pass over the
    * cached per-doc rows. */
  private def kernelPass[A: scala.reflect.ClassTag](
      rows: org.apache.spark.rdd.RDD[InternalRow],
      zero: A)(add: (A, InternalRow) => A)(
      merge: (A, A) => A): A =
    rows.treeAggregate(zero)(add, merge)

  /** One fit's (bucket, weight) frame over the buckets its slice saw. */
  private def weightsOf(spark: org.apache.spark.sql.SparkSession,
      fit: LogisticFit): DataFrame = {
    import spark.implicits._
    fit.seen.toSeq.map(b => (b, fit.w(b.toInt))).toDF("bucket", "weight")
  }

  /** A small result frame (≤ k or |fractions| rows) collected into a
    * driver-local frame: no persisted RDD outlives the call, unlike a
    * localCheckpoint. */
  private def local(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** Model-based quality filtering, training side: a fastText-shaped
    * linear classifier (logistic regression over hashed unigram PRESENCE features +
    * bias) trained with `iters` full-batch gradient-descent steps — the
    * standard "train a small quality classifier, score the corpus" step
    * of LLM data curation.
    *
    * Determinism (gate-grade): per-row double products are bit-identical
    * cross-engine; every sum that could reorder (per-doc z, per-bucket
    * gradient) is quantized to DECIMAL(28,18) first; σ, the residual and
    * the weight update are one fixed double op sequence evaluated once
    * per doc/bucket. The whole training run replays in SQL by unrolling
    * the iterations.
    *
    * 100 TB design: the per-doc bucket arrays are built with one shuffle
    * and cached; one setup pass counts the classes, then every GD step
    * is ONE map-only Spark job over the cache ([[logisticFit]]), with the
    * (dim+1 ≤ 4097)-entry weight vector on the driver. DECIMAL(28,18)
    * leaves 10 integer digits for the gradient sums — rescale to (38,18)
    * beyond ~10⁹-token corpora per bucket.
    *
    * Returns (bucket, weight) with `bucket = dim` the bias. */
  def logisticTrain(df: DataFrame, idCol: String, textCol: String,
      label: Column, dim: Int = 32, iters: Int = 8, lr: Double = 0.5,
      roundTo: Int = 6, bigrams: Boolean = false): DataFrame = {
    require(dim >= 2 && dim <= 4096, s"dim=$dim out of [2,4096]")
    require(iters >= 1 && iters <= 16, "iters out of [1,16]")
    val fit = fitOne(df, idCol, textCol, label, dim, iters, lr, bigrams,
      traced = false)
    weightsOf(df.sparkSession, fit)
      .select(col("bucket"), round(col("weight"), roundTo).as("weight"))
  }

  /** One whole-corpus model; the docs cache is released before return. */
  private def fitOne(df: DataFrame, idCol: String, textCol: String,
      label: Column, dim: Int, iters: Int, lr: Double, bigrams: Boolean,
      traced: Boolean): LogisticFit = {
    val docs = logisticDocs(df, idCol, textCol, label, dim, bigrams,
      _ => lit(0L))
    try logisticFit(docs, dim, iters, lr, Array(1L), Array(-1L), traced).head
    finally docs.unpersist()
  }

  /** Train-and-score in one call: trains on `df` with [[logisticTrain]]'s
    * GD loop (UNROUNDED weights) and reports the confusion matrix +
    * accuracy over the same corpus, scored from the same cached per-doc
    * frame with the exact-decimal gather z (map-only, one row per doc).
    * Kept for self-evaluation (x177); a production pipeline trains ONCE
    * on its labeled sample and scores corpora with
    * [[logisticScoreWith]] / [[logisticPredictWith]] — scoring must
    * never pay the training cost per call. */
  def logisticScore(df: DataFrame, idCol: String, textCol: String,
      label: Column, dim: Int = 32, iters: Int = 8, lr: Double = 0.5,
      bigrams: Boolean = false): DataFrame = {
    require(dim >= 2 && dim <= 4096, s"dim=$dim out of [2,4096]")
    val docs = logisticDocs(df, idCol, textCol, label, dim, bigrams,
      _ => lit(0L))
    try {
      import graft.functions.expr.GatherSumDec18.gatherSumDec18
      val fit = logisticFit(docs, dim, iters, lr, Array(1L), Array(-1L),
        traced = false).head
      local(confusionOf(docs.select(col("id"),
        gatherSumDec18(col("__bs"), lit(fit.w)).as("__z"), col("y"))))
    } finally docs.unpersist()
  }

  /** Scoring decoupled from training: apply a PRE-TRAINED (bucket,
    * weight) frame — e.g. the gated output of [[logisticTrain]] on a
    * labeled sample — to any corpus, and report the confusion matrix +
    * basis-point accuracy against `label`. The decision is INTEGER-EXACT
    * (σ(z) ≥ 0.5 ⇔ z ≥ 0 on the exact DECIMAL z).
    *
    * This is the 100 TB entry point the training loop exists for: train
    * once on the human-labeled sample, then every scoring run is ONE
    * corpus pass — tokenize → distinct presence features → broadcast
    * join with the ≤ (dim+1)-row weight frame → per-doc z aggregate →
    * confusion aggregate. Zero GD iterations, zero persisted frames,
    * zero repartition; `dim` must match the dimension the weights were
    * trained with. */
  def logisticScoreWith(df: DataFrame, idCol: String, textCol: String,
      label: Column, weights: DataFrame, dim: Int = 32,
      bigrams: Boolean = false): DataFrame = {
    require(dim >= 2 && dim <= 4096, s"dim=$dim out of [2,4096]")
    confusionOf(zOf(
      logisticFeatures(df, idCol, textCol, label, dim, bigrams), weights))
  }

  /** Per-document exact-DECIMAL logit under published weights — the
    * CONTINUOUS-score handoff to the threshold-free evaluators
    * ([[graft.operators.Stats.binaryAuc]] / averagePrecision /
    * gainsTable): AUC is invariant under the monotone σ, so grading the
    * exact z avoids exp() entirely (libm ULPs are not identical
    * cross-engine; the DECIMAL(28,18) feature-dot is). The z column is
    * essentially distinct per document — the all-distinct regime the
    * evaluators' range-partitioned prefix-sum path exists for. One
    * broadcast-join pass, zero GD iterations; returns (id, y, z). */
  def logisticLogitsWith(df: DataFrame, idCol: String, textCol: String,
      label: Column, weights: DataFrame, dim: Int = 32,
      bigrams: Boolean = false): DataFrame = {
    require(dim >= 2 && dim <= 4096, s"dim=$dim out of [2,4096]")
    zOf(logisticFeatures(df, idCol, textCol, label, dim, bigrams), weights)
      .select(col("id"), col("y"), col("__z").as("z"))
  }

  /** Label-free corpus scoring with pre-trained weights — the actual
    * curation filter: one row per featured document with its quality
    * probability σ(z) (rounded) and the integer-exact keep decision
    * z ≥ 0. Same one-pass broadcast-join plan as [[logisticScoreWith]];
    * token-free documents carry no features and emit no row (they have
    * no evidence to score — filter them by length rules instead). */
  def logisticPredictWith(df: DataFrame, idCol: String, textCol: String,
      weights: DataFrame, dim: Int = 32, roundTo: Int = 6,
      bigrams: Boolean = false): DataFrame = {
    require(dim >= 2 && dim <= 4096, s"dim=$dim out of [2,4096]")
    zOf(logisticFeatures(df, idCol, textCol, lit(0), dim, bigrams), weights)
      .select(col("id"),
        round(lit(1.0) / (lit(1.0) + exp(-col("__z").cast("double"))), roundTo)
          .as("prob"),
        (col("__z") >= lit(0)).cast("int").as("pred"))
  }

  /** k-fold cross-validation for the quality classifier — the estimate a
    * curation team actually reports before spending the corpus-scale
    * scoring run: for each md5-assigned fold i, train on the other k−1
    * folds ([[logisticTrain]], published ROUNDED weights — the same
    * train-once-publish-apply contract as [[logisticScoreWith]]) and
    * grade the held-out fold THRESHOLD-FREE with the tie-robust rank AUC
    * ([[graft.operators.Stats.binaryAucBy]] per fold, pointed at the
    * exact-DECIMAL logit z — AUC is invariant under the monotone σ, so no
    * exp() enters the gate). One row per fold: held-out class counts, the
    * Mann–Whitney U₂ rank sum (integer-exact), AUC/Gini/KS. A single-class
    * held-out fold reports null metrics (binaryAuc's convention); a fold
    * whose held-out slice has NO featured documents emits no row at all
    * (k is small — a vanished fold is loud, unlike a vanished query in a
    * mean).
    *
    * Fold assignment hashes the ID (md5 first-8-hex % k — the registry's
    * deterministic-seeding convention), NOT row position, so folds are
    * stable under repartitioning and reproducible cross-engine. Note this
    * is row-level assignment: if near-duplicates should never straddle a
    * train/test boundary, dedup first (or key the hash by a cluster id) —
    * [[graft.operators.Similarity.splitLeakage]] audits exactly that.
    *
    * 100 TB shape: the k fold models train TOGETHER in [[logisticFit]]
    * (one cached per-doc frame, one setup pass, then one job per GD step
    * for all folds — not k trainings), and the held-out folds are scored
    * in one pass from the same cache with the per-fold rounded weights
    * broadcast. */
  def logisticCrossVal(df: DataFrame, idCol: String, textCol: String,
      label: Column, k: Int = 3, dim: Int = 32, iters: Int = 8,
      lr: Double = 0.5, roundTo: Int = 6, bigrams: Boolean = false)
      : DataFrame = {
    require(k >= 2 && k <= 8, s"k=$k out of [2,8]")
    val docs = logisticDocs(df, idCol, textCol, label, dim, bigrams,
      id => conv(substring(md5(id.cast("string")), 1, 8), 16, 10)
        .cast("long") % k)
    val spark = df.sparkSession
    import spark.implicits._
    try {
      val fits = logisticFit(docs, dim, iters, lr, Array.fill(k)(k.toLong),
        Array.tabulate(k)(_.toLong), traced = false)
      val w = fits.zipWithIndex.flatMap { case (f, i) =>
          f.seen.toSeq.map(b => (i.toLong, b, f.w(b.toInt))) }
        .toDF("__k", "bucket", "weight")
        .select(col("__k"), col("bucket"),
          round(col("weight"), roundTo).as("weight"))
      val z = docs.filter(col("__k") >= 0)
        .select(col("__k"), col("id"), col("y"),
          explode(col("__bs")).as("bucket"))
        .join(broadcast(w), Seq("__k", "bucket"))
        .groupBy("__k", "id")
        .agg(sum(col("weight").cast("decimal(28,18)")).as("__z"),
          max(col("y")).as("y"))
      // the AUC's prefix sums cache their range-shuffled frame; release
      // it with the result collected
      graft.operators.Caches.withCaches(spark)(local(
        graft.operators.Stats.binaryAucBy(z, "__k", "__z", col("y") === 1)
          .select(col("__k").as("fold"), col("n_pos"), col("n_neg"),
            col("u2"), col("auc"), col("gini"), col("ks"))
          .orderBy("fold")))
    } finally docs.unpersist()
  }

  /** Learning curve for the quality classifier — "is more labeled data
    * still buying accuracy?", the question that decides whether the next
    * labeling budget is worth spending: hold out a fixed md5 eval slice
    * (20%, seeded `lc-eval`), then for each requested percentage train on
    * that fraction of the REMAINING pool (seeded `lc-frac` — fractions
    * are NESTED, 25% ⊂ 50% ⊂ 100%, so the curve varies only the data
    * quantity, never the sample identity) and score the SAME eval slice
    * with the published rounded weights ([[logisticScoreWith]]'s
    * broadcast plan). One row per fraction: the integer-exact confusion
    * matrix + basis-point accuracy on the common eval set.
    *
    * Scale shape: one cached per-doc frame over the whole corpus (slice
    * key: the fraction hash for pool docs, 100 for eval docs, which no
    * fraction contains); every fraction trains TOGETHER in
    * [[logisticFit]], one job per GD step; the eval slice is scored from
    * the same cache with broadcast weights, never re-trained. Token-free
    * eval docs carry no features and drop from every row identically (the
    * n_docs column is constant down the curve — a non-constant n_docs
    * means the fixture changed, not the operator). */
  def learningCurve(df: DataFrame, idCol: String, textCol: String,
      label: Column, fractionsPct: Seq[Int] = Seq(25, 50, 100),
      dim: Int = 32, iters: Int = 8, lr: Double = 0.5, roundTo: Int = 6,
      bigrams: Boolean = false): DataFrame = {
    require(fractionsPct.nonEmpty && fractionsPct.forall(p => p >= 1 && p <= 100),
      "fractionsPct must be within [1,100]")
    val h = (tag: String, id: Column) =>
      conv(substring(md5(concat(lit(tag + ":"), id.cast("string"))),
        1, 8), 16, 10).cast("long")
    val docs = logisticDocs(df, idCol, textCol, label, dim, bigrams,
      id => when(h("lc-eval", id) % 5 === 0, lit(100L))
        .otherwise(h("lc-frac", id) % 100))
    val evalFeats = explodeBuckets(docs.filter(col("__k") === 100L))
    val spark = df.sparkSession
    try {
      val fits = logisticFit(docs, dim, iters, lr,
        fractionsPct.map(_.toLong).toArray, Array.fill(fractionsPct.size)(-1L),
        traced = false)
      local(fractionsPct.zip(fits).map { case (p, fit) =>
        val w = weightsOf(spark, fit)
          .select(col("bucket"), round(col("weight"), roundTo).as("weight"))
        confusionOf(zOf(evalFeats, w))
          .select(lit(p).cast("long").as("train_pct"), col("n_docs"),
            col("tp"), col("fp"), col("tn"), col("fn"), col("accuracy_bps"))
      }.reduce(_.unionByName(_)).orderBy("train_pct"))
    } finally docs.unpersist()
  }

  /** Training-loss trajectory of the quality classifier — the diagnostics
    * frame that says WHY an accuracy curve plateaus ([[learningCurve]]
    * reports the plateau; this decomposes it into optimization vs data):
    * one row per GD iteration with the class-weighted logistic loss
    * (evaluated at the step's INCOMING weights — the same z_t the update
    * consumes) and the gradient L2 norm. Falling loss + falling norm =
    * converging; flat loss + large norm = lr trouble; flat loss + ~0
    * norm = model capacity, more data won't help.
    *
    * The weight chain is BIT-compatible with [[logisticTrain]] (same
    * per-doc frame, z/residual/gradient arithmetic, DECIMAL(28,18)
    * quantization points and update sequence), so the oracle replays it
    * with the exact same unrolled CTE chain x176 gates and reads the
    * losses off each step — the x176 replay pattern pointed at the loss
    * instead of the weights. The loss terms go through libm (ln/exp) on
    * both engines, per-row-quantized before the sum like the BM25 idf.
    *
    * Scale: identical to [[logisticTrain]] — the loss at the incoming
    * weights is one more exact slot of the same kernel pass, so a step is
    * still one job; the norm is a driver-side sum over ≤ dim+1 terms. */
  def logisticTrainCurve(df: DataFrame, idCol: String, textCol: String,
      label: Column, dim: Int = 32, iters: Int = 8, lr: Double = 0.5,
      roundTo: Int = 6, bigrams: Boolean = false): DataFrame = {
    require(dim >= 2 && dim <= 4096, s"dim=$dim out of [2,4096]")
    require(iters >= 1 && iters <= 16, "iters out of [1,16]")
    val fit = fitOne(df, idCol, textCol, label, dim, iters, lr, bigrams,
      traced = true)
    // Spark's round(double, s) sequence — shortest-decimal HALF_UP
    def rnd(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(roundTo, java.math.RoundingMode.HALF_UP).doubleValue
    val spark = df.sparkSession
    import spark.implicits._
    fit.curve.zipWithIndex
      .map { case ((ls, g), t) => (t + 1L, rnd(ls), rnd(g)) }
      .toDF("iter", "loss", "grad_norm")
  }

  /** χ² token–label feature selection — which vocabulary items carry the
    * label signal: per token the 2×2 document-presence contingency
    * (contains/absent × positive/negative) and its chi-square statistic,
    * top `topK` tokens. The interpretable companion to the hashed
    * classifier ([[logisticTrain]] buckets collide by design; this names
    * the actual separating tokens — vocabulary pruning, leakage hunting
    * "why does 'january' predict quality?", dataset-card reporting).
    *
    * Exactness: all four cells are exact BIGINT document counts (presence
    * via one distinct, not term frequency); χ² = N(ad−bc)²/((a+b)(c+d)
    * ·P·N₋) is evaluated as ONE fixed IEEE op sequence on those exact
    * counts — pure ×/− /÷ arithmetic (no libm), so the double is
    * bit-reproducible cross-engine at ANY corpus size, with no DECIMAL
    * headroom cliff (N⁵ would overflow DECIMAL(38) past ~3.6M docs).
    * Degenerate margins (single-class corpus, token in every/no doc)
    * score 0 rather than 0/0. Ranking orders by the UNROUNDED statistic
    * (bit-identical), tie-broken by token.
    *
    * Scale shape: explode → one (doc, token) distinct → one token
    * aggregate → broadcast 1-row totals → TakeOrderedAndProject top-k.
    * Two shuffles, both token/doc-keyed; nothing corpus² anywhere.
    * `minDf` prunes the hapax tail before the top-k heap. */
  def chi2TokenSelect(df: DataFrame, idCol: String, textCol: String,
      label: Column, topK: Int = 50, minDf: Int = 5): DataFrame = {
    require(topK >= 1, "topK must be positive")
    require(minDf >= 1, "minDf must be positive")
    val d = (c: Column) => c.cast("double")
    val base = df.select(col(idCol).as("__id"), label.cast("int").as("__y"),
      Dedup.words(col(textCol)).as("__ws"))
    val totals = broadcast(base.agg(
      sum(when(col("__y") === 1, 1L).otherwise(0L)).as("__p"),
      sum(when(col("__y") === 0, 1L).otherwise(0L)).as("__ng")))
    val pres = base
      .select(col("__id"), col("__y"), explode(col("__ws")).as("token"))
      .distinct()
    pres.groupBy("token")
      .agg(sum(when(col("__y") === 1, 1L).otherwise(0L)).as("__a"),
        sum(when(col("__y") === 0, 1L).otherwise(0L)).as("__b"))
      .filter(col("__a") + col("__b") >= minDf)
      .crossJoin(totals)
      .withColumn("__c", col("__p") - col("__a"))
      .withColumn("__d", col("__ng") - col("__b"))
      .withColumn("__det",
        d(col("__a")) * d(col("__d")) - d(col("__b")) * d(col("__c")))
      .withColumn("__den",
        d(col("__a") + col("__b")) * d(col("__c") + col("__d")) *
          d(col("__p")) * d(col("__ng")))
      .withColumn("__chi2", when(col("__den") === 0.0, lit(0.0))
        .otherwise(d(col("__p") + col("__ng")) *
          (col("__det") * col("__det")) / col("__den")))
      .orderBy(desc("__chi2"), col("token"))
      .limit(topK)
      .select(col("token"), (col("__a") + col("__b")).as("df_docs"),
        col("__a").as("pos_docs"), round(col("__chi2"), 6).as("chi2"))
  }
}

/** Which per-doc rows each model of [[Curation.logisticFit]] trains on:
  * model j takes the rows whose slice key is in [0, hi(j)) and is not
  * skip(j). */
private[functions] final class LogisticSlices(hi: Array[Long],
    skip: Array[Long]) extends Serializable {
  val m: Int = hi.length
  def has(j: Int, k: Long): Boolean = k >= 0 && k < hi(j) && k != skip(j)
}

/** The kernel's setup-pass sums per model: featured docs, positive and
  * negative labels (a null or other label counts in `n` only), and the
  * buckets seen. Rows are (y, __bs, __k). */
private[functions] final class DocCounts(m: Int, slots: Int)
    extends Serializable {
  val n = new Array[Long](m)
  val pos = new Array[Long](m)
  val neg = new Array[Long](m)
  val seen: Array[Array[Boolean]] = Array.fill(m)(new Array[Boolean](slots))

  def add(s: LogisticSlices, r: InternalRow): Unit = {
    val k = r.getLong(2)
    val bs = r.getArray(1)
    var j = 0
    while (j < m) {
      if (s.has(j, k)) {
        n(j) += 1
        if (!r.isNullAt(0)) r.getInt(0) match {
          case 1 => pos(j) += 1
          case 0 => neg(j) += 1
          case _ =>
        }
        val sj = seen(j)
        var i = 0
        while (i < bs.numElements()) { sj(bs.getLong(i).toInt) = true; i += 1 }
      }
      j += 1
    }
  }

  def merge(o: DocCounts): DocCounts = {
    var j = 0
    while (j < m) {
      n(j) += o.n(j); pos(j) += o.pos(j); neg(j) += o.neg(j)
      var b = 0
      while (b < slots) { seen(j)(b) |= o.seen(j)(b); b += 1 }
      j += 1
    }
    this
  }
}

/** One GD step's exact per-model sums: the (dim+1) gradient slots, plus
  * the loss slot last when traced. */
private[functions] final class GdSums(m: Int, slots: Int, traced: Boolean)
    extends Serializable {
  val sums: Array[Dec18Sums] =
    Array.fill(m)(new Dec18Sums(if (traced) slots + 1 else slots))

  def merge(o: GdSums): GdSums = {
    var j = 0
    while (j < m) { sums(j).mergeFrom(o.sums(j)); j += 1 }
    this
  }
}

/** One GD step's per-row work, shipped in the task closure with the
  * driver's weights: for each model the row belongs to, z is the
  * exact-decimal gather over the model's weights, the residual
  * (σ(z) − y)·cw is quantized once and added into each of the row's
  * buckets (a null label contributes no gradient), and a traced step
  * adds the class-weighted loss cw·ln(1 + e^(∓z)) into the loss slot (a
  * null label takes the negative branch, as SQL's when/otherwise does).
  *
  * exp and ln are `StrictMath`'s: the SQL step this replaces evaluated
  * them inside an aggregate's argument, which Spark interprets (codegen
  * would call `java.lang.Math`, whose x86 intrinsics differ by an ulp);
  * LogisticKernelSpec pins the weights, losses and norms bit for bit. */
private[functions] final class LogisticStep(slices: LogisticSlices,
    w: Array[UnsafeArrayData], wpos: Array[Double], wneg: Array[Double],
    traced: Boolean) extends Serializable {
  @transient private lazy val scratch = new Array[Long](2)

  def add(acc: GdSums, r: InternalRow): Unit = {
    val k = r.getLong(2)
    val bs = r.getArray(1)
    val labeled = !r.isNullAt(0)
    val y = if (labeled) r.getInt(0) else 0
    var j = 0
    while (j < slices.m) {
      if (slices.has(j, k)) {
        val z = GatherSumDec18.gather(bs, w(j))
        val s = acc.sums(j)
        if (traced)
          s.addTerm(s.size - 1,
            if (labeled && y == 1) wpos(j) * StrictMath.log(1.0 + StrictMath.exp(-z))
            else wneg(j) * StrictMath.log(1.0 + StrictMath.exp(z)), scratch)
        if (labeled)
          s.addEach(bs, (1.0 / (1.0 + StrictMath.exp(-z)) - y.toDouble) *
            (if (y == 1) wpos(j) else wneg(j)), scratch)
      }
      j += 1
    }
  }
}
