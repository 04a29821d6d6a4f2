package graft

import graft.queries.Registry
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Plan regressions: the properties that make these operators scale are
  * asserted on the PHYSICAL PLAN, not just timed — filter pushdown, column
  * pruning, broadcast joins, partial aggregation, top-k without total sort.
  * If a refactor silently de-optimizes a path, this suite fails. */
class PlanRegressionSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = Registry.byName(name).run(spark, sf)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  test("f1 filters push into the parquet scan; scan reads only needed columns") {
    val p = plan("f1_query_filters")
    assert(p.contains("PushedFilters: [IsNotNull(p_size), IsNotNull(p_retailprice)"), p.take(500))
    assert(p.contains("GreaterThanOrEqual(p_size,25)"))
    // pruned read schema: exactly the 4 projected columns, not all 6
    assert(p.contains("ReadSchema: struct<p_partkey:bigint,p_type:string,p_size:int,p_retailprice:double>"))
  }

  test("j1 3-way merge broadcasts both small dimension sides") {
    val p = plan("j1_merge_suffixes")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, "expected 2 broadcast joins")
    assert(!p.contains("SortMergeJoin"), "small dims must not sort-merge")
  }

  test("a1 group-sum does partial aggregation before the shuffle") {
    val p = plan("a1_combine_groupsum")
    assert(p.contains("HashAggregate"))
    assert(p.contains("partial_sum") || p.contains("Partial"), "map-side combine missing")
  }

  test("o1 top-k plans TakeOrderedAndProject, never a global sort") {
    val p = plan("o1_o2_sort_topk")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("whole-stage codegen covers the scalar-heavy paths") {
    // duration parse + engagement metrics are pure expressions → codegen'd.
    // AQE defers codegen assembly until execution, so inspect with AQE off.
    def codegen(name: String): String = {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try Registry.byName(name).run(spark, sf).queryExecution
        .explainString(ExplainMode.fromString("codegen"))
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
    val c8 = codegen("c8_duration_seconds")
    assert(c8.contains("WholeStageCodegen subtrees") && !c8.startsWith("Found 0"), c8.take(120))
    val c7 = codegen("c7_engagement_metrics")
    assert(c7.contains("WholeStageCodegen subtrees") && !c7.startsWith("Found 0"), c7.take(120))
  }

  test("x5 ANN broadcasts the one-row query vector") {
    val p = plan("x5_ann_brute_force")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "query vector should broadcast")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("x16 salted join stays a hash join — salting must not nested-loop") {
    val p = plan("x16_salted_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "salted join degenerated to a non-equi join:\n" + p.take(600))
  }

  test("x18 bucketed join+agg needs no hash-partition exchange") {
    // the only Exchange allowed is the presentation sort's rangepartitioning
    val p = plan("x18_bucketed_join")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(400))
    assert(!p.contains("Exchange hashpartitioning"),
      "bucketed join/agg must not shuffle on the bucket key:\n" + p.take(900))
  }

  test("x4 block guard survives optimization (raise_error in the plan)") {
    val p = plan("x4_char_ngram_jaccard")
    assert(p.toLowerCase.contains("raise_error"),
      "the maxRows guard was pruned out of the plan:\n" + p.take(600))
  }

  test("x2 LSH caches nothing and tokenizes once, under the reused band exchange") {
    import org.apache.spark.sql.catalyst.expressions.RegExpReplace
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val df = Registry.byName("x2_minhash_lsh_neardups").run(spark, sf)
    df.collect()
    // the executed (final adaptive) plan; a reused exchange counts once,
    // where it ran
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case _: ReusedExchangeExec => Nil
      case other => other.children.flatMap(nodes)
    })
    def tokenizes(p: SparkPlan): Boolean =
      p.expressions.exists(_.exists(_.isInstanceOf[RegExpReplace]))
    val all = nodes(df.queryExecution.executedPlan)
    val shown = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!all.exists(_.isInstanceOf[InMemoryTableScanExec]) &&
      !shown.contains("InMemoryRelation"), "x2 reads a cache:\n" + shown.take(800))
    assert(all.count(tokenizes) == 1,
      s"${all.count(tokenizes)} nodes tokenize:\n" + shown.take(1500))
    val reused = all.collect { case r: ReusedExchangeExec => r }
    assert(reused.exists(r => nodes(r.child).exists(tokenizes)),
      "the tokenizing exchange is not reused:\n" + shown.take(1500))
  }

  test("x23 partitioned layout prunes whole directories on the event_type filter") {
    val p = plan("x23_partitioned_layout")
    assert(p.contains("PartitionFilters: [isnotnull(event_type"),
      "partition filter did not reach the scan:\n" + p.take(600))
    assert(p.contains("(event_type") && p.contains("purchase"), p.take(600))
  }

  test("t3 6-way join broadcasts the fixed dims, no nested loop anywhere") {
    val p = plan("t3_local_volume")
    assert(p.contains("BroadcastHashJoin"), "nation/region should broadcast")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(600))
  }

  test("x32 decontamination broadcasts the benchmark grams, no self-join") {
    val p = plan("x32_decontamination")
    assert(p.contains("BroadcastExchange"), "bench grams should broadcast:\n" + p.take(600))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "decontamination must stay an equi-join:\n" + p.take(600))
  }

  test("x33 count-min builds cells with partial aggregation and broadcasts the sketch") {
    val p = plan("x33_heavy_hitters")
    assert(p.contains("partial_count") || p.contains("Partial"),
      "sketch cells need map-side combine:\n" + p.take(600))
    assert(p.contains("BroadcastExchange"), "sketch should broadcast:\n" + p.take(600))
  }

  test("x35 cube is one Expand + aggregate, not a union of aggregates") {
    val p = plan("x35_grouping_cube")
    assert(p.contains("Expand"), "cube should plan an Expand:\n" + p.take(400))
    assert(!p.contains("Union"), "cube must not union grouping sets:\n" + p.take(400))
  }

  test("x38 packing windows are partitioned by shard (no global window)") {
    val df = Registry.byName("x38_sequence_packing").run(spark, sf)
    val logical = df.queryExecution.optimizedPlan.toString
    assert(logical.contains("partitionBy") || logical.contains("source"),
      "window must be shard-partitioned:\n" + logical.take(600))
    // the sort is the presentation orderBy; the window itself must not
    // move all rows to one partition (the empty-partitionBy warning shape)
    val p = plan("x38_sequence_packing")
    assert(p.contains("Window"), p.take(400))
    assert(!p.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      "packing window collapsed to a single partition:\n" + p.take(900))
  }

  test("e13 rank filter plans a WindowGroupLimit (pre-shuffle top-k)") {
    val p = plan("e13_topk_per_group")
    assert(p.contains("WindowGroupLimit"),
      "rank<=k filter should prune before the shuffle:\n" + p.take(600))
  }

  test("x48 global index never funnels data through one partition") {
    val p = plan("x48_global_index")
    // the data-side window is partitioned by __pid; only the tiny
    // per-partition offsets frame may pass through a single partition
    assert(p.contains("BroadcastExchange"), "offsets should broadcast:\n" + p.take(600))
    val dataWindows = "Window".r.findAllIn(p).length
    assert(dataWindows >= 2, p.take(400)) // local rn + offsets cumsum
  }

  test("x53 group sample plans a WindowGroupLimit (≤ n rows per group pre-shuffle)") {
    val p = plan("x53_group_sample")
    assert(p.contains("WindowGroupLimit"),
      "rank<=n filter should prune before the shuffle:\n" + p.take(600))
  }

  test("x55 pagerank iterations stay equi-join + hash aggregate (no nested loop)") {
    val p = plan("x55_pagerank")
    // the only nested-loop allowed is the 1-row n_nodes crossJoin broadcast
    assert(!p.contains("CartesianProduct"),
      "pagerank must not plan a cartesian product:\n" + p.take(800))
    assert(p.contains("TakeOrderedAndProject"), "top-k must not global-sort")
    // per-iteration ranks are lineage-truncated (localCheckpoint → flat
    // LogicalRDD leaf), not merely persisted — a growing cached plan tree
    // costs seconds of driver re-analysis per downstream action
    assert(p.contains("Scan ExistingRDD"),
      "per-iteration ranks must be checkpointed:\n" + p.take(800))
  }

  test("x51 snapshot diff is one full-outer join with the 'same' filter in-plan") {
    val p = plan("x51_snapshot_diff")
    assert(p.contains("FullOuter"), p.take(600))
    // formatted explain lists each node twice (tree + detail) — count the
    // detail lines so exactly ONE shuffled join exists
    val joins = "(?m)^\\(\\d+\\) (SortMergeJoin|ShuffledHashJoin)".r
      .findAllIn(p).length
    assert(joins == 1, s"diff must be exactly one shuffled join, got $joins:\n" +
      p.take(800))
  }

  test("x64 cross-corpus LSH is an equi-join on band keys, never a cross join") {
    val p = plan("x64_fuzzy_decontamination")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "cross-corpus candidates must come from the band equi-join:\n" + p.take(800))
  }

  test("x67 scalar quantization broadcasts the per-dim stats") {
    val p = plan("x67_embedding_quantize")
    assert(p.contains("BroadcastExchange"),
      "the |dims|-row stats frame should broadcast:\n" + p.take(600))
    assert(!p.contains("CartesianProduct"))
  }

  test("t20 supplier-count excludes via hash anti join, never nested-loop") {
    val p = plan("t20_supplier_part_cnt")
    assert(p.contains("LeftAnti"), "NOT IN should plan an anti join:\n" + p.take(600))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(600))
  }

  test("t22 waiting-suppliers is aggregates over ONE order join — no lineitem self-join") {
    val p = plan("t22_waiting_suppliers")
    // lineitem is scanned exactly once: the EXISTS/NOT-EXISTS pair is folded
    // into per-order counts instead of two more fact joins
    val liScans = "(?m)Location.*lineitem".r.findAllIn(p).length
    assert(liScans == 1, s"expected 1 lineitem scan, got $liScans:\n" + p.take(800))
    assert(p.contains("TakeOrderedAndProject"), "top-20 must not global-sort")
  }

  test("t18 important-parts total is a broadcast 1-row aggregate over the persisted frame") {
    val p = plan("t18_important_parts")
    assert(p.contains("InMemoryTableScan") || p.contains("InMemoryRelation"),
      "per-part values must persist (no second fact pass):\n" + p.take(600))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the global total should broadcast:\n" + p.take(600))
  }

  test("x83 sorted-neighborhood pairs come from equi-joins, never a range nested-loop") {
    val p = plan("x83_sorted_neighborhood")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "rank-window pairing degenerated to a non-equi join:\n" + p.take(800))
    assert(p.contains("InMemoryTableScan") || p.contains("InMemoryRelation"),
      "global index must be persisted (range boundaries re-sample otherwise)")
  }

  test("x77 boilerplate shuffles only removal indices, never kept text") {
    val p = plan("x77_boilerplate_removal")
    // boilerplate occurrences select via a semi join …
    assert(p.contains("LeftSemi"), p.take(600))
    // … and the reassembly aggregate carries ONLY (id, seg_idx) int pairs:
    // no kept-segment text may flow through a collect_list of seg strings
    assert(!p.contains("collect_list(struct(seg_idx"), p.take(600))
    assert(!p.contains("CartesianProduct"), p.take(600))
  }

  test("x79 correlation matrix reads lineitem exactly once") {
    val p = plan("x79_corr_matrix")
    val scans = "(?m)Location.*lineitem".r.findAllIn(p).length
    assert(scans == 1, s"all moments must come from ONE scan, got $scans:\n" + p.take(800))
  }

  test("x88 BPE iterations checkpoint the vocab (flat lineage, no cartesian)") {
    val p = plan("x88_bpe_learn")
    assert(p.contains("Scan ExistingRDD"),
      "per-iteration vocab must be lineage-truncated:\n" + p.take(600))
    assert(!p.contains("CartesianProduct"),
      "only the broadcast 1-row argmax may cross-join:\n" + p.take(600))
  }

  test("x90 PQ codebook broadcasts; argmin encodes via WindowGroupLimit") {
    val p = plan("x90_product_quantization")
    assert(p.contains("BroadcastExchange"),
      "the dim·k codebook must broadcast:\n" + p.take(600))
    assert(p.contains("WindowGroupLimit"),
      "the per-(vector,subspace) argmin must prune pre-shuffle:\n" + p.take(600))
    assert(!p.contains("CartesianProduct"), p.take(600))
  }

  test("x97 expectations suite is ONE scan + a broadcast anti RI probe") {
    val p = plan("x97_expectations_audit")
    // all 4 column checks fuse into one aggregate over one orders scan
    assert("FileScan parquet".r.findAllIn(p).length <= 3, // orders, lineitem, orders-dim
      "check fan-out must not re-scan per check:\n" + p.take(800))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      "RI must be a broadcast anti join:\n" + p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(600))
  }

  test("x98 containment verify joins candidates by hash, never all-pairs") {
    val p = plan("x98_ngram_containment")
    // the 60-doc candidate block builds with one nested-loop pair join, but
    // the gram frames must attach via hash equi-joins
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      "grams must attach to the candidate frame by equi-join:\n" + p.take(800))
  }

  test("x99 label propagation is equi-join + hash aggregates, no windows") {
    val p = plan("x99_label_propagation")
    assert(p.contains("Scan ExistingRDD"),
      "per-iteration labels must be lineage-truncated:\n" + p.take(600))
    assert(!p.contains("CartesianProduct"), p.take(600))
    // argmax is max(struct(cnt, -lab)) — a plain aggregate, not a window
    assert(!p.contains("Window"), "argmax must not plan a per-node window")
  }

  test("x102 session windows plan Spark's native merging-session aggregate") {
    val p = plan("x102_session_windows")
    assert(p.contains("session_window") || p.contains("SessionWindow"),
      "must use the native session_window, not a manual cumsum:\n" + p.take(600))
  }

  test("x101 random projection broadcasts the 1-row sign matrix") {
    val p = plan("x101_random_projection")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the sign matrix must ride in as a broadcast:\n" + p.take(600))
    // matrix is built from range(1) — no shuffle on the data side beyond sort
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty,
      "projection itself must be map-only:\n" + p.take(800))
  }

  test("x104 winnowing has ONE pre-hash exchange and a checkpointed fp frame") {
    val p = plan("x104_winnowing_overlap")
    assert(p.contains("Scan ExistingRDD"),
      "fingerprints must be eagerly lineage-truncated before the 4-scan join:\n" + p.take(600))
    assert(!p.contains("CartesianProduct"), p.take(600))
    // the repartition(id) BEFORE hashing doubles as the window's exchange —
    // the plan upstream of the checkpoint leaf was audited separately; here
    // the pair join must be hash joins over the flat leaf only
    assert(!p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(600))
  }

  test("x107 card scrub pushes the key filter and aggregates partially") {
    val p = plan("x107_card_scrub")
    assert(p.contains("LessThanOrEqual(o_orderkey,5000)"),
      "row filter must reach the parquet scan:\n" + p.take(600))
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint>"),
      "scan must read only the two key columns:\n" + p.take(600))
    // regroup after the candidate explode: partial ObjectHashAggregate on
    // both sides of ONE exchange — candidates never ride a second shuffle
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2, p.take(800))
  }

  test("x108 quantile prune ranks via __pid windows, count rides broadcast") {
    val p = plan("x108_prune_quantile")
    // every data-side window is partitioned by __pid (local rank); the only
    // unpartitioned window runs over the 32-row offsets frame
    assert(p.contains("windowspecdefinition(__pid"),
      "local ranks must window over __pid, not a global sort:\n" + p.take(800))
    assert(p.contains("BroadcastHashJoin"),
      "offsets must join back as a broadcast:\n" + p.take(800))
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the 1-row count must ride in as a broadcast cross join:\n" + p.take(800))
  }

  test("x109 canonical pick is one aggregate over the shared components") {
    val p = plan("x109_dedup_canonical")
    assert(p.contains("Scan ExistingRDD"),
      "must reuse the checkpointed shared components frame:\n" + p.take(600))
    // survivor = max(struct) hash/sort aggregate — never a per-cluster window
    assert(!p.contains("Window"), "argmax must not plan a window:\n" + p.take(600))
    assert(!p.contains("CartesianProduct"), p.take(600))
  }

  test("x110 exact quantiles window by group and filter before the aggregate") {
    val p = plan("x110_exact_quantiles")
    assert(p.contains("windowspecdefinition(o_orderpriority"),
      "ranking must partition by the group key, never a global window:\n" + p.take(800))
    // boundary-row filter sits between the window and the aggregate, so the
    // agg consumes ≤ 2·|qs| rows per group, not whole groups
    assert("(?s)Filter.*HashAggregate".r.findFirstIn(p).isDefined ||
      "(?s)HashAggregate.*Filter.*Window".r.findFirstIn(p).isDefined, p.take(900))
    assert(!p.contains("percentile"), "must not fall back to the buffering aggregate")
  }

  test("x115 native asof plans the custom exec between key exchanges and sorts") {
    val p = plan("x115_native_asof")
    // the custom physical node made it through the planner
    assert(p.contains("AsofJoin"), p.take(800))
    // EnsureRequirements satisfied the declared distribution/ordering: a
    // hash exchange per side plus the final range exchange for ORDER BY —
    // and nothing more
    assert("hashpartitioning\\((user_id|su)#".r.findAllIn(p).length >= 2, p.take(900))
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).length == 3,
      "expected exactly 3 exchanges:\n" + p.take(900))
    // (key, time) sorts feed the merge; event_type filters reach the scans
    assert(p.contains("ts#") && p.contains("sts#"), p.take(900))
    assert("EqualTo\\(event_type,(purchase|signup)\\)".r.findAllIn(p).length == 2,
      "both event_type filters must push into parquet:\n" + p.take(900))
    // the merge replaces the window formulation entirely
    assert(!p.contains("Window"), "native path must not plan a window:\n" + p.take(600))
    assert(!p.contains("SortMergeJoin"), p.take(600))
  }

  test("x114 centroid pass runs once; pairwise join reads the checkpoint") {
    val p = plan("x114_label_similarity")
    // both self-join sides must reuse the checkpointed centroid frame —
    // a regression here re-scans embeddings and re-aggregates twice
    assert("Scan ExistingRDD".r.findAllIn(p).length >= 2, p.take(800))
    assert(!p.contains("Scan parquet"), "centroids must not recompute:\n" + p.take(800))
    // the tiny |labels|×d frame broadcasts; the corpus never self-joins
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p.take(800))
  }

  test("x124 variant path parses the JSON exactly once, no filter re-parse") {
    val p = plan("x124_variant_extract")
    // the conditional-agg form keeps parse_json out of any pushed filter;
    // a regression back to a WHERE on variant_get doubles the parse work
    assert("parseJson".r.findAllIn(p).length == 1,
      "parse_json must appear exactly once:\n" + p.take(1200))
    assert(p.contains("ReadSchema: struct<event_type:string,props:string>"),
      "scan must prune to the two used columns:\n" + p.take(800))
  }

  test("x126 collated distinct expands once and aggregates partially") {
    val p = plan("x126_collated_group")
    // two DISTINCT lanes + the plain lane ride ONE Expand over one scan
    assert("Expand".r.findAllIn(p).length >= 1, p.take(800))
    // formatted mode prints each node in the tree AND the details section,
    // so ONE scan appears at most twice
    assert("Scan parquet".r.findAllIn(p).length <= 2,
      "multi-distinct must not rescan:\n" + p.take(800))
  }

  test("x134 t-closeness broadcasts the sensitive-domain and total frames") {
    val p = plan("x134_t_closeness")
    // gdist (|sensitive domain| rows) and the 1-row total must ride
    // broadcasts; only the cell/class frames may meet in a keyed join
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 1, p.take(800))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      "BroadcastHashJoin".r.findAllIn(p).length >= 2,
      "1-row total must not shuffle:\n" + p.take(800))
    assert(p.contains("ReadSchema: struct<c_nationkey:int,c_mktsegment:string>"),
      "scan must prune to QID + sensitive columns:\n" + p.take(800))
  }

  test("x135 kappa is one fused aggregate over one pruned scan") {
    val p = plan("x135_rater_kappa")
    assert("Scan parquet".r.findAllIn(p).length <= 2,
      "2x2 table must come from ONE scan:\n" + p.take(800))
    assert(p.contains("Partial") || p.contains("partial_sum"),
      "map-side combine missing:\n" + p.take(800))
    assert(!p.contains("Join"), "kappa needs no join:\n" + p.take(800))
  }

  test("x137 effective rank broadcasts dim sums; products stay same-key") {
    val p = plan("x137_effective_rank")
    // the two 64-row dim-sum frames and the 1-row total are broadcast;
    // the d²-producing self-join is keyed on the row id (never cartesian)
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p.take(1000))
    assert(p.contains("BroadcastNestedLoopJoin"),
      "1-row total should ride a broadcast nested loop:\n" + p.take(800))
    assert(!p.contains("CartesianProduct"),
      "self-join must stay keyed:\n" + p.take(800))
  }

  test("x140/x142 rank tests scan the corpus once; windows ride the value frame") {
    // x140's per-value frame feeds BOTH the CDF window and the totals: the
    // persist must show up as an InMemoryTableScan consumer (without it,
    // each branch rescans the corpus — caught live by this test)
    val p140 = plan("x140_ks_test")
    assert(p140.contains("InMemoryTableScan"),
      "pv frame must be cached, not recomputed per branch:\n" + p140.take(800))
    assert(p140.contains("Window"), p140.take(400))
    // x142 rides globalPrefixSums (r15 verdict #6): the post-range-shuffle
    // frame is cached (the helper's __pid pin), so the offsets aggregate
    // and the data-side join both read the cache — the corpus parquet
    // backs exactly one cached plan, never a per-branch rescan
    val p142 = plan("x142_mann_whitney")
    assert(p142.contains("InMemoryTableScan"),
      "prefix-sum frame must be cached, not recomputed per branch:\n" +
        p142.take(800))
    assert(p142.contains("Window"), p142.take(400))
    for (p <- Seq(p140, p142))
      assert(p.contains("ReadSchema: struct<n_chars:bigint,source:string>") ||
        p.contains("ReadSchema: struct<source:string,n_chars:bigint>"),
        "scan must prune to value + group columns:\n" + p.take(800))
  }

  test("x147 attribution broadcasts neither fact side spuriously, one pair join") {
    val p = plan("x147_attribution_models")
    // exactly one equi-join builds the pair frame (clicks ⋈ buys on user)
    assert("Join".r.findAllIn(p).length >= 1, p.take(600))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "interval predicate must ride the user equi-join, not a loop join:\n" +
        p.take(900))
  }

  test("x156/x157 graph stats stay on keyed joins, no loop joins") {
    for (q <- Seq("x156_assortativity", "x157_link_prediction")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$q must use keyed equi-joins only:\n" + p.take(900))
      assert(p.contains("ReadSchema: struct<l_partkey:bigint,l_suppkey:bigint>"),
        s"$q must prune the lineitem scan to the two key columns:\n" +
          p.take(800))
    }
  }

  test("x171 BM25 broadcasts the query side and caps top-k pre-shuffle") {
    val p = plan("x171_bm25_topk")
    // query-term frame and per-term df/stats frames ride broadcasts; the
    // only non-broadcast joins key on (doc, token)-derived columns
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      "query terms + df/stats must broadcast:\n" + p.take(900))
    assert(p.contains("WindowGroupLimit"),
      "per-query top-k must cap rows before the rank shuffle:\n" + p.take(900))
    assert(!p.contains("CartesianProduct"),
      "corpus × queries must never cross-join:\n" + p.take(900))
  }

  test("x174 query likelihood shares the BM25 shape: broadcasts + top-k cap") {
    val p = plan("x174_query_likelihood")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p.take(900))
    assert(p.contains("WindowGroupLimit"), p.take(600))
    assert(!p.contains("CartesianProduct"), p.take(900))
  }

  test("x172 RRF fusion aggregates partially before the (query,item) shuffle") {
    val p = plan("x172_hybrid_rrf")
    assert(p.contains("WindowGroupLimit"), p.take(600))
    assert(p.contains("partial_sum") || p.contains("Partial"),
      "fusion sum must map-side combine:\n" + p.take(900))
  }

  test("x181 indexed BM25: scoring batches touch the corpus only via the postings scan") {
    import graft.operators.Retrieval
    import org.apache.spark.sql.functions.col
    val d = spark.read.parquet(s"$sf/documents.parquet")
    Retrieval.buildPostingsIndex(d.filter(col("doc_id") >= 5), "doc_id",
      "text", "graft_plan_postings", buckets = 4)
    // a SECOND query batch against the materialized index
    val p = Retrieval.bm25TopKIndexed(spark, "graft_plan_postings",
        d.filter(col("doc_id") < 5), "doc_id", "text", k = 5)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    // zero corpus-side Exchange: no shuffle keyed on token or doc before
    // the match aggregate — the only hash exchange is on the matched
    // (query_id, doc) rows, sized by Σ postings(q-terms)
    assert(!p.contains("Exchange hashpartitioning(token"),
      "corpus must not re-shuffle on token:\n" + p.take(900))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 2,
      s"indexed scoring should shuffle only matched rows (agg + window), " +
        s"found $exchanges exchanges:\n" + p.take(1200))
    // no re-tokenization of the corpus: the only explodes are the
    // broadcast QUERY side — once for the term join, once feeding the
    // vocabulary (_tok) filter; both are query-batch-sized
    assert("\\(\\d+\\) Generate".r.findAllIn(p).length <= 2,
      "corpus text must not re-tokenize on the scoring path:\n" + p.take(900))
    assert(p.contains("BroadcastHashJoin"), p.take(600))
  }

  test("x234 lifecycle: never-deleted index keeps the tombstone-free " +
    "scoring plan; a delete adds exactly one broadcast anti-join; " +
    "compaction removes it again") {
    import graft.operators.Retrieval
    import org.apache.spark.sql.functions.col
    val d = spark.read.parquet(s"$sf/documents.parquet")
    Retrieval.buildPostingsIndex(d.filter(col("doc_id") >= 5), "doc_id",
      "text", "graft_plan_lcp", buckets = 4)
    def plan() = Retrieval.bm25TopKIndexed(spark, "graft_plan_lcp",
        d.filter(col("doc_id") < 5), "doc_id", "text", k = 5)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    // the delete machinery must cost NOTHING until a delete happens:
    // no anti-join, no tombstone table anywhere in the plan
    val fresh = plan()
    assert(!fresh.contains("LeftAnti"), fresh.take(900))
    assert(!fresh.contains("_tomb"), fresh.take(900))
    // tombstone phase: the only plan change is one BROADCAST anti-join
    // (batch-sized build side) — the corpus still never shuffles on token
    Retrieval.deleteFromPostingsIndex(spark,
      d.filter(col("doc_id") >= 5 && col("doc_id") % 7 === 3)
        .select(col("doc_id")), "doc_id", "graft_plan_lcp")
    val tombed = plan()
    assert(tombed.contains("LeftAnti"), tombed.take(900))
    assert(tombed.contains("BroadcastHashJoin"), tombed.take(900))
    assert(!tombed.contains("Exchange hashpartitioning(token"),
      "corpus must not re-shuffle on token even with tombstones:\n" +
        tombed.take(900))
    assert("Exchange hashpartitioning".r.findAllIn(tombed).length <= 2,
      tombed.take(1200))
    // compaction restores the exact tombstone-free shape
    Retrieval.compactPostingsIndex(spark, "graft_plan_lcp", buckets = 4)
    val compacted = plan()
    assert(!compacted.contains("LeftAnti"), compacted.take(900))
    assert(!compacted.contains("_tomb"), compacted.take(900))
    // upsert is LOGICAL (generation-stamped tombstones): the physical
    // postings only GROW by the batch — no corpus rewrite — and the
    // scoring plan gains exactly the delete's one broadcast anti-join,
    // with the corpus still never shuffling on token
    val before = spark.table("graft_plan_lcp").count()
    val batch = d.filter(col("doc_id") >= 5 && col("doc_id") % 7 === 2)
    Retrieval.upsertIntoPostingsIndex(spark, batch, "doc_id", "text",
      "graft_plan_lcp", buckets = 4)
    val batchPostings = batch
      .select(org.apache.spark.sql.functions.explode(
        graft.operators.Dedup.words(col("text"))).as("t"), col("doc_id"))
      .distinct().count()
    assert(spark.table("graft_plan_lcp").count() == before + batchPostings,
      "upsert must append its batch, never rewrite the corpus")
    val upserted = plan()
    assert(upserted.contains("LeftAnti"), upserted.take(900))
    assert(!upserted.contains("Exchange hashpartitioning(token"),
      upserted.take(900))
  }

  test("x183 indexed IVF: probe scan prunes cell partitions, centroids come from the tiny table") {
    import graft.operators.Similarity
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    Similarity.buildIvfIndex(emb, "vec_id", "label", "embedding",
      "graft_plan_ivf")
    val p = Similarity.ivfTopKIndexed(spark, "graft_plan_ivf", "vec_id",
        "label", "embedding", emb.filter(col("vec_id") === 0), k = 10,
        nprobe = 3)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    // the candidate scan must carry a partition filter on the cell
    // column — either dynamic partition pruning from the broadcast probe
    // set or a pushed-in subquery filter; a full-corpus scan means the
    // index layout is being ignored
    assert(p.contains("dynamicpruning") ||
      p.contains("PartitionFilters: [label"),
      "probed-cell scan must prune partitions:\n" + p.take(1200))
    // centroid ranking reads the materialized table, never re-aggregates
    // the corpus (no vectorMean UDAF in the plan)
    assert(!p.contains("vectorMean") && !p.contains("VectorMean"),
      "centroids must come from the index table:\n" + p.take(900))
  }

  test("x186/x192/x193 scorer evals scan the corpus once, aggregate before " +
    "any window") {
    for (q <- Seq("x186_classifier_auc", "x192_avg_precision",
        "x193_gains_table")) {
      val p = plan(q)
      // ONE corpus scan; the single-partition window runs on the
      // bounded distinct-score frame AFTER the hash aggregate, never on
      // raw rows (formatted mode prints each op in tree AND details, so
      // count the numbered detail headers)
      assert("""\(\d+\) Scan parquet""".r.findAllIn(p).length == 1,
        s"$q scans")
      assert(p.contains("HashAggregate"), s"$q must pre-aggregate")
      // detail headers number operators input-first: the first
      // HashAggregate must sit BELOW the first Window in the plan
      val firstAgg = """\((\d+)\) HashAggregate""".r
        .findAllMatchIn(p).map(_.group(1).toInt).min
      val firstWin = """\((\d+)\) Window""".r
        .findAllMatchIn(p).map(_.group(1).toInt).min
      assert(firstAgg < firstWin,
        s"$q window must ride the aggregated frame:\n" + p.take(800))
    }
  }

  test("x191 kNN broadcasts the bounded query sample; top-k caps pre-shuffle") {
    val p = plan("x191_knn_classify")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "query sample must broadcast:\n" + p.take(800))
    assert(p.contains("WindowGroupLimit"),
      "per-query top-k must cap before the shuffle")
    // bounded sample: TakeOrderedAndProject, not a global sort
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("x195 phrase search is join-free; scan reads only id and text") {
    val p = plan("x195_phrase_search")
    assert(!p.contains("Join"), "phrase search must not join:\n" + p.take(600))
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      p.take(600))
  }

  test("x189 association rules broadcast the frequent-item prune and marginals") {
    val p = plan("x189_association_rules")
    // Apriori prune + supp_a + supp_b + n_docs all broadcast; the only
    // shuffle joins allowed are the id-keyed pair self-join
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3,
      "frequent-item side must broadcast:\n" + p.take(900))
  }

  test("x208 continuous-score AUC: no ungrouped window anywhere in the plan") {
    val p = plan("x208_continuous_auc")
    // with a distinct-per-doc score, an empty-PARTITION-BY running sum
    // would single-task-sort the corpus-sized distinct-score frame; the
    // prefix-sum path must leave every windowspec with a partition column
    // (ungrouped spec = first argument is a sort order, i.e. has ASC/DESC
    // before the first comma)
    val ungrouped = """windowspecdefinition\([^,]* (ASC|DESC)""".r
    assert(ungrouped.findFirstIn(p).isEmpty,
      "ungrouped window found:\n" + ungrouped.findFirstIn(p).getOrElse(""))
    assert(p.contains("rangepartitioning("),
      "prefix sums must range-shuffle:\n" + p.take(600))
  }

  test("scorer evals (AP, gains) keep every window partitioned too") {
    // x213/x215/x219 joined the family in round 9: best-threshold sweep,
    // Spearman rank maps, and vocab-coverage ranking all run on
    // distinct-value frames that are corpus-sized for continuous inputs —
    // same prefix-sum rule, same bounded-window exceptions
    for (name <- Seq("x192_avg_precision", "x193_gains_table",
        "x196_auc_by_source", "x213_best_threshold", "x215_spearman_rho",
        "x219_vocab_coverage", "x220_bootstrap_auc")) {
      val p = plan(name)
      // ungrouped windows are allowed ONLY over frames bounded by
      // construction: the ≤|partitions|-row offsets cumsum (ordered by
      // __pid) and x193's ≤buckets-row cumulative-capture (ordered by
      // the bucket id); anything else ungrouped is a corpus hazard
      val ungrouped = """windowspecdefinition\(([^,]*) (ASC|DESC)""".r
      val hits = ungrouped.findAllMatchIn(p).map(_.group(1)).toList
        .filterNot(c => c.startsWith("__pid") || c.startsWith("bucket"))
      assert(hits.isEmpty, s"$name has ungrouped windows:\n" + hits)
    }
  }

  test("partitioned write prunes partitions on read") {
    import spark.implicits._
    graft.streaming.Replay.withTempDir(spark, "prune") { d =>
      val dir = java.nio.file.Paths.get(d)
      Seq(("a", 1), ("b", 2), ("a", 3)).toDF("part_key", "v")
        .write.partitionBy("part_key").parquet(dir.resolve("t").toString)
      val read = spark.read.parquet(dir.resolve("t").toString)
        .filter($"part_key" === "a")
      val p = read.queryExecution.explainString(ExplainMode.fromString("formatted"))
      assert(p.contains("PartitionFilters: [isnotnull(part_key"), p.take(400))
      assert(read.count() == 2)
    }
  }

  test("x270 min-span windows are partitioned (never a global sort) " +
    "and the query side broadcasts into the positional scan") {
    val p = plan("x270_min_span_rank")
    // every window spec must partition: the next-occurrence window by
    // (query, doc, term), the rank window by query — an ungrouped
    // window here would funnel the corpus through one partition
    val ungrouped = """windowspecdefinition\(([^,]*) (ASC|DESC)""".r
    val hits = ungrouped.findAllMatchIn(p).map(_.group(1)).toList
    assert(hits.isEmpty, s"ungrouped windows:\n$hits")
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    assert(!p.contains("CartesianProduct"), "span join went cartesian")
  }

  test("x265 wand final aggregate consumes the pruned candidate set " +
    "(semi join feeds the scoring aggregate), query side broadcast") {
    val p = plan("x265_wand_topk")
    // the scoring aggregate must NOT sit directly on the postings join:
    // the candidate semi-join is what bounds the shuffled rows to the
    // pruned set — its disappearance would silently turn wandTopK back
    // into the full scorer
    assert(p.contains("LeftSemi"), "candidate semi-join missing:\n" +
      p.take(800))
    // query-term joins broadcast (human-scale side never shuffles the
    // postings on its account)
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p.take(800))
  }

  test("x278 cascade: every window partitions by query, no cartesian, " +
    "and the candidate semi-join bounds the positional stages") {
    val p = plan("x278_cascade_rank")
    val ungrouped = """windowspecdefinition\(([^,]*) (ASC|DESC)""".r
    val hits = ungrouped.findAllMatchIn(p).map(_.group(1)).toList
    assert(hits.isEmpty, s"ungrouped windows:\n$hits")
    assert(!p.contains("CartesianProduct"), "cascade went cartesian")
    // stage-2 restriction: the pair-count inputs must semi-join against
    // the candidate pool, or the reranker silently pays every match of
    // a common term again
    assert("LeftSemi".r.findAllIn(p).length >= 2, p.take(800))
  }

  test("x274 snippet reassembly is doc-keyed: only span DISCOVERY scans " +
    "the positional table, the winner slice re-tokenizes from the corpus") {
    val p = plan("x274_min_span_snippets")
    // span discovery runs ONCE at build time into the checkpointed
    // ≤ queries×k winner frame (r14: the dropped-winner gate consumes it
    // twice), so the SERVED plan must contain ZERO positional scans — a
    // positional scan here means the reassembly regressed to the full
    // positional pass the corpus-keyed path exists to avoid. (The
    // discovery side's own two-scan shape is pinned by the x270 test —
    // same coveredSpans plan, un-checkpointed.)
    val posScans =
      """\(\d+\) Scan parquet \S*graft_x274_positions""".r
        .findAllIn(p).length
    assert(posScans == 0, s"positional scans = $posScans (want 0):\n" +
      p.take(800))
    // the reassembly side reads the documents corpus, restricted by the
    // winner join BEFORE the position explode
    assert(p.contains("documents.parquet"),
      "corpus scan missing from the reassembly:\n" + p.take(800))
    assert(!p.contains("CartesianProduct"), "reassembly went cartesian")
  }

  test("x275 quantized probe partition-prunes the codes scan to the " +
    "routed cells (dynamic pruning on the cell partition column)") {
    val p = plan("x275_ivf_sq8_adc")
    // the 2-bytes/dim story holds only if the codes scan READS just the
    // probed cells' partitions — the file-level pruning must be visible
    // as a dynamic partition filter on the scan, or a refactor has
    // silently regressed the coarse pass to a full-index read
    val codesScan = p.split("\n\n")
      .filter(s => s.contains("_codes") && s.contains("Scan parquet"))
    assert(codesScan.nonEmpty, "codes scan missing from the plan")
    assert(p.contains("dynamicpruningexpression"),
      "codes scan lost its partition pruning:\n" + p.take(800))
  }

  test("x272 block-max final aggregate consumes the refined candidate " +
    "set; block-bound join broadcasts the (token, block) slice") {
    val p = plan("x272_blockmax_topk")
    // same invariant as wand's: the semi-join is what keeps the scoring
    // aggregate candidate-bounded instead of postings-wide
    assert(p.contains("LeftSemi"), "candidate semi-join missing:\n" +
      p.take(800))
    // the per-block bound slice and query terms broadcast — the
    // corpus-sized postings never shuffle on the bound join's account
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3, p.take(800))
    assert(!p.contains("CartesianProduct"))
  }

  test("x22 bloom pruning: ONE call-time sizing job, the filter builds " +
    "in-plan SIZED TO THE KEY COUNT, and the probe is native, not a UDF") {
    // the r14-era "fully lazy" form built the in-plan filter at a FIXED
    // 4M-item size — a ~4.8 MB bit buffer per partial-aggregate task
    // shuffled into one merger, measured as the r15 x22/x288/x289
    // regression. The sized form pays exactly one explicit build-side
    // count (the pre-in-plan contract) and the aggregate allocates
    // |keys|-proportional buffers; build + probe stay in-plan/native.
    import spark.implicits._
    import graft.operators.BloomPrune
    val large = (1L to 500L).map(k => (k % 50, k)).toDF("k", "v")
    val small = Seq((1L, "a"), (2L, "b")).toDF("k", "tag")
    val (pruned, meter) = JobMeter(spark)(BloomPrune.pruneLarge(large, small, "k"))
    // AQE materializes a count as up to two jobs (stage + result);
    // anything beyond that means an eager filter build leaked back in
    assert(meter.jobs >= 1 && meter.jobs <= 2,
      s"pruneLarge ran ${meter.jobs} call-time jobs (want 1-2 — the " +
        "sizing count only; the filter build must ride the consuming " +
        "action)")
    val p = pruned.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("might_contain"), "native probe missing:\n" +
      p.take(600))
    assert(p.contains("bloom_filter_agg"),
      "in-plan filter build missing:\n" + p.take(600))
    // the aggregate's estimated-items literal is the EXACT build-side
    // key count (2), not a fixed default: bloom_filter_agg(hash, est, bits)
    assert("bloom_filter_agg\\(xxhash64\\([^)]*\\), 2, 64".r
        .findFirstIn(p).isDefined,
      "filter not sized to the build-side count (want estItems=2):\n" +
        "bloom_filter_agg\\([^\\n]*".r.findFirstIn(p).getOrElse("") +
        "\n" + p.take(600))
    assert(!p.contains("UDF"), "probe regressed to a scala UDF")
  }

  test("x288/x289 incremental-dedup history contract: the key table is " +
    "read by ONE job, once, Bloom-probed directly on the relation — " +
    "history is never re-windowed") {
    // The x288 scale story ("history is touched by ONE map-only scan,
    // no history-side shuffle", Dedup.incrementalSubstrCore) was proven
    // by reading the code and enforced by nothing (r14 verdict #5). The
    // call materializes its removal set eagerly, so the key-table scan
    // is NOT in the returned frame's plan — capture the call-time
    // executions with a QueryExecutionListener and pin the contract
    // there: exactly one executed job touches the key table, that job
    // reads it exactly once, and the Bloom-probe UDF Filter sits
    // DIRECTLY on the relation (modulo Project) in the optimized plan —
    // i.e. history rows are filtered map-side on the scan; everything
    // that shuffles (the ledger aggregate, the semi-join confirm) sits
    // above the probe and handles batch-matched keys only. A regression
    // that re-windows history, reads the table twice, or floats the
    // probe above the aggregate fails here.
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Filter => LFilter, Project => LProject}
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    import graft.operators.Dedup
    val tbl = "graft_plan_subkeys"
    Dedup.buildSubstringKeys(
      Seq((1L, "a b c d"), (2L, "a b c e")).toDF("doc_id", "text"),
      "doc_id", "text", l = 3, tbl)
    // batch carries BOTH removal classes — "a b c" hits history,
    // "f x y" repeats within the batch — so neither union branch is
    // empty and AQE's empty-relation propagation cannot collapse the
    // plan (an empty branch would hide a second key-table scan)
    val (_, meter) = JobMeter(spark) {
      Dedup.incrementalSubstringDedupIndexed(spark, tbl,
          Seq((10L, "a b c f x y f x y")).toDF("doc_id", "text"),
          "doc_id", "text", l = 3)
        .collect()
    }
    def lAll(p: LogicalPlan): Seq[LogicalPlan] =
      p +: p.children.flatMap(lAll)
    def keyRels(p: LogicalPlan): Seq[LogicalRelation] = lAll(p).collect {
      case r: LogicalRelation
          if r.catalogTable.exists(_.identifier.table == tbl) => r
    }
    val qes = meter.executions
    assert(qes.nonEmpty, "listener captured no executions")
    val keyQes = qes.filter(qe => keyRels(qe.optimizedPlan).nonEmpty)
    assert(keyQes.length == 1,
      s"key table touched by ${keyQes.length} jobs (want exactly 1); " +
        s"captured ${qes.length} executions")
    val qe = keyQes.head
    // the removal-set plan references histHits TWICE (the history-hit
    // semi-join and the batch-dup anti-join), so the key relation may
    // appear twice LOGICALLY — every appearance must carry the Bloom
    // probe (the in-plan might_contain filter, fed by the 1-row
    // broadcast filter aggregate) BELOW the first Aggregate on its
    // ancestor path: map-side filtering, nothing key-table-sized ever
    // shuffles. Between the relation and the probe only Project and
    // the 1-row-filter cross join may appear.
    val rels = keyRels(qe.optimizedPlan)
    assert(rels.nonEmpty && rels.length <= 2,
      s"key-table reads in the job = ${rels.length}")
    for (rel <- rels) {
      def lPath(p: LogicalPlan): Option[List[LogicalPlan]] =
        if (p eq rel) Some(List(p))
        else p.children.view.flatMap(lPath).headOption.map(p :: _)
      val up = lPath(qe.optimizedPlan)
        .getOrElse(fail("relation unreachable")).reverse.drop(1)
      val probeIdx = up.indexWhere {
        case f: LFilter => f.condition.toString.contains("might_contain")
        case _ => false
      }
      val aggIdx = up.indexWhere(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Aggregate])
      assert(probeIdx >= 0,
        "Bloom-probe might_contain filter missing above the key " +
          s"relation: ${up.map(_.nodeName).mkString(" <- ")}")
      assert(aggIdx < 0 || probeIdx < aggIdx,
        s"Bloom probe (pos $probeIdx) floated above the ledger " +
          s"aggregate (pos $aggIdx): " +
          up.map(_.nodeName).mkString(" <- "))
      // nothing heavier than Project / the 1-row cross join sits
      // between the scan and the probe
      for (n <- up.take(probeIdx)) n match {
        case _: LProject => ()
        case _: org.apache.spark.sql.catalyst.plans.logical.Join => ()
        case other => fail(s"unexpected ${other.nodeName} between the " +
          "key scan and its Bloom probe")
      }
    }
    // PHYSICALLY the table is scanned once: the second logical
    // reference resolves to a ReusedExchange over the first scan's
    // Bloom-filtered partial aggregate (AQE exchange reuse — verified
    // in the final adaptive plan). Walk the executed plan, descending
    // into query stages but not into reuse nodes, and count FileScans
    // of the key table.
    import org.apache.spark.sql.execution.{SparkPlan, FileSourceScanExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val seenStages = scala.collection.mutable.Set[Int]()
    def phys(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => p +: phys(a.executedPlan)
      case q: QueryStageExec =>
        if (seenStages.add(q.id)) p +: phys(q.plan) else Seq(p)
      case _: ReusedExchangeExec => Seq(p)
      case _ => p +: p.children.flatMap(phys)
    }
    val physScans = phys(qe.executedPlan).collect {
      case f: FileSourceScanExec
          if f.tableIdentifier.exists(_.table == tbl) => f
    }
    assert(physScans.length == 1,
      s"physical key-table scans = ${physScans.length} (want 1 — " +
        "exchange reuse lost?)")
  }

  test("ksTest/mannWhitney/gini never funnel a value-keyed frame through " +
      "a single-partition window (distributed prefix sums, r15 verdict #6)") {
    // The unbounded-domain CDF/rank passes must ride globalPrefixSums /
    // globalIndexBy, whose offsets need no window at all: a partition-less
    // WindowExec anywhere in these plans funnels through one task (over
    // the groupBy(value) frame it is the 100 TB scale-killer) and logs
    // `No Partition Defined` on every run.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.window.WindowExec
    def all(p: SparkPlan): Seq[SparkPlan] = p +: p.children.flatMap(all)
    for (q <- Seq("x140_ks_test", "x142_mann_whitney",
        "x146_gini_concentration")) {
      val df = Registry.byName(q).run(spark, sf)
      val globalWindows = all(df.queryExecution.sparkPlan).collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      assert(globalWindows.isEmpty,
        s"$q has a single-partition WindowExec:\n" +
          globalWindows.map(_.treeString.take(1500)).mkString("\n"))
    }
  }

  test("Indexing helpers range-shuffle at the session width, not a literal") {
    // globalIndex / globalIndexBy / globalPrefixSums / zoneMap size their
    // range exchange from spark.sql.shuffle.partitions (they used a
    // literal 32 before)
    val width = spark.conf.get("spark.sql.shuffle.partitions")
    val byNum = """rangepartitioning\(.*, (\d+)\), REPARTITION_BY_NUM""".r
    for (q <- Seq("x48_global_index", "x56_zone_map", "x140_ks_test",
        "x142_mann_whitney", "x146_gini_concentration")) {
      val p = plan(q)
      val widths = byNum.findAllMatchIn(p).map(_.group(1)).toSeq
      assert(widths.nonEmpty, s"$q: no range repartition:\n" + p.take(800))
      assert(widths.forall(_ == width),
        s"$q range-shuffles at ${widths.mkString(",")}, session width $width")
    }
  }
}
