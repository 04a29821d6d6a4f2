package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic global row numbering WITHOUT a single-partition window —
  * the scalable replacement for `row_number() OVER (ORDER BY k)`, whose
  * empty PARTITION BY funnels the entire dataset through one task.
  *
  * Shape: range-repartition on the key (ordered ranges → ascending partition
  * ids) → per-partition local row_number (parallel) → per-partition counts
  * (tiny) → exclusive offsets over those ≤ |partitions| counts (no
  * window) → broadcast the offsets back. The result equals the global
  * row_number for a UNIQUE key regardless of where the sampled range
  * boundaries land. At 100 TB this is
  * one range shuffle + one broadcast, with every heavy step parallel. */
object Indexing {

  /** Zone-map skipping index: lay rows out in `orderCol` order, cut the
    * stream into fixed-size blocks, and record per-block min/max for each
    * stat column — the data-skipping metadata a lakehouse keeps per file
    * (Delta/Iceberg column stats). A predicate on a stat column can then
    * skip every block whose [min,max] misses its range; on a layout
    * clustered by `orderCol` a correlated stat column prunes most blocks.
    *
    * 100 TB design: block assignment reuses [[globalIndex]] (range shuffle +
    * broadcast offsets, no single-partition window); the stats are one
    * groupBy over |rows|/blockSize groups with map-side combine. */
  def zoneMap(df: DataFrame, orderCol: String, statCols: Seq[String],
      blockSize: Int, partitions: Option[Int] = None): DataFrame = {
    require(blockSize > 0, "blockSize must be positive")
    require(statCols.nonEmpty, "need at least one stat column")
    globalIndex(df, orderCol, partitions)
      .withColumn("block_id", expr(s"(global_idx - 1) div $blockSize"))
      .groupBy("block_id")
      .agg(count(lit(1)).as("n_rows"),
        statCols.flatMap(c => Seq(min(col(c)).as(s"${c}_min"),
          max(col(c)).as(s"${c}_max"))): _*)
  }

  /** Pruning decision against a zone map: `would_scan` is false when the
    * block's [min,max] for `statCol` provably misses [lo, hi). */
  def pruneBlocks(zoneMap: DataFrame, statCol: String,
      lo: org.apache.spark.sql.Column, hi: org.apache.spark.sql.Column): DataFrame =
    zoneMap.withColumn("would_scan",
      !(col(s"${statCol}_max") < lo || col(s"${statCol}_min") >= hi))

  /** Add `global_idx` (1-based, ordered by `orderCol`, which must be
    * unique). `partitions` sets the range shuffle width; by default it is
    * the session's `spark.sql.shuffle.partitions`. */
  def globalIndex(df: DataFrame, orderCol: String,
      partitions: Option[Int] = None): DataFrame =
    globalIndexBy(df, Seq(orderCol), partitions)

  /** [[globalIndex]] over a COMPOSITE ordering (e.g. ts with a unique id
    * tiebreak) — same range-shuffle + local-rank + broadcast-offsets
    * shape, no key-packing arithmetic and no overflow risk. The column
    * tuple must be unique across rows. */
  def globalIndexBy(df: DataFrame, orderCols: Seq[String],
      partitions: Option[Int] = None): DataFrame = {
    require(orderCols.nonEmpty, "need at least one order column")
    val parts = df.repartitionByRange(width(df, partitions),
        orderCols.map(col): _*)
      .withColumn("__pid", spark_partition_id())
    val wLocal = Window.partitionBy("__pid").orderBy(orderCols.map(col): _*)
    // persist: the offsets aggregate and the data-side join both consume
    // this frame, and repartitionByRange SAMPLES its boundaries — two
    // independent executions can pick different ranges, which desyncs
    // __pid between the offsets and the local ranks (duplicated/gapped
    // indices). One materialization pins one boundary set.
    val local = parts.withColumn("__rn", row_number().over(wLocal)).persist()
    // |partitions| rows: cumulative count of all earlier partitions
    val offsets = exclusiveOffsets(
      local.groupBy("__pid").agg(count(lit(1)).as("__t_n")), Nil, Seq("n"))
      .withColumnRenamed("__o_n", "__off")
    local.join(broadcast(offsets), "__pid")
      .withColumn("global_idx", col("__off") + col("__rn"))
      .drop("__pid", "__rn", "__off")
  }

  /** Distributed EXCLUSIVE running sums without a single-partition window
    * — the prefix-sum sibling of [[globalIndexBy]], built for the
    * scorer-eval family's running CDFs (`SUM(x) OVER (ORDER BY score ROWS
    * UNBOUNDED PRECEDING)` with an empty PARTITION BY funnels the whole
    * frame through one task; on a CONTINUOUS score column the
    * distinct-score frame is corpus-sized, so that is a single-task sort
    * of ~n rows at 100 TB).
    *
    * Shape: range-repartition on (groupCols, orderExprs) → per-partition
    * local exclusive prefix sums (parallel; the window is partitioned by
    * the physical partition id) → per-(partition, group) totals (tiny) →
    * per-group exclusive offsets over partition ids (≤ |partitions|
    * entries per group, no window) → broadcast the offsets back. Like
    * globalIndexBy, the materialization pin (persist) is REQUIRED:
    * repartitionByRange samples its boundaries, and two independent
    * executions can pick different ranges, desyncing `__pid` between the
    * offsets and the local sums. Exact for integral value columns (Long sums).
    *
    * Appends one `<v>_excl` Long column per entry of `valueCols` — the
    * sum of that column over all STRICTLY EARLIER rows in
    * (groupCols, orderExprs) order within the row's group. The ordering
    * tuple must be unique per group (callers pass distinct-score frames);
    * inclusive sums are `<v>_excl + <v>`. */
  def globalPrefixSums(df: DataFrame, groupCols: Seq[String],
      orderExprs: Seq[org.apache.spark.sql.Column], valueCols: Seq[String],
      partitions: Option[Int] = None): DataFrame = {
    require(orderExprs.nonEmpty, "need at least one order expression")
    require(valueCols.nonEmpty, "need at least one value column")
    val rangeKeys = groupCols.map(col) ++ orderExprs
    val parts = df.repartitionByRange(width(df, partitions), rangeKeys: _*)
      .withColumn("__pid", spark_partition_id())
    val wLocal = Window
      .partitionBy(("__pid" +: groupCols).map(col): _*)
      .orderBy(orderExprs: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = parts.select(col("*") +: valueCols.map(v =>
      coalesce(sum(col(v)).over(wLocal), lit(0L)).as(s"__l_$v")): _*)
      .persist()
    val offsets = exclusiveOffsets(local
      .groupBy(("__pid" +: groupCols).map(col): _*)
      .agg(sum(col(valueCols.head)).as(s"__t_${valueCols.head}"),
        valueCols.tail.map(v => sum(col(v)).as(s"__t_$v")): _*),
      groupCols, valueCols)
    local.join(broadcast(offsets), "__pid" +: groupCols)
      .select(df.columns.map(col) ++ valueCols.map(v =>
        (col(s"__o_$v") + col(s"__l_$v")).as(s"${v}_excl")): _*)
  }

  /** Per (partition, group) EXCLUSIVE offsets `__o_<v>`: the sum of the
    * totals `__t_<v>` of every earlier partition id of the same group.
    * The input has one row per (partition, group) — ≤ |partitions| per
    * group — so each group collects its totals into one array and every
    * entry sums the entries with smaller ids (≤ |partitions|² additions
    * per group). Unlike a window ordered by `__pid` this needs no
    * partition-less WindowExec, which funnels through one task and logs
    * `No Partition Defined` on every run, and unlike a self-join on
    * `earlier.__pid < __pid` it plans no nested-loop join. */
  private def exclusiveOffsets(totals: DataFrame, groupCols: Seq[String],
      valueCols: Seq[String]): DataFrame = {
    val parts = col("__parts")
    val entry = struct(col("__pid") +: valueCols.map(v => col(s"__t_$v")): _*)
    totals.groupBy(groupCols.map(col): _*)
      .agg(collect_list(entry).as("__parts"))
      .select(groupCols.map(col) :+ explode(transform(parts, x =>
        struct(x("__pid").as("__pid") +: valueCols.map(v =>
          aggregate(filter(parts, e => e("__pid") < x("__pid")), lit(0L),
            (acc, e) => acc + coalesce(e(s"__t_$v"), lit(0L)))
            .as(s"__o_$v")): _*))).as("__e"): _*)
      .select(groupCols.map(col) ++ (col("__e.__pid") +:
        valueCols.map(v => col(s"__e.__o_$v"))): _*)
  }

  /** The range shuffle width: the caller's, else the session's. */
  private def width(df: DataFrame, partitions: Option[Int]): Int =
    partitions.getOrElse(graft.SessionConf.shufflePartitions(df.sparkSession))
}
