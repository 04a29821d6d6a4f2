package graft

import org.apache.spark.sql.execution.ExplainMode

/** Dev tool behind the PLANS.md audit discipline: print the physical plan
  * of registry queries without touching test code.
  *
  * {{{
  *   sbt "runMain graft.PlanDump /root/testdata/sf0.001 x114_label_similarity"
  *   sbt "runMain graft.PlanDump /root/testdata/sf0.001 formatted x115_native_asof"
  * }}}
  *
  * First arg = SF dir; an optional explain mode (`simple`, `formatted`,
  * `extended`, `codegen`, `cost`) follows; every remaining arg is a query
  * name from [[graft.queries.Registry]]. The session is the one Bench
  * and Verify run on ([[GraftSession]], no SQL extensions), so the dump
  * shows the plans they execute.
  */
object PlanDump {
  private val Modes = Set("simple", "formatted", "extended", "codegen", "cost")

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <sfDir> [mode] <query>...")
    val sfDir = args(0)
    val (mode, names) =
      if (Modes(args(1))) (args(1), args.drop(2)) else ("formatted", args.drop(1))
    val spark = GraftSession("local[4]", "4")
    try names.foreach { n =>
      val df = queries.Registry.byName(n).run(spark, sfDir)
      println(s"==== $n ====")
      println(df.queryExecution.explainString(ExplainMode.fromString(mode)))
    } finally spark.stop()
  }
}
