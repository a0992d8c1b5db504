package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec

/** Physical-plan audit over the graded queries: per query, the counts that
  * matter at 100 TB — file scans (scan reuse), Window operators
  * (single-partition funnels show up here), and shuffles. Run with an
  * optional query-name filter; add `-v` to dump the formatted plan.
  *
  * {{{ sbt "runMain graft.PlanAudit [-v] [query ...]" }}}
  */
object PlanAudit extends AdaptiveSparkPlanHelper {

  /** Operator counts of one executed plan; `cached` counts reads of a
    * cached relation. */
  private[graft] final case class Shape(scans: Int, windows: Int, shuffles: Int, cached: Int)

  /** Walk the plan tree, subqueries included, through AQE's
    * `AdaptiveSparkPlanExec` and its query stages. Counted once where it
    * runs: a `ReusedExchangeExec` is a leaf (neither a shuffle nor its
    * lineage re-executes), and so is a cached relation's
    * `InMemoryTableScanExec` (the lineage that built the cache ran once,
    * not per read). */
  private[graft] def shape(plan: SparkPlan): Shape = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    Shape(
      scans = nodes.count(_.isInstanceOf[FileSourceScanExec]),
      windows = nodes.count(_.isInstanceOf[WindowExec]),
      shuffles = nodes.count(_.isInstanceOf[ShuffleExchangeExec]),
      cached = nodes.count(_.isInstanceOf[InMemoryTableScanExec]))
  }

  def main(args: Array[String]): Unit = {
    val verbose = args.contains("-v")
    val only = args.filterNot(_ == "-v").toSet
    val spark = Verify.localSession("4", "ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      // the populate roundtrips execute full sink writes just to build
      // their read-back plan — audit them only when asked by name
      val sideEffecting = name.startsWith("cdc_populate")
      if ((only.isEmpty && !sideEffecting) || only.contains(name)) {
        val qe = fn(spark, dir).queryExecution
        val s = shape(qe.executedPlan)
        val cacheNote = if (s.cached > 0) s" (reads ${s.cached} cached relations)" else ""
        println(f"$name%-28s scans=${s.scans}%-3d windows=${s.windows}%-3d " +
          f"shuffles=${s.shuffles}$cacheNote")
        if (verbose) println(qe.explainString(org.apache.spark.sql.execution.FormattedMode))
      }
    }
    spark.stop()
  }
}
