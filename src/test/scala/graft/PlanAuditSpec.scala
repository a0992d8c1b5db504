package graft

import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** PlanAudit counts operators on the executed plan tree: through AQE,
  * once per execution — not per reused exchange or per cached read. */
class PlanAuditSpec extends AnyFunSuite with SparkFixture {

  private def parquetRange(n: Long): org.apache.spark.sql.DataFrame = {
    val dir = TempDirs.create("graft_planaudit").resolve("t").toString
    spark.range(n).select(col("id"), (col("id") % 7).as("k")).write.parquet(dir)
    spark.read.parquet(dir)
  }

  test("a reused exchange counts neither as a shuffle nor as a second scan") {
    val agg = parquetRange(100).groupBy("k").agg(count(lit(1)).as("n"))
    val q = agg.join(agg.withColumnRenamed("n", "m"), "k")
    assert(q.collect().length == 7)
    val plan = q.queryExecution.executedPlan
    val reused = PlanAudit.collectWithSubqueries(plan) { case r: ReusedExchangeExec => r }
    assert(reused.nonEmpty, s"the self-join must reuse its aggregate's exchange:\n$plan")
    val s = PlanAudit.shape(plan)
    assert((s.scans, s.shuffles) == (1, 1), s"$s\n$plan")
  }

  test("a window is counted through AQE, before and after execution") {
    val q = parquetRange(50)
      .withColumn("r", row_number().over(Window.partitionBy("k").orderBy("id")))
    assert(PlanAudit.shape(q.queryExecution.executedPlan) == PlanAudit.Shape(1, 1, 1, 0))
    q.collect()
    assert(PlanAudit.shape(q.queryExecution.executedPlan) == PlanAudit.Shape(1, 1, 1, 0))
  }

  test("the lineage that built a cache is not counted as re-executed") {
    val cached = parquetRange(60).groupBy("k").agg(count(lit(1)).as("n")).cache()
    try {
      cached.count()
      val q = cached.where(col("n") > 0)
      val s = PlanAudit.shape(q.queryExecution.executedPlan)
      assert(s == PlanAudit.Shape(scans = 0, windows = 0, shuffles = 0, cached = 1),
        s"$s\n${q.queryExecution.executedPlan}")
    } finally cached.unpersist()
  }
}
