package graft.cdc

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

final case class QueryDataResult(warning: String, data: DataFrame)

/** ≙ usp_cdc_query_data: resolve changelog by name, compute a freshness
  * warning, return the day-granularity time-range scan.
  */
object QueryData {

  /** @param fromDate inclusive, truncated to day (usp_cdc_query_data.sql:52-53)
    * @param toDate   default now (:24); the reference truncates it to day too,
    *                 so the upper bound is MIDNIGHT of to_date (:54) — kept
    *                 (it IS the reference's behavior); `fullDays=true` extends
    *                 the bound to the end of to_date's day instead. */
  def run(
      spark: SparkSession,
      catalog: CdcCatalog,
      table: String,
      fromDate: Timestamp,
      toDate: Option[Timestamp] = None,
      compatMode: Boolean = false,
      fullDays: Boolean = false): QueryDataResult = {

    val to = toDate.getOrElse(new Timestamp(System.currentTimeMillis()))
    // :26-30
    if (!fromDate.before(to)) throw CdcErrors.fromNotBeforeTo(fromDate.toString, to.toString)
    val entry = catalog.resolve(table) // :33-38, throws unknownTable

    // resolve through the version pointer — safe against a concurrent
    // compaction swapping the data copy under this query — under the
    // sink's declared columns, so no footer-inference job runs before the
    // caller's action
    val log = SinkLayout.read(spark, entry.changelogPath,
      Some(PopulateChangelog.sinkSchema(entry.config)))

    // freshness watermark (:40-46), folded from the sink's commit record
    // with no Spark job. Reference quirk: lexicographic MAX over mm/dd/yyyy
    // strings (wrong across year boundaries) — compatMode only.
    val freshness = Checkpoint.freshness(spark, entry.changelogPath, compatMode)
    val warning = s"Data in this table was last refreshed on: $freshness. " +
      "If more recent data is needed contact the data engineering team."

    // day-granularity inclusive bounds (:49-57); partition pruning on
    // commit_date makes this an index-range-scan analog at scale.
    val lower = to_date(lit(fromDate)).cast("timestamp")
    val upper0 = to_date(lit(to)).cast("timestamp")
    val upper = if (fullDays) upper0 + expr("INTERVAL 1 DAY") - expr("INTERVAL 1 MICROSECOND") else upper0
    val data = log
      .where(col("commit_date").between(to_date(lit(fromDate)), to_date(lit(to))))
      .where(col("commit_time") >= lower && col("commit_time") <= upper)

    QueryDataResult(warning, data)
  }
}
