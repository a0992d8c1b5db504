package graft.cdc

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

final case class ForgetStats(rowsBefore: Long, rowsDropped: Long)

/** Subject deletion ("right to be forgotten") for a changelog sink: every
  * row whose key matches the forget set is removed from the CURRENT sink
  * version, across every date partition, and the filtered copy is
  * published through the same versioned staged swap as compaction —
  * reader-safe (in-flight readers keep the superseded version for one
  * grace cycle), crash-safe (nothing is visible until the single
  * stage→version rename), and idempotent (a re-run stages afresh).
  *
  * This is the row-level complement of [[Retention]]'s time-based
  * partition sweeps: compliance deletion is keyed on subject IDENTITY and
  * cuts across time, so it must rewrite, not drop partitions. Surviving
  * rows keep their changelog ids UNCHANGED — id stability across sink
  * maintenance is the resume/state contract (`cdc_state_after_retention`
  * proves it for retention; `cdc_forget_keys` grades it here), so a state
  * fold or HWM resume continues over the rewritten sink with no seam.
  *
  * Scale shape: one filtered scan of the live version; the forget set
  * broadcasts (a deletion request batch is small by nature) into a
  * LEFT ANTI join, and the rewrite re-partitions by `commit_date` so each
  * date directory is written by the tasks owning its data (the
  * partitioned-append pattern — never one task per date). The before and
  * kept row counts are observed on that one write — no extra count job.
  * Removing rows can lower the sink's HWM and max id, so the new version's
  * commit record is recounted from the rows written (one grouped aggregate
  * over the staged copy).
  */
object Forget {

  /** Remove every row of `forgetSet`'s keys from the visible sink and
    * publish the rest as the new version. Days the retention cutoff already
    * hides are neither counted nor carried forward. */
  def forgetKeys(
      spark: SparkSession,
      path: String,
      keyCols: Seq[String],
      forgetSet: DataFrame): ForgetStats = {
    val before = Observation()
    val kept = Observation()
    SinkLayout.swapVersion(spark, path, recount = true) { (live, _) =>
      (live.observe(before, count(lit(1)).as("n"))
        .join(broadcast(forgetSet.select(keyCols.map(col): _*).distinct()), keyCols, "left_anti")
        .observe(kept, count(lit(1)).as("n"))
        .repartition(col("commit_date")), ())
    }
    // when the cutoff hides every day, the observations come back
    // without a value
    def rows(o: Observation): Long = o.get.get("n").fold(0L)(_.asInstanceOf[Long])
    val n = rows(before)
    ForgetStats(n, n - rows(kept))
  }
}
