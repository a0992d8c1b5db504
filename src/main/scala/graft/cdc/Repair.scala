package graft.cdc

import java.time.LocalDate

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Surgical PARTITION BACKFILL: re-create one damaged/lost `commit_date`
  * partition of a changelog sink from the change feed, byte-identical to
  * what was lost — the operational capability every partitioned pipeline
  * needs (a bad deploy corrupts a day; you repair THE DAY, not replay
  * history).
  *
  * Why a day is repairable in isolation: surrogate ids are assigned by a
  * DETERMINISTIC total sort led by commit_time
  * (ChangelogBuilder.sortColumns ≙ the reference's insert ORDER BY,
  * usp_cdc_populate_changelog.sql:390-394), so a day's rows form an
  * id-CONTIGUOUS block whose offset is the highest id on earlier days —
  * recoverable from the surviving partitions, and unchanged by maintenance
  * that never reassigns ids (compaction, retention). And the changelog
  * transform is transaction-local (pairing groups share one commit_time;
  * sentinels are row-local), so building from the day-windowed feed equals
  * restricting the full build to the day.
  *
  * The offset rule's limits: with a retention cutoff active and no visible
  * row before the day, the expired days may have held the offset — the
  * repair refuses; and a forget that removed the highest-id row(s) before
  * the day makes the surviving max too low — not detectable from the sink.
  *
  * Scale shape: the repair reads the feed pruned to ONE day (the window
  * predicate pushes to the scan like every windowed populate), takes the
  * surviving prefix's max id with a partition-pruned aggregate, and commits
  * through the populate's journal ([[StagedAppend.stageAndPublish]]) —
  * never rewrites healthy partitions. The dropped day took rows of earlier
  * commits with it, whose commit-record entries may then name a
  * `created_dt` no row holds any more; the repair therefore rebuilds the
  * record from the repaired sink ([[Checkpoint.rebuild]], one grouped
  * aggregate) instead of only adding its own entry. Both scans are off the
  * populate's hot path.
  */
object Repair {

  /** Damage injection for drills/tests: drop a whole `commit_date`
    * partition directory from the CURRENT data version. */
  def dropDayPartition(spark: SparkSession, sinkPath: String, day: LocalDate): Boolean = {
    val fs = SinkLayout.fs(spark, sinkPath)
    fs.delete(new Path(SinkLayout.dataDir(spark, sinkPath), s"commit_date=$day"), true)
  }

  /** Re-populate exactly `day` from `feed` into the sink. Idempotence
    * guard: refuses when the partition still exists (a repair over live
    * rows would duplicate ids — drop first, repair second).
    *
    * HWM guard: the day window is additionally bounded at the sink's
    * populate high-water mark, or repair would re-insert feed rows the
    * last populate never reached (an intra-day `toDate`), breaking id
    * contiguity and the next resume window. The HWM is read from the
    * SURVIVING sink in the same aggregate as the id offset — which means
    * the NEWEST day (the HWM's own day) is only repairable with
    * `originalHwm`, the populate HWM recorded before the damage: with
    * that partition gone, the surviving max(commit_time) sits on an
    * earlier day and cannot recover where the lost day's window ended. */
  def repairDay(
      spark: SparkSession,
      feed: DataFrame,
      cfg: CdcTableConfig,
      sinkPath: String,
      day: LocalDate,
      originalHwm: Option[java.sql.Timestamp] = None): Long = {
    StagedAppend.repair(spark, sinkPath)
    val fs = SinkLayout.fs(spark, sinkPath)
    val partDir = new Path(SinkLayout.dataDir(spark, sinkPath), s"commit_date=$day")
    require(!fs.exists(partDir),
      s"partition commit_date=$day still exists — drop it before repairing")
    // ONE sink aggregate yields both control-plane scalars: the id offset
    // (the max id on EARLIER days — the filter prunes partitions) and the
    // surviving HWM (like populate's own sink snapshot, so the two can
    // never disagree)
    val dayLit = lit(java.sql.Date.valueOf(day))
    val snap = SinkLayout.read(spark, sinkPath).agg(
      max(when(col("commit_date") < dayLit, col("changelog_id"))).as("__offset"),
      max(col("commit_time")).as("__hwm")).head()
    val offset =
      if (!snap.isNullAt(0)) snap.getLong(0)
      else {
        val cutoff = Retention.activeCutoff(fs, sinkPath)
        require(cutoff.isEmpty, s"no row before commit_date=$day is visible " +
          s"under the retention cutoff ${cutoff.get} — the expired days' ids are unknown")
        0L
      }
    val hwm = originalHwm.getOrElse {
      val surviving = snap.getTimestamp(1)
      require(surviving != null &&
          !surviving.toLocalDateTime.toLocalDate.isBefore(day.plusDays(1)),
        s"commit_date=$day is not strictly before the surviving HWM " +
          s"($surviving) — repairing the newest day needs originalHwm, the " +
          "populate HWM recorded before the damage")
      surviving
    }
    val windowed = feed
      .where(to_date(col("commit_time")) === dayLit && col("commit_time") <= lit(hwm))
      .cache()
    val n =
      try StagedAppend.stageAndPublish(spark, windowed, cfg, sinkPath, offset)
      finally windowed.unpersist()
    Checkpoint.rebuild(spark, sinkPath)
    n
  }
}
