package graft.cdc

import java.time.LocalDate

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Changelog retention — the parquet restatement of SQL Server's
  * `sys.sp_cdc_cleanup_change_table` (the cleanup job every CDC deployment
  * runs next to the capture job; the reference's changelog otherwise grows
  * forever).
  *
  * The sweep is PARTITION-LEVEL ONLY: `commit_date=<d>` directories
  * strictly older than the cutoff leave the logical table; the boundary day
  * is always retained whole. The cutoff therefore truncates DOWN to day
  * granularity — deliberately the same day-granularity contract
  * usp_cdc_query_data applies to its time bounds (:52-57), and deliberately
  * NEVER a row-level rewrite: at 100 TB a retention pass that rewrites data
  * is a compaction in disguise, while a partition expiry is O(partitions)
  * metadata work. Surviving rows keep their changelog_ids untouched (ids
  * are assigned at append and never reassigned), so downstream id-based
  * consumers — incremental state folds keyed on last_change_id, SCD2 id
  * bounds — are unaffected.
  *
  * READER GRACE (mirrors [[SinkLayout]]'s one-superseded-version rule for
  * compaction): expiry is TWO-PHASE. Phase 1 advances the `_retention.cutoff`
  * marker at the sink root — the visibility flip: [[SinkLayout.read]]
  * applies `commit_date >= cutoff` so every NEW read partition-prunes the
  * expired days without ever listing into them. The directories themselves
  * stay on disk, so a reader that resolved (and planned) BEFORE the sweep
  * keeps its files. Phase 2 — the NEXT retention run — physically deletes
  * directories hidden by the previous cycle; only a reader holding a plan
  * across two retention cycles can lose files, the same documented grace
  * window compaction gives. The underscore-prefixed marker is invisible to
  * Spark's listing and survives compaction (repacks carry the root, and
  * [[Compact]] drops already-hidden days during the repack — safe because
  * the superseded version IS the grace copy).
  *
  * Resolution goes through [[SinkLayout.dataDir]], so retention sweeps
  * the current version whichever one it is. Run it from the sink's
  * single writer like populate/compaction. The sink's commit record needs
  * no write here: [[Checkpoint]]'s fold skips the entries before the
  * cutoff.
  */
object Retention {

  private val CutoffName = "_retention.cutoff"

  private[cdc] def cutoffPath(root: String): Path = new Path(root, CutoffName)

  /** The active retention cutoff (minimum retained day), if a sweep ever
    * ran on this sink. */
  def activeCutoff(fs: FileSystem, root: String): Option[LocalDate] = {
    val p = cutoffPath(root)
    if (!fs.exists(p)) None
    else Some(LocalDate.parse(SinkLayout.readLines(fs, p).mkString.trim))
  }

  /** [[activeCutoff]] resolving the filesystem from the session (the
    * public entry point for callers outside the cdc package). */
  def activeCutoff(spark: SparkSession, root: String): Option[LocalDate] =
    activeCutoff(SinkLayout.fs(spark, root), root)

  /** Expire all `commit_date` partitions strictly before `cutoff`'s day.
    * Returns the NEWLY expired partition dates (gone from the logical table
    * as of this call); their directories are physically deleted one
    * retention cycle later (reader grace — see the class doc). The cutoff
    * never moves backward. */
  def expire(spark: SparkSession, path: String, cutoff: LocalDate): Seq[LocalDate] = {
    val fs = SinkLayout.fs(spark, path)
    val dataDir = new Path(SinkLayout.dataDir(spark, path))
    if (!fs.exists(dataDir)) return Nil
    val prev = activeCutoff(fs, path)
    // monotone: a lagging caller can only re-affirm, never resurrect
    val eff = prev.filter(_.isAfter(cutoff)).getOrElse(cutoff)
    val PartRe = "commit_date=(\\d{4}-\\d{2}-\\d{2})".r
    val parts = fs.listStatus(dataDir).toSeq
      .flatMap(st => st.getPath.getName match {
        case PartRe(d) => Some((st.getPath, LocalDate.parse(d)))
        case _ => None
      })
    // phase 2: directories hidden by the PREVIOUS cycle are past grace
    prev.foreach(p => parts.filter(_._2.isBefore(p))
      .foreach { case (dir, _) => fs.delete(dir, true) })
    // phase 1: the visibility flip for everything expired as of THIS call
    if (prev.forall(eff.isAfter))
      SinkLayout.writeLines(fs, cutoffPath(path), Seq(eff.toString))
    parts.collect {
      case (_, d) if d.isBefore(eff) && prev.forall(!d.isBefore(_)) => d
    }.sorted
  }
}
