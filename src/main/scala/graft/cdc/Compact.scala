package graft.cdc

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

final case class CompactStats(filesBefore: Long, filesAfter: Long, bytesBefore: Long)

/** Small-file compaction for an append-mode changelog sink.
  *
  * Every populate batch / streaming trigger appends its own parquet files
  * (one per write task), so a long-running CDC sink accumulates files at
  * O(batches × tasks) — at 100 TB the FILE COUNT, not the byte count,
  * becomes the scan bottleneck: driver-side listing, per-file task
  * scheduling, and row-group overhead all scale with it. The reference
  * never faces this (SQL Server owns its pages); a parquet-backed sink
  * must re-pack periodically.
  *
  * Strategy: one global `repartitionByRange` on (commit_date, changelog_id)
  * sized to `targetBytes` chunks — each output file covers a contiguous id
  * range inside one date partition, so per-date file counts stay
  * proportional to per-date data (no single-task-per-date funnel) and the
  * id-ordered layout gives parquet min/max stats that prune id- and
  * time-range reads to single files.
  *
  * The swap is READER-SAFE via [[SinkLayout]]'s version pointer: the
  * repacked copy is published as the sink's next version by one atomic
  * rename of its stage ([[graft.Versions]]) — the live directory is never
  * renamed or deleted out from under a planned query, and the superseded
  * version is retained for one further compaction cycle as the in-flight
  * readers' grace copy. No maintenance window needed.
  */
object Compact {

  val DefaultTargetBytes: Long = 128L << 20

  /** Re-pack the sink at `path` into ~`targetBytes` files, preserving rows
    * exactly, and publish the repacked copy as the sink's new current
    * version through [[SinkLayout.swapVersion]] (crash- and reader-safe).
    * Returns before/after file counts for observability. */
  def compactSink(
      spark: SparkSession,
      path: String,
      targetBytes: Long = DefaultTargetBytes): CompactStats = {
    val (before, nextDir) = SinkLayout.swapVersion(spark, path) { (live, liveFiles) =>
      val n = math.max(1L, (liveFiles.map(_.getLen).sum + targetBytes - 1) / targetBytes).toInt
      (live
        .repartitionByRange(n, col("commit_date"), col("changelog_id"))
        .sortWithinPartitions(col("commit_date"), col("changelog_id")), liveFiles)
    }
    val after = SinkLayout.parquetFiles(SinkLayout.fs(spark, path), nextDir)
    CompactStats(before.size.toLong, after.size.toLong, before.map(_.getLen).sum)
  }
}
