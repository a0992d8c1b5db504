package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.cdc.{CdcTableConfig, Checkpoint, StagedAppend}

/** Structured-Streaming populate mode (SURVEY §2.11, §7.2-6).
  *
  * The reference is an incremental pipeline run as repeated procedure
  * invocations, each consuming one LSN window with the sink as its
  * checkpoint (usp_cdc_populate_changelog.sql:200-211, :241-253). The
  * streaming-native restatement: `readStream` discovers new feed files,
  * `Trigger.AvailableNow` drains what exists and stops (≙ one procedure
  * invocation), the stream's `checkpointLocation` replaces the LSN-window
  * bookkeeping (exactly-once file discovery), and each micro-batch runs the
  * same build→ids→journaled append as the batch path, with the id offset
  * continuing from the sink's commit record.
  *
  * At scale this is the preferred ingestion mode: micro-batches bound the
  * id-assignment sort (SURVEY §7.5.4), file discovery is incremental
  * (no re-scan of consumed input), and the sink stays append-only,
  * partitioned by commit_date.
  */
object StreamingPopulate {

  /** Drain all currently-available feed files into the changelog, then
    * return — one bounded foreachBatch drive ([[StateStream.foldFiles]]).
    * Re-invoke after new files land (≙ re-running the procedure);
    * `checkpointLocation` guarantees each file is consumed exactly once.
    *
    * @param maxFilesPerTrigger bounds micro-batch size (id-sort memory);
    *                           None = one batch for all available files
    * @param postSnapshotHook test-only race injection, invoked per
    *        micro-batch AFTER the sink-state snapshot (HWM + id offset)
    *        and BEFORE the append — the window where concurrent sink
    *        maintenance (compaction's version flip) actually interleaves
    *        with a running stream. Mirrors StagedAppend's hooks.
    * @return total rows appended across this invocation's micro-batches
    */
  def runAvailableNow(
      spark: SparkSession,
      feedPath: String,
      feedSchema: StructType,
      cfg: CdcTableConfig,
      changelogPath: String,
      checkpointLocation: String,
      maxFilesPerTrigger: Option[Int] = None,
      postSnapshotHook: Long => Unit = _ => ()): Long = {
    // Marker keys are scoped to the CHECKPOINT identity, not the bare
    // batchId: a different checkpoint writing into the same sink restarts
    // batchIds at 0, and a bare-id marker from an earlier run would make
    // its batches silently no-op (data loss).
    val ckptKey = java.security.MessageDigest.getInstance("MD5")
      .digest(checkpointLocation.getBytes("UTF-8")).map("%02x".format(_)).mkString
    @volatile var appended = 0L
    StateStream.foldFiles(spark, feedPath, feedSchema, checkpointLocation,
        maxFilesPerTrigger) { (batch, batchId) =>
      appended += appendBatch(batch, cfg, changelogPath, Some(s"${ckptKey}_$batchId"),
        () => postSnapshotHook(batchId))
    }
    appended
  }

  /** Clone a QUIESCED AvailableNow checkpoint for replay against a
    * RELOCATED copy of its source directory. The file-source log
    * (the `sources` subtree) records ABSOLUTE file paths; on restart the engine
    * reconstructs the last batch from those paths under the new reader's
    * basePath, so a byte-copy of a checkpoint breaks the moment its feed
    * dir moves. The clone rewrites `oldFeedPath` → `newFeedPath` in every
    * (small, line-JSON) checkpoint file — offsets/commits don't carry
    * paths, so the rewrite is a no-op there. Only valid for STATELESS
    * queries (foreachBatch populate): stateful state stores are binary
    * and are not path-rewritable. Any file whose bytes are not strict
    * UTF-8 (a future binary artifact, filesystem .crc sidecars) is
    * copied VERBATIM instead of round-tripped through the decoder —
    * a lossy decode would silently corrupt it with U+FFFD. */
  def cloneCheckpoint(
      src: java.nio.file.Path, dst: java.nio.file.Path,
      oldFeedPath: String, newFeedPath: String): Unit = {
    val s = java.nio.file.Files.walk(src)
    try {
      s.forEach { p =>
        val rel = src.relativize(p).toString
        if (rel.nonEmpty) {
          val t = dst.resolve(rel)
          if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
          else {
            java.nio.file.Files.createDirectories(t.getParent)
            val bytes = java.nio.file.Files.readAllBytes(p)
            val rewritten = strictUtf8(bytes)
              .map(text => text.replace(oldFeedPath, newFeedPath).getBytes("UTF-8"))
              .getOrElse(bytes)
            java.nio.file.Files.write(t, rewritten)
          }
        }
      }
    } finally s.close()
  }

  /** Decode strictly (CodingErrorAction.REPORT): Some(text) iff `bytes`
    * is well-formed UTF-8, None for binary content. */
  private def strictUtf8(bytes: Array[Byte]): Option[String] =
    try {
      val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
        .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
        .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
      Some(dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString)
    } catch { case _: java.nio.charset.CharacterCodingException => None }

  /** One micro-batch: continue ids from the max the sink's commit record
    * holds ([[Checkpoint.committed]], no Spark job), then commit via the
    * populate's journal ([[StagedAppend.stageAndPublish]]).
    * Micro-batches within a query run sequentially, so the
    * one-snapshot-per-batch id contract holds like the batch mode.
    *
    * The parquet append is not transactional with the stream's offset
    * commit: a crash between the two replays the batch. A marker per
    * applied (checkpoint, batch) is checked first and committed as the
    * journal's last destination, so it exists exactly when the whole batch
    * does — a torn batch rolls back rows and marker together (the leading
    * [[StagedAppend.repair]]) and the replay applies it exactly once. The
    * marker stays a file at the sink root, apart from the record: it must
    * outlive every version flip, and subject deletion recounts the record
    * from rows, which carry no batch keys.
    */
  def appendBatch(
      batch: DataFrame,
      cfg: CdcTableConfig,
      changelogPath: String,
      batchKey: Option[String] = None,
      postSnapshotHook: () => Unit = () => ()): Long = {
    val spark = batch.sparkSession
    StagedAppend.repair(spark, changelogPath)
    if (batch.isEmpty) return 0L
    val marker = batchKey.map(id => s"_applied_batches/$id")
    val applied = marker.map(new Path(changelogPath, _))
      .exists(p => p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
    if (applied) return 0L // replayed batch: already applied
    val offset = Checkpoint.committed(spark, changelogPath).map(_._2).getOrElse(0L)
    postSnapshotHook() // race injection: maintenance lands between snapshot and append
    val cached = batch.cache()
    // the data dir resolves at publish, after the hook — a compaction that
    // flipped the version pointer since the snapshot is honored (the batch
    // lands in the repacked copy; the snapshot's HWM/offset stay valid
    // because compaction preserves logical rows)
    try StagedAppend.stageAndPublish(spark, cached, cfg, changelogPath, offset, marker)
    finally cached.unpersist()
  }
}
