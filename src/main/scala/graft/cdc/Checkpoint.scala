package graft.cdc

import java.sql.Timestamp
import java.time.{LocalDate, ZoneId}
import java.time.format.DateTimeFormatter

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._

/** Incremental-window bookkeeping.
  *
  * The reference uses the changelog itself as the checkpoint store: resume
  * point = MAX(commit_time) on the sink, else the feed's minimum LSN time on
  * first run (usp_cdc_populate_changelog.sql:200-211). The infamous quirk:
  * compat resume = max + 1 MINUTE (:203), permanently skipping changes
  * committed within that minute; default mode is lossless (strictly-greater
  * predicate on the exact max) — SURVEY §7.5.3.
  *
  * Recomputing that max from the sink costs a whole-sink aggregate per
  * batch, so the sink keeps a COMMIT RECORD instead (SURVEY §7.5 decision
  * 4's persisted offset; Structured Streaming's commit log): small
  * underscore files inside the current data dir — `_commits`, whose
  * presence means the record exists, plus one `_commits.<batch>` file per
  * batch committed since a writer last folded them into it (every batch
  * does, so a reader opens at most two) — holding one [[Entry]] per line.
  * The writer's HWM and id offset and the report's freshness fold over it
  * with no Spark job. Its invariant: the state folded from the record
  * equals the state a scan of the visible sink derives, after any sequence
  * of writes and maintenance —
  *  - a populate batch commits its entry as a journal destination after
  *    its rows ([[StagedAppend.stageAndPublish]]), so it rolls back with
  *    them;
  *  - compaction carries the entries into the new version's stage and
  *    subject deletion recounts them from the rows it wrote
  *    ([[SinkLayout.swapVersion]]), so they flip with the version;
  *  - retention writes only its cutoff, and the fold skips entries whose
  *    day is before it (see [[Entry]] for why that stays exact);
  *  - a version without a record (a sink written before the record
  *    existed, or a [[rebuild]] that crashed after deleting the old base
  *    file) is scanned once and migrated by its next writer
  *    ([[committed]]); readers fall back to the scan and never write.
  */
object Checkpoint {

  final case class Window(
      fromTime: Option[Timestamp], // None = first run (take everything from feed min)
      toTime: Timestamp,
      fromExclusive: Boolean) // true = lossless `>`; compat +1min uses `>=` of the shifted point

  /** One commit-record entry: `rows` changelog rows whose greatest
    * `commit_date` is `day`, with their max `commit_time` and max
    * `changelog_id` (as micros and id) and their one `created_dt`.
    *
    * A populate batch writes one entry. Its max commit_time and max id sit
    * on its max day (ids follow the commit_time-led sort), and all its rows
    * share one `created_dt` (one `current_timestamp()` per write), so an
    * entry is visible under a retention cutoff exactly when its max row is:
    * filtering entries by `day >= cutoff` keeps the scan's HWM, max id,
    * emptiness and freshness exact even for a batch that straddles the
    * cutoff (its `rows` then overcounts, which no reader uses beyond > 0).
    * A scan ([[scanEntries]]) yields one entry per (day, created_dt). */
  private[cdc] final case class Entry(day: LocalDate, rows: Long, hwmMicros: Long,
      maxId: Long, createdMicros: Option[Long]) {
    def line: String =
      Seq(day, rows, hwmMicros, maxId, createdMicros.getOrElse("-")).mkString("\t")
  }

  private[cdc] object Entry {
    def parse(line: String): Entry = line.split('\t') match {
      case Array(d, n, hwm, id, created) =>
        Entry(LocalDate.parse(d), n.toLong, hwm.toLong, id.toLong,
          if (created == "-") None else Some(created.toLong))
      case _ => throw new IllegalStateException(s"malformed commit-record entry: $line")
    }

    /** The entry of (day, rows, max commit_time, max id, created_dt) row
      * values; None for an empty group. */
    def of(r: Row): Option[Entry] =
      if (r.getLong(1) == 0L) None
      else Some(Entry(r.getDate(0).toLocalDate, r.getLong(1),
        DateTimeUtils.fromJavaTimestamp(r.getTimestamp(2)), r.getLong(3),
        Option(r.getTimestamp(4)).map(DateTimeUtils.fromJavaTimestamp)))
  }

  private[cdc] val RecordName = "_commits"

  /** The record's base file in `dataDir`; it exists iff the record does. */
  private[cdc] def recordFile(dataDir: String): Path = new Path(dataDir, RecordName)

  /** A batch's own record file in `dataDir`, beside the base file. */
  private[cdc] def batchFile(dataDir: String, batch: String): Path =
    new Path(dataDir, s"$RecordName.$batch")

  /** The record's batch files in `dataDir`. */
  private def batchFiles(fs: FileSystem, dataDir: String): Seq[Path] =
    fs.listStatus(new Path(dataDir), (p: Path) => p.getName.startsWith(RecordName + "."))
      .toSeq.map(_.getPath)

  /** The visible entries of the record in `dataDir` — those on or after
    * the sink's retention cutoff — or None when that dir has no record. */
  private[cdc] def recordAt(fs: FileSystem, root: String, dataDir: String): Option[Seq[Entry]] =
    if (!fs.exists(recordFile(dataDir))) None
    else {
      val cutoff = Retention.activeCutoff(fs, root)
      Some((recordFile(dataDir) +: batchFiles(fs, dataDir))
        .flatMap(SinkLayout.readLines(fs, _).map(Entry.parse))
        .filter(e => cutoff.forall(c => !e.day.isBefore(c))))
    }

  /** The visible entries of the sink's current record; None for a sink
    * without one (never written, or written before the record existed). */
  private[cdc] def record(spark: SparkSession, root: String): Option[Seq[Entry]] =
    recordAt(SinkLayout.fs(spark, root), root, SinkLayout.dataDir(spark, root))

  /** Write `entries` as the whole record of the fresh data dir `dir`. */
  private[cdc] def writeRecord(fs: FileSystem, dir: Path, entries: Seq[Entry]): Unit =
    SinkLayout.writeLines(fs, recordFile(dir.toString), entries.map(_.line))

  /** HWM and max id folded from entries; None = an empty sink. */
  private[cdc] def stateOf(entries: Seq[Entry]): Option[(Timestamp, Long)] =
    if (entries.isEmpty) None
    else Some((DateTimeUtils.toJavaTimestamp(entries.map(_.hwmMicros).max),
      entries.map(_.maxId).max))

  private val CompatDay = DateTimeFormatter.ofPattern("MM/dd/yyyy")

  /** The report's freshness watermark folded from entries (:40-46): the max
    * `created_dt`, or in compat mode the reference's lexicographic MAX over
    * `MM/dd/yyyy` strings (wrong across year boundaries, so each distinct
    * `created_dt` is formatted in the session time zone and the strings
    * compared); null for an empty sink, like the SQL MAX. */
  private[cdc] def freshnessOf(entries: Seq[Entry], compatMode: Boolean, zone: ZoneId): String = {
    val created = entries.flatMap(_.createdMicros)
    if (created.isEmpty) null
    else if (compatMode)
      created.distinct.map(m => CompatDay.withZone(zone).format(
        DateTimeUtils.toJavaTimestamp(m).toInstant)).max
    else DateTimeUtils.toJavaTimestamp(created.max).toString
  }

  /** Entries from a scan of `log`: one per (commit day, created_dt), the
    * day taken from `commit_date` (else `commit_time`), created_dt absent
    * when the sink has no such column. One grouped aggregate — run only by
    * a migration or rebuild, a reader's fallback and subject deletion's
    * recount. */
  private[cdc] def scanEntries(log: DataFrame): Seq[Entry] = {
    val day =
      if (log.columns.contains("commit_date")) col("commit_date") else to_date(col("commit_time"))
    val created =
      if (log.columns.contains("created_dt")) col("created_dt") else lit(null).cast("timestamp")
    log.groupBy(day.as("day"), created.as("created"))
      .agg(count(lit(1)).as("rows"), max("commit_time").as("hwm"), max("changelog_id").as("id"))
      .select("day", "rows", "hwm", "id", "created")
      .collect().toSeq.flatMap(Entry.of)
  }

  private def hasData(spark: SparkSession, root: String): Boolean =
    SinkLayout.parquetFiles(SinkLayout.fs(spark, root),
      new Path(SinkLayout.dataDir(spark, root))).nonEmpty

  /** Entries scanned from the visible sink (none when it has no data). */
  private def scanSink(spark: SparkSession, root: String): Seq[Entry] =
    if (!hasData(spark, root)) Nil else scanEntries(SinkLayout.read(spark, root))

  /** Replace the current data dir's record with one scanned from the sink
    * (the migration of a sink without a record, and the rebuild after a
    * partition backfill). Under the writer lock. The base file goes first,
    * so from then until the new one is renamed into place the sink has no
    * record, and a crash in between leaves a sink its next writer migrates
    * again. Returns the scanned entries. */
  private[cdc] def rebuild(spark: SparkSession, root: String): Seq[Entry] =
    SinkLayout.writerLock(root).synchronized {
      val fs = SinkLayout.fs(spark, root)
      val dataDir = SinkLayout.dataDir(spark, root)
      val entries = scanSink(spark, root)
      fs.delete(recordFile(dataDir), false)
      batchFiles(fs, dataDir).foreach(fs.delete(_, false))
      val tmp = new Path(dataDir, "_tmp" + RecordName)
      SinkLayout.writeLines(fs, tmp, entries.map(_.line))
      require(fs.rename(tmp, recordFile(dataDir)), s"record rename $tmp failed")
      entries
    }

  /** Failure-injection hook of the record fold ([[committed]]): invoked
    * with 1 once the merged base is written to its tmp file, 2 once it is
    * renamed into place, then 2 + k after the k-th batch file is deleted.
    * Tests throw from it to simulate a crash inside the fold. */
  private[cdc] type FoldHook = Int => Unit

  /** Fold the record's batch files in `dataDir` into its base file: every
    * line of both goes to a tmp file, which is renamed over the base, then
    * the batch files are deleted. A crash before the rename leaves the
    * record as it was; one after it leaves entries listed twice, which
    * fold by max and are only tested for `rows > 0`, so the state is the
    * same. The caller holds the writer lock. */
  private def foldRecord(fs: FileSystem, dataDir: String, hook: FoldHook): Unit = {
    val batches = batchFiles(fs, dataDir)
    if (batches.nonEmpty) {
      val base = recordFile(dataDir)
      val tmp = new Path(dataDir, "_tmp" + RecordName)
      SinkLayout.writeLines(fs, tmp,
        (base +: batches).flatMap(SinkLayout.readLines(fs, _)).distinct)
      hook(1)
      FileContext.getFileContext(fs.getUri, fs.getConf)
        .rename(tmp, base, Options.Rename.OVERWRITE)
      hook(2)
      batches.zipWithIndex.foreach { case (b, k) => fs.delete(b, false); hook(3 + k) }
    }
  }

  /** The writer's ONE sink snapshot — HWM and max assigned id, None for an
    * empty sink — from the commit record, with no Spark job. Under the
    * writer lock, the record's batch files are first folded into its base
    * file ([[foldRecord]]), so after any committed batch the record is at
    * most two files. A sink with data but no record is scanned once and
    * migrated here, so its next batch reads the record. The caller runs
    * [[StagedAppend.repair]] first and reuses the snapshot for both the
    * window and the id offset, so the two never disagree. */
  private[graft] def committed(spark: SparkSession, changelogPath: String,
      foldHook: FoldHook = _ => ()): Option[(Timestamp, Long)] = {
    SinkLayout.writerLock(changelogPath).synchronized {
      val fs = SinkLayout.fs(spark, changelogPath)
      val dataDir = SinkLayout.dataDir(spark, changelogPath)
      if (fs.exists(recordFile(dataDir))) foldRecord(fs, dataDir, foldHook)
    }
    record(spark, changelogPath) match {
      case Some(entries) => stateOf(entries)
      case None if !hasData(spark, changelogPath) => None
      case None => stateOf(rebuild(spark, changelogPath))
    }
  }

  /** The report's freshness string from the record; a sink without one
    * falls back to a scan and is left as it is (readers never write). */
  private[cdc] def freshness(spark: SparkSession, changelogPath: String,
      compatMode: Boolean): String =
    freshnessOf(record(spark, changelogPath).getOrElse(scanSink(spark, changelogPath)),
      compatMode, ZoneId.of(spark.conf.get("spark.sql.session.timeZone")))

  /** High-water mark + max assigned id recomputed by a scan of the visible
    * sink, if it exists and is non-empty — the aggregate the commit record
    * replaces (:200-211 + identity continuation), kept as the reference the
    * record is checked against. The filesystem is resolved from the path's
    * own scheme (s3a://, hdfs://), and emptiness is answered by the same
    * aggregate job that reads the HWM (count=0 ⇒ empty). */
  def sinkState(spark: SparkSession, changelogPath: String): Option[(Timestamp, Long)] = {
    val p = new org.apache.hadoop.fs.Path(changelogPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    try {
      // resolve through the version pointer: after a compaction the HWM
      // and id offset must come from the CURRENT data copy
      val row = SinkLayout.read(spark, changelogPath)
        .agg(max("commit_time"), max("changelog_id"), count(lit(1))).head()
      if (row.getLong(2) == 0L) None
      else Some((row.getTimestamp(0), row.getLong(1)))
    } catch {
      // A directory left behind by a failed/aborted first write contains no
      // data files; treat it as a first run instead of wedging the table.
      case e: org.apache.spark.sql.AnalysisException
          if e.getMessage.contains("UNABLE_TO_INFER_SCHEMA") => None
    }
  }

  /** Compute the batch window ≙ :192-253, from the sink snapshot alone.
    * @param sink    the one [[committed]] snapshot — callers reuse it for
    *                the id offset so the HWM and offset can never disagree
    * @param toDate  ≙ @to_date, default GETDATE() (:192)
    * @param compatMode reproduce the +1-minute skip (:203)
    *
    * The feed-minimum check (:225-229) is [[checkMinLsn]], which the
    * caller runs only when the windowed batch writes no row: a non-empty
    * window already proves `to >= min(feed)`. It follows this method's
    * checkpoint check, in the reference's order. */
  def computeWindow(
      sink: Option[(Timestamp, Long)],
      toDate: Option[Timestamp],
      compatMode: Boolean): Window = {
    val to = toDate.getOrElse(new Timestamp(System.currentTimeMillis()))
    sink match {
      case Some((hwm, _)) =>
        val from = if (compatMode) new Timestamp(hwm.getTime + 60000L) else hwm
        // :217-223 — window must move forward (this check precedes :225-229)
        if (to.before(from)) throw CdcErrors.toDateBeforeCheckpoint(to.toString, from.toString)
        Window(Some(from), to, fromExclusive = !compatMode)
      case None =>
        // first run: everything from the feed's min commit time (:207-209,
        // 'smallest greater than or equal' boundary mode :248-251)
        Window(None, to, fromExclusive = false)
    }
  }

  /** :225-229 — @to_date before the first captured change is a hard error.
    * One aggregate over the feed. */
  def checkMinLsn(feed: DataFrame, to: Timestamp): Unit = {
    val minLsnTime = Option(feed.agg(min("commit_time")).head().getTimestamp(0))
      .getOrElse(throw CdcErrors.toDateBeforeMinLsn(to.toString, "<empty feed>"))
    if (to.before(minLsnTime))
      throw CdcErrors.toDateBeforeMinLsn(to.toString, minLsnTime.toString)
  }

  /** Apply the window to the feed ≙ the TVF's (from_lsn, to_lsn] args
    * (:319,:352,:373,:384). Upper bound inclusive of the mapped to-instant,
    * mirroring 'largest less than or equal' (:241). */
  def applyWindow(feed: DataFrame, w: Window): DataFrame = {
    val upper = col("commit_time") <= lit(w.toTime)
    w.fromTime match {
      case None => feed.where(upper)
      case Some(f) =>
        val lower =
          if (w.fromExclusive) col("commit_time") > lit(f)
          else col("commit_time") >= lit(f)
        feed.where(lower && upper)
    }
  }
}
