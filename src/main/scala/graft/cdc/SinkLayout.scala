package graft.cdc

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType

/** Versioned sink layout — the reader-safe indirection under compaction.
  *
  * A plain parquet-dir rewrite (delete + rename, or even a backup-ordered
  * swap) is crash-safe for the DATA but not for READERS: a query planned
  * between the two renames lists a missing directory and fails, and on
  * object stores rename is not atomic at all. At 100 TB with a
  * continuously-serving sink there is no maintenance window to hide in, so
  * the sink resolves through a POINTER instead:
  *
  * {{{
  *   <sink>/                       (sink root = the table's stable address)
  *     commit_date=.../<parquet>   flat layout: every sink starts this way
  *     _commits, _commits.<batch>  the flat layout's commit record
  *     data_v2/commit_date=.../    versioned data dirs (compaction output)
  *     data_v2/_commits            each version's own commit record
  *     _v2.ok                      version markers; current = max N marked
  * }}}
  *
  * The commit record ([[Checkpoint]]) lives inside the data dir it
  * describes, so every version flip swaps rows and record together.
  *
  * Everything that touches the sink resolves [[dataDir]] first: appends land
  * in the current version, reads plan against it. Compaction writes the
  * repacked copy to `data_v<N+1>` and PUBLISHES it by creating the
  * `_v<N+1>.ok` marker — a single atomic file creation, never a rename of
  * the live directory — then deletes versions older than the PREVIOUS one.
  * Keeping one superseded version means a reader that resolved (and even
  * planned) against the old current keeps working through the swap; only a
  * reader holding a plan across TWO full compaction cycles can lose its
  * files, which is the documented grace window.
  *
  * The flat layout (no markers) is version 1 in spirit: a sink that was
  * never compacted reads and appends at its root, bit-identical to the
  * pre-versioning behavior. Writer coordination is unchanged (single
  * populate job owns the sink — the reference's assumption too).
  */
object SinkLayout {

  private val MarkerRe = "_v(\\d+)\\.ok".r

  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Per-sink WRITER mutex serializing the publish points that race on
    * the version pointer: a batch publish renaming files into the current
    * `data_v<N>` must not interleave with a compaction flipping the
    * pointer to `data_v<N+1>` — the tail of the rename loop would land in
    * the superseded dir and retire with it (silent row loss). Holders
    * resolve [[dataDir]] INSIDE the lock, so they always target the
    * version that is current for their whole critical section.
    *
    * In-process only: this pins the contract in local/test mode and in
    * any single-driver deployment (the sink's documented single-writer
    * discipline — populate, compaction, retention from one owner JVM).
    * A multi-driver deployment must swap this for a shared mutex (catalog
    * lock / lease file on a store with atomic create); the critical
    * sections are already delimited, which is the hard part. */
  private[cdc] def writerLock(root: String): Object =
    locks.computeIfAbsent(root, _ => new Object)

  private[cdc] def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Current version number: the max N with both an `_vN.ok` marker and an
    * existing `data_vN` dir; None = flat (never-compacted) layout. */
  def currentVersion(fs: FileSystem, root: String): Option[Int] = {
    val rootPath = new Path(root)
    if (!fs.exists(rootPath)) return None
    val versions = fs.listStatus(rootPath).toSeq.flatMap { st =>
      st.getPath.getName match {
        case MarkerRe(n) if fs.exists(new Path(rootPath, s"data_v$n")) => Some(n.toInt)
        case _ => None
      }
    }
    if (versions.isEmpty) None else Some(versions.max)
  }

  def currentVersion(spark: SparkSession, root: String): Option[Int] =
    currentVersion(fs(spark, root), root)

  private def versionDir(root: String, n: Int): String = s"$root/data_v$n"

  /** The directory reads plan against and appends land in: the current
    * version dir, or the sink root itself for a flat sink. */
  def dataDir(spark: SparkSession, root: String): String =
    currentVersion(fs(spark, root), root).map(versionDir(root, _)).getOrElse(root)

  /** Staging dir for an in-flight repack of version `n`. The underscore
    * prefix matters: Spark's file listing skips `_`/`.`-prefixed paths, so
    * a half-written (or written-but-unpublished) repack inside a FLAT
    * sink's root is invisible to every reader — a bare `data_v<n>` dir
    * there would instead join the root's partition discovery and throw
    * "conflicting directory structures". */
  private def stageDir(root: String, n: Int): String = s"$root/_stage_v$n"

  /** Publish a fully-staged version `n`: create the `_vn.ok` marker FIRST
    * (idempotent — a marker alone, with no data dir, is ignored by
    * [[currentVersion]]), then rename the staged dir to `data_vn`. The
    * rename is the visibility flip and the only non-idempotent step; on a
    * crash before it, the sink still resolves to the old version and a
    * re-run re-stages version n from scratch. (Directory rename is atomic
    * on local/HDFS filesystems; an object-store deployment needs a
    * manifest committer here, like any non-transactional parquet table.) */
  private def publish(fs: FileSystem, root: String, n: Int): Unit = {
    val marker = new Path(root, s"_v$n.ok")
    if (!fs.exists(marker)) fs.create(marker, false).close()
    require(fs.rename(new Path(stageDir(root, n)), new Path(versionDir(root, n))),
      s"publish rename ${stageDir(root, n)} -> ${versionDir(root, n)} failed")
  }

  private val FlatDataRe = "commit_date=.*".r
  private val ManifestRe = "_flat_v(\\d+)\\.manifest".r

  private def manifestPath(root: String, n: Int): Path =
    new Path(root, s"_flat_v$n.manifest")

  /** Root-level entries that constitute a FLAT sink's data plane — exactly
    * what `spark.read.parquet(root)` consumes and the repack migrates — and
    * its commit record, which the migrated version replaces. */
  private def isFlatData(st: FileStatus): Boolean =
    st.getPath.getName match {
      case FlatDataRe() => true
      case "_SUCCESS" => true
      case n if n == Checkpoint.RecordName || n.startsWith(Checkpoint.RecordName + ".") => true
      case n => st.isFile && n.endsWith(".parquet")
    }

  /** Record, at migration time, WHICH root entries the flat→`data_v<n>`
    * repack consumed (one root-relative name per line, underscore-prefixed
    * so readers never list it). [[retire]] later deletes exactly these —
    * provenance-based sweeping, so a foreign parquet file some other
    * component parks at the sink root AFTER migration is never touched.
    * Written before publish: a crash leaves a manifest for an unpublished
    * version, which the re-run simply overwrites. */
  private def recordFlatMigration(fs: FileSystem, root: String, n: Int): Unit =
    writeLines(fs, manifestPath(root, n),
      fs.listStatus(new Path(root)).toSeq.filter(isFlatData).map(_.getPath.getName).sorted)

  /** Drop superseded versions older than `current - 1`: the previous
    * version is RETAINED as the in-flight readers' grace copy. The
    * migrated FLAT data (pseudo-version 0) retires on the same schedule,
    * but by PROVENANCE, not pattern: only the root entries named in the
    * migration manifest [[recordFlatMigration]] wrote are deleted, so both
    * auxiliary state other components keep at the sink root (e.g. the
    * streaming populate's `_applied_batches` exactly-once markers) AND any
    * foreign file parked there after migration survive every compaction. */
  private def retire(fs: FileSystem, root: String, current: Int): Unit = {
    val rootPath = new Path(root)
    fs.listStatus(rootPath).toSeq.foreach { st =>
      val name = st.getPath.getName
      name match {
        case MarkerRe(n) if n.toInt < current - 1 =>
          fs.delete(new Path(rootPath, s"data_v$n"), true)
          fs.delete(st.getPath, false)
        case ManifestRe(n) if n.toInt < current =>
          // the flat layout this manifest migrated is now past grace:
          // sweep exactly the recorded entries, then the manifest itself
          readLines(fs, st.getPath)
            .foreach(e => fs.delete(new Path(rootPath, e), true))
          fs.delete(st.getPath, false)
        case _ => ()
      }
    }
  }

  /** Read the sink through the pointer, honoring the retention cutoff: an
    * active `_retention.cutoff` marker becomes a `commit_date >= cutoff`
    * PARTITION filter, so expired days vanish from the logical table the
    * moment the marker advances — their directories (still on disk for one
    * grace cycle, [[Retention]]) are partition-pruned, never listed into.
    * A declared `schema` ([[PopulateChangelog.sinkSchema]]) replaces the
    * footer inference, which runs a Spark job. */
  def read(spark: SparkSession, root: String, schema: Option[StructType] = None): DataFrame =
    readDir(spark, root, dataDir(spark, root), schema)

  private def readDir(spark: SparkSession, root: String, dir: String,
      schema: Option[StructType] = None): DataFrame = {
    val df = schema.fold(spark.read)(spark.read.schema).parquet(dir)
    Retention.activeCutoff(fs(spark, root), root) match {
      case Some(c) if df.columns.contains("commit_date") =>
        df.where(col("commit_date") >= lit(c.toString))
      case _ => df
    }
  }

  /** The one versioned swap behind every full-sink rewrite (compaction,
    * subject deletion). The whole cycle holds the writer lock: a batch
    * publish renaming files into the live dir mid-rewrite would otherwise
    * split its batch across the version flip. In it: sweep a crashed
    * attempt's leftovers, read the live version through the retention
    * cutoff (expired days are not carried forward — the superseded version
    * is the grace copy), write `arrange`'s frame partitioned by
    * `commit_date` into the underscore stage, record the flat migration
    * when there is one, then [[publish]] and [[retire]]. A crash at any
    * step leaves the current resolve untouched; a re-run stages afresh.
    * `arrange` gets the live frame and its data files (listed after the
    * leftover sweep) and returns the frame to write plus a value handed
    * back with the new version's dir.
    *
    * The new version's commit record is written into the stage, so it
    * flips with the rows: by default the live record's visible entries are
    * carried over in one base file (a rewrite that keeps every visible row —
    * compaction — keeps every entry exact, and a live sink without a
    * record stays without one); with `recount`, for a rewrite that drops
    * rows, the entries are recounted from the staged rows with one grouped
    * aggregate. */
  private[cdc] def swapVersion[A](spark: SparkSession, root: String, recount: Boolean = false)(
      arrange: (DataFrame, Seq[FileStatus]) => (DataFrame, A)): (A, Path) =
    writerLock(root).synchronized {
      val hfs = fs(spark, root)
      val cur = currentVersion(hfs, root)
      val next = cur.getOrElse(0) + 1
      val stage = new Path(stageDir(root, next))
      val nextDir = new Path(versionDir(root, next))
      // in the flat case the leftovers live under the live root: they go
      // before the live files are listed
      hfs.delete(stage, true)
      hfs.delete(nextDir, true)
      val liveDir = cur.map(versionDir(root, _)).getOrElse(root)
      val (out, a) = arrange(readDir(spark, root, liveDir),
        parquetFiles(hfs, new Path(liveDir)))
      out.write.partitionBy("commit_date").parquet(stage.toString)
      val record =
        if (!recount) Checkpoint.recordAt(hfs, root, liveDir)
        else if (parquetFiles(hfs, stage).isEmpty) Some(Nil)
        else Some(Checkpoint.scanEntries(spark.read.parquet(stage.toString)))
      record.foreach(Checkpoint.writeRecord(hfs, stage, _))
      if (cur.isEmpty) recordFlatMigration(hfs, root, next)
      publish(hfs, root, next)
      retire(hfs, root, next)
      (a, nextDir)
    }

  /** Every parquet data file under `dir`, recursively, skipping `_`/`.`-
    * prefixed entries at every level (what Spark's listing skips: stages,
    * markers, checksums). */
  private[cdc] def parquetFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.flatMap { st =>
      val name = st.getPath.getName
      if (name.startsWith("_") || name.startsWith(".")) Nil
      else if (st.isDirectory) parquetFiles(fs, st.getPath)
      else if (name.endsWith(".parquet")) Seq(st)
      else Nil
    }

  /** The small control files (journal and migration manifests, the
    * retention cutoff, the commit record, a serving rewrite's manifest):
    * UTF-8 lines, written whole with overwrite. */
  private[graft] def writeLines(fs: FileSystem, p: Path, lines: Seq[String]): Unit = {
    val out = fs.create(p, true)
    try out.write(lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The non-empty lines of a file written by [[writeLines]]. */
  private[graft] def readLines(fs: FileSystem, p: Path): Seq[String] = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().filter(_.nonEmpty).toList
    finally in.close()
  }
}
