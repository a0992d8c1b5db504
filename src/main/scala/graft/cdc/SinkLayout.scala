package graft.cdc

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType

import graft.Versions

/** Versioned sink layout — the reader-safe indirection under compaction.
  *
  * A plain parquet-dir rewrite (delete + rename, or even a backup-ordered
  * swap) is crash-safe for the DATA but not for READERS: a query planned
  * between the two renames lists a missing directory and fails, and on
  * object stores rename is not atomic at all. At 100 TB with a
  * continuously-serving sink there is no maintenance window to hide in, so
  * the sink resolves through a POINTER instead — [[graft.Versions]], the
  * publish protocol the persisted streaming state shares:
  *
  * {{{
  *   <sink>/                             (sink root = the table's stable address)
  *     <version N>/commit_date=.../      the current version's rows
  *     <version N>/_commits, _commits.*  its commit record
  *     <version N-1>/                    the superseded version (reader grace)
  *     _retention.cutoff, _applied_batches/, _stage_batch_<offset>/
  * }}}
  *
  * A sink is versioned from its first write: the first batch publishes an
  * empty version 1 with an empty commit record ([[Checkpoint]]) before its
  * rows move in ([[StagedAppend.stageAndPublish]]), so every written sink
  * has a version dir. The record lives inside the version it describes,
  * so every flip swaps rows and record together.
  *
  * Everything that touches the sink resolves [[dataDir]] first: appends land
  * in the current version, reads plan against it. Compaction and subject
  * deletion write the rewritten copy as the next version
  * ([[swapVersion]]); the one superseded version stays for in-flight
  * readers. Writer coordination: a single populate job owns the sink —
  * the reference's assumption too — and [[writerLock]] orders its publish
  * points in-process.
  */
object SinkLayout {

  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Per-sink WRITER mutex serializing the publish points that race on
    * the version pointer: a batch publish renaming files into the current
    * version must not interleave with a compaction publishing the next
    * one — the tail of the rename loop would land in
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

  /** The current version dir, which reads plan against and appends land
    * in; a sink never written has none and resolves to its root, which
    * holds no data. */
  def dataDir(spark: SparkSession, root: String): String =
    Versions.current(fs(spark, root), new Path(root)).fold(root)(_.dir.toString)

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
    * split its batch across the version flip. It reads the live version
    * through the retention cutoff (expired days are not carried forward —
    * the superseded version is the grace copy) and publishes
    * `arrange`'s frame, partitioned by `commit_date`, as the next version
    * through [[Versions.publish]]. A crash at any step leaves the current
    * resolve untouched; a re-run stages afresh. `arrange` gets the live
    * frame and its data files and returns the frame to write plus a value
    * handed back with the new version's dir.
    *
    * The new version's commit record is written into the stage, so it
    * flips with the rows: by default the live record's visible entries are
    * carried over in one base file (a rewrite that keeps every visible row —
    * compaction — keeps every entry exact, and a live version without a
    * record stays without one); with `recount`, for a rewrite that drops
    * rows, the entries are recounted from the staged rows with one grouped
    * aggregate. */
  private[cdc] def swapVersion[A](spark: SparkSession, root: String, recount: Boolean = false)(
      arrange: (DataFrame, Seq[FileStatus]) => (DataFrame, A)): (A, Path) =
    writerLock(root).synchronized {
      val hfs = fs(spark, root)
      val cur = Versions.current(hfs, new Path(root))
      val live = cur.getOrElse(throw new IllegalStateException(s"no version to rewrite under $root")).dir
      val (a, next) = Versions.publish(hfs, new Path(root), cur) { stage =>
        val (out, value) = arrange(readDir(spark, root, live.toString), parquetFiles(hfs, live))
        out.write.partitionBy("commit_date").parquet(stage.toString)
        val record =
          if (!recount) Checkpoint.recordAt(hfs, root, live.toString)
          else if (parquetFiles(hfs, stage).isEmpty) Some(Nil)
          else Some(Checkpoint.scanEntries(spark.read.parquet(stage.toString)))
        record.foreach(Checkpoint.writeRecord(hfs, stage, _))
        value
      }
      (a, next.dir)
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

  /** The small control files (the journal's manifest, the retention
    * cutoff, the commit record, a serving rewrite's manifest):
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
