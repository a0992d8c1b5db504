package graft.ext

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StructType}

/** The in-place partitioned serving layouts and their one write protocol.
  *
  * Every serving index that a changelog delta maintains in place — the
  * MinHash bands and fps, the SimHash docs and value rows, the embedding
  * single- and multi-table layouts, the IVF cells, the IVF-PQ codes, the
  * BM25 postings and registry, and the SCD2 episode store — is a parquet
  * directory partitioned by one integral column (a bucket or cell id, a
  * model or layout constant, never data-sized). Each is declared ONCE as
  * an [[Artifact]]: its schema (partition column last), its partition
  * column and its row id. The artifact owns the build write, the
  * declared-schema read and the pruned read, so no call site restates a
  * shape. A fold learns the partition values its delta touches from the
  * materialization of its delta rows (the control plane below) and hands
  * them to [[rewrite]] with the replacement rule — a per-row-pure layout
  * calls [[Artifact.fold]], which does both with the id-keyed rule — and
  * [[rewrite]] owns everything else:
  *
  *   - '''Crowded partitions ride along.''' Every partition of the
  *     layout holding more than one data file joins the value set. The
  *     folds never fragment a partition themselves (see the swap
  *     below); a multi-task partition write does — an AQE skew split of
  *     a hot cell, parallel range-sliced builders appending into one
  *     layout, any external append-mode writer. Every replace rule
  *     passes the rows of a partition its delta does not touch through
  *     unchanged, so the crowded partition is rewritten with identical
  *     content as one file, and no partition holds more than one data
  *     file after any rewrite. The check is a driver-side listing
  *     bounded by the layout's partition-value cardinality, no job.
  *
  *   - '''Literal pruned read.''' The affected values reach the scan as a
  *     STATIC partition filter ([[Artifact.readIn]]) through the layout's
  *     declared schema, so a fold reads only the partitions it rewrites
  *     and never depends on footer inference (a fold that empties every
  *     partition leaves a footer-less directory that the next read must
  *     see as a readable empty layout).
  *   - '''Staged swap.''' The replacement, `repartition(partCol)` so
  *     each value lands in one task and one file, is written in one job
  *     into an underscore stage inside the layout (`_stage_<uuid>`,
  *     which no listing sees, so the write never overwrites a path it
  *     reads). The stage's `partCol=` dirs say which values landed; a
  *     manifest of (value, landed) for every value of the set is then
  *     finalized with one rename, and each value is swapped in: the live
  *     directory is deleted and the staged one renamed into its place,
  *     or only deleted when nothing landed — so a value the replacement
  *     empties is swept by the same loop. Deleting the manifest is the
  *     commit point; the stage goes after it. Untouched partitions keep
  *     their bytes on disk.
  *   - '''Roll-forward repair.''' Every rewrite first finishes what a
  *     crashed predecessor left under its path: a stage holding a manifest
  *     is swapped in by the same loop (a value whose staged dir is gone
  *     was already swapped and is skipped, so the loop is idempotent), and
  *     a stage without one is deleted — it never touched a live
  *     partition. So a torn fold is repaired by the layout's next writer
  *     and lands, after a replay of its delta, on the untorn state; a
  *     crash before the manifest leaves every live file as it was.
  *     Readers never repair (one writer per layout, as everywhere).
  *   - '''Reader isolation.''' The swap deletes the replaced files, so a
  *     reader whose file index resolved before the rewrite can hit
  *     missing files mid-scan, and a multi-artifact fold writes its
  *     artifacts one after another (or concurrently), so a reader
  *     between them sees a torn set. A raw-path read
  *     ([[Artifact.read]]) is therefore for single-writer, fold-quiesced
  *     loops only; anything concurrent with maintenance pins a generation
  *     and takes folds through
  *     [[graft.streaming.StateStream.foldIsolatedGen]]'s graced flip,
  *     paying a layout copy per fold for snapshot isolation (the
  *     `*PairsServing` and `*Pinned` entries resolve the generation).
  *
  * '''Control plane.''' A serving probe prunes its stored scans by the
  * LITERAL partition values its batch (or candidate set) touches, and
  * gates its broadcast dims on that frame's row count; a fold prunes its
  * read, and swaps, by the literal partitions its delta rows live in.
  * All of them come from [[materialize]]: the eager `localCheckpoint`
  * the probe or fold needs anyway observes the count and every key's
  * distinct values on the same job, so no stage pays a round trip per
  * scalar, and it is the only way a serving path learns which partitions
  * to read (a rewrite learns what landed from its stage's listing).
  * The value sets are bounded by the layout's partition-value
  * cardinality — buckets and cells are model or layout CONSTANTS, never
  * data-sized — which is what makes observing them a control-plane cost
  * (the cdc_query_dpp literal-threshold justification). */
object ServingLayout {

  /** One stored partitioned serving layout: `schema` is its declared
    * shape with the partition column `partCol` last, and `idCol` names
    * the stored row's id, the key a delta's removal set matches. */
  final case class Artifact(schema: StructType, partCol: String, idCol: String) {

    /** The whole layout at `path` through the declared schema — never
      * footer inference. RAW-PATH contract: the read resolves `path`
      * as it stands, so it is for single-writer, fold-quiesced loops
      * only (the object doc's reader isolation); a reader concurrent
      * with maintenance resolves a pinned generation first. */
    def read(spark: SparkSession, path: String): DataFrame =
      spark.read.schema(schema).parquet(path)

    /** The partitions `values` only: [[read]] under a STATIC partition
      * filter, so the scan lists and reads nothing else. */
    def readIn(spark: SparkSession, path: String, values: Seq[Long]): DataFrame =
      read(spark, path).where(
        partitionIn(col(partCol), schema(partCol).dataType, values))

    /** The build write: `repartition(partCol)` before `partitionBy` lands
      * each partition value in one task, so every directory holds one
      * file (the sink-append lesson), then the layout at `path` is
      * overwritten whole. */
    def write(rows: DataFrame, path: String): Unit =
      rows.repartition(col(partCol))
        .write.partitionBy(partCol).mode("overwrite").parquet(path)

    /** The id-keyed replace rule of a per-row-pure layout: the stored
      * slice minus every row whose id is in `removed` (column `__did`),
      * plus the `fresh` rows. The removal set is old ∪ new ids, so one
      * rule covers a revision (both sides), a delete or forget (old only)
      * and an insert (new only), and a replayed delta removes and re-adds
      * the same rows. */
    private def replaceIds(removed: DataFrame, fresh: DataFrame)(
        stored: DataFrame): DataFrame =
      stored.join(removed, col(idCol) === col("__did"), "left_anti")
        .select(schema.fieldNames.map(col): _*)
        .unionByName(fresh)

    /** The whole fold of a per-row-pure layout on ONE materialization:
      * the delta's `fresh` rows and its `old` rows (re-derived from the
      * pre-delta input, never an index scan; only `idCol` and `partCol`
      * are read) are checkpointed together, flagged by side, and that job
      * observes the partitions either side lives in (the control plane,
      * object doc). [[rewrite]] replaces those partitions by
      * [[replaceIds]] with the checkpoint's ids as the removal set and its
      * fresh slice as the new rows; `post` then runs over the whole
      * replaced slice (BM25's df window), and `swapHook` is [[rewrite]]'s.
      * Returns the partition values that landed rows. */
    private[graft] def fold(spark: SparkSession, path: String,
        old: DataFrame, fresh: DataFrame,
        post: DataFrame => DataFrame = identity,
        swapHook: SwapHook = _ => ()): Seq[Long] = {
      val (delta, _, Seq(values)) = materialize(
        fresh.select(schema.fieldNames.map(col) :+ lit(true).as("__fresh"): _*)
          .unionByName(old.select(col(idCol), col(partCol), lit(false).as("__fresh")),
            allowMissingColumns = true),
        col(partCol))
      rewrite(spark, path, this, values, swapHook)(stored => post(replaceIds(
        delta.select(col(idCol).as("__did")),
        delta.where(col("__fresh")).drop("__fresh"))(stored)))
    }
  }

  /** Failure-injection hook of [[rewrite]]'s swap: invoked with the
    * number of partitions swapped so far — 0 once the manifest is final,
    * then after each swap. Tests throw from it to simulate a crash
    * mid-swap. */
  private[graft] type SwapHook = Int => Unit

  private val StagePrefix = "_stage_"
  private val ManifestName = "_MANIFEST"

  /** Rewrite the partitions `values` of `artifact` at `path` in place,
    * together with every crowded partition (object doc): read them,
    * replace their content with `replace` applied to that stored slice,
    * and swap the result in through a stage under the protocol above,
    * after repairing any stage a crashed rewrite left. `replace` must
    * yield rows of those partitions only. Values the replacement leaves
    * empty are deleted; a partition neither in `values` nor crowded is
    * never read or touched. When the set is empty nothing runs. One SQL
    * execution, the staged write. Returns the values that landed rows,
    * so a caller can derive further state from exactly what landed
    * ([[Artifact.readIn]] of them). */
  private[graft] def rewrite(spark: SparkSession, path: String,
      artifact: Artifact, values: Seq[Long], swapHook: SwapHook = _ => ())(
      replace: DataFrame => DataFrame): Seq[Long] = {
    val partCol = artifact.partCol
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    repair(fs, root, partCol)
    val vs = (values ++ crowdedValues(fs, root, partCol)).distinct.sorted
    if (vs.isEmpty) return Nil
    val stage = new Path(root, s"$StagePrefix${java.util.UUID.randomUUID()}")
    replace(artifact.readIn(spark, path, vs)).repartition(col(partCol))
      .write.partitionBy(partCol).parquet(stage.toString)
    val landed = partitionDirs(fs, stage, partCol).keySet
    require(landed.subsetOf(vs.toSet), s"rewrite: the replacement of $path " +
      s"holds partitions ${(landed -- vs).toSeq.sorted.mkString(", ")} outside " +
      "the rewritten set — `replace` must yield rows of the read partitions only")
    val tmp = new Path(stage, ManifestName + ".tmp")
    graft.cdc.SinkLayout.writeLines(fs, tmp, vs.map(v => s"$v\t${landed(v)}"))
    require(fs.rename(tmp, new Path(stage, ManifestName)), s"manifest rename $tmp failed")
    swap(fs, root, stage, partCol, swapHook)
    vs.filter(landed)
  }

  /** Swap the finalized stage `stage` into the layout at `root` (object
    * doc), then delete its manifest — the commit point — and the stage.
    * Idempotent: a landed value whose staged dir is gone was swapped. */
  private def swap(fs: FileSystem, root: Path, stage: Path, partCol: String,
      hook: SwapHook): Unit = {
    val manifest = new Path(stage, ManifestName)
    val entries = graft.cdc.SinkLayout.readLines(fs, manifest).map { line =>
      val Array(v, landed) = line.split('\t')
      (s"$partCol=$v", landed.toBoolean)
    }
    hook(0)
    entries.zipWithIndex.foreach { case ((dir, landed), i) =>
      val live = new Path(root, dir)
      val staged = new Path(stage, dir)
      if (!landed) fs.delete(live, true)
      else if (fs.exists(staged)) {
        fs.delete(live, true)
        require(fs.rename(staged, live), s"swap rename $staged -> $live failed")
      }
      hook(i + 1)
    }
    fs.delete(manifest, false)
    fs.delete(stage, true)
  }

  /** Finish every stage a crashed rewrite left under `root`: one with a
    * manifest is swapped in, one without is deleted. */
  private def repair(fs: FileSystem, root: Path, partCol: String): Unit =
    if (fs.exists(root))
      fs.listStatus(root).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith(StagePrefix))
        .foreach { st =>
          if (fs.exists(new Path(st.getPath, ManifestName)))
            swap(fs, root, st.getPath, partCol, _ => ())
          else fs.delete(st.getPath, true)
        }

  /** Partition-local small-file repack: a [[rewrite]] with no values of
    * its own, so only the crowded partitions are rewritten, unchanged —
    * content is bit-identical, uncrowded partitions keep their bytes,
    * and a re-run that finds nothing crowded runs no job. A fold needs
    * no compact before or after it: its own rewrite repacks. */
  def compact(spark: SparkSession, path: String, artifact: Artifact): Unit =
    rewrite(spark, path, artifact, Nil)(identity)

  /** The `partCol=` dirs directly under `dir`, by partition value. */
  private def partitionDirs(fs: FileSystem, dir: Path, partCol: String): Map[Long, Path] =
    if (!fs.exists(dir)) Map.empty
    else fs.listStatus(dir).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$partCol="))
      .map { st =>
        val v = st.getPath.getName.stripPrefix(s"$partCol=")
        v.toLongOption.getOrElse(throw new IllegalArgumentException(
          s"rewrite: partition dir ${st.getPath} is not integral — serving-layout " +
            "partition keys are derived, never nullable, and integral by contract")) ->
          st.getPath
      }
      .toMap

  /** The partition values under `root` holding more than one data file. */
  private def crowdedValues(fs: FileSystem, root: Path, partCol: String): Seq[Long] =
    partitionDirs(fs, root, partCol).toSeq.collect {
      case (v, dir) if fs.listStatus(dir).count { f =>
        val n = f.getPath.getName
        f.isFile && !n.startsWith("_") && !n.startsWith(".")
      } > 1 => v
    }

  /** Run independent driver-side job chains CONCURRENTLY (guide §2.6:
    * actions are sequential only because the driver calls them
    * sequentially — a serving fold's two artifacts are independent job
    * chains whose stage tails otherwise leave every core idle). Used by
    * the multi-artifact folds and the fragmented-deploy fixtures. Each
    * chain runs its jobs under a job tag of its own, and a failure
    * cancels the other chains' running jobs, so a failed fold
    * stops its siblings' writes instead of waiting them out (a sibling
    * between two jobs still starts its next one; folds repair by replay).
    * Every failure is reported: the first is thrown with the others — a
    * cancellation among them — attached as suppressed, so a
    * half-parallel fold never half-reports success and never hides a
    * second cause. */
  private[graft] def inParallel(fs: (() => Unit)*): Unit = {
    val sc = SparkSession.active.sparkContext
    val tags = fs.indices.map(i => s"graft-chain-${java.util.UUID.randomUUID()}-$i")
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = fs.zip(tags).map { case (f, tag) => new Thread(() =>
      try { sc.addJobTag(tag); f() } catch {
        case t: Throwable =>
          errs.add(t)
          tags.filter(_ != tag).foreach(sc.cancelJobsWithTag)
      })
    }
    ts.foreach(_.start())
    ts.foreach(_.join())
    if (!errs.isEmpty) {
      val first = errs.poll()
      errs.forEach(t => if (t ne first) first.addSuppressed(t))
      throw first
    }
  }

  /** Materialize `rows` with an eager `localCheckpoint` and observe, on
    * that same job, its row count and the distinct values of each key —
    * the control plane (object doc). An array-typed key contributes
    * its elements. Returns the materialized rows, the count, and per key
    * the sorted values; a NULL or non-integral value is rejected. */
  private[graft] def materialize(rows: DataFrame, keys: Column*)
      : (DataFrame, Long, Seq[Seq[Long]]) = {
    val seen = new Observation()
    // a scalar key is wrapped in a one-element array: collect_set drops a
    // NULL row but keeps an array holding NULL, so NULL reaches the check
    val sets = keys.zipWithIndex.map { case (k, i) =>
      val elems = rows.select(k).schema.head.dataType match {
        case _: ArrayType => k
        case _ => array(k)
      }
      array_distinct(flatten(collect_set(elems))).as(s"k$i")
    }
    val out = rows.observe(seen, count(lit(1)).as("n"), sets: _*)
      .localCheckpoint(true)
    val m = seen.get
    (out, m("n").asInstanceOf[Long], keys.indices.map(i =>
      m(s"k$i").asInstanceOf[Seq[Any]].map(integral).sorted))
  }

  /** One partition value as a Long. Serving-layout partition keys are
    * derived, never nullable, and integral by contract; directory-name
    * inference may type them IntegerType, so both boxes normalize here. */
  private def integral(v: Any): Long = {
    require(v != null,
      "materialize: NULL partition value — the layout or its input is " +
        "malformed (partition keys are derived, never nullable)")
    v match {
      // ONLY the integral boxes: a boxed Double/Float/BigDecimal must
      // hit the rejection below, never silently truncate through a
      // generic Number.longValue (1.5 → 1L would mis-prune the fold)
      case n: java.lang.Long => n.longValue()
      case n: java.lang.Integer => n.longValue()
      case n: java.lang.Short => n.longValue()
      case n: java.lang.Byte => n.longValue()
      case other => throw new IllegalArgumentException(
        s"materialize: non-integral partition value '$other' " +
          s"(${other.getClass.getName}) — serving-layout partition " +
          "columns are integral by contract")
    }
  }

  /** `partCol IN (values)` typed to the layout's partition-column type
    * (directory-name inference yields IntegerType for small values; a
    * mistyped literal set would cast the partition ATTRIBUTE and risk
    * losing static pruning). Empty set → `false` (a no-op fold reads
    * nothing). On an IntegerType column a value outside the Int range
    * cannot name a directory, so it is dropped rather than narrowed —
    * `toInt` would wrap it onto another partition. */
  private[graft] def partitionIn(c: Column, dt: DataType, vs: Seq[Long]): Column =
    if (vs.isEmpty) lit(false)
    else dt match {
      case IntegerType =>
        val ints = vs.filter(_.isValidInt)
        if (ints.isEmpty) lit(false) else c.isin(ints.map(_.toInt): _*)
      case LongType => c.isin(vs: _*)
      case other => throw new IllegalArgumentException(
        s"partitionIn: unsupported partition-column type $other — add an " +
          "explicit literal-typed branch; falling through would cast the " +
          "partition ATTRIBUTE and silently lose the static pruning this " +
          "helper exists to guarantee")
    }
}
