package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The shared fold-read pruning helpers: the affected-partition literal
  * set must reach a layout scan as a STATIC partition filter whatever
  * type directory-name inference gave the partition column — a mistyped
  * literal set would cast the partition ATTRIBUTE and risk reading
  * everything. */
class ServingLayoutSpec extends AnyFunSuite with graft.SparkFixture {

  private def scansOf(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
    p.flatMap {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scansOf(q.plan)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scansOf(a.executedPlan)
      case _ => Nil
    }

  /** The `_stage*` entries directly under the layout at `path`. */
  private def stages(path: String): Seq[String] =
    java.nio.file.Files.list(java.nio.file.Paths.get(path)).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
      .filter(_.startsWith("_stage"))

  test("materialize observes the count and every key's distinct values on " +
      "its one checkpoint execution; an array key is flattened") {
    val s = spark
    import s.implicits._
    val rows = Seq((1L, Seq(3L, 1L)), (2L, Seq(1L, 5L)), (3L, Seq(5L, 5L)),
      (3L, Seq.empty[Long])).toDF("b", "arr")
    var got: (org.apache.spark.sql.DataFrame, Long, Seq[Seq[Long]]) = null
    val executions = executionsOf { got = ServingLayout.materialize(rows, $"b", $"arr") }
    val (out, n, values) = got
    assert(executions.nonEmpty && executions.forall(_ != null) &&
      executions.distinct.length == 1,
      s"the count and values must ride the checkpoint's one execution: $executions")
    assert(n == 4L)
    assert(values == Seq(Seq(1L, 2L, 3L), Seq(1L, 3L, 5L)),
      "values are sorted and distinct; the array key contributes its elements")
    assert(out.as[(Long, Seq[Long])].collect().toSeq.sortBy(_._1).map(_._1) ==
      Seq(1L, 2L, 3L, 3L), "the returned rows are the input rows")
  }

  test("materialize of an empty frame observes count 0 and no values, and " +
      "readIn over them reads no partition") {
    val s = spark
    import s.implicits._
    val path = graft.TempDirs.create("graft_slayout_mat0").resolve("t").toString
    (0L until 40L).map(i => (i, i % 4)).toDF("id", "b")
      .repartition(col("b")).write.partitionBy("b").parquet(path)
    val layout = ServingLayout.Artifact(s.read.parquet(path).schema, "b", "id")
    val (out, n, Seq(values)) =
      ServingLayout.materialize(layout.read(s, path).where($"id" < 0L), $"b")
    assert(n == 0L && values.isEmpty && out.collect().isEmpty)
    val none = layout.readIn(s, path, values)
    assert(none.collect().isEmpty)
    val read = scansOf(none.queryExecution.executedPlan)
      .flatMap(_.metrics.get("numPartitions").map(_.value))
    assert(read.forall(_ == 0L), s"an empty value set must read no partition, read $read")
  }

  test("materialize rejects a NULL and a non-integral key instead of " +
      "dropping or truncating it") {
    val s = spark
    import s.implicits._
    def rejection(df: org.apache.spark.sql.DataFrame): String =
      intercept[IllegalArgumentException](ServingLayout.materialize(df, $"b")).getMessage
    val nul = rejection(Seq[java.lang.Long](1L, null).toDF("b"))
    assert(nul.startsWith("requirement failed: materialize: NULL partition value"), nul)
    // a boxed Double must hit the integral-contract rejection, never
    // truncate through Number.longValue (1.5 → 1L would mis-prune)
    val frac = rejection(Seq(1.5d).toDF("b"))
    assert(frac.startsWith("materialize: non-integral partition value '1.5'"), frac)
  }

  test("partitionIn prunes an INFERRED-IntegerType partition column statically") {
    val s = spark
    import s.implicits._
    val base = graft.TempDirs.create("graft_slayout_t")
    val path = base.resolve("t").toString
    (0L until 40L).map(i => (i, i % 4)).toDF("id", "b")
      .repartition(col("b")).write.partitionBy("b").parquet(path)
    val stored = s.read.parquet(path) // b infers as IntegerType
    assert(stored.schema("b").dataType ==
      org.apache.spark.sql.types.IntegerType)
    val pruned = stored.where(
      ServingLayout.partitionIn(col("b"), stored.schema("b").dataType, Seq(1L, 3L)))
    // collect() — not count(), which runs a SEPARATE QueryExecution and
    // leaves this frame's scan metrics untouched
    assert(pruned.collect().length == 20)
    val scans = scansOf(pruned.queryExecution.executedPlan)
    assert(scans.nonEmpty)
    scans.foreach { f =>
      val read = f.metrics.get("numPartitions").map(_.value)
      assert(read.contains(2L),
        s"the literal set must prune the scan to 2 of 4 partitions, read $read")
    }
    // empty set → nothing read, no crash
    val none = stored.where(
      ServingLayout.partitionIn(col("b"), stored.schema("b").dataType, Seq.empty))
    assert(none.count() == 0L)
  }

  test("partitionIn drops values outside the Int range of an INFERRED-" +
      "IntegerType partition column instead of wrapping them onto another " +
      "partition") {
    val s = spark
    import s.implicits._
    val path = graft.TempDirs.create("graft_slayout_wrap").resolve("t").toString
    (0L until 40L).map(i => (i, i % 4)).toDF("id", "b")
      .repartition(col("b")).write.partitionBy("b").parquet(path)
    val stored = s.read.parquet(path) // b infers as IntegerType
    val dt = stored.schema("b").dataType
    assert(dt == org.apache.spark.sql.types.IntegerType)
    // 2^32 narrows to 0 and 2^32 + 3 to 3: neither names a directory
    assert(stored.where(ServingLayout.partitionIn(col("b"), dt, Seq(1L << 32)))
      .collect().isEmpty)
    val mixed = stored.where(
      ServingLayout.partitionIn(col("b"), dt, Seq(1L, (1L << 32) + 3L)))
      .select($"b").as[Int].collect()
    assert(mixed.length == 10 && mixed.forall(_ == 1), mixed.toSeq)
  }

  test("every declared serving artifact equals its family's row derivation " +
      "(field names and types in order, partition column last)") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a quick brown fox jumps over a lazy cat")).toDF("doc_id", "text")
    // element nullability as a parquet read of embeddings yields it
    val emb = Seq((1L, Seq(1f, 0f, 2f)), (2L, Seq(0f, 1f, 1f)))
      .toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val (bands, fps) = Dedup.minhashServingRows(docs)
    val (vrows, members) = Dedup.simhashServingRows(docs)
    val (trows, vecs) = Dedup.embMultiServingRows(emb)
    val cases = Seq(
      "minhash bands" -> (Dedup.minhashBands, bands),
      "minhash fps" -> (Dedup.minhashFps, fps),
      "simhash vrows" -> (Dedup.simhashVrows, vrows),
      "simhash docs" -> (Dedup.simhashDocs, members),
      "embDup vecs" -> (Dedup.embDupVecs, Dedup.embDupServingRows(emb)),
      "embMulti trows" -> (Dedup.embMultiTRows, trows),
      "embMulti vecs" -> (Dedup.embMultiVecs, vecs),
      "bm25 doclen" -> (Retrieval.bm25DocLen, Retrieval.bm25ServingArtifacts(docs)._2))
    cases.foreach { case (name, (artifact, rows)) =>
      def shape(t: org.apache.spark.sql.types.StructType) =
        t.fields.map(f => (f.name, f.dataType)).toSeq
      assert(shape(artifact.schema) == shape(rows.schema),
        s"$name: declared ${artifact.schema} drifted from ${rows.schema}")
      assert(artifact.schema.fieldNames.last == artifact.partCol,
        s"$name: the partition column must be declared last")
      assert(artifact.schema.fieldNames.contains(artifact.idCol), name)
    }
  }

  test("rewrite reads only the given partitions, sweeps what the replacement " +
      "empties, leaves untouched partitions' bytes, replays identically, and " +
      "runs no job beyond the barrier and the write") {
    val s = spark
    import s.implicits._
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val path = graft.TempDirs.create("graft_slayout_rw").resolve("t").toString
    (0L until 40L).map(i => (i, i % 4)).toDF("id", "b")
      .repartition(col("b")).write.partitionBy("b").parquet(path)
    // the layout's declared schema, typed as directory inference types it
    val schema = s.read.parquet(path).schema
    assert(schema("b").dataType == org.apache.spark.sql.types.IntegerType)
    val layout = ServingLayout.Artifact(schema, "b", "id")
    def files(b: Int): Map[String, Long] = {
      val d = Paths.get(path, s"b=$b")
      if (!Files.exists(d)) Map.empty
      else Files.list(d).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .map(p => p.getFileName.toString -> Files.getLastModifiedTime(p).toMillis)
        .toMap
    }
    def content(): Set[(Long, Long)] =
      s.read.schema(schema).parquet(path)
        .select($"id", $"b".cast("long")).as[(Long, Long)].collect().toSet
    val untouched = Seq(0, 2).map(b => b -> files(b)).toMap
    val expected = content().filter(_._2 != 3L)

    // every plan's scans, and every job's SQL execution, while a rewrite
    // runs under its own job group
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.SparkPlan]()
    val qel = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = plans.add(qe.executedPlan)
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val jl = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add((e.properties.getProperty("spark.jobGroup.id"),
          e.properties.getProperty("spark.sql.execution.root.id")))
    }
    s.listenerManager.register(qel)
    s.sparkContext.addSparkListener(jl)
    // the listener bus is asynchronous: the full read in content() above
    // can still reach qel. Events arrive in order, so once a marker
    // query's plan is seen, every earlier plan has been too — forget them
    s.range(1).toDF("rw_marker").collect()
    val markerDeadline = System.nanoTime() + 30L * 1000000000L
    while (!plans.asScala.exists(_.output.exists(_.name == "rw_marker")) &&
        System.nanoTime() < markerDeadline) Thread.sleep(20)
    plans.clear()
    def rewriteOnce(group: String): Unit = {
      s.sparkContext.setJobGroup(group, group)
      // a data-column predicate (one on `b` would prune the scan itself):
      // every row of partition 3 has id % 4 == 3, so the replacement
      // empties it and keeps partition 1 whole
      try ServingLayout.rewrite(s, path, layout, Seq(3L, 1L, 3L))(
        _.where(col("id") % 4 =!= 3))
      finally s.sparkContext.clearJobGroup()
    }
    try {
      rewriteOnce("rw1")
      // listener events arrive in order: once a later marker job is seen,
      // every job of the rewrite has been seen too
      s.sparkContext.setJobGroup("rw-marker", "rw-marker")
      try s.range(1).collect() finally s.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!jobs.asScala.exists(_._1 == "rw-marker") &&
          System.nanoTime() < deadline) Thread.sleep(20)
      val rwJobs = jobs.asScala.toSeq.filter(_._1 == "rw1")
      assert(rwJobs.nonEmpty && rwJobs.forall(_._2 != null),
        s"every job of a rewrite belongs to a SQL execution: $rwJobs")
      assert(rwJobs.map(_._2).distinct.length == 1,
        s"a rewrite runs exactly one execution, the staged write: $rwJobs")
      val scans = plans.asScala.toSeq.flatMap(scansOf)
        .filter(_.relation.location.rootPaths.exists(_.toString.endsWith("/t")))
      assert(scans.nonEmpty, "the staged write's stored-slice scan must be seen")
      scans.foreach { f =>
        val read = f.metrics.get("numPartitions").map(_.value)
        assert(read.contains(2L),
          s"the rewrite must read only partitions 1 and 3 of 4, read $read")
      }
    } finally {
      s.listenerManager.unregister(qel)
      s.sparkContext.removeSparkListener(jl)
    }
    assert(stages(path).isEmpty, s"a successful rewrite leaves no stage: ${stages(path)}")
    assert(files(3).isEmpty, "the partition the replacement emptied must be swept")
    assert(files(1).nonEmpty)
    assert(untouched.forall { case (b, fs) => files(b) == fs },
      "partitions outside the value set must keep their file names and mtimes")
    assert(content() == expected)
    // replay: the same rewrite over the rewritten layout lands on the same state
    rewriteOnce("rw2")
    assert(content() == expected, "a replayed rewrite must land on identical content")
    assert(files(3).isEmpty && stages(path).isEmpty)
    // an empty value set (a no-op delta) reads nothing and leaves every
    // partition as it was
    val before = (0 to 3).map(files)
    ServingLayout.rewrite(s, path, layout, Nil)(identity)
    assert((0 to 3).map(files) == before && content() == expected)
  }

  test("rewrite repacks a crowded partition outside its value set, and a " +
      "rewrite of nothing over a clean layout runs no job") {
    val s = spark
    import s.implicits._
    import java.nio.file.{Files, Paths}
    val path = graft.TempDirs.create("graft_slayout_crowd").resolve("t").toString
    (0L until 40L).map(i => (i, i % 4)).toDF("id", "b")
      .repartition(col("b")).write.partitionBy("b").parquet(path)
    // a second writer appends into partition 2, which is outside `values`
    Seq(42L, 46L).map(i => (i, i % 4)).toDF("id", "b")
      .repartition(col("b")).write.partitionBy("b").mode("append").parquet(path)
    val schema = s.read.parquet(path).schema
    val layout = ServingLayout.Artifact(schema, "b", "id")
    def files(b: Int): Map[String, Long] =
      Files.list(Paths.get(path, s"b=$b")).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .filter { p =>
          val n = p.getFileName.toString
          !n.startsWith("_") && !n.startsWith(".")
        }
        .map(p => p.getFileName.toString -> Files.getLastModifiedTime(p).toMillis)
        .toMap
    def content(): Set[(Long, Long)] =
      s.read.schema(schema).parquet(path)
        .select($"id", $"b".cast("long")).as[(Long, Long)].collect().toSet
    assert(files(2).size == 2, "construction: partition 2 must be crowded")
    val untouched = Seq(0, 3).map(b => b -> files(b)).toMap
    val expected = content().filter(_._1 != 1L)

    val executions = executionsOf(
      ServingLayout.rewrite(s, path, layout, Seq(1L))(_.where(col("id") =!= 1L)))
    assert(files(2).size == 1, "the crowded partition must be repacked to one file")
    assert(content() == expected, "the repack must leave the content unchanged")
    assert(untouched.forall { case (b, fs) => files(b) == fs },
      "uncrowded partitions outside the value set must keep their file names and mtimes")
    assert(executions.nonEmpty && executions.forall(_ != null) &&
      executions.distinct.length == 1,
      s"the repack rides the rewrite's one execution: $executions")
    assert(stages(path).isEmpty, s"a successful repack leaves no stage: ${stages(path)}")

    val before = (0 to 3).map(files)
    val none = executionsOf(ServingLayout.rewrite(s, path, layout, Nil)(identity))
    assert(none.isEmpty, s"a rewrite of nothing over a clean layout runs no job: $none")
    assert((0 to 3).map(files) == before && content() == expected)
  }

  test("inParallel runs every chain and reports every failure") {
    val ran = new java.util.concurrent.atomic.AtomicInteger()
    val e = intercept[IllegalStateException] {
      ServingLayout.inParallel(
        () => throw new IllegalStateException("chain a"),
        () => { ran.incrementAndGet(); () },
        () => throw new IllegalStateException("chain b"))
    }
    assert(ran.get == 1, "a failing chain must not stop its siblings")
    assert(e.getSuppressed.length == 1, s"one cause thrown, one suppressed: $e")
    assert((e.getMessage +: e.getSuppressed.map(_.getMessage)).toSet ==
      Set("chain a", "chain b"))
  }

  test("inParallel: a failing chain cancels its sibling's running job and " +
      "reports the cancellation") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val sc = spark.sparkContext
    val started = new CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskStart(e: org.apache.spark.scheduler.SparkListenerTaskStart): Unit =
        started.countDown()
    }
    // one row that sleeps for 60 s unless its task is killed first
    val sleepy = udf { (x: Long) =>
      val task = org.apache.spark.TaskContext.get()
      val until = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
      while (System.nanoTime() < until && !task.isInterrupted()) Thread.sleep(20)
      x
    }
    sc.addSparkListener(listener)
    val t0 = System.nanoTime()
    val e = try intercept[IllegalStateException] {
      ServingLayout.inParallel(
        () => { spark.range(1).select(sleepy(col("id"))).collect(); () },
        () => {
          assert(started.await(30, TimeUnit.SECONDS), "the sibling's task never started")
          throw new IllegalStateException("chain a")
        })
    } finally sc.removeSparkListener(listener)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 30, s"the failure must cut the sibling's 60 s job short: $secs s")
    assert(e.getMessage == "chain a", s"the first failure is thrown: $e")
    assert(e.getSuppressed.exists(s => String.valueOf(s.getMessage).toLowerCase.contains("cancel")),
      s"the sibling's cancellation must be reported: ${e.getSuppressed.toSeq}")
  }
}
