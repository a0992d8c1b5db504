package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** The point of k-means‖ seeding + multi-round Lloyd refinement is RECALL:
  * against the exact top-k oracle, the oversampled multi-round
  * configuration must strictly beat the legacy first-k-seeds single-round
  * one on the fixture embeddings (random 16-dim — the hard case: cells
  * barely separate, so centroid quality is the whole game). */
class IvfRecallSpec extends AnyFunSuite with SparkFixture {

  private val K = 3
  private def pred = col("vec_id") % 100 === 0

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("oversampled multi-round IVF strictly beats legacy first-k single-round recall") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    // 50 queries (vs the graded row's 5) so recall differences are signal,
    // not sampling noise; everything below is deterministic — no RNG
    val dense = col("vec_id") % 10 === 0
    val exact = pairs(Similarity.topKCosine(emb, dense, K))
    def hits(rounds: Int, oversample: Int): Int =
      (pairs(Similarity.topKCosineIvf(emb, dense, K,
        rounds = rounds, oversample = oversample)) & exact).size
    val legacy = hits(1, 1)       // first-k seeds, single refinement (r7 shape)
    val roundsOnly = hits(3, 1)   // more Lloyd rounds, legacy seeding
    val tuned = hits(3, 4)        // the graded default: k-means‖ seeds + 3 rounds
    info(s"legacy $legacy, rounds-only $roundsOnly, tuned $tuned of ${exact.size}")
    assert(tuned > legacy,
      s"recall must strictly improve: legacy $legacy, tuned $tuned / ${exact.size}")
    assert(tuned > roundsOnly,
      s"oversampled seeding must add recall beyond extra rounds alone: " +
        s"rounds-only $roundsOnly, tuned $tuned / ${exact.size}")
  }

  test("IVF-PQ finds planted exact copies at least as well as IVF-flat " +
      "at the same probe budget") {
    // Exact copies planted at +100000: both L2-near (what residual-PQ
    // ranks by) and cosine-near (what IVF-flat ranks by), so the two
    // index families are comparable on the same ground truth. An exact
    // copy achieves the MINIMUM possible ADC distance for its query (its
    // codes are the query's own nearest codes), so quantization cannot
    // hide it — recall may only drop to coarse-cell misses, which is the
    // probe budget both sides share.
    val base = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val emb = base.unionByName(
      base.where(col("vec_id") % 10 === 0)
        .withColumn("vec_id", col("vec_id") + 100000L))
    val isPlanted = col("vec_id") >= 100000L
    val truth = emb.where(isPlanted).select("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(0) - 100000L)).toSet
    def recall(df: DataFrame): Double = (pairs(df) & truth).size.toDouble / truth.size
    val rPq = recall(Similarity.topKIvfPq(emb, isPlanted, K, probes = 2))
    val rFlat = recall(Similarity.topKCosineIvf(emb, isPlanted, K, probes = 2))
    info(s"ivfpq $rPq, ivf-flat $rFlat over ${truth.size} planted copies")
    assert(rPq >= rFlat,
      s"IVF-PQ recall $rPq must not trail IVF-flat $rFlat at equal probes")
    assert(rPq >= 0.9, s"IVF-PQ must find nearly every planted copy, got $rPq")
  }

  test("incremental fold at frozen centroids is EXACTLY scratch assignment, " +
      "and the batch lands in the index") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val hist = emb.where(col("vec_id") % 20 =!= 3)
    val batch = emb.where(col("vec_id") % 20 === 3)
    val cents = Similarity.ivfCentroids(hist).localCheckpoint(true)
    // fold: history index + batch assigned at the SAME frozen centroids
    val folded = Similarity.ivfIndex(hist, cents)
      .unionByName(Similarity.ivfIndex(batch, cents))
    val scratch = Similarity.ivfIndex(emb, cents)
    def cellsOf(df: DataFrame): Set[(Long, Long)] =
      df.select("neighbor_id", "cell").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cellsOf(folded) == cellsOf(scratch),
      "per-vector assignment at fixed centroids must be order/batch-independent")
    // the batch is actually IN the folded index (not dropped by the union)
    val batchIds = batch.select("vec_id").collect().map(_.getLong(0)).toSet
    val foldedIds = folded.select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(batchIds.nonEmpty && batchIds.subsetOf(foldedIds),
      "every batch vector must be searchable after the fold")
    // and search over the folded index equals search over scratch
    val q = col("vec_id") % 100 === 0
    assert(pairs(Similarity.ivfSearch(folded, emb.where(q), cents, K))
        == pairs(Similarity.ivfSearch(scratch, emb.where(q), cents, K)),
      "fold ≡ scratch must extend through the probe-side search")
  }

  test("forget fold drops the subject from the index: filter ≡ scratch over " +
      "survivors at the frozen model, forgotten ids never surface") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val forget = col("vec_id") % 50 === 7
    // deployed model: trained on EVERYTHING (including the soon-forgotten)
    val cents = Similarity.ivfCentroids(emb).localCheckpoint(true)
    val folded = Similarity.ivfIndex(emb, cents).where(!forget)
    val scratch = Similarity.ivfIndex(emb.where(!forget), cents)
    def cellsOf(df: DataFrame): Set[(Long, Long)] =
      df.select("neighbor_id", "cell").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cellsOf(folded) == cellsOf(scratch),
      "dropping stored cell rows ≡ re-assigning the survivors (per-vector)")
    val q = col("vec_id") % 100 === 0
    val served = Similarity.ivfSearch(folded, emb.where(q), cents, K)
    assert(pairs(served) == pairs(Similarity.ivfSearch(scratch, emb.where(q), cents, K)),
      "forget fold ≡ scratch through the search")
    val forgotten = emb.where(forget).select("vec_id").collect().map(_.getLong(0)).toSet
    assert(forgotten.nonEmpty &&
        pairs(served).forall { case (_, n) => !forgotten.contains(n) },
      "a forgotten subject must never be served as a neighbor")
  }

  test("filtered search: pre-filter equals brute force over the allowed corpus, " +
      "post-filter serves only allowed ids and starves somewhere") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val q = col("vec_id") % 10 === 0 // 50 queries so starvation is likely
    val allow = col("vec_id") % 3 === 1
    val out = Similarity.filteredTopK(emb, q, allow).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    // driver-side brute force (test-only): exact filtered top-3 per query
    val vecs = emb.collect().map(r =>
      r.getLong(0) -> r.getAs[scala.collection.Seq[Float]](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val queryIds = vecs.keys.filter(_ % 10 == 0).toSeq
    val allowedIds = vecs.keys.filter(_ % 3 == 1).toSeq
    val want = queryIds.flatMap { qid =>
      allowedIds.filter(_ != qid)
        .map(n => (n, cos(vecs(qid), vecs(n))))
        .sortBy { case (n, c) => (-c, n) }.take(3).zipWithIndex
        .map { case ((n, _), i) => ("pre", qid, n, i + 1) }
    }.toSet
    assert(out.filter(_._1 == "pre").toSet == want,
      "pre-filter must be EXACT top-k over the allowed corpus")
    val post = out.filter(_._1 == "post")
    assert(post.forall(_._3 % 3 == 1), "post serves only allowed ids")
    val postCounts = queryIds.map(qid => post.count(_._2 == qid))
    assert(postCounts.forall(_ <= 3))
    assert(postCounts.exists(_ < 3),
      "with a 12-deep shortlist and 1/3 allowed, some query must starve")
  }

  test("in-place serving fold rewrites ONLY affected cell dirs, sweeps emptied " +
      "cells, and a replay repairs a torn fold") {
    val s = spark
    import s.implicits._
    import java.nio.file.{Files, Paths}
    // hand-made 4-dim model: three axis centroids
    val cents = Seq(
      (0L, Seq(1f, 0f, 0f, 0f), 1.0), (1L, Seq(0f, 1f, 0f, 0f), 1.0),
      (2L, Seq(0f, 0f, 1f, 0f), 1.0))
      .toDF("cid", "centv", "centn").localCheckpoint(true)
    // v1→cell0, v2→cell1, v3→cell2 (its ONLY member)
    val vecs = Seq(
      (1L, Seq(10f, 1f, 0f, 0f)), (2L, Seq(1f, 5f, 0f, 0f)),
      (3L, Seq(0f, 0f, 7f, 0f)))
      .toDF("vec_id", "embedding")
    val cellsDir = graft.TempDirs.create("graft_srvfold_t").resolve("cells").toString
    Similarity.ivfIndex(vecs, cents).repartition(col("cell"))
      .write.partitionBy("cell").parquet(cellsDir)
    def cellFiles(c: Long): Map[String, Long] = {
      val d = Paths.get(cellsDir, s"cell=$c")
      if (!Files.exists(d)) Map.empty
      else Files.list(d).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .map(p => p.getFileName.toString -> Files.getLastModifiedTime(p).toMillis)
        .toMap
    }
    val cell1Before = cellFiles(1L)
    assert(cell1Before.nonEmpty)
    // the delta: v3 re-embeds toward axis 0 — leaves cell2 EMPTY, lands in cell0
    val oldV = vecs.where($"vec_id" === 3L)
    val newV = Seq((3L, Seq(9f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    Similarity.ivfServingFold(s, cellsDir, oldV, newV, cents)
    val folded = s.read.parquet(cellsDir)
      .select($"cell".cast("long"), $"neighbor_id").as[(Long, Long)].collect().toSet
    assert(folded == Set((0L, 1L), (0L, 3L), (1L, 2L)),
      s"fold must equal scratch assignment of the post-delta vectors, got $folded")
    // the unaffected cell's files are untouched on disk — same names, same mtimes
    assert(cellFiles(1L) == cell1Before,
      "cell 1 was not in the delta's footprint; its bytes must not be rewritten")
    // the emptied cell 2 is deleted by the fold's swap, not left stale
    assert(cellFiles(2L).isEmpty, "the emptied cell's stale directory must be swept")
    // replay (a torn fold is repaired by re-running — determinism contract)
    Similarity.ivfServingFold(s, cellsDir, oldV, newV, cents)
    val replayed = s.read.parquet(cellsDir)
      .select($"cell".cast("long"), $"neighbor_id").as[(Long, Long)].collect().toSet
    assert(replayed == folded, "a replayed fold must land on the identical state")

    // the generalized removal set covers the whole lifecycle op matrix:
    // a pure DELETE (empty new side) drops v2 and sweeps its cell; a pure
    // INSERT (empty old side) lands v4 without touching other cells
    val none = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    Similarity.ivfServingFold(s, cellsDir,
      Seq((2L, Seq(1f, 5f, 0f, 0f))).toDF("vec_id", "embedding"), none, cents)
    assert(cellFiles(1L).isEmpty, "a pure delete must sweep the emptied cell")
    Similarity.ivfServingFold(s, cellsDir, none,
      Seq((4L, Seq(0f, 0f, 4f, 1f))).toDF("vec_id", "embedding"), cents)
    val afterOps = s.read.parquet(cellsDir)
      .select($"cell".cast("long"), $"neighbor_id").as[(Long, Long)].collect().toSet
    assert(afterOps == Set((0L, 1L), (0L, 3L), (2L, 4L)),
      s"delete then insert must land on the expected state, got $afterOps")

    // deleting EVERY vector leaves a footer-less layout; the next insert
    // fold must read it through the declared schema, not infer one
    Similarity.ivfServingFold(s, cellsDir, Seq(
      (1L, Seq(10f, 1f, 0f, 0f)), (3L, Seq(9f, 0f, 0f, 0f)),
      (4L, Seq(0f, 0f, 4f, 1f))).toDF("vec_id", "embedding"), none, cents)
    assert(Seq(0L, 1L, 2L).forall(c => cellFiles(c).isEmpty),
      "deleting every vector must sweep every cell")
    Similarity.ivfServingFold(s, cellsDir, none,
      Seq((5L, Seq(0f, 2f, 0f, 0f))).toDF("vec_id", "embedding"), cents)
    val afterEmpty = s.read.parquet(cellsDir)
      .select($"cell".cast("long"), $"neighbor_id").as[(Long, Long)].collect().toSet
    assert(afterEmpty == Set((1L, 5L)),
      s"an insert after emptying the layout must land on the expected state, got $afterEmpty")
  }

  test("the declared cellsSchema pins ivfIndex's analyzed schema " +
      "(compact/fold reads must never depend on footer inference)") {
    val s = spark
    import s.implicits._
    val cents = Seq((0L, Seq(1f, 0f), 1.0)).toDF("cid", "centv", "centn")
    // element nullability as a parquet read of embeddings yields it
    val idx = Similarity.ivfIndex(Seq((1L, Seq(1f, 2f))).toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding")), cents)
      .schema
    assert(
      idx.fields.map(f => (f.name, f.dataType)).sortBy(_._1).toSeq ==
        Similarity.ivfCells.schema.fields.map(f => (f.name, f.dataType))
          .sortBy(_._1).toSeq,
      s"cellsSchema drifted from ivfIndex: $idx vs ${Similarity.ivfCells.schema}")
  }

  test("partition-local repack: crowded partitions rewrite to one file with " +
      "identical content, uncrowded partitions keep their bytes, replay is a no-op") {
    val s = spark
    import s.implicits._
    import java.nio.file.{Files, Paths}
    val layout = graft.TempDirs.create("graft_cmp_t").resolve("cells").toString
    // cell 0 fragments across two append writes (the multi-writer shape);
    // cell 1 is written once and must stay untouched
    Seq((0L, 1L, "a"), (0L, 2L, "b")).toDF("cell", "neighbor_id", "payload")
      .repartition(col("cell")).write.partitionBy("cell")
      .mode("append").parquet(layout)
    Seq((0L, 3L, "c"), (1L, 4L, "d")).toDF("cell", "neighbor_id", "payload")
      .repartition(col("cell")).write.partitionBy("cell")
      .mode("append").parquet(layout)
    def files(c: Long): Map[String, Long] =
      Files.list(Paths.get(layout, s"cell=$c")).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .filter(p => !p.getFileName.toString.startsWith("_") &&
          !p.getFileName.toString.startsWith("."))
        .map(p => p.getFileName.toString -> Files.getLastModifiedTime(p).toMillis)
        .toMap
    assert(files(0L).size == 2, "construction: cell 0 must be fragmented")
    val cell1Before = files(1L)
    def content(): Set[(Long, Long, String)] =
      s.read.parquet(layout).select($"cell".cast("long"), $"neighbor_id", $"payload")
        .as[(Long, Long, String)].collect().toSet
    val before = content()
    val layoutSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("neighbor_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("payload",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("cell",
        org.apache.spark.sql.types.LongType)))
    val layoutArtifact = ServingLayout.Artifact(layoutSchema, "cell", "neighbor_id")
    ServingLayout.compact(s, layout, layoutArtifact)
    assert(files(0L).size == 1, "the crowded cell must repack to one file")
    assert(content() == before, "the repack must be content-identical")
    assert(files(1L) == cell1Before,
      "an uncrowded cell is outside the repack; its bytes must not move")
    // replay: nothing is crowded anymore — the repack must not touch disk
    val afterOnce = files(0L)
    ServingLayout.compact(s, layout, layoutArtifact)
    assert(files(0L) == afterOnce && files(1L) == cell1Before,
      "a replayed compaction over a clean layout must be a no-op")
  }

  test("snapshot-isolated fold: a pinned gen-1 reader survives the flip on " +
      "intact bytes, a fresh read sees the fold, grace lasts exactly one cycle") {
    val s = spark
    import s.implicits._
    import graft.streaming.StateStream
    val cents = Seq(
      (0L, Seq(1f, 0f, 0f, 0f), 1.0), (1L, Seq(0f, 1f, 0f, 0f), 1.0))
      .toDF("cid", "centv", "centn").localCheckpoint(true)
    val vecs = Seq(
      (1L, Seq(10f, 1f, 0f, 0f)), (2L, Seq(1f, 5f, 0f, 0f)),
      (3L, Seq(8f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val layout = graft.TempDirs.create("graft_isogen_t").resolve("layout").toString
    StateStream.publishState(s, layout) { stage =>
      Similarity.ivfIndex(vecs, cents).repartition(col("cell"))
        .write.partitionBy("cell").parquet(stage.toString)
    }
    val gen1 = StateStream.statePath(s, layout)
    val fs = new org.apache.hadoop.fs.Path(layout)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    // the long-running reader resolves generation 1 here
    val pinned = s.read.parquet(gen1)
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select($"neighbor_id").as[Long].collect().toSet
    val subject = vecs.where($"vec_id" === 3L)
    StateStream.foldIsolatedGen(s, layout) { gen =>
      Similarity.ivfServingFold(s, gen, subject, subject.where(lit(false)), cents)
    }
    assert(StateStream.statePath(s, layout) != gen1,
      "the flip must advance the generation")
    assert(ids(s.read.parquet(StateStream.statePath(s, layout))) == Set(1L, 2L),
      "a fresh read must serve the folded state")
    assert(ids(pinned) == Set(1L, 2L, 3L),
      "the pinned pre-flip reader must serve the pre-fold view on intact bytes")
    assert(fs.exists(new org.apache.hadoop.fs.Path(gen1)),
      "the superseded generation survives the flip")
    // one more flip: the graced generation retires — exactly one cycle
    StateStream.foldIsolatedGen(s, layout) { _ => () }
    assert(!fs.exists(new org.apache.hadoop.fs.Path(gen1)),
      "grace lasts exactly one publish cycle")
  }
}
