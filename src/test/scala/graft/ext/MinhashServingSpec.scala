package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The LSH serving layout's fold contract — the dedup member of the
  * in-place partitioned-layout family (the IVF/BM25 folds' sibling):
  * fold ≡ scratch, untouched buckets keep their bytes on disk, emptied
  * buckets are swept, and replay (the torn-fold repair) lands on the
  * identical state. */
class MinhashServingSpec extends AnyFunSuite with graft.SparkFixture {

  private def layoutRows(bandsPath: String, fpsPath: String)
      : (Set[Seq[String]], Set[Seq[String]]) = {
    def rows(df: DataFrame, cols: Seq[String]) =
      df.select(cols.map(c => col(c).cast("string")): _*)
        .collect().map(_.toSeq.map(String.valueOf)).toSet
    val b = spark.read.parquet(bandsPath)
    val f = spark.read.parquet(fpsPath)
    (rows(b, Seq("pbucket", "band", "sig", "id")),
      rows(f, Seq("fbucket", "sigfp", "id")))
  }

  private def scratchRows(docs: DataFrame, buckets: Int)
      : (Set[Seq[String]], Set[Seq[String]]) = {
    val (bands, fps) = Dedup.minhashServingRows(docs, buckets = buckets)
    def rows(df: DataFrame, cols: Seq[String]) =
      df.select(cols.map(c => col(c).cast("string")): _*)
        .collect().map(_.toSeq.map(String.valueOf)).toSet
    (rows(bands, Seq("pbucket", "band", "sig", "id")),
      rows(fps, Seq("fbucket", "sigfp", "id")))
  }

  test("in-place LSH serving fold equals scratch, untouched buckets keep " +
      "their bytes, emptied buckets swept, replay repairs") {
    val s = spark
    import s.implicits._
    import java.nio.file.{Files, Paths}
    val B = 64 // enough buckets that a 3-doc corpus leaves some untouched
    val pre = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven"),
      (3L, "red green blue cyan magenta yellow black white")
    ).toDF("doc_id", "text")
    val newDocs = Seq((3L, "north south east west up down")).toDF("doc_id", "text")
    val post = pre.where($"doc_id" =!= 3L).unionByName(newDocs)

    val base = graft.TempDirs.create("graft_mhsrvf_t")
    val bandsPath = base.resolve("bands").toString
    val fpsPath = base.resolve("fps").toString
    Dedup.writeServingLayout(pre, bandsPath, fpsPath, buckets = B)

    def bucketsOf(docs: DataFrame): Set[Long] =
      Dedup.minhashServingRows(docs, buckets = B)._1
        .select($"pbucket").distinct().collect().map(_.getLong(0)).toSet
    val oldB = bucketsOf(pre.where($"doc_id" === 3L))
    val newB = bucketsOf(newDocs)
    val keepB = bucketsOf(pre.where($"doc_id" =!= 3L))
    val untouched = keepB -- oldB -- newB
    assert(untouched.nonEmpty, "construction must leave some band bucket untouched")
    val sweepable = oldB -- newB -- keepB
    assert(sweepable.nonEmpty, "construction must empty at least one band bucket")

    def filesUnder(d: java.nio.file.Path): Map[String, Long] =
      if (!Files.exists(d)) Map.empty
      else Files.list(d).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .map(p => p.getFileName.toString -> Files.getLastModifiedTime(p).toMillis).toMap
    def files(b: Long): Map[String, Long] =
      filesUnder(Paths.get(bandsPath, s"pbucket=$b"))
    val beforeFiles = untouched.map(b => b -> files(b)).toMap

    Dedup.minhashServingFold(s, bandsPath, fpsPath,
      pre.where($"doc_id" === 3L), newDocs, buckets = B)

    val want = scratchRows(post, B)
    assert(layoutRows(bandsPath, fpsPath) == want,
      "folded band rows AND fingerprint registry must equal scratch")
    assert(untouched.forall(b => files(b) == beforeFiles(b)),
      "band buckets outside the delta's signature footprint must keep their bytes")
    assert(sweepable.forall(b => files(b).isEmpty),
      s"emptied band buckets $sweepable must be swept from disk")

    // replay: deterministic in (state, delta) — a torn fold repairs by re-run
    Dedup.minhashServingFold(s, bandsPath, fpsPath,
      pre.where($"doc_id" === 3L), newDocs, buckets = B)
    assert(layoutRows(bandsPath, fpsPath) == want,
      "a replayed fold must land on the identical state")

    // replayed DELETE + INSERT through the same generalized primitive —
    // nothing is carried, so the re-delivered batch is a no-op
    val del2 = post.where($"doc_id" === 2L)
    val ins2 = Seq((9L, "gold silver bronze iron copper tin")).toDF("doc_id", "text")
    // delete doc 2 (old side only), insert doc 9 (new side only)
    def foldDelIns(): Unit = Dedup.minhashServingFold(
      s, bandsPath, fpsPath, del2, ins2, buckets = B)
    foldDelIns()
    foldDelIns() // the re-delivered batch
    val post2 = post.where($"doc_id" =!= 2L).unionByName(ins2)
    assert(layoutRows(bandsPath, fpsPath) == scratchRows(post2, B),
      "replayed delete+insert must equal scratch over the post-delta corpus")
  }

  test("the fold's replacement read is statically pruned to affected buckets " +
      "— a corrupt file in an unaffected bucket is never opened") {
    val s = spark
    import s.implicits._
    import java.nio.file.{Files, Paths}
    val B = 64
    val pre = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven"),
      (3L, "red green blue cyan magenta yellow black white")
    ).toDF("doc_id", "text")
    val newDocs = Seq((3L, "north south east west up down")).toDF("doc_id", "text")
    val base = graft.TempDirs.create("graft_mhsrvf_p")
    val bandsPath = base.resolve("bands").toString
    val fpsPath = base.resolve("fps").toString
    Dedup.writeServingLayout(pre, bandsPath, fpsPath, buckets = B)
    def bucketsOf(docs: org.apache.spark.sql.DataFrame): Set[Long] =
      Dedup.minhashServingRows(docs, buckets = B)._1
        .select($"pbucket").distinct().collect().map(_.getLong(0)).toSet
    val touched = bucketsOf(pre.where($"doc_id" === 3L)) ++ bucketsOf(newDocs)
    val untouched = bucketsOf(pre.where($"doc_id" =!= 3L)) -- touched
    assert(untouched.nonEmpty, "construction must leave an untouched bucket")
    // replace an untouched bucket's data file (and its checksum) with a
    // corrupt one: the explicit-schema read never opens footers at
    // planning time, so ONLY a scan task that actually reads this bucket
    // would crash — the statically pruned fold must succeed (the
    // semi-join form scanned every bucket and would throw here). The
    // bucket keeps exactly one data file, so the rewrite's crowded-
    // partition repack leaves it alone too
    val plantDir = Paths.get(bandsPath, s"pbucket=${untouched.head}")
    Files.list(plantDir).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.matches("""\.?part-.*"""))
      .foreach(Files.delete(_))
    Files.write(plantDir.resolve("part-corrupt.parquet"),
      "not a parquet file".getBytes)
    Dedup.minhashServingFold(s, bandsPath, fpsPath,
      pre.where($"doc_id" === 3L), newDocs, buckets = B)
    // the affected buckets' content landed correctly despite the plant
    // (explicit schema — inference would open the corrupt footer)
    val wantDf = Dedup.minhashServingRows(
      pre.where($"doc_id" =!= 3L).unionByName(newDocs), buckets = B)._1
    val want = wantDf
      .where($"pbucket".isin(touched.toSeq.map(Long.box): _*))
      .select($"pbucket", $"band", $"sig", $"id")
      .collect().map(_.toSeq).toSet
    val folded = s.read.schema(wantDf.schema).parquet(bandsPath)
      .where($"pbucket".isin(touched.toSeq.map(Long.box): _*))
      .select($"pbucket", $"band", $"sig", $"id")
      .collect().map(_.toSeq).toSet
    assert(folded == want, "affected buckets must hold the folded content")
  }

  test("repack of a fragmented band layout is content-identical, 1 file per " +
      "bucket, and a replay over the clean layout is a no-op") {
    val s = spark
    import s.implicits._
    import java.nio.file.{Files, Paths}
    val docs = (1L to 8L).map(i =>
      (i, s"w$i x$i y$i z$i q$i r$i s$i t$i")).toDF("doc_id", "text")
    val base = graft.TempDirs.create("graft_mhcmp_t")
    val bandsPath = base.resolve("bands").toString
    // two parallel range-sliced appends fragment every bucket they share
    val (rows0, _) = Dedup.minhashServingRows(docs)
    val r0 = rows0.localCheckpoint(true)
    r0.where($"id" <= 4L).repartition(col("pbucket"))
      .write.partitionBy("pbucket").mode("append").parquet(bandsPath)
    r0.where($"id" > 4L).repartition(col("pbucket"))
      .write.partitionBy("pbucket").mode("append").parquet(bandsPath)
    def rows(): Set[Seq[String]] =
      s.read.parquet(bandsPath)
        .select(Seq("pbucket", "band", "sig", "id").map(c => col(c).cast("string")): _*)
        .collect().map(_.toSeq.map(String.valueOf)).toSet
    def fileCounts(): Map[String, Int] = {
      val root = Paths.get(bandsPath)
      Files.list(root).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("pbucket="))
        .map { p =>
          p.getFileName.toString ->
            Files.list(p).toArray.map(_.asInstanceOf[java.nio.file.Path])
              .count { f =>
                val n = f.getFileName.toString
                Files.isRegularFile(f) && !n.startsWith("_") && !n.startsWith(".")
              }
        }.toMap
    }
    val before = rows()
    assert(fileCounts().values.exists(_ > 1), "construction must fragment a bucket")
    ServingLayout.compact(s, bandsPath, Dedup.minhashBands)
    assert(rows() == before, "the repack must be content-identical")
    assert(fileCounts().values.forall(_ == 1), "every crowded bucket repacks to 1 file")
    val mtimes = Files.list(Paths.get(bandsPath)).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis).toMap
    ServingLayout.compact(s, bandsPath, Dedup.minhashBands) // replay over a clean layout
    val mtimes2 = Files.list(Paths.get(bandsPath)).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis).toMap
    assert(mtimes2 == mtimes, "a re-run that finds nothing crowded is a no-op")
  }

  test("a fold onto a fragmented layout repacks every crowded bucket and " +
      "lands equal to scratch") {
    val s = spark
    import s.implicits._
    import java.nio.file.{Files, Paths}
    val docs = (1L to 12L).map(i =>
      (i, s"w$i x$i y$i z$i q${i % 3} r${i % 3} s${i % 3} t${i % 3}"))
      .toDF("doc_id", "text")
    val revised = Seq((3L, "w1 x1 y1 z1 q1 r1 s1 t1 u3")).toDF("doc_id", "text")
    val base = graft.TempDirs.create("graft_mhfragfold_t")
    val bandsPath = base.resolve("bands").toString
    val fpsPath = base.resolve("fps").toString
    // two parallel range-sliced appends fragment every bucket they share
    val (bands0, fps0) = Dedup.minhashServingRows(docs)
    Seq((bands0, "pbucket", bandsPath), (fps0, "fbucket", fpsPath)).foreach {
      case (rows, partCol, path) =>
        val r = rows.localCheckpoint(true)
        r.where($"id" <= 6L).repartition(col(partCol))
          .write.partitionBy(partCol).mode("append").parquet(path)
        r.where($"id" > 6L).repartition(col(partCol))
          .write.partitionBy(partCol).mode("append").parquet(path)
    }
    def fileCounts(root: String): Map[Long, Int] =
      Files.list(Paths.get(root)).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(Files.isDirectory(_))
        .map { p =>
          p.getFileName.toString.split("=")(1).toLong ->
            Files.list(p).toArray.map(_.asInstanceOf[java.nio.file.Path])
              .count { f =>
                val n = f.getFileName.toString
                Files.isRegularFile(f) && !n.startsWith("_") && !n.startsWith(".")
              }
        }.toMap
    val touched = Seq(docs.where($"doc_id" === 3L), revised)
      .flatMap(d => Dedup.minhashServingRows(d)._1.select($"pbucket")
        .collect().map(_.getLong(0))).toSet
    assert(fileCounts(bandsPath).exists { case (b, n) => n > 1 && !touched(b) },
      "construction must fragment a bucket the delta does not touch")
    Dedup.minhashServingFold(s, bandsPath, fpsPath,
      docs.where($"doc_id" === 3L), revised)
    assert(fileCounts(bandsPath).values.forall(_ == 1) &&
      fileCounts(fpsPath).values.forall(_ == 1),
      s"every bucket must hold one data file after the fold: " +
        s"${fileCounts(bandsPath)} ${fileCounts(fpsPath)}")
    val post = docs.where($"doc_id" =!= 3L).unionByName(revised)
    val scratch = graft.TempDirs.create("graft_mhfragfold_s")
    Dedup.writeServingLayout(post, scratch.resolve("bands").toString,
      scratch.resolve("fps").toString)
    def pairs(bands: String, fps: String): Set[Seq[Any]] =
      Dedup.minhashPairsFrom(Dedup.minhashBands.read(s, bands),
        Dedup.minhashFps.read(s, fps), post).collect().map(_.toSeq).toSet
    val want = pairs(scratch.resolve("bands").toString, scratch.resolve("fps").toString)
    assert(want.nonEmpty, "construction must yield near-duplicate pairs")
    assert(pairs(bandsPath, fpsPath) == want,
      "the folded fragmented layout must answer the scratch build's pairs")
  }

  test("probe broadcast gate: a tripped gate falls back to merge-hinted " +
      "shuffled joins with identical pairs") {
    val s = spark
    import s.implicits._
    val B = 64
    val hist = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven")).toDF("doc_id", "text")
    val batch = Seq((10L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val store = hist.unionByName(batch)
    val base = graft.TempDirs.create("graft_mhgate_t")
    val bandsPath = base.resolve("bands").toString
    val fpsPath = base.resolve("fps").toString
    Dedup.writeServingLayout(hist, bandsPath, fpsPath, buckets = B)
    def pairs(limit: Long): Set[Seq[String]] =
      Dedup.minhashServingProbe(s, bandsPath, fpsPath, batch, store,
        buckets = B, broadcastBytes = limit)
        .collect().map(_.toSeq.map(String.valueOf)).toSet
    val gated = pairs(Long.MaxValue)
    assert(gated.nonEmpty, "the planted exact dup must pair")
    // the forced arm: candidates plan SMJ for the probe joins (the merge
    // hint is REQUIRED — the planner would re-broadcast the small side
    // on its size estimate otherwise, the r11 gated-join lesson)
    val forced = Dedup.minhashServingCandidates(s, bandsPath, fpsPath, batch,
      buckets = B, broadcastBytes = 0L)
    forced.collect()
    val plan = forced.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"),
      s"tripped gate must plan a shuffled probe join, got:\n$plan")
    assert(pairs(0L) == gated, "both arms must produce identical pairs")
  }

  test("probe broadcast gate boundary: the band gate counts band rows, " +
      "NumBands per document") {
    val s = spark
    import s.implicits._
    val B = 64
    val hist = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven")).toDF("doc_id", "text")
    // 13 repeats 12, so the batch's DISTINCT band rows are fewer than its
    // k·NumBands band rows and a gate counting either docs or distinct
    // rows would not trip one byte below the limit
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"),
      (11L, "one two three four five six seven eight"),
      (12L, "red green blue cyan magenta yellow"),
      (13L, "red green blue cyan magenta yellow")).toDF("doc_id", "text")
    val k = 4L
    val base = graft.TempDirs.create("graft_mhgate_b")
    val bandsPath = base.resolve("bands").toString
    val fpsPath = base.resolve("fps").toString
    Dedup.writeServingLayout(hist, bandsPath, fpsPath, buckets = B)
    // every join in the executed plan, as (node name, key columns); AQE's
    // stages are entered and a reused exchange is a leaf, so a join that
    // feeds a reused stage counts once
    def joins(p: org.apache.spark.sql.execution.SparkPlan): Seq[(String, Seq[String])] =
      p.flatMap {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
          Seq(j.nodeName -> j.leftKeys.flatMap(_.references.map(_.name)))
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          joins(q.plan)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          joins(a.executedPlan)
        case _ => Nil
      }
    def run(limit: Long): (Set[Seq[String]], Seq[(String, Seq[String])]) = {
      val cand = Dedup.minhashServingCandidates(s, bandsPath, fpsPath, batch,
        buckets = B, broadcastBytes = limit)
      val pairs = cand.collect().map(_.toSeq.map(String.valueOf)).toSet
      (pairs, joins(cand.queryExecution.executedPlan))
    }
    val bandJoin = Seq("pbucket", "band", "sig")
    def shuffled(js: Seq[(String, Seq[String])]) = js.filter(_._1 == "SortMergeJoin").map(_._2)
    val limit = k * Dedup.NumBands * Dedup.MinhashBandRowBytes
    val (atLimit, joinsAt) = run(limit)
    val (below, joinsBelow) = run(limit - 1)
    assert(atLimit.nonEmpty, "the planted exact dup must pair")
    assert(shuffled(joinsAt).isEmpty,
      s"k·NumBands band rows fit a limit of exactly their bytes, shuffled: $joinsAt")
    // the cap and the pairs read one pass over the probed groups, so the
    // pruned band scan and its dim join run once in either arm
    assert(joinsAt.count(_._2 == bandJoin) == 1, s"band join planned once: $joinsAt")
    assert(shuffled(joinsBelow) == Seq(bandJoin),
      s"one byte less must trip the band gate alone, shuffled once: $joinsBelow")
    assert(below == atLimit, "both arms must produce identical pairs")
  }

  test("minhashServingProbe runs 4 SQL executions, the caller's action included") {
    val s = spark
    import s.implicits._
    val B = 64
    val hist = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven")).toDF("doc_id", "text")
    val batch = Seq((10L, "alpha beta gamma delta epsilon zeta"),
      (11L, "one two three four five six seven eight")).toDF("doc_id", "text")
    val base = graft.TempDirs.create("graft_mhexec_t")
    val bandsPath = base.resolve("bands").toString
    val fpsPath = base.resolve("fps").toString
    Dedup.writeServingLayout(hist, bandsPath, fpsPath, buckets = B)
    var pairs = 0
    val executions = executionsOf {
      pairs = Dedup.minhashServingProbe(s, bandsPath, fpsPath, batch,
        hist.unionByName(batch), buckets = B).collect().length
    }
    assert(pairs > 0, "the planted exact dup must pair")
    // signing (observes buckets and count), candidates, verify shingles,
    // and the caller's action
    assert(executions.forall(_ != null) && executions.distinct.length == 4,
      s"probe SQL executions: ${executions.distinct}")
  }

  test("minhashServingFold runs at most 6 SQL executions") {
    val s = spark
    import s.implicits._
    val corpus = (1L to 40L).map(i =>
      (i, s"w${i % 7} w${i % 5} w${i % 3} term$i alpha beta gamma")).toDF("doc_id", "text")
    val oldDocs = corpus.where($"doc_id" <= 5L)
    val newDocs = oldDocs.select($"doc_id", concat($"text", lit(" delta epsilon")).as("text"))
    val base = graft.TempDirs.create("graft_mhfoldexec_t")
    val bandsPath = base.resolve("bands").toString
    val fpsPath = base.resolve("fps").toString
    Dedup.writeServingLayout(corpus, bandsPath, fpsPath)
    val executions = executionsOf {
      Dedup.minhashServingFold(s, bandsPath, fpsPath, oldDocs, newDocs)
    }
    // one signing checkpoint per side, then per artifact the fold's delta
    // materialization (which observes its partitions) and the rewrite's
    // staged write
    assert(executions.forall(_ != null) && executions.distinct.length <= 6,
      s"fold SQL executions: ${executions.distinct}")
  }

  test("a fold that empties EVERY partition leaves a readable empty layout " +
      "(explicit schemas — the footer-less directory lesson)") {
    val s = spark
    import s.implicits._
    val pre = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val base = graft.TempDirs.create("graft_mhsrvf_e")
    val bandsPath = base.resolve("bands").toString
    val fpsPath = base.resolve("fps").toString
    Dedup.writeServingLayout(pre, bandsPath, fpsPath)
    Dedup.minhashServingFold(s, bandsPath, fpsPath, pre, pre.where(lit(false)))
    // both layouts emptied and swept — the next probe must read n=0 state,
    // not crash on schema inference
    val probe = Dedup.minhashServingProbe(s, bandsPath, fpsPath,
      pre, pre) // the doc re-arrives as a fresh batch
    assert(probe.count() == 0L,
      "an emptied layout answers the probe with zero stored candidates")
  }
}
