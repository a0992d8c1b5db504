package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The SimHash serving layout's fold contract — the value-granularity
  * member of the in-place fold family. The distinctive semantic beside
  * the per-doc-pure siblings: a value's band rows must exist iff ≥ 1
  * member remains, and that LIVENESS re-derives from the post-fold
  * membership registry (never a carried count). */
class SimhashServingSpec extends AnyFunSuite with graft.SparkFixture {

  private val vSchema = new org.apache.spark.sql.types.StructType()
    .add("band", "int").add("bv", "long").add("simhash", "long").add("sband", "long")
  private val mSchema = new org.apache.spark.sql.types.StructType()
    .add("simhash", "long").add("id", "long").add("vbucket", "long")

  private def layoutRows(vrowsPath: String, docsPath: String)
      : (Set[Seq[String]], Set[Seq[String]]) = {
    def rows(df: DataFrame, cols: Seq[String]) =
      df.select(cols.map(c => col(c).cast("string")): _*)
        .collect().map(_.toSeq.map(String.valueOf)).toSet
    (rows(spark.read.schema(vSchema).parquet(vrowsPath),
        Seq("sband", "band", "bv", "simhash")),
      rows(spark.read.schema(mSchema).parquet(docsPath),
        Seq("vbucket", "simhash", "id")))
  }

  private implicit class DfOps(rows: Seq[(Long, String)]) {
    def toDF2(s: org.apache.spark.sql.SparkSession): DataFrame = {
      import s.implicits._
      rows.toDF("doc_id", "text")
    }
  }

  private def scratchRows(docs: DataFrame): (Set[Seq[String]], Set[Seq[String]]) = {
    val (vrows, members) = Dedup.simhashServingRows(docs, buckets = 16)
    def rows(df: DataFrame, cols: Seq[String]) =
      df.select(cols.map(c => col(c).cast("string")): _*)
        .collect().map(_.toSeq.map(String.valueOf)).toSet
    (rows(vrows, Seq("sband", "band", "bv", "simhash")),
      rows(members, Seq("vbucket", "simhash", "id")))
  }

  test("value liveness: deleting one member of a shared value keeps its band " +
      "rows; deleting the LAST member drops them; replay is idempotent") {
    val s = spark
    val shared = "alpha beta gamma delta"
    val pre = Seq((1L, shared), (2L, shared), (3L, "one two three four"))
    val base = graft.TempDirs.create("graft_shsrv_live")
    val vrowsPath = base.resolve("vrows").toString
    val docsPath = base.resolve("docs").toString
    Dedup.simhashWriteServingLayout(pre.toDF2(s), vrowsPath, docsPath)

    // delete doc 1 — doc 2 still owns the shared value
    val d1 = pre.toDF2(s).where(col("doc_id") === 1L)
    Dedup.simhashServingFold(s, vrowsPath, docsPath, d1, d1.where(lit(false)))
    val after1 = layoutRows(vrowsPath, docsPath)
    assert(after1 == scratchRows(Seq((2L, shared), (3L, "one two three four")).toDF2(s)),
      "a shared value must SURVIVE its non-last member's deletion")

    // replay the same deletion — idempotent
    Dedup.simhashServingFold(s, vrowsPath, docsPath, d1, d1.where(lit(false)))
    assert(layoutRows(vrowsPath, docsPath) == after1,
      "a replayed deletion must land on the identical state")

    // delete doc 2 — the value's LAST member
    val d2 = pre.toDF2(s).where(col("doc_id") === 2L)
    Dedup.simhashServingFold(s, vrowsPath, docsPath, d2, d2.where(lit(false)))
    assert(layoutRows(vrowsPath, docsPath) ==
      scratchRows(Seq((3L, "one two three four")).toDF2(s)),
      "a value whose last member left must leave the value table")
  }

  test("in-place fold equals scratch on both artifacts; untouched band " +
      "buckets keep their bytes; delete+insert replay lands on scratch") {
    val s = spark
    import java.nio.file.{Files, Paths}
    val pre = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "one two three four five"),
      (3L, "red green blue cyan magenta"))
    val newDocs = Seq((3L, "north south east west"))
    val post = Seq(pre(0), pre(1), newDocs(0))
    val base = graft.TempDirs.create("graft_shsrv_f")
    val vrowsPath = base.resolve("vrows").toString
    val docsPath = base.resolve("docs").toString
    Dedup.simhashWriteServingLayout(pre.toDF2(s), vrowsPath, docsPath)

    def sbandsOf(rows: Seq[(Long, String)]): Set[Long] =
      Dedup.simhashServingRows(rows.toDF2(s), buckets = 16)._1
        .select(col("sband")).distinct().collect().map(_.getLong(0)).toSet
    val touched = sbandsOf(Seq(pre(2))) ++ sbandsOf(newDocs)
    val untouched = sbandsOf(pre.take(2)) -- touched
    def files(b: Long): Map[String, Long] = {
      val d = Paths.get(vrowsPath, s"sband=$b")
      if (!Files.exists(d)) Map.empty
      else Files.list(d).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .map(p => p.getFileName.toString -> Files.getLastModifiedTime(p).toMillis).toMap
    }
    val before = untouched.map(b => b -> files(b)).toMap

    Dedup.simhashServingFold(s, vrowsPath, docsPath,
      pre.toDF2(s).where(col("doc_id") === 3L), newDocs.toDF2(s))
    assert(layoutRows(vrowsPath, docsPath) == scratchRows(post.toDF2(s)),
      "folded value table AND membership registry must equal scratch")
    assert(untouched.forall(b => files(b) == before(b)),
      "band buckets outside the delta's value footprint must keep their bytes")

    // delete doc 2, insert doc 9 — replayed
    val del2 = post.toDF2(s).where(col("doc_id") === 2L)
    val ins2 = Seq((9L, "gold silver bronze iron"))
    def fold(): Unit = Dedup.simhashServingFold(
      s, vrowsPath, docsPath, del2, ins2.toDF2(s))
    fold(); fold()
    val post2 = Seq(post(0), post(2), ins2(0))
    assert(layoutRows(vrowsPath, docsPath) == scratchRows(post2.toDF2(s)),
      "replayed delete+insert must equal scratch over the post-delta corpus")
  }

  test("probe broadcast gate: the pair-derived candidate-value dim falls " +
      "back to merge-hinted shuffled joins with identical pairs") {
    val s = spark
    val shared = "alpha beta gamma delta epsilon"
    val hist = Seq((1L, shared), (2L, "one two three four five"))
    val batch = Seq((10L, shared))
    val base = graft.TempDirs.create("graft_shgate_t")
    val vrowsPath = base.resolve("vrows").toString
    val docsPath = base.resolve("docs").toString
    Dedup.simhashWriteServingLayout(hist.toDF2(s), vrowsPath, docsPath)
    def pairsOf(limit: Long): Set[Seq[String]] =
      Dedup.simhashServingProbe(s, vrowsPath, docsPath, batch.toDF2(s),
        broadcastBytes = limit)
        .collect().map(_.toSeq.map(String.valueOf)).toSet
    val gated = pairsOf(Long.MaxValue)
    assert(gated.nonEmpty, "the planted equal-fingerprint doc must pair")
    val forced = Dedup.simhashServingCandidates(s, vrowsPath, docsPath,
      batch.toDF2(s), broadcastBytes = 0L)
    forced.collect()
    val plan = forced.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"),
      s"tripped gate must plan a shuffled candidate join, got:\n$plan")
    assert(pairsOf(0L) == gated, "both arms must produce identical pairs")
  }

  test("simhashServingProbe runs 6 SQL executions, the caller's action included") {
    val s = spark
    val shared = "alpha beta gamma delta epsilon"
    val base = graft.TempDirs.create("graft_shexec_t")
    val vrowsPath = base.resolve("vrows").toString
    val docsPath = base.resolve("docs").toString
    Dedup.simhashWriteServingLayout(
      Seq((1L, shared), (2L, "one two three four five")).toDF2(s), vrowsPath, docsPath)
    var pairs = 0
    val executions = executionsOf {
      pairs = Dedup.simhashServingProbe(s, vrowsPath, docsPath,
        Seq((10L, shared)).toDF2(s)).collect().length
    }
    assert(pairs > 0, "the planted equal-fingerprint doc must pair")
    // signing, value bands, value pairs, candidate values, the probe's
    // checkpoint and the caller's action
    assert(executions.forall(_ != null) && executions.distinct.length == 6,
      s"probe SQL executions: ${executions.distinct}")
  }

  test("simhashServingFold runs at most 7 SQL executions") {
    val s = spark
    import s.implicits._
    val corpus = (1L to 40L).map(i =>
      (i, s"w${i % 7} w${i % 5} w${i % 3} term$i alpha beta gamma")).toDF("doc_id", "text")
    val oldDocs = corpus.where($"doc_id" <= 5L)
    val newDocs = oldDocs.select($"doc_id", concat($"text", lit(" delta epsilon")).as("text"))
    val base = graft.TempDirs.create("graft_shfoldexec_t")
    val vrowsPath = base.resolve("vrows").toString
    val docsPath = base.resolve("docs").toString
    Dedup.simhashWriteServingLayout(corpus, vrowsPath, docsPath)
    val executions = executionsOf {
      Dedup.simhashServingFold(s, vrowsPath, docsPath, oldDocs, newDocs)
    }
    // one fingerprint checkpoint per side, the candidate values, then per
    // artifact the fold's delta materialization (which observes its
    // partitions) and the rewrite's staged write
    assert(executions.forall(_ != null) && executions.distinct.length <= 7,
      s"fold SQL executions: ${executions.distinct}")
  }

  test("simhashPairsFrom runs 1 SQL execution, the caller's action") {
    val s = spark
    val shared = "alpha beta gamma delta epsilon"
    val base = graft.TempDirs.create("graft_shpairs_t")
    val vrowsPath = base.resolve("vrows").toString
    val docsPath = base.resolve("docs").toString
    Dedup.simhashWriteServingLayout(
      Seq((1L, shared), (2L, "one two three four five"), (3L, shared)).toDF2(s),
      vrowsPath, docsPath)
    var pairs = 0
    val executions = executionsOf {
      pairs = Dedup.simhashPairsFrom(Dedup.simhashVrows.read(s, vrowsPath),
        Dedup.simhashDocs.read(s, docsPath)).collect().length
    }
    assert(pairs > 0, "the planted equal-fingerprint docs must pair")
    // the cap is a window inside the listing's own plan, not a collect
    assert(executions.forall(_ != null) && executions.distinct.length == 1,
      s"listing SQL executions: ${executions.distinct}")
  }
}
