package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The MULTI-TABLE embedding near-dup serving layout — the production
  * configuration of the vector index (4 tables × 4 planes): fold ≡
  * scratch, replay idempotence, and the RECALL fact that justifies its
  * existence (the single 8-plane table provably misses planted
  * non-colinear near-dups the multi-table candidates find).
  */
class EmbMultiServingSpec extends AnyFunSuite with graft.SparkFixture {

  private val dir = "/root/testdata/sf0.001"

  private def vec(seed: Long): Array[Float] =
    Array.tabulate(Similarity.Dim)(j =>
      ((((seed * 1000003L + j) * 2654435761L >>> 13) & 0xffff).toFloat / 65536.0f))

  private def toDF(rows: Seq[(Long, Array[Float])]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("vec_id", "embedding")
  }

  private def layoutRows(trowsPath: String, vecsPath: String)
      : (Set[Seq[String]], Set[Seq[String]]) = {
    def rows(df: DataFrame, cols: Seq[String]) =
      df.select(cols.map(c => col(c).cast("string")): _*)
        .collect().map(_.toSeq.map(String.valueOf)).toSet
    (rows(Dedup.embMultiTRows.read(spark, trowsPath),
        Seq("tbucket", "id")),
      rows(Dedup.embMultiVecs.read(spark, vecsPath),
        Seq("vbucket", "id", "nrm")))
  }

  private def scratchRows(emb: DataFrame): (Set[Seq[String]], Set[Seq[String]]) = {
    val (t, v) = Dedup.embMultiServingRows(emb)
    def rows(df: DataFrame, cols: Seq[String]) =
      df.select(cols.map(c => col(c).cast("string")): _*)
        .collect().map(_.toSeq.map(String.valueOf)).toSet
    (rows(t, Seq("tbucket", "id")), rows(v, Seq("vbucket", "id", "nrm")))
  }

  test("fold ≡ scratch on revise + delete + insert, and replay is idempotent") {
    val s = spark
    val pre = Seq((1L, vec(1)), (2L, vec(2)), (3L, vec(3)), (4L, vec(4)))
    val base = graft.TempDirs.create("graft_edm_fold_t")
    val trowsPath = base.resolve("trows").toString
    val vecsPath = base.resolve("vecs").toString
    Dedup.embMultiWriteServingLayout(toDF(pre), trowsPath, vecsPath)
    // revise 2 (new direction), delete 3, insert 9
    val old = toDF(Seq((2L, vec(2)), (3L, vec(3))))
    val nw = toDF(Seq((2L, vec(7)), (9L, vec(9))))
    def fold(): Unit =
      Dedup.embMultiServingFold(s, trowsPath, vecsPath, old, nw)
    fold(); fold() // a re-delivered batch must land on the identical state
    val post = Seq((1L, vec(1)), (2L, vec(7)), (4L, vec(4)), (9L, vec(9)))
    assert(layoutRows(trowsPath, vecsPath) == scratchRows(toDF(post)),
      "replayed revise+delete+insert must equal scratch over the post-delta set")
  }

  test("the multi-table candidates FIND planted near-dups the single " +
      "8-plane table misses (the recall fact the layout exists for)") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val near = EmbFeed.withNearDups(e)
      .where(col("vec_id") >= EmbFeed.NearDupOffset)
      .select(col("vec_id"), col("embedding"))
    // base pairs (id, id + NearDupOffset) found by each bucketing
    def basePairs(pairs: DataFrame): Set[Long] =
      pairs.where(col("id_b") === col("id_a") + EmbFeed.NearDupOffset)
        .select(col("id_a")).collect().map(_.getLong(0)).toSet
    val all = EmbFeed.withNearDups(e)
    val single = basePairs(Dedup.nearDuplicatesByEmbedding(all))
    val base = graft.TempDirs.create("graft_edm_recall_t")
    Dedup.embMultiWriteServingLayout(e, base.resolve("trows").toString,
      base.resolve("vecs").toString)
    val multi = basePairs(Dedup.embMultiServingProbe(spark,
      base.resolve("trows").toString, base.resolve("vecs").toString, near))
    val planted = near.count()
    assert(single.subsetOf(multi),
      "multi-table candidates must cover every single-table pair")
    assert(multi.size > single.size,
      s"multi-table must find pairs single-table misses " +
        s"(single ${single.size}, multi ${multi.size} of $planted planted)")
    // structural assertions above are the real contract (single ⊆ multi,
    // multi strictly better); the hard floor is deliberately BELOW the
    // fixture-measured 49/50 — base vectors are random and the driver can
    // regenerate them, so a seed-tight bound would fail on a regen
    assert(multi.size * 10 >= planted * 8,
      s"multi-table recall must be ≥ 0.8 on the planted set " +
        s"(found ${multi.size} of $planted)")
  }

  /** SQL executions of one probe over a 3-vector layout, batch = a
    * scaled copy of vector 1 (same direction, so it pairs in every table);
    * the caller's action is included. */
  private def probeExecutions(probe: (String, DataFrame) => DataFrame): Int = {
    val pre = Seq((1L, vec(1)), (2L, vec(2)), (3L, vec(3)))
    val base = graft.TempDirs.create("graft_edexec_t")
    Dedup.embDupWriteServingLayout(toDF(pre), base.resolve("vecs").toString)
    Dedup.embMultiWriteServingLayout(toDF(pre),
      base.resolve("trows").toString, base.resolve("mvecs").toString)
    var pairs = 0
    val executions = executionsOf {
      pairs = probe(base.toString, toDF(Seq((9L, vec(1).map(_ * 2f))))).collect().length
    }
    assert(pairs > 0, "the planted copy must pair with its base")
    assert(executions.forall(_ != null))
    executions.distinct.length
  }

  test("embDupServingProbe runs 2 SQL executions, the caller's action included") {
    // bucketing (observes the buckets) and the caller's action
    val n = probeExecutions((base, batch) =>
      Dedup.embDupServingProbe(spark, s"$base/vecs", batch))
    assert(n == 2, s"probe SQL executions: $n")
  }

  test("embMultiServingProbe runs 4 SQL executions, the caller's action included") {
    // batch rows (observe the tbuckets), candidates, candidate ids
    // (observe the registry buckets and count) and the caller's action
    val n = probeExecutions((base, batch) =>
      Dedup.embMultiServingProbe(spark, s"$base/trows", s"$base/mvecs", batch))
    assert(n == 4, s"probe SQL executions: $n")
  }
}
