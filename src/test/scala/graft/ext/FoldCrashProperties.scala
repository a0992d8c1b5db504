package graft.ext

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean

import graft.SparkFixture

/** Crash points of a serving fold: a fold torn inside its staged write,
  * or after its manifest with any number of partitions swapped, is
  * repaired by the next [[ServingLayout.rewrite]] on that path, and the
  * replayed fold then equals both the untorn fold and the scratch rows
  * of the post-delta corpus, with no `_stage*` entry left. A crash before
  * the manifest leaves every live partition file byte-identical. Covered:
  * the MinHash bands and the BM25 postings with their df step. */
object FoldCrashProperties extends Properties("foldcrash") with SparkFixture {

  // every case runs real Spark jobs; keep the case count modest
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private val B = 8

  sealed trait Crash
  /** The staged write's job fails. */
  case object InWrite extends Crash
  /** The manifest is final and `k` (modulo the swap count + 1)
    * partitions are swapped. */
  final case class Swapped(k: Int) extends Crash

  private val genCrash: Gen[Crash] =
    Gen.oneOf(Gen.const(InWrite), Gen.choose(0, 40).map(Swapped))

  private val words = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta",
    "eta", "theta", "iota", "kappa")
  private val genText: Gen[String] =
    Gen.choose(4, 8).flatMap(Gen.listOfN(_, Gen.oneOf(words))).map(_.mkString(" "))

  /** The pre-delta corpus and the delta by doc id: Some(text) revises or
    * inserts, None deletes. At least one doc is revised or inserted, so
    * every fold writes rows and every crash point is reached. */
  private val genCase: Gen[(Map[Long, String], Map[Long, Option[String]])] = for {
    pre <- Gen.mapOf(Gen.zip(Gen.choose(1L, 6L), genText))
    ops <- Gen.mapOf(Gen.zip(Gen.choose(1L, 8L), Gen.option(genText)))
    id <- Gen.choose(1L, 8L)
    text <- genText
  } yield (pre, ops + (id -> Some(text)))

  /** One covered artifact: its scratch rows and its fold, with `post`
    * and the swap hook as the crash seams. */
  private final case class Covered(artifact: ServingLayout.Artifact,
      rows: DataFrame => DataFrame,
      fold: (String, DataFrame, DataFrame, DataFrame => DataFrame,
        ServingLayout.SwapHook) => Unit)

  private lazy val minhashBands = Covered(Dedup.minhashBands,
    docs => Dedup.minhashServingRows(docs, buckets = B)._1,
    (path, old, fresh, post, hook) => Dedup.minhashBands.fold(spark, path,
      Dedup.minhashServingRows(old, buckets = B)._1,
      Dedup.minhashServingRows(fresh, buckets = B)._1, post, hook))

  private lazy val bm25Postings = Covered(Retrieval.bm25PostingsLayout,
    docs => Retrieval.bm25ServingArtifacts(docs, buckets = B)._1,
    (path, old, fresh, post, hook) =>
      Retrieval.bm25PostingsFold(spark, path, old, fresh, B, post, hook))

  private def docs(m: Map[Long, String]): DataFrame = {
    val s = spark
    import s.implicits._
    m.toSeq.toDF("doc_id", "text")
  }

  /** The rows of `df` in the artifact's columns, as a sorted multiset. */
  private def rowsOf(c: Covered, df: DataFrame): Seq[String] =
    df.select(c.artifact.schema.fieldNames.map(f => col(f).cast("string")): _*)
      .collect().map(_.mkString("|")).toSeq.sorted

  /** Every file under the layout's partition dirs, by relative path. */
  private def liveFiles(c: Covered, path: String): Map[String, Seq[Byte]] = {
    val root = Paths.get(path)
    Files.walk(root).iterator().asScala.toSeq
      .filter(p => Files.isRegularFile(p) &&
        root.relativize(p).getName(0).toString.startsWith(s"${c.artifact.partCol}="))
      .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq)
      .toMap
  }

  private def stages(path: String): Seq[String] =
    Files.list(Paths.get(path)).iterator().asScala.toSeq
      .map(_.getFileName.toString).filter(_.startsWith("_stage"))

  /** Fails the task of the first row it sees. */
  private val failing = udf { (_: Long) =>
    (throw new IllegalStateException("injected crash in the staged write")): Long
  }

  private def tornFoldRepairs(c: Covered, pre: Map[Long, String],
      ops: Map[Long, Option[String]], crash: Crash): Prop = {
    val old = docs(pre.filter { case (id, _) => ops.contains(id) })
    val fresh = docs(ops.collect { case (id, Some(t)) => id -> t })
    val post = pre -- ops.keys ++ ops.collect { case (id, Some(t)) => id -> t }
    val base = Files.createTempDirectory("graft_foldcrash")
    val untorn = base.resolve("untorn").toString
    val torn = base.resolve("torn").toString
    Seq(untorn, torn).foreach(c.artifact.write(c.rows(docs(pre)), _))
    val preRows = rowsOf(c, c.artifact.read(spark, torn))

    var swaps = 0
    c.fold(untorn, old, fresh, identity, k => swaps = k)
    val want = rowsOf(c, c.artifact.read(spark, untorn))
    val scratch = rowsOf(c, c.rows(docs(post)))

    val before = liveFiles(c, torn)
    val (tornPost, hook): (DataFrame => DataFrame, ServingLayout.SwapHook) = crash match {
      case InWrite => (_.withColumn(c.artifact.partCol, failing(col(c.artifact.partCol))), _ => ())
      case Swapped(k) => (identity, i =>
        if (i == k % (swaps + 1)) throw new IllegalStateException("injected crash mid-swap"))
    }
    val crashed = Try(c.fold(torn, old, fresh, tornPost, hook)).isFailure
    val intact = crash != InWrite || liveFiles(c, torn) == before

    // the next rewrite on that path rolls the torn fold forward (or drops it)
    ServingLayout.compact(spark, torn, c.artifact)
    val repaired = rowsOf(c, c.artifact.read(spark, torn))
    val repairedStages = stages(torn)
    c.fold(torn, old, fresh, identity, _ => ())
    val replayed = rowsOf(c, c.artifact.read(spark, torn))

    crashed :| "the injected crash must fire" &&
      intact :| "a crash before the manifest leaves every live file byte-identical" &&
      (repaired == (if (crash == InWrite) preRows else want)) :|
        "the next rewrite rolls a manifest forward and drops a stage without one" &&
      repairedStages.isEmpty :| s"the repair leaves no stage: $repairedStages" &&
      (want == scratch) :| "the untorn fold equals scratch" &&
      (replayed == want) :| "the replayed fold equals the untorn fold" &&
      (stages(torn) ++ stages(untorn)).isEmpty :| "a successful fold leaves no stage"
  }

  property("a torn MinHash bands fold repairs to the untorn fold and scratch") =
    Prop.forAllNoShrink(genCase, genCrash) { (delta, crash) =>
      val (pre, ops) = delta
      tornFoldRepairs(minhashBands, pre, ops, crash) :| s"crash $crash, pre $pre, delta $ops"
    }

  property("a torn BM25 postings fold (with its df step) repairs to the " +
      "untorn fold and scratch") =
    Prop.forAllNoShrink(genCase, genCrash) { (delta, crash) =>
      val (pre, ops) = delta
      tornFoldRepairs(bm25Postings, pre, ops, crash) :| s"crash $crash, pre $pre, delta $ops"
    }
}
