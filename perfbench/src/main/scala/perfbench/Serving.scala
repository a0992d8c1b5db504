package perfbench

import java.sql.Timestamp

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cdc.{CdcTableConfig, ChangeFeed, ChangelogBuilder}
import graft.ext.{Dedup, DocFeed, Retrieval}

/** `serving`: operations alternate between a fold and a probe over the
  * MinHash and BM25 serving layouts that set-up writes over
  * `DocFeed.withDups(documents)`. A fold turns a seeded set of document
  * revisions into CDC update images, runs them through
  * `ChangelogBuilder.build` to get the `(doc_id, text)` delta and folds it
  * into both layouts; a probe runs a seeded batch of new documents against
  * the MinHash layout and seeded queries against the BM25 layout. The
  * end-to-end operation is one fold plus the probe after it. Checked
  * afterwards: the folded layouts answer exactly as a scratch build over
  * the final corpus does (MinHash pairs, BM25 top-k). */
object Serving {
  private val DocsCfg = CdcTableConfig("documents", Seq("doc_id"))
  private val FeedSchema = StructType(Seq(
    StructField("start_lsn", LongType), StructField("seqval", LongType),
    StructField("operation", IntegerType), StructField("update_mask", LongType),
    StructField("commit_time", TimestampType), StructField("doc_id", LongType),
    StructField("text", StringType), StructField("lang", StringType)))
  private val DocSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  private val ProbeIdBase = 100000000L

  /** One copy of the serving state: layout paths plus the corpus as the
    * client knows it (doc id → current text). */
  final class State(root: String) {
    val bands = s"$root/bands"
    val fps = s"$root/fps"
    val postings = s"$root/postings"
    val doclen = s"$root/doclen"
    val stats = s"$root/stats"
    val texts = mutable.LongMap.empty[String]
    var ids: IndexedSeq[Long] = IndexedSeq.empty
    var baseIds: IndexedSeq[Long] = IndexedSeq.empty
    var lsn = 0L
    var probes = 0L
  }

  private def docs(ctx: Ctx, rows: Iterable[(Long, String)]): DataFrame =
    ctx.spark.createDataFrame(rows.map { case (i, t) => Row(i, t) }.toSeq.asJava, DocSchema)

  /** Writes both layouts over `corpus` under the state's paths. */
  private def build(ctx: Ctx, st: State, corpus: DataFrame): Unit = {
    Dedup.writeServingLayout(corpus, st.bands, st.fps)
    val (post, dl, stats) = Retrieval.bm25ServingArtifacts(corpus)
    post.repartition(col("bucket")).write.partitionBy("bucket").mode("overwrite").parquet(st.postings)
    dl.repartition(col("dbucket")).write.partitionBy("dbucket").mode("overwrite").parquet(st.doclen)
    stats.write.mode("overwrite").parquet(st.stats)
  }

  /** The seeded corpus under `root`, as the client holds it. */
  private def generateCorpus(ctx: Ctx, root: String): mutable.LongMap[String] = {
    val path = s"$root/documents"
    Inputs.documents(ctx.spark, ctx.seed, ctx.scale.documents).write.mode("overwrite").parquet(path)
    val texts = mutable.LongMap.empty[String]
    DocFeed.withDups(ctx.spark.read.parquet(path)).select("doc_id", "text").collect()
      .foreach(r => texts(r.getLong(0)) = r.getString(1))
    texts
  }

  /** A fold: seeded revisions → CDC images → changelog delta → both
    * layouts. Half the revisions append words; half copy another
    * document's text, creating near-duplicate pairs. Returns docs folded. */
  private def fold(ctx: Ctx, st: State, rng: Random): Int = ctx.tracer("serving.fold", "ext", "fold") {
    val revisions = rng.shuffle(st.ids).take(ctx.scale.revisionsPerFold).map { id =>
      val old = st.texts(id)
      id -> (if (rng.nextBoolean()) s"$old ${Inputs.word(rng)} ${Inputs.word(rng)}"
        else s"${st.texts(st.ids(rng.nextInt(st.ids.size)))} ${Inputs.word(rng)}")
    }
    val feedRows = revisions.flatMap { case (id, nu) =>
      st.lsn += 1
      val ts = new Timestamp(st.lsn * 1000L)
      Seq(Row(st.lsn, 0L, ChangeFeed.OpUpdateBefore, ChangeFeed.BitDocText, ts, id, st.texts(id), "en"),
        Row(st.lsn, 0L, ChangeFeed.OpUpdateAfter, ChangeFeed.BitDocText, ts, id, nu, "en"))
    }
    val feed = ctx.spark.createDataFrame(feedRows.asJava, FeedSchema)
    val delta = ctx.tracer("ChangelogBuilder.build", "cdc.changelog") {
      ChangelogBuilder.build(feed, DocsCfg)
        .where(col("column_name") === "text")
        .select(col("doc_id").cast("long").as("doc_id"), col("old_value"), col("new_value"))
        .localCheckpoint(true)
    }
    val oldDocs = delta.select(col("doc_id"), col("old_value").as("text"))
    val newDocs = delta.select(col("doc_id"), col("new_value").as("text"))
    ctx.tracer("Dedup.minhashServingFold", "ext.dedup") {
      Dedup.minhashServingFold(ctx.spark, st.bands, st.fps, oldDocs, newDocs)
    }
    ctx.tracer("Retrieval.bm25ServingFold", "ext.retrieval") {
      Retrieval.bm25ServingFold(ctx.spark, st.postings, st.doclen, st.stats, oldDocs, newDocs)
    }
    revisions.foreach { case (id, nu) => st.texts(id) = nu }
    revisions.size
  }

  /** A probe: new documents (half near-copies of corpus documents) against
    * the MinHash layout, word-bigram queries from corpus documents against
    * the BM25 layout. Returns documents probed. */
  private def probe(ctx: Ctx, st: State, rng: Random): Int = ctx.tracer("serving.probe", "ext", "probe") {
    val batch = (0 until ctx.scale.probeDocs).map { k =>
      st.probes += 1
      val text =
        if (k % 2 == 0) s"${st.texts(st.ids(rng.nextInt(st.ids.size)))} ${Inputs.word(rng)}"
        else Seq.fill(30)(Inputs.word(rng)).mkString(" ")
      (ProbeIdBase + st.probes, text)
    }
    val batchDf = docs(ctx, batch)
    val store = docs(ctx, st.texts ++ batch)
    ctx.tracer("Dedup.minhashServingProbe", "ext.dedup") {
      Dedup.minhashServingProbe(ctx.spark, st.bands, st.fps, batchDf, store).collect()
    }
    val askers = rng.shuffle(st.baseIds).take(ctx.scale.probeQueries)
    val queries = Retrieval.queryTerms(docs(ctx, askers.map(i => i -> st.texts(i))), everyNth = 1, residue = 0)
    ctx.tracer("Retrieval.bm25TopKServing", "ext.retrieval") {
      Retrieval.bm25TopKServing(ctx.spark.read.parquet(st.postings),
        ctx.spark.read.parquet(st.doclen), ctx.spark.read.parquet(st.stats), queries).collect()
    }
    batch.size
  }

  /** MinHash pairs and BM25 top-k over `corpus`, from the folded layouts
    * under `st`, or (`st` = None) from a scratch build of both layouts'
    * rows over `corpus` itself, as sorted strings. */
  private def answers(ctx: Ctx, st: Option[State], corpus: DataFrame,
      queries: DataFrame): Seq[String] = {
    val (bands, fps) = st.map(s => (ctx.spark.read.parquet(s.bands),
      ctx.spark.read.parquet(s.fps)))
      .getOrElse(Dedup.minhashServingRows(corpus))
    val (post, dl, stats) = st.map(s => (ctx.spark.read.parquet(s.postings),
      ctx.spark.read.parquet(s.doclen), ctx.spark.read.parquet(s.stats)))
      .getOrElse(Retrieval.bm25ServingArtifacts(corpus))
    val pairs = Dedup.minhashPairsFrom(bands, fps, corpus).collect().map(r => s"pair ${r.mkString(",")}")
    val top = Retrieval.bm25TopKServing(post, dl, stats, queries).collect().map(r => s"top ${r.mkString(",")}")
    (pairs ++ top).toSeq.sorted
  }

  def run(ctx: Ctx): Outcome = {
    val (st, setupS) = ctx.setUp(rep => generateCorpus(ctx, ctx.dir(s"setup$rep"))) { texts =>
      val st = new State(ctx.dir("layouts"))
      st.texts ++= texts
      st.ids = st.texts.keys.toIndexedSeq.sorted
      st.baseIds = st.ids.filter(_ < DocFeed.ExactDupOffset)
      build(ctx, st, docs(ctx, st.texts))
      val warm = new Random(ctx.seed + 1)
      (0 until ctx.scale.warmRounds).foreach { _ => fold(ctx, st, warm); probe(ctx, st, warm) }
      st
    }

    val rng = new Random(ctx.seed)
    val folds = ArrayBuffer.empty[Double]
    val probes = ArrayBuffer.empty[Double]
    val ops = ArrayBuffer.empty[Double]
    var rows = 0L
    ctx.measured {
      val t0 = System.nanoTime()
      while (ctx.running(t0) || ops.size < 3) ctx.tracer("serving.op", "ext", "op") {
        val f0 = System.nanoTime()
        rows += fold(ctx, st, rng)
        folds += Stats.seconds(f0)
        val p0 = System.nanoTime()
        rows += probe(ctx, st, rng)
        probes += Stats.seconds(p0)
        ops += Stats.seconds(f0)
      }
    }

    val corpus = docs(ctx, st.texts)
    val queries = Retrieval.queryTerms(corpus, everyNth = 25)
    val want0 = answers(ctx, None, corpus, queries)
    val want = if (ctx.corruptDigest) want0 :+ "corrupted" else want0
    val ok = answers(ctx, Some(st), corpus, queries) == want
    val layoutBytes = Seq(st.bands, st.fps, st.postings, st.doclen, st.stats).map(Stats.diskBytes).sum

    Outcome(setupS, ops.toSeq, rows, layoutBytes, st.texts.size.toLong,
      attempted = ops.size, failed = if (ok) 0 else ops.size,
      named = Stats.latency("serving_fold", folds.toSeq) ++ Stats.latency("serving_probe", probes.toSeq),
      facts = Map("folds" -> folds.size.toDouble, "probes" -> probes.size.toDouble))
  }
}
