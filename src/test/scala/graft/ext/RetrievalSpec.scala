package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

class RetrievalSpec extends AnyFunSuite with SparkFixture {

  private def corpus() = {
    val s = spark
    import s.implicits._
    // 6 docs; "x x" appears in 4 of 6 (df*2 > N -> pruned as a stopword),
    // "rare gem" only in docs 1 and 5 (5 = byte-exact copy of 1)
    Seq(
      (1L, "rare gem a b c d x x"),
      (2L, "a b c d e f x x"),
      (3L, "b c d e f g x x"),
      (4L, "c d e f g h x x"),
      (5L, "rare gem a b c d x x"),
      (6L, "g h a b c d e f")
    ).toDF("doc_id", "text")
  }

  test("self-retrieval ranks the query's source doc first; exact copy ties directly after") {
    val s = spark
    import s.implicits._
    val q = Seq((1L, "rare gem"), (1L, "gem a"), (1L, "a b")).toDF("query_id", "term")
    val got = Retrieval.bm25TopK(corpus(), q, k = 3).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rnk"), r.getAs[Long]("doc_id")))
    // doc 1 and its copy 5 score identically on every term; id breaks the tie
    assert(got.take(2).toSeq === Seq((1L, 1, 1L), (1L, 2, 5L)))
    val scores = Retrieval.bm25TopK(corpus(), q, k = 3).collect()
      .map(r => r.getAs[Long]("score_micro"))
    assert(scores(0) === scores(1)) // exact copy: identical integer score
  }

  test("terms in at least half the corpus are pruned and contribute zero score") {
    val s = spark
    import s.implicits._
    // query is ONLY the stopword bigram -> no postings survive the df cut
    val q = Seq((9L, "x x")).toDF("query_id", "term")
    assert(Retrieval.bm25TopK(corpus(), q).count() === 0)
  }

  test("RRF fusion: a doc ranked by both systems beats a doc ranked first by one") {
    val s = spark
    import s.implicits._
    val sysA = Seq((1L, 1, 10L), (1L, 2, 11L)).toDF("query_id", "rnk", "doc_id")
    val sysB = Seq((1L, 1, 12L), (1L, 2, 11L)).toDF("query_id", "rnk", "doc_id")
    val got = Retrieval.rrfFuse(sysA, sysB, k = 3).orderBy("rnk").collect()
      .map(r => (r.getAs[Int]("rnk"), r.getAs[Long]("doc_id"), r.getAs[Long]("rrf_micro")))
    // doc 11: rank 2 in both -> 2*16129; docs 10/12: rank 1 in one -> 16393
    assert(got.toSeq === Seq(
      (1, 11L, 2 * (1000000L / 62)),
      (2, 10L, 1000000L / 61), // ties with 12 on score; id breaks
      (3, 12L, 1000000L / 61)))
  }

  test("shingle-overlap retrieval ranks the fuller overlap first and prunes hot shingles") {
    val s = spark
    import s.implicits._
    // doc 103 is the query (103 % 100 == 3). doc 5 shares 4 tokens of
    // run; doc 6 shares fewer; the "w w w w w w" run appears in 4 of 6
    // docs -> its shingles are pruned (df*2 > N) and contribute nothing.
    val docs = Seq(
      (103L, "a b c d e f w w w w w w"),
      (5L, "a b c d e zz w w w w w w"),
      (6L, "a b c yy zz qq w w w w w w"),
      (7L, "p q r s t u w w w w w w"),
      (8L, "p q r s t v"),
      (9L, "m n o p q r")
    ).toDF("doc_id", "text")
    val got = Retrieval.overlapTopK(docs, k = 3).collect()
      .map(r => (r.getAs[Int]("rnk"), r.getAs[Long]("doc_id"), r.getAs[Long]("overlap")))
    // self first (its 6 un-pruned shingles: a b c .. f w w), then 5
    // (a-b-c-d-e run: 3 shared trigrams), then 6 (1 trigram "a b c");
    // doc 7 shares ONLY the pruned "w w w" -> absent entirely
    assert(got.head === ((1, 103L, 6L)))
    assert(got(1) === ((2, 5L, 3L)))
    assert(got(2) === ((3, 6L, 1L)))
    assert(!got.exists(_._2 == 7L))
  }

  test("queryTerms takes the distinct first-prefix bigrams of selected base docs") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (3L, "a b a b c d e f g h"), // selected (3 % 100 == 3): prefix has dup "a b"
      (4L, "z z z z z z z z"), // not selected
      (DocFeed.ExactDupOffset + 3L, "q r s t u v w x") // planted id: excluded
    ).toDF("doc_id", "text")
    val got = Retrieval.queryTerms(docs, everyNth = 100, residue = 3, prefixLen = 6)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[String]("term"))).toSet
    assert(got === Set((3L, "a b"), (3L, "b a"), (3L, "b c"), (3L, "c d"), (3L, "d e")))
  }

  test("incremental postings fold equals scratch indexing (df/dl/N re-derive)") {
    val s = spark
    import s.implicits._
    val docs = (0L to 19L).map(i => (i, s"w${i % 5} w${(i + 1) % 5} w${(i + 2) % 7} tail$i"))
      .toDF("doc_id", "text")
    val hist = docs.where(col("doc_id") % 4 =!= 1)
    val batch = docs.where(col("doc_id") % 4 === 1)
    val folded = Retrieval.bm25Postings(hist)
      .unionByName(Retrieval.bm25Postings(batch))
    val n = docs.agg(count(lit(1)).as("n"))
    val q = Retrieval.queryTerms(docs, everyNth = 4, residue = 3, prefixLen = 3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(Retrieval.bm25TopKFromPostings(folded, n, q))
        == rows(Retrieval.bm25TopK(docs, q)),
      "postings are per-document pure, so the fold must reproduce scratch scoring exactly")
  }

  test("postings forget fold equals scratch indexing over the survivors, " +
      "and the forgotten doc is never served") {
    val s = spark
    import s.implicits._
    val docs = (0L to 19L).map(i => (i, s"w${i % 5} w${(i + 1) % 5} w${(i + 2) % 7} tail$i"))
      .toDF("doc_id", "text")
    val survive = col("doc_id") % 4 =!= 1
    // fold: filter the full postings + shrink N via the doc registry
    val folded = Retrieval.bm25Postings(docs).where(survive)
    val n = docs.where(survive).agg(count(lit(1)).as("n"))
    val q = Retrieval.queryTerms(docs.where(survive),
      everyNth = 4, residue = 3, prefixLen = 3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val served = Retrieval.bm25TopKFromPostings(folded, n, q)
    assert(rows(served) == rows(Retrieval.bm25TopK(docs.where(survive), q)),
      "forget fold must equal scratch over survivors (df/dl/N re-derive)")
    assert(served.collect().forall(_.getAs[Long]("doc_id") % 4 != 1),
      "a forgotten doc must never be served")
  }

  test("in-place serving fold: bucket-local df re-derivation equals scratch, " +
      "untouched buckets keep their bytes, emptied buckets swept, replay repairs") {
    val s = spark
    import s.implicits._
    import java.nio.file.{Files, Paths}
    // doc 3 owns MANY distinct bigrams (covers many buckets); the revision
    // shrinks it to one — so some of its old buckets hold nothing else and
    // must be SWEPT, while buckets of docs 1-2 stay byte-identical
    val B = 64 // enough buckets that the 3-doc corpus leaves some untouched
    val wide = (1 to 12).map(i => s"t$i").mkString(" ")
    val pre = Seq(
      (1L, "alpha beta gamma alpha beta"),
      (2L, "beta gamma delta"),
      (3L, wide)).toDF("doc_id", "text")
    val newDocs = Seq((3L, "alpha beta")).toDF("doc_id", "text")
    val post = pre.where($"doc_id" =!= 3L).unionByName(newDocs)

    val base = graft.TempDirs.create("graft_bm25srvf_t")
    val (p0, dl0, st0) = Retrieval.bm25ServingArtifacts(pre, buckets = B)
    p0.repartition(col("bucket")).write.partitionBy("bucket")
      .parquet(base.resolve("postings").toString)
    dl0.repartition(col("dbucket")).write.partitionBy("dbucket")
      .parquet(base.resolve("doclen").toString)
    st0.write.parquet(base.resolve("stats").toString)

    def bucketOf(terms: DataFrame): Set[Long] =
      terms.select(Retrieval.termBucket(col("term"), B).cast("long")).distinct()
        .collect().map(_.getLong(0)).toSet
    val oldB = bucketOf(Retrieval.bm25Postings(pre.where($"doc_id" === 3L)))
    val newB = bucketOf(Retrieval.bm25Postings(newDocs))
    val keepB = bucketOf(Retrieval.bm25Postings(pre.where($"doc_id" =!= 3L)))
    val untouched = (keepB -- oldB -- newB)
    assert(untouched.nonEmpty, "construction must leave some bucket untouched")
    def filesUnder(d: java.nio.file.Path): Map[String, Long] =
      if (!Files.exists(d)) Map.empty
      else Files.list(d).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .map(p => p.getFileName.toString -> Files.getLastModifiedTime(p).toMillis).toMap
    def files(b: Long): Map[String, Long] =
      filesUnder(Paths.get(base.resolve("postings").toString, s"bucket=$b"))
    def dlFiles(b: Long): Map[String, Long] =
      filesUnder(Paths.get(base.resolve("doclen").toString, s"dbucket=$b"))
    val beforeFiles = untouched.map(b => b -> files(b)).toMap
    // the delta touches only doc 3 — registry buckets 1 and 2 (docs 1, 2)
    // must keep their bytes through the fold (the registry write is
    // pruned to the delta ids' buckets, never a whole-registry rewrite)
    val dlBefore = Seq(1L, 2L).map(b => b -> dlFiles(b)).toMap

    Retrieval.bm25ServingFold(s,
      base.resolve("postings").toString, base.resolve("doclen").toString,
      base.resolve("stats").toString, pre.where($"doc_id" === 3L), newDocs,
      buckets = B)

    def postingsSet(df: DataFrame): Set[(Long, String, Long, Long, Long)] =
      df.select($"bucket".cast("long"), $"term", $"doc_id", $"tf", $"df")
        .as[(Long, String, Long, Long, Long)].collect().toSet
    def dlSet(df: DataFrame): Set[(Long, Long)] =
      df.select($"doc_id", $"dl").as[(Long, Long)].collect().toSet
    val (ps, dls, sts) = Retrieval.bm25ServingArtifacts(post, buckets = B)
    assert(postingsSet(s.read.parquet(base.resolve("postings").toString)) ==
      postingsSet(ps), "folded postings (incl. re-derived df) must equal scratch")
    assert(dlSet(s.read.parquet(base.resolve("doclen").toString))
      == dlSet(dls), "doc lengths must equal scratch")
    assert(s.read.parquet(base.resolve("stats").toString).as[(Long, Long)].collect().toSet
      == sts.as[(Long, Long)].collect().toSet, "stats must equal scratch")
    assert(untouched.forall(b => files(b) == beforeFiles(b)),
      "buckets outside the delta's term footprint must keep their bytes")
    assert(Seq(1L, 2L).forall(b => dlFiles(b) == dlBefore(b)),
      "registry buckets outside the delta's doc ids must keep their bytes")
    val sweepable = oldB -- newB -- keepB
    assert(sweepable.nonEmpty, "construction must empty at least one bucket")
    assert(sweepable.forall(b => files(b).isEmpty),
      s"emptied buckets $sweepable must be swept from disk")
    // replay: deterministic in (state, delta) — a torn fold repairs by re-run
    Retrieval.bm25ServingFold(s,
      base.resolve("postings").toString, base.resolve("doclen").toString,
      base.resolve("stats").toString, pre.where($"doc_id" === 3L), newDocs,
      buckets = B)
    assert(postingsSet(s.read.parquet(base.resolve("postings").toString)) ==
      postingsSet(ps), "a replayed fold must land on the identical state")

    // replay WITH a delete AND an insert, ALL artifacts compared: a
    // carried n scalar would shrink/grow twice on the re-delivered batch
    // (the count-min sum-merge lesson) — the registry-derived stats must
    // land on the identical (n, avgdl) instead
    val del2 = post.where($"doc_id" === 2L)
    val ins2 = Seq((9L, "gamma delta")).toDF("doc_id", "text")
    def fold2(): Unit = Retrieval.bm25ServingFold(s,
      base.resolve("postings").toString, base.resolve("doclen").toString,
      base.resolve("stats").toString, del2, ins2, buckets = B)
    fold2()
    fold2() // the re-delivered batch
    val post2 = post.where($"doc_id" =!= 2L).unionByName(ins2)
    val (ps2, dls2, sts2) = Retrieval.bm25ServingArtifacts(post2, buckets = B)
    assert(postingsSet(s.read.parquet(base.resolve("postings").toString)) ==
      postingsSet(ps2), "replayed delete+insert: postings must equal scratch")
    assert(dlSet(s.read.parquet(base.resolve("doclen").toString)) == dlSet(dls2),
      "replayed delete+insert: the registry must equal scratch")
    assert(s.read.parquet(base.resolve("stats").toString)
        .as[(Long, Long)].collect().toSet == sts2.as[(Long, Long)].collect().toSet,
      "replayed delete+insert: (n, avgdl) must equal scratch — never double-adjusted")
    // the delete emptied doc 2's registry bucket — swept, like a posting
    // bucket the fold empties
    assert(dlFiles(2L).isEmpty,
      "a registry bucket the fold emptied must be swept from disk")

    // a fold that deletes EVERY remaining doc publishes the explicit
    // (n = 0, avgdl = 0) stats row — a detectable empty-corpus state,
    // never NULL arithmetic (the advisor's statsFromDocLen guard)
    val everything = post2
    Retrieval.bm25ServingFold(s,
      base.resolve("postings").toString, base.resolve("doclen").toString,
      base.resolve("stats").toString, everything,
      everything.where(lit(false)), buckets = B)
    val emptyStats = s.read.parquet(base.resolve("stats").toString).collect()
    assert(emptyStats.length == 1 &&
      emptyStats(0).getLong(0) == 0L && emptyStats(0).getLong(1) == 0L,
      "an emptied corpus must publish (n = 0, avgdl = 0), not NULLs")

    // the emptied layouts are footer-less; the next insert fold must read
    // them through the declared schemas and land on scratch
    val ins3 = Seq((20L, "alpha beta gamma"), (21L, "beta delta")).toDF("doc_id", "text")
    Retrieval.bm25ServingFold(s,
      base.resolve("postings").toString, base.resolve("doclen").toString,
      base.resolve("stats").toString, ins3.where(lit(false)), ins3, buckets = B)
    val (ps3, dls3, sts3) = Retrieval.bm25ServingArtifacts(ins3, buckets = B)
    assert(postingsSet(s.read.parquet(base.resolve("postings").toString)) ==
      postingsSet(ps3), "insert after emptying: postings must equal scratch")
    assert(dlSet(s.read.parquet(base.resolve("doclen").toString)) == dlSet(dls3),
      "insert after emptying: the registry must equal scratch")
    assert(s.read.parquet(base.resolve("stats").toString)
        .as[(Long, Long)].collect().toSet == sts3.as[(Long, Long)].collect().toSet,
      "insert after emptying: (n, avgdl) must equal scratch")
  }

  test("bm25ServingFold runs at most 5 SQL executions") {
    val s = spark
    import s.implicits._
    val corpus = (1L to 40L).map(i =>
      (i, s"w${i % 7} w${i % 5} w${i % 3} term$i alpha beta gamma")).toDF("doc_id", "text")
    val oldDocs = corpus.where($"doc_id" <= 5L)
    val newDocs = oldDocs.select($"doc_id", concat($"text", lit(" delta epsilon")).as("text"))
    val base = graft.TempDirs.create("graft_bm25foldexec_t")
    val (p0, dl0, st0) = Retrieval.bm25ServingArtifacts(corpus)
    Retrieval.bm25PostingsLayout.write(p0, base.resolve("postings").toString)
    Retrieval.bm25DocLen.write(dl0, base.resolve("doclen").toString)
    st0.write.parquet(base.resolve("stats").toString)
    val executions = executionsOf {
      Retrieval.bm25ServingFold(s, base.resolve("postings").toString,
        base.resolve("doclen").toString, base.resolve("stats").toString,
        oldDocs, newDocs)
    }
    // per artifact the fold's delta materialization (which observes its
    // partitions) and the rewrite's staged write, then the stats write
    assert(executions.forall(_ != null) && executions.distinct.length <= 5,
      s"fold SQL executions: ${executions.distinct}")
  }

  test("the declared postingsSchema pins bm25ServingArtifacts' postings " +
      "(compact/fold reads must never depend on footer inference)") {
    val (postings, _, _) = Retrieval.bm25ServingArtifacts(corpus())
    assert(
      postings.schema.fields.map(f => (f.name, f.dataType)).sortBy(_._1).toSeq ==
        Retrieval.bm25PostingsLayout.schema.fields.map(f => (f.name, f.dataType))
          .sortBy(_._1).toSeq,
      s"postingsSchema drifted from bm25ServingArtifacts: ${postings.schema} " +
        s"vs ${Retrieval.bm25PostingsLayout.schema}")
  }

  test("postings/registry compaction: crowded buckets repack to one file " +
      "with identical content; a later fold composes") {
    val s = spark
    import s.implicits._
    import java.nio.file.{Files, Paths}
    val B = 8 // few buckets so fragments overlap buckets
    val pre = Seq(
      (1L, "alpha beta gamma alpha beta"),
      (2L, "beta gamma delta"),
      (3L, "epsilon zeta eta theta")).toDF("doc_id", "text")
    val base = graft.TempDirs.create("graft_bm25cmp_t")
    val postingsPath = base.resolve("postings").toString
    val doclenPath = base.resolve("doclen").toString
    val (p0, dl0, st0) = Retrieval.bm25ServingArtifacts(pre, buckets = B)
    val p0c = p0.localCheckpoint(true)
    // the multi-writer shape: two interleaved half-writes per artifact
    p0c.where($"doc_id" % 2 === 1).repartition(col("bucket"))
      .write.partitionBy("bucket").mode("append").parquet(postingsPath)
    p0c.where($"doc_id" % 2 === 0).repartition(col("bucket"))
      .write.partitionBy("bucket").mode("append").parquet(postingsPath)
    val dl0c = dl0.localCheckpoint(true)
    dl0c.where($"doc_id" % 2 === 1).repartition(col("dbucket"))
      .write.partitionBy("dbucket").mode("append").parquet(doclenPath)
    dl0c.where($"doc_id" % 2 === 0).repartition(col("dbucket"))
      .write.partitionBy("dbucket").mode("append").parquet(doclenPath)
    st0.write.parquet(base.resolve("stats").toString)
    def dataFiles(root: String): Map[String, Int] =
      Files.list(Paths.get(root)).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(p => Files.isDirectory(p) && p.getFileName.toString.contains("="))
        .map { p =>
          p.getFileName.toString -> Files.list(p).toArray
            .map(_.asInstanceOf[java.nio.file.Path])
            .count { f =>
              val n = f.getFileName.toString
              Files.isRegularFile(f) && !n.startsWith("_") && !n.startsWith(".")
            }
        }.toMap
    assert(dataFiles(postingsPath).values.exists(_ > 1),
      "construction must fragment a postings bucket")
    def postingsSet(): Set[(Long, String, Long, Long, Long)] =
      s.read.parquet(postingsPath)
        .select($"bucket".cast("long"), $"term", $"doc_id", $"tf", $"df")
        .as[(Long, String, Long, Long, Long)].collect().toSet
    def dlSet(): Set[(Long, Long)] =
      s.read.parquet(doclenPath).select($"doc_id", $"dl")
        .as[(Long, Long)].collect().toSet
    val (pBefore, dlBefore) = (postingsSet(), dlSet())
    ServingLayout.compact(s, postingsPath, Retrieval.bm25PostingsLayout)
    ServingLayout.compact(s, doclenPath, Retrieval.bm25DocLen)
    assert(dataFiles(postingsPath).values.forall(_ == 1),
      "every crowded postings bucket repacks to 1 file")
    assert(dataFiles(doclenPath).values.forall(_ == 1),
      "every crowded registry bucket repacks to 1 file")
    assert(postingsSet() == pBefore && dlSet() == dlBefore,
      "the repack must be content-identical")
    // a fold onto the compacted layout lands on scratch — the repack
    // composes with the maintenance primitive
    val newDocs = Seq((3L, "alpha beta")).toDF("doc_id", "text")
    Retrieval.bm25ServingFold(s, postingsPath, doclenPath,
      base.resolve("stats").toString,
      pre.where($"doc_id" === 3L), newDocs, buckets = B)
    val post = pre.where($"doc_id" =!= 3L).unionByName(newDocs)
    val (ps, dls, _) = Retrieval.bm25ServingArtifacts(post, buckets = B)
    assert(postingsSet() == ps
        .select($"bucket".cast("long"), $"term", $"doc_id", $"tf", $"df")
        .as[(Long, String, Long, Long, Long)].collect().toSet,
      "fold-after-compact must equal scratch")
    assert(dlSet() == dls.select($"doc_id", $"dl")
        .as[(Long, Long)].collect().toSet,
      "registry fold-after-compact must equal scratch")
  }

  test("compaction under a PINNED reader on the 3-artifact generation: " +
      "the pinned search answers pre-compact bytes, a fresh resolve the " +
      "repacked files — identical rows (content identity across the flip)") {
    val s = spark
    import s.implicits._
    import java.nio.file.{Files, Paths}
    val B = 8
    // the worst case for a torn repack: it can span ARTIFACTS — staging
    // the whole generation and flipping it is what makes the repack one
    // atomic event for the reader
    val pre = Seq(
      (1L, "alpha beta gamma alpha beta"),
      (2L, "beta gamma delta"),
      (3L, "epsilon zeta eta theta")).toDF("doc_id", "text")
    val root = graft.TempDirs.create("graft_bm25cmpgr_t")
      .resolve("layout").toString
    graft.streaming.StateStream.publishState(s, root) { stage =>
      val p = stage.toUri.getPath
      val (p0, dl0, st0) = Retrieval.bm25ServingArtifacts(pre, buckets = B)
      val p0c = p0.localCheckpoint(true)
      p0c.where($"doc_id" % 2 === 1).repartition(col("bucket"))
        .write.partitionBy("bucket").mode("append").parquet(s"$p/postings")
      p0c.where($"doc_id" % 2 === 0).repartition(col("bucket"))
        .write.partitionBy("bucket").mode("append").parquet(s"$p/postings")
      val dl0c = dl0.localCheckpoint(true)
      dl0c.where($"doc_id" % 2 === 1).repartition(col("dbucket"))
        .write.partitionBy("dbucket").mode("append").parquet(s"$p/doclen")
      dl0c.where($"doc_id" % 2 === 0).repartition(col("dbucket"))
        .write.partitionBy("dbucket").mode("append").parquet(s"$p/doclen")
      st0.write.parquet(s"$p/stats")
    }
    val queries = Seq((99L, "alpha beta"), (99L, "beta gamma"))
      .toDF("query_id", "term")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf)).toSet
    // the reader resolves the fragmented gen-1 artifact SET here
    val pinned = Retrieval.bm25TopKServingPinned(s, root, queries, buckets = B)
    graft.streaming.StateStream.foldIsolatedGen(s, root) { gen =>
      ServingLayout.compact(s, s"$gen/postings", Retrieval.bm25PostingsLayout)
      ServingLayout.compact(s, s"$gen/doclen", Retrieval.bm25DocLen)
    }
    // EXECUTED AFTER THE FLIP: graced fragmented bytes
    val preRows = rows(pinned)
    val postRows = rows(Retrieval.bm25TopKServingPinned(s, root, queries,
      buckets = B))
    assert(preRows.nonEmpty, "the probe must retrieve something")
    assert(preRows == postRows,
      "compaction is content-identical: pinned (fragmented) and fresh " +
        "(repacked) reads must answer the same rows")
    // non-vacuous: the flipped generation really is repacked (1 file per
    // bucket) while the graced generation keeps its fragments
    // statePath returns a file:-schemed URI string — strip to a raw path
    val gen2 = new org.apache.hadoop.fs.Path(
      graft.streaming.StateStream.statePath(s, root)).toUri.getPath
    def maxFiles(dir: String): Int =
      Files.list(Paths.get(dir)).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(p => Files.isDirectory(p) && p.getFileName.toString.contains("="))
        .map(p => Files.list(p).toArray.map(_.asInstanceOf[java.nio.file.Path])
          .count { f =>
            val n = f.getFileName.toString
            Files.isRegularFile(f) && !n.startsWith("_") && !n.startsWith(".")
          }).max
    assert(maxFiles(s"$gen2/postings") == 1 && maxFiles(s"$gen2/doclen") == 1,
      "the flipped generation must be fully repacked")
  }
}
