package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.functions.TopKByScore.topKByScore

/** Unit semantics of the E1–E4 operators on hand-built inputs (the graded
  * fixture queries cover scale; these pin behavior and edge cases). */
class ExtOpsSpec extends AnyFunSuite with SparkFixture {

  test("spellMatches finds every distance-1 pair class and no distance-2 pair") {
    val s = spark
    import s.implicits._
    val vocab = Seq("batch", "match", "merge", "ab").toDF("word")
    // deletion of vocab word, insertion, substitution, distance-2, short
    val queries = Seq("btch", "batche", "bztch", "bzzch", "ab").toDF("q")
    val got = TextOps.spellMatches(vocab, queries)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set(
      ("btch", "batch", 1L),   // q is a deletion of the word
      ("batche", "batch", 1L), // q is an insertion into the word
      ("bztch", "batch", 1L))) // substitution (via the shared deletion key)
  }

  test("spellMatches excludes identical strings and sub-3-char words") {
    val s = spark
    import s.implicits._
    val vocab = Seq("batch", "ab").toDF("word")
    val got = TextOps.spellMatches(vocab, Seq("batch", "ab", "abc").toDF("q")).count()
    assert(got == 0, "identical strings and <3-char words never match")
  }

  test("canonicalUrl collapses surface variants and preserves path case") {
    val s = spark
    import s.implicits._
    val urls = Seq(
      "https://w3.example.com/d/42",
      "HTTPS://W3.EXAMPLE.COM/d/42/",
      "http://w3.example.com/d/42?utm_source=feed",
      "https://www.w3.example.com/d/42#frag",
      "https://w3.example.com/d/43",       // different page
      "https://w3.example.com/D/42"        // path case differs → distinct
    ).toDF("url")
    val canon = urls.select(Curate.canonicalUrl(col("url")).as("c"))
      .collect().map(_.getString(0))
    assert(canon.take(4).distinct.length == 1, "four spellings of one page collapse")
    assert(canon(0) == "w3.example.com/d/42")
    assert(canon(4) == "w3.example.com/d/43")
    assert(canon(5) == "w3.example.com/D/42", "path case is preserved")
  }

  test("topKPqRerank orders its shortlist by exact cosine") {
    val s = spark
    import s.implicits._
    // corpus of distinctive vectors + an exact copy of the query: ADC may
    // misorder inside the shortlist, but the exact re-rank must put the
    // copy at rank 1 (cosine exactly 1)
    val dim = Similarity.Dim
    def vec(seed: Int): Array[Float] =
      Array.tabulate(dim)(j => (((seed * 31 + j * 17) % 97) / 97.0f) - 0.4f)
    val rows = (0 until 40).map(i => (i.toLong, vec(i))) :+ (100L, vec(0))
    val emb = rows.toDF("vec_id", "embedding")
    val got = Similarity.topKPqRerank(emb, col("vec_id") === 0, k = 3, shortlist = 40)
      .orderBy("rnk").collect()
    assert(got.head.getLong(1) == 100L, "the exact copy re-ranks to rank 1")
  }

  test("batched decode slot matches the expression-side fakeFeatures bit-for-bit") {
    val c = DocFeed.withDups(spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
      .limit(200)
    val viaExpr = c.select(col("doc_id").cast("long").as("doc_id"),
      MultiModal.fakeFeatures(encode(col("text"), "UTF-8")).as("features"))
      .collect().map(r => r.getLong(0) ->
        r.getAs[scala.collection.Seq[Double]]("features").toSeq).toMap
    val viaBatch = MultiModal.decodeFeatures(c, batchSize = 7)
      .collect().map(r => r.getLong(0) ->
        r.getAs[scala.collection.Seq[Double]]("features").toSeq).toMap
    assert(viaBatch == viaExpr, "the stub decoder must reproduce fakeFeatures exactly")
  }

  test("decode slot hands the decoder full batches (short only at partition end)") {
    val s = spark
    import s.implicits._
    val df = (1 to 23).map(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
      .repartition(2)
    // a static collector: the decoder closure is SERIALIZED per task even
    // in local mode, so a captured queue would be a task-local copy —
    // executor threads share this JVM, so an object field is visible
    ExtOpsSpec.batchSizes.clear()
    val counting: MultiModal.BatchDecoder = { batch =>
      ExtOpsSpec.batchSizes.add(batch.size)
      MultiModal.stubDecoder(batch)
    }
    val n = MultiModal.decodeFeatures(df, batchSize = 5, decoder = counting).count()
    assert(n == 23)
    val observed = ExtOpsSpec.batchSizes.toArray(Array.empty[Integer]).map(_.toInt).toSeq
    assert(observed.sum == 23)
    assert(observed.count(_ < 5) <= 2, "at most one short batch per partition")
    assert(observed.forall(_ <= 5), "batches never exceed batchSize")
  }

  test("incremental ingest dedup drops exact copies of the index, keeps modified docs") {
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val incoming = DocFeed.withDups(base)
    val kept = Dedup.incrementalNew(base, incoming)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // exact-dup branch (+1000000) reuses base text verbatim -> all dropped;
    // base docs themselves are in the index -> dropped
    assert(kept.forall(id => id >= 2000000L),
      s"only modified-text branches may survive, got ${kept.filter(_ < 2000000L)}")
    // the near-dup branch appends ' qq zz' -> genuinely new content, kept
    assert(kept.exists(id => id >= 2000000L && id < 3000000L), "near-dup branch must survive")
    assert(kept.exists(_ >= 3000000L), "PII branch must survive")
  }

  test("decontaminate flags exactly the train docs overlapping the eval set") {
    val s = spark
    import s.implicits._
    // id 3 is the eval doc (3 % 97 == 3; NOT 100 — 100 % 97 == 3 too!);
    // train doc 101 shares one distinct shingle, 200 shares nothing
    val df = Seq(
      (3L, "alpha beta gamma delta"),
      (101L, "alpha beta gamma epsilon"),
      (200L, "zeta eta theta iota"))
      .toDF("doc_id", "text")
    val got = Curate.decontaminate(df)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(101L -> 1L), s"only doc 101 overlaps, got $got")
  }

  test("bloom decontaminate never misses a truly contaminated doc") {
    // the Bloom guarantee: zero false negatives — every doc the exact
    // shingle join flags must be flagged with n_maybe >= n_shared; run on
    // real fixture data so the filter sees a realistically-loaded bit set
    val c = DocFeed.withDups(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
    val exact = Curate.decontaminate(c)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaBloom = Curate.bloomDecontaminate(c)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("n_maybe")).toMap
    assert(exact.nonEmpty, "fixture must produce contaminated train docs")
    exact.foreach { case (id, nShared) =>
      assert(viaBloom.contains(id), s"doc $id shares $nShared shingles but was not flagged")
      assert(viaBloom(id) >= nShared,
        s"doc $id: bloom admits ${viaBloom(id)} < exact $nShared")
    }
  }

  test("minhashIngest equals the full recompute restricted to batch pairs") {
    val history = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val store = DocFeed.withDups(history)
    val batch = store.where(col("doc_id") >= DocFeed.ExactDupOffset)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val incremental = pairSet(
      Dedup.minhashIngest(Dedup.minhashIndex(history), batch, store))
    val recompute = pairSet(
      Dedup.nearDuplicatePairs(store)
        .where(col("id_a") >= DocFeed.ExactDupOffset ||
          col("id_b") >= DocFeed.ExactDupOffset)
        .select("id_a", "id_b", "n_common"))
    assert(incremental.nonEmpty, "planted dups must pair")
    assert(incremental == recompute,
      s"incremental path diverges: only-inc=${incremental -- recompute}, only-full=${recompute -- incremental}")
  }

  test("minhashIngest exact route survives a full bucket skip (maxBucket = 0)") {
    val s = spark
    import s.implicits._
    val history = Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val batch = Seq((2L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val store = history.unionByName(batch)
    val got = Dedup.minhashIngest(
      Dedup.minhashIndex(history), batch, store, maxBucket = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 2L)),
      s"identical signatures must pair through the exact route, got ${got.toSeq}")
  }

  test("minhashIngest's candidate stage reads the index in two scans: one " +
      "banded pass and one fingerprint pivot") {
    val s = spark
    import s.implicits._
    val history = (1L to 40L).map(i =>
      (i, s"w$i x$i y${i % 5} z${i % 5} q${i % 3} r${i % 3} s t")).toDF("doc_id", "text")
    val batch = Seq((100L, "w1 x1 y1 z1 q1 r1 s t"), (101L, "w7 x7 y2 z2 q1 r1 s t u"))
      .toDF("doc_id", "text")
    val idxDir = graft.TempDirs.create("graft_mhingest_scans").resolve("index").toString
    Dedup.minhashIndex(history).write.parquet(idxDir)
    val cand = Dedup.minhashIngestCandidates(
      s.read.parquet(idxDir), batch, "text", "doc_id", Dedup.DefaultMaxBucket)
    assert(cand.collect().map(r => (r.getLong(0), r.getLong(1))).contains((1L, 100L)),
      "the planted exact dup must pair")
    val shape = graft.PlanAudit.shape(cand.queryExecution.executedPlan)
    assert(shape.scans <= 2, s"index file scans: $shape\n${cand.queryExecution.executedPlan}")
  }

  test("lmFluency: hand-computed bigram conditional probabilities") {
    val s = spark
    import s.implicits._
    // corpus counts: a:3 b:3 c:1; "a b":3 "b a":1 "b c":1
    // doc 1 = [a b, b a, a b] -> (10000 + 3333 + 10000) // 3 = 7777
    // doc 2 = [a b, b c]      -> (10000 + 3333) // 2      = 6666
    val df = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val got = TextOps.lmFluency(df)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(1L -> (3L, 7777L), 2L -> (2L, 6666L)), s"got $got")
  }

  test("fluencyBuckets: terciles follow the fluency order and head keeps everything") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "a b a b a b a b", "en"), // repeated bigrams -> most fluent
      (2L, "a b a b c d", "en"),
      (3L, "a b c d e f", "en"),
      (4L, "g h i j k l", "en"),
      (5L, "m n o p q r", "en"),
      (6L, "s t u v w x", "en")).toDF("doc_id", "text", "lang")
    val flu = TextOps.lmFluency(df).collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val headIds = flu.toSeq.sortBy { case (id, bp) => (-bp, id) }.take(2).map(_._1)
    val got = TextOps.fluencyBuckets(df).collect()
      .map(r => r.getString(1) -> ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got.keySet == Set("head", "middle", "tail"))
    assert(got.values.map(_._1).toSeq.sorted == Seq(2L, 2L, 2L), s"even terciles, got $got")
    assert(got("head")._2 == 2L, "head keeps 100%")
    assert(got("head")._3 == headIds.sum,
      s"head kept-id sum pins the top-fluency tercile, got ${got("head")._3}")
  }

  test("bloom decontaminate flags the planted overlap and skips disjoint docs") {
    val s = spark
    import s.implicits._
    // id 3 is eval (3 % 97 == 3); 101 shares one shingle, 200 none — with
    // a near-empty filter no false positive can reach all 4 lanes
    val df = Seq(
      (3L, "alpha beta gamma delta"),
      (101L, "alpha beta gamma epsilon"),
      (200L, "zeta eta theta iota"))
      .toDF("doc_id", "text")
    val got = Curate.bloomDecontaminate(df)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((101L, 2L, 1L)),
      s"expected only doc 101 (2 shingles, 1 admitted), got ${got.toSeq}")
  }

  test("boilerplate finds shingles above the per-mille document share") {
    val s = spark
    import s.implicits._
    val common = "terms of service"
    val df = (1L to 10L).map(i => (i, s"$common doc number $i unique tail"))
      .toDF("doc_id", "text")
    val got = Curate.boilerplate(df, permille = 500) // >= 50% of docs
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.contains(common) && got(common) == 10L)
    assert(got.keys.forall(sh => got(sh) >= 5L))
  }

  test("topKByScore keeps the k best, ranks desc, breaks ties toward smaller id") {
    val s = spark
    import s.implicits._
    val df = Seq(
      ("q", 0.9, 10L), ("q", 0.9, 3L), ("q", 0.5, 1L), ("q", 0.99, 7L), ("q", 0.1, 2L))
      .toDF("q", "score", "id")
      .repartition(8) // force partial-aggregate merges
    val ids = df.groupBy("q").agg(topKByScore(col("score"), col("id"), 3).as("ids"))
      .head().getAs[scala.collection.Seq[Long]]("ids").toSeq
    assert(ids == Seq(7L, 3L, 10L), "0.99 first, then the 0.9 tie by smaller id")
  }

  test("topKByScore with fewer rows than k returns all, ordered") {
    val s = spark
    import s.implicits._
    val df = Seq(("q", 0.2, 2L), ("q", 0.8, 1L)).toDF("q", "score", "id")
    val ids = df.groupBy("q").agg(topKByScore(col("score"), col("id"), 5).as("ids"))
      .head().getAs[scala.collection.Seq[Long]]("ids").toSeq
    assert(ids == Seq(1L, 2L))
  }

  test("topKCosine finds the constructed nearest neighbors in order") {
    val s = spark
    import s.implicits._
    // vec 0 is the query; 1 is nearly parallel, 2 is oblique, 3 is opposite
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(10.0f, 0.5f)),
      (2L, Array(1.0f, 1.0f)),
      (3L, Array(-1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.topKCosine(emb, col("vec_id") === 0, k = 2)
      .orderBy("rnk").collect().map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Int]("rnk")))
    assert(got.toSeq == Seq((1L, 1), (2L, 2)))
  }

  test("multi-table LSH recovers a usable fraction of exact top-k; single-table does not") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val pred = col("vec_id") % 100 === 0
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.topKCosine(emb, pred, k = 3))
    val multi = pairs(Similarity.topKCosineLshMulti(emb, pred, k = 3))
    val single = pairs(Similarity.topKCosineLsh(emb, pred, k = 3))
    val ivf = pairs(Similarity.topKCosineIvf(emb, pred, k = 3))
    val recallMulti = multi.intersect(exact).size.toDouble / exact.size
    val recallSingle = single.intersect(exact).size.toDouble / exact.size
    val recallIvf = ivf.intersect(exact).size.toDouble / exact.size
    assert(recallMulti >= 0.3, s"4x4-bit tables should catch a good slice, got $recallMulti")
    assert(recallMulti > recallSingle,
      s"multi-table ($recallMulti) must beat one fine-grained table ($recallSingle)")
    assert(recallIvf > recallSingle,
      s"2-probe IVF ($recallIvf) must beat one fine-grained LSH table ($recallSingle)")
  }

  test("dropExactDuplicates keeps the smallest id per content hash") {
    val s = spark
    import s.implicits._
    val df = Seq((5L, "same text"), (2L, "same text"), (9L, "other"))
      .toDF("doc_id", "text")
    val kept = Dedup.dropExactDuplicates(df).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 9L))
  }

  test("jaccardPairsPrefix equals the exact all-pairs ground truth (lossless)") {
    val c = DocFeed.withDups(spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
    val sh = Dedup.shingles(c)
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n"))
    // ground truth: naive share-a-shingle join (fine at test scale only)
    val naive = sh.select(col("id").as("id_a"), col("sh"))
      .join(sh.select(col("id").as("id_b"), col("sh")), Seq("sh"))
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("c"))
      .join(sizes.select(col("id").as("id_a"), col("n").as("na")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n").as("nb")), Seq("id_b"))
      .where(col("c") * 5 >= (col("na") + col("nb") - col("c")) * 3)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaPrefix = Dedup.jaccardPairsPrefix(c).select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaPrefix == naive, "prefix filtering must find EVERY qualifying pair")
    // ... which makes it a superset of the LSH-probabilistic path
    val viaMinhash = Dedup.nearDuplicatePairs(c).select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaMinhash.subsetOf(viaPrefix))
  }

  test("kmeansAssign: total assignment, seed-rooted cids, copy-stable") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // exact duplicate vectors under fresh non-seed ids: identical cosines
    // to every centroid, so the (score desc, cid) argmax must agree
    val dups = emb.where(col("vec_id") % 50 === 0)
      .withColumn("vec_id", col("vec_id") + 10000L)
    val asg = Similarity.kmeansAssign(emb.unionByName(dups), k = 8, rounds = 2)
    assert(asg.count() == emb.count() + dups.count(), "every vector assigned once")
    assert(asg.where(col("cid") >= 8 || col("cid") < 0).isEmpty,
      "cells descend from the k seed ids")
    val byId = asg.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    dups.select("vec_id").collect().map(_.getLong(0)).foreach { d =>
      assert(byId(d) == byId(d - 10000L), s"copy $d strayed from its original")
    }
  }

  test("contaminationScores: full-copy eval doc scores 10000 bp") {
    val s = spark
    import s.implicits._
    // eval residue class: ids ≡ 3 (mod 97) → 3 and 100 are eval docs
    val docs = Seq(
      (3L, "a b c d e f"),   // exact copy of train doc 10 → fully contaminated
      (100L, "a b c x y z"), // shares 1 of its 4 shingles ("a b c") → 2500 bp
      (10L, "a b c d e f"),
      (11L, "p q r s t")).toDF("doc_id", "text")
    val got = Curate.contaminationScores(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set((3L, 4L, 4L, 10000L), (100L, 4L, 1L, 2500L)))
  }

  test("planted near-duplicates have small SimHash hamming distance") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sh = Dedup.simhash(DocFeed.withDups(docs))
    val a = sh.withColumnRenamed("simhash", "h_a").withColumnRenamed("doc_id", "id_a")
    val b = sh.withColumnRenamed("simhash", "h_b").withColumnRenamed("doc_id", "id_b")
    val planted = a.join(b, col("id_b") === col("id_a") + DocFeed.NearDupOffset)
      .select(Dedup.hammingDistance(col("h_a"), col("h_b")).as("d"))
    val maxPlanted = planted.agg(max("d")).head().getInt(0)
    assert(planted.count() == 50)
    assert(maxPlanted <= 8, s"near-dups should be close in hamming space, max was $maxPlanted")
  }

  test("embedding near-dup finds exactly the planted scaled copies") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val pairs = Dedup.nearDuplicatesByEmbedding(EmbFeed.withDups(emb))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = emb.where(col("vec_id") % 20 === 0)
      .collect().map(r => { val v = r.getLong(0); (v, v + EmbFeed.DupOffset) }).toSet
    assert(pairs == planted, "scaled copies share the bucket and sit at cosine 1")
  }

  test("sniffFormat recognizes magic numbers") {
    val s = spark
    import s.implicits._
    val df = Seq(
      ("jpeg", Array(0xFF, 0xD8, 0xFF, 0xE0).map(_.toByte)),
      ("png", Array(0x89, 0x50, 0x4E, 0x47).map(_.toByte)),
      ("riff", "RIFF1234".getBytes("UTF-8")),
      ("raw", "hello world".getBytes("UTF-8")))
      .toDF("expected", "payload")
    val got = df.select(col("expected"), MultiModal.sniffFormat(col("payload")).as("fmt"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    got.foreach { case (exp, fmt) => assert(exp == fmt) }
  }

  test("frameSample slices fixed-width frames at the stride") {
    val s = spark
    import s.implicits._
    val df = Seq(Tuple1("abcdefghij".getBytes("UTF-8"))).toDF("payload")
    val frames = df.select(MultiModal.frameSample(col("payload"), frameBytes = 3, stride = 4).as("f"))
      .head().getAs[scala.collection.Seq[Array[Byte]]]("f").toSeq.map(new String(_, "UTF-8"))
    assert(frames == Seq("abc", "efg", "ij"))
  }

  test("withPayload attaches the binary payload + metadata struct") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(5)
    val enriched = MultiModal.withPayload(docs)
    val row = enriched.select("payload", "media_meta.n_bytes", "media_meta.format",
      "text").head()
    assert(row.getAs[Array[Byte]]("payload").length == row.getAs[Int]("n_bytes"))
    assert(row.getAs[String]("format") == "raw")
    // the decode stub consumes the payload column downstream
    val feats = enriched.select(MultiModal.fakeFeatures(col("payload")).as("f"))
      .head().getAs[scala.collection.Seq[Double]]("f")
    assert(feats.length == 16)
  }

  test("fakeFeatures is a deterministic 16-dim vector in [0,1]") {
    val s = spark
    import s.implicits._
    val df = Seq(Tuple1("some payload".getBytes("UTF-8"))).toDF("payload")
    val f1 = df.select(MultiModal.fakeFeatures(col("payload")).as("f")).head().getAs[scala.collection.Seq[Double]]("f").toSeq
    val f2 = df.select(MultiModal.fakeFeatures(col("payload")).as("f")).head().getAs[scala.collection.Seq[Double]]("f").toSeq
    assert(f1 == f2)
    assert(f1.length == 16)
    assert(f1.forall(v => v >= 0.0 && v <= 1.0))
  }

  test("languageId picks the list-order winner on ties and 'und' on no hits") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "the el und zzz"), (2L, "zzz yyy")).toDF("doc_id", "text")
    val got = TextOps.languageId(df).select("doc_id", "pred_lang").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got(1L) == "en", "en and es tie at 1 hit; earlier list entry wins")
    assert(got(2L) == "und")
  }

  test("qualityScore: integer basis points and verdict buckets") {
    val s = spark
    import s.implicits._
    val longText = "the cat the dog the fox jumps over the lazy dog and runs to the old barn near a big tree now"
    val df = Seq((1L, longText), (2L, "tiny doc")).toDF("doc_id", "text")
    val got = TextOps.qualityScore(df).collect()
      .map(r => r.getLong(0) -> r).toMap

    val r1 = got(1L)
    val nTokens = longText.split(" ").length // 22
    assert(r1.getAs[Int]("n_tokens") == nTokens)
    // 5×the + and + to + a = 8 stopword tokens
    assert(r1.getAs[Long]("stop_bp") == 8L * 10000 / nTokens)
    val nChars = longText.length.toLong
    val nAlpha = longText.count(_.isLetter).toLong
    assert(r1.getAs[Long]("alpha_bp") == nAlpha * 10000 / nChars)
    assert(r1.getAs[Long]("punct_bp") == 0L)
    assert(r1.getAs[String]("verdict") == "good")
    assert(got(2L).getAs[String]("verdict") == "short")
  }

  test("quantizeInt8: extreme elements hit ±127, zero vector maps to zeros") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, Array(1.0f, -1.0f, 0.5f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.quantizeInt8(df).collect().map(r => r.getLong(0) -> r).toMap
    val r1 = got(1L)
    // floor: 1.0 -> 127, -1.0 -> -127, 0.5*127 = 63.5 -> 63, 0 -> 0
    assert(r1.getAs[Int]("q_max") == 127 && r1.getAs[Int]("q_min") == -127)
    assert(r1.getAs[Long]("q_sum") == 127L - 127L + 63L)
    assert(r1.getAs[Int]("n_nonzero") == 3)
    val r2 = got(2L)
    assert(r2.getAs[Int]("q_min") == 0 && r2.getAs[Int]("q_max") == 0 &&
      r2.getAs[Long]("q_sum") == 0L && r2.getAs[Int]("n_nonzero") == 0)
  }

  test("repetitionStats: line/trigram/bigram repetition as exact basis points") {
    val s = spark
    import s.implicits._
    val df = Seq(
      // 2 identical lines → dup_line_bp 5000; "a b c a b c a b" has
      // 6 trigrams, 3 distinct → dup_tri_bp 5000; top bigram "a b" ×3 of 7
      (1L, "a b c a b c a b\na b c a b c a b"),
      // no repetition at all, one line
      (2L, "one two three four five!")).toDF("doc_id", "text")
    val got = TextOps.repetitionStats(df).collect().map(r => r.getLong(0) -> r).toMap
    val r1 = got(1L)
    assert(r1.getAs[Long]("n_lines") == 2L)
    assert(r1.getAs[Long]("dup_line_bp") == 5000L)
    // 16 tokens (the newline glues "b\na" into one token), 14 trigrams of
    // which 4 distinct survive... compute directly instead:
    val toks = "a b c a b c a b\na b c a b c a b".split(" ")
    val tris = toks.sliding(3).map(_.mkString(" ")).toSeq
    assert(r1.getAs[Long]("dup_tri_bp") ==
      (tris.size - tris.distinct.size).toLong * 10000 / tris.size)
    val bigs = toks.sliding(2).map(_.mkString(" ")).toSeq
    val topCnt = bigs.groupBy(identity).values.map(_.size).max
    assert(r1.getAs[Long]("top_bigram_bp") == topCnt.toLong * 10000 / bigs.size)
    val r2 = got(2L)
    assert(r2.getAs[Long]("n_lines") == 1L)
    assert(r2.getAs[Long]("dup_line_bp") == 0L)
    assert(r2.getAs[Long]("dup_tri_bp") == 0L)
    assert(r2.getAs[Long]("sym_word_bp") == 10000L / 5) // one '!' over 5 words
  }

  test("planted line-dups drive the duplicate-line metric; base corpus is single-line") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val rep = TextOps.repetitionStats(DocFeed.withDups(docs, plantLines = true))
    val planted = rep.where(col("doc_id") >= DocFeed.LineDupOffset)
    assert(planted.count() > 0)
    assert(planted.where(col("dup_line_bp") =!= 5000L || col("n_lines") =!= 2L).count() == 0,
      "every planted doc is its text twice across one newline")
    assert(rep.where(col("doc_id") < DocFeed.LineDupOffset)
      .where(col("n_lines") =!= 1L).count() == 0)
  }

  test("topTerms ranks by tf desc then term asc and drops corpus-wide terms") {
    val s = spark
    import s.implicits._
    // 'common' is in 3/4 docs (75% > 50% cap) -> excluded everywhere
    val df = Seq(
      (1L, "common aa aa bb"),
      (2L, "common aa bb bb cc"),
      (3L, "common cc"),
      (4L, "dd")).toDF("doc_id", "text")
    val got = TextOps.topTerms(df, k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
      .toSet
    assert(got == Set(
      (1L, 1, "aa", 2L), (1L, 2, "bb", 1L),
      (2L, 1, "bb", 2L), (2L, 2, "aa", 1L),
      (3L, 1, "cc", 1L),
      (4L, 1, "dd", 1L)))
  }

  test("packBins conserves tokens and keeps bins near-full") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = Packing.packBins(docs, binTokens = 512).collect()
    val packed = out.map(_.getAs[Long]("n_tokens_packed")).sum
    val total = TextOps.tokenStats(docs).agg(org.apache.spark.sql.functions.sum("n_tokens"))
      .head().getLong(0)
    assert(packed == total, "every token lands in exactly one bin")
    // contiguous fill: bin ids are bounded by the source's token total —
    // a source spanning T tokens can open at most (T div 512) + 1 bins
    out.groupBy(_.getAs[String]("source")).foreach { case (src, rows) =>
      val srcTotal = rows.map(_.getAs[Long]("n_tokens_packed")).sum
      val maxBin = rows.map(_.getAs[Long]("bin")).max
      assert(maxBin <= srcTotal / 512,
        s"$src: bin $maxBin beyond the token span ($srcTotal tokens)")
    }
  }

  test("epochShuffle: each epoch is a bijection over its source's bins, " +
      "and different epochs really permute differently") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = Packing.epochShuffle(docs, epochs = 3).collect()
      .map(r => (r.getAs[Int]("epoch"), r.getAs[String]("source"),
        r.getAs[Long]("bin"), r.getAs[Long]("ord")))
    val byShard = out.groupBy(t => (t._1, t._2))
    byShard.foreach { case ((e, src), rows) =>
      assert(rows.map(_._4).sorted.toSeq == (1L to rows.length).toSeq,
        s"epoch $e source $src: ord must be a 1..n bijection")
    }
    // the same source's bin→ord map must differ across epochs (md5 seeded
    // by the epoch; identical permutations would mean the seed is dead)
    val perms = (0 to 2).map(e =>
      out.filter(t => t._1 == e).map(t => (t._2, t._3) -> t._4).toMap)
    assert(perms(0) != perms(1) && perms(1) != perms(2),
      "epoch permutations must differ")
    assert(perms(0).keySet == perms(1).keySet,
      "every epoch visits exactly the same bins")
  }

  test("containment pairs catch a short doc quoted whole inside a long one") {
    val s = spark
    import s.implicits._
    val quote = "alpha beta gamma delta epsilon"
    val host = s"intro words here $quote closing words follow after that tail"
    val df = Seq((1L, quote), (2L, host), (3L, "unrelated text entirely different"))
      .toDF("doc_id", "text")
    val out = Dedup.containmentPairs(df).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((1L, 2L)),
      s"the quoted doc is fully contained (Jaccard would dilute it), got $out")
  }

  test("duplicated-span share: exact copies score 10000, unique docs 0") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "a b c d e f"),        // copied by 2 → all shingles duplicated
      (2L, "a b c d e f"),
      (3L, "x y z w v u"),        // unique → 0
      (4L, "a b c q r s t"))      // shares shingle "a b c" with 1/2 only
      .toDF("doc_id", "text")
    val out = Dedup.duplicatedShingleShare(df).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("n_shingles"),
        r.getAs[Long]("n_dup_shingles"), r.getAs[Long]("dup_span_bp"))).toMap
    assert(out(1L) == ((4L, 4L, 10000L)))
    assert(out(2L) == ((4L, 4L, 10000L)))
    assert(out(3L) == ((4L, 0L, 0L)))
    assert(out(4L) == ((5L, 1L, 2000L)))
  }

  test("count-min estimates never undercount and rank the true heavy hitter first") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "hot hot hot hot hot cold warm"),
      (2L, "hot hot hot mild cold"),
      (3L, "warm mild cool")).toDF("doc_id", "text")
    val rows = TextOps.heavyHitters(df, k = 10).collect()
    assert(rows.forall(r => r.getAs[Long]("est_count") >= r.getAs[Long]("true_count")),
      "count-min is an overestimate, never an undercount")
    assert(rows.head.getAs[String]("token") == "hot")
    assert(rows.head.getAs[Long]("true_count") == 8L)
  }

  test("count-min cell fold equals the direct sketch (additivity)") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "hot hot hot hot hot cold warm"),
      (2L, "hot hot hot mild cold"),
      (7L, "warm mild cool hot"), // the "batch" slice (7 % 10 == 7)
      (17L, "cool cool cold")).toDF("doc_id", "text")
    val folded = TextOps.cmApplyBatch(
      TextOps.cmState(df.where($"doc_id" % 10 =!= 7)),
      df.where($"doc_id" % 10 === 7))
    val direct = TextOps.cmState(df)
    assert(folded.exceptAll(direct).isEmpty && direct.exceptAll(folded).isEmpty,
      "summed cells must equal the one-pass sketch")
    val viaCells = TextOps.heavyHittersFromCells(df, folded, k = 10).collect()
    val inline = TextOps.heavyHitters(df, k = 10).collect()
    assert(viaCells.map(_.toSeq).toSeq == inline.map(_.toSeq).toSeq,
      "estimates from folded state match the in-line sketch row-for-row")
  }

  test("semanticDedup prunes scaled copies within their cell, keeps originals") {
    val s = spark
    import s.implicits._
    def v(xs: Float*) = xs.toArray
    val df = Seq(
      (0L, v(1f, 0f, 0f, 0f)), (1L, v(0f, 1f, 0f, 0f)),
      (2L, v(0f, 0f, 1f, 0f)), (3L, v(0f, 0f, 0f, 1f)),
      (4L, v(1f, 1f, 0f, 0f)), // cos 0.707 to seeds — never pruned
      (100L, v(1.5f, 0f, 0f, 0f)),  // scaled copy of 0 → pruned
      (101L, v(0f, 0f, 0f, 2f)))    // scaled copy of 3 → pruned
      .toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(df, k = 4, rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("is_kept")).toMap
    assert(out(100L) == 0L && out(101L) == 0L, "scaled copies must be pruned")
    assert(Seq(0L, 1L, 2L, 3L, 4L).forall(out(_) == 1L), "originals survive")
  }

  test("chunkWindows: full stride windows + tail alignment + short-doc chunk") {
    val s = spark
    import s.implicits._
    // 40 tokens: starts 0 (full), tail at 8 (40-32, since (40-32)%16 != 0);
    // 48 tokens: starts 0, 16 ((48-32)%16 == 0 → no tail); 5 tokens: 1 chunk
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, words(40)), (2L, words(48)), (3L, words(5)))
      .toDF("doc_id", "text")
    val out = TextOps.chunkWindows(df).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(r =>
        (r.getAs[Long]("chunk_idx"), r.getAs[Long]("start_tok"))).sorted.toList).toMap
    assert(out(1L) == List((0L, 0L), (1L, 8L)))
    assert(out(2L) == List((0L, 0L), (1L, 16L)))
    assert(out(3L) == List((0L, 0L)))
  }

  test("removeDuplicatedSpans sweeps covered tokens from every copy, keeps order") {
    val s = spark
    import s.implicits._
    // docs 1 and 2 share the trigram "x y z"; its 3 tokens go from BOTH,
    // the flanks stay; doc 3 is untouched; doc 4 is too short to shingle
    val df = Seq(
      (1L, "a b x y z c"),
      (2L, "p x y z q r"),
      (3L, "u v w t s"),
      (4L, "hi")).toDF("doc_id", "text")
    val out = Dedup.removeDuplicatedSpans(df).collect()
      .map(r => r.getLong(0) -> r).toMap
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    assert(out(1L).getAs[Long]("n_removed") == 3 && out(1L).getAs[Long]("n_kept") == 3)
    assert(out(1L).getAs[String]("kept_fp") == md5("a b c"), "order must survive the sweep")
    assert(out(2L).getAs[Long]("n_removed") == 3)
    assert(out(2L).getAs[String]("kept_fp") == md5("p q r"))
    assert(out(3L).getAs[Long]("n_removed") == 0 && out(3L).getAs[String]("kept_fp") == md5("u v w t s"))
    assert(out(4L).getAs[Long]("n_tokens") == 1 && out(4L).getAs[Long]("n_kept") == 1,
      "sub-shingle docs keep everything")
  }

  test("removeDuplicatedSpans: overlapping dup shingles cover the union of their spans") {
    val s = spark
    import s.implicits._
    // "x y z w" in both docs → dup starts at x and y; covered union = 4 tokens
    val df = Seq((1L, "a x y z w b"), (2L, "x y z w")).toDF("doc_id", "text")
    val out = Dedup.removeDuplicatedSpans(df).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("n_removed") == 4 && out(1L).getAs[Long]("n_kept") == 2)
    assert(out(2L).getAs[Long]("n_removed") == 4 && out(2L).getAs[Long]("n_kept") == 0)
  }

  test("duplicatedSpanOffsets: char offsets cut exactly the duplicated text") {
    val s = spark
    import s.implicits._
    // doc 1: dup run "x y z" at tokens 2–4 (chars 4..9) and a second dup
    // run "m n o" at tokens 6–8 — two SEPARATE maximal spans; doc 3 has
    // varied token lengths so char offsets are non-trivial
    val df = Seq(
      (1L, "a b x y z c m n o d"),
      (2L, "x y z"),
      (3L, "pp m n o qqq"),
      (4L, "u v w t")).toDF("doc_id", "text")
    val out = Dedup.duplicatedSpanOffsets(df).collect()
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val byDoc = out.groupBy(_.getLong(0))
    val d1 = byDoc(1L).sortBy(_.getAs[Long]("span_start"))
    assert(d1.map(r => (r.getAs[Long]("span_start"), r.getAs[Long]("span_end"),
      r.getAs[Long]("char_start"), r.getAs[Long]("char_end"))).toList ==
      List((2L, 4L, 4L, 9L), (6L, 8L, 12L, 17L)),
      "two disjoint dup runs must stay two spans with exact offsets")
    assert(d1.map(_.getAs[String]("span_fp")).toList == List(md5("x y z"), md5("m n o")))
    val d3 = byDoc(3L)
    assert(d3.map(r => (r.getAs[Long]("char_start"), r.getAs[Long]("char_end"),
      r.getAs[String]("span_fp"))).toList == List((3L, 8L, md5("m n o"))),
      "char offsets must account for variable token lengths")
    assert(!byDoc.contains(4L), "docs with no dup coverage emit no spans")
    // the span set PARTITIONS the covered positions: Σ n_span_tokens per
    // doc equals removeDuplicatedSpans' n_removed
    val removed = Dedup.removeDuplicatedSpans(df).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("n_removed")).toMap
    val spanSum = out.groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getAs[Long]("n_span_tokens")).sum).toMap
    assert(removed.filter(_._2 > 0) == spanSum)
  }

  test("qualityModelScore: gate column agrees with the distributed report; funnel gains 6_model") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "aaa bbb ccc ddd eee fff ggg hhh"),
      (3L, "one"),
      (4L, "x y z x y z x y z")).toDF("doc_id", "text")
    val report = TextOps.qualityModelScore(df).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("model_score")).toMap
    val gate = df.select(col("doc_id"), TextOps.modelScoreCol(col("text")).as("ms"))
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("ms")).toMap
    assert(report == gate, "row-local gate math must equal the explode+agg report")
    // n_features = unigrams + bigrams
    val nf = TextOps.qualityModelScore(df).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("n_features")).toMap
    assert(nf(3L) == 1L && nf(2L) == 15L)
    // threading: Some(minModelScore) appends a 6_model funnel stage whose
    // count equals filtering the previous stage by the gate column
    val t = Curate.Thresholds(minTokens = 1, maxTokens = 1000,
      distinctRatioNum = 0, maxDupTrigramBp = 10000, lang = "en",
      minModelScore = Some(Long.MinValue.toInt))
    val stages = Curate.funnel(df, t).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stages.contains("6_model"), "enabled model gate must appear in the funnel")
    assert(Curate.funnel(df).collect().map(_.getString(0)).toSet ==
      Set("0_input", "1_dedup", "2_length", "3_quality", "4_repetition", "5_language"),
      "default funnel stays heuristic-only (graded shape unchanged)")
  }

  test("importanceScore: target-overrepresented tokens score high, disjoint vocab scores 0") {
    val s = spark
    import s.implicits._
    // token a: df=2 docs, 1 in-target  -> 5000 bp
    // token b: df=1, in-target         -> 10000 bp
    // token c: df=2, none in-target    -> 0 bp
    val df = Seq(
      (1L, "a b", "en"), (2L, "a c", "fr"), (3L, "c", "fr"))
      .toDF("doc_id", "text", "lang")
    val out = TextOps.importanceScore(df).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("score_bp") == 15000 && out(1L).getAs[Long]("mean_w_bp") == 7500)
    assert(out(2L).getAs[Long]("score_bp") == 5000 && out(2L).getAs[Long]("mean_w_bp") == 2500)
    assert(out(3L).getAs[Long]("score_bp") == 0 && out(3L).getAs[Long]("n_distinct_tokens") == 1)
  }

  test("importanceSample: mean 10000 always kept, mean 0 never, regardless of bucket") {
    val s = spark
    import s.implicits._
    // doc 1's vocab lives only in the target slice (mean 10000 — bucket
    // can never reach it); doc 2's vocab has zero target df (mean 0 —
    // no bucket is below it)
    val df = Seq(
      (1L, "aa bb", "en"), (2L, "cc dd", "fr"))
      .toDF("doc_id", "text", "lang")
    val out = TextOps.importanceSample(df).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("en").getAs[Long]("n_kept") == 1 &&
      out("en").getAs[Long]("sum_kept_ids") == 1L)
    assert(out("fr").getAs[Long]("n_kept") == 0 &&
      out("fr").getAs[Long]("sum_kept_ids") == 0L)
  }

  test("histQuantiles: per-source partials merge; p50/p90 land on the right bins") {
    val s = spark
    import s.implicits._
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    // 10 docs: 4×3 tokens (bin 0), 4×10 (bin 1, split across sources so the
    // merge actually combines partials), 2×20 (bin 2).
    // cum: 4, 8, 10 → p50 = bin 1 (8·2 ≥ 10 first there) → lo 8;
    // p90 = bin 2 (8·10 < 90, 10·10 ≥ 90) → lo 16.
    val rows =
      (1 to 4).map(i => (i.toLong, words(3), "en", "s1")) ++
      Seq((5L, words(10), "en", "s1"), (6L, words(10), "en", "s1"),
        (7L, words(10), "en", "s2"), (8L, words(10), "en", "s2")) ++
      Seq((9L, words(20), "en", "s2"), (10L, words(20), "en", "s2"))
    val out = TextOps.histQuantiles(rows.toDF("doc_id", "text", "lang", "source"))
      .collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("n_docs") == 10 && r.getAs[Long]("n_bins") == 3)
    assert(r.getAs[Long]("p50_lo") == 8)
    assert(r.getAs[Long]("p90_lo") == 16)
    assert(r.getAs[Long]("max_bin_lo") == 16)
  }

  test("lineDedup removes cross-doc lines, keeps order, fingerprints survivors") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "unique one\nshared footer\nunique two"),
      (2L, "other text\nshared footer"),
      (3L, "solo document")).toDF("doc_id", "text")
    val out = graft.ext.Curate.lineDedup(df).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("n_removed") == 1 && out(1L).getAs[Long]("n_kept") == 2)
    assert(out(2L).getAs[Long]("n_removed") == 1 && out(2L).getAs[Long]("n_kept") == 1)
    assert(out(3L).getAs[Long]("n_removed") == 0)
    // surviving text preserves original line order
    val fp = java.security.MessageDigest.getInstance("MD5")
      .digest("unique one\nunique two".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    assert(out(1L).getAs[String]("kept_fp") == fp)
  }

  test("hardNegatives excludes the near-duplicate band from the ranking") {
    val s = spark
    import s.implicits._
    def v(xs: Float*) = xs.toArray
    val df = Seq(
      (0L, v(1f, 0f)), (50L, v(1.5f, 0f)), // 50 = scaled copy of the query
      (2L, v(1f, 0.5f)), (3L, v(0f, 1f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.hardNegatives(df, col("vec_id") === 0, k = 3).collect()
    val ids = out.map(_.getAs[Long]("neighbor_id"))
    assert(!ids.contains(50L), "the cos~1 duplicate must be filtered")
    assert(ids.toSet == Set(2L, 3L))
    assert(out.find(_.getAs[Long]("neighbor_id") == 2L).get.getAs[Int]("rnk") == 1)
  }

  test("HLL estimate lands within the m=16 error envelope; exact count exact") {
    val s = spark
    import s.implicits._
    val n = 2000
    val df = (1 to n).map(i => ("g", s"value_$i")).toDF("k", "v")
      .union((1 to 500).map(i => ("g", s"value_$i")).toDF("k", "v")) // dups change nothing
    val r = Similarity.hllDistinct(df, "k", "v").head()
    assert(r.getAs[Long]("exact_distinct") == n)
    val est = r.getAs[Long]("hll_est")
    // 1.04/sqrt(16) ~ 26% std error; 3 sigma is the honest bound
    assert(est > n * 0.2 && est < n * 1.8, s"estimate $est implausible for $n")
    assert(r.getAs[Long]("n_zero_buckets") == 0)
  }

  test("scriptStats counts, labels, and tie/empty edges") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "hello world"),                // pure Latin: 10 letters / 11 chars
      (2L, "привет мир"),                 // pure Cyrillic
      (3L, "你好世界"),                    // pure CJK
      (4L, "hi привет мир"),              // Cyrillic-dominant mixed
      (5L, "ab яж"),                      // exact tie 2-2 -> latin priority
      (6L, "1234 !!"),                    // no script hits -> other
      (7L, ""))                           // empty -> other, 0 bp
      .toDF("doc_id", "text")
    val got = TextOps.scriptStats(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("latin_n"), r.getAs[Long]("cyr_n"), r.getAs[Long]("cjk_n"),
          r.getAs[String]("script"), r.getAs[Long]("script_bp")))).toMap
    assert(got(1L) == ((10L, 0L, 0L, "latin", 10L * 10000 / 11)))
    assert(got(2L) == ((0L, 9L, 0L, "cyrillic", 9L * 10000 / 10)))
    assert(got(3L) == ((0L, 0L, 4L, "cjk", 10000L)))
    assert(got(4L) == ((2L, 9L, 0L, "cyrillic", 9L * 10000 / 13)))
    assert(got(5L) == ((2L, 2L, 0L, "latin", 2L * 10000 / 5)))
    assert(got(6L) == ((0L, 0L, 0L, "other", 0L)))
    assert(got(7L) == ((0L, 0L, 0L, "other", 0L)))
  }

  test("script-planted corpus flips labels: cyr/cjk plants dominate, mixed stays latin") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = TextOps.scriptStats(DocFeed.withDups(docs, plantScripts = true))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("script")).toMap
    val planted = out.keys.filter(_ >= DocFeed.CyrDocOffset)
    assert(planted.nonEmpty, "script plants must exist")
    planted.foreach { id =>
      val expect =
        if (id >= DocFeed.MixedDocOffset) "latin"     // short suffix on a long ASCII doc
        else if (id >= DocFeed.CjkDocOffset) "cjk"
        else "cyrillic"
      assert(out(id) == expect, s"doc $id")
    }
    // base docs are pure ASCII -> all latin
    assert(out.filter(_._1 < DocFeed.ExactDupOffset).values.forall(_ == "latin"))
  }

  test("tokenDeciles covers every doc exactly once with ordered bounds") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = TextOps.tokenDeciles(docs).collect()
    assert(out.map(_.getAs[Long]("n_docs")).sum == docs.count())
    // within a language, decile token bounds are non-decreasing
    out.groupBy(_.getAs[String]("lang")).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Int]("decile"))
      val bounds = sorted.map(r => (r.getAs[Int]("min_tokens"), r.getAs[Int]("max_tokens")))
      assert(bounds.forall { case (lo, hi) => lo <= hi })
      assert(bounds.sliding(2).forall {
        case Array((_, hi1), (lo2, _)) => hi1 <= lo2
        case _ => true
      })
    }
  }

  test("collocations rank the always-together pair above independent pairs") {
    val s = spark
    import s.implicits._
    // "qq zz" occurs 6 times and qq/zz never appear apart -> maximal lift;
    // "a b" also occurs 6 times but a and b are everywhere -> low lift
    val docs = (1L to 6L).map(i => (i, "a b qq zz a b c a d b")).toDF("doc_id", "text")
    val got = TextOps.collocations(docs, minCount = 5L, k = 3).collect()
      .map(r => (r.getAs[String]("bg"), r.getAs[Long]("c12"), r.getAs[Long]("lift_bp")))
    assert(got.head._1 === "qq zz")
    // N=60, c12=6, c(qq)=c(zz)=6 -> 6*60*10000/36 = 100000
    assert(got.head._3 === 100000L)
    val ab = got.find(_._1 == "a b")
    assert(ab.forall(_._3 < 100000L))
  }

  test("greedyGenerate follows the argmax chain, breaks ties low, stops at dead ends") {
    val s = spark
    import s.implicits._
    // "a" dominates unigrams; a->b (3x) beats a->c (1x); b->zz and b->aa
    // tie at 1 -> lexicographically "aa"; "aa" has no successor (dead end)
    val docs = Seq(
      (1L, "a b zz"), (2L, "a b aa"), (3L, "a b"), (4L, "a c a")
    ).toDF("doc_id", "text")
    val got = TextOps.greedyGenerate(docs, nSeeds = 2, steps = 4).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2), r.getLong(3))))
      .toMap
    // unigrams: a=5, b=3 -> seeds (a, b)
    assert(got(1L) == (("a", "a b aa", 3L)), "a -> b (argmax) -> aa (tie low) -> stop")
    assert(got(2L) == (("b", "b aa", 2L)))
  }

  test("rankEval scores constructed rankings exactly") {
    val s = spark
    import s.implicits._
    // truth@3 per query; system finds: q1 all three (perfect), q2 one of
    // three at system rank 2, q3 none
    val truth = Seq(
      (1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3),
      (2L, 20L, 1), (2L, 21L, 2), (2L, 22L, 3),
      (3L, 30L, 1), (3L, 31L, 2), (3L, 32L, 3)).toDF("query_id", "neighbor_id", "rnk")
    val system = Seq(
      (1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3),
      (2L, 99L, 1), (2L, 21L, 2), (2L, 98L, 3),
      (3L, 97L, 1), (3L, 96L, 2), (3L, 95L, 3)).toDF("query_id", "neighbor_id", "rnk")
    val got = Similarity.rankEval(system, truth, k = 3).orderBy("query_id").collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("n_hits"),
        r.getAs[Long]("recall_bp"), r.getAs[Long]("rr_micro")))
    assert(got.toSeq === Seq(
      (1L, 3L, 10000L, 1000000L), // perfect: recall 100%, rr = 1/1
      (2L, 1L, 3333L, 500000L),   // 1/3 found, first at rank 2
      (3L, 0L, 0L, 0L)))          // nothing found
  }
}

object ExtOpsSpec {
  val batchSizes = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
}
