package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StateStream

/** The generation-pinned DEFAULT entry points of the three dedup serving
  * layouts (minhash / simhash / embdup): `*PairsServing` takes a
  * GENERATIONED layout root, resolves the current generation ONCE, and a
  * fold flipping a new generation through foldIsolatedGen neither
  * changes what an already-constructed read answers (graced bytes) nor
  * leaks a torn artifact mix into a fresh read. A raw-path read
  * (`*PairsFrom` over `ServingLayout.Artifact.read`) is the explicit
  * single-writer opt-in — this spec is what makes the contract
  * structural rather than scaladoc (r14 What's-missing #4).
  */
class GenPinnedReadSpec extends AnyFunSuite with graft.SparkFixture {

  private implicit class DfOps(rows: Seq[(Long, String)]) {
    def toDF2(s: org.apache.spark.sql.SparkSession): DataFrame = {
      import s.implicits._
      rows.toDF("doc_id", "text")
    }
  }

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select(col("id_a").cast("long"), col("id_b").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("minhash default entry under a concurrent fold: the pre-resolved " +
      "read answers the pre-fold generation, a fresh read the post-fold") {
    val s = spark
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val pre = Seq((1L, shared), (2L, shared), (3L, "one two three four five six"))
    val post = Seq((1L, shared), (2L, "nine ten eleven twelve thirteen x"),
      (3L, "one two three four five six"))
    val root = graft.TempDirs.create("graft_pin_mh").resolve("layout").toString
    StateStream.publishState(s, root) { stage =>
      Dedup.writeServingLayout(pre.toDF2(s),
        s"${stage.toUri.getPath}/bands", s"${stage.toUri.getPath}/fps")
    }
    // the long-running reader constructs its read from the DEFAULT entry
    // point HERE — generation 1 resolves at construction
    val pinned = Dedup.minhashPairsServing(s, root, pre.toDF2(s))
    // maintenance folds doc 2's revision through the isolated-generation
    // staged copy + flip
    val old2 = pre.toDF2(s).where(col("doc_id") === 2L)
    val new2 = post.toDF2(s).where(col("doc_id") === 2L)
    StateStream.foldIsolatedGen(s, root) { gen =>
      Dedup.minhashServingFold(s, s"$gen/bands", s"$gen/fps", old2, new2)
    }
    // EXECUTED AFTER THE FLIP: the pinned read answers the consistent
    // pre-fold pairs on graced gen-1 bytes
    assert(pairSet(pinned) == Set((1L, 2L)),
      "the pre-resolved default read must answer the pre-fold pair set")
    // a FRESH default read resolves the folded generation
    assert(pairSet(Dedup.minhashPairsServing(s, root, post.toDF2(s))).isEmpty,
      "a fresh default read must answer the post-fold pair set")
  }

  test("simhash default entry under a concurrent fold: consistent (vrows, " +
      "docs) artifact SET per generation — never a torn mix") {
    val s = spark
    val shared = "alpha beta gamma delta"
    val pre = Seq((1L, shared), (2L, shared), (3L, "one two three four"))
    val root = graft.TempDirs.create("graft_pin_sh").resolve("layout").toString
    StateStream.publishState(s, root) { stage =>
      Dedup.simhashWriteServingLayout(pre.toDF2(s),
        s"${stage.toUri.getPath}/vrows", s"${stage.toUri.getPath}/docs")
    }
    val pinned = Dedup.simhashPairsServing(s, root)
    // the fold DELETES doc 2 — under the liveness coupling a torn read
    // would either expand the live shared value to nothing or pair the
    // stale one spuriously; the pinned generation does neither
    val d2 = pre.toDF2(s).where(col("doc_id") === 2L)
    StateStream.foldIsolatedGen(s, root) { gen =>
      Dedup.simhashServingFold(s, s"$gen/vrows", s"$gen/docs",
        d2, d2.where(lit(false)))
    }
    assert(pairSet(pinned) == Set((1L, 2L)),
      "the pre-resolved default read must answer the pre-fold pair set")
    assert(pairSet(Dedup.simhashPairsServing(s, root)).isEmpty,
      "a fresh default read must answer the post-fold pair set")
  }

  test("bm25 pinned search under a concurrent fold answers a consistent " +
      "3-artifact generation (postings, doclen, stats flip together)") {
    val s = spark
    import s.implicits._
    // the df cap keeps only df×2 ≤ n terms: pre-fold "gamma delta" lives
    // in doc 1 alone (df=1, kept → the query hits doc 1); the fold gives
    // doc 2 the same bigram (df=2, cut) — certainly result-visible
    val pre = Seq((1L, "alpha beta gamma delta"), (2L, "epsilon zeta eta theta"),
      (3L, "one two three four"))
    val post = Seq(pre(0), (2L, "gamma delta epsilon zeta"), pre(2))
    def artifacts(c: Seq[(Long, String)]) = Retrieval.bm25ServingArtifacts(c.toDF2(s))
    val root = graft.TempDirs.create("graft_pin_bm").resolve("layout").toString
    StateStream.publishState(s, root) { stage =>
      val p = stage.toUri.getPath
      val (po, dl, st) = artifacts(pre)
      po.repartition(col("bucket")).write.partitionBy("bucket").parquet(s"$p/postings")
      dl.repartition(col("dbucket")).write.partitionBy("dbucket").parquet(s"$p/doclen")
      st.write.parquet(s"$p/stats")
    }
    val queries = Seq((99L, "gamma delta")).toDF("query_id", "term")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf)).toSet
    def expect(c: Seq[(Long, String)]) = {
      val (po, dl, st) = artifacts(c)
      rows(Retrieval.bm25TopKServing(po, dl, st, queries))
    }
    val pinned = Retrieval.bm25TopKServingPinned(s, root, queries)
    val old2 = pre.toDF2(s).where(col("doc_id") === 2L)
    val new2 = post.toDF2(s).where(col("doc_id") === 2L)
    StateStream.foldIsolatedGen(s, root) { gen =>
      Retrieval.bm25ServingFold(s, s"$gen/postings", s"$gen/doclen",
        s"$gen/stats", old2, new2)
    }
    assert(rows(pinned) == expect(pre),
      "the pre-resolved pinned search must answer the pre-fold index")
    assert(rows(Retrieval.bm25TopKServingPinned(s, root, queries)) == expect(post),
      "a fresh pinned search must answer the post-fold index")
    assert(expect(pre) != expect(post), "the fold must be result-visible")
  }

  test("ivf pinned search under a concurrent fold answers a consistent " +
      "cell generation (frozen centroid model outside the generation)") {
    val s = spark
    import s.implicits._
    def vec(seed: Long): Array[Float] =
      Array.tabulate(Similarity.Dim)(j =>
        ((((seed * 1000003L + j) * 2654435761L >>> 13) & 0xffff).toFloat / 65536.0f))
    val pre = Seq((0L, vec(0)), (1L, vec(1)), (2L, vec(2)), (3L, vec(3)),
      (4L, vec(0)))  // 4 is a copy of 0 — the query's certain neighbor
    val emb = pre.toDF("vec_id", "embedding")
    val cents = Seq((0L, vec(0)), (1L, vec(1))).toDF("cid", "centv")
      .withColumn("centn", Similarity.l2Norm(col("centv")))
      .localCheckpoint(true)
    val root = graft.TempDirs.create("graft_pin_ivf").resolve("layout").toString
    StateStream.publishState(s, root) { stage =>
      Similarity.ivfIndex(emb, cents).repartition(col("cell"))
        .write.partitionBy("cell").parquet(stage.toUri.getPath)
    }
    val queries = emb.where(col("vec_id") === 0L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf)).toSet
    def expect(e: org.apache.spark.sql.DataFrame) =
      rows(Similarity.ivfSearch(Similarity.ivfIndex(e, cents), queries, cents, k = 2))
    val pinned = Similarity.ivfSearchPinned(s, root, queries, cents, k = 2)
    // the fold DELETES vector 4 (the copy) — certainly result-visible
    val subject = emb.where(col("vec_id") === 4L)
    StateStream.foldIsolatedGen(s, root) { gen =>
      Similarity.ivfServingFold(s, gen, subject, subject.where(lit(false)), cents)
    }
    assert(rows(pinned) == expect(emb),
      "the pre-resolved pinned search must answer the pre-fold cells")
    assert(rows(Similarity.ivfSearchPinned(s, root, queries, cents, k = 2)) ==
      expect(emb.where(col("vec_id") =!= 4L)),
      "a fresh pinned search must answer the post-fold cells")
  }

  test("episode pinned enrichment under a concurrent fold answers a " +
      "consistent store generation") {
    val s = spark
    import s.implicits._
    val cdc = graft.cdc.ServingBridge
    val preEps = Seq((5L, "OPEN", 10L, 100L, None: Option[Long]))
      .toDF("serve_key", "status_asof", "ep_id", "valid_from_s", "valid_to_s")
      .withColumn("bucket", cdc.keyBucket(col("serve_key")))
    val root = graft.TempDirs.create("graft_pin_eps").resolve("layout").toString
    StateStream.publishState(s, root) { stage =>
      preEps.repartition(col("bucket")).write.partitionBy("bucket")
        .parquet(s"${stage.toUri.getPath}/episodes")
    }
    val requests = Seq((1L, 5L, 150L)).toDF("event_id", "serve_key", "serve_s")
    def served(df: org.apache.spark.sql.DataFrame): Option[String] =
      df.collect().headOption.flatMap(r => Option(r.getString(3)))
    val pinned = cdc.enrichAsOfPinned(s, root, requests)
    // the fold appends a later episode that CLOSES the stored open one
    // before the request instant — result-visible at serve_s = 150
    val newEps = Seq((5L, "CLOSED", 11L, 120L))
      .toDF("serve_key", "status_asof", "ep_id", "valid_from_s")
    StateStream.foldIsolatedGen(s, root) { gen =>
      cdc.episodesServingFold(s, s"$gen/episodes", newEps)
    }
    assert(served(pinned) == Some("OPEN"),
      "the pre-resolved pinned read must serve the pre-fold episode")
    assert(served(cdc.enrichAsOfPinned(s, root, requests)) == Some("CLOSED"),
      "a fresh pinned read must serve the post-fold episode")
  }

  test("embdup default entry under a concurrent fold: the generation dir " +
      "IS the vecs artifact") {
    val s = spark
    import s.implicits._
    def vec(seed: Long): Array[Float] =
      Array.tabulate(Similarity.Dim)(j =>
        ((((seed * 1000003L + j) * 2654435761L >>> 13) & 0xffff).toFloat / 65536.0f))
    // 1 and 2 are exact copies (cosine 1); 3 is unrelated
    val pre = Seq((1L, vec(1)), (2L, vec(1)), (3L, vec(3)))
      .toDF("vec_id", "embedding")
    val root = graft.TempDirs.create("graft_pin_ed").resolve("layout").toString
    StateStream.publishState(s, root) { stage =>
      Dedup.embDupWriteServingLayout(pre, stage.toUri.getPath)
    }
    val pinned = Dedup.embDupPairsServing(s, root)
    // the fold re-embeds doc 2 to an unrelated direction
    val old2 = pre.where(col("vec_id") === 2L)
    val new2 = Seq((2L, vec(7))).toDF("vec_id", "embedding")
    StateStream.foldIsolatedGen(s, root) { gen =>
      Dedup.embDupServingFold(s, gen, old2, new2)
    }
    assert(pairSet(pinned) == Set((1L, 2L)),
      "the pre-resolved default read must answer the pre-fold pair set")
    assert(pairSet(Dedup.embDupPairsServing(s, root)).isEmpty,
      "a fresh default read must answer the post-fold pair set")
  }
}
