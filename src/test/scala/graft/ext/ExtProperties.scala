package graft.ext

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}

import graft.SparkFixture
import graft.functions.TopKByScore.topKByScore

/** Property-based invariants of the EXT operators over random inputs. */
object ExtProperties extends Properties("ext") with SparkFixture {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8).withMaxDiscardRatio(10)

  // scores quantized to force ties; ids unique
  private val genScored: Gen[List[(Double, Long)]] = for {
    n <- Gen.choose(0, 30)
    scores <- Gen.listOfN(n, Gen.choose(0, 5).map(_ * 0.2))
  } yield scores.zipWithIndex.map { case (s, i) => (s, i.toLong) }

  property("topKByScore equals the sort-based reference, ties and all") =
    Prop.forAll(genScored, Gen.choose(1, 8)) { (rows, k) =>
      val s = spark
      import s.implicits._
      val expected = rows.sortBy { case (sc, id) => (-sc, id) }.take(k).map(_._2)
      val got =
        if (rows.isEmpty) Nil
        else rows.toDF("score", "id").repartition(4)
          .agg(topKByScore(col("score"), col("id"), k).as("ids"))
          .head().getAs[scala.collection.Seq[Long]]("ids").toList
      got == expected
    }

  private val genDim: Gen[Long] = Gen.choose(0L, 0x7fffffffL)

  property("z-interleave is monotone per dimension and round-trips bits") =
    Prop.forAll(genDim, genDim, genDim) { (a1, a2, b) =>
      import graft.functions.ZValue.interleave
      val mono =
        if (a1 == a2) interleave(a1, b) == interleave(a2, b)
        else (a1 < a2) == (interleave(a1, b) < interleave(a2, b))
      // symmetric on the other dimension, and never negative (31-bit dims)
      val monoB =
        if (a1 == a2) true
        else (a1 < a2) == (interleave(b, a1) < interleave(b, a2))
      mono && monoB && interleave(a1, b) >= 0L
    }

  private val genCorpus: Gen[List[(Long, String)]] = for {
    n <- Gen.choose(0, 25)
    texts <- Gen.listOfN(n, Gen.choose(1, 8).flatMap(len =>
      Gen.listOfN(len, Gen.oneOf("the", "a", "el", "und", "spark", "data", "zz"))
        .map(_.mkString(" "))))
  } yield texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  property("dropExactDuplicates is idempotent and leaves distinct texts") =
    Prop.forAll(genCorpus) { rows =>
      val s = spark
      import s.implicits._
      val df = rows.toDF("doc_id", "text")
      val once = Dedup.dropExactDuplicates(df)
      val texts = once.select("text").collect().map(_.getString(0))
      texts.length == texts.distinct.length &&
        Dedup.dropExactDuplicates(once).count() == once.count()
    }

  property("curation funnel counts never increase stage-over-stage") =
    Prop.forAll(genCorpus) { rows =>
      val s = spark
      import s.implicits._
      val counts = Curate.stages(rows.toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("g"))
        .withColumn("n_chars", length(col("text"))),
        Curate.Thresholds(minTokens = 1, maxTokens = 6))
        .map(_._2.count())
      counts.zip(counts.tail).forall { case (a, b) => b <= a }
    }

  property("frameSample with stride == frameBytes reconstructs the payload") =
    Prop.forAll(Gen.choose(1, 64), Gen.choose(1, 8)) { (len, frame) =>
      val s = spark
      import s.implicits._
      val payload = Array.tabulate(len)(_.toByte)
      val frames = Seq(Tuple1(payload)).toDF("payload")
        .select(MultiModal.frameSample(col("payload"), frame, frame).as("f"))
        .head().getAs[scala.collection.Seq[Array[Byte]]]("f")
      frames.toArray.flatten.toSeq == payload.toSeq
    }

  // (user, time, isMark) streams with heavy time collisions to stress ties
  private val genEvents: Gen[List[(Long, Long, Boolean)]] = for {
    n <- Gen.choose(0, 40)
    rows <- Gen.listOfN(n, for {
      u <- Gen.choose(1L, 3L)
      t <- Gen.choose(0L, 12L)
      m <- Gen.oneOf(true, false)
    } yield (u, t, m))
  } yield rows

  private val genDocs: Gen[List[(Long, String)]] = for {
    n <- Gen.choose(1, 12)
    texts <- Gen.listOfN(n, Gen.listOf(
      Gen.oneOf("hot", "cold", "warm", "cool", "mild")).map(_.mkString(" ")))
  } yield texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  property("cmForget inverts cmApplyBatch exactly: fold a batch in, forget " +
      "the same docs, get the original cells back") =
    Prop.forAll(genDocs, genDocs) { (keepRows, subjRows) =>
      val s = spark
      import s.implicits._
      val keep = keepRows.toDF("doc_id", "text")
      val subj = subjRows.map { case (i, t) => (i + 1000L, t) }.toDF("doc_id", "text")
      def cells(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2))
          .filter(_._2 != 0L).toMap
      val base = TextOps.cmState(keep)
      val folded = TextOps.cmApplyBatch(base, subj)
      cells(TextOps.cmForget(folded, subj)) == cells(base)
    }

  property("histForget inverts the histogram fold exactly (additive bins)") =
    Prop.forAll(genDocs, genDocs) { (keepRows, subjRows) =>
      val s = spark
      import s.implicits._
      val keep = keepRows.map { case (i, t) => (i, t, s"l${i % 3}") }
        .toDF("doc_id", "text", "lang")
      val subj = subjRows.map { case (i, t) => (i + 1000L, t, s"l${i % 2}") }
        .toDF("doc_id", "text", "lang")
      def bins(df: org.apache.spark.sql.DataFrame) =
        df.select(col("lang"), col("bin").cast("long"), col("n").cast("long"))
          .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
          .filter(_._2 != 0L).toMap
      val base = TextOps.histSketch(keep)
      val folded = base.unionByName(TextOps.histSketch(subj))
      bins(TextOps.histForget(folded, subj)) == bins(base)
    }

  property("as-of join equals the per-row brute-force maximum") =
    Prop.forAll(genEvents) { rows =>
      val s = spark
      import s.implicits._
      val withIds = rows.zipWithIndex.map { case ((u, t, m), i) => (i.toLong, u, t, m) }
      val df = withIds.toDF("event_id", "user_id", "t_s", "is_mark")
      val got = graft.ops.AsOfJoin.selfBackward(df, Seq("user_id"), "t_s",
          col("is_mark"), Seq("event_id" -> "ref_id"), "ref_id")
        .collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(4)) -1L else r.getLong(4))).toMap
      val want = withIds.map { case (id, u, t, _) =>
        // latest mark at-or-before t for the same user; ties -> max ref id
        val cands = withIds.filter { case (_, u2, t2, m2) => m2 && u2 == u && t2 <= t }
        id -> cands.sortBy { case (mid, _, mt, _) => (mt, mid) }
          .lastOption.map(_._1).getOrElse(-1L)
      }.toMap
      got == want
    }

  // sparse random graphs over a small id space: multi-edge components,
  // self-loops, singleton edges — everything the propagation must survive
  private val genEdges: Gen[List[(Long, Long)]] = for {
    n <- Gen.choose(0, 25)
    edges <- Gen.listOfN(n,
      Gen.zip(Gen.choose(0L, 15L), Gen.choose(0L, 15L)))
  } yield edges

  property("connectedComponents equals brute-force union-find") =
    Prop.forAll(genEdges) { edges =>
      val s = spark
      import s.implicits._
      // reference: plain union-find over the same edges
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = parent.keys.map(x => x -> find(x)).toMap
      val got =
        if (edges.isEmpty) Map.empty[Long, Long]
        else Cluster.connectedComponents(edges.toDF("id_a", "id_b"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      got == want
    }

  property("alternating large-star/small-star CC equals union-find too") =
    Prop.forAll(genEdges) { edges =>
      val s = spark
      import s.implicits._
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = parent.keys.map(x => x -> find(x)).toMap
      val got =
        if (edges.isEmpty) Map.empty[Long, Long]
        else Cluster.connectedComponentsAlternating(
          edges.toDF("id_a", "id_b")
            .select(col("id_a").cast("long").as("src"), col("id_b").cast("long").as("dst")))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      got == want
    }

  property("jaccard pairs are a subset of containment pairs at the same threshold") =
    Prop.forAll(genCorpus) { rows =>
      val s = spark
      import s.implicits._
      // containment of the smaller set >= Jaccard always, so every
      // Jaccard-qualifying pair must appear in the containment join —
      // links the two lossless prefix-filter operators
      val df = rows.toDF("doc_id", "text")
      def pairSet(out: org.apache.spark.sql.DataFrame) =
        out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val jac = pairSet(Dedup.jaccardPairsPrefix(df, num = 3, den = 5))
      val cont = pairSet(Dedup.containmentPairs(df, num = 3, den = 5))
      jac.subsetOf(cont)
    }

  property("span removal agrees with the duplicated-span share signal") =
    Prop.forAll(genCorpus.suchThat(_.nonEmpty)) { rows =>
      val s = spark
      import s.implicits._
      // a doc has a >=2-doc shingle (share's n_dup_shingles > 0) iff the
      // removal sweeps tokens from it; a sweep covers at least one whole
      // shingle; kept + removed always conserves the token count
      val df = rows.toDF("doc_id", "text")
      val share = Dedup.duplicatedShingleShare(df).collect()
        .map(r => r.getLong(0) -> r.getAs[Long]("n_dup_shingles")).toMap
      val rem = Dedup.removeDuplicatedSpans(df).collect()
        .map(r => r.getLong(0) -> r).toMap
      rows.forall { case (id, _) =>
        val r = rem(id)
        val removed = r.getAs[Long]("n_removed")
        val conserved =
          r.getAs[Long]("n_kept") + removed == r.getAs[Long]("n_tokens")
        conserved &&
          share.get(id).exists(_ > 0) == (removed > 0) &&
          (removed == 0 || removed >= Dedup.ShingleLen)
      }
    }

  property("HLL sketch is duplication-blind (union with itself changes nothing)") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.alphaNumStr.suchThat(_.nonEmpty))) { vs =>
      val s = spark
      import s.implicits._
      val df = vs.map(("g", _)).toDF("k", "v")
      val once = Similarity.hllDistinct(df, "k", "v").head()
      val twice = Similarity.hllDistinct(df.union(df), "k", "v").head()
      once.getAs[Long]("hll_est") == twice.getAs[Long]("hll_est") &&
        once.getAs[Long]("exact_distinct") == twice.getAs[Long]("exact_distinct") &&
        once.getAs[Long]("n_zero_buckets") == twice.getAs[Long]("n_zero_buckets")
    }

  property("HLL merge of per-group sketches equals sketching the union directly") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.zip(Gen.oneOf("a", "b", "c"),
      Gen.alphaNumStr.suchThat(_.nonEmpty)))) { rows =>
      val s = spark
      import s.implicits._
      val df = rows.toDF("k", "v")
      val merged = Similarity.hllMergedDistinct(df, "k", "v").head()
      val direct = Similarity.hllDistinct(df.select(lit("all").as("k"), col("v")), "k", "v").head()
      merged.getAs[Long]("hll_est") == direct.getAs[Long]("hll_est") &&
        merged.getAs[Long]("exact_distinct") == direct.getAs[Long]("exact_distinct")
    }

  property("HLL batch apply equals the direct sketch and replays idempotently") =
    Prop.forAll(
      Gen.listOf(Gen.zip(Gen.oneOf("a", "b"), Gen.alphaNumStr.suchThat(_.nonEmpty))),
      Gen.nonEmptyListOf(Gen.zip(Gen.oneOf("a", "b"), Gen.alphaNumStr.suchThat(_.nonEmpty)))) {
      (hist, batch) =>
        val s = spark
        import s.implicits._
        def regs(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
        val hd = hist.toDF("k", "v")
        val bd = batch.toDF("k", "v")
        val once = Similarity.hllApplyBatch(Similarity.hllState(hd, "k", "v"), bd, "k", "v")
        val twice = Similarity.hllApplyBatch(once, bd, "k", "v")
        val direct = Similarity.hllState(hd.unionByName(bd), "k", "v")
        regs(once) == regs(direct) && regs(twice) == regs(direct)
    }

  property("int8 quantization stays in [-127,127] with extremes hit") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.choose(-100, 100).map(_ / 10.0f))) { xs =>
      val s = spark
      import s.implicits._
      val row = Similarity.quantizeInt8(Seq((1L, xs.toArray)).toDF("vec_id", "embedding"))
        .head()
      val (qMin, qMax) = (row.getAs[Int]("q_min"), row.getAs[Int]("q_max"))
      val inRange = qMin >= -127 && qMax <= 127
      val maxAbs = xs.map(math.abs).max
      // the max-|x| element floors to exactly ±127
      val extremeHit = maxAbs == 0.0f || qMax == 127 || qMin == -127
      inRange && extremeHit
    }

  private val genIncEdges: Gen[List[(Long, Long)]] = for {
    n <- Gen.choose(1, 15)
    es <- Gen.listOfN(n, for {
      a <- Gen.choose(1L, 12L)
      b <- Gen.choose(1L, 12L)
    } yield (math.min(a, b), math.max(a, b)))
  } yield es.filter { case (a, b) => a != b }.distinct

  property("incremental CC batch fold equals from-scratch CC for any edge split") =
    Prop.forAll(genIncEdges, Gen.choose(0, 100)) { (edges, splitPct) =>
      val s = spark
      import s.implicits._
      edges.isEmpty || {
        val cut = (edges.length * splitPct) / 100
        val (old, fresh) = edges.splitAt(cut)
        def cc(es: List[(Long, Long)]) =
          if (es.isEmpty)
            s.range(0).select(col("id"), col("id").as("label"))
          else Cluster.connectedComponents(es.toDF("id_a", "id_b"))
        val inc =
          if (fresh.isEmpty) cc(old)
          else Cluster.applyPairsBatch(cc(old), fresh.toDF("id_a", "id_b"))
        val got = inc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val want = cc(edges).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        got == want
      }
    }

  private val genUni: Gen[String] = Gen.listOf(Gen.oneOf(
    Gen.alphaNumChar,
    Gen.oneOf('é', 'e', '́', 'ä', 'a', '̈', '你', 'п', ' '))).map(_.mkString)

  private val genCanonEdges: Gen[List[(Long, Long)]] = for {
    n <- Gen.choose(0, 60)
    rows <- Gen.listOfN(n, for {
      a <- Gen.choose(0L, 12L)
      b <- Gen.choose(0L, 12L)
    } yield (a, b))
  } yield rows.filter(p => p._1 != p._2)
    .map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).distinct

  property("triangleStats: handshake sum, 3-divisibility, and degree bound") =
    Prop.forAll(genCanonEdges) { edges =>
      val s = spark
      import s.implicits._
      edges.isEmpty || {
        val got = Graph.triangleStats(edges.toDF("a", "b")).collect()
          .map(r => (r.getLong(1), r.getLong(2)))
        got.map(_._1).sum == 2L * edges.size && // handshake: sum deg = 2|E|
          got.map(_._2).sum % 3 == 0 && // every triangle counted at 3 corners
          got.forall { case (deg, tri) => tri <= deg * (deg - 1) / 2 }
      }
    }

  property("kCore: the k-core is nested inside the (k-1)-core") =
    Prop.forAll(genCanonEdges, Gen.choose(2, 5)) { (edges, k) =>
      val s = spark
      import s.implicits._
      edges.isEmpty || {
        def core(kk: Int) = Graph.kCore(edges.toDF("a", "b"), kk, rounds = 12)
          .collect().map(_.getLong(0)).toSet
        core(k).subsetOf(core(k - 1))
      }
    }

  // random serving-fold lifecycle case: a base corpus, a subset revised,
  // a disjoint subset deleted, fresh ids inserted
  private val genServingCase: Gen[(List[(Long, String)], List[(Long, String)],
      List[Long], List[(Long, String)])] = for {
    n <- Gen.choose(1, 10)
    words = Seq("alpha", "beta", "gamma", "delta", "kappa", "zeta", "omega")
    genText = Gen.choose(2, 6).flatMap(len =>
      Gen.listOfN(len, Gen.oneOf(words)).map(_.mkString(" ")))
    texts <- Gen.listOfN(n, genText)
    ops <- Gen.listOfN(n, Gen.choose(0, 2)) // 0 keep, 1 revise, 2 delete
    revTexts <- Gen.listOfN(n, genText)
    k <- Gen.choose(0, 3)
    insTexts <- Gen.listOfN(k, genText)
  } yield {
    // keep at least one live doc: a delta that empties the WHOLE corpus
    // sweeps every partition, and the property's scratch comparison would
    // then read a footer-less layout (that edge is pinned
    // deterministically — RetrievalSpec's (n = 0, avgdl = 0) stats test)
    val ops2 = if (ops.forall(_ == 2) && insTexts.isEmpty) 0 :: ops.tail else ops
    val pre = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val revs = pre.zip(ops2).zip(revTexts)
      .collect { case (((id, _), 1), nt) => (id, nt) }
    val dels = pre.zip(ops2).collect { case ((id, _), 2) => id }
    val inss = insTexts.zipWithIndex.map { case (t, i) => (n + i.toLong, t) }
    (pre, revs, dels, inss)
  }

  property("in-place bm25 serving fold over a random revise/delete/insert delta " +
      "equals the scratch artifacts of the post-delta corpus") =
    Prop.forAll(genServingCase) { case (pre, revs, dels, inss) =>
      val s = spark
      import s.implicits._
      val B = 8
      val base = graft.TempDirs.create("graft_prop_bm25f")
      val preDf = pre.toDF("doc_id", "text")
      val (p0, dl0, st0) = Retrieval.bm25ServingArtifacts(preDf, buckets = B)
      p0.repartition(col("bucket")).write.partitionBy("bucket")
        .parquet(base.resolve("postings").toString)
      dl0.repartition(col("dbucket")).write.partitionBy("dbucket")
        .parquet(base.resolve("doclen").toString)
      st0.write.parquet(base.resolve("stats").toString)
      val touched = (revs.map(_._1) ++ dels).toSet
      val oldDocs = preDf.where(col("doc_id").isin(touched.toSeq.map(Long.box): _*))
      val newDocs = (revs ++ inss).toDF("doc_id", "text")
      Retrieval.bm25ServingFold(s,
        base.resolve("postings").toString, base.resolve("doclen").toString,
        base.resolve("stats").toString, oldDocs, newDocs, buckets = B)
      val revMap = revs.toMap
      val post = (pre.filterNot(d => dels.contains(d._1))
        .map { case (id, t) => (id, revMap.getOrElse(id, t)) } ++ inss)
        .toDF("doc_id", "text")
      val (ps, dls, sts) = Retrieval.bm25ServingArtifacts(post, buckets = B)
      def rows(df: org.apache.spark.sql.DataFrame, cols: Seq[String]) =
        df.select(cols.map(c => col(c).cast("string")): _*)
          .collect().map(_.toSeq).toSet
      val pc = Seq("bucket", "term", "doc_id", "tf", "df")
      rows(s.read.parquet(base.resolve("postings").toString), pc) == rows(ps, pc) &&
        rows(s.read.parquet(base.resolve("doclen").toString), Seq("doc_id", "dl")) ==
          rows(dls, Seq("doc_id", "dl")) &&
        rows(s.read.parquet(base.resolve("stats").toString), Seq("n", "avgdl")) ==
          rows(sts, Seq("n", "avgdl"))
    }

  property("in-place ivf serving fold over a random revise/delete/insert delta " +
      "equals scratch assignment of the post-delta vectors") =
    Prop.forAll(genServingCase) { case (pre, revs, dels, inss) =>
      val s = spark
      import s.implicits._
      // deterministic 4-dim embedding per (id, text-length) — the text is
      // only a seed; revisions change the vector via the new text length
      def vec(id: Long, t: String): Seq[Float] =
        Seq(1f + (id % 3), 1f + (t.length % 5), 1f + ((id + t.length) % 4), 1f)
      val cents = Seq(
        (0L, Seq(1f, 0f, 0f, 0f), 1.0), (1L, Seq(0f, 1f, 0f, 0f), 1.0),
        (2L, Seq(0f, 0f, 1f, 1f), 1.4142135))
        .toDF("cid", "centv", "centn").localCheckpoint(true)
      val base = graft.TempDirs.create("graft_prop_ivff")
      val preVecs = pre.map { case (id, t) => (id, vec(id, t)) }.toDF("vec_id", "embedding")
      Similarity.ivfIndex(preVecs, cents).repartition(col("cell"))
        .write.partitionBy("cell").parquet(base.resolve("cells").toString)
      val touched = (revs.map(_._1) ++ dels).toSet
      val oldVecs = preVecs.where(col("vec_id").isin(touched.toSeq.map(Long.box): _*))
      val newVecs = (revs.map { case (id, t) => (id, vec(id, t + "!")) } ++
        inss.map { case (id, t) => (id, vec(id, t)) }).toDF("vec_id", "embedding")
      Similarity.ivfServingFold(
        s, base.resolve("cells").toString, oldVecs, newVecs, cents)
      val revMap = revs.toMap
      val post = (pre.filterNot(d => dels.contains(d._1))
        .map { case (id, t) => (id, revMap.get(id).map(nt => vec(id, nt + "!"))
          .getOrElse(vec(id, t))) } ++
        inss.map { case (id, t) => (id, vec(id, t)) }).toDF("vec_id", "embedding")
      val got = s.read.parquet(base.resolve("cells").toString)
        .select(col("cell").cast("long"), col("neighbor_id")).as[(Long, Long)]
        .collect().toSet
      val want = Similarity.ivfIndex(post, cents)
        .select(col("cell").cast("long"), col("neighbor_id")).as[(Long, Long)]
        .collect().toSet
      got == want
    }

  property("in-place LSH serving fold over a random revise/delete/insert delta " +
      "equals the scratch band rows + fingerprint registry of the post-delta corpus") =
    Prop.forAll(genServingCase) { case (pre, revs, dels, inss) =>
      val s = spark
      import s.implicits._
      val B = 8
      val base = graft.TempDirs.create("graft_prop_mhf")
      val preDf = pre.toDF("doc_id", "text")
      val bandsPath = base.resolve("bands").toString
      val fpsPath = base.resolve("fps").toString
      Dedup.writeServingLayout(preDf, bandsPath, fpsPath, buckets = B)
      val touched = (revs.map(_._1) ++ dels).toSet
      val oldDocs = preDf.where(col("doc_id").isin(touched.toSeq.map(Long.box): _*))
      val newDocs = (revs ++ inss).toDF("doc_id", "text")
      Dedup.minhashServingFold(s, bandsPath, fpsPath, oldDocs, newDocs, buckets = B)
      val revMap = revs.toMap
      val post = (pre.filterNot(d => dels.contains(d._1))
        .map { case (id, t) => (id, revMap.getOrElse(id, t)) } ++ inss)
        .toDF("doc_id", "text")
      val (wb, wf) = Dedup.minhashServingRows(post, buckets = B)
      def rows(df: org.apache.spark.sql.DataFrame, cols: Seq[String]) =
        df.select(cols.map(c => col(c).cast("string")): _*)
          .collect().map(_.toSeq).toSet
      val bc = Seq("pbucket", "band", "sig", "id")
      val fc = Seq("fbucket", "sigfp", "id")
      // explicit schemas: a delta can sweep EVERY partition (all-delete,
      // or every survivor too short to shingle) and the emptied layout
      // must read as n=0 state, never a schema-inference crash
      rows(s.read.schema(wb.schema).parquet(bandsPath), bc) == rows(wb, bc) &&
        rows(s.read.schema(wf.schema).parquet(fpsPath), fc) == rows(wf, fc)
    }

  property("in-place embdup serving fold over a random revise/delete/insert delta " +
      "equals the scratch layout rows of the post-delta vectors") =
    Prop.forAll(genServingCase) { case (pre, revs, dels, inss) =>
      val s = spark
      import s.implicits._
      // deterministic 16-dim embedding per (id, text) — the text is only
      // a seed; revisions change the vector via the new text length; the
      // j = 0 element is >= 1 so norms never vanish
      def vec(id: Long, t: String): Seq[Float] =
        Seq.tabulate(graft.ext.Similarity.Dim)(j =>
          if (j == 0) 1f + (id % 3)
          else ((id * 7 + t.length * 3 + j) % 5 - 2).toFloat)
      val base = graft.TempDirs.create("graft_prop_edf")
      val vecsPath = base.resolve("vecs").toString
      val preVecs = pre.map { case (id, t) => (id, vec(id, t)) }
        .toDF("vec_id", "embedding")
      Dedup.embDupWriteServingLayout(preVecs, vecsPath)
      val touched = (revs.map(_._1) ++ dels).toSet
      val oldVecs = preVecs.where(col("vec_id").isin(touched.toSeq.map(Long.box): _*))
      val newVecs = (revs.map { case (id, t) => (id, vec(id, t + "!")) } ++
        inss.map { case (id, t) => (id, vec(id, t)) }).toDF("vec_id", "embedding")
      Dedup.embDupServingFold(s, vecsPath, oldVecs, newVecs)
      val revMap = revs.toMap
      val post = (pre.filterNot(d => dels.contains(d._1))
        .map { case (id, t) => (id, revMap.get(id).map(nt => vec(id, nt + "!"))
          .getOrElse(vec(id, t))) } ++
        inss.map { case (id, t) => (id, vec(id, t)) }).toDF("vec_id", "embedding")
      val want = Dedup.embDupServingRows(post)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select(col("bucket").cast("long").cast("string"), col("id").cast("string"),
            col("v").cast("string"), col("nrm").cast("string"))
          .collect().map(_.toSeq).toSet
      rows(s.read.schema(want.schema).parquet(vecsPath)) == rows(want)
    }

  property("in-place MULTI-TABLE embdup fold over a random revise/delete/insert " +
      "delta equals the scratch band rows + registry of the post-delta vectors") =
    Prop.forAll(genServingCase) { case (pre, revs, dels, inss) =>
      val s = spark
      import s.implicits._
      def vec(id: Long, t: String): Seq[Float] =
        Seq.tabulate(graft.ext.Similarity.Dim)(j =>
          if (j == 0) 1f + (id % 3)
          else ((id * 7 + t.length * 3 + j) % 5 - 2).toFloat)
      val base = graft.TempDirs.create("graft_prop_edmf")
      val trowsPath = base.resolve("trows").toString
      val vecsPath = base.resolve("vecs").toString
      val preVecs = pre.map { case (id, t) => (id, vec(id, t)) }
        .toDF("vec_id", "embedding")
      Dedup.embMultiWriteServingLayout(preVecs, trowsPath, vecsPath)
      val touched = (revs.map(_._1) ++ dels).toSet
      val oldVecs = preVecs.where(col("vec_id").isin(touched.toSeq.map(Long.box): _*))
      val newVecs = (revs.map { case (id, t) => (id, vec(id, t + "!")) } ++
        inss.map { case (id, t) => (id, vec(id, t)) }).toDF("vec_id", "embedding")
      Dedup.embMultiServingFold(s, trowsPath, vecsPath, oldVecs, newVecs)
      val revMap = revs.toMap
      val post = (pre.filterNot(d => dels.contains(d._1))
        .map { case (id, t) => (id, revMap.get(id).map(nt => vec(id, nt + "!"))
          .getOrElse(vec(id, t))) } ++
        inss.map { case (id, t) => (id, vec(id, t)) }).toDF("vec_id", "embedding")
      val (wantT, wantV) = Dedup.embMultiServingRows(post)
      def trows(df: org.apache.spark.sql.DataFrame) =
        df.select(col("tbucket").cast("long").cast("string"), col("id").cast("string"))
          .collect().map(_.toSeq).toSet
      def vrows(df: org.apache.spark.sql.DataFrame) =
        df.select(col("vbucket").cast("long").cast("string"), col("id").cast("string"),
            col("v").cast("string"), col("nrm").cast("string"))
          .collect().map(_.toSeq).toSet
      trows(Dedup.embMultiTRows.read(s, trowsPath)) == trows(wantT) &&
        vrows(Dedup.embMultiVecs.read(s, vecsPath)) == vrows(wantV)
    }

  property("in-place simhash serving fold over a random revise/delete/insert delta " +
      "equals the scratch value table + membership of the post-delta corpus") =
    Prop.forAll(genServingCase) { case (pre, revs, dels, inss) =>
      val s = spark
      import s.implicits._
      val B = 8
      val base = graft.TempDirs.create("graft_prop_shf")
      val preDf = pre.toDF("doc_id", "text")
      val vrowsPath = base.resolve("vrows").toString
      val docsPath = base.resolve("docs").toString
      Dedup.simhashWriteServingLayout(preDf, vrowsPath, docsPath, buckets = B)
      val touched = (revs.map(_._1) ++ dels).toSet
      val oldDocs = preDf.where(col("doc_id").isin(touched.toSeq.map(Long.box): _*))
      val newDocs = (revs ++ inss).toDF("doc_id", "text")
      Dedup.simhashServingFold(s, vrowsPath, docsPath, oldDocs, newDocs, buckets = B)
      val revMap = revs.toMap
      val post = (pre.filterNot(d => dels.contains(d._1))
        .map { case (id, t) => (id, revMap.getOrElse(id, t)) } ++ inss)
        .toDF("doc_id", "text")
      // the small vocabulary makes SHARED values likely, so the liveness
      // arm (a candidate value kept alive by an untouched doc, or dropped
      // with its last member) is exercised across the random cases
      val (wv, wm) = Dedup.simhashServingRows(post, buckets = B)
      def rows(df: org.apache.spark.sql.DataFrame, cols: Seq[String]) =
        df.select(cols.map(c => col(c).cast("string")): _*)
          .collect().map(_.toSeq).toSet
      val vc = Seq("sband", "band", "bv", "simhash")
      val mc = Seq("vbucket", "simhash", "id")
      rows(s.read.schema(wv.schema).parquet(vrowsPath), vc) == rows(wv, vc) &&
        rows(s.read.schema(wm.schema).parquet(docsPath), mc) == rows(wm, mc)
    }

  property("NFC normalization is idempotent and preserves canonical equivalence classes") =
    Prop.forAll(Gen.listOfN(6, genUni)) { texts =>
      val s = spark
      import s.implicits._
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
      val out = df.select(col("id"), col("t"),
          graft.functions.NfcNormalize.nfcNormalize(col("t")).as("n1"),
          graft.functions.NfcNormalize.nfcNormalize(
            graft.functions.NfcNormalize.nfcNormalize(col("t"))).as("n2"))
        .collect()
      out.forall { r =>
        val (t, n1, n2) = (r.getString(1), r.getString(2), r.getString(3))
        n1 == n2 &&
          n1 == java.text.Normalizer.normalize(t, java.text.Normalizer.Form.NFC)
      }
    }

  // banded-cap members (k1, k2, id, probe): small keys and ids, so groups
  // repeat whole rows and one id sits on both the probe and member sides
  private val genMembers: Gen[List[(Int, Int, Long, Boolean)]] = for {
    n <- Gen.choose(0, 16)
    rows <- Gen.listOfN(n, for {
      k1 <- Gen.choose(0, 2)
      k2 <- Gen.choose(0, 1)
      id <- Gen.choose(0L, 5L)
      probe <- Gen.oneOf(true, false)
    } yield (k1, k2, id, probe))
  } yield rows

  property("cappedPairs equals keep → kept → probe × member join, self and probe mode") =
    Prop.forAll(genMembers, Gen.choose(1, 4)) { (random, cap) =>
      val s = spark
      import s.implicits._
      // both boundaries every time: a group of exactly `cap` rows (kept)
      // and one of cap + 1 rows (skipped)
      val rows = random ++ (0 until cap).map(i => (9, 0, i.toLong, i % 2 == 0)) ++
        (0 to cap).map(i => (9, 1, i.toLong, true))
      val members = rows.toDF("k1", "k2", "id", "probe")
      val keys = Seq("k1", "k2")
      def naive(probe: org.apache.spark.sql.Column) = {
        val keep = members.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
          .where(col("n") <= cap).drop("n")
        val kept = members.join(keep, keys)
        kept.where(probe).select(col("k1"), col("k2"), col("id").as("__a"))
          .join(kept.select(col("k1"), col("k2"), col("id").as("__b")), keys)
          .select("__a", "__b")
      }
      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.select("__a", "__b").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      Seq(lit(true), col("probe")).forall { probe =>
        pairs(Dedup.cappedPairs(members, keys, "id", probe, cap.toLong)) == pairs(naive(probe))
      }
    }
}
