package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

class PqSpec extends AnyFunSuite with SparkFixture {

  /** Deterministic pseudo-random float in [0, 1). The (i, j) mix runs
    * through a multiply AFTER combining so different vectors never share
    * overlapping value windows (a linear i*31+j scheme makes every vector
    * a shifted substring of one global sequence — degenerate for PQ, which
    * then collapses most vectors onto identical codes). */
  private def el(i: Long, j: Int): Float =
    ((((i * 1000003L + j) * 2654435761L >>> 13) & 0xffff).toFloat / 65536.0f)

  private def corpus(n: Int, copies: Seq[Long]) = {
    val s = spark
    import s.implicits._
    val base = (0L until n.toLong).map(i =>
      (i, (0 until Similarity.Dim).map(j => el(i, j)).toArray))
    val dups = copies.map(i => (i + 1000L, base(i.toInt)._2))
    (base ++ dups).toDF("vec_id", "embedding")
  }

  test("an exact duplicate achieves the minimal possible ADC distance (top-k by construction)") {
    // ADC(q, dup) = Σ_m d2(q_m, centroid(code(q_m))) — the per-subspace
    // argmin — so NO candidate can score strictly BETTER than q's copy;
    // candidates with the exact same 4 codes tie and resolve by id, so the
    // corpus is small and spread (12 vectors over ~8 cells per subspace)
    // to keep full-code collisions out of the fixture
    val copies = Seq(3L, 9L, 11L)
    val out = Similarity.topKPq(
        corpus(12, copies), col("vec_id").isin(copies: _*), k = 3)
      .collect()
      .groupBy(_.getLong(0))
    copies.foreach { q =>
      val neighbors = out(q).map(_.getLong(1)).toSet
      assert(neighbors.contains(q + 1000L),
        s"query $q: its exact copy must be in the ADC top-3, got $neighbors")
    }
  }

  test("every (vector, subspace) encodes to exactly one live code") {
    val df = corpus(40, Nil)
    // two runs are bit-identical (no RNG anywhere in the chain)
    val a = Similarity.topKPq(df, col("vec_id") % 10 === 0, k = 3)
      .collect().map(_.toSeq).toSeq
    val b = Similarity.topKPq(df, col("vec_id") % 10 === 0, k = 3)
      .collect().map(_.toSeq).toSeq
    assert(a == b, "PQ must be deterministic across runs")
    assert(a.nonEmpty)
    // ranks are 1..k dense per query
    a.groupBy(_.head).foreach { case (q, rows) =>
      assert(rows.map(_(2)).toSet == Set(1, 2, 3), s"query $q ranks not dense")
    }
  }

  test("the declared codesSchema pins ivfPqEncode's analyzed schema " +
      "(compact/fold reads must never depend on footer inference)") {
    val df = corpus(12, Nil)
    val (cents, cb) = Similarity.ivfPqModel(df)
    val enc = Similarity.ivfPqEncode(df, cents, cb).schema
    assert(
      enc.fields.map(f => (f.name, f.dataType)).sortBy(_._1).toSeq ==
        Similarity.pqCodes.schema.fields.map(f => (f.name, f.dataType))
          .sortBy(_._1).toSeq,
      s"codesSchema drifted from ivfPqEncode: $enc vs ${Similarity.pqCodes.schema}")
  }

  test("codebook-only refresh: refit at frozen coarse cells equals the model " +
      "trained directly on the survivors' residuals") {
    val df = corpus(40, Nil)
    val (cents, cb0) = Similarity.ivfPqModel(df)
    val surv = df.where(col("vec_id") % 5 =!= 2)
    val cb2 = Similarity.ivfPqRefitCodebooks(surv, cents)
    def enc(cb: org.apache.spark.sql.DataFrame) =
      Similarity.ivfPqSearch(Similarity.ivfPqEncode(surv, cents, cb),
          df.where(col("vec_id") % 10 === 0), cents, cb, k = 3)
        .collect().map(_.toSeq).toSeq
    // deterministic: two refits give bit-identical search results
    assert(enc(cb2) == enc(Similarity.ivfPqRefitCodebooks(surv, cents)))
    // the refit actually retrained: vec_ids 2 and 7 (% 5 == 2) are gone
    // from the train set, so codebook seed ids come only from survivors
    val seedIds = cb2.select(col("cid").cast("long"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(seedIds.forall(id => id % 5 != 2),
      s"codebook seeds must come from the survivor train set, got $seedIds")
    // and it differs from the deployed pre-deletion codebooks (cid sets
    // diverge: the old seeds included the forgotten ids)
    val oldSeeds = cb0.select(col("cid").cast("long"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(oldSeeds != seedIds, "refit must not be a no-op on this fixture")
  }

  test("IVFPQ incremental fold at a frozen model equals scratch encoding") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val hist = emb.where(org.apache.spark.sql.functions.col("vec_id") % 20 =!= 3)
    val batch = emb.where(org.apache.spark.sql.functions.col("vec_id") % 20 === 3)
    val (cents, cb) = Similarity.ivfPqModel(hist)
    val folded = Similarity.ivfPqEncode(hist, cents, cb)
      .unionByName(Similarity.ivfPqEncode(batch, cents, cb))
    val scratch = Similarity.ivfPqEncode(emb, cents, cb)
    def codes(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    assert(codes(folded) == codes(scratch),
      "per-vector encoding at frozen (centroids, codebooks) is batch-independent")
    val q = org.apache.spark.sql.functions.col("vec_id") % 100 === 0
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(Similarity.ivfPqSearch(folded, emb.where(q), cents, cb, 3))
        == pairs(Similarity.ivfPqSearch(scratch, emb.where(q), cents, cb, 3)),
      "fold ≡ scratch must extend through ADC search")
  }

  test("forget fold: filtering code rows equals scratch-encoding the " +
      "survivors at the frozen model; forgotten ids never served") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val forget = col("vec_id") % 50 === 7
    val (cents, cb) = Similarity.ivfPqModel(emb) // trained on EVERYTHING
    val folded = Similarity.ivfPqEncode(emb, cents, cb)
      .where(col("neighbor_id") % 50 =!= 7)
    val scratch = Similarity.ivfPqEncode(emb.where(!forget), cents, cb)
    def codes(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    assert(codes(folded) == codes(scratch))
    val served = Similarity.ivfPqSearch(
      folded, emb.where(col("vec_id") % 100 === 0), cents, cb, 3)
      .select("neighbor_id").collect().map(_.getLong(0))
    val forgotten = emb.where(forget).select("vec_id").collect().map(_.getLong(0)).toSet
    assert(forgotten.nonEmpty && served.forall(!forgotten.contains(_)))
  }
}
