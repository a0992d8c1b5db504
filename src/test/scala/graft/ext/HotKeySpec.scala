package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** Hot-key guards on the inverted-index/banded dedup joins: planted
  * boilerplate shingles exercise the rep-collapsed hot path, the
  * `maxHotReps`/`maxBucket` backstops, and the audit accounting ("no
  * silent caps"). The graded rows prove fixture-scale correctness; these
  * prove the caps themselves — losslessness with active caps, honest
  * reporting when the backstop actually skips. */
class HotKeySpec extends AnyFunSuite with SparkFixture {

  private def pairSet(out: DataFrame) =
    out.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Exact all-pairs containment ground truth (test scale only). */
  private def bruteContainment(c: DataFrame, num: Int, den: Int) = {
    val sh = Dedup.shingles(c)
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n"))
    sh.select(col("id").as("id_a"), col("sh"))
      .join(sh.select(col("id").as("id_b"), col("sh")), Seq("sh"))
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("c"))
      .join(sizes.select(col("id").as("id_a"), col("n").as("na")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n").as("nb")), Seq("id_b"))
      .where(col("c") * den >= least(col("na"), col("nb")) * num)
      .select("id_a", "id_b")
  }

  /** Boilerplate corpus: every shared shingle is hot at maxDf = 1 — a
    * qualifying pair's every witness is hot, so only the rep-collapsed
    * hot path can find the cross-variant pairs. */
  private def boilerplate = {
    val s = spark
    import s.implicits._
    val v1 = "lorem ipsum dolor sit amet consectetur"
    val v2 = v1 + " adipiscing elit"
    Seq(
      1L -> v1, 2L -> v1, 3L -> v1, // variant 1 × 3 copies
      4L -> v2, 5L -> v2,           // variant 2 (contains v1) × 2 copies
      6L -> "completely different words over here entirely")
      .toDF("doc_id", "text")
  }

  test("containment hot path stays lossless when EVERY witness shingle is hot") {
    val c = boilerplate
    val want = pairSet(bruteContainment(c, 9, 10))
    // sanity: the plant really produces cross-variant subset pairs
    assert(want.contains((1L, 4L)) && want.contains((3L, 5L)) && want.contains((1L, 2L)))
    assert(!want.exists(p => p._1 == 6L || p._2 == 6L))
    val got = pairSet(Dedup.containmentPairs(c, maxDf = 1L))
    assert(got == want, "rep-collapsed hot path must find every qualifying pair")
    // and the audit explains what happened: hot shingles, all rep-collapsed
    val audit = Dedup.hotShingleAudit(c, maxDf = 1L).collect()
    assert(audit.nonEmpty && audit.forall(_.getString(3) == "rep_collapsed"))
  }

  test("containment backstop skips past maxHotReps, keeps exact pairs, and reports") {
    val c = boilerplate
    // v1's shingles live in both set-groups (reps 1 and 4) → n_reps = 2 >
    // 1 → skipped; cross-variant pairs are the only loss, identical-set
    // pairs survive on the exact route
    val got = pairSet(Dedup.containmentPairs(c, maxDf = 1L, maxHotReps = 1L))
    assert(got == Set((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L)))
    val actions = Dedup.hotShingleAudit(c, maxDf = 1L, maxHotReps = 1L)
      .collect().map(r => r.getString(0) -> r.getString(3)).toMap
    assert(actions.values.toSet.contains("skipped"), "the skip must be reported")
    // exactly the two-group shingles are skipped, one-group ones collapsed
    assert(actions.forall { case (_, a) => a == "skipped" || a == "rep_collapsed" })
  }

  test("jaccard prefix hot path stays lossless with active caps on fixture data") {
    val c = DocFeed.withDups(spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
    val uncapped = pairSet(Dedup.jaccardPairsPrefix(c))
    // maxDf = 2 makes every planted-dup shingle and any 3+-doc shingle
    // take the hot path; output must not change (backstop inert)
    val capped = pairSet(Dedup.jaccardPairsPrefix(c, maxDf = 2L))
    assert(capped == uncapped, "active hot routing must not change the verified output")
  }

  test("containment capped equals uncapped on fixture data (graded-shape check)") {
    val c = DocFeed.withDups(spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
    val uncapped = Dedup.containmentPairs(c).collect().map(_.toSeq).toSet
    val capped = Dedup.containmentPairs(c, maxDf = 2L).collect().map(_.toSeq).toSet
    assert(capped == uncapped)
  }

  test("minhash bucket cap: identical-signature pairs survive a full skip, audit reports") {
    val c = DocFeed.withDups(spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
      .limit(400).localCheckpoint(true)
    val all = pairSet(Dedup.candidatePairs(c))
    // maxBucket = 1: every bucket holding ≥ 2 DISTINCT signatures is
    // skipped — surviving candidates are exactly the identical-signature
    // (exact-route) pairs plus single-signature buckets' (none)
    val capped = pairSet(Dedup.candidatePairs(c, maxBucket = 1L))
    assert(capped.subsetOf(all), "capping may only remove candidates")
    val sigs = Dedup.minhashSignatures(Dedup.shingles(c))
    val sigKey = concat_ws("|", (0 until Dedup.NumHashes).map(h => col(s"mh_$h")): _*)
    val withSig = sigs.select(col("id"), sigKey.as("sig"))
    val exactPairs = withSig.select(col("sig"), col("id").as("id_a"))
      .join(withSig.select(col("sig"), col("id").as("id_b")), Seq("sig"))
      .where(col("id_a") < col("id_b"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(exactPairs.subsetOf(capped),
      "identical-signature pairs must survive any bucket cap (exact route)")
    val audit = Dedup.minhashBucketAudit(c, maxBucket = 1L).collect()
    val skipped = audit.count(_.getString(4) == "skipped")
    val multiSig = audit.count(_.getLong(3) > 1)
    assert(skipped == multiSig, "every multi-signature bucket must be reported skipped")
    // the cap and the audit count the same thing (distinct signatures):
    // at maxBucket = 2, repeated signatures must not push a bucket the
    // audit reports joined past the cap
    val capped2 = pairSet(Dedup.candidatePairs(c, maxBucket = 2L))
    val joined = Dedup.minhashBucketAudit(c, maxBucket = 2L)
      .where(col("action") === "joined").select("band", "sig")
    val members = Dedup.bands(sigs).join(joined, Seq("band", "sig"))
    val inJoined = pairSet(members.select(col("band"), col("sig"), col("id").as("id_a"))
      .join(members.select(col("band"), col("sig"), col("id").as("id_b")), Seq("band", "sig"))
      .where(col("id_a") < col("id_b")))
    assert(inJoined.nonEmpty, "the fixture must have joined buckets of two or more documents")
    assert((inJoined -- capped2).isEmpty,
      s"pairs in buckets reported joined but not candidates: ${inJoined -- capped2}")
  }

  test("simhash bucket cap: hamming-0 pairs survive, capped output is a reported subset") {
    val c = DocFeed.withDups(spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
      .limit(300)
    val all = pairSet(Dedup.simhashNearDupPairs(c))
    val capped = pairSet(Dedup.simhashNearDupPairs(c, maxBucket = 1L))
    assert(capped.subsetOf(all))
    val fps = Dedup.simhash(c)
    val zero = fps.select(col("simhash"), col("doc_id").as("id_a"))
      .join(fps.select(col("simhash"), col("doc_id").as("id_b")), Seq("simhash"))
      .where(col("id_a") < col("id_b"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(zero.subsetOf(capped), "equal-fingerprint pairs ride the exact route")
    val audit = Dedup.simhashBucketAudit(c, maxBucket = 1L).collect()
    assert(audit.count(_.getString(4) == "skipped") == audit.count(_.getLong(3) > 1))
  }

  test("simhash ingest equals the batch-involving slice of the full recompute, " +
      "history-only pairs excluded") {
    // plant dups AFTER the cut so the batch (planted ids) is never
    // truncated away by limit's arbitrary row choice
    val store = DocFeed.withDups(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .where(col("doc_id") < 150))
    val batchPred = col("doc_id") >= DocFeed.ExactDupOffset
    val history = store.where(!batchPred)
    val batch = store.where(batchPred)
    val got = pairSet(Dedup.simhashIngest(Dedup.simhash(history), batch))
    val full = pairSet(Dedup.simhashNearDupPairs(store))
    val batchIds = batch.select("doc_id").collect().map(_.getLong(0)).toSet
    val want = full.filter { case (a, b) => batchIds(a) || batchIds(b) }
    assert(got == want,
      s"ingest must equal the batch-involving slice: got ${got.size}, want ${want.size}")
    assert(got.nonEmpty && got.exists { case (a, b) => !batchIds(a) || !batchIds(b) },
      "cross history-batch pairs must be present (planted copies pair their originals)")
  }
}
