package graft.ext

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.FloatVectorDot.floatVectorDot
import graft.functions.TopKByScore.topKByScore

/** Similarity search over an embedding column (SURVEY §2.13 E2).
  *
  * Two paths:
  *   - [[topKCosine]] — exact brute-force: broadcast the (small) query set
  *     against the corpus, score with codegen'd array expressions, reduce
  *     with the bounded-heap [[graft.functions.TopKByScore]] aggregate
  *     (partial aggregation keeps the shuffle at O(queries × k)).
  *   - [[topKCosineLsh]] — the 100 TB path: random-hyperplane LSH buckets
  *     (SimHash for vectors); candidates are joined per bucket so each
  *     query only scores its bucket's corpus slice. Recall < 1 by design;
  *     the bucket count (2^NumPlanes) tunes the recall/cost trade.
  *
  * Scoring is double-precision, computed by sequential fold over the array
  * (`zip_with` + `aggregate`) — deterministic summation order.
  */
object Similarity {

  /** Sequential-order double dot product of two float arrays — the native
    * codegen'd expression (see [[graft.functions.FloatVectorDot]]; the
    * `aggregate(zip_with(...))` formulation is bit-identical but
    * interpreted per element). */
  def dot(a: Column, b: Column): Column = floatVectorDot(a, b)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Exact top-k cosine neighbors for each query vector.
    *
    * @param emb       (idCol, vecCol) table
    * @param queryPred picks the query subset (must be small enough to
    *                  broadcast — the usual ANN-benchmark shape)
    * @return (query_id, neighbor_id, rnk) — rank 1..k by cosine desc,
    *         neighbor_id asc on ties; self-matches excluded
    */
  def topKCosine(
      emb: DataFrame,
      queryPred: Column,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val queries = emb.where(queryPred).select(
      col(idCol).as("query_id"), col(vecCol).as("qv"), l2Norm(col(vecCol)).as("qn"))
    val corpus = emb.select(
      col(idCol).as("neighbor_id"), col(vecCol).as("cv"), l2Norm(col(vecCol)).as("cn"))
    val scored = corpus.join(broadcast(queries), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
    rankTopK(scored, k)
  }

  /** E2h — contrastive HARD-NEGATIVE mining: for each query, the top-k
    * most-similar corpus vectors EXCLUDING near-duplicates (cosine ≥
    * `dupThreshold`) — the pairs a contrastive/embedding trainer wants:
    * close, but not copies (a planted duplicate in the top-k would be a
    * false negative that collapses the loss). Same broadcast +
    * bounded-heap shape as [[topKCosine]] with the duplicate band
    * filtered before ranking. */
  def hardNegatives(
      emb: DataFrame,
      queryPred: Column,
      k: Int,
      dupThreshold: Double = 0.99,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val queries = emb.where(queryPred).select(
      col(idCol).as("query_id"), col(vecCol).as("qv"), l2Norm(col(vecCol)).as("qn"))
    val corpus = emb.select(
      col(idCol).as("neighbor_id"), col(vecCol).as("cv"), l2Norm(col(vecCol)).as("cn"))
    val scored = corpus.join(broadcast(queries), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
      // DELIBERATE exception to the floats-only-order rule: this float
      // comparison decides row MEMBERSHIP of a hash-graded output. Safe
      // because both engines compute the identical sequential-order double
      // expression AND the fixture puts nothing near the cut (planted dups
      // ~1.0, random 64-dim pairs ≲0.5 vs the 0.99 threshold); a future
      // threshold or fixture change near the boundary must re-check this
      // margin or switch to an integer-scaled comparison.
      .where(col("cos") < dupThreshold)
    rankTopK(scored, k)
  }

  /** E2-filter — METADATA-FILTERED vector search, both deployment
    * strategies side by side (the tenant/language/license-restricted
    * lookup every vector store serves): PRE-filter scores only the
    * allowed corpus — exact top-k under the predicate — while POST-filter
    * fetches an UNFILTERED shortlist of `shortlist` and filters after,
    * the cheap path that STARVES whenever fewer than `k` allowed
    * neighbors survive the shortlist (rows simply go missing — the graded
    * output pins exactly which). Both strategies ride ONE corpus scan and
    * ONE partial aggregate: the pre heap skips disallowed rows via a NULL
    * score ([[graft.functions.TopKByScore]] drops nulls), the post heap
    * keeps everything at the shortlist budget; the post re-rank windows
    * over per-query shortlists (bounded, partitioned).
    *
    * Output: (strategy ∈ pre|post, query_id, neighbor_id, rnk ≤ k). */
  def filteredTopK(
      emb: DataFrame,
      queryPred: Column,
      allowPred: Column,
      k: Int = 3,
      shortlist: Int = 12,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val queries = emb.where(queryPred).select(
      col(idCol).as("query_id"), col(vecCol).as("qv"), l2Norm(col(vecCol)).as("qn"))
    val corpus = emb.withColumn("__allowed", allowPred).select(
      col(idCol).as("neighbor_id"), col(vecCol).as("cv"), l2Norm(col(vecCol)).as("cn"),
      col("__allowed"))
    val scored = corpus.join(broadcast(queries), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"), col("__allowed"))
    // query-count-sized; eagerly materialized because BOTH output branches
    // consume it — without the checkpoint each branch re-plans the scoring
    // join and the corpus is scored twice (PlanShapeSpec locks this)
    val heaps = scored.groupBy("query_id").agg(
      topKByScore(when(col("__allowed"), col("cos")), col("neighbor_id"), k).as("__pre"),
      topKByScore(col("cos"), col("neighbor_id"), shortlist).as("__short"))
      .localCheckpoint(true)
    val pre = heaps
      .select(col("query_id"), posexplode(col("__pre")).as(Seq("pos", "neighbor_id")))
      .select(lit("pre").as("strategy"), col("query_id"), col("neighbor_id"),
        (col("pos") + 1).cast("int").as("rnk"))
    val allowIds = emb.where(allowPred).select(col(idCol).as("neighbor_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy("pos")
    val post = heaps
      .select(col("query_id"), posexplode(col("__short")).as(Seq("pos", "neighbor_id")))
      .join(allowIds, Seq("neighbor_id"), "left_semi")
      .withColumn("rnk", row_number().over(w).cast("int"))
      .where(col("rnk") <= k)
      .select(lit("post").as("strategy"), col("query_id"), col("neighbor_id"), col("rnk"))
    pre.unionByName(post)
  }

  // -------------------------------------------------------------------
  // Random-hyperplane LSH (bucketed ANN)
  // -------------------------------------------------------------------

  val NumPlanes = 8
  val Dim = 64

  /** ±1 hyperplane weight, derived from md5 so the SQL oracle reproduces
    * it exactly: weight(p, j) = +1 iff the first hex digit of
    * md5("p_j") ≥ '8'. */
  def planeWeight(p: Int, j: Int): Int = {
    val d = MessageDigest.getInstance("MD5")
      .digest(s"${p}_$j".getBytes(StandardCharsets.UTF_8))
    // first hex digit = high nibble of byte 0
    if (((d(0) >> 4) & 0xf) >= 8) 1 else -1
  }

  lazy val planeWeights: Array[Array[Int]] =
    Array.tabulate(NumPlanes, Dim)(planeWeight)

  /** LSH bucket id: bit p is set iff the projection onto hyperplane p is
    * strictly positive. Pure codegen'd array math, map-side only. */
  def bucket(vecCol: Column): Column =
    (0 until NumPlanes).map { p =>
      val w = array(planeWeights(p).toSeq.map(x => lit(x.toFloat)): _*)
      val proj = floatVectorDot(vecCol, w)
      when(proj > 0, lit(1L << p)).otherwise(lit(0L)): Column
    }.reduce(_ + _)

  /** Approximate top-k cosine: candidates restricted to the query's LSH
    * bucket. The corpus is shuffled once on the bucket key (or the query
    * side broadcast when small); within a bucket the bounded-heap aggregate
    * reduces map-side. */
  def topKCosineLsh(
      emb: DataFrame,
      queryPred: Column,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val withB = emb.select(col(idCol), col(vecCol), bucket(col(vecCol)).as("bucket"))
    val queries = withB.where(queryPred).select(
      col(idCol).as("query_id"), col(vecCol).as("qv"),
      l2Norm(col(vecCol)).as("qn"), col("bucket"))
    val corpus = withB.select(
      col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      l2Norm(col(vecCol)).as("cn"), col("bucket"))
    val scored = corpus.join(broadcast(queries), "bucket")
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
    rankTopK(scored, k)
  }

  /** Multi-table LSH: `tables` independent hash tables of `planesPerTable`
    * bits each. Coarser buckets + union-of-tables trades bucket size for
    * recall — with random data a single fine-grained table's recall
    * collapses (P[collide] = (1-θ/π)^bits per table), while L coarse
    * tables give 1-(1-p)^L. The candidate set is the distinct union of
    * per-table bucket joins; still never a cross product. */
  /** Table `t`'s LSH bucket (planes t·planesPerTable …, bit b = plane
    * t·planesPerTable+b) — the per-table hash shared by the multi-table
    * search, the table-count tuning curve, and the multi-table embdup
    * SERVING layout ([[Dedup.embMultiServingRows]]): one derivation, so
    * index build, probe and fold can never disagree on bucketing. */
  def tableBucket(vecCol: Column, t: Int, planesPerTable: Int = 4): Column =
    (0 until planesPerTable).map { b =>
      val p = t * planesPerTable + b
      val w = array((0 until Dim).map(j => lit(planeWeight(p, j).toFloat)): _*)
      when(floatVectorDot(vecCol, w) > 0, lit(1L << b)).otherwise(lit(0L)): Column
    }.reduce(_ + _)

  def topKCosineLshMulti(
      emb: DataFrame,
      queryPred: Column,
      k: Int,
      tables: Int = 4,
      planesPerTable: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val cand = lshScoredMatches(emb, queryPred, tables,
        t => tableBucket(col(vecCol), t, planesPerTable), idCol, vecCol)
      .select(col("query_id"), col("neighbor_id"), col("cos"))
      .distinct() // a pair found in several tables scores once
    rankTopK(cand, k)
  }

  /** One (query, candidate, table) bucket-match pass of the multi-table
    * index, scored — shared by the top-k search and the table-count
    * tuning curve. */
  private def lshScoredMatches(
      emb: DataFrame, queryPred: Column, tables: Int,
      tableBucket: Int => Column, idCol: String, vecCol: String): DataFrame = {
    // one row per (vector, table): explode the per-table bucket ids
    val withB = emb.select(
      col(idCol), col(vecCol), l2Norm(col(vecCol)).as("nrm"),
      posexplode(array((0 until tables).map(tableBucket): _*)).as(Seq("t", "bucket")))
    val queries = withB.where(queryPred).select(
      col("t"), col("bucket"), col(idCol).as("query_id"),
      col(vecCol).as("qv"), col("nrm").as("qn"))
    val corpus = withB.select(
      col("t"), col("bucket"), col(idCol).as("neighbor_id"),
      col(vecCol).as("cv"), col("nrm").as("cn"))
    corpus.join(broadcast(queries), Seq("t", "bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("t"),
        (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
  }

  /** Candidate pairs of the multi-table LSH index, each scored ONCE and
    * tagged with `tmin` — the 1-based index of the FIRST table that
    * surfaces the pair, i.e. its minimal qualifying table budget: the
    * pair is a candidate under a budget of T tables iff tmin <= T. One
    * hashing + bucketing pass therefore serves EVERY point of a
    * table-count tuning curve (the min-qualifying-budget pattern the
    * nprobe recall curve uses via [[ivfQueryCells]]'s prnk), instead of
    * re-indexing the corpus per budget. */
  def lshCandidatesMinTable(
      emb: DataFrame,
      queryPred: Column,
      tables: Int = 4,
      planesPerTable: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    lshScoredMatches(emb, queryPred, tables,
        t => tableBucket(col(vecCol), t, planesPerTable), idCol, vecCol)
      .groupBy("query_id", "neighbor_id")
      .agg((min(col("t")) + 1).as("tmin"), min(col("cos")).as("cos"))

  /** IVF-flat ANN: partition the corpus into `numCentroids` Voronoi cells
    * (nearest centroid by cosine), then each query scores only the cells
    * it probes (`probes` nearest). The inverted-file shape: assignment is
    * one broadcast pass + bounded-heap argmax; search shuffles on the cell
    * id, never the full corpus product. Recall/cost is tuned by
    * probes × numCentroids × rounds.
    *
    * Centroids: k-means‖-style OVERSAMPLED seeding (Bahmani et al.,
    * "Scalable K-Means++", VLDB'12 — deterministic restatement: no RNG,
    * md5 rank stands in for the random draw), then `rounds` Lloyd
    * refinements. Seeding: draw `oversample × numCentroids` candidates by
    * md5-of-id rank (a pseudo-random sample spread over the corpus, where
    * first-k ids are arbitrarily correlated), weight each candidate by the
    * number of corpus vectors nearest to it, and keep the `numCentroids`
    * heaviest — candidates sitting on dense modes win, which is the
    * k-means‖ reduction step with top-weight selection in place of the
    * weighted re-clustering. `oversample ≤ 1` falls back to first-k
    * seeding (the legacy configuration the recall spec compares against).
    * Every refinement is assign-to-nearest + EXACT integer-mean re-center
    * (elements scaled by 1000 and floored, per-cell long sums, integer-div
    * mean) so the whole chain is order-independent and bit-identical in
    * the oracle — cosine is scale-invariant, so the un-rescaled integer
    * mean works as-is. Each round's k-row centroid table is
    * localCheckpointed so round r+1 plans against a tiny materialized
    * table, not the whole prior lineage (the kmeansAssign lesson).
    *
    * Scale: candidate/seed selection is orderBy+limit over candN ≪ corpus
    * rows (TakeOrdered — per-partition top-k then a driver merge of candN
    * rows, never a global sort), weighting is one broadcast-assign pass,
    * and each round is one corpus scan — k-means' inherent cost. */
  def topKCosineIvf(
      emb: DataFrame,
      queryPred: Column,
      k: Int,
      numCentroids: Int = 16,
      probes: Int = 2,
      rounds: Int = 3,
      oversample: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val cents = ivfCentroids(emb, numCentroids, rounds, oversample, idCol, vecCol)
    ivfSearch(ivfIndex(emb, cents, idCol, vecCol),
      emb.where(queryPred), cents, k, probes, idCol, vecCol)
  }

  /** The k-means‖ centroid TRAINING chain [[topKCosineIvf]] runs, factored
    * out so an index can be built ONCE and searched under many probe
    * budgets ([[ivfSearch]]) or FROZEN for incremental maintenance
    * ([[ivfIndex]] over a new batch + append). Trains on `train` only —
    * a production store's centroids were fit on past data. Returns
    * (cid, centv, centn); the final round is eagerly materialized
    * (localCheckpoint) so every consumer plans against k rows, not the
    * Lloyd lineage. */
  def ivfCentroids(
      train: DataFrame,
      numCentroids: Int = 16,
      rounds: Int = 3,
      oversample: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val base = train.select(
      col(idCol), col(vecCol), l2Norm(col(vecCol)).as("nrm"))

    def cells(df: DataFrame, cents: DataFrame, n: Int): DataFrame =
      nearestCells(df, cents, n, idCol, vecCol)

    val seeds =
      if (oversample <= 1)
        base.where(col(idCol) < numCentroids).select(
          col(idCol).as("cid"), col(vecCol).as("centv"), col("nrm").as("centn"))
      else {
        val mdRank = conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
          .cast("long")
        val cands = base
          .orderBy(mdRank, col(idCol)).limit(numCentroids * oversample)
          .select(col(idCol).as("cid"), col(vecCol).as("centv"), col("nrm").as("centn"))
          .localCheckpoint(true)
        val weights = cells(base, cands, 1)
          .groupBy(col("cell")).agg(count(lit(1)).as("__w"))
        cands.join(weights.withColumnRenamed("cell", "cid"), Seq("cid"), "left")
          .na.fill(0L, Seq("__w"))
          .orderBy(col("__w").desc, col("cid")).limit(numCentroids)
          .select("cid", "centv", "centn")
      }

    (1 to rounds).foldLeft(seeds) { (c, _) =>
      integerMeanCentroids(cells(base, c, 1), vecCol).localCheckpoint(true)
    }
  }

  /** The persisted CODE layout ([[ivfPqEncode]]'s rows) by coarse cell.
    * Pinned against [[ivfPqEncode]]'s analyzed schema by PqSpec. */
  private[graft] val pqCodes = ServingLayout.Artifact(
    StructType.fromDDL("neighbor_id BIGINT, m INT, cell BIGINT, ccell BIGINT"),
    "ccell", "neighbor_id")

  /** The persisted cell layout ([[ivfIndex]]'s rows) by cell. Pinned
    * against [[ivfIndex]]'s analyzed schema by IvfRecallSpec. */
  private[graft] val ivfCells = ServingLayout.Artifact(
    StructType.fromDDL("neighbor_id BIGINT, cv ARRAY<FLOAT>, cn DOUBLE, cell BIGINT"),
    "cell", "neighbor_id")

  /** The persisted side of an IVF deployment: every vector of `emb`
    * assigned to its nearest centroid. Output (cell, neighbor_id, cv, cn).
    * Because the centroids are an ARGUMENT, this is also the incremental
    * fold: run it over a new-vector batch at the FROZEN stored centroids
    * and append — history is never re-assigned (the missing member of the
    * incremental family alongside [[hllApplyBatch]] and
    * [[graft.ext.Cluster.applyPairsBatch]]). */
  def ivfIndex(
      emb: DataFrame,
      cents: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val base = emb.select(
      col(idCol), col(vecCol), l2Norm(col(vecCol)).as("nrm"))
    nearestCells(base, cents, 1, idCol, vecCol).select(
      col("cell"), col(idCol).as("neighbor_id"), col(vecCol).as("cv"), col("nrm").as("cn"))
  }

  /** IN-PLACE partial maintenance of the cell-PARTITIONED serving index:
    * rewrite ONLY the cell directories the delta touches, leaving the
    * rest of a corpus-sized index untouched on disk — at 100 TB a delta
    * of d vectors costs O(rows in the ≤2d affected cells), never a full
    * index rewrite. The delta's OLD cells come from re-assigning the
    * PRE-delta vectors at the frozen centroids (assignment is
    * deterministic, so this equals what the index stores — no
    * neighbor_id scan of the index is ever needed); affected = old cells
    * ∪ new cells, and the replacement content for those cells is
    * [[ServingLayout.Artifact.fold]]'s id-keyed rule over the new
    * assignments. The emptied set is MODEL-bounded (≤ numCentroids
    * cells). The write,
    * sweep, replay and reader-isolation contract is
    * [[ServingLayout.rewrite]]'s (replay pinned by IvfRecallSpec). */
  def ivfServingFold(
      spark: SparkSession,
      cellsPath: String,
      oldVecs: DataFrame,
      newVecs: DataFrame,
      cents: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit =
    ivfCells.fold(spark, cellsPath, ivfIndex(oldVecs, cents, idCol, vecCol),
      ivfIndex(newVecs, cents, idCol, vecCol))

  /** Probe-side IVF search over a built index: queries assign to their
    * `probes` nearest centroids, candidates are the index rows in probed
    * cells, exact cosine ranks the top `k`. The query side broadcasts —
    * the index (corpus-sized) is never shuffled. */
  def ivfSearch(
      index: DataFrame,
      queries: DataFrame,
      cents: DataFrame,
      k: Int,
      probes: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val qcells = ivfQueryCells(queries, cents, probes, idCol, vecCol).drop("prnk")
    val scored = index.join(broadcast(qcells), Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
    rankTopK(scored, k)
  }

  /** The DEFAULT IVF search over a GENERATIONED cell-layout root (each
    * generation directory IS the cell index): resolves the CURRENT
    * generation once through
    * [[graft.streaming.StateStream.statePath]] — a query never reads a
    * half-folded cell set under a concurrent fold (the
    * ext_ann_serving_grace_read contract as API shape; the
    * [[graft.ext.Dedup.minhashPairsServing]] convention). The centroid
    * MODEL is frozen outside the generation — refresh/refit replace
    * generations wholesale. Raw index frames ([[ivfSearch]]) remain the
    * single-writer, fold-quiesced opt-in. */
  def ivfSearchPinned(
      spark: SparkSession,
      layoutRoot: String,
      queries: DataFrame,
      cents: DataFrame,
      k: Int,
      probes: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    ivfSearch(
      ivfCells.read(spark,
        graft.streaming.StateStream.statePath(spark, layoutRoot)),
      queries, cents, k, probes, idCol, vecCol)

  /** RANKED probe assignment for the query side: (cell, query_id, qv, qn,
    * prnk) with prnk = 1-based probe rank (1 = nearest centroid). Computed
    * once at the maximum budget, a probe-tuning curve derives every
    * smaller budget by filtering `prnk <= p` — one assignment pass instead
    * of one per budget. */
  def ivfQueryCells(
      queries: DataFrame,
      cents: DataFrame,
      probes: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    queries.select(col(idCol), col(vecCol), l2Norm(col(vecCol)).as("nrm"))
      .join(broadcast(cents))
      .select(col(idCol), col(vecCol), col("nrm"),
        (dot(col(vecCol), col("centv")) / (col("nrm") * col("centn"))).as("cs"),
        col("cid"))
      .groupBy(idCol, vecCol, "nrm")
      .agg(topKByScore(col("cs"), col("cid"), probes).as("cids"))
      .select(col(idCol), col(vecCol), col("nrm"),
        posexplode(col("cids")).as(Seq("__p", "cell")))
      .select(col("cell"), col(idCol).as("query_id"), col(vecCol).as("qv"),
        col("nrm").as("qn"), (col("__p") + 1).as("prnk"))

  /** E2-PQ — Product-Quantization ANN (Jégou et al., "Product Quantization
    * for Nearest Neighbor Search", TPAMI 2011): the memory-compressed
    * search path. Vectors split into `subspaces` contiguous sub-vectors;
    * each subspace trains its own small codebook (`codes` centroids, Lloyd
    * rounds with the repo's exact-integer-mean re-centering); a vector's
    * code is its per-subspace nearest-centroid ids (M bytes instead of
    * 4·Dim — the 16× compression that lets a 100 TB corpus live in RAM).
    * Queries score candidates with the Asymmetric Distance Computation:
    * per-subspace L2 tables query↔centroid, candidate distance = the sum
    * of M table lookups.
    *
    * Scale shape: training is rounds × (one broadcast of M·k sub-centroids
    * + one heap-argmax + one integer-mean aggregate) over the N·M sub-
    * vector rows; encoding is one more assign pass; ADC is a (m, code)
    * equi-join of the N·M code rows against the broadcast Q·M·k distance
    * tables — a compressed EXHAUSTIVE scan (PQ-flat), O(N·M) lookups per
    * query batch with no full-vector math. For sub-linear candidate
    * selection compose with the IVF cells ([[topKCosineIvf]]) — classic
    * IVFPQ; graded separately to keep each mechanism oracle-checkable.
    *
    * Determinism: every distance is the dot-product identity
    * `|u|² − 2·u·c + |c|²` over [[graft.functions.FloatVectorDot]]
    * (≙ DuckDB `list_dot_product`, the proven-bit-identical pairing);
    * centroid means are exact integers; the per-pair ADC sum adds its M
    * terms in FIXED subspace order on both engines (a bare SUM would be
    * order-nondeterministic float addition). Floats drive orderings only;
    * graded output is (query_id, neighbor_id, rnk). */
  def topKPq(
      emb: DataFrame,
      queryPred: Column,
      k: Int,
      subspaces: Int = 4,
      codes: Int = 8,
      rounds: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(Dim % subspaces == 0, s"Dim=$Dim must divide into $subspaces subspaces")
    val subDim = Dim / subspaces

    val sub = pqSubVectors(emb.select(col(idCol), col(vecCol).as("__v")), subspaces, idCol)
      .localCheckpoint(true)
    val cb = pqCodebook(sub, codes, rounds, idCol)
    val enc = pqAssign(sub, cb, Nil, idCol)
      .select(col(idCol).as("neighbor_id"), col("m"), col("cell"))
    val dtab = sub.where(queryPred)
      .join(broadcast(cb), Seq("m"))
      .select(col(idCol).as("query_id"), col("m"), col("cid").as("cell"),
        pqD2(col("cv")).as("dq"))
    val scored = enc.join(broadcast(dtab), Seq("m", "cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .groupBy("query_id", "neighbor_id")
      .agg(pqAdcSum(subspaces).as("cos"))
    rankTopK(scored, k)
  }

  /** Long-form sub-vector split: one row per (vector, subspace) with the
    * sub-vector and its self-dot — the frame every PQ stage (training,
    * encode, query distance tables) runs over. Input: (idCol, `__v`). */
  private def pqSubVectors(vecs: DataFrame, subspaces: Int, idCol: String): DataFrame = {
    val subDim = Dim / subspaces
    val carry = vecs.columns.filter(c => c != idCol && c != "__v").map(col).toSeq
    vecs.select(col(idCol) +: carry :+ explode(array((0 until subspaces).map { m =>
        struct(lit(m).as("m"), slice(col("__v"), m * subDim + 1, subDim).as("sv"))
      }: _*)).as("__s"): _*)
      .select(col(idCol) +: carry :+ col("__s.m").as("m") :+ col("__s.sv").as("sv"): _*)
      .withColumn("sn2", dot(col("sv"), col("sv")))
  }

  /** Squared L2 to a sub-centroid via the dot-product identity
    * `|u|² − 2·u·c + |c|²` — expects `sv`/`sn2` in scope. */
  private def pqD2(cv: Column): Column =
    col("sn2") - lit(2.0) * dot(col("sv"), cv) + dot(cv, cv)

  /** Nearest sub-centroid per (vector, subspace); ties to the smaller cid.
    * `carry` columns ride along through the aggregate (the IVF-PQ path
    * carries the coarse cell id). */
  private def pqAssign(
      sub: DataFrame, cb: DataFrame, carry: Seq[String], idCol: String): DataFrame = {
    val keys = (idCol +: carry) ++ Seq("m", "sv")
    sub.join(broadcast(cb), Seq("m"))
      .select(keys.map(col) :+ pqD2(col("cv")).as("__d2") :+ col("cid"): _*)
      .groupBy(keys.map(col): _*)
      .agg(topKByScore(-col("__d2"), col("cid"), 1).as("cids"))
      .select(keys.map(col) :+ col("cids").getItem(0).as("cell"): _*)
  }

  /** Train the per-subspace codebooks: first-`codes` seeding, `rounds`
    * Lloyd alternations. Re-center = exact integer element means at ×1000
    * scale, then divide the scale BACK OUT (one deterministic double
    * division + float cast, mirrored in the oracle). The cosine machinery
    * elsewhere keeps the un-rescaled mean (scale-invariant); L2 is NOT
    * scale-invariant — an un-rescaled ×1000 centroid would sit ~500 units
    * from every unit-box point and the whole codebook would collapse to
    * one live cell. */
  private def pqCodebook(
      sub: DataFrame, codes: Int, rounds: Int, idCol: String): DataFrame = {
    val seeds = sub.where(col(idCol) < codes)
      .select(col("m"), col(idCol).as("cid"), col("sv").as("cv"))
    (1 to rounds).foldLeft(seeds) { (c, _) =>
      pqAssign(sub, c, Nil, idCol)
        .select(col("m"), col("cell"), posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy("m", "cell", "pos")
        .agg(sum(floor(col("x").cast("double") * 1000.0).cast("long")).as("qs"),
          count(lit(1)).as("n"))
        .select(col("m"), col("cell"), col("pos"), expr("qs div n").as("qm"))
        .groupBy("m", "cell")
        .agg(sort_array(collect_list(struct(col("pos"), col("qm")))).as("pq"))
        .select(col("m"), col("cell").as("cid"),
          transform(col("pq"), p =>
            (p.getField("qm").cast("double") / lit(1000.0)).cast("float")).as("cv"))
        .localCheckpoint(true)
    }
  }

  /** Fixed-order ADC sum over the `subspaces` per-subspace distance terms,
    * negated so the max-heap ranking picks nearest — a bare SUM would be
    * order-nondeterministic float addition on both engines. */
  private def pqAdcSum(subspaces: Int): Column =
    negate((0 until subspaces)
      .map(i => max(when(col("m") === i, col("dq"))))
      .reduce(_ + _))

  /** E2-IVFPQ — the composed billion-vector index (Jégou et al., TPAMI
    * 2011 §IV, "IVFADC"): a coarse k-means quantizer prunes the corpus to
    * `probes` cells per query, and Product Quantization encodes each
    * vector's RESIDUAL from its cell centroid — the coarse term absorbs
    * the vector's position, so the small codebooks only model local
    * displacement (far finer quantization at the same bits). Queries score
    * candidates in a probed cell with ADC against the query's OWN residual
    * from that cell's centroid.
    *
    * Built by composition: the coarse step is [[kmeansAssign]]'s
    * seed/assign/re-center chain verbatim; the fine step reuses every PQ
    * primitive ([[pqSubVectors]]/[[pqCodebook]]/[[pqAssign]]/[[pqAdcSum]])
    * over residual vectors instead of raw ones.
    *
    * Scale shape: training + encode are the IVF and PQ shapes unchanged
    * (broadcast assigns, integer-mean aggregates, one corpus scan per
    * round); search joins the M·N code rows against the broadcast
    * Q·probes·M·codes distance tables on (coarse cell, subspace, code) —
    * candidate work is confined to probed cells (unlike PQ-flat's
    * exhaustive compressed scan), which is the reason this is the
    * configuration a billion-vector deployment actually runs.
    *
    * Determinism: residual subtraction is float arithmetic on both engines
    * (double-exact, then rounded to float — bit-identical); every distance
    * is the same dot-product identity over [[graft.functions
    * .FloatVectorDot]]; the ADC sum adds in fixed subspace order. Floats
    * drive orderings only; graded output is (query_id, neighbor_id, rnk). */
  def topKIvfPq(
      emb: DataFrame,
      queryPred: Column,
      k: Int,
      coarseK: Int = 8,
      coarseRounds: Int = 2,
      probes: Int = 2,
      subspaces: Int = 4,
      codes: Int = 8,
      pqRounds: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(Dim % subspaces == 0, s"Dim=$Dim must divide into $subspaces subspaces")
    val base = emb.select(col(idCol), col(vecCol), l2Norm(col(vecCol)).as("nrm"))
    // coarse k-means: first-k seeding + integer-mean Lloyd rounds — the
    // exact kmeansAssign chain, so the oracle replays kmeansCellCtes
    val seeds = base.where(col(idCol) < coarseK).select(
      col(idCol).as("cid"), col(vecCol).as("centv"), col("nrm").as("centn"))
    val cents = (1 to coarseRounds).foldLeft(seeds) { (c, _) =>
      integerMeanCentroids(nearestCells(base, c, 1, idCol, vecCol), vecCol)
        .localCheckpoint(true)
    }
    // Rescale the ×1000 integer-mean centroids back to data scale for the
    // residual subtraction (the cosine ASSIGNMENT upstream is
    // scale-invariant; L2 residual math is not): double divide + float
    // cast, exactly as pqCodebook re-centers.
    val resCents = cents.select(col("cid").as("__ccell"),
      transform(col("centv"), x => (x.cast("double") / lit(1000.0)).cast("float"))
        .as("__rcv"))

    // (idCol, vecCol, nrm, cell) → (idCol, ccell, __v = v − centroid(cell));
    // float subtraction — double-exact then float-rounded in the oracle,
    // bit-identical to Spark's float arithmetic
    def residual(cells: DataFrame): DataFrame =
      cells.join(broadcast(resCents), col("cell") === col("__ccell"))
        .select(col(idCol), col("cell").as("ccell"),
          zip_with(col(vecCol), col("__rcv"), (a, b) => a - b).as("__v"))

    val corpusSub = pqSubVectors(
        residual(nearestCells(base, cents, 1, idCol, vecCol)), subspaces, idCol)
      .localCheckpoint(true)
    val cb = pqCodebook(corpusSub, codes, pqRounds, idCol)
    val enc = pqAssign(corpusSub, cb, Seq("ccell"), idCol)
      .select(col(idCol).as("neighbor_id"), col("ccell"), col("m"), col("cell"))
    // queries: one residual PER PROBED CELL — ADC must measure from the
    // same centroid the candidate's code was taken against
    val qsub = pqSubVectors(
      residual(nearestCells(base.where(queryPred), cents, probes, idCol, vecCol)),
      subspaces, idCol)
    val dtab = qsub.join(broadcast(cb), Seq("m"))
      .select(col(idCol).as("query_id"), col("ccell"), col("m"),
        col("cid").as("cell"), pqD2(col("cv")).as("dq"))
    val scored = enc.join(broadcast(dtab), Seq("ccell", "m", "cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .groupBy("query_id", "neighbor_id")
      .agg(pqAdcSum(subspaces).as("cos"))
    rankTopK(scored, k)
  }

  /** Residual sub-vector derivation shared by the decomposed IVF-PQ
    * stages: assign to `probes` nearest coarse cells, subtract the cell
    * centroid (×1000 integer-mean rescaled to data scale, float-rounded —
    * exactly [[topKIvfPq]]'s arithmetic), split into subspaces. */
  private def pqResidualSub(
      emb: DataFrame, cents: DataFrame, probes: Int, subspaces: Int,
      idCol: String, vecCol: String): DataFrame = {
    val base = emb.select(col(idCol), col(vecCol), l2Norm(col(vecCol)).as("nrm"))
    val resCents = cents.select(col("cid").as("__ccell"),
      transform(col("centv"), x => (x.cast("double") / lit(1000.0)).cast("float"))
        .as("__rcv"))
    val res = nearestCells(base, cents, probes, idCol, vecCol)
      .join(broadcast(resCents), col("cell") === col("__ccell"))
      .select(col(idCol), col("cell").as("ccell"),
        zip_with(col(vecCol), col("__rcv"), (a, b) => a - b).as("__v"))
    pqSubVectors(res, subspaces, idCol)
  }

  /** TRAIN the IVF-PQ model on `train` only: coarse centroids (first-k
    * seeding + integer-mean Lloyd, the [[kmeansAssign]] chain) and the
    * per-subspace residual codebooks. Returns (cents, codebook), both
    * frozen-able: [[ivfPqEncode]] folds ANY batch in at these parameters
    * without re-training — the incremental-maintenance shape at the
    * billion-vector deployment configuration. */
  def ivfPqModel(
      train: DataFrame,
      coarseK: Int = 8,
      coarseRounds: Int = 2,
      subspaces: Int = 4,
      codes: Int = 8,
      pqRounds: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): (DataFrame, DataFrame) = {
    require(Dim % subspaces == 0, s"Dim=$Dim must divide into $subspaces subspaces")
    val base = train.select(col(idCol), col(vecCol), l2Norm(col(vecCol)).as("nrm"))
    val seeds = base.where(col(idCol) < coarseK).select(
      col(idCol).as("cid"), col(vecCol).as("centv"), col("nrm").as("centn"))
    val cents = (1 to coarseRounds).foldLeft(seeds) { (c, _) =>
      integerMeanCentroids(nearestCells(base, c, 1, idCol, vecCol), vecCol)
        .localCheckpoint(true)
    }
    val trainSub = pqResidualSub(train, cents, 1, subspaces, idCol, vecCol)
      .localCheckpoint(true)
    (cents, pqCodebook(trainSub, codes, pqRounds, idCol))
  }

  /** CODEBOOK-only refresh at FROZEN coarse centroids — the partial
    * refresh a PQ deployment runs when the residual distribution drifts
    * (or a deletion skews it) while the coarse partition is still good:
    * re-fit the per-subspace codebooks over the given rows' residuals;
    * the coarse cells never move, so the refresh costs a codebook fit +
    * one re-encode pass, not a k-means re-train. NOTE: PQ codes are
    * LOSSY — a refresh must read RAW vectors (a retained registry or the
    * source table), never the stored codes; this is the structural
    * difference from the IVF-flat refresh, whose cells carry `cv`. */
  def ivfPqRefitCodebooks(
      train: DataFrame,
      cents: DataFrame,
      subspaces: Int = 4,
      codes: Int = 8,
      pqRounds: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val trainSub = pqResidualSub(train, cents, 1, subspaces, idCol, vecCol)
      .localCheckpoint(true)
    pqCodebook(trainSub, codes, pqRounds, idCol)
  }

  /** ENCODE vectors at a frozen model: coarse-assign, residual, per-
    * subspace nearest code. One row per (vector, subspace):
    * (neighbor_id, ccell, m, cell) — the persisted compressed index;
    * append a batch's encodings to fold it in. */
  def ivfPqEncode(
      emb: DataFrame, cents: DataFrame, cb: DataFrame,
      subspaces: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    pqAssign(pqResidualSub(emb, cents, 1, subspaces, idCol, vecCol), cb, Seq("ccell"), idCol)
      .select(col(idCol).as("neighbor_id"), col("ccell"), col("m"), col("cell"))

  /** IN-PLACE partial maintenance of the coarse-cell-PARTITIONED code
    * index — [[ivfServingFold]]'s mechanics on the COMPRESSED artifact:
    * encoding is per-vector at the frozen (cents, cb) model, so a delta
    * rewrites only the coarse cells its old/new vectors assign to, and
    * [[ServingLayout.Artifact.fold]] covers revise/delete/insert. */
  def ivfPqServingFold(
      spark: SparkSession,
      codesPath: String,
      oldVecs: DataFrame,
      newVecs: DataFrame,
      cents: DataFrame,
      cb: DataFrame,
      subspaces: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit =
    pqCodes.fold(spark, codesPath,
      ivfPqEncode(oldVecs, cents, cb, subspaces, idCol, vecCol),
      ivfPqEncode(newVecs, cents, cb, subspaces, idCol, vecCol))

  /** ADC search over a prebuilt code index at the frozen model. */
  def ivfPqSearch(
      enc: DataFrame, queries: DataFrame, cents: DataFrame, cb: DataFrame,
      k: Int,
      probes: Int = 2,
      subspaces: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val qsub = pqResidualSub(queries, cents, probes, subspaces, idCol, vecCol)
    val dtab = qsub.join(broadcast(cb), Seq("m"))
      .select(col(idCol).as("query_id"), col("ccell"), col("m"),
        col("cid").as("cell"), pqD2(col("cv")).as("dq"))
    val scored = enc.join(broadcast(dtab), Seq("ccell", "m", "cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .groupBy("query_id", "neighbor_id")
      .agg(pqAdcSum(subspaces).as("cos"))
    rankTopK(scored, k)
  }

  /** E2-rerank — TWO-STAGE retrieval (the deployment shape around any
    * compressed index): the PQ index produces a `shortlist`-deep candidate
    * list per query from codes alone, then the ORIGINAL float vectors are
    * fetched for just those candidates and re-scored with exact cosine —
    * quantization picks the candidates, full-precision math picks the
    * final ranking. Fixes the rank inversions ADC's lossy distances
    * introduce inside the shortlist at the cost of `Q × shortlist`
    * full-vector reads (vs N for exact search).
    *
    * Scale shape: stage 1 is [[topKPq]] unchanged (compressed exhaustive
    * scan); stage 2 broadcasts the Q×shortlist pair list against the
    * corpus — the full-vector dot products touch only shortlist rows, and
    * the broadcast means the corpus is never shuffled. Determinism: exact
    * cosine over [[graft.functions.FloatVectorDot]] (≙ `list_dot_product`)
    * drives the ordering only; graded output is (query_id, neighbor_id,
    * rnk). */
  def topKPqRerank(
      emb: DataFrame,
      queryPred: Column,
      k: Int,
      shortlist: Int = 12,
      subspaces: Int = 4,
      codes: Int = 8,
      rounds: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val sl = topKPq(emb, queryPred, shortlist, subspaces, codes, rounds, idCol, vecCol)
      .select(col("query_id"), col("neighbor_id"))
    rerankExact(sl, emb, queryPred, k, idCol, vecCol)
  }

  /** Stage-2 exact re-rank shared by the compressed-index deployments:
    * the Q×shortlist pair list broadcasts against the corpus, full-vector
    * cosine touches ONLY shortlist rows, the corpus is never shuffled. */
  private def rerankExact(
      sl: DataFrame, emb: DataFrame, queryPred: Column, k: Int,
      idCol: String, vecCol: String): DataFrame = {
    val queries = emb.where(queryPred).select(
      col(idCol).as("query_id"), col(vecCol).as("qv"), l2Norm(col(vecCol)).as("qn"))
    val slq = sl.join(broadcast(queries), Seq("query_id"))
    val scored = emb
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"), l2Norm(col(vecCol)).as("cn"))
      .join(broadcast(slq), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
    rankTopK(scored, k)
  }

  /** E2-MRL — TRUNCATED-DIMENSION two-stage search (Kusupati et al.,
    * "Matryoshka Representation Learning", NeurIPS 2022): MRL-trained
    * embeddings pack their best coarse approximation into the vector
    * PREFIX, so stage 1 ranks a `shortlist`-deep candidate set using only
    * the first `shortDim` of [[Dim]] dimensions — a Dim/shortDim× cut in
    * memory bandwidth and FLOPs on the exhaustive leg, with NO trained
    * codebook (the operational difference from [[topKPqRerank]]: nothing
    * to fit, nothing to refresh) — and stage 2 re-scores just the
    * shortlist at full dimension. Same scale shape as every two-stage
    * deployment here: the cheap representation picks candidates, exact
    * math picks the ranking, and the full-precision reads are
    * Q × shortlist, not N. */
  def topKMrl(
      emb: DataFrame,
      queryPred: Column,
      k: Int,
      shortDim: Int = 16,
      shortlist: Int = 12,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val trunc = emb.select(col(idCol), slice(col(vecCol), 1, shortDim).as(vecCol))
    val sl = topKCosine(trunc, queryPred, shortlist, idCol, vecCol)
      .select(col("query_id"), col("neighbor_id"))
    rerankExact(sl, emb, queryPred, k, idCol, vecCol)
  }

  /** Nearest-`n` centroid cells per vector via the bounded-heap aggregate
    * (ties toward the smaller centroid id, like everywhere else). Output:
    * (idCol, vecCol, nrm, cell), one row per (vector, probed cell). The
    * centroid set broadcasts — IVF/k-means' premise is that k is small. */
  private def nearestCells(
      df: DataFrame, cents: DataFrame, n: Int, idCol: String, vecCol: String): DataFrame =
    df.join(broadcast(cents))
      .select(col(idCol), col(vecCol), col("nrm"),
        (dot(col(vecCol), col("centv")) / (col("nrm") * col("centn"))).as("cs"), col("cid"))
      .groupBy(idCol, vecCol, "nrm")
      .agg(topKByScore(col("cs"), col("cid"), n).as("cids"))
      .select(col(idCol), col(vecCol), col("nrm"), explode(col("cids")).as("cell"))

  /** Re-center: per-cell element-wise INTEGER mean of the member vectors
    * (elements scaled ×1000 and floored, per-cell long sums, integer-div
    * mean) — exact, order-independent, bit-identical in the oracle; cosine
    * is scale-invariant so the un-rescaled mean works as-is. One explode +
    * one hash aggregate per cell×dim, then one small per-cell list
    * rebuild. A cell that lost every member simply disappears. */
  private def integerMeanCentroids(assigned: DataFrame, vecCol: String): DataFrame =
    assigned
      .select(col("cell"), posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy("cell", "pos")
      .agg(sum(floor(col("x").cast("double") * 1000.0).cast("long")).as("qs"),
        count(lit(1)).as("n"))
      .select(col("cell"), col("pos"), expr("qs div n").as("qm"))
      .groupBy("cell")
      .agg(sort_array(collect_list(struct(col("pos"), col("qm")))).as("pq"))
      .select(col("cell").as("cid"),
        transform(col("pq"), p => p.getField("qm").cast("float")).as("centv"))
      .withColumn("centn", l2Norm(col("centv")))

  /** E2e — deterministic k-means over the embedding column: the SemDeDup
    * shape (cluster the corpus semantically, then curate/dedup within
    * cells). Seeds = the first `k` vectors by id; `rounds` alternations of
    * assign-to-nearest-cosine-centroid → exact-integer-mean re-center
    * (the same two primitives IVF refines with); output = the final
    * assignment (idCol, cid).
    *
    * Scale shape per round: one broadcast of ≤k centroids against the
    * corpus + one bounded-heap argmax (map-side partial) + one hash
    * aggregate over (cell, dim) for the means — never a cross product,
    * never driver-side centroid math, O(rounds) fixed passes. All mean
    * math is integer (order-independent), so the DuckDB oracle replays
    * every round bit-for-bit; cosine floats only ever drive the argmax
    * ordering. */
  def kmeansAssign(
      emb: DataFrame,
      k: Int = 8,
      rounds: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val base = emb.select(col(idCol), col(vecCol), l2Norm(col(vecCol)).as("nrm"))
    val seeds = base.where(col(idCol) < k).select(
      col(idCol).as("cid"), col(vecCol).as("centv"), col("nrm").as("centn"))
    // each round's centroid table is k rows — eagerly materialize it so
    // round r+1's plan references a tiny checkpoint instead of replanting
    // the WHOLE previous round's lineage (the lazy foldLeft otherwise
    // re-derives every earlier assign+re-center per round: plan size and
    // corpus scans grow with rounds²; with the checkpoint each round is
    // exactly one corpus scan, which is k-means' inherent cost)
    val cents = (1 to rounds).foldLeft(seeds) { (c, _) =>
      integerMeanCentroids(nearestCells(base, c, 1, idCol, vecCol), vecCol)
        .localCheckpoint(true)
    }
    nearestCells(base, cents, 1, idCol, vecCol)
      .select(col(idCol), col("cell").cast("long").as("cid"))
  }

  /** E2f — SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    * web scale through semantic deduplication"): k-means-cluster the
    * embedding corpus ([[kmeansAssign]]), then within each cell prune
    * every vector that has a LOWER-id cell-mate above the cosine
    * threshold — semantic near-duplicates collapse to their first
    * representative without any cross-cell comparison. Output: one row
    * per vector, (vec_id, cid, is_kept).
    *
    * Scale shape: the pairwise comparison is confined to k-means cells
    * (the join key is the cell id — the whole point of SemDeDup is that
    * cells bound the quadratic term), the cluster step is the fixed
    * O(rounds) k-means above, and the prune is one self-join + one
    * left-anti join. At real scale k grows with the corpus so cells stay
    * bounded; the threshold keeps float math strictly on the comparison
    * side (both engines compute the identical double expression). */
  def semanticDedup(
      emb: DataFrame,
      k: Int = 8,
      rounds: Int = 2,
      threshold: Double = 0.99,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val cells = kmeansAssign(emb, k, rounds, idCol, vecCol)
    // consumed by BOTH self-join sides and the output — one eager
    // materialization instead of three assign-join recomputations
    val withCell = emb
      .select(col(idCol), col(vecCol), l2Norm(col(vecCol)).as("nrm"))
      .join(cells, Seq(idCol))
      .localCheckpoint(true)
    val l = withCell.select(col("cid"), col(idCol).as("id_a"),
      col(vecCol).as("va"), col("nrm").as("na"))
    val r = withCell.select(col("cid"), col(idCol).as("id_b"),
      col(vecCol).as("vb"), col("nrm").as("nb"))
    val pruned = l.join(r, Seq("cid"))
      .where(col("id_a") < col("id_b"))
      // float membership cut, same deliberate exception as hardNegatives:
      // identical double expression on both engines + fixture margin
      // (planted near-dups ~1.0, random pairs ≲0.5 vs 0.99) — re-check if
      // either the threshold or the fixture ever moves toward the cut
      .where(dot(col("va"), col("vb")) / (col("na") * col("nb")) >= threshold)
      .select(col("id_b").as(idCol)).distinct()
    withCell.select(col(idCol), col("cid"))
      .join(pruned.withColumn("__p", lit(1L)), Seq(idCol), "left")
      .select(col(idCol), col("cid"),
        when(col("__p").isNull, 1L).otherwise(0L).as("is_kept"))
  }

  /** (query_id, score, neighbor_id) → (query_id, neighbor_id, rnk ≤ k) via
    * the bounded-heap aggregate + posexplode. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy("query_id")
      .agg(topKByScore(col("cos"), col("neighbor_id"), k).as("ids"))
      .select(col("query_id"), posexplode(col("ids")).as(Seq("pos", "neighbor_id")))
      .select(col("query_id"), col("neighbor_id"), (col("pos") + 1).cast("int").as("rnk"))

  /** KMV (k-minimum-values) distinct-count sketch per group — the
    * mergeable approximate-distinct shape (≙ what HLL does, but with
    * engine-portable DETERMINISTIC math, so the sketch itself is
    * oracle-checkable): keep the k smallest 32-bit hash values per group
    * via the bounded-heap [[graft.functions.TopKByScore]] aggregate
    * (map-side partial keeps the shuffle at O(groups × k)), estimate
    * distinct = (k-1) * 2^32 div kthMin; exact count when fewer than k
    * values exist. Estimation error ~1/sqrt(k-1).
    *
    * @param keyCol   grouping column
    * @param valueCol column whose distinct count is sketched
    */
  /** Per-group KMV sketch: the k smallest 32-bit value hashes, ascending —
    * the raw mergeable state [[kmvDistinct]] estimates from and
    * [[kmvMergedDistinct]] unions. */
  def kmvSketches(df: DataFrame, keyCol: String, valueCol: String, k: Int): DataFrame = {
    val hv = conv(substring(md5(col(valueCol).cast("string").cast("binary")), 1, 8), 16, 10)
      .cast("long")
    df.select(col(keyCol), col(valueCol)).distinct()
      .select(col(keyCol), hv.as("hv"))
      .groupBy(keyCol)
      .agg(topKByScore((-col("hv")).cast("double"), col("hv"), k).as("mins"))
  }

  /** Estimate columns from a `mins` sketch: kept count, kth value, and the
    * (k-1)·2^32/kth estimator (exact when fewer than k values exist). */
  private def kmvEstimate(sketch: DataFrame, k: Int): DataFrame =
    sketch
      .select(
        sketch.columns.filter(_ != "mins").map(col) :+
          size(col("mins")).cast("long").as("n_kept") :+
          element_at(col("mins"), size(col("mins"))).as("kth_hash"): _*)
      .withColumn("est_distinct",
        when(col("n_kept") < k, col("n_kept"))
          // kth_hash = 0 (all-zero leading md5 lane, p≈2^-32 per group) must
          // render identically on both engines: explicit NULL here, CASE
          // WHEN kth_hash = 0 THEN NULL in the oracle — DuckDB's bare //
          // would raise instead, and Spark's ANSI div would too.
          .when(col("kth_hash") === 0, lit(null).cast("long"))
          .otherwise(expr(s"CAST(${k - 1} AS BIGINT) * 4294967296 div kth_hash")))

  def kmvDistinct(df: DataFrame, keyCol: String, valueCol: String, k: Int = 16): DataFrame =
    kmvEstimate(kmvSketches(df, keyCol, valueCol, k), k)

  /** KMV MERGE — the property the sketch exists for: per-group sketches
    * union into a global one WITHOUT revisiting the data (at 100 TB the
    * per-shard sketches are bytes; re-scanning for a global distinct is
    * the thing you avoid). Merge = distinct union of the groups' kept
    * hashes, keep the k smallest, estimate as usual. One explode over
    * O(groups × k) rows — driver never touches the data. */
  def kmvMergedDistinct(df: DataFrame, keyCol: String, valueCol: String, k: Int = 16): DataFrame =
    kmvEstimate(
      kmvSketches(df, keyCol, valueCol, k)
        .select(explode(col("mins")).as("hv"))
        .distinct() // the same value hashed in several groups counts once
        .agg(topKByScore((-col("hv")).cast("double"), col("hv"), k).as("mins"))
        .select(lit("all").as("scope"), col("mins")),
      k)

  val HllBuckets = 16 // m = 2^4; first md5 hex char is the bucket

  /** alpha_16 · m² · 2³³ with alpha_16 = 0.673 scaled ×1000 — the HLL
    * estimator numerator as one exact BIGINT (the denominator sum uses
    * common denominator 2³³ so every 2^-register term is integral). */
  val HllNumerator: Long = 673L * HllBuckets * HllBuckets * (1L << 33)

  /** HyperLogLog distinct sketch per group (Flajolet et al., "HyperLogLog:
    * the analysis of a near-optimal cardinality estimation algorithm") —
    * the OTHER mergeable distinct sketch next to [[kmvDistinct]], with
    * engine-portable integer math throughout: bucket = first md5 hex char
    * (m = 16), rho = leading-zero rank of the next 32 hash bits computed
    * via `33 - length(bin(v))` (minimal-width binary rendering — identical
    * in both engines), register = max(rho) per bucket, and the estimate
    * alpha·m²/Σ2^-Mj evaluated over common denominator 2³³ so it is one
    * BIGINT division. Exact distinct count rides alongside so the graded
    * row shows the estimation error.
    *
    * Scale shape: registers are a map-side-combinable MAX aggregate over
    * the RAW value stream — no distinct shuffle (max is duplicate-blind),
    * the per-shard state is m longs, and merging shards is max per bucket.
    * The exact count (for the comparison column) is the only distinct in
    * the plan. */
  def hllDistinct(df: DataFrame, keyCol: String, valueCol: String): DataFrame = {
    val exact = df.groupBy(keyCol).agg(countDistinct(col(valueCol)).as("exact_distinct"))
    hllEstimate(hllState(df, keyCol, valueCol), exact, keyCol)
  }

  /** The persistable per-group HLL sketch STATE: (key, bucket, register)
    * with register = max rho seen — m longs per group, what a nightly
    * distinct-count job stores between runs. Sparse: untouched buckets are
    * absent (densified to register 0 at estimate time). */
  def hllState(df: DataFrame, keyCol: String, valueCol: String): DataFrame = {
    val h = md5(col(valueCol).cast("string").cast("binary"))
    df.select(col(keyCol),
        conv(substring(h, 1, 1), 16, 10).cast("long").as("bucket"),
        conv(substring(h, 2, 8), 16, 10).cast("long").as("v"))
      .select(col(keyCol), col("bucket"),
        when(col("v") === 0, lit(33L))
          .otherwise(lit(33L) - length(bin(col("v"))).cast("long")).as("rho"))
      .groupBy(keyCol, "bucket").agg(max("rho").as("register"))
  }

  /** Incremental sketch maintenance — the [[graft.cdc.StateMaintain]]
    * contract for distinct counts: fold a NEW batch into stored state by
    * sketching only the batch and max-merging registers. History is never
    * re-read (the state is m longs per group), the result is IDENTICAL to
    * sketching the whole stream (max is associative and duplicate-blind),
    * and a replayed batch cannot move any register backwards — HLL update
    * is idempotent, unlike a stored exact count.
    *
    * FORGET asymmetry: HLL registers CANNOT honor subject deletion — a
    * register is max-owned, possibly by many values, so the subject's
    * contribution is unrecoverable (max has no inverse). A deletion
    * contract over HLL state means re-sketching the survivors; the
    * additive count-min cells ([[graft.ext.TextOps.cmForget]]) are the
    * sketch family member that CAN forget exactly. */
  def hllApplyBatch(state: DataFrame, batch: DataFrame, keyCol: String, valueCol: String): DataFrame =
    state.unionByName(hllState(batch, keyCol, valueCol))
      .groupBy(keyCol, "bucket").agg(max("register").as("register"))

  /** Estimate from sketch state: densify to all m buckets per key (empty
    * bucket = register 0, feeding the n_zero_buckets linear-counting
    * signal), then the single-BIGINT-division estimator. `exact` supplies
    * the comparison column the graded rows carry. */
  def hllEstimate(state: DataFrame, exact: DataFrame, keyCol: String): DataFrame = {
    val full = state.select(col(keyCol)).distinct()
      .select(col(keyCol), explode(sequence(lit(0L), lit(HllBuckets - 1L))).as("bucket"))
      .join(state, Seq(keyCol, "bucket"), "left")
      .select(col(keyCol), coalesce(col("register"), lit(0L)).as("register"))
    full.groupBy(keyCol).agg(
        sum(expr("CAST(1 AS BIGINT) << CAST(33 - register AS INT)")).cast("long").as("__denom"),
        sum(when(col("register") === 0, 1L).otherwise(0L)).cast("long").as("n_zero_buckets"))
      .select(col(keyCol),
        expr(s"CAST($HllNumerator AS BIGINT) div (__denom * 1000)").as("hll_est"),
        col("n_zero_buckets"))
      .join(exact, Seq(keyCol))
      .select(keyCol, "exact_distinct", "hll_est", "n_zero_buckets")
  }

  /** HLL MERGE — the property the sketch exists for (same story as
    * [[kmvMergedDistinct]]): per-group register tables union into a
    * GLOBAL estimate by `max` per bucket — bytes per shard, no rescan of
    * the data. The estimate is identical to sketching the union directly
    * (max is associative), pinned by the merge property test. */
  def hllMergedDistinct(df: DataFrame, keyCol: String, valueCol: String): DataFrame = {
    val h = md5(col(valueCol).cast("string").cast("binary"))
    val hashed = df.select(col(keyCol),
      conv(substring(h, 1, 1), 16, 10).cast("long").as("bucket"),
      conv(substring(h, 2, 8), 16, 10).cast("long").as("v"))
    // the stored per-shard sketches (what hllDistinct keeps per group)
    val perGroup = hashed.select(col(keyCol), col("bucket"),
        when(col("v") === 0, lit(33L))
          .otherwise(lit(33L) - length(bin(col("v"))).cast("long")).as("rho"))
      .groupBy(keyCol, "bucket").agg(max("rho").as("register"))
    // merge = max per bucket over O(groups × m) rows — data never re-read
    val merged = perGroup.groupBy("bucket").agg(max("register").as("register"))
    val full = df.sparkSession.range(HllBuckets).select(col("id").as("bucket"))
      .join(merged, Seq("bucket"), "left")
      .select(coalesce(col("register"), lit(0L)).as("register"))
    val exact = df.select(countDistinct(col(valueCol)).as("exact_distinct"))
    full.agg(
        sum(expr("CAST(1 AS BIGINT) << CAST(33 - register AS INT)")).cast("long").as("__denom"),
        sum(when(col("register") === 0, 1L).otherwise(0L)).cast("long").as("n_zero_buckets"))
      .select(lit("all").as("scope"),
        expr(s"CAST($HllNumerator AS BIGINT) div (__denom * 1000)").as("hll_est"),
        col("n_zero_buckets"))
      .crossJoin(exact)
      .select("scope", "exact_distinct", "hll_est", "n_zero_buckets")
  }

  /** Symmetric per-vector int8 quantization — the standard embedding
    * compression step before an ANN index or a storage tier: each vector
    * scales by 127/max|x| and floors to [-127, 127] (a zero vector maps to
    * all zeros). Map-only column work; emitted as integer summary stats +
    * an md5 fingerprint of the quantized array, so the graded output
    * carries no raw floats. Float math is explicit-double on both engines
    * (`floor(CAST(x AS DOUBLE) * 127.0 / maxabs)`) — bit-identical. */
  def quantizeInt8(embeddings: DataFrame): DataFrame = {
    val v = col("embedding")
    // STAGE maxabs and q as columns: inlined, the five stat expressions
    // each re-ran the whole quantization transform, and the lambda's
    // reference to maxabs re-evaluated array_max PER ELEMENT (O(d²) per
    // row, five times over — interpreted, since higher-order functions
    // don't codegen). Staged, each computes once per row.
    val staged = embeddings
      // NULL/empty vectors are excluded IDENTICALLY on both engines (the
      // oracle's two UNION branches would silently drop them while Spark
      // emitted NULL-stat rows — a row-count mismatch waiting on a fixture
      // change). An empty quantization is meaningless either way.
      .where(v.isNotNull && size(v) > 0)
      .withColumn("__maxabs", array_max(transform(v, x => abs(x.cast("double")))))
      .withColumn("__q", transform(v, x =>
        when(col("__maxabs") > 0,
          floor(x.cast("double") * 127.0 / col("__maxabs"))).otherwise(0L).cast("int")))
    val q = col("__q")
    staged.select(
      col("vec_id"),
      array_min(q).as("q_min"),
      array_max(q).as("q_max"),
      aggregate(q, lit(0L), (acc, x) => acc + x).as("q_sum"),
      size(filter(q, _ =!= 0)).as("n_nonzero"),
      md5(concat_ws(",", transform(q, _.cast("string"))).cast("binary")).as("fp_q"))
  }

  /** E2-eval — ranking-quality evaluation: recall@k and reciprocal rank of
    * an approximate retrieval `system` against the exhaustive `truth`
    * ranking, per query. The harness every ANN deployment runs after each
    * index build (probe-budget and table-count tuning reads exactly these
    * numbers — IvfRecallSpec's assertions are this computation, graded).
    *
    * Both inputs are (query_id, neighbor_id, rnk) frames as produced by
    * every top-k operator in this file. Metrics are integer-rendered
    * (recall in basis points, reciprocal rank in micro-units: `10⁶ div
    * first-relevant system rank`, 0 when no truth item surfaces). The
    * join is truth-sized (queries × k rows, never corpus-sized); with a
    * broadcast-sized truth the whole evaluation is one broadcast join +
    * one aggregate on query_id.
    */
  def rankEval(system: DataFrame, truth: DataFrame, k: Int): DataFrame = {
    val intDiv = graft.ext.TextOps.intDiv _
    val t = truth.where(col("rnk") <= k).select("query_id", "neighbor_id")
    val sys = system.where(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk").cast("long").as("__srnk"))
    t.join(sys, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(
        count(lit(1)).as("n_truth"),
        count(col("__srnk")).as("n_hits"),
        intDiv(count(col("__srnk")) * 10000L, count(lit(1))).as("recall_bp"),
        coalesce(intDiv(lit(1000000L), min(col("__srnk"))), lit(0L)).as("rr_micro"))
  }
}
