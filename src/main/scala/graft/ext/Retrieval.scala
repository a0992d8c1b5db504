package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.ext.TextOps.intDiv
import graft.functions.WordShingles

/** E2-ret — BM25-shaped full-text retrieval over an inverted index: a set
  * of term queries scored against the corpus with tf-saturated,
  * length-normalized term weighting (Robertson et al., Okapi BM25), top-k
  * documents per query.
  *
  * Terms are word BIGRAMS, not unigrams: the fixture vocabulary is ~31
  * words with per-word document frequency ≈ 80% of the corpus, so every
  * unigram is a stopword and unigram retrieval is vacuous; the ~1k-bigram
  * space has df ≈ 6% and real discrimination. (A production corpus would
  * use unigrams + this same shape.)
  *
  * Scoring is the BM25 form with k1 = 6/5, b = 3/4 and ALL arithmetic
  * integer-exact so both engines hash identically (no raw floats in graded
  * columns — the repo-wide oracle-parity rule):
  *
  *   - idf surrogate: `(2N - 2·df + 1)·10⁶ div (2·df + 1)` — the
  *     Robertson–Sparck-Jones odds ratio `(N - df + ½)/(df + ½)` scaled to
  *     micro-units with the log DROPPED. Monotone decreasing in df like the
  *     true idf (so single-term rankings are identical); multi-term sums
  *     weight rare terms more aggressively than the log form. Deterministic
  *     integer math beats log-shaped floats whose last-ulp rounding differs
  *     between engines.
  *   - per-term: `idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))`
  *     cleared of fractions (multiply through by 10·avgdl):
  *     `idf_micro · tf · 22 · avgdl div (10·tf·avgdl + 3·avgdl + 9·dl)`
  *     with dl = the doc's bigram count and avgdl = Σdl div N.
  *   - score = Σ per-term contributions; rank by (score desc, doc_id).
  *
  * Scale shape: ONE explode+aggregate builds the postings (term → doc, tf);
  * document frequency rides out of the postings with a second keyed
  * aggregate (shuffle bounded by |vocab|, never the corpus); terms with
  * `df·2 > N` are PRUNED from the index before any join — the classic
  * stopword cut, and exactly the hot-key guard every content-keyed join in
  * this repo carries (a term in half the corpus would fan the query join
  * out to N/2 candidates; its idf is ~0, so dropping it changes cost, not
  * answers, and the cut is deterministic on both engines). The query side
  * is tiny by construction and broadcast — the only data-sized shuffles
  * are the postings aggregates.
  */
object Retrieval {

  /** Terms with `df·2 > N` (documents containing the term ≥ half the
    * corpus) are pruned from the index — stopword cut + hot-key guard. */
  val DfCapShareOfN = 2

  /** Query derivation for the graded run: every `everyNth`-th base
    * document (residue `residue`) contributes its DISTINCT first
    * `prefixLen` bigrams as one query, keyed by the source doc_id. The
    * query's source doc contains every query term, so self-retrieval at
    * rank 1 is the built-in sanity check.
    */
  def queryTerms(
      corpus: DataFrame,
      everyNth: Int = 100,
      residue: Int = 3,
      prefixLen: Int = 6): DataFrame =
    corpus
      .where(col("doc_id") % everyNth === residue && col("doc_id") < DocFeed.ExactDupOffset)
      .select(col("doc_id").as("query_id"),
        posexplode(WordShingles.wordShingles(col("text"), 2)).as(Seq("pos", "term")))
      .where(col("pos") < prefixLen)
      .select("query_id", "term").distinct()

  /** Top-`k` corpus documents per query by the integer BM25 score above.
    * Output: (query_id, rnk 1..k, doc_id, score_micro) — ties broken by
    * doc_id, so a planted exact duplicate of a matching doc ranks directly
    * after its original.
    */
  def bm25TopK(corpus: DataFrame, queries: DataFrame, k: Int = 5): DataFrame =
    // The inverted index is built ONCE and materialized (localCheckpoint —
    // self-cleaning, repo-standard for multiply-consumed frames): df, dl
    // and the corpus stats all derive from the postings, so the corpus is
    // exploded exactly once however many consumers hang off the index. At
    // production scale this is the artifact you'd persist to parquet
    // ([[bm25Postings]] is that artifact; [[bm25TopKFromPostings]] the
    // consumer) — the derivations are the same either way.
    bm25TopKFromPostings(
      bm25Postings(corpus).localCheckpoint(true),
      corpus.agg(count(lit(1)).as("n")), queries, k)

  /** The persisted half of the index: one (doc_id, term, tf) row per
    * posting. Because postings are a PER-DOCUMENT pure function, this is
    * also the incremental fold: run it over a new-doc batch and UNION with
    * the stored postings — df, dl, N, avgdl, and the idf weights all
    * re-derive from the folded postings, so fold ≡ scratch EXACTLY (the
    * property `ext_bm25_incremental` grades). History text is never
    * re-tokenized. */
  def bm25Postings(corpus: DataFrame): DataFrame =
    corpus.select(col("doc_id"),
        explode(WordShingles.wordShingles(col("text"), 2)).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))

  /** Scoring over a prebuilt postings frame; `nDocs` is a 1-row (n) frame
    * (corpus size can't derive from postings — an empty doc has none). */
  def bm25TopKFromPostings(
      postings: DataFrame, nDocs: DataFrame, queries: DataFrame, k: Int = 5): DataFrame = {
    val docLen = postings.groupBy("doc_id").agg(sum("tf").as("dl"))
    val stats = postings.agg(sum("tf").as("__total")).crossJoin(broadcast(nDocs))
      .select(col("n"), intDiv(col("__total"), col("n")).as("avgdl"))
    val docFreq = postings.groupBy("term").agg(count(lit(1)).as("df"))

    val idx = postings
      .join(docFreq, "term")
      .join(docLen, "doc_id")
      .crossJoin(broadcast(stats))
      .where(col("df") * DfCapShareOfN <= col("n")) // stopword / hot-key cut
      .withColumn("idf_micro",
        intDiv((col("n") * 2 - col("df") * 2 + 1) * 1000000L, col("df") * 2 + 1))

    idx
      .join(broadcast(queries.select(col("query_id"), col("term"))), Seq("term"))
      .withColumn("__s",
        intDiv(col("idf_micro") * col("tf") * 22L * col("avgdl"),
          col("tf") * col("avgdl") * 10L + col("avgdl") * 3L + col("dl") * 9L))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("__s")).as("score_micro"))
      .withColumn("rnk",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(col("score_micro").desc, col("doc_id"))))
      .where(col("rnk") <= k)
      .select("query_id", "rnk", "doc_id", "score_micro")
  }

  /** Partition-value cardinality of the postings and the doc registry:
    * a fold and the probe reading its layout must agree on it, so every
    * default points here. */
  val ServingBuckets = 16

  /** Deterministic term→bucket assignment for the serving layout's
    * partitioning (md5 prefix mod `buckets`) — a layout-internal choice,
    * never graded content, so it needs no cross-engine twin. */
  def termBucket(term: Column, buckets: Int = ServingBuckets): Column =
    conv(substring(md5(term), 1, 4), 16, 10).cast("long") % buckets

  /** Doc-id→bucket assignment for the REGISTRY's partition layout —
    * layout-internal like [[termBucket]], never graded content. */
  def docBucket(docId: Column, buckets: Int = ServingBuckets): Column =
    pmod(docId, lit(buckets.toLong))

  /** The persisted doc registry (the length table) by [[docBucket]]. */
  private[graft] val bm25DocLen = ServingLayout.Artifact(
    StructType.fromDDL("doc_id BIGINT, dl BIGINT, dbucket BIGINT"), "dbucket", "doc_id")

  /** The persisted postings by [[termBucket]]. Pinned against
    * [[bm25ServingArtifacts]]'s postings by RetrievalSpec. */
  private[graft] val bm25PostingsLayout = ServingLayout.Artifact(
    StructType.fromDDL("term STRING, doc_id BIGINT, tf BIGINT, df BIGINT, bucket BIGINT"),
    "bucket", "doc_id")

  /** The SERVING artifact set of the BM25 index — what a production
    * deployment persists so a query never derives statistics from a full
    * index scan: postings DENORMALIZED with their term's df and tagged
    * with the [[termBucket]] partition key; the per-doc length table; and
    * the 1-row corpus stats (n, avgdl). All three re-derive from
    * [[bm25Postings]] at index-build time (the same derivations
    * [[bm25TopKFromPostings]] runs per query — hoisted to build time). */
  def bm25ServingArtifacts(corpus: DataFrame, buckets: Int = ServingBuckets)
      : (DataFrame, DataFrame, DataFrame) = {
    val postings = bm25Postings(corpus).localCheckpoint(true)
    val withDf = postings
      .join(postings.groupBy("term").agg(count(lit(1)).as("df")), "term")
      .withColumn("bucket", termBucket(col("term"), buckets))
    // the length table doubles as the DOC REGISTRY: one row per corpus
    // doc, dl = 0 for docs no posting reaches (the empty-doc registry
    // lesson) — so n and avgdl derive WHOLLY from it, at build time and
    // at every fold. It carries its own partition key ([[docBucket]]) so
    // the PERSISTED registry is a bucket-partitioned layout a fold
    // rewrites per affected bucket, never whole.
    val docLen = corpus.select(col("doc_id"))
      .join(postings.groupBy("doc_id").agg(sum("tf").as("__dl")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("__dl"), lit(0L)).as("dl"),
        docBucket(col("doc_id"), buckets).as("dbucket"))
    val stats = statsFromDocLen(docLen)
    (withDf, docLen, stats)
  }

  /** (n, avgdl) derived from the registry-complete doc-length table —
    * the ONLY source of corpus statistics, so a fold that rebuilds the
    * length table idempotently gets idempotent stats for free. A fold
    * that empties the registry (every remaining doc deleted) publishes
    * the explicit (n = 0, avgdl = 0) row — a DETECTABLE state a consumer
    * can refuse, never NULL arithmetic silently propagating through
    * scores. */
  private def statsFromDocLen(docLen: DataFrame): DataFrame =
    docLen.agg(sum("dl").as("__total"), count(lit(1)).as("n"))
      .select(col("n"),
        when(col("n") === 0L, lit(0L))
          .otherwise(intDiv(coalesce(col("__total"), lit(0L)), col("n")))
          .as("avgdl"))

  /** The PRUNED serving read over the persisted artifacts: the query's
    * terms carry their buckets, so the join against the bucket-PARTITIONED
    * postings reaches the scan as a runtime partition filter — only the
    * query's buckets are read, never the corpus-wide postings (the BM25
    * twin of the IVF cell-pruned probe). df/dl/n/avgdl come from the
    * stored artifacts; formulas are [[bm25TopKFromPostings]]'s verbatim,
    * so the serving read is bit-identical to scoring over the full index
    * (same oracle). The df-cap stopword cut applies at serve time from the
    * stored df — identical to cutting before the join (filter commutes
    * with the equi-join). */
  def bm25TopKServing(
      postings: DataFrame, docLen: DataFrame, stats: DataFrame,
      queries: DataFrame, k: Int = 5, buckets: Int = ServingBuckets): DataFrame = {
    val qb = queries.select(col("query_id"), col("term"))
      .withColumn("bucket",
        termBucket(col("term"), buckets).cast(postings.schema("bucket").dataType))
    postings.join(broadcast(qb), Seq("bucket", "term"))
      .crossJoin(broadcast(stats))
      .where(col("df") * DfCapShareOfN <= col("n"))
      .join(docLen, "doc_id")
      .withColumn("idf_micro",
        intDiv((col("n") * 2 - col("df") * 2 + 1) * 1000000L, col("df") * 2 + 1))
      .withColumn("__s",
        intDiv(col("idf_micro") * col("tf") * 22L * col("avgdl"),
          col("tf") * col("avgdl") * 10L + col("avgdl") * 3L + col("dl") * 9L))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("__s")).as("score_micro"))
      .withColumn("rnk",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(col("score_micro").desc, col("doc_id"))))
      .where(col("rnk") <= k)
      .select("query_id", "rnk", "doc_id", "score_micro")
  }

  /** Explicit schema of the persisted 1-row stats artifact. */
  private[graft] val statsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("n",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("avgdl",
      org.apache.spark.sql.types.LongType)))

  /** The DEFAULT serving search over a GENERATIONED layout root (holding
    * `postings/` + `doclen/` + `stats/` per generation — the 3-artifact
    * generation unit): resolves the CURRENT generation once through
    * [[graft.streaming.StateStream.statePath]], so a query can never
    * score new postings against old stats under a concurrent fold (the
    * ext_bm25_serving_grace_read contract as API shape; the
    * [[graft.ext.Dedup.minhashPairsServing]] convention). Raw artifact
    * frames ([[bm25TopKServing]]) remain the single-writer,
    * fold-quiesced opt-in. */
  def bm25TopKServingPinned(
      spark: org.apache.spark.sql.SparkSession,
      layoutRoot: String,
      queries: DataFrame,
      k: Int = 5, buckets: Int = ServingBuckets): DataFrame = {
    val gen = graft.streaming.StateStream.statePath(spark, layoutRoot)
    bm25TopKServing(
      bm25PostingsLayout.read(spark, s"$gen/postings"),
      bm25DocLen.read(spark, s"$gen/doclen"),
      spark.read.schema(statsSchema).parquet(s"$gen/stats"),
      queries, k, buckets)
  }

  /** IN-PLACE partial maintenance of the bucket-PARTITIONED serving
    * postings (the BM25 twin of
    * [[graft.ext.Similarity.ivfServingFold]]): a delta — revisions
    * (old+new rows), deletes (old only), inserts (new only) — rewrites
    * ONLY the buckets its terms live in. The key property making the fold
    * local: a term's postings live ENTIRELY in its [[termBucket]]
    * partition, so the denormalized per-term df is re-derivable from the
    * replacement content of the affected buckets alone — never a
    * corpus-wide recount. Affected buckets = buckets of the delta docs'
    * OLD terms (pre-delta text via pointed lookup — an index scan by
    * doc_id would read every bucket) ∪ their NEW terms.
    *
    * The doc-length table doubles as the DOC REGISTRY (dl = 0 for empty
    * docs) and is ITSELF a [[docBucket]]-partitioned layout folded like
    * the postings — anti-join + union confined to the delta ids'
    * buckets, so a micro-batch costs O(affected buckets) at 10⁹ docs,
    * never a registry-sized rewrite. (n, avgdl) derive WHOLLY from the
    * post-fold registry read back from disk, so every artifact of the
    * fold is replay-idempotent (a re-delivered batch lands on the
    * identical state; a carried n scalar would double-adjust on replayed
    * inserts/deletes — the count-min sum-merge lesson). Both layouts are
    * written through [[ServingLayout.rewrite]] (RetrievalSpec pins the
    * sweep and replay, including replay WITH deletes and inserts). */
  def bm25ServingFold(
      spark: org.apache.spark.sql.SparkSession,
      postingsPath: String,
      docLenPath: String,
      statsPath: String,
      oldDocs: DataFrame,
      newDocs: DataFrame,
      buckets: Int = ServingBuckets): Unit = {
    // the REGISTRY fold: the length table (one row per live doc, dl = 0
    // when no posting reaches it) is a dbucket-partitioned layout and the
    // delta ids' buckets are the only ones rewritten — deletes drop the
    // row, inserts add one. n/avgdl derive WHOLLY from the registry —
    // read back post-fold, a pure function of on-disk state.
    def foldDocLen(): Unit = {
      val newDl = newDocs.select(col("doc_id"))
        .join(bm25Postings(newDocs).groupBy("doc_id").agg(sum("tf").as("__dl")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("__dl"), lit(0L)).as("dl"),
          docBucket(col("doc_id"), buckets).as("dbucket"))
      bm25DocLen.fold(spark, docLenPath,
        oldDocs.select(col("doc_id"), docBucket(col("doc_id"), buckets).as("dbucket")),
        newDl)
      // reads docLenPath (final), writes statsPath — disjoint, no barrier
      statsFromDocLen(bm25DocLen.read(spark, docLenPath))
        .write.mode("overwrite").parquet(statsPath)
    }
    // the two artifacts touch disjoint paths — independent job chains,
    // overlapped (guide §2.6); stats stays ordered AFTER the registry
    // write inside its chain
    ServingLayout.inParallel(
      () => bm25PostingsFold(spark, postingsPath, oldDocs, newDocs, buckets),
      () => foldDocLen())
  }

  /** The postings layout's fold: the delta docs' old and new postings by
    * [[termBucket]], with df RE-DERIVED within the affected buckets
    * (bucket-local by the term→bucket purity; the new rows' df is a
    * placeholder). `post` runs over the re-derived slice and `swapHook`
    * is [[ServingLayout.rewrite]]'s — the crash seams of the fold's
    * fault-injection property. */
  private[graft] def bm25PostingsFold(
      spark: org.apache.spark.sql.SparkSession,
      postingsPath: String,
      oldDocs: DataFrame,
      newDocs: DataFrame,
      buckets: Int,
      post: DataFrame => DataFrame = identity,
      swapHook: ServingLayout.SwapHook = _ => ()): Unit = {
    def postings(docs: DataFrame): DataFrame = bm25Postings(docs)
      .withColumn("bucket", termBucket(col("term"), buckets))
    bm25PostingsLayout.fold(spark, postingsPath,
      postings(oldDocs), postings(newDocs).withColumn("df", lit(null).cast("long")),
      slice => post(slice.withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("term")))),
      swapHook)
  }

  /** E2-ret' — n-gram OVERLAP retrieval, the second lexical view for
    * hybrid fusion: corpus docs ranked per query by the count of distinct
    * word [[Dedup.ShingleLen]]-gram shingles shared with the query doc
    * (un-normalized set intersection — the candidate-scoring half of an
    * n-gram Jaccard join, shaped as retrieval). Same inverted-index +
    * df-pruned-hot-terms skeleton as [[bm25TopK]]; query side broadcast.
    */
  def overlapTopK(
      corpus: DataFrame,
      everyNth: Int = 100,
      residue: Int = 3,
      k: Int = 5): DataFrame = {
    // one explode+distinct, materialized — df, the query side and the
    // candidate join all consume the same doc-shingle index (see bm25TopK)
    val shd = corpus.select(col("doc_id"),
        explode(WordShingles.wordShingles(col("text"), Dedup.ShingleLen)).as("sh"))
      .distinct()
      .localCheckpoint(true)
    val n = corpus.agg(count(lit(1)).as("n"))
    val shdf = shd.groupBy("sh").agg(count(lit(1)).as("df"))
    val qsh = shd
      .where(col("doc_id") % everyNth === residue && col("doc_id") < DocFeed.ExactDupOffset)
      .select(col("doc_id").as("query_id"), col("sh"))
    shd
      .join(shdf, "sh")
      .crossJoin(broadcast(n))
      .where(col("df") * DfCapShareOfN <= col("n")) // stopword / hot-key cut
      .join(broadcast(qsh), Seq("sh"))
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("overlap"))
      .withColumn("rnk",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(col("overlap").desc, col("doc_id"))))
      .where(col("rnk") <= k)
      .select("query_id", "rnk", "doc_id", "overlap")
  }

  /** E2-ret'' — reciprocal-rank fusion (Cormack et al., SIGIR'09): the
    * standard hybrid-retrieval combinator. Each system contributes
    * `10⁶ div (kRrf + rank)` for documents it ranked (nothing otherwise);
    * fused order is the summed score desc, doc_id tiebreak. Pure
    * rank-space integer math — no score calibration across systems, no
    * floats — which is exactly why RRF is the production default for
    * fusing lexical + semantic rankings. Inputs are (query_id, doc_id,
    * rnk) frames; both are top-k-sized (queries × k rows), so the fusion
    * join is trivially small regardless of corpus scale.
    */
  def rrfFuse(sysA: DataFrame, sysB: DataFrame, k: Int = 5, kRrf: Int = 60): DataFrame = {
    def half(df: DataFrame, tag: String) =
      df.select(col("query_id"), col("doc_id"),
        TextOps.intDiv(lit(1000000L), col("rnk") + lit(kRrf.toLong)).as(s"__c_$tag"))
    half(sysA, "a")
      .join(half(sysB, "b"), Seq("query_id", "doc_id"), "full_outer")
      // (query_id, doc_id) is unique per side, so the join emits one row
      // per fused key — no aggregate needed, just null-fill the absent side
      .select(col("query_id"), col("doc_id"),
        (coalesce(col("__c_a"), lit(0L)) + coalesce(col("__c_b"), lit(0L))).as("rrf_micro"))
      .withColumn("rnk",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(col("rrf_micro").desc, col("doc_id"))))
      .where(col("rnk") <= k)
      .select("query_id", "rnk", "doc_id", "rrf_micro")
  }
}
