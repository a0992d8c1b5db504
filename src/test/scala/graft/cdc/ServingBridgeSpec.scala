package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** Pins the CDC→serving bridge's point-in-time CORRECTNESS: for every
  * request, the stateless episode range join must return exactly what the
  * as-of state fold ([[StateMaintain.stateAsOf]]) says the column was at
  * that instant — including the empty-interval shadowing of same-commit-
  * time double updates and NULL before a key's first episode.
  */
class ServingBridgeSpec extends AnyFunSuite with SparkFixture {

  private val cfg = CdcTableConfig("orders", Seq("o_orderkey"))

  private def ordersDf: DataFrame = {
    val s = spark
    import s.implicits._
    // m-classes: 2/3 (one status episode), 5 (same-commit-time double
    // update — the empty-interval edge), 7 (pk-bit update), 0/1
    // (sentinel-only: no episodes at all)
    val keys = Seq(2L, 3L, 5L, 7L, 10L, 11L, 12L, 15L, 25L)
    keys.map(k => (k, k * 10, "O", 100.0 + k, ts("1994-06-01 00:00:00"), "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
  }

  private def changelog: DataFrame =
    ChangelogBuilder.withIds(
      ChangelogBuilder.build(ChangeFeed.fromOrders(ordersDf), cfg), cfg)

  test("episode lookup equals stateAsOf for every key at every episode boundary") {
    val cl = changelog.localCheckpoint(true)
    val eps = ServingBridge.timedEpisodes(cl, "o_orderkey", "o_orderstatus")
    // probe every key at instants: before anything, at/after each commit
    val keys = Seq(2L, 3L, 5L, 7L, 10L, 12L, 25L)
    val instants = Seq(0L, 1L) ++ keys // offsets in changelog seconds
    val s = spark
    import s.implicits._
    val requests = (for {
      k <- keys; t <- instants
    } yield (k * 1000 + t, k, ServingBridge.BaseEpochS + t))
      .toDF("event_id", "serve_key", "serve_s")
    val served = ServingBridge.enrichAsOf(requests, eps)
      .collect().map(r => (r.getLong(0), Option(r.getString(3)))).toMap
    for { k <- keys; t <- instants } {
      val asOf = StateMaintain.stateAsOf(cl, Seq("o_orderkey"),
          new java.sql.Timestamp((ServingBridge.BaseEpochS + t) * 1000L))
        .where(col("o_orderkey") === k.toString && col("column_name") === "o_orderstatus")
        .collect().headOption.map(_.getString(2))
      assert(served(k * 1000 + t) == asOf,
        s"key $k at offset $t: served ${served(k * 1000 + t)}, stateAsOf $asOf")
    }
  }

  test("the declared episodesSchema pins timedEpisodes + keyBucket's " +
      "analyzed schema (fold/compact reads never footer-infer)") {
    val eps = ServingBridge.timedEpisodes(changelog, "o_orderkey", "o_orderstatus")
      .withColumn("bucket", ServingBridge.keyBucket(col("serve_key")))
    assert(
      eps.schema.fields.map(f => (f.name, f.dataType)).sortBy(_._1).toSeq ==
        ServingBridge.episodeStore.schema.fields.map(f => (f.name, f.dataType))
          .sortBy(_._1).toSeq,
      s"episodesSchema drifted from timedEpisodes: ${eps.schema} vs " +
        s"${ServingBridge.episodeStore.schema}")
  }

  test("over-limit episode tables degrade to a shuffled serve_key equi-join " +
      "with identical results") {
    val cl = changelog.localCheckpoint(true)
    val eps = ServingBridge.timedEpisodes(cl, "o_orderkey", "o_orderstatus")
    val s = spark
    import s.implicits._
    val keys = Seq(2L, 3L, 5L, 7L, 10L, 25L)
    val requests = (for { k <- keys; t <- 0L to 12L }
      yield (k * 100 + t, k, ServingBridge.BaseEpochS + t))
      .toDF("event_id", "serve_key", "serve_s")
    val fast = ServingBridge.enrichAsOf(requests, eps)
    val slow = ServingBridge.enrichAsOf(requests, eps, broadcastLimit = 0L)
    val slowPlan = slow.queryExecution.executedPlan.toString
    assert(!slowPlan.contains("BroadcastHashJoin") &&
        !slowPlan.contains("BroadcastNestedLoopJoin"),
      "above the gate the episode side must NOT broadcast")
    assert(slowPlan.contains("SortMergeJoin") || slowPlan.contains("ShuffledHashJoin"),
      "the fallback must still be an equi-join on serve_key, not a loop join")
    val key = (df: DataFrame) => df.collect()
      .map(r => (r.getLong(0), Option(r.getString(3)), Option(r.get(4)))).toSet
    assert(key(fast) == key(slow),
      "broadcast and shuffled strategies must serve identical episodes")
  }

  test("multi-feature read equals per-feature single reads at one consistent instant") {
    val cl = changelog.localCheckpoint(true)
    val epsS = ServingBridge.timedEpisodes(cl, "o_orderkey", "o_orderstatus")
    val epsP = ServingBridge.timedEpisodes(cl, "o_orderkey", "o_totalprice")
    val s = spark
    import s.implicits._
    val keys = Seq(2L, 3L, 5L, 7L, 10L, 25L)
    val requests = (for { k <- keys; t <- 0L to 10L }
      yield (k * 100 + t, k, ServingBridge.BaseEpochS + t))
      .toDF("event_id", "serve_key", "serve_s")
    val multi = ServingBridge.enrichAsOfMany(requests,
        Seq("status" -> epsS, "price" -> epsP))
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(3)), Option(r.get(4))), (Option(r.get(5)), Option(r.get(6))))).toMap
    def single(eps: DataFrame) = ServingBridge.enrichAsOf(requests, eps)
      .collect().map(r => r.getLong(0) -> ((Option(r.get(3)), Option(r.get(4))))).toMap
    val st = single(epsS)
    val pr = single(epsP)
    for (id <- multi.keys) {
      assert(multi(id)._1 == st(id), s"status feature drifted for $id")
      assert(multi(id)._2 == pr(id), s"price feature drifted for $id")
    }
    // m=5 keys update o_orderstatus but never o_totalprice: status present,
    // price NULL — per-feature sparsity, not staleness
    val late5 = multi(5L * 100 + 10)
    assert(late5._1._1.isDefined && late5._2._1.isEmpty)
  }

  test("each request matches AT MOST one episode (the intervals partition time)") {
    val cl = changelog
    val eps = ServingBridge.timedEpisodes(cl, "o_orderkey", "o_orderstatus")
    val s = spark
    import s.implicits._
    val requests = (1L to 30L).map(t => (t, 5L, ServingBridge.BaseEpochS + t))
      .toDF("event_id", "serve_key", "serve_s")
    val n = ServingBridge.enrichAsOf(requests, eps)
      .groupBy("event_id").count().agg(max("count")).head().getLong(0)
    assert(n == 1L, s"the [from, to) intervals must be disjoint, got fan-out $n")
  }

  test("subject forget serves NULL for the subject (never a stale value) and " +
      "leaves every other key's reads byte-identical") {
    val cl = changelog.localCheckpoint(true)
    val eps = ServingBridge.timedEpisodes(cl, "o_orderkey", "o_orderstatus")
    val s = spark
    import s.implicits._
    val subjects = Seq(3L).toDF("serve_key")
    val purged = ServingBridge.forgetEpisodes(eps, subjects)
    assert(purged.where($"serve_key" === 3L).count() == 0,
      "the subject's episodes must be gone from the store")
    val requests = Seq(
      (1L, 3L, ServingBridge.BaseEpochS + 100L), // subject, mid-history
      (2L, 2L, ServingBridge.BaseEpochS + 100L)) // bystander, same instant
      .toDF("event_id", "serve_key", "serve_s")
    val before = ServingBridge.enrichAsOf(requests, eps)
      .collect().map(r => r.getLong(0) -> Option(r.getString(3))).toMap
    assert(before(1L).nonEmpty, "the subject must have been servable pre-forget")
    val after = ServingBridge.enrichAsOf(requests, purged)
      .collect().map(r => r.getLong(0) -> Option(r.getString(3))).toMap
    assert(after(1L).isEmpty, "the subject must serve NULL, never a stale value")
    assert(after(2L) == before(2L), "bystander reads must be untouched")
  }

  test("retention purges ended episodes, is invisible to in-contract reads, " +
      "and visibly forgets for out-of-contract ones") {
    val cl = changelog.localCheckpoint(true)
    val eps = ServingBridge.timedEpisodes(cl, "o_orderkey", "o_orderstatus")
      .localCheckpoint(true)
    val s = spark
    import s.implicits._
    // horizon past every commit (max key 25 → commits ≤ base+25s): every
    // CLOSED episode ends at-or-before it and is purged; open ones stay
    val h = Seq(ServingBridge.BaseEpochS + 30L).toDF("__h")
    val retained = ServingBridge.retainEpisodes(eps, h).localCheckpoint(true)
    val closed = eps.where(col("valid_to_s").isNotNull).count()
    assert(closed > 0, "fixture must produce closed episodes")
    assert(retained.count() == eps.count() - closed)
    assert(retained.where(col("valid_to_s").isNotNull).count() == 0)
    // in-contract requests (>= horizon): identical answers from either store
    val inReq = Seq(2L, 3L, 5L, 7L, 10L).map(k =>
        (k, k, ServingBridge.BaseEpochS + 40L))
      .toDF("event_id", "serve_key", "serve_s")
    def served(e: DataFrame) = ServingBridge.enrichAsOf(inReq, e)
      .collect().map(r => r.getLong(0) -> Option(r.getString(3))).toMap
    assert(served(retained) == served(eps))
    // out-of-contract (before the horizon): a read inside a purged CLOSED
    // episode changes — which is WHY the contract excludes it (the orders
    // fixture has one commit per key, so closed non-empty episodes need a
    // hand-built timeline: A over [1, 5), B over [5, ∞))
    val eps2 = Seq(
      (1L, "A", 1L, ServingBridge.BaseEpochS + 1L, Option(ServingBridge.BaseEpochS + 5L)),
      (1L, "B", 2L, ServingBridge.BaseEpochS + 5L, None: Option[Long]))
      .toDF("serve_key", "status_asof", "ep_id", "valid_from_s", "valid_to_s")
    val ret2 = ServingBridge.retainEpisodes(eps2, h)
    val outReq = Seq((99L, 1L, ServingBridge.BaseEpochS + 2L))
      .toDF("event_id", "serve_key", "serve_s")
    assert(ServingBridge.enrichAsOf(outReq, eps2).head().getString(3) == "A")
    assert(ServingBridge.enrichAsOf(outReq, ret2).head().isNullAt(3),
      "an out-of-contract read must observe the purge")
  }

  test("in-place episode-store fold: appended window closes open episodes " +
      "like a rebuild, untouched buckets keep their bytes, replay repairs") {
    val s = spark
    import s.implicits._
    import java.nio.file.{Files, Paths}
    val B = 8
    // hand-made episode timelines: key 1 (bucket 1) has a closed + an open
    // episode; key 2 (bucket 2) has one open episode and is NOT in the
    // delta — its bucket must keep its bytes
    val stored0 = Seq(
      (1L, "O", 10L, 100L, Option(200L)),
      (1L, "A", 11L, 200L, None),
      (2L, "O", 12L, 150L, None))
      .toDF("serve_key", "status_asof", "ep_id", "valid_from_s", "valid_to_s")
      .withColumn("bucket", ServingBridge.keyBucket($"serve_key", B))
    val path = graft.TempDirs.create("graft_epsfold_t").resolve("eps").toString
    stored0.repartition(col("bucket")).write.partitionBy("bucket").parquet(path)
    def files(b: Long): Map[String, Long] =
      Files.list(Paths.get(path, s"bucket=$b")).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .map(p => p.getFileName.toString -> Files.getLastModifiedTime(p).toMillis)
        .toMap
    val bucket2Before = files(2L)
    // window 2: key 1 gains two later episodes (ids continue past stored)
    val w2 = Seq((1L, "B", 20L, 300L), (1L, "F", 21L, 350L))
      .toDF("serve_key", "status_asof", "ep_id", "valid_from_s")
    ServingBridge.episodesServingFold(s, path, w2, buckets = B)
    def rows(): Set[(Long, String, Long, Long, Option[Long])] =
      s.read.parquet(path)
        .select($"serve_key", $"status_asof", $"ep_id", $"valid_from_s", $"valid_to_s")
        .as[(Long, String, Long, Long, Option[Long])].collect().toSet
    val expected = Set(
      (1L, "O", 10L, 100L, Some(200L)),
      (1L, "A", 11L, 200L, Some(300L)), // the stored OPEN episode closed
      (1L, "B", 20L, 300L, Some(350L)),
      (1L, "F", 21L, 350L, None),       // the new open end
      (2L, "O", 12L, 150L, None))       // untouched key carried over
    assert(rows() == expected, s"fold must equal a rebuilt timeline, got ${rows()}")
    assert(files(2L) == bucket2Before,
      "a bucket outside the delta's keys must keep its bytes on disk")
    // replay: the batch's ep_ids anti-join out of the stored side first,
    // so a re-delivered window lands on the identical state
    ServingBridge.episodesServingFold(s, path, w2, buckets = B)
    assert(rows() == expected, "a replayed fold must land on the identical state")
    val stages = Files.list(Paths.get(path)).toArray
      .map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
      .filter(_.startsWith("_stage"))
    assert(stages.isEmpty, s"a successful fold leaves no stage: ${stages.toSeq}")
  }
}
