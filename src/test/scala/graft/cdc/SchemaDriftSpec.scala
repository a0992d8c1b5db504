package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** Pins the additive schema-drift contract (ChangeFeed.ordersDriftSpec) and
  * the point-in-time state reconstruction (StateMaintain.stateAsOf): a new
  * column_name appears mid-stream with ZERO sink DDL, and any historical
  * state version is recoverable from the same changelog.
  */
class SchemaDriftSpec extends AnyFunSuite with SparkFixture {

  private val cfg = CdcTableConfig("orders", Seq("o_orderkey"))

  /** Synthetic orders spanning both sides of DriftLsn (=700), with
    * m ∈ {2,3} update keys on each side. */
  private def ordersDf: DataFrame = {
    val s = spark
    import s.implicits._
    val keys = Seq(2L, 3L, 4L, 12L, 13L) ++ Seq(702L, 703L, 712L, 713L, 704L)
    keys.map(k => (k, k * 10, "O", 100.0 + k, ts("1994-06-01 00:00:00"), "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
  }

  private def driftChangelog: DataFrame =
    ChangelogBuilder.withIds(
      ChangelogBuilder.build(ChangeFeed.fromOrdersDrift(ordersDf), cfg), cfg)

  test("o_clerk rows appear ONLY for post-drift transactions") {
    val clerk = driftChangelog.where(col("column_name") === "o_clerk")
      .select(col("o_orderkey").cast("long")).collect().map(_.getLong(0)).toSet
    assert(clerk.nonEmpty, "post-drift updates must emit the new column")
    assert(clerk.forall(_ > ChangeFeed.DriftLsn),
      s"no o_clerk row may precede the drift LSN, got $clerk")
    // every post-drift m∈{2,3} key emits one
    assert(clerk == Set(702L, 703L, 712L, 713L))
  }

  test("drift changelog schema is identical to the non-drift changelog (no DDL)") {
    val plain = ChangelogBuilder.withIds(
      ChangelogBuilder.build(ChangeFeed.fromOrders(ordersDf), cfg), cfg)
    assert(driftChangelog.schema == plain.schema,
      "EAV absorbs the new column without any schema change")
  }

  test("pre-drift keys produce exactly the ordersSpec rows") {
    val pre = driftChangelog.where(col("o_orderkey").cast("long") <= ChangeFeed.DriftLsn)
    val cols = pre.select("column_name").where(col("column_name").isNotNull)
      .distinct().collect().map(_.getString(0)).toSet
    // m=4's update sets o_orderpriority to NULL — dropped by the default
    // inner pairing (UNPIVOT NULL-drop, SURVEY §7.5.1), so only the
    // m∈{2,3} columns surface pre-drift
    assert(cols == Set("o_orderstatus", "o_totalprice"))
  }

  test("stateAsOf at the feed's max commit time equals the full state fold") {
    val cl = driftChangelog
    val maxT = cl.agg(max("commit_time")).head().getTimestamp(0)
    val full = StateMaintain.stateLong(cl, Seq("o_orderkey"))
      .orderBy("o_orderkey", "column_name").collect()
    val asOf = StateMaintain.stateAsOf(cl, Seq("o_orderkey"), maxT)
      .orderBy("o_orderkey", "column_name").collect()
    assert(asOf.sameElements(full))
  }

  test("DROPPED column: era-2 feed lacks it, history keeps its EAV rows") {
    val o = ordersDf.unionByName(
      // m=6 keys on both sides of the drop: pre-drop keys emit a real
      // o_orderpriority update; post-drop keys must emit NOTHING (the
      // column their only branch updated no longer exists)
      ordersDf.limit(2).select(
        (col("o_orderkey") + 4).as("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority")))
    val feed2 = ChangeFeed.fromOrdersPostDrop(o)
    assert(!feed2.columns.contains("o_orderpriority"),
      "the era-2 feed schema IS the re-read sys.columns — five columns")
    val cl = ChangelogBuilder.withIds(
      ChangelogBuilder.build(ChangeFeed.fromOrdersPreDrop(o), cfg)
        .unionByName(ChangelogBuilder.build(feed2, cfg)), cfg)
    val prio = cl.where(col("column_name") === "o_orderpriority")
      .select(col("o_orderkey").cast("long")).collect().map(_.getLong(0))
    assert(prio.nonEmpty, "pre-drop m=6 updates must emit the column")
    assert(prio.forall(_ <= ChangeFeed.DropLsn),
      s"no o_orderpriority row may follow the drop, got ${prio.toSeq}")
  }

  test("TYPE change re-erases: era-2 o_totalprice renders integer, history keeps doubles") {
    val o = ordersDf
    val cl = ChangelogBuilder.withIds(
      ChangelogBuilder.build(ChangeFeed.fromOrdersPreType(o), cfg)
        .unionByName(ChangelogBuilder.build(ChangeFeed.fromOrdersPostType(o), cfg)), cfg)
    val tp = cl.where(col("column_name") === "o_totalprice")
      .select(col("o_orderkey").cast("long"), col("new_value")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val (era1, era2) = tp.partition(_._1 <= ChangeFeed.TypeChangeLsn)
    assert(era1.nonEmpty && era2.nonEmpty, "both eras must emit the column")
    assert(era1.forall(_._2.contains(".")),
      s"history keeps the DOUBLE rendering, got ${era1.take(3).toSeq}")
    assert(era2.forall(!_._2.contains(".")),
      s"post-change windows must re-erase under BIGINT, got ${era2.take(3).toSeq}")
  }

  test("RENAME keeps the ordinal and mask bit: both names emit, each only " +
      "in its own era, priority updates gate through the SAME bit") {
    val s = spark
    import s.implicits._
    // m=6 witnesses on BOTH sides of the rename boundary (6 pre, 706 post)
    val o = ordersDf.unionByName(
      Seq(6L, 706L).map(k =>
        (k, k * 10, "O", 100.0 + k, ts("1994-06-01 00:00:00"), "1-URGENT"))
        .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority"))
    val cl = ChangelogBuilder.withIds(
      ChangelogBuilder.build(ChangeFeed.fromOrdersPreDrop(o), cfg)
        .unionByName(ChangelogBuilder.build(ChangeFeed.fromOrdersPostRename(o), cfg)), cfg)
    def keysOf(name: String): Seq[Long] =
      cl.where(col("column_name") === name)
        .select(col("o_orderkey").cast("long")).collect().toSeq.map(_.getLong(0))
    val oldName = keysOf("o_orderpriority")
    val newName = keysOf("o_priority_class")
    assert(oldName.nonEmpty && newName.nonEmpty, "both eras must witness the column")
    assert(oldName.forall(_ <= ChangeFeed.RenameLsn),
      s"history keeps the OLD name only, got ${oldName.toSeq}")
    assert(newName.forall(_ > ChangeFeed.RenameLsn),
      s"post-rename windows erase the NEW name only, got ${newName.toSeq}")
  }

  test("drop-then-resume across a sink HWM equals the one-shot era union") {
    val s = spark
    val o = ordersDf
    val sink = graft.TempDirs.create("graft_dropres")
      .resolve("orders_changelog").toString
    val far = java.sql.Timestamp.valueOf("1996-01-01 00:00:00")
    // window 1: the six-column era, populated to the sink
    StagedAppend.run(s, ChangeFeed.fromOrdersPreDrop(o), cfg, sink, Some(far))
    // window 2: the populate RESUMES from the sink HWM with the re-read
    // five-column feed — no DDL, no migration, the column just stops
    StagedAppend.run(s, ChangeFeed.fromOrdersPostDrop(o), cfg, sink, Some(far))
    val resumed = SinkLayout.read(s, sink)
      .select("changelog_id", "commit_time", "table_name", "o_orderkey",
        "column_name", "old_value", "new_value")
      .orderBy("changelog_id").collect()
    val oneShot = ChangelogBuilder.withIds(
      ChangelogBuilder.build(ChangeFeed.fromOrdersPreDrop(o), cfg)
        .unionByName(ChangelogBuilder.build(ChangeFeed.fromOrdersPostDrop(o), cfg)), cfg)
      .select("changelog_id", "commit_time", "table_name", "o_orderkey",
        "column_name", "old_value", "new_value")
      .orderBy("changelog_id").collect()
    assert(resumed.nonEmpty && resumed.sameElements(oneShot),
      "HWM-offset per-window ids must equal the global era-union assignment")
  }

  test("stateAsOf at an early bound excludes all later transactions") {
    val cl = driftChangelog
    // bound between the two key groups: lsn seconds => key 704 commits at
    // base + 704s; pick the instant just after the pre-drift group
    val bound = ts("1995-01-01 00:01:00") // 60s: covers keys <= 60 only
    val st = StateMaintain.stateAsOf(cl, Seq("o_orderkey"), bound)
    val keys = st.select(col("o_orderkey").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(keys.forall(_ <= 60L), s"unexpected post-bound keys: $keys")
    assert(keys.nonEmpty)
  }
}
