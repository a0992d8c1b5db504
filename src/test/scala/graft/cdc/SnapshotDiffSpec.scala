package graft.cdc

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** Snapshot-diff semantics (per-column EAV rows + record sentinels) and
  * the retention sweep's partition-level contract. */
class SnapshotDiffSpec extends AnyFunSuite with SparkFixture {

  private def snap(rows: Seq[(Long, String, String)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("k", "a", "b")
  }

  test("diff classifies updates per column, inserts and deletes as sentinels") {
    val before = snap(Seq((1L, "x", "y"), (2L, "p", "q"), (3L, "gone", "gone")))
    val after = snap(Seq((1L, "x", "Y2"), (2L, "p", "q"), (4L, "new", "new")))
    val d = SnapshotDiff.diff(before, after, Seq("k"), Seq("a", "b"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet
    assert(d == Set(
      ("1", "b", "y", "Y2"),                       // changed column only
      ("3", null, "DELETED RECORD", null),         // delete sentinel
      ("4", null, null, "NEW RECORD")))            // insert sentinel
  }

  test("NULL transitions are changes; NULL→NULL is not") {
    val before = snap(Seq((1L, null, "v"), (2L, null, null)))
    val after = snap(Seq((1L, "now", null), (2L, null, "set")))
    val d = SnapshotDiff.diff(before, after, Seq("k"), Seq("a", "b"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet
    assert(d == Set(
      ("1", "a", null, "now"),
      ("1", "b", "v", null),
      ("2", "b", null, "set")))
  }

  private val cfg = CdcTableConfig("orders", Seq("k"))

  private def multiDayFeed = feedKV(Seq(
    (1L, 0L, 2, 3L, "1995-01-01 08:00:00", "a", "x"),
    (2L, 0L, 2, 3L, "1995-01-02 08:00:00", "b", "y"),
    (3L, 0L, 2, 3L, "1995-01-03 08:00:00", "c", "z"),
    (4L, 0L, 1, 3L, "1995-01-04 08:00:00", "a", "x")))

  test("applyDiff round-trips: diff(before, after) applied to before = after") {
    val before = snap(Seq((1L, "x", "y"), (2L, "p", "q"), (3L, "gone", "gone"),
      (5L, null, "n")))
    val after = snap(Seq((1L, "x", "Y2"), (2L, "p", null), (4L, "new", "new"),
      (5L, "set", "n")))
    val d = SnapshotDiff.diff(before, after, Seq("k"), Seq("a", "b"))
    val rebuilt = ApplyChanges.applyDiff(before, d, Seq("k"), Seq("a", "b"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    // inserted key 4 reconstructs with NULL payloads (the NEW RECORD
    // sentinel carries no values); everything else matches `after` exactly
    assert(rebuilt == Set(
      ("1", "x", "Y2"),
      ("2", "p", null),
      ("5", "set", "n"),
      ("4", null, null)))
  }

  test("applyDiff of an empty diff is the identity on the erased base") {
    val before = snap(Seq((1L, "x", "y"), (2L, "p", null)))
    val d = SnapshotDiff.diff(before, before, Seq("k"), Seq("a", "b"))
    val rebuilt = ApplyChanges.applyDiff(before, d, Seq("k"), Seq("a", "b"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(rebuilt == Set(("1", "x", "y"), ("2", "p", null)))
  }

  test("retention drops only partitions strictly before the cutoff day") {
    val path = Files.createTempDirectory("graft_ret").resolve("orders_changelog").toString
    StagedAppend.run(spark, multiDayFeed, cfg, path, Some(ts("1995-01-05 00:00:00")))
    val dropped = Retention.expire(spark, path, java.time.LocalDate.parse("1995-01-03"))
    assert(dropped == Seq(java.time.LocalDate.parse("1995-01-01"),
      java.time.LocalDate.parse("1995-01-02")))
    val left = SinkLayout.read(spark, path)
    // boundary day (Jan 3) retained whole; ids untouched (3, 4 survive)
    assert(left.select("changelog_id").collect().map(_.getLong(0)).toSet == Set(3L, 4L))
    // idempotent: nothing more to drop
    assert(Retention.expire(spark, path, java.time.LocalDate.parse("1995-01-03")).isEmpty)
  }

  test("a reader planned before expire survives one retention grace cycle") {
    val path = Files.createTempDirectory("graft_retg").resolve("orders_changelog").toString
    StagedAppend.run(spark, multiDayFeed, cfg, path, Some(ts("1995-01-05 00:00:00")))
    // this reader resolves AND lists files now — the pre-retention snapshot
    val planned = SinkLayout.read(spark, path)
    val cutoff = java.time.LocalDate.parse("1995-01-03")
    // phase 1: Jan 1–2 leave the logical table but stay on disk
    assert(Retention.expire(spark, path, cutoff) ==
      Seq(java.time.LocalDate.parse("1995-01-01"), java.time.LocalDate.parse("1995-01-02")))
    assert(planned.count() == 4, "planned reader keeps its files through the flip")
    val fs = SinkLayout.fs(spark, path)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      SinkLayout.dataDir(spark, path), "commit_date=1995-01-01")),
      "expired dirs persist for one grace cycle")
    // new reads partition-prune the expired days immediately
    assert(SinkLayout.read(spark, path).select("changelog_id")
      .collect().map(_.getLong(0)).toSet == Set(3L, 4L))
    // phase 2: the NEXT cycle sweeps what the previous one hid
    assert(Retention.expire(spark, path, cutoff).isEmpty)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      SinkLayout.dataDir(spark, path), "commit_date=1995-01-01")),
      "past-grace dirs are physically deleted")
    assert(SinkLayout.read(spark, path).select("changelog_id")
      .collect().map(_.getLong(0)).toSet == Set(3L, 4L))
    // the cutoff never moves backward: a lagging caller cannot resurrect
    assert(Retention.expire(spark, path, java.time.LocalDate.parse("1995-01-02")).isEmpty)
    assert(SinkLayout.read(spark, path).count() == 2)
  }

  test("compaction drops expired days from the repack; grace copy keeps them") {
    val path = Files.createTempDirectory("graft_retc").resolve("orders_changelog").toString
    StagedAppend.run(spark, multiDayFeed, cfg, path, Some(ts("1995-01-05 00:00:00")))
    Retention.expire(spark, path, java.time.LocalDate.parse("1995-01-03"))
    Compact.compactSink(spark, path)
    val fs = SinkLayout.fs(spark, path)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      SinkLayout.dataDir(spark, path), "commit_date=1995-01-01")),
      "the repacked version must not carry expired days forward")
    assert(SinkLayout.read(spark, path).select("changelog_id")
      .collect().map(_.getLong(0)).toSet == Set(3L, 4L))
  }

  test("retention resolves through the version pointer on a compacted sink") {
    val path = Files.createTempDirectory("graft_retv").resolve("orders_changelog").toString
    StagedAppend.run(spark, multiDayFeed, cfg, path, Some(ts("1995-01-05 00:00:00")))
    Compact.compactSink(spark, path)
    val dropped = Retention.expire(spark, path, java.time.LocalDate.parse("1995-01-04"))
    assert(dropped.size == 3)
    assert(SinkLayout.read(spark, path).select("changelog_id")
      .collect().map(_.getLong(0)).toSet == Set(4L))
  }

  test("mask stats count updates and distinct keys per column, zeros included") {
    // two update txns on k=a touching v (bit 1), one touching k (bit 0)
    val feed = feedKV(Seq(
      (1L, 0L, 3, 2L, "1995-01-01 08:00:00", "a", "v0"),
      (1L, 0L, 4, 2L, "1995-01-01 08:00:00", "a", "v1"),
      (2L, 0L, 3, 2L, "1995-01-01 09:00:00", "a", "v1"),
      (2L, 0L, 4, 2L, "1995-01-01 09:00:00", "a", "v2"),
      (3L, 0L, 3, 1L, "1995-01-01 10:00:00", "b", "w"),
      (3L, 0L, 4, 1L, "1995-01-01 10:00:00", "b", "w")))
    val stats = MaskStats.perColumn(feed, cfg)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(stats("v") == ((2L, 1L)), "two update txns, one distinct key")
    assert(stats("k") == ((1L, 1L)), "the PK-bit update")
  }
}
