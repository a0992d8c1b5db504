package graft.cdc

import java.time.LocalDate

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** Pins the partition-backfill contract: a dropped commit_date partition
  * re-created from the feed is BYTE-identical to what was lost (ids
  * included), the repair refuses to double-append over a live partition,
  * and healthy partitions' files are never rewritten.
  */
class RepairSpec extends AnyFunSuite with SparkFixture {

  private val cfg = CdcTableConfig("orders", Seq("k"))

  // three days of feed, two txns each (insert + paired update)
  private def feedDf = feedKV((1 to 3).flatMap { d =>
    Seq(
      (d * 10L, 0L, 2, 3L, s"1995-01-0$d 08:00:00", s"a$d", "x"),
      (d * 10 + 1L, 0L, 3, 2L, s"1995-01-0$d 09:00:00", s"b$d", s"v$d"),
      (d * 10 + 1L, 0L, 4, 2L, s"1995-01-0$d 09:00:00", s"b$d", s"w$d"))
  })

  private val cols = Seq("changelog_id", "commit_time", "table_name", "k",
    "column_name", "old_value", "new_value")

  test("drop + repairDay reproduces the lost partition byte-for-byte, mid-history") {
    val base = java.nio.file.Files.createTempDirectory("graft_repair_spec")
    val sink = base.resolve("log").toString
    StagedAppend.run(spark, feedDf, cfg, sink, Some(ts("1996-01-01 00:00:00")))
    val healthy = SinkLayout.read(spark, sink).select(cols.map(col): _*).collect().toSet
    // note the mtimes of the OTHER days' files — repair must not touch them
    val dataDir = new java.io.File(SinkLayout.dataDir(spark, sink))
    def otherMtimes = dataDir.listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("commit_date=")
        && f.getName != "commit_date=1995-01-02")
      .flatMap(_.listFiles()).map(f => f.getPath -> f.lastModified()).toMap
    val before = otherMtimes

    val day = LocalDate.parse("1995-01-02")
    assert(Repair.dropDayPartition(spark, sink, day))
    assert(SinkLayout.read(spark, sink).count() < healthy.size,
      "the drill must actually lose rows")
    val n = Repair.repairDay(spark, feedDf, cfg, sink, day)
    assert(n == 2, "insert sentinel + one update pair on the damaged day")
    val repaired = SinkLayout.read(spark, sink).select(cols.map(col): _*).collect().toSet
    assert(repaired == healthy, "repair must restore rows AND ids exactly")
    assert(otherMtimes == before, "healthy partitions' files must not be rewritten")
  }

  test("repairDay refuses a still-live partition (no double ids)") {
    val base = java.nio.file.Files.createTempDirectory("graft_repair_live")
    val sink = base.resolve("log").toString
    StagedAppend.run(spark, feedDf, cfg, sink, Some(ts("1996-01-01 00:00:00")))
    val e = intercept[IllegalArgumentException] {
      Repair.repairDay(spark, feedDf, cfg, sink, LocalDate.parse("1995-01-02"))
    }
    assert(e.getMessage.contains("drop it before repairing"))
  }

  test("the newest day refuses without originalHwm and repairs exactly with it " +
      "(an intra-day HWM must bound the window)") {
    val base = java.nio.file.Files.createTempDirectory("graft_repair_hwm")
    val sink = base.resolve("log").toString
    // populate stopped MID-day-3: the 08:00 insert is in, the 09:00 pair is not
    val hwm = ts("1995-01-03 08:30:00")
    StagedAppend.run(spark, feedDf, cfg, sink, Some(hwm))
    val healthy = SinkLayout.read(spark, sink).select(cols.map(col): _*).collect().toSet
    val day = LocalDate.parse("1995-01-03")
    assert(Repair.dropDayPartition(spark, sink, day))
    // surviving HWM now sits on day 2 — the guard must refuse a blind repair
    val e = intercept[IllegalArgumentException] {
      Repair.repairDay(spark, feedDf, cfg, sink, day)
    }
    assert(e.getMessage.contains("originalHwm"))
    // with the recorded populate HWM the repair re-creates ONLY the rows the
    // last populate reached — not the 09:00 feed rows past the HWM
    Repair.repairDay(spark, feedDf, cfg, sink, day, originalHwm = Some(hwm))
    val repaired = SinkLayout.read(spark, sink).select(cols.map(col): _*).collect().toSet
    assert(repaired == healthy,
      "newest-day repair at the recorded HWM must restore rows AND ids exactly")
  }

  test("after retention the offset is the visible max id on earlier days, not their count") {
    val base = java.nio.file.Files.createTempDirectory("graft_repair_ret")
    val sink = base.resolve("log").toString
    StagedAppend.run(spark, feedDf, cfg, sink, Some(ts("1996-01-01 00:00:00")))
    val hwm = Checkpoint.sinkState(spark, sink).get._1
    Retention.expire(spark, sink, LocalDate.parse("1995-01-02"))
    val healthy = SinkLayout.read(spark, sink).select(cols.map(col): _*).collect().toSet
    assert(healthy.map(_.getLong(0)) == Set(3L, 4L, 5L, 6L))
    // day 3 is the newest: its window end needs the recorded HWM
    val day = LocalDate.parse("1995-01-03")
    assert(Repair.dropDayPartition(spark, sink, day))
    Repair.repairDay(spark, feedDf, cfg, sink, day, originalHwm = Some(hwm))
    val repaired = SinkLayout.read(spark, sink).select(cols.map(col): _*).collect().toSet
    assert(repaired == healthy, "day 3 must get ids 5 and 6 back, not day 2's 3 and 4")
  }

  test("repairDay refuses when the retention cutoff hides every earlier row") {
    val base = java.nio.file.Files.createTempDirectory("graft_repair_cut")
    val sink = base.resolve("log").toString
    StagedAppend.run(spark, feedDf, cfg, sink, Some(ts("1996-01-01 00:00:00")))
    Retention.expire(spark, sink, LocalDate.parse("1995-01-02"))
    val day = LocalDate.parse("1995-01-02")
    assert(Repair.dropDayPartition(spark, sink, day))
    val e = intercept[IllegalArgumentException] {
      Repair.repairDay(spark, feedDf, cfg, sink, day)
    }
    assert(e.getMessage.contains("retention cutoff 1995-01-02"), e.getMessage)
  }
}
