package graft.cdc

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** Pins the incremental-window contract (usp_cdc_populate_changelog
  * .sql:192-253): first-run/resume boundaries, the compat +1-minute skip,
  * validation error fidelity, and sink-state edge cases.
  */
class CheckpointSpec extends AnyFunSuite with SparkFixture {

  private def feed3 = feedKV(Seq(
    (1L, 0L, 2, 3L, "1995-01-01 00:00:10", "a", "x"),
    (2L, 0L, 2, 3L, "1995-01-01 00:00:40", "b", "y"), // same minute as lsn 1
    (3L, 0L, 2, 3L, "1995-01-02 00:00:00", "c", "z")))

  test("first run takes everything up to to_date inclusive") {
    val w = Checkpoint.computeWindow(None, Some(ts("1995-01-01 12:00:00")), compatMode = false)
    assert(w.fromTime.isEmpty)
    val got = Checkpoint.applyWindow(feed3, w).select("start_lsn").collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L))
  }

  test("default resume is lossless: strictly greater than the exact HWM") {
    val sink = Some((ts("1995-01-01 00:00:10"), 5L))
    val w = Checkpoint.computeWindow(sink, Some(ts("1995-01-03 00:00:00")), compatMode = false)
    assert(w.fromExclusive)
    val got = Checkpoint.applyWindow(feed3, w).select("start_lsn").collect().map(_.getLong(0)).toSet
    assert(got == Set(2L, 3L), "the 00:00:40 change in the same minute is NOT skipped")
  }

  test("compat resume = HWM + 1 minute, permanently skipping sub-minute changes (:203)") {
    val sink = Some((ts("1995-01-01 00:00:10"), 5L))
    val w = Checkpoint.computeWindow(sink, Some(ts("1995-01-03 00:00:00")), compatMode = true)
    assert(!w.fromExclusive)
    assert(w.fromTime.contains(ts("1995-01-01 00:01:10")))
    val got = Checkpoint.applyWindow(feed3, w).select("start_lsn").collect().map(_.getLong(0)).toSet
    assert(got == Set(3L), "lsn 2 (same minute as the HWM) is lost — the reference's bug, pinned")
  }

  test("to_date before the checkpoint raises the reference's message (:217-223)") {
    val sink = Some((ts("1995-01-02 00:00:00"), 5L))
    val e = intercept[CdcValidationException] {
      Checkpoint.computeWindow(sink, Some(ts("1995-01-01 00:00:00")), compatMode = false)
    }
    assert(e.getMessage ==
      "The to date: 1995-01-01 00:00:00.0 is less than the from date: 1995-01-02 00:00:00.0 that was last used to append the data!")
  }

  test("to_date before the feed's min LSN time raises (:225-229)") {
    val e = intercept[CdcValidationException] {
      Checkpoint.checkMinLsn(feed3, Checkpoint.computeWindow(None, Some(ts("1994-12-31 00:00:00")),
        compatMode = false).toTime)
    }
    assert(e.getMessage ==
      "The to date: 1994-12-31 00:00:00.0 is less than the minimum lsn date: 1995-01-01 00:00:10.0 available in the cdc data!")
  }

  test("sinkState: missing dir and existing-but-empty dir both mean first run") {
    val missing = Files.createTempDirectory("graft_cp").resolve("never_written").toString
    assert(Checkpoint.sinkState(spark, missing).isEmpty)
    val empty = Files.createTempDirectory("graft_cp_empty").toString
    assert(Checkpoint.sinkState(spark, empty).isEmpty,
      "a dir left by an aborted write must not wedge the table")
  }

  test("sinkState reads HWM and max id back from a real sink") {
    val dir = Files.createTempDirectory("graft_cp_sink").resolve("log").toString
    val s = spark
    import s.implicits._
    Seq((ts("1995-01-05 00:00:00"), 7L), (ts("1995-01-06 00:00:00"), 9L))
      .toDF("commit_time", "changelog_id").write.parquet(dir)
    assert(Checkpoint.sinkState(spark, dir).contains((ts("1995-01-06 00:00:00"), 9L)))
  }

  test("a populate over a sink without a commit record migrates it once; " +
      "the next batch reads the record and scans no sink") {
    val dir = Files.createTempDirectory("graft_cp_legacy").resolve("log").toString
    val s = spark
    import s.implicits._
    // a sink written before the record existed
    Seq((ts("1995-01-05 00:00:00"), 7L), (ts("1995-01-06 00:00:00"), 9L))
      .toDF("commit_time", "changelog_id").write.parquet(dir)
    assert(Checkpoint.record(spark, dir).isEmpty)
    val cfg = CdcTableConfig("orders", Seq("k"))
    val feed = feedKV(Seq(
      (10L, 0L, 2, 3L, "1995-01-07 08:00:00", "a", "x"),
      (11L, 0L, 2, 3L, "1995-01-08 08:00:00", "b", "y")))
    def fromCheckpoint(sites: Seq[String]) = sites.filter(_.contains("graft.cdc.Checkpoint$"))
    var first = 0L
    val migrating = executionSitesOf {
      first = StagedAppend.run(spark, feed, cfg, dir, Some(ts("1995-01-07 12:00:00"))).rowsInserted
    }
    assert(first == 1L && fromCheckpoint(migrating).size == 1,
      s"the first batch migrates with one scan: $migrating")
    assert(Checkpoint.record(spark, dir).flatMap(Checkpoint.stateOf)
      .contains((ts("1995-01-07 08:00:00"), 10L)), "ids continue from the scanned max")
    var second = 0L
    val resumed = executionSitesOf {
      second = StagedAppend.run(spark, feed, cfg, dir, Some(ts("1995-01-09 00:00:00"))).rowsInserted
    }
    assert(second == 1L && fromCheckpoint(resumed).isEmpty,
      s"the migrated sink's next batch runs no sink scan: $resumed")
    assert(Checkpoint.committed(spark, dir).contains((ts("1995-01-08 08:00:00"), 11L)))
  }
}
