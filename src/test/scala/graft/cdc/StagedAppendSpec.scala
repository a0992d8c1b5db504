package graft.cdc

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** Journaled (crash-safe) batch publication: every crash point between
  * "batch staged" and "stage swept" must repair back to a sink that is
  * byte-identical to one populated without any crash. */
class StagedAppendSpec extends AnyFunSuite with SparkFixture {

  private val cfg = CdcTableConfig("orders", Seq("k"))

  // batch 1 = Jan 1–2, batch 2 = Jan 3–5 (three commit_date partitions →
  // three destination files → distinct crash points mid-publish)
  private def feed = feedKV(Seq(
    (1L, 0L, 2, 3L, "1995-01-01 08:00:00", "a", "x"),
    (2L, 0L, 2, 3L, "1995-01-02 08:00:00", "b", "y"),
    (3L, 0L, 2, 3L, "1995-01-03 08:00:00", "c", "z"),
    (4L, 0L, 2, 3L, "1995-01-04 08:00:00", "d", "w"),
    (5L, 0L, 1, 3L, "1995-01-05 08:00:00", "a", "x")))

  private def rows(path: String): Seq[(Long, String, String, String)] =
    SinkLayout.read(spark, path)
      .select("changelog_id", "k", "column_name", "new_value")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
      .sortBy(_._1).toSeq

  private def version(path: String): Int =
    graft.Versions.current(SinkLayout.fs(spark, path), new Path(path)).get.n

  private def populateBoth(path: String, crashAt: Option[Int]): Unit = {
    StagedAppend.run(spark, feed, cfg, path, Some(ts("1995-01-02 12:00:00")))
    crashAt match {
      case None =>
        StagedAppend.run(spark, feed, cfg, path, Some(ts("1995-01-06 00:00:00")))
      case Some(at) =>
        val boom = new RuntimeException("injected")
        val thrown = intercept[RuntimeException] {
          StagedAppend.run(spark, feed, cfg, path, Some(ts("1995-01-06 00:00:00")),
            publishHook = i => if (i == at) throw boom)
        }
        assert(thrown eq boom, s"crash injection at $at must fire")
        // recovery = just run the populate again; it self-repairs first
        StagedAppend.run(spark, feed, cfg, path, Some(ts("1995-01-06 00:00:00")))
    }
  }

  private lazy val goldenRows: Seq[(Long, String, String, String)] = {
    val p = Files.createTempDirectory("graft_sa_gold").resolve("c").toString
    populateBoth(p, None)
    rows(p)
  }

  test("crash after the FIRST published file repairs to the no-crash sink") {
    val p = Files.createTempDirectory("graft_sa1").resolve("c").toString
    populateBoth(p, Some(1))
    assert(rows(p) == goldenRows)
  }

  test("crash after the LAST published file (pre-commit) repairs identically") {
    val p = Files.createTempDirectory("graft_sa3").resolve("c").toString
    populateBoth(p, Some(3))
    assert(rows(p) == goldenRows)
    // and the journal is gone: no stage dirs, no manifest
    val fs = SinkLayout.fs(spark, p)
    val leftovers = fs.listStatus(new Path(p))
      .map(_.getPath.getName).filter(_.startsWith("_stage_batch_"))
    assert(leftovers.isEmpty)
  }

  test("torn partial state is invisible to the HWM after repair, not before") {
    val p = Files.createTempDirectory("graft_sa_hwm").resolve("c").toString
    StagedAppend.run(spark, feed, cfg, p, Some(ts("1995-01-02 12:00:00")))
    val hwmBefore = Checkpoint.sinkState(spark, p).get
    val boom = new RuntimeException("injected")
    intercept[RuntimeException] {
      StagedAppend.run(spark, feed, cfg, p, Some(ts("1995-01-06 00:00:00")),
        publishHook = i => if (i == 2) throw boom)
    }
    // torn: two of three files visible — the failure mode being repaired
    assert(Checkpoint.sinkState(spark, p).get != hwmBefore)
    assert(StagedAppend.repair(spark, p) == 1)
    assert(Checkpoint.sinkState(spark, p).get == hwmBefore,
      "repair must restore the exact pre-batch HWM and id offset")
    assert(StagedAppend.repair(spark, p) == 0, "repair is idempotent")
  }

  test("a failed journal-manifest rename moves no staged file") {
    val p = Files.createTempDirectory("graft_sa_mf").resolve("c").toString
    StagedAppend.run(spark, feed, cfg, p, Some(ts("1995-01-02 12:00:00")))
    Checkpoint.committed(spark, p) // folds the record, so the next batch renames only its journal
    val fs = SinkLayout.fs(spark, p)
    def dataFiles = SinkLayout.parquetFiles(fs, new Path(SinkLayout.dataDir(spark, p)))
      .map(_.getPath.getName).toSet
    val before = dataFiles
    val thrown = intercept[IllegalArgumentException] {
      graft.FaultyFs.withFaults(spark, rename = (_, dst) => dst.getName == "_MANIFEST") {
        StagedAppend.run(spark, feed, cfg, graft.FaultyFs.path(p), Some(ts("1995-01-06 00:00:00")))
      }
    }
    assert(thrown.getMessage.contains("manifest rename"), thrown.getMessage)
    val stages = fs.listStatus(new Path(p)).map(_.getPath).filter(_.getName.startsWith("_stage_batch_"))
    assert(stages.length == 1 && SinkLayout.parquetFiles(fs, stages.head).size == 3,
      "all three staged files must still be in the stage")
    assert(dataFiles == before, "no staged file may reach the sink without a manifest")
    StagedAppend.run(spark, feed, cfg, p, Some(ts("1995-01-06 00:00:00")))
    assert(rows(p) == goldenRows)
  }

  /** Every file under `p` (hidden ones included), by relative path. */
  private def files(p: String): Map[String, Seq[Byte]] = {
    val root = java.nio.file.Paths.get(p)
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => root.relativize(f).toString -> Files.readAllBytes(f).toSeq).toMap
    finally walk.close()
  }

  test("a first run with to_date before the feed's min LSN raises (:225-229) " +
      "and leaves no sink root behind") {
    val p = Files.createTempDirectory("graft_sa_minlsn").resolve("c").toString
    val e = intercept[CdcValidationException] {
      StagedAppend.run(spark, feed, cfg, p, Some(ts("1994-12-31 00:00:00")))
    }
    assert(e.getMessage ==
      "The to date: 1994-12-31 00:00:00.0 is less than the minimum lsn date: 1995-01-01 08:00:00.0 available in the cdc data!")
    assert(!new java.io.File(p).exists, "the failed first run must not create the sink")
  }

  test("a resumed sink whose feed was truncated past to_date has an empty window, " +
      "raises the same message and keeps its files byte-identical") {
    val p = Files.createTempDirectory("graft_sa_trunc").resolve("c").toString
    StagedAppend.run(spark, feed, cfg, p, Some(ts("1995-01-02 12:00:00")))
    val before = files(p)
    val truncated = feed.where(org.apache.spark.sql.functions.col("commit_time") > ts("1995-01-03 00:00:00"))
    val e = intercept[CdcValidationException] {
      StagedAppend.run(spark, truncated, cfg, p, Some(ts("1995-01-02 20:00:00")))
    }
    assert(e.getMessage ==
      "The to date: 1995-01-02 20:00:00.0 is less than the minimum lsn date: 1995-01-03 08:00:00.0 available in the cdc data!")
    assert(files(p) == before, "the error path must not touch the sink")
  }

  test("a batch on a non-empty sink reads its checkpoint with no SQL execution") {
    val p = Files.createTempDirectory("graft_sa_exec").resolve("c").toString
    StagedAppend.run(spark, feed, cfg, p, Some(ts("1995-01-02 12:00:00")))
    var n = 0L
    val sites = executionSitesOf {
      n = StagedAppend.run(spark, feed, cfg, p, Some(ts("1995-01-06 00:00:00"))).rowsInserted
    }
    assert(n > 0, "the window must be non-empty")
    assert(!sites.exists(_.contains("graft.cdc.Checkpoint$")),
      s"no execution may come from the checkpoint: $sites")
    // the sink-scan checkpoint ran a sink aggregate (after the sink read's
    // schema-inference job) and a feed aggregate before the staged write:
    // 3 SQL executions and 1 job outside SQL; the staged write alone now
    assert(sites.size <= 1, s"populate SQL executions: $sites")
  }

  test("QueryData.run runs no SQL execution before the caller's action") {
    val p = Files.createTempDirectory("graft_sa_qexec").resolve("c").toString
    StagedAppend.run(spark, feed, cfg, p, Some(ts("1995-01-06 00:00:00")))
    val catalog = new CdcCatalog
    catalog.register(CdcTableEntry(cfg, feedPath = "unused", changelogPath = p))
    for (compat <- Seq(false, true)) {
      val executions = executionsOf {
        QueryData.run(spark, catalog, "orders", ts("1995-01-01 00:00:00"),
          Some(ts("1995-01-06 00:00:00")), compatMode = compat)
      }
      // the sink is read under its declared columns, so not even a
      // schema-inference job runs outside SQL
      assert(executions.isEmpty,
        s"freshness must come from the commit record and the schema from " +
          s"the stamp: $executions")
    }
  }

  test("the declared sink schema equals a parquet read of default, compat, " +
      "composite-key and clustered sinks") {
    val s = spark
    import s.implicits._
    // mask ordinals: k1=0, k2=1, v=2
    val composite = Seq(
      (1L, 0L, 2, 7L, ts("1995-01-01 08:00:00"), "a", "1", "x"),
      (2L, 0L, 3, 4L, ts("1995-01-02 08:00:00"), "a", "1", "x"),
      (2L, 0L, 4, 4L, ts("1995-01-02 08:00:00"), "a", "1", "y"),
      (3L, 0L, 1, 7L, ts("1995-01-03 08:00:00"), "b", "2", "z"))
      .toDF("start_lsn", "seqval", "operation", "update_mask", "commit_time", "k1", "k2", "v")
    val sinks = Seq(
      ("default", feed, cfg, false),
      ("compat", feed, cfg.copy(compatMode = true), false),
      ("composite-key", composite, CdcTableConfig("pairs", Seq("k1", "k2")), false),
      ("clustered", feed, cfg, true))
    for ((name, f, c, clustered) <- sinks) {
      val p = Files.createTempDirectory("graft_sa_schema").resolve("c").toString
      StagedAppend.run(spark, f, c, p, Some(ts("1995-01-06 00:00:00")),
        clusterByKey = clustered, clusterPartitions = if (clustered) Some(2) else None)
      val read = SinkLayout.read(spark, p).schema
      assert(PopulateChangelog.sinkSchema(c) == read,
        s"$name: declared ${PopulateChangelog.sinkSchema(c)} vs read $read")
    }
  }

  test("no-crash staged populate equals the direct append path") {
    val direct = Files.createTempDirectory("graft_sa_d").resolve("c").toString
    StagedAppend.run(spark, feed, cfg, direct, Some(ts("1995-01-02 12:00:00")))
    StagedAppend.run(spark, feed, cfg, direct, Some(ts("1995-01-06 00:00:00")))
    assert(goldenRows == rows(direct))
  }

  test("a compaction in the stage→publish window flips the version and " +
      "the publish follows it into the repacked copy") {
    val p = Files.createTempDirectory("graft_sa_cc").resolve("c").toString
    StagedAppend.run(spark, feed, cfg, p, Some(ts("1995-01-02 12:00:00")))
    val v0 = version(p)
    StagedAppend.run(spark, feed, cfg, p, Some(ts("1995-01-06 00:00:00")),
      prePublishHook = () => { Compact.compactSink(spark, p); () })
    assert(version(p) == v0 + 1,
      "compaction must have flipped the pointer before the publish")
    assert(rows(p) == goldenRows,
      "the interleaved result must equal the quiesced two-batch sink")
  }

  test("a compaction RACING a mid-rename publish blocks on the writer " +
      "lock — no file of the batch is stranded in the retiring version") {
    val p = Files.createTempDirectory("graft_sa_race").resolve("c").toString
    StagedAppend.run(spark, feed, cfg, p, Some(ts("1995-01-02 12:00:00")))
    val v0 = version(p)
    val started = new java.util.concurrent.CountDownLatch(1)
    @volatile var compactErr: Option[Throwable] = None
    val compactor = new Thread(() => {
      started.await()
      try Compact.compactSink(spark, p)
      catch { case t: Throwable => compactErr = Some(t) }
    })
    compactor.start()
    // the hook fires INSIDE the publish critical section: wake the
    // compactor after the first rename, give it time to hit the lock,
    // then finish the remaining renames. Without the lock the compactor
    // could repack + flip mid-loop and strand files 2..n in the retiring
    // version.
    StagedAppend.run(spark, feed, cfg, p, Some(ts("1995-01-06 00:00:00")),
      publishHook = i => if (i == 1) { started.countDown(); Thread.sleep(500) })
    compactor.join(120000)
    assert(!compactor.isAlive, "compactor must finish once the lock frees")
    assert(compactErr.isEmpty, s"compactor failed: $compactErr")
    assert(version(p) == v0 + 1)
    assert(rows(p) == goldenRows,
      "every file of the racing batch must survive into the current version")
  }
}
