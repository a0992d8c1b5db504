package graft.cdc

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkFixture, Versions}

/** End-to-end orchestration: the checkpoint-resume contract
  * (usp_cdc_populate_changelog.sql:200-211) driven for real — initial
  * populate, incremental resume, empty window, id continuation from the
  * sink, partition layout, and usp_cdc_query_data over the result.
  */
class PopulateChangelogSpec extends AnyFunSuite with SparkFixture {

  private val cfg = CdcTableConfig("orders", Seq("k"))

  // day-1: one insert + one update pair; day-2: a delete + an update pair
  private def fullFeed = feedKV(Seq(
    (1L, 0L, 2, 3L, "1995-01-01 08:00:00", "a", "x"),
    (2L, 0L, 3, 2L, "1995-01-01 09:00:00", "b", "v0"),
    (2L, 0L, 4, 2L, "1995-01-01 09:00:00", "b", "v1"),
    (3L, 0L, 1, 3L, "1995-01-02 08:00:00", "a", "x"),
    (4L, 0L, 3, 2L, "1995-01-02 09:00:00", "c", "w0"),
    (4L, 0L, 4, 2L, "1995-01-02 09:00:00", "c", "w1")))

  test("populate twice: initial batch, then a resume window continuing ids") {
    val path = Files.createTempDirectory("graft_e2e").resolve("orders_changelog").toString

    // batch 1: everything committed on day 1
    val r1 = StagedAppend.run(spark, fullFeed, cfg, path, Some(ts("1995-01-01 23:00:00")))
    assert(r1.rowsInserted == 2, "insert sentinel + one update pair")
    assert(r1.message == "2 orders changes were inserted to the orders_changelog.")
    val after1 = SinkLayout.read(spark, path)
    assert(after1.count() == 2)
    assert(after1.agg(max("changelog_id")).head().getLong(0) == 2L)

    // batch 2: resume — only day-2 changes, ids continue from the sink
    val r2 = StagedAppend.run(spark, fullFeed, cfg, path, Some(ts("1995-01-02 23:00:00")))
    assert(r2.rowsInserted == 2, "delete sentinel + one update pair")
    val after2 = SinkLayout.read(spark, path)
    assert(after2.count() == 4)
    assert(after2.select("changelog_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L, 4L),
      "contiguous ids across batches, no re-processing of batch 1")
    // day-2 rows got the higher ids
    val day2Ids = after2.where(col("commit_time") >= lit(ts("1995-01-02 00:00:00")))
      .select("changelog_id").collect().map(_.getLong(0)).toSet
    assert(day2Ids == Set(3L, 4L))

    // batch 3: window already caught up -> zero rows, not an error
    val r3 = StagedAppend.run(spark, fullFeed, cfg, path, Some(ts("1995-01-02 23:00:00")))
    assert(r3.rowsInserted == 0)

    // sink is partitioned by commit_date (the QueryData pruning contract)
    val dirs = new java.io.File(SinkLayout.dataDir(spark, path)).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq == Seq("commit_date=1995-01-01", "commit_date=1995-01-02"))

    // audit columns stamped at write time (DDL defaults, :151-152,:172-173)
    PopulateChangelog.AuditCols.foreach(c => assert(after2.columns.contains(c)))
    assert(after2.where(col("created_dt").isNull || col("created_by").isNull).count() == 0)
  }

  test("the distributed id path writes the same rows as the window path") {
    val changelog = ChangelogBuilder.build(fullFeed, cfg)
    val cols = Seq("changelog_id", "commit_time", "table_name", "k",
      "column_name", "old_value", "new_value")
    val a = ChangelogBuilder.withIds(changelog, cfg).select(cols.map(col): _*).collect().toSet
    val b = ChangelogBuilder.withIdsDistributed(changelog, cfg).select(cols.map(col): _*).collect().toSet
    assert(a == b)
  }

  test("oversized batches auto-upgrade to the distributed id path, same rows") {
    // chooser: plan-size estimate vs threshold, no job run
    val feed = ChangeFeed.fromOrders(
      spark.read.parquet("/root/testdata/sf0.001/orders.parquet"))
    assert(PopulateChangelog.shouldDistribute(feed, thresholdBytes = 1L))
    assert(!PopulateChangelog.shouldDistribute(feed, thresholdBytes = Long.MaxValue))

    // a batch that trips the threshold must get EXACTLY the window path's
    // rows (the id-parity contract)
    val ocfg = CdcTableConfig("orders", Seq("o_orderkey"))
    val changelog = ChangelogBuilder.build(feed, ocfg)
    val cols = Seq("changelog_id", "commit_time", "table_name", "o_orderkey",
      "column_name", "old_value", "new_value")
    val a = ChangelogBuilder.withIds(changelog, ocfg)
      .select(cols.map(col): _*).collect().map(_.toSeq).toSet
    val b = ChangelogBuilder.withIdsDistributed(changelog, ocfg)
      .select(cols.map(col): _*).collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("queryData over a populated sink: day-granularity bounds + freshness warning") {
    val path = Files.createTempDirectory("graft_e2e_qd").resolve("orders_changelog").toString
    StagedAppend.run(spark, fullFeed, cfg, path, Some(ts("1995-01-03 00:00:00")))

    val catalog = new CdcCatalog
    catalog.register(CdcTableEntry(cfg, feedPath = "unused", changelogPath = path))

    // to_date truncates to MIDNIGHT of 01-02 (:54): day-2 09:00 rows excluded
    val res = QueryData.run(spark, catalog, "orders",
      ts("1995-01-01 00:00:00"), Some(ts("1995-01-02 10:00:00")))
    assert(res.warning.startsWith("Data in this table was last refreshed on:"))
    assert(res.warning.endsWith("If more recent data is needed contact the data engineering team."))
    val times = res.data.select("commit_time").collect().map(_.getTimestamp(0)).toSet
    assert(times == Set(ts("1995-01-01 08:00:00"), ts("1995-01-01 09:00:00")))

    // fullDays=true extends the bound to the end of to_date's day
    val full = QueryData.run(spark, catalog, "orders",
      ts("1995-01-01 00:00:00"), Some(ts("1995-01-02 10:00:00")), fullDays = true)
    assert(full.data.count() == 4)

    // the time-range scan must prune sink partitions, not just filter rows
    val plan = res.data.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.linesIterator.exists(l => l.contains("PartitionFilters") && l.contains("commit_date")),
      "commit_date predicate should reach the scan as a partition filter")

    // resolution quirks: _changelog / _ChangeLog suffixes resolve (:33-38)
    assert(catalog.resolve("orders_changelog").changelogPath == path)
    assert(catalog.resolve("Orders_ChangeLog").changelogPath == path)
    val unknown = intercept[CdcValidationException] {
      QueryData.run(spark, catalog, "nope", ts("1995-01-01 00:00:00"), Some(ts("1995-01-02 00:00:00")))
    }
    assert(unknown.getMessage == "The table: nope does not exist!")
    val inverted = intercept[CdcValidationException] {
      QueryData.run(spark, catalog, "orders", ts("1995-01-02 00:00:00"), Some(ts("1995-01-02 00:00:00")))
    }
    assert(inverted.getMessage ==
      "The from date: 1995-01-02 00:00:00.0 must be less than the to date: 1995-01-02 00:00:00.0!")
  }

  test("write failure: default rethrows, compatMode soft-catches with the reference message") {
    val base = Files.createTempDirectory("graft_e2e_fail")
    // a feed whose configured key column doesn't exist -> failure inside the append
    val badCfg = CdcTableConfig("orders", Seq("no_such_col"))
    intercept[IllegalArgumentException] {
      StagedAppend.run(spark, fullFeed, badCfg, base.resolve("a").toString,
        Some(ts("1995-01-03 00:00:00")))
    }
    // the reference's CATCH block reports soft success (:401-409) — compat only
    val r = StagedAppend.run(spark, fullFeed, badCfg.copy(compatMode = true),
      base.resolve("b").toString, Some(ts("1995-01-03 00:00:00")))
    assert(r.rowsInserted == 0)
    assert(r.message == "No orders changes were detected between the date ranges provided!")
    // validation errors are NEVER soft-caught, even in compat mode (:217-229)
    StagedAppend.run(spark, fullFeed, cfg.copy(compatMode = true),
      base.resolve("c").toString, Some(ts("1995-01-03 00:00:00")))
    intercept[CdcValidationException] {
      StagedAppend.run(spark, fullFeed, cfg.copy(compatMode = true),
        base.resolve("c").toString, Some(ts("1994-01-01 00:00:00")))
    }
  }

  test("clusterByKey write yields disjoint per-file key ranges, same data") {
    val base = Files.createTempDirectory("graft_cluster")
    // real fixture feed for enough rows to spread across range partitions
    val feed = ChangeFeed.fromOrders(
      spark.read.parquet("/root/testdata/sf0.001/orders.parquet"))
    val ocfg = CdcTableConfig("orders", Seq("o_orderkey"))

    val plain = base.resolve("plain").toString
    val clustered = base.resolve("clustered").toString
    StagedAppend.run(spark, feed, ocfg, plain)
    StagedAppend.run(spark, feed, ocfg, clustered, clusterByKey = true,
      clusterPartitions = Some(4))

    val a = spark.read.parquet(plain).drop("created_dt").collect().map(_.toSeq).toSet
    val b = spark.read.parquet(clustered).drop("created_dt").collect().map(_.toSeq).toSet
    assert(a == b, "clustering must be result-invisible")

    // within each commit_date partition, per-file [min,max] key ranges are
    // pairwise disjoint — what makes parquet min/max stats prune to 1 file
    // key is string-erased in the changelog, so the clustering (and the
    // min/max stats) order lexicographically — assert in that order
    val ranges = spark.read.parquet(clustered)
      .groupBy(col("commit_date"),
        org.apache.spark.sql.functions.input_file_name().as("f"))
      .agg(min(col("o_orderkey")).as("lo"), max(col("o_orderkey")).as("hi"))
      .collect()
      .groupBy(_.getAs[java.sql.Date]("commit_date"))
    var overlappable = 0
    ranges.foreach { case (_, files) =>
      val sorted = files.map(r => (r.getAs[String]("lo"), r.getAs[String]("hi"))).sortBy(_._1)
      if (sorted.length > 1) overlappable += 1
      sorted.sliding(2).foreach {
        case Array((_, hi1), (lo2, _)) => assert(hi1 <= lo2, s"overlapping files: $sorted")
        case _ => ()
      }
    }
    assert(overlappable > 0, "fixture too small to exercise multi-file partitions")
  }

  test("schema evolution: a payload column added between batches unpivots from batch 2 on") {
    // ≙ the reference re-reading sys.columns per invocation (:295): the
    // engine derives columns from df.schema per call, so a feed that GAINS
    // a column between runs just starts emitting rows for it — the sink's
    // long-form (EAV) schema never changes, no migration.
    val s = spark
    import s.implicits._
    val path = Files.createTempDirectory("graft_evo").resolve("orders_changelog").toString

    // batch 1: (k, v) feed, one update pair on v
    StagedAppend.run(spark, fullFeed, cfg, path, Some(ts("1995-01-01 23:00:00")))

    // batch 2: the source grew a column v2 (ordinal 2); day-2 update
    // changes only v2 (mask bit 2)
    val wide = Seq(
      (4L, 0L, 3, 4L, ts("1995-01-02 09:00:00"), "c", "w0", "z0"),
      (4L, 0L, 4, 4L, ts("1995-01-02 09:00:00"), "c", "w1", "z1"))
      .toDF("start_lsn", "seqval", "operation", "update_mask", "commit_time", "k", "v", "v2")
    StagedAppend.run(spark, wide, cfg, path, Some(ts("1995-01-02 23:00:00")))

    val sink = SinkLayout.read(spark, path)
    // sink schema is batch-invariant: same columns after the wide batch
    assert(sink.columns.toSet ==
      Set("changelog_id", "commit_time", "table_name", "k", "column_name",
        "old_value", "new_value", "created_dt", "created_by",
        "modified_dt", "modified_by", "commit_date"))
    val byCol = sink.where(col("column_name").isNotNull)
      .select("column_name", "old_value", "new_value", "commit_time").collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getString(2), r.getTimestamp(3)))).toMap
    assert(byCol("v") == (("v0", "v1", ts("1995-01-01 09:00:00"))), "batch-1 column still there")
    assert(byCol("v2") == (("z0", "z1", ts("1995-01-02 09:00:00"))), "new column from batch 2 on")
    // ids keep continuing across the schema change
    assert(sink.agg(max("changelog_id")).head().getLong(0) == sink.count())
  }

  test("compaction shrinks the file count and preserves rows exactly") {
    val path = Files.createTempDirectory("graft_e2e_cp").resolve("orders_changelog").toString
    // both batches land rows in the 1995-01-01 partition (the second also
    // opens 1995-01-02) — the shared date accumulates one file per append
    StagedAppend.run(spark, fullFeed, cfg, path, Some(ts("1995-01-01 08:30:00")))
    StagedAppend.run(spark, fullFeed, cfg, path, Some(ts("1995-01-02 23:00:00")))
    val before = SinkLayout.read(spark, path).collect().map(_.toString).sorted.toSeq
    val stats = Compact.compactSink(spark, path)
    assert(stats.filesBefore > stats.filesAfter,
      s"two appends must pack into fewer files, got $stats")
    val after = SinkLayout.read(spark, path).collect().map(_.toString).sorted.toSeq
    assert(after == before, "compaction must not change a single row")
    // partition layout survives the rewrite (QueryData's pruning contract)
    val cur = new java.io.File(SinkLayout.dataDir(spark, path))
    val dirs = cur.listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq == Seq("commit_date=1995-01-01", "commit_date=1995-01-02"))
  }

  test("a reader planned before compaction survives the swap (grace version)") {
    val path = Files.createTempDirectory("graft_e2e_rs").resolve("orders_changelog").toString
    StagedAppend.run(spark, fullFeed, cfg, path, Some(ts("1995-01-01 08:30:00")))
    StagedAppend.run(spark, fullFeed, cfg, path, Some(ts("1995-01-02 23:00:00")))
    val fs = SinkLayout.fs(spark, path)
    def versions = Versions.all(fs, new Path(path)).map(_.n)
    val v = versions.head
    // plan (and partially bind) a read against the CURRENT resolve...
    val planned = SinkLayout.read(spark, path)
    val expected = planned.count()
    // ...then swap the sink under it — twice. Each compaction publishes
    // the next version; the planned frame must still execute after each.
    Compact.compactSink(spark, path)
    assert(versions == Seq(v + 1, v), "one compaction advances the version by one")
    assert(planned.count() == expected, s"reader planned on v$v survives the swap to v${v + 1}")
    val plannedNext = SinkLayout.read(spark, path)
    Compact.compactSink(spark, path)
    assert(plannedNext.count() == expected, s"reader planned on v${v + 1} survives the swap to v${v + 2}")
    // fresh resolves always see the current version with identical rows
    assert(SinkLayout.read(spark, path).count() == expected)
    // a third compaction retires v+1 (two versions old) but keeps v+2
    Compact.compactSink(spark, path)
    assert(versions == Seq(v + 3, v + 2), s"retention must keep current + previous only, got $versions")
    assert(SinkLayout.read(spark, path).count() == expected)
  }

  test("compaction preserves foreign root state and shrugs off crash leftovers") {
    val path = Files.createTempDirectory("graft_e2e_cl").resolve("orders_changelog").toString
    StagedAppend.run(spark, fullFeed, cfg, path, Some(ts("1995-01-01 08:30:00")))
    StagedAppend.run(spark, fullFeed, cfg, path, Some(ts("1995-01-02 23:00:00")))
    val expected = SinkLayout.read(spark, path).count()
    val root = new java.io.File(path)
    // auxiliary state other components keep at the sink root (the
    // streaming populate's exactly-once markers) must survive compactions
    val aux = new java.io.File(root, "_applied_batches/abc_0")
    aux.getParentFile.mkdirs(); aux.createNewFile()
    // a crash leftover from a failed earlier compaction: its stage
    val v = Versions.current(SinkLayout.fs(spark, path), new Path(path)).get.n
    new java.io.File(Versions.stage(new Path(path), v + 1).toString, "junk").mkdirs()
    assert(SinkLayout.read(spark, path).count() == expected,
      "a stale stage must not affect the current resolve")
    val s1 = Compact.compactSink(spark, path) // re-stages the next version from scratch
    assert(SinkLayout.read(spark, path).count() == expected)
    assert(s1.filesBefore > 0 && s1.bytesBefore > 0)
    // a foreign non-underscore file parked at the root: retirement deletes
    // version dirs only, so it survives every compaction
    val foreign = new java.io.File(root, "foreign.parquet")
    foreign.createNewFile()
    Compact.compactSink(spark, path)
    Compact.compactSink(spark, path) // retires the first compaction's version
    assert(aux.exists, "_applied_batches must survive every compaction")
    assert(foreign.exists, "a foreign parquet file at the root must survive retirement")
    assert(SinkLayout.read(spark, path).count() == expected)
  }

  test("a compaction publish shrugs off a stale stage, an unstamped version and a crashed retire") {
    val path = Files.createTempDirectory("graft_e2e_crash").resolve("orders_changelog").toString
    StagedAppend.run(spark, fullFeed, cfg, path, Some(ts("1995-01-01 08:30:00")))
    StagedAppend.run(spark, fullFeed, cfg, path, Some(ts("1995-01-02 23:00:00")))
    val fs = SinkLayout.fs(spark, path)
    val root = new Path(path)
    def versions = Versions.all(fs, root).map(_.n)
    def current = Versions.current(fs, root).get.n
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val expected = rowsOf(SinkLayout.read(spark, path))
    val v = current
    // a stale stage and an unstamped dir of the next version, each holding
    // a file no parquet reader can open: neither may be resolved, and
    // neither may leak into the version the next compaction publishes
    Seq(Versions.stage(root, v + 1), Versions.dir(root, v + 1)).foreach(d =>
      fs.create(new Path(d, "commit_date=1995-01-01/junk.parquet")).close())
    assert(current == v && rowsOf(SinkLayout.read(spark, path)) == expected)
    val planned = SinkLayout.read(spark, path)
    Compact.compactSink(spark, path)
    assert(current == v + 1 && rowsOf(SinkLayout.read(spark, path)) == expected)
    assert(rowsOf(planned) == expected, s"a reader resolved on v$v reads after v${v + 1} publishes")
    assert(!fs.exists(Versions.stage(root, v + 1)))
    // a crash after the rename, before the retire: the next compaction
    // fails deleting the version two flips old
    val plannedNext = SinkLayout.read(spark, path)
    intercept[java.io.IOException] {
      graft.FaultyFs.withFaults(spark, delete = _.getName == Versions.dir(root, v).getName) {
        Compact.compactSink(spark, graft.FaultyFs.path(path))
      }
    }
    assert(versions == Seq(v + 2, v + 1, v), s"the retire never ran: $versions")
    assert(current == v + 2 && rowsOf(SinkLayout.read(spark, path)) == expected)
    assert(rowsOf(plannedNext) == expected, s"a reader resolved on v${v + 1} reads after v${v + 2} publishes")
    // the next publish retires what the crashed one left
    Compact.compactSink(spark, path)
    assert(versions == Seq(v + 3, v + 2), s"current + previous only, got $versions")
    assert(rowsOf(SinkLayout.read(spark, path)) == expected)
  }

  test("populate resumes correctly onto a compacted sink (HWM + ids through the pointer)") {
    val path = Files.createTempDirectory("graft_e2e_rc").resolve("orders_changelog").toString
    StagedAppend.run(spark, fullFeed, cfg, path, Some(ts("1995-01-01 08:30:00")))
    Compact.compactSink(spark, path)
    val r2 = StagedAppend.run(spark, fullFeed, cfg, path, Some(ts("1995-01-02 23:00:00")))
    assert(r2.rowsInserted > 0, "the resumed batch must see the pre-compaction HWM, not restart")
    val sink = SinkLayout.read(spark, path)
    // ids continue seamlessly across the rewrite: dense 1..N
    assert(sink.agg(max("changelog_id")).head().getLong(0) == sink.count())
    assert(sink.select("changelog_id").distinct().count() == sink.count())
  }

  test("compat +1-minute resume loses sub-minute changes end-to-end; default does not") {
    def minuteFeed = feedKV(Seq(
      (1L, 0L, 2, 3L, "1995-01-01 00:00:10", "a", "x"),
      (2L, 0L, 2, 3L, "1995-01-01 00:00:40", "b", "y"),
      (3L, 0L, 2, 3L, "1995-01-02 00:00:00", "c", "z")))
    val base = Files.createTempDirectory("graft_e2e_compat")

    val dflt = base.resolve("dflt").toString
    StagedAppend.run(spark, minuteFeed, cfg, dflt, Some(ts("1995-01-01 00:00:20")))
    StagedAppend.run(spark, minuteFeed, cfg, dflt, Some(ts("1995-01-03 00:00:00")))
    assert(spark.read.parquet(dflt).count() == 3, "lossless resume catches the 00:00:40 insert")

    val compat = base.resolve("compat").toString
    val ccfg = cfg.copy(compatMode = true)
    StagedAppend.run(spark, minuteFeed, ccfg, compat, Some(ts("1995-01-01 00:00:20")))
    StagedAppend.run(spark, minuteFeed, ccfg, compat, Some(ts("1995-01-03 00:00:00")))
    assert(spark.read.parquet(compat).count() == 2,
      "the +1min skip (:203) permanently drops the same-minute insert")
  }

  test("forget removes every row of the subject across partitions, ids of survivors intact") {
    val s = spark
    import s.implicits._
    val path = Files.createTempDirectory("graft_forget_spec")
      .resolve("orders_changelog").toString
    StagedAppend.run(spark, fullFeed, cfg, path, Some(ts("1995-01-02 23:00:00")))
    val before = graft.cdc.SinkLayout.read(spark, path)
      .select("changelog_id", "k").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(before.size == 4 && before.values.count(_ == "a") == 2,
      "subject 'a' spans both day partitions (insert day 1, delete day 2)")

    val st = graft.cdc.Forget.forgetKeys(spark, path, Seq("k"), Seq("a").toDF("k"))
    assert(st == graft.cdc.ForgetStats(4L, 2L))
    val after = graft.cdc.SinkLayout.read(spark, path)
      .select("changelog_id", "k").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(!after.values.toSet.contains("a"), "forgotten subject fully gone")
    assert(after == before.filter(_._2 != "a"), "survivors keep their exact ids")

    // idempotent: a second forget of the same subject is a no-op rewrite
    val st2 = graft.cdc.Forget.forgetKeys(spark, path, Seq("k"), Seq("a").toDF("k"))
    assert(st2 == graft.cdc.ForgetStats(2L, 0L))
    assert(graft.cdc.SinkLayout.read(spark, path).count() == 2)
  }

  test("forget honors the retention cutoff: expired days are neither counted nor carried") {
    val s = spark
    import s.implicits._
    val path = Files.createTempDirectory("graft_forget_cutoff")
      .resolve("orders_changelog").toString
    // three days, two changelog rows each (insert sentinel + update pair)
    val feed = feedKV((1 to 3).flatMap { d =>
      Seq(
        (d * 10L, 0L, 2, 3L, s"1995-01-0$d 08:00:00", s"a$d", "x"),
        (d * 10 + 1L, 0L, 3, 2L, s"1995-01-0$d 09:00:00", s"b$d", s"v$d"),
        (d * 10 + 1L, 0L, 4, 2L, s"1995-01-0$d 09:00:00", s"b$d", s"w$d"))
    })
    StagedAppend.run(spark, feed, cfg, path, Some(ts("1996-01-01 00:00:00")))
    Retention.expire(spark, path, java.time.LocalDate.parse("1995-01-02"))
    // a1's only row sits on the expired day 1
    val st = graft.cdc.Forget.forgetKeys(spark, path, Seq("k"), Seq("a1").toDF("k"))
    assert(st == graft.cdc.ForgetStats(4L, 0L))
    val dirs = new java.io.File(SinkLayout.dataDir(spark, path)).list().toSet
    assert(!dirs.contains("commit_date=1995-01-01"), s"expired day carried forward: $dirs")
    assert(dirs.contains("commit_date=1995-01-02") && dirs.contains("commit_date=1995-01-03"))
    // a cutoff past every day leaves nothing to count, keep or record
    Retention.expire(spark, path, java.time.LocalDate.parse("1995-01-04"))
    val none = graft.cdc.Forget.forgetKeys(spark, path, Seq("k"), Seq("b3").toDF("k"))
    assert(none == graft.cdc.ForgetStats(0L, 0L))
    assert(Checkpoint.committed(spark, path).isEmpty)
  }
}
