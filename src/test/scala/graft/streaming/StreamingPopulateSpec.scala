package graft.streaming

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.cdc.{CdcTableConfig, SinkLayout, StagedAppend}

/** Streaming-vs-batch parity: two incremental streaming invocations over a
  * growing feed directory must produce byte-identical changelog content to
  * two batch populate invocations over the same windows.
  */
class StreamingPopulateSpec extends AnyFunSuite with SparkFixture {

  private val cfg = CdcTableConfig("orders", Seq("k"))

  private def day1 = feedKV(Seq(
    (1L, 0L, 2, 3L, "1995-01-01 08:00:00", "a", "x"),
    (2L, 0L, 3, 2L, "1995-01-01 09:00:00", "b", "v0"),
    (2L, 0L, 4, 2L, "1995-01-01 09:00:00", "b", "v1")))

  private def day2 = feedKV(Seq(
    (3L, 0L, 1, 3L, "1995-01-02 08:00:00", "a", "x"),
    (4L, 0L, 3, 2L, "1995-01-02 09:00:00", "c", "w0"),
    (4L, 0L, 4, 2L, "1995-01-02 09:00:00", "c", "w1")))

  private val logicalCols = Seq("changelog_id", "commit_time", "table_name", "k",
    "column_name", "old_value", "new_value")

  test("two incremental streaming runs == two batch runs, including ids") {
    val base = Files.createTempDirectory("graft_stream")
    val feedDir = base.resolve("feed").toString
    val streamSink = base.resolve("stream_log").toString
    val batchSink = base.resolve("batch_log").toString
    val ckpt = base.resolve("ckpt").toString

    // ---- invocation 1: only day-1 files exist
    day1.coalesce(1).write.parquet(feedDir)
    val n1 = StreamingPopulate.runAvailableNow(spark, feedDir,
      spark.read.parquet(feedDir).schema, cfg, streamSink, ckpt)
    assert(n1 == 2, "insert sentinel + one update pair")

    // ---- new files land; invocation 2 must consume ONLY them
    day2.coalesce(1).write.mode("append").parquet(feedDir)
    val n2 = StreamingPopulate.runAvailableNow(spark, feedDir,
      spark.read.parquet(feedDir).schema, cfg, streamSink, ckpt)
    assert(n2 == 2, "delete sentinel + one update pair; day-1 files not re-read")

    // ---- third invocation with nothing new: no-op
    val n3 = StreamingPopulate.runAvailableNow(spark, feedDir,
      spark.read.parquet(feedDir).schema, cfg, streamSink, ckpt)
    assert(n3 == 0)

    // ---- batch path over the same two windows
    val full = day1.unionByName(day2)
    StagedAppend.run(spark, full, cfg, batchSink, Some(ts("1995-01-01 23:00:00")))
    StagedAppend.run(spark, full, cfg, batchSink, Some(ts("1995-01-02 23:00:00")))

    val fromStream = SinkLayout.read(spark, streamSink).select(logicalCols.map(col): _*).collect().toSet
    val fromBatch = SinkLayout.read(spark, batchSink).select(logicalCols.map(col): _*).collect().toSet
    assert(fromStream == fromBatch, "streaming and batch modes agree byte-for-byte on content + ids")
    assert(fromStream.map(_.getLong(0)) == Set(1L, 2L, 3L, 4L))

    // sink layout contract holds in streaming mode too
    val dirs = new java.io.File(SinkLayout.dataDir(spark, streamSink)).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq == Seq("commit_date=1995-01-01", "commit_date=1995-01-02"))

    // replaying an already-applied micro-batch (crash between parquet
    // append and offset commit) must be a no-op, not a duplicate append —
    // markers are keyed by (checkpoint, batchId)
    val ckptKey = java.security.MessageDigest.getInstance("MD5")
      .digest(ckpt.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val replayed = StreamingPopulate.appendBatch(
      day1, cfg, streamSink, batchKey = Some(s"${ckptKey}_0"))
    assert(replayed == 0L)
    assert(SinkLayout.read(spark, streamSink).count() == 4)

    // ...but the same batchId under a DIFFERENT checkpoint is real new work
    val otherKey = "deadbeef_0"
    assert(StreamingPopulate.appendBatch(day1, cfg, streamSink,
      batchKey = Some(otherKey)) == 2L)
  }

  test("a compaction flipping versions inside the snapshot->append window loses nothing") {
    val base = Files.createTempDirectory("graft_stream_race")
    val feedDir = base.resolve("feed").toString
    val sink = base.resolve("log").toString
    val ckpt = base.resolve("ckpt").toString

    day1.coalesce(1).write.parquet(feedDir)
    StreamingPopulate.runAvailableNow(spark, feedDir,
      spark.read.parquet(feedDir).schema, cfg, sink, ckpt)

    // day-2's micro-batch races the compaction: the flip lands after the
    // HWM/offset snapshot, before the append — the append must follow the
    // version pointer into the repacked copy
    day2.coalesce(1).write.mode("append").parquet(feedDir)
    def version = graft.Versions.current(
      new Path(sink).getFileSystem(spark.sparkContext.hadoopConfiguration), new Path(sink)).get.n
    val v0 = version
    val n = StreamingPopulate.runAvailableNow(spark, feedDir,
      spark.read.parquet(feedDir).schema, cfg, sink, ckpt,
      postSnapshotHook = _ => { graft.cdc.Compact.compactSink(spark, sink); () })
    assert(n == 2)
    assert(version == v0 + 1, "the race must actually have exercised a version flip")
    val rows = SinkLayout.read(spark, sink)
      .select(logicalCols.map(col): _*).collect()
    assert(rows.map(_.getLong(0)).toSet == Set(1L, 2L, 3L, 4L),
      "ids contiguous across the flip; no row lost to the retired copy")
    // replay protection survives the flip: markers live at the sink ROOT,
    // not inside the versioned data dir
    val ckptKey = java.security.MessageDigest.getInstance("MD5")
      .digest(ckpt.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(StreamingPopulate.appendBatch(
      day2, cfg, sink, batchKey = Some(s"${ckptKey}_1")) == 0L)
  }

  test("maxFilesPerTrigger splits one invocation into multiple ordered micro-batches") {
    val base = Files.createTempDirectory("graft_stream_mft")
    val feedDir = base.resolve("feed").toString
    val sink = base.resolve("log").toString
    val ckpt = base.resolve("ckpt").toString

    // two separate files, written in time order
    day1.coalesce(1).write.parquet(feedDir)
    day2.coalesce(1).write.mode("append").parquet(feedDir)

    val n = StreamingPopulate.runAvailableNow(spark, feedDir,
      spark.read.parquet(feedDir).schema, cfg, sink, ckpt, maxFilesPerTrigger = Some(1))
    assert(n == 4)
    val ids = SinkLayout.read(spark, sink).select("changelog_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 3L, 4L), "ids continue across micro-batches within one invocation")
  }

  test("a torn streamed batch rolls back rows and marker together; the replay applies it once") {
    val batch = day1.unionByName(day2) // two commit_date partitions → two staged files
    val key = "torn_0"
    Seq(1, 2).foreach { at => // crash after the first file, then after the last
      val sink = Files.createTempDirectory(s"graft_stream_torn$at").resolve("log").toString
      val boom = new RuntimeException("injected")
      val thrown = intercept[RuntimeException] {
        StagedAppend.stageAndPublish(spark, batch, cfg, sink, 0L,
          marker = Some(s"_applied_batches/$key"), publishHook = i => if (i == at) throw boom)
      }
      assert(thrown eq boom, s"crash injection at $at must fire")
      assert(StreamingPopulate.appendBatch(batch, cfg, sink, batchKey = Some(key)) == 4L)
      val ids = SinkLayout.read(spark, sink).select("changelog_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L, 4L), s"rows once, contiguous ids (crash at $at)")
      assert(new java.io.File(sink, s"_applied_batches/$key").isFile)
    }
  }
}
