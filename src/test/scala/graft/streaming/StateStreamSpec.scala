package graft.streaming

import org.apache.spark.sql.AnalysisException
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkFixture, TempDirs}

/** The bounded-drive contract of [[StateStream]]: the file-sink `drain`
  * every declarative EventStream drive rides, and the foreachBatch
  * `foldFiles` core under the state folds and the streaming populate. */
class StateStreamSpec extends AnyFunSuite with SparkFixture {

  private def fields(df: org.apache.spark.sql.Dataset[_]) =
    df.schema.map(f => f.name -> f.dataType)

  test("a drain whose plan finalizes no row returns an empty frame with the plan's schema") {
    val s = spark
    import s.implicits._
    val inDir = TempDirs.create("graft_drain_empty_in").resolve("in").toString
    // one hour of events and no flush sentinel: the final watermark never
    // passes the window's end, so the append-mode sink receives no row
    Seq((ts("2024-01-01 10:05:00"), "click", """{"k": 1}"""),
      (ts("2024-01-01 10:20:00"), "view", """{"k": 2}"""))
      .toDF("event_time", "event_type", "props").write.parquet(inDir)
    val plan = EventStream.eventWindowCounts(
      s.readStream.schema(s.read.parquet(inDir).schema).parquet(inDir))
    val got = StateStream.drain(plan, TempDirs.create("graft_drain_empty_out"))
    assert(fields(got) == fields(plan))
    assert(got.isEmpty)
  }

  test("a drain over an empty source runs no micro-batch and still returns the plan's schema") {
    val s = spark
    val inDir = TempDirs.create("graft_drain_none_in").toString
    val plan = s.readStream.schema("id BIGINT, v STRING").parquet(inDir)
    val outDir = TempDirs.create("graft_drain_none_out")
    val got = StateStream.drain(plan, outDir)
    assert(fields(got) == fields(plan))
    assert(got.isEmpty)
    // the case the explicit schema exists for: the sink holds only its
    // metadata log, from which schema inference cannot read a schema
    intercept[AnalysisException](s.read.parquet(outDir.resolve("result").toString))
  }

  test("a second drain into the same dir resumes from its checkpoint and adds only the new rows") {
    val s = spark
    import s.implicits._
    val inDir = TempDirs.create("graft_drain_resume_in").resolve("in").toString
    val outDir = TempDirs.create("graft_drain_resume_out")
    Seq(1L, 2L).toDF("id").write.parquet(inDir)
    def drain() = StateStream.drain(
      s.readStream.schema(s.read.parquet(inDir).schema).parquet(inDir), outDir)
      .as[Long].collect().sorted.toSeq
    assert(drain() == Seq(1L, 2L))
    Seq(3L).toDF("id").write.mode("append").parquet(inDir)
    assert(drain() == Seq(1L, 2L, 3L), "the consumed file must not be re-emitted")
    assert(drain() == Seq(1L, 2L, 3L), "nothing new: the sink is unchanged")
  }

  test("foldAvailableNow hands one batch per file, with ascending batch ids") {
    val s = spark
    import s.implicits._
    val base = TempDirs.create("graft_foldfiles")
    val srcDir = base.resolve("src").toString
    val files = Seq(Seq(1L, 2L), Seq(3L), Seq(4L, 5L, 6L))
    files.foreach(f => f.toDF("id").coalesce(1).write.mode("append").parquet(srcDir))
    val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long])]
    StateStream.foldFiles(s, srcDir, s.read.parquet(srcDir).schema,
        base.resolve("ckpt").toString) { (batch, id) =>
      batches += id -> batch.as[Long].collect().sorted.toSeq
    }
    assert(batches.map(_._1).toSeq == Seq(0L, 1L, 2L))
    assert(batches.map(_._2).toSet == files.toSet, "each batch is exactly one file")
    // the public drive delivers the same one batch per file
    var n = 0
    StateStream.foldAvailableNow(s, srcDir, base.resolve("ckpt2").toString)(_ => n += 1)
    assert(n == files.size)
  }

  test("a state publish shrugs off a stale stage, an unstamped version and a crashed retire") {
    val s = spark
    import s.implicits._
    import org.apache.hadoop.fs.Path
    val stateDir = TempDirs.create("graft_state_crash").resolve("state").toString
    val root = new Path(stateDir)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    def publish(dir: String, id: Long): Unit =
      StateStream.publishState(s, dir)(stage => Seq(id).toDF("id").write.parquet(stage.toString))
    def ids(df: org.apache.spark.sql.DataFrame) = df.as[Long].collect().toSeq
    def versions = graft.Versions.all(fs, root).map(_.n)
    publish(stateDir, 1L)
    // a stale stage and an unstamped dir of version 2, each holding a file
    // no parquet reader can open: neither may be resolved, and neither may
    // leak into the version the next publish writes
    Seq(graft.Versions.stage(root, 2), graft.Versions.dir(root, 2)).foreach(d =>
      fs.create(new Path(d, "junk.parquet")).close())
    assert(ids(StateStream.readState(s, stateDir)) == Seq(1L))
    val planned = StateStream.readState(s, stateDir)
    publish(stateDir, 2L)
    assert(ids(StateStream.readState(s, stateDir)) == Seq(2L))
    assert(ids(planned) == Seq(1L), "a reader resolved on v1 reads after v2 publishes")
    assert(!fs.exists(graft.Versions.stage(root, 2)))
    // a crash after the rename, before the retire: publishing v3 fails
    // deleting v1
    val plannedNext = StateStream.readState(s, stateDir)
    intercept[java.io.IOException] {
      graft.FaultyFs.withFaults(s, delete = _.getName == graft.Versions.dir(root, 1).getName) {
        publish(graft.FaultyFs.path(stateDir), 3L)
      }
    }
    assert(versions == Seq(3, 2, 1), s"the retire never ran: $versions")
    assert(ids(StateStream.readState(s, stateDir)) == Seq(3L))
    assert(ids(plannedNext) == Seq(2L), "a reader resolved on v2 reads after v3 publishes")
    // the next publish retires what the crashed one left
    publish(stateDir, 4L)
    assert(versions == Seq(4, 3), s"current + previous only, got $versions")
    assert(ids(StateStream.readState(s, stateDir)) == Seq(4L))
  }
}
