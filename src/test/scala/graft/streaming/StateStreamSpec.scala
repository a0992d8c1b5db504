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
}
