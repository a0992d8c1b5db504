package graft.cdc

import java.sql.Timestamp
import java.time.{LocalDate, ZoneId}

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean

import graft.SparkFixture

/** The commit record's invariant: after any sequence of writes and
  * maintenance, the HWM, max id, emptiness and both freshness strings folded
  * from the record equal those a scan of the visible sink derives. The
  * scan is the oracle: [[Checkpoint.sinkState]] and the freshness
  * aggregates the report ran before the record existed.
  */
object CommitRecordProperties extends Properties("commitrecord") with SparkFixture {

  // every step runs real Spark jobs; keep the case count modest
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private val cfg = CdcTableConfig("orders", Seq("k"))

  // four days; per day an insert, a second insert in the same minute (the
  // compat resume skips it) and an update pair an hour later
  private def feed = feedKV((1 to 4).flatMap { d =>
    Seq(
      (d * 10L, 0L, 2, 3L, s"1995-01-0$d 08:00:10", s"a$d", "x"),
      (d * 10 + 1L, 0L, 2, 3L, s"1995-01-0$d 08:00:40", s"b$d", "y"),
      (d * 10 + 2L, 0L, 3, 2L, s"1995-01-0$d 09:00:00", s"a$d", "x"),
      (d * 10 + 2L, 0L, 4, 2L, s"1995-01-0$d 09:00:00", s"a$d", s"w$d"))
  })

  private val days = (1 to 5).map(d => LocalDate.parse(f"1995-01-$d%02d"))

  sealed trait Step
  final case class Populate(to: Timestamp, compat: Boolean) extends Step
  final case class CrashReplay(to: Timestamp, at: Int) extends Step
  final case class DropRepair(day: LocalDate) extends Step
  case object CompactStep extends Step
  /** Forget `key`, or with None the subject of the sink's newest row —
    * the deletion that lowers the scanned HWM. */
  final case class ForgetStep(key: Option[String]) extends Step
  final case class Expire(day: LocalDate) extends Step
  /** A writer's record fold crashing at its `at`-th point ([[Checkpoint.FoldHook]]). */
  final case class FoldCrash(at: Int) extends Step

  private val genTo: Gen[Timestamp] = Gen.oneOf(
    Seq(Timestamp.valueOf("1994-12-31 00:00:00")) ++ (1 to 4).flatMap { d =>
      Seq(s"1995-01-0$d 08:00:20", s"1995-01-0$d 08:30:00", s"1995-01-0$d 12:00:00")
        .map(Timestamp.valueOf)
    } :+ Timestamp.valueOf("1995-01-06 00:00:00"))

  private val genStep: Gen[Step] = Gen.frequency(
    4 -> Gen.zip(genTo, Gen.oneOf(false, true)).map(Populate.tupled),
    2 -> Gen.zip(genTo, Gen.choose(1, 3)).map(CrashReplay.tupled),
    1 -> Gen.oneOf(days).map(DropRepair),
    1 -> Gen.const(CompactStep),
    2 -> Gen.option(Gen.oneOf((1 to 4).flatMap(d => Seq(s"a$d", s"b$d")))).map(ForgetStep),
    1 -> Gen.oneOf(days).map(Expire),
    2 -> Gen.choose(1, 3).map(FoldCrash))

  private val genSteps: Gen[List[Step]] = Gen.choose(2, 5).flatMap(Gen.listOfN(_, genStep))

  private def hasData(sink: String): Boolean =
    SinkLayout.parquetFiles(SinkLayout.fs(spark, sink), new Path(SinkLayout.dataDir(spark, sink))).nonEmpty

  /** The freshness the report computed by scanning the sink. */
  private def scannedFreshness(sink: String, compat: Boolean): String =
    if (!hasData(sink)) null
    else {
      val log = SinkLayout.read(spark, sink)
      if (compat) log.agg(max(date_format(col("created_dt"), "MM/dd/yyyy"))).head().getString(0)
      else Option(log.agg(max(col("created_dt"))).head().getTimestamp(0)).map(_.toString).orNull
    }

  /** Record-derived state ≡ scan-derived state; a sink never written has
    * neither, and a sink written before the record existed has no record. */
  private def agrees(sink: String, legacy: Boolean): Prop = {
    val scanned = Checkpoint.sinkState(spark, sink)
    val scannedFresh = Seq(false, true).map(scannedFreshness(sink, _))
    Checkpoint.record(spark, sink) match {
      case None =>
        (legacy || scanned.isEmpty) :| s"only an unmigrated or empty sink lacks a record ($scanned)"
      case Some(entries) =>
        val fresh = Seq(false, true).map(Checkpoint.freshnessOf(entries, _, ZoneId.of("UTC")))
        (Checkpoint.stateOf(entries) == scanned) :| s"HWM/id: record ${Checkpoint.stateOf(entries)} scan $scanned" &&
          (fresh == scannedFresh) :| s"freshness: record $fresh scan $scannedFresh"
    }
  }

  private def populate(sink: String, to: Timestamp, compat: Boolean,
      hook: StagedAppend.PublishHook = _ => ()): Unit =
    try StagedAppend.run(spark, feed, cfg.copy(compatMode = compat), sink, Some(to), publishHook = hook)
    catch { case _: CdcValidationException => () } // a rejected window leaves the sink as it was

  private def apply(sink: String, step: Step): Unit = step match {
    case Populate(to, compat) => populate(sink, to, compat)
    case CrashReplay(to, at) =>
      val boom = new RuntimeException("injected")
      Try(populate(sink, to, compat = false, hook = i => if (i == at) throw boom))
      populate(sink, to, compat = false)
    case DropRepair(day) =>
      val fs = SinkLayout.fs(spark, sink)
      val cutoff = Retention.activeCutoff(fs, sink)
      val visible = days.filter(d => cutoff.forall(c => !d.isBefore(c)) &&
        fs.exists(new Path(SinkLayout.dataDir(spark, sink), s"commit_date=$d")))
      // repairDay refuses a day with no visible earlier row under a cutoff
      if (visible.contains(day) && (cutoff.isEmpty || visible.exists(_.isBefore(day)))) {
        val hwm = Checkpoint.sinkState(spark, sink).map(_._1)
        Repair.dropDayPartition(spark, sink, day)
        Repair.repairDay(spark, feed, cfg, sink, day, originalHwm = hwm)
      }
    case CompactStep => if (hasData(sink)) Compact.compactSink(spark, sink)
    case ForgetStep(key) =>
      val s = spark
      import s.implicits._
      if (hasData(sink)) {
        val newest = SinkLayout.read(spark, sink).orderBy(col("commit_time").desc)
          .select("k").limit(1).collect().map(_.getString(0)).toSeq
        Forget.forgetKeys(spark, sink, Seq("k"), key.map(Seq(_)).getOrElse(newest).toDF("k"))
      }
    case Expire(day) => Retention.expire(spark, sink, day)
    case FoldCrash(at) =>
      Try(Checkpoint.committed(spark, sink,
        foldHook = i => if (i == at) throw new RuntimeException("injected")))
  }

  /** The record files a reader of the sink opens. */
  private def recordFiles(sink: String): Int = {
    val fs = SinkLayout.fs(spark, sink)
    val dir = new Path(SinkLayout.dataDir(spark, sink))
    if (!fs.exists(dir)) 0
    else fs.listStatus(dir).count { st =>
      val n = st.getPath.getName
      n == Checkpoint.RecordName || n.startsWith(Checkpoint.RecordName + ".")
    }
  }

  /** A sink whose version holds rows but no record (as one written before
    * the record existed), whose rows carry `created_dt`s on both sides of
    * a year boundary: a lexicographic MAX over `MM/dd/yyyy` picks 12/31
    * over the later 01/02. */
  private def legacySeed(sink: String): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cr_seed").resolve("log").toString
    StagedAppend.run(spark, feed, cfg, tmp, Some(Timestamp.valueOf("1995-01-02 12:00:00")))
    graft.Versions.publish(SinkLayout.fs(spark, sink), new Path(sink), None)(stage =>
      SinkLayout.read(spark, tmp)
        .withColumn("created_dt", when(col("commit_date") === lit("1995-01-01"),
          lit(Timestamp.valueOf("1995-12-31 10:00:00")))
          .otherwise(lit(Timestamp.valueOf("1996-01-02 10:00:00"))))
        .write.partitionBy("commit_date").parquet(stage.toString))
  }

  property("the record's HWM, max id, emptiness and freshness equal a scan's " +
      "after any sequence of populates, crashes, repairs and maintenance") =
    Prop.forAllNoShrink(Gen.oneOf(false, true), genSteps) { (seeded, steps) =>
      val sink = java.nio.file.Files.createTempDirectory("graft_cr").resolve("log").toString
      if (seeded) legacySeed(sink)
      val start = agrees(sink, seeded) :| "seed"
      steps.zipWithIndex.foldLeft(start) { case (ok, (step, i)) =>
        apply(sink, step)
        val files = recordFiles(sink)
        val bounded = step match {
          case _: Populate | _: CrashReplay =>
            (files <= 2) :| s"a reader opens $files record files after step $i"
          case _ => Prop.passed
        }
        ok && (agrees(sink, seeded) :| s"after step $i: $step") && bounded
      } :| s"steps $steps, seeded $seeded"
    }

  property("forgetting the newest subject lowers the record's HWM and max id with the scan's") = {
    val sink = java.nio.file.Files.createTempDirectory("graft_cr_forget").resolve("log").toString
    populate(sink, Timestamp.valueOf("1995-01-03 12:00:00"), compat = false)
    val before = Checkpoint.committed(spark, sink)
    apply(sink, ForgetStep(None))
    (Checkpoint.committed(spark, sink) != before) :| s"the HWM must move: $before" &&
      agrees(sink, legacy = false)
  }

  property("compat freshness across a year boundary is the lexicographic max") = {
    val sink = java.nio.file.Files.createTempDirectory("graft_cr_year").resolve("log").toString
    legacySeed(sink)
    populate(sink, Timestamp.valueOf("1995-01-03 12:00:00"), compat = true) // migrates
    val entries = Checkpoint.record(spark, sink).getOrElse(Nil)
    val years = entries.flatMap(_.createdMicros)
      .map(m => java.time.Instant.EPOCH.plusNanos(m * 1000L).atZone(ZoneId.of("UTC")).getYear).toSet
    (years.contains(1995) && years.contains(1996)) :| s"the migrated entries straddle the boundary: $years" &&
      (Checkpoint.freshnessOf(entries, true, ZoneId.of("UTC")) == scannedFreshness(sink, true)) :| "compat" &&
      agrees(sink, legacy = true)
  }
}
