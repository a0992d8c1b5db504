package perfbench

import java.sql.Timestamp
import java.time.{LocalDate, ZoneOffset}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.cdc.{CdcCatalog, CdcTableConfig, CdcTableEntry, ChangeFeed, ChangelogBuilder, QueryData,
  QueryDataResult, SinkLayout, StagedAppend}

/** The lineitem composite-key feed and its populate windows. */
final case class LineitemFeed(feed: DataFrame, sourceRows: Long, lo: Timestamp,
    edges: Seq[Timestamp]) {
  val d0: LocalDate = lo.toInstant.atZone(ZoneOffset.UTC).toLocalDate

  /** Commit days (counted from the feed's first) that hold no row newer
    * than `edge`, i.e. days a populate up to `edge` has completed. */
  def completeDays(edge: Timestamp): Int =
    (edge.toInstant.atZone(ZoneOffset.UTC).toLocalDate.toEpochDay - d0.toEpochDay).toInt
}

object LineitemFeed {
  val Cfg = CdcTableConfig("lineitem", Seq("l_orderkey", "l_linenumber"))
  val DigestCols = Seq("changelog_id", "commit_time", "l_orderkey", "l_linenumber",
    "column_name", "old_value", "new_value")

  /** Writes the seeded lineitem table under `dir` and windows its feed
    * into `batches` populate batches. */
  def apply(ctx: Ctx, dir: String, batches: Int): LineitemFeed = {
    val path = s"$dir/lineitem"
    Inputs.lineitem(ctx.spark, ctx.seed, ctx.scale.orders).write.mode("overwrite").parquet(path)
    val li = ctx.spark.read.parquet(path)
    val feed = ChangeFeed.fromLineitem(li)
    val r = feed.agg(min("commit_time"), max("commit_time")).head()
    val (lo, hi) = (r.getTimestamp(0), r.getTimestamp(1))
    LineitemFeed(feed, li.count(), lo, Inputs.windowEdges(ctx.seed, lo, hi, batches))
  }

  /** The reference changelog: the whole span built in one shot by
    * `ChangelogBuilder` (build + ids over every feed row up to the last
    * edge), bypassing the checkpoint, staging and sink code under test. */
  def reference(f: LineitemFeed): DataFrame =
    ChangelogBuilder.withIds(
      ChangelogBuilder.build(f.feed.where(col("commit_time") <= f.edges.last), Cfg), Cfg)
}

/** `populate`: each operation is one `StagedAppend.run` batch followed by
  * one `QueryData.run` report over the sink as it stands, forced through a
  * `noop` write. Cycles start from an empty sink and walk the seeded window
  * edges toward the feed's last commit, so the sink grows through the run.
  * Reports cover whole commit days the populate has completed: per round
  * of five, two 1-day, two 3-day and one all-days window at seeded offsets
  * (narrower while fewer days are complete).
  *
  * Checked afterwards, untimed: each cycle's sink equals the one-shot
  * reference cut at the last edge the cycle reached (row count and an
  * order-independent digest over ids, commit times, keys, columns and
  * values: the exactly-once, contiguous-id contract), and every distinct
  * report equals the reference's slice of its days. */
object Populate {
  final case class Query(fromDay: Int, days: Int)

  private def day(d0: LocalDate, i: Int, hour: Int): Timestamp =
    Timestamp.from(d0.plusDays(i.toLong).atStartOfDay().plusHours(hour.toLong).toInstant(ZoneOffset.UTC))

  def run(ctx: Ctx): Outcome = {
    val (f, setup) = ctx.setUp(rep =>
      LineitemFeed(ctx, ctx.dir(s"setup$rep"), ctx.scale.batchesPerCycle)) { f =>
      val warm = new Loop(ctx, f, new Random(ctx.seed + 1), "warm")
      (0 until ctx.scale.warmOps).foreach(_ => warm.op())
      f
    }
    val loop = new Loop(ctx, f, new Random(ctx.seed), "cycle")
    ctx.measured {
      val t0 = System.nanoTime()
      while (ctx.running(t0)) loop.op()
    }
    loop.cycles += ((loop.sink, loop.done, loop.appended))

    val ref = LineitemFeed.reference(f).localCheckpoint(true)
    val badCycles = loop.cycles.filter { case (sink, done, appended) =>
      val want0 = Stats.digest(ref.where(col("commit_time") <= f.edges(done - 1)), LineitemFeed.DigestCols)
      val want = if (ctx.corruptDigest) (want0._1, want0._2 + 1) else want0
      Stats.digest(SinkLayout.read(ctx.spark, sink), LineitemFeed.DigestCols) != want ||
        appended != want._1
    }.map(_._1).toSet

    // expected (count, digest) per commit day; then every distinct report
    // once more over the cycle sink it read, all in one job. Reports only
    // cover completed days, which later batches never change.
    val perDay = ref.groupBy(to_date(col("commit_time")))
      .agg(count(lit(1)), sum(Stats.hashOf(LineitemFeed.DigestCols).cast("decimal(38,0)")))
      .collect().map { r =>
        (r.getDate(0).toLocalDate.toEpochDay - f.d0.toEpochDay).toInt ->
          (r.getLong(1), BigDecimal(r.getDecimal(2)))
      }.toMap
    def expected(q: Query): (Long, BigDecimal) = {
      val e = (q.fromDay until q.fromDay + q.days).map(perDay.getOrElse(_, (0L, BigDecimal(0))))
        .foldLeft((0L, BigDecimal(0))) { case ((n, s), (m, t)) => (n + m, s + t) }
      if (ctx.corruptDigest) (e._1, e._2 + 1) else e
    }
    val distinct = loop.asked.distinct.toSeq
    val got = distinct.zipWithIndex.map { case ((sink, q), i) =>
      loop.report(sink, q).data.select(lit(i).as("qid"), Stats.hashOf(LineitemFeed.DigestCols).as("h"))
    }.reduce(_ unionByName _)
      .groupBy("qid").agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), Option(r.getDecimal(2)).map(BigDecimal(_)).getOrElse(BigDecimal(0))))
      .toMap
    val wrongReports = distinct.zipWithIndex.collect {
      case ((sink, q), i) if got.getOrElse(i, (0L, BigDecimal(0))) != expected(q) => (sink, q)
    }.toSet
    val failed = loop.asked.count { case a @ (sink, _) => badCycles(sink) || wrongReports(a) }

    val rows = loop.cycles.map(_._3).sum
    val returned = loop.asked.map { case (_, q) => expected(q)._1 }.sum
    val (sink0, _, rows0) = loop.cycles.head
    val sinkBytes = Stats.diskBytes(sink0)
    val batchS = loop.batchS.toSeq
    Outcome(setup, loop.opS.toSeq, rows, sinkBytes, rows0,
      attempted = loop.opS.size, failed = failed,
      named = Stats.latency("populate_batch", batchS) ++ Seq(
        Named("populate_rows_per_s", rows / batchS.sum, "1/s", batchS.size),
        Named("sink_bytes_per_row", sinkBytes.toDouble / rows0, "B", 1)) ++
        Stats.latency("report_query", loop.queryS.toSeq),
      facts = Map("source_rows" -> f.sourceRows.toDouble, "appended_rows" -> rows.toDouble,
        "rows_returned" -> returned.toDouble) ++
        loop.sinkBefore.zipWithIndex.map { case (s, i) => s"sink_before.$i" -> s.toDouble })
  }

  /** The client's closed loop: batch, then report, cycle after cycle. */
  final class Loop(ctx: Ctx, f: LineitemFeed, rng: Random, prefix: String) {
    val opS, batchS, queryS = ArrayBuffer.empty[Double]
    val sinkBefore = ArrayBuffer.empty[Long]
    val asked = ArrayBuffer.empty[(String, Query)]
    val cycles = ArrayBuffer.empty[(String, Int, Long)] // (sink, batches, rows appended)
    var sink: String = ctx.dir(s"${prefix}0")
    var done = 0
    var appended = 0L
    private var pending = List.empty[Int]
    private val catalogs = mutable.Map.empty[String, CdcCatalog]

    def report(sink: String, q: Query): QueryDataResult = {
      val cat = catalogs.getOrElseUpdate(sink, {
        val c = new CdcCatalog
        c.register(CdcTableEntry(LineitemFeed.Cfg, sink, sink))
        c
      })
      QueryData.run(ctx.spark, cat, "lineitem_ChangeLog", day(f.d0, q.fromDay, 0),
        Some(day(f.d0, q.fromDay + q.days - 1, 12)), fullDays = true)
    }

    /** One operation: the next batch, then a report over completed days. */
    def op(): Unit = {
      if (done == f.edges.size) {
        cycles += ((sink, done, appended))
        sink = ctx.dir(s"$prefix${cycles.size}")
        done = 0
        appended = 0L
      }
      val edge = f.edges(done)
      val complete = f.completeDays(edge)
      require(complete >= 1, s"the batch up to $edge completes no commit day to report on")
      if (pending.isEmpty) pending = rng.shuffle(List(1, 1, 3, 3, Int.MaxValue))
      val width = math.min(pending.head, complete)
      pending = pending.tail
      val q = Query(rng.nextInt(complete - width + 1), width)

      val t0 = System.nanoTime()
      var t1 = 0L
      ctx.tracer("populate.op", "cdc", "op") {
        val n = ctx.tracer("StagedAppend.run", "cdc.staged") {
          StagedAppend.run(ctx.spark, f.feed, LineitemFeed.Cfg, sink, Some(edge)).rowsInserted
        }
        t1 = System.nanoTime()
        ctx.tracer("report", "cdc.query") {
          val res = ctx.tracer("QueryData.run", "cdc.query")(report(sink, q))
          ctx.tracer("noop.write", "cdc.query") {
            res.data.write.mode("overwrite").format("noop").save()
          }
        }
        sinkBefore += appended
        appended += n
        done += 1
      }
      val t2 = System.nanoTime()
      batchS += (t1 - t0) / 1e9
      queryS += (t2 - t1) / 1e9
      opS += (t2 - t0) / 1e9
      asked += sink -> q
    }
  }
}
