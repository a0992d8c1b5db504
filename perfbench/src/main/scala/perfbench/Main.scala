package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Everything one run shares: the session, the seed, the clock and the
  * tracer. One client thread (the caller) issues every operation. */
final class Ctx(
    val spark: SparkSession,
    val seed: Long,
    val seconds: Double,
    val scale: Scale,
    val work: Path,
    val cores: Int,
    val tracer: Tracer,
    val corruptDigest: Boolean) {

  def dir(name: String): String = work.resolve(name).toString

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  var gcS = 0.0

  /** Runs the measured window: traced, and with JVM GC time counted. */
  def measured[T](body: => T): T = {
    val gc0 = gcMs
    tracer.recording = true
    try body
    finally {
      tracer.recording = false
      gcS = (gcMs - gc0) / 1000.0
      measuredEndNs = System.nanoTime()
    }
  }
  var measuredEndNs = 0L
  var setupWallS = 0.0

  /** Set-up: `inputs` (generate the seeded inputs) repeated `setupReps`
    * times, the last result kept, then `prepare` once on it (build the
    * state the workload starts from and warm up). Reported as the median
    * input generation plus the preparation, so JIT warm-up counts in
    * set-up time but one cold repetition does not dominate it. */
  def setUp[I, T](inputs: Int => I)(prepare: I => T): (T, Seq[Double]) = {
    var last: Option[I] = None
    val times = (0 until scale.setupReps).map { i =>
      val t0 = System.nanoTime()
      last = Some(inputs(i))
      Stats.seconds(t0)
    }
    val t0 = System.nanoTime()
    val state = prepare(last.get)
    val prepS = Stats.seconds(t0)
    setupWallS = times.sum + prepS
    (state, times.map(_ + prepS))
  }

  /** Whether the measured window is still open after `t0` (nanoTime). */
  def running(t0: Long): Boolean = (System.nanoTime() - t0) / 1e9 < seconds
}

/** A metric in the human-readable report, by the name the workload
  * documentation uses. */
final case class Named(name: String, value: Double, unit: String, n: Int, note: String = "")

/** What a workload run produced. `ops` are the end-to-end operation
  * latencies (s); `rows` is the work those operations completed. */
final case class Outcome(
    setupS: Seq[Double],
    ops: Seq[Double],
    rows: Long,
    stateBytes: Long,
    stateRows: Long,
    attempted: Int,
    failed: Int,
    named: Seq[Named],
    facts: Map[String, Double] = Map.empty)

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, never
    * below the median: (percentile, value). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.size
    if (n < 20) (50.0, median(s))
    else (100.0 * (n - 10) / n, s(n - 11))
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Latency metrics of one operation kind: p50 and tail, both with the
    * sample count. */
  def latency(prefix: String, xs: Seq[Double]): Seq[Named] = {
    val (pct, v) = tail(xs)
    Seq(Named(s"${prefix}_p50_s", median(xs), "s", xs.size),
      Named(s"${prefix}_tail_s", v, "s", xs.size, f"p$pct%.1f"))
  }

  /** Order-independent digest of a frame: (row count, sum of per-row
    * 64-bit hashes as an exact decimal). NULLs hash as a marker distinct
    * from every string value. */
  def digest(df: DataFrame, cols: Seq[String]): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)), sum(hashOf(cols).cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  def hashOf(cols: Seq[String]) =
    xxhash64(cols.map(c => coalesce(col(c).cast("string"), lit("\u0001NULL"))): _*)

  /** Bytes on disk of the data files under `root` (names starting with
    * `_` or `.` are bookkeeping and skipped). */
  def diskBytes(root: String): Long = {
    val p = Paths.get(root)
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala
        .filter(f => Files.isRegularFile(f))
        .filterNot(f => f.iterator().asScala.exists(n => n.toString.startsWith("_") || n.toString.startsWith(".")))
        .map(Files.size).sum
      finally st.close()
    }
  }
}

object Main {
  private val Usage =
    "usage: Main --workload populate|serving --seed N --seconds S --trace 0|1 " +
      "--work DIR [--spans FILE] [--scale full|smoke] [--corrupt-digest]"

  def main(argv: Array[String]): Unit = {
    val kv = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def arg(k: String): String = kv.getOrElse(k, { System.err.println(Usage); sys.exit(2) })
    val workload = arg("--workload")
    val seed = arg("--seed").toLong
    val seconds = arg("--seconds").toDouble
    val trace = arg("--trace") == "1"
    val work = Paths.get(arg("--work")).toAbsolutePath
    val scale = Scale(kv.getOrElse("--scale", "full"))
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val corrupt = argv.contains("--corrupt-digest")
    val run: Ctx => Outcome = workload match {
      case "populate" => Populate.run
      case "serving" => Serving.run
      case other => System.err.println(s"unknown workload $other\n$Usage"); sys.exit(2)
    }

    Files.createDirectories(work)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the changelog's id window is single-partition by design; Spark warns on every plan
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec", org.apache.logging.log4j.Level.ERROR)
    val listener = if (trace) Some(new LayerListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val ctx = new Ctx(spark, seed, seconds, scale, work, cores, new Tracer(trace), corrupt)

    val out = try run(ctx) finally spark.stop() // stop() drains the listener bus
    println(f"info wall_s setup ${ctx.setupWallS}%.1f, checks and shutdown ${Stats.seconds(ctx.measuredEndNs)}%.1f")

    val failedFrac = out.failed.toDouble / math.max(1, out.attempted)
    val named = Named("setup_s", Stats.median(out.setupS), "s", out.setupS.size) +:
      out.named :+ Named("ops_failed_frac", failedFrac, "ratio", out.attempted)
    named.foreach { m =>
      println(f"metric ${m.name} ${m.value}%.6f ${m.unit} n=${m.n}" +
        (if (m.note.nonEmpty) s" ${m.note}" else ""))
    }

    println(out.ops.map(v => f"$v%.3f").mkString("samples op_s ", " ", ""))
    val (_, tailV) = Stats.tail(out.ops)
    val opsWall = out.ops.sum
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", Stats.median(out.setupS), "s"),
        ("op_p50_s", Stats.median(out.ops), "s"),
        ("op_tail_s", tailV, "s"),
        ("rows_per_s", out.rows / opsWall, "1/s"),
        ("state_bytes_per_row", out.stateBytes.toDouble / math.max(1L, out.stateRows), "B"))
      else {
        val layers = LayerReport(listener.get, ctx, out)
        layers.statements.foreach(s => println(s"trace $s"))
        kv.get("--spans").foreach(f => LayerReport.writeSpans(ctx, Paths.get(f)))
        layers.metrics
      }
    val correct = out.failed == 0
    val json = metrics.map { case (k, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$k": {"value": $num, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    println(s"""{"correct": $correct, "attempted": ${out.attempted}, "failed": ${out.failed}, "metrics": $json}""")
    System.out.flush()
    if (!correct) sys.exit(1)
  }
}
