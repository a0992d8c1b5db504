package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every graded query at SPARK_GRAFT_SF_DIR and
  * emits ONE JSON line to stdout AND to target/bench.json (stdout alone is
  * buried in sbt log soup for machine consumers). A failing query is
  * reported in an "errors" field — never as a fake cheap timing — and
  * makes the run exit nonzero.
  */
object Bench {
  /** Drop every block the previous query left in the driver/executor block
    * manager: cached tables AND the MEMORY_AND_DISK blocks behind dropped
    * localCheckpoint frames (ContextCleaner only reclaims those after a
    * weak-ref GC — explicit unpersist is immediate). No query holds state
    * across bench iterations, so a blanket sweep is safe.
    */
  private def clearSparkState(s: SparkSession): Unit = {
    s.catalog.clearCache()
    s.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    var spark = Verify.localSession(cpus, "WARN")

    // Untimed warmup: JVM/codegen spin-up plus a first touch of EVERY
    // fixture file, so neither the first query nor whichever query first
    // reads a given table absorbs cold-read noise. Deliberately not a
    // graded query (warming one query flatters its own timing). Guarded —
    // a warmup failure must not prevent the per-query errors report below.
    try {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      for (t <- Seq("orders", "lineitem", "customer", "nation", "region",
          "documents", "embeddings", "events")) {
        // count() alone is answered from parquet metadata; hashing every
        // column forces the pages through the reader (and the OS cache)
        import org.apache.spark.sql.functions.{col, hash, sum}
        val df = spark.read.parquet(s"$sfDir/$t.parquet")
        // count() after a projection would still prune it — aggregate the
        // hash so every row is actually computed
        df.select(hash(df.columns.toSeq.map(col): _*).as("h")).agg(sum("h")).collect()
      }
    } catch {
      // diagnose, never die: a warmup failure must not prevent the
      // per-query errors report below — but a SILENT one would leave
      // heavy rows timing cold fixture builds with no trace
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] table warmup failed (continuing): $e")
    }
    // build every named memoized FIXTURE untimed: under the heavy-row
    // single pass, a first-use fixture build would otherwise be the
    // whole measurement (see SparkEntry.warmFixtures). Own try — a
    // table-warmup failure above must not also skip fixture warming.
    try SparkEntry.warmFixtures(spark, sfDir)
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] fixture warmup failed (continuing): $e")
    }

    // Median of 3 passes per query (plus min, reported separately): a
    // single noisy pass — GC pause, first-touch page fault, competing
    // driver work — inflated round-4's driver bench 2× and masqueraded as
    // a regression. The median is robust to one bad pass; the min shows
    // the best the plan can do. An error on any pass reports the query as
    // failed (never a fake cheap timing).
    val passes = math.max(1,
      scala.util.Try(sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt).getOrElse(3))
    // HEAVY rows run ONE timed pass: the serving lifecycle/compact/race
    // families re-copy layouts and re-fold per pass, and at 3 passes each
    // the graded bench's wall clock outgrew the driver's window in round
    // 14 (BENCH_r14.json rc=124 — a timeout kill, no perf artifact at
    // all). A row whose FIRST pass exceeds this threshold keeps that one
    // measurement (median = min = the single pass); the cheap majority
    // keeps median-of-3. Nothing is lost analytically: drift verdicts
    // already compare at quiet-machine MINS (the r12/r13 rule), and a
    // >6 s row's signal is its plan shape, not a 3-pass median. 0 or a
    // huge value disables (every row runs `passes` passes).
    val heavySec = math.max(0.0,
      scala.util.Try(sys.env.getOrElse("SPARK_GRAFT_BENCH_HEAVY_SEC", "6").toDouble)
        .getOrElse(6.0))
    // optional focus filter for bisecting a single query's variance
    // (comma-separated names); absent = the full graded surface
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    // Recycle the SparkSession every N queries (untimed): round 8's graded
    // run showed in-loop medians 2–4× their fresh-JVM standalone truth on
    // late iterative/drive queries (ext_dedup_clusters 26.7 s in-loop vs
    // 6.1 s standalone) — single-JVM block-manager/driver pressure
    // accumulating across the 151-query loop that per-pass GC nudges no
    // longer contain. Stopping the context drops ALL accumulated blocks,
    // listeners, and shuffle state; the JVM (codegen caches, JIT) and the
    // OS page cache stay warm, so the first query after a recycle is not
    // cold-penalized. 0 disables.
    val recycleEvery = math.max(0,
      scala.util.Try(sys.env.getOrElse("SPARK_GRAFT_BENCH_RECYCLE", "8").toInt).getOrElse(8))
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .zipWithIndex
      .map { case ((name, fn), qIdx) =>
      if (recycleEvery > 0 && qIdx > 0 && qIdx % recycleEvery == 0) {
        spark.stop()
        // the JVM-global streaming StateStore caches the dead context's
        // coordinator RPC ref — reset it or every stateful streaming query
        // after the first recycle fails with RpcEndpointNotFoundException
        org.apache.spark.sql.graftbridge.StateStoreBridge.reset()
        spark = Verify.localSession(cpus, "WARN")
      }
      // stop at the first failing pass — a deterministic failure shouldn't
      // pay its latency `passes` times
      val timings = scala.collection.mutable.ArrayBuffer.empty[Either[String, Double]]
      while (timings.size < passes && !timings.lastOption.exists(_.isLeft)
          // heavy-row cutoff: one pass was enough (see heavySec above)
          && !(heavySec > 0 && timings.size == 1 &&
            timings.head.exists(_ > heavySec))) {
        // Between passes (outside the timed region): sweep the PREVIOUS
        // pass's temp sinks, drop every block the last pass cached or
        // localCheckpoint'ed, and nudge a driver GC so ContextCleaner can
        // reclaim what remains — drive queries re-create both every pass,
        // and the pile-up (dirty page writeback from orphaned sink files,
        // checkpoint blocks waiting on a weak-ref GC) is what made
        // drive-query medians run 1.5–2× their min in r7.
        TempDirs.sweep()
        clearSparkState(spark)
        System.gc()
        val t0 = System.nanoTime()
        timings += (try {
          // noop SINK, not count(): under count() Catalyst prunes every
          // column and eliminates cardinality-preserving joins — e.g.
          // ext_triangles' per-node left join (and the whole wedge join
          // behind it) vanished, timing 3 s for ~14 s of real work. The
          // noop write forces every output column through the full plan;
          // rounds ≤ 9-mid used count(), so older totals under-report
          // join/column-heavy queries and are not directly comparable.
          fn(spark, sfDir).write.mode("overwrite").format("noop").save()
          Right((System.nanoTime() - t0) / 1e9)
        } catch {
          case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
        })
      }
      timings.collectFirst { case Left(m) => m } match {
        case Some(m) => name -> Left(m)
        case None =>
          // lower median for even pass counts — never reports a value
          // higher than both middle passes
          val ts = timings.collect { case Right(v) => v }.sorted
          name -> Right((ts((ts.size - 1) / 2), ts.head, ts.size))
      }
    }

    import Verify.{jsonString => q}

    val ok = results.collect { case (k, Right(v)) => k -> v }
    val errs = results.collect { case (k, Left(m)) => k -> m }
    val total = ok.map(_._2._1).sum
    // n_queries: the graded set GROWS round over round, so the total alone
    // is not comparable across rounds — per-query values are.
    // "queries" carries the MEDIAN (the round-over-round comparable);
    // "queries_min" the per-query best pass.
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"passes":$passes,"heavy_sec":$heavySec,"queries":${
        ok.map { case (k, v) => s"${q(k)}:${v._1}" }.mkString("{", ",", "}")
      },"queries_min":${
        ok.map { case (k, v) => s"${q(k)}:${v._2}" }.mkString("{", ",", "}")
      },"single_pass":${
        // heavy rows that stopped after pass 1 — their "median" is that
        // one measurement; compare them at the min like every drift check
        ok.collect { case (k, v) if v._3 == 1 && passes > 1 => q(k) }
          .mkString("[", ",", "]")
      },"errors":${
        errs.map { case (k, m) => s"${q(k)}:${q(m)}" }.mkString("{", ",", "}")
      },"sf":${q(sfDir)}}"""
    println(json)
    Files.createDirectories(Paths.get("target"))
    Files.writeString(Paths.get("target/bench.json"), json + "\n")
    spark.stop()
    if (errs.nonEmpty) sys.exit(1)
  }
}
