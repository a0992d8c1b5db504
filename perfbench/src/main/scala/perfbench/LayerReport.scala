package perfbench

import java.nio.file.Files

/** Per-layer metrics of a traced run. Counts and times are per measured
  * operation (the workload's end-to-end op), so they read against
  * `op_p50_s` whatever the run length. Only jobs that start inside a
  * measured op are counted. */
final class LayerReport(val metrics: Seq[(String, Double, String)], val statements: Seq[String])

object LayerReport {
  private type Iv = (Long, Long)

  /** Length of the union of intervals, each clipped to `within`. */
  private def covered(ivs: Iterable[Iv], within: Iv = (Long.MinValue, Long.MaxValue)): Long = {
    val clipped = ivs.iterator.map { case (a, b) => (a max within._1, b min within._2) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0L
    var cur: Option[Iv] = None
    clipped.foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, cb max b))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    total + cur.map { case (a, b) => b - a }.getOrElse(0L)
  }

  def apply(l: LayerListener, ctx: Ctx, out: Outcome): LayerReport = {
    val spans = ctx.tracer.spans.toSeq
    def iv(s: Span): Iv = (s.startMs, s.endMs)
    def in(t: Long, s: Span) = t >= s.startMs && t <= s.endMs
    val ops = spans.filter(_.kind == "op")
    val nOps = math.max(1, ops.size).toDouble
    val folds = spans.filter(_.kind == "fold")
    val probes = spans.filter(_.kind == "probe")
    def innermost(t: Long): Option[Span] = spans.filter(in(t, _)).maxByOption(_.id)

    val jobs = l.jobs.toSeq.filter(j => ops.exists(in(j.startMs, _)))
    val jobLayer = jobs.map(j => j.id ->
      j.site.map(_._1).orElse(innermost(j.startMs).map(_.layer)).getOrElse("other")).toMap
    val jobIv = jobs.map(j => j.id -> (j.startMs, if (j.endMs < 0) j.startMs else j.endMs)).toMap
    val stagesOf = l.stages.toSeq.collect {
      case (sid, a) if l.stageJob.get(sid).exists(jobLayer.contains) => l.stageJob(sid) -> a
    }.groupMap(_._1)(_._2)
    def layerJobs(layer: String) = jobs.filter(j => jobLayer(j.id) == layer)
    def layerStages(layer: String) = layerJobs(layer).flatMap(j => stagesOf.getOrElse(j.id, Nil))
    def execLayer(e: Long): String = l.execSite.get(e).flatten.map(_._1)
      .orElse(l.execStartMs.get(e).flatMap(innermost).map(_.layer)).getOrElse("other")
    def driverMetric(name: String, pick: Long => Boolean): Double =
      l.driverMetrics.collect { case ((e, n), v) if n == name && pick(e) => v }.sum.toDouble
    val measuredExec = (e: Long) => l.execStartMs.get(e).exists(t => ops.exists(in(t, _)))
    val stageIvs = l.stageIntervals.toSeq
    val staged = spans.filter(_.name == "StagedAppend.run")

    val m = Seq.newBuilder[(String, Double, String)]
    Layers.All.foreach { layer =>
      val js = layerJobs(layer)
      val ss = layerStages(layer)
      val wallMs =
        if (layer != "cdc.staged") covered(js.map(j => jobIv(j.id))).toDouble
        // StagedAppend.run encloses the checkpoint and changelog calls, so
        // its own time is what their jobs leave uncovered
        else staged.map(s => (s.endMs - s.startMs) - covered(jobIv.values, iv(s))).sum.toDouble
      m += ((s"$layer.wall_s", wallMs / 1000 / nOps, "s"))
      m += ((s"$layer.jobs", js.size / nOps, "count"))
      m += ((s"$layer.tasks", ss.map(_.tasks).sum / nOps, "count"))
      m += ((s"$layer.task_run_s", ss.map(_.runMs).sum / 1000.0 / nOps, "s"))
      m += ((s"$layer.task_cpu_s", ss.map(_.cpuNs).sum / 1e9 / nOps, "s"))
      m += ((s"$layer.input_rows", ss.map(_.inputRows).sum / nOps, "count"))
      m += ((s"$layer.shuffle_write_bytes", ss.map(_.shuffleWriteBytes).sum / nOps, "B"))
      m += ((s"$layer.spill_bytes", ss.map(_.spillBytes).sum / nOps, "B"))
    }

    // cdc.checkpoint: how much it reads per appended row, and on how many
    // batches it read at least the full source plus the whole sink
    val appended = out.facts.getOrElse("appended_rows", 0.0)
    val ckptIn = layerStages("cdc.checkpoint").map(_.inputRows).sum.toDouble
    m += (("cdc.checkpoint.input_rows_per_appended_row", if (appended > 0) ckptIn / appended else 0.0, "ratio"))
    val source = out.facts.getOrElse("source_rows", 0.0)
    val perBatch = staged.zipWithIndex.map { case (s, i) =>
      val read = layerJobs("cdc.checkpoint").filter(j => in(j.startMs, s))
        .flatMap(j => stagesOf.getOrElse(j.id, Nil)).map(_.inputRows).sum
      (read, source + out.facts.getOrElse(s"sink_before.$i", 0.0))
    }
    val full = perBatch.count { case (read, whole) => read >= whole }
    m += (("cdc.checkpoint.full_read_batch_frac", if (staged.isEmpty) 0.0 else full.toDouble / staged.size, "ratio"))

    val cl = layerStages("cdc.changelog")
    m += (("cdc.changelog.rows_out", cl.map(_.outputRows).sum / nOps, "count"))
    m += (("cdc.changelog.output_bytes", cl.map(_.outputBytes).sum / nOps, "B"))
    val clWall = cl.map(a => (a.lastFinishMs - a.firstLaunchMs) max 0L).sum
    m += (("cdc.changelog.max_task_share", if (clWall > 0) cl.map(_.maxTaskMs).sum.toDouble / clWall else 0.0, "ratio"))

    m += (("cdc.staged.driver_s",
      staged.map(s => (s.endMs - s.startMs) - covered(stageIvs, iv(s))).sum / 1000.0 / nOps, "s"))
    m += (("cdc.staged.files_published", driverMetric("number of written files",
      e => l.execStartMs.get(e).exists(t => staged.exists(in(t, _)))) / nOps, "count"))

    val q = layerJobs("cdc.query")
    m += (("cdc.query.freshness_s",
      covered(q.filter(_.site.exists(_._2 == "graft.cdc.QueryData")).map(j => jobIv(j.id))) / 1000.0 / nOps, "s"))
    m += (("cdc.query.scan_s",
      covered(q.filter(j => j.site.isEmpty && innermost(j.startMs).exists(_.name == "noop.write"))
        .map(j => jobIv(j.id))) / 1000.0 / nOps, "s"))
    val returned = out.facts.getOrElse("rows_returned", 0.0)
    m += (("cdc.query.input_rows_per_row_returned",
      if (returned > 0) layerStages("cdc.query").map(_.inputRows).sum / returned else 0.0, "ratio"))
    m += (("cdc.query.files_read", driverMetric("number of files read",
      e => measuredExec(e) && execLayer(e) == "cdc.query") / nOps, "count"))

    Layers.Ext.foreach { layer =>
      val js = layerJobs(layer)
      m += ((s"$layer.jobs_per_fold", js.count(j => folds.exists(in(j.startMs, _))).toDouble /
        math.max(1, folds.size), "count"))
      m += ((s"$layer.jobs_per_probe", js.count(j => probes.exists(in(j.startMs, _))).toDouble /
        math.max(1, probes.size), "count"))
      m += ((s"$layer.partitions_rewritten", driverMetric("number of dynamic part",
        e => measuredExec(e) && execLayer(e) == layer) / math.max(1, folds.size), "count"))
    }

    val opMs = ops.map(s => s.endMs - s.startMs).sum
    val runMs = stagesOf.values.flatten.map(_.runMs).sum
    m += (("spark.idle_s", ops.map(s => (s.endMs - s.startMs) - covered(stageIvs, iv(s))).sum / 1000.0 / nOps, "s"))
    m += (("spark.utilization", if (opMs > 0) runMs.toDouble / (opMs * ctx.cores) else 0.0, "ratio"))
    m += (("spark.gc_s", ctx.gcS / nOps, "s"))
    m += (("trace.op_p50_s", Stats.median(out.ops), "s"))

    val other = jobs.count(j => jobLayer(j.id) == "other")
    val statements = Seq(f"ops=${ops.size} jobs=${jobs.size} unattributed_jobs=$other") ++
      (if (staged.isEmpty || source == 0.0) Nil else {
        val avgRead = perBatch.map(_._1).sum.toDouble / perBatch.size
        val avgWhole = perBatch.map(_._2).sum / perBatch.size
        Seq(f"cdc.checkpoint read $avgRead%.0f input rows per batch on average against " +
          f"$avgWhole%.0f rows of source plus sink-before-batch; it read at least the full " +
          s"source plus the whole sink on $full of ${staged.size} batches")
      })
    new LayerReport(m.result(), statements)
  }

  /** Writes the run's spans to `file`, one JSON object per line. */
  def writeSpans(ctx: Ctx, file: java.nio.file.Path): Unit = {
    Files.createDirectories(file.getParent)
    val lines = ctx.tracer.spans.map { s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", "layer": "${s.layer}", """ +
        s""""kind": "${s.kind}", "start_ms": ${s.startMs}, "end_ms": ${s.endMs}}"""
    }
    Files.write(file, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
