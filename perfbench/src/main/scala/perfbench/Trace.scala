package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLAdaptiveSQLMetricUpdates, SparkListenerSQLExecutionStart}

/** One timed interval of the benchmark client: an operation (`kind` "op"),
  * a fold or probe inside one, or one call into the program's public API.
  * `layer` names the module the call enters; jobs whose call stack holds
  * no program frame (a `noop` write or `collect` the benchmark itself
  * issues on a lazy frame the program returned) are charged to the
  * innermost span around them. */
final case class Span(id: Int, parent: Int, name: String, layer: String, kind: String,
    startMs: Long, var endMs: Long = -1L)

/** Spans of one run's measured window, kept in memory and written out when
  * the run ends. Untraced runs record nothing. */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  /** True only inside the measured window: set-up and warm-up are not traced. */
  var recording = false

  def apply[T](name: String, layer: String, kind: String = "call")(body: => T): T =
    if (!enabled || !recording) body
    else {
      val s = Span(spans.size, stack.headOption.getOrElse(-1), name, layer, kind,
        System.currentTimeMillis())
      spans += s
      stack = s.id :: stack
      try body
      finally {
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
      }
    }
}

/** Maps a Spark call site to the program module that issued it: the
  * innermost `graft.*` frame, with [[Layers.PassThrough]] classes skipped
  * in favour of their caller (`SinkLayout.read` is shared by the
  * checkpoint and the query path). */
object Layers {
  val Cdc = Seq("cdc.checkpoint", "cdc.changelog", "cdc.staged", "cdc.query")
  val Ext = Seq("ext.dedup", "ext.retrieval", "ext.serving_layout")
  val All: Seq[String] = Cdc ++ Ext

  private val Modules = Map(
    "graft.cdc.Checkpoint" -> "cdc.checkpoint",
    "graft.cdc.ChangelogBuilder" -> "cdc.changelog",
    "graft.cdc.PopulateChangelog" -> "cdc.changelog",
    "graft.cdc.StagedAppend" -> "cdc.staged",
    "graft.cdc.QueryData" -> "cdc.query",
    "graft.ext.Dedup" -> "ext.dedup",
    "graft.ext.Retrieval" -> "ext.retrieval",
    "graft.ext.ServingLayout" -> "ext.serving_layout")
  private val PassThrough = Set("graft.cdc.SinkLayout")

  /** `graft.cdc.Checkpoint` of `graft.cdc.Checkpoint$.sinkState(Checkpoint.scala:38)`;
    * a `loader/module/` prefix, where the JVM prints one, is dropped. */
  private def className(frame: String): String = {
    val method = frame.trim.stripPrefix("at ").takeWhile(_ != '(')
    method.substring(method.lastIndexOf('/') + 1)
      .split('.').dropRight(1).mkString(".").takeWhile(_ != '$')
  }

  /** (layer, class) of the first program frame, if the stack holds one. */
  def of(callSite: String): Option[(String, String)] = {
    val classes = callSite.split('\n').iterator.map(className).filter(_.startsWith("graft.")).toSeq
    classes.find(c => !PassThrough(c))
      .map(c => Modules.getOrElse(c, "other") -> c)
      .orElse(classes.headOption.map(c => "cdc.query" -> c))
  }
}

/** Spark work of one run, attributed to program modules. Under AQE most
  * stages are named after `CompletableFuture`, so stages are attributed
  * through their job's SQL execution, whose start event carries the call
  * site of the action; jobs outside SQL fall back to their stages' own
  * call sites. Every field is written on the listener-bus thread and read
  * only after `SparkContext.stop()` has drained the bus. */
final class LayerListener extends SparkListener {
  final case class Job(id: Int, startMs: Long, var endMs: Long, site: Option[(String, String)])
  final class StageAgg {
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var inputRows = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var outputRows = 0L
    var outputBytes = 0L
    var maxTaskMs = 0L
    var firstLaunchMs = Long.MaxValue
    var lastFinishMs = 0L
  }

  val jobs = mutable.ArrayBuffer.empty[Job]
  val stageJob = mutable.Map.empty[Int, Int]
  val stages = mutable.Map.empty[Int, StageAgg]
  val stageIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  val execSite = mutable.Map.empty[Long, Option[(String, String)]]
  val execStartMs = mutable.Map.empty[Long, Long]
  /** accumulator id → (execution, SQL metric name), for driver-side plan metrics. */
  private val accumNames = mutable.Map.empty[Long, (Long, String)]
  /** (execution, SQL metric name) → summed driver-side value. */
  val driverMetrics = mutable.Map.empty[(Long, String), Long].withDefaultValue(0L)

  private val DriverMetricNames = Set("number of files read", "number of written files",
    "number of dynamic part")

  private def planMetrics(execId: Long, p: SparkPlanInfo): Unit = {
    p.metrics.foreach { m =>
      if (DriverMetricNames(m.name)) accumNames(m.accumulatorId) = execId -> m.name
    }
    p.children.foreach(planMetrics(execId, _))
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      execSite(e.executionId) = Layers.of(e.details)
      execStartMs(e.executionId) = e.time
      planMetrics(e.executionId, e.sparkPlanInfo)
    case e: SparkListenerSQLAdaptiveExecutionUpdate => planMetrics(e.executionId, e.sparkPlanInfo)
    case e: SparkListenerSQLAdaptiveSQLMetricUpdates =>
      e.sqlPlanMetrics.foreach { m =>
        if (DriverMetricNames(m.name)) accumNames(m.accumulatorId) = e.executionId -> m.name
      }
    case e: SparkListenerDriverAccumUpdates =>
      e.accumUpdates.foreach { case (id, v) =>
        accumNames.get(id).foreach(k => driverMetrics(k) += v)
      }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val execId = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    val site = execId.flatMap(execSite.get).flatten
      .orElse(e.stageInfos.iterator.map(s => Layers.of(s.details)).collectFirst { case Some(x) => x })
    jobs += Job(e.jobId, e.time, -1L, site)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    for (s <- e.stageInfo.submissionTime; c <- e.stageInfo.completionTime)
      stageIntervals += s -> c

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
    a.tasks += 1
    a.maxTaskMs = math.max(a.maxTaskMs, e.taskInfo.duration)
    a.firstLaunchMs = math.min(a.firstLaunchMs, e.taskInfo.launchTime)
    a.lastFinishMs = math.max(a.lastFinishMs, e.taskInfo.finishTime)
    Option(e.taskMetrics).foreach { m =>
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.inputRows += m.inputMetrics.recordsRead
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      a.outputRows += m.outputMetrics.recordsWritten
      a.outputBytes += m.outputMetrics.bytesWritten
    }
  }
}
