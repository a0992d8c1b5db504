package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One shared local session for the whole suite (ScalaTest runs suites in
  * one forked JVM; re-creating sessions per suite is the slow path). */
trait SparkFixture {
  lazy val spark: SparkSession = SparkFixture.session

  def ts(s: String): Timestamp = Timestamp.valueOf(s)

  /** Hand-built CDC feed with a single key column `k` and one payload
    * column `v` (mask ordinals: k=0, v=1). */
  def feedKV(rows: Seq[(Long, Long, Int, Long, String, String, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.map { case (lsn, seq, op, mask, t, k, v) => (lsn, seq, op, mask, ts(t), k, v) }
      .toDF("start_lsn", "seqval", "operation", "update_mask", "commit_time", "k", "v")
  }

  /** The SQL execution ids of the jobs `body` runs (null for a job
    * outside any execution), seen under a job group of their own. */
  def executionsOf(body: => Unit): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val group = s"executions-${System.nanoTime()}"
    val marker = s"$group-marker"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val jl = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add((e.properties.getProperty("spark.jobGroup.id"),
          e.properties.getProperty("spark.sql.execution.root.id")))
    }
    sc.addSparkListener(jl)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      // listener events arrive in order: once the marker job is seen,
      // every job of `body` has been seen too
      sc.setJobGroup(marker, marker)
      try spark.range(1).collect() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!jobs.asScala.exists(_._1 == marker) && System.nanoTime() < deadline)
        Thread.sleep(20)
      jobs.asScala.toSeq.filter(_._1 == group).map(_._2)
    } finally sc.removeSparkListener(jl)
  }

  /** The call site (the action's stack, innermost frame first) of each
    * distinct SQL execution `body` runs. */
  def executionSitesOf(body: => Unit): Seq[String] = {
    val sites = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          sites.put(s.executionId.toString, s.details)
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(l)
    try executionsOf(body).distinct.map(id => Option(id).map(sites.get).getOrElse("<no execution>"))
    finally spark.sparkContext.removeSparkListener(l)
  }
}

object SparkFixture {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
