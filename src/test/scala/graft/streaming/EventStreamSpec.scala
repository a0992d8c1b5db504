package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.streaming.EventStream.{Session, UserEvent}

/** Streaming semantics of the event operators, driven through real
  * micro-batches with a MemoryStream source. */
class EventStreamSpec extends AnyFunSuite with SparkFixture {

  private def ue(user: Long, t: String, typ: String = "click") =
    UserEvent(user, ts(t), typ)

  test("sessionize: gap closure on arrival and watermark-timeout closure") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext

    val in = MemoryStream[UserEvent]
    val sessions = EventStream.sessionize(in.toDS(), gapMs = 60000L, watermarkDelay = "10 minutes")
    val query = sessions.writeStream.format("memory").queryName("sess")
      .outputMode("append").start()
    try {
      // batch 1: user 1 — two events 30s apart (one session), then one
      // 10 minutes later (crosses the gap -> closes session 1 on arrival)
      in.addData(ue(1, "2024-01-01 10:00:00"), ue(1, "2024-01-01 10:00:30"),
        ue(1, "2024-01-01 10:10:00"))
      query.processAllAvailable()
      // batch 2: unrelated user far in the future advances the watermark
      in.addData(ue(2, "2024-01-01 12:00:00"))
      query.processAllAvailable()
      // batch 3: another event so the timeout (watermark 11:50 > 10:11)
      // fires for user 1's dangling session; also closes user 2's first
      // session by gap on arrival
      in.addData(ue(2, "2024-01-01 12:30:00"))
      query.processAllAvailable()

      val got = spark.table("sess").as[Session].collect()
        .map(x => (x.user_id, x.session_start.toString, x.session_end.toString, x.n_events)).toSet
      assert(got.contains((1L, "2024-01-01 10:00:00.0", "2024-01-01 10:00:30.0", 2)),
        "gap-closure on arrival")
      assert(got.contains((1L, "2024-01-01 10:10:00.0", "2024-01-01 10:10:00.0", 1)),
        "watermark-timeout closure")
      assert(got.contains((2L, "2024-01-01 12:00:00.0", "2024-01-01 12:00:00.0", 1)))
    } finally query.stop()
  }

  test("sessionize: a late event far BEFORE the open session becomes its own session") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext

    val in = MemoryStream[UserEvent]
    val sessions = EventStream.sessionize(in.toDS(), gapMs = 60000L, watermarkDelay = "30 minutes")
    val query = sessions.writeStream.format("memory").queryName("sess_late")
      .outputMode("append").start()
    try {
      in.addData(ue(1, "2024-01-01 10:00:00"))
      query.processAllAvailable()
      // 5 minutes before the open session's start, within the watermark,
      // far beyond the 60s gap: must NOT stretch the session backward
      in.addData(ue(1, "2024-01-01 09:55:00"))
      query.processAllAvailable()
      in.addData(ue(2, "2024-01-01 12:00:00"), ue(2, "2024-01-01 12:30:00"))
      query.processAllAvailable()

      val got = spark.table("sess_late").as[Session].collect()
        .map(x => (x.user_id, x.session_start.toString, x.n_events)).toSet
      assert(got.contains((1L, "2024-01-01 09:55:00.0", 1)),
        "the late event is emitted as its own complete session")
      assert(!got.exists { case (u, _, n) => u == 1L && n > 1 },
        "the open 10:00 session must not absorb the far-earlier event")
    } finally query.stop()
  }

  test("sessionPaths: ordered paths, bounded state truncation, id tiebreak at equal times") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    import graft.streaming.EventStream.{PathEvent, PathSession}

    def pe(user: Long, t: String, id: Long, typ: String) = PathEvent(user, ts(t), id, typ)

    val in = MemoryStream[PathEvent]
    val paths = EventStream.sessionPaths(in.toDS(), gapMs = 60000L, maxLen = 3,
      watermarkDelay = "10 minutes")
    val query = paths.writeStream.format("memory").queryName("paths_mem")
      .outputMode("append").start()
    try {
      // user 1: 5 events in one session (> maxLen=3 -> truncated path with
      // marker), two sharing a timestamp so event_id breaks the order;
      // delivered across two batches out of time order within the gap
      in.addData(pe(1, "2024-01-01 10:00:00", 1, "a"), pe(1, "2024-01-01 10:00:20", 3, "c"),
        pe(1, "2024-01-01 10:00:20", 2, "b"))
      query.processAllAvailable()
      in.addData(pe(1, "2024-01-01 10:00:40", 4, "d"), pe(1, "2024-01-01 10:00:10", 0, "z"))
      query.processAllAvailable()
      // user 2: exactly maxLen events -> no marker
      in.addData(pe(2, "2024-01-01 11:00:00", 5, "x"), pe(2, "2024-01-01 11:00:01", 6, "y"),
        pe(2, "2024-01-01 11:00:02", 7, "x"))
      query.processAllAvailable()
      // far-future watermark push closes both
      in.addData(pe(3, "2024-01-02 10:00:00", 8, "w"))
      query.processAllAvailable()

      val got = spark.table("paths_mem").as[PathSession].collect()
        .map(x => (x.user_id, x.path)).toSet
      // (time, id) order: a(10:00:00,1) z(10:00:10,0) b(10:00:20,2)
      // c(10:00:20,3) d(10:00:40,4) -> first 3 + marker
      assert(got.contains((1L, "a>z>b>…")), s"got $got")
      assert(got.contains((2L, "x>y>x")))
    } finally query.stop()
  }

  test("eventTransitions: watermark-delayed ordered replay pairs across batch boundaries") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    import graft.streaming.EventStream.{PathEvent, TransPair}

    def pe(user: Long, t: String, id: Long, typ: String) = PathEvent(user, ts(t), id, typ)

    val in = MemoryStream[PathEvent]
    val pairs = EventStream.eventTransitions(in.toDS(), watermarkDelay = "10 minutes")
    val query = pairs.writeStream.format("memory").queryName("trans_mem")
      .outputMode("append").start()
    try {
      // batch 1: a (10:00) and c (10:02) — watermark too low to pair yet
      in.addData(pe(1, "2024-01-01 10:00:00", 1, "a"), pe(1, "2024-01-01 10:02:00", 3, "c"))
      query.processAllAvailable()
      // batch 2: b (10:01) arrives LATE but within the watermark — must
      // slot BETWEEN a and c (a premature a->c pair would be wrong)
      in.addData(pe(1, "2024-01-01 10:01:00", 2, "b"),
        pe(2, "2024-01-01 12:00:00", 9, "x"))
      query.processAllAvailable()
      // advance the watermark far past everything; timeouts flush
      in.addData(pe(2, "2024-01-02 12:00:00", 10, "y"))
      query.processAllAvailable()
      // one more push so the watermark passes y itself (wm trails by the
      // 10-minute delay) and user 2's pending pair finalizes via timeout
      in.addData(pe(3, "2024-01-03 12:00:00", 11, "z"))
      query.processAllAvailable()

      val got = spark.table("trans_mem").as[TransPair].collect()
        .map(p => (p.user_id, p.from_type, p.to_type))
      assert(got.count(_._1 == 1L) === 2)
      assert(got.toSet.contains((1L, "a", "b")) && got.toSet.contains((1L, "b", "c")),
        s"late in-watermark event must order into the chain, got ${got.toSeq}")
      assert(!got.contains((1L, "a", "c")), "no premature pair across the late slot")
      assert(got.toSet.contains((2L, "x", "y")), "boundary survives a long quiet gap")
    } finally query.stop()
  }

  test("dedupStream drops duplicate keys across micro-batches within the watermark") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext

    val in = MemoryStream[(Long, java.sql.Timestamp)]
    val df = in.toDF().toDF("event_id", "event_time")
    val query = EventStream.dedupStream(df).writeStream
      .format("memory").queryName("dedup").outputMode("append").start()
    try {
      in.addData((1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-01 10:00:01")),
        (2L, ts("2024-01-01 10:00:02")))
      query.processAllAvailable()
      in.addData((1L, ts("2024-01-01 10:01:00")), (3L, ts("2024-01-01 10:01:30")))
      query.processAllAvailable()
      val ids = spark.table("dedup").select("event_id").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L),
        "the cross-batch duplicate of id 1 is dropped while its state is within the watermark")
    } finally query.stop()
  }

  test("interval join runs as a watermarked stream-stream join with the same code") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext

    val views = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val purchases = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val v = views.toDF().toDF("user_id", "view_id", "v_t")
      .withWatermark("v_t", "10 minutes")
    val p = purchases.toDF().toDF("user_id", "purchase_id", "p_t")
      .withWatermark("p_t", "10 minutes")
    val joined = graft.ops.IntervalJoin.withinAfter(
      v, p, Seq("user_id"), "v_t", "p_t", maxGapS = 3600L)
      .select("view_id", "purchase_id")
    val query = joined.writeStream.format("memory").queryName("ssjoin")
      .outputMode("append").start()
    try {
      views.addData((1L, 10L, ts("2024-01-01 10:00:00")), (2L, 11L, ts("2024-01-01 10:00:00")))
      purchases.addData(
        (1L, 20L, ts("2024-01-01 10:30:00")), // in window -> pair
        (1L, 21L, ts("2024-01-01 12:00:00")), // beyond 1h -> no pair
        (2L, 22L, ts("2024-01-01 09:30:00"))) // before the view -> no pair
      query.processAllAvailable()
      val got = spark.table("ssjoin").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((10L, 20L)))
    } finally query.stop()
  }

  test("left-outer stream-stream join: unmatched views get their NULL " +
      "verdict, including the TAIL view whose horizon outlives the data") {
    val s = spark
    import s.implicits._
    val t0 = 1700000000L
    // the tail view is the LAST event in the stream: its join horizon ends
    // after every other event, so its no-match verdict needs the sentinel
    // watermark push — the exact case a single-pass drive silently drops
    val events = Seq(
      (10L, 1L, t0, "view"),
      (20L, 1L, t0 + 1800, "purchase"), // pairs with view 10
      (11L, 2L, t0 + 100, "view"), // unmatched
      (21L, 9L, t0 + 50, "purchase"), // no view for this user
      (12L, 3L, t0 + 3600, "view") // tail view, unmatched
    ).toDF("event_id", "user_id", "t_s", "event_type")
      .select($"event_id", $"user_id",
        ($"t_s" * 1000000000L).as("ts"), $"event_type")
    val got = graft.streaming.EventStream.intervalJoinLeftStreamedToFiles(s, events)
      .collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))
      .toSet
    assert(got == Set(
      (10L, 20L, 1L, 1800L),
      (11L, -1L, 2L, -1L),
      (12L, -1L, 3L, -1L)))
  }

  test("full-outer stream-stream join adds the orphaned purchases — " +
      "including the TAIL purchase whose state outlives the data") {
    val s = spark
    import s.implicits._
    val t0 = 1700000000L
    val events = Seq(
      (10L, 1L, t0, "view"),
      (20L, 1L, t0 + 1800, "purchase"), // pairs with view 10
      (11L, 2L, t0 + 100, "view"), // unmatched view
      (21L, 9L, t0 + 50, "purchase"), // orphan: user 9 never viewed
      (22L, 4L, t0 + 7200, "purchase") // TAIL orphan: last event in stream
    ).toDF("event_id", "user_id", "t_s", "event_type")
      .select($"event_id", $"user_id",
        ($"t_s" * 1000000000L).as("ts"), $"event_type")
    val got = graft.streaming.EventStream.intervalJoinFullStreamedToFiles(s, events)
      .collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))
      .toSet
    assert(got == Set(
      (10L, 20L, 1L, 1800L),
      (11L, -1L, 2L, -1L), // unmatched view keeps its NULL verdict
      (-1L, 21L, 9L, -1L), // orphaned purchase, coalesced key
      (-1L, 22L, 4L, -1L))) // tail orphan needs the view-side sentinel
  }

  test("streaming funnel: a later-batch in-watermark view still qualifies " +
      "the click that arrived before it; order gates hold") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    import graft.streaming.EventStream.{PathEvent, funnelStages}
    val src = MemoryStream[PathEvent]
    val query = funnelStages(src.toDS(), flushGapMs = 15L * 24 * 3600 * 1000)
      .writeStream.format("memory").queryName("funnelstream")
      .outputMode("append").start()
    try {
      def ev(u: Long, t: Long, id: Long, y: String) =
        PathEvent(u, new java.sql.Timestamp(t * 1000), id, y)
      // batch 1: user 1's click+purchase arrive BEFORE its view;
      // user 2 purchases before ever viewing (must stay stage 1 on view)
      src.addData(ev(1, 200, 2, "click"), ev(1, 300, 3, "purchase"),
        ev(2, 100, 4, "purchase"), ev(2, 200, 5, "view"))
      query.processAllAvailable()
      // batch 2: user 1's view arrives late but inside the watermark —
      // ordered replay must slot it BEFORE the click
      src.addData(ev(1, 100, 1, "view"))
      query.processAllAvailable()
      // flush: push the watermark past every user's 15-day horizon
      src.addData(ev(99, 100 + 17L * 24 * 3600, 6, "view"))
      query.processAllAvailable()
      src.addData(ev(98, 100 + 40L * 24 * 3600, 7, "view"))
      query.processAllAvailable()
      val got = s.table("funnelstream").collect()
        .map(r => r.getLong(0) -> ((Option(r.get(1)), Option(r.get(2)),
          Option(r.get(3)), r.getLong(4)))).toMap
      assert(got(1L) == ((Some(100L), Some(200L), Some(300L), 3L)))
      assert(got(2L) == ((Some(200L), None, None, 1L)))
    } finally query.stop()
  }

  test("eventWindowCounts finalizes windows incrementally under a watermark") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext

    val in = MemoryStream[(java.sql.Timestamp, String, String)]
    val df = in.toDF().toDF("event_time", "event_type", "props")
    val agg = EventStream.eventWindowCounts(df, "1 hour", "10 minutes")
    val query = agg.writeStream.format("memory").queryName("winagg")
      .outputMode("append").start()
    try {
      in.addData((ts("2024-01-01 10:05:00"), "click", """{"k": 3}"""),
        (ts("2024-01-01 10:20:00"), "click", """{"k": 4}"""))
      query.processAllAvailable()
      assert(spark.table("winagg").count() == 0, "window still open: nothing finalized")

      // event at 12:00 -> watermark 11:50 -> the 10:00 window finalizes
      in.addData((ts("2024-01-01 12:00:00"), "view", """{"k": 1}"""))
      query.processAllAvailable()
      in.addData((ts("2024-01-01 12:01:00"), "view", """{"k": 1}"""))
      query.processAllAvailable()

      val rows = spark.table("winagg")
        .select("window_start", "event_type", "n_events", "sum_k").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getLong(3))).toSet
      assert(rows.contains(("2024-01-01 10:00:00.0", "click", 2L, 7L)))
    } finally query.stop()
  }

  test("sketchMaintainAvailableNow's per-file folds reproduce the direct sketch") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val base = graft.TempDirs.create("graft_sketchstream")
    val corpusDir = base.resolve("corpus").toString
    val docs = (1 to 60).map(i => (s"k${i % 3}", s"v${i % 17}")).toDF("k", "v")
    docs.repartition(3).write.parquet(corpusDir)
    val state = StateStream.sketchMaintainAvailableNow(
      s, corpusDir, base.resolve("state").toString, base.resolve("ckpt").toString,
      "k", "v", df => df)
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val direct = graft.ext.Similarity.hllState(docs, "k", "v")
    assert(asMap(state) == asMap(direct),
      "streamed per-file folds must equal the one-shot sketch register-for-register")
    // the published state is the on-disk artifact, not a lineage handoff
    assert(asMap(StateStream.readState(s, base.resolve("state").toString)) == asMap(direct))
  }

  test("count-min stream fold is exactly-once: a replayed batchId is " +
      "skipped whole (sum-merge would double-count)") {
    val s = spark
    import s.implicits._
    val base = graft.TempDirs.create("graft_cmreplay")
    val stateDir = base.resolve("state").toString
    val b1 = Seq((1L, "hot hot cold"), (2L, "hot warm")).toDF("doc_id", "text")
    val b2 = Seq((3L, "cold cool")).toDF("doc_id", "text")
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    StateStream.cmFoldBatch(b1, 0L, stateDir, "text")
    StateStream.cmFoldBatch(b2, 1L, stateDir, "text")
    val once = cells(StateStream.readState(s, stateDir))
    assert(once == cells(graft.ext.TextOps.cmState(b1.unionByName(b2))),
      "two folds must equal the one-pass sketch")
    // a crash-redelivery of batch 1 must be absorbed by its marker
    StateStream.cmFoldBatch(b1, 0L, stateDir, "text")
    assert(cells(StateStream.readState(s, stateDir)) == once,
      "replaying an applied batchId must not change a single cell")
  }

  test("foldAvailableNow resumes from a persistent checkpoint: a restarted " +
      "drive folds ONLY the new feed files") {
    val s = spark
    import s.implicits._
    val base = graft.TempDirs.create("graft_foldresume")
    val feedDir = base.resolve("feed").toString
    val ckpt = base.resolve("ckpt").toString
    Seq((1L, "a")).toDF("id", "v").write.parquet(feedDir)
    val folded = scala.collection.mutable.ArrayBuffer.empty[Long]
    def drive(): Int = {
      var batches = 0
      StateStream.foldAvailableNow(s, feedDir, ckpt) { b =>
        batches += 1
        folded ++= b.select("id").collect().map(_.getLong(0))
      }
      batches
    }
    assert(drive() == 1 && folded.sorted == Seq(1L))
    // a new feed file lands; the restarted drive must fold it ALONE —
    // the checkpoint's file-source log already holds batch 0
    Seq((2L, "b")).toDF("id", "v").write.mode("append").parquet(feedDir)
    assert(drive() == 1, "restart must not re-deliver the already-folded file")
    assert(folded.sorted == Seq(1L, 2L))
    // nothing new: the drive wakes, delivers zero batches, terminates
    assert(drive() == 0)
  }

  test("cm state publish is generational: a crash can never leave NO readable " +
      "state (the delete-then-rename window is gone)") {
    val s = spark
    import s.implicits._
    import org.apache.hadoop.fs.Path
    val base = graft.TempDirs.create("graft_cmgen")
    val stateDir = base.resolve("state").toString
    val root = new Path(stateDir)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val b1 = Seq((1L, "hot hot cold")).toDF("doc_id", "text")
    val b2 = Seq((2L, "hot warm")).toDF("doc_id", "text")
    StateStream.cmFoldBatch(b1, 0L, stateDir, "text")
    // simulate a torn SECOND fold: a stage dir exists but never published
    fs.create(new Path(graft.Versions.stage(root, 2), "garbage"), true).close()
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    // the torn stage is invisible: gen 1 still reads
    assert(cells(StateStream.readState(s, stateDir)) ==
      cells(graft.ext.TextOps.cmState(b1)))
    // a reader resolves gen 1 BEFORE the next fold (file index built here)
    val inFlight = StateStream.readState(s, stateDir)
    // the retried fold reclaims the torn stage and publishes gen 2
    StateStream.cmFoldBatch(b2, 1L, stateDir, "text")
    assert(cells(StateStream.readState(s, stateDir)) ==
      cells(graft.ext.TextOps.cmState(b1.unionByName(b2))))
    def gens = graft.Versions.all(fs, root).map(_.n)
    // retirement is GRACED: the superseded gen 1 survives one publish cycle,
    // so the in-flight reader finishes on intact bytes with its old view
    assert(gens == Seq(2, 1), s"expected graced gen 1 + gen 2, got $gens")
    assert(cells(inFlight) == cells(graft.ext.TextOps.cmState(b1)),
      "a reader resolved before the flip must keep its full pre-fold view")
    // the NEXT flip retires the graced generation — grace is one cycle, not a leak
    StateStream.cmFoldBatch(Seq((3L, "cool")).toDF("doc_id", "text"), 2L, stateDir, "text")
    assert(gens == Seq(3, 2), s"expected gen 1 swept at the next flip, got $gens")
  }

  test("cm subject forget subtracts exactly and replays idempotently") {
    val s = spark
    import s.implicits._
    val base = graft.TempDirs.create("graft_cmforget")
    val stateDir = base.resolve("state").toString
    val keep = Seq((1L, "hot hot cold"), (2L, "hot warm")).toDF("doc_id", "text")
    val subject = Seq((3L, "cold cool hot")).toDF("doc_id", "text")
    StateStream.cmFoldBatch(keep.unionByName(subject), 0L, stateDir, "text")
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    StateStream.cmForgetState(s, stateDir, subject, tag = "req42", textCol = "text")
    val after = cells(StateStream.readState(s, stateDir))
    assert(after == cells(graft.ext.TextOps.cmState(keep)),
      "forget must leave EXACTLY the survivors' scratch sketch")
    // a replayed deletion request must be skipped whole (not subtracted twice)
    StateStream.cmForgetState(s, stateDir, subject, tag = "req42", textCol = "text")
    assert(cells(StateStream.readState(s, stateDir)) == after,
      "replaying a completed forget must not change a single cell")
  }

  test("hll subject forget re-sketches the survivors; a replayed request " +
      "publishes NO new generation") {
    val s = spark
    import s.implicits._
    import org.apache.hadoop.fs.Path
    val base = graft.TempDirs.create("graft_hllforget")
    val corpusDir = base.resolve("corpus").toString
    val keep = (1 to 40).map(i => (s"k${i % 2}", s"v${i % 13}"))
    val gone = (1 to 20).map(i => (s"k${i % 2}", s"vx${i % 7}"))
    (keep ++ gone).toDF("k", "v").repartition(2).write.parquet(corpusDir)
    val stateDir = base.resolve("state").toString
    StateStream.sketchMaintainAvailableNow(
      s, corpusDir, stateDir, base.resolve("ckpt").toString, "k", "v", df => df)
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val survivors = keep.toDF("k", "v")
    StateStream.hllForgetState(s, stateDir, survivors, "req7", "k", "v")
    assert(asMap(StateStream.readState(s, stateDir)) ==
      asMap(graft.ext.Similarity.hllState(survivors, "k", "v")),
      "the forget fallback must leave exactly the survivor scratch sketch")
    val fs = new Path(stateDir).getFileSystem(s.sparkContext.hadoopConfiguration)
    def gens = graft.Versions.all(fs, new Path(stateDir)).map(_.n)
    val once = gens
    // exactly-once: the replayed deletion request publishes nothing
    StateStream.hllForgetState(s, stateDir, survivors, "req7", "k", "v")
    assert(gens == once, s"replayed forget must publish no generation ($once vs $gens)")
  }
}
