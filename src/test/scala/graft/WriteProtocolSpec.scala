package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Static guards on the one-write-protocol rules. Serving layouts: every
  * fold commits through [[graft.ext.ServingLayout]]'s staged swap, so a
  * dynamic partition overwrite anywhere would be a second commit path
  * without its manifest and roll-forward repair (Spark's overwrite deletes
  * a live partition before it renames the replacement in), a hand-built
  * removal set a new copy of the id-keyed replace rule, a
  * collected affected set a second control plane beside the fold's own
  * materialization, and a caller-side crowded check a compaction that
  * some folds skip.
  * Changelog sinks: rows are appended only through the StagedAppend
  * journal, full rewrites only through SinkLayout's version swap, and the
  * control plane reads the commit record instead of aggregating the sink.
  * Versions: sinks and persisted streaming state publish through one
  * module, graft.Versions, which alone names, stamps and stages them.
  * Streams: only StateStream decides how a stream is driven to
  * completion, so a per-query hook (a job tag, a progress listener) has
  * one place to attach. Dedup: every MinHash and SimHash route caps its
  * band groups through one kernel, so the cap contract cannot drift
  * between routes. */
class WriteProtocolSpec extends AnyFunSuite {

  /** Every main source's text, by path relative to src/main/scala. */
  private lazy val mainSources: Map[String, String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root")
    Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString.replace('\\', '/') ->
        new String(Files.readAllBytes(p), "UTF-8"))
      .toMap
  }

  /** Main sources (relative to src/main/scala) whose text holds `token`,
    * with its number of occurrences in each. */
  private def occurrencesIn(token: String): Map[String, Int] =
    mainSources
      .map { case (f, text) => f -> scala.util.matching.Regex.quote(token).r.findAllIn(text).size }
      .filter(_._2 > 0)

  /** (source, enclosing def) of every match of `pattern` in the main
    * sources — the def is the last one declared before the match. */
  private def defsMatching(pattern: scala.util.matching.Regex): Seq[(String, String)] =
    for {
      (file, text) <- mainSources.toSeq.sortBy(_._1)
      m <- pattern.findAllMatchIn(text).toSeq
    } yield file -> """def (\w+)""".r.findAllMatchIn(text.substring(0, m.start))
      .toSeq.lastOption.fold("?")(_.group(1))

  /** Main sources (relative to src/main/scala) whose text holds `token`. */
  private def mainSourcesWith(token: String): Seq[String] =
    occurrencesIn(token).keys.toSeq.sorted

  test("no source in src/main/scala sets partitionOverwriteMode") {
    val users = mainSourcesWith("partitionOverwriteMode")
    assert(users.isEmpty,
      s"a partition rewrite must commit through ServingLayout.rewrite's swap: $users")
  }

  test("only ServingLayout builds the old ∪ new id removal set") {
    // `__did` is the removal set's column: a fold restating the
    // anti-join + union rule instead of calling Artifact.replaceIds
    val users = mainSourcesWith("__did")
    assert(users == Seq("graft/ext/ServingLayout.scala"),
      s"the id-keyed replace rule must go through ServingLayout: $users")
  }

  test("only ServingLayout decides which partitions are crowded") {
    // a fold handed a crowded set by its caller would make compaction an
    // opt-in again instead of a property of every rewrite
    val users = mainSourcesWith("crowdedValues")
    assert(users == Seq("graft/ext/ServingLayout.scala"),
      s"the crowded-partition check must stay inside ServingLayout.rewrite: $users")
  }

  test("id-keyed folds go through Artifact.fold") {
    val users = mainSourcesWith(".replaceIds(")
    assert(users.forall(_ == "graft/ext/ServingLayout.scala"),
      s"an id-keyed fold must call Artifact.fold, not restate it: $users")
    // the episode fold is the one rewrite that is not id-keyed: a touched
    // key's timeline re-windows over its stored and new episodes
    val rewrites = defsMatching("""(?<!def )\brewrite\(""".r)
      .filterNot(_._1 == "graft/ext/ServingLayout.scala")
    assert(rewrites == Seq("graft/cdc/ServingBridge.scala" -> "episodesServingFold"),
      s"a fold outside ServingLayout must call Artifact.fold: $rewrites")
  }

  test("a fold learns its partitions only from ServingLayout.materialize") {
    // a separate collect of the affected set or a separately built removal
    // set would be a second control-plane path beside the fold's own
    // materialization
    assert(occurrencesIn("affectedValues(").isEmpty && occurrencesIn("deltaIds(").isEmpty,
      s"affectedValues/deltaIds are gone: ${occurrencesIn("affectedValues(") ++
        occurrencesIn("deltaIds(")}")
  }

  test("only the journal stages changelog rows") {
    // a stampAndAppend caller outside StagedAppend would be a sink append
    // that bypasses the manifest, so a crash could not be rolled back
    val users = mainSourcesWith("stampAndAppend(")
    assert(users == Seq("graft/cdc/PopulateChangelog.scala", "graft/cdc/StagedAppend.scala"),
      s"changelog rows must reach the sink through StagedAppend: $users")
  }

  test("no whole-sink aggregate on the populate, streaming or query control plane") {
    // the HWM, id offset and freshness fold from the sink's commit record;
    // a sink scan would make every batch and report grow with history
    for (f <- Seq("graft/cdc/StagedAppend.scala", "graft/streaming/StreamingPopulate.scala"))
      assert(!mainSources(f).contains("SinkLayout.read("), s"$f must not read the sink")
    assert(!mainSources("graft/cdc/QueryData.scala").contains(".agg("),
      "the report's freshness comes from the commit record")
    // the scan the record replaced is only the tests' reference now
    assert(occurrencesIn("sinkState(") == Map("graft/cdc/Checkpoint.scala" -> 1),
      s"sinkState must not be called from the program: ${occurrencesIn("sinkState(")}")
    // the scans left: the migration of a sink without a record (and the
    // rebuild after a partition backfill), the reader's fallback for such a
    // sink, and subject deletion's recount of the version it writes
    assert(defsMatching("""(?<!def )scanSink\(""".r).map(_._2).toSet == Set("rebuild", "freshness"))
    assert(defsMatching("""(?<!def )rebuild\(""".r).toSet == Set(
      "graft/cdc/Checkpoint.scala" -> "committed", "graft/cdc/Repair.scala" -> "repairDay"))
    assert(defsMatching("""(?<!def )scanEntries\(""".r) == Seq(
      "graft/cdc/Checkpoint.scala" -> "scanSink", "graft/cdc/SinkLayout.scala" -> "swapVersion"))
  }

  test("only SinkLayout runs the versioned swap") {
    val swaps = defsMatching("""(?<!def )swapVersion\(""".r)
    assert(swaps == Seq("graft/cdc/Compact.scala" -> "compactSink", "graft/cdc/Forget.scala" -> "forgetKeys"),
      s"full-sink rewrites must go through SinkLayout.swapVersion: $swaps")
    // a sink version is published by the swap or by a sink's first write;
    // persisted streaming state publishes through the same module
    val publishers = defsMatching("""Versions\.publish\(""".r)
    assert(publishers == Seq(
      "graft/cdc/SinkLayout.scala" -> "swapVersion",
      "graft/cdc/StagedAppend.scala" -> "stageAndPublish",
      "graft/streaming/StateStream.scala" -> "publishState",
      "graft/streaming/StateStream.scala" -> "foldIsolatedGen",
      "graft/streaming/StateStream.scala" -> "sketchMaintainAvailableNow",
      "graft/streaming/StateStream.scala" -> "cmMutate"),
      s"a version must be published through Versions.publish: $publishers")
  }

  test("one module names, stamps and stages versions") {
    // the version-dir name, the stamp and the stage prefix: a second
    // place spelling one would be a second version protocol
    for (token <- Seq("data_v", "_PUBLISHED", "_stage_v"))
      assert(mainSourcesWith(token) == Seq("graft/Versions.scala"),
        s"$token must occur only in graft.Versions: ${mainSourcesWith(token)}")
    // the flat layout and its migration manifest are gone
    for (token <- Seq("_flat_" + "v", "isFlat" + "Data"))
      assert(mainSourcesWith(token).isEmpty, s"$token is gone: ${mainSourcesWith(token)}")
  }

  test("bounded streams drain in one place") {
    // StateStream's foreachBatch drive and file-sink drain, plus the one
    // complete-mode memory-sink grading drive in EventStream
    val expected = Map(
      "graft/streaming/StateStream.scala" -> 2, "graft/streaming/EventStream.scala" -> 1)
    assert(occurrencesIn("AvailableNow()") == expected,
      "a bounded stream must be driven by StateStream.foldFiles or StateStream.drain")
    assert(occurrencesIn(".writeStream") == expected,
      "a stream sink outside StateStream restates its drive")
  }

  test("the banded cap lives in one place") {
    // a filter of a group count against maxBucket applies the cap; the
    // audits' when(... <= maxBucket, "joined") columns only report it.
    // The two embedding listings keep their hot-bucket literal, which
    // also confines their exact route
    val caps = defsMatching("""(where|filter)\(col\("[^"]+"\) *[<>]=? *maxBucket\b""".r)
    assert(caps == Seq("graft/ext/Dedup.scala" -> "cappedPairs",
      "graft/ext/Dedup.scala" -> "embDupPairsFrom", "graft/ext/Dedup.scala" -> "embMultiPairsFrom"),
      s"a MinHash or SimHash route must apply its cap through Dedup.cappedPairs: $caps")
    val callers = defsMatching("""(?<!def )cappedPairs\(""".r).map(_._2).toSet
    assert(callers == Set("bandedCandidates", "minhashIngestCandidates",
      "minhashServingCandidates", "minhashPairsFrom", "simhashValuePairs"),
      s"the banded routes reach the kernel through these defs: $callers")
  }
}
