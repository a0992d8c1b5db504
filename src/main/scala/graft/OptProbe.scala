package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Optimization-round decomposition harness: times NAMED sub-stages of the
  * expensive graded queries in isolation (noop sink, same methodology as
  * [[Bench]]) so optimization targets the stage that actually costs, not
  * the one that looks expensive. Not a graded query and never part of the
  * bench surface — a measurement tool like [[PlanAudit]].
  *
  * {{{ sbt "runMain graft.OptProbe <target> [passes]" }}}
  */
object OptProbe {
  private def time[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[optprobe] $label%-40s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    r
  }

  private def sinkTime(label: String, df: => DataFrame): Unit =
    time(label)(df.write.mode("overwrite").format("noop").save())

  def main(args: Array[String]): Unit = {
    val target = args.headOption.getOrElse("dedup_weights")
    val passes = args.lift(1).map(_.toInt).getOrElse(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Verify.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"), "WARN")

    for (p <- 1 to passes) {
      println(s"[optprobe] === $target pass $p ===")
      TempDirs.sweep()
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      System.gc()
      run(spark, sfDir, target)
    }
    spark.stop()
  }

  private def run(s: SparkSession, dir: String, target: String): Unit = {
    val c = graft.ext.DocFeed.withDups(s.read.parquet(s"$dir/documents.parquet"))
    target match {
      case "dedup_weights" =>
        val pairs = time("nearDuplicatePairs") {
          graft.ext.Dedup.nearDuplicatePairs(c)
        }
        val labels = time("connectedComponents") {
          graft.ext.Cluster.connectedComponents(pairs)
        }
        sinkTime("assign+weights (rest of query)", {
          val assigned = graft.ext.Cluster.assignFromLabels(c, labels)
          val sizes = assigned.groupBy("cluster_id").agg(count(lit(1)).as("n_members"))
          assigned.join(sizes, Seq("cluster_id"))
        })
        sinkTime("full duplicateWeights+orderBy",
          graft.ext.Cluster.duplicateWeights(c, graft.ext.Dedup.nearDuplicatePairs(c))
            .orderBy("doc_id"))
      case "near_dup_pairs" =>
        // inside nearDuplicatePairs: shingling, signatures, banding, verify
        val raw = time("rawShingles cache+count") {
          val r = graft.ext.Dedup.rawShingles(c).cache()
          r.count()
          r
        }
        sinkTime("minhashSignatures", graft.ext.Dedup.minhashSignatures(raw))
        sinkTime("bandedCandidates via candidatePairs",
          graft.ext.Dedup.candidatePairs(c))
        // drop the probe-level cache FIRST so the total row is
        // cold-comparable to bench.json (a plan-identical cached shingle
        // frame would warm it — the r16 advice)
        raw.unpersist(true)
        sinkTime("nearDuplicatePairs total", graft.ext.Dedup.nearDuplicatePairs(c))
      case "simhash_race" =>
        // mirrors ext_simhash_serving_probe_race's stages over a locally
        // built hist layout (same shapes; fixture-build cost excluded)
        val hist = s.read.parquet(s"$dir/documents.parquet")
        val histState = time("build hist layout (untimed in bench)") {
          val tmp = TempDirs.create("optprobe_sh")
          graft.ext.Dedup.simhashWriteServingLayout(hist,
            tmp.resolve("vrows").toString, tmp.resolve("docs").toString)
          tmp
        }
        val base = TempDirs.create("optprobe_shrace")
        val layout = base.resolve("layout").toString
        time("publish (copy state into gen 1)") {
          graft.streaming.StateStream.publishState(s, layout) { stage =>
            val p = java.nio.file.Paths.get(stage.toUri.getPath)
            TempDirs.copyInto(histState.resolve("vrows"), p.resolve("vrows"))
            TempDirs.copyInto(histState.resolve("docs"), p.resolve("docs"))
          }
        }
        val gen1 = graft.streaming.StateStream.statePath(s, layout)
        val batch = c.where(col("doc_id") >= graft.ext.DocFeed.ExactDupOffset)
        sinkTime("probe gen1 (the pre probe)",
          graft.ext.Dedup.simhashServingProbe(s, s"$gen1/vrows", s"$gen1/docs", batch))
        sinkTime("probe gen1 AGAIN (warm twin)",
          graft.ext.Dedup.simhashServingProbe(s, s"$gen1/vrows", s"$gen1/docs", batch))
      case "simhash_probe_stages" =>
        val hist = s.read.parquet(s"$dir/documents.parquet")
        val tmp = TempDirs.create("optprobe_shp")
        graft.ext.Dedup.simhashWriteServingLayout(hist,
          tmp.resolve("vrows").toString, tmp.resolve("docs").toString)
        val batch = c.where(col("doc_id") >= graft.ext.DocFeed.ExactDupOffset)
        sinkTime("batch simhash() alone", graft.ext.Dedup.simhash(batch))
        sinkTime("valuePairs stage", graft.ext.Dedup.simhashServingValuePairs(
          s, tmp.resolve("vrows").toString, batch))
        sinkTime("candidates stage", graft.ext.Dedup.simhashServingCandidates(
          s, tmp.resolve("vrows").toString, tmp.resolve("docs").toString, batch))
        sinkTime("full probe", graft.ext.Dedup.simhashServingProbe(
          s, tmp.resolve("vrows").toString, tmp.resolve("docs").toString, batch))
      case "embdup" =>
        val e = s.read.parquet(s"$dir/embeddings.parquet")
        val dupd = graft.ext.EmbFeed.withDups(e)
        val tmp = TempDirs.create("optprobe_ed")
        val vecs = tmp.resolve("vecs").toString
        time("build embdup layout (untimed in bench)") {
          graft.ext.Dedup.embDupWriteServingLayout(dupd, vecs)
        }
        def listing = graft.ext.Dedup.embDupPairsFrom(
          graft.ext.Dedup.embDupVecs.read(s, vecs))
        sinkTime("pairs listing (raw path)", listing)
        sinkTime("pairs listing again (warm)", listing)
        sinkTime("pairs listing + orderBy", listing.orderBy("id_a", "id_b"))
        val ids = dupd.where(col("vec_id") % 100 === 50).select(col("vec_id"))
        val oldV = dupd.join(ids, Seq("vec_id"), "left_semi")
          .select(col("vec_id"), col("embedding"))
        time("one fold (revise ~1% ids)") {
          graft.ext.Dedup.embDupServingFold(s, vecs, oldV,
            oldV.select(col("vec_id"), reverse(col("embedding")).as("embedding")))
        }
      case "embmulti" =>
        val e = s.read.parquet(s"$dir/embeddings.parquet")
        val nd = graft.ext.EmbFeed.withNearDups(e)
        val tmp = TempDirs.create("optprobe_edm")
        val trows = tmp.resolve("trows").toString
        val vecs = tmp.resolve("vecs").toString
        time("build multiband layout (untimed in bench)") {
          graft.ext.Dedup.embMultiWriteServingLayout(nd, trows, vecs)
        }
        def listing = graft.ext.Dedup.embMultiPairsFrom(
          graft.ext.Dedup.embMultiTRows.read(s, trows),
          graft.ext.Dedup.embMultiVecs.read(s, vecs))
        sinkTime("multiband pairs listing", listing)
        sinkTime("multiband pairs listing again", listing)
      case "triangles" =>
        // ext_triangles decomposed: projection (distinct, group cap,
        // per-group quadratic join, edge distinct) vs the counting
        // stages (degrees, orientation, wedge join + closure, per-node
        // aggregation) — mirrors Graph.triangleStats stage by stage
        val pm = s.read.parquet(s"$dir/lineitem.parquet")
          .select(col("l_orderkey").cast("long").as("g"),
            col("l_partkey").cast("long").as("m"))
        val cap = graft.ext.Graph.CoPurchaseGroupCap
        sinkTime("pm.distinct", pm.select(col("g"), col("m")).distinct())
        sinkTime("coOccurrenceEdges total",
          graft.ext.Graph.coOccurrenceEdges(pm, "g", "m", cap))
        val e = time("edges materialized") {
          graft.ext.Graph.coOccurrenceEdges(pm, "g", "m", cap)
            .localCheckpoint(true)
        }
        println(s"[optprobe] |E| = ${e.count()}")
        val deg = time("degrees materialized") {
          e.select(col("a").as("node")).union(e.select(col("b").as("node")))
            .groupBy("node").agg(count(lit(1)).as("deg")).localCheckpoint(true)
        }
        val oriented = time("orientation materialized") {
          val withDeg = e
            .join(deg.select(col("node").as("a"), col("deg").as("__da")), "a")
            .join(deg.select(col("node").as("b"), col("deg").as("__db")), "b")
          val fwd = col("__da") < col("__db") ||
            (col("__da") === col("__db") && col("a") < col("b"))
          withDeg.select(
            when(fwd, col("a")).otherwise(col("b")).as("u"),
            when(fwd, col("b")).otherwise(col("a")).as("v"),
            when(fwd, col("__db")).otherwise(col("__da")).as("__dv"))
            .localCheckpoint(true)
        }
        val o1 = oriented.select(col("u"), col("v").as("x"), col("__dv").as("__dx"))
        val o2 = oriented.select(col("u"), col("v").as("y"), col("__dv").as("__dy"))
        val wedges = o1.join(o2, Seq("u"))
          .where(col("__dx") < col("__dy") ||
            (col("__dx") === col("__dy") && col("x") < col("y")))
        sinkTime("wedge join alone", wedges)
        val closeSide = oriented.select(col("u").as("x"), col("v").as("y"))
        val tri = wedges.join(broadcast(closeSide), Seq("x", "y"))
          .select(col("u"), col("x"), col("y"))
        sinkTime("wedges + broadcast closure", tri)
        sinkTime("per-node aggregation (rest)", {
          val perNode = tri.select(col("u").as("node"))
            .union(tri.select(col("x").as("node")))
            .union(tri.select(col("y").as("node")))
            .groupBy("node").agg(count(lit(1)).as("tri"))
          deg.join(perNode, Seq("node"), "left")
        })
        // per-u wedge skew: top out-degrees bound the largest task
        time("top-10 oriented out-degrees") {
          oriented.groupBy("u").agg(count(lit(1)).as("od"))
            .orderBy(col("od").desc).limit(10).collect()
            .foreach(r => println(s"[optprobe]   u=${r.get(0)} out_deg=${r.get(1)}"))
        }
        sinkTime("triangleStats from materialized edges",
          graft.ext.Graph.triangleStats(e))
      case "dpp_test" =>
        // Can a CHECKPOINTED dim side still trigger runtime partition
        // pruning when given a semantically-no-op "likely selective"
        // predicate? If yes, the probes can stop re-deriving their dim
        // sides from raw batch lineage (re-signing the batch per dim).
        val hist = s.read.parquet(s"$dir/documents.parquet")
        val tmp = TempDirs.create("optprobe_dpp")
        graft.ext.Dedup.simhashWriteServingLayout(hist,
          tmp.resolve("vrows").toString, tmp.resolve("docs").toString)
        val batch = c.where(col("doc_id") === (graft.ext.DocFeed.NearDupOffset + 11L))
        val (vb0, _) = graft.ext.Dedup.simhashServingRows(batch)
        val vb = vb0.localCheckpoint(true)
        // the DECLARED layout schema (band is INT32 — a hand-rolled
        // all-Long schema inserted a join-key cast absent from the real
        // stage and made the A/B/C comparison non-apples-to-apples)
        val storedV = graft.ext.Dedup.simhashVrows.read(s, tmp.resolve("vrows").toString)
        def partsRead(df: DataFrame, label: String): Unit = {
          df.collect()
          def scans(p: org.apache.spark.sql.execution.SparkPlan)
              : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
            p.flatMap {
              case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
              case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scans(q.plan)
              case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => scans(r.child)
              case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => scans(a.executedPlan)
              case _ => Nil
            }
          // dedup by node identity: a ReusedExchangeExec leaf points at a
          // subtree that also appears under its own QueryStageExec, so a
          // naive walk can count the same scan twice (the r16 advice)
          val fs = scans(df.queryExecution.executedPlan)
            .groupBy(System.identityHashCode(_)).map(_._2.head).toSeq
            .filter(_.metadata.get("Location").exists(_.contains("vrows")))
          val dpp = df.queryExecution.executedPlan.toString.contains("dynamicpruning")
          println(s"[optprobe] $label partitions read: " +
            fs.map(_.metrics.get("numPartitions").map(_.value)).mkString(",") +
            s" dynamicpruning-in-plan=$dpp")
        }
        // A: the current idiom — lazy dim with batch-filter lineage
        partsRead(storedV.join(broadcast(vb0.select("sband", "band", "bv").distinct()),
          Seq("sband", "band", "bv")), "A lazy-lineage dim")
        // A': the REAL production stage, same session
        partsRead(graft.ext.Dedup.simhashServingValuePairs(
          s, tmp.resolve("vrows").toString, batch), "A' real valuePairs")
        // B: checkpointed dim, no filter
        partsRead(storedV.join(broadcast(vb.select("sband", "band", "bv").distinct()),
          Seq("sband", "band", "bv")), "B checkpointed dim")
        // C: checkpointed dim + no-op selective predicate
        partsRead(storedV.join(broadcast(vb.select("sband", "band", "bv")
            .where(col("sband") >= 0L).distinct()),
          Seq("sband", "band", "bv")), "C checkpointed dim + sband>=0")
      case other =>
        println(s"[optprobe] unknown target $other")
    }
  }
}
