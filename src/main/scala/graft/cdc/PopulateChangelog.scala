package graft.cdc

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DateType, LongType, StringType, StructField, StructType,
  TimestampType}

final case class PopulateResult(rowsInserted: Long, message: String)

/** The populate's data plane ≙ usp_cdc_populate_changelog's INSERT …
  * ORDER BY (:390-394): ChangelogBuilder, sort + assign ids, stamp the
  * audit columns (created_dt/created_by, DDL defaults :151-152,:172-173),
  * partitioned write. The procedure's control plane — checkpoint window, id offset,
  * the one-transaction commit — is [[StagedAppend]], the only caller; this
  * object never writes into a live sink.
  *
  * Scale notes (SURVEY §7.5.8): the sink is partitioned by
  * `commit_date = date(commit_time)` so usp_cdc_query_data's time-range scan
  * becomes real partition pruning; id assignment is per-batch (bounded), not
  * per-table.
  */
object PopulateChangelog {

  val AuditCols: Seq[String] = Seq("created_dt", "created_by")

  /** The changelog sink's columns as a parquet read of the sink yields
    * them (all nullable, the `commit_date` partition last): the builder's
    * output with one string column per key, the id and the audit stamp.
    * [[stampAndAppend]] writes exactly these, so a reader declares them
    * instead of inferring them from a footer with a Spark job. */
  private[cdc] def sinkSchema(cfg: CdcTableConfig): StructType = {
    val cols: Seq[(String, DataType)] =
      Seq("commit_time" -> TimestampType, "table_name" -> StringType) ++
        cfg.keyCols.map(_.trim -> StringType) ++
        ChangelogBuilder.ValueCols.map(_ -> StringType) ++
        Seq("changelog_id" -> LongType, "created_dt" -> TimestampType,
          "created_by" -> StringType, "modified_dt" -> TimestampType,
          "modified_by" -> StringType, "commit_date" -> DateType)
    StructType(cols.map { case (n, t) => StructField(n, t) })
  }

  /** Above this ESTIMATED batch size the single-window id path
    * ([[ChangelogBuilder.withIds]], one task sorts the whole batch) is
    * auto-upgraded to [[ChangelogBuilder.withIdsDistributed]]. 2 GiB of
    * input comfortably bounds one task's sort; a 100 TB first-run backfill
    * (one giant "batch") upgrades automatically instead of funnelling
    * through a single window partition. */
  val AutoDistributeBytes: Long = 2L << 30

  /** Id-path chooser: the optimizer's size estimate exceeds the threshold.
    * `optimizedPlan.stats` is a plan-time UPPER bound — without CBO a
    * Filter passes its child's sizeInBytes through, so a small windowed
    * batch over a huge source still reads as huge and auto-distributes.
    * That errs in the SAFE direction (the distributed path costs one extra
    * pass; the single-window path risks one task sorting an unbounded
    * batch), and needs no extra Spark job. */
  private[cdc] def shouldDistribute(batch: DataFrame, thresholdBytes: Long): Boolean =
    batch.queryExecution.optimizedPlan.stats.sizeInBytes > BigInt(thresholdBytes)

  /** Build + id-assign + stamp + write one batch of feed rows into
    * `stageDir` (a journal stage, never the live sink); returns the batch's
    * commit-record entry, None when it wrote no row. The entry's row count
    * and maxima ride on the write itself via `observe` — no re-evaluation
    * and, critically, no O(history) rescan of the sink (the reference
    * re-counts the whole changelog, :397-399). */
  private[cdc] def stampAndAppend(
      spark: SparkSession,
      batch: DataFrame,
      cfg: CdcTableConfig,
      stageDir: String,
      offset: Long,
      clusterByKey: Boolean,
      clusterPartitions: Option[Int]): Option[Checkpoint.Entry] = {
    val obs = org.apache.spark.sql.Observation()
    val changelog = ChangelogBuilder.build(batch, cfg)
    val withIds =
      if (shouldDistribute(batch, AutoDistributeBytes))
        ChangelogBuilder.withIdsDistributed(changelog, cfg, offset)
      else ChangelogBuilder.withIds(changelog, cfg, offset)
    val stamped = withIds
      .withColumn("created_dt", current_timestamp())
      .withColumn("created_by", lit(spark.sparkContext.sparkUser))
      // the reference DECLARES modified_dt/modified_by and never writes
      // them (usp_cdc_populate_changelog.sql:153-154 — rows are append-only,
      // nothing updates); carried as typed NULLs for schema fidelity so a
      // consumer migrating off the reference sees the same column set
      .withColumn("modified_dt", lit(null).cast("timestamp"))
      .withColumn("modified_by", lit(null).cast("string"))
      .withColumn("commit_date", to_date(col("commit_time")))
      .select(sinkSchema(cfg).fieldNames.toSeq.map(col): _*)
      .observe(obs, max("commit_date").as("day"), count(lit(1)).as("rows"),
        max("commit_time").as("hwm"), max("changelog_id").as("id"),
        max("created_dt").as("created"))
    // clusterByKey: range-shuffle on (partition col, pk) + sort within
    // tasks, so each parquet file inside a commit_date partition covers a
    // DISJOINT pk range — point/range lookups on the key then prune to one
    // file via parquet min/max stats instead of reading the whole
    // partition. Costs one extra exchange per batch; worth it for sinks
    // that serve key-targeted reads at scale.
    val arranged =
      // default: repartition on the PARTITION column so each task owns
      // whole commit_date partitions — the id stage's single-partition
      // window would otherwise hand the writer ONE task serially creating
      // every date directory (a day-spanning backfill writes hundreds),
      // and a distributed-id batch would instead scatter every date
      // across every task (dates × tasks small files). One hash exchange
      // per batch buys a parallel write with one file per partition per
      // batch; AQE coalesces when the batch only spans a few dates.
      if (!clusterByKey) stamped.repartition(col("commit_date"))
      else {
        val cluster = col("commit_date") +: cfg.keyCols.map(col)
        // an explicit partition count pins the file count (AQE would
        // coalesce a small batch's range shuffle to one file); None lets
        // the planner size it from the data
        val ranged = clusterPartitions
          .map(n => stamped.repartitionByRange(n, cluster: _*))
          .getOrElse(stamped.repartitionByRange(cluster: _*))
        ranged.sortWithinPartitions(cluster: _*)
      }
    arranged.write
      .mode(SaveMode.Append)
      .partitionBy("commit_date")
      .parquet(stageDir)
    val m = obs.get
    Checkpoint.Entry.of(Row(m("day"), m("rows"), m("hwm"), m("id"), m("created")))
  }
}
