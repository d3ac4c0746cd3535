package graft.stream

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** File-arrival ingestion (SURVEY §2.2-B `stream_file_ingest`).
  *
  * Reference topology: S3 createObject → SNS topic → processing lambda
  * (cft/sourceSystem.yaml:29-63). Spark-native analog: Structured
  * Streaming file source discovers new files in the landing path and each
  * micro-batch plays the "lambda body" via the sink.
  *
  * At scale: the file source tracks seen files in the checkpoint; with
  * `maxFilesPerTrigger` the backlog drains in bounded batches; the sink
  * append is partition-parallel.
  */
object Ingest {

  /** Stream every parquet file under `srcPath` into `sinkPath` with
    * Trigger.AvailableNow (process-all-then-stop), returning the sink
    * re-read as a batch DataFrame.
    */
  def ingestOnce(s: SparkSession, srcPath: String, sinkPath: String,
      checkpoint: String): DataFrame = {
    val schema = s.read.parquet(srcPath).schema
    val q = s.readStream
      .schema(schema)
      .parquet(srcPath)
      .writeStream
      .format("parquet")
      .option("path", sinkPath)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(sinkPath)
  }

  /** Streaming upsert sink: each micro-batch MERGEs into a versioned
    * table by key (new rows replace same-key rows, others append) via
    * foreachBatch — the reference's SNS-triggered "lambda body" (R16,
    * cft/sourceSystem.yaml:29-63) doing idempotent ingestion (R2's
    * guarded-upsert semantics on the data plane). At scale foreachBatch
    * is the standard bridge from a stream to MERGE-style table
    * maintenance; [[graft.catalog.CommitLog.merge]] is the plain-parquet
    * stand-in for a lakehouse MERGE (SURVEY §7.1): per-batch cost is
    * O(pool files containing a batch key), never a rescan of the table,
    * a crash mid-batch leaves only unreferenced staging/pool files —
    * never a partial table that replay mistakes for a live one — and a
    * concurrent reader keeps its resolved snapshot throughout the merge.
    */
  def ingestUpsert(s: SparkSession, srcPath: String, tablePath: String,
      checkpoint: String, keyCol: String): DataFrame = {
    val schema = s.read.parquet(srcPath).schema
    val log = new graft.catalog.CommitLog(s, tablePath)
    val q = s.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcPath)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        import org.apache.spark.sql.functions.{col, min, struct}
        // deterministic intra-batch survivor (min over the non-key struct;
        // dropDuplicates picks a partition-order-dependent row) and no
        // null keys (they can never be upserted, only accumulate)
        val others = batch.columns.filterNot(_ == keyCol)
        val newRows = batch
          .filter(col(keyCol).isNotNull)
          .groupBy(col(keyCol))
          .agg(min(struct(others.map(col): _*)).as("_s"))
          .select(col(keyCol) +: others.map(c => col(s"_s.$c").as(c)): _*)
        if (!log.exists) log.commit(newRows, replace = true): Unit
        else log.merge(newRows, keyCol): Unit
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    log.read()
  }

  /** Continuously-maintained rollup (a streaming materialized view): each
    * micro-batch's partial aggregate MERGEs into a commit-log rollup
    * table, so any reader at any moment sees a complete, consistent
    * rollup of everything ingested so far — the "running dashboard over
    * the landing zone" shape. At 100 TB the per-batch work is
    * O(batch + |rollup|), never a rescan of history, and the rollup key
    * space (event_type here) is small, so the merge is a broadcast-scale
    * aggregation.
    *
    * Idempotence: a re-delivered batch (foreachBatch is at-least-once)
    * is skipped because the batch id is recorded ATOMICALLY inside the
    * commit's own manifest (`CommitLog` `#txn:` header — the lakehouse
    * txn-action pattern): either the merge landed and its id is visible,
    * or neither happened. No marker-after-commit crash window exists.
    */
  def maintainRollup(s: SparkSession, srcPath: String, tablePath: String,
      checkpoint: String): DataFrame = {
    val schema = s.read.parquet(srcPath).schema
    val log = new graft.catalog.CommitLog(s, tablePath)
    val q = s.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcPath)
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        mergeRollupBatch(log, batch, id)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    log.read()
  }

  /** One micro-batch of the rollup MERGE (factored out so specs can replay
    * a batch id directly). sum_val is pinned to DECIMAL(22,2): without the
    * cast every re-merge would widen the sum's decimal precision and the
    * rollup's schema would drift version to version. The batch id rides
    * the commit as its txn id, so skip-on-redelivery needs no side files.
    */
  def mergeRollupBatch(log: graft.catalog.CommitLog, batch: DataFrame,
      batchId: Long): Unit = {
    val txn = s"rollup-$batchId"
    if (log.currentVersion.exists(v => log.txns(v).contains(txn)))
      return   // re-delivered batch: its id landed with its commit
    val delta = batch
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(12, 2)))
          .cast(DecimalType(22, 2)).as("sum_val"))
    val merged =
      if (!log.exists) delta
      else log.read().unionByName(delta)
        .groupBy(col("event_type"))
        .agg(sum(col("n")).as("n"),
          sum(col("sum_val")).cast(DecimalType(22, 2)).as("sum_val"))
    log.commit(merged, replace = true, Some(txn)): Unit
  }

  /** Declared query: ingest the events landing files via the streaming
    * file source, then checksum what arrived (count / key range / exact
    * value sum) — the oracle checks it equals the batch table.
    */
  def fileIngest(s: SparkSession, d: String): DataFrame = {
    val tmpDir = Files.createTempDirectory("graft_ingest")
    Stateful.deleteOnExit(tmpDir.toFile)
    val tmp = tmpDir.toString
    // file sources need a directory — stage the single-file table into one
    val src = Stateful.landingDir(d, 1)
    val ingested = ingestOnce(s, src, s"$tmp/data", s"$tmp/chk")
    ingested.agg(
      count(lit(1)).as("n_rows"),
      min(col("event_id")).as("min_id"),
      max(col("event_id")).as("max_id"),
      sum(col("value").cast(DecimalType(12, 2))).cast("double").as("sum_val"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_file_ingest" -> (fileIngest _)
  )

  val oracle: Map[String, String] = Map(
    "stream_file_ingest" ->
      """SELECT count(*) AS n_rows, min(event_id) AS min_id, max(event_id) AS max_id,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_val
        |FROM events""".stripMargin,
  )
}
