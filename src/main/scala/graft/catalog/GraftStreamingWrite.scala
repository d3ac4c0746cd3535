package graft.catalog

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.StructType

/** Native Structured Streaming sink for commit-log tables —
  * `df.writeStream.toTable("graft.db.t")` — closing the loop with the
  * commit-tail source ([[GraftMicroBatchStream]]): a table can now be
  * both ends of a streaming topology through the standard API, no
  * foreachBatch plumbing.
  *
  * Exactly-once: each epoch commits with txn id
  * `stream-<queryId>-<epochId>` recorded atomically in the manifest —
  * a redelivered epoch (task retry storm, driver restart mid-commit)
  * is skipped wholesale by [[CommitLog.commitPooledFiles]]'s txn check,
  * the same seam `Ingest.maintainRollup`'s foreachBatch path proves.
  * Only files named in task COMMIT messages pool; a speculative
  * attempt's file is never referenced and ages out under vacuum.
  *
  * Append mode = append commits; Complete mode = one replace commit per
  * epoch (a zero-row Complete epoch legally truncates to empty).
  *
  * Executor-side rows go through Spark's OWN parquet write support
  * (shim: `GraftParquetWriterShim`), so pooled files are byte-compatible
  * with batch commits — same converters, same physical types.
  */
private[graft] final class GraftStreamingWrite(
    log: CommitLog,
    schema: StructType,
    queryId: String,
    replaceEachEpoch: Boolean) extends StreamingWrite {

  private val stageRoot = log.newStageDir("stream")
  // captured on the DRIVER (factories serialize to tasks): the session
  // confs ParquetWriteSupport.init needs, plus filesystem settings
  private val sessionConf = org.apache.spark.sql.GraftParquetWriterShim
    .sessionConfKVs(org.apache.spark.sql.SparkSession.active)

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new GraftStreamingWriterFactory(stageRoot, schema, sessionConf)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val paths = messages.collect {
      case m: GraftStreamedFile if m.path.nonEmpty => new Path(m.path)
    }.toSeq
    val txn = Some(s"stream-$queryId-$epochId")
    val transforms = log.partitionTransforms
    if (transforms.nonEmpty) {
      // hidden-partition transform table: the epoch's flat staged files
      // are read back, the layout derived, and the batch re-laid-out
      // under the declared transforms — streaming ingest into a
      // `days(ts)` table keeps its pruning. Costs one extra read+write
      // of the EPOCH (micro-batch-sized, never the table); the txn id
      // still dedups redelivered epochs. An empty append epoch commits
      // nothing; an empty Complete epoch legally truncates.
      val spark = org.apache.spark.sql.SparkSession.active
      if (paths.isEmpty && !replaceEachEpoch) return
      val batch =
        if (paths.isEmpty)
          spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](), schema)
        else spark.read.schema(schema).parquet(paths.map(_.toString): _*)
      log.commitTransformed(batch, transforms.map(_.spec), replaceEachEpoch,
        txn): Unit
      // staged originals were read, not pooled: drop them now rather
      // than waiting out vacuum's _tmp aging
      paths.headOption.foreach { h =>
        h.getFileSystem(new Configuration()).delete(h.getParent, true): Unit
      }
    } else log.commitPooledFiles(paths, replaceEachEpoch, txn): Unit
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    // drop the aborted epoch's staging dir; files already pooled by a
    // racing successful commit are unaffected (rename moved them out)
    val fs = new Path(stageRoot).getFileSystem(new Configuration())
    fs.delete(new Path(s"$stageRoot/epoch-$epochId"), true): Unit
  }
}

/** One parquet file per (partition, task attempt) under the epoch's
  * staging dir; the COMMIT message names it — uncommitted attempts leave
  * only unreferenced staging orphans.
  */
private[graft] final class GraftStreamingWriterFactory(
    stageRoot: String, schema: StructType,
    sessionConf: Seq[(String, String)]) extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new GraftStreamingDataWriter(
      s"$stageRoot/epoch-$epochId", partitionId, taskId, schema, sessionConf)
}

private[graft] final case class GraftStreamedFile(path: String)
  extends WriterCommitMessage

private[graft] final class GraftStreamingDataWriter(
    epochDir: String, partitionId: Int, taskId: Long, schema: StructType,
    sessionConf: Seq[(String, String)])
  extends DataWriter[InternalRow] {

  private val path =
    s"$epochDir/part-$partitionId-$taskId-${java.util.UUID.randomUUID().toString.take(8)}.parquet"
  private var writer: org.apache.parquet.hadoop.ParquetWriter[InternalRow] = _

  override def write(row: InternalRow): Unit = {
    if (writer == null) {
      val p = new Path(path)
      p.getFileSystem(new Configuration()).mkdirs(p.getParent)
      writer = org.apache.spark.sql.GraftParquetWriterShim
        .newWriter(path, schema, sessionConf)
    }
    writer.write(row)
  }

  override def commit(): WriterCommitMessage = {
    if (writer == null) GraftStreamedFile("")   // zero-row partition: no file
    else { writer.close(); writer = null; GraftStreamedFile(path) }
  }

  override def abort(): Unit = if (writer != null) {
    writer.close(); writer = null
    val p = new Path(path)
    p.getFileSystem(new Configuration()).delete(p, false): Unit
  }

  override def close(): Unit = if (writer != null) { writer.close(); writer = null }
}
