package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Append-only API/query audit log — the reference's one fully
  * implemented data operation (DynamoDB item write,
  * lambda/aws-dl-fmwrk-source-system-api/lambda_function.py:19-32, keyed
  * `(aws_request_id, method_name)` with the conditional status update at
  * :33-44; every handler audits via :67,:86,:105,:124 = R18).
  *
  * Spark-native: a [[CommitLog]] table with the reference's attribute set
  * (`query_string` as map<string,string>, `payload` as a JSON string —
  * SURVEY §1.3). Appends are append commits (no rewrite of prior events —
  * the hot path stays O(batch)); the guarded status correction is a
  * predicate copy-on-write commit touching only the files that hold the
  * keyed row, so an auditor reading the log mid-correction keeps a
  * consistent snapshot and a racing append is never lost.
  */
class AuditLog(spark: SparkSession, root: String) {

  /** Test seam: specs override to inject race-instrumented commit logs. */
  protected def newLog(): CommitLog = new CommitLog(spark, root)

  private lazy val log: CommitLog = newLog()

  val schemaCols: Seq[String] = Seq("aws_request_id", "method_name",
    "function_name", "query_string", "payload", "api_call_type",
    "modified_ts", "status")

  /** R1/R18: append one audit event (status defaults to "success",
    * lambda_function.py:6,31; timestamp at :7,30).
    */
  def append(requestId: String, methodName: String, functionName: String,
      queryString: Map[String, String], payloadJson: String): Unit = {
    log.commit(eventFrame(requestId, methodName, functionName, queryString,
      payloadJson), replace = false): Unit
  }

  /** The single-event frame [[append]] commits — exposed so a
    * cross-table transaction can land it atomically with its entity
    * write (R18, [[AssetCatalog.createAudited]]).
    */
  def eventFrame(requestId: String, methodName: String, functionName: String,
      queryString: Map[String, String], payloadJson: String): DataFrame = {
    import spark.implicits._
    Seq((requestId, methodName, functionName, queryString,
      payloadJson, "synchronous"))
      .toDF("aws_request_id", "method_name", "function_name",
        "query_string", "payload", "api_call_type")
      .withColumn("modified_ts", date_trunc("second", current_timestamp()))
      .withColumn("status", lit("success"))
  }

  /** The underlying commit log — the handle a cross-table transaction
    * coordinates with ([[CrossTableTxn.commitAll]]).
    */
  private[catalog] def commitLog: CommitLog = log

  /** Snapshot read of the current audit log version. */
  def events: DataFrame = log.read()

  /** R2: conditional status update — only rows whose key exists change
    * (`attribute_exists` guard, lambda_function.py:39). Two tiers:
    *
    *  - `mor = false` (default): predicate CoW
    *    ([[CommitLog.updateWhere]]) — only the files holding the keyed
    *    row are rewritten, O(files touched).
    *  - `mor = true`: merge-on-read update vectors
    *    ([[CommitLog.updateWhereMoR]]) — the old positions tombstone and
    *    the corrected rows append in one atomic commit, O(rows changed)
    *    in bytes written. The tier for the reference's actual workload
    *    shape (one status correction per API call against an
    *    ever-growing log): at 100 TB, CoW pays a full file rewrite per
    *    touched row; MoR pays two tiny pool files, and
    *    [[CommitLog.rewriteDeletes]] folds the debt on maintenance.
    *
    * Either way a concurrent [[append]] that wins a version mid-update
    * survives, because each retry re-pins the new head and carries its
    * files forward (the old whole-table replace staged a stale snapshot
    * and erased the racer). The MoR tier retries up to
    * [[MorStatusAttempts]] times: every API call appends to this one
    * log, so its head moves often.
    */
  def setStatus(requestId: String, methodName: String, status: String,
      mor: Boolean = false): Unit = {
    val cond = col("aws_request_id") === requestId &&
      col("method_name") === methodName
    val sets = Seq("status" -> lit(status))
    if (mor) log.updateWhereMoR(cond, sets, AuditLog.MorStatusAttempts): Unit
    else log.updateWhere(cond, sets): Unit
  }

  /** R3: point lookup by the composite key. */
  def lookup(requestId: String, methodName: String): DataFrame =
    events.filter(col("aws_request_id") === requestId &&
      col("method_name") === methodName)
}

object AuditLog {
  /** Head-race attempts of a merge-on-read status correction. Nearly
    * every race it loses is to another client's append, which cannot hold
    * the corrected row: such a loss rebases ([[CommitLog.updateWhereMoR]]),
    * costing one manifest read and no Spark job. A loss that can conflict
    * re-stages one tombstone file and one row, not a rewritten data file.
    * Either way a correction outlasts a burst of concurrent appends
    * instead of failing after the 5 attempts of a copy-on-write rewrite.
    * Under three closed-loop API clients sharing one log (perfbench
    * `registry_api`, 4-vCPU host), before the rebase 16 ten-second runs
    * saw at most 8 lost races for one correction, and 5 of 67 corrections
    * lost 5 or more. With it, 10 traced ten-second runs saw every one of
    * their 10 corrections lose exactly one race and rebase, and a traced
    * 45-second run lost 8 races in all, against 21 before. The budget
    * stays twice the earlier worst.
    */
  private[graft] val MorStatusAttempts: Int = 16
}
