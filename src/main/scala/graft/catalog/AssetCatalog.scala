package graft.catalog

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Registered entities of the lake control plane — the reference's three
  * CRUD resources realized as typed Datasets over parquet.
  *
  * Reference grounding:
  *  - source system: numeric srcSysId + provisioned landing bucket
  *    `{prefix}-{srcSysId}-{region}` (cft/sourceSystem.yaml:15-27)
  *  - target system / data asset: identical CRUD surface
  *    (lambda/aws-dl-fmwrk-target-system-api/lambda_function.py:56-130,
  *    lambda/aws-dl-fmwrk-data-asset-api/lambda_function.py:56-130)
  *  - landing-zone path contract `<asset>/<batch>/init/`
  *    (cft/sourceSystem.yaml:77)
  */
case class SourceSystem(src_sys_id: Long, name: String, region: String,
    modified_ts: java.sql.Timestamp, status: String)
case class TargetSystem(tgt_sys_id: Long, name: String, region: String,
    modified_ts: java.sql.Timestamp, status: String)
case class DataAsset(asset_id: Long, src_sys_id: Long, name: String,
    zone: String, modified_ts: java.sql.Timestamp, status: String)

/** CRUD over a versioned-parquet registry table, Spark-native.
  *
  * No table-format jars ship in this environment (SURVEY §7.1), so mutable
  * semantics are realized over [[CommitLog]] — every table under `root` is
  * a commit-log table (immutable parquet pool + atomic manifest commits),
  * giving the registry snapshot isolation: a reader that resolved a
  * version keeps reading exactly that snapshot while concurrent CRUD,
  * replication, or compaction land new versions (the reference fronts this
  * concurrent plane with three lambdas behind one gateway,
  * swagger/aws-dl-fmwrk-swagger-apigateway.yaml:30,114,198). The logical
  * plans are the same a MERGE/DELETE would produce on a lakehouse table:
  *  - create  = validated append commit                (R1/R5, lambda_function.py:19-32,56-73)
  *  - read    = key-predicate scan (pushdown)          (R3, lambda_function.py:35-38,75-92)
  *  - update  = left-join + conditional projection,
  *              committed as a replace version         (R2/R6, guarded upsert,
  *              ConditionExpression at lambda_function.py:39)
  *  - delete  = left-anti join, replace commit         (R4, lambda_function.py:113-130)
  *
  * At scale the registry tables are small dimension tables — broadcast-
  * joinable against any fact — and the commit log's cost is one manifest
  * write per mutation, independent of row count.
  */
class AssetCatalog(spark: SparkSession, root: String) {
  import spark.implicits._

  private def path(table: String) = s"$root/$table"

  /** Test seam: specs override to inject race-instrumented commit logs. */
  protected def newLog(table: String): CommitLog = new CommitLog(spark, path(table))

  private val logs = scala.collection.concurrent.TrieMap.empty[String, CommitLog]
  private def log(table: String): CommitLog = logs.getOrElseUpdate(table, newLog(table))

  /** Snapshot read of the table's current version — later commits cannot
    * change or tear what the returned frame reads.
    */
  def readTable(table: String): DataFrame = log(table).read()

  /** R1/R5: validated append. Fails fast on duplicate key — the
    * analysis-time validation posture of the reference's gateway
    * validator (swagger:268-271).
    */
  def create[T: org.apache.spark.sql.Encoder](table: String, keyCol: String,
      rows: Dataset[T]): Unit =
    log(table).commit(validatedNew(table, keyCol, rows), replace = false): Unit

  /** `rows` evaluated once ([[CommitLog.evaluated]]), once no key
    * repeats within it or already exists in `table`. The repeat check
    * reads a driver-held batch's keys with no job; the existence check probes
    * only the files whose key bounds admit the batch's
    * ([[CommitLog.holdsAnyKey]]), so a fresh id above every stored key
    * costs no Spark job.
    */
  private def validatedNew[T](table: String, keyCol: String,
      rows: Dataset[T]): DataFrame = {
    val batch = CommitLog.evaluated(rows.toDF())
    val keys = CommitLog.keysOf(batch, keyCol)
    require(!keys.duplicated, s"create: duplicate keys within the batch for $table")
    require(!log(table).holdsAnyKey(keys, keyCol), s"create: key already exists in $table")
    batch
  }

  /** R1 + R18 ATOMICALLY: the entity append and its audit event land in
    * ONE cross-table transaction ([[CrossTableTxn.commitAll]]) — a crash
    * between the two writes is never observable: either both rows are
    * visible or neither is. (The reference issues them as two unguarded
    * calls, lambda_function.py:32 then :67 — an observable gap this
    * closes.) Validation matches [[create]].
    */
  def createAudited[T: org.apache.spark.sql.Encoder](table: String, keyCol: String,
      rows: Dataset[T], audit: AuditLog, requestId: String, methodName: String,
      payloadJson: String = "{}"): Unit = {
    val batch = validatedNew(table, keyCol, rows)
    CrossTableTxn.commitAll(spark, s"$root/_xtxn", Seq(
      (log(table), batch, false),
      (audit.commitLog, audit.eventFrame(requestId, methodName,
        s"$table-api", Map("tasktype" -> methodName), payloadJson), false))): Unit
  }

  /** R3: point lookup by key — a pushed-down predicate scan. */
  def read(table: String, keyCol: String, key: Long): DataFrame =
    readTable(table).filter(col(keyCol) === key)

  /** R2/R6: guarded upsert — rows whose key exists get the new column
    * values; others pass through unchanged. MERGE-WHEN-MATCHED semantics
    * realized as a copy-on-write [[CommitLog.merge]]: the inner join
    * builds full replacement rows for the MATCHED keys only (so unknown
    * keys update nothing — the reference's `attribute_exists` guard), and
    * the merge rewrites only the pool files containing those keys instead
    * of the whole table. The join reads only the files whose key stats
    * admit the batch's keys ([[CommitLog.keyCandidateRows]], the probe
    * [[create]]'s existence check shares), from the old snapshot's
    * immutable pool files while the new version stages, so the rewrite
    * can never consume itself.
    *
    * Both batches are evaluated once ([[CommitLog.evaluated]]): `updates`
    * before the duplicate check, which then reads its keys on the driver,
    * and the joined replacement rows before the merge, whose checks,
    * probe and stage write read them instead of re-running the join. The
    * duplicate check stays here: the inner join would drop a repeated
    * UNKNOWN key before the merge's own check could see it.
    */
  def update(table: String, keyCol: String, updates: DataFrame): Unit = {
    val batch = CommitLog.evaluated(updates)
    val keys = CommitLog.keysOf(batch, keyCol)
    require(!keys.duplicated, s"update: duplicate keys in the updates batch for $table")
    val cur = log(table).keyCandidateRows(keys, keyCol).getOrElse(readTable(table).limit(0))
    val upd = batch.columns.filterNot(_ == keyCol)
    val matchedNew = cur.as("c").join(batch.as("u"), Seq(keyCol), "inner")
      .select(cur.columns.map { c =>
        if (c == keyCol) col(keyCol)
        else if (upd.contains(c)) col(s"u.$c").as(c)
        else col(s"c.$c").as(c)
      }: _*)
    log(table).merge(CommitLog.evaluated(matchedNew), keyCol): Unit
  }

  /** R4: keyed delete — copy-on-write [[CommitLog.deleteKeys]]: only the
    * pool files containing a deleted key are rewritten.
    */
  def deleteKeys(table: String, keyCol: String, keys: Seq[Long]): Unit =
    log(table).deleteKeys(keys.toDF(keyCol), keyCol): Unit

  /** R15: per-source landing bucket name `{prefix}-{srcSysId}-{region}`
    * (cft/sourceSystem.yaml:27) and R17 zone path
    * `<asset>/<batch>/init/` (cft/sourceSystem.yaml:77).
    */
  def landingBucket(prefix: String, srcSysId: Long, region: String): String =
    s"$prefix-$srcSysId-$region"

  def initZonePath(bucket: String, asset: String, batch: String): String =
    s"$bucket/$asset/$batch/init"

  /** Registry tables under `root`: directories carrying a commit log. */
  private def listTables: Seq[String] = {
    val hfs = HadoopFs.fs(spark, root)
    if (!hfs.exists(new Path(root))) Seq.empty
    else hfs.listStatus(new Path(root))
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(t => hfs.exists(new Path(path(t), "_commits")))
      // `<table>__dlq` twins are a strict replica's dead-letter inbox
      // ([[graft.stream.Replicate]]), not registry tables: walking them
      // would vacuum/compact a DLQ's capture history independently of
      // its parent and record spurious failover rows
      .filterNot(_.endsWith("__dlq"))
      .toSeq.sorted
  }

  /** Dual-region posture (reference config/globalConfig.json:4-5 carries a
    * primary + secondary region): sync every registry table under `root`
    * into `secondaryRoot` INCREMENTALLY ([[CommitLog.replicateFrom]]) —
    * only pool files the replica lacks copy, the source head's manifest
    * republishes atomically with a `#repsrc` cursor, and an in-sync table
    * costs one metadata read. A replica reader always sees a complete
    * version, never a half-written copy; at 100 TB a sync ships
    * O(changed bytes), never O(table). The table descriptor rides along
    * so the replica reads and evolves exactly like the primary. Returns
    * the table names in sync after the call.
    */
  def replicate(secondaryRoot: String): Seq[String] = {
    val tables = listTables
    tables.foreach { t =>
      new CommitLog(spark, s"$secondaryRoot/$t").replicateFrom(log(t)): Unit
      TableMeta.copy(spark, path(t), s"$secondaryRoot/$t")
    }
    tables
  }

  /** Small-file compaction. Streaming ingest and per-batch appends leave
    * a table's head manifest listing hundreds of KB-sized parquet files;
    * at 100 TB that turns every scan into open/footer-read overhead and
    * floods the driver's file index. Delegates to the commit log's
    * versioned compaction (`coalesce`, no shuffle): the rewrite lands as a
    * NEW version, so a reader holding any retained snapshot keeps reading
    * exactly its files — the maintenance op and the query plane never
    * race.
    *
    * Returns (filesBefore, filesAfter).
    */
  def compact(table: String, targetFileBytes: Long = 128L * 1024 * 1024)
      : (Int, Int) =
    log(table).compact(targetFileBytes)

  /** Drop registry versions beyond the newest `keepVersions` and collect
    * pool files no retained version references (see [[CommitLog.vacuum]]
    * for the in-flight-commit age guard).
    */
  def vacuum(table: String, keepVersions: Int = 1,
      minFileAgeMs: Long = 15L * 60 * 1000,
      minVersionAgeMs: Long = CommitLog.DefaultVersionRetentionMs): (Int, Int) =
    log(table).vacuum(keepVersions, minFileAgeMs, minVersionAgeMs)

  /** Region failover for the WHOLE registry: promote every replica
    * table under `secondaryRoot` ([[CommitLog.promote]] — cursor
    * dropped, generation bumped) and best-effort fence the
    * corresponding primary under this catalog's root, so a rejoining
    * primary region bounces writes and syncs on every table at once.
    * Walks the SECONDARY side's table listing — the primary region
    * being unreachable is exactly the scenario this exists for (the
    * fence stamp then reports false; re-run [[CommitLog.promote]]'s
    * late-stamp path per table, or simply re-register the primaries as
    * replicas, when the region rejoins). A table that fails to promote
    * (e.g. not a replica) is recorded and the walk continues. Returns
    * table → (promotedVersion, generation, primaryFenced), failures as
    * (-1, -1, false).
    */
  def promoteSecondary(secondaryRoot: String): Map[String, (Long, Long, Boolean)] = {
    val sfs = HadoopFs.fs(spark, secondaryRoot)
    val tables =
      if (!sfs.exists(new Path(secondaryRoot))) Seq.empty[String]
      else sfs.listStatus(new Path(secondaryRoot)).filter(_.isDirectory)
        .map(_.getPath.getName)
        .filter(t => sfs.exists(new Path(s"$secondaryRoot/$t", "_commits")))
        .filterNot(_.endsWith("__dlq"))   // DLQ twins are not tables
        .toSeq.sorted
    tables.map { t =>
      t -> (try {
        val replica = new CommitLog(spark, s"$secondaryRoot/$t")
        // the fence target is built SEPARATELY from the promotion: an
        // unreachable primary region (the very scenario this call
        // exists for) must cost only the fence stamp (fenced = false),
        // never the promotion itself
        val fenceTarget =
          try Some(log(t))
          catch { case scala.util.control.NonFatal(_) => None }
        val (v, g, fenced) = replica.promote(fenceTarget)
        (v, g, fenced && fenceTarget.nonEmpty)
      } catch {
        case scala.util.control.NonFatal(_) => (-1L, -1L, false)
      })
    }.toMap
  }

  /** Catalog-level maintenance sweep — the cold-table companion to the
    * publish-time hooks ([[CommitLog.maintain]]): walk every registry
    * table under `root` and apply each one's DECLARED policies (TTL,
    * tombstone fold, compaction, vacuum). Tables without declared
    * policies are untouched; a failing table contributes an empty entry
    * and the walk continues (the maintenance contract is always
    * best-effort — correctness never depends on it). Returns table →
    * planes fired.
    */
  def maintainAll(): Map[String, Seq[String]] =
    listTables.map { t =>
      t -> (try log(t).maintain()
      catch { case scala.util.control.NonFatal(_) => Seq.empty[String] })
    }.toMap

  /** Replica parity: primary and secondary hold exactly the same multiset
    * of rows (exceptAll empty both directions — catches missing AND extra).
    */
  def replicaParity(secondaryRoot: String, table: String): Boolean = {
    val a = readTable(table)
    val b = new CommitLog(spark, s"$secondaryRoot/$table").read()
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
  }
}
