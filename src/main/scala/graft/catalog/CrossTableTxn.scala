package graft.catalog

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Atomic commit ACROSS commit-log tables — the reference's R18 shape
  * (every handler writes its entity row AND its audit event,
  * lambda/aws-dl-fmwrk-source-system-api/lambda_function.py:67): a crash
  * or failure between the two writes must never be observable.
  *
  * Protocol (presumed-abort two-phase, decided by one atomic file):
  *
  *  1. Each table's content stages and publishes as a PENDING next
  *     version whose manifest carries `#xtxn:<id>\t<decisionUri>`
  *     ([[CommitLog.publishPending]]) — versions claim in the ordinary
  *     optimistic head race, so concurrent single-table commits are
  *     never blocked, but the pending content is INVISIBLE: every
  *     manifest read resolves the header first.
  *  2. When every table's pending manifest is durable, the coordinator
  *     writes the single decision file via the same put-if-absent
  *     primitive the manifests use — the FIRST decision ever written
  *     wins, and there is exactly one decision per transaction.
  *  3. Readers resolving a pending manifest read the decision: commit →
  *     the content is visible (header stripped); abort → the version is
  *     an empty no-op (its effective content is the previous version's).
  *     A reader that finds NO decision grace-waits briefly, then forces
  *     `abort` through the same put-if-absent — so a coordinator that
  *     died between publishes can never leave half a transaction
  *     visible: either its commit decision won first (all tables
  *     visible) or the abort decision wins (no table visible). A live
  *     coordinator that loses the decision race to an impatient reader
  *     observes the abort and retries the WHOLE transaction at fresh
  *     versions under a new id.
  *
  * Decisions are immutable once written, so they cache process-wide;
  * the steady-state read cost of a committed transaction is one cached
  * lookup, and vacuum ages an aborted transaction's staged files out
  * like any orphan (its manifest resolves to the prior content, so the
  * files are unreferenced).
  *
  * Decision-file LIFECYCLE: a `commit` decision is load-bearing for as
  * long as ANY manifest carries its `#xtxn` header — deleting it would
  * make a later cold reader grace-wait and force abort, silently
  * erasing committed content. Decision files are therefore permanent
  * transaction tombstones (tens of bytes each, one per transaction, in
  * a caller-chosen coordinator dir); they become collectable only once
  * every referencing manifest has itself been vacuumed. An `abort`
  * decision is re-derivable (a reader finding it absent re-forces
  * abort), but is kept for the same audit economy.
  */
object CrossTableTxn {

  /** decisionUri -> committed? Decisions never change once made.
    * (Boxed Boolean: a primitive-typed CHM would unbox a miss's null to
    * false — every lookup would "hit the cache" as abort.)
    */
  private val decisions =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** Test/ops seam: how long a resolving reader waits for an in-flight
    * coordinator before forcing abort (total = graceSteps × 10 ms).
    */
  private[catalog] def graceSteps(spark: SparkSession): Int =
    try spark.conf.get("spark.graft.xtxn.graceMs", "500").toInt / 10
    catch { case _: NumberFormatException => 50 }

  /** Commit every `(log, df, replace)` write atomically. Returns the
    * committed version per table, in input order. Throws after
    * `maxAttempts` whole-transaction aborts (decision races lost to
    * impatient readers — each retry re-publishes at fresh versions).
    */
  def commitAll(spark: SparkSession, coordDir: String,
      writes: Seq[(CommitLog, DataFrame, Boolean)], maxAttempts: Int = 5): Seq[Long] = {
    require(writes.nonEmpty, "commitAll: no writes")
    val fs = HadoopFs.fs(spark, coordDir)
    fs.mkdirs(new Path(coordDir))
    val store = LogStore.forPath(spark, coordDir)
    // not a headRace: each pending version already won its table's own
    // head race; this loop retries the whole transaction under a new id
    // when a reader forced its decision to abort, and a decision file is
    // write-once, with no head to rebase onto
    var attempt = 0
    while (attempt < maxAttempts) {
      val id = java.util.UUID.randomUUID().toString
      val decisionUri = new Path(coordDir, s"$id.decision").toString
      val vs = writes.map { case (log, df, replace) =>
        log.publishPending(df, id, decisionUri, replace)
      }
      if (decide(spark, store, decisionUri, commit = true)) return vs
      attempt += 1
    }
    throw new java.io.IOException(
      s"commitAll: transaction aborted $maxAttempts times under $coordDir " +
        "(decision races lost to concurrent readers)")
  }

  /** Write a decision if none exists; return the decision that STANDS
    * (ours or the race winner's). */
  private def decide(spark: SparkSession, store: LogStore, uri: String,
      commit: Boolean): Boolean = {
    val p = new Path(uri)
    val verdict = if (commit) "commit" else "abort"
    store.putIfAbsent(p, (verdict + "\n").getBytes("UTF-8")): Unit
    val standing = readDecision(spark, p).getOrElse(
      throw new IllegalStateException(s"decision at $uri vanished after write"))
    decisions.put(uri, standing)
    standing
  }

  private def readDecision(spark: SparkSession, p: Path): Option[Boolean] = {
    val fs = HadoopFs.fs(spark, p.toString)
    if (!fs.exists(p)) None
    else {
      val body = LogStore.readString(fs, p).trim
      Some(body == "commit")
    }
  }

  /** Pin the heads of N tables as ONE consistent snapshot group: the
    * returned versions can never straddle a concurrent [[commitAll]] —
    * a transaction is either fully visible in the group (every table's
    * pinned head includes its side) or fully invisible. This is the
    * READ-side companion the write-side protocol needs: `commitAll`
    * makes the two writes atomically durable, but a reader resolving
    * table heads one by one can interleave with it; pinning first
    * closes that window.
    *
    * Protocol: resolve-and-read every head, then read again; return
    * only when the vector is STABLE across two passes. Why that
    * suffices: a head version advances the moment a transaction's
    * pending manifest publishes, and ALL of a transaction's publishes
    * precede its single decision. A transaction fully published before
    * the first pass is resolved during the pin (committed content, or
    * grace-wait then forced abort — the documented reader-forcing
    * protocol); one whose publishes span the passes moves some head
    * between reads and the pin retries; one entirely after the second
    * pass touches nothing pinned. Decisions are immutable once made,
    * so pinned content cannot change after return.
    *
    * Read each table with `readVersion(pinned(i))` (or SQL
    * `VERSION AS OF`) for a cross-table-consistent view regardless of
    * later commits. Cost: two metadata reads per table per pass —
    * no data I/O, no locks, concurrent writers never block.
    */
  def pinGroup(logs: Seq[CommitLog], maxAttempts: Int = 50): Seq[Long] = {
    require(logs.nonEmpty, "pinGroup: no tables")
    def pass(): Seq[Long] = logs.map { l =>
      // fail FAST on an empty member: pinning version 0 would hand the
      // caller a version `VERSION AS OF 0` cannot read — the pinned-set
      // contract ("read each table at its pinned version") must hold
      // for every row the pin returns
      val v = l.currentVersion.getOrElse(throw new IllegalStateException(
        s"pinGroup: table under ${l.tableRootPath} has no committed " +
          "version — an empty member is not pinnable (version 0 is not " +
          "readable via VERSION AS OF). Commit an initial batch (an " +
          "empty one is fine) or drop the table from the group."))
      l.resolveDecision(v)
      v
    }
    // not a headRace: the pin publishes nothing; it re-reads every head
    // until two passes agree
    var prev = pass()
    var attempt = 0
    while (attempt < maxAttempts) {
      val cur = pass()
      if (cur == prev) return cur
      prev = cur
      attempt += 1
    }
    throw new IllegalStateException(
      s"pinGroup: head set failed to stabilize after $maxAttempts passes " +
        "(sustained concurrent commit traffic); retry the pin")
  }

  /** Resolve a pending manifest's decision: true = committed content is
    * visible, false = the version is a no-op. Grace-waits for an
    * in-flight coordinator, then forces abort (first decision wins).
    */
  private[catalog] def resolve(spark: SparkSession, decisionUri: String): Boolean = {
    val cached = decisions.get(decisionUri)
    if (cached != null) return cached.booleanValue
    val p = new Path(decisionUri)
    var step = 0
    val steps = graceSteps(spark)
    while (step < steps) {
      readDecision(spark, p) match {
        case Some(d) => decisions.put(decisionUri, d); return d
        case None => Thread.sleep(10); step += 1
      }
    }
    decide(spark, LogStore.forPath(spark, p.getParent.toString), decisionUri,
      commit = false)
  }
}
