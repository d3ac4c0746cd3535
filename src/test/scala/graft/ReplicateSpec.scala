package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.CommitLog
import graft.stream.Replicate

/** CDC replication: the streaming change feed drained into a target
  * commit-log table tracks the source through appends, CoW deletes,
  * and merge-on-read updates — one atomic applyChangesMoR per source
  * version, txn-keyed by source version so redelivery (restart, crash
  * mid-batch, replayed micro-batch) is exactly-once.
  */
class ReplicateSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private val warehouse =
    java.nio.file.Files.createTempDirectory("graft_repl_wh").toString

  spark.conf.set("spark.sql.catalog.grpl",
    classOf[graft.catalog.GraftTableCatalog].getName)
  spark.conf.set("spark.sql.catalog.grpl.warehouse", warehouse)
  spark.sql("CREATE NAMESPACE IF NOT EXISTS grpl.db")

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def snapshot(log: CommitLog): Set[(Long, String)] =
    log.read().select("k", "v").as[(Long, String)].collect().toSet

  test("target tracks source through append, CoW delete, MoR update; restarts are exactly-once") {
    spark.sql("CREATE TABLE grpl.db.src (k BIGINT, v STRING)")
    spark.sql("INSERT INTO grpl.db.src VALUES (1, 'a'), (2, 'b'), (3, 'c')") // v1
    val srcLog = new CommitLog(spark, s"$warehouse/db/src")
    val (tgt, cp) = (tmp("graft_repl_tgt"), tmp("graft_repl_cp"))

    Replicate.run(spark, "grpl.db.src", tgt, "k", cp)
    val tgtLog = new CommitLog(spark, tgt)
    assert(snapshot(tgtLog) == snapshot(srcLog))

    // consumer offline: every non-append commit kind lands
    spark.sql("INSERT INTO grpl.db.src VALUES (4, 'd')")             // v2 append
    spark.sql("DELETE FROM grpl.db.src WHERE k = 1")                 // v3 CoW delete
    srcLog.updateWhereMoR(col("k") === 2L, Seq("v" -> lit("B")))     // v4 MoR update

    Replicate.run(spark, "grpl.db.src", tgt, "k", cp)
    assert(snapshot(tgtLog) == Set((2L, "B"), (3L, "c"), (4L, "d")))
    assert(snapshot(tgtLog) == snapshot(srcLog))

    // idle restart: nothing re-applies (no new target version)
    val vBefore = tgtLog.currentVersion
    Replicate.run(spark, "grpl.db.src", tgt, "k", cp)
    assert(tgtLog.currentVersion == vBefore,
      "idle restart must not publish new target versions")
  }

  test("redelivered batch skips via per-source-version txns; crash mid-batch resumes") {
    spark.sql("CREATE TABLE grpl.db.src2 (k BIGINT, v STRING)")
    spark.sql("INSERT INTO grpl.db.src2 VALUES (1, 'a'), (2, 'b')")
    val srcLog = new CommitLog(spark, s"$warehouse/db/src2")
    spark.sql("DELETE FROM grpl.db.src2 WHERE k = 1")   // v2

    // build the change batches by hand from the batch plane — the same
    // per-version rows the feed stages (`_commit_version`-stamped) — so
    // the spec drives the apply seam directly
    def feedRows(v: Long) = srcLog.changesBetween(v - 1L, v)
      .withColumn("_commit_version", lit(v))
    val tgt = new CommitLog(spark, tmp("graft_repl_tgt2"))

    // "crash mid-batch": version 1 applied alone (as if the batch died
    // after its first version), then the FULL 1..2 batch redelivers
    Replicate.applyChangeBatch(tgt, "k", feedRows(1L), "s2")
    assert(snapshot(tgt) == Set((1L, "a"), (2L, "b")))
    val vAfterV1 = tgt.currentVersion

    Replicate.applyChangeBatch(tgt, "k",
      feedRows(1L).unionByName(feedRows(2L)), "s2")
    assert(snapshot(tgt) == Set((2L, "b")), "v2 must apply exactly once")
    // v1 skipped wholesale (txn cdc-s2-1 already landed): exactly one
    // new target version for v2
    assert(tgt.currentVersion == vAfterV1.map(_ + 1))

    // full redelivery of everything: a no-op
    val vFinal = tgt.currentVersion
    Replicate.applyChangeBatch(tgt, "k",
      feedRows(1L).unionByName(feedRows(2L)), "s2")
    assert(tgt.currentVersion == vFinal && snapshot(tgt) == Set((2L, "b")))
  }

  test("an update whose key sits in both delete and insert sets nets correctly") {
    val tgt = new CommitLog(spark, tmp("graft_repl_tgt3"))
    tgt.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), replace = false)
    // synthetic CDC version 7: update k=2 (delete+insert), insert k=3
    val batch = Seq(
      (2L, "b", "delete", 7L),
      (2L, "B", "insert", 7L),
      (3L, "c", "insert", 7L)
    ).toDF("k", "v", "_change_type", "_commit_version")
    Replicate.applyChangeBatch(tgt, "k", batch, "syn")
    assert(snapshot(tgt) == Set((1L, "a"), (2L, "B"), (3L, "c")))
    // redelivery skips
    val v = tgt.currentVersion
    Replicate.applyChangeBatch(tgt, "k", batch, "syn")
    assert(tgt.currentVersion == v)
  }

  test("source merge(evolve=true) mid-stream: replica tracks the widened schema across a restart") {
    spark.sql("CREATE TABLE grpl.db.src4 (k BIGINT, v STRING)")
    spark.sql("INSERT INTO grpl.db.src4 VALUES (1, 'a'), (2, 'b')")   // v1
    val srcLog = new CommitLog(spark, s"$warehouse/db/src4")
    val (tgt, cp) = (tmp("graft_repl_tgt4"), tmp("graft_repl_cp4"))
    Replicate.run(spark, "grpl.db.src4", tgt, "k", cp)
    val tgtLog = new CommitLog(spark, tgt)
    assert(snapshot(tgtLog) == snapshot(srcLog))

    // the first schema event every long-lived CDC pipeline hits: the
    // source widens mid-pipeline (update k=2 + insert k=3, new column w)
    srcLog.mergeMoR(Seq((2L, "B", 7.5), (3L, "c", 1.25)).toDF("k", "v", "w"),
      "k", evolve = true): Unit                                        // v2

    // a RESTART re-pins the feed schema from the evolved table; the
    // replica widens in step (applyChangesMoR evolve passes through)
    Replicate.run(spark, "grpl.db.src4", tgt, "k", cp)
    def full(log: CommitLog) = log.read().select("k", "v", "w")
      .as[(Long, String, Option[Double])].collect().toSet
    assert(full(tgtLog) == Set((1L, "a", None),
      (2L, "B", Some(7.5)), (3L, "c", Some(1.25))))
    assert(full(tgtLog) == full(srcLog))

    // post-evolve commits keep flowing through the same checkpoint
    spark.sql("INSERT INTO grpl.db.src4 VALUES (4, 'd', 0.5)")        // v3
    Replicate.run(spark, "grpl.db.src4", tgt, "k", cp)
    assert(full(tgtLog) == full(srcLog))
  }

  test("a live feed pinned before the evolve refuses the widened version loudly") {
    spark.sql("CREATE TABLE grpl.db.src5 (k BIGINT, v STRING)")
    spark.sql("INSERT INTO grpl.db.src5 VALUES (1, 'a')")             // v1
    val srcLog = new CommitLog(spark, s"$warehouse/db/src5")
    // analysis pins the feed schema NOW (pre-evolve)...
    val feed = spark.readStream.table("grpl.db.src5.changes")
    // ...then the source widens before the query runs
    srcLog.mergeMoR(Seq((2L, "b", 1.5)).toDF("k", "v", "w"),
      "k", evolve = true): Unit                                        // v2
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = feed.writeStream.format("noop")
        .option("checkpointLocation", tmp("graft_repl_cp5"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ chain(t.getCause)
    val msgs = chain(ex).mkString(" | ")
    assert(msgs.contains("schema evolved after the stream started"),
      s"expected the loud evolve refusal, got: $msgs")
  }

  test("ONE run() absorbs a mid-drain source schema evolution (re-pin + resume)") {
    spark.sql("CREATE TABLE grpl.db.src9 (k BIGINT, v STRING)")
    spark.sql("INSERT INTO grpl.db.src9 VALUES (1, 'a'), (2, 'b')")   // v1
    val srcLog = new CommitLog(spark, s"$warehouse/db/src9")
    val (tgt, cp) = (tmp("graft_repl_tgt9"), tmp("graft_repl_cp9"))
    val tgtLog = new CommitLog(spark, tgt)

    // a CONTINUOUS drain (the long-lived-pipeline shape): the feed pins
    // its schema at query start, so the evolve below is guaranteed
    // mid-stream — the seam that used to take the replication job down.
    // Suites share one SparkSession concurrently: remember the queries
    // already running so the cleanup below stops ONLY this test's drain.
    val preExisting = spark.streams.active.map(_.id).toSet
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val runner = new Thread(() =>
      try Replicate.run(spark, "grpl.db.src9", tgt, "k", cp,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(100L))
      catch { case t: Throwable => failure.set(t) })
    runner.setDaemon(true)
    runner.start()
    def await(what: String)(cond: => Boolean): Unit = {
      val deadline = System.currentTimeMillis() + 120000L
      while (!cond) {
        if (failure.get() != null) throw failure.get()
        assert(System.currentTimeMillis() < deadline, s"timed out: $what")
        Thread.sleep(200L)
      }
    }
    try {
      await("v1 replicated")(tgtLog.exists && snapshot(tgtLog) == snapshot(srcLog))
      // schema pinned pre-evolve by construction; now widen the source
      srcLog.mergeMoR(Seq((2L, "B", 7.5), (3L, "c", 1.25)).toDF("k", "v", "w"),
        "k", evolve = true): Unit                                      // v2
      // the pinned feed refuses v2 loudly; run() must catch, restart
      // from the same checkpoint (re-pinning the widened schema), and
      // apply it — all inside the ONE call still running on `runner`
      def wide(log: CommitLog) = log.read().select("k", "v", "w")
        .as[(Long, String, Option[Double])].collect().toSet
      await("evolution absorbed")(
        tgtLog.read().columns.contains("w") && wide(tgtLog) == wide(srcLog))
      assert(wide(tgtLog) == Set((1L, "a", None),
        (2L, "B", Some(7.5)), (3L, "c", Some(1.25))))
      // and the re-pinned drain keeps flowing in the same call
      spark.sql("INSERT INTO grpl.db.src9 VALUES (4, 'd', 0.5)")      // v3
      await("post-evolve commit flows")(wide(tgtLog) == wide(srcLog))
      assert(failure.get() == null,
        s"run() must survive the evolution, threw ${failure.get()}")
    } finally {
      // stopped query → run's awaitTermination returns → runner exits
      spark.streams.active.filterNot(q => preExisting(q.id)).foreach(_.stop())
      runner.join(30000L)
    }
  }

  test("strict replica (evolve=false): schema drift bounces instead of widening") {
    val tgt = new CommitLog(spark, tmp("graft_repl_tgt10"))
    tgt.commit(Seq((1L, "a")).toDF("k", "v"), replace = false)
    // a caller-assembled batch smuggling an extra column onto the
    // spec-facing surface: strict mode must refuse, tracking mode widens
    val drifted = Seq((2L, "b", 9.9, "insert", 2L))
      .toDF("k", "v", "w", "_change_type", "_commit_version")
    val ex = intercept[IllegalArgumentException] {
      Replicate.applyChangeBatch(tgt, "k", drifted, "strict", evolve = false)
    }
    assert(ex.getMessage.contains("inserts schema"),
      s"strict bounce should name the schema mismatch: ${ex.getMessage}")
    assert(tgt.read().columns.toSeq == Seq("k", "v"),
      "a bounced batch must not widen the replica's schema of record")
    // the tracking default absorbs the same batch
    Replicate.applyChangeBatch(tgt, "k", drifted, "strict2")
    assert(tgt.read().columns.contains("w"))
  }

  test("strict replica through run(): a drained evolution bounces loudly, " +
      "no auto-restart") {
    spark.sql("CREATE TABLE grpl.db.src13 (k BIGINT, v STRING)")
    spark.sql("INSERT INTO grpl.db.src13 VALUES (1, 'a')")            // v1
    val srcLog = new CommitLog(spark, s"$warehouse/db/src13")
    val (tgt, cp) = (tmp("graft_repl_tgt13"), tmp("graft_repl_cp13"))
    // bootstrap the replica at the narrow shape (v1 only)
    Replicate.run(spark, "grpl.db.src13", tgt, "k", cp,
      options = Map("maxCommitsPerTrigger" -> "1"),
      trigger = org.apache.spark.sql.streaming.Trigger.Once(),
      evolve = false)
    val tgtLog = new CommitLog(spark, tgt)
    assert(snapshot(tgtLog) == Set((1L, "a")))
    // the source widens; the next STRICT drain must refuse the widened
    // version instead of silently absorbing it into the replica
    srcLog.mergeMoR(Seq((2L, "b", 1.5)).toDF("k", "v", "w"),
      "k", evolve = true): Unit                                        // v2
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Replicate.run(spark, "grpl.db.src13", tgt, "k", cp, evolve = false)
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(ex).mkString(" | ").contains("inserts schema"),
      s"strict drain must bounce on the schema contract: ${chain(ex)}")
    assert(tgtLog.read().columns.toSeq == Seq("k", "v") &&
      snapshot(tgtLog) == Set((1L, "a")),
      "a bounced strict drain must leave the replica untouched")
    // flipping to tracking mode absorbs the same feed from the same
    // checkpoint — strictness is the caller's choice, not a dead end
    Replicate.run(spark, "grpl.db.src13", tgt, "k", cp)
    assert(tgtLog.read().columns.contains("w"))
  }

  test("two-feed fan-in: distinct scopes interleave exactly-once; a scope " +
      "collision dedups instead of double-applying") {
    spark.sql("CREATE TABLE grpl.db.fanA (k BIGINT, v STRING)")
    spark.sql("CREATE TABLE grpl.db.fanB (k BIGINT, v STRING)")
    spark.sql("INSERT INTO grpl.db.fanA VALUES (1, 'a1')")            // A v1
    spark.sql("INSERT INTO grpl.db.fanB VALUES (100, 'b1')")          // B v1
    val (tgt, cpA, cpB) =
      (tmp("graft_fan_tgt"), tmp("graft_fan_cpA"), tmp("graft_fan_cpB"))
    val tgtLog = new CommitLog(spark, tgt)

    // interleaved drains: A, B, then more commits on both, then B, A
    Replicate.run(spark, "grpl.db.fanA", tgt, "k", cpA)
    Replicate.run(spark, "grpl.db.fanB", tgt, "k", cpB)
    assert(snapshot(tgtLog) == Set((1L, "a1"), (100L, "b1")))
    spark.sql("INSERT INTO grpl.db.fanA VALUES (2, 'a2')")            // A v2
    spark.sql("DELETE FROM grpl.db.fanB WHERE k = 100")               // B v2
    spark.sql("INSERT INTO grpl.db.fanB VALUES (101, 'b2')")          // B v3
    Replicate.run(spark, "grpl.db.fanB", tgt, "k", cpB)
    Replicate.run(spark, "grpl.db.fanA", tgt, "k", cpA)
    assert(snapshot(tgtLog) == Set((1L, "a1"), (2L, "a2"), (101L, "b2")))

    // restart both: exactly-once (no new target versions on redelivery)
    val vBefore = tgtLog.currentVersion
    Replicate.run(spark, "grpl.db.fanA", tgt, "k", cpA)
    Replicate.run(spark, "grpl.db.fanB", tgt, "k", cpB)
    assert(tgtLog.currentVersion == vBefore,
      "idle fan-in restarts must not publish")

    // the txn guard under a DELIBERATE scope collision: a third feed
    // reusing A's scope presents its own version 1 — the guard dedups
    // it as already-applied (never a double apply, never a torn batch);
    // unique-scope discipline is what makes fan-in safe
    val collide = Seq((999L, "x", "insert", 1L))
      .toDF("k", "v", "_change_type", "_commit_version")
    Replicate.applyChangeBatch(tgtLog, "k", collide, "grpl.db.fanA")
    assert(tgtLog.currentVersion == vBefore,
      "a colliding scope+version must dedup, not apply")
    assert(!snapshot(tgtLog).contains((999L, "x")))
  }

  test("replica auto-fold: N drains past the debt ratio fold without an operator") {
    val tgt = new CommitLog(spark, tmp("graft_repl_tgt11"))
    tgt.commit((1L to 100L).map(i => (i, s"v$i")).toDF("k", "v")
      .coalesce(1), replace = false)
    spark.conf.set("spark.graft.rewriteDeletes.maxDebtRatio", "0.25")
    try {
      // each synthetic CDC version updates 10 keys (delete+insert):
      // manifest-tag debt climbs ~10 tombstones per drain against the
      // 100 LIVE rows, crossing 25% at the third drain
      def drain(v: Long): Unit = {
        val batch = (1L to 10L).flatMap(k => Seq(
          (k, s"v$k", "delete", v), (k, s"u$v-$k", "insert", v)))
          .toDF("k", "v", "_change_type", "_commit_version")
        Replicate.applyChangeBatch(tgt, "k", batch, "fold")
      }
      (1L to 2L).foreach(drain)
      assert(tgt.dvFiles(tgt.currentVersion.get).nonEmpty,
        "below the ratio the MoR debt stands (no premature rewrite)")
      drain(3L)   // 30 tombstones / 100 live rows = 30% >= 25%: folds
      val folded = tgt.currentVersion.get
      assert(tgt.dvFiles(folded).isEmpty,
        s"the 3rd drain must auto-fold; carries ${tgt.dvFiles(folded)}")
      assert(tgt.history().exists(_.operation == "rewrite_deletes"),
        "the fold must be the hook's own rewrite_deletes publish")
      // post-fold drains accumulate fresh (sub-ratio) debt as usual
      drain(4L)
      val got = snapshot(tgt)
      val want = ((1L to 10L).map(k => (k, s"u4-$k")) ++
        (11L to 100L).map(k => (k, s"v$k"))).toSet
      assert(got == want, "auto-fold must not change visible values")
    } finally spark.conf.unset("spark.graft.rewriteDeletes.maxDebtRatio")
  }

  test("failover: promote makes the replica writable, fences the stale " +
      "primary, reverse resync reaches parity, failback re-fences") {
    spark.sql("CREATE TABLE grpl.db.srcP (k BIGINT, v STRING)")
    spark.sql("INSERT INTO grpl.db.srcP VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    val primary = new CommitLog(spark, s"$warehouse/db/srcP")
    val replica = new CommitLog(spark, tmp("graft_promo_replica"))
    replica.replicateFrom(primary)
    assert(snapshot(replica) == snapshot(primary))

    // region loss mid-cadence: the primary takes one more write the
    // replica never saw (RPO > 0 — failover promotes the SYNCED prefix)
    spark.sql("INSERT INTO grpl.db.srcP VALUES (99, 'lost-tail')")
    val (pv, gen, fenced) = replica.promote(Some(primary))
    assert(gen == 1L && fenced, "first promotion is generation 1, fence placed")
    assert(replica.headerOf(pv, "repsrc").isEmpty, "the sync cursor drops")
    assert(replica.generation == 1L)
    assert(!snapshot(replica).contains((99L, "lost-tail")))

    // writes land on the promoted table
    replica.commit(Seq((4L, "d")).toDF("k", "v"), replace = false)
    assert(snapshot(replica).contains((4L, "d")))

    // the fenced stale primary bounces writes ...
    val eW = intercept[IllegalStateException] {
      primary.commit(Seq((100L, "stale")).toDF("k", "v"), replace = false)
    }
    assert(eW.getMessage.contains("FENCED"), s"loud fence wanted: ${eW.getMessage}")
    // ... and bounces serving as a replication source
    val third = new CommitLog(spark, tmp("graft_promo_third"))
    val eS = intercept[IllegalArgumentException] { third.replicateFrom(primary) }
    assert(eS.getMessage.contains("FENCED"))

    // reverse resync: the rejoined old primary re-registers as a replica
    // of the promoted table — allowed through its own fence because the
    // synced manifest carries the promoted generation
    assert(primary.replicateFrom(replica).nonEmpty)
    assert(snapshot(primary) == snapshot(replica),
      "reverse resync reaches parity (the lost tail is superseded)")
    assert(primary.generation == 1L)

    // a resynced replica still refuses DIRECT writes — it tracks the
    // promoted side until itself promoted
    val eR = intercept[IllegalStateException] {
      primary.commit(Seq((101L, "z")).toDF("k", "v"), replace = false)
    }
    assert(eR.getMessage.contains("FENCED"))

    // incremental sync cadence continues against the promoted side
    replica.commit(Seq((5L, "e")).toDF("k", "v"), replace = false)
    primary.replicateFrom(replica)
    assert(snapshot(primary) == snapshot(replica))

    // FAILBACK: promote the old primary back — generation bumps past
    // both its own fence and the head generation; the other side fences
    val (_, gen2, fenced2) = primary.promote(Some(replica))
    assert(gen2 == 2L && fenced2)
    primary.commit(Seq((6L, "f")).toDF("k", "v"), replace = false)
    val eB = intercept[IllegalStateException] {
      replica.commit(Seq((7L, "g")).toDF("k", "v"), replace = false)
    }
    assert(eB.getMessage.contains("FENCED"))
    replica.replicateFrom(primary)
    assert(snapshot(replica) == snapshot(primary))

    // promoting a non-replica refuses: promotion is a failover op, not
    // a generic version bump
    val eN = intercept[IllegalArgumentException] { primary.promote(None) }
    assert(eN.getMessage.contains("not a replica"))
  }

  test("promote racing an in-flight sync: the promotion retries onto the " +
      "sync's head and the lineage stays single") {
    spark.sql("CREATE TABLE grpl.db.srcR (k BIGINT, v STRING)")
    spark.sql("INSERT INTO grpl.db.srcR VALUES (1, 'a')")
    val primaryRoot = s"$warehouse/db/srcR"
    val primary = new CommitLog(spark, primaryRoot)
    val replicaRoot = tmp("graft_promo_race")
    new CommitLog(spark, replicaRoot).replicateFrom(primary)
    // the primary advances; a sync of that version races the promotion
    spark.sql("INSERT INTO grpl.db.srcR VALUES (2, 'b')")
    @volatile var injected = false
    val spy = new CommitLog(spark, replicaRoot) {
      override protected def beforePublish(attempt: Int, v: Long): Unit =
        if (!injected) {
          injected = true
          new CommitLog(spark, replicaRoot)
            .replicateFrom(new CommitLog(spark, primaryRoot)): Unit
        }
    }
    val (pv, gen, fenced) = spy.promote(Some(primary))
    assert(injected && gen == 1L && fenced)
    // the lost race retried onto the SYNC'S head: the promoted snapshot
    // carries the freshly-synced row, the cursor is gone, and there is
    // exactly one promote commit in the history
    val promoted = new CommitLog(spark, replicaRoot)
    assert(promoted.headerOf(pv, "repsrc").isEmpty)
    assert(snapshot(promoted) == Set((1L, "a"), (2L, "b")),
      "the promotion must land on top of the racing sync, not before it")
    assert(promoted.history().count(_.operation == "promote") == 1)
    // and the fence stands: the primary bounces, the promoted side writes
    intercept[IllegalStateException] {
      primary.commit(Seq((9L, "stale")).toDF("k", "v"), replace = false)
    }
    promoted.commit(Seq((3L, "c")).toDF("k", "v"), replace = false)
    assert(snapshot(promoted).contains((3L, "c")))
  }

  test("maintenance never mutates a fenced table: declared policies " +
      "degrade to no-ops, the debt stays for the promoted lineage") {
    spark.sql("CREATE TABLE grpl.db.srcM (k BIGINT, v STRING)")
    spark.sql(
      "INSERT INTO grpl.db.srcM SELECT id, concat('v', id) FROM range(1, 101)")
    val primary = new CommitLog(spark, s"$warehouse/db/srcM")
    primary.updateWhereMoR(col("k") <= 50L, Seq("v" -> lit("upd"))): Unit
    val replica = new CommitLog(spark, tmp("graft_fence_mnt"))
    replica.replicateFrom(primary)
    replica.promote(Some(primary)): Unit
    // the fenced primary declares an aggressive fold policy — a fresh
    // handle would fire it on the spot were the table not fenced
    primary.setProperties(
      Map("spark.graft.rewriteDeletes.maxDebtRatio" -> "0.01"))
    val fenced = new CommitLog(spark, s"$warehouse/db/srcM")
    val before = fenced.currentVersion
    assert(fenced.maintain().isEmpty,
      "maintenance must not act on a fenced table")
    assert(fenced.currentVersion == before)
    assert(fenced.dvFiles(before.get).nonEmpty,
      "the debt stands — only the promoted lineage may fold it")
  }

  test("restore past a promotion keeps the generation: the reverse resync " +
      "still clears the old primary's fence") {
    spark.sql("CREATE TABLE grpl.db.srcG (k BIGINT, v STRING)")
    spark.sql("INSERT INTO grpl.db.srcG VALUES (1, 'a'), (2, 'b')")
    val primary = new CommitLog(spark, s"$warehouse/db/srcG")
    val replica = new CommitLog(spark, tmp("graft_restore_gen"))
    val synced = replica.replicateFrom(primary).get
    val (_, gen, fenced) = replica.promote(Some(primary))
    assert(gen == 1L && fenced)
    replica.commit(Seq((3L, "c")).toDF("k", "v"), replace = false)
    // roll back to the pre-promotion sync: the data reverts, the fencing
    // token must not — a generation-0 head would bounce off the fence it
    // stamped on the old primary
    replica.restore(synced): Unit
    assert(snapshot(replica) == Set((1L, "a"), (2L, "b")))
    assert(replica.generation == 1L, "a restore must not move the generation back")
    // nor may it turn the promoted primary back into a replica: the
    // pre-promotion sync cursor stays behind
    assert(replica.headerOf(replica.currentVersion.get, "repsrc").isEmpty,
      "a restore must not bring back the target's sync cursor")
    assert(primary.replicateFrom(replica).nonEmpty)
    assert(snapshot(primary) == snapshot(replica))
    assert(primary.generation == 1L)
    // a table that is still a replica keeps the restored sync's cursor,
    // so the next sync ships what the source committed since
    val src2 = new CommitLog(spark, tmp("graft_restore_src2"))
    src2.commit(Seq((1L, "a")).toDF("k", "v"), replace = false)
    val rep2 = new CommitLog(spark, tmp("graft_restore_rep2"))
    val first = rep2.replicateFrom(src2).get
    src2.commit(Seq((2L, "b")).toDF("k", "v"), replace = false)
    rep2.replicateFrom(src2).get: Unit
    rep2.restore(first): Unit
    assert(rep2.headerOf(rep2.currentVersion.get, "repsrc").contains("1"))
    assert(rep2.replicateFrom(src2).nonEmpty)
    assert(snapshot(rep2) == snapshot(src2))
  }

  test("SQL surface: CALL promote_replica fails over, late fence-stamp " +
      "is idempotent, parity holds against the promoted side") {
    spark.sql("CREATE TABLE grpl.db.srcQ (k BIGINT, v STRING)")
    spark.sql("INSERT INTO grpl.db.srcQ VALUES (1, 'a'), (2, 'b')")
    spark.sql("CALL grpl.system.replicate('db.srcQ', 'db.repQ')")
    // the lost region is unreachable at failover time: '' skips fencing
    val r1 = spark.sql(
      "CALL grpl.system.promote_replica('db.repQ', '')").collect()(0)
    assert(r1.getLong(1) == 1L && !r1.getBoolean(2))
    spark.sql("INSERT INTO grpl.db.repQ VALUES (3, 'c')")   // writable now
    // the region rejoins: re-CALL stamps the fence at the current
    // generation without a second promotion
    val r2 = spark.sql(
      "CALL grpl.system.promote_replica('db.repQ', 'db.srcQ')").collect()(0)
    assert(r2.getLong(1) == 1L && r2.getBoolean(2),
      "late fence-stamp at the same generation, no re-promotion")
    val eW = intercept[Exception] {
      spark.sql("INSERT INTO grpl.db.srcQ VALUES (9, 'stale')")
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(eW).mkString(" | ").contains("FENCED"))
    // reverse resync via the same SQL plane, then parity (the
    // q_replica_parity contract against the promoted side)
    spark.sql("CALL grpl.system.replicate('db.repQ', 'db.srcQ')")
    val prim = new CommitLog(spark, s"$warehouse/db/srcQ")
    val prom = new CommitLog(spark, s"$warehouse/db/repQ")
    assert(prim.read().exceptAll(prom.read()).isEmpty &&
      prom.read().exceptAll(prim.read()).isEmpty)
  }

  test("strict replica dead-letters a bounced batch; replay after the " +
      "operator's decision reaches parity") {
    spark.sql("CREATE TABLE grpl.db.srcD (k BIGINT, v STRING)")
    spark.sql("INSERT INTO grpl.db.srcD VALUES (1, 'a')")              // v1
    val srcLog = new CommitLog(spark, s"$warehouse/db/srcD")
    val (tgt, cp) = (tmp("graft_dlq_tgt"), tmp("graft_dlq_cp"))
    Replicate.run(spark, "grpl.db.srcD", tgt, "k", cp,
      options = Map("maxCommitsPerTrigger" -> "1"),
      trigger = org.apache.spark.sql.streaming.Trigger.Once(),
      evolve = false)
    val tgtLog = new CommitLog(spark, tgt)
    assert(snapshot(tgtLog) == Set((1L, "a")))
    // the source widens; the strict drain bounces — and the refused
    // version lands in the dead-letter table with its version range
    srcLog.mergeMoR(Seq((2L, "b", 1.5)).toDF("k", "v", "w"),
      "k", evolve = true): Unit                                        // v2
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Replicate.run(spark, "grpl.db.srcD", tgt, "k", cp, evolve = false)
    }
    val dlq = new CommitLog(spark, tgt + "__dlq")
    assert(dlq.exists, "the bounced batch must be captured")
    val captured = dlq.read()
    assert(captured.columns.contains("w") &&
      captured.columns.contains("_dlq_reason"))
    assert(captured.select("_commit_version").distinct()
      .collect().map(_.getLong(0)).toSet == Set(2L),
      "the capture carries the refused source version range")
    assert(snapshot(tgtLog) == Set((1L, "a")), "the replica stays untouched")
    // re-bouncing the same version must not duplicate the capture
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Replicate.run(spark, "grpl.db.srcD", tgt, "k", cp, evolve = false)
    }
    assert(dlq.read().count() == captured.count(),
      "redelivered bounces dedup in the DLQ")
    // operator decision: absorb the widening — replay reaches parity
    assert(Replicate.replayDlq(spark, tgt, "k") == 1L)
    assert(tgtLog.read().columns.contains("w"))
    assert(tgtLog.read().select("k", "v").as[(Long, String)].collect().toSet ==
      snapshot(srcLog))
    assert(dlq.read().count() == 0L, "a replayed queue truncates to empty")
    // replaying an empty queue is a no-op
    assert(Replicate.replayDlq(spark, tgt, "k") == 0L)
  }

  test("a capture landing DURING replay survives the truncate (selective " +
      "delete, not a blind replace)") {
    spark.sql("CREATE TABLE grpl.db.srcE (k BIGINT, v STRING)")
    spark.sql("INSERT INTO grpl.db.srcE VALUES (1, 'a')")              // v1
    val srcLog = new CommitLog(spark, s"$warehouse/db/srcE")
    val (tgt, cp) = (tmp("graft_dlqrc_tgt"), tmp("graft_dlqrc_cp"))
    Replicate.run(spark, "grpl.db.srcE", tgt, "k", cp,
      options = Map("maxCommitsPerTrigger" -> "1"),
      trigger = org.apache.spark.sql.streaming.Trigger.Once(),
      evolve = false)
    srcLog.mergeMoR(Seq((2L, "b", 1.5)).toDF("k", "v", "w"),
      "k", evolve = true): Unit                                        // v2
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Replicate.run(spark, "grpl.db.srcE", tgt, "k", cp, evolve = false)
    }
    val dlq = new CommitLog(spark, tgt + "__dlq")
    assert(dlq.read().select("_commit_version").distinct()
      .collect().map(_.getLong(0)).toSet == Set(2L))

    // replay entry v2; BETWEEN the replay's read and its truncate a
    // still-running drain dead-letters version 3 (same capture shape +
    // dlq txn id the real bounce path writes). A blind replace-truncate
    // would wipe it while its txn id lived on in the carried headers —
    // the drain's re-bounce would then dedup as already-captured and
    // the entry would be lost forever.
    val replayed = Replicate.replayDlqSeam(spark, tgt, "k") {
      val late = Seq((9L, "z", 2.5, "insert", 3L, "grpl.db.srcE", "drift"))
        .toDF("k", "v", "w", "_change_type", "_commit_version",
          "_dlq_scope", "_dlq_reason")
      dlq.commit(late, replace = false, Some("dlq-grpl.db.srcE-3")): Unit
    }
    assert(replayed == 1L)
    val tgtLog = new CommitLog(spark, tgt)
    assert(tgtLog.read().select("k", "v").as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")), "the read entry replayed onto the target")
    val left = dlq.read()
    assert(left.select("_commit_version").distinct()
      .collect().map(_.getLong(0)).toSet == Set(3L),
      "the concurrent capture must SURVIVE the truncate")
    // and it is still actionable: the next replay absorbs it
    assert(Replicate.replayDlq(spark, tgt, "k") == 1L)
    assert(tgtLog.read().select("k").as[Long].collect().toSet ==
      Set(1L, 2L, 9L))
    assert(dlq.read().count() == 0L)
  }

  test("a renamed source streams its changes under logical names") {
    spark.sql("CREATE TABLE grpl.db.src6 (k BIGINT, v STRING)")
    spark.sql("INSERT INTO grpl.db.src6 VALUES (1, 'a')")          // v1
    // metadata-only rename: the pool keeps physical `v`; the feed's
    // contract — like every table read — is LOGICAL names
    spark.sql("ALTER TABLE grpl.db.src6 RENAME COLUMN v TO label")
    spark.sql("INSERT INTO grpl.db.src6 VALUES (2, 'b')")          // v2
    val out = tmp("graft_repl_out6")
    val q = spark.readStream.table("grpl.db.src6.changes")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", tmp("graft_repl_cp6"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rows = spark.read.parquet(out)
    assert(rows.columns.contains("label") && !rows.columns.contains("v"),
      s"feed must relabel physical to logical, got ${rows.columns.toSeq}")
    assert(rows.filter("_change_type = 'insert'").select("k", "label")
      .as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")))
  }

  test("TTL expiry on the source flows through the feed as deletes") {
    import org.apache.spark.sql.functions.col
    val srcRoot = s"$warehouse/db/src7"
    val srcLog = new CommitLog(spark, srcRoot)
    val live = System.currentTimeMillis() + 30L * 86400000L
    srcLog.commit((1L to 10L).map(i => (i, s"old$i")).toDF("k", "v")
      .coalesce(1), replace = false)                              // v1 ancient
    srcLog.commit(Seq((live, "x"), (live + 1L, "y")).toDF("k", "v")
      .coalesce(1), replace = false)                              // v2 live
    srcLog.setTtl("k", 86400000L)                                 // v3 policy
    srcLog.enforceTtl(System.currentTimeMillis())                 // v4 expire
    val (tgt, cp) = (tmp("graft_repl_tgt7"), tmp("graft_repl_cp7"))
    Replicate.run(spark, "grpl.db.src7", tgt, "k", cp)
    // the metadata-only expiry nets as row deletes through the feed:
    // the replica holds exactly the source's surviving rows
    assert(snapshot(new CommitLog(spark, tgt)) == snapshot(srcLog))
    assert(snapshot(srcLog) == Set((live, "x"), (live + 1L, "y")))
  }

  test("vacuum reclaims abandoned change-feed staging (re-derivable by design)") {
    val srcRoot = s"$warehouse/db/src8"
    val srcLog = new CommitLog(spark, srcRoot)
    srcLog.commit(Seq((1L, "a")).toDF("k", "v"), replace = false)
    // an abandoned consumer's staged range: content-addressed, nothing
    // will claim it — vacuum's in-flight age guard reclaims it whole
    val staged = new java.io.File(s"$srcRoot/_cdf/0_1")
    assert(staged.mkdirs())
    java.nio.file.Files.writeString(staged.toPath.resolve("part-0.parquet"), "x")
    val (_, files) = srcLog.vacuum(keepVersions = 10,
      minFileAgeMs = 0, minVersionAgeMs = 0)
    assert(files >= 1 && !staged.exists(), "aged staging must be reclaimed")
  }

  test("_cdf staging inside the consumer retention window survives vacuum") {
    val srcRoot = s"$warehouse/db/src12"
    val srcLog = new CommitLog(spark, srcRoot)
    srcLog.commit(Seq((1L, "a")).toDF("k", "v"), replace = false)   // v1
    // an AGED staged range whose hi version (1) is still retained: a
    // lagging consumer's planned micro-batch may hold paths into it —
    // a guarded vacuum (consumer floor in force) must leave it alone
    val staged = new java.io.File(s"$srcRoot/_cdf/0_1")
    assert(staged.mkdirs())
    java.nio.file.Files.writeString(staged.toPath.resolve("part-0.parquet"), "x")
    srcLog.vacuum(keepVersions = 10, minFileAgeMs = 0, minVersionAgeMs = 3600000L)
    assert(staged.exists(),
      "a range serving retained versions must survive the guarded sweep")
    // the operator's existing "no consumer can lag" escape still forces
    val (_, files) = srcLog.vacuum(keepVersions = 10,
      minFileAgeMs = 0, minVersionAgeMs = 0)
    assert(files >= 1 && !staged.exists())
  }

  test("SQL surface: CALL apply_changes replicates and is restart-idempotent") {
    spark.sql("CREATE TABLE grpl.db.src3 (k BIGINT, v STRING)")
    spark.sql("INSERT INTO grpl.db.src3 VALUES (1, 'x'), (2, 'y')")
    spark.sql("DELETE FROM grpl.db.src3 WHERE k = 2")
    val cp = tmp("graft_repl_cp3")
    val r = spark.sql(
      s"CALL grpl.system.apply_changes('db.src3', 'db.rep3', 'k', '$cp')")
      .collect().head
    assert(r.getLong(0) >= 1L)
    assert(spark.table("grpl.db.rep3").as[(Long, String)].collect().toSet ==
      Set((1L, "x")))
    val again = spark.sql(
      s"CALL grpl.system.apply_changes('db.src3', 'db.rep3', 'k', '$cp')")
      .collect().head
    assert(again.getLong(0) == r.getLong(0), "idle re-CALL must not advance the target")
  }
}
