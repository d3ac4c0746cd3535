package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{CommitLog, CrossTableTxn}

/** The composed multi-writer storm a busy 100 TB table actually
  * experiences: concurrent threads interleave keyed merges, MoR
  * updates, maintenance (tombstone fold, compaction and a clustering
  * rewrite that reads the whole table it replaces), incremental
  * replication, guarded vacuums, and cross-table transactions against
  * ONE table for several rounds. The individual race seams are specced
  * elsewhere (CrossTableTxnSpec decision races, CatalogSpec head races,
  * DeletionVectorSpec fold cascades); this asserts the COMPOSITION:
  *
  *  - no lost updates: the final row multiset equals the serial
  *    recompute (each writer owns a disjoint key range, so the end
  *    state is interleaving-independent — any deviation IS a lost or
  *    doubled write, exactly what the optimistic head race must
  *    prevent when rewrites of SHARED FILES collide);
  *  - replica parity after the storm;
  *  - every guarded refusal refuses: a vacuum inside the consumer
  *    retention window must bounce loudly every time and never drop a
  *    version mid-churn;
  *  - the audit side of every cross-table txn matches its data side.
  */
class ChaosSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  test("multi-writer storm: merge/MoR-update/fold/compact/replicate/" +
      "vacuum/commitAll compose with no lost updates and full parity") {
    val root = java.nio.file.Files.createTempDirectory("graft_chaos").toString
    val t = s"$root/t"
    val rounds = 6
    // widen the decision grace so the replicator resolving a pending
    // head mid-churn waits for the live coordinator instead of
    // force-aborting it on a slow box; commitAll still retries either way
    spark.conf.set("spark.graft.xtxn.graceMs", "2000")
    try {
      val log = new CommitLog(spark, t)
      log.commit((1L to 300L).map(k => (k, "init")).toDF("k", "v")
        .coalesce(2), replace = false)   // 2 files: writers share files

      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val start = new java.util.concurrent.CountDownLatch(1)
      def worker(name: String)(body: => Unit): Thread = {
        val th = new Thread(() => {
          start.await()
          try body catch { case e: Throwable => errors.add(e) }
        }, name)
        th.start(); th
      }

      val threads = Seq(
        worker("merger") {        // owns keys 1..100 (CoW file rewrites)
          val l = new CommitLog(spark, t)
          for (r <- 1 to rounds)
            l.merge((1L to 100L).map(k => (k, s"A-r$r")).toDF("k", "v"),
              "k", maxAttempts = 60): Unit   // storm-grade retry budget
        },
        worker("mor-updater") {   // owns keys 101..200 (tombstone debt)
          val l = new CommitLog(spark, t)
          for (r <- 1 to rounds)
            l.updateWhereMoR(col("k").between(101L, 200L),
              Seq("v" -> lit(s"B-r$r")), maxAttempts = 60): Unit
        },
        worker("txn-appender") {  // unique keys + audit rows, atomically
          val l = new CommitLog(spark, t)
          val audit = new CommitLog(spark, s"$root/audit")
          for (r <- 1 to rounds)
            CrossTableTxn.commitAll(spark, s"$root/_xtxn", Seq(
              (l, Seq((1000L + r, s"C-r$r")).toDF("k", "v"), false),
              (audit, Seq((r.toLong, "append")).toDF("round", "what"),
                false))): Unit
        },
        worker("maintenance") {   // folds the MoR debt, compacts files
          val l = new CommitLog(spark, t)
          for (_ <- 1 to rounds) {
            l.rewriteDeletes(maxAttempts = 60): Unit
            l.compact(maxAttempts = 60): Unit
          }
        },
        worker("optimizer") {     // range-clusters the whole table on k
          val l = new CommitLog(spark, t)
          for (_ <- 1 to rounds) l.optimizeBy("k"): Unit
        },
        worker("replicator") {    // incremental syncs against live churn
          val replica = new CommitLog(spark, s"$root/replica")
          val src = new CommitLog(spark, t)
          for (_ <- 1 to rounds) replica.replicateFrom(src): Unit
        },
        worker("vacuumer") {      // every guarded refusal must refuse
          val l = new CommitLog(spark, t)
          for (_ <- 1 to rounds) {
            try {
              // inside the 7-day consumer window: either nothing is
              // droppable yet (a (0,0) no-op) or the young-version
              // guard bounces — an actual drop mid-churn is the bug
              val (m, f) = l.vacuum(keepVersions = 1)
              if (m != 0 || f != 0) errors.add(new AssertionError(
                s"vacuum dropped ($m,$f) inside the retention window"))
            } catch { case _: IllegalStateException => () /* refused */ }
          }
        })
      start.countDown()
      threads.foreach(_.join(600000))
      assert(errors.isEmpty,
        s"storm threads failed: ${errors.toArray.mkString("; ")}")

      // no lost updates: the multiset equals the serial recompute
      val want = ((1L to 100L).map(k => (k, s"A-r$rounds")) ++
        (101L to 200L).map(k => (k, s"B-r$rounds")) ++
        (201L to 300L).map(k => (k, "init")) ++
        (1 to rounds).map(r => (1000L + r, s"C-r$r"))).toSet
      assert(log.read().count() == want.size,
        "row count drifted: a write was lost or doubled")
      assert(log.read().as[(Long, String)].collect().toSet == want)

      // the audit side of every cross-table txn matches its data side
      val audit = new CommitLog(spark, s"$root/audit")
      assert(audit.read().count() == rounds.toLong,
        "cross-table txn tore: audit rows != data appends")

      // one final incremental sync reaches parity
      val replica = new CommitLog(spark, s"$root/replica")
      replica.replicateFrom(log): Unit
      assert(log.read().exceptAll(replica.read()).isEmpty &&
        replica.read().exceptAll(log.read()).isEmpty,
        "replica parity lost after the storm")

      // post-storm (no writer in flight) the forced vacuum reclaims the
      // churn's superseded versions and the content stands
      val (m, _) = log.vacuum(keepVersions = 1, minFileAgeMs = 0,
        minVersionAgeMs = 0)
      assert(m > 0, "the storm must have left reclaimable versions")
      assert(log.read().as[(Long, String)].collect().toSet == want)
    } finally spark.conf.unset("spark.graft.xtxn.graceMs")
  }
}
