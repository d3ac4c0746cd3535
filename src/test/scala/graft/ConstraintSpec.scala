package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.CommitLog

/** CHECK constraints on the commit log: declared once as a `#check:`
  * manifest header, enforced O(batch) on every write path, surviving
  * replace/compaction, reverted by RESTORE, and race-proof against a
  * constraint-DDL writer landing mid-commit. NULL follows SQL-standard
  * CHECK (passes).
  */
class ConstraintSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_check").toString + "/t"

  test("addConstraint publishes metadata-only; violating append rejected, table untouched") {
    val log = new CommitLog(spark, tmp())
    log.commit(Seq((1L, 10), (2L, 20)).toDF("k", "qty"), replace = false)
    val v = log.addConstraint("qty_pos", "qty > 0")
    assert(v == 2L)
    assert(log.checkConstraints == Map("qty_pos" -> "qty > 0"))
    // metadata-only: same rows, same files
    assert(log.readVersion(1L).collect().toSet == log.read().collect().toSet)
    val ex = intercept[IllegalStateException] {
      log.commit(Seq((3L, -5)).toDF("k", "qty"), replace = false)
    }
    assert(ex.getMessage.contains("qty_pos"))
    assert(ex.getMessage.contains("CHECK constraint violation"))
    assert(log.currentVersion.contains(2L), "rejected batch must not commit")
    // clean batch still lands
    log.commit(Seq((3L, 5)).toDF("k", "qty"), replace = false)
    assert(log.read().count() == 3)
  }

  test("NULL passes (SQL-standard CHECK); IS NOT NULL rejects it") {
    val log = new CommitLog(spark, tmp())
    log.commit(Seq((1L, Some(10))).toDF("k", "qty"), replace = false)
    log.addConstraint("qty_pos", "qty > 0")
    log.commit(Seq((2L, None: Option[Int])).toDF("k", "qty"), replace = false)
    assert(log.read().count() == 2)
    // IS NOT NULL evaluates FALSE (not NULL) on the NULL row, so declaring
    // it now must refuse: the table already violates
    intercept[IllegalStateException] { log.addConstraint("qty_nn", "qty IS NOT NULL") }
  }

  test("addConstraint refuses when existing rows violate; no version published") {
    val log = new CommitLog(spark, tmp())
    log.commit(Seq((1L, -3), (2L, 4)).toDF("k", "qty"), replace = false)
    val ex = intercept[IllegalStateException] { log.addConstraint("qty_pos", "qty > 0") }
    assert(ex.getMessage.contains("1 existing row"))
    assert(log.currentVersion.contains(1L))
    assert(log.checkConstraints.isEmpty)
  }

  test("duplicate name refused; bad SQL fails fast; drop of unknown name loud") {
    val log = new CommitLog(spark, tmp())
    log.commit(Seq((1L, 1)).toDF("k", "qty"), replace = false)
    log.addConstraint("c1", "qty > 0")
    intercept[IllegalArgumentException] { log.addConstraint("c1", "qty > 1") }
    intercept[Exception] { log.addConstraint("c2", "qty >>> nonsense (") }
    intercept[IllegalArgumentException] { log.dropConstraint("nope") }
    intercept[IllegalArgumentException] { log.addConstraint("bad name!", "qty > 0") }
  }

  test("dropConstraint lifts enforcement") {
    val log = new CommitLog(spark, tmp())
    log.commit(Seq((1L, 1)).toDF("k", "qty"), replace = false)
    log.addConstraint("qty_pos", "qty > 0")
    intercept[IllegalStateException] {
      log.commit(Seq((2L, -1)).toDF("k", "qty"), replace = false)
    }
    log.dropConstraint("qty_pos")
    assert(log.checkConstraints.isEmpty)
    log.commit(Seq((2L, -1)).toDF("k", "qty"), replace = false)
    assert(log.read().count() == 2)
  }

  test("constraints survive replace and are enforced on the replacing batch") {
    val log = new CommitLog(spark, tmp())
    log.commit(Seq((1L, 1)).toDF("k", "qty"), replace = false)
    log.addConstraint("qty_pos", "qty > 0")
    // replacing batch itself must satisfy the constraint
    intercept[IllegalStateException] {
      log.commit(Seq((9L, -9)).toDF("k", "qty"), replace = true)
    }
    log.commit(Seq((9L, 9)).toDF("k", "qty"), replace = true)
    // carried through the replace: still enforced afterwards
    assert(log.checkConstraints.contains("qty_pos"))
    intercept[IllegalStateException] {
      log.commit(Seq((10L, -1)).toDF("k", "qty"), replace = false)
    }
  }

  test("updateWhere and merge validate their rewritten/incoming rows") {
    val log = new CommitLog(spark, tmp())
    log.commit(Seq((1L, 5), (2L, 6)).toDF("k", "qty"), replace = false)
    log.addConstraint("qty_pos", "qty > 0")
    intercept[IllegalStateException] {
      log.updateWhere(col("k") === 1L, Seq("qty" -> lit(-7)))
    }
    assert(log.read().filter("k = 1").select("qty").as[Int].head() == 5,
      "failed update must not mutate")
    log.updateWhere(col("k") === 1L, Seq("qty" -> lit(7)))
    assert(log.read().filter("k = 1").select("qty").as[Int].head() == 7)
    intercept[IllegalStateException] {
      log.merge(Seq((2L, -1)).toDF("k", "qty"), "k")
    }
    log.merge(Seq((2L, 60), (3L, 30)).toDF("k", "qty"), "k")
    assert(log.read().orderBy("k").select("qty").as[Int].collect().toSeq ==
      Seq(7, 60, 30))
  }

  test("schema-evolution append lacking the constrained column passes (padded NULL)") {
    val log = new CommitLog(spark, tmp())
    log.commit(Seq((1L, Some(5))).toDF("k", "qty"), replace = false)
    log.addConstraint("qty_pos", "qty > 0")
    // batch without qty: reads back as NULL qty, which CHECK admits
    log.commit(Seq(Tuple1(2L)).toDF("k"), replace = false)
    assert(log.read().count() == 2)
  }

  test("partitioned path enforces too") {
    val log = new CommitLog(spark, tmp())
    log.commitPartitioned(Seq((1L, "a", 5)).toDF("k", "p", "qty"),
      Seq("p"), replace = false)
    log.addConstraint("qty_pos", "qty > 0")
    intercept[IllegalStateException] {
      log.commitPartitioned(Seq((2L, "b", -5)).toDF("k", "p", "qty"),
        Seq("p"), replace = false)
    }
    log.commitPartitioned(Seq((2L, "b", 5)).toDF("k", "p", "qty"),
      Seq("p"), replace = false)
    assert(log.read().count() == 2)
  }

  test("RESTORE reverts the constraint set with the data") {
    val log = new CommitLog(spark, tmp())
    log.commit(Seq((1L, 5)).toDF("k", "qty"), replace = false) // v1
    log.addConstraint("qty_pos", "qty > 0")                    // v2
    log.restore(1L)                                            // v3 = v1 content
    assert(log.checkConstraints.isEmpty,
      "restore target predates the constraint — enforcement reverts")
    log.commit(Seq((2L, -1)).toDF("k", "qty"), replace = false)
    assert(log.read().count() == 2)
  }

  test("constraint DDL landing mid-commit re-validates the racing batch") {
    val root = tmp()
    val plain = new CommitLog(spark, root)
    plain.commit(Seq((1L, 5)).toDF("k", "qty"), replace = false)
    // writer whose first publish attempt is beaten by an addConstraint
    val racer = new CommitLog(spark, root) {
      private var fired = false
      override protected def beforePublish(attempt: Int, v: Long): Unit =
        if (!fired) { fired = true; plain.addConstraint("qty_pos", "qty > 0"): Unit }
    }
    val ex = intercept[IllegalStateException] {
      racer.commit(Seq((2L, -9)).toDF("k", "qty"), replace = false)
    }
    assert(ex.getMessage.contains("qty_pos"),
      s"racing batch must be re-validated against the new head: ${ex.getMessage}")
    assert(plain.checkConstraints.contains("qty_pos"))
    assert(plain.read().count() == 1, "violating racer must not land")
  }

  test("SQL CALL surface: add_constraint gates INSERT, detail reports, drop_constraint lifts") {
    val warehouse = java.nio.file.Files.createTempDirectory("graft_ckwh").toString
    spark.conf.set("spark.sql.catalog.gck", classOf[graft.catalog.GraftTableCatalog].getName)
    spark.conf.set("spark.sql.catalog.gck.warehouse", warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gck.db")
    spark.sql("CREATE TABLE gck.db.c AS SELECT id AS k, id + 1 AS qty FROM range(0, 10)")
    val r = spark.sql("CALL gck.system.add_constraint('db.c', 'qty_pos', 'qty > 0')").head()
    assert(r.getLong(0) == 2L && r.getInt(1) == 1)
    val d = spark.sql("CALL gck.system.detail('db.c')").head()
    assert(d.getString(9) == "qty_pos: qty > 0", d.getString(9))
    val ex = intercept[Exception] {
      spark.sql("INSERT INTO gck.db.c VALUES (100, -1)")
    }
    assert(ex.getMessage.contains("qty_pos") ||
      Option(ex.getCause).exists(_.getMessage.contains("qty_pos")),
      s"INSERT through the catalog must hit the gate: ${ex.getMessage}")
    assert(spark.table("gck.db.c").count() == 10)
    spark.sql("INSERT INTO gck.db.c VALUES (100, 1)")
    assert(spark.table("gck.db.c").count() == 11)
    spark.sql("CALL gck.system.drop_constraint('db.c', 'qty_pos')").collect()
    spark.sql("INSERT INTO gck.db.c VALUES (101, -1)")
    assert(spark.table("gck.db.c").count() == 12)
  }

  test("multi-constraint failure names every broken constraint in one pass") {
    val log = new CommitLog(spark, tmp())
    log.commit(Seq((1L, 5, "x")).toDF("k", "qty", "tag"), replace = false)
    log.addConstraint("qty_pos", "qty > 0")
    log.addConstraint("tag_nn", "tag IS NOT NULL")
    val ex = intercept[IllegalStateException] {
      log.commit(Seq((2L, -1, null.asInstanceOf[String]))
        .toDF("k", "qty", "tag"), replace = false)
    }
    assert(ex.getMessage.contains("qty_pos") && ex.getMessage.contains("tag_nn"))
  }

  test("constraint DDL landing mid-commitStaged re-validates the staged files") {
    val root = tmp()
    val plain = new CommitLog(spark, root)
    plain.commit(Seq((1L, 5)).toDF("k", "qty"), replace = false)
    val racer = new CommitLog(spark, root) {
      private var fired = false
      override protected def beforePublish(attempt: Int, v: Long): Unit =
        if (!fired) { fired = true; plain.addConstraint("qty_pos", "qty > 0"): Unit }
    }
    val stage = racer.newStageDir("spec")
    Seq((2L, -9)).toDF("k", "qty").write.parquet(stage)
    val ex = intercept[IllegalStateException] {
      racer.commitStaged(stage)
    }
    assert(ex.getMessage.contains("qty_pos"),
      s"staged batch must re-validate against the new head: ${ex.getMessage}")
    assert(plain.read().count() == 1, "violating staged batch must not land")
  }

  /** One source parquet file on local disk, returned as a Hadoop Path. */
  private def oneSrcFile(df: org.apache.spark.sql.DataFrame): org.apache.hadoop.fs.Path = {
    val dir = java.nio.file.Files.createTempDirectory("graft_cimp").toString
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    new org.apache.hadoop.fs.Path(new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getAbsolutePath)
  }

  test("tombstone import validates LIVE rows only: a deleted violator passes") {
    val log = new CommitLog(spark, tmp())
    log.commit(Seq((1L, 5)).toDF("k", "qty"), replace = false)
    log.addConstraint("qty_pos", "qty > 0")
    // row index 1 = (3, -1): the ONLY violator arrives pre-tombstoned
    val src = oneSrcFile(Seq((2L, 7), (3L, -1)).toDF("k", "qty"))
    log.commitFilesWithDeletes(Seq((src, Seq(1L))), replace = false)
    assert(log.read().count() == 2, "live rows land; the dead violator cannot gate")
    assert(log.read().where("qty < 0").count() == 0)
  }

  test("constraint DDL landing mid-tombstone-import re-validates the live rows") {
    val root = tmp()
    val plain = new CommitLog(spark, root)
    plain.commit(Seq((1L, 5)).toDF("k", "qty"), replace = false)
    val racer = new CommitLog(spark, root) {
      private var fired = false
      override protected def beforePublish(attempt: Int, v: Long): Unit =
        if (!fired) { fired = true; plain.addConstraint("qty_pos", "qty > 0"): Unit }
    }
    val src = oneSrcFile(Seq((2L, 7), (3L, -1)).toDF("k", "qty"))
    val ex = intercept[IllegalStateException] {
      racer.commitFilesWithDeletes(Seq((src, Seq.empty)), replace = false)
    }
    assert(ex.getMessage.contains("qty_pos"),
      s"imported batch must re-validate against the new head: ${ex.getMessage}")
    assert(plain.read().count() == 1, "violating import must not land")
  }

  /** A cross-table transaction's pending version, then its commit
    * decision: a batch the race let through becomes visible here.
    */
  private def pendingCommitted(l: CommitLog): Long = {
    val decision = l.tableRootPath + s"_decision_${java.util.UUID.randomUUID()}"
    val v = l.publishPending(Seq((2L, -9)).toDF("k", "qty"), "x1", decision, replace = false)
    graft.catalog.LogStore.write(graft.catalog.HadoopFs.fs(spark, decision),
      new org.apache.hadoop.fs.Path(decision), "commit\n".getBytes("UTF-8"))
    v
  }

  /** The keyed DML paths, the streaming sink's pooled commit and a
    * cross-table transaction's pending version (which reports as its
    * `xtxn` stamp): each validates its batch against the empty constraint
    * set, loses attempt 0 to an addConstraint, and must re-validate
    * against the new head.
    */
  private val racedPaths: Seq[(String, CommitLog => Any)] = Seq(
    "merge" -> (_.merge(Seq((2L, -9)).toDF("k", "qty"), "k")),
    "mergeMoR" -> (_.mergeMoR(Seq((2L, -9)).toDF("k", "qty"), "k")),
    "applyChangesMoR" -> (_.applyChangesMoR(Seq.empty[Long].toDF("k"),
      Seq((2L, -9)).toDF("k", "qty"), "k")),
    "commitPooledFiles" -> (l => graft.catalog.SinkCommit(l,
      Seq(oneSrcFile(Seq((2L, -9)).toDF("k", "qty"))), replace = false)),
    "xtxn" -> pendingCommitted)

  test("constraint DDL landing mid-merge, mid-mergeMoR, mid-applyChangesMoR and " +
      "mid-commitPooledFiles re-validates the racing batch") {
    racedPaths.foreach { case (op, run) =>
      val root = tmp()
      val plain = new CommitLog(spark, root)
      plain.commit(Seq((1L, 5)).toDF("k", "qty"), replace = false)
      val racer = new CommitLog(spark, root) {
        private var fired = false
        override protected def beforePublish(attempt: Int, v: Long): Unit =
          if (!fired) { fired = true; plain.addConstraint("qty_pos", "qty > 0"): Unit }
      }
      val ex = intercept[IllegalStateException](run(racer))
      assert(ex.getMessage.contains(s"$op: CHECK constraint violation"),
        s"$op must re-validate against the new head: ${ex.getMessage}")
      assert(plain.checkConstraints.contains("qty_pos"))
      assert(plain.read().collect().map(_.getLong(0)).toSeq == Seq(1L),
        s"$op: the violating batch must not land")
    }
  }
}
