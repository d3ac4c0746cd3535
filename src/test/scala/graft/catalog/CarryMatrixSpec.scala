package graft.catalog

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Which manifest headers survive which operation, cell by cell. Every
  * operation starts from the same fixture: a table whose head manifest
  * carries every header kind once, over two plain data files. After the
  * operation the resulting head manifest (of the table itself, or of the
  * clone, branch or replica the operation made) is read raw, and each
  * header kind must appear exactly once or not at all, as `expected` says.
  *
  * The carry rule behind each row:
  *  - lineage (`#txn:`, `#gen:`) survives every rewrite of the table;
  *  - contracts (`#check:`, `#cluster:`, `#ttl:`, `#schema:`, `#ptspec:`)
  *    are carried by replaces, forked by clones and reverted by restore;
  *  - per-commit headers (`#op:`, `#clone:`, `#xtxn:`, `#partition:`,
  *    `#repsrc:`, `#repmap:`, `#reproot:`) describe one version: appends
  *    and incremental compaction carry the head's lines verbatim, every
  *    other operation declares its own.
  */
class CarryMatrixSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private val Kinds = Seq("txn", "gen", "check", "cluster", "ttl", "schema",
    "ptspec", "op", "clone", "xtxn", "partition", "repsrc", "repmap", "reproot")
  private val Lineage = Set("txn", "gen")
  private val Contracts = Set("check", "cluster", "ttl", "schema", "ptspec")
  private val Sync = Set("repsrc", "repmap", "reproot")
  private val Verbatim = Kinds.toSet - "xtxn"

  private def rows(ks: Long*): DataFrame = ks.map(k => (k, s"v$k")).toDF("k", "v")

  /** The fixture: v1 holds two data files, v2 hand-writes every header
    * kind over them, v3 appends one row through a cross-table
    * transaction, so the raw head also carries `#xtxn:`.
    */
  private def fixture(tag: String): String = {
    val root = java.nio.file.Files.createTempDirectory(s"graft_carry_$tag").toString + "/t"
    val log = new CommitLog(spark, root)
    log.commit(spark.sparkContext.parallelize(Seq(1L -> "a", 2L -> "b"), 2).toDF("k", "v"),
      replace = false): Unit
    val entries = rawHead(root).filterNot(_.startsWith("#"))
    assert(entries.size == 2)
    val schema = org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, v STRING")
    val headers = Seq(
      "#op:fixture",
      "#txn:fixture-1",
      "#gen:1",
      """#check:{"k_pos":"k > 0"}""",
      """#cluster:["k"]""",
      """#ttl:{"col":"k","ms":1000}""",
      "#schema:" + schema.json,
      "#ptspec:[]",
      "#clone:/elsewhere/t@4",
      "#partition:[]",
      "#repsrc:5",
      "#repmap:1-5",
      "#reproot:file:/elsewhere/src")
    val fs = HadoopFs.fs(spark, root)
    LogStore.write(fs, new Path(root, "_commits/00000002.manifest"),
      LogStore.lines(headers ++ entries))
    CrossTableTxn.commitAll(spark, root + "_xtxn", Seq((log, rows(3L), false))): Unit
    assert(rawHead(root).exists(_.startsWith("#xtxn:")))
    root
  }

  private def rawHead(root: String): Seq[String] = {
    val v = new CommitLog(spark, root).currentVersion.get
    LogStore.readString(HadoopFs.fs(spark, root), new Path(root, f"_commits/$v%08d.manifest"))
      .split('\n').toSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** One operation: run it on a fixture root, return the root whose head
    * holds the result. `counts` runs it once and counts each header kind
    * in that head.
    */
  private case class Op(name: String, run: String => String, expected: Set[String]) {
    lazy val counts: Map[String, Int] = {
      val lines = rawHead(run(fixture(name.takeWhile(_.isLetter))))
      Kinds.map(k => k -> lines.count(_.startsWith(s"#$k:"))).toMap
    }
  }

  private val ops = Seq(
    Op("append", { root =>
      new CommitLog(spark, root).commit(rows(10L), replace = false); root
    }, Verbatim),
    Op("commit(replace)", { root =>
      new CommitLog(spark, root).commit(rows(10L, 11L), replace = true); root
    }, Lineage ++ Contracts + "op"),
    Op("compact", { root =>
      new CommitLog(spark, root).compact(); root
    }, Verbatim),
    Op("restore", { root =>
      new CommitLog(spark, root).restore(1L); root
    }, Lineage + "op"),
    Op("cloneFrom", { root =>
      val clone = root + "_clone"
      new CommitLog(spark, clone).cloneFrom(root); clone
    }, Contracts ++ Set("op", "clone")),
    Op("createBranch", { root =>
      val log = new CommitLog(spark, root)
      log.createBranch("b")
      log.branchRootPath("b")
    }, Contracts ++ Set("op", "clone")),
    Op("fastForward", { root =>
      val log = new CommitLog(spark, root)
      log.createBranch("b")
      log.fastForward("b"); root
    }, Lineage ++ Contracts + "op"),
    Op("promote", { root =>
      new CommitLog(spark, root).promote(None); root
    }, Verbatim -- Sync),
    Op("replicateFrom", { root =>
      val replica = root + "_replica"
      new CommitLog(spark, replica).replicateFrom(new CommitLog(spark, root)); replica
    }, Verbatim)
  )

  test("a branch root is one version: the fork carries its contracts at v1") {
    val root = fixture("branch")
    val log = new CommitLog(spark, root)
    log.createBranch("b")
    assert(new CommitLog(spark, log.branchRootPath("b")).currentVersion.contains(1L))
  }

  for (op <- ops; kind <- Kinds) {
    val want = op.expected(kind)
    test(s"#$kind: after ${op.name} is ${if (want) "present" else "absent"}") {
      assert(op.counts(kind) == (if (want) 1 else 0),
        s"#$kind: occurs ${op.counts(kind)} times after ${op.name}")
    }
  }
}
