package graft.catalog

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.ParallelTestExecution
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The commit protocol ([[CommitLog]]'s head race), path by path. Every
  * mutation that publishes through the race appears once in `paths`, and
  * each is driven twice through the `beforePublish` seam on one table:
  *
  *  - a racer that wins every attempt by copying the head manifest to the
  *    target version (cheap, so the 50-attempt paths stay fast): the
  *    operation must give up with "lost the head race" after exactly its
  *    budget, with the visible table unchanged;
  *  - then a racer that commits on attempt 0 only: the operation must land
  *    one version above the racer, with the racer's effect kept. A path
  *    with a read test the racer's append cannot pass (`rebases`) lands the
  *    delta its attempt 0 staged on top of the append, so that run leaves
  *    no orphaned pool file.
  *
  * Every test owns its table, so the tests run in parallel.
  */
class HeadRaceSpec extends AnyFunSuite with ParallelTestExecution {
  import MorRebaseSpec.orphans
  import SparkTestSession._
  import spark.implicits._

  private val Racer = 999L

  /** One race path: `setup` builds the table at a root, `op` runs the
    * operation on a racing handle, `racer` is the attempt-0 writer and
    * `kept` checks the table once the operation landed above it.
    */
  private case class RacePath(name: String, stamp: String, budget: Int,
      op: CommitLog => Any, setup: String => Unit = seeded,
      racer: String => Unit = appendRacer, kept: CommitLog => Unit = rowKept,
      rebases: Boolean = false)

  private def rows(kv: (Long, String)*): DataFrame = kv.toDF("k", "p")

  private def appendRacer(root: String): Unit =
    new CommitLog(spark, root).commit(rows(Racer -> "racer"), replace = false,
      Some("racer")): Unit

  private def keys(log: CommitLog): Set[Long] = log.read().select("k").as[Long].collect().toSet

  private def rowKept(log: CommitLog): Unit = assert(keys(log)(Racer))

  /** Three seed rows over two pool files (compact needs two to pack). */
  private def seeded(root: String): Unit =
    new CommitLog(spark, root).commit(
      spark.sparkContext.parallelize(Seq(1L -> "a", 2L -> "b", 3L -> "c"), 2).toDF("k", "p"),
      replace = false): Unit

  /** A head with no data files: the metadata paths validate columns and
    * rows only when the head has data, so the budget run stays cheap and
    * the retry after the racer's append does the validation.
    */
  private def declaredOnly(root: String): Unit =
    new CommitLog(spark, root).setClustering(Seq.empty): Unit

  private def parquetFiles(df: DataFrame): Seq[Path] = {
    val dir = java.nio.file.Files.createTempDirectory("graft_race_src").toString + "/d"
    df.write.parquet(dir)
    val fs = HadoopFs.fs(spark, dir)
    fs.listStatus(new Path(dir)).map(_.getPath).filter(_.getName.endsWith(".parquet")).toSeq
  }

  /** `root` as a synced replica of a seeded table at `root_src`. */
  private def replica(root: String): Unit = {
    seeded(root + "_src")
    new CommitLog(spark, root).replicateFrom(source(root)): Unit
  }

  private def source(root: String) = new CommitLog(spark, root + "_src")

  private def updated(l: CommitLog): Seq[String] =
    l.read().filter(col("k") === 2L).select("p").as[String].collect().toSeq

  private val paths: Seq[RacePath] = Seq(
    RacePath("commit", "append", 50, _.commit(rows(7L -> "x"), replace = false)),
    RacePath("commit", "replace", 50, _.commit(rows(7L -> "x"), replace = true),
      // a replace drops the racer's row by design, but never its txn id
      kept = l => assert(l.txns(l.currentVersion.get)("racer") && keys(l) == Set(7L))),
    RacePath("commitPartitioned", "append", 50,
      _.commitPartitioned(rows(7L -> "x"), Seq("p"), replace = false),
      setup = root => new CommitLog(spark, root).commitPartitioned(
        rows(1L -> "a", 2L -> "b"), Seq("p"), replace = true): Unit,
      racer = root => new CommitLog(spark, root).commitPartitioned(
        rows(Racer -> "racer"), Seq("p"), replace = false, txn = Some("racer")): Unit),
    RacePath("commitPooledFiles", "append", 50,
      _.commitPooledFiles(parquetFiles(rows(7L -> "x")), replace = false, Some("epoch-1"))),
    RacePath("commitCopiedWithTombstones", "import", 50,
      _.commitCopiedWithTombstones(parquetFiles(rows(7L -> "x")), None, replace = false)),
    RacePath("commitStaged", "append", 50, l => {
      val stage = l.newStageDir("race")
      rows(7L -> "x").write.parquet(stage)
      l.commitStaged(stage) }),
    RacePath("publishPending", "xtxn", 50, l => {
      val decision = l.tableRootPath + s"_decision_${java.util.UUID.randomUUID()}"
      val v = l.publishPending(rows(7L -> "x"), "x1", decision, replace = false)
      LogStore.write(HadoopFs.fs(spark, decision), new Path(decision),
        "commit\n".getBytes("UTF-8"))
      v }),
    RacePath("restore", "restore", 50, _.restore(1L),
      setup = root => { seeded(root)
        new CommitLog(spark, root).commit(rows(7L -> "x"), replace = false): Unit },
      // a restore republishes v1's content, carrying the head's txn ids
      kept = l => assert(l.txns(l.currentVersion.get)("racer") && keys(l) == Set(1L, 2L, 3L))),
    RacePath("replicateFrom", "replicate", 50, l => l.replicateFrom(source(l.tableRootPath)),
      setup = root => { replica(root)
        source(root).commit(rows(7L -> "x"), replace = false): Unit },
      // a sync republishes the source head; the racer's version stays in history
      kept = l => assert(keys(l) == Set(1L, 2L, 3L, 7L) &&
        l.operation(l.currentVersion.get - 1) == "append")),
    RacePath("promote", "promote", 50, _.promote(), setup = replica,
      kept = l => assert(keys(l)(Racer) && l.generation == 1L)),
    RacePath("setClustering", "set_clustering", 50, _.setClustering(Seq("k")),
      setup = declaredOnly,
      kept = l => assert(keys(l)(Racer) && l.clusteringColumns == Seq("k"))),
    RacePath("addConstraint", "add_constraint", 50, _.addConstraint("pos", "k > 0"),
      setup = declaredOnly,
      kept = l => assert(keys(l)(Racer) && l.checkConstraints.contains("pos"))),
    RacePath("dropConstraint", "drop_constraint", 50, _.dropConstraint("pos"),
      setup = root => { declaredOnly(root)
        new CommitLog(spark, root).addConstraint("pos", "k > 0"): Unit },
      kept = l => assert(keys(l)(Racer) && l.checkConstraints.isEmpty)),
    RacePath("setTtl", "set_ttl", 50, _.setTtl("k", 1000L), setup = declaredOnly,
      kept = l => assert(keys(l)(Racer) && l.ttlPolicy.contains(("k", 1000L)))),
    RacePath("expireBefore", "expire", 5, _.expireBefore("k", 2L),
      kept = l => assert(keys(l) == Set(2L, 3L, Racer)), rebases = true),
    RacePath("merge", "merge", 5, _.merge(rows(2L -> "u", 5L -> "n"), "k"),
      kept = l => assert(keys(l) == Set(1L, 2L, 3L, 5L, Racer) && updated(l) == Seq("u")),
      rebases = true),
    RacePath("delete", "delete", 5, _.deleteKeys(Seq(2L).toDF("k"), "k"),
      kept = l => assert(keys(l) == Set(1L, 3L, Racer)), rebases = true),
    RacePath("rewriteWhere", "delete", 5, _.deleteWhere(col("k") === 2L),
      kept = l => assert(keys(l) == Set(1L, 3L, Racer)), rebases = true),
    RacePath("updateWhere", "update", 5, _.updateWhere(col("k") === 2L, Seq("p" -> lit("u"))),
      kept = l => assert(keys(l)(Racer) && updated(l) == Seq("u")), rebases = true),
    RacePath("updateWhereMoR", "update_mor", 5,
      _.updateWhereMoR(col("k") === 2L, Seq("p" -> lit("u"))),
      kept = l => assert(keys(l)(Racer) && updated(l) == Seq("u")), rebases = true),
    RacePath("deleteWhereMoR", "delete_mor", 5, _.deleteWhereMoR(col("k") === 2L),
      kept = l => assert(keys(l) == Set(1L, 3L, Racer)), rebases = true),
    RacePath("deleteKeysMoR", "delete_mor", 5, _.deleteKeysMoR(Seq(2L).toDF("k"), "k"),
      kept = l => assert(keys(l) == Set(1L, 3L, Racer)), rebases = true),
    RacePath("mergeMoR", "merge_mor", 5, _.mergeMoR(rows(2L -> "u", 5L -> "n"), "k"),
      kept = l => assert(keys(l) == Set(1L, 2L, 3L, 5L, Racer) && updated(l) == Seq("u")),
      rebases = true),
    RacePath("applyChangesMoR", "cdc_apply", 5,
      _.applyChangesMoR(Seq(2L).toDF("k"), rows(2L -> "u", 4L -> "d"), "k",
        txn = Some("cdc-1")),
      kept = l => assert(keys(l) == Set(1L, 2L, 3L, 4L, Racer) &&
        l.txns(l.currentVersion.get)("cdc-1"))),
    RacePath("rewriteDeletes", "rewrite_deletes", 5, _.rewriteDeletes(),
      setup = root => { seeded(root)
        new CommitLog(spark, root).deleteWhereMoR(col("k") === 2L): Unit },
      kept = l => assert(keys(l) == Set(1L, 3L, Racer) && l.dvFiles(l.currentVersion.get).isEmpty),
      rebases = true),
    RacePath("compact", "compact", 5, _.compact(),
      // the packed file plus the racer's, carried by the rebase
      kept = l => assert(keys(l) == Set(1L, 2L, 3L, Racer) &&
        l.files(l.currentVersion.get).length == 2), rebases = true),
    RacePath("commit", "optimize", 50, _.optimizeBy("k"), rebases = true)
  )

  /** A handle on `root` whose `beforePublish` records its arguments and
    * runs `race` first.
    */
  private class Raced(root: String, race: (Int, Long) => Unit) extends CommitLog(spark, root) {
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    override protected def beforePublish(attempt: Int, v: Long): Unit = {
      seen += ((attempt, v)); race(attempt, v)
    }
  }

  /** The cheap racer: version `v` becomes a byte copy of version `v - 1`. */
  private def copyHead(root: String, v: Long): Unit = {
    val fs = HadoopFs.fs(spark, root)
    FileUtil.copy(fs, new Path(root, f"_commits/${v - 1}%08d.manifest"),
      fs, new Path(root, f"_commits/$v%08d.manifest"), false, fs.getConf): Unit
  }

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_race").toString + "/t"

  private def state(log: CommitLog) = (log.read().collect().map(_.toString).sorted.toSeq,
    log.clusteringColumns, log.checkConstraints, log.ttlPolicy, log.generation)

  test("every head-race path is listed once") {
    assert(paths.map(p => (p.name, p.stamp)).distinct.size == paths.size)
  }

  test("compact of a tombstoned head folds again above a racing append, keeping its row") {
    val root = freshRoot()
    seeded(root)
    new CommitLog(spark, root).deleteWhereMoR(col("k") === 2L)
    val log = new Raced(root, (attempt, _) => if (attempt == 0) appendRacer(root))
    log.compact()
    val head = log.currentVersion.get
    assert(keys(log) == Set(1L, 3L, Racer))
    assert(log.dvFiles(head).isEmpty && log.operation(head) == "compact")
  }

  for (p <- paths) test(s"${p.name} (${p.stamp}): budget ${p.budget}, then a win above a racer") {
    val root = freshRoot()
    p.setup(root)
    val start = new CommitLog(spark, root).currentVersion.get
    val before = state(new CommitLog(spark, root))
    val loser = new Raced(root, (_, v) => copyHead(root, v))
    val e = intercept[java.io.IOException](p.op(loser))
    assert(e.getMessage.startsWith(s"${p.name}: lost the head race ${p.budget} times"),
      e.getMessage)
    assert(loser.seen.toSeq == (0 until p.budget).map(a => (a, start + 1 + a)))
    assert(state(new CommitLog(spark, root)) == before, "a lost race must leave no effect")

    val head = start + p.budget
    val orphaned = if (p.rebases) orphans(root) else Set.empty[String]
    val winner = new Raced(root, (attempt, _) => if (attempt == 0) p.racer(root))
    p.op(winner)
    assert(winner.seen.toSeq == Seq((0, head + 1), (1, head + 2)))
    assert(winner.currentVersion.contains(head + 2))
    assert(winner.operation(head + 2) == p.stamp)
    p.kept(winner)
    if (p.rebases) assert(orphans(root) == orphaned,
      "a rebase above the racer's append publishes what attempt 0 staged")
  }
}
