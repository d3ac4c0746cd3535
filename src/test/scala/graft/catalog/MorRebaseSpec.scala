package graft.catalog

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.ParallelTestExecution
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The head race's one conflict rule, as a matrix: a racer lands one
  * version through the `beforePublish` seam before a write's first
  * publish, and the write then either lands the delta it already staged on
  * top of the racer (a rebase) or recomputes against the racer's head. The
  * two are told apart by orphaned pool files: files under `data/` that no
  * retained manifest lists. A rebase publishes what attempt 0 staged, so it
  * leaves none; a recompute leaves attempt 0's. Every case also checks the
  * rows the table ends with. The writers are the merge-on-read ones and the
  * copy-on-write rewrites, whose delta also removes the files it rewrote.
  */
class MorRebaseSpec extends AnyFunSuite with ParallelTestExecution {
  import MorRebaseSpec.orphans
  import SparkTestSession._
  import spark.implicits._

  private def rows(kv: (Long, String)*): DataFrame = kv.toDF("k", "p")

  /** Rows 1, 2, 3 in one pool file (positions 0, 1, 2), then row 4 in a
    * second, so a compaction has two files to pack.
    */
  private def seeded(): String = {
    val root = java.nio.file.Files.createTempDirectory("graft_rebase").toString + "/t"
    val log = new CommitLog(spark, root)
    log.commit(rows(1L -> "a", 2L -> "b", 3L -> "c").coalesce(1), replace = false)
    log.commit(rows(4L -> "d"), replace = false)
    root
  }

  /** A handle on `root` whose attempt-0 publish loses to `racer`. */
  private class Raced(root: String, racer: String => Unit) extends CommitLog(spark, root) {
    override protected def beforePublish(attempt: Int, v: Long): Unit =
      if (attempt == 0) racer(root)
  }

  private def table(root: String): Seq[(Long, String)] =
    new CommitLog(spark, root).read().select("k", "p").as[(Long, String)].collect().toSeq.sorted

  private def append(kv: (Long, String)*)(root: String): Unit =
    new CommitLog(spark, root).commit(rows(kv: _*), replace = false): Unit

  private def correct(k: Long, p: String)(root: String): Unit =
    new CommitLog(spark, root).updateWhereMoR(col("k") === k, Seq("p" -> lit(p))): Unit

  /** A merge-on-read delete of row 1 whose deletion-vector line then loses
    * its stats.
    */
  private def statslessDv(root: String): Unit = {
    val log = new CommitLog(spark, root)
    val v = log.deleteWhereMoR(col("k") === 1L)
    val fs = HadoopFs.fs(spark, root)
    val path = new Path(root, f"_commits/$v%08d.manifest")
    val text = LogStore.readString(fs, path)
    val stripped = text.split("\n", -1).map(l =>
      if (l.startsWith("-")) l.takeWhile(_ != '\t') else l).mkString("\n")
    assert(stripped != text)
    val out = fs.create(path, true)
    try out.write(stripped.getBytes("UTF-8")) finally out.close()
  }

  private def update(l: CommitLog): Any = l.updateWhereMoR(col("k") === 2L, Seq("p" -> lit("u")))
  private def mergeMoR(l: CommitLog): Any = l.mergeMoR(rows(2L -> "u", 5L -> "n"), "k")

  private def delete(k: Long)(root: String): Unit =
    new CommitLog(spark, root).deleteWhereMoR(col("k") === k): Unit

  private def merge(l: CommitLog): Any = l.merge(rows(2L -> "u", 5L -> "n"), "k")
  private def deleteKeys(l: CommitLog): Any = l.deleteKeys(Seq(2L).toDF("k"), "k")
  private def updateCoW(l: CommitLog): Any = l.updateWhere(col("k") === 2L, Seq("p" -> lit("u")))
  private def compact(l: CommitLog): Any = l.compact()
  private def fold(l: CommitLog): Any = l.rewriteDeletes()
  private def expire(l: CommitLog): Any = l.expireBefore("k", 2L)

  /** [[seeded]] with row 3 tombstoned, for the tombstone fold. */
  private def seededDeleted(): String = {
    val root = seeded()
    delete(3L)(root)
    root
  }

  /** One cell: `writer` runs on a handle that loses attempt 0 to `racer`. */
  private def cell(writer: CommitLog => Any, racer: String => Unit, rebased: Boolean,
      expected: Seq[(Long, String)], setup: () => String = () => seeded()): Unit = {
    val root = setup()
    val start = new CommitLog(spark, root).currentVersion.get
    writer(new Raced(root, racer))
    val log = new CommitLog(spark, root)
    assert(log.currentVersion.contains(start + 2), "the write lands one version above the racer")
    val left = orphans(root)
    if (rebased) assert(left.isEmpty, s"a rebase publishes what it staged; orphans $left")
    else assert(left.nonEmpty, "a recompute leaves attempt 0's staged files behind")
    assert(table(root) == expected.sorted)
  }

  private val seed = Seq(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d")
  private def updated(kv: (Long, String)*): Seq[(Long, String)] =
    seed.filterNot(r => kv.exists(_._1 == r._1)) ++ kv

  test("updateWhereMoR: a non-matching append rebases") {
    cell(update, append(9L -> "r"), rebased = true, updated(2L -> "u") :+ (9L -> "r"))
  }

  test("updateWhereMoR: an append of a matching row recomputes and updates it too") {
    cell(update, append(2L -> "r"), rebased = false, updated(2L -> "u") :+ (2L -> "u"))
  }

  test("updateWhereMoR: a correction of the same row recomputes, leaving one row") {
    cell(update, correct(2L, "r"), rebased = false, updated(2L -> "u"))
  }

  test("updateWhereMoR: a correction of another row in the same file rebases") {
    cell(update, correct(1L, "r"), rebased = true, updated(1L -> "r", 2L -> "u"))
  }

  test("updateWhereMoR: a compaction recomputes") {
    cell(update, root => new CommitLog(spark, root).compact(): Unit, rebased = false,
      updated(2L -> "u"))
  }

  test("updateWhereMoR: a schema-evolving merge recomputes") {
    val root = seeded()
    val start = new CommitLog(spark, root).currentVersion.get
    update(new Raced(root, r => new CommitLog(spark, r).merge(
      Seq((9L, "r", 1)).toDF("k", "p", "x"), "k", evolve = true): Unit))
    val log = new CommitLog(spark, root)
    assert(log.currentVersion.contains(start + 2))
    assert(orphans(root).nonEmpty)
    assert(log.read().select("k", "p", "x").as[(Long, String, Option[Int])].collect()
      .toSeq.sortBy(_._1) ==
      Seq((1L, "a", None), (2L, "u", None), (3L, "c", None), (4L, "d", None), (9L, "r", Some(1))))
  }

  test("updateWhereMoR: a deletion vector with no stats recomputes") {
    cell(update, statslessDv, rebased = false, updated(2L -> "u").filterNot(_._1 == 1L))
  }

  test("mergeMoR: a non-matching append rebases") {
    cell(mergeMoR, append(9L -> "r"), rebased = true,
      updated(2L -> "u") ++ Seq(5L -> "n", 9L -> "r"))
  }

  test("mergeMoR: an append of a matching row recomputes and replaces it too") {
    cell(mergeMoR, append(2L -> "r"), rebased = false, updated(2L -> "u") :+ (5L -> "n"))
  }

  test("mergeMoR: a correction of the same row recomputes, leaving one row") {
    cell(mergeMoR, correct(2L, "r"), rebased = false, updated(2L -> "u") :+ (5L -> "n"))
  }

  test("mergeMoR: a correction of another row in the same file rebases") {
    cell(mergeMoR, correct(1L, "r"), rebased = true, updated(1L -> "r", 2L -> "u") :+ (5L -> "n"))
  }

  test("mergeMoR: a compaction recomputes") {
    cell(mergeMoR, root => new CommitLog(spark, root).compact(): Unit, rebased = false,
      updated(2L -> "u") :+ (5L -> "n"))
  }

  test("mergeMoR: a schema-evolving merge never rebases") {
    val root = seeded()
    new Raced(root, append(9L -> "r"))
      .mergeMoR(Seq((2L, "u", 1), (5L, "n", 2)).toDF("k", "p", "x"), "k", evolve = true)
    assert(orphans(root).nonEmpty)
    assert(new CommitLog(spark, root).read().select("k", "p", "x")
      .as[(Long, String, Option[Int])].collect().toSeq.sortBy(_._1) ==
      Seq((1L, "a", None), (2L, "u", Some(1)), (3L, "c", None), (4L, "d", None),
        (5L, "n", Some(2)), (9L, "r", None)))
  }

  test("mergeMoR: a deletion vector with no stats recomputes") {
    cell(mergeMoR, statslessDv, rebased = false,
      (updated(2L -> "u") :+ (5L -> "n")).filterNot(_._1 == 1L))
  }

  test("merge: a non-matching append rebases") {
    cell(merge, append(9L -> "r"), rebased = true,
      updated(2L -> "u") ++ Seq(5L -> "n", 9L -> "r"))
  }

  test("merge: an append of a matching row recomputes and replaces it too") {
    cell(merge, append(2L -> "r"), rebased = false, updated(2L -> "u") :+ (5L -> "n"))
  }

  test("merge: a delete in a file it rewrites recomputes, and the row stays deleted") {
    cell(merge, delete(1L), rebased = false,
      (updated(2L -> "u") :+ (5L -> "n")).filterNot(_._1 == 1L))
  }

  test("deleteKeys: a non-matching append rebases") {
    cell(deleteKeys, append(9L -> "r"), rebased = true,
      seed.filterNot(_._1 == 2L) :+ (9L -> "r"))
  }

  test("deleteKeys: an append of a matching row recomputes and deletes it too") {
    cell(deleteKeys, append(2L -> "r"), rebased = false, seed.filterNot(_._1 == 2L))
  }

  test("deleteKeys: a delete in a file it rewrites recomputes, and the row stays deleted") {
    cell(deleteKeys, delete(1L), rebased = false, seed.filterNot(r => r._1 == 1L || r._1 == 2L))
  }

  test("updateWhere: a non-matching append rebases") {
    cell(updateCoW, append(9L -> "r"), rebased = true, updated(2L -> "u") :+ (9L -> "r"))
  }

  test("updateWhere: an append of a matching row recomputes and updates it too") {
    cell(updateCoW, append(2L -> "r"), rebased = false, updated(2L -> "u") :+ (2L -> "u"))
  }

  test("updateWhere: a delete in a file it rewrites recomputes, and the row stays deleted") {
    cell(updateCoW, delete(1L), rebased = false, updated(2L -> "u").filterNot(_._1 == 1L))
  }

  test("compact: an append rebases") {
    cell(compact, append(9L -> "r"), rebased = true, seed :+ (9L -> "r"))
  }

  test("compact: a delete in a file it packs recomputes, and the row stays deleted") {
    cell(compact, delete(1L), rebased = false, seed.filterNot(_._1 == 1L))
  }

  test("rewriteDeletes: an append rebases") {
    cell(fold, append(9L -> "r"), rebased = true, seed.filterNot(_._1 == 3L) :+ (9L -> "r"),
      seededDeleted)
  }

  test("rewriteDeletes: a delete in a file it folds recomputes, and the row stays deleted") {
    cell(fold, delete(1L), rebased = false, seed.filterNot(r => r._1 == 1L || r._1 == 3L),
      seededDeleted)
  }

  // rows 1, 2, 3 share the file that straddles the cutoff 2
  test("expireBefore: a non-matching append rebases") {
    cell(expire, append(9L -> "r"), rebased = true, seed.filterNot(_._1 == 1L) :+ (9L -> "r"))
  }

  test("expireBefore: a delete in a straddling file recomputes, and the row stays deleted") {
    cell(expire, delete(3L), rebased = false, seed.filterNot(r => r._1 == 1L || r._1 == 3L))
  }
}

object MorRebaseSpec {
  import SparkTestSession.spark

  /** Pool files under `data/` that no retained manifest lists. */
  def orphans(root: String): Set[String] = {
    val log = new CommitLog(spark, root)
    val listed = log.history().flatMap(i => log.files(i.version) ++ log.dvFiles(i.version))
      .map(n => new Path(n).getName).toSet
    val it = HadoopFs.fs(spark, root).listFiles(new Path(root, "data"), true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath.getName)
      .filter(_.endsWith(".parquet")).toSet -- listed
  }
}
