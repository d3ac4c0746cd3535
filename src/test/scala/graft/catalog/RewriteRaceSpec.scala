package graft.catalog

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.ParallelTestExecution
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The rewrites that read the table they replace: `optimizeBy`,
  * `optimizeZOrder`, and the `set_partition_transforms` and
  * `materialize_mapping` procedures. Each loses its first publish to an
  * append of row 999, and must land above it with that row kept: a
  * rewrite that republished the snapshot it read before the race would
  * erase the append. The optimize paths race through `beforePublish`; the
  * procedures open their own handle, so their racer rides a log store
  * ([[RewriteRaceSpec.RacingStore]]) installed in a session of their own.
  */
class RewriteRaceSpec extends AnyFunSuite with ParallelTestExecution {
  import MorRebaseSpec.orphans
  import RewriteRaceSpec.RacingStore
  import SparkTestSession._
  import spark.implicits._

  private val Racer = 999L

  private def rows(kv: (Long, String)*): DataFrame = kv.toDF("k", "p")

  /** Rows 1, 2, 3 in one pool file, then row 4 in a second. */
  private def seeded(): String = {
    val root = java.nio.file.Files.createTempDirectory("graft_rewrite_race").toString + "/t"
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

  private def appendRacer(root: String): Unit =
    new CommitLog(spark, root).commit(rows(Racer -> "racer"), replace = false): Unit

  private def keys(root: String): Set[Long] =
    new CommitLog(spark, root).read().select("k").as[Long].collect().toSet

  /** `optimize` loses attempt 0 to an append, then lands one version above
    * it on top of the append, re-staging nothing.
    */
  private def optimizeKeepsAppend(optimize: CommitLog => Any): Unit = {
    val root = seeded()
    val start = new CommitLog(spark, root).currentVersion.get
    optimize(new Raced(root, appendRacer))
    val log = new CommitLog(spark, root)
    assert(log.currentVersion.contains(start + 2))
    assert(log.operation(start + 2) == "optimize")
    assert(keys(root) == Set(1L, 2L, 3L, 4L, Racer), "the racing append was erased")
    assert(orphans(root).isEmpty, "the rewrite lands over an append without recomputing")
  }

  test("optimizeBy keeps a row appended before its publish") {
    optimizeKeepsAppend(_.optimizeBy("k"))
  }

  test("optimizeZOrder keeps a row appended before its publish") {
    optimizeKeepsAppend(_.optimizeZOrder(Seq("k", "p")))
  }

  test("optimizeBy recomputes over a merge-on-read delete, and the row stays deleted") {
    val root = seeded()
    new Raced(root, r => new CommitLog(spark, r).deleteWhereMoR(col("k") === 2L): Unit)
      .optimizeBy("k")
    val log = new CommitLog(spark, root)
    assert(keys(root) == Set(1L, 3L, 4L))
    assert(log.dvFiles(log.currentVersion.get).isEmpty)
    assert(orphans(root).nonEmpty, "a tombstone on a rewritten file forces a recompute")
  }

  /** A session of its own whose catalog `grr` commits through
    * [[RacingStore]], with namespace `db` created.
    */
  private def racingSession(): (SparkSession, String) = {
    val s = spark.newSession()
    val w = java.nio.file.Files.createTempDirectory("graft_rewrite_race_wh").toString
    s.conf.set("spark.sql.catalog.grr", classOf[GraftTableCatalog].getName)
    s.conf.set("spark.sql.catalog.grr.warehouse", w)
    s.conf.set(LogStore.ConfKey, classOf[RacingStore].getName)
    s.sql("CREATE NAMESPACE IF NOT EXISTS grr.db")
    (s, w)
  }

  test("set_partition_transforms keeps a row appended before its publish") {
    val (s, w) = racingSession()
    s.sql("CREATE TABLE grr.db.t (k BIGINT, p STRING)")
    s.sql("INSERT INTO grr.db.t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    val root = s"$w/db/t"
    val raced = RacingStore.arm(root)(appendRacer(root))
    s.sql("CALL grr.system.set_partition_transforms('db.t', 'bucket(2, k)')")
    assert(raced.get, "the racer ran before the procedure's publish")
    val log = new CommitLog(spark, root)
    assert(log.partitionTransforms.map(_.spec) == Seq("bucket(2, k)"))
    assert(s.table("grr.db.t").select("k").as[Long].collect().toSet ==
      Set(1L, 2L, 3L, Racer), "the racing append was erased")
    assert(log.files(log.currentVersion.get).forall(_.contains("_p_")),
      "the racing append is laid out under the new transform too")
  }

  test("materialize_mapping keeps a row appended before its publish") {
    val (s, w) = racingSession()
    s.sql("CREATE TABLE grr.db.m (k BIGINT, v STRING)")
    s.sql("INSERT INTO grr.db.m VALUES (1, 'a'), (2, 'b')")
    s.sql("ALTER TABLE grr.db.m RENAME COLUMN v TO w")
    val root = s"$w/db/m"
    // a racing writer stages the table's physical names
    val raced = RacingStore.arm(root)(new CommitLog(spark, root)
      .commit(Seq(Racer -> "racer").toDF("k", "v"), replace = false): Unit)
    s.sql("CALL grr.system.materialize_mapping('db.m')")
    assert(raced.get, "the racer ran before the procedure's publish")
    assert(s.sql("SELECT k, w FROM grr.db.m").as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (Racer, "racer")), "the racing append was erased")
    val log = new CommitLog(spark, root)
    val head = log.files(log.currentVersion.get).map(n => s"$root/data/$n")
    assert(spark.read.parquet(head: _*).columns.toSet == Set("k", "w"))
  }
}

object RewriteRaceSpec {
  /** Racers waiting for the first manifest publish under a table root. */
  private val armed = new ConcurrentHashMap[String, (() => Unit, AtomicBoolean)]()

  private def key(root: String): String = new Path(root).toUri.getPath

  /** A log store that, on the first manifest publish under an armed root,
    * runs that root's racer and then publishes as the local store does.
    * Unarmed roots publish unchanged.
    */
  final class RacingStore(spark: SparkSession, root: String) extends LogStore {
    private val local = new LocalLinkLogStore(HadoopFs.fs(spark, root))
    def putIfAbsent(dst: Path, content: Array[Byte]): Boolean = {
      if (dst.getParent.getName == "_commits")
        Option(armed.remove(key(root))).foreach { case (racer, ran) => racer(); ran.set(true) }
      local.putIfAbsent(dst, content)
    }
  }

  object RacingStore {
    /** Run `racer` before the next manifest publish under `root`; the
      * flag turns true once it ran.
      */
    def arm(root: String)(racer: => Unit): AtomicBoolean = {
      val ran = new AtomicBoolean(false)
      armed.put(key(root), (() => racer, ran))
      ran
    }
  }
}
