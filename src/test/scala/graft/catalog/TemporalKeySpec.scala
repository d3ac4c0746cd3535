package graft.catalog

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.{DataFrame, Encoders}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Keyed writes on DATE and TIMESTAMP keys. Parquet stores a DATE as
  * INT32 days and a TIMESTAMP as INT64 micros, so their footer stats are
  * numbers while the batch's key bounds are `java.sql.Date`/`Timestamp`:
  * the stats tier must compare them as epoch days and epoch micros. Each
  * table holds one file of January keys and one of June keys, so a batch
  * of January keys must rewrite only the January file.
  */
class TemporalKeySpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def d(s: String): Date = Date.valueOf(s)
  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private val jan = (1 to 5).map(i => d(f"2026-01-$i%02d") -> i.toLong)
  private val jun = (1 to 5).map(i => d(f"2026-06-$i%02d") -> (100L + i))

  /** A DATE-keyed log of one January file and one June file. */
  private def dateLog(): (CommitLog, String, String) = {
    val log = new CommitLog(spark, tmp("graft_datekey") + "/t")
    log.commit(jan.toDF("k", "v").coalesce(1), replace = false)
    val janFile = log.files(log.currentVersion.get).head
    log.commit(jun.toDF("k", "v").coalesce(1), replace = false)
    val junFile = (log.files(log.currentVersion.get).toSet - janFile).head
    (log, janFile, junFile)
  }

  private def rowsOf(log: CommitLog): Map[Date, Long] =
    log.read().select("k", "v").as[(Date, Long)].collect().toMap

  private def live(log: CommitLog): Set[String] = log.files(log.currentVersion.get).toSet

  test("DATE-keyed merge and deleteKeys rewrite only the files whose day bounds admit the keys") {
    val (log, janFile, junFile) = dateLog()
    log.merge(Seq(d("2026-01-02") -> 20L, d("2026-01-31") -> 31L).toDF("k", "v"), "k")
    assert(live(log).contains(junFile) && !live(log).contains(janFile))
    log.deleteKeys(Seq(d("2026-06-03")).toDF("k"), "k")
    assert(!live(log).contains(junFile))
    val got = rowsOf(log)
    assert(got == (jan ++ jun).toMap + (d("2026-01-02") -> 20L) +
      (d("2026-01-31") -> 31L) - d("2026-06-03"))
    // a key outside every file's bounds prunes to nothing and deletes nothing
    val v = log.currentVersion.get
    log.deleteKeys(Seq(d("2027-01-01")).toDF("k"), "k")
    assert(rowsOf(log) == got)
    assert(live(log) == log.files(v).toSet)
    // a DATE range read prunes through the same stats comparison
    assert(log.readBetween("k", d("2026-01-02"), d("2026-01-31")).select("v").as[Long]
      .collect().toSet == Set(20L, 3L, 4L, 5L, 31L))
  }

  test("DATE-keyed mergeMoR and deleteKeysMoR apply exactly") {
    val (log, _, _) = dateLog()
    log.mergeMoR(Seq(d("2026-06-02") -> 7L, d("2026-02-01") -> 8L).toDF("k", "v"), "k")
    log.deleteKeysMoR(Seq(d("2026-01-05"), d("2026-06-02")).toDF("k"), "k")
    assert(rowsOf(log) == (jan ++ jun).toMap + (d("2026-02-01") -> 8L) -
      d("2026-01-05") - d("2026-06-02"))
  }

  test("create on a DATE-keyed table rejects a stored key and accepts fresh ones") {
    val root = tmp("graft_datekey_cat")
    val catalog = new AssetCatalog(spark, root)
    def create(rows: DataFrame): Unit = catalog.create("t", "k", rows)(Encoders.row(rows.schema))
    create(jan.toDF("k", "v").coalesce(1))
    create(jun.toDF("k", "v").coalesce(1))
    val e = intercept[IllegalArgumentException](create(Seq(d("2026-06-04") -> 0L).toDF("k", "v")))
    assert(e.getMessage.contains("already exists"), e.getMessage)
    // inside the stored range but absent, and above every stored key
    create(Seq(d("2026-03-01") -> 1L, d("2027-01-01") -> 2L).toDF("k", "v"))
    val got = catalog.readTable("t").select("k", "v").as[(Date, Long)].collect().toMap
    assert(got == (jan ++ jun).toMap + (d("2026-03-01") -> 1L) + (d("2027-01-01") -> 2L))
  }

  test("TIMESTAMP-keyed merge and deleteKeys compare as epoch micros") {
    val log = new CommitLog(spark, tmp("graft_tskey") + "/t")
    val early = (1 to 3).map(i => ts(s"2026-01-01 00:00:0$i.000001") -> i.toLong)
    val late = (1 to 3).map(i => ts(s"2026-06-01 00:00:0$i") -> (10L + i))
    log.commit(early.toDF("k", "v").coalesce(1), replace = false)
    val earlyFile = live(log).head
    log.commit(late.toDF("k", "v").coalesce(1), replace = false)
    val lateFile = (live(log) - earlyFile).head
    log.merge(Seq(ts("2026-01-01 00:00:02.000001") -> 20L).toDF("k", "v"), "k")
    assert(live(log).contains(lateFile) && !live(log).contains(earlyFile))
    log.deleteKeys(Seq(ts("2026-06-01 00:00:03")).toDF("k"), "k")
    val got = log.read().select("k", "v").as[(Timestamp, Long)].collect().toMap
    assert(got == (early ++ late).toMap + (ts("2026-01-01 00:00:02.000001") -> 20L) -
      ts("2026-06-01 00:00:03"))
  }
}
