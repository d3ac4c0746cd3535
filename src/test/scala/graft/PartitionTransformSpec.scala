package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.CommitLog

/** Hidden partition transforms (Iceberg-style): `commitTransformed`
  * lays rows out by derived `_p_*` hive columns (days/bucket/truncate),
  * `read()` hides them, and `readWhere` prunes FILES from predicates on
  * the SOURCE column via the manifest's per-file partition-value bounds
  * — driver-side metadata, zero file opens for skipped files. Mutations
  * re-derive the layout when a write touches a transform source.
  */
class PartitionTransformSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def freshRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_$tag").toString + "/t"

  private def daysDf = Seq(
    (1L, "2024-03-01 10:00:00", 10.0), (2L, "2024-03-01 11:00:00", 20.0),
    (3L, "2024-03-02 10:00:00", 30.0), (4L, "2024-03-03 10:00:00", 40.0),
    (5L, "2024-03-04 10:00:00", 50.0), (6L, "2024-03-05 10:00:00", 60.0))
    .toDF("k", "ts0", "v").withColumn("ts", to_timestamp(col("ts0"))).drop("ts0")

  test("days(ts): read hides the layout, ranges on ts prune files") {
    val log = new CommitLog(spark, freshRoot("pt_days"))
    log.commitTransformed(daysDf, Seq("days(ts)"), replace = false)
    assert(log.read().columns.sorted.toSeq == Seq("k", "ts", "v"),
      "derived _p_* column must stay hidden")
    assert(log.partitionTransforms.map(_.spec) == Seq("day(ts)"))
    val total = log.files(log.currentVersion.get).length
    assert(total >= 5, s"one file per day expected, got $total")
    // equality day: exactly that day's file(s)
    val oneDay = col("ts") >= lit("2024-03-02 00:00:00").cast("timestamp") &&
      col("ts") < lit("2024-03-03 00:00:00").cast("timestamp")
    assert(log.prunedCandidates(oneDay).length < total)
    assert(log.readWhere(oneDay).select("k").as[Long].collect().toSeq == Seq(3L))
    // range spanning two days prunes the rest
    val range = col("ts") >= lit("2024-03-04 00:00:00").cast("timestamp")
    val cand = log.prunedCandidates(range)
    assert(cand.length <= 2, s"expected <=2 candidate files, got $cand")
    assert(log.readWhere(range).select("k").as[Long].collect().sorted.toSeq ==
      Seq(5L, 6L))
    // a predicate no file satisfies reads nothing
    assert(log.prunedCandidates(col("ts") >= lit("2030-01-01").cast("timestamp")).isEmpty)
    // reversed operand order prunes too (lit <= col)
    assert(log.prunedCandidates(
      lit("2024-03-05 00:00:00").cast("timestamp") <= col("ts")).length <= 1)
  }

  test("bucket(4, k): equality and IN prune; ranges scan conservatively") {
    val log = new CommitLog(spark, freshRoot("pt_bucket"))
    val df = (1L to 400L).map(i => (i, i * 1.0)).toDF("k", "v")
    log.commitTransformed(df, Seq("bucket(4, k)"), replace = false)
    val total = log.files(log.currentVersion.get).length
    assert(total == 4, s"4 buckets expected, got $total")
    val eq = log.prunedCandidates(col("k") === 42L)
    assert(eq.length == 1, s"equality must hit one bucket, got $eq")
    assert(log.readWhere(col("k") === 42L).select("v").as[Double].head() == 42.0)
    val in = log.prunedCandidates(col("k").isin(42L, 43L))
    assert(in.length <= 4 && in.nonEmpty)
    // ranges cannot prune a hash bucket — but stay correct
    assert(log.readWhere(col("k") > 398L).select("k").as[Long].collect().sorted
      .toSeq == Seq(399L, 400L))
    // hidden column never leaks
    assert(!log.readWhere(col("k") === 1L).columns.exists(_.startsWith("_p_")))
  }

  test("truncate on strings and numbers: monotone prefix/floor pruning") {
    val log = new CommitLog(spark, freshRoot("pt_trunc"))
    val df = Seq(("alpha", 12L), ("amber", 17L), ("bravo", 23L), ("brine", 29L),
      ("candy", 35L)).toDF("name", "n")
    log.commitTransformed(df, Seq("truncate(1, name)", "truncate(10, n)"),
      replace = false)
    val total = log.files(log.currentVersion.get).length
    val pf = log.prunedCandidates(col("name") >= "b" && col("name") < "c")
    assert(pf.length < total, s"prefix range must prune, got $pf of $total")
    assert(log.readWhere(col("name") >= "b" && col("name") < "c")
      .select("name").as[String].collect().sorted.toSeq == Seq("bravo", "brine"))
    val nf = log.prunedCandidates(col("n") === 23L)
    assert(nf.length < total)
    assert(log.readWhere(col("n") < 20L).select("n").as[Long].collect().sorted
      .toSeq == Seq(12L, 17L))
  }

  test("footer-stats tier: readWhere prunes files on ANY column, no transform needed") {
    val log = new CommitLog(spark, freshRoot("pt_stats"))
    // four files with disjoint k ranges (range-clustered write)
    log.commit(spark.range(0, 400)
      .select(col("id").as("k"), (col("id") * 2).as("v"),
        concat(lit("u"), format_string("%05d", col("id"))).as("name"))
      .repartitionByRange(4, col("k")), replace = false)
    val total = log.files(log.currentVersion.get).length
    assert(total == 4, s"expected 4 range-clustered files, got $total")
    assert(log.prunedCandidates(col("k") === 42L).length == 1)
    assert(log.prunedCandidates(col("k") >= 350L).length == 1)
    assert(log.prunedCandidates(col("k") >= 100L && col("k") < 200L).length <= 2)
    assert(log.readWhere(col("k") >= 350L).count() == 50)
    assert(log.readWhere(col("k") >= 100L && col("k") < 200L).count() == 100)
    // string bounds prune lexicographically
    assert(log.prunedCandidates(col("name") >= "u00350").length == 1)
    assert(log.readWhere(col("name") >= "u00350").count() == 50)
    // correlated second column prunes as well (v = 2k clusters with k)
    assert(log.prunedCandidates(col("v") === 84L).length == 1)
    assert(log.readWhere(col("v") === 84L).select("k").as[Long].head() == 42L)
    // predicates outside every file's bounds read nothing
    assert(log.prunedCandidates(col("k") > 1000L).isEmpty)
    assert(log.readWhere(col("k") > 1000L).count() == 0)
  }

  test("appends must redeclare the layout; replace re-lays-out") {
    val log = new CommitLog(spark, freshRoot("pt_decl"))
    log.commitTransformed(daysDf, Seq("days(ts)"), replace = false)
    val ex = intercept[IllegalArgumentException] {
      log.commitTransformed(daysDf, Seq("hours(ts)"), replace = false)
    }
    assert(ex.getMessage.contains("declared layout"), ex.getMessage)
    log.commitTransformed(
      daysDf.withColumn("k", col("k") + 100), Seq("days(ts)"), replace = false)
    assert(log.read().count() == 12)
    log.commitTransformed(daysDf, Seq("hours(ts)"), replace = true)
    assert(log.partitionTransforms.map(_.spec) == Seq("hour(ts)"))
    assert(log.read().count() == 6)
  }

  test("replication carries the hidden layout (sidecar + pruning parity)") {
    val base = java.nio.file.Files.createTempDirectory("graft_pt_rep").toString
    val src = new CommitLog(spark, base + "/src")
    src.commitTransformed(daysDf, Seq("days(ts)"), replace = false)
    val rep = new CommitLog(spark, base + "/rep")
    assert(rep.replicateFrom(src).isDefined)
    assert(rep.partitionTransforms.map(_.spec) == Seq("day(ts)"))
    assert(rep.read().columns.sorted.toSeq == Seq("k", "ts", "v"),
      "replica must hide the layout like the primary")
    val d2 = col("ts") >= lit("2024-03-04 00:00:00").cast("timestamp")
    assert(rep.prunedCandidates(d2).length < rep.files(rep.currentVersion.get).length)
    assert(rep.readWhere(d2).select("k").as[Long].collect().sorted.toSeq ==
      Seq(5L, 6L))
  }

  test("merge and updateWhere re-derive the layout (rows move partitions)") {
    val log = new CommitLog(spark, freshRoot("pt_mut"))
    log.commitTransformed(daysDf, Seq("days(ts)"), replace = false)
    // merge hands SOURCE columns only; the layout column is derived
    log.merge(Seq((7L, "2024-03-06 09:00:00", 70.0)).toDF("k", "ts0", "v")
      .withColumn("ts", to_timestamp(col("ts0"))).drop("ts0"), "k"): Unit
    val d6 = col("ts") >= lit("2024-03-06 00:00:00").cast("timestamp")
    assert(log.readWhere(d6).select("k").as[Long].collect().toSeq == Seq(7L))
    assert(log.prunedCandidates(d6).length <= 1)
    // UPDATE moving k=1 from 03-01 to 03-09: pruning must follow the row
    log.updateWhere(col("k") === 1L,
      Seq("ts" -> to_timestamp(lit("2024-03-09 08:00:00")))): Unit
    val d9 = col("ts") >= lit("2024-03-09 00:00:00").cast("timestamp")
    assert(log.readWhere(d9).select("k").as[Long].collect().toSeq == Seq(1L))
    assert(log.prunedCandidates(d9).length <= 1, "moved row must be prunable")
    val d1 = col("ts") < lit("2024-03-02 00:00:00").cast("timestamp")
    assert(log.readWhere(d1).select("k").as[Long].collect().sorted.toSeq == Seq(2L))
    // full-table invariants hold through the mutations
    assert(log.read().count() == 7)
  }

  test("compact preserves the hidden layout and folds MoR tombstones") {
    val log = new CommitLog(spark, freshRoot("pt_compact"))
    val df = (1L to 400L).map(i => (i, i * 1.0)).toDF("k", "v")
    // three small appends per bucket → 12 small files across 4 bucket dirs
    log.commitTransformed(df.filter(col("k") <= 100L), Seq("bucket(4, k)"),
      replace = false)
    log.commitTransformed(df.filter(col("k") > 100L && col("k") <= 250L),
      Seq("bucket(4, k)"), replace = false)
    log.commitTransformed(df.filter(col("k") > 250L), Seq("bucket(4, k)"),
      replace = false)
    val before = log.files(log.currentVersion.get).length
    assert(before >= 8, s"expected many small files, got $before")
    val (was, now) = log.compact()
    assert(was == before && now < before,
      s"compact must shrink the file count ($was -> $now)")
    // layout survives: transforms declared, every file still in a bucket
    // dir, equality pruning still engages, read still hides _p_*
    assert(log.partitionTransforms.map(_.spec) == Seq("bucket(4, k)"))
    assert(log.files(log.currentVersion.get).forall(_.contains("_p_bucket_4_k=")),
      "compacted files must keep the bucket layout dirs")
    assert(log.prunedCandidates(col("k") === 42L).length < now)
    assert(!log.read().columns.exists(_.startsWith("_p_")))
    assert(log.read().count() == 400)
    // MoR tombstones: compact's full-rewrite path must fold them and
    // still come out transform-partitioned
    log.deleteWhereMoR(col("k") % 10L === 0L): Unit
    assert(log.read().count() == 360)
    val (_, after) = log.compact()
    assert(log.read().count() == 360)
    assert(log.partitionTransforms.map(_.spec) == Seq("bucket(4, k)"))
    assert(log.files(log.currentVersion.get).forall(_.contains("_p_bucket_4_k=")),
      s"DV-fold rewrite must re-derive the bucket layout")
    assert(log.prunedCandidates(col("k") === 42L).length < after ||
      after == 1, "equality pruning must survive the DV fold")
    assert(log.readWhere(col("k") === 42L).select("v").as[Double].head() == 42.0)
  }

  test("maintenance replaces carry the #ptspec: header past a stale sidecar") {
    // The crash window the manifest header exists to close: a transform
    // REPLACE publishes the new spec in the manifest, then crashes before
    // the write-behind descriptor refresh — the descriptor still holds the
    // OLD spec. Every later maintenance replace (compact's tombstoned
    // fold here) must keep the header as the spec of record; dropping it
    // would resurrect the stale descriptor spec and disagree with the
    // laid-out data.
    val root = freshRoot("pt_stale_sidecar")
    val log = new CommitLog(spark, root)
    log.commitTransformed(daysDf, Seq("days(ts)"), replace = false)
    // simulate the crashed descriptor refresh: overwrite its transforms
    // with a spec that does NOT match the committed layout
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.catalog.TableMeta.update(fs, root)(_.copy(transforms =
      Seq(graft.catalog.PartitionTransform("bucket", "k", "bigint", 4L))))
    // tombstoned fold forces compact's full partitioned rewrite — the
    // replace path that used to drop the header
    log.deleteWhereMoR(col("k") === 1L): Unit
    log.compact(): Unit
    val head = log.currentVersion.get
    assert(log.headerOf(head, "ptspec").nonEmpty,
      "compact's replace must carry the #ptspec: header")
    assert(log.partitionTransforms.map(_.spec) == Seq("day(ts)"),
      "the manifest header, not the stale descriptor, is the spec of record")
    assert(log.files(head).forall(_.contains("_p_day_ts=")),
      "fold must keep the day layout the header declares")
    assert(log.read().count() == 5)
  }
}
