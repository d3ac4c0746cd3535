package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.CommitLog

/** Declared clustering (`#cluster:` header): a layout contract the WRITE
  * path honors — every committed batch is range-partitioned + sorted on
  * the declared columns, so pool files carry pairwise-DISJOINT footer
  * ranges and range/point reads prune to O(matching files). Compact
  * converges pre-declaration files; replace commits carry the
  * declaration; values are never affected.
  */
class ClusteringSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_clus").toString + "/t"

  /** Long-typed [min,max] per file for `c`, from the manifest stats. */
  private def ranges(log: CommitLog, c: String): Seq[(String, Long, Long)] =
    log.fileStats(log.currentVersion.get).toSeq.flatMap { case (f, st) =>
      st.get(c).map(s => (f, s.min.toLong, s.max.toLong))
    }

  private def disjoint(rs: Seq[(String, Long, Long)]): Boolean =
    rs.sortBy(_._2).sliding(2).forall {
      case Seq((_, _, hi), (_, lo2, _)) => hi < lo2
      case _ => true
    }

  /** Pin the clustered-write fan-out: AQE would coalesce these tiny test
    * shuffles to one file, making disjointness vacuous.
    */
  private def withPinnedFanout[A](n: Int)(body: => A): A = {
    spark.conf.set("spark.graft.clusteredWrite.partitions", n.toString)
    try body finally spark.conf.unset("spark.graft.clusteredWrite.partitions")
  }

  test("declared clustering: committed batches land range-disjoint; reads prune") {
    val log = new CommitLog(spark, tmp())
    // declare BEFORE any data — header-only v1 on an empty table
    assert(log.setClustering(Seq("k")) == 1L)
    assert(log.clusteringColumns == Seq("k"))
    // a deliberately shuffled batch: without clustering every file would
    // span the whole key domain and nothing could ever prune
    val batch = spark.range(0, 4000).select(
      (col("id") * 2654435761L % 4000).as("k"), col("id").as("v"))
      .repartition(8)
    withPinnedFanout(6) { log.commit(batch, replace = false) }
    val rs = ranges(log, "k")
    assert(rs.length > 1, s"expected multiple files, got $rs")
    assert(disjoint(rs), s"clustered files must carry disjoint ranges: $rs")
    // pruned range read: only the files overlapping [0, 99] open
    val hit = rs.count { case (_, lo, hi) => lo <= 99 && hi >= 0 }
    assert(hit < rs.length, s"a narrow range must not touch every file: $rs")
    val got = log.readWhere(Seq(("k", 0L, 99L))).filter(col("k") <= 99)
    assert(got.count() ==
      log.read().filter(col("k") >= 0 && col("k") <= 99).count())
  }

  test("cross-table transaction writes land range-disjoint on a clustered table") {
    val root = tmp()
    val log = new CommitLog(spark, root)
    log.setClustering(Seq("k"))
    val batch = spark.range(0, 4000).select(
      (col("id") * 2654435761L % 4000).as("k"), col("id").as("v"))
      .repartition(8)
    withPinnedFanout(6) {
      graft.catalog.CrossTableTxn.commitAll(spark, root + "_xtxn", Seq((log, batch, false)))
    }
    val rs = ranges(log, "k")
    assert(rs.length > 1, s"expected multiple files, got $rs")
    assert(disjoint(rs), s"clustered files must carry disjoint ranges: $rs")
    assert(log.read().count() == 4000)
  }

  test("values are layout-independent: clustered table equals unclustered twin") {
    val a = new CommitLog(spark, tmp())
    val b = new CommitLog(spark, tmp())
    a.setClustering(Seq("k"))
    val batch = spark.range(0, 1000)
      .select((col("id") * 7 % 1000).as("k"), col("id").as("v"))
    a.commit(batch, replace = false)
    b.commit(batch, replace = false)
    assert(a.read().collect().toSet == b.read().collect().toSet)
  }

  test("replace carries the declaration; appends keep clustering") {
    val log = new CommitLog(spark, tmp())
    log.commit(spark.range(0, 10).select(col("id").as("k")), replace = false)
    log.setClustering(Seq("k"))
    withPinnedFanout(5) {
      log.commit(spark.range(0, 2000).select((col("id") * 13 % 2000).as("k"))
        .repartition(6), replace = true)
    }
    assert(log.clusteringColumns == Seq("k"))
    assert(disjoint(ranges(log, "k")))
  }

  test("compact converges pre-declaration files into clustered layout") {
    val log = new CommitLog(spark, tmp())
    // unclustered small files first: overlapping ranges
    for (_ <- 0 until 3)
      log.commit(spark.range(0, 20000)
        .select((col("id") * 31 % 20000).as("k"), col("id").as("v"))
        .repartition(3), replace = false)
    assert(!disjoint(ranges(log, "k")), "precondition: overlapping layout")
    log.setClustering(Seq("k"))
    // small target so the pack emits MULTIPLE files — a single output
    // would be trivially "disjoint" and prove nothing
    val (before, after) = log.compact(targetFileBytes = 256L * 1024)
    assert(after < before, s"compact must pack: $before -> $after")
    val rs = ranges(log, "k")
    assert(rs.length >= 2, s"need a multi-file pack to test layout: $rs")
    assert(disjoint(rs), s"compacted files must come out clustered: $rs")
    assert(log.read().count() == 60000)
  }

  test("partitioned table clusters within partitions") {
    val log = new CommitLog(spark, tmp())
    log.setClustering(Seq("k"))
    val batch = spark.range(0, 2000).select(
      (col("id") % 2).cast("string").as("p"),
      (col("id") * 17 % 2000).as("k"))
    withPinnedFanout(6) {
      log.commitPartitioned(batch.repartition(8), Seq("p"), replace = false)
    }
    val byPart = ranges(log, "k").groupBy(_._1.split('/').dropRight(1).mkString("/"))
    assert(byPart.size == 2, s"two partition dirs expected: ${byPart.keys}")
    byPart.foreach { case (p, rs) =>
      assert(disjoint(rs), s"partition $p must hold disjoint ranges: $rs")
    }
  }

  test("guards: partition-col overlap, unknown column, duplicates; empty clears") {
    val log = new CommitLog(spark, tmp())
    log.commitPartitioned(Seq((1L, "a")).toDF("k", "p"), Seq("p"), replace = false)
    intercept[IllegalArgumentException] { log.setClustering(Seq("p")) }
    intercept[IllegalArgumentException] { log.setClustering(Seq("nope")) }
    intercept[IllegalArgumentException] { log.setClustering(Seq("k", "k")) }
    log.setClustering(Seq("k"))
    assert(log.clusteringColumns == Seq("k"))
    log.setClustering(Seq.empty)
    assert(log.clusteringColumns.isEmpty)
  }

  test("batch missing a clustering column stages as-is (schema evolution, no crash)") {
    val log = new CommitLog(spark, tmp())
    log.commit(Seq((1L, 2L)).toDF("k", "other"), replace = false)
    log.setClustering(Seq("k"))
    log.commit(Seq(Tuple1(9L)).toDF("other"), replace = false)
    assert(log.read().count() == 2)
  }

  test("SQL surface: set_clustering + optimize with declared fallback + detail") {
    val warehouse = java.nio.file.Files.createTempDirectory("graft_cluswh").toString
    spark.conf.set("spark.sql.catalog.gcl", classOf[graft.catalog.GraftTableCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcl.warehouse", warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcl.db")
    spark.sql("CREATE TABLE gcl.db.t AS " +
      "SELECT id * 37 % 500 AS k, id AS v FROM range(0, 500)")
    val r = spark.sql("CALL gcl.system.set_clustering('db.t', 'k')").head()
    assert(r.getString(1) == "k")
    spark.sql("INSERT INTO gcl.db.t SELECT id * 41 % 500 AS k, id AS v FROM range(0, 500)")
    val d = spark.sql("CALL gcl.system.detail('db.t')").head()
    assert(d.getString(10) == "k", d.getString(10))
    // optimize with empty cluster_by uses the declaration
    val o = spark.sql("CALL gcl.system.optimize('db.t', '')").head()
    assert(o.getInt(1) >= 1)
    val log = new CommitLog(spark, s"$warehouse/db/t")
    assert(disjoint(ranges(log, "k")), ranges(log, "k").toString)
    assert(spark.table("gcl.db.t").count() == 1000)
    // no declaration and no cluster_by → loud
    spark.sql("CREATE TABLE gcl.db.u AS SELECT id AS k FROM range(0, 10)")
    intercept[Exception] { spark.sql("CALL gcl.system.optimize('db.u', '')").collect() }
  }
}
