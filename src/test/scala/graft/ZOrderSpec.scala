package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.CommitLog

/** Z-order clustering: proves the layout, not just the rows. A 2-D
  * selective read over a 1-D range-clustered table prunes only on the
  * cluster column; the same read over the Z-ordered table prunes on both
  * dimensions and must open strictly fewer files — `inputFiles` of the
  * returned frame IS the post-pruning scan set, so the assertion measures
  * exactly what a 100 TB executor fleet would read.
  */
class ZOrderSpec extends AnyFunSuite {
  import SparkTestSession._

  private def freshRoot() =
    java.nio.file.Files.createTempDirectory("graft_zorder").toString

  // 256×256 grid, one row per (x, y): x and y are independent and
  // uniform, the adversarial case for 1-D clustering
  private def grid() = spark.range(65536).select(
    (col("id") % 256).as("x"),
    (col("id") / 256).cast("long").as("y"),
    col("id").as("payload"))

  private def mkTable(): (CommitLog, Long) = {
    val log = new CommitLog(spark, freshRoot())
    log.commit(grid(), replace = false)
    // target ≈ 1/64 of the table so both layouts rewrite into the same
    // file count and only the ORDER differs
    val bytes = log.filePaths(log.currentVersion.get)
      .map(p => new java.io.File(new java.net.URI(p).getPath).length).sum
    (log, math.max(1L, bytes / 64))
  }

  private val query = Seq(("x", 0L, 31L), ("y", 0L, 31L))  // 1/8 × 1/8

  test("2-D selective read prunes multiplicatively after Z-order, not after 1-D clustering") {
    val (log, target) = mkTable()
    val (_, nLinear) = log.optimizeBy("x", target)
    val linearFiles = log.readWhere(query).inputFiles.length
    val linearRows = log.readWhere(query).count()

    val (_, nZ) = log.optimizeZOrder(Seq("x", "y"), target)
    val zFiles = log.readWhere(query).inputFiles.length
    val zRows = log.readWhere(query).count()

    assert(linearRows == 1024 && zRows == 1024, "layout must not change the rows")
    assert(nLinear > 8 && nZ > 8, s"need enough files for pruning to matter: $nLinear, $nZ")
    // x-slab layout: y stats span everything, only the 1/8 x-range prunes
    assert(linearFiles >= nLinear / 12,
      s"1-D layout pruned too well ($linearFiles of $nLinear) — test premise broken")
    // z-layout: files are hyper-rectangles; the 1/64-area query region
    // must hit a small corner of them, beating the x-slab count
    assert(zFiles < linearFiles,
      s"Z-order opened $zFiles files vs $linearFiles for the 1-D layout")
    assert(zFiles <= math.max(4, nZ / 12),
      s"Z-order pruning too weak: $zFiles of $nZ files for a 1/64 region")
  }

  test("Z-order rewrite preserves the table: same rows, same schema, no helper column") {
    val (log, target) = mkTable()
    log.optimizeZOrder(Seq("x", "y"), target)
    val out = log.read()
    assert(out.columns.toSeq == Seq("x", "y", "payload"), out.columns.mkString(","))
    assert(out.count() == 65536)
    assert(out.agg(sum(col("payload"))).head().getLong(0) == 65535L * 65536 / 2)
  }

  test("a STRING z-order column scales to bucket 0 in both modes, rows unchanged") {
    for (buckets <- Seq(0, 256)) {
      val log = new CommitLog(spark, freshRoot())
      log.commit(spark.range(200).select(col("id").as("k"),
        concat(lit("v"), col("id").cast("string")).as("v")), replace = false)
      val before = log.read().collect().map(_.toString).sorted.toSeq
      log.optimizeZOrder(Seq("k", "v"), quantileBuckets = buckets)
      assert(log.read().collect().map(_.toString).sorted.toSeq == before,
        s"quantileBuckets = $buckets")
      assert(log.operation(log.currentVersion.get) == "optimize")
    }
  }

  test("readWhere conjunction is consistent with a brute-force filter") {
    val (log, target) = mkTable()
    log.optimizeZOrder(Seq("x", "y"), target)
    val pruned = log.readWhere(Seq(("x", 100L, 140L), ("y", 7L, 9L)))
      .select("payload").collect().map(_.getLong(0)).sorted
    val brute = grid().filter(col("x").between(100, 140) && col("y").between(7, 9))
      .select("payload").collect().map(_.getLong(0)).sorted
    assert(pruned.sameElements(brute))
  }

  test("quantile z-order keeps pruning on a skewed dimension that linear scaling collapses") {
    // one huge outlier stretches x's range to 1e9: under LINEAR 16-bit
    // scaling every normal value (< 100) lands in bucket 0, the z-value
    // carries no x information, and an x-range read opens ~every file.
    // EQUI-DEPTH buckets are the documented escape hatch: boundaries
    // follow x's own quantiles, so the normal values spread and prune.
    def skewed() = spark.range(0, 20000).select(
      // multiplier decorrelates x from y (plain id % 100 would make x a
      // function of y and every y-slab file x-narrow by accident)
      when(col("id") < 19990, pmod(col("id") * 1103515245L + 12345L, lit(100L)))
        .otherwise(1000000000L).as("x"),
      (col("id") % 500).as("y"),
      col("id").as("payload"))

    def build(quantileBuckets: Int): CommitLog = {
      val log = new CommitLog(spark, freshRoot())
      log.commit(skewed(), replace = false)
      val bytes = log.filePaths(log.currentVersion.get)
        .map(p => new java.io.File(new java.net.URI(p).getPath).length).sum
      log.optimizeZOrder(Seq("x", "y"), math.max(1L, bytes / 16),
        quantileBuckets = quantileBuckets)
      log
    }

    val expected = skewed().filter(col("x").between(10L, 19L)).count()

    val linear = build(0)
    val linearRead = linear.readBetween("x", 10L, 19L)
    assert(linearRead.count() == expected)  // correctness never degrades
    val linearTotal = linear.currentFileCount
    assert(linearRead.inputFiles.length >= linearTotal - 1,
      s"precondition: linear scaling collapses under the outlier " +
        s"(${linearRead.inputFiles.length} of $linearTotal)")

    val quant = build(256)
    val quantRead = quant.readBetween("x", 10L, 19L)
    assert(quantRead.count() == expected)
    // z-order gives x every OTHER bit, so a 10%-of-values range selects
    // roughly half the z-prefix space — the honest bound is strictly
    // better than the linear collapse (which opened every file), with
    // margin, not a 1-D-clustering-grade skip
    assert(quantRead.inputFiles.length * 3 < quant.currentFileCount * 2,
      s"equi-depth buckets must keep the skewed dimension prunable " +
        s"(${quantRead.inputFiles.length} of ${quant.currentFileCount})")
    // and the non-skewed dimension still prunes too (it is z-ordered)
    val yRead = quant.readBetween("y", 0L, 49L)
    assert(yRead.count() == skewed().filter(col("y").between(0L, 49L)).count())
    assert(yRead.inputFiles.length < quant.currentFileCount)
  }

  test("CALL graft.system.optimize with a column list Z-orders through the catalog") {
    val wh = java.nio.file.Files.createTempDirectory("graft_zcat").toString
    spark.conf.set("spark.sql.catalog.zc", "graft.catalog.GraftTableCatalog")
    spark.conf.set("spark.sql.catalog.zc.warehouse", wh)
    try {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS zc.db")
      grid().createOrReplaceTempView("zorder_grid_src")
      spark.sql("CREATE TABLE zc.db.zgrid AS SELECT * FROM zorder_grid_src")
      val r = spark.sql("CALL zc.system.optimize('db.zgrid', 'x, y')").collect().head
      assert(r.getInt(1) >= 1, r.toString)
      assert(spark.sql("SELECT count(*) FROM zc.db.zgrid").head().getLong(0) == 65536)
    } finally {
      spark.sql("DROP TABLE IF EXISTS zc.db.zgrid")
      spark.conf.unset("spark.sql.catalog.zc")
      spark.conf.unset("spark.sql.catalog.zc.warehouse")
    }
  }
}
