package graft

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.CommitLog

/** Metadata-only type widening: `ALTER TABLE ... ALTER COLUMN ... TYPE`
  * accepts exactly the conversions the parquet readers promote natively
  * (smaller integral → larger integral, FLOAT → DOUBLE, DECIMAL gaining
  * precision without losing scale/integer digits), so old files keep
  * their narrow bytes and both the catalog scan (declared schema →
  * ParquetTable) and the library plane (the table descriptor's widened
  * flag flips CommitLog reads from mergeSchema to the explicit declared
  * schema)
  * read mixed narrow/wide pools correctly. Narrowing, cross-family,
  * layout and index conflicts refuse loudly. Unique catalog: `gtw`.
  */
class TypeWideningSpec extends AnyFunSuite {
  import SparkTestSession._

  private lazy val warehouse: String = {
    val w = java.nio.file.Files.createTempDirectory("graft_twwh").toString
    spark.conf.set("spark.sql.catalog.gtw", classOf[graft.catalog.GraftTableCatalog].getName)
    spark.conf.set("spark.sql.catalog.gtw.warehouse", w)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtw.db")
    w
  }

  test("INT->BIGINT: mixed narrow/wide files read through catalog AND library") {
    warehouse
    spark.sql("CREATE TABLE gtw.db.w (k INT, v FLOAT, d DECIMAL(10,2))")
    spark.sql("INSERT INTO gtw.db.w VALUES (1, CAST(1.5 AS FLOAT), 12.34)")
    spark.sql("ALTER TABLE gtw.db.w ALTER COLUMN k TYPE BIGINT")
    spark.sql("ALTER TABLE gtw.db.w ALTER COLUMN v TYPE DOUBLE")
    spark.sql("ALTER TABLE gtw.db.w ALTER COLUMN d TYPE DECIMAL(20,3)")
    // post-widen insert: a value only the WIDE type can hold, landing in
    // a new file beside the narrow one
    spark.sql("INSERT INTO gtw.db.w VALUES (10000000000, 2.5, 99999999999999999.999)")
    val cat = spark.table("gtw.db.w")
    assert(cat.schema("k").dataType == LongType)
    assert(cat.schema("v").dataType == DoubleType)
    assert(cat.schema("d").dataType == DecimalType(20, 3))
    val got = cat.orderBy("k").collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 10000000000L))
    assert(got.map(_.getDouble(1)).toSeq == Seq(1.5d, 2.5d))
    assert(got.map(_.getDecimal(2).toPlainString).toSeq ==
      Seq("12.340", "99999999999999999.999"))
    // library plane: CommitLog.read() over the SAME mixed pool — the
    // descriptor's widened flag must flip it off mergeSchema (which dies
    // on the int-vs-bigint merge) onto the declared schema
    val lib = new CommitLog(spark, s"$warehouse/db/w").read()
    assert(lib.schema("k").dataType == LongType)
    assert(lib.orderBy("k").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 10000000000L))
  }

  test("widened table keeps its full mutation plane: delete + CDF + compact") {
    spark.sql("CREATE TABLE gtw.db.m (k INT, x INT)")
    spark.sql("INSERT INTO gtw.db.m SELECT id, id * 10 FROM range(0, 100)")
    spark.sql("ALTER TABLE gtw.db.m ALTER COLUMN x TYPE BIGINT")
    spark.sql("INSERT INTO gtw.db.m VALUES (1000, 5000000000)")
    spark.sql("DELETE FROM gtw.db.m WHERE k % 10 = 3")
    val log = new CommitLog(spark, s"$warehouse/db/m")
    assert(spark.table("gtw.db.m").count() == 91)
    // change feed across the widen: delta reads span narrow AND wide
    // files. CDF is file-level (a CoW rewrite re-inserts survivors), so
    // the INVARIANT is the net row delta: +1 append, −10 deleted keys
    val changes = log.changesBetween(1, log.currentVersion.get)
    assert(changes.schema("x").dataType == LongType)
    val net = changes.select(org.apache.spark.sql.functions.sum(
      org.apache.spark.sql.functions.when(col("_change_type") === "insert", 1L)
        .otherwise(-1L))).head().getLong(0)
    assert(net == -9L, s"net CDF row delta must be -9, got $net")
    // compact rewrites through the widened read — surviving values intact
    log.compact(): Unit
    val after = spark.table("gtw.db.m")
    assert(after.count() == 91)
    assert(after.agg(org.apache.spark.sql.functions.sum("x")).head().getLong(0) ==
      (0L until 100L).filter(_ % 10 != 3).map(_ * 10).sum + 5000000000L)
  }

  test("narrowing, cross-family, and scale-losing decimals refuse") {
    spark.sql("CREATE TABLE gtw.db.r (k BIGINT, s STRING, d DECIMAL(10,2))")
    for (bad <- Seq(
        "ALTER TABLE gtw.db.r ALTER COLUMN k TYPE INT",      // narrowing
        "ALTER TABLE gtw.db.r ALTER COLUMN s TYPE BIGINT",   // cross-family
        "ALTER TABLE gtw.db.r ALTER COLUMN d TYPE DECIMAL(12,1)", // scale loss
        "ALTER TABLE gtw.db.r ALTER COLUMN d TYPE DECIMAL(10,3)"  // int-digit loss
      )) {
      val ex = intercept[Exception] { spark.sql(bad) }
      def mentions(t: Throwable): Boolean =
        t != null && (Option(t.getMessage).exists(m =>
          m.contains("widening") || m.contains("NOT_SUPPORTED_CHANGE_COLUMN")) ||
          mentions(t.getCause))
      assert(mentions(ex), s"$bad must refuse as non-widening: ${ex.getMessage}")
    }
  }

  test("a persisted bloom index on the column blocks the widen until rebuilt") {
    spark.sql("CREATE TABLE gtw.db.b (k INT, v INT)")
    spark.sql("INSERT INTO gtw.db.b SELECT id, id FROM range(0, 50)")
    new CommitLog(spark, s"$warehouse/db/b").buildBloomIndex("k"): Unit
    val ex = intercept[Exception] {
      spark.sql("ALTER TABLE gtw.db.b ALTER COLUMN k TYPE BIGINT")
    }
    def mentions(t: Throwable): Boolean =
      t != null && (Option(t.getMessage).exists(_.contains("bloom")) ||
        mentions(t.getCause))
    assert(mentions(ex), s"widen over a bloom-indexed column must refuse: ${ex.getMessage}")
    // the un-indexed column still widens fine
    spark.sql("ALTER TABLE gtw.db.b ALTER COLUMN v TYPE BIGINT")
    assert(spark.table("gtw.db.b").schema("v").dataType == LongType)
    // CALL drop_index releases the column; the widen then proceeds
    assert(spark.sql("CALL gtw.system.drop_index('db.b', 'bloom', 'k')")
      .head().getBoolean(0), "drop_index must report the index existed")
    spark.sql("ALTER TABLE gtw.db.b ALTER COLUMN k TYPE BIGINT")
    assert(spark.table("gtw.db.b").schema("k").dataType == LongType)
    assert(!spark.sql("CALL gtw.system.drop_index('db.b', 'bloom', 'k')")
      .head().getBoolean(0), "second drop must report nothing existed")
  }

  test("integral -> decimal widens when the integer digits fit") {
    spark.sql("CREATE TABLE gtw.db.d (k INT)")
    spark.sql("INSERT INTO gtw.db.d VALUES (7)")
    spark.sql("ALTER TABLE gtw.db.d ALTER COLUMN k TYPE DECIMAL(14,2)")
    spark.sql("INSERT INTO gtw.db.d VALUES (123456789012.25)")
    val got = spark.table("gtw.db.d").orderBy("k").collect()
      .map(_.getDecimal(0).toPlainString).toSeq
    assert(got == Seq("7.00", "123456789012.25"), got.toString)
    assert(new CommitLog(spark, s"$warehouse/db/d").read()
      .schema("k").dataType == DecimalType(14, 2))
    // not enough integer digits for the full INT range: refuse
    spark.sql("CREATE TABLE gtw.db.d2 (k INT)")
    val ex = intercept[Exception] {
      spark.sql("ALTER TABLE gtw.db.d2 ALTER COLUMN k TYPE DECIMAL(9,0)")
    }
    def mentions(t: Throwable): Boolean =
      t != null && (Option(t.getMessage).exists(m =>
        m.contains("widening") || m.contains("NOT_SUPPORTED_CHANGE_COLUMN")) ||
        mentions(t.getCause))
    assert(mentions(ex), s"INT -> DECIMAL(9,0) must refuse: ${ex.getMessage}")
  }

  test("exports materialize widened tables: foreign files are physically wide") {
    // gtw.db.w (first test) holds a MIXED narrow/wide pool — a byte-copy
    // export would hand plain Delta/Iceberg readers int32 files under a
    // BIGINT schema; the widen marker must force materialization instead
    val base = java.nio.file.Files.createTempDirectory("graft_twexp").toString
    for ((proc, dataSub) <- Seq("export_delta" -> "", "export_iceberg" -> "data")) {
      val dest = s"$base/$proc"
      spark.sql(s"CALL gtw.system.$proc('db.w', '$dest')")
      val dir = new java.io.File(if (dataSub.isEmpty) dest else s"$dest/$dataSub")
      val files = dir.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.nonEmpty, s"$proc exported no parquet under $dir")
      for (f <- files) {
        val sch = spark.read.parquet(f.getAbsolutePath).schema
        assert(sch("k").dataType == LongType,
          s"$proc/${f.getName}: physical k must be wide, got ${sch("k").dataType}")
      }
    }
  }

  test("time travel reads pre-widen snapshots under the head schema") {
    spark.sql("CREATE TABLE gtw.db.t (k INT)")
    spark.sql("INSERT INTO gtw.db.t VALUES (7)")
    spark.sql("ALTER TABLE gtw.db.t ALTER COLUMN k TYPE BIGINT")
    spark.sql("INSERT INTO gtw.db.t VALUES (8)")
    val v1 = spark.sql("SELECT * FROM gtw.db.t VERSION AS OF 1")
    assert(v1.schema("k").dataType == LongType,
      "head schema governs all reads (one declared schema per table)")
    assert(v1.collect().map(_.getLong(0)).toSeq == Seq(7L))
  }
}
