package graft.catalog

import java.sql.{Date, Timestamp}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.Path
import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Snapshot reads declare their files' schemas from the footer-schema
  * memo instead of running a schema-inference job. For every table shape
  * a memo-served read must give exactly what a read that infers with
  * mergeSchema gives: the same schema (names, order, types) and the same
  * rows. The inferring read is a handle on the same root with the memo
  * turned off. Jobs are attributed through a local property of the
  * calling thread, as in [[JobBudgetSpec]]. Unique catalog: `gfs`.
  */
class FooterSchemaSpec extends AnyFunSuite with BeforeAndAfterAll {
  import SparkTestSession._
  import spark.implicits._

  private val Tag = "graft.footerSchema.op"
  private val jobs = TrieMap.empty[String, AtomicInteger]
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Tag)))
        .foreach(t => jobs.getOrElseUpdate(t, new AtomicInteger).incrementAndGet())
  }

  override def beforeAll(): Unit = spark.sparkContext.addSparkListener(listener)
  override def afterAll(): Unit = spark.sparkContext.removeSparkListener(listener)

  private val counted = new AtomicInteger

  /** Spark jobs `body` launches from this thread. */
  private def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    val tag = s"read-${counted.incrementAndGet()}"
    sc.setLocalProperty(Tag, tag)
    try body finally sc.setLocalProperty(Tag, null)
    GraftTestBus.flush(sc)
    jobs.get(tag).fold(0)(_.get)
  }

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_fschema").toString + "/t"

  /** A handle on `root` whose reads always infer their schema. */
  private def inferring(root: String): CommitLog = new CommitLog(spark, root) {
    override protected def declaresFooterSchemas: Boolean = false
  }

  /** Forget every memo entry under `root`: the next read is cold. */
  private def forget(root: String): Unit =
    CommitLog.forgetFooterSchemas(
      HadoopFs.fs(spark, root).makeQualified(new Path(root)).toString)

  private def rowsOf(df: DataFrame): Seq[String] = df.collect().map(_.toSeq.map {
    case bytes: Array[Byte] => bytes.toSeq
    case v => v
  }.toString).sorted.toSeq

  /** `log`'s read of `root` against the inferring read: same schema, same
    * rows. Returns the jobs the served read needed for its schema.
    */
  private def sameAsInferred(log: CommitLog, root: String): Int = {
    val served = jobsOf(log.read().schema)
    val (got, want) = (log.read(), inferring(root).read())
    assert(got.schema == want.schema,
      s"served ${got.schema.simpleString} != inferred ${want.schema.simpleString}")
    assert(rowsOf(got) == rowsOf(want))
    served
  }

  private val ts0 = 1700000000000L

  /** Rows of many column types, including nested ones. */
  private def typed(lo: Long, hi: Long): DataFrame =
    (lo until hi).map(k => (k, s"s$k", k * 0.5, BigDecimal(k) / 100,
      new Date(ts0 + k * 86400000L), new Timestamp(ts0 + k * 1000L),
      Seq(k, k + 1), Map(s"m$k" -> k.toInt), (k.toInt, s"n$k")))
      .toDF("k", "s", "d", "dec", "day", "ts", "arr", "map", "st")
      .withColumn("dec", col("dec").cast("decimal(12,2)"))

  test("flat table of many column types: served with no inference job") {
    val root = tmp()
    val log = new CommitLog(spark, root)
    log.commit(typed(0, 20).coalesce(2), replace = false)
    log.commit(typed(20, 30), replace = false)
    assert(sameAsInferred(log, root) == 0)
  }

  test("hive-partitioned table: partition types still come from the paths") {
    val root = tmp()
    val log = new CommitLog(spark, root)
    val df = (0L until 24L).map(k => (k, s"v$k", (k % 3).toString, (k % 2).toInt))
      .toDF("k", "v", "p", "q")
    log.commitPartitioned(df, Seq("p", "q"), replace = true)
    log.commitPartitioned(Seq((100L, "x", "007", 1)).toDF("k", "v", "p", "q"),
      Seq("p", "q"), replace = false)
    log.deleteWhereMoR(col("k") === 5L)
    assert(sameAsInferred(log, root) == 0)
    assert(log.read().columns.toSeq == Seq("k", "v", "p", "q"))
  }

  test("transform-partitioned table: hidden layout columns stay hidden") {
    val root = tmp()
    val log = new CommitLog(spark, root)
    val df = (0L until 30L).map(k => (k, new Timestamp(ts0 + k * 3600000L * 7), s"v$k"))
      .toDF("k", "ts", "v")
    log.commitTransformed(df, Seq("bucket(4, k)", "day(ts)"), replace = true)
    log.merge(Seq((3L, new Timestamp(ts0), "u")).toDF("k", "ts", "v"), "k")
    assert(sameAsInferred(log, root) == 0)
    assert(log.read().columns.toSeq == Seq("k", "ts", "v"))
    val pruned = log.readWhere(col("k") === 3L)
    assert(pruned.schema == log.read().schema)
    assert(pruned.select("v").as[String].collect().toSeq == Seq("u"))
  }

  test("evolved table: the fold keeps the column order inference gives") {
    val root = tmp()
    val log = new CommitLog(spark, root)
    log.commit((1L to 10L).map(k => (k, k * 10)).toDF("k", "v"), replace = false)
    log.merge(Seq((11L, 110L, "a")).toDF("k", "v", "w"), "k", evolve = true)
    log.mergeMoR(Seq((12L, 120L, "b", 1.5)).toDF("k", "v", "w", "z"), "k", evolve = true)
    log.merge(Seq((2L, 21L, "c", 2.5)).toDF("k", "v", "w", "z"), "k")
    assert(sameAsInferred(log, root) == 0)
    assert(log.read().columns.toSeq == Seq("k", "v", "w", "z"))
  }

  test("appends of different columns: the fold runs in path order, as inference " +
      "merges, not in manifest order") {
    // pool names are uuid-led: retry until the second append's file sorts first
    val (root, log) = Iterator.continually {
      val root = tmp()
      val log = new CommitLog(spark, root)
      log.commit(Seq((1L, 10L, "a")).toDF("k", "v", "w"), replace = false)
      log.commit(Seq((2L, 20L, 2.5)).toDF("k", "v", "z"), replace = false)
      (root, log)
    }.take(64).find { case (_, l) => val ns = l.files(2L); ns != ns.sorted }.get
    assert(sameAsInferred(log, root) == 0)
    assert(log.read().columns.toSeq == Seq("k", "v", "z", "w"))
  }

  test("widened table: the declared schema wins over the memo") {
    val w = java.nio.file.Files.createTempDirectory("graft_fswh").toString
    spark.conf.set("spark.sql.catalog.gfs", classOf[GraftTableCatalog].getName)
    spark.conf.set("spark.sql.catalog.gfs.warehouse", w)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gfs.db")
    spark.sql("CREATE TABLE gfs.db.w (k INT, v FLOAT)")
    spark.sql("INSERT INTO gfs.db.w VALUES (1, CAST(1.5 AS FLOAT))")
    spark.sql("ALTER TABLE gfs.db.w ALTER COLUMN k TYPE BIGINT")
    spark.sql("INSERT INTO gfs.db.w VALUES (10000000000, 2.5)")
    val root = s"$w/db/w"
    val log = new CommitLog(spark, root)
    assert(sameAsInferred(log, root) == 0)
    assert(log.read().schema("k").dataType == org.apache.spark.sql.types.LongType)
    assert(log.readEquals(Seq("k" -> 10000000000L)).count() == 1)
  }

  test("merge-on-read table with tombstones") {
    val root = tmp()
    val log = new CommitLog(spark, root)
    log.commit(typed(0, 40).coalesce(3), replace = false)
    log.deleteWhereMoR(col("k") < 5L)
    log.updateWhereMoR(col("k") === 10L, Seq("s" -> lit("upd")))
    log.deleteKeysMoR(Seq(20L, 21L).toDF("k"), "k")
    assert(sameAsInferred(log, root) == 0)
    assert(log.read().count() == 33)
  }

  test("shallow clone: absolute names are served from the source's entries") {
    val src = tmp()
    val srcLog = new CommitLog(spark, src)
    srcLog.commit(typed(0, 10), replace = false)
    srcLog.commit(typed(10, 20), replace = false)
    val root = tmp()
    val clone = new CommitLog(spark, root)
    clone.cloneFrom(src)
    assert(clone.files(1L).forall(Manifest.isAbsoluteName))
    assert(sameAsInferred(clone, root) == 0)
    clone.merge(typed(5, 6).withColumn("s", lit("cloned")), "k")
    assert(sameAsInferred(clone, root) == 0)
    forget(src)
    assert(sameAsInferred(clone, root) == 1, "cold: one job reads the source's footers")
    assert(sameAsInferred(clone, root) == 0)
  }

  /** One parquet file written without Spark's row metadata; with
    * `rawBinary` it also holds `b`, `p`'s bytes in a binary column with no
    * string annotation.
    */
  private def foreignFile(rows: Seq[(Long, String)], rawBinary: Boolean = false): Path = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType("message t { required int64 k; " +
      s"optional binary p (STRING); ${if (rawBinary) "optional binary b;" else ""} }")
    val dir = java.nio.file.Files.createTempDirectory("graft_fschema_src").toString
    val path = new Path(dir, "foreign.parquet")
    val conf = spark.sparkContext.hadoopConfiguration
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(path, conf))
      .withConf(conf).withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try rows.foreach { case (k, p) =>
      val g = groups.newGroup().append("k", k).append("p", p)
      w.write(if (rawBinary) g.append("b", p) else g)
    }
    finally w.close()
    path
  }

  test("a pooled file without Spark metadata is served like any other") {
    val root = tmp()
    val log = new CommitLog(spark, root)
    log.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "p"), replace = false)
    log.commitPooledFiles(Seq(foreignFile(Seq(3L -> "c", 4L -> "d"))), replace = false, None)
    assert(sameAsInferred(log, root) == 0)
    assert(log.read().count() == 4)
    // a keyed write beside the foreign file reads the head through the
    // served schema and leaves the foreign file in place
    log.merge(Seq((1L, "aa")).toDF("k", "p"), "k")
    assert(log.read().filter(col("k") === 1L).select("p").as[String].collect().toSeq ==
      Seq("aa"))
    assert(sameAsInferred(log, root) == 0)
    forget(root)
    assert(sameAsInferred(log, root) == 1, "cold: one job reads every footer")
    assert(sameAsInferred(log, root) == 0)
  }

  test("a footer without Spark metadata converts under each session's settings") {
    import org.apache.spark.sql.types.{BinaryType, StringType}
    val root = tmp()
    val log = new CommitLog(spark, root)
    log.commitPooledFiles(Seq(foreignFile(Seq(1L -> "a", 2L -> "b"), rawBinary = true)),
      replace = false, None)
    assert(sameAsInferred(log, root) == 0)
    assert(log.read().schema("b").dataType == BinaryType)
    val asString = spark.newSession()
    asString.conf.set("spark.sql.parquet.binaryAsString", "true")
    val other = new CommitLog(asString, root)
    assert(jobsOf(other.read().schema) == 1, "new settings: one job converts the footer")
    assert(jobsOf(other.read().schema) == 0)
    val want = new CommitLog(asString, root) {
      override protected def declaresFooterSchemas: Boolean = false
    }.read()
    assert(other.read().schema == want.schema)
    assert(other.read().schema("b").dataType == StringType)
    assert(rowsOf(other.read()) == rowsOf(want))
    // the first session's entry stays
    assert(jobsOf(log.read().schema("b").dataType == BinaryType) == 0)
  }

  test("a cold memo is filled by one footer job, after which reads are served") {
    val root = tmp()
    val log = new CommitLog(spark, root)
    log.commit(typed(0, 30).repartition(6), replace = false)
    log.merge(typed(3, 4).withColumn("s", lit("x")), "k")
    forget(root)
    assert(sameAsInferred(log, root) == 1)
    assert(sameAsInferred(log, root) == 0)
    // a handle that never wrote the table: a pruned read fills the memo
    // with the whole head once
    forget(root)
    val fresh = new CommitLog(spark, root)
    assert(jobsOf(fresh.readEquals(Seq("k" -> 3L)).schema) == 1)
    assert(jobsOf(fresh.readEquals(Seq("k" -> 20L)).schema) == 0)
    assert(fresh.readEquals(Seq("k" -> 3L)).select("s").as[String].collect().toSeq == Seq("x"))
    assert(sameAsInferred(fresh, root) == 0)
  }

  test("more files than Spark lists serially: a cold read pays one footer job, once") {
    val root = tmp()
    val log = new CommitLog(spark, root)
    val threshold = spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt
    log.commit(spark.range(0, 10L * (threshold + 8), 1, threshold + 8)
      .select(col("id").as("k"), col("id").cast("string").as("s")), replace = false)
    assert(log.files(1L).length == threshold + 8)
    // past the threshold Spark lists the paths with a job of its own
    val warm = sameAsInferred(log, root)
    forget(root)
    val cold = sameAsInferred(log, root)
    assert(cold == warm + 1, s"cold $cold jobs, warm $warm: one footer job apart")
    assert(sameAsInferred(log, root) == warm)
  }
}
