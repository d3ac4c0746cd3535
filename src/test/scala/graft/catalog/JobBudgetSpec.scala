package graft.catalog

import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.concurrent.TrieMap

import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Spark jobs per registry op. A registry write is a handful of rows, so
  * its latency is the number of jobs it launches, not the data it moves:
  * each write evaluates its batch once, snapshot reads take their schema
  * from the footer-schema memo instead of an inference job, and
  * touched-file discovery collects names with no exchange.
  * Every op runs once to warm up and is then counted on a 16-row registry
  * (the `registry_api` fixture). Jobs are attributed through a local
  * property of the calling thread, which Spark copies to the threads that
  * run AQE stages and broadcasts, so other suites sharing the session do
  * not count.
  */
class JobBudgetSpec extends AnyFunSuite with BeforeAndAfterAll {
  import SparkTestSession._
  import spark.implicits._

  private val Tag = "graft.jobBudget.op"
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
    val tag = s"op-${counted.incrementAndGet()}"
    sc.setLocalProperty(Tag, tag)
    try body finally sc.setLocalProperty(Tag, null)
    GraftTestBus.flush(sc)
    jobs.get(tag).fold(0)(_.get)
  }

  private val Table = "source_system"
  private val Key = "src_sys_id"
  private val IdBase = 1000000L

  private final class Registry {
    val root: String = java.nio.file.Files.createTempDirectory("graft_jobs").toString
    val catalog = new AssetCatalog(spark, s"$root/registry")
    val audit = new AuditLog(spark, s"$root/audit")
    private var next = IdBase + 16

    def rows(ids: Seq[Long]): DataFrame =
      ids.map(i => SourceSystem(i, s"src-$i", "us-east-1",
        new Timestamp(1700000000000L + i), "active")).toDF()

    def rid(id: Long): String = s"$Table-$id"

    {
      val ids = (0 until 16).map(IdBase + _)
      val df = rows(ids)
      catalog.create(Table, Key, df)(Encoders.row(df.schema))
      ids.foreach(i => audit.append(rid(i), "create", s"$Table-api",
        Map("tasktype" -> "create"), "{}"))
    }

    def create(): Unit = {
      val id = next; next += 1
      val df = rows(Seq(id))
      catalog.createAudited(Table, Key, df, audit, rid(id), "create")(Encoders.row(df.schema))
    }
    def read(id: Long): Unit = catalog.read(Table, Key, id).select("status").collect(): Unit
    def lookup(id: Long): Unit = audit.lookup(rid(id), "create").select("status").collect(): Unit
    def update(id: Long, status: String): Unit =
      catalog.update(Table, Key, spark.range(1).select(lit(id).as(Key), lit(status).as("status")))
    def delete(id: Long): Unit = catalog.deleteKeys(Table, Key, Seq(id))
    def setStatus(id: Long, status: String): Unit =
      audit.setStatus(rid(id), "create", status, mor = true)
  }

  private val budgets = Seq(
    "create" -> 2, "read" -> 1, "lookup" -> 2, "update" -> 7, "delete" -> 4,
    "set_status" -> 5)

  /** Each op once to warm up, then once counted. */
  private def measure(reg: Registry): Map[String, Int] = {
    def ops(round: Int): Seq[(String, () => Unit)] = Seq(
      "create" -> (() => reg.create()),
      "read" -> (() => reg.read(IdBase + 1)),
      "lookup" -> (() => reg.lookup(IdBase + 2)),
      "update" -> (() => reg.update(IdBase + 3, s"u$round")),
      "delete" -> (() => reg.delete(IdBase + 4 + round)),
      "set_status" -> (() => reg.setStatus(IdBase + 6, s"s$round")))
    ops(0).foreach(_._2())
    ops(1).map { case (name, op) => name -> jobsOf(op()) }.toMap
  }

  test("each registry op stays within its Spark-job budget") {
    val reg = new Registry
    val got = measure(reg)
    info(s"jobs per op: ${got.toSeq.sortBy(_._1).map { case (op, n) => s"$op $n" }.mkString(", ")}")
    val over = budgets.filter { case (op, cap) => got(op) > cap }
    assert(over.isEmpty, s"over budget: ${over.map { case (op, cap) =>
      s"$op ${got(op)} > $cap" }.mkString(", ")}; all: $got")
    // the writes stay correct under the budget
    val live = reg.catalog.readTable(Table).select(Key, "status").as[(Long, String)]
      .collect().toMap
    assert(live(IdBase + 3) == "u1")
    assert(!live.contains(IdBase + 4) && !live.contains(IdBase + 5))
    assert(live.contains(IdBase + 17))
    assert(reg.audit.lookup(reg.rid(IdBase + 6), "create").select("status")
      .as[String].collect().toSeq == Seq("s1"))
  }

  test("a MoR status correction that loses 3 races to non-matching appends stays " +
      "within set_status's one-attempt budget") {
    val reg = new Registry
    val sc = spark.sparkContext
    val auditRoot = s"${reg.root}/audit"
    var races = 0
    // appends win the targeted version before the correction's first
    // `races` publishes; their own jobs run untagged
    val racing = new AuditLog(spark, auditRoot) {
      override protected def newLog(): CommitLog = new CommitLog(spark, auditRoot) {
        override protected def beforePublish(attempt: Int, v: Long): Unit =
          if (races > 0) {
            races -= 1
            val tag = sc.getLocalProperty(Tag)
            sc.setLocalProperty(Tag, null)
            try reg.audit.append(s"race-$races", "create", s"$Table-api",
              Map("tasktype" -> "create"), "{}")
            finally sc.setLocalProperty(Tag, tag)
          }
      }
    }
    val rid = reg.rid(IdBase + 6)
    racing.setStatus(rid, "create", "warm", mor = true)
    val head = new CommitLog(spark, auditRoot).currentVersion.get
    races = 3
    val n = jobsOf(racing.setStatus(rid, "create", "raced", mor = true))
    info(s"set_status jobs after 3 lost races: $n")
    assert(races == 0)
    assert(new CommitLog(spark, auditRoot).currentVersion.contains(head + 4))
    assert(n <= budgets.toMap.apply("set_status"), s"raced set_status ran $n jobs")
    val status = reg.audit.events.select("aws_request_id", "status").as[(String, String)]
      .collect()
    assert(status.filter(_._1 == rid).map(_._2).toSeq == Seq("raced"))
    assert(status.map(_._1).toSet.intersect(Set("race-0", "race-1", "race-2")).size == 3)
  }

  test("a constrained update adds only its one validation aggregate") {
    val reg = new Registry
    reg.update(IdBase + 3, "warm")
    val plain = jobsOf(reg.update(IdBase + 3, "p"))
    new CommitLog(spark, s"${reg.root}/registry/$Table")
      .addConstraint("status_set", "status IS NOT NULL")
    reg.update(IdBase + 3, "warm2")
    val constrained = jobsOf(reg.update(IdBase + 3, "c"))
    info(s"update jobs: plain $plain, constrained $constrained")
    assert(constrained <= budgets.toMap.apply("update") + 1,
      s"constrained update ran $constrained jobs")
    assert(constrained <= plain + 1,
      s"constrained update ran $constrained jobs, plain $plain")
    val e = intercept[IllegalStateException](
      reg.catalog.update(Table, Key,
        spark.range(1).select(lit(IdBase + 3).as(Key), lit(null).cast("string").as("status"))))
    assert(e.getMessage.contains("status_set"), e.getMessage)
  }

  test("a batch over the driver-row cap re-runs its plan: merge, duplicate check " +
      "and keyed delete stay exact") {
    val root = java.nio.file.Files.createTempDirectory("graft_jobs_cap").toString
    val log = new CommitLog(spark, root)
    log.commit(spark.range(0, 12000, 1, 4).toDF("k").withColumn("v", col("k")),
      replace = false)
    // 12,000 rows: 6,000 overlap the table, 6,000 are new keys
    log.merge(spark.range(6000, 18000, 1, 4).toDF("k").withColumn("v", -col("k")), "k")
    val merged = log.read().select("k", "v").as[(Long, Long)].collect().toMap
    assert(merged.size == 18000)
    assert(merged(5999L) == 5999L && merged(6000L) == -6000L && merged(17999L) == -17999L)

    val dup = spark.range(20000, 32000, 1, 4).toDF("k").withColumn("v", col("k"))
      .union(Seq((20000L, 0L)).toDF("k", "v"))
    val e = intercept[IllegalArgumentException](log.merge(dup, "k"))
    assert(e.getMessage.contains("duplicate keys"), e.getMessage)

    // repeated and NULL keys in an over-cap key batch delete exactly once
    val keys = spark.range(0, 12000, 1, 4).toDF("k").union(Seq(0L, 1L).toDF("k"))
      .select(col("k").cast("long").as("k"))
      .union(Seq(Option.empty[Long]).toDF("k"))
    log.deleteKeys(keys, "k")
    val left = log.read().select("k").as[Long].collect().toSet
    assert(left == (12000L until 18000L).toSet)
  }

  test("a batch whose input Spark cannot size is never collected: merge, duplicate " +
      "check and keyed delete stay exact") {
    val root = java.nio.file.Files.createTempDirectory("graft_jobs_rdd").toString
    val log = new CommitLog(spark, root)
    log.commit(spark.range(0, 100, 1, 2).toDF("k").withColumn("v", col("k")), replace = false)
    // an RDD leaf estimates as unbounded input, however few rows it holds
    def rdd(kv: Seq[(Long, Long)]): DataFrame = spark.sparkContext.parallelize(kv, 3).toDF("k", "v")
    log.merge(rdd(Seq(5L -> -5L, 150L -> -150L)), "k")
    val e = intercept[IllegalArgumentException](log.merge(rdd(Seq(7L -> 1L, 7L -> 2L)), "k"))
    assert(e.getMessage.contains("duplicate keys"), e.getMessage)
    log.deleteKeys(spark.sparkContext.parallelize(Seq(0L, 1L, 1L), 2).toDF("k"), "k")
    val rows = log.read().select("k", "v").as[(Long, Long)].collect().toMap
    assert(rows == (2L until 100L).map(k => k -> k).toMap + (5L -> -5L) + (150L -> -150L))
  }

  test("a nondeterministic MoR update tombstones exactly the rows it rewrites, " +
      "under and over the driver-row cap") {
    // draws anew on every evaluation (a seeded rand() would repeat itself)
    val coin = udf(() => java.util.concurrent.ThreadLocalRandom.current().nextBoolean())
      .asNondeterministic()
    for (n <- Seq(2000L, 30000L)) {
      val log = new CommitLog(spark, java.nio.file.Files.createTempDirectory("graft_jobs_nd").toString)
      log.commit(spark.range(0, n, 1, 4).toDF("k").withColumn("v", col("k")), replace = false)
      log.updateWhereMoR(coin(), Seq("v" -> (-col("k") - 1)))
      val rows = log.read().select("k", "v").as[(Long, Long)].collect()
      val keys = rows.map(_._1).distinct
      assert(rows.length == n && keys.length == n && keys.min == 0L && keys.max == n - 1,
        s"n=$n: ${rows.length} rows, ${keys.length} keys")
      val flipped = rows.count(_._2 < 0)
      assert(flipped > 0 && flipped < n, s"n=$n: $flipped rows updated")
    }
  }

  test("a 1,000-row merge into a one-file table adds one file for the batch " +
      "plus one per touched file") {
    val root = java.nio.file.Files.createTempDirectory("graft_jobs_merge").toString
    val log = new CommitLog(spark, root)
    log.commit(spark.range(1, 1001).toDF("k").withColumn("v", col("k")).coalesce(1),
      replace = false)
    val before = log.files(1L).toSet
    // half the keys overlap the table; the batch arrives in several partitions
    log.merge(spark.range(501, 1501, 1, 4).toDF("k").withColumn("v", col("k") * 2), "k")
    val after = log.files(2L).toSet
    val touched = (before -- after).size
    val added = (after -- before).size
    assert(touched == 1)
    assert(added <= 1 + touched, s"merge added $added files for $touched touched")
    val rows = log.read().select("k", "v").as[(Long, Long)].collect().toMap
    assert(rows.size == 1500)
    assert(rows(1L) == 1L && rows(501L) == 1002L && rows(1500L) == 3000L)
  }
}
