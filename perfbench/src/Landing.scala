package graft.bench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.LinkedBlockingQueue

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.catalog.CommitLog
import graft.stream.Ingest

/** `landing_ingest`: the reference's per-file arrival trigger (S3 object
  * created → SNS → processing lambda) as an open loop. A generator thread
  * lands one keyed parquet file every `intervalMs` on a fixed schedule;
  * an ingest thread answers each arrival with `Ingest.ingestUpsert` on one
  * persistent checkpoint. Half of each file's keys repeat keys of the
  * previous file, so every trigger is a real upsert. Lag is timed from
  * each file's DUE time, so a stall also bills the arrivals queued
  * behind it.
  */
object Landing {
  private val rowsPerFile = 1000
  private val intervalMs = 3000L
  private val eventTypes = Array("view", "click", "purchase", "signup")

  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType),
    StructField("file_no", IntegerType)))

  /** Seeded rows of file `f`: keys [f*R/2, f*R/2 + R), values in quarters
    * so every sum is exact in binary floating point.
    */
  private def fileRows(seed: Long, f: Int): Seq[Row] = {
    val rnd = new Random(seed * 1000003 + f)
    val lo = f.toLong * rowsPerFile / 2
    (0 until rowsPerFile).map { i =>
      val k = lo + i
      Row(k, new java.sql.Timestamp(1700000000000L + k * 1000), rnd.nextInt(500).toLong,
        eventTypes(rnd.nextInt(eventTypes.length)), rnd.nextInt(40000) / 4.0,
        s"""{"f":$f,"r":${rnd.nextInt(1000)}}""", f)
    }
  }

  private final case class Site(staged: String, landing: String, table: String, checkpoint: String) {
    @volatile var lastLandedMs = 0L
  }

  /** Stage files 0..files on disk (one Spark write), land file 0 and
    * ingest it, so the table and checkpoint exist before timing starts.
    */
  private def setup(ctx: Ctx, name: String, files: Int): Site = {
    val root = ctx.dir(name)
    val site = Site(s"$root/staged", s"$root/landing", s"$root/table", s"$root/checkpoint")
    val spark = ctx.spark
    val all = (0 to files).flatMap(f => fileRows(ctx.seed, f))
    spark.createDataFrame(spark.sparkContext.parallelize(all, ctx.cpus), schema)
      .repartition(col("file_no")).write.partitionBy("file_no").parquet(site.staged)
    Files.createDirectories(Paths.get(site.landing))
    land(site, 0)
    Ingest.ingestUpsert(spark, site.landing, site.table, site.checkpoint, "event_id")
    site
  }

  /** Move staged file `f` into the landing directory atomically, as an
    * object store makes a new object visible all at once. The landed file
    * is stamped with its landing time, later than every file landed
    * before it, so the streaming source (which orders new files by
    * modification time) sees them in landing order, as on an object store.
    */
  private def land(site: Site, f: Int): Unit = {
    val dir = Paths.get(site.staged, s"file_no=$f")
    val part = Files.list(dir)
    val src = try part.filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
      finally part.close()
    val dst = Paths.get(site.landing, f"f$f%05d.parquet")
    Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE)
    site.lastLandedMs = math.max(System.currentTimeMillis(), site.lastLandedMs + 1000)
    Files.setLastModifiedTime(dst, FileTime.fromMillis(site.lastLandedMs))
  }

  /** `service` holds each file's share of the ingest call that ingested
    * it, free of queueing.
    */
  private final case class Pass(lag: Samples, service: Samples, genLate: Samples, wallS: Double,
      maxBacklog: Int, failedCalls: Int)

  /** Land files 1..files on schedule and ingest each arrival. */
  private def drive(ctx: Ctx, site: Site, files: Int, tr: Tracer): Pass = {
    val spark = ctx.spark
    val arrivals = new LinkedBlockingQueue[Integer]()
    val lag = new Samples
    val service = new Samples
    val late = new Samples
    val t0 = System.nanoTime() + 200L * 1000000
    def due(f: Int) = t0 + (f - 1) * intervalMs * 1000000L
    val gen = new Thread(() => {
      (1 to files).foreach { f =>
        val wait = due(f) - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
        land(site, f)
        late.add((System.nanoTime() - due(f)) / 1e6, success = true)
        arrivals.put(f)
      }
    }, "landing-generator")
    var maxBacklog = 0
    var failedCalls = 0
    val ingest = new Thread(() => {
      SparkSession.setActiveSession(spark)
      var done = 0
      val pending = mutable.ArrayBuffer.empty[Int]
      while (done < files) {
        if (pending.isEmpty) pending += arrivals.take().intValue
        val more = new java.util.ArrayList[Integer]()
        arrivals.drainTo(more)
        more.forEach(f => pending += f.intValue)
        maxBacklog = math.max(maxBacklog, pending.size)
        val (ns, ok) = tr.op("op") {
          try {
            tr.span("stream.ingest") {
              Ingest.ingestUpsert(spark, site.landing, site.table, site.checkpoint, "event_id")
            }
            true
          } catch { case scala.util.control.NonFatal(_) => false }
        }
        val end = System.nanoTime()
        // a call that ingested k queued files bills each of them 1/k of it
        if (ok) pending.foreach(_ => service.add(ns / 1e6 / pending.size, success = true))
        else service.add(ns / 1e6, success = false)
        if (ok) {
          pending.foreach(f => lag.add((end - due(f)) / 1e6, success = true))
          done += pending.size
          pending.clear()
        } else {
          failedCalls += 1
          if (failedCalls > 3) {   // the checkpoint is stuck: count what is left as failed
            pending.foreach(f => lag.add((end - due(f)) / 1e6, success = false))
            done += pending.size
            pending.clear()
          }
        }
      }
    }, "landing-ingest")
    gen.start(); ingest.start()
    gen.join(); ingest.join()
    Pass(lag, service, late, (System.nanoTime() - t0) / 1e9, maxBacklog, failedCalls)
  }

  /** The table must equal a batch upsert of every landed file. */
  private def check(ctx: Ctx, site: Site, files: Int): Seq[String] = {
    val expected = mutable.HashMap.empty[Long, Double]
    (0 to files).foreach(f => fileRows(ctx.seed, f).foreach(r => expected(r.getLong(0)) = r.getDouble(4)))
    val got = new CommitLog(ctx.spark, site.table).read()
      .select(col("event_id"), col("value")).collect().map(r => r.getLong(0) -> r.getDouble(1))
    val bad = mutable.ArrayBuffer.empty[String]
    if (got.length != expected.size) bad += s"table has ${got.length} rows, batch upsert ${expected.size}"
    val gotMap = got.toMap
    if (gotMap.keySet != expected.keySet) bad += "key set differs from the batch upsert"
    val (gs, es) = (got.map(_._2).sum, expected.values.sum)
    if (gs != es) bad += s"value sum $gs, batch upsert $es"
    if (bad.isEmpty && gotMap != expected) bad += "per-key values differ from the batch upsert"
    bad.toSeq
  }

  def run(ctx: Ctx): Outcome = {
    val files = math.max(4, (ctx.seconds * 1000 / intervalMs).toInt)
    val (setupS, sites) = Main.setups(3)(i => setup(ctx, s"landing-$i", files))
    val off = new Tracer(false)
    // one arrival on the first set-up warms the merge path, which the
    // set-up's first ingest (a plain commit) never runs
    drive(ctx, sites(0), 1, off)
    Main.mark("warmup")
    if (!ctx.trace) {
      val p = drive(ctx, sites(2), files, off)
      Main.mark("measure")
      summarize(ctx, sites(2), files, p, setupS, Seq.empty)
    } else {
      val pOff = drive(ctx, sites(1), files, off)
      val tr = new Tracer(true)
      tr.install(ctx.spark)
      val p = drive(ctx, sites(2), files, tr)
      tr.drain(ctx.spark)
      tr.writeSpans(ctx.work.resolve("spans.jsonl"))
      val opMs = tr.all.filter(s => s.id == s.op).map(s => (s.end - s.start) / 1e6).sum
      val layers = Main.layerMetrics(tr, ctx.spark, pOff.service, p.service, opMs) ++
        Seq("stream.query_planning_ms", "stream.latest_offset_ms", "stream.add_batch_ms",
          "stream.wal_commit_ms", "stream.commit_offsets_ms", "stream.trigger_ms").map { n =>
          Metric(n, tr.counter(n).toDouble, "ms", "sum of StreamingQueryProgress.durationMs")
        } ++ Seq(
          Metric("stream.start_ms", math.max(0.0, tr.all.filter(_.name == "stream.ingest")
            .map(s => (s.end - s.start) / 1e6).sum - tr.counter("stream.trigger_ms")), "ms",
            "ingest call wall outside triggers: query start and stop"),
          Metric("stream.backlog_files", p.maxBacklog.toDouble, "count", "largest arrival queue"))
      summarize(ctx, sites(2), files, p, setupS, layers)
    }
  }

  private def summarize(ctx: Ctx, site: Site, files: Int, p: Pass, setupS: Double,
      layers: Seq[Metric]): Outcome = {
    val bad = check(ctx, site, files)
    val log = new CommitLog(ctx.spark, site.table)
    val v = log.currentVersion.get
    val live = (log.files(v) ++ log.dvFiles(v)).map(f => new java.io.File(s"${site.table}/data/$f").length).sum
    val disk = Main.bytesUnder(Seq(site.table))
    Outcome(bad.isEmpty, p.lag.n, p.lag.failed,
      Seq(Metric("setup_s", setupS, "s", "median of 3 set-ups"),
        Metric("wall_s", p.wallS, "s"),
        Metric("ops_per_s", p.lag.successes / (p.service.mean * p.service.successes / 1000), "1/s",
          s"files ingested per second spent in ingest calls; 1 file of $rowsPerFile rows lands every $intervalMs ms"),
        Metric("failed_ratio", p.lag.failed.toDouble / math.max(1L, p.lag.n), "ratio",
          s"${p.failedCalls} failed ingest calls")) ++
        p.service.metrics("op") ++ p.lag.metrics("ingest_lag") ++
        Seq(Metric("storage_amp", disk.toDouble / math.max(1L, live), "ratio",
          "bytes on disk / live data bytes"),
          Metric("catalog.live_files", log.currentFileCount.toDouble, "count"),
          Metric("catalog.versions", (v + 1).toDouble, "count"),
          Metric("catalog.bytes_on_disk", disk.toDouble, "bytes"),
          Metric("bench.gen_late_ms_p90", p.genLate.pct(90), "ms", s"n=${p.genLate.n}")) ++ layers,
      bad)
  }
}
