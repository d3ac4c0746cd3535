package graft.bench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

final case class Metric(name: String, value: Double, unit: String, note: String = "")

/** What one workload run reports: counts, every metric it measured, and
  * whether the engine's outputs matched the workload's model.
  */
final case class Outcome(correct: Boolean, attempted: Long, failed: Long,
    metrics: Seq[Metric], mismatches: Seq[String])

/** Everything a workload needs: the session, the CLI settings and a
  * private working directory that no other run shares.
  */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int,
    trace: Boolean, work: Path, benchDir: Path, record: Option[Path]) {
  val cpus: Int = Runtime.getRuntime.availableProcessors
  def dir(name: String): String = {
    val p = work.resolve(name)
    Files.createDirectories(p)
    p.toAbsolutePath.toString
  }
}

/** Latencies of attempted operations. A failed operation is ranked above
  * every success: it misses any latency bound. Where a percentile reaches
  * a failure, the longest time any operation took is reported instead
  * (a lower bound), and the table says so.
  */
final class Samples {
  private val ok = scala.collection.mutable.ArrayBuffer.empty[Double]   // ms
  private var worst = 0.0
  var failed = 0L
  def add(ms: Double, success: Boolean): Unit = synchronized {
    if (success) ok += ms else failed += 1
    worst = math.max(worst, ms)
  }
  def ++=(o: Samples): Unit = synchronized {
    o.synchronized { ok ++= o.ok; failed += o.failed; worst = math.max(worst, o.worst) }
  }
  def n: Long = synchronized(ok.size + failed)
  def successes: Long = synchronized(ok.size.toLong)
  def mean: Double = synchronized(if (ok.isEmpty) 0.0 else ok.sum / ok.size)
  /** 1-based rank of percentile `p` in (0, 100] among `total` samples,
    * interpolated between neighbours (the usual linear estimate), which
    * moves less between runs than a nearest rank when samples are few.
    */
  private def rank(p: Double, total: Long): Double = (total - 1) * p / 100 + 1
  def pct(p: Double): Double = synchronized {
    val total = ok.size + failed.toInt
    if (total == 0) return 0.0
    val h = rank(p, total)
    val (lo, hi) = (h.floor.toInt, h.ceil.toInt)
    if (hi > ok.size) worst
    else {
      val s = ok.sorted
      s(lo - 1) + (h - lo) * (s(hi - 1) - s(lo - 1))
    }
  }
  def beyond(p: Double): Long = synchronized {
    val total = ok.size + failed
    total - rank(p, total).floor.toLong
  }
  def metrics(prefix: String): Seq[Metric] = Seq(50.0, 75.0, 90.0).map { p =>
    Metric(s"${prefix}_p${p.toInt}_ms", pct(p), "ms",
      s"n=$n beyond=${beyond(p)} failed=$failed")
  }
}

object Main {
  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    System.err.println("usage: --workload <registry_api|landing_ingest|etl_batch> --seed <n> " +
      "--seconds <s> --trace <0|1> --work <dir> --bench-dir <dir> [--record <file>]")
    sys.exit(2)
  }

  private val started = System.nanoTime()
  private val marks = scala.collection.mutable.ArrayBuffer.empty[Metric]

  /** Note that phase `name` of the run ended now; the table shows when. */
  def mark(name: String): Unit = synchronized {
    marks += Metric(s"bench.phase.$name", (System.nanoTime() - started) / 1e9, "s", "end, from JVM start")
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = kv.getOrElse(k, usage(s"missing --$k"))
    val workload = arg("workload")
    val seed = scala.util.Try(arg("seed").toLong).getOrElse(usage("--seed is not an integer"))
    val seconds = scala.util.Try(arg("seconds").toInt).getOrElse(usage("--seconds is not an integer"))
    val trace = arg("trace") match { case "0" => false; case "1" => true; case _ => usage("--trace is 0 or 1") }
    val run: Ctx => Outcome = workload match {
      case "registry_api" => Registry.run
      case "landing_ingest" => Landing.run
      case "etl_batch" => Etl.run
      case w => usage(s"unknown workload $w")
    }
    val work = Paths.get(arg("work")).toAbsolutePath
    Files.createDirectories(work)
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    mark("session")
    val ctx = Ctx(spark, seed, seconds, trace, work,
      Paths.get(arg("bench-dir")).toAbsolutePath, kv.get("record").map(Paths.get(_)))
    val out = try run(ctx) finally spark.stop()
    val rss = Metric("peak_rss_mb", peakRssMb(), "MB")
    mark("end")
    report(out.copy(metrics = out.metrics ++ marks :+ rss))
    sys.exit(0)
  }

  /** High-water resident set of this JVM, from the kernel's own count. */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(0.0)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Runs `n` set-ups; returns the median set-up time and every result. */
  def setups[T](n: Int)(one: Int => T): (Double, Seq[T]) = {
    val runs = (1 to n).map { i =>
      val t0 = System.nanoTime()
      val r = one(i)
      ((System.nanoTime() - t0) / 1e9, r)
    }
    mark("setup")
    (median(runs.map(_._1)), runs.map(_._2))
  }

  /** The metrics a traced pass adds on top of the engine's own counts. */
  def layerMetrics(tr: Tracer, spark: SparkSession, untraced: Samples,
      traced: Samples, opWallMs: Double): Seq[Metric] = {
    tr.drain(spark)
    val spans = tr.all
    val jobMs = spans.filter(_.name == "ops.job").map(s => (s.end - s.start) / 1e6).sum
    def phase(p: String) = spans.filter(_.name == s"plans.$p").map(s => (s.end - s.start) / 1e6).sum
    def timed(name: String) = spans.filter(_.name == name).map(s => (s.end - s.start) / 1e6).sum
    val self = tr.selfTimes()
    Seq(
      Metric("catalog.read_ms", timed("catalog.read"), "ms"),
      Metric("catalog.read_calls", tr.counter("catalog.read_calls").toDouble, "count"),
      Metric("catalog.meta_opens", tr.counter("catalog.meta_opens").toDouble, "count"),
      Metric("catalog.meta_lists", tr.counter("catalog.meta_lists").toDouble, "count"),
      Metric("catalog.commit_ms", timed("catalog.commit"), "ms"),
      Metric("catalog.publish_attempts", tr.counter("catalog.publish_attempts").toDouble, "count"),
      Metric("catalog.publish_retries", tr.counter("catalog.publish_retries").toDouble, "count"),
      Metric("catalog.race_giveups", tr.counter("catalog.race_giveups").toDouble, "count"),
      Metric("ops.jobs", tr.counter("ops.jobs").toDouble, "count"),
      Metric("ops.tasks", tr.counter("ops.tasks").toDouble, "count"),
      Metric("ops.job_ms", jobMs, "ms"),
      Metric("ops.driver_gap_ms", math.max(0.0, opWallMs - self.getOrElse("ops", 0.0)), "ms"),
      Metric("ops.task_cpu_ms", tr.counter("ops.task_cpu_ns") / 1e6, "ms"),
      Metric("ops.gc_ms", tr.counter("ops.gc_ms").toDouble, "ms"),
      Metric("ops.shuffle_read_bytes", tr.counter("ops.shuffle_read_bytes").toDouble, "bytes"),
      Metric("ops.shuffle_write_bytes", tr.counter("ops.shuffle_write_bytes").toDouble, "bytes"),
      Metric("ops.spill_bytes", tr.counter("ops.spill_bytes").toDouble, "bytes"),
      Metric("ops.input_bytes", tr.counter("ops.input_bytes").toDouble, "bytes"),
      Metric("plans.analysis_ms", phase("analysis"), "ms"),
      Metric("plans.optimization_ms", phase("optimization"), "ms"),
      Metric("plans.planning_ms", phase("planning"), "ms"),
      Metric("plans.rewrites", tr.counter("plans.rewrites").toDouble, "count"),
      Metric("shim.files_read", tr.counter("shim.files_read").toDouble, "count"),
      Metric("shim.files_pruned", tr.counter("shim.files_pruned").toDouble, "count"),
      Metric("stream.batches", tr.counter("stream.batches").toDouble, "count"),
      Metric("bench.trace_overhead_pct",
        if (untraced.mean > 0) (traced.mean / untraced.mean - 1) * 100 else 0.0, "%",
        f"mean op: untraced ${untraced.mean}%.1f ms, traced ${traced.mean}%.1f ms"),
    ) ++ Seq("catalog.live_files" -> "count", "catalog.versions" -> "count",
      "catalog.bytes_on_disk" -> "bytes", "functions.kernel_keys" -> "count",
      "stream.backlog_files" -> "count").map { case (n, u) => Metric(n, 0.0, u, Idle) } ++
      Seq("bench", "catalog", "stream", "plans", "ops").map { l =>
      Metric(s"$l.self_ms", self.getOrElse(l, 0.0), "ms", "deepest open span owns each instant")
    }
  }

  /** Bytes of every regular file under `roots`. */
  def bytesUnder(roots: Seq[String]): Long = roots.map { r =>
    val p = Paths.get(r)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }.sum

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def esc(s: String): String = s.replace("\\", "\\\\").replace("\"", "\\\"")

  /** Note of a count a workload's layers never produce; a workload that
    * measures the count replaces it.
    */
  val Idle = "idle in this workload"

  private def report(o0: Outcome): Unit = {
    val measured = o0.metrics.filter(_.note != Idle).map(_.name).toSet
    val o = o0.copy(metrics = o0.metrics.filter(m => m.note != Idle || !measured(m.name)))
    o.mismatches.take(20).foreach(m => println(s"[perfbench] MISMATCH $m"))
    println(f"[perfbench] attempted=${o.attempted} failed=${o.failed} correct=${o.correct}")
    o.metrics.foreach { m =>
      println(f"[perfbench] ${m.name}%-28s ${m.value}%14.4f ${m.unit}%-6s ${m.note}")
    }
    val ms = o.metrics.map(m => s""""${esc(m.name)}":{"value":${num(m.value)},"unit":"${esc(m.unit)}"}""")
    println(s"""@@RESULT {"correct":${o.correct},"attempted":${o.attempted},"failed":${o.failed},""" +
      s""""metrics":{${ms.mkString(",")}}}""")
  }
}
