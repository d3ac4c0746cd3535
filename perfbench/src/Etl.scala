package graft.bench

import java.nio.file.{Files, Path}

import scala.util.Random
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry

/** `etl_batch`: one closed-loop client running read-only operator keys of
  * `SparkEntry.queries` into a noop sink, as the repository's own bench
  * does. The key set is fixed; the seed sets the order of every pass.
  * Half the keys call a fused `graft_*` kernel, the rest are relational
  * scans, joins, aggregates and windows. Each table is scaled up by its
  * own factor, so that Spark job execution fills most of every key's time
  * while a pass still fits a short run.
  *
  * Correctness: every key also runs on the committed seed dataset and its
  * result digest must match `expected/etl_digests.json` (recorded once and
  * cross-checked against the DuckDB oracle of each key).
  */
object Etl {
  val keys: Seq[String] = Seq(
    // fused kernels (functions layer), over documents and embeddings
    "q_pii_scrub", "q_text_normalize", "q_embed_project", "q_doc_fingerprint",
    // relational operators, over the TPC-H tables and events
    "q_agg_group", "q_join_multiway", "q_win_running", "q_json_funcs")

  /** Keys whose result is not a deterministic function of the input; they
    * are checked by row count only. None of the chosen keys is, today.
    */
  val rowCountOnly: Map[String, String] = Map.empty

  /** Copies of each seed table in the measured input. The seed tables are
    * sf0.01; documents and embeddings hold only 500 rows each there, so
    * they get more copies than the TPC-H tables.
    */
  private val tpchCopies = 8
  private val textCopies = 16

  /** Scale the seed tables up by re-keyed copies, preserving referential
    * integrity: every foreign key moves with the primary key it
    * references (the layout `graft.GenScale` writes, with fewer files).
    * The tables are written concurrently, one Spark job each.
    */
  private def scale(spark: SparkSession, src: String, dst: String, files: Int): Unit = {
    def t(n: String) = spark.read.parquet(s"$src/$n.parquet")
    def out(n: String, copies: Int, parts: Int)(move: (DataFrame, Column) => DataFrame): () => Unit = () => {
      val rep = t(n).withColumn("_copy", explode(sequence(lit(0L), lit(copies - 1L))))
      move(rep, col("_copy")).drop("_copy").repartition(parts).write.parquet(s"$dst/$n.parquet")
    }
    val tables = Seq(
      out("nation", 1, 1)((t, _) => t),
      out("customer", tpchCopies, files)((t, c) => t.withColumn("c_custkey", col("c_custkey") + c * 100000L)),
      out("orders", tpchCopies, files)((t, c) => t.withColumn("o_orderkey", col("o_orderkey") + c * 1000000L)
        .withColumn("o_custkey", col("o_custkey") + c * 100000L)),
      out("lineitem", tpchCopies, files)((t, c) => t.withColumn("l_orderkey", col("l_orderkey") + c * 1000000L)
        .withColumn("l_partkey", col("l_partkey") + c * 100000L)),
      out("events", tpchCopies, 1)((t, c) => t.withColumn("event_id", col("event_id") + c * 1000000L)
        .withColumn("user_id", col("user_id") + c * 10000L)),
      out("documents", textCopies, files)((t, c) => t.withColumn("doc_id", col("doc_id") + c * 10000L)
        .withColumn("text", when(c === 0L, col("text")).otherwise(concat(col("text"), lit(" v"), c)))
        .withColumn("n_chars", length(col("text")).cast("long"))),
      out("embeddings", textCopies, files)((t, c) => t.withColumn("vec_id", col("vec_id") + c * 10000L)
        .withColumn("embedding", transform(col("embedding"),
          x => (x + c.cast("float") * lit(0.001f)).cast("float")))))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(files)
    try {
      val done = tables.map(w => pool.submit(new Runnable {
        def run(): Unit = { SparkSession.setActiveSession(spark); w() }
      }))
      done.foreach(_.get())
    } finally pool.shutdown()
  }

  // ------------------------------------------------------------------ digests

  /** Order-insensitive digest of a result: row count; per column either
    * three moments of its numbers (floating and decimal columns: the sum,
    * the sum of absolute values and the sum of squares, compared with a
    * relative tolerance, so values that cancel in the sum are still
    * checked) or the sum of the hashes of its values; and the sum of the
    * hashes of whole rows, so a value negated or moved to another row is
    * caught too.
    */
  def digest(df: DataFrame): Map[String, Any] = {
    val rows = df.collect()
    val cols = df.schema.fields.zipWithIndex.map { case (f, i) =>
      f.dataType match {
        case DoubleType | FloatType | _: DecimalType =>
          val vs = rows.flatMap(r => Option(r.get(i)).map(v => v.toString.toDouble))
          Map("name" -> f.name, "sum" -> vs.sum, "abs" -> vs.map(math.abs).sum,
            "sq" -> vs.map(x => x * x).sum, "nulls" -> (rows.length - vs.length))
        case _ =>
          val h = rows.iterator.map(r => MurmurHash3.stringHash(render(r.get(i))).toLong & 0xffffffffL).sum
          Map("name" -> f.name, "hash" -> h.toString)
      }
    }
    val rowHash = rows.iterator
      .map(r => MurmurHash3.stringHash(r.toSeq.map(coarse).mkString("\u0001")).toLong & 0xffffffffL).sum
    Map("rows" -> rows.length, "cols" -> cols.toSeq, "rowhash" -> rowHash.toString)
  }

  /** A top-level value as the row hash sees it: numbers that may carry
    * rounding noise keep 6 significant digits.
    */
  private def coarse(v: Any): String = v match {
    case d: Double => if (d == 0.0) "0" else String.format(java.util.Locale.ROOT, "%.5e", Double.box(d))
    case f: Float => coarse(f.toDouble)
    case b: java.math.BigDecimal => coarse(b.doubleValue)
    case other => render(other)
  }

  private def render(v: Any): String = v match {
    case null => "null"
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }
      .sorted.mkString("{", ",", "}")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case other => other.toString
  }

  private def toJson(v: Any): String = v match {
    case m: Map[_, _] => m.toSeq.sortBy(_._1.toString)
      .map { case (k, x) => "\"" + k + "\":" + toJson(x) }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(toJson).mkString("[", ",", "]")
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case d: Double => java.math.BigDecimal.valueOf(d).toPlainString
    case other => other.toString
  }

  private def parse(path: Path): Map[String, Any] = {
    import org.json4s._
    def plain(j: JValue): Any = j match {
      case JObject(fs) => fs.map { case (k, x) => k -> plain(x) }.toMap
      case JArray(xs) => xs.map(plain)
      case JString(s) => s
      case JInt(i) => i.toLong
      case JLong(i) => i
      case JDouble(d) => d
      case JDecimal(d) => d.toDouble
      case JBool(b) => b
      case _ => null
    }
    plain(org.json4s.jackson.JsonMethods.parse(new String(Files.readAllBytes(path), "UTF-8")))
      .asInstanceOf[Map[String, Any]]
  }

  private def num(x: Any): Double = x match {
    case d: Double => d
    case l: Long => l.toDouble
    case i: Int => i.toDouble
    case other => other.toString.toDouble
  }

  /** Differences between a digest and its recorded value (empty = equal). */
  private def compare(key: String, got: Map[String, Any], want: Map[String, Any]): Seq[String] = {
    if (num(got("rows")) != num(want("rows")))
      return Seq(s"$key: ${got("rows")} rows, expected ${want("rows")}")
    if (rowCountOnly.contains(key)) return Seq.empty
    val g = got("cols").asInstanceOf[Seq[Map[String, Any]]]
    val w = want("cols").asInstanceOf[Seq[Map[String, Any]]]
    if (g.map(_("name")) != w.map(_("name"))) return Seq(s"$key: columns ${g.map(_("name"))}")
    val rowsDiffer =
      if (got.get("rowhash") != want.get("rowhash")) Seq(s"$key: row hash differs") else Nil
    rowsDiffer ++ g.zip(w).flatMap { case (a, b) =>
      if (b.contains("hash")) {
        if (a.get("hash") != b.get("hash")) Seq(s"$key.${a("name")}: value hash differs") else Nil
      } else if (!Seq("sum", "abs", "sq", "nulls").forall(b.contains)) {
        Seq(s"$key.${a("name")}: recorded digest lacks a moment")
      } else {
        // every moment within 1e-6 of the sum of absolute values
        val tol = 1e-6 * math.max(1.0, num(b("abs")))
        val off = Seq("sum", "abs", "sq").filter { m =>
          val (x, y) = (num(a(m)), num(b(m)))
          math.abs(x - y) > (if (m == "sq") 1e-6 * math.max(1.0, math.abs(y)) else tol)
        }
        if (num(a("nulls")) != num(b("nulls"))) Seq(s"$key.${a("name")}: ${a("nulls")} nulls, expected ${b("nulls")}")
        else off.map(m => s"$key.${a("name")}: $m ${a(m)}, expected ${b(m)}")
      }
    }
  }

  // ------------------------------------------------------------------ run

  private def once(spark: SparkSession, key: String, dir: String): Unit = {
    val df = SparkEntry.queries(key)(spark, dir)
    try df.write.mode("overwrite").format("noop").save()
    finally spark.catalog.clearCache()
  }

  private final case class Pass(all: Samples, wallS: Double, failures: Seq[String],
      latency: Map[String, Seq[Double]])

  /** Passes over the keys in seeded order: `passes` of them, or as many
    * as fit before `deadline` (nanoTime), judged by the previous pass.
    */
  private def drive(spark: SparkSession, dir: String, rnd: Random, tr: Tracer,
      deadline: Long, passes: Int): Pass = {
    val all = new Samples
    val failures = Seq.newBuilder[String]
    val lat = scala.collection.mutable.Map.empty[String, Vector[Double]].withDefaultValue(Vector.empty)
    val t0 = System.nanoTime()
    var n = 0
    var last = 0L
    while (n < passes && (n == 0 || System.nanoTime() + last <= deadline)) {
      val p0 = System.nanoTime()
      rnd.shuffle(keys).foreach { k =>
        val t = System.nanoTime()
        val ok = try { tr.op(k)(once(spark, k, dir)); true }
        catch { case scala.util.control.NonFatal(e) => failures += s"$k: ${e.getClass.getSimpleName}"; false }
        val ms = (System.nanoTime() - t) / 1e6
        all.add(ms, ok)
        lat(k) = lat(k) :+ ms
      }
      last = System.nanoTime() - p0
      n += 1
    }
    Pass(all, (System.nanoTime() - t0) / 1e9, failures.result(), lat.toMap)
  }

  /** How much of each key's wall time is execution: the share spent with
    * at least one Spark job running, and its tasks' CPU time over all
    * cores for that wall time. Low shares mean per-query fixed cost
    * (planning, job and file set-up) dominates the key.
    */
  private def executionShares(tr: Tracer, roots: Seq[Span], cpus: Int): Seq[Metric] = {
    val jobs = tr.all.filter(_.name == "ops.job").groupBy(_.op)
    def inJobs(r: Span): Double = {
      val iv = jobs.getOrElse(r.id, Nil).map(j => (math.max(j.start, r.start), math.min(j.end, r.end)))
        .filter(x => x._2 > x._1).sortBy(_._1)
      var (covered, reach) = (0L, r.start)
      iv.foreach { case (a, b) => if (b > reach) { covered += b - math.max(a, reach); reach = b } }
      covered.toDouble
    }
    def cpu(r: Span): Double = tr.opCpuNs.get(r.id).map(_.get.toDouble).getOrElse(0.0)
    def shares(rs: Seq[Span], name: String): Seq[Metric] = {
      val wall = rs.map(r => (r.end - r.start).toDouble).sum
      Seq(Metric(s"$name.job_share", rs.map(inJobs).sum / wall, "ratio", "wall with a Spark job running / wall"),
        Metric(s"$name.cpu_share", rs.map(cpu).sum / (cpus * wall), "ratio", s"task CPU / ($cpus cores x wall)"))
    }
    shares(roots, "ops") ++ roots.groupBy(_.name).toSeq.sortBy(_._1).flatMap { case (k, rs) => shares(rs, s"key.$k") }
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val seedData = ctx.benchDir.resolve("data").toString
    val expectedPath = ctx.benchDir.resolve("expected").resolve("etl_digests.json")
    // warm-up and correctness: every key on the seed dataset, untimed; it
    // runs first, so that the set-ups after it all start from a warm JVM
    val digests = keys.map(k => k -> digest(SparkEntry.queries(k)(spark, seedData))).toMap
    ctx.record.foreach { p =>
      Files.write(p, (toJson(digests) + "\n").getBytes("UTF-8"))
    }
    val want = parse(expectedPath)
    val mismatches = keys.flatMap { k =>
      want.get(k) match {
        case Some(w: Map[_, _]) => compare(k, digests(k), w.asInstanceOf[Map[String, Any]])
        case _ => Seq(s"$k: no recorded digest")
      }
    }

    Main.mark("warmup")
    val (setupS, dirs) = Main.setups(3) { i =>
      val d = ctx.dir(s"etl-$i")
      scale(spark, seedData, d, ctx.cpus)
      d
    }
    val data = dirs.last

    val rnd = new Random(ctx.seed)
    val off = new Tracer(false)
    val (p, layers) =
      if (!ctx.trace) {
        (drive(spark, data, rnd, off, System.nanoTime() + ctx.seconds * 1000000000L, Int.MaxValue),
          Seq.empty)
      } else {
        drive(spark, data, new Random(ctx.seed + 1), off, 0L, 1)   // first pass on this input warms up
        val pOff = drive(spark, data, rnd, off, 0L, 1)
        val tr = new Tracer(true)
        tr.install(spark)
        val p = drive(spark, data, new Random(ctx.seed), tr, 0L, 1)
        tr.drain(spark)
        tr.writeSpans(ctx.work.resolve("spans.jsonl"))
        val roots = tr.all.filter(s => s.id == s.op)
        val kernelMs = roots.filter(s => tr.kernelOps.contains(s.id)).map(s => (s.end - s.start) / 1e6).sum
        (p, Main.layerMetrics(tr, spark, pOff.all, p.all, roots.map(s => (s.end - s.start) / 1e6).sum) ++
          Seq(Metric("functions.kernel_keys", tr.kernelOps.size.toDouble, "count"),
            Metric("functions.kernel_keys_ms", kernelMs, "ms", "wall of keys whose plan calls a graft_* kernel")) ++
          executionShares(tr, roots, ctx.cpus))
      }
    Main.mark("measure")
    val passes = p.latency.values.map(_.size).maxOption.getOrElse(0)
    val perKey = p.latency.toSeq.sortBy(_._1).map { case (k, v) =>
      Metric(s"key.$k", Main.median(v), "ms", s"median of ${v.size}")
    }
    Outcome(mismatches.isEmpty && p.failures.isEmpty, p.all.n, p.all.failed,
      Seq(Metric("setup_s", setupS, "s", "median of 3 set-ups"),
        Metric("wall_s", p.wallS, "s", s"$passes passes of ${keys.size} keys"),
        Metric("ops_per_s", p.all.successes / p.wallS, "1/s", "1 closed-loop client"),
        Metric("failed_ratio", p.all.failed.toDouble / math.max(1L, p.all.n), "ratio")) ++
        p.all.metrics("op") ++ layers ++ perKey,
      mismatches ++ p.failures)
  }
}
