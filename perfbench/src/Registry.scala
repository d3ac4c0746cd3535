package graft.bench

import java.sql.Timestamp

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.{AssetCatalog, AuditLog, DataAsset, SourceSystem, TargetSystem}

/** `registry_api`: the reference's own control-plane traffic. Three
  * closed-loop clients, one per CRUD API (source system, target system,
  * data asset), each running a seeded mix of audited create / read /
  * update / delete on its own entity table, and all three correcting and
  * looking up rows of ONE shared audit log, so publishes on that log race.
  * No operation is retried; a failure is counted and must leave no
  * partial effect.
  */
object Registry {
  private final case class Api(name: String, key: String, idBase: Long)
  private val apis = Seq(
    Api("source_system", "src_sys_id", 1000000L),
    Api("target_system", "tgt_sys_id", 2000000L),
    Api("data_asset", "asset_id", 3000000L))
  private val seededPerApi = 16
  private val epoch = 1700000000000L

  /** Op cycle of every client: each 20 consecutive ops hold 5 creates,
    * 5 reads, 3 updates, 2 deletes, 2 status corrections and 3 audit
    * lookups, spread out. The order is fixed, so runs that complete the
    * same number of ops run the same mix; the seed picks the rows each op
    * touches. Client `i` starts `7 * i` ops into the cycle, so the three
    * clients do not run the same op at the same time. Reads are `read`
    * and `lookup`.
    */
  private val cycle = Seq("create", "read", "lookup", "update", "read", "create", "set_status",
    "read", "delete", "lookup", "create", "update", "read", "create", "lookup", "update", "read",
    "set_status", "delete", "create")
  private val reads = Set("read", "lookup")

  /** One registry instance on a private root, with every commit log traced. */
  private final class Registry(spark: SparkSession, root: String, tr: Tracer) {
    val catalog: AssetCatalog = new AssetCatalog(spark, s"$root/registry") {
      override protected def newLog(table: String) =
        new TracedLog(spark, s"$root/registry/$table", tr)
    }
    val auditLog = new TracedLog(spark, s"$root/audit", tr)
    val audit: AuditLog = new AuditLog(spark, s"$root/audit") {
      override protected def newLog() = auditLog
    }
    def roots: Seq[String] = Seq(s"$root/registry", s"$root/audit")
  }

  /** The model a client keeps of its own acknowledged operations. */
  private final class Model {
    val live = mutable.LinkedHashMap.empty[Long, String]      // id → status
    val audit = mutable.LinkedHashMap.empty[String, String]   // request id → status
    val failedCreates = mutable.Set.empty[String]
    var nextId = 0L
  }

  private def rid(api: Api, id: Long) = s"${api.name}-$id"

  private def rows(spark: SparkSession, api: Api, ids: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    def ts(id: Long) = new Timestamp(epoch + (id % 100000) * 1000)
    api.name match {
      case "source_system" => ids.map { case (i, st) => SourceSystem(i, s"src-$i", "us-east-1", ts(i), st) }.toDF()
      case "target_system" => ids.map { case (i, st) => TargetSystem(i, s"tgt-$i", "eu-west-1", ts(i), st) }.toDF()
      case _ => ids.map { case (i, st) => DataAsset(i, i % 97, s"asset-$i", "raw", ts(i), st) }.toDF()
    }
  }

  /** Audit events for `ids`, in the schema AuditLog.eventFrame writes. */
  private def auditRows(spark: SparkSession, api: Api, ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.map(i => (rid(api, i), "create", s"${api.name}-api", Map("tasktype" -> "create"), "{}",
      "synchronous", new Timestamp(epoch), "success"))
      .toDF("aws_request_id", "method_name", "function_name", "query_string", "payload",
        "api_call_type", "modified_ts", "status")
  }

  /** Fresh registry: each entity table holds `seededPerApi` rows and the
    * shared audit log one create event per row.
    */
  private def setup(ctx: Ctx, name: String): (String, Seq[Model]) = {
    val root = ctx.dir(name)
    val reg = new Registry(ctx.spark, root, new Tracer(false))
    val models = apis.map { api =>
      val m = new Model
      val ids = (0 until seededPerApi).map(i => api.idBase + i)
      val df = rows(ctx.spark, api, ids.map(_ -> "active"))
      reg.catalog.create(api.name, api.key, df)(Encoders.row(df.schema))
      ids.foreach { i => m.live(i) = "active"; m.audit(rid(api, i)) = "success" }
      m.nextId = api.idBase + seededPerApi
      m
    }
    reg.auditLog.commit(apis.map(api => auditRows(ctx.spark, api,
      (0 until seededPerApi).map(i => api.idBase + i))).reduce(_ unionByName _), replace = false)
    (root, models)
  }

  private final class Client(ctx: Ctx, reg: Registry, val api: Api, m: Model, rnd: Random,
      offset: Int, tr: Tracer) {
    val all = new Samples
    val rd = new Samples
    val wr = new Samples
    val mismatches = mutable.ArrayBuffer.empty[String]
    var attempted = 0L

    /** When the client's run started and its last op ended (nanoTime). */
    var started = 0L
    var lastEnd = 0L
    /** Successful ops per second of this client's own run. */
    def rate: Double = all.successes / math.max(1e-9, (lastEnd - started) / 1e9)
    private def pick(): String = {
      val op = cycle(((offset + attempted) % cycle.size).toInt)
      if (m.live.isEmpty && Set("read", "update", "delete")(op)) "create" else op
    }
    private def anyLive(): Long = m.live.keys.toSeq(rnd.nextInt(m.live.size))
    private def anyAudited(): String = m.audit.keys.toSeq(rnd.nextInt(m.audit.size))

    def step(): Unit = {
      val op = pick()
      val spark = ctx.spark
      // choose the arguments before timing: the model, not the engine, decides
      val (body, ack): (() => Unit, () => Unit) = op match {
        case "create" =>
          val id = m.nextId; m.nextId += 1
          val df = rows(spark, api, Seq(id -> "active"))
          (() => reg.catalog.createAudited(api.name, api.key, df, reg.audit, rid(api, id),
            "create")(Encoders.row(df.schema)),
           () => { m.live(id) = "active"; m.audit(rid(api, id)) = "success" })
        case "read" =>
          val id = anyLive()
          (() => {
            val got = reg.catalog.read(api.name, api.key, id).select("status").collect().map(_.getString(0))
            if (!got.sameElements(Seq(m.live(id)))) mismatches += s"${api.name} read $id: ${got.mkString(",")}"
          }, () => ())
        case "update" =>
          val id = anyLive()
          val st = s"u${attempted}"
          (() => reg.catalog.update(api.name, api.key,
            spark.range(1).select(lit(id).as(api.key), lit(st).as("status"))),
           () => m.live(id) = st)
        case "delete" =>
          val id = anyLive()
          (() => reg.catalog.deleteKeys(api.name, api.key, Seq(id)), () => m.live.remove(id): Unit)
        case "set_status" =>
          val r = anyAudited()
          val st = s"s${attempted}"
          (() => reg.audit.setStatus(r, "create", st, mor = true), () => m.audit(r) = st)
        case _ =>
          val r = anyAudited()
          (() => {
            val got = reg.audit.lookup(r, "create").select("status").collect().map(_.getString(0))
            if (!got.sameElements(Seq(m.audit(r)))) mismatches += s"audit lookup $r: ${got.mkString(",")}"
          }, () => ())
      }
      attempted += 1
      val t0 = System.nanoTime()
      val ok = try { tr.op("op")(tr.span(s"catalog.api_$op")(body())); true }
      catch {
        case scala.util.control.NonFatal(_) =>
          if (op == "create") m.failedCreates += rid(api, m.nextId - 1)
          false
      }
      lastEnd = System.nanoTime()
      val ms = (lastEnd - t0) / 1e6
      if (ok) ack()
      all.add(ms, ok)
      (if (reads(op)) rd else wr).add(ms, ok)
    }
  }

  /** Run the three clients until `deadline` (nanoTime) or `opsEach`,
    * client `i` starting at position `offsets(i)` of the op cycle.
    */
  private def drive(ctx: Ctx, reg: Registry, models: Seq[Model], tr: Tracer,
      deadline: Long, opsEach: Int, offsets: Seq[Int] = Seq(0, 7, 14)): (Seq[Client], Double) = {
    val clients = apis.zip(models).zipWithIndex.map { case ((api, m), i) =>
      new Client(ctx, reg, api, m, new Random(ctx.seed * 7919 + i), offsets(i), tr)
    }
    val t0 = System.nanoTime()
    clients.foreach { c => c.started = t0; c.lastEnd = t0 }
    val threads = clients.map { c =>
      val t = new Thread(() => {
        SparkSession.setActiveSession(ctx.spark)
        while (c.attempted < opsEach && System.nanoTime() < deadline) c.step()
      }, s"client-${c.api.name}")
      t.start(); t
    }
    threads.foreach(_.join())
    (clients, (System.nanoTime() - t0) / 1e9)
  }

  /** Compare the final tables with the models of acknowledged operations. */
  private def check(ctx: Ctx, reg: Registry, models: Seq[Model]): Seq[String] = {
    val bad = mutable.ArrayBuffer.empty[String]
    apis.zip(models).foreach { case (api, m) =>
      val got = reg.catalog.readTable(api.name).select(api.key, "status").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      if (got != m.live.toMap) bad += s"${api.name}: ${got.size} rows, model ${m.live.size}; " +
        s"diff ${(got.toSet diff m.live.toSet).take(3)} / ${(m.live.toSet diff got.toSet).take(3)}"
    }
    val events = reg.audit.events.groupBy("aws_request_id", "method_name")
      .agg(count(lit(1)).as("n"), first("status").as("status")).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getString(3))).toMap
    models.foreach { m =>
      m.audit.foreach { case (r, st) =>
        events.get(r) match {
          case Some((1L, `st`)) => ()
          case other => bad += s"audit $r: expected one row with status $st, got $other"
        }
      }
      m.failedCreates.filter(events.contains).foreach(r => bad += s"audit $r: failed create left a row")
    }
    val expected = models.map(_.audit.size).sum
    if (events.size != expected) bad += s"audit: ${events.size} request ids, model $expected"
    bad.toSeq
  }

  private def storage(reg: Registry, ctx: Ctx): (Double, Seq[Metric]) = {
    val logs = apis.map(a => new graft.catalog.CommitLog(ctx.spark, s"${reg.roots.head}/${a.name}")) :+
      new graft.catalog.CommitLog(ctx.spark, reg.roots(1))
    val live = logs.map { l =>
      val v = l.currentVersion.get
      (l.files(v) ++ l.dvFiles(v)).map(f => new java.io.File(s"${l.tableRootPath}/data/$f").length).sum
    }.sum
    val disk = Main.bytesUnder(reg.roots)
    (disk.toDouble / math.max(1L, live), Seq(
      Metric("catalog.live_files", logs.map(_.currentFileCount).sum.toDouble, "count"),
      Metric("catalog.versions", logs.map(_.currentVersion.get + 1).sum.toDouble, "count"),
      Metric("catalog.bytes_on_disk", disk.toDouble, "bytes")))
  }

  def run(ctx: Ctx): Outcome = {
    val off = new Tracer(false)
    // three identical fresh registries: the first warms the JVM and the
    // engine's lazy state, the others are the measured starting states
    val (setupS, roots) = Main.setups(3)(i => setup(ctx, s"registry-$i"))
    def open(i: Int, tr: Tracer) = (new Registry(ctx.spark, roots(i)._1, tr), roots(i)._2)
    val (warm, warmModels) = open(0, off)
    // two ops per client: update, read; status correction, read; delete, lookup
    drive(ctx.copy(seed = ctx.seed + 1000003), warm, warmModels, off, Long.MaxValue, 2, Seq(3, 6, 8))
    Main.mark("warmup")

    if (!ctx.trace) {
      val (reg, models) = open(2, off)
      val deadline = System.nanoTime() + ctx.seconds * 1000000000L
      val (clients, wall) = drive(ctx, reg, models, off, deadline, Int.MaxValue)
      Main.mark("measure")
      val bad = clients.flatMap(_.mismatches) ++ check(ctx, reg, models)
      summarize(ctx, reg, clients, wall, setupS, bad)
    } else {
      // same op count on both passes, so counts repeat and overhead compares
      val opsEach = math.max(6, ctx.seconds * 2 / 3)
      val (regOff, modelsOff) = open(1, off)
      val (clientsOff, _) = drive(ctx, regOff, modelsOff, off, Long.MaxValue, opsEach)
      val untraced = new Samples
      clientsOff.foreach(c => untraced ++= c.all)
      val tr = new Tracer(true)
      tr.install(ctx.spark)
      val (reg, models) = open(2, tr)
      val (clients, wall) = drive(ctx, reg, models, tr, Long.MaxValue, opsEach)
      val bad = clients.flatMap(_.mismatches) ++ check(ctx, reg, models)
      tr.drain(ctx.spark)
      tr.writeSpans(ctx.work.resolve("spans.jsonl"))
      val base = summarize(ctx, reg, clients, wall, setupS, bad)
      val traced = new Samples
      clients.foreach(c => traced ++= c.all)
      val opMs = tr.all.filter(s => s.id == s.op).map(s => (s.end - s.start) / 1e6).sum
      base.copy(metrics = base.metrics ++ Main.layerMetrics(tr, ctx.spark, untraced, traced, opMs))
    }
  }

  private def summarize(ctx: Ctx, reg: Registry, clients: Seq[Client], wall: Double,
      setupS: Double, bad: Seq[String]): Outcome = {
    val all = new Samples; val rd = new Samples; val wr = new Samples
    clients.foreach { c => all ++= c.all; rd ++= c.rd; wr ++= c.wr }
    val (amp, store) = storage(reg, ctx)
    val attempted = all.n
    Outcome(bad.isEmpty, attempted, all.failed,
      Seq(Metric("setup_s", setupS, "s", "median of 3 set-ups"),
        Metric("wall_s", wall, "s"),
        Metric("ops_per_s", clients.map(_.rate).sum, "1/s",
          "sum over the 3 closed-loop clients of ops / time to the end of its last op"),
        Metric("failed_ratio", all.failed.toDouble / math.max(1L, attempted), "ratio")) ++
        all.metrics("op") ++ rd.metrics("read") ++ wr.metrics("write") ++
        Seq(Metric("storage_amp", amp, "ratio", "bytes on disk / live data bytes")) ++ store,
      bad)
  }
}
