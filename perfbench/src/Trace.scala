package graft.bench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are nanoseconds on the benchmark's own
  * monotonic clock; `op` is the workload operation the span belongs to
  * (0 = not attributable to one operation).
  */
final case class Span(id: Long, name: String, start: Long, end: Long,
    parent: Long, op: Long)

/** Span and counter recorder for the traced run. Spans are kept in memory
  * and written out once, at the end. With `on = false` every call is a
  * pass-through, so the untraced run measures the engine alone.
  *
  * Layer boundaries recorded here, all from outside the engine:
  *  - `op`: one workload operation (a registry API call, one file
  *    arrival, one operator key) — the root of its spans;
  *  - `catalog.*`: calls into AssetCatalog/AuditLog and the CommitLog
  *    calls under them (see [[TracedLog]]);
  *  - `ops.job`: Spark jobs, from a SparkListener;
  *  - `plans.<phase>`: Catalyst analysis/optimization/planning, from a
  *    QueryExecutionListener reading `tracker.phases`;
  *  - `stream.trigger`: micro-batch triggers, from a StreamingQueryListener.
  */
final class Tracer(val on: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]
  private val counters = TrieMap.empty[String, AtomicLong]
  private val ids = new AtomicLong(1)
  private val stack = new ThreadLocal[List[(Long, Long)]] {   // (span, op)
    override def initialValue(): List[(Long, Long)] = Nil
  }
  // epoch-millisecond listener timestamps → the nanoTime base
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def fromEpochMs(ms: Long): Long = ms * 1000000L - epochOffsetNs

  def count(name: String, n: Long = 1): Unit =
    if (on) counters.getOrElseUpdate(name, new AtomicLong).addAndGet(n): Unit
  def counter(name: String): Long = counters.get(name).map(_.get).getOrElse(0L)

  def add(s: Span): Unit = if (on) spans.add(s): Unit
  def nextId(): Long = ids.getAndIncrement()
  def all: Seq[Span] = spans.asScala.toSeq

  private def current: (Long, Long) = stack.get.headOption.getOrElse((0L, 0L))

  /** Time `body` as span `name` under the thread's innermost open span.
    * Spark jobs submitted inside it carry the span and op ids as local
    * properties, so the listener can parent them.
    */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else open(name, None)(body)

  /** Root span of one workload operation; always returns its latency. */
  def op[T](name: String)(body: => T): (Long, T) = {
    val t0 = System.nanoTime()
    val r = if (on) open(name, Some(nextId()))(body) else body
    (System.nanoTime() - t0, r)
  }

  private def open[T](name: String, newOp: Option[Long])(body: => T): T = {
    val (parent, op0) = current
    val id = nextId()
    val op = newOp.getOrElse(op0)
    val sc = SparkSession.active.sparkContext
    val saved = stack.get
    stack.set((id, if (newOp.isDefined) id else op) :: saved)
    setProps(sc, id, if (newOp.isDefined) id else op)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.set(saved)
      val (p, o) = current
      setProps(sc, p, o)
      spans.add(Span(id, name, t0, t1, parent, if (newOp.isDefined) id else op))
    }
  }

  private def setProps(sc: org.apache.spark.SparkContext, span: Long, op: Long): Unit = {
    sc.setLocalProperty("bench.span", if (span == 0) null else span.toString)
    sc.setLocalProperty("bench.op", if (op == 0) null else op.toString)
  }

  // ---------------------------------------------------------------- listeners

  private val jobStarts = TrieMap.empty[Int, (Long, Long, Long)]   // job → (start, span, op)
  private val stageOp = TrieMap.empty[Int, Long]
  /** Executor CPU time of each op's tasks, in ns. */
  val opCpuNs: TrieMap[Long, AtomicLong] = TrieMap.empty
  // query execution → (span, op) of the first job it ran
  private val execParent = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[QueryExecution, (Long, Long)]())
  private val phaseNames = Seq("analysis", "optimization", "planning")
  /** Ops that ran at least one physical plan calling a `graft_*` kernel. */
  val kernelOps: java.util.Set[Long] = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()

  private def prop(p: java.util.Properties, k: String): Long =
    Option(p).flatMap(x => Option(x.getProperty(k))).map(_.toLong).getOrElse(0L)

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = prop(e.properties, "bench.span")
      val op = prop(e.properties, "bench.op")
      jobStarts.put(e.jobId, (fromEpochMs(e.time), span, op))
      if (op != 0) e.stageIds.foreach(stageOp.put(_, op))
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(x => Option(SQLExecution.getQueryExecution(x.toLong)))
        .foreach(qe => execParent.putIfAbsent(qe, (span, op)))
      count("ops.jobs")
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobStarts.remove(e.jobId).foreach { case (t0, span, op) =>
        add(Span(nextId(), "ops.job", t0, math.max(t0, fromEpochMs(e.time)), span, op))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      count("ops.tasks")
      Option(e.taskMetrics).foreach { m =>
        count("ops.task_cpu_ns", m.executorCpuTime)
        stageOp.get(e.stageId).foreach(o =>
          opCpuNs.getOrElseUpdate(o, new AtomicLong).addAndGet(m.executorCpuTime))
        count("ops.gc_ms", m.jvmGCTime)
        count("ops.shuffle_read_bytes",
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
        count("ops.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        count("ops.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        count("ops.input_bytes", m.inputMetrics.bytesRead)
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val (span, op) = Option(execParent.get(qe)).getOrElse((0L, 0L))
    val phases = qe.tracker.phases
    phaseNames.foreach { ph =>
      phases.get(ph).foreach { s =>
        add(Span(nextId(), s"plans.$ph", fromEpochMs(s.startTimeMs),
          fromEpochMs(s.endTimeMs), span, op))
      }
    }
    val plan = try qe.executedPlan catch { case _: Throwable => null }
    if (plan != null) {
      val nodes = flatten(plan)
      count("plans.rewrites", nodes.count(n => n.getClass.getName.startsWith("graft.")).toLong +
        (try qe.optimizedPlan.collect { case n if n.getClass.getName.startsWith("graft.") => n }.size
         catch { case _: Throwable => 0 }))
      if (op != 0 && nodes.exists(_.expressions.exists(_.toString.contains("graft_"))))
        kernelOps.add(op): Unit
      nodes.foreach {
        case f: FileSourceScanExec =>
          val read = f.metrics.get("numFiles").map(_.value).getOrElse(0L)
          count("shim.files_read", read)
          val total = try f.relation.location.inputFiles.length.toLong catch { case _: Throwable => read }
          count("shim.files_pruned", math.max(0L, total - read))
        case n if n.nodeName.startsWith("BatchScan") =>
          count("shim.files_read", n.metrics.get("numFiles").map(_.value).getOrElse(0L))
        case _ => ()
      }
    }
  }

  /** Every node of an executed plan, through AQE stages and subqueries. */
  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val out = Seq.newBuilder[SparkPlan]
    def go(n: SparkPlan): Unit = {
      out += n
      n match {
        case a: AdaptiveSparkPlanExec => go(a.executedPlan)
        case s: QueryStageExec => go(s.plan)
        case _ => ()
      }
      n.children.foreach(go)
      n.subqueries.foreach(go)
    }
    go(p)
    out.result()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      count("stream.batches")
      Seq("queryPlanning" -> "stream.query_planning_ms", "latestOffset" -> "stream.latest_offset_ms",
        "addBatch" -> "stream.add_batch_ms", "walCommit" -> "stream.wal_commit_ms",
        "commitOffsets" -> "stream.commit_offsets_ms", "triggerExecution" -> "stream.trigger_ms")
        .foreach { case (k, name) => d.get(k).foreach(count(name, _)) }
      val start = fromEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
      add(Span(nextId(), "stream.trigger", start, start + d.getOrElse("triggerExecution", 0L) * 1000000L,
        0L, 0L))
    }
  }

  def install(spark: SparkSession): Unit = if (on) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait until every listener event posted so far has been handled. */
  def drain(spark: SparkSession): Unit = if (on) {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
  }

  // ---------------------------------------------------------------- self time

  /** Layer of a span name: the prefix before the first dot. */
  private def layer(name: String): String =
    if (name == "op" || !name.contains('.')) "bench" else name.takeWhile(_ != '.')

  /** Self time per layer, in ms: at every instant of an operation the
    * deepest open span owns the time (jobs inside planning inside catalog
    * calls inside the op), so the layers partition each op's wall time.
    * Spans without an op id (stream triggers; planning of a query that ran
    * no job) go to the op whose interval contains their start, when
    * exactly one does.
    */
  def selfTimes(): Map[String, Double] = {
    val rank = Map("bench" -> 0, "catalog" -> 1, "stream" -> 2, "plans" -> 3, "ops" -> 4)
    val ops = all.filter(s => s.id == s.op)
    val byOp = all.filter(_.op != 0).groupBy(_.op)
    val orphans = all.filter(_.op == 0).flatMap { s =>
      ops.filter(r => s.start >= r.start && s.start < r.end) match {
        case Seq(r) => Some(s.copy(op = r.id))
        case _ => None
      }
    }.groupBy(_.op)
    val acc = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    ops.foreach { root =>
      val own = byOp.getOrElse(root.id, Seq.empty) ++ orphans.getOrElse(root.id, Seq.empty)
      val clipped = own.map(s => (math.max(s.start, root.start), math.min(s.end, root.end),
        rank.getOrElse(layer(s.name), 1), layer(s.name))).filter(s => s._2 > s._1)
      val cuts = clipped.flatMap(s => Seq(s._1, s._2)).distinct.sorted
      cuts.sliding(2).foreach {
        case Seq(a, b) =>
          val top = clipped.filter(s => s._1 <= a && s._2 >= b).maxBy(_._3)
          acc(top._4) += (b - a) / 1e6
        case _ => ()
      }
    }
    acc.toMap
  }

  def writeSpans(path: java.nio.file.Path): Unit = if (on) {
    val sb = new StringBuilder
    all.sortBy(_.start).foreach { s =>
      sb.append(s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},""" +
        s""""parent":${s.parent},"op":${s.op}}""").append('\n')
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8")): Unit
  }
}
