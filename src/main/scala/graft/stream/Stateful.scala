package graft.stream

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.DecimalType

/** SURVEY §2.2-I stateful streaming behaviors: watermarked window aggs,
  * state-store dedup, stream-static joins, arbitrary per-key state via
  * flatMapGroupsWithState.
  *
  * Each behavior is (a) a reusable transform on an unbounded DataFrame —
  * unit-tested with MemoryStream — and (b) a declared query that drives
  * the real streaming engine (file source, 2-file landing dir,
  * maxFilesPerTrigger=1 → multiple micro-batches → cross-batch state)
  * and lands on a DuckDB-checkable batch result.
  *
  * Reference grounding: R16 event-driven ingest (cft/sourceSystem.yaml:
  * 29-63); R2 idempotent upsert → streaming dedup; R18 audit counters →
  * running stateful counts.
  */
object Stateful {

  // ---- transforms (streaming-agnostic: work on bounded or unbounded) ----

  /** Watermarked tumbling-window count/sum per event type. */
  def tumblingWithWatermark(df: DataFrame): DataFrame =
    df.withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(12, 2))).cast("double").as("sum_val"))
      .select(col("w.start").as("ws"), col("event_type"), col("n"), col("sum_val"))

  /** State-store dedup on event_id, state bounded by the watermark. */
  def dedupWithinWatermark(df: DataFrame): DataFrame =
    df.withWatermark("ts", "30 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream ⋈ static dimension (broadcast at scale). */
  def joinStatic(stream: DataFrame, dim: DataFrame, streamKey: String,
      dimKey: String): DataFrame =
    stream.join(broadcast(dim), stream(streamKey) === dim(dimKey), "inner")

  case class UserEvent(user_id: Long, event_id: Long)
  case class UserCount(user_id: Long, n: Long)

  /** Arbitrary stateful op: running event count per user. State is one
    * Long per key — constant per-key memory at any scale.
    */
  def runningCountPerUser(ds: Dataset[UserEvent]): Dataset[UserCount] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[UserEvent], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          Iterator(UserCount(user, n))
      }
  }

  // ---- transformWithState (Spark 4 arbitrary-state API) ----

  case class UserValue(user_id: Long, value: Double)
  case class UserMinMax(user_id: Long, lo: Double, hi: Double)

  /** Running per-key min/max via the v2 stateful API: typed `ValueState`
    * in the RocksDB state store (queries using this need
    * `spark.sql.streaming.stateStore.providerClass` =
    * `…state.RocksDBStateStoreProvider`). Compared to
    * flatMapGroupsWithState: composable named state variables, TTL
    * support, and timers — the shape long-running 100 TB pipelines want
    * for per-key session/counter state.
    */
  class MinMaxProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, UserValue, UserMinMax] {
    import org.apache.spark.sql.{Encoders, streaming => ss}
    @transient private var state: ss.ValueState[(Double, Double)] = _

    override def init(outputMode: OutputMode, timeMode: ss.TimeMode): Unit =
      state = getHandle.getValueState[(Double, Double)]("minmax",
        Encoders.tuple(Encoders.scalaDouble, Encoders.scalaDouble),
        ss.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[UserValue],
        tv: ss.TimerValues): Iterator[UserMinMax] = {
      val vals = rows.map(_.value).toSeq
      val (lo0, hi0) =
        if (state.exists()) state.get() else (Double.MaxValue, Double.MinValue)
      val lo = math.min(lo0, vals.min)
      val hi = math.max(hi0, vals.max)
      state.update((lo, hi))
      Iterator(UserMinMax(key, lo, hi))
    }
  }

  def runningMinMaxPerUser(ds: Dataset[UserValue]): Dataset[UserMinMax] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user_id)
      .transformWithState(new MinMaxProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  case class StageEvent(user_id: Long, event_type: String, sec: Long)
  case class StageMins(user_id: Long, t_view: Long, t_click: Long, t_purchase: Long)

  /** Streaming funnel state: three per-user FIRST-occurrence timestamps
    * (unix seconds; Long.MaxValue = not seen). Each running min is
    * monotone non-increasing, so the state machine is insensitive to
    * out-of-order arrival WITHIN and ACROSS micro-batches — late events
    * can only move a min earlier, never corrupt the ordering decision,
    * which is deferred to read-out (same min-timestamp semantics as the
    * batch `q_events_funnel`). State per key: three longs, constant at
    * any scale.
    */
  class FunnelProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, StageEvent, StageMins] {
    import org.apache.spark.sql.{Encoders, streaming => ss}
    @transient private var mins: ss.ValueState[(Long, Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: ss.TimeMode): Unit =
      mins = getHandle.getValueState[(Long, Long, Long)]("funnel_mins",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong),
        ss.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[StageEvent],
        tv: ss.TimerValues): Iterator[StageMins] = {
      var (v, c, p) =
        if (mins.exists()) mins.get()
        else (Long.MaxValue, Long.MaxValue, Long.MaxValue)
      rows.foreach { e =>
        e.event_type match {
          case "view"     => v = math.min(v, e.sec)
          case "click"    => c = math.min(c, e.sec)
          case "purchase" => p = math.min(p, e.sec)
          case _          => ()
        }
      }
      mins.update((v, c, p))
      Iterator(StageMins(key, v, c, p))
    }
  }

  def funnelMinsPerUser(ds: Dataset[StageEvent]): Dataset[StageMins] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user_id)
      .transformWithState(new FunnelProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  // ---- declared queries (real streaming runs, oracle-checkable) ----

  /** Streaming file sources need a DIRECTORY; the test tables are single
    * files. Builds a temp landing dir holding `copies` copies of the
    * events file (2 copies + maxFilesPerTrigger=1 → two micro-batches →
    * cross-batch state).
    */
  private val landingDirs =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), String]()

  def landingDir(d: String, copies: Int): String =
    // one immutable landing dir per (dataset, copies) per JVM: the file
    // COPIES are fixture, not query work — the bench runs every key
    // twice and re-copying the events file each invocation billed pure
    // fixture I/O to the measured region (each query still runs its own
    // full streaming plan over the dir; nothing result-bearing is cached)
    landingDirs.computeIfAbsent((d, copies), { case (dd, n) =>
      val tmp = Files.createTempDirectory("graft_landing")
      deleteOnExit(tmp.toFile)
      (1 to n).foreach { i =>
        Files.copy(Paths.get(s"$dd/events.parquet"), tmp.resolve(s"copy$i.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
      }
      tmp.toString
    })

  /** Temp landing/checkpoint/sink dirs are per-invocation; register their
    * removal so repeated runs can't fill the disk.
    */
  def deleteOnExit(dir: java.io.File): Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def del(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(del))
        f.delete(): Unit
      }
      del(dir)
    }))

  /** Streaming source over parquet events with ts normalized to a
    * microsecond TIMESTAMP. Same type guard as the batch loader
    * (`Tables.events`): the parquet may surface `ts` as INT64 nanos
    * (`nanosAsLong=true`) or as a timestamp type depending on how the
    * data was written. Unlike the batch path, watermarks REQUIRE
    * TimestampType (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE on NTZ), so a
    * TIMESTAMP_NTZ column is cast — instant-preserving under the
    * session's UTC timezone.
    */
  private def eventStream(s: SparkSession, path: String,
      maxFilesPerTrigger: Option[Int]): DataFrame = {
    val schema = s.read.parquet(path).schema
    val reader = s.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val raw = reader.parquet(path)
    schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampType => raw
      case _ =>
        raw.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }
  }

  /** Scale-adaptive state-store partition count: one state partition per
    * ~8 MB of landing-dir input, clamped to [4, cores]. Stateful
    * operators build their state stores per shuffle partition (a
    * stream-stream join builds FOUR per partition, and the RocksDB-backed
    * keys pay a native store open per partition per batch), so at the
    * driver's bench SF (~6 MB events file) the floor of 4 keeps the
    * store-setup fixed cost low — identical to the prior fixed value, so
    * the driver bench stays comparable. At 100x the same rule spreads the
    * state work across cores instead of serializing 20 M rows through 4
    * stores (round-17 left this a constant; the 100x probe measured the
    * dedup key state-bound at 289 s). Partition count never changes
    * values — state is hash-partitioned by key either way. Sized through
    * the Hadoop FileSystem, so a URI or object-store landing dir counts
    * its bytes like a local one; a missing dir or a plain file counts 0.
    */
  private def statePartitions(s: SparkSession, dir: String): Int = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = graft.catalog.HadoopFs.fs(s, dir)
    val bytes =
      try {
        if (!fs.getFileStatus(path).isDirectory) 0L
        else fs.listStatus(path).filter(_.isFile).map(_.getLen).sum
      } catch { case _: java.io.FileNotFoundException => 0L }
    val cores = s.sparkContext.defaultParallelism
    math.max(4, math.min(cores, (bytes / (8L << 20)).toInt))
  }

  /** Run a streaming DF to completion into a memory sink, return it.
    * The run is scoped to its own shuffle width (see statePartitions);
    * values are partition-count-invariant either way.
    */
  private def runToMemory(s: SparkSession, df: DataFrame, mode: OutputMode,
      parts: Int): DataFrame = withShufflePartitions(s, parts) {
    val name = s"graft_sink_${java.util.UUID.randomUUID.toString.replace("-", "")}"
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    s.table(name)
  }

  /** Watermarked tumbling agg over the stream; update-mode memory sink —
    * for bounded input the final updates equal the batch aggregation.
    */
  private def watermarkLate(s: SparkSession, d: String): DataFrame = {
    val dir = landingDir(d, 1)
    val out = runToMemory(s,
      tumblingWithWatermark(eventStream(s, dir, None)),
      OutputMode.Update, statePartitions(s, dir))
    // update mode may emit a window several times (once per batch that
    // touched it); the last emission per key is the final value — with a
    // single source file there is exactly one batch, hence one emission
    out.groupBy("ws", "event_type")
      .agg(max(col("n")).as("n"), max(col("sum_val")).as("sum_val"))
      .orderBy("ws", "event_type")
  }

  /** Cross-batch streaming dedup: the landing dir holds the events file
    * TWICE; batch 2's duplicates are eliminated by state (or dropped as
    * late) so exactly one copy survives.
    *
    * Round-18: per-batch partial aggregation in foreachBatch (guide §5,
    * the same fix class as stream_table_tail's in-stream aggregate — a
    * global unwindowed aggregate cannot legally chain after dedup in a
    * streaming plan, so the batch hook is where the reduction lives).
    * The old memory sink drained EVERY deduped event row to the driver
    * and aggregated afterwards; now each micro-batch reduces to one
    * (count, min, max, decimal-sum) partial — count/min/max/decimal-sum
    * merge exactly, so the summary is value-identical while the driver
    * holds one row per batch.
    */
  private def dedupState(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = landingDir(d, 2)
    val deduped = dedupWithinWatermark(eventStream(s, dir, Some(1)))
    val partials = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, Option[Long], Option[Long], Option[java.math.BigDecimal])]()
    withShufflePartitions(s, statePartitions(s, dir)) {
      val q = deduped.writeStream
        .outputMode(OutputMode.Append)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val r = batch.agg(
            count(lit(1)).as("n"),
            min(col("event_id")).as("lo"),
            max(col("event_id")).as("hi"),
            sum(col("value").cast(DecimalType(12, 2))).as("sdec")).head()
          partials.add((r.getLong(0),
            if (r.isNullAt(1)) None else Some(r.getLong(1)),
            if (r.isNullAt(2)) None else Some(r.getLong(2)),
            if (r.isNullAt(3)) None else Some(r.getDecimal(3))))
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    import scala.jdk.CollectionConverters._
    val ps = partials.asScala.toSeq
    val sd = ps.flatMap(_._4)
    // merged exactly like the single global aggregate: counts add, mins/
    // maxes fold, the exact decimal partials add, ONE final cast to double
    Seq((ps.map(_._1).sum,
        ps.flatMap(_._2).minOption,
        ps.flatMap(_._3).maxOption,
        (if (sd.isEmpty) None else Some(sd.reduce(_.add(_)))).map(_.doubleValue)))
      .toDF("n_rows", "min_id", "max_id", "sum_val")
  }

  /** Stream ⋈ static customer dimension, aggregated per segment. */
  private def staticJoin(s: SparkSession, d: String): DataFrame = {
    val dim = s.read.parquet(s"$d/customer.parquet")
      .filter(col("c_custkey") < 150)
      .select(col("c_custkey"), col("c_mktsegment"))
    val dir = landingDir(d, 1)
    val joined = joinStatic(eventStream(s, dir, None),
      dim, "user_id", "c_custkey")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(12, 2))).cast("double").as("sum_val"))
    runToMemory(s, joined, OutputMode.Complete, statePartitions(s, dir))
      .orderBy("c_mktsegment")
  }

  /** Running per-user count across TWO micro-batches (the 2-copy landing
    * dir): final state per user = 2 × its batch count.
    */
  private def statefulCount(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = landingDir(d, 2)
    val src = eventStream(s, dir, Some(1))
      .select(col("user_id"), col("event_id")).as[UserEvent]
    val out = runToMemory(s, runningCountPerUser(src).toDF(), OutputMode.Update,
      statePartitions(s, dir))
    // update mode emits one row per (user, batch); the running count is
    // monotone, so max = final
    out.groupBy("user_id").agg(max(col("n")).as("n_events"))
      .orderBy("user_id")
  }

  /** Running per-user min/max through the v2 arbitrary-state API
    * (`transformWithState` + RocksDB store) across TWO micro-batches.
    * Update mode emits one row per (user, batch); lo is monotone down and
    * hi monotone up, so min(lo)/max(hi) over emissions = final state.
    * min/max involve no arithmetic — exact doubles, oracle-checkable.
    */
  private def minMaxState(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(key)
    s.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val dir = landingDir(d, 2)
      val src = eventStream(s, dir, Some(1))
        .select(col("user_id"), col("value")).as[UserValue]
      val out = runToMemory(s, runningMinMaxPerUser(src).toDF(), OutputMode.Update,
        statePartitions(s, dir))
      out.groupBy("user_id")
        .agg(min(col("lo")).as("min_val"), max(col("hi")).as("max_val"))
        .orderBy("user_id")
    } finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  /** Streaming ordered funnel across TWO micro-batches: per-user first
    * view/click/purchase seconds maintained in `transformWithState`
    * (RocksDB store), stage decided at read-out with the exact
    * `q_events_funnel` ordering rule — the same answer the batch query
    * gives, computed incrementally as events land. Update mode emits a
    * row per (user, batch); each min is monotone down, so min-over-
    * emissions = final state.
    */
  private def funnelState(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(key)
    s.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // every event type flows through: a user with no funnel events at
      // all must still surface as stage 0, exactly like the batch query
      val dir = landingDir(d, 2)
      val src = eventStream(s, dir, Some(1))
        .select(col("user_id"), col("event_type"),
          unix_timestamp(date_trunc("second", col("ts"))).as("sec"))
        .as[StageEvent]
      val out = runToMemory(s, funnelMinsPerUser(src).toDF(), OutputMode.Update,
        statePartitions(s, dir))
      val none = Long.MaxValue
      out.groupBy("user_id")
        .agg(min(col("t_view")).as("v"), min(col("t_click")).as("c"),
          min(col("t_purchase")).as("p"))
        .select(
          when(col("v") === none, 0)
            .when(col("c") === none || col("c") <= col("v"), 1)
            .when(col("p") === none || col("p") <= col("c"), 2)
            .otherwise(3).as("stage"))
        .groupBy(col("stage"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("stage"))
    } finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  /** Stream-stream inner join: per-user click→purchase attribution
    * within a 1-hour window, BOTH sides watermarked streams — the
    * two-sided state-store join (each side buffers rows until the other
    * side's watermark passes the time-range bound, then evicts). The
    * time-range predicate is what makes state finite at 100 TB/day: the
    * store holds ~2 hours of both streams per key, not history. Second
    * truncation on both engines keeps the boundary comparison exact.
    */
  private def streamStreamJoin(s: SparkSession, d: String): DataFrame = {
    val src = landingDir(d, 1)
    def side() = eventStream(s, src, None)
      .withColumn("ts", date_trunc("second", col("ts")))
    val clicks = side().filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "2 hours")
    val buys = side().filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("value").as("p_value"))
      .withWatermark("p_ts", "2 hours")
    val joined = clicks.join(buys,
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"))
    runToMemory(s, joined, OutputMode.Append, statePartitions(s, src))
      .groupBy(col("c_user").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("p_value").cast(DecimalType(12, 2))).cast("double")
          .as("sum_purchase"))
      .orderBy("user_id")
  }

  /** Scope `spark.sql.shuffle.partitions` around a streaming run: the
    * value at FIRST start fixes a streaming query's state-store partition
    * count for its checkpoint lifetime, so per-query sizing belongs here,
    * not in the session default. Restores the previous value after.
    */
  private def withShufflePartitions[A](s: SparkSession, n: Int)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, n.toString)
    try body finally s.conf.set(key, prev)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_watermark_late" -> watermarkLate _,
    "stream_dedup_state"    -> dedupState _,
    "stream_static_join"    -> staticJoin _,
    "stream_stateful_count" -> statefulCount _,
    "stream_minmax_state"   -> minMaxState _,
    "stream_stream_join"    -> streamStreamJoin _,
    "stream_funnel_state"   -> funnelState _,
  )

  val oracle: Map[String, String] = Map(
    "stream_watermark_late" ->
      """SELECT date_trunc('hour', date_trunc('second', ts)) AS ws, event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_val
        |FROM events GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin,
    "stream_dedup_state" ->
      """SELECT count(*) AS n_rows, min(event_id) AS min_id, max(event_id) AS max_id,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_val
        |FROM events""".stripMargin,
    "stream_static_join" ->
      """SELECT c.c_mktsegment, count(*) AS n,
        |  CAST(sum(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE) AS sum_val
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |WHERE c.c_custkey < 150
        |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin,
    "stream_stateful_count" ->
      """SELECT user_id, 2 * count(*) AS n_events
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "stream_minmax_state" ->
      """SELECT user_id, min(value) AS min_val, max(value) AS max_val
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "stream_funnel_state" ->
      """WITH per_user AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view'
        |             THEN date_trunc('second', ts) END) AS t_view,
        |    min(CASE WHEN event_type = 'click'
        |             THEN date_trunc('second', ts) END) AS t_click,
        |    min(CASE WHEN event_type = 'purchase'
        |             THEN date_trunc('second', ts) END) AS t_purchase
        |  FROM events GROUP BY user_id)
        |SELECT stage, count(*) AS n_users FROM (
        |  SELECT CASE WHEN t_view IS NULL THEN 0
        |              WHEN t_click IS NULL OR t_click <= t_view THEN 1
        |              WHEN t_purchase IS NULL OR t_purchase <= t_click THEN 2
        |              ELSE 3 END AS stage
        |  FROM per_user) GROUP BY stage ORDER BY stage""".stripMargin,
    "stream_stream_join" ->
      """WITH e AS (SELECT user_id, event_type, date_trunc('second', ts) AS ts, value
        |           FROM events),
        |c AS (SELECT user_id, ts FROM e WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts, value FROM e WHERE event_type = 'purchase')
        |SELECT c.user_id, count(*) AS n_pairs,
        |  CAST(sum(CAST(p.value AS DECIMAL(12,2))) AS DOUBLE) AS sum_purchase
        |FROM c JOIN p ON c.user_id = p.user_id
        |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        |GROUP BY c.user_id ORDER BY c.user_id""".stripMargin,
  )
}
