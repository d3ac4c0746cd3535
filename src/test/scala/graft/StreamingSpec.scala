package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.stream.Stateful

/** MemoryStream-driven tests of the stateful streaming behaviors
  * (SURVEY §5.2.4): watermark late-drop, state-store dedup, stream-static
  * join, and arbitrary per-key state — batch-by-batch assertions that the
  * file-source declared queries can't express.
  */
class StreamingSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def runBatches[T](q: org.apache.spark.sql.streaming.StreamingQuery,
      stream: MemoryStream[T], batches: Seq[Seq[T]]): Unit = {
    batches.foreach { b => stream.addData(b); q.processAllAvailable() }
    q.stop()
  }

  test("watermark drops rows later than 30 min behind max ts") {
    val in = MemoryStream[(Timestamp, String, Double)](spark)
    val df = in.toDF().toDF("ts", "event_type", "value")
    val out = Stateful.tumblingWithWatermark(df)
    val q = out.writeStream.format("memory").queryName("wm_test")
      .outputMode(OutputMode.Append()).start()
    runBatches(q, in, Seq(
      Seq((ts("2026-01-01 10:05:00"), "click", 1.0),
          (ts("2026-01-01 12:00:00"), "click", 1.0)),  // advances watermark to 11:30
      Seq((ts("2026-01-01 10:10:00"), "click", 9.0)),  // late: window [10,11) < WM → dropped
      Seq((ts("2026-01-01 13:30:00"), "click", 1.0)))) // advances WM to 13:00, closes 12:00 window
    val rows = spark.table("wm_test")
      .select(col("ws"), col("n")).as[(Timestamp, Long)].collect().toMap
    // the 10:00 window closed with only the on-time row; the late row never appeared
    assert(rows(ts("2026-01-01 10:00:00")) == 1L)
    assert(rows(ts("2026-01-01 12:00:00")) == 1L)
  }

  test("dropDuplicatesWithinWatermark removes cross-batch duplicates") {
    val in = MemoryStream[(Long, Timestamp, Double)](spark)
    val df = in.toDF().toDF("event_id", "ts", "value")
    val q = Stateful.dedupWithinWatermark(df)
      .writeStream.format("memory").queryName("dd_test")
      .outputMode(OutputMode.Append()).start()
    runBatches(q, in, Seq(
      Seq((1L, ts("2026-01-01 10:00:00"), 1.0), (2L, ts("2026-01-01 10:01:00"), 2.0)),
      Seq((1L, ts("2026-01-01 10:02:00"), 1.0),   // dup of event 1 → dropped by state
          (3L, ts("2026-01-01 10:03:00"), 3.0))))
    val ids = spark.table("dd_test").select("event_id").as[Long].collect().sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L))
  }

  test("stream-static join enriches stream rows from the dimension") {
    val dim = Seq((1L, "BUILDING"), (2L, "AUTO")).toDF("k", "segment")
    val in = MemoryStream[(Long, Double)](spark)
    val joined = Stateful.joinStatic(in.toDF().toDF("user_id", "value"), dim, "user_id", "k")
    val q = joined.writeStream.format("memory").queryName("sj_test")
      .outputMode(OutputMode.Append()).start()
    runBatches(q, in, Seq(Seq((1L, 5.0), (9L, 7.0))))  // 9 has no dim row → inner-join drop
    val rows = spark.table("sj_test").select("user_id", "segment")
      .as[(Long, String)].collect()
    assert(rows.toSeq == Seq((1L, "BUILDING")))
  }

  test("transformWithState keeps running min/max per key across batches") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[Stateful.UserValue](spark)
      val q = Stateful.runningMinMaxPerUser(in.toDS())
        .toDF().writeStream.format("memory").queryName("tws_test")
        .outputMode(OutputMode.Update()).start()
      runBatches(q, in, Seq(
        Seq(Stateful.UserValue(5L, 3.0), Stateful.UserValue(5L, 9.0)),
        Seq(Stateful.UserValue(5L, 1.0))))
      val rows = spark.table("tws_test").select("user_id", "lo", "hi")
        .as[(Long, Double, Double)].collect()
      assert(rows.contains((5L, 3.0, 9.0)))   // after batch 1
      assert(rows.contains((5L, 1.0, 9.0)))   // state carried into batch 2
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("funnel state machine tolerates out-of-order and cross-batch events") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[Stateful.StageEvent](spark)
      val q = Stateful.funnelMinsPerUser(in.toDS())
        .toDF().writeStream.format("memory").queryName("funnel_test")
        .outputMode(OutputMode.Update()).start()
      // user 1: purchase arrives FIRST (out of order), then click, then a
      // late view in a later batch that lands BEFORE the click — the
      // running mins must settle to (view=5, click=20, purchase=30)
      runBatches(q, in, Seq(
        Seq(Stateful.StageEvent(1L, "purchase", 30L),
          Stateful.StageEvent(1L, "click", 20L)),
        Seq(Stateful.StageEvent(1L, "view", 5L),
          Stateful.StageEvent(1L, "signup", 1L)),   // non-funnel type ignored
        Seq(Stateful.StageEvent(1L, "click", 25L)))) // later click can't raise the min
      val rows = spark.table("funnel_test")
        .select("user_id", "t_view", "t_click", "t_purchase")
        .as[(Long, Long, Long, Long)].collect()
      assert(rows.contains((1L, Long.MaxValue, 20L, 30L)))  // after batch 1
      assert(rows.contains((1L, 5L, 20L, 30L)))             // late view folded in
      // final emission still (5, 20, 30): batch-3 click=25 is ignored
      assert(rows.count(_ == ((1L, 5L, 20L, 30L))) == 2)
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("transformWithState resumes its state from the checkpoint across query restarts") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val landing = java.nio.file.Files.createTempDirectory("graft_restart_src")
      val work = java.nio.file.Files.createTempDirectory("graft_restart")
      Seq(landing, work).foreach(d => Stateful.deleteOnExit(d.toFile))
      val chk = s"$work/chk"

      // stage one parquet file of UserValue rows into the landing dir
      def dropFile(name: String, rows: Seq[Stateful.UserValue]): Unit = {
        val stage = java.nio.file.Files.createTempDirectory("graft_restart_stage")
        Stateful.deleteOnExit(stage.toFile)
        rows.toDS().coalesce(1).write.mode("overwrite").parquet(stage.toString)
        val part = stage.toFile.listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        java.nio.file.Files.move(part.toPath, landing.resolve(name)): Unit
      }

      // a COMPLETELY fresh query instance per run — new source, new
      // processor, new sink dir; only the checkpoint dir is shared
      def runQuery(outDir: String): Unit = {
        val schema = org.apache.spark.sql.Encoders.product[Stateful.UserValue].schema
        val src = spark.readStream.schema(schema).parquet(landing.toString)
          .as[Stateful.UserValue]
        val sink: (org.apache.spark.sql.DataFrame, Long) => Unit =
          (b, _) => b.write.mode("append").parquet(outDir)
        val q = Stateful.runningMinMaxPerUser(src).toDF()
          .writeStream
          .foreachBatch(sink)
          .outputMode(OutputMode.Update())
          .option("checkpointLocation", chk)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }

      dropFile("f1.parquet", Seq(Stateful.UserValue(5L, 3.0), Stateful.UserValue(5L, 9.0)))
      runQuery(s"$work/out1")
      val run1 = spark.read.parquet(s"$work/out1")
        .select("user_id", "lo", "hi").as[(Long, Double, Double)].collect().toSet
      assert(run1 == Set((5L, 3.0, 9.0)))

      // the first query is gone; land a new file and start a NEW query
      // from the same checkpoint — it must see ONLY the new file (source
      // progress restored) and carry user 5's min/max (state restored)
      dropFile("f2.parquet", Seq(Stateful.UserValue(5L, 1.0), Stateful.UserValue(6L, 4.0)))
      runQuery(s"$work/out2")
      val run2 = spark.read.parquet(s"$work/out2")
        .select("user_id", "lo", "hi").as[(Long, Double, Double)].collect().toSet
      // hi = 9.0 can only come from the checkpointed state: 9.0 is not in f2
      assert(run2 == Set((5L, 1.0, 9.0), (6L, 4.0, 4.0)))
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("funnel state machine resumes its mins from the checkpoint across query restarts") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val landing = java.nio.file.Files.createTempDirectory("graft_funrestart_src")
      val work = java.nio.file.Files.createTempDirectory("graft_funrestart")
      Seq(landing, work).foreach(d => Stateful.deleteOnExit(d.toFile))
      val chk = s"$work/chk"

      def dropFile(name: String, rows: Seq[Stateful.StageEvent]): Unit = {
        val stage = java.nio.file.Files.createTempDirectory("graft_funrestart_stage")
        Stateful.deleteOnExit(stage.toFile)
        rows.toDS().coalesce(1).write.mode("overwrite").parquet(stage.toString)
        val part = stage.toFile.listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        java.nio.file.Files.move(part.toPath, landing.resolve(name)): Unit
      }

      def runQuery(outDir: String): Unit = {
        val schema = org.apache.spark.sql.Encoders.product[Stateful.StageEvent].schema
        val src = spark.readStream.schema(schema).parquet(landing.toString)
          .as[Stateful.StageEvent]
        val sink: (org.apache.spark.sql.DataFrame, Long) => Unit =
          (b, _) => b.write.mode("append").parquet(outDir)
        val q = Stateful.funnelMinsPerUser(src).toDF()
          .writeStream
          .foreachBatch(sink)
          .outputMode(OutputMode.Update())
          .option("checkpointLocation", chk)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }

      dropFile("f1.parquet", Seq(Stateful.StageEvent(1L, "view", 10L)))
      runQuery(s"$work/out1")
      // second query instance: the purchase lands; the view min (10) can
      // only come from the restored checkpoint — it is not in f2
      dropFile("f2.parquet", Seq(Stateful.StageEvent(1L, "purchase", 40L)))
      runQuery(s"$work/out2")
      val last = spark.read.parquet(s"$work/out2")
        .select("user_id", "t_view", "t_click", "t_purchase")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(last == Set((1L, 10L, Long.MaxValue, 40L)))
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("foreachBatch upsert sink: re-delivered batches stay idempotent per key") {
    val d = sfDir
    val landing = Stateful.landingDir(d, 2)   // same events file twice → 2 batches
    val tmp = java.nio.file.Files.createTempDirectory("graft_upsert")
    Stateful.deleteOnExit(tmp.toFile)
    val out = graft.stream.Ingest.ingestUpsert(spark, landing,
      s"$tmp/table", s"$tmp/chk", "event_id")
    val expected = spark.read.parquet(s"$d/events.parquet").count()
    assert(out.count() == expected)   // batch 2 replaced, not duplicated
    assert(out.groupBy("event_id").count()
      .filter(org.apache.spark.sql.functions.col("count") > 1).count() == 0)
  }

  test("foreachBatch rollup sink maintains a merged materialized view, idempotent per batch") {
    val d = sfDir
    val landing = Stateful.landingDir(d, 2)   // two copies → two merge batches
    val tmp = java.nio.file.Files.createTempDirectory("graft_rollup")
    Stateful.deleteOnExit(tmp.toFile)
    val out = graft.stream.Ingest.maintainRollup(
      spark, landing, s"$tmp/rollup", s"$tmp/chk")
    val got = out.select(col("event_type"), col("n"),
        col("sum_val").cast("double"))
      .as[(String, Long, Double)].collect().sortBy(_._1).toSeq
    // the maintained rollup equals the batch aggregation of BOTH copies
    val expect = spark.read.parquet(s"$d/events.parquet")
      .groupBy(col("event_type"))
      .agg((count(lit(1)) * 2).as("n"),
        (sum(col("value").cast(org.apache.spark.sql.types.DecimalType(12, 2))) * 2)
          .cast("double").as("sum_val"))
      .as[(String, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got == expect)
    // re-delivering an already-applied batch id must be a no-op
    val log = new graft.catalog.CommitLog(spark, s"$tmp/rollup")
    val before = log.currentVersion
    graft.stream.Ingest.mergeRollupBatch(log, spark.read.parquet(landing), 0L)
    assert(log.currentVersion == before)
  }

  test("forced micro-batch retry across a restart: txn commits keep the table exactly-once") {
    // the crash window under test: the batch's rows COMMIT to the table,
    // then the query dies before the streaming checkpoint records the
    // batch — on restart the engine MUST replay it (at-least-once), and
    // the #txn header in the same manifest publish must turn the replay
    // into a no-op (exactly-once at the table)
    val tmp = java.nio.file.Files.createTempDirectory("graft_retry")
    Stateful.deleteOnExit(tmp.toFile)
    val table = s"$tmp/table"
    val chk = s"$tmp/chk"
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val in = MemoryStream[Long](spark)
    def start() = in.toDF().toDF("k").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val log = new graft.catalog.CommitLog(spark, table)
        log.commit(batch, replace = false, Some(s"ingest-$id")): Unit
        if (id == 1L && !crashed.getAndSet(true))
          throw new RuntimeException("injected crash after table commit, before checkpoint")
      }
      .option("checkpointLocation", chk)
      .start()
    val q1 = start()
    in.addData(1L, 2L, 3L)          // batch 0: clean
    q1.processAllAvailable()
    in.addData(4L, 5L)              // batch 1: commits, then the query dies
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      in.addData(6L)                // ensure the engine keeps pulling
      q1.awaitTermination()
    }
    val log = new graft.catalog.CommitLog(spark, table)
    val afterCrash = log.read().as[Long].collect().sorted.toSeq
    assert(afterCrash.contains(4L) && afterCrash.contains(5L),
      s"batch 1 must have committed before the crash: $afterCrash")
    val q2 = start()                // same checkpoint: batch 1 replays
    q2.processAllAvailable()
    q2.stop()
    val rows = log.read().as[Long].collect().sorted.toSeq
    assert(rows == Seq(1L, 2L, 3L, 4L, 5L, 6L),
      s"replayed batch must not duplicate rows: $rows")
    // the replay was genuinely redelivered: its txn id appears exactly once
    assert(log.txns(log.currentVersion.get).count(_ == "ingest-1") == 1)
  }

  test("flatMapGroupsWithState keeps a running per-key count across batches") {
    val in = MemoryStream[Stateful.UserEvent](spark)
    val q = Stateful.runningCountPerUser(in.toDS())
      .toDF().writeStream.format("memory").queryName("st_test")
      .outputMode(OutputMode.Update()).start()
    runBatches(q, in, Seq(
      Seq(Stateful.UserEvent(7L, 1L), Stateful.UserEvent(7L, 2L)),
      Seq(Stateful.UserEvent(7L, 3L))))
    val counts = spark.table("st_test").select("user_id", "n")
      .as[(Long, Long)].collect()
    assert(counts.contains((7L, 2L)) && counts.contains((7L, 3L)))
  }
}
