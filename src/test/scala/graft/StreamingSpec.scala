package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.scalatest.funsuite.AnyFunSuite

/** Multi-batch streaming semantics that the oracle rows can't observe
  * (SURVEY.md §5b item 4): ST9 late-data dropping beyond the watermark,
  * cross-batch stateful accumulation, cross-batch streaming dedup.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("st16 CDC apply resolution: one-pass merge source matches CDC semantics") {
    // Every resolution class in one batch: plain insert (k=1), paired
    // update (k=2: pre+post -> postimage wins), plain delete (k=3),
    // key-CHANGING update (k=4 preimage only -> delete; k=5 postimage
    // only -> upsert), and the provenance-less rewrite's unpaired
    // delete+insert of the SAME key (k=6 -> net upsert, never a
    // delete). The one-aggregation form must resolve each key exactly
    // once, identically to the ups/except/union pipeline it replaced.
    val batch = Seq(
      (1L, "A", 10.0, "insert"),
      (2L, "B", 20.0, "update_preimage"),
      (2L, "B", 25.0, "update_postimage"),
      (3L, "C", 30.0, "delete"),
      (4L, "D", 40.0, "update_preimage"),
      (5L, "E", 55.0, "update_postimage"),
      (6L, "F", 60.0, "delete"),
      (6L, "F", 66.0, "insert")
    ).toDF("k", "seg", "bal", "_change_type")
    val got = graft.queries.StreamingQueries.cdcMergeSource(batch)
      .as[(Long, Option[String], Option[Double], Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == Map(
      1L -> ((Some("A"), Some(10.0), false)),
      2L -> ((Some("B"), Some(25.0), false)),
      3L -> ((None, None, true)),
      4L -> ((None, None, true)),
      5L -> ((Some("E"), Some(55.0), false)),
      6L -> ((Some("F"), Some(66.0), false))))
  }

  test("ST9: rows older than the watermark are dropped (append window agg)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Double)]
    val agg = in.toDF().toDF("ts", "value")
      .withWatermark("ts", "5 minutes")
      .groupBy(window($"ts", "10 minutes"))
      .agg(count(lit(1)).as("n"))
      .select($"window.start".as("win"), $"n")
    val q = agg.writeStream.format("memory").queryName("st9_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      // Batch 1: fill the 10:00 window, then advance event time to 10:21
      // so the watermark (max 21 - 5 = 10:16) passes the window end 10:10
      // and the finalized window is emitted.
      in.addData((ts(1), 1.0), (ts(4), 1.0), (ts(21), 1.0))
      q.processAllAvailable()
      // Batch 2: a row at 10:02 is 14 min behind the watermark → dropped.
      in.addData((ts(2), 99.0))
      q.processAllAvailable()
      in.addData((ts(40), 1.0)) // push watermark far past everything
      q.processAllAvailable()
      val wins = spark.table("st9_sink").as[(Timestamp, Long)].collect().toMap
      assert(wins(Timestamp.valueOf("2024-01-01 10:00:00")) == 2L,
        s"late row must not be counted; got $wins")
    } finally q.stop()
  }

  test("ST13: chained join->window agg admits late-but-in-watermark rows, drops expired ones") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, Timestamp)]
    val evs = in.toDF().toDF("user_id", "event_type", "ts")
    val views = evs.filter($"event_type" === "view")
      .select($"user_id".as("v_user"), $"ts".as("v_ts"))
      .withWatermark("v_ts", "5 minutes")
    val clicks = evs.filter($"event_type" === "click")
      .select($"user_id".as("c_user"), $"ts".as("c_ts"))
      .withWatermark("c_ts", "5 minutes")
    // Two stateful operators chained in one streaming query: interval
    // join, then a tumbling window over the join output's event time.
    val agg = views.join(
        clicks,
        $"v_user" === $"c_user" && $"c_ts" > $"v_ts" &&
          $"c_ts" <= $"v_ts" + expr("INTERVAL 10 MINUTES"))
      .groupBy(window($"c_ts", "10 minutes"))
      .agg(count(lit(1)).as("n_pairs"))
      .select($"window.start".as("win"), $"n_pairs")
    val q = agg.writeStream.format("memory").queryName("st13_test_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      // Batch 1: two complete pairs in the 10:00 window; max event time
      // 10:04 keeps the watermark (10:04 - 5m) before the window end, so
      // nothing emits yet.
      in.addData((1L, "view", ts(0)), (1L, "click", ts(2)),
                 (2L, "view", ts(1)), (2L, "click", ts(4)))
      q.processAllAvailable()
      // Batch 2: a LATE click at 10:03 — behind max-seen event time but
      // inside the 5-minute watermark delay → must still join and count.
      in.addData((1L, "click", ts(3)))
      q.processAllAvailable()
      // Batch 3: sentinels push both sides' watermarks past everything;
      // the finalized 10:00 window emits with all three pairs.
      in.addData((99L, "view", ts(50)), (99L, "click", ts(50)))
      q.processAllAvailable()
      val wins = spark.table("st13_test_sink").as[(Timestamp, Long)].collect().toMap
      assert(wins.get(Timestamp.valueOf("2024-01-01 10:00:00")).contains(3L),
        s"late-but-admissible click must be joined and windowed; got $wins")
      // Batch 4: a click at 10:05 is now far behind the watermark
      // (10:45) → dropped by BOTH stateful operators; no new window row.
      in.addData((2L, "click", ts(5)))
      q.processAllAvailable()
      val after = spark.table("st13_test_sink").as[(Timestamp, Long)].collect().toMap
      assert(after == wins, s"expired row must be dropped, got $after vs $wins")
    } finally q.stop()
  }

  test("ST6: mapGroupsWithState accumulates across batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Int)]
    val counts = in.toDS()
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (k: String, rows: Iterator[(String, Int)], st: GroupState[Int]) =>
          val n = st.getOption.getOrElse(0) + rows.map(_._2).sum
          st.update(n)
          (k, n)
      }
    val q = counts.toDF("k", "n").writeStream.format("memory")
      .queryName("st6_test_sink").outputMode(OutputMode.Update()).start()
    try {
      in.addData(("a", 1), ("a", 2), ("b", 5))
      q.processAllAvailable()
      in.addData(("a", 4))
      q.processAllAvailable()
      val last = spark.table("st6_test_sink").groupBy($"k").agg(max($"n").as("n"))
        .as[(String, Long)].collect().toMap
      assert(last == Map("a" -> 7L, "b" -> 5L))
    } finally q.stop()
  }

  test("ST5: streaming dedup keeps one row per key across batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val dedup = in.toDF().toDF("ts", "id")
      .withWatermark("ts", "10 minutes")
      .dropDuplicates("id")
    val q = dedup.writeStream.format("memory").queryName("st5_test_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData((ts(1), 1L), (ts(2), 1L), (ts(3), 2L))
      q.processAllAvailable()
      in.addData((ts(4), 1L), (ts(5), 3L)) // 1 is a cross-batch duplicate
      q.processAllAvailable()
      val ids = spark.table("st5_test_sink").select($"id").as[Long].collect().toSeq
      assert(ids.sorted == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("ST5: dropDuplicatesWithinWatermark evicts key state once the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val dedup = in.toDF().toDF("ts", "id")
      .withWatermark("ts", "5 minutes")
      .dropDuplicatesWithinWatermark("id")
    val q = dedup.writeStream.format("memory").queryName("st5_wm_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      // Batch 1: id=1 emitted; a same-batch duplicate collapses.
      in.addData((ts(1), 1L), (ts(2), 1L))
      q.processAllAvailable()
      // Batch 2: advance the watermark to 10:25 (30 - 5), far past
      // id=1's expiry (event 10:01 + 5 min delay = 10:06) → its state
      // is EVICTED, not retained forever (the unbounded-state failure
      // mode of plain dropDuplicates this operator exists to fix).
      in.addData((ts(30), 2L))
      q.processAllAvailable()
      // Batch 3: id=1 re-arrives above the watermark. With its state
      // evicted it is emitted AGAIN — bounded state, not global dedup.
      in.addData((ts(31), 1L))
      q.processAllAvailable()
      val ids = spark.table("st5_wm_sink").select($"id").as[Long].collect().toSeq
      assert(ids.sorted == Seq(1L, 1L, 2L),
        s"expected re-emission after eviction, got $ids")
      // And the state store itself is bounded: the final batch holds
      // state only for keys the watermark hasn't passed.
      val progress = q.lastProgress
      val stateRows = progress.stateOperators.head.numRowsTotal
      assert(stateRows <= 2, s"state not evicted: $stateRows rows retained")
    } finally q.stop()
  }

  test("S5: streaming parquet sink with checkpoint persists exactly-once") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val outDir = java.nio.file.Files.createTempDirectory("graft_s5_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_s5_ckpt").toString
    val q = in.toDF().toDF("ts", "id")
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData((ts(1), 1L), (ts(2), 2L))
      q.processAllAvailable()
      in.addData((ts(3), 3L))
      q.processAllAvailable()
      val back = spark.read.parquet(outDir)
      assert(back.count() == 3)
      assert(back.select($"id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("S5c: foreachBatch + catalog DELETE is an idempotent streaming sink") {
    // The canonical exactly-once foreachBatch recipe: tag rows with the
    // batch id, DELETE any prior rows of that batch id (a replayed batch
    // after failure), then append — replays become no-ops. Composes the
    // streaming escape hatch with the catalog's SupportsDelete.
    implicit val sqlCtx = spark.sqlContext
    spark.sql("DROP TABLE IF EXISTS graft.fb.sink")
    spark.sql("CREATE TABLE graft.fb.sink (k BIGINT, batch_id BIGINT) USING graft")
    val in = MemoryStream[Long]
    def writeBatch(df: org.apache.spark.sql.DataFrame, id: Long): Unit = {
      spark.sql(s"DELETE FROM graft.fb.sink WHERE batch_id = $id")
      df.withColumn("batch_id", lit(id))
        .writeTo("graft.fb.sink").append()
    }
    val q = in.toDF().toDF("k")
      .writeStream.foreachBatch(writeBatch _)
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(1L, 2L)
      q.processAllAvailable()
      in.addData(3L)
      q.processAllAvailable()
      assert(spark.sql("SELECT k FROM graft.fb.sink").as[Long].collect().sorted.toSeq ==
        Seq(1L, 2L, 3L))
      // Simulate a batch replay: re-running batch 1's body must not dupe.
      writeBatch(Seq(3L).toDF("k"), 1L)
      assert(spark.sql("SELECT k FROM graft.fb.sink").as[Long].collect().sorted.toSeq ==
        Seq(1L, 2L, 3L))
    } finally {
      q.stop()
      spark.sql("DROP TABLE graft.fb.sink")
    }
  }

  test("S5d: native streaming write to a catalog table (toTable) commits per epoch") {
    implicit val sqlCtx = spark.sqlContext
    spark.sql("DROP TABLE IF EXISTS graft.stw.t")
    spark.sql("CREATE TABLE graft.stw.t (k BIGINT) USING graft")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_s5d_ckpt").toString
    val in = MemoryStream[Long]
    val q = in.toDF().toDF("k").writeStream
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append())
      .toTable("graft.stw.t")
    try {
      in.addData(1L, 2L)
      q.processAllAvailable()
      in.addData(3L)
      q.processAllAvailable()
      assert(spark.sql("SELECT k FROM graft.stw.t").as[Long].collect().sorted.toSeq ==
        Seq(1L, 2L, 3L))
    } finally q.stop()
    // A SECOND independent query (fresh checkpoint, epochs from 0 again)
    // appending to the same table must not be deduped against the first
    // query's epoch watermark.
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft_s5d_ckpt2").toString
    val in2 = MemoryStream[Long]
    val q2 = in2.toDF().toDF("k").writeStream
      .option("checkpointLocation", ckpt2)
      .outputMode(OutputMode.Append())
      .toTable("graft.stw.t")
    try {
      in2.addData(10L)
      q2.processAllAvailable()
      assert(spark.sql("SELECT k FROM graft.stw.t").as[Long].collect().sorted.toSeq ==
        Seq(1L, 2L, 3L, 10L))
    } finally {
      q2.stop()
      spark.sql("DROP TABLE graft.stw.t")
    }
  }

  test("ST6b: transformWithState (Spark 4 arbitrary-stateful API) accumulates via ValueState") {
    // The successor API to mapGroupsWithState: typed per-key state
    // handles (ValueState/ListState/MapState), timers, and TTL —
    // requires the RocksDB state store provider.
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val in = MemoryStream[(String, Int)]
    class RunningSum extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Int), (String, Long)] {
      @transient private var sum: org.apache.spark.sql.streaming.ValueState[Long] = _
      override def init(
          outputMode: OutputMode,
          timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
        sum = getHandle.getValueState[Long]("sum",
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.streaming.TTLConfig.NONE)
      override def handleInputRows(
          key: String,
          rows: Iterator[(String, Int)],
          timers: org.apache.spark.sql.streaming.TimerValues): Iterator[(String, Long)] = {
        val n = (if (sum.exists()) sum.get() else 0L) + rows.map(_._2).sum
        sum.update(n)
        Iterator.single((key, n))
      }
    }
    val out = in.toDS()
      .groupByKey(_._1)
      .transformWithState(new RunningSum,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update(),
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.STRING, org.apache.spark.sql.Encoders.scalaLong))
    val q = out.toDF("k", "n").writeStream.format("memory")
      .queryName("tws_sink").outputMode(OutputMode.Update()).start()
    try {
      in.addData(("a", 1), ("a", 2), ("b", 5))
      q.processAllAvailable()
      in.addData(("a", 4))
      q.processAllAvailable()
      val last = spark.table("tws_sink").groupBy($"k").agg(max($"n").as("n"))
        .as[(String, Long)].collect().toMap
      assert(last == Map("a" -> 7L, "b" -> 5L))
    } finally {
      q.stop()
      spark.catalog.dropTempView("tws_sink")
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("ST6c: event-time timers flush trailing sessions across batches; fired state clears") {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val in = MemoryStream[(Timestamp, Long, Double)]
    val sessions = in.toDF().toDF("ts", "user", "value")
      .withWatermark("ts", "5 minutes")
      .selectExpr("user", "unix_micros(ts) AS ts_us", "value")
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .transformWithState(
        new graft.queries.SessionTimerProcessor(
          gapUs = 10L * 60 * 1000 * 1000, ttl = None),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append(),
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaDouble))
      .toDF("user", "n_events", "sum_value")
    val q = sessions.writeStream.format("memory")
      .queryName("st6c_sink").outputMode(OutputMode.Append()).start()
    def got: Set[(Long, Long, Double)] =
      spark.table("st6c_sink").as[(Long, Long, Double)].collect().toSet
    try {
      // Batch 1: open sessions for users 1 and 2; nothing emits
      // (watermark 10:02-5min=09:57 precedes every timer).
      in.addData((ts(0), 1L, 1.0), (ts(2), 1L, 2.0), (ts(1), 2L, 10.0))
      q.processAllAvailable()
      assert(got == Set.empty)
      // Batch 2: user 1's 10:40 event closes session A BY DATA (gap
      // observed); user 2's late-but-in-watermark 10:03 event extends
      // the open session. The new watermark (10:40-5min=10:35) then
      // passes user 2's timer (10:03+10min) -> timer flush, state
      // cleared. User 1's trailing session (timer 10:50) stays open.
      in.addData((ts(40), 1L, 4.0), (ts(3), 2L, 20.0))
      q.processAllAvailable()
      assert(got == Set((1L, 2L, 3.0), (2L, 2L, 30.0)),
        s"data-closed session + timer-flushed session, got $got")
      // Fired state CLEARED: user 2's next session starts fresh —
      // closing it by data shows 1 event, not 3.
      in.addData((Timestamp.valueOf("2024-01-01 11:30:00"), 2L, 50.0))
      q.processAllAvailable()
      in.addData((Timestamp.valueOf("2024-01-01 12:00:00"), 2L, 60.0))
      q.processAllAvailable()
      assert(got.contains((2L, 1L, 50.0)),
        s"state must clear on timer fire; got $got")
    } finally {
      q.stop()
      spark.catalog.dropTempView("st6c_sink")
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("ST6c TTL: an expired state value is gone — the next batch starts from zero") {
    // Spark allows state TTL only in TimeMode.ProcessingTime, so the
    // TTL surface gets its own processing-time processor: a running
    // sum whose state expires after 50 ms of wall clock.
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val in = MemoryStream[(String, Int)]
    class TtlSum extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Int), (String, Long)] {
      @transient private var sum: org.apache.spark.sql.streaming.ValueState[Long] = _
      override def init(
          outputMode: OutputMode,
          timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
        sum = getHandle.getValueState[Long]("sum",
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.streaming.TTLConfig(java.time.Duration.ofMillis(50)))
      override def handleInputRows(
          key: String,
          rows: Iterator[(String, Int)],
          timers: org.apache.spark.sql.streaming.TimerValues): Iterator[(String, Long)] = {
        val n = (if (sum.exists()) sum.get() else 0L) + rows.map(_._2).sum
        sum.update(n)
        Iterator.single((key, n))
      }
    }
    val out = in.toDS()
      .groupByKey(_._1)
      .transformWithState(new TtlSum,
        org.apache.spark.sql.streaming.TimeMode.ProcessingTime(), OutputMode.Update(),
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.STRING, org.apache.spark.sql.Encoders.scalaLong))
    // A ProcessingTime-mode transformWithState stream re-triggers
    // batches continuously (shouldRunAnotherBatch is always true —
    // processing time must advance for TTL/timers), so NEITHER
    // processAllAvailable NOR Trigger.AvailableNow ever settles.
    // Drive it as two short-lived queries over ONE checkpoint: poll
    // the sink for the expected row, stop(), let the wall clock pass
    // the TTL, restart — state survives via the checkpoint, the TTL
    // clock keeps running between runs.
    val ckpt = java.nio.file.Files.createTempDirectory("graft_st6c_ttl_ckpt").toString
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    val got = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    // foreachBatch, not the memory sink: only checkpoint-recoverable
    // sinks can restart from the same checkpoint, which is how state
    // survives across the two short-lived queries.
    def startQ() = out.toDF("k", "n").writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val batch = df.as[(String, Long)].collect()
        got.synchronized { got ++= batch }
        ()
      }
      .option("checkpointLocation", ckpt)
      .start()
    def rows: Seq[(String, Long)] = got.synchronized(got.toSeq)
    def awaitRow(r: (String, Long)): Unit = {
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (!rows.contains(r) && System.nanoTime() < deadline) Thread.sleep(50)
      assert(rows.contains(r), s"timed out waiting for $r; sink has $rows")
    }
    try {
      val q1 = startQ()
      try { in.addData(("a", 5)); awaitRow(("a", 5L)) } finally q1.stop()
      Thread.sleep(300) // >> 50ms TTL: the stored 5 expires
      val q2 = startQ()
      try {
        in.addData(("a", 2))
        // Post-TTL the state is gone: the sum restarts at 2 — an
        // accumulated 7 would mean the expired value was served.
        awaitRow(("a", 2L))
        assert(!rows.contains(("a", 7L)),
          s"post-TTL batch must start from zero (2), not accumulate (7); got $rows")
      } finally q2.stop()
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("S5b: restart from checkpoint resumes exactly-once (no dupes, no loss)") {
    // The recovery half of the exactly-once contract: stop the query,
    // start a NEW query from the same checkpoint, feed more data — the
    // second run must pick up after the committed offset, neither
    // replaying batch 1 into the sink nor dropping batch 2.
    implicit val sqlCtx = spark.sqlContext
    val outDir = java.nio.file.Files.createTempDirectory("graft_s5b_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_s5b_ckpt").toString
    val in = MemoryStream[(Timestamp, Long)]
    def start() = in.toDF().toDF("ts", "id")
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()
    val q1 = start()
    try {
      in.addData((ts(1), 1L), (ts(2), 2L))
      q1.processAllAvailable()
    } finally q1.stop()
    in.addData((ts(3), 3L)) // arrives while no query is running
    val q2 = start()
    try {
      q2.processAllAvailable()
      in.addData((ts(4), 4L))
      q2.processAllAvailable()
      val ids = spark.read.parquet(outDir).select($"id").as[Long].collect().sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L, 4L),
        s"restart broke exactly-once: $ids")
    } finally q2.stop()
  }

  test("RocksDB state store provider runs the stateful pipeline") {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val in = MemoryStream[(Timestamp, Long)]
    val agg = in.toDF().toDF("ts", "id")
      .withWatermark("ts", "5 minutes")
      .groupBy(window($"ts", "10 minutes"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("rocks_sink")
      .outputMode(OutputMode.Complete()).start()
    try {
      in.addData((ts(1), 1L), (ts(2), 2L), (ts(12), 3L))
      q.processAllAvailable()
      val total = spark.table("rocks_sink").agg(sum($"n")).head().getLong(0)
      assert(total == 3L)
    } finally {
      q.stop()
      spark.catalog.dropTempView("rocks_sink")
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }
}
