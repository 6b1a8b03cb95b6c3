package graft.queries

import graft.{Q, SessionConf, Tables}
import graft.streaming.StreamingOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupStateTimeout
import org.apache.spark.sql.{Encoders, SparkSession}

/** Streaming operators (SURVEY.md §2b ST1–ST9) as differential-oracle
  * rows: each query replays `events` through the real incremental
  * engine (file stream source → state store → sink; see StreamingOps)
  * and returns the materialized sink, which must match a DuckDB batch
  * query over the same data — streaming/batch consistency is exactly
  * the guarantee Structured Streaming makes.
  *
  * ST9 (late-data drop) needs multi-batch replay to observe, so it
  * lives in StreamingSpec via MemoryStream; ST1 (watermark) is
  * exercised here by st2/st5/st8 and its eviction semantics there too.
  */
object StreamingQueries {

  /** Resolve one CDC micro-batch (st16's apply) into a key-unique MERGE
    * source `(k, seg, bal, is_del)`: the struct max over the key's
    * upsert-side rows (insert / update_postimage) is its new image; a
    * key whose group saw NO upsert-side row — a plain delete, or an
    * update_preimage whose key no postimage re-asserts (a key-CHANGING
    * update moves the row) — resolves to a delete (null image,
    * is_del). One aggregation, one exchange; replaces the previous
    * ups / except(dels) / union pipeline (two distinct aggregates + an
    * anti join) with identical resolution semantics — pinned by the
    * "st16 CDC apply resolution" unit test.
    */
  private[graft] def cdcMergeSource(batch: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    batch
      .select(col("k"), col("seg"), col("bal"),
        col("_change_type").isin("insert", "update_postimage").as("up"))
      .groupBy(col("k"))
      .agg(max(when(col("up"), struct(col("seg"), col("bal")))).as("s"))
      .select(col("k"), col("s.seg").as("seg"), col("s.bal").as("bal"),
        col("s").isNull.as("is_del"))

  /** `transformWithState` requires the RocksDB state store provider. */
  private def withRocksDb[T](spark: SparkSession)(body: => T): T =
    SessionConf.withConfs(spark)("spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(body)

  /** ST1+ST2: watermarked tumbling-window aggregate, complete mode.
    * 1-hour windows are epoch-aligned ⇒ oracle is date_trunc('hour').
    */
  val st2Tumbling: Q = Q(
    "st2_tumbling_window",
    """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS win_start,
      |  event_type, count(*) AS n, round(sum(value), 4) AS total_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY win_start, event_type""".stripMargin) { (spark, dir) =>
    val agg = StreamingOps.eventsStream(spark, dir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total_value"))
    StreamingOps.runToBatch(spark, agg, "complete", "st2_sink")
      .select(col("window.start").as("win_start"), col("event_type"), col("n"), col("total_value"))
      .orderBy(col("win_start"), col("event_type"))
  }

  /** ST3: sliding-window aggregate (2h window, 1h slide) — every event
    * lands in two windows; oracle materializes both via aligned unnests.
    */
  val st3Sliding: Q = Q(
    "st3_sliding_window",
    """SELECT win_start, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
      |FROM (SELECT unnest([CAST(date_trunc('hour', ts) AS TIMESTAMP),
      |                     CAST(date_trunc('hour', ts) AS TIMESTAMP) - INTERVAL 1 HOUR]) AS win_start,
      |             value
      |      FROM events) t
      |GROUP BY win_start
      |ORDER BY win_start""".stripMargin) { (spark, dir) =>
    // Decimal sum is exact ⇒ order-independent across engines (a double
    // sum differs in the last ulp with parallelism, and an avg here lands
    // exactly on rounding boundaries — this query's per-window sums have
    // ≤6 decimal digits, so the decimal sum is bit-identical to DuckDB's).
    val agg = StreamingOps.eventsStream(spark, dir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "2 hours", "1 hour"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"))
    StreamingOps.runToBatch(spark, agg, "complete", "st3_sink")
      .select(col("window.start").as("win_start"), col("n"), col("total_value"))
      .orderBy(col("win_start"))
  }

  /** ST4: session windows — per-user activity sessions closed by a
    * 30-minute gap. Oracle rebuilds sessions with lag + cumulative flag
    * (the standard batch sessionization); the comparison is on the
    * session-length distribution, which is order-independent.
    */
  val st4SessionWindow: Q = Q(
    "st4_session_window",
    """WITH s AS (
      |  SELECT user_id, ts,
      |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
      |              <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_sess
      |  FROM events),
      |g AS (SELECT user_id,
      |        sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
      |                            ROWS UNBOUNDED PRECEDING) AS sess_id, ts
      |      FROM s),
      |sess AS (SELECT user_id, sess_id, count(*) AS n_events FROM g GROUP BY 1, 2)
      |SELECT n_events AS session_size, count(*) AS n_sessions
      |FROM sess
      |GROUP BY 1
      |ORDER BY session_size""".stripMargin) { (spark, dir) =>
    val sess = StreamingOps.eventsStream(spark, dir)
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    StreamingOps.runToBatch(spark, sess, "complete", "st4_sink")
      .groupBy(col("n_events").as("session_size"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("session_size"))
  }

  /** ST5: streaming dedup within watermark — duplicate (user_id,
    * event_type) observations collapse to first occurrence; the
    * per-type distinct-user count is order-independent and exact.
    *
    * `dropDuplicatesWithinWatermark`, not plain `dropDuplicates`: the
    * plain form keeps EVERY key's state forever (unbounded growth on a
    * real stream); the watermark-bounded form evicts a key once the
    * watermark passes its event time + delay, which is the only form
    * that survives at 100 TB. The replay harness drives the whole file
    * in one batch, so the batch-oracle equality still holds exactly;
    * the eviction semantics are covered by the multi-batch
    * StreamingSpec case.
    */
  val st5StreamDedup: Q = Q(
    "st5_stream_dedup",
    """SELECT event_type, count(DISTINCT user_id) AS n_distinct_users
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin) { (spark, dir) =>
    val dedup = StreamingOps.eventsStream(spark, dir)
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
    val rows = StreamingOps.runToBatch(spark, dedup, "append", "st5_sink")
    rows.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_distinct_users"))
      .orderBy(col("event_type"))
  }

  /** ST6: arbitrary stateful op — per-user running state machine via
    * mapGroupsWithState (count, sum, max-gap tracking). The single-file
    * source replays in one batch ⇒ one final state per user; the
    * session-count distribution is the deterministic projection.
    */
  val st6StatefulOp: Q = Q(
    "st6_stateful_op",
    """SELECT n_events, count(*) AS n_users, round(sum(total_value), 4) AS sum_value
      |FROM (SELECT user_id, count(*) AS n_events, sum(value) AS total_value
      |      FROM events GROUP BY user_id) t
      |GROUP BY n_events
      |ORDER BY n_events""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val typed = StreamingOps.eventsStream(spark, dir)
      .selectExpr("user_id", "value")
      .as[(Long, Double)]
    val updated = typed
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Double)],
         state: org.apache.spark.sql.streaming.GroupState[(Long, Double)]) =>
          val (n0, v0) = state.getOption.getOrElse((0L, 0.0))
          var n = n0; var v = v0
          rows.foreach { r => n += 1; v += r._2 }
          state.update((n, v))
          (user, n, v)
      }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble),
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaDouble))
      .toDF("user_id", "n_events", "total_value")
    val snap = StreamingOps.runToBatch(spark, updated, "update", "st6_sink")
    // Multiple updates per user are possible if the source splits batches;
    // the final (largest-n) state per user is the authoritative one.
    snap.groupBy(col("user_id"))
      .agg(max(struct(col("n_events"), col("total_value"))).as("s"))
      .select(col("s.n_events").as("n_events"), col("s.total_value").as("total_value"))
      .groupBy(col("n_events"))
      .agg(count(lit(1)).as("n_users"), round(sum(col("total_value")), 4).as("sum_value"))
      .orderBy(col("n_events"))
  }

  /** ST6b: the same per-user running state as st6 through Spark 4's
    * `transformWithState` — typed `ValueState` handles over the RocksDB
    * provider (required by the API), the successor to
    * mapGroupsWithState. Same DuckDB oracle as st6: the two stateful
    * APIs must agree with each other AND with the batch engine.
    */
  val st6bTransformWithState: Q = Q(
    "st6b_stateful_tws",
    """SELECT n_events, count(*) AS n_users, round(sum(total_value), 4) AS sum_value
      |FROM (SELECT user_id, count(*) AS n_events, sum(value) AS total_value
      |      FROM events GROUP BY user_id) t
      |GROUP BY n_events
      |ORDER BY n_events""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    withRocksDb(spark) {
      val typed = StreamingOps.eventsStream(spark, dir)
        .selectExpr("user_id", "value")
        .as[(Long, Double)]
      val updated = typed
        .groupByKey(_._1)
        .transformWithState(
          new UserRunningSum,
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Update(),
          Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaDouble))
        .toDF("user_id", "n_events", "total_value")
      val snap = StreamingOps.runToBatch(spark, updated, "update", "st6b_sink")
      snap.groupBy(col("user_id"))
        .agg(max(struct(col("n_events"), col("total_value"))).as("s"))
        .select(col("s.n_events").as("n_events"), col("s.total_value").as("total_value"))
        .groupBy(col("n_events"))
        .agg(count(lit(1)).as("n_users"), round(sum(col("total_value")), 4).as("sum_value"))
        .orderBy(col("n_events"))
    }
  }

  /** ST6c: EVENT-TIME TIMERS + STATE TTL — gap sessionization built
    * directly on `transformWithState` timers (TimeMode.EventTime):
    * sessions closed by observed data emit inline; each user's
    * trailing open session emits when the WATERMARK crosses
    * lastTs + gap and its registered timer fires (state cleared on
    * fire — bounded per-user state). The closed-form oracle recomputes
    * both emission classes: every non-trailing session, plus trailing
    * sessions whose timer (last_ts + 17 min) precedes the terminal
    * watermark (max ts − 7 min). Session arithmetic is µs-exact on
    * both sides (`unix_micros`). State TTL is a ProcessingTime-mode
    * feature in Spark and is pinned separately (StreamingSpec
    * "ST6c TTL").
    */
  val st6cTimerSessions: Q = Q(
    "st6c_timer_sessions",
    """WITH mx AS (SELECT max(ts) AS m FROM events),
      |s AS (SELECT user_id, ts, value,
      |  CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
      |            <= INTERVAL 17 MINUTE THEN 0 ELSE 1 END AS new_sess
      |  FROM events),
      |g AS (SELECT user_id, ts, value,
      |  sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
      |                      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM s),
      |sess AS (SELECT user_id, sid, count(*) AS n_events,
      |           sum(value) AS sum_value, max(ts) AS last_ts
      |         FROM g GROUP BY 1, 2),
      |emitted AS (
      |  SELECT e.n_events, e.sum_value FROM sess e, mx
      |  WHERE e.sid < (SELECT max(s2.sid) FROM sess s2 WHERE s2.user_id = e.user_id)
      |     OR e.last_ts + INTERVAL 17 MINUTE < mx.m - INTERVAL 7 MINUTE)
      |SELECT n_events AS session_size, count(*) AS n_sessions,
      |  round(CAST(sum(sum_value) AS DOUBLE), 2) AS sum_value
      |FROM emitted
      |GROUP BY n_events
      |ORDER BY session_size""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    withRocksDb(spark) {
      val typed = StreamingOps.eventsStream(spark, dir)
        .withWatermark("ts", "7 minutes")
        .selectExpr("user_id", "unix_micros(ts) AS ts_us", "value")
        .as[(Long, Long, Double)]
      val sessions = typed
        .groupByKey(_._1)
        .transformWithState(
          new SessionTimerProcessor(gapUs = 17L * 60 * 1000 * 1000, ttl = None),
          org.apache.spark.sql.streaming.TimeMode.EventTime(),
          org.apache.spark.sql.streaming.OutputMode.Append(),
          Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaDouble))
        .toDF("user_id", "n_events", "sum_value")
      StreamingOps.runToBatch(spark, sessions, "append", "st6c_sink")
        .groupBy(col("n_events").as("session_size"))
        .agg(count(lit(1)).as("n_sessions"),
          round(sum(col("sum_value")), 2).as("sum_value"))
        .orderBy(col("session_size"))
    }
  }

  /** ST6d: COMPOSITE STATE — `MapState` + `ListState` handles on
    * `transformWithState` (the collection-state surface st6b/st6c
    * don't touch): per user, a map of per-event-type counts (point
    * updates, one state key per row at scale) and a bounded top-3
    * value list. The emitted totals are DERIVED from the map (sum of
    * its counts), so the oracle cross-checks the map content, the
    * list maintenance (a running top-k must equal the global top-k),
    * and the multi-batch snapshot discipline in one hash.
    */
  val st6dCompositeState: Q = Q(
    "st6d_composite_state",
    """WITH r AS (SELECT user_id, event_type, value,
      |             row_number() OVER (PARTITION BY user_id
      |                                ORDER BY value DESC) AS rn
      |           FROM events),
      |prof AS (SELECT user_id, count(DISTINCT event_type) AS n_types,
      |           count(*) AS total,
      |           sum(CASE WHEN rn <= 3 THEN value ELSE 0 END) AS top3
      |         FROM r GROUP BY user_id)
      |SELECT n_types, total AS n_events, count(*) AS n_users,
      |  round(CAST(sum(top3) AS DOUBLE), 2) AS sum_top3
      |FROM prof GROUP BY n_types, total
      |ORDER BY n_types, n_events""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    withRocksDb(spark) {
      val typed = StreamingOps.eventsStream(spark, dir)
        .selectExpr("user_id", "event_type", "value")
        .as[(Long, String, Double)]
      val profiles = typed
        .groupByKey(_._1)
        .transformWithState(
          new UserProfileProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Update(),
          Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
            Encoders.scalaLong, Encoders.scalaDouble))
        .toDF("user_id", "n_types", "total", "top3")
      val snap = StreamingOps.runToBatch(spark, profiles, "update", "st6d_sink")
      // Per user, the final snapshot is the one with the largest total
      // (totals only grow); the struct-max keeps it in one pass.
      snap.groupBy(col("user_id"))
        .agg(max(struct(col("total"), col("n_types"), col("top3"))).as("s"))
        .select(col("s.n_types").as("n_types"), col("s.total").as("n_events"),
          col("s.top3").as("top3"))
        .groupBy(col("n_types"), col("n_events"))
        .agg(count(lit(1)).as("n_users"),
          round(sum(col("top3")), 2).as("sum_top3"))
        .orderBy(col("n_types"), col("n_events"))
    }
  }

  /** ST7: stream–static join — streaming events enriched with the static
    * customer dimension (broadcast at any scale), then aggregated.
    */
  val st7StreamStaticJoin: Q = Q(
    "st7_stream_static_join",
    """SELECT c_mktsegment, event_type, count(*) AS n, round(avg(value), 2) AS avg_value
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY c_mktsegment, event_type
      |ORDER BY c_mktsegment, event_type""".stripMargin) { (spark, dir) =>
    val cust = Tables.customer(spark, dir).select("c_custkey", "c_mktsegment")
    val joined = StreamingOps.eventsStream(spark, dir)
      .join(broadcast(cust), col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(avg(col("value")), 2).as("avg_value"))
    StreamingOps.runToBatch(spark, joined, "complete", "st7_sink")
      .orderBy(col("c_mktsegment"), col("event_type"))
  }

  /** ST8: stream–stream inner join with watermarks + time-range bound —
    * each 'click' matched to same-user 'view's in the preceding 10
    * minutes. Both sides watermarked so join state is evictable.
    *
    * The replay runs ONE micro-batch: the trailing no-data batch that
    * would advance the watermark and evict join state is skipped
    * (`StreamingOps.evictionIsSilent`). That is exact for an inner join:
    * a pair is emitted in the batch where its second row arrives, and an
    * evicted row that never matched is dropped without output, so the
    * skipped batch could only ever have emitted nothing.
    */
  val st8StreamStreamJoin: Q = Q(
    "st8_stream_stream_join",
    """SELECT v.event_type AS view_type, count(*) AS n_pairs,
      |  round(avg(date_diff('second', v.ts, c.ts)), 4) AS avg_lag_sec
      |FROM (SELECT * FROM events WHERE event_type IN ('view', 'scroll')) v
      |JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON v.user_id = c.user_id
      | AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 10 MINUTE
      |GROUP BY v.event_type
      |ORDER BY view_type""".stripMargin) { (spark, dir) =>
    val views = StreamingOps.eventsStream(spark, dir)
      .filter(col("event_type").isin("view", "scroll"))
      .select(col("event_type").as("view_type"), col("user_id").as("v_user"), col("ts").as("v_ts"))
      .withWatermark("v_ts", "10 minutes")
    val clicks = StreamingOps.eventsStream(spark, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "10 minutes")
    val joined = views.join(
      clicks,
      col("v_user") === col("c_user") &&
        col("c_ts") > col("v_ts") &&
        col("c_ts") <= col("v_ts") + expr("INTERVAL 10 MINUTES"))
    // Reduce INSIDE each micro-batch (foreachBatch): the join's O(pairs)
    // output is aggregated on the executors down to one (count, lag-sum)
    // row per view_type before anything reaches the driver; partials
    // from successive batches merge exactly (long sums). At 100 TB the
    // driver holds O(batches x types) rows, never the pair fan-out. A
    // fully in-stream chained aggregation (join -> windowed agg, append
    // mode) is Spark-4-legal but drops the tail windows at AvailableNow
    // termination because the final watermark never passes them — the
    // closed-stream variant with a watermark-advancing sentinel is
    // st13; for a replay whose total must match a batch oracle exactly,
    // per-batch executor-side reduction is the correct shape.
    val acc = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
    StreamingOps.runForeachBatch(spark, joined, (batch, _) => {
      batch.groupBy(col("view_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("c_ts").cast("long") - col("v_ts").cast("long")).as("lag_sum"))
        .collect()
        .foreach { r =>
          acc.merge(r.getString(0), (r.getLong(1), r.getLong(2)),
            (a, b) => (a._1 + b._1, a._2 + b._2))
        }
    })
    import scala.jdk.CollectionConverters._
    val partials = acc.asScala.toSeq.map { case (k, (n, l)) => (k, n, l) }
    spark.createDataFrame(partials)
      .toDF("view_type", "n_pairs", "lag_sum")
      .select(
        col("view_type"), col("n_pairs"),
        round(col("lag_sum") / col("n_pairs"), 4).as("avg_lag_sec"))
      .orderBy(col("view_type"))
  }

  /** ST+X4: the custom DSv2 source consumed as a STREAM — graft-range's
    * MicroBatchStream replays [0, 3000) in rate-limited 1000-id batches
    * through real offset tracking (admission control + AvailableNow
    * drain), aggregated in complete mode. The oracle is the same
    * arithmetic over DuckDB's range() — streaming/batch consistency for
    * the engine's OWN source, not just the built-in file source. The
    * multi-batch/restart behavior is asserted in Dsv2Spec.
    */
  val st10CustomSourceStream: Q = Q(
    "st10_custom_source_stream",
    """SELECT i % 7 AS tag, count(*) AS n,
      |  round(sum(i * 0.25), 4) AS total_val
      |FROM range(0, 3000) t(i)
      |GROUP BY 1
      |ORDER BY tag""".stripMargin) { (spark, _) =>
    val sdf = spark.readStream.format("graft-range")
      .option("end", "3000").option("rowsPerBatch", "1000")
      .load()
      .groupBy(col("tag"))
      .agg(count(lit(1)).as("n"), round(sum(col("val")), 4).as("total_val"))
    StreamingOps.runToBatch(spark, sdf, "complete", "st10_custom_source_stream_sink")
      .orderBy(col("tag"))
  }

  /** ST+X4+X5: the all-custom pipeline — the engine's OWN streaming
    * source (graft-range micro-batches) written through the engine's
    * OWN catalog sink (per-epoch exactly-once commits), then queried
    * back by SQL through the catalog. Four micro-batches of 500 ids
    * land as four epoch commits; the oracle is the closed-form range
    * arithmetic, so any lost/duplicated epoch breaks the hash. Fresh
    * checkpoint + DROP/CREATE per invocation keeps the query
    * re-runnable (bench reps).
    */
  val st11StreamToCatalog: Q = Q(
    "st11_stream_to_catalog",
    """SELECT i % 7 AS tag, count(*) AS n,
      |  round(sum(i * 0.25), 4) AS total_val
      |FROM range(0, 2000) t(i)
      |GROUP BY 1
      |ORDER BY tag""".stripMargin) { (spark, _) =>
    SessionConf.registerCatalog(spark)
    spark.sql("DROP TABLE IF EXISTS graft.stream.sink11")
    spark.sql(
      "CREATE TABLE graft.stream.sink11 (id BIGINT, val DOUBLE, tag BIGINT) USING graft")
    StreamingOps.withCheckpoint(spark, "graft_st11_") { ckpt =>
      StreamingOps.drain(spark.readStream.format("graft-range")
        .option("end", "2000").option("rowsPerBatch", "500")
        .load()
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable("graft.stream.sink11"))
    }
    spark.sql(
      """SELECT tag, count(*) AS n, round(sum(val), 4) AS total_val
        |FROM graft.stream.sink11
        |GROUP BY tag
        |ORDER BY tag""".stripMargin)
  }

  /** ST+X5 (change stream): the catalog table as a STREAMING SOURCE —
    * its commit history replayed as micro-batches into another catalog
    * table through one checkpoint. Leg 1 drains the empty initial
    * snapshot (committing the checkpoint past the snapshot-load phase);
    * three INSERT commits then land while the stream is down; leg 2
    * restarts from the checkpoint with a 4-segment admission cap, so
    * each commit replays as its own rate-limited micro-batch with
    * exactly-once epoch commits on the sink side. The oracle is the
    * closed-form range arithmetic — a duplicated or dropped commit on
    * EITHER side of the pipe breaks the hash.
    */
  val st12CatalogChangeStream: Q = Q(
    "st12_catalog_change_stream",
    """SELECT i % 7 AS tag, count(*) AS n,
      |  round(sum(i * 0.25), 4) AS total_val
      |FROM range(0, 2000) t(i)
      |GROUP BY 1
      |ORDER BY tag""".stripMargin) { (spark, _) =>
    SessionConf.registerCatalog(spark)
    spark.sql("DROP TABLE IF EXISTS graft.stream.src12")
    spark.sql("DROP TABLE IF EXISTS graft.stream.sink12")
    spark.sql(
      "CREATE TABLE graft.stream.src12 (id BIGINT, val DOUBLE, tag BIGINT) USING graft")
    spark.sql(
      "CREATE TABLE graft.stream.sink12 (id BIGINT, val DOUBLE, tag BIGINT) USING graft")
    StreamingOps.withCheckpoint(spark, "graft_st12_") { ckpt =>
      def leg(): Unit = StreamingOps.drain(spark.readStream
        .option("maxSegmentsPerTrigger", "4")
        .table("graft.stream.src12")
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable("graft.stream.sink12"))
      leg()
      spark.sql(
        "INSERT INTO graft.stream.src12 SELECT id, id * 0.25, id % 7 FROM range(0, 700, 1, 4)")
      spark.sql(
        "INSERT INTO graft.stream.src12 SELECT id, id * 0.25, id % 7 FROM range(700, 1400, 1, 4)")
      spark.sql(
        "INSERT INTO graft.stream.src12 SELECT id, id * 0.25, id % 7 FROM range(1400, 2000, 1, 4)")
      leg()
    }
    spark.sql(
      """SELECT tag, count(*) AS n, round(sum(val), 4) AS total_val
        |FROM graft.stream.sink12
        |GROUP BY tag
        |ORDER BY tag""".stripMargin)
  }

  /** ST13 (chained stateful operators, Spark-4 surface): a stream-stream
    * interval join FEEDING a tumbling-window aggregation in ONE streaming
    * query — two stateful operators, watermark propagated through the
    * join into the window. Append mode only emits a window once the
    * watermark passes its end, and an AvailableNow replay's final
    * watermark stops `delay` short of max event time — so the fixture
    * carries a sentinel row on BOTH sides (join watermark = min of
    * sides) far past the data, closing every real window before the
    * stream terminates. Synthetic MemoryStream input with closed-form
    * arithmetic as the oracle; the late-row admission/drop behavior of
    * the same chained plan is asserted in StreamingSpec ("ST13").
    *
    * Fixture: user u in [0,100): view at 1000+u, click at
    * 1030+u+(u%20) epoch-seconds — every lag is 30..49 s, inside the
    * 10-minute join bound, so exactly 100 pairs, windowed on click time.
    */
  val st13JoinThenWindowAgg: Q = Q(
    "st13_join_window_agg",
    """SELECT (1030 + i + i % 20) // 60 * 60 AS w_start, count(*) AS n_pairs
      |FROM range(0, 100) t(i)
      |GROUP BY 1
      |ORDER BY w_start""".stripMargin) { (spark, _) =>
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val in = MemoryStream[(Long, String, Long)] // (user_id, event_type, epoch_sec)
    val data = (0L until 100L).flatMap { u =>
      Seq((u, "view", 1000L + u), (u, "click", 1030L + u + u % 20))
    }
    in.addData(data)
    // Sentinels: no self-pair (c_ts > v_ts is strict), but they push both
    // sides' watermarks to 100000-30s — past every real window's end.
    in.addData(Seq((-1L, "view", 100000L), (-1L, "click", 100000L)))
    val evs = in.toDF().toDF("user_id", "event_type", "epoch")
      .withColumn("ts", timestamp_seconds(col("epoch")))
    val views = evs.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
      .withWatermark("v_ts", "30 seconds")
    val clicks = evs.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "30 seconds")
    val agg = views.join(
        clicks,
        col("v_user") === col("c_user") &&
          col("c_ts") > col("v_ts") &&
          col("c_ts") <= col("v_ts") + expr("INTERVAL 10 MINUTES"))
      .groupBy(window(col("c_ts"), "60 seconds"))
      .agg(count(lit(1)).as("n_pairs"))
    StreamingOps.runToBatch(spark, agg, "append", "st13_sink")
      .select(col("window.start").cast("long").as("w_start"), col("n_pairs"))
      .orderBy(col("w_start"))
  }

  /** ST14 (continuous MV maintenance): the streaming half of
    * `graft.system.refresh_mv`. Each micro-batch of a custom-source
    * stream appends to a catalog BASE table and immediately refreshes
    * its MATERIALIZED VIEW — the refresh's snapshot diff sees exactly
    * the one appended commit, so every epoch does incremental
    * touched-group work, never a full recompute. The final read comes
    * from the MV TABLE; the closed-form oracle proves the
    * epoch-by-epoch refreshes converged to exactly the full aggregate
    * (a dropped epoch, double-applied refresh, or wrong touched-group
    * diff breaks the hash). This is the "streaming ingest +
    * always-fresh rollup" pattern at its 100 TB shape: per-epoch cost
    * tracks the epoch's data, the rollup stays queryable throughout.
    */
  val st14StreamingMv: Q = Q(
    "st14_streaming_mv",
    """SELECT i % 7 AS tag, count(*) AS n,
      |  round(sum(i * 0.25), 4) AS total_val
      |FROM range(0, 2000) t(i)
      |GROUP BY 1
      |ORDER BY tag""".stripMargin) { (spark, _) =>
    SessionConf.registerCatalog(spark)
    spark.sql("DROP TABLE IF EXISTS graft.stream.base14")
    spark.sql("DROP TABLE IF EXISTS graft.stream.mv14")
    spark.sql(
      "CREATE TABLE graft.stream.base14 (id BIGINT, val DOUBLE, tag BIGINT) USING graft")
    spark.sql(
      """CALL graft.system.create_mv('stream', 'mv14', 'stream.base14',
        |  'tag', 'count(*) AS n, sum(CAST(val AS DECIMAL(18,2))) AS dec_total')""".stripMargin)
      .collect()
    // Two epochs, not four: the incremental-fold argument is per-epoch
    // SHAPE (each refresh folds only the batch's touched groups), so a
    // second epoch pins it and further epochs only buy fixture time.
    StreamingOps.withCheckpoint(spark, "graft_st14_") { ckpt =>
      StreamingOps.drain(spark.readStream.format("graft-range")
        .option("end", "2000").option("rowsPerBatch", "1000")
        .load()
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.writeTo("graft.stream.base14").append()
          batch.sparkSession.sql("CALL graft.system.refresh_mv('stream', 'mv14')")
            .collect(): Unit
        }
        .start())
    }
    spark.sql(
      """SELECT tag, n, round(CAST(dec_total AS DOUBLE), 4) AS total_val
        |FROM graft.stream.mv14
        |ORDER BY tag""".stripMargin)
  }

  /** ST15: STREAMING CHANGE-DATA-FEED — `readStream` on the
    * `graft-changes` source replays a catalog table's commit history as
    * row-level CDC micro-batches, ONE COMMIT PER BATCH (admission-
    * controlled: a multi-commit batch would net-out an insert+delete
    * pair and a CDC consumer would miss it). The fixture commits an
    * append, a second append, then a deletion-vector DELETE; the
    * stream must deliver every insert AND the delete AS DATA — the
    * commit shape the plain catalog stream refuses — and a
    * copy-on-write UPDATE must arrive as PAIRED
    * update_preimage/update_postimage rows for exactly the changed
    * rows (rewrite provenance + lockstep byte-compare; unchanged
    * rewritten rows emit nothing). The oracle recomputes the full feed
    * as slice algebra: inserts = both batches, deletes = the dv'd
    * rows, update pairs = the AUTOMOBILE rows before/after the +50.
    */
  val st15ChangeFeedStream: Q = Q(
    "st15_change_feed_stream",
    """WITH a AS (SELECT c_mktsegment AS seg, c_acctbal AS bal FROM customer),
      |     feed AS (
      |       SELECT 'insert' AS change_type, seg, bal FROM a
      |       UNION ALL
      |       SELECT 'delete' AS change_type, seg, bal FROM a
      |       WHERE seg = 'MACHINERY'
      |       UNION ALL
      |       SELECT 'update_preimage' AS change_type, seg, bal FROM a
      |       WHERE seg = 'AUTOMOBILE'
      |       UNION ALL
      |       SELECT 'update_postimage' AS change_type, seg, bal + 50.0 AS bal
      |       FROM a WHERE seg = 'AUTOMOBILE')
      |SELECT change_type, seg, count(*) AS n,
      |  round(CAST(sum(CAST(bal AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_bal
      |FROM feed
      |GROUP BY change_type, seg
      |ORDER BY change_type, seg""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.functions.{col, count, round, sum}
    SessionConf.registerCatalog(spark)
    Tables.customer(spark, dir).createOrReplaceTempView("st15_customer_src")
    spark.sql("DROP TABLE IF EXISTS graft.stream.cdc15")
    spark.sql(
      "CREATE TABLE graft.stream.cdc15 (k BIGINT, seg STRING, bal DOUBLE) USING graft")
    spark.sql(
      """INSERT INTO graft.stream.cdc15
        |SELECT CAST(c_custkey AS BIGINT), c_mktsegment, c_acctbal
        |FROM st15_customer_src WHERE c_custkey % 3 <> 0""".stripMargin) // v1
    spark.sql(
      """INSERT INTO graft.stream.cdc15
        |SELECT CAST(c_custkey AS BIGINT), c_mktsegment, c_acctbal
        |FROM st15_customer_src WHERE c_custkey % 3 = 0""".stripMargin) // v2
    spark.sql("DELETE FROM graft.stream.cdc15 WHERE seg = 'MACHINERY'") // v3: dv
    spark.sql(
      """UPDATE graft.stream.cdc15 SET bal = bal + 50.0
        |WHERE seg = 'AUTOMOBILE'""".stripMargin) // v4: CoW → paired updates
    val feed = spark.readStream.format("graft-changes")
      .option("table", "stream.cdc15").option("changesFrom", "0").load()
    StreamingOps.runToBatch(spark, feed, "append", "st15_feed")
      .groupBy(col("_change_type").as("change_type"), col("seg"))
      .agg(count("*").as("n"),
        round(sum(col("bal").cast("decimal(18,2)")).cast("double"), 2).as("total_bal"))
      .orderBy("change_type", "seg")
  }

  /** ST16: CDC REPLICATION END-TO-END — the reason change feeds exist.
    * A replica table is maintained purely by APPLYING the streaming
    * change feed: per micro-batch (= per commit), upsert rows (inserts
    * and update POSTIMAGES — the paired-update CDC form consumed
    * directly, no per-key collapse needed for updates) MERGE-upsert,
    * delete rows MERGE-delete; preimages carry no apply-side work in a
    * key-matched MERGE. Both MERGEs are idempotent, so a replayed
    * batch after a failure re-applies harmlessly — exactly-once
    * effect. The source
    * takes an append, a copy-on-write UPDATE, and a
    * deletion-vector DELETE; the replica — which never read the source
    * table, only the feed — must converge to the source's final state,
    * which the oracle recomputes directly from the raw parquet.
    */
  val st16CdcReplica: Q = Q(
    "st16_cdc_replica",
    """WITH src AS (
      |  SELECT c_custkey AS k, c_mktsegment AS seg,
      |    CASE WHEN c_mktsegment = 'BUILDING'
      |         THEN c_acctbal + 100.0 ELSE c_acctbal END AS bal
      |  FROM customer)
      |SELECT seg, count(*) AS n,
      |  round(CAST(sum(CAST(bal AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_bal
      |FROM src WHERE seg <> 'MACHINERY'
      |GROUP BY seg
      |ORDER BY seg""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.functions.{col, count, round, sum}
    SessionConf.registerCatalog(spark)
    Tables.customer(spark, dir).createOrReplaceTempView("st16_customer_src")
    spark.sql("DROP TABLE IF EXISTS graft.stream.cdc16")
    spark.sql("DROP TABLE IF EXISTS graft.stream.replica16")
    spark.sql(
      "CREATE TABLE graft.stream.cdc16 (k BIGINT, seg STRING, bal DOUBLE) USING graft")
    spark.sql(
      "CREATE TABLE graft.stream.replica16 (k BIGINT, seg STRING, bal DOUBLE) USING graft")
    // One INSERT commit (not two): the apply shape is per-epoch — one
    // insert epoch, one paired-update epoch, one delete epoch pin every
    // MERGE branch; a second insert epoch repeated the first's shape
    // for ~2 s of fixture cost per bench rep.
    spark.sql(
      """INSERT INTO graft.stream.cdc16
        |SELECT CAST(c_custkey AS BIGINT), c_mktsegment, c_acctbal
        |FROM st16_customer_src""".stripMargin) // v1
    spark.sql(
      """UPDATE graft.stream.cdc16 SET bal = bal + 100.0
        |WHERE seg = 'BUILDING'""".stripMargin) // v2: CoW → delete+insert pairs
    spark.sql("DELETE FROM graft.stream.cdc16 WHERE seg = 'MACHINERY'") // v3: dv
    val feed = spark.readStream.format("graft-changes")
      .option("table", "stream.cdc16").option("changesFrom", "0").load()
    StreamingOps.runForeachBatch(spark, feed, (batch, _) => {
      // CDC apply: update POSTIMAGES upsert directly (the paired form);
      // plain inserts upsert; a key that appears only on the REMOVE
      // side of the batch — a 'delete' row, or an update_preimage
      // whose key no postimage re-asserts (a key-CHANGING update moves
      // the row: old key must leave the replica) — is a real delete.
      // ONE aggregation resolves the whole batch per key: the struct
      // max over upsert-side rows is that key's new image, and a key
      // whose group saw no upsert-side row (null max) is a delete —
      // this replaces the previous ups/except(dels)/union pipeline
      // (two distinct aggregates + an anti join + a union feeding the
      // MERGE) with one exchange, same key-once guarantee, and also
      // still collapses the unpaired delete+insert fallback a
      // provenance-less rewrite emits.
      val s = batch.sparkSession
      // ONE MERGE per epoch, not an upsert MERGE + a delete MERGE:
      // is_del routes each key through conditional WHEN clauses (the
      // groupBy inside cdcMergeSource guarantees a key appears once in
      // the source). One commit per epoch is both cheaper and the
      // sharper exactly-once shape — the epoch's effect is a single
      // atomic snapshot, so replay-after-crash can never observe (and
      // never re-apply from) a half-applied epoch.
      StreamingQueries.cdcMergeSource(batch)
        .createOrReplaceTempView("st16_changes")
      s.sql(
        """MERGE INTO graft.stream.replica16 t USING st16_changes s ON t.k = s.k
          |WHEN MATCHED AND s.is_del THEN DELETE
          |WHEN MATCHED THEN UPDATE SET seg = s.seg, bal = s.bal
          |WHEN NOT MATCHED AND NOT s.is_del
          |  THEN INSERT (k, seg, bal) VALUES (s.k, s.seg, s.bal)""".stripMargin)
      ()
    })
    spark.table("graft.stream.replica16")
      .groupBy("seg")
      .agg(count("*").as("n"),
        round(sum(col("bal").cast("decimal(18,2)")).cast("double"), 2).as("total_bal"))
      .orderBy("seg")
  }

  /** ST17: STREAMING UPSERT SINK — CDC apply with NO foreachBatch and
    * NO MERGE: the change feed streams per-commit batches, and the
    * sink (`writeStream.option("graft.upsert.keys", "k").toTable`)
    * upserts each epoch via a merge-on-read equality delete — append +
    * key-tombstone in one exactly-once commit, the Flink-to-Iceberg
    * upsert pipeline shape. The source takes two appends and a
    * copy-on-write UPDATE; the replica consumes inserts +
    * update POSTIMAGES (the paired CDC form) and must converge to the
    * source's final state, recomputed by the oracle from raw parquet.
    * A lost epoch, a mis-scoped equality delete, or postimage rows
    * failing to replace their keys all break the hash.
    */
  val st17StreamingUpsert: Q = Q(
    "st17_streaming_upsert",
    """WITH a AS (SELECT c_custkey AS k, c_mktsegment AS seg, c_acctbal AS bal
      |           FROM customer),
      |     final AS (
      |       SELECT k, seg,
      |              CASE WHEN seg = 'BUILDING' THEN bal + 25.0 ELSE bal END AS bal
      |       FROM a)
      |SELECT seg, count(*) AS n,
      |  round(CAST(sum(CAST(bal AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_bal
      |FROM final
      |GROUP BY seg
      |ORDER BY seg""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.functions.{col, count, round, sum}
    SessionConf.registerCatalog(spark)
    Tables.customer(spark, dir).createOrReplaceTempView("st17_customer_src")
    spark.sql("DROP TABLE IF EXISTS graft.stream.ups17")
    spark.sql("DROP TABLE IF EXISTS graft.stream.ups17_replica")
    spark.sql(
      "CREATE TABLE graft.stream.ups17 (k BIGINT, seg STRING, bal DOUBLE) USING graft")
    spark.sql(
      "CREATE TABLE graft.stream.ups17_replica (k BIGINT, seg STRING, bal DOUBLE) USING graft")
    // TWO INSERT commits, deliberately (unlike st16's folded fixture):
    // the change feed admits one COMMIT per micro-batch and the upsert
    // sink bounds keys PER EPOCH (graft.upsert.maxKeys = 100k), so
    // source commit sizing is part of this operator's contract — a
    // single whole-table commit exceeds the cap at the 10× scale audit
    // (150k keys in one epoch) and rightly refuses.
    spark.sql(
      """INSERT INTO graft.stream.ups17
        |SELECT CAST(c_custkey AS BIGINT), c_mktsegment, c_acctbal
        |FROM st17_customer_src WHERE c_custkey % 3 <> 0""".stripMargin) // v1
    spark.sql(
      """INSERT INTO graft.stream.ups17
        |SELECT CAST(c_custkey AS BIGINT), c_mktsegment, c_acctbal
        |FROM st17_customer_src WHERE c_custkey % 3 = 0""".stripMargin) // v2
    spark.sql(
      """UPDATE graft.stream.ups17 SET bal = bal + 25.0
        |WHERE seg = 'BUILDING'""".stripMargin) // v3: CoW → paired updates
    val apply = spark.readStream.format("graft-changes")
      .option("table", "stream.ups17").option("changesFrom", "0").load()
      .where(col("_change_type").isin("insert", "update_postimage"))
      .select("k", "seg", "bal")
    StreamingOps.withCheckpoint(spark, "st17-ck-") { ck =>
      StreamingOps.drain(apply.writeStream
        .option("checkpointLocation", ck)
        .option("graft.upsert.keys", "k")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable("graft.stream.ups17_replica"))
    }
    spark.table("graft.stream.ups17_replica")
      .groupBy("seg")
      .agg(count("*").as("n"),
        round(sum(col("bal").cast("decimal(18,2)")).cast("double"), 2).as("total_bal"))
      .orderBy("seg")
  }

  val all: Seq[Q] = Seq(
    st2Tumbling, st3Sliding, st4SessionWindow, st5StreamDedup,
    st6StatefulOp, st6bTransformWithState, st6cTimerSessions, st6dCompositeState,
    st7StreamStaticJoin,
    st8StreamStreamJoin, st10CustomSourceStream, st11StreamToCatalog,
    st12CatalogChangeStream, st13JoinThenWindowAgg, st14StreamingMv,
    st15ChangeFeedStream, st16CdcReplica, st17StreamingUpsert)
}

/** Event-time-timer sessionizer behind st6c: per-user gap sessions via
  * `transformWithState` in `TimeMode.EventTime`. Sessions CLOSED BY
  * DATA (a later event proves the gap elapsed) emit from
  * `handleInputRows`; each user's trailing OPEN session emits from
  * `handleExpiredTimer` when the WATERMARK passes lastTs + gap — the
  * timer-driven flush that makes gap sessionization work on an
  * infinite stream (state + timer are dropped on fire, so per-user
  * state is bounded by one open session). The session ValueState
  * carries a TTL (wall-clock) — sized far above the run here so
  * results stay closed-form; expiry behavior is pinned in
  * StreamingSpec ("ST6c TTL").
  *
  * Input: (user_id, tsMs, value); output: (user_id, n_events,
  * sum_value) per emitted session.
  */
private[graft] class SessionTimerProcessor(gapUs: Long, ttl: Option[java.time.Duration])
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long, Double), (Long, Long, Double)] {
  // (n, sum, lastTsUs, registeredTimerMs) of the user's OPEN session.
  // Session arithmetic stays in MICROSECONDS (the event precision the
  // oracle compares at); only the registered timer is ms (the handle's
  // unit), rounded UP so the timer never fires before the µs-exact
  // close instant.
  @transient private var sess
      : org.apache.spark.sql.streaming.ValueState[(Long, Double, Long, Long)] = _

  override def init(
      outputMode: org.apache.spark.sql.streaming.OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    // Spark permits state TTL only in TimeMode.ProcessingTime — an
    // event-time-timer processor therefore runs TTL-less (None here);
    // the TTL surface is exercised by the processing-time test in
    // StreamingSpec ("ST6c TTL").
    sess = getHandle.getValueState[(Long, Double, Long, Long)]("sess",
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble,
        Encoders.scalaLong, Encoders.scalaLong),
      ttl.map(org.apache.spark.sql.streaming.TTLConfig(_))
        .getOrElse(org.apache.spark.sql.streaming.TTLConfig.NONE))

  override def handleInputRows(
      user: Long,
      rows: Iterator[(Long, Long, Double)],
      timers: org.apache.spark.sql.streaming.TimerValues): Iterator[(Long, Long, Double)] = {
    // A micro-batch delivers a key's rows UNORDERED; gap sessionization
    // is order-dependent, so sort the batch's rows by event time. Rows
    // older than the current open session's tail are late-but-within-
    // watermark stragglers — they extend or back-fill deterministically
    // because the sort puts them in place and the watermark guarantee
    // means no session they belong to has already been flushed.
    val sorted = rows.toArray.sortBy(r => (r._2, r._3))
    val out = Vector.newBuilder[(Long, Long, Double)]
    var (n, sum, lastTs, timer) =
      if (sess.exists()) sess.get() else (0L, 0.0, Long.MinValue, Long.MinValue)
    sorted.foreach { case (_, ts, v) =>
      if (n > 0 && ts - lastTs > gapUs) {
        // Gap proven by data: the open session is closed — emit now,
        // no timer needed.
        out += ((user, n, sum))
        n = 0L; sum = 0.0
      }
      n += 1; sum += v; lastTs = math.max(lastTs, ts)
    }
    if (timer != Long.MinValue) getHandle.deleteTimer(timer)
    val newTimer = (lastTs + gapUs + 999L) / 1000L // µs → ms, ceil
    getHandle.registerTimer(newTimer)
    sess.update((n, sum, lastTs, newTimer))
    out.result().iterator
  }

  override def handleExpiredTimer(
      user: Long,
      timers: org.apache.spark.sql.streaming.TimerValues,
      expired: org.apache.spark.sql.streaming.ExpiredTimerInfo)
      : Iterator[(Long, Long, Double)] = {
    // Watermark passed lastTs + gap: no in-flight event can extend the
    // session — flush it and drop ALL per-user state (bounded state).
    // A firing timer must match the one the CURRENT state registered:
    // timers live outside the TTL'd value, so after a TTL expiry (or
    // any path that lost state without deleting its timer) a STALE
    // timer can fire — honoring it would flush a fresh session early.
    val result =
      if (sess.exists()) {
        val (n, sum, _, t) = sess.get()
        if (t == expired.getExpiryTimeInMs) {
          sess.clear()
          Iterator.single((user, n, sum))
        } else Iterator.empty
      } else Iterator.empty
    result
  }
}

/** Per-user (count, sum) running state via a typed ValueState handle —
  * the transformWithState processor behind st6b.
  */
private[queries] class UserRunningSum
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Double), (Long, Long, Double)] {
  @transient private var state: org.apache.spark.sql.streaming.ValueState[(Long, Double)] = _

  override def init(
      outputMode: org.apache.spark.sql.streaming.OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    state = getHandle.getValueState[(Long, Double)]("agg",
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble),
      org.apache.spark.sql.streaming.TTLConfig.NONE)

  override def handleInputRows(
      user: Long,
      rows: Iterator[(Long, Double)],
      timers: org.apache.spark.sql.streaming.TimerValues): Iterator[(Long, Long, Double)] = {
    val (n0, v0) = if (state.exists()) state.get() else (0L, 0.0)
    var n = n0; var v = v0
    rows.foreach { r => n += 1; v += r._2 }
    state.update((n, v))
    Iterator.single((user, n, v))
  }
}

/** Composite-state profile processor (st6d): the `MapState` +
  * `ListState` surface of `transformWithState`. Per user it keeps
  *  - a MapState[event_type -> count] (the per-key MAP primitive:
  *    point update per row, no read-modify-write of a whole
  *    collection — at scale each row touches one RocksDB key), and
  *  - a ListState holding the top-3 values seen, re-sorted and
  *    truncated per batch — BOUNDED state, and a running top-k is
  *    exactly the global top-k.
  * Emits a snapshot (user, n_types, total, top3_sum) per input batch;
  * `total` is derived by summing the map's counts, so the emitted row
  * is provably consistent with the map (not a separately-drifting
  * counter).
  */
private[queries] class UserProfileProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, String, Double), (Long, Long, Long, Double)] {
  @transient private var types: org.apache.spark.sql.streaming.MapState[String, Long] = _
  @transient private var topv: org.apache.spark.sql.streaming.ListState[Double] = _

  override def init(
      outputMode: org.apache.spark.sql.streaming.OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
    types = getHandle.getMapState[String, Long]("types",
      Encoders.STRING, Encoders.scalaLong,
      org.apache.spark.sql.streaming.TTLConfig.NONE)
    topv = getHandle.getListState[Double]("topv",
      Encoders.scalaDouble, org.apache.spark.sql.streaming.TTLConfig.NONE)
  }

  override def handleInputRows(
      user: Long,
      rows: Iterator[(Long, String, Double)],
      timers: org.apache.spark.sql.streaming.TimerValues)
      : Iterator[(Long, Long, Long, Double)] = {
    val batchVals = Vector.newBuilder[Double]
    rows.foreach { case (_, et, v) =>
      val cur = if (types.containsKey(et)) types.getValue(et) else 0L
      types.updateValue(et, cur + 1L)
      batchVals += v
    }
    val top = (topv.get().toVector ++ batchVals.result())
      .sortBy(-_).take(3)
    topv.put(top.toArray)
    var nTypes = 0L
    var total = 0L
    types.values().foreach { c => nTypes += 1L; total += c }
    Iterator.single((user, nTypes, total, top.sum))
  }
}
