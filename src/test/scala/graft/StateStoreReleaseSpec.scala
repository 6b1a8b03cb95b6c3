package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingOps

/** A finished engine stream releases its state stores: once
  * [[StreamingOps.runToBatch]] or [[StreamingOps.runForeachBatch]]
  * returns, no provider of the query's last plan is loaded, and repeated
  * runs leave no checksum checkpoint threads behind.
  */
class StateStoreReleaseSpec extends AnyFunSuite {
  import StateStoreReleaseSpec._
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val dir = EventsLoaderSpec.writeSingleFile(
    (0L until 200L).flatMap { u =>
      val t = 1700000000L + 30 * u
      Seq((2 * u, t, u, "view"), (2 * u + 1, t + 60 * (u % 7), u, "click"))
    }.toDF("event_id", "epoch", "user_id", "event_type")
      .select(col("event_id"), timestamp_seconds(col("epoch")).as("ts"), col("user_id"),
        col("event_type"), lit(1.0).as("value"), lit("{}").as("props")),
    "state_release")

  /** Run `body` and return the streaming queries it started. */
  private def started(body: => Unit): Seq[StreamingQuery] = {
    val qs = java.util.Collections.synchronizedList(new java.util.ArrayList[StreamingQuery]())
    // onQueryStarted runs before start() returns, while the query is active.
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = qs.add(spark.streams.get(e.id))
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try body finally spark.streams.removeListener(listener)
    qs.asScala.toSeq
  }

  private def windowCounts(): DataFrame =
    StreamingOps.runToBatch(spark,
      StreamingOps.eventsStream(spark, dir).withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "5 minutes"), col("event_type")).count(),
      "append", "state_release_window")

  private def joinPairs(): Long = {
    val ev = StreamingOps.eventsStream(spark, dir)
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts")).withWatermark("v_ts", "10 minutes")
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts")).withWatermark("c_ts", "10 minutes")
    val pairs = new java.util.concurrent.atomic.AtomicLong()
    StreamingOps.runForeachBatch(spark,
      v.join(c, col("v_user") === col("c_user") && col("c_ts") >= col("v_ts") &&
        col("c_ts") <= col("v_ts") + expr("INTERVAL 10 MINUTES")),
      (batch, _) => pairs.addAndGet(batch.count()))
    pairs.get
  }

  private def assertReleased(qs: Seq[StreamingQuery], stores: Int): Unit = {
    assert(qs.size == 1)
    val ids = GraftSqlBridge.stateStoreProviderIds(qs.head)
    assert(ids.size == stores, ids.mkString(", "))
    val loaded = ids.filter(GraftSqlBridge.stateStoreLoaded)
    assert(loaded.isEmpty, s"still loaded: ${loaded.mkString(", ")}")
  }

  test("runToBatch: a watermarked window aggregate releases every state store it loaded") {
    var rows = 0L
    val qs = started { rows = windowCounts().count() }
    assert(rows > 0)
    // One aggregate: one store per state partition.
    assertReleased(qs, StreamingOps.StatePartitions)
  }

  test("runForeachBatch: a stream-stream inner join releases every state store it loaded") {
    var pairs = 0L
    val qs = started { pairs = joinPairs() }
    assert(pairs == 200L)
    // A symmetric hash join keeps 4 stores (2 per side) per state partition.
    assertReleased(qs, 4 * StreamingOps.StatePartitions)
  }

  test("repeated runs leave no checksum checkpoint threads behind") {
    val before = checksumThreads()
    (1 to 3).foreach { i =>
      windowCounts().count()
      joinPairs()
      val after = settledThreads(before)
      assert(after <= before, s"run $i: $before checksum threads before, $after after")
    }
  }
}

object StateStoreReleaseSpec {

  /** Live threads of Spark's checksum checkpoint pools: every loaded
    * state-store provider holds one pool of them.
    */
  def checksumThreads(): Int =
    Thread.getAllStackTraces.keySet.asScala
      .count(t => t.isAlive && t.getName.startsWith("ChecksumCheckpointFileManager-Thread-"))

  /** The checksum thread count once it has settled at or below `limit`
    * (a closed pool's threads exit asynchronously), or after 5 s.
    */
  def settledThreads(limit: Int): Int = {
    val deadline = System.nanoTime() + 5000000000L
    var n = checksumThreads()
    while (n > limit && System.nanoTime() < deadline) {
      Thread.sleep(50)
      n = checksumThreads()
    }
    n
  }
}
