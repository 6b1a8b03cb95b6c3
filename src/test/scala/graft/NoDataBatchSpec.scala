package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, TimeMode}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingOps

/** The streaming harness skips the trailing no-data micro-batch exactly
  * when [[StreamingOps.evictionIsSilent]] proves that evicting state
  * emits no row.
  */
class NoDataBatchSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def silent(sdf: DataFrame): Boolean =
    StreamingOps.evictionIsSilent(sdf.queryExecution.analyzed)

  private def events(): DataFrame = {
    implicit val sqlCtx = spark.sqlContext
    MemoryStream[(Long, String, Timestamp)].toDF().toDF("user_id", "event_type", "ts")
  }

  private def timeBoundedJoin(v: DataFrame, c: DataFrame, how: String): DataFrame =
    v.join(c,
      col("v_user") === col("c_user") &&
        col("c_ts") > col("v_ts") &&
        col("c_ts") <= col("v_ts") + expr("INTERVAL 10 MINUTES"),
      how)

  private def sides(ev: DataFrame): (DataFrame, DataFrame) = (
    ev.filter(col("event_type").isin("view", "scroll"))
      .select(col("event_type").as("view_type"), col("user_id").as("v_user"), col("ts").as("v_ts"))
      .withWatermark("v_ts", "10 minutes"),
    ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "10 minutes"))

  test("silent: an inner stream-stream join with watermarks, and dropDuplicatesWithinWatermark") {
    val (v, c) = sides(events())
    assert(silent(timeBoundedJoin(v, c, "inner")))
    assert(silent(events().withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("user_id", "event_type")))
    // A static side holds no state, whatever it computes.
    val static = Seq((1L, "x")).toDF("c_user", "seg").groupBy("c_user").count()
    assert(silent(v.join(static, col("v_user") === col("c_user"), "left_outer")))
  }

  test("not silent: windowed aggregate, left-outer stream-stream join, group-state operators") {
    val agg = events().withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 minute")).count()
    assert(!silent(agg))
    val (v, c) = sides(events())
    assert(!silent(timeBoundedJoin(v, c, "left_outer")))
    val typed = events().select(col("user_id"), col("event_type")).as[(Long, String)]
    val mgws = typed.groupByKey(_._1).mapGroupsWithState(GroupStateTimeout.NoTimeout) {
      (k: Long, rows: Iterator[(Long, String)], s: GroupState[Long]) =>
        s.update(s.getOption.getOrElse(0L) + rows.size); (k, s.get)
    }
    assert(!silent(mgws.toDF()))
    val tws = events().withWatermark("ts", "10 minutes")
      .selectExpr("user_id", "unix_micros(ts) AS ts_us", "1.0D AS value")
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .transformWithState(
        new graft.queries.SessionTimerProcessor(gapUs = 60L * 1000 * 1000, ttl = None),
        TimeMode.EventTime(), OutputMode.Append(),
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaDouble))
    assert(!silent(tws.toDF()))
  }

  test("runForeachBatch: the inner join runs one batch, the left-outer join two; same matches") {
    // User u views (or scrolls) at 30u s and clicks u % 25 minutes later:
    // lags of 1..10 minutes match, 0 and 11..24 leave the view unmatched.
    val dir = EventsLoaderSpec.writeSingleFile(
      (0L until 200L).flatMap { u =>
        val t = 1700000000L + 30 * u
        Seq((2 * u, t, u, if (u % 2 == 0) "view" else "scroll"),
          (2 * u + 1, t + 60 * (u % 25), u, "click"))
      }.toDF("event_id", "epoch", "user_id", "event_type")
        .select(col("event_id"), timestamp_seconds(col("epoch")).as("ts"), col("user_id"),
          col("event_type"), lit(1.0).as("value"), lit("{}").as("props")),
      "no_data_batch")
    def run(how: String): (Seq[Long], Long, Long) = {
      val (v, c) = sides(StreamingOps.eventsStream(spark, dir))
      val ids = java.util.Collections.synchronizedList(new java.util.ArrayList[Long]())
      val acc = new java.util.concurrent.atomic.AtomicReference((0L, 0L))
      StreamingOps.runForeachBatch(spark, timeBoundedJoin(v, c, how), (batch, id) => {
        ids.add(id)
        val r = batch.filter(col("c_user").isNotNull)
          .agg(count(lit(1)), coalesce(sum(col("c_ts").cast("long") - col("v_ts").cast("long")), lit(0L)))
          .head()
        acc.updateAndGet(a => (a._1 + r.getLong(0), a._2 + r.getLong(1)))
      })
      import scala.jdk.CollectionConverters._
      (ids.asScala.toSeq, acc.get._1, acc.get._2)
    }
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val before = spark.conf.getAll.get(key)
    val (innerIds, innerN, innerLag) = run("inner")
    val (outerIds, outerN, outerLag) = run("left_outer")
    assert(spark.conf.getAll.get(key) == before, "the skip must not outlive the run")
    assert(innerIds == Seq(0L))
    assert(outerIds == Seq(0L, 1L))
    val ev = Tables.events(spark, dir)
    val (bv, bc) = sides(ev)
    val batch = timeBoundedJoin(bv, bc, "inner")
      .agg(count(lit(1)), sum(col("c_ts").cast("long") - col("v_ts").cast("long")))
      .head()
    assert(innerN == 80L && innerN == batch.getLong(0) && innerLag == batch.getLong(1))
    assert(outerN == innerN && outerLag == innerLag)
  }
}
