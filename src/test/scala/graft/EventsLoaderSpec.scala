package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The driver regenerates testdata between rounds and has already
  * shipped `events.ts` in two physical encodings (TIMESTAMP(NANOS)
  * readable only as a raw long, then plain TIMESTAMP(MICROS)/NTZ). The
  * round-10 breakage: a hardcoded ns-as-long reader failed analysis on
  * the µs files in batch, and the streaming source's hardcoded LongType
  * schema silently read µs int64 as ns — timestamps compressed 1000×,
  * wrong window counts, no error. These tests pin the adaptive loader:
  * every encoding of the same instant must normalize to the same µs
  * TimestampType value, batch and streaming alike.
  */
class EventsLoaderSpec extends AnyFunSuite {
  import EventsLoaderSpec.writeSingleFile
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // One row per encoding, same instant: 2024-01-02 03:04:05.678901 UTC.
  private val micros = 1704164645678901L

  private def normalizedTs(dir: String): (DataType, Long) = {
    val df = Tables.events(spark, dir)
    val tpe = df.schema("ts").dataType
    val v = df.select(unix_micros(col("ts"))).as[Long].collect().head
    (tpe, v)
  }

  test("batch loader: ns-as-long encoding normalizes to µs TimestampType") {
    val dir = writeSingleFile(
      Seq((0L, micros * 1000L, 1L, "click", 1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
      "ns")
    val (tpe, v) = normalizedTs(dir)
    assert(tpe == TimestampType)
    assert(v == micros)
  }

  test("batch loader: TIMESTAMP_NTZ encoding normalizes to the same value") {
    val dir = writeSingleFile(
      Seq((0L, micros, 1L, "click", 1.0, "{}"))
        .toDF("event_id", "us", "user_id", "event_type", "value", "props")
        .withColumn("ts", timestamp_micros(col("us")).cast(TimestampNTZType))
        .drop("us")
        .select("event_id", "ts", "user_id", "event_type", "value", "props"),
      "ntz")
    val (tpe, v) = normalizedTs(dir)
    assert(tpe == TimestampType)
    assert(v == micros)
  }

  test("batch loader: plain TimestampType encoding passes through unchanged") {
    val dir = writeSingleFile(
      Seq((0L, micros, 1L, "click", 1.0, "{}"))
        .toDF("event_id", "us", "user_id", "event_type", "value", "props")
        .withColumn("ts", timestamp_micros(col("us"))).drop("us")
        .select("event_id", "ts", "user_id", "event_type", "value", "props"),
      "ts")
    val (tpe, v) = normalizedTs(dir)
    assert(tpe == TimestampType)
    assert(v == micros)
  }

  test("only a TIMESTAMP(NANOS) footer sets nanosAsLong; ns truncate exactly to µs") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val flag = "spark.sql.legacy.parquet.nanosAsLong"
    // Spark cannot write TIMESTAMP(NANOS); parquet-hadoop can.
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    val nsDir = java.nio.file.Files.createTempDirectory("graft_events_nanos")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(nsDir.resolve("events.parquet").toUri))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 0L).append("ts", micros * 1000L + 999L))
    finally w.close()
    val usDir = writeSingleFile(
      Seq((0L, micros)).toDF("event_id", "us")
        .withColumn("ts", timestamp_micros(col("us")).cast(TimestampNTZType)).drop("us"),
      "us_flag")
    spark.conf.unset(flag)
    try {
      assert(normalizedTs(usDir) == ((TimestampType, micros)))
      assert(!spark.conf.getAll.contains(flag), "a MICROS footer must not set the flag")
      assert(normalizedTs(nsDir.toString) == ((TimestampType, micros)))
      assert(spark.conf.get(flag) == "true")
    } finally spark.conf.unset(flag)
  }

  test("streaming source normalizes ts identically to the batch loader") {
    // NTZ staged dir (today's real encoding) through the file-stream
    // source: the probed schema must land on the same µs value the
    // batch loader produces — a 1000× compression here is exactly the
    // round-10 silent-corruption mode.
    val dir = writeSingleFile(
      Seq((0L, micros, 1L, "click", 1.0, "{}"))
        .toDF("event_id", "us", "user_id", "event_type", "value", "props")
        .withColumn("ts", timestamp_micros(col("us")).cast(TimestampNTZType))
        .drop("us")
        .select("event_id", "ts", "user_id", "event_type", "value", "props"),
      "stream")
    val sdf = streaming.StreamingOps.eventsStream(spark, dir)
      .select(col("event_id"), unix_micros(col("ts")).as("us"))
    val out = streaming.StreamingOps.runToBatch(spark, sdf, "append", "events_loader_spec")
    assert(out.select("us").as[Long].collect().toSeq == Seq(micros))
  }
}

object EventsLoaderSpec {
  /** The real testdata ships `events.parquet` as a single FILE (the
    * streaming stager Files.copy-es that exact path), so mimic it:
    * write through Spark, then promote the single part file.
    */
  def writeSingleFile(df: org.apache.spark.sql.DataFrame, suffix: String): String = {
    import java.nio.file.{Files, StandardCopyOption}
    val d = Files.createTempDirectory(s"graft_events_$suffix")
    val stage = d.resolve("_stage")
    df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val listing = Files.list(stage)
    val part =
      try listing.filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().orElseThrow()
      finally listing.close()
    Files.move(part, d.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    d.toString
  }
}
