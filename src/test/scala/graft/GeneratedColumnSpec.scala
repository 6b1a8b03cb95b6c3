package graft

import org.scalatest.funsuite.AnyFunSuite

/** Generated columns (`GENERATED ALWAYS AS (expr)`): Spark validates
  * the expression at CREATE (deterministic, non-generated references,
  * type match) and delivers NULL for the omitted column; the writer
  * resolves the expression once driver-side and computes values in
  * the codegen'd write projection.
  */
class GeneratedColumnSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("omitted generated columns are computed; expressions span functions and columns") {
    spark.sql("DROP TABLE IF EXISTS graft.gen.a PURGE")
    spark.sql(
      """CREATE TABLE graft.gen.a (
        |  a BIGINT, b BIGINT,
        |  total BIGINT GENERATED ALWAYS AS (a + b),
        |  tag STRING GENERATED ALWAYS AS (concat('k-', CAST(a % 3 AS STRING))))
        |USING graft""".stripMargin)
    spark.sql("INSERT INTO graft.gen.a (a, b) VALUES (1, 10), (2, 20), (3, 30)")
    val rows = spark.sql("SELECT a, b, total, tag FROM graft.gen.a ORDER BY a")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(rows == Seq((1L, 10L, 11L, "k-1"), (2L, 20L, 22L, "k-2"), (3L, 30L, 33L, "k-0")))
    spark.sql("DROP TABLE graft.gen.a PURGE")
  }

  test("explicit values for a GENERATED ALWAYS column are refused") {
    spark.sql("DROP TABLE IF EXISTS graft.gen.s PURGE")
    spark.sql(
      "CREATE TABLE graft.gen.s (a BIGINT, d BIGINT GENERATED ALWAYS AS (a * 2)) USING graft")
    val e = intercept[Exception] {
      spark.sql("INSERT INTO graft.gen.s VALUES (1, 999)")
    }
    assert(e.getMessage.contains("GENERATED ALWAYS") ||
      Option(e.getCause).exists(_.getMessage.contains("GENERATED ALWAYS")))
    spark.sql("DROP TABLE graft.gen.s PURGE")
  }

  test("generated values survive row-level rewrites; timestamp derivations work") {
    spark.sql("DROP TABLE IF EXISTS graft.gen.t PURGE")
    spark.sql(
      """CREATE TABLE graft.gen.t (
        |  ts TIMESTAMP, v BIGINT,
        |  event_day DATE GENERATED ALWAYS AS (CAST(ts AS DATE)))
        |USING graft""".stripMargin)
    spark.sql("INSERT INTO graft.gen.t (ts, v) VALUES " +
      "(TIMESTAMP '2024-03-01 10:00:00', 1), (TIMESTAMP '2024-03-02 23:59:59', 2)")
    spark.sql("UPDATE graft.gen.t SET v = v * 100 WHERE v = 1")
    // An UPDATE touching the REFERENCED column must recompute the
    // derived value — carrying the stale one is a correctness bug.
    spark.sql("UPDATE graft.gen.t SET ts = TIMESTAMP '2024-04-15 08:00:00' WHERE v = 2")
    val rows = spark.sql(
      "SELECT CAST(event_day AS STRING), v FROM graft.gen.t ORDER BY v")
      .as[(String, Long)].collect().toSeq
    assert(rows == Seq(("2024-04-15", 2L), ("2024-03-01", 100L)),
      "v=2's day re-derives from the new ts; v=100's untouched derivation rides through")
    spark.sql("DROP TABLE graft.gen.t PURGE")
  }

  test("hidden partitioning over a generated column routes by the computed value") {
    spark.sql("DROP TABLE IF EXISTS graft.gen.p PURGE")
    spark.sql(
      """CREATE TABLE graft.gen.p (
        |  k BIGINT,
        |  bucket3 BIGINT GENERATED ALWAYS AS (k % 3))
        |USING graft PARTITIONED BY (bucket3)""".stripMargin)
    spark.range(0, 90, 1, 3).selectExpr("id AS k", "CAST(NULL AS BIGINT) AS bucket3")
      .writeTo("graft.gen.p").append()
    assert(graft.sources.GraftCatalog.segmentCount("gen", "p") == 3,
      "write clustering keys on the COMPUTED value -> one segment per bucket")
    val q = spark.table("graft.gen.p").filter($"bucket3" === 1L)
    assert(q.rdd.getNumPartitions == 1, "partition pruning on the generated column")
    assert(q.count() == 30L)
    spark.sql("DROP TABLE graft.gen.p PURGE")
  }

  test("rename/drop of a referenced column refuses; invalid expressions refuse at CREATE") {
    spark.sql("DROP TABLE IF EXISTS graft.gen.g PURGE")
    spark.sql(
      "CREATE TABLE graft.gen.g (a BIGINT, d BIGINT GENERATED ALWAYS AS (a + 1)) USING graft")
    val er = intercept[Exception] {
      spark.sql("ALTER TABLE graft.gen.g RENAME COLUMN a TO z")
    }
    assert(er.getMessage.contains("generation expression"))
    val ed = intercept[Exception] {
      spark.sql("ALTER TABLE graft.gen.g DROP COLUMN a")
    }
    assert(ed.getMessage.contains("generation expression"))
    spark.sql("DROP TABLE graft.gen.g PURGE")
    // Spark's own CREATE-time validation: non-deterministic expression.
    val ec = intercept[Exception] {
      spark.sql("CREATE TABLE graft.gen.bad " +
        "(a BIGINT, r DOUBLE GENERATED ALWAYS AS (rand())) USING graft")
    }
    assert(ec.getMessage.toLowerCase.contains("generat"))
  }

  test("rename/drop guards match generation references case-insensitively") {
    // The stored SQL text preserves the user's casing while Spark
    // resolves case-insensitively — `CAST(TS AS DATE)` must still pin
    // `ts` against rename/drop or every future write breaks.
    spark.sql("DROP TABLE IF EXISTS graft.gen.ci PURGE")
    spark.sql("CREATE TABLE graft.gen.ci " +
      "(ts TIMESTAMP, d DATE GENERATED ALWAYS AS (CAST(TS AS DATE))) USING graft")
    val er = intercept[Exception] {
      spark.sql("ALTER TABLE graft.gen.ci RENAME COLUMN ts TO t2")
    }
    assert(er.getMessage.contains("generation expression"))
    val ed = intercept[Exception] {
      spark.sql("ALTER TABLE graft.gen.ci DROP COLUMN ts")
    }
    assert(ed.getMessage.contains("generation expression"))
    spark.sql("DROP TABLE graft.gen.ci PURGE")
  }

  test("streaming writes compute generated columns (stateless projection)") {
    spark.sql("DROP TABLE IF EXISTS graft.gen.st PURGE")
    spark.sql(
      "CREATE TABLE graft.gen.st (v BIGINT, sq BIGINT GENERATED ALWAYS AS (v * v)) USING graft")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    ms.addData(2L, 5L)
    val q = ms.toDF().selectExpr("value AS v", "CAST(NULL AS BIGINT) AS sq")
      .writeStream
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("gen_ck").toString)
      .toTable("graft.gen.st")
    q.processAllAvailable(); q.stop()
    assert(spark.sql("SELECT sq FROM graft.gen.st ORDER BY sq")
      .as[Long].collect().toSeq == Seq(4L, 25L))
    spark.sql("DROP TABLE graft.gen.st PURGE")
  }
}
