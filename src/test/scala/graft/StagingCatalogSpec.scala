package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.GraftCatalog

/** StagingTableCatalog (atomic CTAS / RTAS): data lands in a private
  * staging dir and the metastore swap happens only at
  * commitStagedChanges — a failing SELECT must leave no table (CTAS)
  * and leave the OLD table fully readable (RTAS).
  */
class StagingCatalogSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("CREATE TABLE AS SELECT commits atomically with data") {
    spark.sql("DROP TABLE IF EXISTS graft.stg.ctas")
    spark.sql(
      """CREATE TABLE graft.stg.ctas USING graft AS
        |SELECT id AS k, id * 2 AS dbl FROM range(0, 100)""".stripMargin)
    assert(spark.sql("SELECT count(*), sum(dbl) FROM graft.stg.ctas")
      .as[(Long, Long)].head() == ((100L, 9900L)))
  }

  test("a failing CTAS leaves NO table behind") {
    spark.sql("DROP TABLE IF EXISTS graft.stg.ctasfail")
    intercept[Exception] {
      spark.sql(
        """CREATE TABLE graft.stg.ctasfail USING graft AS
          |SELECT id, CAST(raise_error('boom') AS STRING) AS s FROM range(0, 10)""".stripMargin)
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM graft.stg.ctasfail").collect()
    }
    assert(GraftCatalog.rowCount("stg", "ctasfail") == 0L)
  }

  test("REPLACE TABLE AS SELECT swaps atomically; failure keeps the old table intact") {
    spark.sql("DROP TABLE IF EXISTS graft.stg.rtas")
    spark.sql(
      "CREATE TABLE graft.stg.rtas USING graft AS SELECT id AS k FROM range(0, 10)")
    spark.sql(
      "REPLACE TABLE graft.stg.rtas USING graft AS SELECT id AS k, id % 3 AS m FROM range(0, 50)")
    assert(spark.sql("SELECT count(*) FROM graft.stg.rtas").as[Long].head() == 50L)
    assert(spark.table("graft.stg.rtas").columns.toSeq == Seq("k", "m"))
    // Failing RTAS: the old 50-row table must survive untouched.
    intercept[Exception] {
      spark.sql(
        """REPLACE TABLE graft.stg.rtas USING graft AS
          |SELECT id AS k, CAST(raise_error('boom') AS STRING) AS s FROM range(0, 10)""".stripMargin)
    }
    assert(spark.sql("SELECT count(*) FROM graft.stg.rtas").as[Long].head() == 50L)
    assert(spark.table("graft.stg.rtas").columns.toSeq == Seq("k", "m"))
    // CREATE OR REPLACE works on both existing and missing targets.
    spark.sql(
      "CREATE OR REPLACE TABLE graft.stg.rtas USING graft AS SELECT id AS j FROM range(0, 7)")
    assert(spark.sql("SELECT count(*) FROM graft.stg.rtas").as[Long].head() == 7L)
    spark.sql("DROP TABLE IF EXISTS graft.stg.rtas2")
    spark.sql(
      "CREATE OR REPLACE TABLE graft.stg.rtas2 USING graft AS SELECT id AS j FROM range(0, 3)")
    assert(spark.sql("SELECT count(*) FROM graft.stg.rtas2").as[Long].head() == 3L)
    // REPLACE of a missing table is an analysis error, not a create.
    spark.sql("DROP TABLE IF EXISTS graft.stg.nope")
    intercept[Exception] {
      spark.sql("REPLACE TABLE graft.stg.nope USING graft AS SELECT id FROM range(0, 3)")
    }
  }

  test("REPLACE is one commit: time travel crosses it and a change stream sees it") {
    spark.sql("DROP TABLE IF EXISTS graft.stg.tt")
    spark.sql("CREATE TABLE graft.stg.tt USING graft AS SELECT id AS k FROM range(0, 5)")
    spark.sql("INSERT INTO graft.stg.tt VALUES (100)")
    val vBefore = spark.sql("CALL graft.system.history('stg', 'tt')")
      .select("version").as[Long].collect().max
    spark.sql("REPLACE TABLE graft.stg.tt USING graft AS SELECT id AS k FROM range(0, 2)")
    assert(spark.sql("SELECT count(*) FROM graft.stg.tt").as[Long].head() == 2L)
    // The pre-REPLACE snapshot still serves reads.
    assert(spark.sql(s"SELECT count(*) FROM graft.stg.tt VERSION AS OF $vBefore")
      .as[Long].head() == 6L)
    // Partitioned CTAS stages through the same path.
    spark.sql("DROP TABLE IF EXISTS graft.stg.pctas")
    spark.sql(
      """CREATE TABLE graft.stg.pctas USING graft PARTITIONED BY (m) AS
        |SELECT id AS k, CAST(id % 3 AS STRING) AS m FROM range(0, 30)""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM graft.stg.pctas WHERE m = '1'")
      .as[Long].head() == 10L)
    assert(GraftCatalog.segmentCount("stg", "pctas") == 3)
  }
}
