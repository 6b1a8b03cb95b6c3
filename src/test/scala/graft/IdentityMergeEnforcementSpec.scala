package graft

import org.scalatest.funsuite.AnyFunSuite

/** GENERATED ALWAYS enforcement inside row-level rewrites: a MERGE's
  * NOT MATCHED INSERT must not smuggle explicit identity values past
  * the refusal plain INSERT enforces — the writer separates carried
  * (pre-existing) rows from insert-action rows via the _row_id
  * metadata the row-level operation requests, and refuses explicit
  * ALWAYS values only on the new rows.
  */
class IdentityMergeEnforcementSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("MERGE explicit insert into GENERATED ALWAYS identity is refused") {
    spark.sql("DROP TABLE IF EXISTS graft.idn.p PURGE")
    spark.sql("CREATE TABLE graft.idn.p " +
      "(id BIGINT GENERATED ALWAYS AS IDENTITY, k BIGINT) USING graft")
    spark.sql("INSERT INTO graft.idn.p (k) VALUES (1)")
    spark.range(5, 7).selectExpr("id AS k", "id * 1000 AS id2")
      .createOrReplaceTempView("probe_src")
    // The MATCHED clause forces the group-based rewrite path (an
    // insert-only MERGE plans as a plain append, which was already
    // strict) — the path where carried rows and new rows share one
    // writer and only the metadata row separates them.
    val e = intercept[Exception] {
      spark.sql(
        """MERGE INTO graft.idn.p t USING probe_src s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET k = s.k
          |WHEN NOT MATCHED THEN INSERT (id, k) VALUES (s.id2, s.k)""".stripMargin)
    }
    def hasMsg(t: Throwable): Boolean =
      t != null && (t.getMessage != null && t.getMessage.contains("GENERATED ALWAYS") ||
        hasMsg(t.getCause))
    assert(hasMsg(e), s"expected the GENERATED ALWAYS refusal, got: $e")
    // Nothing landed: the refused MERGE aborted atomically.
    assert(spark.sql("SELECT count(*) FROM graft.idn.p").head().getLong(0) == 1L)
    spark.sql("DROP TABLE graft.idn.p PURGE")
  }

  test("UPDATE cannot assign a GENERATED ALWAYS identity column") {
    spark.sql("DROP TABLE IF EXISTS graft.idn.up PURGE")
    spark.sql("CREATE TABLE graft.idn.up " +
      "(id BIGINT GENERATED ALWAYS AS IDENTITY, k BIGINT) USING graft")
    spark.sql("INSERT INTO graft.idn.up (k) VALUES (1), (2)")
    val e = intercept[Exception] {
      spark.sql("UPDATE graft.idn.up SET id = 99 WHERE k = 1")
    }
    assert(e.getMessage.contains("UPDATE cannot assign"), s"got: $e")
    // Non-identity updates still work — carried ids ride through.
    spark.sql("UPDATE graft.idn.up SET k = 10 WHERE k = 1")
    val rows = spark.sql("SELECT id, k FROM graft.idn.up ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows.map(_._2) == Seq(2L, 10L) && rows.map(_._1).distinct.length == 2)
    spark.sql("DROP TABLE graft.idn.up PURGE")
  }

  test("UPDATE cannot NULL a GENERATED ALWAYS identity column") {
    // A NULL slot is a legitimate generation marker only for MERGE
    // insert-action rows; on an UPDATE every row is carried, so letting
    // `SET id = NULL` through would have the writer silently mint a
    // fresh id for an existing row — changing its identity.
    spark.sql("DROP TABLE IF EXISTS graft.idn.un PURGE")
    spark.sql("CREATE TABLE graft.idn.un " +
      "(id BIGINT GENERATED ALWAYS AS IDENTITY, k BIGINT) USING graft")
    spark.sql("INSERT INTO graft.idn.un (k) VALUES (1), (2)")
    val before = spark.sql("SELECT id FROM graft.idn.un ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    val e = intercept[Exception] {
      spark.sql("UPDATE graft.idn.un SET id = NULL WHERE k = 1")
    }
    assert(e.getMessage.contains("UPDATE cannot assign"), s"got: $e")
    val after = spark.sql("SELECT id FROM graft.idn.un ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(after == before, "refused UPDATE must not change any identity")
    spark.sql("DROP TABLE graft.idn.un PURGE")
  }

  test("MERGE UPDATE action cannot assign a GENERATED ALWAYS identity column") {
    spark.sql("DROP TABLE IF EXISTS graft.idn.mu PURGE")
    spark.sql("CREATE TABLE graft.idn.mu " +
      "(id BIGINT GENERATED ALWAYS AS IDENTITY, k BIGINT) USING graft")
    spark.sql("INSERT INTO graft.idn.mu (k) VALUES (1)")
    spark.range(1, 2).selectExpr("id AS k").createOrReplaceTempView("mu_src")
    val e = intercept[Exception] {
      spark.sql(
        """MERGE INTO graft.idn.mu t USING mu_src s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET id = 42""".stripMargin)
    }
    assert(e.getMessage.contains("UPDATE cannot assign"), s"got: $e")
    spark.sql("DROP TABLE graft.idn.mu PURGE")
  }

  test("MERGE with omitted identity column still generates through the rewrite") {
    spark.sql("DROP TABLE IF EXISTS graft.idn.p2 PURGE")
    spark.sql("CREATE TABLE graft.idn.p2 " +
      "(id BIGINT GENERATED ALWAYS AS IDENTITY, k BIGINT, v BIGINT) USING graft")
    spark.sql("INSERT INTO graft.idn.p2 (k, v) VALUES (1, 10), (2, 20)")
    spark.range(2, 5).selectExpr("id AS k", "id * 100 AS v")
      .createOrReplaceTempView("probe_src2")
    spark.sql(
      """MERGE INTO graft.idn.p2 t USING probe_src2 s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
    val ids = spark.sql("SELECT id FROM graft.idn.p2").collect().map(_.getLong(0))
    assert(ids.length == 4 && ids.distinct.length == 4,
      "carried rows keep ids; merge-inserted rows get fresh unique ids")
    spark.sql("DROP TABLE graft.idn.p2 PURGE")
  }
}
