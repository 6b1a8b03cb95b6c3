package graft

import org.scalatest.funsuite.AnyFunSuite

/** Per-table retention overrides (`'graft.retention.seconds'` /
  * `'graft.retention.snapshots'` TBLPROPERTIES — the Delta
  * logRetentionDuration / Iceberg history.expire.* shape): one table
  * can pin a long time-travel window for slow CDC consumers while
  * another keeps metadata tight, without touching the catalog-wide
  * JVM default. Claims under test: the count cap and the age window
  * apply per table (siblings unaffected), tagged snapshots stay
  * exempt, expired versions actually GC, UNSET restores the default,
  * and malformed values refuse at SET/CREATE time — never a silent
  * fallback.
  */
class RetentionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def snapshots(t: String): Long =
    spark.sql(s"SELECT count(*) FROM graft.$t.history").collect().head.getLong(0)

  test("per-table snapshot count cap expires old versions; siblings keep the default") {
    spark.sql("DROP TABLE IF EXISTS graft.ret.capped")
    spark.sql("DROP TABLE IF EXISTS graft.ret.plain")
    spark.sql("CREATE TABLE graft.ret.capped (k BIGINT) USING graft " +
      "TBLPROPERTIES ('graft.retention.snapshots'='3')")
    spark.sql("CREATE TABLE graft.ret.plain (k BIGINT) USING graft")
    (1 to 8).foreach { i =>
      spark.sql(s"INSERT INTO graft.ret.capped VALUES ($i)")
      spark.sql(s"INSERT INTO graft.ret.plain VALUES ($i)")
    }
    assert(snapshots("ret.capped") == 3, "cap must hold at the override")
    // The sibling rides the catalog default (64) — all 9 commits retained.
    assert(snapshots("ret.plain") == 9, "override must not leak across tables")
    // Expired versions are gone; retained ones still time-travel.
    intercept[Exception](
      spark.sql("SELECT * FROM graft.ret.capped VERSION AS OF 1").collect())
    assert(spark.sql("SELECT count(*) FROM graft.ret.capped VERSION AS OF 7")
      .collect().head.getLong(0) == 7)
    spark.sql("DROP TABLE graft.ret.capped")
    spark.sql("DROP TABLE graft.ret.plain")
  }

  test("age-zero retention keeps only the current snapshot; UNSET restores the default") {
    spark.sql("DROP TABLE IF EXISTS graft.ret.age")
    spark.sql("CREATE TABLE graft.ret.age (k BIGINT) USING graft")
    spark.sql("INSERT INTO graft.ret.age VALUES (1)")
    spark.sql("INSERT INTO graft.ret.age VALUES (2)")
    assert(snapshots("ret.age") == 3)
    spark.sql(
      "ALTER TABLE graft.ret.age SET TBLPROPERTIES ('graft.retention.seconds'='0')")
    spark.sql("INSERT INTO graft.ret.age VALUES (3)") // publish expires the rest
    assert(snapshots("ret.age") == 1, "zero window retains only current")
    intercept[Exception](
      spark.sql("SELECT * FROM graft.ret.age VERSION AS OF 1").collect())
    // Back to the default window: subsequent commits accumulate again.
    spark.sql(
      "ALTER TABLE graft.ret.age UNSET TBLPROPERTIES ('graft.retention.seconds')")
    spark.sql("INSERT INTO graft.ret.age VALUES (4)")
    spark.sql("INSERT INTO graft.ret.age VALUES (5)")
    assert(snapshots("ret.age") == 3)
    assert(spark.sql("SELECT sum(k) FROM graft.ret.age").collect().head.getLong(0) == 15)
    spark.sql("DROP TABLE graft.ret.age")
  }

  test("tagged snapshots are exempt from the per-table cap") {
    spark.sql("DROP TABLE IF EXISTS graft.ret.tagged")
    spark.sql("CREATE TABLE graft.ret.tagged (k BIGINT) USING graft " +
      "TBLPROPERTIES ('graft.retention.snapshots'='2')")
    spark.sql("INSERT INTO graft.ret.tagged VALUES (1)") // v1
    spark.sql("ALTER TABLE graft.ret.tagged SET TBLPROPERTIES ('graft.tag.pin'='1')")
    (2 to 6).foreach(i => spark.sql(s"INSERT INTO graft.ret.tagged VALUES ($i)"))
    // 2 untagged + the pinned v1.
    assert(snapshots("ret.tagged") == 3)
    assert(spark.sql("SELECT count(*) FROM graft.ret.tagged VERSION AS OF 'pin'")
      .collect().head.getLong(0) == 1, "the tag's version must stay readable")
    spark.sql("DROP TABLE graft.ret.tagged")
  }

  test("malformed retention values refuse at SET and CREATE time") {
    spark.sql("DROP TABLE IF EXISTS graft.ret.bad")
    spark.sql("CREATE TABLE graft.ret.bad (k BIGINT) USING graft")
    val e1 = intercept[Exception](spark.sql(
      "ALTER TABLE graft.ret.bad SET TBLPROPERTIES ('graft.retention.snapshots'='zero')"))
    assert(e1.getMessage.contains("graft.retention.snapshots"))
    val e2 = intercept[Exception](spark.sql(
      "ALTER TABLE graft.ret.bad SET TBLPROPERTIES ('graft.retention.snapshots'='0')"))
    assert(e2.getMessage.contains(">= 1"))
    val e3 = intercept[Exception](spark.sql(
      "ALTER TABLE graft.ret.bad SET TBLPROPERTIES ('graft.retention.seconds'='-5')"))
    assert(e3.getMessage.contains(">= 0"))
    intercept[Exception](spark.sql(
      "CREATE TABLE graft.ret.bad2 (k BIGINT) USING graft " +
        "TBLPROPERTIES ('graft.retention.seconds'='soon')"))
    spark.sql("DROP TABLE graft.ret.bad")
  }
}
