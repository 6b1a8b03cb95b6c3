package graft

import org.scalatest.funsuite.AnyFunSuite

/** Snapshot TAGS (`'graft.tag.<name>'='<version>'` + `VERSION AS OF
  * '<name>'`): named refs that pin a snapshot against retention expiry
  * — the "audited dataset release" primitive. The load-bearing
  * assertion is survival PAST the retention count cap while untagged
  * neighbors expire.
  */
class SnapshotTagSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("VERSION AS OF 'tag' resolves; tagged snapshots outlive retention churn") {
    spark.sql("DROP TABLE IF EXISTS graft.tags.t")
    spark.sql("CREATE TABLE graft.tags.t (k BIGINT) USING graft")
    spark.sql("INSERT INTO graft.tags.t VALUES (1)") // v1
    spark.sql("INSERT INTO graft.tags.t VALUES (2)") // v2: {1,2}
    spark.sql("INSERT INTO graft.tags.t VALUES (3)") // v3: {1,2,3}
    spark.sql("ALTER TABLE graft.tags.t SET TBLPROPERTIES ('graft.tag.stable'='2')")
    def stableRows(): Seq[Long] =
      spark.sql("SELECT k FROM graft.tags.t VERSION AS OF 'stable' ORDER BY k")
        .as[Long].collect().toSeq
    assert(stableRows() == Seq(1L, 2L))
    // Churn well past the 64-snapshot retention cap: untagged versions
    // around the tag expire, the tagged one must not.
    (0 until 66).foreach(i =>
      spark.sql(s"INSERT INTO graft.tags.t VALUES (${100 + i})"))
    assert(stableRows() == Seq(1L, 2L), "tagged snapshot must survive the cap")
    // ...while an UNTAGGED old neighbor is genuinely expired (proves
    // the churn exceeded retention, i.e. the tag did real work).
    intercept[Exception](
      spark.sql("SELECT k FROM graft.tags.t VERSION AS OF 3").collect())
    // UNSET releases the pin: the next publish expires it (cap long
    // exceeded), and the tag name no longer resolves.
    spark.sql("ALTER TABLE graft.tags.t UNSET TBLPROPERTIES ('graft.tag.stable')")
    spark.sql("INSERT INTO graft.tags.t VALUES (999)")
    intercept[Exception](
      spark.sql("SELECT k FROM graft.tags.t VERSION AS OF 'stable'").collect())
    intercept[Exception](
      spark.sql("SELECT k FROM graft.tags.t VERSION AS OF 2").collect())
    // Validation: non-numeric target and never-retained version fail
    // loudly at SET time.
    assert(intercept[Exception](spark.sql(
      "ALTER TABLE graft.tags.t SET TBLPROPERTIES ('graft.tag.x'='oops')"))
      .getMessage.contains("numeric snapshot version"))
    assert(intercept[Exception](spark.sql(
      "ALTER TABLE graft.tags.t SET TBLPROPERTIES ('graft.tag.x'='99999')"))
      .getMessage.contains("not a retained snapshot"))
    spark.sql("DROP TABLE graft.tags.t")
  }

  test("CALL graft.system.vacuum keeps tagged snapshots readable, expires untagged") {
    spark.sql("DROP TABLE IF EXISTS graft.tags.v")
    spark.sql("CREATE TABLE graft.tags.v (k BIGINT) USING graft")
    spark.sql("INSERT INTO graft.tags.v VALUES (1)") // v1
    spark.sql("INSERT INTO graft.tags.v VALUES (2)") // v2: {1,2}
    spark.sql("INSERT INTO graft.tags.v VALUES (3)") // v3: {1,2,3}
    spark.sql("ALTER TABLE graft.tags.v SET TBLPROPERTIES ('graft.tag.release'='1')")
    val row = spark.sql("CALL graft.system.vacuum('tags', 'v')").collect().head
    // Expirable: v0 (empty CREATE snapshot) and v2 — v1 is tagged,
    // v3 is current.
    assert(row.getAs[Int]("snapshots_expired") == 2,
      s"expected exactly the untagged v0+v2 expired, got $row")
    // The tag's promise survives the manual vacuum — data AND files.
    assert(spark.sql("SELECT k FROM graft.tags.v VERSION AS OF 'release' ORDER BY k")
      .as[Long].collect().toSeq == Seq(1L))
    // The untagged superseded version is gone by user choice.
    intercept[Exception](
      spark.sql("SELECT k FROM graft.tags.v VERSION AS OF 2").collect())
    // Current state untouched.
    assert(spark.sql("SELECT k FROM graft.tags.v ORDER BY k")
      .as[Long].collect().toSeq == Seq(1L, 2L, 3L))
    spark.sql("DROP TABLE graft.tags.v")
  }
}
