package graft

import org.scalatest.funsuite.AnyFunSuite

/** SELECT-able metadata tables (`graft.ns.t.files` / `.history` /
  * `.eq_deletes` / `.branches` — the Iceberg metadata-table shape):
  * always-current metastore rows served at plan time with zero
  * segment-file reads, joinable like any relation.
  */
class MetadataTableSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("files/history/eq_deletes reflect commits, upserts, and compaction") {
    spark.sql("DROP TABLE IF EXISTS graft.meta.t")
    spark.sql("CREATE TABLE graft.meta.t (k BIGINT, v STRING) USING graft")
    spark.sql("INSERT INTO graft.meta.t VALUES (1, 'a'), (2, 'b')") // v1
    spark.sql("INSERT INTO graft.meta.t VALUES (3, 'c')") // v2
    // Aggregate per commit: a small VALUES insert may land one segment
    // per task — the invariant is rows-per-sequence, not file count.
    val files = spark.sql(
      """SELECT seq, sum(rows), sum(live_rows) FROM graft.meta.t.files
        |GROUP BY seq ORDER BY seq""".stripMargin)
      .as[(Long, Long, Long)].collect().toSeq
    assert(files == Seq((1L, 2L, 2L), (2L, 1L, 1L)),
      s"per-commit rows + data sequence numbers, got $files")
    // History: v0 empty, v1, v2 current; all data commits.
    val hist = spark.sql(
      """SELECT version, rows, data_change, is_current
        |FROM graft.meta.t.history ORDER BY version""".stripMargin)
      .as[(Long, Long, Boolean, Boolean)].collect().toSeq
    assert(hist == Seq((0L, 0L, true, false), (1L, 2L, true, false),
      (2L, 3L, true, true)), s"got $hist")
    // An upsert shows in eq_deletes; compaction clears it (and the
    // files view shows the fold).
    Seq((2L, "b2")).toDF("k", "v").writeTo("graft.meta.t")
      .option("graft.upsert.keys", "k").append() // v3
    val eqs = spark.sql("SELECT seq, key_cols, keys FROM graft.meta.t.eq_deletes")
      .as[(Long, String, Long)].collect().toSeq
    assert(eqs == Seq((3L, "k", 1L)), s"got $eqs")
    // Joinability — the point of a TABLE over a procedure: which
    // segments predate the outstanding delete (carry potential ghosts)?
    val ghosts = spark.sql(
      """SELECT sum(f.rows) FROM graft.meta.t.files f
        |JOIN graft.meta.t.eq_deletes e ON f.seq < e.seq""".stripMargin)
      .as[Long].head()
    assert(ghosts == 3L, "all 3 pre-upsert rows predate the delete")
    spark.sql("CALL graft.system.compact('meta', 't')")
    assert(spark.sql("SELECT count(*) FROM graft.meta.t.eq_deletes").as[Long].head() == 0L)
    assert(spark.sql("SELECT sum(rows) FROM graft.meta.t.files").as[Long].head() == 3L,
      "post-compact physical rows equal logical (ghost materialized away)")
    spark.sql("DROP TABLE graft.meta.t")
  }

  test("files exposes row-lineage bounds: first_row_id and last_updated_seq") {
    spark.sql("DROP TABLE IF EXISTS graft.meta.lin PURGE")
    spark.sql("CREATE TABLE graft.meta.lin (k BIGINT) USING graft")
    spark.range(0, 5).selectExpr("id AS k").coalesce(1)
      .writeTo("graft.meta.lin").append() // ids 0..4, seq 1
    spark.range(5, 8).selectExpr("id AS k").coalesce(1)
      .writeTo("graft.meta.lin").append() // ids 5..7, seq 2
    val rows = spark.sql(
      "SELECT first_row_id, last_updated_seq FROM graft.meta.lin.files ORDER BY first_row_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == Seq((0L, 1L), (5L, 2L)),
      "each segment reports its first id and latest update-seq")
    spark.sql("DROP TABLE graft.meta.lin PURGE")
  }

  test("partitions rolls up per (spec, key) — the small-files/skew dashboard") {
    spark.sql("DROP TABLE IF EXISTS graft.meta.p")
    spark.sql(
      "CREATE TABLE graft.meta.p (seg STRING, v BIGINT) USING graft PARTITIONED BY (seg)")
    spark.sql("INSERT INTO graft.meta.p SELECT if(id % 4 = 0, 'hot', 'cold'), id FROM range(40)")
    spark.sql("INSERT INTO graft.meta.p VALUES ('hot', 999)") // hot gains a 2nd segment
    val parts = spark.sql(
      """SELECT partition_key, segments, rows FROM graft.meta.p.partitions
        |ORDER BY partition_key""".stripMargin)
      .as[(String, Int, Long)].collect().toSeq
    assert(parts == Seq(("cold", 1, 30L), ("hot", 2, 11L)), s"got $parts")
    spark.sql("DROP TABLE graft.meta.p")
  }

  test("metadata-table kinds resolve case-insensitively (FROM t.FILES)") {
    spark.sql("DROP TABLE IF EXISTS graft.meta.ci")
    spark.sql("CREATE TABLE graft.meta.ci (k BIGINT) USING graft")
    spark.sql("INSERT INTO graft.meta.ci VALUES (1), (2)")
    val lower = spark.sql("SELECT count(*) FROM graft.meta.ci.files").as[Long].head()
    assert(lower >= 1L)
    assert(spark.sql("SELECT count(*) FROM graft.meta.ci.FILES").as[Long].head() == lower)
    assert(spark.sql("SELECT count(*) FROM graft.meta.ci.History").as[Long].head() >= 1L)
    spark.sql("DROP TABLE graft.meta.ci")
  }

  test("branches lists open WAP branches; unknown kinds and bases refuse") {
    spark.sql("DROP TABLE IF EXISTS graft.meta.b")
    spark.sql("CREATE TABLE graft.meta.b (k BIGINT) USING graft")
    spark.sql("INSERT INTO graft.meta.b VALUES (1)")
    assert(spark.sql("SELECT count(*) FROM graft.meta.b.branches").as[Long].head() == 0L)
    spark.sql("CALL graft.system.create_branch('meta', 'b', 'audit', '')").collect()
    spark.sql("INSERT INTO graft.meta.`b@audit` VALUES (2)")
    val br = spark.sql(
      "SELECT branch, base_version, rows FROM graft.meta.b.branches")
      .as[(String, Long, Long)].collect().toSeq
    assert(br == Seq(("audit", 1L, 2L)), s"got $br")
    spark.sql("CALL graft.system.publish_branch('meta', 'b', 'audit')").collect()
    assert(spark.sql("SELECT count(*) FROM graft.meta.b.branches").as[Long].head() == 0L)
    intercept[Exception] { spark.sql("SELECT * FROM graft.meta.b.nope").collect() }
    intercept[Exception] { spark.sql("SELECT * FROM graft.meta.missing.files").collect() }
    spark.sql("DROP TABLE graft.meta.b")
  }
}
