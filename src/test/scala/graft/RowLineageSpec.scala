package graft

import org.scalatest.funsuite.AnyFunSuite

/** ROW LINEAGE (`_row_id` / `_last_updated_seq` metadata columns —
  * the Iceberg v3 concept): table-scoped ids assigned once per row at
  * first commit, stable through dv deletes, 1:1 CoW updates,
  * unordered compaction, and schema migrations; `_last_updated_seq`
  * tracks the snapshot version that last CHANGED the row.
  */
class RowLineageSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def lineage(t: String): Seq[(Long, Long, Long)] =
    spark.sql(s"SELECT k, _row_id, _last_updated_seq FROM $t ORDER BY _row_id")
      .as[(Long, Long, Long)].collect().toSeq

  test("ids are assigned sequentially per commit and survive dv deletes with gaps") {
    spark.sql("DROP TABLE IF EXISTS graft.rl.a")
    spark.sql("CREATE TABLE graft.rl.a (k BIGINT, v STRING) USING graft")
    // coalesce(1): one writer task — id order == row order, closed form.
    spark.range(0, 10).selectExpr("id AS k", "concat('v', id) AS v")
      .coalesce(1).writeTo("graft.rl.a").append() // v1
    spark.range(10, 15).selectExpr("id AS k", "concat('v', id) AS v")
      .coalesce(1).writeTo("graft.rl.a").append() // v2
    assert(lineage("graft.rl.a") ==
      (0L until 10L).map(k => (k, k, 1L)) ++ (10L until 15L).map(k => (k, k, 2L)),
      "ids 0..14 in write order; batch seq = its commit version")
    spark.sql("DELETE FROM graft.rl.a WHERE k IN (3, 11)") // v3, dv path
    assert(lineage("graft.rl.a") ==
      ((0L until 10L).filter(_ != 3L).map(k => (k, k, 1L)) ++
        (10L until 15L).filter(_ != 11L).map(k => (k, k, 2L))),
      "survivors keep their ids (gaps where dv masked) and their update seq")
    spark.sql("DROP TABLE graft.rl.a")
  }

  test("a 1:1 CoW UPDATE preserves ids and re-stamps _last_updated_seq") {
    spark.sql("DROP TABLE IF EXISTS graft.rl.u")
    spark.sql("CREATE TABLE graft.rl.u (k BIGINT, v BIGINT) USING graft")
    spark.range(0, 8).selectExpr("id AS k", "id AS v")
      .coalesce(1).writeTo("graft.rl.u").append() // v1, segment A
    spark.range(8, 12).selectExpr("id AS k", "id AS v")
      .coalesce(1).writeTo("graft.rl.u").append() // v2, segment B
    spark.sql("UPDATE graft.rl.u SET v = v * 100 WHERE k >= 8") // v3 rewrites only B
    val rows = spark.sql(
      "SELECT k, v, _row_id, _last_updated_seq FROM graft.rl.u ORDER BY _row_id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(rows == (0L until 8L).map(k => (k, k, k, 1L)) ++
      (8L until 12L).map(k => (k, k * 100, k, 3L)),
      "rewritten rows keep ids, bump seq; untouched segment unchanged")
    spark.sql("DROP TABLE graft.rl.u")
  }

  test("unordered compaction carries ids AND update seqs through (dataChange=false)") {
    spark.sql("DROP TABLE IF EXISTS graft.rl.c")
    spark.sql("CREATE TABLE graft.rl.c (k BIGINT, v STRING) USING graft")
    spark.range(0, 6).selectExpr("id AS k", "'x' AS v")
      .coalesce(1).writeTo("graft.rl.c").append()  // v1
    spark.range(6, 9).selectExpr("id AS k", "'y' AS v")
      .coalesce(1).writeTo("graft.rl.c").append()  // v2
    spark.sql("DELETE FROM graft.rl.c WHERE k = 2") // v3, dv — fold must drop it
    val before = lineage("graft.rl.c")
    spark.sql("CALL graft.system.compact('rl', 'c')")
    assert(graft.sources.GraftCatalog.segmentCount("rl", "c") == 1)
    assert(lineage("graft.rl.c") == before,
      "compaction must not reassign ids or touch update seqs")
    spark.sql("DROP TABLE graft.rl.c")
  }

  test("schema migration (widen) is id-preserving; zorder reassigns but keeps ids unique") {
    spark.sql("DROP TABLE IF EXISTS graft.rl.m")
    spark.sql("CREATE TABLE graft.rl.m (k BIGINT, v INT) USING graft")
    spark.range(0, 12).selectExpr("id AS k", "CAST(id AS INT) AS v")
      .coalesce(1).writeTo("graft.rl.m").append()
    val before = lineage("graft.rl.m")
    spark.sql("ALTER TABLE graft.rl.m ALTER COLUMN v TYPE BIGINT")
    assert(lineage("graft.rl.m") == before,
      "a 1:1 type-widening migration keeps every row's id and seq")
    spark.sql("CALL graft.system.zorder('rl', 'm', 'k,v', 4)")
    val after = spark.sql("SELECT _row_id FROM graft.rl.m").as[Long].collect()
    assert(after.length == 12 && after.distinct.length == 12,
      "zorder interleaves rows -> fresh ids, still one unique id per row")
    assert(after.forall(_ >= 12L),
      "fresh ids allocate ABOVE every previously-minted id (no reuse)")
    spark.sql("DROP TABLE graft.rl.m")
  }

  test("a zero-copy clone shares ids; its future allocations never collide with history") {
    spark.sql("DROP TABLE IF EXISTS graft.rl.s")
    spark.sql("DROP TABLE IF EXISTS graft.rl.scl")
    spark.sql("CREATE TABLE graft.rl.s (k BIGINT) USING graft")
    spark.range(0, 5).selectExpr("id AS k").coalesce(1).writeTo("graft.rl.s").append()
    spark.sql("CALL graft.system.clone('rl', 's', 'rl', 'scl', '')")
    assert(spark.sql("SELECT k, _row_id FROM graft.rl.scl ORDER BY k")
      .as[(Long, Long)].collect().toSeq == (0L until 5L).map(k => (k, k)),
      "clone reads the shared segments' ids byte-identically")
    spark.range(5, 7).selectExpr("id AS k").coalesce(1).writeTo("graft.rl.scl").append()
    val ids = spark.sql("SELECT _row_id FROM graft.rl.scl").as[Long].collect()
    assert(ids.distinct.length == 7 && ids.max >= 6L,
      "clone's own allocations continue above the source's counter")
    spark.sql("DROP TABLE graft.rl.s")
    spark.sql("DROP TABLE graft.rl.scl")
  }
}
