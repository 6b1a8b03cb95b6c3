package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.GraftCatalog

/** `_segment` / `_pos` metadata columns on catalog tables (the
  * Iceberg `_file`/`_pos` shape): hidden from `SELECT *`, synthesized
  * by the reader when referenced, physical ordinals with visible
  * deletion-vector gaps.
  */
class MetadataColumnSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("_segment/_pos are hidden from SELECT * but selectable; one _segment per file") {
    spark.sql("DROP TABLE IF EXISTS graft.mc.t")
    spark.sql("CREATE TABLE graft.mc.t (k BIGINT, v STRING) USING graft")
    spark.sql(
      "INSERT INTO graft.mc.t SELECT id, concat('v', CAST(id AS STRING)) FROM range(0, 100, 1, 2)")
    assert(spark.table("graft.mc.t").columns.toSeq == Seq("k", "v"))
    val segs = spark.sql("SELECT DISTINCT _segment FROM graft.mc.t").as[String].collect()
    assert(segs.length == GraftCatalog.segmentCount("mc", "t") && segs.length == 2)
    // _pos is dense 0..49 within each of the two 50-row segments
    val pos = spark.sql("SELECT _segment, _pos, k FROM graft.mc.t")
      .as[(String, Long, Long)].collect()
    assert(pos.groupBy(_._1).forall { case (_, rows) =>
      rows.map(_._2).sorted.toSeq == (0L until 50L)
    })
    // mixing data + meta + expression works
    assert(spark.sql(
      "SELECT count(*) FROM graft.mc.t WHERE _pos < 10").as[Long].head() == 20L)
  }

  test("_pos shows deletion-vector gaps (physical ordinals, not dense renumbering)") {
    spark.sql("DROP TABLE IF EXISTS graft.mc.d")
    spark.sql("CREATE TABLE graft.mc.d (k BIGINT) USING graft")
    spark.sql("INSERT INTO graft.mc.d SELECT id FROM range(0, 100, 1, 1)")
    spark.sql("DELETE FROM graft.mc.d WHERE k >= 10 AND k < 20")
    assert(GraftCatalog.dvDeletedRows("mc", "d") == 10L)
    val pos = spark.sql("SELECT _pos FROM graft.mc.d ORDER BY _pos").as[Long].collect().toSeq
    assert(pos == ((0L until 10L) ++ (20L until 100L)),
      s"expected ordinals 0-9 and 20-99, got ${pos.take(15)}...")
  }
}
