package graft

import org.apache.spark.sql.sources._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.GraftCatalog

/** `CALL graft.system.zorder` — multi-dimensional clustering. The
  * claim under test: after Z-ordering on (x, y), a range filter on the
  * SECOND dimension (useless under the original x-major layout, where
  * every segment spans the full y range) prunes most segments via the
  * ordinary zone maps, and results are byte-identical before/after.
  */
class ZorderSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def plannedParts(ns: String, table: String, pred: Filter*): Int = {
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    val sb = cat.loadTable(
      org.apache.spark.sql.connector.catalog.Identifier.of(Array(ns), table))
      .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
      .newScanBuilder(org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
    sb.asInstanceOf[org.apache.spark.sql.connector.read.SupportsPushDownFilters]
      .pushFilters(pred.toArray)
    sb.build().toBatch.planInputPartitions().length
  }

  test("zorder turns a y-filter from scan-everything into scan-few; results unchanged") {
    spark.sql("DROP TABLE IF EXISTS graft.zo.t")
    spark.sql("CREATE TABLE graft.zo.t (x BIGINT, y BIGINT, s STRING) USING graft")
    // x-major insert order: 4 contiguous x slices, each spanning the
    // FULL y range (y = x * 37 mod 2000 spreads uniformly) — so before
    // clustering, a y filter can prune nothing.
    for (lo <- 0 until 4000 by 1000)
      spark.sql(
        s"""INSERT INTO graft.zo.t
           |SELECT id, (id * 37) % 2000, concat('s', CAST(id AS STRING))
           |FROM range($lo, ${lo + 1000}, 1, 1)""".stripMargin)
    assert(GraftCatalog.segmentCount("zo", "t") == 4)
    val yPred = Seq(GreaterThanOrEqual("y", 100L), LessThanOrEqual("y", 150L))
    assert(plannedParts("zo", "t", yPred: _*) == 4,
      "x-major layout: y filter must NOT prune (full y range per segment)")
    val expected = spark.sql(
      "SELECT x, y, s FROM graft.zo.t WHERE y BETWEEN 100 AND 150 ORDER BY x")
      .as[(Long, Long, String)].collect().toSeq

    val res = spark.sql("CALL graft.system.zorder('zo', 't', 'x,y', 16)").collect()
    assert(res.length == 1 && res(0).getInt(1) == 4 && res(0).getInt(2) == 16 &&
      res(0).getLong(3) == 4000L, res.mkString)
    assert(GraftCatalog.segmentCount("zo", "t") == 16)

    // 16 segments = 4 z bits = 2 bits per dimension: a narrow range on
    // EITHER dimension isolates one quartile -> ≤ 4 of 16 segments, and
    // the conjunction isolates (nearly) one cell.
    val after = plannedParts("zo", "t", yPred: _*)
    assert(after <= 4, s"y filter planned $after of 16 z-ordered segments")
    val xAfter = plannedParts("zo", "t", LessThan("x", 400L))
    assert(xAfter <= 4, s"x filter planned $xAfter of 16 z-ordered segments")
    val bothAfter = plannedParts("zo", "t",
      LessThan("x", 400L), LessThan("y", 200L))
    assert(bothAfter <= 2, s"x∧y filter planned $bothAfter of 16 z-ordered segments")
    assert(spark.sql(
      "SELECT x, y, s FROM graft.zo.t WHERE y BETWEEN 100 AND 150 ORDER BY x")
      .as[(Long, Long, String)].collect().toSeq == expected)
    // row count is invariant under re-clustering
    assert(spark.sql("SELECT count(*) FROM graft.zo.t").as[Long].head() == 4000L)
    spark.sql("DROP TABLE graft.zo.t")
  }

  test("zorder respects partition groups and rejects bad arguments") {
    spark.sql("DROP TABLE IF EXISTS graft.zo.p")
    spark.sql(
      "CREATE TABLE graft.zo.p (k BIGINT, v BIGINT, part STRING) USING graft PARTITIONED BY (part)")
    spark.sql(
      """INSERT INTO graft.zo.p
        |SELECT id, (id * 37) % 100, CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END
        |FROM range(0, 1000, 1, 2)""".stripMargin)
    val res = spark.sql("CALL graft.system.zorder('zo', 'p', 'k,v', 2)").collect()
    assert(res(0).getLong(3) == 1000L)
    // 2 partition values × 2 target segments
    assert(GraftCatalog.segmentCount("zo", "p") == 4)
    // partition column values stay consistent (groups never mix)
    assert(spark.sql("SELECT count(*) FROM graft.zo.p WHERE part = 'a'")
      .as[Long].head() == 500L)
    intercept[Exception] {
      spark.sql("CALL graft.system.zorder('zo', 'p', 'part', 2)").collect()
    }
    intercept[Exception] {
      spark.sql("CALL graft.system.zorder('zo', 'p', 'nope', 2)").collect()
    }
    intercept[Exception] { // strings are not zorderable
      spark.sql("CALL graft.system.zorder('zo', 'p', 'k,v,part', 2)").collect()
    }
    spark.sql("DROP TABLE graft.zo.p")
  }

  test("zorder with a where clause re-clusters ONLY the named partition group") {
    spark.sql("DROP TABLE IF EXISTS graft.zo.w")
    spark.sql(
      "CREATE TABLE graft.zo.w (k BIGINT, v BIGINT, part STRING) USING graft PARTITIONED BY (part)")
    // Two inserts -> 2 segments per partition value.
    (0 to 1).foreach { i =>
      spark.sql(
        s"""INSERT INTO graft.zo.w
           |SELECT id, (id * 37) % 100, CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END
           |FROM range(${i * 500}, ${i * 500 + 500}, 1, 1)""".stripMargin)
    }
    assert(GraftCatalog.segmentCount("zo", "w") == 4)
    val r = spark.sql("CALL graft.system.zorder('zo', 'w', 'k,v', 3, 'part=a')")
      .collect().head
    // 'a' re-clusters into 3 Z-ordered segments; 'b' keeps its 2
    // untouched originals — the hot-partition maintenance shape.
    assert(r.getAs[Int]("segments_before") == 4 && r.getAs[Int]("segments_after") == 5,
      s"scoped zorder must rewrite only the matched group: $r")
    assert(spark.sql("SELECT count(*) FROM graft.zo.w WHERE part = 'a'")
      .as[Long].head() == 500L)
    assert(spark.sql("SELECT sum(k) FROM graft.zo.w").as[Long].head() == (0L until 1000L).sum)
    intercept[Exception] { // match-nothing refuses, same as compact
      spark.sql("CALL graft.system.zorder('zo', 'w', 'k,v', 3, 'part=zzz')").collect()
    }
    spark.sql("DROP TABLE graft.zo.w")
  }
}
