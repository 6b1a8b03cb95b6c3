package graft

import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.scalatest.funsuite.AnyFunSuite

/** CBO statistics over catalog tables: `CALL graft.system.analyze`
  * computes per-column distinct/null counts, the DSv2 scan reports them
  * through `Statistics.columnStats()`, and with CBO enabled
  * `CostBasedJoinReorder` re-orders an ad-hoc multi-table join to start
  * from the low-cardinality pair instead of the syntactic order.
  */
class CboJoinReorderSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def scanOrder(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collectLeaves().collect {
      case r: DataSourceV2ScanRelation => r.relation.table.name()
    }

  test("analyze feeds NDV to the CBO; a 3-table catalog join is reordered by stats") {
    for (t <- Seq("big", "mid", "tiny")) spark.sql(s"DROP TABLE IF EXISTS graft.cbo.$t")
    spark.sql("CREATE TABLE graft.cbo.big (k BIGINT, payload BIGINT) USING graft")
    spark.sql("CREATE TABLE graft.cbo.mid (k BIGINT, m BIGINT) USING graft")
    spark.sql("CREATE TABLE graft.cbo.tiny (k BIGINT, t BIGINT) USING graft")
    spark.sql("INSERT INTO graft.cbo.big SELECT id % 1000, id FROM range(0, 100000)")
    spark.sql("INSERT INTO graft.cbo.mid SELECT id % 1000, id FROM range(0, 5000)")
    spark.sql("INSERT INTO graft.cbo.tiny SELECT id, id FROM range(0, 20)")
    for (t <- Seq("big", "mid", "tiny")) {
      val r = spark.sql(s"CALL graft.system.analyze('cbo', '$t')").collect().head
      assert(r.getInt(1) == 2, s"two columns analyzed for $t")
    }
    // Sanity: the analyze pass stored real cardinalities.
    import org.apache.spark.sql.connector.catalog.Identifier
    val ndvBig = graft.sources.GraftCatalog
      .analyzedOf(Identifier.of(Array("cbo"), "big"))("k").ndv
    assert(math.abs(ndvBig - 1000) < 100, s"big.k ndv ~1000, got $ndvBig")

    // Written deliberately big-first: (big JOIN mid) JOIN tiny. The
    // stats say mid JOIN tiny is ~100 rows vs big JOIN mid ~500k.
    val q =
      """SELECT count(*) AS n
        |FROM graft.cbo.big b
        |JOIN graft.cbo.mid m ON b.k = m.k
        |JOIN graft.cbo.tiny t ON m.k = t.k""".stripMargin
    val prev = (spark.conf.get("spark.sql.cbo.enabled", "false"),
      spark.conf.get("spark.sql.cbo.joinReorder.enabled", "false"))
    val withoutCbo = scanOrder(spark.sql(q))
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
      val withCbo = scanOrder(spark.sql(q))
      assert(withoutCbo == Seq("cbo.big", "cbo.mid", "cbo.tiny"),
        s"syntactic order expected without CBO, got $withoutCbo")
      assert(withCbo != withoutCbo,
        s"CBO must re-order the join; still $withCbo")
      assert(withCbo.take(2).toSet == Set("cbo.mid", "cbo.tiny"),
        s"the low-cardinality pair (mid, tiny) must join first, got $withCbo")
      // And the result is unchanged by the reorder.
      // 20 tiny keys x (5 mid rows per key) x (100 big rows per key)
      val n = spark.sql(q).as[Long].head()
      assert(n == 20L * 5L * 100L, s"expected 10000 joined rows, got $n")
    } finally {
      spark.conf.set("spark.sql.cbo.enabled", prev._1)
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", prev._2)
    }
    for (t <- Seq("big", "mid", "tiny")) spark.sql(s"DROP TABLE graft.cbo.$t")
  }
}
