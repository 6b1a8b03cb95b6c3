package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan pins for the transparent MV rewrite (`plans/MvRewrite`): the
  * OPTIMIZED plan of every single-table serve shape (exact, rollup,
  * global count, avg from components, filtered-MV residual, grouping
  * sets, stale append, stale upsert retraction) plus a fresh and a
  * stale join MV, compared as operator trees with expression ids
  * masked. Results are checked elsewhere (MaterializedViewSpec,
  * MvGauntletSpec); these pins fail when a refactor of the matcher
  * moves a plan, even if the answer stays right.
  */
class MvPlanPinSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** The optimized plan's tree with `#123`/`#123L` ids masked, then
    * one line per scan saying whether it reads a pinned segment list
    * (a stale branch) or the live table — the tree prints both alike.
    */
  private def pinned(q: String): String = {
    import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
    val plan = spark.sql(q).queryExecution.optimizedPlan
    val scans = plan.collect {
      case s: DataSourceV2ScanRelation => s.relation
      case r: DataSourceV2Relation => r
    }.map(r => s"scan ${r.name} pinned=${graft.sources.GraftCatalog.isPinnedTable(r.table)}")
    (plan.treeString.replaceAll("#\\d+L?", "#x").trim +: scans).mkString("\n")
  }

  private def assertPlan(q: String, expected: String): Unit = {
    val got = pinned(q)
    assert(got == expected.stripMargin.trim, s"plan moved for [$q]:\n$got")
  }

  private def fresh(ns: String, tables: String*): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS graft.$ns.$t"))

  /** base(g, h, v) with one MV at the (g, h) grain that carries every
    * component the fresh shapes below navigate through.
    */
  private def withBase(body: => Unit): Unit = {
    fresh("mvpin", "agg", "base")
    spark.sql("CREATE TABLE graft.mvpin.base (g STRING, h STRING, v BIGINT) USING graft")
    spark.sql(
      """INSERT INTO graft.mvpin.base VALUES
        |  ('a', 'x', 1), ('a', 'y', 2), ('b', 'x', 10), ('b', 'x', NULL), ('c', 'y', 5)""".stripMargin)
    spark.sql(
      """CALL graft.system.create_mv('mvpin', 'agg', 'mvpin.base', 'g,h',
        |  'count(*) AS cnt, sum(v) AS total, count(v) AS cv, max(v) AS hi')""".stripMargin)
      .collect()
    try body finally fresh("mvpin", "agg", "base")
  }

  test("exact grain projects the MV") {
    withBase {
      assertPlan("SELECT g, h, sum(v) AS s FROM graft.mvpin.base GROUP BY g, h",
        """|Project [g#x, h#x, total#x AS s#x]
           |+- RelationV2[g#x, h#x, total#x] graft.mvpin.agg
           |scan graft.mvpin.agg pinned=false""")
    }
  }

  test("rollup re-aggregates the MV") {
    withBase {
      assertPlan(
        "SELECT g, sum(v) AS s, count(*) AS c, max(v) AS m FROM graft.mvpin.base GROUP BY g",
        """|Aggregate [g#x], [g#x, sum(total#x) AS s#x, coalesce(sum(cnt#x), 0) AS c#x, max(hi#x) AS m#x]
           |+- RelationV2[g#x, cnt#x, total#x, hi#x] graft.mvpin.agg
           |scan graft.mvpin.agg pinned=false""")
    }
  }

  test("global count sums the MV's counts") {
    withBase {
      assertPlan("SELECT count(*) AS c FROM graft.mvpin.base",
        """|Aggregate [coalesce(sum(cnt#x), 0) AS c#x]
           |+- RelationV2[cnt#x] graft.mvpin.agg
           |scan graft.mvpin.agg pinned=false""")
    }
  }

  test("avg is derived from its sum and count components") {
    withBase {
      assertPlan("SELECT g, avg(v) AS a FROM graft.mvpin.base GROUP BY g",
        """|Aggregate [g#x], [g#x, (cast(sum(total#x) as double) / cast(sum(cv#x) as double)) AS a#x]
           |+- RelationV2[g#x, total#x, cv#x] graft.mvpin.agg
           |scan graft.mvpin.agg pinned=false""")
    }
  }

  test("grouping sets rebuild the Expand over the MV") {
    withBase {
      assertPlan(
        "SELECT g, h, sum(v) AS s, count(*) AS c FROM graft.mvpin.base GROUP BY ROLLUP(g, h)",
        """|Aggregate [g#x, h#x, spark_grouping_id#x], [g#x, h#x, sum(total#x) AS s#x, coalesce(sum(cnt#x), 0) AS c#x]
           |+- Expand [[total#x, cnt#x, g#x, h#x, 0], [total#x, cnt#x, g#x, null, 1], [total#x, cnt#x, null, null, 3]], [total#x, cnt#x, g#x, h#x, spark_grouping_id#x]
           |   +- RelationV2[g#x, h#x, cnt#x, total#x] graft.mvpin.agg
           |scan graft.mvpin.agg pinned=false""")
    }
  }

  test("filtered MV serves a subsuming WHERE with the residual on the MV") {
    fresh("mvpinf", "agg", "base")
    spark.sql("CREATE TABLE graft.mvpinf.base (g STRING, h STRING, v BIGINT) USING graft")
    spark.sql("INSERT INTO graft.mvpinf.base VALUES ('a', 'x', 1), ('a', 'y', 2), ('b', 'x', 10)")
    spark.sql(
      """CALL graft.system.create_mv('mvpinf', 'agg', 'mvpinf.base', 'g',
        |  'sum(v) AS total', 'h = ''x''')""".stripMargin).collect()
    try assertPlan(
      "SELECT g, sum(v) AS s FROM graft.mvpinf.base WHERE h = 'x' AND g <> 'zz' GROUP BY g",
      """|Project [g#x, total#x AS s#x]
         |+- Filter (isnotnull(g#x) AND NOT (g#x = zz))
         |   +- RelationV2[g#x, total#x] graft.mvpinf.agg
         |scan graft.mvpinf.agg pinned=false""")
    finally fresh("mvpinf", "agg", "base")
  }

  test("stale append serves MV ⊎ the appended segments") {
    fresh("mvpins", "agg", "base")
    spark.sql("CREATE TABLE graft.mvpins.base (g STRING, v BIGINT) USING graft")
    spark.sql("INSERT INTO graft.mvpins.base VALUES ('a', 1), ('b', 10)")
    spark.sql(
      "CALL graft.system.create_mv('mvpins', 'agg', 'mvpins.base', 'g', 'count(*) AS cnt, sum(v) AS total')")
      .collect()
    spark.sql("INSERT INTO graft.mvpins.base VALUES ('b', 20), ('c', 7)")
    try assertPlan(
      "SELECT g, count(*) AS c, sum(v) AS s FROM graft.mvpins.base GROUP BY g",
      """|Aggregate [g#x], [g#x, coalesce(sum(cnt#x), 0) AS c#x, sum(total#x) AS s#x]
         |+- Union false, false
         |   :- RelationV2[g#x, cnt#x, total#x] graft.mvpins.agg
         |   +- Aggregate [g#x], [g#x, count(1) AS cnt#x, sum(v#x) AS total#x]
         |      +- RelationV2[g#x, v#x] graft.mvpins.base
         |scan graft.mvpins.agg pinned=true
         |scan graft.mvpins.base pinned=true""")
    finally fresh("mvpins", "agg", "base")
  }

  test("stale upsert serves MV ⊎ delta ⊖ killed rows, gated by liveness") {
    fresh("mvpinu", "agg", "base")
    spark.sql("CREATE TABLE graft.mvpinu.base (k BIGINT, g STRING, v BIGINT) USING graft")
    spark.sql("INSERT INTO graft.mvpinu.base VALUES (1, 'a', 1), (2, 'a', 2), (3, 'b', 10)")
    spark.sql(
      "CALL graft.system.create_mv('mvpinu', 'agg', 'mvpinu.base', 'g', 'count(*) AS cnt, sum(v) AS total')")
      .collect()
    Seq((2L, "c", 9L)).toDF("k", "g", "v").writeTo("graft.mvpinu.base")
      .option("graft.upsert.keys", "k").append()
    try assertPlan(
      "SELECT g, count(*) AS c, sum(v) AS s FROM graft.mvpinu.base GROUP BY g",
      """|Project [g#x, c#x, s#x]
         |+- Filter (__graft_live_cnt#x > 0)
         |   +- Aggregate [g#x], [g#x, coalesce(sum(cnt#x), 0) AS c#x, sum(total#x) AS s#x, coalesce(sum(cnt#x), 0) AS __graft_live_cnt#x]
         |      +- Union false, false
         |         :- RelationV2[g#x, cnt#x, total#x] graft.mvpinu.agg
         |         :- Aggregate [g#x], [g#x, count(1) AS cnt#x, sum(v#x) AS total#x]
         |         :  +- RelationV2[g#x, v#x] graft.mvpinu.base
         |         +- Aggregate [g#x], [g#x, -count(1) AS cnt#x, -sum(v#x) AS total#x]
         |            +- Project [g#x, v#x]
         |               +- Filter (isnotnull(k#x) AND (k#x = 2))
         |                  +- RelationV2[k#x, g#x, v#x] graft.mvpinu.base
         |scan graft.mvpinu.agg pinned=true
         |scan graft.mvpinu.base pinned=true
         |scan graft.mvpinu.base pinned=true""")
    finally fresh("mvpinu", "agg", "base")
  }

  test("join MV: fresh rollup and stale fact append") {
    fresh("mvpinj", "agg", "fact", "dim")
    spark.sql("CREATE TABLE graft.mvpinj.fact (ck BIGINT, amt BIGINT) USING graft")
    spark.sql("CREATE TABLE graft.mvpinj.dim (dk BIGINT, seg STRING, reg STRING) USING graft")
    spark.sql("INSERT INTO graft.mvpinj.fact VALUES (1, 10), (2, 20), (3, 5)")
    spark.sql("INSERT INTO graft.mvpinj.dim VALUES (1, 'x', 'n'), (2, 'y', 'n'), (3, 'x', 's')")
    spark.sql(
      """CALL graft.system.create_mv('mvpinj', 'agg',
        |  'mvpinj.fact JOIN mvpinj.dim ON ck = dk', 'seg,reg',
        |  'count(*) AS cnt, sum(amt) AS total')""".stripMargin).collect()
    val q = """SELECT seg, count(*) AS c, sum(amt) AS s
              |FROM graft.mvpinj.fact JOIN graft.mvpinj.dim ON ck = dk
              |GROUP BY seg""".stripMargin
    try {
      assertPlan(q,
        """|Aggregate [seg#x], [seg#x, coalesce(sum(cnt#x), 0) AS c#x, sum(total#x) AS s#x]
           |+- RelationV2[seg#x, cnt#x, total#x] graft.mvpinj.agg
           |scan graft.mvpinj.agg pinned=false""")
      spark.sql("INSERT INTO graft.mvpinj.fact VALUES (1, 100)")
      assertPlan(q,
        """|Aggregate [seg#x], [seg#x, coalesce(sum(cnt#x), 0) AS c#x, sum(total#x) AS s#x]
           |+- Union false, false
           |   :- RelationV2[seg#x, cnt#x, total#x] graft.mvpinj.agg
           |   +- Aggregate [seg#x, reg#x], [seg#x, count(1) AS cnt#x, sum(amt#x) AS total#x]
           |      +- Project [amt#x, seg#x, reg#x]
           |         +- Join Inner, (ck#x = dk#x)
           |            :- Filter isnotnull(ck#x)
           |            :  +- RelationV2[ck#x, amt#x] graft.mvpinj.fact
           |            +- Filter isnotnull(dk#x)
           |               +- RelationV2[dk#x, seg#x, reg#x] graft.mvpinj.dim
           |scan graft.mvpinj.agg pinned=true
           |scan graft.mvpinj.fact pinned=true
           |scan graft.mvpinj.dim pinned=false""")
    } finally fresh("mvpinj", "agg", "fact", "dim")
  }
}
