package graft

import org.scalatest.funsuite.AnyFunSuite

/** Reported sort order from catalog scans (`SupportsReportOrdering`):
  * a write-ordered table whose current layout is provably sorted per
  * split lets EnsureRequirements skip the SortExec a sort-merge join
  * would otherwise plan — combined with `KeyGroupedPartitioning`, a
  * co-partitioned co-sorted join runs with NO exchange and NO sort.
  * The safety half matters as much: the ordering report rests on the
  * per-segment provenance flag, so any layout the writers can't prove
  * sorted (multi-segment key groups, rewrite-produced segments) must
  * silently report nothing — never a wrong ordering.
  */
class OrderedScanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def planOf(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("co-partitioned co-sorted join plans no exchange AND no sort") {
    spark.sql("DROP TABLE IF EXISTS graft.os.a")
    spark.sql("DROP TABLE IF EXISTS graft.os.b")
    for (t <- Seq("a", "b")) {
      spark.sql(
        s"""CREATE TABLE graft.os.$t (k STRING, v BIGINT) USING graft
           |PARTITIONED BY (k)
           |TBLPROPERTIES ('graft.write.order'='v')""".stripMargin)
      spark.range(0, 200, 1, 4)
        .selectExpr("concat('k', id % 4) AS k", "id AS v")
        .writeTo(s"graft.os.$t").append()
    }
    SessionConf.withConfs(spark)(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      // Join ON the partition key: SPJ removes the exchanges, and the
      // scan-reported ordering [k, v] satisfies the SMJ's required [k]
      // as a prefix — no SortExec either.
      val b2 = spark.table("graft.os.b").selectExpr("k", "v AS v2")
      val joined = spark.table("graft.os.a").join(b2, Seq("k"))
      val plan = planOf(joined)
      assert(!plan.contains("Exchange"), s"expected storage-partitioned join:\n$plan")
      assert(!plan.contains("Sort ["),
        s"reported ordering must eliminate the SMJ's sorts:\n$plan")
      assert(joined.count() == 10000L) // 4 keys x 50 x 50
      // Safety: a second append makes a key group hold TWO segments —
      // per-split sortedness is no longer provable, the report must
      // vanish and the sorts come back (still exchange-free).
      spark.sql("INSERT INTO graft.os.a VALUES ('k0', 9999)")
      val j2 = spark.table("graft.os.a").join(b2, Seq("k"))
      val plan2 = planOf(j2)
      assert(!plan2.contains("Exchange"), s"SPJ must survive:\n$plan2")
      assert(plan2.contains("Sort ["),
        s"multi-segment key group must bring the sorts back:\n$plan2")
      assert(j2.count() == 10050L) // k0 now 51 x 50
      // Compaction folds each group back to one SORTED segment — the
      // provenance flag carries and the sort-free plan returns.
      spark.sql("CALL graft.system.compact('os', 'a')").collect()
      val j3 = spark.table("graft.os.a").join(b2, Seq("k"))
      val plan3 = planOf(j3)
      assert(!plan3.contains("Exchange") && !plan3.contains("Sort ["),
        s"compaction must restore the sort-free co-sorted join:\n$plan3")
      assert(j3.count() == 10050L)
    }
    spark.sql("DROP TABLE graft.os.a")
    spark.sql("DROP TABLE graft.os.b")
  }

  test("the x5g registry row itself plans checkpoint-free, exchange-free and sort-free") {
    // The registry closure must return a DataFrame whose PLAN carries
    // the demonstration — no localCheckpoint materialization hiding a
    // re-planned join, no exchange, no sort. Execute the actual
    // fixture the way the harness does (session defaults only; the
    // MERGE hint, not a conf window, pins the join shape).
    val df = graft.queries.SourceQueries.x5gCosortedJoin.fn(spark, "/root/testdata/sf0.001")
    df.collect() // finalize AQE
    // AQE's toString prints the initial plan too — assert on the FINAL.
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!plan.contains("Checkpoint") && !plan.contains("ExistingRDD"),
      s"x5g must not materialize via checkpoint:\n$plan")
    assert(plan.contains("SortMergeJoin"), s"MERGE hint must hold:\n$plan")
    // The final ORDER BY legitimately plans ONE range exchange + ONE
    // sort; the join and the aggregation must contribute none — no
    // hash-partitioned shuffle anywhere, no SMJ/agg sort.
    assert(!plan.contains("Exchange hashpartitioning"),
      s"join/agg must consume the storage layout, not shuffle:\n$plan")
    assert(plan.sliding("Sort [".length).count(_ == "Sort [") == 1,
      s"only the final ORDER BY may sort:\n$plan")
  }

  test("changing or re-binding the declared order clears sorted provenance") {
    // The flags are claims about the OLD order columns: after ALTER SET
    // a different 'graft.write.order' (or a rename that re-binds an
    // order name), the scan reading the LIVE property must not report
    // an ordering the rows don't have — skipped sorts would mean wrong
    // join results. The fix clears every flag; sorts come back until
    // new ordered writes or compaction re-earn them.
    spark.sql("DROP TABLE IF EXISTS graft.os.c")
    spark.sql("DROP TABLE IF EXISTS graft.os.d")
    for (t <- Seq("c", "d")) {
      spark.sql(
        s"""CREATE TABLE graft.os.$t (k STRING, v BIGINT, w BIGINT) USING graft
           |PARTITIONED BY (k)
           |TBLPROPERTIES ('graft.write.order'='v')""".stripMargin)
      spark.range(0, 100, 1, 4)
        .selectExpr("concat('k', id % 2) AS k", "id AS v", "(97 - id) % 100 AS w")
        .writeTo(s"graft.os.$t").append()
    }
    SessionConf.withConfs(spark)(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val d2 = spark.table("graft.os.d").selectExpr("k", "v AS v2", "w AS w2")
      def joinPlan(): String =
        planOf(spark.table("graft.os.c").join(d2, Seq("k")))
      assert(!joinPlan().contains("Sort ["), "baseline: co-sorted join is sort-free")
      // Re-declare the order on a DIFFERENT column: rows are still
      // physically sorted on v, not w — the report must vanish.
      spark.sql("ALTER TABLE graft.os.c SET TBLPROPERTIES ('graft.write.order'='w')")
      assert(joinPlan().contains("Sort ["),
        "stale provenance after an order change must not suppress sorts")
      // A new ordered write earns the flag for ITS segment only — the
      // group is now mixed (old unflagged + new flagged), still no
      // report; compaction then folds each group sorted under the NEW
      // order and the sort-free plan returns.
      spark.sql("INSERT INTO graft.os.c VALUES ('k0', 500, 500), ('k1', 501, 501)")
      assert(joinPlan().contains("Sort ["),
        "a mixed flagged/unflagged group must not report")
      spark.sql("CALL graft.system.compact('os', 'c')").collect()
      assert(!joinPlan().contains("Sort ["),
        "compaction re-sorts on the new order and restores the report")
    }
    spark.sql("DROP TABLE graft.os.c")
    spark.sql("DROP TABLE graft.os.d")
  }

  test("no declared order or unproven layout reports nothing; zorder conflicts loudly") {
    spark.sql("DROP TABLE IF EXISTS graft.os.plain")
    spark.sql(
      "CREATE TABLE graft.os.plain (k STRING, v BIGINT) USING graft PARTITIONED BY (k)")
    spark.range(0, 50).selectExpr("concat('k', id % 2) AS k", "id AS v")
      .writeTo("graft.os.plain").append()
    SessionConf.withConfs(spark)(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val j = spark.table("graft.os.plain")
        .join(spark.table("graft.os.plain").selectExpr("k", "v AS v2"), "k")
      assert(planOf(j).contains("Sort ["),
        "without a declared write order the scan must not claim ordering")
    }
    // Z-order would physically destroy the declared order: refuse.
    spark.sql("DROP TABLE IF EXISTS graft.os.z")
    spark.sql(
      """CREATE TABLE graft.os.z (x BIGINT, y BIGINT) USING graft
        |TBLPROPERTIES ('graft.write.order'='x')""".stripMargin)
    spark.sql("INSERT INTO graft.os.z VALUES (1, 2)")
    val e = intercept[Exception](
      spark.sql("CALL graft.system.zorder('os', 'z', 'x,y', 2)").collect())
    assert(e.getMessage != null && e.getMessage.contains("graft.write.order"))
    spark.sql("DROP TABLE graft.os.plain")
    spark.sql("DROP TABLE graft.os.z")
  }
}
