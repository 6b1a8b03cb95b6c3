package graft

import graft.functions.CosineSim
import graft.plans.CosineLshRewrite
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The opt-in LSH rewrite: a cosine-threshold cross join must lose its
  * cartesian/nested-loop plan and planted near-identical pairs must
  * survive the bucket pruning (precision is untouched — the cosine
  * filter stays).
  */
class PlanRewriteSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def vecs = {
    val planted = Seq(
      (1L, Seq.tabulate(64)(i => math.sin(i + 1).toFloat)),
      (2L, Seq.tabulate(64)(i => (math.sin(i + 1) * 1.001).toFloat))) // ~identical pair
    val noise = (10 to 60).map(k =>
      (k.toLong, Seq.tabulate(64)(i => math.cos(i * k + 2).toFloat)))
    (planted ++ noise).toDF("vid", "v")
  }

  test("cosine-threshold cross join is rewritten to an LSH-bucket equi join") {
    val a = vecs.select($"vid".as("i"), $"v".as("va"))
    val b = vecs.select($"vid".as("j"), $"v".as("vb"))
    def query = a.crossJoin(b)
      .filter($"i" < $"j" && CosineSim(spark, $"va", $"vb") >= lit(0.95))
      .select($"i", $"j")

    val exact = query.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.contains((1L, 2L)))

    spark.experimental.extraOptimizations = Seq(CosineLshRewrite)
    try {
      spark.conf.set(CosineLshRewrite.EnabledKey, "true")
      val rewritten = query
      val got = rewritten.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val plan = rewritten.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
        s"rewrite did not remove the product join:\n$plan")
      assert(plan.contains("srp_bucket"), s"no bucket key in plan:\n$plan")
      assert(got.subsetOf(exact), "rewrite must not add pairs (precision)")
      assert(got.contains((1L, 2L)), "near-identical planted pair must survive bucketing")
    } finally {
      spark.conf.set(CosineLshRewrite.EnabledKey, "false")
      spark.experimental.extraOptimizations = Nil
    }
  }

  test("SQL entry path: cosine-threshold join over temp views gets the LSH bucket key") {
    // The same rewrite must fire when the query arrives as SQL TEXT —
    // parser literals (decimal 0.95), temp-view plans, and a strict `>`
    // spelled with the literal on the left. cosine_sim reaches SQL via
    // the session registry (production: GraftExtensions.injectFunction).
    graft.functions.CosineSim.register(spark)
    vecs.select($"vid".as("i"), $"v".as("va")).createOrReplaceTempView("lsh_a")
    vecs.select($"vid".as("j"), $"v".as("vb")).createOrReplaceTempView("lsh_b")
    def run(sql: String) = spark.sql(sql)
    val sqls = Seq(
      // canonical spelling
      """SELECT i, j FROM lsh_a JOIN lsh_b
        |ON i < j AND cosine_sim(va, vb) >= 0.95""".stripMargin,
      // literal-on-left strict spelling through a WHERE on a cross join
      """SELECT i, j FROM lsh_a CROSS JOIN lsh_b
        |WHERE i < j AND 0.9 < cosine_sim(va, vb)""".stripMargin)
    val exact = sqls.map(s =>
      run(s).collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    exact.foreach(e => assert(e.contains((1L, 2L))))
    spark.experimental.extraOptimizations = Seq(CosineLshRewrite)
    try {
      spark.conf.set(CosineLshRewrite.EnabledKey, "true")
      for ((s, e) <- sqls.zip(exact)) {
        val rewritten = run(s)
        val got = rewritten.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val plan = rewritten.queryExecution.executedPlan.toString
        assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
          s"SQL-path rewrite did not remove the product join:\n$plan")
        assert(plan.contains("srp_bucket"), s"no bucket key in SQL-path plan:\n$plan")
        assert(got.subsetOf(e), "rewrite must not add pairs (precision)")
        assert(got.contains((1L, 2L)), "planted pair must survive bucketing via SQL")
      }
    } finally {
      spark.conf.set(CosineLshRewrite.EnabledKey, "false")
      spark.experimental.extraOptimizations = Nil
    }
  }

  test("rule is a no-op when disabled or when the join is already conditioned") {
    spark.experimental.extraOptimizations = Seq(CosineLshRewrite)
    try {
      spark.conf.set(CosineLshRewrite.EnabledKey, "false")
      val a = vecs.select($"vid".as("i"), $"v".as("va"))
      val b = vecs.select($"vid".as("j"), $"v".as("vb"))
      val q = a.crossJoin(b).filter(CosineSim(spark, $"va", $"vb") >= lit(0.95))
      q.collect()
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("srp_bucket"))
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("TopKPerGroupExec matches the window formulation and plans a heap, not a sort") {
    val data = (1 to 500).map(i => (s"g${i % 7}", i.toLong, (i * 37 % 250).toDouble))
      .toDF("g", "id", "score")
    val native = graft.plans.TopK.perGroup(
      data, Seq($"g"), Seq($"score".desc, $"id"), 5)
      .orderBy($"g", $"score".desc, $"id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"g").orderBy($"score".desc, $"id")
    val windowed = data
      .withColumn("rn", row_number().over(w)).filter($"rn" <= 5).drop("rn")
      .orderBy($"g", $"score".desc, $"id")
    assert(native.collect().toSeq == windowed.collect().toSeq)
    val plan = native.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerGroup"), s"custom operator missing:\n$plan")
    assert(!plan.contains("WindowExec") && !plan.contains("Window "),
      "must not fall back to the window operator")
  }

  test("TopKPerGroup handles k > group size and singleton groups") {
    val data = Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("g", "v")
    val out = graft.plans.TopK.perGroup(data, Seq($"g"), Seq($"v"), 10)
      .orderBy($"g", $"v").as[(String, Long)].collect().toSeq
    assert(out == Seq(("a", 1L), ("a", 2L), ("b", 3L)))
  }

  test("TopKPerGroupExec participates in whole-stage codegen (no fence)") {
    val data = (1 to 300).map(i => (s"g${i % 5}", i.toLong)).toDF("g", "v")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val q = graft.plans.TopK.perGroup(
      data.filter($"v" > 10), Seq($"g"), Seq($"v".desc), 3)
    // The operator must sit INSIDE a WholeStageCodegen span: the
    // plan shape is WholeStageCodegen(... TopKPerGroup ...), not
    // TopKPerGroup fencing two smaller spans apart. (executedPlan is
    // lazy — force it before restoring AQE.)
    val fused = try q.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec
        if w.collect { case t: graft.plans.TopKPerGroupExec => t }.nonEmpty => w
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    assert(fused.nonEmpty,
      s"TopKPerGroupExec fences codegen:\n${q.queryExecution.executedPlan}")
    // And the generated path computes the same rows as the interpreted one.
    val viaCodegen = q.orderBy($"g", $"v").as[(String, Long)].collect().toSeq
    val prev = spark.conf.get("spark.sql.codegen.wholeStage")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      val interpreted = graft.plans.TopK
        .perGroup(data.filter($"v" > 10), Seq($"g"), Seq($"v".desc), 3)
        .orderBy($"g", $"v").as[(String, Long)].collect().toSeq
      assert(viaCodegen == interpreted)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
  }

  test("two TopKPerGroupExec nodes fused into one stage compile (no duplicate method names)") {
    // Stacked top-k: both nodes cluster on g, so the second requires no
    // re-shuffle and fuses into the SAME WholeStageCodegen stage as the
    // first. With a fixed generated-method name that stage emits two
    // identical signatures and fails to compile (silent interpreted
    // fallback); fallback=false turns that into a hard error.
    val data = (1 to 400).map(i => (s"g${i % 4}", i.toLong)).toDF("g", "v")
    val prevFallback = spark.conf.get("spark.sql.codegen.fallback")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.codegen.fallback", "false")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val inner = graft.plans.TopK.perGroup(data, Seq($"g"), Seq($"v".desc), 10)
      val outer = graft.plans.TopK.perGroup(inner, Seq($"g"), Seq($"v"), 3)
      val fusedPair = outer.queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec
          if w.collect { case t: graft.plans.TopKPerGroupExec => t }.size == 2 => w
      }
      assert(fusedPair.nonEmpty,
        s"expected both TopK nodes in one codegen stage:\n${outer.queryExecution.executedPlan}")
      // bottom-10 of the per-group top-10 descending = ranks 8..10 asc.
      val got = outer.orderBy($"g", $"v").as[(String, Long)].collect().toSeq
      val expect = (1 to 400).map(i => (s"g${i % 4}", i.toLong))
        .groupBy(_._1).toSeq.flatMap { case (_, rows) =>
          rows.sortBy(-_._2).take(10).sortBy(_._2).take(3)
        }.sortBy(identity)
      assert(got == expect)
    } finally {
      spark.conf.set("spark.sql.codegen.fallback", prevFallback)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("RELY join elimination: unreferenced FK→PK inner join is removed; gates hold") {
    def scans(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.relation.identifier.map(_.name).getOrElse("")
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
          r.identifier.map(_.name).getOrElse("")
      }
    spark.sql("DROP TABLE IF EXISTS graft.rely.fact")
    spark.sql("DROP TABLE IF EXISTS graft.rely.dim")
    spark.sql(
      """CREATE TABLE graft.rely.dim
        |  (dk BIGINT, name STRING, CONSTRAINT d_pk PRIMARY KEY (dk) NOT ENFORCED)
        |USING graft""".stripMargin)
    spark.sql(
      """CREATE TABLE graft.rely.fact
        |  (k BIGINT, fk BIGINT, v BIGINT,
        |   CONSTRAINT f_fk FOREIGN KEY (fk) REFERENCES graft.rely.dim (dk) NOT ENFORCED)
        |USING graft""".stripMargin)
    spark.sql("INSERT INTO graft.rely.dim VALUES (1, 'a'), (2, 'b')")
    // One NULL FK row: the FK constraint permits it, but the INNER join
    // drops it — elimination must reproduce the drop via IsNotNull.
    spark.sql(
      "INSERT INTO graft.rely.fact VALUES (1, 1, 10), (2, 2, 20), (3, NULL, 30), (4, 1, 40)")
    val q = """SELECT k, v FROM graft.rely.fact JOIN graft.rely.dim ON fk = dk
              |ORDER BY k""".stripMargin
    // WITHOUT RELY: constraints alone must never fire the rule.
    val noRely = spark.sql(q)
    assert(scans(noRely).contains("dim"),
      s"without RELY the join must survive, scans: ${scans(noRely)}")
    val expected = noRely.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(expected == Seq((1L, 10L), (2L, 20L), (4L, 40L)))
    // WITH RELY: the dim scan disappears; values identical.
    spark.sql("ALTER TABLE graft.rely.fact SET TBLPROPERTIES ('graft.constraints.rely'='true')")
    val elim = spark.sql(q)
    assert(!scans(elim).contains("dim"),
      s"RELY FK→PK join must be eliminated, scans: ${scans(elim)}")
    assert(elim.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == expected)
    // Gate: PINNED (time-travel) relations decline — they carry the
    // SAME identifier as the live table, but the catalog's constraints
    // describe only the CURRENT state (a historical parent may lack
    // later-added keys; a pinned child may reference since-deleted
    // parents). Parent pinned, then child pinned.
    val pinnedParent = spark.sql(
      "SELECT k, v FROM graft.rely.fact JOIN graft.rely.dim VERSION AS OF 1 ON fk = dk")
    assert(scans(pinnedParent).contains("dim"),
      s"time-travel parent must keep the join, scans: ${scans(pinnedParent)}")
    val pinnedChild = spark.sql(
      "SELECT k, v FROM graft.rely.fact VERSION AS OF 1 JOIN graft.rely.dim ON fk = dk")
    assert(scans(pinnedChild).contains("dim"),
      s"time-travel child must keep the join, scans: ${scans(pinnedChild)}")
    // Gate: a query that REFERENCES a dim column keeps the join.
    val refs = spark.sql(
      "SELECT k, name FROM graft.rely.fact JOIN graft.rely.dim ON fk = dk")
    assert(scans(refs).contains("dim"),
      s"parent-referencing query must keep the join, scans: ${scans(refs)}")
    // Gate: LEFT join is untouched (no NULL-extension semantics here).
    val outer = spark.sql(
      "SELECT k, v FROM graft.rely.fact LEFT JOIN graft.rely.dim ON fk = dk")
    assert(scans(outer).contains("dim"), "outer join must never be eliminated")
    // Gate: a non-key equi condition keeps the join.
    val nonKey = spark.sql(
      "SELECT k, v FROM graft.rely.fact JOIN graft.rely.dim ON fk = dk AND v = dk")
    assert(scans(nonKey).contains("dim"), "extra non-FK conjunct must keep the join")
    // Kill switch restores the join.
    spark.conf.set("spark.graft.relyJoinElimination.enabled", "false")
    try assert(scans(spark.sql(q)).contains("dim"), "kill switch must restore the join")
    finally spark.conf.set("spark.graft.relyJoinElimination.enabled", "true")
    // Aggregate over the eliminated join (count must not multiply).
    val agg = spark.sql(
      "SELECT count(*) AS c, sum(v) AS s FROM graft.rely.fact JOIN graft.rely.dim ON fk = dk")
    assert(!scans(agg).contains("dim"), s"aggregate-over-join not eliminated: ${scans(agg)}")
    assert(agg.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((3L, 70L)))
    spark.sql("DROP TABLE graft.rely.fact")
    spark.sql("DROP TABLE graft.rely.dim")
  }

  test("RELY elimination sheds multiple star dims and a snowflake tail (fixpoint)") {
    def scans(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.relation.identifier.map(_.name).getOrElse("")
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
          r.identifier.map(_.name).getOrElse("")
      }
    Seq("sfact", "sdim1", "sdim2", "sreg")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS graft.rely2.$t"))
    spark.sql(
      """CREATE TABLE graft.rely2.sreg
        |  (rk BIGINT, rname STRING, CONSTRAINT r_pk PRIMARY KEY (rk) NOT ENFORCED)
        |USING graft""".stripMargin)
    // Snowflake mid dim: its own FK to the region tail.
    spark.sql(
      """CREATE TABLE graft.rely2.sdim1
        |  (d1k BIGINT, d1r BIGINT NOT NULL, d1name STRING,
        |   CONSTRAINT d1_pk PRIMARY KEY (d1k) NOT ENFORCED,
        |   CONSTRAINT d1_fk FOREIGN KEY (d1r) REFERENCES graft.rely2.sreg (rk) NOT ENFORCED)
        |USING graft""".stripMargin)
    spark.sql(
      """CREATE TABLE graft.rely2.sdim2
        |  (d2k BIGINT, d2name STRING, CONSTRAINT d2_pk PRIMARY KEY (d2k) NOT ENFORCED)
        |USING graft""".stripMargin)
    spark.sql(
      """CREATE TABLE graft.rely2.sfact
        |  (k BIGINT, f1 BIGINT, f2 BIGINT, v BIGINT,
        |   CONSTRAINT f1_fk FOREIGN KEY (f1) REFERENCES graft.rely2.sdim1 (d1k) NOT ENFORCED,
        |   CONSTRAINT f2_fk FOREIGN KEY (f2) REFERENCES graft.rely2.sdim2 (d2k) NOT ENFORCED)
        |USING graft""".stripMargin)
    spark.sql("INSERT INTO graft.rely2.sreg VALUES (100, 'r1'), (200, 'r2')")
    spark.sql("INSERT INTO graft.rely2.sdim1 VALUES (1, 100, 'a'), (2, 200, 'b')")
    spark.sql("INSERT INTO graft.rely2.sdim2 VALUES (7, 'p'), (8, 'q')")
    spark.sql(
      "INSERT INTO graft.rely2.sfact VALUES (1, 1, 7, 10), (2, 2, 8, 20), (3, NULL, 7, 30)")
    Seq("sfact", "sdim1").foreach(t => spark.sql(
      s"ALTER TABLE graft.rely2.$t SET TBLPROPERTIES ('graft.constraints.rely'='true')"))
    // STAR: both dims unused -> both shed across fixpoint rounds.
    val star = spark.sql(
      """SELECT k, v FROM graft.rely2.sfact
        |JOIN graft.rely2.sdim1 ON f1 = d1k
        |JOIN graft.rely2.sdim2 ON f2 = d2k
        |ORDER BY k""".stripMargin)
    val ss = scans(star)
    assert(!ss.contains("sdim1") && !ss.contains("sdim2"),
      s"both unused star dims must be eliminated, scans: $ss")
    assert(star.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 10L), (2L, 20L))) // NULL-f1 row dropped, as the join would
    // SNOWFLAKE: fact ⋈ dim1 ⋈ region, dim1's name IS used — only the
    // region tail sheds (its FK key d1r reaches the rule through the
    // fact⋈dim1 join).
    val snow = spark.sql(
      """SELECT k, d1name FROM graft.rely2.sfact
        |JOIN graft.rely2.sdim1 ON f1 = d1k
        |JOIN graft.rely2.sreg ON d1r = rk
        |ORDER BY k""".stripMargin)
    val sn = scans(snow)
    assert(sn.contains("sdim1") && !sn.contains("sreg"),
      s"snowflake tail must shed while the used mid dim stays, scans: $sn")
    assert(snow.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b")))
    // Full collapse: nothing but fact columns -> every dim gone.
    // (Needs d1r NOT NULL: with a nullable FK the region shed leaves
    // an IsNotNull(d1r) residual that legitimately pins the dim1
    // scan — a fact row could point at a NULL-d1r dim1 row the
    // original join chain would have dropped.)
    val deep = spark.sql(
      """SELECT sum(v) AS s FROM graft.rely2.sfact
        |JOIN graft.rely2.sdim1 ON f1 = d1k
        |JOIN graft.rely2.sreg ON d1r = rk
        |JOIN graft.rely2.sdim2 ON f2 = d2k""".stripMargin)
    val dp = scans(deep)
    assert(dp == Seq("sfact"), s"full star+snowflake collapse expected, scans: $dp")
    assert(deep.collect().head.getLong(0) == 30L)
    Seq("sfact", "sdim1", "sdim2", "sreg")
      .foreach(t => spark.sql(s"DROP TABLE graft.rely2.$t"))
  }
}
