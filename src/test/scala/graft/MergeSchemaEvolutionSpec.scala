package graft

import org.scalatest.funsuite.AnyFunSuite

/** `MERGE WITH SCHEMA EVOLUTION` — Spark 4's native auto-evolution
  * clause (SqlBase `MERGE (WITH SCHEMA EVOLUTION)? INTO`): the
  * analyzer diffs source vs target schema
  * (`ResolveMergeIntoSchemaEvolution`), issues the delta straight
  * through `TableCatalog.alterTable` (AddColumn for new source
  * columns, UpdateColumnType for safe widenings), reloads, and runs
  * the merge against the evolved table. No catalog-side opt-in
  * exists — the capability IS a correct alterTable, so this suite
  * pins that our ADD COLUMN (old segments read NULL) and widen
  * (per-era decode) paths compose with the group-based MERGE
  * rewrite in one statement.
  */
class MergeSchemaEvolutionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("WITH SCHEMA EVOLUTION adds source-only columns; pre-merge rows read NULL") {
    spark.sql("DROP TABLE IF EXISTS graft.mse.t")
    spark.sql("CREATE TABLE graft.mse.t (k BIGINT, v STRING) USING graft")
    spark.sql("INSERT INTO graft.mse.t VALUES (1, 'a1'), (2, 'a2')")
    Seq((2L, "b2", 2.5), (3L, "b3", 3.5)).toDF("k", "v", "w")
      .createOrReplaceTempView("mse_src")
    spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO graft.mse.t t USING mse_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.table("graft.mse.t").schema.fieldNames.toSeq == Seq("k", "v", "w"),
      "merge must have widened the table schema with the source-only column")
    val rows = spark.sql("SELECT k, v, w FROM graft.mse.t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(rows.toSeq == Seq((1L, "a1", None), (2L, "b2", Some(2.5)), (3L, "b3", Some(3.5))),
      "untouched row NULL-fills, matched row updates, new row inserts with the new column")
    spark.sql("DROP TABLE graft.mse.t")
  }

  test("WITH SCHEMA EVOLUTION widens int -> bigint through the merge") {
    spark.sql("DROP TABLE IF EXISTS graft.mse.w")
    spark.sql("CREATE TABLE graft.mse.w (k BIGINT, n INT) USING graft")
    spark.sql("INSERT INTO graft.mse.w VALUES (1, 10), (2, 20)")
    Seq((2L, 5000000000L), (3L, 30L)).toDF("k", "n")
      .createOrReplaceTempView("mse_wsrc")
    spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO graft.mse.w t USING mse_wsrc s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET n = s.n
        |WHEN NOT MATCHED THEN INSERT (k, n) VALUES (s.k, s.n)""".stripMargin)
    assert(spark.table("graft.mse.w").schema("n").dataType ==
      org.apache.spark.sql.types.LongType, "n must have widened to BIGINT")
    assert(spark.sql("SELECT n FROM graft.mse.w ORDER BY k").as[Long].collect().toSeq ==
      Seq(10L, 5000000000L, 30L),
      "pre-widen era decodes through the per-era schema; the overflow value lands exactly")
    spark.sql("DROP TABLE graft.mse.w")
  }

  test("WITH SCHEMA EVOLUTION composes two nested widens inside one struct") {
    spark.sql("DROP TABLE IF EXISTS graft.mse.n")
    spark.sql(
      "CREATE TABLE graft.mse.n (k BIGINT, meta STRUCT<a: INT, b: INT>) USING graft")
    spark.sql("INSERT INTO graft.mse.n VALUES (1, named_struct('a', 1, 'b', 2))")
    Seq((1L, 5000000000L, 6000000000L), (2L, 7L, 8L)).toDF("k", "a", "b")
      .createOrReplaceTempView("mse_nraw")
    spark.sql("SELECT k, named_struct('a', a, 'b', b) AS meta FROM mse_nraw")
      .createOrReplaceTempView("mse_nsrc")
    // One statement pushes BOTH UpdateColumnType(meta.a) and (meta.b)
    // through alterTable — they must compose into one widened struct,
    // not refuse with un-followable advice.
    spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO graft.mse.n t USING mse_nsrc s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.table("graft.mse.n").schema("meta").dataType.simpleString ==
      "struct<a:bigint,b:bigint>")
    val rows = spark.sql("SELECT meta.a, meta.b FROM graft.mse.n ORDER BY k").collect()
    assert(rows(0).getLong(0) == 5000000000L && rows(0).getLong(1) == 6000000000L)
    assert(rows(1).getLong(0) == 7L && rows(1).getLong(1) == 8L)
    spark.sql("DROP TABLE graft.mse.n")
  }

  test("WITH SCHEMA EVOLUTION adds a DEPTH-2 nested field the source carries") {
    // The analyzer diffs source vs target struct shapes and pushes
    // AddColumn(meta.geo.b) — the recursive path resolver must accept
    // it mid-merge and the pre-merge era must read NULL for it.
    spark.sql("DROP TABLE IF EXISTS graft.mse.d")
    spark.sql(
      "CREATE TABLE graft.mse.d (k BIGINT, meta STRUCT<geo: STRUCT<a: INT>, t: STRING>) USING graft")
    spark.sql("INSERT INTO graft.mse.d VALUES (1, named_struct('geo', named_struct('a', 1), 't', 'x'))")
    spark.sql(
      """SELECT * FROM VALUES
        |  (1L, named_struct('geo', named_struct('a', 10, 'b', CAST(1.5 AS DOUBLE)), 't', 'y')),
        |  (2L, named_struct('geo', named_struct('a', 20, 'b', CAST(2.5 AS DOUBLE)), 't', 'z'))
        |AS src(k, meta)""".stripMargin).createOrReplaceTempView("mse_dsrc")
    spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO graft.mse.d t USING mse_dsrc s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.table("graft.mse.d").schema("meta").dataType.simpleString ==
      "struct<geo:struct<a:int,b:double>,t:string>",
      "the merge must have added meta.geo.b at depth 2")
    val rows = spark.sql(
      "SELECT k, meta.geo.a, meta.geo.b, meta.t FROM graft.mse.d ORDER BY k").collect()
    assert(rows(0).getInt(1) == 10 && rows(0).getDouble(2) == 1.5)
    assert(rows(1).getInt(1) == 20 && rows(1).getDouble(2) == 2.5)
    spark.sql("DROP TABLE graft.mse.d")
  }

  test("without the clause, the schema stays put: SET * ignores extras, explicit assignment refuses") {
    spark.sql("DROP TABLE IF EXISTS graft.mse.r")
    spark.sql("CREATE TABLE graft.mse.r (k BIGINT, v STRING) USING graft")
    spark.sql("INSERT INTO graft.mse.r VALUES (1, 'a')")
    Seq((1L, "b", 9.9)).toDF("k", "v", "w").createOrReplaceTempView("mse_rsrc")
    // SET * / INSERT * expand by TARGET columns — the source-only `w`
    // is silently ignored (Spark semantics), never auto-added.
    spark.sql(
      """MERGE INTO graft.mse.r t USING mse_rsrc s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    assert(spark.table("graft.mse.r").schema.fieldNames.toSeq == Seq("k", "v"),
      "plain MERGE must not mutate the schema")
    assert(spark.sql("SELECT v FROM graft.mse.r").as[String].head() == "b")
    // Naming the missing column explicitly is an analysis error
    // without the evolution clause.
    intercept[Exception] {
      spark.sql(
        """MERGE INTO graft.mse.r t USING mse_rsrc s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET v = s.v
          |WHEN NOT MATCHED THEN INSERT (k, v, w) VALUES (s.k, s.v, s.w)""".stripMargin)
    }
    assert(spark.table("graft.mse.r").schema.fieldNames.toSeq == Seq("k", "v"))
    spark.sql("DROP TABLE graft.mse.r")
  }
}
