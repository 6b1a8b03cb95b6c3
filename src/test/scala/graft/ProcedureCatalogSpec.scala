package graft

import org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException
import org.apache.spark.sql.connector.catalog.{FunctionCatalog, Identifier, ProcedureCatalog}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The catalog's procedure and function surface: what `listProcedures`
  * and `listFunctions` name is exactly what `loadProcedure` and
  * `loadFunction` serve, and CALL results keep their declared schemas.
  */
class ProcedureCatalogSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def catalog =
    spark.sessionState.catalogManager.catalog("graft")

  private val procedureNames = Set(
    "compact", "history", "zorder", "vacuum", "train_ann", "train_ann_pq", "analyze",
    "create_mv", "refresh_mv", "restore", "clone", "set_partitioning", "create_branch",
    "publish_branch", "remove_orphan_files", "undrop", "sync_identity", "copy_into",
    "build_ann_index", "refresh_ann", "verify_constraints")

  private def notNull(cols: (String, DataType)*): StructType =
    StructType(cols.map { case (n, t) => StructField(n, t, nullable = false) })

  test("every listed system procedure loads under its own name; nothing else lists or loads") {
    val cat = catalog.asInstanceOf[ProcedureCatalog]
    val listed = cat.listProcedures(Array("system"))
    assert(listed.forall(_.namespace.sameElements(Array("system"))))
    assert(listed.map(_.name).toSet == procedureNames)
    assert(listed.length == procedureNames.size, "no procedure is listed twice")
    listed.foreach { id =>
      assert(cat.loadProcedure(id).name() == id.name, s"$id loads a procedure of its name")
    }
    Seq(Array.empty[String], Array("math"), Array("system", "x"), Array("sys"))
      .foreach(ns => assert(cat.listProcedures(ns).isEmpty, ns.mkString(".")))
    Seq(Identifier.of(Array("system"), "nope"), Identifier.of(Array("other"), "compact"),
      Identifier.of(Array.empty[String], "compact"), Identifier.of(Array("math"), "clamp"))
      .foreach { id =>
        val e = intercept[UnsupportedOperationException](cat.loadProcedure(id))
        assert(e.getMessage.contains("no such procedure"), e.getMessage)
      }
  }

  test("every listed function loads under its own name; partition transforms load unlisted") {
    val cat = catalog.asInstanceOf[FunctionCatalog]
    val math = cat.listFunctions(Array("math"))
    assert(math.map(_.name).toSeq == Seq("clamp"))
    math.foreach(id => assert(cat.loadFunction(id).name() == id.name))
    assert(cat.listFunctions(Array.empty[String]).isEmpty)
    assert(cat.listFunctions(Array("system")).isEmpty)
    Seq("days", "hours", "months", "years", "bucket", "truncate").foreach { t =>
      assert(cat.loadFunction(Identifier.of(Array.empty[String], t)).name() == t)
    }
    Seq(Identifier.of(Array("math"), "days"), Identifier.of(Array.empty[String], "clamp"),
      Identifier.of(Array("math"), "nope"), Identifier.of(Array("system"), "compact"))
      .foreach(id => intercept[NoSuchFunctionException](cat.loadFunction(id)))
  }

  test("CALL results keep their schemas: history rows and an empty verify_constraints") {
    spark.sql("DROP TABLE IF EXISTS graft.pcs.t")
    spark.sql("CREATE TABLE graft.pcs.t (v BIGINT) USING graft") // v0
    spark.sql("INSERT INTO graft.pcs.t VALUES (1), (2)") // v1
    spark.sql("INSERT INTO graft.pcs.t VALUES (3)") // v2
    val h = spark.sql("CALL graft.system.history('pcs', 't')")
    assert(h.schema == notNull("version" -> LongType, "committed_at" -> TimestampType,
      "n_segments" -> IntegerType, "n_rows" -> LongType, "is_current" -> BooleanType))
    val rows = h.collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(2L, 1L, 0L))
    assert(rows.map(_.getLong(3)).toSeq == Seq(3L, 2L, 0L))
    // No declared constraint: the result is empty but keeps its shape.
    val v = spark.sql("CALL graft.system.verify_constraints('pcs', 't')")
    assert(v.schema == notNull("constraint" -> StringType, "kind" -> StringType,
      "violations" -> LongType, "ok" -> BooleanType))
    assert(v.collect().isEmpty)
    spark.sql("DROP TABLE graft.pcs.t PURGE")
  }

  test("the table cell is Identifier.toString: a namespace that needs backticks keeps them") {
    spark.sql("DROP TABLE IF EXISTS graft.`my-ns`.mv")
    spark.sql("DROP TABLE IF EXISTS graft.`my-ns`.t")
    spark.sql("CREATE TABLE graft.`my-ns`.t (k BIGINT, v BIGINT) USING graft")
    spark.sql("INSERT INTO graft.`my-ns`.t VALUES (1, 10), (2, 20), (1, 30)")
    def cell(call: String): String = spark.sql(s"CALL graft.system.$call").head().getString(0)
    val created = cell("create_mv('my-ns', 'mv', 'my-ns.t', 'k', 'sum(v) AS total')")
    assert(created == "`my-ns`.mv")
    assert(cell("compact('my-ns', 'mv')") == created)
    assert(cell("refresh_mv('my-ns', 'mv')") == created)
    // Procedures that read or write the table by name quote each part.
    val dir = java.nio.file.Files.createTempDirectory("graft_quoted_ns").toFile
    try {
      spark.range(3).selectExpr("id AS k", "id * 10 AS v").coalesce(1)
        .write.mode("overwrite").parquet(dir.toString)
      assert(cell(s"copy_into('my-ns', 't', '$dir', 'parquet', '')") == "`my-ns`.t")
      assert(cell("analyze('my-ns', 't')") == "`my-ns`.t")
      assert(spark.sql("CALL graft.system.verify_constraints('my-ns', 't')").collect().isEmpty)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
    spark.sql("DROP TABLE graft.`my-ns`.mv PURGE")
    spark.sql("DROP TABLE graft.`my-ns`.t PURGE")
  }
}
