package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.GraftCatalog

/** RENAME COLUMN (pure metadata over positional storage) and DROP
  * COLUMN (streamed re-projection) on catalog tables — with the
  * guards: partition columns and constraint-referenced columns refuse.
  */
class SchemaEvolutionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("RENAME COLUMN is metadata-only: no file rewritten, data intact, old name gone") {
    spark.sql("DROP TABLE IF EXISTS graft.se.r")
    spark.sql("CREATE TABLE graft.se.r (k BIGINT, v STRING) USING graft")
    spark.sql("INSERT INTO graft.se.r VALUES (1,'a'), (2,'b')")
    val files = GraftCatalog.segmentFilesOnDisk("se", "r")
    spark.sql("ALTER TABLE graft.se.r RENAME COLUMN v TO label")
    assert(GraftCatalog.segmentFilesOnDisk("se", "r") == files, "rename must not touch files")
    assert(spark.table("graft.se.r").columns.toSeq == Seq("k", "label"))
    assert(spark.sql("SELECT label FROM graft.se.r WHERE k = 2").as[String].head() == "b")
    intercept[Exception] { spark.sql("SELECT v FROM graft.se.r").collect() }
    // rename onto an existing name refuses
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.se.r RENAME COLUMN label TO k")
    }
    // partition-column rename follows through to the layout metadata
    spark.sql("DROP TABLE IF EXISTS graft.se.rp")
    spark.sql(
      "CREATE TABLE graft.se.rp (k BIGINT, p STRING) USING graft PARTITIONED BY (p)")
    spark.sql("INSERT INTO graft.se.rp VALUES (1,'x'), (2,'y')")
    spark.sql("ALTER TABLE graft.se.rp RENAME COLUMN p TO region")
    assert(spark.sql("SELECT count(*) FROM graft.se.rp WHERE region = 'x'")
      .as[Long].head() == 1L)
    // The rename re-pairs each SEGMENT's spec with the new name too: a
    // metadata-only rename must not make existing segments look like a
    // foreign partition era — keyed layout (one split per value) stays
    // engaged and partition-scoped overwrite keeps working without any
    // migration.
    assert(spark.table("graft.se.rp").rdd.getNumPartitions == 2,
      "rename must keep the keyed (one split per value) layout")
    spark.sql(
      "INSERT OVERWRITE graft.se.rp PARTITION (region = 'x') VALUES (10)")
    assert(spark.sql("SELECT k FROM graft.se.rp ORDER BY k")
      .as[Long].collect().toSeq == Seq(2L, 10L))
  }

  test("ALTER COLUMN TYPE widens safely (int->bigint, float->double); lossy retypes refuse") {
    spark.sql("DROP TABLE IF EXISTS graft.se.w")
    spark.sql("CREATE TABLE graft.se.w (k INT, x FLOAT) USING graft")
    spark.sql("INSERT INTO graft.se.w VALUES (2147483647, CAST(1.5 AS FLOAT)), (-1, CAST(-0.25 AS FLOAT))")
    spark.sql("ALTER TABLE graft.se.w ALTER COLUMN k TYPE BIGINT")
    spark.sql("ALTER TABLE graft.se.w ALTER COLUMN x TYPE DOUBLE")
    assert(spark.table("graft.se.w").schema.map(_.dataType.simpleString) ==
      Seq("bigint", "double"))
    assert(spark.sql("SELECT k, x FROM graft.se.w ORDER BY k")
      .as[(Long, Double)].collect().toSeq == Seq((-1L, -0.25), (2147483647L, 1.5)))
    // the widened column accepts values beyond the old range
    spark.sql("INSERT INTO graft.se.w VALUES (9999999999, 2.5)")
    assert(spark.sql("SELECT max(k) FROM graft.se.w").as[Long].head() == 9999999999L)
    // narrowing / cross-family retypes refuse
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.se.w ALTER COLUMN k TYPE INT")
    }
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.se.w ALTER COLUMN x TYPE STRING")
    }
  }

  test("DECIMAL widens by precision at the same scale; scale changes refuse") {
    spark.sql("DROP TABLE IF EXISTS graft.se.dec")
    spark.sql(
      """CREATE TABLE graft.se.dec
        |  (k BIGINT, amt DECIMAL(10,2), meta STRUCT<m: DECIMAL(6,3)>)
        |USING graft""".stripMargin)
    spark.sql(
      """INSERT INTO graft.se.dec VALUES
        |(1, 12345678.99, named_struct('m', CAST(123.456 AS DECIMAL(6,3)))),
        |(2, -0.01, named_struct('m', CAST(NULL AS DECIMAL(6,3)))),
        |(3, NULL, NULL)""".stripMargin)
    spark.sql("ALTER TABLE graft.se.dec ALTER COLUMN amt TYPE DECIMAL(18,2)")
    spark.sql("ALTER TABLE graft.se.dec ALTER COLUMN meta.m TYPE DECIMAL(12,3)")
    assert(spark.table("graft.se.dec").schema("amt").dataType.simpleString ==
      "decimal(18,2)")
    assert(spark.table("graft.se.dec").schema("meta").dataType.simpleString ==
      "struct<m:decimal(12,3)>")
    // Pre-widen values decode exactly; the widened column takes values
    // beyond the old precision.
    spark.sql(
      "INSERT INTO graft.se.dec VALUES (4, 9999999999999999.99, " +
        "named_struct('m', CAST(999999999.999 AS DECIMAL(12,3))))")
    val got = spark.sql(
      "SELECT CAST(sum(amt) AS STRING), CAST(sum(meta.m) AS STRING) FROM graft.se.dec")
      .head()
    assert(got.getString(0) == "10000000012345678.97", got.toString)
    assert(got.getString(1) == "1000000123.455", got.toString)
    // Scale changes (re-quantization) and precision narrowing refuse.
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.se.dec ALTER COLUMN amt TYPE DECIMAL(20,4)")
    }
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.se.dec ALTER COLUMN amt TYPE DECIMAL(10,2)")
    }
    spark.sql("DROP TABLE graft.se.dec")
  }

  test("DROP COLUMN re-projects rows; guards protect partition/constraint columns") {
    spark.sql("DROP TABLE IF EXISTS graft.se.d")
    spark.sql("CREATE TABLE graft.se.d (k BIGINT, junk STRING, v DOUBLE) USING graft")
    spark.sql("INSERT INTO graft.se.d VALUES (1,'x',0.5), (2,'y',1.5)")
    spark.sql("ALTER TABLE graft.se.d DROP COLUMN junk")
    assert(spark.table("graft.se.d").columns.toSeq == Seq("k", "v"))
    assert(spark.sql("SELECT k, v FROM graft.se.d ORDER BY k")
      .as[(Long, Double)].collect().toSeq == Seq((1L, 0.5), (2L, 1.5)))
    // inserts against the narrowed schema work
    spark.sql("INSERT INTO graft.se.d VALUES (3, 2.5)")
    assert(spark.sql("SELECT count(*) FROM graft.se.d").as[Long].head() == 3L)
    // a constraint-referenced column refuses to drop (or rename)
    spark.sql("ALTER TABLE graft.se.d ADD CONSTRAINT v_pos CHECK (v > 0)")
    intercept[Exception] { spark.sql("ALTER TABLE graft.se.d DROP COLUMN v") }
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.se.d RENAME COLUMN v TO w")
    }
    spark.sql("ALTER TABLE graft.se.d DROP CONSTRAINT v_pos")
    spark.sql("ALTER TABLE graft.se.d DROP COLUMN v")
    assert(spark.table("graft.se.d").columns.toSeq == Seq("k"))
    // partition columns never drop
    spark.sql("DROP TABLE IF EXISTS graft.se.dp")
    spark.sql(
      "CREATE TABLE graft.se.dp (k BIGINT, p STRING) USING graft PARTITIONED BY (p)")
    intercept[Exception] { spark.sql("ALTER TABLE graft.se.dp DROP COLUMN p") }
    // zone maps survive the migration: a k filter still prunes
    spark.sql("DROP TABLE IF EXISTS graft.se.z")
    spark.sql("CREATE TABLE graft.se.z (k BIGINT, junk STRING) USING graft")
    spark.sql("INSERT INTO graft.se.z SELECT id, 'x' FROM range(0, 100, 1, 2)")
    spark.sql("ALTER TABLE graft.se.z DROP COLUMN junk")
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    val sb = cat.loadTable(
      org.apache.spark.sql.connector.catalog.Identifier.of(Array("se"), "z"))
      .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
      .newScanBuilder(org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
    sb.asInstanceOf[org.apache.spark.sql.connector.read.SupportsPushDownFilters]
      .pushFilters(Array(org.apache.spark.sql.sources.LessThan("k", 10L)))
    assert(sb.build().toBatch.planInputPartitions().length == 1,
      "post-drop segments must carry fresh zone maps")
  }

  test("COMMENT / DROP NOT NULL / SET+DROP DEFAULT are metadata-only column alters") {
    spark.sql("DROP TABLE IF EXISTS graft.se.m PURGE")
    spark.sql("CREATE TABLE graft.se.m (k BIGINT NOT NULL, v STRING) USING graft")
    spark.sql("INSERT INTO graft.se.m VALUES (1, 'a')")
    val v1 = spark.sql("SELECT max(version) FROM graft.se.m.history")
      .collect().head.getLong(0)
    spark.sql("ALTER TABLE graft.se.m ALTER COLUMN v COMMENT 'doc'")
    assert(spark.sql("DESCRIBE graft.se.m").collect()
      .exists(r => r.getString(0) == "v" && r.getString(2) == "doc"))
    // Relaxing NOT NULL makes NULL inserts legal; tightening refuses
    // (Spark's analyzer — existing rows are not re-validated).
    spark.sql("ALTER TABLE graft.se.m ALTER COLUMN k DROP NOT NULL")
    spark.sql("INSERT INTO graft.se.m VALUES (NULL, 'n')")
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.se.m ALTER COLUMN v SET NOT NULL")
    }
    // CURRENT_DEFAULT governs FUTURE omitted-column inserts only.
    spark.sql("ALTER TABLE graft.se.m ALTER COLUMN v SET DEFAULT 'dd'")
    spark.sql("INSERT INTO graft.se.m (k) VALUES (7)")
    assert(spark.sql("SELECT v FROM graft.se.m WHERE k = 7").as[String].head() == "dd")
    spark.sql("ALTER TABLE graft.se.m ALTER COLUMN v DROP DEFAULT")
    spark.sql("INSERT INTO graft.se.m (k) VALUES (8)")
    assert(spark.sql("SELECT v FROM graft.se.m WHERE k = 8").collect().head.isNullAt(0))
    // Metadata-only: NO snapshot published by any of the alters (the
    // three inserts are the only new versions), and the pre-alter era
    // still reads.
    val vN = spark.sql("SELECT max(version) FROM graft.se.m.history")
      .collect().head.getLong(0)
    assert(vN == v1 + 3, s"column-metadata alters must not publish snapshots ($v1 -> $vN)")
    assert(spark.sql(s"SELECT count(*) FROM graft.se.m VERSION AS OF $v1")
      .as[Long].head() == 1L)
    spark.sql("DROP TABLE graft.se.m PURGE")
  }

  test("a constraint pins a column by whole identifier: CHECK (uid > 0) leaves id free") {
    spark.sql("DROP TABLE IF EXISTS graft.se.ci PURGE")
    spark.sql("CREATE TABLE graft.se.ci (uid BIGINT, id INT, v STRING) USING graft")
    spark.sql("INSERT INTO graft.se.ci VALUES (1, 10, 'a'), (2, 20, 'b')")
    spark.sql("ALTER TABLE graft.se.ci ADD CONSTRAINT pos CHECK (uid > 0)")
    spark.sql("ALTER TABLE graft.se.ci ALTER COLUMN id TYPE BIGINT")
    spark.sql("ALTER TABLE graft.se.ci RENAME COLUMN id TO n")
    spark.sql("ALTER TABLE graft.se.ci RENAME COLUMN n TO id")
    spark.sql("ALTER TABLE graft.se.ci DROP COLUMN id")
    assert(spark.table("graft.se.ci").columns.toSeq == Seq("uid", "v"))
    assert(spark.sql("SELECT uid, v FROM graft.se.ci ORDER BY uid")
      .as[(Long, String)].collect().toSeq == Seq(1L -> "a", 2L -> "b"))
    // The constraint still pins uid itself.
    intercept[Exception] { spark.sql("ALTER TABLE graft.se.ci DROP COLUMN uid") }
    spark.sql("DROP TABLE graft.se.ci PURGE")
  }

  test("DROP COLUMN IF EXISTS of a missing column through the TableCatalog API is a true no-op") {
    spark.sql("DROP TABLE IF EXISTS graft.se.dx PURGE")
    spark.sql("CREATE TABLE graft.se.dx (k BIGINT, v INT) USING graft")
    spark.sql("INSERT INTO graft.se.dx VALUES (1, 1)")
    val files = GraftCatalog.segmentFilesOnDisk("se", "dx")
    val v = GraftCatalog.currentVersion("se", "dx")
    import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog, TableChange}
    spark.sessionState.catalogManager.catalog("graft").asInstanceOf[TableCatalog]
      .alterTable(Identifier.of(Array("se"), "dx"), TableChange.deleteColumn(Array("nosuch"), true))
    assert(GraftCatalog.segmentFilesOnDisk("se", "dx") == files, "no segment may be rewritten")
    assert(GraftCatalog.currentVersion("se", "dx") == v, "no snapshot may be published")
    spark.sql("DROP TABLE graft.se.dx PURGE")
  }

  test("a multi-change ALTER whose last change is invalid writes no file and publishes nothing") {
    spark.sql("DROP TABLE IF EXISTS graft.se.vb PURGE")
    spark.sql("CREATE TABLE graft.se.vb (k INT, x FLOAT) USING graft")
    spark.sql("INSERT INTO graft.se.vb VALUES (1, 0.5), (2, 1.5)")
    val files = GraftCatalog.segmentFilesOnDisk("se", "vb")
    val v = GraftCatalog.currentVersion("se", "vb")
    def unchanged(): Unit = {
      assert(GraftCatalog.segmentFilesOnDisk("se", "vb") == files)
      assert(GraftCatalog.currentVersion("se", "vb") == v)
      assert(spark.table("graft.se.vb").schema.map(_.dataType.simpleString) ==
        Seq("int", "float"))
    }
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.se.vb ADD COLUMNS (x2 INT, y INT AFTER nosuch)")
    }
    unchanged()
    import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog, TableChange}
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val cat = spark.sessionState.catalogManager.catalog("graft").asInstanceOf[TableCatalog]
    intercept[UnsupportedOperationException] {
      cat.alterTable(Identifier.of(Array("se"), "vb"),
        TableChange.updateColumnType(Array("k"), LongType),
        TableChange.updateColumnType(Array("x"), IntegerType))
    }
    unchanged()
    spark.sql("DROP TABLE graft.se.vb PURGE")
  }

  test("a constraint pins a column case-insensitively: CHECK (AMOUNT > 0) pins amount") {
    spark.sql("DROP TABLE IF EXISTS graft.se.cu PURGE")
    spark.sql("CREATE TABLE graft.se.cu (amount BIGINT, k BIGINT) USING graft")
    spark.sql("INSERT INTO graft.se.cu VALUES (5, 1)")
    spark.sql("ALTER TABLE graft.se.cu ADD CONSTRAINT big CHECK (AMOUNT > 0)")
    intercept[Exception] { spark.sql("ALTER TABLE graft.se.cu RENAME COLUMN amount TO amt") }
    intercept[Exception] { spark.sql("ALTER TABLE graft.se.cu DROP COLUMN amount") }
    assert(spark.table("graft.se.cu").columns.toSeq == Seq("amount", "k"))
    spark.sql("DROP TABLE graft.se.cu PURGE")
  }
}
