package graft

import org.scalatest.funsuite.AnyFunSuite

/** Nested struct field evolution at ANY depth: `ADD COLUMNS (meta.c T)`
  * / `meta.a.d` / `items.element.f` and `DROP COLUMN meta.b` /
  * `props.value.v` rebuild the enclosing struct row-by-row through the
  * same streamed re-projection as top-level DROP/widen (positional
  * storage keeps a struct's inner layout inside each row's bytes),
  * preserving NULL parents AND NULL containers as NULL;
  * `RENAME COLUMN meta.a TO x` (any depth) is pure schema metadata —
  * inner names key nothing, zero file I/O.
  */
class NestedEvolutionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("ADD a nested field: old rows read NULL, NULL structs stay NULL") {
    spark.sql("DROP TABLE IF EXISTS graft.ne.a PURGE")
    spark.sql(
      "CREATE TABLE graft.ne.a (k BIGINT, meta STRUCT<a: STRING, b: INT>) USING graft")
    spark.sql(
      "INSERT INTO graft.ne.a VALUES (1, named_struct('a', 'x', 'b', 10)), (2, NULL)")
    spark.sql("ALTER TABLE graft.ne.a ADD COLUMNS (meta.c DOUBLE)")
    assert(spark.table("graft.ne.a").schema("meta").dataType.simpleString ==
      "struct<a:string,b:int,c:double>")
    val rows = spark.sql("SELECT k, meta.a, meta.b, meta.c FROM graft.ne.a ORDER BY k")
      .collect()
    assert(rows(0).getString(1) == "x" && rows(0).getInt(2) == 10 && rows(0).isNullAt(3),
      "pre-evolution row keeps values, new field reads NULL")
    assert(rows(1).isNullAt(1) && rows(1).isNullAt(3),
      "a NULL struct must stay NULL, not become a struct of nulls")
    assert(spark.sql("SELECT count(*) FROM graft.ne.a WHERE meta IS NULL")
      .as[Long].head() == 1L)
    // New writes fill the evolved shape; both eras aggregate together.
    spark.sql(
      "INSERT INTO graft.ne.a VALUES (3, named_struct('a', 'y', 'b', 20, 'c', 2.5))")
    assert(spark.sql("SELECT sum(meta.b) FROM graft.ne.a").as[Long].head() == 30L)
    assert(spark.sql("SELECT sum(meta.c) FROM graft.ne.a").as[Double].head() == 2.5)
    spark.sql("DROP TABLE graft.ne.a PURGE")
  }

  test("RENAME a nested field is metadata-only: same files, no snapshot rewrite") {
    spark.sql("DROP TABLE IF EXISTS graft.ne.r PURGE")
    spark.sql(
      "CREATE TABLE graft.ne.r (k BIGINT, meta STRUCT<a: STRING, b: INT>) USING graft")
    spark.sql("INSERT INTO graft.ne.r VALUES (1, named_struct('a', 'x', 'b', 7))")
    val filesBefore = spark.sql("SELECT path FROM graft.ne.r.files")
      .as[String].collect().toSet
    spark.sql("ALTER TABLE graft.ne.r RENAME COLUMN meta.a TO label")
    assert(spark.sql("SELECT meta.label FROM graft.ne.r").as[String].head() == "x")
    intercept[Exception] { spark.sql("SELECT meta.a FROM graft.ne.r").collect() }
    assert(spark.sql("SELECT path FROM graft.ne.r.files").as[String].collect().toSet
      == filesBefore, "nested rename must not rewrite any file")
    // Collisions and non-struct parents refuse.
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.ne.r RENAME COLUMN meta.label TO b")
    }
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.ne.r RENAME COLUMN k.x TO y")
    }
    spark.sql("DROP TABLE graft.ne.r PURGE")
  }

  test("WIDEN a nested field (int -> bigint): values exact, NULL structs intact, lossy refuses") {
    spark.sql("DROP TABLE IF EXISTS graft.ne.w PURGE")
    spark.sql(
      "CREATE TABLE graft.ne.w (k BIGINT, meta STRUCT<a: STRING, b: INT>) USING graft")
    spark.sql(
      "INSERT INTO graft.ne.w VALUES (1, named_struct('a', 'x', 'b', 2147483647)), (2, NULL)")
    spark.sql("ALTER TABLE graft.ne.w ALTER COLUMN meta.b TYPE BIGINT")
    assert(spark.table("graft.ne.w").schema("meta").dataType.simpleString ==
      "struct<a:string,b:bigint>")
    // Post-widen inserts exceed int range; the pre-widen era decodes exactly.
    spark.sql("INSERT INTO graft.ne.w VALUES (3, named_struct('a', 'y', 'b', 5000000000))")
    assert(spark.sql("SELECT sum(meta.b) FROM graft.ne.w").as[Long].head() ==
      2147483647L + 5000000000L)
    assert(spark.sql("SELECT count(*) FROM graft.ne.w WHERE meta IS NULL")
      .as[Long].head() == 1L, "NULL struct survives the nested widen")
    intercept[Exception] { // narrowing refuses
      spark.sql("ALTER TABLE graft.ne.w ALTER COLUMN meta.b TYPE INT")
    }
    spark.sql("DROP TABLE graft.ne.w PURGE")
  }

  test("ADD COLUMNS honors FIRST/AFTER; ALTER COLUMN repositions via permutation rewrite") {
    spark.sql("DROP TABLE IF EXISTS graft.ne.p PURGE")
    spark.sql("CREATE TABLE graft.ne.p (k BIGINT, v STRING) USING graft")
    spark.sql("INSERT INTO graft.ne.p VALUES (1, 'a'), (2, 'b')")
    // Positioned adds: one FIRST, one AFTER an old column, one AFTER a
    // column added in the SAME statement.
    spark.sql(
      """ALTER TABLE graft.ne.p ADD COLUMNS
        |  (z INT FIRST, m DOUBLE AFTER k, m2 DOUBLE AFTER m)""".stripMargin)
    assert(spark.table("graft.ne.p").schema.fieldNames.toSeq ==
      Seq("z", "k", "m", "m2", "v"), "FIRST/AFTER order must be honored exactly")
    assert(spark.sql("SELECT v FROM graft.ne.p WHERE k = 1").as[String].head() == "a",
      "values survive the positioned add")
    // Reposition an existing column: SELECT * order follows; data intact.
    spark.sql("ALTER TABLE graft.ne.p ALTER COLUMN v FIRST")
    assert(spark.table("graft.ne.p").schema.fieldNames.toSeq ==
      Seq("v", "z", "k", "m", "m2"))
    assert(spark.sql("SELECT * FROM graft.ne.p WHERE k = 2").collect().head.getString(0)
      == "b", "SELECT * reads the permuted physical order correctly")
    spark.sql("ALTER TABLE graft.ne.p ALTER COLUMN v AFTER m2")
    assert(spark.table("graft.ne.p").schema.fieldNames.toSeq ==
      Seq("z", "k", "m", "m2", "v"))
    assert(spark.sql("SELECT k, v FROM graft.ne.p ORDER BY k")
      .as[(Long, String)].collect().toSeq == Seq((1L, "a"), (2L, "b")))
    intercept[Exception] { // unknown AFTER target refuses
      spark.sql("ALTER TABLE graft.ne.p ALTER COLUMN v AFTER nope")
    }
    spark.sql("DROP TABLE graft.ne.p PURGE")
  }

  test("RESTORE to a pre-migration version brings back the dropped nested field") {
    spark.sql("DROP TABLE IF EXISTS graft.ne.rs PURGE")
    spark.sql(
      "CREATE TABLE graft.ne.rs (k BIGINT, meta STRUCT<a: STRING, b: INT>) USING graft")
    spark.sql("INSERT INTO graft.ne.rs VALUES (1, named_struct('a', 'x', 'b', 7))")
    val v = spark.sql("SELECT max(version) FROM graft.ne.rs.history")
      .collect().head.getLong(0)
    spark.sql("ALTER TABLE graft.ne.rs DROP COLUMN meta.b")
    spark.sql("INSERT INTO graft.ne.rs VALUES (2, named_struct('a', 'y'))")
    assert(spark.table("graft.ne.rs").schema("meta").dataType.simpleString ==
      "struct<a:string>")
    // Time travel into the pre-drop era reads the old shape...
    assert(spark.sql(s"SELECT meta.b FROM graft.ne.rs VERSION AS OF $v")
      .collect().head.getInt(0) == 7)
    // ...and RESTORE re-installs that era wholesale: schema AND the
    // pre-migration segments, which must decode under it again.
    spark.sql(s"CALL graft.system.restore('ne', 'rs', '$v')").collect()
    assert(spark.table("graft.ne.rs").schema("meta").dataType.simpleString ==
      "struct<a:string,b:int>", "restore must bring the pre-drop schema back")
    val r = spark.sql("SELECT k, meta.a, meta.b FROM graft.ne.rs ORDER BY k").collect()
    assert(r.length == 1 && r(0).getString(1) == "x" && r(0).getInt(2) == 7,
      "restored era decodes with its own schema; the post-drop insert is gone")
    spark.sql("DROP TABLE graft.ne.rs PURGE")
  }

  test("nested rename/drop refuse when a constraint or generation expr references the struct") {
    spark.sql("DROP TABLE IF EXISTS graft.ne.g PURGE")
    spark.sql(
      """CREATE TABLE graft.ne.g (
        |  k BIGINT, meta STRUCT<a: INT, b: INT>,
        |  CONSTRAINT pos CHECK (meta.a > 0)) USING graft""".stripMargin)
    spark.sql("INSERT INTO graft.ne.g VALUES (1, named_struct('a', 5, 'b', 6))")
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.ne.g RENAME COLUMN meta.a TO x")
    }
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.ne.g DROP COLUMN meta.a")
    }
    // The constraint still enforces — the schema never moved under it.
    intercept[Exception] {
      spark.sql("INSERT INTO graft.ne.g VALUES (2, named_struct('a', -1, 'b', 0))")
    }
    spark.sql("DROP TABLE graft.ne.g PURGE")

    spark.sql("DROP TABLE IF EXISTS graft.ne.g2 PURGE")
    spark.sql(
      """CREATE TABLE graft.ne.g2 (
        |  k BIGINT, meta STRUCT<a: INT>,
        |  d INT GENERATED ALWAYS AS (meta.a * 2)) USING graft""".stripMargin)
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.ne.g2 RENAME COLUMN meta.a TO x")
    }
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.ne.g2 DROP COLUMN meta.a")
    }
    spark.sql("DROP TABLE graft.ne.g2 PURGE")
  }

  test("DROP COLUMN IF EXISTS on a missing nested field is a TRUE no-op") {
    spark.sql("DROP TABLE IF EXISTS graft.ne.ie PURGE")
    spark.sql(
      "CREATE TABLE graft.ne.ie (k BIGINT, meta STRUCT<a: STRING>) USING graft")
    spark.sql("INSERT INTO graft.ne.ie VALUES (1, named_struct('a', 'x'))")
    val v = spark.sql("SELECT max(version) FROM graft.ne.ie.history")
      .collect().head.getLong(0)
    spark.sql("ALTER TABLE graft.ne.ie DROP COLUMN IF EXISTS meta.nope")
    spark.sql("ALTER TABLE graft.ne.ie DROP COLUMN IF EXISTS ghost.nope")
    assert(spark.sql("SELECT max(version) FROM graft.ne.ie.history")
      .collect().head.getLong(0) == v,
      "IF EXISTS resolving to nothing must publish NO snapshot (no rewrite)")
    intercept[Exception] { // without IF EXISTS it still refuses loudly
      spark.sql("ALTER TABLE graft.ne.ie DROP COLUMN meta.nope")
    }
    spark.sql("DROP TABLE graft.ne.ie PURGE")
  }

  test("container widening: xs.element / m.value widen; map-key retype refuses") {
    spark.sql("DROP TABLE IF EXISTS graft.ne.c PURGE")
    spark.sql(
      "CREATE TABLE graft.ne.c (k BIGINT, xs ARRAY<INT>, m MAP<STRING, INT>) USING graft")
    spark.sql(
      "INSERT INTO graft.ne.c VALUES (1, array(1, 2147483647), map('a', 5)), (2, NULL, NULL)")
    spark.sql("ALTER TABLE graft.ne.c ALTER COLUMN xs.element TYPE BIGINT")
    spark.sql("ALTER TABLE graft.ne.c ALTER COLUMN m.value TYPE BIGINT")
    spark.sql(
      "INSERT INTO graft.ne.c VALUES (3, array(5000000000), map('b', 6000000000))")
    assert(spark.sql(
      "SELECT sum(aggregate(coalesce(xs, array()), 0L, (acc, x) -> acc + x)) FROM graft.ne.c")
      .as[Long].head() == 1L + 2147483647L + 5000000000L,
      "pre-widen array elements decode exactly; post-widen values exceed int range")
    assert(spark.sql(
      "SELECT sum(aggregate(map_values(coalesce(m, map())), 0L, (acc, x) -> acc + x)) FROM graft.ne.c")
      .as[Long].head() == 5L + 6000000000L)
    assert(spark.sql("SELECT count(*) FROM graft.ne.c WHERE xs IS NULL")
      .as[Long].head() == 1L, "NULL containers survive the widen")
    intercept[Exception] { // map KEY retype refuses — key identity is semantics
      spark.sql("ALTER TABLE graft.ne.c ALTER COLUMN m.key TYPE INT")
    }
    intercept[Exception] { // element narrowing refuses
      spark.sql("ALTER TABLE graft.ne.c ALTER COLUMN xs.element TYPE INT")
    }
    spark.sql("DROP TABLE graft.ne.c PURGE")
  }

  test("DROP a nested field re-projects; survivors and NULL structs intact") {
    spark.sql("DROP TABLE IF EXISTS graft.ne.d PURGE")
    spark.sql(
      "CREATE TABLE graft.ne.d (k BIGINT, meta STRUCT<a: STRING, b: INT, c: DOUBLE>) USING graft")
    spark.sql(
      """INSERT INTO graft.ne.d VALUES
        |(1, named_struct('a', 'x', 'b', 10, 'c', 1.5)), (2, NULL)""".stripMargin)
    spark.sql("ALTER TABLE graft.ne.d DROP COLUMN meta.b")
    assert(spark.table("graft.ne.d").schema("meta").dataType.simpleString ==
      "struct<a:string,c:double>")
    val rows = spark.sql("SELECT k, meta.a, meta.c FROM graft.ne.d ORDER BY k").collect()
    assert(rows(0).getString(1) == "x" && rows(0).getDouble(2) == 1.5)
    assert(rows(1).isNullAt(1), "NULL struct survives the nested drop")
    intercept[Exception] { spark.sql("SELECT meta.b FROM graft.ne.d").collect() }
    // Time travel still reads the pre-drop era with its own schema.
    assert(spark.sql("SELECT count(*) FROM graft.ne.d VERSION AS OF 1")
      .as[Long].head() == 2L)
    // Dropping the last remaining fields one by one refuses at the end.
    spark.sql("ALTER TABLE graft.ne.d DROP COLUMN meta.c")
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.ne.d DROP COLUMN meta.a")
    }
    spark.sql("DROP TABLE graft.ne.d PURGE")
  }

  test("DEEP evolution: depth-2 struct add/rename/widen/drop; NULL parents at both levels") {
    spark.sql("DROP TABLE IF EXISTS graft.ne.deep PURGE")
    spark.sql(
      """CREATE TABLE graft.ne.deep
        |  (k BIGINT, meta STRUCT<a: STRUCT<b: INT, c: STRING>, t: STRING>)
        |USING graft""".stripMargin)
    spark.sql(
      """INSERT INTO graft.ne.deep VALUES
        |(1, named_struct('a', named_struct('b', 7, 'c', 'x'), 't', 'u')),
        |(2, NULL),
        |(3, named_struct('a', CAST(NULL AS STRUCT<b: INT, c: STRING>), 't', 'w'))""".stripMargin)
    // ADD at depth 2: era-1 rows read NULL; NULL parents at BOTH levels survive.
    spark.sql("ALTER TABLE graft.ne.deep ADD COLUMNS (meta.a.d DOUBLE)")
    spark.sql(
      """INSERT INTO graft.ne.deep VALUES
        |(4, named_struct('a', named_struct('b', 9, 'c', 'y', 'd', 2.5), 't', 'v'))""".stripMargin)
    val afterAdd = spark.sql(
      "SELECT k, meta.a.b, meta.a.d, meta.t FROM graft.ne.deep ORDER BY k").collect()
    assert(afterAdd(0).getInt(1) == 7 && afterAdd(0).isNullAt(2), "era-1 reads NULL d")
    assert(afterAdd(1).isNullAt(1) && afterAdd(1).isNullAt(3), "NULL meta stays NULL")
    assert(afterAdd(2).isNullAt(1) && afterAdd(2).getString(3) == "w",
      "NULL inner struct stays NULL; sibling t intact")
    assert(afterAdd(3).getDouble(2) == 2.5)
    // RENAME at depth 2 is metadata-only; WIDEN at depth 2 re-projects.
    spark.sql("ALTER TABLE graft.ne.deep RENAME COLUMN meta.a.b TO bb")
    spark.sql("ALTER TABLE graft.ne.deep ALTER COLUMN meta.a.bb TYPE BIGINT")
    assert(spark.table("graft.ne.deep").schema("meta").dataType.simpleString ==
      "struct<a:struct<bb:bigint,c:string,d:double>,t:string>")
    assert(spark.sql("SELECT sum(meta.a.bb) FROM graft.ne.deep").as[Long].head() == 16L)
    // DROP at depth 2: sibling values and NULL parents intact.
    spark.sql("ALTER TABLE graft.ne.deep DROP COLUMN meta.a.c")
    val afterDrop = spark.sql(
      "SELECT k, meta.a.bb, meta.a.d, meta.t FROM graft.ne.deep ORDER BY k").collect()
    assert(afterDrop(0).getLong(1) == 7L && afterDrop(0).isNullAt(2))
    assert(afterDrop(1).isNullAt(1) && afterDrop(2).isNullAt(1))
    assert(afterDrop(3).getLong(1) == 9L && afterDrop(3).getDouble(2) == 2.5)
    intercept[Exception] { spark.sql("SELECT meta.a.c FROM graft.ne.deep").collect() }
    // Dropping the LAST remaining fields of the inner struct refuses.
    spark.sql("ALTER TABLE graft.ne.deep DROP COLUMN meta.a.d")
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.ne.deep DROP COLUMN meta.a.bb")
    }
    spark.sql("DROP TABLE graft.ne.deep PURGE")
  }

  test("nested COMMENT and DROP NOT NULL are metadata-only at any depth; nested DEFAULT refuses") {
    spark.sql("DROP TABLE IF EXISTS graft.ne.md PURGE")
    spark.sql(
      """CREATE TABLE graft.ne.md
        |  (k BIGINT, meta STRUCT<a: STRUCT<b: INT NOT NULL>, t: STRING>)
        |USING graft""".stripMargin)
    spark.sql("INSERT INTO graft.ne.md VALUES (1, named_struct('a', named_struct('b', 7), 't', 'x'))")
    val filesBefore = spark.sql("SELECT path FROM graft.ne.md.files")
      .collect().map(_.getString(0)).toSet
    spark.sql("ALTER TABLE graft.ne.md ALTER COLUMN meta.a.b COMMENT 'depth-2 comment'")
    spark.sql("ALTER TABLE graft.ne.md ALTER COLUMN meta.a.b DROP NOT NULL")
    val inner = spark.table("graft.ne.md").schema("meta").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]("a").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]("b")
    assert(inner.getComment().contains("depth-2 comment"))
    assert(inner.nullable, "DROP NOT NULL must loosen the nested field")
    val filesAfter = spark.sql("SELECT path FROM graft.ne.md.files")
      .collect().map(_.getString(0)).toSet
    assert(filesAfter == filesBefore, "metadata-only ALTER must touch no file")
    // Values still decode; a NULL for the loosened field now inserts.
    spark.sql("INSERT INTO graft.ne.md VALUES " +
      "(2, named_struct('a', named_struct('b', CAST(NULL AS INT)), 't', 'y'))")
    assert(spark.sql("SELECT sum(coalesce(meta.a.b, 0)) FROM graft.ne.md")
      .as[Long].head() == 7L)
    intercept[Exception] { // nested DEFAULT has no omitted-column form
      spark.sql("ALTER TABLE graft.ne.md ALTER COLUMN meta.a.b SET DEFAULT 5")
    }
    spark.sql("DROP TABLE graft.ne.md PURGE")
  }

  test("nested evolution over OUTSTANDING equality deletes keeps masking exactly") {
    // Interplay corner: a merge-on-read upsert leaves eq-deletes
    // pending; the nested ADD/DROP migration rewrites every segment
    // 1:1 (same data seq), so the deletes must keep masking their
    // pre-images — and the upserted rows must read the evolved shape.
    spark.sql("DROP TABLE IF EXISTS graft.ne.eq PURGE")
    spark.sql(
      "CREATE TABLE graft.ne.eq (k BIGINT, meta STRUCT<v: INT, s: STRING>) USING graft")
    spark.sql(
      """INSERT INTO graft.ne.eq VALUES
        |(1, named_struct('v', 10, 's', 'a')),
        |(2, named_struct('v', 20, 's', 'b')),
        |(3, NULL)""".stripMargin)
    // Upsert k=2 (eq-delete of the old row + append of the new one).
    import spark.implicits._
    Seq((2L, 21, "b2")).toDF("k", "v", "s")
      .selectExpr("k", "named_struct('v', v, 's', s) AS meta")
      .writeTo("graft.ne.eq").option("graft.upsert.keys", "k").append()
    // Evolve at depth WHILE the eq-delete is outstanding (no compact).
    spark.sql("ALTER TABLE graft.ne.eq ADD COLUMNS (meta.w DOUBLE)")
    spark.sql("ALTER TABLE graft.ne.eq DROP COLUMN meta.s")
    val rows = spark.sql(
      "SELECT k, meta.v, meta.w FROM graft.ne.eq ORDER BY k").collect()
    assert(rows.length == 3, s"eq-delete must still mask the pre-image: ${rows.toSeq}")
    assert(rows(1).getInt(1) == 21, "the upserted post-image wins through the migration")
    assert(rows(0).getInt(1) == 10 && rows(0).isNullAt(2))
    assert(rows(2).isNullAt(1), "NULL struct rides the migration")
    spark.sql("DROP TABLE graft.ne.eq PURGE")
  }

  test("nested ADD honors FIRST/AFTER within the enclosing struct (any depth)") {
    spark.sql("DROP TABLE IF EXISTS graft.ne.pos PURGE")
    spark.sql(
      """CREATE TABLE graft.ne.pos
        |  (k BIGINT, meta STRUCT<a: STRUCT<x: INT, z: INT>, t: STRING>,
        |   items ARRAY<STRUCT<p: INT, r: INT>>)
        |USING graft""".stripMargin)
    spark.sql(
      """INSERT INTO graft.ne.pos VALUES
        |(1, named_struct('a', named_struct('x', 1, 'z', 3), 't', 'u'),
        |    array(named_struct('p', 5, 'r', 7))),
        |(2, NULL, NULL)""".stripMargin)
    // AFTER splices between siblings at depth 2; FIRST leads the
    // element struct inside the array.
    spark.sql("ALTER TABLE graft.ne.pos ADD COLUMNS (meta.a.y INT AFTER x)")
    spark.sql("ALTER TABLE graft.ne.pos ADD COLUMNS (items.element.q INT FIRST)")
    assert(spark.table("graft.ne.pos").schema("meta").dataType.simpleString ==
      "struct<a:struct<x:int,y:int,z:int>,t:string>")
    assert(spark.table("graft.ne.pos").schema("items").dataType.simpleString ==
      "array<struct<q:int,p:int,r:int>>")
    // Existing values stay on their (repositioned) fields; new slots NULL.
    val r = spark.sql(
      "SELECT meta.a.x, meta.a.y, meta.a.z, items[0].q, items[0].p, items[0].r " +
        "FROM graft.ne.pos WHERE k = 1").head()
    assert(r.getInt(0) == 1 && r.isNullAt(1) && r.getInt(2) == 3)
    assert(r.isNullAt(3) && r.getInt(4) == 5 && r.getInt(5) == 7)
    assert(spark.sql("SELECT count(*) FROM graft.ne.pos WHERE meta IS NULL")
      .as[Long].head() == 1L, "NULL parents survive positioned adds")
    // A positioned add whose AFTER target is missing refuses loudly.
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.ne.pos ADD COLUMNS (meta.a.w INT AFTER nope)")
    }
    spark.sql("DROP TABLE graft.ne.pos PURGE")
  }

  test("DEEP evolution inside containers: array<struct> and map<_,struct> element fields") {
    spark.sql("DROP TABLE IF EXISTS graft.ne.cont PURGE")
    spark.sql(
      """CREATE TABLE graft.ne.cont
        |  (k BIGINT,
        |   items ARRAY<STRUCT<sku: STRING, qty: INT>>,
        |   props MAP<STRING, STRUCT<v: INT>>)
        |USING graft""".stripMargin)
    spark.sql(
      """INSERT INTO graft.ne.cont VALUES
        |(1, array(named_struct('sku', 's1', 'qty', 2), named_struct('sku', 's2', 'qty', 3)),
        |    map('p', named_struct('v', 5))),
        |(2, NULL, NULL),
        |(3, array(), map()),
        |(4, array(CAST(NULL AS STRUCT<sku: STRING, qty: INT>)), map('q', named_struct('v', 6)))""".stripMargin)
    // ADD a field inside every array element / map value struct.
    spark.sql("ALTER TABLE graft.ne.cont ADD COLUMNS (items.element.discount DOUBLE)")
    spark.sql("ALTER TABLE graft.ne.cont ADD COLUMNS (props.value.w STRING)")
    spark.sql(
      """INSERT INTO graft.ne.cont VALUES
        |(5, array(named_struct('sku', 's9', 'qty', 4, 'discount', 0.25)),
        |    map('r', named_struct('v', 7, 'w', 'tag')))""".stripMargin)
    val afterAdd = spark.sql(
      """SELECT k, items, map_values(props) AS pv FROM graft.ne.cont ORDER BY k""").collect()
    assert(afterAdd(0).getSeq[org.apache.spark.sql.Row](1).map(r =>
      (r.getString(0), r.getInt(1), if (r.isNullAt(2)) null else r.getDouble(2))) ==
      Seq(("s1", 2, null), ("s2", 3, null)), "era-1 elements read NULL discount")
    assert(afterAdd(1).isNullAt(1) && afterAdd(1).isNullAt(2), "NULL containers stay NULL")
    assert(afterAdd(2).getSeq[Any](1).isEmpty, "empty array stays empty")
    assert(afterAdd(3).getSeq[org.apache.spark.sql.Row](1) == Seq(null),
      "NULL array element stays NULL")
    assert(afterAdd(4).getSeq[org.apache.spark.sql.Row](1).head.getDouble(2) == 0.25)
    assert(afterAdd(4).getSeq[org.apache.spark.sql.Row](2).head.getString(1) == "tag")
    // RENAME + WIDEN inside containers.
    spark.sql("ALTER TABLE graft.ne.cont RENAME COLUMN items.element.qty TO quantity")
    spark.sql("ALTER TABLE graft.ne.cont ALTER COLUMN items.element.quantity TYPE BIGINT")
    spark.sql("ALTER TABLE graft.ne.cont ALTER COLUMN props.value.v TYPE BIGINT")
    assert(spark.sql(
      """SELECT sum(aggregate(coalesce(items, array()), 0L,
        |  (acc, x) -> acc + coalesce(x.quantity, 0L))) FROM graft.ne.cont""".stripMargin)
      .as[Long].head() == 2L + 3L + 4L)
    assert(spark.sql(
      """SELECT sum(aggregate(map_values(coalesce(props, map())), 0L,
        |  (acc, x) -> acc + coalesce(x.v, 0L))) FROM graft.ne.cont""".stripMargin)
      .as[Long].head() == 5L + 6L + 7L)
    // DROP a field inside array elements; survivors + NULL shapes intact.
    spark.sql("ALTER TABLE graft.ne.cont DROP COLUMN items.element.sku")
    val afterDrop = spark.sql("SELECT k, items FROM graft.ne.cont ORDER BY k").collect()
    assert(afterDrop(0).getSeq[org.apache.spark.sql.Row](1).map(_.getLong(0)) == Seq(2L, 3L))
    assert(afterDrop(1).isNullAt(1))
    assert(afterDrop(3).getSeq[org.apache.spark.sql.Row](1) == Seq(null))
    // Refusals: dropping every remaining element field; map-key mutation.
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.ne.cont DROP COLUMN props.value.v") // leaves w
      spark.sql("ALTER TABLE graft.ne.cont DROP COLUMN props.value.w") // last field
    }
    spark.sql("DROP TABLE graft.ne.cont PURGE")
  }
}
