package graft

import org.scalatest.funsuite.AnyFunSuite

/** Recoverable DROP: `DROP TABLE` is a soft move into a trash registry
  * (files intact, references still guarded) and
  * `CALL graft.system.undrop` restores the table wholesale;
  * `DROP TABLE ... PURGE` keeps the immediate-GC semantics.
  */
class UndropSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("drop → undrop restores data, history, properties, and row ids") {
    spark.sql("DROP TABLE IF EXISTS graft.ud.t PURGE")
    spark.sql("CREATE TABLE graft.ud.t (k BIGINT, v STRING) USING graft " +
      "TBLPROPERTIES ('team'='etl')")
    spark.range(0, 5).selectExpr("id AS k", "concat('v', id) AS v")
      .coalesce(1).writeTo("graft.ud.t").append()                    // v1
    spark.sql("INSERT OVERWRITE graft.ud.t VALUES (9, 'z')")         // v2
    spark.sql("DROP TABLE graft.ud.t")
    intercept[Exception] { spark.table("graft.ud.t").collect() }

    val r = spark.sql("CALL graft.system.undrop('ud', 't')").collect()(0)
    assert(r.getLong(1) == 2L, "restored at its last committed version")
    assert(spark.sql("SELECT k, v FROM graft.ud.t").as[(Long, String)]
      .collect().toSeq == Seq((9L, "z")))
    assert(spark.sql("SELECT count(*) FROM graft.ud.t VERSION AS OF 1")
      .collect()(0).getLong(0) == 5L, "time travel comes back with the table")
    assert(spark.sql("SHOW TBLPROPERTIES graft.ud.t (team)")
      .collect()(0).getString(1) == "etl")
    // Row-id domain survived the round trip: new rows allocate above
    // everything the pre-drop table ever minted (5 + 1 overwrite row).
    spark.sql("INSERT INTO graft.ud.t VALUES (10, 'w')")
    val ids = spark.sql("SELECT _row_id FROM graft.ud.t").as[Long].collect()
    assert(ids.distinct.length == 2 && ids.max >= 6L)
    spark.sql("DROP TABLE graft.ud.t PURGE")
  }

  test("a clone keeps reading files whose source table sits in the trash") {
    spark.sql("DROP TABLE IF EXISTS graft.ud.src PURGE")
    spark.sql("DROP TABLE IF EXISTS graft.ud.cl PURGE")
    spark.sql("CREATE TABLE graft.ud.src (k BIGINT) USING graft")
    spark.sql("INSERT INTO graft.ud.src VALUES (1), (2), (3)")
    spark.sql("CALL graft.system.clone('ud', 'src', 'ud', 'cl', '')")
    spark.sql("DROP TABLE graft.ud.src") // soft: shared files must survive
    assert(spark.table("graft.ud.cl").count() == 3L)
    // And the trashed table itself still restores afterwards.
    spark.sql("CALL graft.system.undrop('ud', 'src')")
    assert(spark.table("graft.ud.src").count() == 3L)
    spark.sql("DROP TABLE graft.ud.src PURGE")
    spark.sql("DROP TABLE graft.ud.cl PURGE")
  }

  test("purge spares clone-shared files vacuum already expired from the source") {
    // The vacuum-then-purge sequence: a clone shares file F; an
    // overwrite moves F out of the source's current segments; vacuum
    // expires F from the source's HISTORY but spares it on disk for
    // the clone — F is now in nobody's candidate list, so the purge's
    // directory sweep must compute its spare set from the GLOBAL
    // reference scan or it silently destroys the clone's data.
    spark.sql("DROP TABLE IF EXISTS graft.ud.vsrc PURGE")
    spark.sql("DROP TABLE IF EXISTS graft.ud.vcl PURGE")
    spark.sql("CREATE TABLE graft.ud.vsrc (k BIGINT) USING graft")
    spark.sql("INSERT INTO graft.ud.vsrc VALUES (1), (2), (3)")
    spark.sql("CALL graft.system.clone('ud', 'vsrc', 'ud', 'vcl', '')")
    spark.sql("INSERT OVERWRITE graft.ud.vsrc VALUES (9)")
    spark.sql("CALL graft.system.vacuum('ud', 'vsrc')")
    assert(spark.table("graft.ud.vcl").count() == 3L, "pre-purge sanity")
    spark.sql("DROP TABLE graft.ud.vsrc PURGE")
    assert(spark.table("graft.ud.vcl").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L),
      "the clone's shared file survived the source's directory purge")
    spark.sql("DROP TABLE graft.ud.vcl PURGE")
  }

  test("re-taken name refuses undrop; re-drop replaces the trash generation") {
    spark.sql("DROP TABLE IF EXISTS graft.ud.n PURGE")
    spark.sql("CREATE TABLE graft.ud.n (k BIGINT) USING graft")
    spark.sql("INSERT INTO graft.ud.n VALUES (1)")
    spark.sql("DROP TABLE graft.ud.n")
    spark.sql("CREATE TABLE graft.ud.n (k BIGINT) USING graft")
    spark.sql("INSERT INTO graft.ud.n VALUES (2), (3)")
    intercept[Exception] { // name re-taken
      spark.sql("CALL graft.system.undrop('ud', 'n')").collect()
    }
    spark.sql("DROP TABLE graft.ud.n") // latest drop wins the trash slot
    spark.sql("CALL graft.system.undrop('ud', 'n')")
    assert(spark.table("graft.ud.n").count() == 2L,
      "undrop restores the MOST RECENT generation")
    spark.sql("DROP TABLE graft.ud.n PURGE")
  }

  test("DROP TABLE ... PURGE is immediate and unrecoverable") {
    spark.sql("DROP TABLE IF EXISTS graft.ud.p PURGE")
    spark.sql("CREATE TABLE graft.ud.p (k BIGINT) USING graft")
    spark.sql("INSERT INTO graft.ud.p VALUES (1)")
    val seg = graft.sources.GraftCatalog.segmentPaths("ud", "p").head
    spark.sql("DROP TABLE graft.ud.p PURGE")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(seg)),
      "purge deletes files immediately")
    val e = intercept[Exception] {
      spark.sql("CALL graft.system.undrop('ud', 'p')").collect()
    }
    assert(e.getMessage.contains("trash"))
  }
}
