package graft

import java.nio.file.Files

import org.apache.spark.sql.connector.catalog.Identifier
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.GraftCatalog

/** Durable-metastore (ledger) tests: catalog state written under a
  * configured `root` must survive a "restart" — simulated by dropping
  * the in-memory maps for the tables under test and re-arming the
  * ledger load (the JVM-process equivalent isn't reachable from a unit
  * test; the reload path exercised is byte-for-byte the one a fresh JVM
  * takes).
  */
class PersistentCatalogSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = SparkTestSession.spark
    s.conf.set("spark.sql.catalog.pgraft", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.pgraft.root",
      Files.createTempDirectory("graft_persist_root_").toString)
    s
  }
  import spark.implicits._

  private def ident(ns: String, name: String): Identifier =
    Identifier.of(Array(ns), name)

  test("tables, data, snapshot history and time travel survive a restart") {
    spark.sql("DROP TABLE IF EXISTS pgraft.pns.t")
    spark.sql("CREATE TABLE pgraft.pns.t (k BIGINT, v STRING) USING graft")
    spark.sql("INSERT INTO pgraft.pns.t VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO pgraft.pns.t VALUES (3, 'c')")
    val before = spark.sql("SELECT k, v FROM pgraft.pns.t ORDER BY k")
      .as[(Long, String)].collect().toSeq
    assert(before == Seq((1L, "a"), (2L, "b"), (3L, "c")))

    GraftCatalog.resetInMemoryStateForTest(ident("pns", "t"))

    // Reads come back from the ledger: current data...
    assert(spark.sql("SELECT k, v FROM pgraft.pns.t ORDER BY k")
      .as[(Long, String)].collect().toSeq == before)
    // ...the full snapshot history (v0 empty, v1 first insert, v2 both)...
    assert(spark.sql("SELECT count(*) FROM pgraft.pns.t VERSION AS OF 0")
      .as[Long].head() == 0L)
    assert(spark.sql("SELECT k FROM pgraft.pns.t VERSION AS OF 1 ORDER BY k")
      .as[Long].collect().toSeq == Seq(1L, 2L))
    // ...and appends continue the SAME version line (no restart at v0).
    spark.sql("INSERT INTO pgraft.pns.t VALUES (4, 'd')")
    assert(spark.sql("SELECT count(*) FROM pgraft.pns.t").as[Long].head() == 4L)
    assert(GraftCatalog.currentVersion("pns", "t").contains(3L))
    spark.sql("DROP TABLE pgraft.pns.t")
  }

  test("row lineage and the id counter survive a restart") {
    spark.sql("DROP TABLE IF EXISTS pgraft.pns.lin")
    spark.sql("CREATE TABLE pgraft.pns.lin (k BIGINT) USING graft")
    spark.range(0, 6).selectExpr("id AS k").coalesce(1)
      .writeTo("pgraft.pns.lin").append()
    spark.sql("DELETE FROM pgraft.pns.lin WHERE k IN (2)") // dv: survivor ids keep gaps
    val before = spark.sql(
      "SELECT k, _row_id, _last_updated_seq FROM pgraft.pns.lin ORDER BY _row_id")
      .as[(Long, Long, Long)].collect().toSeq
    assert(before == Seq(0L, 1L, 3L, 4L, 5L).map(k => (k, k, 1L)))

    GraftCatalog.resetInMemoryStateForTest(ident("pns", "lin"))

    assert(spark.sql(
      "SELECT k, _row_id, _last_updated_seq FROM pgraft.pns.lin ORDER BY _row_id")
      .as[(Long, Long, Long)].collect().toSeq == before,
      "lineage runs must reload from the ledger byte-identically")
    // The COUNTER reloaded too: new ids continue above 6, never reusing
    // the dv'd row's id.
    spark.range(6, 8).selectExpr("id AS k").coalesce(1)
      .writeTo("pgraft.pns.lin").append()
    val ids = spark.sql("SELECT _row_id FROM pgraft.pns.lin").as[Long].collect()
    assert(ids.length == 7 && ids.distinct.length == 7 && ids.max == 7L)
    spark.sql("DROP TABLE pgraft.pns.lin")
  }

  test("the drop trash survives a restart: undrop still works in a fresh JVM") {
    spark.sql("DROP TABLE IF EXISTS pgraft.pns.ud PURGE")
    spark.sql("CREATE TABLE pgraft.pns.ud (k BIGINT) USING graft")
    spark.sql("INSERT INTO pgraft.pns.ud VALUES (1), (2)")
    spark.sql("DROP TABLE pgraft.pns.ud") // soft

    GraftCatalog.resetInMemoryStateForTest(ident("pns", "ud"))

    spark.sql("CALL pgraft.system.undrop('pns', 'ud')")
    assert(spark.sql("SELECT k FROM pgraft.pns.ud ORDER BY k")
      .as[Long].collect().toSeq == Seq(1L, 2L),
      "the trash generation reloads from the ledger and restores")
    spark.sql("DROP TABLE pgraft.pns.ud PURGE")
  }

  test("equality deletes and data sequence numbers survive a restart") {
    spark.sql("DROP TABLE IF EXISTS pgraft.pns.ups")
    spark.sql("CREATE TABLE pgraft.pns.ups (k BIGINT, v STRING) USING graft")
    spark.sql("INSERT INTO pgraft.pns.ups VALUES (1, 'a1'), (2, 'a2')") // v1
    Seq((2L, "b2")).toDF("k", "v").writeTo("pgraft.pns.ups")
      .option("graft.upsert.keys", "k").append() // v2: merge-on-read upsert

    GraftCatalog.resetInMemoryStateForTest(ident("pns", "ups"))

    // The reloaded reader must still subtract the ghost of k=2 — the
    // eq delete AND every segment's seq round-tripped the ledger (a
    // seq collapsing to 0 would wrongly delete the UPSERT's own row).
    assert(spark.sql("SELECT k, v FROM pgraft.pns.ups ORDER BY k")
      .as[(Long, String)].collect().toSeq == Seq((1L, "a1"), (2L, "b2")))
    // Pre-upsert time travel still shows the old row.
    assert(spark.sql("SELECT k, v FROM pgraft.pns.ups VERSION AS OF 1 ORDER BY k")
      .as[(Long, String)].collect().toSeq == Seq((1L, "a1"), (2L, "a2")))
    // And a post-restart upsert keeps sequencing correctly.
    Seq((1L, "c1")).toDF("k", "v").writeTo("pgraft.pns.ups")
      .option("graft.upsert.keys", "k").append()
    assert(spark.sql("SELECT k, v FROM pgraft.pns.ups ORDER BY k")
      .as[(Long, String)].collect().toSeq == Seq((1L, "c1"), (2L, "b2")))
    spark.sql("DROP TABLE pgraft.pns.ups")
  }

  test("WAP branches survive a restart and publish afterwards") {
    spark.sql("DROP TABLE IF EXISTS pgraft.pns.`wb@a`")
    spark.sql("DROP TABLE IF EXISTS pgraft.pns.wb")
    spark.sql("CREATE TABLE pgraft.pns.wb (k BIGINT) USING graft")
    spark.sql("INSERT INTO pgraft.pns.wb VALUES (1)") // v1
    spark.sql("CALL pgraft.system.create_branch('pns', 'wb', 'a', '')").collect()
    spark.sql("INSERT INTO pgraft.pns.`wb@a` VALUES (2)")

    GraftCatalog.resetInMemoryStateForTest(ident("pns", "wb"))
    GraftCatalog.resetInMemoryStateForTest(ident("pns", "wb@a"))

    // Branch entry, provenance props, and its continued version
    // numbering all reload — the publish replays from ledger state.
    assert(spark.sql("SELECT k FROM pgraft.pns.`wb@a` ORDER BY k")
      .as[Long].collect().toSeq == Seq(1L, 2L))
    spark.sql("CALL pgraft.system.publish_branch('pns', 'wb', 'a')").collect()
    assert(spark.sql("SELECT k FROM pgraft.pns.wb ORDER BY k")
      .as[Long].collect().toSeq == Seq(1L, 2L))
    assert(spark.sql("SELECT count(*) FROM pgraft.pns.wb.branches").as[Long].head() == 0L)
    spark.sql("DROP TABLE pgraft.pns.wb")
  }

  test("deletion vectors and zone-map stats survive a restart") {
    spark.sql("DROP TABLE IF EXISTS pgraft.pns.dv")
    spark.sql("CREATE TABLE pgraft.pns.dv (id BIGINT, grp STRING) USING graft")
    spark.sql(
      "INSERT INTO pgraft.pns.dv SELECT id, CASE WHEN id % 2 = 0 THEN 'e' ELSE 'o' END FROM range(0, 100)")
    spark.sql("DELETE FROM pgraft.pns.dv WHERE id >= 90") // merge-on-read dv
    assert(GraftCatalog.dvDeletedRows("pns", "dv") == 10L,
      "precondition: the delete attached a deletion vector")

    GraftCatalog.resetInMemoryStateForTest(ident("pns", "dv"))

    // dv honored after reload: deleted rows stay invisible.
    assert(spark.sql("SELECT count(*) FROM pgraft.pns.dv").as[Long].head() == 90L)
    assert(GraftCatalog.dvDeletedRows("pns", "dv") == 10L)
    // Zone maps reloaded: a provably-out-of-range predicate plans zero
    // input partitions (segment skipped on stats, not scanned-and-filtered).
    val pruned = spark.sql("SELECT count(*) FROM pgraft.pns.dv WHERE id > 1000000")
    assert(pruned.as[Long].head() == 0L)
    spark.sql("DROP TABLE pgraft.pns.dv")
  }

  test("segment bloom filters survive a restart and keep skipping segments") {
    spark.sql("DROP TABLE IF EXISTS pgraft.pns.bf")
    spark.sql("CREATE TABLE pgraft.pns.bf (id BIGINT, ukey STRING) USING graft")
    // 4 segments of md5 keys: every segment's [min,max] spans the hex
    // keyspace, so post-restart skipping can only come from blooms
    // having round-tripped through the ledger.
    spark.sql(
      "INSERT INTO pgraft.pns.bf SELECT id, md5(CAST(id AS STRING)) FROM range(0, 400, 1, 4)")
    def plannedParts(key: String): Int = {
      val cat = spark.sessionState.catalogManager.catalog("pgraft")
        .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      val sb = cat.loadTable(ident("pns", "bf"))
        .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
        .newScanBuilder(org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
      sb.asInstanceOf[org.apache.spark.sql.connector.read.SupportsPushDownFilters]
        .pushFilters(Array(org.apache.spark.sql.sources.EqualTo("ukey", key)))
      sb.build().toBatch.planInputPartitions().length
    }
    val k42 = spark.sql("SELECT md5('42')").as[String].head()
    assert(plannedParts(k42) == 1 && plannedParts("nope-key") == 0,
      "precondition: blooms skip before the restart")

    GraftCatalog.resetInMemoryStateForTest(ident("pns", "bf"))

    assert(plannedParts(k42) == 1, "reloaded bloom must still hit the home segment")
    assert(plannedParts("nope-key") == 0, "reloaded bloom must still prove absence")
    assert(spark.sql(s"SELECT id FROM pgraft.pns.bf WHERE ukey = '$k42'")
      .as[Long].head() == 42L)
    spark.sql("DROP TABLE pgraft.pns.bf")
  }

  test("table properties survive a restart (MV definitions stay refreshable)") {
    spark.sql("DROP TABLE IF EXISTS pgraft.pns.mvb")
    spark.sql("DROP TABLE IF EXISTS pgraft.pns.mva")
    spark.sql("CREATE TABLE pgraft.pns.mvb (g STRING, v BIGINT) USING graft")
    spark.sql("INSERT INTO pgraft.pns.mvb VALUES ('a', 1), ('b', 2)")
    spark.sql(
      "CALL graft.system.create_mv('pns', 'mva', 'pns.mvb', 'g', 'sum(v) AS total')")
      .collect()

    GraftCatalog.resetInMemoryStateForTest(ident("pns", "mvb"))
    GraftCatalog.resetInMemoryStateForTest(ident("pns", "mva"))

    // The MV definition props reloaded from the ledger: a post-restart
    // append still refreshes INCREMENTALLY (needs source/group/aggs AND
    // the recorded version, plus the source's snapshot history).
    spark.sql("INSERT INTO pgraft.pns.mvb VALUES ('b', 10)")
    val (mode, groups) = spark.sql("CALL graft.system.refresh_mv('pns', 'mva')")
      .select("mode", "groups").as[(String, Long)].head()
    assert(mode == "incremental" && groups == 1,
      s"post-restart refresh must stay incremental, got ($mode, $groups)")
    assert(spark.sql("SELECT total FROM pgraft.pns.mva WHERE g = 'b'")
      .as[Long].head() == 12L)
    spark.sql("DROP TABLE pgraft.pns.mva")
    spark.sql("DROP TABLE pgraft.pns.mvb")
  }

  test("snapshot tags survive a restart and keep resolving") {
    spark.sql("DROP TABLE IF EXISTS pgraft.pns.tg")
    spark.sql("CREATE TABLE pgraft.pns.tg (k BIGINT) USING graft")
    spark.sql("INSERT INTO pgraft.pns.tg VALUES (1)") // v1
    spark.sql("INSERT INTO pgraft.pns.tg VALUES (2)") // v2
    spark.sql("ALTER TABLE pgraft.pns.tg SET TBLPROPERTIES ('graft.tag.rel'='1')")

    GraftCatalog.resetInMemoryStateForTest(ident("pns", "tg"))

    assert(spark.sql("SELECT k FROM pgraft.pns.tg VERSION AS OF 'rel' ORDER BY k")
      .as[Long].collect().toSeq == Seq(1L))
    spark.sql("DROP TABLE pgraft.pns.tg")
  }

  test("CHECK constraints survive a restart and keep enforcing") {
    spark.sql("DROP TABLE IF EXISTS pgraft.pns.ck")
    spark.sql(
      "CREATE TABLE pgraft.pns.ck (x INT CONSTRAINT pos CHECK (x > 0)) USING graft")
    spark.sql("INSERT INTO pgraft.pns.ck VALUES (5)")

    GraftCatalog.resetInMemoryStateForTest(ident("pns", "ck"))

    assert(spark.sql("SELECT x FROM pgraft.pns.ck").as[Int].head() == 5)
    val e = intercept[Exception] {
      spark.sql("INSERT INTO pgraft.pns.ck VALUES (-1)")
    }
    assert(e.getMessage.toLowerCase.contains("pos") ||
      e.getMessage.toLowerCase.contains("check"),
      s"reloaded constraint must still enforce, got: ${e.getMessage}")
    spark.sql("DROP TABLE pgraft.pns.ck")
  }

  test("views survive a restart (late binding against reloaded tables)") {
    spark.sql("DROP VIEW IF EXISTS pgraft.pns.v")
    spark.sql("DROP TABLE IF EXISTS pgraft.pns.base")
    spark.sql("CREATE TABLE pgraft.pns.base (n INT) USING graft")
    spark.sql("INSERT INTO pgraft.pns.base VALUES (1), (2), (3)")
    spark.sql("CREATE VIEW pgraft.pns.v AS SELECT sum(n) AS total FROM pgraft.pns.base")
    assert(spark.sql("SELECT total FROM pgraft.pns.v").as[Long].head() == 6L)

    GraftCatalog.resetInMemoryStateForTest(ident("pns", "v"), ident("pns", "base"))

    // View text reloads AND re-binds to the reloaded base table; a
    // post-restart insert flows through (late binding, not a snapshot).
    assert(spark.sql("SELECT total FROM pgraft.pns.v").as[Long].head() == 6L)
    spark.sql("INSERT INTO pgraft.pns.base VALUES (4)")
    assert(spark.sql("SELECT total FROM pgraft.pns.v").as[Long].head() == 10L)
    spark.sql("DROP VIEW pgraft.pns.v")
    spark.sql("DROP TABLE pgraft.pns.base")
  }

  test("ANALYZE column statistics survive a restart") {
    spark.sql("DROP TABLE IF EXISTS pgraft.pns.an")
    spark.sql("CREATE TABLE pgraft.pns.an (k BIGINT) USING graft")
    spark.sql("INSERT INTO pgraft.pns.an SELECT id % 50 FROM range(0, 1000)")
    spark.sql("CALL pgraft.system.analyze('pns', 'an')")
    val before = GraftCatalog.analyzedOf(ident("pns", "an"))("k")
    assert(before.ndv > 0)

    GraftCatalog.resetInMemoryStateForTest(ident("pns", "an"))

    spark.sql("SELECT count(*) FROM pgraft.pns.an").collect() // trigger reload
    assert(GraftCatalog.analyzedOf(ident("pns", "an"))("k") == before,
      "reloaded entry must carry the analyzed column stats")
    spark.sql("DROP TABLE pgraft.pns.an")
  }

  test("streaming exactly-once epoch ledger survives a restart") {
    spark.sql("DROP TABLE IF EXISTS pgraft.pns.sink")
    spark.sql("CREATE TABLE pgraft.pns.sink (id BIGINT) USING graft")
    val ckpt = Files.createTempDirectory("graft_persist_ckpt_").toString
    val src = java.nio.file.Files.createTempDirectory("graft_persist_src_")
    def writeBatchFile(name: String, ids: Range): Unit = {
      val df = spark.range(ids.head, ids.last + 1).toDF("id")
      df.coalesce(1).write.mode("append").parquet(src.toString)
    }
    writeBatchFile("b0", 0 to 99)
    def drain(): Unit = spark.readStream
      .schema("id BIGINT").parquet(src.toString)
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("pgraft.pns.sink")
      .awaitTermination()
    drain()
    assert(spark.sql("SELECT count(*) FROM pgraft.pns.sink").as[Long].head() == 100L)

    GraftCatalog.resetInMemoryStateForTest(ident("pns", "sink"))

    // Same checkpoint, no new data: the restarted stream replays nothing
    // and the reloaded epoch ledger dedups any replayed commit — count
    // must not double.
    drain()
    assert(spark.sql("SELECT count(*) FROM pgraft.pns.sink").as[Long].head() == 100L)
    // New data still lands exactly once after the restart.
    writeBatchFile("b1", 100 to 149)
    drain()
    assert(spark.sql("SELECT count(*) FROM pgraft.pns.sink").as[Long].head() == 150L)
    spark.sql("DROP TABLE pgraft.pns.sink")
  }
}
