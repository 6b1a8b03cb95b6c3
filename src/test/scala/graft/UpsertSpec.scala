package graft

import org.scalatest.funsuite.AnyFunSuite

/** Merge-on-read UPSERTS via equality deletes (the Iceberg v2 /
  * Flink-upsert shape): `df.writeTo(t).option("graft.upsert.keys",
  * "k").append()` appends the batch AND registers an equality delete
  * over its keys in ONE commit — older rows with those keys disappear
  * at read time, no file is rewritten. Claims under test: last-wins
  * visibility with exact sequence semantics (a later plain INSERT of
  * the same key is NOT deleted by an earlier upsert), time travel
  * reads pre-upsert state, compaction materializes + GCs the deletes,
  * metadata shortcuts (metadata aggregates, segment-capped LIMIT)
  * decline while deletes are outstanding, the CDC feed emits the
  * upsert as delete+insert, the streaming sink upserts per epoch
  * exactly-once, and schema DDL refuses to break outstanding keys.
  */
class UpsertSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def kv(t: String): Seq[(Long, String)] =
    spark.sql(s"SELECT k, v FROM $t ORDER BY k, v").as[(Long, String)].collect().toSeq

  private def upsert(t: String, rows: (Long, String)*): Unit =
    rows.toSeq.toDF("k", "v").writeTo(t)
      .option("graft.upsert.keys", "k").append()

  test("upsert is last-wins; sequence numbers protect later inserts") {
    spark.sql("DROP TABLE IF EXISTS graft.up.t")
    spark.sql("CREATE TABLE graft.up.t (k BIGINT, v STRING) USING graft")
    spark.sql("INSERT INTO graft.up.t VALUES (1, 'a1'), (2, 'a2'), (3, 'a3')") // v1
    upsert("graft.up.t", 2L -> "b2", 4L -> "b4") // v2: replaces k=2, adds k=4
    assert(kv("graft.up.t") == Seq(1L -> "a1", 2L -> "b2", 3L -> "a3", 4L -> "b4"))
    assert(graft.sources.GraftCatalog.eqDeleteCount("up", "t") == 1)
    // A LATER plain insert of k=2 must NOT be hit by the v2 delete
    // (eq deletes kill rows written BEFORE them, never after).
    spark.sql("INSERT INTO graft.up.t VALUES (2, 'c2')") // v3
    assert(kv("graft.up.t") ==
      Seq(1L -> "a1", 2L -> "b2", 2L -> "c2", 3L -> "a3", 4L -> "b4"),
      "post-upsert insert coexists — the delete is sequence-scoped")
    // A second upsert of k=2 kills BOTH older k=2 rows.
    upsert("graft.up.t", 2L -> "d2") // v4
    assert(kv("graft.up.t") == Seq(1L -> "a1", 2L -> "d2", 3L -> "a3", 4L -> "b4"))
    // Time travel: each era reads with exactly its outstanding deletes.
    assert(spark.sql("SELECT k, v FROM graft.up.t VERSION AS OF 1 ORDER BY k")
      .as[(Long, String)].collect().toSeq == Seq(1L -> "a1", 2L -> "a2", 3L -> "a3"))
    assert(spark.sql("SELECT k, v FROM graft.up.t VERSION AS OF 2 ORDER BY k")
      .as[(Long, String)].collect().toSeq ==
      Seq(1L -> "a1", 2L -> "b2", 3L -> "a3", 4L -> "b4"))
    spark.sql("DROP TABLE graft.up.t")
  }

  test("compaction materializes equality deletes and GCs them") {
    import graft.sources.GraftCatalog
    spark.sql("DROP TABLE IF EXISTS graft.up.c")
    spark.sql("CREATE TABLE graft.up.c (k BIGINT, v STRING) USING graft")
    spark.sql("INSERT INTO graft.up.c VALUES (1, 'a1'), (2, 'a2')")
    upsert("graft.up.c", 1L -> "b1")
    upsert("graft.up.c", 2L -> "b2")
    assert(GraftCatalog.eqDeleteCount("up", "c") == 2)
    val want = Seq(1L -> "b1", 2L -> "b2")
    assert(kv("graft.up.c") == want)
    spark.sql("CALL graft.system.compact('up', 'c')")
    assert(GraftCatalog.eqDeleteCount("up", "c") == 0,
      "materializing rewrite + publish GC must drop the deletes")
    assert(kv("graft.up.c") == want, "identical rows after materialization")
    // Physical row count now equals logical (ghosts gone from bytes).
    assert(GraftCatalog.rowCount("up", "c") == 2L)
    spark.sql("DROP TABLE graft.up.c")
  }

  test("compact reports the rows left after the fold, not the shadowed ones") {
    spark.sql("DROP TABLE IF EXISTS graft.up.cr")
    spark.sql("CREATE TABLE graft.up.cr (k BIGINT, v STRING) USING graft")
    spark.sql("INSERT INTO graft.up.cr VALUES (1, 'a1'), (2, 'a2'), (3, 'a3'), (4, 'a4')")
    upsert("graft.up.cr", 2L -> "b2")
    val r = spark.sql("CALL graft.system.compact('up', 'cr')").head()
    assert(r.getAs[Long]("rows") == 4L, r)
    spark.sql("DROP TABLE graft.up.cr")
  }

  test("a majority DELETE's survivors keep an upserted-away row deleted") {
    // The rewritten survivors take the DELETE's (newer) sequence stamp,
    // so they must not carry k=1's old row: the upsert's equality
    // delete would no longer apply to it and 'a1' would come back.
    spark.sql("DROP TABLE IF EXISTS graft.up.sd")
    spark.sql("CREATE TABLE graft.up.sd (k BIGINT, v STRING) USING graft")
    spark.sql(
      "INSERT INTO graft.up.sd SELECT /*+ REPARTITION(1) */ id, concat('a', id) FROM range(1, 6)")
    upsert("graft.up.sd", 1L -> "b1")
    // 3 of the old segment's rows match: a majority, so it is rewritten.
    spark.sql("DELETE FROM graft.up.sd WHERE k >= 3")
    assert(kv("graft.up.sd") == Seq(1L -> "b1", 2L -> "a2"))
    spark.sql("DROP TABLE graft.up.sd")
  }

  test("metadata shortcuts decline while deletes are outstanding") {
    spark.sql("DROP TABLE IF EXISTS graft.up.m")
    spark.sql("CREATE TABLE graft.up.m (k BIGINT, v STRING) USING graft")
    spark.sql("INSERT INTO graft.up.m SELECT id, concat('v', id) FROM range(100)")
    upsert("graft.up.m", 99L -> "replaced")
    // COUNT/MIN/MAX must be computed from filtered data, not segment
    // stats (which still describe the ghost of k=99's old row).
    val r = spark.sql("SELECT count(*) AS n, min(k) AS lo, max(k) AS hi FROM graft.up.m")
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((100L, 0L, 99L)))
    val plan = spark.sql("SELECT count(*) FROM graft.up.m")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("GraftCatalogAggScan"),
      s"metadata aggregate must decline under outstanding eq deletes:\n$plan")
    // LIMIT still delivers the full ask (segment capping declined):
    // k=99's segment-1 ghost must not shrink the planned coverage.
    assert(spark.sql("SELECT k FROM graft.up.m LIMIT 100").count() == 100L)
    spark.sql("DROP TABLE graft.up.m")
  }

  test("row-level UPDATE after an upsert keeps filtered state (materializing rewrite)") {
    spark.sql("DROP TABLE IF EXISTS graft.up.u")
    spark.sql("CREATE TABLE graft.up.u (k BIGINT, v STRING) USING graft")
    spark.sql("INSERT INTO graft.up.u VALUES (1, 'a1'), (2, 'a2')")
    upsert("graft.up.u", 2L -> "b2")
    spark.sql("UPDATE graft.up.u SET v = concat(v, '!') WHERE k >= 1")
    assert(kv("graft.up.u") == Seq(1L -> "a1!", 2L -> "b2!"),
      "the rewrite must act on eq-filtered rows, never resurrect the ghost")
    spark.sql("DROP TABLE graft.up.u")
  }

  test("CDC: the upsert commit surfaces as delete of old + insert of new") {
    spark.sql("DROP TABLE IF EXISTS graft.up.f")
    spark.sql("CREATE TABLE graft.up.f (k BIGINT, v STRING) USING graft")
    spark.sql("INSERT INTO graft.up.f VALUES (1, 'a1'), (2, 'a2')") // v1
    upsert("graft.up.f", 2L -> "b2", 5L -> "b5") // v2
    val feed = spark.read.format("graft-changes")
      .option("table", "up.f").option("changesFrom", "1").load()
      .select($"_change_type", $"k", $"v").as[(String, Long, String)]
      .collect().sortBy(r => (r._1, r._2))
    assert(feed.toSeq == Seq(
      ("delete", 2L, "a2"), ("insert", 2L, "b2"), ("insert", 5L, "b5")),
      s"got ${feed.toSeq}")
    // Net feed from v0: the old k=2 row never existed on net — only
    // the final state's rows emit as inserts.
    val net = spark.read.format("graft-changes")
      .option("table", "up.f").option("changesFrom", "0").load()
      .select($"_change_type", $"k", $"v").as[(String, Long, String)]
      .collect().sortBy(r => (r._1, r._2))
    assert(net.toSeq == Seq(
      ("insert", 1L, "a1"), ("insert", 2L, "b2"), ("insert", 5L, "b5")),
      s"got ${net.toSeq}")
    spark.sql("DROP TABLE graft.up.f")
  }

  test("append streams treat an upsert as a change commit") {
    spark.sql("DROP TABLE IF EXISTS graft.up.s")
    spark.sql("DROP TABLE IF EXISTS graft.up.s_out")
    spark.sql("CREATE TABLE graft.up.s (k BIGINT, v STRING) USING graft")
    spark.sql("CREATE TABLE graft.up.s_out (k BIGINT, v STRING) USING graft")
    spark.sql("INSERT INTO graft.up.s VALUES (1, 'a1')")
    upsert("graft.up.s", 1L -> "b1")
    val dir = java.nio.file.Files.createTempDirectory("upsert-stream-").toString
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      // startingVersion replays history per commit — the upsert commit
      // (v2) must fail the append-only replay. (A fresh stream without
      // it reads the INITIAL SNAPSHOT, which is already eq-filtered
      // state and passes — also correct.)
      val q = spark.readStream.option("startingVersion", "1")
        .table("graft.up.s").writeStream
        .option("checkpointLocation", s"$dir/ck")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable("graft.up.s_out")
      q.awaitTermination(30000); ()
    }
    assert(e.getMessage.contains("not") || e.getCause.getMessage.contains("append"),
      s"upsert commit must fail an append-only stream: ${e.getMessage}")
    spark.sql("DROP TABLE graft.up.s")
    spark.sql("DROP TABLE graft.up.s_out")
  }

  test("streaming upsert sink: per-epoch exactly-once upserts converge") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    spark.sql("DROP TABLE IF EXISTS graft.up.sink")
    spark.sql("CREATE TABLE graft.up.sink (k BIGINT, v STRING) USING graft")
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("k", "v").writeStream
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("upsert-sink-").toString + "/ck")
      .option("graft.upsert.keys", "k")
      .trigger(Trigger.ProcessingTime(50))
      .toTable("graft.up.sink")
    try {
      in.addData(1L -> "a1", 2L -> "a2")
      q.processAllAvailable()
      assert(kv("graft.up.sink") == Seq(1L -> "a1", 2L -> "a2"))
      in.addData(2L -> "b2", 3L -> "b3") // epoch 2 upserts k=2
      q.processAllAvailable()
      assert(kv("graft.up.sink") == Seq(1L -> "a1", 2L -> "b2", 3L -> "b3"),
        "the epoch's keys replace older rows — streaming CDC apply without MERGE")
    } finally q.stop()
    spark.sql("DROP TABLE graft.up.sink")
  }

  test("schema DDL: rename follows eq keys; drop/retype of a key column refuses") {
    spark.sql("DROP TABLE IF EXISTS graft.up.d")
    spark.sql("CREATE TABLE graft.up.d (k INT, v STRING) USING graft")
    spark.sql("INSERT INTO graft.up.d VALUES (1, 'a1'), (2, 'a2')")
    Seq((2, "b2")).toDF("k", "v").writeTo("graft.up.d")
      .option("graft.upsert.keys", "k").append()
    val e1 = intercept[Exception] { spark.sql("ALTER TABLE graft.up.d DROP COLUMN k") }
    assert(e1.getMessage.contains("equality deletes"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql("ALTER TABLE graft.up.d ALTER COLUMN k TYPE BIGINT")
    }
    assert(e2.getMessage.contains("equality deletes"), e2.getMessage)
    spark.sql("ALTER TABLE graft.up.d RENAME COLUMN k TO id")
    assert(spark.sql("SELECT id, v FROM graft.up.d ORDER BY id, v")
      .as[(Int, String)].collect().toSeq == Seq(1 -> "a1", 2 -> "b2"),
      "the delete keys by the renamed column and still applies")
    // After compaction the guards lift.
    spark.sql("CALL graft.system.compact('up', 'd')")
    spark.sql("ALTER TABLE graft.up.d ALTER COLUMN id TYPE BIGINT")
    spark.sql("DROP TABLE graft.up.d")
  }

  test("clone/branch continue the source's sequence domain (no resurrect/no-shadow)") {
    spark.sql("DROP TABLE IF EXISTS graft.up.src")
    spark.sql("DROP TABLE IF EXISTS graft.up.dup")
    spark.sql("CREATE TABLE graft.up.src (k BIGINT, v STRING) USING graft")
    spark.sql("INSERT INTO graft.up.src VALUES (1, 'a1'), (2, 'a2')") // v1
    upsert("graft.up.src", 2L -> "b2") // v2: eq delete at seq 2
    spark.sql("CALL graft.system.clone('up', 'src', 'up', 'dup', '')")
    // 1) An INSERT into the clone must NOT be swallowed by the
    //    inherited eq delete (a history restarting at 0 would stamp
    //    the new segment seq 1 < 2 and make it invisible).
    spark.sql("INSERT INTO graft.up.dup VALUES (2, 'c2')")
    assert(kv("graft.up.dup") == Seq(1L -> "a1", 2L -> "b2", 2L -> "c2"),
      "post-clone insert must be visible alongside the inherited row")
    // 2) An UPSERT into the clone must shadow the INHERITED rows (its
    //    eq delete must stamp above the inherited segments' seqs).
    upsert("graft.up.dup", 2L -> "d2", 1L -> "d1")
    assert(kv("graft.up.dup") == Seq(1L -> "d1", 2L -> "d2"),
      "post-clone upsert must shadow inherited rows")
    // The source is untouched throughout.
    assert(kv("graft.up.src") == Seq(1L -> "a1", 2L -> "b2"))
    spark.sql("DROP TABLE graft.up.dup")
    spark.sql("DROP TABLE graft.up.src")
  }

  test("CDC: a paired CoW UPDATE followed by an in-range upsert nets correctly") {
    spark.sql("DROP TABLE IF EXISTS graft.up.pe")
    spark.sql("CREATE TABLE graft.up.pe (k BIGINT, v STRING) USING graft")
    spark.sql("INSERT INTO graft.up.pe VALUES (1, 'a1'), (2, 'a2')") // v1
    spark.sql("UPDATE graft.up.pe SET v = concat(v, '!') WHERE k >= 1") // v2: CoW pair
    upsert("graft.up.pe", 2L -> "c2") // v3: eq delete applies to the v2 rewrite
    val feed = spark.read.format("graft-changes")
      .option("table", "up.pe").option("changesFrom", "1").load()
      .select($"_change_type", $"k", $"v").as[(String, Long, String)]
      .collect().sortBy(r => (r._2, r._1, r._3))
    // Net v1→v3 per key: k=1 'a1'→'a1!' (delete+insert or pair), k=2
    // 'a2'→'c2'. Apply the feed to the v1 state and require
    // convergence — a pairing that ignored the in-range eq delete
    // would emit a postimage 'a2!' with no matching delete.
    val state = scala.collection.mutable.Map(1L -> "a1", 2L -> "a2")
    feed.foreach {
      case ("delete" | "update_preimage", k, v) if state.get(k).contains(v) =>
        state.remove(k); ()
      case ("insert" | "update_postimage", k, v) => state(k) = v
      case ("delete" | "update_preimage", _, _) => () // already replaced
    }
    assert(state.toMap == Map(1L -> "a1!", 2L -> "c2"),
      s"feed must converge a replica to the final state; feed=${feed.toSeq}")
    assert(kv("graft.up.pe") == Seq(1L -> "a1!", 2L -> "c2"))
    spark.sql("DROP TABLE graft.up.pe")
  }

  test("an upsert batch with duplicate keys refuses loudly") {
    spark.sql("DROP TABLE IF EXISTS graft.up.dk")
    spark.sql("CREATE TABLE graft.up.dk (k BIGINT, v STRING) USING graft")
    val e = intercept[Exception] {
      Seq((1L, "x"), (1L, "y")).toDF("k", "v").writeTo("graft.up.dk")
        .option("graft.upsert.keys", "k").append()
    }
    assert(e.getMessage.contains("key-unique"), e.getMessage)
    // Nothing committed: the table is still empty.
    assert(spark.table("graft.up.dk").count() == 0L)
    spark.sql("DROP TABLE graft.up.dk")
  }

  test("upsert guards: null keys, overwrite modes, bad columns refuse") {
    spark.sql("DROP TABLE IF EXISTS graft.up.g")
    // Partitioned so overwritePartitions() reaches the upsert-mode
    // combination guard (unpartitioned fails earlier on its own).
    spark.sql(
      "CREATE TABLE graft.up.g (k BIGINT, v STRING) USING graft PARTITIONED BY (v)")
    val e1 = intercept[Exception] {
      Seq((1L, "x")).toDF("k", "v").writeTo("graft.up.g")
        .option("graft.upsert.keys", "nope").append()
    }
    assert(e1.getMessage.contains("nope"), e1.getMessage)
    val e2 = intercept[Exception] {
      Seq((null.asInstanceOf[java.lang.Long], "x")).toDF("k", "v")
        .writeTo("graft.up.g").option("graft.upsert.keys", "k").append()
    }
    assert(e2.getMessage != null)
    val e3 = intercept[Exception] {
      Seq((1L, "x")).toDF("k", "v").writeTo("graft.up.g")
        .option("graft.upsert.keys", "k").overwritePartitions()
    }
    assert(e3.getMessage.contains("append"), e3.getMessage)
    spark.sql("DROP TABLE graft.up.g")
  }
}
