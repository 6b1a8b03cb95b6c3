package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.Identifier
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GraftCatalog, GraftLedger}

/** Log-structured ledger commits: data commits write DELTA documents
  * (current entry + the snapshot added + versions expired) and a full
  * CHECKPOINT document every K sequences, so per-commit metadata I/O is
  * O(commit), not O(retained history) — the Delta-log/Iceberg shape.
  * These specs pin the three load-bearing properties:
  *   1. per-commit document size stays FLAT as history grows (the
  *      500-commit history-heavy gauntlet);
  *   2. the numbered-doc directory stays bounded (checkpoint-anchored
  *      GC never strands or loses the replay chain);
  *   3. a fresh process (simulated restart) resolves EXACTLY the state
  *      the writer had — entry, history, time travel — by replaying
  *      deltas above the checkpoint.
  */
class LedgerDeltaSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = SparkTestSession.spark
    s.conf.set("spark.sql.catalog.pgraft", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.pgraft.root",
      java.nio.file.Files.createTempDirectory("graft_ledger_delta_").toString)
    s
  }

  private def ident(n: String) = Identifier.of(Array("ld"), n)
  private def docDirOf(id: Identifier): java.nio.file.Path =
    GraftLedger.tablesDir(GraftCatalog.warehouseRootForTest)
      .resolve(GraftLedger.fileNameOf(id) + ".d")
  private def docSizes(id: Identifier): Seq[(Long, Long)] = {
    val d = docDirOf(id)
    val s = java.nio.file.Files.list(d)
    try s.iterator().asScala.flatMap { p =>
      val n = p.getFileName.toString
      if (n.endsWith(".json") && !n.startsWith(".tmp-"))
        n.stripSuffix(".json").toLongOption.map(_ -> java.nio.file.Files.size(p))
      else None
    }.toSeq.sortBy(_._1)
    finally s.close()
  }
  test("500-commit history-heavy gauntlet: per-commit ledger writes stay flat") {
    spark.sql("DROP TABLE IF EXISTS pgraft.ld.h PURGE")
    // Long retention on BOTH axes so history genuinely grows to ~500
    // retained snapshots — the regime where whole-document commits pay
    // O(history) per commit and deltas must not.
    spark.sql(
      """CREATE TABLE pgraft.ld.h (k BIGINT, v BIGINT) USING graft
        |TBLPROPERTIES ('graft.retention.seconds'='3600',
        |               'graft.retention.snapshots'='600')""".stripMargin)
    val commits = GauntletEnv.ops(500)
    // INSERT OVERWRITE keeps the live segment count at 1, isolating the
    // metadata axis under test: entry stays O(1), history grows O(n).
    var earlyDelta = -1L
    (1 to commits).foreach { i =>
      spark.sql(s"INSERT OVERWRITE pgraft.ld.h VALUES ($i, ${i * 7})")
      if (i == 20) earlyDelta = docSizes(ident("h")).map(_._2).min
    }
    val sizes = docSizes(ident("h"))
    // (2) bounded directory: anchor checkpoint + < K deltas + the GC
    // straggler window — never the full commit log.
    assert(sizes.length <= 16 + 3,
      s"doc dir grew unbounded: ${sizes.length} documents after $commits commits")
    // (1) flat per-commit writes: the newest delta after ~500 commits is
    // no bigger than ~an early one (3x slack for props/stat drift) —
    // under whole-document commits it would carry ~500 snapshots and be
    // two orders larger. The dir's SMALLEST doc is always a delta; the
    // largest is the anchor checkpoint, which must dwarf it.
    val lateDelta = sizes.map(_._2).min
    val checkpoint = sizes.map(_._2).max
    assert(earlyDelta > 0 && lateDelta <= earlyDelta * 3,
      s"per-commit writes grew with history: early delta $earlyDelta B, late $lateDelta B")
    assert(checkpoint > lateDelta * 5,
      s"checkpoint ($checkpoint B) should carry the history deltas ($lateDelta B) elide")
    // (3) restart equality: a fresh metastore resolves the same state
    // through checkpoint + delta replay.
    val liveRows = spark.sql("SELECT k, v FROM pgraft.ld.h").collect().toSeq.map(_.toSeq)
    val histLen = spark.sql("SELECT count(*) FROM pgraft.ld.h.history")
      .collect().head.getLong(0)
    val tt = spark.sql(s"SELECT v FROM pgraft.ld.h VERSION AS OF ${commits / 2}")
      .collect().head.getLong(0)
    GraftCatalog.resetInMemoryStateForTest(ident("h"))
    assert(spark.sql("SELECT k, v FROM pgraft.ld.h").collect().toSeq.map(_.toSeq)
      == liveRows, "restart lost the current state")
    assert(spark.sql("SELECT count(*) FROM pgraft.ld.h.history")
      .collect().head.getLong(0) == histLen, "restart lost retained history")
    assert(spark.sql(s"SELECT v FROM pgraft.ld.h VERSION AS OF ${commits / 2}")
      .collect().head.getLong(0) == tt, "restart broke time travel through a delta chain")
    // Appends continue the same version line above the replayed state.
    spark.sql(s"INSERT INTO pgraft.ld.h VALUES (0, 0)")
    assert(spark.sql("SELECT count(*) FROM pgraft.ld.h").collect().head.getLong(0) == 2L)
    spark.sql("DROP TABLE pgraft.ld.h PURGE")
  }

  /** The newest DELTA document in the table's directory: its size, the
    * bytes of the bloom payloads it carries inline, and the number of
    * segment records it lists.
    */
  private def newestDelta(id: Identifier): (Long, Long, Int) = {
    val d = docDirOf(id)
    docSizes(id).reverseIterator.map { case (seq, size) =>
      val raw = java.nio.file.Files.readString(d.resolve(f"$seq%020d.json"))
      (size, new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(raw.substring(0, raw.lastIndexOf("\n#graft-seal:"))))
    }.collectFirst { case (size, doc) if doc.path("delta").asBoolean(false) =>
      // An added snapshot that shares the entry's segments carries
      // "segmentsRef" and no segment list of its own.
      val segs = (doc.get("segments").elements().asScala ++
        doc.get("added").elements().asScala
          .flatMap(a => Option(a.get("segments")).iterator.flatMap(_.elements().asScala))).toSeq
      (size, segs.flatMap(s => Option(s.get("blooms")).iterator.flatMap(_.elements().asScala))
        .map(_.asText("").length.toLong).sum, segs.size)
    }.getOrElse(fail("no delta document"))
  }

  /** Every retained snapshot's segment blooms, by path. */
  private def bloomsOf(id: Identifier): Map[String, IndexedSeq[Option[Array[Long]]]] = {
    val v = GraftCatalog.currentVersion(id.namespace.head, id.name).get
    (0L to v).flatMap(GraftCatalog.snapshotByVersion(id, _))
      .flatMap(_.segments).map(s => s.path -> s.blooms).toMap
  }

  private def assertSameBlooms(
      want: Map[String, IndexedSeq[Option[Array[Long]]]],
      got: Map[String, IndexedSeq[Option[Array[Long]]]], when: String): Unit = {
    assert(got.keySet == want.keySet, s"$when: segment paths differ")
    want.foreach { case (path, w) =>
      val g = got(path)
      assert(g.length == w.length && g.zip(w).forall {
        case (Some(a), Some(b)) => java.util.Arrays.equals(a, b)
        case (a, b) => a.isEmpty && b.isEmpty
      }, s"$when: blooms of $path differ from the writer's")
    }
  }

  test("segment-axis gauntlet: each segment's blooms ride the ledger once") {
    val id = ident("b")
    spark.sql("DROP TABLE IF EXISTS pgraft.ld.b PURGE")
    spark.sql(
      """CREATE TABLE pgraft.ld.b (k BIGINT) USING graft
        |TBLPROPERTIES ('graft.retention.seconds'='3600',
        |               'graft.retention.snapshots'='600')""".stripMargin)
    // 40 appends of 5k distinct keys, one segment each: every segment
    // carries a real bloom, and 40 appends cross two checkpoints.
    var second = (-1L, -1L, -1)
    (0 until 40).foreach { i =>
      spark.sql(s"INSERT INTO pgraft.ld.b SELECT id FROM range(${i * 5000L}, ${(i + 1) * 5000L}, 1, 1)")
      if (i == 1) second = newestDelta(id)
    }
    val live = GraftCatalog.snapshotByVersion(id, GraftCatalog.currentVersion("ld", "b").get)
      .get.segments
    assert(live.length == 40 && live.forall(_.blooms.headOption.flatten.isDefined),
      "every appended segment should carry a bloom")
    // Deltas carry only the new segment's blooms: the 40th delta's bloom
    // payload is the 2nd's, where repeating every live bloom in the
    // entry and the added snapshot grows it 40-fold. The rest of the
    // document lists each live segment's stats once (the added snapshot
    // refers to the entry's list), so it still grows by a few hundred
    // bytes a segment, far below one bloom each.
    val (last, lastBlooms, lastListed) = newestDelta(id)
    val (secondSize, secondBlooms, _) = second
    info(s"delta document: $secondSize B at the 2nd append, $last B after the 40th")
    assert(lastListed <= live.length,
      s"the newest delta lists $lastListed segment records for ${live.length} live segments")
    assert(secondBlooms > 0 && lastBlooms <= secondBlooms * 3 / 2,
      s"bloom payload grew with the segment count: 2nd $secondBlooms B, newest $lastBlooms B")
    assert(last - secondSize <= 38 * secondBlooms / 4,
      s"delta grew by a bloom's share per segment: 2nd $secondSize B, newest $last B")
    // Restart: checkpoint + delta replay resolves the writer's blooms.
    def restartMatches(when: String): Unit = {
      val want = bloomsOf(id)
      GraftCatalog.resetInMemoryStateForTest(id)
      spark.sql("SELECT count(*) FROM pgraft.ld.b").collect()
      assertSameBlooms(want, bloomsOf(id), when)
    }
    restartMatches("after 40 appends")
    spark.sql("CALL pgraft.system.compact('ld', 'b')").collect()
    spark.sql("DELETE FROM pgraft.ld.b WHERE k < 10") // minority: a deletion vector
    assert(GraftCatalog.dvDeletedRows("ld", "b") == 10L)
    restartMatches("after compact and a dv DELETE")
    // A legacy document with the blooms inline on every occurrence of
    // a segment still resolves: demote the ledger to a flat document
    // of that shape.
    val dir = GraftLedger.tablesDir(GraftCatalog.warehouseRootForTest)
    val (sid, entry, hist, eps) = GraftLedger.readTableState(dir, id, System.nanoTime()).get.state.get
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val doc = m.readTree(GraftLedger.encodeTable(sid, entry, hist, eps))
    val inline = scala.collection.mutable.HashMap.empty[String, com.fasterxml.jackson.databind.JsonNode]
    def inlineAll(segs: com.fasterxml.jackson.databind.JsonNode): Unit =
      segs.elements().asScala.foreach { case o: com.fasterxml.jackson.databind.node.ObjectNode =>
        val path = o.get("path").asText()
        Option(o.get("blooms")).foreach(inline.put(path, _))
        if (o.remove("bloomsRef") != null) o.set[com.fasterxml.jackson.databind.JsonNode]("blooms", inline(path))
      }
    inlineAll(doc.get("segments"))
    doc.get("history").elements().asScala.foreach(h => inlineAll(h.get("segments")))
    val legacy = m.writerWithDefaultPrettyPrinter().writeValueAsString(doc)
    assert(!legacy.contains("bloomsRef"))
    val want = bloomsOf(id)
    val d = docDirOf(id)
    val ls = java.nio.file.Files.list(d)
    try ls.iterator().asScala.foreach(p => java.nio.file.Files.delete(p))
    finally ls.close()
    java.nio.file.Files.delete(d)
    GraftLedger.write(dir, id, legacy)
    GraftCatalog.resetInMemoryStateForTest(id)
    spark.sql("SELECT count(*) FROM pgraft.ld.b").collect()
    assertSameBlooms(want, bloomsOf(id), "from a legacy inline document")
    // A delta above the legacy anchor references its segments.
    spark.sql("INSERT INTO pgraft.ld.b SELECT id FROM range(900000, 905000, 1, 1)")
    restartMatches("a delta above a legacy document")
    spark.sql("DROP TABLE pgraft.ld.b PURGE")
  }

  test("delta documents above a LEGACY FLAT doc resolve (flat is the seq-0 anchor)") {
    // A pre-numbered-ledger warehouse holds one flat <table>.json per
    // table. A process that loads it reports checkpoint seq 0, so its
    // next commit legally writes a DELTA at seq 1 with no numbered
    // checkpoint below — the resolver must anchor on the flat doc.
    spark.sql("DROP TABLE IF EXISTS pgraft.ld.f PURGE")
    spark.sql("CREATE TABLE pgraft.ld.f (k BIGINT) USING graft")
    spark.sql("INSERT INTO pgraft.ld.f VALUES (1), (2)")
    // Demote the table's ledger to the legacy layout: flat doc =
    // current resolved state, numbered directory gone.
    val dir = GraftLedger.tablesDir(GraftCatalog.warehouseRootForTest)
    val st = GraftLedger.readTableState(dir, ident("f"), System.nanoTime()).get
    val (id, entry, hist, eps) = st.state.get
    val d = docDirOf(ident("f"))
    val ls = java.nio.file.Files.list(d)
    try ls.iterator().asScala.foreach(p => java.nio.file.Files.delete(p))
    finally ls.close()
    java.nio.file.Files.delete(d)
    GraftLedger.write(dir, ident("f"), GraftLedger.encodeTable(id, entry, hist, eps))
    GraftCatalog.resetInMemoryStateForTest(ident("f"))
    // A TORN numbered doc above the flat (a first CAS that crashed
    // before acking on a no-hardlink filesystem) must not wedge the
    // table: the resolver steps over it and serves the flat state.
    java.nio.file.Files.createDirectories(docDirOf(ident("f")))
    val torn = docDirOf(ident("f")).resolve(f"${1L}%020d.json")
    java.nio.file.Files.writeString(torn, "{\"namespace")
    assert(spark.sql("SELECT k FROM pgraft.ld.f ORDER BY k")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L),
      "torn doc above a legacy flat doc wedged the table")
    java.nio.file.Files.delete(torn)
    GraftCatalog.resetInMemoryStateForTest(ident("f"))
    // Loads from flat (anchor 0); this INSERT may commit as a delta at
    // seq 1 — then a FRESH process must still resolve the full state.
    spark.sql("INSERT INTO pgraft.ld.f VALUES (3)")
    assert(GraftLedger.latestSeq(dir, ident("f")) >= 1L)
    GraftCatalog.resetInMemoryStateForTest(ident("f"))
    assert(spark.sql("SELECT k FROM pgraft.ld.f ORDER BY k")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L),
      "delta above a legacy flat doc did not resolve")
    spark.sql("DROP TABLE pgraft.ld.f PURGE")
  }

  test("epoch-map expiry: retired query ids leave the checkpoint, live ones survive restart") {
    // The epoch ledger (streaming exactly-once dedup) rides every table
    // document; without expiry a long-lived table fed by many distinct
    // streaming queries carries every retired query id forever. The
    // contract (the Delta transaction-retention shape): entries idle
    // past the table's EPOCH-retention window (its own knob — default
    // max(file retention, 24 h), so ordinary low-frequency streams
    // never lose dedup to the 60 s file-retention default) are dropped
    // at checkpoint-write time — a live stream refreshes its stamp on
    // every epoch commit, and a stream idle past the window loses
    // replay-dedup protection by documented design.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.sql("DROP TABLE IF EXISTS pgraft.ld.ep PURGE")
    spark.sql(
      """CREATE TABLE pgraft.ld.ep (k BIGINT) USING graft
        |TBLPROPERTIES ('graft.epochs.retention.seconds'='2',
        |               'graft.retention.snapshots'='100000')""".stripMargin)
    val dir = GraftLedger.tablesDir(GraftCatalog.warehouseRootForTest)
    def epochIds(): Set[String] =
      GraftLedger.readTableState(dir, ident("ep"), System.nanoTime())
        .get.state.get._4.keySet
    def oneEpoch(): Unit = {
      val in = MemoryStream[Long]
      val q = in.toDF().toDF("k").writeStream
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("ld_ep_ck_").toString)
        .toTable("pgraft.ld.ep")
      in.addData(1L, 2L)
      q.processAllAvailable()
      q.stop()
    }
    oneEpoch() // query A commits, then retires
    val afterA = epochIds()
    assert(afterA.size == 1, s"expected one epoch entry, got $afterA")
    Thread.sleep(2500) // let A's stamp age past the 2 s retention window
    oneEpoch() // query B commits (fresh stamp)
    val afterB = epochIds()
    assert(afterB.size == 2, s"expected two epoch entries, got $afterB")
    val qidB = (afterB -- afterA).head
    // Any non-data mutation persists a full CHECKPOINT document — the
    // expiry point.
    spark.sql("ALTER TABLE pgraft.ld.ep SET TBLPROPERTIES ('touch' = '1')")
    val afterCkpt = epochIds()
    assert(afterCkpt == Set(qidB),
      s"retired id should vanish and the live id survive: $afterCkpt (B=$qidB)")
    // Restart: a fresh process resolving the ledger still knows B's
    // epoch (replay-dedup intact for the live query).
    GraftCatalog.resetInMemoryStateForTest(ident("ep"))
    assert(spark.sql("SELECT count(*) FROM pgraft.ld.ep").collect()
      .head.getLong(0) == 4L)
    assert(epochIds() == Set(qidB), "live epoch entry lost across restart")
    spark.sql("DROP TABLE pgraft.ld.ep PURGE")
  }

  test("drop/recreate across delta chains: tombstone resets the checkpoint anchor") {
    spark.sql("DROP TABLE IF EXISTS pgraft.ld.t PURGE")
    spark.sql("CREATE TABLE pgraft.ld.t (k BIGINT) USING graft")
    (1 to 5).foreach(i => spark.sql(s"INSERT INTO pgraft.ld.t VALUES ($i)"))
    spark.sql("DROP TABLE pgraft.ld.t") // tombstone commit
    // Recreate: the first persist after a tombstone must be a FULL
    // checkpoint (a delta would replay onto the tombstone and resolve
    // to nothing for a fresh process).
    spark.sql("CREATE TABLE pgraft.ld.t (k BIGINT, s STRING) USING graft")
    spark.sql("INSERT INTO pgraft.ld.t VALUES (7, 'x'), (8, 'y')")
    GraftCatalog.resetInMemoryStateForTest(ident("t"))
    assert(spark.sql("SELECT k FROM pgraft.ld.t ORDER BY k")
      .collect().map(_.getLong(0)).toSeq == Seq(7L, 8L),
      "fresh process resolved the wrong incarnation across drop/recreate")
    spark.sql("DROP TABLE pgraft.ld.t PURGE")
  }
}
