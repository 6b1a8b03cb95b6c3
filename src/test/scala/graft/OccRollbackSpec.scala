package graft

import org.apache.spark.sql.connector.catalog.Identifier
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GraftCatalog, GraftLedger}

/** Lost-CAS RECOVERY on the destructive metadata paths (drop / purge /
  * rename): when the tombstone CAS loses to a concurrent driver's
  * commit, the statement must refuse — AND leave no half-applied
  * side-effects behind. The forked two-driver gauntlets prove the CAS
  * itself; these specs prove the rollback, by forging the "foreign
  * process" commit deterministically inside the OCC window (directly
  * via GraftLedger, the exact bytes another JVM would write).
  *
  * The three holes these pin (each was a real finding):
  *  - a lost soft-DROP left its trash generation + dropped-dir document
  *    behind, aliasing the LIVE winner's segment files under the same
  *    identifier — GC reference scans exclude id==self, so a later
  *    retention expiry deleted files the live table still served;
  *  - PURGE deleted segment files BEFORE the tombstone CAS, so a lost
  *    CAS refused honestly but had already erased the winner's data;
  *  - a rename whose old-name tombstone lost left the table live under
  *    BOTH names with diverging states sharing segment files.
  *
  * The data commits are pinned the same way: a lost CAS on an append
  * or a batch upsert re-applies the intent (lands exactly once). The
  * file rewrites — compaction, Z-order, dv and copy-on-write DELETE —
  * pass through the commit shell's check-then-swap rule: over a
  * foreign commit that leaves their segments alone they re-apply and
  * land; over one that changed a segment they replace (dropped it,
  * widened its dv, or added an equality delete that applies to it)
  * they refuse and delete every file they wrote. So do they over one
  * that dropped an equality delete they read through (a RESTORE), and
  * on any failure before their commit lands. A refused
  * auto-compaction never fails the INSERT that triggered it. The ALTER
  * re-projections (ADD and DROP COLUMN, widen, reorder) refuse on any
  * lost CAS and delete every file they wrote.
  */
class OccRollbackSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = SparkTestSession.spark
    s.conf.set("spark.sql.catalog.pgraft", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.pgraft.root",
      java.nio.file.Files.createTempDirectory("graft_occ_rollback_").toString)
    s
  }

  private def ident(name: String) = Identifier.of(Array("occ"), name)
  private def tablesDir = GraftLedger.tablesDir(GraftCatalog.warehouseRootForTest)

  /** Land a foreign commit at the table's next ledger sequence, as the
    * CHECKPOINT another driver would write: the resolved ledger state
    * with `edit` applied to the entry and one new snapshot recording
    * it. The default edit changes nothing — a no-op-shaped commit.
    */
  private def forgeForeignCommit(id: Identifier,
      edit: GraftCatalog.TableEntry => GraftCatalog.TableEntry = identity): Unit = {
    val st = GraftLedger.readTableState(tablesDir, id, System.nanoTime())
      .getOrElse(fail(s"no ledger document for $id"))
    val (tid, entry0, hist, eps) = st.state.getOrElse(fail(s"$id is dropped"))
    val entry = edit(entry0)
    val snap = hist.last.copy(version = hist.last.version + 1, segments = entry.segments,
      eqDeletes = entry.eqDeletes, rewrites = Map.empty, dataChange = true)
    assert(GraftLedger.casWrite(tablesDir, id,
      GraftLedger.encodeTable(tid, entry, hist :+ snap, eps), st.seq + 1),
      "forged foreign commit must win its CAS")
  }

  /** The version a commit forged now would take. */
  private def forgedVersion(id: Identifier): Long =
    GraftLedger.readTableState(tablesDir, id, System.nanoTime())
      .flatMap(_.state).map(_._3.last.version + 1).getOrElse(fail(s"no ledger state for $id"))

  /** Arm the OCC window to forge ONE foreign commit on `id`, at its
    * `at`-th ledger CAS from now; the returned probe says whether it
    * fired.
    */
  private def loseNextCas(id: Identifier, at: Int = 1,
      edit: GraftCatalog.TableEntry => GraftCatalog.TableEntry = identity): () => Boolean = {
    val seen = new java.util.concurrent.atomic.AtomicInteger(0)
    GraftCatalog.occWindowHookForTest =
      i => if (i == id && seen.incrementAndGet() == at) forgeForeignCommit(i, edit)
    () => seen.get >= at
  }

  /** A foreign DELETE of the first physical row of the table's FIRST
    * segment (a dv attached to it) — overlaps every rewrite below.
    */
  private val dvOnFirstSegment: GraftCatalog.TableEntry => GraftCatalog.TableEntry = e =>
    e.copy(segments = e.segments.updated(0, e.segments.head.copy(
      dv = Some(scala.collection.immutable.BitSet(0)))))

  private def keys(table: String): Seq[Long] =
    spark.sql(s"SELECT k FROM $table ORDER BY k").collect().map(_.getLong(0)).toSeq

  private def isConcurrentRefusal(t: Throwable): Boolean =
    t != null && (t.isInstanceOf[java.util.ConcurrentModificationException] ||
      Option(t.getMessage).exists(_.contains("another process committed")) ||
      isConcurrentRefusal(t.getCause))

  test("lost soft-DROP tombstone CAS rolls back trash + dropped-dir document") {
    spark.sql("DROP TABLE IF EXISTS pgraft.occ.d PURGE")
    spark.sql("CREATE TABLE pgraft.occ.d (k BIGINT) USING graft")
    spark.sql("INSERT INTO pgraft.occ.d VALUES (1), (2)")
    // The foreign commit lands INSIDE the OCC window (after the drop's
    // trash/dropped-doc writes, before its tombstone CAS) — pre-placing
    // it wouldn't race: DROP's table resolution refreshes staleness.
    GraftCatalog.occWindowHookForTest =
      id => if (id == ident("d")) forgeForeignCommit(id)
    val t =
      try intercept[Throwable] { spark.sql("DROP TABLE pgraft.occ.d") }
      finally GraftCatalog.occWindowHookForTest = _ => ()
    assert(isConcurrentRefusal(t), s"expected a concurrent-commit refusal, got $t")
    // The live table still serves — the winner's state was adopted.
    assert(spark.sql("SELECT count(*) FROM pgraft.occ.d").head.getLong(0) == 2L)
    // No trash generation survived the rollback: undrop refuses...
    val u = intercept[Throwable] {
      spark.sql("CALL pgraft.system.undrop('occ', 'd')") }
    assert(Option(u.getMessage).exists(_.contains("not in the drop trash")), u)
    // ...and no dropped-dir document aliases the live table's files (a
    // stale one would get retention-purged later, deleting live data).
    val droppedDoc = GraftLedger.droppedDir(GraftCatalog.warehouseRootForTest)
      .resolve(GraftLedger.fileNameOf(ident("d")))
    assert(!java.nio.file.Files.exists(droppedDoc),
      "rolled-back drop left its dropped-dir document behind")
    // A RETRIED drop (now current) succeeds, and undrop restores it.
    spark.sql("DROP TABLE pgraft.occ.d")
    spark.sql("CALL pgraft.system.undrop('occ', 'd')")
    assert(spark.sql("SELECT count(*) FROM pgraft.occ.d").head.getLong(0) == 2L)
    spark.sql("DROP TABLE pgraft.occ.d PURGE")
  }

  test("lost PURGE tombstone CAS deletes no file") {
    spark.sql("DROP TABLE IF EXISTS pgraft.occ.p PURGE")
    spark.sql("CREATE TABLE pgraft.occ.p (k BIGINT) USING graft")
    spark.sql("INSERT INTO pgraft.occ.p VALUES (1), (2), (3)")
    // The foreign commit lands INSIDE the OCC window — after purge's
    // staleness refresh, before its tombstone CAS (the interleaving a
    // second JVM can hit but never on demand).
    GraftCatalog.occWindowHookForTest =
      id => if (id == ident("p")) forgeForeignCommit(id)
    val t =
      try intercept[Throwable] { spark.sql("DROP TABLE pgraft.occ.p PURGE") }
      finally GraftCatalog.occWindowHookForTest = _ => ()
    assert(isConcurrentRefusal(t), s"expected a concurrent-commit refusal, got $t")
    // THE point: the refusal must not have deleted the winner's segment
    // files — the pre-fix ordering erased them before losing the CAS.
    assert(spark.sql("SELECT count(*) FROM pgraft.occ.p").head.getLong(0) == 3L,
      "a refused PURGE erased segment files the committed table still references")
    // Retried purge (now current) completes and the table is gone.
    spark.sql("DROP TABLE pgraft.occ.p PURGE")
    assert(!spark.catalog.tableExists("pgraft.occ.p"))
  }

  test("a FRESH process's first retention-GC pass still sees foreign clones") {
    // The debounced warehouse sync must treat "never synced"
    // (Long.MinValue sentinel) as stale: `nanoTime - MinValue`
    // overflows negative, and a naive age check would read it as
    // freshly-synced and skip the clone-protection listing forever —
    // deleting files another driver's clone still serves.
    spark.sql("DROP TABLE IF EXISTS pgraft.occ.g PURGE")
    spark.sql(
      """CREATE TABLE pgraft.occ.g (k BIGINT) USING graft
        |TBLPROPERTIES ('graft.retention.snapshots'='1')""".stripMargin)
    spark.sql("INSERT INTO pgraft.occ.g VALUES (1), (2)")
    // A property-only ALTER persists a CHECKPOINT document carrying the
    // current segment list — the shape a foreign clone doc needs.
    spark.sql("ALTER TABLE pgraft.occ.g SET TBLPROPERTIES ('occ.test'='1')")
    // Simulated restart FIRST (arms the never-synced sentinel and the
    // ledger reload), and touch the table so the warehouse load runs
    // BEFORE the foreign clone exists.
    GraftCatalog.resetInMemoryStateForTest(ident("g"), ident("gclone"))
    assert(spark.sql("SELECT count(*) FROM pgraft.occ.g").head.getLong(0) == 2L)
    // Foreign driver: a zero-copy clone referencing g's segment FILES,
    // committed straight into the ledger (this process never sees it
    // except through the GC-path warehouse sync).
    val (json, _) = GraftLedger.readLatest(tablesDir, ident("g"))
      .getOrElse(fail("no ledger doc for g"))
    val doc = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    assert(doc.path("name").asText() == "g", "unexpected ledger doc layout")
    val cloneJson = doc.deepCopy().put("name", "gclone").toString
    assert(GraftLedger.casWrite(tablesDir, ident("gclone"), cloneJson, 0L))
    val sharedFiles = scala.jdk.CollectionConverters.ListHasAsScala(
      doc.findValuesAsText("path")).asScala.toSet
    assert(sharedFiles.nonEmpty, "fixture has no segment files to share")
    // Retention (count cap 1) expires the previous snapshot's files on
    // this commit — the GC pass must list the warehouse (sentinel ⇒
    // stale), adopt gclone, and SPARE the shared files.
    spark.sql("INSERT OVERWRITE pgraft.occ.g VALUES (3)")
    val lost = sharedFiles.filterNot(p => java.nio.file.Files.exists(
      java.nio.file.Paths.get(p)))
    assert(lost.isEmpty,
      s"retention GC deleted files a foreign clone still references: $lost")
    // And the clone still serves its rows from those files.
    assert(spark.sql("SELECT count(*) FROM pgraft.occ.gclone").head.getLong(0) == 2L)
    spark.sql("DROP TABLE pgraft.occ.gclone PURGE")
    spark.sql("DROP TABLE pgraft.occ.g PURGE")
  }

  test("lost old-name tombstone CAS rolls the whole rename back") {
    spark.sql("DROP TABLE IF EXISTS pgraft.occ.r1 PURGE")
    spark.sql("DROP TABLE IF EXISTS pgraft.occ.r2 PURGE")
    spark.sql("CREATE TABLE pgraft.occ.r1 (k BIGINT) USING graft")
    spark.sql("INSERT INTO pgraft.occ.r1 VALUES (7)")
    // Foreign commit on the OLD name after the new-name document
    // committed: without rollback the table stays live under BOTH names
    // (the racer's rows visible only under the old one) and a retried
    // rename wedges on TableAlreadyExists.
    GraftCatalog.occWindowHookForTest =
      id => if (id == ident("r1")) forgeForeignCommit(id)
    val t =
      try intercept[Throwable] {
        spark.sql("ALTER TABLE pgraft.occ.r1 RENAME TO occ.r2") }
      finally GraftCatalog.occWindowHookForTest = _ => ()
    assert(isConcurrentRefusal(t), s"expected a concurrent-commit refusal, got $t")
    // Exactly ONE name survives: the old (with the winner's state)...
    assert(spark.sql("SELECT count(*) FROM pgraft.occ.r1").head.getLong(0) == 1L)
    // ...and the new name is genuinely absent — both in this metastore
    // and in the LEDGER (a fresh process must not load it either).
    assert(!spark.catalog.tableExists("pgraft.occ.r2"))
    assert(GraftLedger.readLatest(tablesDir, ident("r2"))
      .forall { case (json, _) => GraftLedger.isTombstone(json) },
      "rolled-back rename left a live new-name ledger document")
    // The RETRIED rename (now current) succeeds cleanly.
    spark.sql("ALTER TABLE pgraft.occ.r1 RENAME TO occ.r2")
    assert(spark.sql("SELECT count(*) FROM pgraft.occ.r2").head.getLong(0) == 1L)
    assert(!spark.catalog.tableExists("pgraft.occ.r1"))
    spark.sql("DROP TABLE pgraft.occ.r2 PURGE")
  }

  test("a batch INSERT that loses its ledger CAS re-applies and lands exactly once") {
    spark.sql("DROP TABLE IF EXISTS pgraft.occ.a PURGE")
    spark.sql("CREATE TABLE pgraft.occ.a (k BIGINT) USING graft")
    spark.sql("INSERT INTO pgraft.occ.a VALUES (1), (2)")
    val fired = loseNextCas(ident("a"))
    try spark.sql("INSERT INTO pgraft.occ.a VALUES (3)")
    finally GraftCatalog.occWindowHookForTest = _ => ()
    assert(fired(), "the forged foreign commit never ran")
    assert(keys("pgraft.occ.a") == Seq(1L, 2L, 3L))
    spark.sql("DROP TABLE pgraft.occ.a PURGE")
  }

  test("a batch upsert that loses its ledger CAS re-applies: one row per key") {
    spark.sql("DROP TABLE IF EXISTS pgraft.occ.u PURGE")
    spark.sql("CREATE TABLE pgraft.occ.u (k BIGINT, v STRING) USING graft")
    def upsert(values: String): Unit =
      spark.sql(s"SELECT * FROM VALUES $values AS t(k, v)").writeTo("pgraft.occ.u")
        .option("graft.upsert.keys", "k").append()
    upsert("(1L, 'a'), (2L, 'b')")
    // Upserts are blind writes: after the winner's commit is adopted,
    // re-applying the intent gives the serial order "winner, then us".
    val fired = loseNextCas(ident("u"))
    try upsert("(2L, 'b2'), (3L, 'c')")
    finally GraftCatalog.occWindowHookForTest = _ => ()
    assert(fired(), "the forged foreign commit never ran")
    val rows = spark.sql("SELECT k, v FROM pgraft.occ.u ORDER BY k").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
    assert(rows == Seq(1L -> "a", 2L -> "b2", 3L -> "c"))
    spark.sql("DROP TABLE pgraft.occ.u PURGE")
  }

  test("a rewrite-path DELETE that loses its ledger CAS leaves no orphan file") {
    spark.sql("DROP TABLE IF EXISTS pgraft.occ.x PURGE")
    spark.sql("CREATE TABLE pgraft.occ.x (k BIGINT) USING graft")
    spark.sql("INSERT INTO pgraft.occ.x SELECT /*+ REPARTITION(1) */ id FROM range(10)")
    val filesBefore = GraftCatalog.segmentFilesOnDisk("occ", "x")
    // 8 of the segment's 10 rows match: a majority, so DELETE rewrites
    // the survivors into a new file instead of attaching a dv. The
    // foreign commit deletes k = 0 from that same segment: overlap.
    val fired = loseNextCas(ident("x"), edit = dvOnFirstSegment)
    val t =
      try intercept[Throwable] { spark.sql("DELETE FROM pgraft.occ.x WHERE k < 8") }
      finally GraftCatalog.occWindowHookForTest = _ => ()
    assert(fired(), "the forged foreign commit never ran")
    assert(isConcurrentRefusal(t), s"expected a concurrent-commit refusal, got $t")
    assert(GraftCatalog.segmentFilesOnDisk("occ", "x") == filesBefore,
      "a refused DELETE left its rewritten segment file behind")
    assert(keys("pgraft.occ.x") == (1L until 10L))
    spark.sql("DROP TABLE pgraft.occ.x PURGE")
  }

  /** Two single-segment inserts: k = v = 0..9, then 10..19. */
  private def twoSegments(name: String): String = {
    val t = s"pgraft.occ.$name"
    spark.sql(s"DROP TABLE IF EXISTS $t PURGE")
    spark.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT) USING graft")
    spark.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, id FROM range(10)")
    spark.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, id FROM range(10, 20)")
    t
  }

  // Each rewrite replaces the first segment (k = 0..9): compact and
  // zorder fold it, the dv DELETE widens its dv, the majority DELETE
  // rewrites its survivors. Value: (statement, keys after it lands).
  private val rewrites: Seq[(String, String => String, Seq[Long])] = Seq(
    ("compact", n => s"CALL pgraft.system.compact('occ', '$n', '')", 0L until 20L),
    ("zorder", n => s"CALL pgraft.system.zorder('occ', '$n', 'k,v', 1)", 0L until 20L),
    ("dv DELETE", n => s"DELETE FROM pgraft.occ.$n WHERE k = 3",
      (0L until 20L).filterNot(_ == 3L)),
    ("majority DELETE", n => s"DELETE FROM pgraft.occ.$n WHERE k < 8", 8L until 20L))

  rewrites.zipWithIndex.foreach { case ((op, stmt, after), i) =>
    test(s"$op re-applies over a disjoint foreign commit and lands") {
      val t = twoSegments(s"rw$i")
      val fired = loseNextCas(ident(s"rw$i"))
      try spark.sql(stmt(s"rw$i")).collect()
      finally GraftCatalog.occWindowHookForTest = _ => ()
      assert(fired(), "the forged foreign commit never ran")
      assert(keys(t) == after)
      spark.sql(s"DROP TABLE $t PURGE")
    }

    test(s"$op over an overlapping foreign commit refuses and deletes what it wrote") {
      val t = twoSegments(s"ro$i")
      val filesBefore = GraftCatalog.segmentFilesOnDisk("occ", s"ro$i")
      val fired = loseNextCas(ident(s"ro$i"), edit = dvOnFirstSegment)
      val e =
        try intercept[Throwable] { spark.sql(stmt(s"ro$i")).collect() }
        finally GraftCatalog.occWindowHookForTest = _ => ()
      assert(fired(), "the forged foreign commit never ran")
      assert(isConcurrentRefusal(e), s"expected a concurrent-commit refusal, got $e")
      // Unchanged: nothing leaked, and no live file (a dv DELETE's
      // segment keeps its path) was deleted.
      assert(GraftCatalog.segmentFilesOnDisk("occ", s"ro$i") == filesBefore)
      assert(keys(t) == (1L until 20L), "the foreign commit's state must stand")
      spark.sql(s"DROP TABLE $t PURGE")
    }
  }

  test("a compaction racing a foreign upsert whose eq delete hits a folded segment refuses") {
    val t = twoSegments("ce")
    val filesBefore = GraftCatalog.segmentFilesOnDisk("occ", "ce")
    // The foreign upsert's equality delete (key 3, at its own version)
    // applies to both folded segments; a fold stamped above it without
    // having read it would resurrect k = 3.
    val v = forgedVersion(ident("ce"))
    val fired = loseNextCas(ident("ce"), edit = e => e.copy(eqDeletes = e.eqDeletes :+
      GraftCatalog.EqDelete(Seq("k"), Vector(Vector(java.lang.Long.valueOf(3L))), v)))
    val e =
      try intercept[Throwable] {
        spark.sql("CALL pgraft.system.compact('occ', 'ce', '')").collect() }
      finally GraftCatalog.occWindowHookForTest = _ => ()
    assert(fired(), "the forged foreign commit never ran")
    assert(isConcurrentRefusal(e), s"expected a concurrent-commit refusal, got $e")
    assert(GraftCatalog.segmentFilesOnDisk("occ", "ce") == filesBefore)
    assert(keys(t) == (0L until 20L).filterNot(_ == 3L))
    spark.sql(s"DROP TABLE $t PURGE")
  }

  // Upserted k = 2 shadows its row in the first segment (k = 1..5)
  // through an equality delete; the foreign commit drops that delete
  // (what a RESTORE to before the upsert does to it). The rewrite read
  // through it, so landing would lose the row (2, 'a') it brought back.
  Seq(
    ("compact", "CALL pgraft.system.compact('occ', 'rq0', '')"),
    ("majority DELETE", "DELETE FROM pgraft.occ.rq1 WHERE k IN (1, 3, 4)")
  ).zipWithIndex.foreach { case ((op, stmt), i) =>
    test(s"$op over a foreign commit that dropped an equality delete it read refuses") {
      val t = s"pgraft.occ.rq$i"
      spark.sql(s"DROP TABLE IF EXISTS $t PURGE")
      spark.sql(s"CREATE TABLE $t (k BIGINT, v STRING) USING graft")
      spark.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, 'a' FROM range(1, 6)")
      spark.sql("SELECT 2L AS k, 'a2' AS v").writeTo(t)
        .option("graft.upsert.keys", "k").append()
      val filesBefore = GraftCatalog.segmentFilesOnDisk("occ", s"rq$i")
      val fired = loseNextCas(ident(s"rq$i"), edit = _.copy(eqDeletes = Vector.empty))
      val e =
        try intercept[Throwable] { spark.sql(stmt).collect() }
        finally GraftCatalog.occWindowHookForTest = _ => ()
      assert(fired(), "the forged foreign commit never ran")
      assert(isConcurrentRefusal(e), s"expected a concurrent-commit refusal, got $e")
      assert(GraftCatalog.segmentFilesOnDisk("occ", s"rq$i") == filesBefore)
      val rows = spark.sql(s"SELECT k, v FROM $t ORDER BY k, v").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toSeq
      assert(rows == Seq(1L -> "a", 2L -> "a", 2L -> "a2", 3L -> "a", 4L -> "a", 5L -> "a"),
        "the foreign commit's state must stand")
      spark.sql(s"DROP TABLE $t PURGE")
    }
  }

  test("a DELETE that fails before its commit lands deletes what it wrote") {
    spark.sql("DROP TABLE IF EXISTS pgraft.occ.bad PURGE")
    spark.sql("CREATE TABLE pgraft.occ.bad (k BIGINT) USING graft")
    spark.sql("INSERT INTO pgraft.occ.bad SELECT /*+ REPARTITION(1) */ id FROM range(10)")
    // ALTER accepts a malformed threshold; the commit shell's check of
    // it throws after the DELETE has written its survivors' file.
    spark.sql("ALTER TABLE pgraft.occ.bad SET TBLPROPERTIES ('graft.autocompact.segments'='soon')")
    val filesBefore = GraftCatalog.segmentFilesOnDisk("occ", "bad")
    intercept[Throwable] { spark.sql("DELETE FROM pgraft.occ.bad WHERE k < 8") }
    assert(GraftCatalog.segmentFilesOnDisk("occ", "bad") == filesBefore,
      "a failed DELETE left its rewritten segment file behind")
    assert(keys("pgraft.occ.bad") == (0L until 10L))
    spark.sql("DROP TABLE pgraft.occ.bad PURGE")
  }

  test("a refused auto-compaction does not fail the INSERT that triggered it") {
    spark.sql("DROP TABLE IF EXISTS pgraft.occ.ac PURGE")
    spark.sql(
      """CREATE TABLE pgraft.occ.ac (k BIGINT) USING graft
        |TBLPROPERTIES ('graft.autocompact.segments'='2')""".stripMargin)
    spark.sql("INSERT INTO pgraft.occ.ac SELECT /*+ REPARTITION(1) */ id FROM range(10)")
    // The INSERT's second CAS is its auto-compaction's; the foreign
    // commit there deletes k = 0 from a segment the fold replaces.
    val fired = loseNextCas(ident("ac"), at = 2, edit = dvOnFirstSegment)
    try spark.sql("INSERT INTO pgraft.occ.ac VALUES (100)")
    finally GraftCatalog.occWindowHookForTest = _ => ()
    assert(fired(), "the forged foreign commit never ran")
    // The INSERT landed (its file was not aborted away) exactly once.
    assert(keys("pgraft.occ.ac") == (1L until 10L) :+ 100L)
    spark.sql("DROP TABLE pgraft.occ.ac PURGE")
  }

  // Each ALTER re-projects both segments of a (k BIGINT, v INT) table
  // into fresh files; the foreign commit in its OCC window drops the
  // second segment (k = 10..19).
  Seq(
    ("ADD COLUMN", "ADD COLUMN z STRING"),
    ("widen", "ALTER COLUMN v TYPE BIGINT"),
    ("DROP COLUMN", "DROP COLUMN v"),
    ("reorder", "ALTER COLUMN v FIRST")
  ).zipWithIndex.foreach { case ((op, change), i) =>
    test(s"$op that loses its ledger CAS refuses and leaves no file behind") {
      val t = s"pgraft.occ.al$i"
      spark.sql(s"DROP TABLE IF EXISTS $t PURGE")
      spark.sql(s"CREATE TABLE $t (k BIGINT, v INT) USING graft")
      Seq("range(10)", "range(10, 20)").foreach(r =>
        spark.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, CAST(id AS INT) FROM $r"))
      val filesBefore = GraftCatalog.segmentFilesOnDisk("occ", s"al$i")
      val fired = loseNextCas(ident(s"al$i"), edit = e => e.copy(segments = e.segments.take(1)))
      val e =
        try intercept[Throwable] { spark.sql(s"ALTER TABLE $t $change") }
        finally GraftCatalog.occWindowHookForTest = _ => ()
      assert(fired(), "the forged foreign commit never ran")
      assert(isConcurrentRefusal(e), s"expected a concurrent-commit refusal, got $e")
      assert(GraftCatalog.segmentFilesOnDisk("occ", s"al$i") == filesBefore,
        s"a refused $op left its re-projected segment files behind")
      assert(spark.table(t).schema.map(f => f.name -> f.dataType.simpleString) ==
        Seq("k" -> "bigint", "v" -> "int"))
      val rows = spark.sql(s"SELECT k, v FROM $t ORDER BY k").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toSeq
      assert(rows == (0 until 10).map(k => k.toLong -> k), "the foreign commit's state must stand")
      spark.sql(s"DROP TABLE $t PURGE")
    }
  }

  test("DROP COLUMN IF EXISTS on a missing column publishes nothing") {
    spark.sql("DROP TABLE IF EXISTS pgraft.occ.dn PURGE")
    spark.sql("CREATE TABLE pgraft.occ.dn (k BIGINT, v INT) USING graft")
    spark.sql("INSERT INTO pgraft.occ.dn VALUES (1, 1), (2, 2)")
    val v = GraftCatalog.currentVersion("occ", "dn")
    val filesBefore = GraftCatalog.segmentFilesOnDisk("occ", "dn")
    spark.sql("ALTER TABLE pgraft.occ.dn DROP COLUMN IF EXISTS nosuch")
    assert(GraftCatalog.currentVersion("occ", "dn") == v)
    assert(GraftCatalog.segmentFilesOnDisk("occ", "dn") == filesBefore)
    assert(keys("pgraft.occ.dn") == Seq(1L, 2L))
    spark.sql("DROP TABLE pgraft.occ.dn PURGE")
  }
}
