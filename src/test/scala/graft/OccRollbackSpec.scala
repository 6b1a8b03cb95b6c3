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
  * or a batch upsert re-applies the intent (lands exactly once), and a
  * refused rewrite-path DELETE deletes the file it rewrote.
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

  /** Land a foreign commit at the table's next ledger sequence — the
    * same document content re-committed, which is exactly what another
    * driver's no-op-shaped commit looks like to the CAS.
    */
  private def forgeForeignCommit(id: Identifier): Unit = {
    val (json, seq) = GraftLedger.readLatest(tablesDir, id)
      .getOrElse(fail(s"no ledger document for $id"))
    assert(GraftLedger.casWrite(tablesDir, id, json, seq + 1),
      "forged foreign commit must win its CAS")
  }

  /** Arm the OCC window to forge ONE foreign commit on `id`, at its
    * next ledger CAS; the returned probe says whether it fired.
    */
  private def loseNextCas(id: Identifier): () => Boolean = {
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    GraftCatalog.occWindowHookForTest =
      i => if (i == id && fired.compareAndSet(false, true)) forgeForeignCommit(i)
    () => fired.get
  }

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
    assert(json.contains("\"name\" : \"g\""), "unexpected ledger doc layout")
    val cloneJson = json.replace("\"name\" : \"g\"", "\"name\" : \"gclone\"")
    assert(GraftLedger.casWrite(tablesDir, ident("gclone"), cloneJson, 0L))
    val sharedFiles = "\"path\" : \"([^\"]+)\"".r
      .findAllMatchIn(json).map(_.group(1)).toSet
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
    // the survivors into a new file instead of attaching a dv.
    val fired = loseNextCas(ident("x"))
    val t =
      try intercept[Throwable] { spark.sql("DELETE FROM pgraft.occ.x WHERE k < 8") }
      finally GraftCatalog.occWindowHookForTest = _ => ()
    assert(fired(), "the forged foreign commit never ran")
    assert(isConcurrentRefusal(t), s"expected a concurrent-commit refusal, got $t")
    assert(GraftCatalog.segmentFilesOnDisk("occ", "x") == filesBefore,
      "a refused DELETE left its rewritten segment file behind")
    assert(keys("pgraft.occ.x") == (0L until 10L))
    spark.sql("DROP TABLE pgraft.occ.x PURGE")
  }
}
