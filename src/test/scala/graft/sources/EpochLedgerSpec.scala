package graft.sources

import org.apache.spark.sql.connector.catalog.Identifier
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** A table's streaming EPOCH ledger (the exactly-once replay guard,
  * `TableEntry.epochs`) follows the table through every lifecycle path:
  * replaying the last committed epoch id must commit nothing after a
  * RENAME, a rename rolled back by a lost ledger CAS, DROP → UNDROP (in
  * this process and after a simulated restart) and an RTAS, while a
  * clone and a table re-created after PURGE start with no epochs. The
  * epochs are committed through `installEpoch` itself — the commit a
  * graft-sink stream makes per micro-batch — with no segments, so a
  * commit that lands shows up as exactly one new table version.
  */
class EpochLedgerSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = SparkTestSession.spark
    s.conf.set("spark.sql.catalog.pgraft", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.pgraft.root",
      java.nio.file.Files.createTempDirectory("graft_epoch_ledger_").toString)
    s
  }

  private val Query = "query-a"
  private def ident(name: String) = Identifier.of(Array("epf"), name)
  private def tablesDir = GraftLedger.tablesDir(GraftCatalog.warehouseRootForTest)
  private def version(name: String): Long =
    GraftCatalog.currentVersion("epf", name).getOrElse(fail(s"epf.$name has no version"))

  /** Commit `epoch` of [[Query]] to `name`; true when a commit landed. */
  private def commitEpoch(name: String, epoch: Long): Boolean = {
    val before = version(name)
    GraftCatalog.installEpoch(ident(name), Query, epoch, Nil, truncate = false)
    val after = version(name)
    assert(after == before || after == before + 1, s"epf.$name moved $before -> $after")
    after == before + 1
  }

  private def assertReplayIsNoOp(name: String, epoch: Long, when: String): Unit =
    assert(!commitEpoch(name, epoch), s"epoch $epoch of epf.$name re-committed $when")

  private def create(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS pgraft.epf.$name PURGE")
    spark.sql(s"CREATE TABLE pgraft.epf.$name (k BIGINT) USING graft")
    spark.sql(s"INSERT INTO pgraft.epf.$name VALUES (1), (2)")
  }

  /** Land a foreign checkpoint of `from`'s resolved ledger state, one
    * snapshot ahead, at `to`'s next sequence — the bytes another driver
    * would write (OccRollbackSpec's forge, aimed at any name).
    */
  private def forgeForeignCommit(from: Identifier, to: Identifier): Unit = {
    val st = GraftLedger.readTableState(tablesDir, from, System.nanoTime())
      .getOrElse(fail(s"no ledger document for $from"))
    val (_, entry, hist, eps) = st.state.getOrElse(fail(s"$from is dropped"))
    val snap = hist.last.copy(version = hist.last.version + 1, rewrites = Map.empty)
    assert(GraftLedger.casWrite(tablesDir, to,
      GraftLedger.encodeTable(to, entry, hist :+ snap, eps),
      GraftLedger.latestSeq(tablesDir, to) + 1), "forged foreign commit must win its CAS")
  }

  private def isConcurrentRefusal(t: Throwable): Boolean =
    t != null && (t.isInstanceOf[java.util.ConcurrentModificationException] ||
      t.isInstanceOf[org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException] ||
      isConcurrentRefusal(t.getCause))

  test("RENAME carries the epochs to the new name") {
    create("r1")
    spark.sql("DROP TABLE IF EXISTS pgraft.epf.r2 PURGE")
    assert(commitEpoch("r1", 3L))
    spark.sql("ALTER TABLE pgraft.epf.r1 RENAME TO epf.r2")
    assertReplayIsNoOp("r2", 3L, "after RENAME")
    GraftCatalog.resetInMemoryStateForTest(ident("r2"))
    spark.sql("SELECT count(*) FROM pgraft.epf.r2").collect() // reloads the ledger
    assertReplayIsNoOp("r2", 3L, "after RENAME and a restart")
    assert(commitEpoch("r2", 4L))
    spark.sql("DROP TABLE pgraft.epf.r2 PURGE")
  }

  test("a rename rolled back by a lost CAS keeps the epochs on the old name") {
    create("l1")
    spark.sql("DROP TABLE IF EXISTS pgraft.epf.l2 PURGE")
    assert(commitEpoch("l1", 5L))
    // The NEW-name CAS loses to a foreign table created under that name:
    // the rollback restores the entry it captured under the old name.
    GraftCatalog.occWindowHookForTest = id =>
      if (id == ident("l2")) {
        GraftCatalog.occWindowHookForTest = _ => ()
        forgeForeignCommit(ident("l1"), ident("l2"))
      }
    val lostNew =
      try intercept[Throwable](spark.sql("ALTER TABLE pgraft.epf.l1 RENAME TO epf.l2"))
      finally GraftCatalog.occWindowHookForTest = _ => ()
    assert(isConcurrentRefusal(lostNew), s"expected a refusal, got $lostNew")
    assert(spark.catalog.tableExists("pgraft.epf.l2"), "the foreign table is gone")
    assertReplayIsNoOp("l1", 5L, "after a rename whose new-name CAS lost")
    spark.sql("DROP TABLE pgraft.epf.l2 PURGE")
    // The OLD-name tombstone CAS loses to a foreign commit on the old
    // name: the rename is retracted and the old name serves the winner.
    assert(commitEpoch("l1", 6L))
    GraftCatalog.occWindowHookForTest = id =>
      if (id == ident("l1")) {
        GraftCatalog.occWindowHookForTest = _ => ()
        forgeForeignCommit(ident("l1"), ident("l1"))
      }
    val lostOld =
      try intercept[Throwable](spark.sql("ALTER TABLE pgraft.epf.l1 RENAME TO epf.l2"))
      finally GraftCatalog.occWindowHookForTest = _ => ()
    assert(isConcurrentRefusal(lostOld), s"expected a refusal, got $lostOld")
    assert(!spark.catalog.tableExists("pgraft.epf.l2"))
    assertReplayIsNoOp("l1", 6L, "after a rename whose old-name tombstone CAS lost")
    spark.sql("DROP TABLE pgraft.epf.l1 PURGE")
  }

  test("DROP then UNDROP restores the epochs, in this process and after a restart") {
    create("u")
    assert(commitEpoch("u", 2L))
    spark.sql("DROP TABLE pgraft.epf.u")
    spark.sql("CALL pgraft.system.undrop('epf', 'u')").collect()
    assertReplayIsNoOp("u", 2L, "after DROP and UNDROP")
    spark.sql("DROP TABLE pgraft.epf.u")
    GraftCatalog.resetInMemoryStateForTest(ident("u"))
    spark.sql("CALL pgraft.system.undrop('epf', 'u')").collect()
    assertReplayIsNoOp("u", 2L, "after DROP, a restart and UNDROP")
    spark.sql("DROP TABLE pgraft.epf.u PURGE")
  }

  test("RTAS keeps the epochs") {
    create("x")
    assert(commitEpoch("x", 9L))
    spark.sql("CREATE OR REPLACE TABLE pgraft.epf.x USING graft AS SELECT id AS k FROM range(3)")
    assertReplayIsNoOp("x", 9L, "after CREATE OR REPLACE TABLE AS SELECT")
    spark.sql("REPLACE TABLE pgraft.epf.x USING graft AS SELECT id AS k FROM range(2)")
    assertReplayIsNoOp("x", 9L, "after REPLACE TABLE AS SELECT")
    spark.sql("DROP TABLE pgraft.epf.x PURGE")
  }

  test("a clone and a table re-created after PURGE start with no epochs") {
    create("s")
    spark.sql("DROP TABLE IF EXISTS pgraft.epf.sc PURGE")
    assert(commitEpoch("s", 7L))
    spark.sql("CALL pgraft.system.clone('epf', 's', 'epf', 'sc', '')").collect()
    assert(commitEpoch("sc", 0L), "a clone inherited its source's epochs")
    assertReplayIsNoOp("s", 7L, "on the clone's source")
    spark.sql("DROP TABLE pgraft.epf.sc PURGE")
    spark.sql("DROP TABLE pgraft.epf.s PURGE")
    spark.sql("CREATE TABLE pgraft.epf.s (k BIGINT) USING graft")
    assert(commitEpoch("s", 0L), "a table re-created after PURGE inherited old epochs")
    spark.sql("DROP TABLE pgraft.epf.s PURGE")
  }
}
