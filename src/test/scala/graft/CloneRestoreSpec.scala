package graft

import org.scalatest.funsuite.AnyFunSuite

/** RESTORE (roll current state back to a retained snapshot as a new
  * commit) and zero-copy shallow CLONE (branch a table's state without
  * copying a byte). The load-bearing claims: restore is metadata-only
  * and history keeps moving forward; a clone SHARES segment files yet
  * survives the source's vacuum and DROP (cross-table GC guard); and
  * the two tables evolve independently after the branch point.
  */
class CloneRestoreSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def ks(t: String): Seq[Long] =
    spark.sql(s"SELECT k FROM $t ORDER BY k").as[Long].collect().toSeq

  test("restore rolls back to a version (or tag) as a forward commit") {
    spark.sql("DROP TABLE IF EXISTS graft.cr.t")
    spark.sql("CREATE TABLE graft.cr.t (k BIGINT) USING graft")
    spark.sql("INSERT INTO graft.cr.t VALUES (1), (2)") // v1
    spark.sql("ALTER TABLE graft.cr.t SET TBLPROPERTIES ('graft.tag.good'='1')")
    spark.sql("INSERT INTO graft.cr.t VALUES (3)") // v2
    spark.sql("DELETE FROM graft.cr.t WHERE k = 1") // v3: the "bad" mutation
    assert(ks("graft.cr.t") == Seq(2L, 3L))
    val r = spark.sql("CALL graft.system.restore('cr', 't', 'good')").collect().head
    assert(r.getAs[Long]("restored_version") == 1L)
    assert(r.getAs[Long]("new_version") == 4L, "restore is a forward commit")
    assert(ks("graft.cr.t") == Seq(1L, 2L))
    // History kept moving: the pre-restore state is still time-travelable.
    assert(spark.sql("SELECT k FROM graft.cr.t VERSION AS OF 3 ORDER BY k")
      .as[Long].collect().toSeq == Seq(2L, 3L))
    // And the restore shows up to a change stream as a normal commit:
    // new inserts continue from the restored state.
    spark.sql("INSERT INTO graft.cr.t VALUES (9)")
    assert(ks("graft.cr.t") == Seq(1L, 2L, 9L))
  }

  test("clone shares files zero-copy and diverges independently") {
    spark.sql("DROP TABLE IF EXISTS graft.cr.src")
    spark.sql("DROP TABLE IF EXISTS graft.cr.dup")
    spark.sql("CREATE TABLE graft.cr.src (k BIGINT) USING graft")
    spark.sql("INSERT INTO graft.cr.src VALUES (1), (2)") // v1
    spark.sql("INSERT INTO graft.cr.src VALUES (3)") // v2
    val c = spark.sql("CALL graft.system.clone('cr', 'src', 'cr', 'dup', '1')")
      .collect().head
    assert(c.getAs[Long]("source_version") == 1L)
    assert(ks("graft.cr.dup") == Seq(1L, 2L), "clone pins the requested version")
    // Zero-copy: the clone's current segments ARE the source files.
    val srcSegs = spark.sql("SELECT DISTINCT _segment FROM graft.cr.src VERSION AS OF 1")
      .as[String].collect().toSet
    val dupSegs = spark.sql("SELECT DISTINCT _segment FROM graft.cr.dup")
      .as[String].collect().toSet
    assert(dupSegs == srcSegs, "shallow clone must share segment files")
    // Divergence: writes to one never show in the other.
    spark.sql("INSERT INTO graft.cr.dup VALUES (100)")
    spark.sql("INSERT INTO graft.cr.src VALUES (4)")
    assert(ks("graft.cr.dup") == Seq(1L, 2L, 100L))
    assert(ks("graft.cr.src") == Seq(1L, 2L, 3L, 4L))
  }

  test("source vacuum and DROP spare files the clone still reads") {
    // src's v1 files are the clone's CURRENT state. Vacuum src (expires
    // its non-current snapshots), then drop src entirely: the clone
    // must keep reading its shared rows — the cross-table GC guard.
    spark.sql("CALL graft.system.vacuum('cr', 'src')")
    assert(ks("graft.cr.dup") == Seq(1L, 2L, 100L), "clone survives source vacuum")
    spark.sql("DROP TABLE graft.cr.src")
    assert(ks("graft.cr.dup") == Seq(1L, 2L, 100L), "clone survives source DROP")
    // And the clone's own lifecycle still works end-to-end.
    spark.sql("DELETE FROM graft.cr.dup WHERE k = 2")
    assert(ks("graft.cr.dup") == Seq(1L, 100L))
    spark.sql("DROP TABLE graft.cr.dup")
    spark.sql("DROP TABLE graft.cr.t")
  }

  test("restore/clone to a pre-rename version re-pairs partition cols with the schema") {
    // Partition-column rename rewrites the entry's partitionCols; a
    // restore (or clone) to a PRE-rename version must install the
    // partition spec THAT VERSION had, not the current one — otherwise
    // the restored table's partition columns reference a name absent
    // from its schema and every subsequent load/write fails.
    spark.sql("DROP TABLE IF EXISTS graft.cr.pr")
    spark.sql("DROP TABLE IF EXISTS graft.cr.prc")
    spark.sql("CREATE TABLE graft.cr.pr (k BIGINT, p STRING) USING graft PARTITIONED BY (p)")
    spark.sql("INSERT INTO graft.cr.pr VALUES (1, 'a'), (2, 'b')") // v1: schema (k, p)
    spark.sql("ALTER TABLE graft.cr.pr RENAME COLUMN p TO region") // v2: schema (k, region)
    spark.sql("INSERT INTO graft.cr.pr VALUES (3, 'c')") // v3

    // Clone the pre-rename version: its spec must say `p`, and both
    // reads and partition-pruned reads must work against it.
    spark.sql("CALL graft.system.clone('cr', 'pr', 'cr', 'prc', '1')")
    assert(spark.table("graft.cr.prc").columns.toSeq == Seq("k", "p"))
    assert(spark.sql("SELECT k FROM graft.cr.prc WHERE p = 'b'")
      .as[Long].collect().toSeq == Seq(2L))
    spark.sql("INSERT INTO graft.cr.prc VALUES (4, 'd')")
    assert(ks("graft.cr.prc") == Seq(1L, 2L, 4L))

    // Restore the source to v1: same re-pairing on the original table.
    spark.sql("CALL graft.system.restore('cr', 'pr', '1')")
    assert(spark.table("graft.cr.pr").columns.toSeq == Seq("k", "p"))
    assert(spark.sql("SELECT k FROM graft.cr.pr WHERE p = 'a'")
      .as[Long].collect().toSeq == Seq(1L))
    spark.sql("INSERT INTO graft.cr.pr VALUES (5, 'e')")
    assert(ks("graft.cr.pr") == Seq(1L, 2L, 5L))
    spark.sql("DROP TABLE graft.cr.pr")
    spark.sql("DROP TABLE graft.cr.prc")
  }

  test("clone at '' clones the current version; name collisions fail loudly") {
    spark.sql("DROP TABLE IF EXISTS graft.cr.a")
    spark.sql("DROP TABLE IF EXISTS graft.cr.b")
    spark.sql("CREATE TABLE graft.cr.a (k BIGINT) USING graft")
    spark.sql("INSERT INTO graft.cr.a VALUES (7)")
    spark.sql("CALL graft.system.clone('cr', 'a', 'cr', 'b', '')")
    assert(ks("graft.cr.b") == Seq(7L))
    intercept[Exception](
      spark.sql("CALL graft.system.clone('cr', 'a', 'cr', 'b', '')").collect())
    spark.sql("DROP TABLE graft.cr.a")
    spark.sql("DROP TABLE graft.cr.b")
  }
}
