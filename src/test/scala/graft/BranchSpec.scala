package graft

import org.scalatest.funsuite.AnyFunSuite

/** Write-audit-publish branches (the Iceberg/Nessie WAP shape).
  * `CALL graft.system.create_branch` cuts a zero-copy fork at
  * `ns.<table>@<branch>`; the branch takes writes and DML in isolation
  * while the main table serves production reads untouched;
  * `publish_branch` fast-forwards main to the branch state as ONE
  * atomic commit and drops the branch. Load-bearing claims: isolation
  * both ways, fast-forward-only publish (data commits on main since
  * the cut refuse; dataChange=false maintenance commits don't), CDC
  * provenance composing THROUGH the publish, and GC never eating a
  * branch-written file that main now serves.
  */
class BranchSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def ks(t: String): Seq[Long] =
    spark.sql(s"SELECT k FROM $t ORDER BY k").as[Long].collect().toSeq

  test("WAP: branch writes are isolated until publish fast-forwards main") {
    spark.sql("DROP TABLE IF EXISTS graft.br.t")
    spark.sql("CREATE TABLE graft.br.t (k BIGINT) USING graft")
    spark.sql("INSERT INTO graft.br.t VALUES (1), (2)") // v1
    val c = spark.sql("CALL graft.system.create_branch('br', 't', 'audit', '')")
      .collect().head
    assert(c.getAs[Long]("base_version") == 1L)
    assert(c.getAs[String]("branch") == "br.`t@audit`",
      "the returned branch identifier is the backticked SQL-ready form")
    // Write + audit-fix on the branch; main must not see either.
    spark.sql("INSERT INTO graft.br.`t@audit` VALUES (3), (-7)")
    spark.sql("DELETE FROM graft.br.`t@audit` WHERE k < 0")
    assert(ks("graft.br.t") == Seq(1L, 2L), "main is isolated from branch writes")
    assert(ks("graft.br.`t@audit`") == Seq(1L, 2L, 3L))
    val p = spark.sql("CALL graft.system.publish_branch('br', 't', 'audit')")
      .collect().head
    // Publish REPLAYS the branch chain (insert, audit-DELETE = two
    // commits) onto main — the git fast-forward, keeping per-commit
    // sequence numbers exact.
    assert(p.getAs[Long]("new_version") == 3L, "two branch commits graft as v2+v3")
    assert(p.getAs[Long]("branch_commits") == 2L)
    assert(ks("graft.br.t") == Seq(1L, 2L, 3L))
    // The branch is gone; its name errors, and the pre-publish main
    // state stays time-travelable (the publish moved history forward).
    intercept[Exception] { spark.sql("SELECT * FROM graft.br.`t@audit`").collect() }
    assert(spark.sql("SELECT k FROM graft.br.t VERSION AS OF 1 ORDER BY k")
      .as[Long].collect().toSeq == Seq(1L, 2L))
  }

  test("publish refuses when main took a data commit since the cut") {
    spark.sql("DROP TABLE IF EXISTS graft.br.d")
    spark.sql("CREATE TABLE graft.br.d (k BIGINT) USING graft")
    spark.sql("INSERT INTO graft.br.d VALUES (1)") // v1
    spark.sql("CALL graft.system.create_branch('br', 'd', 'exp', '')").collect()
    spark.sql("INSERT INTO graft.br.`d@exp` VALUES (2)")
    spark.sql("INSERT INTO graft.br.d VALUES (9)") // main diverges
    val e = intercept[Exception] {
      spark.sql("CALL graft.system.publish_branch('br', 'd', 'exp')").collect()
    }
    assert(e.getMessage.contains("fast-forward"),
      s"divergence must refuse with the fast-forward remedy, got: ${e.getMessage}")
    // Main and the branch both keep their states — nothing was lost.
    assert(ks("graft.br.d") == Seq(1L, 9L))
    assert(ks("graft.br.`d@exp`") == Seq(1L, 2L))
    spark.sql("DROP TABLE graft.br.`d@exp`") // abandoning a branch is just DROP
  }

  test("publish refuses when main EVOLVED ITS SCHEMA since the cut (dataChange=false drift)") {
    // ALTER migrations are dataChange=false, so they pass the
    // data-commit gate — but the fast-forward would revert main to the
    // branch's pre-ALTER schema. The drift guard must refuse, exactly
    // like partition-spec evolution.
    spark.sql("DROP TABLE IF EXISTS graft.br.se PURGE")
    spark.sql("DROP TABLE IF EXISTS graft.br.`se@audit` PURGE")
    spark.sql("CREATE TABLE graft.br.se (k BIGINT, v STRING) USING graft")
    spark.sql("INSERT INTO graft.br.se VALUES (1, 'a')")
    spark.sql("CALL graft.system.create_branch('br', 'se', 'audit', '')")
    spark.sql("INSERT INTO graft.br.`se@audit` VALUES (2, 'b')")
    spark.sql("ALTER TABLE graft.br.se ADD COLUMN extra BIGINT") // main evolves
    val e = intercept[Exception] {
      spark.sql("CALL graft.system.publish_branch('br', 'se', 'audit')")
    }
    assert(e.getMessage.contains("evolved its schema"), e.getMessage)
    spark.sql("DROP TABLE graft.br.`se@audit` PURGE")
    spark.sql("DROP TABLE graft.br.se PURGE")
  }

  test("dataChange=false maintenance on main does not block a publish") {
    spark.sql("DROP TABLE IF EXISTS graft.br.m")
    spark.sql("CREATE TABLE graft.br.m (k BIGINT) USING graft")
    spark.sql("INSERT INTO graft.br.m VALUES (1)")
    spark.sql("INSERT INTO graft.br.m VALUES (2)") // two segments to fold
    spark.sql("CALL graft.system.create_branch('br', 'm', 'w', '')").collect()
    spark.sql("INSERT INTO graft.br.`m@w` VALUES (3)")
    // Compaction commits on main with dataChange=false: no logical row
    // moved, so the audit must still be publishable.
    spark.sql("CALL graft.system.compact('br', 'm')").collect()
    spark.sql("CALL graft.system.publish_branch('br', 'm', 'w')").collect()
    assert(ks("graft.br.m") == Seq(1L, 2L, 3L))
    // The grafted chain must stay APPEND-CLEAN for streams even across
    // the drift: the synthetic layout-revert commit is dataChange=false
    // (same logical rows, pre-compaction files), so a per-commit replay
    // delivers exactly the data commits — never a change-commit error,
    // never a skipped branch row.
    spark.sql("DROP TABLE IF EXISTS graft.br.m_out")
    spark.sql("CREATE TABLE graft.br.m_out (k BIGINT) USING graft")
    val q = spark.readStream.option("startingVersion", "1")
      .table("graft.br.m").writeStream
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("br-drift-").toString + "/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("graft.br.m_out")
    q.awaitTermination(60000)
    assert(ks("graft.br.m_out") == Seq(1L, 2L, 3L),
      "per-commit replay across the drift-publish must deliver every data commit once")
    spark.sql("DROP TABLE graft.br.m_out")
  }

  test("CDC provenance composes through the publish (branch CoW UPDATE pairs)") {
    spark.sql("DROP TABLE IF EXISTS graft.br.c")
    spark.sql("CREATE TABLE graft.br.c (k BIGINT, v BIGINT) USING graft")
    spark.sql("INSERT INTO graft.br.c VALUES (1, 10), (2, 20)") // v1
    spark.sql("CALL graft.system.create_branch('br', 'c', 'fix', '')").collect()
    spark.sql("UPDATE graft.br.`c@fix` SET v = v + 1 WHERE k = 2") // CoW rewrite
    spark.sql("CALL graft.system.publish_branch('br', 'c', 'fix')").collect()
    val feed = spark.read.format("graft-changes")
      .option("table", "br.c").option("changesFrom", "1").load()
      .select($"_change_type", $"k", $"v").as[(String, Long, Long)]
      .collect().sortBy(r => (r._1, r._2))
    assert(feed.toSeq == Seq(
      ("update_postimage", 2L, 21L), ("update_preimage", 2L, 20L)),
      s"the branch's UPDATE must reach main's feed as a paired update, got ${feed.toSeq}")
  }

  test("GC never eats a branch-written file main now serves") {
    spark.sql("DROP TABLE IF EXISTS graft.br.g")
    spark.sql("CREATE TABLE graft.br.g (k BIGINT) USING graft")
    spark.sql("INSERT INTO graft.br.g VALUES (1)")
    spark.sql("CALL graft.system.create_branch('br', 'g', 'b', '')").collect()
    spark.sql("INSERT INTO graft.br.`g@b` VALUES (2)") // file in the BRANCH's dir
    spark.sql("CALL graft.system.publish_branch('br', 'g', 'b')").collect()
    // The publish dropped the branch entry; vacuum + more churn on main
    // must leave the adopted file readable.
    spark.sql("CALL graft.system.vacuum('br', 'g')").collect()
    spark.sql("INSERT INTO graft.br.g VALUES (3)")
    assert(ks("graft.br.g") == Seq(1L, 2L, 3L))
  }

  test("branch at an old version exists, but publish from it refuses") {
    spark.sql("DROP TABLE IF EXISTS graft.br.o")
    spark.sql("CREATE TABLE graft.br.o (k BIGINT) USING graft")
    spark.sql("INSERT INTO graft.br.o VALUES (1)") // v1
    spark.sql("INSERT INTO graft.br.o VALUES (2)") // v2
    spark.sql("CALL graft.system.create_branch('br', 'o', 'old', '1')").collect()
    assert(ks("graft.br.`o@old`") == Seq(1L), "branch pins the requested version")
    val e = intercept[Exception] {
      spark.sql("CALL graft.system.publish_branch('br', 'o', 'old')").collect()
    }
    assert(e.getMessage.contains("fast-forward"))
    spark.sql("DROP TABLE graft.br.`o@old`")
  }

  test("'@' names are mintable only by create_branch; branches don't rename") {
    spark.sql("DROP TABLE IF EXISTS graft.br.n")
    spark.sql("CREATE TABLE graft.br.n (k BIGINT) USING graft")
    val e1 = intercept[Exception] {
      spark.sql("CREATE TABLE graft.br.`fake@branch` (k BIGINT) USING graft")
    }
    assert(e1.getMessage.contains("reserved for branch identifiers"))
    spark.sql("CALL graft.system.create_branch('br', 'n', 'r', '')").collect()
    val e2 = intercept[Exception] {
      spark.sql("ALTER TABLE graft.br.`n@r` RENAME TO graft.br.stolen")
    }
    assert(e2.getMessage.contains("branch"))
    // Forged provenance is rejected: the branch props are reserved.
    val e3 = intercept[Exception] {
      spark.sql("ALTER TABLE graft.br.n SET TBLPROPERTIES ('graft.branch.of'='br.other')")
    }
    assert(e3.getMessage.contains("reserved"))
    spark.sql("DROP TABLE graft.br.`n@r`")
    // Bad branch names refuse before any state lands.
    val e4 = intercept[Exception] {
      spark.sql("CALL graft.system.create_branch('br', 'n', 'no spaces', '')").collect()
    }
    assert(e4.getMessage.contains("branch name"))
  }

  test("multi-commit publish replays the branch chain (seqs stay exact)") {
    spark.sql("DROP TABLE IF EXISTS graft.br.mc")
    spark.sql("CREATE TABLE graft.br.mc (k BIGINT, v STRING) USING graft")
    spark.sql("INSERT INTO graft.br.mc VALUES (1, 'a1')") // v1 (base)
    spark.sql("CALL graft.system.create_branch('br', 'mc', 'w', '')").collect()
    // Branch commit 1: insert k=2; branch commit 2: UPSERT k=2 — the
    // branch's own eq delete must keep shadowing 'x2' AFTER publish
    // (a squash would collapse both onto one seq and resurrect it).
    spark.sql("INSERT INTO graft.br.`mc@w` VALUES (2, 'x2')")
    Seq((2L, "y2")).toDF("k", "v").writeTo("graft.br.`mc@w`")
      .option("graft.upsert.keys", "k").append()
    val p = spark.sql("CALL graft.system.publish_branch('br', 'mc', 'w')")
      .collect().head
    assert(p.getAs[Long]("branch_commits") == 2L)
    def kv() = spark.sql("SELECT k, v FROM graft.br.mc ORDER BY k, v")
      .as[(Long, String)].collect().toSeq
    assert(kv() == Seq(1L -> "a1", 2L -> "y2"),
      "the branch's intermediate insert must stay shadowed after publish")
    // History carries the REPLAYED chain: both branch commits are
    // time-travelable on main.
    assert(spark.sql("SELECT v FROM graft.br.mc VERSION AS OF 2 WHERE k = 2")
      .as[String].collect().toSeq == Seq("x2"),
      "replayed intermediate commit is a real main version")
    // Main's version counter is AHEAD of every published seq: a new
    // upsert on main must shadow branch-published rows.
    Seq((2L, "z2")).toDF("k", "v").writeTo("graft.br.mc")
      .option("graft.upsert.keys", "k").append()
    assert(kv() == Seq(1L -> "a1", 2L -> "z2"),
      "post-publish upsert on main must shadow the published row")
    // And the CDC net diff base→current converges a replica.
    val feed = spark.read.format("graft-changes")
      .option("table", "br.mc").option("changesFrom", "1").load()
      .select($"_change_type", $"k", $"v").as[(String, Long, String)].collect()
    val state = scala.collection.mutable.Map(1L -> "a1")
    feed.sortBy(r => if (r._1 == "delete" || r._1 == "update_preimage") 0 else 1)
      .foreach {
        case ("delete" | "update_preimage", k, v) if state.get(k).contains(v) =>
          state.remove(k); ()
        case ("insert" | "update_postimage", k, v) => state(k) = v
        case _ => ()
      }
    assert(state.toMap == Map(1L -> "a1", 2L -> "z2"),
      s"net feed must converge; feed=${feed.toSeq}")
    spark.sql("DROP TABLE graft.br.mc")
  }

  test("renaming a table with open branches refuses (no stranded audits)") {
    spark.sql("DROP TABLE IF EXISTS graft.br.rn")
    spark.sql("CREATE TABLE graft.br.rn (k BIGINT) USING graft")
    spark.sql("INSERT INTO graft.br.rn VALUES (1)")
    spark.sql("CALL graft.system.create_branch('br', 'rn', 'wip', '')").collect()
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE graft.br.rn RENAME TO br.rn2")
    }
    assert(e.getMessage.contains("open branch"), e.getMessage)
    // Publishing clears the way.
    spark.sql("CALL graft.system.publish_branch('br', 'rn', 'wip')").collect()
    spark.sql("ALTER TABLE graft.br.rn RENAME TO br.rn2")
    assert(spark.table("graft.br.rn2").count() == 1L)
    spark.sql("DROP TABLE graft.br.rn2")
  }
}
