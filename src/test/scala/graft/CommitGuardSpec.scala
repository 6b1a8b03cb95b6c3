package graft

import org.scalatest.funsuite.AnyFunSuite

object CommitGuardSpec {
  // Rendezvous for the lost-update test: the UPDATE's rewrite tasks
  // hold here until the concurrent INSERT has committed.
  @volatile var gate: java.util.concurrent.CountDownLatch = _
  @volatile var planned: java.util.concurrent.CountDownLatch = _
}

/** Write/commit-path guards: optimistic concurrency on row-level
  * rewrites, snapshot completeness at v0, identity re-seating across
  * restore/rename, row-id continuity across REPLACE, branch-publish
  * conflict detection, and reserved-name/namespace invariants.
  */
class CommitGuardSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("a row-level rewrite refuses to erase a commit that landed mid-flight") {
    spark.sql("DROP TABLE IF EXISTS graft.cg.rl PURGE")
    spark.sql("CREATE TABLE graft.cg.rl (k BIGINT, v BIGINT) USING graft")
    spark.sql("INSERT INTO graft.cg.rl VALUES (1, 10), (2, 20)")
    CommitGuardSpec.gate = new java.util.concurrent.CountDownLatch(1)
    CommitGuardSpec.planned = new java.util.concurrent.CountDownLatch(1)
    val hold = org.apache.spark.sql.functions.udf { (v: Long) =>
      CommitGuardSpec.planned.countDown() // the UPDATE is executing
      CommitGuardSpec.gate.await(30, java.util.concurrent.TimeUnit.SECONDS)
      v + 1
    }
    spark.udf.register("cg_hold", hold)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val updateResult = pool.submit(new java.util.concurrent.Callable[Option[Throwable]] {
      override def call(): Option[Throwable] =
        try { spark.sql("UPDATE graft.cg.rl SET v = cg_hold(v) WHERE k = 1"); None }
        catch { case t: Throwable => Some(t) }
    })
    // Wait until the UPDATE's scan has pinned its snapshot, then land
    // an INSERT and release the update.
    assert(CommitGuardSpec.planned.await(30, java.util.concurrent.TimeUnit.SECONDS))
    spark.sql("INSERT INTO graft.cg.rl VALUES (3, 30)")
    CommitGuardSpec.gate.countDown()
    val failure = updateResult.get(120, java.util.concurrent.TimeUnit.SECONDS)
    pool.shutdown()
    def conflict(t: Throwable): Boolean =
      t != null && (Option(t.getMessage).exists(_.contains("row-level rewrite")) ||
        conflict(t.getCause))
    assert(failure.isDefined && conflict(failure.get),
      s"the UPDATE must refuse as a conflict, got: $failure")
    // The interleaved INSERT survived; the update landed nothing.
    val rows = spark.sql("SELECT k, v FROM graft.cg.rl ORDER BY k")
      .as[(Long, Long)].collect().toSeq
    assert(rows == Seq((1L, 10L), (2L, 20L), (3L, 30L)), s"got $rows")
    // A retry with no interleaving succeeds.
    spark.sql("UPDATE graft.cg.rl SET v = v + 1 WHERE k = 1")
    assert(spark.sql("SELECT v FROM graft.cg.rl WHERE k = 1").as[Long].head() == 11L)
    spark.sql("DROP TABLE graft.cg.rl PURGE")
  }

  test("restore to a pre-rename version re-seats the identity watermark from data") {
    spark.sql("DROP TABLE IF EXISTS graft.cg.idr PURGE")
    spark.sql("CREATE TABLE graft.cg.idr " +
      "(id BIGINT GENERATED ALWAYS AS IDENTITY, v STRING) USING graft")
    spark.sql("INSERT INTO graft.cg.idr (v) VALUES ('a'), ('b'), ('c')") // ids 0..2
    spark.sql("ALTER TABLE graft.cg.idr RENAME COLUMN id TO uid") // prop key migrates
    val preRename = 1L // the version the insert committed
    spark.sql(s"CALL graft.system.restore('cg', 'idr', $preRename)").collect()
    // The restored schema names the column `id`; its watermark prop was
    // keyed `uid` — generation must NOT restart at k=0.
    spark.sql("INSERT INTO graft.cg.idr (v) VALUES ('d')")
    val ids = spark.sql("SELECT id FROM graft.cg.idr").as[Long].collect().toSeq
    assert(ids.length == 4 && ids.distinct.length == 4,
      s"no id collision after restore-across-rename, got $ids")
    spark.sql("DROP TABLE graft.cg.idr PURGE")
  }

  test("v0 snapshot carries CREATE-time constraints through restore") {
    spark.sql("DROP TABLE IF EXISTS graft.cg.ck PURGE")
    spark.sql("CREATE TABLE graft.cg.ck (x INT CHECK (x > 0)) USING graft")
    spark.sql("INSERT INTO graft.cg.ck VALUES (5)")
    spark.sql("CALL graft.system.restore('cg', 'ck', 0)").collect()
    val e = intercept[Exception] {
      spark.sql("INSERT INTO graft.cg.ck VALUES (-1)")
    }
    def hasCheck(t: Throwable): Boolean =
      t != null && (Option(t.getMessage).exists(m =>
        m.toLowerCase.contains("check") || m.toLowerCase.contains("constraint")) ||
        hasCheck(t.getCause))
    assert(hasCheck(e), s"the CHECK must survive restore to v0, got: $e")
    spark.sql("DROP TABLE graft.cg.ck PURGE")
  }

  test("REPLACE TABLE AS SELECT continues the row-id domain") {
    spark.sql("DROP TABLE IF EXISTS graft.cg.rp PURGE")
    spark.sql("CREATE TABLE graft.cg.rp (k BIGINT) USING graft")
    spark.sql("INSERT INTO graft.cg.rp VALUES (1), (2), (3)") // _row_id 0..2
    val preMax = spark.sql("SELECT max(_row_id) FROM graft.cg.rp").head().getLong(0)
    spark.sql("REPLACE TABLE graft.cg.rp USING graft AS SELECT id AS k FROM range(4)")
    val newMin = spark.sql("SELECT min(_row_id) FROM graft.cg.rp").head().getLong(0)
    assert(newMin > preMax,
      s"post-replace rows must mint FRESH ids (min $newMin vs pre-max $preMax) — " +
        "retained snapshots still serve the old ids for different rows")
    spark.sql("DROP TABLE graft.cg.rp PURGE")
  }

  test("REPLACE TABLE carries tag pins, retention windows, and identity watermarks") {
    spark.sql("DROP TABLE IF EXISTS graft.cg.rpp PURGE")
    spark.sql("CREATE TABLE graft.cg.rpp " +
      "(id BIGINT GENERATED ALWAYS AS IDENTITY, v BIGINT) USING graft")
    spark.sql("INSERT INTO graft.cg.rpp (v) VALUES (10), (20)") // v1
    val preMaxId = spark.sql("SELECT max(id) FROM graft.cg.rpp").head().getLong(0)
    spark.sql("ALTER TABLE graft.cg.rpp SET TBLPROPERTIES " +
      "('graft.tag.stable'='1', 'graft.retention.snapshots'='32')")
    // REPLACE resets USER props to the new statement — but the props
    // protecting the CONTINUING history must survive it.
    spark.sql("REPLACE TABLE graft.cg.rpp " +
      "(id BIGINT GENERATED ALWAYS AS IDENTITY, v BIGINT) USING graft")
    val props = spark.sql("SHOW TBLPROPERTIES graft.cg.rpp").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("graft.tag.stable").contains("1"), s"tag pin dropped: $props")
    assert(props.get("graft.retention.snapshots").contains("32"),
      s"retention override dropped: $props")
    // The tag still resolves and the pinned version still reads.
    assert(spark.sql("SELECT count(*) FROM graft.cg.rpp VERSION AS OF 'stable'")
      .head().getLong(0) == 2)
    // Post-replace identity generation continues ABOVE the old domain:
    // retained pre-replace snapshots serve the old ids for other rows.
    spark.sql("INSERT INTO graft.cg.rpp (v) VALUES (30)")
    val newMinId = spark.sql("SELECT min(id) FROM graft.cg.rpp").head().getLong(0)
    assert(newMinId > preMaxId,
      s"identity watermark reset across REPLACE: new min $newMinId vs pre-max $preMaxId")
    spark.sql("DROP TABLE graft.cg.rpp PURGE")
  }

  test("UNSET TBLPROPERTIES of Spark-synthesized keys stays a no-op") {
    spark.sql("DROP TABLE IF EXISTS graft.cg.un PURGE")
    spark.sql("CREATE TABLE graft.cg.un (k BIGINT) USING graft")
    // Spark sends RemoveProperty even under IF EXISTS ('owner'/
    // 'provider' never get this far — the PARSER refuses those); the
    // 'comment' key is never stored (userProps strips it), so the
    // statement must no-op — only branch-provenance keys refuse.
    spark.sql("ALTER TABLE graft.cg.un UNSET TBLPROPERTIES IF EXISTS ('comment')")
    spark.sql("ALTER TABLE graft.cg.un UNSET TBLPROPERTIES ('comment')")
    assert(spark.sql("SELECT count(*) FROM graft.cg.un").head().getLong(0) == 0)
    spark.sql("DROP TABLE graft.cg.un PURGE")
  }

  test("publish_branch refuses when main evolved its partition spec after the cut") {
    spark.sql("DROP TABLE IF EXISTS graft.cg.br PURGE")
    spark.sql("CREATE TABLE graft.cg.br (k BIGINT, r STRING) USING graft")
    spark.sql("INSERT INTO graft.cg.br VALUES (1, 'eu')")
    spark.sql("CALL graft.system.create_branch('cg', 'br', 'audit', '')").collect()
    spark.sql("INSERT INTO graft.cg.`br@audit` VALUES (2, 'us')")
    spark.sql("CALL graft.system.set_partitioning('cg', 'br', 'r')").collect()
    val e = intercept[Exception] {
      spark.sql("CALL graft.system.publish_branch('cg', 'br', 'audit')").collect()
    }
    assert(e.getMessage.contains("partition spec"), e.getMessage)
    // The spec evolution on main survives.
    spark.sql("DROP TABLE graft.cg.`br@audit`")
    spark.sql("DROP TABLE graft.cg.br PURGE")
  }

  test("UNSET of reserved branch provenance refuses; rename onto a view refuses") {
    spark.sql("DROP TABLE IF EXISTS graft.cg.g PURGE")
    spark.sql("CREATE TABLE graft.cg.g (k BIGINT) USING graft")
    spark.sql("INSERT INTO graft.cg.g VALUES (1)")
    spark.sql("CALL graft.system.create_branch('cg', 'g', 'b1', '')").collect()
    val e1 = intercept[Exception] {
      spark.sql("ALTER TABLE graft.cg.`g@b1` UNSET TBLPROPERTIES ('graft.branch.of')")
    }
    assert(e1.getMessage.contains("reserved"), e1.getMessage)
    spark.sql("DROP TABLE graft.cg.`g@b1`")
    spark.sql("CREATE VIEW graft.cg.v_taken AS SELECT 1 AS one")
    val e2 = intercept[Exception] {
      spark.sql("ALTER TABLE graft.cg.g RENAME TO cg.v_taken")
    }
    // Refused for the RIGHT reason — the table/view namespace
    // collision — not some unrelated resolution failure.
    assert(e2.getMessage.toLowerCase.contains("already exists"), e2.getMessage)
    spark.sql("DROP VIEW graft.cg.v_taken")
    spark.sql("DROP TABLE graft.cg.g PURGE")
  }

  test("staged CTAS validates write-order and tag properties like plain CREATE") {
    spark.sql("DROP TABLE IF EXISTS graft.cg.ct PURGE")
    val e = intercept[Exception] {
      spark.sql("CREATE TABLE graft.cg.ct USING graft " +
        "TBLPROPERTIES ('graft.write.order'='nosuchcol') " +
        "AS SELECT id FROM range(3)")
    }
    assert(e.getMessage.contains("not in the schema"), e.getMessage)
    val e2 = intercept[Exception] {
      spark.sql("CREATE TABLE graft.cg.ct USING graft " +
        "TBLPROPERTIES ('graft.tag.x'='stable') " +
        "AS SELECT id FROM range(3)")
    }
    assert(e2.getMessage.contains("numeric"), e2.getMessage)
    spark.sql("DROP TABLE IF EXISTS graft.cg.ct PURGE")
  }
}
