package graft

import org.scalatest.funsuite.AnyFunSuite

/** Incremental materialized views (`CALL graft.system.create_mv` /
  * `refresh_mv`) plus the TBLPROPERTIES surface they ride on.
  *
  * The load-bearing assertions are the MODE the refresh reports
  * ("incremental" vs "full" vs "noop") and the touched-group count —
  * matching results alone wouldn't prove the refresh did LESS work
  * than a recompute.
  */
class MaterializedViewSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def mvRows(tbl: String): Seq[(String, Long, Double)] =
    spark.sql(s"SELECT g, cnt, total FROM $tbl ORDER BY g")
      .as[(String, Long, Double)].collect().toSeq

  /** `body` with the MV rewrite off: the direct answer that a
    * rewritten one is compared with.
    */
  private def rewriteOff[T](body: => T): T =
    SessionConf.withConfs(spark)(graft.plans.MvRewrite.EnabledKey -> "false")(body)

  private def call(sql: String): (String, Long, Long) = {
    val r = spark.sql(sql).select("mode", "groups", "source_version")
      .as[(String, Long, Long)].head()
    r
  }

  test("tblproperties: CREATE ... TBLPROPERTIES, SHOW, SET/UNSET, reserved rejected") {
    spark.sql("DROP TABLE IF EXISTS graft.props.t")
    spark.sql(
      "CREATE TABLE graft.props.t (k BIGINT) USING graft TBLPROPERTIES ('team'='data', 'tier'='gold')")
    def props(): Map[String, String] =
      spark.sql("SHOW TBLPROPERTIES graft.props.t")
        .as[(String, String)].collect().toMap
    assert(props().get("team").contains("data") && props().get("tier").contains("gold"))
    spark.sql("ALTER TABLE graft.props.t SET TBLPROPERTIES ('tier'='silver', 'new'='1')")
    assert(props().get("tier").contains("silver") && props().get("new").contains("1"))
    spark.sql("ALTER TABLE graft.props.t UNSET TBLPROPERTIES ('team')")
    assert(!props().contains("team"))
    // Properties are metadata-only: no new table version was published.
    spark.sql("INSERT INTO graft.props.t VALUES (1)")
    assert(spark.sql("SELECT k FROM graft.props.t").as[Long].head() == 1L)
    spark.sql("DROP TABLE graft.props.t")
  }

  test("create_mv materializes the aggregate; MV is a plain queryable table") {
    spark.sql("DROP TABLE IF EXISTS graft.mv.base")
    spark.sql("DROP TABLE IF EXISTS graft.mv.agg")
    spark.sql("CREATE TABLE graft.mv.base (g STRING, v BIGINT) USING graft")
    spark.sql("INSERT INTO graft.mv.base VALUES ('a', 1), ('a', 2), ('b', 10)")
    val (mode, groups, _) = call(
      "CALL graft.system.create_mv('mv', 'agg', 'mv.base', 'g', 'count(*) AS cnt, sum(v) AS total')")
    assert(mode == "full" && groups == 2)
    assert(mvRows("graft.mv.agg") == Seq(("a", 2L, 3.0), ("b", 1L, 10.0)))
    spark.sql("DROP TABLE graft.mv.agg")
    spark.sql("DROP TABLE graft.mv.base")
  }

  test("refresh after append is incremental and touches only changed groups") {
    spark.sql("DROP TABLE IF EXISTS graft.mv2.base")
    spark.sql("DROP TABLE IF EXISTS graft.mv2.agg")
    spark.sql("CREATE TABLE graft.mv2.base (g STRING, v BIGINT) USING graft")
    spark.sql("INSERT INTO graft.mv2.base VALUES ('a', 1), ('a', 2), ('b', 10), ('c', 5)")
    call("CALL graft.system.create_mv('mv2', 'agg', 'mv2.base', 'g', 'count(*) AS cnt, sum(v) AS total')")
    // Append touches groups b (existing) and d (new); a and c must NOT
    // be recomputed — touched-group count proves it.
    spark.sql("INSERT INTO graft.mv2.base VALUES ('b', 20), ('d', 7)")
    val (mode, groups, _) = call("CALL graft.system.refresh_mv('mv2', 'agg')")
    assert(mode == "incremental", s"expected incremental refresh, got $mode")
    assert(groups == 2, s"only groups b and d changed, refresh touched $groups")
    assert(mvRows("graft.mv2.agg") ==
      Seq(("a", 2L, 3.0), ("b", 2L, 30.0), ("c", 1L, 5.0), ("d", 1L, 7.0)))
    // Immediate re-refresh: nothing changed.
    val (mode2, g2, _) = call("CALL graft.system.refresh_mv('mv2', 'agg')")
    assert(mode2 == "noop" && g2 == 0)
    spark.sql("DROP TABLE graft.mv2.agg")
    spark.sql("DROP TABLE graft.mv2.base")
  }

  test("refresh after DELETE updates shrunk groups and removes vanished ones") {
    spark.sql("DROP TABLE IF EXISTS graft.mv3.base")
    spark.sql("DROP TABLE IF EXISTS graft.mv3.agg")
    spark.sql("CREATE TABLE graft.mv3.base (g STRING, v BIGINT) USING graft")
    spark.sql("INSERT INTO graft.mv3.base VALUES ('a', 1), ('a', 2), ('b', 10), ('c', 5)")
    call("CALL graft.system.create_mv('mv3', 'agg', 'mv3.base', 'g', 'count(*) AS cnt, sum(v) AS total')")
    // Shrinks group a (2 rows -> 1) and VANISHES group b entirely.
    spark.sql("DELETE FROM graft.mv3.base WHERE v = 2 OR g = 'b'")
    val (mode, _, _) = call("CALL graft.system.refresh_mv('mv3', 'agg')")
    assert(mode == "incremental")
    assert(mvRows("graft.mv3.agg") == Seq(("a", 1L, 1.0), ("c", 1L, 5.0)),
      "group b's MV row must be DELETEd when its last base row goes")
    spark.sql("DROP TABLE graft.mv3.agg")
    spark.sql("DROP TABLE graft.mv3.base")
  }

  test("NULL group keys refresh correctly (null-safe join semantics)") {
    spark.sql("DROP TABLE IF EXISTS graft.mv4.base")
    spark.sql("DROP TABLE IF EXISTS graft.mv4.agg")
    spark.sql("CREATE TABLE graft.mv4.base (g STRING, v BIGINT) USING graft")
    spark.sql("INSERT INTO graft.mv4.base VALUES (NULL, 1), ('a', 2)")
    call("CALL graft.system.create_mv('mv4', 'agg', 'mv4.base', 'g', 'sum(v) AS total')")
    spark.sql("INSERT INTO graft.mv4.base VALUES (NULL, 10)")
    val (mode, groups, _) = call("CALL graft.system.refresh_mv('mv4', 'agg')")
    assert(mode == "incremental" && groups == 1)
    assert(spark.sql("SELECT total FROM graft.mv4.agg WHERE g IS NULL")
      .as[Double].head() == 11.0)
    assert(spark.sql("SELECT total FROM graft.mv4.agg WHERE g = 'a'")
      .as[Double].head() == 2.0)
    spark.sql("DROP TABLE graft.mv4.agg")
    spark.sql("DROP TABLE graft.mv4.base")
  }

  test("multi-column group keys refresh via per-column pushed INs — no named_struct probe") {
    // A compound group key used to reach the source scans only as a
    // `named_struct(...) IN subquery` runtime filter — untranslatable
    // (WARN, zero pruning). The refresh now inlines the touched keys
    // as per-column literal INs (source side) and the row-level scan
    // advertises a single runtime-filter column (MERGE target side).
    // Capture the log to prove the untranslatable probe is GONE, and
    // check the refresh stays incremental + correct on compound keys.
    import org.apache.logging.log4j.Level
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    spark.sql("DROP TABLE IF EXISTS graft.mv9.base")
    spark.sql("DROP TABLE IF EXISTS graft.mv9.agg")
    spark.sql("CREATE TABLE graft.mv9.base (g1 STRING, g2 BIGINT, v BIGINT) USING graft")
    spark.sql(
      """INSERT INTO graft.mv9.base VALUES
        |('a', 1, 10), ('a', 2, 20), ('b', 1, 30), ('b', 2, 40)""".stripMargin)
    call("CALL graft.system.create_mv('mv9', 'agg', 'mv9.base', 'g1, g2', 'sum(v) AS total')")

    val warns = scala.collection.mutable.Buffer[String]()
    val app = new AbstractAppender(
      "graft-mv9-capture", null, null, true,
      Array.empty[org.apache.logging.log4j.core.config.Property]) {
      override def append(e: LogEvent): Unit =
        warns.synchronized { warns += e.getMessage.getFormattedMessage; () }
    }
    app.start()
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(app, Level.WARN, null)
    try {
      spark.sql("INSERT INTO graft.mv9.base VALUES ('a', 2, 5)")
      val (mode, groups, _) = call("CALL graft.system.refresh_mv('mv9', 'agg')")
      assert(mode == "incremental" && groups == 1,
        s"compound-key refresh must stay incremental, got ($mode, $groups)")
    } finally {
      root.removeAppender("graft-mv9-capture")
      app.stop()
      ctx.updateLoggers()
    }
    val structProbes = warns.synchronized(warns.filter(m =>
      m.contains("named_struct") && m.contains("IN subquery")))
    assert(structProbes.isEmpty,
      s"refresh must not plan an untranslatable struct probe: $structProbes")
    assert(spark.sql("SELECT total FROM graft.mv9.agg WHERE g1 = 'a' AND g2 = 2")
      .as[Double].head() == 25.0)
    assert(spark.sql("SELECT total FROM graft.mv9.agg WHERE g1 = 'b' AND g2 = 1")
      .as[Double].head() == 30.0)
    spark.sql("DROP TABLE graft.mv9.agg")
    spark.sql("DROP TABLE graft.mv9.base")
  }

  test("non-distributive aggregates (count distinct) stay exact under incremental refresh") {
    spark.sql("DROP TABLE IF EXISTS graft.mv5.base")
    spark.sql("DROP TABLE IF EXISTS graft.mv5.agg")
    spark.sql("CREATE TABLE graft.mv5.base (g STRING, u BIGINT) USING graft")
    spark.sql("INSERT INTO graft.mv5.base VALUES ('a', 1), ('a', 1), ('a', 2), ('b', 9)")
    call("CALL graft.system.create_mv('mv5', 'agg', 'mv5.base', 'g', 'count(DISTINCT u) AS ndv')")
    // A delta-merge maintenance scheme cannot do count(distinct);
    // group-restricted recompute can — 'a' gains u=1 (dup) and u=3.
    spark.sql("INSERT INTO graft.mv5.base VALUES ('a', 1), ('a', 3)")
    val (mode, _, _) = call("CALL graft.system.refresh_mv('mv5', 'agg')")
    assert(mode == "incremental")
    assert(spark.sql("SELECT ndv FROM graft.mv5.agg WHERE g = 'a'").as[Long].head() == 3L)
    spark.sql("DROP TABLE graft.mv5.agg")
    spark.sql("DROP TABLE graft.mv5.base")
  }

  test("refresh falls back to full recompute when the recorded snapshot expired") {
    spark.sql("DROP TABLE IF EXISTS graft.mv6.base")
    spark.sql("DROP TABLE IF EXISTS graft.mv6.agg")
    spark.sql("CREATE TABLE graft.mv6.base (g STRING, v BIGINT) USING graft")
    spark.sql("INSERT INTO graft.mv6.base VALUES ('a', 1)")
    call("CALL graft.system.create_mv('mv6', 'agg', 'mv6.base', 'g', 'sum(v) AS total')")
    spark.sql("INSERT INTO graft.mv6.base VALUES ('b', 2)")
    // Pin the MV's recorded version to one that was never committed —
    // the snapshot-expired shape without waiting out retention.
    graft.sources.GraftCatalog.patchTablePropsForTest(
      "mv6", "agg", Map("graft.mv.version" -> "-1"))
    val (mode, _, _) = call("CALL graft.system.refresh_mv('mv6', 'agg')")
    assert(mode == "full", "expired v0 snapshot must degrade to full recompute")
    assert(mvRows2("graft.mv6.agg") == Seq(("a", 1.0), ("b", 2.0)))
    spark.sql("DROP TABLE graft.mv6.agg")
    spark.sql("DROP TABLE graft.mv6.base")
  }

  private def mvRows2(tbl: String): Seq[(String, Double)] =
    spark.sql(s"SELECT g, total FROM $tbl ORDER BY g").as[(String, Double)].collect().toSeq

  test("streaming maintenance: every per-epoch refresh is incremental, never full") {
    spark.sql("DROP TABLE IF EXISTS graft.mvs.base")
    spark.sql("DROP TABLE IF EXISTS graft.mvs.agg")
    spark.sql("CREATE TABLE graft.mvs.base (id BIGINT, val DOUBLE, tag BIGINT) USING graft")
    spark.sql(
      "CALL graft.system.create_mv('mvs', 'agg', 'mvs.base', 'tag', 'count(*) AS n, sum(val) AS total')")
      .collect()
    val modes = scala.collection.mutable.ArrayBuffer[String]()
    val ckpt = java.nio.file.Files.createTempDirectory("graft_mvs_").toString
    spark.readStream.format("graft-range")
      .option("end", "800").option("rowsPerBatch", "200")
      .load()
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.writeTo("graft.mvs.base").append()
        modes.synchronized {
          modes += batch.sparkSession
            .sql("CALL graft.system.refresh_mv('mvs', 'agg')")
            .select("mode").as(org.apache.spark.sql.Encoders.STRING).head()
        }: Unit
      }
      .start().awaitTermination()
    assert(modes.nonEmpty && modes.forall(_ == "incremental"),
      s"per-epoch refreshes must all be incremental, got $modes")
    // The MV equals a from-scratch aggregate of the base.
    val direct = spark.sql(
      "SELECT tag, count(*) AS n, sum(val) AS total FROM graft.mvs.base GROUP BY tag ORDER BY tag")
      .collect().toSeq
    val mv = spark.sql("SELECT tag, n, total FROM graft.mvs.agg ORDER BY tag").collect().toSeq
    assert(mv == direct)
    spark.sql("DROP TABLE graft.mvs.agg")
    spark.sql("DROP TABLE graft.mvs.base")
  }

  test("streaming upsert maintenance: every per-epoch refresh stays incremental under eq deletes") {
    // The st17 steady state the round-17 verdict called the last
    // O(table) maintenance cost: an MV over a streaming MoR-upsert-fed
    // table. Keys recur across epochs (id % 250 over 4×200-row
    // batches), so every epoch both KILLS prior rows by equality
    // delete and appends — and every per-epoch refresh must still be
    // incremental, converging to the from-scratch aggregate.
    spark.sql("DROP TABLE IF EXISTS graft.mvsu.base")
    spark.sql("DROP TABLE IF EXISTS graft.mvsu.agg")
    spark.sql("CREATE TABLE graft.mvsu.base (k BIGINT, tag BIGINT, val DOUBLE) USING graft")
    spark.sql(
      "CALL graft.system.create_mv('mvsu', 'agg', 'mvsu.base', 'tag', 'count(*) AS n, sum(val) AS total')")
      .collect()
    val modes = scala.collection.mutable.ArrayBuffer[String]()
    val ckpt = java.nio.file.Files.createTempDirectory("graft_mvsu_").toString
    spark.readStream.format("graft-range")
      .option("end", "800").option("rowsPerBatch", "200")
      .load()
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        import org.apache.spark.sql.functions.{col, expr}
        batch.select((col("id") % 250).as("k"), (col("id") % 7).as("tag"),
            expr("CAST(id AS DOUBLE) / 10").as("val"))
          .writeTo("graft.mvsu.base")
          .option("graft.upsert.keys", "k").append()
        modes.synchronized {
          modes += batch.sparkSession
            .sql("CALL graft.system.refresh_mv('mvsu', 'agg')")
            .select("mode").as(org.apache.spark.sql.Encoders.STRING).head()
        }: Unit
      }
      .start().awaitTermination()
    assert(modes.nonEmpty && modes.forall(_ == "incremental"),
      s"per-epoch upsert refreshes must all be incremental, got $modes")
    assert(graft.sources.GraftCatalog.eqDeleteCount("mvsu", "base") > 0,
      "fixture defect: the stream registered no equality deletes")
    val direct = spark.sql(
      "SELECT tag, count(*) AS n, sum(val) AS total FROM graft.mvsu.base GROUP BY tag ORDER BY tag")
      .collect().toSeq
    val mv = spark.sql("SELECT tag, n, total FROM graft.mvsu.agg ORDER BY tag").collect().toSeq
    assert(mv == direct, "streaming-upsert-maintained MV diverged from the from-scratch aggregate")
    spark.sql("DROP TABLE graft.mvsu.agg")
    spark.sql("DROP TABLE graft.mvsu.base")
  }

  test("upsert epochs (equality deletes) refresh incrementally: insert, update, vanish, own-batch scoping") {
    spark.sql("DROP TABLE IF EXISTS graft.mveq.base")
    spark.sql("DROP TABLE IF EXISTS graft.mveq.agg")
    spark.sql("CREATE TABLE graft.mveq.base (k BIGINT, g STRING, v BIGINT) USING graft")
    spark.sql(
      "INSERT INTO graft.mveq.base VALUES (1, 'a', 1), (2, 'a', 2), (3, 'b', 10), (4, 'c', 5)")
    call("CALL graft.system.create_mv('mveq', 'agg', 'mveq.base', 'g', 'count(*) AS cnt, sum(v) AS total')")
    def upsert(rows: (Long, String, Long)*): Unit =
      rows.toSeq.toDF("k", "g", "v").writeTo("graft.mveq.base")
        .option("graft.upsert.keys", "k").append()
    def agg(): Seq[(String, Long, Long)] =
      spark.sql("SELECT g, cnt, CAST(total AS BIGINT) FROM graft.mveq.agg ORDER BY g")
        .as[(String, Long, Long)].collect().toSeq

    // EPOCH 1 — insert-only upsert (all-new keys): the registered eq
    // delete kills nothing; refresh must stay incremental and touch
    // only the appended groups.
    upsert((5L, "b", 20L), (6L, "d", 7L))
    val (m1, g1, _) = call("CALL graft.system.refresh_mv('mveq', 'agg')")
    assert(m1 == "incremental", s"insert-only upsert epoch must refresh incrementally, got $m1")
    assert(g1 == 2, s"only groups b and d changed, touched $g1")
    assert(agg() == Seq(("a", 2L, 3L), ("b", 2L, 30L), ("c", 1L, 5L), ("d", 1L, 7L)))

    // EPOCH 2 — UPDATE epoch (delete + insert, same key): key 2 moves
    // from group a to group e. The killed row lives in a segment the
    // structural diff calls unchanged — only the eq-delete Δ term can
    // find group a. Own-batch seq scoping: the delete must NOT kill
    // the epoch's own new row, or group e would be missing.
    upsert((2L, "e", 9L))
    val (m2, g2, _) = call("CALL graft.system.refresh_mv('mveq', 'agg')")
    assert(m2 == "incremental", s"update epoch must refresh incrementally, got $m2")
    assert(g2 == 2, s"exactly groups a (killed) and e (inserted) changed, touched $g2")
    assert(agg() == Seq(("a", 1L, 1L), ("b", 2L, 30L), ("c", 1L, 5L), ("d", 1L, 7L), ("e", 1L, 9L)),
      "update epoch: old group must shrink, new group must carry the batch's own row")

    // EPOCH 3 — update that VANISHES a group: key 4 was group c's only
    // row; its MV row must be MERGE-DELETEd.
    upsert((4L, "a", 3L))
    val (m3, _, _) = call("CALL graft.system.refresh_mv('mveq', 'agg')")
    assert(m3 == "incremental")
    assert(agg() == Seq(("a", 2L, 4L), ("b", 2L, 30L), ("d", 1L, 7L), ("e", 1L, 9L)),
      "group c's MV row must be deleted when the upsert killed its last base row")

    // Delete-then-COMPACT: compaction materializes the eq deletes and
    // rewrites segments; whatever mode the churn gate picks, the MV
    // must converge to the from-scratch answer.
    upsert((3L, "b", 11L))
    spark.sql("CALL graft.system.compact('mveq', 'base', '')").collect()
    val (m4, _, _) = call("CALL graft.system.refresh_mv('mveq', 'agg')")
    assert(m4 == "incremental" || m4 == "full")
    val direct = spark.sql(
      "SELECT g, count(*) AS cnt, CAST(sum(v) AS BIGINT) FROM graft.mveq.base GROUP BY g ORDER BY g")
      .as[(String, Long, Long)].collect().toSeq
    assert(agg() == direct, "post-compaction refresh must converge to the full recompute")

    // Key-cap fallback: past spark.graft.mvRefresh.eqKeyLimit the
    // refresh degrades to full RTAS — still correct.
    SessionConf.withConfs(spark)("spark.graft.mvRefresh.eqKeyLimit" -> "1") {
      upsert((1L, "f", 100L), (6L, "f", 200L))
      val (m5, _, _) = call("CALL graft.system.refresh_mv('mveq', 'agg')")
      assert(m5 == "full", s"eq keys past the cap must full-refresh, got $m5")
      val direct5 = spark.sql(
        "SELECT g, count(*) AS cnt, CAST(sum(v) AS BIGINT) FROM graft.mveq.base GROUP BY g ORDER BY g")
        .as[(String, Long, Long)].collect().toSeq
      assert(agg() == direct5)
    }
    spark.sql("DROP TABLE graft.mveq.agg")
    spark.sql("DROP TABLE graft.mveq.base")
  }

  test("RESTORE that removes an eq delete resurrects rows through refresh") {
    spark.sql("DROP TABLE IF EXISTS graft.mveqr.base")
    spark.sql("DROP TABLE IF EXISTS graft.mveqr.agg")
    spark.sql("CREATE TABLE graft.mveqr.base (k BIGINT, g STRING, v BIGINT) USING graft")
    spark.sql("INSERT INTO graft.mveqr.base VALUES (1, 'a', 1), (2, 'b', 10)")
    val preUpsertV = graft.sources.GraftCatalog.currentVersion("mveqr", "base").get
    // Upsert kills (1,'a',1) and lands (1,'c',7); MV refreshed on top.
    Seq((1L, "c", 7L)).toDF("k", "g", "v").writeTo("graft.mveqr.base")
      .option("graft.upsert.keys", "k").append()
    call("CALL graft.system.create_mv('mveqr', 'agg', 'mveqr.base', 'g', 'sum(v) AS total')")
    assert(spark.sql("SELECT g, CAST(total AS BIGINT) FROM graft.mveqr.agg ORDER BY g")
      .as[(String, Long)].collect().toSeq == Seq(("b", 10L), ("c", 7L)))
    // RESTORE to the pre-upsert version: the delete goes away and row
    // (1,'a',1) RESURRECTS while the upsert's own segment vanishes
    // (structural). The gone-delete Δ term must re-touch group a.
    spark.sql(s"CALL graft.system.restore('mveqr', 'base', '$preUpsertV')").collect()
    val r = spark.sql("CALL graft.system.refresh_mv('mveqr', 'agg')")
      .select("mode").as[String].head()
    assert(r == "incremental" || r == "full")
    assert(spark.sql("SELECT g, CAST(total AS BIGINT) FROM graft.mveqr.agg ORDER BY g")
      .as[(String, Long)].collect().toSeq == Seq(("a", 1L), ("b", 10L)),
      "restore must resurrect group a and drop group c in the refreshed MV")
    spark.sql("DROP TABLE graft.mveqr.agg")
    spark.sql("DROP TABLE graft.mveqr.base")
  }

  test("join MV refreshes incrementally across a fact-side upsert epoch") {
    spark.sql("DROP TABLE IF EXISTS graft.mveqj.fact")
    spark.sql("DROP TABLE IF EXISTS graft.mveqj.dim")
    spark.sql("DROP TABLE IF EXISTS graft.mveqj.agg")
    spark.sql("CREATE TABLE graft.mveqj.fact (id BIGINT, ck BIGINT, amt BIGINT) USING graft")
    spark.sql("CREATE TABLE graft.mveqj.dim (dk BIGINT, seg STRING) USING graft")
    spark.sql("INSERT INTO graft.mveqj.fact VALUES (1, 10, 100), (2, 10, 50), (3, 20, 7)")
    spark.sql("INSERT INTO graft.mveqj.dim VALUES (10, 'x'), (20, 'y'), (30, 'z')")
    call(
      """CALL graft.system.create_mv('mveqj', 'agg',
        |  'mveqj.fact JOIN mveqj.dim ON ck = dk', 'seg',
        |  'count(*) AS cnt, sum(amt) AS total')""".stripMargin)
    // Fact-side upsert epoch: fact row 2 moves from dim 10 to dim 20 —
    // the killed tuple's group (x) is reachable only through the
    // eq-delete Δ term ⋈ dim@v0.
    Seq((2L, 20L, 60L)).toDF("id", "ck", "amt").writeTo("graft.mveqj.fact")
      .option("graft.upsert.keys", "id").append()
    val (mode, groups, _) = call("CALL graft.system.refresh_mv('mveqj', 'agg')")
    assert(mode == "incremental", s"fact upsert epoch must refresh the join MV incrementally, got $mode")
    assert(groups == 2, s"exactly segments x and y changed, touched $groups")
    assert(spark.sql("SELECT seg, cnt, CAST(total AS BIGINT) FROM graft.mveqj.agg ORDER BY seg")
      .as[(String, Long, Long)].collect().toSeq == Seq(("x", 1L, 100L), ("y", 2L, 67L)),
      "join MV must reflect the moved fact row on both its old and new dim groups")
    spark.sql("DROP TABLE graft.mveqj.agg")
    spark.sql("DROP TABLE graft.mveqj.dim")
    spark.sql("DROP TABLE graft.mveqj.fact")
  }

  test("dim-side delta term prunes the fact scan via delta-key INs") {
    spark.sql("DROP TABLE IF EXISTS graft.mvdp.fact")
    spark.sql("DROP TABLE IF EXISTS graft.mvdp.dim")
    spark.sql("DROP TABLE IF EXISTS graft.mvdp.agg")
    spark.sql("CREATE TABLE graft.mvdp.fact (ck BIGINT, amt BIGINT) USING graft")
    spark.sql("CREATE TABLE graft.mvdp.dim (dk BIGINT, seg STRING) USING graft")
    // Fact clustered by join key: four inserts = four segments with
    // disjoint ck ranges, so zone maps can prune by ck.
    for (lo <- Seq(0L, 10L, 20L, 30L))
      spark.sql(s"INSERT INTO graft.mvdp.fact SELECT id + $lo, id FROM range(1, 10)")
    spark.sql(
      "INSERT INTO graft.mvdp.dim SELECT id, concat('s', CAST(id % 4 AS STRING)) FROM range(0, 40)")
    call(
      """CALL graft.system.create_mv('mvdp', 'agg',
        |  'mvdp.fact JOIN mvdp.dim ON ck = dk', 'seg',
        |  'count(*) AS cnt, sum(amt) AS total')""".stripMargin)
    // A 1-row dim change (append of a duplicate member for key 5):
    // its delta term is ΔD ⋈ fact — which before r18 paid a FULL fact
    // pass. With the delta's join keys pushed as a literal IN, the
    // fact scan must plan strictly fewer splits than the fact has.
    spark.sql("INSERT INTO graft.mvdp.dim VALUES (5, 'extra')")
    SessionConf.withConfs(spark)("spark.graft.mvRefresh.debug" -> "true") {
      val (mode, _, _) = call("CALL graft.system.refresh_mv('mvdp', 'agg')")
      assert(mode == "incremental", s"dim append must stay incremental, got $mode")
      val factSegs = graft.sources.GraftCatalog.segmentCount("mvdp", "fact")
      val factScans = graft.sources.GraftMvOps.lastJoinTermScans
        .filter(s => s.termSide == 1 && s.otherSide == 0)
      assert(factScans.nonEmpty, "debug telemetry must record the dim-term fact scan")
      assert(factScans.forall(s => s.total == factSegs && s.planned < s.total),
        s"dim-delta term must plan strictly fewer fact splits than the $factSegs the table has (got $factScans)")
      assert(factScans.exists(_.planned == 1),
        s"a 1-key dim delta should plan exactly one fact split, got $factScans")
    }
    val direct = spark.sql(
      """SELECT seg, count(*) AS cnt, sum(amt) AS total
        |FROM graft.mvdp.fact JOIN graft.mvdp.dim ON ck = dk
        |GROUP BY seg ORDER BY seg""".stripMargin).collect().toSeq
    assert(spark.sql("SELECT seg, cnt, total FROM graft.mvdp.agg ORDER BY seg")
      .collect().toSeq == direct)
    spark.sql("DROP TABLE graft.mvdp.agg")
    spark.sql("DROP TABLE graft.mvdp.dim")
    spark.sql("DROP TABLE graft.mvdp.fact")
  }

  test("filtered join MV: create/refresh apply the WHERE; rewrite needs subsumption") {
    def scans(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.relation.identifier.map(_.name).getOrElse("")
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
          r.identifier.map(_.name).getOrElse("")
      }
    spark.sql("DROP TABLE IF EXISTS graft.mvfj.fact")
    spark.sql("DROP TABLE IF EXISTS graft.mvfj.dim")
    spark.sql("DROP TABLE IF EXISTS graft.mvfj.agg")
    spark.sql("CREATE TABLE graft.mvfj.fact (ck BIGINT, st STRING, amt BIGINT) USING graft")
    spark.sql("CREATE TABLE graft.mvfj.dim (dk BIGINT, seg STRING) USING graft")
    spark.sql(
      """INSERT INTO graft.mvfj.fact VALUES
        |  (1, 'F', 10), (1, 'O', 99), (2, 'F', 20), (3, 'F', 5)""".stripMargin)
    spark.sql("INSERT INTO graft.mvfj.dim VALUES (1, 'x'), (2, 'y'), (3, 'x')")
    // The WHERE references a DIM column too — a filtered join MV's
    // predicate applies to the joined tuple, any side's columns.
    val (cm, _, _) = call(
      """CALL graft.system.create_mv('mvfj', 'agg',
        |  'mvfj.fact JOIN mvfj.dim ON ck = dk', 'seg',
        |  'count(*) AS cnt, sum(amt) AS total', 'st = ''F''')""".stripMargin)
    assert(cm == "full")
    assert(spark.sql("SELECT seg, cnt, total FROM graft.mvfj.agg ORDER BY seg")
      .as[(String, Long, Long)].collect().toSeq == Seq(("x", 2L, 15L), ("y", 1L, 20L)))
    // Fact append crossing the filter: only the qualifying row may
    // reach the MV, and the refresh must stay incremental.
    spark.sql("INSERT INTO graft.mvfj.fact VALUES (2, 'F', 7), (3, 'O', 1000)")
    val (rm, rg, _) = call("CALL graft.system.refresh_mv('mvfj', 'agg')")
    assert(rm == "incremental", s"filtered join MV refresh must stay incremental, got $rm")
    assert(rg == 1, s"the filtered-out appended row's group must not even be touched, got $rg")
    assert(spark.sql("SELECT seg, cnt, total FROM graft.mvfj.agg ORDER BY seg")
      .as[(String, Long, Long)].collect().toSeq == Seq(("x", 2L, 15L), ("y", 2L, 27L)),
      "the filtered-out appended row must not reach the MV")
    // Rewrite: subsumed WHERE (MV conjunct + group-col residual) serves.
    val hit = spark.sql(
      """SELECT seg, count(*) AS c, sum(amt) AS s
        |FROM graft.mvfj.fact JOIN graft.mvfj.dim ON ck = dk
        |WHERE st = 'F' AND seg <> 'zzz'
        |GROUP BY seg""".stripMargin)
    assert(scans(hit).contains("agg"), s"subsumed filtered join query must be MV-served, got ${scans(hit)}")
    assert(hit.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy(_._1) == Seq(("x", 2L, 15L), ("y", 2L, 27L)))
    // Declines: missing the MV conjunct, or a non-group residual.
    val noWhere = spark.sql(
      """SELECT seg, count(*) AS c FROM graft.mvfj.fact JOIN graft.mvfj.dim ON ck = dk
        |GROUP BY seg""".stripMargin)
    assert(!scans(noWhere).contains("agg"),
      "a query missing the MV's WHERE must never be served by the filtered join MV")
    val weaker = spark.sql(
      """SELECT seg, count(*) AS c FROM graft.mvfj.fact JOIN graft.mvfj.dim ON ck = dk
        |WHERE st <> 'O' GROUP BY seg""".stripMargin)
    assert(!scans(weaker).contains("agg"),
      "a structurally different predicate must not match by implication")
    // STALE + FILTERED: a fact append without refresh serves as
    // MV ⊎ γ(ΔF ⋈ dim) with the MV branch taking the residual and the
    // delta branch the query's FULL predicate (the appended 'O' row
    // must be filtered out of the delta term).
    spark.sql("INSERT INTO graft.mvfj.fact VALUES (1, 'F', 100), (2, 'O', 5)")
    val stale = spark.sql(
      """SELECT seg, count(*) AS c, sum(amt) AS s
        |FROM graft.mvfj.fact JOIN graft.mvfj.dim ON ck = dk
        |WHERE st = 'F' AND seg <> 'zzz'
        |GROUP BY seg""".stripMargin)
    val ss = scans(stale)
    assert(ss.contains("agg") && ss.contains("fact"),
      s"stale filtered join MV must serve MV ⊎ delta, scans: $ss")
    assert(stale.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy(_._1) == Seq(("x", 3L, 115L), ("y", 2L, 27L)),
      "stale filtered-join answer must include the qualifying delta row only")
    spark.sql("DROP TABLE graft.mvfj.agg")
    spark.sql("DROP TABLE graft.mvfj.dim")
    spark.sql("DROP TABLE graft.mvfj.fact")
  }

  test("stale join MV: dim-append served as MV ⊎ (ΔD ⋈ fact); two moved sides decline") {
    def scans(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.relation.identifier.map(_.name).getOrElse("")
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
          r.identifier.map(_.name).getOrElse("")
      }
    spark.sql("DROP TABLE IF EXISTS graft.mvda.fact")
    spark.sql("DROP TABLE IF EXISTS graft.mvda.dim")
    spark.sql("DROP TABLE IF EXISTS graft.mvda.agg")
    spark.sql("CREATE TABLE graft.mvda.fact (ck BIGINT, amt BIGINT) USING graft")
    spark.sql("CREATE TABLE graft.mvda.dim (dk BIGINT, seg STRING) USING graft")
    spark.sql("INSERT INTO graft.mvda.fact VALUES (1, 10), (2, 20), (3, 5), (4, 40)")
    // Only HALF the dim members exist at materialization.
    spark.sql("INSERT INTO graft.mvda.dim VALUES (1, 'x'), (2, 'y')")
    call(
      """CALL graft.system.create_mv('mvda', 'agg',
        |  'mvda.fact JOIN mvda.dim ON ck = dk', 'seg',
        |  'count(*) AS cnt, sum(amt) AS total')""".stripMargin)
    // Late-arriving members: dim APPEND, no refresh.
    spark.sql("INSERT INTO graft.mvda.dim VALUES (3, 'x'), (4, 'z')")
    val q = """SELECT seg, count(*) AS c, sum(amt) AS s
              |FROM graft.mvda.fact JOIN graft.mvda.dim ON ck = dk
              |GROUP BY seg""".stripMargin
    val direct = rewriteOff(spark.sql(q).collect().toSeq.sortBy(_.getString(0)))
    val served = spark.sql(q)
    val s = scans(served)
    assert(s.contains("agg"), s"dim-append staleness must be MV-served, scans: $s")
    assert(s.contains("dim") && s.contains("fact"),
      s"the delta branch must re-join ΔD against the fact, scans: $s")
    assert(served.collect().toSeq.sortBy(_.getString(0)) == direct)
    assert(direct.map(r => (r.getString(0), r.getLong(1), r.getLong(2))) ==
      Seq(("x", 2L, 15L), ("y", 1L, 20L), ("z", 1L, 40L)))
    // A SECOND moved side (fact append on top of the dim append):
    // served by the disjoint decomposition — ΔF ⋈ dim₁ (current dim,
    // absorbing the ΔF⋈ΔD cross tuples) ⊎ F₀ ⋈ ΔD (fact pinned at v0
    // so nothing lands twice). Both base tables appear TWICE in the
    // plan: once per delta branch role.
    spark.sql("INSERT INTO graft.mvda.fact VALUES (3, 100)")
    val both = spark.sql(q)
    val bs = scans(both)
    assert(bs.contains("agg"),
      s"two append-only moved sides must still be MV-served, scans: $bs")
    assert(bs.count(_ == "fact") >= 2 && bs.count(_ == "dim") >= 2,
      s"both delta branches must be present (ΔF⋈dim₁ and F₀⋈ΔD), scans: $bs")
    assert(both.collect().toSeq.sortBy(_.getString(0))
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))) ==
      Seq(("x", 3L, 115L), ("y", 1L, 20L), ("z", 1L, 40L)))
    // Eq deletes on ONE of the two moved sides (a fact upsert on top
    // of the moved dim): still served — the eq side orders FIRST so
    // the retraction branch (K ⋈ current dim) applies verbatim and
    // the dim's Δ term pins the fact at v0.
    Seq((2L, 21L)).toDF("ck", "amt").writeTo("graft.mvda.fact")
      .option("graft.upsert.keys", "ck").append()
    val eq2 = spark.sql(q)
    assert(scans(eq2).contains("agg"),
      s"eq-on-one-of-two-moved must still serve, scans: ${scans(eq2)}")
    assert(eq2.collect().toSeq.sortBy(_.getString(0))
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))) ==
      Seq(("x", 3L, 115L), ("y", 1L, 21L), ("z", 1L, 40L)))
    // Eq deletes on BOTH moved sides do decline.
    Seq((3L, "w")).toDF("dk", "seg").writeTo("graft.mvda.dim")
      .option("graft.upsert.keys", "dk").append()
    val eqBoth = spark.sql(q)
    assert(!scans(eqBoth).contains("agg"),
      s"eq deletes on both moved sides must decline, scans: ${scans(eqBoth)}")
    assert(eqBoth.collect().toSeq.sortBy(_.getString(0))
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))) ==
      Seq(("w", 2L, 105L), ("x", 1L, 10L), ("y", 1L, 21L), ("z", 1L, 40L)))
    // Refresh repairs; the fresh path takes over again.
    val (mode, _, _) = call("CALL graft.system.refresh_mv('mvda', 'agg')")
    assert(mode == "incremental" || mode == "full")
    assert(scans(spark.sql(q)).contains("agg"))
    spark.sql("DROP TABLE graft.mvda.agg")
    spark.sql("DROP TABLE graft.mvda.dim")
    spark.sql("DROP TABLE graft.mvda.fact")
  }

  test("stale snowflake MV: TWO moved sides served via the disjoint decomposition; three decline") {
    def scans(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.relation.identifier.map(_.name).getOrElse("")
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
          r.identifier.map(_.name).getOrElse("")
      }
    Seq("fact", "cust", "nat", "agg")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS graft.mvs2.$t"))
    spark.sql("CREATE TABLE graft.mvs2.fact (ck BIGINT, amt BIGINT) USING graft")
    spark.sql("CREATE TABLE graft.mvs2.cust (cck BIGINT, cnk BIGINT) USING graft")
    spark.sql("CREATE TABLE graft.mvs2.nat (nk BIGINT, nname STRING) USING graft")
    // fact row ck=5 DANGLES at materialization (its cust arrives late):
    // the second delta term Δcust ⋈ F₀ must pick it up — and ONLY from
    // the v0-pinned fact, or the ΔF row would double-count.
    spark.sql("INSERT INTO graft.mvs2.fact VALUES (1, 10), (2, 20), (5, 50)")
    spark.sql("INSERT INTO graft.mvs2.cust VALUES (1, 100), (2, 200)")
    spark.sql("INSERT INTO graft.mvs2.nat VALUES (100, 'A'), (200, 'B'), (300, 'C')")
    call(
      """CALL graft.system.create_mv('mvs2', 'agg',
        |  'mvs2.fact JOIN mvs2.cust ON ck = cck JOIN mvs2.nat ON cnk = nk',
        |  'nname', 'count(*) AS cnt, sum(amt) AS total')""".stripMargin)
    // TWO sides move (both append-only): a fact append AND a cust
    // append — cust 3 matches the NEW fact row (the ΔF⋈ΔC cross
    // tuple), cust 5 matches the OLD dangling fact row.
    spark.sql("INSERT INTO graft.mvs2.fact VALUES (3, 30)")
    spark.sql("INSERT INTO graft.mvs2.cust VALUES (3, 100), (5, 300)")
    val q = """SELECT nname, count(*) AS c, sum(amt) AS s
              |FROM graft.mvs2.fact JOIN graft.mvs2.cust ON ck = cck
              |JOIN graft.mvs2.nat ON cnk = nk
              |GROUP BY nname""".stripMargin
    val direct = rewriteOff(spark.sql(q).collect().toSeq.sortBy(_.getString(0)))
    val served = spark.sql(q)
    val sc = scans(served)
    assert(sc.contains("agg"),
      s"two moved snowflake sides must be MV-served, scans: $sc")
    assert(sc.count(_ == "fact") >= 2 && sc.count(_ == "cust") >= 2 &&
      sc.count(_ == "nat") >= 2,
      s"both delta branches (ΔF⋈C₁⋈N and F₀⋈ΔC⋈N) must be planned, scans: $sc")
    assert(served.collect().toSeq.sortBy(_.getString(0)) == direct,
      "two-moved-sides rewrite diverged from the direct answer")
    assert(direct.map(r => (r.getString(0), r.getLong(1), r.getLong(2))) ==
      Seq(("A", 2L, 40L), ("B", 1L, 20L), ("C", 1L, 50L)),
      "cross tuple (ΔF⋈ΔC) must count once; dangling row joins via F₀⋈ΔC")
    // A THIRD moved side declines (2^3 expansion is past the gate).
    spark.sql("INSERT INTO graft.mvs2.nat VALUES (400, 'D')")
    val three = spark.sql(q)
    assert(!scans(three).contains("agg"),
      s"three moved sides must decline, scans: ${scans(three)}")
    assert(three.collect().toSeq.sortBy(_.getString(0)) == direct)
    // Refresh repairs; the fresh path takes over.
    val (mode, _, _) = call("CALL graft.system.refresh_mv('mvs2', 'agg')")
    assert(mode == "incremental" || mode == "full")
    assert(scans(spark.sql(q)).contains("agg"))
    Seq("agg", "fact", "cust", "nat")
      .foreach(t => spark.sql(s"DROP TABLE graft.mvs2.$t"))
  }

  test("stale MV under equality deletes: upsert epochs served as MV ⊎ Δ ⊖ killed") {
    def scans(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.relation.identifier.map(_.name).getOrElse("")
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
          r.identifier.map(_.name).getOrElse("")
      }
    spark.sql("DROP TABLE IF EXISTS graft.mvsq.base")
    spark.sql("DROP TABLE IF EXISTS graft.mvsq.agg")
    spark.sql("CREATE TABLE graft.mvsq.base (k BIGINT, g STRING, v BIGINT) USING graft")
    spark.sql(
      "INSERT INTO graft.mvsq.base VALUES (1, 'a', 1), (2, 'a', 2), (3, 'b', 10), (4, 'c', 5)")
    // count(v) rides along: the GLOBAL-retraction sum below is guarded
    // by the net count of its own operand (v nullable ⇒ count(*) is
    // not a sound substitute; decline tested in the ADVICE-r19 spec).
    call(
      """CALL graft.system.create_mv('mvsq', 'agg', 'mvsq.base', 'g',
        |  'count(*) AS cnt, sum(v) AS total, count(v) AS cv')""".stripMargin)
    def upsert(rows: (Long, String, Long)*): Unit =
      rows.toSeq.toDF("k", "g", "v").writeTo("graft.mvsq.base")
        .option("graft.upsert.keys", "k").append()
    val q = "SELECT g, count(*) AS c, sum(v) AS s FROM graft.mvsq.base GROUP BY g"
    def check(expectServed: Boolean): Seq[(String, Long, Long)] = {
      val direct = rewriteOff(spark.sql(q).collect().toSeq.sortBy(_.getString(0)))
      val served = spark.sql(q)
      val s = scans(served)
      assert(s.contains("agg") == expectServed,
        s"MV-served=$expectServed expected, scans: $s")
      assert(served.collect().toSeq.sortBy(_.getString(0)) == direct,
        "eq-delete stale rewrite diverged from the direct answer")
      direct.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    }
    // Epoch 1: key 2 moves a → e. Un-refreshed query must be served as
    // MV ⊎ γ(live Δ) ⊖ γ(killed v0 rows): group a shrinks via the
    // retraction branch, e appears via the delta branch.
    upsert((2L, "e", 9L))
    assert(check(expectServed = true) ==
      Seq(("a", 1L, 1L), ("b", 1L, 10L), ("c", 1L, 5L), ("e", 1L, 9L)))
    // Epoch 2: key 4 moves c → a — group c nets to zero rows and must
    // VANISH (the liveness-count filter), not emit a 0/NULL row.
    upsert((4L, "a", 3L))
    assert(check(expectServed = true) ==
      Seq(("a", 2L, 4L), ("b", 1L, 10L), ("e", 1L, 9L)))
    // Epoch 3: key 2 moves AGAIN (e → f) — the killed row lives in a
    // DELTA segment, so the delta branch's pinned eq filters (not the
    // retraction scan, which only covers v0 rows) must drop it.
    upsert((2L, "f", 11L))
    assert(check(expectServed = true) ==
      Seq(("a", 2L, 4L), ("b", 1L, 10L), ("f", 1L, 11L)))
    // Global aggregate: no grouping → no liveness filter needed; the
    // net counts/sums must still be exact.
    val g = spark.sql("SELECT count(*) AS c, sum(v) AS s FROM graft.mvsq.base")
    assert(scans(g).contains("agg"), s"global must be served, scans: ${scans(g)}")
    assert(g.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((4L, 25L)))
    // min/max cannot be retracted: the query declines to the base but
    // stays correct.
    val mm = spark.sql("SELECT g, min(v) AS lo FROM graft.mvsq.base GROUP BY g")
    assert(!scans(mm).contains("agg"), "min over eq-delete staleness must decline")
    assert(mm.collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sortBy(_._1) ==
      Seq(("a", 1L), ("b", 10L), ("f", 11L)))
    // Refresh repairs; the fresh path takes over.
    val (mode, _, _) = call("CALL graft.system.refresh_mv('mvsq', 'agg')")
    assert(mode == "incremental")
    assert(check(expectServed = true) ==
      Seq(("a", 2L, 4L), ("b", 1L, 10L), ("f", 1L, 11L)))
    spark.sql("DROP TABLE graft.mvsq.agg")
    spark.sql("DROP TABLE graft.mvsq.base")
  }

  test("stale join MV under fact upserts: served as MV ⊎ (Δ⋈dim) ⊖ (killed⋈dim)") {
    def scans(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.relation.identifier.map(_.name).getOrElse("")
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
          r.identifier.map(_.name).getOrElse("")
      }
    spark.sql("DROP TABLE IF EXISTS graft.mvju.fact")
    spark.sql("DROP TABLE IF EXISTS graft.mvju.dim")
    spark.sql("DROP TABLE IF EXISTS graft.mvju.agg")
    spark.sql("CREATE TABLE graft.mvju.fact (id BIGINT, ck BIGINT, amt BIGINT) USING graft")
    spark.sql("CREATE TABLE graft.mvju.dim (dk BIGINT, seg STRING) USING graft")
    spark.sql("INSERT INTO graft.mvju.fact VALUES (1, 10, 100), (2, 10, 50), (3, 20, 7)")
    spark.sql("INSERT INTO graft.mvju.dim VALUES (10, 'x'), (20, 'y'), (30, 'z')")
    call(
      """CALL graft.system.create_mv('mvju', 'agg',
        |  'mvju.fact JOIN mvju.dim ON ck = dk', 'seg',
        |  'count(*) AS cnt, sum(amt) AS total')""".stripMargin)
    def upsert(rows: (Long, Long, Long)*): Unit =
      rows.toSeq.toDF("id", "ck", "amt").writeTo("graft.mvju.fact")
        .option("graft.upsert.keys", "id").append()
    val q = """SELECT seg, count(*) AS c, sum(amt) AS s
              |FROM graft.mvju.fact JOIN graft.mvju.dim ON ck = dk
              |GROUP BY seg""".stripMargin
    def check(expectServed: Boolean): Seq[(String, Long, Long)] = {
      val direct = rewriteOff(spark.sql(q).collect().toSeq.sortBy(_.getString(0)))
      val served = spark.sql(q)
      assert(scans(served).contains("agg") == expectServed,
        s"MV-served=$expectServed expected, scans: ${scans(served)}")
      assert(served.collect().toSeq.sortBy(_.getString(0)) == direct,
        "join retraction rewrite diverged from the direct answer")
      direct.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    }
    // Fact upsert epoch, NO refresh: row 2 moves dim x → y. The killed
    // (2,10,50) tuple must subtract from x through the retraction
    // branch joined against a FRESH dim copy.
    upsert((2L, 20L, 60L))
    assert(check(expectServed = true) == Seq(("x", 1L, 100L), ("y", 2L, 67L)))
    // Second epoch kills a DELTA row's predecessor AND vanishes group
    // y entirely (rows 2 and 3 both end at dim 10).
    upsert((2L, 10L, 61L), (3L, 10L, 8L))
    assert(check(expectServed = true) == Seq(("x", 3L, 169L)),
      "group y must vanish through the liveness filter")
    // min/max cannot retract: decline, still correct.
    val mm = spark.sql(
      """SELECT seg, min(amt) AS lo FROM graft.mvju.fact JOIN graft.mvju.dim ON ck = dk
        |GROUP BY seg""".stripMargin)
    assert(!scans(mm).contains("agg"), "min over upsert-stale join MV must decline")
    // A second moved side (dim append on top of the fact upserts):
    // since r19 this SERVES — the retraction branch joins K against
    // the CURRENT dim (covering K⋈ΔD) and the ΔD term pins the fact
    // at v0, so the mixed upsert+append staleness stays exact. A dim
    // member adopting a killed fact row's key exercises both.
    spark.sql("INSERT INTO graft.mvju.dim VALUES (40, 'w')")
    assert(check(expectServed = true) == Seq(("x", 3L, 169L)))
    // ... and a dim append that ADOPTS dangling + killed fact keys.
    upsert((4L, 50L, 9L)) // fact row pointing at a not-yet-existing dim
    spark.sql("INSERT INTO graft.mvju.dim VALUES (50, 'v')")
    assert(check(expectServed = true) == Seq(("v", 1L, 9L), ("x", 3L, 169L)))
    // Refresh repairs; fresh path serves again.
    val (mode, _, _) = call("CALL graft.system.refresh_mv('mvju', 'agg')")
    assert(mode == "incremental" || mode == "full")
    assert(check(expectServed = true) == Seq(("v", 1L, 9L), ("x", 3L, 169L)))
    spark.sql("DROP TABLE graft.mvju.agg")
    spark.sql("DROP TABLE graft.mvju.dim")
    spark.sql("DROP TABLE graft.mvju.fact")
  }

  test("retraction soak: random upsert epochs, every un-refreshed read exact") {
    // Adversarial differential for the eq-delete stale rewrite: a
    // seeded random sequence of upsert epochs (keys recur, groups
    // churn, some epochs pure-insert, some kill delta rows from
    // earlier epochs, some vanish whole groups), querying after EVERY
    // epoch with NO refresh — each answer must equal the rewrite-off
    // direct aggregate, and the plan must stay MV-served until the
    // key-cap or admissibility gates say otherwise.
    def scans(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.relation.identifier.map(_.name).getOrElse("")
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
          r.identifier.map(_.name).getOrElse("")
      }
    for (seed <- Seq(7, 23)) {
      val rnd = new scala.util.Random(seed)
      spark.sql("DROP TABLE IF EXISTS graft.mvrs.base")
      spark.sql("DROP TABLE IF EXISTS graft.mvrs.agg")
      spark.sql("CREATE TABLE graft.mvrs.base (k BIGINT, g STRING, v BIGINT) USING graft")
      val init = (1 to 30).map(k =>
        (k.toLong, s"g${rnd.nextInt(6)}", rnd.nextInt(100).toLong))
      init.toDF("k", "g", "v").writeTo("graft.mvrs.base").append()
      call("CALL graft.system.create_mv('mvrs', 'agg', 'mvrs.base', 'g', 'count(*) AS cnt, sum(v) AS total')")
      val q = "SELECT g, count(*) AS c, sum(v) AS s FROM graft.mvrs.base GROUP BY g"
      for (epoch <- 1 to 5) {
        val n = 1 + rnd.nextInt(5)
        val rows = (1 to n).map { _ =>
          // ~70% updates of existing keys (group moves), ~30% inserts.
          val k = if (rnd.nextInt(10) < 7) 1L + rnd.nextInt(30)
                  else 100L + epoch * 10 + rnd.nextInt(10)
          (k, s"g${rnd.nextInt(6)}", rnd.nextInt(100).toLong)
        }.groupBy(_._1).values.map(_.last).toSeq // upserts are key-unique per batch
        rows.toDF("k", "g", "v").writeTo("graft.mvrs.base")
          .option("graft.upsert.keys", "k").append()
        val direct = rewriteOff(spark.sql(q).collect().toSeq.sortBy(_.getString(0)))
        val served = spark.sql(q)
        assert(scans(served).contains("agg"),
          s"seed $seed epoch $epoch: retraction path must serve, scans: ${scans(served)}")
        assert(served.collect().toSeq.sortBy(_.getString(0)) == direct,
          s"seed $seed epoch $epoch: retraction answer diverged")
        // The global aggregate must track too (no liveness filter).
        val g0 = spark.sql("SELECT count(*) AS c, sum(v) AS s FROM graft.mvrs.base")
        val g0d = rewriteOff {
          spark.sql("SELECT count(*) AS c, sum(v) AS s FROM graft.mvrs.base").collect().toSeq
        }
        assert(g0.collect().toSeq == g0d, s"seed $seed epoch $epoch: global diverged")
      }
      // A refresh mid-stream resets the baseline; the fresh path takes
      // over and the MV equals the from-scratch aggregate.
      val (mode, _, _) = call("CALL graft.system.refresh_mv('mvrs', 'agg')")
      assert(mode == "incremental", s"seed $seed: refresh mode $mode")
      val direct = rewriteOff(spark.sql(q).collect().toSeq.sortBy(_.getString(0)))
      assert(spark.sql("SELECT g, cnt AS c, total AS s FROM graft.mvrs.agg")
        .collect().toSeq.sortBy(_.getString(0)) == direct,
        s"seed $seed: refreshed MV diverged from the from-scratch aggregate")
      spark.sql("DROP TABLE graft.mvrs.agg")
      spark.sql("DROP TABLE graft.mvrs.base")
    }
  }

  test("grouping-sets navigation: rollup/cube/grouping sets are served from the MV grain") {
    def scans(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.relation.identifier.map(_.name).getOrElse("")
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
          r.identifier.map(_.name).getOrElse("")
      }
    spark.sql("DROP TABLE IF EXISTS graft.mvgs.base")
    spark.sql("DROP TABLE IF EXISTS graft.mvgs.agg")
    spark.sql("CREATE TABLE graft.mvgs.base (a STRING, b STRING, v BIGINT) USING graft")
    spark.sql(
      """INSERT INTO graft.mvgs.base VALUES
        |  ('x', 'p', 1), ('x', 'p', 2), ('x', 'q', 10), ('y', 'p', 5), ('y', 'q', 7)""".stripMargin)
    call(
      """CALL graft.system.create_mv('mvgs', 'agg', 'mvgs.base', 'a,b',
        |  'count(*) AS cnt, sum(v) AS total, min(v) AS lo, max(v) AS hi')""".stripMargin)
    def check(q: String): Unit = {
      val direct = rewriteOff(spark.sql(q).collect().toSeq)
      val served = spark.sql(q)
      val s = scans(served)
      assert(s.contains("agg"), s"grouping-sets query must be MV-served, scans: $s ($q)")
      assert(!s.contains("base"), s"MV-served plan must not read the base, scans: $s ($q)")
      assert(served.collect().toSeq == direct, s"MV-served rollup diverged ($q)")
    }
    check(
      """SELECT a, b, count(*) AS c, sum(v) AS s, min(v) AS lo, max(v) AS hi
        |FROM graft.mvgs.base GROUP BY ROLLUP(a, b)
        |ORDER BY a NULLS FIRST, b NULLS FIRST""".stripMargin)
    check(
      """SELECT a, b, count(*) AS c, sum(v) AS s
        |FROM graft.mvgs.base GROUP BY CUBE(a, b)
        |ORDER BY a NULLS FIRST, b NULLS FIRST""".stripMargin)
    check(
      """SELECT a, b, grouping(a) AS ga, grouping_id() AS gid, sum(v) AS s
        |FROM graft.mvgs.base GROUP BY GROUPING SETS ((a), (b), ())
        |ORDER BY a NULLS FIRST, b NULLS FIRST""".stripMargin)
    // A WHERE over a group column commutes with Expand and the MV.
    check(
      """SELECT a, b, count(*) AS c, sum(v) AS s
        |FROM graft.mvgs.base WHERE a = 'x' GROUP BY ROLLUP(a, b)
        |ORDER BY a NULLS FIRST, b NULLS FIRST""".stripMargin)
    // Negatives: a non-derivable aggregate, a non-group WHERE — base scan.
    for (q <- Seq(
      "SELECT a, avg(v) AS m FROM graft.mvgs.base GROUP BY ROLLUP(a)",
      "SELECT a, b, sum(v) AS s FROM graft.mvgs.base WHERE v > 1 GROUP BY ROLLUP(a, b)")) {
      val s = scans(spark.sql(q))
      assert(!s.contains("agg") && s.contains("base"),
        s"non-derivable grouping-sets query must read the base, scans: $s ($q)")
    }
    spark.sql("DROP TABLE graft.mvgs.agg")
    spark.sql("DROP TABLE graft.mvgs.base")

    // JOIN-MV flavor: a rollup over fact ⋈ dim is served from the
    // star's rollup MV — one MV scan replaces the whole join.
    spark.sql("DROP TABLE IF EXISTS graft.mvgs.fact")
    spark.sql("DROP TABLE IF EXISTS graft.mvgs.dim")
    spark.sql("DROP TABLE IF EXISTS graft.mvgs.jagg")
    spark.sql("CREATE TABLE graft.mvgs.fact (ck BIGINT, st STRING, amt BIGINT) USING graft")
    spark.sql("CREATE TABLE graft.mvgs.dim (dk BIGINT, seg STRING) USING graft")
    spark.sql(
      "INSERT INTO graft.mvgs.fact VALUES (1, 'F', 10), (1, 'O', 2), (2, 'F', 20), (3, 'F', 5)")
    spark.sql("INSERT INTO graft.mvgs.dim VALUES (1, 'x'), (2, 'y'), (3, 'x')")
    call(
      """CALL graft.system.create_mv('mvgs', 'jagg',
        |  'mvgs.fact JOIN mvgs.dim ON ck = dk', 'seg,st',
        |  'count(*) AS cnt, sum(amt) AS total')""".stripMargin)
    val jq =
      """SELECT seg, st, count(*) AS c, sum(amt) AS s
        |FROM graft.mvgs.fact JOIN graft.mvgs.dim ON ck = dk
        |GROUP BY ROLLUP(seg, st)
        |ORDER BY seg NULLS FIRST, st NULLS FIRST""".stripMargin
    val jdirect = rewriteOff(spark.sql(jq).collect().toSeq)
    val jserved = spark.sql(jq)
    val js = scans(jserved)
    assert(js.contains("jagg") && !js.contains("fact") && !js.contains("dim"),
      s"rollup over the star must be served from the join MV alone, scans: $js")
    assert(jserved.collect().toSeq == jdirect)
    // A stale side declines (freshness gate is per side).
    spark.sql("INSERT INTO graft.mvgs.dim VALUES (4, 'z')")
    assert(!scans(spark.sql(jq)).contains("jagg"),
      "a stale dim must decline grouping-sets join-MV navigation")
    spark.sql("DROP TABLE graft.mvgs.jagg")
    spark.sql("DROP TABLE graft.mvgs.dim")
    spark.sql("DROP TABLE graft.mvgs.fact")
  }

  test("grouping-sets differential: random data, random lattice queries, MV-served ≡ direct") {
    // Seeded random corpus + the full lattice-query family (rollup,
    // cube, explicit GROUPING SETS with duplicates-by-gid, grouping_id
    // projections, coarser-than-grain rollups) — every MV-served
    // answer must equal the rewrite-off direct one. Catches per-set
    // null-matrix mistakes, gid mismapping, and merge-form errors the
    // fixture test's tidy values could mask.
    def scans(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.relation.identifier.map(_.name).getOrElse("")
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
          r.identifier.map(_.name).getOrElse("")
      }
    val rnd = new scala.util.Random(42)
    spark.sql("DROP TABLE IF EXISTS graft.mvgd.base")
    spark.sql("DROP TABLE IF EXISTS graft.mvgd.agg")
    spark.sql("CREATE TABLE graft.mvgd.base (a STRING, b STRING, v BIGINT) USING graft")
    // NULL group keys included — rollup must distinguish data-NULL
    // from subtotal-NULL via the gid, exactly what the rebuilt Expand
    // must preserve.
    val rows = (1 to 200).map { _ =>
      (if (rnd.nextInt(10) == 0) null else s"a${rnd.nextInt(4)}",
        if (rnd.nextInt(10) == 0) null else s"b${rnd.nextInt(3)}",
        rnd.nextInt(1000).toLong)
    }
    rows.toDF("a", "b", "v").writeTo("graft.mvgd.base").append()
    call(
      """CALL graft.system.create_mv('mvgd', 'agg', 'mvgd.base', 'a,b',
        |  'count(*) AS cnt, sum(v) AS total, min(v) AS lo, max(v) AS hi')""".stripMargin)
    val lattice = Seq(
      """SELECT a, b, count(*) AS c, sum(v) AS s, min(v) AS lo, max(v) AS hi
        |FROM graft.mvgd.base GROUP BY ROLLUP(a, b)""".stripMargin,
      """SELECT a, b, count(*) AS c, sum(v) AS s
        |FROM graft.mvgd.base GROUP BY CUBE(a, b)""".stripMargin,
      """SELECT a, b, grouping(a) AS ga, grouping(b) AS gb, grouping_id() AS gid,
        |  sum(v) AS s
        |FROM graft.mvgd.base GROUP BY GROUPING SETS ((a, b), (a), (b), (), (a))""".stripMargin,
      """SELECT a, sum(v) AS s, max(v) AS hi
        |FROM graft.mvgd.base GROUP BY ROLLUP(a)""".stripMargin,
      """SELECT b, a, count(*) AS c
        |FROM graft.mvgd.base WHERE a IS NOT NULL GROUP BY CUBE(b, a)""".stripMargin)
    for (q <- lattice) {
      val direct = rewriteOff(spark.sql(q).collect().map(_.toString).sorted.toSeq)
      val served = spark.sql(q)
      val s = scans(served)
      assert(s.contains("agg") && !s.contains("base"),
        s"lattice query must be MV-served, scans: $s ($q)")
      assert(served.collect().map(_.toString).sorted.toSeq == direct,
        s"grouping-sets differential diverged ($q)")
    }
    spark.sql("DROP TABLE graft.mvgd.agg")
    spark.sql("DROP TABLE graft.mvgd.base")
  }

  test("transparent MV rewrite: matching aggregate reads the fresh MV, gates respected") {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    def scannedTables(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.relation.identifier.map(_.toString).getOrElse("")
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
          r.identifier.map(_.toString).getOrElse("")
      }
    def hasAgg(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.exists(_.isInstanceOf[Aggregate])
    spark.sql("DROP TABLE IF EXISTS graft.mvr.base")
    spark.sql("DROP TABLE IF EXISTS graft.mvr.agg")
    spark.sql("CREATE TABLE graft.mvr.base (g STRING, v BIGINT) USING graft")
    spark.sql("INSERT INTO graft.mvr.base VALUES ('a', 1), ('a', 2), ('b', 10)")
    spark.sql(
      "CALL graft.system.create_mv('mvr', 'agg', 'mvr.base', 'g', 'count(*) AS cnt, sum(v) AS total')")
      .collect()
    val q = "SELECT g, count(*) AS c, sum(v) AS s FROM graft.mvr.base GROUP BY g"
    // Fresh MV + exact match -> the aggregate disappears; the plan
    // scans the MV table instead of the base.
    val rewritten = spark.sql(q)
    assert(!hasAgg(rewritten), "matching aggregate should be answered by the MV")
    assert(scannedTables(rewritten).exists(_.contains("agg")))
    // ...and returns exactly what the un-rewritten aggregate returns.
    val direct = rewriteOff(spark.sql(q).collect().toSeq)
    assert(rewritten.collect().toSeq.sortBy(_.getString(0)) == direct.sortBy(_.getString(0)))
    // count(*) ≡ count(1); column order and aliases immaterial.
    val variant = spark.sql(
      "SELECT sum(v) AS s2, g, count(1) AS c2 FROM graft.mvr.base GROUP BY g")
    assert(!hasAgg(variant))
    // Gate: STALE MV (base changed since refresh) must not rewrite...
    spark.sql("INSERT INTO graft.mvr.base VALUES ('c', 5)")
    assert(hasAgg(spark.sql(q)), "stale MV must not answer the query")
    // ...until a refresh makes it fresh again.
    spark.sql("CALL graft.system.refresh_mv('mvr', 'agg')").collect()
    val afterRefresh = spark.sql(q)
    assert(!hasAgg(afterRefresh))
    assert(afterRefresh.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy(_._1) == Seq(("a", 2L, 3L), ("b", 1L, 10L), ("c", 1L, 5L)))
    // Gate: different aggregate (avg) -> no rewrite.
    assert(hasAgg(spark.sql("SELECT g, avg(v) AS m FROM graft.mvr.base GROUP BY g")))
    // Gate: sum over a DIFFERENT column must not match sum(v).
    assert(hasAgg(spark.sql(
      "SELECT g, count(*) AS c, sum(length(g)) AS s FROM graft.mvr.base GROUP BY g")))
    // Gate: a WHERE on a NON-group column -> no rewrite (slices rows
    // inside groups, which the MV cannot reproduce).
    assert(hasAgg(spark.sql(
      "SELECT g, count(*) AS c FROM graft.mvr.base WHERE v > 1 GROUP BY g")))
    // ...but a WHERE on a GROUP column commutes: served from the MV
    // with the slice remapped onto the MV scan.
    val sliced = spark.sql(
      "SELECT g, count(*) AS c, sum(v) AS s FROM graft.mvr.base WHERE g = 'a' GROUP BY g")
    assert(!hasAgg(sliced), "group-column WHERE must still be MV-served")
    assert(sliced.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      == Seq(("a", 2L, 3L)))
    // Gate: different grouping -> no rewrite. (Not the global-agg
    // shape: an ungrouped count is answered by the scan's own COUNT
    // pushdown, legitimately leaving no Aggregate either way.)
    assert(hasAgg(spark.sql(
      "SELECT g, v, count(*) AS c FROM graft.mvr.base GROUP BY g, v")))
    // Parent operators above the rewritten aggregate stay intact.
    val ordered = spark.sql(q + " HAVING count(*) > 1 ORDER BY g")
    assert(!hasAgg(ordered))
    assert(ordered.collect().map(_.getString(0)).toSeq == Seq("a"))
    spark.sql("DROP TABLE graft.mvr.agg")
    spark.sql("DROP TABLE graft.mvr.base")
  }

  test("rollup navigation: coarser grouping re-aggregates the MV, never the base") {
    def plan(df: org.apache.spark.sql.DataFrame) = df.queryExecution.optimizedPlan
    def scans(df: org.apache.spark.sql.DataFrame): Seq[String] =
      plan(df).collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.relation.identifier.map(_.toString).getOrElse("")
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
          r.identifier.map(_.toString).getOrElse("")
      }
    spark.sql("DROP TABLE IF EXISTS graft.roll.base")
    spark.sql("DROP TABLE IF EXISTS graft.roll.agg")
    spark.sql("CREATE TABLE graft.roll.base (r STRING, p STRING, v BIGINT) USING graft")
    spark.sql(
      """INSERT INTO graft.roll.base VALUES
        |  ('eu', 'a', 1), ('eu', 'a', 2), ('eu', 'b', 10), ('us', 'a', 5), ('us', 'c', 7)""".stripMargin)
    spark.sql(
      """CALL graft.system.create_mv('roll', 'agg', 'roll.base', 'r,p',
        |  'count(*) AS cnt, sum(v) AS total, min(v) AS lo, max(v) AS hi')""".stripMargin)
      .collect()
    // Coarser grain (by r only): derivable -> re-aggregate the MV.
    val q = """SELECT r, count(*) AS c, sum(v) AS s, min(v) AS lo, max(v) AS hi
              |FROM graft.roll.base GROUP BY r""".stripMargin
    val rolled = spark.sql(q)
    assert(scans(rolled).exists(_.contains("agg")) && !scans(rolled).exists(_.contains("base")),
      s"rollup must read the MV, scanned: ${scans(rolled)}")
    val direct = rewriteOff(spark.sql(q).collect().toSeq.sortBy(_.getString(0)))
    assert(rolled.collect().toSeq.sortBy(_.getString(0)) == direct)
    assert(direct.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      == Seq(("eu", 3L, 13L, 1L, 10L), ("us", 2L, 12L, 5L, 7L)))
    // Global aggregate: the coarsest rollup of all.
    val global = spark.sql("SELECT count(*) AS c, sum(v) AS s FROM graft.roll.base")
    assert(scans(global).exists(_.contains("agg")) && !scans(global).exists(_.contains("base")))
    assert(global.collect().head.getLong(0) == 5L && global.collect().head.getLong(1) == 25L)
    // WHERE on an MV group column that the query does NOT group by:
    // commutes (MV rows partition by (r, p)), so the sliced rollup is
    // still MV-served with the filter remapped onto the MV scan.
    val slicedRoll = spark.sql(
      "SELECT r, sum(v) AS s FROM graft.roll.base WHERE p = 'a' GROUP BY r")
    assert(scans(slicedRoll).exists(_.contains("agg")) &&
      !scans(slicedRoll).exists(_.contains("base")))
    assert(slicedRoll.collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sortBy(_._1)
      == Seq(("eu", 3L), ("us", 5L)))
    // Decimal-cast aggregate (the x9_mv_rollup oracle shape): the
    // re-sum widens precision and must cast back — still MV-served.
    spark.sql("DROP TABLE IF EXISTS graft.roll.dagg")
    spark.sql(
      """CALL graft.system.create_mv('roll', 'dagg', 'roll.base', 'r,p',
        |  'count(*) AS cnt, sum(CAST(v AS DECIMAL(18,2))) AS dt')""".stripMargin).collect()
    val decQ = spark.sql(
      """SELECT r, count(*) AS c, sum(CAST(v AS DECIMAL(18,2))) AS s
        |FROM graft.roll.base GROUP BY r""".stripMargin)
    assert(scans(decQ).exists(_.contains("dagg")) && !scans(decQ).exists(_.contains("base")),
      s"decimal rollup must be MV-served, scanned ${scans(decQ)}")
    assert(decQ.collect().map(r => (r.getString(0), r.getLong(1), r.getDecimal(2).doubleValue()))
      .toSeq.sortBy(_._1) == Seq(("eu", 3L, 13.0), ("us", 2L, 12.0)))
    spark.sql("DROP TABLE graft.roll.dagg")
    // Gates: avg is not rollup-derivable; count(DISTINCT) never is.
    val avgQ = spark.sql("SELECT r, avg(v) AS m FROM graft.roll.base GROUP BY r")
    assert(scans(avgQ).exists(_.contains("base")))
    val cdQ = spark.sql("SELECT r, count(DISTINCT v) AS d FROM graft.roll.base GROUP BY r")
    assert(scans(cdQ).exists(_.contains("base")))
    spark.sql("DROP TABLE graft.roll.agg")
    spark.sql("DROP TABLE graft.roll.base")
  }

  test("MV rewrite composes with V2 views: aggregating through a view is MV-served") {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    def scans(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.relation.identifier.map(_.toString).getOrElse("")
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
          r.identifier.map(_.toString).getOrElse("")
      }
    spark.sql("DROP VIEW IF EXISTS graft.mvv.v")
    spark.sql("DROP TABLE IF EXISTS graft.mvv.base")
    spark.sql("DROP TABLE IF EXISTS graft.mvv.agg")
    spark.sql("CREATE TABLE graft.mvv.base (g STRING, v BIGINT) USING graft")
    spark.sql("INSERT INTO graft.mvv.base VALUES ('a', 1), ('a', 2), ('b', 10)")
    spark.sql(
      "CALL graft.system.create_mv('mvv', 'agg', 'mvv.base', 'g', 'count(*) AS cnt, sum(v) AS total')")
      .collect()
    // A SELECT * view expands to a pass-through projection over the
    // base relation — transparent to the rewrite.
    spark.sql("CREATE VIEW graft.mvv.v AS SELECT * FROM graft.mvv.base")
    val q = spark.sql(
      "SELECT g, count(*) AS c, sum(v) AS s FROM graft.mvv.v GROUP BY g")
    assert(!q.queryExecution.optimizedPlan.exists(_.isInstanceOf[Aggregate]),
      "aggregate through the view should be answered by the MV")
    assert(scans(q).exists(_.contains("agg")) && !scans(q).exists(_.contains("base")))
    assert(q.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sortBy(_._1)
      == Seq(("a", 2L, 3L), ("b", 1L, 10L)))
    spark.sql("DROP VIEW graft.mvv.v")
    spark.sql("DROP TABLE graft.mvv.agg")
    spark.sql("DROP TABLE graft.mvv.base")
  }

  test("stale-delta rewrite: append-only staleness is served as MV ⊎ delta, reading only the delta segments") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    spark.sql("DROP TABLE IF EXISTS graft.sd.base")
    spark.sql("DROP TABLE IF EXISTS graft.sd.agg")
    spark.sql("CREATE TABLE graft.sd.base (g STRING, v BIGINT) USING graft")
    spark.sql("INSERT INTO graft.sd.base VALUES ('a', 1), ('a', 2), ('b', 10)")
    spark.sql(
      "CALL graft.system.create_mv('sd', 'agg', 'sd.base', 'g', 'count(*) AS cnt, sum(v) AS total')")
      .collect()
    val segsAtMv = graft.sources.GraftCatalog.segmentCount("sd", "base")
    // Append WITHOUT refreshing: touches existing group b, adds group c.
    spark.sql("INSERT INTO graft.sd.base VALUES ('b', 20), ('c', 5)")
    val totalSegs = graft.sources.GraftCatalog.segmentCount("sd", "base")
    val deltaSegs = totalSegs - segsAtMv
    assert(deltaSegs > 0 && segsAtMv > 0)
    val q = "SELECT g, count(*) AS c, sum(v) AS s FROM graft.sd.base GROUP BY g"
    val direct = rewriteOff(spark.sql(q).collect().toSeq.sortBy(_.getString(0)))
    SessionConf.withConfs(spark)("spark.sql.adaptive.enabled" -> "false") {
      val df = spark.sql(q)
      val scans = df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
      val mvScan = scans.filter(_.output.exists(_.name == "cnt"))
      val baseScan = scans.filter(_.output.exists(_.name == "v"))
      assert(mvScan.nonEmpty, s"stale-delta plan must read the MV, scans: $scans")
      assert(baseScan.nonEmpty, "stale-delta plan must read the delta")
      // The load-bearing claim: the base-side scan plans ONLY the
      // segments appended after the MV's version — never the full base.
      assert(baseScan.head.inputPartitions.length == deltaSegs,
        s"delta scan must plan $deltaSegs appended segment(s), " +
          s"planned ${baseScan.head.inputPartitions.length} of $totalSegs total")
      assert(df.collect().toSeq.sortBy(_.getString(0)) == direct)
      assert(direct.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        == Seq(("a", 2L, 3L), ("b", 2L, 30L), ("c", 1L, 5L)))
      // Coarser grain (global) and a group-column WHERE ride the same path.
      val global = spark.sql("SELECT count(*) AS c, sum(v) AS s FROM graft.sd.base")
      assert(global.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
        .exists(_.output.exists(_.name == "cnt")), "global rollup must be MV⊎delta-served")
      assert(global.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((5L, 38L)))
      val sliced = spark.sql(
        "SELECT g, sum(v) AS s FROM graft.sd.base WHERE g = 'b' GROUP BY g")
      assert(sliced.collect().map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("b", 30L)))
      // avg is not merge-derivable: full base scan, still correct.
      val avgQ = spark.sql("SELECT g, avg(v) AS m FROM graft.sd.base GROUP BY g")
      assert(!avgQ.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
        .exists(_.output.exists(_.name == "cnt")))
      // Refresh-in-flight flag closes the double-count window: the
      // stale path must decline while it is up.
      graft.sources.GraftCatalog.patchTablePropsForTest(
        "sd", "agg", Map("graft.mv.refreshing" -> "true"))
      val gated = spark.sql(q)
      val gatedBase = gated.queryExecution.executedPlan
        .collect { case b: BatchScanExec => b }.filter(_.output.exists(_.name == "v"))
      assert(gatedBase.nonEmpty && gatedBase.head.inputPartitions.length == totalSegs,
        "refresh-in-flight must gate to a full base scan")
      // A real refresh clears the flag (atomically with its version
      // bump) and the FRESH path takes over.
      val (mode, _, _) = call("CALL graft.system.refresh_mv('sd', 'agg')")
      assert(mode == "incremental")
      assert(!spark.sql(s"SHOW TBLPROPERTIES graft.sd.agg")
        .as[(String, String)].collect().toMap.contains("graft.mv.refreshing"))
      assert(spark.sql(q).collect().toSeq.sortBy(_.getString(0)) == direct)
      // A NON-append commit (DELETE flips a deletion vector) kills the
      // stale path: back to the base, still correct.
      spark.sql("INSERT INTO graft.sd.base VALUES ('c', 7)")
      spark.sql("DELETE FROM graft.sd.base WHERE g = 'a' AND v = 1")
      val afterDml = spark.sql(q)
      assert(!afterDml.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
        .exists(_.output.exists(_.name == "cnt")),
        "non-append history must not be stale-delta-served")
      assert(afterDml.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSeq.sortBy(_._1) == Seq(("a", 1L, 2L), ("b", 2L, 30L), ("c", 2L, 12L)))
    }
    spark.sql("DROP TABLE graft.sd.agg")
    spark.sql("DROP TABLE graft.sd.base")
  }

  test("time-travel aggregates are never MV-served (fresh or stale)") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    spark.sql("DROP TABLE IF EXISTS graft.tt2.base")
    spark.sql("DROP TABLE IF EXISTS graft.tt2.agg")
    spark.sql("CREATE TABLE graft.tt2.base (g STRING, v BIGINT) USING graft")
    spark.sql("INSERT INTO graft.tt2.base VALUES ('a', 1), ('b', 2)")
    val v0 = graft.sources.GraftCatalog.currentVersion("tt2", "base").get
    spark.sql("INSERT INTO graft.tt2.base VALUES ('a', 10), ('c', 3)")
    // MV is FRESH at the current version; the versioned aggregate asks
    // about v0 and must NOT be answered from it.
    spark.sql(
      "CALL graft.system.create_mv('tt2', 'agg', 'tt2.base', 'g', 'count(*) AS cnt, sum(v) AS total')")
      .collect()
    val old = spark.sql(
      s"SELECT g, count(*) AS c, sum(v) AS s FROM graft.tt2.base VERSION AS OF $v0 GROUP BY g")
    assert(!old.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
      .exists(_.output.exists(_.name == "cnt")),
      "VERSION AS OF aggregate must scan the pinned snapshot, not the MV")
    assert(old.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sortBy(_._1)
      == Seq(("a", 1L, 1L), ("b", 1L, 2L)))
    // DISTINCT shape (no aggregate functions) through time travel: the
    // exact-match path must decline identically.
    val oldDistinct = spark.sql(
      s"SELECT DISTINCT g FROM graft.tt2.base VERSION AS OF $v0")
    assert(oldDistinct.collect().map(_.getString(0)).toSeq.sorted == Seq("a", "b"))
    spark.sql("DROP TABLE graft.tt2.agg")
    spark.sql("DROP TABLE graft.tt2.base")
  }

  test("concurrent refreshes of one MV serialize and converge") {
    spark.sql("DROP TABLE IF EXISTS graft.mvc.base")
    spark.sql("DROP TABLE IF EXISTS graft.mvc.agg")
    spark.sql("CREATE TABLE graft.mvc.base (g STRING, v BIGINT) USING graft")
    spark.sql("INSERT INTO graft.mvc.base VALUES ('a', 1), ('b', 2)")
    spark.sql(
      "CALL graft.system.create_mv('mvc', 'agg', 'mvc.base', 'g', 'count(*) AS cnt, sum(v) AS total')")
      .collect()
    spark.sql("INSERT INTO graft.mvc.base VALUES ('a', 10), ('c', 3)")
    // Two racing refreshes: the per-MV lock forces them sequential, so
    // whichever runs second sees the first's version bump (noop) or a
    // fresh diff — never a stale MERGE over a newer one.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val runs = Seq(
      Future(spark.sql("CALL graft.system.refresh_mv('mvc', 'agg')").collect()),
      Future(spark.sql("CALL graft.system.refresh_mv('mvc', 'agg')").collect()))
    runs.foreach(Await.result(_, 120.seconds))
    // Rewrite OFF for the reference aggregate — otherwise it would be
    // served from the MV and the comparison would be circular.
    val direct = rewriteOff {
      spark.sql(
        "SELECT g, count(*) AS cnt, sum(v) AS total FROM graft.mvc.base GROUP BY g ORDER BY g")
        .collect().toSeq
    }
    // Compare through a rewrite-free read of the MV table itself.
    val mv = spark.sql("SELECT g, cnt, total FROM graft.mvc.agg ORDER BY g").collect().toSeq
    assert(mv == direct)
    val (mode, g2) = spark.sql("CALL graft.system.refresh_mv('mvc', 'agg')")
      .select("mode", "groups").as[(String, Long)].head()
    assert(mode == "noop" && g2 == 0)
    spark.sql("DROP TABLE graft.mvc.agg")
    spark.sql("DROP TABLE graft.mvc.base")
  }

  test("global count rollup over an empty slice returns 0, never NULL") {
    def scans(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.relation.identifier.map(_.toString).getOrElse("")
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
          r.identifier.map(_.toString).getOrElse("")
      }
    spark.sql("DROP TABLE IF EXISTS graft.mvz.base")
    spark.sql("DROP TABLE IF EXISTS graft.mvz.agg")
    spark.sql("CREATE TABLE graft.mvz.base (g STRING, v BIGINT) USING graft")
    spark.sql("INSERT INTO graft.mvz.base VALUES ('a', 1), ('b', 2)")
    spark.sql("CALL graft.system.create_mv('mvz', 'agg', 'mvz.base', 'g', " +
      "'count(*) AS cnt, sum(v) AS s')").collect()
    // WHERE matching no MV group: Sum(cnt) over ZERO rows is NULL but
    // count semantics demand 0 — the rewrite must coalesce.
    val q = spark.sql("SELECT count(*) AS c FROM graft.mvz.base WHERE g = 'zz'")
    assert(scans(q).exists(_.contains("agg")), s"MV-served, scanned: ${scans(q)}")
    val row = q.collect().head
    assert(!row.isNullAt(0) && row.getLong(0) == 0L,
      s"count over an empty slice is 0, got ${row}")
    // sum keeps SQL semantics: NULL over empty input.
    val s = spark.sql("SELECT sum(v) AS s FROM graft.mvz.base WHERE g = 'zz'")
    assert(s.collect().head.isNullAt(0), "sum over empty input stays NULL")
    spark.sql("DROP TABLE graft.mvz.agg")
    spark.sql("DROP TABLE graft.mvz.base")
  }

  test("FILTER-clause MV aggregates never serve an unfiltered query") {
    def scans(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.relation.identifier.map(_.toString).getOrElse("")
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
          r.identifier.map(_.toString).getOrElse("")
      }
    spark.sql("DROP TABLE IF EXISTS graft.mvf.base")
    spark.sql("DROP TABLE IF EXISTS graft.mvf.agg")
    spark.sql("CREATE TABLE graft.mvf.base (g STRING, x BIGINT, y BIGINT) USING graft")
    spark.sql("INSERT INTO graft.mvf.base VALUES ('a', 1, 1), ('a', 10, -1), ('b', 5, 1)")
    spark.sql("CALL graft.system.create_mv('mvf', 'agg', 'mvf.base', 'g', " +
      "'sum(x) FILTER (WHERE y > 0) AS s')").collect()
    // The unfiltered twin must NOT be answered from the filtered MV —
    // a dropped FILTER in spec binding would key them identically.
    val q = spark.sql("SELECT g, sum(x) AS s FROM graft.mvf.base GROUP BY g")
    assert(!scans(q).exists(_.contains("agg")),
      s"unfiltered sum must not read the filtered MV, scanned: ${scans(q)}")
    val got = q.collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sortBy(_._1)
    assert(got == Seq(("a", 11L), ("b", 5L)), s"got $got")
    // The exactly-matching filtered query MAY be MV-served — and must
    // return the filtered sums either way.
    val f = spark.sql(
      "SELECT g, sum(x) FILTER (WHERE y > 0) AS s FROM graft.mvf.base GROUP BY g")
    val gotF = f.collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sortBy(_._1)
    assert(gotF == Seq(("a", 1L), ("b", 5L)), s"got $gotF")
    spark.sql("DROP TABLE graft.mvf.agg")
    spark.sql("DROP TABLE graft.mvf.base")
  }

  test("splitTop respects string literals and backquoted aliases") {
    import graft.sources.GraftMvOps.splitTop
    assert(splitTop("sum(a) AS x, corr(a,b) AS y") == Seq("sum(a) AS x", "corr(a,b) AS y"))
    assert(splitTop("count_if(c = '(') AS k, sum(x) AS s") ==
      Seq("count_if(c = '(') AS k", "sum(x) AS s"))
    assert(splitTop("sum(x) AS `a,b`, max(y) AS m") ==
      Seq("sum(x) AS `a,b`", "max(y) AS m"))
    assert(splitTop("count_if(c = 'it''s, fine') AS k, min(v) AS lo") ==
      Seq("count_if(c = 'it''s, fine') AS k", "min(v) AS lo"))
  }

  test("reserved marker names refuse as aggregate aliases at create") {
    spark.sql("DROP TABLE IF EXISTS graft.mvr.base")
    spark.sql("CREATE TABLE graft.mvr.base (g STRING, v BIGINT) USING graft")
    spark.sql("INSERT INTO graft.mvr.base VALUES ('a', 1)")
    val e = intercept[Exception] {
      spark.sql("CALL graft.system.create_mv('mvr', 'agg', 'mvr.base', 'g', " +
        "'max(v) AS __graft_mv_present')").collect()
    }
    assert(e.getMessage.contains("__graft_mv_present"), e.getMessage)
    spark.sql("DROP TABLE graft.mvr.base")
  }

  test("filtered MV: incremental refresh applies the WHERE on both diff sides") {
    spark.sql("DROP TABLE IF EXISTS graft.mvw.base")
    spark.sql("DROP TABLE IF EXISTS graft.mvw.agg")
    spark.sql("CREATE TABLE graft.mvw.base (g STRING, s STRING, v BIGINT) USING graft")
    spark.sql(
      """INSERT INTO graft.mvw.base VALUES
        |('a', 'keep', 1), ('a', 'drop', 100), ('b', 'keep', 10), ('c', 'drop', 5)""".stripMargin)
    call("""CALL graft.system.create_mv('mvw', 'agg', 'mvw.base', 'g',
           |  'count(*) AS cnt, sum(v) AS total', 's = ''keep''')""".stripMargin)
    // Only filter-passing rows materialize: c (all 'drop') is absent.
    assert(mvRows("graft.mvw.agg") == Seq(("a", 1L, 1.0), ("b", 1L, 10.0)))
    // Append: b gains a keep row, d gains ONLY a drop row (must not
    // surface), and a DELETE removes a's keep row (group vanishes).
    spark.sql("INSERT INTO graft.mvw.base VALUES ('b', 'keep', 20), ('d', 'drop', 9)")
    spark.sql("DELETE FROM graft.mvw.base WHERE g = 'a' AND s = 'keep'")
    val (mode, _, _) = call("CALL graft.system.refresh_mv('mvw', 'agg')")
    assert(mode == "incremental", s"expected incremental, got $mode")
    assert(mvRows("graft.mvw.agg") == Seq(("b", 2L, 30.0)),
      "filtered refresh must fold only WHERE-passing rows and drop vanished groups")
    spark.sql("DROP TABLE graft.mvw.agg")
    spark.sql("DROP TABLE graft.mvw.base")
  }

  test("filtered MV rewrite: subsumed WHERE is served, missing or weaker WHERE is not") {
    def scans(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.relation.identifier.map(_.toString).getOrElse("")
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
          r.identifier.map(_.toString).getOrElse("")
      }
    spark.sql("DROP TABLE IF EXISTS graft.mvs.base")
    spark.sql("DROP TABLE IF EXISTS graft.mvs.agg")
    spark.sql("CREATE TABLE graft.mvs.base (g STRING, s STRING, v BIGINT) USING graft")
    spark.sql(
      """INSERT INTO graft.mvs.base VALUES
        |('a', 'keep', 1), ('a', 'drop', 100), ('b', 'keep', 10), ('b', 'keep', 20)""".stripMargin)
    spark.sql(
      """CALL graft.system.create_mv('mvs', 'agg', 'mvs.base', 'g',
        |  'count(*) AS cnt, sum(v) AS total', 's = ''keep''')""".stripMargin).collect()
    // Exact subsumption: query WHERE == MV filter → MV-served.
    val hit = spark.sql(
      "SELECT g, count(*) AS c, sum(v) AS t FROM graft.mvs.base WHERE s = 'keep' GROUP BY g")
    assert(scans(hit).exists(_.contains("agg")), s"subsumed query not MV-served: ${scans(hit)}")
    assert(hit.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy(_._1) == Seq(("a", 1L, 1L), ("b", 2L, 30L)))
    // Subsumption + residual group-column predicate → MV-served with
    // the residual on the MV scan.
    val hit2 = spark.sql(
      """SELECT g, count(*) AS c FROM graft.mvs.base
        |WHERE s = 'keep' AND g <> 'a' GROUP BY g""".stripMargin)
    assert(scans(hit2).exists(_.contains("agg")), s"residual query not MV-served: ${scans(hit2)}")
    assert(hit2.collect().map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("b", 2L)))
    // NO WHERE → the MV's input is a strict subset → must NOT serve.
    val miss1 = spark.sql("SELECT g, count(*) AS c FROM graft.mvs.base GROUP BY g")
    assert(!scans(miss1).exists(_.contains("agg")),
      s"unfiltered query wrongly MV-served: ${scans(miss1)}")
    // DIFFERENT predicate on the filter column → not norm-equal → no serve.
    val miss2 = spark.sql(
      "SELECT g, count(*) AS c FROM graft.mvs.base WHERE s = 'drop' GROUP BY g")
    assert(!scans(miss2).exists(_.contains("agg")),
      s"non-matching filter wrongly MV-served: ${scans(miss2)}")
    // Residual on a NON-group column → not commutable → no serve.
    val miss3 = spark.sql(
      "SELECT g, count(*) AS c FROM graft.mvs.base WHERE s = 'keep' AND v > 5 GROUP BY g")
    assert(!scans(miss3).exists(_.contains("agg")),
      s"non-group residual wrongly MV-served: ${scans(miss3)}")
    spark.sql("DROP TABLE graft.mvs.agg")
    spark.sql("DROP TABLE graft.mvs.base")
  }

  test("stale filtered MV: MV branch gets the residual, delta branch the full predicate") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    spark.sql("DROP TABLE IF EXISTS graft.sdf.base")
    spark.sql("DROP TABLE IF EXISTS graft.sdf.agg")
    spark.sql("CREATE TABLE graft.sdf.base (g STRING, s STRING, v BIGINT) USING graft")
    spark.sql(
      """INSERT INTO graft.sdf.base VALUES
        |('a', 'keep', 1), ('a', 'drop', 100), ('b', 'keep', 10)""".stripMargin)
    spark.sql(
      """CALL graft.system.create_mv('sdf', 'agg', 'sdf.base', 'g',
        |  'count(*) AS cnt, sum(v) AS total', 's = ''keep''')""".stripMargin).collect()
    // Append WITHOUT refreshing: a keep row for b, a drop row for c —
    // the delta branch must apply the MV's filter so c never surfaces.
    spark.sql("INSERT INTO graft.sdf.base VALUES ('b', 'keep', 20), ('c', 'drop', 5)")
    val q = "SELECT g, count(*) AS c, sum(v) AS t FROM graft.sdf.base WHERE s = 'keep' GROUP BY g"
    // AQE wraps the plan and hides BatchScanExec until execution —
    // disable it for the plan-shape assertions (the sibling stale test's
    // discipline).
    SessionConf.withConfs(spark)("spark.sql.adaptive.enabled" -> "false") {
      val df = spark.sql(q)
      val scans = df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
      assert(scans.exists(_.output.exists(_.name == "cnt")),
        s"stale filtered query must read the MV, scans: $scans")
      assert(scans.exists(_.output.exists(_.name == "v")),
        "stale filtered query must read the delta")
      assert(df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSeq.sortBy(_._1) == Seq(("a", 1L, 1L), ("b", 2L, 30L)),
        "MV ⊎ filtered-delta answer wrong")
      // Unfiltered query over the stale filtered MV must fall back to a
      // full base scan (no MV read) and stay correct.
      val miss = spark.sql("SELECT g, count(*) AS c FROM graft.sdf.base GROUP BY g")
      assert(!miss.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
        .exists(_.output.exists(_.name == "cnt")),
        "unfiltered query wrongly served by the stale filtered MV")
      assert(miss.collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sortBy(_._1)
        == Seq(("a", 2L), ("b", 2L), ("c", 1L)))
    }
    spark.sql("DROP TABLE graft.sdf.agg")
    spark.sql("DROP TABLE graft.sdf.base")
  }

  test("join MV: create/refresh/rewrite over fact JOIN dim, gates respected") {
    def scans(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.relation.identifier.map(_.toString).getOrElse("")
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
          r.identifier.map(_.toString).getOrElse("")
      }
    spark.sql("DROP TABLE IF EXISTS graft.mvj.fact")
    spark.sql("DROP TABLE IF EXISTS graft.mvj.dim")
    spark.sql("DROP TABLE IF EXISTS graft.mvj.agg")
    spark.sql("CREATE TABLE graft.mvj.fact (k BIGINT, v BIGINT) USING graft")
    spark.sql("CREATE TABLE graft.mvj.dim (dk BIGINT, seg STRING) USING graft")
    spark.sql("INSERT INTO graft.mvj.fact VALUES (1, 10), (1, 20), (2, 5), (3, 7)")
    spark.sql("INSERT INTO graft.mvj.dim VALUES (1, 'a'), (2, 'b'), (9, 'z')")
    val (mode, groups, _) = call(
      """CALL graft.system.create_mv('mvj', 'agg', 'mvj.fact JOIN mvj.dim ON k = dk',
        |  'seg', 'count(*) AS cnt, sum(v) AS total')""".stripMargin)
    assert(mode == "full" && groups == 2, s"join MV create: $mode/$groups")
    val q = """SELECT seg, count(*) AS c, sum(v) AS s
              |FROM graft.mvj.fact JOIN graft.mvj.dim ON k = dk
              |GROUP BY seg""".stripMargin
    def direct(): Seq[(String, Long, Long)] = rewriteOff {
      spark.sql(q).collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sortBy(_._1)
    }
    // Fresh on both sides → MV-served, base tables untouched.
    val hit = spark.sql(q)
    assert(scans(hit).exists(_.contains("agg")), s"join query not MV-served: ${scans(hit)}")
    assert(!scans(hit).exists(_.contains("fact")), "MV-served plan still reads the fact")
    assert(hit.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy(_._1) == direct())
    // Swapped orientation (dim JOIN fact) serves too — inner joins commute.
    val swapped = spark.sql(
      """SELECT seg, count(*) AS c FROM graft.mvj.dim JOIN graft.mvj.fact ON k = dk
        |GROUP BY seg""".stripMargin)
    assert(scans(swapped).exists(_.contains("agg")),
      s"swapped join not MV-served: ${scans(swapped)}")
    // Global rollup over the join rides the same MV.
    val global = spark.sql(
      "SELECT count(*) AS c, sum(v) AS s FROM graft.mvj.fact JOIN graft.mvj.dim ON k = dk")
    assert(scans(global).exists(_.contains("agg")), "global join rollup not MV-served")
    assert(global.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((3L, 35L)))
    // A DIFFERENT ON condition must not be served.
    val missCond = spark.sql(
      """SELECT seg, count(*) AS c FROM graft.mvj.fact JOIN graft.mvj.dim ON v = dk
        |GROUP BY seg""".stripMargin)
    assert(!scans(missCond).exists(_.contains("agg")),
      "different ON condition wrongly MV-served")
    // An aggregate over the BARE fact must never be served by the join MV.
    val missBare = spark.sql("SELECT count(*) AS c FROM graft.mvj.fact")
    assert(!scans(missBare).exists(_.contains("agg")),
      "bare-fact aggregate wrongly served by the join MV")
    // Fact append → stale on the fact side → STILL served, as
    // MV ⊎ (ΔF ⋈ dim) (the stale-join path; delta-only planning is
    // asserted in its own test), answer exact over both batches.
    // refresh_mv then applies the two-sided delta rule: only group
    // 'b' (the dim partner of the appended k=2 row) is touched.
    spark.sql("INSERT INTO graft.mvj.fact VALUES (2, 100)")
    val stale = spark.sql(q)
    assert(scans(stale).exists(_.contains("agg")),
      "fact-stale join MV should be stale-delta-served")
    assert(stale.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy(_._1) == direct())
    val (m2, g2a, _) = call("CALL graft.system.refresh_mv('mvj', 'agg')")
    assert(m2 == "incremental", s"join MV refresh mode: $m2")
    assert(g2a == 1, s"fact append touches only group b, refresh touched $g2a")
    val rehit = spark.sql(q)
    assert(scans(rehit).exists(_.contains("agg")), "refreshed join MV not served")
    assert(rehit.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy(_._1) == direct())
    // Dim append → stale on the dim side → since r18 ALSO served, as
    // MV ⊎ (ΔD ⋈ fact) (the single-moved-side stale path); the answer
    // must include the new group c (fact k=3 finally joins).
    spark.sql("INSERT INTO graft.mvj.dim VALUES (3, 'c')")
    val dimStale = spark.sql(q)
    assert(scans(dimStale).exists(_.contains("agg")),
      "dim-append staleness should be stale-delta-served since r18")
    assert(dimStale.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy(_._1) == direct())
    val (m3, g3a, _) = call("CALL graft.system.refresh_mv('mvj', 'agg')")
    assert(m3 == "incremental" && g3a == 1, s"dim append refresh: $m3/$g3a")
    assert(spark.sql(q).collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy(_._1) == direct())
    // Idle refresh is a noop.
    val (m4, g4, _) = call("CALL graft.system.refresh_mv('mvj', 'agg')")
    assert(m4 == "noop" && g4 == 0)
    spark.sql("DROP TABLE graft.mvj.agg")
    spark.sql("DROP TABLE graft.mvj.fact")
    spark.sql("DROP TABLE graft.mvj.dim")
  }

  test("join MV delta refresh: fact-only, dim-only, both sides, dv change, churn fallback") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    spark.sql("DROP TABLE IF EXISTS graft.mvj2.fact")
    spark.sql("DROP TABLE IF EXISTS graft.mvj2.dim")
    spark.sql("DROP TABLE IF EXISTS graft.mvj2.agg")
    spark.sql("CREATE TABLE graft.mvj2.fact (k BIGINT, v BIGINT) USING graft")
    spark.sql("CREATE TABLE graft.mvj2.dim (dk BIGINT, seg STRING) USING graft")
    // Several fact segments so "delta-only" is distinguishable from
    // "all" at plan level.
    spark.sql("INSERT INTO graft.mvj2.fact VALUES (1, 10), (1, 20)")
    spark.sql("INSERT INTO graft.mvj2.fact VALUES (2, 5)")
    spark.sql("INSERT INTO graft.mvj2.fact VALUES (3, 7), (3, 8)")
    spark.sql("INSERT INTO graft.mvj2.dim VALUES (1, 'a'), (2, 'b'), (3, 'c'), (4, 'd')")
    call(
      """CALL graft.system.create_mv('mvj2', 'agg', 'mvj2.fact JOIN mvj2.dim ON k = dk',
        |  'seg', 'count(*) AS cnt, sum(v) AS total')""".stripMargin)
    def mv(): Seq[(String, Long, Long)] =
      spark.sql("SELECT seg, cnt, total FROM graft.mvj2.agg ORDER BY seg")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    def direct(): Seq[(String, Long, Long)] = rewriteOff {
      spark.sql(
        """SELECT seg, count(*) AS c, sum(v) AS s
          |FROM graft.mvj2.fact JOIN graft.mvj2.dim ON k = dk
          |GROUP BY seg ORDER BY seg""".stripMargin)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    }

    // THE load-bearing scale claim: the fact-side key-collection scan
    // of the delta-join rule plans EXACTLY the changed segments, never
    // the fact table — asserted on the same segment-pinned primitive
    // the refresh composes its ΔF⋈D term from.
    val fIdent = org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("mvj2"), "fact")
    val before = graft.sources.GraftCatalog
      .snapshotByVersion(fIdent,
        graft.sources.GraftCatalog.currentVersion("mvj2", "fact").get).get
    spark.sql("INSERT INTO graft.mvj2.fact VALUES (2, 100), (4, 1)")
    val after = graft.sources.GraftCatalog
      .snapshotByVersion(fIdent,
        graft.sources.GraftCatalog.currentVersion("mvj2", "fact").get).get
    val deltaSegs = after.segments.filterNot(s =>
      before.segments.exists(_.path == s.path))
    assert(deltaSegs.nonEmpty && after.segments.length > deltaSegs.length)
    val deltaDf = graft.sources.GraftMvOps.segmentsDf(spark, fIdent, deltaSegs)
    val deltaScans = deltaDf.queryExecution.executedPlan
      .collect { case b: BatchScanExec => b }
    assert(deltaScans.head.inputPartitions.length == deltaSegs.length,
      s"delta fact scan must plan ${deltaSegs.length} segment(s), " +
        s"planned ${deltaScans.head.inputPartitions.length} of ${after.segments.length}")
    assert(deltaDf.count() == 2, "delta scan must see exactly the appended rows")

    // Fact-only append: touched groups = dim partners of the delta
    // (b via k=2; k=4 joins d — a group NEW to the MV).
    val (mf, gf, _) = call("CALL graft.system.refresh_mv('mvj2', 'agg')")
    assert(mf == "incremental" && gf == 2, s"fact-only refresh: $mf/$gf")
    assert(mv() == direct())
    assert(mv() == Seq(("a", 2L, 30L), ("b", 2L, 105L), ("c", 2L, 15L), ("d", 1L, 1L)))

    // Dim-only append: new dim row matches existing fact k=5? none —
    // but dim row (5,'e') with no fact partner touches nothing; dim
    // row joining existing fact rows creates/updates groups via F⋈ΔD.
    spark.sql("INSERT INTO graft.mvj2.fact VALUES (5, 50)") // k=5 dangling (no dim)
    call("CALL graft.system.refresh_mv('mvj2', 'agg')") // absorb fact append
    spark.sql("INSERT INTO graft.mvj2.dim VALUES (5, 'e')")
    val (md, gd, _) = call("CALL graft.system.refresh_mv('mvj2', 'agg')")
    assert(md == "incremental" && gd == 1, s"dim-only refresh: $md/$gd")
    assert(mv() == direct())

    // Both sides in one refresh window.
    spark.sql("INSERT INTO graft.mvj2.fact VALUES (6, 60), (1, 1)")
    spark.sql("INSERT INTO graft.mvj2.dim VALUES (6, 'f')")
    val (mb, gb, _) = call("CALL graft.system.refresh_mv('mvj2', 'agg')")
    // Touched: 'a' (fact append k=1), 'f' (both-new pair k=6 — covered
    // by ΔF⋈D1 since D1 already holds the new dim row).
    assert(mb == "incremental" && gb == 2, s"both-sides refresh: $mb/$gb")
    assert(mv() == direct())

    // A deletion vector change (row-level DELETE) is an in-gate change:
    // the dv-changed segment contributes its keys on both diff sides.
    spark.sql("DELETE FROM graft.mvj2.fact WHERE k = 2 AND v = 5")
    val (mdv, _, _) = call("CALL graft.system.refresh_mv('mvj2', 'agg')")
    assert(mdv == "incremental", s"dv-change refresh: $mdv")
    assert(mv() == direct())

    // Dim churn above the threshold degrades to the full RTAS (one
    // re-join beats two full fact passes).
    spark.sql(
      "INSERT INTO graft.mvj2.dim VALUES (7,'g'),(8,'h'),(9,'i'),(10,'j'),(11,'k'),(12,'l'),(13,'m')")
    val (mc, _, _) = call("CALL graft.system.refresh_mv('mvj2', 'agg')")
    assert(mc == "full", s"dim churn must fall back to full, got $mc")
    assert(mv() == direct())

    // Group-vanishes path: delete every fact row of one group; the
    // MERGE's touched-but-vanished arm must DELETE the MV row.
    spark.sql("DELETE FROM graft.mvj2.fact WHERE k = 4")
    val (mg, _, _) = call("CALL graft.system.refresh_mv('mvj2', 'agg')")
    assert(mg == "incremental")
    assert(mv() == direct())
    assert(!mv().exists(_._1 == "d"), "vanished group d must leave the MV")

    spark.sql("DROP TABLE graft.mvj2.agg")
    spark.sql("DROP TABLE graft.mvj2.fact")
    spark.sql("DROP TABLE graft.mvj2.dim")
  }

  test("N-way snowflake MV: create/serve any join order, per-side delta refresh, stale fact appends") {
    def scans(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.relation.identifier.map(_.toString).getOrElse("")
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
          r.identifier.map(_.toString).getOrElse("")
      }
    spark.sql("DROP TABLE IF EXISTS graft.mvn.fact")
    spark.sql("DROP TABLE IF EXISTS graft.mvn.cust")
    spark.sql("DROP TABLE IF EXISTS graft.mvn.nat")
    spark.sql("DROP TABLE IF EXISTS graft.mvn.agg")
    spark.sql("CREATE TABLE graft.mvn.fact (k BIGINT, v BIGINT) USING graft")
    spark.sql("CREATE TABLE graft.mvn.cust (ck BIGINT, nk BIGINT) USING graft")
    spark.sql("CREATE TABLE graft.mvn.nat (nk2 BIGINT, nname STRING) USING graft")
    spark.sql("INSERT INTO graft.mvn.fact VALUES (1, 10), (1, 20), (2, 5), (3, 7)")
    // cust spans SIX segments (5 rows each) so a later row-level change
    // rewrites a minority of the table — the churn gate must stay open
    // for the mid-dim incremental refresh below (a 1-segment toy dim
    // would churn 100% and correctly fall back to full).
    (0 until 6).foreach { b =>
      val rows = (1 to 5).map { i =>
        val ck = b * 5 + i
        val nk = if (ck <= 2) 100 else if (ck == 3) 200 else 300
        s"($ck, $nk)"
      }.mkString(", ")
      spark.sql(s"INSERT INTO graft.mvn.cust VALUES $rows")
    }
    spark.sql("INSERT INTO graft.mvn.nat VALUES (100, 'de'), (200, 'fr'), (300, 'jp')")
    // Snowflake: the second ON joins dim-to-dim, not fact-to-dim.
    val (mode, groups, _) = call(
      """CALL graft.system.create_mv('mvn', 'agg',
        |  'mvn.fact JOIN mvn.cust ON k = ck JOIN mvn.nat ON nk = nk2',
        |  'nname', 'count(*) AS cnt, sum(v) AS total')""".stripMargin)
    assert(mode == "full" && groups == 2, s"3-way create: $mode/$groups")
    def direct(q: String): Seq[(String, Long, Long)] = rewriteOff {
      spark.sql(q).collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sortBy(_._1)
    }
    val q = """SELECT nname, count(*) AS c, sum(v) AS s
              |FROM graft.mvn.fact JOIN graft.mvn.cust ON k = ck
              |JOIN graft.mvn.nat ON nk = nk2
              |GROUP BY nname""".stripMargin
    val hit = spark.sql(q)
    assert(scans(hit).exists(_.contains("agg")), s"3-way query not MV-served: ${scans(hit)}")
    assert(hit.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy(_._1) == direct(q))
    // A DIFFERENT join order / tree shape serves too (inner joins
    // commute and associate; conjunct-set matching is order-free).
    val reordered = spark.sql(
      """SELECT nname, count(*) AS c FROM graft.mvn.nat
        |JOIN (SELECT * FROM graft.mvn.cust JOIN graft.mvn.fact ON k = ck) ON nk = nk2
        |GROUP BY nname""".stripMargin)
    assert(scans(reordered).exists(_.contains("agg")),
      s"reordered 3-way join not MV-served: ${scans(reordered)}")
    // A MISSING table (2 of the 3) must never be served.
    val partial = spark.sql(
      """SELECT nk, count(*) AS c FROM graft.mvn.fact JOIN graft.mvn.cust ON k = ck
        |GROUP BY nk""".stripMargin)
    assert(!scans(partial).exists(_.contains("agg")),
      "2-table subset wrongly served by the 3-way MV")
    // A different conjunct set must never be served.
    val wrongCond = spark.sql(
      """SELECT nname, count(*) AS c
        |FROM graft.mvn.fact JOIN graft.mvn.cust ON k = nk
        |JOIN graft.mvn.nat ON nk = nk2 GROUP BY nname""".stripMargin)
    assert(!scans(wrongCond).exists(_.contains("agg")),
      "different conjunct set wrongly served")
    // STALE fact appends: served as MV ⊎ (ΔF ⋈ cust ⋈ nat), exact.
    spark.sql("INSERT INTO graft.mvn.fact VALUES (3, 100), (2, 1)")
    val stale = spark.sql(q)
    assert(scans(stale).exists(_.contains("agg")),
      "fact-stale 3-way MV should be stale-delta-served")
    assert(stale.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy(_._1) == direct(q))
    // Fact-side incremental refresh: touched groups = de (k=2) + fr (k=3).
    val (m1, g1, _) = call("CALL graft.system.refresh_mv('mvn', 'agg')")
    assert(m1 == "incremental" && g1 == 2, s"fact refresh: $m1/$g1")
    assert(spark.sql(q).collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy(_._1) == direct(q))
    // MID-dim change (cust): customer 2 moves nation 100 → 200; the
    // delta terms find both affected groups through ΔD ⋈ others.
    spark.sql("UPDATE graft.mvn.cust SET nk = 200 WHERE ck = 2")
    val midStale = spark.sql(q)
    assert(!scans(midStale).exists(_.contains("agg")),
      "dim-moved 3-way MV wrongly stale-served")
    val (m2, g2, _) = call("CALL graft.system.refresh_mv('mvn', 'agg')")
    assert(m2 == "incremental" && g2 == 2, s"mid-dim refresh: $m2/$g2")
    assert(spark.sql(q).collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy(_._1) == direct(q))
    // LEAF-dim append (nat): new nation picks up no fact rows — the
    // ΔD ⋈ others term finds no touched groups, refresh is incremental
    // with zero groups, and the MV is correct and fresh-served again.
    spark.sql("INSERT INTO graft.mvn.nat VALUES (400, 'br')")
    val (m3, g3, _) = call("CALL graft.system.refresh_mv('mvn', 'agg')")
    assert(m3 == "incremental" && g3 == 0, s"leaf-dim refresh: $m3/$g3")
    assert(spark.sql(q).queryExecution.optimizedPlan != null)
    assert(scans(spark.sql(q)).exists(_.contains("agg")), "refreshed 3-way MV not served")
    // Idle refresh is a noop.
    val (m4, g4, _) = call("CALL graft.system.refresh_mv('mvn', 'agg')")
    assert(m4 == "noop" && g4 == 0)
    spark.sql("DROP TABLE graft.mvn.agg")
    spark.sql("DROP TABLE graft.mvn.fact")
    spark.sql("DROP TABLE graft.mvn.cust")
    spark.sql("DROP TABLE graft.mvn.nat")
  }

  test("stale join MV: fact-side appends served as MV ⊎ (ΔF ⋈ dim), dim change declines") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    spark.sql("DROP TABLE IF EXISTS graft.sj.fact")
    spark.sql("DROP TABLE IF EXISTS graft.sj.dim")
    spark.sql("DROP TABLE IF EXISTS graft.sj.agg")
    spark.sql("CREATE TABLE graft.sj.fact (k BIGINT, v BIGINT) USING graft")
    spark.sql("CREATE TABLE graft.sj.dim (dk BIGINT, seg STRING) USING graft")
    spark.sql("INSERT INTO graft.sj.fact VALUES (1, 10), (1, 20)")
    spark.sql("INSERT INTO graft.sj.fact VALUES (2, 5)")
    spark.sql("INSERT INTO graft.sj.dim VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    call(
      """CALL graft.system.create_mv('sj', 'agg', 'sj.fact JOIN sj.dim ON k = dk',
        |  'seg', 'count(*) AS cnt, sum(v) AS total')""".stripMargin)
    val factSegsAtMv = graft.sources.GraftCatalog.segmentCount("sj", "fact")
    // Fact appends WITHOUT refresh: touches existing group b, creates c.
    spark.sql("INSERT INTO graft.sj.fact VALUES (2, 100), (3, 7)")
    val totalFactSegs = graft.sources.GraftCatalog.segmentCount("sj", "fact")
    val deltaSegs = totalFactSegs - factSegsAtMv
    assert(deltaSegs > 0 && factSegsAtMv > 0)
    val q = """SELECT seg, count(*) AS c, sum(v) AS s
              |FROM graft.sj.fact JOIN graft.sj.dim ON k = dk
              |GROUP BY seg""".stripMargin
    def direct(): Seq[(String, Long, Long)] = rewriteOff {
      spark.sql(q).collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sortBy(_._1)
    }
    SessionConf.withConfs(spark)("spark.sql.adaptive.enabled" -> "false") {
      val df = spark.sql(q)
      val scans = df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
      val mvScan = scans.filter(_.output.exists(_.name == "cnt"))
      val factScan = scans.filter(_.output.exists(_.name == "v"))
      assert(mvScan.nonEmpty, s"stale join plan must read the MV, scans: $scans")
      assert(factScan.nonEmpty, "stale join plan must read the fact delta")
      // The load-bearing claim: the fact-side scan plans ONLY the
      // segments appended after the MV's recorded fact version.
      assert(factScan.head.inputPartitions.length == deltaSegs,
        s"fact delta scan must plan $deltaSegs segment(s), " +
          s"planned ${factScan.head.inputPartitions.length} of $totalFactSegs total")
      assert(df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSeq.sortBy(_._1) == direct())
      assert(direct() == Seq(("a", 2L, 30L), ("b", 2L, 105L), ("c", 1L, 7L)))
      // Global rollup and a group-column WHERE ride the same path.
      val global = spark.sql(
        "SELECT count(*) AS c, sum(v) AS s FROM graft.sj.fact JOIN graft.sj.dim ON k = dk")
      assert(global.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
        .exists(_.output.exists(_.name == "cnt")), "global stale join rollup not served")
      assert(global.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        == Seq((5L, 142L)))
      val sliced = spark.sql(
        "SELECT seg, sum(v) AS s FROM graft.sj.fact JOIN graft.sj.dim ON k = dk " +
          "WHERE seg = 'b' GROUP BY seg")
      assert(sliced.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        == Seq(("b", 105L)))
      // avg(v) has no count COMPONENT here (the MV stores count(*) but
      // v is nullable, so count(*) is not a valid substitute for
      // count(v)): the derivation declines → full join, still correct.
      val avgQ = spark.sql(
        "SELECT seg, avg(v) AS m FROM graft.sj.fact JOIN graft.sj.dim ON k = dk GROUP BY seg")
      assert(!avgQ.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
        .exists(_.output.exists(_.name == "cnt")),
        "avg without a count component wrongly stale-join-served")
      // A DIM append on top of the outstanding fact appends = TWO
      // moved sides: since r19 this is SERVED via the disjoint
      // decomposition (ΔF⋈dim₁ ⊎ F₀⋈Δdim), not declined.
      spark.sql("INSERT INTO graft.sj.dim VALUES (4, 'd')")
      val dimMoved = spark.sql(q)
      assert(dimMoved.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
        .exists(_.output.exists(_.name == "cnt")),
        "two append-only moved sides must still be MV-served")
      assert(dimMoved.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSeq.sortBy(_._1) == direct())
      // After an (incremental) refresh the FRESH join path serves again.
      val (m, _, _) = call("CALL graft.system.refresh_mv('sj', 'agg')")
      assert(m == "incremental")
      assert(spark.sql(q).queryExecution.executedPlan
        .collect { case b: BatchScanExec => b }
        .exists(_.output.exists(_.name == "cnt")), "refreshed join MV not fresh-served")
      assert(spark.sql(q).collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSeq.sortBy(_._1) == direct())
      // A fact DELETE (dv change) is not append-only → stale path off.
      spark.sql("INSERT INTO graft.sj.fact VALUES (3, 9)")
      spark.sql("DELETE FROM graft.sj.fact WHERE k = 1 AND v = 10")
      val afterDml = spark.sql(q)
      assert(!afterDml.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
        .exists(_.output.exists(_.name == "cnt")),
        "non-append fact history wrongly stale-join-served")
      assert(afterDml.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSeq.sortBy(_._1) == direct())
    }
    spark.sql("DROP TABLE graft.sj.agg")
    spark.sql("DROP TABLE graft.sj.fact")
    spark.sql("DROP TABLE graft.sj.dim")
  }

  test("non-deterministic filtered-MV WHERE refuses at create") {
    // The incremental refresh re-evaluates the filter on both diff
    // sides; fresh coin flips per pass would silently corrupt the MV,
    // so create must refuse the filter up front.
    spark.sql("DROP TABLE IF EXISTS graft.mvnd.base")
    spark.sql("CREATE TABLE graft.mvnd.base (g STRING, v BIGINT) USING graft")
    spark.sql("INSERT INTO graft.mvnd.base VALUES ('a', 1)")
    val e = intercept[Exception] {
      spark.sql(
        """CALL graft.system.create_mv('mvnd', 'agg', 'mvnd.base', 'g',
          |  'count(*) AS cnt', 'rand() < 0.5')""".stripMargin).collect()
    }
    assert(e.getMessage.contains("deterministic"), e.getMessage)
    spark.sql("DROP TABLE graft.mvnd.base")
  }

  test("avg navigation: avg served from sum+count MV components at exact, rollup and global grain") {
    def scans(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.relation.identifier.map(_.name).getOrElse("")
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
          r.identifier.map(_.name).getOrElse("")
      }
    spark.sql("DROP TABLE IF EXISTS graft.mvavg.base")
    spark.sql("DROP TABLE IF EXISTS graft.mvavg.agg")
    spark.sql(
      """CREATE TABLE graft.mvavg.base
        |  (k BIGINT, g STRING, s STRING, price DECIMAL(18,2), v BIGINT) USING graft""".stripMargin)
    // One NULL price: count(price) != count(*), so a sloppy count(*)
    // substitution in the avg derivation would be caught by value
    // comparison, not just by the nullability gate.
    spark.sql(
      """INSERT INTO graft.mvavg.base VALUES
        |  (1, 'a', 'x', 10.00, 1), (2, 'a', 'x', 11.50, 2),
        |  (3, 'a', 'y', CAST(NULL AS DECIMAL(18,2)), 3),
        |  (4, 'b', 'x', 7.25, 4), (5, 'b', 'y', 100.10, 5)""".stripMargin)
    call(
      """CALL graft.system.create_mv('mvavg', 'agg', 'mvavg.base', 'g,s',
        |  'count(*) AS cnt, sum(price) AS sp, count(price) AS cp,
        |   sum(v) AS sv, sum(coalesce(v, CAST(0 AS BIGINT))) AS svc')""".stripMargin)
    def compare(q: String, expectServed: Boolean, staleBranch: Boolean = false): Unit = {
      val direct = rewriteOff(spark.sql(q).collect().toSeq)
      val served = spark.sql(q)
      val sc = scans(served)
      assert(sc.contains("agg") == expectServed,
        s"MV-served=$expectServed expected for [$q], scans: $sc")
      if (expectServed)
        // Fresh serves read ONLY the MV; stale serves add pinned base
        // branches (delta / retraction) alongside it.
        assert(sc.contains("base") == staleBranch,
          s"base-branch=$staleBranch expected for [$q], scans: $sc")
      // UNROUNDED bit-exact equality rewrite-on vs rewrite-off — the
      // decimal derivation must reproduce Average's exact division
      // precision/scale, not just be numerically close.
      assert(served.collect().toSeq.sortBy(_.toString) == direct.sortBy(_.toString),
        s"avg rewrite diverged from the direct answer for [$q]")
    }
    // EXACT grain: per-MV-row scalar division sp/cp (no re-aggregate).
    compare("SELECT g, s, avg(price) AS ap FROM graft.mvavg.base GROUP BY g, s", true)
    // ROLLUP: sum-of-sums / sum-of-counts at the coarser grain.
    compare(
      "SELECT g, avg(price) AS ap, count(*) AS c FROM graft.mvavg.base GROUP BY g", true)
    // GLOBAL rollup (empty grouping).
    compare("SELECT avg(price) AS ap FROM graft.mvavg.base", true)
    // Residual filter on a group column composes with the derivation.
    compare("SELECT g, avg(price) AS ap FROM graft.mvavg.base WHERE s = 'x' GROUP BY g", true)
    // GROUPING SETS lattice: avg navigates through the same components
    // at every set of the rebuilt Expand.
    compare(
      """SELECT g, s, avg(price) AS ap, count(*) AS c FROM graft.mvavg.base
        |GROUP BY GROUPING SETS ((g, s), (g), ())""".stripMargin, true)
    // v is nullable and the MV has sum(v) but NO count(v): count(*) is
    // NOT a valid substitute — must decline to the base (and stay right).
    compare("SELECT g, avg(v) AS av FROM graft.mvavg.base GROUP BY g", false)
    // Non-nullable child: count(*) IS a valid count component.
    compare(
      "SELECT g, avg(coalesce(v, CAST(0 AS BIGINT))) AS av FROM graft.mvavg.base GROUP BY g",
      true)
    // avg also merges through the STALE delta-union path: append a
    // batch, no refresh — MV branch + pinned delta branch.
    spark.sql("INSERT INTO graft.mvavg.base VALUES (6, 'a', 'y', 3.33, 6), (7, 'c', 'x', 8.00, 7)")
    compare("SELECT g, avg(price) AS ap FROM graft.mvavg.base GROUP BY g",
      expectServed = true, staleBranch = true)
    // ... and through the RETRACTION path: an upsert epoch moves key 4
    // (b → a); the killed row's sum/count components subtract.
    locally {
      import org.apache.spark.sql.functions.{col, expr}
      Seq((4L, "a", "9.75", 40L)).toDF("k", "g", "p", "v")
        .select(col("k"), col("g"), expr("'x' AS s"),
          expr("CAST(p AS DECIMAL(18,2)) AS price"), col("v"))
        .writeTo("graft.mvavg.base").option("graft.upsert.keys", "k").append()
    }
    compare("SELECT g, avg(price) AS ap FROM graft.mvavg.base GROUP BY g",
      expectServed = true, staleBranch = true)
    spark.sql("DROP TABLE graft.mvavg.agg")
    spark.sql("DROP TABLE graft.mvavg.base")
  }

  test("global retraction restores sum-over-empty = NULL (ADVICE r18)") {
    def scans(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.relation.identifier.map(_.name).getOrElse("")
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
          r.identifier.map(_.name).getOrElse("")
      }
    spark.sql("DROP TABLE IF EXISTS graft.mvgn.base")
    spark.sql("DROP TABLE IF EXISTS graft.mvgn.agg")
    spark.sql("CREATE TABLE graft.mvgn.base (k BIGINT, g STRING, v BIGINT) USING graft")
    spark.sql("INSERT INTO graft.mvgn.base VALUES (1, 'a', 5), (2, 'a', 7), (3, 'b', 10)")
    // count(v) rides along: the dead-sum guard counts the SUM'S OWN
    // operand (v nullable ⇒ count(*) is not a sound substitute).
    call(
      """CALL graft.system.create_mv('mvgn', 'agg', 'mvgn.base', 'g',
        |  'count(*) AS cnt, sum(v) AS total, count(v) AS cv')""".stripMargin)
    // Upsert epoch moves EVERY g='a' row to g='b': the g='a' slice of
    // the un-refreshed MV nets to zero rows. SQL: sum over empty input
    // is NULL (count is 0) — the retraction branches net the sum to a
    // bare 0, so the rewrite must re-derive NULL from the liveness
    // count, not report the 0.
    Seq((1L, "b", 5L), (2L, "b", 7L)).toDF("k", "g", "v")
      .writeTo("graft.mvgn.base").option("graft.upsert.keys", "k").append()
    def compare(q: String): Unit = {
      val direct = rewriteOff(spark.sql(q).collect().toSeq)
      val served = spark.sql(q)
      assert(scans(served).contains("agg"), s"[$q] must be MV-served, scans: ${scans(served)}")
      assert(served.collect().toSeq == direct, s"global retraction diverged for [$q]")
    }
    val gq = "SELECT sum(v) AS s FROM graft.mvgn.base WHERE g = 'a'"
    compare(gq)
    assert(spark.sql(gq).collect().head.isNullAt(0),
      "sum over a retro-emptied slice must be NULL, not 0")
    // count keeps its 0-on-empty semantics; avg derives NULL via 0/0.
    compare("SELECT count(*) AS c FROM graft.mvgn.base WHERE g = 'a'")
    assert(spark.sql("SELECT count(*) AS c FROM graft.mvgn.base WHERE g = 'a'")
      .collect().head.getLong(0) == 0L)
    // Mixed outputs: NULL sum next to 0 count in one row.
    compare("SELECT count(*) AS c, sum(v) AS s FROM graft.mvgn.base WHERE g = 'a'")
    // The non-empty slice is unaffected.
    compare("SELECT sum(v) AS s FROM graft.mvgn.base WHERE g = 'b'")
    assert(spark.sql("SELECT sum(v) AS s FROM graft.mvgn.base WHERE g = 'b'")
      .collect().head.getLong(0) == 22L)
    spark.sql("DROP TABLE graft.mvgn.agg")
    spark.sql("DROP TABLE graft.mvgn.base")
  }

  test("global retraction guards sum with the OPERAND's count (ADVICE r19)") {
    def scans(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.relation.identifier.map(_.name).getOrElse("")
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
          r.identifier.map(_.name).getOrElse("")
      }
    spark.sql("DROP TABLE IF EXISTS graft.mvgo.base")
    spark.sql("DROP TABLE IF EXISTS graft.mvgo.agg")
    spark.sql("DROP TABLE IF EXISTS graft.mvgo.aggnc")
    spark.sql("CREATE TABLE graft.mvgo.base (k BIGINT, g STRING, v BIGINT) USING graft")
    // ONE non-NULL-v row and one NULL-v row in the g='a' slice.
    spark.sql(
      "INSERT INTO graft.mvgo.base VALUES (1, 'a', 5), (2, 'a', NULL), (3, 'b', 10)")
    call(
      """CALL graft.system.create_mv('mvgo', 'agg', 'mvgo.base', 'g',
        |  'count(*) AS cnt, sum(v) AS total, count(v) AS cv')""".stripMargin)
    // The upsert kills ONLY the non-NULL-v row of g='a': the NULL-v
    // row survives, so net count(*) = 1 > 0 — a count(*)-based guard
    // would let the netted sum serve 0, where SQL's sum over the
    // surviving all-NULL rows is NULL. Net count(v) = 0 catches it.
    Seq((1L, "b", 5L)).toDF("k", "g", "v")
      .writeTo("graft.mvgo.base").option("graft.upsert.keys", "k").append()
    val gq = "SELECT sum(v) AS s FROM graft.mvgo.base WHERE g = 'a'"
    val direct = rewriteOff(spark.sql(gq).collect().toSeq)
    assert(direct.head.isNullAt(0), "fixture: direct answer must be NULL")
    val served = spark.sql(gq)
    assert(scans(served).contains("agg"), s"must be MV-served, scans: ${scans(served)}")
    assert(served.collect().head.isNullAt(0),
      "sum over surviving all-NULL-operand rows must be NULL, not a netted 0")
    // An MV WITHOUT count(v) (nullable operand) has no sound guard —
    // the global-sum retraction DECLINES rather than serve a wrong 0.
    call(
      """CALL graft.system.create_mv('mvgo', 'aggnc', 'mvgo.base', 'g',
        |  'count(*) AS cnt, sum(v) AS total')""".stripMargin)
    spark.sql("DROP TABLE graft.mvgo.agg") // leave only the guard-less MV
    Seq((2L, "b", 7L)).toDF("k", "g", "v")
      .writeTo("graft.mvgo.base").option("graft.upsert.keys", "k").append()
    val declined = spark.sql(gq)
    assert(!scans(declined).contains("aggnc"),
      s"nullable-operand global sum without count(v) must decline, scans: ${scans(declined)}")
    assert(declined.collect().head.isNullAt(0))
    spark.sql("DROP TABLE graft.mvgo.aggnc")
    spark.sql("DROP TABLE graft.mvgo.base")
  }

  test("refresh of a non-MV table and unknown MV fail loudly") {
    spark.sql("DROP TABLE IF EXISTS graft.mv7.plain")
    spark.sql("CREATE TABLE graft.mv7.plain (k BIGINT) USING graft")
    val e = intercept[Exception](spark.sql("CALL graft.system.refresh_mv('mv7', 'plain')").collect())
    assert(e.getMessage.contains("not a materialized view"))
    intercept[Exception](spark.sql("CALL graft.system.refresh_mv('mv7', 'nope')").collect())
    // A single-table MV with a cleared definition property reads as a
    // malformed MV, the way a join MV does — not as a raw missing key.
    for (key <- Seq("graft.mv.group", "graft.mv.aggs")) {
      call("CALL graft.system.create_mv('mv7', 'agg', 'mv7.plain', 'k', 'count(*) AS cnt')")
      spark.sql(s"ALTER TABLE graft.mv7.agg UNSET TBLPROPERTIES ('$key')")
      val m = intercept[Exception](
        spark.sql("CALL graft.system.refresh_mv('mv7', 'agg')").collect())
      assert(m.getMessage.contains(
        s"not a well-formed materialized view (no $key table property)"), m.getMessage)
    }
    spark.sql("DROP TABLE graft.mv7.agg")
    spark.sql("DROP TABLE graft.mv7.plain")
  }

  /** A one-side MV and a join MV over the same fact, for the tests that
    * hold both shapes to one refresh contract: `body` gets the MV names.
    */
  private def withBothShapes(ns: String, where: String)(body: Seq[String] => Unit): Unit = {
    Seq("one", "two", "fact", "dim").foreach(t => spark.sql(s"DROP TABLE IF EXISTS graft.$ns.$t"))
    spark.sql(s"CREATE TABLE graft.$ns.fact (k BIGINT, v BIGINT) USING graft")
    spark.sql(s"CREATE TABLE graft.$ns.dim (dk BIGINT, seg STRING) USING graft")
    spark.sql(s"INSERT INTO graft.$ns.fact VALUES (1, 10), (2, 5)")
    spark.sql(s"INSERT INTO graft.$ns.dim VALUES (1, 'a'), (2, 'b')")
    call(s"""CALL graft.system.create_mv('$ns', 'one', '$ns.fact', 'k',
            |  'count(*) AS cnt', '$where')""".stripMargin)
    call(s"""CALL graft.system.create_mv('$ns', 'two', '$ns.fact JOIN $ns.dim ON k = dk',
            |  'seg', 'count(*) AS cnt', '$where')""".stripMargin)
    try body(Seq("one", "two"))
    finally Seq("one", "two", "fact", "dim").foreach(t => spark.sql(s"DROP TABLE graft.$ns.$t"))
  }

  test("a noop refresh clears a stuck refresh-in-flight flag, one side or a join") {
    withBothShapes("mvnf", "") { mvs =>
      for (mv <- mvs) {
        def flagged: Boolean = spark.sql(s"SHOW TBLPROPERTIES graft.mvnf.$mv")
          .as[(String, String)].collect().toMap.contains("graft.mv.refreshing")
        graft.sources.GraftCatalog.patchTablePropsForTest(
          "mvnf", mv, Map("graft.mv.refreshing" -> "true"))
        assert(flagged)
        val (mode, _, _) = call(s"CALL graft.system.refresh_mv('mvnf', '$mv')")
        assert(mode == "noop", mv)
        assert(!flagged, s"$mv: a verified noop must clear the refresh-in-flight flag")
      }
    }
  }

  test("refresh refuses a non-deterministic WHERE patched in after create, one side or a join") {
    withBothShapes("mvrd", "v > 0") { mvs =>
      mvs.foreach(mv => graft.sources.GraftCatalog.patchTablePropsForTest(
        "mvrd", mv, Map("graft.mv.filter" -> "rand() < 0.5")))
      // Refused with no source change (before the noop return) and with
      // one, before the refresh writes anything.
      for (change <- Seq(false, true); mv <- mvs) {
        if (change && mv == mvs.head) spark.sql("INSERT INTO graft.mvrd.fact VALUES (1, 3)")
        val e = intercept[Exception](
          spark.sql(s"CALL graft.system.refresh_mv('mvrd', '$mv')").collect())
        assert(e.getMessage.contains("deterministic"), s"$mv: ${e.getMessage}")
        assert(!spark.sql(s"SHOW TBLPROPERTIES graft.mvrd.$mv").as[(String, String)]
          .collect().toMap.contains("graft.mv.refreshing"), mv)
      }
    }
  }
}
