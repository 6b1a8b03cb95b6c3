package graft

import org.scalatest.funsuite.AnyFunSuite

/** TableCatalog contract tests for graft.sources.GraftCatalog — the
  * lifecycle is driven through SQL (the analyzer/catalog-manager path a
  * user hits), not by calling the catalog object directly.
  */
class CatalogSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("create / insert / select round-trip through SQL") {
    spark.sql("DROP TABLE IF EXISTS graft.t1.kv")
    spark.sql("CREATE TABLE graft.t1.kv (k BIGINT, v STRING) USING graft")
    spark.sql("INSERT INTO graft.t1.kv VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    assert(spark.sql("SELECT k, v FROM graft.t1.kv ORDER BY k")
      .as[(Long, String)].collect().toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // Second INSERT appends (two-phase commit per job, rows merge).
    spark.sql("INSERT INTO graft.t1.kv VALUES (4, 'd')")
    assert(spark.sql("SELECT count(*) FROM graft.t1.kv").as[Long].head() == 4L)
    // INSERT OVERWRITE truncates first.
    spark.sql("INSERT OVERWRITE graft.t1.kv VALUES (9, 'z')")
    assert(spark.sql("SELECT k, v FROM graft.t1.kv").as[(Long, String)].collect().toSeq ==
      Seq((9L, "z")))
    spark.sql("DROP TABLE graft.t1.kv")
  }

  test("identifier lifecycle: list, rename, drop, missing-table error") {
    spark.sql("DROP TABLE IF EXISTS graft.t2.a")
    spark.sql("DROP TABLE IF EXISTS graft.t2.b")
    spark.sql("CREATE TABLE graft.t2.a (x INT) USING graft")
    assert(spark.sql("SHOW TABLES IN graft.t2").select("tableName")
      .as[String].collect().toSeq == Seq("a"))
    // The RENAME target is resolved INSIDE the source's catalog — no
    // catalog prefix (with one, "graft" would parse as a namespace).
    spark.sql("ALTER TABLE graft.t2.a RENAME TO t2.b")
    assert(spark.sql("SHOW TABLES IN graft.t2").select("tableName")
      .as[String].collect().toSeq == Seq("b"))
    // Reads resolve the NEW identifier; the old one is gone.
    spark.sql("INSERT INTO graft.t2.b VALUES (7)")
    assert(spark.sql("SELECT x FROM graft.t2.b").as[Int].head() == 7)
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM graft.t2.a").collect()
    }
    assert(spark.sql("DROP TABLE graft.t2.b").collect().isEmpty)
    assert(spark.sql("SHOW TABLES IN graft.t2").collect().isEmpty)
  }

  test("DELETE FROM and TRUNCATE TABLE rewrite committed rows through the catalog") {
    spark.sql("DROP TABLE IF EXISTS graft.t4.d")
    spark.sql("CREATE TABLE graft.t4.d (k BIGINT, name STRING) USING graft")
    spark.sql("INSERT INTO graft.t4.d VALUES (1,'a'), (2,'b'), (3,'c'), (4, NULL)")
    spark.sql("DELETE FROM graft.t4.d WHERE k >= 3 OR name = 'a'")
    assert(spark.sql("SELECT k FROM graft.t4.d").as[Long].collect().toSeq == Seq(2L))
    // NULL name row: `name = 'a'` is not provably true -> row survives a
    // delete keyed on it, is removed by IS NULL.
    spark.sql("INSERT INTO graft.t4.d VALUES (5, NULL)")
    spark.sql("DELETE FROM graft.t4.d WHERE name IS NULL")
    assert(spark.sql("SELECT k FROM graft.t4.d").as[Long].collect().toSeq == Seq(2L))
    // A predicate the metadata path can't prove (canDeleteWhere false)
    // falls back to the GROUP-BASED row-level rewrite and still deletes
    // correctly — k + 1 = 3 removes the k=2 row.
    spark.sql("INSERT INTO graft.t4.d VALUES (6,'f')")
    spark.sql("DELETE FROM graft.t4.d WHERE k + 1 = 3")
    assert(spark.sql("SELECT k FROM graft.t4.d").as[Long].collect().toSeq == Seq(6L))
    spark.sql("TRUNCATE TABLE graft.t4.d")
    assert(spark.sql("SELECT count(*) FROM graft.t4.d").as[Long].head() == 0L)
    spark.sql("DROP TABLE graft.t4.d")
  }

  test("UPDATE and MERGE INTO run through the group-based row-level rewrite") {
    spark.sql("DROP TABLE IF EXISTS graft.t5.m")
    spark.sql("CREATE TABLE graft.t5.m (k BIGINT, v STRING) USING graft")
    spark.sql("INSERT INTO graft.t5.m VALUES (1,'a'), (2,'b'), (3,'c')")
    spark.sql("UPDATE graft.t5.m SET v = 'B' WHERE k = 2")
    assert(spark.sql("SELECT k, v FROM graft.t5.m ORDER BY k")
      .as[(Long, String)].collect().toSeq == Seq((1L, "a"), (2L, "B"), (3L, "c")))
    spark.sql(
      """MERGE INTO graft.t5.m t
        |USING (SELECT col1 AS k, col2 AS v FROM VALUES (1, 'x'), (9, 'y')) s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
    assert(spark.sql("SELECT k, v FROM graft.t5.m ORDER BY k")
      .as[(Long, String)].collect().toSeq ==
      Seq((1L, "x"), (2L, "B"), (3L, "c"), (9L, "y")))
    // MERGE with a delete clause in the same pass.
    spark.sql(
      """MERGE INTO graft.t5.m t
        |USING (SELECT col1 AS k, col2 AS v FROM VALUES (2, 'drop'), (3, 'keep')) s
        |ON t.k = s.k
        |WHEN MATCHED AND s.v = 'drop' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin)
    assert(spark.sql("SELECT k, v FROM graft.t5.m ORDER BY k")
      .as[(Long, String)].collect().toSeq ==
      Seq((1L, "x"), (3L, "keep"), (9L, "y")))
    spark.sql("DROP TABLE graft.t5.m")
  }

  test("ALTER TABLE ADD COLUMN migrates committed rows; retype is rejected") {
    spark.sql("DROP TABLE IF EXISTS graft.t6.e")
    spark.sql("CREATE TABLE graft.t6.e (k BIGINT) USING graft")
    spark.sql("INSERT INTO graft.t6.e VALUES (1), (2)")
    spark.sql("ALTER TABLE graft.t6.e ADD COLUMN score DOUBLE")
    // Pre-evolution rows read back with NULL in the new slot.
    assert(spark.sql("SELECT k, score FROM graft.t6.e ORDER BY k")
      .as[(Long, Option[Double])].collect().toSeq ==
      Seq((1L, None), (2L, None)))
    // The widened schema accepts writes and row-level updates.
    spark.sql("INSERT INTO graft.t6.e VALUES (3, 0.5)")
    spark.sql("UPDATE graft.t6.e SET score = 1.5 WHERE k = 1")
    assert(spark.sql("SELECT k, score FROM graft.t6.e ORDER BY k")
      .as[(Long, Option[Double])].collect().toSeq ==
      Seq((1L, Some(1.5)), (2L, None), (3L, Some(0.5))))
    // DROP/RENAME COLUMN are supported (SchemaEvolutionSpec); RETYPE
    // is the one change that stays refused (silent reader breakage).
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.t6.e ALTER COLUMN score TYPE STRING")
    }
    assert(spark.sql("SELECT count(*) FROM graft.t6.e").as[Long].head() == 3L)
    spark.sql("DROP TABLE graft.t6.e")
  }

  test("catalog-resolved function: graft.math.clamp matches the greatest/least composition") {
    val out = spark.sql(
      """SELECT graft.math.clamp(CAST(x AS DOUBLE), 2.0, 5.0) AS c,
        |       greatest(2.0, least(CAST(x AS DOUBLE), 5.0)) AS ref
        |FROM VALUES (-10), (2), (3), (5), (99) AS t(x)""".stripMargin)
    assert(out.filter($"c" =!= $"ref").count() == 0)
    assert(out.select("c").as[Double].collect().toSeq == Seq(2.0, 2.0, 3.0, 5.0, 5.0))
    // Unknown function goes through the catalog's error path, not a
    // session-registry miss.
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft.math.nope(1.0)").collect()
    }
    // Type mismatch is rejected at bind time.
    intercept[Exception] {
      spark.sql("SELECT graft.math.clamp('a', 'b', 'c')").collect()
    }
  }

  test("file-backed tables: multi-partition insert commits multiple segments, scan plans one split each") {
    spark.sql("DROP TABLE IF EXISTS graft.ms.t")
    spark.sql("CREATE TABLE graft.ms.t (id BIGINT) USING graft")
    spark.sql("INSERT INTO graft.ms.t SELECT id FROM range(0, 1000, 1, 8)")
    assert(graft.sources.GraftCatalog.segmentCount("ms", "t") == 8,
      "each of the 8 write tasks must publish its own segment file")
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    val tbl = cat.loadTable(
      org.apache.spark.sql.connector.catalog.Identifier.of(Array("ms"), "t"))
    val parts = tbl.asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
      .newScanBuilder(org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
      .build().toBatch.planInputPartitions()
    assert(parts.length == 8, s"expected one split per segment, got ${parts.length}")
    assert(spark.sql("SELECT sum(id), count(*) FROM graft.ms.t")
      .as[(Long, Long)].head() == ((499500L, 1000L)))
    // Appending writes MORE segments; overwrite compacts back to the new list.
    spark.sql("INSERT INTO graft.ms.t SELECT id FROM range(1000, 1004, 1, 2)")
    assert(graft.sources.GraftCatalog.segmentCount("ms", "t") == 10)
    assert(spark.sql("SELECT count(*) FROM graft.ms.t").as[Long].head() == 1004L)
    spark.sql("INSERT OVERWRITE graft.ms.t SELECT id FROM range(0, 10, 1, 1)")
    assert(graft.sources.GraftCatalog.segmentCount("ms", "t") == 1)
    assert(spark.sql("SELECT count(*) FROM graft.ms.t").as[Long].head() == 10L)
    spark.sql("DROP TABLE graft.ms.t")
  }

  test("streaming Complete mode REPLACES the table each epoch instead of accumulating") {
    spark.sql("DROP TABLE IF EXISTS graft.cm.agg")
    spark.sql("CREATE TABLE graft.cm.agg (tag BIGINT, n BIGINT) USING graft")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cm_").toString
    val q = spark.readStream.format("graft-range")
      .option("end", "1000").option("rowsPerBatch", "250").load()
      .groupBy($"tag").agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .writeStream
      .outputMode("complete")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("graft.cm.agg")
    q.awaitTermination()
    // The rate limit forces ≥2 epochs; each must REPLACE the last — the
    // pre-round-7 append-always bug would leave ~4×7 rows here.
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
      s"expected a multi-epoch run: ${q.recentProgress.map(_.numInputRows).toSeq}")
    val got = spark.sql("SELECT tag, n FROM graft.cm.agg ORDER BY tag")
      .as[(Long, Long)].collect().toSeq
    val expect = (0L until 1000L).groupBy(_ % 7).toSeq.sortBy(_._1)
      .map { case (t, ids) => (t, ids.size.toLong) }
    assert(got == expect, s"Complete mode duplicated or lost rows: $got")
    assert(graft.sources.GraftCatalog.rowCount("cm", "agg") == 7L)
    spark.sql("DROP TABLE graft.cm.agg")
  }

  test("exactly-once across restarts into the catalog: Once / AvailableNow / processing-time") {
    for ((mkTrigger, tag) <- Seq(
        (() => org.apache.spark.sql.streaming.Trigger.Once(), "once"),
        (() => org.apache.spark.sql.streaming.Trigger.AvailableNow(), "avail"),
        (() => org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L), "pt"))) {
      val tbl = s"graft.xo.$tag"
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.sql(s"CREATE TABLE $tbl (id BIGINT, val DOUBLE, tag BIGINT) USING graft")
      val ckpt = java.nio.file.Files.createTempDirectory(s"graft_xo_${tag}_").toString
      def run(): Unit = {
        val q = spark.readStream.format("graft-range")
          .option("end", "600").option("rowsPerBatch", "200").load()
          .writeStream
          .option("checkpointLocation", ckpt)
          .trigger(mkTrigger())
          .toTable(tbl)
        q match {
          case s if tag == "pt" => s.processAllAvailable(); s.stop(); s.awaitTermination()
          case s => s.awaitTermination()
        }
      }
      run(); run() // the restart must re-emit and re-commit NOTHING
      assert(spark.sql(s"SELECT count(*), sum(id) FROM $tbl")
        .as[(Long, Long)].head() == ((600L, 179700L)),
        s"trigger=$tag is not exactly-once across restart")
      spark.sql(s"DROP TABLE $tbl")
    }
  }

  test("dropNamespace: non-cascade on a non-empty namespace fails; empty one returns false") {
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsNamespaces]
    spark.sql("DROP TABLE IF EXISTS graft.nsd.a")
    spark.sql("CREATE TABLE graft.nsd.a (x INT) USING graft")
    intercept[org.apache.spark.sql.catalyst.analysis.NonEmptyNamespaceException] {
      cat.dropNamespace(Array("nsd"), false)
    }
    // The failed drop must not have touched the namespace's tables.
    assert(spark.sql("SHOW TABLES IN graft.nsd").count() == 1)
    assert(cat.dropNamespace(Array("nsd"), true))
    assert(spark.sql("SHOW TABLES IN graft.nsd").count() == 0)
    assert(!cat.dropNamespace(Array("nsd"), false),
      "dropping an empty/nonexistent namespace must return false")
  }

  test("zone maps: a filtered scan plans only the segments whose range can match") {
    import graft.sources.GraftCatalog
    spark.sql("DROP TABLE IF EXISTS graft.zm.t")
    spark.sql("CREATE TABLE graft.zm.t (id BIGINT, tag STRING) USING graft")
    // range(0,1000,1,8): each of the 8 write tasks owns a CONTIGUOUS id
    // slice, so the 8 segments carry disjoint [min,max] zone maps.
    spark.sql(
      "INSERT INTO graft.zm.t SELECT id, concat('t', CAST(id % 3 AS STRING)) FROM range(0, 1000, 1, 8)")
    assert(GraftCatalog.segmentCount("zm", "t") == 8)
    def plannedParts(pred: org.apache.spark.sql.sources.Filter*): Int = {
      val cat = spark.sessionState.catalogManager.catalog("graft")
        .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      val sb = cat.loadTable(
        org.apache.spark.sql.connector.catalog.Identifier.of(Array("zm"), "t"))
        .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
        .newScanBuilder(org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
      val residual = sb
        .asInstanceOf[org.apache.spark.sql.connector.read.SupportsPushDownFilters]
        .pushFilters(pred.toArray)
      assert(residual.length == pred.length,
        "segment pruning is inexact: every filter must remain residual")
      sb.build().toBatch.planInputPartitions().length
    }
    import org.apache.spark.sql.sources._
    assert(plannedParts() == 8)
    assert(plannedParts(LessThan("id", 125L)) == 1)
    assert(plannedParts(GreaterThanOrEqual("id", 875L)) == 1)
    assert(plannedParts(EqualTo("id", 500L)) == 1)
    // [200, 400) overlaps three of the 125-wide slices:
    // [125,250), [250,375), [375,500)
    assert(plannedParts(And(GreaterThanOrEqual("id", 200L), LessThan("id", 400L))) == 3)
    assert(plannedParts(EqualTo("id", 5000L)) == 0, "out-of-range scans plan no task")
    assert(plannedParts(EqualTo("tag", "t1")) == 8, "every segment holds every tag")
    // End-to-end through SQL: results stay exact (the residual filter
    // still runs above the pruned scan).
    assert(spark.sql("SELECT count(*), sum(id) FROM graft.zm.t WHERE id < 125")
      .as[(Long, Long)].head() == ((125L, 7750L)))
    assert(spark.sql("SELECT count(*) FROM graft.zm.t WHERE id = 5000")
      .as[Long].head() == 0L)
    // The DML paths must IGNORE zone maps (their scan feeds a whole-
    // table rewrite): an UPDATE keyed on one segment's range must not
    // drop the other segments' rows at commit.
    spark.sql("UPDATE graft.zm.t SET tag = 'hit' WHERE id = 500")
    assert(spark.sql("SELECT count(*) FROM graft.zm.t").as[Long].head() == 1000L)
    assert(spark.sql("SELECT tag FROM graft.zm.t WHERE id = 500").as[String].head() == "hit")
    spark.sql("DROP TABLE graft.zm.t")
  }

  test("segment blooms: point lookups skip segments whose ranges all overlap") {
    import graft.sources.GraftCatalog
    import org.apache.spark.sql.sources._
    spark.sql("DROP TABLE IF EXISTS graft.bf.t")
    spark.sql("CREATE TABLE graft.bf.t (id BIGINT, sk BIGINT, ukey STRING) USING graft")
    // range(0,1000,1,8): task p owns the contiguous ids [125p, 125p+125).
    //  - ukey = md5(id): every segment's string range spans ~the whole
    //    hex keyspace, so zone maps can NEVER prune a ukey point lookup.
    //  - sk = (id%125)*64 + p: segment p holds exactly the values
    //    ≡ p (mod 64) in [p, 7936+p] — ranges overlap almost entirely,
    //    but each value lives in exactly one segment.
    spark.sql(
      """INSERT INTO graft.bf.t
        |SELECT id, (id % 125) * 64 + CAST(id / 125 AS BIGINT),
        |       md5(CAST(id AS STRING))
        |FROM range(0, 1000, 1, 8)""".stripMargin)
    assert(GraftCatalog.segmentCount("bf", "t") == 8)
    def plannedParts(pred: Filter*): Int = {
      val cat = spark.sessionState.catalogManager.catalog("graft")
        .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      val sb = cat.loadTable(
        org.apache.spark.sql.connector.catalog.Identifier.of(Array("bf"), "t"))
        .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
        .newScanBuilder(org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
      sb.asInstanceOf[org.apache.spark.sql.connector.read.SupportsPushDownFilters]
        .pushFilters(pred.toArray)
      sb.build().toBatch.planInputPartitions().length
    }
    assert(plannedParts() == 8)
    // Deterministic bits over deterministic data: the expected counts
    // are exact (a false positive would fail every run, not flake).
    val k500 = spark.sql("SELECT md5('500')").as[String].head()
    val k1 = spark.sql("SELECT md5('1')").as[String].head()
    assert(plannedParts(EqualTo("ukey", k500)) == 1,
      "present key must plan only its home segment")
    assert(plannedParts(EqualTo("ukey", "0000-not-a-real-key")) == 0,
      "absent key inside every range must be bloom-pruned everywhere")
    // id 500 lives in segment 4; id 1 in segment 0 — IN plans both.
    assert(plannedParts(In("ukey", Array[Any](k500, k1))) == 2)
    // Integral bloom: value 3*64+2 exists only in segment 2; value
    // 50 (≡ 50 mod 64) exists in no segment but is inside every range.
    assert(plannedParts(EqualTo("sk", 3L * 64 + 2)) == 1)
    assert(plannedParts(EqualTo("sk", 50L)) == 0)
    // End-to-end exactness above the pruned scan.
    assert(spark.sql(s"SELECT id FROM graft.bf.t WHERE ukey = '$k500'")
      .as[Long].head() == 500L)
    assert(spark.sql("SELECT count(*) FROM graft.bf.t WHERE sk = 50")
      .as[Long].head() == 0L)
    spark.sql("DROP TABLE graft.bf.t")
  }

  test("runtime bloom join pruning: dim-side keys skip fact segments at execution") {
    spark.sql("DROP TABLE IF EXISTS graft.bfj.fact")
    spark.sql("CREATE TABLE graft.bfj.fact (ukey STRING, v BIGINT) USING graft")
    // UNPARTITIONED fact, 8 segments of md5 keys: every segment's
    // [min, max] string range spans the hex keyspace, so any skipping
    // below can only come from the runtime IN probing segment blooms.
    spark.sql(
      """INSERT INTO graft.bfj.fact
        |SELECT md5(CAST(id AS STRING)), id FROM range(0, 1000, 1, 8)""".stripMargin)
    // A non-partition bloom-tracked column must be advertised for
    // runtime V2 filtering — that's what lets the planner wire the
    // dim side's keys into this scan at all.
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    val attrs = cat.loadTable(
        org.apache.spark.sql.connector.catalog.Identifier.of(Array("bfj"), "fact"))
      .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
      .newScanBuilder(org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
      .build().asInstanceOf[org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering]
      .filterAttributes().map(_.describe()).toSet
    assert(attrs.contains("ukey"))
    // Dim keeps ids 1 and 500 — their md5 keys live in fact segments 0
    // and 4 (range(0,1000,1,8): task p owns [125p, 125p+125)).
    val dim = spark.sql(
      "SELECT md5(CAST(id AS STRING)) AS dk, id AS attr FROM range(0, 1000)")
      .filter($"attr" === 1L || $"attr" === 500L)
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val joined = spark.table("graft.bfj.fact")
        .join(org.apache.spark.sql.functions.broadcast(dim), $"ukey" === $"dk")
      assert(joined.collect().length == 2)
      val scan = joined.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.map(_.scan).collectFirst { case s: graft.sources.GraftCatalogScan => s }.get
      // Deterministic hashes over deterministic data: 2 exactly, or a
      // designed-in failure — never a flake.
      assert(scan.planInputPartitions().length == 2,
        "dim keys must bloom-prune the fact scan to the two home segments")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    spark.sql("DROP TABLE graft.bfj.fact")
  }

  test("declared write order range-clusters ingestion so zone maps prune from insert on") {
    import graft.sources.GraftCatalog
    import org.apache.spark.sql.sources._
    spark.sql("DROP TABLE IF EXISTS graft.wo.t")
    spark.sql("DROP TABLE IF EXISTS graft.wo.ctl")
    spark.sql(
      """CREATE TABLE graft.wo.t (ts BIGINT, v BIGINT) USING graft
        |TBLPROPERTIES ('graft.write.order'='ts')""".stripMargin)
    spark.sql("CREATE TABLE graft.wo.ctl (ts BIGINT, v BIGINT) USING graft")
    // Adversarial ingestion: (id*37)%1000 permutes 0..999 round-robin
    // across 8 tasks, so WITHOUT a range shuffle every segment spans
    // ~the whole ts domain and zone maps can prune nothing.
    val ins = "SELECT (id * 37) % 1000 AS ts, id AS v FROM range(0, 1000, 1, 8)"
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false") // keep the range shuffle's partitioning visible
    try {
      spark.sql(s"INSERT INTO graft.wo.t $ins")
      spark.sql(s"INSERT INTO graft.wo.ctl $ins")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    // Ordered table: one segment per RANGE partition (the test
    // session's 4 shuffle partitions → 4 disjoint ts ranges); control:
    // one per input task, each spanning ~the whole domain.
    val orderedSegs = GraftCatalog.segmentCount("wo", "t")
    val controlSegs = GraftCatalog.segmentCount("wo", "ctl")
    assert(orderedSegs > 1 && controlSegs == 8)
    def plannedParts(ns: String, tbl: String): Int = {
      val cat = spark.sessionState.catalogManager.catalog("graft")
        .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      val sb = cat.loadTable(
        org.apache.spark.sql.connector.catalog.Identifier.of(Array(ns), tbl))
        .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
        .newScanBuilder(org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
      sb.asInstanceOf[org.apache.spark.sql.connector.read.SupportsPushDownFilters]
        .pushFilters(Array[Filter](
          GreaterThanOrEqual("ts", 0L), LessThan("ts", 100L)))
      sb.build().toBatch.planInputPartitions().length
    }
    // A 10% ts range over range-clustered segments plans a handful of
    // splits; over the unordered control it must read ALL segments.
    val pruned = plannedParts("wo", "t")
    assert(pruned <= (orderedSegs / 4).max(2),
      s"range query should prune range-clustered segments, planned $pruned of $orderedSegs")
    assert(plannedParts("wo", "ctl") == controlSegs)
    // Exactness above the pruned scan: (id*37)%1000 is a permutation.
    assert(spark.sql("SELECT count(*) FROM graft.wo.t WHERE ts >= 0 AND ts < 100")
      .as[Long].head() == 100L)
    // A typo'd order column fails at SET time, not at write time.
    val e = intercept[Exception](
      spark.sql("ALTER TABLE graft.wo.t SET TBLPROPERTIES ('graft.write.order'='nope')"))
    assert(e.getMessage.contains("not in the schema"))
    spark.sql("DROP TABLE graft.wo.t")
    spark.sql("DROP TABLE graft.wo.ctl")
  }

  test("LIMIT pushdown caps planned segments; exactness preserved above the scan") {
    spark.sql("DROP TABLE IF EXISTS graft.lim.t")
    spark.sql("CREATE TABLE graft.lim.t (k BIGINT) USING graft")
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // 8 segments of 125 rows each.
      spark.sql("INSERT INTO graft.lim.t SELECT id FROM range(0, 1000, 1, 8)")
      assert(graft.sources.GraftCatalog.segmentCount("lim", "t") == 8)
      val q = spark.sql("SELECT k FROM graft.lim.t LIMIT 10")
      val scans = q.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }
      assert(scans.nonEmpty)
      // 10 rows fit in the first 125-row segment: ONE planned split.
      assert(scans.head.inputPartitions.length == 1,
        s"LIMIT 10 should plan 1 segment, planned ${scans.head.inputPartitions.length}")
      assert(q.collect().length == 10)
      // A larger limit spans just enough segments (300 -> 3 of 125).
      val q2 = spark.sql("SELECT k FROM graft.lim.t LIMIT 300")
      val s2 = q2.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.head
      assert(s2.inputPartitions.length == 3)
      assert(q2.collect().length == 300)
      // No limit: all 8 planned.
      val s3 = spark.sql("SELECT k FROM graft.lim.t").queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.head
      assert(s3.inputPartitions.length == 8)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    spark.sql("DROP TABLE graft.lim.t")
  }

  test("compaction preserves declared write order: folded segments stay range-disjoint") {
    import graft.sources.GraftCatalog
    import org.apache.spark.sql.sources._
    spark.sql("DROP TABLE IF EXISTS graft.woc.t")
    spark.sql(
      """CREATE TABLE graft.woc.t (ts BIGINT) USING graft
        |TBLPROPERTIES ('graft.write.order'='ts')""".stripMargin)
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // Two INSERTs: each is internally range-disjoint (4 segments),
      // but the two insert generations OVERLAP — a narrow range then
      // hits one segment per generation.
      spark.sql("INSERT INTO graft.woc.t SELECT (id * 37) % 1000 FROM range(0, 1000, 1, 8)")
      spark.sql("INSERT INTO graft.woc.t SELECT (id * 59) % 1000 FROM range(0, 1000, 1, 8)")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    val beforeSegs = GraftCatalog.segmentCount("woc", "t")
    assert(beforeSegs == 8)
    def plannedParts(): Int = {
      val cat = spark.sessionState.catalogManager.catalog("graft")
        .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      val sb = cat.loadTable(
        org.apache.spark.sql.connector.catalog.Identifier.of(Array("woc"), "t"))
        .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
        .newScanBuilder(org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
      sb.asInstanceOf[org.apache.spark.sql.connector.read.SupportsPushDownFilters]
        .pushFilters(Array[Filter](GreaterThanOrEqual("ts", 0L), LessThan("ts", 100L)))
      sb.build().toBatch.planInputPartitions().length
    }
    assert(plannedParts() == 2, "pre-compact: one overlapping segment per insert generation")
    // Small byte target -> several output segments, now globally
    // range-disjoint: the same narrow range plans exactly ONE.
    System.setProperty("graft.compact.targetBytes", "10000")
    try spark.sql("CALL graft.system.compact('woc', 't')").collect()
    finally System.clearProperty("graft.compact.targetBytes")
    val afterSegs = GraftCatalog.segmentCount("woc", "t")
    assert(afterSegs > 1 && afterSegs < beforeSegs,
      s"expected a multi-segment compaction, got $afterSegs")
    assert(plannedParts() == 1,
      "post-compact: sorted fold must leave the narrow range in one segment")
    assert(spark.sql("SELECT count(*) FROM graft.woc.t").as[Long].head() == 2000L)
    assert(spark.sql("SELECT count(*) FROM graft.woc.t WHERE ts < 100").as[Long].head() == 200L)
    spark.sql("DROP TABLE graft.woc.t")
  }

  test("streaming writes into a write-ordered table succeed and stay exact") {
    spark.sql("DROP TABLE IF EXISTS graft.wos.t")
    spark.sql(
      """CREATE TABLE graft.wos.t (id BIGINT, val DOUBLE, tag BIGINT) USING graft
        |TBLPROPERTIES ('graft.write.order'='id')""".stripMargin)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_wos_").toString
    // The ordered distribution is declared on the shared Write; the
    // micro-batch path must either honor or tolerate it — a failed
    // stream here means ordered tables silently can't be sinks.
    spark.readStream.format("graft-range")
      .option("end", "400").option("rowsPerBatch", "200")
      .load()
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("graft.wos.t")
      .awaitTermination()
    assert(spark.sql("SELECT count(*) FROM graft.wos.t").as[Long].head() == 400L)
    assert(spark.sql("SELECT sum(id) FROM graft.wos.t").as[Long].head() == 399L * 400 / 2)
    spark.sql("DROP TABLE graft.wos.t")
  }

  test("column pruning narrows the catalog scan to the required columns") {
    spark.sql("DROP TABLE IF EXISTS graft.cp.t")
    spark.sql("CREATE TABLE graft.cp.t (k BIGINT, a STRING, b DOUBLE) USING graft")
    spark.sql("INSERT INTO graft.cp.t SELECT id, concat('a', CAST(id AS STRING)), id * 0.5 FROM range(0, 100, 1, 2)")
    val q = spark.sql("SELECT a FROM graft.cp.t WHERE k = 7")
    val plan = q.queryExecution.executedPlan.toString
    // The filter column k need not survive the projection: zone maps
    // evaluate against the full schema, the reader emits only `a`.
    assert(plan.contains("columns=[a]") || plan.contains("columns=[k, a]"),
      s"scan did not prune columns:\n$plan")
    assert(q.as[String].collect().toSeq == Seq("a7"))
    // Empty projection (count(*)) still reads row counts correctly.
    assert(spark.sql("SELECT count(*) FROM graft.cp.t").as[Long].head() == 100L)
    spark.sql("DROP TABLE graft.cp.t")
  }

  test("catalog scans report exact statistics; the planner auto-broadcasts a small table") {
    spark.sql("DROP TABLE IF EXISTS graft.st.dim")
    spark.sql("CREATE TABLE graft.st.dim (k BIGINT, name STRING) USING graft")
    spark.sql("INSERT INTO graft.st.dim SELECT id, concat('n', CAST(id AS STRING)) FROM range(0, 100, 1, 2)")
    val big = spark.range(0, 50000).selectExpr("id % 100 AS k", "id AS v")
    val joined = big.join(spark.table("graft.st.dim"), "k")
    // toString (not collect): under AQE the root is AdaptiveSparkPlanExec,
    // which hides its current plan from TreeNode.collect.
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"catalog-side stats should drive a broadcast join:\n$plan")
    assert(joined.count() == 50000L)
    spark.sql("DROP TABLE graft.st.dim")
  }

  test("replaced segments are retained (tombstoned) until vacuum, not deleted at publish") {
    import graft.sources.GraftCatalog
    spark.sql("DROP TABLE IF EXISTS graft.tb.r")
    spark.sql("CREATE TABLE graft.tb.r (id BIGINT) USING graft")
    spark.sql("INSERT INTO graft.tb.r SELECT id FROM range(0, 100, 1, 2)")
    GraftCatalog.vacuumTombstones() // isolate this test's accounting
    val before = GraftCatalog.tombstoneCount
    spark.sql("INSERT OVERWRITE graft.tb.r SELECT id FROM range(0, 10, 1, 1)")
    // The two replaced segments must still be ON DISK (a concurrent scan
    // planned against the old list may be mid-read) — only the metastore
    // list shrank.
    assert(GraftCatalog.segmentCount("tb", "r") == 1)
    assert(GraftCatalog.tombstoneCount == before + 2,
      "replaced segments must enter the retention queue")
    assert(GraftCatalog.segmentFilesOnDisk("tb", "r") == 3,
      "retired segment files must survive the commit that replaced them")
    GraftCatalog.vacuumTombstones()
    assert(GraftCatalog.segmentFilesOnDisk("tb", "r") == 1,
      "vacuum must delete retired files and nothing else")
    assert(spark.sql("SELECT count(*) FROM graft.tb.r")
      .as[Long].head() == 10L)
    spark.sql("DROP TABLE graft.tb.r")
  }

  test("multi-change ALTER validates before any segment I/O; failure leaks no files") {
    import graft.sources.GraftCatalog
    spark.sql("DROP TABLE IF EXISTS graft.tb.a")
    spark.sql("CREATE TABLE graft.tb.a (k BIGINT) USING graft")
    spark.sql("INSERT INTO graft.tb.a VALUES (1), (2)")
    GraftCatalog.vacuumTombstones()
    val filesBefore = GraftCatalog.segmentFilesOnDisk("tb", "a")
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    val ident = org.apache.spark.sql.connector.catalog.Identifier.of(Array("tb"), "a")
    import org.apache.spark.sql.connector.catalog.TableChange
    // ADD COLUMN (supported) followed by DELETE COLUMN (unsupported) in
    // ONE alter: must reject up front — no widened segments may have
    // been written and then stranded by the late failure.
    intercept[UnsupportedOperationException] {
      cat.alterTable(ident,
        TableChange.addColumn(Array("extra"), org.apache.spark.sql.types.IntegerType),
        TableChange.deleteColumn(Array("k"), false))
    }
    assert(cat.loadTable(ident).schema().fieldNames.toSeq == Seq("k"),
      "failed ALTER must leave the schema untouched")
    assert(GraftCatalog.segmentFilesOnDisk("tb", "a") == filesBefore,
      "failed ALTER must not leak freshly written segment files")
    assert(GraftCatalog.tombstoneCount == 0)
    // A multi-ADD in one statement still lands atomically (one rewrite).
    spark.sql("ALTER TABLE graft.tb.a ADD COLUMNS (x DOUBLE, y STRING)")
    assert(spark.sql("SELECT k, x, y FROM graft.tb.a ORDER BY k")
      .as[(Long, Option[Double], Option[String])].collect().toSeq ==
      Seq((1L, None, None), (2L, None, None)))
    spark.sql("DROP TABLE graft.tb.a")
  }

  test("namespaceExists agrees with the implicit-namespace model and dropNamespace") {
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsNamespaces]
    spark.sql("DROP TABLE IF EXISTS graft.nse.t")
    assert(!cat.namespaceExists(Array("nse")),
      "a namespace with no tables must not exist")
    intercept[org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException] {
      cat.loadNamespaceMetadata(Array("nse"))
    }
    spark.sql("CREATE TABLE graft.nse.t (x INT) USING graft")
    assert(cat.namespaceExists(Array("nse")),
      "a namespace materializes with its first table")
    assert(cat.loadNamespaceMetadata(Array("nse")).isEmpty)
    assert(!cat.namespaceExists(Array("nse", "deep")), "namespaces are single-level")
    spark.sql("DROP TABLE graft.nse.t")
    assert(!cat.namespaceExists(Array("nse")),
      "an emptied namespace ceases to exist — consistent with dropNamespace=false")
  }

  test("time travel: VERSION AS OF pins a commit; old versions survive OVERWRITE") {
    import graft.sources.GraftCatalog
    spark.sql("DROP TABLE IF EXISTS graft.tt.h")
    spark.sql("CREATE TABLE graft.tt.h (id BIGINT) USING graft") // v0: empty
    spark.sql("INSERT INTO graft.tt.h VALUES (1), (2)") // v1
    spark.sql("INSERT INTO graft.tt.h VALUES (3)") // v2
    spark.sql("INSERT OVERWRITE graft.tt.h VALUES (9)") // v3
    assert(GraftCatalog.currentVersion("tt", "h").contains(3L))
    def at(v: Int): Seq[Long] =
      spark.sql(s"SELECT id FROM graft.tt.h VERSION AS OF $v ORDER BY id")
        .as[Long].collect().toSeq
    assert(at(0) == Seq.empty, "v0 is the empty just-created table")
    assert(at(1) == Seq(1L, 2L))
    assert(at(2) == Seq(1L, 2L, 3L), "appends accumulate across versions")
    assert(at(3) == Seq(9L))
    assert(spark.sql("SELECT id FROM graft.tt.h").as[Long].collect().toSeq == Seq(9L),
      "the live table reads the latest commit")
    // The v1/v2 segment files were replaced by the OVERWRITE but must
    // still be readable through their snapshots (retention protects
    // them from GC).
    assert(GraftCatalog.tombstoneCount >= 2)
    // TIMESTAMP AS OF resolves to the latest commit at-or-before t:
    // "now" (well after v3) sees the current state.
    val nowMicros = System.currentTimeMillis() * 1000L + 999999L
    val ts = new java.sql.Timestamp(nowMicros / 1000L)
    assert(spark.sql(s"SELECT id FROM graft.tt.h TIMESTAMP AS OF '$ts'")
      .as[Long].collect().toSeq == Seq(9L))
    // A version that never existed fails loudly.
    intercept[Exception] {
      spark.sql("SELECT * FROM graft.tt.h VERSION AS OF 99").collect()
    }
    // A pinned snapshot is read-only: INSERT into a time-travel
    // relation must be rejected, not silently rewrite history.
    intercept[Exception] {
      spark.sql("INSERT INTO graft.tt.h VERSION AS OF 1 VALUES (7)")
    }
    // Vacuum expires history: superseded versions become unreadable and
    // their exclusive files are deleted; the live table is untouched.
    GraftCatalog.vacuumTombstones()
    intercept[Exception] {
      spark.sql("SELECT * FROM graft.tt.h VERSION AS OF 1").collect()
    }
    assert(GraftCatalog.segmentFilesOnDisk("tt", "h") == 1)
    assert(spark.sql("SELECT id FROM graft.tt.h").as[Long].collect().toSeq == Seq(9L))
    spark.sql("DROP TABLE graft.tt.h")
  }

  test("time travel: ALTER TABLE versions the schema with the data") {
    spark.sql("DROP TABLE IF EXISTS graft.tt.s")
    spark.sql("CREATE TABLE graft.tt.s (k BIGINT) USING graft") // v0
    spark.sql("INSERT INTO graft.tt.s VALUES (1)") // v1
    spark.sql("ALTER TABLE graft.tt.s ADD COLUMNS (note STRING)") // v2
    spark.sql("INSERT INTO graft.tt.s VALUES (2, 'x')") // v3
    assert(spark.sql("SELECT * FROM graft.tt.s VERSION AS OF 1").columns.toSeq == Seq("k"),
      "a pre-ALTER snapshot reads with the pre-ALTER schema")
    assert(spark.sql("SELECT k FROM graft.tt.s VERSION AS OF 1").as[Long].collect().toSeq
      == Seq(1L))
    assert(spark.sql("SELECT * FROM graft.tt.s VERSION AS OF 3").columns.toSeq
      == Seq("k", "note"))
    spark.sql("DROP TABLE graft.tt.s")
  }

  test("metadata-only aggregates: unfiltered COUNT/MIN/MAX fold from segment stats, zero file reads") {
    spark.sql("DROP TABLE IF EXISTS graft.agg.m")
    spark.sql("CREATE TABLE graft.agg.m (k BIGINT, s STRING, d DOUBLE) USING graft")
    spark.sql("INSERT INTO graft.agg.m VALUES (5, 'banana', 2.5), (1, 'apple', CAST('NaN' AS DOUBLE))")
    spark.sql("INSERT INTO graft.agg.m VALUES (9, NULL, -3.0)")
    val q = spark.sql("SELECT count(*), min(k), max(k), min(s), max(s), max(d) FROM graft.agg.m")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("GraftCatalogAggScan"),
      s"aggregate was not pushed to metadata:\n$plan")
    val r = q.collect()(0)
    assert(r.getLong(0) == 3L)
    assert(r.getLong(1) == 1L && r.getLong(2) == 9L)
    assert(r.getString(3) == "apple" && r.getString(4) == "banana",
      "MIN/MAX(string) ignore the NULL and use binary order")
    assert(r.getDouble(5).isNaN, "NaN is the largest double, matching Spark MAX")
    // Empty table: COUNT 0, MIN/MAX NULL.
    spark.sql("CREATE TABLE graft.agg.e (x INT) USING graft")
    val er = spark.sql("SELECT count(*), min(x) FROM graft.agg.e").collect()(0)
    assert(er.getLong(0) == 0L && er.isNullAt(1))
    // A filter disables the metadata path (stats can't prove row-level
    // matches) — the plain scan + real aggregate answers instead.
    val fq = spark.sql("SELECT count(*) FROM graft.agg.m WHERE k > 2")
    assert(!fq.queryExecution.executedPlan.toString.contains("GraftCatalogAggScan"))
    assert(fq.as[Long].head() == 2L)
    // Time travel composes: the pinned snapshot's stats answer.
    val tq = spark.sql("SELECT count(*), max(k) FROM graft.agg.m VERSION AS OF 1")
    assert(tq.queryExecution.executedPlan.toString.contains("GraftCatalogAggScan"))
    val tr = tq.collect()(0)
    assert(tr.getLong(0) == 2L && tr.getLong(1) == 5L)
    spark.sql("DROP TABLE graft.agg.m")
    spark.sql("DROP TABLE graft.agg.e")
  }

  test("grouped metadata aggregates: GROUP BY partition column folds per segment key, zero file reads") {
    spark.sql("DROP TABLE IF EXISTS graft.agg.g")
    spark.sql(
      "CREATE TABLE graft.agg.g (region STRING, k BIGINT) USING graft PARTITIONED BY (region)")
    spark.range(0, 90)
      .selectExpr("concat('r', id % 3) AS region", "id AS k")
      .writeTo("graft.agg.g").append()
    // The partition-profile query: answered from the metastore alone.
    val q = spark.sql(
      "SELECT region, count(*) AS n, min(k) AS lo, max(k) AS hi FROM graft.agg.g GROUP BY region ORDER BY region")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("GraftCatalogAggScan") && plan.contains("groupBy=[region]"),
      s"grouped aggregate was not pushed to metadata:\n$plan")
    assert(q.as[(String, Long, Long, Long)].collect().toSeq == Seq(
      ("r0", 30L, 0L, 87L), ("r1", 30L, 1L, 88L), ("r2", 30L, 2L, 89L)))
    // Grouping on a NON-partition column must not push (per-row work).
    val ng = spark.sql("SELECT k % 2, count(*) FROM graft.agg.g GROUP BY k % 2")
    assert(!ng.queryExecution.executedPlan.toString.contains("GraftCatalogAggScan"))
    assert(ng.count() == 2)
    // A deletion vector keeps grouped COUNT exact (liveRows) while
    // MIN/MAX correctly fall back off the metadata path... COUNT alone
    // still folds.
    spark.sql("DELETE FROM graft.agg.g WHERE k = 3") // dv on r0's segment
    val qc = spark.sql(
      "SELECT region, count(*) AS n FROM graft.agg.g GROUP BY region ORDER BY region")
    assert(qc.queryExecution.executedPlan.toString.contains("GraftCatalogAggScan"))
    assert(qc.as[(String, Long)].collect().toSeq == Seq(
      ("r0", 29L), ("r1", 30L), ("r2", 30L)))
    spark.sql("DROP TABLE graft.agg.g")
  }

  test("auto-compaction keeps the segment count bounded across many small commits") {
    import graft.sources.GraftCatalog
    spark.sql("DROP TABLE IF EXISTS graft.ac.t")
    spark.sql("DROP TABLE IF EXISTS graft.ac.control")
    spark.sql(
      """CREATE TABLE graft.ac.t (k BIGINT) USING graft
        |TBLPROPERTIES ('graft.autocompact.segments'='4')""".stripMargin)
    spark.sql("CREATE TABLE graft.ac.control (k BIGINT) USING graft")
    (1 to 10).foreach { i =>
      spark.sql(s"INSERT INTO graft.ac.t SELECT $i")
      spark.sql(s"INSERT INTO graft.ac.control SELECT $i")
    }
    // Control accumulates one segment per commit; the auto-compacting
    // table folds every time it reaches the threshold.
    assert(GraftCatalog.segmentCount("ac", "control") == 10)
    assert(GraftCatalog.segmentCount("ac", "t") < 4,
      s"expected < 4 segments, got ${GraftCatalog.segmentCount("ac", "t")}")
    // Compaction is invisible to the data.
    assert(spark.sql("SELECT k FROM graft.ac.t ORDER BY k").as[Long].collect().toSeq
      == (1L to 10L))
    // Malformed threshold fails the NEXT commit loudly, BEFORE any rows
    // land (validated pre-commit).
    spark.sql("ALTER TABLE graft.ac.t SET TBLPROPERTIES ('graft.autocompact.segments'='soon')")
    val e = intercept[Exception](spark.sql("INSERT INTO graft.ac.t SELECT 99"))
    assert(e.getMessage != null && e.getMessage.contains("graft.autocompact.segments"))
    assert(spark.sql("SELECT count(*) FROM graft.ac.t WHERE k = 99").as[Long].head() == 0L)
    spark.sql("DROP TABLE graft.ac.t")
    spark.sql("DROP TABLE graft.ac.control")
  }

  test("auto-compaction converges: it never re-fires when folding cannot reduce a group") {
    import graft.sources.GraftCatalog
    // 5 partition groups with one segment each >= threshold 4: compact
    // cannot fold below the group count, so firing would rewrite the
    // whole table ON EVERY COMMIT forever. The trigger must see that no
    // GROUP would shrink and stay quiet: each insert mints exactly one
    // commit (no follow-up compaction commit).
    spark.sql("DROP TABLE IF EXISTS graft.ac.p")
    spark.sql(
      """CREATE TABLE graft.ac.p (g STRING, k BIGINT) USING graft
        |PARTITIONED BY (g)
        |TBLPROPERTIES ('graft.autocompact.segments'='4')""".stripMargin)
    (0 until 5).foreach(i => spark.sql(s"INSERT INTO graft.ac.p VALUES ('g$i', $i)"))
    val v5 = GraftCatalog.currentVersion("ac", "p").get
    assert(v5 == 5L, s"5 single-group inserts must mint exactly 5 commits, got $v5")
    assert(GraftCatalog.segmentCount("ac", "p") == 5)
    // But when one GROUP accumulates past the threshold, it folds —
    // and ONLY that group: the fold runs inside the committing
    // writer's mutation lock, so a hot partition must not make the
    // commit pay an O(table) rewrite of the cold groups. Cold groups'
    // segment FILES must come through byte-identical (same paths).
    val coldBefore = spark.sql(
      "SELECT DISTINCT _segment FROM graft.ac.p WHERE g <> 'g0'")
      .as[String].collect().toSet
    (0 until 4).foreach(i => spark.sql(s"INSERT INTO graft.ac.p VALUES ('g0', ${100 + i})"))
    assert(GraftCatalog.segmentCount("ac", "p") < 9,
      s"hot group must have been folded, got ${GraftCatalog.segmentCount("ac", "p")}")
    val coldAfter = spark.sql(
      "SELECT DISTINCT _segment FROM graft.ac.p WHERE g <> 'g0'")
      .as[String].collect().toSet
    assert(coldAfter == coldBefore,
      s"auto-compaction must be scoped to the hot group; cold segments changed: " +
        s"before=$coldBefore after=$coldAfter")
    assert(spark.sql("SELECT count(*) FROM graft.ac.p").as[Long].head() == 9L)
    spark.sql("DROP TABLE graft.ac.p")
  }

  test("create rejects a duplicate identifier; analyzer enforces the declared schema") {
    spark.sql("DROP TABLE IF EXISTS graft.t3.once")
    spark.sql("CREATE TABLE graft.t3.once (x INT) USING graft")
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("CREATE TABLE graft.t3.once (y INT) USING graft")
    }
    // Arity mismatch is caught by the analyzer against the CATALOG's
    // schema — proving loadTable supplies it.
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("INSERT INTO graft.t3.once VALUES (1, 2)")
    }
    spark.sql("DROP TABLE graft.t3.once")
  }

  test("CALL graft.system.train_ann persists a codebook; retrain swaps it atomically") {
    import org.apache.spark.sql.functions.{array, col}
    spark.sql("DROP TABLE IF EXISTS graft.annx.cb")
    spark.range(0, 40).select(
      col("id").as("vec_id"),
      array((0 until 4).map(i => (col("id") * (i + 1)).cast("float")): _*).as("embedding"))
      .createOrReplaceTempView("train_ann_fixture")
    val out = spark.sql(
      "CALL graft.system.train_ann('train_ann_fixture', 'annx', 'cb', 8, 1)")
      .collect().head
    assert(out.getString(0) == "annx.cb" && out.getLong(1) == 8L)
    assert(spark.table("graft.annx.cb").count() == 8L)
    assert(spark.table("graft.annx.cb").schema.fieldNames.toSeq == Seq("cid", "cvec"))
    // Retrain with a different k REPLACES the codebook (staged swap).
    spark.sql("CALL graft.system.train_ann('train_ann_fixture', 'annx', 'cb', 4, 0)")
    assert(spark.table("graft.annx.cb").count() == 4L)
    spark.sql("DROP TABLE graft.annx.cb")
  }

  test("CALL graft.system.train_ann_pq persists m sub-codebooks of ks centroids each") {
    import org.apache.spark.sql.functions.{array, col}
    spark.sql("DROP TABLE IF EXISTS graft.annx.pq")
    spark.range(0, 40).select(
      col("id").as("vec_id"),
      array((0 until 8).map(i => (col("id") * (i + 1)).cast("float")): _*).as("embedding"))
      .createOrReplaceTempView("train_ann_pq_fixture")
    val out = spark.sql(
      "CALL graft.system.train_ann_pq('train_ann_pq_fixture', 'annx', 'pq', 4, 2, 5, 1)")
      .collect().head
    assert(out.getString(0) == "annx.pq" && out.getLong(1) == 4L && out.getLong(2) == 20L)
    val pq = spark.table("graft.annx.pq")
    assert(pq.schema.fieldNames.toSeq == Seq("s", "cid", "cvec"))
    // every subspace carries exactly ks centroids of width sub
    import spark.implicits._
    val perS = pq.groupBy("s").count().as[(Int, Long)].collect().toMap
    assert(perS == Map(0 -> 5L, 1 -> 5L, 2 -> 5L, 3 -> 5L), s"$perS")
    assert(pq.select(org.apache.spark.sql.functions.size(col("cvec")))
      .as[Int].collect().forall(_ == 2))
    spark.sql("DROP TABLE graft.annx.pq")
  }
}
