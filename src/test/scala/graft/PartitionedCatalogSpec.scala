package graft

import org.scalatest.funsuite.AnyFunSuite

/** Identity-partitioned catalog tables: per-value segment routing at
  * write, split-per-value planning with `HasPartitionKey`, and
  * `KeyGroupedPartitioning` driving storage-partitioned (shuffle-free)
  * joins and aggregates.
  */
class PartitionedCatalogSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def planOf(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // finalize AQE
    df.queryExecution.executedPlan.toString
  }

  test("partitioned write routes rows into one segment per value; scan plans one split per value") {
    import graft.sources.GraftCatalog
    spark.sql("DROP TABLE IF EXISTS graft.pt.a")
    spark.sql(
      "CREATE TABLE graft.pt.a (k STRING, v BIGINT) USING graft PARTITIONED BY (k)")
    // 3 distinct keys arriving over 4 source partitions: the write's
    // required clustered distribution shuffles them so each value lands
    // in one task -> exactly 3 segments, one per value.
    spark.range(0, 300, 1, 4)
      .selectExpr("concat('k', id % 3) AS k", "id AS v")
      .writeTo("graft.pt.a").append()
    assert(GraftCatalog.rowCount("pt", "a") == 300L)
    assert(GraftCatalog.segmentCount("pt", "a") == 3,
      "clustered write distribution must yield one segment per partition value")
    val df = spark.table("graft.pt.a")
    assert(df.rdd.getNumPartitions == 3, "scan must plan one split per partition value")
    assert(df.count() == 300L)
    // Follow-up appends add segments but still one split per VALUE.
    spark.sql("INSERT INTO graft.pt.a VALUES ('k0', 1000), ('k9', 1001)")
    assert(spark.table("graft.pt.a").rdd.getNumPartitions == 4,
      "4 distinct values -> 4 key-grouped splits, multi-segment values stay one split")
    assert(spark.table("graft.pt.a").count() == 302L)
    spark.sql("DROP TABLE graft.pt.a")
  }

  test("a filter on the partition column prunes whole partitions from the plan") {
    spark.sql("DROP TABLE IF EXISTS graft.pt.p")
    spark.sql(
      "CREATE TABLE graft.pt.p (k STRING, v BIGINT) USING graft PARTITIONED BY (k)")
    spark.range(0, 100, 1, 2)
      .selectExpr("concat('k', id % 5) AS k", "id AS v")
      .writeTo("graft.pt.p").append()
    val q = spark.table("graft.pt.p").filter($"k" === "k3")
    assert(q.rdd.getNumPartitions == 1,
      "zone-map stats on the partition column are exact -> only k3's split plans")
    assert(q.count() == 20L)
    spark.sql("DROP TABLE graft.pt.p")
  }

  test("storage-partitioned join: co-partitioned tables join with NO shuffle") {
    spark.sql("DROP TABLE IF EXISTS graft.pt.f")
    spark.sql("DROP TABLE IF EXISTS graft.pt.d")
    spark.sql(
      "CREATE TABLE graft.pt.f (k STRING, amount BIGINT) USING graft PARTITIONED BY (k)")
    spark.sql(
      "CREATE TABLE graft.pt.d (k STRING, label STRING) USING graft PARTITIONED BY (k)")
    spark.range(0, 400, 1, 4)
      .selectExpr("concat('k', id % 4) AS k", "id AS amount")
      .writeTo("graft.pt.f").append()
    spark.range(0, 4, 1, 2)
      .selectExpr("concat('k', id) AS k", "concat('label-', id) AS label")
      .writeTo("graft.pt.d").append()
    SessionConf.withConfs(spark)(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      // isolate the SPJ path: no broadcast fallback for the small side
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val joined = spark.table("graft.pt.f").join(spark.table("graft.pt.d"), "k")
      val plan = planOf(joined)
      assert(!plan.contains("Exchange"),
        s"co-partitioned catalog tables must storage-partition join (no shuffle):\n$plan")
      assert(joined.count() == 400L)
      // And the join is CORRECT, not just shuffle-free.
      val sums = joined.groupBy("label").agg(org.apache.spark.sql.functions.sum("amount"))
        .as[(String, Long)].collect().toMap
      assert(sums("label-0") == (0 until 400 by 4).map(_.toLong).sum)

      // Aggregation grouped on the partition key: the scan's
      // KeyGroupedPartitioning already satisfies the clustering -> no
      // exchange below the aggregate either.
      val agg = spark.table("graft.pt.f").groupBy("k").count()
      val aplan = planOf(agg.toDF)
      assert(!aplan.contains("Exchange"),
        s"group-by on the partition key must not shuffle:\n$aplan")
      assert(agg.count() == 4L)
    }
    spark.sql("DROP TABLE graft.pt.f")
    spark.sql("DROP TABLE graft.pt.d")
  }

  test("partitioned tables survive the rest of the lifecycle: DELETE, time travel, DESCRIBE") {
    spark.sql("DROP TABLE IF EXISTS graft.pt.l")
    spark.sql(
      "CREATE TABLE graft.pt.l (k BIGINT, v STRING) USING graft PARTITIONED BY (k)")
    spark.sql("INSERT INTO graft.pt.l VALUES (1, 'a'), (1, 'b'), (2, 'c')") // v1
    spark.sql("DELETE FROM graft.pt.l WHERE k = 1") // v2
    assert(spark.sql("SELECT v FROM graft.pt.l").as[String].collect().toSeq == Seq("c"))
    assert(spark.sql("SELECT v FROM graft.pt.l VERSION AS OF 1 ORDER BY v")
      .as[String].collect().toSeq == Seq("a", "b", "c"),
      "pre-DELETE snapshot still readable, partition keys preserved through rewrite")
    // Table metadata reports the partitioning (DESCRIBE path).
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    val t = cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(Array("pt"), "l"))
    assert(t.partitioning().map(_.toString).toSeq == Seq("identity(k)"))
    spark.sql("DROP TABLE graft.pt.l")
  }

  test("runtime V2 filtering prunes fact partitions from the dim side of a broadcast join") {
    spark.sql("DROP TABLE IF EXISTS graft.rt.fact")
    spark.sql(
      "CREATE TABLE graft.rt.fact (k STRING, v BIGINT) USING graft PARTITIONED BY (k)")
    spark.range(0, 800, 1, 4)
      .selectExpr("concat('k', id % 8) AS k", "id AS v")
      .writeTo("graft.rt.fact").append()
    val dim = spark.range(0, 8).selectExpr("concat('k', id) AS dk", "id AS attr")
      .filter($"dk" === "k5") // selective predicate on the dim side
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val joined = spark.table("graft.rt.fact")
        .join(org.apache.spark.sql.functions.broadcast(dim), $"k" === $"dk")
      assert(joined.collect().length == 100)
      val scan = joined.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.map(_.scan).collectFirst { case s: graft.sources.GraftCatalogScan => s }.get
      assert(scan.planInputPartitions().length == 1,
        "the dim side's runtime IN filter must prune the fact scan to one partition")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    spark.sql("DROP TABLE graft.rt.fact")
  }

  test("CALL graft.system.compact folds each partition's segments into one") {
    import graft.sources.GraftCatalog
    spark.sql("DROP TABLE IF EXISTS graft.opt.t")
    spark.sql(
      "CREATE TABLE graft.opt.t (k STRING, v BIGINT) USING graft PARTITIONED BY (k)")
    // 4 separate single-key inserts -> 2 keys x 2 segments each.
    spark.sql("INSERT INTO graft.opt.t VALUES ('a', 1), ('b', 2)")
    spark.sql("INSERT INTO graft.opt.t VALUES ('a', 3), ('b', 4)")
    assert(GraftCatalog.segmentCount("opt", "t") == 4)
    val res = spark.sql("CALL graft.system.compact('opt', 't')").collect()
    assert(res.length == 1)
    assert(res(0).getAs[Int]("segments_before") == 4)
    assert(res(0).getAs[Int]("segments_after") == 2,
      "compaction folds to one segment per partition value")
    assert(res(0).getAs[Long]("rows") == 4L)
    assert(GraftCatalog.segmentCount("opt", "t") == 2)
    // Data intact, partition layout intact (still one split per value).
    assert(spark.sql("SELECT sum(v) FROM graft.opt.t").as[Long].head() == 10L)
    assert(spark.table("graft.opt.t").rdd.getNumPartitions == 2)
    // Compaction is a versioned commit: the pre-compaction snapshot is
    // still readable.
    val v = GraftCatalog.currentVersion("opt", "t").get
    assert(spark.sql(s"SELECT count(*) FROM graft.opt.t VERSION AS OF ${v - 1}")
      .as[Long].head() == 4L)
    spark.sql("DROP TABLE graft.opt.t")
  }

  test("compact with a where clause folds ONLY the named partition group") {
    import graft.sources.GraftCatalog
    spark.sql("DROP TABLE IF EXISTS graft.opt.w")
    spark.sql(
      "CREATE TABLE graft.opt.w (k STRING, d DATE, v BIGINT) USING graft PARTITIONED BY (k, d)")
    spark.sql(
      """INSERT INTO graft.opt.w VALUES
        |('a', DATE'2024-01-01', 1), ('b', DATE'2024-01-01', 2)""".stripMargin)
    spark.sql(
      """INSERT INTO graft.opt.w VALUES
        |('a', DATE'2024-01-01', 3), ('b', DATE'2024-01-01', 4)""".stripMargin)
    assert(GraftCatalog.segmentCount("opt", "w") == 4)
    // String + date equalities select one (k, d) group; the 'b' group
    // must keep its two segments (the hot-partition maintenance shape:
    // never an O(table) rewrite for one key's small files).
    val r = spark.sql(
      "CALL graft.system.compact('opt', 'w', 'k=a,d=2024-01-01')").collect().head
    assert(r.getAs[Int]("segments_before") == 4 && r.getAs[Int]("segments_after") == 3,
      s"scoped compact must fold only the matched group: $r")
    assert(GraftCatalog.segmentCount("opt", "w") == 3)
    assert(spark.sql("SELECT sum(v) FROM graft.opt.w").as[Long].head() == 10L)
    // A clause naming a non-partition field, or matching nothing, refuses.
    intercept[Exception] {
      spark.sql("CALL graft.system.compact('opt', 'w', 'v=1')").collect()
    }
    intercept[Exception] {
      spark.sql("CALL graft.system.compact('opt', 'w', 'k=zzz')").collect()
    }
    // Bare compact still folds everything (the default '' routes None).
    spark.sql("CALL graft.system.compact('opt', 'w')").collect()
    assert(GraftCatalog.segmentCount("opt", "w") == 2)
    spark.sql("DROP TABLE graft.opt.w")
  }

  test("compact where: a quoted string partition value may contain a comma") {
    import graft.sources.GraftCatalog
    spark.sql("DROP TABLE IF EXISTS graft.opt.q")
    spark.sql("CREATE TABLE graft.opt.q (k STRING, v BIGINT) USING graft PARTITIONED BY (k)")
    spark.sql("INSERT INTO graft.opt.q VALUES ('a,b', 1), ('c', 2)")
    spark.sql("INSERT INTO graft.opt.q VALUES ('a,b', 3), ('c', 4)")
    assert(GraftCatalog.segmentCount("opt", "q") == 4)
    // The clause is k='a,b': one field, its comma inside the literal.
    val r = spark.sql("CALL graft.system.compact('opt', 'q', 'k=''a,b''')").collect().head
    assert(r.getAs[Int]("segments_before") == 4 && r.getAs[Int]("segments_after") == 3,
      s"the quoted value must select the 'a,b' group alone: $r")
    assert(spark.sql("SELECT sum(v) FROM graft.opt.q WHERE k = 'a,b'").as[Long].head() == 4L)
    spark.sql("DROP TABLE graft.opt.q")
  }

  test("compact where works on TRANSFORM partition fields (bucket's inner comma)") {
    import graft.sources.GraftCatalog
    spark.sql("DROP TABLE IF EXISTS graft.opt.b")
    spark.sql(
      "CREATE TABLE graft.opt.b (k BIGINT, v BIGINT) USING graft PARTITIONED BY (bucket(4, k))")
    (0 to 1).foreach { i =>
      spark.sql(s"INSERT INTO graft.opt.b SELECT id, id * 2 FROM range(${i * 40}, ${i * 40 + 40})")
    }
    val before = GraftCatalog.segmentCount("opt", "b")
    assert(before > 4, "two inserts must leave multiple segments per bucket")
    // Pick a REAL bucket value off the partitions dashboard — the
    // round-trip the where grammar promises ('bucket(4, k)=<value>'
    // must parse through the transform field's inner comma).
    val hot = spark.sql(
      "SELECT spec, partition_key, segments FROM graft.opt.b.partitions ORDER BY segments DESC")
      .collect().head
    val r = spark.sql(
      s"CALL graft.system.compact('opt', 'b', '${hot.getString(0)}=${hot.getString(1)}')")
      .collect().head
    assert(r.getAs[Int]("segments_after") ==
      before - hot.getInt(2) + 1,
      s"scoped compact must fold exactly the named bucket group: $r (hot=$hot)")
    assert(spark.sql("SELECT sum(v) FROM graft.opt.b").as[Long].head() ==
      (0L until 80L).map(_ * 2).sum)
    spark.sql("DROP TABLE graft.opt.b")
  }

  test("CALL graft.system.history lists retained snapshots, newest first") {
    spark.sql("DROP TABLE IF EXISTS graft.h.t")
    spark.sql("CREATE TABLE graft.h.t (v BIGINT) USING graft") // v0
    spark.sql("INSERT INTO graft.h.t VALUES (1), (2)") // v1
    spark.sql("INSERT INTO graft.h.t VALUES (3)") // v2
    val h = spark.sql("CALL graft.system.history('h', 't')").collect()
    assert(h.map(_.getAs[Long]("version")).toSeq == Seq(2L, 1L, 0L))
    assert(h.map(_.getAs[Long]("n_rows")).toSeq == Seq(3L, 2L, 0L))
    assert(h.map(_.getAs[Boolean]("is_current")).toSeq == Seq(true, false, false))
    // Every listed version is actually servable by VERSION AS OF.
    h.map(_.getAs[Long]("version")).foreach { v =>
      spark.sql(s"SELECT * FROM graft.h.t VERSION AS OF $v").collect()
    }
    intercept[Exception] { spark.sql("CALL graft.system.history('h', 'nope')").collect() }
    spark.sql("DROP TABLE graft.h.t")
  }

  test("streaming append into a PARTITIONED catalog table routes epochs per value") {
    import graft.sources.GraftCatalog
    spark.sql("DROP TABLE IF EXISTS graft.pt.st")
    spark.sql(
      "CREATE TABLE graft.pt.st (k STRING, v BIGINT) USING graft PARTITIONED BY (k)")
    val src = java.nio.file.Files.createTempDirectory("graft_pt_stream_src_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_pt_stream_ckpt_").toString
    spark.range(0, 60, 1, 2).selectExpr("concat('k', id % 3) AS k", "id AS v")
      .write.mode("overwrite").parquet(src)
    val q = spark.readStream
      .schema("k STRING, v BIGINT").parquet(src)
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("graft.pt.st")
    q.awaitTermination()
    assert(GraftCatalog.rowCount("pt", "st") == 60L)
    assert(spark.table("graft.pt.st").rdd.getNumPartitions == 3,
      "streamed rows must land key-grouped: one split per partition value")
    assert(spark.sql("SELECT count(DISTINCT k) FROM graft.pt.st").as[Long].head() == 3L)
    spark.sql("DROP TABLE graft.pt.st")
  }

  test("DELETE on a partition key rewrites ONLY the matching partition's segments") {
    import graft.sources.GraftCatalog
    spark.sql("DROP TABLE IF EXISTS graft.del.p")
    spark.sql(
      "CREATE TABLE graft.del.p (k STRING, v BIGINT) USING graft PARTITIONED BY (k)")
    spark.range(0, 100, 1, 2)
      .selectExpr("concat('k', id % 5) AS k", "id AS v")
      .writeTo("graft.del.p").append()
    assert(GraftCatalog.segmentCount("del", "p") == 5)
    GraftCatalog.vacuumTombstones() // isolate the replaced-file accounting
    // Partial delete within one partition: zone maps prove the other 4
    // partitions can't match, so exactly ONE segment is touched — and a
    // half-partition delete is merge-on-read: a deletion vector on that
    // segment, no file rewritten or retired at all.
    spark.sql("DELETE FROM graft.del.p WHERE k = 'k2' AND v < 50")
    assert(GraftCatalog.tombstoneCount == 0,
      "a minority delete must attach a dv, not rewrite")
    assert(GraftCatalog.dvDeletedRows("del", "p") == 10L,
      "only the matching partition's segment may carry the dv")
    assert(spark.sql("SELECT count(*) FROM graft.del.p WHERE k = 'k2'")
      .as[Long].head() == 10L)
    assert(spark.sql("SELECT count(*) FROM graft.del.p").as[Long].head() == 90L)
    spark.sql("DROP TABLE graft.del.p")
  }

  test("UPDATE and MERGE rewrite only the segments their condition can touch") {
    import graft.sources.GraftCatalog
    spark.sql("DROP TABLE IF EXISTS graft.rl.p")
    spark.sql(
      "CREATE TABLE graft.rl.p (k STRING, v BIGINT) USING graft PARTITIONED BY (k)")
    spark.range(0, 100, 1, 2)
      .selectExpr("concat('k', id % 5) AS k", "id AS v")
      .writeTo("graft.rl.p").append()
    assert(GraftCatalog.segmentCount("rl", "p") == 5)
    GraftCatalog.vacuumTombstones()
    // UPDATE scoped to one partition: the other 4 segments must be kept
    // byte-for-byte (re-attached at commit), only k1's is replaced.
    spark.sql("UPDATE graft.rl.p SET v = v + 1000 WHERE k = 'k1'")
    assert(GraftCatalog.tombstoneCount == 1,
      "UPDATE must rewrite only the matching partition's segment")
    assert(spark.sql("SELECT count(*) FROM graft.rl.p WHERE v >= 1000")
      .as[Long].head() == 20L)
    assert(spark.sql("SELECT count(*) FROM graft.rl.p").as[Long].head() == 100L)
    // MERGE keyed on the partition column: same scoping through the
    // merge's pushed condition.
    GraftCatalog.vacuumTombstones()
    spark.range(0, 1).selectExpr("'k3' AS k", "CAST(7777 AS BIGINT) AS v")
      .createOrReplaceTempView("rl_src")
    spark.sql(
      """MERGE INTO graft.rl.p t USING rl_src s
        |ON t.k = s.k AND t.v = 3
        |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM graft.rl.p WHERE v = 7777")
      .as[Long].head() == 1L)
    assert(GraftCatalog.tombstoneCount <= 1,
      "MERGE must not rewrite partitions its ON condition excludes")
    assert(spark.sql("SELECT count(*) FROM graft.rl.p").as[Long].head() == 100L)
    // An UPDATE whose condition matches nothing leaves every file alone.
    GraftCatalog.vacuumTombstones()
    spark.sql("UPDATE graft.rl.p SET v = 0 WHERE k = 'k99'")
    assert(GraftCatalog.tombstoneCount == 0,
      "a no-match UPDATE must be a metadata no-op")
    assert(spark.sql("SELECT count(*) FROM graft.rl.p").as[Long].head() == 100L)
    spark.sql("DROP TABLE graft.rl.p")
  }

  test("partition-spec evolution: metadata-only commit, mixed eras correct, compact migrates") {
    import graft.sources.GraftCatalog
    spark.sql("DROP TABLE IF EXISTS graft.pt.ev")
    spark.sql(
      "CREATE TABLE graft.pt.ev (u STRING, d STRING, v BIGINT) USING graft PARTITIONED BY (u)")
    spark.range(0, 60, 1, 2)
      .selectExpr("concat('u', id % 3) AS u", "concat('d', id % 2) AS d", "id AS v")
      .writeTo("graft.pt.ev").append() // era 1: 3 u-keyed segments
    val era1Version = GraftCatalog.currentVersion("pt", "ev").get
    val filesBefore = GraftCatalog.segmentFilesOnDisk("pt", "ev")

    // Evolve the spec: METADATA-ONLY — no file touched.
    spark.sql("CALL graft.system.set_partitioning('pt', 'ev', 'd')").collect()
    assert(GraftCatalog.segmentFilesOnDisk("pt", "ev") == filesBefore,
      "spec evolution must not rewrite a byte")

    spark.range(100, 140, 1, 2)
      .selectExpr("'ux' AS u", "concat('d', id % 2) AS d", "id AS v")
      .writeTo("graft.pt.ev").append() // era 2: 2 d-keyed segments
    assert(GraftCatalog.segmentCount("pt", "ev") == 5)

    // Mixed-era scans: keys are NOT trusted — one split per segment,
    // no KeyGroupedPartitioning — but results union both layouts.
    assert(spark.table("graft.pt.ev").rdd.getNumPartitions == 5,
      "mixed specs must degrade to per-segment splits")
    assert(spark.table("graft.pt.ev").count() == 100L)
    // Zone maps still prune on the NEW partition column: era-2's d0
    // segment drops; era-1 segments mix d values and must all stay.
    val q = spark.table("graft.pt.ev").filter($"d" === "d1")
    assert(q.rdd.getNumPartitions == 4,
      "d-filter must prune the era-2 d0 segment (3 era-1 + 1 era-2 remain)")
    assert(q.count() == 50L)
    // Grouped METADATA aggregates must not fold stale keys: the
    // group-by runs from data (no metadata-agg scan in the plan).
    val prof = spark.sql("SELECT d, count(*) AS n FROM graft.pt.ev GROUP BY d")
    assert(!planOf(prof).contains("GraftCatalogAggScan"),
      "mixed-era grouped aggregate must not ride segment keys")
    // Partition-scoped overwrite refuses rather than risk wiping or
    // keeping the wrong era.
    val e = intercept[Exception](
      spark.sql("INSERT INTO graft.pt.ev REPLACE WHERE d = 'd0' VALUES ('ux', 'd0', 1)"))
    assert(e.getMessage != null && e.getMessage.contains("partition spec"),
      s"got: ${e.getMessage}")

    // Time travel into era 1 re-pairs the OLD spec with its segments:
    // uniform again, so keyed layout applies (one split per u value).
    assert(spark.sql(s"SELECT * FROM graft.pt.ev VERSION AS OF $era1Version")
      .rdd.getNumPartitions == 3)

    // Compaction migrates era-1 groups into the current spec; keyed
    // layout (and metadata group-bys) re-engage.
    spark.sql("CALL graft.system.compact('pt', 'ev')").collect()
    assert(spark.table("graft.pt.ev").rdd.getNumPartitions == 2,
      "post-migration scan must plan one split per d value")
    assert(spark.table("graft.pt.ev").count() == 100L)
    val prof2 = spark.sql("SELECT d, count(*) AS n FROM graft.pt.ev GROUP BY d ORDER BY d")
    assert(planOf(prof2).contains("GraftCatalogAggScan"),
      "uniform-spec grouped count must answer from segment metadata")
    assert(prof2.as[(String, Long)].collect().toSeq == Seq(("d0", 50L), ("d1", 50L)))
    spark.sql("DROP TABLE graft.pt.ev")
  }

  test("unsupported transforms and unknown partition columns are rejected") {
    // years/months/days/hours/bucket/truncate are SUPPORTED transforms
    // now (hidden partitioning, HiddenPartitionSpec); the rejection
    // boundary is transforms outside that set, columns outside the
    // schema, and type-invalid sources.
    spark.sql("DROP TABLE IF EXISTS graft.pt.bad")
    intercept[Exception] {
      spark.sql(
        "CREATE TABLE graft.pt.bad (k STRING, ts TIMESTAMP) USING graft PARTITIONED BY (fnord(ts))")
    }
    intercept[Exception] { // hours over DATE is type-invalid
      spark.sql(
        "CREATE TABLE graft.pt.bad (k STRING, d DATE) USING graft PARTITIONED BY (hours(d))")
    }
    intercept[Exception] {
      spark.sql(
        "CREATE TABLE graft.pt.bad (k STRING) USING graft PARTITIONED BY (nope)")
    }
    intercept[Exception] {
      spark.sql(
        "CREATE TABLE graft.pt.bad (k STRING) USING graft PARTITIONED BY (days(nope))")
    }
  }

  test("bucket-transform SPJ: fact tables co-bucketed on a high-cardinality key join with NO shuffle") {
    spark.sql("DROP TABLE IF EXISTS graft.pt.bf")
    spark.sql("DROP TABLE IF EXISTS graft.pt.bg")
    // Neither side is broadcast-able at scale and the key is too wide
    // to identity-partition — the Iceberg answer is bucket(n, key) on
    // BOTH sides; the scans then report KeyGroupedPartitioning over
    // the same resolved transform and the join needs no exchange.
    spark.sql(
      "CREATE TABLE graft.pt.bf (id BIGINT, amount BIGINT) USING graft " +
        "PARTITIONED BY (bucket(8, id))")
    spark.sql(
      "CREATE TABLE graft.pt.bg (id BIGINT, score BIGINT) USING graft " +
        "PARTITIONED BY (bucket(8, id))")
    spark.range(0, 500, 1, 4)
      .selectExpr("id", "id * 2 AS amount").writeTo("graft.pt.bf").append()
    spark.range(0, 500, 1, 4)
      .selectExpr("id", "id * 3 AS score").writeTo("graft.pt.bg").append()
    SessionConf.withConfs(spark)(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val joined = spark.table("graft.pt.bf").join(spark.table("graft.pt.bg"), "id")
      val plan = planOf(joined)
      assert(!plan.contains("Exchange"),
        s"co-bucketed catalog tables must storage-partition join (no shuffle):\n$plan")
      val row = joined.selectExpr(
        "count(*) AS n", "sum(amount + score) AS tot").collect()(0)
      assert(row.getLong(0) == 500L)
      assert(row.getLong(1) == (0L until 500L).map(i => i * 5).sum)
    }
    spark.sql("DROP TABLE graft.pt.bf")
    spark.sql("DROP TABLE graft.pt.bg")
  }

  test("DATE identity partitions: per-day segments, exact pruning, date-literal overwrite") {
    spark.sql("DROP TABLE IF EXISTS graft.pt.days PURGE")
    spark.sql("CREATE TABLE graft.pt.days (d DATE, v BIGINT) USING graft PARTITIONED BY (d)")
    spark.sql(
      """INSERT INTO graft.pt.days VALUES
        |(DATE'2024-01-01', 1), (DATE'2024-01-01', 2),
        |(DATE'2024-01-02', 3), (DATE'2024-01-03', 4)""".stripMargin)
    assert(graft.sources.GraftCatalog.segmentCount("pt", "days") == 3,
      "one segment per day value")
    val q = spark.table("graft.pt.days").filter($"d" === java.sql.Date.valueOf("2024-01-01"))
    assert(q.rdd.getNumPartitions == 1,
      "temporal zone maps make day pruning exact (min = max = the day)")
    assert(q.count() == 2L)
    // Static partition overwrite with a DATE literal: the external
    // literal must normalize to the internal epoch-day key — a silent
    // non-match would KEEP the old segments and duplicate the day.
    spark.sql(
      "INSERT OVERWRITE graft.pt.days PARTITION (d = '2024-01-02') VALUES (30)")
    assert(spark.sql("SELECT v FROM graft.pt.days WHERE d = DATE'2024-01-02'")
      .as[Long].collect().toSeq == Seq(30L),
      "exactly the named day's rows were replaced")
    assert(spark.table("graft.pt.days").count() == 4L,
      "other days ride through untouched")
    spark.sql("DROP TABLE graft.pt.days PURGE")
  }
}
