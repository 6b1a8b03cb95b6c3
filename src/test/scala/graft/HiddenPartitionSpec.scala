package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{PartBucket, PartDays, PartField, PartIdentity, PartTruncate}

/** HIDDEN (transform) PARTITIONING: `PARTITIONED BY (days(ts),
  * bucket(n, k), truncate(w, s))` on the graft catalog. Claims under
  * test: the DDL round-trips through canonical field strings; writes
  * cluster by the TRANSFORM value (Spark resolves days/bucket/truncate
  * through the catalog's FunctionCatalog for the clustered
  * distribution, so one partition value = one segment per task-group,
  * not per task); ts-range scans prune segments through the temporal
  * zone maps the day-clustered writes make tight; bucket equality
  * probes prune through the partition KEY (hash membership is
  * range-opaque — the pruning class zone maps cannot supply); schema
  * DDL guards see through transforms; spec evolution + compaction
  * migrate eras; and dynamic overwrite replaces exactly the written
  * hidden partitions.
  */
class HiddenPartitionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def graftScan(df: org.apache.spark.sql.DataFrame): graft.sources.GraftCatalogScan = {
    val root = df.queryExecution.executedPlan
    val plan = root match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    plan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.map(_.scan).collectFirst { case s: graft.sources.GraftCatalogScan => s }.get
  }

  test("PartField: canonical strings round-trip and rename remaps sources") {
    assert(PartField.parse("k") == PartIdentity("k"))
    assert(PartField.parse("days(ts)") == PartDays("ts"))
    assert(PartField.parse("bucket(16,k)") == PartBucket(16, "k"))
    assert(PartField.parse("truncate(4,s)") == PartTruncate(4L, "s"))
    for (c <- Seq("k", "days(ts)", "bucket(16,k)", "truncate(4,s)"))
      assert(PartField.parse(c).canonical == c, s"canonical round-trip of $c")
    assert(PartField.renameIn("days(ts)", "ts", "event_ts") == "days(event_ts)")
    assert(PartField.renameIn("bucket(8,k)", "k", "id") == "bucket(8,id)")
    assert(PartField.renameIn("bucket(8,k)", "zz", "id") == "bucket(8,k)")
    assert(PartField.sources(Seq("days(ts)", "bucket(8,k)", "r")) == Seq("ts", "k", "r"))
  }

  test("bound functions and the write router share value semantics") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.unsafe.types.UTF8String
    // bucket: function over internal values == PartField.eval over external
    val bBound = graft.sources.GraftBucketFunction.bind(
      StructType(Seq(StructField("n", IntegerType), StructField("v", StringType))))
    val viaFn = bBound.asInstanceOf[graft.sources.GraftBucketBound]
      .produceResult(new GenericInternalRow(Array[Any](8, UTF8String.fromString("hello"))))
    assert(viaFn == PartBucket(8, "v").eval("hello", StringType))
    val bLong = graft.sources.GraftBucketFunction.bind(
      StructType(Seq(StructField("n", IntegerType), StructField("v", LongType))))
      .asInstanceOf[graft.sources.GraftBucketBound]
      .produceResult(new GenericInternalRow(Array[Any](8, 123456789L)))
    assert(bLong == PartBucket(8, "v").eval(java.lang.Long.valueOf(123456789L), LongType))
    // days: micros → epoch day, floor semantics for pre-epoch instants
    val dBound = graft.sources.GraftDaysFunction.bind(
      StructType(Seq(StructField("ts", TimestampType))))
      .asInstanceOf[graft.sources.GraftDaysBound]
    val micros = 1705312800000000L // 2024-01-15T10:00:00Z
    assert(dBound.produceResult(new GenericInternalRow(Array[Any](micros))) ==
      PartDays("ts").eval(java.lang.Long.valueOf(micros), TimestampType))
    assert(PartDays("ts").eval(java.lang.Long.valueOf(-1L), TimestampType) ==
      java.lang.Long.valueOf(-1L), "pre-epoch micros floor to day -1")
    // truncate: code-point semantics agree between String and UTF8String
    val tBound = graft.sources.GraftTruncateFunction.bind(
      StructType(Seq(StructField("w", IntegerType), StructField("s", StringType))))
      .asInstanceOf[graft.sources.GraftTruncateBound]
    val viaT = tBound.produceResult(
      new GenericInternalRow(Array[Any](3, UTF8String.fromString("héllo")))).toString
    assert(viaT == PartTruncate(3L, "s").eval("héllo", StringType))
    assert(PartTruncate(10L, "v").eval(java.lang.Long.valueOf(-7L), LongType) ==
      java.lang.Long.valueOf(-10L), "integral truncate floors toward -inf")
  }

  test("days-partitioned table: clustered ingest, tight zone maps, ts-range pruning") {
    spark.sql("DROP TABLE IF EXISTS graft.hp.ev")
    spark.sql(
      "CREATE TABLE graft.hp.ev (ts TIMESTAMP_NTZ, v BIGINT) USING graft " +
        "PARTITIONED BY (days(ts))")
    // 4 days × 100 rows from ONE insert: the clustered distribution
    // (resolved through the catalog's days function) must land one
    // segment per day, not per task.
    spark.sql(
      """INSERT INTO graft.hp.ev
        |SELECT timestamp_ntz'2024-01-10 00:00:00' + make_interval(0,0,0,0,int(id / 100) * 24, 0, id % 100),
        |       id
        |FROM range(400)""".stripMargin)
    assert(graft.sources.GraftCatalog.rowCount("hp", "ev") == 400L)
    assert(graft.sources.GraftCatalog.segmentCount("hp", "ev") == 4,
      "one segment per day — the hidden-partition clustering claim")
    // Full scan plans 4 splits; a one-day range prunes to 1 through the
    // temporal zone maps (day-clustered writes make ts min/max tight).
    val all = spark.table("graft.hp.ev")
    assert(graftScan(all).planInputPartitions().length == 4)
    val oneDay = spark.sql(
      """SELECT sum(v) AS s FROM graft.hp.ev
        |WHERE ts >= timestamp_ntz'2024-01-11 00:00:00'
        |  AND ts < timestamp_ntz'2024-01-12 00:00:00'""".stripMargin)
    val scanned = graftScan(oneDay).planInputPartitions().length
    assert(scanned == 1, s"one-day slice must plan 1 of 4 splits, planned $scanned")
    assert(oneDay.as[Long].head() == (100L until 200L).sum)
    spark.sql("DROP TABLE graft.hp.ev")
  }

  test("bucket-partitioned table: equality probes prune by hash key") {
    spark.sql("DROP TABLE IF EXISTS graft.hp.bk")
    spark.sql(
      "CREATE TABLE graft.hp.bk (k STRING, v BIGINT) USING graft " +
        "PARTITIONED BY (bucket(8, k))")
    spark.sql(
      "INSERT INTO graft.hp.bk SELECT concat('user-', id), id FROM range(1000)")
    val nSegs = graft.sources.GraftCatalog.segmentCount("hp", "bk")
    assert(nSegs == 8, s"1000 keys over 8 hash buckets must land 8 segments, got $nSegs")
    // Point lookup: only the key's home bucket plans a split. Zone maps
    // can't prove this (every bucket spans the full lexicographic
    // range); the partition KEY can.
    val probe = spark.sql("SELECT v FROM graft.hp.bk WHERE k = 'user-17'")
    assert(graftScan(probe).planInputPartitions().length == 1,
      "bucket equality must prune to the home bucket")
    assert(probe.as[Long].head() == 17L)
    // IN-list: at most one split per distinct home bucket.
    val in3 = spark.sql(
      "SELECT sum(v) FROM graft.hp.bk WHERE k IN ('user-1', 'user-2', 'user-3')")
    assert(graftScan(in3).planInputPartitions().length <= 3)
    assert(in3.as[Long].head() == 6L)
    // A range predicate on the bucket source prunes nothing (hash is
    // range-opaque) — but still answers correctly.
    val rng = spark.sql("SELECT count(*) FROM graft.hp.bk WHERE k >= 'user-998'")
    assert(rng.as[Long].head() == 2L) // user-998, user-999
    spark.sql("DROP TABLE graft.hp.bk")
  }

  test("schema DDL sees through transforms: rename remaps, drop/retype refuse") {
    spark.sql("DROP TABLE IF EXISTS graft.hp.dd")
    spark.sql(
      "CREATE TABLE graft.hp.dd (ts TIMESTAMP_NTZ, k INT, v BIGINT) USING graft " +
        "PARTITIONED BY (days(ts), bucket(4, k))")
    spark.sql(
      """INSERT INTO graft.hp.dd
        |SELECT timestamp_ntz'2024-03-01 12:00:00', int(id), id FROM range(10)""".stripMargin)
    intercept[Exception] { spark.sql("ALTER TABLE graft.hp.dd DROP COLUMN ts") }
    // INT -> BIGINT is a safe widening, so the refusal here is the
    // PARTITION-COLUMN guard seeing through bucket(4, k).
    val er = intercept[Exception] {
      spark.sql("ALTER TABLE graft.hp.dd ALTER COLUMN k TYPE BIGINT")
    }
    assert(er.getMessage.contains("partition column"), er.getMessage)
    spark.sql("ALTER TABLE graft.hp.dd RENAME COLUMN ts TO event_ts")
    // The spec followed the rename — keyed layout stays engaged and a
    // filtered read still prunes/answers.
    val q = spark.sql(
      "SELECT sum(v) FROM graft.hp.dd WHERE event_ts >= timestamp_ntz'2024-03-01 00:00:00'")
    assert(q.as[Long].head() == 45L)
    val parts = spark.sql("DESCRIBE TABLE EXTENDED graft.hp.dd").collect().map(_.toString)
    assert(parts.exists(_.contains("days(event_ts)")),
      s"DESCRIBE must show the renamed transform, got:\n${parts.mkString("\n")}")
    spark.sql("DROP TABLE graft.hp.dd")
  }

  test("spec evolution to a transform spec; compaction migrates eras") {
    import graft.sources.GraftCatalog
    spark.sql("DROP TABLE IF EXISTS graft.hp.ev2")
    spark.sql("CREATE TABLE graft.hp.ev2 (ts TIMESTAMP_NTZ, v BIGINT) USING graft")
    spark.sql(
      """INSERT INTO graft.hp.ev2
        |SELECT timestamp_ntz'2024-01-10 00:00:00' + make_interval(0,0,0,0, int(id/50)*24, 0, 0), id
        |FROM range(100)""".stripMargin) // unpartitioned era: 2 days in however many segments
    spark.sql("CALL graft.system.set_partitioning('hp', 'ev2', 'days(ts)')")
    spark.sql(
      """INSERT INTO graft.hp.ev2
        |SELECT timestamp_ntz'2024-01-20 00:00:00' + make_interval(0,0,0,0, int(id/50)*24, 0, 0), id
        |FROM range(100)""".stripMargin) // new era: routed by day (2 segments)
    assert(GraftCatalog.rowCount("hp", "ev2") == 200L)
    // Mixed-era: reads stay correct.
    assert(spark.sql("SELECT sum(v) FROM graft.hp.ev2").as[Long].head() == 2L * (0L until 100L).sum)
    // Compaction migrates the old era into day-keyed segments: 4 days
    // total, uniformly under the current spec.
    spark.sql("CALL graft.system.compact('hp', 'ev2')")
    assert(GraftCatalog.segmentCount("hp", "ev2") == 4,
      "compaction must migrate the pre-evolution era into day groups")
    val oneDay = spark.sql(
      """SELECT count(*) FROM graft.hp.ev2
        |WHERE ts >= timestamp_ntz'2024-01-21 00:00:00'""".stripMargin)
    assert(graftScan(oneDay).planInputPartitions().length == 1)
    assert(oneDay.as[Long].head() == 50L)
    spark.sql("DROP TABLE graft.hp.ev2")
  }

  test("dynamic overwrite replaces exactly the written hidden partitions") {
    spark.sql("DROP TABLE IF EXISTS graft.hp.ow")
    spark.sql(
      "CREATE TABLE graft.hp.ow (ts TIMESTAMP_NTZ, v BIGINT) USING graft " +
        "PARTITIONED BY (days(ts))")
    spark.sql(
      """INSERT INTO graft.hp.ow
        |SELECT timestamp_ntz'2024-01-10 00:00:00' + make_interval(0,0,0,0, int(id/10)*24, 0, 0), id
        |FROM range(30)""".stripMargin) // days 10, 11, 12 with v sums 45, 145, 245
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      // Rewrite ONLY day 11 (its 10 rows become one 999 row); days 10
      // and 12 must ride through untouched.
      spark.sql(
        """INSERT OVERWRITE graft.hp.ow
          |SELECT timestamp_ntz'2024-01-11 06:00:00', 999L""".stripMargin)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    val byDay = spark.sql(
      """SELECT date_trunc('DAY', ts) AS d, count(*) AS n, sum(v) AS s
        |FROM graft.hp.ow GROUP BY 1 ORDER BY 1""".stripMargin)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(byDay == Seq((10L, 45L), (1L, 999L), (10L, 245L)),
      s"dynamic overwrite must replace only day 11, got $byDay")
    spark.sql("DROP TABLE graft.hp.ow")
  }

  test("hours/months/years transforms route and pair with their functions") {
    import org.apache.spark.sql.types._
    // Value-semantics laws (the writer/function agreement the compound
    // tests rely on): Iceberg's since-1970 offset convention.
    val feb2024 = java.time.LocalDate.parse("2024-02-15").toEpochDay
    assert(PartField.epochMonth(feb2024) == (2024 - 1970) * 12 + 1)
    assert(PartField.epochYear(feb2024) == 54)
    assert(PartField.epochMonth(java.time.LocalDate.parse("1969-12-31").toEpochDay) == -1,
      "pre-epoch months floor negative")
    assert(PartField.parse("months(d)").eval(
      Integer.valueOf(feb2024.toInt), DateType) == Integer.valueOf(649))
    assert(PartField.parse("hours(ts)").eval(
      java.lang.Long.valueOf(3600000000L * 7 + 1), TimestampType) == java.lang.Long.valueOf(7L))
    // End-to-end: months-partitioned table routes one segment per month.
    spark.sql("DROP TABLE IF EXISTS graft.hp.mo")
    spark.sql(
      "CREATE TABLE graft.hp.mo (d DATE, v BIGINT) USING graft PARTITIONED BY (months(d))")
    spark.sql(
      "INSERT INTO graft.hp.mo SELECT date'2024-01-15' + int(id / 4) * 30, id FROM range(12)")
    assert(graft.sources.GraftCatalog.rowCount("hp", "mo") == 12L)
    assert(graft.sources.GraftCatalog.segmentCount("hp", "mo") == 3,
      "12 rows over 3 months must land 3 segments")
    assert(spark.sql("SELECT sum(v) FROM graft.hp.mo WHERE d >= date'2024-03-01'")
      .as[Long].head() == (8L to 11L).sum)
    spark.sql("DROP TABLE graft.hp.mo")
  }

  test("temporal MIN/MAX answer from segment metadata — zero file reads") {
    spark.sql("DROP TABLE IF EXISTS graft.hp.mm")
    spark.sql("CREATE TABLE graft.hp.mm (ts TIMESTAMP_NTZ, d DATE, v BIGINT) USING graft")
    spark.sql(
      """INSERT INTO graft.hp.mm
        |SELECT timestamp_ntz'2024-02-01 00:00:00' + make_interval(0,0,0,0, int(id), 0, 0),
        |       date'2024-02-01' + int(id / 24), id
        |FROM range(72)""".stripMargin)
    val q = spark.sql("SELECT min(ts) AS lo, max(ts) AS hi, min(d) AS dlo, max(d) AS dhi, count(*) AS n FROM graft.hp.mm")
    val plan = q.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val aggScan = plan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }.collectFirst { case s: graft.sources.GraftCatalogAggScan => s }
    assert(aggScan.isDefined,
      s"unfiltered temporal MIN/MAX must push to the metadata agg scan:\n${plan.treeString}")
    val r = q.collect().head
    assert(r.getAs[java.time.LocalDateTime]("lo").toString == "2024-02-01T00:00")
    assert(r.getAs[java.time.LocalDateTime]("hi").toString == "2024-02-03T23:00")
    assert(r.getAs[java.sql.Date]("dlo").toString == "2024-02-01")
    assert(r.getAs[java.sql.Date]("dhi").toString == "2024-02-03")
    assert(r.getAs[Long]("n") == 72L)
    spark.sql("DROP TABLE graft.hp.mm")
  }

  test("set_partitioning parses comma-carrying transforms (top-level split)") {
    spark.sql("DROP TABLE IF EXISTS graft.hp.sp")
    spark.sql(
      "CREATE TABLE graft.hp.sp (ts TIMESTAMP_NTZ, k BIGINT, v BIGINT) USING graft")
    // 'days(ts),bucket(4,k)' must split at the TOP-LEVEL comma only —
    // bucket's inner comma is part of the field.
    spark.sql("CALL graft.system.set_partitioning('hp', 'sp', 'days(ts),bucket(4,k)')")
    spark.sql(
      """INSERT INTO graft.hp.sp
        |SELECT timestamp_ntz'2024-05-01 00:00:00', id, id FROM range(8)""".stripMargin)
    assert(graft.sources.GraftCatalog.rowCount("hp", "sp") == 8L)
    val parts = spark.sql("DESCRIBE TABLE EXTENDED graft.hp.sp").collect().map(_.toString)
    assert(parts.exists(_.contains("days(ts)")) && parts.exists(_.contains("bucket(4, k)")),
      s"evolved transform spec must show in DESCRIBE, got:\n${parts.mkString("\n")}")
    spark.sql("DROP TABLE graft.hp.sp")
  }

  test("invalid transform declarations refuse loudly") {
    spark.sql("DROP TABLE IF EXISTS graft.hp.bad")
    val e1 = intercept[Exception] {
      spark.sql("CREATE TABLE graft.hp.bad (v BIGINT) USING graft PARTITIONED BY (days(v))")
    }
    assert(e1.getMessage.contains("days"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql(
        "CREATE TABLE graft.hp.bad (ts TIMESTAMP) USING graft PARTITIONED BY (bucket(4, ts))")
    }
    assert(e2.getMessage.contains("bucket"), e2.getMessage)
    val e3 = intercept[Exception] {
      spark.sql("CALL graft.system.set_partitioning('hp', 'nope_missing', 'days(ts)')")
    }
    assert(e3 != null)
    // A width literal past Int range must refuse, not wrap (4294967297
    // narrows to truncate(1) via Number.intValue).
    val e4 = intercept[Exception] {
      spark.sql("CREATE TABLE graft.hp.bad (s STRING) USING graft " +
        "PARTITIONED BY (truncate(4294967297, s))")
    }
    assert(e4.getMessage.contains("does not fit"), e4.getMessage)
  }

  test("transform source columns resolve case-insensitively, stored in schema casing") {
    spark.sql("DROP TABLE IF EXISTS graft.hp.ci")
    // Schema declares `ts`; DDL references `TS` — Spark resolves
    // case-insensitively, so the catalog must too (and must store the
    // canonical field under the schema's casing, because every
    // downstream fieldIndex lookup is exact).
    spark.sql("CREATE TABLE graft.hp.ci (TS TIMESTAMP, v BIGINT) USING graft " +
      "PARTITIONED BY (days(ts))")
    spark.sql("INSERT INTO graft.hp.ci VALUES (TIMESTAMP'2024-01-15 10:00:00', 1), " +
      "(TIMESTAMP'2024-02-20 11:00:00', 2)")
    assert(spark.sql("SELECT sum(v) FROM graft.hp.ci").head().getLong(0) == 3L)
    // The stored partition field carries the schema's declared casing.
    val spec = spark.sql("SELECT DISTINCT spec FROM graft.hp.ci.files")
      .collect().map(_.getString(0)).toSet
    assert(spec == Set("days(TS)"), s"spec stored in schema casing, got $spec")
    spark.sql("DROP TABLE graft.hp.ci")
  }

  test("SQL-callable bucket/truncate reject zero/negative widths, null-propagate") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    val b = graft.sources.GraftBucketFunction.bind(
      StructType(Seq(StructField("n", IntegerType), StructField("v", LongType))))
      .asInstanceOf[graft.sources.GraftBucketBound]
    assert(b.produceResult(new GenericInternalRow(Array[Any](null, 5L))) == null)
    val eb = intercept[IllegalArgumentException] {
      b.produceResult(new GenericInternalRow(Array[Any](0, 5L)))
    }
    assert(eb.getMessage.contains("positive"))
    val en = intercept[IllegalArgumentException] {
      b.produceResult(new GenericInternalRow(Array[Any](-4, 5L)))
    }
    assert(en.getMessage.contains("positive"))
    val t = graft.sources.GraftTruncateFunction.bind(
      StructType(Seq(StructField("w", LongType), StructField("v", StringType))))
      .asInstanceOf[graft.sources.GraftTruncateBound]
    assert(t.produceResult(new GenericInternalRow(
      Array[Any](null, org.apache.spark.unsafe.types.UTF8String.fromString("abc")))) == null)
    val et = intercept[IllegalArgumentException] {
      t.produceResult(new GenericInternalRow(
        Array[Any](5000000000L, org.apache.spark.unsafe.types.UTF8String.fromString("abc"))))
    }
    assert(et.getMessage.contains("width"))
  }
}
