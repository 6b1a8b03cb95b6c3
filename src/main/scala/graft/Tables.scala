package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Central loader for the driver-generated parquet tables
  * (/root/repo/TESTDATA.md). One parquet file per table under the
  * scale-factor dir passed to every query.
  *
  * Scale note: `spark.read.parquet` gives the vectorized columnar scan
  * with predicate pushdown + column pruning — at 100 TB the same call
  * reads a partitioned directory tree and Catalyst prunes partitions;
  * nothing here assumes a single file.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Footer-schema cache keyed on (path, size, mtime). Schema INFERENCE
    * for a bare `spark.read.parquet` is a Spark JOB (footer read +
    * merge), paid per `table()` call — `registerAll` alone launched 10
    * of them per invocation, which profiling showed was most of the
    * wall time of every SQL-entry query at bench SF (q14: 13 jobs,
    * 0.3 s of task time, 1.2 s wall). A real deployment stores table
    * schemas in its catalog and pays inference never; this cache is
    * that catalog metadata, scoped to the JVM. The size+mtime key
    * invalidates on testdata regeneration (the StreamingOps staging
    * discipline); data is never cached — every query still scans the
    * parquet.
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val f = new java.io.File(path)
    // Schema-affecting session conf folded into the key: events.ts
    // infers as LongType only under nanosAsLong, so a cache shared
    // between sessions with different flag values must not cross-serve
    // (events() sets the flag before its read when the file needs it,
    // but the cache must not depend on caller ordering).
    val nanosFlag = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    val key = s"$path:${f.length}:${f.lastModified}:$nanosFlag"
    var schema = schemaCache.get(key)
    if (schema == null) {
      schema = spark.read.parquet(path).schema
      schemaCache.put(key, schema)
    }
    spark.read.schema(schema).parquet(path)
  }

  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  /** The driver has shipped `events.ts` in two physical encodings across
    * testdata generations: parquet TIMESTAMP(NANOS) (which Spark's
    * vectorized reader only accepts as a raw long via `nanosAsLong`) and
    * plain TIMESTAMP(MICROS) without UTC adjustment (which Spark reads as
    * TIMESTAMP_NTZ). Adapt on the actual file schema so a testdata
    * regeneration cannot silently break every events query: either way
    * the column is normalized to a µs-precision TimestampType, which with
    * the session timezone pinned to UTC is value-identical to DuckDB's
    * naive TIMESTAMP reading of the same file.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    nanosAsLongIfNeeded(spark, dir)
    canonicalTs(table(spark, dir, "events"))
  }

  /** `ts` as a µs TimestampType whichever encoding it was read in
    * (shared with `StreamingOps.eventsStream`).
    */
  private[graft] def canonicalTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      // `div`, not `/`: ns epochs (~1.7e18) exceed a double's 53-bit
      // mantissa, so float division truncates off-by-1µs on some rows —
      // invisible to windowed aggregates, fatal to exact-µs arithmetic
      // (w5_sessionize durations). Integer division is exact.
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }

  /** Set `spark.sql.legacy.parquet.nanosAsLong=true` only when the footer
    * of `dir/events.parquet` declares `ts` as TIMESTAMP(NANOS), the one
    * encoding Spark cannot read without it (a footer read, no Spark
    * job). Deliberately session-wide and NOT restored when it fires:
    * the flag must still be set when the returned lazy frames plan (a
    * stream plans every batch later), and [[canonicalTs]] converts `ts`
    * at once, so no other read observes it.
    */
  private[graft] def nanosAsLongIfNeeded(spark: SparkSession, dir: String): Unit = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(s"$dir/events.parquet"), spark.sparkContext.hadoopConfiguration))
    val schema = try reader.getFooter.getFileMetaData.getSchema finally reader.close()
    val nanos = schema.containsField("ts") &&
      (schema.getType(schema.getFieldIndex("ts")).getLogicalTypeAnnotation match {
        case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
        case _ => false
      })
    if (nanos) spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
  }
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** Rebalance a NARROW relation before a CPU-heavy per-row stage
    * (n-gram md5 hashing, shingle/signature kernels, PQ encode). The
    * driver testdata is ONE row group per parquet file, so a bare scan
    * plans one task and the whole downstream stage runs on one core no
    * matter how many the cluster has — the "unsplittable input" skew of
    * guide §2.5, fixed the way the guide says: repartition right after
    * the read. Conditional and cluster-adaptive: fires only when the
    * scan plans fewer partitions than `defaultParallelism`, so at 100 TB
    * (thousands of splits) it is a no-op and no shuffle is added. Apply
    * ONLY where per-row work dominates one narrow-row shuffle and the
    * consumer is an aggregate/join (row order free), so redistribution
    * cannot change results.
    *
    * PRECONDITION: `df` must be SCAN-ROOTED (a table/parquet read plus
    * row-local projections/filters, or a persisted scan) — the
    * partition probe below reads `df.rdd`, which compiles the physical
    * plan, and under AQE that EXECUTES any shuffle stages beneath it as
    * real jobs whose results are then discarded (repartition builds a
    * new plan). Asserted on the optimized plan: no aggregate, join,
    * repartition, window or global sort may sit below the frame (a
    * persisted frame is an `InMemoryRelation` leaf there).
    */
  def fanOut(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    val exchange = df.queryExecution.optimizedPlan.find {
      case _: Aggregate | _: Join | _: RepartitionOperation | _: RebalancePartitions |
           _: Window => true
      case s: Sort => s.global
      case _ => false
    }
    require(exchange.isEmpty,
      s"Tables.fanOut needs a scan-rooted frame, found ${exchange.get.nodeName} below it")
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Register every table as a temp view (used by SQL-entry queries and
    * tests). `events` goes through its ns→µs loader — a plain read
    * throws on a TIMESTAMP(NANOS) column unless the legacy conf is
    * already set.
    *
    * MEMOIZED per (session, dir, file signature): 19 SQL-entry rows call
    * this on every invocation, and each call built 10 fresh DataFrames
    * (10 file-index creations) plus 10 view re-registrations — pure
    * driver-side analysis cost repeated per bench rep. A real catalog
    * registers a table once; this memo is that, scoped to the session.
    * The signature covers every table's (size, mtime), so testdata
    * regeneration or a dir switch re-registers; sessions are weak keys
    * so cloned sessions (u6) don't accumulate. The sentinel existence
    * check guards against a caller having dropped one of the views.
    */
  private val registeredViews =
    new java.util.WeakHashMap[SparkSession, String]()

  def registerAll(spark: SparkSession, dir: String): Unit = {
    val sig = dir + "|" + all.map { n =>
      val f = new java.io.File(s"$dir/$n.parquet")
      s"${f.length}:${f.lastModified}"
    }.mkString(",")
    val fresh = registeredViews.synchronized {
      registeredViews.get(spark) == sig
    } && all.forall(n => spark.sessionState.catalog.getTempView(n).isDefined)
    if (fresh) return
    all.foreach { n =>
      val df = if (n == "events") events(spark, dir) else table(spark, dir, n)
      df.createOrReplaceTempView(n)
    }
    registeredViews.synchronized { registeredViews.put(spark, sig) }
  }
}
