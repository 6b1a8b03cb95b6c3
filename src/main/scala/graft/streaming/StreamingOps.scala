package graft.streaming

import graft.{SessionConf, Tables}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured-Streaming plumbing (SURVEY.md §2b ST1–ST9).
  *
  * `eventsStream` replays the judged `events` parquet as an unbounded
  * file-source stream; `runToBatch` drives a streaming DataFrame to
  * completion with `Trigger.AvailableNow` into a memory sink and returns
  * the materialized result as a batch DataFrame. That keeps every ST
  * operator on the real incremental execution path (state store,
  * watermarks, output modes) while still producing a deterministic
  * DataFrame the differential oracle can hash.
  *
  * Every stream the engine starts runs with
  * `spark.sql.streaming.checkpointFileManagerClass` naming
  * [[NioCheckpointFileManager]] ([[withStreamConfs]], [[withCheckpoint]]).
  * Without the native Hadoop library, Spark's default manager forks one
  * `chmod` process per checkpoint file it creates and one `readlink` per
  * rename — most of a micro-batch's state-store commit time.
  *
  * Every stream the engine starts also ends through [[drain]], so a
  * finished stream releases its state stores. Spark leaves a stateful
  * query's providers loaded after it stops until its maintenance pass
  * (every 60 s by default) sees the run is gone; each provider holds
  * its in-memory state maps and a 4-thread checksum checkpoint pool
  * until then, far longer than a bounded replay lasts. In cluster mode
  * the providers live on the executors: the release does nothing on
  * the driver, and Spark's maintenance pass still unloads them there.
  *
  * At 100 TB the same code points `readStream` at an arriving directory
  * tree and swaps the memory sink for a parquet/Kafka sink — the plan,
  * state management, and watermark semantics are identical; only the
  * boundary I/O changes.
  */
object StreamingOps {

  /** The file stream source lists a DIRECTORY of arriving files; the
    * testdata table is a single file, so stage it into a per-sf temp dir.
    * The copy is refreshed whenever the source's size or mtime differs —
    * a skip-if-exists copy would silently replay STALE bytes against a
    * fresh batch oracle after testdata regeneration. At 100 TB the
    * directory IS the ingest landing zone and this staging step
    * disappears.
    */
  private def stagedEventsDir(dir: String): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    // "d" prefix: the sanitized name would otherwise start with "_"
    // (from the leading "/"), and Hadoop treats leading-underscore
    // basenames as HIDDEN paths — batch-side resolution then logs
    // "All paths were ignored" per stream start and any listing-based
    // consumer would skip the directory outright.
    val stage = Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_stream",
      "d" + dir.replaceAll("[^a-zA-Z0-9]", "_"))
    Files.createDirectories(stage)
    val src = Paths.get(dir, "events.parquet")
    val dst = stage.resolve("events.parquet")
    val stale = !Files.exists(dst) ||
      Files.size(dst) != Files.size(src) ||
      Files.getLastModifiedTime(dst) != Files.getLastModifiedTime(src)
    if (stale) {
      try Files.copy(src, dst,
        StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.COPY_ATTRIBUTES)
      catch {
        case e: java.nio.file.FileSystemException =>
          // Tolerate ONLY a lost race with a concurrent stager that
          // completed the identical copy; any other failure (disk full,
          // permissions, truncated dst) must not silently hand stale or
          // partial bytes to a query whose oracle reads fresh data.
          if (!(Files.exists(dst) && Files.size(dst) == Files.size(src))) throw e
      }
    }
    stage.toString
  }

  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    // Same flag, schema and ts canonicalization as the batch loader: the
    // file source needs an explicit schema, and only the file's REAL one
    // is right across testdata generations (a hardcoded LongType once
    // read µs as ns and compressed every timestamp 1000×).
    Tables.nanosAsLongIfNeeded(spark, dir)
    val schema = Tables.table(spark, dir, "events").schema
    Tables.canonicalTs(spark.readStream.schema(schema).parquet(stagedEventsDir(dir)))
  }

  /** State partitions for every stream the engine runs. State-store
    * commit overhead scales with partition count (delta files +
    * maintenance per partition per batch), and the judged replay is a
    * single batch of ≤1M rows — 4 partitions more than covers it
    * (measured: 32→8 halves stream-stream join wall time; 8→4 shaves
    * another ~20% off the join and is noise-level for the rest). It is
    * sized to the stateful work, not the relational shuffle default,
    * which is why it is set per streaming query and restored after.
    */
  val StatePartitions = 4

  /** Run a streaming DataFrame to completion into a memory sink; return
    * the sink table. `complete` mode for windowed aggregations (all
    * windows emitted at end), `append`/`update` for row-wise ops. The
    * stream ends through [[drain]], which releases its state stores
    * instead of leaving them to Spark's 60 s maintenance pass (a local
    * JVM only; see [[drain]] for cluster mode).
    */
  def runToBatch(
      spark: SparkSession,
      sdf: DataFrame,
      mode: String,
      name: String): DataFrame = {
    withStreamConfs(spark, sdf) {
      drain(sdf.writeStream
        .format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(Trigger.AvailableNow())
        .start())
    }
    // Materialize off the sink and drop it: the memory sink holds the
    // full result on the driver, and leaked sink tables from a batch of
    // streaming queries degrade later queries in the same session.
    // (r21 measured a LocalRelation lift of the sink rows instead —
    // fewer jobs on paper, but two st-family A/Bs showed no win, so the
    // checkpointed form stays.)
    val out = spark.table(name).localCheckpoint()
    spark.catalog.dropTempView(name)
    out
  }

  /** Drive a streaming DataFrame through `foreachBatch` to completion
    * (same conf discipline as [[runToBatch]]). For queries whose raw
    * stream output is large but whose per-batch AGGREGATE is small —
    * e.g. a stream-stream join emitting O(pairs) rows that reduce to a
    * handful of groups: the reduction runs on the executors inside each
    * micro-batch and only the reduced rows ever reach the driver,
    * instead of the memory sink accumulating every raw pair. The stream
    * ends through [[drain]], which releases its state stores instead of
    * leaving them to Spark's 60 s maintenance pass (a local JVM only;
    * see [[drain]] for cluster mode).
    */
  def runForeachBatch(
      spark: SparkSession,
      sdf: DataFrame,
      f: (DataFrame, Long) => Unit): Unit =
    withStreamConfs(spark, sdf) {
      drain(sdf.writeStream
        .outputMode("append")
        .foreachBatch(f)
        .trigger(Trigger.AvailableNow())
        .start())
    }

  /** Wait for `q` to terminate, then release exactly its state stores:
    * every provider its last executed plan loaded in this JVM is closed
    * and unloaded, also when the query failed. Spark would otherwise
    * keep them, with their state maps and checksum thread pools, until
    * its maintenance pass (every 60 s) notices the run is inactive.
    * Other queries' providers stay loaded. In cluster mode the
    * providers live on the executors, so this does nothing on the
    * driver and Spark's maintenance pass still unloads them there.
    */
  def drain(q: StreamingQuery): Unit =
    try q.awaitTermination()
    finally GraftSqlBridge.releaseStateStores(q)

  /** The conf that makes `CheckpointFileManager.create` build
    * [[NioCheckpointFileManager]] for a stream started in its scope.
    * Spark still wraps it in its checksum manager, so checkpoint
    * checksums stay on.
    */
  private val CheckpointFiles =
    "spark.sql.streaming.checkpointFileManagerClass" -> classOf[NioCheckpointFileManager].getName

  /** Run `body`, which starts a stream of its own, with a fresh
    * checkpoint directory under `java.io.tmpdir` (named from `prefix`)
    * that [[NioCheckpointFileManager]] serves. The directory is deleted
    * once `body` returns or throws, so `body` must end its stream with
    * [[drain]] before it returns: that waits for the stream and releases
    * its state stores instead of leaving them to Spark's 60 s
    * maintenance pass, like [[runToBatch]] does (a local JVM only; see
    * [[drain]] for cluster mode).
    */
  def withCheckpoint[T](spark: SparkSession, prefix: String)(body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try SessionConf.withConfs(spark)(CheckpointFiles)(body(dir.toString))
    finally NioCheckpointFileManager.deleteRecursively(dir)
  }

  /** The replay harness's conf for one streaming run of `sdf`:
    *  - `spark.sql.streaming.checkpointFileManagerClass`:
    *    [[NioCheckpointFileManager]], because without the native Hadoop
    *    library the default manager forks one process per checkpoint
    *    file it creates and one per rename (see the header);
    *  - `spark.sql.shuffle.partitions`: the state partitions (above);
    *  - `spark.sql.streaming.minBatchesToRetain` = 2 instead of the
    *    default 100 — recovery-window tuning a bounded replay doesn't
    *    need;
    *  - `spark.sql.streaming.noDataMicroBatches.enabled` = false, only
    *    when [[evictionIsSilent]] proves that a batch which merely
    *    advances the watermark emits no row. Such a batch runs after
    *    the last data batch only to evict state; skipping it leaves the
    *    sink's rows unchanged (st8's inner join: 2 batches → 1). A plan
    *    the rule cannot prove keeps Spark's default — st13's append-mode
    *    window aggregate emits its final windows in exactly that batch.
    */
  private[graft] def withStreamConfs[T](spark: SparkSession, sdf: DataFrame)(body: => T): T = {
    val confs = Seq(
      CheckpointFiles,
      "spark.sql.streaming.minBatchesToRetain" -> "2",
      "spark.sql.shuffle.partitions" -> StatePartitions.toString) ++
      (if (evictionIsSilent(sdf.queryExecution.analyzed))
        Seq("spark.sql.streaming.noDataMicroBatches.enabled" -> "false")
      else Nil)
    SessionConf.withConfs(spark)(confs: _*)(body)
  }

  /** Whether a batch that only advances the watermark is sure to emit
    * no row of this streaming plan: every stateful operator is a
    * stream–stream `Inner` join (it emits a pair in the batch where the
    * second row arrives and drops an unmatched row silently on
    * eviction), `Deduplicate` or `DeduplicateWithinWatermark` (they emit
    * a key's first row on arrival). Anything else keeps the no-data batch:
    * `Aggregate` (windows, session windows), the group-state operators
    * (they may emit on timeout or timer), a non-inner stream–stream join
    * (it emits null-padded rows on eviction), and every streaming node
    * this rule does not recognise. Static subtrees hold no state.
    */
  private[graft] def evictionIsSilent(plan: LogicalPlan): Boolean = plan match {
    case p if !p.isStreaming => true
    case j: Join if j.left.isStreaming && j.right.isStreaming =>
      j.joinType == Inner && j.children.forall(evictionIsSilent)
    case _: Join | _: Deduplicate | _: DeduplicateWithinWatermark | _: Project |
         _: Filter | _: EventTimeWatermark | _: SubqueryAlias | _: Union | _: LeafNode =>
      plan.children.forall(evictionIsSilent)
    case _ => false
  }
}
