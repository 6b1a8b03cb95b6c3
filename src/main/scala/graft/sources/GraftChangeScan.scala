package graft.sources

import scala.collection.immutable.BitSet

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow, JoinedRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** BATCH CHANGE-DATA-FEED over a catalog table (the Delta
  * `table_changes` / Iceberg changelog-scan shape): the NET row-level
  * difference between two retained snapshots, served as a distributed
  * scan whose cost is proportional to the CHANGED data, never the table.
  *
  * Surface:
  * {{{
  *   spark.read
  *     .option("changesFrom", "1")     // version number or tag name
  *     .option("changesTo", "3")      // optional; default current version
  *     .table("graft.ns.t")
  * }}}
  * Output = the table's columns plus `_change_type` ('insert' |
  * 'delete' | 'update_preimage' | 'update_postimage'). A copy-on-write
  * UPDATE commit carries rewrite provenance (added segment → source
  * segment, recorded at commit, `CatalogSnapshot.rewrites`), and the
  * feed reads each (source, rewritten) pair IN LOCKSTEP, emitting the
  * paired pre/post images for exactly the rows whose bytes changed —
  * the Delta CDF `table_changes` update shape. Rows the rewrite copied
  * unchanged emit nothing. Where provenance is absent (partitioned
  * rewrites, MERGE, row-count changes), the commit degrades to the
  * delete+insert pair form — always net-correct, just unpaired.
  *
  * BOUND CONVENTION — `changesFrom` is EXCLUSIVE: the feed is the diff
  * of snapshot STATES, `live(to) \ live(from)` — changes made BY
  * commit `from` itself are not included (they are part of reaching
  * state `from`). Delta's `table_changes(start, end)` start bound is
  * INCLUSIVE of the start commit; to get that behavior here, pass
  * `changesFrom = start - 1`. Both feed modes (batch and streaming)
  * use the same convention.
  *
  * Semantics are the NET diff of live row sets (live(to) \ live(from) as
  * inserts, live(from) \ live(to) as deletes), computed STRUCTURALLY
  * from the segment lists — a pure metadata diff at plan time:
  *  - a segment only in `to` plans one 'insert' split over its
  *    live-at-`to` rows;
  *  - a segment only in `from` plans one 'delete' split over its
  *    live-at-`from` rows;
  *  - a segment in both whose deletion vector GREW plans one 'delete'
  *    split emitting exactly the dv-delta ordinals (merge-on-read
  *    deletes surface row-accurately without any rewrite).
  * Unchanged segments plan nothing. At 100 TB that is the whole point:
  * a day of appends + scattered deletes over a petabyte table reads
  * only the day's segments and the dv'd positions.
  *
  * Honest cap: a maintenance rewrite that rewrites rows into new files
  * without changing them (compaction / Z-order) is indistinguishable
  * from churn at this layer and will surface as delete+insert pairs of
  * identical rows — net-correct, but noisy; diff across the rewrite
  * only if that's acceptable. A schema change between the two versions
  * makes old segments unreadable under the new layout, so it fails
  * loudly rather than mis-decoding.
  */
/** Format entry point for the change feed. A `.table()` read cannot
  * widen the relation schema (the analyzer resolves columns against
  * the TABLE, before any scan exists), so — like Delta's
  * `readChangeFeed` — the CDF is its own source:
  * {{{
  *   spark.read.format("graft-changes")
  *     .option("table", "ns.t")
  *     .option("changesFrom", "1")        // version or tag — EXCLUSIVE
  *                                        // (state diff; Delta-style
  *                                        // inclusive start = pass start-1)
  *     .option("changesTo", "stable")     // optional; default current
  *     .load()
  * }}}
  * Registered as `graft-changes` via DataSourceRegister (also reachable
  * by class name). State is the shared catalog singleton, so it reads
  * whatever the session's graft catalog committed.
  */
class GraftChangeFeed extends org.apache.spark.sql.connector.catalog.TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  import java.util.{Map => JMap}
  import org.apache.spark.sql.connector.expressions.Transform
  import org.apache.spark.sql.util.CaseInsensitiveStringMap

  override def shortName(): String = "graft-changes"

  /** Identifier + option strings only — NO snapshot resolution here:
    * load()/getTable run on every stream (re)start, and a checkpointed
    * stream must come up even when the original `changesFrom` version
    * has aged out of retention (only offsets matter then). Batch reads
    * resolve eagerly inside the scan's toBatch.
    */
  private def resolve(options: CaseInsensitiveStringMap)
      : (Identifier, String, Option[String]) = {
    val t = Option(options.get("table")).getOrElse(
      throw new IllegalArgumentException(
        "graft-changes requires option 'table' = '<namespace>.<name>'"))
    val parts = t.split('.')
    require(parts.length >= 2, s"graft-changes table '$t' must be namespace-qualified")
    val ident = Identifier.of(parts.init, parts.last)
    val from = Option(options.get("changesFrom")).getOrElse(
      throw new IllegalArgumentException("graft-changes requires option 'changesFrom'"))
    (ident, from, Option(options.get("changesTo")))
  }

  private def currentSchema(ident: Identifier): StructType = {
    GraftCatalog.refreshIfStale(ident) // see the stream's currentVersion note
    GraftCatalog.retainedSnapshots(ident).lastOption.map(_.schema).getOrElse(
      throw new IllegalArgumentException(
        s"change feed over $ident: table has no committed snapshots"))
  }

  /** The data schema the feed ADVERTISES must match what the reader
    * DECODES: a bounded range pinned inside a pre-evolution epoch reads
    * old-layout rows, so advertise the `changesTo` snapshot's schema
    * when it is retained (the batch reader's own layout); otherwise the
    * current schema (unbounded feeds end at current, and a
    * checkpoint-resumed stream's per-commit guard enforces match).
    */
  private def feedDataSchema(ident: Identifier, toStr: Option[String]): StructType =
    toStr.flatMap { s =>
      try GraftCatalog.snapshotByVersion(
        ident, GraftChangeScan.resolveBoundVersion(ident, s)).map(_.schema)
      catch { case _: IllegalArgumentException => None }
    }.getOrElse(currentSchema(ident))

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val (ident, from, to) = resolve(options)
    GraftChangeFeedScan(ident, from, to, feedDataSchema(ident, to)).readSchema()
  }

  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): org.apache.spark.sql.connector.catalog.Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val (ident, from, to) = resolve(opts)
    // Honor the schema Spark hands back (the inferSchema result, i.e.
    // readSchema = data + _change_type) instead of re-resolving live
    // catalog state: a schema-evolving commit landing between analysis
    // and scan construction must not shift the advertised schema
    // mid-query — the analyzer already resolved columns against THIS
    // one, so it is the single consistent view for the whole read.
    val data: StructType =
      if (schema.nonEmpty && schema.fields.last.name == "_change_type")
        StructType(schema.fields.dropRight(1))
      else feedDataSchema(ident, to) // defensive: unexpected caller-supplied schema
    new org.apache.spark.sql.connector.catalog.Table
        with org.apache.spark.sql.connector.catalog.SupportsRead {
      override def name(): String =
        s"graft-changes($ident, from=$from${to.fold("")(t => s", to=$t")})"
      override def schema(): StructType =
        GraftChangeFeedScan(ident, from, to, data).readSchema()
      override def capabilities(): java.util.Set[
          org.apache.spark.sql.connector.catalog.TableCapability] =
        java.util.EnumSet.of(
          org.apache.spark.sql.connector.catalog.TableCapability.BATCH_READ,
          org.apache.spark.sql.connector.catalog.TableCapability.MICRO_BATCH_READ)
      override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
        new ScanBuilder {
          override def build(): Scan =
            GraftChangeFeedScan(ident, from, to, data)
        }
    }
  }
}

/** One change split: emit `file`'s rows as `changeType`, skipping
  * `skip` ordinals (the dv at the emitting snapshot), and — when
  * `emitOnly` is set — emitting ONLY those ordinals (the dv-delta
  * delete case).
  */
private[sources] case class GraftChangePartition(
    file: GraftSegFile, numFields: Int, changeType: String,
    emitOnly: Option[BitSet], fileBytes: Long = 0L) extends InputPartition

/** One PAIRED update split (a CoW-UPDATE-rewritten segment with
  * recorded provenance): read `pre` (live rows, skipping its dv) and
  * `post` in lockstep — same live ordinal = same logical row — and for
  * each position whose row bytes CHANGED emit the `update_preimage` /
  * `update_postimage` pair; byte-identical positions (rows the rewrite
  * copied untouched) emit nothing. Planned only when live(pre) ==
  * rows(post), which a cardinality-preserving UPDATE guarantees.
  */
private[sources] case class GraftChangeUpdatePartition(
    pre: GraftSegFile, post: GraftSegFile, numFields: Int,
    fileBytes: Long = 0L) extends InputPartition

/** One EQUALITY-DELETE delta split: emit as `changeType` the rows of
  * `file` that a filter in `newKeys` matches (an eq delete present at
  * one endpoint only: 'delete' when it appeared, 'insert' when a
  * RESTORE removed it and resurrected the rows) — skipping `file.dv`
  * (rows whose transition the dv-delta splits report) and rows
  * `file.eq` kills at the OTHER endpoint (dead there too → no net
  * change).
  */
private[sources] case class GraftChangeEqDeletePartition(
    file: GraftSegFile, numFields: Int, newKeys: Seq[EqFilter],
    changeType: String = "delete", fileBytes: Long = 0L) extends InputPartition

private[sources] case class GraftChangeScan(
    ident: Identifier, from: GraftCatalog.CatalogSnapshot,
    to: GraftCatalog.CatalogSnapshot) extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  /** A range that changed no logical row reads as ZERO rows, so the
    * cross-epoch decode guard below does not apply — nothing will be
    * decoded.
    */
  private lazy val noLogicalChange: Boolean =
    GraftChangeScan.noLogicalChange(ident, from.version, to.version)

  private def dataSchema: StructType = {
    // Loud guard, not silent corruption: segments written under a
    // different layout cannot be decoded by field-count-shifted
    // readers. Exempt when the range provably changed no logical row
    // (nothing decodes), so a migration-only span diffs empty instead
    // of refusing.
    require(noLogicalChange ||
      GraftChangeScan.decodeCompatible(from.schema, to.schema),
      s"change feed over $ident: schema changed between version " +
        s"${from.version} and ${to.version}; diff within one schema epoch")
    to.schema
  }

  override def readSchema(): StructType =
    StructType(dataSchema.fields :+
      StructField("_change_type", StringType, nullable = false))
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftChangeScan($ident, from=v${from.version}, to=v${to.version})"

  // Planned ONCE per scan: the optimizer's estimateStatistics call and
  // execution's planInputPartitions would otherwise each pay the full
  // metadata walk — including EqFilter.compileAll's key-set builds,
  // the expensive part on large outstanding upsert sets. `from`/`to`
  // are immutable resolved snapshots, so caching is semantics-free.
  private lazy val planned: Array[InputPartition] =
    GraftChangeScan.diffPartitions(ident, from, to, dataSchema)

  override def planInputPartitions(): Array[InputPartition] = planned

  override def createReaderFactory(): PartitionReaderFactory =
    GraftChangeReaderFactory(dataSchema)

  /** Exact row/size stats from the planned diff — the usual CDC
    * consumer is `MERGE INTO target USING changes`, and a small diff
    * should auto-broadcast into that join instead of shuffling the
    * target. Derived from the same metadata the planner just walked.
    */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val parts = planned
    def emitted(p: InputPartition): Long = p match {
      case c: GraftChangePartition =>
        c.emitOnly.map(_.size.toLong).getOrElse(
          c.file.rows - c.file.dv.map(_.size.toLong).getOrElse(0L))
      // Paired update split: emits ≤ 2 × live rows (only CHANGED
      // positions emit; unknowable without reading — bound above).
      case u: GraftChangeUpdatePartition => 2L * u.post.rows
      // Eq-delta split: emits at most the newly-matched keys.
      case e: GraftChangeEqDeletePartition =>
        math.min(e.file.rows, e.newKeys.map(_.keys.size.toLong).sum)
      case _ => 0L
    }
    val rows = parts.map(emitted).sum
    // REAL file bytes scaled by the emitted-row fraction — a flat
    // bytes-per-field guess undercounts wide string rows badly enough
    // to wrongly auto-broadcast a multi-hundred-MB diff.
    val bytes = parts.map {
      case c: GraftChangePartition if c.fileBytes > 0 && c.file.rows > 0 =>
        (c.fileBytes * emitted(c)) / c.file.rows
      case u: GraftChangeUpdatePartition if u.fileBytes > 0 => u.fileBytes
      // Eq-delta splits carry real file bytes too — a wide-row MoR
      // upsert diff dominated by these must not fall to the flat
      // guess the comment above warns about.
      case e: GraftChangeEqDeletePartition if e.fileBytes > 0 && e.file.rows > 0 =>
        (e.fileBytes * emitted(e)) / e.file.rows
      case p => emitted(p) * 8L * (dataSchema.length + 2)
    }.sum.max(if (rows > 0) 1L else 0L)
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes: java.util.OptionalLong = java.util.OptionalLong.of(bytes)
      override def numRows: java.util.OptionalLong = java.util.OptionalLong.of(rows)
    }
  }
}

/** STREAMING change feed (`spark.readStream.format("graft-changes")`):
  * the table's commit history replayed as row-level CDC micro-batches —
  * each batch is the structural diff between two committed versions
  * (insert rows from added segments, delete rows from removed segments
  * and deletion-vector deltas), with `_change_type` attached. Unlike
  * the plain catalog stream (append-only, change commits fail or skip),
  * this source EXPRESSES deletes/updates as data — the feed a
  * downstream MERGE keeps a replica in sync with. Offsets are plain
  * versions; a restart resumes from the checkpoint; falling behind
  * retention fails loudly with the same remedy message as the catalog
  * stream.
  */
/** The Scan handed to Spark by the `graft-changes` source. Version
  * RESOLUTION is mode-dependent, which is why this wrapper exists:
  *  - BATCH resolves both endpoints eagerly (an expired version is an
  *    immediate, correct error);
  *  - STREAMING must NOT resolve `changesFrom` to a snapshot at all —
  *    it is only the INITIAL offset, consulted when no checkpoint
  *    exists. A restarted stream whose checkpoint is at v100 must not
  *    die because v0 aged out of retention (or its schema epoch) —
  *    only the string→version mapping is needed, never the snapshot.
  *    `changesTo`, when set, bounds the stream: offsets never advance
  *    past it (the feed drains and idles — the batch option means the
  *    same thing in both modes).
  */
private[sources] case class GraftChangeFeedScan(
    ident: Identifier, fromStr: String, toStr: Option[String],
    dataSchema: StructType) extends Scan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  private def snap(s: String): GraftCatalog.CatalogSnapshot = {
    val v = GraftChangeScan.resolveBoundVersion(ident, s)
    GraftCatalog.snapshotByVersion(ident, v).getOrElse(
      throw new IllegalArgumentException(
        s"change feed over $ident: version $v is expired or never committed"))
  }
  // Lazy val, not def: estimateStatistics (optimization) and toBatch
  // (execution) must see ONE resolved view — re-resolving an unbounded
  // feed's `to` endpoint at each call would let a commit landing
  // between the two shift the diff under the planned statistics.
  private lazy val resolvedBatch: GraftChangeScan = {
    val to = toStr.map(snap).getOrElse(
      GraftCatalog.retainedSnapshots(ident).lastOption.getOrElse(
        throw new IllegalArgumentException(
          s"change feed over $ident: table has no committed snapshots")))
    // The batch must decode into the schema the ANALYZER planned with
    // (`dataSchema`, fixed at getTable time), not merely into `to`'s
    // own layout: a schema-evolving commit — or a tag move onto one —
    // landing between analysis and execution would otherwise ship
    // rows of a different arity into a physical plan expecting the
    // advertised one (mismapped values, not a loud error). Same guard
    // the stream applies per-commit.
    require(GraftChangeScan.decodeCompatible(to.schema, dataSchema),
      s"change feed over $ident: table layout evolved between analysis " +
        s"(${dataSchema.simpleString}) and execution (${to.schema.simpleString}); " +
        "re-run the query")
    GraftChangeScan(ident, snap(fromStr), to)
  }

  override def readSchema(): StructType =
    StructType(dataSchema.fields :+
      StructField("_change_type", StringType, nullable = false))
  override def toBatch: Batch = resolvedBatch
  override def toMicroBatchStream(
      checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    // Bound strings pass through UNRESOLVED: a timestamp (or tag) bound
    // maps to a version via retained snapshots, and resolving it here
    // would kill a checkpointed restart once pre-bound snapshots
    // expire — the exact contract violation the scan doc above calls
    // out. The stream resolves `from` only in initialOffset() (no
    // checkpoint exists then, so failing loudly IS correct).
    new GraftChangeMicroBatchStream(ident, fromStr, toStr, dataSchema)
  override def description(): String =
    s"GraftChangeFeedScan($ident, from=$fromStr${toStr.fold("")(t => s", to=$t")})"
  /** Real stats for the batch/MERGE path; a streaming context where
    * the start version already expired must not die in an estimate.
    */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    try resolvedBatch.estimateStatistics()
    catch {
      case _: IllegalArgumentException =>
        new org.apache.spark.sql.connector.read.Statistics {
          override def sizeInBytes: java.util.OptionalLong = java.util.OptionalLong.empty()
          override def numRows: java.util.OptionalLong = java.util.OptionalLong.empty()
        }
    }
}

private[sources] class GraftChangeMicroBatchStream(
    ident: Identifier, fromStr: String, toStr: Option[String],
    dataSchema: StructType)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  @volatile private var availableNowTarget: Option[Long] = None

  /** Forced ONLY from initialOffset(): with a checkpoint, the offset
    * is all that matters and the original `changesFrom` string may no
    * longer map to anything (its snapshots aged out).
    */
  private lazy val startVersion: Long =
    GraftChangeScan.resolveBoundVersion(ident, fromStr)
  /** The end bound IS consulted on every batch, so an expired
    * timestamp/tag mapping degrades instead of failing the restart.
    * `Some(None)` = bound whose mapping expired: the true bound is
    * provably BELOW the oldest retained snapshot, so every version the
    * bound could still admit has ALSO expired — there is nothing this
    * stream can ever deliver again, and the admission path pins the
    * offset in place (see latestOffset). A drained bounded stream
    * restarts and idles; a stream that genuinely fell behind idles at
    * its checkpoint too — the undeliverable range is gone either way,
    * and the stable offset leaves the evidence intact for the operator
    * (vs a crash loop that says the same thing louder). ONLY the
    * expiry shape degrades — a malformed or unknown bound still fails
    * loudly; clamping a typo'd changesTo would silently idle a healthy
    * stream.
    */
  private def resolvedEnd: Option[Option[Long]] = toStr.map { s =>
    try Some(GraftChangeScan.resolveBoundVersion(ident, s))
    catch { case _: GraftChangeScan.ExpiredBoundException => None }
  }
  private def endDegraded: Boolean = resolvedEnd.contains(None)

  private def snapshotOrFail(v: Long): GraftCatalog.CatalogSnapshot = {
    val s = GraftCatalog.snapshotByVersion(ident, v).getOrElse(
      throw new IllegalStateException(
        s"change-feed stream of $ident: snapshot v$v is no longer retained — the " +
          "stream (or its checkpoint) fell behind the retention window; raise " +
          "graft.catalog.retention.seconds / .snapshots (or the table's " +
          "'graft.retention.seconds' / '.snapshots' TBLPROPERTIES) or restart " +
          "from a fresh checkpoint"))
    // Compare only what DECODING depends on (decodeCompatible). Full
    // StructType equality includes nullability and field metadata, and
    // a metadata-only table change (no physical layout change) would
    // permanently wedge the stream: every restart re-resolves the
    // current schema, yet all pre-change commits would still compare
    // unequal despite being byte-decodable.
    if (!GraftChangeScan.decodeCompatible(s.schema, dataSchema))
      throw new IllegalStateException(
        s"change-feed stream of $ident: commit v$v was written under a different " +
          s"schema (${s.schema.simpleString} vs ${dataSchema.simpleString}); restart " +
          "the stream to pick up the evolved schema")
    s
  }

  /** Deliberately does NOT consult `startVersion` (latestOffset maxes
    * with the live offset instead): forcing the lazy resolution here
    * would re-introduce the restart-after-expiry failure on every
    * progress report.
    */
  private def currentVersion: Long = {
    // Cross-process tail: another driver's commits only become visible
    // through the ledger — sync before reading the frontier, or a
    // stream in THIS process would idle forever on a table a different
    // process is writing (the multi-pipeline CDC topology).
    GraftCatalog.refreshIfStale(ident)
    val cur = GraftCatalog.retainedSnapshots(ident).lastOption.map(_.version).getOrElse(-1L)
    // changesTo bounds the stream: drain to it, then idle.
    resolvedEnd match {
      case None => cur
      case Some(Some(v)) => math.min(cur, v)
      case Some(None) =>
        // Expired bound: report the frontier below the oldest retained
        // snapshot (an upper bound on the true one); admission
        // additionally pins at the checkpoint offset.
        math.min(cur, GraftCatalog.retainedSnapshots(ident).headOption
          .map(_.version - 1).getOrElse(cur))
    }
  }

  override def initialOffset(): Offset = GraftVersionOffset(startVersion)
  override def deserializeOffset(json: String): Offset = GraftVersionOffset(json.toLong)
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(start, limit) is the admission-controlled entry point")
  /** ONE COMMIT PER BATCH by default: a multi-commit batch is the NET
    * diff of its endpoints, silently collapsing an insert+delete that
    * both happened inside the batch — a CDC consumer should see every
    * intermediate change exactly once. AvailableNow drains
    * commit-by-commit to the prepared target. The one exception is an
    * EXPLICIT `ReadLimit.allAvailable` with no prepared target —
    * that is Trigger.Once, which by contract runs exactly one batch:
    * honoring the per-commit pace there would process ONE commit and
    * terminate "successfully" with the rest unconsumed (a silent
    * partial sync), so it drains to current as one net-diff batch
    * instead — net-correct, per-commit granularity traded away by the
    * user's own single-batch trigger choice.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[GraftVersionOffset].v
    // Expired changesTo: the frontier estimate may sit ABOVE the
    // checkpoint while every version in between has expired — an
    // advance would crash in snapshotOrFail on a stream that already
    // drained its bound. Nothing in an expired bound is deliverable;
    // pin at the offset.
    val target0 = availableNowTarget.getOrElse(currentVersion)
    val target = if (endDegraded) math.min(target0, s) else target0
    limit match {
      case _: org.apache.spark.sql.connector.read.streaming.ReadAllAvailable
          if availableNowTarget.isEmpty =>
        GraftVersionOffset(math.max(target, s))
      case _ => GraftVersionOffset(math.min(s + 1, target).max(s))
    }
  }
  /** The marker Spark hands back on default-trigger batches; never
    * interpreted by the engine itself for DSv2 sources. Anything that
    * is not an explicit allAvailable paces one commit per batch.
    */
  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(1L)
  override def reportLatestOffset(): Offset = GraftVersionOffset(currentVersion)
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(currentVersion)
  override def commit(end: Offset): Unit = () // retention GC owns file lifetime
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftVersionOffset].v
    val e = end.asInstanceOf[GraftVersionOffset].v
    if (e <= s) Array.empty
    // The batch is the structural diff s → e (per-commit on the
    // default trigger; a net multi-commit range only under
    // Trigger.Once). dataChange=false commits — compaction / Z-order /
    // spec evolution, the Delta-CDF OPTIMIZE treatment — plan an empty
    // diff inside diffPartitions, which handles the range case
    // correctly where an endpoint-only check here would not (a
    // Trigger.Once range ENDING on a compaction still carries the
    // earlier commits' changes).
    // The batch scan's exemption: a range that changed no logical row
    // (e.g. the ALTER migration a restarted stream resumes across)
    // delivers zero rows, so the bounds' schemas are never decoded —
    // skip WITHOUT snapshotOrFail, whose decode guard would otherwise
    // wedge the restart on the pre-migration bound's old layout.
    else if (GraftChangeScan.noLogicalChange(ident, s, e)) Array.empty
    else GraftChangeScan.diffPartitions(
      ident, snapshotOrFail(s), snapshotOrFail(e), dataSchema)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftChangeReaderFactory(dataSchema)
}

private[sources] object GraftChangeScan {
  /** A timestamp bound that resolves BELOW the oldest retained
    * snapshot. A dedicated type (not a message substring) so the
    * stream's graceful idle-at-checkpoint degrade in `resolvedEnd`
    * can never be broken by rewording the error text.
    */
  private[sources] final class ExpiredBoundException(msg: String)
    extends IllegalArgumentException(msg)

  /** THE decode-compatibility predicate for both feed modes: two
    * layouts decode each other's bytes iff field count and per-field
    * data types match — nullability and field metadata are not part of
    * the physical layout. One definition so the batch scan and the
    * micro-batch stream can never diverge on what "compatible" means.
    */
  private[sources] def decodeCompatible(a: StructType, b: StructType): Boolean =
    a.length == b.length &&
      !a.fields.zip(b.fields).exists { case (x, y) => x.dataType != y.dataType }

  /** Whether the version range (from, to] changed no logical row: it
    * is made ONLY of dataChange=false commits — compaction, Z-order,
    * spec evolution, ALTER migrations (1:1 re-projections) — however
    * the files or the schema moved. Guarded on COMPLETENESS: the
    * retained list may have lost mid-range commits to expiry while the
    * endpoints survive, and a vanished dataChange=true commit must not
    * let the no-ops that remain visible empty the whole range. The one
    * test for the batch scan, the micro-batch stream and
    * `diffPartitions`.
    */
  private[sources] def noLogicalChange(ident: Identifier, from: Long, to: Long): Boolean = {
    val commits = GraftCatalog.retainedSnapshots(ident)
      .filter(s => s.version > from && s.version <= to)
    commits.length == (to - from).toInt && commits.nonEmpty && commits.forall(!_.dataChange)
  }

  /** Resolve a change-feed BOUND: a version number, a tag name, or a
    * TIMESTAMP resolved to the latest snapshot committed at or before
    * it, mirroring `TIMESTAMP AS OF` — including its TIMEZONE
    * semantics: zone-less forms (`yyyy-MM-dd[ HH:mm:ss[.f]]`) are read
    * in the SESSION timezone exactly as Spark parses the `AS OF`
    * literal (never the JVM default zone); explicit-offset ISO forms
    * and `...Z` instants carry their own zone.
    */
  private[sources] def resolveBoundVersion(ident: Identifier, s: String): Long =
    try GraftCatalog.resolveVersionString(ident, s)
    catch { case versionErr: IllegalArgumentException =>
      parseInstant(s) match {
        case None => throw versionErr
        case Some(i) =>
          val micros = i.getEpochSecond * 1000000L + i.getNano / 1000L
          GraftCatalog.snapshotByTime(ident, micros).map(_.version).getOrElse(
            throw new ExpiredBoundException(
              s"change feed over $ident: no snapshot committed at or before '$s'"))
      }
    }

  /** Parse a user-supplied timestamp string with `TIMESTAMP AS OF`'s
    * TIMEZONE semantics: zone-less forms (`yyyy-MM-dd[ HH:mm:ss[.f]]`)
    * read in the SESSION timezone exactly as Spark parses the `AS OF`
    * literal (never the JVM default zone); explicit-offset ISO forms
    * and `...Z` instants carry their own zone. None = not a timestamp.
    */
  private[sources] def parseInstant(s: String): Option[java.time.Instant] = {
    import java.time._
    import java.time.format.DateTimeParseException
    def sessionZone: ZoneId = ZoneId.of(
      org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
    (try Some(Instant.parse(s))
     catch { case _: DateTimeParseException => None })
      .orElse(
        try Some(OffsetDateTime.parse(s).toInstant)
        catch { case _: DateTimeParseException => None })
      .orElse(
        try Some(LocalDateTime.parse(s.replace(' ', 'T'))
          .atZone(sessionZone).toInstant)
        catch { case _: DateTimeParseException => None })
      .orElse(
        try Some(LocalDate.parse(s).atStartOfDay(sessionZone).toInstant)
        catch { case _: DateTimeParseException => None })
  }

  /** Rewrite provenance composed across every commit in (fromV, toV]:
    * current segment path → the path it (transitively) rewrote, as of
    * `fromV`. A chain (v1 rewrote S→S', v2 rewrote S'→S'') composes to
    * S''→S, so a multi-commit batch diff still pairs endpoints.
    * Metadata-only: a walk over the retained snapshots' recorded maps.
    */
  private[sources] def composedRewrites(
      ident: Identifier, fromV: Long, toV: Long): Map[String, String] = {
    var orig = Map.empty[String, String]
    GraftCatalog.retainedSnapshots(ident)
      .filter(s => s.version > fromV && s.version <= toV)
      .foreach(_.rewrites.foreach { case (added, src) =>
        orig = (orig - src) + (added -> orig.getOrElse(src, src))
      })
    orig
  }

  /** [[composedRewrites]] plus the full path CHAIN: final added path →
    * (original source path, every path the rows lived at along the
    * way). The chain feeds [[chainDvStable]] — correspondence must be
    * verifiable at every hop, not just the endpoints.
    */
  private[sources] def rewriteChains(
      commits: Vector[GraftCatalog.CatalogSnapshot])
      : Map[String, (String, Set[String])] = {
    var chains = Map.empty[String, (String, Set[String])]
    commits.foreach(_.rewrites.foreach { case (added, src) =>
      val (orig, paths) = chains.getOrElse(src, (src, Set(src)))
      chains = (chains - src) + (added -> (orig, paths + added))
    })
    chains
  }

  /** True when, across every retained commit of the (complete) range,
    * the rewrite chain's row positions provably never moved: src keeps
    * exactly its from-state dv wherever it appears, and no other chain
    * link ever carries a dv. `commitDvs` is the pre-built per-commit
    * (path → dv) view — built ONCE per diff, because this guard runs
    * per paired CANDIDATE and scanning every segment of every commit
    * per candidate would be quadratic in segment count.
    */
  private def chainDvStable(
      commitDvs: Vector[Map[String, BitSet]],
      src: GraftCatalog.Segment, chainPaths: Set[String]): Boolean = {
    val srcDv = src.dv.getOrElse(BitSet.empty)
    commitDvs.forall(m => chainPaths.forall(p =>
      m.get(p).forall(dv => if (p == src.path) dv == srcDv else dv.isEmpty)))
  }

  /** The structural snapshot diff both the batch scan and the
    * streaming source plan from: one split per changed segment — or
    * one PAIRED split per provenance-recorded CoW-UPDATE rewrite.
    */
  private[sources] def diffPartitions(
      ident: Identifier,
      from: GraftCatalog.CatalogSnapshot, to: GraftCatalog.CatalogSnapshot,
      dataSchema: org.apache.spark.sql.types.StructType): Array[InputPartition] = {
    val width = dataSchema.length
    // Empty diff for a range that changed no logical row, however the
    // files moved. (A MIXED range still plans the endpoint diff; a
    // mid-range compaction then surfaces as delete+insert churn — the
    // documented honest cap.)
    if (noLogicalChange(ident, from.version, to.version)) return Array.empty
    val commits = GraftCatalog.retainedSnapshots(ident)
      .filter(s => s.version > from.version && s.version <= to.version)
    val fromByPath = from.segments.map(s => s.path -> s).toMap
    val toByPath = to.segments.map(s => s.path -> s).toMap
    // PAIRED UPDATES first: an added segment whose recorded rewrite
    // source is a removed segment, with matching cardinality (live
    // rows at `from` == physical rows of the rewrite) and no dv
    // acquired since the rewrite (a later in-range delete must surface
    // as deletes, which the fallback form does). Everything paired
    // here is excluded from the plain insert/delete planning below.
    val chains = rewriteChains(commits)
    // Pairing claims POSITION-exact correspondence between src's live
    // set at `from` and added's physical rows — which only holds when
    // the state the rewrite actually consumed is provably src's
    // from-state. Endpoint metadata alone cannot prove that, so the
    // extra guards below inspect the retained mid-range commits and
    // degrade to the (always-correct, just churnier) delete+insert
    // form whenever exactness isn't provable.
    val rangeComplete = commits.length == (to.version - from.version).toInt
    val toSeqs = to.eqDeletes.map(_.seq).toSet
    lazy val commitDvs: Vector[Map[String, BitSet]] = commits.map(
      _.segments.iterator.map(g => g.path -> g.dv.getOrElse(BitSet.empty)).toMap)
    // Eq deletes REMOVED in-range: by RESTORE (a resurrection the
    // lockstep pair could never emit) or by publish-time GC (harmless
    // once every killable row is gone). The guard below degrades only
    // when the removed delete could actually have touched src —
    // zone-map/Bloom disjointness clears most upsert deletes.
    val removedEq = from.eqDeletes.filterNot(e => toSeqs(e.seq))
    val paired: Vector[(GraftCatalog.Segment, GraftCatalog.Segment)] =
      to.segments.filterNot(s => fromByPath.contains(s.path)).flatMap { added =>
        chains.get(added.path).flatMap { case (srcPath, chainPaths) =>
          fromByPath.get(srcPath).collect {
            case src if !toByPath.contains(src.path) && added.dv.isEmpty &&
                // An equality delete registered AFTER the rewrite kills
                // rows of `added` the lockstep reader would still emit
                // as postimages — degrade to the (eq-filtered)
                // delete+insert form, which nets correctly.
                !to.eqDeletes.exists(_.appliesTo(added)) &&
                src.liveRows == added.rows &&
                // The retained range must be COMPLETE: an expired
                // mid-range commit could hide a dv flip or eq-delete
                // change that breaks the position correspondence.
                rangeComplete &&
                // No eq delete that was removed in-range could have
                // killed rows of src: such rows are eq-dead at `from`
                // but present in `added` — a resurrection INSERT the
                // lockstep reader can never emit (it only reports
                // byte diffs).
                !removedEq.exists(e => e.appliesTo(src) &&
                  !ZoneMap.eqDisjoint(from.schema, src, e)) &&
                // src's dv never differed from its from-state in any
                // mid-range snapshot, and no chain link ever carried a
                // dv: equal dv CARDINALITY at the endpoints is not
                // equal POSITIONS — delete + restore + different
                // delete keeps the count and shifts every ordinal
                // after the gap, pairing wrong logical rows.
                chainDvStable(commitDvs, src, chainPaths) =>
              (src, added)
          }
        }
      }
    val pairedAdded = paired.map(_._2.path).toSet
    val pairedRemoved = paired.map(_._1.path).toSet
    val updates = paired.map { case (src, added) =>
      GraftChangeUpdatePartition(
        GraftSegFile.of(src), GraftSegFile(added.path, added.rows, dv = None),
        width, src.bytes + added.bytes)
    }
    // Net-diff semantics under equality deletes: an ADDED segment's
    // insert rows exclude what a LATER in-range eq delete removed (the
    // to-snapshot's filters, applicable per seq); a REMOVED segment's
    // delete rows exclude what was already eq-dead at `from`.
    // Filters compile ONCE per endpoint and share across segments.
    // Each endpoint's deletes compile against ITS OWN schema epoch:
    // eq-delete key columns are NAMES, and a RENAME COLUMN between the
    // endpoints re-pairs only the live entry — history snapshots keep
    // the old names with the old schema (GraftCatalog rename doc).
    // Compiling `from`'s deletes against `to`'s names would throw on
    // the vanished name, or — worse, after a name-reuse rename chain —
    // silently bind the keys to a different column. Positional indices
    // stay valid across epochs because decodeCompatible already proved
    // the layouts field-for-field identical.
    val compiledFrom = EqFilter.compileAll(from.schema, from.eqDeletes)
    val compiledTo = EqFilter.compileAll(to.schema, to.eqDeletes)
    val inserts = to.segments.filterNot(s =>
      fromByPath.contains(s.path) || pairedAdded.contains(s.path)).map(s =>
      GraftChangePartition(
        GraftSegFile.of(s, compiledTo), width, "insert", None, s.bytes))
    val deletes = from.segments.filterNot(s =>
      toByPath.contains(s.path) || pairedRemoved.contains(s.path)).map(s =>
      GraftChangePartition(
        GraftSegFile.of(s, compiledFrom), width, "delete", None, s.bytes))
    // EQUALITY-DELETE deltas, BOTH directions, keyed by SET DIFFERENCE
    // on `seq` (unique per table: one eq delete per upsert commit;
    // rename-stable where keyCols are not) — NOT by a seq range over
    // `to.eqDeletes`, which is blind to RESTORE:
    //  - an eq delete present at `to` but not at `from` kills rows of
    //    segments present on BOTH sides (added-in-range segments
    //    handle theirs via the filtered insert split above) — one
    //    split per affected segment emits exactly the newly-matched
    //    rows as deletes. A restore that re-adds an OLD-seq delete
    //    lands here too, which the range form missed.
    //  - an eq delete present at `from` but not at `to` (a RESTORE to
    //    a pre-upsert version) RESURRECTS the rows it killed — one
    //    split per both-sides segment emits them as inserts, the eq
    //    analogue of the dv-shrink case below. Publish-time eq GC
    //    drops a delete only when no live segment predates it, so a
    //    GC'd delete plans zero splits here naturally (no applicable
    //    segment survives).
    // Rows already dead at the relevant endpoint (its dv or its other
    // eq filters) and rows whose transition the dv-delta split reports
    // are excluded, so no row emits twice.
    val fromSeqs = from.eqDeletes.map(_.seq).toSet
    val compiledNew = EqFilter.compileAll(
      to.schema, to.eqDeletes.filterNot(e => fromSeqs(e.seq)))
    val compiledRemoved = EqFilter.compileAll(
      from.schema, from.eqDeletes.filterNot(e => toSeqs(e.seq)))
    val eqDeltas =
      if (compiledNew.isEmpty && compiledRemoved.isEmpty) Vector.empty
      else to.segments.flatMap { t =>
        fromByPath.get(t.path).toSeq.flatMap { f =>
          val skip = f.dv.getOrElse(BitSet.empty) | t.dv.getOrElse(BitSet.empty)
          def split(newKeys: Seq[EqFilter], survive: IndexedSeq[(Long, EqFilter)],
              kind: String): Seq[InputPartition] =
            if (newKeys.isEmpty) Nil
            else Seq(GraftChangeEqDeletePartition(
              GraftSegFile(t.path, t.rows,
                Some(skip).filter(_.nonEmpty),
                EqFilter.applicable(survive, t)),
              width, newKeys, kind, t.bytes))
          // Delete: newly matched at `to`, not already dead at `from`.
          split(EqFilter.applicable(compiledNew, t), compiledFrom, "delete") ++
            // Insert: matched only by a removed filter, not still dead
            // at `to` (another filter may also kill the same key).
            split(EqFilter.applicable(compiledRemoved, t), compiledTo, "insert")
        }
      }
    val dvDeltas = to.segments.flatMap { t =>
      fromByPath.get(t.path).toSeq.flatMap { f =>
        val fdv = f.dv.getOrElse(BitSet.empty)
        val tdv = t.dv.getOrElse(BitSet.empty)
        // Grown dv: rows live at `from`, dead at `to` — deletes.
        val grown = tdv &~ fdv
        // SHRUNKEN dv: rows dead at `from`, live at `to` — INSERTS.
        // This is not hypothetical: RESTORE re-publishes an older
        // snapshot's smaller (or absent) dv on the SAME segment path,
        // resurrecting rows; a feed that only watched dv growth would
        // emit an empty diff for the restore commit and a CDC replica
        // would permanently diverge.
        val shrunk = fdv &~ tdv
        Seq(
          grown -> "delete",
          shrunk -> "insert"
        ).collect { case (delta, kind) if delta.nonEmpty =>
          // Emit the rows' CONTENT: read the shared file, emit only the
          // delta ordinals. Rows equality-dead at the relevant endpoint
          // are excluded (a dv-deleted row that an eq delete had
          // already killed at `from` was not live to delete; a
          // dv-resurrected row an eq delete kills at `to` is not live
          // to insert).
          GraftChangePartition(
            GraftSegFile(t.path, t.rows, dv = None,
              eq = EqFilter.applicable(
                if (kind == "delete") compiledFrom else compiledTo, t)),
            width, kind, Some(delta), t.bytes)
        }
      }
    }
    ((updates: Vector[InputPartition]) ++ inserts ++ deletes ++ dvDeltas ++ eqDeltas)
      .toArray
  }
}

private[sources] case class GraftChangeReaderFactory(data: StructType)
    extends PartitionReaderFactory {

  /** The one data-plus-`_change_type` output projection every change
    * reader shares (three hand-maintained copies had diverged-in-
    * waiting): bind the data columns positionally, join the tag column
    * on the right.
    */
  private def changeProjection(): (UnsafeProjection, JoinedRow, GenericInternalRow) = {
    val metaRow = new GenericInternalRow(1)
    val joined = new JoinedRow
    val exprs: Seq[Expression] =
      data.fields.toSeq.zipWithIndex.map { case (f, i) =>
        BoundReference(i, f.dataType, f.nullable): Expression
      } :+ BoundReference(data.length, StringType, nullable = false)
    (UnsafeProjection.create(exprs), joined, metaRow)
  }

  /** Paired update reader: pre/post files advanced in lockstep over
    * LIVE pre ordinals; byte-identical positions are skipped (rows the
    * rewrite copied unchanged — `UnsafeRow.equals` compares exactly
    * the record bytes), differing positions emit the `update_preimage`
    * row then the `update_postimage` row. Cost is one sequential read
    * of each file — the same bytes the unpaired delete+insert form
    * read, minus the duplicated emission.
    */
  private def pairedReader(p: GraftChangeUpdatePartition): PartitionReader[InternalRow] = {
    val (proj, joined, metaRow) = changeProjection()
    new PartitionReader[InternalRow] {
      // Constant tags allocated once, not per emitted row (same
      // reused-row discipline as the plain change reader).
      private val PreTag = UTF8String.fromString("update_preimage")
      private val PostTag = UTF8String.fromString("update_postimage")
      private val pre = new SegmentIO.Cursor(p.pre, p.numFields)
      private val post = new SegmentIO.Cursor(p.post, p.numFields)
      private var out: UnsafeRow = _
      override def next(): Boolean = {
        if (out eq pre.row) { // a pre was just emitted; its post is due
          out = post.row
          metaRow.update(0, PostTag)
          return true
        }
        while (pre.nextLive() && post.nextLive()) {
          if (pre.row != post.row) {
            out = pre.row
            metaRow.update(0, PreTag)
            return true
          }
        }
        false
      }
      override def get(): InternalRow = proj(joined(out, metaRow))
      override def close(): Unit = { pre.close(); post.close() }
    }
  }

  /** Eq-delete delta reader: every surviving row (not dv-skipped, not
    * dead at the other endpoint) that a delta eq filter matches emits
    * as the split's change type ('delete' for a newly-registered
    * delete, 'insert' for a RESTORE-removed one).
    */
  private def eqDeleteReader(p: GraftChangeEqDeletePartition): PartitionReader[InternalRow] = {
    val (proj, joined, metaRow) = changeProjection()
    metaRow.update(0, UTF8String.fromString(p.changeType))
    new PartitionReader[InternalRow] {
      private val cur = new SegmentIO.Cursor(p.file, p.numFields)
      override def next(): Boolean = {
        while (cur.nextLive()) if (p.newKeys.exists(_.matches(cur.row))) return true
        false
      }
      override def get(): InternalRow = proj(joined(cur.row, metaRow))
      override def close(): Unit = cur.close()
    }
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    partition match {
      case u: GraftChangeUpdatePartition => return pairedReader(u)
      case e: GraftChangeEqDeletePartition => return eqDeleteReader(e)
      case _ => ()
    }
    val p = partition.asInstanceOf[GraftChangePartition]
    // Constant tag; same reused-row discipline as the main catalog
    // reader (Spark copies when it retains).
    val (proj, joined, metaRow) = changeProjection()
    metaRow.update(0, UTF8String.fromString(p.changeType))
    val only = p.emitOnly.orNull
    new PartitionReader[InternalRow] {
      private val cur = new SegmentIO.Cursor(p.file, p.numFields)
      override def next(): Boolean = {
        if (only == null) return cur.nextLive()
        // Emit-only (dv delta): the delta's ordinals, if still live.
        while (cur.next()) if (GraftSegFile.marked(only, cur.ordinal) && cur.live) return true
        false
      }
      override def get(): InternalRow = proj(joined(cur.row, metaRow))
      override def close(): Unit = cur.close()
    }
  }
}
