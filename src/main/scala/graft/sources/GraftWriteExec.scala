package graft.sources

import java.nio.file.Paths
import java.util


import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType

// Write-side execution (staged CTAS/RTAS tables, batch + streaming
// writes, segment writer factories) — split from GraftCatalog.scala
// (same package, no behavior change).


private[sources] object GraftStagedTable {
  sealed trait Mode
  case object Create extends Mode
  case object Replace extends Mode
  case object CreateOrReplace extends Mode
}

/** The in-flight half of an atomic CTAS/RTAS: a write-only table whose
  * job commit merely RECORDS the task segments (written into a private
  * staging dir), leaving the metastore untouched until Spark calls
  * `commitStagedChanges`. Abort deletes the staged files — the
  * metastore never saw them, so failure is side-effect-free. Writes
  * request the same clustered distribution as a committed partitioned
  * table (one segment per partition value, not per value × task).
  */
private[sources] class GraftStagedTable(
    ident: Identifier, schema0: StructType, dir: String,
    partitionCols: Seq[String], mode: GraftStagedTable.Mode,
    stagedConstraints: Vector[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
      Vector.empty,
    stagedProps: Map[String, String] = Map.empty)
    extends StagedTable with SupportsWrite {
  @volatile private var stagedSegments: Vector[GraftCatalog.Segment] = Vector.empty

  override def name(): String = s"$ident (staged)"
  override def schema(): StructType = schema0
  override def partitioning(): Array[Transform] =
    partitionCols.map(c => PartField.parse(c).toTransform).toArray
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      // The staging dir starts empty; REPLACE's truncate is a no-op here
      // (the swap in commitStagedChanges is what replaces).
      override def truncate(): WriteBuilder = this
      override def build(): Write = new Write with RequiresDistributionAndOrdering {
        import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
        import org.apache.spark.sql.connector.expressions.SortOrder
        override def requiredDistribution(): Distribution =
          if (partitionCols.isEmpty) Distributions.unspecified()
          else Distributions.clustered(
            partitionCols.map(c =>
              PartField.parse(c).toTransform: org.apache.spark.sql.connector.expressions.Expression)
              .toArray)
        override def requiredOrdering(): Array[SortOrder] = Array.empty
        override def toBatch: BatchWrite = new BatchWrite {
          override def createBatchWriterFactory(pinfo: PhysicalWriteInfo): DataWriterFactory =
            GraftSegmentWriterFactory(schema0, dir, partitionCols)
          override def commit(messages: Array[WriterCommitMessage]): Unit =
            stagedSegments = messages.collect { case m: GraftSegmentMessage => m }
              .sortBy(_.partitionId).flatMap(_.segments).toVector
          override def abort(messages: Array[WriterCommitMessage]): Unit =
            messages.collect { case m: GraftSegmentMessage => m }
              .flatMap(_.segments).foreach(SegmentIO.delete)
        }
      }
    }

  override def commitStagedChanges(): Unit =
    GraftCatalog.commitStaged(
      ident,
      GraftCatalog.TableEntry(schema0, stagedSegments, dir, partitionCols,
        stagedConstraints, props = stagedProps),
      mode)

  override def abortStagedChanges(): Unit = {
    stagedSegments.foreach(SegmentIO.delete)
    GraftCatalog.deleteRecursively(Paths.get(dir))
  }
}


private[sources] class GraftCatalogBatchWrite(
    ident: Identifier, target: StructType, dir: String,
    truncateFirst: Boolean, partCols: Seq[String] = Nil,
    sortedWrite: Boolean = false,
    overwriteFilters: Option[Seq[org.apache.spark.sql.sources.Filter]] = None,
    dynamicOverwrite: Boolean = false,
    upsertKeys: Seq[String] = Nil,
    // GENERATED ALWAYS enforcement: user-facing writes refuse explicit
    // non-null values; row-level rewrites (the engine re-writing rows
    // that already carry their ids) construct with false and, when the
    // table has an ALWAYS identity column, identityFromMeta so the
    // refusal still applies to MERGE-inserted (non-carried) rows.
    identityStrict: Boolean = true,
    identityFromMeta: Boolean = false,
    // copy_into source-file tokens, committed with the segments.
    copyTokens: Seq[String] = Nil) extends BatchWrite {
  // Captured ONCE per write (not per factory call): the commit's
  // conflict check compares the stored watermark against the k0 this
  // write actually planned its congruence classes from.
  private[sources] lazy val identitySpecs = GraftCatalog.identityAssigns(ident, target)
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    GraftSegmentWriterFactory(target, dir, partCols, sortedWrite, upsertKeys,
      identity = identitySpecs,
      identityParts = math.max(1, info.numPartitions()),
      identityStrict = identityStrict,
      identityFromMeta = identityFromMeta,
      generated = GraftCatalog.generatedAssigns(target))
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val msgs = messages.collect { case m: GraftSegmentMessage => m }.sortBy(_.partitionId)
    val segs = msgs.flatMap(_.segments)
    // Watermark BEFORE data: a crash in between leaks an id gap, never
    // a duplicate (see GraftCatalog.IdentityAssign).
    GraftCatalog.advanceIdentityChecked(ident, msgs.toSeq, identitySpecs)
    if (upsertKeys.nonEmpty)
      GraftCatalog.installUpsert(ident, segs.toSeq, upsertKeys,
        msgs.flatMap(_.upsertKeys).toSeq)
    else if (overwriteFilters.isDefined || dynamicOverwrite)
      GraftCatalog.installOverwrite(ident, segs.toSeq, overwriteFilters)
    else GraftCatalog.install(ident, segs.toSeq, truncateFirst, copyTokens = copyTokens)
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case m: GraftSegmentMessage => m }
      .flatMap(_.segments).foreach(SegmentIO.delete)
}

/** Streaming write path (`writeStream.toTable("graft.ns.t")`): each
  * epoch's task segments ship as commit messages and the driver-side
  * `commit(epochId, …)` publishes them atomically — AT MOST ONCE per
  * epoch, keyed on the engine-supplied epoch id, so a replayed batch
  * after failure or checkpoint restart is a no-op. Append mode appends
  * the epoch's segments; Complete mode (`truncate` true) REPLACES the
  * table with the epoch's full recomputed result. This is the native
  * exactly-once sink the foreachBatch + batch-id-DELETE recipe
  * hand-rolls.
  */
private[sources] class GraftCatalogStreamingWrite(
    ident: Identifier, target: StructType, dir: String, queryId: String,
    truncate: Boolean, partCols: Seq[String] = Nil,
    // STREAMING UPSERT sink (`writeStream.option("graft.upsert.keys",
    // …).toTable(…)`): every epoch appends + equality-deletes its keys
    // in one exactly-once commit — the CDC-apply sink that needs no
    // foreachBatch MERGE.
    upsertKeys: Seq[String] = Nil)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  if (upsertKeys.nonEmpty)
    require(!truncate, "streaming upsert requires append output mode")
  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    GraftCatalogStreamingWriterFactory(target, dir, partCols, upsertKeys,
      generated = GraftCatalog.generatedAssigns(target))
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val msgs = messages.collect { case m: GraftSegmentMessage => m }.sortBy(_.partitionId)
    val segs = msgs.flatMap(_.segments)
    GraftCatalog.installEpoch(ident, queryId, epochId, segs.toSeq, truncate,
      upsert = if (upsertKeys.isEmpty) None
               else Some((upsertKeys, msgs.flatMap(_.upsertKeys).toSeq)))
  }
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case m: GraftSegmentMessage => m }
      .flatMap(_.segments).foreach(SegmentIO.delete)
}

private[sources] case class GraftCatalogStreamingWriterFactory(
    target: StructType, dir: String, partCols: Seq[String] = Nil,
    upsertKeys: Seq[String] = Nil,
    // Resolved DRIVER-side by the StreamingWrite (the bound generation
    // expressions need the analyzer; executors just codegen them).
    generated: Seq[(Int, org.apache.spark.sql.catalyst.expressions.Expression)] = Nil)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(
      partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    // Identity assignment is batch-only (the epoch loop cannot refresh
    // the driver-captured watermark): specs ride along so a NULL
    // identity value fails loudly instead of silently landing NULL.
    // Generated columns ARE computed — they are stateless projections.
    GraftSegmentWriterFactory(target, dir, partCols, upsertKeys = upsertKeys,
      identity = target.fields.toSeq.zipWithIndex.flatMap { case (f, i) =>
        org.apache.spark.sql.catalyst.util.IdentityColumn.getIdentityInfo(f).map(s =>
          GraftCatalog.IdentityAssign(i, f.name,
            f.dataType == org.apache.spark.sql.types.LongType,
            s.getStart, s.getStep, s.isAllowExplicitInsert, 0L))
      },
      identityAssignEnabled = false,
      generated = generated)
      .createWriter(partitionId, taskId)
}

/** Task commit message: the segments the task wrote (empty for a
  * rowless task — no file was created; one per partition value seen for
  * a partitioned table), never the rows themselves.
  */
private[sources] case class GraftSegmentMessage(
    partitionId: Int, segments: Seq[GraftCatalog.Segment],
    // Distinct upsert-key tuples this task wrote (external values) —
    // the commit unions them into the commit's equality delete.
    upsertKeys: Seq[IndexedSeq[Any]] = Nil,
    // Max identity progression index this task consumed, per column —
    // the commit advances the watermark past the union.
    identityMaxK: Map[String, Long] = Map.empty) extends WriterCommitMessage

/** Streams incoming rows to segment files, projecting onto the TABLE
  * schema first. Row-level rewrites (UPDATE / MERGE / rewrite-DELETE)
  * deliver rows with a leading `__row_operation` metadata column — and
  * deliver them RAW even though the LogicalWriteInfo schema claims the
  * plain table schema — so the projection is derived from the ACTUAL
  * record width at runtime: the last `target.length` fields are the
  * data columns. Storing positionally would shift every field and read
  * back garbage.
  *
  * For an identity-partitioned table the task fans rows out into ONE
  * WRITER PER PARTITION VALUE it sees (the segment↔key invariant the
  * scan's split-per-value planning relies on). The write REQUESTS a
  * clustered distribution (see `GraftCatalogTable.newWriteBuilder`), so
  * in the common case each task sees few values; the per-task writer
  * cap fails loudly on a pathological unclustered write instead of
  * exhausting file handles.
  */
private[sources] case class GraftSegmentWriterFactory(
    target: StructType, dir: String, partCols: Seq[String] = Nil,
    // The write requested (and Spark therefore delivered) a per-task
    // sort on the declared write order — finished segments carry the
    // provenance flag the scan's reported ordering depends on.
    sortedWrite: Boolean = false,
    // UPSERT key columns (`.option("graft.upsert.keys", "k1,k2")`):
    // each task also collects the distinct key tuples it wrote, which
    // the commit registers as an equality delete over older segments.
    upsertKeys: Seq[String] = Nil,
    // Identity-column assignment (see GraftCatalog.IdentityAssign):
    // task p's i-th generated value takes progression index
    // k0 + p + i*identityParts — disjoint across tasks by congruence.
    identity: Seq[GraftCatalog.IdentityAssign] = Nil,
    identityParts: Int = 1,
    identityAssignEnabled: Boolean = true,
    identityStrict: Boolean = true,
    // Row-level (MERGE) path: per-row provenance via the two-arg
    // write's metadata row — the requested _row_id metadata column is
    // non-null exactly for rows the target scan carried through, so
    // the ALWAYS refusal applies only to genuinely NEW (insert-action)
    // rows while rewritten existing rows keep their ids.
    identityFromMeta: Boolean = false,
    // Generated columns: (table ordinal, bound Catalyst expression) —
    // resolved driver-side (GraftCatalog.generatedAssigns), codegen'd
    // here into a projection that fills NULL slots with the computed
    // value (non-null slots pass through: row-level rewrites carry
    // already-computed values).
    generated: Seq[(Int, org.apache.spark.sql.catalyst.expressions.Expression)] = Nil)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, UnsafeRow}
      import org.apache.spark.sql.types.StringType
      private var proj: UnsafeProjection = _
      private var projFields = -1
      // The hidden-partitioning router: transform fields
      // (days/bucket/truncate) key by the transform OUTPUT.
      private val keyOf = PartField.keyOf(partCols, target)
      private val writers =
        new scala.collection.mutable.LinkedHashMap[IndexedSeq[Any], SegmentIO.Writer]()
      private val MaxWritersPerTask = 1000
      private val upsertIdx: Array[(Int, org.apache.spark.sql.types.DataType)] =
        upsertKeys.map { c =>
          val i = target.fieldIndex(c); (i, target.fields(i).dataType)
        }.toArray
      private val upsertSeen =
        scala.collection.mutable.LinkedHashSet.empty[IndexedSeq[Any]]
      private val MaxUpsertKeysPerTask = GraftCatalog.upsertMaxKeys
      private val idArr = identity.toArray
      private val idCount = new Array[Long](idArr.length)
      private val idMaxK = Array.fill[Long](idArr.length)(Long.MinValue)
      private val genIdx = generated.map(_._1).toArray
      private lazy val genProj: UnsafeProjection = {
        import org.apache.spark.sql.catalyst.expressions.{If, IsNull}
        val byIdx = generated.toMap
        UnsafeProjection.create(target.zipWithIndex.map { case (f, i) =>
          val ref = BoundReference(i, f.dataType, f.nullable)
          byIdx.get(i) match {
            // User writes: the strict check above proved the slot NULL
            // — fill it (the If is belt-and-braces for BY-DEFAULT-like
            // non-strict nulls).
            case Some(e) if identityStrict => If(IsNull(ref), e, ref):
              org.apache.spark.sql.catalyst.expressions.Expression
            // Row-level rewrites RECOMPUTE unconditionally: an UPDATE
            // that changed a referenced column must not carry the
            // stale derived value forward (deterministic expression —
            // recomputation of an unchanged row is a no-op).
            case Some(e) => e: org.apache.spark.sql.catalyst.expressions.Expression
            case None => ref: org.apache.spark.sql.catalyst.expressions.Expression
          }
        })
      }

      // True while the current row is a CARRIED (pre-existing) row of
      // a row-level rewrite — set from the two-arg write's metadata
      // row; insert-action rows arrive with a NULL _row_id there.
      private var carriedRow = false
      override def write(meta: InternalRow, record: InternalRow): Unit = {
        carriedRow = identityFromMeta && meta != null && !meta.isNullAt(0)
        try write(record) finally carriedRow = false
      }
      override def write(record: InternalRow): Unit = {
        // A record already in the table's layout streams through as is,
        // unless identity assignment is about to set fields in it.
        val row = record match {
          case u: UnsafeRow if u.numFields == target.length && idArr.isEmpty => u
          case _ =>
            if (record.numFields != projFields) {
              val offset = record.numFields - target.length
              require(offset >= 0,
                s"row has ${record.numFields} fields, table needs ${target.length}")
              val exprs = target.zipWithIndex.map { case (f, i) =>
                BoundReference(offset + i, f.dataType, f.nullable)
              }
              proj = UnsafeProjection.create(exprs)
              projFields = record.numFields
            }
            proj(record)
        }
        var j = 0
        while (j < idArr.length) {
          val a = idArr(j)
          if (row.isNullAt(a.idx)) {
            if (!identityAssignEnabled)
              throw new UnsupportedOperationException(
                s"identity column ${a.name}: streaming writes cannot generate values " +
                  "(batch-only) — supply them explicitly (BY DEFAULT) or use batch inserts")
            val k = a.k0 + partitionId + idCount(j) * identityParts
            idCount(j) += 1
            idMaxK(j) = k
            row.setNotNullAt(a.idx)
            // Exact arithmetic: a wrapped value would silently re-mint
            // earlier ids (uniqueness violation) — overflow must fail.
            val v =
              try math.addExact(a.start, math.multiplyExact(a.step, k))
              catch {
                case _: ArithmeticException => throw new ArithmeticException(
                  s"identity column ${a.name}: generated value overflows BIGINT at " +
                    s"progression index $k (START WITH ${a.start} INCREMENT BY ${a.step})")
              }
            if (a.isLong) row.setLong(a.idx, v)
            else if (v >= Int.MinValue && v <= Int.MaxValue) row.setInt(a.idx, v.toInt)
            else throw new ArithmeticException(
              s"identity column ${a.name}: generated value $v overflows INT — " +
                "declare the column BIGINT")
          } else if ((identityStrict || (identityFromMeta && !carriedRow)) &&
              !a.allowExplicit)
            throw new UnsupportedOperationException(
              s"identity column ${a.name} is GENERATED ALWAYS — " +
                "explicit values are not accepted (omit the column, or declare it " +
                "GENERATED BY DEFAULT AS IDENTITY)")
          j += 1
        }
        val rowF = if (genIdx.isEmpty) row else {
          if (identityStrict) {
            var g = 0
            while (g < genIdx.length) {
              if (!row.isNullAt(genIdx(g)))
                throw new UnsupportedOperationException(
                  s"column ${target.fields(genIdx(g)).name} is GENERATED ALWAYS AS (...) — " +
                    "explicit values are not accepted; omit the column")
              g += 1
            }
          }
          genProj(row)
        }
        if (upsertIdx.nonEmpty) {
          val tuple: IndexedSeq[Any] = upsertIdx.toIndexedSeq.map { case (i, dt) =>
            require(!rowF.isNullAt(i),
              s"upsert key column ${target.fields(i).name} is null — upsert keys must be non-null")
            dt match {
              case StringType => rowF.getUTF8String(i).toString
              case _ => rowF.get(i, dt)
            }
          }
          upsertSeen += tuple
          require(upsertSeen.size <= MaxUpsertKeysPerTask,
            s"upsert task exceeded $MaxUpsertKeysPerTask distinct keys — equality " +
              "deletes are the small-hot-batch path; use MERGE INTO for bulk rewrites " +
              "(or raise -Dgraft.upsert.maxKeys)")
        }
        val key = if (partCols.isEmpty) Vector.empty else keyOf(rowF)
        val w = writers.getOrElseUpdate(key, {
          require(writers.size < MaxWritersPerTask,
            s"task saw > $MaxWritersPerTask distinct partition values — " +
              "repartition the input by the table's partition columns")
          new SegmentIO.Writer(dir, target)
        })
        w.add(rowF)
      }
      override def commit(): WriterCommitMessage =
        GraftSegmentMessage(partitionId,
          writers.toSeq.flatMap { case (key, w) =>
            w.finish().map(_.copy(key = key, sorted = sortedWrite, spec = partCols))
          },
          upsertKeys = upsertSeen.toSeq,
          identityMaxK = idArr.indices.collect {
            case j if idMaxK(j) != Long.MinValue => idArr(j).name -> idMaxK(j)
          }.toMap)
      override def abort(): Unit = writers.values.foreach(_.abort())
      override def close(): Unit = ()
    }
}
