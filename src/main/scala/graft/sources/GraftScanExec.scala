package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types.StructType

// Scan-side execution (scan builder, aggregate-pushdown scan, batch
// scan, micro-batch stream, reader factories) — split from
// GraftCatalog.scala (same package, no behavior change).

/** Read-path ScanBuilder: accepts every filter Spark offers, keeps the
  * zone-map-prunable subset for SEGMENT SKIPPING, and returns the full
  * list as residual — file-level pruning is inexact (a surviving
  * segment still holds non-matching rows), so Spark must re-apply the
  * predicate, exactly as it does above parquet row-group stats. The
  * row-level-operation path deliberately does NOT use this builder:
  * a group-based rewrite must scan the WHOLE table (its one group), and
  * pruning that scan by the DML's WHERE would make the truncate-commit
  * drop every non-matching row.
  */
private[sources] class GraftCatalogScanBuilder(
    ident: Identifier, schema: StructType,
    pinned: Option[Vector[GraftCatalog.Segment]] = None,
    partitionCols: Seq[String] = Nil,
    maxSegmentsPerTrigger: Option[Int] = None,
    skipChangeCommits: Boolean = false,
    startingVersion: Option[Long] = None,
    pinnedEq: Vector[GraftCatalog.EqDelete] = Vector.empty)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates with SupportsPushDownLimit {
  import org.apache.spark.sql.sources.Filter
  private var pruning: Array[Filter] = Array.empty
  private var sawFilters = false
  private var pushedAggs: Option[Seq[GraftCatalogAgg]] = None
  private var required: StructType = schema
  private var limit: Option[Int] = None
  // Outstanding equality deletes poison both metadata shortcuts below:
  // liveRows overcounts (segment-capped LIMIT could under-deliver) and
  // stats describe rows a newer eq delete has removed (COUNT/MIN/MAX
  // would answer over ghosts). Both decline while any apply.
  private def eqsNow: Vector[GraftCatalog.EqDelete] =
    if (pinned.isDefined) pinnedEq else GraftCatalog.eqDeletesOf(ident)

  /** LIMIT pushdown at SEGMENT granularity: `LIMIT n` plans only as
    * many segments as needed to cover n live rows (exact per-segment
    * liveRows from the metastore) instead of every segment — the
    * interactive-preview move on a huge table. Partially pushed
    * (default `isPartiallyPushed` = true): file-level capping
    * over-delivers within the last segment, so Spark's own Limit stays
    * on top for row exactness.
    */
  override def pushLimit(l: Int): Boolean =
    if (eqsNow.nonEmpty) false else { limit = Some(l); true }
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    sawFilters = filters.nonEmpty
    pruning = filters.filter(ZoneMap.prunable(_, schema))
    filters // all residual: segment skipping never proves per-row match
  }
  override def pushedFilters(): Array[Filter] = pruning

  /** METADATA-ONLY aggregates: an unfiltered global COUNT(*) / MIN /
    * MAX over a zone-map-tracked column is answered from the segment
    * statistics the writers already collected — COMPLETE pushdown, zero
    * file reads (the parquet-footer-statistics move, served from the
    * table format's own metadata). Declined whenever ANY filter exists
    * (segment skipping never proves per-row match, so stats can't
    * answer a filtered aggregate), for group-bys, and for columns the
    * stats don't track — those run above the scan as usual. Correctness
    * note: stat min/max ignore nulls exactly as SQL MIN/MAX do, a
    * provably all-null column yields NULL, and string/NaN orderings in
    * the stats writer match Spark's aggregate semantics.
    */
  /** GROUPED metadata aggregates ride the same stats when every
    * grouping expression is a PARTITION column (any subset, any
    * order): segments are keyed by the full partition tuple, so
    * `GROUP BY part_col` folds per projected key — the
    * partition-profile query (`SELECT dt, count(*) … GROUP BY dt`)
    * answered without opening a file, which at 100 TB is the
    * difference between a metastore lookup and a full scan.
    */
  private def groupCols(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[Seq[String]] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    val named = agg.groupByExpressions.toSeq.map {
      case nr: NamedReference if nr.fieldNames().length == 1 &&
          partitionCols.contains(nr.fieldNames()(0)) => Some(nr.fieldNames()(0))
      case _ => None
    }
    if (named.forall(_.isDefined)) Some(named.flatten) else None
  }

  private def translate(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[Seq[GraftCatalogAgg]] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    import org.apache.spark.sql.types._
    if (sawFilters || groupCols(agg).isEmpty || eqsNow.nonEmpty) return None
    // GROUPED metadata aggregates fold per segment KEY — only sound
    // when every segment's key is valued over the CURRENT spec. A
    // mixed-era table (post spec-evolution, pre-compaction) answers
    // grouped profiles from data, not metadata.
    if (groupCols(agg).exists(_.nonEmpty) &&
        pinned.getOrElse(GraftCatalog.segmentsOf(ident))
          .exists(_.spec != partitionCols)) return None
    // Deletion vectors poison MIN/MAX stats (the extremum may be a
    // deleted row) but not COUNT(*) — liveRows is exact.
    val anyDv = pinned.getOrElse(GraftCatalog.segmentsOf(ident)).exists(_.dv.nonEmpty)
    def trackedCol(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case nr: NamedReference if nr.fieldNames().length == 1 =>
          schema.fields.find(_.name == nr.fieldNames()(0)).collect {
            case f if (f.dataType match {
              case LongType | IntegerType | ShortType | ByteType |
                   DoubleType | FloatType | BooleanType | StringType |
                   // Temporal stats are internal micros/epoch-days —
                   // exactly the InternalRow encodings MIN/MAX must
                   // emit, so the fold passes them through.
                   TimestampType | TimestampNTZType | DateType => true
              case _ => false
            }) => f.name
          }
        case _ => None
      }
    val translated = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(GraftCatalogAgg.CountStar)
      case m: Min if !anyDv => trackedCol(m.column).map(GraftCatalogAgg.MinCol)
      case m: Max if !anyDv => trackedCol(m.column).map(GraftCatalogAgg.MaxCol)
      case _ => None
    }
    if (translated.nonEmpty && translated.forall(_.isDefined)) Some(translated.flatten)
    else None
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    translate(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    translate(agg) match {
      case Some(t) =>
        pushedAggs = Some(t)
        pushedGroupBy = groupCols(agg).getOrElse(Nil)
        true
      case None => false
    }
  private var pushedGroupBy: Seq[String] = Nil
  // Column pruning: segments store FULL rows (row-major), so pruning
  // can't skip disk bytes the way a columnar format does — but the
  // per-split projection below narrows every row before it enters the
  // operator chain, so only the required columns ride upstream (and
  // any later exchange). Zone maps keep evaluating against the FULL
  // schema — a filter column does not have to survive the projection.
  override def pruneColumns(requiredSchema: StructType): Unit =
    // Data columns keep schema order; requested METADATA columns
    // (_segment/_pos) ride along — the reader synthesizes their values.
    required = StructType(
      schema.fields.filter(f => requiredSchema.fieldNames.contains(f.name)) ++
        requiredSchema.fields.filter(f => GraftMetaCols.names.contains(f.name)))
  override def build(): Scan = pushedAggs match {
    // PIN the segment list NOW: the dv guard in translate() ran against
    // the then-current list, and execution may happen arbitrarily later
    // — a DELETE attaching a deletion vector in between must not let a
    // deleted row's value surface as the MIN/MAX. With the list pinned,
    // the scan computes over exactly the snapshot the guard saw (and
    // retention protects the files); any dv that nonetheless races into
    // the pinned list between translate() and here triggers the exact
    // per-segment fallback inside the scan.
    case Some(aggs) =>
      // ONE consistent (segments, eq) read — same race shield as the
      // dv guard: an upsert landing between translate() (which
      // declined on then-existing eq deletes) and here must not let a
      // ghost row's value or count surface; the scan applies these
      // through its exact per-segment fallback.
      val (segsAtBuild, eqsAtBuild) =
        if (pinned.isDefined) (pinned.get, pinnedEq)
        else GraftCatalog.stateOf(ident)
      // The GROUPED fold parses partition values with indexes derived
      // from the CURRENT spec; translate()'s uniformity guard ran on
      // the then-live list, so a spec evolution racing into this
      // window would evaluate new-spec indexes over old-spec key
      // vectors (wrong groups or an index error). Fail the plan
      // loudly — the retry re-plans against one era.
      if (pushedGroupBy.nonEmpty && segsAtBuild.exists(_.spec != partitionCols))
        throw new IllegalStateException(
          s"partition spec of $ident evolved between aggregate pushdown and scan " +
            "build — retry the query")
      GraftCatalogAggScan(ident, schema,
        Some(segsAtBuild), aggs,
        partitionCols, pushedGroupBy,
        eqs = eqsAtBuild)
    case None =>
      GraftCatalogScan(ident, schema, pruning.toIndexedSeq, required, pinned, partitionCols,
        maxSegmentsPerTrigger = maxSegmentsPerTrigger,
        skipChangeCommits = skipChangeCommits,
        startingVersion = startingVersion,
        limit = limit,
        pinnedEq = pinnedEq)
  }
}

/** The metadata-answerable aggregates over a catalog table. */
private[graft] sealed trait GraftCatalogAgg extends Serializable
private[graft] object GraftCatalogAgg {
  case object CountStar extends GraftCatalogAgg
  case class MinCol(name: String) extends GraftCatalogAgg
  case class MaxCol(name: String) extends GraftCatalogAgg
}

/** O(1) scan for a completely-pushed aggregation: one carrier split,
  * one row, every value folded from the committed segments' zone-map
  * statistics at plan time — the segment files are never opened.
  */
private[graft] case class GraftCatalogAggScan(
    ident: Identifier, schema: StructType,
    pinned: Option[Vector[GraftCatalog.Segment]], aggs: Seq[GraftCatalogAgg],
    partitionCols: Seq[String] = Nil, groupBy: Seq[String] = Nil,
    eqs: Vector[GraftCatalog.EqDelete] = Vector.empty)
    extends Scan with Batch {
  import org.apache.spark.sql.types._

  private def colIndex(name: String): Int = schema.fieldIndex(name)

  // Complete-pushdown output contract: grouping columns FIRST (in the
  // query's order), then the aggregate columns.
  override def readSchema(): StructType = StructType(
    groupBy.map(c => schema.fields(colIndex(c))) ++ aggs.map {
      case GraftCatalogAgg.CountStar => StructField("COUNT(*)", LongType, nullable = false)
      case GraftCatalogAgg.MinCol(c) =>
        StructField(s"MIN($c)", schema.fields(colIndex(c)).dataType, nullable = true)
      case GraftCatalogAgg.MaxCol(c) =>
        StructField(s"MAX($c)", schema.fields(colIndex(c)).dataType, nullable = true)
    })
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftCatalogAggScan($ident, aggs=[${aggs.mkString(", ")}]" +
      (if (groupBy.nonEmpty) s", groupBy=[${groupBy.mkString(", ")}]" else "") +
      ", metadataOnly)"

  override def planInputPartitions(): Array[InputPartition] =
    Array(GraftCatalogPartition(Vector.empty, 0))

  override def createReaderFactory(): PartitionReaderFactory = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    val segs = pinned.getOrElse(GraftCatalog.segmentsOf(ident))
    // Shared exact comparator (GraftCompare): NaN largest, string
    // UTF-8 BINARY order — matching both the stats writer's min/max
    // selection and Spark's own MIN/MAX over StringType (UTF8String
    // order). The previous String.compareTo here was UTF-16 order and
    // disagreed for supplementary-plane strings.
    def lt(a: Any, b: Any): Boolean = GraftCompare.cmp(a, b).exists(_ < 0)
    // Exact extremum over a dv-carrying segment's LIVE rows: zone-map
    // stats describe ALL physical rows, so a deleted row's value could
    // be the stats extremum. Only reached when a deletion vector raced
    // in between the builder's dv guard and scan build — rare by
    // construction, and bounded to the raced segments.
    val compiledEq = EqFilter.compileAll(schema, eqs)
    def eqRaced(s: GraftCatalog.Segment): Boolean =
      EqFilter.applicable(compiledEq, s).nonEmpty
    def exactSegExtremum(s: GraftCatalog.Segment, i: Int, wantMin: Boolean): Option[Any] = {
      val dt = schema.fields(i).dataType
      var best: Any = null
      SegmentIO.foreachRow(GraftSegFile.of(s, compiledEq), schema.length) { r =>
        if (!r.isNullAt(i)) {
          val v: Any = dt match {
            case LongType | TimestampType | TimestampNTZType => r.getLong(i)
            case IntegerType | DateType => r.getInt(i)
            case ShortType => r.getShort(i)
            case ByteType => r.getByte(i)
            case DoubleType => r.getDouble(i)
            case FloatType => r.getFloat(i)
            case BooleanType => r.getBoolean(i)
            case StringType => r.getUTF8String(i).toString
            case other => throw new IllegalStateException(
              s"untracked column type $other reached the metadata aggregate")
          }
          if (best == null || lt(v, best) == wantMin) best = v
        }
      }
      Option(best)
    }
    def fold(group: Vector[GraftCatalog.Segment], c: String, wantMin: Boolean): Any = {
      val i = colIndex(c)
      val vals = group.flatMap { s =>
        require(s.stats.length > i,
          s"segment ${s.path} lacks stats for column $c — metadata aggregate unanswerable")
        if (s.dv.isEmpty && !eqRaced(s))
          Option(if (wantMin) s.stats(i).min else s.stats(i).max)
        else exactSegExtremum(s, i, wantMin)
      }
      if (vals.isEmpty) null
      else CatalystTypeConverters.convertToCatalyst(
        vals.reduce((a, b) => if (lt(a, b) == wantMin) a else b))
    }
    def exactLiveCount(s: GraftCatalog.Segment): Long =
      if (!eqRaced(s)) s.liveRows
      else { // raced eq delete: count the filtered rows
        var n = 0L
        SegmentIO.foreachRow(GraftSegFile.of(s, compiledEq), schema.length)(_ => n += 1)
        n
      }
    def aggRow(group: Vector[GraftCatalog.Segment]): Seq[Any] = aggs.map {
      case GraftCatalogAgg.CountStar => group.map(exactLiveCount).sum
      case GraftCatalogAgg.MinCol(c) => fold(group, c, wantMin = true)
      case GraftCatalogAgg.MaxCol(c) => fold(group, c, wantMin = false)
    }
    val rows: Array[InternalRow] =
      if (groupBy.isEmpty) Array(InternalRow.fromSeq(aggRow(segs)))
      else {
        // One output row per DISTINCT projection of the partition tuple
        // onto the requested grouping columns (empty partitions have no
        // segments and so — correctly — no row, same as a real GROUP
        // BY). Deterministic order for plan stability; result size is
        // partition-count-bounded metadata.
        val idx = groupBy.map(partitionCols.indexOf)
        segs.groupBy(s => idx.map(s.key(_)))
          .toSeq.sortBy(_._1.mkString("\u0000"))
          .map { case (kv, group) =>
            InternalRow.fromSeq(
              kv.map(CatalystTypeConverters.convertToCatalyst) ++ aggRow(group))
          }.toArray
      }
    GraftRowsFactory(rows)
  }
}

/** Emits a fixed driver-computed row set from one carrier partition
  * (metadata aggregates — grouped or global — and the range source's
  * completely-pushed aggregate row).
  */
private[graft] case class GraftRowsFactory(rows: Array[InternalRow])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow = rows(i)
      override def close(): Unit = ()
    }
}

private[graft] case class GraftCatalogScan(
    ident: Identifier, schema: StructType,
    pruning: IndexedSeq[org.apache.spark.sql.sources.Filter] = IndexedSeq.empty,
    required: StructType = null,
    pinned: Option[Vector[GraftCatalog.Segment]] = None,
    partitionCols: Seq[String] = Nil,
    // Row-level-rewrite feedback channel: when Spark's runtime GROUP
    // filter drops pinned segments from a rewrite scan, they are not
    // rewritten — so they MUST be re-attached at the commit, or their
    // rows are lost at the truncate-swap. The op registers this
    // callback; a plain read scan leaves it None. (Function field:
    // compared by reference in case-class equality — row-level scans
    // are never exchange-reuse candidates, read scans never carry it.)
    onRuntimeExclude: Option[Vector[GraftCatalog.Segment] => Unit] = None,
    maxSegmentsPerTrigger: Option[Int] = None,
    skipChangeCommits: Boolean = false,
    startingVersion: Option[Long] = None,
    limit: Option[Int] = None,
    // True for ROW-LEVEL (UPDATE/MERGE/DELETE rewrite) scans: Spark's
    // runtime GROUP filter builds ONE IN-subquery over ALL advertised
    // filter attributes, and a multi-column probe becomes
    // `named_struct(...) IN subquery` — untranslatable to a source
    // filter (WARN + zero pruning). A row-level scan therefore
    // advertises a SINGLE best column (partition col first, else the
    // first bloom-tracked column), turning the probe into a
    // translatable one-column IN that rides zone-map/bloom skipping.
    // Read scans keep the full set — join DPP builds per-key filters.
    rowLevel: Boolean = false,
    // Equality deletes pinned WITH the segment list for time-travel /
    // rewrite scans (a live scan resolves the live entry's).
    pinnedEq: Vector[GraftCatalog.EqDelete] = Vector.empty)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsReportPartitioning with SupportsRuntimeV2Filtering
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {
  private def out: StructType = if (required == null) schema else required

  /** ONE (segments, eq) snapshot per BATCH scan instance, taken at
    * first use: planning-time claims (outputOrdering/outputPartitioning
    * /statistics) and execution-time splits (planInputPartitions) must
    * see the SAME list — a commit landing between the two could
    * otherwise invalidate a reported per-split sort or key grouping
    * AFTER EnsureRequirements already elided the Sort/Exchange it
    * justified. Streaming reads never touch this: toMicroBatchStream
    * constructs its own stream object that resolves per-batch state.
    */
  @transient private lazy val stateAtFirstUse
      : (Vector[GraftCatalog.Segment], Vector[GraftCatalog.EqDelete]) =
    if (pinned.isDefined) (pinned.get, pinnedEq) else GraftCatalog.stateOf(ident)

  private def eqs: Vector[GraftCatalog.EqDelete] = stateAtFirstUse._2

  /** REPORTED SORT ORDER (the Iceberg sorted-tables move): when every
    * split's rows are provably sorted on the table's declared write
    * order — each surviving segment carries the provenance flag, and a
    * keyed split holds at most ONE segment — the scan reports
    * (partitionCols ++ orderCols) ascending-nulls-first. Combined with
    * `KeyGroupedPartitioning` this makes a co-partitioned co-sorted
    * join exchange-free AND sort-free: EnsureRequirements sees the
    * required ordering already satisfied and plans no SortExec. The
    * partition columns lead the reported order soundly because each
    * split holds exactly one partition value (constant ⇒ trivially
    * sorted); correctness rests on the per-segment `sorted` flag, which
    * every order-perturbing rewrite clears (see Segment.sorted). Only
    * the longest prefix that survives column pruning is reported —
    * ordering expressions must resolve against the scan's output.
    */
  override def outputOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    val orderCols = GraftCatalog.writeOrderCols(
      GraftCatalog.tablePropsJava(ident).asScala.toMap, schema)
    if (orderCols.isEmpty) return Array.empty
    val segs = survivors
    val eachSplitSorted =
      segs.forall(_.sorted) &&
        (partitionCols.isEmpty ||
          (uniformSpec && segs.groupBy(_.key).values.forall(_.length <= 1)))
    if (!eachSplitSorted) return Array.empty
    val visible = out.fieldNames.toSet
    (partitionCols ++ orderCols).distinct
      .takeWhile(visible.contains)
      .map(c => Expressions.sort(
        Expressions.column(c),
        org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)
        : org.apache.spark.sql.connector.expressions.SortOrder)
      .toArray
  }

  /** Runtime V2 filtering (SPARK-35779 — the DSv2 dynamic-partition-
    * pruning analogue): at execution time Spark hands the scan an IN
    * predicate built from the OTHER join side's join-key values;
    * converted to a source `In` filter it rides the same zone-map
    * pruning as static filters. Two granularities:
    *  - partition columns: identity partition values have min = max,
    *    so the IN drops every partition value the join cannot match
    *    BEFORE planning tasks — exact partition-level DPP;
    *  - bloom-tracked columns (string/integral): per-segment
    *    [[SegmentBloom]] bits prove absence of every probe value, so a
    *    broadcast join on a high-NDV UNSORTED key skips the segments
    *    that hold none of the build side's keys — runtime bloom join
    *    pruning, the move that turns "fact ⋈ filtered dim" from a full
    *    fact scan into reading only the matching segments at 100 TB.
    * Transient state, not a constructor field: scan equality (exchange
    * reuse) must ignore runtime narrowing.
    */
  @transient private var runtimePruning: IndexedSeq[org.apache.spark.sql.sources.Filter] =
    IndexedSeq.empty

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    // Only columns the scan still OUTPUTS: Spark resolves these refs
    // against the (column-pruned) relation output, and a reference to
    // a pruned-away column fails analysis — a join key is always in
    // the output, so nothing prunable is lost by restricting.
    val visible = out.fieldNames.toSet
    val bloomCols = schema.fields.collect {
      case f if SegmentBloom.trackable(f.dataType) && visible(f.name) => f.name
    }
    val all = (partitionCols.filter(visible) ++ bloomCols).distinct
    // Row-level scans: one column, so the group-filter probe stays a
    // translatable single-column IN (see the `rowLevel` param doc).
    val chosen = if (rowLevel) all.take(1) else all
    chosen.map(c =>
      org.apache.spark.sql.connector.expressions.Expressions.column(c)).toArray
  }

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    import org.apache.spark.sql.connector.expressions.{Literal => V2Literal, NamedReference}
    def ext(v: Any): Any = v match {
      case u: org.apache.spark.unsafe.types.UTF8String => u.toString
      case other => other
    }
    val converted = predicates.toIndexedSeq.flatMap { p =>
      if (p.name() == "IN" && p.children().nonEmpty) {
        p.children()(0) match {
          case nr: NamedReference if nr.fieldNames().length == 1 =>
            val vals = p.children().drop(1).toSeq.collect {
              case l: V2Literal[_] => ext(l.value())
            }
            // All children after the ref must be literals, else the
            // predicate is not a plain value-list IN — skip it.
            if (vals.isEmpty || vals.length != p.children().length - 1) None
            else if (vals.length <= SegmentBloom.MaxDistinct)
              Some(org.apache.spark.sql.sources.In(nr.fieldNames()(0), vals.toArray))
            else {
              // Oversized probe list: per-segment bloom probing would
              // cost list × segment driver work, but the list's RANGE
              // ENVELOPE still prunes via zone maps (on an identity
              // partition column min = max makes that exact partition
              // pruning) — degrade to [min, max] instead of dropping
              // runtime pruning entirely. Sound superset of the IN.
              val col = nr.fieldNames()(0)
              val nn = vals.filter(_ != null)
              if (nn.isEmpty || nn.exists(v => GraftCompare.cmp(v, nn.head).isEmpty)) None
              else {
                val lo = nn.reduce((a, b) =>
                  if (GraftCompare.cmp(a, b).exists(_ <= 0)) a else b)
                val hi = nn.reduce((a, b) =>
                  if (GraftCompare.cmp(a, b).exists(_ >= 0)) a else b)
                Some(org.apache.spark.sql.sources.And(
                  org.apache.spark.sql.sources.GreaterThanOrEqual(col, lo),
                  org.apache.spark.sql.sources.LessThanOrEqual(col, hi)))
              }
            }
          case _ => None
        }
      } else None
    }
    val prev = if (runtimePruning == null) IndexedSeq.empty else runtimePruning
    runtimePruning = prev ++ converted.filter(ZoneMap.prunable(_, schema))
    for (cb <- onRuntimeExclude; segs <- pinned) {
      val excluded = segs.filterNot(seg =>
        runtimePruning.forall(f => ZoneMap.mightMatch(f, schema, seg)))
      if (excluded.nonEmpty) cb(excluded)
    }
  }
  override def readSchema(): StructType = out
  override def toBatch: Batch = this

  /** Streaming read (`spark.readStream.table("graft.ns.t")`): the
    * table's own snapshot history doubles as a CHANGE LOG — each
    * committed version is one source "file batch". Pushed filters ride
    * along: added segments are zone-map-pruned per micro-batch exactly
    * as in the batch scan.
    */
  override def toMicroBatchStream(
      checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftCatalogMicroBatchStream(
      ident, schema, out, pruning, maxSegmentsPerTrigger, skipChangeCommits,
      startingVersion)

  override def description(): String =
    s"GraftCatalogScan($ident, columns=[${out.fieldNames.mkString(", ")}], " +
      s"zoneMapFilters=[${pruning.mkString(", ")}]" +
      (if (partitionCols.nonEmpty) s", keyGroupedBy=[${partitionCols.mkString(", ")}]" else "") +
      limit.map(n => s", pushedLimit=$n").getOrElse("") +
      pinned.map(_ => ", pinnedSnapshot").getOrElse("") + ")"

  // Time-travel scans plan against the PINNED snapshot list; live scans
  // resolve the then-current list at plan time. Static pushed filters
  // and runtime join filters prune through the same zone maps.
  private def surviving(
      all: Vector[GraftCatalog.Segment]): Vector[GraftCatalog.Segment] = {
    // transient field: null after executor-side deserialization (where
    // survivors is never called — but a guard beats an NPE).
    val rt = if (runtimePruning == null) IndexedSeq.empty else runtimePruning
    val fs = pruning ++ rt
    // Hidden-partition KEY pruning: for segments written under the
    // CURRENT spec, a bucket(n, col) field proves absence for equality
    // /IN probes on col that hash to a different bucket — the pruning
    // class zone maps can't supply (hash membership is range-opaque).
    // days/truncate need nothing here: their clustered writes make the
    // SOURCE column's zone maps tight, and those prune ranges already.
    val pfs = PartField.fields(partitionCols)
    val keyPrunes = pfs.exists(_.isInstanceOf[PartBucket])
    all.filter(seg =>
      fs.forall(f => ZoneMap.mightMatch(f, schema, seg)) &&
        (!keyPrunes || seg.spec != partitionCols ||
          fs.forall(f => PartField.keyMightMatch(pfs, seg.key, schema, f))))
  }

  private def survivors: Vector[GraftCatalog.Segment] =
    surviving(stateAtFirstUse._1)

  // Deterministic order: groups sorted by key rendering, so repeated
  // plans of the same state enumerate identically.
  private def keyGroups: Seq[(IndexedSeq[Any], Vector[GraftCatalog.Segment])] =
    survivors.groupBy(_.key).toSeq.sortBy(_._1.mkString("\u0000"))

  /** Keys are trustworthy only when EVERY segment was written under
    * the table's CURRENT partition spec. After a spec evolution
    * (`CALL graft.system.set_partitioning`) a mixed-era scan must not
    * report `KeyGroupedPartitioning` (old keys value DIFFERENT columns
    * -- an SPJ co-location claim would be a wrong-results bug) nor plan
    * keyed splits; it degrades to one split per segment, where zone
    * maps still prune on the new partition column (identity-routed
    * min = max makes zone-map pruning exact partition pruning, and
    * OLD segments carry zone maps for the new column like any other
    * column). Decided once per scan over the full pre-runtime-filter
    * list so outputPartitioning and planInputPartitions cannot
    * disagree.
    */
  @transient private lazy val uniformSpec: Boolean =
    stateAtFirstUse._1.forall(_.spec == partitionCols)
  private def keyedLayout: Boolean = partitionCols.nonEmpty && uniformSpec

  /** Unpartitioned: one split per SURVIVING segment — the partition
    * carries only (path, rows); bytes stay on disk until the executor
    * task opens its split, and a multi-segment table scans in parallel.
    * Identity-partitioned: one split per PARTITION VALUE (all the
    * value's segments, with the key exposed via `HasPartitionKey`) —
    * the layout `KeyGroupedPartitioning` promises. Zone-map-pruned
    * segments never even plan a task; for a filter on the partition
    * column the zone map IS exact partition pruning (min = max = the
    * value). numFields is the FULL width: that is the on-disk row
    * layout; the reader projects down to `out` after deserialization.
    */
  /** Pushed-LIMIT segment capping: enough segments (by exact metastore
    * liveRows) to cover the limit, in list order. Unpartitioned scans
    * only — a key-grouped scan must plan one task per key to honor the
    * `KeyGroupedPartitioning` it reported.
    */
  private def capForLimit(
      segs: Vector[GraftCatalog.Segment]): Vector[GraftCatalog.Segment] =
    limit match {
      // Outstanding equality deletes make per-segment liveRows an
      // OVERCOUNT — capping on them could plan too few segments and
      // under-deliver a LIMIT. Cap only when none apply.
      case Some(n) if partitionCols.isEmpty && eqs.isEmpty =>
        var acc = 0L
        val buf = Vector.newBuilder[GraftCatalog.Segment]
        val it = segs.iterator
        while (it.hasNext && acc < n) {
          val s = it.next()
          buf += s
          acc += s.liveRows
        }
        buf.result()
      case _ => segs
    }

  override def planInputPartitions(): Array[InputPartition] = {
    // The scan-wide snapshot (see stateAtFirstUse): segments + eq from
    // one read, and the SAME list every planning claim already used —
    // a concurrent commit must neither yield a ghost-row plan nor
    // invalidate a reported ordering/grouping after the fact.
    val (all, eqNow) = stateAtFirstUse
    val compiled = EqFilter.compileAll(schema, eqNow)
    // ONE broadcast of the compiled key sets for the whole scan: the
    // per-split payload is then a handful of indices, not O(keys) —
    // see GraftSegFile.eqBc.
    val eqBc =
      if (compiled.isEmpty) None
      else Some(org.apache.spark.sql.SparkSession.active.sparkContext
        .broadcast(compiled.map(_._2)))
    val surv = surviving(all)
    if (!keyedLayout)
      capForLimit(surv)
        .map(s => GraftCatalogPartition(
          Vector(GraftSegFile.of(s, compiled, eqBc)), schema.length): InputPartition)
        .toArray
    else {
      import org.apache.spark.sql.catalyst.CatalystTypeConverters
      surv.groupBy(_.key).toSeq.sortBy(_._1.mkString("\u0000"))
        .map { case (key, segs) =>
          val keyRow = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            key.map(CatalystTypeConverters.convertToCatalyst).toArray)
          GraftCatalogKeyedPartition(
            segs.map(GraftSegFile.of(_, compiled, eqBc)), schema.length, keyRow): InputPartition
        }.toArray
    }
  }

  /** Storage-partitioned reads: an identity-partitioned table reports
    * `KeyGroupedPartitioning` over its partition columns, so (with
    * `spark.sql.sources.v2.bucketing.enabled`) a join of two tables
    * co-partitioned on the key — or an aggregate grouping on it —
    * skips its shuffle entirely: the scan's physical layout already
    * satisfies the required clustering. This is the 100 TB co-location
    * story (Iceberg-style SPJ), not an optimization of this demo store.
    */
  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, UnknownPartitioning}
    val groups = if (!keyedLayout) Nil else keyGroups
    if (groups.isEmpty) new UnknownPartitioning(capForLimit(survivors).length)
    else new KeyGroupedPartitioning(
      // Transform fields report the transform expression (key values
      // are the transform OUTPUTS); Spark resolves it through this
      // catalog's loadFunction, or silently degrades to unknown
      // partitioning when it can't — never a wrong co-location claim.
      partitionCols.map(c =>
        PartField.parse(c).toTransform: org.apache.spark.sql.connector.expressions.Expression).toArray,
      groups.length)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftCatalogReaderFactory(schema, out)

  /** Post-pruning exact size/row stats from the segment metadata — lets
    * the planner auto-broadcast a small (or well-pruned) catalog table.
    * Bytes scale by the surviving column fraction (what actually flows
    * out of the scan); legacy zero-byte segments fall back to a per-row
    * width estimate so sizeInBytes never reads 0 for a non-empty table.
    */
  override def estimateStatistics(): Statistics = {
    val segs = capForLimit(survivors)
    val rows = segs.map(_.liveRows).sum
    val full = segs.map(s => if (s.bytes > 0) s.bytes else s.rows * (8L * (schema.length + 1))).sum
    val frac =
      if (schema.isEmpty) 1.0
      else (out.length.toDouble.max(1.0)) / schema.length
    val bytes = (full * frac).toLong.max(if (rows > 0) 1L else 0L)
    // ANALYZE-produced per-column stats (distinct + null counts) ride
    // the V2 columnStats surface into the CBO: with
    // spark.sql.cbo.{enabled,joinReorder.enabled}, join estimation gets
    // real key cardinalities and CostBasedJoinReorder can re-order
    // ad-hoc catalog joins (asserted in CboJoinReorderSpec).
    val analyzed = GraftCatalog.analyzedOf(ident)
    new Statistics {
      override def sizeInBytes: java.util.OptionalLong = java.util.OptionalLong.of(bytes)
      override def numRows: java.util.OptionalLong = java.util.OptionalLong.of(rows)
      override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
        val m = new java.util.HashMap[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
        analyzed.foreach { case (name, a) =>
          m.put(
            org.apache.spark.sql.connector.expressions.Expressions.column(name),
            new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
              override def distinctCount(): java.util.OptionalLong =
                java.util.OptionalLong.of(a.ndv)
              override def nullCount(): java.util.OptionalLong =
                java.util.OptionalLong.of(a.nulls)
            })
        }
        m
      }
    }
  }
}

/** Streaming offset over a catalog table = the last fully consumed
  * snapshot VERSION; -1 = nothing consumed yet (the next batch is the
  * initial snapshot load). One long round-trips exactly through the
  * checkpoint json.
  */
private[graft] case class GraftVersionOffset(v: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json: String = v.toString
}

/** MICRO_BATCH_READ over a catalog table — the table's commit history
  * IS the change stream (the Delta/Iceberg incremental-read shape):
  *
  *  - Batch 0 (offset -1 → v): the full snapshot at stream start, read
  *    as one batch — one split per segment, so the initial load scans
  *    with full parallelism.
  *  - Batch (u → v]: the segments ADDED by commits u+1..v, resolved
  *    per-commit against retained snapshots. Append commits stream
  *    through; a commit that REMOVES segments (OVERWRITE / DELETE /
  *    UPDATE / MERGE / compaction / ALTER migration) is not expressible
  *    as an append delta — it fails the stream loudly unless
  *    `skipChangeCommits` is set (then the whole commit is skipped,
  *    matching Delta's option of the same name: readers see only pure
  *    appends).
  *  - Admission control: `maxSegmentsPerTrigger` caps how many ADDED
  *    segments one trigger admits (whole commits only — a version is
  *    the atomic offset unit); Trigger.AvailableNow pins the target
  *    version at start and drains to it through the same path;
  *    Trigger.Once's ReadAllAvailable lifts the cap.
  *
  * Correctness leans on two catalog invariants: segment paths are
  * unique forever (UUID-named, never reused), and snapshot retention
  * protects every file a retained snapshot references — so a planned
  * batch stays readable even if the table is rewritten mid-read. A
  * restart whose checkpointed version has aged out of retention fails
  * with an explicit pointer at `graft.catalog.retention.seconds`
  * rather than silently re-snapshotting.
  *
  * Stateless by construction (the AvailableNow pin excepted): every
  * batch derives from the (start, end] versions the engine hands back,
  * which is what makes checkpoint recovery trivially exactly-once.
  */
private[graft] class GraftCatalogMicroBatchStream(
    ident: Identifier, schema: StructType, out: StructType,
    pruning: IndexedSeq[org.apache.spark.sql.sources.Filter],
    maxSegmentsPerTrigger: Option[Int],
    skipChangeCommits: Boolean,
    startingVersion: Option[Long] = None)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{
    CompositeReadLimit, Offset, ReadAllAvailable, ReadLimit, ReadMaxFiles}

  @volatile private var availableNowTarget: Option[Long] = None

  private def latestVersion: Long = {
    // Cross-process tail (see GraftChangeScan.currentVersion): commits
    // from other driver processes arrive via the ledger only.
    GraftCatalog.refreshIfStale(ident)
    GraftCatalog.retainedSnapshots(ident).lastOption.map(_.version).getOrElse(-1L)
  }

  private def snapshotOrFail(v: Long): GraftCatalog.CatalogSnapshot =
    GraftCatalog.snapshotByVersion(ident, v).getOrElse(throw new IllegalStateException(
      s"streaming read of $ident: snapshot v$v is no longer retained — the stream " +
        "(or its checkpoint) fell behind the retention window; raise " +
        "graft.catalog.retention.seconds / .snapshots (or the table's " +
        "'graft.retention.seconds' / '.snapshots' TBLPROPERTIES) or restart " +
        "from a fresh checkpoint"))

  /** Segments ADDED by commit v (relative to v-1), with the change-
    * commit policy applied. v = 0 diffs against the empty table.
    */
  private def addedAt(v: Long): Vector[GraftCatalog.Segment] = {
    val cur = snapshotOrFail(v)
    // dataChange=false commits (compaction / Z-order / spec evolution)
    // rearrange files without changing any logical row: emitting their
    // folded segments would DUPLICATE rows the stream already
    // delivered, and failing would make auto-compaction stream-hostile
    // — skip silently, exactly Delta's dataChange=false semantics.
    if (!cur.dataChange) return Vector.empty
    // Per-field TYPE comparison, not just arity: an ALTER COLUMN TYPE
    // widening keeps the field count but rewrites segments under the
    // new layout — decoding those bytes with the stream's stale
    // narrower schema (e.g. a LongType slot read via getInt) would
    // silently corrupt values. Field NAMES are exempt (RENAME COLUMN is
    // metadata-only over positional storage; the bytes are identical).
    if (!GraftChangeScan.decodeCompatible(cur.schema, schema))
      throw new IllegalStateException(
        s"streaming read of $ident: commit v$v was written under a different schema " +
          s"(${cur.schema.simpleString} vs ${schema.simpleString}); restart the stream " +
          "to pick up the evolved schema")
    val prevSegs: Map[String, GraftCatalog.Segment] =
      if (v == 0) Map.empty
      else snapshotOrFail(v - 1).segments.map(s => s.path -> s).toMap
    val removed = prevSegs.keySet -- cur.segments.map(_.path).toSet
    // A deletion-vector change keeps the file path but removes rows —
    // exactly as much a change commit as dropping the segment. So does
    // a commit REGISTERING an equality delete (upsert): rows the
    // stream already delivered are now dead. (An eq entry VANISHING is
    // publish-time GC — purely structural, never a change.)
    val dvChanged = cur.segments.exists(s => prevSegs.get(s.path).exists(_.dv != s.dv))
    val eqAdded = cur.eqDeletes.exists(_.seq == v)
    if (removed.nonEmpty || dvChanged || eqAdded) {
      if (skipChangeCommits) Vector.empty
      else throw new IllegalStateException(
        s"streaming read of $ident: commit v$v removed segment(s) or rows " +
          "(OVERWRITE/DELETE/UPDATE/MERGE/compact/ALTER/deletion vector) — not " +
          "expressible as an append stream; set option skipChangeCommits=true to skip " +
          "such commits")
    } else cur.segments.filterNot(s => prevSegs.contains(s.path))
  }

  /** Default: -1 (the next batch is the full initial snapshot). With
    * `startingVersion = v`, history replays from commit v onward and
    * the snapshot load is skipped — the Delta option of the same name.
    */
  override def initialOffset(): Offset =
    GraftVersionOffset(startingVersion.map(v => math.max(-1L, v - 1)).getOrElse(-1L))
  override def deserializeOffset(json: String): Offset = GraftVersionOffset(json.toLong)
  override def commit(end: Offset): Unit = () // retention GC owns file lifetime
  override def stop(): Unit = ()

  override def getDefaultReadLimit: ReadLimit =
    maxSegmentsPerTrigger.map(ReadLimit.maxFiles).getOrElse(ReadLimit.allAvailable())
  override def reportLatestOffset(): Offset = GraftVersionOffset(latestVersion)
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(latestVersion)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(start, limit) is the admission-controlled entry point")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[GraftVersionOffset].v
    val target = availableNowTarget.getOrElse(latestVersion)
    if (target <= s) return GraftVersionOffset(s)
    // Only capping limit kinds participate; min-rows / trigger hints
    // never throttle a replayable log (same policy as GraftRangeSource).
    def capOf(l: ReadLimit): Option[Int] = l match {
      case _: ReadAllAvailable => Some(Int.MaxValue)
      case f: ReadMaxFiles => Some(math.max(1, f.maxFiles()))
      case c: CompositeReadLimit =>
        val caps = c.getReadLimits.flatMap(capOf)
        if (caps.isEmpty) None else Some(caps.min)
      case _ => None
    }
    val cap = capOf(limit).orElse(maxSegmentsPerTrigger).getOrElse(Int.MaxValue)
    if (s < 0) return GraftVersionOffset(target) // initial snapshot: one batch
    var v = s
    var admitted = 0
    // Always advance at least one commit when available: a version is
    // the atomic offset unit, so a single commit larger than the cap
    // still ships whole (matching file-source maxFilesPerTrigger).
    // addedAt diffs two snapshots over the full segment list — compute
    // it ONCE per candidate commit, not in both the guard and the sum.
    var continue = true
    while (continue && v < target) {
      val added = addedAt(v + 1).length
      if (admitted == 0 || admitted + added <= cap) {
        v += 1
        admitted += added
      } else continue = false
    }
    GraftVersionOffset(v)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftVersionOffset].v
    val e = end.asInstanceOf[GraftVersionOffset].v
    // The INITIAL-SNAPSHOT batch reads state, so it subtracts the
    // snapshot's outstanding equality deletes; per-commit batches read
    // freshly-added segments, to which no eq delete can apply yet (an
    // upsert's own adds carry the delete's seq; later eq commits are
    // change commits).
    val (segs: Vector[GraftCatalog.Segment], compiled: IndexedSeq[(Long, EqFilter)]) =
      if (e <= s) (Vector.empty, IndexedSeq.empty)
      else if (s < 0) {
        val snap = snapshotOrFail(e)
        // Same per-field TYPE comparison as addedAt's per-commit guard:
        // an initial snapshot written under an older layout (e.g. before
        // an ALTER COLUMN TYPE widening, reached via startingVersion)
        // must not be decoded with this stream's schema — arity alone
        // misses retypes and would silently corrupt values.
        if (!GraftChangeScan.decodeCompatible(snap.schema, schema))
          throw new IllegalStateException(
            s"streaming read of $ident: snapshot v$e schema ${snap.schema.simpleString} " +
              s"differs from the table's ${schema.simpleString}; restart the stream")
        // Eq-delete key columns are NAMES of the snapshot's schema
        // epoch: compile against snap.schema (positionally identical
        // to the stream's per the guard above), not the stream's —
        // a RENAME COLUMN after the snapshot would otherwise unbind
        // the old name, or mis-bind it after a name-reuse chain.
        (snap.segments, EqFilter.compileAll(snap.schema, snap.eqDeletes))
      } else ((s + 1 to e).toVector.flatMap(addedAt), IndexedSeq.empty)
    // Initial-snapshot batches of a deletes-heavy table broadcast the
    // compiled key sets like the batch scan does (per-commit batches
    // carry none).
    val eqBc =
      if (compiled.isEmpty) None
      else Some(org.apache.spark.sql.SparkSession.active.sparkContext
        .broadcast(compiled.map((t: (Long, EqFilter)) => t._2)))
    segs
      .filter(seg => pruning.forall(f => ZoneMap.mightMatch(f, schema, seg)))
      .map(seg =>
        GraftCatalogPartition(
          Vector(GraftSegFile.of(seg, compiled, eqBc)), schema.length): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftCatalogReaderFactory(schema, out)
}

/** A scan split: one or more segment files read sequentially (one file
  * for unpartitioned tables; all of a partition value's files for
  * key-grouped scans, which must deliver the whole value in one split).
  */
/** What a task needs to read one segment file: path, physical row
  * count, the deletion vector to skip (None = all rows live), and the
  * compiled equality-delete filters to subtract (empty = none apply —
  * the zero-cost path for tables that never upserted).
  */
private[sources] case class GraftSegFile(
    path: String, rows: Long, dv: Option[scala.collection.immutable.BitSet],
    eq: Seq[EqFilter] = Nil,
    lineage: IndexedSeq[(Long, Long, Long)] = Vector.empty,
    // BROADCAST form of the equality filters (table scans): the split
    // carries only the applicable INDICES into a plan-wide broadcast
    // array, so a deletes-heavy table's key sets ship once per
    // EXECUTOR instead of once per task — inline `eq` made the task
    // binaries O(segments × keys), which the r17 scale audit measured
    // as a 2.4× super-linear read (split count and per-delete key
    // count both grow with data). The CDC feed's per-commit splits
    // keep the inline field (bounded by the commit).
    eqBc: Option[org.apache.spark.broadcast.Broadcast[IndexedSeq[EqFilter]]] = None,
    eqIdx: IndexedSeq[Int] = Vector.empty) {

  /** The filters a reader must subtract for this file — broadcast
    * indices when present, else the inline list.
    */
  def resolvedEq: Seq[EqFilter] = eqBc match {
    case Some(bc) => val all = bc.value; eqIdx.map(all(_))
    case None => eq
  }
  /** THE deletion-vector test. Its only caller is
    * [[SegmentIO.Cursor]]'s live-row rule, which every reader — scans,
    * change feed, maintenance rewrites, DELETE — steps through, so all
    * of them skip the same rows.
    */
  def dvDead(ord: Long): Boolean = dv match {
    case Some(d) => GraftSegFile.marked(d, ord)
    case None => false
  }
}
private[sources] object GraftSegFile {
  /** Ordinal-bitmap membership, int-bounds-guarded (BitSet is
    * Int-indexed; ordinals are Long) — shared by the deletion vector
    * and the change feed's emit-only delta.
    */
  def marked(bits: scala.collection.immutable.BitSet, ord: Long): Boolean =
    ord <= Int.MaxValue && bits.contains(ord.toInt)

  def of(s: GraftCatalog.Segment): GraftSegFile =
    GraftSegFile(s.path, s.rows, s.dv, lineage = s.lineage)
  /** Plan-shared pre-compiled form — use inside per-segment loops. */
  def of(
      s: GraftCatalog.Segment,
      compiled: IndexedSeq[(Long, EqFilter)]): GraftSegFile =
    GraftSegFile(s.path, s.rows, s.dv, EqFilter.applicable(compiled, s), s.lineage)

  /** Broadcast form: applicable filters as indices into `bc` (which
    * holds `compiled.map(_._2)` in order). `bc = None` (no outstanding
    * deletes) degrades to the plain file.
    */
  def of(
      s: GraftCatalog.Segment,
      compiled: IndexedSeq[(Long, EqFilter)],
      bc: Option[org.apache.spark.broadcast.Broadcast[IndexedSeq[EqFilter]]]): GraftSegFile =
    bc match {
      case None => GraftSegFile(s.path, s.rows, s.dv, lineage = s.lineage)
      case Some(b) =>
        val idx = compiled.zipWithIndex.collect {
          case ((sq, _), i) if GraftCatalog.eqApplies(sq, s.seq) => i
        }
        GraftSegFile(s.path, s.rows, s.dv, lineage = s.lineage, eqBc = Some(b),
          eqIdx = idx)
    }
}

private[sources] sealed trait GraftCatalogSplit extends InputPartition {
  def files: Seq[GraftSegFile]
  def numFields: Int
}
private[sources] case class GraftCatalogPartition(
    files: Seq[GraftSegFile], numFields: Int) extends GraftCatalogSplit
private[sources] case class GraftCatalogKeyedPartition(
    files: Seq[GraftSegFile], numFields: Int, keyRow: InternalRow)
    extends GraftCatalogSplit with HasPartitionKey {
  override def partitionKey(): InternalRow = keyRow
}

private[sources] case class GraftCatalogReaderFactory(
    full: StructType, required: StructType) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftCatalogSplit]
    val wantsMeta = required.fieldNames.exists(GraftMetaCols.names.contains)
    // Column-pruning projection, built once per split (codegen'd):
    // identity when nothing was pruned. Requested metadata columns
    // (_segment/_pos) bind past the data layout into a per-row meta
    // struct joined on the right. The projection's output row is
    // instance-reused, same as the deserialization row — both within
    // the PartitionReader reuse contract.
    val metaRow = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(4)
    val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
    val proj: UnsafeRow => InternalRow =
      if (!wantsMeta && required.length == full.length) identity
      else {
        val exprs = required.fields.toSeq.map { f =>
          val i = f.name match {
            case GraftMetaCols.Segment => full.length
            case GraftMetaCols.Pos => full.length + 1
            case GraftMetaCols.RowId => full.length + 2
            case GraftMetaCols.LastUpdatedSeq => full.length + 3
            case n => full.fieldIndex(n)
          }
          org.apache.spark.sql.catalyst.expressions.BoundReference(
            i, f.dataType, f.nullable): org.apache.spark.sql.catalyst.expressions.Expression
        }
        val up = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(exprs)
        if (wantsMeta) r => up(joined(r, metaRow)) else r => up(r)
      }
    // Files are read through the segment cursor's LIVE step: deletion-
    // vector rows and rows a newer EQUALITY DELETE matches are read
    // past, never emitted — the merge-on-read subtraction.
    new PartitionReader[InternalRow] {
      private val fileIter = p.files.iterator
      private var cur: SegmentIO.Cursor = _
      private def nextFile(): Boolean = fileIter.hasNext && {
        val f = fileIter.next()
        cur = new SegmentIO.Cursor(f, p.numFields)
        if (wantsMeta)
          metaRow.update(0, org.apache.spark.unsafe.types.UTF8String.fromString(f.path))
        true
      }
      override def next(): Boolean = {
        while (cur != null || nextFile()) {
          if (cur.nextLive()) {
            if (wantsMeta) {
              metaRow.update(1, cur.ordinal)
              if (cur.lineage()) {
                metaRow.update(2, cur.rowId)
                metaRow.update(3, cur.updatedSeq)
              } else { // unassigned lineage (legacy segment) -> null
                metaRow.update(2, null)
                metaRow.update(3, null)
              }
            }
            return true
          }
          cur.close(); cur = null
        }
        false
      }
      override def get(): InternalRow = proj(cur.row)
      override def close(): Unit = if (cur != null) cur.close()
    }
  }
}

