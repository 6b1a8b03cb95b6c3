package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.sql.{DataFrame, SparkSession}

import GraftProcedure.in

/** Incremental MATERIALIZED VIEWS over catalog tables —
  * `CALL graft.system.create_mv(...)` / `CALL graft.system.refresh_mv(...)`.
  *
  * An MV here is an ordinary catalog table (queryable, droppable,
  * time-travelable like any other) whose definition — its sides (one
  * source table, or a fact and its dims with an ON conjunction), GROUP
  * BY columns, aggregate list, optional WHERE — and each side's
  * last-refreshed version live in its TBLPROPERTIES ([[MvDef]]). A
  * single-table MV is a join MV with one side and no ON conjunction:
  * create and refresh have one path each. Refresh is INCREMENTAL by
  * snapshot diff, the move that matters at 100 TB: a day's appends
  * touch a handful of group keys, so refresh cost should track the
  * CHANGED data, never the base table size.
  *
  * The refresh algorithm (group-restricted recompute, the classic
  * summary-delta method — self-maintainable aggregates need no base
  * scan at all, but arbitrary aggregates do; recomputing ONLY the
  * touched groups supports every aggregate Spark has, including
  * non-distributive ones like `count(distinct)` and `percentile`):
  *
  *  1. Diff each side's retained snapshots between the MV's recorded
  *     version v0 and the current v1: segment ADDED, segment REMOVED,
  *     deletion-vector CHANGED, equality-delete set CHANGED. Pure
  *     metadata — no data read.
  *  2. Collect the DISTINCT group keys of the changed rows: each
  *     changed side's SEGMENT-PINNED Δ scan ([[segmentsDf]] — the plan
  *     holds only the changed segments; removed ones are pinned with
  *     their v0 deletion vectors, which snapshot retention keeps on
  *     disk) joined with the other sides, none for a single-table MV,
  *     plus the keys of rows an in-range equality delete killed (or a
  *     RESTORE resurrected) — key-filtered scans with pushed
  *     per-column INs, so merge-on-read upsert epochs refresh
  *     incrementally too ([[eqKeyMatchScan]]). Every group whose rows
  *     changed is in this set; groups whose rows didn't change CANNOT
  *     have changed — their MV rows are provably still correct.
  *  3. Recompute those groups from the current input: a null-safe
  *     left-semi join of it against the touched keys (which rides
  *     zone-map/Bloom segment skipping on the base scans), then the
  *     original GROUP BY. Cost ∝ segments holding touched groups.
  *  4. Apply in ONE atomic MERGE: touched keys outer-joined to the
  *     recomputed rows; matched+recomputed → UPDATE, unmatched-in-MV →
  *     INSERT, touched-but-vanished (last row of the group deleted) →
  *     DELETE.
  *
  * Fallbacks keep refresh always-correct: if a v0 snapshot aged out
  * of retention, or a side's schema changed between v0 and v1, refresh
  * degrades to a full recompute through the atomic REPLACE TABLE AS
  * SELECT path. A crash between MERGE and the version-property bump
  * re-runs the same diff on the next refresh — recomputing a touched
  * group is idempotent, so the retry converges.
  */
private[graft] object GraftMvOps {
  import org.apache.spark.sql.functions.{col, expr, lit}

  /** The result columns of `create_mv` and `refresh_mv`: what `create`
    * and `refresh` return, behind the MV's name.
    */
  private[sources] val ProcedureResult: StructType = GraftProcedure.result(
    "table" -> StringType, "mode" -> StringType, "groups" -> LongType,
    "source_version" -> LongType)

  val SourceProp = "graft.mv.source"
  val GroupProp = "graft.mv.group"
  val AggsProp = "graft.mv.aggs"
  /** Optional pre-aggregation WHERE over source columns (a FILTERED MV
    * — the Snowflake/BigQuery "materialized view with WHERE" shape).
    * Applied before grouping at create, full refresh, AND on both
    * sides of the incremental diff: a changed row that fails the
    * filter cannot change the MV, so filtering the touched-key scans
    * is both correct and cheaper. On a JOIN MV the WHERE applies to
    * the JOINED tuple (any side's columns) with the same contract.
    */
  val FilterProp = "graft.mv.filter"
  /** JOIN MV (the N-way star/snowflake rollup shape): `create_mv`'s
    * source may be `'<fact> JOIN <d1> ON <c1> [JOIN <d2> ON <c2> …]'`.
    * [[SourceProp]] then holds the FACT table (so source-keyed MV
    * discovery still works); these three hold the dim tables (comma
    * list), the ON conditions as ONE conjunction (the rewrite compares
    * conjunct SETS, so join order is immaterial), and the dims'
    * recorded versions (comma list — at one dim identical to the
    * historical single-value format). All three are present together
    * or absent together: absent, the MV has one side. Every MV
    * refreshes by the per-side delta-join rule (see [[refresh]]):
    * touched group keys come from ⋃ₖ ΔSₖ ⋈ others, with segment-pinned
    * Δ scans — for one side just ΔS — then the group-restricted
    * recompute + atomic MERGE tail applies.
    */
  val JoinSourceProp = "graft.mv.join.source"
  val JoinCondProp = "graft.mv.join.on"
  val JoinVersionProp = "graft.mv.join.version"
  val VersionProp = "graft.mv.version"
  /** Refresh-in-flight marker. An incremental refresh lands its MERGE
    * and bumps [[VersionProp]] in TWO commits; between them the MV
    * entry reads data@v1 / props@v0 — exactly the window where the
    * stale-delta rewrite would double-count the delta. The flag is set
    * before the MERGE and cleared ATOMICALLY with the version bump, so
    * any entry snapshot either predates the MERGE (consistent at v0),
    * carries the flag (rewrite declines), or postdates the bump
    * (consistent at v1). A crash mid-window leaves the flag up — the
    * stale rewrite stays safely off for that MV until the next
    * successful refresh clears it.
    */
  val RefreshingProp = "graft.mv.refreshing"

  /** One MV definition: its sides, each with the version the MV data
    * reflects (side 0 is the source — a join MV's fact — then the
    * dims), the ON conjunction (None for one side), the GROUP BY
    * columns, the aggregate list as written, and the optional WHERE.
    * [[MvDef.read]] is the one parser of the MV table properties and
    * [[props]] their one writer: create, the full RTAS and the
    * refresh's version patch all write `props`, and the refresh and
    * the transparent rewrite both read through `read`.
    */
  private[graft] case class MvDef(
      sides: Seq[MvDef.Side], on: Option[String], group: Seq[String],
      aggs: String, where: Option[String]) {
    def aggList: Seq[String] = splitTop(aggs)

    /** The same definition with every side at `versions`. */
    def at(versions: Seq[Long]): MvDef =
      copy(sides = sides.zip(versions).map { case (s, v) => s.copy(version = v) })

    def props: Map[String, String] = {
      val dims = sides.tail
      Map(SourceProp -> sides.head.name, VersionProp -> sides.head.version.toString,
        GroupProp -> group.mkString(","), AggsProp -> aggs) ++
        on.toSeq.flatMap(c => Seq(JoinSourceProp -> dims.map(_.name).mkString(","),
          JoinCondProp -> c, JoinVersionProp -> dims.map(_.version).mkString(","))) ++
        where.map(FilterProp -> _)
    }
  }

  private[graft] object MvDef {
    case class Side(ns: String, table: String, version: Long) {
      def name: String = s"$ns.$table"
      def ident: Identifier = Identifier.of(Array(ns), table)
    }

    /** The definition `props` records, or why there is none: "not a
      * materialized view (…)" without a source, "not a well-formed
      * materialized view (…)" for a missing or unparsable key — a
      * hand-patched or cleared property must read as a malformed MV,
      * never as a raw key-not-found. A refresh throws the reason; the
      * rewrite declines the candidate.
      */
    def read(props: Map[String, String]): Either[String, MvDef] = {
      def malformed(why: String) = Left(s"not a well-formed materialized view ($why)")
      def missing(key: String) = malformed(s"no $key table property")
      val source = props.getOrElse(SourceProp,
        return Left(s"not a materialized view (no $SourceProp table property)"))
      val version = props.getOrElse(VersionProp, return missing(VersionProp))
      val group = props.getOrElse(GroupProp, return missing(GroupProp))
      val aggs = props.getOrElse(AggsProp, return missing(AggsProp))
      val joinKeys = Seq(JoinSourceProp, JoinCondProp, JoinVersionProp)
      val (dims, on, dimVersions) = joinKeys.map(props.get) match {
        case Seq(None, None, None) => (Nil, None, Nil)
        case Seq(Some(ds), Some(c), Some(vs)) =>
          (ds.split(',').toSeq, Some(c), vs.split(',').toSeq)
        case got => return missing(joinKeys(got.indexOf(None)))
      }
      if (dimVersions.length != dims.length)
        return malformed(s"$JoinVersionProp records ${dimVersions.length} versions " +
          s"for ${dims.length} tables")
      val sides = (source +: dims).zip(version +: dimVersions).map { case (n, v) =>
        (n.split('.'), v.toLongOption) match {
          case (Array(ns, tbl), Some(ver)) if ns.nonEmpty && tbl.nonEmpty => Side(ns, tbl, ver)
          case _ => return malformed(s"side '$n' at version '$v'")
        }
      }
      if (sides.map(_.name).distinct.length != sides.length)
        return malformed("its sides are not distinct tables")
      Right(MvDef(sides, on, group.split(',').toSeq, aggs,
        props.get(FilterProp).map(_.trim).filter(_.nonEmpty)))
    }
  }

  /** Marker column in the MERGE source: null ⇔ the touched group has no
    * surviving base rows (vanished) — an agg column can't serve as the
    * marker because `min(x)` of a live group is legitimately null.
    */
  private val Present = "__graft_mv_present"
  /** Share of a side's rows a refresh may change before a join MV (two
    * or more sides) degrades to the full RTAS: past it the incremental
    * machinery recomputes most groups anyway, and a dim-side Δ term
    * pays a pass over the other sides. A single-table MV has no other
    * sides, so its refresh cost tracks the Δ alone and no gate applies.
    */
  private val ChurnThreshold = 0.5
  private val viewSeq = new java.util.concurrent.atomic.AtomicLong()
  /** Driver-side probe bound shared by the touched-key inline INs and
    * the delta-key pruning of join-refresh "other" sides: past it the
    * literal filters stop being metadata-sized and the code falls back
    * to the un-inlined (still correct) plan.
    */
  private val MaxInlineProbe = 1000

  /** Test/debug telemetry (under `spark.graft.mvRefresh.debug=true`):
    * for each delta term of the last incremental JOIN refresh, the
    * planned input splits of every non-delta ("other") side's scan vs
    * that side's total segments — the observable proof that delta-key
    * pruning kept a dim-side term from paying a full fact pass.
    */
  private[graft] case class OtherScanPlan(
      termSide: Int, otherSide: Int, planned: Int, total: Int)
  @volatile private[graft] var lastJoinTermScans: Seq[OtherScanPlan] = Nil

  /** The Spark-facing name this session registered the graft catalog
    * under (the catalog class is a JVM-wide metastore, but SQL needs
    * the session's name for it).
    */
  def catalogName(spark: SparkSession): String =
    spark.conf.getAll.collectFirst {
      case (key, value) if key.startsWith("spark.sql.catalog.") &&
          !key.substring("spark.sql.catalog.".length).contains(".") &&
          value == classOf[GraftCatalog].getName =>
        key.substring("spark.sql.catalog.".length)
    }.getOrElse(throw new IllegalStateException(
      "no graft catalog registered in this session"))

  /** Top-level comma split, parens- AND quote-aware: `sum(a) AS x,
    * corr(a,b) AS y` must not split inside `corr(a,b)`, and neither a
    * paren/comma inside a string literal (`count_if(c = '(')`) nor a
    * comma inside a backquoted alias may disturb depth or split point.
    * Doubled quotes and backslash escapes stay inside their literal.
    */
  def splitTop(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var depth = 0
    var quote: Char = 0 // 0 = outside any literal; else the open quote
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) {
        sb += c
        if (c == '\\' && quote != '`' && i + 1 < s.length) {
          sb += s.charAt(i + 1); i += 1
        } else if (c == quote) {
          if (i + 1 < s.length && s.charAt(i + 1) == quote) {
            sb += quote; i += 1 // doubled quote = escaped, still inside
          } else quote = 0
        }
      } else c match {
        case '\'' | '"' | '`' => quote = c; sb += c
        case '(' => depth += 1; sb += '('
        case ')' => depth -= 1; sb += ')'
        case ',' if depth == 0 => out += sb.toString.trim; sb.clear()
        case other => sb += other
      }
      i += 1
    }
    if (sb.nonEmpty) out += sb.toString.trim
    out.toSeq.filter(_.nonEmpty)
  }

  private def q(n: String): String = s"`${n.replace("`", "``")}`"

  private def parseSource(source: String): (String, String) =
    source.split('.') match {
      case Array(ns, tbl) if ns.nonEmpty && tbl.nonEmpty => (ns, tbl)
      case _ => throw new IllegalArgumentException(
        s"mv source must be '<namespace>.<table>' within the graft catalog, got '$source'")
    }

  /** A JOIN-shaped mv source:
    * `'<ns>.<fact> JOIN <ns>.<d1> ON <c1> [JOIN <ns>.<d2> ON <c2> ...]'`
    * → Some((fact, Seq(dim), Seq(cond))) — the N-way star/snowflake
    * shape (each ON may reference any already-joined side). Keyword
    * matching is case-insensitive and whitespace-delimited, so a table
    * or namespace containing "join"/"on" as a substring never
    * misparses; an ON condition must not itself contain a top-level
    * ` JOIN ` token (true for the equi conditions star schemas use).
    */
  private[graft] def parseJoinSource(
      source: String): Option[(String, Seq[String], Seq[String])] = {
    val parts = source.trim.split("(?i)\\s+JOIN\\s+")
    if (parts.length < 2) return None
    val fact = parts.head.trim
    if (fact.isEmpty || fact.exists(_.isWhitespace)) return None
    val onPat = java.util.regex.Pattern.compile("(?is)^\\s*(\\S+)\\s+ON\\s+(.+)$")
    val dimsConds = parts.tail.toSeq.map { seg =>
      val m = onPat.matcher(seg)
      if (!m.matches()) return None
      (m.group(1).trim, m.group(2).trim)
    }
    if (dimsConds.exists { case (d, c) => d.isEmpty || c.isEmpty }) return None
    Some((fact, dimsConds.map(_._1), dimsConds.map(_._2)))
  }

  /** `cat.ns.tbl` with every part backquoted, for SQL text and the
    * DataFrame reader/writer: a namespace or table name that needs
    * quoting (`my-ns`) must not fail to parse.
    */
  private[sources] def fqn(cat: String, ns: String, tbl: String): String =
    s"${q(cat)}.${q(ns)}.${q(tbl)}"

  /** DataFrame over EXACTLY `segs` of `ident` — the delta-scan
    * primitive for incremental key collection: the plan contains ONLY
    * the changed segments (one input partition each), so touched-key
    * cost is proportional to the CHANGE, never the table. Each Segment
    * value carries the deletion vector of the snapshot it was taken
    * from, so v0-side scans see removed rows and v1-side scans don't.
    * Equality deletes are deliberately NOT applied: an eq-delete Δ in
    * range gets its own touched-key term ([[eqKeyMatchScan]]), and a
    * ghost row here merely adds its group to the conservative touched
    * superset. The
    * relation carries no catalog, so the MV rewrite rule can never
    * recursively fire on refresh internals.
    */
  private[graft] def segmentsDf(
      spark: SparkSession, ident: Identifier,
      segs: Vector[GraftCatalog.Segment]): DataFrame = {
    val table = GraftCatalog.segmentPinnedTable(ident, segs).getOrElse(
      throw new NoSuchTableException(ident))
    org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
      org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
        .create(table, None, Some(ident)))
  }

  /** `side`'s table at the version it records, as SQL text. */
  private def pinnedRef(cat: String, side: MvDef.Side): String =
    s"${fqn(cat, side.ns, side.table)} VERSION AS OF ${side.version}"

  private def pinned(spark: SparkSession, cat: String, side: MvDef.Side): DataFrame =
    spark.sql(s"SELECT * FROM ${pinnedRef(cat, side)}")

  /** The MV's pre-aggregation input at the versions `d` records: every
    * side version-pinned, joined with the ON conjunction applied as
    * one WHERE — the optimizer pushes each equi conjunct into its join,
    * so the plan is the same chain of equi joins the per-ON form would
    * give, while the conjunction form keeps the stored condition
    * ORDER-FREE (the rewrite compares conjunct SETS) — then the MV's
    * WHERE, which may reference any side's columns. One side with no
    * ON is the pinned source under the WHERE.
    *
    * A filtered MV's WHERE must be DETERMINISTIC: the incremental
    * refresh re-evaluates it on both diff sides (touched-key scans and
    * the recompute), so `rand() < 0.5` would silently leave the MV
    * internally inconsistent — different coin flips per pass — with no
    * error anywhere. Create and every refresh build this input, so both
    * check it (the property could change between them); determinism is
    * read off the ANALYZED filter condition, since an unresolved parse
    * tree can't answer it.
    */
  private def inputAt(spark: SparkSession, cat: String, d: MvDef): DataFrame = {
    val from = d.sides.map(pinnedRef(cat, _)).mkString(" JOIN ")
    val joined = spark.sql(s"SELECT * FROM $from" + d.on.fold("")(c => s" WHERE $c"))
    d.where.fold(joined) { w =>
      val filtered = joined.where(expr(w))
      val ok = filtered.queryExecution.analyzed.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition.deterministic
      }.forall(identity)
      require(ok, s"materialized-view where must be deterministic, got '$w'")
      filtered
    }
  }

  /** Write `d`'s full aggregate of `input` as the MV, committed
    * atomically with `d`'s props: create's CREATE OR REPLACE, or with
    * `replace` the refresh's REPLACE TABLE AS SELECT swap (readers
    * never see a torn MV).
    */
  private def writeFull(
      spark: SparkSession, cat: String, ns: String, name: String,
      input: DataFrame, d: MvDef, replace: Boolean): (String, Long, Long) = {
    val df = input.groupBy(d.group.map(col): _*)
      .agg(expr(d.aggList.head), d.aggList.tail.map(expr): _*)
    // A group column or aggregate ALIAS named like the refresh marker
    // (`max(x) AS __graft_mv_present`) would be replaced by the
    // refresh's own marker column and break the MERGE.
    require(!df.columns.contains(Present),
      s"create_mv: a group column or aggregate alias may not be named $Present")
    val writer = d.props.foldLeft(df.writeTo(fqn(cat, ns, name))) {
      case (w, (k, v)) => w.tableProperty(k, v)
    }
    if (replace) writer.replace() else writer.createOrReplace()
    ("full", GraftCatalog.rowCount(ns, name), d.sides.head.version)
  }

  /** Render per-ON conditions as the stored conjunction. */
  private[graft] def condConjOf(conds: Seq[String]): String =
    conds.map(c => s"($c)").mkString(" AND ")

  /** Equality deletes present at `s1` but not `s0` and vice versa —
    * the Δ of outstanding merge-on-read state between the two diff
    * ends. A delete NEW in range kills rows of segments the structural
    * diff calls unchanged (the streaming-upsert steady state); a
    * delete GONE in range is either a GC (it applied to no live
    * segment — semantically a no-op) or a RESTORE to a pre-delete
    * version (rows resurrect without any segment moving). Both
    * directions contribute touched-key terms below.
    */
  private def eqDiff(
      s0: GraftCatalog.CatalogSnapshot, s1: GraftCatalog.CatalogSnapshot)
      : (Vector[GraftCatalog.EqDelete], Vector[GraftCatalog.EqDelete]) =
    (s1.eqDeletes.filterNot(s0.eqDeletes.contains),
      s0.eqDeletes.filterNot(s1.eqDeletes.contains))

  /** Scan of `side` at its version, restricted to rows whose key
    * columns match any of `eqs`' key tuples — the Δ⁻ primitive that
    * makes refresh incremental under equality deletes (merge-on-read
    * upserts, x13/st17): rows newly killed by an in-range delete live
    * in segments the structural diff calls UNCHANGED, so their group
    * keys must join the touched union from here (scanned at v0, where
    * they were still visible); rows a RESTORE resurrected are the
    * mirror image (scanned at v1). Delete keys are metadata-sized (the
    * per-commit upsert cap) and already driver-resident, so they
    * inline as per-column literal IN filters — a conjunctive SUPERSET
    * of the exact tuple set (recomputing an extra group is correct,
    * merely unnecessary) that pushes down statically and rides
    * zone-map/Bloom segment skipping: cost tracks the segments HOLDING
    * matching keys, never the table. Sequence-number scoping needs no
    * code here: a delete new in (v0, v1] has seq greater than every
    * v0-live segment's, so every v0 row it matches it also kills — and
    * the batch's OWN new rows (seq == the delete's) are collected from
    * the structural added-segment term, read at v1 where the scan
    * layer already exempts them.
    */
  private def eqKeyMatchScan(
      spark: SparkSession, cat: String, side: MvDef.Side,
      eqs: Seq[GraftCatalog.EqDelete]): DataFrame = {
    val base = pinned(spark, cat, side)
    // One filtered scan per distinct key-column set (epochs of one
    // upsert stream share keyCols, so this is almost always one scan).
    eqs.groupBy(_.keyCols).values.map { group =>
      val keyCols = group.head.keyCols
      val tuples = group.flatMap(_.keys)
      val cond = keyCols.zipWithIndex.map { case (c, j) =>
        val vs = tuples.map(_(j)).distinct
        val nonNull = vs.filterNot(_ == null)
        val in = if (nonNull.isEmpty) lit(false) else col(c).isin(nonNull: _*)
        if (vs.contains(null)) in || col(c).isNull else in
      }.reduce(_ && _)
      base.where(cond)
    }.reduce(_ unionAll _)
  }

  /** Total key tuples across a diff's eq-delete terms. Past
    * `spark.graft.mvRefresh.eqKeyLimit` the per-column IN literals stop
    * being metadata-sized (compile cost, task-binary bloat) and the
    * refresh degrades to the always-correct full RTAS.
    */
  private def eqKeyCount(eqs: Seq[GraftCatalog.EqDelete]): Long =
    eqs.map(_.keys.length.toLong).sum

  private def eqKeyLimit(spark: SparkSession): Long =
    spark.conf.get("spark.graft.mvRefresh.eqKeyLimit", "10000").toLong

  /** CREATE (or replace) the MV: one full aggregate of its sides, each
    * PINNED at its current version (a concurrent append between read
    * and commit lands in the NEXT refresh's diff instead of silently
    * half-appearing), committed atomically with the definition props.
    * `source` is one `'<ns>.<table>'` or the N-way star/snowflake join
    * ([[parseJoinSource]]); ambiguous column names across sides fail
    * loudly at analysis (star schemas keep sides disjoint).
    */
  def create(spark: SparkSession, ns: String, name: String,
      source: String, group: String, aggs: String,
      where: String = ""): (String, Long, Long) = {
    val cat = catalogName(spark)
    val (names, on) = parseJoinSource(source) match {
      case Some((fact, dims, conds)) => (fact +: dims, Some(condConjOf(conds)))
      case None => (Seq(source), None)
    }
    require(names.distinct.length == names.length,
      "create_mv: join MV sides must be distinct tables")
    val sides = names.map { n =>
      val (sns, stbl) = parseSource(n)
      MvDef.Side(sns, stbl, GraftCatalog.currentVersion(sns, stbl).getOrElse(
        throw new NoSuchTableException(Identifier.of(Array(sns), stbl))))
    }
    val d = MvDef(sides, on, group.split(',').map(_.trim).filter(_.nonEmpty).toSeq, aggs,
      Option(where).map(_.trim).filter(_.nonEmpty))
    require(d.group.nonEmpty, "create_mv: group_cols must name at least one column")
    require(d.aggList.nonEmpty, "create_mv: aggs must hold at least one aggregate")
    writeFull(spark, cat, ns, name, inputAt(spark, cat, d), d, replace = false)
  }

  /** Per-MV refresh serialization: two interleaved refreshes of the
    * same MV could otherwise race their MERGEs — a v0→v1 diff's MERGE
    * landing AFTER a v0→v2 diff's would overwrite groups with STALE
    * aggregates while the version property says v2. The lock makes
    * refreshes of one MV strictly sequential (in-JVM, matching the
    * metastore's own scope); distinct MVs refresh concurrently.
    */
  private val refreshLocks =
    new java.util.concurrent.ConcurrentHashMap[Identifier, Object]()

  /** Refresh: returns (mode, groups, source_version) where mode is
    * "noop" (already current), "incremental" (groups = touched group
    * count) or "full" (groups = MV row count after recompute).
    */
  def refresh(spark: SparkSession, ns: String, name: String): (String, Long, Long) = {
    val ident0 = Identifier.of(Array(ns), name)
    refreshLocks.computeIfAbsent(ident0, _ => new Object).synchronized {
      refreshLocked(spark, ns, name)
    }
  }

  /** One refresh for every MV, the per-side delta-join rule: noop
    * when no side moved, a version patch when no side's DATA moved,
    * the incremental group-restricted recompute for in-gate changes,
    * the full RTAS otherwise. A single-table MV is the one-side case:
    * its only Δ terms are ΔS itself, with no other sides to join or
    * probe.
    */
  private def refreshLocked(
      spark: SparkSession, ns: String, name: String): (String, Long, Long) = {
    val cat = catalogName(spark)
    val ident = Identifier.of(Array(ns), name)
    val props = GraftCatalog.tablePropsJava(ident).asScala.toMap
    if (GraftCatalog.currentVersion(ns, name).isEmpty)
      throw new NoSuchTableException(ident)
    val d0 = MvDef.read(props).fold(
      why => throw new IllegalArgumentException(s"$ns.$name is $why"), identity)
    val sides = d0.sides
    val idents = sides.map(_.ident)
    val d1 = d0.at(sides.map(s => GraftCatalog.currentVersion(s.ns, s.table)
      .getOrElse(throw new NoSuchTableException(s.ident))))
    val (v0s, v1s) = (sides.map(_.version), d1.sides.map(_.version))
    // The current pre-aggregation input; building it re-checks that the
    // WHERE is deterministic, before any path may return.
    val curAll = inputAt(spark, cat, d1)
    if (v0s == v1s) {
      // A previously-failed MERGE can leave RefreshingProp up with the
      // MV still consistent at its recorded versions (the MERGE is one
      // atomic commit — it either landed with the version bump or not
      // at all). A verified noop is the proof of consistency, so clear
      // the flag here or the stale-delta rewrite stays disabled until
      // a data-changing refresh happens to run.
      if (props.contains(RefreshingProp))
        GraftCatalog.patchTableProps(ident, Map.empty, unset = Set(RefreshingProp))
      return ("noop", 0L, v1s.head)
    }
    def fullRefresh(): (String, Long, Long) =
      writeFull(spark, cat, ns, name, curAll, d1, replace = true)

    // The delta-join rule. A group's aggregate can change only through
    // a joined TUPLE that was added or removed, and every changed tuple
    // contains a changed row on at least one side:
    //   ⨝(S¹ᵢ) Δ ⨝(S⁰ᵢ) ⊆ ⋃ₖ (ΔSₖ⁺ ⨝ others@v1) ∪ (ΔSₖ⁻ ⨝ others@v0)
    // so the union of those 2N terms' group keys is a conservative
    // superset of the touched groups — then [[applyTouchedGroups]]
    // recomputes ONLY those groups from the current input and applies
    // one atomic MERGE. Each Δ scan is SEGMENT-PINNED (plans exactly
    // the changed segments); the "others" scans in a dim-side term
    // pay full passes, which is why churn above ChurnThreshold on any
    // side of a join MV degrades to the always-correct one-pass full
    // RTAS. Fact-side-only change — the star-schema steady state, and
    // every change to a single-table MV — leaves ONLY the ΔF ⨝ dims@v1
    // term: refresh cost tracks the appended data, never the table.
    val snaps0 = idents.zip(v0s).map { case (id, v) =>
      GraftCatalog.snapshotByVersion(id, v) }
    val snaps1 = idents.zip(v1s).map { case (id, v) =>
      GraftCatalog.snapshotByVersion(id, v) }
    // Incremental gate, per side: both snapshots retained, schema
    // unchanged (an ALTER between refreshes invalidates per-column
    // reasoning — rare, and full recompute is always correct).
    // Outstanding equality deletes may differ — each side's eq-delete
    // Δ gets its own key term below.
    val inGate = snaps0.zip(snaps1).forall {
      case (Some(s0), Some(s1)) => s0.schema == s1.schema
      case _ => false
    }
    if (!inGate) return fullRefresh()
    // Per-side eq-delete Δ: (new in range → rows killed, visible at
    // v0; gone in range → rows resurrected by RESTORE, visible at v1).
    // A delete new in range kills rows of segments the structural diff
    // calls unchanged (the merge-on-read upsert steady state, x13/st17).
    val eqDiffs: Seq[(Vector[GraftCatalog.EqDelete], Vector[GraftCatalog.EqDelete])] =
      snaps0.zip(snaps1).map {
        case (Some(s0), Some(s1)) => eqDiff(s0, s1)
        case _ => throw new IllegalStateException("unreachable: gate checked")
      }
    if (eqDiffs.map { case (nw, gn) => eqKeyCount(nw ++ gn) }.sum > eqKeyLimit(spark))
      return fullRefresh()
    // Per-side (segments live at v1 only, at v0 only): a dv-changed
    // segment appears on BOTH sides — all its keys join in as a
    // conservative superset, avoiding bitmap diffs.
    val diffs: Seq[(Vector[GraftCatalog.Segment], Vector[GraftCatalog.Segment])] =
      snaps0.zip(snaps1).map { case (Some(s0), Some(s1)) =>
        val m0 = s0.segments.map(x => x.path -> x).toMap
        val m1 = s1.segments.map(x => x.path -> x).toMap
        val dv = (m0.keySet & m1.keySet).filter(px => m0(px).dv != m1(px).dv)
        (s1.segments.filter(x => !m0.contains(x.path) || dv(x.path)),
          s0.segments.filter(x => !m1.contains(x.path) || dv(x.path)))
      case _ => throw new IllegalStateException("unreachable: gate checked")
      }
    if (diffs.forall { case (a, b) => a.isEmpty && b.isEmpty } &&
        eqDiffs.forall { case (a, b) => a.isEmpty && b.isEmpty }) {
      // Metadata-only drift (property churn moved versions without
      // touching data): patch the recorded versions — at 100 TB the
      // difference between an ALTER and a full recompute. Clears a
      // stuck RefreshingProp too, by the same proof as the noop above.
      GraftCatalog.patchTableProps(ident, d1.props, unset = Set(RefreshingProp))
      return ("noop", 0L, v1s.head)
    }
    val churny = sides.length > 1 && diffs.zip(snaps1).exists {
      case ((nw, od), Some(s1)) =>
        (nw ++ od).map(_.rows).sum.toDouble >
          ChurnThreshold * math.max(1L, s1.segments.map(_.rows).sum).toDouble
      case _ => false
    }
    if (churny) return fullRefresh()
    val keyCols = d0.group.map(col)
    // Equi-join column pairs parsed from the stored conjunction —
    // (side, column) ↔ (side, column). They drive DELTA-KEY PRUNING
    // of the "others" scans below: a dim-side term used to pay a
    // full pass over every other side (the fact above all); with the
    // delta's join-key values pushed as literal INs onto the linked
    // columns, zone maps/Blooms prune the fact to the segments
    // actually holding matched keys — a 1-row dim update plans a
    // handful of fact splits, never the fact table. Columns resolve
    // against the sides' schemas (unique across sides by the create
    // analysis); anything unresolvable simply yields no pruning.
    val sideSchemas: Seq[StructType] = snaps1.map(_.get.schema)
    val equiPairs: Seq[((Int, String), (Int, String))] = {
      import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression}
      val parsed = d0.on.flatMap { c =>
        try Some(spark.sessionState.sqlParser.parseExpression(c))
        catch { case scala.util.control.NonFatal(_) => None }
      }
      def conj(e: Expression): Seq[Expression] = e match {
        case And(l, r) => conj(l) ++ conj(r)
        case o => Seq(o)
      }
      val resolver = spark.sessionState.conf.resolver
      def owner(n: String): Option[(Int, String)] = {
        val hits = sideSchemas.zipWithIndex.flatMap { case (sc, i) =>
          sc.fields.find(f => resolver(f.name, n)).map(f => (i, f.name))
        }
        if (hits.length == 1) Some(hits.head) else None
      }
      parsed.toSeq.flatMap(conj).flatMap {
        case EqualTo(
            a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute,
            b: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute)
            if a.nameParts.length == 1 && b.nameParts.length == 1 =>
          (owner(a.nameParts.head), owner(b.nameParts.head)) match {
            case (Some(x), Some(y)) if x._1 != y._1 => Some((x, y))
            case _ => None
          }
        case _ => None
      }
    }
    val termDebug =
      if (spark.conf.get("spark.graft.mvRefresh.debug", "false").toBoolean)
        Some(Seq.newBuilder[OtherScanPlan])
      else None
    // Side k's Δ frames, each with the definition (versions) its term
    // joins the other sides at: the pinned changed segments at v1
    // (added) and v0 (removed), then the eq-delete Δ — killed rows
    // scanned at v0, resurrected rows at v1, each a key-filtered scan
    // whose pushed per-column INs keep it metadata-cheap.
    def deltas(k: Int): Seq[(DataFrame, MvDef)] = {
      val ((nw, od), (enw, egn)) = (diffs(k), eqDiffs(k))
      Seq(nw -> d1, od -> d0).collect { case (segs, d) if segs.nonEmpty =>
        (segmentsDf(spark, idents(k), segs), d)
      } ++ Seq(enw -> d0, egn -> d1).collect { case (eqs, d) if eqs.nonEmpty =>
        (eqKeyMatchScan(spark, cat, d.sides(k), eqs), d)
      }
    }
    // Probe superset per changed side: ONE driver probe job per
    // (side, equi column) per refresh, computed over the UNION of
    // that side's Δ frames — a side changed at several ends used to
    // pay a probe job per TERM, serializing small driver jobs before
    // the real refresh. A superset of any single term's keys prunes
    // the other sides less tightly but never wrongly (pruning is an
    // optimization; the join condition still decides membership).
    val probeCache = scala.collection.mutable.Map[(Int, String), Option[Seq[Any]]]()
    def deltaVals(k: Int, ck: String): Option[Seq[Any]] =
      probeCache.getOrElseUpdate((k, ck), {
        val frames = deltas(k).map(_._1.select(col(ck)))
        if (frames.isEmpty) Some(Nil)
        else {
          val rows = frames.reduce(_ unionAll _).distinct()
            .limit(MaxInlineProbe + 1).collect()
          if (rows.length > MaxInlineProbe) None
          else Some(rows.map(_.get(0)).filterNot(_ == null).toSeq)
        }
      })
    // One key term per Δ frame: the changed side's delta crossed with
    // every OTHER side at the term's versions, the conjunction applied
    // once (the optimizer pushes each conjunct into its equi join —
    // never a surviving cartesian for the equi conditions star schemas
    // use). A filtered MV's WHERE applies to the joined tuple exactly
    // as at create — a changed tuple failing it cannot have changed
    // the MV.
    def term(k: Int, deltaK: DataFrame, d: MvDef): DataFrame = {
      val others = sides.indices.filter(_ != k).map { j =>
        val base = pinned(spark, cat, d.sides(j))
        // The probe job runs only for DIM-side terms: pruning the
        // fact there is the whole point, while the fact-side term —
        // the per-micro-batch steady state — would pay a driver
        // collect per epoch to prune already-small dims.
        val pruned = (if (k == 0) Nil else equiPairs.flatMap {
          case ((ks, ck), (js, cj)) if ks == k && js == j => Some((ck, cj))
          case ((js, cj), (ks, ck)) if ks == k && js == j => Some((ck, cj))
          case _ => None
        }).foldLeft(base) { case (df, (ck, cj)) =>
          deltaVals(k, ck) match {
            case Some(vals) =>
              df.where(if (vals.isEmpty) lit(false) else col(cj).isin(vals: _*))
            case None => df // probe overflow: no pruning, still correct
          }
        }
        termDebug.foreach { b =>
          val planned = pruned.queryExecution.executedPlan.collect {
            case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
              s.inputPartitions.length
          }.sum
          b += OtherScanPlan(k, j, planned,
            GraftCatalog.snapshotByVersion(idents(j), d.sides(j).version)
              .map(_.segments.length).getOrElse(-1))
        }
        pruned
      }
      val crossed = others.foldLeft(deltaK)(_ crossJoin _)
      val joined = d.on.fold(crossed)(c => crossed.where(expr(c)))
      d.where.fold(joined)(w => joined.where(expr(w))).select(keyCols: _*)
    }
    val touchedPlan = sides.indices.flatMap(k =>
      deltas(k).map { case (deltaK, d) => term(k, deltaK, d) })
      .reduce(_ unionAll _).distinct()
    termDebug.foreach(b => lastJoinTermScans = b.result())
    applyTouchedGroups(spark, cat, ns, name, touchedPlan, curAll, d1)
  }

  /** The incremental-refresh tail: collect the touched group keys,
    * recompute ONLY those groups from `curAll` — the CURRENT
    * pre-aggregation input, [[inputAt]] of `d` — and apply in one
    * atomic MERGE, then write `d`'s props (its versions) atomically
    * with clearing the refresh-in-flight flag.
    */
  private def applyTouchedGroups(
      spark: SparkSession, cat: String, ns: String, name: String,
      touchedPlan: DataFrame, curAll: DataFrame, d: MvDef): (String, Long, Long) = {
    val ident = Identifier.of(Array(ns), name)
    val (groupCols, aggList) = (d.group, d.aggList)
    // Inline the touched keys as PER-COLUMN literal IN filters on
    // the recompute scan when they fit a driver-side probe: a
    // multi-column key otherwise reaches the source only as a
    // `named_struct(...) IN subquery` runtime filter, which no
    // source can translate — per-column INs push down statically
    // and ride zone-map/Bloom segment skipping on every key
    // column, so the recompute reads the touched groups' files,
    // not the table (for a join MV they push through the join to
    // whichever side owns the column). Conjunctive per-column
    // supersets of the key set: never drops a touched row, the semi
    // join below stays the exact membership test.
    val touchedLocal = touchedPlan.limit(MaxInlineProbe + 1).collect()
    // Reuse what the probe already computed: when the keys fit
    // the driver probe, the MERGE's semi/outer joins read a
    // LOCAL relation instead of re-running the changed-segment
    // scans (which the uncached plan would otherwise pay twice
    // more); past the probe, persist the plan across its count
    // and both joins.
    val smallProbe = touchedLocal.length <= MaxInlineProbe
    val touched =
      if (smallProbe)
        spark.createDataFrame(
          java.util.Arrays.asList(touchedLocal: _*), touchedPlan.schema)
      else touchedPlan.persist()
    val touchedCount =
      if (smallProbe) touchedLocal.length.toLong
      else touched.count()
    // Literal INs exist only for atomic key types — an array/map/
    // struct group key can't become a Literal (and no zone map
    // tracks it anyway): fall through to the semi join alone.
    val atomicKeys = groupCols.forall(c =>
      curAll.schema.fields.find(_.name == c).exists(_.dataType match {
        case _: org.apache.spark.sql.types.ArrayType |
             _: org.apache.spark.sql.types.MapType |
             _: org.apache.spark.sql.types.StructType |
             _: org.apache.spark.sql.types.VariantType => false
        case _ => true
      }))
    val cur =
      if (!atomicKeys || touchedLocal.isEmpty ||
          touchedLocal.length > MaxInlineProbe) curAll
      else groupCols.zipWithIndex.foldLeft(curAll) { case (df, (c, i)) =>
        val vs = touchedLocal.map(_.get(i)).toSeq.distinct
        val nonNull = vs.filterNot(_ == null)
        // A NULL group key is a real group: keep NULL rows
        // whenever any touched key is NULL in this column.
        val base =
          if (nonNull.isEmpty) lit(false) else col(c).isin(nonNull: _*)
        df.where(if (vs.contains(null)) base || col(c).isNull else base)
      }
    // Null-safe semi join: a NULL group key is a real group under
    // GROUP BY semantics and must restrict/recompute like any
    // other.
    val semiCond = groupCols.map(c => cur(c) <=> touched(c)).reduce(_ && _)
    val recomputed = cur.join(touched, semiCond, "left_semi")
      .groupBy(groupCols.map(col): _*)
      .agg(expr(aggList.head), aggList.tail.map(expr): _*)
      .withColumn(Present, lit(true))
    val outerCond =
      groupCols.map(c => touched(c) <=> recomputed(c)).reduce(_ && _)
    val aggOutCols = recomputed.columns.toSeq
      .filterNot(c => groupCols.contains(c) || c == Present)
    val mergeSrc = touched.join(recomputed, outerCond, "left_outer")
      .select(groupCols.map(touched(_)) ++
        aggOutCols.map(recomputed(_)) :+ recomputed(Present): _*)
    val view = s"__graft_mv_src_${viewSeq.incrementAndGet()}"
    mergeSrc.createOrReplaceTempView(view)
    GraftCatalog.patchTableProps(ident, Map(RefreshingProp -> "true"))
    try {
      val on = groupCols.map(c => s"t.${q(c)} <=> s.${q(c)}").mkString(" AND ")
      val sets = aggOutCols.map(c => s"t.${q(c)} = s.${q(c)}").mkString(", ")
      val insCols = (groupCols ++ aggOutCols).map(q).mkString(", ")
      val insVals = (groupCols ++ aggOutCols).map(c => s"s.${q(c)}").mkString(", ")
      spark.sql(
        s"""MERGE INTO ${fqn(cat, ns, name)} t
           |USING ${q(view)} s
           |ON $on
           |WHEN MATCHED AND s.${q(Present)} IS NULL THEN DELETE
           |WHEN MATCHED THEN UPDATE SET $sets
           |WHEN NOT MATCHED AND s.${q(Present)} IS NOT NULL THEN
           |  INSERT ($insCols) VALUES ($insVals)""".stripMargin)
    } finally {
      spark.catalog.dropTempView(view)
      if (!smallProbe) touched.unpersist()
    }
    GraftCatalog.patchTableProps(ident, d.props, unset = Set(RefreshingProp))
    ("incremental", touchedCount, d.sides.head.version)
  }
}

/** `CALL graft.system.create_mv(ns, table, source, group_cols, aggs)`. */
private[graft] object GraftCreateMvProcedure extends GraftProcedure("create_mv",
    "create_mv(ns, table, source, group_cols, aggs, where): materialize a grouped aggregate of a catalog table",
    Seq(
      in("ns", StringType, "MV namespace"),
      in("table", StringType, "MV table name"),
      in("source", StringType, "source catalog table as '<ns>.<table>'"),
      in("group_cols", StringType, "comma-separated GROUP BY columns"),
      in("aggs", StringType,
        "comma-separated aggregate expressions, each aliased (e.g. 'sum(v) AS total')"),
      in("where", StringType,
        "optional pre-aggregation filter over source columns ('' = none)", Some("''"))),
    GraftMvOps.ProcedureResult) {

  override protected def run(input: InternalRow): Seq[Product] = {
    val (ns, table) = (str(input, 0), str(input, 1))
    val (mode, groups, version) = GraftMvOps.create(SparkSession.active, ns, table,
      str(input, 2), str(input, 3), str(input, 4), optStr(input, 5))
    Seq((identAt(input, 0).toString, mode, groups, version))
  }
}

/** `CALL graft.system.refresh_mv(ns, table)`. */
private[graft] object GraftRefreshMvProcedure extends GraftProcedure("refresh_mv",
    "refresh_mv(ns, table): incrementally refresh a materialized view from its source's changed segments",
    Seq(in("ns", StringType, "MV namespace"),
      in("table", StringType, "MV table name")),
    GraftMvOps.ProcedureResult) {

  override protected def run(input: InternalRow): Seq[Product] = {
    val (ns, table) = (str(input, 0), str(input, 1))
    val (mode, groups, version) = GraftMvOps.refresh(SparkSession.active, ns, table)
    Seq((identAt(input, 0).toString, mode, groups, version))
  }
}
