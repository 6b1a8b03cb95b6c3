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
  * time-travelable like any other) whose definition — source table,
  * GROUP BY columns, aggregate list — and last-refreshed source
  * version live in its TBLPROPERTIES. Refresh is INCREMENTAL by
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
  *  1. Diff the base table's retained snapshots between the MV's
  *     recorded version v0 and the current v1: segment ADDED, segment
  *     REMOVED, deletion-vector CHANGED, equality-delete set CHANGED.
  *     Pure metadata — no data read.
  *  2. Collect the DISTINCT group keys present in the changed segments
  *     only (`_segment` metadata-column filter; removed segments are
  *     read through `VERSION AS OF v0`, which snapshot retention keeps
  *     on disk), plus the keys of rows an in-range equality delete
  *     killed (or a RESTORE resurrected) — key-filtered scans with
  *     pushed per-column INs, so merge-on-read upsert epochs refresh
  *     incrementally too ([[eqKeyMatchScan]]). Every group whose rows
  *     changed is in this set; groups whose segments didn't change
  *     CANNOT have changed — their MV rows are provably still correct.
  *  3. Recompute those groups from the current base: a null-safe
  *     left-semi join of base against the touched keys (which rides
  *     zone-map/Bloom segment skipping on the base scan), then the
  *     original GROUP BY. Cost ∝ segments holding touched groups.
  *  4. Apply in ONE atomic MERGE: touched keys outer-joined to the
  *     recomputed rows; matched+recomputed → UPDATE, unmatched-in-MV →
  *     INSERT, touched-but-vanished (last row of the group deleted) →
  *     DELETE.
  *
  * Fallbacks keep refresh always-correct: if the v0 snapshot aged out
  * of retention, or the base schema changed between v0 and v1, refresh
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
    * historical single-value format). Join MVs refresh INCREMENTALLY
    * by the per-side delta-join rule (see the refresh branch below):
    * touched group keys come from ⋃ₖ ΔSₖ ⋈ others, with segment-pinned
    * Δ scans, then the shared group-restricted recompute + atomic
    * MERGE tail applies. Churn above
    * `spark.graft.mvRefresh.join.churnThreshold` (default 0.5) on any
    * side degrades to the full RTAS.
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
  /** Marker column in the MERGE source: null ⇔ the touched group has no
    * surviving base rows (vanished) — an agg column can't serve as the
    * marker because `min(x)` of a live group is legitimately null.
    */
  private val Present = "__graft_mv_present"
  private val SegAlias = "__graft_mv_seg"
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

  private def aggregateAt(
      spark: SparkSession, cat: String, sns: String, stbl: String,
      version: Long, groupCols: Seq[String], aggList: Seq[String],
      where: Option[String]): DataFrame = {
    val base = spark.sql(s"SELECT * FROM ${fqn(cat, sns, stbl)} VERSION AS OF $version")
    where.fold(base)(w => base.where(expr(w)))
      .groupBy(groupCols.map(col): _*)
      .agg(expr(aggList.head), aggList.tail.map(expr): _*)
  }

  /** A filtered MV's WHERE must be DETERMINISTIC: the incremental
    * refresh re-evaluates it on both diff sides (touched-key scans and
    * the recompute), so `rand() < 0.5` would silently leave the MV
    * internally inconsistent — different coin flips per pass — with no
    * error anywhere. Validated at create AND refresh (the property
    * could in principle change between them); determinism is read off
    * the ANALYZED filter condition, since an unresolved parse tree
    * can't answer it.
    */
  private def requireDeterministicWhere(
      spark: SparkSession, cat: String, sns: String, stbl: String, w: String): Unit =
    requireDeterministicWhereOn(
      spark.sql(s"SELECT * FROM ${fqn(cat, sns, stbl)}"), w)

  private def requireDeterministicWhereOn(df: DataFrame, w: String): Unit = {
    val analyzed = df.where(expr(w)).queryExecution.analyzed
    val ok = analyzed.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition.deterministic
    }.forall(identity)
    require(ok, s"materialized-view where must be deterministic, got '$w'")
  }

  /** CREATE (or replace) the MV: one full aggregate of the source
    * PINNED at its current version (a concurrent append between read
    * and commit lands in the NEXT refresh's diff instead of silently
    * half-appearing), committed atomically with the definition props.
    */
  /** The full N-way join aggregate, every side version-pinned: fact ⋈
    * dims with the recorded conjunction applied as one WHERE — the
    * optimizer pushes each equi conjunct into its join, so the plan is
    * the same chain of equi joins the per-ON form would give, while
    * the conjunction form keeps the stored condition ORDER-FREE (the
    * rewrite compares conjunct SETS).
    */
  private def joinAggregateAt(
      spark: SparkSession, cat: String,
      fns: String, ftbl: String, vf: Long,
      dims: Seq[(String, String)], vds: Seq[Long],
      condConj: String, groupCols: Seq[String], aggList: Seq[String],
      where: Option[String]): DataFrame = {
    val from = (s"${fqn(cat, fns, ftbl)} VERSION AS OF $vf" +:
      dims.zip(vds).map { case ((dns, dtbl), vd) =>
        s"${fqn(cat, dns, dtbl)} VERSION AS OF $vd"
      }).mkString(" JOIN ")
    val joined = spark.sql(s"SELECT * FROM $from WHERE $condConj")
    where.fold(joined)(w => joined.where(expr(w)))
      .groupBy(groupCols.map(col): _*)
      .agg(expr(aggList.head), aggList.tail.map(expr): _*)
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

  /** Scan of the source AT `version`, restricted to rows whose key
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
      spark: SparkSession, cat: String, sns: String, stbl: String,
      version: Long, eqs: Seq[GraftCatalog.EqDelete]): DataFrame = {
    val base = spark.sql(s"SELECT * FROM ${fqn(cat, sns, stbl)} VERSION AS OF $version")
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

  /** CREATE a JOIN MV (N-way star/snowflake): one full aggregate of
    * fact ⋈ dims, every side pinned at its current version, committed
    * atomically with the definition props. Ambiguous column names
    * across sides fail loudly at analysis (star schemas keep sides
    * disjoint). Props encode N sides backward-compatibly: dim names
    * and versions as comma lists, conditions as one conjunction — at
    * N = 1 identical to the historical single-dim format (modulo the
    * cosmetic parens around the condition).
    */
  private def createJoin(spark: SparkSession, ns: String, name: String,
      factSrc: String, dimSrcs: Seq[String], conds: Seq[String],
      group: String, aggs: String, where: String): (String, Long, Long) = {
    val cat = catalogName(spark)
    val (fns, ftbl) = parseSource(factSrc)
    val dims = dimSrcs.map(parseSource)
    require((s"$fns.$ftbl" +: dimSrcs).distinct.length == dimSrcs.length + 1,
      "create_mv: join MV sides must be distinct tables")
    val vf = GraftCatalog.currentVersion(fns, ftbl).getOrElse(
      throw new NoSuchTableException(Identifier.of(Array(fns), ftbl)))
    val vds = dims.map { case (dns, dtbl) =>
      GraftCatalog.currentVersion(dns, dtbl).getOrElse(
        throw new NoSuchTableException(Identifier.of(Array(dns), dtbl)))
    }
    val groupCols = group.split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val aggList = splitTop(aggs)
    require(groupCols.nonEmpty, "create_mv: group_cols must name at least one column")
    require(aggList.nonEmpty, "create_mv: aggs must hold at least one aggregate")
    // FILTERED join MV: the WHERE applies to the JOINED tuple before
    // aggregation (it may reference any side's columns) — same
    // determinism contract as the single-source filtered MV, validated
    // against the joined relation so cross-side references resolve.
    val mvWhere = Option(where).map(_.trim).filter(_.nonEmpty)
    mvWhere.foreach { w =>
      val from = (s"${fqn(cat, fns, ftbl)}" +:
        dims.map { case (dns, dtbl) => fqn(cat, dns, dtbl) }).mkString(" JOIN ")
      requireDeterministicWhereOn(
        spark.sql(s"SELECT * FROM $from WHERE ${condConjOf(conds)}"), w)
    }
    val df = joinAggregateAt(
      spark, cat, fns, ftbl, vf, dims, vds, condConjOf(conds), groupCols, aggList,
      mvWhere)
    require(!df.columns.exists(c => c == Present || c == SegAlias),
      s"create_mv: column may not be named $Present / $SegAlias")
    val writer = df.writeTo(fqn(cat, ns, name))
      .tableProperty(SourceProp, s"$fns.$ftbl")
      .tableProperty(JoinSourceProp, dims.map { case (a, b) => s"$a.$b" }.mkString(","))
      .tableProperty(JoinCondProp, condConjOf(conds))
      .tableProperty(GroupProp, groupCols.mkString(","))
      .tableProperty(AggsProp, aggs)
      .tableProperty(VersionProp, vf.toString)
      .tableProperty(JoinVersionProp, vds.mkString(","))
    mvWhere.fold(writer)(w => writer.tableProperty(FilterProp, w))
      .createOrReplace()
    ("full", GraftCatalog.rowCount(ns, name), vf)
  }

  def create(spark: SparkSession, ns: String, name: String,
      source: String, group: String, aggs: String,
      where: String = ""): (String, Long, Long) = {
    parseJoinSource(source).foreach { case (factSrc, dimSrcs, conds) =>
      return createJoin(spark, ns, name, factSrc, dimSrcs, conds, group, aggs, where)
    }
    val cat = catalogName(spark)
    val (sns, stbl) = parseSource(source)
    val v0 = GraftCatalog.currentVersion(sns, stbl).getOrElse(
      throw new NoSuchTableException(Identifier.of(Array(sns), stbl)))
    val groupCols = group.split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val aggList = splitTop(aggs)
    require(groupCols.nonEmpty, "create_mv: group_cols must name at least one column")
    require(aggList.nonEmpty, "create_mv: aggs must hold at least one aggregate")
    require(!groupCols.contains(Present) && !groupCols.contains(SegAlias),
      s"create_mv: group column may not be named $Present / $SegAlias")
    val mvWhere = Option(where).map(_.trim).filter(_.nonEmpty)
    mvWhere.foreach(requireDeterministicWhere(spark, cat, sns, stbl, _))
    val df = aggregateAt(spark, cat, sns, stbl, v0, groupCols, aggList, mvWhere)
    // Aggregate ALIASES collide with the refresh markers just as group
    // columns would: `max(x) AS __graft_mv_present` would be replaced
    // by the refresh's own marker column and break the MERGE.
    require(!df.columns.exists(c => c == Present || c == SegAlias),
      s"create_mv: aggregate alias may not be named $Present / $SegAlias")
    val writer = df.writeTo(fqn(cat, ns, name))
      .tableProperty(SourceProp, s"$sns.$stbl")
      .tableProperty(GroupProp, groupCols.mkString(","))
      .tableProperty(AggsProp, aggs)
      .tableProperty(VersionProp, v0.toString)
    mvWhere.fold(writer)(w => writer.tableProperty(FilterProp, w))
      .createOrReplace()
    ("full", GraftCatalog.rowCount(ns, name), v0)
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

  private def refreshLocked(
      spark: SparkSession, ns: String, name: String): (String, Long, Long) = {
    val cat = catalogName(spark)
    val ident = Identifier.of(Array(ns), name)
    val props = GraftCatalog.tablePropsJava(ident).asScala
    if (GraftCatalog.currentVersion(ns, name).isEmpty)
      throw new NoSuchTableException(ident)
    val source = props.getOrElse(SourceProp, throw new IllegalArgumentException(
      s"$ns.$name is not a materialized view (no $SourceProp table property)"))
    // JOIN MV: noop when neither side moved, metadata-only patch when
    // no side's DATA moved, per-side delta-join incremental
    // refresh for in-gate changes, full RTAS otherwise.
    props.get(JoinCondProp).foreach { condConj =>
      // Defensive prop reads (the rewrite path's discipline): a join MV
      // with hand-patched or cleared props must fail as "not a (join)
      // materialized view", not as a raw key-not-found.
      def jprop(key: String): String = props.getOrElse(key,
        throw new IllegalArgumentException(
          s"$ns.$name is not a well-formed join materialized view (no $key table property)"))
      def jvers(key: String): Seq[Long] = {
        val vs = jprop(key).split(',').toSeq
        require(vs.nonEmpty && vs.forall(v => v.nonEmpty && v.forall(_.isDigit)),
          s"$ns.$name: $key must be comma-separated version numbers, got '${jprop(key)}'")
        vs.map(_.toLong)
      }
      // Uniform side list: side 0 = fact, sides 1..N = dims — the
      // delta-join rule below treats every side the same way.
      val dims = jprop(JoinSourceProp).split(',').toSeq.map(parseSource)
      val sides: Seq[(String, String)] = parseSource(source) +: dims
      val v0s: Seq[Long] = jvers(VersionProp) ++ jvers(JoinVersionProp)
      require(v0s.length == sides.length,
        s"$ns.$name: recorded join versions (${v0s.length}) do not match sides (${sides.length})")
      val v1s: Seq[Long] = sides.map { case (tns, tbl) =>
        GraftCatalog.currentVersion(tns, tbl).getOrElse(
          throw new NoSuchTableException(Identifier.of(Array(tns), tbl)))
      }
      if (v0s == v1s) return ("noop", 0L, v0s.head)
      val jGroupCols = jprop(GroupProp).split(',').toSeq
      val jAggList = splitTop(jprop(AggsProp))
      val jWhere = props.get(FilterProp).map(_.trim).filter(_.nonEmpty)
      val idents = sides.map { case (tns, tbl) => Identifier.of(Array(tns), tbl) }

      def fullJoinRefresh(): (String, Long, Long) = {
        val writer = joinAggregateAt(
          spark, cat, sides.head._1, sides.head._2, v1s.head,
          dims, v1s.tail, condConj, jGroupCols, jAggList, jWhere)
          .writeTo(fqn(cat, ns, name))
          .tableProperty(SourceProp, source)
          .tableProperty(JoinSourceProp, jprop(JoinSourceProp))
          .tableProperty(JoinCondProp, condConj)
          .tableProperty(GroupProp, jprop(GroupProp))
          .tableProperty(AggsProp, jprop(AggsProp))
          .tableProperty(VersionProp, v1s.head.toString)
          .tableProperty(JoinVersionProp, v1s.tail.mkString(","))
        jWhere.fold(writer)(w => writer.tableProperty(FilterProp, w))
          .replace() // atomic RTAS swap — readers never see a torn MV
        ("full", GraftCatalog.rowCount(ns, name), v1s.head)
      }

      // N-WAY incremental refresh (the delta-join rule). A group's
      // aggregate can change only through a joined TUPLE that was
      // added or removed, and every changed tuple contains a changed
      // row on at least one side:
      //   ⨝(S¹ᵢ) Δ ⨝(S⁰ᵢ) ⊆ ⋃ₖ (ΔSₖ⁺ ⨝ others@v1) ∪ (ΔSₖ⁻ ⨝ others@v0)
      // so the union of those 2N terms' group keys is a conservative
      // superset of the touched groups — then the shared tail
      // recomputes ONLY those groups from the current join and applies
      // one atomic MERGE. Each Δ scan is SEGMENT-PINNED (plans exactly
      // the changed segments); the "others" scans in a dim-side term
      // pay full passes, which is why churn above the threshold on any
      // side degrades to the always-correct one-pass full RTAS.
      // Fact-side-only change — the star-schema steady state — leaves
      // ONLY the ΔF ⨝ dims@v1 term: refresh cost tracks the appended
      // fact data, never the fact table.
      val snaps0 = idents.zip(v0s).map { case (id, v) =>
        GraftCatalog.snapshotByVersion(id, v) }
      val snaps1 = idents.zip(v1s).map { case (id, v) =>
        GraftCatalog.snapshotByVersion(id, v) }
      // Same incremental gate as the single-source path, per side:
      // both snapshots retained, schema unchanged. Outstanding
      // equality deletes may differ — each side's eq-delete Δ gets its
      // own key term below, like the single-source path.
      val inGate = snaps0.zip(snaps1).forall {
        case (Some(s0), Some(s1)) => s0.schema == s1.schema
        case _ => false
      }
      if (!inGate) return fullJoinRefresh()
      // Per-side eq-delete Δ: (new in range → rows killed, visible at
      // v0; gone in range → rows resurrected by RESTORE, visible at v1).
      val eqDiffs: Seq[(Vector[GraftCatalog.EqDelete], Vector[GraftCatalog.EqDelete])] =
        snaps0.zip(snaps1).map {
          case (Some(s0), Some(s1)) => eqDiff(s0, s1)
          case _ => throw new IllegalStateException("unreachable: gate checked")
        }
      if (eqDiffs.map { case (nw, gn) => eqKeyCount(nw ++ gn) }.sum > eqKeyLimit(spark))
        return fullJoinRefresh()
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
        // difference between an ALTER and a full star-join recompute.
        GraftCatalog.patchTableProps(ident,
          Map(VersionProp -> v1s.head.toString,
            JoinVersionProp -> v1s.tail.mkString(",")),
          unset = Set(RefreshingProp))
        return ("noop", 0L, v1s.head)
      }
      // Churn gate, EVERY side: past the threshold the incremental
      // machinery recomputes most groups anyway (and non-fact delta
      // terms already pay full passes over the other sides).
      val thresh = spark.conf
        .get("spark.graft.mvRefresh.join.churnThreshold", "0.5").toDouble
      val churny = diffs.zip(snaps1).exists { case ((nw, od), Some(s1)) =>
        (nw ++ od).map(_.rows).sum.toDouble >
          thresh * math.max(1L, s1.segments.map(_.rows).sum).toDouble
      case _ => false
      }
      if (churny) return fullJoinRefresh()
      def at(k: Int, vs: Seq[Long]): DataFrame = {
        val (tns, tbl) = sides(k)
        spark.sql(s"SELECT * FROM ${fqn(cat, tns, tbl)} VERSION AS OF ${vs(k)}")
      }
      val keyCols = jGroupCols.map(col)
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
        val parsed =
          try Some(spark.sessionState.sqlParser.parseExpression(condConj))
          catch { case scala.util.control.NonFatal(_) => None }
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
      // One key term per (changed side, diff end): the changed side's
      // pinned delta crossed with every OTHER side at the matching
      // versions, the conjunction applied once (the optimizer pushes
      // each conjunct into its equi join — never a surviving cartesian
      // for the equi conditions star schemas use). A filtered join
      // MV's WHERE applies to the joined tuple exactly as at create —
      // a changed tuple failing it cannot have changed the MV.
      // Probe superset per changed side: ONE driver probe job per
      // (side, equi column) per refresh, computed over the UNION of
      // that side's delta frames (both structural diff ends + both
      // eq-delete scans) — a side changed at several ends used to pay
      // a probe job per TERM, serializing small driver jobs before
      // the real refresh. A superset of any single term's keys prunes
      // the other sides less tightly but never wrongly (pruning is an
      // optimization; the join condition still decides membership).
      def sideDeltaFrames(k: Int): Seq[DataFrame] = {
        val (nw, od) = diffs(k)
        val (enw, egn) = eqDiffs(k)
        val (tns, tbl) = sides(k)
        (if (nw.nonEmpty) Seq(segmentsDf(spark, idents(k), nw)) else Nil) ++
          (if (od.nonEmpty) Seq(segmentsDf(spark, idents(k), od)) else Nil) ++
          (if (enw.nonEmpty)
            Seq(eqKeyMatchScan(spark, cat, tns, tbl, v0s(k), enw)) else Nil) ++
          (if (egn.nonEmpty)
            Seq(eqKeyMatchScan(spark, cat, tns, tbl, v1s(k), egn)) else Nil)
      }
      val probeCache = scala.collection.mutable.Map[(Int, String), Option[Seq[Any]]]()
      def deltaVals(k: Int, ck: String): Option[Seq[Any]] =
        probeCache.getOrElseUpdate((k, ck), {
          val frames = sideDeltaFrames(k).map(_.select(col(ck)))
          if (frames.isEmpty) Some(Nil)
          else {
            val rows = frames.reduce(_ unionAll _).distinct()
              .limit(MaxInlineProbe + 1).collect()
            if (rows.length > MaxInlineProbe) None
            else Some(rows.map(_.get(0)).filterNot(_ == null).toSeq)
          }
        })
      def term(k: Int, deltaK: DataFrame, vs: Seq[Long]): DataFrame = {
        val others = sides.indices.filter(_ != k).map { j =>
          val base = at(j, vs)
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
              GraftCatalog.snapshotByVersion(idents(j), vs(j))
                .map(_.segments.length).getOrElse(-1))
          }
          pruned
        }
        val joined = others.foldLeft(deltaK)(_ crossJoin _)
          .where(expr(condConj))
        jWhere.fold(joined)(w => joined.where(expr(w)))
          .select(keyCols: _*)
      }
      val terms = diffs.zipWithIndex.flatMap { case ((nw, od), k) =>
        (if (nw.nonEmpty) Seq(term(k, segmentsDf(spark, idents(k), nw), v1s)) else Nil) ++
          (if (od.nonEmpty) Seq(term(k, segmentsDf(spark, idents(k), od), v0s)) else Nil)
      } ++ eqDiffs.zipWithIndex.flatMap { case ((nw, gn), k) =>
        // Eq-delete Δ terms, one per (changed side, diff end) exactly
        // like the structural terms: killed rows join others at v0,
        // resurrected rows at v1. The delta side is a key-filtered
        // full-history scan instead of a segment-pinned one — the
        // pushed per-column INs keep it metadata-cheap.
        val (tns, tbl) = sides(k)
        (if (nw.nonEmpty)
          Seq(term(k, eqKeyMatchScan(spark, cat, tns, tbl, v0s(k), nw), v0s)) else Nil) ++
          (if (gn.nonEmpty)
            Seq(term(k, eqKeyMatchScan(spark, cat, tns, tbl, v1s(k), gn), v1s)) else Nil)
      }
      val touchedPlan = terms.reduce(_ unionAll _).distinct()
      termDebug.foreach(b => lastJoinTermScans = b.result())
      val curAll0 = sides.indices.tail.map(at(_, v1s))
        .foldLeft(at(0, v1s))(_ crossJoin _)
        .where(expr(condConj))
      val curAll = jWhere.fold(curAll0)(w => curAll0.where(expr(w)))
      return applyTouchedGroups(spark, cat, ns, name, touchedPlan, curAll,
        jGroupCols, jAggList,
        Map(VersionProp -> v1s.head.toString,
          JoinVersionProp -> v1s.tail.mkString(",")))
    }
    val (sns, stbl) = parseSource(source)
    val sIdent = Identifier.of(Array(sns), stbl)
    val groupCols = props(GroupProp).split(',').toSeq
    val aggList = splitTop(props(AggsProp))
    val mvWhere = props.get(FilterProp).map(_.trim).filter(_.nonEmpty)
    mvWhere.foreach(requireDeterministicWhere(spark, cat, sns, stbl, _))
    val v0 = props(VersionProp).toLong
    val v1 = GraftCatalog.currentVersion(sns, stbl).getOrElse(
      throw new NoSuchTableException(sIdent))
    if (v1 == v0) {
      // A previously-failed MERGE can leave RefreshingProp up with the
      // MV still consistent at VersionProp (the MERGE is one atomic
      // commit — it either landed with the version bump or not at
      // all). A verified noop is the proof of consistency, so clear
      // the flag here or the stale-delta rewrite stays disabled until
      // a data-changing refresh happens to run.
      if (props.contains(RefreshingProp))
        GraftCatalog.patchTableProps(ident, Map.empty, unset = Set(RefreshingProp))
      return ("noop", 0L, v0)
    }

    def fullRefresh(): (String, Long, Long) = {
      val writer = aggregateAt(spark, cat, sns, stbl, v1, groupCols, aggList, mvWhere)
        .writeTo(fqn(cat, ns, name))
        .tableProperty(SourceProp, source)
        .tableProperty(GroupProp, props(GroupProp))
        .tableProperty(AggsProp, props(AggsProp))
        .tableProperty(VersionProp, v1.toString)
      mvWhere.fold(writer)(w => writer.tableProperty(FilterProp, w))
        .replace() // atomic RTAS swap — readers never see a torn MV
      ("full", GraftCatalog.rowCount(ns, name), v1)
    }

    (GraftCatalog.snapshotByVersion(sIdent, v0),
        GraftCatalog.snapshotByVersion(sIdent, v1)) match {
      // Incremental path needs BOTH snapshots retained and the schema
      // unchanged (an ALTER between refreshes invalidates per-column
      // reasoning — rare, and full recompute is always correct).
      // Outstanding EQUALITY DELETES may differ: a delete new in range
      // kills rows of segments the structural diff calls "unchanged"
      // (the merge-on-read upsert steady state — x13/st17), so those
      // rows' group keys join the touched union through a dedicated
      // Δ⁻ term ([[eqKeyMatchScan]]) instead of forcing full RTAS.
      case (Some(s0), Some(s1)) if s0.schema == s1.schema =>
        val m0 = s0.segments.map(s => s.path -> s).toMap
        val m1 = s1.segments.map(s => s.path -> s).toMap
        val added = m1.keySet -- m0.keySet
        val removed = m0.keySet -- m1.keySet
        val dvChanged = (m0.keySet & m1.keySet).filter(p => m0(p).dv != m1(p).dv)
        val (newEqs, goneEqs) = eqDiff(s0, s1)
        if (added.isEmpty && removed.isEmpty && dvChanged.isEmpty &&
            newEqs.isEmpty && goneEqs.isEmpty) {
          // Metadata-only commits (e.g. property churn) moved the
          // version without touching data. Clears a stuck
          // RefreshingProp too — same consistency proof as the
          // version-equal noop above.
          GraftCatalog.patchTableProps(ident, Map(VersionProp -> v1.toString),
            unset = Set(RefreshingProp))
          ("noop", 0L, v1)
        } else if (eqKeyCount(newEqs ++ goneEqs) > eqKeyLimit(spark)) {
          fullRefresh()
        } else {
          // Group keys living in changed segments only. A dv-changed
          // segment contributes ALL its physical rows' keys — a
          // conservative superset (recomputing an unchanged group is
          // correct, merely unnecessary) that avoids diffing bitmaps.
          def keysAt(version: Long, paths: Set[String]): DataFrame = {
            // `SELECT *` (not just the group columns) so a filtered
            // MV's WHERE can reference any source column here.
            val base = spark.sql(
              s"SELECT *, ${q("_segment")} AS ${q(SegAlias)} " +
                s"FROM ${fqn(cat, sns, stbl)} VERSION AS OF $version")
              .where(col(SegAlias).isin(paths.toSeq: _*))
            mvWhere.fold(base)(w => base.where(expr(w)))
              .select(groupCols.map(col): _*)
          }
          // Eq-delete Δ terms: keys of rows newly killed in range
          // (visible at v0) and of rows a RESTORE resurrected (visible
          // at v1). A filtered MV's WHERE applies here exactly as in
          // keysAt — a killed row failing it cannot have changed the MV.
          def eqKeys(version: Long, eqs: Vector[GraftCatalog.EqDelete]): Seq[DataFrame] =
            if (eqs.isEmpty) Nil
            else {
              val scan = eqKeyMatchScan(spark, cat, sns, stbl, version, eqs)
              Seq(mvWhere.fold(scan)(w => scan.where(expr(w)))
                .select(groupCols.map(col): _*))
            }
          val touchedPlan = (Seq(
            keysAt(v1, added ++ dvChanged),
            keysAt(v0, removed ++ dvChanged)) ++
            eqKeys(v0, newEqs) ++ eqKeys(v1, goneEqs))
            .reduce(_ unionAll _)
            .distinct()
          val curAll0 = spark.sql(
            s"SELECT * FROM ${fqn(cat, sns, stbl)} VERSION AS OF $v1")
          val curAll = mvWhere.fold(curAll0)(w => curAll0.where(expr(w)))
          applyTouchedGroups(spark, cat, ns, name, touchedPlan, curAll,
            groupCols, aggList, Map(VersionProp -> v1.toString))
        }
      case _ => fullRefresh()
    }
  }

  /** The shared incremental-refresh tail (single-source AND join MVs):
    * collect the touched group keys, recompute ONLY those groups from
    * `curAll` — the CURRENT pre-aggregation input (filtered source for
    * a single-source MV; fact ⋈ dim for a join MV), version-pinned by
    * the caller — and apply in one atomic MERGE, then bump the recorded
    * version props atomically with clearing the refresh-in-flight flag.
    */
  private def applyTouchedGroups(
      spark: SparkSession, cat: String, ns: String, name: String,
      touchedPlan: DataFrame, curAll: DataFrame,
      groupCols: Seq[String], aggList: Seq[String],
      versionPatch: Map[String, String]): (String, Long, Long) = {
    val ident = Identifier.of(Array(ns), name)
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
    GraftCatalog.patchTableProps(ident, versionPatch, unset = Set(RefreshingProp))
    ("incremental", touchedCount, versionPatch(VersionProp).toLong)
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
