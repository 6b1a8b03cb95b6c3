package graft.plans

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction, UnresolvedStar}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Cast, Coalesce, Divide, ExprId, Expression, If, LessThanOrEqual, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, Average, Complete, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand, Filter, Join, JoinHint, LogicalPlan, Project, SubqueryAlias, Union}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.{DayTimeIntervalType, DecimalType, YearMonthIntervalType}

import graft.sources.{GraftCatalog, GraftMvOps}
import graft.sources.GraftMvOps.MvDef

/** Session conf switch of [[MvRewriteRule]]; defaults to true. */
object MvRewrite {
  val EnabledKey = "spark.graft.mvRewrite.enabled"
}

/** TRANSPARENT MATERIALIZED-VIEW REWRITE — the aggregate-navigator
  * move (Calcite/BigQuery/Snowflake shape): an aggregate over catalog
  * tables that one of their materialized views pre-aggregates is
  * rewritten to read the MV instead — turning a full-table
  * aggregation into a scan of the (usually tiny) pre-aggregated
  * result. At 100 TB this is the difference between re-reading the
  * fact table for every dashboard query and answering from a rollup
  * the ingest pipeline already maintains incrementally.
  *
  * ONE MATCHER OVER SIDE LISTS. Every MV is a list of sides, each with
  * the source version the MV recorded for it: a single-table MV is
  * `[(source, v)]`; a join MV (source `'fact JOIN d1 ON c1 [JOIN d2 ON
  * c2 …]'`, the N-way star/snowflake shape) is `(fact, v) +: dims`
  * plus its ON conjunction. The query is read the same way:
  * [[stripJoin]] flattens the aggregate's input — one relation, or
  * INNER joins in any order or tree shape — into its relations, its
  * ON conjuncts and at most one WHERE above them. A candidate matches
  * when its side SET equals the query's relation set and its ON
  * conjunct SET is norm-equal to the query's, empty for one table
  * ([[joinDefMatching]]). Discovery lists the MVs keyed by each query
  * relation, smallest first; a candidate with every side at its
  * recorded version is FRESH, any other is STALE, and every fresh
  * candidate is tried before any stale one.
  *
  * Three serve paths, each for any number of sides:
  *  - FRESH ([[tryJoinCandidate]]): EXACT grain (query grouping set ==
  *    MV grouping set) projects the MV; ROLLUP grain (query grouping ⊂
  *    MV grouping, including the global aggregate) re-aggregates it
  *    when every aggregate is rollup-derivable (sum→sum-of-sums,
  *    count→sum-of-counts, min→min, max→max, avg from its sum and
  *    count components; never DISTINCT/FILTER);
  *  - GROUPING SETS ([[tryGroupingSetsJoinCandidate]]): a rollup/cube/
  *    GROUPING SETS lattice whose finest set lies within a fresh MV's
  *    grain rebuilds the analyzer's Expand over the MV scan;
  *  - STALE ([[tryStaleJoinCandidate]]): an MV behind by appends on at
  *    most two sides, with equality deletes on at most one of them, is
  *    served as MV ⊎ γ(Δ ⋈ other sides) ⊖ γ(killed ⋈ other sides) over
  *    segment-pinned delta scans.
  *
  * FILTERED MVs (`create_mv(..., where)`) add a predicate SUBSUMPTION
  * gate: every MV-filter conjunct must appear norm-equal among the
  * query's WHERE conjuncts, where it is dropped as already applied
  * inside the MV. The residual WHERE must reference MV group columns
  * only — such a filter commutes with the pre-aggregation (the MV's
  * rows partition exactly by those columns) and is remapped onto the
  * MV scan, where it rides zone-map pruning. Exact structural
  * subsumption only, no implication reasoning. A stale delta branch
  * applies the query's FULL predicate: its rows are raw source rows.
  *
  * Soundness gates shared by every path: grouping expressions are
  * plain columns; every aggregate output matches one of the MV's
  * stored aggregate expressions STRUCTURALLY (the MV's specs are
  * parsed, bound against the query's own relations, and compared by
  * name-normalized canonical SQL — `count(*)` ≡ `count(1)`, qualifiers
  * and case are immaterial, `sum(a)` ≢ `sum(b)`); output types agree
  * exactly; freshness is judged AT ANALYSIS TIME (same consistency
  * contract as any compiled plan: a write racing query planning wins
  * or loses at the version lookup, exactly as it would at scan
  * pinning); `VERSION/TIMESTAMP AS OF` scans and self-joins never
  * match.
  *
  * The rewrite preserves the original output `ExprId`s through
  * aliases, so parent operators (sorts, filters above the aggregate,
  * joins) are oblivious. Runs as a resolution rule: the substituted
  * relation then flows through the NORMAL optimizer — column pruning
  * and filter pushdown apply to the MV scan like any other table.
  * Enabled by default (it is exact, unlike the LSH rewrite); disable
  * with `spark.graft.mvRewrite.enabled=false`.
  */
case class MvRewriteRule(session: SparkSession) extends Rule[LogicalPlan] {
  import MvRewrite.EnabledKey

  private type Candidate = (Identifier, MvDef)

  /** The aggregate's input as the matcher reads it: the graft
    * relations left to right, their ON conjuncts, and at most one
    * WHERE above them. `names` are the relations' `ns.table` keys, the
    * spelling an MV records its sides in.
    */
  private case class Query(
      filter: Option[Expression], on: Seq[Expression], rels: Seq[DataSourceV2Relation]) {
    val names: Seq[String] = rels.map { r =>
      val id = r.identifier.get
      s"${id.namespace()(0)}.${id.name()}"
    }
    val output: Seq[Attribute] = rels.flatMap(_.output)
    def rel(name: String): DataSourceV2Relation = rels(names.indexOf(name))
  }

  private def resolver: (String, String) => Boolean = conf.resolver

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!conf.getConfString(EnabledKey, "true").toBoolean) return plan
    // Whole-PLAN resolution gate, not per-Aggregate: constructs the
    // analyzer finishes by REWRITING the aggregate (HAVING pushes its
    // condition's aggregates into the Aggregate's output; ORDER BY
    // aggregate aliases likewise) would find their Aggregate gone if
    // we fired mid-fixed-point. Once the plan is fully resolved the
    // resolution batch still iterates, so the rewrite always gets its
    // turn — just last.
    if (!plan.resolved) return plan
    // Metastore pre-gate: no MVs anywhere → no per-plan traversal. An
    // analyzer rule runs on EVERY fixed-point iteration of EVERY query
    // (iterative operators analyze hundreds of plans); the common
    // MV-free session must pay nothing beyond this map probe.
    if (!GraftCatalog.anyMvDefined) return plan
    plan.transformUp {
      case agg: Aggregate if agg.resolved =>
        rewrite(agg).getOrElse(agg)
    }
  }

  private def rewrite(agg: Aggregate): Option[LogicalPlan] = agg.child match {
    // ROLLUP/CUBE/GROUPING SETS analyze to Aggregate-over-Expand; the
    // plain matcher never sees through the Expand, so grouping-set
    // navigation gets its own path.
    case e: Expand => rewriteGroupingSets(agg, e)
    case child =>
      val q = queryOf(child).getOrElse(return None)
      // Grouping must be plain source columns.
      val groupAttrs: Seq[Attribute] = agg.groupingExpressions.map {
        case a: Attribute => a
        case _ => return None
      }
      if (groupAttrs.map(_.name.toLowerCase).distinct.length != groupAttrs.length) return None
      val (fresh, stale) = candidates(q)
      fresh.view.flatMap { case (mvIdent, d) =>
        tryJoinCandidate(agg, groupAttrs, q, mvIdent, d)
      }.headOption.orElse {
        stale.view.flatMap { case (mvIdent, _) =>
          tryStaleJoinCandidate(agg, groupAttrs, q, mvIdent)
        }.headOption
      }
  }

  /** GROUPING-SETS NAVIGATION (rollup/cube/GROUPING SETS over the MV's
    * sides): the analyzer lowers `GROUP BY rollup(a, b)` to
    * `Aggregate(groupAttrs :+ gid, aggs, Expand(projections, output,
    * Project(child.output ++ groupByAliases, child)))` — every
    * grouping SET is a coarsening of the full grouping list, so when
    * that list is contained in a fresh MV's grain and every aggregate
    * is rollup-derivable, the whole lattice is derivable from the MV:
    * the rewrite rebuilds the SAME Expand structure (same grouping-set
    * membership matrix, same gid literals, same grouping/gid
    * attribute ExprIds — parents stay oblivious) over the MV scan,
    * with the aggregate functions mapped to their merge forms
    * (sum→sum, count→sum-of-counts, min→min, max→max). One MV scan
    * replaces the base scan; the per-set duplication the Expand does
    * now multiplies pre-aggregated rows instead of raw ones. A WHERE
    * must reference grouping columns only: it commutes with the
    * pre-aggregation AND with Expand.
    */
  private def rewriteGroupingSets(agg: Aggregate, expand: Expand): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.expressions.VirtualColumn
    if (agg.groupingExpressions.isEmpty) return None
    val gexprs: Seq[Attribute] = agg.groupingExpressions.map {
      case a: Attribute => a
      case _ => return None
    }
    // Expand output = passthrough ++ groupAttrs ++ METADATA tail (the
    // analyzer's constructExpand shape): always the grouping id, plus
    // `_gen_grouping_pos` when duplicate grouping sets need
    // disambiguation. The Project under the Expand carries ONLY
    // child.output ++ grouping aliases, so the metadata arity is
    // out.length − projectList.length — every metadata slot is a
    // per-set literal, copied verbatim into the rebuilt Expand.
    val out = expand.output
    val proj = expand.child match {
      case p: Project => p
      case _ => return None
    }
    val metaLen = out.length - proj.projectList.length
    if (metaLen < 1 || metaLen >= gexprs.length + 1) return None
    val metaAttrs = gexprs.takeRight(metaLen)
    if (metaAttrs.head.name != VirtualColumn.groupingIdName) return None
    val groupAttrs: Seq[Attribute] = gexprs.dropRight(metaLen)
    if (groupAttrs.isEmpty) return None
    val baseLen = out.length - groupAttrs.length - metaLen
    if (baseLen < 0) return None
    if (out.takeRight(metaLen).map(_.exprId) != metaAttrs.map(_.exprId)) return None
    groupAttrs.zipWithIndex.foreach { case (a, i) =>
      if (out(baseLen + i).exprId != a.exprId) return None
    }
    if (proj.projectList.length != baseLen + groupAttrs.length) return None
    // Per grouping column: the BASE column it aliases, plus the
    // Project-side ExprId its non-null projection slots carry (the
    // analyzer emits Project aliases a#19 that feed Expand projections
    // while the Expand OUTPUT mints fresh attrs a#22 — two distinct
    // ids per grouping column).
    val aliasInfo: Seq[(String, ExprId)] = groupAttrs.indices.map { i =>
      proj.projectList(baseLen + i) match {
        case al @ Alias(c: AttributeReference, _) => (c.name, al.exprId)
        case na: AttributeReference => (na.name, na.exprId)
        case _ => return None
      }
    }
    val baseColFor: Seq[String] = aliasInfo.map(_._1)
    // Per-set membership matrix + metadata literals, read off the
    // original projections: slot baseLen+i is either the grouping attr
    // itself or a null literal; the metadata tail is all literals.
    val sets: Seq[(Seq[Boolean], Seq[Expression])] = expand.projections.map { row =>
      if (row.length != out.length) return None
      val present = groupAttrs.indices.map { i =>
        row(baseLen + i) match {
          case ar: Attribute if ar.exprId == aliasInfo(i)._2 => true
          case Literal(null, _) => false
          case _ => return None
        }
      }
      val meta = row.takeRight(metaLen).map {
        case l: Literal => l: Expression
        case _ => return None
      }
      (present, meta)
    }
    val q = queryOf(proj.child).getOrElse(return None)
    candidates(q)._1.view.flatMap { case (mvIdent, d) =>
      tryGroupingSetsJoinCandidate(agg, q, groupAttrs, metaAttrs, baseColFor, sets,
        mvIdent, d)
    }.headOption
  }

  /** The Expand rebuild of [[rewriteGroupingSets]] over one fresh
    * candidate.
    */
  private def tryGroupingSetsJoinCandidate(
      agg: Aggregate, q: Query,
      groupAttrs: Seq[Attribute], metaAttrs: Seq[Attribute],
      baseColFor: Seq[String], sets: Seq[(Seq[Boolean], Seq[Expression])],
      mvIdent: Identifier, d: MvDef): Option[LogicalPlan] = {
    val mvGroupCols = d.group
    // The FULL grouping list (the lattice's finest set) must be
    // contained in the MV grain; every coarser set then is too.
    if (!baseColFor.forall(c => mvGroupCols.exists(resolver(_, c)))) return None
    val (specByKey, mvAttr, mvChild) =
      freshMvInput(q, mvIdent, d).getOrElse(return None)
    // Grouping columns must exist on the MV with EXACT types (Expand's
    // null literals and the output attrs are typed by them).
    val mvGroupAttrs: Seq[Attribute] = baseColFor.zip(groupAttrs).map {
      case (c, a) =>
        val m = mvAttr(c).getOrElse(return None)
        if (m.dataType != a.dataType) return None
        m
    }

    // Aggregate outputs: grouping/gid references pass through (their
    // attrs keep their ExprIds in the rebuilt Expand); aggregates map
    // to merge forms over the MV's pre-aggregated columns.
    val gsetAttrIds = (groupAttrs ++ metaAttrs).map(_.exprId).toSet
    val neededAggCols = scala.collection.mutable.LinkedHashSet[String]()
    val outputs: Seq[NamedExpression] = agg.aggregateExpressions.map {
      case a: Attribute if gsetAttrIds.contains(a.exprId) => a
      case al: Alias
          if al.child.find(_.isInstanceOf[AggregateExpression]).isEmpty &&
            al.child.references.forall(r => gsetAttrIds.contains(r.exprId)) =>
        al // grouping()/grouping_id() shapes and aliased group columns
      case al @ Alias(ae: AggregateExpression, _)
          if !ae.isDistinct && ae.filter.isEmpty =>
        val reagg: Expression = ae.aggregateFunction match {
          // avg navigates the lattice through its sum+count components
          // exactly as in the flat rollup path — every grouping set
          // re-merges the SAME two MV columns riding the Expand's
          // pass-through slots.
          case av: Average =>
            val (sc, cc) = avgComponentCols(av, specByKey).getOrElse(return None)
            neededAggCols += sc
            neededAggCols += cc
            avgFromComponents(av,
              Sum(mvAttr(sc).getOrElse(return None)).toAggregateExpression(),
              Sum(mvAttr(cc).getOrElse(return None)).toAggregateExpression())
          case fn =>
            val srcCol = specByKey.get(norm(ae)).getOrElse(return None)
            val src = mvAttr(srcCol).getOrElse(return None)
            neededAggCols += srcCol
            fn match {
              case _: Sum => Sum(src).toAggregateExpression()
              case _: Count =>
                Coalesce(Seq(Sum(src).toAggregateExpression(), Literal(0L)))
              case _: Min => Min(src).toAggregateExpression()
              case _: Max => Max(src).toAggregateExpression()
              case _ => return None
            }
        }
        val shaped =
          if (reagg.dataType == al.dataType) reagg else Cast(reagg, al.dataType)
        Alias(shaped, al.name)(exprId = al.exprId)
      case _ => return None
    }

    // Rebuild the Expand over the MV: pass-through slots for the
    // needed MV aggregate columns, the SAME per-set null matrix for
    // the grouping columns, the SAME metadata literals (gid, and the
    // duplicate-set position when present), and the ORIGINAL
    // grouping/metadata output attrs so the Aggregate above (and
    // anything above it) resolves unchanged.
    val aggAttrs: Seq[Attribute] =
      neededAggCols.toSeq.map(c => mvAttr(c).getOrElse(return None))
    val newProjections: Seq[Seq[Expression]] = sets.map { case (present, meta) =>
      aggAttrs ++ mvGroupAttrs.zip(present).zip(groupAttrs).map {
        case ((m, true), _) => m: Expression
        case ((_, false), a) => Literal.create(null, a.dataType): Expression
      } ++ meta
    }
    val newExpand = Expand(newProjections, aggAttrs ++ groupAttrs ++ metaAttrs, mvChild)
    Some(Aggregate(agg.groupingExpressions, outputs, newExpand))
  }

  /** The aggregate's child as a [[Query]]: graft relations under INNER
    * joins, at most one Filter, and only ABOVE the joins — a filter
    * under a join changes which rows joined, which the materialized
    * join did not see. A single relation is the one-side case.
    * Pass-through projections (bare attributes, no aliasing — what a
    * `SELECT *` VIEW expansion inserts) are transparent: they neither
    * rename nor compute, so the aggregate's expressions still reference
    * the relations' columns by their original names. None for a
    * `VERSION/TIMESTAMP AS OF` scan (it asks about history and must
    * never be answered from the current MV), a namespace of more than
    * one level, or a self-join.
    */
  private def queryOf(p: LogicalPlan): Option[Query] = {
    val (filter, on, rels) = stripJoin(p).getOrElse(return None)
    if (rels.exists(r => GraftCatalog.isPinnedTable(r.table))) return None
    if (rels.exists(_.identifier.get.namespace().length != 1)) return None
    val q = Query(filter, on, rels)
    if (q.names.distinct.length != q.names.length) None else Some(q)
  }

  private def stripJoin(p: LogicalPlan): Option[
      (Option[Expression], Seq[Expression], Seq[DataSourceV2Relation])] =
    p match {
      case s: SubqueryAlias => stripJoin(s.child)
      case pr: Project if pr.projectList.forall(_.isInstanceOf[AttributeReference]) =>
        stripJoin(pr.child)
      case f: Filter =>
        flattenJoins(f.child).map { case (rels, cs) => (Some(f.condition), cs, rels) }
      case other =>
        flattenJoins(other).map { case (rels, cs) => (None, cs, rels) }
    }

  /** A tree of INNER joins over bare graft relations, flattened to
    * (relations left-to-right, all ON conjuncts) — any join SHAPE
    * (left-deep, right-deep, bushy) of the same tables with the same
    * condition set is the same join, which is how a star rollup MV
    * serves every ordering the optimizer or the user may write. One
    * bare relation is a tree of one.
    */
  private def flattenJoins(
      p: LogicalPlan): Option[(Seq[DataSourceV2Relation], Seq[Expression])] =
    p match {
      case s: SubqueryAlias => flattenJoins(s.child)
      case pr: Project if pr.projectList.forall(_.isInstanceOf[AttributeReference]) =>
        flattenJoins(pr.child)
      case j: Join if j.joinType == Inner && j.condition.isDefined =>
        for {
          (lr, lc) <- flattenJoins(j.left)
          (rr, rc) <- flattenJoins(j.right)
        } yield (lr ++ rr, lc ++ rc ++ conjuncts(j.condition.get))
      case r: DataSourceV2Relation
          if r.catalog.exists(_.isInstanceOf[GraftCatalog]) && r.identifier.isDefined =>
        Some((Seq(r), Nil))
      case _ => None
    }

  /** The MVs keyed by any of the query's relations whose sides and ON
    * conjuncts match the query ([[joinDefMatching]]), as (FRESH, STALE):
    * fresh when every side's current version is the one the MV
    * recorded, stale otherwise; each smallest first, as discovered.
    */
  private def candidates(q: Query): (Seq[Candidate], Seq[Candidate]) = {
    val matching = q.rels.flatMap { r =>
      val id = r.identifier.get
      GraftCatalog.mvsFor(id.namespace()(0), id.name())
    }.flatMap { case (id, props) => joinDefMatching(props, q).map(id -> _) }
    matching.partition { case (_, d) =>
      d.sides.forall(s => GraftCatalog.currentVersion(s.ns, s.table).contains(s.version))
    }
  }

  /** The MV's definition ([[MvDef.read]], the one parser of the MV
    * props) when its side SET equals the query's relation set
    * (order-free) and its ON conjunct SET is norm-equal to the
    * query's (per-conjunct exact structural match — `a = b` does not
    * serve `b = a`, the same no-implication-reasoning stance as
    * predicate subsumption); None otherwise. A single-table MV has one
    * side and no ON conjunction. An MV whose props do not read as a
    * definition (hand-patched or cleared) declines the rewrite rather
    * than throw from inside the analyzer rule, which would fail the
    * user's query.
    */
  private def joinDefMatching(props: Map[String, String], q: Query): Option[MvDef] = {
    val d = MvDef.read(props).toOption.getOrElse(return None)
    val names = d.sides.map(_.name)
    if (names.length != q.names.length || names.toSet != q.names.toSet) return None
    val mvOn = d.on.fold(Seq.empty[Expression]) { on =>
      conjuncts(resolveSpecAgainst(on, q.output).getOrElse(return None))
    }
    if (mvOn.map(norm).toSet != q.on.map(norm).toSet) return None
    Some(d)
  }

  /** What both fresh paths read from a candidate: the MV's aggregate
    * specs bound against the query's relations and keyed by
    * normalized SQL, the MV's columns by name, and the MV scan under
    * the query's residual WHERE — after filtered-MV subsumption —
    * remapped onto MV group columns. None when any of it fails to
    * bind (never rewrite on a guess).
    */
  private def freshMvInput(q: Query, mvIdent: Identifier, d: MvDef)
      : Option[(Map[String, String], String => Option[Attribute], LogicalPlan)] = {
    val residualCond: Option[Expression] =
      residualAfterMvFilterOn(d, q.filter, q.output).getOrElse(return None)
    if (!admissibleResidual(residualCond, d.group)) return None
    val specByKey = bindSpecs(d.aggList, q.output)
      .getOrElse(return None).map(t => t._1 -> t._2).toMap
    val catalog = q.rels.head.catalog
    val mvTable =
      try catalog.get.asInstanceOf[TableCatalog].loadTable(mvIdent)
      catch { case NonFatal(_) => return None }
    val mvRelation = DataSourceV2Relation.create(mvTable, catalog, Some(mvIdent))
    def mvAttr(col: String): Option[Attribute] =
      mvRelation.output.find(a => resolver(a.name, col))
    val mvChild = remapOntoMv(residualCond, d.group, mvAttr, mvRelation)
      .getOrElse(return None)
    Some((specByKey, mvAttr, mvChild))
  }

  /** FRESH serve: every side is at its recorded version, so the MV is
    * exactly γ(⋈ sides) and answers at the EXACT grain or, re-
    * aggregated, at any coarser one ([[serveFromMv]]).
    */
  private def tryJoinCandidate(
      agg: Aggregate, groupAttrs: Seq[Attribute], q: Query,
      mvIdent: Identifier, d: MvDef): Option[LogicalPlan] = {
    val mvGroupCols = d.group
    val exact = groupingMatch(groupAttrs, mvGroupCols).getOrElse(return None)
    val (specByKey, mvAttr, mvChild) =
      freshMvInput(q, mvIdent, d).getOrElse(return None)
    def groupColFor(a: Attribute): Option[String] = mvGroupCols.find(resolver(_, a.name))
    serveFromMv(agg, groupAttrs, exact, groupColFor, mvAttr, specByKey, mvChild)
  }

  /** STALE-TOLERANT rewrite (delta-union): an MV whose sides have only
    * APPENDED data since their recorded versions can still answer, as
    * MV ⊎ re-aggregate(ΔS ⋈ others), where ΔS is a SEGMENT-PINNED scan
    * of exactly the segments appended to the moved side S after its
    * recorded version (zone maps, blooms and column pruning apply).
    * This is the incremental-query shape the freshness gate alone
    * forfeits: at 100 TB the MV covers years of history and the delta
    * is one day's appends, so the query costs MV-size + delta-size
    * instead of a full base scan — WITHOUT requiring the user to
    * refresh first. The algebra: with every other side data-identical
    * since its recorded version, ⋈(S⃗₁) = ⋈(S⃗₀ with Sₖ₀ ∪ ΔSₖ) =
    * ⋈(S⃗₀) ∪ (ΔSₖ ⋈ others), and the MV is precisely γ(⋈(S⃗₀)) — so
    * the union re-merges exactly. For one side "others" is empty and
    * the delta term is γ(ΔS). For a star it covers both steady-state
    * reads: fact micro-batch appends join one batch against the dims
    * (the fact table itself never scanned), and dim-append staleness
    * (late-arriving dimension members) joins the dim delta against the
    * fact — where the equi conjunct reaching the fact scan as a pushed
    * filter prunes it to matched segments.
    *
    * Gates beyond the fresh path:
    *  - every commit on every side since its recorded version must be
    *    append-only (no segment removed, no deletion vector changed,
    *    schema identical) with the snapshot chain fully retained; the
    *    EQUALITY-DELETE-tolerant walk (the MoR-upsert shape) admits
    *    registered deletes too, served with a negated RETRACTION
    *    branch (sum/count/avg only; a liveness count drops vanished
    *    groups);
    *  - at most TWO sides may have moved data, and at most one of them
    *    equality deletes (see the decomposition below);
    *  - every QUERY aggregate must be merge-derivable (sum/count/min/
    *    max/avg, no DISTINCT/FILTER): the MV's partial and the deltas'
    *    partials are combined by a final merge aggregate, which rolls
    *    up count via sum-of-counts exactly like the rollup path. This
    *    holds even for an exact grouping match — a group can live in
    *    several branches;
    *  - consistency protocol against a concurrent refresh: ONE atomic
    *    entry snapshot provides both the pinned MV segments and the
    *    props (immutable `TableEntry` — data and recorded versions
    *    cannot tear), and the refresh-in-flight flag
    *    ([[GraftMvOps.RefreshingProp]], set before the refresh MERGE,
    *    cleared atomically with its version bump) closes the
    *    data@v1/props@v0 window. The deltas are then computed from the
    *    snapshot's recorded versions to the sides' current versions —
    *    the answer is the sources at that serialization point
    *    regardless of what the live MV entry does meanwhile.
    */
  private def tryStaleJoinCandidate(
      agg: Aggregate, groupAttrs: Seq[Attribute], q: Query,
      mvIdent: Identifier): Option[LogicalPlan] = {
    val (mvTable, props) = GraftCatalog.mvEntrySnapshot(mvIdent).getOrElse(return None)
    if (props.contains(GraftMvOps.RefreshingProp)) return None
    val d = joinDefMatching(props, q).getOrElse(return None)
    val mvGroupCols = d.group
    // FILTERED MV under staleness: the MV branch applies only the
    // residual (the MV's conjuncts were applied pre-aggregation inside
    // it); the delta branches apply the query's FULL predicate — delta
    // rows are raw source rows, and the MV's conjuncts are part of
    // the query's own WHERE by the subsumption check.
    val residualCond: Option[Expression] =
      residualAfterMvFilterOn(d, q.filter, q.output).getOrElse(return None)
    if (!admissibleResidual(residualCond, mvGroupCols)) return None
    // Exact or coarser grouping both funnel into the one merge
    // aggregate; finer grouping cannot be served.
    if (groupingMatch(groupAttrs, mvGroupCols).isEmpty) return None
    // Per-side deltas since each side's recorded version: pure-append
    // staleness first (supports min/max), else the eq-delete-tolerant
    // walk (appends plus registered deletes).
    val sideIdents: Seq[Identifier] = d.sides.map(s => q.rel(s.name).identifier.get)
    val sideV0s: Seq[Long] = d.sides.map(_.version)
    val sideDeltas: Seq[(Vector[GraftCatalog.Segment], Vector[GraftCatalog.EqDelete])] =
      sideIdents.zip(sideV0s).map { case (id, v) =>
        val (tns, ttbl) = (id.namespace()(0), id.name())
        GraftCatalog.appendOnlyDeltaSince(tns, ttbl, v) match {
          case Some(d) => (d, Vector.empty[GraftCatalog.EqDelete])
          case None => GraftCatalog.appendOnlyEqDeltaSince(tns, ttbl, v)
            .getOrElse(return None)
        }
      }
    val movedSides = sideDeltas.zipWithIndex.collect {
      case ((d, e), i) if d.nonEmpty || e.nonEmpty => i
    }
    if (movedSides.length > 2) return None
    // TWO moved sides: served via the disjoint decomposition
    // A₁⋈B₁ = A₀⋈B₁' ⊎ ΔA⋈B₁ — concretely, with A the FIRST moved
    // side (upsertable) and B the second (append-only):
    //   MV ⊎ γ(ΔA ⋈ B₁ ⋈ others) ⊖ γ(K ⋈ B₁ ⋈ others) ⊎ γ(A₀ ⋈ ΔB ⋈ others)
    // The ΔA term joins the CURRENT other sides (absorbing ΔA⋈ΔB);
    // the retraction term subtracts A's killed v0 rows against the
    // CURRENT other sides too (K⋈B₁ = K⋈B₀ ⊎ K⋈ΔB — both needed,
    // since A₀'s pinned scan in the ΔB term still CONTAINS K); the ΔB
    // term pins A at v0 so nothing lands twice. Eq deletes are
    // admissible on at most ONE side — that side is ordered FIRST so
    // the single-moved retraction branches apply verbatim; eq deletes
    // on both moved sides decline (cross-killed terms).
    val movedOrdered: Seq[Int] =
      if (movedSides.length < 2) movedSides
      else {
        val withEq = movedSides.filter(i => sideDeltas(i)._2.nonEmpty)
        if (withEq.length > 1) return None
        withEq ++ movedSides.filterNot(withEq.contains)
      }
    // Upsert staleness on the first moved side (eq deletes in range):
    // the killed tuples' joined aggregates subtract (sum/count/avg
    // components only), vanished groups drop by the liveness count.
    val newEqs: Vector[GraftCatalog.EqDelete] =
      movedOrdered.headOption.map(m => sideDeltas(m)._2).getOrElse(Vector.empty)
    if (newEqs.nonEmpty && !retractionAdmissible(agg, newEqs)) return None
    // The MV's aggregate specs keyed like the fresh path; each spec's
    // raw text is remembered so every delta branch can RE-bind it
    // against its own relations.
    val specs = bindSpecs(d.aggList, q.output).getOrElse(return None)
    val specByKey: Map[String, String] = specs.map(t => t._1 -> t._2).toMap
    val itemByName: Map[String, String] = specs.map(t => t._2 -> t._3).toMap
    val liveCntCol: Option[String] =
      if (newEqs.isEmpty || groupAttrs.isEmpty) None
      else Some(specByKey.getOrElse(countStarKey, return None))
    // GLOBAL retraction with SUM outputs needs dead-group guards too —
    // not to filter (a global aggregate always emits its one row) but
    // to restore sum-over-empty = NULL when every contributing row was
    // killed (the branches net 0, not NULL). Each SUM is guarded by
    // the net count of ITS OWN operand (sumGuardCntCol); any sum
    // without a sound guard column → decline rather than serve a
    // wrong 0.
    val sumGuardCols: Seq[String] =
      if (newEqs.isEmpty || groupAttrs.nonEmpty) Nil
      else agg.aggregateExpressions.flatMap {
        case Alias(ae: AggregateExpression, _) => ae.aggregateFunction match {
          case s: Sum => Seq(sumGuardCntCol(s, specByKey).getOrElse(return None))
          case _ => Nil
        }
        case _ => Nil
      }
    // Plan the output shape FIRST: which MV agg columns the query
    // needs, and that every query aggregate is merge-derivable.
    val neededAggCols =
      (neededMergeCols(agg, mvGroupCols, specByKey).getOrElse(return None) ++
        liveCntCol ++ sumGuardCols).distinct
    val unionCols: Seq[String] = mvGroupCols ++ neededAggCols

    // MV branch: pinned entry-snapshot scan, query WHERE (group-column
    // references only, per admissibleResidual) remapped onto MV columns.
    val anyCatalog = q.rels.head.catalog
    val mvRelation =
      DataSourceV2Relation.create(mvTable, anyCatalog, Some(mvIdent))
    def mvAttr(col: String): Option[Attribute] =
      mvRelation.output.find(a => resolver(a.name, col))
    val mvChild = remapOntoMv(residualCond, mvGroupCols, mvAttr, mvRelation)
      .getOrElse(return None)
    val mvPart = Project(unionCols.map(c => mvAttr(c).getOrElse(return None)), mvChild)

    val combined: LogicalPlan =
      if (movedSides.isEmpty) mvPart // metadata-only drift on every side
      else {
        // Branch builder shared by the delta and retraction parts: a
        // pinned scan of the moved side joined against the OTHER
        // sides (condition-free Inner joins under ONE Filter holding
        // the conjunction, none for a single side: predicate pushdown
        // turns each equi conjunct into its join condition before the
        // cartesian check runs — the same conjunction form
        // create/refresh plan through; for a moved DIM the equi
        // conjunct also reaches the FACT scan as a pushed join-side
        // filter, zone-map-pruning it to matched segments), an extra
        // branch predicate (the kill-key IN), the query's FULL
        // predicate, specs re-bound, aggregates optionally NEGATED
        // (the retraction branch contributes -count/-sum, exact for
        // the sum/count-only retraction gate).
        def joinPart(
            sideIdent: Identifier,
            sideTable: org.apache.spark.sql.connector.catalog.Table,
            others: Seq[DataSourceV2Relation],
            extraPred: Option[Seq[Attribute] => Option[Expression]],
            negate: Boolean): Option[LogicalPlan] = {
          val sideRel = DataSourceV2Relation.create(sideTable, anyCatalog, Some(sideIdent))
          val outAll = sideRel.output ++ others.flatMap(_.output)
          def at(col: String): Option[Attribute] =
            outAll.find(a => resolver(a.name, col))
          var child: LogicalPlan = others.foldLeft(sideRel: LogicalPlan)(
            (l, r) => Join(l, r, Inner, None, JoinHint.NONE))
          d.on.foreach { on =>
            child = Filter(resolveSpecAgainst(on, outAll).getOrElse(return None), child)
          }
          extraPred.foreach { f =>
            child = Filter(f(sideRel.output).getOrElse(return None), child)
          }
          q.filter.foreach { c =>
            var ok = true
            val mapped = c.transformUp {
              case a: AttributeReference => at(a.name) match {
                case Some(d) => d
                case None => ok = false; a
              }
            }
            if (!ok) return None
            child = Filter(mapped, child)
          }
          val groups: Seq[NamedExpression] =
            mvGroupCols.map(c => at(c).getOrElse(return None))
          val aggs: Seq[NamedExpression] = neededAggCols.map { n =>
            resolveSpecAgainst(itemByName(n), outAll) match {
              case Some(al: Alias) if !negate => al
              case Some(al: Alias) =>
                Alias(org.apache.spark.sql.catalyst.expressions.UnaryMinus(al.child), n)()
              case _ => return None
            }
          }
          Some(Aggregate(groups, groups ++ aggs, child))
        }

        // First moved side's term: Δm ⋈ the query's own relations for
        // every other side — REUSED, so their ExprIds appear exactly
        // once in that branch (they carry the current state, which for
        // UNMOVED sides equals the recorded state by the empty-delta
        // gate; for a SECOND moved side the current state is exactly
        // what the decomposition wants — ΔA⋈B₁ absorbs the ΔA⋈ΔB
        // cross term). The delta scan applies the in-range deletes,
        // so rows a LATER epoch killed never enter.
        val m = movedOrdered.head
        val mIdent = sideIdents(m)
        val otherRels: Seq[DataSourceV2Relation] =
          d.sides.zipWithIndex.collect { case (s, i) if i != m => q.rel(s.name) }
        val (segs, _) = sideDeltas(m)
        val deltaPart: Option[LogicalPlan] =
          if (segs.isEmpty) None
          else joinPart(mIdent,
            GraftCatalog.segmentPinnedTable(mIdent, segs, newEqs).getOrElse(return None),
            otherRels, None, negate = false).orElse(return None)
        // Retraction term: the rows the in-range deletes killed out of
        // the v0 snapshot (pinned v0 segments + v0's own deletes,
        // restricted to the new deletes' keys), aggregated NEGATED.
        val killedPart: Option[LogicalPlan] =
          if (newEqs.isEmpty) None
          else {
            val s0 = GraftCatalog.snapshotByVersion(mIdent, sideV0s(m))
              .getOrElse(return None)
            // FRESH relation copies for the other sides: the delta
            // branch already spent the query's ExprIds; a second
            // appearance would alias two scans in one tree.
            val othersFresh = otherRels.map(r =>
              DataSourceV2Relation.create(r.table, r.catalog, r.identifier))
            joinPart(mIdent,
              GraftCatalog.segmentPinnedTable(mIdent, s0.segments, s0.eqDeletes)
                .getOrElse(return None),
              othersFresh, Some(eqKillPredicate(newEqs)), negate = true)
              .orElse(return None)
          }
        // Second moved side's term (append-only by the gate above):
        // Δm2 ⋈ m@v0 (pinned — so tuples ΔA⋈ΔB, already counted by the
        // first term, never reappear) ⋈ fresh copies of the unmoved
        // sides. All relations here are freshly minted: the query's
        // ExprIds were spent by the first delta branch.
        val delta2Part: Option[LogicalPlan] = movedOrdered.drop(1).headOption.map { m2 =>
          val m2Ident = sideIdents(m2)
          val s0m = GraftCatalog.snapshotByVersion(mIdent, sideV0s(m))
            .getOrElse(return None)
          val mV0Rel = DataSourceV2Relation.create(
            GraftCatalog.segmentPinnedTable(mIdent, s0m.segments, s0m.eqDeletes)
              .getOrElse(return None),
            anyCatalog, Some(mIdent))
          val othersFresh2: Seq[DataSourceV2Relation] =
            d.sides.zipWithIndex.collect {
              case (s, i) if i != m && i != m2 =>
                val r = q.rel(s.name)
                DataSourceV2Relation.create(r.table, r.catalog, r.identifier)
            }
          joinPart(m2Ident,
            GraftCatalog.segmentPinnedTable(m2Ident, sideDeltas(m2)._1, Vector.empty)
              .getOrElse(return None),
            mV0Rel +: othersFresh2, None, negate = false).getOrElse(return None)
        }
        val branches: Seq[LogicalPlan] =
          mvPart +: (deltaPart ++ killedPart ++ delta2Part).toSeq
        // Union is positional: all branches emit unionCols in order and
        // must agree on types exactly (no silent coercion).
        if (branches.exists(_.output.map(_.dataType) != mvPart.output.map(_.dataType)))
          return None
        if (branches.length == 1) mvPart else Union(branches)
      }
    val merged =
      mergedAggregate(agg, groupAttrs, mvGroupCols, unionCols, specByKey, combined,
        guardDeadSums = sumGuardCols.nonEmpty)
        .getOrElse(return None)
    withLiveness(merged, liveCntCol, combined, unionCols)
  }

  /** Residual-WHERE admissibility, shared by every serve path:
    * deterministic, subquery-free, and referencing MV GROUP columns
    * exclusively (the MV's rows partition exactly by those, so slicing
    * before or after pre-aggregation is the same set of input rows).
    */
  private def admissibleResidual(
      cond: Option[Expression], mvGroupCols: Seq[String]): Boolean = cond.forall { c =>
    c.deterministic &&
      c.find(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.PlanExpression[_]])
        .isEmpty &&
      c.references.forall(a => mvGroupCols.exists(resolver(_, a.name)))
  }

  /** Grouping relationship: Some(true) = EXACT (same set), Some(false)
    * = ROLLUP (query groups ⊂ MV groups, incl. the global aggregate),
    * None = finer grouping the MV cannot serve.
    */
  private def groupingMatch(
      groupAttrs: Seq[Attribute], mvGroupCols: Seq[String]): Option[Boolean] = {
    val exact = groupAttrs.length == mvGroupCols.length &&
      mvGroupCols.forall(c => groupAttrs.exists(a => resolver(a.name, c)))
    if (exact) Some(true)
    else if (groupAttrs.forall(a => mvGroupCols.exists(c => resolver(c, a.name))))
      Some(false)
    else None
  }

  /** Bind each MV aggregate spec against `output` and key it by
    * normalized canonical SQL: Seq of (normKey, mvColumnName, rawSpec).
    * None when any spec is unresolvable or two specs collide on the
    * same key (never rewrite on a guess).
    */
  private def bindSpecs(
      aggList: Seq[String], output: Seq[Attribute]): Option[Seq[(String, String, String)]] = {
    val specs = aggList.map { item =>
      resolveSpecAgainst(item, output) match {
        case Some(al: Alias) => (norm(al.child), al.name, item)
        case _ => return None
      }
    }
    if (specs.map(_._1).distinct.length != specs.length) None else Some(specs)
  }

  /** The (possibly filtered) MV input: remap the residual WHERE's
    * group-column references onto the MV's own columns so the slice
    * rides the MV scan's zone-map pruning; None when any reference has
    * no MV column (not commutable).
    */
  private def remapOntoMv(
      cond: Option[Expression], mvGroupCols: Seq[String],
      mvAttr: String => Option[Attribute],
      mvRelation: LogicalPlan): Option[LogicalPlan] = cond match {
    case None => Some(mvRelation)
    case Some(c) =>
      var ok = true
      val mapped = c.transformUp {
        case a: AttributeReference =>
          mvGroupCols.find(resolver(_, a.name)).flatMap(mvAttr) match {
            case Some(m) => m
            case None => ok = false; a
          }
      }
      if (ok) Some(Filter(mapped, mvRelation)) else None
  }

  /** Build the serving plan over a fresh MV: EXACT grouping projects
    * the MV columns; ROLLUP re-aggregates them with derivable shapes only
    * (sum→sum, count→sum-of-counts, min→min, max→max; DISTINCT/FILTER
    * and non-distributive aggs kill the candidate). Output ExprIds are
    * preserved so parent operators are oblivious.
    */
  private def serveFromMv(
      agg: Aggregate, groupAttrs: Seq[Attribute], exact: Boolean,
      groupColFor: Attribute => Option[String],
      mvAttr: String => Option[Attribute],
      specByKey: Map[String, String],
      mvChild: LogicalPlan): Option[LogicalPlan] = {
    if (exact) {
      // Map every aggregate output onto an MV column; types must agree.
      val outputs = agg.aggregateExpressions.map {
        case a: Attribute if groupColFor(a).isDefined =>
          val m = mvAttr(groupColFor(a).get).getOrElse(return None)
          if (m.dataType != a.dataType) return None
          Alias(m, a.name)(exprId = a.exprId)
        case al @ Alias(child: Attribute, _) if groupColFor(child).isDefined =>
          val m = mvAttr(groupColFor(child).get).getOrElse(return None)
          if (m.dataType != al.dataType) return None
          Alias(m, al.name)(exprId = al.exprId)
        case al: Alias =>
          specByKey.get(norm(al.child)).flatMap(mvAttr) match {
            case Some(m) =>
              if (m.dataType != al.dataType) return None
              Alias(m, al.name)(exprId = al.exprId)
            // avg(x) NOT materialized but sum(x) + a compatible count
            // are: serve the exact grain as a per-row scalar division
            // of the two MV columns (each MV row IS one query group).
            case None => al.child match {
              case ae: AggregateExpression if !ae.isDistinct && ae.filter.isEmpty =>
                ae.aggregateFunction match {
                  case av: Average =>
                    val (sc, cc) =
                      avgComponentCols(av, specByKey).getOrElse(return None)
                    val e = avgFromComponents(av,
                      mvAttr(sc).getOrElse(return None),
                      mvAttr(cc).getOrElse(return None))
                    if (e.dataType != al.dataType) return None
                    Alias(e, al.name)(exprId = al.exprId)
                  case _ => return None
                }
              case _ => return None
            }
          }
        case _ => return None
      }
      Some(Project(outputs, mvChild))
    } else {
      // ROLLUP: re-aggregate the MV. Derivable shapes only — sum→sum,
      // count→sum (a count of counts is wrong; a sum of counts is the
      // count), min→min, max→max. DISTINCT/FILTER aggregates and
      // anything non-distributive (avg, stddev, count(distinct)) are
      // NOT derivable from a coarser rollup and kill the candidate.
      val outputs: Seq[NamedExpression] = agg.aggregateExpressions.map {
        case a: Attribute if groupColFor(a).isDefined =>
          val m = mvAttr(groupColFor(a).get).getOrElse(return None)
          if (m.dataType != a.dataType) return None
          Alias(m, a.name)(exprId = a.exprId)
        case al @ Alias(child: Attribute, _) if groupColFor(child).isDefined =>
          val m = mvAttr(groupColFor(child).get).getOrElse(return None)
          if (m.dataType != al.dataType) return None
          Alias(m, al.name)(exprId = al.exprId)
        case al @ Alias(ae: AggregateExpression, _)
            if !ae.isDistinct && ae.filter.isEmpty =>
          val reagg: Expression = ae.aggregateFunction match {
            // avg is NOT distributive (an avg of avgs is wrong), but it
            // IS algebraic: when the MV materializes sum(x) and a
            // null-compatible count, avg(x) = sum-of-sums /
            // sum-of-counts — exactly Spark's own Average evaluate
            // shape, so the derivation is type- and rounding-exact.
            case av: Average =>
              val (sc, cc) = avgComponentCols(av, specByKey).getOrElse(return None)
              avgFromComponents(av,
                Sum(mvAttr(sc).getOrElse(return None)).toAggregateExpression(),
                Sum(mvAttr(cc).getOrElse(return None)).toAggregateExpression())
            case fn =>
              val src = specByKey.get(norm(ae)).flatMap(mvAttr).getOrElse(return None)
              fn match {
                case _: Sum => Sum(src).toAggregateExpression()
                // Sum over zero rows is NULL but count over zero rows
                // is 0 — a GLOBAL rollup (empty grouping) of an empty
                // or fully-filtered MV must keep count semantics.
                case _: Count =>
                  Coalesce(Seq(Sum(src).toAggregateExpression(), Literal(0L)))
                case _: Min => Min(src).toAggregateExpression()
                case _: Max => Max(src).toAggregateExpression()
                case _ => return None
              }
          }
          // Re-summing widens decimal precision; cast restores the
          // original type EXACTLY (always a widening, never lossy).
          val shaped =
            if (reagg.dataType == al.dataType) reagg else Cast(reagg, al.dataType)
          Alias(shaped, al.name)(exprId = al.exprId)
        case _ => return None
      }
      val newGroups: Seq[Expression] =
        groupAttrs.map(a => groupColFor(a).flatMap(mvAttr).getOrElse(return None))
      Some(Aggregate(newGroups, outputs, mvChild))
    }
  }


  /** Exact kill predicate for the retraction branch: the rows of a
    * pinned snapshot a set of in-range equality deletes killed —
    * single-column keys only (gated by callers), so a plain IN over
    * the union of each key column's values is EXACT tuple membership.
    * The returned builder binds against the branch's own output.
    */
  private def eqKillPredicate(
      newEqs: Seq[GraftCatalog.EqDelete]): Seq[Attribute] => Option[Expression] = {
    out =>
      val perDelete: Seq[Option[Expression]] =
        newEqs.groupBy(_.keyCols.head).toSeq.map { case (kc, ds) =>
          out.find(a => resolver(a.name, kc)).map { attr =>
            val vs = ds.flatMap(_.keys.map(_.head)).distinct
            val nonNull = vs.filterNot(_ == null)
            val in: Expression =
              if (nonNull.isEmpty) Literal(false)
              else org.apache.spark.sql.catalyst.expressions.In(
                attr, nonNull.map(v => Literal(v)))
            if (vs.contains(null))
              org.apache.spark.sql.catalyst.expressions.Or(in,
                org.apache.spark.sql.catalyst.expressions.IsNull(attr))
            else in
          }
        }
      if (perDelete.exists(_.isEmpty)) None
      else Some(perDelete.flatten
        .reduce(org.apache.spark.sql.catalyst.expressions.Or)).filter(_.resolved)
  }

  /** Retraction gates of the stale path: negation is exact only for SUM/COUNT (and AVG, which
    * merges through its sum+count components), the kill predicate
    * needs single-column keys, and the key lists must stay
    * metadata-sized — capped by the refresh side's
    * `spark.graft.mvRefresh.eqKeyLimit` (default 10000: rewrite and
    * refresh guard the same inlined-IN blow-up, so they share one cap).
    * True = admissible.
    */
  private def retractionAdmissible(
      agg: Aggregate, newEqs: Seq[GraftCatalog.EqDelete]): Boolean =
    newEqs.forall(_.keyCols.length == 1) &&
      newEqs.map(_.keys.length).sum <= rewriteEqKeyLimit &&
      agg.aggregateExpressions.forall {
        case Alias(ae: AggregateExpression, _) => ae.aggregateFunction match {
          case _: Sum | _: Count | _: Average => true
          case _ => false
        }
        case _ => true // group columns — vetted by mergedAggregate
      }

  private def rewriteEqKeyLimit: Long =
    session.conf.get("spark.graft.mvRefresh.eqKeyLimit", "10000").toLong

  /** LIVENESS filter for retraction-served plans: a group whose every
    * base row was killed nets count 0 across the branches but would
    * still emit a row of zeros/nulls — SQL semantics say the group
    * vanishes. Wraps the merged aggregate with an internal
    * sum-of-counts column, filters on it, and restores the query's
    * output shape (and ExprIds) with a Project. `liveCntCol` None =
    * no wrap (pure-append staleness, or the global aggregate — which
    * legitimately reports 0/NULL over an emptied table).
    */
  private def withLiveness(
      merged: LogicalPlan, liveCntCol: Option[String],
      combined: LogicalPlan, unionCols: Seq[String]): Option[LogicalPlan] =
    liveCntCol match {
      case None => Some(merged)
      case Some(cnt) => merged match {
        case Aggregate(g, outs, child, _) =>
          val cntAttr = combined.output(unionCols.indexOf(cnt))
          val live = Alias(Coalesce(Seq(
            Sum(cntAttr).toAggregateExpression(), Literal(0L))), "__graft_live_cnt")()
          val withLive = Aggregate(g, outs :+ live, child)
          val filtered = Filter(
            org.apache.spark.sql.catalyst.expressions.GreaterThan(
              live.toAttribute, Literal(0L)), withLive)
          Some(Project(outs.map(_.toAttribute), filtered))
        case _ => None
      }
    }

  /** Normalized key of `count(*)` — the MV column the liveness filter
    * needs.
    */
  private def countStarKey: String = norm(AggregateExpression(
    Count(Seq(Literal(1))), Complete, isDistinct = false))

  /** The MV aggregate columns the query's output needs, with every
    * query aggregate proven MERGE-derivable (sum/count/min/max, no
    * DISTINCT/FILTER — a group can live in both union branches, so
    * even an exact grouping match re-merges). None = some aggregate
    * can't merge and the delta-union shape is inadmissible.
    */
  private def neededMergeCols(
      agg: Aggregate, mvGroupCols: Seq[String],
      specByKey: Map[String, String]): Option[Seq[String]] = {
    val cols = agg.aggregateExpressions.flatMap {
      case a: Attribute if mvGroupCols.exists(resolver(_, a.name)) => None
      case Alias(child: Attribute, _) if mvGroupCols.exists(resolver(_, child.name)) => None
      case Alias(ae: AggregateExpression, _) if !ae.isDistinct && ae.filter.isEmpty =>
        ae.aggregateFunction match {
          case _: Sum | _: Count | _: Min | _: Max =>
            Some(specByKey.getOrElse(norm(ae), return None))
          // avg is merge-derivable through its sum+count components:
          // both ride the union and divide in the final merge.
          case av: Average =>
            val (sc, cc) = avgComponentCols(av, specByKey).getOrElse(return None)
            Seq(sc, cc)
          case _ => return None
        }
      case _ => return None
    }.distinct
    Some(cols)
  }

  /** avg(x)'s component MV columns: sum(x), plus a null-compatible
    * count — count(x) always works; count(*) only when x is provably
    * non-nullable (they differ exactly on NULL-x rows). None = the MV
    * lacks a component and the avg derivation is inadmissible.
    */
  private def avgComponentCols(
      av: Average, specByKey: Map[String, String]): Option[(String, String)] = {
    // ANSI interval averages divide through DivideYMInterval /
    // DivideDTInterval, not the numeric shapes avgFromComponents
    // builds — decline so interval avg falls back to the base plan.
    av.child.dataType match {
      case _: YearMonthIntervalType | _: DayTimeIntervalType => return None
      case _ =>
    }
    val sumCol = specByKey.get(norm(Sum(av.child).toAggregateExpression()))
      .getOrElse(return None)
    val cntCol = specByKey.get(norm(Count(Seq(av.child)).toAggregateExpression()))
      .orElse(if (!av.child.nullable) specByKey.get(countStarKey) else None)
      .getOrElse(return None)
    Some((sumCol, cntCol))
  }

  /** Dead-group guard column for a GLOBAL-retraction SUM: the net
    * count of the sum's OWN operand — count(x) when the MV
    * materializes it, count(*) only when x is provably non-nullable
    * (the two counts coincide exactly then). Net count(*) alone is
    * unsound: kills can remove every non-NULL-x row while NULL-x rows
    * survive, leaving count(*) > 0 where sum(x) over the survivors is
    * NULL. None = no sound guard column; callers decline rather than
    * serve a netted 0.
    */
  private def sumGuardCntCol(s: Sum, specByKey: Map[String, String]): Option[String] =
    specByKey.get(norm(Count(Seq(s.child)).toAggregateExpression()))
      .orElse(if (!s.child.nullable) specByKey.get(countStarKey) else None)

  /** avg(x) from its components, in EXACTLY the shape of Spark 4.1's
    * own `Average.evaluateExpression` (verified against the compiled
    * aggregate):
    *  - decimal: `If(count = 0, NULL, DecimalDivideWithOverflowCheck(
    *    sum, count.cast(decimal(20,0)), resultType, ctx, !ansi))` —
    *    same operand types → same precision/scale → same rounding;
    *  - everything else: `Divide(sum.cast(rt), count.cast(rt),
    *    EvalMode.LEGACY)`.
    * LEGACY/the If-guard matter beyond fidelity: a RETRACTION that
    * nets a group's count to 0 evaluates the division INSIDE the
    * aggregate (before the liveness filter drops the row), where an
    * ANSI divide would throw DIVIDE_BY_ZERO; both shapes yield NULL —
    * which is also exactly avg-over-empty.
    */
  private def avgFromComponents(
      av: Average, sumE: Expression, cntE: Expression): Expression = {
    val rt = av.dataType
    av.child.dataType match {
      case _: DecimalType =>
        val sumT = av.sumDataType
        val s = if (sumE.dataType == sumT) sumE else Cast(sumE, sumT)
        If(
          org.apache.spark.sql.catalyst.expressions.EqualTo(cntE, Literal(0L)),
          Literal(null, rt),
          org.apache.spark.sql.catalyst.expressions.DecimalDivideWithOverflowCheck(
            s, Cast(cntE, DecimalType(20, 0)), rt.asInstanceOf[DecimalType],
            null, av.evalMode != org.apache.spark.sql.catalyst.expressions.EvalMode.ANSI))
      case _ =>
        Divide(Cast(sumE, rt), Cast(cntE, rt),
          org.apache.spark.sql.catalyst.expressions.EvalMode.LEGACY)
    }
  }

  /** Final merge aggregate at the QUERY's grain over `combined` (whose
    * output is positionally `unionCols`), output ExprIds preserved so
    * parent operators are oblivious.
    */
  private def mergedAggregate(
      agg: Aggregate, groupAttrs: Seq[Attribute], mvGroupCols: Seq[String],
      unionCols: Seq[String], specByKey: Map[String, String],
      combined: LogicalPlan, guardDeadSums: Boolean): Option[LogicalPlan] = {
    def unionAttr(col: String): Attribute = combined.output(unionCols.indexOf(col))
    def groupColFor(a: Attribute): Option[String] = mvGroupCols.find(resolver(_, a.name))
    val outputs: Seq[NamedExpression] = agg.aggregateExpressions.map {
      case a: Attribute if groupColFor(a).isDefined =>
        val m = unionAttr(groupColFor(a).get)
        if (m.dataType != a.dataType) return None
        Alias(m, a.name)(exprId = a.exprId)
      case al @ Alias(child: Attribute, _) if groupColFor(child).isDefined =>
        val m = unionAttr(groupColFor(child).get)
        if (m.dataType != al.dataType) return None
        Alias(m, al.name)(exprId = al.exprId)
      case al @ Alias(ae: AggregateExpression, _) if !ae.isDistinct && ae.filter.isEmpty =>
        val reagg: Expression = ae.aggregateFunction match {
          case av: Average =>
            // avg merges through its components: net sum / net count
            // across the MV ⊎ delta (⊎ negated-retraction) branches.
            // A retro-emptied group nets count 0 → Divide → NULL,
            // which is avg-over-empty — no dead-group guard needed.
            val (sc, cc) = avgComponentCols(av, specByKey).getOrElse(return None)
            avgFromComponents(av,
              Sum(unionAttr(sc)).toAggregateExpression(),
              Sum(unionAttr(cc)).toAggregateExpression())
          case fn =>
            val src = unionAttr(specByKey(norm(ae)))
            fn match {
              case s: Sum =>
                val sumAgg = Sum(src).toAggregateExpression()
                // GLOBAL retraction: a table whose contributing rows
                // were ALL killed nets sum 0 (s + (-s)), but SQL's
                // sum over empty input is NULL. The net count OF THE
                // OPERAND distinguishes the two — count keeps its
                // 0-on-empty semantics below.
                if (!guardDeadSums) sumAgg
                else {
                  val cnt = sumGuardCntCol(s, specByKey).getOrElse(return None)
                  val live = Coalesce(Seq(
                    Sum(unionAttr(cnt)).toAggregateExpression(), Literal(0L)))
                  If(LessThanOrEqual(live, Literal(0L)),
                    Literal(null, sumAgg.dataType), sumAgg)
                }
              // Same count-vs-sum empty-input distinction as the rollup
              // arm: the merged global count must be 0, never NULL.
              case _: Count =>
                Coalesce(Seq(Sum(src).toAggregateExpression(), Literal(0L)))
              case _: Min => Min(src).toAggregateExpression()
              case _: Max => Max(src).toAggregateExpression()
              case _ => return None
            }
        }
        val shaped =
          if (reagg.dataType == al.dataType) reagg else Cast(reagg, al.dataType)
        Alias(shaped, al.name)(exprId = al.exprId)
      case _ => return None
    }
    val newGroups: Seq[Expression] =
      groupAttrs.map(a => groupColFor(a).map(unionAttr).getOrElse(return None))
    Some(Aggregate(newGroups, outputs, combined))
  }

  /** Flatten a conjunction into its top-level conjuncts. */
  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** FILTERED-MV subsumption: the query's residual predicate after
    * dropping the MV's own filter conjuncts, the MV's WHERE bound
    * against `output` — every side's columns, since a filtered join
    * MV's predicate may reference any side. `None` = the candidate is
    * inadmissible (no query WHERE, a missing MV conjunct, or a
    * non-deterministic/unresolvable MV filter); `Some(residual)` = the
    * conjuncts still to apply on the MV's rows (possibly none). For an
    * unfiltered MV the query predicate passes through whole.
    */
  private def residualAfterMvFilterOn(
      d: MvDef, filterCond: Option[Expression],
      output: Seq[Attribute]): Option[Option[Expression]] =
    d.where match {
      case None => Some(filterCond)
      case Some(fs) =>
        val mvCond = resolveSpecAgainst(fs, output).getOrElse(return None)
        if (!mvCond.deterministic) return None
        val qc = filterCond.getOrElse(return None)
        val mvNorms = conjuncts(mvCond).map(norm).toSet
        val qcs = conjuncts(qc)
        if (!mvNorms.subsetOf(qcs.map(norm).toSet)) return None
        Some(qcs.filterNot(c => mvNorms.contains(norm(c)))
          .reduceOption(org.apache.spark.sql.catalyst.expressions.And))
    }

  /** Minimal spec binder against an explicit attribute set (the
    * outputs of a query's relations, or of a delta branch's): column references resolve against `output`, functions
    * through the session registry (aggregates wrapped exactly as the
    * analyzer would), `count(*)` → `count(1)`, timezone-needing casts
    * stamped with the session zone. Anything it cannot bind returns
    * None — the rewrite then simply does not fire.
    */
  private def resolveSpecAgainst(spec: String, output: Seq[Attribute]): Option[Expression] = {
    val parsed =
      try session.sessionState.sqlParser.parseExpression(spec)
      catch { case NonFatal(_) => return None }
    var failed = false
    val bound = parsed.transformUp {
      case u: UnresolvedAttribute if u.nameParts.length == 1 =>
        output.find(a => resolver(a.name, u.nameParts.head)).getOrElse {
          failed = true; u
        }
      case u: UnresolvedFunction if u.nameParts.length == 1 =>
        val args = u.arguments.map {
          case _: UnresolvedStar => Literal(1)
          case other => other
        }
        try {
          session.sessionState.functionRegistry
            .lookupFunction(FunctionIdentifier(u.nameParts.head), args) match {
            // FILTER must survive the rebind: dropping it would key a
            // filtered MV column as its unfiltered twin and serve
            // filtered sums to an unfiltered query.
            case af: AggregateFunction =>
              AggregateExpression(af, Complete, u.isDistinct, u.filter)
            case other => other
          }
        } catch { case NonFatal(_) => failed = true; u }
      case c: Cast if c.needsTimeZone && c.timeZoneId.isEmpty =>
        c.withTimeZone(conf.sessionLocalTimeZone)
    }
    if (failed || !bound.resolved) None else Some(bound)
  }

  /** Name-normalized structural key: attribute identity by NAME (not
    * ExprId — the two sides bind independently), qualifiers stripped,
    * then canonical SQL text. Name folding honors the session's case
    * sensitivity: under spark.sql.caseSensitive=true, columns `a` and
    * `A` are distinct and must not key to the same spec. Exact-match
    * comparison — no algebraic equivalences beyond what `.sql`
    * normalizes.
    */
  private def norm(e: Expression): String = {
    val ci = !conf.caseSensitiveAnalysis
    val canon = e.transformUp {
      case a: AttributeReference =>
        AttributeReference(if (ci) a.name.toLowerCase else a.name, a.dataType,
          nullable = true)(exprId = ExprId(0), qualifier = Nil)
    }.sql
    if (ci) canon.toLowerCase else canon
  }
}
