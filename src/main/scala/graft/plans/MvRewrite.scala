package graft.plans

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction, UnresolvedStar}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Cast, Coalesce, Divide, ExprId, Expression, If, LessThanOrEqual, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, Average, Complete, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, JoinHint, LogicalPlan, Project, SubqueryAlias, Union}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.{DayTimeIntervalType, DecimalType, YearMonthIntervalType}

import graft.sources.{GraftCatalog, GraftMvOps}

/** Session conf switches of [[MvRewriteRule]]; both default to true. */
object MvRewrite {
  val EnabledKey = "spark.graft.mvRewrite.enabled"
  val StaleEnabledKey = "spark.graft.mvRewrite.stale.enabled"
}

/** TRANSPARENT MATERIALIZED-VIEW REWRITE — the aggregate-navigator
  * move (Calcite/BigQuery/Snowflake shape): a query that aggregates a
  * catalog table with exactly the GROUP BY columns and aggregate
  * expressions of one of its materialized views, while that MV is
  * FRESH (its recorded source version == the source's current
  * version), is rewritten to read the MV table instead — turning a
  * full-table aggregation into a scan of the (usually tiny)
  * pre-aggregated result. At 100 TB this is the difference between
  * re-reading the fact table for every dashboard query and answering
  * from a rollup the ingest pipeline already maintains incrementally.
  *
  * Two match shapes:
  *  - EXACT: query grouping set == MV grouping set → plain MV scan;
  *  - ROLLUP: query grouping ⊂ MV grouping (including the global
  *    aggregate) AND every aggregate is rollup-derivable
  *    (sum→sum-of-sums, count→sum-of-counts, min→min, max→max; never
  *    DISTINCT/FILTER or non-distributive aggs) → re-aggregate the
  *    MV's rows at the coarser grain.
  *
  * JOIN MVs (source `'fact JOIN d1 ON c1 [JOIN d2 ON c2 …]'` — the
  * N-way star/snowflake shape) extend both shapes: an aggregate over
  * the same set of INNER-joined tables (any join order or tree shape)
  * whose ON conjunct SET matches the MV's recorded conjunction is
  * served when EVERY side is fresh at the MV's recorded versions —
  * see [[rewriteJoin]]. A join MV stale by APPENDS on at most ONE
  * side (fact micro-batches, or a late-arriving dim's new members)
  * is still served, as MV ⊎ re-aggregate(ΔS ⋈ others) with a
  * segment-pinned delta scan of the moved side — see
  * [[tryStaleJoinCandidate]]. TWO moved sides (both append-only) are
  * served by the disjoint decomposition
  * A₁⋈B₁ = A₀⋈B₀ ⊎ ΔA⋈B₁ ⊎ A₀⋈ΔB (the first delta term joins against
  * the CURRENT other sides, absorbing the ΔA⋈ΔB cross term; the
  * second pins A at v0). Eq deletes on at most ONE of the two moved
  * sides compose with the retraction algebra (that side orders first;
  * its killed rows subtract against the CURRENT other sides, covering
  * K⋈ΔB); three+ moved sides, or eq deletes on both moved sides,
  * decline the stale path.
  *
  * FILTERED MVs (defined with `create_mv(..., where)`) add a predicate
  * SUBSUMPTION gate before either shape: every MV-filter conjunct must
  * appear norm-equal among the query's WHERE conjuncts (those are
  * dropped as already applied inside the MV); the residual conjuncts
  * then pass the usual group-column admissibility. Exact structural
  * subsumption only — no implication reasoning. The stale-delta path
  * serves filtered MVs too: the MV branch applies the residual, the
  * delta branch applies the query's FULL predicate (delta rows are raw
  * source rows, and the MV conjuncts are part of it by subsumption).
  *
  * Soundness gates (all must hold, else the plan is untouched):
  *  - the aggregate's child is the source relation, either bare or
  *    under ONE WHERE that references MV GROUP columns exclusively —
  *    such a filter commutes with the pre-aggregation (the MV's rows
  *    partition exactly by the group columns) and is remapped onto the
  *    MV scan, where it rides zone-map pruning; any filter touching a
  *    non-group column kills the match;
  *  - every grouping expression is a plain column that is exactly the
  *    MV's GROUP BY set;
  *  - every aggregate output matches one of the MV's stored aggregate
  *    expressions STRUCTURALLY (the MV's spec is parsed, its columns
  *    bound against the same source relation, and both sides compared
  *    by name-normalized canonical SQL — `count(*)` ≡ `count(1)`,
  *    qualifiers and case are immaterial, `sum(a)` ≢ `sum(b)`);
  *  - output types agree exactly;
  *  - the MV is fresh AT ANALYSIS TIME (same consistency contract as
  *    any compiled plan: a write racing query planning wins or loses
  *    at the version lookup, exactly as it would at scan pinning).
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
  import MvRewrite.{EnabledKey, StaleEnabledKey}

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

  /** The aggregate's child, as (optional WHERE condition, relation).
    * One Filter directly below the aggregate is admissible — whether
    * it commutes with the MV substitution is decided later, once the
    * candidate's group columns are known. Pass-through projections
    * (bare attributes, no aliasing — what a `SELECT *` VIEW expansion
    * inserts) are transparent: they neither rename nor compute, so the
    * aggregate's expressions still reference the relation's columns by
    * their original names.
    */
  private def stripChild(
      p: LogicalPlan): Option[(Option[Expression], DataSourceV2Relation)] =
    p match {
      case s: SubqueryAlias => stripChild(s.child)
      case pr: Project if pr.projectList.forall(_.isInstanceOf[AttributeReference]) =>
        stripChild(pr.child)
      case f: Filter =>
        stripChild(f.child).flatMap {
          // At most ONE filter on the path (two conjoin fine, but keep
          // the shape simple and predictable).
          case (None, r) => Some((Some(f.condition), r))
          case _ => None
        }
      case r: DataSourceV2Relation => Some((None, r))
      case _ => None
    }

  private def rewrite(agg: Aggregate): Option[LogicalPlan] = {
    agg.child match {
      // ROLLUP/CUBE/GROUPING SETS analyze to Aggregate-over-Expand;
      // the single-relation/join matchers below never see through the
      // Expand, so grouping-set navigation gets its own matcher.
      case e: org.apache.spark.sql.catalyst.plans.logical.Expand =>
        return rewriteGroupingSets(agg, e)
      case _ =>
    }
    val (filterCond, relation) = stripChild(agg.child) match {
      case Some((c, r))
          if r.catalog.exists(_.isInstanceOf[GraftCatalog]) && r.identifier.isDefined =>
        (c, r)
      case _ => return rewriteJoin(agg) // not a single-relation shape
    }
    // A `VERSION/TIMESTAMP AS OF` scan resolves to the SAME relation
    // shape but with a snapshot-pinned table; it asks about history and
    // must never be answered from the (current) MV.
    if (GraftCatalog.isPinnedTable(relation.table)) return None
    val srcIdent = relation.identifier.get
    if (srcIdent.namespace().length != 1) return None
    val resolver = conf.resolver

    // Grouping must be plain source columns.
    val groupAttrs: Seq[Attribute] = agg.groupingExpressions.map {
      case a: Attribute => a
      case _ => return None
    }

    val fresh =
      GraftCatalog.freshMvsFor(srcIdent.namespace()(0), srcIdent.name())
    fresh.view.flatMap { case (mvIdent, props) =>
      tryCandidate(agg, relation, groupAttrs, filterCond, mvIdent, props, resolver)
    }.headOption.orElse {
      if (!conf.getConfString(StaleEnabledKey, "true").toBoolean) None
      else GraftCatalog.staleMvsFor(srcIdent.namespace()(0), srcIdent.name())
        .view.flatMap { case (mvIdent, _) =>
          tryStaleCandidate(agg, relation, groupAttrs, filterCond, mvIdent, resolver)
        }.headOption
    }
  }

  /** GROUPING-SETS NAVIGATION (rollup/cube/GROUPING SETS over the MV's
    * base): the analyzer lowers `GROUP BY rollup(a, b)` to
    * `Aggregate(groupAttrs :+ gid, aggs, Expand(projections, output,
    * Project(child.output ++ groupByAliases, child)))` — every
    * grouping SET is a coarsening of the full grouping list, so when
    * that list is contained in an MV's grain and every aggregate is
    * rollup-derivable, the whole lattice is derivable from the MV: the
    * rewrite rebuilds the SAME Expand structure (same grouping-set
    * membership matrix, same gid literals, same grouping/gid
    * attribute ExprIds — parents stay oblivious) over the MV scan,
    * with the aggregate functions mapped to their merge forms
    * (sum→sum, count→sum-of-counts, min→min, max→max). One MV scan
    * replaces the base scan; the per-set duplication the Expand does
    * now multiplies pre-aggregated rows instead of raw ones. Gates
    * mirror [[tryCandidate]]: fresh single-source MV, plain-column
    * groupings, WHERE references grouping columns only (it commutes
    * with the pre-aggregation AND with Expand), structural aggregate
    * match, exact types.
    */
  private def rewriteGroupingSets(
      agg: Aggregate,
      expand: org.apache.spark.sql.catalyst.plans.logical.Expand): Option[LogicalPlan] = {
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
    val resolver = conf.resolver
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

    // Single relation under the Project → single-source MVs; a join
    // tree under it → JOIN MVs (rollup over the star served from the
    // star's rollup MV) — same Expand rebuild either way.
    stripChild(proj.child) match {
      case Some((filterCond, relation))
          if relation.catalog.exists(_.isInstanceOf[GraftCatalog]) &&
            relation.identifier.isDefined =>
        if (GraftCatalog.isPinnedTable(relation.table)) return None
        val srcIdent = relation.identifier.get
        if (srcIdent.namespace().length != 1) return None
        GraftCatalog.freshMvsFor(srcIdent.namespace()(0), srcIdent.name())
          .view.flatMap { case (mvIdent, props) =>
            tryGroupingSetsCandidate(agg, relation, filterCond, groupAttrs, metaAttrs,
              baseColFor, sets, mvIdent, props, resolver)
          }.headOption
      case _ =>
        val (filterCond, queryConjuncts, rels) =
          stripJoin(proj.child).getOrElse(return None)
        if (rels.exists(r => GraftCatalog.isPinnedTable(r.table))) return None
        if (rels.exists(_.identifier.get.namespace().length != 1)) return None
        val names = rels.map(r =>
          s"${r.identifier.get.namespace()(0)}.${r.identifier.get.name()}")
        if (names.distinct.length != names.length) return None
        val combinedOutput = rels.flatMap(_.output)
        rels.flatMap(r =>
            GraftCatalog.freshMvsFor(r.identifier.get.namespace()(0), r.identifier.get.name()))
          .filter(_._2.contains(GraftMvOps.JoinCondProp))
          .view.flatMap { case (mvIdent, props) =>
            tryGroupingSetsJoinCandidate(agg, filterCond, queryConjuncts,
              combinedOutput, rels, names, groupAttrs, metaAttrs,
              baseColFor, sets, mvIdent, props, resolver)
          }.headOption
    }
  }

  private def tryGroupingSetsCandidate(
      agg: Aggregate, relation: DataSourceV2Relation,
      filterCond: Option[Expression],
      groupAttrs: Seq[Attribute], metaAttrs: Seq[Attribute],
      baseColFor: Seq[String], sets: Seq[(Seq[Boolean], Seq[Expression])],
      mvIdent: Identifier, props: Map[String, String],
      resolver: (String, String) => Boolean): Option[LogicalPlan] = {
    if (props.contains(GraftMvOps.JoinCondProp)) return None
    val mvGroupCols = props(GraftMvOps.GroupProp).split(',').toSeq
    // The FULL grouping list (the lattice's finest set) must be
    // contained in the MV grain; every coarser set then is too.
    if (!baseColFor.forall(c => mvGroupCols.exists(resolver(_, c)))) return None
    val residualCond: Option[Expression] =
      residualAfterMvFilter(props, filterCond, relation).getOrElse(return None)
    if (!admissibleResidual(residualCond, mvGroupCols, resolver)) return None
    val specByKey = bindSpecs(props(GraftMvOps.AggsProp), relation.output)
      .getOrElse(return None).map(t => t._1 -> t._2).toMap

    val catalog = relation.catalog.get.asInstanceOf[TableCatalog]
    val mvTable =
      try catalog.loadTable(mvIdent)
      catch { case NonFatal(_) => return None }
    val mvRelation = DataSourceV2Relation.create(mvTable, relation.catalog, Some(mvIdent))
    def mvAttr(col: String): Option[Attribute] =
      mvRelation.output.find(a => resolver(a.name, col))
    val mvChild = remapOntoMv(residualCond, mvGroupCols, mvAttr, mvRelation, resolver)
      .getOrElse(return None)
    buildGroupingSetsPlan(agg, groupAttrs, metaAttrs, baseColFor, sets,
      mvAttr, mvChild, specByKey)
  }

  /** Join-MV flavor of the grouping-sets candidate: the gate set of
    * [[tryJoinCandidate]] (table-set equality, every side fresh at the
    * recorded versions, ON conjunct-set match, filter subsumption
    * against the joined output), then the shared Expand rebuild.
    */
  private def tryGroupingSetsJoinCandidate(
      agg: Aggregate,
      filterCond: Option[Expression], queryConjuncts: Seq[Expression],
      combinedOutput: Seq[Attribute],
      rels: Seq[DataSourceV2Relation], names: Seq[String],
      groupAttrs: Seq[Attribute], metaAttrs: Seq[Attribute],
      baseColFor: Seq[String], sets: Seq[(Seq[Boolean], Seq[Expression])],
      mvIdent: Identifier, props: Map[String, String],
      resolver: (String, String) => Boolean): Option[LogicalPlan] = {
    val fact = props.getOrElse(GraftMvOps.SourceProp, return None)
    val (dims, vds) = joinDefMatching(props, names).getOrElse(return None)
    if (!names.contains(fact)) return None
    if (!GraftCatalog.currentVersion(
        fact.split('.')(0), fact.split('.')(1))
      .map(_.toString).contains(props.getOrElse(GraftMvOps.VersionProp, return None)))
      return None
    dims.zip(vds).foreach { case (d, v) =>
      val (dns, dtbl) = d.split('.') match {
        case Array(a, b) => (a, b)
        case _ => return None
      }
      if (!GraftCatalog.currentVersion(dns, dtbl).map(_.toString).contains(v))
        return None
    }
    val mvCond = resolveSpecAgainst(
      props.getOrElse(GraftMvOps.JoinCondProp, return None), combinedOutput)
      .getOrElse(return None)
    if (conjuncts(mvCond).map(norm).toSet != queryConjuncts.map(norm).toSet) return None
    val mvGroupCols =
      props.getOrElse(GraftMvOps.GroupProp, return None).split(',').toSeq
    if (!baseColFor.forall(c => mvGroupCols.exists(resolver(_, c)))) return None
    val residualCond: Option[Expression] =
      residualAfterMvFilterOn(props, filterCond, combinedOutput).getOrElse(return None)
    if (!admissibleResidual(residualCond, mvGroupCols, resolver)) return None
    val specByKey = bindSpecs(props.getOrElse(GraftMvOps.AggsProp, return None), combinedOutput)
      .getOrElse(return None).map(t => t._1 -> t._2).toMap
    val anyRel = rels.head
    val catalog = anyRel.catalog.get.asInstanceOf[TableCatalog]
    val mvTable =
      try catalog.loadTable(mvIdent)
      catch { case NonFatal(_) => return None }
    val mvRelation = DataSourceV2Relation.create(mvTable, anyRel.catalog, Some(mvIdent))
    def mvAttr(col: String): Option[Attribute] =
      mvRelation.output.find(a => resolver(a.name, col))
    val mvChild = remapOntoMv(residualCond, mvGroupCols, mvAttr, mvRelation, resolver)
      .getOrElse(return None)
    buildGroupingSetsPlan(agg, groupAttrs, metaAttrs, baseColFor, sets,
      mvAttr, mvChild, specByKey)
  }

  /** The shared Expand-rebuild tail of both grouping-sets candidates. */
  private def buildGroupingSetsPlan(
      agg: Aggregate, groupAttrs: Seq[Attribute], metaAttrs: Seq[Attribute],
      baseColFor: Seq[String], sets: Seq[(Seq[Boolean], Seq[Expression])],
      mvAttr: String => Option[Attribute], mvChild: LogicalPlan,
      specByKey: Map[String, String]): Option[LogicalPlan] = {
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
    val newExpand = org.apache.spark.sql.catalyst.plans.logical.Expand(
      newProjections, aggAttrs ++ groupAttrs ++ metaAttrs, mvChild)
    Some(Aggregate(agg.groupingExpressions, outputs, newExpand))
  }

  /** The aggregate's child as (optional WHERE above the joins, the
    * flattened ON conjuncts, the joined graft relations left-to-right)
    * — the N-way JOIN-MV query shape. At most one Filter, and only
    * ABOVE the joins: a filter under a join changes which rows joined,
    * which the materialized join did not see.
    */
  private def stripJoin(p: LogicalPlan): Option[
      (Option[Expression], Seq[Expression], Seq[DataSourceV2Relation])] =
    p match {
      case s: SubqueryAlias => stripJoin(s.child)
      case pr: Project if pr.projectList.forall(_.isInstanceOf[AttributeReference]) =>
        stripJoin(pr.child)
      case f: Filter =>
        flattenJoins(f.child).collect {
          case (rels, cs) if rels.length >= 2 => (Some(f.condition), cs, rels)
        }
      case other =>
        flattenJoins(other).collect {
          case (rels, cs) if rels.length >= 2 => (None, cs, rels)
        }
    }

  /** A tree of INNER joins over bare graft relations, flattened to
    * (relations left-to-right, all ON conjuncts) — any join SHAPE
    * (left-deep, right-deep, bushy) of the same tables with the same
    * condition set is the same join, which is how a star rollup MV
    * serves every ordering the optimizer or the user may write.
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

  /** JOIN-MV rewrite (the N-way star/snowflake rollup): an aggregate
    * over `fact INNER JOIN d1 ON c1 [JOIN d2 ON c2 …]` is served by a
    * fresh join MV when
    *  - the MV's {fact, dims} table set equals the query's relation
    *    set (any join order or tree shape — inner joins commute and
    *    associate),
    *  - EVERY side is fresh at the MV's recorded versions (the fact
    *    via source-keyed discovery, each dim checked here),
    *  - the ON conjunct SET is norm-equal to the MV's recorded
    *    conjunction's set (per-conjunct exact structural match —
    *    `a = b` does not serve `b = a`, the same
    *    no-implication-reasoning stance as predicate subsumption),
    *  - grouping/aggregates match as in the single-source path (exact
    *    or rollup-derivable), and any WHERE above the joins references
    *    MV group columns only (remapped onto the MV scan).
    */
  private def rewriteJoin(agg: Aggregate): Option[LogicalPlan] = {
    val (filterCond, queryConjuncts, rels) =
      stripJoin(agg.child).getOrElse(return None)
    if (rels.exists(r => GraftCatalog.isPinnedTable(r.table))) return None
    if (rels.exists(_.identifier.get.namespace().length != 1)) return None
    val resolver = conf.resolver
    val groupAttrs: Seq[Attribute] = agg.groupingExpressions.map {
      case a: Attribute => a
      case _ => return None
    }
    if (groupAttrs.map(_.name.toLowerCase).distinct.length != groupAttrs.length) return None
    val names = rels.map(r =>
      s"${r.identifier.get.namespace()(0)}.${r.identifier.get.name()}")
    if (names.distinct.length != names.length) return None // self-joins never MV-match
    val combinedOutput = rels.flatMap(_.output)
    // Candidates: any join MV whose FACT is one of the query's
    // relations and fresh (source-keyed discovery); table-set equality
    // below rejects everything else.
    val cands = rels.flatMap(r =>
        GraftCatalog.freshMvsFor(r.identifier.get.namespace()(0), r.identifier.get.name()))
      .filter(_._2.contains(GraftMvOps.JoinCondProp))
    cands.view.flatMap { case (mvIdent, props) =>
      tryJoinCandidate(agg, groupAttrs, filterCond, queryConjuncts, combinedOutput,
        rels, names, mvIdent, props, resolver)
    }.headOption.orElse {
      if (!conf.getConfString(StaleEnabledKey, "true").toBoolean) None
      else {
        // Stale candidates by the FACT's recorded version — plus
        // fact-FRESH join MVs, which a moved DIM leaves out of
        // staleMvsFor (the staleness is on the dim side, invisible to
        // fact-keyed discovery); the fresh matcher above already
        // declined them for the dim drift, and tryStaleJoinCandidate
        // re-derives per-side deltas itself.
        val staleCands = rels.flatMap { r =>
            val (rns, rtbl) = (r.identifier.get.namespace()(0), r.identifier.get.name())
            GraftCatalog.staleMvsFor(rns, rtbl) ++ GraftCatalog.freshMvsFor(rns, rtbl)
          }
          .filter(_._2.contains(GraftMvOps.JoinCondProp))
        staleCands.view.flatMap { case (mvIdent, _) =>
          tryStaleJoinCandidate(agg, groupAttrs, filterCond, queryConjuncts,
            combinedOutput, rels, names, mvIdent, resolver)
        }.headOption
      }
    }
  }

  /** MV-side join definition, defensively parsed and matched against
    * the query's relation set: Some((dims, recorded dim versions))
    * when the MV's {fact ∪ dims} equals `names` exactly (order-free),
    * None otherwise. Shared by the fresh and stale join candidates.
    */
  private def joinDefMatching(
      props: Map[String, String], names: Seq[String]): Option[(Seq[String], Seq[String])] = {
    val fact = props.getOrElse(GraftMvOps.SourceProp, return None)
    val dims = props.getOrElse(GraftMvOps.JoinSourceProp, return None)
      .split(',').toSeq.filter(_.nonEmpty)
    val vds = props.getOrElse(GraftMvOps.JoinVersionProp, return None)
      .split(',').toSeq.filter(_.nonEmpty)
    if (dims.isEmpty || vds.length != dims.length) return None
    val mvTables = fact +: dims
    if (mvTables.distinct.length != mvTables.length) return None
    if (mvTables.length != names.length || mvTables.toSet != names.toSet) return None
    Some((dims, vds))
  }

  /** STALE-TOLERANT rewrite for JOIN MVs — the delta-join
    * specialization of [[tryStaleCandidate]]: an aggregate over
    * `fact ⋈ dims` whose MV is behind by appends on AT MOST ONE side
    * is served as MV ⊎ re-aggregate(ΔS ⋈ others), where ΔS is a
    * SEGMENT-PINNED scan of exactly the segments appended to the moved
    * side after the MV's recorded version for it. The algebra: with
    * every other side data-identical since its recorded version,
    * ⋈(S⃗₁) = ⋈(S⃗₀ with Sₖ₀ ∪ ΔSₖ) = ⋈(S⃗₀) ∪ (ΔSₖ ⋈ others), and the
    * MV is precisely γ(⋈(S⃗₀)) — so the union re-merges exactly. TWO
    * moved sides expand into cross terms (ΔSᵢ ⋈ ΔSⱼ appears twice)
    * that only a refresh repairs → decline. At 100 TB this covers both
    * steady-state star-schema reads: fact micro-batch appends join one
    * batch against the dims (the fact table itself never scanned), and
    * dim-append staleness (late-arriving dimension members) joins the
    * dim delta against the fact — where the equi conjunct reaching the
    * fact scan as a pushed filter prunes it to matched segments.
    *
    * Gates beyond the single-source stale path:
    *  - EVERY side must be append-only since its recorded version
    *    (the single-source gate, via the same snapshot-chain walk),
    *    and at most ONE side's delta may be non-empty;
    *  - the ON conjunct set must match (order-free), and the delta
    *    branch re-binds the conjunction (and the MV's aggregate specs)
    *    against ΔS ⋈ others' own attribute set.
    */
  private def tryStaleJoinCandidate(
      agg: Aggregate, groupAttrs: Seq[Attribute],
      filterCond: Option[Expression], queryConjuncts: Seq[Expression],
      combinedOutput: Seq[Attribute],
      rels: Seq[DataSourceV2Relation], names: Seq[String],
      mvIdent: Identifier,
      resolver: (String, String) => Boolean): Option[LogicalPlan] = {
    // ONE atomic entry snapshot = pinned MV segments + matching props
    // (data and recorded versions cannot tear); the refresh-in-flight
    // flag closes the MERGE window exactly as in the single-source path.
    val (mvTable, props) = GraftCatalog.mvEntrySnapshot(mvIdent).getOrElse(return None)
    if (props.contains(GraftMvOps.RefreshingProp)) return None
    val fact = props.getOrElse(GraftMvOps.SourceProp, return None)
    val (dims, vds) = joinDefMatching(props, names).getOrElse(return None)
    val vf0 = props.get(GraftMvOps.VersionProp).collect {
      case v if v.nonEmpty && v.forall(_.isDigit) => v.toLong
    }.getOrElse(return None)
    // Per-side append-only deltas: side 0 = fact at vf0, then dims at
    // their recorded versions. At most ONE side may have data moved.
    val sideNames: Seq[String] = fact +: dims
    val sideV0s: Seq[Long] = vf0 +: vds.map { v =>
      if (v.isEmpty || !v.forall(_.isDigit)) return None
      v.toLong
    }
    def nsTbl(s: String): Option[(String, String)] = s.split('.') match {
      case Array(a, b) => Some((a, b))
      case _ => None
    }
    val sideDeltas: Seq[(Vector[GraftCatalog.Segment], Vector[GraftCatalog.EqDelete])] =
      sideNames.zip(sideV0s).map { case (s, v) =>
        val (tns, ttbl) = nsTbl(s).getOrElse(return None)
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
    // the same retraction algebra as the single-source path — the
    // killed tuples' joined aggregates subtract (sum/count/avg
    // components only), vanished groups drop by the liveness count.
    val newEqs: Vector[GraftCatalog.EqDelete] =
      movedOrdered.headOption.map(m => sideDeltas(m)._2).getOrElse(Vector.empty)
    if (newEqs.nonEmpty && !retractionAdmissible(agg, newEqs)) return None
    val mvCond = resolveSpecAgainst(
      props.getOrElse(GraftMvOps.JoinCondProp, return None), combinedOutput)
      .getOrElse(return None)
    if (conjuncts(mvCond).map(norm).toSet != queryConjuncts.map(norm).toSet) return None
    val mvGroupCols =
      props.getOrElse(GraftMvOps.GroupProp, return None).split(',').toSeq
    // FILTERED join MV under staleness: the MV branch applies only the
    // residual (the MV's conjuncts were applied pre-aggregation inside
    // it); the delta branch applies the query's FULL predicate — delta
    // rows are raw joined tuples, and the MV's conjuncts are part of
    // the query's own WHERE by the subsumption check.
    val residualCond: Option[Expression] =
      residualAfterMvFilterOn(props, filterCond, combinedOutput).getOrElse(return None)
    if (!admissibleResidual(residualCond, mvGroupCols, resolver)) return None
    if (groupingMatch(groupAttrs, mvGroupCols, resolver).isEmpty) return None
    val aggsProp = props.getOrElse(GraftMvOps.AggsProp, return None)
    val specs = bindSpecs(aggsProp, combinedOutput).getOrElse(return None)
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
    val neededAggCols =
      (neededMergeCols(agg, mvGroupCols, specByKey, resolver).getOrElse(return None) ++
        liveCntCol ++ sumGuardCols).distinct
    val unionCols: Seq[String] = mvGroupCols ++ neededAggCols

    // MV branch: pinned entry-snapshot scan, query WHERE (group-column
    // references only, per admissibleResidual) remapped onto MV columns.
    val anyCatalog = rels.head.catalog
    val mvRelation =
      DataSourceV2Relation.create(mvTable, anyCatalog, Some(mvIdent))
    def mvAttr(col: String): Option[Attribute] =
      mvRelation.output.find(a => resolver(a.name, col))
    val mvChild = remapOntoMv(residualCond, mvGroupCols, mvAttr, mvRelation, resolver)
      .getOrElse(return None)
    val mvPart = Project(unionCols.map(c => mvAttr(c).getOrElse(return None)), mvChild)

    def sideIdentOf(i: Int): Option[Identifier] =
      nsTbl(sideNames(i)).map { case (ns, tbl) => Identifier.of(Array(ns), tbl) }
    val combined: LogicalPlan =
      if (movedSides.isEmpty) mvPart // metadata-only drift on every side
      else {
        // Branch builder shared by the delta and retraction parts: a
        // pinned scan of the moved side joined against the OTHER
        // sides (condition-free Inner joins under ONE Filter holding
        // the conjunction: predicate pushdown turns each equi conjunct
        // into its join condition before the cartesian check runs —
        // the same conjunction form create/refresh plan through; for a
        // moved DIM the equi conjunct also reaches the FACT scan as a
        // pushed join-side filter, zone-map-pruning it to matched
        // segments), the query's FULL predicate, aggregates optionally
        // NEGATED for the retraction branch.
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
          val cond = resolveSpecAgainst(props(GraftMvOps.JoinCondProp), outAll)
            .getOrElse(return None)
          val joined: LogicalPlan = others.foldLeft(sideRel: LogicalPlan)(
            (l, r) => Join(l, r, Inner, None, JoinHint.NONE))
          var child: LogicalPlan = Filter(cond, joined)
          extraPred.foreach { f =>
            child = Filter(f(sideRel.output).getOrElse(return None), child)
          }
          filterCond.foreach { c =>
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
        // cross term).
        val m = movedOrdered.head
        val mIdent = sideIdentOf(m).getOrElse(return None)
        val otherRels: Seq[DataSourceV2Relation] =
          sideNames.zipWithIndex.collect {
            case (n, i) if i != m => rels(names.indexOf(n))
          }
        val (segs, _) = sideDeltas(m)
        val deltaPart: Option[LogicalPlan] =
          if (segs.isEmpty) None
          else joinPart(mIdent,
            GraftCatalog.segmentPinnedTable(mIdent, segs, newEqs).getOrElse(return None),
            otherRels, None, negate = false).orElse(return None)
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
              othersFresh, Some(eqKillPredicate(newEqs, resolver)), negate = true)
              .orElse(return None)
          }
        // Second moved side's term (append-only by the gate above):
        // Δm2 ⋈ m@v0 (pinned — so tuples ΔA⋈ΔB, already counted by the
        // first term, never reappear) ⋈ fresh copies of the unmoved
        // sides. All relations here are freshly minted: the query's
        // ExprIds were spent by the first delta branch.
        val delta2Part: Option[LogicalPlan] = movedOrdered.drop(1).headOption.map { m2 =>
          val m2Ident = sideIdentOf(m2).getOrElse(return None)
          val s0m = GraftCatalog.snapshotByVersion(mIdent, sideV0s(m))
            .getOrElse(return None)
          val mV0Rel = DataSourceV2Relation.create(
            GraftCatalog.segmentPinnedTable(mIdent, s0m.segments, s0m.eqDeletes)
              .getOrElse(return None),
            anyCatalog, Some(mIdent))
          val othersFresh2: Seq[DataSourceV2Relation] =
            sideNames.zipWithIndex.collect {
              case (n, i) if i != m && i != m2 =>
                val r = rels(names.indexOf(n))
                DataSourceV2Relation.create(r.table, r.catalog, r.identifier)
            }
          joinPart(m2Ident,
            GraftCatalog.segmentPinnedTable(m2Ident, sideDeltas(m2)._1, Vector.empty)
              .getOrElse(return None),
            mV0Rel +: othersFresh2, None, negate = false).getOrElse(return None)
        }
        val branches: Seq[LogicalPlan] =
          mvPart +: (deltaPart ++ killedPart ++ delta2Part).toSeq
        if (branches.exists(_.output.map(_.dataType) != mvPart.output.map(_.dataType)))
          return None
        if (branches.length == 1) mvPart else Union(branches)
      }
    val merged =
      mergedAggregate(agg, groupAttrs, mvGroupCols, unionCols, specByKey, combined,
        resolver, guardDeadSums = sumGuardCols.nonEmpty)
        .getOrElse(return None)
    withLiveness(merged, liveCntCol, combined, unionCols)
  }

  private def tryJoinCandidate(
      agg: Aggregate, groupAttrs: Seq[Attribute],
      filterCond: Option[Expression], queryConjuncts: Seq[Expression],
      combinedOutput: Seq[Attribute],
      rels: Seq[DataSourceV2Relation], names: Seq[String],
      mvIdent: Identifier, props: Map[String, String],
      resolver: (String, String) => Boolean): Option[LogicalPlan] = {
    // Defensive prop reads (the refresh path's discipline): a join MV
    // with hand-patched or cleared props must DECLINE the rewrite, not
    // throw from inside the analyzer rule (which would fail the user's
    // query).
    val fact = props.getOrElse(GraftMvOps.SourceProp, return None)
    val (dims, vds) = joinDefMatching(props, names).getOrElse(return None)
    // The discovering relation must be the FACT (freshMvsFor keyed the
    // MV by its SourceProp and proved THAT side fresh); a dim-keyed
    // discovery of the same MV would skip the fact freshness check.
    if (!names.contains(fact)) return None
    if (!GraftCatalog.currentVersion(
        fact.split('.')(0), fact.split('.')(1))
      .map(_.toString).contains(props.getOrElse(GraftMvOps.VersionProp, return None)))
      return None
    // Every dim fresh at its recorded version.
    dims.zip(vds).foreach { case (d, v) =>
      val (dns, dtbl) = d.split('.') match {
        case Array(a, b) => (a, b)
        case _ => return None
      }
      if (!GraftCatalog.currentVersion(dns, dtbl).map(_.toString).contains(v))
        return None
    }
    // ON conjunct set: per-conjunct exact structural match, order-free.
    val mvCond = resolveSpecAgainst(
      props.getOrElse(GraftMvOps.JoinCondProp, return None), combinedOutput)
      .getOrElse(return None)
    if (conjuncts(mvCond).map(norm).toSet != queryConjuncts.map(norm).toSet) return None
    val mvGroupCols =
      props.getOrElse(GraftMvOps.GroupProp, return None).split(',').toSeq
    // FILTERED join MV: same subsumption gate as the single-source
    // path, the MV's WHERE bound against the joined output (it may
    // reference any side); matched conjuncts drop as already applied
    // inside the MV, the residual continues into admissibility.
    val residualCond: Option[Expression] =
      residualAfterMvFilterOn(props, filterCond, combinedOutput).getOrElse(return None)
    if (!admissibleResidual(residualCond, mvGroupCols, resolver)) return None
    val exact = groupingMatch(groupAttrs, mvGroupCols, resolver).getOrElse(return None)
    val specByKey = bindSpecs(props.getOrElse(GraftMvOps.AggsProp, return None), combinedOutput)
      .getOrElse(return None).map(t => t._1 -> t._2).toMap
    val anyRel = rels.head
    val catalog = anyRel.catalog.get.asInstanceOf[TableCatalog]
    val mvTable =
      try catalog.loadTable(mvIdent)
      catch { case NonFatal(_) => return None }
    val mvRelation = DataSourceV2Relation.create(mvTable, anyRel.catalog, Some(mvIdent))
    def mvAttr(col: String): Option[Attribute] =
      mvRelation.output.find(a => resolver(a.name, col))
    def groupColFor(a: Attribute): Option[String] = mvGroupCols.find(resolver(_, a.name))
    val mvChild = remapOntoMv(residualCond, mvGroupCols, mvAttr, mvRelation, resolver)
      .getOrElse(return None)
    serveFromMv(agg, groupAttrs, exact, groupColFor, mvAttr, specByKey, mvChild)
  }

  private def tryCandidate(
      agg: Aggregate, relation: DataSourceV2Relation, groupAttrs: Seq[Attribute],
      filterCond: Option[Expression],
      mvIdent: Identifier, props: Map[String, String],
      resolver: (String, String) => Boolean): Option[LogicalPlan] = {
    // A JOIN MV pre-aggregates fact ⋈ dim — it can never serve an
    // aggregate over the bare fact (the join multiplies/filters rows);
    // only the join-shaped matcher may consider it.
    if (props.contains(GraftMvOps.JoinCondProp)) return None
    val mvGroupCols = props(GraftMvOps.GroupProp).split(',').toSeq
    if (groupAttrs.map(_.name.toLowerCase).distinct.length != groupAttrs.length) return None
    // FILTERED MV (the MV was defined with a WHERE): the query can be
    // served only when its own WHERE SUBSUMES the MV's — structurally:
    // every MV-filter conjunct appears (norm-equal) among the query's
    // conjuncts, so rows(query) ⊆ rows(MV input). Matched conjuncts
    // were already applied pre-aggregation inside the MV and are
    // DROPPED; only the residual continues into the group-column
    // admissibility check below. No WHERE on the query, or a WHERE
    // missing any MV conjunct → the MV's input is a strict subset of
    // what the query needs → no match. Exact-equality subsumption
    // only: `a > 5` does not serve `a > 6` (deliberate — implication
    // checking beyond norm-equality is where rewrites go wrong).
    val residualCond: Option[Expression] =
      residualAfterMvFilter(props, filterCond, relation).getOrElse(return None)
    if (!admissibleResidual(residualCond, mvGroupCols, resolver)) return None
    val exact = groupingMatch(groupAttrs, mvGroupCols, resolver).getOrElse(return None)
    // Bind each MV aggregate spec against the SAME source relation and
    // key it by normalized canonical SQL. Any unresolvable spec kills
    // the candidate (never rewrite on a guess).
    val specByKey = bindSpecs(props(GraftMvOps.AggsProp), relation.output)
      .getOrElse(return None).map(t => t._1 -> t._2).toMap

    // Load the MV relation up front; both paths bind to its output.
    val catalog = relation.catalog.get.asInstanceOf[TableCatalog]
    val mvTable =
      try catalog.loadTable(mvIdent)
      catch { case NonFatal(_) => return None }
    val mvRelation = DataSourceV2Relation.create(mvTable, relation.catalog, Some(mvIdent))
    def mvAttr(col: String): Option[Attribute] =
      mvRelation.output.find(a => resolver(a.name, col))
    def groupColFor(a: Attribute): Option[String] = mvGroupCols.find(resolver(_, a.name))

    // (MV-filter conjuncts never reach the remap — they were dropped as
    // already-applied inside the MV.)
    val mvChild = remapOntoMv(residualCond, mvGroupCols, mvAttr, mvRelation, resolver)
      .getOrElse(return None)
    serveFromMv(agg, groupAttrs, exact, groupColFor, mvAttr, specByKey, mvChild)
  }

  /** Residual-WHERE admissibility, shared by all three candidate paths:
    * deterministic, subquery-free, and referencing MV GROUP columns
    * exclusively (the MV's rows partition exactly by those, so slicing
    * before or after pre-aggregation is the same set of input rows).
    */
  private def admissibleResidual(
      cond: Option[Expression], mvGroupCols: Seq[String],
      resolver: (String, String) => Boolean): Boolean = cond.forall { c =>
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
      groupAttrs: Seq[Attribute], mvGroupCols: Seq[String],
      resolver: (String, String) => Boolean): Option[Boolean] = {
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
      aggsProp: String, output: Seq[Attribute]): Option[Seq[(String, String, String)]] = {
    val specs = GraftMvOps.splitTop(aggsProp).map { item =>
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
      mvAttr: String => Option[Attribute], mvRelation: LogicalPlan,
      resolver: (String, String) => Boolean): Option[LogicalPlan] = cond match {
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

  /** Build the serving plan over a fresh MV — shared by the
    * single-source and JOIN candidates: EXACT grouping projects the MV
    * columns; ROLLUP re-aggregates them with derivable shapes only
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

  /** STALE-TOLERANT rewrite (delta-union): an MV whose source has only
    * APPENDED segments since the MV's recorded version v0 can still
    * answer — as MV ⊎ re-aggregate(delta), where the delta scan reads
    * EXACTLY the segments appended after v0 (a pinned scan; zone maps,
    * blooms and column pruning apply). This is the incremental-query
    * shape the freshness gate alone forfeits: at 100 TB the MV covers
    * years of history and the delta is one day's appends, so the query
    * costs MV-size + delta-size instead of a full base scan — WITHOUT
    * requiring the user to refresh first.
    *
    * Extra gates beyond the fresh path:
    *  - every commit v0..current must be append-only (no segment
    *    removed, no deletion vector changed, schema identical) and the
    *    snapshot chain fully retained — else decline (base scan);
    *  - every QUERY aggregate must be merge-derivable (sum/count/min/
    *    max, no DISTINCT/FILTER): the MV's partial and the delta's
    *    partial are combined by a final merge aggregate, which rolls up
    *    count via sum-of-counts exactly like the rollup path. This
    *    holds even for an exact grouping match — a group can live in
    *    both branches;
    *  - consistency protocol against a concurrent refresh: ONE atomic
    *    entry snapshot provides both the pinned MV segments and the
    *    props (immutable `TableEntry` — data and recorded version
    *    cannot tear), and the refresh-in-flight flag
    *    ([[GraftMvOps.RefreshingProp]], set before the refresh MERGE,
    *    cleared atomically with its version bump) closes the
    *    data@v1/props@v0 window. The delta is then computed from the
    *    snapshot's v0 to the source's current version — the answer is
    *    the source at that serialization point regardless of what the
    *    live MV entry does meanwhile.
    */
  private def tryStaleCandidate(
      agg: Aggregate, relation: DataSourceV2Relation, groupAttrs: Seq[Attribute],
      filterCond: Option[Expression], mvIdent: Identifier,
      resolver: (String, String) => Boolean): Option[LogicalPlan] = {
    val (mvTable, props) = GraftCatalog.mvEntrySnapshot(mvIdent).getOrElse(return None)
    if (props.contains(GraftMvOps.RefreshingProp)) return None
    // Join MVs decline the stale path: the appended-delta algebra is
    // single-source; a fact delta must be re-JOINED against the dim
    // (and a dim delta re-joined against the whole fact), which is the
    // full-refresh work this path exists to avoid.
    if (props.contains(GraftMvOps.JoinCondProp)) return None
    val v0 = props.get(GraftMvOps.VersionProp) match {
      case Some(s) if s.nonEmpty && s.forall(_.isDigit) => s.toLong
      case _ => return None
    }
    val mvGroupCols =
      props.get(GraftMvOps.GroupProp).map(_.split(',').toSeq).getOrElse(return None)
    if (groupAttrs.map(_.name.toLowerCase).distinct.length != groupAttrs.length) return None
    // FILTERED MVs: same subsumption gate as the fresh path. The MV
    // branch applies only the RESIDUAL (the MV's conjuncts were applied
    // pre-aggregation inside it); the DELTA branch applies the query's
    // FULL predicate — delta rows are raw source rows, so the MV-filter
    // conjuncts must be re-applied there, and they are exactly part of
    // the query's own WHERE by the subsumption check.
    val residualCond: Option[Expression] =
      residualAfterMvFilter(props, filterCond, relation).getOrElse(return None)
    if (!admissibleResidual(residualCond, mvGroupCols, resolver)) return None
    // Exact or coarser grouping both funnel into the one merge
    // aggregate; finer grouping cannot be served.
    if (groupingMatch(groupAttrs, mvGroupCols, resolver).isEmpty) return None

    val srcIdent = relation.identifier.get
    // Pure-append staleness first (supports min/max); else the
    // EQUALITY-DELETE-tolerant walk (the MoR-upsert shape): appends
    // plus registered deletes, served below with a RETRACTION branch.
    val (delta, newEqs) = GraftCatalog.appendOnlyDeltaSince(
        srcIdent.namespace()(0), srcIdent.name(), v0) match {
      case Some(d) => (d, Vector.empty[GraftCatalog.EqDelete])
      case None => GraftCatalog.appendOnlyEqDeltaSince(
        srcIdent.namespace()(0), srcIdent.name(), v0).getOrElse(return None)
    }
    // Retraction gates: negation is exact only for SUM/COUNT (min/max
    // cannot un-see a killed extremum), the kill predicate must be an
    // exact single-column IN (multi-column tuples would need OR-of-
    // conjunctions — decline), and the key lists must stay
    // metadata-sized. Vanished groups are filtered by a liveness count
    // below, so the MV must expose a plain count(*) column.
    if (newEqs.nonEmpty && !retractionAdmissible(agg, newEqs)) return None

    // Bind the MV's aggregate specs against the source relation and key
    // them like the fresh path; each spec's raw text is remembered so
    // it can be RE-bound against the delta relation below.
    val aggsProp = props.getOrElse(GraftMvOps.AggsProp, return None)
    val specs = bindSpecs(aggsProp, relation.output).getOrElse(return None)
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
    val neededAggCols: Seq[String] =
      (neededMergeCols(agg, mvGroupCols, specByKey, resolver).getOrElse(return None) ++
        liveCntCol ++ sumGuardCols).distinct
    val unionCols: Seq[String] = mvGroupCols ++ neededAggCols

    // MV branch: pinned scan of the snapshot's segments, WHERE remapped
    // onto MV columns, projected to the union shape.
    val mvRelation = DataSourceV2Relation.create(mvTable, relation.catalog, Some(mvIdent))
    def mvAttr(col: String): Option[Attribute] =
      mvRelation.output.find(a => resolver(a.name, col))
    val mvChild = remapOntoMv(residualCond, mvGroupCols, mvAttr, mvRelation, resolver)
      .getOrElse(return None)
    val mvPart = Project(unionCols.map(c => mvAttr(c).getOrElse(return None)), mvChild)

    // Branch builder shared by the delta and retraction parts: a
    // pinned relation, the query's FULL predicate remapped (delta and
    // killed rows are raw source rows — for a filtered MV the MV's
    // conjuncts are part of it by subsumption), an extra branch
    // predicate (the kill-key IN), specs re-bound, aggregates
    // optionally NEGATED (the retraction branch contributes
    // -count/-sum, exact for the sum/count-only gate above).
    def sidePart(
        table: org.apache.spark.sql.connector.catalog.Table,
        extraPred: Option[Seq[Attribute] => Option[Expression]],
        negate: Boolean): Option[LogicalPlan] = {
      val rel = DataSourceV2Relation.create(table, relation.catalog, Some(srcIdent))
      def at(col: String): Option[Attribute] =
        rel.output.find(a => resolver(a.name, col))
      var child: LogicalPlan = rel
      extraPred.foreach { f =>
        child = Filter(f(rel.output).getOrElse(return None), child)
      }
      filterCond.foreach { c =>
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
        resolveSpecAgainst(itemByName(n), rel.output) match {
          case Some(al: Alias) if !negate => al
          case Some(al: Alias) =>
            Alias(org.apache.spark.sql.catalyst.expressions.UnaryMinus(al.child), n)()
          case _ => return None
        }
      }
      Some(Aggregate(groups, groups ++ aggs, child))
    }

    // Delta branch: the appended segments as a pinned scan of the
    // SOURCE (with the in-range deletes applied, so rows a LATER epoch
    // killed never enter), aggregated to the same shape by the MV's
    // own specs. Retraction branch: rows the in-range deletes killed
    // out of the v0 snapshot (pinned v0 segments + v0's own deletes,
    // restricted to the new deletes' keys), aggregated NEGATED.
    val deltaPart: Option[LogicalPlan] =
      if (delta.isEmpty) None
      else sidePart(
        GraftCatalog.segmentPinnedTable(srcIdent, delta, newEqs).getOrElse(return None),
        None, negate = false).orElse(return None)
    val killedPart: Option[LogicalPlan] =
      if (newEqs.isEmpty) None
      else {
        val s0 = GraftCatalog.snapshotByVersion(srcIdent, v0).getOrElse(return None)
        sidePart(
          GraftCatalog.segmentPinnedTable(srcIdent, s0.segments, s0.eqDeletes)
            .getOrElse(return None),
          Some(eqKillPredicate(newEqs, resolver)), negate = true).orElse(return None)
      }
    val branches: Seq[LogicalPlan] = mvPart +: (deltaPart ++ killedPart).toSeq
    // Union is positional: all branches emit unionCols in order and
    // must agree on types exactly (no silent coercion).
    if (branches.exists(_.output.map(_.dataType) != mvPart.output.map(_.dataType)))
      return None
    val combined: LogicalPlan =
      if (branches.length == 1) mvPart else Union(branches)
    val merged =
      mergedAggregate(agg, groupAttrs, mvGroupCols, unionCols, specByKey, combined,
        resolver, guardDeadSums = sumGuardCols.nonEmpty)
        .getOrElse(return None)
    withLiveness(merged, liveCntCol, combined, unionCols)
  }

  /** Exact kill predicate for the retraction branch: the rows of a
    * pinned snapshot a set of in-range equality deletes killed —
    * single-column keys only (gated by callers), so a plain IN over
    * the union of each key column's values is EXACT tuple membership.
    * The returned builder binds against the branch's own output.
    */
  private def eqKillPredicate(
      newEqs: Seq[GraftCatalog.EqDelete],
      resolver: (String, String) => Boolean): Seq[Attribute] => Option[Expression] = {
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

  /** Retraction gates shared by the single-source and join stale
    * paths: negation is exact only for SUM/COUNT (and AVG, which
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
      agg: Aggregate, mvGroupCols: Seq[String], specByKey: Map[String, String],
      resolver: (String, String) => Boolean): Option[Seq[String]] = {
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
    * parent operators are oblivious — shared by the single-source and
    * join stale-delta paths.
    */
  private def mergedAggregate(
      agg: Aggregate, groupAttrs: Seq[Attribute], mvGroupCols: Seq[String],
      unionCols: Seq[String], specByKey: Map[String, String],
      combined: LogicalPlan,
      resolver: (String, String) => Boolean,
      guardDeadSums: Boolean): Option[LogicalPlan] = {
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
    * dropping the MV's own filter conjuncts. `None` = the candidate is
    * inadmissible (no query WHERE, a missing MV conjunct, or a
    * non-deterministic/unresolvable MV filter); `Some(residual)` = the
    * conjuncts still to apply on the MV's rows (possibly none). For an
    * unfiltered MV the query predicate passes through whole.
    */
  private def residualAfterMvFilter(
      props: Map[String, String], filterCond: Option[Expression],
      relation: DataSourceV2Relation): Option[Option[Expression]] =
    residualAfterMvFilterOn(props, filterCond, relation.output)

  /** Same subsumption against an explicit attribute set — join-MV
    * candidates bind the MV's WHERE against the union of all joined
    * sides' outputs (a filtered join MV's predicate may reference any
    * side).
    */
  private def residualAfterMvFilterOn(
      props: Map[String, String], filterCond: Option[Expression],
      output: Seq[Attribute]): Option[Option[Expression]] =
    props.get(GraftMvOps.FilterProp).map(_.trim).filter(_.nonEmpty) match {
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

  /** Minimal spec binder against an explicit attribute set (a source
    * relation's output, or on the join-MV path the UNION of both sides'
    * outputs): column references resolve against `output`, functions
    * through the session registry (aggregates wrapped exactly as the
    * analyzer would), `count(*)` → `count(1)`, timezone-needing casts
    * stamped with the session zone. Anything it cannot bind returns
    * None — the rewrite then simply does not fire.
    */
  private def resolveSpecAgainst(spec: String, output: Seq[Attribute]): Option[Expression] = {
    val parsed =
      try session.sessionState.sqlParser.parseExpression(spec)
      catch { case NonFatal(_) => return None }
    val resolver = conf.resolver
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
