package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.engine.ParquetSchema
import graft.operators.Projections

/** Swaps `Aggregate(scan)` for a re-aggregation over a registered
  * PROJECTION when the query's grouping is a subset of the projection's
  * key and every aggregate is covered — the Spark twin of the reference's
  * `optimizeUseAggregateProjection.cpp`.
  *
  * Covered rewrites (all exact by associativity):
  *   `sum(c)` → `sum(__sum_c)`, `count(*)`/`count(1)` → `sum(__cnt)`,
  *   `min(c)` → `min(__min_c)`, `max(c)` → `max(__max_c)`,
  *   `avg(c)` → `sum(__sum_c) / sum(__cnt)` is NOT rewritten (Average
  *   carries its own division semantics) — queries with avg, filters,
  *   distinct aggregates, or FILTER clauses are left untouched.
  */
case class ProjectionRewrite(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case agg @ Aggregate(groupExprs, resultExprs, child, _) =>
      rewrite(groupExprs, resultExprs, child).getOrElse(agg)
    // normal (sort-order) projections — optimizeUseNormalProjection.cpp:
    // a Sort whose keys prefix a projection's ORDER BY reads the
    // projection's narrower, sort-clustered copy instead of the base scan
    case sort @ Sort(order, true, child, _) =>
      val keys = order.collect { case SortOrder(a: AttributeReference, _, _, _) => a.name }
      if (keys.length == order.length)
        substituteNormal(child, prefix = keys).map(n => sort.copy(child = n))
          .getOrElse(sort)
      else sort
    // a filter on the projection's leading sort column prunes at file
    // level on the projection's range-partitioned layout (with or
    // without a column-pruning Project on top)
    case pr @ Project(list, _: Filter) if list.forall(_.isInstanceOf[AttributeReference]) =>
      substituteNormal(pr, prefix = Nil).getOrElse(pr)
    case f: Filter =>
      substituteNormal(f, prefix = Nil).getOrElse(f)
  }

  /** Unwrap pass-through Projects and Filters (column pruning interleaves
    * them by the time optimizer rules run) down to the relation,
    * accumulating the conjunction of filter conditions.
    */
  private def unwrap(p: LogicalPlan): Option[(LogicalRelation, Option[Expression])] =
    p match {
      case lr: LogicalRelation => Some((lr, None))
      case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) =>
        unwrap(c)
      case Filter(cond, c) =>
        unwrap(c).map { case (lr, f) =>
          (lr, Some(f.map(And(_, cond)).getOrElse(cond)))
        }
      case _ => None
    }

  private def rewrite(
      groupExprs: Seq[Expression],
      resultExprs: Seq[NamedExpression], child: LogicalPlan): Option[LogicalPlan] = {
    // a WHERE over projection-key columns only is applied to the
    // projection's group rows (reference: projections serve filtered
    // queries when the predicate uses projection columns)
    val (rel, filterCond) = unwrap(child).getOrElse(return None)
    val path = rel.relation match {
      case fs: HadoopFsRelation =>
        fs.location.rootPaths.headOption.map(_.toString).getOrElse(return None)
      case _ => return None
    }
    // grouping must be plain columns
    val groupNames = groupExprs.map {
      case a: AttributeReference => a.name
      case _ => return None
    }
    // filter may only reference projection-key columns
    val filterColNames = filterCond.toSeq.flatMap(_.collect {
      case a: AttributeReference => a.name
    })
    val candidates = Projections.forSource(path)
      .filter(e => groupNames.forall(e.groupCols.contains) &&
        filterColNames.forall(e.groupCols.contains))
    if (candidates.isEmpty) return None

    // every aggregate must be coverable; collect needed columns per kind
    def covered(e: Projections.ProjEntry): Boolean = resultExprs.forall {
      case a: AttributeReference => groupNames.contains(a.name)
      case al: Alias => al.child match {
        case a: AttributeReference => groupNames.contains(a.name)
        case AggregateExpression(f, Complete, false, None, _) => f match {
          case Sum(a: AttributeReference, _) => e.sumCols.contains(a.name)
          case Min(a: AttributeReference)    => e.minCols.contains(a.name)
          case Max(a: AttributeReference)    => e.maxCols.contains(a.name)
          case Count(Seq(Literal(_, _)))     => true
          case _ => false
        }
        case _ => false
      }
      case _ => false
    }
    val entry = candidates.find(covered).getOrElse(return None)

    val projScan = ParquetSchema.load(spark, entry.projDir).queryExecution.analyzed
    val byName = projScan.output.map(a => a.name -> a).toMap
    def proj(name: String): Attribute = byName(name)

    def rewriteAgg(f: AggregateFunction): Expression = f match {
      case Sum(a: AttributeReference, mode) =>
        AggregateExpression(Sum(proj(Projections.sumColName(a.name)), mode),
          Complete, isDistinct = false)
      case Min(a: AttributeReference) =>
        AggregateExpression(Min(proj(Projections.minColName(a.name))),
          Complete, isDistinct = false)
      case Max(a: AttributeReference) =>
        AggregateExpression(Max(proj(Projections.maxColName(a.name))),
          Complete, isDistinct = false)
      case Count(_) =>
        AggregateExpression(Sum(proj("__cnt")), Complete, isDistinct = false)
      case other => sys.error(s"unreachable: $other")
    }

    val newResult = resultExprs.map {
      case a: AttributeReference =>
        Alias(proj(a.name), a.name)(exprId = a.exprId)
      case al: Alias => al.child match {
        case a: AttributeReference =>
          Alias(proj(a.name), al.name)(exprId = al.exprId)
        case ae @ AggregateExpression(f, _, _, _, _) =>
          Alias(rewriteAgg(f), al.name)(exprId = al.exprId)
        case other => return None
      }
      case _ => return None
    }
    val newGrouping = groupNames.map(proj)
    val newChild = filterCond match {
      case Some(cond) =>
        val remapped = cond.transformUp {
          case a: AttributeReference if byName.contains(a.name) => proj(a.name)
        }
        Filter(remapped, projScan)
      case None => projScan
    }
    logInfo(s"ProjectionRewrite: GROUP BY ${groupNames.mkString(",")} over $path " +
      s"→ projection ${entry.name} (${entry.nGroups} groups" +
      filterCond.map(_ => ", filtered").getOrElse("") + ")")
    Some(Aggregate(newGrouping, newResult, newChild))
  }

  /** Substitute a registered normal projection for a scan-shaped subtree
    * (Project/Filter over the relation) when every referenced column is
    * carried by the projection AND the access pattern hits its sort key —
    * either `prefix` (an enclosing Sort's keys) prefixes the projection's
    * ORDER BY, or the subtree's filter touches its leading sort column.
    * The substituted rows are identical (a normal projection is a full
    * copy), so correctness needs no other condition; the conditions above
    * are the profit heuristic, as in the reference.
    */
  private def substituteNormal(p: LogicalPlan, prefix: Seq[String]): Option[LogicalPlan] = {
    val (rel, filterCond) = unwrap(p).getOrElse(return None)
    val path = rel.relation match {
      case fs: HadoopFsRelation =>
        fs.location.rootPaths.headOption.map(_.toString).getOrElse(return None)
      case _ => return None
    }
    val neededNames = p.output.map(_.name) ++
      filterCond.toSeq.flatMap(_.collect { case a: AttributeReference => a.name })
    val filterNames = filterCond.toSeq
      .flatMap(_.collect { case a: AttributeReference => a.name }).toSet
    val entry = Projections.normalForSource(path)
      .filter(e => neededNames.forall(e.cols.contains))
      .filter { e =>
        if (prefix.nonEmpty) e.sortCols.take(prefix.length) == prefix
        else filterNames.contains(e.sortCols.head)
      }
      .sortBy(_.cols.length) // narrowest covering projection wins
      .headOption.getOrElse(return None)

    val projScan = ParquetSchema.load(spark, entry.projDir).queryExecution.analyzed
    val byName = projScan.output.map(a => a.name -> a).toMap
    if (!neededNames.forall(byName.contains)) return None
    val filtered = filterCond match {
      case Some(cond) =>
        val remapped = cond.transformUp {
          case a: AttributeReference if byName.contains(a.name) => byName(a.name)
        }
        Filter(remapped, projScan)
      case None => projScan
    }
    // preserve the original output attribute ids so enclosing operators
    // (the Sort's ordering expressions, parent projections) still resolve
    val aliases = p.output.map(a =>
      Alias(byName(a.name), a.name)(exprId = a.exprId))
    logInfo(s"ProjectionRewrite: scan of $path → normal projection " +
      s"${entry.name} (ORDER BY ${entry.sortCols.mkString(",")})")
    Some(Project(aliases, filtered))
  }
}
