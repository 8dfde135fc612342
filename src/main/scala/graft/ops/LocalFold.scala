package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BoundReference,
  Expression, GenericInternalRow, IntegerLiteral, JoinedRow, NamedExpression,
  Predicate, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.{Inner, JoinType, LeftAnti,
  LeftOuter, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit,
  Join, LocalRelation, LogicalPlan, Union}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.UnsafeRowUtils
import org.apache.spark.sql.graft.SqlInternals.normalizeFloats

/** The driver arm of a plan over local relations: a subplan whose inputs
  * are all non-streaming `LocalRelation`s is evaluated on the driver at
  * optimization time and becomes one `LocalRelation`, so executing it runs
  * no Spark job and ships no rows inside tasks.
  *
  * It folds equi-joins (inner, left outer, left semi, left anti, with any
  * deterministic residual condition), `Union`, and group-by-only
  * `Aggregate` (`DISTINCT`); Spark's own `ConvertToLocalRelation` folds
  * the `Project`, `Filter` and `Limit` between them. Join keys compare as
  * `UnsafeRow`s, as in Spark's `HashedRelation`: a key with a null never
  * matches, and float keys arrive normalized (`-0.0` is `0.0`, one `NaN`).
  * Join and grouping keys must compare as their bytes: a collated string
  * key (`UTF8_LCASE`) stays Spark's. Nothing else folds: no general
  * aggregate, window or sort.
  *
  * The row budget is the session's ([[Bounded.rows]]): a fold whose
  * result would pass it, or an inner or outer join whose key matches do,
  * is abandoned and that subtree left to Spark, and
  * a budget of 0 disables the rule, so that arm runs Spark's own plan.
  */
object LocalFold extends Rule[LogicalPlan] {

  /** Adds the rule to the session's extra optimizations, once. */
  def install(spark: SparkSession): Unit = synchronized {
    val x = spark.experimental
    if (!x.extraOptimizations.contains(LocalFold))
      x.extraOptimizations = x.extraOptimizations :+ LocalFold
  }

  def apply(plan: LogicalPlan): LogicalPlan = {
    val budget = Bounded.rows(SparkSession.active)
    if (budget <= 0) plan
    else plan.transformUp {
      case j @ ExtractEquiJoinKeys(jt, lk, rk, cond, _,
          l: LocalRelation, r: LocalRelation, _)
          if local(l, r) && joins(jt) && evaluable(lk ++ rk ++ cond) &&
            binaryStable(lk) =>
        join(j, jt, lk, rk, cond, l, r, budget).getOrElse(j)
      case u @ Union(children, _, _)
          if children.forall { case c: LocalRelation => local(c); case _ => false } =>
        val data = children.flatMap(_.asInstanceOf[LocalRelation].data)
        if (data.size > budget) u else LocalRelation(u.output, data)
      case a @ Aggregate(groups, aggs, c: LocalRelation, _)
          if local(c) && groups.nonEmpty && evaluable(groups ++ aggs) &&
            binaryStable(groups) &&
            !aggs.exists(_.exists(_.isInstanceOf[AggregateExpression])) =>
        distinct(a, groups, aggs, c).getOrElse(a)
      // bottom-up, a Limit's LocalLimit folds first, and Spark's rule
      // matches the pair, not the GlobalLimit left over it
      case GlobalLimit(IntegerLiteral(n), c: LocalRelation) =>
        c.copy(data = c.data.take(n))
      case p if p.children.exists(_.isInstanceOf[LocalRelation]) =>
        ConvertToLocalRelation(p)
    }
  }

  private val joins: Set[JoinType] = Set(Inner, LeftOuter, LeftSemi, LeftAnti)

  private def local(rs: LocalRelation*): Boolean = rs.forall(!_.isStreaming)

  /** Keys that compare as their bytes: not a string under a collation
    * such as `UTF8_LCASE`, where Spark matches and groups unequal bytes. */
  private def binaryStable(keys: Seq[Expression]): Boolean =
    keys.forall(k => UnsafeRowUtils.isBinaryStable(k.dataType))

  private def evaluable(es: Seq[Expression]): Boolean =
    es.forall(e => e.deterministic && !ConvertToLocalRelation.hasUnevaluableExpr(e))

  /** The hash join of `l` (probe) and `r` (build), or `None` past the
    * budget. An inner or outer join counts its key matches first, and
    * past the budget builds no row: those are its rows when no residual
    * drops one, and the pairs its residual tests when one does. */
  private def join(j: Join, jt: JoinType, lk: Seq[Expression],
      rk: Seq[Expression], cond: Option[Expression], l: LocalRelation,
      r: LocalRelation, budget: Int): Option[LocalRelation] = {
    val input = l.output ++ r.output
    val rKey = UnsafeProjection.create(rk.map(normalizeFloats), r.output)
    val table = mutable.HashMap.empty[UnsafeRow, mutable.ArrayBuffer[InternalRow]]
    r.data.foreach { row =>
      val k = rKey(row)
      if (!k.anyNull)
        table.getOrElseUpdate(k.copy(), mutable.ArrayBuffer.empty) += row
    }
    val lKey = UnsafeProjection.create(lk.map(normalizeFloats), l.output)
    val none = mutable.ArrayBuffer.empty[InternalRow]
    // each left row's key matches
    val candidates = l.data.map { row =>
      val k = lKey(row)
      if (k.anyNull) none else table.getOrElse(k, none)
    }
    val pairs = jt match {
      case Inner => candidates.iterator.map(_.size.toLong).sum
      case LeftOuter => candidates.iterator.map(_.size.max(1).toLong).sum
      case _ => 0L
    }
    if (pairs > budget) None
    else {
      val residual = cond.map { c =>
        val p = Predicate.create(c, input); p.initialize(0); p }
      val pair = new JoinedRow
      val nulls = new GenericInternalRow(r.output.length)
      // bound to the join's own output: a left outer join's right side is
      // nullable there
      val out = UnsafeProjection.create(j.output, j.output)
      val rows = mutable.ArrayBuffer.empty[InternalRow]
      def emit(row: InternalRow): Boolean = {
        rows += row
        rows.size <= budget
      }
      val fits = l.data.iterator.zip(candidates.iterator).forall { case (row, cs) =>
        val matches = cs.iterator.filter(m => residual.forall(_.eval(pair(row, m))))
        jt match {
          case LeftSemi => !matches.hasNext || emit(row)
          case LeftAnti => matches.hasNext || emit(row)
          case _ =>
            val any = matches.hasNext
            matches.forall(m => emit(out(pair(row, m)).copy())) &&
              (any || jt != LeftOuter || emit(out(pair(row, nulls)).copy()))
        }
      }
      if (fits) Some(LocalRelation(j.output, rows.toSeq)) else None
    }
  }

  /** The groups of `c` under `groups`, each projected through `aggs`
    * from its (normalized) grouping key; `None` when an output refers to
    * an input column outside the grouping keys. */
  private def distinct(a: Aggregate, groups: Seq[Expression],
      aggs: Seq[NamedExpression], c: LocalRelation): Option[LocalRelation] = {
    val bound: Seq[Expression] = aggs.map(_.transformDown {
      case e if groups.exists(_.semanticEquals(e)) =>
        val i = groups.indexWhere(_.semanticEquals(e))
        BoundReference(i, e.dataType, e.nullable)
    })
    if (bound.exists(_.exists(_.isInstanceOf[Attribute]))) None
    else {
      val key = UnsafeProjection.create(groups.map(normalizeFloats), c.output)
      val seen = mutable.LinkedHashSet.empty[UnsafeRow]
      c.data.foreach { row =>
        val k = key(row)
        if (!seen.contains(k)) seen += k.copy()
      }
      val out = UnsafeProjection.create(bound)
      Some(LocalRelation(a.output, seen.toSeq.map(out(_).copy())))
    }
  }
}
