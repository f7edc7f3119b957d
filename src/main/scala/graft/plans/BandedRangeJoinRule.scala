package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Optimizer rule: rewrite `|a.t − b.t| <= r` inner joins into the
  * banded equi-join shape.
  *
  * Spark plans a join whose only usable predicate is a range band as
  * BroadcastNestedLoopJoin — O(|A|·|B|), hopeless at scale; with a
  * coarse equi key (an event type) it is a hash join whose every key
  * holds a large share of both sides, quadratic within the key. But
  * the band IS an equi-join in disguise: bucket `t` into width-r bins,
  * expand the left side to (bin−1, bin, bin+1), and join on bin
  * equality next to any existing equi keys, with the original
  * predicate re-checked. Any pair within `r` differs by at most one
  * bin, so the rewrite is exact; the physical plan becomes an ordinary
  * shuffled hash/sort-merge join on (keys, bin).
  *
  * Fires only when: the join is INNER; a conjunct has the shape
  * `abs(l − r) <= lit` (or `<`, or flipped `>=`/`>`) with one side
  * referencing only the left plan and the other only the right; the
  * operands are integral (epoch micros / row numbers — exact bin
  * math); and the condition does not already equate the rule's own
  * bin attributes, so it never re-fires on its own output.
  *
  * Registered by [[GraftExtensions]] via `injectOptimizerRule`.
  */
object BandedRangeJoinRule extends Rule[LogicalPlan] {

  /** (leftTime, rightTime, radius) when `e` is a usable band conjunct. */
  private def asBand(
      e: Expression, left: LogicalPlan, right: LogicalPlan)
      : Option[(Expression, Expression, Long)] = {
    def integral(t: org.apache.spark.sql.types.DataType): Boolean = t match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType => true
      case _ => false
    }
    def split(a: Expression, b: Expression, r: Long) = {
      val (la, ra) = (a.references.subsetOf(left.outputSet),
        a.references.subsetOf(right.outputSet))
      val (lb, rb) = (b.references.subsetOf(left.outputSet),
        b.references.subsetOf(right.outputSet))
      if (la && rb && a.references.nonEmpty && b.references.nonEmpty)
        Some((a, b, r))
      else if (lb && ra && a.references.nonEmpty && b.references.nonEmpty)
        Some((b, a, r))
      else None
    }
    def fromAbs(abs: Expression, lim: Expression) = (abs, lim) match {
      case (Abs(Subtract(a, b, _), _), Literal(v: Long, LongType))
          if v > 0 && integral(a.dataType) && integral(b.dataType) =>
        split(a, b, v)
      case (Abs(Subtract(a, b, _), _),
            Literal(v: Int, org.apache.spark.sql.types.IntegerType))
          if v > 0 && integral(a.dataType) && integral(b.dataType) =>
        split(a, b, v.toLong)
      case _ => None
    }
    e match {
      case LessThanOrEqual(abs: Abs, lim) => fromAbs(abs, lim)
      case LessThan(abs: Abs, lim) => fromAbs(abs, lim)
      case GreaterThanOrEqual(lim, abs: Abs) => fromAbs(abs, lim)
      case GreaterThan(lim, abs: Abs) => fromAbs(abs, lim)
      case _ => None
    }
  }

  /** Names of the bin attributes the rewrite adds. */
  private val BinL = "_graft_bin_l"
  private val BinR = "_graft_bin_r"

  private def bin(t: Expression, r: Long): Expression =
    Cast(Floor(Divide(Cast(t, DoubleType), Literal(r.toDouble))), LongType)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case j @ Join(left, right, Inner, Some(cond), hint)
        if !cond.references.exists(_.name == BinL) =>
      val conjuncts = splitConjunctivePredicates(cond)
      val band = conjuncts.iterator
        .map(c => asBand(c, left, right)).collectFirst { case Some(b) => b }
      band match {
        case Some((lt, rt, r)) =>
          val binL = AttributeReference(BinL, LongType)()
          val binR = AttributeReference(BinR, LongType)()
          // left row visits its own bin and both neighbors: a match
          // within r sits at most one bin away
          val expandedLeft = Expand(
            Seq(-1L, 0L, 1L).map(d =>
              left.output :+ Add(bin(lt, r), Literal(d))),
            left.output :+ binL,
            left)
          val projectedRight = Project(
            right.output :+ Alias(bin(rt, r), BinR)(binR.exprId),
            right)
          val newJoin = Join(
            expandedLeft, projectedRight, Inner,
            Some((EqualTo(binL, binR) +: conjuncts).reduce(And)),
            hint)
          Project(j.output, newJoin)
        case None => j
      }
  }

  private def splitConjunctivePredicates(e: Expression): Seq[Expression] =
    e match {
      case And(a, b) =>
        splitConjunctivePredicates(a) ++ splitConjunctivePredicates(b)
      case other => Seq(other)
    }
}
