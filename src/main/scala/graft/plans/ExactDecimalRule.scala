package graft.plans

import java.math.{BigDecimal => JBigDecimal, BigInteger}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.QueryContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, DeclarativeAggregate, Sum}
import org.apache.spark.sql.catalyst.expressions.codegen._
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{AGGREGATE_EXPRESSION, CAST}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/** Optimizer rule: run DECIMAL(≤18) money arithmetic on unscaled longs.
  *
  * Spark evaluates `CAST(double AS DECIMAL(p,s))` by parsing
  * `Double.toString` into a BigDecimal, multiplies decimals as
  * BigDecimals, and sums DECIMAL(p≤18) into a DECIMAL(p+10) buffer that
  * allocates per row. Every DECIMAL(≤18) value is a long (its unscaled
  * value), so the same results come from long arithmetic. Three shapes
  * are rewritten:
  *
  *  (a) `Cast(double → DECIMAL(p≤18, s))` → [[DoubleToDecimalExact]];
  *  (b) a `+ − ×` tree over DECIMAL(≤18) leaves closed by a `Cast` to
  *      DECIMAL(≤18) → [[DecimalArithExact]];
  *  (c) `Sum` over DECIMAL(9 ≤ p ≤ 18), or over `a ± b` of DECIMAL(≤18)
  *      decimals, in an Aggregate → [[ExactDecimalSum]] (Spark's
  *      DecimalAggregates already sums DECIMAL(p≤8) as one long).
  *
  * Each kernel has a fast path with a proof that it equals Spark's
  * answer, and evaluates Spark's original expression for every value
  * outside it, so results — nulls and ANSI errors included — are those
  * of Spark's own expressions. Only Project and Aggregate expressions
  * are rewritten (filters and join keys keep the Casts that other rules
  * unwrap), streaming plans are left alone, and no operator changes.
  *
  * Registered by [[GraftExtensions]] via `injectOptimizerRule`.
  */
object ExactDecimalRule extends Rule[LogicalPlan] {
  import ExactDecimal._

  def apply(plan: LogicalPlan): LogicalPlan =
    if (plan.isStreaming) plan
    else plan.transformUpWithPruning(_.containsAnyPattern(CAST, AGGREGATE_EXPRESSION)) {
      case a: Aggregate => a.transformExpressionsUp(casts.orElse(sums))
      case p: Project => p.transformExpressionsUp(casts)
    }

  private val casts: PartialFunction[Expression, Expression] = {
    case c @ Cast(child, dt: DecimalType, _, _)
        if dt.precision <= MaxLongDigits && dt.scale >= 0 && child.dataType == DoubleType =>
      DoubleToDecimalExact(child, dt, template(c, Seq(child)))
    case c @ Cast(tree, dt: DecimalType, _, _)
        if dt.precision <= MaxLongDigits && isArith(tree) =>
      val leaves = new ArrayBuffer[Expression]
      compile(tree, leaves)
        .filter(t => math.abs(dt.scale - t.dt.scale) <= MaxLongDigits)
        .map(t => DecimalArithExact(leaves.toSeq, t, dt, template(c, leaves.toSeq)))
        .getOrElse(c)
  }

  private val sums: PartialFunction[Expression, Expression] = {
    // SUM over DECIMAL(p≤8) is left to Spark's DecimalAggregates, which
    // sums such values as one long
    case ae @ AggregateExpression(s @ Sum(child, _), _, false, _, _)
        if child.dataType.isInstanceOf[DecimalType] &&
          child.dataType.asInstanceOf[DecimalType].precision + 10 > MaxLongDigits =>
      val overflow = s.evaluateExpression.collectFirst {
        case CheckOverflowInSum(_, _, nullOnOverflow, ctx) => (nullOnOverflow, ctx)
      }
      (unscaled(child), overflow) match {
        case (Some((u, bound)), Some((nullOnOverflow, ctx))) if bound <= SumRowBound =>
          ae.copy(aggregateFunction = ExactDecimalSum(
            u, s.dataType.asInstanceOf[DecimalType], nullOnOverflow, ctx))
        case _ => ae
      }
  }

  private def isArith(e: Expression): Boolean = e match {
    case _: Add | _: Subtract | _: Multiply => e.dataType.isInstanceOf[DecimalType]
    case _ => false
  }

  /** `e` with its `inputs` replaced by slots 0.. of the fallback row. */
  private def template(e: Expression, inputs: Seq[Expression]): Expression = {
    val slots = inputs.zipWithIndex.map { case (in, i) =>
      in -> BoundReference(i, in.dataType, in.nullable) }
    def go(x: Expression): Expression =
      slots.collectFirst { case (in, slot) if in eq x => slot }
        .getOrElse(x.mapChildren(go))
    go(e)
  }

  /** The long program of a decimal `+ − ×` tree over DECIMAL(≤18)
    * leaves, appending the leaves in evaluation order. Only nodes whose
    * Spark result type holds every exact result are accepted: scale =
    * the exact scale and precision ≥ the exact digits, so Spark never
    * rounds or overflows inside the tree and only the closing Cast can
    * fail. A `+`/`−` must also align its operands by at most 18 places
    * (`Pow10`'s range): a product's scale can pass 18. */
  private def compile(e: Expression, leaves: ArrayBuffer[Expression]): Option[Arith] =
    e.dataType match {
      case dt: DecimalType if isArith(e) =>
        val b = e.asInstanceOf[BinaryArithmetic]
        for {
          l <- compile(b.left, leaves)
          r <- compile(b.right, leaves)
          op = b match { case _: Add => '+'; case _: Subtract => '-'; case _ => '*' }
          (p, s) = exactType(op, l.dt, r.dt)
          if dt.scale == s && dt.precision >= p
          if op == '*' || (s - l.dt.scale <= MaxLongDigits && s - r.dt.scale <= MaxLongDigits)
        } yield Op(op, l, r, dt)
      case dt: DecimalType if dt.precision <= MaxLongDigits && dt.scale >= 0 =>
        leaves += e
        Some(Leaf(leaves.size - 1, dt))
      case _ => None
    }

  private def exactType(op: Char, l: DecimalType, r: DecimalType): (Int, Int) =
    if (op == '*') (l.precision + r.precision + 1, l.scale + r.scale)
    else {
      val s = math.max(l.scale, r.scale)
      (s + math.max(l.precision - l.scale, r.precision - r.scale) + 1, s)
    }

  /** The per-row unscaled long of a SUM input and a bound on its
    * magnitude: a DECIMAL(≤18) value, or `a ± b` of same-scale ones
    * whose Spark type holds the exact result. */
  private def unscaled(e: Expression): Option[(Expression, BigInt)] = e.dataType match {
    case dt: DecimalType if dt.precision <= MaxLongDigits =>
      Some((UnscaledValue(e), BigInt(10).pow(dt.precision)))
    case dt: DecimalType =>
      def pair(l: Expression, r: Expression) = (l.dataType, r.dataType) match {
        case (ld: DecimalType, rd: DecimalType) if ld.scale == dt.scale &&
            rd.scale == dt.scale && dt.precision >= exactType('+', ld, rd)._1 =>
          unscaled(l).zip(unscaled(r))
        case _ => None
      }
      e match {
        case Add(l, r, _) => pair(l, r).map { case ((a, x), (b, y)) => (Add(a, b), x + y) }
        case Subtract(l, r, _) =>
          pair(l, r).map { case ((a, x), (b, y)) => (Subtract(a, b), x + y) }
        case _ => None
      }
    case _ => None
  }
}

/** Constants and helpers shared by the kernels and their generated code. */
object ExactDecimal {
  /** Widest precision whose unscaled value is a long. */
  val MaxLongDigits = 18

  /** A SUM row value stays below this, so `lo + value` cannot overflow
    * a long while `lo` is in [0, 2⁶²). */
  val SumRowBound: BigInt = BigInt(1) << 62

  val Pow10: Array[Long] = Array.iterate(1L, MaxLongDigits + 1)(_ * 10)

  /** |d| below this makes the double→DECIMAL(·, s) fast path exact: the
    * largest 2^k with 2^k·10^s < 2⁵². A double under 2^k has an ulp
    * ≤ 2^(k−53) < ½·10^−s, so the s-digit decimal that round-trips to
    * it is the only one within ½·10^−s of any string that does —
    * `Double.toString(d)` included — and Spark's HALF_UP rounding of
    * that string lands on it. It also keeps the unscaled value under
    * 2⁵², exact in a double. */
  val FastBound: Array[Double] =
    Array.tabulate(MaxLongDigits + 1)(s => math.scalb(1.0, 52 - BigInt(10).pow(s).bitLength))

  /** The fast path of [[DoubleToDecimalExact]]: the unscaled value, or
    * `Long.MinValue` (never a valid result) when `d` needs Spark. */
  def doubleToUnscaled(d: Double, scale: Int, precision: Int): Long =
    if (!(math.abs(d) < FastBound(scale))) Long.MinValue
    else {
      val r = math.round(d * Pow10(scale))
      if (r.toDouble / Pow10(scale) == d && math.abs(r) < Pow10(precision)) r
      else Long.MinValue
    }

  /** hi·2⁶² + lo as DECIMAL(precision, scale), or null when it needs
    * more digits — what writing the sum into Spark's aggregation buffer
    * gives. */
  def pairToDecimal(hi: Long, lo: Long, precision: Int, scale: Int): Decimal =
    if (hi == 0 || hi == -1) {
      val v = (hi << 62) + lo
      if (precision > MaxLongDigits || math.abs(v) < Pow10(precision))
        Decimal(v, precision, scale)
      else null
    } else {
      val bd = new JBigDecimal(
        BigInteger.valueOf(hi).shiftLeft(62).add(BigInteger.valueOf(lo)), scale)
      if (bd.precision <= precision) Decimal(bd, precision, scale) else null
    }

  /** A compiled `+ − ×` tree; `dt` is the Spark type of the node. */
  sealed trait Arith extends Serializable { def dt: DecimalType }
  final case class Leaf(index: Int, dt: DecimalType) extends Arith
  final case class Op(op: Char, left: Arith, right: Arith, dt: DecimalType) extends Arith

  /** The class whose static forwarders generated code calls. */
  private[plans] val helpers = getClass.getName.stripSuffix("$")

  /** Evaluates `fallback` (Spark's expression over slots 0..) on `inputs`. */
  private[plans] def fallbackCode(
      ctx: CodegenContext, fallback: Expression, inputs: Seq[String]): String = {
    val fb = ctx.addReferenceObj("fallback", fallback, classOf[Expression].getName)
    val row = classOf[GenericInternalRow].getName
    s"$fb.eval(new $row(new Object[] {${inputs.mkString(", ")}}))"
  }
}

/** (a) `CAST(double AS DECIMAL(p≤18, s))`. Fast path:
  * `r = Math.round(d·10^s)`, kept when |d| < `FastBound(s)`,
  * `r / 10^s == d` and r fits p digits; it equals Spark's
  * `BigDecimal(Double.toString(d))` rounded HALF_UP (see
  * [[ExactDecimal.FastBound]]). Everything else — NaN, ±Inf, larger
  * values, overflow — evaluates `fallback`, the original Cast over
  * slot 0. Interpreted evaluation is Spark's Cast itself. */
case class DoubleToDecimalExact(child: Expression, dataType: DecimalType, fallback: Expression)
    extends UnaryExpression {
  import ExactDecimal._

  override def nullable: Boolean = fallback.nullable
  override def prettyName: String = "exact_decimal_cast"
  override def toString: String = s"$prettyName($child, $dataType)"

  override def nullSafeEval(input: Any): Any = fallback.eval(InternalRow(input))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val (p, s) = (dataType.precision, dataType.scale)
    val (d, r) = (ctx.freshName("d"), ctx.freshName("r"))
    val dec = classOf[Decimal].getName
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.isNull} = ${c.isNull};
      $dec ${ev.value} = null;
      if (!${ev.isNull}) {
        double $d = ${c.value};
        long $r = $helpers.doubleToUnscaled($d, $s, $p);
        if ($r != Long.MIN_VALUE) {
          ${ev.value} = $dec.createUnsafe($r, $p, $s);
        } else {
          ${ev.value} = ($dec) ${fallbackCode(ctx, fallback, Seq(d))};
          ${ev.isNull} = ${ev.value} == null;
        }
      }""")
  }

  override protected def withNewChildInternal(c: Expression): DoubleToDecimalExact =
    copy(child = c)
}

/** (b) A `+ − ×` tree over DECIMAL(≤18) `leaves`, closed by a Cast to
  * DECIMAL(≤18) `dataType`. The tree runs on unscaled longs with
  * `Math.*Exact`, leaves evaluated in Spark's order with its null
  * short-circuit; the closing rescale rounds HALF_UP like Spark's Cast.
  * A long overflow or a result past `dataType` evaluates `fallback`,
  * the original Cast over the leaf values in slots 0.. . Interpreted
  * evaluation is the original Cast itself, rebuilt over `leaves`. */
case class DecimalArithExact(
    leaves: Seq[Expression], program: ExactDecimal.Arith, dataType: DecimalType,
    fallback: Expression) extends Expression {
  import ExactDecimal._

  override def children: Seq[Expression] = leaves
  override def nullable: Boolean = fallback.nullable
  override def prettyName: String = "exact_decimal_arith"
  override def toString: String = s"$prettyName(${leaves.mkString(", ")}, $dataType)"

  /** `fallback` with its slots replaced by the leaves they stand for. */
  private lazy val original: Expression = {
    def go(x: Expression): Expression = x match {
      case b: BoundReference => leaves(b.ordinal)
      case _ => x.mapChildren(go)
    }
    go(fallback)
  }

  override def eval(input: InternalRow): Any = original.eval(input)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val dec = classOf[Decimal].getName
    val values = leaves.map(_ => ctx.freshName("leaf"))
    val overflow = ctx.freshName("overflow")
    def up(v: String, gap: Int) = if (gap == 0) v else s"Math.multiplyExact($v, ${Pow10(gap)}L)"
    // (code, isNull, value) of a node; the right operand runs only when
    // the left one is not null, as in Spark's BinaryArithmetic.
    def gen(t: Arith): (String, String, String) = {
      val (isNull, v) = (ctx.freshName("isNull"), ctx.freshName("v"))
      t match {
        case Leaf(i, _) =>
          val c = leaves(i).genCode(ctx)
          (s"""${c.code}
            boolean $isNull = ${c.isNull};
            long $v = 0L;
            if (!$isNull) {
              ${values(i)} = ${c.value};
              $v = ${values(i)}.toUnscaledLong();
            }""", isNull, v)
        case o @ Op(op, l, r, _) =>
          val (lc, ln, lv) = gen(l)
          val (rc, rn, rv) = gen(r)
          lazy val (a, b) = (up(lv, o.dt.scale - l.dt.scale), up(rv, o.dt.scale - r.dt.scale))
          val expr = op match {
            case '*' => s"Math.multiplyExact($lv, $rv)"
            case '+' => s"Math.addExact($a, $b)"
            case _ => s"Math.subtractExact($a, $b)"
          }
          (s"""$lc
            boolean $isNull = $ln;
            long $v = 0L;
            if (!$isNull) {
              $rc
              $isNull = $rn;
              if (!$isNull && !$overflow) {
                try { $v = $expr; } catch (ArithmeticException e) { $overflow = true; }
              }
            }""", isNull, v)
      }
    }
    val (code, isNull, v) = gen(program)
    val gap = dataType.scale - program.dt.scale
    val q = ctx.freshName("q")
    val rescaled =
      if (gap == 0) s"$q = $v;"
      else if (gap > 0)
        s"try { $q = ${up(v, gap)}; } catch (ArithmeticException e) { $overflow = true; }"
      else {
        val d = Pow10(-gap)
        s"""$q = $v / ${d}L;
           |if (Math.abs($v % ${d}L) * 2 >= ${d}L) $q += Long.signum($v);""".stripMargin
      }
    val limit = Pow10(dataType.precision)
    ev.copy(code = code"""
      boolean $overflow = false;
      ${values.map(x => s"$dec $x = null;").mkString("\n")}
      $code
      boolean ${ev.isNull} = $isNull;
      $dec ${ev.value} = null;
      if (!${ev.isNull}) {
        long $q = 0L;
        if (!$overflow) {
          $rescaled
        }
        if (!$overflow && $q > -${limit}L && $q < ${limit}L) {
          ${ev.value} = $dec.createUnsafe($q, ${dataType.precision}, ${dataType.scale});
        } else {
          ${ev.value} = ($dec) ${fallbackCode(ctx, fallback, values)};
          ${ev.isNull} = ${ev.value} == null;
        }
      }""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): DecimalArithExact = copy(leaves = newChildren)
}

/** (c) SUM over a decimal whose per-row unscaled value is `child`
  * (a long below 2⁶² in magnitude). The buffer is the exact total as
  * hi·2⁶² + lo with lo in [0, 2⁶²), kept with built-in long
  * expressions; `isEmpty` and the final overflow handling are Spark's
  * own (`CheckOverflowInSum` with Sum's `nullOnOverflow` and query
  * context), applied to the exact total: null past `dataType` without
  * ANSI, Spark's overflow error with it. Spark decides on each running
  * partial instead (its buffer nulls a partial past `dataType`), so the
  * two differ only when a mixed-sign partial passes the bound and the
  * total does not — a result that depends on row order in Spark. */
case class ExactDecimalSum(
    child: Expression, dataType: DecimalType, nullOnOverflow: Boolean, context: QueryContext)
    extends DeclarativeAggregate with UnaryLike[Expression] {

  override def nullable: Boolean = true
  override def prettyName: String = "exact_decimal_sum"
  override def toString: String = s"$prettyName($child)"

  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val isEmpty = AttributeReference("isEmpty", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(hi, lo, isEmpty)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(true))

  private val Mask = Literal((1L << 62) - 1)
  private def carry(x: Expression) = ShiftRight(x, Literal(62))
  private def low(x: Expression) = BitwiseAnd(x, Mask)

  override lazy val updateExpressions: Seq[Expression] = {
    val value = if (child.nullable) Coalesce(Seq(child, Literal(0L))) else child
    val x = Add(lo, value)
    Seq(Add(hi, carry(x)), low(x),
      if (child.nullable) And(isEmpty, IsNull(child)) else Literal(false))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val x = Add(lo.left, lo.right)
    Seq(Add(Add(hi.left, hi.right), carry(x)), low(x), And(isEmpty.left, isEmpty.right))
  }

  override lazy val evaluateExpression: Expression =
    If(isEmpty, Literal(null, dataType), CheckOverflowInSum(
      LongPairToDecimal(hi, lo, dataType), dataType, nullOnOverflow, context))

  override protected def withNewChildInternal(c: Expression): ExactDecimalSum =
    copy(child = c)
}

/** hi·2⁶² + lo as `dataType`, null when it needs more digits. */
case class LongPairToDecimal(left: Expression, right: Expression, dataType: DecimalType)
    extends BinaryExpression {
  override def nullable: Boolean = true
  override def prettyName: String = "long_pair_to_decimal"

  override def nullSafeEval(hi: Any, lo: Any): Any = ExactDecimal.pairToDecimal(
    hi.asInstanceOf[Long], lo.asInstanceOf[Long], dataType.precision, dataType.scale)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (hi, lo) =>
      s"""${ev.value} = ${ExactDecimal.helpers}.pairToDecimal(
         |  $hi, $lo, ${dataType.precision}, ${dataType.scale});
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): LongPairToDecimal = copy(left = l, right = r)
}
