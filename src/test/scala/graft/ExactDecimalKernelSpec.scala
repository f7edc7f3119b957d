package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Left => _, Right => _, _}
import org.apache.spark.sql.catalyst.expressions.aggregate.{DeclarativeAggregate, Sum}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, Project}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.plans._
import ExactDecimalKernelSpec.Poison

/** Property check of the exact DECIMAL(≤18) kernels of
  * [[graft.plans.ExactDecimalRule]]: every query runs twice in the same
  * session, once with the rule in `spark.sql.optimizer.excludedRules`
  * (Spark's own Cast / Multiply / Sum) and once with it, under ANSI on
  * and off. Rows must be equal (decimals compared with their scale) and
  * an error must carry the same condition. Inputs are seeded scalacheck
  * samples plus the edge cases: NaN, ±Inf, −0.0, nulls, empty groups,
  * half-way values, values at and past the fast-path bound, long
  * overflow inside a product, and totals past the SUM result precision. */
class ExactDecimalKernelSpec extends SparkSpec {

  private val RuleName = ExactDecimalRule.ruleName

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def condition(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).collectFirst {
      case s: SparkThrowable if s.getCondition != null => s.getCondition
    }.getOrElse(t.getClass.getName)

  private def outcome(df: DataFrame): Either[String, Seq[Row]] =
    try Right(df.collect().toSeq) catch { case t: Throwable => Left(condition(t)) }

  private def kernels(df: DataFrame): Seq[Expression] =
    df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case k @ (_: DoubleToDecimalExact | _: DecimalArithExact | _: ExactDecimalSum) => k
    }))

  /** `build` under both ANSI modes, with and without the rule: same
    * rows or same error; the rule's run must contain a kernel, or none
    * when `kernel` is false. */
  private def sameAsSpark(what: String, kernel: Boolean = true)(build: => DataFrame): Unit =
    for (ansi <- Seq("true", "false")) withConf("spark.sql.ansi.enabled" -> ansi) {
      val want = withConf("spark.sql.optimizer.excludedRules" -> RuleName) {
        val df = build
        assert(kernels(df).isEmpty, s"$what: excluding the rule left a kernel")
        outcome(df)
      }
      val df = build
      assert(kernels(df).nonEmpty == kernel,
        s"$what: kernel expected $kernel in\n${df.queryExecution.optimizedPlan}")
      assert(outcome(df) == want, s"$what (ansi=$ansi)")
    }

  /** A two-partition frame: the repartition keeps the optimizer from
    * folding projections over the local rows before the rule runs. */
  private def frame(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema).repartition(2)

  private def sample[T](g: Gen[T], n: Int, seed: Long): Seq[T] =
    Gen.listOfN(n, g).apply(Gen.Parameters.default, Seed(seed)).get

  /** Money-like doubles with 0–6 decimals, raw doubles with every digit
    * used, and half-way values (one digit past scale 4, ending in 5). */
  private val doubles: Gen[Double] = Gen.oneOf(
    for (n <- Gen.choose(-10000000L, 10000000L); k <- Gen.choose(0, 6))
      yield n / math.pow(10, k),
    Gen.choose(-1e9, 1e9),
    for (n <- Gen.choose(-9999999L, 9999999L))
      yield BigDecimal(n * 10 + (if (n < 0) -5 else 5), 5).toDouble)

  private val specials: Seq[java.lang.Double] = Seq(
    Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, -0.0, 0.0, null,
    0.00005, -0.00005, 1.00005, -2.50005, Double.MinPositiveValue, 1e-300)

  /** The bound of scale `s`, its neighbours and values past it. */
  private def boundary(s: Int): Seq[Double] = {
    val b = ExactDecimal.FastBound(s)
    Seq(b, -b, math.nextDown(b), -math.nextDown(b), math.nextUp(b), b * 1.5 + 0.00005)
  }

  private val castTypes = Seq((18, 4), (18, 8), (10, 2), (18, 0), (7, 5), (18, 12))

  test("double → DECIMAL(≤18) casts equal Spark's cast") {
    val values: Seq[java.lang.Double] = sample(doubles, 300, 11L).map(Double.box) ++
      specials ++ castTypes.flatMap { case (_, s) => boundary(s) }.map(Double.box)
    val df0 = frame(StructType(Seq(StructField("a", DoubleType))), values.map(Row(_)))
    // the bulk keeps the values that fit each type, so it raises no ANSI
    // error; overflow, NaN and ±Inf run one value per query so one ANSI
    // error cannot hide another
    for ((p, s) <- castTypes) {
      val limit = math.pow(10, p - s) - 1
      val bulk = df0.where(abs(col("a")) < limit || col("a").isNull)
      sameAsSpark(s"cast to decimal($p,$s)")(
        bulk.select(col("a"), col("a").cast(DecimalType(p, s)).as("d")).orderBy("a"))
    }
    for (v <- Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, -1e300, 1e14,
        99999999.995, 2e10))
      for ((p, s) <- Seq((18, 4), (10, 2)))
        sameAsSpark(s"cast $v to decimal($p,$s)")(
          frame(StructType(Seq(StructField("a", DoubleType))), Seq(Row(v)))
            .select(col("a").cast(DecimalType(p, s)).as("d")))
    // a negative scale (legacy conf) is left to Spark's cast
    withConf("spark.sql.legacy.allowNegativeScaleOfDecimal" -> "true") {
      sameAsSpark("cast to decimal(10,-2)", kernel = false)(
        df0.where(abs(col("a")) < 1e11 || col("a").isNull)
          .select(col("a"), col("a").cast(DecimalType(10, -2)).as("d")).orderBy("a"))
    }
  }

  private val arithSchema = StructType(Seq(
    StructField("k", IntegerType), StructField("a", DoubleType), StructField("b", DoubleType),
    StructField("x", DecimalType(18, 9)), StructField("y", DecimalType(18, 9))))

  /** Money pairs (a, b) and wide decimals (x, y) whose products overflow
    * a long at scale 18 while fitting DECIMAL(18,2) after rounding. */
  private def arithRows(n: Int, seed: Long): Seq[Row] = {
    val wide = Gen.choose(-999999999999L, 999999999999L).map(u => BigDecimal(u, 9).bigDecimal)
    val row = for {
      k <- Gen.choose(0, 7); a <- doubles; b <- Gen.choose(0, 10).map(_ / 100.0)
      x <- wide; y <- wide
    } yield Row(k, a, b, x, y)
    sample(row, n, seed) ++ Seq(
      Row(8, null, 0.05, null, BigDecimal("1.5").bigDecimal),
      Row(8, 12.5, null, BigDecimal("10.000000001").bigDecimal, null),
      Row(9, -0.0, 0.0, BigDecimal("0.125").bigDecimal, BigDecimal("1").bigDecimal),
      Row(9, 0.125, 1.0, BigDecimal("-0.125").bigDecimal, BigDecimal("1").bigDecimal),
      Row(9, 99999999.99, 0.5, BigDecimal("999.999999999").bigDecimal,
        BigDecimal("-999.999999999").bigDecimal))
  }

  private def money(c: String): Column = col(c).cast(DecimalType(18, 4))
  private val revenue = (money("a") * (lit(1).cast(DecimalType(18, 4)) - money("b")))
    .cast(DecimalType(18, 8))
  private val cost = (money("a") * money("b")).cast(DecimalType(18, 8))

  private val (x12, y12) = (col("x").cast(DecimalType(18, 12)), col("y").cast(DecimalType(18, 12)))

  test("+ − × trees closed by a DECIMAL(≤18) cast equal Spark's arithmetic") {
    val df = frame(arithSchema, arithRows(300, 21L))
    sameAsSpark("products and sums")(df.select(col("k"), col("a"), col("b"), col("x"), col("y"),
      revenue.as("revenue"), cost.as("cost"),
      (money("a") * money("b")).cast(DecimalType(18, 2)).as("rounded"),
      (money("a") + money("b") - money("a") * money("b")).cast(DecimalType(18, 6)).as("mixed"),
      (col("x") * col("y")).cast(DecimalType(18, 2)).as("wide"),
      (col("x") * col("y")).cast(DecimalType(18, 0)).as("wide0"),
      // x12·y12 has scale 24: the closing cast drops 18 places, and the
      // sum with z (scale 0) is left to Spark (it would align by 24)
      (x12 * y12).cast(DecimalType(18, 6)).as("scale24"),
      (x12 * y12 + col("k").cast(DecimalType(5, 0))).cast(DecimalType(18, 6)).as("gap24"))
      .orderBy("k", "a", "b", "x", "y"))
    // a product past the target type: null without ANSI, an error with it
    sameAsSpark("product overflow")(frame(arithSchema, Seq(Row(0, 1.0, 1.0,
      BigDecimal("999.999999999").bigDecimal, BigDecimal("999999.5").bigDecimal)))
      .select((col("x") * col("y")).cast(DecimalType(10, 2)).as("p")))
  }

  test("SUM over DECIMAL(≤18) equals Spark's sum, nulls and empty groups included") {
    val df = frame(arithSchema, arithRows(400, 31L))
    val big = StructType(Seq(StructField("k", IntegerType), StructField("v", DecimalType(18, 0))))
    // unscaled totals past 2⁶³ in both signs: the high word carries
    // group 0 only positive, group 1 only negative, the rest mixed
    val bigRows = sample(for {
      k <- Gen.choose(0, 3)
      v <- Gen.choose(-999999999999999999L, 999999999999999999L)
    } yield Row(k, BigDecimal(k match {
      case 0 => math.abs(v)
      case 1 => -math.abs(v)
      case _ => v
    }).bigDecimal), 300, 41L) ++ Seq(Row(4, null), Row(4, null))
    val aggs = Seq(
      sum(money("a")).as("s_a"), sum(revenue).as("s_rev"), sum(revenue - cost).as("s_profit"),
      sum(revenue + cost).as("s_gross"), sum(col("x")).as("s_x"),
      sum(col("b").cast(DecimalType(5, 2))).as("s_small"), count(lit(1)).as("n"))
    sameAsSpark("grouped sums")(df.groupBy("k").agg(aggs.head, aggs.tail: _*).orderBy("k"))
    sameAsSpark("global sums")(df.agg(aggs.head, aggs.tail: _*))
    sameAsSpark("sums over no rows")(
      df.where(col("k") > 100).agg(aggs.head, aggs.tail: _*))
    sameAsSpark("sums past 2^63 unscaled")(frame(big, bigRows)
      .groupBy("k").agg(sum("v").as("s"), sum(col("v") - col("v")).as("z")).orderBy("k"))
  }

  /** Reaching 10²⁸ needs ~10¹⁰ rows of DECIMAL(18) values, so the
    * buffers are started near the bound instead and stepped past it by
    * the aggregates' own update/merge expressions, written to UnsafeRows
    * as the hash aggregate does. */
  test("a total past the SUM result precision: null without ANSI, Spark's error with it") {
    val c = AttributeReference("c", DecimalType(18, 0))()
    val relation = LocalRelation(c)
    val top = BigInt(10).pow(28)
    def split(v: BigInt): Seq[Any] = Seq((v >> 62).toLong, (v & ((BigInt(1) << 62) - 1)).toLong)

    def run(f: DeclarativeAggregate, start: Seq[Any], step: Either[Decimal, Seq[Any]])
        : Either[String, Any] = try {
      val buf = f.aggBufferAttributes
      val toRow = UnsafeProjection.create(buf.map(_.dataType).toArray)
      val state = toRow(InternalRow.fromSeq(start)).copy()
      val next = step match {
        case Left(v) =>
          UnsafeProjection.create(f.updateExpressions, buf :+ c)(
            new JoinedRow(state, InternalRow(v))).copy()
        case Right(other) =>
          UnsafeProjection.create(f.mergeExpressions, buf ++ f.inputAggBufferAttributes)(
            new JoinedRow(state, toRow(InternalRow.fromSeq(other)))).copy()
      }
      Right(BindReferences.bindReference(f.evaluateExpression, buf).eval(next))
    } catch { case t: Throwable => Left(condition(t)) }

    for (ansi <- Seq("true", "false")) withConf("spark.sql.ansi.enabled" -> ansi) {
      val sparkSum = Sum(c)
      val plan = ExactDecimalRule(Aggregate(Nil,
        Seq(Alias(sparkSum.toAggregateExpression(), "s")()), relation))
      val kernel = plan.expressions.flatMap(_.collect { case k: ExactDecimalSum => k }).head
      def dec(v: BigInt) = Decimal(BigDecimal(v), 28, 0)
      for ((total, add) <- Seq((top - 2, 1), (top - 1, 1), (-(top - 1), -1), (top - 1, -3))) {
        val spark = run(sparkSum, Seq(dec(total), false), Left(Decimal(add)))
        assert(run(kernel, split(total) :+ false, Left(Decimal(add))) == spark,
          s"update $total + $add (ansi=$ansi): Spark gives $spark")
      }
      for ((x, y) <- Seq((top / 2, top / 2 - 1), (top / 2, top / 2), (-top / 2, -top / 2 - 7))) {
        val spark = run(sparkSum, Seq(dec(x), false), Right(Seq(dec(y), false)))
        assert(run(kernel, split(x) :+ false, Right(split(y) :+ false)) == spark,
          s"merge $x + $y (ansi=$ansi): Spark gives $spark")
      }
    }
  }

  test("inside the envelope the kernels never evaluate Spark's expression") {
    val (a, b) = (AttributeReference("a", DoubleType)(), AttributeReference("b", DoubleType)())
    def m(e: Expression) = Cast(e, DecimalType(18, 4), Some("UTC"))
    val one = Literal(Decimal(BigDecimal(1), 18, 4), DecimalType(18, 4))
    val exprs = Seq(
      m(a),
      Cast(Multiply(m(a), Subtract(one, m(b))), DecimalType(18, 8), Some("UTC")),
      Cast(Multiply(m(a), m(b)), DecimalType(18, 2), Some("UTC")))
    val plan = ExactDecimalRule(Project(exprs.zipWithIndex.map { case (e, i) =>
      Alias(e, s"e$i")() }, LocalRelation(a, b)))
    val poisoned = plan.expressions.map(_.transformUp {
      case k: DoubleToDecimalExact => k.copy(fallback = Poison(k.dataType))
      case k: DecimalArithExact => k.copy(fallback = Poison(k.dataType))
    })
    assert(poisoned.forall(_.exists {
      case _: DoubleToDecimalExact | _: DecimalArithExact => true
      case _ => false
    }))
    // prices up to a million with 2–4 decimals, discounts in [0, 1]
    val price = Gen.zip(Gen.choose(-99999999L, 99999999L), Gen.choose(2, 4))
      .map { case (n, k) => n / math.pow(10, k) }
    val discount = Gen.choose(0, 100).map(_ / 100.0)
    val rows = sample(Gen.zip(price, discount), 500, 51L).map { case (x, y) => InternalRow(x, y) }
    val want = rows.map(UnsafeProjection.create(exprs, Seq(a, b))(_).copy())
    // the fast paths are generated code; interpreted evaluation is
    // Spark's own expression
    withConf("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY") {
      val fast = UnsafeProjection.create(poisoned, Seq(a, b))
      assert(rows.map(fast(_).copy()) == want)
    }
    withConf("spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val interpreted = UnsafeProjection.create(plan.expressions, Seq(a, b))
      assert(rows.map(interpreted(_).copy()) == want, "interpreted kernels")
    }
  }
}

object ExactDecimalKernelSpec {
  /** A fallback that fails the kernel reaching it. */
  case class Poison(dataType: DataType) extends LeafExpression with CodegenFallback {
    override def nullable: Boolean = true
    override def eval(input: InternalRow): Any =
      throw new IllegalStateException("fallback evaluated inside the fast-path envelope")
  }
}
