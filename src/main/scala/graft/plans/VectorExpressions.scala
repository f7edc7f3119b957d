package graft.plans

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native cosine similarity over two float/double array columns (any
  * combination of element widths).
  *
  * WHY A CUSTOM EXPRESSION (SURVEY.md §4): Spark's higher-order
  * functions (`zip_with` + `aggregate`) express this correctly but are
  * CodegenFallback — interpreted, one virtual call per element, and
  * they can't fuse the three accumulations (dot, ‖a‖², ‖b‖²) into one
  * traversal. This expression participates in whole-stage codegen: the
  * generated Java is a single primitive loop, which is the difference
  * between scanning 100 TB of embeddings at memory bandwidth and at
  * interpreter speed.
  *
  * graft.similarity.Similarity.cosine builds it directly, so it runs
  * in every session. Semantics: left-to-right double accumulation and
  * a `max(‖a‖·‖b‖, 1e-12)` guard, bit-identical to the `zip_with` +
  * `aggregate` formula (spec-asserted).
  * Vectors are assumed equal-length (embedding corpora are fixed-dim);
  * extra elements on the longer side are ignored.
  */
case class VecCosine(left: Expression, right: Expression)
    extends BinaryExpression {

  // float and double arrays are both accepted, in any combination:
  // refined k-means centroids are element-wise means and therefore
  // array<double> even when the corpus is array<float>, and a cosine
  // between the two must not force a lossy re-narrowing to float
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_cosine expects float or double arrays, " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  private def isFloatArr(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "vec_cosine"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val lf = isFloatArr(left.dataType)
    val rf = isFloatArr(right.dataType)
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xi * yi
      na += xi * xi
      nb += yi * yi
      i += 1
    }
    dot / math.max(math.sqrt(na) * math.sqrt(nb), 1e-12)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // element getters are resolved at codegen time from the static
      // input types, so the loop body stays a branch-free primitive read
      val getA = if (isFloatArr(left.dataType)) "getFloat" else "getDouble"
      val getB = if (isFloatArr(right.dataType)) "getFloat" else "getDouble"
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = (double) $a.$getA($i);
         |  double $yi = (double) $b.$getB($i);
         |  $dot += $xi * $yi;
         |  $na += $xi * $xi;
         |  $nb += $yi * $yi;
         |}
         |${ev.value} = $dot / java.lang.Math.max(
         |  java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb), 1e-12);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Random-hyperplane LSH signature over an `array<float>` vector:
  * `numPlanes` sign-of-projection bits packed into an int.
  *
  * The planes are deterministic pseudo-random components in [-0.5,0.5)
  * generated from (globalPlaneIndex, dim) by
  * [[VecLshSignature.component]]. Codegen emits one fused loop over
  * (planes × dims) against a reference-object plane matrix, where a
  * higher-order-function formula would pay an interpreted `zip_with` +
  * `aggregate` per plane. graft.similarity.Similarity.lshSignature
  * builds it directly, so it runs in every session.
  */
case class VecLshSignature(child: Expression, numPlanes: Int, table: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"vec_lsh expects array<float>, got ${t.simpleString}")
  }

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType

  override def prettyName: String = "vec_lsh"

  /** plane p, dim i, pre-tabulated for the first
    * [[VecLshSignature.PlaneDims]] dims (covers every real embedding
    * model); dims beyond that compute the component on demand, so
    * arbitrary-length vectors get the same signature as an uncapped
    * formula (spec-asserted). */
  @transient private lazy val planes: Array[Array[Double]] =
    Array.tabulate(numPlanes, VecLshSignature.PlaneDims) { (p, i) =>
      VecLshSignature.component(table * numPlanes + p, i)
    }

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    val lim = math.min(n, VecLshSignature.PlaneDims)
    var sig = 0
    var p = 0
    while (p < numPlanes) {
      val gp = table * numPlanes + p
      var proj = 0.0
      var i = 0
      while (i < lim) {
        proj += v.getFloat(i).toDouble * planes(p)(i)
        i += 1
      }
      while (i < n) {
        proj += v.getFloat(i).toDouble * VecLshSignature.component(gp, i)
        i += 1
      }
      if (proj >= 0) sig |= (1 << p)
      p += 1
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planes, "double[][]")
    val comp = "graft.plans.VecLshSignature$.MODULE$"
    defineCodeGen(ctx, ev, v => {
      val fn = ctx.freshName("vecLsh")
      val funcName = ctx.addNewFunction(fn,
        s"""
           |private int $fn(org.apache.spark.sql.catalyst.util.ArrayData v) {
           |  int n = v.numElements();
           |  int lim = java.lang.Math.min(n, ${VecLshSignature.PlaneDims});
           |  int sig = 0;
           |  for (int p = 0; p < $numPlanes; p++) {
           |    double proj = 0.0;
           |    double[] plane = $planesRef[p];
           |    for (int i = 0; i < lim; i++) {
           |      proj += ((double) v.getFloat(i)) * plane[i];
           |    }
           |    for (int i = lim; i < n; i++) {
           |      proj += ((double) v.getFloat(i))
           |        * $comp.component(${table * numPlanes} + p, i);
           |    }
           |    if (proj >= 0) sig |= (1 << p);
           |  }
           |  return sig;
           |}
         """.stripMargin)
      s"$funcName($v)"
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VecLshSignature {
  /** Pre-tabulated plane width — dims past this are computed on demand. */
  val PlaneDims: Int = 4096

  /** Deterministic pseudo-random component in [-0.5, 0.5): the
    * md5-fraction of "globalPlane:dim" — identical to what DuckDB
    * computes, so the native expression and the SQL oracle build the
    * same hyperplanes. */
  def component(globalPlane: Int, dim: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest(s"$globalPlane:$dim".getBytes("UTF-8"))
    val parsed = ((d(0) & 0xff) << 16) | ((d(1) & 0xff) << 8) | (d(2) & 0xff)
    parsed / 16777216.0 - 0.5
  }
}

/** Registers graft's optimizer rules, and its native expressions under
  * their SQL names (`vec_cosine`, `vec_lsh`), via the public extension
  * point: `spark.sql.extensions=graft.plans.GraftExtensions` (or
  * `SparkSession.builder.withExtensions`). graft's own kernels build
  * the expressions directly and do not need the names. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => BandedRangeJoinRule)
    ext.injectOptimizerRule(_ => ExactDecimalRule)
    ext.injectFunction((
      FunctionIdentifier("vec_cosine"),
      new ExpressionInfo(classOf[VecCosine].getName, "vec_cosine"),
      (children: Seq[Expression]) => VecCosine(children.head, children(1))))
    ext.injectFunction((
      FunctionIdentifier("vec_lsh"),
      new ExpressionInfo(classOf[VecLshSignature].getName, "vec_lsh"),
      (children: Seq[Expression]) => {
        def toInt(e: Expression): Int =
          e.eval(null).asInstanceOf[Number].intValue()
        VecLshSignature(children.head, toInt(children(1)), toInt(children(2)))
      }))
  }
}
