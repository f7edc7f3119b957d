package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import graft.plans.{VecCosine, VecLshSignature}
import graft.similarity.Similarity

/** Similarity's cosine and LSH signature are the native codegen'd
  * VecCosine / VecLshSignature, bit-identical to the higher-order-function
  * formulas below; GraftExtensions registers them for SQL. */
class VecCosineSpec extends SparkSpec {

  /** Reference cosine: `zip_with` + `aggregate`, left-to-right double. */
  private def refCosine(a: Column, b: Column): Column = {
    val norm = (v: Column) => sqrt(Similarity.dot(v, v))
    Similarity.dot(a, b) / greatest(norm(a) * norm(b), lit(1e-12))
  }

  /** Reference hyperplane component: the md5 fraction of "plane:dim". */
  private def planeComponent(plane: Int, dim: Column): Column =
    conv(substring(md5(
      concat(lit(s"$plane:"), dim.cast("string"))), 1, 6), 16, 10)
      .cast("long").cast("double") / 16777216.0 - 0.5

  /** Reference signature: one `zip_with` + `aggregate` projection per plane. */
  private def refLshSignature(vec: Column, numPlanes: Int, table: Int): Column =
    (0 until numPlanes).map { p =>
      val proj = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (x, i) => x.cast("double") * planeComponent(table * numPlanes + p, i)),
        lit(0.0), (acc, v) => acc + v)
      when(proj >= 0, shiftleft(lit(1), p)).otherwise(lit(0))
    }.reduce(_ + _)

  test("GraftExtensions registers vec_cosine in the session") {
    assert(spark.catalog.functionExists("vec_cosine"))
  }

  test("Similarity.cosine and lshSignature analyze to the native expressions") {
    val emb = Tables.embeddings(spark, sf)
    val plan = emb.select(
      Similarity.cosine(col("embedding"), col("embedding")),
      Similarity.lshSignature(col("embedding"), 8, table = 2)).queryExecution.analyzed
    def found[T](pf: PartialFunction[Expression, T]): Seq[T] =
      plan.expressions.flatMap(_.collect(pf))
    assert(found { case c: VecCosine => c }.size == 1, plan.treeString)
    assert(found { case l: VecLshSignature => (l.numPlanes, l.table) } == Seq((8, 2)),
      plan.treeString)
  }

  test("native cosine is bit-identical to the portable cosine") {
    val emb = Tables.embeddings(spark, sf).limit(200)
    val pairs = emb.as("x").crossJoin(emb.as("y"))
      .where(col("x.vec_id") < col("y.vec_id"))
      .limit(5000)
    val diffs = pairs.select(
      refCosine(col("x.embedding"), col("y.embedding")).as("portable"),
      Similarity.cosine(col("x.embedding"), col("y.embedding")).as("native"))
      .where(col("portable") =!= col("native"))
      .count()
    assert(diffs == 0, "native and portable cosine diverged")
  }

  test("vec_cosine participates in whole-stage codegen") {
    val emb = Tables.embeddings(spark, sf)
    val p = graft.plans.PlanShape.of(
      emb.select(call_function("vec_cosine", col("embedding"), col("embedding"))))
    assert(p.codegenStages > 0, s"no codegen subtree:\n${p.json}")
  }

  test("native vec_lsh signature equals the portable formula") {
    val emb = Tables.embeddings(spark, sf).limit(300)
    val diffs = emb.select(
      refLshSignature(col("embedding"), 8, table = 2).as("portable"),
      Similarity.lshSignature(col("embedding"), 8, table = 2).as("native"),
      call_function("vec_lsh", col("embedding"), lit(8), lit(2)).as("sql"))
      .where(col("portable") =!= col("native") || col("sql") =!= col("native"))
      .count()
    assert(diffs == 0, "native and portable LSH signatures diverged")
  }

  test("vec_lsh handles vectors wider than the pre-tabulated plane matrix") {
    // 5000 dims > PlaneDims (4096): the tail must be computed on demand
    // and still agree with the reference formula (which has no cap)
    val wide = spark.range(20).select(
      col("id"),
      transform(sequence(lit(0), lit(4999)),
        i => (i.cast("float") * lit(0.37f) - col("id").cast("float"))
          .cast("float")).as("embedding"))
    val diffs = wide.select(
      refLshSignature(col("embedding"), 8, table = 1).as("portable"),
      Similarity.lshSignature(col("embedding"), 8, table = 1).as("native"))
      .where(col("portable") =!= col("native"))
      .count()
    assert(diffs == 0, "wide-vector native and portable LSH diverged")
  }

  test("mixed float/double inputs are accepted and bit-identical to portable") {
    // refined k-means centroids are array<double> while the corpus is
    // array<float> — the native cosine must take the mixed pair without
    // an AnalysisException and match the reference accumulation exactly
    val emb = Tables.embeddings(spark, sf).limit(200)
    val asDouble = emb.select(col("vec_id").as("cid"),
      col("embedding").cast("array<double>").as("dv"))
    val pairs = emb.crossJoin(asDouble).where(col("vec_id") < col("cid")).limit(2000)
    val dd = col("embedding").cast("array<double>")
    val diffs = pairs.select(
      refCosine(col("embedding"), col("dv")).as("portable"),
      Similarity.cosine(col("embedding"), col("dv")).as("native"),
      refCosine(col("dv"), dd).as("portable_dd"),
      Similarity.cosine(col("dv"), dd).as("native_dd"))
      .where(col("portable") =!= col("native") || col("portable_dd") =!= col("native_dd"))
      .count()
    assert(diffs == 0, "mixed-width native and portable cosine diverged")
  }

  test("type check rejects non-float arrays") {
    val bad = spark.range(1).select(array(lit(1L)).as("v"))
    val e = intercept[Exception] {
      bad.select(call_function("vec_cosine", col("v"), col("v"))).collect()
    }
    assert(e.getMessage.toLowerCase.contains("vec_cosine") ||
      e.getMessage.toLowerCase.contains("type"))
  }
}
