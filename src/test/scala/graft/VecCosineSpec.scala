package graft

import org.apache.spark.sql.functions._
import graft.similarity.Similarity

/** The native codegen'd VecCosine must be registered by GraftExtensions
  * and bit-identical to the portable higher-order-function cosine. */
class VecCosineSpec extends SparkSpec {

  test("GraftExtensions registers vec_cosine in the session") {
    assert(spark.catalog.functionExists("vec_cosine"))
  }

  test("native cosine is bit-identical to the portable cosine") {
    val emb = Tables.embeddings(spark, sf).limit(200)
    val pairs = emb.as("x").crossJoin(emb.as("y"))
      .where(col("x.vec_id") < col("y.vec_id"))
      .limit(5000)
    val diffs = pairs.select(
      Similarity.cosine(col("x.embedding"), col("y.embedding")).as("portable"),
      call_function("vec_cosine", col("x.embedding"), col("y.embedding")).as("native"))
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
      Similarity.lshSignature(col("embedding"), 8, table = 2).as("portable"),
      call_function("vec_lsh", col("embedding"), lit(8), lit(2)).as("native"))
      .where(col("portable") =!= col("native"))
      .count()
    assert(diffs == 0, "native and portable LSH signatures diverged")
  }

  test("vec_lsh handles vectors wider than the pre-tabulated plane matrix") {
    // 5000 dims > PlaneDims (4096): the tail must be computed on demand
    // and still agree with the portable formula (which has no cap)
    val wide = spark.range(20).select(
      col("id"),
      transform(sequence(lit(0), lit(4999)),
        i => (i.cast("float") * lit(0.37f) - col("id").cast("float"))
          .cast("float")).as("embedding"))
    val diffs = wide.select(
      Similarity.lshSignature(col("embedding"), 8, table = 1).as("portable"),
      call_function("vec_lsh", col("embedding"), lit(8), lit(1)).as("native"))
      .where(col("portable") =!= col("native"))
      .count()
    assert(diffs == 0, "wide-vector native and portable LSH diverged")
  }

  test("mixed float/double inputs are accepted and bit-identical to portable") {
    // refined k-means centroids are array<double> while the corpus is
    // array<float> — the native cosine must take the mixed pair without
    // an AnalysisException and match the portable accumulation exactly
    val emb = Tables.embeddings(spark, sf).limit(200)
    val asDouble = emb.select(col("vec_id").as("cid"),
      col("embedding").cast("array<double>").as("dv"))
    val pairs = emb.crossJoin(asDouble).where(col("vec_id") < col("cid")).limit(2000)
    val diffs = pairs.select(
      Similarity.cosine(col("embedding"), col("dv")).as("portable"),
      call_function("vec_cosine", col("embedding"), col("dv")).as("native"))
      .where(col("portable") =!= col("native"))
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
