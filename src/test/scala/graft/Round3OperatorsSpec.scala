package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.VarFrame

/** Round-3 operators, each checked against a native-Spark reference
  * computation of the same semantics. */
class Round3OperatorsSpec extends SparkSpec {

  test("varFrameAgg with constant bounds equals Spark's native ROWS frame") {
    val orders = Tables.orders(spark, sf)
    val got = VarFrame.varFrameAgg(
      orders,
      partitionCols = Seq("o_custkey"),
      orderCols = Seq(col("o_orderdate"), col("o_orderkey")),
      valueCol = col("o_totalprice"),
      preceding = lit(2), following = lit(1))
      .select(col("o_orderkey"), col("vf_sum"), col("vf_cnt"))
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(-2, 1)
    val want = orders.select(
      col("o_orderkey"),
      sum(col("o_totalprice").cast("decimal(18,4)")).over(w).as("vf_sum"),
      count(lit(1)).over(w).as("vf_cnt"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("varFrameAgg negative preceding can empty the frame") {
    import spark.implicits._
    // preceding = -1, following = 0 → frame [rn+1, rn]: always empty
    val df = Seq((1L, 1L, 10.0), (1L, 2L, 20.0)).toDF("g", "k", "v")
    val got = VarFrame.varFrameAgg(df, Seq("g"), Seq(col("k")), col("v"),
      preceding = lit(-1), following = lit(0))
      .select(col("k"), col("vf_sum"), col("vf_cnt"))
      .collect().map(r => (r.getLong(0), r.get(1), r.getLong(2))).toSet
    assert(got == Set((1L, null, 0L), (2L, null, 0L)))
  }
}
