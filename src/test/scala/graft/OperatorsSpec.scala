package graft

import org.apache.spark.sql.functions._
import graft.operators.{SkewJoin, SlidingAgg}

/** Salted-join equivalence + prefix-sum sliding stats vs Spark's
  * direct window computation. */
class OperatorsSpec extends SparkSpec {

  test("salted inner join is row-identical to the plain join") {
    val fact = Tables.orders(spark, sf)
    val dim = Tables.customer(spark, sf)
    val plain = fact.join(dim, fact("o_custkey") === dim("c_custkey"))
      .select("o_orderkey", "c_custkey")
    val salted = SkewJoin.saltedInnerJoin(fact, dim, "o_custkey", "c_custkey", 8)
      .select("o_orderkey", "c_custkey")
    assert(plain.exceptAll(salted).isEmpty && salted.exceptAll(plain).isEmpty)
  }

  test("prefix-sum sliding stats equal Spark's direct frame computation") {
    import org.apache.spark.sql.expressions.Window
    val ord = Seq(col("o_orderdate"), col("o_orderkey"))
    val w = Window.partitionBy(col("o_custkey")).orderBy(ord: _*)
      .rowsBetween(-9, 0)
    val direct = Tables.orders(spark, sf).select(
      col("o_orderkey"),
      round(avg(col("o_totalprice")).over(w), 6).as("avg_d"),
      var_samp(col("o_totalprice")).over(w).as("var_d"))
    val fast = SlidingAgg.slidingStats(
      Tables.orders(spark, sf),
      partitionBy = Seq(col("o_custkey")), orderBy = ord,
      valueCol = col("o_totalprice"), w = 10)
      .select(col("o_orderkey"), col("sl_avg"), col("sl_var_samp"))
    // averages from exact decimal sums must match bit-for-bat after
    // rounding; variance is compared at double-ulp relative tolerance
    // (direct float computation vs exact-decimal formula differ in the
    // last bits at magnitude ~1e10)
    val joined = direct.join(fast, "o_orderkey")
      .where(col("avg_d") =!= col("sl_avg") ||
        (abs(coalesce(col("var_d"), lit(0)) - coalesce(col("sl_var_samp"), lit(0))) >
          greatest(abs(col("var_d")) * 1e-9, lit(1e-9))))
    assert(joined.isEmpty, joined.limit(5).collect().mkString("\n"))
  }

  test("sliding stats skip nulls like SQL window aggregates") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val df = Seq(
      (1, 1, Some(10.0)), (1, 2, None), (1, 3, Some(30.0)), (1, 4, None),
      (1, 5, Some(50.0)), (2, 1, None), (2, 2, None), (2, 3, Some(7.0)))
      .toDF("k", "seq", "v")
    val w = Window.partitionBy(col("k")).orderBy(col("seq")).rowsBetween(-2, 0)
    val direct = df.select(col("k"), col("seq"),
      count(col("v")).over(w).as("n_d"),
      round(avg(col("v")).over(w), 6).as("avg_d"),
      round(var_samp(col("v")).over(w), 6).as("var_d"))
    val fast = SlidingAgg.slidingStats(
      df, Seq(col("k")), Seq(col("seq")), col("v"), w = 3)
      .select(col("k"), col("seq"), col("sl_n"), col("sl_avg"), col("sl_var_samp"))
    val joined = direct.join(fast, Seq("k", "seq"))
      .where(col("n_d") =!= col("sl_n") ||
        !(col("avg_d") <=> col("sl_avg")) ||
        !(col("var_d") <=> col("sl_var_samp")))
    assert(joined.isEmpty, joined.collect().mkString("\n"))
  }
}
