package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.PlanShape
import graft.plans.PlanShape.{Exchange, Frame}

/** The typed plan walker reads what the plan-shape specs and
  * plans.jsonl rely on: join strategy, window frame kinds, shuffle
  * keys without expression ids, runtime reuse, checkpoint scans, and
  * the same line for two builds of one query. */
class PlanShapeSpec extends SparkSpec {

  private def frame(n: Int) = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, (i % 7).toLong, i.toDouble)).toDF("id", "k", "v")
  }

  test("a small join is BHJ by default and SMJ when broadcasts are off") {
    def strategies = PlanShape.of(frame(100).join(frame(50), "id")).joins.map(_.strategy)
    assert(strategies == Seq("BHJ"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try assert(strategies == Seq("SMJ"))
    finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("ROWS and RANGE frames are told apart") {
    val w = Window.partitionBy(col("k")).orderBy(col("id"))
    val p = PlanShape.of(frame(100)
      .withColumn("r", sum(col("v")).over(w.rowsBetween(-2, Window.currentRow)))
      .withColumn("g", sum(col("v")).over(w.rangeBetween(-2, Window.currentRow))))
    assert(p.windows.flatMap(_.frames).toSet ==
      Set(Frame("ROWS", "-2", "CURRENT ROW"), Frame("RANGE", "-2L", "CURRENT ROW")))
    assert(p.windows.map(_.keys).distinct == Seq(Seq("k")))
  }

  test("hash exchanges record key names without expression ids") {
    val p = PlanShape.of(frame(100).repartition(col("k"), col("id")))
    assert(p.exchanges == Seq(Exchange("hash", Seq("id", "k"))))
  }

  test("a reused exchange shows only in the final plan") {
    val agg = frame(1000).groupBy(col("k")).agg(sum(col("v")).as("s"))
    val df = agg.union(agg)
    val before = PlanShape.of(df)
    assert(!before.finalPlan && before.reused == 0)
    df.collect()
    val after = PlanShape.of(df)
    assert(after.finalPlan && after.reused > 0, after.json)
  }

  test("a localCheckpointed input is an RDD scan") {
    val p = PlanShape.of(frame(100).localCheckpoint().groupBy(col("k")).count())
    assert(p.rddScans == 1 && p.scans.isEmpty, p.json)
  }

  test("two builds of one query give equal lines") {
    // q_sketch_rollup's distinct aggregates order its Expand keys by
    // expression-id hashes
    for (q <- Seq("q_tpch3", "q_text_pmi", "q_sketch_rollup")) {
      def line = {
        val (df, materialized) = Materialize.recording(SparkEntry.queries(q)(spark, sf))
        PlanShape.line(q, df, materialized)
      }
      val first = line
      assert(line == first)
    }
  }
}
