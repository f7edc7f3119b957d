package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
import org.apache.spark.sql.functions._
import graft.plans.PlanShape

/** Spark's runtime bloom-filter join pruning — the shuffle-reduction
  * lever for selective fact⋈dim joins at 100 TB: the selective side's
  * join keys build a bloom filter that is pushed into the FACT side's
  * scan/shuffle, dropping non-matching rows BEFORE the exchange. It is
  * on by default (spark.sql.optimizer.runtime.bloomFilter.enabled) but
  * gated by a 10 GB application-side scan threshold, so it never fires
  * at test scale — this spec lowers the gate to prove the plan shape
  * our scans get at real scale, and that results are unchanged. */
class RuntimeFilterSpec extends SparkSpec {

  private def mightContain(df: DataFrame): Boolean =
    PlanShape.nodes(df.queryExecution.executedPlan)
      .exists(_.expressions.exists(_.exists(_.isInstanceOf[BloomFilterMightContain])))

  test("a selective join injects a bloom filter on the fact side at scale thresholds") {
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.enabled").map(k => k -> conf.get(k))
    try {
      // simulate the 100 TB regime: any fact scan qualifies, and the
      // dim is too big to broadcast (broadcast joins skip the filter —
      // they already prune at the probe)
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.enabled", "false")
      val li = Tables.lineitem(spark, sf)
      val sel = Tables.orders(spark, sf)
        .where(col("o_orderpriority") === "1-URGENT")
      val j = li.join(sel, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("qty"))
      assert(mightContain(j),
        s"no bloom filter injected:\n${PlanShape.of(j).json}")
      val withBloom = j.collect()

      // same query with the filter disabled → identical result
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "10GB")
      val without = li.join(sel, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("qty"))
      assert(!mightContain(without))
      assert(withBloom.sameElements(without.collect()))
    } finally saved.foreach { case (k, v) => conf.set(k, v) }
  }
}
