package graft

import org.apache.spark.sql.functions._
import graft.plans.PlanShape
import graft.sources.Bucketing

/** Bucketed joins must not shuffle: the write-time hash partitioning
  * replaces the per-query Exchange. */
class BucketingSpec extends SparkSpec {

  test("join of co-bucketed tables has no shuffle exchange") {
    // broadcast would bypass the point — force the sort-merge path
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Bucketing.writeBucketed(
        Tables.orders(spark, sf), "b_orders", "o_custkey", 8,
        sortCols = Seq("o_custkey"))
      Bucketing.writeBucketed(
        Tables.customer(spark, sf), "b_customer", "c_custkey", 8,
        sortCols = Seq("c_custkey"))
      val joined = Bucketing.bucketedJoin(
        spark, "b_orders", "b_customer", "o_custkey", "c_custkey")
      val plan = PlanShape.of(joined)
      assert(plan.joins.exists(_.strategy == "SMJ"), s"expected SMJ:\n${plan.json}")
      assert(plan.exchanges.isEmpty && plan.broadcasts == 0 && plan.reused == 0,
        s"bucketed join should not shuffle:\n${plan.json}")
      // and it still returns the right rows
      assert(joined.count() ==
        Tables.orders(spark, sf).join(
          Tables.customer(spark, sf),
          col("o_custkey") === col("c_custkey")).count())
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
    }
  }

  test("incremental-dedup band join reads the index with no corpus-side shuffle") {
    import graft.dedup.Dedup
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val docs = Tables.documents(spark, sf)
      val corpus = docs.where(col("source") =!= "src0")
      val batch = docs.where(col("source") === "src0")
      Dedup.writeBandIndex(corpus, "doc_id", "text", 3, "band_idx_t", 8)
      val idx = spark.table("band_idx_t")
      val joined = Dedup
        .minhashBands(Dedup.minhashShingleRows(batch, "doc_id", "text", 3))
        .select(col("id"), col("band"), col("bucket"))
        .join(idx, Seq("band", "bucket"))
      def strip(p: SparkPlan): SparkPlan = p match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }
      val smj = strip(joined.queryExecution.executedPlan)
        .collectFirst { case j: SortMergeJoinExec => j }
      assert(smj.nonEmpty, "expected a sort-merge band join")
      // the index side: contains the bucketed file scan and NO shuffle
      val indexSide = Seq(smj.get.left, smj.get.right).filter(
        _.collectFirst { case f: FileSourceScanExec if f.bucketedScan => f }
          .nonEmpty)
      assert(indexSide.nonEmpty, "bucketed index scan not found under the join")
      assert(indexSide.head
        .collectFirst { case e: ShuffleExchangeExec => e }.isEmpty,
        s"corpus side of the band join shuffled:\n${indexSide.head}")
      // and the indexed screen returns exactly the in-plan verdicts
      val viaIndex = Dedup.incrementalDedupScreen(batch,
        Dedup.contentHashes(corpus, "doc_id", "text")
          .select(col("h")).distinct(),
        idx, "doc_id", "text", 3).collect().toSeq
      val inPlan = Dedup.incrementalDedup(
        batch, corpus, "doc_id", "text", 3).collect().toSeq
      assert(viaIndex == inPlan)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS band_idx_t")
    }
  }

  test("khop frontier join reads a bucketed adjacency with no adjacency-side shuffle") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // the 100-TB shape qGraphKhop's scaladoc names: the stationary
      // adjacency persists BUCKETED on its join key, so each BFS
      // round's frontier expansion shuffles only the (small) frontier
      // — the big side never moves
      val items = Tables.lineitem(spark, sf)
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val edges = items.as("a").join(items.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
        .select(col("a.l_partkey").as("pa"), col("b.l_partkey").as("pb"))
        .distinct()
      val adj = edges.select(col("pa").as("u"), col("pb").as("v"))
        .unionAll(edges.select(col("pb").as("u"), col("pa").as("v")))
      Bucketing.writeBucketed(adj, "b_adj", "u", 8, sortCols = Seq("u"))
      val idx = spark.table("b_adj")
      val frontier = idx.select(col("u").as("node"))
        .where(col("node") <= 20L).distinct()
      val joined = frontier.join(idx, col("node") === col("u"))
        .select(col("v").as("node"))
      def strip(p: SparkPlan): SparkPlan = p match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }
      val smj = strip(joined.queryExecution.executedPlan)
        .collectFirst { case j: SortMergeJoinExec => j }
      assert(smj.nonEmpty, "expected a sort-merge frontier join")
      val adjSide = Seq(smj.get.left, smj.get.right).filter(
        _.collectFirst { case f: FileSourceScanExec if f.bucketedScan => f }
          .nonEmpty)
      assert(adjSide.nonEmpty, "bucketed adjacency scan not found")
      assert(adjSide.head
        .collectFirst { case e: ShuffleExchangeExec => e }.isEmpty,
        s"adjacency side of the frontier join shuffled:\n${adjSide.head}")
      // the bucketed round returns the same frontier the in-plan
      // adjacency produces
      val viaIdx = joined.collect().map(_.getLong(0)).sorted.toSeq
      val inPlan = adj.select(col("u").as("node2"), col("v"))
        .where(col("node2") <= 20L)
        .select(col("v")).collect().map(_.getLong(0)).sorted.toSeq
      assert(viaIdx == inPlan)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS b_adj")
    }
  }

  test("aggregation on the bucket key avoids the shuffle too") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Bucketing.writeBucketed(
        Tables.orders(spark, sf), "b_orders2", "o_custkey", 8)
      val agg = spark.table("b_orders2")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"))
      val plan = PlanShape.of(agg)
      assert(plan.exchanges.isEmpty && plan.broadcasts == 0 && plan.reused == 0,
        s"bucketed aggregation should not shuffle:\n${plan.json}")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS b_orders2")
    }
  }
}
