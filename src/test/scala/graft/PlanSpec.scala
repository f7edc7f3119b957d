package graft

import graft.{queries => gq}

/** Scale-posture assertions (SURVEY.md §4): filters and projections
  * must reach the parquet scan, dim joins must broadcast, and
  * window/agg plans must shuffle on their keys — checked on the
  * physical plan text so regressions are caught by CI, not by a
  * cluster bill. */
class PlanSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q_filter pushes predicates into the parquet scan") {
    val p = plan(gq.Relational.qFilter(spark, sf))
    assert(p.contains("PushedFilters:"), "expected pushed filters")
    assert(p.contains("GreaterThan(l_discount"), s"discount filter not pushed:\n$p")
  }

  test("q_tpch6 prunes columns at the scan") {
    val p = plan(gq.Tpch.qTpch6(spark, sf))
    // only the needed columns may be read
    assert(!p.contains("l_orderkey"), "column pruning failed — reads l_orderkey")
    assert(p.contains("l_extendedprice") && p.contains("l_discount"))
  }

  test("q_tpch3 broadcasts the customer dim") {
    val p = plan(gq.Tpch.qTpch3(spark, sf))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"expected broadcast join:\n$p")
  }

  test("q_agg_group is a two-phase (partial+final) hash aggregate") {
    val p = plan(gq.Agg.qAggGroup(spark, sf))
    assert(p.contains("HashAggregate"), "expected hash aggregate")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "expected partial + final aggregate phases")
  }

  test("windowed queries shuffle on the partition keys, not round-robin") {
    val p = plan(gq.Windows.qWinCumsum(spark, sf))
    assert(p.contains("hashpartitioning(o_custkey"),
      s"window should hash-partition on o_custkey:\n$p")
  }

  test("as-of join is one shuffle on the key — never a nested loop") {
    val p = plan(gq.Events.qAsofJoin(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"as-of join degenerated to a quadratic join:\n$p")
    assert(p.contains("hashpartitioning(user_id"),
      s"as-of union-sort should shuffle on user_id:\n$p")
  }

  test("range join is a banded equi-join — never a nested loop") {
    val p = plan(gq.Events.qRangeJoin(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join degenerated to a quadratic join:\n$p")
  }

  test("stratified sampling is a shuffle-free per-row filter") {
    val p = plan(graft.operators.Sampling.stratifiedSample(
      Tables.documents(spark, sf), "doc_id", "lang",
      Map("en" -> 0.2), 1.0))
    assert(!p.contains("Exchange"), s"sampling must not shuffle:\n$p")
  }

  test("correlated subqueries decorrelate to key joins, not nested loops") {
    val p2 = plan(gq.Tpch.qTpch2(spark, sf))
    assert(!p2.contains("BroadcastNestedLoopJoin") && !p2.contains("CartesianProduct"),
      s"scalar subquery not decorrelated:\n$p2")
    val p21 = plan(gq.Tpch.qTpch21(spark, sf))
    assert(!p21.contains("BroadcastNestedLoopJoin") && !p21.contains("CartesianProduct"),
      s"EXISTS/NOT EXISTS not decorrelated:\n$p21")
    assert(p21.contains("LeftSemi") && p21.contains("LeftAnti"),
      s"expected semi+anti joins from EXISTS/NOT EXISTS:\n$p21")
  }

  test("Q4/Q22 EXISTS shapes become semi/anti key joins") {
    val p4 = plan(gq.Tpch.qTpch4(spark, sf))
    assert(p4.contains("LeftSemi") && !p4.contains("BroadcastNestedLoopJoin"),
      s"Q4 EXISTS should be a left-semi key join:\n$p4")
    val p22 = plan(gq.Tpch.qTpch22(spark, sf))
    assert(p22.contains("LeftAnti") && !p22.contains("CartesianProduct"),
      s"Q22 NOT EXISTS should be a left-anti key join:\n$p22")
  }

  test("Q17 correlated scalar AVG decorrelates to an aggregate join-back") {
    val p = plan(gq.Tpch.qTpch17(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"per-part AVG subquery not decorrelated:\n$p")
    assert(p.contains("avg("), s"expected a per-part avg aggregate:\n$p")
  }

  test("Q19 disjunctive predicates keep the equi-join broadcast") {
    val p = plan(gq.Tpch.qTpch19(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      s"disjunction must not defeat the broadcast equi-join:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("IVF centroid pick is a distributed top-k, not a global sort") {
    val p = plan(graft.similarity.Similarity.ivfCentroids(
      Tables.embeddings(spark, sf), k = 16))
    assert(p.contains("TakeOrderedAndProject"),
      s"centroid pick should be per-partition top-k heaps:\n$p")
    // the corpus-wide projection must never pass through a
    // single-partition exchange on its way INTO the top-k — the only
    // allowed SinglePartition exchange is over the k picked rows
    val beforeLimit = p.substring(p.indexOf("TakeOrderedAndProject"))
    assert(!beforeLimit.contains("Exchange SinglePartition"),
      s"corpus projection funneled through one partition:\n$p")
  }

  test("whole-stage codegen covers the text-analysis expressions") {
    // AQE wraps the plan before execution; codegen-mode explain compiles
    // the current physical plan and reports the codegen subtrees.
    val p = gq.Text.qTextStats(spark, sf).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(p.contains("WholeStageCodegen"), "text stats fell out of codegen")
  }

  test("bm25 and repetition branches reuse one corpus exchange at runtime") {
    // both queries fan multiple aggregates off one token backbone; the
    // branches must collapse onto a shared shuffle (ReusedExchange) so
    // the corpus is scanned+tokenized once — reuse appears only in the
    // EXECUTED adaptive plan, so force execution through the same
    // QueryExecution before reading it
    for (q <- Seq(gq.Text.qTextBm25 _, gq.Text.qTextRepetition _)) {
      val df = q(spark, sf)
      df.collect()
      val p = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(p.contains("isFinalPlan=true"))
      assert(p.contains("ReusedExchange"),
        s"token backbone not shared across aggregate branches:\n$p")
    }
  }

  test("gap-fill LOCF window is banded by (type, day), grid explode multi-task") {
    val p = plan(gq.Events.qEventsGapfill(spark, sf))
    // the within-day LOCF window must partition on BOTH event_type and
    // day — a type-only partition would hold the whole history
    assert("""\[event_type#\d+L?, day#\d+""".r.findFirstIn(p).isDefined,
      s"LOCF window not banded by (event_type, day):\n$p")
    // grid generation must spread day rows across tasks before the
    // bucket explode — one task exploding the whole span doesn't scale
    assert(p.contains("hashpartitioning(day#"),
      s"grid generation not repartitioned by day:\n$p")
  }

  test("nearest-centroid assignment is a per-row expression — no Window") {
    // the assign used to rank an n·K crossJoin with row_number(),
    // shuffling and sorting every candidate row on vec_id; it is now
    // an array argmax over one broadcast centroid-array row, so the
    // k-means rollup plan must contain NO Window node at all and the
    // IVF search plan only the final per-query ranking window
    // the assignment window's signature was PARTITION BY vec_id; the
    // only windows allowed to remain are the k-row centroid pick
    // (PARTITION-less over 16 rows) and IVF's final per-query ranking
    for (q <- Seq(gq.DedupSim.qAnnKmeans _, gq.DedupSim.qAnnIvf _)) {
      val p = plan(q(spark, sf))
      assert(!p.contains("windowspecdefinition(vec_id"),
        s"nearest-centroid assignment regressed to a vec_id window:\n$p")
    }
  }

  test("fuzzy join is an equi-join on the compound (block, band) key") {
    val p = plan(gq.Relational.qFuzzyJoin(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"fuzzy join degenerated to a quadratic join:\n$p")
    assert("""\[blk#\d+, band#\d+""".r.findFirstIn(p).isDefined,
      s"join keys missing the length band:\n$p")
  }

  test("bpe pair stats shuffle the vocab, not the corpus") {
    val p = plan(gq.Text.qTextBpePairs(spark, sf))
    // exactly two hash-partitioned exchanges: the word-frequency
    // aggregate (corpus → vocab, map-side combined) and the pair
    // aggregate (vocab-sized); the char-pair explode must run ABOVE
    // the word aggregate so pair work never touches corpus rows
    val shuffles = """Exchange hashpartitioning\((\w+)#""".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(shuffles.sorted == Seq("pair", "word"),
      s"unexpected shuffle set $shuffles:\n$p")
    // plans print top-down: the FIRST Generate is the pair explode,
    // the last is the corpus tokenize below the word exchange
    val wordAgg = p.indexOf("Exchange hashpartitioning(word")
    val pairGen = p.indexOf("Generate explode")
    assert(pairGen >= 0 && wordAgg >= 0 && pairGen < wordAgg,
      s"pair explode not above the word aggregate (vocab-sized claim):\n$p")
    // top-50 is a distributed TakeOrdered, not a global sort
    assert(p.contains("TakeOrderedAndProject"), s"global sort for top-50:\n$p")
  }

  test("round-9 additions keep their claimed plan shapes") {
    // q_rfm / q_histogram_equidepth: quartile scoring WITHOUT a global
    // ntile/row_number — no Window node may appear at all
    assert(!plan(gq.Agg.qRfm(spark, sf)).contains("Window"),
      "rfm grew a window — the broadcast-percentile claim broke")
    assert(!plan(gq.Agg.qHistogramEquidepth(spark, sf)).contains("Window"),
      "equi-depth bucketing grew a window")
    // q_events_ohlc: one hash aggregate, no window/sort of raw events
    val ohlc = plan(gq.Events.qEventsOhlc(spark, sf))
    assert(!ohlc.contains("Window"), "ohlc should be a pure aggregate")
    assert(ohlc.contains("HashAggregate") || ohlc.contains("SortAggregate"))
    // q_asof_join_nearest: the two directional fills are two growing
    // frames (forward in reversed order) — two Windows, each with its
    // own sort, over ONE shared key exchange. The single-Window form
    // needed a currentRow..unboundedFollowing frame, O(partition²) and
    // 1.9x slower at sf0.1 on 4 cores; PlanLintSpec bans that frame in
    // every registered plan.
    val near = plan(gq.Events.qAsofJoinNearest(spark, sf))
    assert("\\bWindow\\b".r.findAllIn(near).length == 2,
      s"nearest as-of is no longer two growing-frame Windows:\n$near")
    assert("""Exchange hashpartitioning\(user_id#\w+, \d+\)""".r.findAllIn(near).length == 1,
      s"nearest as-of fills no longer share one key exchange:\n$near")
    assert(!near.contains("unboundedfollowing"),
      s"nearest as-of grew a re-aggregating following frame:\n$near")
    // q_profile: the distinct counts must NOT route through Expand
    // (the 10x regression this plan was rebuilt to avoid)
    assert(!plan(gq.Maintain.qProfile(spark, sf)).contains("Expand"),
      "profile regressed to the Expand multi-countDistinct plan")
  }

  test("round-9f additions keep their claimed plan shapes") {
    // q_text_pmi / q_events_paths: the top-k cut is a distributed
    // TakeOrderedAndProject — never a global-window rank
    val pmi = plan(gq.Text.qTextPmi(spark, sf))
    assert(pmi.contains("TakeOrderedAndProject"),
      s"pmi top-20 lost its distributed top-k:\n$pmi")
    // round 14: ZERO windows — bigrams come from the per-doc words
    // array (zip_with of shifted slices), so any Window here means the
    // build regressed to the lead() token shuffle or a global rank
    assert(!pmi.contains("Window"),
      s"pmi grew a window (array bigram build or top-k regressed):\n$pmi")
    val paths = plan(gq.Events.qEventsPaths(spark, sf))
    assert(paths.contains("TakeOrderedAndProject"),
      s"paths top-20 lost its distributed top-k:\n$paths")
    // q_events_cusum: the four stacked frames and the final per-type
    // aggregate all ride ONE event_type exchange — exactly two
    // exchanges total before the display sort (rollup + event_type)
    val cus = gq.Events.qEventsCusum(spark, sf)
      .queryExecution.executedPlan.toString
    val nEx = "\\bExchange\\b".r.findAllIn(cus).length
    assert(nEx <= 3, s"cusum grew extra shuffles ($nEx):\n$cus")
    assert("\\bWindow\\b".r.findAllIn(cus).length == 4,
      s"cusum window stack changed:\n$cus")
    // q_events_funnel_window: the three stage mins stack as Window
    // nodes over ONE user_id exchange — no join of the fact to itself
    val fw = plan(gq.Events.qEventsFunnelWindow(spark, sf))
    assert("\\bWindow\\b".r.findAllIn(fw).length == 3,
      s"funnel window lost its three-stage stack:\n$fw")
    assert(!fw.contains("Join"),
      s"funnel window regressed to the join-back shape:\n$fw")
    // q_agg_weighted_median: the raw fact is never globally sorted —
    // the only Sort nodes are the window's intra-partition sorts and
    // the 3-row display sort
    val wm = plan(gq.Agg.qAggWeightedMedian(spark, sf))
    assert(wm.contains("Window") && wm.contains("HashAggregate"),
      s"weighted median lost its collapse-then-window shape:\n$wm")
  }

  test("pipeline_train: decontam screen is broadcast-sized, no quadratic join") {
    // the composed flagship must keep every stage's scale shape: the
    // eval-shingle screen and the contamination anti-join both key on
    // small-by-construction sides, so the runtime (AQE) plan should
    // carry broadcast hash joins and nothing worse than an equi-join
    val df = gq.Text.qPipelineTrain(spark, sf)
    df.collect()
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("isFinalPlan=true"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"a pipeline stage degenerated to a quadratic join:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"eval-shingle screen did not broadcast at runtime:\n$p")
    assert(p.contains("LeftAnti"),
      s"contamination drop lost its anti-join shape:\n$p")
  }
}
