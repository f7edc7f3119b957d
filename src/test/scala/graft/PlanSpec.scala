package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.expressions.aggregate.Average
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{GenerateExec, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import graft.plans.PlanShape
import graft.plans.PlanShape.Exchange
import graft.{queries => gq}

/** Scale-posture assertions (SURVEY.md §4): filters and projections
  * must reach the parquet scan, dim joins must broadcast, and
  * window/agg plans must shuffle on their keys — checked on each
  * physical plan's typed [[PlanShape]] so regressions are caught by
  * CI, not by a cluster bill. */
class PlanSpec extends SparkSpec {

  private def plan(df: DataFrame): PlanShape = PlanShape.of(df)

  private def quadratic(p: PlanShape): Boolean =
    p.joins.exists(j => j.strategy == "BNLJ" || j.strategy == "Cartesian")

  private def hashOn(p: PlanShape, key: String): Boolean =
    p.exchanges.contains(Exchange("hash", Seq(key)))

  test("q_filter pushes predicates into the parquet scan") {
    val p = plan(gq.Relational.qFilter(spark, sf))
    assert(p.scans.exists(_.pushed.contains("GreaterThan(l_discount,0.05)")),
      s"discount filter not pushed:\n${p.scans}")
  }

  test("q_tpch6 prunes columns at the scan") {
    val p = plan(gq.Tpch.qTpch6(spark, sf))
    // only the needed columns may be read
    assert(p.scans.map(_.columns) ==
      Seq(Seq("l_quantity", "l_extendedprice", "l_discount", "l_shipdate")),
      s"column pruning failed:\n${p.scans}")
  }

  test("q_tpch3 broadcasts the customer dim") {
    val p = plan(gq.Tpch.qTpch3(spark, sf))
    assert(p.joins.exists(_.strategy == "BHJ") && p.broadcasts > 0,
      s"expected broadcast join:\n${p.json}")
  }

  test("q_agg_group is a two-phase (partial+final) hash aggregate") {
    val p = plan(gq.Agg.qAggGroup(spark, sf))
    assert(p.aggregates.count(_ == "HashAggregate") >= 2,
      "expected partial + final aggregate phases")
  }

  test("windowed queries shuffle on the partition keys, not round-robin") {
    val p = plan(gq.Windows.qWinCumsum(spark, sf))
    assert(hashOn(p, "o_custkey"),
      s"window should hash-partition on o_custkey:\n${p.json}")
  }

  test("as-of join is one shuffle on the key — never a nested loop") {
    val p = plan(gq.Events.qAsofJoin(spark, sf))
    assert(!quadratic(p), s"as-of join degenerated to a quadratic join:\n${p.json}")
    assert(hashOn(p, "user_id"), s"as-of union-sort should shuffle on user_id:\n${p.json}")
  }

  test("range join is a banded equi-join — never a nested loop") {
    val p = plan(gq.Events.qRangeJoin(spark, sf))
    assert(!quadratic(p), s"range join degenerated to a quadratic join:\n${p.json}")
  }

  test("stratified sampling is a shuffle-free per-row filter") {
    val p = plan(graft.operators.Sampling.stratifiedSample(
      Tables.documents(spark, sf), "doc_id", "lang",
      Map("en" -> 0.2), 1.0))
    assert(p.exchanges.isEmpty && p.broadcasts == 0 && p.reused == 0,
      s"sampling must not shuffle:\n${p.json}")
  }

  test("correlated subqueries decorrelate to key joins, not nested loops") {
    val p2 = plan(gq.Tpch.qTpch2(spark, sf))
    assert(!quadratic(p2), s"scalar subquery not decorrelated:\n${p2.json}")
    val p21 = plan(gq.Tpch.qTpch21(spark, sf))
    assert(!quadratic(p21), s"EXISTS/NOT EXISTS not decorrelated:\n${p21.json}")
    assert(Set("LeftSemi", "LeftAnti").subsetOf(p21.joins.map(_.joinType).toSet),
      s"expected semi+anti joins from EXISTS/NOT EXISTS:\n${p21.json}")
  }

  test("Q4/Q22 EXISTS shapes become semi/anti key joins") {
    val p4 = plan(gq.Tpch.qTpch4(spark, sf))
    assert(p4.joins.exists(_.joinType == "LeftSemi") && !p4.joins.exists(_.strategy == "BNLJ"),
      s"Q4 EXISTS should be a left-semi key join:\n${p4.json}")
    val p22 = plan(gq.Tpch.qTpch22(spark, sf))
    assert(p22.joins.exists(_.joinType == "LeftAnti") && !p22.joins.exists(_.strategy == "Cartesian"),
      s"Q22 NOT EXISTS should be a left-anti key join:\n${p22.json}")
  }

  test("Q17 correlated scalar AVG decorrelates to an aggregate join-back") {
    val df = gq.Tpch.qTpch17(spark, sf)
    val p = plan(df)
    assert(!quadratic(p), s"per-part AVG subquery not decorrelated:\n${p.json}")
    assert(PlanShape.nodes(df.queryExecution.executedPlan)
      .exists(_.expressions.exists(_.exists(_.isInstanceOf[Average]))),
      s"expected a per-part avg aggregate:\n${p.json}")
  }

  test("Q19 disjunctive predicates keep the equi-join broadcast") {
    val p = plan(gq.Tpch.qTpch19(spark, sf))
    assert(p.joins.exists(_.strategy == "BHJ"),
      s"disjunction must not defeat the broadcast equi-join:\n${p.json}")
    assert(!p.joins.exists(_.strategy == "Cartesian"))
  }

  test("IVF centroid pick is a distributed top-k, not a global sort") {
    val nodes = PlanShape.nodes(graft.similarity.Similarity.ivfCentroids(
      Tables.embeddings(spark, sf), k = 16).queryExecution.executedPlan)
    val top = nodes.indexWhere(_.isInstanceOf[TakeOrderedAndProjectExec])
    assert(top >= 0, "centroid pick should be per-partition top-k heaps")
    // the corpus-wide projection must never pass through a
    // single-partition exchange on its way INTO the top-k — the only
    // allowed SinglePartition exchange is over the k picked rows
    assert(!nodes.drop(top).exists {
      case e: ShuffleExchangeExec => e.outputPartitioning == SinglePartition
      case _ => false
    }, "corpus projection funneled through one partition")
  }

  test("whole-stage codegen covers the text-analysis expressions") {
    // AQE collapses codegen stages as it runs each stage, so the
    // stages exist in the final plan only
    val df = gq.Text.qTextStats(spark, sf)
    df.collect()
    val p = plan(df)
    assert(p.finalPlan && p.codegenStages > 0, s"text stats fell out of codegen:\n${p.json}")
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
      val p = plan(df)
      assert(p.finalPlan)
      assert(p.reused > 0, s"token backbone not shared across aggregate branches:\n${p.json}")
    }
  }

  test("gap-fill LOCF window is banded by (type, day), grid explode multi-task") {
    val p = plan(gq.Events.qEventsGapfill(spark, sf))
    // the within-day LOCF window must partition on BOTH event_type and
    // day — a type-only partition would hold the whole history
    assert(p.windows.exists(_.keys.take(2) == Seq("event_type", "day")),
      s"LOCF window not banded by (event_type, day):\n${p.json}")
    // grid generation must spread day rows across tasks before the
    // bucket explode — one task exploding the whole span doesn't scale
    assert(hashOn(p, "day"), s"grid generation not repartitioned by day:\n${p.json}")
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
      val vecIdWindows = PlanShape.nodes(q(spark, sf).queryExecution.executedPlan).collect {
        case w: WindowExec if (w.partitionSpec ++ w.orderSpec.map(_.child)).headOption.exists {
          case a: Attribute => a.name == "vec_id"
          case _ => false
        } => w
      }
      assert(vecIdWindows.isEmpty,
        s"nearest-centroid assignment regressed to a vec_id window:\n${vecIdWindows.mkString("\n")}")
    }
  }

  test("fuzzy join is an equi-join on the compound (block, band) key") {
    val p = plan(gq.Relational.qFuzzyJoin(spark, sf))
    assert(!quadratic(p), s"fuzzy join degenerated to a quadratic join:\n${p.json}")
    assert(p.joins.exists(j => (j.leftKeys.take(2) == Seq("blk", "band")) ||
      (j.rightKeys.take(2) == Seq("blk", "band"))),
      s"join keys missing the length band:\n${p.json}")
  }

  test("bpe pair stats shuffle the vocab, not the corpus") {
    val df = gq.Text.qTextBpePairs(spark, sf)
    val p = plan(df)
    // exactly two hash-partitioned exchanges: the word-frequency
    // aggregate (corpus → vocab, map-side combined) and the pair
    // aggregate (vocab-sized); the char-pair explode must run ABOVE
    // the word aggregate so pair work never touches corpus rows
    val shuffles = p.exchanges.filter(_.kind == "hash").map(_.keys)
    assert(shuffles.sortBy(_.mkString) == Seq(Seq("pair"), Seq("word")),
      s"unexpected shuffle set $shuffles:\n${p.json}")
    // the first explode in plan order is the pair explode; the word
    // exchange must sit below it
    val pairGen = PlanShape.nodes(df.queryExecution.executedPlan)
      .collectFirst { case g: GenerateExec if g.generator.prettyName == "explode" => g }
    assert(pairGen.exists(g => PlanShape.of(g).exchanges.contains(Exchange("hash", Seq("word")))),
      s"pair explode not above the word aggregate (vocab-sized claim):\n${p.json}")
    // top-50 is a distributed TakeOrdered, not a global sort
    assert(p.topK > 0, s"global sort for top-50:\n${p.json}")
  }

  test("round-9 additions keep their claimed plan shapes") {
    // q_rfm / q_histogram_equidepth: quartile scoring WITHOUT a global
    // ntile/row_number — no Window node may appear at all
    assert(plan(gq.Agg.qRfm(spark, sf)).windows.isEmpty,
      "rfm grew a window — the broadcast-percentile claim broke")
    assert(plan(gq.Agg.qHistogramEquidepth(spark, sf)).windows.isEmpty,
      "equi-depth bucketing grew a window")
    // q_events_ohlc: one hash aggregate, no window/sort of raw events
    val ohlc = plan(gq.Events.qEventsOhlc(spark, sf))
    assert(ohlc.windows.isEmpty, "ohlc should be a pure aggregate")
    assert(ohlc.aggregates.exists(a => a == "HashAggregate" || a == "SortAggregate"))
    // q_asof_join_nearest: the two directional fills are two growing
    // frames (forward in reversed order) — two Windows, each with its
    // own sort, over ONE shared key exchange. The single-Window form
    // needed a currentRow..unboundedFollowing frame, O(partition²) and
    // 1.9x slower at sf0.1 on 4 cores; PlanLintSpec bans that frame in
    // every registered plan.
    val near = plan(gq.Events.qAsofJoinNearest(spark, sf))
    assert(near.windows.size == 2,
      s"nearest as-of is no longer two growing-frame Windows:\n${near.json}")
    assert(near.exchanges.count(_ == Exchange("hash", Seq("user_id"))) == 1,
      s"nearest as-of fills no longer share one key exchange:\n${near.json}")
    assert(!near.windows.exists(_.frames.exists(_.upper == "UNBOUNDED FOLLOWING")),
      s"nearest as-of grew a re-aggregating following frame:\n${near.json}")
    // q_profile: the distinct counts must NOT route through Expand
    // (the 10x regression this plan was rebuilt to avoid)
    assert(plan(gq.Maintain.qProfile(spark, sf)).expands == 0,
      "profile regressed to the Expand multi-countDistinct plan")
  }

  test("round-9f additions keep their claimed plan shapes") {
    // q_text_pmi / q_events_paths: the top-k cut is a distributed
    // TakeOrderedAndProject — never a global-window rank
    val pmi = plan(gq.Text.qTextPmi(spark, sf))
    assert(pmi.topK > 0, s"pmi top-20 lost its distributed top-k:\n${pmi.json}")
    // round 14: ZERO windows — bigrams come from the per-doc words
    // array (zip_with of shifted slices), so any Window here means the
    // build regressed to the lead() token shuffle or a global rank
    assert(pmi.windows.isEmpty,
      s"pmi grew a window (array bigram build or top-k regressed):\n${pmi.json}")
    val paths = plan(gq.Events.qEventsPaths(spark, sf))
    assert(paths.topK > 0, s"paths top-20 lost its distributed top-k:\n${paths.json}")
    // q_events_cusum: the four stacked frames and the final per-type
    // aggregate all ride ONE event_type exchange — exactly two
    // exchanges total before the display sort (rollup + event_type)
    val cus = plan(gq.Events.qEventsCusum(spark, sf))
    assert(cus.exchanges.size <= 3, s"cusum grew extra shuffles:\n${cus.json}")
    assert(cus.windows.size == 4, s"cusum window stack changed:\n${cus.json}")
    // q_events_funnel_window: the three stage mins stack as Window
    // nodes over ONE user_id exchange — no join of the fact to itself
    val fw = plan(gq.Events.qEventsFunnelWindow(spark, sf))
    assert(fw.windows.size == 3, s"funnel window lost its three-stage stack:\n${fw.json}")
    assert(fw.joins.isEmpty, s"funnel window regressed to the join-back shape:\n${fw.json}")
    // q_agg_weighted_median: the raw fact is never globally sorted —
    // the only Sort nodes are the window's intra-partition sorts and
    // the 3-row display sort
    val wm = plan(gq.Agg.qAggWeightedMedian(spark, sf))
    assert(wm.windows.nonEmpty && wm.aggregates.contains("HashAggregate"),
      s"weighted median lost its collapse-then-window shape:\n${wm.json}")
  }

  test("pipeline_train: decontam screen is broadcast-sized, no quadratic join") {
    // the composed flagship must keep every stage's scale shape: the
    // eval-shingle screen and the contamination anti-join both key on
    // small-by-construction sides, so the runtime (AQE) plan should
    // carry broadcast hash joins and nothing worse than an equi-join
    val df = gq.Text.qPipelineTrain(spark, sf)
    df.collect()
    val p = plan(df)
    assert(p.finalPlan)
    assert(!quadratic(p), s"a pipeline stage degenerated to a quadratic join:\n${p.json}")
    assert(p.joins.exists(_.strategy == "BHJ"),
      s"eval-shingle screen did not broadcast at runtime:\n${p.json}")
    assert(p.joins.exists(_.joinType == "LeftAnti"),
      s"contamination drop lost its anti-join shape:\n${p.json}")
  }
}
