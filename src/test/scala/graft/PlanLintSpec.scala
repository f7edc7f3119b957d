package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Cast, SpecifiedWindowFrame,
  UnboundedFollowing, UnboundedPreceding}
import org.apache.spark.sql.catalyst.expressions.aggregate.Sum
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Window => LWindow}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.window.WindowGroupLimitExec
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import graft.plans.PlanShape

/** Global scale lint: every registered query's plan, swept for the
  * shapes that silently stop scaling — quadratic joins (cartesian /
  * pure-theta against an unbounded side), whole-relation windows and
  * re-aggregating following frames (`currentRow..unboundedFollowing`).
  * PlanSpec asserts shapes query-by-query; this spec guards every
  * FUTURE query by construction: a new registration with a stray
  * crossJoin or unpartitioned window fails here unless it is
  * explicitly reviewed onto an allowlist. */
class PlanLintSpec extends SparkSpec {

  /** A registered query as built, with the plans it materialized on
    * the way and its plans.jsonl line. */
  private case class Built(name: String, df: DataFrame, materialized: Seq[PlanShape],
      line: String)

  /** Every registered query, built once in name order, for the sweeps
    * below: a build runs the eager jobs of iterative queries, so
    * rebuilding all of them per sweep repeated that work. */
  private var built: Seq[Built] = _

  private def registered: Seq[Built] = {
    if (built == null)
      built = SparkEntry.select(None).map { case (name, q) =>
        val (df, materialized) = Materialize.recording(q(spark, sf))
        Built(name, df, materialized, PlanShape.line(name, df, materialized))
      }
    built
  }

  // other suites in this JVM cache their outputs, and a cached
  // relation changes the plans of the queries that contain it
  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.catalog.clearCache()
  }

  override def afterAll(): Unit = {
    built = null
    super.afterAll()
  }

  /** A join side this small is broadcast-trivial at any scale: 1-row
    * bounds/count aggregates, a LIMITed centroid pick, etc. */
  private val SmallSide = 64L

  /** Reviewed non-equi/cross joins:
    *  - q_cross_join — the reference's cross-join parity query;
    *  - q_ann_bruteforce — the exactness BASELINE the approximate ANN
    *    paths are measured against; its query side is a bounded
    *    broadcast by contract;
    *  - q_embed_bitsim — the 1-bit Hamming scan: same bounded
    *    broadcast-query-set cross as q_ann_bruteforce, over 8-byte
    *    packed rows;
    *  - q_ann_recall — embeds q_ann_bruteforce AND q_embed_bitsim
    *    verbatim as subplans, so it inherits those bounded broadcast
    *    crosses;
    *  - q_ann_rank_metrics — ranks the same approximate methods as
    *    q_ann_recall, so it inherits q_embed_bitsim's bounded cross
    *    (its only `=` is the self-pair exclusion `query_id <> vec_id`);
    *  - q_embed_mrl — q_ann_bruteforce's scan of the bounded query set
    *    (vec_id < 20) at each Matryoshka prefix dimension, with the
    *    same self-pair exclusion as its only `=`;
    *  - q_ivf_dedup_recall — measurement query whose truth side is the
    *    all-pairs cosine sweep at the dedup threshold; bounded QA
    *    cross by design (run on a sample at real scale), documented on
    *    DedupSim.qIvfDedupRecall;
    *  - q_events_gapfill / q_events_interpolate / q_events_autocorr /
    *    q_events_forecast — the dense grid × event-type dimension
    *    cross; the type dimension is distinct() of a low-cardinality
    *    column, small by data contract (autocorr and forecast share
    *    hourlyDense, which densifies the hourly series the same way
    *    the gapfill pair densify their 5-minute grid);
    *  - q_events_xcorr / q_events_seasonality — share hourlyDense
    *    verbatim with autocorr/forecast, so they inherit the same
    *    grid × type-dimension cross; their own small aggregates are
    *    broadcast and invisible to the lint;
    *  - q_events_hysteresis — shares hourlyDense verbatim too (the
    *    Schmitt trigger runs over the same dense hourly series), so
    *    it inherits the identical grid × type-dimension cross;
    *  - q_nb_langid — the (doc, token) test set crosses the CLASS
    *    dimension (distinct train langs × broadcast model), the same
    *    low-cardinality-by-data-contract dimension argument as the
    *    gapfill type cross; everything corpus-sized joins on
    *    (cl, tok) equality. */
  private val crossAllowed = Set(
    "q_cross_join", "q_ann_bruteforce", "q_embed_bitsim",
    "q_ann_recall", "q_ann_rank_metrics", "q_embed_mrl", "q_ivf_dedup_recall",
    "q_events_gapfill", "q_events_interpolate", "q_events_autocorr",
    "q_events_forecast", "q_events_xcorr", "q_events_seasonality",
    "q_events_hysteresis", "q_nb_langid")

  /** Reviewed whole-relation windows:
    *  - q_win_unpartitioned — the documented driver-bounded
    *    reference-parity query;
    *  - q_events_concurrency — its only unpartitioned window is the
    *    cross-day carry prefix sum over per-DAY totals (one row per
    *    day, bounded by the data's time span, not its row count — the
    *    gapfill carry argument); the per-row running count is
    *    partitioned by day;
    *  - q_text_zipf — the global rank window runs on the vocabulary
    *    COUNT table (|V| rows by construction, never the corpus), the
    *    same bounded-input contract as q_win_unpartitioned. */
  private val unpartitionedAllowed = Set(
    "q_win_unpartitioned", "q_events_concurrency", "q_text_zipf",
    // burn-rate's 6h lookback windows the HOURLY ROLLUP, whose row
    // count is calendar-bounded (hours of retention, not data volume)
    // — the q_events_concurrency bounded-input contract
    "q_events_burnrate",
    // the survival life table has one row per DISTINCT lifetime in
    // days — calendar-bounded; its risk-set / cumulative-hazard
    // prefix sums run on that table, never the event log
    "q_events_survival")

  /** Reviewed shrinking frames: q_events_interpolate's cross-day
    * next-observation carry runs `(1, unboundedFollowing)` over the
    * per-(event_type, day) observation table — one row per calendar
    * day, not per event (the q_events_concurrency bounded-input
    * contract); its per-row neighbour scan is a reversed growing
    * frame. */
  private val shrinkingAllowed = Set("q_events_interpolate")

  /** Reviewed shuffled hash joins, each with the bound on its build
    * side: a hash table per partition holds the whole build side, so
    * an unbounded build spills or fails at scale. */
  private val shjAllowed = {
    val cc = "Cluster.connectedComponents rounds: labels and neighbour minima, " +
      "one row per vertex of the pair graph (|V|), built against the streamed edges"
    Map(
      "q_dedup_cluster" -> cc,
      "q_dedup_cluster_incremental" -> cc,
      "q_dedup_cluster_stats" -> cc,
      "q_dedup_keep_best" -> cc,
      "q_graph_anf" -> "registers: AnfRegisters rows per node (8·|V|)",
      "q_graph_kcore" -> "keep set: at most one row per node (|V|)",
      "q_graph_khop" -> "frontier: at most one row per node (|V|)")
  }

  private def shjOffences(name: String, shapes: Seq[PlanShape]): Seq[String] =
    if (shjAllowed.contains(name)) Nil
    else shapes.flatMap(_.joins).filter(_.strategy == "SHJ")
      .map(j => s"$name: unreviewed SHJ on ${j.leftKeys.mkString(",")}")

  /** Reviewed sort aggregates, each with the aggregate that needs one:
    * a struct or string buffer is not UnsafeRow-mutable, so Spark plans
    * it as a SortAggregate, which sorts its input on the grouping keys
    * before the partial and again before the final aggregate. An
    * aggregate whose order key packs into one long (q_graph_lpa's
    * winner) stays a HashAggregate. */
  private val sortAggAllowed = Map(
    "q_dedup_cdc" -> "keep-first chunk: min(struct(id, chunk)) per chunk content hash",
    "q_dedup_keep_best" ->
      "best doc per cluster: max_by(doc_id, struct(quality, -doc_id)), quality a double",
    "q_dedup_nearest" ->
      "nearest neighbour: max_by(struct(best, jaccard), struct(jaccard, -best))",
    "q_events_gapfill" -> "last observed bucket: max(struct(m, sum_value))",
    "q_events_interpolate" ->
      "bracketing observations: max and min of struct(m, sum_value)",
    "q_events_ohlc" -> "open/close: min_by/max_by(value, struct(ts_us, event_id))",
    "q_events_streaks" -> "longest streak: max_by(start day string, struct(len, start_day))",
    "q_merge_upsert" -> "latest row per key: max_by(struct(row), struct(ts_us, event_id))",
    "q_nb_langid" -> "best class per doc: min(struct(-score, cl)), score a double",
    "q_profile" -> "per-column min/max, string columns included")

  private def sortAggregates(shapes: Seq[PlanShape]): Int =
    shapes.map(_.aggregates.count(_ == "SortAggregate")).sum

  private def sortAggOffences(name: String, shapes: Seq[PlanShape]): Seq[String] =
    if (sortAggAllowed.contains(name)) Nil
    else if (sortAggregates(shapes) == 0) Nil
    else Seq(s"$name: unreviewed SortAggregate ×${sortAggregates(shapes)}")

  private def small(p: LogicalPlan): Boolean =
    p.maxRows.exists(_ <= SmallSide)

  /** A join is quadratic-shaped when no top-level conjunct equates an
    * expression of each side (the keys a hash or sort-merge join can
    * use) AND neither side is provably tiny. */
  private def quadratic(j: Join): Boolean =
    ExtractEquiJoinKeys.unapply(j).isEmpty && !small(j.left) && !small(j.right)

  /** Frames that end at unboundedFollowing but start after
    * unboundedPreceding, e.g. `currentRow..unboundedFollowing`: Spark
    * re-aggregates the whole remaining partition for every row,
    * O(partition²). The O(n) form is the same frame as a growing
    * `unboundedPreceding..currentRow` over the reversed order. */
  private def shrinkingFrames(w: LWindow): Seq[SpecifiedWindowFrame] =
    w.windowExpressions.flatMap(_.collect {
      case f @ SpecifiedWindowFrame(_, lower, UnboundedFollowing)
        if lower != UnboundedPreceding => f
    })

  test("the lint detectors fire on deliberately bad plans (negative control)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val big = Tables.orders(spark, sf)
    // unbounded crossJoin → condition-less Join, neither side small
    val cross = big.crossJoin(Tables.customer(spark, sf))
      .queryExecution.optimizedPlan.collect {
        case j: Join if quadratic(j) => j
      }
    assert(cross.nonEmpty, "cross-join detector is blind")
    // a broadcast 1-row aggregate cross MUST stay invisible to it
    val tiny = big.crossJoin(
      org.apache.spark.sql.functions.broadcast(big.agg(count(lit(1)).as("n"))))
      .queryExecution.optimizedPlan.collect {
        case j: Join if quadratic(j) => j
      }
    assert(tiny.isEmpty, "1-row broadcast cross falsely flagged")
    // a band join whose only `=` is the self-pair exclusion has no key
    val band = big.as("x").join(big.as("y"),
      abs(col("x.o_totalprice") - col("y.o_totalprice")) <= 1.0 &&
        col("x.o_orderkey") =!= col("y.o_orderkey"))
    assert(band.queryExecution.optimizedPlan.collect { case j: Join if quadratic(j) => j }
      .nonEmpty, "band join with a negated equality passes as an equi-join")
    // a shuffled hash join outside the reviewed list
    val planted = big.join(Tables.customer(spark, sf).hint("shuffle_hash"),
      col("o_custkey") === col("c_custkey"))
    assert(shjOffences("q_planted", Seq(PlanShape.of(planted))).nonEmpty,
      "unreviewed SHJ detector is blind")
    // a min(struct(...)) winner is a SortAggregate; the same order as
    // one packed long is a HashAggregate
    val perCust = big.groupBy(col("o_custkey"))
    assert(sortAggOffences("q_planted", Seq(PlanShape.of(perCust.agg(
        min(struct(col("o_totalprice"), col("o_orderkey"))))))).nonEmpty,
      "unreviewed SortAggregate detector is blind")
    assert(sortAggOffences("q_planted", Seq(PlanShape.of(perCust.agg(
        min(col("o_orderkey") - col("o_totalprice").cast("long") * (1L << 32)))))).isEmpty,
      "packed-long min falsely flagged as a SortAggregate")
    // whole-relation window → partitionSpec-less Window, unbounded child
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("o_orderkey"))
    val unpart = big.withColumn("rk", row_number().over(w))
      .queryExecution.optimizedPlan.collect {
        case lw: LWindow
          if lw.partitionSpec.isEmpty && !lw.child.maxRows.exists(_ <= 1000) => lw
      }
    assert(unpart.nonEmpty, "unpartitioned-window detector is blind")
    // a following frame (the pre-reversal as-of forward fill) trips the
    // shrinking-frame detector; its reversed growing twin does not
    import org.apache.spark.sql.expressions.{Window => W, WindowSpec}
    def frames(w: WindowSpec) =
      big.withColumn("nx", first(col("o_totalprice"), ignoreNulls = true).over(w))
        .queryExecution.optimizedPlan.collect { case lw: LWindow => lw }
        .flatMap(shrinkingFrames)
    val byCust = W.partitionBy(col("o_custkey"))
    assert(frames(byCust.orderBy(col("o_orderdate"))
        .rowsBetween(W.currentRow, W.unboundedFollowing)).nonEmpty,
      "shrinking-frame detector is blind")
    assert(frames(byCust.orderBy(col("o_orderdate").desc)
        .rowsBetween(W.unboundedPreceding, W.currentRow)).isEmpty,
      "growing frame falsely flagged as shrinking")
  }

  test("no registered plan hides a quadratic join or unpartitioned window") {
    val offences = Seq.newBuilder[String]
    for (Built(name, df, _, _) <- registered) {
      val qe = df.queryExecution
      qe.optimizedPlan.foreach {
        case j: Join =>
          if (quadratic(j) && !crossAllowed(name))
            offences += s"$name: non-equi join over unbounded sides " +
              s"(${j.joinType}, cond=${j.condition})"
        case w: LWindow =>
          // an unpartitioned window single-tasks the whole relation
          // unless something upstream already bounded it (e.g. the
          // 16-row IVF centroid pick under a LIMIT)
          if (w.partitionSpec.isEmpty && !w.child.maxRows.exists(_ <= 1000)
              && !unpartitionedAllowed(name))
            offences += s"$name: unpartitioned window over unbounded input"
          if (!shrinkingAllowed(name))
            shrinkingFrames(w).foreach { f =>
              offences += s"$name: re-aggregating following frame $f (O(partition²))"
            }
        case _ =>
      }
      // CartesianProduct never survives review outside the parity query
      if (PlanShape.of(df).joins.exists(_.strategy == "Cartesian")
          && name != "q_cross_join")
        offences += s"$name: CartesianProduct in the physical plan"
    }
    val bad = offences.result()
    assert(bad.isEmpty, s"${bad.size} plan-lint offences:\n${bad.mkString("\n")}")
  }

  test("no registered plan ranks a window over a content-hash-derived key") {
    // Round-10 lesson (q_dedup_cdc): a sorted window partitioned by a
    // CONTENT hash serializes every instance of one content value into
    // a single sort task. Content hashes are exactly the keys dedup
    // exists to find collisions on, so the hot key is guaranteed — a
    // boilerplate chunk repeated 10⁹× across 100 TB becomes one
    // straggler sort. The keep-first/keep-best verdicts must be
    // aggregates (min/max_by with map-side partials) joined back, never
    // a rank window. This lint traces each window partition key back
    // through the plan's aliases to a hash function (md5/sha/xxhash64/
    // murmur3/crc32) and flags any SORTED window partitioned by one.
    import org.apache.spark.sql.catalyst.expressions._
    def isHash(e: Expression): Boolean = e.exists {
      case _: Md5 | _: Sha1 | _: Sha2 | _: Crc32 | _: Murmur3Hash |
           _: XxHash64 => true
      case _ => false
    }
    // hash MOD n is a bounded uniform BUCKET, not a content identity:
    // every bucket holds ~corpus/n rows by uniformity of the hash,
    // independent of content skew, so a per-bucket window is balanced
    // by construction. q_shard_assign's per-shard rank is exactly this
    // shape and is the intended design — exempt mod-of-hash lineage.
    def isBucketed(e: Expression): Boolean = e.exists {
      case _: Pmod | _: Remainder => true
      case _ => false
    }
    def hashDerived(plan: LogicalPlan): Set[ExprId] = {
      val aliases = plan.collect {
        case p => p.expressions.flatMap(_.collect { case a: Alias => a })
      }.flatten
      var derived = aliases
        .filter(a => isHash(a.child) && !isBucketed(a.child))
        .map(_.exprId).toSet
      var changed = true
      while (changed) {
        val next = derived ++ aliases.filter(a =>
          !isBucketed(a.child) && a.child.exists {
            case ar: AttributeReference => derived(ar.exprId)
            case _ => false
          }).map(_.exprId)
        changed = next.size != derived.size
        derived = next
      }
      derived
    }
    def offendingWindows(plan: LogicalPlan): Seq[LWindow] = {
      val derived = hashDerived(plan)
      plan.collect {
        case w: LWindow if w.orderSpec.nonEmpty && w.partitionSpec.exists {
          case ar: AttributeReference => derived(ar.exprId)
          case e => isHash(e)
        } => w
      }
    }
    // negative control: the round-10 q_dedup_cdc shape must trip it
    import org.apache.spark.sql.functions._
    val bad = Tables.orders(spark, sf)
      .withColumn("c_hash",
        conv(substring(md5(col("o_orderpriority")), 1, 15), 16, 10).cast("long"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("c_hash")).orderBy(col("o_orderkey"))))
    assert(offendingWindows(bad.queryExecution.optimizedPlan).nonEmpty,
      "hash-key rank-window detector is blind")
    val offences = for {
      Built(name, df, _, _) <- registered
      w <- offendingWindows(df.queryExecution.optimizedPlan)
    } yield s"$name: sorted window partitioned by a content-hash key " +
      s"(${w.partitionSpec.mkString(", ")})"
    assert(offences.isEmpty,
      s"hash-key rank windows single-task hot content:\n${offences.mkString("\n")}")
  }

  test("no registered query exposes a DECIMAL output column") {
    // The correctness harness hashes decimal output columns
    // asymmetrically between the engines even when value, scale, and
    // arrow type agree — in round 9 every decimal-output query
    // hash-failed and every non-decimal one passed. The contract
    // (Agg scaladoc): accumulate exact DECIMAL internally, normalize
    // to scale 4, close to DOUBLE (exact while unscaled < 2^53) or
    // STRING (q_table_fingerprint's exact-128-bit form). Schema-only
    // analysis: nothing executes here.
    val offences = for {
      Built(name, df, _, _) <- registered
      f <- df.schema.fields
      if f.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType]
    } yield s"$name: ${f.name} is ${f.dataType}"
    assert(offences.isEmpty,
      s"decimal output columns defeat the oracle hash:\n${offences.mkString("\n")}")
  }

  test("the bench TPC-H plans keep no money arithmetic on Spark's BigDecimal path") {
    // graft.plans.ExactDecimalRule runs the DECIMAL(18,4) money policy
    // on unscaled longs; a Sum over a decimal or a double → DECIMAL(≤18)
    // Cast left in the optimized plan is the per-row BigDecimal path.
    def bigDecimalPath(plan: LogicalPlan): Seq[String] =
      plan.flatMap(_.expressions.flatMap(_.collect {
        case s @ Sum(c, _) if c.dataType.isInstanceOf[DecimalType] => s.toString
        case c: Cast if c.child.dataType == DoubleType && (c.dataType match {
          case d: DecimalType => d.precision <= 18
          case _ => false
        }) => c.toString
      }))
    val names = Seq("q_tpch1", "q_tpch3", "q_tpch9", "q_tpch18")
    def plan(name: String) = SparkEntry.queries(name)(spark, sf).queryExecution.optimizedPlan
    val offences = for (name <- names; e <- bigDecimalPath(plan(name))) yield s"$name: $e"
    assert(offences.isEmpty, s"BigDecimal money path:\n${offences.mkString("\n")}")
    // negative control: with the rule excluded every query trips the check
    val key = "spark.sql.optimizer.excludedRules"
    spark.conf.set(key, graft.plans.ExactDecimalRule.ruleName)
    try names.foreach(n => assert(bigDecimalPath(plan(n)).nonEmpty, s"$n without the rule"))
    finally spark.conf.unset(key)
  }

  /** The top-k queries: each must cut its rows to k per group in every
    * task before the shuffle, the bound a top-k promises at scale. */
  private val topKQueries =
    Seq("q_corpus_cap", "q_incremental_topk", "q_sample_pergroup", "q_topk_heap")

  /** True when a Partial WindowGroupLimit runs below a shuffle. */
  private def partialLimitBeforeShuffle(df: DataFrame): Boolean =
    PlanShape.nodes(df.queryExecution.executedPlan).exists {
      case e: ShuffleExchangeLike => PlanShape.nodes(e).exists {
        case g: WindowGroupLimitExec => g.mode.toString == "Partial"
        case _ => false
      }
      case _ => false
    }

  test("every top-k query plans a partial group limit before its shuffle") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // negative control: above Spark's threshold no group limit is
    // planned, and the check must see that
    val threshold =
      spark.conf.get("spark.sql.optimizer.windowGroupLimitThreshold").toInt
    def rowNumberTopK(k: Int) = Tables.events(spark, sf)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("event_type")).orderBy(col("value").desc, col("event_id"))))
      .where(col("rk") <= k)
    assert(partialLimitBeforeShuffle(rowNumberTopK(threshold)),
      "partial group limit detector is blind")
    assert(!partialLimitBeforeShuffle(rowNumberTopK(threshold + 1)),
      s"a top-k above the threshold $threshold falsely passes")
    val byName = registered.map(b => b.name -> b.df).toMap
    val missing = topKQueries.filterNot(n => partialLimitBeforeShuffle(byName(n)))
    assert(missing.isEmpty, s"no partial group limit before the shuffle: ${missing.mkString(", ")}")
  }

  test("plans.jsonl holds every registered query's current plan shape") {
    // the committed record of every plan: a plan change fails here
    // until the file is regenerated, so it shows up as a one-line diff
    import scala.jdk.CollectionConverters._
    val committed = Files.readAllLines(Paths.get("plans.jsonl")).asScala.toSeq
    val current = registered.map(_.line)
    val changed = (committed.diff(current) ++ current.diff(committed))
      .map(_.stripPrefix("{\"query\":\"").takeWhile(_ != '"')).distinct.sorted
    if (committed != current)
      fail(s"plans.jsonl differs for ${changed.size} queries: ${changed.mkString(", ")}; " +
        "regenerate it with `sbt \"runMain graft.tools.ExplainDump\"` and review the diff")
  }

  test("every shuffled hash join, final or materialized, is reviewed with its build bound") {
    val offences =
      registered.flatMap(b => shjOffences(b.name, PlanShape.of(b.df) +: b.materialized))
    assert(offences.isEmpty, s"unreviewed SHJ:\n${offences.mkString("\n")}")
  }

  test("every sort aggregate, final or materialized, is reviewed; no review is stale") {
    val shapes = registered.map(b => b.name -> (PlanShape.of(b.df) +: b.materialized)).toMap
    val offences = shapes.toSeq.flatMap { case (name, ss) => sortAggOffences(name, ss) }
    val stale = sortAggAllowed.keys.toSeq.sorted
      .filter(n => !shapes.get(n).exists(ss => sortAggregates(ss) > 0))
      .map(n => s"$n: on sortAggAllowed but plans no SortAggregate")
    assert(offences.isEmpty && stale.isEmpty,
      s"sort aggregates:\n${(offences.sorted ++ stale).mkString("\n")}")
  }

  test("building every registered query leaves nothing in the session cache") {
    registered
    assert(spark.sharedState.cacheManager.isEmpty,
      "a query build cached a relation that outlives it")
  }
}
