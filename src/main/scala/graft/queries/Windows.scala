package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.api.Win

/** Window-function queries (SURVEY.md §2, window block).
  *
  * The reference computes window aggregates serially with a segment tree
  * (/root/reference/stupidb/associative/segmenttree.py,
  * aggregation.py:383 `WindowAggregateSpecification.compute`); graft
  * declares the same semantics through Spark's window spec, which runs
  * partition-parallel after one shuffle on the PARTITION BY keys.
  *
  * Determinism rules for the oracle: every window ORDER BY is made total
  * with a unique tiebreak column unless the function is frame-value-based
  * (rank/dense_rank/range frames, which depend only on key values), and
  * window sums are computed on DECIMAL so frame sums are exact.
  */
object Windows {

  import Money.dec

  /** Sliding ROWS frames (preceding + following) — stupidb
    * test_rows_window / Window.rows. */
  def qWinRows(s: SparkSession, d: String): DataFrame = {
    val byCust = Win.rows(
      partitionBy = Seq(col("o_custkey")),
      orderBy = Seq(col("o_orderdate"), col("o_orderkey")),
      preceding = Some(2L))
    val centered = Win.rows(
      partitionBy = Seq(col("o_custkey")),
      orderBy = Seq(col("o_orderdate"), col("o_orderkey")),
      preceding = Some(1L), following = Some(1L))
    Tables.orders(s, d).select(
      col("o_custkey"), col("o_orderkey"),
      sum(dec("o_totalprice")).over(byCust).cast("double").as("sum_3row"),
      sum(dec("o_totalprice")).over(centered).cast("double").as("sum_centered"),
      count(lit(1)).over(centered).as("n_centered"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Cumulative aggregate — stupidb test_cumagg (UNBOUNDED..CURRENT). */
  def qWinCumsum(s: SparkSession, d: String): DataFrame = {
    val w = Win.rows(
      partitionBy = Seq(col("o_custkey")),
      orderBy = Seq(col("o_orderdate"), col("o_orderkey")))
    Tables.orders(s, d).select(
      col("o_custkey"), col("o_orderkey"),
      sum(dec("o_totalprice")).over(w).cast("double").as("cum_price"),
      count(lit(1)).over(w).as("cum_n"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** RANGE frame over a numeric ORDER key — stupidb test_range_window.
    * Frame membership depends on values, not row positions, so ties are
    * handled identically by both engines. Computed with graft's
    * O(n log n) union-sort formulation (operators.SlidingAgg
    * .slidingRangeSum) instead of Spark's native bounded-start RANGE
    * frame, which re-aggregates per row (O(n·w) — the same trap
    * q_win_stats avoids with prefix sums); equivalence with the native
    * frame is spec-asserted. */
  def qWinRange(s: SparkSession, d: String): DataFrame =
    graft.operators.SlidingAgg.slidingRangeSum(
      Tables.orders(s, d),
      partitionCols = Seq("o_custkey"),
      orderVal = col("o_totalprice"),
      radius = lit(10000.0),
      valueCol = col("o_totalprice"),
      uniqueKey = Seq("o_orderkey"))
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        col("sr_cnt").as("n_within_10k"),
        col("sr_sum").cast("double").as("sum_within_10k"))
      .orderBy(col("o_custkey"), col("o_orderkey"))

  /** Temporal RANGE frame — stupidb test_temporal_range_window
    * (interval preceding over event time). */
  def qWinRangeTime(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("ts_sec", unix_seconds(col("ts")))
      .select(
        col("event_id"), col("user_id"), col("ts_sec"),
        expr("""count(1) OVER (PARTITION BY user_id ORDER BY ts_sec
                RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)""").as("n_last_hour"),
        expr("""sum(cast(value AS DECIMAL(18,4))) OVER (
                PARTITION BY user_id ORDER BY ts_sec
                RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)""")
          .cast("double").as("sum_last_hour"))
      .orderBy(col("user_id"), col("ts_sec"), col("event_id"))

  /** row_number / rank / dense_rank (+ rank over a null-bearing key) —
    * stupidb functions/ranking, test_rank_with_nulls. */
  def qWinRank(s: SparkSession, d: String): DataFrame = {
    val tieOrd = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_nationkey"))
    val uniqueOrd = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_nationkey"), col("c_custkey"))
    val nullOrd = Window.partitionBy(col("c_mktsegment"))
      .orderBy(
        when(col("c_acctbal") < 0, lit(null).cast("double"))
          .otherwise(col("c_acctbal")).desc_nulls_last)
    Tables.customer(s, d).select(
      col("c_custkey"), col("c_mktsegment"), col("c_nationkey"),
      row_number().over(uniqueOrd).as("rn"),
      rank().over(tieOrd).as("rnk"),
      dense_rank().over(tieOrd).as("drnk"),
      rank().over(nullOrd).as("rnk_nulls_last"))
      .orderBy(col("c_custkey"))
  }

  /** lead / lag with offset + default — stupidb functions/navigation
    * (Lead, Lag), test_lead_lag. */
  def qWinNav(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, d).select(
      col("o_custkey"), col("o_orderkey"),
      lag(col("o_totalprice"), 1).over(w).as("prev_price"),
      lag(col("o_totalprice"), 2, -1.0).over(w).as("prev2_price_dflt"),
      lead(col("o_totalprice"), 1).over(w).as("next_price"),
      lead(col("o_totalprice"), 3, 0.0).over(w).as("next3_price_dflt"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** first / last / nth over explicit frames — stupidb
    * functions/navigation (First, Last, Nth), test_first_last, test_nth;
    * nth past the frame end yields NULL (test_nth_past_frame). */
  def qWinFirstLast(s: SparkSession, d: String): DataFrame = {
    val full = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(s, d).select(
      col("o_custkey"), col("o_orderkey"),
      first(col("o_totalprice")).over(full).as("first_price"),
      last(col("o_totalprice")).over(full).as("last_price"),
      nth_value(col("o_totalprice"), 3).over(full).as("third_price"),
      nth_value(col("o_totalprice"), 40).over(full).as("price_40th"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Variance/stddev over sliding frames — stupidb test_variance_window.
    * Computed with graft's O(n) prefix-sum sliding operator
    * (operators.SlidingAgg) instead of Spark's O(n·frame) per-row frame
    * recompute; same values as the direct form (exact decimal prefix
    * sums), checked against the conventionally-computed oracle. */
  def qWinStats(s: SparkSession, d: String): DataFrame = {
    // Partitioned by supplier — a HIGH-CARDINALITY key, so the window
    // work spreads across the cluster (partitioning by l_returnflag
    // would funnel 100 TB into 3 tasks). (l_orderkey, l_linenumber) is
    // not unique in this corpus — partkey completes the tiebreak.
    val ord = Seq(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
    graft.operators.SlidingAgg.slidingStats(
        Tables.lineitem(s, d),
        partitionBy = Seq(col("l_suppkey")),
        orderBy = ord,
        valueCol = col("l_quantity"),
        w = 50)
      .select(
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"),
        col("sl_var_samp").as("var_qty_50"),
        col("sl_stddev_samp").as("std_qty_50"),
        col("sl_avg").as("avg_qty_50"))
      .orderBy(col("l_suppkey") +: ord: _*)
  }

  /** Several differently-partitioned windows in one projection —
    * stupidb test_multiple_windows. */
  def qWinMulti(s: SparkSession, d: String): DataFrame = {
    val byCust = Win.rows(
      partitionBy = Seq(col("o_custkey")),
      orderBy = Seq(col("o_orderdate"), col("o_orderkey")))
    val byStatus = Win.rows(
      partitionBy = Seq(col("o_orderstatus")),
      orderBy = Seq(col("o_orderdate"), col("o_orderkey")))
    Tables.orders(s, d).select(
      col("o_orderkey"),
      sum(dec("o_totalprice")).over(byCust).cast("decimal(38,4)")
        .cast("double").as("cum_by_cust"),
      sum(dec("o_totalprice")).over(byStatus).cast("decimal(38,4)")
        .cast("double").as("cum_by_status"))
      .orderBy(col("o_orderkey"))
  }

  /** Whole-relation window (no PARTITION BY) — parity with stupidb's
    * unpartitioned windows (test_rows_window). Single-partition exec by
    * construction; documented in SURVEY.md §4 as driver-bounded. */
  def qWinUnpartitioned(s: SparkSession, d: String): DataFrame = {
    val w = Window.orderBy(col("c_custkey"))
    Tables.customer(s, d).select(
      col("c_custkey"),
      sum(dec("c_acctbal")).over(w).cast("double").as("running_bal"),
      row_number().over(w).as("rn"))
      .orderBy(col("c_custkey"))
  }

  /** lead/lag with PER-ROW offsets — stupidb api.py:842 allows callable
    * offsets; Spark's lead() is constant-only, so graft's VarNav
    * expresses it as a rank self-join (operators.VarNav). */
  def qWinNavVar(s: SparkSession, d: String): DataFrame = {
    val ord = Seq(col("o_orderdate"), col("o_orderkey"))
    val stepped = graft.operators.VarNav.varLead(
      Tables.orders(s, d), Seq("o_custkey"), ord,
      valueCol = col("o_totalprice"),
      offset = pmod(col("o_orderkey"), lit(3)).cast("int"),
      out = "lead_var")
    graft.operators.VarNav.varLag(
      stepped, Seq("o_custkey"), ord,
      valueCol = col("o_totalprice"),
      offset = pmod(col("o_orderkey"), lit(2)).cast("int"),
      out = "lag_var",
      default = Some(lit(-1.0)))
      .select(col("o_custkey"), col("o_orderkey"),
        col("lead_var"), col("lag_var"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Window aggregate with PER-ROW frame bounds — stupidb
    * aggregation.py:225/:236 evaluates preceding/following as callables
    * per row; Spark frames are foldable-only, so graft's VarFrame
    * expresses it as a rank self-join with a band predicate
    * (operators.VarFrame). Frame here: the last (o_orderkey%3) rows
    * through the next (o_orderkey%2) rows. */
  def qWinFrameVar(s: SparkSession, d: String): DataFrame =
    graft.operators.VarFrame.varFrameAgg(
      Tables.orders(s, d),
      partitionCols = Seq("o_custkey"),
      orderCols = Seq(col("o_orderdate"), col("o_orderkey")),
      valueCol = col("o_totalprice"),
      preceding = pmod(col("o_orderkey"), lit(3)),
      following = pmod(col("o_orderkey"), lit(2)),
      prefix = "vf")
      .select(col("o_custkey"), col("o_orderkey"),
        col("vf_sum").cast("double").as("sum_var"),
        col("vf_cnt").as("n_var"))
      .orderBy(col("o_custkey"), col("o_orderkey"))

  /** Distribution window functions: percent_rank / cume_dist / ntile —
    * same partition-parallel WindowExec as ranking (one shuffle on the
    * partition key). Order keys are unique per partition, so ntile's
    * bucket boundaries are deterministic. */
  def qWinDist(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(s, d).select(
      col("o_orderkey"), col("o_orderpriority"),
      round(percent_rank().over(w), 6).as("pct_rank"),
      round(cume_dist().over(w), 6).as("cume"),
      ntile(4).over(w).as("quartile"))
      .orderBy(col("o_orderkey"))
  }

  /** Rolling MEDIAN over each customer's trailing 7 orders — the
    * windowed ROBUST statistic (outlier-resistant smoothing, the
    * median-filter of signal processing). Same partition-parallel
    * WindowExec as every other frame query: one shuffle on o_custkey,
    * the frame materializes ≤ 7 values per row inside the window
    * (bounded — never the partition), sorted per row with the middle
    * element (odd) or middle-pair mean (even) taken. DuckDB's windowed
    * MEDIAN applies the identical even-count mean, so the oracle is
    * hash-exact on the shared 6 dp round. */
  def qWinMedian(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(-6, Window.currentRow)
    val sorted = array_sort(collect_list(col("o_totalprice")).over(w))
    val n = size(sorted)
    val med = when(n % 2 === 1,
        element_at(sorted, ((n + 1) / 2).cast("int")))
      .otherwise((element_at(sorted, (n / 2).cast("int")) +
        element_at(sorted, (n / 2 + 1).cast("int"))) / 2.0)
    Tables.orders(s, d).select(col("o_custkey"), col("o_orderkey"),
      round(med, 6).as("rolling_median"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Epoch anchor for the regression x-axis (2024-01-01 00:00 UTC in
    * micros) — centering keeps x² ≤ ~7·10¹² over the data's one-month
    * span, so every rolling moment stays an exact BIGINT. */
  private val RegrBaseUs = 1704067200000000L

  /** ROLLING OLS SLOPE of value vs time per user over the trailing 5
    * events — the windowed trend detector (is this metric climbing?).
    * The reference's window engine is aggregation-only; this shows an
    * arbitrary closed-form fit riding the same frame machinery.
    *
    * All five moments (n, Σx, Σy, Σxy, Σx²) are window sums of exact
    * BIGINTs (x = whole seconds since the epoch anchor; y = value
    * ×10⁴ through the exact DECIMAL(18,4) grid — no ROUND anywhere in
    * the quantization; envelopes documented on RegrBaseUs), so the
    * normal-equation numerator and denominator are EXACT integers on
    * both engines; the closing slope is one fixed IEEE sequence
    * (num/den, ÷10⁴ descale) rounded at 9 dp. Zero-time-spread frames
    * (den = 0)
    * yield NULL, not a crash. ONE window over one shuffle on user_id —
    * the q_win_stats plan shape exactly. */
  def qWinRegression(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-4, Window.currentRow)
    val ev = Tables.events(s, d).select(col("user_id"), col("event_id"),
      col("ts"),
      expr(s"(unix_micros(ts) - ${RegrBaseUs}L) div 1000000").as("x"),
      (col("value").cast("decimal(18,4)") * 10000).cast("long").as("y"))
    val (n, sx, sy) = (count(lit(1)).over(w),
      sum(col("x")).over(w), sum(col("y")).over(w))
    val sxy = sum(col("x") * col("y")).over(w)
    val sxx = sum(col("x") * col("x")).over(w)
    ev.select(col("user_id"), col("event_id"),
        (n * sxy - sx * sy).as("num"),
        (n * sxx - sx * sx).as("den"))
      .select(col("user_id"), col("event_id"), col("num"), col("den"),
        when(col("den") =!= 0L,
          round(col("num").cast("double") / col("den").cast("double") /
            lit(10000.0), 9)).as("slope"))
      .orderBy(col("user_id"), col("event_id"))
  }

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_win_regression" -> (qWinRegression _),
    "q_win_median" -> (qWinMedian _),
    "q_win_frame_var" -> (qWinFrameVar _),
    "q_win_dist" -> (qWinDist _),
    "q_win_nav_var" -> (qWinNavVar _),
    "q_win_rows" -> (qWinRows _),
    "q_win_cumsum" -> (qWinCumsum _),
    "q_win_range" -> (qWinRange _),
    "q_win_range_time" -> (qWinRangeTime _),
    "q_win_rank" -> (qWinRank _),
    "q_win_nav" -> (qWinNav _),
    "q_win_firstlast" -> (qWinFirstLast _),
    "q_win_stats" -> (qWinStats _),
    "q_win_multi" -> (qWinMulti _),
    "q_win_unpartitioned" -> (qWinUnpartitioned _))

  def oracles: Map[String, String] = Map(
    // exact-integer rolling moments → exact num/den; slope is the one
    // closing IEEE sequence, shared with the Spark side
    "q_win_regression" ->
      s"""WITH ev AS (
         |  SELECT user_id, event_id, ts,
         |    (epoch_us(ts) - $RegrBaseUs) // 1000000 AS x,
         |    CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS y
         |  FROM events),
         |m AS (
         |  SELECT user_id, event_id,
         |    COUNT(*) OVER w AS n,
         |    CAST(SUM(x) OVER w AS BIGINT) AS sx,
         |    CAST(SUM(y) OVER w AS BIGINT) AS sy,
         |    CAST(SUM(x * y) OVER w AS BIGINT) AS sxy,
         |    CAST(SUM(x * x) OVER w AS BIGINT) AS sxx
         |  FROM ev
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
         |SELECT user_id, event_id,
         |  n * sxy - sx * sy AS num,
         |  n * sxx - sx * sx AS den,
         |  CASE WHEN n * sxx - sx * sx <> 0
         |    THEN ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
         |      / CAST(n * sxx - sx * sx AS DOUBLE) / 10000.0, 9)
         |  END AS slope
         |FROM m ORDER BY user_id, event_id""".stripMargin,
    "q_win_median" ->
      """SELECT o_custkey, o_orderkey,
        |  ROUND(MEDIAN(o_totalprice) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS rolling_median
        |FROM orders
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_win_frame_var" ->
      """WITH t AS (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(o_orderkey % 3 AS INT) AS p, CAST(o_orderkey % 2 AS INT) AS f,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS rn
        |  FROM orders)
        |SELECT a.o_custkey, a.o_orderkey,
        |  CAST(SUM(CAST(b.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_var,
        |  COUNT(*) AS n_var
        |FROM t a JOIN t b ON a.o_custkey = b.o_custkey
        |  AND b.rn BETWEEN a.rn - a.p AND a.rn + a.f
        |GROUP BY a.o_custkey, a.o_orderkey
        |ORDER BY a.o_custkey, a.o_orderkey""".stripMargin,
    "q_win_dist" ->
      """SELECT o_orderkey, o_orderpriority,
        |  ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
        |  ROUND(CUME_DIST() OVER w, 6) AS cume,
        |  NTILE(4) OVER w AS quartile
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |  ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,
    "q_win_nav_var" ->
      """SELECT o_custkey, o_orderkey,
        |  LEAD(o_totalprice, CAST(o_orderkey % 3 AS INT)) OVER w AS lead_var,
        |  COALESCE(LAG(o_totalprice, CAST(o_orderkey % 2 AS INT)) OVER w, -1.0) AS lag_var
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_win_rows" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS sum_3row,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS DOUBLE) AS sum_centered,
        |  COUNT(*) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS n_centered
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_win_cumsum" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_price,
        |  COUNT(*) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_win_range" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
        |    RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW) AS n_within_10k,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_totalprice
        |    RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS sum_within_10k
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_win_range_time" ->
      """SELECT event_id, user_id,
        |  CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS ts_sec,
        |  COUNT(*) OVER (PARTITION BY user_id
        |    ORDER BY CAST(FLOOR(EPOCH(ts)) AS BIGINT)
        |    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS n_last_hour,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (PARTITION BY user_id
        |    ORDER BY CAST(FLOOR(EPOCH(ts)) AS BIGINT)
        |    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS DOUBLE) AS sum_last_hour
        |FROM events
        |ORDER BY user_id, ts_sec, event_id""".stripMargin,
    "q_win_rank" ->
      """SELECT c_custkey, c_mktsegment, c_nationkey,
        |  ROW_NUMBER() OVER (PARTITION BY c_mktsegment
        |    ORDER BY c_nationkey, c_custkey) AS rn,
        |  RANK() OVER (PARTITION BY c_mktsegment ORDER BY c_nationkey) AS rnk,
        |  DENSE_RANK() OVER (PARTITION BY c_mktsegment ORDER BY c_nationkey) AS drnk,
        |  RANK() OVER (PARTITION BY c_mktsegment ORDER BY
        |    CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END
        |    DESC NULLS LAST) AS rnk_nulls_last
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q_win_nav" ->
      """SELECT o_custkey, o_orderkey,
        |  LAG(o_totalprice, 1) OVER w AS prev_price,
        |  LAG(o_totalprice, 2, -1.0) OVER w AS prev2_price_dflt,
        |  LEAD(o_totalprice, 1) OVER w AS next_price,
        |  LEAD(o_totalprice, 3, 0.0) OVER w AS next3_price_dflt
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_win_firstlast" ->
      """SELECT o_custkey, o_orderkey,
        |  FIRST_VALUE(o_totalprice) OVER w AS first_price,
        |  LAST_VALUE(o_totalprice) OVER w AS last_price,
        |  NTH_VALUE(o_totalprice, 3) OVER w AS third_price,
        |  NTH_VALUE(o_totalprice, 40) OVER w AS price_40th
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_win_stats" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |  ROUND(VAR_SAMP(l_quantity) OVER w, 6) AS var_qty_50,
        |  ROUND(STDDEV_SAMP(l_quantity) OVER w, 6) AS std_qty_50,
        |  ROUND(AVG(l_quantity) OVER w, 6) AS avg_qty_50
        |FROM lineitem
        |WINDOW w AS (PARTITION BY l_suppkey
        |  ORDER BY l_orderkey, l_linenumber, l_partkey
        |  ROWS BETWEEN 49 PRECEDING AND CURRENT ROW)
        |ORDER BY l_suppkey, l_orderkey, l_linenumber, l_partkey""".stripMargin,
    "q_win_multi" ->
      """SELECT o_orderkey,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(38,4)) AS DOUBLE) AS cum_by_cust,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
        |    PARTITION BY o_orderstatus ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(38,4)) AS DOUBLE) AS cum_by_status
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_win_unpartitioned" ->
      """SELECT c_custkey,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) OVER (
        |    ORDER BY c_custkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_bal,
        |  ROW_NUMBER() OVER (ORDER BY c_custkey) AS rn
        |FROM customer ORDER BY c_custkey""".stripMargin)
}
