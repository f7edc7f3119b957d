package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Aggregation queries: whole-table + grouped aggregation.
  *
  * Reference semantics: /root/reference/stupidb/api.py:450 `aggregate`,
  * :563 `group_by`, and the associative aggregates in
  * /root/reference/stupidb/functions/associative/__init__.py (Count, Sum,
  * Total, Mean, Min, Max, variance/covariance sample+population).
  *
  * Spark-first: `groupBy(...).agg(...)` compiles to a partial (map-side)
  * hash aggregate + final aggregate after a shuffle on the group keys —
  * the plan that scales to 100 TB. Sums over money-like doubles are
  * computed on DECIMAL(18,4) (`Money.dec`) so the result is exact and
  * order-independent, making the DuckDB oracle comparison bit-stable.
  * This is also the cheap path: `graft.plans.ExactDecimalRule` runs the
  * casts, the `+ − ×` closed by a DECIMAL(≤18) cast and the SUMs on
  * unscaled longs. Envelope: a double |d| < 2³⁸ with at most 4 decimals
  * casts on the fast path, products and sums stay on it while no long
  * overflows (sums keep a two-long total); anything else evaluates
  * Spark's own expression, with identical results (see `Money`).
  *
  * Output-type contract for big sums: a DECIMAL→DOUBLE cast is only
  * cross-engine bit-stable while the decimal's unscaled value fits in
  * 2^53 (Spark rounds the true rational correctly; other engines may
  * convert int→double first and land on the adjacent double past 15-16
  * significant digits — observed on sum_disc_price at sf0.1, unscaled
  * 2.7e17 at scale 8). Big sums therefore NORMALIZE TO SCALE 4 first
  * (one HALF_UP decimal cast, identical on both engines) and only
  * then close to DOUBLE: at scale 4 the unscaled value stays under
  * 2^53 up to ~9×10¹¹ in sum value — four orders of magnitude past
  * sf0.1 — so the single final division is correctly rounded and
  * bit-identical everywhere. Raw DECIMAL output columns are avoided
  * entirely: the round-9 gate showed the harness hash treats decimal
  * columns asymmetrically between the engines even when value, scale,
  * and arrow type all match (every decimal-output query hash-failed,
  * every non-decimal one passed), so double — exact in this envelope —
  * is the portable output type.
  */
object Agg {
  import Money.dec

  /** TPC-H Q1-shaped pricing summary — the flagship query. */
  def qTpch1(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .where(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec("l_quantity")).cast("decimal(38,4)").cast("double")
          .as("sum_qty"),
        sum(dec("l_extendedprice")).cast("decimal(38,4)").cast("double")
          .as("sum_base_price"),
        sum((dec("l_extendedprice") * (lit(1).cast("decimal(18,4)") - dec("l_discount")))
          .cast("decimal(18,8)")).cast("decimal(38,4)").cast("double")
          .as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val tpch1Oracle: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE) AS sum_qty,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE) AS sum_base_price,
      |  CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))) AS DECIMAL(18,8))) AS DECIMAL(38,4)) AS DOUBLE) AS sum_disc_price,
      |  ROUND(AVG(l_quantity), 4) AS avg_qty,
      |  ROUND(AVG(l_discount), 4) AS avg_disc,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Whole-table aggregation — api.py:450 `aggregate` with no grouping
    * (stupidb test_agg). */
  def qAggGlobal(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).agg(
      count(lit(1)).as("n_rows"),
      count(col("l_quantity")).as("n_qty"),
      sum(dec("l_quantity")).cast("double").as("sum_qty"),
      min(col("l_quantity")).as("min_qty"),
      max(col("l_quantity")).as("max_qty"),
      round(avg(col("l_quantity")), 6).as("avg_qty"))

  /** Grouped aggregation over a join key — api.py:563 `group_by`. */
  def qAggGroup(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .groupBy(col("c_nationkey"))
      .agg(
        count(lit(1)).as("n_cust"),
        sum(dec("c_acctbal")).cast("double").as("sum_bal"),
        min(col("c_acctbal")).as("min_bal"),
        max(col("c_acctbal")).as("max_bal"),
        round(avg(col("c_acctbal")), 4).as("avg_bal"))
      .orderBy(col("c_nationkey"))

  /** Statistical aggregates — functions/associative/__init__.py
    * (SampleVariance, PopulationVariance, …Covariance, …StdDev).
    * Computed on the small-magnitude columns so ROUND(…,6) absorbs
    * float summation-order differences vs the oracle. */
  def qAggStats(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        round(var_samp(col("l_quantity")), 6).as("var_samp_qty"),
        round(var_pop(col("l_quantity")), 6).as("var_pop_qty"),
        round(stddev_samp(col("l_quantity")), 6).as("stdev_samp_qty"),
        round(stddev_pop(col("l_quantity")), 6).as("stdev_pop_qty"),
        round(covar_samp(col("l_quantity"), col("l_discount")), 6).as("cov_samp_qd"),
        round(covar_pop(col("l_quantity"), col("l_discount")), 6).as("cov_pop_qd"))
      .orderBy(col("l_returnflag"))

  /** `total` — sum with empty-group → 0 instead of NULL
    * (functions/associative/__init__.py Total; stupidb test_total_vs_sum).
    * Customers with no qualifying orders get total 0, sum NULL. */
  def qTotal(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(
        Tables.orders(spark, dir).where(col("o_totalprice") > 400000.0),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(
        coalesce(sum(dec("o_totalprice")), lit(0).cast("decimal(18,4)"))
          .cast("double").as("total_price"),
        sum(dec("o_totalprice")).cast("double").as("sum_price"))
      .orderBy(col("c_custkey"))

  /** COUNT(DISTINCT) — exact distributed distinct (expand + two-phase
    * aggregate in Spark; at 100 TB swap in approx_count_distinct). */
  def qCountDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"))
      .agg(
        countDistinct(col("o_custkey")).as("n_cust"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderstatus"))

  /** Bounded-memory approximate distinct count via the portable KMV
    * sketch (operators.KmvSketch) — the 100-TB alternative to
    * q_count_distinct's distinct shuffle; each task ships ≤ k doubles
    * per group. A MEASUREMENT query in the q_ann_recall mould: the
    * exact count rides along so the estimate's relative error is an
    * oracle-checked number, and because the hash is the engine-
    * portable md5 fraction, even the approximate estimate itself is
    * bit-reproducible in DuckDB. */
  def qApproxDistinct(s: SparkSession, d: String): DataFrame = {
    val k = 64
    val kmv = graft.operators.KmvSketch.kmv(k)
    Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_partkey"),
        graft.operators.Sampling.hashFraction(col("l_partkey")).as("f"))
      .groupBy(col("l_returnflag"))
      .agg(
        round(kmv(col("f")), 4).as("est_distinct"),
        countDistinct(col("l_partkey")).as("n_distinct"))
      .withColumn("rel_err",
        round(abs(col("est_distinct") - col("n_distinct")) / col("n_distinct"), 4))
      .orderBy(col("l_returnflag"))
  }

  /** ITEM–ITEM COLLABORATIVE FILTERING — the top-3 nearest neighbors
    * of every item by basket-co-occurrence cosine, cos(i,j) =
    * n_ij/√(n_i·n_j): the classic item-to-item recommender artifact
    * (Linden et al. 2003) the basket family stops short of —
    * q_basket_pairs ranks PAIRS globally by lift, this emits a
    * per-item NEIGHBOR LIST, the thing a "customers also bought"
    * service actually serves. Same bounded pair backbone (pairs only
    * within an order, basket size caps per-row fan-out; n_ab ≥ 2
    * prunes noise pairs before the join-backs); cosine is one
    * √ + division over exact longs (both IEEE-correctly-rounded, so
    * bit-identical cross-engine); the top-3 rank window partitions by
    * ITEM — peers are that item's co-purchased neighbors, bounded by
    * catalog behavior, never corpus size. */
  def qItemCf(spark: SparkSession, dir: String): DataFrame = {
    // round 14: shared array-rollup backbone (operators.BasketPairs)
    // — see q_basket_pairs; pair multiset identical, self-join gone
    val ordArr = graft.operators.BasketPairs.groupArrays(
      Tables.lineitem(spark, dir), "l_orderkey", "l_partkey")
    val freq = ordArr.select(explode(col("ps")).as("l_partkey"))
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_p"))
    val pairs = ordArr
      .select(explode(graft.operators.BasketPairs.orderedPairs(col("ps")))
        .as("pr"))
      .groupBy(col("pr.pa").as("pa"), col("pr.pb").as("pb"))
      .agg(count(lit(1)).as("n_ab"))
      .where(col("n_ab") >= 2)
    val sym = pairs
      .select(col("pa").as("item"), col("pb").as("nbr"), col("n_ab"))
      .unionByName(pairs
        .select(col("pb").as("item"), col("pa").as("nbr"), col("n_ab")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("item"))
      .orderBy(col("cosine").desc, col("nbr"))
    sym
      .join(freq.select(col("l_partkey").as("item"), col("n_p").as("n_i")),
        "item")
      .join(freq.select(col("l_partkey").as("nbr"), col("n_p").as("n_j")),
        "nbr")
      .withColumn("cosine",
        round(col("n_ab") / sqrt((col("n_i") * col("n_j")).cast("double")),
          6))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= 3)
      .select(col("item"), col("rk"), col("nbr"), col("n_ab"), col("cosine"))
      .orderBy(col("item"), col("rk"))
  }

  /** MERGEABLE-SKETCH ROLLUP — weekly distinct users RE-AGGREGATED
    * FROM DAILY KMV SYNOPSES, never from raw data: each day stores its
    * k-min hash set (≤ k doubles, the KmvSynopsisAggregator), and the
    * weekly estimate re-sketches the exploded day synopses — exact
    * mergeability (k smallest of a union of k-min sets = k-min set of
    * the union) means the rollup equals sketching the raw week. This
    * is THE incremental-maintenance pattern at 100 TB: the daily
    * synopsis table is a few KB per day, weekly/monthly/yearly uniques
    * come from synopsis unions at any later time, and backfills touch
    * only the affected days. The exact count rides along (from raw,
    * for the measured error only — production would not run it).
    * Deterministic md5 hashing keeps even the approximate estimates
    * bit-reproducible, so the whole pipeline is oracle-checkable. */
  def qSketchRollup(spark: SparkSession, dir: String): DataFrame = {
    val k = 64
    val syn = graft.operators.KmvSketch.kmvSynopsis(k)
    val kmv = graft.operators.KmvSketch.kmv(k)
    val ev = Tables.events(spark, dir)
      .select(expr("unix_micros(ts) DIV 86400000000").as("di"),
        col("user_id"))
    val daySyn = ev.groupBy(col("di"))
      .agg(syn(graft.operators.Sampling.hashFraction(col("user_id")))
        .as("syn"))
    val weekly = daySyn
      .select(expr("di DIV 7").as("week_idx"), explode(col("syn")).as("f"))
      .groupBy(col("week_idx"))
      .agg(round(kmv(col("f")), 4).as("est_distinct"))
    val exact = ev.groupBy(expr("di DIV 7").as("week_idx"))
      .agg(countDistinct(col("user_id")).as("n_distinct"),
        countDistinct(col("di")).as("n_days"))
    weekly.join(exact, "week_idx")
      .select(col("week_idx"), col("n_days"), col("est_distinct"),
        col("n_distinct"),
        round(abs(col("est_distinct") - col("n_distinct")) /
          col("n_distinct"), 4).as("rel_err"))
      .orderBy(col("week_idx"))
  }

  /** KMV SET ALGEBRA — approximate DISTINCT-OVERLAP of two audiences
    * (users who click vs users who purchase) by inclusion–exclusion
    * over three bounded sketches: |A∩B| ≈ est(A) + est(B) − est(A∪B),
    * where the union sketch is just KMV over the concatenated rows
    * (KMV is a hash SET — mergeable by construction, the property that
    * makes sketch algebra work across 100 TB partitions). Exact
    * intersect rides along for the measured rel_err. Every estimate is
    * deterministic md5 arithmetic, so even the approximations are
    * bit-reproducible cross-engine. */
  def qApproxOverlap(s: SparkSession, d: String): DataFrame = {
    val k = 64
    val kmv = graft.operators.KmvSketch.kmv(k)
    val ev = Tables.events(s, d)
    def side(t: String) = ev.where(col("event_type") === t)
      .select(col("user_id"),
        graft.operators.Sampling.hashFraction(col("user_id")).as("f"))
    val a = side("click")
    val b = side("purchase")
    val estA = a.agg(kmv(col("f")).as("est_a"))
    val estB = b.agg(kmv(col("f")).as("est_b"))
    val estU = a.unionAll(b).agg(kmv(col("f")).as("est_u"))
    val exact = a.select(col("user_id"))
      .intersect(b.select(col("user_id")))
      .agg(count(lit(1)).as("n_exact"))
    broadcast(estA).crossJoin(broadcast(estB)).crossJoin(broadcast(estU))
      .crossJoin(broadcast(exact))
      .select(
        round(col("est_a"), 4).as("est_a"),
        round(col("est_b"), 4).as("est_b"),
        round(col("est_u"), 4).as("est_union"),
        round(col("est_a") + col("est_b") - col("est_u"), 4)
          .as("est_overlap"),
        col("n_exact"),
        round(abs(col("est_a") + col("est_b") - col("est_u") -
          col("n_exact")) / greatest(col("n_exact"), lit(1L)), 4)
          .as("rel_err"))
  }

  /** ROLLUP hierarchy totals — subtotal rows per returnflag and a grand
    * total, in ONE aggregation pass (Spark plans rollup as an Expand +
    * single hash aggregate, not one pass per level). */
  def qAggRollup(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec("l_quantity")).cast("double").as("sum_qty"),
        count(lit(1)).as("n"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  /** CUBE: all 2^2 grouping combinations in one pass (Expand + single
    * hash aggregate), with GROUPING() flags disambiguating subtotal
    * rows from genuine NULL groups. */
  def qAggCube(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n"),
        sum(dec("o_totalprice")).cast("decimal(38,4)").cast("double")
          .as("sum_price"),
        grouping(col("o_orderstatus")).cast("long").as("g_status"),
        grouping(col("o_orderpriority")).cast("long").as("g_prio"))
      .orderBy(asc_nulls_first("o_orderstatus"),
        asc_nulls_first("o_orderpriority"))

  /** Explicit GROUPING SETS — arbitrary grouping combinations beyond
    * the ROLLUP/CUBE hierarchies, still ONE Expand + single hash
    * aggregate pass (grouping-set membership is a codegen'd replicate,
    * not separate scans). Declared as SQL: GROUPING SETS has no
    * DataFrame verb. */
  def qAggGroupingSets(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("orders")
    s.sql(groupingSetsSql)
  }

  private val groupingSetsSql =
    """SELECT o_orderstatus, o_orderpriority,
      |  CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
      |  CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
      |  COUNT(*) AS n,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE) AS sum_price
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
      |                        (o_orderstatus, o_orderpriority))
      |ORDER BY g_status, g_prio,
      |  o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  /** PIVOT: order counts by priority × status, statuses as columns —
    * Spark's groupBy().pivot() with an explicit value list (no extra
    * distinct-scan pass; at 100 TB always pass the values). */
  def qPivot(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .select(col("o_orderpriority"), col("F").as("n_f"),
        col("O").as("n_o"), col("P").as("n_p"))
      .orderBy(col("o_orderpriority"))

  /** Median (exact percentile), discrete median, and a DETERMINISTIC
    * mode (max count, min value on ties — SQL's MODE() leaves ties
    * implementation-defined, which can never pass a cross-engine
    * oracle). The mode is a value-count aggregate + one row_number
    * window over the tiny per-group count table, not a window over the
    * detail rows.
    *
    * 100 TB note: exact percentile is an ObjectHashAggregate that
    * buffers every group value — an OOM past a few GiB, so the medians
    * ROUTE by input size (operators.ScaleRouting): exact below the
    * threshold (every oracle SF — the gate hash-compares values
    * cross-engine), `approx_percentile` sketches above it. The mode
    * path needs no routing: it aggregates to (group, value) counts
    * first, which is map-side combinable and never buffers raw rows. */
  def qAggMedianMode(s: SparkSession, d: String): DataFrame =
    aggMedianMode(s, d, graft.operators.ScaleRouting
      .exactPercentileOk(s, s"$d/lineitem.parquet"))

  private[graft] def aggMedianMode(
      s: SparkSession, d: String, exact: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.ScaleRouting.{percentileCont, percentileDisc}
    val li = Tables.lineitem(s, d)
    val stats = li.groupBy(col("l_returnflag")).agg(
      count(lit(1)).as("n"),
      round(percentileCont(exact, "l_quantity", 0.5), 4).as("median_qty"),
      percentileDisc(exact, "l_quantity", 0.5).as("median_disc_qty"))
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("cnt").desc, col("l_quantity").asc)
    val modes = li.groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") === 1)
      .select(col("l_returnflag"), col("l_quantity").as("mode_qty"),
        col("cnt").as("mode_n"))
    stats.join(modes, "l_returnflag")
      .select(col("l_returnflag"), col("n"), col("median_qty"),
        col("median_disc_qty"), col("mode_qty"), col("mode_n"))
      .orderBy(col("l_returnflag"))
  }

  /** WEIGHTED median — the reference's median machinery generalized to
    * weighted quantiles (price-weighted "typical quantity": where does
    * the revenue-midpoint sit?). No sort of the raw fact: values
    * collapse to one row per (flag, quantity) in a map-side-partial
    * hash aggregate first, then a cumulative-weight window runs on
    * that value-domain table (bounded by |distinct quantities|, not
    * row count). The median is the smallest value whose cumulative
    * weight reaches half the total — the comparison is 2·cumw ≥ total
    * in exact DECIMAL, never a float division — and the final per-flag
    * aggregate reuses the window's partitioning (zero extra exchange,
    * the q_events_cusum shape). */
  def qAggWeightedMedian(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wt = Window.partitionBy(col("l_returnflag"))
    val wc = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("l_quantity"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(sum(dec("l_extendedprice")).as("w"))
      .withColumn("cumw", sum(col("w")).over(wc))
      .withColumn("total", sum(col("w")).over(wt))
      .where(col("cumw") * 2 >= col("total"))
      .groupBy(col("l_returnflag"))
      .agg(min(col("l_quantity")).as("weighted_median_qty"),
        max(col("total")).cast("decimal(38,4)").cast("double")
          .as("total_weight"))
      .orderBy(col("l_returnflag"))
  }

  /** COHORT LTV MATRIX — cumulative revenue per user by signup cohort
    * (the unit-economics report next to RFM and the events cohort
    * retention): customers cohort by FIRST-order month, every order
    * lands in its (cohort, month-offset) cell, and cumulative LTV per
    * user runs along each cohort row. Both dates are month-truncated
    * before differencing, so the offset is an exact integer on any
    * engine; revenue accumulates as exact DECIMAL and closes through
    * the scale-4 → double contract (q_tpch1), and only the
    * LTV-per-user close divides. Shape: two
    * hash aggregates + one join on the customer partitioning, then a
    * window over the calendar-bounded (cohort × offset) matrix. */
  def qCohortLtv(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(s, d).select(col("o_custkey"),
      date_trunc("month", col("o_orderdate")).as("m"),
      dec("o_totalprice").as("p"))
    val first = o.groupBy(col("o_custkey")).agg(min(col("m")).as("cohort"))
    val sized = first.groupBy(col("cohort"))
      .agg(countDistinct(col("o_custkey")).as("cohort_size"))
    val wc = Window.partitionBy(col("cohort")).orderBy(col("offset"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    o.join(first, "o_custkey")
      .withColumn("offset",
        months_between(col("m"), col("cohort")).cast("int"))
      .groupBy(col("cohort"), col("offset"))
      .agg(countDistinct(col("o_custkey")).as("n_active"),
        sum(col("p")).as("revenue"))
      .join(sized, "cohort")
      .withColumn("cum_rev", sum(col("revenue")).over(wc))
      // LTV-per-user closes on the INTEGER half-up grid (the
      // transitions ppm discipline): a double ROUND at 4 dp flips
      // half-ties differently across engines — observed here at
      // sf0.01 before this close was integerized
      .withColumn("cum_u", (col("cum_rev") * 10000).cast("bigint"))
      .select(col("cohort").as("cohort_month"), col("offset"),
        col("n_active"),
        col("revenue").cast("decimal(38,4)").cast("double").as("revenue"),
        (expr("CAST((2 * cum_u + cohort_size) DIV (2 * cohort_size) AS BIGINT)")
          .cast("double") / lit(10000.0)).as("cum_ltv_per_user"))
      .orderBy(col("cohort_month"), col("offset"))
  }

  /** GINI COEFFICIENT of revenue concentration per flag — the
    * inequality audit (how much of the money sits in how few line
    * items; operationally the same skew measure that decides salting
    * strategy, here as a first-class statistic): the order-statistic
    * form G = 2·Σᵢ i·xᵢ/(n·Σx) − (n+1)/n over ascending prices.
    * Σᵢ i·xᵢ is TIE-ORDER-INVARIANT (a tie group contributes the same
    * set of ranks times the same value however row_number breaks the
    * tie), so the per-flag rank window needs no tiebreak column;
    * rank·price products are exact DECIMAL and the close is one fixed
    * IEEE sequence at 6 dp. The sort-by-value window is inherent to
    * order statistics — the documented 100 TB swap-in is binned Gini
    * on an equi-depth histogram (q_histogram_equidepth machinery). */
  def qAggGini(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("l_returnflag")).orderBy(col("x"))
    Tables.lineitem(s, d)
      .select(col("l_returnflag"), dec("l_extendedprice").as("x"))
      .withColumn("i", row_number().over(w))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("i") * col("x")).as("six"))
      .select(col("l_returnflag"), col("n"),
        round((col("six") * 2).cast("double") /
            (col("n") * col("sx")).cast("double") -
          (col("n") + 1).cast("double") / col("n"), 6).as("gini"))
      .orderBy(col("l_returnflag"))
  }

  /** Correlation + least-squares regression from ONE pass of exact
    * DECIMAL moment sums (n, Σx, Σy, Σxy, Σx², Σy²) — the sums are
    * order-independent, and the closing formulas are correctly-rounded
    * IEEE double ops, so the result is bit-identical cross-engine
    * (same recipe as q_events_anomaly). Built-in corr()/regr_slope()
    * accumulate doubles in partition order and cannot be oracle-checked
    * exactly. */
  def qAggCorrRegr(s: SparkSession, d: String): DataFrame = {
    val x = dec("l_quantity")
    val y = dec("l_extendedprice")
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum((x * y).cast("decimal(38,8)")).as("sxy"),
        sum((x * x).cast("decimal(38,8)")).as("sxx"),
        sum((y * y).cast("decimal(38,8)")).as("syy"))
      .select(Seq(col("l_returnflag"), col("n")) ++ {
        val n = col("n").cast("double")
        def d8(c: Column) = c.cast("double")
        val covn = n * d8(col("sxy")) - d8(col("sx")) * d8(col("sy"))
        val varxn = n * d8(col("sxx")) - d8(col("sx")) * d8(col("sx"))
        val varyn = n * d8(col("syy")) - d8(col("sy")) * d8(col("sy"))
        val corr = covn / sqrt(varxn * varyn)
        val slope = covn / varxn
        Seq(
          round(corr, 6).as("corr_qty_price"),
          round(slope, 6).as("regr_slope"),
          round((d8(col("sy")) - slope * d8(col("sx"))) / n, 6)
            .as("regr_intercept"),
          round(corr * corr, 6).as("regr_r2"))
      }: _*)
      .orderBy(col("l_returnflag"))
  }

  /** List / string aggregation with a TOTAL order inside the group —
    * collect_list is unordered by contract (partition arrival order),
    * so the deterministic form is collect + array_sort; the csv is
    * then reproducible across runs, partitionings, and engines. */
  def qAggList(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .where(col("c_mktsegment") === "BUILDING")
      .groupBy(col("c_nationkey").as("nationkey"))
      .agg(
        count(lit(1)).as("n"),
        array_join(array_sort(collect_list(col("c_name"))), ",")
          .as("names_csv"))
      .orderBy(col("nationkey"))

  /** Equi-width histogram over a two-pass plan: a 1-row min/max
    * aggregate broadcast-cross-joined into a stateless bucket scan,
    * then one hash aggregate per bucket. The bucket index is plain
    * IEEE arithmetic (floor((x−lo)/step) clamped to the last bucket)
    * rather than width_bucket so both engines compute identical
    * bucket keys. */
  def qHistogram(s: SparkSession, d: String): DataFrame = {
    val nb = 20
    val li = Tables.lineitem(s, d).select(col("l_extendedprice").as("x"))
    val bounds = li.agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
    // degenerate span (hi == lo, e.g. a constant column) would make the
    // step 0 and floor(NaN) a null bucket — route it to bucket 0 instead
    li.crossJoin(broadcast(bounds))
      .withColumn("bucket",
        when(col("hi") > col("lo"),
          least(floor((col("x") - col("lo")) /
            ((col("hi") - col("lo")) / lit(nb.toDouble))), lit(nb - 1L)))
          .otherwise(lit(0L))
          .cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        round(min(col("x")), 4).as("min_x"),
        round(max(col("x")), 4).as("max_x"))
      .orderBy(col("bucket"))
  }

  /** UNPIVOT / melt: wide measure columns to (id, measure, value)
    * rows — Spark's native unpivot (an Expand node: no join, no
    * shuffle, one scan). */
  def qUnpivot(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .select(col("p_partkey"), col("p_size").cast("double").as("p_size"),
        col("p_retailprice"))
      .unpivot(Array(col("p_partkey")),
        Array(col("p_size"), col("p_retailprice")), "measure", "value")
      .orderBy(col("p_partkey"), col("measure"))

  /** RFM customer segmentation (recency / frequency / monetary with
    * quartile scores) — the classic mart-building aggregate. The
    * scale-correct scoring shape: quartile BOUNDARIES come from ONE
    * tiny global aggregate (3×3 exact percentiles over the per-customer
    * rollup) broadcast into a stateless per-row comparison — NOT a
    * global ntile window, which would funnel every customer through a
    * single partition. Round-4 quantiles and exact cent sums keep the
    * boundaries engine-identical. */
  def qRfm(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val maxd = o.agg(max(col("o_orderdate")).as("maxd"))
    val cust = o.groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("last_date"),
        count(lit(1)).as("frequency"),
        sum(col("o_totalprice")).cast("double").as("monetary"))
      .crossJoin(broadcast(maxd))
      .select(col("o_custkey"),
        datediff(col("maxd"), col("last_date")).cast("long")
          .as("recency_days"),
        col("frequency"), col("monetary"))
    // quartile boundaries size-route exact vs sketch (ScaleRouting
    // pattern — exact at every test SF, GK sketch at lake scale)
    val exactPct = graft.operators.ScaleRouting.exactPercentileOk(
      spark, s"$dir/orders.parquet")
    def q(c: String, pct: Int) =
      round(graft.operators.ScaleRouting.percentileCont(
        exactPct, c, pct / 100.0), 4).as(s"${c}_q$pct")
    val bounds = cust.agg(
      q("recency_days", 25), q("recency_days", 50), q("recency_days", 75),
      q("frequency", 25), q("frequency", 50), q("frequency", 75),
      q("monetary", 25), q("monetary", 50), q("monetary", 75))
    def hi(v: Column, c: String) =
      (lit(1) + (v > col(s"${c}_q25")).cast("int") +
        (v > col(s"${c}_q50")).cast("int") +
        (v > col(s"${c}_q75")).cast("int")).cast("long")
    cust.crossJoin(broadcast(bounds))
      .select(col("o_custkey"), col("recency_days"), col("frequency"),
        col("monetary"),
        // recency: smaller = better, so invert the quartile index
        (lit(5L) - hi(col("recency_days"), "recency_days")).as("r_score"),
        hi(col("frequency"), "frequency").as("f_score"),
        hi(col("monetary"), "monetary").as("m_score"))
      .withColumn("rfm_cell",
        col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
      .orderBy(col("o_custkey"))
  }

  /** Market-basket pair analysis: support and lift for part pairs
    * co-occurring in an order — the co-purchase affinity mart. The
    * pair generator is an orderkey-co-partitioned self-join whose
    * fan-out is quadratic ONLY in items-per-order (≤13 in this
    * schema, ≤78 pairs per order; a real catalog would cap or
    * frequency-prefilter basket size first, the ngram-df-cap
    * pattern). Lift = n_ab·N/(n_a·n_b) from exact long counts, so
    * the double division is bit-identical cross-engine. Top-50 by
    * (support desc, pair) under TakeOrderedAndProject. */
  def qBasketPairs(spark: SparkSession, dir: String): DataFrame = {
    // round 14: all three consumers (order count, part frequency,
    // pair counts) read the ONE per-order sorted-distinct item-array
    // rollup (operators.BasketPairs) instead of each re-deriving the
    // distinct item table; the pair generator becomes a per-row array
    // expression over the rollup — no self-join, no second exchange,
    // identical pair multiset (sorted distinct array ⇒ a < b pairs)
    val ordArr = graft.operators.BasketPairs.groupArrays(
      Tables.lineitem(spark, dir), "l_orderkey", "l_partkey")
    val nOrders = ordArr.agg(count(lit(1)).as("n_orders"))
    val freq = ordArr.select(explode(col("ps")).as("l_partkey"))
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_p"))
    val pairs = ordArr
      .select(explode(graft.operators.BasketPairs.orderedPairs(col("ps")))
        .as("pr"))
      .groupBy(col("pr.pa").as("pa"), col("pr.pb").as("pb"))
      .agg(count(lit(1)).as("n_ab"))
      .where(col("n_ab") >= 2)
    pairs
      .join(freq.select(col("l_partkey").as("pa"), col("n_p").as("n_a")), "pa")
      .join(freq.select(col("l_partkey").as("pb"), col("n_p").as("n_b")), "pb")
      .crossJoin(broadcast(nOrders))
      .select(col("pa"), col("pb"), col("n_ab"), col("n_a"), col("n_b"),
        round((col("n_ab") * col("n_orders")) / (col("n_a") * col("n_b")), 6)
          .as("lift"))
      .orderBy(col("n_ab").desc, col("pa"), col("pb"))
      .limit(50)
  }

  /** ASSOCIATION RULES — q_basket_pairs' directional half: each
    * co-purchase pair unfolds into both rules a → b and b → a, scored
    * by confidence P(b|a) = n_ab/n_a (the number a recommender ranks
    * by — lift is symmetric, confidence is not: the niche→staple rule
    * can be near-certain while its reverse is noise). Same
    * order-co-partitioned self-join backbone as q_basket_pairs
    * (fan-out bounded by items-per-order), the unfold is a zero-
    * shuffle projection of the pair table, frequencies join back on
    * the part key, and both scores close on the exact truncating ppm
    * grid — bit-identical cross-engine, no floating division. Top-40
    * under TakeOrderedAndProject with a total (conf, ante, cons)
    * order. */
  def qAssocRules(spark: SparkSession, dir: String): DataFrame = {
    // round 14: same shared array-rollup backbone as q_basket_pairs
    val ordArr = graft.operators.BasketPairs.groupArrays(
      Tables.lineitem(spark, dir), "l_orderkey", "l_partkey")
    val nOrders = ordArr.agg(count(lit(1)).as("n_orders"))
    val freq = ordArr.select(explode(col("ps")).as("l_partkey"))
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_p"))
    val pairs = ordArr
      .select(explode(graft.operators.BasketPairs.orderedPairs(col("ps")))
        .as("pr"))
      .groupBy(col("pr.pa").as("pa"), col("pr.pb").as("pb"))
      .agg(count(lit(1)).as("n_ab"))
      .where(col("n_ab") >= 2)
    val rules = pairs
      .select(col("pa").as("ante"), col("pb").as("cons"), col("n_ab"))
      .unionByName(pairs
        .select(col("pb").as("ante"), col("pa").as("cons"), col("n_ab")))
    rules
      .join(freq.select(col("l_partkey").as("ante"),
        col("n_p").as("n_a")), "ante")
      .join(freq.select(col("l_partkey").as("cons"),
        col("n_p").as("n_b")), "cons")
      .crossJoin(broadcast(nOrders))
      .select(col("ante"), col("cons"), col("n_ab"), col("n_a"),
        col("n_b"),
        expr("CAST((1000000 * n_ab) DIV n_a AS BIGINT)").as("conf_ppm"),
        expr("CAST((1000000 * n_ab * n_orders) DIV (n_a * n_b)" +
          " AS BIGINT)").as("lift_ppm"))
      .orderBy(col("conf_ppm").desc, col("ante"), col("cons"))
      .limit(40)
  }

  /** Equi-DEPTH histogram of l_extendedprice (10 quantile buckets) —
    * the optimizer-statistics shape, complementing q_histogram's
    * equi-width buckets. Boundaries come from ONE exact-percentile
    * aggregate (array form — one pass) broadcast into a stateless
    * per-row bucket assignment (1 + #boundaries below the value), so
    * there is no global sort/ntile; per-bucket stats use the exact
    * DECIMAL sum pattern for the mean. Duplicate values straddling a
    * boundary make depths unequal by exactly their multiplicity —
    * inherent to equi-depth, not drift. */
  def qHistogramEquidepth(spark: SparkSession, dir: String): DataFrame = {
    val pcts = (1 to 9).map(_ / 10.0)
    val li = Tables.lineitem(spark, dir).select(col("l_extendedprice"))
    // boundaries size-route exact vs sketch (ScaleRouting): the exact
    // percentile buffers every value in one task — fine below 4 GiB,
    // an OOM at 100 TB, where the same plan takes the GK sketch
    val exact = graft.operators.ScaleRouting.exactPercentileOk(
      spark, s"$dir/lineitem.parquet")
    val bounds = li.agg(
      transform(graft.operators.ScaleRouting.percentileContArray(
        exact, "l_extendedprice", pcts), x => round(x, 4)).as("b"))
    // round 14: the bucket index is 9 codegen'd comparisons instead of
    // size(filter(...)) — higher-order functions are CodegenFallback,
    // so the old form interpreted the 9-element scan per fact row;
    // element_at on a bounded index is a plain codegen expression.
    // Same value: 1 + |{k : price > b[k]}|.
    li.crossJoin(broadcast(bounds))
      .withColumn("bucket",
        pcts.indices.map(k =>
          (col("l_extendedprice") > element_at(col("b"), k + 1)).cast("int"))
          .foldLeft(lit(1))(_ + _).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        round(min(col("l_extendedprice")), 4).as("lo"),
        round(max(col("l_extendedprice")), 4).as("hi"),
        round(sum(col("l_extendedprice").cast("decimal(18,4)"))
          .cast("double") / count(lit(1)), 6).as("mean"))
      .orderBy(col("bucket"))
  }

  /** HIGHER-MOMENT SHAPE STATISTICS — population skewness g₁ =
    * m₃/m₂^{3/2} and excess kurtosis g₂ = m₄/m₂² − 3 of l_quantity
    * per return flag, the distribution-shape profile beside
    * q_agg_stats' mean/var (a symmetric-looking mean can hide a heavy
    * tail that only m₃/m₄ expose — the data-quality read on a column
    * the planner assumes uniform).
    *
    * Exactness: l_quantity is integral, so the four power sums
    * Σx..Σx⁴ accumulate as EXACT DECIMAL(38,0) (order-free; Σx⁴ stays
    * within 38 digits past 10¹² rows of x ≤ 50); central moments then
    * derive from those sums in ONE fixed IEEE double sequence shared
    * verbatim with the oracle, closing on the 1e-6 round grid (the
    * q_events_autocorr discipline — exact integer sums, one float
    * closing step).
    *
    * Scale shape: a single map-side-partial hash aggregate to
    * |flags| rows; the moment algebra is per-group projection work on
    * that tiny result. One corpus scan, one 3-row shuffle. */
  def qAggMoments(spark: SparkSession, dir: String): DataFrame = {
    // decimal(9,0) per value: the x⁴ product chain then lands on
    // (38,0) exactly at Spark's precision cap with zero loss
    val q = col("l_quantity").cast("decimal(9,0)")
    val sums = Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(q).cast("decimal(38,0)").as("s1"),
        sum(q * q).cast("decimal(38,0)").as("s2"),
        sum(q * q * q).cast("decimal(38,0)").as("s3"),
        sum(q * q * q * q).cast("decimal(38,0)").as("s4"))
    sums.select(col("l_returnflag"), col("n"),
        (col("n").cast("double")).as("nd"),
        col("s1").cast("double").as("d1"),
        col("s2").cast("double").as("d2"),
        col("s3").cast("double").as("d3"),
        col("s4").cast("double").as("d4"))
      .withColumn("mu", col("d1") / col("nd"))
      .withColumn("m2", col("d2") / col("nd") - col("mu") * col("mu"))
      .withColumn("m3", col("d3") / col("nd") -
        lit(3.0) * col("mu") * (col("d2") / col("nd")) +
        lit(2.0) * col("mu") * col("mu") * col("mu"))
      .withColumn("m4", col("d4") / col("nd") -
        lit(4.0) * col("mu") * (col("d3") / col("nd")) +
        lit(6.0) * col("mu") * col("mu") * (col("d2") / col("nd")) -
        lit(3.0) * col("mu") * col("mu") * col("mu") * col("mu"))
      .select(col("l_returnflag"), col("n"),
        round(col("mu"), 6).as("mean"),
        round(col("m2"), 6).as("m2"),
        round(col("m3") / pow(col("m2"), 1.5), 6).as("skewness"),
        round(col("m4") / (col("m2") * col("m2")) - lit(3.0), 6)
          .as("kurtosis_excess"))
      .orderBy(col("l_returnflag"))
  }

  /** POISSON-BOOTSTRAP CONFIDENCE INTERVAL — the bootstrap that
    * actually works at 100 TB (Chamandy et al. 2012, "Estimating
    * uncertainty for massive data streams"): instead of resampling
    * n-out-of-n (a shuffle per replicate), each row gets an
    * independent Poisson(1) weight per replicate b, so all B = 32
    * replicates of the per-segment mean order value ride ONE pass —
    * a 32× projection-only expansion into a (segment, b) aggregate of
    * |segments|·B rows, zero extra shuffles.
    *
    * Determinism/exactness: the Poisson draw is pure integer
    * arithmetic — u = 52 md5 bits of (b, orderkey) compared against
    * floor(CDF_Poisson(1)(k)·2^52) integer thresholds (derivation in
    * the companion spec), capped at 6 (P(X≥6) ≈ 6·10⁻⁴, identical cap
    * in both engines); replicate means are integer-cent floor
    * divisions of exact DECIMAL(38,0) sums; the CI is
    * percentile_disc(0.05/0.95) over each segment's 32 replicate
    * means — attained integers, exact in both engines. A replicate
    * with zero total weight (probability e^{-n}) is dropped
    * identically on both sides. No float ever enters. */
  def qBootstrapCi(spark: SparkSession, dir: String): DataFrame = {
    val B = 32
    // floor(CDF_Poisson(1)(k) * 2^52) for k = 0..5
    val thr = Seq(1656781714176974L, 3313563428353948L,
      4141954285442435L, 4418084571138597L, 4487117142562638L,
      4500923656847446L)
    val dec = "decimal(38,0)"
    val rows = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val point = rows.groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(col("cents").cast(dec)).as("s"))
    val w = thr.zipWithIndex.foldRight(lit(6L)) {
      case ((t, k), rest) => when(col("u") < t, k.toLong).otherwise(rest)
    }
    val means = rows
      .withColumn("b", explode(sequence(lit(1), lit(B))))
      .withColumn("u", conv(substring(md5(concat(lit("bs"), col("b"),
        lit(":"), col("o_orderkey"))), 1, 13), 16, 10).cast("long"))
      .withColumn("w", w)
      .groupBy(col("c_mktsegment"), col("b"))
      .agg(sum((col("w") * col("cents")).cast(dec)).as("swx"),
        sum(col("w")).as("sw"))
      .where(col("sw") > 0)
      .select(col("c_mktsegment"), expr("swx DIV sw").as("m"))
    val ci = means.groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_resamples"),
        expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY m)")
          .cast("long").as("ci_lo_cents"),
        expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY m)")
          .cast("long").as("ci_hi_cents"))
    point.join(ci, "c_mktsegment")
      .select(col("c_mktsegment"), col("n"),
        expr("s DIV n").as("mean_cents"),
        col("ci_lo_cents"), col("ci_hi_cents"), col("n_resamples"))
      .orderBy(col("c_mktsegment"))
  }

  /** PARETO / REVENUE-CONCENTRATION AUDIT — the 80/20 read on the
    * customer base: for every decile floor k, how many customers sit
    * in revenue deciles ≥ k and what share of total revenue they
    * carry. The scale-correct shape (the q_rfm discipline, sharpened):
    * decile BOUNDARIES come from one tiny global aggregate of nine
    * percentile_disc values — attained integer cents, exact in both
    * engines — broadcast into a stateless per-row comparison (never a
    * global ntile/rank window); the cumulative tiers are TEN
    * CONDITIONAL SUMS in ONE aggregate pass, unfolded by stack() —
    * zero windows, zero self-joins, nothing single-task anywhere.
    * All integers end to end (share = integer-ppm floor division);
    * long cent sums are exact to ~4·10^16 dollars of total revenue. */
  def qPareto(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("r"))
    val boundCols = (1 to 9).map(k =>
      expr(s"percentile_disc(0.$k) WITHIN GROUP (ORDER BY r)")
        .cast("long").as(s"b$k"))
    val bounds = rev.agg(boundCols.head, boundCols.tail: _*)
    val d = rev.crossJoin(broadcast(bounds))
      .select(col("r"),
        (1 to 9).map(k => (col("r") > col(s"b$k")).cast("int"))
          .foldLeft(lit(1))(_ + _).as("dec"))
    val cums = d.agg(
      sum(col("r")).as("total"),
      (1 to 10).flatMap(k => Seq(
        sum(when(col("dec") >= k, 1L).otherwise(0L)).as(s"n$k"),
        sum(when(col("dec") >= k, col("r")).otherwise(0L))
          .as(s"c$k"))).toSeq: _*)
    cums.select(
      expr("stack(10, " + (1 to 10).map(k => s"$k, n$k, c$k")
        .mkString(", ") +
        ") as (min_decile, n_customers, revenue_cents)"),
      col("total"))
      .select(col("min_decile"), col("n_customers"),
        col("revenue_cents"),
        // the ppm numerator outgrows a long at lake scale — widen it
        expr("(CAST(1000000 AS DECIMAL(38,0)) * revenue_cents) " +
          "DIV total").as("share_ppm"))
      .orderBy(col("min_decile"))
  }

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_agg_moments" -> (qAggMoments _),
    "q_bootstrap_ci" -> (qBootstrapCi _),
    "q_pareto" -> (qPareto _),
    "q_histogram_equidepth" -> (qHistogramEquidepth _),
    "q_basket_pairs" -> (qBasketPairs _),
    "q_assoc_rules" -> (qAssocRules _),
    "q_rfm" -> (qRfm _),
    "q_agg_median_mode" -> (qAggMedianMode _),
    "q_agg_weighted_median" -> (qAggWeightedMedian _),
    "q_agg_gini" -> (qAggGini _),
    "q_cohort_ltv" -> (qCohortLtv _),
    "q_agg_corr_regr" -> (qAggCorrRegr _),
    "q_agg_list" -> (qAggList _),
    "q_histogram" -> (qHistogram _),
    "q_unpivot" -> (qUnpivot _),
    "q_agg_rollup" -> (qAggRollup _),
    "q_agg_cube" -> (qAggCube _),
    "q_agg_grouping_sets" -> (qAggGroupingSets _),
    "q_pivot" -> (qPivot _),
    "q_tpch1" -> (qTpch1 _),
    "q_agg_global" -> (qAggGlobal _),
    "q_agg_group" -> (qAggGroup _),
    "q_agg_stats" -> (qAggStats _),
    "q_total" -> (qTotal _),
    "q_count_distinct" -> (qCountDistinct _),
    "q_approx_distinct" -> (qApproxDistinct _),
    "q_approx_overlap" -> (qApproxOverlap _),
    "q_sketch_rollup" -> (qSketchRollup _),
    "q_item_cf" -> (qItemCf _))

  def oracles: Map[String, String] = Map(
    "q_pareto" ->
      """WITH rev AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
        |      AS BIGINT) AS r
        |  FROM orders GROUP BY 1),
        |b AS (SELECT
        |  CAST(percentile_disc(0.1) WITHIN GROUP (ORDER BY r) AS BIGINT) AS b1,
        |  CAST(percentile_disc(0.2) WITHIN GROUP (ORDER BY r) AS BIGINT) AS b2,
        |  CAST(percentile_disc(0.3) WITHIN GROUP (ORDER BY r) AS BIGINT) AS b3,
        |  CAST(percentile_disc(0.4) WITHIN GROUP (ORDER BY r) AS BIGINT) AS b4,
        |  CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY r) AS BIGINT) AS b5,
        |  CAST(percentile_disc(0.6) WITHIN GROUP (ORDER BY r) AS BIGINT) AS b6,
        |  CAST(percentile_disc(0.7) WITHIN GROUP (ORDER BY r) AS BIGINT) AS b7,
        |  CAST(percentile_disc(0.8) WITHIN GROUP (ORDER BY r) AS BIGINT) AS b8,
        |  CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY r) AS BIGINT) AS b9
        |  FROM rev),
        |d AS (
        |  SELECT r, 1 + CAST(r > b1 AS INT) + CAST(r > b2 AS INT)
        |    + CAST(r > b3 AS INT) + CAST(r > b4 AS INT)
        |    + CAST(r > b5 AS INT) + CAST(r > b6 AS INT)
        |    + CAST(r > b7 AS INT) + CAST(r > b8 AS INT)
        |    + CAST(r > b9 AS INT) AS dec
        |  FROM rev CROSS JOIN b),
        |g AS (SELECT dec, COUNT(*) AS nc,
        |  CAST(SUM(r) AS HUGEINT) AS rc FROM d GROUP BY 1),
        |t AS (SELECT CAST(SUM(r) AS HUGEINT) AS total FROM rev),
        |k(min_decile) AS (VALUES (1), (2), (3), (4), (5), (6), (7),
        |  (8), (9), (10))
        |SELECT min_decile,
        |  CAST(COALESCE(SUM(nc), 0) AS BIGINT) AS n_customers,
        |  CAST(COALESCE(SUM(rc), 0) AS BIGINT) AS revenue_cents,
        |  CAST((CAST(1000000 AS HUGEINT) * COALESCE(SUM(rc), 0))
        |    // total AS BIGINT) AS share_ppm
        |FROM k CROSS JOIN t LEFT JOIN g ON g.dec >= k.min_decile
        |GROUP BY min_decile, total
        |ORDER BY min_decile""".stripMargin,
    "q_bootstrap_ci" ->
      """WITH rows_ AS (
        |  SELECT c_mktsegment, o_orderkey,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |pt AS (
        |  SELECT c_mktsegment, COUNT(*) AS n,
        |    SUM(CAST(cents AS HUGEINT)) AS s
        |  FROM rows_ GROUP BY 1),
        |re AS (
        |  SELECT c_mktsegment, b, cents,
        |    CAST(CONCAT('0x', SUBSTR(MD5(
        |      'bs' || b || ':' || o_orderkey), 1, 13)) AS BIGINT) AS u
        |  FROM rows_ CROSS JOIN
        |    (SELECT UNNEST(GENERATE_SERIES(1, 32)) AS b)),
        |wt AS (
        |  SELECT c_mktsegment, b, cents,
        |    CASE WHEN u < 1656781714176974 THEN 0
        |      WHEN u < 3313563428353948 THEN 1
        |      WHEN u < 4141954285442435 THEN 2
        |      WHEN u < 4418084571138597 THEN 3
        |      WHEN u < 4487117142562638 THEN 4
        |      WHEN u < 4500923656847446 THEN 5
        |      ELSE 6 END AS w
        |  FROM re),
        |mn AS (
        |  SELECT c_mktsegment, b,
        |    SUM(CAST(w * cents AS HUGEINT)) // SUM(w) AS m
        |  FROM wt GROUP BY 1, 2 HAVING SUM(w) > 0),
        |ci AS (
        |  SELECT c_mktsegment, COUNT(*) AS n_resamples,
        |    CAST(percentile_disc(0.05) WITHIN GROUP (ORDER BY m)
        |      AS BIGINT) AS ci_lo_cents,
        |    CAST(percentile_disc(0.95) WITHIN GROUP (ORDER BY m)
        |      AS BIGINT) AS ci_hi_cents
        |  FROM mn GROUP BY 1)
        |SELECT c_mktsegment, n, CAST(s // n AS BIGINT) AS mean_cents,
        |  ci_lo_cents, ci_hi_cents, n_resamples
        |FROM pt JOIN ci USING (c_mktsegment)
        |ORDER BY c_mktsegment""".stripMargin,
    "q_agg_moments" ->
      """WITH sums AS (
        |  SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(l_quantity AS HUGEINT)) AS s1,
        |    SUM(CAST(l_quantity AS HUGEINT) *
        |        CAST(l_quantity AS HUGEINT)) AS s2,
        |    SUM(CAST(l_quantity AS HUGEINT) *
        |        CAST(l_quantity AS HUGEINT) *
        |        CAST(l_quantity AS HUGEINT)) AS s3,
        |    SUM(CAST(l_quantity AS HUGEINT) *
        |        CAST(l_quantity AS HUGEINT) *
        |        CAST(l_quantity AS HUGEINT) *
        |        CAST(l_quantity AS HUGEINT)) AS s4
        |  FROM lineitem GROUP BY 1),
        |d AS (
        |  SELECT l_returnflag, n, CAST(n AS DOUBLE) AS nd,
        |    CAST(s1 AS DOUBLE) AS d1, CAST(s2 AS DOUBLE) AS d2,
        |    CAST(s3 AS DOUBLE) AS d3, CAST(s4 AS DOUBLE) AS d4
        |  FROM sums),
        |mo AS (
        |  SELECT l_returnflag, n, d1 / nd AS mu,
        |    d2 / nd - (d1 / nd) * (d1 / nd) AS m2,
        |    d3 / nd - 3.0 * (d1 / nd) * (d2 / nd) +
        |      2.0 * (d1 / nd) * (d1 / nd) * (d1 / nd) AS m3,
        |    d4 / nd - 4.0 * (d1 / nd) * (d3 / nd) +
        |      6.0 * (d1 / nd) * (d1 / nd) * (d2 / nd) -
        |      3.0 * (d1 / nd) * (d1 / nd) * (d1 / nd) * (d1 / nd) AS m4
        |  FROM d)
        |SELECT l_returnflag, n, ROUND(mu, 6) AS mean,
        |  ROUND(m2, 6) AS m2,
        |  ROUND(m3 / POWER(m2, 1.5), 6) AS skewness,
        |  ROUND(m4 / (m2 * m2) - 3.0, 6) AS kurtosis_excess
        |FROM mo ORDER BY l_returnflag""".stripMargin,
    "q_histogram_equidepth" ->
      """WITH b AS (
        |  SELECT LIST_TRANSFORM(
        |    QUANTILE_CONT(l_extendedprice,
        |      [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
        |    x -> ROUND(x, 4)) AS b
        |  FROM lineitem),
        |assigned AS (
        |  SELECT l_extendedprice,
        |    CAST(1 + LEN(LIST_FILTER(b, x -> l_extendedprice > x))
        |      AS BIGINT) AS bucket
        |  FROM lineitem CROSS JOIN b)
        |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  ROUND(MIN(l_extendedprice), 4) AS lo,
        |  ROUND(MAX(l_extendedprice), 4) AS hi,
        |  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)))
        |    AS DOUBLE) / COUNT(*), 6) AS mean
        |FROM assigned GROUP BY bucket
        |ORDER BY bucket""".stripMargin,
    "q_basket_pairs" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |no AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT)
        |       AS n_orders FROM items),
        |freq AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_p
        |         FROM items GROUP BY 1),
        |p AS (
        |  SELECT a.l_partkey AS pa, b.l_partkey AS pb,
        |    CAST(COUNT(*) AS BIGINT) AS n_ab
        |  FROM items a JOIN items b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        |SELECT pa, pb, n_ab, fa.n_p AS n_a, fb.n_p AS n_b,
        |  ROUND((n_ab * n_orders) / (fa.n_p * fb.n_p), 6) AS lift
        |FROM p
        |JOIN freq fa ON fa.l_partkey = pa
        |JOIN freq fb ON fb.l_partkey = pb
        |CROSS JOIN no
        |ORDER BY n_ab DESC, pa, pb LIMIT 50""".stripMargin,
    "q_assoc_rules" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |no AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT)
        |       AS n_orders FROM items),
        |freq AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_p
        |         FROM items GROUP BY 1),
        |p AS (
        |  SELECT a.l_partkey AS pa, b.l_partkey AS pb,
        |    CAST(COUNT(*) AS BIGINT) AS n_ab
        |  FROM items a JOIN items b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |rules AS (
        |  SELECT pa AS ante, pb AS cons, n_ab FROM p
        |  UNION ALL
        |  SELECT pb AS ante, pa AS cons, n_ab FROM p)
        |SELECT ante, cons, n_ab, fa.n_p AS n_a, fb.n_p AS n_b,
        |  CAST((1000000 * n_ab) // fa.n_p AS BIGINT) AS conf_ppm,
        |  CAST((1000000 * n_ab * n_orders) // (fa.n_p * fb.n_p)
        |    AS BIGINT) AS lift_ppm
        |FROM rules
        |JOIN freq fa ON fa.l_partkey = ante
        |JOIN freq fb ON fb.l_partkey = cons
        |CROSS JOIN no
        |ORDER BY conf_ppm DESC, ante, cons LIMIT 40""".stripMargin,
    "q_rfm" ->
      """WITH cust AS (
        |  SELECT o_custkey,
        |    CAST(date_diff('day', MAX(o_orderdate),
        |      (SELECT MAX(o_orderdate) FROM orders)) AS BIGINT)
        |      AS recency_days,
        |    CAST(COUNT(*) AS BIGINT) AS frequency,
        |    CAST(SUM(o_totalprice) AS DOUBLE) AS monetary
        |  FROM orders GROUP BY o_custkey),
        |b AS (
        |  SELECT
        |    ROUND(QUANTILE_CONT(recency_days, 0.25), 4) AS r25,
        |    ROUND(QUANTILE_CONT(recency_days, 0.50), 4) AS r50,
        |    ROUND(QUANTILE_CONT(recency_days, 0.75), 4) AS r75,
        |    ROUND(QUANTILE_CONT(frequency, 0.25), 4) AS f25,
        |    ROUND(QUANTILE_CONT(frequency, 0.50), 4) AS f50,
        |    ROUND(QUANTILE_CONT(frequency, 0.75), 4) AS f75,
        |    ROUND(QUANTILE_CONT(monetary, 0.25), 4) AS m25,
        |    ROUND(QUANTILE_CONT(monetary, 0.50), 4) AS m50,
        |    ROUND(QUANTILE_CONT(monetary, 0.75), 4) AS m75
        |  FROM cust),
        |s AS (
        |  SELECT o_custkey, recency_days, frequency, monetary,
        |    CAST(5 - (1 + CASE WHEN recency_days > r25 THEN 1 ELSE 0 END
        |                + CASE WHEN recency_days > r50 THEN 1 ELSE 0 END
        |                + CASE WHEN recency_days > r75 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS r_score,
        |    CAST(1 + CASE WHEN frequency > f25 THEN 1 ELSE 0 END
        |           + CASE WHEN frequency > f50 THEN 1 ELSE 0 END
        |           + CASE WHEN frequency > f75 THEN 1 ELSE 0 END
        |      AS BIGINT) AS f_score,
        |    CAST(1 + CASE WHEN monetary > m25 THEN 1 ELSE 0 END
        |           + CASE WHEN monetary > m50 THEN 1 ELSE 0 END
        |           + CASE WHEN monetary > m75 THEN 1 ELSE 0 END
        |      AS BIGINT) AS m_score
        |  FROM cust CROSS JOIN b)
        |SELECT *, r_score * 100 + f_score * 10 + m_score AS rfm_cell
        |FROM s ORDER BY o_custkey""".stripMargin,
    "q_agg_median_mode" ->
      """WITH stats AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity), 4)
        |      AS median_qty,
        |    percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity)
        |      AS median_disc_qty
        |  FROM lineitem GROUP BY l_returnflag),
        |vc AS (
        |  SELECT l_returnflag, l_quantity, COUNT(*) AS cnt
        |  FROM lineitem GROUP BY 1, 2),
        |m AS (
        |  SELECT l_returnflag, l_quantity AS mode_qty, cnt AS mode_n,
        |    ROW_NUMBER() OVER (PARTITION BY l_returnflag
        |      ORDER BY cnt DESC, l_quantity ASC) AS rk
        |  FROM vc)
        |SELECT s.l_returnflag, s.n, s.median_qty, s.median_disc_qty,
        |  m.mode_qty, m.mode_n
        |FROM stats s JOIN m ON s.l_returnflag = m.l_returnflag AND m.rk = 1
        |ORDER BY s.l_returnflag""".stripMargin,
    "q_cohort_ltv" ->
      """WITH o AS (
        |  SELECT o_custkey,
        |    CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS m,
        |    CAST(o_totalprice AS DECIMAL(18,4)) AS p
        |  FROM orders),
        |fst AS (SELECT o_custkey, MIN(m) AS cohort FROM o GROUP BY 1),
        |sized AS (
        |  SELECT cohort, COUNT(DISTINCT o_custkey) AS cohort_size
        |  FROM fst GROUP BY 1),
        |j AS (
        |  SELECT o.o_custkey, o.m, o.p, f.cohort,
        |    DATE_DIFF('month', f.cohort, o.m) AS off
        |  FROM o JOIN fst f USING (o_custkey)),
        |cell AS (
        |  SELECT cohort, off, COUNT(DISTINCT o_custkey) AS n_active,
        |    SUM(p) AS revenue
        |  FROM j GROUP BY 1, 2),
        |cum AS (
        |  SELECT cohort, off, n_active, revenue, cohort_size,
        |    SUM(revenue) OVER (PARTITION BY cohort ORDER BY off
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev
        |  FROM cell JOIN sized USING (cohort))
        |SELECT cohort AS cohort_month, CAST(off AS INT) AS "offset",
        |  n_active, CAST(CAST(revenue AS DECIMAL(38,4)) AS DOUBLE) AS revenue,
        |  CAST((2 * CAST(cum_rev * 10000 AS BIGINT) + cohort_size)
        |    // (2 * cohort_size) AS BIGINT) / 10000.0
        |    AS cum_ltv_per_user
        |FROM cum ORDER BY cohort_month, "offset" """.stripMargin,
    "q_agg_gini" ->
      """WITH rk AS (
        |  SELECT l_returnflag,
        |    CAST(l_extendedprice AS DECIMAL(18,4)) AS x,
        |    ROW_NUMBER() OVER (PARTITION BY l_returnflag
        |      ORDER BY CAST(l_extendedprice AS DECIMAL(18,4))) AS i
        |  FROM lineitem),
        |s AS (
        |  SELECT l_returnflag, COUNT(*) AS n, SUM(x) AS sx,
        |    SUM(i * x) AS six
        |  FROM rk GROUP BY 1)
        |SELECT l_returnflag, n,
        |  ROUND(CAST(six * 2 AS DOUBLE) / CAST(n * sx AS DOUBLE)
        |    - CAST(n + 1 AS DOUBLE) / n, 6) AS gini
        |FROM s ORDER BY l_returnflag""".stripMargin,
    "q_agg_weighted_median" ->
      """WITH byval AS (
        |  SELECT l_returnflag, l_quantity,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS w
        |  FROM lineitem GROUP BY 1, 2),
        |cw AS (
        |  SELECT l_returnflag, l_quantity, w,
        |    SUM(w) OVER (PARTITION BY l_returnflag ORDER BY l_quantity
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
        |    SUM(w) OVER (PARTITION BY l_returnflag) AS total
        |  FROM byval)
        |SELECT l_returnflag, MIN(l_quantity) AS weighted_median_qty,
        |  CAST(CAST(MAX(total) AS DECIMAL(38,4)) AS DOUBLE) AS total_weight
        |FROM cw WHERE cumw * 2 >= total
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_agg_corr_regr" ->
      """WITH mom AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_quantity AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS DOUBLE) AS syy
        |  FROM lineitem GROUP BY l_returnflag),
        |c AS (
        |  SELECT l_returnflag, n,
        |    CAST(n AS DOUBLE) * sxy - sx * sy AS covn,
        |    CAST(n AS DOUBLE) * sxx - sx * sx AS varxn,
        |    CAST(n AS DOUBLE) * syy - sy * sy AS varyn,
        |    sx, sy
        |  FROM mom)
        |SELECT l_returnflag, n,
        |  ROUND(covn / SQRT(varxn * varyn), 6) AS corr_qty_price,
        |  ROUND(covn / varxn, 6) AS regr_slope,
        |  ROUND((sy - (covn / varxn) * sx) / CAST(n AS DOUBLE), 6)
        |    AS regr_intercept,
        |  ROUND((covn / SQRT(varxn * varyn)) * (covn / SQRT(varxn * varyn)), 6)
        |    AS regr_r2
        |FROM c ORDER BY l_returnflag""".stripMargin,
    "q_agg_list" ->
      """SELECT c_nationkey AS nationkey, COUNT(*) AS n,
        |  string_agg(c_name, ',' ORDER BY c_name) AS names_csv
        |FROM customer WHERE c_mktsegment = 'BUILDING'
        |GROUP BY c_nationkey ORDER BY nationkey""".stripMargin,
    "q_histogram" ->
      """WITH b AS (
        |  SELECT MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi
        |  FROM lineitem)
        |SELECT
        |  CAST(CASE WHEN hi > lo
        |    THEN LEAST(CAST(FLOOR((l_extendedprice - lo) / ((hi - lo) / 20.0)) AS BIGINT), 19)
        |    ELSE 0 END AS BIGINT) AS bucket,
        |  COUNT(*) AS n,
        |  ROUND(MIN(l_extendedprice), 4) AS min_x,
        |  ROUND(MAX(l_extendedprice), 4) AS max_x
        |FROM lineitem CROSS JOIN b
        |GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q_unpivot" ->
      """SELECT p_partkey, 'p_size' AS measure, CAST(p_size AS DOUBLE) AS value
        |FROM part
        |UNION ALL
        |SELECT p_partkey, 'p_retailprice' AS measure, p_retailprice AS value
        |FROM part
        |ORDER BY p_partkey, measure""".stripMargin,
    "q_tpch1" -> tpch1Oracle,
    "q_agg_grouping_sets" -> groupingSetsSql,
    "q_agg_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q_agg_cube" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE) AS sum_price,
        |  CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
        |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q_pivot" ->
      """SELECT o_orderpriority,
        |  COUNT(*) FILTER (o_orderstatus = 'F') AS n_f,
        |  COUNT(*) FILTER (o_orderstatus = 'O') AS n_o,
        |  COUNT(*) FILTER (o_orderstatus = 'P') AS n_p
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_agg_global" ->
      """SELECT COUNT(*) AS n_rows, COUNT(l_quantity) AS n_qty,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
        |  ROUND(AVG(l_quantity), 6) AS avg_qty
        |FROM lineitem""".stripMargin,
    "q_agg_group" ->
      """SELECT c_nationkey, COUNT(*) AS n_cust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal,
        |  MIN(c_acctbal) AS min_bal, MAX(c_acctbal) AS max_bal,
        |  ROUND(AVG(c_acctbal), 4) AS avg_bal
        |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "q_agg_stats" ->
      """SELECT l_returnflag,
        |  ROUND(VAR_SAMP(l_quantity), 6) AS var_samp_qty,
        |  ROUND(VAR_POP(l_quantity), 6) AS var_pop_qty,
        |  ROUND(STDDEV_SAMP(l_quantity), 6) AS stdev_samp_qty,
        |  ROUND(STDDEV_POP(l_quantity), 6) AS stdev_pop_qty,
        |  ROUND(COVAR_SAMP(l_quantity, l_discount), 6) AS cov_samp_qd,
        |  ROUND(COVAR_POP(l_quantity, l_discount), 6) AS cov_pop_qd
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_total" ->
      """SELECT c_custkey,
        |  CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 0) AS DOUBLE) AS total_price,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM customer LEFT JOIN
        |  (SELECT * FROM orders WHERE o_totalprice > 400000.0) o
        |  ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "q_count_distinct" ->
      """SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_cust,
        |  COUNT(*) AS n_orders
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_item_cf" ->
      // same bounded pair backbone, one correctly-rounded sqrt +
      // division, top-3 per item with (cosine desc, nbr) tie-break
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |freq AS (
        |  SELECT l_partkey, COUNT(*) AS n_p FROM items GROUP BY 1),
        |pairs AS (
        |  SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS n_ab
        |  FROM items a JOIN items b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |sym AS (
        |  SELECT pa AS item, pb AS nbr, n_ab FROM pairs
        |  UNION ALL SELECT pb AS item, pa AS nbr, n_ab FROM pairs),
        |sc AS (
        |  SELECT s.item, s.nbr, CAST(s.n_ab AS BIGINT) AS n_ab,
        |    ROUND(s.n_ab / SQRT(CAST(fi.n_p * fj.n_p AS DOUBLE)), 6)
        |      AS cosine
        |  FROM sym s JOIN freq fi ON fi.l_partkey = s.item
        |    JOIN freq fj ON fj.l_partkey = s.nbr),
        |r AS (
        |  SELECT item, nbr, n_ab, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY item
        |      ORDER BY cosine DESC, nbr) AS rk
        |  FROM sc)
        |SELECT item, rk, nbr, n_ab, cosine FROM r
        |WHERE rk <= 3 ORDER BY item, rk""".stripMargin,
    "q_sketch_rollup" ->
      // day k-min synopses (rank-within-day over distinct fractions),
      // re-ranked per week over the UNION of synopses — the same
      // mergeable rollup, same 63/f estimator and exact-degrade rule
      """WITH e AS (
        |  SELECT DISTINCT epoch_us(ts) // 86400000000 AS di, user_id
        |  FROM events),
        |f AS (
        |  SELECT DISTINCT di, di // 7 AS week_idx,
        |    CAST(CONCAT('0x', SUBSTR(MD5(CAST(user_id AS VARCHAR)), 1, 6))
        |      AS INTEGER) / 16777216.0 AS f
        |  FROM e),
        |ds AS (
        |  SELECT di, week_idx, f FROM (
        |    SELECT di, week_idx, f,
        |      ROW_NUMBER() OVER (PARTITION BY di ORDER BY f) AS rk
        |    FROM f)
        |  WHERE rk <= 64),
        |wk AS (
        |  SELECT week_idx, f,
        |    ROW_NUMBER() OVER (PARTITION BY week_idx ORDER BY f) AS rk,
        |    COUNT(*) OVER (PARTITION BY week_idx) AS nh
        |  FROM (SELECT DISTINCT week_idx, f FROM ds)),
        |est AS (
        |  SELECT week_idx,
        |    ROUND(CASE WHEN MAX(nh) < 64 THEN CAST(MAX(nh) AS DOUBLE)
        |      ELSE 63 / MAX(CASE WHEN rk = 64 THEN f END) END, 4) AS est
        |  FROM wk GROUP BY 1),
        |x AS (
        |  SELECT epoch_us(ts) // 86400000000 // 7 AS week_idx,
        |    COUNT(DISTINCT user_id) AS n_distinct,
        |    COUNT(DISTINCT epoch_us(ts) // 86400000000) AS n_days
        |  FROM events GROUP BY 1)
        |SELECT e.week_idx, x.n_days, e.est AS est_distinct, x.n_distinct,
        |  ROUND(ABS(e.est - x.n_distinct) / x.n_distinct, 4) AS rel_err
        |FROM est e JOIN x USING (week_idx) ORDER BY e.week_idx""".stripMargin,
    "q_approx_distinct" ->
      """WITH h AS (
        |  SELECT DISTINCT l_returnflag AS g,
        |    CAST(CONCAT('0x', SUBSTR(MD5(CAST(l_partkey AS VARCHAR)), 1, 6))
        |      AS INTEGER) / 16777216.0 AS f
        |  FROM lineitem),
        |r AS (
        |  SELECT g, f,
        |    ROW_NUMBER() OVER (PARTITION BY g ORDER BY f) AS rk,
        |    COUNT(*) OVER (PARTITION BY g) AS nh
        |  FROM h),
        |e AS (
        |  SELECT g,
        |    ROUND(CASE WHEN MAX(nh) < 64 THEN CAST(MAX(nh) AS DOUBLE)
        |      ELSE 63 / MAX(CASE WHEN rk = 64 THEN f END) END, 4) AS est
        |  FROM r GROUP BY g),
        |x AS (
        |  SELECT l_returnflag AS g, COUNT(DISTINCT l_partkey) AS nd
        |  FROM lineitem GROUP BY 1)
        |SELECT e.g AS l_returnflag, e.est AS est_distinct, x.nd AS n_distinct,
        |  ROUND(ABS(e.est - x.nd) / x.nd, 4) AS rel_err
        |FROM e JOIN x USING (g) ORDER BY l_returnflag""".stripMargin,
    "q_approx_overlap" ->
      """WITH ha AS (
        |  SELECT DISTINCT
        |    CAST(CONCAT('0x', SUBSTR(MD5(CAST(user_id AS VARCHAR)), 1, 6))
        |      AS INTEGER) / 16777216.0 AS f
        |  FROM events WHERE event_type = 'click'),
        |hb AS (
        |  SELECT DISTINCT
        |    CAST(CONCAT('0x', SUBSTR(MD5(CAST(user_id AS VARCHAR)), 1, 6))
        |      AS INTEGER) / 16777216.0 AS f
        |  FROM events WHERE event_type = 'purchase'),
        |hu AS (SELECT f FROM ha UNION SELECT f FROM hb),
        |ra AS (SELECT f, ROW_NUMBER() OVER (ORDER BY f) AS rk,
        |  COUNT(*) OVER () AS nh FROM ha),
        |rb AS (SELECT f, ROW_NUMBER() OVER (ORDER BY f) AS rk,
        |  COUNT(*) OVER () AS nh FROM hb),
        |ru AS (SELECT f, ROW_NUMBER() OVER (ORDER BY f) AS rk,
        |  COUNT(*) OVER () AS nh FROM hu),
        |ea AS (SELECT CASE WHEN MAX(nh) < 64 THEN CAST(MAX(nh) AS DOUBLE)
        |  ELSE 63 / MAX(CASE WHEN rk = 64 THEN f END) END AS est_a FROM ra),
        |eb AS (SELECT CASE WHEN MAX(nh) < 64 THEN CAST(MAX(nh) AS DOUBLE)
        |  ELSE 63 / MAX(CASE WHEN rk = 64 THEN f END) END AS est_b FROM rb),
        |eu AS (SELECT CASE WHEN MAX(nh) < 64 THEN CAST(MAX(nh) AS DOUBLE)
        |  ELSE 63 / MAX(CASE WHEN rk = 64 THEN f END) END AS est_u FROM ru),
        |x AS (
        |  SELECT COUNT(*) AS n_exact FROM (
        |    SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
        |    INTERSECT
        |    SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'))
        |SELECT ROUND(est_a, 4) AS est_a, ROUND(est_b, 4) AS est_b,
        |  ROUND(est_u, 4) AS est_union,
        |  ROUND(est_a + est_b - est_u, 4) AS est_overlap,
        |  n_exact,
        |  ROUND(ABS(est_a + est_b - est_u - n_exact) /
        |    GREATEST(n_exact, 1), 4) AS rel_err
        |FROM ea CROSS JOIN eb CROSS JOIN eu CROSS JOIN x""".stripMargin)
}
