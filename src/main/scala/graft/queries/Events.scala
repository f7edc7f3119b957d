package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Materialize

/** Event / time-series queries (SURVEY.md §2 events block).
  *
  * The reference has no native temporal operators; these extend its
  * window/aggregate semantics to event streams the way a production
  * pipeline needs them. `q_events_tumbling` uses Spark's `window()`
  * bucketing — the exact construct its Structured Streaming twin uses
  * (graft.streaming.EventsStream), so batch and stream share one plan
  * shape. Sessionization is lag+cumsum gap detection: one shuffle on
  * user_id, then two intra-partition window passes.
  */
object Events {

  import Money.dec

  /** Tumbling 1-hour windows — batch twin of the streaming agg. */
  def qEventsTumbling(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(dec("value")).cast("double").as("sum_value"),
        countDistinct(col("user_id")).as("n_users"))
      .select(
        col("w.start").as("hour_start"), col("event_type"),
        col("n_events"), col("sum_value"), col("n_users"))
      .orderBy(col("hour_start"), col("event_type"))

  /** Sessionization: a new session starts after a >10 min gap per user.
    * lag() marks boundaries, a cumulative sum numbers the sessions. */
  def qEventsSessionize(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("gap_us", col("ts_us") - lag(col("ts_us"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("gap_us").isNull || col("gap_us") > 600000000L, 1L).otherwise(0L))
      .select(
        col("event_id"), col("user_id"), col("ts_us"),
        sum(col("new_sess")).over(cum).as("session_id"))
      .orderBy(col("user_id"), col("ts_us"), col("event_id"))
  }

  /** Gap timeouts measured by q_session_gap_sweep, in seconds. */
  val SessionGapSeconds: Seq[Long] = Seq(300L, 900L, 1800L, 3600L)

  /** SESSION GAP-TIMEOUT TUNING CURVE — how the session count, density
    * and total active time respond to the inactivity timeout (the
    * ladder read before committing q_events_sessionize's 10-minute
    * constant): a 5-minute cut fragments browsing into more, thinner
    * sessions; an hour glues visits together. Every point of the
    * ladder comes from the SAME single lag window the sessionizer
    * itself uses (one shuffle on user_id): a session starts exactly
    * where a user's inter-event gap exceeds the timeout, so
    * n_sessions is a conditional count over gaps and active time is
    * the sum of sub-timeout gaps — conditional sums in ONE aggregate,
    * stacked to rows, nothing rescans per ladder point. All-integer
    * outputs: events-per-session closes on the truncating ppm grid. */
  def qSessionGapSweep(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val deltas = Tables.events(s, d)
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("gap_us",
        col("ts_us") - lag(col("ts_us"), 1).over(byUser))
    val aggs = count(lit(1)).as("n_events") +:
      SessionGapSeconds.zipWithIndex.flatMap { case (g, i) => Seq(
        sum(when(col("gap_us").isNull ||
          col("gap_us") > g * 1000000L, 1L).otherwise(0L)).as(s"s$i"),
        sum(when(col("gap_us").isNotNull &&
          col("gap_us") <= g * 1000000L, col("gap_us"))
          .otherwise(0L)).as(s"a$i"))
      }
    val stackArgs = SessionGapSeconds.zipWithIndex
      .map { case (g, i) => s"${g}L, s$i, a$i" }.mkString(", ")
    deltas.agg(aggs.head, aggs.tail: _*)
      .select(
        expr(s"stack(${SessionGapSeconds.size}, $stackArgs)" +
          " AS (gap_seconds, n_sessions, active_us)"),
        col("n_events"))
      .select(col("gap_seconds"), col("n_events"), col("n_sessions"),
        expr("CAST((1000000 * n_events) DIV n_sessions AS BIGINT)")
          .as("events_per_session_ppm"),
        expr("CAST(active_us DIV 1000000 AS BIGINT)")
          .as("total_active_s"))
      .orderBy(col("gap_seconds"))
  }

  /** SESSION DISTRIBUTION — the rollup a product team reads off the
    * sessionizer: sessions bucketed by length (exact bit-length log₂
    * buckets, the q_graph_degree_hist discipline — no floating log),
    * with session counts, total events, and total dwell seconds per
    * bucket, all exact integers. Composes the registered sessionizer
    * verbatim: per-session aggregate on the SAME (user) partitioning
    * its window already established, then a tiny bucket rollup. */
  def qEventsSessionStats(s: SparkSession, d: String): DataFrame =
    qEventsSessionize(s, d)
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        ((max(col("ts_us")) - min(col("ts_us"))) / lit(1000000L))
          .cast("long").as("duration_s"))
      .select(col("n_events"), col("duration_s"),
        (length(bin(col("n_events"))) - 1).as("len_bucket"))
      .groupBy(col("len_bucket"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("sum_events"),
        sum(col("duration_s")).as("sum_duration_s"))
      .orderBy(col("len_bucket"))

  /** ROLLING ACTIVE USERS — per day, the distinct-user count over the
    * trailing 1/7/30-day windows (DAU/WAU/MAU, the engagement
    * triple). Exact, not sketched: the distinct (user, day) grid
    * explodes to each of the ≤30 future days it supports, collapses
    * to one (day, user, min offset) row, and three conditional SUMS
    * close per day — deliberately NO multi-countDistinct (that
    * compiles to Expand, the |rows|×4 shuffle q_profile measured at
    * 10×) and the second aggregate rides the first's (day, user)
    * partitioning. Work is |user-days|·30, linear in activity (at
    * larger spans the HLL sketch in graft.operators.Sketches is the
    * documented swap-in). Days beyond the data's edge are clipped by
    * the day-dimension semi-join, so every output day reflects a full
    * actual grid. */
  def qEventsWau(s: SparkSession, d: String): DataFrame = {
    val grid = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val days = grid.select(col("day")).distinct()
    val contrib = grid
      .select(col("user_id"), col("day").as("active_day"),
        explode(sequence(lit(0), lit(29))).as("off"))
      .select(col("user_id"), col("active_day"),
        date_add(col("active_day"), col("off")).as("day"), col("off"))
      .join(days, Seq("day"), "left_semi")
    contrib.groupBy(col("day"), col("user_id"))
      .agg(min(col("off")).as("min_off"))
      .groupBy(col("day"))
      .agg(
        sum(when(col("min_off") === 0, 1L).otherwise(0L)).as("dau"),
        sum(when(col("min_off") < 7, 1L).otherwise(0L)).as("wau"),
        count(lit(1)).as("mau"))
      .orderBy(col("day"))
  }

  /** JSON property extraction from the string `props` column. */
  def qEventsJson(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy(col("event_type"))
      .agg(
        count(col("k")).as("n_k"),
        sum(col("k").cast("long")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy(col("event_type"))

  /** AS-OF join: each event picks up the user's latest purchase value
    * at-or-before its own timestamp — graft.operators.AsofJoin's
    * union-sort shape (one shuffle on user_id, no quadratic per-key
    * work). The purchase side is pre-aggregated per (user, ts) so the
    * "latest" row at a tied time is well-defined in every engine. */
  def qAsofJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .withColumn("ts_us", unix_micros(col("ts")))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("event_type"), col("value"))
    val purchases = ev.where(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts_us"))
      .agg(max(col("value")).as("value"))
    graft.operators.AsofJoin.asofPrefixed(
      ev.select("event_id", "user_id", "ts_us"), purchases,
      keyCol = "user_id", timeCol = "ts_us", payloadCols = Seq("value"))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("asof_ts_us"), col("asof_value"))
      .orderBy(col("event_id"))
  }

  /** FORWARD as-of join with a tolerance: each event picks up the
    * user's NEXT purchase at-or-after its timestamp, but only if it
    * arrives within 1 hour — the "time-to-next-conversion" shape.
    * Same union-sort scale plan as the backward as-of (one shuffle on
    * user_id); the tolerance is a stateless null-out after the match,
    * which is exactly DuckDB's `ASOF ... ON l.t <= r.t` + CASE, so the
    * oracle is hash-exact. */
  def qAsofJoinForward(s: SparkSession, d: String): DataFrame = {
    val tolUs = 3600000000L // 1 hour in micros
    val ev = Tables.events(s, d)
      .withColumn("ts_us", unix_micros(col("ts")))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("event_type"), col("value"))
    val purchases = ev.where(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts_us"))
      .agg(max(col("value")).as("value"))
    graft.operators.AsofJoin.asofPrefixedForward(
      ev.select("event_id", "user_id", "ts_us"), purchases,
      keyCol = "user_id", timeCol = "ts_us", payloadCols = Seq("value"))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        when(col("asof_ts_us") - col("ts_us") <= tolUs, col("asof_ts_us"))
          .as("next_ts_us"),
        when(col("asof_ts_us") - col("ts_us") <= tolUs, col("asof_value"))
          .as("next_value"))
      .orderBy(col("event_id"))
  }

  /** NEAREST as-of join: each event attaches the user's CLOSEST
    * purchase in either time direction (ties to the earlier one) —
    * the sensor-alignment / nearest-fill shape kdb calls `aj` with
    * bidirectional tolerance. One union-sort pass (AsofJoin
    * .asofNearest): both directional fills share one exchange+sort;
    * the oracle composes DuckDB's two directional ASOF joins with the
    * same tie rule, so the result is hash-exact. */
  def qAsofJoinNearest(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .withColumn("ts_us", unix_micros(col("ts")))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("event_type"), col("value"))
    val purchases = ev.where(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts_us"))
      .agg(max(col("value")).as("p_value"))
    graft.operators.AsofJoin.asofNearest(
      ev.select("event_id", "user_id", "ts_us"), purchases,
      keyCol = "user_id", timeCol = "ts_us", payloadCols = Seq("p_value"))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("nearest_ts_us"), col("p_value").as("nearest_value"),
        when(col("nearest_ts_us").isNull, lit(null).cast("string"))
          .when(col("nearest_ts_us") <= col("ts_us"), lit("back"))
          .otherwise(lit("fwd")).as("matched_dir"))
      .orderBy(col("event_id"))
  }

  /** OHLC downsampling: per (event_type, 5-minute bucket) the open
    * (earliest value), high, low, close (latest value) and count — the
    * candlestick/min-max-preserving time-series reduction. ONE
    * hash aggregate: open/close ride min_by/max_by over the unique
    * (ts, event_id) struct key, so the shuffle carries one partial
    * row per (type, bucket) per input partition — no window, no sort
    * of the raw events. Deterministic because the struct key is
    * unique. */
  def qEventsOhlc(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"),
        // integer-exact bucket floor (the gap-fill idiom; no double div)
        (unix_micros(col("ts")) -
          pmod(unix_micros(col("ts")), lit(300000000L))).as("bucket_us"),
        unix_micros(col("ts")).as("ts_us"), col("event_id"), col("value"))
      .groupBy(col("event_type"), col("bucket_us"))
      .agg(
        min_by(col("value"), struct(col("ts_us"), col("event_id")))
          .as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), struct(col("ts_us"), col("event_id")))
          .as("close"),
        count(lit(1)).as("n_events"))
      .orderBy(col("event_type"), col("bucket_us"))

  /** Longest consecutive-day activity streak per user — the
    * gaps-and-islands shape (DAU streaks). Distinct (user, day) rows,
    * then the classic island key: day_index − row_number is constant
    * within a run of consecutive days; one max over the island
    * lengths. Both windows partition by user (co-partitioned with the
    * distinct), so the whole query is one shuffle on user_id. */
  /** ACTIVITY HEATMAP — the (day-of-week × hour) traffic matrix with
    * each cell's share of total events on the exact integer half-up
    * ppm grid (no float division crosses engines): the calendar
    * profile behind capacity planning and anomaly baselines. One hash
    * aggregate to the 168-cell matrix, one 1-row broadcast total.
    * dow is 0-based Sunday (Spark's dayofweek − 1 = DuckDB's dow). */
  def qEventsHeatmap(s: SparkSession, d: String): DataFrame = {
    val cnt = Tables.events(s, d)
      .groupBy((dayofweek(col("ts")) - 1).as("dow"),
        hour(col("ts")).as("hour"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
    val tot = cnt.agg(sum(col("n_events")).as("total"))
    cnt.crossJoin(broadcast(tot))
      .select(col("dow"), col("hour"), col("n_events"), col("n_users"),
        expr("CAST((2000000 * n_events + total) DIV (2 * total) AS BIGINT)")
          .as("share_ppm"))
      .orderBy(col("dow"), col("hour"))
  }

  /** Per-user behavioral entropy (bits) over the event-type
    * distribution + the dominant type's share — the predictability /
    * bot-detection signal (a scripted client hammers one type →
    * entropy ≈ 0; organic users spread). Portable-log discipline of
    * q_text_entropy: each (user, type) count contributes
    * round(c·ln c, 9) as DECIMAL — summed exactly — so the only
    * doubles crossing engines are post-round. 100-TB shape: both
    * aggregates co-partition on user_id — ONE shuffle of (user, type)
    * counts, map-side combined; nothing else moves. */
  def qEventsEntropy(s: SparkSession, d: String): DataFrame = {
    val ln2 = math.log(2.0)
    Tables.events(s, d)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("user_id"))
      .agg(
        sum(col("c")).as("n_events"),
        count(lit(1)).as("n_types"),
        max(col("c")).as("top_c"),
        sum(round(col("c") * log(col("c").cast("double")), 9)
          .cast("decimal(18,9)")).as("sclnc"))
      .select(
        col("user_id"), col("n_events"), col("n_types"),
        round(col("top_c").cast("double") / col("n_events"), 6)
          .as("top_share"),
        round(
          (log(col("n_events").cast("double")) -
            col("sclnc").cast("double") / col("n_events")) / ln2, 6)
          .as("entropy_bits"))
      .orderBy(col("user_id"))
  }

  def qEventsStreaks(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val days = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .withColumn("di", datediff(col("day"), lit("2024-01-01").cast("date"))
        .cast("long"))
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("di"))
    days
      .withColumn("island", col("di") - row_number().over(byUser))
      .groupBy(col("user_id"), col("island"))
      .agg(count(lit(1)).as("len"), min(col("day")).as("start_day"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_streaks"),
        max(col("len")).as("longest_streak"),
        max_by(col("start_day").cast("string"),
          struct(col("len"), col("start_day"))).as("longest_start"))
      .orderBy(col("user_id"))
  }

  /** Weekly cohort retention — the activation/retention matrix:
    * users grouped by FIRST-activity week (Monday-truncated), counted
    * by weeks-since (the corpus spans one month, so weekly cells give
    * a real matrix where monthly would degenerate to one). The
    * first-week anchor is one min aggregate joined back on user_id
    * (co-partitioned), the matrix one (cohort, offset) aggregate over
    * distinct user-weeks; retention is exact-count arithmetic against
    * the cohort size, so the division is bit-identical cross-engine. */
  def qEventsCohort(s: SparkSession, d: String): DataFrame = {
    val um = Tables.events(s, d)
      .select(col("user_id"), trunc(to_date(col("ts")), "week").as("m"))
      .distinct()
    val first = um.groupBy(col("user_id")).agg(min(col("m")).as("cohort"))
    val sizes = first.groupBy(col("cohort"))
      .agg(count(lit(1)).as("cohort_users"))
    um.join(first, "user_id")
      .groupBy(col("cohort"),
        (datediff(col("m"), col("cohort")) / 7).cast("long")
          .as("week_offset"))
      .agg(count(lit(1)).as("active_users"))
      .join(sizes, "cohort")
      .select(col("cohort").cast("string").as("cohort"),
        col("week_offset"), col("active_users"), col("cohort_users"),
        round(col("active_users").cast("double") / col("cohort_users"), 6)
          .as("retention"))
      .orderBy(col("cohort"), col("week_offset"))
  }

  /** Top-5 events per type by value via the bounded-heap aggregate
    * (graft.operators.TopK) — only |types|·5 candidates per partition
    * reach the shuffle, vs the window form shuffling and sorting every
    * detail row (q_events_topn_user keeps the window form for the
    * per-user case where |groups| ≈ |rows|; the heap wins when groups
    * are few and rows are many). Deterministic tiebreak (value DESC,
    * event_id ASC) makes the oracle hash-exact. */
  def qTopkHeap(s: SparkSession, d: String): DataFrame = {
    val topk = graft.operators.TopK.topk(5)
    Tables.events(s, d)
      .where(col("value").isNotNull)
      .groupBy(col("event_type"))
      .agg(topk(col("value"), col("event_id")).as("top"))
      .select(col("event_type"), posexplode(col("top")).as(Seq("i", "s")))
      .select(col("event_type"), (col("i") + 1).cast("int").as("rk"),
        col("s.value").as("value"), col("s.id").as("event_id"))
      .orderBy(col("event_type"), col("rk"))
  }

  /** Banded temporal range join: per event, how many other events of
    * the same type fall within ±1 minute — graft.operators.RangeJoin
    * (equi-join on time bins, never a nested-loop theta join). */
  def qRangeJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .withColumn("ts_us", unix_micros(col("ts")))
    graft.operators.RangeJoin.neighborCounts(
      ev, partCols = Seq("event_type"), idCol = "event_id",
      timeCol = "ts_us", radius = 60000000L)
      .orderBy(col("event_id"))
  }

  /** ERROR-CONTEXT BAND JOIN — what else was happening within ±60 s
    * of each error, across ALL users and types (incident blast-radius
    * triage). Deliberately written as the naive theta-join
    * `abs(e_ts − ts_us) <= radius` with NO equi key: Catalyst alone
    * would plan BroadcastNestedLoopJoin — O(|errors|·|events|) — and
    * the registered BandedRangeJoinRule (graft.plans.BandedRangeJoinRule)
    * rewrites it into the exact banded equi-join (width-radius bins,
    * 3-bin left expansion, predicate re-checked), so the physical plan
    * is an ordinary shuffled join. This query is the end-to-end
    * production use of the rule; Round11OperatorsSpec ("error context:
    * banded rewrite…") asserts no nested-loop join survives. Self-pair
    * excluded; errors with an empty neighborhood come back as zeros
    * via the equi join-back. */
  def qEventsErrorContext(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"))
    val err = ev.where(col("event_type") === "error")
      .select(col("event_id").as("e_id"), col("ts_us").as("e_ts"))
    val near = err.join(ev,
        abs(col("e_ts") - col("ts_us")) <= lit(ErrCtxRadiusUs) &&
          col("event_id") =!= col("e_id"))
      .groupBy(col("e_id"))
      .agg(count(lit(1)).as("n_nearby"),
        countDistinct(col("user_id")).as("n_users"))
    err.select(col("e_id"))
      .join(near, Seq("e_id"), "left")
      .select(col("e_id").as("event_id"),
        coalesce(col("n_nearby"), lit(0L)).as("n_nearby"),
        coalesce(col("n_users"), lit(0L)).as("n_users"))
      .orderBy(col("event_id"))
  }

  /** The error-context neighborhood radius: ±60 s in epoch micros. */
  val ErrCtxRadiusUs: Long = 60000000L

  /** Per-user top-3 events by value — window rank + filter. */
  def qEventsTopnUser(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("value").desc, col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("value"),
        row_number().over(w).as("rk"))
      .where(col("rk") <= 3)
      .orderBy(col("user_id"), col("rk"))
  }

  /** Funnel analysis: users reaching each stage of a strict-order
    * view → click → purchase funnel (a click counts only AFTER the
    * user's first view, a purchase only after that click — min-ts per
    * type alone would overcount users who clicked before ever
    * viewing). Three conditional-min aggregate passes, every shuffle
    * on user_id so the stage join-backs stay co-partitioned and
    * exchange reuse collapses the event scans; the output is one row
    * of stage counts + conversion rates. */
  /** The funnel min-chain (first view → first later click → first
    * later purchase per user) — shared by q_events_funnel's conversion
    * rollup and q_events_funnel_latency's stage-latency report. */
  private def funnelTimes(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .withColumn("ts_us", unix_micros(col("ts")))
      .select(col("user_id"), col("event_type"), col("ts_us"))
    val s1 = ev.groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "view", col("ts_us"))).as("t_view"))
    val s2 = ev.join(s1, "user_id")
      .groupBy(col("user_id"), col("t_view"))
      .agg(min(when(col("event_type") === "click" &&
        col("ts_us") > col("t_view"), col("ts_us"))).as("t_click"))
    ev.join(s2, "user_id")
      .groupBy(col("user_id"), col("t_view"), col("t_click"))
      .agg(min(when(col("event_type") === "purchase" &&
        col("ts_us") > col("t_click"), col("ts_us"))).as("t_purchase"))
  }

  def qEventsFunnel(s: SparkSession, d: String): DataFrame = {
    funnelTimes(s, d).agg(
      count(lit(1)).as("n_users"),
      count(col("t_view")).as("n_view"),
      count(col("t_click")).as("n_click"),
      count(col("t_purchase")).as("n_purchase"),
      round(count(col("t_click")).cast("double") /
        count(col("t_view")), 6).as("view_to_click"),
      round(count(col("t_purchase")).cast("double") /
        count(col("t_click")), 6).as("click_to_purchase"))
  }

  /** FUNNEL STAGE-LATENCY REPORT — how long each conversion step
    * takes: per converting user the view→click and click→purchase
    * delays, reported as exact discrete percentiles per stage. The
    * scale shape is the q_events_hist_quantiles discipline: latencies
    * QUANTIZE to whole seconds and aggregate into a per-(stage, sec)
    * histogram first, so the percentile pass runs over the bounded
    * histogram (distinct observed seconds — duration-bounded, never
    * user-count-bounded) instead of sorting every user's latency;
    * p_q = smallest second whose cumulative count reaches ⌈q·n/100⌉,
    * i.e. percentile_disc over the quantized values. All integers. */
  def qEventsFunnelLatency(s: SparkSession, d: String): DataFrame = {
    val t = funnelTimes(s, d)
    val lat = t.select(lit("1_view_to_click").as("stage"),
        (col("t_click") - col("t_view")).as("lat_us"))
      .where(col("lat_us").isNotNull)
      .unionByName(t.select(lit("2_click_to_purchase").as("stage"),
        (col("t_purchase") - col("t_click")).as("lat_us"))
        .where(col("lat_us").isNotNull))
    val hist = lat
      .groupBy(col("stage"), expr("CAST(lat_us DIV 1000000 AS BIGINT)")
        .as("sec"))
      .agg(count(lit(1)).as("c"))
    val wS = Window.partitionBy(col("stage")).orderBy(col("sec"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist
      .withColumn("cum", sum(col("c")).over(wS))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("stage"))))
    def pct(q: Int) =
      min(when(col("cum") * 100 >= col("n") * q, col("sec")))
        .as(s"p${q}_s")
    cum.groupBy(col("stage"))
      .agg(max(col("n")).as("n"), min(col("sec")).as("min_s"),
        pct(25), pct(50), pct(75), pct(90),
        max(col("sec")).as("max_s"))
      .orderBy(col("stage"))
  }

  /** TIME-BOUNDED FUNNEL — q_events_funnel with CONVERSION WINDOWS
    * (the metric product teams actually track: a click counts only
    * within 1 h of the first view, a purchase only within 1 h of that
    * click — unbounded funnels overcount by attributing next-week
    * purchases): the min-chain runs as THREE STACKED whole-partition
    * window aggregates over one user_id exchange — each stage's
    * conditional min reads the previous stage's column in the same
    * pass, so unlike the join-back batch funnel there is NO re-join
    * of the fact (three Window nodes, one shuffle, then the per-user
    * collapse rides the same partitioning). Pure integer-µs bounds;
    * two rounded conversion divisions close the summary. */
  def qEventsFunnelWindow(s: SparkSession, d: String): DataFrame = {
    val hourUs = 3600000000L
    val wu = Window.partitionBy(col("user_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
      .withColumn("tv",
        min(when(col("event_type") === "view", col("ts_us"))).over(wu))
      .withColumn("tc",
        min(when(col("event_type") === "click" &&
          col("ts_us") > col("tv") && col("ts_us") <= col("tv") + hourUs,
          col("ts_us"))).over(wu))
      .withColumn("tp",
        min(when(col("event_type") === "purchase" &&
          col("ts_us") > col("tc") && col("ts_us") <= col("tc") + hourUs,
          col("ts_us"))).over(wu))
      .groupBy(col("user_id"))
      .agg(max(col("tv")).as("tv"), max(col("tc")).as("tc"),
        max(col("tp")).as("tp"))
      .agg(count(lit(1)).as("n_users"),
        count(col("tv")).as("n_view"),
        count(col("tc")).as("n_click_1h"),
        count(col("tp")).as("n_purchase_1h"),
        round(count(col("tc")).cast("double") / count(col("tv")), 6)
          .as("view_to_click"),
        round(count(col("tp")).cast("double") / count(col("tc")), 6)
          .as("click_to_purchase"))
  }

  /** Cohort retention: users grouped by first-active day, counted on
    * each later day-offset they return. The activity table is the
    * distinct (user, day) grid — one aggregate; cohorts are a per-user
    * min — a second aggregate on the SAME user_id partitioning (no new
    * shuffle); the join-back stays co-partitioned, and only the tiny
    * (cohort_day, offset) matrix leaves the final aggregate. */
  def qEventsRetention(s: SparkSession, d: String): DataFrame = {
    val activity = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val cohorts = activity.groupBy(col("user_id"))
      .agg(min(col("day")).as("cohort_day"))
    activity.join(cohorts, "user_id")
      .withColumn("offset", datediff(col("day"), col("cohort_day")))
      .where(col("offset") <= 7)
      .groupBy(col("cohort_day"), col("offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .orderBy(col("cohort_day"), col("offset"))
  }

  /** Z-score anomaly detection per event type: flag events more than
    * 3σ from their type's mean. The moments come from ONE aggregate
    * pass with DECIMAL sums (exact, order-independent), broadcast back
    * into a stateless filter scan — mean/σ/z are then pure IEEE double
    * arithmetic (division, sqrt are correctly rounded), so the flagged
    * set is bit-identical cross-engine with no rounding slack needed
    * beyond the display round. */
  def qEventsAnomaly(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val stats = ev.groupBy(col("event_type")).agg(
        count(lit(1)).as("n"),
        sum(dec("value")).as("s1"),
        sum((dec("value") * dec("value")).cast("decimal(38,8)")).as("s2"))
      .select(col("event_type"),
        (col("s1").cast("double") / col("n")).as("mean"),
        sqrt(col("s2").cast("double") / col("n") -
          (col("s1").cast("double") / col("n")) *
          (col("s1").cast("double") / col("n"))).as("std"))
    ev.join(broadcast(stats), "event_type")
      .withColumn("z", round((col("value") - col("mean")) / col("std"), 6))
      .where(abs(col("z")) > 3.0)
      .select(col("event_id"), col("event_type"), col("value"), col("z"))
      .orderBy(col("event_id"))
  }

  /** Gap-fill + LOCF interpolation — the standard time-series
    * densification operator (timescaledb `time_bucket_gapfill`/`locf`
    * semantics): a dense 5-minute grid per event type over the global
    * observed span, observed buckets left-joined on, missing buckets
    * carrying the last observed sum forward.
    *
    * Scale shape: per-bucket aggregation is ONE map-side-partial hash
    * aggregate of the events; the grid is generated from a 1-row
    * bounds aggregate exploded to day rows, repartitioned by day, then
    * exploded to buckets — many tasks, never a driver loop and never a
    * single-task explode of the whole span. LOCF is BANDED by
    * (event_type, day): the within-day window partition never exceeds
    * 288 buckets, and the cross-day carry is a second window over the
    * tiny per-(type, day) last-observation table (|days|·|types| rows),
    * broadcast back in. Bucketing is pure epoch FLOOR arithmetic
    * (unix_micros − pmod, matching DuckDB's `//` floor division even
    * for pre-1970 timestamps), so both engines compute identical
    * bucket keys. The grid crosses the event-type dimension (a
    * distinct() of a low-cardinality column, small by data contract):
    * those are the nested-loop joins in its plan. */
  def qEventsGapfill(s: SparkSession, d: String): DataFrame = {
    val (dense, dayObs) = gridParts(s, d)
    val wDay = Window.partitionBy(col("event_type"), col("day"))
      .orderBy(col("m"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wCarry = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = dayObs.select(col("event_type"), col("day"),
      last(col("day_last.sum_value"), ignoreNulls = true).over(wCarry)
        .as("carry_in"))
    dense
      .join(broadcast(carry), Seq("event_type", "day"), "left")
      .select(col("event_type"), col("m").as("bucket_start"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(last(col("sum_value"), ignoreNulls = true).over(wDay),
          col("carry_in")).as("locf_value"))
      .orderBy(col("event_type"), col("bucket_start"))
  }

  /** Shared building blocks of the densification operators.
    *
    * `dense` — the (type × 5-minute-bucket) grid with per-bucket
    * aggregates left-joined on: a 1-row bounds aggregate exploded to
    * day rows, repartitioned by day, then exploded to buckets — many
    * tasks, never a driver loop, never a single-task explode of the
    * whole span. Columns: event_type, day, m, n_events (nullable),
    * sum_value (nullable).
    *
    * `dayObs` — one row per (type, day) INCLUDING observation-free
    * days, with the first/last observed (m, sum_value) struct of that
    * day (null when none). Built from the per-bucket aggregate and the
    * tiny day×type dimension, NOT from `dense`: the carry path must
    * never pay (or re-plan) the full grid join — only the final
    * broadcast-join back into `dense` touches grid-sized data. */
  private def gridParts(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val ev = Tables.events(s, d).select(
      col("event_type"),
      expr("timestamp_micros(unix_micros(ts) - pmod(unix_micros(ts), 300000000))")
        .as("m"),
      col("value"))
    val perMin = ev.groupBy(col("event_type"), col("m"))
      .agg(count(lit(1)).as("n_events"),
        sum(dec("value")).cast("double").as("sum_value"))
    // bounds and the type dimension derive from the BUCKET table, not
    // the fact: perMin is the only consumer of the raw events — the
    // fact is scanned once per plan instance, everything else reads
    // the (types × buckets)-sized aggregate. m is already bucketed, so
    // min/max over perMin equal min/max over the fact.
    // Day boundaries are 5-minute-aligned, so per-day sequences stitch
    // into exactly the global [lo, hi] bucket sequence.
    val days = perMin.agg(min(col("m")).as("lo"), max(col("m")).as("hi"))
      .select(explode(sequence(date_trunc("DAY", col("lo")),
        date_trunc("DAY", col("hi")), expr("interval 1 day"))).as("day"),
        col("lo"), col("hi"))
    val grid = days.repartition(col("day"))
      .select(col("day"), explode(sequence(
        greatest(col("day"), col("lo")),
        least(col("day") + expr("interval 1 day") - expr("interval 5 minutes"),
          col("hi")),
        expr("interval 5 minutes"))).as("m"))
    val types = perMin.select(col("event_type")).distinct()
    val dense = grid.crossJoin(broadcast(types))
      .join(perMin, Seq("event_type", "m"), "left")
    // Null-sum buckets (all-null values in the bucket) must be
    // INVISIBLE to the day first/last observation, exactly as the
    // within-day windows skip them: otherwise a day whose last bucket
    // sums to null would be skipped wholesale by the cross-day
    // ignoreNulls carry instead of contributing its earlier non-null
    // observation (oracle semantics are full-partition IGNORE NULLS).
    val obs = when(col("sum_value").isNotNull,
      struct(col("m"), col("sum_value")))
    val obsDay = perMin
      .groupBy(col("event_type"), date_trunc("DAY", col("m")).as("day"))
      .agg(max(obs).as("day_last"), min(obs).as("day_first"))
    val dayObs = days.select(col("day")).crossJoin(broadcast(types))
      .join(obsDay, Seq("event_type", "day"), "left")
    (dense, dayObs)
  }

  /** Linear-interpolation resample — timescaledb `interpolate`
    * semantics, the complement of LOCF: each missing bucket gets the
    * straight-line value between the nearest observed buckets on
    * either side; buckets before the first or after the last
    * observation stay NULL. Same banded scale shape as gap-fill: the
    * neighbor scan is two (type, day) windows (max/min over (m, value)
    * structs, which skip null-value buckets), and the cross-day
    * neighbors come from per-(type, day) first/last observation
    * tables windowed over days — tiny — and broadcast back. The
    * interpolation itself is pure IEEE double arithmetic on epoch
    * micros, bit-identical cross-engine. */
  def qEventsInterpolate(s: SparkSession, d: String): DataFrame = {
    val (dense, dayObs) = gridParts(s, d)
    val obs = when(col("sum_value").isNotNull,
      struct(col("m"), col("sum_value")))
    val wPrev = Window.partitionBy(col("event_type"), col("day"))
      .orderBy(col("m"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // round 14: next-neighbor as a REVERSED-order running min — the
    // [currentRow, unboundedFollowing) frame re-aggregates the whole
    // tail per row (the r13 q_events_attribution lesson: O(rows·frame)
    // per partition, ~1M min() re-evaluations per (type, day) grid),
    // while the reversed growing frame is the O(n) incremental form.
    // Exact: grid minutes are unique within (event_type, day), so the
    // position frame over m DESC contains precisely the rows m' ≥ m.
    val wNext = Window.partitionBy(col("event_type"), col("day"))
      .orderBy(col("m").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wCp = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCn = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(1, Window.unboundedFollowing)
    val carry = dayObs.select(col("event_type"), col("day"),
      last(col("day_last"), ignoreNulls = true).over(wCp).as("carry_prev"),
      first(col("day_first"), ignoreNulls = true).over(wCn).as("carry_next"))
    val p = coalesce(max(obs).over(wPrev), col("carry_prev"))
    val nx = coalesce(min(obs).over(wNext), col("carry_next"))
    val dm = (unix_micros(col("m")) - unix_micros(p("m"))).cast("double")
    val dn = (unix_micros(nx("m")) - unix_micros(p("m"))).cast("double")
    val interp = when(col("sum_value").isNotNull, col("sum_value"))
      .when(p.isNotNull && nx.isNotNull,
        p("sum_value") + (nx("sum_value") - p("sum_value")) * (dm / dn))
    dense.join(broadcast(carry), Seq("event_type", "day"))
      .select(col("event_type"), col("m").as("bucket_start"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        round(interp, 6).as("interp_value"))
      .orderBy(col("event_type"), col("bucket_start"))
  }

  /** Peak interval concurrency per day — the SWEEP-LINE operator
    * (how many event intervals are open at once, e.g. concurrent
    * sessions/requests). Each event opens an interval of
    * 60 + round(value·10) seconds; the sweep decomposes into the
    * gapfill carry discipline so no single task sees the whole
    * relation: ±1 boundary deltas shuffle ONCE on day, the running
    * count is a per-day window, and the cross-day carry (intervals
    * still open at midnight) is a prefix sum over the DAYS dimension —
    * bounded by the data's time span, not its row count — broadcast
    * back onto the per-day maxima. Boundary tie rule: starts sort
    * before ends at the same instant, so touching intervals count as
    * concurrent; the oracle's global running sum applies the same
    * (t, delta DESC) order, making the per-day max hash-exact. */
  def qEventsConcurrency(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(unix_micros(col("ts")).as("t0"),
        (unix_micros(col("ts")) +
          (round(col("value") * 10).cast("long") + 60L) * 1000000L).as("t1"))
    val deltas = ev.select(col("t0").as("t"), lit(1L).as("delta"))
      .unionAll(ev.select(col("t1").as("t"), lit(-1L).as("delta")))
      .withColumn("day", to_date(timestamp_micros(col("t"))))
      .withColumn("hr", hour(timestamp_micros(col("t"))))
    // TWO-LEVEL prefix decomposition so no task ever sorts a whole
    // day: the per-row running count is banded by (day, hour) — a
    // billion-delta day spreads over 24+ tasks — the hour carry is a
    // 24-row window per day, and the day carry (the only
    // unpartitioned window, PlanLintSpec-reviewed) runs on one row
    // per day, bounded by the time span
    val wInHour = Window.partitionBy(col("day"), col("hr"))
      .orderBy(col("t"), col("delta").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wHours = Window.partitionBy(col("day")).orderBy(col("hr"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wDays = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val hourAgg = deltas.groupBy(col("day"), col("hr"))
      .agg(sum(col("delta")).as("hour_total"),
        sum(when(col("delta") === 1L, 1L).otherwise(0L)).as("hour_starts"))
      .withColumn("hcarry",
        coalesce(sum(col("hour_total")).over(wHours), lit(0L)))
    val dayCarry = hourAgg.groupBy(col("day"))
      .agg(sum(col("hour_total")).as("day_total"),
        sum(col("hour_starts")).as("n_starts"))
      .withColumn("dcarry",
        coalesce(sum(col("day_total")).over(wDays), lit(0L)))
    deltas
      .withColumn("run", sum(col("delta")).over(wInHour))
      .join(broadcast(hourAgg.select(col("day"), col("hr"), col("hcarry"))),
        Seq("day", "hr"))
      .join(broadcast(dayCarry.select(col("day"), col("dcarry"),
        col("n_starts"))), Seq("day"))
      .groupBy(col("day"), col("n_starts"))
      .agg(max(col("dcarry") + col("hcarry") + col("run"))
        .as("max_concurrent"))
      .select(col("day"), col("n_starts"), col("max_concurrent"))
      .orderBy(col("day"))
  }

  private val EwmaAlpha = 0.3
  private[graft] val EwmaLags = 8

  /** Weight ladder α(1−α)^i, computed ONCE in Scala and embedded as
    * literals in BOTH the Spark plan and the generated oracle — the
    * engines never run pow(), so correctly-rounded-pow differences
    * cannot drift the result. Shared with the streaming twin
    * (EventsStream.ewmaStream) so all three sides use identical bits. */
  private[graft] val EwmaWeights: Seq[Double] =
    (0 until EwmaLags).map(i => EwmaAlpha * math.pow(1 - EwmaAlpha, i))

  /** Per-user EWMA of event values over the last 8 events — the
    * signal-smoothing shape (truncated exponential kernel). ONE window
    * pass partitioned by user_id (high-cardinality → even spread; no
    * self-join row amplification): the 8 lag() taps share a single
    * WindowExec. Each tap's product is rounded to a 9 dp grid and
    * summed as DECIMAL — exact and order-independent — so the DuckDB
    * twin (same generated weight literals, same lag taps) is
    * hash-identical. Shorter histories simply sum the available taps
    * (missing lags coalesce to 0), the standard truncated-kernel
    * convention. */
  def qEventsEwma(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val terms = EwmaWeights.zipWithIndex.map { case (wt, i) =>
      val tap = if (i == 0) col("value") else lag(col("value"), i).over(w)
      coalesce(round(tap * lit(wt), 9).cast("decimal(20,9)"),
        lit(0).cast("decimal(20,9)"))
    }
    // close on the DECIMAL grid (9 dp → 6 dp rescale, then one exact
    // decimal→double conversion): rounding the exact 9 dp sum through
    // a double first would hit systematic half-ties at the 7th digit,
    // where Spark's shortest-repr HALF_UP and DuckDB's binary-value
    // round disagree by one ulp of the 6th decimal
    Tables.events(s, d)
      .withColumn("ts_us", unix_micros(col("ts")))
      .select(col("user_id"), col("event_id"), col("ts_us"), col("value"))
      .withColumn("ewma",
        terms.reduce(_ + _).cast("decimal(20,6)").cast("double"))
      .select(col("user_id"), col("event_id"), col("ewma"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** DuckDB twin of qEventsEwma, GENERATED from the same EwmaWeights
    * doubles (shortest round-trip repr → identical bits after parse). */
  private def ewmaOracle: String = {
    val terms = EwmaWeights.zipWithIndex.map { case (wt, i) =>
      val tap = if (i == 0) "value" else s"LAG(value, $i) OVER w"
      s"COALESCE(CAST(ROUND($tap * CAST($wt AS DOUBLE), 9) AS DECIMAL(20,9)), CAST(0 AS DECIMAL(20,9)))"
    }.mkString(" +\n    ")
    // DuckDB's decimal downscale TRUNCATES where Spark's cast rounds
    // HALF_UP; the sum is strictly positive (positive values ×
    // positive weights), so adding half a 6 dp ulp before the
    // truncating cast reproduces HALF_UP exactly — pure decimal
    // arithmetic, no double in the rounding path on either engine
    s"""SELECT user_id, event_id,
       |  CAST(CAST($terms + CAST('0.000000500' AS DECIMAL(20,9))
       |    AS DECIMAL(20,6)) AS DOUBLE) AS ewma
       |FROM (SELECT user_id, event_id, epoch_us(ts) AS ts_us, value FROM events) e
       |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
       |ORDER BY user_id, event_id""".stripMargin
  }

  /** ROBUST per-type outliers by modified z-score (Iglewicz–Hoaglin:
    * 0.6745·|v−median|/MAD > 3.5) — the anomaly detector that, unlike
    * q_events_anomaly's mean/σ, doesn't let the outliers it hunts
    * inflate its own threshold (50% breakdown point vs 0%). Two
    * size-routed percentile aggregates (ScaleRouting: exact below the
    * byte threshold, GK sketch above — the same discipline as
    * q_agg_median_mode), each a low-cardinality type rollup broadcast
    * back into a stateless filter scan; no window, no sort of the raw
    * events. The flag compares the 6 dp-rounded score on both engines,
    * so boundary rows cannot straddle. */
  def qEventsAnomalyRobust(s: SparkSession, d: String): DataFrame = {
    val exact = graft.operators.ScaleRouting
      .exactPercentileOk(s, s"$d/events.parquet")
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("event_type"), col("value"))
    val med = ev.groupBy(col("event_type"))
      .agg(graft.operators.ScaleRouting
        .percentileCont(exact, "value", 0.5).as("med"))
    val dev = ev.join(broadcast(med), Seq("event_type"))
      .withColumn("absdev", abs(col("value") - col("med")))
    val mad = dev.groupBy(col("event_type"))
      .agg(graft.operators.ScaleRouting
        .percentileCont(exact, "absdev", 0.5).as("mad"))
    dev.join(broadcast(mad), Seq("event_type"))
      .withColumn("modified_z",
        round(lit(0.6745) * col("absdev") / col("mad"), 6))
      .where(col("modified_z") > 3.5)
      .select(col("event_id"), col("event_type"), col("value"),
        col("modified_z"))
      .orderBy(col("event_id"))
  }

  /** CHANGE-POINT candidates by the sliding two-sample mean-shift test
    * (the window analogue of CUSUM; the recursion itself is handled by
    * q_events_cusum below via the drawup identity): on the hourly
    * per-type rollup, compare the mean of the 12 observed buckets
    * before each point against the 12 after; a shift above τ=50 flags
    * a candidate. The window runs on the ROLLUP, whose row count is
    * bounded by the time span (8760 buckets/year/type), not the event
    * volume — the days-dimension argument — and the raw-event pass is
    * one hash aggregate. Frame sums are exact DECIMAL (order-free), so
    * the means and the 6 dp-rounded shift are engine-identical. */
  def qEventsChangepoint(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("b"))
    val prev = w.rowsBetween(-12, -1)
    val next = w.rowsBetween(1, 12)
    val rollup = Tables.events(s, d)
      .select(col("event_type"),
        (floor(unix_micros(col("ts")) / 3600000000L) * 3600000000L)
          .cast("long").as("b"),
        col("value"))
      .groupBy(col("event_type"), col("b"))
      .agg(sum(dec("value")).as("sv"))
    val mp = sum(col("sv")).over(prev).cast("double") /
      count(lit(1)).over(prev)
    val mn = sum(col("sv")).over(next).cast("double") /
      count(lit(1)).over(next)
    rollup
      .withColumn("n_prev", count(lit(1)).over(prev))
      .withColumn("n_next", count(lit(1)).over(next))
      .withColumn("mean_prev", round(mp, 6))
      .withColumn("mean_next", round(mn, 6))
      .withColumn("shift", round(abs(mn - mp), 6))
      .where(col("n_prev") === 12 && col("n_next") === 12 &&
        col("shift") > 50.0)
      .select(col("event_type"),
        timestamp_micros(col("b")).as("bucket_start"),
        col("mean_prev"), col("mean_next"), col("shift"))
      .orderBy(col("event_type"), col("bucket_start"))
  }

  /** Alarm threshold for q_events_cusum, in mean-hourly-deviation
    * units (the normalized statistic). Integer so the exact-decimal
    * comparison `d_scaled > n·τ` never touches a float (τ sits between
    * the p75 and max of the normalized drawup on this series, so the
    * alarm set discriminates types instead of firing everywhere). */
  val CusumTau = 2000L

  /** One-sided CUSUM drift detector per event type — the classic
    * sequential test the two-window mean-shift screen above
    * approximates. The textbook form is recursive
    * (Cₙ = max(0, Cₙ₋₁ + xₙ − k), not a frame aggregate), but the
    * DRAWUP IDENTITY unrolls it exactly: Cₙ = Sₙ − min_{0≤i≤n} Sᵢ
    * where S is the running sum of deviations and S₀ = 0 (the empty
    * prefix) enters through least(min S, 0) — without it a series
    * whose prefix sums start positive would lose the C₁ = d₁ anchor
    * and underreport the peak — a cumulative sum and a
    * running min, two ordinary frames over ONE partitioning (a single
    * exchange; Catalyst stacks the Window nodes shuffle-free). So the
    * "inherently sequential" detector runs partition-parallel per type.
    *
    * Numeric discipline: deviations are scaled by the bucket count
    * (dᵢ = n·svᵢ − T with T = Σsv) so the per-type mean never becomes
    * a float — every cumulative quantity is an exact DECIMAL and the
    * running min/argmax comparisons are exact; the only float op is
    * the final normalize-and-round (the changepoint mean discipline).
    * The peak bucket is argmax-by-exact-equality against the
    * whole-partition max (ties → earliest bucket), and alarms count
    * buckets whose scaled drawup exceeds n·τ — an integer-grid
    * comparison.
    *
    * Scale: the raw-event pass is one map-side-partial hash aggregate;
    * everything after runs on the calendar-bounded hourly rollup
    * (8760 buckets/type/year — the days-dimension argument), and the
    * final per-type aggregate reuses the window's hash partitioning
    * (zero extra exchange). */
  def qEventsCusum(s: SparkSession, d: String): DataFrame = {
    val wt = Window.partitionBy(col("event_type"))
    val wc = Window.partitionBy(col("event_type")).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rollup = Tables.events(s, d)
      .select(col("event_type"),
        (floor(unix_micros(col("ts")) / 3600000000L) * 3600000000L)
          .cast("long").as("b"),
        col("value"))
      .groupBy(col("event_type"), col("b"))
      .agg(sum(dec("value")).as("sv"))
    rollup
      .withColumn("n", count(lit(1)).over(wt))
      .withColumn("t", sum(col("sv")).over(wt))
      .withColumn("sdev", sum(col("n") * col("sv") - col("t")).over(wc))
      .withColumn("drawup",
        col("sdev") - least(min(col("sdev")).over(wc), lit(0)))
      .withColumn("dmax", max(col("drawup")).over(wt))
      .groupBy(col("event_type"))
      .agg(
        max(col("n")).as("n_buckets"),
        round(max(col("drawup")).cast("double") / max(col("n")), 6)
          .as("peak_cusum"),
        min(when(col("drawup") === col("dmax"), col("b"))).as("peak_b"),
        count(when(col("drawup") > col("n") * lit(CusumTau), lit(1)))
          .as("n_alarms"))
      .select(col("event_type"), col("n_buckets"), col("peak_cusum"),
        timestamp_micros(col("peak_b")).as("peak_bucket"),
        col("n_alarms"))
      .orderBy(col("event_type"))
  }

  /** Fixed-target CUSUM series (the DEPLOYED detector shape: the
    * in-control mean k comes from history, not the batch being
    * scored) — per observed hourly bucket, Cₙ = max(0, Cₙ₋₁ + sv − k)
    * via the same drawup identity as qEventsCusum, with S₀ = 0
    * entering through least(min S, 0). Exact DECIMAL throughout; the
    * streaming twin (EventsStream.cusumStream) folds the same
    * recursion online and is spec-asserted double-identical. */
  private[graft] def cusumFixedTarget(
      events: DataFrame, k: java.math.BigDecimal): DataFrame = {
    val wc = Window.partitionBy(col("event_type")).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .select(col("event_type"),
        (floor(unix_micros(col("ts")) / 3600000000L) * 3600000000L)
          .cast("long").as("b"),
        col("value"))
      .groupBy(col("event_type"), col("b"))
      .agg(sum(dec("value")).as("sv"))
      .withColumn("sdev", sum(col("sv") - lit(k)).over(wc))
      .withColumn("cusum",
        (col("sdev") - least(min(col("sdev")).over(wc), lit(0)))
          .cast("double"))
      .select(col("event_type"),
        timestamp_micros(col("b")).as("bucket_start"), col("cusum"))
  }

  /** Lag-k AUTOCORRELATION of the hourly event-count series per type
    * (k = 1, 2, 3) — the seasonality/burstiness diagnostic behind
    * forecasting and anomaly baselines: r₁ ≈ 1 means smooth load,
    * r₂₄ spikes mean daily rhythm, r ≈ 0 means white noise.
    *
    * The series is the DENSE hourly grid over the observed span
    * (missing hours count 0 — autocorrelation over only-observed rows
    * would silently skip gaps and misalign every lag). Counts are
    * integers, so ALL five Pearson moments (Σx, Σy, Σxy, Σx², Σy²)
    * are exact BIGINT sums — order-free and engine-portable; the
    * closing r is a fixed sequence of correctly-rounded IEEE double
    * ops, rounded at 6 dp. Numeric envelope: hourly counts below
    * ~2³¹ keep every moment product inside BIGINT through ~10⁵ grid
    * hours — beyond that, lift the moment sums to DECIMAL(38,0) (the
    * q_skew_report selfjoin_rows pattern).
    *
    * Scale shape: the hourly rollup is one map-side-partial hash
    * aggregate of the fact; everything after runs on the
    * (types × hours) grid — calendar-bounded (8 760 rows/type/year),
    * built by the gapfill day-banded two-level explode, never a
    * driver loop. The lag window partitions by type over that grid —
    * bounded by the calendar, not the data volume. */
  /** Dense hourly count series per type — shared by autocorr and the
    * seasonal-naive forecast. The rollup is checkpointed because it
    * feeds THREE consumers (bounds, the type dimension, the grid
    * probe): materializing the calendar-bounded (types × hours) table
    * once keeps the fact scan single instead of one per consumer
    * (expression trees re-expand). Columns: event_type, b, x. */
  private def hourlyDense(s: SparkSession, d: String): DataFrame = {
    val hourUs = 3600000000L
    val dayUs = 86400000000L
    val perHour = Materialize(Tables.events(s, d)
      .select((expr("unix_micros(ts)") - pmod(expr("unix_micros(ts)"),
        lit(hourUs))).as("b"), col("event_type"))
      .groupBy(col("event_type"), col("b"))
      .agg(count(lit(1)).as("c")))
    val days = perHour.agg(min(col("b")).as("lo"), max(col("b")).as("hi"))
      .select(explode(sequence(col("lo") - pmod(col("lo"), lit(dayUs)),
        col("hi"), lit(dayUs))).as("day"), col("lo"), col("hi"))
    val grid = days.repartition(col("day"))
      .select(explode(sequence(
        greatest(col("day"), col("lo")),
        least(col("day") + lit(dayUs - hourUs), col("hi")),
        lit(hourUs))).as("b"))
    val types = perHour.select(col("event_type")).distinct()
    grid.crossJoin(broadcast(types))
      .join(perHour, Seq("event_type", "b"), "left")
      .select(col("event_type"), col("b"),
        coalesce(col("c"), lit(0L)).as("x"))
  }

  /** CROSS-CORRELATION between event-type pairs at lags −3..+3 hours —
    * the lead–lag diagnostic behind causality hunches ("do clicks lead
    * purchases by an hour?"): Pearson of type A's hourly count against
    * type B's k hours later, over the shared dense grid (missing
    * hours are 0 — observed-only rows would misalign every lag, the
    * autocorr lesson). The shifted side is one 7-way explode of the
    * checkpointed grid (calendar-bounded rows, never data-volume);
    * the alignment is an equi-join on the bucket; all five moments
    * are exact BIGINT sums and the closing r is the autocorr fixed
    * IEEE sequence at 6 dp. Output is |types|²·7 rows. */
  def qEventsXcorr(s: SparkSession, d: String): DataFrame = {
    val hourUs = 3600000000L
    val dense = Materialize(hourlyDense(s, d))
    val bexp = dense.select(col("event_type").as("tb"), col("x").as("y"),
      explode(array((-3 to 3).map(k =>
        struct(lit(k).as("lag"),
          (col("b") - lit(k.toLong * hourUs)).as("ab"))): _*)).as("lk"))
      .select(col("tb"), col("y"), col("lk.lag").as("lag"),
        col("lk.ab").as("b"))
    dense.select(col("event_type").as("ta"), col("b"), col("x"))
      .join(bexp, "b")
      .where(col("ta") < col("tb"))
      .groupBy(col("ta"), col("tb"), col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("ta").as("type_a"), col("tb").as("type_b"), col("lag"),
        col("n_pairs"),
        when(col("n_pairs") * col("sxx") - col("sx") * col("sx") > 0 &&
             col("n_pairs") * col("syy") - col("sy") * col("sy") > 0,
          round((col("n_pairs") * col("sxy") - col("sx") * col("sy"))
              .cast("double") /
            (sqrt((col("n_pairs") * col("sxx") - col("sx") * col("sx"))
                .cast("double")) *
             sqrt((col("n_pairs") * col("syy") - col("sy") * col("sy"))
                .cast("double"))), 6))
          .as("r"))
      .orderBy(col("type_a"), col("type_b"), col("lag"))
  }

  /** SEASONAL STRENGTH per type — the one-number daily-rhythm measure
    * behind the heatmap matrix and the seasonal-naive forecast choice:
    * the share of hourly-count variance explained by hour-of-day,
    * SSB/SST over the dense grid (missing hours 0, the autocorr
    * alignment lesson). Group moments (n_h, Σx, Σx²) are exact
    * integers per (type, hour-of-day) — 24 rows per type; the 24
    * between-group terms quantize to the 6 dp decimal grid before the
    * EXACT sum (the entropy-term discipline — a float Σ over even 24
    * terms is order-dependent), total SS stays in exact BIGINT
    * (n·ΣΣx² < 2⁵³ through ~10⁸ grid hours; past that, lift to
    * DECIMAL(38,0) — the skew-report pattern), and one guarded IEEE
    * division closes. Peak hour is the argmax-by-exact-equality of
    * the quantized hour means (ties → earliest hour). */
  def qEventsSeasonality(s: SparkSession, d: String): DataFrame = {
    val wt = Window.partitionBy(col("event_type"))
    val byHour = hourlyDense(s, d)
      .withColumn("h",
        pmod(floor(col("b") / lit(3600000000L)), lit(24)).cast("int"))
      .groupBy(col("event_type"), col("h"))
      .agg(count(lit(1)).as("n_h"), sum(col("x")).as("s_h"),
        sum(col("x") * col("x")).as("ss_h"))
    val mh = col("mean_h").cast("double")
    val m = col("mean").cast("double")
    val tot = byHour
      .withColumn("n", sum(col("n_h")).over(wt))
      .withColumn("s", sum(col("s_h")).over(wt))
      .withColumn("ss", sum(col("ss_h")).over(wt))
      .withColumn("mean_h",
        round(col("s_h").cast("double") / col("n_h"), 6)
          .cast("decimal(18,6)"))
      .withColumn("mean",
        round(col("s").cast("double") / col("n"), 6).cast("decimal(18,6)"))
      .withColumn("term",
        round(col("n_h") * (mh - m) * (mh - m), 6).cast("decimal(18,6)"))
      .withColumn("mh_max", max(col("mean_h")).over(wt))
    val den = (max(col("n")) * max(col("ss")) -
      max(col("s")) * max(col("s"))).cast("double")
    tot.groupBy(col("event_type"))
      .agg(max(col("n")).as("n_hours"),
        when(den > 0.0,
          round(sum(col("term")).cast("double") * max(col("n")) / den, 6))
          .as("seasonal_strength"),
        min(when(col("mean_h") === col("mh_max"), col("h"))).as("peak_hour"),
        max(col("mh_max")).cast("double").as("peak_mean"))
      .orderBy(col("event_type"))
  }

  def qEventsAutocorr(s: SparkSession, d: String): DataFrame = {
    val dense = hourlyDense(s, d)
    val w = Window.partitionBy(col("event_type")).orderBy(col("b"))
    val withLags = dense.select(
      (col("event_type") +: col("x") +:
        (1 to 3).map(k => lag(col("x"), k).over(w).as(s"y$k"))): _*)
    val lagged = withLags.select(col("event_type"), col("x"),
      explode(array((1 to 3).map(k =>
        struct(lit(k).as("lag"), col(s"y$k").as("y"))): _*)).as("ly"))
      .select(col("event_type"), col("ly.lag").as("lag"), col("x"),
        col("ly.y").as("y"))
      .where(col("y").isNotNull)
    lagged.groupBy(col("event_type"), col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("event_type"), col("lag"), col("n_pairs"),
        when(col("n_pairs") * col("sxx") - col("sx") * col("sx") > 0 &&
             col("n_pairs") * col("syy") - col("sy") * col("sy") > 0,
          round((col("n_pairs") * col("sxy") - col("sx") * col("sy"))
              .cast("double") /
            (sqrt((col("n_pairs") * col("sxx") - col("sx") * col("sx"))
                .cast("double")) *
             sqrt((col("n_pairs") * col("syy") - col("sy") * col("sy"))
                .cast("double"))), 6))
          .as("r"))
      .orderBy(col("event_type"), col("lag"))
  }

  /** SEASONAL-NAIVE FORECAST evaluation — predict each hour's event
    * count by the same hour one day earlier (the standard forecasting
    * baseline every model must beat) and score it per type with MAE
    * and MAPE over the evaluable span: the capacity-planning sanity
    * metric ("how predictable is this load, before any model").
    *
    * Exactness: predictions and errors are integers on the dense
    * hourly grid; MAE closes on the integer half-up ppm grid; each
    * MAPE term |err|/actual quantizes half-up to ppm IN INTEGERS
    * before the exact BIGINT sum (order-free — a float sum of rational
    * terms would be engine-ordered), and the mean closes on the same
    * grid. Zero-actual hours are excluded from MAPE (undefined) and
    * counted separately.
    *
    * Scale shape: shares hourlyDense's single-scan checkpointed
    * rollup; the 24-lag is one window over the calendar-bounded
    * series; the rollup to |types| rows is one hash aggregate. */
  def qEventsForecast(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("b"))
    val scored = hourlyDense(s, d)
      .select(col("event_type"), col("x"),
        lag(col("x"), 24).over(w).as("pred"))
      .where(col("pred").isNotNull)
      .select(col("event_type"), col("x"),
        abs(col("x") - col("pred")).as("ae"))
    scored.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_eval"),
        sum(col("ae")).as("sae"),
        sum(when(col("x") > 0, lit(1L)).otherwise(lit(0L))).as("n_pos"),
        sum(when(col("x") > 0,
          expr("CAST((2000000 * ae + x) DIV (2 * x) AS BIGINT)"))
          .otherwise(lit(0L))).as("spe_ppm"))
      .select(col("event_type"), col("n_eval"), col("n_pos"),
        (expr("CAST((2000000 * sae + n_eval) DIV (2 * n_eval) AS BIGINT)")
          .cast("double") / lit(1000000.0)).as("mae"),
        when(col("n_pos") > 0,
          expr("CAST((2 * spe_ppm + n_pos) DIV (2 * n_pos) AS BIGINT)")
            .cast("double") / lit(1000000.0)).as("mape"))
      .orderBy(col("event_type"))
  }

  /** INTER-ARRIVAL (dwell-time) distribution per event type — the
    * cadence profile behind session-gap tuning, watermark sizing, and
    * capacity planning: for each (user, type) stream, the gaps between
    * consecutive events, rolled up per type to count, mean, and
    * size-routed DISCRETE p50/p95 (observed integer µs values — no
    * interpolation, no float in the quantile path; the exact↔GK-sketch
    * routing is ScaleRouting's documented 100-TB branch).
    *
    * Exactness: gaps are integer microseconds; the mean closes on the
    * integer half-up grid (one exact double division at the end);
    * percentile_disc returns observed BIGINTs.
    *
    * Scale shape: one shuffle on (user, type) for the lag window
    * (bounded by per-user activity — the sessionize contract), one
    * hash aggregate to |types| rows. */
  def qEventsDwell(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts_us"), col("event_id"))
    val gaps = Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("ts_us"), col("event_id"))
      .select(col("event_type"),
        (col("ts_us") - lag(col("ts_us"), 1).over(w)).as("gap_us"))
      .where(col("gap_us").isNotNull)
    val exact = graft.operators.ScaleRouting
      .exactPercentileOk(s, s"$d/events.parquet")
    gaps.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"),
        // DECIMAL sum: microsecond gap totals overflow BIGINT around
        // 10¹² gap-seconds — reachable for a 100 TB event log
        sum(col("gap_us").cast("decimal(38,0)")).as("sum_us"),
        graft.operators.ScaleRouting.percentileDisc(exact, "gap_us", 0.5)
          .cast("long").as("p50_us"),
        graft.operators.ScaleRouting.percentileDisc(exact, "gap_us", 0.95)
          .cast("long").as("p95_us"))
      .select(col("event_type"), col("n_gaps"),
        (expr("CAST((CAST(2 AS DECIMAL(38,0)) * sum_us + n_gaps) DIV " +
          "(CAST(2 AS DECIMAL(38,0)) * n_gaps) AS BIGINT)")
          .cast("double") / lit(1000000.0)).as("mean_gap_s"),
        col("p50_us"), col("p95_us"))
      .orderBy(col("event_type"))
  }

  /** DISTRIBUTION DRIFT between the first and second half of the
    * stream — the two-sample chi-squared statistic per event type over
    * 10 equi-width value buckets: the data-drift monitor every ML
    * ingest pipeline runs before retraining (chi² instead of PSI
    * because it needs NO logarithm — every arithmetic step is a fixed
    * IEEE sequence over exact integer counts, so the statistic is
    * bit-identical cross-engine at the 6 dp round; PSI's ln() is
    * libm-vs-Math.log territory).
    *
    * The time split point is integer floor arithmetic; bucket edges
    * come from per-type min/max (broadcast back); expected counts and
    * per-bucket terms are fixed double sequences over integers; the
    * per-type statistic sums the 6 dp-rounded terms as DECIMAL
    * (exact, order-free).
    *
    * Scale shape: one extent aggregate + one bucketed-count aggregate
    * (two fact passes — the classic histogram-with-derived-edges
    * shape), everything after runs on |types|·10 rows. */
  def qEventsDrift(s: SparkSession, d: String): DataFrame = {
    // non-null values only: LEAST/FLOOR null semantics differ across
    // engines, and a null measurement carries no distribution signal
    val ev = Tables.events(s, d).select(col("event_type"),
      expr("unix_micros(ts)").as("ts_us"), col("value"))
      .where(col("value").isNotNull)
    val ext = ev.groupBy(col("event_type")).agg(
      min(col("ts_us")).as("t_lo"), max(col("ts_us")).as("t_hi"),
      min(col("value")).as("v_lo"), max(col("value")).as("v_hi"))
    val bucketed = ev.join(broadcast(ext), "event_type")
      .select(col("event_type"),
        when(col("ts_us") <= expr("CAST((t_lo + t_hi) DIV 2 AS BIGINT)"), 1)
          .otherwise(2).as("half"),
        when(col("v_hi") > col("v_lo"),
          least(floor((col("value") - col("v_lo")) /
            (col("v_hi") - col("v_lo")) * 10).cast("int"), lit(9)))
          .otherwise(0).as("bucket"))
    val cells = bucketed.groupBy(col("event_type"), col("bucket"))
      .agg(sum(when(col("half") === 1, 1L).otherwise(0L)).as("o1"),
        sum(when(col("half") === 2, 1L).otherwise(0L)).as("o2"))
    val totals = cells.groupBy(col("event_type"))
      .agg(sum(col("o1")).as("n1"), sum(col("o2")).as("n2"))
    val e1 = (col("o1") + col("o2")).cast("double") * col("n1") /
      (col("n1") + col("n2"))
    val e2 = (col("o1") + col("o2")).cast("double") * col("n2") /
      (col("n1") + col("n2"))
    val term =
      when(col("n1") > 0, (col("o1") - e1) * (col("o1") - e1) / e1)
        .otherwise(0.0) +
      when(col("n2") > 0, (col("o2") - e2) * (col("o2") - e2) / e2)
        .otherwise(0.0)
    cells.join(broadcast(totals), "event_type")
      .select(col("event_type"), col("n1"), col("n2"),
        round(term, 6).cast("decimal(18,6)").as("t6"))
      .groupBy(col("event_type"), col("n1"), col("n2"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(col("t6")).cast("double").as("chi2"))
      .select(col("event_type"), col("n1"), col("n2"), col("n_buckets"),
        col("chi2"))
      .orderBy(col("event_type"))
  }

  /** Markov TRANSITION MATRIX of event types — for each user the
    * consecutive (prev → next) event pairs, aggregated to counts and
    * transition probabilities: the session-flow model behind "what do
    * users do after X" product analytics and behavioral anomaly
    * scoring.
    *
    * The probability is rounded HALF-UP at 6 dp entirely in INTEGER
    * arithmetic — floor((2·10⁶·n + total) / (2·total)) — then
    * converted with one exact double division, so the value is
    * bit-identical cross-engine even on the systematic half-ties a
    * rational n/total produces (the §3.9 double-rounding lesson,
    * solved without decimals).
    *
    * Scale shape: one shuffle on user_id, the lag window per user
    * partition (bounded by per-user activity — the sessionize
    * contract), one hash aggregate to the |types|² matrix, and the
    * per-source totals come from a second aggregate of THAT matrix
    * (types² rows), broadcast back. No global window, no driver math. */
  /** A/B CONVERSION TEST — the experiment-analysis primitive: users
    * split into two deterministic arms (user_id parity stands in for
    * the assignment hash), per-arm conversion = did the user ever
    * purchase, and the two-proportion z-statistic closes the
    * comparison. All counts are exact integers off ONE per-user
    * collapse (distinct-user flags, then conditional sums — no
    * multi-countDistinct Expand, the q_events_wau lesson); rates
    * close on the integer half-up ppm grid and the z-statistic is one
    * fixed IEEE sequence at 6 dp over the exact counts (the pooled
    * variance form), so every number is engine-identical. */
  /** z_{0.975} + z_{0.80} — the 5%-two-sided / 80%-power constant of
    * the standard two-sample MDE formula, injected as the SAME
    * round-trip literal into both engines (the NdcgDiscountPpb rule:
    * no inverse-normal is ever evaluated cross-engine). */
  val PowerZSum = 2.8015852181129683

  /** Per-arm sample sizes swept by q_events_power. */
  val PowerNs = Seq(1000L, 10000L, 100000L)

  /** EXPERIMENT-DESIGN MDE SWEEP — the question asked BEFORE
    * q_events_ab_test's readout: at n users per arm, what relative
    * lift is detectable at 5% two-sided significance and 80% power?
    * MDE% = (z_α/2+z_β)·√(2σ²/n)/μ·100 per event type, for
    * n ∈ {10³,10⁴,10⁵} — the table that decides how long an
    * experiment must run. σ²/μ come from EXACT integer-cents moment
    * sums (Σv, Σv² as DECIMAL(38,0)/HUGEINT — order-free), closed in
    * ONE mirrored IEEE sequence (the burstiness discipline) with the
    * z-constant a shared literal; the sweep is a 3-row broadcast
    * cross on the |types| moment table. One map-side-combined
    * aggregate is the only corpus-sized work. */
  def qEventsPower(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val mom = Tables.events(s, d)
      .select(col("event_type"),
        round(col("value") * 100).cast("long").as("v"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_obs"),
        sum(col("v").cast("decimal(38,0)")).as("s1"),
        sum((col("v") * col("v")).cast("decimal(38,0)")).as("s2"))
    val mean = col("s1").cast("double") / col("n_obs")
    val vr = (col("s2").cast("double") -
      col("s1").cast("double") * col("s1").cast("double") / col("n_obs")) /
      (col("n_obs") - 1)
    mom.crossJoin(broadcast(PowerNs.toDF("n_arm")))
      .select(col("event_type"), col("n_arm"), col("n_obs"),
        when(col("n_obs") > 1,
          round(lit(PowerZSum) * sqrt(vr * lit(2.0) / col("n_arm")) /
            mean * lit(100.0), 6)).as("mde_pct"))
      .orderBy(col("event_type"), col("n_arm"))
  }

  def qEventsAbTest(s: SparkSession, d: String): DataFrame = {
    val perUser = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", lit(1L)))
        .as("conv_raw"))
      .select((col("user_id") % 2).cast("int").as("arm"),
        coalesce(col("conv_raw"), lit(0L)).as("conv"))
    val agg = perUser.agg(
      count(when(col("arm") === 0, lit(1))).as("n_a"),
      sum(when(col("arm") === 0, col("conv"))).as("c_a"),
      count(when(col("arm") === 1, lit(1))).as("n_b"),
      sum(when(col("arm") === 1, col("conv"))).as("c_b"))
    val (na, ca, nb, cb) = (col("n_a").cast("double"),
      col("c_a").cast("double"), col("n_b").cast("double"),
      col("c_b").cast("double"))
    val pPool = (ca + cb) / (na + nb)
    val z = (ca / na - cb / nb) /
      sqrt(pPool * (lit(1.0) - pPool) * (lit(1.0) / na + lit(1.0) / nb))
    // degenerate arms (0% or 100% pooled conversion) have zero pooled
    // variance — the z-statistic is undefined, NULL on both engines
    val defined = col("c_a") + col("c_b") > 0 &&
      col("c_a") + col("c_b") < col("n_a") + col("n_b")
    // an empty arm (possible on a filtered slice, not this data) gets
    // a NULL rate instead of an ANSI integer-division error; the z
    // guard already requires both arms non-degenerate
    agg.select(col("n_a"), col("c_a"), col("n_b"), col("c_b"),
      when(col("n_a") > 0,
        expr("CAST((2000000 * c_a + n_a) DIV (2 * n_a) AS BIGINT)")
          .cast("double") / lit(1000000.0)).as("rate_a"),
      when(col("n_b") > 0,
        expr("CAST((2000000 * c_b + n_b) DIV (2 * n_b) AS BIGINT)")
          .cast("double") / lit(1000000.0)).as("rate_b"),
      when(defined && col("n_a") > 0 && col("n_b") > 0, round(z, 6))
        .as("z_score"))
  }

  /** Power-iteration rounds for q_events_stationary — fixed and
    * unrolled in the oracle (the PageRank / khop discipline): the
    * result is a deterministic "R-round" vector whether or not the
    * chain has mixed. */
  val StationaryRounds = 8

  /** STATIONARY DISTRIBUTION of the behavior Markov chain — where the
    * transition matrix says users spend their long-run time (the
    * chain-level complement to q_events_transitions' edge view, and
    * PageRank's little sibling on the |types|² matrix): π ← πP,
    * unrolled StationaryRounds times from uniform. EVERY number lives
    * on the integer ppm grid — the matrix entries are the transitions
    * half-up ppm probabilities, each round's π requantizes by integer
    * half-up DIV — so all eight rounds are pure BIGINT arithmetic,
    * bit-identical on any engine with zero float drift to analyze.
    * After the one fact-scan pair extraction, every round runs on the
    * |types|²-bounded checkpointed matrix (data-volume-free).
    * Contract: every type must have an outgoing edge (true of any
    * dense behavior log; an absorbing type would need a dangling-mass
    * term like PageRank's — its mass silently drains each round here).
    * Types with no INCOMING edge still get a pi = 0 output row via a
    * final left join of the type dimension, so the report's row set is
    * the type vocabulary regardless of matrix shape. */
  def qEventsStationary(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(expr("unix_micros(ts)"), col("event_id"))
    val ev = Tables.events(s, d)
    val cnt = ev
      .select(col("user_id"), col("event_type"),
        lag(col("event_type"), 1).over(w).as("from_type"))
      .where(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val tot = cnt.groupBy(col("from_type")).agg(sum(col("n")).as("t"))
    val m = Materialize(cnt.join(tot, "from_type")
      .select(col("from_type"), col("to_type"),
        expr("CAST((2000000 * n + t) DIV (2 * t) AS BIGINT)").as("np")))
    val types = ev.select(col("event_type")).distinct()
    var pi = types
      .crossJoin(broadcast(types.agg(count(lit(1)).as("k"))))
      .select(col("event_type").as("from_type"),
        expr("CAST(1000000 DIV k AS BIGINT)").as("pi"))
    for (_ <- 1 to StationaryRounds) {
      pi = pi.join(m, "from_type")
        .groupBy(col("to_type"))
        .agg(expr("CAST((2 * SUM(pi * np) + 1000000) DIV 2000000 AS BIGINT)")
          .as("pi2"))
        .select(col("to_type").as("from_type"), col("pi2").as("pi"))
    }
    // types with no INCOMING transition after the final round drop out
    // of the inner-join fixpoint — left-join the type dimension back so
    // they surface as pi = 0 rows instead of vanishing from the report
    // (a sink-only type is data, not an error; losing its row would
    // make |output| data-dependent)
    types.select(col("event_type"))
      .join(pi.withColumnRenamed("from_type", "event_type"),
        Seq("event_type"), "left")
      .select(col("event_type"),
        (coalesce(col("pi"), lit(0L)).cast("double") / lit(1000000.0))
          .as("pi"))
      .orderBy(col("event_type"))
  }

  def qEventsTransitions(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(expr("unix_micros(ts)"), col("event_id"))
    val pairs = Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        lag(col("event_type"), 1).over(w).as("from_type"))
      .where(col("from_type").isNotNull)
    val matrix = pairs.groupBy(col("from_type"),
        col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    // per-source totals as a window over the MATRIX (|types|² rows —
    // bounded by the type vocabulary, not data volume), so the fact
    // is scanned and windowed exactly once; a groupBy+join here would
    // re-expand the whole pair subtree a second time (expression
    // trees, not DAGs)
    matrix
      .withColumn("total_from",
        sum(col("n")).over(Window.partitionBy(col("from_type"))))
      .select(col("from_type"), col("to_type"), col("n"),
        col("total_from"),
        (expr("CAST((2000000 * n + total_from) DIV (2 * total_from) AS BIGINT)")
          .cast("double") / lit(1000000.0)).as("prob"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** DAILY PERCENTILE BANDS per type — the operational latency-style
    * report (p50/p95/p99 per endpoint per day) on the reference's
    * percentile machinery: one grouped aggregate on (type, day),
    * exact-vs-GK-sketch routed by input bytes exactly like
    * q_agg_median_mode (ScaleRouting — at 100 TB the sketch path
    * engages automatically; the oracle mirrors the exact branch at
    * test scale). NULL values drop first so the count and the
    * quantiles agree on the population. */
  def qEventsPercentiles(s: SparkSession, d: String): DataFrame = {
    import graft.operators.ScaleRouting.percentileCont
    val exact = graft.operators.ScaleRouting
      .exactPercentileOk(s, s"$d/events.parquet")
    Tables.events(s, d)
      .where(col("value").isNotNull)
      .withColumn("day", to_date(col("ts")))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"),
        round(percentileCont(exact, "value", 0.5), 4).as("p50"),
        round(percentileCont(exact, "value", 0.95), 4).as("p95"),
        round(percentileCont(exact, "value", 0.99), 4).as("p99"),
        max(col("value")).as("max_value"))
      .orderBy(col("event_type"), col("day"))
  }

  /** Fixed histogram config shared by the batch query, the streaming
    * twin, and the generated oracle: 25 buckets of width 20 over
    * [0, 500) — the production pattern (latency buckets are chosen
    * from SLOs, not data) that makes the state shape constant. */
  val HistLo = 0.0
  val HistHi = 500.0
  val HistBuckets = 25

  /** HISTOGRAM QUANTILES per type — the STREAMABLE percentile path
    * completing the ladder (exact q_events_percentiles ↔ GK-sketch
    * routing ↔ this): n fixed conditional bucket counts in ONE
    * aggregate (mergeable integers — the only state shape a streaming
    * windowed aggregate can hold; rank-based percentiles cannot
    * stream), then p50/p95/p99 interpolate inside the crossing bucket
    * as a codegen'd when-chain projection — no second shuffle, error
    * bounded by one bucket width by construction. Bit-identical in
    * batch, streaming (EventsStream.histQuantileStream), and the
    * oracle: integer counts + one fixed IEEE close. */
  def qEventsHistQuantiles(s: SparkSession, d: String): DataFrame = {
    import graft.operators.HistQuantile
    val aggs = HistQuantile.bucketCounts(
      col("value"), HistLo, HistHi, HistBuckets)
    val agg = Tables.events(s, d).where(col("value").isNotNull)
      .groupBy(col("event_type"))
      .agg(aggs.head, aggs.tail: _*)
    val cnts = (0 until HistBuckets).map(i => col(s"c$i"))
    agg.select(col("event_type"),
        cnts.reduce(_ + _).as("n"),
        round(HistQuantile.estimate(cnts, 0.5, HistLo, HistHi), 4)
          .as("h_p50"),
        round(HistQuantile.estimate(cnts, 0.95, HistLo, HistHi), 4)
          .as("h_p95"),
        round(HistQuantile.estimate(cnts, 0.99, HistLo, HistHi), 4)
          .as("h_p99"))
      .orderBy(col("event_type"))
  }

  /** TOP BEHAVIORAL PATHS — the 3-step sequence mining behind funnel
    * discovery ("what do users actually do?", the exploratory
    * counterpart to the fixed-stage q_events_funnel): per-user event
    * trigrams by two stacked leads in ONE window pass (same
    * (ts, event_id) total order as q_events_transitions — lag ties
    * are deterministic), then a |types|³-bounded count table and a
    * deterministic sort+limit top-20 (TakeOrderedAndProject, no
    * global window — the q_text_pmi cut discipline). n_users rides
    * the same aggregate as a distinct count. */
  def qEventsPaths(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(expr("unix_micros(ts)"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("event_type").as("t1"),
        lead(col("event_type"), 1).over(w).as("t2"),
        lead(col("event_type"), 2).over(w).as("t3"))
      .where(col("t3").isNotNull)
      .groupBy(col("t1"), col("t2"), col("t3"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("n").desc, col("t1"), col("t2"), col("t3"))
      .limit(20)
  }

  /** Attribution lookback: a click within 72 h before the purchase
    * can claim it. */
  val AttrWindowUs: Long = 72L * 3600L * 1000000L

  /** MARKETING ATTRIBUTION (first-touch / last-touch): every purchase
    * tagged with the first and last 'click' in its user's trailing
    * 72-hour lookback, plus the click count — the table a
    * multi-touch-attribution model trains on. NULL first/last =
    * organic purchase (no click in window). */
  def qEventsAttribution(s: SparkSession, d: String): DataFrame =
    attributionOver(
      Tables.events(s, d).withColumn("ts_us", unix_micros(col("ts"))))
      .orderBy(col("event_id"))

  /** The attribution core over any frame with (event_id, user_id,
    * event_type, ts_us) — split out so the streaming twin's
    * equivalence spec can run it on a planted frame.
    *
    * REWRITTEN round 13 after the skewed-scale curve caught the
    * original plan (ONE user-partitioned RANGE window computing
    * min/max/count of click timestamps in [t−72h, t]) at 3.0× wall
    * under a 5% hot user: Spark evaluates sliding min/max frames by
    * RE-AGGREGATING the frame per row (no inverse for min/max), so the
    * hot task pays O(n_hot · frame_rows) — quadratic in the hot key's
    * share, the classic window-skew death. The replacement is the
    * slidingRangeSum union-merge discipline, O(n log n) with
    * streaming-frame windows only and NO bounded frame anywhere:
    *
    *   1. each purchase contributes TWO probe rows into a per-user
    *      merge with the clicks: one at t−72h (tag 0, sorting BEFORE
    *      equal-key clicks → its running click count is the
    *      strictly-before count, so the inclusive window boundary is
    *      exact) and one at t (tag 2, sorting AFTER equal-key clicks →
    *      the count includes ts-peers, matching RANGE-frame peer
    *      semantics);
    *   2. one shuffle by user and two sorts evaluate three STREAMING
    *      frames: a forward running click count and running max
    *      click-ts (unboundedPreceding→current), and the "next click"
    *      as a running min over the REVERSED sort order — also
    *      unboundedPreceding→current, because Spark's
    *      unbounded-FOLLOWING frame re-aggregates [current, end] per
    *      row (O(n²) on a hot key; measured 16 s vs 1.3 s on this
    *      very query before the reversal). No bounded or following
    *      frame ever re-aggregates; the second sort reuses the first
    *      shuffle's partitioning;
    *   3. per purchase: n = cnt(hi) − cnt(lo); first click in window
    *      = the lo probe's NEXT click ts (in window whenever n > 0);
    *      last = the hi probe's running-max click ts (same masking).
    *      A single hash aggregate on p_id pivots the two probe rows —
    *      no join anywhere in the plan.
    *
    * Measured at 10× data with a 5% hot user: the hot task does
    * n log n sort work instead of n·frame re-aggregation; wall time
    * returns to parity with the uniform dataset (3.6 → ~1.3 s) and
    * the uniform time is unchanged. Identical output — the oracle and
    * the streaming-equivalence spec are untouched. */
  def attributionOver(ev: DataFrame): DataFrame = {
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts_us").as("_k"), lit(1).as("_tag"),
        lit(null).cast("long").as("p_id"),
        lit(null).cast("long").as("p_ts"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val loProbe = purchases.select(col("user_id"),
      (col("ts_us") - lit(AttrWindowUs)).as("_k"), lit(0).as("_tag"),
      col("event_id").as("p_id"), col("ts_us").as("p_ts"))
    val hiProbe = purchases.select(col("user_id"), col("ts_us").as("_k"),
      lit(2).as("_tag"), col("event_id").as("p_id"),
      col("ts_us").as("p_ts"))
    val fwd = Window.partitionBy(col("user_id"))
      .orderBy(col("_k"), col("_tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // reverse order: running min over (k desc, tag desc) = min over
    // rows at-or-after (k, tag) in the forward order. Equal-key rows:
    // clicks (tag 1) sort before a lo probe (tag 0) in reverse, so the
    // inclusive window-start boundary is preserved; equal-key peers of
    // the same tag are all probes (clickK null) — order among them
    // cannot change the min.
    val rev = Window.partitionBy(col("user_id"))
      .orderBy(col("_k").desc, col("_tag").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val clickK = when(col("_tag") === 1, col("_k"))
    clicks.unionByName(loProbe).unionByName(hiProbe)
      .withColumn("_pc",
        sum(when(col("_tag") === 1, 1L).otherwise(0L)).over(fwd))
      .withColumn("_runmax", max(clickK).over(fwd))
      .withColumn("_next", min(clickK).over(rev))
      .where(col("_tag") =!= 1)
      .groupBy(col("p_id"))
      .agg(
        max(col("user_id")).as("user_id"),
        max(col("p_ts")).as("_ts_us"),
        (max(when(col("_tag") === 2, col("_pc"))) -
          max(when(col("_tag") === 0, col("_pc")))).as("n_clicks_win"),
        max(when(col("_tag") === 0, col("_next"))).as("_first"),
        max(when(col("_tag") === 2, col("_runmax"))).as("_last"))
      .select(col("p_id").as("event_id"), col("user_id"),
        col("_ts_us").as("ts_us"),
        when(col("n_clicks_win") > 0, col("_first")).as("first_click_us"),
        when(col("n_clicks_win") > 0, col("_last")).as("last_click_us"),
        col("n_clicks_win"))
  }

  /** LINEAR MULTI-TOUCH CREDIT — the model half of the attribution
    * pair: every converting purchase distributes exactly 1,000,000 ppm
    * of credit equally across the clicks in its 72 h lookback, and
    * each click reports the total credit it earned (the table a
    * media-mix budget reads). EXACT BY CONSTRUCTION: click i of n gets
    * the telescoped share ⌊10⁶·i/n⌋ − ⌊10⁶·(i−1)/n⌋ — integers only,
    * per-purchase shares sum to 10⁶ identically, no remainder
    * special-case. The credit join is banded-equi on
    * (user_id, 72 h-time-bin) — round 13: user-only equi keying let a
    * hot user's every (purchase, click) pair through the sort-merge
    * enumeration before the lookback residual filtered them (measured
    * 2.3× wall under a 5% hot user); with the purchase side expanded
    * to its two candidate bins (a click in [t−72h, t] sits in exactly
    * one of bin(t), bin(t)−1 — never both, so no dedup needed) the
    * join enumerates only a 2×-window slice per key while the hot
    * user's rows spread across all their time bins. The per-purchase
    * rank window stays bounded by clicks-per-72 h. Clicks that never
    * converted report zeros via the left join-back. */
  def qEventsAttributionCredit(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .withColumn("ts_us", unix_micros(col("ts")))
    val purchases = attributionOver(ev).where(col("n_clicks_win") > 0)
      .select(col("event_id").as("p_id"), col("user_id"),
        col("ts_us").as("p_ts"), col("n_clicks_win").as("n"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id"),
        col("ts_us").as("c_ts"))
    val byPurchase = Window.partitionBy(col("p_id"))
      .orderBy(col("c_ts"), col("c_id"))
    val pBanded = purchases.withColumn("_bin",
      explode(array(expr(s"p_ts div ${AttrWindowUs}L") - 1L,
        expr(s"p_ts div ${AttrWindowUs}L"))))
    val cBanded = clicks.withColumn("_bin",
      expr(s"c_ts div ${AttrWindowUs}L"))
    val credited = pBanded.join(cBanded, Seq("user_id", "_bin"))
      .where(col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - lit(AttrWindowUs))
      .withColumn("rn", row_number().over(byPurchase))
      .withColumn("credit_ppm",
        expr("(CAST(1000000 AS BIGINT) * rn) div n" +
          " - (CAST(1000000 AS BIGINT) * (rn - 1)) div n"))
      .groupBy(col("c_id"))
      .agg(sum(col("credit_ppm")).as("credit_ppm"),
        count(lit(1)).as("n_conversions"))
    clicks.join(credited, Seq("c_id"), "left")
      .select(col("c_id").as("event_id"), col("user_id"),
        coalesce(col("n_conversions"), lit(0L)).as("n_conversions"),
        coalesce(col("credit_ppm"), lit(0L)).as("credit_ppm"))
      .orderBy(col("event_id"))
  }

  /** Multi-window page threshold: error fraction in ppm. */
  val BurnThresholdPpm: Long = 250000L

  /** MULTI-WINDOW ERROR-BUDGET BURN RATE (the SRE workbook alerting
    * rule): per hour bucket, the error fraction over the last 1 h AND
    * the trailing 6 h — a page fires only when BOTH breach the
    * threshold, so a one-hour blip doesn't page but a sustained burn
    * does. Rates are integer ppm (10⁶·err DIV n — truncating, exact
    * cross-engine); the 6 h lookback is ONE range window over the
    * HOURLY ROLLUP, whose row count is calendar-bounded (hours of
    * retention, not data volume) — the q_events_concurrency contract,
    * allowlisted in PlanLint with the same justification. */
  def qEventsBurnrate(s: SparkSession, d: String): DataFrame = {
    val hourly = Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("bucket"))
      .agg(count(lit(1)).as("n_1h"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L))
          .as("err_1h"))
      .withColumn("bucket_us", unix_micros(col("bucket")))
    val look6 = Window.orderBy(col("bucket_us"))
      .rangeBetween(-5L * 3600000000L, Window.currentRow)
    hourly
      .withColumn("n_6h", sum(col("n_1h")).over(look6))
      .withColumn("err_6h", sum(col("err_1h")).over(look6))
      .select(col("bucket"), col("n_1h"), col("err_1h"),
        expr("(1000000 * err_1h) div n_1h").as("rate_1h_ppm"),
        col("n_6h"), col("err_6h"),
        expr("(1000000 * err_6h) div n_6h").as("rate_6h_ppm"))
      .withColumn("page",
        col("rate_1h_ppm") >= BurnThresholdPpm &&
          col("rate_6h_ppm") >= BurnThresholdPpm)
      .orderBy(col("bucket"))
  }

  /** Hash-table sizes the featurizer collision sweep audits. */
  val FeatureHashSizes: Seq[Int] = Seq(64, 256, 1024)

  /** FEATURE-HASHING COLLISION SWEEP — the hashing-trick sizing curve
    * (Weinberger et al. 2009): the categorical cross event_type ×
    * hour-of-day folded into fixed hash tables of 64/256/1024 slots,
    * reporting per size how many features share a slot — the chart
    * that picks the feature-table width a model trains against (too
    * small: gradient interference from collisions; too big: wasted
    * embedding rows). ONE distinct-features aggregate (vocabulary-
    * sized from there on), the portable md5 bucket mapping, a 3-row
    * broadcast size dimension, two bounded aggregates. */
  def qFeatureHashSweep(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val feats = Tables.events(s, d)
      .select(concat(col("event_type"), lit(":"),
        hour(col("ts")).cast("string")).as("feature"))
      .distinct()
    val h = conv(substring(md5(concat(lit("fh:"), col("feature"))), 1, 8),
      16, 10).cast("long")
    val loads = feats.select(h.as("h"))
      .crossJoin(broadcast(FeatureHashSizes.toDF("hash_size")))
      .groupBy(col("hash_size"),
        pmod(col("h"), col("hash_size").cast("long")).as("bucket"))
      .agg(count(lit(1)).as("load"))
    loads.groupBy(col("hash_size"))
      .agg(sum(col("load")).as("n_features"),
        count(lit(1)).as("n_buckets_used"),
        sum(when(col("load") >= 2, col("load")).otherwise(0L))
          .as("n_collided"))
      .orderBy(col("hash_size"))
  }

  /** HYSTERESIS ALERT EPISODES — the two-threshold Schmitt-trigger
    * alerting rule beside q_events_burnrate's multi-window one: per
    * event type, an alert OPENS when the hourly count rises above the
    * p90 threshold and CLOSES only when it falls below the median, so
    * a series oscillating inside the dead band can never flap the
    * pager. State is "last decisive observation carried forward":
    * raw = 1 above hi / 0 below lo / NULL in the band, state =
    * last(raw, ignoreNulls) over time (alert-closed start); episodes
    * are state-1 islands keyed by the running count of 0→1 opens.
    * Thresholds are DISCRETE percentiles of integer counts and every
    * verdict is an integer comparison — bit-exact cross-engine; the
    * exact percentile is safe at ANY corpus size because the hourly
    * series is calendar-bounded (hours of retention, never data
    * volume — the q_events_burnrate contract). Scale: thresholds,
    * carry-forward, islands, and the rollups all ride ONE
    * (event_type, bucket-ordered) partitioning of that bounded
    * series; the only corpus-sized work is the first hash aggregate
    * inside hourlyDense. */
  def qEventsHysteresis(s: SparkSession, d: String): DataFrame = {
    val base = hourlyDense(s, d)
    val thr = base.groupBy(col("event_type")).agg(
      expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY x)")
        .cast("long").as("hi"),
      expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY x)")
        .cast("long").as("lo"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("b"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val st = base.join(broadcast(thr), "event_type")
      .withColumn("raw",
        when(col("x") > col("hi"), lit(1))
          .when(col("x") < col("lo"), lit(0)))
      .withColumn("state",
        coalesce(last(col("raw"), ignoreNulls = true).over(wRun), lit(0)))
      .withColumn("open",
        when(col("state") === 1 &&
          coalesce(lag(col("state"), 1).over(w), lit(0)) === 0, 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("open")).over(wRun))
    val tot = st.groupBy(col("event_type")).agg(
      max(col("hi")).as("hi"), max(col("lo")).as("lo"),
      count(lit(1)).as("n_hours"),
      sum(col("open")).as("n_episodes"),
      sum(col("state").cast("long")).as("alert_hours"))
    val maxLen = st.where(col("state") === 1)
      .groupBy(col("event_type"), col("island"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("event_type"))
      .agg(max(col("len")).as("max_episode_hours"))
    tot.join(maxLen, Seq("event_type"), "left")
      .select(col("event_type"), col("hi"), col("lo"), col("n_hours"),
        col("n_episodes"), col("alert_hours"),
        coalesce(col("max_episode_hours"), lit(0L))
          .as("max_episode_hours"),
        expr("(1000000 * alert_hours) div n_hours").as("alert_share_ppm"))
      .orderBy(col("event_type"))
  }

  /** The Schmitt-trigger carry-forward at CONFIGURED thresholds over
    * an arbitrary events frame, per-type dense from each type's own
    * first observed hour — the batch twin EventsStream.hysteresisStream
    * is spec-checked against (the streaming side cannot know the
    * percentile thresholds or the global grid bounds; configured
    * hi/lo is the cusumFixedTarget contract). Emits the per-bucket
    * changelog (type, b, x, state, opened) rather than the episode
    * rollup — the rollup is a plain aggregate of these rows. */
  private[graft] def hysteresisFixed(
      events: DataFrame, hi: Long, lo: Long): DataFrame = {
    val hourUs = 3600000000L
    val perHour = events
      .select((expr("unix_micros(ts)") -
        pmod(expr("unix_micros(ts)"), lit(hourUs))).as("b"),
        col("event_type"))
      .groupBy(col("event_type"), col("b"))
      .agg(count(lit(1)).as("c"))
    val dense = perHour.groupBy(col("event_type"))
      .agg(min(col("b")).as("lo_b"), max(col("b")).as("hi_b"))
      .select(col("event_type"),
        explode(sequence(col("lo_b"), col("hi_b"), lit(hourUs))).as("b"))
      .join(perHour, Seq("event_type", "b"), "left")
      .select(col("event_type"), col("b"),
        coalesce(col("c"), lit(0L)).as("x"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("b"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dense
      .withColumn("raw",
        when(col("x") > hi, lit(1)).when(col("x") < lo, lit(0)))
      .withColumn("state",
        coalesce(last(col("raw"), ignoreNulls = true).over(wRun), lit(0)))
      .withColumn("opened",
        col("state") === 1 &&
          coalesce(lag(col("state"), 1).over(w), lit(0)) === 0)
      .select(col("event_type"), col("b"), col("x"), col("state"),
        col("opened"))
  }

  /** INTER-ARRIVAL BURSTINESS — Goh & Barabási's B = (σ−μ)/(σ+μ)
    * over per-user inter-event gaps, rolled up per event type: the
    * arrival-process fingerprint that separates Poisson-like human
    * activity (B ≈ 0 … slightly negative) from bursty machine/retry
    * traffic (B → 1) and metronomic schedulers (B → −1) — the
    * capacity-planning companion to q_events_concurrency. Gaps are
    * PER-USER (lag within the user's own timeline of that type), so
    * the window partition is (user, type) — bounded per key under any
    * corpus growth, never a per-type global sort.
    *
    * Precision: gaps quantize to integer seconds (DIV, exact), Σg and
    * Σg² accumulate as exact 128-bit integers; μ/σ/B close in one
    * fixed IEEE double sequence at the 1e-6 grid (the autocorr
    * discipline — sums exact and order-free, one float closing step;
    * past 2⁵³ the closing conversion is the correctly-rounded IEEE
    * one in both engines and the 1e-6 round absorbs it).
    *
    * Scale shape: one shuffle on (user, type) for the lag, one
    * map-side-partial rollup to |types| rows. */
  def qEventsBurstiness(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts_us"), col("event_id"))
    val gaps = Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("ts_us"), col("event_id"))
      .withColumn("prev", lag(col("ts_us"), 1).over(w))
      .where(col("prev").isNotNull)
      .select(col("event_type"),
        expr("(ts_us - prev) DIV 1000000").as("g"))
    gaps.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("g").cast("decimal(38,0)")).cast("decimal(38,0)")
          .as("s1"),
        sum((col("g").cast("decimal(19,0)") * col("g"))
          .cast("decimal(38,0)")).cast("decimal(38,0)").as("s2"))
      .select(col("event_type"), col("n_gaps"),
        (col("n_gaps").cast("double")).as("nd"),
        col("s1").cast("double").as("d1"),
        col("s2").cast("double").as("d2"))
      .withColumn("mu", col("d1") / col("nd"))
      .withColumn("sg", sqrt(greatest(
        col("d2") / col("nd") - col("mu") * col("mu"), lit(0.0))))
      .select(col("event_type"), col("n_gaps"),
        round(col("mu"), 3).as("mean_gap_s"),
        round(col("sg"), 3).as("sigma_gap_s"),
        when(col("mu") > 0, round(col("sg") / col("mu"), 6)).as("cv"),
        when(col("sg") + col("mu") > 0,
          round((col("sg") - col("mu")) / (col("sg") + col("mu")), 6))
          .as("burstiness"))
      .orderBy(col("event_type"))
  }

  /** SLIDING-WINDOW RATE-LIMITER AUDIT — replay the standard
    * N-per-minute per-user throttle rule over the history ("what
    * WOULD a 5/min limiter have rejected?") before anyone deploys
    * it: per event, the count of that user's events in the trailing
    * 60 s decides the verdict (count > N → throttled — the sliding-
    * log limiter, exact, no token-bucket approximation), rolled up
    * per event type with the user blast radius. RANGE peers at the
    * same microsecond count together in both engines (frame is
    * order-value-bounded, so tie order cannot matter — the
    * q_events_attribution RANGE-peer discipline). All integers,
    * bit-exact. Scale shape: ONE shuffle on user_id for the range
    * window (per-user state bounded by the 60 s frame × arrival
    * rate), then a map-side-partial rollup to |types| rows; the
    * distinct-user tail is a (type, user) pre-aggregate, never a
    * corpus-wide COUNT DISTINCT. */
  /** Per-event sliding-log verdicts, shared by the batch query and the
    * streaming twin's parity spec: c60 counts the user's events in the
    * closed window [t − 60s + 1 μs, t] (a RANGE frame, so same-instant
    * events are mutual peers). */
  private[graft] def rateLimitVerdicts(
      events: DataFrame, n: Int = 5): DataFrame = {
    val winUs = 60000000L
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(-(winUs - 1), 0)
    events
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_micros(ts)").as("ts_us"))
      .withColumn("c60", count(lit(1)).over(w))
      .withColumn("throttled", (col("c60") > n).cast("int"))
  }

  def qEventsRateLimit(s: SparkSession, d: String): DataFrame = {
    val verdicts = rateLimitVerdicts(Tables.events(s, d))
    val perType = verdicts.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("throttled")).cast("long").as("n_throttled"),
        max(col("c60")).as("max_c60"))
    val users = verdicts.groupBy(col("event_type"), col("user_id"))
      .agg(max(col("throttled")).as("hit"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("hit")).cast("long").as("n_users_throttled"))
    perType.join(users, "event_type")
      .select(col("event_type"), col("n_events"), col("n_throttled"),
        expr("(1000000 * n_throttled) DIV n_events")
          .as("throttle_ppm"),
        col("max_c60"), col("n_users"), col("n_users_throttled"))
      .orderBy(col("event_type"))
  }

  /** BANDED INTERVAL-OVERLAP JOIN — the interval×interval sibling of
    * q_range_join (point-in-interval) and q_asof_join (point-to-
    * nearest): which USER SESSIONS overlap which SITE-WIDE
    * HIGH-ACTIVITY EPISODES, rolled up per episode. Sessions are the
    * sessionize query's 10-minute-gap intervals [min ts, max ts]
    * (closed); episodes are maximal runs of consecutive hours whose
    * site-wide event count exceeds the p75 of observed hourly counts
    * (percentile_disc — an integer actually attained, exact in both
    * engines).
    *
    * The scale shape IS the point: a naive overlap join is a theta
    * join (quadratic). Both interval sets explode into the DAY
    * buckets they touch and equi-join on the bucket; a pair is kept
    * only in the bucket containing greatest(s_start, e_start), so no
    * pair is ever emitted twice and no dedup pass exists. Per-task
    * work is (sessions that day) × (episodes that day) — bounded by
    * the band, never by the table. The episode builder's lag/sum
    * windows run on the observed-HOURS rollup (calendar-bounded, the
    * q_events_burnrate contract); everything else shuffles on bucket
    * or the episode key. Overlap lengths are exact integer μs.
    * Episodes with zero overlapping sessions survive via the final
    * left join. */
  def qIntervalJoin(s: SparkSession, d: String): DataFrame = {
    val hourUs = 3600000000L
    val dayUs = 86400000000L
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sess = Tables.events(s, d)
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("gap_us", col("ts_us") - lag(col("ts_us"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("gap_us").isNull || col("gap_us") > 600000000L, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_sess")).over(cum))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts_us")).as("s_start"), max(col("ts_us")).as("s_end"))
    val perHour = Tables.events(s, d)
      .select((expr("unix_micros(ts)") -
        pmod(expr("unix_micros(ts)"), lit(hourUs))).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("c"))
    val thr = perHour.agg(
      expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY c)")
        .cast("long").as("t"))
    val wHour = Window.orderBy(col("b"))
    // feeds both the banded side and the zero-preserving left join
    val eps = Materialize(perHour.crossJoin(broadcast(thr))
      .where(col("c") > col("t"))
      .withColumn("new_ep",
        when(col("b") - lag(col("b"), 1).over(wHour) === hourUs, 0L)
          .otherwise(1L))
      .withColumn("ep", sum(col("new_ep"))
        .over(wHour.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .groupBy(col("ep"))
      .agg(min(col("b")).as("e_start"),
        (max(col("b")) + lit(hourUs - 1)).as("e_end"),
        count(lit(1)).as("n_hours"), max(col("c")).as("peak")))
    val sessB = sess.withColumn("bucket",
      explode(sequence(expr(s"s_start DIV $dayUs"),
        expr(s"s_end DIV $dayUs"))))
    val epsB = eps.withColumn("bucket",
      explode(sequence(expr(s"e_start DIV $dayUs"),
        expr(s"e_end DIV $dayUs"))))
    val hits = sessB.join(epsB, "bucket")
      .where(col("s_start") <= col("e_end") &&
        col("e_start") <= col("s_end") &&
        col("bucket") ===
          expr(s"greatest(s_start, e_start) DIV $dayUs"))
      .groupBy(col("e_start"))
      .agg(count(lit(1)).as("n_sessions"),
        countDistinct(col("user_id")).as("n_users"),
        sum(least(col("s_end"), col("e_end")) -
          greatest(col("s_start"), col("e_start")) + 1).as("overlap_us"))
    eps.join(hits, Seq("e_start"), "left")
      .select(col("e_start"), col("e_end"), col("n_hours"), col("peak"),
        coalesce(col("n_sessions"), lit(0L)).as("n_sessions"),
        coalesce(col("n_users"), lit(0L)).as("n_users"),
        coalesce(col("overlap_us"), lit(0L)).as("overlap_us"))
      .orderBy(col("e_start"))
  }

  /** NATIVE SESSION-WINDOW SESSIONIZATION — the same 10-minute-gap
    * sessions as q_events_sessionize, but built on Spark's
    * session_window AGGREGATE instead of the lag/running-sum window
    * pair: one hash aggregate with in-memory session merging, no sort
    * of each user's full history — the shape Structured Streaming
    * runs, registered batch-side so the two implementations are
    * oracle-checked against each other. Boundary semantics
    * (spec-pinned): session_window's end is INCLUSIVE for merging — a
    * gap of exactly the duration stays in ONE session, identical to
    * the lag query's strict-> split rule, so the oracle is the same
    * sessionizer CTE rolled up per session. Output is one row per
    * session with exact integer-μs bounds (end = last event, i.e.
    * window.end − gap). */
  def qSessionNative(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"),
        session_window(col("ts"), "10 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("sw.start")).as("s_start_us"),
        (unix_micros(col("sw.end")) - lit(600000000L)).as("s_end_us"),
        col("n_events"))
      .orderBy(col("user_id"), col("s_start_us"))

  /** SURVIVAL ANALYSIS — Kaplan–Meier-style life table with
    * right-censoring over user lifetimes, closed as the Nelson–Aalen
    * cumulative hazard (Aalen 1978): H(t) = Σ_{s≤t} d_s/n_s. The
    * product-limit survival estimate exp(-H) is a per-row transform
    * the caller applies; the hazard SUM (unlike KM's cumulative
    * PRODUCT) is exact in integer parts-per-billion, so the whole
    * curve hash-matches with zero float drift — the same
    * integer-ppb discipline as q_ann_rank_metrics.
    *
    * Semantics: a user's observed time is the span in days between
    * first and last activity; the observation is CENSORED (user may
    * still be alive) when the last activity falls within 7 days of
    * the corpus's final day, else it is a churn event. At each
    * distinct duration t: n_risk = users with observed time ≥ t
    * (a descending cumulative sum), d = churns at t, c = censored
    * at t; hazard_ppb = ⌊d·10⁹/n_risk⌋ and cum_hazard_ppb is its
    * ascending prefix sum — all BIGINT.
    *
    * Scale shape: one shuffle to the per-user aggregate (map-side
    * combined), then the life table itself has one row per DISTINCT
    * duration — calendar-bounded (days of retention), never data-
    * volume-bounded — so its two ordered whole-relation windows ride
    * the q_events_concurrency bounded-input contract. */
  def qEventsSurvival(s: SparkSession, d: String): DataFrame = {
    val days = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"))
    val perUser = days.groupBy(col("user_id"))
      .agg(min(col("day")).as("first_day"), max(col("day")).as("last_day"))
    val mx = days.agg(max(col("day")).as("corpus_max"))
    val flagged = perUser.crossJoin(broadcast(mx))
      .select(
        datediff(col("last_day"), col("first_day")).cast("long")
          .as("t_days"),
        when(datediff(col("corpus_max"), col("last_day")) < 7, 1L)
          .otherwise(0L).as("censored"))
    val dur = flagged.groupBy(col("t_days"))
      .agg(sum(lit(1L) - col("censored")).as("n_events"),
        sum(col("censored")).as("n_censored"))
    // life-table windows: input is one row per distinct duration
    val wRisk = Window.orderBy(col("t_days").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wCum = Window.orderBy(col("t_days"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dur
      .withColumn("n_risk",
        sum(col("n_events") + col("n_censored")).over(wRisk))
      .withColumn("hazard_ppb",
        expr("CAST((n_events * 1000000000) DIV n_risk AS BIGINT)"))
      .withColumn("cum_hazard_ppb",
        sum(col("hazard_ppb")).over(wCum))
      .select(col("t_days"), col("n_risk"), col("n_events"),
        col("n_censored"), col("hazard_ppb"), col("cum_hazard_ppb"))
      .orderBy(col("t_days"))
  }

  /** Unrolled absorption rounds for q_events_attribution_markov — the
    * q_events_stationary fixed-iteration discipline (journeys longer
    * than 8 touches contribute negligibly, and the SAME rounding runs
    * in both engines so the output hash-matches regardless of
    * convergence). */
  val MarkovRounds = 8

  /** The touchpoint taxonomy for Markov attribution — configuration,
    * not data-derived: the oracle unrolls one removal variant per
    * channel, so the set must be static. Purchase is the conversion
    * event, never a channel. */
  val AttributionChannels = Seq("click", "error", "signup", "view")

  /** MARKOV REMOVAL-EFFECT ATTRIBUTION — the data-driven rung of the
    * attribution ladder above first/last-touch (q_events_attribution)
    * and position-free linear credit (q_events_attribution_credit):
    * build the first-order journey chain START → touches → CONV/NULL
    * (a purchase closes a journey; trailing touch-only journeys
    * absorb to NULL), compute the conversion probability from START,
    * then re-compute it with each channel REMOVED (its transitions
    * die to NULL) — a channel's credit is its normalized removal
    * effect 1 − P(conv | channel removed)/P(conv) (Anderl et al.
    * 2016's Markov graph attribution).
    *
    * All chain math is integer ppm with round-half-up division (the
    * q_events_stationary discipline) over MarkovRounds unrolled
    * absorption iterations — no float, hash-exact. Scale: the only
    * corpus-sized work is the journey windows (user-partitioned, the
    * sessionize shape) and ONE transition aggregate; the chain itself
    * is ≤ (channels+2)² rows, and every removal variant iterates on
    * that broadcast-sized matrix, localCheckpointed once. */
  def qEventsAttributionMarkov(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
    val ev = Tables.events(s, d)
      .withColumn("ts_us", unix_micros(col("ts")))
      .where(col("event_type")
        .isInCollection(AttributionChannels :+ "purchase"))
      .select(col("user_id"), col("event_id"), col("ts_us"),
        col("event_type"))
    // journey id = purchases BEFORE this event; the closing purchase
    // belongs to the journey it converts
    val j = ev.withColumn("journey",
      coalesce(sum(when(col("event_type") === "purchase", 1L)
        .otherwise(0L)).over(wPrev), lit(0L)))
    val wj = Window.partitionBy(col("user_id"), col("journey"))
      .orderBy(col("ts_us"), col("event_id"))
    val wjDesc = Window.partitionBy(col("user_id"), col("journey"))
      .orderBy(col("ts_us").desc, col("event_id").desc)
    val wjAll = Window.partitionBy(col("user_id"), col("journey"))
    val sq = j
      .withColumn("prev", lag(col("event_type"), 1).over(wj))
      .withColumn("rk_last", row_number().over(wjDesc))
      .withColumn("np_j",
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .over(wjAll))
    val trans = sq.select(
      coalesce(col("prev"), lit("START")).as("from_state"),
      when(col("event_type") === "purchase", lit("CONV"))
        .otherwise(col("event_type")).as("to_state"))
      .unionByName(sq
        .where(col("rk_last") === 1 && col("np_j") === 0L)
        .select(col("event_type").as("from_state"),
          lit("NULL").as("to_state")))
    val cnt = trans.groupBy(col("from_state"), col("to_state"))
      .agg(count(lit(1)).as("n"))
    val tot = cnt.groupBy(col("from_state")).agg(sum(col("n")).as("t"))
    val m = Materialize(cnt.join(tot, "from_state")
      .select(col("from_state"), col("to_state"),
        expr("CAST((2000000 * n + t) DIV (2 * t) AS BIGINT)").as("np")))

    // ALL removal variants iterate in ONE chain: the variant-tagged
    // matrices union into a single <=(1+|channels|)*(channels+2)^2 row
    // table and each absorption round is one join-aggregate keyed
    // (variant, state) -- 8 tiny stages total instead of 8 per variant
    // (5x fewer job waves; the per-variant arithmetic is unchanged, so
    // the oracle's per-variant CTE chains still hash-match)
    val variants = Seq("full" -> None) ++
      AttributionChannels.map(c => s"rm_$c" -> Some(c))
    val mAll = Materialize(variants.map { case (tag, rm) =>
      rm.map(c =>
        m.where(col("from_state") =!= c && col("to_state") =!= c))
        .getOrElse(m)
        .select(lit(tag).as("variant"), col("from_state"),
          col("to_state"), col("np"))
    }.reduce(_ unionByName _))
    def conv = variants.map { case (tag, _) => (tag, "CONV", 1000000L) }
      .toDF("variant", "st", "p")
    var p = conv
    for (_ <- 1 to MarkovRounds) {
      p = mAll.as("f")
        .join(p.as("pp"),
          col("f.variant") === col("pp.variant") &&
            col("f.to_state") === col("pp.st"), "left")
        .groupBy(col("f.variant"), col("f.from_state"))
        .agg(expr(
          "CAST((2 * SUM(np * COALESCE(p, 0)) + 1000000)" +
            " DIV 2000000 AS BIGINT)").as("p"))
        .select(col("variant"), col("from_state").as("st"), col("p"))
        .unionByName(conv)
    }
    val pStart = Materialize(p.where(col("st") === "START"))
    // close the scalar through a global aggregate so the planner can
    // PROVE maxRows=1 (the lint's broadcast-scalar-cross contract);
    // (full, START) appears exactly once, so max == the value
    val pFull = pStart.where(col("variant") === "full")
      .agg(max(col("p")).as("p_full_ppm"))
    val removed = pStart.where(col("variant") =!= "full")
      .select(expr("substring(variant, 4)").as("channel"),
        col("p").as("p_removed_ppm"))
    val re = removed.crossJoin(broadcast(pFull))
      .withColumn("removal_ppm",
        greatest(lit(1000000L) - expr(
          "CAST((1000000 * p_removed_ppm) DIV GREATEST(p_full_ppm, 1)" +
            " AS BIGINT)"), lit(0L)))
    val sumRe = re.agg(sum(col("removal_ppm")).as("sre"))
    re.crossJoin(broadcast(sumRe))
      .select(col("channel"), col("p_full_ppm"), col("p_removed_ppm"),
        col("removal_ppm"),
        expr("CAST((1000000 * removal_ppm) DIV GREATEST(sre, 1) AS BIGINT)")
          .as("credit_ppm"))
      .orderBy(col("channel"))
  }

  /** TIME-WEIGHTED AVERAGE VALUE (TWAP) per day — the duration-
    * weighted mean the OHLC family doesn't give: each event's value
    * holds from its own timestamp until the user's next event or the
    * end of the UTC day, whichever is sooner (values never carry
    * across the day boundary — a holding period is closed at
    * midnight, the standard daily-TWAP cut), and the day's TWAP is
    * Σ(value·held μs)/Σ(held μs).
    *
    * Exactness: values are exact integer cents (×100 round — the
    * Benford/Pareto money rule); weighted mass accumulates as
    * DECIMAL(38,0)/HUGEINT (cents×μs outgrows int64 at lake scale);
    * the close is one integer floor division to micro-value units
    * (cents×10⁴) — no float anywhere. hold_us stays BIGINT: bounded
    * by 86400·10⁶ × (users active that day), inside int64 below
    * ~10⁵ B user-days/day.
    *
    * Scale: ONE shuffle on user_id for the lead() (the sessionize
    * shape), then a map-side-combined per-day rollup; day boundaries
    * are pure integer arithmetic on epoch-μs (no calendar functions
    * in the hot path). */
  /** Hold-interval core of q_events_twap — one row per event with its
    * finalized holding duration. Exposed separately so the streaming
    * twin (EventsStream.twapStream) is spec-checked against the exact
    * batch semantics. */
  def twapHolds(ev0: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val dayUs = 86400000000L
    ev0
      .withColumn("ts_us", unix_micros(col("ts")))
      .select(col("user_id"), col("event_id"), col("ts_us"),
        to_date(col("ts")).as("day"),
        round(col("value") * 100).cast("long").as("val_c"))
      .withColumn("nxt", lead(col("ts_us"), 1).over(w))
      .withColumn("day_end",
        expr(s"(ts_us DIV $dayUs + 1) * $dayUs"))
      .withColumn("dt_us",
        least(coalesce(col("nxt"), col("day_end")), col("day_end"))
          - col("ts_us"))
      .select(col("user_id"), col("event_id"), col("day"), col("ts_us"),
        col("val_c"), col("dt_us"))
  }

  def qEventsTwap(s: SparkSession, d: String): DataFrame = {
    twapHolds(Tables.events(s, d))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("dt_us")).as("hold_us"),
        sum(col("val_c").cast("decimal(38,0)") * col("dt_us"))
          .as("mass"))
      .select(col("day"), col("n_events"), col("hold_us"),
        expr("CAST((mass * 10000) DIV GREATEST(hold_us, 1) AS BIGINT)")
          .as("twap_micro"))
      .orderBy(col("day"))
  }

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_events_attribution_markov" -> (qEventsAttributionMarkov _),
    "q_events_funnel_latency" -> (qEventsFunnelLatency _),
    "q_events_twap" -> (qEventsTwap _),
    "q_events_survival" -> (qEventsSurvival _),
    "q_session_native" -> (qSessionNative _),
    "q_interval_join" -> (qIntervalJoin _),
    "q_events_burstiness" -> (qEventsBurstiness _),
    "q_events_rate_limit" -> (qEventsRateLimit _),
    "q_events_attribution" -> (qEventsAttribution _),
    "q_events_attribution_credit" -> (qEventsAttributionCredit _),
    "q_feature_hash_sweep" -> (qFeatureHashSweep _),
    "q_events_hysteresis" -> (qEventsHysteresis _),
    "q_events_burnrate" -> (qEventsBurnrate _),
    "q_session_gap_sweep" -> (qSessionGapSweep _),
    "q_events_error_context" -> (qEventsErrorContext _),
    "q_events_paths" -> (qEventsPaths _),
    "q_events_percentiles" -> (qEventsPercentiles _),
    "q_events_hist_quantiles" -> (qEventsHistQuantiles _),
    "q_events_drift" -> (qEventsDrift _),
    "q_events_dwell" -> (qEventsDwell _),
    "q_events_forecast" -> (qEventsForecast _),
    "q_events_transitions" -> (qEventsTransitions _),
    "q_events_stationary" -> (qEventsStationary _),
    "q_events_ab_test" -> (qEventsAbTest _),
    "q_events_power" -> (qEventsPower _),
    "q_events_autocorr" -> (qEventsAutocorr _),
    "q_events_seasonality" -> (qEventsSeasonality _),
    "q_events_xcorr" -> (qEventsXcorr _),
    "q_events_changepoint" -> (qEventsChangepoint _),
    "q_events_cusum" -> (qEventsCusum _),
    "q_events_anomaly_robust" -> (qEventsAnomalyRobust _),
    "q_events_concurrency" -> (qEventsConcurrency _),
    "q_events_ewma" -> (qEventsEwma _),
    "q_events_gapfill" -> (qEventsGapfill _),
    "q_events_interpolate" -> (qEventsInterpolate _),
    "q_events_anomaly" -> (qEventsAnomaly _),
    "q_events_retention" -> (qEventsRetention _),
    "q_events_funnel" -> (qEventsFunnel _),
    "q_events_funnel_window" -> (qEventsFunnelWindow _),
    "q_events_tumbling" -> (qEventsTumbling _),
    "q_events_sessionize" -> (qEventsSessionize _),
    "q_events_json" -> (qEventsJson _),
    "q_events_topn_user" -> (qEventsTopnUser _),
    "q_asof_join" -> (qAsofJoin _),
    "q_asof_join_forward" -> (qAsofJoinForward _),
    "q_asof_join_nearest" -> (qAsofJoinNearest _),
    "q_events_ohlc" -> (qEventsOhlc _),
    "q_events_streaks" -> (qEventsStreaks _),
    "q_events_entropy" -> (qEventsEntropy _),
    "q_events_heatmap" -> (qEventsHeatmap _),
    "q_events_session_stats" -> (qEventsSessionStats _),
    "q_events_wau" -> (qEventsWau _),
    "q_events_cohort" -> (qEventsCohort _),
    "q_topk_heap" -> (qTopkHeap _),
    "q_range_join" -> (qRangeJoin _))

  /** DuckDB twin of qEventsStationary — the same ppm matrix and the
    * same unrolled integer power iteration. */
  private def stationaryOracle: String = {
    def round(k: Int): String =
      s"""p$k AS (
         |  SELECT m.to_type AS event_type,
         |    CAST((2 * SUM(p.pi * m.np) + 1000000) // 2000000 AS BIGINT)
         |      AS pi
         |  FROM p${k - 1} p JOIN m ON p.event_type = m.from_type
         |  GROUP BY 1)""".stripMargin
    s"""WITH pairs AS (
       |  SELECT user_id, event_type,
       |    LAG(event_type) OVER (PARTITION BY user_id
       |      ORDER BY epoch_us(ts), event_id) AS from_type
       |  FROM events),
       |cnt AS (
       |  SELECT from_type, event_type AS to_type, COUNT(*) AS n
       |  FROM pairs WHERE from_type IS NOT NULL GROUP BY 1, 2),
       |tot AS (
       |  SELECT from_type, CAST(SUM(n) AS BIGINT) AS t FROM cnt GROUP BY 1),
       |m AS (
       |  SELECT c.from_type, c.to_type,
       |    CAST((2000000 * c.n + t.t) // (2 * t.t) AS BIGINT) AS np
       |  FROM cnt c JOIN tot t USING (from_type)),
       |types AS (SELECT DISTINCT event_type FROM events),
       |nt AS (SELECT COUNT(*) AS k FROM types),
       |p0 AS (
       |  SELECT event_type, CAST(1000000 // k AS BIGINT) AS pi
       |  FROM types CROSS JOIN nt),
       |${(1 to StationaryRounds).map(round).mkString(",\n")}
       |SELECT t.event_type, COALESCE(p.pi, 0) / 1000000.0 AS pi
       |FROM types t LEFT JOIN p$StationaryRounds p USING (event_type)
       |ORDER BY t.event_type""".stripMargin
  }

  /** DuckDB twin of qEventsAttributionMarkov — the same journey chain
    * and the same MarkovRounds unrolled ppm absorption, one CTE chain
    * per removal variant, all GENERATED from the same constants. */
  private def markovOracle: String = {
    def variant(tag: String, filter: String): String = {
      val mCte =
        s"${tag}_m AS (SELECT from_state, to_state, np FROM m $filter)"
      val p0 =
        s"${tag}_p0 AS (SELECT 'CONV' AS st, CAST(1000000 AS BIGINT) AS p)"
      val rounds = (1 to MarkovRounds).map { k =>
        s"""${tag}_p$k AS (
           |  SELECT st, p FROM (
           |    SELECT f.from_state AS st,
           |      CAST((2 * SUM(f.np * COALESCE(p.p, 0)) + 1000000)
           |        // 2000000 AS BIGINT) AS p
           |    FROM ${tag}_m f LEFT JOIN ${tag}_p${k - 1} p
           |      ON p.st = f.to_state
           |    GROUP BY 1)
           |  UNION ALL SELECT 'CONV', CAST(1000000 AS BIGINT))""".stripMargin
      }
      (Seq(mCte, p0) ++ rounds).mkString(",\n")
    }
    val inList =
      (AttributionChannels :+ "purchase").map(c => s"'$c'").mkString(", ")
    val chains = (Seq("full" -> "") ++ AttributionChannels.map(c =>
      s"rm_$c" -> s"WHERE from_state <> '$c' AND to_state <> '$c'"))
      .map { case (t, f) => variant(t, f) }.mkString(",\n")
    val res = AttributionChannels.map(c =>
      s"SELECT '$c' AS channel, p AS p_removed FROM rm_${c}_p$MarkovRounds" +
        s" WHERE st = 'START'").mkString("\n  UNION ALL\n  ")
    s"""WITH ev AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type
       |  FROM events WHERE event_type IN ($inList)),
       |jn AS (
       |  SELECT *, COALESCE(SUM(CASE WHEN event_type = 'purchase'
       |      THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
       |      ORDER BY ts_us, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    AS journey
       |  FROM ev),
       |sq AS (
       |  SELECT user_id, journey, ts_us, event_id, event_type,
       |    LAG(event_type) OVER (PARTITION BY user_id, journey
       |      ORDER BY ts_us, event_id) AS prev,
       |    ROW_NUMBER() OVER (PARTITION BY user_id, journey
       |      ORDER BY ts_us DESC, event_id DESC) AS rk_last,
       |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY user_id, journey) AS np_j
       |  FROM jn),
       |trans AS (
       |  SELECT COALESCE(prev, 'START') AS from_state,
       |    CASE WHEN event_type = 'purchase' THEN 'CONV'
       |      ELSE event_type END AS to_state
       |  FROM sq
       |  UNION ALL
       |  SELECT event_type, 'NULL' FROM sq
       |  WHERE rk_last = 1 AND np_j = 0),
       |cnt AS (
       |  SELECT from_state, to_state, COUNT(*) AS n
       |  FROM trans GROUP BY 1, 2),
       |tt AS (SELECT from_state, SUM(n) AS t FROM cnt GROUP BY 1),
       |m AS (
       |  SELECT c.from_state, c.to_state,
       |    CAST((2000000 * c.n + t.t) // (2 * t.t) AS BIGINT) AS np
       |  FROM cnt c JOIN tt t USING (from_state)),
       |$chains,
       |pf AS (SELECT p AS p_full FROM full_p$MarkovRounds
       |  WHERE st = 'START'),
       |res AS (
       |  $res),
       |re AS (
       |  SELECT channel, pf.p_full AS p_full_ppm,
       |    p_removed AS p_removed_ppm,
       |    GREATEST(1000000 - CAST((1000000 * p_removed)
       |      // GREATEST(pf.p_full, 1) AS BIGINT), 0) AS removal_ppm
       |  FROM res CROSS JOIN pf),
       |sr AS (SELECT SUM(removal_ppm) AS sre FROM re)
       |SELECT channel, p_full_ppm, p_removed_ppm, removal_ppm,
       |  CAST((1000000 * removal_ppm) // GREATEST(sre, 1) AS BIGINT)
       |    AS credit_ppm
       |FROM re CROSS JOIN sr ORDER BY channel""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    "q_events_power" -> {
      val nsVals = PowerNs.map(n => s"(CAST($n AS BIGINT))").mkString(", ")
      // same exact moment sums, same shared z literal, same mirrored
      // IEEE close sequence
      s"""WITH b AS (
         |  SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS v
         |  FROM events),
         |m AS (
         |  SELECT event_type, COUNT(*) AS n_obs,
         |    SUM(CAST(v AS HUGEINT)) AS s1,
         |    SUM(CAST(v AS HUGEINT) * v) AS s2
         |  FROM b GROUP BY 1),
         |ns(n_arm) AS (VALUES $nsVals)
         |SELECT event_type, n_arm, n_obs,
         |  CASE WHEN n_obs > 1 THEN
         |    ROUND($PowerZSum * SQRT(
         |      ((CAST(s2 AS DOUBLE) -
         |        CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n_obs) /
         |        (n_obs - 1)) * 2.0 / n_arm) /
         |      (CAST(s1 AS DOUBLE) / n_obs) * 100.0, 6)
         |  END AS mde_pct
         |FROM m CROSS JOIN ns
         |ORDER BY event_type, n_arm""".stripMargin
    },
    "q_events_attribution_markov" -> markovOracle,
    "q_events_twap" ->
      // same integer-cents values, integer epoch-day boundary, exact
      // HUGEINT mass, and one floor division to micro-value units
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    CAST(ts AS DATE) AS day,
        |    CAST(ROUND(value * 100) AS BIGINT) AS val_c
        |  FROM events),
        |x AS (
        |  SELECT day, val_c, ts_us,
        |    LEAD(ts_us) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id) AS nxt,
        |    (ts_us // 86400000000 + 1) * 86400000000 AS day_end
        |  FROM e),
        |iv AS (
        |  SELECT day, val_c,
        |    LEAST(COALESCE(nxt, day_end), day_end) - ts_us AS dt_us
        |  FROM x)
        |SELECT day, COUNT(*) AS n_events,
        |  CAST(SUM(dt_us) AS BIGINT) AS hold_us,
        |  CAST((SUM(CAST(val_c AS HUGEINT) * dt_us) * 10000)
        |    // GREATEST(CAST(SUM(dt_us) AS HUGEINT), 1) AS BIGINT)
        |    AS twap_micro
        |FROM iv GROUP BY day ORDER BY day""".stripMargin,
    "q_events_survival" ->
      // Nelson–Aalen life table: same per-user lifetime/censor rule,
      // same descending risk-set prefix sum, same integer-ppb hazard
      // (both engines floor-divide nonnegative integers)
      """WITH pu AS (
        |  SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day,
        |    MAX(CAST(ts AS DATE)) AS last_day
        |  FROM events GROUP BY 1),
        |mx AS (SELECT MAX(CAST(ts AS DATE)) AS corpus_max FROM events),
        |fl AS (
        |  SELECT CAST(date_diff('day', first_day, last_day) AS BIGINT)
        |      AS t_days,
        |    CASE WHEN date_diff('day', last_day, corpus_max) < 7
        |      THEN 1 ELSE 0 END AS censored
        |  FROM pu CROSS JOIN mx),
        |dur AS (
        |  SELECT t_days, CAST(SUM(1 - censored) AS BIGINT) AS n_events,
        |    CAST(SUM(censored) AS BIGINT) AS n_censored
        |  FROM fl GROUP BY 1),
        |risk AS (
        |  SELECT t_days, n_events, n_censored,
        |    CAST(SUM(n_events + n_censored) OVER (ORDER BY t_days DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS n_risk
        |  FROM dur),
        |hz AS (
        |  SELECT t_days, n_risk, n_events, n_censored,
        |    CAST((n_events * 1000000000) // n_risk AS BIGINT)
        |      AS hazard_ppb
        |  FROM risk)
        |SELECT t_days, n_risk, n_events, n_censored, hazard_ppb,
        |  CAST(SUM(hazard_ppb) OVER (ORDER BY t_days
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_hazard_ppb
        |FROM hz ORDER BY t_days""".stripMargin,
    "q_events_burstiness" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
        |  FROM events),
        |g0 AS (
        |  SELECT event_type,
        |    (ts_us - LAG(ts_us) OVER (PARTITION BY user_id, event_type
        |       ORDER BY ts_us, event_id)) // 1000000 AS g
        |  FROM e),
        |g1 AS (SELECT event_type, g FROM g0 WHERE g IS NOT NULL),
        |s AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_gaps,
        |    SUM(CAST(g AS HUGEINT)) AS s1,
        |    SUM(CAST(g AS HUGEINT) * CAST(g AS HUGEINT)) AS s2
        |  FROM g1 GROUP BY 1),
        |d AS (
        |  SELECT event_type, n_gaps, CAST(n_gaps AS DOUBLE) AS nd,
        |    CAST(s1 AS DOUBLE) AS d1, CAST(s2 AS DOUBLE) AS d2
        |  FROM s),
        |m AS (
        |  SELECT event_type, n_gaps, d1 / nd AS mu,
        |    SQRT(GREATEST(d2 / nd - (d1 / nd) * (d1 / nd), 0.0)) AS sg
        |  FROM d)
        |SELECT event_type, n_gaps, ROUND(mu, 3) AS mean_gap_s,
        |  ROUND(sg, 3) AS sigma_gap_s,
        |  CASE WHEN mu > 0 THEN ROUND(sg / mu, 6) END AS cv,
        |  CASE WHEN sg + mu > 0
        |    THEN ROUND((sg - mu) / (sg + mu), 6) END AS burstiness
        |FROM m ORDER BY event_type""".stripMargin,
    // the sessionize CTE rolled up per session — session_window's
    // inclusive-end merge equals the strict-> split rule (spec-pinned)
    "q_session_native" ->
      """WITH marked AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts), 1) OVER
        |      (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |      > 600000000 THEN 1
        |      WHEN LAG(epoch_us(ts), 1) OVER
        |      (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |      IS NULL THEN 1 ELSE 0 END AS new_sess
        |  FROM events),
        |sids AS (
        |  SELECT user_id, ts_us,
        |    SUM(new_sess) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS session_id
        |  FROM marked)
        |SELECT user_id, MIN(ts_us) AS s_start_us,
        |  MAX(ts_us) AS s_end_us, COUNT(*) AS n_events
        |FROM sids GROUP BY user_id, session_id
        |ORDER BY user_id, s_start_us""".stripMargin,
    // brute-force theta overlap join — correct at oracle scale; the
    // Spark side must produce the identical rollup through the band
    "q_interval_join" ->
      """WITH marked AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts), 1) OVER
        |      (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |      > 600000000 THEN 1
        |      WHEN LAG(epoch_us(ts), 1) OVER
        |      (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |      IS NULL THEN 1 ELSE 0 END AS new_sess
        |  FROM events),
        |sids AS (
        |  SELECT user_id, ts_us,
        |    SUM(new_sess) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS session_id
        |  FROM marked),
        |sess AS (
        |  SELECT user_id, session_id, MIN(ts_us) AS s_start,
        |    MAX(ts_us) AS s_end
        |  FROM sids GROUP BY 1, 2),
        |ph AS (
        |  SELECT epoch_us(ts) - epoch_us(ts) % 3600000000 AS b,
        |    COUNT(*) AS c
        |  FROM events GROUP BY 1),
        |t AS (SELECT CAST(percentile_disc(0.75)
        |  WITHIN GROUP (ORDER BY c) AS BIGINT) AS t FROM ph),
        |m AS (
        |  SELECT b, c,
        |    CASE WHEN b - LAG(b) OVER (ORDER BY b) = 3600000000
        |      THEN 0 ELSE 1 END AS new_ep
        |  FROM ph CROSS JOIN t WHERE c > t.t),
        |ei AS (
        |  SELECT b, c, SUM(new_ep) OVER (ORDER BY b
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ep
        |  FROM m),
        |eps AS (
        |  SELECT ep, MIN(b) AS e_start, MAX(b) + 3599999999 AS e_end,
        |    COUNT(*) AS n_hours, CAST(MAX(c) AS BIGINT) AS peak
        |  FROM ei GROUP BY 1),
        |hits AS (
        |  SELECT e_start, COUNT(*) AS n_sessions,
        |    COUNT(DISTINCT user_id) AS n_users,
        |    CAST(SUM(LEAST(s_end, e_end) - GREATEST(s_start, e_start)
        |      + 1) AS BIGINT) AS overlap_us
        |  FROM sess JOIN eps
        |    ON s_start <= e_end AND e_start <= s_end
        |  GROUP BY 1)
        |SELECT e_start, e_end, n_hours, peak,
        |  COALESCE(n_sessions, 0) AS n_sessions,
        |  COALESCE(n_users, 0) AS n_users,
        |  COALESCE(overlap_us, 0) AS overlap_us
        |FROM eps LEFT JOIN hits USING (e_start)
        |ORDER BY e_start""".stripMargin,
    "q_events_rate_limit" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us
        |  FROM events),
        |v AS (
        |  SELECT event_type, user_id,
        |    COUNT(*) OVER (PARTITION BY user_id ORDER BY ts_us
        |      RANGE BETWEEN 59999999 PRECEDING AND CURRENT ROW) AS c60
        |  FROM e),
        |v2 AS (
        |  SELECT event_type, user_id, c60,
        |    CASE WHEN c60 > 5 THEN 1 ELSE 0 END AS throttled FROM v),
        |pt AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |    CAST(SUM(throttled) AS BIGINT) AS n_throttled,
        |    CAST(MAX(c60) AS BIGINT) AS max_c60
        |  FROM v2 GROUP BY 1),
        |us AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users,
        |    CAST(SUM(hit) AS BIGINT) AS n_users_throttled
        |  FROM (SELECT event_type, user_id, MAX(throttled) AS hit
        |        FROM v2 GROUP BY 1, 2) GROUP BY 1)
        |SELECT pt.event_type, n_events, n_throttled,
        |  (1000000 * n_throttled) // n_events AS throttle_ppm,
        |  max_c60, n_users, n_users_throttled
        |FROM pt JOIN us USING (event_type)
        |ORDER BY pt.event_type""".stripMargin,
    "q_events_attribution" ->
      s"""WITH e AS (
         |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
         |  FROM events),
         |w AS (
         |  SELECT *,
         |    MIN(CASE WHEN event_type = 'click' THEN ts_us END)
         |      OVER look AS first_click_us,
         |    MAX(CASE WHEN event_type = 'click' THEN ts_us END)
         |      OVER look AS last_click_us,
         |    COUNT(CASE WHEN event_type = 'click' THEN ts_us END)
         |      OVER look AS n_clicks_win
         |  FROM e
         |  WINDOW look AS (PARTITION BY user_id ORDER BY ts_us
         |    RANGE BETWEEN $AttrWindowUs PRECEDING AND CURRENT ROW))
         |SELECT event_id, user_id, ts_us,
         |  first_click_us, last_click_us, n_clicks_win
         |FROM w WHERE event_type = 'purchase'
         |ORDER BY event_id""".stripMargin,
    "q_events_attribution_credit" ->
      s"""WITH e AS (
         |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
         |  FROM events),
         |w AS (
         |  SELECT *,
         |    COUNT(CASE WHEN event_type = 'click' THEN ts_us END)
         |      OVER look AS n
         |  FROM e
         |  WINDOW look AS (PARTITION BY user_id ORDER BY ts_us
         |    RANGE BETWEEN $AttrWindowUs PRECEDING AND CURRENT ROW)),
         |p AS (
         |  SELECT event_id AS p_id, user_id, ts_us AS p_ts, n FROM w
         |  WHERE event_type = 'purchase' AND n > 0),
         |c AS (
         |  SELECT event_id AS c_id, user_id, ts_us AS c_ts FROM e
         |  WHERE event_type = 'click'),
         |j AS (
         |  SELECT p.p_id, p.n, c.c_id,
         |    ROW_NUMBER() OVER (PARTITION BY p.p_id
         |      ORDER BY c.c_ts, c.c_id) AS rn
         |  FROM p JOIN c ON p.user_id = c.user_id
         |    AND c.c_ts <= p.p_ts AND c.c_ts >= p.p_ts - $AttrWindowUs),
         |agg AS (
         |  SELECT c_id,
         |    CAST(SUM((1000000 * rn) // n - (1000000 * (rn - 1)) // n)
         |      AS BIGINT) AS credit_ppm,
         |    COUNT(*) AS n_conversions
         |  FROM j GROUP BY 1)
         |SELECT c.c_id AS event_id, c.user_id,
         |  COALESCE(a.n_conversions, 0) AS n_conversions,
         |  COALESCE(a.credit_ppm, 0) AS credit_ppm
         |FROM c LEFT JOIN agg a USING (c_id)
         |ORDER BY event_id""".stripMargin,
    "q_session_gap_sweep" -> {
      val conds = SessionGapSeconds.zipWithIndex.map { case (g, i) =>
        val us = g * 1000000L
        s"""SUM(CASE WHEN gap_us IS NULL OR gap_us > $us
           |      THEN 1 ELSE 0 END) AS s$i,
           |    SUM(CASE WHEN gap_us IS NOT NULL AND gap_us <= $us
           |      THEN gap_us ELSE 0 END) AS a$i""".stripMargin
      }.mkString(",\n    ")
      val rows = SessionGapSeconds.zipWithIndex.map { case (g, i) =>
        s"""SELECT CAST($g AS BIGINT) AS gap_seconds,
           |  CAST(n_events AS BIGINT) AS n_events,
           |  CAST(s$i AS BIGINT) AS n_sessions,
           |  CAST((1000000 * n_events) // s$i AS BIGINT)
           |    AS events_per_session_ppm,
           |  CAST(a$i // 1000000 AS BIGINT) AS total_active_s
           |FROM agg""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH deltas AS (
         |  SELECT epoch_us(ts) - LAG(epoch_us(ts), 1) OVER (
         |    PARTITION BY user_id
         |    ORDER BY epoch_us(ts), event_id) AS gap_us
         |  FROM events),
         |agg AS (
         |  SELECT COUNT(*) AS n_events,
         |    $conds
         |  FROM deltas)
         |$rows
         |ORDER BY gap_seconds""".stripMargin
    },
    "q_events_hysteresis" ->
      """WITH ph AS (
        |  SELECT event_type,
        |    (epoch_us(ts) // 3600000000) * 3600000000 AS b,
        |    COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |bounds AS (SELECT MIN(b) AS lo, MAX(b) AS hi FROM ph),
        |grid AS (
        |  SELECT UNNEST(GENERATE_SERIES(lo, hi, 3600000000)) AS b FROM bounds),
        |types AS (SELECT DISTINCT event_type FROM ph),
        |dense AS (
        |  SELECT t.event_type, g.b, COALESCE(ph.c, 0) AS x
        |  FROM grid g CROSS JOIN types t
        |  LEFT JOIN ph ON ph.event_type = t.event_type AND ph.b = g.b),
        |thr AS (
        |  SELECT event_type,
        |    CAST(PERCENTILE_DISC(0.9) WITHIN GROUP (ORDER BY x)
        |      AS BIGINT) AS hi,
        |    CAST(PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY x)
        |      AS BIGINT) AS lo
        |  FROM dense GROUP BY 1),
        |st0 AS (
        |  SELECT d.event_type, d.b, d.x, t.hi, t.lo,
        |    CASE WHEN d.x > t.hi THEN 1 WHEN d.x < t.lo THEN 0 END AS raw
        |  FROM dense d JOIN thr t USING (event_type)),
        |st1 AS (
        |  SELECT *, COALESCE(LAST_VALUE(raw IGNORE NULLS) OVER (
        |    PARTITION BY event_type ORDER BY b
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS state
        |  FROM st0),
        |st2 AS (
        |  SELECT *, CASE WHEN state = 1 AND COALESCE(LAG(state) OVER (
        |    PARTITION BY event_type ORDER BY b), 0) = 0
        |    THEN 1 ELSE 0 END AS open
        |  FROM st1),
        |st AS (
        |  SELECT *, SUM(open) OVER (PARTITION BY event_type ORDER BY b
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM st2),
        |tot AS (
        |  SELECT event_type, MAX(hi) AS hi, MAX(lo) AS lo,
        |    COUNT(*) AS n_hours,
        |    CAST(SUM(open) AS BIGINT) AS n_episodes,
        |    CAST(SUM(state) AS BIGINT) AS alert_hours
        |  FROM st GROUP BY 1),
        |ml AS (
        |  SELECT event_type, MAX(len) AS max_episode_hours FROM (
        |    SELECT event_type, island, COUNT(*) AS len FROM st
        |    WHERE state = 1 GROUP BY 1, 2) GROUP BY 1)
        |SELECT t.event_type, t.hi, t.lo, t.n_hours, t.n_episodes,
        |  t.alert_hours,
        |  COALESCE(ml.max_episode_hours, 0) AS max_episode_hours,
        |  CAST((1000000 * t.alert_hours) // t.n_hours AS BIGINT)
        |    AS alert_share_ppm
        |FROM tot t LEFT JOIN ml USING (event_type)
        |ORDER BY event_type""".stripMargin,
    "q_events_burnrate" ->
      s"""WITH hourly AS (
         |  SELECT date_trunc('hour', ts) AS bucket, COUNT(*) AS n_1h,
         |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS err_1h
         |  FROM events GROUP BY 1),
         |w AS (
         |  SELECT bucket, n_1h, err_1h,
         |    CAST(SUM(n_1h) OVER look AS BIGINT) AS n_6h,
         |    CAST(SUM(err_1h) OVER look AS BIGINT) AS err_6h
         |  FROM hourly
         |  WINDOW look AS (ORDER BY epoch_us(bucket)
         |    RANGE BETWEEN 18000000000 PRECEDING AND CURRENT ROW))
         |SELECT bucket, n_1h, err_1h,
         |  CAST((1000000 * err_1h) // n_1h AS BIGINT) AS rate_1h_ppm,
         |  n_6h, err_6h,
         |  CAST((1000000 * err_6h) // n_6h AS BIGINT) AS rate_6h_ppm,
         |  ((1000000 * err_1h) // n_1h >= $BurnThresholdPpm
         |    AND (1000000 * err_6h) // n_6h >= $BurnThresholdPpm) AS page
         |FROM w ORDER BY bucket""".stripMargin,
    "q_feature_hash_sweep" -> {
      val sizeVals = FeatureHashSizes.map(z => s"($z)").mkString(", ")
      s"""WITH feats AS (
         |  SELECT DISTINCT event_type || ':' || CAST(HOUR(ts) AS VARCHAR)
         |    AS feature
         |  FROM events),
         |h AS (
         |  SELECT CAST(CONCAT('0x',
         |    SUBSTR(MD5(CONCAT('fh:', feature)), 1, 8)) AS BIGINT) AS h
         |  FROM feats),
         |sizes(hash_size) AS (VALUES $sizeVals),
         |loads AS (
         |  SELECT s.hash_size, h.h % s.hash_size AS bucket,
         |    COUNT(*) AS load
         |  FROM h CROSS JOIN sizes s GROUP BY 1, 2)
         |SELECT hash_size, CAST(SUM(load) AS BIGINT) AS n_features,
         |  COUNT(*) AS n_buckets_used,
         |  CAST(SUM(CASE WHEN load >= 2 THEN load ELSE 0 END) AS BIGINT)
         |    AS n_collided
         |FROM loads GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "q_events_error_context" ->
      s"""WITH ev AS (
         |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type
         |  FROM events),
         |err AS (
         |  SELECT event_id AS e_id, ts_us AS e_ts FROM ev
         |  WHERE event_type = 'error'),
         |agg AS (
         |  SELECT e.e_id, COUNT(*) AS n_nearby,
         |    COUNT(DISTINCT v.user_id) AS n_users
         |  FROM err e JOIN ev v
         |    ON ABS(e.e_ts - v.ts_us) <= $ErrCtxRadiusUs
         |    AND v.event_id <> e.e_id
         |  GROUP BY 1)
         |SELECT e.e_id AS event_id,
         |  COALESCE(a.n_nearby, 0) AS n_nearby,
         |  COALESCE(a.n_users, 0) AS n_users
         |FROM err e LEFT JOIN agg a USING (e_id)
         |ORDER BY event_id""".stripMargin,
    "q_events_drift" ->
      """WITH ev AS (
        |  SELECT event_type, epoch_us(ts) AS ts_us, value FROM events
        |  WHERE value IS NOT NULL),
        |ext AS (
        |  SELECT event_type, MIN(ts_us) AS t_lo, MAX(ts_us) AS t_hi,
        |    MIN(value) AS v_lo, MAX(value) AS v_hi
        |  FROM ev GROUP BY 1),
        |b AS (
        |  SELECT ev.event_type,
        |    CASE WHEN ts_us <= CAST((t_lo + t_hi) // 2 AS BIGINT)
        |      THEN 1 ELSE 2 END AS half,
        |    CASE WHEN v_hi > v_lo
        |      THEN LEAST(CAST(FLOOR((value - v_lo) / (v_hi - v_lo) * 10)
        |        AS INTEGER), 9)
        |      ELSE 0 END AS bucket
        |  FROM ev JOIN ext USING (event_type)),
        |cells AS (
        |  SELECT event_type, bucket,
        |    CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS o1,
        |    CAST(SUM(CASE WHEN half = 2 THEN 1 ELSE 0 END) AS BIGINT) AS o2
        |  FROM b GROUP BY 1, 2),
        |tot AS (
        |  SELECT event_type, CAST(SUM(o1) AS BIGINT) AS n1,
        |    CAST(SUM(o2) AS BIGINT) AS n2
        |  FROM cells GROUP BY 1),
        |terms AS (
        |  SELECT c.event_type, t.n1, t.n2,
        |    CAST(ROUND(
        |      CASE WHEN t.n1 > 0 THEN
        |        (c.o1 - (c.o1 + c.o2) * CAST(t.n1 AS DOUBLE) / (t.n1 + t.n2)) *
        |        (c.o1 - (c.o1 + c.o2) * CAST(t.n1 AS DOUBLE) / (t.n1 + t.n2)) /
        |        ((c.o1 + c.o2) * CAST(t.n1 AS DOUBLE) / (t.n1 + t.n2))
        |      ELSE 0.0 END +
        |      CASE WHEN t.n2 > 0 THEN
        |        (c.o2 - (c.o1 + c.o2) * CAST(t.n2 AS DOUBLE) / (t.n1 + t.n2)) *
        |        (c.o2 - (c.o1 + c.o2) * CAST(t.n2 AS DOUBLE) / (t.n1 + t.n2)) /
        |        ((c.o1 + c.o2) * CAST(t.n2 AS DOUBLE) / (t.n1 + t.n2))
        |      ELSE 0.0 END, 6) AS DECIMAL(18,6)) AS t6
        |  FROM cells c JOIN tot t USING (event_type))
        |SELECT event_type, n1, n2, COUNT(*) AS n_buckets,
        |  CAST(SUM(t6) AS DOUBLE) AS chi2
        |FROM terms GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin,
    "q_events_dwell" ->
      """WITH g AS (
        |  SELECT event_type,
        |    epoch_us(ts) - LAG(epoch_us(ts)) OVER (
        |      PARTITION BY user_id, event_type
        |      ORDER BY epoch_us(ts), event_id) AS gap_us
        |  FROM events),
        |gg AS (SELECT event_type, gap_us FROM g WHERE gap_us IS NOT NULL)
        |SELECT event_type, COUNT(*) AS n_gaps,
        |  CAST((2 * SUM(gap_us) + COUNT(*)) //
        |    (2 * COUNT(*)) AS BIGINT) / 1000000.0 AS mean_gap_s,
        |  CAST(PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY gap_us)
        |    AS BIGINT) AS p50_us,
        |  CAST(PERCENTILE_DISC(0.95) WITHIN GROUP (ORDER BY gap_us)
        |    AS BIGINT) AS p95_us
        |FROM gg GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_events_forecast" ->
      """WITH ph AS (
        |  SELECT event_type,
        |    (epoch_us(ts) // 3600000000) * 3600000000 AS b,
        |    COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |bounds AS (SELECT MIN(b) AS lo, MAX(b) AS hi FROM ph),
        |grid AS (
        |  SELECT UNNEST(GENERATE_SERIES(lo, hi, 3600000000)) AS b FROM bounds),
        |types AS (SELECT DISTINCT event_type FROM ph),
        |dense AS (
        |  SELECT t.event_type, g.b, COALESCE(ph.c, 0) AS x
        |  FROM grid g CROSS JOIN types t
        |  LEFT JOIN ph ON ph.event_type = t.event_type AND ph.b = g.b),
        |scored AS (
        |  SELECT event_type, x, ABS(x - pred) AS ae FROM (
        |    SELECT event_type, x,
        |      LAG(x, 24) OVER (PARTITION BY event_type ORDER BY b) AS pred
        |    FROM dense) WHERE pred IS NOT NULL),
        |agg AS (
        |  SELECT event_type, COUNT(*) AS n_eval,
        |    CAST(SUM(ae) AS BIGINT) AS sae,
        |    CAST(SUM(CASE WHEN x > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |    CAST(SUM(CASE WHEN x > 0
        |      THEN (2000000 * ae + x) // (2 * x) ELSE 0 END) AS BIGINT)
        |      AS spe_ppm
        |  FROM scored GROUP BY 1)
        |SELECT event_type, n_eval, n_pos,
        |  CAST((2000000 * sae + n_eval) // (2 * n_eval) AS BIGINT)
        |    / 1000000.0 AS mae,
        |  CASE WHEN n_pos > 0 THEN
        |    CAST((2 * spe_ppm + n_pos) // (2 * n_pos) AS BIGINT) / 1000000.0
        |  END AS mape
        |FROM agg ORDER BY event_type""".stripMargin,
    "q_events_stationary" -> stationaryOracle,
    "q_events_ab_test" ->
      """WITH pu AS (
        |  SELECT user_id % 2 AS arm,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS conv
        |  FROM events GROUP BY user_id),
        |agg AS (
        |  SELECT
        |    COUNT(CASE WHEN arm = 0 THEN 1 END) AS n_a,
        |    CAST(SUM(CASE WHEN arm = 0 THEN conv END) AS BIGINT) AS c_a,
        |    COUNT(CASE WHEN arm = 1 THEN 1 END) AS n_b,
        |    CAST(SUM(CASE WHEN arm = 1 THEN conv END) AS BIGINT) AS c_b
        |  FROM pu)
        |SELECT n_a, c_a, n_b, c_b,
        |  CASE WHEN n_a > 0 THEN
        |    CAST((2000000 * c_a + n_a) // (2 * n_a) AS BIGINT) / 1000000.0
        |    END AS rate_a,
        |  CASE WHEN n_b > 0 THEN
        |    CAST((2000000 * c_b + n_b) // (2 * n_b) AS BIGINT) / 1000000.0
        |    END AS rate_b,
        |  CASE WHEN c_a + c_b > 0 AND c_a + c_b < n_a + n_b
        |      AND n_a > 0 AND n_b > 0 THEN
        |  ROUND((CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)
        |    / SQRT((CAST(c_a AS DOUBLE) + c_b)
        |        / (CAST(n_a AS DOUBLE) + n_b)
        |      * (1.0 - (CAST(c_a AS DOUBLE) + c_b)
        |        / (CAST(n_a AS DOUBLE) + n_b))
        |      * (1.0 / n_a + 1.0 / n_b)), 6) END AS z_score
        |FROM agg""".stripMargin,
    "q_events_transitions" ->
      """WITH lagged AS (
        |  SELECT user_id, event_type,
        |    LAG(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS from_type
        |  FROM events),
        |matrix AS (
        |  SELECT from_type, event_type AS to_type, COUNT(*) AS n
        |  FROM lagged WHERE from_type IS NOT NULL GROUP BY 1, 2),
        |totals AS (
        |  SELECT from_type, CAST(SUM(n) AS BIGINT) AS total_from
        |  FROM matrix GROUP BY 1)
        |SELECT m.from_type, m.to_type, m.n, t.total_from,
        |  CAST((2000000 * m.n + t.total_from) // (2 * t.total_from)
        |    AS BIGINT) / 1000000.0 AS prob
        |FROM matrix m JOIN totals t USING (from_type)
        |ORDER BY m.from_type, m.to_type""".stripMargin,
    "q_events_seasonality" ->
      """WITH ph AS (
        |  SELECT event_type,
        |    (epoch_us(ts) // 3600000000) * 3600000000 AS b,
        |    COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |bounds AS (SELECT MIN(b) AS lo, MAX(b) AS hi FROM ph),
        |grid AS (
        |  SELECT UNNEST(GENERATE_SERIES(lo, hi, 3600000000)) AS b FROM bounds),
        |types AS (SELECT DISTINCT event_type FROM ph),
        |dense AS (
        |  SELECT t.event_type, g.b, COALESCE(ph.c, 0) AS x
        |  FROM grid g CROSS JOIN types t
        |  LEFT JOIN ph ON ph.event_type = t.event_type AND ph.b = g.b),
        |byhour AS (
        |  SELECT event_type, CAST((b // 3600000000) % 24 AS INT) AS h,
        |    COUNT(*) AS n_h, CAST(SUM(x) AS BIGINT) AS s_h,
        |    CAST(SUM(x * x) AS BIGINT) AS ss_h
        |  FROM dense GROUP BY 1, 2),
        |tot AS (
        |  SELECT event_type, h, n_h, s_h, ss_h,
        |    CAST(SUM(n_h) OVER wt AS BIGINT) AS n,
        |    CAST(SUM(s_h) OVER wt AS BIGINT) AS s,
        |    CAST(SUM(ss_h) OVER wt AS BIGINT) AS ss
        |  FROM byhour WINDOW wt AS (PARTITION BY event_type)),
        |q AS (
        |  SELECT event_type, h, n_h, n, s, ss,
        |    CAST(ROUND(CAST(s_h AS DOUBLE) / n_h, 6) AS DECIMAL(18,6))
        |      AS mean_h,
        |    CAST(ROUND(CAST(s AS DOUBLE) / n, 6) AS DECIMAL(18,6)) AS mean
        |  FROM tot),
        |q2 AS (
        |  SELECT event_type, h, n, s, ss, mean_h,
        |    CAST(ROUND(n_h * (CAST(mean_h AS DOUBLE) - CAST(mean AS DOUBLE))
        |      * (CAST(mean_h AS DOUBLE) - CAST(mean AS DOUBLE)), 6)
        |      AS DECIMAL(18,6)) AS term,
        |    MAX(mean_h) OVER (PARTITION BY event_type) AS mh_max
        |  FROM q)
        |SELECT event_type, MAX(n) AS n_hours,
        |  CASE WHEN CAST(MAX(n) * MAX(ss) - MAX(s) * MAX(s) AS DOUBLE) > 0
        |    THEN ROUND(CAST(SUM(term) AS DOUBLE) * MAX(n)
        |      / CAST(MAX(n) * MAX(ss) - MAX(s) * MAX(s) AS DOUBLE), 6)
        |  END AS seasonal_strength,
        |  MIN(CASE WHEN mean_h = mh_max THEN h END) AS peak_hour,
        |  CAST(MAX(mh_max) AS DOUBLE) AS peak_mean
        |FROM q2 GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q_events_xcorr" ->
      """WITH ph AS (
        |  SELECT event_type,
        |    (epoch_us(ts) // 3600000000) * 3600000000 AS b,
        |    COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |bounds AS (SELECT MIN(b) AS lo, MAX(b) AS hi FROM ph),
        |grid AS (
        |  SELECT UNNEST(GENERATE_SERIES(lo, hi, 3600000000)) AS b FROM bounds),
        |types AS (SELECT DISTINCT event_type FROM ph),
        |dense AS (
        |  SELECT t.event_type, g.b, COALESCE(ph.c, 0) AS x
        |  FROM grid g CROSS JOIN types t
        |  LEFT JOIN ph ON ph.event_type = t.event_type AND ph.b = g.b),
        |sh AS (
        |  SELECT event_type AS tb, x AS y, lag,
        |    b - lag * 3600000000 AS b2
        |  FROM (
        |    SELECT event_type, x, b,
        |      UNNEST(GENERATE_SERIES(-3, 3)) AS lag
        |    FROM dense)),
        |j AS (
        |  SELECT a.event_type AS ta, s.tb, s.lag, a.x, s.y
        |  FROM dense a JOIN sh s ON a.b = s.b2
        |  WHERE a.event_type < s.tb),
        |sums AS (
        |  SELECT ta, tb, lag, COUNT(*) AS n_pairs,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x * y) AS BIGINT) AS sxy,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx,
        |    CAST(SUM(y * y) AS BIGINT) AS syy
        |  FROM j GROUP BY 1, 2, 3)
        |SELECT ta AS type_a, tb AS type_b, lag, n_pairs,
        |  CASE WHEN n_pairs * sxx - sx * sx > 0 AND n_pairs * syy - sy * sy > 0
        |    THEN ROUND(CAST(n_pairs * sxy - sx * sy AS DOUBLE) /
        |      (SQRT(CAST(n_pairs * sxx - sx * sx AS DOUBLE)) *
        |       SQRT(CAST(n_pairs * syy - sy * sy AS DOUBLE))), 6)
        |  END AS r
        |FROM sums ORDER BY type_a, type_b, lag""".stripMargin,
    "q_events_autocorr" ->
      """WITH ph AS (
        |  SELECT event_type,
        |    (epoch_us(ts) // 3600000000) * 3600000000 AS b,
        |    COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |bounds AS (SELECT MIN(b) AS lo, MAX(b) AS hi FROM ph),
        |grid AS (
        |  SELECT UNNEST(GENERATE_SERIES(lo, hi, 3600000000)) AS b FROM bounds),
        |types AS (SELECT DISTINCT event_type FROM ph),
        |dense AS (
        |  SELECT t.event_type, g.b, COALESCE(ph.c, 0) AS x
        |  FROM grid g CROSS JOIN types t
        |  LEFT JOIN ph ON ph.event_type = t.event_type AND ph.b = g.b),
        |lagged AS (
        |  SELECT event_type, b, x,
        |    LAG(x, 1) OVER w AS y1, LAG(x, 2) OVER w AS y2,
        |    LAG(x, 3) OVER w AS y3
        |  FROM dense WINDOW w AS (PARTITION BY event_type ORDER BY b)),
        |pairs AS (
        |  SELECT event_type, 1 AS lag, x, y1 AS y FROM lagged WHERE y1 IS NOT NULL
        |  UNION ALL
        |  SELECT event_type, 2, x, y2 FROM lagged WHERE y2 IS NOT NULL
        |  UNION ALL
        |  SELECT event_type, 3, x, y3 FROM lagged WHERE y3 IS NOT NULL),
        |sums AS (
        |  SELECT event_type, lag, COUNT(*) AS n_pairs,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x * y) AS BIGINT) AS sxy,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx,
        |    CAST(SUM(y * y) AS BIGINT) AS syy
        |  FROM pairs GROUP BY 1, 2)
        |SELECT event_type, lag, n_pairs,
        |  CASE WHEN n_pairs * sxx - sx * sx > 0 AND n_pairs * syy - sy * sy > 0
        |    THEN ROUND(CAST(n_pairs * sxy - sx * sy AS DOUBLE) /
        |      (SQRT(CAST(n_pairs * sxx - sx * sx AS DOUBLE)) *
        |       SQRT(CAST(n_pairs * syy - sy * sy AS DOUBLE))), 6)
        |  END AS r
        |FROM sums ORDER BY event_type, lag""".stripMargin,
    "q_events_changepoint" ->
      """WITH rollup AS (
        |  SELECT event_type,
        |    (epoch_us(ts) // 3600000000) * 3600000000 AS b,
        |    SUM(CAST(value AS DECIMAL(18,4))) AS sv
        |  FROM events GROUP BY 1, 2),
        |fr AS (
        |  SELECT event_type, b,
        |    CAST(SUM(sv) OVER wp AS DOUBLE) / COUNT(*) OVER wp AS mp,
        |    COUNT(*) OVER wp AS n_prev,
        |    CAST(SUM(sv) OVER wn AS DOUBLE) / COUNT(*) OVER wn AS mn,
        |    COUNT(*) OVER wn AS n_next
        |  FROM rollup
        |  WINDOW wp AS (PARTITION BY event_type ORDER BY b
        |      ROWS BETWEEN 12 PRECEDING AND 1 PRECEDING),
        |    wn AS (PARTITION BY event_type ORDER BY b
        |      ROWS BETWEEN 1 FOLLOWING AND 12 FOLLOWING))
        |SELECT event_type, make_timestamp(b) AS bucket_start,
        |  ROUND(mp, 6) AS mean_prev, ROUND(mn, 6) AS mean_next,
        |  ROUND(ABS(mn - mp), 6) AS shift
        |FROM fr
        |WHERE n_prev = 12 AND n_next = 12 AND ROUND(ABS(mn - mp), 6) > 50.0
        |ORDER BY event_type, bucket_start""".stripMargin,
    "q_events_funnel_window" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |w1 AS (
        |  SELECT user_id, event_type, ts_us,
        |    MIN(CASE WHEN event_type = 'view' THEN ts_us END)
        |      OVER wu AS tv
        |  FROM ev WINDOW wu AS (PARTITION BY user_id)),
        |w2 AS (
        |  SELECT user_id, event_type, ts_us, tv,
        |    MIN(CASE WHEN event_type = 'click' AND ts_us > tv
        |      AND ts_us <= tv + 3600000000 THEN ts_us END)
        |      OVER wu AS tc
        |  FROM w1 WINDOW wu AS (PARTITION BY user_id)),
        |w3 AS (
        |  SELECT user_id, tv, tc,
        |    MIN(CASE WHEN event_type = 'purchase' AND ts_us > tc
        |      AND ts_us <= tc + 3600000000 THEN ts_us END)
        |      OVER wu AS tp
        |  FROM w2 WINDOW wu AS (PARTITION BY user_id)),
        |pu AS (
        |  SELECT user_id, MAX(tv) AS tv, MAX(tc) AS tc, MAX(tp) AS tp
        |  FROM w3 GROUP BY 1)
        |SELECT COUNT(*) AS n_users, COUNT(tv) AS n_view,
        |  COUNT(tc) AS n_click_1h, COUNT(tp) AS n_purchase_1h,
        |  ROUND(CAST(COUNT(tc) AS DOUBLE) / COUNT(tv), 6)
        |    AS view_to_click,
        |  ROUND(CAST(COUNT(tp) AS DOUBLE) / COUNT(tc), 6)
        |    AS click_to_purchase
        |FROM pu""".stripMargin,
    // window-formulation twin of the conditional-count plan: absent
    // (empty) buckets drop out of the grouped form, but cum − c there
    // equals the array-form cumulative-before, and the crossing
    // bucket always has c > 0, so the interpolation arithmetic is
    // the identical fixed IEEE sequence
    "q_events_hist_quantiles" ->
      """WITH b AS (
        |  SELECT event_type,
        |    LEAST(GREATEST(CAST(FLOOR((value - 0.0) / 20.0) AS INT), 0),
        |      24) AS bk
        |  FROM events WHERE value IS NOT NULL),
        |c AS (SELECT event_type, bk, COUNT(*) AS c FROM b GROUP BY 1, 2),
        |cum AS (
        |  SELECT event_type, bk, c,
        |    CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY bk)
        |      AS BIGINT) AS cum,
        |    CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS total
        |  FROM c),
        |ps AS (SELECT UNNEST([0.5, 0.95, 0.99]) AS p),
        |hit AS (
        |  SELECT event_type, p, total, bk, c, cum - c AS cumprev,
        |    ROW_NUMBER() OVER (PARTITION BY event_type, p ORDER BY bk)
        |      AS rn
        |  FROM cum CROSS JOIN ps
        |  WHERE cum >= p * total),
        |est AS (
        |  SELECT event_type, p, total,
        |    0.0 + (CAST(bk AS DOUBLE)
        |      + (p * total - CAST(cumprev AS DOUBLE)) / CAST(c AS DOUBLE))
        |      * 20.0 AS est
        |  FROM hit WHERE rn = 1)
        |SELECT event_type, MAX(total) AS n,
        |  ROUND(MAX(CASE WHEN p = 0.5 THEN est END), 4) AS h_p50,
        |  ROUND(MAX(CASE WHEN p = 0.95 THEN est END), 4) AS h_p95,
        |  ROUND(MAX(CASE WHEN p = 0.99 THEN est END), 4) AS h_p99
        |FROM est GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_events_percentiles" ->
      """SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n,
        |  ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY value), 4)
        |    AS p50,
        |  ROUND(percentile_cont(0.95) WITHIN GROUP (ORDER BY value), 4)
        |    AS p95,
        |  ROUND(percentile_cont(0.99) WITHIN GROUP (ORDER BY value), 4)
        |    AS p99,
        |  MAX(value) AS max_value
        |FROM events WHERE value IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_events_paths" ->
      """WITH seq AS (
        |  SELECT user_id, event_type AS t1,
        |    LEAD(event_type, 1) OVER w AS t2,
        |    LEAD(event_type, 2) OVER w AS t3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
        |SELECT t1, t2, t3, COUNT(*) AS n,
        |  COUNT(DISTINCT user_id) AS n_users
        |FROM seq WHERE t3 IS NOT NULL
        |GROUP BY 1, 2, 3
        |ORDER BY n DESC, t1, t2, t3 LIMIT 20""".stripMargin,
    "q_events_cusum" ->
      """WITH rollup AS (
        |  SELECT event_type,
        |    (epoch_us(ts) // 3600000000) * 3600000000 AS b,
        |    SUM(CAST(value AS DECIMAL(18,4))) AS sv
        |  FROM events GROUP BY 1, 2),
        |sc AS (
        |  SELECT event_type, b, sv,
        |    COUNT(*) OVER wt AS n, SUM(sv) OVER wt AS t
        |  FROM rollup WINDOW wt AS (PARTITION BY event_type)),
        |cs AS (
        |  SELECT event_type, b, n, SUM(n * sv - t) OVER wc AS sdev
        |  FROM sc WINDOW wc AS (PARTITION BY event_type ORDER BY b
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |dr AS (
        |  SELECT event_type, b, n,
        |    sdev - LEAST(MIN(sdev) OVER wc, 0) AS drawup
        |  FROM cs WINDOW wc AS (PARTITION BY event_type ORDER BY b
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |dm AS (
        |  SELECT *, MAX(drawup) OVER (PARTITION BY event_type) AS dmax
        |  FROM dr)
        |SELECT event_type, MAX(n) AS n_buckets,
        |  ROUND(CAST(MAX(drawup) AS DOUBLE) / MAX(n), 6) AS peak_cusum,
        |  make_timestamp(MIN(CASE WHEN drawup = dmax THEN b END))
        |    AS peak_bucket,
        |  COUNT(CASE WHEN drawup > n * 2000 THEN 1 END) AS n_alarms
        |FROM dm GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q_events_anomaly_robust" ->
      """WITH med AS (
        |  SELECT event_type,
        |    percentile_cont(0.5) WITHIN GROUP (ORDER BY value) AS med
        |  FROM events GROUP BY 1),
        |dev AS (
        |  SELECT e.event_id, e.event_type, e.value,
        |    ABS(e.value - m.med) AS absdev
        |  FROM events e JOIN med m USING (event_type)),
        |mad AS (
        |  SELECT event_type,
        |    percentile_cont(0.5) WITHIN GROUP (ORDER BY absdev) AS mad
        |  FROM dev GROUP BY 1)
        |SELECT d.event_id, d.event_type, d.value,
        |  ROUND(0.6745 * d.absdev / m.mad, 6) AS modified_z
        |FROM dev d JOIN mad m USING (event_type)
        |WHERE ROUND(0.6745 * d.absdev / m.mad, 6) > 3.5
        |ORDER BY d.event_id""".stripMargin,
    "q_events_concurrency" ->
      """WITH iv AS (
        |  SELECT epoch_us(ts) AS t0,
        |    epoch_us(ts) + (CAST(ROUND(value * 10) AS BIGINT) + 60) * 1000000 AS t1
        |  FROM events),
        |d AS (
        |  SELECT t0 AS t, 1 AS delta FROM iv
        |  UNION ALL
        |  SELECT t1 AS t, -1 AS delta FROM iv),
        |r AS (
        |  SELECT CAST(make_timestamp(t) AS DATE) AS day, delta,
        |    SUM(delta) OVER (ORDER BY t, delta DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        |  FROM d)
        |SELECT day,
        |  CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_starts,
        |  CAST(MAX(run) AS BIGINT) AS max_concurrent
        |FROM r GROUP BY day ORDER BY day""".stripMargin,
    "q_events_ewma" -> ewmaOracle,
    "q_events_gapfill" ->
      """WITH e AS (
        |  SELECT event_type,
        |    make_timestamp((epoch_us(ts) // 300000000) * 300000000) AS m,
        |    value
        |  FROM events),
        |pm AS (
        |  SELECT event_type, m, COUNT(*) AS n_events,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |  FROM e GROUP BY 1, 2),
        |b AS (SELECT MIN(m) AS lo, MAX(m) AS hi FROM e),
        |g AS (SELECT UNNEST(generate_series(lo, hi, INTERVAL 5 MINUTE)) AS m FROM b),
        |ty AS (SELECT DISTINCT event_type FROM e),
        |dense AS (SELECT ty.event_type, g.m FROM ty CROSS JOIN g)
        |SELECT dense.event_type, dense.m AS bucket_start,
        |  CAST(COALESCE(pm.n_events, 0) AS BIGINT) AS n_events,
        |  LAST_VALUE(pm.sum_value IGNORE NULLS) OVER (
        |    PARTITION BY dense.event_type ORDER BY dense.m
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_value
        |FROM dense LEFT JOIN pm USING (event_type, m)
        |ORDER BY event_type, bucket_start""".stripMargin,
    "q_events_interpolate" ->
      """WITH e AS (
        |  SELECT event_type,
        |    make_timestamp((epoch_us(ts) // 300000000) * 300000000) AS m,
        |    value
        |  FROM events),
        |pm AS (
        |  SELECT event_type, m, COUNT(*) AS n_events,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |  FROM e GROUP BY 1, 2),
        |b AS (SELECT MIN(m) AS lo, MAX(m) AS hi FROM e),
        |g AS (SELECT UNNEST(generate_series(lo, hi, INTERVAL 5 MINUTE)) AS m FROM b),
        |ty AS (SELECT DISTINCT event_type FROM e),
        |dense AS (
        |  SELECT ty.event_type, g.m, pm.n_events, pm.sum_value
        |  FROM ty CROSS JOIN g LEFT JOIN pm USING (event_type, m)),
        |w AS (
        |  SELECT event_type, m, n_events, sum_value,
        |    LAST_VALUE(sum_value IGNORE NULLS) OVER (
        |      PARTITION BY event_type ORDER BY m
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |    LAST_VALUE(CASE WHEN sum_value IS NOT NULL THEN m END IGNORE NULLS)
        |      OVER (PARTITION BY event_type ORDER BY m
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
        |    FIRST_VALUE(sum_value IGNORE NULLS) OVER (
        |      PARTITION BY event_type ORDER BY m
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |    FIRST_VALUE(CASE WHEN sum_value IS NOT NULL THEN m END IGNORE NULLS)
        |      OVER (PARTITION BY event_type ORDER BY m
        |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
        |  FROM dense)
        |SELECT event_type, m AS bucket_start,
        |  CAST(COALESCE(n_events, 0) AS BIGINT) AS n_events,
        |  ROUND(CASE WHEN sum_value IS NOT NULL THEN sum_value
        |    WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
        |      pv + (nv - pv) *
        |        (CAST(epoch_us(m) - epoch_us(pt) AS DOUBLE) /
        |         CAST(epoch_us(nt) - epoch_us(pt) AS DOUBLE))
        |    ELSE NULL END, 6) AS interp_value
        |FROM w ORDER BY event_type, bucket_start""".stripMargin,
    "q_events_anomaly" ->
      """WITH stats AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    SUM(CAST(value AS DECIMAL(18,4))) AS s1,
        |    SUM(CAST(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4)) AS DECIMAL(38,8))) AS s2
        |  FROM events GROUP BY event_type),
        |m AS (
        |  SELECT event_type,
        |    CAST(s1 AS DOUBLE) / n AS mean,
        |    SQRT(CAST(s2 AS DOUBLE) / n -
        |      (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)) AS std
        |  FROM stats)
        |SELECT event_id, e.event_type, value,
        |  ROUND((value - mean) / std, 6) AS z
        |FROM events e JOIN m ON e.event_type = m.event_type
        |WHERE ABS(ROUND((value - mean) / std, 6)) > 3.0
        |ORDER BY event_id""".stripMargin,
    "q_events_retention" ->
      """WITH activity AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |cohorts AS (
        |  SELECT user_id, MIN(day) AS cohort_day FROM activity GROUP BY user_id)
        |SELECT c.cohort_day, a.day - c.cohort_day AS offset,
        |  COUNT(DISTINCT a.user_id) AS n_active
        |FROM activity a JOIN cohorts c ON a.user_id = c.user_id
        |WHERE a.day - c.cohort_day <= 7
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_events_funnel_latency" ->
      // same min-chain CTEs as q_events_funnel, then the quantized-
      // histogram percentile (smallest second whose cumulative count
      // reaches q% of n — percentile_disc over whole-second latencies)
      """WITH ev AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |s1 AS (
        |  SELECT user_id,
        |    MIN(CASE WHEN event_type = 'view' THEN ts_us END) AS t_view
        |  FROM ev GROUP BY user_id),
        |s2 AS (
        |  SELECT ev.user_id, s1.t_view,
        |    MIN(CASE WHEN event_type = 'click' AND ts_us > t_view
        |        THEN ts_us END) AS t_click
        |  FROM ev JOIN s1 ON ev.user_id = s1.user_id
        |  GROUP BY ev.user_id, s1.t_view),
        |s3 AS (
        |  SELECT ev.user_id, s2.t_view, s2.t_click,
        |    MIN(CASE WHEN event_type = 'purchase' AND ts_us > t_click
        |        THEN ts_us END) AS t_purchase
        |  FROM ev JOIN s2 ON ev.user_id = s2.user_id
        |  GROUP BY ev.user_id, s2.t_view, s2.t_click),
        |lat AS (
        |  SELECT '1_view_to_click' AS stage, t_click - t_view AS lat_us
        |  FROM s3 WHERE t_click IS NOT NULL
        |  UNION ALL
        |  SELECT '2_click_to_purchase', t_purchase - t_click
        |  FROM s3 WHERE t_purchase IS NOT NULL),
        |hist AS (
        |  SELECT stage, CAST(lat_us // 1000000 AS BIGINT) AS sec,
        |    COUNT(*) AS c
        |  FROM lat GROUP BY 1, 2),
        |cum AS (
        |  SELECT stage, sec, c,
        |    SUM(c) OVER (PARTITION BY stage ORDER BY sec
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(c) OVER (PARTITION BY stage) AS n
        |  FROM hist)
        |SELECT stage, CAST(MAX(n) AS BIGINT) AS n, MIN(sec) AS min_s,
        |  MIN(CASE WHEN cum * 100 >= n * 25 THEN sec END) AS p25_s,
        |  MIN(CASE WHEN cum * 100 >= n * 50 THEN sec END) AS p50_s,
        |  MIN(CASE WHEN cum * 100 >= n * 75 THEN sec END) AS p75_s,
        |  MIN(CASE WHEN cum * 100 >= n * 90 THEN sec END) AS p90_s,
        |  MAX(sec) AS max_s
        |FROM cum GROUP BY stage ORDER BY stage""".stripMargin,
    "q_events_funnel" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |s1 AS (
        |  SELECT user_id,
        |    MIN(CASE WHEN event_type = 'view' THEN ts_us END) AS t_view
        |  FROM ev GROUP BY user_id),
        |s2 AS (
        |  SELECT ev.user_id, s1.t_view,
        |    MIN(CASE WHEN event_type = 'click' AND ts_us > t_view
        |        THEN ts_us END) AS t_click
        |  FROM ev JOIN s1 ON ev.user_id = s1.user_id
        |  GROUP BY ev.user_id, s1.t_view),
        |s3 AS (
        |  SELECT ev.user_id, s2.t_view, s2.t_click,
        |    MIN(CASE WHEN event_type = 'purchase' AND ts_us > t_click
        |        THEN ts_us END) AS t_purchase
        |  FROM ev JOIN s2 ON ev.user_id = s2.user_id
        |  GROUP BY ev.user_id, s2.t_view, s2.t_click)
        |SELECT COUNT(*) AS n_users,
        |  COUNT(t_view) AS n_view,
        |  COUNT(t_click) AS n_click,
        |  COUNT(t_purchase) AS n_purchase,
        |  ROUND(COUNT(t_click) * 1.0 / COUNT(t_view), 6) AS view_to_click,
        |  ROUND(COUNT(t_purchase) * 1.0 / COUNT(t_click), 6) AS click_to_purchase
        |FROM s3""".stripMargin,
    "q_events_tumbling" ->
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
        |  COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_events_sessionize" ->
      """WITH marked AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts), 1) OVER
        |      (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |      > 600000000 THEN 1
        |      WHEN LAG(epoch_us(ts), 1) OVER
        |      (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |      IS NULL THEN 1 ELSE 0 END AS new_sess
        |  FROM events)
        |SELECT event_id, user_id, ts_us,
        |  CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |FROM marked ORDER BY user_id, ts_us, event_id""".stripMargin,
    // the sessionize oracle's sessions, rolled up to exact-bit-length
    // buckets — all integers end to end
    "q_events_session_stats" ->
      """WITH marked AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts), 1) OVER
        |      (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |      > 600000000 THEN 1
        |      WHEN LAG(epoch_us(ts), 1) OVER
        |      (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |      IS NULL THEN 1 ELSE 0 END AS new_sess
        |  FROM events),
        |sess AS (
        |  SELECT user_id, ts_us,
        |    CAST(SUM(new_sess) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS session_id
        |  FROM marked),
        |per AS (
        |  SELECT user_id, session_id, COUNT(*) AS n_events,
        |    (MAX(ts_us) - MIN(ts_us)) // 1000000 AS duration_s
        |  FROM sess GROUP BY 1, 2)
        |SELECT CAST(LENGTH(BIN(n_events)) - 1 AS INT) AS len_bucket,
        |  COUNT(*) AS n_sessions,
        |  CAST(SUM(n_events) AS BIGINT) AS sum_events,
        |  CAST(SUM(duration_s) AS BIGINT) AS sum_duration_s
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin,
    // grid-explode rolling actives; min-offset collapse kills the
    // multi-countDistinct Expand on both sides
    "q_events_wau" ->
      """WITH grid AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |days AS (SELECT DISTINCT day FROM grid),
        |contrib AS (
        |  SELECT g.user_id, g.day + CAST(o.off AS INTEGER) AS day, o.off
        |  FROM grid g CROSS JOIN
        |    (SELECT UNNEST(GENERATE_SERIES(0, 29)) AS off) o
        |  WHERE (g.day + CAST(o.off AS INTEGER)) IN (SELECT day FROM days)),
        |um AS (
        |  SELECT day, user_id, MIN(off) AS min_off
        |  FROM contrib GROUP BY 1, 2)
        |SELECT day,
        |  CAST(SUM(CASE WHEN min_off = 0 THEN 1 ELSE 0 END) AS BIGINT) AS dau,
        |  CAST(SUM(CASE WHEN min_off < 7 THEN 1 ELSE 0 END) AS BIGINT) AS wau,
        |  COUNT(*) AS mau
        |FROM um GROUP BY day ORDER BY day""".stripMargin,
    "q_events_json" ->
      """SELECT event_type,
        |  COUNT(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS n_k,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
        |  MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_events_topn_user" ->
      """SELECT user_id, event_id, value, rk FROM (
        |  SELECT user_id, event_id, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY value DESC, event_id) AS rk
        |  FROM events) t
        |WHERE rk <= 3 ORDER BY user_id, rk""".stripMargin,
    // cell shares on the integer half-up ppm grid; DuckDB dow is
    // 0-based Sunday = Spark dayofweek − 1
    "q_events_heatmap" ->
      """WITH c AS (
        |  SELECT CAST(EXTRACT(dow FROM ts) AS INT) AS dow,
        |    CAST(EXTRACT(hour FROM ts) AS INT) AS hour,
        |    COUNT(*) AS n_events,
        |    COUNT(DISTINCT user_id) AS n_users
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT CAST(SUM(n_events) AS BIGINT) AS total FROM c)
        |SELECT dow, hour, CAST(n_events AS BIGINT) AS n_events,
        |  CAST(n_users AS BIGINT) AS n_users,
        |  CAST((2000000 * n_events + total) // (2 * total) AS BIGINT)
        |    AS share_ppm
        |FROM c CROSS JOIN t
        |ORDER BY dow, hour""".stripMargin,
    // the q_text_entropy portable-log discipline over (user, type)
    // counts: round(c·ln c, 9) summed as exact DECIMAL
    "q_events_entropy" ->
      """WITH c AS (
        |  SELECT user_id, event_type, COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |u AS (
        |  SELECT user_id,
        |    CAST(SUM(c) AS BIGINT) AS n_events,
        |    COUNT(*) AS n_types,
        |    CAST(MAX(c) AS BIGINT) AS top_c,
        |    SUM(CAST(ROUND(c * LN(CAST(c AS DOUBLE)), 9)
        |      AS DECIMAL(18,9))) AS sclnc
        |  FROM c GROUP BY 1)
        |SELECT user_id, n_events, n_types,
        |  ROUND(CAST(top_c AS DOUBLE) / n_events, 6) AS top_share,
        |  ROUND((LN(CAST(n_events AS DOUBLE))
        |    - CAST(sclnc AS DOUBLE) / n_events) / LN(2.0), 6)
        |    AS entropy_bits
        |FROM u ORDER BY user_id""".stripMargin,
    // independent implementation: DuckDB's NATIVE asof join operator
    "q_events_streaks" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |di AS (
        |  SELECT user_id, day,
        |    CAST(date_diff('day', DATE '2024-01-01', day) AS BIGINT) AS di
        |  FROM days),
        |isl AS (
        |  SELECT user_id, day, di,
        |    di - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY di)
        |      AS island
        |  FROM di),
        |runs AS (
        |  SELECT user_id, island, CAST(COUNT(*) AS BIGINT) AS len,
        |    MIN(day) AS start_day
        |  FROM isl GROUP BY 1, 2),
        |ranked AS (
        |  SELECT user_id, len, start_day,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n_streaks,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY len DESC, start_day DESC) AS rk
        |  FROM runs)
        |SELECT user_id, CAST(n_streaks AS BIGINT) AS n_streaks,
        |  len AS longest_streak,
        |  CAST(start_day AS VARCHAR) AS longest_start
        |FROM ranked WHERE rk = 1
        |ORDER BY user_id""".stripMargin,
    "q_events_cohort" ->
      """WITH um AS (
        |  SELECT DISTINCT user_id,
        |    DATE_TRUNC('week', CAST(ts AS DATE)) AS m
        |  FROM events),
        |first AS (
        |  SELECT user_id, MIN(m) AS cohort FROM um GROUP BY 1),
        |sizes AS (
        |  SELECT cohort, CAST(COUNT(*) AS BIGINT) AS cohort_users
        |  FROM first GROUP BY 1),
        |mat AS (
        |  SELECT f.cohort,
        |    CAST(date_diff('day', f.cohort, u.m) / 7 AS BIGINT)
        |      AS week_offset,
        |    CAST(COUNT(*) AS BIGINT) AS active_users
        |  FROM um u JOIN first f USING (user_id)
        |  GROUP BY 1, 2)
        |SELECT CAST(m.cohort AS VARCHAR) AS cohort, m.week_offset,
        |  m.active_users, s.cohort_users,
        |  ROUND(CAST(m.active_users AS DOUBLE) / s.cohort_users, 6)
        |    AS retention
        |FROM mat m JOIN sizes s USING (cohort)
        |ORDER BY cohort, week_offset""".stripMargin,
    "q_events_ohlc" ->
      """WITH e AS (
        |  SELECT event_type,
        |    (epoch_us(ts) // 300000000) * 300000000 AS bucket_us,
        |    epoch_us(ts) AS ts_us, event_id, value
        |  FROM events),
        |r AS (
        |  SELECT *,
        |    ROW_NUMBER() OVER (PARTITION BY event_type, bucket_us
        |      ORDER BY ts_us, event_id) AS rn_a,
        |    ROW_NUMBER() OVER (PARTITION BY event_type, bucket_us
        |      ORDER BY ts_us DESC, event_id DESC) AS rn_d
        |  FROM e)
        |SELECT event_type, bucket_us,
        |  MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
        |  MAX(value) AS high,
        |  MIN(value) AS low,
        |  MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
        |  COUNT(*) AS n_events
        |FROM r GROUP BY 1, 2
        |ORDER BY event_type, bucket_us""".stripMargin,
    "q_asof_join_nearest" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value
        |  FROM events),
        |p AS (
        |  SELECT user_id, ts_us, MAX(value) AS p_value
        |  FROM ev WHERE event_type = 'purchase' GROUP BY 1, 2),
        |b AS (
        |  SELECT e.event_id, p.ts_us AS bt, p.p_value AS bv
        |  FROM ev e ASOF LEFT JOIN p
        |    ON e.user_id = p.user_id AND e.ts_us >= p.ts_us),
        |f AS (
        |  SELECT e.event_id, p.ts_us AS ft, p.p_value AS fv
        |  FROM ev e ASOF LEFT JOIN p
        |    ON e.user_id = p.user_id AND e.ts_us <= p.ts_us)
        |SELECT e.event_id, e.user_id, e.ts_us,
        |  CASE WHEN bt IS NOT NULL AND (ft IS NULL OR e.ts_us - bt <= ft - e.ts_us)
        |       THEN bt ELSE ft END AS nearest_ts_us,
        |  CASE WHEN bt IS NOT NULL AND (ft IS NULL OR e.ts_us - bt <= ft - e.ts_us)
        |       THEN bv ELSE fv END AS nearest_value,
        |  CASE WHEN bt IS NULL AND ft IS NULL THEN NULL
        |       WHEN bt IS NOT NULL AND (ft IS NULL OR e.ts_us - bt <= ft - e.ts_us)
        |       THEN 'back' ELSE 'fwd' END AS matched_dir
        |FROM ev e JOIN b USING (event_id) JOIN f USING (event_id)
        |ORDER BY e.event_id""".stripMargin,
    "q_asof_join" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value
        |  FROM events),
        |p AS (
        |  SELECT user_id, ts_us, MAX(value) AS p_value
        |  FROM ev WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, e.ts_us,
        |  p.ts_us AS asof_ts_us, p.p_value AS asof_value
        |FROM ev e ASOF LEFT JOIN p
        |  ON e.user_id = p.user_id AND e.ts_us >= p.ts_us
        |ORDER BY e.event_id""".stripMargin,
    "q_asof_join_forward" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value
        |  FROM events),
        |p AS (
        |  SELECT user_id, ts_us, MAX(value) AS p_value
        |  FROM ev WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, e.ts_us,
        |  CASE WHEN p.ts_us - e.ts_us <= 3600000000 THEN p.ts_us END
        |    AS next_ts_us,
        |  CASE WHEN p.ts_us - e.ts_us <= 3600000000 THEN p.p_value END
        |    AS next_value
        |FROM ev e ASOF LEFT JOIN p
        |  ON e.user_id = p.user_id AND e.ts_us <= p.ts_us
        |ORDER BY e.event_id""".stripMargin,
    "q_topk_heap" ->
      """SELECT event_type, CAST(rk AS INTEGER) AS rk, value, event_id
        |FROM (
        |  SELECT event_type, value, event_id,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY value DESC, event_id ASC) AS rk
        |  FROM events WHERE value IS NOT NULL)
        |WHERE rk <= 5
        |ORDER BY event_type, rk""".stripMargin,
    // independent implementation: DuckDB plans the inequality join
    // directly (IEJoin); Spark side uses the banded equi-join shape
    "q_range_join" ->
      """WITH ev AS (
        |  SELECT event_id, event_type, epoch_us(ts) AS ts_us FROM events)
        |SELECT a.event_id, COUNT(b.event_id) AS n_near
        |FROM ev a LEFT JOIN ev b
        |  ON a.event_type = b.event_type AND b.event_id <> a.event_id
        |  AND ABS(a.ts_us - b.ts_us) <= 60000000
        |GROUP BY a.event_id ORDER BY a.event_id""".stripMargin)
}
