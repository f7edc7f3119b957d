package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.sources.ZOrder

/** Table-maintenance operators — the jobs that keep a 100 TB lake
  * queryable: changelog compaction (MERGE/upsert materialization),
  * SCD2 historization, and z-order layout planning. The reference has
  * no storage or ingest layer (in-memory rows only,
  * /root/reference/stupidb/api.py `table()`); these are what its users
  * would run upstream of every query at real scale.
  */
object Maintain {

  /** Materialize the current state of a keyed changelog — MERGE/upsert
    * semantics: last writer wins, tombstones delete. The events log is
    * read as a CDC stream keyed by user_id, ordered by (event time,
    * event_id); 'error' rows act as the tombstone marker, so a user
    * whose latest row is a tombstone vanishes from the compacted
    * state. ONE aggregation: max_by keeps each key's latest row with
    * map-side partial aggregation, so the shuffle carries at most one
    * row per key per input partition — the shape that compacts a
    * 100 TB changelog without ever sorting it (the window-rank
    * formulation would shuffle and sort every raw row). */
  def qMergeUpsert(s: SparkSession, d: String): DataFrame =
    compactChangelog(Tables.events(s, d))

  /** The MERGE core over any frame with the events schema — split out
    * so specs can plant their own changelog. */
  def compactChangelog(events: DataFrame): DataFrame =
    events
      .withColumn("ts_us", unix_micros(col("ts")))
      .groupBy(col("user_id"))
      .agg(max_by(
        struct(col("ts_us"), col("event_type"), col("value")),
        struct(col("ts_us"), col("event_id"))).as("last"))
      .where(col("last.event_type") =!= "error")
      .select(col("user_id"),
        col("last.ts_us").as("last_ts_us"),
        col("last.event_type").as("last_type"),
        col("last.value").as("last_value"))
      .orderBy(col("user_id"))

  /** Type-2 slowly-changing-dimension history of each user's
    * event_type state: one row per state CHANGE carrying its validity
    * interval [valid_from, valid_to) in epoch micros, NULL valid_to =
    * current version. One shuffle on user_id; the change filter
    * preserves both the hash partitioning and the (ts, event_id) sort,
    * so the second window (lead over the surviving change rows) reuses
    * the first's exchange and sort instead of re-shuffling. */
  def qScd2History(s: SparkSession, d: String): DataFrame =
    scd2History(Tables.events(s, d))

  /** The SCD2 core over any frame with the events schema. */
  def scd2History(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    events
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
      .where(col("prev_type").isNull ||
        col("prev_type") =!= col("event_type"))
      .withColumn("valid_to_us", lead(col("ts_us"), 1).over(byUser))
      .select(col("user_id"), col("event_type"),
        col("ts_us").as("valid_from_us"), col("valid_to_us"))
      .orderBy(col("user_id"), col("valid_from_us"), col("event_type"))
  }

  /** Retention windows measured by q_vacuum_sweep, in hours. */
  val VacuumRetentionHours: Seq[Long] = Seq(1L, 6L, 24L, 72L)

  /** VACUUM-RETENTION TUNING CURVE (the table-maintenance tuning
    * sweep): how many closed SCD2 version rows become vacuumable at a
    * ladder of retention windows behind the table's max timestamp —
    * the chart that prices a time-travel guarantee ("72 h of history
    * costs keeping 38% of closed versions"). ONE pass over the
    * registered q_scd2_history plan's closed rows; the anchor is a
    * 1-row broadcast max; the ladder is conditional sums in a single
    * aggregate, stacked to rows — nothing rescans per window. */
  def qVacuumSweep(s: SparkSession, d: String): DataFrame = {
    val hist = scd2History(Tables.events(s, d))
      .where(col("valid_to_us").isNotNull)
    val anchor = Tables.events(s, d)
      .agg(max(unix_micros(col("ts"))).as("anchor_us"))
    val aggs = count(lit(1)).as("n_closed") +:
      VacuumRetentionHours.zipWithIndex.map { case (h, i) =>
        sum(when(col("valid_to_us") < col("anchor_us") -
          lit(h * 3600000000L), 1L).otherwise(0L)).as(s"v$i")
      }
    val stackArgs = VacuumRetentionHours.zipWithIndex
      .map { case (h, i) => s"${h}L, v$i" }.mkString(", ")
    hist.crossJoin(broadcast(anchor))
      .agg(aggs.head, aggs.tail: _*)
      .select(
        expr(s"stack(${VacuumRetentionHours.size}, $stackArgs)" +
          " AS (retention_hours, n_vacuumable)"),
        col("n_closed"))
      .select(col("retention_hours"), col("n_closed"), col("n_vacuumable"),
        round(col("n_vacuumable") / greatest(col("n_closed"), lit(1L)), 6)
          .as("frac_vacuumable"))
      .orderBy(col("retention_hours"))
  }

  /** Compaction target in rows (production: bytes, e.g. 512 MB). */
  val CompactTargetRows: Long = 2000L

  /** Synthetic file inventory: rows land in one of 97 files per month
    * partition (ingest writers hash-route by order key). */
  val CompactFileMod: Long = 97L

  /** SMALL-FILE COMPACTION PLANNER: the nightly job that turns a
    * many-tiny-files partition back into target-sized files. The file
    * inventory is simulated from lineitem (month partition × 97
    * hash-routed writer files — the shape streaming ingest leaves
    * behind); the plan greedily packs files in file-id order, cutting
    * an output file every CompactTargetRows rows (exclusive running
    * sum DIV target — a file larger than the target stands alone).
    * SCALE: after the one inventory aggregate, everything runs on the
    * MANIFEST (files, not rows — at 100 TB this input comes from the
    * metastore listing for free); the running sum is a window
    * partitioned by the table partition, and files-per-partition is
    * bounded by the writer count, so no task ever sees more than one
    * partition's file list. Output: per-partition before/after file
    * counts and the largest planned file — integer-only columns. */
  def qCompactionPlan(s: SparkSession, d: String): DataFrame = {
    val files = Tables.lineitem(s, d)
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("part_month"),
        expr(s"l_orderkey % $CompactFileMod").as("file_id"))
      .agg(count(lit(1)).as("n_rows"))
    val packOrder = Window.partitionBy(col("part_month"))
      .orderBy(col("file_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    files
      .withColumn("cum_before",
        coalesce(sum(col("n_rows")).over(packOrder), lit(0L)))
      .withColumn("out_file", expr(s"cum_before div $CompactTargetRows"))
      .groupBy(col("part_month"), col("out_file"))
      .agg(sum(col("n_rows")).as("out_rows"), count(lit(1)).as("n_in"))
      .groupBy(col("part_month"))
      .agg(sum(col("n_in")).as("n_files"),
        count(lit(1)).as("n_out_files"),
        sum(col("out_rows")).as("n_rows"),
        max(col("out_rows")).as("max_out_rows"))
      .orderBy(col("part_month"))
  }

  /** Insertion-order file size for the zone-map audit, in orderkeys. */
  val ZmapFileKeys: Long = 256L

  /** Predicate ladder for the zone-map audit: `l_shipdate >= cutoff`
    * at four points across the table's 1995–2001 span. */
  val ZmapCutoffs: Seq[String] =
    Seq("1996-01-01", "1998-01-01", "2000-01-01", "2001-07-01")

  /** ZONE-MAP PRUNING AUDIT — the layout-decision chart: for each of
    * two physical layouts (INSERTION order: files of ZmapFileKeys
    * consecutive orderkeys, uncorrelated with ship date; DATE
    * layout: one file per (year, quarter) of l_shipdate) and a ladder
    * of `l_shipdate >= cutoff` predicates, how many files and rows the
    * per-file max(l_shipdate) zone map lets the scan SKIP entirely
    * (skippable ⟺ file max < cutoff). On this data the insertion
    * layout skips ~nothing at every cutoff while the date layout
    * skips proportionally — the measured case for date-partitioning a
    * fact table, and the read-side complement of q_zorder's write-side
    * boxes. ONE row-level pass per layout builds the file-stats
    * manifest; the ladder is conditional sums in one aggregate over
    * the manifest, stacked to rows. Integer-only outputs. */
  def qZonemapPrune(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_shipdate"))
    def fileStats(layout: String, fileId: Column): DataFrame =
      li.groupBy(fileId.as("file_id"))
        .agg(count(lit(1)).as("n_rows"), max(col("l_shipdate")).as("max_ship"))
        .select(lit(layout).as("layout"), col("n_rows"), col("max_ship"))
    val files = fileStats("insertion", expr(s"l_orderkey div $ZmapFileKeys"))
      .unionByName(fileStats("date",
        year(col("l_shipdate")) * lit(4) + quarter(col("l_shipdate"))))
    val aggs = count(lit(1)).as("n_files") +:
      sum(col("n_rows")).as("rows_total") +:
      ZmapCutoffs.zipWithIndex.flatMap { case (c, i) =>
        val skip = col("max_ship") < lit(c).cast("timestamp")
        Seq(sum(when(skip, 1L).otherwise(0L)).as(s"f$i"),
          sum(when(skip, col("n_rows")).otherwise(0L)).as(s"r$i"))
      }
    val stackArgs = ZmapCutoffs.zipWithIndex
      .map { case (c, i) => s"'$c', f$i, r$i" }.mkString(", ")
    files.groupBy(col("layout")).agg(aggs.head, aggs.tail: _*)
      .select(col("layout"),
        expr(s"stack(${ZmapCutoffs.size}, $stackArgs)" +
          " AS (cutoff, n_skip_files, n_skip_rows)"),
        col("n_files"), col("rows_total"))
      .select(col("layout"), col("cutoff"), col("n_files"),
        col("n_skip_files"), col("rows_total"), col("n_skip_rows"))
      .orderBy(col("layout"), col("cutoff"))
  }

  /** Z-order layout audit over lineitem's (l_partkey, l_suppkey):
    * Morton-interleave both keys (ZOrder.zorderValue — pure codegen'd
    * shift/mask arithmetic), bucket rows by the top interleaved bits,
    * and report each bucket's bounding box in BOTH dimensions. The
    * tight per-bucket min/max ranges ARE the pruning guarantee: laid
    * out this way, a range predicate on either key (or both) skips
    * every file whose box misses it — what a lead-key sort only gives
    * the lead key. The write-side half is ZOrder.layout (spec-asserted
    * in ZOrderSpec); this query is the audit a layout job would emit. */
  def qZorder(s: SparkSession, d: String): DataFrame = {
    // both keys are min/max-normalized onto the shared 11-bit budget
    // (ZOrder.normalize) so the curve's top levels split BOTH
    // dimensions at ANY scale factor — key domains here grow 10× per
    // SF, so fixed bit constants would alias at sf0.1 and degenerate
    // at sf0.001. The 1-row extent aggregate broadcasts back in (no
    // second scan at the executors beyond the cheap agg pass).
    val li = Tables.lineitem(s, d)
      .select(col("l_partkey"), col("l_suppkey"))
    val ext = li.agg(
      min(col("l_partkey")).as("minp"), max(col("l_partkey")).as("maxp"),
      min(col("l_suppkey")).as("mins"), max(col("l_suppkey")).as("maxs"))
    val pn = ZOrder.normalize(
      col("l_partkey"), col("minp"), col("maxp"), ZBits)
    val sn = ZOrder.normalize(
      col("l_suppkey"), col("mins"), col("maxs"), ZBits)
    val z = ZOrder.zorderValue(Seq(pn, sn), ZBits)
    li.crossJoin(broadcast(ext))
      .select(shiftright(z, ZBucketShift).as("zbucket"),
        col("l_partkey"), col("l_suppkey"))
      .groupBy(col("zbucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("l_partkey")).as("min_part"),
        max(col("l_partkey")).as("max_part"),
        min(col("l_suppkey")).as("min_supp"),
        max(col("l_suppkey")).as("max_supp"))
      .orderBy(col("zbucket"))
  }

  /** Dropping the low 16 of the 22 interleaved bits buckets by the
    * top 3 (partkey, suppkey) bit pairs: ≤64 buckets, each boxing
    * BOTH normalized dimensions within 1/8 of their domain. */
  private val ZBits = 11
  private val ZBucketShift = 16

  /** Incremental SCD2 maintenance — apply a new batch of changes to an
    * EXISTING history without rebuilding it: closed versions pass
    * through untouched, each open version becomes the lag anchor for
    * its user's batch rows (so a batch row continuing the current
    * state folds away, a different one closes the open version and
    * starts a new one), and brand-new users historize from their first
    * batch row. Work is proportional to |open versions| + |batch|,
    * never |history| — the daily-ingest shape at 100 TB, where the
    * closed past is immutable. CORRECTNESS IS THE ORACLE: the result
    * must hash-equal the full rebuild (q_scd2_history's SQL verbatim),
    * and that equivalence holds for ANY cutoff, so the gate checks the
    * incremental-view-maintenance algebra itself. */
  def qScd2Incremental(s: SparkSession, d: String): DataFrame = {
    val cutoff = expr(s"timestamp'$Scd2Cutoff'")
    val ev = Tables.events(s, d)
    scd2Apply(
      scd2History(ev.where(col("ts") < cutoff)),
      ev.where(col("ts") >= cutoff))
  }

  /** The last week of January is the "daily batch"; any value works —
    * the result is cutoff-invariant (spec-asserted). */
  private val Scd2Cutoff = "2024-01-24 00:00:00"

  /** AS-OF DIMENSION ENRICHMENT — the consumer side of SCD2: each
    * late-January event tagged with the user's state VERSION valid at
    * the event's timestamp, from the history built over everything
    * earlier (the ingest-time dimension lookup every warehouse join
    * does). Intervals partition each user's timeline, so the interval
    * predicate matches at most one version — exactly one output row
    * per event, NULL state before the user's first version. */
  def qEventsEnrich(s: SparkSession, d: String): DataFrame = {
    val cutoff = expr(s"timestamp'$Scd2Cutoff'")
    val ev = Tables.events(s, d)
    enrichWithHistory(
      ev.where(col("ts") >= cutoff),
      scd2History(ev.where(col("ts") < cutoff)))
      .orderBy(col("event_id"))
  }

  /** The enrichment core: an equi-join on user_id with the validity
    * interval as a residual predicate — shuffles on the key, ≤ 1 match
    * per event. UNIFIED batch/stream: the same function enriches a
    * STREAMING events frame against a static history (a stateless
    * stream-static left join — the ingest-time shape), equivalence
    * spec-asserted in StreamingSpec. */
  def enrichWithHistory(batch: DataFrame, hist: DataFrame): DataFrame = {
    val b = batch.select(col("event_id"), col("user_id"),
      col("event_type"), col("ts"), unix_micros(col("ts")).as("ts_us"))
    val h = hist.select(col("user_id").as("h_uid"),
      col("event_type").as("state_type"),
      col("valid_from_us"), col("valid_to_us"))
    b.join(h, col("user_id") === col("h_uid") &&
        col("valid_from_us") <= col("ts_us") &&
        (col("valid_to_us").isNull || col("ts_us") < col("valid_to_us")),
      "left")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("state_type"), col("valid_from_us"))
  }

  /** Incremental AGGREGATE maintenance — the other half of the
    * incremental-view story next to q_scd2_incremental: a daily
    * (event_type, day) rollup kept current by MERGING the existing
    * state table with the new batch's partial aggregate, instead of
    * rescanning the corpus. Counts and exact DECIMAL sums form a
    * commutative monoid, so state ⊕ delta ≡ full rebuild for ANY
    * cutoff (the spec sweeps several) — and the oracle IS the full
    * rebuild, the same no-second-implementation gate q_scd2_incremental
    * uses. 100-TB shape: the corpus is touched never; work is
    * |state| + |batch|, and the merge is one hash aggregate on the
    * group key with map-side combine. */
  def qIncrementalAgg(s: SparkSession, d: String): DataFrame = {
    val cutoff = expr(s"timestamp'$Scd2Cutoff'")
    val ev = Tables.events(s, d)
    rollupMerge(
      dailyRollup(ev.where(col("ts") < cutoff)),
      dailyRollup(ev.where(col("ts") >= cutoff)))
  }

  /** The maintained view: per-(type, day) event count + exact value
    * sum. Sums stay DECIMAL internally (mergeable without loss); the
    * double cast happens only at the output edge. */
  def dailyRollup(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,4)")).as("sv"))

  /** The merge algebra: counts add, decimal sums add. */
  def rollupMerge(state: DataFrame, delta: DataFrame): DataFrame =
    state.unionByName(delta)
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("n_events")).as("n_events"),
        sum(col("sv")).as("sv"))
      .select(col("event_type"), col("day"), col("n_events"),
        col("sv").cast("double").as("sum_value"))
      .orderBy(col("event_type"), col("day"))

  /** Per-(type, user) exact-cents totals — the base aggregate the
    * top-k view maintains over. Counts and integer-cent sums are a
    * commutative monoid (state ⊕ batch ≡ rebuild). */
  def userTotals(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("sum_c"))

  /** Top-3 leaderboard per type via the bounded-heap TopK aggregate —
    * map-side-combined, never a per-type rank-window sort of the full
    * user list. Cent totals ride the heap as doubles (exact below
    * 2^53 cents ≈ $90 T per user — documented envelope). */
  def leaderboard(totals: DataFrame): DataFrame = {
    val topk = graft.operators.TopK.topk(3)
    totals
      .groupBy(col("event_type"))
      .agg(topk(col("sum_c").cast("double"), col("user_id")).as("top"))
      .select(col("event_type"), posexplode(col("top")).as(Seq("i", "s")))
      .select(col("event_type"), (col("i") + 1).cast("int").as("rk"),
        col("s.id").as("user_id"), col("s.value").cast("long").as("sum_c"))
  }

  /** Incremental TOP-K maintenance — the leaderboard-shaped FOURTH
    * member of the IVM family (intervals / sums / histograms / now
    * ranked views): the materialized "top 3 users by lifetime value
    * per type" is kept current by merging the per-(type, user) totals
    * state with the batch's partial aggregate, then RE-RANKING ONLY
    * THE TYPES THE BATCH TOUCHED — untouched leaderboards carry over
    * verbatim. Ranking is not a monoid (one user's delta can reorder
    * a whole leaderboard), which is exactly why the maintained state
    * is the TOTALS table and the leaderboard recomputes per touched
    * group — bounded by the batch's key footprint, never the corpus.
    * Oracle IS the full rebuild (the q_scd2_incremental discipline);
    * the spec sweeps cutoffs and plants a batch that flips one type's
    * podium while another type stays untouched. */
  def qIncrementalTopk(s: SparkSession, d: String): DataFrame = {
    val cutoff = expr(s"timestamp'$Scd2Cutoff'")
    val ev = Tables.events(s, d)
    val state = userTotals(ev.where(col("ts") < cutoff))
    val delta = userTotals(ev.where(col("ts") >= cutoff))
    val touched = delta.select(col("event_type")).distinct()
    val merged = state.unionByName(delta)
      .groupBy(col("event_type"), col("user_id"))
      .agg(sum(col("n")).as("n"), sum(col("sum_c")).as("sum_c"))
    val lbNew = leaderboard(
      merged.join(touched, Seq("event_type"), "left_semi"))
    val lbOld = leaderboard(state)
      .join(touched, Seq("event_type"), "left_anti")
    lbOld.unionByName(lbNew)
      .orderBy(col("event_type"), col("rk"))
  }

  /** Incremental HISTOGRAM maintenance — the distribution-shaped third
    * member of the IVM family (q_scd2_incremental: interval algebra;
    * q_incremental_agg: sums; this: bucket counts). The maintained
    * view is the long-form (event_type, bucket, n) value histogram on
    * q_events_hist_quantiles' fixed [0,500)/25 grid — integer counts
    * are a commutative monoid, so state ⊕ batch-partial ≡ full rebuild
    * at ANY cutoff, and every percentile/drift consumer downstream
    * reads the maintained view instead of rescanning the corpus.
    * Oracle IS the full rebuild; cutoff-sweep + associativity spec. */
  def qIncrementalHist(s: SparkSession, d: String): DataFrame = {
    val cutoff = expr(s"timestamp'$Scd2Cutoff'")
    val ev = Tables.events(s, d)
    histViewMerge(
      valueHist(ev.where(col("ts") < cutoff)),
      valueHist(ev.where(col("ts") >= cutoff)))
  }

  /** The maintained view: per-(type, bucket) counts on the shared
    * Events.HistLo/HistHi/HistBuckets grid, out-of-range values
    * clamped into the end buckets. */
  def valueHist(events: DataFrame): DataFrame = {
    val w = (graft.queries.Events.HistHi - graft.queries.Events.HistLo) /
      graft.queries.Events.HistBuckets
    events.where(col("value").isNotNull)
      .groupBy(col("event_type"),
        least(greatest(
          floor((col("value") - lit(graft.queries.Events.HistLo)) / lit(w))
            .cast("long"), lit(0L)),
          lit(graft.queries.Events.HistBuckets - 1L)).as("bucket"))
      .agg(count(lit(1)).as("n"))
  }

  /** The merge algebra: bucket counts add. */
  def histViewMerge(state: DataFrame, delta: DataFrame): DataFrame =
    state.unionByName(delta)
      .groupBy(col("event_type"), col("bucket"))
      .agg(sum(col("n")).as("n"))
      .orderBy(col("event_type"), col("bucket"))

  /** The grid-percentile levels read off the histogram synopses, in
    * integer percent (shared with the oracle generator). */
  val QuantileRollupPcts: Seq[Int] = Seq(50, 95, 99)

  /** DAILY histogram synopsis — q_incremental_hist's maintained view
    * with the day key kept: per (event_type, day, bucket) counts on
    * the shared Events.HistLo/HistHi/HistBuckets grid. A few KB per
    * day per type — the persisted state a lake keeps beside the raw
    * data. */
  def dailyValueHist(events: DataFrame): DataFrame = {
    val w = (graft.queries.Events.HistHi - graft.queries.Events.HistLo) /
      graft.queries.Events.HistBuckets
    events.where(col("value").isNotNull)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"),
        least(greatest(
          floor((col("value") - lit(graft.queries.Events.HistLo)) / lit(w))
            .cast("long"), lit(0L)),
          lit(graft.queries.Events.HistBuckets - 1L)).as("bucket"))
      .agg(count(lit(1)).as("n"))
  }

  /** MERGEABLE QUANTILE-SYNOPSIS ROLLUP — the percentile half of the
    * synopsis family (q_sketch_rollup covers distinct counts with KMV;
    * this covers quantiles with fixed-grid histograms): weekly
    * p50/p95/p99 of event value per type re-aggregated FROM THE DAILY
    * HISTOGRAM SYNOPSES, never from raw data. Bucket counts are a
    * commutative monoid, so the weekly histogram is EXACTLY the sum of
    * its days' synopses and the grid percentile read off the rollup
    * equals the read off a direct one-pass weekly histogram —
    * spec-proven, not approximate-on-approximate. At 100 TB: any
    * later week/month/year percentile is a few-KB synopsis union, and
    * a backfill touches only the affected days' rows of the view.
    * The percentile read is percentile_disc ON THE GRID: the smallest
    * bucket whose cumulative count reaches ceil(p·n/100), reported as
    * the bucket's lower bound — all-integer (100·cum ≥ p·n), so the
    * oracle matches bit-for-bit. The cum window is bounded by the
    * 25-bucket grid per (type, week), never by data volume; the
    * closing min-bucket reads are conditional MINs in ONE aggregate
    * that reuses the window's partitioning (zero extra exchange). */
  def qQuantileRollup(s: SparkSession, d: String): DataFrame = {
    val wGrid = (graft.queries.Events.HistHi - graft.queries.Events.HistLo) /
      graft.queries.Events.HistBuckets
    val daily = dailyValueHist(Tables.events(s, d))
    val weekly = daily
      .groupBy(col("event_type"),
        date_trunc("week", col("day")).cast("date").as("week"), col("bucket"))
      .agg(sum(col("n")).as("n"))
    val byWeek = Window.partitionBy(col("event_type"), col("week"))
    val cumW = byWeek.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pctCols = QuantileRollupPcts.map { p =>
      min(when(col("cum") * 100L >= lit(p.toLong) * col("total"),
        (lit(graft.queries.Events.HistLo) +
          col("bucket") * lit(wGrid)).cast("long"))).as(s"p$p")
    }
    weekly
      .withColumn("cum", sum(col("n")).over(cumW))
      .withColumn("total", sum(col("n")).over(byWeek))
      .groupBy(col("event_type"), col("week"))
      .agg(max(col("total")).as("n_events"), pctCols: _*)
      .select(col("event_type") +: col("week") +: col("n_events") +:
        QuantileRollupPcts.map(p => col(s"p$p")): _*)
      .orderBy(col("event_type"), col("week"))
  }

  /** Day cutoff for the partition-pruning audit — reads 6 of the
    * corpus's 30 days at every SF. */
  val PruneCutoffDay: String = "2024-01-25"

  /** Scratch root for queries that exercise a write-then-read path.
    * Inside the repo's build dir (never the read-only testdata), keyed
    * by the source dir so sf0.01 and sf0.1 runs don't collide;
    * overwrite mode keeps bench re-runs idempotent. A hash of the RAW
    * path rides along so two dirs that sanitize to the same name
    * (/a/sf0.1 vs /a_sf0.1) stay injective (ADVICE r12 item 4). */
  private[graft] def scratchDir(tag: String, d: String): String =
    new java.io.File(s"target/scratch/${tag}_" +
      d.replaceAll("[^A-Za-z0-9._-]", "_") + "_" +
      (scala.util.hashing.MurmurHash3.stringHash(d) & 0x7fffffff)
        .toHexString).getAbsolutePath

  /** HIVE-PARTITION PRUNING END-TO-END — the most common real-lake
    * read-path optimization, exercised against a real written layout
    * (q_zonemap_prune audits row-group stats arithmetic; this query
    * writes day-partitioned parquet, reads it back with a day
    * predicate, and reports the scan's OWN file-index numbers): events
    * are written `partitionBy("day")` with one file per day (the
    * upstream repartition puts each day in exactly one task, so the
    * 30-day corpus lays out as 30 files — deterministic, which is what
    * makes the measured counts oracle-checkable; a production-sized
    * table uses Sources.writeParquetSized's range-clustered sizing
    * instead, spec-covered in SourcesSpec), then read back filtered to
    * `day >= PruneCutoffDay`. n_files_read comes from the physical
    * scan's post-pruning file listing (FileSourceScanLike
    * .selectedPartitions — driver-side metadata, bounded by
    * |partitions|) and n_files_total from the unfiltered file index,
    * so the 6-of-30 answer is the scan's, not an assumption;
    * Round12OperatorsSpec ("partition prune: …") additionally asserts
    * the partitionFilters are present and the pruned listing shrank.
    * At 100 TB the same predicate skips the same 80% of the table at
    * the METADATA level — zero data tasks ever launch for pruned
    * days. The scan's PushedFilters are empty for the same reason:
    * the day predicate is a partition filter, resolved on the file
    * listing, so nothing is left for the reader. */
  def qPartitionPrune(s: SparkSession, d: String): DataFrame = {
    val scratch = scratchDir("partition_prune", d)
    val ev = Tables.events(s, d)
      .where(col("ts").isNotNull)
      .withColumn("day", to_date(col("ts")))
    graft.sources.Sources.writeParquet(
      ev.repartition(col("day")), scratch, partitionBy = Seq("day"))
    val pruned = s.read.parquet(scratch)
      .where(col("day") >= lit(PruneCutoffDay).cast("date"))
    import org.apache.spark.sql.execution.FileSourceScanLike
    val scan = pruned.queryExecution.sparkPlan.collectLeaves()
      .collectFirst { case f: FileSourceScanLike => f }
      .getOrElse(sys.error("q_partition_prune: no file scan in plan"))
    val filesRead = scan.selectedPartitions.totalNumberOfFiles
    val filesTotal = scan.relation.location.inputFiles.length.toLong
    pruned
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("sum_cents"))
      .select(col("day"), col("n_events"), col("sum_cents"),
        lit(filesRead).as("n_files_read"),
        lit(filesTotal).as("n_files_total"))
      .orderBy(col("day"))
  }

  /** The apply core: merge `batch` (events schema) into `hist` (a
    * qScd2History output). */
  def scd2Apply(hist: DataFrame, batch: DataFrame): DataFrame = {
    val closed = hist.where(col("valid_to_us").isNotNull)
    // the open version rides along as its user's sequence anchor,
    // keeping its original valid_from; MinValue event_id orders it
    // before any real row
    val openSeq = hist.where(col("valid_to_us").isNull)
      .select(col("user_id"), col("event_type"),
        col("valid_from_us").as("ts_us"),
        lit(Long.MinValue).as("event_id"))
    val batchSeq = batch
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"), col("event_id"))
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val kept = openSeq.unionByName(batchSeq)
      .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
      .where(col("prev_type").isNull ||
        col("prev_type") =!= col("event_type"))
      .withColumn("valid_to_us", lead(col("ts_us"), 1).over(byUser))
      .select(col("user_id"), col("event_type"),
        col("ts_us").as("valid_from_us"), col("valid_to_us"))
    closed.unionByName(kept)
      .orderBy(col("user_id"), col("valid_from_us"), col("event_type"))
  }

  /** Data-quality audit — the expectation gate a pipeline runs before
    * publishing a snapshot: every row-level constraint evaluates in
    * ONE scan as conditional sums (a per-check pass would read the
    * fact N times), plus one anti-join for referential integrity. One
    * compact report row per check. */
  def qQualityAudit(s: SparkSession, d: String): DataFrame =
    qualityAudit(Tables.lineitem(s, d), Tables.orders(s, d))

  /** The audit core — split out so specs can plant violations. */
  def qualityAudit(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    def viol(bad: org.apache.spark.sql.Column) =
      sum(when(bad, 1L).otherwise(0L))
    val row = lineitem.agg(
      count(lit(1)).as("n_rows"),
      viol(col("l_quantity") < 1 || col("l_quantity") > 50)
        .as("quantity_range"),
      viol(col("l_discount") < 0 || col("l_discount") > 0.1)
        .as("discount_range"),
      viol(col("l_extendedprice") <= 0).as("price_positive"))
    val orphans = lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("orderkey_resolves"))
    row
      .crossJoin(broadcast(orphans)) // 1-row audit scalar, in-plan
      .select(col("n_rows"), expr(
        """stack(4,
          |  'quantity_range', quantity_range,
          |  'discount_range', discount_range,
          |  'price_positive', price_positive,
          |  'orderkey_resolves', orderkey_resolves)
          |  AS (check_name, n_violations)
          |""".stripMargin))
      .select(col("check_name"), col("n_rows"), col("n_violations"),
        round(col("n_violations") / col("n_rows"), 6).as("violation_rate"))
      .orderBy(col("check_name"))
  }

  /** Columns profiled by q_profile with their rendering class —
    * shared by the Spark plan and the generated oracle so both sides
    * stringify min/max identically (doubles via DECIMAL(18,4),
    * timestamps via DATE; plain casts are not engine-portable for
    * doubles — Java switches to scientific notation, DuckDB never
    * does). */
  val ProfileCols: Seq[(String, String)] = Seq(
    "l_orderkey" -> "int", "l_partkey" -> "int", "l_suppkey" -> "int",
    "l_linenumber" -> "int", "l_quantity" -> "dbl",
    "l_extendedprice" -> "dbl", "l_discount" -> "dbl", "l_tax" -> "dbl",
    "l_returnflag" -> "str", "l_linestatus" -> "str",
    "l_shipdate" -> "date")

  /** Table profiling — the pre-publish column audit every lake runs:
    * per column, null count/rate, exact distinct count, and portably
    * rendered min/max. The scalar metrics (counts, nulls, min/max)
    * come from ONE wide scan; the exact distinct counts deliberately
    * do NOT use a single multi-countDistinct aggregate — that
    * compiles to Expand (a |rows|×(cols+1) shuffle; measured 24 s at
    * sf0.1 vs 4 s for this shape). Instead each column gets its own
    * COLUMN-PRUNED pass into a shared (col_name, value) aggregate:
    * parquet reads the same total bytes as the wide scan (columnar),
    * and the partial aggregation means only DISTINCT values per
    * partition reach the shuffle. At 100 TB the exact distinct is
    * still the swap-out for `graft.operators.Sketches` (HLL) or the
    * KMV sketch behind q_approx_distinct — one pass, constant state;
    * exact is kept here because the oracle hashes it. */
  def qProfile(spark: SparkSession, dir: String): DataFrame = {
    def render(kind: String, c: Column): Column = kind match {
      case "dbl" => round(c, 4).cast("decimal(18,4)").cast("string")
      case "date" => c.cast("date").cast("string")
      case _ => c.cast("string")
    }
    val li = Tables.lineitem(spark, dir)
    val aggs = ProfileCols.flatMap { case (c, k) =>
      Seq(count(col(c)).as(s"${c}_nn"),
        render(k, min(col(c))).as(s"${c}_min"),
        render(k, max(col(c))).as(s"${c}_max"))
    } :+ count(lit(1)).as("n_rows")
    val one = li.agg(aggs.head, aggs.tail: _*)
    // distinct counts: one pruned pass per column (cast is injective,
    // so string-space distincts equal value-space distincts), partial
    // aggregation collapses to per-partition distincts pre-shuffle
    val nd = ProfileCols.map { case (c, _) =>
        li.select(lit(c).as("col_name"), col(c).cast("string").as("v"))
          .where(col("v").isNotNull)
      }.reduce(_ unionAll _)
      .groupBy(col("col_name"), col("v")).agg(count(lit(1)).as("_c"))
      .groupBy(col("col_name")).agg(count(lit(1)).as("n_distinct"))
    val entries = ProfileCols.map { case (c, _) =>
      struct(lit(c).as("col_name"), col("n_rows"),
        (col("n_rows") - col(s"${c}_nn")).as("n_nulls"),
        round((col("n_rows") - col(s"${c}_nn")).cast("double") /
          col("n_rows"), 6).as("null_frac"),
        col(s"${c}_min").as("min_val"), col(s"${c}_max").as("max_val"))
    }
    one.select(explode(array(entries: _*)).as("p")).select(col("p.*"))
      .join(nd, "col_name")
      .select(col("col_name"), col("n_rows"), col("n_nulls"),
        col("null_frac"), col("n_distinct"), col("min_val"),
        col("max_val"))
      .orderBy(col("col_name"))
  }

  /** Order-independent CONTENT FINGERPRINT of two tables — the
    * anti-entropy primitive (Merkle-less replica comparison, Dynamo
    * §4.7 shape flattened to one round): does this copy of the table
    * hold exactly these rows, regardless of file layout, partitioning,
    * or row order? Each row canonicalizes to a '|'-joined key string
    * (doubles pre-quantized to integer cents so no engine ever prints
    * a float), hashes to the portable md5-15 BIGINT, and the SUM of
    * hashes — exact DECIMAL(38,0), commutative — is the fingerprint:
    * one aggregate pass per table, no sort, map-side partials, ~16
    * bytes per table reach the driver. Two stores agree iff (n_rows,
    * fingerprint) agree (collision odds ~n²/2⁶⁰). */
  def qTableFingerprint(s: SparkSession, d: String): DataFrame = {
    def fp(df: DataFrame, name: String, rowKey: Column): DataFrame =
      df.select(conv(substring(md5(rowKey), 1, 15), 16, 10)
          .cast("long").as("h"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("h").cast("decimal(38,0)")).as("fingerprint"))
        .select(lit(name).as("tbl"), col("n_rows"),
          col("fingerprint").cast("string").as("fingerprint"))
    val orders = fp(Tables.orders(s, d), "orders",
      concat_ws("|", col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long"),
        unix_micros(col("o_orderdate").cast("timestamp")),
        col("o_orderpriority")))
    val nation = fp(Tables.nation(s, d), "nation",
      concat_ws("|", col("n_nationkey"), col("n_name"), col("n_regionkey")))
    orders.unionAll(nation).orderBy(col("tbl"))
  }

  /** Generic SNAPSHOT DIFF — the anti-entropy drill-down that pairs
    * with q_table_fingerprint: the fingerprint says two replicas
    * drifted, this says HOW. One full-outer shuffle join on the key,
    * per-row content hash compare, and a 4-row status rollup
    * (added / removed / changed / unchanged) with an exact
    * DECIMAL(38,0) hash sum per status so each bucket is itself
    * fingerprinted. Linear, one shuffle, map-side partial rollup. */
  def snapshotDiff(
      oldDf: DataFrame, newDf: DataFrame,
      keyCol: String, rowHash: Column): DataFrame = {
    val h = conv(substring(md5(rowHash), 1, 15), 16, 10).cast("long")
    val o = oldDf.select(col(keyCol).as("k"), h.as("h_old"))
    val n = newDf.select(col(keyCol).as("k"), h.as("h_new"))
    o.join(n, Seq("k"), "full_outer")
      .select(
        when(col("h_old").isNull, "added")
          .when(col("h_new").isNull, "removed")
          .when(col("h_old") === col("h_new"), "unchanged")
          .otherwise("changed").as("status"),
        coalesce(col("h_new"), col("h_old")).as("h"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("h").cast("decimal(38,0)")).cast("string").as("hash_sum"))
      .orderBy(col("status"))
  }

  /** Deterministic "next snapshot" of orders — the CDC mutation a day
    * of writes would produce, synthesized reproducibly so both engines
    * build the identical pair: keys ≡ 0 (mod 89) are deleted, keys ≡ 0
    * (mod 97) get a price bump, and keys ≡ 0 (mod 101) are re-inserted
    * shifted by 10⁷ (the "added" rows). The diff's join is a
    * sort-merge join on purpose: a full outer join is the one join
    * type Spark cannot broadcast. */
  def qSnapshotDiff(s: SparkSession, d: String): DataFrame = {
    val rowHash =
      concat_ws("|", col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long"))
    val orders = Tables.orders(s, d)
    val old = orders
    val mutated = orders.where(pmod(col("o_orderkey"), lit(89)) =!= 0)
      .withColumn("o_totalprice",
        when(pmod(col("o_orderkey"), lit(97)) === 0,
          col("o_totalprice") + 1.0).otherwise(col("o_totalprice")))
    val added = orders.where(pmod(col("o_orderkey"), lit(101)) === 0)
      .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
    val newDf = mutated.unionByName(added)
    snapshotDiff(old, newDf, "o_orderkey", rowHash)
  }

  /** JOIN-KEY SKEW REPORT — the diagnostic that decides whether a join
    * needs salting (graft.operators.SkewJoin) or AQE alone will cope:
    * per candidate join key of the fact, the key-frequency
    * distribution summarized as max/avg ratio (the straggler factor —
    * how much longer the hottest reducer runs than the mean) and the
    * share of rows on the top-1 key. One hash aggregate per key column
    * to its key-cardinality table, then a 5-number rollup of THAT —
    * never a sort of the fact.
    *
    * Exactness: counts are integers; both ratios are produced by the
    * integer half-up grid (floor((2·10⁶·a + b)/(2·b))) and one exact
    * double division — bit-identical cross-engine. */
  def qSkewReport(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    def keyStats(keyCol: String): DataFrame = {
      val counts = li.groupBy(col(keyCol)).agg(count(lit(1)).as("c"))
      counts.agg(count(lit(1)).as("n_keys"),
          sum(col("c")).as("n_rows"), max(col("c")).as("max_c"),
          // Σc² — the row count a self-join on this key would produce
          // (the basket/dedup pair-join planning number); accumulated
          // as exact DECIMAL (one mega-hot key's c² already strains
          // 2⁶³ at 100 TB) and CLOSED TO STRING — the exact-wide-
          // integer rule q_table_fingerprint uses: past 2⁵³ a double
          // close would depend on both engines' wide-decimal→double
          // rounding agreeing, and a raw decimal output column defeats
          // the harness hash (Agg contract)
          sum((col("c").cast("decimal(19,0)") * col("c"))
            .cast("decimal(38,0)")).cast("decimal(38,0)")
            .cast("string").as("selfjoin_rows"))
        .select(lit(keyCol).as("join_key"), col("n_keys"), col("n_rows"),
          col("max_c"), col("selfjoin_rows"),
          // DECIMAL intermediate: 2·10⁶·max_c·n_keys passes 2⁶³ around
          // 10¹⁰ keys — reachable for a 100 TB fact; the ppm quotient
          // itself always fits BIGINT
          (expr("CAST((CAST(2000000 AS DECIMAL(38,0)) * max_c * n_keys " +
            "+ n_rows) DIV (CAST(2 AS DECIMAL(38,0)) * n_rows) AS BIGINT)")
            .cast("double") / lit(1000000.0)).as("straggler_factor"),
          (expr("CAST((2000000 * max_c + n_rows) DIV (2 * n_rows) AS BIGINT)")
            .cast("double") / lit(1000000.0)).as("top1_share"))
    }
    keyStats("l_orderkey")
      .unionByName(keyStats("l_partkey"))
      .unionByName(keyStats("l_suppkey"))
      .orderBy(col("join_key"))
  }

  /** The star schema's foreign-key edges, shared by qRefIntegrity's
    * plan and its generated oracle: (edge label, child table, FK col,
    * parent table, PK col). */
  val FkEdges: Seq[(String, String, String, String, String)] = Seq(
    ("customer.c_nationkey->nation", "customer", "c_nationkey",
      "nation", "n_nationkey"),
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
      "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey",
      "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
      "supplier", "s_suppkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey",
      "region", "r_regionkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey",
      "customer", "c_custkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey",
      "nation", "n_nationkey"))

  /** REFERENTIAL-INTEGRITY AUDIT — the constraint check a lake runs
    * because parquet enforces nothing: for every FK edge of the star
    * schema, how many child rows are orphaned (FK with no parent) and
    * how many parent rows are dead weight (never referenced). Orphans
    * break inner-join completeness silently; unreferenced parents are
    * the dimension bloat a broadcast-size estimate must not count on
    * trimming. Per edge: ONE map-side-partial aggregate of the child
    * to its key-cardinality table (the q_skew_report discipline —
    * never a row-level anti join), then a full outer join against the
    * parent KEY SET only; the join carries |keys| rows, not |child|.
    * At 100 TB the parent side of every edge here is the small one
    * and hash-joins after the child collapses to distinct keys. */
  def qRefIntegrity(s: SparkSession, d: String): DataFrame = {
    def table(name: String): DataFrame = name match {
      case "customer" => Tables.customer(s, d)
      case "lineitem" => Tables.lineitem(s, d)
      case "nation"   => Tables.nation(s, d)
      case "orders"   => Tables.orders(s, d)
      case "part"     => Tables.part(s, d)
      case "region"   => Tables.region(s, d)
      case "supplier" => Tables.supplier(s, d)
    }
    FkEdges.map { case (label, child, fk, parent, pk) =>
      fkAudit(table(child), fk, table(parent), pk, label)
    }.reduce(_.unionByName(_)).orderBy(col("edge"))
  }

  /** One FK edge's audit row — split out so specs can plant orphaned
    * children and unreferenced parents. */
  def fkAudit(child: DataFrame, fk: String, parent: DataFrame,
      pk: String, label: String): DataFrame = {
    val c = child.groupBy(col(fk).cast("long").as("k"))
      .agg(count(lit(1)).as("n_c"))
    val p = parent.select(col(pk).cast("long").as("k"),
      lit(1L).as("isp"))
    c.join(p, Seq("k"), "full_outer")
      .agg(
        sum(coalesce(col("n_c"), lit(0L))).as("n_child"),
        sum(when(col("isp").isNull, col("n_c")).otherwise(0L))
          .as("n_orphan"),
        sum(coalesce(col("isp"), lit(0L))).as("n_parent"),
        sum(when(col("n_c").isNull, 1L).otherwise(0L))
          .as("n_unref_parent"))
      .select(lit(label).as("edge"), col("n_child"), col("n_orphan"),
        col("n_parent"), col("n_unref_parent"))
  }

  /** POINT-IN-TIME JOIN — the feature-store correctness shape: each
    * purchase event joined to the SCD2 dimension version (the user's
    * event_type state history from q_scd2_history) that was valid AT
    * the purchase's own timestamp, never a later one (the
    * training-serving leakage rule). NOT the naive key-equi join with
    * an interval filter — that fans every fact out to ALL of its
    * user's versions before filtering, quadratic in versions per key.
    * Instead the scalable as-of merge: dimension versions and facts
    * UNION into one stream, ONE window per user ordered by
    * (ts, dim-before-fact, valid_to) carries the last-seen version
    * forward — zero fan-out, one shuffle on user_id, and version
    * chains of any length cost O(1) window state. A version starting
    * exactly at the fact's timestamp applies (valid_from <= ts); of
    * several versions opening on the same microsecond the survivor is
    * the non-zero-length one, which the valid_to ordering puts last —
    * exactly the version the interval-join oracle's
    * `valid_from <= ts < valid_to` test keeps. */
  def qPitJoin(s: SparkSession, d: String): DataFrame =
    pitJoin(Tables.events(s, d))

  /** The as-of merge core over any frame with the events schema —
    * split out so specs can plant boundary-case timelines. The
    * dimension is the SCD2 history of the user's BROWSING state
    * (purchases excluded from the changelog — a dimension built from
    * the fact type itself would trivially answer "purchase" for every
    * fact); a purchase before any browsing state reports NULL state
    * (the cold/organic purchase), which is why the oracle joins
    * LEFT. */
  def pitJoin(events: DataFrame): DataFrame = {
    val ev = events
      .withColumn("ts_us", unix_micros(col("ts")))
    val dim = scd2History(events
      .where(col("event_type") =!= "purchase"))
      .select(col("user_id"), col("valid_from_us").as("ts_us"),
        lit(0).as("tie"), col("valid_to_us").as("vto"),
        col("event_type").as("state"),
        lit(null).cast("long").as("event_id"),
        lit(null).cast("double").as("value"))
    val facts = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us"), lit(1).as("tie"),
        lit(null).cast("long").as("vto"),
        lit(null).cast("string").as("state"),
        col("event_id"), col("value"))
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("tie"), col("vto").asc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dim.unionByName(facts)
      .withColumn("dimrec", when(col("tie") === 0,
        struct(col("state"), col("ts_us").as("vfrom"))))
      .withColumn("pit", last(col("dimrec"), ignoreNulls = true)
        .over(byUser))
      .where(col("tie") === 1)
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("pit.state").as("state_at"),
        col("pit.vfrom").as("state_since_us"), col("value"))
      .orderBy(col("event_id"))
  }

  /** The join-size pairs qJoinCardEst prices, shared with its oracle:
    * (label, left table, left key, right table, right key). Two
    * self-joins with real key skew plus the FK join. */
  val CardEstJoins: Seq[(String, String, String, String, String)] = Seq(
    ("lineitem*lineitem@partkey", "lineitem", "l_partkey",
      "lineitem", "l_partkey"),
    ("lineitem*orders@orderkey", "lineitem", "l_orderkey",
      "orders", "o_orderkey"),
    ("orders*orders@custkey", "orders", "o_custkey",
      "orders", "o_custkey"))

  /** JOIN-CARDINALITY ESTIMATION AUDIT — the planner's number checked
    * against ground truth: for each join pair, the textbook
    * uniformity estimate |R|·|S| / max(ndv_R, ndv_S) (what a
    * cost-based optimizer without histograms uses) next to the EXACT
    * output size Σ_k a_k·b_k, with the over/under as integer ppm. The
    * gap IS the skew measurement: a hot key inflates Σ a_k·b_k far
    * past the uniform guess, and this report is how you find out
    * before the 100 TB join does. Cost: one key-cardinality aggregate
    * per side (map-side partial), an inner join of the two KEY tables
    * (|keys| rows, never |rows|), and a 1-row rollup. Both row counts
    * accumulate as exact DECIMAL(38,0) and close to STRING (the
    * q_skew_report selfjoin_rows rule — Σ a·b passes 2⁵³ long before
    * 100 TB); the actionable ratio closes on the exact integer-ppm
    * grid, whose quotient always fits BIGINT. */
  def qJoinCardEst(s: SparkSession, d: String): DataFrame = {
    def table(name: String): DataFrame = name match {
      case "lineitem" => Tables.lineitem(s, d)
      case "orders"   => Tables.orders(s, d)
    }
    CardEstJoins.map { case (label, lt, lk, rt, rk) =>
      val l = table(lt).groupBy(col(lk).cast("long").as("k"))
        .agg(count(lit(1)).as("a"))
      val r = table(rt).groupBy(col(rk).cast("long").as("k"))
        .agg(count(lit(1)).as("b"))
      val sides = l.agg(sum(col("a")).as("n_l"),
          count(lit(1)).as("ndv_l"))
        .crossJoin(r.agg(sum(col("b")).as("n_r"),
          count(lit(1)).as("ndv_r")))
      l.join(r, Seq("k"))
        .agg(sum((col("a").cast("decimal(19,0)") * col("b"))
          .cast("decimal(38,0)")).cast("decimal(38,0)").as("exact"))
        .crossJoin(broadcast(sides))
        .select(lit(label).as("join_name"),
          col("n_l"), col("n_r"), col("ndv_l"), col("ndv_r"),
          col("exact").cast("string").as("exact_rows"),
          expr("CAST((CAST(n_l AS DECIMAL(38,0)) * n_r) DIV " +
            "GREATEST(ndv_l, ndv_r) AS BIGINT)").as("est_rows"),
          expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * " +
            "((CAST(n_l AS DECIMAL(38,0)) * n_r) DIV " +
            "GREATEST(ndv_l, ndv_r))) DIV exact AS BIGINT)")
            .as("est_ppm_of_exact"))
    }.reduce(_.unionByName(_)).orderBy(col("join_name"))
  }

  /** LEAKAGE-SAFE OUT-OF-FOLD TARGET ENCODING — the feature-store
    * staple beside q_pit_join's as-of merge: encode the categorical
    * c_mktsegment by the mean order value its members generate,
    * computed OUT OF FOLD so no customer's own orders ever leak into
    * the encoding its training rows see. Folds are assigned to the
    * ENTITY (hash(c_custkey) → 5 folds, the q_split_train_test
    * fingerprint discipline), not the row — row-level folds would
    * still leak a customer's spending into its own encoding through
    * its other orders, the classic target-leak bug this op exists to
    * prevent. Reported per (segment, fold): the raw out-of-fold mean
    * and the m=20 smoothed encoding that shrinks thin cells toward
    * the (equally out-of-fold) global prior — the standard
    * high-cardinality variant (Micci-Barreca 2001).
    *
    * Exactness: order values quantize to integer cents on entry;
    * every encoding is an integer DIV of exact cent sums — no float
    * anywhere, bit-identical cross-engine (empty-cell guards return
    * NULL rather than divide by zero).
    *
    * Scale shape: the corpus is touched by ONE per-customer aggregate
    * (map-side partial) and one FK join to customer for the segment;
    * everything after lives on |segments|·|folds| ≈ 25 rows with the
    * totals joined back broadcast. The 100 TB cost is the cost of
    * scanning orders once. */
  def qTargetEncoding(s: SparkSession, d: String): DataFrame = {
    val folds = 5
    val m = 20
    val perCust = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_o"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("s_o"))
    val cells = perCust
      .join(Tables.customer(s, d),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"),
        floor(graft.operators.Sampling.hashFraction(col("c_custkey")) *
          folds).cast("int").as("fold"),
        col("n_o"), col("s_o"))
      .groupBy(col("c_mktsegment"), col("fold"))
      .agg(sum(col("n_o")).as("n_f"), sum(col("s_o")).as("s_f"))
    val segTot = cells.groupBy(col("c_mktsegment"))
      .agg(sum(col("n_f")).as("n_t"), sum(col("s_f")).as("s_t"))
    val glob = cells.agg(sum(col("n_f")).as("g_n"),
      sum(col("s_f")).as("g_s"))
    cells.join(broadcast(segTot), "c_mktsegment")
      .crossJoin(broadcast(glob))
      .select(col("c_mktsegment"), col("fold"),
        (col("n_t") - col("n_f")).as("n_oof"),
        expr("CASE WHEN n_t > n_f THEN (s_t - s_f) DIV (n_t - n_f) " +
          "END").as("enc_cents"),
        expr("CASE WHEN g_n > n_f THEN (g_s - s_f) DIV (g_n - n_f) " +
          "END").as("prior_cents"),
        expr(s"CASE WHEN g_n > n_f THEN (s_t - s_f + $m * " +
          s"((g_s - s_f) DIV (g_n - n_f))) DIV (n_t - n_f + $m) " +
          "END").as("enc_smooth_cents"))
      .orderBy(col("c_mktsegment"), col("fold"))
  }

  /** WEIGHT-OF-EVIDENCE ENCODING + INFORMATION VALUE — the
    * feature-store companion to q_target_encoding for a BINARY
    * target: per category c of the feature (customer market segment),
    *   WOE_c = ln( (pos_c/pos) / (neg_c/neg) )
    * with the target "order is urgent-priority", and the feature's
    * screening score IV = Σ_c (pos_c/pos − neg_c/neg)·WOE_c reported
    * as each category's additive iv_term. Add-one smoothing keeps
    * empty cells finite (documented in the output: counts are RAW,
    * the ratios inside ln/IV are smoothed).
    *
    * Exactness: counts aggregate exactly; the WOE argument is built
    * from TWO ratios of exact BIGINT-valued doubles — every operand
    * stays below 2^53 up to ~10^15 rows (an n²-sized cross product
    * would not) — so both engines feed the IDENTICAL double into one
    * ln, closed on the 1e-8 grid (the nb_langid log discipline);
    * iv_term multiplies two such closed values and re-rounds at 1e-8.
    *
    * Scale: one orders→customer FK join (dimension side broadcasts at
    * any realistic segment cardinality... here the FACT side is
    * orders and the join key is customer, so the join shuffles on
    * custkey like q_target_encoding), then a ≤|segments| aggregate;
    * the pos/neg grand totals are a 1-row broadcast scalar cross. */
  def qWoeEncoding(s: SparkSession, d: String): DataFrame = {
    val lbl = Tables.orders(s, d)
      .join(Tables.customer(s, d),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"),
        when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)
          .as("y"))
    val cells = lbl.groupBy(col("c_mktsegment"))
      .agg(sum(col("y")).as("pos_c"),
        sum(lit(1L) - col("y")).as("neg_c"))
    val tot = cells.agg(sum(col("pos_c")).as("pos"),
      sum(col("neg_c")).as("neg"), count(lit(1)).as("n_cat"))
    cells.crossJoin(broadcast(tot))
      // two exact-int ratios, NOT one n²-sized product: every operand
      // stays below 2^53 up to ~10^15 rows, so both engines feed the
      // identical double into ln even at 100 TB
      .withColumn("woe", round(
        log(((col("pos_c") + 1).cast("double") /
          (col("neg_c") + 1).cast("double")) *
          ((col("neg") + col("n_cat")).cast("double") /
            (col("pos") + col("n_cat")).cast("double"))), 8))
      .select(col("c_mktsegment"), col("pos_c"), col("neg_c"),
        col("woe"),
        round((((col("pos_c") + 1).cast("double") /
          (col("pos") + col("n_cat")).cast("double")) -
          ((col("neg_c") + 1).cast("double") /
            (col("neg") + col("n_cat")).cast("double"))) * col("woe"), 8)
          .as("iv_term"))
      .orderBy(col("c_mktsegment"))
  }

  /** BENFORD FIRST-DIGIT AUDIT — the fraud / synthetic-data screen
    * auditors run on money columns: the first significant digit of a
    * naturally-grown magnitude follows P(d) = log10(1 + 1/d); a
    * generator or tamperer rarely obeys it. The digit is extracted
    * WITHOUT ANY FLOAT: first character of the exact integer cents
    * (first significant digit is invariant under the ×100 scale), so
    * no log10-of-double boundary can disagree between engines.
    * Expected shares are floor(log10(1+1/d)·10⁶) integer-ppm
    * LITERALS, observed shares integer floor division, deviation
    * their difference. One map-side-partial aggregate to ≤9 rows. */
  def qBenfordAudit(s: SparkSession, d: String): DataFrame = {
    val expect = Seq(301029L, 176091L, 124938L, 96910L, 79181L,
      66946L, 57991L, 51152L, 45757L)
    val expectCol = expect.zipWithIndex.foldLeft(lit(0L)) {
      case (acc, (p, i)) =>
        when(col("digit") === (i + 1).toString, p).otherwise(acc)
    }
    Tables.orders(s, d)
      .select(substring(
        round(col("o_totalprice") * 100).cast("long").cast("string"),
        1, 1).as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(
        Tables.orders(s, d).agg(count(lit(1)).as("n_total"))))
      .select(col("digit"), col("n"),
        expr("(1000000 * n) DIV n_total").as("share_ppm"),
        expectCol.as("expected_ppm"))
      .withColumn("dev_ppm", col("share_ppm") - col("expected_ppm"))
      .orderBy(col("digit"))
  }

  /** INVENTORY BALANCE WITH A FLOOR AT ZERO — the clamped running
    * stock level max(0, prev + net) per part. The recursion is
    * inherently sequential (each day depends on the clamped previous
    * day), which naively forces a per-key ordered fold; the closed
    * form is Lindley's equation (the waiting-time recursion of
    * queueing theory): B_i = S_i − min(0, min_{j≤i} S_j) with S the
    * plain prefix sum — TWO stock window passes on ONE (part, day)
    * partitioning, no sequential state anywhere, exactly parallel.
    * Synthetic flow rule (documented): a returned line ('R') restocks
    * TWICE its quantity, every other line ships its quantity out —
    * ≈ zero-drift so the floor engages on real data. All integers;
    * stockout marks exhausted days. The property spec proves the
    * closed form equals the day-by-day clamped fold. */
  def qInventoryBalance(s: SparkSession, d: String): DataFrame = {
    val fl = Tables.lineitem(s, d)
      .select(col("l_partkey"), to_date(col("l_shipdate")).as("day"),
        when(col("l_returnflag") === "R",
          (col("l_quantity") * 2).cast("long"))
          .otherwise(-col("l_quantity").cast("long")).as("q"))
    val net = fl.groupBy(col("l_partkey"), col("day"))
      .agg(sum(col("q")).as("net_qty"))
    val w = Window.partitionBy(col("l_partkey")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    net
      .withColumn("cum_net", sum(col("net_qty")).over(w))
      .withColumn("balance",
        col("cum_net") - least(min(col("cum_net")).over(w), lit(0L)))
      .select(col("l_partkey"), col("day"), col("net_qty"), col("balance"),
        when(col("balance") === 0L, 1L).otherwise(0L).as("stockout"))
      .orderBy(col("l_partkey"), col("day"))
  }

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_inventory_balance" -> (qInventoryBalance _),
    "q_benford_audit" -> (qBenfordAudit _),
    "q_ref_integrity" -> (qRefIntegrity _),
    "q_pit_join" -> (qPitJoin _),
    "q_target_encoding" -> (qTargetEncoding _),
    "q_woe_encoding" -> (qWoeEncoding _),
    "q_join_card_est" -> (qJoinCardEst _),
    "q_skew_report" -> (qSkewReport _),
    "q_snapshot_diff" -> (qSnapshotDiff _),
    "q_table_fingerprint" -> (qTableFingerprint _),
    "q_profile" -> (qProfile _),
    "q_merge_upsert" -> (qMergeUpsert _),
    "q_scd2_history" -> (qScd2History _),
    "q_vacuum_sweep" -> (qVacuumSweep _),
    "q_compaction_plan" -> (qCompactionPlan _),
    "q_zonemap_prune" -> (qZonemapPrune _),
    "q_zorder" -> (qZorder _),
    "q_scd2_incremental" -> (qScd2Incremental _),
    "q_incremental_agg" -> (qIncrementalAgg _),
    "q_incremental_hist" -> (qIncrementalHist _),
    "q_incremental_topk" -> (qIncrementalTopk _),
    "q_quantile_rollup" -> (qQuantileRollup _),
    "q_partition_prune" -> (qPartitionPrune _),
    "q_events_enrich" -> (qEventsEnrich _),
    "q_quality_audit" -> (qQualityAudit _))

  /** Full-rebuild SQL — q_scd2_history's oracle, and by the
    * incremental-equals-rebuild invariant also q_scd2_incremental's. */
  /** The SCD2 rebuild CTE chain (lagged → chg → hist) shared by the
    * q_scd2_history oracle and the vacuum sweep. */
  private val Scd2Ctes =
    """lagged AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id,
      |    LAG(event_type, 1) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS prev_type
      |  FROM events),
      |chg AS (
      |  SELECT user_id, event_type, ts_us, event_id FROM lagged
      |  WHERE prev_type IS NULL OR prev_type <> event_type),
      |hist AS (
      |  SELECT user_id, event_type, ts_us AS valid_from_us,
      |    LEAD(ts_us, 1) OVER (PARTITION BY user_id
      |      ORDER BY ts_us, event_id) AS valid_to_us
      |  FROM chg)""".stripMargin

  private val Scd2RebuildSql =
    s"""WITH $Scd2Ctes
       |SELECT user_id, event_type, valid_from_us, valid_to_us
       |FROM hist
       |ORDER BY user_id, valid_from_us, event_type""".stripMargin

  /** DuckDB twin of qVacuumSweep — ladder generated from the same
    * VacuumRetentionHours constant. */
  private def vacuumSweepOracle: String = {
    val conds = VacuumRetentionHours.zipWithIndex.map { case (h, i) =>
      s"SUM(CASE WHEN valid_to_us < anchor_us - ${h * 3600000000L} THEN 1 ELSE 0 END) AS v$i"
    }.mkString(",\n    ")
    val rows = VacuumRetentionHours.zipWithIndex.map { case (h, i) =>
      s"""SELECT CAST($h AS BIGINT) AS retention_hours,
         |  CAST(n_closed AS BIGINT) AS n_closed,
         |  CAST(v$i AS BIGINT) AS n_vacuumable,
         |  ROUND(v$i / GREATEST(n_closed, 1), 6) AS frac_vacuumable
         |FROM agg""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $Scd2Ctes,
       |closed AS (SELECT valid_to_us FROM hist WHERE valid_to_us IS NOT NULL),
       |a AS (SELECT MAX(epoch_us(ts)) AS anchor_us FROM events),
       |agg AS (
       |  SELECT COUNT(*) AS n_closed,
       |    $conds
       |  FROM closed CROSS JOIN a)
       |$rows
       |ORDER BY retention_hours""".stripMargin
  }

  /** DuckDB twin of qRefIntegrity — edge list generated from the same
    * FkEdges constant. */
  private def refIntegrityOracle: String =
    FkEdges.map { case (label, child, fk, parent, pk) =>
      s"""SELECT '$label' AS edge,
         |  CAST(SUM(COALESCE(n_c, 0)) AS BIGINT) AS n_child,
         |  CAST(SUM(CASE WHEN isp IS NULL THEN n_c ELSE 0 END)
         |    AS BIGINT) AS n_orphan,
         |  CAST(SUM(COALESCE(isp, 0)) AS BIGINT) AS n_parent,
         |  CAST(SUM(CASE WHEN n_c IS NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_unref_parent
         |FROM (SELECT CAST($fk AS BIGINT) AS k, COUNT(*) AS n_c
         |      FROM $child GROUP BY 1) c
         |FULL OUTER JOIN (SELECT CAST($pk AS BIGINT) AS k, 1 AS isp
         |      FROM $parent) p USING (k)""".stripMargin
    }.mkString("\nUNION ALL\n") + "\nORDER BY edge"

  /** DuckDB twin of qPitJoin — the naive interval join (same rows as
    * the as-of merge; the fan-out shape is fine at oracle scale). The
    * CTE chain is Scd2Ctes with the purchase rows excluded from the
    * changelog; LEFT keeps cold purchases with NULL state. */
  private def pitJoinOracle: String =
    """WITH lagged AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id,
      |    LAG(event_type, 1) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS prev_type
      |  FROM events WHERE event_type <> 'purchase'),
      |chg AS (
      |  SELECT user_id, event_type, ts_us, event_id FROM lagged
      |  WHERE prev_type IS NULL OR prev_type <> event_type),
      |hist AS (
      |  SELECT user_id, event_type, ts_us AS valid_from_us,
      |    LEAD(ts_us, 1) OVER (PARTITION BY user_id
      |      ORDER BY ts_us, event_id) AS valid_to_us
      |  FROM chg),
      |p AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
      |  FROM events WHERE event_type = 'purchase')
      |SELECT p.event_id, p.user_id, p.ts_us,
      |  h.event_type AS state_at, h.valid_from_us AS state_since_us,
      |  p.value
      |FROM p LEFT JOIN hist h ON p.user_id = h.user_id
      |  AND h.valid_from_us <= p.ts_us
      |  AND (h.valid_to_us IS NULL OR p.ts_us < h.valid_to_us)
      |ORDER BY p.event_id""".stripMargin

  /** DuckDB twin of qJoinCardEst — pair list generated from the same
    * CardEstJoins constant; HUGEINT carries what Spark's
    * DECIMAL(38,0) does. */
  private def joinCardEstOracle: String =
    CardEstJoins.map { case (label, lt, lk, rt, rk) =>
      s"""SELECT '$label' AS join_name, n_l, n_r, ndv_l, ndv_r,
         |  CAST(exact AS VARCHAR) AS exact_rows,
         |  CAST((CAST(n_l AS HUGEINT) * n_r)
         |    // GREATEST(ndv_l, ndv_r) AS BIGINT) AS est_rows,
         |  CAST((CAST(1000000 AS HUGEINT) *
         |    ((CAST(n_l AS HUGEINT) * n_r) // GREATEST(ndv_l, ndv_r)))
         |    // exact AS BIGINT) AS est_ppm_of_exact
         |FROM (
         |  SELECT CAST(SUM(CAST(a AS HUGEINT) * b) AS HUGEINT) AS exact
         |  FROM (SELECT CAST($lk AS BIGINT) AS k, COUNT(*) AS a
         |        FROM $lt GROUP BY 1) l
         |  JOIN (SELECT CAST($rk AS BIGINT) AS k, COUNT(*) AS b
         |        FROM $rt GROUP BY 1) r USING (k)) x
         |CROSS JOIN (
         |  SELECT (SELECT COUNT(*) FROM $lt) AS n_l,
         |    (SELECT COUNT(*) FROM $rt) AS n_r,
         |    (SELECT COUNT(DISTINCT $lk) FROM $lt) AS ndv_l,
         |    (SELECT COUNT(DISTINCT $rk) FROM $rt) AS ndv_r) s""".stripMargin
    }.mkString("\nUNION ALL\n") + "\nORDER BY join_name"

  /** DuckDB twin of qZonemapPrune — layouts and ladder generated from
    * the same ZmapFileKeys / ZmapCutoffs constants. */
  private def zonemapPruneOracle: String = {
    val conds = ZmapCutoffs.zipWithIndex.map { case (c, i) =>
      s"""CAST(SUM(CASE WHEN max_ship < TIMESTAMP '$c' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS f$i,
         |    CAST(SUM(CASE WHEN max_ship < TIMESTAMP '$c' THEN n_rows
         |      ELSE 0 END) AS BIGINT) AS r$i""".stripMargin
    }.mkString(",\n    ")
    val rows = ZmapCutoffs.zipWithIndex.map { case (c, i) =>
      s"""SELECT layout, '$c' AS cutoff, n_files, f$i AS n_skip_files,
         |  rows_total, r$i AS n_skip_rows FROM agg""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH li AS (SELECT l_orderkey, l_shipdate FROM lineitem),
       |f1 AS (
       |  SELECT 'insertion' AS layout, l_orderkey // $ZmapFileKeys AS file_id,
       |    COUNT(*) AS n_rows, MAX(l_shipdate) AS max_ship
       |  FROM li GROUP BY 1, 2),
       |f2 AS (
       |  SELECT 'date' AS layout,
       |    year(l_shipdate) * 4 + quarter(l_shipdate) AS file_id,
       |    COUNT(*) AS n_rows, MAX(l_shipdate) AS max_ship
       |  FROM li GROUP BY 1, 2),
       |files AS (SELECT * FROM f1 UNION ALL SELECT * FROM f2),
       |agg AS (
       |  SELECT layout, COUNT(*) AS n_files,
       |    CAST(SUM(n_rows) AS BIGINT) AS rows_total,
       |    $conds
       |  FROM files GROUP BY 1)
       |$rows
       |ORDER BY layout, cutoff""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    "q_inventory_balance" ->
      // same doubled-restock flow rule and the same Lindley closed
      // form: balance = prefix sum minus its running minimum (capped
      // at zero), two windows on one (part, day) ordering
      """WITH fl AS (
        |  SELECT l_partkey, CAST(l_shipdate AS DATE) AS day,
        |    CASE WHEN l_returnflag = 'R'
        |      THEN CAST(l_quantity * 2 AS BIGINT)
        |      ELSE -CAST(l_quantity AS BIGINT) END AS q
        |  FROM lineitem),
        |net AS (
        |  SELECT l_partkey, day, CAST(SUM(q) AS BIGINT) AS net_qty
        |  FROM fl GROUP BY 1, 2),
        |c AS (
        |  SELECT l_partkey, day, net_qty,
        |    CAST(SUM(net_qty) OVER w AS BIGINT) AS cum_net
        |  FROM net
        |  WINDOW w AS (PARTITION BY l_partkey ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |b AS (
        |  SELECT l_partkey, day, net_qty,
        |    cum_net - LEAST(MIN(cum_net) OVER w, 0) AS balance
        |  FROM c
        |  WINDOW w AS (PARTITION BY l_partkey ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT l_partkey, day, net_qty, balance,
        |  CAST(CASE WHEN balance = 0 THEN 1 ELSE 0 END AS BIGINT)
        |    AS stockout
        |FROM b ORDER BY l_partkey, day""".stripMargin,
    "q_ref_integrity" -> refIntegrityOracle,
    "q_pit_join" -> pitJoinOracle,
    "q_benford_audit" ->
      """WITH d AS (
        |  SELECT SUBSTR(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
        |    AS VARCHAR), 1, 1) AS digit
        |  FROM orders),
        |h AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY 1),
        |t AS (SELECT COUNT(*) AS n_total FROM orders),
        |e(digit, expected_ppm) AS (VALUES
        |  ('1', 301029), ('2', 176091), ('3', 124938), ('4', 96910),
        |  ('5', 79181), ('6', 66946), ('7', 57991), ('8', 51152),
        |  ('9', 45757))
        |SELECT h.digit, n, (1000000 * n) // n_total AS share_ppm,
        |  CAST(expected_ppm AS BIGINT) AS expected_ppm,
        |  (1000000 * n) // n_total - expected_ppm AS dev_ppm
        |FROM h CROSS JOIN t JOIN e ON h.digit = e.digit
        |ORDER BY h.digit""".stripMargin,
    "q_woe_encoding" ->
      """WITH lbl AS (
        |  SELECT c_mktsegment,
        |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |cells AS (
        |  SELECT c_mktsegment, CAST(SUM(y) AS BIGINT) AS pos_c,
        |    CAST(SUM(1 - y) AS BIGINT) AS neg_c
        |  FROM lbl GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(pos_c) AS BIGINT) AS pos,
        |    CAST(SUM(neg_c) AS BIGINT) AS neg,
        |    COUNT(*) AS n_cat FROM cells),
        |w AS (
        |  SELECT c_mktsegment, pos_c, neg_c,
        |    ROUND(LN((CAST(pos_c + 1 AS DOUBLE) /
        |        CAST(neg_c + 1 AS DOUBLE)) *
        |      (CAST(neg + n_cat AS DOUBLE) /
        |        CAST(pos + n_cat AS DOUBLE))), 8) AS woe,
        |    pos, neg, n_cat
        |  FROM cells CROSS JOIN tot)
        |SELECT c_mktsegment, pos_c, neg_c, woe,
        |  ROUND((CAST(pos_c + 1 AS DOUBLE) / CAST(pos + n_cat AS DOUBLE) -
        |    CAST(neg_c + 1 AS DOUBLE) / CAST(neg + n_cat AS DOUBLE))
        |    * woe, 8) AS iv_term
        |FROM w ORDER BY c_mktsegment""".stripMargin,
    "q_target_encoding" ->
      """WITH oc AS (
        |  SELECT o_custkey, COUNT(*) AS n_o,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
        |      AS BIGINT) AS s_o
        |  FROM orders GROUP BY 1),
        |cells AS (
        |  SELECT c_mktsegment,
        |    CAST(FLOOR(CAST(CONCAT('0x', SUBSTR(MD5(
        |      CAST(c_custkey AS VARCHAR)), 1, 6)) AS INTEGER)
        |      / 16777216.0 * 5) AS INT) AS fold,
        |    CAST(SUM(n_o) AS BIGINT) AS n_f,
        |    CAST(SUM(s_o) AS BIGINT) AS s_f
        |  FROM oc JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |seg AS (
        |  SELECT c_mktsegment, CAST(SUM(n_f) AS BIGINT) AS n_t,
        |    CAST(SUM(s_f) AS BIGINT) AS s_t
        |  FROM cells GROUP BY 1),
        |gl AS (
        |  SELECT CAST(SUM(n_f) AS BIGINT) AS g_n,
        |    CAST(SUM(s_f) AS BIGINT) AS g_s FROM cells)
        |SELECT c.c_mktsegment, c.fold, (n_t - n_f) AS n_oof,
        |  CASE WHEN n_t > n_f
        |    THEN (s_t - s_f) // (n_t - n_f) END AS enc_cents,
        |  CASE WHEN g_n > n_f
        |    THEN (g_s - s_f) // (g_n - n_f) END AS prior_cents,
        |  CASE WHEN g_n > n_f
        |    THEN (s_t - s_f + 20 * ((g_s - s_f) // (g_n - n_f)))
        |      // (n_t - n_f + 20) END AS enc_smooth_cents
        |FROM cells c JOIN seg USING (c_mktsegment) CROSS JOIN gl
        |ORDER BY c.c_mktsegment, c.fold""".stripMargin,
    "q_join_card_est" -> joinCardEstOracle,
    "q_skew_report" -> {
      def block(k: String): String =
        s"""SELECT '$k' AS join_key, n_keys, n_rows, max_c,
           |  CAST(selfjoin_rows AS VARCHAR) AS selfjoin_rows,
           |  CAST((CAST(2000000 AS HUGEINT) * max_c * n_keys + n_rows)
           |    // (2 * n_rows) AS BIGINT) / 1000000.0 AS straggler_factor,
           |  CAST((2000000 * max_c + n_rows) // (2 * n_rows)
           |    AS BIGINT) / 1000000.0 AS top1_share
           |FROM (
           |  SELECT COUNT(*) AS n_keys, CAST(SUM(c) AS BIGINT) AS n_rows,
           |    CAST(MAX(c) AS BIGINT) AS max_c,
           |    CAST(SUM(CAST(c AS HUGEINT) * c) AS DECIMAL(38,0))
           |      AS selfjoin_rows
           |  FROM (SELECT $k, COUNT(*) AS c FROM lineitem GROUP BY 1))""".stripMargin
      Seq("l_orderkey", "l_partkey", "l_suppkey").map(block)
        .mkString("", "\nUNION ALL\n", "\nORDER BY join_key")
    },
    "q_snapshot_diff" ->
      """WITH oldh AS (
        |  SELECT o_orderkey AS k,
        |    CAST(CONCAT('0x', SUBSTR(MD5(CONCAT_WS('|', o_orderkey,
        |      o_custkey, o_orderstatus,
        |      CAST(ROUND(o_totalprice * 100) AS BIGINT))), 1, 15))
        |      AS BIGINT) AS h_old
        |  FROM orders),
        |newv AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 1.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 89 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_custkey, o_orderstatus,
        |    o_totalprice
        |  FROM orders WHERE o_orderkey % 101 = 0),
        |newh AS (
        |  SELECT o_orderkey AS k,
        |    CAST(CONCAT('0x', SUBSTR(MD5(CONCAT_WS('|', o_orderkey,
        |      o_custkey, o_orderstatus,
        |      CAST(ROUND(o_totalprice * 100) AS BIGINT))), 1, 15))
        |      AS BIGINT) AS h_new
        |  FROM newv),
        |j AS (
        |  SELECT CASE WHEN h_old IS NULL THEN 'added'
        |              WHEN h_new IS NULL THEN 'removed'
        |              WHEN h_old = h_new THEN 'unchanged'
        |              ELSE 'changed' END AS status,
        |    COALESCE(h_new, h_old) AS h
        |  FROM oldh FULL OUTER JOIN newh USING (k))
        |SELECT status, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(h AS DECIMAL(38,0))) AS VARCHAR) AS hash_sum
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_table_fingerprint" ->
      """WITH o AS (
        |  SELECT CAST(CONCAT('0x', SUBSTR(MD5(
        |    CONCAT_WS('|', o_orderkey, o_custkey, o_orderstatus,
        |      CAST(ROUND(o_totalprice * 100) AS BIGINT),
        |      epoch_us(o_orderdate), o_orderpriority)), 1, 15)) AS BIGINT) AS h
        |  FROM orders),
        |na AS (
        |  SELECT CAST(CONCAT('0x', SUBSTR(MD5(
        |    CONCAT_WS('|', n_nationkey, n_name, n_regionkey)), 1, 15))
        |    AS BIGINT) AS h
        |  FROM nation)
        |SELECT tbl, n_rows, fingerprint FROM (
        |  SELECT 'orders' AS tbl, COUNT(*) AS n_rows,
        |    CAST(SUM(CAST(h AS DECIMAL(38,0))) AS VARCHAR) AS fingerprint
        |  FROM o
        |  UNION ALL
        |  SELECT 'nation' AS tbl, COUNT(*) AS n_rows,
        |    CAST(SUM(CAST(h AS DECIMAL(38,0))) AS VARCHAR) AS fingerprint
        |  FROM na)
        |ORDER BY tbl""".stripMargin,
    "q_profile" -> {
      def renderSql(kind: String, e: String) = kind match {
        case "dbl" =>
          s"CAST(CAST(ROUND($e, 4) AS DECIMAL(18,4)) AS VARCHAR)"
        case "date" => s"CAST(CAST($e AS DATE) AS VARCHAR)"
        case _ => s"CAST($e AS VARCHAR)"
      }
      val aggSql = ProfileCols.map { case (c, k) =>
        s"""    CAST(COUNT($c) AS BIGINT) AS ${c}_nn,
           |    CAST(COUNT(DISTINCT $c) AS BIGINT) AS ${c}_nd,
           |    ${renderSql(k, s"MIN($c)")} AS ${c}_min,
           |    ${renderSql(k, s"MAX($c)")} AS ${c}_max""".stripMargin
      }.mkString(",\n")
      val rows = ProfileCols.map { case (c, _) =>
        s"""  SELECT '$c' AS col_name, n_rows,
           |    n_rows - ${c}_nn AS n_nulls,
           |    ROUND(CAST(n_rows - ${c}_nn AS DOUBLE) / n_rows, 6)
           |      AS null_frac,
           |    ${c}_nd AS n_distinct,
           |    ${c}_min AS min_val, ${c}_max AS max_val FROM a""".stripMargin
      }.mkString("\n  UNION ALL\n")
      s"""WITH a AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         |$aggSql
         |  FROM lineitem)
         |$rows
         |ORDER BY col_name""".stripMargin
    },
    "q_merge_upsert" ->
      """WITH ranked AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_type, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, ts_us AS last_ts_us, event_type AS last_type,
        |  value AS last_value
        |FROM ranked WHERE rn = 1 AND event_type <> 'error'
        |ORDER BY user_id""".stripMargin,
    "q_scd2_history" -> Scd2RebuildSql,
    "q_vacuum_sweep" -> vacuumSweepOracle,
    "q_compaction_plan" ->
      s"""WITH files AS (
         |  SELECT strftime(l_shipdate, '%Y-%m') AS part_month,
         |    l_orderkey % $CompactFileMod AS file_id, COUNT(*) AS n_rows
         |  FROM lineitem GROUP BY 1, 2),
         |planned AS (
         |  SELECT *, COALESCE(SUM(n_rows) OVER (PARTITION BY part_month
         |    ORDER BY file_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    AS cum_before
         |  FROM files),
         |outf AS (
         |  SELECT part_month, cum_before // $CompactTargetRows AS out_file,
         |    SUM(n_rows) AS out_rows, COUNT(*) AS n_in
         |  FROM planned GROUP BY 1, 2)
         |SELECT part_month, CAST(SUM(n_in) AS BIGINT) AS n_files,
         |  COUNT(*) AS n_out_files, CAST(SUM(out_rows) AS BIGINT) AS n_rows,
         |  CAST(MAX(out_rows) AS BIGINT) AS max_out_rows
         |FROM outf GROUP BY 1 ORDER BY part_month""".stripMargin,
    "q_zonemap_prune" -> zonemapPruneOracle,
    // the incremental apply must reproduce the full rebuild exactly —
    // the oracle IS the rebuild, checking the maintenance algebra
    "q_scd2_incremental" -> Scd2RebuildSql,
    // the oracle IS the full rebuild — the incremental merge must be
    // indistinguishable from rescanning everything
    // the SCD2 rebuild restricted to pre-cutoff events, interval-
    // joined to the post-cutoff batch (≤ 1 version matches per event)
    "q_events_enrich" ->
      s"""WITH lagged AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id,
        |    LAG(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS prev_type
        |  FROM events WHERE ts < TIMESTAMP '$Scd2Cutoff'),
        |chg AS (
        |  SELECT user_id, event_type, ts_us, event_id FROM lagged
        |  WHERE prev_type IS NULL OR prev_type <> event_type),
        |hist AS (
        |  SELECT user_id, event_type AS state_type, ts_us AS valid_from_us,
        |    LEAD(ts_us, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id) AS valid_to_us
        |  FROM chg),
        |batch AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
        |  FROM events WHERE ts >= TIMESTAMP '$Scd2Cutoff')
        |SELECT b.event_id, b.user_id, b.event_type,
        |  h.state_type, h.valid_from_us
        |FROM batch b LEFT JOIN hist h
        |  ON b.user_id = h.user_id AND h.valid_from_us <= b.ts_us
        |    AND (h.valid_to_us IS NULL OR b.ts_us < h.valid_to_us)
        |ORDER BY b.event_id""".stripMargin,
    // the incremental histogram must reproduce the full rebuild —
    // grid generated from the shared Events.Hist* constants
    "q_incremental_topk" ->
      // oracle = the FULL REBUILD leaderboard (no second
      // implementation of the incremental path)
      """WITH ut AS (
        |  SELECT event_type, user_id,
        |    CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
        |      AS sum_c
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT event_type, user_id, sum_c,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY sum_c DESC, user_id) AS rk
        |  FROM ut)
        |SELECT event_type, CAST(rk AS INTEGER) AS rk, user_id, sum_c
        |FROM r WHERE rk <= 3
        |ORDER BY event_type, rk""".stripMargin,
    "q_incremental_hist" -> {
      val lo = graft.queries.Events.HistLo
      val k = graft.queries.Events.HistBuckets
      val w = (graft.queries.Events.HistHi - lo) / k
      s"""SELECT event_type,
         |  LEAST(GREATEST(CAST(FLOOR((value - $lo) / $w) AS BIGINT), 0),
         |    ${k - 1}) AS bucket,
         |  COUNT(*) AS n
         |FROM events WHERE value IS NOT NULL
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },
    "q_quantile_rollup" -> {
      val lo = graft.queries.Events.HistLo
      val k = graft.queries.Events.HistBuckets
      val w = (graft.queries.Events.HistHi - lo) / k
      val pctSel = QuantileRollupPcts.map(p =>
        s"""MIN(CASE WHEN cum * 100 >= $p * total
           |    THEN CAST($lo + bucket * $w AS BIGINT) END) AS p$p""".stripMargin)
        .mkString(",\n  ")
      s"""WITH daily AS (
         |  SELECT event_type, CAST(ts AS DATE) AS day,
         |    LEAST(GREATEST(CAST(FLOOR((value - $lo) / $w) AS BIGINT), 0),
         |      ${k - 1}) AS bucket,
         |    COUNT(*) AS n
         |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2, 3),
         |weekly AS (
         |  SELECT event_type, CAST(DATE_TRUNC('week', day) AS DATE) AS week,
         |    bucket, SUM(n) AS n
         |  FROM daily GROUP BY 1, 2, 3),
         |c AS (
         |  SELECT event_type, week, bucket, n,
         |    SUM(n) OVER (PARTITION BY event_type, week
         |      ORDER BY bucket) AS cum,
         |    SUM(n) OVER (PARTITION BY event_type, week) AS total
         |  FROM weekly)
         |SELECT event_type, week, CAST(MAX(total) AS BIGINT) AS n_events,
         |  $pctSel
         |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },
    "q_partition_prune" ->
      s"""WITH f AS (
         |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_events,
         |    CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
         |      AS sum_cents
         |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
         |t AS (
         |  SELECT COUNT(*) AS n_total,
         |    SUM(CASE WHEN day >= DATE '$PruneCutoffDay' THEN 1 ELSE 0 END)
         |      AS n_read
         |  FROM f)
         |SELECT f.day, f.n_events, f.sum_cents,
         |  CAST(t.n_read AS BIGINT) AS n_files_read,
         |  CAST(t.n_total AS BIGINT) AS n_files_total
         |FROM f, t WHERE f.day >= DATE '$PruneCutoffDay'
         |ORDER BY f.day""".stripMargin,
    "q_incremental_agg" ->
      """SELECT event_type, CAST(ts AS DATE) AS day,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2
        |ORDER BY event_type, day""".stripMargin,
    "q_zorder" -> {
      val pn = ZOrder.normalizeSql("l_partkey", "minp", "maxp", ZBits)
      val sn = ZOrder.normalizeSql("l_suppkey", "mins", "maxs", ZBits)
      val z = ZOrder.zorderSql(Seq("pn", "sn"), ZBits)
      s"""WITH ext AS (
         |  SELECT MIN(l_partkey) AS minp, MAX(l_partkey) AS maxp,
         |    MIN(l_suppkey) AS mins, MAX(l_suppkey) AS maxs
         |  FROM lineitem),
         |n AS (
         |  SELECT l_partkey, l_suppkey, $pn AS pn, $sn AS sn
         |  FROM lineitem CROSS JOIN ext)
         |SELECT ($z >> $ZBucketShift) AS zbucket,
         |  COUNT(*) AS n_rows,
         |  MIN(l_partkey) AS min_part, MAX(l_partkey) AS max_part,
         |  MIN(l_suppkey) AS min_supp, MAX(l_suppkey) AS max_supp
         |FROM n
         |GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "q_quality_audit" ->
      """WITH t AS (
        |  SELECT COUNT(*) AS n_rows,
        |    CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
        |      THEN 1 ELSE 0 END) AS BIGINT) AS quantity_range,
        |    CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1
        |      THEN 1 ELSE 0 END) AS BIGINT) AS discount_range,
        |    CAST(SUM(CASE WHEN l_extendedprice <= 0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS price_positive
        |  FROM lineitem),
        |fk AS (
        |  SELECT COUNT(*) AS orderkey_resolves
        |  FROM lineitem l LEFT JOIN orders o
        |    ON l.l_orderkey = o.o_orderkey
        |  WHERE o.o_orderkey IS NULL),
        |checks AS (
        |  SELECT 'quantity_range' AS check_name, n_rows,
        |    quantity_range AS n_violations FROM t
        |  UNION ALL SELECT 'discount_range', n_rows, discount_range FROM t
        |  UNION ALL SELECT 'price_positive', n_rows, price_positive FROM t
        |  UNION ALL SELECT 'orderkey_resolves', t.n_rows,
        |    fk.orderkey_resolves FROM t, fk)
        |SELECT check_name, n_rows, n_violations,
        |  ROUND(n_violations / n_rows, 6) AS violation_rate
        |FROM checks ORDER BY check_name""".stripMargin)
}
