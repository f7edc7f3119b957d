package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.ExplainMode
import graft.{Session, SparkEntry}

/** Dev tool: snapshot formatted physical plans of representative
  * queries into PLANS.md — the .explain audit trail for the scale
  * posture claims in SURVEY.md §4 (broadcasts, pushdown, partition-
  * parallel windows, banded joins). Regenerate after plan-shape
  * changes: `sbt "runMain graft.tools.ExplainDump"`. With query names
  * as arguments (`runMain graft.tools.ExplainDump q_tpch3 q_tpch5`, or
  * one comma-separated list) it prints just those plans to stdout
  * instead. Input dir from `SPARK_GRAFT_SF_DIR` (default sf0.001). */
object ExplainDump {

  private val Show = Seq(
    "q_tpch3" -> "3-way join: fact shuffle once, customer dim broadcast",
    "q_tpch6" -> "selective scan: filters pushed to parquet, columns pruned",
    "q_agg_group" -> "two-phase hash aggregate (map-side partial)",
    "q_win_stats" -> "partition-parallel windows on a high-cardinality key",
    "q_asof_join" -> "AS-OF union-sort: ONE shuffle on user_id, no nested loop",
    "q_range_join" -> "banded range join: equi-join on time bins",
    "q_ann_ivf" -> ("IVF: broadcast centroids, bounded cell probes — " +
      "the BroadcastNestedLoopJoins here are DELIBERATE: every vector " +
      "must score all K=16 broadcast centroid rows (K dot products per " +
      "row is the IVF build cost); K is a constant, so this is a " +
      "linear scan, not a quadratic join"),
    "q_dedup_exact" -> "content-hash dedup: one shuffle, no pairwise work",
    "q_dedup_minhash" -> ("MinHash-LSH: 65-aggregate signature pass, " +
      "band-bucket self-join, exact-Jaccard verify — pairwise work only " +
      "inside buckets"),
    "q_text_bm25" -> ("BM25: tf/df aggregates off one token Generate; " +
      "df + corpus stats broadcast into the scoring join; top-50 is " +
      "TakeOrderedAndProject, never a global sort"),
    "q_text_repetition" -> ("repetition signals: one Generate, one " +
      "window pass, three doc_id aggregates — AQE keeps the joins " +
      "broadcast at test SF, shuffle-on-doc_id at scale"),
    "q_embed_quantize" -> ("int8 quantization: explode once, window " +
      "max for scale reuses the vec_id shuffle, label aggregate emits " +
      "rows = |labels|"),
    "q_tpch13" -> ("order-count distribution: fact aggregated BEFORE " +
      "the outer join; second aggregate sees |customers| rows"),
    "q_events_gapfill" -> ("gap-fill/LOCF: ONE fact pass into the " +
      "bucket aggregate; grid exploded per day task; LOCF window " +
      "partitioned (event_type, day); carry table built from bucket-" +
      "sized data and broadcast back"),
    "q_events_interpolate" -> ("linear resample: same banded grid; " +
      "prev/next neighbors from two frames of one (type, day) window " +
      "sort; cross-day neighbors via tiny broadcast carry"),
    "q_fuzzy_join" -> ("fuzzy join: vocabulary aggregate first, then " +
      "equi-join on the compound (block, length-band) key — a hot " +
      "block subdivides; levenshtein only inside surviving pairs"),
    "q_asof_join_forward" -> ("forward as-of: mirrored union-sort — " +
      "one shuffle on user_id, tolerance as a stateless null-out"),
    "q_graph_pagerank" -> ("one-job PageRank: node count rides as a " +
      "broadcast 1-row aggregate; each iteration ONE join + ONE " +
      "dst aggregate; no driver action anywhere"),
    "q_ann_kmeans" -> ("k-means rollup: nearest-cell assignment is a " +
      "PER-ROW array argmax over one broadcast centroid-array row — " +
      "no n·K candidate rows, no window; the only shuffle is the " +
      "16-group cell aggregate"),
    "q_embed_covariance" -> ("one-pass covariance: quantized vectors " +
      "stream through a per-task d²-buffer ObjectHashAggregate; no " +
      "self-join, no component explode — |tasks| buffers reach the " +
      "exchange and the closing formula is per-row over 2080 cells"),
    "q_sample_pergroup" -> ("exactly-k-per-group sample: bounded " +
      "TopKAggregator (map-side combinable ObjectHashAggregate) — " +
      "≤ k candidates per group per task reach the shuffle, vs a " +
      "corpus-wide row_number sort"),
    "q_skew_join" -> ("salted skew join: fact key spread over 4 salts " +
      "(hot keys land on 4 reducers), build side replicated per salt; " +
      "result row-identical to the unsalted join"),
    "q_dedup_incremental" -> ("incremental ingest dedup: batch hashes " +
      "semi-join the corpus hash set; batch bands equi-join corpus " +
      "bands — |batch|-proportional, no corpus×corpus pair work"),
    "q_merge_upsert" -> ("changelog compaction: partial max_by " +
      "aggregate — ≤ one row per key per input partition reaches the " +
      "shuffle; no sort of the raw log (a window-rank form would " +
      "shuffle + sort every row)"),
    "q_scd2_history" -> ("SCD2 historization: the change filter " +
      "preserves partitioning AND sort, so both windows share ONE " +
      "exchange; final sort is presentation only"),
    "q_zorder" -> ("z-order audit: 1-row extent aggregate broadcast " +
      "back; normalize+interleave all codegen'd shift/mask; one " +
      "two-phase hash aggregate over the bucketed rows"),
    "q_ann_ivfpq" -> ("IVF-PQ: codebook rides as ONE broadcast row; " +
      "encode + ADC are pure per-row expressions over codes (the " +
      "full-vector scan never happens); WindowGroupLimit pre-prunes " +
      "the ADC shortlist before its exchange; refine joins full " +
      "vectors for the |queries|·20 shortlist only"),
    "q_graph_triangles" -> ("triangle census: degree-ordered " +
      "orientation — every step an equi-join or aggregate; the wedge " +
      "self-join shuffles on the wedge center whose out-degree the " +
      "orientation bounds by O(sqrt(m)); closing check equi-joins on " +
      "the (x, y) edge key; census assembled from three broadcast " +
      "1-row aggregates"),
    "q_events_concurrency" -> ("sweep-line concurrency: boundary " +
      "deltas shuffle once on day; running count windows are " +
      "day-partitioned; the only unpartitioned window runs on the " +
      "per-day totals (rows = days), broadcast back as the cross-day " +
      "carry"),
    "q_events_ewma" -> ("EWMA: all 8 lag taps fuse into ONE Window " +
      "node over one user_id exchange+sort — no self-join, no row " +
      "amplification; weight products are codegen'd per-row " +
      "expressions"),
    "q_win_median" -> ("rolling median: one partition-parallel " +
      "WindowExec; the frame materializes <= 7 values per row (never " +
      "the partition), sort + middle-pick are per-row codegen " +
      "expressions"),
    "q_table_fingerprint" -> ("table fingerprint: per-table ONE " +
      "aggregate pass with map-side partials over per-row md5-15 " +
      "hashes; the commutative DECIMAL sum means no sort, no window — " +
      "two 1-row aggregates union to the driver"),
    "q_events_transitions" -> ("transition matrix: ONE fact scan, one " +
      "user-partitioned lag window, one hash aggregate to the " +
      "|types|^2 matrix; per-source totals are a window over THAT " +
      "matrix (types^2 rows), not a re-expanded second fact pass"),
    "q_shard_assign" -> ("shard assignment: per-row md5 order key, " +
      "ONE shuffle on shard, one bounded window per shard partition " +
      "computing rank + running token offset — no global row_number, " +
      "no global sort"),
    "q_snapshot_diff" -> ("snapshot diff: one full-outer sort-merge " +
      "join on the key (the one join type that cannot broadcast), " +
      "per-row hash compare, 4-group rollup with map-side partials"),
    "q_events_forecast" -> ("seasonal-naive forecast: the checkpointed " +
      "hourly rollup is the ONLY fact pass; 24-lag window over the " +
      "calendar-bounded dense series; MAPE terms quantize to integer " +
      "ppm per row before the exact BIGINT sum"),
    "q_events_dwell" -> ("inter-arrival profile: one (user, type) lag " +
      "window, one hash aggregate to |types| rows with size-routed " +
      "percentile_disc — no float in the quantile path"),
    "q_events_drift" -> ("chi-squared drift: extent aggregate + " +
      "bucketed-count aggregate (the histogram-with-derived-edges " +
      "two-pass), |types|-sized broadcast edges, |types|*10-row tail"),
    "q_graph_khop" -> ("k-hop BFS: three frontier equi-joins against " +
      "the checkpointed adjacency + min-hop aggregates, no windows"),
    "q_graph_assortativity" -> ("degree assortativity: two UN-hinted " +
      "degree joins (AQE broadcasts only when small) + one global " +
      "aggregate of exact integer moments"),
    "q_graph_kcore" -> ("k-core peel: per round one degree aggregate " +
      "+ two semi-joins on the materialized (shrinking) edge list; " +
      "the 1-row derived-k broadcast rides each filter"),
    "q_embed_prototype" -> ("prototypicality: tiny (label, dim) " +
      "centroid aggregate broadcast back, per-row dot product, " +
      "second tiny label-stats broadcast — no window, no pair work"),
    "q_embed_bitsim" -> ("1-bit ANN: per-row sign packing, bounded " +
      "query set broadcast against the 8-byte/vector scan, " +
      "XOR+popcount Hamming, per-query top-5 window on ranked rows"),
    "q_dedup_keep_best" -> ("canonical selection: cluster labels left-" +
      "joined to quality, per-cluster argmax as ONE max_by aggregate " +
      "(map-side partials), join-back on the cluster_id partitioning"),
    "q_win_regression" -> ("rolling OLS: five exact-integer moment " +
      "sums in ONE window over one user_id shuffle"),
    "q_events_wau" -> ("rolling actives: grid-explode + (day, user) " +
      "min-offset collapse + conditional sums — NO multi-" +
      "countDistinct Expand; second aggregate rides the first's " +
      "partitioning"),
    "q_events_enrich" -> ("as-of dimension enrichment: equi-join on " +
      "user_id with the validity interval as residual predicate — " +
      "one shuffle each side, ≤ 1 match per event"),
    "q_events_cusum" -> ("CUSUM via the drawup identity: hourly " +
      "rollup, then cumsum + running-min + whole-partition max as " +
      "stacked Window nodes over ONE event_type exchange; the final " +
      "per-type aggregate reuses the same partitioning"),
    "q_agg_weighted_median" -> ("weighted median: value-domain " +
      "collapse first (map-side partials), cumulative-weight window " +
      "on |distinct values| rows, final aggregate on the window's " +
      "partitioning — the raw fact is never sorted"),
    "q_text_pmi" -> ("PMI collocations: one token Generate feeds " +
      "bigram window + unigram counts; vocabulary-sized joins " +
      "broadcast; top-20 is TakeOrderedAndProject, no global window"),
    "q_events_paths" -> ("path trigrams: two leads in ONE Window " +
      "pass, |types|3-bounded count table, TakeOrderedAndProject"),
    "q_events_funnel_window" -> ("time-bounded funnel: three stage " +
      "mins as stacked Window nodes over ONE user_id exchange — no " +
      "fact re-join"),
    "q_events_hist_quantiles" -> ("histogram quantiles: 25 " +
      "conditional counts in one mergeable aggregate, interpolation " +
      "as a codegen'd projection — the streamable percentile shape"),
    "q_events_stationary" -> ("markov stationary: one fact-scan pair " +
      "extraction, then 8 integer-ppm power rounds on the " +
      "checkpointed |types|^2 matrix"),
    "q_events_error_context" -> ("no-equi-key band join: authored as " +
      "abs(t1-t2) <= r — BandedRangeJoinRule rewrites the would-be " +
      "BroadcastNestedLoopJoin into a width-r binned equi-join with " +
      "the band re-checked as residual; zeros restored by an equi " +
      "join-back"),
    "q_events_attribution" -> ("first/last-touch attribution: all " +
      "three lookback measures in ONE user-partitioned RANGE window " +
      "over one exchange+sort — no self-join, purchase filter after " +
      "the window"),
    "q_dedup_cdc" -> ("content-defined chunking: boundary rule is a " +
      "pure per-row predicate, chunk ids by prefix sum per doc; the " +
      "keep-first verdict is a min-struct AGGREGATE + join-back on " +
      "the content hash — map-side partials, no per-hash sort task " +
      "(the rank-window form this round replaced)"),
    "q_compaction_plan" -> ("compaction planning: ONE row-level " +
      "inventory aggregate, then every operator runs on the file " +
      "MANIFEST — the running-sum window partitions by table " +
      "partition and sees only its writer-bounded file list"),
    "q_token_budget" -> ("token-budget fill: the global running sum " +
      "DECOMPOSED — ≤21-row bucket totals via a bounded triangular " +
      "self-join broadcast back as verdicts; the exact within-bucket " +
      "window runs only inside the one boundary bucket"),
    "q_media_phash_dedup" -> ("perceptual-hash dedup: typed " +
      "mapPartitions hash next to the scan, canonical pick as a min " +
      "aggregate + join-back — phash buckets are unbounded, so no " +
      "window over the hash ever sorts a bucket in one task"),
    "q_split_leakage" -> ("cross-split leakage: the full verified " +
      "MinHash pair chain, split labels joined on pair ids " +
      "(metadata-sized), 3x3-bounded output aggregate"),
    "q_events_burnrate" -> ("burn-rate monitor: hourly rollup first " +
      "(calendar-bounded rows), ONE 6h range window over the rollup, " +
      "per-row integer-ppm rates — the only unpartitioned window " +
      "runs on hours-of-retention rows, never on events"),
    "q_gdpr_impact" -> ("deletion dry run: one scan per table; the " +
      "lineitem cascade is a single left join against affected-order " +
      "keys with a conditional sum — the forget side broadcasts"),
    "q_ref_integrity" -> ("FK audit: child collapses to its " +
      "key-cardinality table map-side, then a full outer join of KEY " +
      "sets — |keys| rows shuffle, never |child|"),
    "q_pit_join" -> ("point-in-time as-of MERGE: dim versions and " +
      "facts union into one stream, one user-partitioned window " +
      "carries the last version forward — zero per-fact fan-out, " +
      "never the versions-per-key interval join"),
    "q_join_card_est" -> ("cardinality audit: per-side key tables " +
      "join on |keys| rows; exact Σ a·b in DECIMAL(38,0) closed to " +
      "STRING, ratio on the integer-ppm grid"),
    "q_session_gap_sweep" -> ("gap ladder: every timeout priced " +
      "from ONE lag window (the sessionizer's own shuffle) via " +
      "conditional sums in a single aggregate, stacked to rows"),
    "q_ldiversity_audit" -> ("l-diversity: bounded (QI, segment) " +
      "expansion then two tiny rollups — the k-anon shape with a " +
      "5-value sensitive domain"),
    "q_assoc_rules" -> ("directional rules: zero-shuffle unfold of " +
      "the items-per-order-bounded pair table, frequency join-back, " +
      "integer-ppm confidence; top-40 TakeOrderedAndProject"),
    "q_nb_langid" -> ("in-engine NB fit: two token-explode counting " +
      "aggregates train the broadcast |vocab|x|classes| model; one " +
      "(doc, class) DECIMAL score aggregate, no corpus-sized join"),
    "q_dp_histogram" -> ("DP release: one hash aggregate to the cell " +
      "table; integer md5 trailing-zero geometric noise as per-cell " +
      "projection work"),
    "q_events_hysteresis" -> ("Schmitt-trigger episodes: thresholds, " +
      "carry-forward state, islands, and rollups all on ONE (type, " +
      "time) partitioning of the calendar-bounded hourly series"),
    "q_target_encoding" -> ("out-of-fold encoding: one per-customer " +
      "aggregate + FK join; all fold algebra on ~25 broadcast rows, " +
      "integer cents throughout"),
    "q_agg_moments" -> ("shape stats: one map-side-partial aggregate " +
      "of four exact integer power sums; moment algebra is per-group " +
      "projection work"),
    "q_events_burstiness" -> ("per-(user,type) lag window (bounded " +
      "per key), exact integer gap sums, one rollup to |types| rows"),
    "q_events_rate_limit" -> ("sliding-log replay: one user_id " +
      "shuffle for the 60s RANGE count; rollups map-side; distinct " +
      "users via (type,user) pre-aggregate"),
    "q_interval_join" -> ("banded interval×interval overlap: both " +
      "sides explode into day buckets, equi-join on bucket, pair " +
      "kept only at greatest(start)'s bucket — per-task work bounded " +
      "by the band, zero dedup pass"),
    "q_tcloseness_audit" -> ("one (QI, segment) hash aggregate; " +
      "class size via a window on the SAME partitioning the rollup " +
      "groups on; t_ppm pure integer floor division"),
    "q_woe_encoding" -> ("one FK join + |segments| aggregate; WOE " +
      "from two sub-2^53 integer ratios into a single ln"),
    "q_bootstrap_ci" -> ("Poisson bootstrap: 32 replicates ride ONE " +
      "pass as integer md5-threshold weights; projection-only 32x " +
      "expansion into a |segments|x32 aggregate, zero extra shuffles"),
    "q_benford_audit" -> ("first digit from the integer-cents string " +
      "(no float log10); one aggregate to <=9 rows; expected shares " +
      "are integer-ppm literals"),
    "q_session_native" -> ("session_window hash aggregate with " +
      "in-session merge — no per-user history sort; inclusive-end " +
      "merge equals the strict-> sessionizer, same oracle CTE"),
    "q_pareto" -> ("concentration tiers: broadcast percentile_disc " +
      "boundaries + TEN conditional sums in ONE aggregate, unfolded " +
      "by stack() — no global rank window, no self-join"),
    "q_events_survival" -> ("Nelson-Aalen life table: one per-user " +
      "aggregate, then prefix-sum windows over the calendar-bounded " +
      "distinct-duration table only; integer-ppb hazard"),
    "q_events_twap" -> ("hold-to-next weighting via ONE user lead() " +
      "+ map-side day rollup; DECIMAL(38,0) mass, one floor division " +
      "close, no calendar fn in the hot path"),
    "q_inventory_balance" -> ("Lindley closed form: clamped stock " +
      "recursion as prefix-sum minus running-min — two stacked " +
      "windows on one (part,day) partitioning, no sequential fold"),
    "q_corpus_dsir" -> ("hashed-unigram importance LM: one tokenize " +
      "pass into a 256-bucket conditional aggregate, both LMs " +
      "broadcast back; 9dp decimal log-ratio sums"),
    "q_sketch_rollup" -> ("weekly uniques from DAILY KMV synopses: " +
      "bounded ObjectHashAggregate per day, explode+re-sketch per " +
      "week — raw data read once, rollup mergeable forever"),
    "q_events_attribution_markov" -> ("journey windows on user " +
      "partitioning + ONE transition aggregate; 5 removal variants x " +
      "8 unrolled ppm rounds iterate on the checkpointed tiny matrix"),
    "q_quantile_rollup" -> ("quantile-synopsis rollup: daily grid " +
      "histogram aggregate (map-side partials) → weekly synopsis-sum " +
      "aggregate; cum window bounded by the 25-bucket grid per " +
      "(type, week); the closing conditional-MIN aggregate reuses the " +
      "window's partitioning — raw values are scanned exactly once"),
    "q_corpus_cap" -> ("per-source cap: bounded TopKAggregator " +
      "ObjectHashAggregate (≤ cap candidates per source per task " +
      "reach the shuffle — never a per-source rank window); kept ids " +
      "broadcast back; mixture totals via a provably-1-row broadcast " +
      "cross"),
    "q_partition_prune" -> ("hive-partition pruning: the read-back " +
      "scan carries PartitionFilters (day >= cutoff) — pruned days " +
      "never become tasks; PushedFilters empty because the predicate " +
      "resolves at the METADATA level"),
    "q_media_phash_dedup" -> ("BMP perceptual dedup: typed " +
      "mapPartitions plant→encode→decode→hash chain (codec init " +
      "amortized per partition), then min-aggregate + join-back on " +
      "(modality, ahash) — no window over the unbounded hash groups"))

  def main(args: Array[String]): Unit = {
    val named =
      if (args.isEmpty) Nil else SparkEntry.select(Some(args.mkString(","))).map(_._1)
    val spark = Session.local()
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    def plan(name: String): String = SparkEntry.queries(name)(spark, sf)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    if (named.nonEmpty)
      named.foreach(name => println(s"\n========== $name ==========\n${plan(name)}"))
    else {
      val out = new StringBuilder
      out ++= "# PLANS — formatted physical plans of representative queries\n\n"
      out ++= "Generated by `graft.tools.ExplainDump` (sf0.001, " +
        s"shuffle.partitions=${spark.conf.get("spark.sql.shuffle.partitions")} " +
        "for readability; plan SHAPES are what matters — row counts " +
        "scale, shapes must not degrade).\n"
      Show.foreach { case (name, note) =>
        out ++= s"\n## $name — $note\n\n```\n${plan(name)}```\n"
      }
      Files.writeString(Paths.get("PLANS.md"), out.toString)
      println(s"wrote PLANS.md (${Show.size} plans)")
    }
    spark.stop()
  }
}
