package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.text.TextAnalysis._
import graft.Materialize

/** Text-analysis queries over `documents` (SURVEY.md §2, text block).
  * Everything is codegen'd column expressions; the SQL oracles mirror
  * the exact arithmetic so results hash-match.
  */
object Text {

  /** Single-file scan → one partition; the per-row regex/lambda work is
    * CPU-bound, so spread it (same rationale as DedupSim.docsParallel). */
  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).repartition(s.sparkContext.defaultParallelism)

  private val langs = Seq("en", "es", "de", "fr", "zh")

  /** Per-document token counts, computed RELATIONALLY (SURVEY §3.5,
    * the `Dedup.simhashTable` shape): explode lowered tokens once in
    * the Generate node, then ONE codegen'd hash aggregate with
    * conditional counts per marker set. The column-level
    * `size(filter(split(...)))` form is CodegenFallback AND gets
    * re-inlined into every consumer by CollapseProject — profiled at
    * ~10× slower in the r2 bench (q_text_langid 20.9 s vs ~2 s here).
    *
    * Per-doc SCALAR stats (char/punct lengths) are computed in the
    * pre-explode projection and carried through the aggregate as
    * `max()` — constant within a doc, so any aggregate works, and
    * Catalyst prunes the ones a query doesn't reference. */
  private def tokenAgg(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).select(
      col("doc_id"), col("lang"),
      length(col("text")).as("n_chars"),
      length(regexp_replace(col("text"), "[\\p{Punct}]", "")).as("n_nopunct"),
      length(regexp_replace(col("text"), "\\s+", "")).as("n_nows"),
      explode(split(lower(col("text")), "\\s+")).as("tok"))
    val aggs = Seq(
      max(col("n_chars")).as("n_chars"),
      max(col("n_nopunct")).as("n_nopunct"),
      max(col("n_nows")).as("n_nows"),
      count(when(length(col("tok")) > 0, lit(1))).as("n_toks"),
      max(length(col("tok"))).as("max_tok"),
      count(when(col("tok").isInCollection(stopwords), lit(1))).as("n_sw")) ++
      langs.map(l =>
        count(when(col("tok").isInCollection(markers(l)), lit(1))).as(s"hits_$l"))
    // split("") = [""], so every doc yields >=1 token row: no doc is
    // lost to the groupBy and no left-join back is needed. n_toks is a
    // CONDITIONAL count that skips zero-length tokens — split on text
    // with leading/trailing whitespace emits empty strings, and
    // counting them would inflate every downstream ratio and Gopher
    // verdict (a where() would instead drop empty docs entirely).
    base.groupBy(col("doc_id"), col("lang")).agg(aggs.head, aggs.tail: _*)
  }

  /** Per-document token/char/punctuation/stopword statistics — a
    * projection over the token-backbone aggregate (cheap int columns
    * only; the text is never re-tokenized). */
  def qTextStats(s: SparkSession, d: String): DataFrame =
    tokenAgg(s, d).select(
      col("doc_id"),
      col("n_toks").as("n_tokens"),
      col("n_chars").as("n_chars_m"),
      round((col("n_chars") - col("n_nopunct")).cast("double") /
        greatest(col("n_chars").cast("double"), lit(1.0)), 6).as("punct_ratio"),
      round(col("n_sw").cast("double") /
        greatest(col("n_toks").cast("double"), lit(1.0)), 6).as("stopword_ratio"),
      round(col("n_nows").cast("double") /
        greatest(col("n_toks").cast("double"), lit(1.0)), 6).as("mean_tok_len"))
      .orderBy(col("doc_id"))

  /** GOPHER-STYLE QUALITY RULE GATE (Rae et al. 2021 §A1.1, the
    * standard pre-training heuristic filter): per-doc boolean verdicts
    * for word count in [50, 100k], mean word length in [3, 10],
    * longest word ≤ 20 chars, ≥ 2 stopword hits, and stopword
    * fraction ≤ ½ (the word-soup screen). Every rule is an INTEGER
    * comparison on the token-backbone counts — mean word length is
    * 3·n_toks ≤ n_nows ≤ 10·n_toks, the fraction is 2·n_sw ≤ n_toks —
    * so no ratio ever becomes a float and the verdicts are exact on
    * any engine. One pass over the shared tokenAgg backbone; at scale
    * this is the first, cheapest filter in the curation funnel (pure
    * map-side work, no extra shuffle beyond the backbone's). */
  def qTextGopher(s: SparkSession, d: String): DataFrame = {
    val rWc = col("n_toks") >= 50 && col("n_toks") <= 100000
    val rWl = col("n_nows") >= col("n_toks") * 3 &&
      col("n_nows") <= col("n_toks") * 10
    val rMw = col("max_tok") <= 20
    val rSw = col("n_sw") >= 2
    val rSr = col("n_sw") * 2 <= col("n_toks")
    tokenAgg(s, d).select(
      col("doc_id"),
      col("n_toks").as("n_tokens"),
      rWc.as("r_wordcount"),
      rWl.as("r_wordlen"),
      rMw.as("r_maxword"),
      rSw.as("r_stopwords"),
      rSr.as("r_swratio"),
      (rWc && rWl && rMw && rSw && rSr).as("pass"))
      .orderBy(col("doc_id"))
  }

  /** GPT-2-style pre-tokenizer pattern, restricted to constructs both
    * Java regex (Spark) and RE2 (DuckDB) support — no lookahead, so
    * the contraction/trailing-space rules of the original are dropped
    * (irrelevant on this ASCII corpus): a token is an optional space
    * plus a letter run, digit run, or symbol run. */
  private val BpePattern = " ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+"

  /** Token counting both ways — whitespace tokens and BPE-ish regex
    * tokens — plus the chars-per-token ratio used to budget training
    * tokens from raw bytes. Pure per-row codegen'd expressions: no
    * shuffle, no explode (counting needs sizes, not token rows). */
  def qTextTokens(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      size(split(col("text"), "\\s+")).cast("long").as("n_ws_tokens"),
      size(regexp_extract_all(col("text"), lit(BpePattern), lit(0)))
        .cast("long").as("n_bpe_tokens"),
      round(length(col("text")).cast("double") /
        greatest(size(regexp_extract_all(col("text"), lit(BpePattern),
          lit(0))).cast("double"), lit(1.0)), 6).as("chars_per_bpe_token"))
      .orderBy(col("doc_id"))

  /** (doc_id, quality, n_toks) — the composite-quality curation
    * backbone shared by q_text_quality, q_quality_sweep, and
    * q_token_budget. The score references the aggregated count
    * columns — even after CollapseProject re-inlines it, the
    * expansion is a handful of codegen'd int/double ops, not a
    * re-tokenization. */
  private[queries] def scoredDocs(s: SparkSession, d: String): DataFrame = {
    val lenScore = least(col("n_toks").cast("double") / lit(64.0), lit(1.0))
    val punctScore = lit(1.0) - least(
      (col("n_chars") - col("n_nopunct")).cast("double") /
        greatest(col("n_chars").cast("double"), lit(1.0)) * 10.0, lit(1.0))
    val swScore = least(
      col("n_sw").cast("double") /
        greatest(col("n_toks").cast("double"), lit(1.0)) * 5.0, lit(1.0))
    tokenAgg(s, d).select(
      col("doc_id"),
      round((lenScore + punctScore + swScore) / 3.0, 6).as("quality"),
      col("n_toks"))
  }

  /** Composite quality score + keep/drop flag, from the backbone
    * counts. */
  def qTextQuality(s: SparkSession, d: String): DataFrame =
    scoredDocs(s, d).select(
      col("doc_id"), col("quality"), (col("quality") >= 0.5).as("keep"))
      .orderBy(col("doc_id"))

  /** Thresholds measured by q_quality_sweep — at or around the
    * production 0.5 cutoff q_text_quality ships. */
  val QualitySweepThresholds: Seq[Double] = Seq(0.3, 0.4, 0.5, 0.6, 0.7)

  /** CURATION-THRESHOLD TUNING CURVE (the q_dedup_threshold_sweep mold
    * for quality filtering): documents and tokens retained at a ladder
    * of quality cutoffs, as counts and corpus fractions — the chart
    * that picks the production threshold by answering "how much of the
    * training budget does tightening to 0.6 actually cost?". ONE pass
    * over the scored backbone; the ladder is conditional sums in a
    * single aggregate, stacked to rows. */
  def qQualitySweep(s: SparkSession, d: String): DataFrame = {
    val ths = QualitySweepThresholds
    val aggs =
      Seq(count(lit(1)).as("t_docs"), sum(col("n_toks")).as("t_toks")) ++
      ths.zipWithIndex.flatMap { case (t, i) => Seq(
        sum(when(col("quality") >= t, 1L).otherwise(0L)).as(s"d$i"),
        sum(when(col("quality") >= t, col("n_toks")).otherwise(0L))
          .as(s"k$i"))
      }
    val stackArgs = ths.zipWithIndex
      .map { case (t, i) => s"${t}D, d$i, k$i" }.mkString(", ")
    scoredDocs(s, d).agg(aggs.head, aggs.tail: _*)
      .select(
        expr(s"stack(${ths.size}, $stackArgs) AS (threshold, n_docs, n_tokens)"),
        col("t_docs"), col("t_toks"))
      .select(col("threshold"), col("n_docs"), col("n_tokens"),
        round(col("n_docs") / greatest(col("t_docs"), lit(1L)), 6)
          .as("frac_docs"),
        round(col("n_tokens") / greatest(col("t_toks"), lit(1L)), 6)
          .as("frac_tokens"))
      .orderBy(col("threshold"))
  }

  /** Coarse quality buckets for the token-budget selection — 1/20
    * quality-score bands. */
  val TokenBudgetBuckets = 20

  /** TRAINING-TOKEN BUDGET FILL — select the highest-quality documents
    * (quality DESC, doc_id ASC) until half the corpus's tokens are
    * spent: the "fill the budget with the best data" selection every
    * curation pipeline ends with. The obvious implementation is a
    * global running sum over the quality ordering — an unpartitioned
    * window, one task at 100 TB. Instead the global prefix sum is
    * DECOMPOSED: bucket docs into 1/20 quality bands, take per-bucket
    * token totals (a ≤21-row table; running totals over it via a
    * bounded triangular self-join, not a window), broadcast the bucket
    * verdicts back, and run the exact within-bucket running sum ONLY
    * inside the single boundary bucket that straddles the budget —
    * partitioned by bucket, ≤ ~1/20 of the corpus (production refines
    * the boundary bucket recursively for a tighter bound). Bucketing
    * is monotone in quality and ties share a bucket, so the
    * decomposed verdict equals the global prefix sum's exactly
    * (brute-force-equivalence spec). */
  def qTokenBudget(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sc = Materialize(scoredDocs(s, d))
    val withB = sc.withColumn("qb",
      floor(col("quality") * TokenBudgetBuckets).cast("int"))
    val bt = withB.groupBy(col("qb")).agg(sum(col("n_toks")).as("bt"))
    // integer-exact half-the-corpus budget (DIV, not a double divide)
    val tot = sc.agg(expr("CAST(SUM(n_toks) DIV 2 AS BIGINT)").as("budget"))
    // running totals over the bucket dimension: the dimension is the
    // STATIC literal range 0..TokenBudgetBuckets (maxRows provably
    // ≤ 21), so the theta-join is a bounded broadcast nested loop —
    // never a quadratic join and never an unpartitioned window
    val dim = s.range(0L, TokenBudgetBuckets + 1L)
      .select(col("id").cast("int").as("qb"))
    val cumAbove = dim.as("x")
      .join(bt.as("y"), col("y.qb") > col("x.qb"), "left")
      .groupBy(col("x.qb").as("qb"))
      .agg(coalesce(sum(col("y.bt")), lit(0L)).as("cum_above"))
      .join(bt, Seq("qb"))
    val status = cumAbove.crossJoin(broadcast(tot)).select(
      col("qb"), col("cum_above"), col("budget"),
      (col("cum_above") + col("bt") <= col("budget")).as("full_keep"),
      // ≤ not <: a zero-token doc at exactly-exhausted budget still
      // keeps under the global rule cum ≤ B
      (col("cum_above") + col("bt") > col("budget") &&
        col("cum_above") <= col("budget")).as("boundary"))
    val joined = withB.join(broadcast(status), "qb")
    val decided = joined.where(!col("boundary"))
      .select(col("doc_id"), col("quality"), col("n_toks"),
        col("full_keep").as("keep"))
    val wb = Window.partitionBy(col("qb"))
      .orderBy(col("quality").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val onBoundary = joined.where(col("boundary"))
      .withColumn("wcum", sum(col("n_toks")).over(wb))
      .select(col("doc_id"), col("quality"), col("n_toks"),
        (col("cum_above") + col("wcum") <= col("budget")).as("keep"))
    decided.unionByName(onBoundary).orderBy(col("doc_id"))
  }

  /** Per-source document cap for q_corpus_cap. */
  val CorpusCapPerSource: Int = 20

  /** The cap core over a (doc_id, source, quality, n_toks) table —
    * split out so the spec can plant a source that exceeds the cap.
    * Selection runs on the bounded-heap TopK aggregate (map-side
    * combinable: each task surfaces at most `cap` candidates per
    * source, so only |sources|·cap rows reach the shuffle), NEVER a
    * per-source rank window, which would sort every document of a
    * dominant crawl domain into one task. The heap's (value DESC,
    * id ASC) total order IS the oracle's ORDER BY quality DESC,
    * doc_id ASC, so quality goes in as the value and doc_id as the
    * id — no packing. Quality is 6-dp-rounded, so round(quality·10⁶)
    * is an exact integer ≤ 2²⁰, exactly representable as the heap's
    * double value with NO ceiling on doc_id (the r12 pack silently
    * corrupted the keep set once doc_id ≥ 2²⁴ — any ≥2× ScaleGen
    * copy; ADVICE r12 item 2). Mixture shares close on the
    * truncating integer-ppm grid with the numerator widened through
    * DECIMAL(38,0) (the q_pareto discipline — a 100 TB corpus's
    * token count overflows ppm-scaled BIGINT). The one nested-loop
    * join is the cross with the provably 1-row broadcast totals. */
  def corpusCap(scored: DataFrame, cap: Int): DataFrame = {
    val topk = graft.operators.TopK.topk(cap)
    val ranked = scored.withColumn("rank_v",
      round(col("quality") * 1000000L).cast("double"))
    val kept = ranked
      .groupBy(col("source"))
      .agg(topk(col("rank_v"), col("doc_id")).as("top"))
      .select(explode(col("top")).as("t"))
      .select(col("t.id").as("doc_id"), lit(1L).as("is_kept"))
    val per = scored
      .join(broadcast(kept), Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("is_kept"), lit(0L))).as("n_kept"),
        sum(col("n_toks")).as("n_tokens"),
        sum(when(col("is_kept").isNotNull, col("n_toks")).otherwise(0L))
          .as("n_tokens_kept"))
    val tot = per.agg(sum(col("n_tokens")).as("t_pre"),
      sum(col("n_tokens_kept")).as("t_post"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_kept"),
        (col("n_docs") - col("n_kept")).as("n_dropped"),
        col("n_tokens"), col("n_tokens_kept"),
        expr("CAST(n_tokens AS DECIMAL(38,0)) * 1000000 div t_pre")
          .as("share_pre_ppm"),
        expr("CAST(n_tokens_kept AS DECIMAL(38,0)) * 1000000 div t_post")
          .as("share_post_ppm"))
      .orderBy(col("source"))
  }

  /** PER-SOURCE CONTRIBUTION CAP — the C4/RefinedWeb "no domain
    * dominates" curation step the per-document filters can't express:
    * each source keeps at most CorpusCapPerSource documents, selected
    * by quality (quality DESC, doc_id ASC — the q_text_quality
    * backbone's score), and the report shows what the cap did to the
    * mixture: per source, docs/tokens before and after, dropped
    * count, and the corpus share in ppm pre vs post. On this corpus's
    * uniform 20-source layout every source caps equally; on a real
    * crawl the head domain's share collapses toward the cap while
    * tail sources grow proportionally. */
  def qCorpusCap(s: SparkSession, d: String): DataFrame =
    corpusCap(
      scoredDocs(s, d).join(
        Tables.documents(s, d).select(col("doc_id"), col("source")),
        Seq("doc_id")),
      CorpusCapPerSource)

  /** Marker-word language ID (NOT the `lang` label — the heuristic).
    * The CASE chain references `greatest(hits…)` per language, but the
    * hits are aggregated int columns here, so the re-inlined expansion
    * stays a few dozen codegen'd comparisons per row. */
  def qTextLangid(s: SparkSession, d: String): DataFrame =
    tokenAgg(s, d).select(
      (Seq(col("doc_id"), col("lang")) ++
        langs.map(l => col(s"hits_$l")) :+
        langId(langs.map(l => l -> col(s"hits_$l")).toMap).as("lang_pred")): _*)
      .orderBy(col("doc_id"))

  /** LANGID CONFUSION MATRIX — the measurement query for the n-gram
    * language heuristic (the q_ann_recall discipline applied to the
    * text family: the classifier's quality is an oracle-checked
    * number, not a claim): predicted × actual counts against the
    * corpus's ground-truth lang column, with each cell's share of its
    * actual language on the integer half-up ppm grid (the transitions
    * close — no float division drifts). The diagonal shares ARE the
    * per-language recall. |langs|²-bounded output past one backbone
    * pass. */
  def qLangidConfusion(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    qTextLangid(s, d).select(col("lang"), col("lang_pred"))
      .groupBy(col("lang"), col("lang_pred")).agg(count(lit(1)).as("n"))
      .withColumn("t", sum(col("n")).over(Window.partitionBy(col("lang"))))
      .select(col("lang"), col("lang_pred"), col("n"),
        (expr("CAST((2000000 * n + t) DIV (2 * t) AS BIGINT)")
          .cast("double") / lit(1000000.0)).as("share"))
      .orderBy(col("lang"), col("lang_pred"))
  }

  /** NAIVE-BAYES LANGUAGE CLASSIFIER TRAINED IN-ENGINE — the
    * supervised-filter shape of a fastText-style language/quality
    * model (Joulin et al. 2016), reduced to multinomial NB with
    * add-one smoothing: the closed-form member of the family, so the
    * "fit" is two counting aggregates, never an iterative optimizer
    * driving the cluster from the driver. Fit on the 'train' side of
    * the leakage-safe fingerprint split (q_split_train_test's
    * assignment — duplicated crawl content can never straddle the
    * boundary and inflate test accuracy), scored on the 'test' side,
    * reported as the test confusion matrix in q_langid_confusion's
    * exact shape so the learned model and the hand-written marker
    * heuristic are directly comparable numbers.
    *
    * Determinism: every model weight is ln of a ratio of INTEGERS
    * rounded to the 1e-8 grid and carried as DECIMAL(20,8); per-doc
    * scores are integer-weighted DECIMAL sums (exact, order-free), so
    * the argmax — ties broken by alphabetical class via
    * min(struct(-score, class)) — is bit-identical cross-engine.
    *
    * Scale shape: the model is |vocab|·|classes| rows — broadcast
    * (a production vocab is min-count-capped first, the df-cap
    * pattern); the corpus is touched by exactly two token-explode
    * aggregates (train counts, test counts) and one (doc, class)
    * score aggregate, all map-side partial; no corpus-sized side
    * ever shuffles through a join. */
  def qNbLangid(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dd = docs(s, d).withColumn("split", splitWhen)
    val toks = dd.select(col("doc_id"), col("lang"), col("split"),
      explode(split(lower(col("text")), "\\s+")).as("tok"))
      .where(length(col("tok")) > 0)
    val train = toks.where(col("split") === "train")
    val dec = "decimal(20,8)"
    val wc = train.groupBy(col("lang").as("cl"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
    val ct = train.groupBy(col("lang").as("cl"))
      .agg(count(lit(1)).as("tok_c"))
    val vocab = wc.select(col("tok")).distinct().agg(count(lit(1)).as("v"))
    val trainDocs = dd.where(col("split") === "train")
    val dc = trainDocs
      .groupBy(col("lang").as("cl")).agg(count(lit(1)).as("docs_c"))
      // grand total as a 1-row broadcast scalar, not a whole-relation
      // window: the class table is small but unprovably so to the
      // planner, and the scalar cross is free either way
      .crossJoin(broadcast(
        trainDocs.agg(count(lit(1)).as("docs_t"))))
    val cls = dc.join(ct, "cl").crossJoin(broadcast(vocab))
      .select(col("cl"),
        round(log(col("docs_c").cast("double") / col("docs_t")), 8)
          .cast(dec).as("prior"),
        round(log(lit(1.0) / (col("tok_c") + col("v"))), 8)
          .cast(dec).as("unk"),
        (col("tok_c") + col("v")).as("denom"))
    val trm = wc.join(broadcast(cls.select(col("cl"), col("denom"))), "cl")
      .select(col("cl"), col("tok"),
        round(log((col("cnt") + lit(1)).cast("double") / col("denom")), 8)
          .cast(dec).as("term"))
    val sc = toks.where(col("split") === "test")
      .groupBy(col("doc_id"), col("lang"), col("tok"))
      .agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(cls.select(col("cl"), col("prior"), col("unk"))))
      .join(broadcast(trm), Seq("cl", "tok"), "left")
      .groupBy(col("doc_id"), col("lang"), col("cl"))
      .agg((max(col("prior")) +
        sum(col("n") * coalesce(col("term"), col("unk")))).as("score"))
    val pred = sc.groupBy(col("doc_id"), col("lang"))
      .agg(min(struct((-col("score")).as("ns"), col("cl"))).as("m"))
      .select(col("lang"), col("m.cl").as("lang_pred"))
    pred.groupBy(col("lang"), col("lang_pred")).agg(count(lit(1)).as("n"))
      .withColumn("t", sum(col("n")).over(Window.partitionBy(col("lang"))))
      .select(col("lang"), col("lang_pred"), col("n"),
        (expr("CAST((2000000 * n + t) DIV (2 * t) AS BIGINT)")
          .cast("double") / lit(1000000.0)).as("share"))
      .orderBy(col("lang"), col("lang_pred"))
  }

  /** Normalized md5 fingerprint + exact-duplicate cluster size. */
  def qTextFingerprint(s: SparkSession, d: String): DataFrame = {
    val fp = docs(s, d)
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
    val sizes = fp.groupBy(col("fp")).agg(count(lit(1)).as("cluster_size"))
    fp.join(sizes, "fp")
      .select(col("doc_id"), col("fp"), col("cluster_size"))
      .orderBy(col("doc_id"))
  }

  /** Per-language document-length distribution: interpolated quantiles
    * (Spark `percentile` ≡ DuckDB `quantile_cont`), ROUTED by input
    * size (operators.ScaleRouting): value-exact below the byte
    * threshold (every oracle SF), the bounded-memory
    * `approx_percentile` GK sketch above it — exact quantiles buffer
    * every group value and OOM at 100 TB. The sketch branch's error
    * bound is spec-asserted. */
  def qTextQuantiles(s: SparkSession, d: String): DataFrame =
    textQuantiles(s, d, graft.operators.ScaleRouting
      .exactPercentileOk(s, s"$d/documents.parquet"))

  private[graft] def textQuantiles(
      s: SparkSession, d: String, exact: Boolean): DataFrame = {
    val q = (p: Double) =>
      graft.operators.ScaleRouting.percentileCont(exact, "n_chars", p)
    Tables.documents(s, d)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(q(0.25), 4).as("p25"),
        round(q(0.5), 4).as("p50"),
        round(q(0.75), 4).as("p75"),
        round(q(0.95), 4).as("p95"))
      .orderBy(col("lang"))
  }

  /** Deterministic stratified hash sample: md5-fraction membership per
    * doc_id with per-language keep rates — reproducible across runs,
    * partitionings, and engines (graft.operators.Sampling). */
  /** Exactly-k-per-group deterministic sample ("k examples per class",
    * the eval-set/few-shot curation shape): the k docs with the
    * smallest md5-fraction per language. NOT a row_number window —
    * that would shuffle+sort the whole corpus on lang; the bounded
    * TopKAggregator keeps ≤ k candidates per group per task, so only
    * |groups|·k rows per partition reach the shuffle. Hash order is
    * engine-portable (the q_sample_stratified fraction), so the picked
    * set is bit-identical cross-engine. */
  def qSamplePergroup(s: SparkSession, d: String): DataFrame = {
    val k = 10
    val tk = graft.operators.TopK.topk(k)
    Tables.documents(s, d)
      // TopK keeps the LARGEST values; negate the fraction to pick the
      // smallest (ties broken by doc_id ASC on both engines)
      .select(col("lang"),
        (-graft.operators.Sampling.hashFraction(col("doc_id"))).as("v"),
        col("doc_id"))
      .groupBy(col("lang"))
      .agg(tk(col("v"), col("doc_id")).as("picks"))
      .select(col("lang"), explode(col("picks.id")).as("doc_id"))
      .orderBy(col("lang"), col("doc_id"))
  }

  def qSampleStratified(s: SparkSession, d: String): DataFrame =
    graft.operators.Sampling.stratifiedSample(
      Tables.documents(s, d), keyCol = "doc_id", strataCol = "lang",
      rates = Map("en" -> 0.2, "de" -> 0.5), defaultRate = 1.0)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))

  /** Length-proportional weighted sample: each document kept with
    * probability n_chars / max(n_chars) — the per-ROW-rate curation
    * shape (quality-weighted downsampling), vs the per-stratum
    * constants of q_sample_stratified. The corpus max is a 1-row
    * broadcast; membership stays a pure per-row filter (no shuffle)
    * and the md5-fraction is engine-portable, so the kept set is
    * bit-identical cross-engine. */
  def qSampleWeighted(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val mx = docs.agg(max(col("n_chars")).as("max_chars"))
    graft.operators.Sampling.weightedSample(
      docs.crossJoin(broadcast(mx)), keyCol = "doc_id",
      weight = col("n_chars") / col("max_chars"))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        round(col("n_chars") / col("max_chars"), 6).as("weight"))
      .orderBy(col("doc_id"))
  }

  /** Corpus-level top-10 bigrams per language. The bigram table comes
    * from the relational token backbone (posexplode + lead — the split
    * runs once per doc); counts are map-side partial aggregated, and
    * only the per-language count table reaches the rank window. */
  def qTextTopkNgrams(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // round 14: adjacent-pair bigrams from the document's own words
    // array (zip_with of the two shifted slices — the perplexity_
    // bigram pattern) instead of a lead() window, which shuffled and
    // sorted every token row to look up a neighbor the row already
    // had locally; identical bigram multiset
    val bigrams = docs(s, d)
      .select(col("lang"), split(col("text"), "\\s+").as("toks"))
      .where(size(col("toks")) >= 2)
      .select(col("lang"), explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (a, b) => concat_ws(" ", a, b))).as("bigram"))
    val counts = bigrams.groupBy(col("lang"), col("bigram"))
      .agg(count(lit(1)).as("n"))
    val rw = Window.partitionBy(col("lang"))
      .orderBy(col("n").desc, col("bigram"))
    counts
      .withColumn("rk", row_number().over(rw))
      .where(col("rk") <= 10)
      .orderBy(col("lang"), col("rk"))
  }

  /** COLLOCATION MINING by pointwise mutual information — the corpus
    * statistic behind phrase detection (word2vec's phrase pass, NLTK
    * collocations): PMI(x,y) = ln P(x,y)/(P(x)P(y)), top-20 bigram
    * types with support ≥ 5. Count tables are map-side-partial hash
    * aggregates of the token backbone; the PMI argument is computed as
    * ONE fixed left-to-right IEEE expression (c_xy·M·M)/(N·c_x·c_y)
    * with integer counts promoted once — identical operation sequence
    * on any engine, then ln + 6 dp round (the entropy log discipline).
    * The top-20 is sort+limit (TakeOrderedAndProject — no global
    * window), totally ordered by (pmi, w1, w2) so the cut is
    * deterministic. Everything after the token pass runs on
    * vocabulary-sized tables (|V| and |V|² rows, data-volume-free);
    * the two unigram joins broadcast. */
  def qTextPmi(s: SparkSession, d: String): DataFrame = {
    // drop the zero-length tokens a leading/trailing-whitespace split
    // emits BEFORE counting: an empty "word" would enter both the
    // bigram table and the M/N totals (the backbone's n_toks fix).
    // Round 14: the checkpointed shared table is the per-doc FILTERED
    // words ARRAY (one row per doc) instead of the exploded token rows
    // — bigrams come from the zip_with of two shifted slices (the old
    // lead() window shuffled + sorted every token row), unigrams and
    // the totals from per-doc explodes/sizes of the same arrays;
    // adjacency over the filtered array == lead over filtered rows
    val wt = Materialize(docs(s, d).select(col("doc_id"),
      filter(split(lower(col("text")), "\\s+"),
        w => length(w) > 0).as("toks")))
    val bi = wt.where(size(col("toks")) >= 2)
      .select(explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val cbg = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_xy"))
    val cu = wt.select(explode(col("toks")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cu"))
    // N = Σ(len−1) = M − |docs with ≥1 token| (the identity survives
    // the empty-token filter because both totals count the SAME
    // filtered arrays)
    val totals = wt.agg(sum(size(col("toks"))).as("m"),
      (sum(size(col("toks"))) -
        count(when(size(col("toks")) > 0, lit(1)))).as("nb"))
    cbg
      .join(broadcast(cu.select(col("word").as("w1"), col("cu").as("c_x"))),
        "w1")
      .join(broadcast(cu.select(col("word").as("w2"), col("cu").as("c_y"))),
        "w2")
      .crossJoin(broadcast(totals))
      .where(col("c_xy") >= 5)
      .withColumn("pmi",
        round(log(col("c_xy").cast("double") * col("m") * col("m") /
          (col("nb").cast("double") * col("c_x") * col("c_y"))), 6))
      .select(col("w1"), col("w2"), col("c_xy"), col("c_x"), col("c_y"),
        col("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(20)
  }

  /** ZIPF FIT — the log-log rank-frequency OLS slope of the
    * vocabulary, the one-number lexical-health check (natural text
    * sits near −1; templated/boilerplate corpora flatten, spam
    * steepens): unigram counts → global rank (the ONE deliberately
    * unpartitioned window in this file — its input is the vocabulary
    * count table, |V| rows by construction, the q_win_unpartitioned
    * contract) → ln(rank)/ln(count) quantized to the 9 dp decimal
    * grid (the entropy log discipline) → exact decimal moment sums →
    * slope and intercept as one fixed IEEE sequence at 6 dp (both
    * NULL-guarded for the degenerate one-type corpus, where the fit
    * denominator is exactly 0). */
  def qTextZipf(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = docs(s, d).select(
      explode(split(lower(col("text")), "\\s+")).as("word"))
    val cu = tok.groupBy(col("word")).agg(count(lit(1)).as("c"))
    val q = cu
      .withColumn("rk",
        row_number().over(Window.orderBy(col("c").desc, col("word"))))
      .select(
        round(log(col("rk").cast("double")), 9).cast("decimal(18,9)")
          .as("x"),
        round(log(col("c").cast("double")), 9).cast("decimal(18,9)")
          .as("y"))
    val nd = col("n_types").cast("double")
    val sx = col("sx").cast("double")
    val sy = col("sy").cast("double")
    val sxy = col("sxy").cast("double")
    val sxx = col("sxx").cast("double")
    val slope = (nd * sxy - sx * sy) / (nd * sxx - sx * sx)
    q.agg(count(lit(1)).as("n_types"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("n_types"),
        when(col("n_types") > 1, round(slope, 6)).as("slope"),
        when(col("n_types") > 1, round((sy - slope * sx) / nd, 6))
          .as("intercept"))
  }

  /** End-to-end curation pipeline — the LLM-corpus flow users actually
    * run, composed from graft operators in one Catalyst plan: quality
    * filter → exact dedup keep-first → deterministic stratified
    * sample. Each stage is individually oracle-checked; this query
    * checks their COMPOSITION (filter-before-dedup ordering, canonical
    * selection within the filtered set, sampling on the survivors). */
  def qPipelineCurate(s: SparkSession, d: String): DataFrame = {
    val scored = docs(s, d)
      .withColumn("quality", qualityScore(col("text")))
      .where(col("quality") >= 0.5)
    val deduped = graft.dedup.Dedup.exactDedup(scored, "doc_id", "text")
      .where(col("is_canonical"))
    graft.operators.Sampling.stratifiedSample(
      deduped, keyCol = "doc_id", strataCol = "lang",
      rates = Map("en" -> 0.5), defaultRate = 1.0)
      .select(col("doc_id"), col("lang"), col("quality"))
      .orderBy(col("doc_id"))
  }

  /** PIPELINE FUNNEL — the stage-survival report over the curation
    * chain (raw → quality filter → exact-dedup canonical → stratified
    * sample): docs and tokens alive after each stage, one row per
    * stage. This is the report every curation run publishes ("dedup
    * cost 12% of tokens, the quality gate 31%"); the stages are the
    * registered q_pipeline_curate chain verbatim, so the funnel
    * measures the SAME pipeline the curate query ships. Each stage
    * prefix is checkpointed once and read by its own count and every
    * downstream stage — four bounded aggregate rows, never four
    * re-runs of the chain. */
  def qPipelineFunnel(s: SparkSession, d: String): DataFrame = {
    val scored = Materialize(docs(s, d)
      .withColumn("quality", qualityScore(col("text")))
      .withColumn("n_toks", size(split(col("text"), "\\s+")).cast("long")))
    val kept = scored.where(col("quality") >= 0.5)
    val canon = Materialize(graft.dedup.Dedup.exactDedup(kept, "doc_id", "text")
      .where(col("is_canonical")))
    val sampled = graft.operators.Sampling.stratifiedSample(
      canon, keyCol = "doc_id", strataCol = "lang",
      rates = Map("en" -> 0.5), defaultRate = 1.0)
    Seq((0, "raw", scored), (1, "quality_kept", kept),
        (2, "dedup_canonical", canon), (3, "sampled", sampled))
      .map { case (i, nm, df) =>
        df.agg(count(lit(1)).as("n_docs"),
            coalesce(sum(col("n_toks")), lit(0L)).as("n_tokens"))
          .select(lit(i).as("stage"), lit(nm).as("stage_name"),
            col("n_docs"), col("n_tokens"))
      }
      .reduce(_ unionByName _).orderBy(col("stage"))
  }

  /** Sequence packing: assign docs to 2048-token training bins by
    * contiguous fill — each doc's bin is where the per-language
    * running token total stood when it started (exclusive prefix sum
    * DIV budget). One window pass per language; the deterministic,
    * shuffle-light approximation of first-fit packing (real packers
    * may split docs at boundaries; bin assignment is the distributed
    * part either way). */
  def qPackSequences(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), "\\s+")).as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        floor((col("cum") - col("n_tokens")) / 2048.0).cast("long").as("bin"))
      .orderBy(col("doc_id"))
  }

  /** Gopher-style repetition signals (Rae et al. 2021 §A1.1: fraction
    * of duplicate tokens / characters in the most frequent n-gram —
    * the standard boilerplate detectors for LLM corpus filtering).
    * Computed on the relational token backbone: ONE Generate, one
    * window pass for the n-gram neighbors, then per-doc aggregates —
    * every shuffle is on doc_id, so the stages stay co-partitioned. */
  def qTextRepetition(s: SparkSession, d: String): DataFrame = {
    // round 14 note: the array-based gram rewrite (the topk_ngrams /
    // pmi pattern) was tried and measured SLOWER here (1.3 → ~2.1 s
    // at sf0.1): this query's three aggregate branches all reuse the
    // ONE pre-window exchange (ReusedExchange), so the window costs
    // one sort while the array form pays two interpreted gram
    // transforms plus two extra (doc_id, g) exchanges. Kept as-is.
    import org.apache.spark.sql.expressions.Window
    val tok = docs(s, d).select(col("doc_id"),
      posexplode(split(lower(col("text")), "\\s+")).as(Seq("pos", "tok")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val grams = tok
      .withColumn("w2", lead(col("tok"), 1).over(w))
      .withColumn("w3", lead(col("tok"), 2).over(w))
    // base derives from `grams` (same rows as tok), NOT tok: all three
    // aggregate branches then share the identical pre-window exchange,
    // so ReusedExchange collapses them to ONE scan + ONE shuffle — and
    // since hash(doc_id) satisfies every downstream clustering
    // ((doc_id), (doc_id, g)), no branch adds another exchange
    val base = grams.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"),
           countDistinct(col("tok")).as("n_distinct"))
    val bg = grams.where(col("w2").isNotNull)
      .select(col("doc_id"), concat_ws(" ", col("tok"), col("w2")).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(max(col("n")).as("bg_mx"), sum(col("n")).as("bg_tot"))
    val tg = grams.where(col("w3").isNotNull)
      .select(col("doc_id"),
        concat_ws(" ", col("tok"), col("w2"), col("w3")).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(max(col("n")).as("tg_mx"), sum(col("n")).as("tg_tot"))
    // left joins: a 1-token doc has no bigrams/trigrams → fractions 0
    base.join(bg, Seq("doc_id"), "left_outer")
      .join(tg, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        round(lit(1.0) - col("n_distinct") * 1.0 / col("n_toks"), 6)
          .as("dup_tok_frac"),
        round(coalesce(col("bg_mx") * 1.0 / col("bg_tot"), lit(0.0)), 6)
          .as("top_bigram_frac"),
        round(coalesce(col("tg_mx") * 1.0 / col("tg_tot"), lit(0.0)), 6)
          .as("top_trigram_frac"))
      .orderBy(col("doc_id"))
  }

  /** Pattern redaction — the PII-scrub shape (count matches, replace
    * globally, keep the scrubbed text). Real pipelines pass email /
    * phone / SSN regexes; the synthetic corpus has no PII-shaped
    * strings, so an entity vocabulary stands in — the plan (two
    * codegen'd regex expressions over a pruned text column) is
    * identical for any pattern. */
  def qTextScrub(s: SparkSession, d: String): DataFrame = {
    val pat = "\\b(customer|order)\\b"
    docs(s, d).select(col("doc_id"),
      regexp_count(col("text"), lit(pat)).as("n_redacted"),
      regexp_replace(col("text"), pat, "<ent>").as("scrubbed"))
      .orderBy(col("doc_id"))
  }

  /** BM25 (Okapi, k1=1.2 b=0.75) document ranking for a bounded term
    * set — the lexical-retrieval op of a training-data search stack.
    * The term-frequency table IS an inverted-index build (posting
    * lists per term); df and the corpus stats are tiny aggregates that
    * broadcast into the scoring join; top-50 is a distributed
    * TakeOrderedAndProject, never a global sort. Scores are rounded to
    * 6 before ranking (doc_id tiebreak) so distributed double noise
    * can't reorder the cut. */
  def qTextBm25(s: SparkSession, d: String): DataFrame = {
    val terms = Seq("table", "window", "scan")
    val tok = docs(s, d).select(col("doc_id"),
      explode(split(lower(col("text")), "\\s+")).as("tok"))
    // ONE pass computes doc length AND every per-term tf as codegen'd
    // conditional counts (the langid backbone trick) — the corpus is
    // scanned and tokenized exactly once, shuffled once on doc_id
    val perDoc = tok.groupBy(col("doc_id")).agg(
      count(lit(1)).as("dl"),
      terms.map(t =>
        count(when(col("tok") === t, lit(1))).as(s"tf_$t")): _*)
    // corpus stats + per-term df in one 1-row aggregate, broadcast back.
    // Token counts are integers, so the double AVG sum is exact in any
    // order (< 2^53) — avgdl is bit-identical cross-engine
    val statAggs =
      count(lit(1)).as("n") +: avg(col("dl").cast("double")).as("avgdl") +:
        terms.map(t =>
          count(when(col(s"tf_$t") > 0, lit(1))).as(s"df_$t"))
    val stats = perDoc.agg(statAggs.head, statAggs.tail: _*)
    def contrib(t: String) = {
      val tf = col(s"tf_$t").cast("double")
      val idf = log(lit(1.0) + (col("n") - col(s"df_$t") + 0.5) /
        (col(s"df_$t") + 0.5))
      when(col(s"tf_$t") > 0,
        idf * tf * lit(2.2) /
          (tf + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
        .otherwise(lit(0.0))
    }
    perDoc.crossJoin(broadcast(stats))
      .where(terms.map(t => col(s"tf_$t") > 0).reduce(_ || _))
      .select(col("doc_id"),
        round(terms.map(contrib).reduce(_ + _), 6).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(50)
  }

  /** Unigram language-model perplexity per document — the CCNet-style
    * quality filter (score each doc against an LM trained on the
    * corpus itself; outliers are junk). The "model" is the global
    * unigram table: one aggregate off the token backbone, broadcast
    * back into the scoring join. Per-token log-probs are ROUNDed to
    * 9 dp and summed as DECIMAL so the per-doc mean is exact and
    * order-independent cross-engine; libm's ulp differences in LN/EXP
    * die in the rounding. */
  def qTextPerplexity(s: SparkSession, d: String): DataFrame = {
    val tok = docs(s, d).select(col("doc_id"),
      explode(split(lower(col("text")), "\\s+")).as("tok"))
    val uni = tok.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val tot = uni.agg(sum(col("cnt")).as("total"))
    tok.join(broadcast(uni), "tok")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"),
        round(log(col("cnt").cast("double") / col("total")), 9)
          .cast("decimal(18,9)").as("lp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(col("lp")).cast("double") / count(lit(1)), 6).as("avg_logp"))
      .withColumn("ppl", round(exp(-col("avg_logp")), 4))
      .orderBy(col("doc_id"))
  }

  /** BPE merge-pair statistics — the tokenizer-training kernel (top
    * candidate merges for the first BPE iteration; cf. Sennrich et al.
    * 2016). The 100-TB shape is the classic two-level trick: the
    * corpus-sized pass is ONE tokenize → word-frequency aggregate
    * (map-side combined, shuffle carries the compact vocab), and the
    * adjacent-character-pair expansion then runs over DISTINCT words
    * weighted by their corpus frequency — vocab-sized work, not
    * corpus-sized. A naive per-document pair explode would shuffle
    * O(total chars); this shuffles O(|vocab| · avg word length). */
  def qTextBpePairs(s: SparkSession, d: String): DataFrame = {
    val wf = docs(s, d)
      .select(explode(split(col("text"), "\\s+")).as("word"))
      .where(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    wf.where(length(col("word")) >= 2)
      .select(col("freq"), explode(expr(
        "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"))
        .as("pair"))
      .groupBy(col("pair")).agg(sum(col("freq")).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(50)
  }

  /** Merge rounds for q_bpe_train — unrolled in the generated oracle
    * (the kmeans/PageRank fixed-iteration discipline). */
  val BpeMerges = 6

  /** Symbol separator for the BPE merge representation: each symbol is
    * wrapped in its own separators (`␟sym␟`), so the merge of pair
    * (p1, p2) is a plain string REPLACE of `␟p1␟␟p2␟` with `␟p1p2␟` —
    * the full wrapping makes partial-symbol matches impossible
    * ([a, bc] can never match pattern ␟a␟␟b␟) and, because standard
    * REPLACE scans left-to-right non-overlapping and resumes AFTER the
    * replacement, the string op IS exactly BPE's greedy within-word
    * merge pass ([a,a,a] → [aa, a]; [a,b,a,b] → [ab, ab]) — both
    * chaining cases spec-asserted. Engine-portable: Spark `replace`
    * and DuckDB `REPLACE` share these semantics. */
  val BpeSep = "\u001f"

  /** ITERATIVE BPE TRAINING (Sennrich et al. 2016) — the tokenizer-
    * training loop itself, not just the first iteration's candidate
    * table (q_text_bpe_pairs): BpeMerges rounds of count-adjacent-
    * pairs → pick the most frequent (ties lexicographic) → merge it
    * everywhere, over the corpus word-frequency table. Output: the
    * learned merge table (round, p1, p2, n) — the artifact a
    * tokenizer ships.
    *
    * Scale shape (the two-level trick): the ONLY corpus-sized pass is
    * the initial tokenize → word-frequency aggregate (map-side
    * combined, the shuffle carries the compact vocab). Every round is
    * then VOCAB-sized: one pair explode + weighted count, one 1-row
    * argmax (broadcast), one per-row string REPLACE. The vocab table
    * is localCheckpointed per round so round N's plan doesn't replay
    * rounds 1..N−1. All arithmetic is integer counts and plain string
    * ops — the oracle unrolls the same rounds and hash-matches the
    * merge table exactly. */
  def qBpeTrain(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sep = BpeSep
    var vocab = Materialize(docs(s, d)
      .select(explode(split(col("text"), "\\s+")).as("word"))
      .where(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(col("freq"),
        array_join(transform(
          filter(split(col("word"), ""), c => c =!= ""),
          c => concat(lit(sep), c, lit(sep))), "").as("ws")))
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    for (r <- 1 to BpeMerges) {
      val syms = filter(split(col("ws"), sep), x => x =!= "")
      val best = vocab
        .select(col("freq"), explode(
          zip_with(slice(syms, lit(1), size(syms) - 1),
            slice(syms, lit(2), size(syms) - 1),
            (a, b) => struct(a.as("p1"), b.as("p2")))).as("pr"))
        .groupBy(col("pr.p1").as("p1"), col("pr.p2").as("p2"))
        .agg(sum(col("freq")).as("n"))
        .orderBy(col("n").desc, col("p1"), col("p2"))
        .limit(1)
        .collect()
      if (best.nonEmpty) {
        val (p1, p2, n) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((r, p1, p2, n))
        vocab = Materialize(vocab.select(col("freq"),
          replace(col("ws"), lit(s"$sep$p1$sep$sep$p2$sep"),
            lit(s"$sep$p1$p2$sep")).as("ws")))
      }
    }
    merges.result().toDF("round", "p1", "p2", "n")
      .orderBy(col("round"))
  }

  /** APPLY the learned tokenizer — the compression report read after
    * q_bpe_train: each document's character count vs its token count
    * under the trained merge table (chars-per-token IS the metric a
    * tokenizer is judged by). The merge table (BpeMerges rows) is
    * collected driver-side and FOLDED into one per-row expression —
    * the ordered chain of wrapped-separator REPLACEs, each applied
    * exactly as during training — evaluated over the DISTINCT-word
    * table (vocab-sized), then one word join carries per-word token
    * counts back to the corpus stream. No per-round corpus pass:
    * tokenizing is a broadcast-sized expression + one join. */
  def qBpeTokenize(s: SparkSession, d: String): DataFrame = {
    val sep = BpeSep
    val trained = qBpeTrain(s, d).collect()
      .map(r => (r.getString(1), r.getString(2)))
    val wsInit = array_join(transform(
      filter(split(col("word"), ""), c => c =!= ""),
      c => concat(lit(sep), c, lit(sep))), "")
    val wsFinal = trained.foldLeft(wsInit) { case (ws, (p1, p2)) =>
      replace(ws, lit(s"$sep$p1$sep$sep$p2$sep"), lit(s"$sep$p1$p2$sep"))
    }
    val wordTok = docs(s, d)
      .select(explode(split(col("text"), "\\s+")).as("word"))
      .where(col("word") =!= "").distinct()
      .select(col("word"),
        size(filter(split(wsFinal, sep), x => x =!= "")).as("nt"))
    docs(s, d)
      .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("word"))
      .where(col("word") =!= "")
      .join(wordTok, "word")
      .groupBy(col("doc_id"))
      .agg(sum(length(col("word"))).cast("long").as("n_chars"),
        count(lit(1)).as("n_words"),
        sum(col("nt")).cast("long").as("n_bpe_tokens"))
      .select(col("doc_id"), col("n_chars"), col("n_words"),
        col("n_bpe_tokens"),
        round(col("n_chars").cast("double") /
          col("n_bpe_tokens").cast("double"), 6).as("chars_per_token"))
      .orderBy(col("doc_id"))
  }

  /** Mixture resampling to target source weights — the corpus-blending
    * shape (hit a prescribed domain mixture from whatever the crawl
    * delivered). Globally COUPLED rates, unlike the per-stratum
    * constants of q_sample_stratified: keep rate_s = C·w_s/n_s with
    * C = min_t(n_t/w_t), so the most over-demanded source caps at
    * rate 1.0 (a filter cannot upsample) and every other source is
    * downsampled to match the target proportions exactly. The per-
    * source counts are a tiny aggregate; C is a 1-row broadcast; the
    * rate table is a broadcast join; membership stays the pure per-row
    * deterministic hash filter (graft.operators.Sampling) — no
    * corpus-sized shuffle anywhere. */
  def qSampleMixture(s: SparkSession, d: String): DataFrame = {
    val w = when(col("source") === "src0", lit(8.0))
      .when(col("source") === "src1", lit(4.0)).otherwise(lit(1.0))
    val dcs = Tables.documents(s, d)
    val cnt = dcs.groupBy(col("source"))
      .agg(count(lit(1)).as("n")).withColumn("w", w)
    val c = cnt.agg(min(col("n") / col("w")).as("c"))
    val rates = cnt.crossJoin(broadcast(c)).select(col("source"),
      least(lit(1.0), col("c") * col("w") / col("n")).as("rate"))
    dcs.join(broadcast(rates), Seq("source"))
      .where(graft.operators.Sampling.hashFraction(col("doc_id")) < col("rate"))
      .select(col("doc_id"), col("source"), round(col("rate"), 6).as("rate"))
      .orderBy(col("doc_id"))
  }

  /** Bigram-LM perplexity with add-one smoothing — the CCNet-style
    * upgrade over q_text_perplexity's unigram filter (context-aware:
    * scrambled text scores high here even when its unigram mix looks
    * natural). P(w₂|w₁) = (c(w₁w₂)+1)/(c(w₁)+V). Bigram extraction is
    * a pure per-row zip of the token array against its own tail — no
    * window, no shuffle before the count; the bigram-count join keys
    * on (w₁,w₂) with map-side-combined counts; V and the unigram
    * table follow the perplexity broadcast shape. Same portable
    * round-9 DECIMAL log-sum discipline. Docs under 2 tokens have no
    * bigram model and no row — documented, mirrored in the oracle. */
  def qTextPerplexityBigram(s: SparkSession, d: String): DataFrame = {
    val bi = docs(s, d)
      .select(col("doc_id"), split(lower(col("text")), "\\s+").as("toks"))
      .where(size(col("toks")) >= 2)
      .select(col("doc_id"), expr(
        """explode(zip_with(
          |  slice(toks, 1, size(toks) - 1),
          |  slice(toks, 2, size(toks) - 1),
          |  (a, b) -> struct(a AS w1, b AS w2))) AS bg""".stripMargin))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val toks = docs(s, d).select(
      explode(split(lower(col("text")), "\\s+")).as("tok"))
    val cu = toks.groupBy(col("tok")).agg(count(lit(1)).as("cu"))
    val vocab = cu.agg(count(lit(1)).as("v"))
    val cbg = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    bi.join(cbg, Seq("w1", "w2"))
      .join(cu.withColumnRenamed("tok", "w1"), "w1")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        round(log((col("cb") + 1).cast("double") / (col("cu") + col("v"))), 9)
          .cast("decimal(18,9)").as("lp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("lp")).cast("double") / count(lit(1)), 6)
          .as("avg_logp"))
      .withColumn("ppl", round(exp(-col("avg_logp")), 4))
      .orderBy(col("doc_id"))
  }

  /** Per-source corpus report — the "dataset card" a curation run
    * publishes per slice: volume, exact-duplicate fraction (distinct
    * fingerprints), mean quality score, mean token count, and the
    * language-distribution entropy (how multilingual the slice is).
    * ONE per-doc pass (the token backbone joined back to the doc row
    * on doc_id — co-partitioned) feeding two tiny per-source
    * aggregates; every mean runs through exact DECIMAL sums and the
    * entropy uses the portable round-9 log discipline, so the card is
    * bit-stable cross-engine. Output is |sources| rows. */
  def qCorpusReport(s: SparkSession, d: String): DataFrame = {
    val lenScore = least(col("n_toks").cast("double") / lit(64.0), lit(1.0))
    val punctScore = lit(1.0) - least(
      (col("n_chars") - col("n_nopunct")).cast("double") /
        greatest(col("n_chars").cast("double"), lit(1.0)) * 10.0, lit(1.0))
    val swScore = least(
      col("n_sw").cast("double") /
        greatest(col("n_toks").cast("double"), lit(1.0)) * 5.0, lit(1.0))
    val quality = round((lenScore + punctScore + swScore) / 3.0, 6)
    val perdoc = tokenAgg(s, d)
      .select(col("doc_id"), quality.as("quality"), col("n_toks"))
      .join(docs(s, d).select(col("doc_id"), col("source"),
        col("lang").as("doc_lang"),
        md5(regexp_replace(trim(lower(col("text"))), "\\s+", " ")).as("fp")),
        "doc_id")
    val bySource = perdoc.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("fp")).as("n_unique"),
      round(sum(col("quality").cast("decimal(18,6)")).cast("double") /
        count(lit(1)), 6).as("mean_quality"),
      round(sum(col("n_toks")).cast("double") / count(lit(1)), 4)
        .as("mean_tokens"))
    val langEnt = perdoc.groupBy(col("source"), col("doc_lang"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source")).agg(
        sum(round(col("c") * log(col("c").cast("double")), 9)
          .cast("decimal(18,9)")).as("sclnc"),
        sum(col("c")).as("n"))
      .select(col("source"), round(
        (log(col("n").cast("double")) -
          col("sclnc").cast("double") / col("n")) / math.log(2.0), 6)
        .as("lang_entropy_bits"))
    bySource.join(langEnt, "source")
      .select(col("source"), col("n_docs"), col("n_unique"),
        round(lit(1.0) - col("n_unique").cast("double") / col("n_docs"), 6)
          .as("dup_frac"),
        col("mean_quality"), col("mean_tokens"), col("lang_entropy_bits"))
      .orderBy(col("source"))
  }

  /** Temperature-scaled mixture resampling (the multilingual /
    * multi-source flattening used by mBERT/XLM-style pipelines):
    * resampled source proportions ∝ p_s^α with α = 0.5, i.e. target
    * weights w_s = √n_s under the same globally COUPLED rate scheme
    * as qSampleMixture (rate_s = C·w_s/n_s, C = min n_t/w_t, so the
    * flattest-demand source caps at 1.0 and the rest follow exactly).
    * α = 0.5 is deliberate: the weight is computed with SQRT, which
    * IEEE requires to be correctly rounded — bit-identical across
    * engines where a general pow() need not be. Same plan shape as
    * the mixture: tiny per-source agg, 1-row broadcast C, pure
    * per-row hash-fraction membership — no corpus-sized shuffle. */
  def qSampleTemperature(s: SparkSession, d: String): DataFrame = {
    val dcs = Tables.documents(s, d)
    val cnt = dcs.groupBy(col("source"))
      .agg(count(lit(1)).as("n"))
      .withColumn("w", sqrt(col("n").cast("double")))
    val c = cnt.agg(min(col("n") / col("w")).as("c"))
    val rates = cnt.crossJoin(broadcast(c)).select(col("source"),
      round(least(lit(1.0), col("c") * col("w") / col("n")), 9).as("rate"))
    dcs.join(broadcast(rates), Seq("source"))
      .where(graft.operators.Sampling.hashFraction(col("doc_id")) < col("rate"))
      .select(col("doc_id"), col("source"), round(col("rate"), 6).as("rate"))
      .orderBy(col("doc_id"))
  }

  /** Leakage-safe train/val/test split — the holdout-assignment shape
    * every training pipeline needs. Keyed on the normalized-text
    * FINGERPRINT, not doc_id: exact duplicates (crawl re-occurrences)
    * hash to the same key and land in the SAME split, where a doc_id
    * split would leak duplicated content across the eval boundary.
    * Pure per-row expression — no shuffle, no join — and the hash
    * fraction is engine-portable, so the assignment is reproducible
    * across runs, partitionings, and engines. */
  def qSplitTrainTest(s: SparkSession, d: String): DataFrame =
    splitAssign(Tables.documents(s, d)).orderBy(col("doc_id"))

  /** The split core over any frame with (doc_id, text) — shared with
    * q_split_leakage's cross-split near-dup audit. */
  private[queries] def splitAssign(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), splitWhen.as("split"))

  /** The split assignment as a bare column over `text` — shared with
    * q_nb_langid, which needs it alongside the doc's other columns. */
  private[queries] def splitWhen: org.apache.spark.sql.Column = {
    val f = graft.operators.Sampling.hashFraction(
      graft.text.TextAnalysis.fingerprint(col("text")))
    when(f < 0.8, "train").when(f < 0.9, "val").otherwise("test")
  }

  /** The split assignment as a DuckDB subquery (no ORDER BY) — the
    * q_split_train_test oracle body, shared with q_split_leakage. */
  private[queries] val SplitSelectSql: String =
    """SELECT doc_id,
      |  CASE WHEN fr < 0.8 THEN 'train' WHEN fr < 0.9 THEN 'val'
      |    ELSE 'test' END AS split
      |FROM (
      |  SELECT doc_id,
      |    CAST(CONCAT('0x', SUBSTR(MD5(
      |      MD5(REGEXP_REPLACE(TRIM(LOWER(text)), '\s+', ' ', 'g'))), 1, 6))
      |      AS INTEGER) / 16777216.0 AS fr
      |  FROM documents) f""".stripMargin

  /** The full training-data assembly, composed in ONE Catalyst plan —
    * the flagship of the LLM-pipeline block the way q_pipeline_curate
    * is for curation, covering the three stages it doesn't: exact
    * dedup (keep-first on the content fingerprint) → eval-set
    * DECONTAMINATION (drop any candidate sharing a 5-gram shingle
    * with the src0 eval set — the classic n-gram decontam pass) →
    * leakage-safe TRAIN shard (fingerprint-hash < 0.8, q_split_
    * train_test's key) → sequence PACKING into 2048-token bins.
    * Every stage is individually oracle-checked elsewhere; this query
    * checks their composition. Scale shape: one window on fp, the
    * broadcast-sized eval shingle join, a per-row split filter, one
    * window on (lang) — no corpus-sized pairwise work anywhere. */
  def qPipelineTrain(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.dedup.Dedup
    val fp = docs(s, d).withColumn("fp",
      graft.text.TextAnalysis.fingerprint(col("text")))
    val canon = fp.withColumn("cid",
      min(col("doc_id")).over(Window.partitionBy(col("fp"))))
      .where(col("doc_id") === col("cid"))
    val cand = canon.where(col("source") =!= "src0")
    val contaminated = Dedup.contaminationCounts(
      cand, canon.where(col("source") === "src0"),
      "doc_id", "text", n = 5).select(col("id").as("doc_id"))
    val train = cand
      .join(contaminated, Seq("doc_id"), "left_anti")
      .where(graft.operators.Sampling.hashFraction(col("fp")) < 0.8)
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    train.select(col("doc_id"), col("lang"),
      size(split(col("text"), "\\s+")).as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        floor((col("cum") - col("n_tokens")) / 2048.0).cast("long").as("bin"))
      .orderBy(col("doc_id"))
  }

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pipeline_train" -> (qPipelineTrain _),
    "q_sample_temperature" -> (qSampleTemperature _),
    "q_corpus_report" -> (qCorpusReport _),
    "q_text_perplexity_bigram" -> (qTextPerplexityBigram _),
    "q_split_train_test" -> (qSplitTrainTest _),
    "q_text_bpe_pairs" -> (qTextBpePairs _),
    "q_bpe_train" -> (qBpeTrain _),
    "q_bpe_tokenize" -> (qBpeTokenize _),
    "q_sample_mixture" -> (qSampleMixture _),
    "q_text_perplexity" -> (qTextPerplexity _),
    "q_text_repetition" -> (qTextRepetition _),
    "q_text_scrub" -> (qTextScrub _),
    "q_text_bm25" -> (qTextBm25 _),
    "q_pack_sequences" -> (qPackSequences _),
    "q_pipeline_curate" -> (qPipelineCurate _),
    "q_pipeline_funnel" -> (qPipelineFunnel _),
    "q_sample_stratified" -> (qSampleStratified _),
    "q_sample_weighted" -> (qSampleWeighted _),
    "q_sample_pergroup" -> (qSamplePergroup _),
    "q_text_topk_ngrams" -> (qTextTopkNgrams _),
    "q_text_pmi" -> (qTextPmi _),
    "q_text_zipf" -> (qTextZipf _),
    "q_text_stats" -> (qTextStats _),
    "q_text_gopher" -> (qTextGopher _),
    "q_text_tokens" -> (qTextTokens _),
    "q_text_quality" -> (qTextQuality _),
    "q_quality_sweep" -> (qQualitySweep _),
    "q_token_budget" -> (qTokenBudget _),
    "q_corpus_cap" -> (qCorpusCap _),
    "q_text_langid" -> (qTextLangid _),
    "q_langid_confusion" -> (qLangidConfusion _),
    "q_nb_langid" -> (qNbLangid _),
    "q_text_fingerprint" -> (qTextFingerprint _),
    "q_text_quantiles" -> (qTextQuantiles _))

  // DuckDB twins. Tokenization: text is single-space-separated in the
  // corpus; both sides split on whitespace runs.
  private val nToks = "LENGTH(TRIM(text)) - LENGTH(REPLACE(TRIM(text), ' ', '')) + 1"
  private def hitsSql(lang: String): String = {
    val words = graft.text.TextAnalysis.markers(lang)
      .map(w => s"'$w'").mkString(", ")
    s"LEN(LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '\\s+'), t -> t IN ($words)))"
  }

  /** DuckDB twin of qTextBm25, GENERATED from the same term list so
    * the contribution expressions — and their fixed left-to-right
    * summation order — stay in lockstep with the Scala side. */
  private def bm25Oracle: String = {
    val terms = Seq("table", "window", "scan")
    val tfCols = terms.map(t =>
      s"LEN(LIST_FILTER(ts, x -> x = '$t')) AS tf_$t").mkString(",\n  ")
    val dfCols = terms.map(t =>
      s"COUNT(*) FILTER (tf_$t > 0) AS df_$t").mkString(",\n  ")
    val contribs = terms.map(t =>
      s"""(CASE WHEN tf_$t > 0
         | THEN LN(1.0 + (n - df_$t + 0.5) / (df_$t + 0.5)) *
         |   (tf_$t * 1.0) * 2.2 /
         |   ((tf_$t * 1.0) + 1.2 * (0.25 + 0.75 * dl / avgdl))
         | ELSE 0.0 END)""".stripMargin).mkString(" +\n  ")
    val anyTf = terms.map(t => s"tf_$t > 0").mkString(" OR ")
    s"""WITH tokd AS (
       |  SELECT doc_id, STRING_SPLIT_REGEX(LOWER(text), '\\s+') AS ts
       |  FROM documents),
       |perdoc AS (
       |  SELECT doc_id, LEN(ts) AS dl,
       |  $tfCols
       |  FROM tokd),
       |stats AS (
       |  SELECT COUNT(*) AS n, AVG(dl * 1.0) AS avgdl,
       |  $dfCols
       |  FROM perdoc)
       |SELECT doc_id, ROUND(
       |  $contribs, 6) AS bm25
       |FROM perdoc CROSS JOIN stats
       |WHERE $anyTf
       |ORDER BY bm25 DESC, doc_id LIMIT 50""".stripMargin
  }

  /** q_bpe_train oracle — BpeMerges rounds unrolled (the kmeans
    * discipline): per round, symbol split on CHR(31), adjacent-pair
    * weighted count, 1-row argmax with the (n DESC, p1, p2) tiebreak,
    * REPLACE-based merge (the same left-to-right non-overlapping
    * semantics as Spark's replace — spec-asserted), then the union of
    * the round winners IS the merge table. */
  /** The w0/v0..v$BpeMerges BPE round CTE chain, shared by the train
    * and tokenize oracles; each v$r carries the post-merge symbol
    * string per word, each b$r the round's winning pair. */
  private def bpeRoundCtes: String = {
    val rounds = (1 to BpeMerges).map { r =>
      val prev = s"v${r - 1}"
      s"""s$r AS (
         |  SELECT freq, LIST_FILTER(STRING_SPLIT(ws, CHR(31)), x -> x <> '') AS sy
         |  FROM $prev),
         |p$r AS (
         |  SELECT sy[i] AS p1, sy[i + 1] AS p2, CAST(SUM(freq) AS BIGINT) AS n
         |  FROM (SELECT freq, sy, UNNEST(GENERATE_SERIES(1, LEN(sy) - 1)) AS i
         |        FROM s$r)
         |  GROUP BY 1, 2),
         |b$r AS (SELECT p1, p2, n FROM p$r ORDER BY n DESC, p1, p2 LIMIT 1),
         |v$r AS (
         |  SELECT word, freq, REPLACE(ws,
         |    CHR(31) || b.p1 || CHR(31) || CHR(31) || b.p2 || CHR(31),
         |    CHR(31) || b.p1 || b.p2 || CHR(31)) AS ws
         |  FROM $prev CROSS JOIN b$r b)""".stripMargin
    }.mkString(",\n")
    s"""w0 AS (
       |  SELECT word, COUNT(*) AS freq FROM (
       |    SELECT UNNEST(STRING_SPLIT_REGEX(text, '\\s+')) AS word
       |    FROM documents)
       |  WHERE word <> '' GROUP BY word),
       |v0 AS (
       |  SELECT word, freq, ARRAY_TO_STRING(LIST_TRANSFORM(
       |    STRING_SPLIT(word, ''), c -> CHR(31) || c || CHR(31)), '') AS ws
       |  FROM w0),
       |$rounds""".stripMargin
  }

  private def bpeTrainOracle: String = {
    val union = (1 to BpeMerges)
      .map(r => s"SELECT $r AS round, p1, p2, n FROM b$r")
      .mkString("\nUNION ALL\n")
    s"""WITH $bpeRoundCtes
       |$union
       |ORDER BY round""".stripMargin
  }

  /** q_bpe_tokenize oracle: the shared round chain's FINAL vocab, one
    * token count per distinct word, joined back to the per-doc word
    * stream — the compression report of the learned tokenizer. */
  private def bpeTokenizeOracle: String =
    s"""WITH $bpeRoundCtes,
       |tokc AS (
       |  SELECT word,
       |    LEN(LIST_FILTER(STRING_SPLIT(ws, CHR(31)), x -> x <> '')) AS nt
       |  FROM v$BpeMerges),
       |dw AS (
       |  SELECT doc_id, UNNEST(STRING_SPLIT_REGEX(text, '\\s+')) AS word
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(SUM(LENGTH(word)) AS BIGINT) AS n_chars,
       |  COUNT(*) AS n_words,
       |  CAST(SUM(nt) AS BIGINT) AS n_bpe_tokens,
       |  ROUND(CAST(SUM(LENGTH(word)) AS DOUBLE) / SUM(nt), 6)
       |    AS chars_per_token
       |FROM dw JOIN tokc USING (word)
       |WHERE word <> ''
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** The composite-quality scored-docs CTE chain (qscored → qsc):
    * DuckDB twin of scoredDocs, shared by the q_text_quality,
    * q_quality_sweep, and q_token_budget oracles so the score formula
    * lives in exactly one SQL body. */
  private def scoredQualityCte: String =
    """qscored AS (
      |  SELECT doc_id,
      |    LEAST(LEN(LIST_FILTER(STRING_SPLIT_REGEX(text, '\s+'),
      |      t -> t <> '')) / 64.0, 1.0) AS len_score,
      |    1.0 - LEAST(((LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[!-/:-@\[-`{-~]', '', 'g'))) * 1.0
      |      / GREATEST(LENGTH(text), 1)) * 10.0, 1.0) AS punct_score,
      |    LEAST((LEN(LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '\s+'),
      |      t -> t IN ('the','a','an','and','or','of','to','in','is','it'))) * 1.0
      |      / GREATEST(LEN(LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '\s+'),
      |        t -> t <> '')), 1)) * 5.0, 1.0) AS sw_score,
      |    LEN(LIST_FILTER(STRING_SPLIT_REGEX(text, '\s+'),
      |      t -> t <> '')) AS n_toks
      |  FROM documents),
      |qsc AS (
      |  SELECT doc_id,
      |    ROUND((len_score + punct_score + sw_score) / 3.0, 6) AS quality,
      |    n_toks
      |  FROM qscored)""".stripMargin

  /** The curation-chain CTEs (scored → kept → canon, with per-doc
    * token counts carried through) shared by the q_pipeline_curate and
    * q_pipeline_funnel oracles — one SQL body for the chain both
    * queries measure. NOTE: q_pipeline_curate's quality formula
    * (qualityScore over raw split counts) is deliberately the
    * PER-ROW-expression variant, not the token-backbone variant the
    * q_text_quality family uses. */
  private def curateCtes: String =
    """scored AS (
      |  SELECT doc_id, lang, text,
      |    ROUND((LEAST(LEN(STRING_SPLIT_REGEX(text, '\s+')) / 64.0, 1.0) +
      |      1.0 - LEAST(((LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[!-/:-@\[-`{-~]', '', 'g'))) * 1.0
      |        / GREATEST(LENGTH(text), 1)) * 10.0, 1.0) +
      |      LEAST((LEN(LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '\s+'),
      |        t -> t IN ('the','a','an','and','or','of','to','in','is','it'))) * 1.0
      |        / GREATEST(LEN(STRING_SPLIT_REGEX(LOWER(text), '\s+')), 1)) * 5.0, 1.0)) / 3.0, 6) AS quality,
      |    LEN(STRING_SPLIT_REGEX(text, '\s+')) AS n_toks
      |  FROM documents),
      |kept AS (
      |  SELECT doc_id, lang, quality, n_toks,
      |    MD5(REGEXP_REPLACE(TRIM(LOWER(text)), '\s+', ' ', 'g')) AS h
      |  FROM scored WHERE quality >= 0.5),
      |canon AS (
      |  SELECT doc_id, lang, quality, n_toks,
      |    MIN(doc_id) OVER (PARTITION BY h) AS cid
      |  FROM kept)""".stripMargin

  /** DuckDB twin of qQualitySweep — the threshold ladder and column
    * layout are generated from the same QualitySweepThresholds
    * constant as the Spark side. */
  private def qualitySweepOracle: String = {
    val ths = QualitySweepThresholds
    val condSums = ths.zipWithIndex.map { case (t, i) =>
      s"""SUM(CASE WHEN quality >= $t THEN 1 ELSE 0 END) AS d$i,
         |    SUM(CASE WHEN quality >= $t THEN n_toks ELSE 0 END) AS k$i""".stripMargin
    }.mkString(",\n    ")
    val rows = ths.zipWithIndex.map { case (t, i) =>
      s"""SELECT CAST($t AS DOUBLE) AS threshold,
         |  CAST(d$i AS BIGINT) AS n_docs, CAST(k$i AS BIGINT) AS n_tokens,
         |  ROUND(d$i / GREATEST(t_docs, 1), 6) AS frac_docs,
         |  ROUND(k$i / GREATEST(t_toks, 1), 6) AS frac_tokens FROM a""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $scoredQualityCte,
       |a AS (
       |  SELECT COUNT(*) AS t_docs, SUM(n_toks) AS t_toks,
       |    $condSums
       |  FROM qsc)
       |$rows
       |ORDER BY threshold""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    "q_nb_langid" ->
      """WITH sp AS (
        |  SELECT doc_id, lang, text,
        |    CASE WHEN fr < 0.8 THEN 'train' WHEN fr < 0.9 THEN 'val'
        |      ELSE 'test' END AS split
        |  FROM (
        |    SELECT doc_id, lang, text,
        |      CAST(CONCAT('0x', SUBSTR(MD5(
        |        MD5(REGEXP_REPLACE(TRIM(LOWER(text)), '\s+', ' ', 'g'))), 1, 6))
        |        AS INTEGER) / 16777216.0 AS fr
        |    FROM documents) f),
        |tk AS (
        |  SELECT doc_id, lang, split,
        |    UNNEST(STRING_SPLIT_REGEX(LOWER(text), '\s+')) AS tok
        |  FROM sp),
        |tkf AS (SELECT * FROM tk WHERE tok <> ''),
        |wc AS (SELECT lang AS cl, tok, COUNT(*) AS cnt
        |  FROM tkf WHERE split = 'train' GROUP BY 1, 2),
        |ct AS (SELECT lang AS cl, COUNT(*) AS tok_c
        |  FROM tkf WHERE split = 'train' GROUP BY 1),
        |vc AS (SELECT COUNT(DISTINCT tok) AS v FROM wc),
        |dc AS (SELECT lang AS cl, COUNT(*) AS docs_c
        |  FROM sp WHERE split = 'train' GROUP BY 1),
        |cls AS (
        |  SELECT dc.cl,
        |    CAST(ROUND(LN(docs_c / (SELECT SUM(docs_c) FROM dc)), 8)
        |      AS DECIMAL(20,8)) AS prior,
        |    CAST(ROUND(LN(1.0 / (tok_c + vc.v)), 8)
        |      AS DECIMAL(20,8)) AS unk,
        |    tok_c + vc.v AS denom
        |  FROM dc JOIN ct USING (cl) CROSS JOIN vc),
        |trm AS (
        |  SELECT cl, tok,
        |    CAST(ROUND(LN((cnt + 1.0) / denom), 8) AS DECIMAL(20,8)) AS term
        |  FROM wc JOIN cls USING (cl)),
        |tt AS (SELECT doc_id, lang, tok, COUNT(*) AS n
        |  FROM tkf WHERE split = 'test' GROUP BY 1, 2, 3),
        |sc AS (
        |  SELECT tt.doc_id, tt.lang, cls.cl,
        |    MAX(cls.prior) + SUM(tt.n * COALESCE(trm.term, cls.unk)) AS score
        |  FROM tt CROSS JOIN cls
        |    LEFT JOIN trm ON trm.cl = cls.cl AND trm.tok = tt.tok
        |  GROUP BY 1, 2, 3),
        |mx AS (SELECT doc_id, lang, MAX(score) AS ms FROM sc GROUP BY 1, 2),
        |pr AS (
        |  SELECT sc.doc_id, sc.lang, MIN(sc.cl) AS lang_pred
        |  FROM sc JOIN mx ON sc.doc_id = mx.doc_id AND sc.score = mx.ms
        |  GROUP BY 1, 2),
        |cf AS (SELECT lang, lang_pred, COUNT(*) AS n FROM pr GROUP BY 1, 2),
        |t2 AS (SELECT lang, lang_pred, n,
        |  SUM(n) OVER (PARTITION BY lang) AS t FROM cf)
        |SELECT lang, lang_pred, n,
        |  CAST((2000000 * n + t) // (2 * t) AS BIGINT) / 1000000.0 AS share
        |FROM t2 ORDER BY lang, lang_pred""".stripMargin,
    "q_bpe_train" -> bpeTrainOracle,
    "q_bpe_tokenize" -> bpeTokenizeOracle,
    "q_text_perplexity_bigram" ->
      """WITH w AS (
        |  SELECT doc_id, STRING_SPLIT_REGEX(LOWER(text), '\s+') AS ws
        |  FROM documents),
        |bi AS (
        |  SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2 FROM (
        |    SELECT doc_id, ws,
        |      UNNEST(GENERATE_SERIES(1, LEN(ws) - 1)) AS i
        |    FROM w WHERE LEN(ws) >= 2)),
        |tok AS (
        |  SELECT UNNEST(STRING_SPLIT_REGEX(LOWER(text), '\s+')) AS tok
        |  FROM documents),
        |cu AS (SELECT tok AS w1, COUNT(*) AS cu FROM tok GROUP BY 1),
        |v AS (SELECT COUNT(*) AS v FROM cu),
        |cbg AS (SELECT w1, w2, COUNT(*) AS cb FROM bi GROUP BY 1, 2),
        |lp AS (
        |  SELECT doc_id,
        |    CAST(ROUND(LN((cb + 1) * 1.0 / (cu + v)), 9)
        |      AS DECIMAL(18,9)) AS lp
        |  FROM bi JOIN cbg USING (w1, w2) JOIN cu USING (w1) CROSS JOIN v),
        |per AS (
        |  SELECT doc_id, COUNT(*) AS n_bigrams,
        |    ROUND(CAST(SUM(lp) AS DOUBLE) / COUNT(*), 6) AS avg_logp
        |  FROM lp GROUP BY doc_id)
        |SELECT doc_id, n_bigrams, avg_logp,
        |  ROUND(EXP(-avg_logp), 4) AS ppl
        |FROM per ORDER BY doc_id""".stripMargin,
    "q_corpus_report" ->
      """WITH perdoc AS (
        |  SELECT doc_id, source, lang,
        |    MD5(REGEXP_REPLACE(TRIM(LOWER(text)), '\s+', ' ', 'g')) AS fp,
        |    CAST(LEN(STRING_SPLIT_REGEX(LOWER(text), '\s+')) AS BIGINT)
        |      AS n_toks,
        |    ROUND((
        |      LEAST(LEN(STRING_SPLIT_REGEX(text, '\s+')) / 64.0, 1.0)
        |      + 1.0 - LEAST(((LENGTH(text) - LENGTH(REGEXP_REPLACE(text,
        |          '[!-/:-@\[-`{-~]', '', 'g'))) * 1.0
        |          / GREATEST(LENGTH(text), 1)) * 10.0, 1.0)
        |      + LEAST((LEN(LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '\s+'),
        |          t -> t IN ('the','a','an','and','or','of','to','in','is','it')))
        |          * 1.0
        |          / GREATEST(LEN(STRING_SPLIT_REGEX(LOWER(text), '\s+')), 1))
        |          * 5.0, 1.0)
        |      ) / 3.0, 6) AS quality
        |  FROM documents),
        |s1 AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique,
        |    ROUND(CAST(SUM(CAST(quality AS DECIMAL(18,6))) AS DOUBLE)
        |      / COUNT(*), 6) AS mean_quality,
        |    ROUND(CAST(SUM(n_toks) AS DOUBLE) / COUNT(*), 4)
        |      AS mean_tokens
        |  FROM perdoc GROUP BY source),
        |lc AS (
        |  SELECT source, lang, COUNT(*) AS c FROM perdoc GROUP BY 1, 2),
        |s2 AS (
        |  SELECT source,
        |    SUM(CAST(ROUND(c * LN(CAST(c AS DOUBLE)), 9)
        |      AS DECIMAL(18,9))) AS sclnc,
        |    CAST(SUM(c) AS BIGINT) AS n
        |  FROM lc GROUP BY source)
        |SELECT s1.source, n_docs, n_unique,
        |  ROUND(1.0 - CAST(n_unique AS DOUBLE) / n_docs, 6) AS dup_frac,
        |  mean_quality, mean_tokens,
        |  ROUND((LN(CAST(n AS DOUBLE)) - CAST(sclnc AS DOUBLE) / n)
        |    / LN(2.0), 6) AS lang_entropy_bits
        |FROM s1 JOIN s2 USING (source)
        |ORDER BY s1.source""".stripMargin,
    "q_sample_temperature" ->
      """WITH cnt AS (
        |  SELECT source, COUNT(*) AS n,
        |    SQRT(CAST(COUNT(*) AS DOUBLE)) AS w
        |  FROM documents GROUP BY source),
        |cm AS (SELECT MIN(n / w) AS c FROM cnt),
        |r AS (SELECT source, ROUND(LEAST(1.0, c * w / n), 9) AS rate
        |      FROM cnt CROSS JOIN cm)
        |SELECT d.doc_id, d.source, ROUND(r.rate, 6) AS rate
        |FROM documents d JOIN r USING (source)
        |WHERE CAST(CONCAT('0x', SUBSTR(MD5(CAST(d.doc_id AS VARCHAR)), 1, 6))
        |    AS INTEGER) / 16777216.0 < r.rate
        |ORDER BY d.doc_id""".stripMargin,
    "q_pipeline_train" ->
      """WITH fp AS (
        |  SELECT doc_id, source, lang, text,
        |    MD5(REGEXP_REPLACE(TRIM(LOWER(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents),
        |canon AS (
        |  SELECT * FROM (
        |    SELECT *, MIN(doc_id) OVER (PARTITION BY fp) AS cid FROM fp) t
        |  WHERE doc_id = cid),
        |sh AS (
        |  SELECT doc_id, source,
        |    LIST_DISTINCT(CASE WHEN LEN(STRING_SPLIT_REGEX(text, '\s+')) >= 5
        |      THEN LIST_TRANSFORM(
        |        GENERATE_SERIES(1, LEN(STRING_SPLIT_REGEX(text, '\s+')) - 4),
        |        i -> STRING_SPLIT_REGEX(text, '\s+')[i] || ' ' ||
        |             STRING_SPLIT_REGEX(text, '\s+')[i+1] || ' ' ||
        |             STRING_SPLIT_REGEX(text, '\s+')[i+2] || ' ' ||
        |             STRING_SPLIT_REGEX(text, '\s+')[i+3] || ' ' ||
        |             STRING_SPLIT_REGEX(text, '\s+')[i+4])
        |      ELSE [] END) AS shl
        |  FROM canon),
        |ev AS (SELECT DISTINCT UNNEST(shl) AS sg FROM sh WHERE source = 'src0'),
        |bad AS (
        |  SELECT DISTINCT t.doc_id FROM (
        |    SELECT doc_id, UNNEST(shl) AS sg FROM sh
        |    WHERE source <> 'src0') t
        |  JOIN ev USING (sg)),
        |train AS (
        |  SELECT * FROM canon
        |  WHERE source <> 'src0'
        |    AND doc_id NOT IN (SELECT doc_id FROM bad)
        |    AND CAST(CONCAT('0x', SUBSTR(MD5(fp), 1, 6)) AS INTEGER)
        |      / 16777216.0 < 0.8)
        |SELECT doc_id, lang, n_tokens,
        |  CAST(FLOOR((cum - n_tokens) / 2048.0) AS BIGINT) AS bin
        |FROM (
        |  SELECT doc_id, lang,
        |    LEN(STRING_SPLIT_REGEX(text, '\s+')) AS n_tokens,
        |    SUM(LEN(STRING_SPLIT_REGEX(text, '\s+'))) OVER (
        |      PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM train) z
        |ORDER BY doc_id""".stripMargin,
    "q_split_train_test" ->
      s"""$SplitSelectSql
         |ORDER BY doc_id""".stripMargin,
    "q_text_bpe_pairs" ->
      """WITH wf AS (
        |  SELECT word, COUNT(*) AS freq FROM (
        |    SELECT UNNEST(STRING_SPLIT_REGEX(text, '\s+')) AS word
        |    FROM documents) t
        |  WHERE word <> '' GROUP BY word)
        |SELECT pair, CAST(SUM(freq) AS BIGINT) AS n FROM (
        |  SELECT UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(word) - 1),
        |    i -> SUBSTR(word, i, 2))) AS pair, freq
        |  FROM wf WHERE LEN(word) >= 2) p
        |GROUP BY pair ORDER BY n DESC, pair LIMIT 50""".stripMargin,
    "q_sample_mixture" ->
      """WITH cnt AS (
        |  SELECT source, COUNT(*) AS n,
        |    CAST(CASE source WHEN 'src0' THEN 8.0 WHEN 'src1' THEN 4.0
        |      ELSE 1.0 END AS DOUBLE) AS w
        |  FROM documents GROUP BY source),
        |cm AS (SELECT MIN(n / w) AS c FROM cnt),
        |r AS (SELECT source, LEAST(1.0, c * w / n) AS rate
        |      FROM cnt CROSS JOIN cm)
        |SELECT d.doc_id, d.source, ROUND(r.rate, 6) AS rate
        |FROM documents d JOIN r USING (source)
        |WHERE CAST(CONCAT('0x', SUBSTR(MD5(CAST(d.doc_id AS VARCHAR)), 1, 6))
        |    AS INTEGER) / 16777216.0 < r.rate
        |ORDER BY d.doc_id""".stripMargin,
    "q_text_perplexity" ->
      """WITH tok AS (
        |  SELECT doc_id, UNNEST(STRING_SPLIT_REGEX(LOWER(text), '\s+')) AS tok
        |  FROM documents),
        |uni AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok),
        |tot AS (SELECT SUM(cnt) AS total FROM uni),
        |lp AS (
        |  SELECT doc_id,
        |    CAST(ROUND(LN(cnt * 1.0 / total), 9) AS DECIMAL(18,9)) AS lp
        |  FROM tok JOIN uni USING (tok) CROSS JOIN tot),
        |per AS (
        |  SELECT doc_id, COUNT(*) AS n_tokens,
        |    ROUND(CAST(SUM(lp) AS DOUBLE) / COUNT(*), 6) AS avg_logp
        |  FROM lp GROUP BY doc_id)
        |SELECT doc_id, n_tokens, avg_logp,
        |  ROUND(EXP(-avg_logp), 4) AS ppl
        |FROM per ORDER BY doc_id""".stripMargin,
    "q_text_repetition" ->
      """WITH tok AS (
        |  SELECT doc_id, STRING_SPLIT_REGEX(LOWER(text), '\s+') AS ts
        |  FROM documents),
        |base AS (
        |  SELECT doc_id, LEN(ts) AS n_toks,
        |    LEN(LIST_DISTINCT(ts)) AS n_distinct FROM tok),
        |bg AS (
        |  SELECT doc_id, UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(ts)-1),
        |    i -> ts[i] || ' ' || ts[i+1])) AS g
        |  FROM tok WHERE LEN(ts) >= 2),
        |bgc AS (SELECT doc_id, g, COUNT(*) AS n FROM bg GROUP BY 1, 2),
        |bga AS (SELECT doc_id, MAX(n) AS mx, SUM(n) AS tot FROM bgc GROUP BY 1),
        |tg AS (
        |  SELECT doc_id, UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(ts)-2),
        |    i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS g
        |  FROM tok WHERE LEN(ts) >= 3),
        |tgc AS (SELECT doc_id, g, COUNT(*) AS n FROM tg GROUP BY 1, 2),
        |tga AS (SELECT doc_id, MAX(n) AS mx, SUM(n) AS tot FROM tgc GROUP BY 1)
        |SELECT b.doc_id,
        |  ROUND(1.0 - b.n_distinct * 1.0 / b.n_toks, 6) AS dup_tok_frac,
        |  ROUND(COALESCE(bga.mx * 1.0 / bga.tot, 0.0), 6) AS top_bigram_frac,
        |  ROUND(COALESCE(tga.mx * 1.0 / tga.tot, 0.0), 6) AS top_trigram_frac
        |FROM base b LEFT JOIN bga ON b.doc_id = bga.doc_id
        |LEFT JOIN tga ON b.doc_id = tga.doc_id
        |ORDER BY b.doc_id""".stripMargin,
    "q_text_scrub" ->
      """SELECT doc_id,
        |  CAST(LEN(REGEXP_EXTRACT_ALL(text, '\b(customer|order)\b')) AS INT) AS n_redacted,
        |  REGEXP_REPLACE(text, '\b(customer|order)\b', '<ent>', 'g') AS scrubbed
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_text_bm25" -> bm25Oracle,
    "q_pack_sequences" ->
      """SELECT doc_id, lang, n_tokens,
        |  CAST(FLOOR((cum - n_tokens) / 2048.0) AS BIGINT) AS bin
        |FROM (
        |  SELECT doc_id, lang,
        |    LEN(STRING_SPLIT_REGEX(text, '\s+')) AS n_tokens,
        |    SUM(LEN(STRING_SPLIT_REGEX(text, '\s+'))) OVER (
        |      PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM documents) t
        |ORDER BY doc_id""".stripMargin,
    "q_pipeline_curate" ->
      s"""WITH $curateCtes
         |SELECT doc_id, lang, quality FROM canon
         |WHERE doc_id = cid
         |  AND CAST(CONCAT('0x', SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 6))
         |    AS INTEGER) / 16777216.0
         |    < CASE lang WHEN 'en' THEN 0.5 ELSE 1.0 END
         |ORDER BY doc_id""".stripMargin,
    "q_pipeline_funnel" ->
      s"""WITH $curateCtes,
         |c2 AS (SELECT doc_id, lang, n_toks FROM canon WHERE doc_id = cid),
         |s2 AS (
         |  SELECT doc_id, n_toks FROM c2
         |  WHERE CAST(CONCAT('0x', SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 6))
         |    AS INTEGER) / 16777216.0
         |    < CASE lang WHEN 'en' THEN 0.5 ELSE 1.0 END)
         |SELECT 0 AS stage, 'raw' AS stage_name,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(COALESCE(SUM(n_toks), 0) AS BIGINT) AS n_tokens FROM scored
         |UNION ALL SELECT 1, 'quality_kept', CAST(COUNT(*) AS BIGINT),
         |  CAST(COALESCE(SUM(n_toks), 0) AS BIGINT) FROM kept
         |UNION ALL SELECT 2, 'dedup_canonical', CAST(COUNT(*) AS BIGINT),
         |  CAST(COALESCE(SUM(n_toks), 0) AS BIGINT) FROM c2
         |UNION ALL SELECT 3, 'sampled', CAST(COUNT(*) AS BIGINT),
         |  CAST(COALESCE(SUM(n_toks), 0) AS BIGINT) FROM s2
         |ORDER BY stage""".stripMargin,
    "q_sample_stratified" ->
      """SELECT doc_id, lang FROM documents
        |WHERE CAST(CONCAT('0x', SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 6))
        |    AS INTEGER) / 16777216.0
        |  < CASE lang WHEN 'en' THEN 0.2 WHEN 'de' THEN 0.5 ELSE 1.0 END
        |ORDER BY doc_id""".stripMargin,
    "q_sample_pergroup" ->
      """SELECT lang, doc_id FROM (
        |  SELECT lang, doc_id, ROW_NUMBER() OVER (PARTITION BY lang
        |    ORDER BY CAST(CONCAT('0x', SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 6))
        |        AS INTEGER) / 16777216.0,
        |      doc_id) AS rk
        |  FROM documents) t
        |WHERE rk <= 10 ORDER BY lang, doc_id""".stripMargin,
    "q_sample_weighted" ->
      """WITH mx AS (SELECT MAX(n_chars) AS max_chars FROM documents)
        |SELECT doc_id, lang, n_chars,
        |  ROUND(n_chars / max_chars, 6) AS weight
        |FROM documents CROSS JOIN mx
        |WHERE CAST(CONCAT('0x', SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 6))
        |    AS INTEGER) / 16777216.0
        |  < LEAST(1.0, n_chars / max_chars)
        |ORDER BY doc_id""".stripMargin,
    "q_text_topk_ngrams" ->
      """WITH b AS (
        |  SELECT lang,
        |    UNNEST(CASE WHEN LEN(STRING_SPLIT_REGEX(text, '\s+')) >= 2
        |      THEN LIST_TRANSFORM(
        |        GENERATE_SERIES(1, LEN(STRING_SPLIT_REGEX(text, '\s+')) - 1),
        |        i -> STRING_SPLIT_REGEX(text, '\s+')[i] || ' ' ||
        |             STRING_SPLIT_REGEX(text, '\s+')[i+1])
        |      ELSE [] END) AS bigram
        |  FROM documents),
        |c AS (SELECT lang, bigram, COUNT(*) AS n FROM b GROUP BY 1, 2),
        |r AS (SELECT lang, bigram, n,
        |  ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, bigram) AS rk
        |  FROM c)
        |SELECT lang, bigram, n, rk FROM r WHERE rk <= 10
        |ORDER BY lang, rk""".stripMargin,
    "q_text_zipf" ->
      """WITH tok AS (
        |  SELECT UNNEST(STRING_SPLIT_REGEX(LOWER(text), '\s+')) AS word
        |  FROM documents),
        |cu AS (SELECT word, COUNT(*) AS c FROM tok GROUP BY 1),
        |rk AS (
        |  SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, word) AS rk
        |  FROM cu),
        |q AS (
        |  SELECT
        |    CAST(ROUND(LN(CAST(rk AS DOUBLE)), 9) AS DECIMAL(18,9)) AS x,
        |    CAST(ROUND(LN(CAST(c AS DOUBLE)), 9) AS DECIMAL(18,9)) AS y
        |  FROM rk),
        |s AS (
        |  SELECT COUNT(*) AS n_types, SUM(x) AS sx, SUM(y) AS sy,
        |    SUM(x * y) AS sxy, SUM(x * x) AS sxx
        |  FROM q)
        |SELECT n_types,
        |  CASE WHEN n_types > 1 THEN
        |  ROUND((CAST(n_types AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (CAST(n_types AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) END AS slope,
        |  CASE WHEN n_types > 1 THEN
        |  ROUND((CAST(sy AS DOUBLE)
        |    - (CAST(n_types AS DOUBLE) * CAST(sxy AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (CAST(n_types AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |      * CAST(sx AS DOUBLE)) / CAST(n_types AS DOUBLE), 6) END
        |    AS intercept
        |FROM s""".stripMargin,
    "q_text_pmi" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    UNNEST(LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '\s+'),
        |      t -> t <> '')) AS word
        |  FROM documents),
        |ws AS (
        |  SELECT LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '\s+'),
        |    t -> t <> '') AS ws
        |  FROM documents),
        |bi AS (
        |  SELECT ws[i] AS w1, ws[i+1] AS w2 FROM (
        |    SELECT ws, UNNEST(GENERATE_SERIES(1, LEN(ws) - 1)) AS i
        |    FROM ws WHERE LEN(ws) >= 2)),
        |cbg AS (SELECT w1, w2, COUNT(*) AS c_xy FROM bi GROUP BY 1, 2),
        |cu AS (SELECT word, COUNT(*) AS cu FROM tok GROUP BY 1),
        |totals AS (
        |  SELECT COUNT(*) AS m, COUNT(*) - COUNT(DISTINCT doc_id) AS nb
        |  FROM tok)
        |SELECT w1, w2, c_xy, cx.cu AS c_x, cy.cu AS c_y,
        |  ROUND(LN(CAST(c_xy AS DOUBLE) * m * m
        |    / (CAST(nb AS DOUBLE) * cx.cu * cy.cu)), 6) AS pmi
        |FROM cbg
        |JOIN cu cx ON cbg.w1 = cx.word
        |JOIN cu cy ON cbg.w2 = cy.word
        |CROSS JOIN totals
        |WHERE c_xy >= 5
        |ORDER BY pmi DESC, w1, w2 LIMIT 20""".stripMargin,
    "q_text_quantiles" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  ROUND(QUANTILE_CONT(n_chars, 0.25), 4) AS p25,
        |  ROUND(QUANTILE_CONT(n_chars, 0.5), 4) AS p50,
        |  ROUND(QUANTILE_CONT(n_chars, 0.75), 4) AS p75,
        |  ROUND(QUANTILE_CONT(n_chars, 0.95), 4) AS p95
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_text_tokens" ->
      """SELECT doc_id,
        |  LEN(STRING_SPLIT_REGEX(text, '\s+')) AS n_ws_tokens,
        |  LEN(regexp_extract_all(text, ' ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+'))
        |    AS n_bpe_tokens,
        |  ROUND(LENGTH(text) * 1.0 /
        |    GREATEST(LEN(regexp_extract_all(text,
        |      ' ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+')) * 1.0, 1.0), 6)
        |    AS chars_per_bpe_token
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_text_stats" ->
      s"""SELECT doc_id,
         |  LEN(LIST_FILTER(STRING_SPLIT_REGEX(text, '\\s+'),
         |    t -> t <> '')) AS n_tokens,
         |  LENGTH(text) AS n_chars_m,
         |  ROUND((LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[!-/:-@\\[-`{-~]', '', 'g'))) * 1.0
         |    / GREATEST(LENGTH(text), 1), 6) AS punct_ratio,
         |  ROUND(LEN(LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '\\s+'),
         |    t -> t IN ('the','a','an','and','or','of','to','in','is','it'))) * 1.0
         |    / GREATEST(LEN(LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '\\s+'),
         |      t -> t <> '')), 1), 6) AS stopword_ratio,
         |  ROUND(LENGTH(REGEXP_REPLACE(text, '\\s+', '', 'g')) * 1.0
         |    / GREATEST(LEN(LIST_FILTER(STRING_SPLIT_REGEX(text, '\\s+'),
         |      t -> t <> '')), 1), 6) AS mean_tok_len
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_text_gopher" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    LEN(LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '\\s+'),
         |      w -> w <> '')) AS n_toks,
         |    LENGTH(REGEXP_REPLACE(text, '\\s+', '', 'g')) AS n_nows,
         |    LEN(LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '\\s+'),
         |      w -> w IN ('the','a','an','and','or','of','to','in','is','it')))
         |      AS n_sw,
         |    LIST_MAX(LIST_TRANSFORM(STRING_SPLIT_REGEX(LOWER(text), '\\s+'),
         |      w -> LENGTH(w))) AS max_tok
         |  FROM documents)
         |SELECT doc_id, n_toks AS n_tokens,
         |  n_toks BETWEEN 50 AND 100000 AS r_wordcount,
         |  (n_nows >= n_toks * 3 AND n_nows <= n_toks * 10) AS r_wordlen,
         |  max_tok <= 20 AS r_maxword,
         |  n_sw >= 2 AS r_stopwords,
         |  n_sw * 2 <= n_toks AS r_swratio,
         |  (n_toks BETWEEN 50 AND 100000
         |    AND n_nows >= n_toks * 3 AND n_nows <= n_toks * 10
         |    AND max_tok <= 20 AND n_sw >= 2 AND n_sw * 2 <= n_toks)
         |    AS pass
         |FROM t ORDER BY doc_id""".stripMargin,
    "q_text_quality" ->
      s"""WITH $scoredQualityCte
         |SELECT doc_id, quality, quality >= 0.5 AS keep
         |FROM qsc ORDER BY doc_id""".stripMargin,
    "q_quality_sweep" -> qualitySweepOracle,
    "q_corpus_cap" -> {
      val n = CorpusCapPerSource
      s"""WITH $scoredQualityCte,
         |sc AS (
         |  SELECT q.doc_id, d.source, q.quality, q.n_toks,
         |    ROW_NUMBER() OVER (PARTITION BY d.source
         |      ORDER BY q.quality DESC, q.doc_id) AS rk
         |  FROM qsc q JOIN documents d USING (doc_id)),
         |per AS (
         |  SELECT source, COUNT(*) AS n_docs,
         |    SUM(CASE WHEN rk <= $n THEN 1 ELSE 0 END) AS n_kept,
         |    SUM(n_toks) AS n_tokens,
         |    SUM(CASE WHEN rk <= $n THEN n_toks ELSE 0 END) AS n_tokens_kept
         |  FROM sc GROUP BY source),
         |tot AS (
         |  SELECT SUM(n_tokens) AS t_pre, SUM(n_tokens_kept) AS t_post
         |  FROM per)
         |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
         |  CAST(n_kept AS BIGINT) AS n_kept,
         |  CAST(n_docs - n_kept AS BIGINT) AS n_dropped,
         |  CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(n_tokens_kept AS BIGINT) AS n_tokens_kept,
         |  CAST(CAST(n_tokens AS HUGEINT) * 1000000 // t_pre AS BIGINT)
         |    AS share_pre_ppm,
         |  CAST(CAST(n_tokens_kept AS HUGEINT) * 1000000 // t_post AS BIGINT)
         |    AS share_post_ppm
         |FROM per, tot ORDER BY source""".stripMargin
    },
    "q_token_budget" ->
      s"""WITH $scoredQualityCte,
         |tot AS (SELECT SUM(n_toks) // 2 AS budget FROM qsc),
         |c AS (
         |  SELECT doc_id, quality, n_toks,
         |    SUM(n_toks) OVER (ORDER BY quality DESC, doc_id) AS cum
         |  FROM qsc)
         |SELECT doc_id, quality, CAST(n_toks AS BIGINT) AS n_toks,
         |  cum <= (SELECT budget FROM tot) AS keep
         |FROM c ORDER BY doc_id""".stripMargin,
    "q_langid_confusion" ->
      s"""WITH h AS (
         |  SELECT doc_id, lang,
         |    ${hitsSql("en")} AS hits_en, ${hitsSql("es")} AS hits_es,
         |    ${hitsSql("de")} AS hits_de, ${hitsSql("fr")} AS hits_fr,
         |    ${hitsSql("zh")} AS hits_zh
         |  FROM documents),
         |pred AS (
         |  SELECT lang,
         |    CASE WHEN GREATEST(hits_en, hits_es, hits_de, hits_fr, hits_zh) = 0 THEN 'und'
         |      WHEN hits_en = GREATEST(hits_en, hits_es, hits_de, hits_fr, hits_zh) THEN 'en'
         |      WHEN hits_es = GREATEST(hits_en, hits_es, hits_de, hits_fr, hits_zh) THEN 'es'
         |      WHEN hits_de = GREATEST(hits_en, hits_es, hits_de, hits_fr, hits_zh) THEN 'de'
         |      WHEN hits_fr = GREATEST(hits_en, hits_es, hits_de, hits_fr, hits_zh) THEN 'fr'
         |      WHEN hits_zh = GREATEST(hits_en, hits_es, hits_de, hits_fr, hits_zh) THEN 'zh'
         |      ELSE 'und' END AS lang_pred
         |  FROM h),
         |cell AS (
         |  SELECT lang, lang_pred, COUNT(*) AS n FROM pred GROUP BY 1, 2),
         |tt AS (
         |  SELECT lang, lang_pred, n,
         |    CAST(SUM(n) OVER (PARTITION BY lang) AS BIGINT) AS t
         |  FROM cell)
         |SELECT lang, lang_pred, n,
         |  CAST((2000000 * n + t) // (2 * t) AS BIGINT) / 1000000.0
         |    AS share
         |FROM tt ORDER BY lang, lang_pred""".stripMargin,
    "q_text_langid" ->
      s"""WITH h AS (
         |  SELECT doc_id, lang,
         |    ${hitsSql("en")} AS hits_en, ${hitsSql("es")} AS hits_es,
         |    ${hitsSql("de")} AS hits_de, ${hitsSql("fr")} AS hits_fr,
         |    ${hitsSql("zh")} AS hits_zh
         |  FROM documents)
         |SELECT doc_id, lang, hits_en, hits_es, hits_de, hits_fr, hits_zh,
         |  CASE WHEN GREATEST(hits_en, hits_es, hits_de, hits_fr, hits_zh) = 0 THEN 'und'
         |    WHEN hits_en = GREATEST(hits_en, hits_es, hits_de, hits_fr, hits_zh) THEN 'en'
         |    WHEN hits_es = GREATEST(hits_en, hits_es, hits_de, hits_fr, hits_zh) THEN 'es'
         |    WHEN hits_de = GREATEST(hits_en, hits_es, hits_de, hits_fr, hits_zh) THEN 'de'
         |    WHEN hits_fr = GREATEST(hits_en, hits_es, hits_de, hits_fr, hits_zh) THEN 'fr'
         |    WHEN hits_zh = GREATEST(hits_en, hits_es, hits_de, hits_fr, hits_zh) THEN 'zh'
         |    ELSE 'und' END AS lang_pred
         |FROM h ORDER BY doc_id""".stripMargin,
    "q_text_fingerprint" ->
      """WITH fp AS (
        |  SELECT doc_id,
        |    MD5(REGEXP_REPLACE(TRIM(LOWER(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents)
        |SELECT doc_id, fp,
        |  COUNT(*) OVER (PARTITION BY fp) AS cluster_size
        |FROM fp ORDER BY doc_id""".stripMargin)
}
