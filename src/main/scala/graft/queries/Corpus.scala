package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Materialize

/** Corpus-preparation operators beyond the curation/dedup blocks
  * (SURVEY.md §2, LLM-pipeline): retrieval chunking and the chunk
  * index flagship, entropy and TF-IDF quality signals, sketch-based
  * heavy hitters, Bloom decontamination, and the batching padding
  * audit. Every query here is a linear, per-row or vocab-sized
  * shape — no corpus-sized self-joins, no unpartitioned windows.
  */
object Corpus {

  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).repartition(s.sparkContext.defaultParallelism)

  // ---------------------------------------------------------------------
  // q_chunk_docs — overlapping token-window chunking (retrieval prep)
  // ---------------------------------------------------------------------

  /** Chunk window/stride in tokens. 64/48 gives 25% overlap — the
    * standard retrieval-indexing shape scaled to this corpus's 10–99
    * token docs (a prod corpus would use 512/384; the plan is
    * identical for any pair of constants). */
  val ChunkTokens = 64
  val ChunkStride = 48

  /** Split every document into overlapping token windows and
    * fingerprint each chunk — the retrieval-indexing / context-window
    * prep stage. 100-TB shape: ONE pass, pure per-row codegen'd
    * expressions + a Generate for the ~n/stride chunk rows; no
    * shuffle at all before the presentation sort. Chunk count =
    * ceil(max(n-W,0)/S)+1, so every token is covered and short docs
    * yield exactly one chunk.
    */
  def qChunkDocs(s: SparkSession, d: String): DataFrame = {
    val w = ChunkTokens
    val st = ChunkStride
    val base = docs(s, d).select(
      col("doc_id"),
      split(col("text"), "\\s+").as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .withColumn("n_chunks",
        when(col("n") <= w, lit(1L)).otherwise(
          ceil((col("n") - w).cast("double") / st) + 1L))
    base
      .select(col("doc_id"), col("toks"), col("n"),
        explode(sequence(lit(0L), col("n_chunks") - 1L)).as("chunk_id"))
      .select(
        col("doc_id"),
        col("chunk_id"),
        (col("chunk_id") * st).as("chunk_start"),
        least(lit(w.toLong), col("n") - col("chunk_id") * st)
          .as("n_chunk_tokens"),
        md5(array_join(
          slice(col("toks"), (col("chunk_id") * st + 1).cast("int"),
            lit(w)), " ")).as("chunk_fp"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  // ---------------------------------------------------------------------
  // q_text_entropy — token-entropy + type-token-ratio quality signal
  // ---------------------------------------------------------------------

  /** Per-document token Shannon entropy (bits) and type-token ratio —
    * the gibberish/boilerplate detector quality filters pair with
    * repetition signals (low entropy = repetitive/templated text).
    * Same portable-log discipline as q_text_perplexity: each distinct
    * token contributes round(c·ln c, 9) as DECIMAL(18,9), summed
    * exactly, so the only doubles that cross engines are post-round.
    * 100-TB shape: both aggregations co-partition on doc_id — one
    * shuffle of (doc_id, tok) counts, map-side combined.
    */
  def qTextEntropy(s: SparkSession, d: String): DataFrame = {
    val ln2 = math.log(2.0)
    docs(s, d).select(col("doc_id"),
        explode(split(lower(col("text")), "\\s+")).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(round(col("c") * log(col("c").cast("double")), 9)
          .cast("decimal(18,9)")).as("sclnc"))
      .select(
        col("doc_id"), col("n_tokens"), col("n_distinct"),
        round(col("n_distinct").cast("double") / col("n_tokens"), 6)
          .as("ttr"),
        round(
          (log(col("n_tokens").cast("double")) -
            col("sclnc").cast("double") / col("n_tokens")) / ln2, 6)
          .as("entropy_bits"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------------
  // q_approx_topk — count-min-sketch heavy hitters
  // ---------------------------------------------------------------------

  /** Count-min rows (independent hash functions) and bucket width —
    * shared with the streaming twin via operators.CountMin. 4×256
    * int64 counters = 8 KiB — the whole sketch broadcasts for free;
    * estimates overestimate by ≤ 2·N/w with prob 1−2⁻⁴. */
  val CmsDepth = graft.operators.CountMin.Depth
  val CmsWidth = graft.operators.CountMin.Width

  /** Heavy hitters by count-min sketch, checked against the exact
    * counts (Cormode & Muthukrishnan 2005). The sketch is the
    * 100-TB story: 4×256 counters are mergeable partial sums — at
    * real scale each executor folds its partition into 8 KiB of
    * state and the driver never sees per-token rows. Here the bucket
    * sums build from the vocab-sized token-count table (the
    * q_text_bpe_pairs two-level trick: corpus-sized work is ONE
    * map-side-combined count, the ×4 row expansion runs over the
    * compact vocab). Candidates = the exact top-20 tokens; for each,
    * est = min over the 4 rows of its bucket sum — the CM guarantee
    * est ≥ exact is a reported column and spec-asserted.
    */
  def qApproxTopk(s: SparkSession, d: String): DataFrame = {
    // The vocab table feeds all 4 sketch rows AND the candidate probes
    // (8 plan branches); checkpoint it once so the corpus tokenize+count
    // runs once (the q_minhash_recall shared-backbone pattern).
    val vocab = Materialize(docs(s, d).select(
        explode(split(lower(col("text")), "\\s+")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c")))
    val sketch = graft.operators.CountMin.sketch(vocab, "tok", "c")
    val cand = vocab.orderBy(col("c").desc, col("tok")).limit(20)
    val probes = (0 until CmsDepth).map { j =>
        cand.select(col("tok"), col("c"), lit(j).as("row_id"),
          graft.operators.CountMin.bucket(j, col("tok")).as("bucket"))
      }.reduce(_ unionAll _)
    probes
      .join(broadcast(sketch), Seq("row_id", "bucket"))
      .groupBy(col("tok"))
      .agg(max(col("c")).as("exact"), min(col("bsum")).as("est"))
      .select(col("tok"), col("exact"), col("est"),
        (col("est") >= col("exact")).as("never_under"),
        round((col("est") - col("exact")).cast("double") / col("exact"), 6)
          .as("rel_overestimate"))
      .orderBy(col("exact").desc, col("tok"))
  }

  // ---------------------------------------------------------------------
  // q_length_buckets — padding-waste audit for length-bucketed batching
  // ---------------------------------------------------------------------

  /** Batch size for the padding audit — fixed micro-batch of docs
    * padded to the batch max, the standard training collate shape. */
  val BatchDocs = 32

  /** Padding-waste audit: per language, group documents into batches
    * of 32 either by LENGTH order (length-bucketed batching) or by
    * hash order (random batching), pad each batch to its max token
    * count, and report the padded-token overhead per strategy — the
    * measured justification for length bucketing in a training input
    * pipeline. 100-TB shape: windows partition by language (the
    * batching domain), every aggregate is map-side combined; output
    * is |langs|×2 rows.
    */
  def qLengthBuckets(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs(s, d).select(
      col("doc_id"), col("lang"),
      size(split(col("text"), "\\s+")).cast("long").as("n_tokens"),
      md5(col("doc_id").cast("string")).as("h"))
    def audit(strategy: String, order: Seq[org.apache.spark.sql.Column]) = {
      val win = Window.partitionBy(col("lang")).orderBy(order: _*)
      base
        .withColumn("batch",
          ((row_number().over(win) - 1) / BatchDocs).cast("long"))
        .groupBy(col("lang"), col("batch"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("real_toks"),
          (max(col("n_tokens")) * BatchDocs).as("padded_toks"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_batches"),
          sum(col("real_toks")).as("real_tokens"),
          sum(col("padded_toks")).as("padded_tokens"))
        .select(col("lang"), lit(strategy).as("strategy"), col("n_batches"),
          col("real_tokens"), col("padded_tokens"),
          round((col("padded_tokens") - col("real_tokens")).cast("double") /
            col("padded_tokens"), 6).as("waste_frac"))
    }
    audit("length", Seq(col("n_tokens"), col("doc_id")))
      .unionAll(audit("hash", Seq(col("h"), col("doc_id"))))
      .orderBy(col("lang"), col("strategy"))
  }

  // ---------------------------------------------------------------------
  // q_text_keywords — per-document TF-IDF top terms
  // ---------------------------------------------------------------------

  /** Top-3 keywords per document by TF-IDF — the per-doc topical
    * signature (q_text_bm25 ranks docs for a bounded query set; this
    * ranks TERMS per doc over the open vocabulary). Portable-double
    * discipline: score = round((c/n)·ln(N/df), 9), ranked under the
    * (score desc, token) total order so ranks are engine-identical.
    * 100-TB shapes: the (doc, tok) counts and per-doc totals
    * co-partition on doc_id; df is a vocab-sized aggregate joined
    * back on tok; N is a 1-row broadcast; the per-doc top-3 is a
    * rank-filtered doc-partitioned window — WindowGroupLimit pushes
    * the limit below the exchange, so the shuffle carries ≤3 rows
    * per doc per task, not the full token fan-out. */
  def qTextKeywords(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tokc = docs(s, d).select(col("doc_id"),
        explode(split(lower(col("text")), "\\s+")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
    val withN = tokc.withColumn("n",
      sum(col("c")).over(Window.partitionBy(col("doc_id"))))
    val dfTok = tokc.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val nDocs = docs(s, d).agg(count(lit(1)).as("nd"))
    val scored = withN.join(dfTok, "tok").crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("tok"),
        round((col("c") / col("n")) * log(col("nd") / col("df")), 9)
          .as("score"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("tok"))))
      .where(col("rank") <= 3)
      .select(col("doc_id"), col("rank").cast("long").as("rank"),
        col("tok"), round(col("score"), 6).as("score"))
      .orderBy(col("doc_id"), col("rank"))
  }

  // ---------------------------------------------------------------------
  // q_chunk_index — chunk → feature-hash embed → LSH bucket (flagship #3)
  // ---------------------------------------------------------------------

  /** Feature-hash embedding dims and LSH hyperplane count for the
    * chunk index. All arithmetic is INTEGER (signed ±1 token hashes,
    * centered-integer hyperplane components), so dot products are
    * exact and associative — no float summation order anywhere. */
  val IndexDims = 32
  val IndexPlanes = 8

  /** The retrieval-indexing pipeline composed end-to-end in ONE
    * Catalyst plan (flagship #3): overlapping token chunks
    * (q_chunk_docs's tiling) → hashing-trick embedding (Weinberger
    * et al. 2009: dim = md5(token) mod D, sign = md5 bit — the
    * model-free baseline embedder) → random-hyperplane LSH bucket
    * per chunk (the index key a retrieval store shards by).
    * Portability is by construction: the embedding components are
    * ±1 sums and the hyperplane components centered 24-bit integers
    * (md5 hex − 2²³), so every dot product is an exact BIGINT sum —
    * deterministic under any partitioning — and the bucket bits are
    * strict integer sign tests. Shapes: per-row chunk Generate, two
    * (doc, chunk)-co-partitioned aggregates, a 256-row broadcast
    * plane table — linear at any corpus size. */
  def qChunkIndex(s: SparkSession, d: String): DataFrame = {
    val w = ChunkTokens; val st = ChunkStride
    val chunkToks = docs(s, d).select(
        col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .withColumn("n_chunks",
        when(col("n") <= w, lit(1L)).otherwise(
          ceil((col("n") - w).cast("double") / st) + 1L))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0L), col("n_chunks") - 1L)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        explode(slice(col("toks"), (col("chunk_id") * st + 1).cast("int"),
          lit(w))).as("tok"))
    val vec = chunkToks.select(col("doc_id"), col("chunk_id"),
        (conv(substring(md5(concat(lit("d:"), col("tok"))), 1, 6), 16, 10)
          .cast("long") % IndexDims).as("dim"),
        when(conv(substring(md5(concat(lit("s:"), col("tok"))), 1, 1), 16, 10)
          .cast("long") < 8, lit(1L)).otherwise(lit(-1L)).as("sgn"))
      .groupBy(col("doc_id"), col("chunk_id"), col("dim"))
      .agg(sum(col("sgn")).as("v"))
    val planes = s.createDataFrame(
        for { j <- 0 until IndexPlanes; k <- 0 until IndexDims }
          yield (j, k)).toDF("j", "k")
      .select(col("j"), col("k"),
        (conv(substring(md5(concat(lit("p:"), col("j").cast("string"),
          lit(":"), col("k").cast("string"))), 1, 6), 16, 10)
          .cast("long") - (1L << 23)).as("h"))
    val buckets = vec
      .join(broadcast(planes), col("dim") === col("k"))
      .groupBy(col("doc_id"), col("chunk_id"), col("j"))
      .agg(sum(col("v") * col("h")).as("dot"))
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(sum(when(col("dot") > 0,
        pow(lit(2.0), col("j")).cast("long")).otherwise(0L)).as("bucket"))
    val norms = vec.groupBy(col("doc_id"), col("chunk_id"))
      .agg(count(when(col("v") =!= 0, lit(1))).as("n_dims"),
        sum(col("v") * col("v")).as("norm2"))
    buckets.join(norms, Seq("doc_id", "chunk_id"))
      .select(col("doc_id"), col("chunk_id"), col("bucket"),
        col("n_dims"), col("norm2"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  // ---------------------------------------------------------------------
  // q_decontaminate_bloom — Bloom-filter eval-overlap screen
  // ---------------------------------------------------------------------

  /** Bloom geometry: m = 2^18 bit positions, k = 3 hash functions.
    * At the sf0.01 eval-shingle count (~10⁴) that is ~26 bits/key →
    * false-positive rate ~10⁻³; the filter itself is 32 KiB of bits
    * (here kept as the distinct set-bit positions — the relational
    * form of the same structure). */
  val BloomBits = 1 << 18
  val BloomK = 3

  /** Benchmark decontamination through a Bloom filter of the eval
    * set's word-5-gram shingles — the 100-TB form of q_decontaminate:
    * when the eval slice is too big to broadcast as raw shingle ids,
    * its Bloom filter still fits in kilobytes and the screen stays a
    * per-row probe. One-sided error is the point: the filter can
    * only OVER-flag (false positives, measured here against the exact
    * screen), never miss a contaminated doc — so the gate stays safe.
    * Shapes: filter build is |eval-shingles|×k → distinct (tiny,
    * broadcast); probe is |train-shingles|×k rows joined against the
    * broadcast bit set, then two doc-co-partitioned aggregates.
    * Spec: zero false negatives + planted-contamination flagged.
    */
  def qDecontaminateBloom(s: SparkSession, d: String): DataFrame = {
    import graft.dedup.Dedup
    val docsAll = docs(s, d)
    // the train shingles feed THREE branches (probe, exact, per-doc
    // count) and the eval shingles two (bits, exact) — checkpoint each
    // once so the window-based shingle build runs once per side (the
    // q_minhash_recall shared-backbone pattern; 3.9 s → ~1.6 s at sf0.1)
    val trainSh = Materialize(Dedup.minhashShingleRows(
      docsAll.where(col("source") =!= "src0"), "doc_id", "text", n = 5))
    val evalSh = Materialize(Dedup.minhashShingleRows(
      docsAll.where(col("source") === "src0"), "doc_id", "text", n = 5)
      .select(col("s_id")).distinct())
    // bit position of shingle id under hash function j
    def bitpos(j: Int) =
      conv(substring(md5(concat(lit(s"$j:"), col("s_id").cast("string"))),
        1, 15), 16, 10).cast("long") % BloomBits
    val posArr = array((0 until BloomK).map(bitpos): _*)
    val bits = evalSh.select(explode(posArr).as("bitpos")).distinct()
    // a shingle is bloom-positive iff ALL k of its probe rows find a
    // set bit; a doc is flagged iff any of its shingles is positive
    val bloomHits = trainSh
      .select(col("id"), col("s_id"), explode(posArr).as("bitpos"))
      .join(broadcast(bits), "bitpos")
      .groupBy(col("id"), col("s_id")).agg(count(lit(1)).as("nbit"))
      .where(col("nbit") === BloomK)
      .groupBy(col("id")).agg(count(lit(1)).as("n_bloom_hits"))
    val exactHits = trainSh.join(evalSh, "s_id")
      .groupBy(col("id")).agg(count(lit(1)).as("n_exact_hits"))
    trainSh.groupBy(col("id")).agg(count(lit(1)).as("n_shingles"))
      .join(bloomHits, Seq("id"), "left")
      .join(exactHits, Seq("id"), "left")
      .select(
        col("id").as("doc_id"), col("n_shingles"),
        coalesce(col("n_bloom_hits"), lit(0L)).as("n_bloom_hits"),
        coalesce(col("n_exact_hits"), lit(0L)).as("n_exact_hits"),
        (coalesce(col("n_bloom_hits"), lit(0L)) > 0).as("bloom_flagged"),
        (coalesce(col("n_bloom_hits"), lit(0L)) > 0 &&
          coalesce(col("n_exact_hits"), lit(0L)) === 0).as("false_positive"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------------
  // q_shard_assign — deterministic epoch shuffle + shard assignment
  // ---------------------------------------------------------------------

  /** Target documents per shard — the production knob the shard count
    * derives from, so per-shard state stays bounded as the corpus
    * grows (the ScaleRouting/derived-cells pattern: the count is a
    * pure function of the corpus row count, computed identically in
    * the generated oracle SQL, so both engines build the same
    * layout). */
  val ShardTargetDocs = 1000L

  /** Floor on the shard count — even a tiny corpus spreads across
    * enough shards to keep every loader worker busy. */
  val MinShards = 8

  /** ⌈n/target⌉ with the MinShards floor — pure, spec-asserted at
    * synthetic sizes. */
  def shardCountFor(nDocs: Long): Int =
    math.max(MinShards.toLong,
      (nDocs + ShardTargetDocs - 1) / ShardTargetDocs).toInt

  /** Size-derived shard count per table dir, memoized — the row count
    * is parquet footer metadata, no data scan. */
  private val shardMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  private def derivedShards(s: SparkSession, d: String): Int =
    shardMemo.computeIfAbsent(d,
      _ => shardCountFor(Tables.documents(s, d).count())).toInt

  /** Epoch tag folded into the shuffle hash: a new epoch re-keys every
    * document, giving a fresh deterministic permutation per epoch. */
  val ShardEpoch = "epoch0"

  /** Deterministic EPOCH SHUFFLE + SHARD ASSIGNMENT — the dataloader
    * prep stage of a training pipeline: every document gets a
    * pseudo-random but reproducible position (seeded md5 order), a
    * shard (hash mod NumShards, so shards are balanced in expectation
    * without any global sort), a within-shard rank, and its CUMULATIVE
    * token offset — exactly what a sequence-packing writer needs to
    * lay out shard files without a second pass.
    *
    * Scale shape: per-row hashing, ONE shuffle on shard, one window
    * per shard partition — and the shard count is SIZE-DERIVED
    * (⌈n/ShardTargetDocs⌉, shardCountFor), so per-shard window state
    * stays ≈ ShardTargetDocs rows however big the corpus grows; the
    * generated oracle derives the identical count from COUNT(*). No
    * global row_number, no driver state. All arithmetic is md5 +
    * integer ops — bit-identical cross-engine. */
  def qShardAssign(s: SparkSession, d: String): DataFrame = {
    val h = conv(substring(md5(concat(lit(s"shard:$ShardEpoch:"),
      col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long")
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("h"), col("doc_id"))
    docs(s, d)
      .select(col("doc_id"), h.as("h"),
        size(split(col("text"), "\\s+")).as("n_tokens"))
      .withColumn("shard", pmod(col("h"), lit(derivedShards(s, d))))
      .select(col("doc_id"), col("shard"),
        row_number().over(w).as("rk"), col("n_tokens"),
        coalesce(sum(col("n_tokens")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
          .as("tok_offset"))
      .orderBy(col("shard"), col("rk"))
  }

  /** Hashed-feature bucket count for the DSIR importance model. 256
    * keeps both LM tables broadcast-sized at ANY corpus scale — the
    * whole point of hashed DSIR is that the model is O(B), not
    * O(|vocab|). */
  val DsirBuckets = 256

  /** DSIR — Data Selection via Importance Resampling (Xie et al.
    * 2023): score every out-of-target document by how target-like its
    * hashed-unigram distribution is, log w(doc) = Σ_tok [ln p̂_target −
    * ln p̂_raw] over hashed token buckets, with add-one smoothing.
    * Here target = the `en` slice, raw = everything else — the
    * "select English-like docs from a mixed crawl" shape; `keep` =
    * (log w > 0), i.e. the doc looks more target than raw.
    *
    * Scale shape: the corpus-sized work is ONE tokenize pass feeding
    * a B-bucket conditional aggregate (map-side combined — the
    * shuffle carries ≤ B rows per task); both LMs live in the same
    * B-row table, broadcast back into the per-token scoring join, and
    * the per-doc rollup rides the (doc) partitioning. Per-bucket
    * log-ratios are ROUNDed at 9 dp and summed as DECIMAL (the
    * q_text_perplexity portable-LN discipline), so the per-doc weight
    * is exact and order-free cross-engine. */
  def qCorpusDsir(s: SparkSession, d: String): DataFrame = {
    val tok = docs(s, d)
      .select(col("doc_id"), col("lang"),
        explode(split(lower(col("text")), "\\s+")).as("tok"))
      .where(col("tok") =!= "")
      .withColumn("b",
        pmod(conv(substring(md5(concat(lit("dsir:"), col("tok"))), 1, 8),
          16, 10).cast("long"), lit(DsirBuckets.toLong)))
    val lm = tok.groupBy(col("b")).agg(
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"),
      sum(when(col("lang") =!= "en", 1L).otherwise(0L)).as("cr"))
    val tots = lm.agg(sum(col("ct")).as("tt"), sum(col("cr")).as("tr"))
    val lr = lm.crossJoin(broadcast(tots))
      .select(col("b"),
        round(log(
          ((col("ct") + 1).cast("double") *
            (col("tr") + lit(DsirBuckets.toLong)).cast("double")) /
          ((col("cr") + 1).cast("double") *
            (col("tt") + lit(DsirBuckets.toLong)).cast("double"))), 9)
          .cast("decimal(18,9)").as("lr"))
    tok.where(col("lang") =!= "en")
      .join(broadcast(lr), "b")
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_toks"),
        round(sum(col("lr")).cast("double"), 6).as("logw"))
      .withColumn("keep",
        when(col("logw") > 0, 1L).otherwise(0L))
      .orderBy(col("doc_id"))
  }

  /** CORPUS DISTRIBUTION-SHIFT AUDIT — KL(p_slice ‖ p_en) over the
    * same hashed-unigram buckets as q_corpus_dsir: how far each
    * language slice's token distribution sits from the target, the
    * number a mixture designer watches when a new source is added
    * (and the aggregate form of DSIR's per-doc weight: KL is the
    * expected log-ratio under the slice). Add-one smoothing keeps
    * every bucket finite; per-bucket terms p_s·ln(p_s/p_t) round at
    * 9 dp and sum as DECIMAL (the perplexity portable-LN rule). The
    * model stays O(B): one tokenize pass → a (lang, bucket)
    * conditional aggregate (≤ |langs|·B rows), target LM broadcast
    * back — nothing corpus-sized past the first aggregate. */
  def qCorpusKl(s: SparkSession, d: String): DataFrame = {
    val tok = docs(s, d)
      .select(col("doc_id"), col("lang"),
        explode(split(lower(col("text")), "\\s+")).as("tok"))
      .where(col("tok") =!= "")
      .withColumn("b",
        pmod(conv(substring(md5(concat(lit("dsir:"), col("tok"))), 1, 8),
          16, 10).cast("long"), lit(DsirBuckets.toLong)))
    val byLang = tok.groupBy(col("lang"), col("b"))
      .agg(count(lit(1)).as("c"))
    val tgt = byLang.where(col("lang") === "en")
      .select(col("b"), col("c").as("ct"))
    val tgtTot = tgt.agg(sum(col("ct")).as("tt"))
    val slice = byLang.where(col("lang") =!= "en")
    val sliceTot = slice.groupBy(col("lang")).agg(sum(col("c")).as("ts"))
    // DENSE (lang × bucket) grid: buckets the slice never hit still
    // carry smoothed mass 1/(ts+B) and must contribute their term, or
    // the KL is silently truncated
    val grid = sliceTot
      .select(col("lang"), col("ts"),
        explode(sequence(lit(0L), lit(DsirBuckets - 1L))).as("b"))
    grid
      .join(slice, Seq("lang", "b"), "left")
      .join(broadcast(tgt), Seq("b"), "left")
      .crossJoin(broadcast(tgtTot))
      .select(col("lang"), col("ts"),
        round(
          ((coalesce(col("c"), lit(0L)) + 1).cast("double") /
            (col("ts") + lit(DsirBuckets)).cast("double")) *
            log(((coalesce(col("c"), lit(0L)) + 1).cast("double") *
              (col("tt") + lit(DsirBuckets)).cast("double")) /
              ((coalesce(col("ct"), lit(0L)) + 1).cast("double") *
                (col("ts") + lit(DsirBuckets)).cast("double"))), 9)
          .cast("decimal(18,9)").as("term"))
      .groupBy(col("lang"), col("ts").as("n_tokens"))
      .agg(round(sum(col("term")).cast("double"), 6).as("kl_nats"))
      .select(col("lang"), col("n_tokens"), col("kl_nats"))
      .orderBy(col("lang"))
  }

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_corpus_kl" -> (qCorpusKl _),
    "q_corpus_dsir" -> (qCorpusDsir _),
    "q_shard_assign" -> (qShardAssign _),
    "q_chunk_index" -> (qChunkIndex _),
    "q_text_keywords" -> (qTextKeywords _),
    "q_decontaminate_bloom" -> (qDecontaminateBloom _),
    "q_chunk_docs" -> (qChunkDocs _),
    "q_text_entropy" -> (qTextEntropy _),
    "q_approx_topk" -> (qApproxTopk _),
    "q_length_buckets" -> (qLengthBuckets _))

  // DuckDB twins — same constants, same rounding discipline.

  private def cmsBucketSql(j: Int, tok: String): String =
    s"CAST(CONCAT('0x', SUBSTR(MD5('$j:' || $tok), 1, 6)) AS BIGINT) % $CmsWidth"

  def oracles: Map[String, String] = Map(
    "q_corpus_kl" ->
      // same buckets/smoothing as the Spark side, dense grid via
      // generate_series so zero-hit buckets contribute their term
      s"""WITH tok AS (
         |  SELECT lang, CAST(CONCAT('0x',
         |    SUBSTR(MD5(CONCAT('dsir:', tok)), 1, 8)) AS BIGINT)
         |    % $DsirBuckets AS b
         |  FROM (SELECT lang,
         |    UNNEST(STRING_SPLIT_REGEX(LOWER(text), '\\s+')) AS tok
         |    FROM documents)
         |  WHERE tok <> ''),
         |bl AS (SELECT lang, b, COUNT(*) AS c FROM tok GROUP BY 1, 2),
         |tgt AS (SELECT b, c AS ct FROM bl WHERE lang = 'en'),
         |tt AS (SELECT CAST(SUM(ct) AS BIGINT) AS tt FROM tgt),
         |sl AS (SELECT lang, b, c FROM bl WHERE lang <> 'en'),
         |st AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS ts
         |  FROM sl GROUP BY 1),
         |grid AS (
         |  SELECT st.lang, st.ts, gs.b
         |  FROM st CROSS JOIN (
         |    SELECT UNNEST(GENERATE_SERIES(0, ${DsirBuckets - 1})) AS b
         |  ) gs),
         |terms AS (
         |  SELECT g.lang, g.ts,
         |    CAST(ROUND(
         |      (CAST(COALESCE(s.c, 0) + 1 AS DOUBLE) /
         |        CAST(g.ts + $DsirBuckets AS DOUBLE)) *
         |      LN((CAST(COALESCE(s.c, 0) + 1 AS DOUBLE) *
         |          CAST(tt.tt + $DsirBuckets AS DOUBLE)) /
         |        (CAST(COALESCE(t.ct, 0) + 1 AS DOUBLE) *
         |          CAST(g.ts + $DsirBuckets AS DOUBLE))), 9)
         |      AS DECIMAL(18,9)) AS term
         |  FROM grid g
         |  LEFT JOIN sl s ON s.lang = g.lang AND s.b = g.b
         |  LEFT JOIN tgt t ON t.b = g.b
         |  CROSS JOIN tt)
         |SELECT lang, ts AS n_tokens,
         |  ROUND(CAST(SUM(term) AS DOUBLE), 6) AS kl_nats
         |FROM terms GROUP BY lang, ts ORDER BY lang""".stripMargin,
    "q_corpus_dsir" ->
      // same 'dsir:'-prefixed md5 buckets, add-one smoothing, and
      // 9-dp-rounded decimal log-ratio sum as the Spark side
      s"""WITH tok AS (
         |  SELECT doc_id, lang, tok, CAST(CONCAT('0x',
         |    SUBSTR(MD5(CONCAT('dsir:', tok)), 1, 8)) AS BIGINT)
         |    % $DsirBuckets AS b
         |  FROM (SELECT doc_id, lang,
         |    UNNEST(STRING_SPLIT_REGEX(LOWER(text), '\\s+')) AS tok
         |    FROM documents)
         |  WHERE tok <> ''),
         |lm AS (
         |  SELECT b,
         |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS ct,
         |    CAST(SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS cr
         |  FROM tok GROUP BY 1),
         |tots AS (
         |  SELECT CAST(SUM(ct) AS BIGINT) AS tt,
         |    CAST(SUM(cr) AS BIGINT) AS tr FROM lm),
         |lr AS (
         |  SELECT b, CAST(ROUND(LN(
         |    (CAST(ct + 1 AS DOUBLE) * CAST(tr + $DsirBuckets AS DOUBLE)) /
         |    (CAST(cr + 1 AS DOUBLE) * CAST(tt + $DsirBuckets AS DOUBLE))),
         |    9) AS DECIMAL(18,9)) AS lr
         |  FROM lm CROSS JOIN tots)
         |SELECT t.doc_id, t.lang, COUNT(*) AS n_toks,
         |  ROUND(CAST(SUM(l.lr) AS DOUBLE), 6) AS logw,
         |  CAST(CASE WHEN ROUND(CAST(SUM(l.lr) AS DOUBLE), 6) > 0
         |    THEN 1 ELSE 0 END AS BIGINT) AS keep
         |FROM tok t JOIN lr l USING (b)
         |WHERE t.lang <> 'en'
         |GROUP BY t.doc_id, t.lang
         |ORDER BY t.doc_id""".stripMargin,
    "q_shard_assign" ->
      s"""WITH ns AS (
         |  SELECT GREATEST($MinShards,
         |    (COUNT(*) + ${ShardTargetDocs - 1}) // $ShardTargetDocs) AS k
         |  FROM documents),
         |h AS (
         |  SELECT doc_id,
         |    CAST(CONCAT('0x', SUBSTR(MD5('shard:$ShardEpoch:' ||
         |      CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h,
         |    LEN(STRING_SPLIT_REGEX(text, '\\s+')) AS n_tokens
         |  FROM documents)
         |SELECT doc_id, h % ns.k AS shard,
         |  ROW_NUMBER() OVER (PARTITION BY h % ns.k ORDER BY h, doc_id)
         |    AS rk, n_tokens,
         |  CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY h % ns.k
         |    ORDER BY h, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    AS BIGINT) AS tok_offset
         |FROM h CROSS JOIN ns
         |ORDER BY shard, rk""".stripMargin,
    "q_chunk_index" -> {
      val w = ChunkTokens; val st = ChunkStride
      s"""WITH t AS (
         |  SELECT doc_id, STRING_SPLIT_REGEX(text, '\\s+') AS toks,
         |    CAST(LEN(STRING_SPLIT_REGEX(text, '\\s+')) AS BIGINT) AS n
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, toks,
         |    UNNEST(GENERATE_SERIES(0, CASE WHEN n <= $w THEN 0
         |      ELSE CAST(CEIL((n - $w) / $st.0) AS BIGINT) END)) AS chunk_id
         |  FROM t),
         |ct AS (
         |  SELECT doc_id, chunk_id,
         |    UNNEST(toks[chunk_id * $st + 1 : chunk_id * $st + $w]) AS tok
         |  FROM c),
         |vec AS (
         |  SELECT doc_id, chunk_id,
         |    CAST(CONCAT('0x', SUBSTR(MD5('d:' || tok), 1, 6)) AS BIGINT)
         |      % $IndexDims AS dim,
         |    CAST(SUM(CASE WHEN CAST(CONCAT('0x',
         |        SUBSTR(MD5('s:' || tok), 1, 1)) AS BIGINT) < 8
         |      THEN 1 ELSE -1 END) AS BIGINT) AS v
         |  FROM ct GROUP BY 1, 2, 3),
         |planes AS (
         |  SELECT j, k,
         |    CAST(CONCAT('0x', SUBSTR(MD5('p:' || CAST(j AS VARCHAR) || ':'
         |      || CAST(k AS VARCHAR)), 1, 6)) AS BIGINT) - 8388608 AS h
         |  FROM (SELECT UNNEST(GENERATE_SERIES(0, ${IndexPlanes - 1})) AS j),
         |       (SELECT UNNEST(GENERATE_SERIES(0, ${IndexDims - 1})) AS k)),
         |dots AS (
         |  SELECT doc_id, chunk_id, j, CAST(SUM(v * h) AS BIGINT) AS dot
         |  FROM vec JOIN planes ON dim = k GROUP BY 1, 2, 3),
         |bk AS (
         |  SELECT doc_id, chunk_id,
         |    CAST(SUM(CASE WHEN dot > 0
         |      THEN CAST(POWER(2, j) AS BIGINT) ELSE 0 END) AS BIGINT)
         |      AS bucket
         |  FROM dots GROUP BY 1, 2),
         |nm AS (
         |  SELECT doc_id, chunk_id,
         |    CAST(COUNT(CASE WHEN v <> 0 THEN 1 END) AS BIGINT) AS n_dims,
         |    CAST(SUM(v * v) AS BIGINT) AS norm2
         |  FROM vec GROUP BY 1, 2)
         |SELECT doc_id, chunk_id, bucket, n_dims, norm2
         |FROM bk JOIN nm USING (doc_id, chunk_id)
         |ORDER BY doc_id, chunk_id""".stripMargin
    },
    "q_text_keywords" ->
      """WITH tokc AS (
        |  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c FROM (
        |    SELECT doc_id,
        |      UNNEST(STRING_SPLIT_REGEX(LOWER(text), '\s+')) AS tok
        |    FROM documents) GROUP BY 1, 2),
        |withn AS (
        |  SELECT doc_id, tok, c,
        |    CAST(SUM(c) OVER (PARTITION BY doc_id) AS BIGINT) AS n
        |  FROM tokc),
        |dft AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df
        |        FROM tokc GROUP BY 1),
        |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents),
        |scored AS (
        |  SELECT doc_id, tok,
        |    ROUND((c / n) * LN(nd / df), 9) AS score
        |  FROM withn JOIN dft USING (tok) CROSS JOIN nd),
        |r AS (
        |  SELECT doc_id, tok, score,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, tok) AS rank
        |  FROM scored)
        |SELECT doc_id, CAST(rank AS BIGINT) AS rank, tok,
        |  ROUND(score, 6) AS score
        |FROM r WHERE rank <= 3
        |ORDER BY doc_id, rank""".stripMargin,
    "q_decontaminate_bloom" -> {
      def bitposSql(sid: String) =
        s"CAST(CONCAT('0x', SUBSTR(MD5(CAST(j AS VARCHAR) || ':' || " +
          s"CAST($sid AS VARCHAR)), 1, 15)) AS BIGINT) % $BloomBits"
      val js = (0 until BloomK).mkString(", ")
      s"""WITH sh AS (
         |  SELECT doc_id, source,
         |    LIST_DISTINCT(CASE WHEN LEN(STRING_SPLIT_REGEX(text, '\\s+')) >= 5
         |      THEN LIST_TRANSFORM(
         |        GENERATE_SERIES(1, LEN(STRING_SPLIT_REGEX(text, '\\s+')) - 4),
         |        i -> STRING_SPLIT_REGEX(text, '\\s+')[i] || ' ' ||
         |             STRING_SPLIT_REGEX(text, '\\s+')[i+1] || ' ' ||
         |             STRING_SPLIT_REGEX(text, '\\s+')[i+2] || ' ' ||
         |             STRING_SPLIT_REGEX(text, '\\s+')[i+3] || ' ' ||
         |             STRING_SPLIT_REGEX(text, '\\s+')[i+4])
         |      ELSE [] END) AS shl
         |  FROM documents),
         |tr AS (
         |  SELECT DISTINCT doc_id,
         |    CAST(CONCAT('0x', SUBSTR(MD5(s), 1, 15)) AS BIGINT) AS sid
         |  FROM (SELECT doc_id, UNNEST(shl) AS s FROM sh
         |        WHERE source <> 'src0')),
         |ev AS (
         |  SELECT DISTINCT
         |    CAST(CONCAT('0x', SUBSTR(MD5(s), 1, 15)) AS BIGINT) AS sid
         |  FROM (SELECT UNNEST(shl) AS s FROM sh WHERE source = 'src0')),
         |bits AS (
         |  SELECT DISTINCT ${bitposSql("sid")} AS bitpos
         |  FROM ev, (SELECT UNNEST([$js]) AS j)),
         |probe AS (
         |  SELECT doc_id, sid, ${bitposSql("sid")} AS bitpos
         |  FROM tr, (SELECT UNNEST([$js]) AS j)),
         |bloom AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bloom_hits FROM (
         |    SELECT doc_id, sid FROM probe JOIN bits USING (bitpos)
         |    GROUP BY doc_id, sid HAVING COUNT(*) = $BloomK)
         |  GROUP BY doc_id),
         |exact AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_exact_hits
         |  FROM tr JOIN ev USING (sid) GROUP BY doc_id),
         |base AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles
         |  FROM tr GROUP BY doc_id)
         |SELECT b.doc_id, b.n_shingles,
         |  CAST(COALESCE(bl.n_bloom_hits, 0) AS BIGINT) AS n_bloom_hits,
         |  CAST(COALESCE(e.n_exact_hits, 0) AS BIGINT) AS n_exact_hits,
         |  COALESCE(bl.n_bloom_hits, 0) > 0 AS bloom_flagged,
         |  COALESCE(bl.n_bloom_hits, 0) > 0
         |    AND COALESCE(e.n_exact_hits, 0) = 0 AS false_positive
         |FROM base b
         |LEFT JOIN bloom bl USING (doc_id)
         |LEFT JOIN exact e USING (doc_id)
         |ORDER BY b.doc_id""".stripMargin
    },
    "q_chunk_docs" -> {
      val w = ChunkTokens; val st = ChunkStride
      s"""WITH t AS (
         |  SELECT doc_id, STRING_SPLIT_REGEX(text, '\\s+') AS toks,
         |    CAST(LEN(STRING_SPLIT_REGEX(text, '\\s+')) AS BIGINT) AS n
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, toks, n,
         |    UNNEST(GENERATE_SERIES(0, CASE WHEN n <= $w THEN 0
         |      ELSE CAST(CEIL((n - $w) / $st.0) AS BIGINT) END)) AS chunk_id
         |  FROM t)
         |SELECT doc_id, chunk_id,
         |  chunk_id * $st AS chunk_start,
         |  LEAST($w, n - chunk_id * $st) AS n_chunk_tokens,
         |  MD5(ARRAY_TO_STRING(
         |    toks[chunk_id * $st + 1 : chunk_id * $st + $w], ' ')) AS chunk_fp
         |FROM c ORDER BY doc_id, chunk_id""".stripMargin
    },
    "q_text_entropy" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    UNNEST(STRING_SPLIT_REGEX(LOWER(text), '\s+')) AS tok
        |  FROM documents),
        |cnt AS (
        |  SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY 1, 2),
        |perdoc AS (
        |  SELECT doc_id,
        |    CAST(SUM(c) AS BIGINT) AS n_tokens,
        |    CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |    SUM(CAST(ROUND(c * LN(CAST(c AS DOUBLE)), 9)
        |      AS DECIMAL(18,9))) AS sclnc
        |  FROM cnt GROUP BY 1)
        |SELECT doc_id, n_tokens, n_distinct,
        |  ROUND(CAST(n_distinct AS DOUBLE) / n_tokens, 6) AS ttr,
        |  ROUND((LN(CAST(n_tokens AS DOUBLE))
        |    - CAST(sclnc AS DOUBLE) / n_tokens) / LN(2.0), 6) AS entropy_bits
        |FROM perdoc ORDER BY doc_id""".stripMargin,
    "q_approx_topk" -> {
      val rows = (0 until CmsDepth).map { j =>
        s"SELECT $j AS row_id, ${cmsBucketSql(j, "tok")} AS bucket, c FROM vocab"
      }.mkString("\n  UNION ALL ")
      val probes = (0 until CmsDepth).map { j =>
        s"SELECT tok, c, $j AS row_id, ${cmsBucketSql(j, "tok")} AS bucket FROM cand"
      }.mkString("\n  UNION ALL ")
      s"""WITH vocab AS (
         |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM (
         |    SELECT UNNEST(STRING_SPLIT_REGEX(LOWER(text), '\\s+')) AS tok
         |    FROM documents) GROUP BY tok),
         |expanded AS (
         |  $rows),
         |sketch AS (
         |  SELECT row_id, bucket, CAST(SUM(c) AS BIGINT) AS bsum
         |  FROM expanded GROUP BY 1, 2),
         |cand AS (
         |  SELECT tok, c FROM vocab ORDER BY c DESC, tok LIMIT 20),
         |probes AS (
         |  $probes)
         |SELECT p.tok,
         |  MAX(p.c) AS exact,
         |  MIN(s.bsum) AS est,
         |  MIN(s.bsum) >= MAX(p.c) AS never_under,
         |  ROUND(CAST(MIN(s.bsum) - MAX(p.c) AS DOUBLE) / MAX(p.c), 6)
         |    AS rel_overestimate
         |FROM probes p JOIN sketch s USING (row_id, bucket)
         |GROUP BY p.tok
         |ORDER BY exact DESC, tok""".stripMargin
    },
    "q_length_buckets" -> {
      def audit(strategy: String, order: String) =
        s"""SELECT lang, '$strategy' AS strategy,
           |  CAST(COUNT(*) AS BIGINT) AS n_batches,
           |  CAST(SUM(real_toks) AS BIGINT) AS real_tokens,
           |  CAST(SUM(padded_toks) AS BIGINT) AS padded_tokens,
           |  ROUND(CAST(SUM(padded_toks) - SUM(real_toks) AS DOUBLE)
           |    / SUM(padded_toks), 6) AS waste_frac
           |FROM (
           |  SELECT lang, batch, SUM(n_tokens) AS real_toks,
           |    MAX(n_tokens) * $BatchDocs AS padded_toks
           |  FROM (
           |    SELECT lang, n_tokens,
           |      CAST(FLOOR((ROW_NUMBER() OVER (
           |        PARTITION BY lang ORDER BY $order) - 1) / $BatchDocs.0)
           |        AS BIGINT) AS batch
           |    FROM base) GROUP BY 1, 2) GROUP BY lang""".stripMargin
      s"""WITH base AS (
         |  SELECT doc_id, lang,
         |    CAST(LEN(STRING_SPLIT_REGEX(text, '\\s+')) AS BIGINT)
         |      AS n_tokens,
         |    MD5(CAST(doc_id AS VARCHAR)) AS h
         |  FROM documents)
         |${audit("length", "n_tokens, doc_id")}
         |UNION ALL
         |${audit("hash", "h, doc_id")}
         |ORDER BY lang, strategy""".stripMargin
    })
}
