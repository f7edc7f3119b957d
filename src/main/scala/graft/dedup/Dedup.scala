package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Materialize

/** Deduplication operators for LLM training-data pipelines
  * (SURVEY.md §2, dedup block). None of these are in the reference —
  * they extend its relational surface with the operators a 100 TB
  * corpus cleanup actually needs.
  *
  * ARCHITECTURE (SURVEY.md §3.5, revised round 14): shingles are
  * built PER DOCUMENT by array transforms over one materialized words
  * column and exploded to rows; from the explode down the pipelines
  * are fully RELATIONAL — MinHash as 64 codegen'd `min()` aggregates,
  * SimHash as 64 codegen'd conditional `sum()`s. The r1–r13 shape
  * instead shipped every token row through a `lead()`-over-(id, pos)
  * window — a full Exchange + sort per pipeline — to look up
  * neighbors that are adjacent in the document's own word array
  * (interleaved A/B at sf0.1, local[32]: window shape 1.4–1.5 s per
  * shingle pass, array shape 0.25–0.36 s; OPTIMIZATION_r14.md).
  *
  * Two hard-won rules for array expressions in hot paths (the r7
  * array-based MinHash spent 657s where the relational shape spends
  * ~2s, and round 14's first draft regressed q_pipeline_train 5×):
  *   1. NEVER leave a non-trivial subtree (split, transform) inlined
  *      where it is referenced more than once — Catalyst expressions
  *      are trees, not DAGs, so `element_at(split(text), i + k)`
  *      re-runs the regex split per element access. Materialize it
  *      as its own projection column first.
  *   2. Explode to rows BEFORE any consumer that references the
  *      per-element values repeatedly (the 64 family hashes read the
  *      exploded s_id rows through codegen'd aggregates, never 64
  *      array_min(transform(...)) copies).
  *
  * Scale design: every variant is linear-scan + shuffle-by-key. The
  * quadratic work (pair comparison) only ever happens inside small
  * candidate buckets produced by a blocking key (shingle hash, LSH
  * band, SimHash chunk, label), never across the whole corpus.
  */
object Dedup {

  /** Word-level n-gram shingles, distinct, as a column expression —
    * the API-level convenience (1-based `element_at`). NOTE: references
    * the `split` subtree n+1 times (Catalyst expressions are trees, not
    * DAGs) — fine for one-off use, wrong for hot paths; the pipelines
    * below use the relational shape instead. */
  def shingles(text: Column, n: Int): Column =
    shinglesOfWords(split(text, "\\s+"), n)

  /** `shingles` over a words-array column; pass a MATERIALIZED column
    * from batch code (the `cdcChunksOfWords` rule). */
  private def shinglesOfWords(words: Column, n: Int): Column =
    // sequence(1, k) with k < 1 would DESCEND in Spark; guard short docs.
    when(size(words) >= n,
      array_distinct(
        transform(
          sequence(lit(1), size(words) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(k => element_at(words, i + k)): _*))))
      .otherwise(array().cast("array<string>"))

  /** Exact Jaccard similarity between two pre-computed shingle arrays. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      greatest(size(array_union(a, b)).cast("double"), lit(1.0))

  /** Exact dedup: canonical = lowest doc_id per normalized-text hash.
    * One shuffle on the 128-bit content hash; no pairwise work at all. */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(col("content_hash"))
    docs
      .withColumn("content_hash",
        md5(regexp_replace(trim(lower(col(textCol))), "\\s+", " ")))
      .withColumn("canonical_id", min(col(idCol)).over(w))
      .withColumn("is_canonical", col(idCol) === col("canonical_id"))
  }

  // ---- relational token/shingle backbone ---------------------------

  /** One row per DISTINCT n-gram shingle: (id, blockCols…, h3) where
    * h3 = xxhash64 over n consecutive word hashes (set-identical to
    * hashing the string shingle, no concatenation).
    *
    * Round 14: built per DOCUMENT from one split + two array
    * transforms, then exploded — a word's shingle neighbors are
    * adjacent in the document's own word array, so the old
    * lead()-over-(id, pos) window paid a full Exchange + sort of
    * every token row for a lookup the row already had locally. The
    * h3 values are identical (same xxhash64 over the same n word
    * hashes), and the per-doc array_distinct reproduces the old
    * row-level distinct exactly (ids are unique per document), so
    * every consumer's output is unchanged; each pipeline's plan
    * loses one Exchange + Sort (plans/r14/ at commit b5c0a46). The two
    * projections stay separate on purpose: `_hs` is referenced n times
    * per shingle, so CollapseProject would otherwise inline (and
    * re-evaluate) the split+hash per reference. */
  def shingleRows(
      docs: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], n: Int): DataFrame = {
    val hsCol = transform(split(col(textCol), "\\s+"), w => xxhash64(w))
    // sequence(1, k) with k < 1 would DESCEND in Spark; guard short docs
    val sh = when(size(col("_hs")) >= n,
      array_distinct(transform(
        sequence(lit(1), size(col("_hs")) - (n - 1)),
        i => xxhash64((0 until n).map(k => element_at(col("_hs"), i + k)): _*))))
      .otherwise(array().cast("array<bigint>"))
    docs
      .select((col(idCol).as("id") +: blockCols.map(col)) :+ hsCol.as("_hs"): _*)
      .select((col("id") +: blockCols.map(col)) :+ explode(sh).as("h3"): _*)
  }

  /** Document-frequency cap for `ngramJaccardPairs`: shingles shared
    * by more than this many documents OF A BLOCK are dropped before
    * the pair self-join. A corpus-common "stop shingle" otherwise
    * creates one df² pair group (10⁵ docs sharing a stop 3-gram ⇒
    * 10¹⁰ pairs) — the standard similarity-join prefilter. Jaccard is
    * then computed over the CAPPED shingle universe on both the
    * numerator and the per-doc sizes (consistent set semantics; the
    * generated oracle applies the identical cap). Effect on scores is
    * tiny and one-sided: a capped shingle is one every pair in the
    * block shares, so dropping it lowers |A∩B| and |A∪B| by the same
    * 1 — at df > 100 the documents are essentially boilerplate-linked
    * anyway, which is noise, not signal, for near-dup detection. */
  val JaccardDfCap = 100

  /** Near-dup pairs by exact Jaccard within blocking buckets —
    * the correctness baseline that MinHash-LSH approximates.
    *
    * PRECONDITION (round 14 array backbone, all shingle-based entry
    * points — jaccard/containment/minhash/span/CDC): `idCol` must be
    * unique per document row. The per-document array_distinct stands
    * in for the old global row-level distinct, which is only
    * output-identical when no two rows share an id.
    *
    * Distributed shape: self-join shingle rows on (block, shingle) — a
    * pair's match count IS its intersection size, and |A∪B| =
    * |A|+|B|−|A∩B|. One shuffle + one aggregation on the pair key;
    * pairs sharing no shingle never materialize, and shingles with
    * block document frequency above `dfCap` are dropped first so no
    * single stop-shingle can make a bucket quadratic. */
  def ngramJaccardPairs(
      docs: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], n: Int, threshold: Double,
      dfCap: Int = JaccardDfCap): DataFrame =
    cappedPairCounts(docs, idCol, textCol, blockCols, n, dfCap)
      .withColumn("jaccard", round(
        col("n_inter").cast("double") /
          greatest((col("sz_a") + col("sz_b") - col("n_inter")).cast("double"),
            lit(1.0)), 6))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** Near-dup pairs by exact shingle CONTAINMENT — |A∩B| / min(|A|,|B|)
    * — the asymmetric-size complement of Jaccard: a short document
    * quoted whole inside a long one has containment ≈ 1 while its
    * Jaccard stays far below any near-dup threshold (the union is
    * dominated by the long side). The standard quote/subset-dup screen
    * (Broder's containment measure).
    *
    * Identical distributed shape and df cap as `ngramJaccardPairs`
    * (shared capped backbone): pairs sharing no kept shingle never
    * materialize, and no stop-shingle can make a bucket quadratic. */
  def ngramContainmentPairs(
      docs: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], n: Int, threshold: Double,
      dfCap: Int = JaccardDfCap): DataFrame =
    cappedPairCounts(docs, idCol, textCol, blockCols, n, dfCap)
      .withColumn("containment", round(
        col("n_inter").cast("double") /
          greatest(least(col("sz_a"), col("sz_b")).cast("double"),
            lit(1.0)), 6))
      .where(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("n_inter"), col("containment"))

  /** Shared backbone of the exact pair measures: distinct shingles,
    * block-df cap, per-doc sizes over the CAPPED universe, and the
    * (block, shingle) self-join whose per-pair match count is the
    * intersection size. Returns (id_a, id_b, sz_a, sz_b, n_inter). */
  private def cappedPairCounts(
      docs: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], n: Int, dfCap: Int): DataFrame = {
    val shRows = shingleRows(docs, idCol, textCol, blockCols, n)
    // block document frequency per shingle (rows are distinct per
    // (id, block, shingle), so count(*) IS the doc count) — a map-side
    // partial aggregate on the same key the self-join shuffles on
    val dfKey = blockCols :+ "h3"
    val keep = shRows.groupBy(dfKey.map(col): _*)
      .agg(count(lit(1)).as("_df"))
      .where(col("_df") <= dfCap)
      .select(dfKey.map(col): _*)
    // materialized once: feeds the size aggregate and both join sides
    val capped = Materialize(shRows.join(keep, dfKey))
    // per-doc shingle counts as an aggregate + join, NOT a window over
    // the full shingle table: the aggregate is map-side partial and
    // produces one row per doc, which AQE then broadcasts — vs a
    // window's full shuffle of every shingle row by id
    val sizes = capped.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val sh = capped.join(sizes, "id")
    val a = sh.select(
      col("id").as("id_a") +: col("sz").as("sz_a") +: col("h3").as("h_a") +:
        blockCols.map(c => col(c).as(s"${c}_a")): _*)
    val b = sh.select(
      col("id").as("id_b") +: col("sz").as("sz_b") +: col("h3").as("h_b") +:
        blockCols.map(c => col(c).as(s"${c}_b")): _*)
    val joinCond = blockCols
      .map(c => col(s"${c}_a") === col(s"${c}_b"))
      .foldLeft(col("id_a") < col("id_b") && col("h_a") === col("h_b"))(_ && _)
    a.join(b, joinCond)
      .groupBy(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"))
      .agg(count(lit(1)).as("n_inter"))
  }

  // ---- MinHash + LSH -----------------------------------------------

  /** Number of hash functions and LSH band geometry (16 bands × 4 rows:
    * catches jaccard ≳ 0.5 with high probability). */
  val NumHashes = 64
  val BandRows = 4
  val NumBands: Int = NumHashes / BandRows

  /** Mersenne prime 2^31−1: the modulus of the universal hash family.
    * Family hashes are plain integer arithmetic — `(aᵢ·h + bᵢ) mod p`
    * over a 31-bit reduction of the shingle id — so Spark and DuckDB
    * compute bit-identical signatures (no engine-specific hash
    * function anywhere in the MinHash path), which is what gives
    * q_dedup_minhash a full oracle. Products stay < 2^62: ANSI-safe. */
  val MinhashP = 2147483647L

  /** Deterministic family coefficients (aᵢ ≠ 0). Quality requirements
    * on a/b are mild (pairwise independence); fixed constants keep the
    * family reproducible everywhere. */
  def familyA(i: Int): Long = ((2L * i + 1L) * 1000003L) % MinhashP
  def familyB(i: Int): Long = (i * 7368787L + 11L) % MinhashP

  /** One row per DISTINCT shingle with an ENGINE-PORTABLE 60-bit id:
    * the first 15 md5 hex digits of the shingle STRING (collision odds
    * ~n²/2^61 — negligible; the 31-bit reduction happens only inside
    * the family hash where collisions merely perturb the signature).
    *
    * Round 14: shingle strings come from the per-document `shingles`
    * array (identical concat_ws(" ", …) strings), md5+conv map each
    * to its 60-bit id inside one more transform, and the per-doc
    * array_distinct OVER THE IDS reproduces the old row-level
    * distinct exactly (including the negligible-but-contractual
    * 60-bit collision dedup). The old posexplode + lead() window
    * paid a full Exchange + sort of every token row to look up
    * neighbors that are adjacent in the document's own word array;
    * this shape has no exchange at all before the signature
    * aggregate (plans/r14/ at commit b5c0a46). Two projections on
    * purpose — `_sh` is referenced twice, so CollapseProject would
    * otherwise inline the split per reference. */
  def minhashShingleRows(
      docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    // the words array MUST be its own projection: embedded in the
    // shingle lambda (the `shingles` column convenience) the split
    // subtree re-executes per element_at — O(words·n) regex splits
    // per document (measured 5× on q_pipeline_train). As a column it
    // is evaluated once, and CollapseProject keeps the projections
    // apart because `_w` is referenced n+2 times and split is not
    // cheap; `_sh`'s single explode reference may inline, which is
    // free (its references are to the materialized `_w`).
    docs
      .select(col(idCol).as("id"), split(col(textCol), "\\s+").as("_w"))
      .select(col("id"), shinglesOfWords(col("_w"), n).as("_sh"))
      .select(col("id"),
        explode(array_distinct(transform(col("_sh"),
          s => conv(substring(md5(s), 1, 15), 16, 10).cast("long"))))
          .as("s_id"))
  }

  /** MinHash signatures as a WIDE table (id, sz, m0…m63): the i-th
    * family member is `(aᵢ·(s_id mod p) + bᵢ) mod p`; the signature
    * element is its min over the doc's shingles. 64 `min()` aggregate
    * functions (plus the shingle-set size, which downstream Jaccard
    * verification needs anyway) in ONE codegen'd hash aggregate —
    * partial aggregation happens map-side, so the shuffle carries 65
    * longs per doc, not the shingle set, and no second pass over the
    * shingle table is ever needed for sizes. */
  def minhashSigTable(sh: DataFrame): DataFrame = {
    val h31 = col("s_id") % MinhashP
    val aggs = count(lit(1)).as("sz") +: (0 until NumHashes).map { i =>
      min((lit(familyA(i)) * h31 + lit(familyB(i))) % MinhashP).as(s"m$i")
    }
    sh.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
  }

  /** (id, sz, band, bucket) rows of a shingle table — the LSH banding
    * shared by the self-join candidate path and the cross-set
    * (batch vs corpus) incremental path. */
  def minhashBands(sh: DataFrame): DataFrame =
    minhashBandsOfSig(minhashSigTable(sh), BandRows)

  /** Band `bnd`'s bucket: the polynomial fold of its `rowsPerBand`
    * signature elements (`sig(i)` is element i) mod p — portable
    * integer arithmetic, acc·1000003 + m < 2^52, ANSI-safe. Shared by
    * the relational banding and the per-row streaming twin. */
  private def bandBucket(bnd: Int, rowsPerBand: Int, sig: Int => Column): Column =
    (0 until rowsPerBand).foldLeft(lit(bnd.toLong)) { (acc, r) =>
      (acc * 1000003L + sig(bnd * rowsPerBand + r)) % MinhashP
    }

  /** The banding of a signature table under an ARBITRARY geometry:
    * `rowsPerBand` signature elements folded per band,
    * NumHashes/rowsPerBand bands over the same 64-element signature.
    * The (bands b, rows r) pair IS the LSH tuning dial — the candidate
    * probability is 1−(1−s^r)^b, so shrinking r moves the S-curve
    * threshold (1/b)^(1/r) down (more candidates, higher recall, more
    * verify work) and growing it moves it up. The production geometry
    * is (16, 4); q_minhash_band_sweep measures the alternatives from
    * ONE shared signature table. */
  def minhashBandsOfSig(sig: DataFrame, rowsPerBand: Int): DataFrame = {
    require(NumHashes % rowsPerBand == 0,
      s"rowsPerBand $rowsPerBand must divide NumHashes $NumHashes")
    val nb = NumHashes / rowsPerBand
    sig.select(
      col("id"), col("sz"),
      explode(array((0 until nb).map { bnd =>
        struct(lit(bnd).as("band"),
          bandBucket(bnd, rowsPerBand, i => col(s"m$i")).as("bucket"))
      }: _*)).as("bb"))
      .select(col("id"), col("sz"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** The (band, bucket) array of ONE document as a pure per-row column
    * expression — the STREAMING-SAFE twin of `minhashBands`: identical
    * md5-15 shingle ids, family hashes, and band fold, but built from
    * higher-order array functions instead of the posexplode + window +
    * aggregate backbone (window functions don't run on streams).
    * Bit-identical to the batch bands (spec-asserted), so a streaming
    * batch side can join the SAME persisted corpus band index the
    * batch screen uses. Interpreted (CodegenFallback) per-row work —
    * right for a per-microbatch ingest screen, wrong for the batch hot
    * path, which keeps the relational shape above. Documents shorter
    * than `n` words yield an empty array (no bands), matching the
    * batch pipeline's dropped rows. */
  def minhashBandsExpr(text: Column, n: Int): Column = {
    val sids = array_distinct(transform(shingles(text, n),
      sh => conv(substring(md5(sh), 1, 15), 16, 10).cast("long")))
    val mins = (0 until NumHashes).map { i =>
      array_min(transform(sids,
        h => (lit(familyA(i)) * (h % MinhashP) + lit(familyB(i))) % MinhashP))
    }
    when(size(sids) > 0, array((0 until NumBands).map { bnd =>
      struct(lit(bnd).as("band"), bandBucket(bnd, BandRows, mins).as("bucket"))
    }: _*)).otherwise(array().cast("array<struct<band:int,bucket:bigint>>"))
  }

  /** LSH candidate pairs from a shingle-row table: band the wide
    * signature into NumBands bucket hashes, explode to (band, bucket)
    * rows, self-join buckets. Linear in corpus size; pairwise work only
    * inside buckets. Each side's shingle-set size rides along so the
    * verify step needs no extra join. */
  def minhashCandidatesFromShingles(sh: DataFrame): DataFrame = {
    val bands = minhashBands(sh)
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") &&
        col("x.bucket") === col("y.bucket") &&
        col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("x.sz").as("sz_a"),
        col("y.id").as("id_b"), col("y.sz").as("sz_b"))
      .distinct()
  }

  /** Full MinHash-LSH near-dup pipeline: LSH candidates re-checked with
    * exact Jaccard (the standard verify step), computed relationally:
    * join the candidate pairs back to the shingle rows of both sides
    * and count matches. The shingle table feeds two consumers
    * (signatures+sizes in one aggregate, intersection counts), so it
    * is materialized once — at corpus scale this is the checkpoint
    * every MinHash pipeline materializes anyway. */
  def minhashDedup(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double): DataFrame = {
    val sh = Materialize(minhashShingleRows(docs, idCol, textCol, n))
    minhashCandidatesFromShingles(sh)
      .join(sh.select(col("id").as("id_a"), col("s_id").as("ha")), "id_a")
      .join(sh.select(col("id").as("idb2"), col("s_id").as("hb")),
        col("id_b") === col("idb2") && col("ha") === col("hb"))
      .groupBy(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"))
      .agg(count(lit(1)).as("n_inter"))
      .withColumn("jaccard", round(
        col("n_inter").cast("double") /
          greatest((col("sz_a") + col("sz_b") - col("n_inter")).cast("double"),
            lit(1.0)), 6))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Incremental ingest dedup — the daily-batch shape: screen each
    * INCOMING document against the EXISTING corpus without ever
    * pairing corpus docs with each other. Exact duplicates by
    * normalized content hash (a semi-join against the corpus hash
    * set), near-duplicates by cross-set LSH band collisions (batch
    * bands ⋈ corpus bands — |batch|-proportional work, never
    * corpus²). Returns one verdict row per incoming doc:
    * (doc_id, is_exact_dup, n_near_candidates, keep).
    *
    * At production scale the corpus hash set and band table are the
    * persisted dedup INDEX, incrementally appended as batches commit —
    * here both derive from the corpus frame; the query shape is
    * identical either way. */
  def incrementalDedup(
      batch: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame =
    incrementalDedupScreen(batch,
      contentHashes(corpus, idCol, textCol).select(col("h")).distinct(),
      minhashBands(minhashShingleRows(corpus, idCol, textCol, n))
        .select(col("id").as("cid"), col("band"), col("bucket")),
      idCol, textCol, n)

  /** (id, h) with h = the normalized 128-bit content hash. */
  def contentHashes(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      md5(regexp_replace(trim(lower(col(textCol))), "\\s+", " ")).as("h"))

  /** Write the corpus MinHash band table as a BUCKETED index — the
    * persisted half of the daily-ingest dedup at 100 TB. Bucketing on
    * the full (band, bucket) join key pays the corpus-side shuffle
    * ONCE at index-build time; every subsequent batch screen joins
    * against the bucketed scan with NO corpus-side Exchange (only the
    * small batch side shuffles to match) — asserted in BucketingSpec.
    * Incremental maintenance is an append of the new batch's bands
    * after its keep-decisions commit. */
  def writeBandIndex(
      corpus: DataFrame, idCol: String, textCol: String, n: Int,
      table: String, numBuckets: Int): Unit =
    graft.sources.Bucketing.writeBucketedOn(
      minhashBands(minhashShingleRows(corpus, idCol, textCol, n))
        .select(col("id").as("cid"), col("band"), col("bucket")),
      table, Seq("band", "bucket"), numBuckets,
      sortCols = Seq("band", "bucket"))

  /** The verdict assembly shared by the in-plan and indexed forms:
    * `corpusHashes` is the distinct corpus content-hash set (`h`),
    * `corpusBands` the corpus band table (cid, band, bucket) — either
    * derived in-plan or read back from the persisted bucketed index. */
  def incrementalDedupScreen(
      batch: DataFrame, corpusHashes: DataFrame, corpusBands: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    val exact = contentHashes(batch, idCol, textCol)
      .join(corpusHashes, Seq("h"), "left_semi")
      .select(col("id"), lit(true).as("is_exact_dup"))
    val near = minhashBands(minhashShingleRows(batch, idCol, textCol, n))
      .select(col("id"), col("band"), col("bucket"))
      .join(corpusBands.select(col("cid"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .groupBy(col("id"))
      .agg(countDistinct(col("cid")).as("n_near_candidates"))
    batch.select(col(idCol).as("id"))
      .join(exact, Seq("id"), "left")
      .join(near, Seq("id"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("is_exact_dup"), lit(false)).as("is_exact_dup"),
        coalesce(col("n_near_candidates"), lit(0L)).as("n_near_candidates"))
      .withColumn("keep",
        !col("is_exact_dup") && col("n_near_candidates") === 0)
      .orderBy(col("doc_id"))
  }

  // ---- benchmark decontamination ------------------------------------

  /** Flag training documents that share any word-n-gram with an
    * evaluation/benchmark corpus — the decontamination pass every
    * training-data pipeline runs before export. Returns (id,
    * n_overlap): the number of DISTINCT training-doc shingles that
    * also appear anywhere in the eval set.
    *
    * Scale shape: distinct shingle ids per side, equi-join on the
    * shingle id, count per training doc — the eval side is tiny
    * relative to the corpus (benchmarks are small), so AQE broadcasts
    * it and the pass is one scan of the training shingles. */
  def contaminationCounts(
      train: DataFrame, evalDocs: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    val trainSh = minhashShingleRows(train, idCol, textCol, n)
    val evalSh = minhashShingleRows(evalDocs, idCol, textCol, n)
      .select(col("s_id")).distinct()
    trainSh.join(evalSh, "s_id")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_overlap"))
  }

  // ---- duplicated-span coverage (exact substring dedup signal) -------

  /** Span length for duplicated-span detection: the "50-token window"
    * of exact-substring training-data dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"),
    * scaled to the short synthetic documents. */
  val SpanK = 8

  /** Per-document duplicated-span coverage — the exact-substring-dedup
    * signal: for every document, how many of its tokens sit inside a
    * `k`-token span that ALSO appears verbatim in some OTHER document.
    * The reference method suffix-arrays the whole corpus; the
    * distributed equivalent is this rolling-window span-hash shape
    * (linear, no suffix array, no all-pairs):
    *
    *   1. token backbone (posexplode — the split runs once)
    *   2. one lead() window builds every k-token span per doc
    *   3. spans duplicated across ≥2 distinct docs: ONE aggregate on
    *      the 60-bit portable span id (map-side partial)
    *   4. duplicated span STARTS back on the doc axis via a key join
    *   5. covered-token count = union of fixed-length intervals: with
    *      starts sorted, each start covers min(k, next_start − start)
    *      tokens — a single lead() window, no per-token expansion
    *
    * Every shuffle is on doc_id except the span aggregate (s_id); the
    * span id is the same engine-portable md5-15 construction MinHash
    * uses, so the DuckDB oracle rebuilds the identical span sets.
    * Returns one row per document: (doc_id, n_tokens, dup_starts,
    * covered_tokens, dup_frac). */
  def duplicatedSpanStats(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int = SpanK): DataFrame = {
    // round 14: spans are array-built per document (spanRows) — the
    // old lead() window shipped every token row through an Exchange +
    // sort twice (span build, then the next-start lookup); now the
    // only shuffles are the s_id aggregate/join and one per-doc starts
    // rollup, and the interval-union length is a per-doc array
    // expression (spans never start past np−k, so [s, s+k) never
    // clips — size(distinct ∪ sequences) IS the old Σ min(k, next−s))
    val spans = spanRows(docs, idCol, textCol, k)
    // spans in ≥2 distinct docs (cross-document duplication; within-doc
    // repetition is q_text_repetition's signal)
    val dup = spans.select(col("s_id"), col("id")).distinct()
      .groupBy(col("s_id")).agg(count(lit(1)).as("nd"))
      .where(col("nd") >= 2).select(col("s_id"))
    val starts = spans.join(dup, "s_id")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("dup_starts"),
        sort_array(collect_list(col("pos"))).as("st"))
    docs
      .select(col(idCol).as("id"),
        size(split(col(textCol), "\\s+")).cast("long").as("n_tokens"))
      .join(starts, Seq("id"), "left")
      .select(col("id").as("doc_id"), col("n_tokens"),
        coalesce(col("dup_starts"), lit(0L)).as("dup_starts"),
        // coalesce the ARRAY (not the size): size(NULL) is NULL only
        // under the default spark.sql.legacy.sizeOfNull=false — under
        // the legacy flag it is -1, which the outer coalesce would
        // pass through. Same value (0) for no-dup docs either way.
        size(array_distinct(flatten(transform(
          coalesce(col("st"), array().cast("array<int>")),
          s => sequence(s, s + lit(k) - 1))))).cast("long")
          .as("covered_tokens"))
      .withColumn("dup_frac",
        round(col("covered_tokens").cast("double") /
          col("n_tokens").cast("double"), 6))
  }

  /** (id, pos, s_id) span rows, array-built per document (round 14):
    * same 0-based positions and portable md5-15 ids as the old
    * lead()-window builder, with the words array materialized as its
    * own column so the split runs once per document (the
    * q_pipeline_train lesson — an embedded split re-executes per
    * element_at). */
  private def spanRows(
      docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    docs
      .select(col(idCol).as("id"), split(col(textCol), "\\s+").as("_w"))
      .select(col("id"), explode(spanIdsOfWords(col("_w"), k)).as("ps"))
      .select(col("id"), col("ps.pos").as("pos"), col("ps.s_id").as("s_id"))

  /** Per-row positioned k-span ids: array of (pos, s_id) structs with
    * the SAME 0-based positions and portable md5-15 ids as the
    * window-based builder inside duplicatedSpanStats/spanRemoval —
    * the stream-safe form (lead() windows don't run on a stream).
    * Not array_distinct'd: span REMOVAL needs every occurrence. */
  def spanIdsExpr(text: Column, k: Int): Column =
    spanIdsOfWords(split(text, "\\s+"), k)

  /** `spanIdsExpr` over a words-array column; pass a MATERIALIZED
    * column from batch code (the `cdcChunksOfWords` rule). */
  private def spanIdsOfWords(words: Column, k: Int): Column =
    // sequence(0, m) with m < 0 would DESCEND in Spark; guard short docs
    when(size(words) >= k,
      transform(
        sequence(lit(0), size(words) - k),
        i => struct(i.as("pos"),
          conv(substring(md5(concat_ws(" ",
            (0 until k).map(j => element_at(words, i + j + 1)): _*)),
            1, 15), 16, 10).cast("long").as("s_id"))))
      .otherwise(array().cast("array<struct<pos:int,s_id:bigint>>"))

  /** The cross-document duplicated-span id set (s_id rows): spans
    * appearing verbatim in ≥ 2 distinct documents. This IS the frozen
    * set a streaming span-removal screen joins against; the batch
    * spanRemoval derives it from its own input corpus. */
  def duplicatedSpanIds(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int = SpanK): DataFrame =
    spanRows(docs, idCol, textCol, k)
      .select(col("id"), col("s_id"))
      .distinct()
      .groupBy(col("s_id")).agg(count(lit(1)).as("nd"))
      .where(col("nd") >= 2).select(col("s_id"))

  /** Exact-substring DELETION — the removal step of exact-substring
    * dedup (Lee et al. 2022 delete every occurrence of a duplicated
    * substring, reference stupidb has no text surface at all): each
    * token covered by any cross-document duplicated k-span is dropped
    * and the survivors reassemble into the cleaned text.
    *
    * Shape: the duplicatedSpanStats backbone (token posexplode, one
    * lead() window for span ids, one s_id aggregate for the duplicated
    * set) plus TWO doc-partitioned windows — a running max of
    * duplicated-span starts turns interval-union coverage into the
    * per-row test `pos < last_start + k` (no token×span join, no
    * interval explosion), and the reassembly is one ordered
    * collect_list per doc. Every shuffle is on doc_id except the span
    * aggregate; cleaned text is deterministic (total order by pos).
    * Portable md5-15 span ids keep the full DuckDB oracle. */
  def spanRemoval(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int = SpanK): DataFrame = {
    // round 14: array-built spans (spanRows) + per-document interval
    // union. The old shape shipped every token row through THREE
    // doc-keyed passes (span window, cumulative-max window, ordered
    // collect_list reassembly); now the duplicated START POSITIONS
    // come back to each doc as one small sorted array and coverage /
    // reassembly are per-doc array expressions: covered = ∪ [s, s+k)
    // (array_distinct of flattened sequences — spans never start past
    // np−k so no clipping), survivors = array_except of the position
    // range (order-preserving), clean text = element_at over the
    // materialized words column. Identical output — the cum-max
    // `pos < last_start + k` test IS interval-union membership.
    val spans = spanRows(docs, idCol, textCol, k)
    val dup = spans.select(col("s_id"), col("id")).distinct()
      .groupBy(col("s_id")).agg(count(lit(1)).as("nd"))
      .where(col("nd") >= 2).select(col("s_id"))
    val starts = spans.join(dup, "s_id")
      .groupBy(col("id"))
      .agg(sort_array(collect_list(col("pos"))).as("st"))
    docs
      .select(col(idCol).as("id"), split(col(textCol), "\\s+").as("_w"))
      .join(starts, Seq("id"), "left")
      .select(col("id"), col("_w"),
        array_distinct(flatten(transform(
          coalesce(col("st"), array().cast("array<int>")),
          s => sequence(s, s + lit(k) - 1)))).as("cov"))
      .select(col("id").as("doc_id"),
        size(col("_w")).cast("long").as("n_tokens"),
        size(col("cov")).cast("long").as("n_removed"),
        round((size(col("_w")) - size(col("cov"))).cast("double") /
          size(col("_w")).cast("double"), 6).as("keep_frac"),
        array_join(transform(
          array_except(sequence(lit(0), size(col("_w")) - 1), col("cov")),
          p => element_at(col("_w"), p + 1)), " ").as("clean_text"))
  }

  // ---- content-defined chunking --------------------------------------

  /** CDC rolling-window width and boundary divisor: a cut lands after
    * any token whose trailing CdcW-token window hashes to 0 mod CdcD,
    * so the expected chunk length is CdcD tokens. Production CDC
    * (LBFS/FastCDC) adds min/max chunk clamps; omitted here so the
    * boundary rule stays a pure per-row predicate. */
  val CdcW = 4
  val CdcD = 16

  /** Minimum chunk length for a DUP verdict: a geometric boundary
    * process emits 1-token chunks, and a chunk of "the" collides with
    * every other doc's — the same stop-shingle noise the ngram-Jaccard
    * df cap removes. Production CDC clamps boundaries (FastCDC min
    * size); clamping relationally would make the cut flag depend on
    * the previous ACCEPTED cut (sequential), so the clamp here applies
    * to the verdict instead: short chunks chunk normally but never
    * count as duplication. Overridable per call via cdcChunkStats'
    * minTok parameter, alongside w and d. */
  val CdcMinTok = 4

  /** The CDC chunk table: one row per (doc, chunk) with its token
    * count and portable md5-15 content hash — the shared backbone of
    * the corpus-wide keep-first stats (cdcChunkStats) and the
    * batch-vs-corpus screen (cdcScreen). Token backbone → boundary
    * flag (one lag-window concat + md5-15 mod d) → chunk index by
    * exclusive prefix sum → one ordered reassembly aggregate. */
  def cdcChunks(
      docs: DataFrame, idCol: String, textCol: String,
      w: Int = CdcW, d: Int = CdcD): DataFrame =
    // round 14: the batch chunker IS the (spec-proven bit-identical)
    // array twin over a materialized words column — the old relational
    // shape paid a lag()-window for the boundary flags, a second
    // window for the prefix-sum chunk index, and an ordered
    // collect_list reassembly, i.e. an Exchange + sort of every token
    // row for structure that is per-document by construction. chunk
    // cast to long matches the old prefix-sum's type.
    docs
      .select(col(idCol).as("id"), split(col(textCol), "\\s+").as("_w"))
      .select(col("id"), explode(cdcChunksOfWords(col("_w"), w, d)).as("ck"))
      .select(col("id"), col("ck.chunk").cast("long").as("chunk"),
        col("ck.c_toks").cast("long").as("c_toks"), col("ck.c_hash"))

  /** CONTENT-DEFINED CHUNKING dedup — the storage-dedup shape (Rabin
    * fingerprint boundaries: LBFS, Muthitacharoen et al. 2001; FastCDC)
    * applied to corpus text: chunk boundaries depend only on the local
    * CdcW-token window, so a shared region between two documents
    * re-synchronizes to the SAME chunks even when a divergent prefix
    * shifts its positions — the property fixed-stride chunking lacks
    * and the reason storage systems dedup at CDC boundaries.
    *
    * Pipeline: token backbone → boundary flag (one lag-window concat +
    * md5-15 mod CdcD — pure per-row arithmetic, engine-portable) →
    * chunk index by EXCLUSIVE prefix sum of flags → chunk reassembly
    * (one ordered aggregate per (doc, chunk)) → keep-first verdict per
    * chunk content hash → per-doc rollup.
    *
    * The keep-first verdict is a min(struct(id, chunk)) AGGREGATE per
    * c_hash joined back on c_hash — NOT a row_number window. A window
    * rank over the content hash serializes every instance of one chunk
    * content into a single sort task, and a boilerplate chunk (license
    * header, nav bar — exactly what CDC dedup exists to find) repeated
    * 10⁹× across a 100-TB corpus is then a straggler sort. The
    * aggregate does map-side partials (≤1 row per hash per input
    * partition), and the join-back streams the probe side through a
    * hash lookup with no per-key buffering. Same ordering rule
    * (lexicographic (doc_id, chunk)), same answer.
    *
    * Shuffles: doc_id for the windows and rollup, chunk hash for the
    * winner aggregate + join — all linear, nothing pairwise, nothing
    * sorted by a content key. Returns one row per doc:
    * (doc_id, n_tokens, n_chunks, n_dup_chunks, dup_tokens, dup_frac). */
  def cdcChunkStats(
      docs: DataFrame, idCol: String, textCol: String,
      w: Int = CdcW, d: Int = CdcD, minTok: Int = CdcMinTok): DataFrame = {
    val chunks = cdcChunks(docs, idCol, textCol, w, d)
    val winners = chunks.groupBy(col("c_hash"))
      .agg(min(struct(col("id"), col("chunk"))).as("w"))
      .select(col("c_hash"), col("w.id").as("w_id"),
        col("w.chunk").as("w_chunk"))
    val ranked = chunks.join(winners, Seq("c_hash"))
    val isDup = !(col("id") === col("w_id") &&
      col("chunk") === col("w_chunk")) && col("c_toks") >= minTok
    ranked.groupBy(col("id"))
      .agg(sum(col("c_toks")).as("n_tokens"),
        count(lit(1)).as("n_chunks"),
        count(when(isDup, lit(1))).as("n_dup_chunks"),
        coalesce(sum(when(isDup, col("c_toks"))), lit(0L))
          .as("dup_tokens"))
      .select(col("id").as("doc_id"), col("n_tokens").cast("long"),
        col("n_chunks"), col("n_dup_chunks"),
        col("dup_tokens").cast("long"),
        round(col("dup_tokens").cast("double") /
          col("n_tokens").cast("double"), 6).as("dup_frac"))
  }

  /** CDC INGEST SCREEN — chunk a batch and test each chunk against
    * the EXISTING corpus's chunk-hash set (the storage-dedup ingest
    * question: how much of this document is bytes the store already
    * holds?). One verdict row per batch doc, same columns as
    * cdcChunkStats but dup = "hash present in the corpus set" instead
    * of keep-first within the input. The corpus side is a distinct
    * 8-byte-hash relation — at scale a persisted index, refreshed
    * between ingests (the band-index shape); only hashes shuffle. */
  def cdcScreen(
      batch: DataFrame, corpusChunkHashes: DataFrame,
      idCol: String, textCol: String,
      w: Int = CdcW, d: Int = CdcD, minTok: Int = CdcMinTok): DataFrame = {
    val chunks = cdcChunks(batch, idCol, textCol, w, d)
    val hit = chunks.join(
      corpusChunkHashes.select(col("c_hash"), lit(true).as("_cx"))
        .distinct(),
      Seq("c_hash"), "left")
    val isDup = coalesce(col("_cx"), lit(false)) &&
      col("c_toks") >= minTok
    hit.groupBy(col("id"))
      .agg(sum(col("c_toks")).as("n_tokens"),
        count(lit(1)).as("n_chunks"),
        count(when(isDup, lit(1))).as("n_dup_chunks"),
        coalesce(sum(when(isDup, col("c_toks"))), lit(0L))
          .as("dup_tokens"))
      .select(col("id").as("doc_id"), col("n_tokens").cast("long"),
        col("n_chunks"), col("n_dup_chunks"),
        col("dup_tokens").cast("long"),
        round(col("dup_tokens").cast("double") /
          col("n_tokens").cast("double"), 6).as("dup_frac"))
  }

  /** Per-row CDC chunker: the stream-safe twin of `cdcChunks` — the
    * boundary rule, chunk slicing, and portable md5-15 chunk hashes
    * computed as PURE ARRAY EXPRESSIONS over one row's token array
    * (the lag/prefix-sum windows of the relational builder don't run
    * on a stream). Returns array<struct<chunk:int, c_toks:int,
    * c_hash:long>>; spec-asserted chunk-identical to cdcChunks. */
  def cdcChunksExpr(text: Column, w: Int = CdcW, d: Int = CdcD): Column =
    cdcChunksOfWords(split(text, "\\s+"), w, d)

  /** cdcChunksExpr over a words-array column. Pass a MATERIALIZED
    * column (not an inline split) from batch code: the expression
    * references `words` once per element_at, and an inlined split
    * subtree re-executes per reference (the round-14 rule #1 in the
    * header). */
  def cdcChunksOfWords(words: Column, w: Int = CdcW, d: Int = CdcD): Column = {
    val n = size(words)
    // cut flag per 0-based position: trailing w-token window hash
    val cuts = filter(sequence(lit(0), n - 1), i =>
      i >= w - 1 &&
        conv(substring(md5(concat_ws(" ",
          ((w - 1) to 0 by -1).map(j => element_at(words, i - j + 1)): _*)),
          1, 15), 16, 10).cast("long") % d === 0)
    // chunk j spans [starts(j), ends(j)] in 0-based token positions
    val starts = concat(array(lit(0)), transform(cuts, c => c + 1))
    val ends = concat(cuts, array(n - 1))
    // a cut on the LAST token yields a phantom empty chunk (start = n)
    // — the relational builder never materializes it (no token rows
    // carry that chunk id), so drop it here too
    val spans = filter(
      zip_with(starts, ends, (s, e) => struct(
        s.as("start"), e.as("end"))),
      se => se.getField("start") <= se.getField("end"))
    transform(spans, (se, j) => struct(
      j.as("chunk"),
      (se.getField("end") - se.getField("start") + 1).as("c_toks"),
      conv(substring(md5(array_join(
        slice(words, se.getField("start") + 1,
          se.getField("end") - se.getField("start") + 1), " ")),
        1, 15), 16, 10).cast("long").as("c_hash")))
  }

  // ---- SimHash ------------------------------------------------------

  /** One row per token with an ENGINE-PORTABLE 64-bit hash, split into
    * two 32-bit halves (h_hi = md5 hex digits 1-8, h_lo = digits 9-16)
    * so neither engine needs unsigned-64 arithmetic. This portability
    * is what gives q_dedup_simhash a full DuckDB oracle; the md5 is
    * ~5× slower per token than xxhash64, which only SimHash pays —
    * the MinHash/Jaccard paths keep the faster non-portable hashes. */
  def tokenRowsPortable(
      docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("id"),
        posexplode(split(col(textCol), "\\s+")).as(Seq("pos", "word")))
      .select(col("id"),
        conv(substring(md5(col("word")), 1, 8), 16, 10)
          .cast("long").as("h_hi"),
        conv(substring(md5(col("word")), 9, 8), 16, 10)
          .cast("long").as("h_lo"))

  /** Signature bit value for bit `b` — bit 63 is Long.MinValue (the
    * two's-complement wrap both Spark and DuckDB agree on when summed). */
  private def bitValue(b: Int): Column =
    if (b == 63) lit(Long.MinValue) else lit(1L << b)

  /** 64-bit SimHash per document from portable token rows: per bit,
    * the sign of the sum of ±1 contributions across tokens — 64
    * conditional `sum()` aggregates in one codegen'd hash aggregate,
    * then one projection assembling the bits (references only cheap
    * long columns). Bits 0-31 come from h_lo, 32-63 from h_hi. */
  def simhashTable(tok: DataFrame): DataFrame = {
    val aggs = (0 until 64).map { b =>
      val h = if (b < 32) col("h_lo") else col("h_hi")
      sum(when(shiftright(h, b % 32).bitwiseAND(1L) === 1L, 1L)
        .otherwise(-1L)).as(s"c$b")
    }
    val bits = (0 until 64).map { b =>
      when(col(s"c$b") > 0, bitValue(b)).otherwise(lit(0L))
    }
    tok.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
      .select(col("id"), bits.reduce(_ + _).as("sig"))
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: block on ANY of the four 16-bit chunks
    * (pigeonhole: hamming ≤ 3 ⟹ at least one chunk matches exactly;
    * beyond that recall degrades gracefully), then verify candidates
    * with the full hamming distance. Linear scan + bucket joins. */
  def simhashPairs(
      docs: DataFrame, idCol: String, textCol: String, maxHamming: Int): DataFrame = {
    val sigs = simhashTable(tokenRowsPortable(docs, idCol, textCol))
    val blocks = sigs.select(col("id"), col("sig"),
      explode(array((0 until 4).map { c =>
        struct(lit(c).as("chunk"),
          shiftrightunsigned(col("sig"), c * 16).bitwiseAND(0xFFFFL).as("blk"))
      }: _*)).as("cb"))
      .select(col("id"), col("sig"),
        col("cb.chunk").as("chunk"), col("cb.blk").as("blk"))
    blocks.as("x").join(blocks.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.blk") === col("y.blk") &&
        col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        col("x.sig").as("sig_a"), col("y.sig").as("sig_b"))
      .distinct() // pairs colliding in several chunks count once
      .withColumn("hamming", hamming(col("sig_a"), col("sig_b")))
      .where(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }
}
