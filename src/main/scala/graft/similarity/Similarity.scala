package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.classic.GraftColumns
import org.apache.spark.sql.functions._
import graft.plans.{VecCosine, VecLshSignature}

/** Vector similarity search over an `array<float>` embedding column
  * (SURVEY.md §2, similarity block).
  *
  * Cosine and LSH signatures are graft's native codegen'd expressions
  * (graft.plans.VecCosine / VecLshSignature), built straight into the
  * Column, so every session runs them whatever extensions it was built
  * with; the rest of the vector math is higher-order column expressions
  * (`zip_with` + `aggregate`) accumulating in double, no UDFs. Two
  * search paths:
  *   - brute force: exact, for correctness baselines and small query
  *     sets (cost = |queries| × |corpus|, distributed as a broadcast
  *     join — fine when |queries| is bounded);
  *   - random-hyperplane LSH: linear scan to bucket signatures, then
  *     pairwise only within buckets — the 100 TB path.
  */
object Similarity {

  /** Σ aᵢ·bᵢ in double precision, left-to-right. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Σaᵢbᵢ / max(‖a‖·‖b‖, 1e-12), accumulated left-to-right in double
    * over float or double arrays: one fused codegen'd loop (VecCosine). */
  def cosine(a: Column, b: Column): Column =
    GraftColumns(e => VecCosine(e(0), e(1)), a, b)

  /** Exact top-k neighbors for each query vector: broadcast the bounded
    * query set against the corpus, rank per query. Rank on the ROUNDED
    * similarity (ties broken by id) so distributed float noise cannot
    * reorder results. */
  def bruteForceTopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(
      col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("cv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    c.join(broadcast(q), col("query_id") =!= col("vec_id"))
      .withColumn("sim", round(cosine(col("qv"), col("cv")), 6))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("query_id"), col("vec_id"), col("sim"), col("rk"))
  }

  /** All near-duplicate pairs by cosine ≥ threshold, blocked on a
    * coarse key (label / IVF centroid id) so the pair join is bounded
    * per bucket. */
  def cosineNearDupPairs(
      vecs: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      blockCol: String = "label"): DataFrame = {
    val v = vecs.select(
      col(idCol).as("id"), col(vecCol).as("v"), col(blockCol).as("blk"))
    v.as("x").join(v.as("y"),
        col("x.blk") === col("y.blk") && col("x.id") < col("y.id"))
      .withColumn("cos_sim", round(cosine(col("x.v"), col("y.v")), 6))
      .where(col("cos_sim") >= threshold)
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"), col("cos_sim"))
  }

  // ---- Random-hyperplane LSH ---------------------------------------

  /** Sign-of-projection bit signature (numPlanes bits) as an int; the
    * `table` index offsets the plane seeds so multiple independent
    * hash tables can be built from one formula. The hyperplane
    * components are md5 fractions of "plane:dim" in [-0.5, 0.5)
    * (VecLshSignature.component) — reproducible across executors with
    * no broadcast state, and engine-portable: DuckDB computes the
    * identical doubles, which is what lets q_ann_lsh carry a full
    * hash-checked oracle. */
  def lshSignature(vec: Column, numPlanes: Int, table: Int = 0): Column =
    GraftColumns(e => VecLshSignature(e.head, numPlanes, table), vec)

  // ---- IVF (inverted-file) coarse quantization ----------------------

  /** Size-derived IVF cell count: ⌊√n⌋ clamped to [16, 4096]. Expected
    * cell size is then ≈ √n, so the within-cell pair join of
    * cell-blocked dedup does ≈ n total pair work — linear overall —
    * instead of O((n/K)²·K) with a constant K; the packed centroid row
    * stays broadcastable at the cap (4096 × 64 doubles ≈ 2 MB). The
    * formula is FLOOR(SQRT(n)) on an exact BIGINT — DuckDB computes
    * the identical value from COUNT(*), so the generated oracles derive
    * the same K and the whole IVF pipeline stays hash-checkable. The
    * count itself is parquet footer metadata — no data scan. */
  def ivfCellCountFor(n: Long): Int =
    math.max(16L, math.min(4096L, math.sqrt(n.toDouble).toLong)).toInt

  /** Block-size cap for `cosineNearDupPairsGuarded`: a 128-row block
    * compares at most ~8k pairs, cheap anywhere; anything hotter gets
    * sub-partitioned. */
  val HotBlockCap = 128

  /** `cosineNearDupPairs` with a HOT-BLOCK GUARD. The label-blocked
    * variant inherits the data's block sizes, so one hot label makes
    * its within-block pair join quadratic in that label's count. Here
    * blocks whose row count exceeds `hotCap` are sub-partitioned by
    * IVF cell (vectors route to their nearest of `numCells` centroids,
    * so true near-duplicates still land together; only pairs straddling
    * a cell boundary are missed — the same single-probe recall trade
    * q_dedup_embedding_ivf documents); cold blocks are compared whole,
    * exactly as the unguarded form. */
  def cosineNearDupPairsGuarded(
      vecs: DataFrame, threshold: Double, hotCap: Int, numCells: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      blockCol: String = "label"): DataFrame =
    cosineNearDupPairs(
      guardedBlockKeys(vecs, hotCap, numCells, idCol, vecCol, blockCol),
      threshold, idCol, vecCol, "_blk")

  /** The guard's blocking keys (exposed for the spec): `_blk` is the
    * block itself for cold blocks, (block, ivf cell) for hot ones. The
    * per-block counts are a broadcast-sized aggregate; the cell
    * assignment is the per-row broadcast argmax of `ivfAssign`. */
  private[graft] def guardedBlockKeys(
      vecs: DataFrame, hotCap: Int, numCells: Int,
      idCol: String, vecCol: String, blockCol: String): DataFrame = {
    val counts = vecs.groupBy(col(blockCol)).agg(count(lit(1)).as("_bn"))
    ivfAssign(vecs, ivfCentroids(vecs, numCells, idCol, vecCol), idCol, vecCol)
      .join(broadcast(counts), blockCol)
      .withColumn("_blk", concat(col(blockCol).cast("string"), lit("#"),
        when(col("_bn") > hotCap, col("cell_id")).otherwise(lit(0))
          .cast("string")))
  }

  /** Deterministic centroid pick: the `k` corpus vectors with the
    * smallest md5-fraction of their id (graft.operators.Sampling's
    * engine-portable hash — DuckDB computes the identical value, which
    * is what makes the whole IVF pipeline oracle-checkable).
    * Reproducible, no RNG state, and only the narrow (id, fraction)
    * projection passes through the global top-k (at 100 TB that is a
    * few GB, not the vectors). A real index would k-means-refine these
    * seeds; for cell ROUTING the seed quality only shifts the
    * recall/nProbe trade-off, not correctness. */
  def ivfCentroids(
      corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // distributed top-k (TakeOrderedAndProject: per-partition heaps,
    // only k rows ever reach the driver-side merge) — NOT a global
    // row_number window, which would single-partition-sort the whole
    // (id, fraction) corpus projection. The tiny ranking window below
    // runs over the k picked rows only; AQE broadcasts them into the
    // vector-fetch join.
    val picked = corpus
      .select(col(idCol),
        graft.operators.Sampling.hashFraction(col(idCol)).as("_h"))
      .orderBy(col("_h"), col(idCol))
      .limit(k)
    val w = Window.orderBy(col("_h"), col(idCol))
    picked
      .withColumn("_rk", row_number().over(w))
      .join(corpus.select(col(idCol), col(vecCol)), idCol)
      .select(col("_rk").as("cell_id"), col(vecCol).as("centroid"))
  }

  /** Distributed k-means (Lloyd's) refinement of the IVF seed
    * centroids: `iters` rounds of [assign to nearest centroid →
    * recompute each centroid as the element-wise member mean].
    *
    * Scale shape per round: one broadcast of the K centroids against a
    * linear corpus scan (the assign), then a posexplode aggregate whose
    * shuffle carries only (cell, dim) partial sums — K·D rows after
    * map-side combine, not corpus-sized. No all-pairs work anywhere;
    * this is the standard 100 TB k-means layout.
    *
    * Component means accumulate as ×2²⁴-quantized BIGINTs: the sum is
    * exact and order-independent, and both Spark and DuckDB round
    * half-away-from-zero, so the refined centroids are bit-identical
    * across cluster sizes AND engines — which is what lets q_ann_kmeans
    * carry a full hash-checked oracle. The 2⁻²⁴ quantization (~6e-8) is
    * far below any routing-relevant signal. Cells that lose all members
    * drop out (standard dead-centroid behavior), identically on both
    * engines because assignments are identical. */
  def kmeansRefine(
      corpus: DataFrame, k: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    kmeansRefineFrom(ivfCentroids(corpus, k, idCol, vecCol), corpus, iters, idCol, vecCol)

  /** [[kmeansRefine]] from a PREBUILT seed table — lets a k-ladder
    * query (q_ann_kmeans_elbow) derive all its seed sets from ONE
    * corpus top-k pick: ivfCentroids orders by (md5-fraction, id), so
    * the k smallest of a larger pick ARE ivfCentroids(corpus, k) rows
    * for every smaller k. The one-argument form delegates here —
    * identical refinement plan, identical declared results. */
  def kmeansRefineFrom(
      seeds: DataFrame, corpus: DataFrame, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    var cent = seeds
    for (_ <- 1 to iters) {
      val asg = ivfAssign(corpus, cent, idCol, vecCol, 1)
      cent = asg
        .select(col("cell_id"), posexplode(col(vecCol)).as(Seq("pos", "x")))
        .groupBy(col("cell_id"), col("pos"))
        .agg((sum(round(col("x").cast("double") * 16777216.0).cast("long"))
          .cast("double") / (lit(16777216.0) * count(lit(1)))).as("m"))
        .groupBy(col("cell_id"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cell_id"),
          transform(col("pm"), p => p.getField("m")).as("centroid"))
    }
    cent
  }

  /** The K centroids collapsed to ONE (cell_id, centroid)[] array row,
    * ready to broadcast into a per-row assignment expression. */
  def packCentroids(centroids: DataFrame): DataFrame =
    centroids.agg(
      collect_list(struct(col("cell_id"), col("centroid"))).as("_cents"))

  /** Per-element scored-cell structs for one vector: (rounded cosine,
    * -cell_id, cell_id) — lexicographic struct order IS (sim DESC,
    * cell ASC), so `array_max` picks the nearest cell and `array_sort`
    * on the negated-sim twin ranks all of them. Ranking the ROUNDED
    * similarity (cell_id tiebreak) keeps the choice bit-stable across
    * engines and cluster sizes: distributed float noise below 1e-6 can
    * never flip a cell. */
  def scoredCells(vec: Column, cents: Column): Column =
    transform(cents, c => struct(
      round(cosine(vec, c.getField("centroid")), 6).as("_sim"),
      (-c.getField("cell_id")).as("_negCell"),
      c.getField("cell_id").as("cell_id")))

  /** Assign every vector to its nearest centroid(s). All input columns
    * pass through, plus `cell_id` (one row per probed cell).
    *
    * The centroid set is collapsed to a single broadcast array row, so
    * assignment is a PURE PER-ROW EXPRESSION: K dot products + an
    * array argmax. No candidate-row blowup (a centroids crossJoin
    * materializes n·K rows), no window, no aggregate — and therefore
    * NO exchange: at 100 TB the assign is an embarrassingly-parallel
    * map over the corpus, where the previous row_number() form
    * shuffled and sorted all n·K candidate rows on vec_id. Downstream
    * consumers repartition by their own keys (cell_id / (cell, dim)),
    * so no useful partitioning is lost. */
  def ivfAssign(
      vecs: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String,
      nProbe: Int = 1): DataFrame = {
    val base = vecs.crossJoin(broadcast(packCentroids(centroids)))
    val scored = scoredCells(col(vecCol), col("_cents"))
    val passthrough = vecs.columns.toSeq.map(col)
    if (nProbe <= 1)
      base.select(passthrough :+
        array_max(scored).getField("cell_id").as("cell_id"): _*)
    else {
      // rank by ascending (-sim, cell) = (sim DESC, cell ASC):
      // negation is antitone on Spark's total double order (incl.
      // -0.0 < 0.0), so the slice is exactly a DESC rank ≤ nProbe
      val ranked = transform(scored, s => struct(
        (-s.getField("_sim")).as("_negSim"),
        s.getField("cell_id").as("cell_id")))
      base.select(passthrough :+
        explode(transform(slice(array_sort(ranked), 1, nProbe),
          s => s.getField("cell_id"))).as("cell_id"): _*)
    }
  }

  /** Query probe assignments WITH their probe rank (1 = nearest
    * centroid): the same ranked-slice arithmetic as `ivfAssign`'s
    * multi-probe branch, but keeping the rank so ONE exploded
    * (id, probe_rk, cell_id) table serves every probe depth ≤ nProbe —
    * the shared-assignment backbone of the probe-count tuning sweep. */
  def ivfProbesRanked(
      vecs: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, nProbe: Int): DataFrame = {
    val base = vecs.crossJoin(broadcast(packCentroids(centroids)))
    val scored = scoredCells(col(vecCol), col("_cents"))
    val ranked = transform(scored, s => struct(
      (-s.getField("_sim")).as("_negSim"),
      s.getField("cell_id").as("cell_id")))
    val passthrough = vecs.columns.toSeq.map(col)
    base.select(passthrough :+
      posexplode(transform(slice(array_sort(ranked), 1, nProbe),
        s => s.getField("cell_id"))).as(Seq("_p", "cell_id")): _*)
      .withColumn("probe_rk", col("_p") + 1)
      .drop("_p")
  }

  /** IVF approximate top-k: corpus rows live in their 1 nearest cell,
    * each query probes its `nProbe` nearest cells — scan cost drops
    * from |corpus| to |corpus|·nProbe/K per query, the standard
    * trade of recall for throughput (FAISS IVF-Flat shape). */
  def ivfTopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      numCells: Int, nProbe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val centroids = ivfCentroids(corpus, numCells, idCol, vecCol)
    val cells = ivfAssign(corpus, centroids, idCol, vecCol, 1)
      .select(col(idCol).as("vec_id"), col(vecCol).as("cv"), col("cell_id"))
    ivfTopKFromIndex(queries, cells, centroids, k, nProbe, idCol, vecCol)
  }

  /** [[ivfTopK]] from a PREBUILT index — `cells` is the corpus
    * assignment (vec_id, cv, cell_id) and `centroids` the coarse
    * quantizer. Lets an evaluation query that runs several IVF-family
    * sub-pipelines build (and checkpoint) the index ONCE instead of
    * re-deriving the K-cosine assignment pass per sub-pipeline; the
    * one-argument form above delegates here, so the search plan —
    * and therefore every declared result — is unchanged. */
  def ivfTopKFromIndex(
      queries: DataFrame, cells: DataFrame, centroids: DataFrame,
      k: Int, nProbe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val probes = ivfAssign(queries, centroids, idCol, vecCol, nProbe)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"), col("cell_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    probes.join(cells, "cell_id")
      .where(col("query_id") =!= col("vec_id"))
      .withColumn("sim", round(cosine(col("qv"), col("cv")), 6))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("query_id"), col("vec_id"), col("sim"), col("rk"))
  }

  /** (table, bucket) pairs across `numTables` independent hash tables —
    * standard multi-table LSH: a true neighbor missed by one table is
    * usually caught by another, trading recall for candidate volume. */
  private def lshBuckets(
      vec: Column, numPlanes: Int, numTables: Int): Column =
    explode(array((0 until numTables).map { t =>
      struct(lit(t).as("tbl"), lshSignature(vec, numPlanes, t).as("bucket"))
    }: _*))

  /** Bucketed approximate top-k: candidates share ANY of the query's
    * per-table LSH buckets; scan cost drops from |corpus| to the union
    * of bucket sizes. Recall vs `bruteForceTopK` is tested in the spec. */
  def lshTopK(
      queries: DataFrame, corpus: DataFrame, k: Int, numPlanes: Int,
      numTables: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(
      col(idCol).as("query_id"), col(vecCol).as("qv"),
      lshBuckets(col(vecCol), numPlanes, numTables).as("tb"))
      .select(col("query_id"), col("qv"),
        col("tb.tbl").as("q_tbl"), col("tb.bucket").as("q_bucket"))
    val c = corpus.select(
      col(idCol).as("vec_id"), col(vecCol).as("cv"),
      lshBuckets(col(vecCol), numPlanes, numTables).as("tb"))
      .select(col("vec_id"), col("cv"),
        col("tb.tbl").as("c_tbl"), col("tb.bucket").as("c_bucket"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    c.join(broadcast(q),
        col("q_tbl") === col("c_tbl") &&
        col("q_bucket") === col("c_bucket") &&
        col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"), col("qv"), col("cv"))
      .distinct() // a pair colliding in several tables scores once
      .withColumn("sim", round(cosine(col("qv"), col("cv")), 6))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("query_id"), col("vec_id"), col("sim"), col("rk"))
  }

  /** Symmetric int8 quantization quality report: per-vector scale
    * max|x|/127, elements snapped to round(x/scale)·scale clamped to
    * [-127, 127], then per-label mean scale and mean max-reconstruction
    * error — the compression/recall trade study run before shipping a
    * quantized ANN index.
    *
    * Relational shape: ONE explode, a per-vector window max for the
    * scale (shuffle on vec id), then the error aggregate reuses that
    * partitioning; only (label, stats) rows leave the final aggregate.
    * All arithmetic is engine-portable: float→double widening is
    * exact, round() is half-away-from-zero in both engines, and the
    * per-label means sum as DECIMAL so accumulation order can't move
    * the 6-dp result. */
  // ---- product quantization (IVF-PQ) ------------------------------

  /** PQ geometry: 64-dim vectors split into M=8 subspaces of 8 dims,
    * each quantized against a K=16 codebook — a vector compresses from
    * 64 floats to 8 nibble codes (the FAISS IVF-PQ memory story: at
    * 100 TB the candidate scan reads ~8 bytes per vector instead of
    * 256, and the full vectors never leave the index build). K here is
    * a FIDELITY constant (bits per code), not a corpus-partitioning
    * constant — it must not grow with n; the IVF cell count does. */
  val PqM = 8
  val PqSub = 8
  val PqK = 16

  /** ×10⁶-quantized squared L2 between two equal-length array slices,
    * as a BIGINT so downstream sums are exact and order-independent
    * (the PageRank/kmeans discipline — a raw double SUM would depend
    * on DuckDB's unspecified group accumulation order). Composed from
    * dot products so the oracle reproduces the arithmetic literally. */
  def l2E6(a: Column, b: Column): Column =
    round((dot(a, a) - lit(2.0) * dot(a, b) + dot(b, b)) * 1e6, 0)
      .cast("long")

  /** The PQ codebook: the PqK md5-fraction-picked vectors (the
    * ivfCentroids pick, so the oracle's CTE is the same shape), packed
    * into ONE broadcast array row ordered by code id. Subspace m's
    * codeword j is slice m of picked vector j. */
  def pqCodebookRow(
      corpus: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    ivfCentroids(corpus, PqK, idCol, vecCol)
      .agg(transform(
        array_sort(collect_list(struct(col("cell_id"), col("centroid")))),
        c => c.getField("centroid")).as("_cw"))

  /** Append `codes` (M 1-based code ids): per subspace, the nearest
    * codeword by quantized L2, code-id tiebreak — a pure per-row
    * expression over the broadcast codebook row: M·K tiny dot
    * products, no explode, no window, no exchange. */
  def pqEncode(vecsWithCw: DataFrame, vecCol: String): DataFrame = {
    val codes = array((0 until PqM).map { m =>
      val sub = slice(col(vecCol), m * PqSub + 1, PqSub)
      val scored = zip_with(
        col("_cw"), sequence(lit(1), lit(PqK)),
        (cw, j) => struct(
          (-l2E6(sub, slice(cw, m * PqSub + 1, PqSub))).as("_negD"),
          (-j).as("_negJ"),
          j.as("code")))
      array_max(scored).getField("code")
    }: _*)
    vecsWithCw.withColumn("codes", codes)
  }

  /** Asymmetric-distance (ADC) score of a candidate against a query:
    * Σ over subspaces of quantized L2(query slice, candidate's
    * codeword slice) — 8 BIGINT adds per candidate; the candidate's
    * full vector is never touched. */
  def pqAdcE6(qv: Column, codes: Column, cw: Column): Column =
    (0 until PqM).map { m =>
      l2E6(
        slice(qv, m * PqSub + 1, PqSub),
        slice(element_at(cw, element_at(codes, m + 1)),
          m * PqSub + 1, PqSub))
    }.reduce(_ + _)

  /** IVF-PQ approximate top-k with exact refine (the full FAISS
    * shape): corpus rows live in their nearest IVF cell carrying ONLY
    * their PQ codes; queries probe `nProbe` cells; ADC shortlists
    * k·refineFactor candidates per query by quantized distance; only
    * the shortlist's full vectors are fetched and re-ranked by exact
    * cosine. At scale the expensive per-candidate work drops from
    * |probed cells| · 64 floats to |probed cells| · 8 code bytes, and
    * full vectors are read for k·refineFactor rows per query — the
    * shortlist join is |queries|-proportional, never corpus-sized. */
  def ivfPqTopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      numCells: Int, nProbe: Int, refineFactor: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val centroids = ivfCentroids(corpus, numCells, idCol, vecCol)
    val asg = ivfAssign(corpus, centroids, idCol, vecCol, 1)
    ivfPqTopKFromAssign(queries, asg, centroids, corpus, k, nProbe,
      refineFactor, idCol, vecCol)
  }

  /** [[ivfPqTopK]] from a PREBUILT coarse index — `asg` is the corpus
    * IVF assignment (corpus columns + cell_id) and `centroids` the
    * coarse quantizer, so an evaluation query can share ONE assignment
    * pass between its ivf and ivfpq sub-pipelines (the PQ encode and
    * ADC stay per-pipeline). The one-argument form delegates here:
    * identical search plan, identical declared results. */
  def ivfPqTopKFromAssign(
      queries: DataFrame, asg: DataFrame, centroids: DataFrame,
      corpus: DataFrame, k: Int,
      nProbe: Int, refineFactor: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cbRow = pqCodebookRow(corpus, idCol, vecCol)
    // the "index": cell + codes only — the full vector is dropped,
    // which is the whole point at scale
    val index = pqEncode(
      asg.crossJoin(broadcast(cbRow)), vecCol)
      .select(col(idCol).as("vec_id"), col("cell_id"), col("codes"))
    val probes = ivfAssign(queries, centroids, idCol, vecCol, nProbe)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"), col("cell_id"))
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adist_e6"), col("vec_id"))
    val shortlist = probes.join(index, "cell_id")
      .where(col("query_id") =!= col("vec_id"))
      .crossJoin(broadcast(cbRow))
      .withColumn("adist_e6", pqAdcE6(col("qv"), col("codes"), col("_cw")))
      .withColumn("ark", row_number().over(wAdc))
      .where(col("ark") <= k * refineFactor)
      .select(col("query_id"), col("qv"), col("vec_id"))
    // refine: exact similarity over the tiny shortlist only
    val wSim = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    shortlist
      .join(corpus.select(col(idCol).as("vec_id"), col(vecCol).as("cv")),
        "vec_id")
      .withColumn("sim", round(cosine(col("qv"), col("cv")), 6))
      .withColumn("rk", row_number().over(wSim))
      .where(col("rk") <= k)
      .select(col("query_id"), col("vec_id"), col("sim"), col("rk"))
  }

  /** Exact per-group centroid: element-wise member mean with the
    * ×2²⁴-quantized BIGINT accumulation of `kmeansRefine` — the sum is
    * exact and order-independent, so the centroid is bit-identical
    * across cluster sizes and engines. One (group, dim) aggregate whose
    * shuffle carries only partial sums (map-side combined), then a
    * per-group collect of the D means — |groups| tiny output rows,
    * ready to broadcast. */
  def groupCentroids(
      vecs: DataFrame, groupCol: String,
      vecCol: String = "embedding"): DataFrame =
    vecs
      .select(col(groupCol), posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy(col(groupCol), col("pos"))
      .agg((sum(round(col("x").cast("double") * 16777216.0).cast("long"))
        .cast("double") / (lit(16777216.0) * count(lit(1)))).as("m"))
      .groupBy(col(groupCol))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col(groupCol),
        transform(col("pm"), p => p.getField("m")).as("centroid"))

  /** One 32-dim slice of a sign signature: bit i set iff component
    * off+i is strictly positive. 2^i via pow (exact IEEE for i < 53);
    * distinct powers mean the sum IS the bitwise OR — no carries. */
  def signWord(vec: Column, off: Int): Column =
    aggregate(
      zip_with(slice(vec, off + 1, 32), sequence(lit(0), lit(31)),
        (x, i) => when(x.cast("double") > 0.0,
          pow(lit(2.0), i).cast("long")).otherwise(lit(0L))),
      lit(0L), (acc, v) => acc + v)

  def quantizeInt8Stats(
      vecs: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    val el = vecs.select(col(idCol).as("_id"), col(labelCol).as("label"),
        explode(col(vecCol)).as("_xf"))
      .withColumn("_x", col("_xf").cast("double"))
    val w = Window.partitionBy(col("_id"))
    val sc = el.withColumn("scale",
      greatest(max(abs(col("_x"))).over(w) / 127.0, lit(1e-12)))
    val snapped =
      least(greatest(round(col("_x") / col("scale")), lit(-127.0)), lit(127.0)) *
        col("scale")
    val perVec = sc
      .withColumn("_err", abs(col("_x") - snapped))
      .groupBy(col("_id"), col("label"))
      .agg(max(col("_err")).as("maxerr"), max(col("scale")).as("scale"))
    perVec.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        round(sum(col("scale").cast("decimal(18,9)")).cast("double") /
          count(lit(1)), 6).as("avg_scale"),
        round(sum(col("maxerr").cast("decimal(18,9)")).cast("double") /
          count(lit(1)), 6).as("avg_maxerr"))
      .orderBy(col("label"))
  }
}
