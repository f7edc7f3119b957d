package graft

import org.apache.spark.sql.functions._
import graft.similarity.Similarity

/** Vector math correctness + LSH recall vs the brute-force baseline. */
class SimilaritySpec extends SparkSpec {

  test("cosine of hand-computed vectors") {
    val df = spark.createDataFrame(Seq(
      (1L, Array(1f, 0f, 0f), Array(0f, 1f, 0f)), // orthogonal → 0
      (2L, Array(1f, 2f, 3f), Array(1f, 2f, 3f)), // identical → 1
      (3L, Array(1f, 0f, 0f), Array(-1f, 0f, 0f)) // opposite → -1
    )).toDF("id", "a", "b")
    val out = df.select(col("id"),
      round(Similarity.cosine(col("a"), col("b")), 9).as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(1L) == 0.0)
    assert(math.abs(out(2L) - 1.0) < 1e-9)
    assert(math.abs(out(3L) + 1.0) < 1e-9)
  }

  test("brute-force top-k on real embeddings is k rows per query, ranked") {
    val emb = Tables.embeddings(spark, sf)
    val out = Similarity.bruteForceTopK(emb.where(col("vec_id") < 5), emb, k = 3)
      .collect()
    assert(out.length == 15)
    val byQuery = out.groupBy(_.getLong(0))
    byQuery.values.foreach { rows =>
      val sims = rows.sortBy(_.getInt(3)).map(_.getDouble(2))
      assert(sims.sameElements(sims.sortBy(-(_: Double))), "ranked desc")
    }
  }

  test("LSH top-k achieves reasonable recall vs brute force") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.where(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(queries, emb, k = 5)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(queries, emb, k = 5, numPlanes = 3,
        numTables = 6)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    // 6 tables × 3 planes (8 buckets each) over 500 vectors: a true
    // neighbor missed by one table is usually caught by another.
    assert(recall >= 0.5, s"recall $recall too low")
    assert(approx.nonEmpty)
  }

  test("OR-amplified LSH lifts measured recall past the lean baseline") {
    // the registered recall report itself: 16 tables of 6-bit
    // signatures must beat 4 tables of 8-bit ones (1−(1−p^b)^L grows
    // as b shrinks and L grows) and clear the production bar
    val r = graft.queries.DedupSim.qAnnRecall(spark, sf).collect()
      .map(x => x.getString(0) -> x.getDouble(2)).toMap
    assert(r("lsh_multi") >= 0.3,
      s"amplified recall ${r("lsh_multi")} below the 0.3 bar")
    assert(r("lsh_multi") > r("lsh"),
      s"amplification must lift recall: $r")
  }

  test("IVF top-k achieves reasonable recall and bounded cell scans") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.where(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(queries, emb, k = 5)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.ivfTopK(queries, emb, k = 5,
        numCells = 8, nProbe = 3)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    // 3 of 8 cells probed: cosine-nearest corpus vectors mostly share
    // the query's nearest centroids
    assert(recall >= 0.5, s"recall $recall too low")
    // every corpus vector lands in exactly one cell
    val cells = Similarity.ivfAssign(
      emb, Similarity.ivfCentroids(emb, 8), "vec_id", "embedding")
    assert(cells.count() == emb.count())
    assert(cells.select("cell_id").distinct().count() <= 8)
  }

  test("ivf cell count derives from corpus size: floor(sqrt) in [16, 4096]") {
    assert(Similarity.ivfCellCountFor(100L) == 16)        // clamped up
    assert(Similarity.ivfCellCountFor(500L) == 22)        // ⌊√500⌋
    assert(Similarity.ivfCellCountFor(1000000L) == 1000)  // ⌊√10⁶⌋
    assert(Similarity.ivfCellCountFor(1L << 40) == 4096)  // clamped down
  }

  test("hot-block guard sub-partitions only the hot label, keeps near-dups") {
    // 40 vectors under a hot label spread over 4 orthogonal clusters
    // (plus per-row jitter so they aren't exact ties), 5 under a cold
    // one; ids 900/901 are a planted same-direction near-dup pair
    def vec(c: Int, i: Int): Seq[Double] =
      Seq.tabulate(8)(k => (if (k == c) 1.0 else 0.0) + 0.001 * ((i + k) % 7))
    val rows = (0 until 40).map(i => (i.toLong, vec(i % 4, i), "hot")) ++
      (0 until 5).map(i => (500L + i, vec(3, i), "cold")) ++
      Seq((900L, vec(0, 1), "hot"), (901L, vec(0, 1).updated(7, 0.002), "hot"))
    val vecs = spark.createDataFrame(rows).toDF("vec_id", "embedding", "label")
    val keyed = Similarity.guardedBlockKeys(
      vecs, hotCap = 16, numCells = 8, "vec_id", "embedding", "label")
    val nb = keyed.groupBy(col("label"))
      .agg(countDistinct(col("_blk")).as("nb")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(nb("hot") > 1, s"hot label not sub-partitioned: $nb")
    assert(nb("cold") == 1, s"cold label split: $nb")
    // bounded: no sub-block of the hot label holds the whole label
    val maxBlk = keyed.where(col("label") === "hot")
      .groupBy(col("_blk")).count().agg(max(col("count"))).collect()(0).getLong(0)
    assert(maxBlk < 42, s"hot label still one block of $maxBlk")
    // the planted near-identical pair still lands in one sub-block
    val pairs = Similarity.cosineNearDupPairsGuarded(
        vecs, threshold = 0.999, hotCap = 16, numCells = 8)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((900L, 901L)), s"planted near-dup lost: $pairs")
  }

  test("int8 quantization: planted vector exact, error bounded by scale/2") {
    // [127, -63.5, 0.25]: scale = 1.0, snapped = [127, -64 (rounds
    // half away from zero), 0] → max error = 0.5 at the -63.5 element
    val planted = spark.createDataFrame(
      Seq((1L, Seq(127.0f, -63.5f, 0.25f), 0)))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.quantizeInt8Stats(planted).collect()(0)
    assert(r.getAs[Double]("avg_scale") == 1.0)
    assert(r.getAs[Double]("avg_maxerr") == 0.5)
    // real corpus: rounding error can never exceed half a quantization
    // step, and clamping never triggers (|q| <= 127 by construction)
    val emb = Tables.embeddings(spark, sf)
    val stats = Similarity.quantizeInt8Stats(emb)
    val bad = stats.where(col("avg_maxerr") > col("avg_scale") / 2.0 + 1e-9)
      .count()
    assert(bad == 0, "reconstruction error above scale/2 bound")
  }
}
