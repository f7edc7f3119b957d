package graft

import org.apache.spark.sql.functions._

/** Round-8 fixes: densifier carry past null-sum buckets, as-of join
  * payload atomicity, top-k aggregate guards. */
class Round8OperatorsSpec extends SparkSpec {

  test("densifier carry skips null-sum buckets, not whole days") {
    // day 1 observes 5.0 at 10:00 and then a NULL-valued event at
    // 12:00 (that bucket's sum is NULL). The cross-day carry must
    // still export day 1's 5.0 — a day whose LAST bucket sums to null
    // must contribute its earlier non-null observation, exactly like
    // a full-partition IGNORE NULLS scan would.
    import spark.implicits._
    val dir = "/tmp/graft_gapfill_nullsum"
    def ns(s: String) = java.sql.Timestamp.valueOf(s).getTime * 1000000L
    Seq(
      (1L, 10L, ns("2024-01-01 10:00:00"), "a", "{}", Some(5.0)),
      (2L, 10L, ns("2024-01-01 12:00:00"), "a", "{}", None),
      (3L, 10L, ns("2024-01-03 12:00:00"), "a", "{}", Some(35.0)))
      .toDF("event_id", "user_id", "ts", "event_type", "props", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val gf = graft.queries.Events.qEventsGapfill(spark, dir).cache()
    // every day-2 bucket is LOCF'd from day 1's 5.0 — with the null
    // bucket visible to the day summary the whole day would be
    // skipped and these would all be NULL
    val day2 = gf.where(col("bucket_start") >=
        java.sql.Timestamp.valueOf("2024-01-02 00:00:00") &&
      col("bucket_start") < java.sql.Timestamp.valueOf("2024-01-03 00:00:00"))
    assert(day2.count() == 288L, "day 2 grid incomplete")
    assert(day2.where(col("locf_value") === 5.0).count() == 288L,
      "cross-day carry lost day 1's non-null observation")
    // the null-sum bucket itself LOCFs from the earlier 5.0 too
    val atNull = gf.where(col("bucket_start") ===
      java.sql.Timestamp.valueOf("2024-01-01 12:00:00")).collect()(0)
    assert(atNull.getDouble(3) == 5.0, "null-sum bucket should LOCF 5.0")
    gf.unpersist()
    // interpolation bridges 5.0 -> 35.0 across the null bucket and
    // the empty day: strictly monotone, correct midpoint
    val ip = graft.queries.Events.qEventsInterpolate(spark, dir).cache()
    val lo = java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime
    val hi = java.sql.Timestamp.valueOf("2024-01-03 12:00:00").getTime
    val at = java.sql.Timestamp.valueOf("2024-01-02 11:00:00").getTime
    val want = 5.0 + (35.0 - 5.0) * ((at - lo).toDouble / (hi - lo).toDouble)
    val got = ip.where(col("bucket_start") ===
      java.sql.Timestamp.valueOf("2024-01-02 11:00:00")).collect()(0).getDouble(3)
    assert(math.abs(got - want) < 1e-6, s"bridge midpoint $got != $want")
    assert(ip.where(col("interp_value").isNull).count() == 0,
      "a bucket inside the observed span stayed null")
    ip.unpersist()
  }

  test("ann recall query: one row per method, recall in [0,1], full query set") {
    val rows = graft.queries.DedupSim.qAnnRecall(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(rows.keySet == Set("ivf", "lsh", "lsh_multi", "ivfpq", "bitsim"),
      s"methods: ${rows.keySet}")
    for ((m, (nq, rec)) <- rows) {
      assert(nq == 20L, s"$m judged on $nq queries, want the full 20")
      assert(rec >= 0.0 && rec <= 1.0, s"$m recall $rec out of range")
    }
    // IVF probes 4 of 16 cells (25% of the corpus); LSH scans a few
    // hundred bucket collisions — IVF must dominate on this corpus
    assert(rows("ivf")._2 > rows("lsh")._2,
      s"expected ivf > lsh, got $rows")
  }

  test("ivf-blocked near-dup finds planted twins without a label column") {
    import spark.implicits._
    import graft.similarity.Similarity
    def vec(seed: Long): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(8)(r.nextFloat() * 2 - 1)
    }
    val base = vec(999L)
    val twin = base.clone(); twin(0) += 0.01f
    val df = ((1L to 40L).map(i => (i, vec(i))) ++
      Seq((100L, base), (101L, twin))).toDF("vec_id", "embedding")
    val cells = Similarity.ivfAssign(
      df, Similarity.ivfCentroids(df, 4), "vec_id", "embedding")
    // twins are near-identical, so they route to the same cell and the
    // cell-blocked pair join must surface them — no label needed
    val pairs = Similarity.cosineNearDupPairs(
      cells, threshold = 0.99, idCol = "vec_id", vecCol = "embedding",
      blockCol = "cell_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((100L, 101L)), s"planted twin pair missing: $pairs")
    // and the twins really did land in one cell (the blocking premise)
    val cellOf = cells.collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(cellOf(100L) == cellOf(101L), "twins split across cells")
  }

  test("multimodal pipeline: sample->resize->extract transforms compose") {
    import graft.multimodal.Multimodal
    val media = Multimodal.mediaFromDocuments(Tables.documents(spark, sf))
    val piped = Multimodal.resizeAll(spark,
      Multimodal.frameSampleVideos(spark, media, stride = 4).toDF(),
      w = 32, h = 24).collect()
    assert(piped.forall(r => r.width == 32 && r.height == 24),
      "resize did not retag dimensions")
    val byMod = piped.groupBy(_.modality)
    assert(byMod("video").forall(_.codec == "raw;sampled/4;resized"),
      "video rows missed a pipeline stage")
    assert((byMod.keySet - "video").forall(m =>
      byMod(m).forall(_.codec == "raw;resized")),
      "non-video rows should skip sampling")
    // sampling keeps ceil(n/4) bytes — positions 0, 4, 8, …
    val origLen = media.collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]]("payload").length).toMap
    assert(byMod("video").forall(r =>
      r.payload.length == (origLen(r.media_id) + 3) / 4),
      "sampled payload length wrong")
    // the registered aggregate sees the TRANSFORMED payloads
    val agg = graft.queries.Media.qMultimodalPipeline(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    val meta = graft.queries.Media.qMultimodalMeta(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(agg("video") < meta("video"), "video bytes should shrink 4x")
    assert(agg("image") == meta("image") && agg("audio") == meta("audio"))
  }

  test("incremental dedup screens a batch against the corpus only") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog while " +
      "seventeen sleepy pelicans watch from a rusty pier near the old " +
      "harbor wall and gulls wheel overhead calling into the salt wind " +
      "as fishermen mend their nets beside weathered boats"
    val corpus = Seq((1L, base), (2L, "an entirely separate corpus " +
      "document about alpine meadows glaciers and the slow patience of " +
      "stone under centuries of snowfall high above the treeline"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, base.toUpperCase + "  "),              // exact dup (normalized)
      (11L, base.replace("pelicans", "herons")),   // near dup, not exact
      (12L, "fresh unrelated text with nothing in common with either " +
        "corpus document not even a single shared three gram anywhere " +
        "in this entire string of deliberately novel words"))
      .toDF("doc_id", "text")
    val out = graft.dedup.Dedup
      .incrementalDedup(batch, corpus, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(out(10L)._1, "case/whitespace variant not flagged exact")
    assert(!out(10L)._3, "exact dup kept")
    assert(!out(11L)._1 && out(11L)._2 >= 1L && !out(11L)._3,
      s"one-word edit should band-collide with the corpus: ${out(11L)}")
    assert(out(12L) == ((false, 0L, true)), s"fresh doc verdict ${out(12L)}")
    // corpus docs never appear in the verdicts (no corpus x corpus work)
    assert(out.keySet == Set(10L, 11L, 12L))
  }

  test("salted join equals the plain join rollup, salt spread over keys") {
    import org.apache.spark.sql.functions._
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_extendedprice"))
    val ord = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderpriority"))
    val plain = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast("decimal(18,2)"))
          .cast("double").as("sum_price"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val salted = graft.queries.Relational.qSkewJoin(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(salted == plain, "salting changed the join result")
    // the physical join key must carry the salt (that IS the operator)
    val p = graft.plans.PlanShape.of(graft.queries.Relational.qSkewJoin(spark, sf))
    assert(p.joins.exists(j => (j.leftKeys ++ j.rightKeys).contains("_salt")),
      s"salt not in the join keys:\n${p.json}")
  }

  test("pca projection: one score per vector, bounded by the vector norms") {
    val scores = graft.queries.DedupSim.qEmbedProject(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        sqrt(graft.similarity.Similarity.dot(col("embedding"), col("embedding")))
          .as("nrm"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scores.keySet == emb.keySet, "row set differs from the corpus")
    // |v . w| <= ||v|| for a unit direction w (loadings are 8 dp snaps
    // of a normalized vector — allow the rounding slack)
    val bad = scores.filter { case (id, sc) => math.abs(sc) > emb(id) + 1e-4 }
    assert(bad.isEmpty, s"projection exceeds Cauchy-Schwarz: ${bad.take(3)}")
    // the direction is informative: scores are not all identical
    assert(scores.values.toSet.size > 1)
  }

  test("minhash recall query: one row, consistent counts, recall in [0,1]") {
    val r = graft.queries.DedupSim.qMinhashRecall(spark, sf).collect()
    assert(r.length == 1)
    val (nt, nm, nh, rec) =
      (r(0).getLong(0), r(0).getLong(1), r(0).getLong(2), r(0).getDouble(3))
    assert(nh <= math.min(nt, nm), s"hits $nh exceed truth $nt / minhash $nm")
    assert(rec >= 0.0 && rec <= 1.0)
    assert(nt == 0 && rec == 0.0 || math.abs(rec - nh.toDouble / nt) < 1e-6)
  }

  test("per-group sample picks exactly the k hash-smallest docs per lang") {
    val k = 10
    val out = graft.queries.Text.qSamplePergroup(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val perLang = out.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // brute-force expectation from the same corpus
    val docs = Tables.documents(spark, sf)
      .select(col("lang"), col("doc_id"),
        graft.operators.Sampling.hashFraction(col("doc_id")).as("f"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val want = docs.groupBy(_._1).view.mapValues(
      _.sortBy(t => (t._3, t._2)).take(k).map(_._2).toSet).toMap
    assert(perLang == want, "picked set differs from the k hash-smallest")
    assert(out.length == want.values.map(_.size).sum)
  }

  test("fuzzy join's second blocking pass recovers a block-token typo") {
    // "misty salmon" vs "misty salmqn": the typo sits in the LAST
    // token — the primary (last-token) block separates them, so only
    // the first-token pass can pair them. A control pair with the typo
    // in the first token checks the primary pass still works, and the
    // union must not duplicate pairs caught by both passes.
    import spark.implicits._
    val rows = Seq(
      "misty salmon", "misty salmqn", // recoverable only via first token
      "dark linen", "dqrk linen",     // recoverable only via last token
      "pale rose", "pale rosy",       // caught by BOTH passes — no dupes
      "unrelated thing").toDF("p_name")
    import graft.operators.FuzzyJoin._
    val both = fuzzyNamePairs(rows, "p_name", lastTokenBlock, maxDist = 2,
      blockOf2 = Some(firstTokenBlock))
      .select("name_a", "name_b").collect().map(r => (r.getString(0), r.getString(1)))
    assert(both.length == both.distinct.length, s"duplicate pairs: ${both.toSeq}")
    assert(both.toSet == Set(
      ("misty salmon", "misty salmqn"),
      ("dark linen", "dqrk linen"),
      ("pale rose", "pale rosy")), s"got ${both.toSet}")
    // single-pass baseline really does lose the cross-block pair
    val one = fuzzyNamePairs(rows, "p_name", lastTokenBlock, maxDist = 2)
      .select("name_a", "name_b").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(!one.contains(("misty salmon", "misty salmqn")),
      "planted pair no longer cross-block — fix the fixture")
  }

  test("percentile queries route exact below the byte threshold, sketch above") {
    import graft.operators.ScaleRouting
    // test SFs are far below the threshold — the registered queries
    // must take the value-exact branch (what the oracle gate hashes)
    assert(ScaleRouting.exactPercentileOk(spark, s"$sf/lineitem.parquet"))
    import org.apache.spark.sql.catalyst.expressions.aggregate.{ApproximatePercentile, Percentile}
    // the percentile aggregates of the optimized plan, by kind
    def percentiles(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
        case _: Percentile => "percentile"
        case _: ApproximatePercentile => "approx_percentile"
      })).toSet
    val exactPlan = percentiles(graft.queries.Agg.qAggMedianMode(spark, sf))
    assert(exactPlan == Set("percentile"),
      s"registered median not on the exact branch: $exactPlan")
    // the scale branch is a REAL plan: forced approx swaps the
    // bounded-memory sketch into both queries
    val approxPlan = percentiles(graft.queries.Agg.aggMedianMode(spark, sf, exact = false))
    assert(approxPlan.contains("approx_percentile"),
      s"approx branch missing the sketch: $approxPlan")
    assert(percentiles(graft.queries.Text.textQuantiles(spark, sf, exact = false))
      .contains("approx_percentile"))
    // sketch accuracy is a RANK bound (the sketch returns observed
    // values, not interpolations — value distance is meaningless in a
    // sparse tail): each approx quantile must land between the exact
    // quantiles at p ± 0.05, far looser than the n/10^4 rank error
    val ps = Seq(0.25, 0.5, 0.75, 0.95)
    val bounds = Tables.documents(spark, sf).groupBy(col("lang"))
      .agg(expr(s"percentile(n_chars, array(${ps.flatMap(p =>
        Seq(math.max(0, p - 0.05), math.min(1, p + 0.05))).mkString(",")}))")
        .as("b"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    val ap = graft.queries.Text.textQuantiles(spark, sf, exact = false)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(ap.keySet == bounds.keySet)
    for ((lang, a) <- ap; (p, k) <- ps.zipWithIndex) {
      val (lo, hi, av) = (bounds(lang)(2 * k), bounds(lang)(2 * k + 1),
        a.getDouble(k + 2))
      assert(av >= lo - 1e-9 && av <= hi + 1e-9,
        s"$lang p$p: approx $av outside exact rank band [$lo, $hi]")
    }
  }

  test("one-pass covariance aggregator equals the relational twin exactly") {
    // the d²-buffer path must be VALUE-identical (not approximately)
    // to the explode+self-join form: both sum the same quantized
    // BIGINT moments exactly and close with the same double sequence
    def cells(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val fast = cells(graft.queries.DedupSim.qEmbedCovariance(spark, sf))
    val rel = cells(graft.queries.DedupSim.covarianceRelational(spark, sf))
    assert(fast.size == 64 * 65 / 2 && fast.keySet == rel.keySet)
    val diff = fast.collect {
      case (k, v) if v != rel(k) => (k, v, rel(k))
    }
    assert(diff.isEmpty, s"cells diverge: ${diff.take(5)}")
  }

  test("covariance 128-bit accumulation survives values a long sum cannot") {
    // feed components of magnitude 2^25 for 2^14 rows: each product is
    // 2^50, the pair sum reaches 2^64 — past Long range. The 128-bit
    // (hi, lo) pairs must carry it exactly.
    val agg = new graft.operators.CovarianceAggregator(2)
    val rows = 16384
    val v = 1L << 25
    val buf = (1 to rows).foldLeft(agg.zero)((b, _) => agg.reduce(b, Seq(v, -v)))
    // split-merge must agree with the straight fold
    val half1 = (1 to rows / 2).foldLeft(agg.zero)((b, _) => agg.reduce(b, Seq(v, -v)))
    val half2 = (1 to rows / 2).foldLeft(agg.zero)((b, _) => agg.reduce(b, Seq(v, -v)))
    val merged = agg.merge(half1, half2)
    assert(buf.toSeq == merged.toSeq, "merge disagrees with sequential fold")
    val out = agg.finish(buf).map(c => (c.i, c.j) -> c).toMap
    val exp = java.math.BigInteger.valueOf(v).pow(2)
      .multiply(java.math.BigInteger.valueOf(rows))
    assert(out((1, 1)).sij == exp.toString, s"got ${out((1, 1)).sij}")
    assert(out((1, 2)).sij == exp.negate.toString, "negative sum wrong")
    assert(out((2, 2)).sij == exp.toString)
    assert(out((1, 1)).si == java.math.BigInteger.valueOf(v)
      .multiply(java.math.BigInteger.valueOf(rows)).toString)
    assert(out((1, 2)).sj == java.math.BigInteger.valueOf(-v)
      .multiply(java.math.BigInteger.valueOf(rows)).toString)
  }

  test("as-of payload columns come atomically from the matched row") {
    // the matched right row (k=1, t=10) has a NULL in one payload
    // column; a per-column ignoreNulls fill would steal that column
    // from the earlier (t=5) row — the join must return the matched
    // row's NULL alongside its non-null sibling
    import spark.implicits._
    val left = Seq((1L, 12L)).toDF("k", "t")
    val right = Seq(
      (1L, 5L, Option("old_a"), Option("old_b")),
      (1L, 10L, None: Option[String], Option("new_b")))
      .toDF("k", "t", "a", "b")
    val back = graft.operators.AsofJoin.asof(left, right, "k", "t",
      Seq("a", "b")).collect()(0)
    assert(back.isNullAt(2) && back.getString(3) == "new_b",
      s"backward fill mixed rows: $back")
    val fleft = Seq((1L, 2L)).toDF("k", "t")
    val fright = Seq(
      (1L, 4L, None: Option[String], Option("near_b")),
      (1L, 9L, Option("far_a"), Option("far_b")))
      .toDF("k", "t", "a", "b")
    val fwd = graft.operators.AsofJoin.asofForward(fleft, fright, "k", "t",
      Seq("a", "b")).collect()(0)
    assert(fwd.isNullAt(2) && fwd.getString(3) == "near_b",
      s"forward fill mixed rows: $fwd")
  }
}
