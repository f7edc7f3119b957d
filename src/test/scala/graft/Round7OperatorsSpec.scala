package graft

import org.apache.spark.sql.functions._

/** Round-7 operators: the five aggregate queries that joined the oracle
  * gate (median/mode, corr/regr, list-agg, histogram, unpivot), the
  * fuzzy-join length-band blocking, and the registered-but-unoracled
  * guard. */
class Round7OperatorsSpec extends SparkSpec {

  test("every registered query has an oracle (no silent gate gaps)") {
    val unoracled = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(unoracled.isEmpty,
      s"defs keys invisible to the correctness gate: ${unoracled.toList.sorted}")
  }

  test("median/mode: one row per group, median in range, deterministic mode") {
    val out = graft.queries.Agg.qAggMedianMode(spark, sf).collect()
    val flags = Tables.lineitem(spark, sf)
      .select("l_returnflag").distinct().count()
    assert(out.length == flags)
    out.foreach { r =>
      val (lo, hi) = Tables.lineitem(spark, sf)
        .where(col("l_returnflag") === r.getString(0))
        .agg(min("l_quantity"), max("l_quantity"))
        .collect()(0) match { case x => (x.getDouble(0), x.getDouble(1)) }
      assert(r.getDouble(2) >= lo && r.getDouble(2) <= hi, "median out of range")
      assert(r.getLong(5) >= 1L, "mode count must be positive")
    }
    // determinism: two runs agree bit-for-bit (ties broken by min value)
    val again = graft.queries.Agg.qAggMedianMode(spark, sf).collect()
    assert(out.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("corr/regr: |corr| <= 1 and r2 == corr^2 at the rounding grid") {
    graft.queries.Agg.qAggCorrRegr(spark, sf).collect().foreach { r =>
      val corr = r.getDouble(2)
      assert(math.abs(corr) <= 1.0)
      assert(math.abs(r.getDouble(5) - corr * corr) < 2e-6,
        "r2 must be the square of corr up to the 6dp rounding")
    }
  }

  test("list agg produces a sorted, reproducible csv") {
    graft.queries.Agg.qAggList(spark, sf).collect().foreach { r =>
      val names = r.getString(2).split(",").toSeq
      assert(names == names.sorted, "names_csv not in total order")
      assert(names.size == r.getLong(1), "csv length != group count")
    }
  }

  test("histogram covers every row with buckets in [0, 19] and none null") {
    val out = graft.queries.Agg.qHistogram(spark, sf).cache()
    assert(out.where(col("bucket").isNull).count() == 0)
    assert(out.where(col("bucket") < 0 || col("bucket") > 19).count() == 0)
    val total = out.agg(sum("n")).collect()(0).getLong(0)
    assert(total == Tables.lineitem(spark, sf).count())
    out.unpersist()
  }

  test("unpivot melts each part row into exactly its measure rows") {
    val out = graft.queries.Agg.qUnpivot(spark, sf).cache()
    assert(out.count() == 2 * Tables.part(spark, sf).count())
    val measures = out.select("measure").distinct()
      .collect().map(_.getString(0)).toSet
    assert(measures == Set("p_size", "p_retailprice"))
    out.unpersist()
  }

  test("interpolate: observed pass-through, gaps between neighbors, null edges") {
    val out = graft.queries.Events.qEventsInterpolate(spark, sf).cache()
    val dense = graft.queries.Events.qEventsGapfill(spark, sf)
      .select("event_type", "bucket_start").distinct().count()
    assert(out.count() == dense, "interpolate grid differs from gapfill grid")
    // a gap bucket's value lies within [min, max] of its segment ends:
    // check against a window-reconstructed neighbor pair
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type")).orderBy(col("bucket_start"))
    val wp = w.rowsBetween(Window.unboundedPreceding, -1)
    val wn = w.rowsBetween(1, Window.unboundedFollowing)
    val obsVal = when(col("n_events") > 0, col("interp_value"))
    val checked = out
      .withColumn("pv", last(obsVal, ignoreNulls = true).over(wp))
      .withColumn("nv", first(obsVal, ignoreNulls = true).over(wn))
      .where(col("n_events") === 0)
    val inside = checked.where(col("pv").isNotNull && col("nv").isNotNull)
    assert(inside.where(
      col("interp_value") < least(col("pv"), col("nv")) - 1e-9 ||
        col("interp_value") > greatest(col("pv"), col("nv")) + 1e-9)
      .count() == 0, "interpolated value escapes its segment")
    // outside any observed segment the value must be NULL
    assert(checked.where(
      (col("pv").isNull || col("nv").isNull) && col("interp_value").isNotNull)
      .count() == 0, "value invented outside the observed span")
    // exact midpoint check on a constructed two-point segment is covered
    // by the DuckDB oracle (bit-identical IEEE interpolation)
    out.unpersist()
  }

  test("embedding covariance: full triangle, PSD-consistent entries") {
    val out = graft.queries.DedupSim.qEmbedCovariance(spark, sf).cache()
    val d = 64
    assert(out.count() == d.toLong * (d + 1) / 2, "not the full upper triangle")
    val vars = out.where(col("i") === col("j"))
      .collect().map(r => r.getInt(0) -> r.getDouble(2)).toMap
    assert(vars.size == d && vars.values.forall(_ >= 0.0),
      "a diagonal variance is negative")
    // Cauchy-Schwarz: |cov(i,j)| <= sqrt(var_i * var_j) (+ rounding slack)
    val bad = out.where(col("i") =!= col("j")).collect().filter { r =>
      val (i, j, c) = (r.getInt(0), r.getInt(1), r.getDouble(2))
      math.abs(c) > math.sqrt(vars(i) * vars(j)) + 1e-9
    }
    assert(bad.isEmpty, s"covariance escapes the variance bound: ${bad.toSeq}")
    out.unpersist()
  }

  test("densifiers carry across whole EMPTY days (banding boundary case)") {
    // synthetic corpus: one observation on day 1, silence for two full
    // days, one observation on day 4 — the within-day windows see only
    // nulls on days 2-3, so LOCF must come entirely from the cross-day
    // carry table and interpolation must bridge a 3-day segment
    import spark.implicits._
    val dir = "/tmp/graft_gapfill_boundary"
    // ts as LONG nanoseconds — the on-disk shape Tables.events expects
    // (the driver parquet stores timestamp[ns], read via nanosAsLong)
    def ns(s: String) = java.sql.Timestamp.valueOf(s).getTime * 1000000L
    Seq(
      (1L, 10L, ns("2024-01-01 12:00:00"), "a", "{}", 10.0),
      (2L, 10L, ns("2024-01-04 12:00:00"), "a", "{}", 40.0))
      .toDF("event_id", "user_id", "ts", "event_type", "props", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val gf = graft.queries.Events.qEventsGapfill(spark, dir).cache()
    val n = gf.count()
    assert(n == (3L * 24 * 12 + 1), s"grid should span 3 full days + 1 bucket, got $n")
    // every bucket after the first observation carries 10.0 until the
    // second observation lands 40.0 — no nulls anywhere in between
    assert(gf.where(col("locf_value").isNull).count() == 0)
    assert(gf.where(col("locf_value") === 10.0).count() == n - 1)
    val ip = graft.queries.Events.qEventsInterpolate(spark, dir).cache()
    assert(ip.where(col("interp_value").isNull).count() == 0)
    // strictly increasing across the whole 3-day bridge
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("bucket_start"))
    val nonMono = ip.withColumn("prev", lag(col("interp_value"), 1).over(w))
      .where(col("prev").isNotNull && col("interp_value") <= col("prev"))
    assert(nonMono.count() == 0, "interpolated bridge is not monotone")
    // exact midpoint of the segment
    val mid = ip.where(col("bucket_start") ===
      java.sql.Timestamp.valueOf("2024-01-03 00:00:00")).collect()(0).getDouble(3)
    val lo = java.sql.Timestamp.valueOf("2024-01-01 12:00:00").getTime
    val hi = java.sql.Timestamp.valueOf("2024-01-04 12:00:00").getTime
    val at = java.sql.Timestamp.valueOf("2024-01-03 00:00:00").getTime
    val want = 10.0 + (40.0 - 10.0) * ((at - lo).toDouble / (hi - lo).toDouble)
    assert(math.abs(mid - want) < 1e-6, s"midpoint $mid != $want")
    gf.unpersist(); ip.unpersist()
  }

  test("PCA power iteration yields a unit direction with positive spectrum") {
    val out = graft.queries.DedupSim.qEmbedPca(spark, sf).cache()
    val rows = out.collect()
    assert(rows.length == 64)
    val norm2 = rows.map(r => r.getDouble(1) * r.getDouble(1)).sum
    assert(math.abs(norm2 - 1.0) < 1e-6, s"loadings not unit norm: $norm2")
    val ev = rows.map(_.getDouble(2)).distinct
    assert(ev.length == 1 && ev(0) > 0.0, "eigenvalue must be a positive scalar")
    // deterministic across runs (quantized arithmetic)
    val again = graft.queries.DedupSim.qEmbedPca(spark, sf).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
    out.unpersist()
  }

  test("BPE-ish token count refines the whitespace count, never below it") {
    val out = graft.queries.Text.qTextTokens(spark, sf).cache()
    assert(out.count() == Tables.documents(spark, sf).count())
    // every whitespace token yields >= 1 regex tokens
    assert(out.where(col("n_bpe_tokens") < col("n_ws_tokens")).count() == 0)
    assert(out.where(col("chars_per_bpe_token") <= 0.0).count() == 0)
    // known splits: punctuation/digit runs become their own tokens
    import spark.implicits._
    val probe = Seq((1L, "slow-fast table 42 value!!")).toDF("doc_id", "text")
      .select(size(regexp_extract_all(col("text"),
        lit(" ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+"), lit(0))).as("n"))
      .collect()(0).getInt(0)
    assert(probe == 7, s"expected 7 BPE-ish tokens, got $probe")
    out.unpersist()
  }

  test("heap top-k equals window top-k and is partitioning-invariant") {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, sf).where(col("value").isNotNull)
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value").desc, col("event_id").asc)
    val windowed = ev
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= 5)
      .select(col("event_type"), col("rk").cast("int").as("rk"),
        col("value"), col("event_id"))
      .collect().map(_.toString).sorted.toSeq
    val heap = graft.queries.Events.qTopkHeap(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    assert(heap == windowed, "heap top-k diverges from window top-k")
    // merge across many partitions must not change the result
    val topk = graft.operators.TopK.topk(5)
    val repart = ev.repartition(13)
      .groupBy(col("event_type"))
      .agg(topk(col("value"), col("event_id")).as("top"))
      .select(col("event_type"), posexplode(col("top")).as(Seq("i", "s")))
      .select(col("event_type"), (col("i") + 1).cast("int").as("rk"),
        col("s.value").as("value"), col("s.id").as("event_id"))
      .collect().map(_.toString).sorted.toSeq
    assert(repart == windowed, "partitioning changed the heap result")
  }

  test("weighted sample keeps longer docs proportionally and is deterministic") {
    val out = graft.queries.Text.qSampleWeighted(spark, sf).cache()
    val docs = Tables.documents(spark, sf)
    assert(out.count() > 0 && out.count() < docs.count())
    // the max-length doc has weight 1.0 and must always survive
    val mx = docs.agg(max("n_chars")).collect()(0).getLong(0)
    assert(out.where(col("n_chars") === mx).count() ==
      docs.where(col("n_chars") === mx).count())
    // deterministic: two runs produce the identical kept set
    val again = graft.queries.Text.qSampleWeighted(spark, sf)
    assert(out.select("doc_id").except(again.select("doc_id")).count() == 0)
    assert(again.select("doc_id").except(out.select("doc_id")).count() == 0)
    // no shuffle in the membership filter (scan -> filter -> sort only)
    val p = graft.plans.PlanShape.of(out)
    assert(!p.exchanges.exists(_.kind == "hash"),
      s"weighted sampling must not shuffle:\n${p.json}")
    out.unpersist()
  }

  test("forward as-of attaches the earliest following row, ties inclusive") {
    import spark.implicits._
    val left = Seq((1L, 10L), (1L, 25L), (1L, 40L), (2L, 10L))
      .toDF("k", "t")
    val right = Seq((1L, 10L, "a"), (1L, 30L, "b"), (3L, 5L, "z"))
      .toDF("k", "t", "p")
    val out = graft.operators.AsofJoin.asofPrefixedForward(
      left, right, "k", "t", Seq("p"))
      .select("k", "t", "asof_t", "asof_p")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]), r.getString(3)))
      .toSet
    assert(out == Set(
      (1L, 10L, Some(10L), "a"), // tie: right at the SAME time matches
      (1L, 25L, Some(30L), "b"), // earliest following, not latest prior
      (1L, 40L, None, null), // nothing follows
      (2L, 10L, None, null)), // key has no right rows
      s"got $out")
  }

  test("fuzzy join with a skewed hot block matches brute force exactly") {
    import spark.implicits._
    // one very common block token ("bolt") with many lengths: the
    // length-band compound key must subdivide it without losing pairs
    val base = (1 to 40).map(i => ("x" * (i % 13 + 1)) + "a bolt") ++
      Seq("red bolt", "rad bolt", "reed bolt", "red colt",
        "blue widget", "blu widget", "bluee widget")
    val rows = base.toDF("name")
    val got = graft.operators.FuzzyJoin.fuzzyNamePairs(
      rows, "name", graft.operators.FuzzyJoin.lastTokenBlock, maxDist = 2)
      .select("name_a", "name_b", "dist")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
      .toSet
    // brute force ground truth WITHIN blocks (blocking recall contract)
    def blk(s: String) = s.split(" ").last
    val vocab = base.distinct
    val want = (for {
      a <- vocab; b <- vocab
      if a < b && blk(a) == blk(b)
      d = levenshteinDist(a, b) if d <= 2
    } yield (a, b, d)).toSet
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
    // no duplicate pairs from the 3-band probe explode
    val all = graft.operators.FuzzyJoin.fuzzyNamePairs(
      rows, "name", graft.operators.FuzzyJoin.lastTokenBlock, maxDist = 2)
      .select("name_a", "name_b").collect().map(r => (r.getString(0), r.getString(1)))
    assert(all.length == all.distinct.length, "pair emitted in >1 band")
  }

  private def levenshteinDist(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }
}
