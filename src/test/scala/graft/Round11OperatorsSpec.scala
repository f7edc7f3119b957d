package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Round-11 additions and regressions. The hot-chunk CDC fixture pins
  * the round's scale fix: the keep-first verdict per chunk content
  * hash is a min-struct aggregate + join-back, so 10³ instances of one
  * chunk content never serialize into a single sort task — and the
  * verdict stays byte-identical to the rank-window it replaced. */
class Round11OperatorsSpec extends SparkSpec {

  private def docsDir(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_r11_docs").toString
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("cdc: 10^3 copies of one hot chunk — winner aggregate keeps exactly the first") {
    // The boilerplate-chunk scenario the aggregate rewrite exists for:
    // 1000 documents all containing the same 96-token region, so every
    // interior chunk's content hash has ~10^3 instances. The lowest
    // (doc_id, chunk) instance of each chunk content is the winner;
    // doc 0 therefore reports ZERO duplication and every other doc
    // reports the identical dup profile (same chunks, same boundaries,
    // same winner losses).
    val s = (1 to 96).map(i => s"s$i").mkString(" ")
    val d = docsDir((0L until 1000L).map(i => (i, s)))
    val r = graft.queries.DedupSim.qDedupCdc(spark, d).collect()
      .map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4)))).toMap
    assert(r.size == 1000, s"one row per doc: ${r.size}")
    assert(r(0L)._3 == 0L && r(0L)._4 == 0L,
      s"doc 0 owns every chunk: ${r(0L)}")
    val dupProfile = r(1L)
    assert(dupProfile._4 > 0L, s"copies must dedup against doc 0: $dupProfile")
    assert((1L until 1000L).forall(i => r(i) == dupProfile),
      "identical docs must report identical dup profiles")
  }

  test("incremental components equal the full rebuild at every cutoff of a planted timeline") {
    import spark.implicits._
    // edge timeline engineered to exercise every maintenance case as
    // the cutoff advances: growth of an existing cluster (1-2, 2-3),
    // a separate cluster (10-11), a BRIDGE merging two existing
    // clusters (3-10), brand-new vertices forming their own cluster
    // (20-21), and a late edge attaching a new vertex to a merged
    // cluster (11-30)
    val timeline = Seq(
      (1L, 2L), (10L, 11L), (2L, 3L), (20L, 21L), (3L, 10L), (11L, 30L))
    def cc(edges: Seq[(Long, Long)]) =
      graft.dedup.Cluster.connectedComponents(
        edges.toDF("id_a", "id_b"), "id_a", "id_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = cc(timeline)
    for (cut <- 0 to timeline.size) {
      val existing = graft.dedup.Cluster.connectedComponents(
        timeline.take(cut).toDF("id_a", "id_b"), "id_a", "id_b")
      val inc = graft.dedup.Cluster.incrementalComponents(
        existing, timeline.drop(cut).toDF("id_a", "id_b"), "id_a", "id_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(inc == full, s"cutoff $cut: $inc != $full")
    }
    // the merged component's label is the global minimum across both
    // pre-merge clusters — the rep-collapse must not lose the min
    assert(full(30L) == 1L && full(11L) == 1L && full(20L) == 20L, s"$full")
  }

  test("bpe train: hand-computed merges, within-word chaining, and pair exhaustion") {
    // corpus: "abab" x3, "aaa" x2. Hand-derived rounds:
    //  r1: (a,b) n=6 beats (b,a) 3 and (a,a) 4 → abab = [ab, ab]
    //  r2: (a,a) n=4 beats (ab,ab) 3 → aaa = [aa, a]  ← non-overlap:
    //     [a,a,a] has TWO (a,a) pairs but merges to [aa, a], not [aa, aa]
    //  r3: (ab,ab) n=3 → [abab]   ← both word occurrences merged in one
    //     pass ([a,b,a,b] → [ab, ab] at r1 is the same chaining property)
    //  r4: (aa,a) n=2 → [aaa]
    //  r5, r6: no pairs anywhere → NO rows (the exhaustion path)
    val d = docsDir(Seq((0L, "abab abab abab aaa aaa")))
    val r = graft.queries.Text.qBpeTrain(spark, d).collect()
      .map(x => (x.getInt(0), x.getString(1), x.getString(2), x.getLong(3)))
      .toSeq
    assert(r == Seq((1, "a", "b", 6L), (2, "a", "a", 4L),
      (3, "ab", "ab", 3L), (4, "aa", "a", 2L)), s"got $r")
  }

  test("bpe tokenize: the learned merges collapse the training words to single tokens") {
    // the qBpeTrain fixture: after its 4 learned merges both "abab"
    // and "aaa" tokenize to ONE symbol, so the doc's 5 words / 18
    // chars compress to 5 tokens at 3.6 chars each
    val d = docsDir(Seq((0L, "abab abab abab aaa aaa")))
    val r = graft.queries.Text.qBpeTokenize(spark, d).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getDouble(4))).toSeq
    assert(r == Seq((0L, 18L, 5L, 5L, 3.6)), s"got $r")
  }

  test("per-row CDC chunker is chunk-identical to the relational builder") {
    import spark.implicits._
    // shifted copies exercise boundary re-sync; the short doc ("one
    // two") and a single token exercise the no-cut degenerate spans
    val s = (1 to 60).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (0L, s), (1L, s"pa pb pc $s"), (2L, "one two"), (3L, "solo"))
      .toDF("doc_id", "text")
    val fromExpr = docs.select(col("doc_id"),
      explode(graft.dedup.Dedup.cdcChunksExpr(col("text"))).as("cb"))
      .select(col("doc_id"), col("cb.chunk").cast("long").as("chunk"),
        col("cb.c_toks").cast("long").as("c_toks"), col("cb.c_hash"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val fromRel = graft.dedup.Dedup.cdcChunks(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(fromExpr == fromRel,
      s"expr-only ${fromExpr -- fromRel}; rel-only ${fromRel -- fromExpr}")
  }

  test("semantic dedup: planted near-identical pair collapses, distinct vectors survive") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_r11_emb").toString
    // vecs 0 and 1: same direction, tiny perturbation (cos ≈ 1);
    // every other vector points at a distinct axis pair (cos ≤ 0.5
    // between any two) — only the planted pair clears SemThreshold
    val d64 = 8
    def axis(i: Int, j: Int): Array[Float] = {
      val a = Array.fill(d64)(0f); a(i) = 1f; a(j) = 0.1f; a
    }
    val rows = Seq(
      (0L, "a", axis(0, 1)),
      (1L, "a", axis(0, 1).map(x => x * 1.001f)),
      (2L, "b", axis(2, 3)),
      (3L, "b", axis(4, 5)),
      (4L, "c", axis(6, 7)))
    rows.toDF("vec_id", "label", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val r = graft.queries.DedupSim.qDedupSemantic(spark, dir).collect()
      .map(x => x.getLong(0) -> ((x.getLong(2), x.getBoolean(3)))).toMap
    assert(r(0L) == ((1L, true)), s"keeper: $r")
    assert(r(1L) == ((1L, false)), s"dup dropped: $r")
    assert(Seq(2L, 3L, 4L).forall(i => r(i) == ((0L, true))),
      s"distinct vectors untouched: $r")
  }

  test("probe sweep: recall grows monotonically with depth and agrees with q_ann_ivf at 4") {
    val sweep = graft.queries.DedupSim.qAnnProbeSweep(spark, sf).collect()
      .map(x => x.getInt(0) -> x.getDouble(2)).toMap
    assert(sweep.keySet == Set(1, 2, 4, 8), s"depth ladder: $sweep")
    // more probes can only add candidates, so recall is non-decreasing
    assert(sweep(1) <= sweep(2) && sweep(2) <= sweep(4)
      && sweep(4) <= sweep(8), s"monotonicity: $sweep")
    // depth 4 is exactly q_ann_ivf's geometry, so the sweep's 4-probe
    // point must equal the recall report's ivf row
    val recall = graft.queries.DedupSim.qAnnRecall(spark, sf).collect()
      .map(x => x.getString(0) -> x.getDouble(2)).toMap
    assert(sweep(4) == recall("ivf"), s"${sweep(4)} vs ${recall("ivf")}")
  }

  test("pq probe sweep: agrees with q_ann_recall's ivfpq at 4, never beats exact ivf") {
    val pq = graft.queries.DedupSim.qAnnPqProbeSweep(spark, sf).collect()
      .map(x => x.getInt(0) -> x.getDouble(2)).toMap
    assert(pq.keySet == Set(1, 2, 4, 8), s"depth ladder: $pq")
    // NO monotonicity assert, deliberately: unlike the exact sweep,
    // PQ recall can DIP as probes deepen — new candidates compete for
    // the fixed 20-slot ADC shortlist and mis-ranked distances can
    // evict true neighbors a shallower probe set kept (measured
    // 0.22 → 0.20 from depth 2 to 4 at sf0.001). Exposing that is
    // what the tuning curve is for.
    val recall = graft.queries.DedupSim.qAnnRecall(spark, sf).collect()
      .map(x => x.getString(0) -> x.getDouble(2)).toMap
    // depth 4 is exactly q_ann_ivfpq's geometry
    assert(pq(4) == recall("ivfpq"), s"${pq(4)} vs ${recall("ivfpq")}")
    // the compressed index can never beat the exact scan on the same
    // probe set: each depth's PQ recall ≤ the exact IVF sweep's
    val ivf = graft.queries.DedupSim.qAnnProbeSweep(spark, sf).collect()
      .map(x => x.getInt(0) -> x.getDouble(2)).toMap
    assert(Seq(1, 2, 4, 8).forall(p => pq(p) <= ivf(p)),
      s"pq $pq must not exceed exact ivf $ivf")
  }

  test("band sweep: the (16,4) row reproduces the production minhash path exactly") {
    val sweep = graft.queries.DedupSim.qMinhashBandSweep(spark, sf).collect()
      .map(x => x.getInt(0) ->
        ((x.getInt(1), x.getLong(2), x.getLong(3), x.getLong(4), x.getLong(5))))
      .toMap
    assert(sweep.keySet == Set(2, 4, 8), s"geometry ladder: $sweep")
    assert(sweep(2)._1 == 32 && sweep(4)._1 == 16 && sweep(8)._1 == 8,
      s"n_bands must be 64/rows_per_band: $sweep")
    // verified pairs can never exceed candidates; hits never exceed
    // verified or truth
    assert(sweep.values.forall(v => v._3 <= v._2 && v._5 <= v._3
      && v._5 <= v._4), s"count sanity: $sweep")
    // rows_per_band = 4 IS the production geometry (Dedup.BandRows):
    // its verified count must equal q_dedup_minhash's pair count, and
    // its truth/hit numbers must equal q_minhash_recall's
    val mh = graft.queries.DedupSim.qDedupMinhash(spark, sf).count()
    val rec = graft.queries.DedupSim.qMinhashRecall(spark, sf).collect()(0)
    assert(sweep(4)._3 == mh, s"verified ${sweep(4)._3} vs minhash $mh")
    assert(sweep(4)._4 == rec.getLong(0) && sweep(4)._5 == rec.getLong(2),
      s"truth/hit ${sweep(4)} vs recall $rec")
  }

  test("vacuum sweep: longer retention keeps more; counts tie to q_scd2_history") {
    val sw = graft.queries.Maintain.qVacuumSweep(spark, sf).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    assert(sw.keySet == Set(1L, 6L, 24L, 72L), s"ladder: $sw")
    // one closed-version universe across all windows
    assert(sw.values.map(_._1).toSet.size == 1, s"n_closed must agree: $sw")
    val closed = graft.queries.Maintain.qScd2History(spark, sf)
      .where(col("valid_to_us").isNotNull).count()
    assert(sw(1L)._1 == closed, s"${sw(1L)._1} vs scd2 closed $closed")
    // a longer retention window can only keep MORE versions
    assert(sw(1L)._2 >= sw(6L)._2 && sw(6L)._2 >= sw(24L)._2
      && sw(24L)._2 >= sw(72L)._2, s"monotone retention: $sw")
    assert(sw.values.forall(v => v._2 <= v._1), s"vacuumable ≤ closed: $sw")
  }

  test("attribution: range window agrees with a brute-force click join") {
    val at = graft.queries.Events.qEventsAttribution(spark, sf)
    // brute force: purchases × clicks on user with the 72 h residual,
    // aggregated per purchase — must match the window form exactly
    val ev = Tables.events(spark, sf)
      .withColumn("ts_us", unix_micros(col("ts")))
    val p = ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val c = ev.where(col("event_type") === "click")
      .select(col("user_id").as("c_uid"), col("ts_us").as("c_ts"))
    val win = graft.queries.Events.AttrWindowUs
    val brute = p.join(c, col("user_id") === col("c_uid") &&
        col("c_ts") <= col("ts_us") &&
        col("c_ts") >= col("ts_us") - lit(win), "left")
      .groupBy(col("event_id"))
      .agg(min(col("c_ts")).as("first_click_us"),
        max(col("c_ts")).as("last_click_us"),
        count(col("c_ts")).as("n_clicks_win"))
    val joined = at.alias("a").join(brute.alias("b"), "event_id")
    assert(joined.count() == at.count())
    val mismatch = joined.where(
      !(col("a.first_click_us") <=> col("b.first_click_us")) ||
      !(col("a.last_click_us") <=> col("b.last_click_us")) ||
      col("a.n_clicks_win") =!= col("b.n_clicks_win")).count()
    assert(mismatch == 0, s"$mismatch purchases disagree with brute force")
  }

  test("attribution credit: every converting purchase pays out exactly 1e6 ppm") {
    val credit = graft.queries.Events.qEventsAttributionCredit(spark, sf)
    val paid = credit.agg(sum(col("credit_ppm"))).collect()(0).getLong(0)
    val converting = graft.queries.Events.qEventsAttribution(spark, sf)
      .where(col("n_clicks_win") > 0).count()
    assert(paid == 1000000L * converting,
      s"total credit $paid vs ${1000000L * converting}")
    // conversions concentrate credit: a click's credit never exceeds
    // 1e6 × its conversion count, and zero-conversion clicks pay zero
    val bad = credit.where(col("credit_ppm") > col("n_conversions") * 1000000L ||
      (col("n_conversions") === 0L && col("credit_ppm") =!= 0L)).count()
    assert(bad == 0, s"$bad clicks violate the credit bound")
  }

  test("compaction plan: conserves rows and collapses small months to one file") {
    val plan = graft.queries.Maintain.qCompactionPlan(spark, sf).collect()
      .map(x => x.getString(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4)))).toMap
    val truth = Tables.lineitem(spark, sf)
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("m"))
      .agg(count(lit(1)).as("n")).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(plan.keySet == truth.keySet)
    val target = graft.queries.Maintain.CompactTargetRows
    plan.foreach { case (m, (nFiles, nOut, nRows, maxOut)) =>
      assert(nRows == truth(m), s"$m: rows $nRows vs ${truth(m)}")
      assert(nOut <= nFiles, s"$m: plan must never add files")
      assert(maxOut <= nRows)
      if (nRows <= target)
        assert(nOut == 1L, s"$m: $nRows rows (≤ $target) must pack to 1 file")
    }
  }

  test("zonemap: date layout skips exactly the pre-cutoff rows; insertion skips ~nothing") {
    val zm = graft.queries.Maintain.qZonemapPrune(spark, sf).collect()
      .map(x => (x.getString(0), x.getString(1)) ->
        ((x.getLong(2), x.getLong(3), x.getLong(4), x.getLong(5)))).toMap
    val li = Tables.lineitem(spark, sf)
    val total = li.count()
    graft.queries.Maintain.ZmapCutoffs.foreach { cut =>
      val before = li.where(col("l_shipdate") < lit(cut).cast("timestamp"))
        .count()
      val (_, _, dTot, dSkip) = zm(("date", cut))
      // cutoffs sit on quarter boundaries, so the quarter layout's
      // zone maps are EXACT: skipped rows == rows before the cutoff
      assert(dTot == total && dSkip == before,
        s"date@$cut: skip $dSkip vs exact $before")
      val (_, iSkipF, _, iSkip) = zm(("insertion", cut))
      // orderkey order is uncorrelated with ship date — pruning ~zero
      assert(iSkip <= dSkip, s"insertion@$cut must not out-skip date layout")
      if (cut != graft.queries.Maintain.ZmapCutoffs.last)
        assert(iSkipF == 0L,
          s"insertion@$cut: uncorrelated layout should skip no full file")
    }
  }

  test("phash dedup: planted BMP classes group by pixel pattern, jitter joins its class") {
    // round 12 re-point: the query now plants real 16x16 BMPs keyed by
    // doc_id (7 pixel classes x jitter half-classes) and hashes DECODED
    // pixels — BmpSpec pins the codec/hash internals; here we assert
    // the query-level grouping. ids 0, 21 are 'image' (id % 3 == 0) and
    // share a pixel class (id % 7 == 0); 21 % 14 >= 7 so 21 is the
    // JITTERED variant — different payload bytes, same aHash group.
    // id 3 is also 'image' but class 3 — its own group.
    val d = docsDir(Seq((0L, "x"), (21L, "x"), (3L, "x")))
    val r = graft.queries.Media.qMediaPhashDedup(spark, d).collect()
      .map(x => x.getLong(0) ->
        ((x.getLong(3), x.getLong(5), x.getLong(7)))).toMap // ahash, canon, n
    assert(r(0L)._1 == r(21L)._1 && r(0L)._2 == 0L && r(21L)._2 == 0L,
      s"jittered copy must share its class's aHash group: $r")
    assert(r(21L)._3 == 2L, s"group size: $r")
    assert(r(3L)._1 != r(0L)._1 && r(3L)._2 == 3L,
      s"different pixel class must not collide: $r")
    // sf corpus: within the BMP payload domain the hash is a pure
    // function of the bytes, so byte-identical payloads can never land
    // in different phash groups (the BMP-domain superset property; the
    // per-pair form is BmpSpec's "supersets of exact byte-dup groups")
    val full = graft.queries.Media.qMediaPhashDedup(spark, sf)
    val byClass = full // planted classes: same (modality, id % 7) <-> same group
      .select(col("media_id"), col("modality"), col("ahash"),
        (col("media_id") % 7).as("cls"))
      .groupBy(col("modality"), col("cls"))
      .agg(countDistinct(col("ahash")).as("k"))
      .where(col("k") > 1).count()
    assert(byClass == 0, s"$byClass planted classes split across ahash groups")
  }

  test("error context: banded rewrite kills the nested-loop join and matches brute force") {
    val q = graft.queries.Events.qEventsErrorContext(spark, sf)
    val plan = graft.plans.PlanShape.of(q)
    assert(!plan.joins.exists(j => j.strategy == "BNLJ" || j.strategy == "Cartesian"),
      s"band join must be rewritten to an equi-join:\n${plan.json}")
    // independent driver-side brute force over the small fixture
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val r = graft.queries.Events.ErrCtxRadiusUs
    val expected = ev.filter(_._4 == "error").map { case (eid, _, ets, _) =>
      val near = ev.filter(v => math.abs(ets - v._3) <= r && v._1 != eid)
      eid -> ((near.length.toLong, near.map(_._2).distinct.length.toLong))
    }.toMap
    val got = q.collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    assert(got == expected, s"${got.size} rows; first diff: ${
      (got.keySet ++ expected.keySet).find(k => got.get(k) != expected.get(k))
        .map(k => s"$k: ${got.get(k)} vs ${expected.get(k)}")}")
  }

  test("incremental hist: merge equals rebuild at every cutoff and associates") {
    import graft.queries.Maintain.{valueHist, histViewMerge}
    val ev = Tables.events(spark, sf)
    val rebuild = histViewMerge(valueHist(ev), valueHist(ev.limit(0)))
      .collect().map(x => (x.getString(0), x.getLong(1)) -> x.getLong(2)).toMap
    Seq("2024-01-08", "2024-01-16", "2024-01-28").foreach { cut =>
      val c = expr(s"timestamp'$cut 00:00:00'")
      val merged = histViewMerge(
        valueHist(ev.where(col("ts") < c)),
        valueHist(ev.where(col("ts") >= c))).collect()
        .map(x => (x.getString(0), x.getLong(1)) -> x.getLong(2)).toMap
      assert(merged == rebuild, s"cutoff $cut diverges from rebuild")
    }
    // three-way associativity: ((a ⊕ b) ⊕ c) == rebuild
    val (c1, c2) = (expr("timestamp'2024-01-10 00:00:00'"),
      expr("timestamp'2024-01-20 00:00:00'"))
    val abc = histViewMerge(
      histViewMerge(
        valueHist(ev.where(col("ts") < c1)),
        valueHist(ev.where(col("ts") >= c1 && col("ts") < c2))),
      valueHist(ev.where(col("ts") >= c2))).collect()
      .map(x => (x.getString(0), x.getLong(1)) -> x.getLong(2)).toMap
    assert(abc == rebuild, "three-way merge diverges from rebuild")
  }

  test("kanon audit: histogram tiles the customer table exactly") {
    val h = graft.queries.Governance.qKanonAudit(spark, sf).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    val total = Tables.customer(spark, sf).count()
    assert(h.map(_._3).sum == total, s"rows must tile: $h vs $total")
    h.foreach { case (size, nCls, nRows) =>
      assert(nRows == size * nCls, s"class size $size: $nRows != $size*$nCls")
    }
    assert(h.map(_._1).sorted.sameElements(h.map(_._1)), "sorted by size")
  }

  test("gdpr impact: the cascade count equals a direct semi-join recount") {
    val r = graft.queries.Governance.qGdprImpact(spark, sf).collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    assert(r.keySet == Set("customer", "orders", "lineitem"))
    assert(r("customer")._2 == Tables.customer(spark, sf).count())
    val affOrd = Tables.orders(spark, sf)
      .where(pmod(col("o_custkey"), lit(10)) === 7)
    assert(r("orders")._1 == affOrd.count())
    val liAff = Tables.lineitem(spark, sf)
      .join(affOrd.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_semi").count()
    assert(r("lineitem")._1 == liAff,
      s"cascade: ${r("lineitem")._1} vs semi-join $liAff")
    assert(r.values.forall(v => v._1 <= v._2))
  }

  test("ann rank metrics: ivf row reproduces a driver-side recompute") {
    import graft.queries.DedupSim
    val m = DedupSim.qAnnRankMetrics(spark, sf).collect()
      .map(x => x.getString(0) ->
        ((x.getLong(1), x.getDouble(2), x.getDouble(3)))).toMap
    val bf = DedupSim.qAnnBruteforce(spark, sf)
      .select(col("query_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bfCnt = bf.groupBy(_._1).map { case (q, s) => q -> s.size }
    val ivf = DedupSim.qAnnIvf(spark, sf)
      .select(col("query_id"), col("vec_id"), col("rk")).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Number]("rk").intValue))
    val d = DedupSim.NdcgDiscountPpb
    val p = DedupSim.IdcgPrefixPpb
    var ms = 0L; var ns = 0L
    bfCnt.keys.foreach { q =>
      val rel = ivf.filter(t => t._1 == q && bf((q, t._2))).map(_._3)
      if (rel.nonEmpty) {
        ms += 1000000000L / rel.min
        ns += (1000000000L * rel.map(r => d(r - 1)).sum) / p(bfCnt(q) - 1)
      }
    }
    val n = bfCnt.size.toLong
    def close(s: Long): Double =
      ((2L * 1000000L * s + n * 1000000000L) /
        (2L * n * 1000000000L)).toDouble / 1e6
    assert(m("ivf") == ((n, close(ms), close(ns))),
      s"ivf ${m("ivf")} vs recompute ($n, ${close(ms)}, ${close(ns)})")
    // OR-amplification lifts the rank metrics too, not just recall
    assert(m("lsh_multi")._2 > m("lsh")._2 &&
      m("lsh_multi")._3 > m("lsh")._3, s"$m")
  }

  test("split leakage: totals tie to the minhash pair count and the leak flag is honest") {
    val lk = graft.queries.DedupSim.qSplitLeakage(spark, sf).collect()
      .map(x => (x.getString(0), x.getString(1)) ->
        ((x.getLong(2), x.getBoolean(3)))).toMap
    val nPairs = graft.queries.DedupSim.qDedupMinhash(spark, sf).count()
    assert(lk.values.map(_._1).sum == nPairs,
      s"matrix must tile the pair set: $lk vs $nPairs")
    lk.foreach { case ((a, b), (_, leak)) =>
      assert(leak == (a != b), s"leak flag wrong for ($a, $b)")
      assert(a <= b, "triangular canonicalization")
    }
  }

  test("feature hash sweep: pigeonhole bounds hold and the vocabulary is constant") {
    val sw = graft.queries.Events.qFeatureHashSweep(spark, sf).collect()
      .map(x => x.getInt(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3))))
      .toMap
    assert(sw.keySet == graft.queries.Events.FeatureHashSizes.toSet)
    assert(sw.values.map(_._1).toSet.size == 1, s"one vocabulary: $sw")
    sw.foreach { case (size, (nf, used, coll)) =>
      assert(used <= math.min(size.toLong, nf), s"$size: $used buckets")
      // pigeonhole: at least nf - size features must share a slot
      assert(coll >= math.max(0L, nf - size), s"$size: $coll collided")
      assert(coll <= nf && (coll == 0L || coll >= 2L))
    }
  }

  test("burn rate: pages need both windows hot and single-hour blips are suppressed") {
    val r = graft.queries.Events.qEventsBurnrate(spark, sf).collect()
      .map(x => (x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4),
        x.getLong(5), x.getLong(6), x.getBoolean(7)))
    val t = graft.queries.Events.BurnThresholdPpm
    r.foreach { case (n1, e1, r1, n6, e6, r6, page) =>
      assert(r1 == 1000000L * e1 / n1 && r6 == 1000000L * e6 / n6)
      assert(page == (r1 >= t && r6 >= t))
      assert(n6 >= n1 && e6 >= e1, "trailing window contains the hour")
    }
    // the multi-window rule must actually suppress something: hours
    // exist where the 1h rate breaches but the 6h rate holds it back
    assert(r.exists(x => x._3 >= t && !x._7),
      "no blip suppressed — threshold not exercising the 6h window")
    assert(r.exists(_._7), "no page fired at all")
  }

  test("pipeline funnel: stages only shrink and the final stage is q_pipeline_curate") {
    val f = graft.queries.Text.qPipelineFunnel(spark, sf).collect()
      .map(x => x.getInt(0) -> ((x.getString(1), x.getLong(2), x.getLong(3))))
      .toMap
    assert(f.keySet == Set(0, 1, 2, 3), s"stages: $f")
    assert(Seq(0, 1, 2).forall(i => f(i)._2 >= f(i + 1)._2
      && f(i)._3 >= f(i + 1)._3), s"funnel must only shrink: $f")
    val raw = graft.Tables.documents(spark, sf).count()
    assert(f(0)._2 == raw, s"raw stage ${f(0)._2} vs documents $raw")
    val curated = graft.queries.Text.qPipelineCurate(spark, sf).count()
    assert(f(3)._2 == curated,
      s"sampled stage ${f(3)._2} vs q_pipeline_curate $curated")
  }

  test("kmeans elbow: k=16 row reproduces q_ann_kmeans's totals; fit never degrades up the ladder") {
    val elbow = graft.queries.DedupSim.qAnnKmeansElbow(spark, sf).collect()
      .map(x => x.getInt(0) ->
        ((x.getLong(1), x.getLong(2), x.getDouble(3), x.getDouble(4)))).toMap
    assert(elbow.keySet == Set(4, 8, 16), s"k ladder: $elbow")
    assert(elbow.forall { case (k, v) => v._1 <= k && v._1 >= 1 },
      s"cells used must stay within k: $elbow")
    // one row per vector in every chain
    assert(elbow.values.map(_._2).toSet.size == 1, s"member counts: $elbow")
    // k=16 IS q_ann_kmeans's geometry: totals must match its cell table
    val km = graft.queries.DedupSim.qAnnKmeans(spark, sf).collect()
    assert(elbow(16)._2 == km.map(_.getLong(1)).sum,
      s"members ${elbow(16)._2} vs kmeans ${km.map(_.getLong(1)).sum}")
    assert(math.abs(elbow(16)._3 - km.map(_.getDouble(2)).sum) < 1e-6,
      s"sum_sim ${elbow(16)._3} vs kmeans ${km.map(_.getDouble(2)).sum}")
    // measured on the deterministic corpus: finer quantization fits
    // at least as well at every doubling (the elbow's premise)
    assert(elbow(4)._4 <= elbow(8)._4 && elbow(8)._4 <= elbow(16)._4,
      s"avg_sim must not degrade with k: $elbow")
  }

  test("quality sweep: counts shrink as the cutoff tightens; 0.5 row matches q_text_quality") {
    val sweep = graft.queries.Text.qQualitySweep(spark, sf).collect()
      .map(x => x.getDouble(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    assert(sweep.keySet == Set(0.3, 0.4, 0.5, 0.6, 0.7), s"ladder: $sweep")
    val ordered = Seq(0.3, 0.4, 0.5, 0.6, 0.7).map(sweep)
    assert(ordered.sliding(2).forall(p => p(0)._1 >= p(1)._1
      && p(0)._2 >= p(1)._2), s"monotone retention: $sweep")
    val kept = graft.queries.Text.qTextQuality(spark, sf)
      .where(col("keep")).count()
    assert(sweep(0.5)._1 == kept,
      s"0.5 row ${sweep(0.5)._1} vs q_text_quality keep count $kept")
  }

  test("token budget: bucket decomposition equals the brute-force global prefix sum") {
    val r = graft.queries.Text.qTokenBudget(spark, sf).collect()
      .map(x => (x.getLong(0), x.getDouble(1), x.getLong(2), x.getBoolean(3)))
    // brute force: sort by (quality DESC, doc_id), global cumsum,
    // keep while cum <= half the corpus tokens
    val budget = r.map(_._3).sum / 2
    var cum = 0L
    val expected = r.sortBy(x => (-x._2, x._1)).map { x =>
      cum += x._3; x._1 -> (cum <= budget)
    }.toMap
    assert(r.forall(x => x._4 == expected(x._1)),
      s"divergent verdicts: ${r.filter(x => x._4 != expected(x._1)).take(5).toSeq}")
    val nKept = r.count(_._4)
    assert(nKept > 0 && nKept < r.length,
      s"budget selection must be a strict subset: $nKept of ${r.length}")
  }

  test("lpa: two planted cliques resolve to two communities across the bridge") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_r11_li").toString
    // order 1 = clique {1,2,3,4}; order 2 = clique {10,11,12,13};
    // order 3 = the bridge edge 4-10
    ((1L to 4L).map((1L, _)) ++ (10L to 13L).map((2L, _)) ++
      Seq((3L, 4L), (3L, 10L)))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val r = graft.queries.Graph.qGraphLpa(spark, dir).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r.size == 8, s"node count: $r")
    val a = (1L to 4L).map(r).toSet
    val b = (10L to 13L).map(r).toSet
    assert(a.size == 1 && b.size == 1 && a != b,
      s"cliques must converge to two distinct communities: $r")
  }

  test("modularity: hand-computed Q on the two-clique bridge graph") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_r11_li2").toString
    ((1L to 4L).map((1L, _)) ++ (10L to 13L).map((2L, _)) ++
      Seq((3L, 4L), (3L, 10L)))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val r = graft.queries.Graph.qGraphModularity(spark, dir).collect()(0)
    // m = 13 (6+6 clique edges + bridge), intra = 12, both community
    // degree sums = 13 → Σdc² = 338;
    // Q = (4·13·12 − 338) / (4·13²) = 286/676 = 0.423077
    assert(r.getLong(0) == 2L, s"n_communities: $r")
    assert(r.getLong(1) == 13L, s"m_edges: $r")
    assert(r.getLong(2) == 12L, s"n_intra: $r")
    assert(r.getLong(3) == 338L, s"sum_dc_sq: $r")
    assert(math.abs(r.getDouble(4) - 0.423077) < 1e-9, s"modularity: $r")
  }
}
