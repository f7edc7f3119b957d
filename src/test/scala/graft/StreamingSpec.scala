package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.EventsStream

/** Top-level so Spark can generate an Encoder without an outer scope. */
case class Ev(ts: Timestamp, event_type: String, value: Double)

/** Streaming twin correctness: the same transform over a MemoryStream
  * must produce the batch result once all data is processed. */
class StreamingSpec extends SparkSpec {

  private def mkEvents: Seq[Ev] = (0 until 100).map { i =>
    Ev(Timestamp.valueOf(f"2024-01-01 ${i % 5}%02d:0${i % 6}:00"),
      if (i % 2 == 0) "click" else "view", i.toDouble)
  }

  test("streaming tumbling agg equals batch tumbling agg") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val events = mkEvents
    val stream = MemoryStream[Ev]
    stream.addData(events)
    val q = EventsStream.tumblingAgg(stream.toDF())
      .writeStream.format("memory").queryName("tumbling_out")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("tumbling_out")
      .orderBy("hour_start", "event_type").collect()
    val batch = EventsStream.tumblingAgg(events.toDF())
      .orderBy("hour_start", "event_type").collect()
    assert(streamed.sameElements(batch))
  }

  test("streaming dedup drops repeated ids across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[(Long, Timestamp, Double)]
    val df = stream.toDF().toDF("event_id", "ts", "value")
    val q = EventsStream.dedupStream(df, "1 hour")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    val t = Timestamp.valueOf("2024-01-01 10:00:00")
    try {
      stream.addData((1L, t, 1.0), (2L, t, 2.0), (1L, t, 1.0))
      q.processAllAvailable()
      // 2 is a cross-batch dup; the second 2 has a DIFFERENT ts and must
      // still be dropped (dedup is keyed on event_id alone)
      val t2 = Timestamp.valueOf("2024-01-01 10:05:00")
      stream.addData((2L, t2, 2.0), (3L, t, 3.0))
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("dedup_out").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L))
  }

  test("stateful user counts run in update mode") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[(Long, Double)]
    stream.addData(Seq((1L, 1.0), (1L, 2.0), (2L, 5.0)))
    val df = stream.toDF().toDF("user_id", "value")
    val q = EventsStream.userCounts(df)
      .writeStream.format("memory").queryName("user_out")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val out = spark.table("user_out").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(1L) == ((2L, 3.0)))
    assert(out(2L) == ((1L, 5.0)))
  }

  test("streaming session twin: append-mode finalized sessions equal batch " +
    "under out-of-order arrival, 599/600/601 boundary pinned") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val t0 = Timestamp.valueOf("2024-01-01 10:00:00").getTime / 1000L
    def ts(s: Long) = new Timestamp(s * 1000L)
    // gap fixtures: user 1 -> 599 s (merges), user 2 -> exactly 600 s
    // (merges — the INCLUSIVE boundary), user 3 -> 601 s (splits)
    val stream = MemoryStream[(Long, Timestamp, Double)]
    val q = EventsStream.sessionNativeStream(
      stream.toDF().toDF("user_id", "ts", "value"),
      watermarkDelay = "1 hour")
      .writeStream.format("memory").queryName("session_native_out")
      .outputMode("append").start()
    try {
      // OUT OF ORDER: each user's later event lands a batch before (or
      // after) its earlier one; all inside the 1 h watermark
      stream.addData((1L, ts(t0 + 599), 0.0), (3L, ts(t0 + 601), 0.0),
        (2L, ts(t0), 0.0))
      q.processAllAvailable()
      stream.addData((1L, ts(t0), 0.0), (2L, ts(t0 + 600), 0.0),
        (3L, ts(t0), 0.0))
      q.processAllAvailable()
      // sentinel advances the watermark past every session end so the
      // store evicts + emits; a second batch carries the eviction out
      stream.addData((99L, ts(t0 + 7200), 0.0))
      q.processAllAvailable()
      stream.addData((99L, ts(t0 + 7201), 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("session_native_out")
      .where(col("user_id") =!= 99L)
      .orderBy("user_id", "s_start_us").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val us = 1000000L
    assert(streamed.toSeq == Seq(
      (1L, t0 * us, (t0 + 599) * us, 2L),
      (2L, t0 * us, (t0 + 600) * us, 2L),
      (3L, t0 * us, t0 * us, 1L),
      (3L, (t0 + 601) * us, (t0 + 601) * us, 1L)), streamed.mkString(";"))
    // and the batch sessionizer (q_session_native, itself oracle-equal
    // to the lag-CTE sessionizer) agrees row-for-row on the same events
    val dir = java.nio.file.Files.createTempDirectory("graft_snstream").toString
    Seq((1L, ts(t0 + 599), 1L, "view", 0.0), (3L, ts(t0 + 601), 2L, "view", 0.0),
      (2L, ts(t0), 3L, "view", 0.0), (1L, ts(t0), 4L, "view", 0.0),
      (2L, ts(t0 + 600), 5L, "view", 0.0), (3L, ts(t0), 6L, "view", 0.0))
      .toDF("user_id", "ts", "event_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val batch = graft.queries.Events.qSessionNative(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(batch.toSeq == streamed.toSeq,
      s"batch ${batch.mkString(";")} vs streamed ${streamed.mkString(";")}")
  }

  test("stream-stream interval join attributes clicks to purchases") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val purchases = MemoryStream[(Long, Timestamp, Double)]
    val clicks = MemoryStream[(Long, Timestamp, Double)]
    val q = EventsStream.purchaseClickJoin(
      purchases.toDF().toDF("user_id", "ts", "value"),
      clicks.toDF().toDF("user_id", "ts", "value"))
      .writeStream.format("memory").queryName("attr_out")
      .outputMode("append").start()
    val t0 = Timestamp.valueOf("2024-01-01 10:00:00")
    val in5 = Timestamp.valueOf("2024-01-01 10:05:00")
    val in20 = Timestamp.valueOf("2024-01-01 10:20:00")
    try {
      purchases.addData((1L, t0, 9.99))
      clicks.addData((1L, in5, 0.0),   // within 10 min -> joins
        (1L, in20, 0.0),               // outside window -> dropped
        (2L, in5, 0.0))                // other user -> dropped
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("attr_out").collect()
    assert(rows.length == 1, s"expected 1 attributed click, got ${rows.toSeq}")
    assert(rows(0).getAs[Long]("p_user") == 1L)
    assert(rows(0).getAs[Timestamp]("c_ts") == in5)
  }

  test("streaming document curation filters quality and dedups fingerprints") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[(Long, String, Timestamp)]
    val df = stream.toDF().toDF("doc_id", "text", "ingest_ts")
    val q = graft.streaming.DocsStream.curateStream(df, "1 hour")
      .writeStream.format("memory").queryName("curate_out")
      .outputMode("append").start()
    val good = "the quick brown fox jumps over the lazy dog and runs on " * 4
    val junk = "!!! ??? ;;; ***" // punctuation-dense -> quality gate drops
    val t = Timestamp.valueOf("2024-01-01 10:00:00")
    try {
      stream.addData((1L, good, t), (2L, junk, t))
      q.processAllAvailable()
      // cross-batch exact dup of doc 1 (case/whitespace variant — the
      // fingerprint normalizes) must be dropped; a new doc passes
      stream.addData((3L, good.toUpperCase + "  ", t), (4L, good + "extra", t))
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("curate_out").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(1L, 4L), s"got ${ids.toSeq}")
  }

  test("streaming incremental-dedup screen equals the batch verdicts") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.dedup.Dedup
    val base = "the quick brown fox jumps over the lazy dog and runs far " +
      "away tonight while the moon rises over the quiet hills tonight"
    val corpusDocs = spark.createDataFrame(Seq(
      (0L, base),
      (1L, "completely different corpus words about columnar storage")
    )).toDF("doc_id", "text")
    // exact dup (whitespace/case variant), near dup, fresh doc, and a
    // doc too short to shingle (no bands → zero candidates)
    val batchRows = Seq(
      (10L, "  " + base.toUpperCase + " "),
      (11L, base.replace("tonight", "today")),
      (12L, "entirely novel text that matches nothing in the corpus here"),
      (13L, "one two"))
    val corpusHashes = Dedup.contentHashes(corpusDocs, "doc_id", "text")
      .select(col("h")).distinct()
    val corpusBands = Dedup
      .minhashBands(Dedup.minhashShingleRows(corpusDocs, "doc_id", "text", 3))
      .select(col("id").as("cid"), col("band"), col("bucket"))
    val t0 = Timestamp.valueOf("2024-01-01 00:10:00")
    val stream = MemoryStream[(Long, String, Timestamp)]
    val sdf = stream.toDF().toDF("doc_id", "text", "ingest_ts")
    val q = graft.streaming.DocsStream
      .screenStream(sdf, corpusHashes, corpusBands, "10 minutes")
      .writeStream.format("memory").queryName("screen_out")
      .outputMode("append").start()
    try {
      stream.addData(batchRows.map { case (id, tx) => (id, tx, t0) })
      q.processAllAvailable()
      // push the watermark past the ingest window so verdicts finalize
      stream.addData((999L, "watermark pusher row",
        Timestamp.valueOf("2024-01-01 02:30:00")))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("screen_out").where(col("doc_id") < 900)
      .select("doc_id", "is_exact_dup", "n_near_candidates", "keep")
      .collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1).toSeq
    val want = Dedup.incrementalDedup(
        spark.createDataFrame(batchRows).toDF("doc_id", "text"),
        corpusDocs, "doc_id", "text", n = 3)
      .collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1).toSeq
    assert(got == want, s"stream $got vs batch $want")
    // sanity on the scenario itself: exact dup flagged, near dup has
    // candidates, fresh + short docs keep
    assert(want.map(v => (v._1, v._2, v._4)) ==
      Seq((10L, true, false), (11L, false, false),
        (12L, false, true), (13L, false, true)), s"scenario drifted: $want")
  }

  test("streaming span removal equals the batch deletion on finalized batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.dedup.Dedup
    // the Round10 fixture: an 8-token span planted verbatim in docs 0
    // and 1 at different offsets; doc 2 is clean; doc 3 is too short
    // to span (verdict row with nothing removed)
    val s8 = (1 to 8).map(i => s"s$i").mkString(" ")
    val docRows = Seq(
      (0L, s"a1 a2 a3 a4 $s8 a5 a6 a7 a8"),
      (1L, s"b1 b2 b3 b4 b5 b6 $s8 b7"),
      (2L, "c1 c2 c3 c4 c5 c6 c7 c8 c9"),
      (3L, "one two"))
    val docs = spark.createDataFrame(docRows).toDF("doc_id", "text")
    // the FROZEN duplicated-span set a production screen would persist
    val dupSpans = Dedup.duplicatedSpanIds(docs, "doc_id", "text")
    val t0 = Timestamp.valueOf("2024-01-01 00:10:00")
    val stream = MemoryStream[(Long, String, Timestamp)]
    val sdf = stream.toDF().toDF("doc_id", "text", "ingest_ts")
    val q = graft.streaming.DocsStream
      .spanRemovalStream(sdf, dupSpans, "10 minutes")
      .writeStream.format("memory").queryName("spanrm_out")
      .outputMode("append").start()
    try {
      stream.addData(docRows.map { case (id, tx) => (id, tx, t0) })
      q.processAllAvailable()
      stream.addData((999L, "watermark pusher row",
        Timestamp.valueOf("2024-01-01 02:30:00")))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("spanrm_out").where(col("doc_id") < 900)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getString(4)))
      .sortBy(_._1).toSeq
    val want = Dedup.spanRemoval(docs, "doc_id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getString(4)))
      .sortBy(_._1).toSeq
    assert(got == want, s"stream $got vs batch $want")
    // sanity on the scenario: both planted docs lose exactly the span
    assert(want.find(_._1 == 0L).get._5 == "a1 a2 a3 a4 a5 a6 a7 a8")
    assert(want.find(_._1 == 1L).get._3 == 8L)
    assert(want.find(_._1 == 3L).get._3 == 0L, "short doc keeps all")
  }

  test("streaming CDC screen equals the batch screen on finalized batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.dedup.Dedup
    // corpus holds a 96-token region; batch doc 10 shares it behind a
    // shifted prefix (chunks re-sync → dup chunks), 11 is novel, 12 is
    // too short to ever cut
    val s = (1 to 96).map(i => s"s$i").mkString(" ")
    val corpusDocs = Seq((0L, s), (1L, "other corpus words entirely"))
      .toDF("doc_id", "text")
    val corpusHashes = Dedup.cdcChunks(corpusDocs, "doc_id", "text")
      .select(col("c_hash"))
    val batchRows = Seq(
      (10L, s"pa pb pc $s"),
      (11L, (1 to 40).map(i => s"n$i").mkString(" ")),
      (12L, "one two"))
    val t0 = Timestamp.valueOf("2024-01-01 00:10:00")
    val stream = MemoryStream[(Long, String, Timestamp)]
    val sdf = stream.toDF().toDF("doc_id", "text", "ingest_ts")
    val q = graft.streaming.DocsStream
      .cdcScreenStream(sdf, corpusHashes, "10 minutes")
      .writeStream.format("memory").queryName("cdcscreen_out")
      .outputMode("append").start()
    try {
      stream.addData(batchRows.map { case (id, tx) => (id, tx, t0) })
      q.processAllAvailable()
      stream.addData((999L, "watermark pusher row",
        Timestamp.valueOf("2024-01-01 02:30:00")))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("cdcscreen_out").where(col("doc_id") < 900)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
      .sortBy(_._1).toSeq
    val want = Dedup.cdcScreen(
        spark.createDataFrame(batchRows).toDF("doc_id", "text"),
        corpusHashes, "doc_id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
      .sortBy(_._1).toSeq
    assert(got == want, s"stream $got vs batch $want")
    // scenario sanity: the shifted copy re-syncs to known chunks, the
    // novel and short docs hold nothing the corpus has
    assert(want.find(_._1 == 10L).get._5 > 0L, s"re-sync dup: $want")
    assert(want.find(_._1 == 11L).get._5 == 0L &&
      want.find(_._1 == 12L).get._5 == 0L, s"clean docs: $want")
  }

  test("streaming decontamination screen equals the batch overlap counts") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.dedup.Dedup
    val evalDocs = spark.createDataFrame(Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (101L, "one two three four five six seven")
    )).toDF("doc_id", "text")
    // full 5-gram hit, partial-window hit, clean doc, too-short doc
    val batchRows = Seq(
      (20L, "alpha beta gamma delta epsilon unrelated trailing words here"),
      (21L, "prefix words then three four five six seven closing"),
      (22L, "completely clean document with no overlapping windows at all"),
      (23L, "tiny doc"))
    val evalShingles = Dedup
      .minhashShingleRows(evalDocs, "doc_id", "text", 5)
      .select(col("s_id")).distinct()
    val t0 = Timestamp.valueOf("2024-01-01 00:10:00")
    val stream = MemoryStream[(Long, String, Timestamp)]
    val sdf = stream.toDF().toDF("doc_id", "text", "ingest_ts")
    val q = graft.streaming.DocsStream
      .decontamStream(sdf, evalShingles, "10 minutes")
      .writeStream.format("memory").queryName("decontam_out")
      .outputMode("append").start()
    try {
      stream.addData(batchRows.map { case (id, tx) => (id, tx, t0) })
      q.processAllAvailable()
      stream.addData((999L, "watermark pusher row",
        Timestamp.valueOf("2024-01-01 02:30:00")))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("decontam_out").where(col("doc_id") < 900)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .sortBy(_._1).toSeq
    // batch truth: contaminationCounts left-joined back so clean and
    // short docs appear with zero overlap (the stream emits a verdict
    // row per doc)
    val train = spark.createDataFrame(batchRows).toDF("doc_id", "text")
    val want = train.select(col("doc_id"))
      .join(Dedup.contaminationCounts(train, evalDocs, "doc_id", "text", 5)
        .select(col("id").as("doc_id"), col("n_overlap")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(1) == 0L))
      .sortBy(_._1).toSeq
    assert(got == want, s"stream $got vs batch $want")
    // scenario sanity: doc 20 hits (windows of the first eval doc),
    // doc 21 hits (the three..seven window), 22 and 23 are clean
    assert(want.map(v => (v._1, v._3)) ==
      Seq((20L, false), (21L, false), (22L, true), (23L, true)),
      s"scenario drifted: $want")
  }

  test("mapGroupsWithState accumulates per-user totals across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.{UserEvent, UserTotals}
    val stream = MemoryStream[UserEvent]
    val q = EventsStream.statefulUserTotals(stream.toDS())
      .writeStream.format("memory").queryName("state_out")
      .outputMode("update").start()
    try {
      stream.addData(UserEvent(1L, 1.0), UserEvent(1L, 2.0), UserEvent(2L, 5.0))
      q.processAllAvailable()
      stream.addData(UserEvent(1L, 4.0)) // state must carry across batches
      q.processAllAvailable()
    } finally q.stop()
    // update mode appends one row per key per batch; the row with the
    // highest running count is the latest state (order-independent)
    val last = spark.table("state_out").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).maxBy(_._1) }
    assert(last(1L) == ((3L, 7.0)), s"got $last")
    assert(last(2L) == ((1L, 5.0)))
  }

  test("streaming gap-fill folds late in-watermark rows into their bucket") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.TypedEvent
    def t(s: String) = Timestamp.valueOf(s)
    val stream = MemoryStream[TypedEvent]
    val q = EventsStream.gapfillStream(stream.toDS(), "30 minutes")
      .writeStream.format("memory").queryName("gapfill_late_out")
      .outputMode("append").start()
    try {
      stream.addData(TypedEvent("click", t("2024-01-01 10:00:10"), 1.0))
      q.processAllAvailable()
      // a LATE row for the 10:00 bucket — 20 minutes behind the head
      // but inside the 30-minute watermark: it must fold into the still
      // -open 10:00 bucket, not be dropped and not distort a later one
      stream.addData(
        TypedEvent("click", t("2024-01-01 10:20:00"), 5.0),
        TypedEvent("click", t("2024-01-01 10:01:00"), 2.0))
      q.processAllAvailable()
      // advance the watermark far enough to finalize through 10:20
      stream.addData(TypedEvent("click", t("2024-01-01 11:00:00"), 9.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("gapfill_late_out").collect()
      .map(r => (r.getTimestamp(1).toString, r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double])))
      .toSet
    // 10:00 bucket holds BOTH rows (1.0 + 2.0); gaps carry 3.0 to 10:15
    val want: Set[(String, Long, Option[Double])] = Set(
      ("2024-01-01 10:00:00.0", 2L, Some(3.0)),
      ("2024-01-01 10:05:00.0", 0L, Some(3.0)),
      ("2024-01-01 10:10:00.0", 0L, Some(3.0)),
      ("2024-01-01 10:15:00.0", 0L, Some(3.0)),
      ("2024-01-01 10:20:00.0", 1L, Some(5.0)),
      ("2024-01-01 10:25:00.0", 0L, Some(5.0)))
    assert(got == want, s"missing=${want -- got}\nextra=${got -- want}")
  }

  test("streaming gap-fill admits a late row in an EARLIER bucket than first-seen") {
    // watermark delay (30 m) > bucket width (5 m): after the head row
    // opens the 10:20 bucket, a late-but-in-watermark row can land in
    // the 10:00 bucket. The emit cursor must back up to it — pinning
    // to the first-seen bucket would silently drop the row AND leave
    // its state entry resident forever.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.TypedEvent
    def t(s: String) = Timestamp.valueOf(s)
    val stream = MemoryStream[TypedEvent]
    val q = EventsStream.gapfillStream(stream.toDS(), "30 minutes")
      .writeStream.format("memory").queryName("gapfill_early_out")
      .outputMode("append").start()
    try {
      stream.addData(TypedEvent("click", t("2024-01-01 10:20:10"), 1.0))
      q.processAllAvailable()
      // 19 minutes behind the head but inside the 30-minute watermark
      stream.addData(TypedEvent("click", t("2024-01-01 10:01:00"), 2.0))
      q.processAllAvailable()
      // watermark -> 10:26, finalizing buckets through 10:20
      stream.addData(TypedEvent("click", t("2024-01-01 10:56:00"), 9.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("gapfill_early_out").collect()
      .map(r => (r.getTimestamp(1).toString, r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double])))
      .toSet
    val want: Set[(String, Long, Option[Double])] = Set(
      ("2024-01-01 10:00:00.0", 1L, Some(2.0)),
      ("2024-01-01 10:05:00.0", 0L, Some(2.0)),
      ("2024-01-01 10:10:00.0", 0L, Some(2.0)),
      ("2024-01-01 10:15:00.0", 0L, Some(2.0)),
      ("2024-01-01 10:20:00.0", 1L, Some(1.0)))
    assert(got == want, s"missing=${want -- got}\nextra=${got -- want}")
  }

  test("streaming interpolation equals the batch twin on finalized buckets") {
    // observations at 10:00 (1.0), 10:20 (5.0), 11:00 (9.0): the two
    // gap segments interpolate line-exactly; a 12:00 row advances the
    // watermark so everything through 11:00 finalizes. The streamed
    // rows must BIT-match the batch q_events_interpolate on the same
    // corpus over the emitted range (the stream holds trailing gaps —
    // 11:05 onward — until their right anchor finalizes).
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.TypedEvent
    def t(s: String) = Timestamp.valueOf(s)
    val obs = Seq(
      ("2024-01-01 10:00:00", 1.0),
      ("2024-01-01 10:20:00", 5.0),
      ("2024-01-01 11:00:00", 9.0),
      ("2024-01-01 12:00:00", 99.0))
    val stream = MemoryStream[TypedEvent]
    val q = EventsStream.interpolateStream(stream.toDS(), "10 minutes")
      .writeStream.format("memory").queryName("interp_out")
      .outputMode("append").start()
    try {
      // feed one observation per batch so segments emit incrementally
      for ((ts, v) <- obs) {
        stream.addData(TypedEvent("a", t(ts), v))
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = spark.table("interp_out").collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2),
        r.getDouble(3))).toSet
    // batch twin over the identical corpus (value column nullable, the
    // on-disk shape Tables.events expects)
    val dir = "/tmp/graft_interp_twin"
    obs.zipWithIndex.map { case ((ts, v), i) =>
      (i.toLong, 10L, t(ts).getTime * 1000000L, "a", "{}", Some(v))
    }.toDF("event_id", "user_id", "ts", "event_type", "props", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val batch = graft.queries.Events.qEventsInterpolate(spark, dir)
      .where(col("bucket_start") <= t("2024-01-01 11:00:00")).collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(streamed == batch,
      s"missing=${(batch -- streamed).toSeq.sortBy(_._2.getTime)}\n" +
        s"extra=${(streamed -- batch).toSeq.sortBy(_._2.getTime)}")
    // spot-check the line: 10:10 is halfway 1.0 -> 5.0 at 10:20
    assert(streamed.exists(r => r._2 == t("2024-01-01 10:10:00") && r._4 == 3.0))
  }

  test("streaming interpolation admits a late row in an EARLIER bucket") {
    // same boundary as the gap-fill twin: the head row opens 10:20,
    // then an in-watermark row lands at 10:01 — the cursor must back
    // up so the 10:00 bucket anchors the segment instead of vanishing
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.TypedEvent
    def t(s: String) = Timestamp.valueOf(s)
    val stream = MemoryStream[TypedEvent]
    val q = EventsStream.interpolateStream(stream.toDS(), "30 minutes")
      .writeStream.format("memory").queryName("interp_early_out")
      .outputMode("append").start()
    try {
      stream.addData(TypedEvent("click", t("2024-01-01 10:20:10"), 9.0))
      q.processAllAvailable()
      stream.addData(TypedEvent("click", t("2024-01-01 10:01:00"), 1.0))
      q.processAllAvailable()
      // watermark -> 10:26: finalizes 10:00 (anchor), the gaps, and
      // the 10:20 observation, emitting the whole bridged segment
      stream.addData(TypedEvent("click", t("2024-01-01 10:56:00"), 5.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("interp_early_out").collect()
      .map(r => (r.getTimestamp(1).toString, r.getLong(2), r.getDouble(3)))
      .toSet
    val want = Set(
      ("2024-01-01 10:00:00.0", 1L, 1.0),
      ("2024-01-01 10:05:00.0", 0L, 3.0),
      ("2024-01-01 10:10:00.0", 0L, 5.0),
      ("2024-01-01 10:15:00.0", 0L, 7.0),
      ("2024-01-01 10:20:00.0", 1L, 9.0))
    assert(got == want, s"missing=${want -- got}\nextra=${got -- want}")
  }

  test("streaming gap-fill emits dense finalized buckets with LOCF carry") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.TypedEvent
    def t(s: String) = Timestamp.valueOf(s)
    val stream = MemoryStream[TypedEvent]
    val q = EventsStream.gapfillStream(stream.toDS(), "10 minutes")
      .writeStream.format("memory").queryName("gapfill_out")
      .outputMode("append").start()
    try {
      // click: buckets 10:00 (two rows) and 10:15; gaps at 10:05/10:10.
      // view: one bucket at 10:00, then silence — its later gap buckets
      // must come from the event-time TIMEOUT, not from new view rows.
      stream.addData(
        TypedEvent("click", t("2024-01-01 10:00:30"), 1.0),
        TypedEvent("click", t("2024-01-01 10:02:00"), 2.0),
        TypedEvent("click", t("2024-01-01 10:16:00"), 4.0),
        TypedEvent("view", t("2024-01-01 10:01:00"), 3.0))
      q.processAllAvailable()
      // watermark -> 10:06, finalizing the 10:00 bucket of both types
      stream.addData(TypedEvent("click", t("2024-01-01 10:31:00"), 5.0))
      q.processAllAvailable()
      // watermark -> 10:36 (10:46 - 10 min), finalizing buckets
      // through 10:30 — including the quiet view type's gap buckets
      stream.addData(TypedEvent("click", t("2024-01-01 10:46:00"), 6.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("gapfill_out").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).toString,
        r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double])))
      .toSet
    val want: Set[(String, String, Long, Option[Double])] = Set(
      ("click", "2024-01-01 10:00:00.0", 2L, Some(3.0)),
      ("click", "2024-01-01 10:05:00.0", 0L, Some(3.0)),
      ("click", "2024-01-01 10:10:00.0", 0L, Some(3.0)),
      ("click", "2024-01-01 10:15:00.0", 1L, Some(4.0)),
      ("click", "2024-01-01 10:20:00.0", 0L, Some(4.0)),
      ("click", "2024-01-01 10:25:00.0", 0L, Some(4.0)),
      ("click", "2024-01-01 10:30:00.0", 1L, Some(5.0)),
      ("view", "2024-01-01 10:00:00.0", 1L, Some(3.0)),
      ("view", "2024-01-01 10:05:00.0", 0L, Some(3.0)),
      ("view", "2024-01-01 10:10:00.0", 0L, Some(3.0)),
      ("view", "2024-01-01 10:15:00.0", 0L, Some(3.0)),
      ("view", "2024-01-01 10:20:00.0", 0L, Some(3.0)),
      ("view", "2024-01-01 10:25:00.0", 0L, Some(3.0)),
      ("view", "2024-01-01 10:30:00.0", 0L, Some(3.0)))
    assert(got == want,
      s"missing=${want -- got}\nextra=${got -- want}")
  }

  test("streaming changelog compaction equals batch merge, late rows fold away") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.CdcEvent
    def t(s: String) = Timestamp.valueOf(s)
    val b1 = Seq(
      CdcEvent(1L, t("2024-01-01 10:00:00"), 10L, "view", 1.0),
      CdcEvent(2L, t("2024-01-01 10:05:00"), 20L, "view", 2.0),
      CdcEvent(3L, t("2024-01-01 10:06:00"), 30L, "signup", 3.0))
    val b2 = Seq(
      CdcEvent(4L, t("2024-01-01 10:10:00"), 10L, "purchase", 9.0),
      // LATE row for 20, older than its current version → must not win
      CdcEvent(5L, t("2024-01-01 10:01:00"), 20L, "click", 8.0),
      // tombstone for 30
      CdcEvent(6L, t("2024-01-01 10:12:00"), 30L, "error", 0.0))
    val stream = MemoryStream[CdcEvent]
    val q = EventsStream.compactStream(stream.toDS())
      .writeStream.format("memory").queryName("compact_out")
      .outputMode("update").start()
    try {
      stream.addData(b1); q.processAllAvailable()
      stream.addData(b2); q.processAllAvailable()
    } finally q.stop()
    // last emission per key is the live compacted state
    val emitted = spark.table("compact_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getDouble(4), r.getBoolean(5)))
    val latest = emitted.groupBy(_._1).map { case (k, rows) =>
      k -> rows.maxBy(r => (r._2, r._3))
    }
    // tombstoned key IS emitted (so sinks can delete), flagged deleted
    assert(latest(30L)._6, s"tombstone not flagged: ${latest(30L)}")
    // the late, older row for 20 must not displace its newer version
    assert(latest(20L)._4 == "view" && latest(20L)._5 == 2.0)
    // live keys match the batch MERGE of the full log
    val live = latest.values.filterNot(_._6)
      .map(r => (r._1, r._2, r._4, r._5)).toSet
    val batch = graft.queries.Maintain.compactChangelog(
        (b1 ++ b2).toDF()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
      .toSet
    assert(live == batch, s"stream=$live batch=$batch")
  }

  test("streaming SCD2 equals the batch rebuild under ordered arrival") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.CdcEvent
    def t(s: String) = Timestamp.valueOf(s)
    val b1 = Seq(
      CdcEvent(1L, t("2024-01-01 10:00:00"), 10L, "view", 0.0),
      CdcEvent(2L, t("2024-01-01 10:02:00"), 10L, "view", 0.0),
      CdcEvent(3L, t("2024-01-01 10:04:00"), 10L, "purchase", 0.0),
      CdcEvent(4L, t("2024-01-01 10:01:00"), 20L, "signup", 0.0))
    val b2 = Seq(
      // change in batch 2 closes a version opened in batch 1
      CdcEvent(5L, t("2024-01-01 10:10:00"), 10L, "view", 0.0),
      CdcEvent(6L, t("2024-01-01 10:11:00"), 20L, "click", 0.0),
      CdcEvent(7L, t("2024-01-01 10:12:00"), 30L, "view", 0.0))
    val stream = MemoryStream[CdcEvent]
    val q = EventsStream.scd2Stream(stream.toDS())
      .writeStream.format("memory").queryName("scd2_out")
      .outputMode("update").start()
    try {
      stream.addData(b1); q.processAllAvailable()
      stream.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val emitted = spark.table("scd2_out").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4)))
    // closed versions are emitted exactly once, immutable
    val closed = emitted.filter(!_._5)
    assert(closed.length == closed.distinct.length, "a closed version re-emitted")
    // latest open emission per key + all closed = the batch rebuild
    val open = emitted.filter(_._5).groupBy(_._1)
      .map { case (_, rs) => rs.maxBy(_._3) }
    val streamed = (closed ++ open).map(v => (v._1, v._2, v._3, v._4)).toSet
    val batch = graft.queries.Maintain.scd2History((b1 ++ b2).toDF())
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    assert(streamed == batch, s"stream=$streamed\nbatch=$batch")
  }

  test("streaming PIT enrichment equals the batch as-of merge under ordered arrival") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.CdcEvent
    def t(s: String) = Timestamp.valueOf(s)
    val b1 = Seq(
      // u10: cold purchase (no state yet), then view, then purchase
      CdcEvent(1L, t("2024-01-01 10:00:00"), 10L, "purchase", 1.0),
      CdcEvent(2L, t("2024-01-01 10:01:00"), 10L, "view", 0.0),
      CdcEvent(3L, t("2024-01-01 10:02:00"), 10L, "purchase", 2.0),
      CdcEvent(4L, t("2024-01-01 10:00:30"), 20L, "signup", 0.0))
    val b2 = Seq(
      // u10: same-instant click change + purchase — dim applies first
      CdcEvent(5L, t("2024-01-01 10:10:00"), 10L, "click", 0.0),
      CdcEvent(6L, t("2024-01-01 10:10:00"), 10L, "purchase", 3.0),
      // u20: state opened in batch 1 must survive into batch 2
      CdcEvent(7L, t("2024-01-01 10:12:00"), 20L, "purchase", 4.0))
    val stream = MemoryStream[CdcEvent]
    val q = EventsStream.pitStream(stream.toDS())
      .writeStream.format("memory").queryName("pit_out")
      .outputMode("append").start()
    try {
      stream.addData(b1); q.processAllAvailable()
      stream.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("pit_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        Option(r.getString(3)),
        if (r.isNullAt(4)) -1L else r.getLong(4), r.getDouble(5))).toSet
    val batch = graft.queries.Maintain.pitJoin((b1 ++ b2).toDF())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        Option(r.getString(3)),
        if (r.isNullAt(4)) -1L else r.getLong(4), r.getDouble(5))).toSet
    assert(streamed == batch, s"stream=$streamed\nbatch=$batch")
    // each purchase enriched exactly once
    assert(streamed.size == 4)
    // the cold purchase reports NULL state
    assert(streamed.exists(v => v._1 == 1L && v._4.isEmpty))
  }

  test("streaming hysteresis emits the dense Schmitt changelog incl. silent hours") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.TypedEvent
    def t(sec: Long) = new Timestamp(sec * 1000L)
    def ev(sec: Long) = TypedEvent("m", t(sec), 0.0)
    // hi=3 lo=2: open on x>3, close on x<2, {2,3} is the dead band.
    // hour 0: x=5 (opens), hour 1: x=2 (band, stays), hour 2: SILENT
    // (x=0 closes), hour 3: x=4 (opens again), hour 4: silent
    val b1 = Seq(ev(600), ev(700), ev(800), ev(900), ev(1000),
      ev(3700), ev(4000),
      ev(10900), ev(11000), ev(11100))
    // batch 2: an out-of-order hour-3 row plus the watermark sentinel
    val b2 = Seq(ev(11200), ev(19200))
    val stream = MemoryStream[TypedEvent]
    val q = EventsStream.hysteresisStream(stream.toDS(), 3L, 2L)
      .writeStream.format("memory").queryName("hyst_out")
      .outputMode("append").start()
    try {
      stream.addData(b1); q.processAllAvailable()
      stream.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("hyst_out").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime / 1000L,
        r.getLong(2), r.getInt(3), r.getBoolean(4))).toSet
    val expected = Set(
      ("m", 0L, 5L, 1, true), ("m", 3600L, 2L, 1, false),
      ("m", 7200L, 0L, 0, false), ("m", 10800L, 4L, 1, true),
      ("m", 14400L, 0L, 0, false))
    assert(streamed == expected, s"streamed=$streamed")
    // and the batch fixed-threshold core agrees on the finalized range
    val horizonUs = (19200L - 600L) * 1000000L
    val batch = graft.queries.Events.hysteresisFixed(
        (b1 ++ b2).map(e => (e.event_type, e.ts)).toDF("event_type", "ts"),
        3L, 2L)
      .collect()
      .filter(r => r.getLong(1) + 3600000000L <= horizonUs)
      .map(r => (r.getString(0), r.getLong(1) / 1000000L, r.getLong(2),
        r.getInt(3), r.getBoolean(4))).toSet
    assert(batch == expected, s"batch=$batch")
  }

  test("streaming audit gate flags planted violations per window") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def ts(m: String) = Timestamp.valueOf(s"2024-01-01 $m:00")
    // window 1: one negative value; window 2: one unknown type
    val rows = Seq(
      (1L, "view", ts("00:10"), 1.0), (2L, "view", ts("00:20"), -5.0),
      (3L, "purchase", ts("00:40"), 2.0),
      (4L, "mystery", ts("01:10"), 1.0), (5L, "view", ts("01:30"), 3.0))
    val valid = Seq("view", "purchase").toDF("event_type")
    val stream = MemoryStream[(Long, String, Timestamp, Double)]
    val sdf = stream.toDF().toDF("event_id", "event_type", "ts", "value")
    val q = graft.streaming.EventsStream.auditStream(sdf, valid, "10 minutes")
      .writeStream.format("memory").queryName("audit_out")
      .outputMode("append").start()
    try {
      stream.addData(rows); q.processAllAvailable()
      stream.addData((99L, "view", ts("05:00"), 0.0)); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("audit_out")
      .where(col("window_start") < ts("02:00")).collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got == Map(
      ("2024-01-01 00:00:00.0", "value_nonneg") -> ((3L, 1L, 0.333333)),
      ("2024-01-01 00:00:00.0", "type_known") -> ((3L, 0L, 0.0)),
      ("2024-01-01 01:00:00.0", "value_nonneg") -> ((2L, 0L, 0.0)),
      ("2024-01-01 01:00:00.0", "type_known") -> ((2L, 1L, 0.5))),
      s"audit drifted: $got")
  }

  test("streaming OHLC candles equal the batch aggregate on close") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def ts(m: String) = Timestamp.valueOf(s"2024-01-01 $m:00")
    // two buckets for type a (out-of-order arrivals), one for type b;
    // equal-time tie inside a bucket exercises the event_id tie-break
    val rows = Seq(
      (1L, "a", ts("00:01"), 10.0), (2L, "a", ts("00:04"), 7.0),
      (3L, "a", ts("00:03"), 99.0), (4L, "a", ts("00:03"), 1.0),
      (5L, "a", ts("00:07"), 5.0), (6L, "b", ts("00:02"), 3.0))
    val stream = MemoryStream[(Long, String, Timestamp, Double)]
    val sdf = stream.toDF().toDF("event_id", "event_type", "ts", "value")
    val q = graft.streaming.EventsStream.ohlcStream(sdf, "10 minutes")
      .writeStream.format("memory").queryName("ohlc_out")
      .outputMode("append").start()
    try {
      // deliver out of order across two micro-batches, then push the
      // watermark so both buckets finalize
      stream.addData(rows.take(2)); q.processAllAvailable()
      stream.addData(rows.drop(2)); q.processAllAvailable()
      stream.addData((99L, "z", ts("03:00"), 0.0)); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ohlc_out").where(col("event_type") =!= "z")
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getLong(6)))).toMap
    // batch truth over the same rows, same candle definition
    val batch = rows.toDF("event_id", "event_type", "ts", "value")
      .select(col("event_type"),
        (unix_micros(col("ts")) -
          pmod(unix_micros(col("ts")), lit(300000000L))).as("bucket_us"),
        unix_micros(col("ts")).as("ts_us"), col("event_id"), col("value"))
      .groupBy(col("event_type"), col("bucket_us"))
      .agg(min_by(col("value"), struct(col("ts_us"), col("event_id")))
          .as("open"),
        max(col("value")).as("high"), min(col("value")).as("low"),
        max_by(col("value"), struct(col("ts_us"), col("event_id")))
          .as("close"),
        count(lit(1)).as("n_events"))
      .collect().map(r => (r.getLong(1), r.getString(0)) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getLong(6)))).toMap
    assert(got == batch, s"stream=$got\nbatch=$batch")
    // scenario sanity: the 00:00 bucket of type a opens at 10 (00:01),
    // closes at 7 (00:04), with high 99 / low 1 from the tied minute
    val a0 = got((Timestamp.valueOf("2024-01-01 00:00:00").getTime * 1000L, "a"))
    assert(a0 == ((10.0, 99.0, 1.0, 7.0, 4L)), s"candle drifted: $a0")
  }

  test("streaming count-min sketch equals the batch sketch at every prefix") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.CountMin
    val b1 = Seq((1L, "alpha beta alpha gamma"), (2L, "beta beta delta"))
    val b2 = Seq((3L, "alpha epsilon zeta zeta zeta"))
    def batchSketch(rows: Seq[(Long, String)]): Set[(Int, Long, Long)] = {
      val vocab = rows.toDF("doc_id", "text")
        .select(explode(split(lower(col("text")), "\\s+")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      CountMin.sketch(vocab, "tok", "c").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    }
    val stream = MemoryStream[(Long, String)]
    val sdf = stream.toDF().toDF("doc_id", "text")
    val q = graft.streaming.DocsStream.heavyHittersStream(sdf)
      .writeStream.format("memory").queryName("cms_out")
      .outputMode("complete").start()
    try {
      // deterministic associative sums: the streamed sketch matches the
      // batch sketch after EVERY prefix of batches, not just the end
      stream.addData(b1); q.processAllAvailable()
      val afterB1 = spark.table("cms_out").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      assert(afterB1 == batchSketch(b1), "prefix sketch diverged")
      stream.addData(b2); q.processAllAvailable()
      val afterB2 = spark.table("cms_out").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      assert(afterB2 == batchSketch(b1 ++ b2), "final sketch diverged")
      // fixed-size state: the sketch can never exceed Depth*Width rows
      assert(afterB2.size <= CountMin.Depth * CountMin.Width)
      // every hash row carries the same total mass (= token count)
      val byRow = afterB2.groupBy(_._1).view.mapValues(_.toSeq.map(_._3).sum)
      val nToks = (b1 ++ b2).map(_._2.split("\\s+").length).sum
      assert(byRow.values.toSet == Set(nToks.toLong),
        s"row mass drifted: ${byRow.toMap}")
    } finally q.stop()
  }

  test("ewma stream recovers its per-user ring from the checkpoint") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.{EwmaEvent, EwmaPoint}
    def ev(id: Long, uid: Long, t: String, v: Double) =
      EwmaEvent(uid, id, Timestamp.valueOf(t), v)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ewma_ck").toString
    // foreachBatch is the checkpoint-recoverable sink (memory is not);
    // replayed batches after restart may duplicate, so keep a map
    val got = new java.util.concurrent.ConcurrentHashMap[(Long, Long), Double]
    val stream = MemoryStream[EwmaEvent]
    def start() = EventsStream.ewmaStream(stream.toDS(), "10 minutes")
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[EwmaPoint], _: Long) =>
        ds.collect().foreach(p => got.put((p.user_id, p.event_id), p.ewma))
      }.start()
    // run 1: seed user 7's ring (10 then 20), flush via watermark
    val q1 = start()
    try {
      stream.addData(ev(1L, 7L, "2024-03-01 10:00:00", 10.0),
        ev(2L, 7L, "2024-03-01 10:05:00", 20.0))
      q1.processAllAvailable()
      stream.addData(ev(3L, 9L, "2024-03-01 11:00:00", 1.0))
      q1.processAllAvailable()
      stream.addData(Seq.empty[EwmaEvent]); q1.processAllAvailable()
    } finally q1.stop()
    assert(got.containsKey((7L, 2L)), s"run 1 should flush user 7: $got")
    // run 2: a NEW query from the same checkpoint — user 7's ring
    // (20, 10) must have survived the restart
    val q2 = start()
    try {
      stream.addData(ev(4L, 7L, "2024-03-01 11:05:00", 30.0),
        ev(5L, 9L, "2024-03-01 12:00:00", 1.0))
      q2.processAllAvailable()
      stream.addData(Seq.empty[EwmaEvent]); q2.processAllAvailable()
    } finally q2.stop()
    // ewma(event 4) reaches back through the checkpoint: lags 20, 10
    val expected = BigDecimal(0.3 * 30) + BigDecimal(0.21 * 20) +
      BigDecimal(0.147 * 10)
    assert(math.abs(got.get((7L, 4L)) - expected.toDouble) < 1e-6,
      s"ring lost across restart: ${got.get((7L, 4L))} vs $expected")
  }

  test("transitions stream recovers its last-type carry from the checkpoint") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.{TransEvent, TransPair}
    def ev(id: Long, uid: Long, t: String, typ: String) =
      TransEvent(uid, id, Timestamp.valueOf(t), typ)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_tr_ck").toString
    val got = new java.util.concurrent.ConcurrentHashMap[
      (Long, Long), (String, String)]
    val stream = MemoryStream[TransEvent]
    def start() = EventsStream.transitionsStream(stream.toDS(), "10 minutes")
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[TransPair], _: Long) =>
        ds.collect().foreach(p =>
          got.put((p.user_id, p.event_id), (p.from_type, p.to_type)))
      }.start()
    // run 1: user 7 ends on type 'b' (finalized by the watermark)
    val q1 = start()
    try {
      stream.addData(ev(1L, 7L, "2024-03-01 10:00:00", "a"),
        ev(2L, 7L, "2024-03-01 10:05:00", "b"))
      q1.processAllAvailable()
      stream.addData(ev(3L, 9L, "2024-03-01 11:00:00", "z"))
      q1.processAllAvailable()
      stream.addData(Seq.empty[TransEvent]); q1.processAllAvailable()
    } finally q1.stop()
    assert(got.get((7L, 2L)) == (("a", "b")), s"run 1 flush: $got")
    // run 2: restart from the checkpoint — the next event must pair
    // with the carried 'b', not start a fresh chain
    val q2 = start()
    try {
      stream.addData(ev(4L, 7L, "2024-03-01 11:05:00", "c"),
        ev(5L, 9L, "2024-03-01 12:00:00", "z"))
      q2.processAllAvailable()
      stream.addData(Seq.empty[TransEvent]); q2.processAllAvailable()
    } finally q2.stop()
    assert(got.get((7L, 4L)) == (("b", "c")),
      s"carry lost across restart: ${got.get((7L, 4L))}")
  }

  test("streaming ewma reorders late rows and matches batch doubles exactly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.{EwmaEvent, EwmaPoint}
    def ev(id: Long, uid: Long, t: String, v: Double) =
      EwmaEvent(uid, id, Timestamp.valueOf(t), v)
    // user 7's 10:02 row ARRIVES after its 10:05 row but inside the
    // watermark — the buffer must still place it between 10:00 and
    // 10:05 in the kernel, exactly as the batch window does
    val all = Seq(
      ev(1L, 7L, "2024-03-01 10:00:00", 10.0),
      ev(2L, 7L, "2024-03-01 10:05:00", 20.0),
      ev(3L, 8L, "2024-03-01 09:00:00", 5.0),
      ev(4L, 7L, "2024-03-01 10:02:00", 40.0),
      ev(5L, 7L, "2024-03-01 10:30:00", 30.0),
      ev(6L, 9L, "2024-03-01 11:00:00", 1.0)) // advances wm; stays held
    val stream = MemoryStream[EwmaEvent]
    val q = EventsStream.ewmaStream(stream.toDS(), "10 minutes")
      .writeStream.format("memory").queryName("ewma_out")
      .outputMode("append").start()
    try {
      stream.addData(all.take(3)); q.processAllAvailable()
      stream.addData(all(3), all(4)); q.processAllAvailable()
      stream.addData(all(5)); q.processAllAvailable()
      // extra empty pass lets armed event-time timeouts flush
      stream.addData(Seq.empty[EwmaEvent]); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("ewma_out").as[EwmaPoint].collect()
      .map(p => (p.user_id, p.event_id) -> p.ewma).toMap
    // batch twin over the same rows from a parquet fixture dir
    val dir = java.nio.file.Files.createTempDirectory("graft_ewma_tw").toString
    all.toDS().select(col("event_id"), col("ts"), col("user_id"),
        lit("a").as("event_type"), col("value"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val batch = graft.queries.Events.qEventsEwma(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // final watermark = 11:00 − 10 min = 10:50: everything except the
    // 11:00 row itself is final and must have been emitted
    val expected = batch.filter { case ((_, eid), _) => eid != 6L }
    assert(streamed == expected,
      s"streamed=$streamed\nexpected=$expected")
    // the late-arriving 10:02 row sits at its event-time position:
    // ewma(event 2) includes 40.0 at lag 1, not arrival order
    assert(math.abs(streamed((7L, 2L)) - (0.3 * 20 + 0.21 * 40 + 0.147 * 10))
      < 1e-9)
  }

  test("streaming histogram quantiles equal the batch estimator per window") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.HistQuantile
    import graft.queries.Events.{HistBuckets, HistHi, HistLo}
    // window 1: values 10,30,50,470 for type a (the 470 arrives LATE,
    // after window-2 rows, but inside the watermark); window 2: 90×3
    val all = Seq(
      (Timestamp.valueOf("2024-03-01 10:05:00"), "a", 10.0),
      (Timestamp.valueOf("2024-03-01 10:10:00"), "a", 30.0),
      (Timestamp.valueOf("2024-03-01 10:20:00"), "a", 50.0),
      (Timestamp.valueOf("2024-03-01 11:05:00"), "a", 90.0),
      (Timestamp.valueOf("2024-03-01 11:06:00"), "a", 90.0),
      (Timestamp.valueOf("2024-03-01 10:40:00"), "a", 470.0), // late
      (Timestamp.valueOf("2024-03-01 13:00:00"), "b", 1.0)) // advances wm
    val stream = MemoryStream[(Timestamp, String, Double)]
    val q = EventsStream.histQuantileStream(
        stream.toDF().toDF("ts", "event_type", "value"))
      .writeStream.format("memory").queryName("hq_out")
      .outputMode("append").start()
    try {
      stream.addData(all.take(5)); q.processAllAvailable()
      stream.addData(all(5)); q.processAllAvailable()
      stream.addData(all(6)); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("hq_out").collect()
      .map(r => (r.getTimestamp(0).toInstant.toString, r.getString(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    // batch: the SAME aggregate over the same rows, grouped by the
    // same window bucket (only type-a windows are final at wm 12:50)
    val aggs = HistQuantile.bucketCounts(col("value"), HistLo, HistHi,
      HistBuckets)
    val cnts = (0 until HistBuckets).map(i => col(s"c$i"))
    val batch = all.toDF("ts", "event_type", "value")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("window.start").as("ws"), col("event_type"),
        cnts.reduce(_ + _).as("n"),
        round(HistQuantile.estimate(cnts, 0.5, HistLo, HistHi), 4),
        round(HistQuantile.estimate(cnts, 0.95, HistLo, HistHi), 4),
        round(HistQuantile.estimate(cnts, 0.99, HistLo, HistHi), 4))
      .collect()
      .map(r => (r.getTimestamp(0).toInstant.toString, r.getString(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    val expected = batch.filter(_._1._2 == "a")
    assert(streamed == expected, s"streamed=$streamed\nexpected=$expected")
    // the late 470 landed in window 1: its p99 reaches the top bucket
    assert(streamed(("2024-03-01T10:00:00Z", "a"))._1 == 4L,
      "late row must join its event-time window")
  }

  test("streaming cusum finalizes buckets in order and matches the batch recursion") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.{TypedEvent, CusumPoint}
    def ev(t: String, typ: String, v: Double) =
      TypedEvent(typ, Timestamp.valueOf(t), v)
    // type a, k = 5: bucket sums 7 (10h, split across an out-of-order
    // pair), 1 (11h), 12.5 (12h) → C = 2.0, 0.0, 7.5. The 10:30 row
    // ARRIVES after the 11:15 row but inside the 2 h watermark — it
    // must still land in the 10h bucket before it closes.
    val all = Seq(
      ev("2024-03-01 10:00:00", "a", 3.0),
      ev("2024-03-01 11:15:00", "a", 1.0),
      ev("2024-03-01 10:30:00", "a", 4.0),
      ev("2024-03-01 12:10:00", "a", 12.5),
      ev("2024-03-01 15:30:00", "b", 0.0)) // advances wm; stays held
    val stream = MemoryStream[TypedEvent]
    val q = EventsStream.cusumStream(stream.toDS(),
        new java.math.BigDecimal("5"), "2 hours")
      .writeStream.format("memory").queryName("cusum_out")
      .outputMode("append").start()
    try {
      stream.addData(all.take(2)); q.processAllAvailable()
      stream.addData(all(2), all(3)); q.processAllAvailable()
      stream.addData(all(4)); q.processAllAvailable()
      // empty passes let armed event-time timeouts flush
      stream.addData(Seq.empty[TypedEvent]); q.processAllAvailable()
      stream.addData(Seq.empty[TypedEvent]); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("cusum_out").as[CusumPoint].collect()
      .map(p => (p.event_type, p.bucket_start.toInstant.toString) -> p.cusum)
      .toMap
    // batch twin on the same rows; type b's 15h bucket is not yet
    // final (wm = 13:30), so only type a's three buckets compare
    val dir = java.nio.file.Files.createTempDirectory("graft_cusum_tw")
      .toString
    all.zipWithIndex.map { case (e, i) =>
      (i.toLong, e.ts, 1L, e.event_type, e.value) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val batch = graft.queries.Events.cusumFixedTarget(
        spark.read.parquet(s"$dir/events.parquet"),
        new java.math.BigDecimal("5")).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).toInstant.toString) ->
        r.getDouble(2)).toMap
    val expected = batch.filter(_._1._1 == "a")
    assert(streamed == expected, s"streamed=$streamed\nexpected=$expected")
    assert(streamed(("a", "2024-03-01T10:00:00Z")) == 2.0,
      "late row must fold into its event-time bucket")
  }

  test("streaming cusum drops rows for already-finalized buckets instead of re-emitting") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.{TypedEvent, CusumPoint}
    def ev(t: String, typ: String, v: Double) =
      TypedEvent(typ, Timestamp.valueOf(t), v)
    val stream = MemoryStream[TypedEvent]
    val q = EventsStream.cusumStream(stream.toDS(),
        new java.math.BigDecimal("1"), "2 hours")
      .writeStream.format("memory").queryName("cusum_late_out")
      .outputMode("append").start()
    try {
      // 10h bucket (sum 3, k=1 → C=2) finalizes once the 13:30 row
      // pushes the watermark to 11:30
      stream.addData(ev("2024-03-01 10:15:00", "a", 3.0),
        ev("2024-03-01 13:30:00", "b", 0.0))
      q.processAllAvailable()
      stream.addData(Seq.empty[TypedEvent]); q.processAllAvailable()
      // a row for the CLOSED 10h bucket, behind the watermark: it must
      // not re-open the bucket, fold into the carry out of order, or
      // emit a duplicate append-mode point
      stream.addData(ev("2024-03-01 10:45:00", "a", 99.0))
      q.processAllAvailable()
      stream.addData(Seq.empty[TypedEvent]); q.processAllAvailable()
      stream.addData(Seq.empty[TypedEvent]); q.processAllAvailable()
    } finally q.stop()
    val pts = spark.table("cusum_late_out").as[CusumPoint].collect()
      .filter(p => p.event_type == "a")
      .map(p => p.bucket_start.toInstant.toString -> p.cusum)
    assert(pts.count(_._1 == "2024-03-01T10:00:00Z") == 1,
      s"finalized bucket emitted more than once: ${pts.toSeq}")
    assert(pts.toMap.get("2024-03-01T10:00:00Z").contains(2.0),
      s"late 99.0 leaked into the closed bucket: ${pts.toSeq}")
  }

  test("streaming drift monitor scores windows against the frozen reference") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // reference: half the mass in bucket 0, half in bucket 9
    val ref = Seq(("a", 0.0, 10.0,
      Seq(0.5, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.5)))
      .toDF("event_type", "v_lo", "v_hi", "p_ref")
    val stream = MemoryStream[(Long, Timestamp, String, Double)]
    val q = EventsStream.driftStream(
        stream.toDF().toDF("event_id", "ts", "event_type", "value"),
        ref, "10 minutes")
      .writeStream.format("memory").queryName("drift_out")
      .outputMode("append").start()
    try {
      // one 10:00 window: 3× bucket 0, 1× bucket 9, 1× bucket 5
      // (impossible per reference); a 12:30 row closes the window
      stream.addData(
        (1L, Timestamp.valueOf("2024-03-01 10:01:00"), "a", 0.5),
        (2L, Timestamp.valueOf("2024-03-01 10:02:00"), "a", 0.5),
        (3L, Timestamp.valueOf("2024-03-01 10:03:00"), "a", 0.5),
        (4L, Timestamp.valueOf("2024-03-01 10:04:00"), "a", 9.5),
        (5L, Timestamp.valueOf("2024-03-01 10:05:00"), "a", 5.0))
      q.processAllAvailable()
      stream.addData((6L, Timestamp.valueOf("2024-03-01 12:30:00"), "a", 0.5))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("drift_out").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2),
        r.getDouble(3), r.getLong(4)))
    // e0 = 2.5, e9 = 2.5 → (3−2.5)²/2.5 + (1−2.5)²/2.5 = 1.0; the
    // bucket-5 row counts as unexpected, not as a chi² term
    assert(got.toSeq == Seq(("2024-03-01 10:00:00.0", "a", 5L, 1.0, 1L)),
      s"got ${got.toSeq}")
  }

  test("streaming transitions emit pairs in event-time order, not arrival") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.{TransEvent, TransPair}
    def ev(id: Long, uid: Long, t: String, typ: String) =
      TransEvent(uid, id, Timestamp.valueOf(t), typ)
    // user 7's 10:02 'b' arrives AFTER its 10:05 'c' but inside the
    // watermark — pairs must read a→b→c, exactly as the batch lag does
    val all = Seq(
      ev(1L, 7L, "2024-03-01 10:00:00", "a"),
      ev(2L, 7L, "2024-03-01 10:05:00", "c"),
      ev(3L, 8L, "2024-03-01 09:00:00", "a"),
      ev(4L, 7L, "2024-03-01 10:02:00", "b"),
      ev(5L, 8L, "2024-03-01 10:30:00", "b"),
      ev(6L, 9L, "2024-03-01 11:00:00", "z")) // advances wm; stays held
    val stream = MemoryStream[TransEvent]
    val q = EventsStream.transitionsStream(stream.toDS(), "10 minutes")
      .writeStream.format("memory").queryName("trans_out")
      .outputMode("append").start()
    try {
      stream.addData(all.take(3)); q.processAllAvailable()
      stream.addData(all(3), all(4)); q.processAllAvailable()
      stream.addData(all(5)); q.processAllAvailable()
      stream.addData(Seq.empty[TransEvent]); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("trans_out").as[TransPair].collect()
      .map(p => (p.user_id, p.event_id, p.from_type, p.to_type)).toSet
    // final watermark 10:50 finalizes everything but the 11:00 row;
    // user 7: a(10:00)→b(10:02)→c(10:05); user 8: a(09:00)→b(10:30)
    assert(streamed == Set(
      (7L, 4L, "a", "b"), (7L, 2L, "b", "c"), (8L, 5L, "a", "b")),
      s"streamed=$streamed")
  }

  test("enrichment join is unified: streaming events × static history") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.CdcEvent
    def us(t: String) = Timestamp.valueOf(t).getTime * 1000L
    // static SCD2 history: user 7 'a' open from 10:00; user 8 'b'
    // [09:00, 09:30) then 'c' open
    val hist = Seq(
      (7L, "a", us("2024-03-01 10:00:00"), Option.empty[Long]),
      (8L, "b", us("2024-03-01 09:00:00"),
        Some(us("2024-03-01 09:30:00"))),
      (8L, "c", us("2024-03-01 09:30:00"), Option.empty[Long]))
      .toDF("user_id", "event_type", "valid_from_us", "valid_to_us")
    def ev(id: Long, uid: Long, t: String) =
      CdcEvent(id, Timestamp.valueOf(t), uid, "view", 0.0)
    val rows = Seq(
      ev(1L, 7L, "2024-03-01 10:05:00"), // open 'a'
      ev(2L, 8L, "2024-03-01 09:15:00"), // closed 'b'
      ev(3L, 8L, "2024-03-01 09:45:00"), // open 'c'
      ev(4L, 9L, "2024-03-01 10:00:00")) // no history → NULL
    val stream = MemoryStream[CdcEvent]
    // the SAME function that serves q_events_enrich, on a stream —
    // a stateless stream-static left join
    val q = graft.queries.Maintain.enrichWithHistory(stream.toDS().toDF(), hist)
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").start()
    try {
      stream.addData(rows: _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("enrich_out")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) null else r.getString(3))).toMap
    val batch = graft.queries.Maintain.enrichWithHistory(rows.toDS().toDF(), hist)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) null else r.getString(3))).toMap
    assert(streamed == batch, s"stream $streamed vs batch $batch")
    assert(streamed == Map(1L -> "a", 2L -> "b", 3L -> "c", 4L -> null),
      s"states: $streamed")
  }

  test("streaming attribution equals the batch range window under out-of-order arrival") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.{AttrRow, TransEvent}
    def ev(id: Long, uid: Long, t: String, typ: String) =
      TransEvent(uid, id, Timestamp.valueOf(t), typ)
    // user 7: purchase at 10:20 ARRIVES before the 10:00 click that
    // must claim it; the 10:30 click is after the purchase and must
    // not. A second purchase at 11:00 sees both clicks. user 8's
    // purchase at 09:40 shares its exact timestamp with a click whose
    // event_id is HIGHER — a RANGE-frame peer the stream must absorb
    // before attributing. user 9 is organic (no clicks).
    val rows = Seq(
      ev(1L, 7L, "2024-03-01 10:20:00", "purchase"),
      ev(2L, 7L, "2024-03-01 10:00:00", "click"),
      ev(3L, 7L, "2024-03-01 10:30:00", "click"),
      ev(4L, 7L, "2024-03-01 11:00:00", "purchase"),
      ev(5L, 8L, "2024-03-01 09:40:00", "purchase"),
      ev(6L, 8L, "2024-03-01 09:40:00", "click"),
      ev(7L, 9L, "2024-03-01 10:10:00", "purchase"),
      ev(8L, 9L, "2024-03-02 10:09:00", "view"))
    val stream = MemoryStream[TransEvent]
    val q = EventsStream.attributionStream(stream.toDS(), "10 minutes")
      .writeStream.format("memory").queryName("attr_out")
      .outputMode("append").start()
    try {
      // users 8/9 ride in the first batch (their timestamps sit below
      // the watermark the 10:30 click establishes, and rows behind the
      // watermark are late-dropped by contract); the next-day view is
      // the final watermark pusher that finalizes the 11:00 purchase
      stream.addData(rows.take(3) ++ rows.slice(4, 7): _*)
      q.processAllAvailable()
      stream.addData(rows(3)); q.processAllAvailable()
      stream.addData(rows(7)); q.processAllAvailable()
      stream.addData(Seq.empty[TransEvent]); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("attr_out").as[AttrRow].collect()
      .map(r => r.event_id ->
        ((r.first_click_us, r.last_click_us, r.n_clicks_win))).toMap
    // the batch core over the same planted frame is the oracle
    val batch = graft.queries.Events.attributionOver(
      rows.toDS().toDF()
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us")))
      .collect()
      .map(r => r.getLong(0) -> ((
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4)),
        r.getLong(5)))).toMap
    assert(streamed == batch, s"stream $streamed vs batch $batch")
    def us(t: String) = Timestamp.valueOf(t).getTime * 1000L
    assert(streamed(1L) ==
      ((Some(us("2024-03-01 10:00:00")), Some(us("2024-03-01 10:00:00")), 1L)))
    assert(streamed(4L) ==
      ((Some(us("2024-03-01 10:00:00")), Some(us("2024-03-01 10:30:00")), 2L)))
    assert(streamed(5L) ==
      ((Some(us("2024-03-01 09:40:00")), Some(us("2024-03-01 09:40:00")), 1L)),
      s"same-instant click is a RANGE peer: ${streamed(5L)}")
    assert(streamed(7L) == ((None, None, 0L)), "organic purchase")
  }

  test("streaming funnel folds out-of-order stages to the batch triple") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.{FunnelRow, TransEvent}
    def ev(id: Long, uid: Long, t: String, typ: String) =
      TransEvent(uid, id, Timestamp.valueOf(t), typ)
    def us(t: String) = Timestamp.valueOf(t).getTime * 1000L
    // user 7's purchase ARRIVES before its click; the buffer must
    // still fold view(10:00) → click(10:05) → purchase(10:12) in
    // event-time order. user 8's click PRECEDES its first view in
    // event time — the batch min-chain skips it (no click strictly
    // after t_view), so the stream must too.
    val stream = MemoryStream[TransEvent]
    val q = EventsStream.funnelStream(stream.toDS(), "10 minutes")
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode("append").start()
    try {
      stream.addData(ev(1L, 7L, "2024-03-01 10:00:00", "view"),
        ev(2L, 8L, "2024-03-01 09:55:00", "click"))
      q.processAllAvailable()
      stream.addData(ev(3L, 7L, "2024-03-01 10:12:00", "purchase"),
        ev(4L, 8L, "2024-03-01 09:58:00", "view"))
      q.processAllAvailable()
      stream.addData(ev(5L, 7L, "2024-03-01 10:05:00", "click"),
        ev(6L, 9L, "2024-03-01 11:00:00", "other"))
      q.processAllAvailable()
      stream.addData(Seq.empty[TransEvent]); q.processAllAvailable()
    } finally q.stop()
    // changelog semantics: the latest (highest-stage) row per user
    val last = spark.table("funnel_out").as[FunnelRow].collect()
      .groupBy(_.user_id).map { case (u, rs) => u -> rs.maxBy(_.stage) }
    assert(last(7L).t_view.contains(us("2024-03-01 10:00:00")) &&
      last(7L).t_click.contains(us("2024-03-01 10:05:00")) &&
      last(7L).t_purchase.contains(us("2024-03-01 10:12:00")) &&
      last(7L).stage == 3, s"user 7: ${last(7L)}")
    assert(last(8L).t_view.contains(us("2024-03-01 09:58:00")) &&
      last(8L).t_click.isEmpty && last(8L).stage == 1,
      s"pre-view click must not count: ${last(8L)}")
    assert(!last.contains(9L), s"non-funnel type emitted: $last")
  }

  test("streaming rate limiter matches the batch RANGE verdicts; late rows drop") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.{CdcEvent, RateRow}
    def ev(id: Long, uid: Long, t: String, off: Int = 0) =
      CdcEvent(id, new Timestamp(Timestamp.valueOf(t).getTime + off * 1000L),
        uid, "view", 0.0)
    // user 1: 7 events 5 s apart → c60 climbs 1..7, events 6 and 7
    // throttled; user 2: two SAME-INSTANT events (mutual RANGE peers,
    // c60 = 2 each) and one 70 s later (peers aged out, c60 = 1)
    val u1 = (0 until 7).map(k => ev(10L + k, 1L, "2024-03-01 10:00:00", 5 * k))
    val u2 = Seq(ev(30L, 2L, "2024-03-01 10:00:00"),
      ev(31L, 2L, "2024-03-01 10:00:00"),
      ev(32L, 2L, "2024-03-01 10:01:10"))
    val sentinel = ev(99L, 99L, "2024-03-01 11:00:00")
    val stream = MemoryStream[CdcEvent]
    val q = EventsStream.rateLimitStream(stream.toDS(), 5, "10 minutes")
      .writeStream.format("memory").queryName("rate_out")
      .outputMode("append").start()
    try {
      // out-of-order delivery: the tail of the burst arrives first
      stream.addData(u1.drop(4) ++ u2.take(1): _*)
      q.processAllAvailable()
      stream.addData(u1.take(4) ++ u2.drop(1): _*)
      q.processAllAvailable()
      stream.addData(sentinel)
      q.processAllAvailable()
      // empty batch: the raised watermark fires the timeouts and
      // finalizes every pending verdict
      stream.addData(Seq.empty[CdcEvent])
      q.processAllAvailable()
      // late: user 1 is finalized through 10:50, this 10:00:02 row
      // must drop, not rewrite history
      stream.addData(ev(50L, 1L, "2024-03-01 10:00:02"))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("rate_out").as[RateRow].collect()
      .map(r => r.event_id -> ((r.ts_us, r.c60, r.throttled))).toMap
    assert(!streamed.contains(50L), "late row must not emit a verdict")
    assert(!streamed.contains(99L), "unfinalized sentinel must not emit")
    val batch = graft.queries.Events.rateLimitVerdicts(
      (u1 ++ u2).toDF("event_id", "ts", "user_id", "event_type", "value"))
      .collect()
      .map(r => r.getLong(1) ->
        ((r.getLong(3), r.getLong(4), r.getInt(5) == 1))).toMap
    assert(streamed == batch,
      s"stream/batch verdict drift:\n$streamed\nvs\n$batch")
  }

  test("streaming twap holds equal the batch hold table; late rows cannot rewrite") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.{CdcEvent, TwapHold}
    def ev(id: Long, uid: Long, t: String, v: Double) =
      CdcEvent(id, Timestamp.valueOf(t), uid, "view", v)
    // u1: 1.00 held 6 h, 3.00 held to midnight (next event is next
    // day), 2.00 held to ITS midnight; u2: single 2.00 closed at day
    // end purely by the event-time timeout
    val rows = Seq(
      ev(1, 1, "2024-03-01 00:00:00", 1.0),
      ev(2, 1, "2024-03-01 06:00:00", 3.0),
      ev(3, 1, "2024-03-02 01:00:00", 2.0),
      ev(4, 2, "2024-03-01 12:00:00", 2.0))
    // 13 h watermark: the 6 h out-of-order delivery below must stay
    // inside the lateness allowance or the ENGINE drops it pre-operator
    val sentinel = ev(99, 99, "2024-03-04 12:00:00", 0.0)
    val stream = MemoryStream[CdcEvent]
    val q = EventsStream.twapStream(stream.toDS(), "13 hours")
      .writeStream.format("memory").queryName("twap_out")
      .outputMode("append").start()
    try {
      // out-of-order: the later events arrive first
      stream.addData(rows(1), rows(3))
      q.processAllAvailable()
      stream.addData(rows(0), rows(2))
      q.processAllAvailable()
      stream.addData(sentinel)
      q.processAllAvailable()
      // empty batch: raised watermark fires the day-end timeouts
      stream.addData(Seq.empty[CdcEvent])
      q.processAllAvailable()
      // late row INSIDE an already-finalized hold — must drop, else it
      // would silently shorten event 1's emitted duration
      stream.addData(ev(50, 1, "2024-03-01 03:00:00", 9.0))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("twap_out").as[TwapHold].collect()
      .map(h => (h.user_id, h.ts_us) -> ((h.val_c, h.dt_us))).toMap
    assert(!streamed.valuesIterator.contains((900L, 10800000000L)),
      "late row must not emit a hold")
    assert(!streamed.keySet.exists(_._1 == 99L),
      "unfinalized sentinel must not emit")
    val batch = graft.queries.Events.twapHolds(
      rows.map(r => (r.event_id, r.ts, r.user_id, r.event_type, r.value))
        .toDF("event_id", "ts", "user_id", "event_type", "value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(3)) ->
        ((r.getLong(4), r.getLong(5)))).toMap
    assert(streamed == batch,
      s"stream/batch hold drift:\n$streamed\nvs\n$batch")
  }

  test("sub-millisecond event times order the buffered twins as unix_micros does") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.{Dataset, Encoder}
    import graft.streaming.{AttrRow, EwmaEvent, EwmaPoint, FunnelRow,
      TransEvent, TransPair}
    def us(t: String): Long = {
      val x = Timestamp.valueOf(t)
      x.getTime * 1000L + x.getNanos / 1000L % 1000L
    }
    // user 7: a view at .000100 and a click at .000600 of ONE
    // millisecond (the click is strictly later), then a click at
    // 10:00:01.000200 whose event_id (4) is the reverse of its time
    // order against the purchase at 10:00:01.000900 (id 3). A ms
    // clock ties both pairs and breaks the ties by event_id.
    val rows: Seq[(Long, Timestamp, Long, String, Double)] = Seq(
      (1L, "2024-03-01 10:00:00.0001", "view", 10.0),
      (2L, "2024-03-01 10:00:00.0006", "click", 20.0),
      (3L, "2024-03-01 10:00:01.0009", "purchase", 30.0),
      (4L, "2024-03-01 10:00:01.0002", "click", 40.0))
      .map { case (id, t, typ, v) => (id, Timestamp.valueOf(t), 7L, typ, v) }
    // pushes the watermark to 10:50; itself stays held
    val sentinel: (Long, Timestamp, Long, String, Double) =
      (9L, Timestamp.valueOf("2024-03-01 11:00:00"), 9L, "other", 0.0)
    val dir = java.nio.file.Files.createTempDirectory("graft_subms_tw").toString
    (rows :+ sentinel).toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // the later millisecond arrives first; an empty batch fires timeouts
    def run[E: Encoder, O: Encoder](
        name: String, mk: ((Long, Timestamp, Long, String, Double)) => E)(
        twin: Dataset[E] => Dataset[O]): Seq[O] = {
      val stream = MemoryStream[E]
      val q = twin(stream.toDS()).writeStream.format("memory")
        .queryName(name).outputMode("append").start()
      try {
        stream.addData(rows.drop(2).map(mk)); q.processAllAvailable()
        stream.addData(rows.take(2).map(mk)); q.processAllAvailable()
        stream.addData(mk(sentinel)); q.processAllAvailable()
        stream.addData(Seq.empty[E]); q.processAllAvailable()
      } finally q.stop()
      spark.table(name).as[O].collect().toSeq
    }
    def trans(r: (Long, Timestamp, Long, String, Double)) =
      TransEvent(r._3, r._1, r._2, r._4)

    val ewma = run("subms_ewma", r => EwmaEvent(r._3, r._1, r._2, r._5))(
      EventsStream.ewmaStream(_, "10 minutes"))
      .map(p => (p.user_id, p.event_id) -> p.ewma).toMap
    val ewmaBatch = graft.queries.Events.qEventsEwma(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      .filter { case ((_, eid), _) => eid != 9L }
    assert(ewma == ewmaBatch, s"ewma stream=$ewma\nbatch=$ewmaBatch")

    val pairs = run("subms_trans", trans _)(
      EventsStream.transitionsStream(_, "10 minutes"))
      .groupBy(p => (p.from_type, p.to_type))
      .map { case (k, v) => k -> v.size.toLong }
    val pairsBatch = graft.queries.Events.qEventsTransitions(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(pairs == pairsBatch, s"transitions stream=$pairs\nbatch=$pairsBatch")

    val attr = run("subms_attr", trans _)(
      EventsStream.attributionStream(_, "10 minutes")).toSet
    val attrBatch = graft.queries.Events.attributionOver(
      (rows :+ sentinel).toDF("event_id", "ts", "user_id", "event_type", "value")
        .withColumn("ts_us", unix_micros(col("ts"))))
      .as[AttrRow].collect().toSet
    assert(attr == attrBatch, s"attribution stream=$attr\nbatch=$attrBatch")

    val funnel = run("subms_funnel", trans _)(
      EventsStream.funnelStream(_, "10 minutes"))
      .groupBy(_.user_id).map { case (u, rs) => u -> rs.maxBy(_.stage) }
    val f = graft.queries.Events.qEventsFunnel(spark, dir).collect().head
    assert((1 to 3).map(k => funnel.values.count(_.stage >= k).toLong) ==
      Seq("n_view", "n_click", "n_purchase").map(f.getAs[Long]),
      s"funnel stream=$funnel\nbatch=$f")
    assert(funnel(7L) == FunnelRow(7L,
      Some(us("2024-03-01 10:00:00.0001")), Some(us("2024-03-01 10:00:00.0006")),
      Some(us("2024-03-01 10:00:01.0009")), 3),
      s"user 7: ${funnel(7L)}")
  }

  test("only EventTimeFold buffers rows to the watermark; no ms clock in graft.streaming") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    // where an event-time timeout may appear outside the fold, and why
    val timeoutAllowed = Map(
      "EventTimeFold.scala" -> "the fold itself",
      "EventsStream.scala#gapfillStream" ->
        "adds each row to its bucket partial on arrival: O(open buckets) state, no row buffer",
      "EventsStream.scala#interpolateStream" ->
        "bucket partials as in gapfillStream, plus the look-ahead anchor")
    val TopDef = """^  def (\w+).*""".r
    val files = Files.walk(Paths.get("src/main/scala/graft")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty)
    val timeouts = for {
      p <- files
      lines = Files.readAllLines(p).asScala.toSeq
      (line, i) <- lines.zipWithIndex
      if line.contains("EventTimeTimeout")
    } yield {
      val owner = lines.take(i + 1).reverseIterator
        .collectFirst { case TopDef(n) => n }.getOrElse("")
      val file = p.getFileName.toString
      val where = if (timeoutAllowed.contains(file)) file else s"$file#$owner"
      where -> s"$p:${i + 1}: ${line.trim}"
    }
    val offences = timeouts.filterNot(t => timeoutAllowed.contains(t._1))
    assert(offences.isEmpty,
      s"buffer rows to the watermark through EventTimeFold:\n${offences.map(_._2).mkString("\n")}")
    assert(timeouts.map(_._1).toSet == timeoutAllowed.keySet, "stale allowlist entry")
    val msClock = for {
      p <- files if p.toString.contains("/graft/streaming/")
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if line.contains("getTime * 1000")
    } yield s"$p:${i + 1}: ${line.trim}"
    assert(msClock.isEmpty,
      s"read event time with EventTimeFold.micros:\n${msClock.mkString("\n")}")
  }
}
