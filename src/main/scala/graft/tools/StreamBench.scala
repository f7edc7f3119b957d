package graft.tools

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.Materialize

/** Streaming-twin THROUGHPUT bench (round 13; VERDICT r12 item 5: the
  * 26 twins had equivalence proofs but no load numbers). Feeds the
  * real events corpus through a MemoryStream in fixed-size chunks and
  * drives each representative twin to completion, reporting rows/s,
  * per-batch latency, and state-store size from the engine's own
  * StreamingQueryProgress (in bytes: the store's estimate of every
  * state version it keeps cached, and the custom metric
  * stateOnCurrentVersionSizeBytes, the current version alone) — the numbers a production deployment reads
  * off its monitoring before sizing executors.
  *
  * MemoryStream is driver-fed by design (it IS the test source Spark
  * ships for this purpose); the measured path — state store updates,
  * watermark advance, shuffle, sink — is the real engine. With a real
  * Kafka source only the feed side changes.
  *
  * Usage: runMain graft.tools.StreamBench <sfDir> <outJson> [chunkRows]
  */
object StreamBench {

  case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  case class TwinResult(name: String, rows: Long, wallSec: Double,
      rowsPerSec: Double, batches: Int, maxBatchMs: Long,
      stateRows: Long, stateBytesAllVersions: Long, stateBytesCurrent: Long)

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outPath = args(1)
    val chunk = if (args.length > 2) args(2).toInt else 50000
    val spark = graft.Session.local()
    import spark.implicits._

    // the feed: real corpus rows in event-time order, so watermarks
    // advance the way a live topic's would. Materialized cluster-side
    // ONCE (localCheckpoint) and streamed to the driver per twin via
    // toLocalIterator — the driver holds one partition at a time, so a
    // 10x/skewed dir cannot OOM it (ADVICE r13); a hard cap bounds the
    // run regardless (env-overridable).
    val maxFeed = sys.env.getOrElse("SPARK_GRAFT_STREAM_MAX_ROWS",
      "2000000").toInt
    val feedDf = Materialize(graft.Tables.events(spark, sfDir)
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .orderBy("ts", "event_id").limit(maxFeed).as[Ev])
    val nFeed = feedDf.count()
    println(s"[streambench] feed: $nFeed rows from $sfDir (cap $maxFeed)")

    val twins: Seq[(String, DataFrame => DataFrame)] = Seq(
      "tumbling_agg" -> (df => graft.streaming.EventsStream.tumblingAgg(df)),
      "session_native" ->
        (df => graft.streaming.EventsStream.sessionNativeStream(df)),
      "ohlc" ->
        (df => graft.streaming.EventsStream.ohlcStream(df, "2 hours")),
      "dedup" ->
        (df => graft.streaming.EventsStream.dedupStream(df, "2 hours")),
      "ewma" -> (df => graft.streaming.EventsStream
        .ewmaStream(df.as[graft.streaming.EwmaEvent]).toDF()),
      "transitions" -> (df => graft.streaming.EventsStream
        .transitionsStream(df.as[graft.streaming.TransEvent]).toDF()),
      "cusum" -> (df => graft.streaming.EventsStream
        .cusumStream(df.as[graft.streaming.TypedEvent],
          new java.math.BigDecimal("50")).toDF()))

    var sid = 0
    val results = twins.map { case (name, twin) =>
      // fresh stream + checkpoint per twin; append mode (every twin
      // here is watermark-finalized), noop sink so only the engine
      // path — state store, watermark advance, shuffle — is timed
      sid += 1
      implicit val sqlCtx = spark.sqlContext
      val ms2 = MemoryStream[Ev]
      val out2 = twin(ms2.toDF())
      val ckptDir = java.nio.file.Files.createTempDirectory(s"sb2_$name")
      val q2 = out2.writeStream
        .format("noop")
        .outputMode("append")
        .option("checkpointLocation", ckptDir.toString)
        .queryName(s"sb2_$name")
        .start()
      val t0 = System.nanoTime()
      // bounded driver memory: pull the checkpointed feed one chunk at
      // a time (toLocalIterator fetches a partition at a time). Each
      // chunk is its own micro-batch, so batch counts and max batch ms
      // do not depend on how fast the trigger drains the source
      import scala.jdk.CollectionConverters._
      feedDf.toLocalIterator().asScala.grouped(chunk).foreach { g =>
        ms2.addData(g.toIndexedSeq)
        q2.processAllAvailable()
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val progress = q2.recentProgress
      val batches = progress.length
      val maxBatch = if (progress.isEmpty) 0L
        else progress.map(_.batchDuration).max
      val (stRows, stAllVersions, stCurrent) = progress.reverse
        .find(_.stateOperators.nonEmpty)
        .map { p =>
          val ops = p.stateOperators.toSeq
          (ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
            ops.map(o => Option(o.customMetrics.get("stateOnCurrentVersionSizeBytes"))
              .fold(0L)(_.longValue)).sum)
        }.getOrElse((0L, 0L, 0L))
      q2.stop()
      // temp checkpoint dirs otherwise accumulate across runs (ADVICE r13)
      try {
        java.nio.file.Files.walk(ckptDir).sorted(
          java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
      } catch { case _: Throwable => () }
      val r = TwinResult(name, nFeed, wall,
        nFeed / wall, batches, maxBatch, stRows, stAllVersions, stCurrent)
      println(f"[streambench] $name%-16s ${r.rowsPerSec}%10.0f rows/s  " +
        f"wall ${r.wallSec}%6.2f s  batches ${r.batches}%3d  " +
        f"maxBatch ${r.maxBatchMs} ms  state ${r.stateRows} rows, " +
        f"${r.stateBytesCurrent} B current / ${r.stateBytesAllVersions} B all versions")
      r
    }

    val qs = results.map { r =>
      "\"" + r.name + "\":{" +
        s""""rows":${r.rows},"wall_sec":${f"${r.wallSec}%.3f"},""" +
        s""""rows_per_sec":${f"${r.rowsPerSec}%.0f"},""" +
        s""""batches":${r.batches},"max_batch_ms":${r.maxBatchMs},""" +
        s""""state_rows":${r.stateRows},""" +
        s""""state_bytes_current":${r.stateBytesCurrent},""" +
        s""""state_bytes_all_versions":${r.stateBytesAllVersions}}"""
    }.mkString("{", ",", "}")
    val line = s"""{"sf":"$sfDir","chunk":$chunk,"twins":$qs}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes("UTF-8"))
    println(line)
    spark.stop()
  }
}
