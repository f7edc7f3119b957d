package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Tables.events must normalize BOTH physical `ts` encodings the
  * testdata has shipped with — INT64 nanos (read as LongType under
  * `nanosAsLong`) and TIMESTAMP(MICROS) without UTC adjustment (read
  * as TIMESTAMP_NTZ) — to one TimestampType with identical wall-clock
  * instants, so every downstream window/range/stream query is
  * type-stable across testdata generations.
  *
  * Tables.load memoizes each file's inferred schema: a repeated load of
  * an unchanged file must launch no Spark job, and a rewrite of the
  * same path — a single file or a Spark-written directory — must be
  * picked up. */
class TablesSpec extends SparkSpec {

  // 2024-01-02T03:04:05.123456Z in epoch microseconds
  private val micros = 1704164645123456L

  private def writeEvents(dir: String, tsCol: org.apache.spark.sql.Column,
      tsType: DataType): Unit = {
    import spark.implicits._
    Seq((1L, 7L, "click", 1.5, "{}"))
      .toDF("event_id", "user_id", "event_type", "value", "props")
      .withColumn("ts", tsCol.cast(tsType))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  test("events.ts: TIMESTAMP_NTZ micros normalizes to TimestampType, same wall clock") {
    val dir = Files.createTempDirectory("graft_tbl_ntz").toString
    writeEvents(dir, lit(micros).cast(LongType), LongType)
    // rewrite ts as NTZ micros of the same instant
    import spark.implicits._
    Seq((1L, 7L, "click", 1.5, "{}"))
      .toDF("event_id", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(lit(micros)).cast(TimestampNTZType))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val df = Tables.events(spark, dir)
    assert(df.schema("ts").dataType === TimestampType)
    val got = df.select(unix_micros(col("ts"))).head.getLong(0)
    assert(got === micros)
  }

  test("events.ts: INT64 nanos normalizes to TimestampType, truncated to micros") {
    val dir = Files.createTempDirectory("graft_tbl_ns").toString
    // raw long nanos exercises the LongType branch (same shape the
    // nanosAsLong reader produces for TIMESTAMP(NANOS) files)
    writeEvents(dir, lit(micros * 1000L + 789L), LongType)
    val df = Tables.events(spark, dir)
    assert(df.schema("ts").dataType === TimestampType)
    val got = df.select(unix_micros(col("ts"))).head.getLong(0)
    assert(got === micros) // sub-microsecond nanos truncate, not round
  }

  test("a second load of an unchanged file launches no Spark job, same schema") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_tbl_memo").toString
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    val (first, inferJobs) = jobsLaunchedBy(Tables.load(spark, dir, "t"))
    assert(inferJobs >= 1, "the first load should infer the schema with a job")
    val (second, jobs) = jobsLaunchedBy(Tables.load(spark, dir, "t"))
    assert(jobs === 0)
    assert(second.schema === first.schema)
    assert(second.orderBy("k").collect() === first.orderBy("k").collect())
  }

  /** Writes `t.parquet` in a new directory with `write`, loads it twice
    * (the second from the memo), rewrites it with a different schema and
    * checks that the next load sees the new schema and rows. */
  private def checkRewritePickedUp(write: (DataFrame, String) => Unit): Unit = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_tbl_rw").toString
    write(Seq((1L, "a")).toDF("k", "v"), s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").columns.toSeq === Seq("k", "v"))
    assert(jobsLaunchedBy(Tables.load(spark, dir, "t"))._2 === 0)
    write(Seq((2L, 2.5, true)).toDF("k", "w", "b"), s"$dir/t.parquet")
    val df = Tables.load(spark, dir, "t")
    assert(df.columns.toSeq === Seq("k", "w", "b"))
    assert(df.as[(Long, Double, Boolean)].collect().toSeq === Seq((2L, 2.5, true)))
  }

  test("rewriting a single file with a new schema is picked up") {
    checkRewritePickedUp { (df, target) =>
      val tmp = Files.createTempDirectory("graft_tbl_part")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles().find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, Paths.get(target), StandardCopyOption.REPLACE_EXISTING)
    }
  }

  test("overwriting a Spark-written directory with a new schema is picked up") {
    checkRewritePickedUp((df, target) => df.write.mode("overwrite").parquet(target))
  }

  test("a second build of the TPC-H bench queries launches no Spark job") {
    // the per-query fixed cost the schema memo removed: re-reading an
    // input used to re-run parquet schema inference, one job per read
    for (q <- Seq("q_tpch1", "q_tpch3", "q_tpch9", "q_tpch18")) {
      SparkEntry.queries(q)(spark, sf)
      val (_, jobs) = jobsLaunchedBy(SparkEntry.queries(q)(spark, sf))
      assert(jobs === 0, s"$q: building it again launched $jobs jobs")
    }
  }
}
