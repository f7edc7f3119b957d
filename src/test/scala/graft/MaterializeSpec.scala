package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
import org.apache.spark.sql.functions._
import graft.plans.PlanShape

object MaterializeSpec {
  final case class Ev(id: Long, kind: String)
}

/** graft.Materialize: measured statistics, no extra job, no layout. */
class MaterializeSpec extends SparkSpec {
  import MaterializeSpec.Ev

  /** True when a checkpoint's scan sits under a broadcast exchange in
    * the plan AQE starts from (nothing runs). */
  private def broadcastsCheckpoint(df: DataFrame): Boolean =
    PlanShape.nodes(df.queryExecution.executedPlan).exists {
      case b: BroadcastExchangeLike =>
        b.asInstanceOf[SparkPlan].collectFirst { case r: RDDScanExec => r }.nonEmpty
      case _ => false
    }

  // 2M rows built from a 1-row range: the build plan estimates bytes
  private def twoMillion: DataFrame =
    spark.range(1).select(explode(sequence(lit(1L), lit(2000000L))).as("k"))

  test("a measured 2M-row checkpoint is never the broadcast side; a plain one is") {
    val other = spark.range(0, 3000000).toDF("k")
    val m = Materialize(twoMillion)
    assert(m.queryExecution.optimizedPlan.stats.rowCount.contains(BigInt(2000000)))
    assert(!broadcastsCheckpoint(m.join(other, "k")), "measured checkpoint broadcast")
    // negative control: the plain checkpoint keeps its build estimate
    assert(broadcastsCheckpoint(twoMillion.localCheckpoint().join(other, "k")),
      "plain localCheckpoint no longer carries its estimate")
  }

  test("a tiny checkpoint whose estimate exceeds the threshold is broadcast") {
    val tiny = spark.range(0, 10000000).where(col("id") % 10000 === 0).toDF("k")
    assert(tiny.queryExecution.optimizedPlan.stats.sizeInBytes >
      org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold)
    assert(broadcastsCheckpoint(spark.range(0, 3000000).toDF("k").join(Materialize(tiny), "k")))
  }

  test("Materialize runs exactly the jobs localCheckpoint runs") {
    def agg = spark.range(0, 100000).groupBy((col("id") % 7).as("g")).count()
    val (_, plain) = jobsLaunchedBy(agg.localCheckpoint())
    val (_, measured) = jobsLaunchedBy(Materialize(agg))
    assert(measured == plain)
  }

  test("a typed Dataset keeps its type and rows") {
    import spark.implicits._
    val ds = Seq(Ev(2, "b"), Ev(1, "a")).toDS()
    val m: org.apache.spark.sql.Dataset[Ev] = Materialize(ds)
    assert(m.collect().sortBy(_.id).toSeq == Seq(Ev(1, "a"), Ev(2, "b")))
  }

  test("under AQE a repartitioned checkpoint carries no layout") {
    // pins the Spark fact Materialize's contract states: if an upgrade
    // starts carrying the build's hash layout, revisit the exchanges
    // the iterative operators plan per round
    val m = Materialize(spark.range(0, 1000).select((col("id") % 13).as("k"))
      .repartition(col("k")))
    assert(PlanShape.of(m.groupBy(col("k")).count()).exchanges
      .contains(PlanShape.Exchange("hash", Seq("k"))))
  }

  test("recording returns each materialized plan in build order, only inside its scope") {
    val (_, shapes) = Materialize.recording {
      Materialize(spark.range(10).toDF("k"))
      Materialize(spark.range(10).groupBy(col("id") % 2).count())
    }
    assert(shapes.map(_.aggregates.nonEmpty) == Seq(false, true))
    assert(!shapes(1).finalPlan, "read after the job")
    assert(Materialize.recording(())._2.isEmpty)
  }

  test("nothing in src/main checkpoints or caches outside Materialize") {
    val banned = """localCheckpoint\(|\.cache\(\)|\.persist\(""".r
    val files = Files.walk(Paths.get("src/main")).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Materialize.scala")
      .toSeq
    assert(files.nonEmpty)
    val offences = for {
      p <- files
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if banned.findFirstIn(line).nonEmpty
    } yield s"$p:${i + 1}: ${line.trim}"
    assert(offences.isEmpty, s"materialize through graft.Materialize:\n${offences.mkString("\n")}")
  }
}
