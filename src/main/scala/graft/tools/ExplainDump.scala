package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.ExplainMode
import graft.{Materialize, Session, SparkEntry}
import graft.plans.PlanShape

/** Dev tool: with no arguments, writes `plans.jsonl` — one
  * [[graft.plans.PlanShape]] line per registered query, sorted by name,
  * with the plans its build materialized — the committed record
  * PlanLintSpec checks the plans against, so a plan change shows up as a
  * one-line diff. Regenerate after plan-shape
  * changes: `sbt "runMain graft.tools.ExplainDump"`. With query names
  * as arguments (`runMain graft.tools.ExplainDump q_tpch3 q_tpch5`, or
  * one comma-separated list) it prints those formatted plans to stdout
  * instead. Input dir from `SPARK_GRAFT_SF_DIR` (default sf0.001). */
object ExplainDump {

  def main(args: Array[String]): Unit = {
    val queries = SparkEntry.select(if (args.isEmpty) None else Some(args.mkString(",")))
    val spark = Session.local()
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    if (args.nonEmpty)
      queries.foreach { case (name, q) =>
        val plan = q(spark, sf).queryExecution.explainString(ExplainMode.fromString("formatted"))
        println(s"\n========== $name ==========\n$plan")
      }
    else {
      val lines = queries.map { case (name, q) =>
        val (df, materialized) = Materialize.recording(q(spark, sf))
        PlanShape.line(name, df, materialized) + "\n"
      }
      Files.writeString(Paths.get("plans.jsonl"), lines.mkString)
      println(s"wrote plans.jsonl (${lines.size} plans)")
    }
    spark.stop()
  }
}
