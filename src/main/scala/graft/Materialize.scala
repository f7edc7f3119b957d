package org.apache.spark.sql.classic {

  import org.apache.spark.sql.Column
  import org.apache.spark.sql.catalyst.expressions.Expression
  import org.apache.spark.sql.catalyst.plans.logical.Statistics
  import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
  import org.apache.spark.sql.execution.LogicalRDD

  /** The Spark-private Dataset factory graft.Materialize needs. */
  object GraftDatasets {
    /** `checkpoint` (a checkpoint's LogicalRDD) with `rows` as its row
      * count and rows × the output's row width as its size. */
    def withRowCount[T](checkpoint: org.apache.spark.sql.Dataset[T], rows: Long)
        : org.apache.spark.sql.Dataset[T] = {
      val ds = checkpoint.asInstanceOf[Dataset[T]]
      val rdd = ds.logicalPlan.asInstanceOf[LogicalRDD]
      val stats = Statistics((EstimationUtils.getSizePerRow(rdd.output) * rows).max(1), Some(rows))
      Dataset(ds.sparkSession,
        rdd.copy()(ds.sparkSession, Some(stats), Some(rdd.constraints)))(ds.encoder)
    }
  }

  /** The Spark-private Column ↔ Expression conversions graft's native
    * expressions (graft.plans.VecCosine, VecLshSignature) are built with. */
  object GraftColumns {
    def apply(build: Seq[Expression] => Expression, children: Column*): Column =
      ExpressionUtils.column(build(children.map(ExpressionUtils.expression)))
  }
}

package graft {

  import scala.collection.mutable.ArrayBuffer
  import org.apache.spark.sql.Dataset
  import org.apache.spark.sql.classic.GraftDatasets
  import org.apache.spark.sql.functions.{count, lit}
  import graft.plans.PlanShape

  /** The one way graft materializes an intermediate: an eager local
    * checkpoint whose statistics are the MEASURED row count, and size =
    * rows × row width, so the planner sizes the joins over it from what
    * the data is, not from its build plan's estimate. The rows are
    * counted by an observed metric inside the checkpoint's own job: no
    * extra job runs. It claims no layout: under AQE a checkpoint reports
    * unknown partitioning whatever its build shuffled on, so a consumer
    * keyed on any column plans its own exchange. */
  object Materialize {
    private val Rows = "graft.materialize.rows"
    private val recorder = new ThreadLocal[ArrayBuffer[PlanShape]]

    def apply[T](ds: Dataset[T]): Dataset[T] = {
      val observed = ds.observe(Rows, count(lit(1)))
      Option(recorder.get).foreach(_ += PlanShape.of(observed.queryExecution.executedPlan))
      val checkpoint = observed.localCheckpoint()
      GraftDatasets.withRowCount(checkpoint,
        observed.queryExecution.observedMetrics(Rows).getLong(0))
    }

    /** Runs `body` and returns what it built with the plan shape of each
      * materialization it ran, in order, read before the job (AQE's
      * initial plan, the one its inputs' statistics decided). */
    def recording[A](body: => A): (A, Seq[PlanShape]) = {
      val outer = recorder.get
      val shapes = ArrayBuffer.empty[PlanShape]
      recorder.set(shapes)
      try (body, shapes.toSeq) finally recorder.set(outer)
    }
  }
}
