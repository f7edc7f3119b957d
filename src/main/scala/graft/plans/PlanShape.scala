package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, SpecifiedWindowFrame}
import org.apache.spark.sql.catalyst.plans.{ExistenceJoin, JoinType}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning,
  RangePartitioning, RoundRobinPartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.util.toPrettySQL
import org.apache.spark.sql.execution.{ExpandExec, ExternalRDDScanExec, FileSourceScanExec,
  GenerateExec, RDDScanExec, ScalarSubquery, SortExec, SparkPlan, TakeOrderedAndProjectExec,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.DataSourceStrategy
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec,
  ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec,
  BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** The shape of a physical plan: the facts graft's scale contract is
  * stated in (shuffles and their keys, join strategies, window
  * partitions and frames, what reaches each file scan), read by node
  * type rather than from plan text.
  *
  * Column and key names are printed without expression ids, and
  * partition counts, paths and sizes are left out, so two builds of one
  * query give equal shapes across runs, core counts and commits whose
  * plans are the same. Node lists keep the plan's pre-order. Hash keys
  * and scan filters are sets to the plan and are sorted: the optimizer
  * can order them by expression-id hashes (a distinct aggregate's
  * Expand does), which differ between sessions. */
final case class PlanShape(
    finalPlan: Boolean,
    exchanges: Seq[PlanShape.Exchange],
    broadcasts: Int,
    reused: Int,
    joins: Seq[PlanShape.Join],
    sorts: Int,
    windows: Seq[PlanShape.Window],
    groupLimits: Seq[PlanShape.GroupLimit],
    aggregates: Seq[String],
    topK: Int,
    generates: Seq[String],
    expands: Int,
    rddScans: Int,
    scans: Seq[PlanShape.Scan],
    codegenStages: Int) {

  /** One JSON object; field order is the declaration order. */
  def json: String = PlanShape.js(this)
}

object PlanShape {

  /** A shuffle: partitioning kind (hash, range, roundrobin, single, or
    * the partitioning's class name) and its key expressions (sorted
    * for hash, in sort order for range). */
  final case class Exchange(kind: String, keys: Seq[String])
  /** Strategy is BHJ, SHJ, SMJ, BNLJ or Cartesian; nested-loop and
    * cartesian joins have no keys. */
  final case class Join(strategy: String, joinType: String,
    leftKeys: Seq[String], rightKeys: Seq[String])
  /** ROWS or RANGE, with each bound as SQL (offsets signed). */
  final case class Frame(kind: String, lower: String, upper: String)
  final case class Window(keys: Seq[String], frames: Seq[Frame])
  /** A per-group limit Spark plans for a `rank <= k` filter: mode
    * Partial (before the shuffle) or Final, its partition keys and k. */
  final case class GroupLimit(mode: String, keys: Seq[String], limit: Int)
  final case class Scan(columns: Seq[String], pushed: Seq[String],
    partitionFilters: Seq[String])

  /** The shape of the current physical plan: AQE's initial plan before
    * the DataFrame runs (`finalPlan` false), its final plan after. AQE
    * collapses codegen stages as it runs, so an initial plan has none. */
  def of(df: DataFrame): PlanShape = of(df.queryExecution.executedPlan)

  def of(plan: SparkPlan): PlanShape = {
    val ns = nodes(plan)
    def count(p: PartialFunction[SparkPlan, Unit]) = ns.count(p.isDefinedAt)
    PlanShape(
      finalPlan = plan match {
        case a: AdaptiveSparkPlanExec => a.isFinalPlan
        case _ => true
      },
      exchanges = ns.collect { case e: ShuffleExchangeLike => exchange(e.outputPartitioning) },
      broadcasts = count { case _: BroadcastExchangeLike => },
      reused = count { case _: ReusedExchangeExec => },
      joins = ns.collect { case j: BaseJoinExec => Join(strategy(j), joinType(j.joinType),
        j.leftKeys.map(pretty), j.rightKeys.map(pretty))
      },
      sorts = count { case _: SortExec => },
      windows = ns.collect { case w: WindowExec =>
        Window(w.partitionSpec.map(pretty), w.windowExpression.flatMap(_.collect {
          case f: SpecifiedWindowFrame => Frame(f.frameType.sql, f.lower.sql, f.upper.sql)
        }).distinct)
      },
      groupLimits = ns.collect { case g: WindowGroupLimitExec =>
        GroupLimit(g.mode.toString, g.partitionSpec.map(pretty), g.limit)
      },
      aggregates = ns.collect { case a: BaseAggregateExec => a.nodeName },
      topK = count { case _: TakeOrderedAndProjectExec => },
      generates = ns.collect { case g: GenerateExec => g.generator.prettyName },
      expands = count { case _: ExpandExec => },
      rddScans = count { case _: RDDScanExec | _: ExternalRDDScanExec[_] => },
      scans = ns.collect { case f: FileSourceScanExec =>
        Scan(f.requiredSchema.fieldNames.toSeq, pushed(f).sorted,
          f.partitionFilters.map(pretty).sorted)
      },
      codegenStages = count { case _: WholeStageCodegenExec => })
  }

  /** Every node of `plan` in pre-order. AQE wrappers and query stages
    * are unwrapped; subqueries and the plans of cached relations are
    * walked; a reused exchange is a leaf, so its original counts once. */
  def nodes(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
    case p => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  /** `{"query":…,"plan":…,"materialized":[…]}`, the line plans.jsonl
    * holds per query: its plan and, in build order, the plans its build
    * materialized (see graft.Materialize.recording). */
  def line(query: String, df: DataFrame, materialized: Seq[PlanShape]): String =
    s"""{"query":${js(query)},"plan":${of(df).json},"materialized":${js(materialized)}}"""

  private def pretty(e: Expression): String = toPrettySQL(e)

  // A file scan's data filters translated to the reader's filter API,
  // as its PushedFilters prints them, with "?" for a scalar subquery's
  // value: the scan's own list needs the subquery to have run.
  // translateFilter is Spark-private in Scala and public in bytecode.
  private val translateFilter = DataSourceStrategy.getClass
    .getMethod("translateFilter", classOf[Expression], java.lang.Boolean.TYPE)
  private def pushed(f: FileSourceScanExec): Seq[String] = f.dataFilters.flatMap { e =>
    val bound = e.transform { case _: ScalarSubquery => Literal("?") }
    translateFilter.invoke(DataSourceStrategy, bound, java.lang.Boolean.TRUE)
      .asInstanceOf[Option[Any]].map(_.toString)
  }

  private def exchange(p: Partitioning): Exchange = p match {
    case h: HashPartitioning => Exchange("hash", h.expressions.map(pretty).sorted)
    case r: RangePartitioning => Exchange("range", r.ordering.map(pretty))
    case _: RoundRobinPartitioning => Exchange("roundrobin", Nil)
    case SinglePartition => Exchange("single", Nil)
    case other => Exchange(other.getClass.getSimpleName, Nil)
  }

  private def strategy(j: BaseJoinExec): String = j match {
    case _: BroadcastHashJoinExec => "BHJ"
    case _: ShuffledHashJoinExec => "SHJ"
    case _: SortMergeJoinExec => "SMJ"
    case _: BroadcastNestedLoopJoinExec => "BNLJ"
    case _: CartesianProductExec => "Cartesian"
    case other => other.nodeName
  }

  // ExistenceJoin prints its exists attribute, expression id included
  private def joinType(t: JoinType): String = t match {
    case ExistenceJoin(_) => "ExistenceJoin"
    case other => other.toString
  }

  // written only when non-empty, so the line of a plan without any
  // keeps the bytes it had before the field was recorded
  private val omittedWhenEmpty = Set("groupLimits")

  private def js(v: Any): String = v match {
    case s: String => s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => "\\u%04x".format(c.toInt)
      case c => c.toString
    }.mkString("\"", "", "\"")
    case xs: Seq[_] => xs.map(js).mkString("[", ",", "]")
    case p: Product => p.productElementNames.zip(p.productIterator)
      .filterNot { case (k, x) => omittedWhenEmpty(k) && x == Nil }
      .map { case (k, x) => s"${js(k)}:${js(x)}" }.mkString("{", ",", "}")
    case other => other.toString
  }
}
