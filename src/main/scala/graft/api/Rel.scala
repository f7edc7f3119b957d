package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Fluent relational algebra with the reference engine's verb set.
  *
  * The reference (/root/reference/stupidb/api.py) exposes a curried,
  * `>>`-chainable vocabulary: `select mutate sift group_by aggregate
  * order_by limit cross_join inner_join left_join right_join full_join
  * union union_all intersect intersect_all difference difference_all
  * exists`. graft re-expresses each verb as a thin method over
  * `DataFrame`, so every chain stays a single Catalyst logical plan:
  * filters push to the parquet scan, projections prune columns, joins
  * pick broadcast/sort-merge physical strategies, and AQE re-plans at
  * runtime. Nothing here materializes driver-side.
  *
  * Deltas vs the reference (SURVEY.md §3): `full_join` is implemented
  * (stupidb raises NotImplementedError, api.py:263); `semiJoin` /
  * `antiJoin` are first-class verbs instead of the reference's
  * driver-side `exists()` idiom (api.py:432), because EXISTS as a
  * collect-and-test loop cannot distribute.
  */
final case class Rel(df: DataFrame) {

  /** Projection, possibly computed — stupidb api.py:316 `select`. */
  def select(cols: (String, Column)*): Rel =
    Rel(df.select(cols.map { case (n, c) => c.as(n) }: _*))

  /** Append computed columns — stupidb api.py:362 `mutate`. */
  def mutate(cols: (String, Column)*): Rel =
    Rel(df.withColumns(cols.toMap))

  /** Filter rows — stupidb api.py:402 `sift`. */
  def sift(predicate: Column): Rel = Rel(df.where(predicate))

  /** Grouped aggregation — stupidb api.py:563 `group_by` >> :450 `aggregate`.
    * Compiles to partial+final hash aggregate (map-side combine). */
  def groupByAgg(keys: Seq[(String, Column)], aggs: (String, Column)*): Rel = {
    val keyCols = keys.map { case (n, c) => c.as(n) }
    val aggCols = aggs.map { case (n, c) => c.as(n) }
    Rel(df.groupBy(keyCols: _*).agg(aggCols.head, aggCols.tail: _*))
  }

  /** Whole-relation aggregation (no keys) — stupidb api.py:450. */
  def aggregate(aggs: (String, Column)*): Rel = {
    val aggCols = aggs.map { case (n, c) => c.as(n) }
    Rel(df.agg(aggCols.head, aggCols.tail: _*))
  }

  /** Cartesian product — stupidb api.py:136 `cross_join`. */
  def crossJoin(right: Rel): Rel = Rel(df.crossJoin(right.df))

  /** Equi/theta inner join — stupidb api.py:183 `inner_join`. */
  def innerJoin(right: Rel, on: Column): Rel =
    Rel(df.join(right.df, on, "inner"))

  /** Left outer join — stupidb api.py:225 `left_join`. */
  def leftJoin(right: Rel, on: Column): Rel =
    Rel(df.join(right.df, on, "left_outer"))

  /** Right outer join — stupidb api.py:244 `right_join`. */
  def rightJoin(right: Rel, on: Column): Rel =
    Rel(df.join(right.df, on, "right_outer"))

  /** Full outer join — completes stupidb api.py:263 (NotImplementedError). */
  def fullJoin(right: Rel, on: Column): Rel =
    Rel(df.join(right.df, on, "full_outer"))

  /** Distributed EXISTS — semantics of stupidb api.py:432 `exists`. */
  def semiJoin(right: Rel, on: Column): Rel =
    Rel(df.join(right.df, on, "left_semi"))

  /** Distributed NOT EXISTS. */
  def antiJoin(right: Rel, on: Column): Rel =
    Rel(df.join(right.df, on, "left_anti"))

  /** Set union, distinct — stupidb api.py:608 `union`. */
  def union(right: Rel): Rel = Rel(df.union(right.df).distinct())

  /** Bag union — stupidb api.py:628 `union_all`. */
  def unionAll(right: Rel): Rel = Rel(df.union(right.df))

  /** Set intersection, distinct — stupidb api.py:648 `intersect`. */
  def intersect(right: Rel): Rel = Rel(df.intersect(right.df))

  /** Multiset intersection (per-row min count) — stupidb api.py:668. */
  def intersectAll(right: Rel): Rel = Rel(df.intersectAll(right.df))

  /** Set difference, distinct — stupidb api.py:688 `difference`. */
  def difference(right: Rel): Rel = Rel(df.except(right.df))

  /** Multiset difference (saturating count subtraction) — api.py:704. */
  def differenceAll(right: Rel): Rel = Rel(df.exceptAll(right.df))

  /** Windowed aggregates/navigation — stupidb api.py `over`: the
    * reference chains `agg >> over(Window.rows(...))`; here the window
    * spec applies to each named expression in one projection (ONE
    * WindowExec pass when the specs share partitioning). */
  def over(win: org.apache.spark.sql.expressions.WindowSpec)(
      cols: (String, Column)*): Rel =
    Rel(cols.foldLeft(df) { case (d, (n, c)) => d.withColumn(n, c.over(win)) })

  /** Duplicate elimination. */
  def distinct: Rel = Rel(df.distinct())

  // ---- beyond-the-reference verbs (graft.operators wrappers) -------

  /** lead with a PER-ROW offset — the reference's callable offset
    * (api.py:842); rank self-join in graft.operators.VarNav. */
  def varLead(partitionCols: Seq[String], orderCols: Seq[Column],
      valueCol: Column, offset: Column, out: String,
      default: Option[Column] = None): Rel =
    Rel(graft.operators.VarNav.varLead(
      df, partitionCols, orderCols, valueCol, offset, out, default))

  /** lag with a PER-ROW offset. */
  def varLag(partitionCols: Seq[String], orderCols: Seq[Column],
      valueCol: Column, offset: Column, out: String,
      default: Option[Column] = None): Rel =
    Rel(graft.operators.VarNav.varLag(
      df, partitionCols, orderCols, valueCol, offset, out, default))

  /** Windowed aggregates over PER-ROW frame BOUNDS — the reference's
    * callable preceding/following frame clauses (aggregation.py:225/
    * :236); rank self-join + band predicate in graft.operators
    * .VarFrame. Appends `<prefix>_sum/_cnt/_avg`. */
  def overVarFrame(partitionCols: Seq[String], orderCols: Seq[Column],
      valueCol: Column, preceding: Column, following: Column,
      prefix: String = "vf"): Rel =
    Rel(graft.operators.VarFrame.varFrameAgg(
      df, partitionCols, orderCols, valueCol, preceding, following, prefix))

  /** Deterministic hash sample — reproducible membership by key
    * (graft.operators.Sampling). */
  def sample(keyCol: String, rate: Double): Rel =
    Rel(graft.operators.Sampling.hashSample(df, keyCol, rate))

  /** Stratified deterministic sample with per-stratum rates. */
  def stratifiedSample(keyCol: String, strataCol: String,
      rates: Map[String, Double], defaultRate: Double): Rel =
    Rel(graft.operators.Sampling.stratifiedSample(
      df, keyCol, strataCol, rates, defaultRate))

  /** Total order — stupidb api.py:275 `order_by` with Nulls.FIRST/LAST
    * (aggregation.py:43). Use asc_nulls_first / desc_nulls_last etc. */
  def orderBy(keys: Column*): Rel = Rel(df.orderBy(keys: _*))

  /** LIMIT with OFFSET — stupidb api.py:720 `limit(offset=...)`. */
  def limit(n: Int, offset: Int = 0): Rel = {
    require(offset >= 0, s"invalid offset, must be non-negative: $offset")
    require(n >= 0, s"invalid limit, must be non-negative: $n")
    Rel(if (offset == 0) df.limit(n) else df.offset(offset).limit(n))
  }

  /** Whether any rows satisfy the plan — terminal action. */
  def exists: Boolean = !df.isEmpty

  /** Driver-side row iterator — the reference's iterator protocol
    * (core.py:50 `Relation.__iter__`). Streams partitions to the
    * driver one at a time; still a terminal action, use sparingly. */
  def iterator: Iterator[org.apache.spark.sql.Row] = {
    import scala.jdk.CollectionConverters._
    df.toLocalIterator().asScala
  }

  /** Pretty-format the first `n` rows — stupidb api.py:1018 `pretty`. */
  def pretty(n: Int = 10): String = {
    val names = df.columns
    val rows = df.limit(n).collect().map(_.toSeq.map {
      case null => ""
      case v => v.toString
    })
    val widths = names.indices.map { i =>
      (names(i).length +: rows.map(_(i).length)).max
    }
    def fmt(cells: Seq[String]): String =
      cells.zip(widths).map { case (c, w) => c.padTo(w, ' ') }.mkString("  ")
    (fmt(names.toSeq) +: widths.map("-" * _).mkString("  ") +: rows.map(fmt))
      .mkString("\n")
  }

  /** Pretty-print — stupidb api.py:1060 `show`. */
  def show(n: Int = 10): Unit = println(pretty(n))

  def toDF: DataFrame = df
}
