package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{queries => gq}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator in SURVEY.md §2 has a `queries` entry; SQL-expressible
  * ones also have an `oracleSql` twin (DuckDB dialect) for the driver's
  * correctness gate.
  */
object SparkEntry {
  private val defBlocks: Seq[Map[String, (SparkSession, String) => DataFrame]] =
    Seq(gq.Agg.defs, gq.Relational.defs, gq.Windows.defs, gq.Tpch.defs,
      gq.Events.defs, gq.Text.defs, gq.DedupSim.defs, gq.Media.defs,
      gq.Graph.defs, gq.Maintain.defs, gq.Corpus.defs, gq.Governance.defs)
  private val oracleBlocks: Seq[Map[String, String]] =
    Seq(gq.Agg.oracles, gq.Relational.oracles, gq.Windows.oracles,
      gq.Tpch.oracles, gq.Events.oracles, gq.Text.oracles,
      gq.DedupSim.oracles, gq.Media.oracles, gq.Graph.oracles,
      gq.Maintain.oracles, gq.Corpus.oracles, gq.Governance.oracles)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    gq.Agg.qTpch1(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    defBlocks.reduce(_ ++ _)

  /** The registered queries named in a comma-separated `subset`, or all
    * of them when there is none, sorted by name. An empty subset, or one
    * with names that are not registered, throws IllegalArgumentException
    * naming every unknown name, so a mistyped subset fails instead of
    * quietly running less. */
  def select(subset: Option[String])
      : Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = queries
    val names = subset.fold(all.keySet)(
      _.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    if (names.isEmpty) throw new IllegalArgumentException("empty query subset")
    val unknown = (names -- all.keySet).toSeq.sorted
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(s"unknown queries: ${unknown.mkString(", ")}")
    names.toSeq.sorted.map(n => n -> all(n))
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    oracleBlocks.reduce(_ ++ _)
}
