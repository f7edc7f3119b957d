package graft.operators

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-threshold routing for aggregates whose exact form cannot
  * survive 100 TB: the decision is made from driver-side metadata
  * before any job runs, and BOTH branches are real, spec-covered
  * plans.
  *
  * Exact `percentile`/`percentile_disc` is an ObjectHashAggregate
  * buffering EVERY group value — at 100 TB that is an executor OOM,
  * not a slowdown. Above the byte threshold the same query swaps in
  * `approx_percentile` (Greenwald-Khanna sketch, bounded memory,
  * map-side combinable) at accuracy 10⁴ → rank error ≤ n/10⁴. Below
  * it, exact is kept because the oracle gate hash-compares values
  * cross-engine (sf0.01/sf0.1 route exact, so CORRECTNESS is
  * unaffected; the approx twin's error bound is spec-asserted). */
object ScaleRouting {

  /** Accuracy for the sketched branch: rank error ≤ n / 10⁴. */
  val ApproxAccuracy = 10000

  /** Exact percentile buffers ~8 bytes per row per percentile column;
    * past a few GiB of input the buffered groups stop fitting an
    * executor heap. 4 GiB keeps every test SF exact while any
    * production table routes to the sketch. */
  val ExactPercentileMaxBytes: Long = 4L << 30

  /** Total on-disk bytes under a table path — pure driver-side
    * filesystem metadata (one recursive listing), NO Spark job. */
  def inputBytes(s: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L
    else fs.getContentSummary(p).getLength
  }

  /** True when `tableFile` (a `<dir>/<name>.parquet` path) is small
    * enough for value-exact percentile aggregation. */
  def exactPercentileOk(s: SparkSession, tableFile: String): Boolean =
    inputBytes(s, tableFile) <= ExactPercentileMaxBytes

  /** Interpolated percentile or its bounded-memory sketch. The sketch
    * returns an observed value (no interpolation) — the documented
    * accuracy trade of the scale branch. */
  def percentileCont(exact: Boolean, valueCol: String, p: Double): Column =
    if (exact) expr(s"percentile($valueCol, $p)")
    // the sketch returns the VALUE column's type; cast to double so
    // both branches share one schema
    else expr(s"approx_percentile($valueCol, $p, $ApproxAccuracy)")
      .cast("double")

  /** Array form of [[percentileCont]] — one shared buffer for all
    * requested percentiles (9 separate percentile() calls would each
    * buffer the full column). */
  def percentileContArray(
      exact: Boolean, valueCol: String, ps: Seq[Double]): Column =
    if (exact) expr(s"percentile($valueCol, array(${ps.mkString(",")}))")
    else expr(s"approx_percentile($valueCol, array(${ps.mkString(",")}), " +
      s"$ApproxAccuracy)").cast("array<double>")

  /** Discrete percentile or its sketch (both return observed values). */
  def percentileDisc(exact: Boolean, valueCol: String, p: Double): Column =
    if (exact)
      expr(s"percentile_disc($p) WITHIN GROUP (ORDER BY $valueCol)")
    else expr(s"approx_percentile($valueCol, $p, $ApproxAccuracy)")
}
