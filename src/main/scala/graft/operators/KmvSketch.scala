package graft.operators

import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.{Encoder, Encoders}

/** Bounded-memory distinct-count sketch — K Minimum Values (Bar-Yossef
  * et al. 2002, "Counting distinct elements in a data stream").
  *
  * `count_distinct` at 100 TB shuffles the full distinct-value set;
  * this aggregate keeps only the k smallest DISTINCT hash fractions
  * per group. Each task ships ≤ k doubles per group (map-side partial
  * + final ObjectHashAggregate), and the estimator reads the k-th
  * minimum: a uniform [0,1) hash whose
  * k-th order statistic is h_k implies ≈ (k−1)/h_k distinct values.
  * When fewer than k distinct hashes exist, the buffer IS the distinct
  * hash set and the count is exact — the estimator degrades to exact
  * on small groups by construction.
  *
  * Engine-portability is the point of using `Sampling.hashFraction`
  * (md5-derived) as the hash: DuckDB rebuilds the identical k-min set,
  * so even the APPROXIMATE estimate is bit-reproducible and
  * oracle-checkable. The Spark-native swap-in at real scale is
  * `approx_count_distinct` (HLL++), which is cheaper per row but not
  * cross-engine; the plan shape is the same.
  *
  * Buffer: sorted ascending, duplicates excluded (KMV is a SET of
  * hashes — admitting a duplicate would bias h_k low and overcount).
  * Reduce is a scan + splice over ≤ k doubles; merge is a sorted-merge
  * re-take. NULL hashes must be filtered by the caller.
  */
class KmvAggregator(k: Int) extends Aggregator[Double, Seq[Double], Double] {
  require(k > 1, s"KMV needs k > 1, got $k")

  override def zero: Seq[Double] = Nil

  override def reduce(b: Seq[Double], x: Double): Seq[Double] =
    if (b.lengthCompare(k) >= 0 && x >= b.last) b
    else {
      val i = b.indexWhere(x <= _)
      if (i >= 0 && b(i) == x) b // already in the set
      else {
        val at = if (i < 0) b.length else i
        ((b.take(at) :+ x) ++ b.drop(at)).take(k)
      }
    }

  override def merge(x: Seq[Double], y: Seq[Double]): Seq[Double] =
    (x ++ y).distinct.sorted.take(k)

  override def finish(b: Seq[Double]): Double =
    if (b.lengthCompare(k) < 0) b.length.toDouble else (k - 1).toDouble / b.last

  override def bufferEncoder: Encoder[Seq[Double]] =
    ExpressionEncoder[Seq[Double]]()

  override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
}

/** KMV that finishes to the SYNOPSIS (the sorted k-min hash set)
  * instead of the estimate — the mergeable-materialization form: store
  * one ≤ k-double array per group, re-aggregate arrays upward (day →
  * week → month) without ever re-reading raw data. The k smallest of
  * a union of per-part k-min sets IS the k-min set of the union, so
  * re-sketching exploded synopses is exactly the sketch of the
  * underlying distinct set. */
class KmvSynopsisAggregator(k: Int)
    extends Aggregator[Double, Seq[Double], Seq[Double]] {
  private val inner = new KmvAggregator(k)
  override def zero: Seq[Double] = inner.zero
  override def reduce(b: Seq[Double], x: Double): Seq[Double] =
    inner.reduce(b, x)
  override def merge(x: Seq[Double], y: Seq[Double]): Seq[Double] =
    inner.merge(x, y)
  override def finish(b: Seq[Double]): Seq[Double] = b
  override def bufferEncoder: Encoder[Seq[Double]] =
    ExpressionEncoder[Seq[Double]]()
  override def outputEncoder: Encoder[Seq[Double]] =
    ExpressionEncoder[Seq[Double]]()
}

object KmvSketch {
  /** Column-level KMV distinct estimate: `kmv(k)(hashFractionCol)`
    * inside any `agg(...)`. */
  def kmv(k: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udaf(
      new KmvAggregator(k), Encoders.scalaDouble)

  /** Column-level KMV synopsis (the k-min set itself) for mergeable
    * rollups: `kmvSynopsis(k)(hashFractionCol)`. */
  def kmvSynopsis(k: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udaf(
      new KmvSynopsisAggregator(k), Encoders.scalaDouble)
}
