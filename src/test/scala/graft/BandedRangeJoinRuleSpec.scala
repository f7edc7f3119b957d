package graft

import org.apache.spark.sql.functions._
import graft.plans.PlanShape

/** The injected optimizer rule must turn a naive |a−b| <= r theta-join
  * into a banded equi-join — exactly, and without firing on joins that
  * already have an equi key. */
class BandedRangeJoinRuleSpec extends SparkSpec {

  test("naive range join is rewritten to an equi join and stays exact") {
    import spark.implicits._
    val av = (0L until 200L).map(i => (i, i * 13L % 1000))
    val bv = (0L until 200L).map(i => (i, i * 29L % 1000))
    val a = av.toDF("id_a", "t_a")
    val b = bv.toDF("id_b", "t_b")
    val joined = a.join(b,
      abs(col("t_a") - col("t_b")) <= 7L && col("id_a") =!= col("id_b"))

    val p = PlanShape.of(joined)
    assert(!p.joins.exists(j => j.strategy == "BNLJ" || j.strategy == "Cartesian"),
      s"rule did not fire — still a quadratic join:\n${p.json}")

    val got = joined.select(col("id_a"), col("id_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (for {
      (ia, ta) <- av; (ib, tb) <- bv
      if ia != ib && math.abs(ta - tb) <= 7
    } yield (ia, ib)).toSet
    assert(got == want, "rewritten join changed the result")
  }

  test("rule leaves joins with an existing equi key alone") {
    import spark.implicits._
    val a = (0L until 50L).map(i => (i, i % 5, i * 3L)).toDF("ida", "ka", "ta")
    val b = (0L until 50L).map(i => (i, i % 5, i * 7L)).toDF("idb", "kb", "tb")
    val joined = a.join(b,
      col("ka") === col("kb") && abs(col("ta") - col("tb")) <= 10L)
    // with an equi key the hash join is already fine; no Expand node
    // (the rewrite's signature) may appear
    val p = PlanShape.of(joined)
    assert(p.expands == 0, s"rule fired needlessly:\n${p.json}")
    // and the result is still the straightforward one
    val n = joined.count()
    val av = (0L until 50L).map(i => (i % 5, i * 3L))
    val bv = (0L until 50L).map(i => (i % 5, i * 7L))
    val want = (for {
      (ka, ta) <- av; (kb, tb) <- bv
      if ka == kb && math.abs(ta - tb) <= 10
    } yield 1).size
    assert(n == want)
  }
}
