package graft

import org.apache.spark.sql.functions._
import graft.plans.PlanShape

/** The injected optimizer rule must turn a |a−b| <= r band join, with
  * or without an equi key, into a banded equi-join — exactly, and once. */
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

  test("equi-keyed band join is banded next to its key and stays exact") {
    import spark.implicits._
    val av = (0L until 60L).map(i => (i, i % 5, i * 3L))
    val bv = (0L until 60L).map(i => (i, i % 5, i * 7L))
    val a = av.toDF("ida", "ka", "ta")
    val b = bv.toDF("idb", "kb", "tb")
    val joined = a.join(b,
      col("ka") === col("kb") && abs(col("ta") - col("tb")) <= 10L)
    // the bin joins the existing key: one Expand, both keys hashed
    val p = PlanShape.of(joined)
    assert(p.expands == 1, s"rule did not band the equi-keyed join:\n${p.json}")
    assert(p.joins.exists(j => j.leftKeys.size == 2), s"bin is not a join key:\n${p.json}")
    val got = joined.select(col("ida"), col("idb")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (for {
      (ia, ka, ta) <- av; (ib, kb, tb) <- bv
      if ka == kb && math.abs(ta - tb) <= 10
    } yield (ia, ib)).toSet
    assert(got.nonEmpty && got == want, "banded equi-keyed join changed the result")
  }

  test("rule is idempotent: its own output is left as it is") {
    import spark.implicits._
    val a = (0L until 20L).map(i => (i, i % 3, i * 5L)).toDF("ida", "ka", "ta")
    val b = (0L until 20L).map(i => (i, i % 3, i * 11L)).toDF("idb", "kb", "tb")
    val joined = a.join(b,
      col("ka") === col("kb") && abs(col("ta") - col("tb")) <= 6L)
    val analyzed = joined.queryExecution.analyzed
    val once = graft.plans.BandedRangeJoinRule(analyzed)
    val twice = graft.plans.BandedRangeJoinRule(once)
    def expands(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      p.collect { case e: org.apache.spark.sql.catalyst.plans.logical.Expand => e }.size
    assert(expands(once) == 1, s"rule did not fire once:\n$once")
    assert(twice == once, s"rule re-fired on its own output:\n$twice")
    assert(PlanShape.of(joined).expands == 1, "optimizer batch banded the join more than once")
  }
}
