package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Materialize
import graft.graph.Edges

/** Connected components over a near-duplicate pair list — the final
  * step of every corpus dedup pipeline: candidate PAIRS (from MinHash /
  * SimHash / exact Jaccard) become duplicate CLUSTERS, and one
  * canonical document (the minimum id) survives per cluster.
  *
  * The algorithm is iterative min-label propagation. Rounds needed =
  * graph diameter; dedup similarity graphs are overwhelmingly tiny
  * cliques (diameter 1-2), so it converges in 1-2 rounds. Convergence
  * checks are FUSED: two propagation rounds run per driver action, so
  * the common diameter-≤2 case pays one count() job instead of two.
  * Each round is shuffle joins + aggregations; `localCheckpoint`
  * truncates the growing lineage so round N's plan does not replay
  * rounds 1..N−1 (the classic iterative-algorithm trap on Spark).
  */
object Cluster {

  /** (id, cluster_id) for every vertex appearing in `pairs`, where
    * cluster_id = min id reachable through the pair graph.
    *
    * @param pairs undirected edges, one per row
    * @param maxIter bound on propagation rounds (diameter); a graph
    *                that needs more throws instead of returning
    *                upper-bound labels */
  def connectedComponents(
      pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20): DataFrame = {
    // both directions once; reused by every round
    val edges = Materialize(Edges.undirected(pairs, aCol, bCol))

    // one propagation round: each vertex takes min(label, neighbors')
    // and carries a change flag, so convergence folds into the pass.
    // The label side is the SHUFFLE_HASH build (|V| rows): the second
    // round's labels are estimated from the edge join, so unhinted the
    // planner can broadcast the edge list instead. nbrMin (|V| rows)
    // builds against the labels, so no round pays a sort-merge sort.
    def propagate(labels: DataFrame): DataFrame = {
      val nbrMin = edges
        .join(labels.hint("shuffle_hash"), edges("src") === labels("id"))
        .groupBy(col("dst").as("id2"))
        .agg(min(col("label")).as("nbr_label"))
      labels
        .join(nbrMin.hint("shuffle_hash"),
          labels("id") === nbrMin("id2"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nbr_label"), col("label")))
            .as("label"),
          (coalesce(col("nbr_label"), col("label")) < col("label")).as("_chg"))
    }

    // fused round 0: initialize each vertex straight to
    // min(id, min neighbor) — one aggregation instead of an identity
    // init plus a full propagation round (cliques converge immediately).
    // Grouped by SRC (≡ by dst on the symmetric list).
    var labels = Materialize(edges.groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("_m"))
      .select(col("id"), least(col("id"), col("_m")).as("label")))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // TWO unconditional propagation rounds per driver action, then
      // one convergence check on the second round's flag: if round 2
      // changed nothing, round 1's output was already a fixpoint.
      // Dedup graphs are diameter-≤2 cliques (init already reaches
      // distance 1), so the common case is ONE count() job total —
      // half the per-round driver/job overhead of check-every-round.
      val next = Materialize(propagate(propagate(labels).drop("_chg")))
      val changed = next.where(col("_chg")).limit(1).count()
      labels = next.drop("_chg")
      converged = changed == 0
      iter += 2
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within maxIter=$maxIter rounds; " +
          "its labels would only be an upper bound on the true components")
    labels.select(col("id"), col("label").as("cluster_id"))
  }

  /** INCREMENTAL label maintenance: fold a batch of new near-dup
    * pairs into an existing (id, cluster_id) labeling WITHOUT
    * re-running connected components over the corpus — the operation
    * a daily ingest needs at 100 TB, where the corpus labeling is a
    * persisted table and only batch-proportional work is affordable.
    *
    * Algebra: because every existing cluster_id is the MINIMUM member
    * id of its component (the connectedComponents contract), each
    * cluster can be collapsed to that single representative without
    * losing the min. New edges are remapped endpoint-by-endpoint to
    * representatives (ids unseen by `existing` represent themselves),
    * and components are computed over THIS collapsed graph only — its
    * size is bounded by the batch's edge count, never the corpus.
    * Members of touched clusters pick up their representative's new
    * label through one hash join on cluster_id; untouched clusters
    * keep their labels through the same join's null side. min(new
    * component) = min(touched reps ∪ new ids) = min over all member
    * ids, so the result is equal — row for row — to a full rebuild
    * over the union edge set (spec-asserted at every cutoff of a
    * planted edge timeline, the q_scd2_incremental discipline).
    *
    * Merges need no special case: a bridge edge between two existing
    * clusters collapses to a rep-rep edge and the sub-CC unifies them.
    *
    * @param existing (id, cluster_id) from a prior full or incremental
    *                 run; cluster_id MUST be the component minimum
    * @param newPairs undirected batch edges, one per row */
  def incrementalComponents(
      existing: DataFrame, newPairs: DataFrame,
      aCol: String, bCol: String, maxIter: Int = 20): DataFrame = {
    val rep = existing.select(col("id").as("_v"), col("cluster_id").as("_r"))
    // feeds the collapse AND the new-vertex scan
    val e = Materialize(newPairs.select(col(aCol).as("_a"), col(bCol).as("_b")))
    val collapsed = e
      .join(rep.select(col("_v").as("_a"), col("_r").as("_ra")),
        Seq("_a"), "left")
      .join(rep.select(col("_v").as("_b"), col("_r").as("_rb")),
        Seq("_b"), "left")
      .select(coalesce(col("_ra"), col("_a")).as("ca"),
        coalesce(col("_rb"), col("_b")).as("cb"))
    val subRep = connectedComponents(collapsed, "ca", "cb", maxIter)
      .select(col("id").as("_rep"), col("cluster_id").as("_nl"))
    val updatedExisting = existing
      .join(subRep, existing("cluster_id") === subRep("_rep"), "left")
      .select(existing("id"),
        coalesce(col("_nl"), existing("cluster_id")).as("cluster_id"))
    val newVerts = e.select(col("_a").as("id"))
      .union(e.select(col("_b").as("id"))).distinct()
      .join(existing.select(col("id")), Seq("id"), "left_anti")
    val updatedNew = newVerts
      .join(subRep, newVerts("id") === subRep("_rep"))
      .select(newVerts("id"), col("_nl").as("cluster_id"))
    updatedExisting.unionByName(updatedNew)
  }

  /** Cluster assignment + canonical flag for a document table given its
    * near-dup pairs: docs not in any pair are their own singleton
    * cluster. */
  def dedupClusters(
      docs: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String, bCol: String): DataFrame = {
    val cc = connectedComponents(pairs, aCol, bCol)
      .withColumnRenamed("id", "_cc_id")
    docs.join(cc, docs(idCol) === cc("_cc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), docs(idCol)))
      .withColumn("is_canonical", docs(idCol) === col("cluster_id"))
      .drop("_cc_id")
  }
}
