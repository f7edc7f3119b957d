package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed PageRank over an edge list — the web-graph importance
  * signal corpus-curation pipelines use to weight crawl documents
  * (reference semantics: Page et al. 1999; same iterate-join shape as
  * graft.dedup.Cluster's label propagation).
  *
  * Scale shape: the symmetrized edge list comes from
  * [[Edges.undirected]] (one explode, one hash(src) shuffle that also
  * serves the degree aggregate and the enrich join), and the whole
  * computation is ONE lazy plan: no driver action, no checkpoint. The
  * node count rides along as a broadcast 1-row aggregate, and runtime
  * exchange reuse shares the edge build's shuffle with every
  * consumer. Each iteration is exactly ONE join (rank table against
  * the edge list on src — AQE broadcasts the rank side while it fits,
  * shuffles it on the shared src key when it doesn't) and ONE dst
  * aggregate with map-side partial sums: O(|E|) per round, never
  * node² anywhere.
  *
  * Engine portability (what lets q_graph_pagerank carry a full
  * hash-checked oracle): rank state is an INTEGER in pico-units
  * (1e-12 of total mass) and every step is floor division — per-edge
  * contribution rp div deg, damped close (85·Σ) div 100 + teleport
  * 15·10¹⁰ div n — so each iteration is EXACT integer arithmetic,
  * identical across partitionings and engines with no rounding grid
  * anywhere. (Round 13: the previous discipline — double ops ROUNDed
  * to 12 dp per iteration — was knife-edged: Spark's and DuckDB's
  * ROUND(double) can differ by 1 ulp when a value lands within an ulp
  * of the half boundary, and the 10× correctness gate caught exactly
  * one node doing so after 10⁶ roundings. Floor of an exact integer
  * quotient has no boundary to disagree on.) The final 8-dp rank is
  * a half-up integer rescale, (rp + 5000) div 10⁴, closed by one
  * exact double division by 1e8; the oracle SQL is GENERATED from the
  * same constants (queries.Graph).
  */
object PageRank {

  val Damping = 0.85
  val DefaultIters = 3

  /** Rank-mass unit: 10¹² pico-units = total probability 1. */
  val Pico = 1000000000000L

  /** Teleport mass per node in pico-units: (1 − 0.85) · 10¹². */
  val TeleportPico = 150000000000L

  /** Ranks after `iters` fixed iterations on the UNDIRECTED graph of
    * `edges` (each input edge contributes both directions; duplicate
    * edges collapse). Every node appears as a source after the
    * symmetrization, so out-degrees are ≥ 1 and no dangling-mass
    * redistribution is needed. Returns (node, deg, rank·1e8-rounded). */
  def pagerank(
      edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = DefaultIters): DataFrame = {
    val sym = Edges.undirected(edges, srcCol, dstCol)
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("sdeg"))
    val e = sym.join(deg, "src")
    // node count as a broadcast 1-row aggregate — no driver action
    val nn = deg.agg(count(lit(1)).as("n"))
    val nodes = deg.select(col("src").as("node"), col("sdeg").as("deg"))
    var ranks = nodes.crossJoin(broadcast(nn))
      .select(col("node"), expr(s"${Pico}L div n").as("rp"))
    for (_ <- 1 to iters) {
      ranks = e
        .join(ranks.select(col("node").as("src"), col("rp")), "src")
        .select(col("dst").as("node"), expr("rp div sdeg").as("c"))
        .groupBy(col("node"))
        .agg(sum(col("c")).as("sp"))
        .crossJoin(broadcast(nn))
        .select(col("node"),
          (expr(s"${TeleportPico}L div n") +
            expr("(85L * sp) div 100")).as("rp"))
    }
    ranks.join(nodes, "node")
      .select(col("node"), col("deg"),
        (expr("(rp + 5000L) div 10000").cast("double") / lit(1e8))
          .as("rank"))
  }
}
