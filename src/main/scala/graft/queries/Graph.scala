package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import graft.Tables
import graft.graph.PageRank
import graft.Materialize

/** Graph queries over the part↔supplier bipartite graph implied by
  * lineitem (SURVEY.md §2). Supplier nodes are offset by 10⁷ so the
  * two key spaces cannot collide.
  */
object Graph {

  /** Supplier-node key offset (shared with the oracle twins so both
    * engines build the same graph). */
  val SuppOffset = 10000000L

  /** PageRank importance of every part and supplier after a fixed
    * number of iterations — the corpus-curation quality signal, run on
    * the one real graph in the testdata. */
  def qGraphPagerank(s: SparkSession, d: String): DataFrame = {
    // no pre-distinct: pagerank dedups the symmetrized edge list in
    // its single distinct pass anyway. Single-file scan → one input
    // partition (SURVEY §3.5); spread the explode/dedup work (no-op at
    // real scale where the fact arrives in many splits).
    val edges = Tables.lineitem(s, d)
      .select(col("l_partkey").as("part"),
        (col("l_suppkey") + SuppOffset).as("supp"))
      .repartition(s.sparkContext.defaultParallelism)
    PageRank.pagerank(edges, "part", "supp")
      .orderBy(col("node"))
  }

  /** (edges, deg) of the part co-purchase graph — shared by the
    * triangle family and link prediction.
    *
    * Round 14: pairs are generated from ONE per-order sorted distinct
    * item array (hash(l_orderkey) exchange + collect_set, pairs via a
    * per-row array expression — sortedness gives pa < pb for free),
    * then de-duplicated across orders. The old shape (items distinct
    * → round-robin repartition → self-join on l_orderkey → pair
    * distinct) paid four exchanges plus the SMJ sorts for the same
    * pair set; this one pays two (order rollup, pair distinct). Order
    * baskets are boundedly small (the q_basket_pairs argument), so
    * the per-order pair array never explodes a task. Same output:
    * distinct items per order == collect_set, ascending array ⇒
    * (ps[i], ps[j]) i<j enumerates exactly the a.part < b.part join. */
  private def edgeParts(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val edges = graft.operators.BasketPairs.pairRows(
      Tables.lineitem(s, d), "l_orderkey", "l_partkey")
      .distinct()
    (edges, degreesOf(edges))
  }

  /** Both orientations of every undirected (pa, pb) edge as (a, b)
    * rows from ONE explode, so the pair plan above it is planned and
    * read once (a union of two projections plans it twice). */
  private def symmetric(edges: DataFrame, a: String, b: String): DataFrame =
    edges.select(explode(array(
        struct(col("pa").as(a), col("pb").as(b)),
        struct(col("pb").as(a), col("pa").as(b)))).as("ed"))
      .select(col(s"ed.$a").as(a), col(s"ed.$b").as(b))

  private def degreesOf(edges: DataFrame): DataFrame =
    edges.select(col("pa").as("node"))
      .unionAll(edges.select(col("pb").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))

  /** Shared triangle machinery: (edges, deg, oriented, closedWedges)
    * of the part co-purchase graph. The oriented list is checkpointed
    * once (it feeds both wedge sides and the closing check); closed
    * wedges carry all three triangle corners (center u, leaves x, y)
    * so the census and the per-node coefficient share one plan. */
  private def triangleParts(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val (edges, deg) = edgeParts(s, d)
    val aLower = col("da") < col("db") ||
      (col("da") === col("db") && col("pa") < col("pb"))
    val oriented = Materialize(edges
      .join(deg.select(col("node").as("pa"), col("deg").as("da")), Seq("pa"))
      .join(deg.select(col("node").as("pb"), col("deg").as("db")), Seq("pb"))
      .select(
        when(aLower, col("pa")).otherwise(col("pb")).as("u"),
        when(aLower, col("pb")).otherwise(col("pa")).as("v")))
    // Closed wedges by ADJACENCY-LIST INTERSECTION, not a wedge
    // self-join (round 12, after the measured 30×/100× scale runs): a
    // triangle {u,x,y} in orientation order is u→x, u→y, x→y, and the
    // closure edge x→y EXISTS only when (deg,id) orders x before y —
    // so closed = {(u,x,y) : x ∈ N⁺(u), y ∈ N⁺(u) ∩ N⁺(x)}, i.e. one
    // sorted-array intersection per oriented edge. The old form
    // materialized every oriented wedge (Σ outdeg² rows — 72M at
    // sf0.1, 2.2B at 30×, where its two sort-merge passes hit the
    // single-box spill-disk ceiling at 100×) through TWO shuffles;
    // this form shuffles each out-neighbor array once per incident
    // edge (the same asymptotic bytes — wedge work is wedge work) but
    // never SORTS wedge rows and never re-shuffles them for the
    // closure probe: the intersection closes edge-locally and explode
    // emits exactly the |triangles| surviving rows. Out-arrays are
    // bounded by the orientation's O(√m) out-degree cap (222-degree
    // max here), the same guarantee the wedge join relied on.
    val adj = oriented.groupBy(col("u"))
      .agg(sort_array(collect_list(col("v"))).as("nbrs"))
    val closed = oriented
      .join(adj.select(col("u"), col("nbrs").as("nu")), Seq("u"))
      // inner join: an edge whose head has no out-neighbors closes
      // nothing, exactly as it produced no closure match before
      .join(adj.select(col("u").as("v"), col("nbrs").as("nv")), Seq("v"))
      .select(col("u"), col("v").as("x"),
        explode(array_intersect(col("nu"), col("nv"))).as("y"))
    (edges, deg, closed)
  }

  /** Triangle census of the part co-purchase graph (parts sharing an
    * order), by DEGREE-ORDERED ORIENTATION — the scalable triangle
    * count (Cohen's MapReduce formulation; also Suri & Vassilvitskii):
    * orient every undirected edge from its lower-(degree, id) endpoint
    * to the higher one, enumerate wedges only at each edge's SOURCE,
    * and close them against the oriented edge list. Orientation bounds
    * every out-degree by O(√m) regardless of how skewed the raw degree
    * distribution is — a hub of degree 10⁶ generates no wedges at all
    * (its edges all point INTO it), so wedge work is Σ outdeg² ≤ O(m^1.5)
    * instead of the Σ deg² blowup of naive wedge counting.
    *
    * Every step is an equi-join or aggregate: pair-generation is
    * bounded by items-per-order (the q_basket_pairs argument), the
    * wedge join shuffles on the wedge center, the closing check on the
    * (x, y) edge key. No windows, no driver loops. Each triangle is
    * counted exactly once (at its lowest-ranked vertex); the wedge
    * ordering ties break on (deg, id) so both engines enumerate the
    * identical wedge set. */
  def qGraphTriangles(s: SparkSession, d: String): DataFrame = {
    val (edges, deg, closed) = triangleParts(s, d)
    val tri = closed.agg(count(lit(1)).as("n_triangles"))
    val degStats = deg.agg(
      count(lit(1)).as("n_nodes"),
      expr("CAST(SUM(deg * (deg - 1) DIV 2) AS BIGINT)").as("n_wedges"))
    val edgeCount = edges.agg(count(lit(1)).as("n_edges"))
    broadcast(degStats).crossJoin(broadcast(edgeCount))
      .crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        round(lit(3.0) * col("n_triangles") /
          greatest(col("n_wedges"), lit(1L)), 6).as("clustering_coeff"))
  }

  /** LOCAL clustering coefficient per node — 2·t(v)/(deg(v)·(deg(v)−1)),
    * the per-node curation signal the global census averages away
    * (Watts–Strogatz): which parts sit in tight co-purchase cliques vs
    * hub-and-spoke stars. Each closed triangle credits ALL THREE of
    * its corners (center + both leaves — one explode of the closed
    * wedge rows, no second traversal), so every node's t(v) is exact
    * even though each triangle is enumerated only once. Same oriented
    * backbone and cost as q_graph_triangles; one extra aggregate on
    * node. */
  def qGraphClustering(s: SparkSession, d: String): DataFrame = {
    val (_, deg, closed) = triangleParts(s, d)
    val triPerNode = closed
      .select(explode(array(col("u"), col("x"), col("y"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
    deg.join(triPerNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        when(col("deg") >= 2,
          round(lit(2.0) * coalesce(col("n_tri"), lit(0L)) /
            (col("deg") * (col("deg") - 1)), 6))
          .otherwise(lit(0.0)).as("local_cc"))
      .orderBy(col("node"))
  }

  /** Bounded query-node set for link prediction — the ANN pattern
    * (q_ann_* bound their query vectors the same way): per-node work
    * is O(deg²), so the operator is "predict for THESE nodes", not an
    * all-pairs sweep; an all-corpus run would batch over node ranges. */
  val LinkQueryCap = 20L

  /** Independent salted FM sketches per node in q_graph_anf — the
    * k-trial averaging that pulls a single sketch's factor-of-2
    * variance down by ~1/√k. 8 keeps the register rows a small
    * constant factor on the edge-join work. */
  val AnfRegisters = 8

  /** The k fractional powers 2^(f/k) for f ∈ [0, k): the geometric
    * mean 2^(s/k) = 2^(s div k) · AnfFracPow(s mod k) with only an
    * integer shift and one constant multiply — the decomposition that
    * keeps Palmer's estimator engine-exact (toString round-trips the
    * double, so the generated SQL parses back the identical bits). */
  val AnfFracPow: Seq[Double] =
    (0 until AnfRegisters).map(f => math.pow(2.0, f.toDouble / AnfRegisters))

  /** LINK PREDICTION by common neighbors: for each query part, the
    * top-10 non-adjacent parts ranked by resource-allocation index
    * (Zhou et al. 2009: Σ_{u ∈ N(a)∩N(b)} 1/deg(u)) with the common-
    * neighbor count alongside — "customers who bought these together
    * also bought" at the graph level.
    *
    * EXACT cross-engine arithmetic: each witness's weight is the
    * integer floor 10⁹ div deg (no transcendental, no float sum) —
    * the per-pair score is an exact BIGINT; the display value floors
    * to micro-units and makes ONE correctly-rounded double division,
    * bit-identical in both engines with no round-off tie anywhere.
    *
    * Scale shape: the two-hop expansion runs only from the bounded
    * query set (|Q|·deg² rows); existing edges drop via left_anti on
    * the adjacency key; the top-10 window partitions per query node
    * (≤ deg·avg-deg candidate rows each). The |nodes|-sized degree
    * table joins un-hinted — AQE broadcasts it only when small. */
  def qGraphCommonNeighbors(s: SparkSession, d: String): DataFrame = {
    // the edge list feeds FIVE consumers (degrees twice via the union,
    // adjacency twice, anti-join probe) — checkpoint it once so the
    // lineitem scan and the pair-generation self-join run a single
    // time; everything downstream reads the materialized edges
    val edges = Materialize(edgeParts(s, d)._1)
    val deg = degreesOf(edges)
    val adj = symmetric(edges, "u", "v")
    val qn = adj.where(col("u") <= LinkQueryCap)
      .select(col("u").as("a"), col("v").as("w"))
    val wdeg = deg.select(col("node").as("w"),
      expr("CAST(1000000000 DIV deg AS BIGINT)").as("wq"))
    // no broadcast hint: wdeg is |nodes|-sized (AQE broadcasts it only
    // when genuinely small; the candidate side is already shuffled on w)
    val cand = qn
      .join(adj.select(col("u").as("w"), col("v").as("y")), "w")
      .where(col("y") =!= col("a"))
      .join(wdeg, "w")
      .groupBy(col("a"), col("y"))
      .agg(count(lit(1)).as("cn"), sum(col("wq")).as("raq"))
    val nonEdge = cand.join(adj,
      cand("a") === adj("u") && cand("y") === adj("v"), "left_anti")
    val rk = row_number().over(org.apache.spark.sql.expressions.Window
      .partitionBy(col("a"))
      .orderBy(col("raq").desc, col("cn").desc, col("y")))
    nonEdge.withColumn("rk", rk).where(col("rk") <= 10)
      .select(col("a").as("node_a"), col("y").as("node_b"),
        col("cn"), col("rk"),
        (expr("CAST(raq DIV 1000 AS BIGINT)").cast("double") /
          lit(1000000.0)).as("ra"))
      .orderBy(col("node_a"), col("rk"))
  }

  /** BFS hop limit for q_graph_khop — a documented constant: frontier
    * work grows with the k-hop neighborhood, so the operator is
    * "reach within k", not all-pairs shortest paths. */
  val KhopLimit = 3

  /** K-HOP REACHABILITY with hop distance — BFS from the bounded
    * query-node set, unrolled KhopLimit rounds (the PageRank
    * fixed-iteration discipline): each round expands the previous
    * frontier through the adjacency list with one equi-join, new
    * nodes take hop = round, already-reached nodes keep their smaller
    * hop via the min-aggregate. Pure integer arithmetic — identical
    * in any engine. The checkpointed edge list is built once and
    * every round streams it against the frontier's hash table.
    * "Parts within 3 co-purchase hops of these parts" is the
    * recommendation-radius / blast-radius query. */
  def qGraphKhop(s: SparkSession, d: String): DataFrame = {
    // The frontier is the SHUFFLE_HASH build of every round: from
    // round 2 its estimate (a union under an aggregate) exceeds the
    // adjacency's measured size, so unhinted the planner broadcasts the
    // adjacency instead.
    val adj = Materialize(symmetric(edgeParts(s, d)._1, "u", "v"))
    var reached = adj.select(col("u").as("node")).where(col("node") <= LinkQueryCap)
      .distinct().select(col("node"), lit(0).as("hop"))
    for (k <- 1 to KhopLimit) {
      val next = adj
        .join(reached.where(col("hop") === (k - 1)).hint("shuffle_hash"),
          col("u") === col("node"))
        .select(col("v").as("node"), lit(k).as("hop"))
      reached = reached.unionAll(next)
        .groupBy(col("node")).agg(min(col("hop")).as("hop"))
    }
    reached.orderBy(col("hop"), col("node"))
  }

  /** 2-HOP NEIGHBORHOOD SIZE (the radius-2 neighborhood function —
    * ANF's ground truth, exact): for each query node, how many
    * distinct nodes sit within one hop (n1) and within two (n2,
    * excluding self), plus the expansion ratio n2/n1 — the
    * "friend-of-friend audience" / influence-radius measure, and the
    * empirical check on how fast this graph's balls grow before any
    * sketch-based ANF would be trusted at full scale.
    *
    * Shape discipline: the expansion runs only from the bounded query
    * set (the q_graph_common_neighbors contract — an all-corpus run
    * batches over node ranges, or switches to the Flajolet-Martin
    * bitmask rounds whose per-node state is constant); the distinct
    * collapses by (seed, node) BEFORE counting, so the count is one
    * hash aggregate over ≤ |Q|·deg² rows; the checkpointed edge list
    * is built once for the seed and expansion sides. Integer counts,
    * one final rounded double division — engine-exact. */
  def qGraphNeighborhood(s: SparkSession, d: String): DataFrame = {
    val adj = symmetric(Materialize(edgeParts(s, d)._1), "u", "v")
    val seeds = adj.where(col("u") <= LinkQueryCap)
      .select(col("u").as("a"), col("v").as("w"))
    val n1 = seeds.groupBy(col("a"))
      .agg(countDistinct(col("w")).as("n1"))
    val reach = seeds.select(col("a"), col("w").as("node"))
      .unionAll(seeds.join(adj.select(col("u").as("u2"), col("v")),
          col("w") === col("u2"))
        .select(col("a"), col("v").as("node")))
      .where(col("node") =!= col("a"))
      .distinct()
    val n2 = reach.groupBy(col("a")).agg(count(lit(1)).as("n2"))
    n1.join(n2, "a")
      .select(col("a").as("node"), col("n1"), col("n2"),
        round(col("n2").cast("double") / col("n1"), 6).as("expansion"))
      .orderBy(col("node"))
  }

  /** APPROXIMATE NEIGHBORHOOD FUNCTION at radius 2 — the
    * Flajolet-Martin bitmask rounds q_graph_neighborhood's scaladoc
    * names as the all-nodes scale path (Palmer et al. 2002 ANF /
    * Boldi's HyperBall with a single FM sketch): every node carries a
    * 64-bit mask whose set bit is the trailing-zero count of its
    * engine-portable md5-60 hash; each round ORs neighbor masks
    * through ONE edge join + bit_or aggregate (constant state per
    * node, |E|-proportional work — this is what replaces the
    * quadratic exact expansion when "2-hop audience for EVERY node"
    * is the ask at 100 TB). The estimate 2^R/0.77351 (R = lowest zero
    * bit) is deterministic integer arithmetic + one fixed IEEE
    * division, so even the APPROXIMATION is oracle-checked.
    *
    * Measurement discipline (the q_ann_recall mold): output compares
    * the sketch estimate against the EXACT 2-hop ball on the bounded
    * query set — a single 64-bit FM sketch has geometric-ulp variance
    * (factor-of-2 bands; measured median rel_err 0.38 in round 10), so
    * the production path here runs AnfRegisters independent salted
    * sketches per node and combines them with Palmer et al. 2002 §3's
    * k-trial estimator 2^(mean R)/φ — the GEOMETRIC mean of the 2^R
    * values (the arithmetic mean is dominated by the heavy upper tail
    * of 2^R: measured rel_err 0.70 vs 0.11 geometric on this graph).
    * Registers live as (node, reg) ROWS — a constant 8× on the linear
    * |E|-proportional round work, nothing new in the shuffle shape.
    *
    * Engine-exactness: mean R is a fractional exponent, and pow() is
    * not guaranteed correctly-rounded identically across engines, so
    * 2^(s/k) is decomposed as 2^(s div k) · c[s mod k] — an exact
    * integer shift times one of k CONSTANTS 2^(f/k) embedded as
    * round-trip decimal literals in BOTH the Spark plan and the
    * generated SQL. R is summed as an exact int (order-independent),
    * clamped at 50 per register, so every step is deterministic. */
  def qGraphAnf(s: SparkSession, d: String): DataFrame = {
    val adj = Materialize(symmetric(edgeParts(s, d)._1, "u", "v"))
    val m0 = adj.select(col("u").as("node")).distinct()
      .select(col("node"),
        explode(sequence(lit(0), lit(AnfRegisters - 1))).as("reg"))
      .withColumn("h",
        conv(substring(md5(concat(col("reg").cast("string"), lit(":"),
          col("node").cast("string"))), 1, 15), 16, 10)
          .cast("long"))
      .select(col("node"), col("reg"),
        expr("shiftleft(CAST(1 AS BIGINT), " +
          "LEAST(CAST(bit_count((h & -h) - 1) AS INT), 62))").as("m"))
    def orRound(prev: DataFrame): DataFrame =
      // the register side is the SHUFFLE_HASH build: each round's
      // estimate is a union of the last, so unhinted the planner
      // broadcasts the adjacency from round 2
      adj.join(prev.select(col("node").as("v"), col("reg"), col("m"))
          .hint("shuffle_hash"), "v")
        .select(col("u").as("node"), col("reg"), col("m"))
        .unionAll(prev)
        .groupBy(col("node"), col("reg")).agg(expr("bit_or(m)").as("m"))
    val est = orRound(orRound(m0))
      .select(col("node"),
        expr("LEAST(CAST(bit_count((~m & -(~m)) - 1) AS INT), 50)").as("r"))
      .groupBy(col("node"))
      .agg(sum(col("r")).as("s"))
      .select(col("node"),
        round(
          expr(s"shiftleft(CAST(1 AS BIGINT), " +
            s"CAST(s DIV $AnfRegisters AS INT))").cast("double")
          * element_at(
              array(AnfFracPow.map(lit): _*),
              (col("s") % AnfRegisters).cast("int") + 1)
          / lit(0.77351), 6).as("est2"))
    val seeds = adj.where(col("u") <= LinkQueryCap)
      .select(col("u").as("a"), col("v").as("w"))
    // the seed frontier is the bounded query set (|Q|·deg rows by
    // construction), estimated as large as the adjacency it filters:
    // broadcast it so the adjacency is never the broadcast side
    val ball2 = seeds.select(col("a"), col("w").as("node"))
      .unionAll(broadcast(seeds)
        .join(adj.select(col("u").as("u2"), col("v")),
          col("w") === col("u2"))
        .select(col("a"), col("v").as("node")))
      .where(col("node") =!= col("a"))
      .distinct()
      .groupBy(col("a")).agg((count(lit(1)) + 1).as("ball2"))
    ball2.join(est, ball2("a") === est("node"))
      .select(col("a").as("node"), col("ball2"), col("est2"),
        round(abs(col("est2") - col("ball2")) / col("ball2"), 6)
          .as("rel_err"))
      .orderBy(col("node"))
  }

  /** DEGREE DISTRIBUTION histogram in log₂ buckets — the one-page
    * structural profile (is this graph heavy-tailed? how hot is the
    * hottest hub?) that decides skew strategy before any pair-join
    * runs. The bucket is ⌊log₂ deg⌋ computed EXACTLY as the bit length
    * of the integer degree (LENGTH(BIN(deg)) − 1) — no floating log,
    * whose value at exact powers of two is one ulp from flipping the
    * bucket. Two aggregates (degree, then bucket), nothing else. */
  def qGraphDegreeHist(s: SparkSession, d: String): DataFrame = {
    val deg = degreesOf(edgeParts(s, d)._1)
    deg.select(col("deg"),
        (length(bin(col("deg"))) - 1).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_nodes"),
        min(col("deg")).as("min_deg"), max(col("deg")).as("max_deg"))
      .orderBy(col("bucket"))
  }

  /** Peeling rounds for the k-core pass — fixed and unrolled in the
    * oracle, so the result is a deterministic "R-round peel" whether
    * or not the peel has reached its fixpoint (the khop/pagerank
    * fixed-iteration discipline). */
  val KcoreRounds = 3

  /** K-CORE membership after KcoreRounds of peeling — the standard
    * "dense backbone" extraction (drop every node with degree < k,
    * recompute degrees, repeat): spam/bot subgraph mining, influence
    * cores, graph sparsification. The threshold k is SIZE-DERIVED
    * in-plan as ¾ of the mean degree, ⌊1.5|E|/|V|⌋, one scalar
    * subquery — a constant k would prune nothing on a dense graph
    * and everything on a sparse one, and the full mean cascades this
    * graph to an empty core (measured: removing the below-mean half
    * drops the survivors' degrees below the mean again). The derived
    * k is itself an output column, so the oracle checks the
    * derivation too.
    *
    * Scale shape per round: one degree aggregate + two semi-joins,
    * all on the node key; the shrinking edge list materializes once
    * per round (localCheckpoint) so round r+1 reads |E_r| rows instead
    * of re-deriving the whole peel lineage three times over. Nothing
    * quadratic, no windows. */
  def qGraphKcore(s: SparkSession, d: String): DataFrame = {
    // The peel runs on the SYMMETRIZED adjacency: grouping by EITHER
    // endpoint gives the node degrees, so each round is one degree
    // aggregate and two semi joins against its keep set. The keep set
    // (≤ |V| rows) is the SHUFFLE_HASH build of both semi joins, so
    // the streamed edge side pays no sort-merge sort (unhinted, both
    // are sort-merge joins at sf0.1 and the query is 17% slower). The
    // final round needs only the keep set, so its edge filter (2
    // exchanges + an eager checkpoint the output never reads) is
    // skipped outright — the oracle's unused e3 CTE was never
    // evaluated either. Same k derivation (1.5·|E|/|V| on exact
    // integers; |sym| div 2 == |E|), same KcoreRounds peel,
    // row-identical output. k is a scalar subquery, not a broadcast
    // cross join: Spark sizes a cross join as the product of its
    // sides, so a joined 1-row k multiplied every estimate above it
    // and the final deg0 ⋈ keep planned as a sort-merge join.
    val sym = Materialize(symmetric(edgeParts(s, d)._1, "a", "b"))
    val deg0 = sym.groupBy(col("a")).agg(count(lit(1)).as("deg"))
      .select(col("a").as("node"), col("deg"))
    val k = sym.agg(expr("count(1) div 2").as("ecnt"))
      .crossJoin(deg0.agg(count(lit(1)).as("ncnt")))
      .select(floor(lit(1.5) * col("ecnt") / col("ncnt")))
      .scalar()
    var cur = sym
    var keep: DataFrame = null
    for (r <- 1 to KcoreRounds) {
      keep = cur.groupBy(col("a")).agg(count(lit(1)).as("deg"))
        .where(col("deg") >= k)
        .select(col("a").as("node"))
      if (r < KcoreRounds)
        cur = Materialize(cur
          .join(keep.select(col("node").as("a")).hint("shuffle_hash"),
            Seq("a"), "left_semi")
          .join(keep.select(col("node").as("b")).hint("shuffle_hash"),
            Seq("b"), "left_semi"))
    }
    deg0
      .join(keep.select(col("node"), lit(true).as("in_core")),
        Seq("node"), "left")
      .select(col("node"), col("deg").as("degree"), k.as("k"),
        coalesce(col("in_core"), lit(false)).as("in_core"))
      .orderBy(col("node"))
  }

  /** DEGREE ASSORTATIVITY (Newman 2002) — the Pearson correlation of
    * endpoint degrees over the symmetrized edge list: positive means
    * hubs prefer hubs (social-network shape), negative means
    * hub-and-spoke (infrastructure shape) — a one-number structural
    * fingerprint of the co-purchase graph.
    *
    * Degrees are integers, so all five Pearson moments are exact
    * BIGINT sums over the directed edge rows (each undirected edge
    * contributes both orientations — the standard formulation); the
    * closing r is one fixed IEEE sequence rounded at 6 dp
    * (q_events_autocorr's discipline exactly — including its numeric
    * envelope: degrees below ~2³¹ keep every product in BIGINT; a
    * hotter graph lifts the moment sums to DECIMAL(38,0)).
    *
    * Scale shape: two degree equi-joins onto the checkpointed edge
    * list (un-hinted — AQE broadcasts the |nodes|-sized degree table
    * only when it is genuinely small), one global aggregate. No
    * windows, no pair explosion. */
  def qGraphAssortativity(s: SparkSession, d: String): DataFrame = {
    val edges = Materialize(edgeParts(s, d)._1)
    val deg = degreesOf(edges)
    // a union of two projections, not `symmetric`: both read the
    // checkpointed edges, and the one-explode form measured slower here
    // (graft.Bench min-of-3 at sf0.1, 4 cores, two runs each: 3.21 and
    // 3.39 s with the union, 3.64 and 3.43 s with the explode)
    val sym = edges.select(col("pa").as("u"), col("pb").as("v"))
      .unionAll(edges.select(col("pb").as("u"), col("pa").as("v")))
    // NO broadcast hint on the degree table: it is |nodes|-sized, so
    // the hint would be wrong at real scale — AQE broadcasts it when
    // it is actually small, shuffles on the node key otherwise
    sym
      .join(deg.select(col("node").as("u"), col("deg").as("dx")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dy")), "v")
      .agg(count(lit(1)).as("n_ends"),
        sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
        sum(col("dx") * col("dy")).as("sxy"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dy") * col("dy")).as("syy"))
      .select(col("n_ends"),
        when(col("n_ends") * col("sxx") - col("sx") * col("sx") > 0 &&
             col("n_ends") * col("syy") - col("sy") * col("sy") > 0,
          round((col("n_ends") * col("sxy") - col("sx") * col("sy"))
              .cast("double") /
            (sqrt((col("n_ends") * col("sxx") - col("sx") * col("sx"))
                .cast("double")) *
             sqrt((col("n_ends") * col("syy") - col("sy") * col("sy"))
                .cast("double"))), 6))
          .as("assortativity"))
  }

  /** Synchronous label-propagation rounds (Raghavan et al. 2007). The
    * classic formulation breaks ties randomly and runs to convergence;
    * both are replaced by DETERMINISTIC rules so two engines agree
    * bit-for-bit: a fixed round count, and new-label = the neighbor
    * label with the highest count, ties to the SMALLEST label. All
    * arithmetic is integer counting — no floats anywhere, so the
    * oracle needs no quantization contract. */
  val LpaRounds = 4

  /** The span of an LPA label in the packed winner key
    * label − cnt·2³²: the key orders by count descending, then by
    * label ascending, and pmod(key, 2³²) gives the label back, exactly
    * for 0 ≤ label < 2³² and 0 < cnt < 2³¹. */
  private val LpaLabelSpan = 1L << 32

  /** `v`, or the named LPA_RANGE error where `ok` fails: a node id or a
    * count outside the packed key's range never yields a wrong label. */
  private def lpaInRange(ok: Column, v: Column): Column =
    when(ok, v).otherwise(raise_error(lit("LPA_RANGE: label propagation " +
      "needs node ids in [0, 2^32) and fewer than 2^31 edges per node")))

  /** The per-node community labels after LpaRounds synchronous rounds
    * over the symmetrized part co-purchase graph — shared by
    * q_graph_lpa and q_graph_modularity. Node ids must lie in
    * [0, 2³²) (l_partkey is at most 200,000·SF in TPC-H); any other id
    * fails the query with LPA_RANGE as the edge list materializes.
    *
    * Round 1 is in closed form: the seed labels are the node ids and
    * the edge list holds each (src, dst) once (distinct pa < pb pairs,
    * both orientations), so every neighbour label counts once and the
    * winner is the smallest neighbour, min(dst) per src.
    *
    * Each later round is one equi-join (edges × labels) and two hash
    * aggregates: the (src, label) count, then the winner as min over the
    * packed long label − cnt·2³² (LpaLabelSpan), NEVER a per-node
    * window — a hub's neighbour-label counts combine in partials, so a
    * degree-10⁶ node costs its edge count, not a single-task sort. The
    * labels are materialized, so their measured size decides the join:
    * within spark.sql.autoBroadcastJoinThreshold the planner broadcasts
    * them and the edges stream from their checkpoint with no exchange;
    * above it they are the SHUFFLE_HASH build, so the edge stream never
    * pays a sort-merge sort. The edge list is checkpointed once and
    * reused by all rounds. */
  private def lpaLabels(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val e = Materialize(symmetric(edgeParts(s, d)._1, "src", "dst")
      .select(lpaInRange(col("src").between(0L, LpaLabelSpan - 1), col("src"))
        .as("src"), col("dst")))
    // each round's labels feed exactly one consumer, but without a
    // checkpoint the final plan nests the join-agg rounds and the edge
    // scan re-executes per round under AQE re-planning
    var lab = Materialize(e.groupBy(col("src")).agg(min(col("dst")).as("label"))
      .select(col("src").as("node"), col("label")))
    val threshold = SQLConf.get.autoBroadcastJoinThreshold
    for (_ <- 2 to LpaRounds) {
      val labels = lab.select(col("node").as("dst"), col("label"))
      val fits = lab.queryExecution.optimizedPlan.stats.sizeInBytes <= threshold
      val counts = e.join(if (fits) labels else labels.hint("shuffle_hash"), "dst")
        .groupBy(col("src"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      lab = Materialize(counts.groupBy(col("src"))
        .agg(min(lpaInRange(col("cnt") < (1L << 31),
          col("label") - col("cnt") * LpaLabelSpan)).as("w"))
        .select(col("src").as("node"), pmod(col("w"), lit(LpaLabelSpan)).as("label")))
    }
    (e, lab)
  }

  /** Community detection by LABEL PROPAGATION — per-node community ids
    * after LpaRounds deterministic synchronous rounds. Complements the
    * dedup family's connected components (which merge anything
    * touching) with the density-sensitive partition a curation
    * pipeline uses for topic-ish grouping. */
  def qGraphLpa(s: SparkSession, d: String): DataFrame = {
    val (_, lab) = lpaLabels(s, d)
    lab.select(col("node"), col("label").as("community"))
      .orderBy(col("node"))
  }

  /** Newman MODULARITY of the LPA partition — the one-number quality
    * score of a community structure: Q = Σc ec/m − (dc/2m)². Computed
    * from EXACT integer sufficient statistics (intra-edge count,
    * Σ per-community squared degree sums, m) with ONE double division
    * at the end — no per-community float summation, so the result is
    * order-independent and engine-portable: Q = (4m·Σec − Σdc²)/(4m²).
    * The integer outputs are hash-checked alongside; all stay below
    * 2^53 four orders past bench scale (m ~ 10⁶ → numerator ~ 10¹³). */
  def qGraphModularity(s: SparkSession, d: String): DataFrame = {
    val (e, lab) = lpaLabels(s, d)
    // m = |undirected edges| = |symmetrized| / 2; intra counted on the
    // symmetrized list and halved the same way.
    val labeled = e
      .join(lab.select(col("node").as("dst"), col("label").as("lb")), "dst")
      .join(lab.select(col("node").as("src"), col("label").as("la")), "src")
    val intra = labeled
      .agg((count(lit(1)) / 2).cast("long").as("m_edges_x2_half"),
        (sum(when(col("la") === col("lb"), 1L).otherwise(0L)) / 2)
          .cast("long").as("n_intra"))
    // dc = Σ degrees inside community c; Σc dc² via per-community sums
    val dsq = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .join(lab.select(col("node").as("src"), col("label")), "src")
      .groupBy(col("label")).agg(sum(col("deg")).as("dc"))
      .agg(count(lit(1)).as("n_communities"),
        sum(col("dc") * col("dc")).as("sum_dc_sq"))
    intra.crossJoin(broadcast(dsq))
      .select(col("n_communities"),
        col("m_edges_x2_half").as("m_edges"), col("n_intra"),
        col("sum_dc_sq"),
        round((lit(4L) * col("m_edges_x2_half") * col("n_intra") -
            col("sum_dc_sq")).cast("double") /
          (lit(4L) * col("m_edges_x2_half") * col("m_edges_x2_half"))
            .cast("double"), 6).as("modularity"))
  }

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_graph_assortativity" -> (qGraphAssortativity _),
    "q_graph_khop" -> (qGraphKhop _),
    "q_graph_neighborhood" -> (qGraphNeighborhood _),
    "q_graph_anf" -> (qGraphAnf _),
    "q_graph_kcore" -> (qGraphKcore _),
    "q_graph_degree_hist" -> (qGraphDegreeHist _),
    "q_graph_pagerank" -> (qGraphPagerank _),
    "q_graph_lpa" -> (qGraphLpa _),
    "q_graph_modularity" -> (qGraphModularity _),
    "q_graph_triangles" -> (qGraphTriangles _),
    "q_graph_clustering" -> (qGraphClustering _),
    "q_graph_common_neighbors" -> (qGraphCommonNeighbors _))

  /** DuckDB twin GENERATED from PageRank's constants, in the SAME
    * integer pico-unit discipline as graph/PageRank.scala (round 13
    * engine rewrite): rank state is a BIGINT in 1e-12 units, every
    * step is floor division on positive integers (DuckDB `//` ==
    * Spark `div` for positive operands), unrolled once per iteration
    * so the two engines run literally the same arithmetic — seed
    * Pico // n, per-edge contribution rp // deg, damped close
    * (TeleportPico // n) + (dampNum·Σ) // 100, final half-up rescale
    * (rp + 5000) // 10000 closed by one exact double division by 1e8.
    * No ROUND, no DECIMAL quantization grid anywhere: floor of an
    * exact integer quotient has no half-boundary to disagree on. */
  private def pagerankOracle: String = {
    val iters = PageRank.DefaultIters
    val pico = PageRank.Pico
    val tele = PageRank.TeleportPico
    val dampNum = math.round(PageRank.Damping * 100) // 85
    def iterBlock(i: Int): String = {
      val prev = s"r${i - 1}"
      s"""c$i AS (
         |  SELECT e.dst AS node, SUM(p.rp // p.deg) AS sp
         |  FROM e JOIN $prev p ON e.src = p.node GROUP BY 1),
         |r$i AS (
         |  SELECT deg.node, deg.deg, nn.n,
         |    ($tele // nn.n) + (($dampNum * c$i.sp) // 100) AS rp
         |  FROM deg JOIN c$i ON deg.node = c$i.node CROSS JOIN nn),""".stripMargin
    }
    val blocks = (1 to iters).map(iterBlock).mkString("\n")
    s"""WITH e AS (
       |  SELECT DISTINCT l_partkey AS src, $SuppOffset + l_suppkey AS dst
       |  FROM lineitem
       |  UNION
       |  SELECT DISTINCT $SuppOffset + l_suppkey AS src, l_partkey AS dst
       |  FROM lineitem),
       |deg AS (
       |  SELECT src AS node, COUNT(*) AS deg FROM e GROUP BY 1),
       |nn AS (SELECT COUNT(*) AS n FROM deg),
       |r0 AS (
       |  SELECT node, deg, nn.n, $pico // nn.n AS rp
       |  FROM deg CROSS JOIN nn),
       |$blocks
       |fin AS (SELECT node, deg,
       |          CAST((rp + 5000) // 10000 AS DOUBLE) / 1e8 AS rank
       |        FROM r$iters)
       |SELECT node, deg, rank FROM fin ORDER BY node""".stripMargin
  }

  /** The shared CTE chain of the LPA oracles: symmetrized co-purchase
    * edges, identity labels, and one (count → max → min-label) block
    * per round — the same deterministic tie-break as the Spark side's
    * packed min(label − cnt·2³²) winner, unrolled from the same
    * LpaRounds constant. Round 1 is unrolled generically here too, so
    * the oracle checks the Spark side's closed-form min(dst) round.
    * Pure integer arithmetic: no quantization contract needed
    * anywhere. */
  private def lpaCtes: String = {
    def roundBlock(i: Int): String =
      s"""c$i AS (
         |  SELECT e.src AS node, p.label, COUNT(*) AS cnt
         |  FROM e JOIN l${i - 1} p ON e.dst = p.node GROUP BY 1, 2),
         |mx$i AS (SELECT node, MAX(cnt) AS mx FROM c$i GROUP BY 1),
         |l$i AS (
         |  SELECT c.node, MIN(c.label) AS label
         |  FROM c$i c JOIN mx$i m ON c.node = m.node AND c.cnt = m.mx
         |  GROUP BY 1)""".stripMargin
    val blocks = (1 to LpaRounds).map(roundBlock).mkString(",\n")
    s"""items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |e0 AS (
       |  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
       |  FROM items a JOIN items b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       |e AS (SELECT pa AS src, pb AS dst FROM e0
       |      UNION ALL SELECT pb, pa FROM e0),
       |l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
       |$blocks""".stripMargin
  }

  private def lpaOracle: String =
    s"""WITH $lpaCtes
       |SELECT node, label AS community FROM l$LpaRounds ORDER BY node""".stripMargin

  private def modularityOracle: String =
    s"""WITH $lpaCtes,
       |lab AS (SELECT node, label FROM l$LpaRounds),
       |stats AS (
       |  SELECT CAST(COUNT(*) / 2 AS BIGINT) AS m_edges,
       |    CAST(SUM(CASE WHEN la.label = lb.label THEN 1 ELSE 0 END) / 2
       |      AS BIGINT) AS n_intra
       |  FROM e JOIN lab la ON e.src = la.node
       |  JOIN lab lb ON e.dst = lb.node),
       |dsq AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
       |    CAST(SUM(dc * dc) AS BIGINT) AS sum_dc_sq
       |  FROM (
       |    SELECT l.label, SUM(dg.deg) AS dc
       |    FROM (SELECT src, COUNT(*) AS deg FROM e GROUP BY 1) dg
       |    JOIN lab l ON dg.src = l.node
       |    GROUP BY 1))
       |SELECT n_communities, m_edges, n_intra, sum_dc_sq,
       |  ROUND(CAST(4 * m_edges * n_intra - sum_dc_sq AS DOUBLE) /
       |    CAST(4 * m_edges * m_edges AS DOUBLE), 6) AS modularity
       |FROM stats CROSS JOIN dsq""".stripMargin

  /** DuckDB twin of qGraphTriangles — same orientation rule, same
    * (deg, id) wedge ordering, so the census is count-exact. */
  private val trianglesOracle: String =
    """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e AS (
      |  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
      |  FROM items a JOIN items b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |deg AS (
      |  SELECT node, COUNT(*) AS deg FROM (
      |    SELECT pa AS node FROM e UNION ALL SELECT pb FROM e) GROUP BY 1),
      |o AS (
      |  SELECT
      |    CASE WHEN x.deg < y.deg OR (x.deg = y.deg AND e.pa < e.pb)
      |      THEN e.pa ELSE e.pb END AS u,
      |    CASE WHEN x.deg < y.deg OR (x.deg = y.deg AND e.pa < e.pb)
      |      THEN e.pb ELSE e.pa END AS v,
      |    CASE WHEN x.deg < y.deg OR (x.deg = y.deg AND e.pa < e.pb)
      |      THEN y.deg ELSE x.deg END AS dv
      |  FROM e JOIN deg x ON e.pa = x.node JOIN deg y ON e.pb = y.node),
      |w AS (
      |  SELECT e1.v AS x, e2.v AS y FROM o e1 JOIN o e2
      |    ON e1.u = e2.u AND (e1.dv < e2.dv OR (e1.dv = e2.dv AND e1.v < e2.v))),
      |t AS (
      |  SELECT COUNT(*) AS n_triangles FROM w JOIN o ON o.u = w.x AND o.v = w.y)
      |SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
      |  (SELECT COUNT(*) FROM e) AS n_edges,
      |  (SELECT CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) FROM deg) AS n_wedges,
      |  t.n_triangles,
      |  ROUND(3.0 * t.n_triangles /
      |    GREATEST((SELECT SUM(deg * (deg - 1) // 2) FROM deg), 1), 6)
      |    AS clustering_coeff
      |FROM t""".stripMargin

  /** DuckDB twin of qGraphClustering — same orientation, same
    * three-corner credit per closed wedge. */
  private val clusteringOracle: String =
    """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e AS (
      |  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
      |  FROM items a JOIN items b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |deg AS (
      |  SELECT node, COUNT(*) AS deg FROM (
      |    SELECT pa AS node FROM e UNION ALL SELECT pb FROM e) GROUP BY 1),
      |o AS (
      |  SELECT
      |    CASE WHEN x.deg < y.deg OR (x.deg = y.deg AND e.pa < e.pb)
      |      THEN e.pa ELSE e.pb END AS u,
      |    CASE WHEN x.deg < y.deg OR (x.deg = y.deg AND e.pa < e.pb)
      |      THEN e.pb ELSE e.pa END AS v,
      |    CASE WHEN x.deg < y.deg OR (x.deg = y.deg AND e.pa < e.pb)
      |      THEN y.deg ELSE x.deg END AS dv
      |  FROM e JOIN deg x ON e.pa = x.node JOIN deg y ON e.pb = y.node),
      |w AS (
      |  SELECT e1.u AS u, e1.v AS x, e2.v AS y FROM o e1 JOIN o e2
      |    ON e1.u = e2.u AND (e1.dv < e2.dv OR (e1.dv = e2.dv AND e1.v < e2.v))),
      |closed AS (
      |  SELECT w.u, w.x, w.y FROM w JOIN o ON o.u = w.x AND o.v = w.y),
      |tpn AS (
      |  SELECT node, COUNT(*) AS n_tri FROM (
      |    SELECT u AS node FROM closed
      |    UNION ALL SELECT x FROM closed
      |    UNION ALL SELECT y FROM closed) GROUP BY 1)
      |SELECT deg.node, deg.deg,
      |  COALESCE(tpn.n_tri, 0) AS n_tri,
      |  CASE WHEN deg.deg >= 2 THEN
      |    ROUND(2.0 * COALESCE(tpn.n_tri, 0) / (deg.deg * (deg.deg - 1)), 6)
      |  ELSE 0.0 END AS local_cc
      |FROM deg LEFT JOIN tpn USING (node)
      |ORDER BY deg.node""".stripMargin

  /** DuckDB twin of qGraphCommonNeighbors — same bounded query set,
    * same integer 10⁹ div deg witness weights, same micro-unit floor
    * before the one double division, same (raq, cn, y) tie-break. */
  private def commonNeighborsOracle: String =
    s"""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |e AS (
       |  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
       |  FROM items a JOIN items b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       |deg AS (
       |  SELECT node, COUNT(*) AS deg FROM (
       |    SELECT pa AS node FROM e UNION ALL SELECT pb FROM e) GROUP BY 1),
       |adj AS (SELECT pa AS u, pb AS v FROM e
       |        UNION ALL SELECT pb, pa FROM e),
       |qn AS (SELECT u AS a, v AS w FROM adj WHERE u <= $LinkQueryCap),
       |cand AS (
       |  SELECT q.a, p.v AS y, COUNT(*) AS cn,
       |    CAST(SUM(1000000000 // d.deg) AS BIGINT) AS raq
       |  FROM qn q JOIN adj p ON p.u = q.w JOIN deg d ON d.node = q.w
       |  WHERE p.v <> q.a
       |  GROUP BY 1, 2),
       |nonedge AS (
       |  SELECT c.a, c.y, c.cn, c.raq FROM cand c
       |  LEFT JOIN adj ON adj.u = c.a AND adj.v = c.y
       |  WHERE adj.u IS NULL),
       |ranked AS (
       |  SELECT a, y, cn, raq,
       |    ROW_NUMBER() OVER (PARTITION BY a
       |      ORDER BY raq DESC, cn DESC, y) AS rk
       |  FROM nonedge)
       |SELECT a AS node_a, y AS node_b, cn, rk,
       |  CAST(raq // 1000 AS BIGINT) / 1000000.0 AS ra
       |FROM ranked WHERE rk <= 10
       |ORDER BY node_a, rk""".stripMargin

  /** DuckDB twin of qGraphKhop — the same BFS unrolled KhopLimit
    * rounds from the same query-set bound. */
  private def khopOracle: String = {
    def round(k: Int): String =
      s"""n$k AS (
         |  SELECT a.v AS node, $k AS hop
         |  FROM r${k - 1} f JOIN adj a ON a.u = f.node
         |  WHERE f.hop = ${k - 1}),
         |r$k AS (
         |  SELECT node, MIN(hop) AS hop FROM (
         |    SELECT node, hop FROM r${k - 1}
         |    UNION ALL SELECT node, hop FROM n$k) GROUP BY 1)""".stripMargin
    s"""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |e AS (
       |  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
       |  FROM items a JOIN items b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       |adj AS (SELECT pa AS u, pb AS v FROM e
       |        UNION ALL SELECT pb, pa FROM e),
       |r0 AS (
       |  SELECT DISTINCT u AS node, 0 AS hop FROM adj
       |  WHERE u <= $LinkQueryCap),
       |${(1 to KhopLimit).map(round).mkString(",\n")}
       |SELECT node, hop FROM r$KhopLimit ORDER BY hop, node""".stripMargin
  }

  /** DuckDB twin of qGraphKcore — the same size-derived k and the
    * same KcoreRounds of [degree → filter → edge-restrict], unrolled.
    * Both engines compute k with one IEEE double divide + floor
    * (exact-integer-boundary safe: a non-equal 2|E|/|V| cannot land
    * within half an ulp of an integer at these magnitudes). */
  private def kcoreOracle: String = {
    def round(r: Int): String =
      s"""d$r AS (
         |  SELECT node, COUNT(*) AS deg FROM (
         |    SELECT pa AS node FROM e${r - 1}
         |    UNION ALL SELECT pb FROM e${r - 1}) GROUP BY 1),
         |keep$r AS (
         |  SELECT node FROM d$r CROSS JOIN kv WHERE deg >= kv.k),
         |e$r AS (
         |  SELECT pa, pb FROM e${r - 1}
         |  WHERE pa IN (SELECT node FROM keep$r)
         |    AND pb IN (SELECT node FROM keep$r))""".stripMargin
    s"""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |e0 AS (
       |  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
       |  FROM items a JOIN items b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       |d0 AS (
       |  SELECT node, COUNT(*) AS deg FROM (
       |    SELECT pa AS node FROM e0 UNION ALL SELECT pb FROM e0) GROUP BY 1),
       |kv AS (
       |  SELECT CAST(FLOOR(1.5 * (SELECT COUNT(*) FROM e0)
       |    / (SELECT COUNT(*) FROM d0)) AS BIGINT) AS k),
       |${(1 to KcoreRounds).map(round).mkString(",\n")}
       |SELECT d0.node, CAST(d0.deg AS BIGINT) AS degree, kv.k,
       |  d0.node IN (SELECT node FROM keep$KcoreRounds) AS in_core
       |FROM d0 CROSS JOIN kv ORDER BY d0.node""".stripMargin
  }

  /** DuckDB twin of qGraphAssortativity — same symmetrized edge ends,
    * same exact integer moments, same closing sequence. */
  private val assortativityOracle: String =
    """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e AS (
      |  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
      |  FROM items a JOIN items b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |deg AS (
      |  SELECT node, COUNT(*) AS deg FROM (
      |    SELECT pa AS node FROM e UNION ALL SELECT pb FROM e) GROUP BY 1),
      |sym AS (SELECT pa AS u, pb AS v FROM e
      |        UNION ALL SELECT pb, pa FROM e),
      |m AS (
      |  SELECT COUNT(*) AS n_ends,
      |    CAST(SUM(x.deg) AS BIGINT) AS sx, CAST(SUM(y.deg) AS BIGINT) AS sy,
      |    CAST(SUM(x.deg * y.deg) AS BIGINT) AS sxy,
      |    CAST(SUM(x.deg * x.deg) AS BIGINT) AS sxx,
      |    CAST(SUM(y.deg * y.deg) AS BIGINT) AS syy
      |  FROM sym JOIN deg x ON sym.u = x.node JOIN deg y ON sym.v = y.node)
      |SELECT n_ends,
      |  CASE WHEN n_ends * sxx - sx * sx > 0 AND n_ends * syy - sy * sy > 0
      |    THEN ROUND(CAST(n_ends * sxy - sx * sy AS DOUBLE) /
      |      (SQRT(CAST(n_ends * sxx - sx * sx AS DOUBLE)) *
      |       SQRT(CAST(n_ends * syy - sy * sy AS DOUBLE))), 6)
      |  END AS assortativity
      |FROM m""".stripMargin

  def oracles: Map[String, String] = Map(
    "q_graph_assortativity" -> assortativityOracle,
    "q_graph_khop" -> khopOracle,
    "q_graph_anf" ->
      s"""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |e AS (
         |  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
         |  FROM items a JOIN items b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         |adj AS (SELECT pa AS u, pb AS v FROM e
         |        UNION ALL SELECT pb, pa FROM e),
         |nodes AS (SELECT DISTINCT u AS node FROM adj),
         |h0 AS (
         |  SELECT node, r.reg,
         |    CAST(CONCAT('0x', SUBSTR(MD5(CONCAT(r.reg, ':', node)), 1, 15))
         |      AS BIGINT) AS h
         |  FROM nodes CROSS JOIN (SELECT UNNEST(
         |    GENERATE_SERIES(0, ${AnfRegisters - 1})) AS reg) r),
         |m0 AS (
         |  SELECT node, reg, (CAST(1 AS BIGINT) <<
         |    LEAST(CAST(bit_count((h & -h) - 1) AS INT), 62)) AS m
         |  FROM h0),
         |r1 AS (
         |  SELECT node, reg, bit_or(m) AS m FROM (
         |    SELECT a.u AS node, p.reg, p.m
         |    FROM adj a JOIN m0 p ON p.node = a.v
         |    UNION ALL SELECT node, reg, m FROM m0) GROUP BY node, reg),
         |r2 AS (
         |  SELECT node, reg, bit_or(m) AS m FROM (
         |    SELECT a.u AS node, p.reg, p.m
         |    FROM adj a JOIN r1 p ON p.node = a.v
         |    UNION ALL SELECT node, reg, m FROM r1) GROUP BY node, reg),
         |sums AS (
         |  SELECT node,
         |    SUM(LEAST(CAST(bit_count((~m & -(~m)) - 1) AS INT), 50)) AS s
         |  FROM r2 GROUP BY node),
         |est AS (
         |  SELECT node,
         |    ROUND(CAST((CAST(1 AS BIGINT) <<
         |      CAST(s // $AnfRegisters AS INT)) AS DOUBLE) *
         |      ([${AnfFracPow.mkString(", ")}])[CAST(s % $AnfRegisters AS INT) + 1]
         |      / 0.77351, 6) AS est2
         |  FROM sums),
         |seeds AS (SELECT u AS a, v AS w FROM adj WHERE u <= $LinkQueryCap),
         |reach AS (
         |  SELECT DISTINCT a, node FROM (
         |    SELECT a, w AS node FROM seeds
         |    UNION ALL
         |    SELECT s.a, p.v AS node FROM seeds s JOIN adj p ON p.u = s.w)
         |  WHERE node <> a),
         |n2 AS (SELECT a, COUNT(*) + 1 AS ball2 FROM reach GROUP BY 1)
         |SELECT n2.a AS node, ball2, est2,
         |  ROUND(ABS(est2 - ball2) / ball2, 6) AS rel_err
         |FROM n2 JOIN est ON est.node = n2.a
         |ORDER BY node""".stripMargin,
    "q_graph_neighborhood" ->
      s"""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |e AS (
         |  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
         |  FROM items a JOIN items b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         |adj AS (SELECT pa AS u, pb AS v FROM e
         |        UNION ALL SELECT pb, pa FROM e),
         |seeds AS (SELECT u AS a, v AS w FROM adj WHERE u <= $LinkQueryCap),
         |n1 AS (SELECT a, COUNT(DISTINCT w) AS n1 FROM seeds GROUP BY 1),
         |reach AS (
         |  SELECT DISTINCT a, node FROM (
         |    SELECT a, w AS node FROM seeds
         |    UNION ALL
         |    SELECT s.a, p.v AS node FROM seeds s JOIN adj p ON p.u = s.w)
         |  WHERE node <> a),
         |n2 AS (SELECT a, COUNT(*) AS n2 FROM reach GROUP BY 1)
         |SELECT a AS node, n1, n2,
         |  ROUND(CAST(n2 AS DOUBLE) / n1, 6) AS expansion
         |FROM n1 JOIN n2 USING (a) ORDER BY node""".stripMargin,
    "q_graph_kcore" -> kcoreOracle,
    "q_graph_degree_hist" ->
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (
        |  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
        |  FROM items a JOIN items b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |d AS (
        |  SELECT node, COUNT(*) AS deg FROM (
        |    SELECT pa AS node FROM e UNION ALL SELECT pb FROM e) GROUP BY 1)
        |SELECT CAST(LENGTH(BIN(deg)) - 1 AS INT) AS bucket,
        |  COUNT(*) AS n_nodes,
        |  MIN(deg) AS min_deg, MAX(deg) AS max_deg
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_graph_pagerank" -> pagerankOracle,
    "q_graph_lpa" -> lpaOracle,
    "q_graph_modularity" -> modularityOracle,
    "q_graph_triangles" -> trianglesOracle,
    "q_graph_clustering" -> clusteringOracle,
    "q_graph_common_neighbors" -> commonNeighborsOracle)
}
