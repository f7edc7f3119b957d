package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.dedup.Cluster
import graft.operators.{AsofJoin, Sampling}

/** Round-2 operators: as-of join, banded range join, connected
  * components, deterministic sampling — each checked against a naive
  * (non-scalable) reference computation of the same semantics. */
class Round2OperatorsSpec extends SparkSpec {

  private def eventsUs = Tables.events(spark, sf)
    .withColumn("ts_us", unix_micros(col("ts")))

  test("as-of join equals the naive theta-join + keep-latest") {
    val ev = eventsUs.select("event_id", "user_id", "ts_us")
    val right = eventsUs.where(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts_us"))
      .agg(max(col("value")).as("value"))

    val fast = AsofJoin.asofPrefixed(ev, right, "user_id", "ts_us", Seq("value"))
      .select(col("event_id"), col("asof_ts_us"), col("asof_value"))

    // naive: all right rows at-or-before, rank desc, keep first
    val r = right.select(col("user_id").as("r_uid"),
      col("ts_us").as("r_ts"), col("value").as("r_value"))
    val w = Window.partitionBy(col("event_id")).orderBy(col("r_ts").desc)
    val naive = ev.join(r,
        col("user_id") === col("r_uid") && col("r_ts") <= col("ts_us"), "left")
      .withColumn("rk", row_number().over(w))
      .where(col("rk") === 1)
      .select(col("event_id"), col("r_ts").as("asof_ts_us"),
        col("r_value").as("asof_value"))

    assert(fast.exceptAll(naive).isEmpty && naive.exceptAll(fast).isEmpty)
  }

  test("banded range join equals the direct theta-join neighbor count") {
    // the reference is computed on the driver: a Spark theta-join is
    // banded by the same rule as the query, so it is no reference
    val fast = graft.queries.Events.qRangeJoin(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ev = eventsUs.select("event_id", "event_type", "ts_us").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byType = ev.groupBy(_._2)
    val naive = ev.map { case (id, ty, t) =>
      id -> byType(ty).count { case (id2, _, t2) => id2 != id && math.abs(t - t2) <= 60000000L }
        .toLong
    }.toMap
    assert(fast.size == ev.length && fast == naive,
      "banded neighbor counts differ from the driver-side count")
    assert(naive.values.exists(_ > 0), "no event has a neighbour: the check is vacuous")
  }

  test("connected components label chains, cliques, and separate parts") {
    import spark.implicits._
    // chain 1-2-3, clique 10-11-12, isolated edge 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L)).toDF("id_a", "id_b")
    val got = Cluster.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connected components match union-find on seeded random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    (1 to 5).foreach { trial =>
      val nVerts = 30 + rnd.nextInt(40)
      val edges = List.fill(25 + rnd.nextInt(50))(
        (rnd.nextInt(nVerts).toLong, rnd.nextInt(nVerts).toLong))
        .filter { case (a, b) => a != b }
      // driver-side union-find reference
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(v => v -> find(v)).toMap
      val got = Cluster.connectedComponents(
        edges.toDF("id_a", "id_b"), "id_a", "id_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"trial $trial diverged (edges=$edges)")
    }
  }

  test("star CC handles a skewed giant component (hub + long chain)") {
    import spark.implicits._
    // giant star: hub 500 connected to 0..999 (a degree-1000 vertex,
    // the shape that makes plain propagation re-shuffle the whole
    // component every round), plus a diameter-stressing chain
    // 2000-2001-...-2030 and an isolated pair
    val hub = (0L until 1000L).filter(_ != 500L).map(v => (500L, v))
    val chain = (2000L until 2030L).map(v => (v, v + 1))
    val pairs = (hub ++ chain ++ Seq((5000L, 5001L))).toDF("id_a", "id_b")
    val want =
      (0L until 1000L).map(v => v -> 0L).toMap ++
        (2000L to 2030L).map(v => v -> 2000L).toMap ++
        Map(5000L -> 5000L, 5001L -> 5000L)
    val got = Cluster.connectedComponents(pairs, "id_a", "id_b", maxIter = 40)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("dedupClusters keeps non-paired docs as singleton canonicals") {
    import spark.implicits._
    val docs = Seq((1L, "a"), (2L, "b"), (3L, "c"), (9L, "z")).toDF("doc_id", "t")
    val pairs = Seq((1L, 3L)).toDF("id_a", "id_b")
    val got = Cluster.dedupClusters(docs, "doc_id", pairs, "id_a", "id_b")
      .select(col("doc_id"), col("cluster_id"), col("is_canonical"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(got == Set((1L, 1L, true), (2L, 2L, true), (3L, 1L, false),
      (9L, 9L, true)))
  }

  test("hash sampling is deterministic, nested by rate, and unbiased-ish") {
    val docs = Tables.documents(spark, sf)
    val s20 = Sampling.hashSample(docs, "doc_id", 0.2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val s20b = Sampling.hashSample(docs, "doc_id", 0.2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val s50 = Sampling.hashSample(docs, "doc_id", 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s20 == s20b, "not deterministic")
    assert(s20.subsetOf(s50), "rates are not nested")
    val n = docs.count().toDouble
    assert(math.abs(s50.size / n - 0.5) < 0.2, s"rate off: ${s50.size / n}")
  }
}
