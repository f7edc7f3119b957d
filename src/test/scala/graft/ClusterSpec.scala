package graft

import graft.dedup.Cluster

/** Connected components must fail loudly when they stop at `maxIter`
  * before converging: labels at that point are only an upper bound on
  * the component minimum, and returning them would pass an
  * approximation off as the answer. */
class ClusterSpec extends SparkSpec {

  test("connected components throw on a path longer than maxIter allows") {
    import spark.implicits._
    // a 64-vertex path: label propagation needs ~63 rounds
    val path = (0L until 63L).map(v => (v, v + 1)).toDF("id_a", "id_b")
    val prop = intercept[IllegalStateException](
      Cluster.connectedComponents(path, "id_a", "id_b", maxIter = 4))
    assert(prop.getMessage.contains("maxIter=4"))
    // with room to converge it labels the whole path with its minimum
    val labels = Cluster.connectedComponents(path, "id_a", "id_b", maxIter = 80)
    assert(labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      (0L to 63L).map(_ -> 0L).toMap)
  }
}
