package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Session, Tables}

/** Derive an N× dataset from an existing SF dir by KEY-OFFSET UNION —
  * the round-12 scaling-curve generator (VERDICT r11 item 1: measure
  * wall-time growth instead of arguing plan shapes).
  *
  * Copy 0 is the source verbatim; copy k offsets every join/identity
  * key by k·10⁷ (all source keys < 1.5·10⁵ at sf0.1; the offset stays
  * int32-safe for the nation/region key columns), so each copy is a
  * self-contained referentially-intact universe and the per-copy
  * workload is identical to the source. Content columns that drive
  * SIMILARITY work are additionally salted per copy — document tokens
  * get a per-copy suffix and embedding vectors rotate dimensions — so
  * cross-copy near-dup/ANN structure does NOT collapse into 10×-sized
  * clusters (byte-identical texts in every copy would make every LSH
  * bucket 10× deeper and the pair stage 100× heavier for DATA-SHAPE
  * reasons, poisoning the plan-scaling measurement this dataset
  * exists for).
  *
  * Usage: runMain graft.tools.ScaleGen <srcDir> <outDir> <factor>
  */
object ScaleGen {

  /** Per-copy key offset; > any source key, int32-safe through k=200. */
  val Off = 10000000L

  /** Join/identity key columns per table (content columns untouched). */
  private val keyCols: Map[String, Seq[String]] = Map(
    "region" -> Seq("r_regionkey"),
    "nation" -> Seq("n_nationkey", "n_regionkey"),
    "customer" -> Seq("c_custkey", "c_nationkey"),
    "supplier" -> Seq("s_suppkey", "s_nationkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  /** One shifted copy: keys offset (original physical type preserved so
    * the union's schema equals the source's), content salted. */
  def copyK(name: String, df: DataFrame, k: Int): DataFrame = {
    if (k == 0) return df
    val off = Off * k
    val keyed = keyCols(name).foldLeft(df) { (d, c) =>
      d.withColumn(c, (col(c) + lit(off)).cast(df.schema(c).dataType))
    }
    name match {
      case "documents" =>
        // every token gets a copy suffix: shingle/minhash/ngram sets are
        // DISJOINT across copies while each copy's internal near-dup
        // structure is untouched (same token counts, same dup pairs)
        keyed
          .withColumn("text",
            regexp_replace(col("text"), "(\\S+)", "$1x" + k))
          .withColumn("n_chars", length(col("text")).cast("long"))
      case "embeddings" =>
        // rotate dimensions by k: norms and within-copy distances are
        // preserved exactly; across copies vectors decorrelate, so LSH/
        // IVF cells don't stack 10 identical points per cell
        val d = 64
        val r = k % d
        if (r == 0) keyed
        else keyed.withColumn("embedding",
          concat(slice(col("embedding"), r + 1, d - r),
            slice(col("embedding"), 1, r)))
      case _ => keyed
    }
  }

  def replicate(s: SparkSession, src: String, name: String, factor: Int): DataFrame = {
    val base =
      if (name == "events") Tables.events(s, src) else Tables.load(s, src, name)
    (0 until factor).map(copyK(name, base, _)).reduce(_.unionByName(_))
  }

  /** SKEW MODE (round 13; VERDICT r12 item 1): the uniform key-offset
    * union replicates the source's key-frequency distribution, so no
    * measured point exercised a HOT KEY — the single most common way
    * real 100 TB jobs die. Skewify plants one: every `every`-th row
    * (deterministic, by row identity mod `every` — 5% at the default
    * 20) has its grouping/join key remapped to copy-0's key 1, which
    * exists in every dimension copy, so referential integrity holds
    * while one user owns 5% of all events, one customer 5% of all
    * orders, and one part 5% of all lineitems. That is the shape that
    * breaks per-key windows (one task gets 5% of the table) and
    * un-mitigated shuffle joins (one reducer gets the hot key's whole
    * build side). Results CHANGE vs the uniform derivation by design —
    * the skewed dir is for wall-time measurement and for oracle runs
    * against ITS OWN DuckDB answers, never for cross-checking against
    * uniform-run output. */
  def skewify(name: String, df: DataFrame, every: Int): DataFrame = {
    def remap(d: DataFrame, idCol: String, keyCol: String): DataFrame =
      d.withColumn(keyCol,
        when(pmod(col(idCol), lit(every)) === lit(every - 1), lit(1L))
          .otherwise(col(keyCol))
          .cast(d.schema(keyCol).dataType))
    name match {
      case "events" => remap(df, "event_id", "user_id")
      case "orders" => remap(df, "o_orderkey", "o_custkey")
      case "lineitem" =>
        // the hot flag derives from the ORIGINAL orderkey once, then all
        // three FK columns remap together: order 1 / part 1 / supplier 1
        // each own 5% of all lineitems (PK columns never remap — a
        // duplicated dimension key would turn joins into cross products)
        Seq("l_orderkey", "l_partkey", "l_suppkey").foldLeft(
          df.withColumn("_hot",
            pmod(col("l_orderkey"), lit(every)) === lit(every - 1))) {
          (d, c) =>
            d.withColumn(c, when(col("_hot"), lit(1L)).otherwise(col(c))
              .cast(d.schema(c).dataType))
        }.drop("_hot")
      case "documents" =>
        // one dominant crawl domain: 5% of docs collapse onto copy-0's
        // first source value (a constant string, no key arithmetic)
        df.withColumn("source",
          when(pmod(col("doc_id"), lit(every)) === lit(every - 1),
            lit("src0")).otherwise(col("source")))
      case _ => df
    }
  }

  /** Hot-row share denominator for skew mode: 1/20 = 5%. */
  val SkewEvery: Int = 20

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val factor = args(2).toInt
    val skew = args.length > 3 && args(3) == "--skew"
    val spark = Session.local()
    Tables.all.foreach { t =>
      val df = replicate(spark, src, t, factor)
      (if (skew) skewify(t, df, SkewEvery) else df)
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scalegen] wrote $out/$t.parquet x$factor" +
        (if (skew) s" skew(1/$SkewEvery)" else ""))
    }
    spark.stop()
  }
}
