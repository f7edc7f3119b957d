package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Fuzzy (edit-distance) self-join for entity resolution — "which
  * names in this corpus are probably the same thing misspelled?"
  * (the reference's theta-join with an arbitrary predicate, api.py
  * inner_join, specialized to the string-similarity case every data
  * pipeline eventually needs).
  *
  * Scale shape (the classic candidate-generation recipe):
  *   1. collapse to the DISTINCT-name vocabulary first, carrying row
  *      counts — at corpus scale the vocabulary is orders of magnitude
  *      smaller than the row table, and the expensive quadratic work
  *      must only ever see the vocabulary;
  *   2. block on the caller's cheap key (e.g. last token / phonetic
  *      code) with |len a − len b| ≤ maxDist, a levenshtein lower
  *      bound, in the join condition. graft.plans.BandedRangeJoinRule
  *      bins that band next to the block key, so the self-join is an
  *      equi-join on (block, length bin) — never a cartesian
  *      BroadcastNestedLoopJoin — and a hot block (a very common last
  *      token) is subdivided by length instead of going quadratic; the
  *      rule's bins are exact, so no recall loss and no duplicates.
  *      The band needs maxDist ≥ 1 (the rule bins only a positive
  *      radius);
  *   3. cheap length-band prefilter before the O(len²) edit distance,
  *      which runs only inside surviving candidate pairs.
  *
  * Blocking trades recall for tractability by construction (a typo in
  * the block token escapes the join); a SECOND blocking pass on a
  * different key recovers cross-block pairs — a pair only escapes both
  * passes when BOTH its keys are corrupted, which for independent
  * typo sites squares the miss rate.
  */
object FuzzyJoin {

  /** Distinct-value fuzzy pairs: (name_a, name_b, dist, n_a, n_b) for
    * every pair of distinct `nameCol` values within `maxDist` edits
    * that share a block under `blockOf` (or `blockOf2`, when given),
    * with each side's supporting row count.
    *
    * With a second key the candidate sets of both passes union and
    * dedup BEFORE the O(len²) edit distance: the dedup shuffle is
    * vocabulary-scale (bounded), and levenshtein runs once per
    * distinct pair. */
  def fuzzyNamePairs(
      rows: DataFrame, nameCol: String, blockOf: Column => Column,
      maxDist: Int,
      blockOf2: Option[Column => Column] = None): DataFrame = {
    val vocab = rows.groupBy(col(nameCol).as("name"))
      .agg(count(lit(1)).as("n"))
    def candidates(key: Column => Column): DataFrame = {
      val v = vocab.withColumn("blk", key(col("name")))
      val a = v.select(col("name").as("name_a"), col("n").as("n_a"),
        col("blk").as("blk_a"))
      val b = v.select(col("name").as("name_b"), col("n").as("n_b"),
        col("blk").as("blk_b"))
      a.join(b, col("blk_a") === col("blk_b") &&
          abs(length(col("name_a")) - length(col("name_b"))) <= maxDist &&
          col("name_a") < col("name_b"))
        .select(col("name_a"), col("name_b"), col("n_a"), col("n_b"))
    }
    val cand = blockOf2.fold(candidates(blockOf))(k2 =>
      candidates(blockOf).unionByName(candidates(k2)).distinct())
    cand
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .where(col("dist") <= maxDist)
      .select(col("name_a"), col("name_b"), col("dist"),
        col("n_a"), col("n_b"))
  }

  /** Default block key: the last whitespace token (for "adjective
    * noun"-shaped names the noun is the stable part). */
  def lastTokenBlock(name: Column): Column =
    element_at(split(name, " "), -1)

  /** Complementary second block key: the FIRST token — recovers pairs
    * whose last token carries the typo. */
  def firstTokenBlock(name: Column): Column =
    element_at(split(name, " "), 1)
}
