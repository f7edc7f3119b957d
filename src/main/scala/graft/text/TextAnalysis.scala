package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM training-data pipelines
  * (SURVEY.md §2, text block). All column-level logic is built from
  * codegen'd `functions._` expressions — no UDFs — so quality scoring a
  * 100 TB corpus stays inside whole-stage codegen with the parquet scan
  * pruned to the `text` column.
  */
object TextAnalysis {

  /** Whitespace tokenization — the reference corpus is space-separated. */
  def tokens(text: Column): Column = split(text, "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text))

  def charCount(text: Column): Column = length(text)

  /** Punctuation character ratio. */
  def punctRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[\\p{Punct}]", ""))).cast("double") /
      greatest(length(text).cast("double"), lit(1.0))

  /** Ratio of tokens that are English stopwords. */
  val stopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  def stopwordRatio(text: Column): Column = {
    val toks = tokens(lower(text))
    val sw = filter(toks, t => t.isInCollection(stopwords))
    size(sw).cast("double") / greatest(size(toks).cast("double"), lit(1.0))
  }

  /** Composite quality score in [0,1]: favors mid-length docs with low
    * punctuation density and a natural stopword rate. Deliberately
    * simple + deterministic so the SQL oracle can mirror it exactly. */
  def qualityScore(text: Column): Column = {
    val lenScore = least(tokenCount(text).cast("double") / lit(64.0), lit(1.0))
    val punctScore = lit(1.0) - least(punctRatio(text) * 10.0, lit(1.0))
    val swScore = least(stopwordRatio(text) * 5.0, lit(1.0))
    round((lenScore + punctScore + swScore) / 3.0, 6)
  }

  /** Normalized-text fingerprint: lowercase, collapse whitespace, md5.
    * Identical fingerprints = exact-duplicate cluster. */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(trim(lower(text)), "\\s+", " "))

  /** Stopword-profile language ID. Counts hits of per-language marker
    * words; ties break by the fixed language order (en,es,de,fr,zh).
    * A real pipeline would use character n-gram profiles; the point here
    * is the plan shape — pure column expressions, no UDF. */
  val markers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "with"),
    "es" -> Seq("el", "la", "los", "con"),
    "de" -> Seq("der", "die", "und", "mit"),
    "fr" -> Seq("le", "la", "les", "avec"),
    "zh" -> Seq("de5", "shi4", "zai4", "he2"))

  def markerHits(text: Column, lang: String): Column = {
    val toks = tokens(lower(text))
    size(filter(toks, t => t.isInCollection(markers(lang))))
  }

  /** First language in priority order (en,es,de,fr,zh) whose marker-hit
    * count equals the max; "und" when no marker hits at all. The CASE
    * chain is mirrored verbatim in the SQL oracle. */
  def langId(hits: Map[String, Column]): Column = {
    val langs = Seq("en", "es", "de", "fr", "zh")
    val maxHits = greatest(langs.map(hits): _*)
    val chain = langs.foldLeft(when(maxHits === 0, lit("und"))) {
      case (acc, l) => acc.when(hits(l) === maxHits, lit(l))
    }
    chain.otherwise(lit("und"))
  }
}
