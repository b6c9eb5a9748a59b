package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Row-local Columns over a `text` column — the whitespace tokens and
  * the marker-word language score — for the core and the curation. */
object TextCols {

  /** Whitespace tokens of the `text` column. */
  val tokens: Column = split(col("text"), " ")

  /** Per-language marker-word lists for the n-gram/stopword language-ID
    * heuristic (public-knowledge function words). */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit", "ein"),
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it"),
    "es" -> Seq("el", "los", "y", "es", "un", "una", "que", "por"),
    "fr" -> Seq("le", "les", "et", "est", "une", "du", "dans", "pour"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有"))

  private[graft] def markerCount(ts: Column, words: Seq[String]): Column =
    size(filter(ts, t => t.isInCollection(words)))

  /** Marker-hit count of one language over the token split — the
    * language-ID raw score as a reusable row-local Column. */
  def langScore(lang: String): Column =
    markerCount(tokens, langMarkers.toMap.apply(lang))
}
