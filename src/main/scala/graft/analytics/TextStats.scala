package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.rolling_fingerprint

/** Text analysis for training-data pipelines: token counting, quality
  * scoring, language-ID heuristics, document fingerprinting. All
  * whole-stage-codegen'd built-ins except the fingerprint expression. */
object TextStats {

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(split(text, " "))

  /** Occurrences of `needle` in `text` via length arithmetic (exact for
    * non-overlapping counting; identical formula is DuckDB-expressible,
    * which makes the quality features oracle-checkable). */
  def countOccurrences(text: Column, needle: String): Column =
    ((length(text) - length(regexp_replace(text, java.util.regex.Pattern.quote(needle), ""))) / needle.length).cast("long")

  private val EnStopwords = Seq("the", "and", "of", "a", "to")

  /** Per-doc quality features + a composite score in [0,1]:
    * length, token stats, digit/punct ratios, stopword ratio. */
  def qualityFeatures(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val tokens = tokenCount(t).cast("double")
    val chars = length(t).cast("double")
    val stopHits = EnStopwords.map(s => countOccurrences(t, " " + s + " ")).reduce(_ + _).cast("double")
    val digits = (length(t) - length(regexp_replace(t, "[0-9]", ""))).cast("double")
    docs.select(
      col(idCol),
      chars.as("n_chars"),
      tokens.as("n_tokens"),
      (chars / greatest(tokens, lit(1.0))).as("avg_token_len"),
      (stopHits / greatest(tokens, lit(1.0))).as("stopword_ratio"),
      (digits / greatest(chars, lit(1.0))).as("digit_ratio"))
      .withColumn("quality",
        least(lit(1.0), col("stopword_ratio") * 4) * (lit(1.0) - col("digit_ratio")))
  }

  /** Tiny n-gram/stopword language-ID heuristic. Profiles are built-in
    * marker sets; score = marker hits per token; argmax wins (ties ->
    * "und"). Real pipelines plug fastText etc. — the Spark shape
    * (scan + codegen'd scoring + no shuffle) is what matters at scale. */
  private val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " and ", " of "),
    "es" -> Seq(" el ", " la ", " de ", " que "),
    "de" -> Seq(" der ", " und ", " die "),
    "fr" -> Seq(" le ", " la ", " et ", " les "))

  def langId(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = concat(lit(" "), col(textCol), lit(" "))
    val scores = LangMarkers.map { case (lang, markers) =>
      lang -> markers.map(m => countOccurrences(t, m)).reduce(_ + _)
    }
    val best = greatest(scores.map(_._2): _*)
    // argmax with first-in-profile-order tie-break (oracle-mirrorable)
    val pred = scores.foldRight(lit("und")) { case ((lang, s), acc) =>
      when(s === best && best > 0, lit(lang)).otherwise(acc)
    }
    docs.select(col(idCol), pred.as("lang_pred"), best.cast("long").as("lang_score"))
  }

  /** Shift-resistant document fingerprint (min rolling hash).
    * `mod > 0` = SQL-expressible rolling-polynomial twin mode. */
  def fingerprints(docs: DataFrame, idCol: String, textCol: String,
      window: Int = 16, mod: Long = 0L): DataFrame =
    docs.select(col(idCol), rolling_fingerprint(col(textCol), window, mod).as("fingerprint"))
}
