package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Text-analysis building blocks for training-data pipelines.
  *
  * The whitespace tokenizer (lowercase, split on `' '`, drop empties)
  * is one rule that Spark and the DuckDB oracles must apply alike, so
  * it is spelled only here, once per form: [[tokenize]] in compiled
  * UDFs, [[tokens]] as an array, [[tokenRows]] as rows, [[tokensSql]]
  * in oracle SQL. Higher-order function lambdas run interpreted, outside
  * whole-stage codegen, so hot paths use the compiled UDFs or the row
  * form, whose filter is codegen'd.
  */
object Text {

  /** Lowercased whitespace tokens, empties removed, for compiled UDFs.
    * `Locale.ROOT`: tokens do not depend on the host's default locale. */
  def tokenize(s: String): Array[String] =
    s.toLowerCase(java.util.Locale.ROOT).split(" ").filter(_.nonEmpty)

  /** Lowercased whitespace tokens, empties removed, as an array. */
  def tokens(text: Column): Column =
    filter(split(lower(text), " "), t => t =!= "")

  /** [[tokens]] as rows: `keep` plus one `as` column per token. Splits,
    * explodes, then drops empty tokens with a row filter, which is
    * codegen'd where a `filter` inside the array is not. */
  def tokenRows(df: DataFrame, text: Column, as: String, keep: Column*): DataFrame =
    df.select(keep :+ explode(split(lower(text), " ")).as(as): _*)
      .filter(col(as) =!= "")

  /** [[tokens]] in DuckDB SQL, over the SQL expression `text`. */
  def tokensSql(text: String): String =
    s"list_filter(string_split(lower($text), ' '), x -> x <> '')"

  /** Word n-gram shingles: ["a b c", "b c d", ...]; empty when the doc
    * has fewer than n tokens (guard needed: Spark's `sequence(1, 0)`
    * would count DOWN, not return empty).
    *
    * This HOF form is the composable API; hot paths use
    * [[shingleSetUdf]] instead — HOF lambdas evaluate interpreted and
    * measured ~12x slower than the compiled UDF on a corpus scan
    * (an element_at variant was also tried and was slower still). */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** DISTINCT word-n-gram shingle set of raw text, as a compiled Scala
    * UDF. Semantically identical to
    * `array_distinct(shingles(tokens(text), n))` but one JVM call per
    * row instead of per-element interpreted HOF lambdas — measured ~4x
    * faster on a corpus scan (HOF lambdas do not codegen). */
  def shingleSetUdf(n: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (text: String) =>
      if (text == null) Array.empty[String]
      else {
        val toks = tokenize(text)
        if (toks.length < n) Array.empty[String]
        else {
          val seen = new java.util.LinkedHashSet[String]()
          var i = 0
          while (i <= toks.length - n) {
            val sb = new StringBuilder(toks(i))
            var j = 1
            while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
            seen.add(sb.toString)
            i += 1
          }
          seen.toArray(new Array[String](seen.size))
        }
      }
    }

  /** ALL word-n-gram shingles with repeats kept, compiled — the
    * counting variant of [[shingleSetUdf]] for repetition/boilerplate
    * signals, same ~10x-over-HOF reasoning. */
  def shingleListUdf(n: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (text: String) =>
      if (text == null) Array.empty[String]
      else {
        val toks = tokenize(text)
        if (toks.length < n) Array.empty[String]
        else {
          val out = new Array[String](toks.length - n + 1)
          var i = 0
          while (i <= toks.length - n) {
            val sb = new StringBuilder(toks(i))
            var j = 1
            while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
            out(i) = sb.toString
            i += 1
          }
          out
        }
      }
    }

  /** Intra-document repeated-span excision in ONE compiled pass (the
    * q_text_repeat_excise kernel): scanning word n-gram shingles left
    * to right, every occurrence after a shingle's first marks its n
    * positions covered; uncovered words are stitched back in order.
    * Doc-local by construction — map-side only at any corpus scale.
    * Returns (n_words, n_kept, n_excised, clean_text). */
  def repeatExciseUdf(n: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (text: String) =>
      if (text == null) (0L, 0L, 0L, "")
      else {
        val ws = tokenize(text)
        val len = ws.length
        val covered = new Array[Boolean](len)
        if (len >= n) {
          val seen = new java.util.HashSet[String]()
          var i = 0
          while (i <= len - n) {
            val sb = new StringBuilder(ws(i))
            var j = 1
            while (j < n) { sb.append(' ').append(ws(i + j)); j += 1 }
            if (!seen.add(sb.toString)) {
              var j2 = i
              while (j2 < i + n) { covered(j2) = true; j2 += 1 }
            }
            i += 1
          }
        }
        val kept = new StringBuilder
        var nKept = 0L
        var i = 0
        while (i < len) {
          if (!covered(i)) {
            if (nKept > 0) kept.append(' ')
            kept.append(ws(i)); nKept += 1
          }
          i += 1
        }
        (len.toLong, nKept, len - nKept, kept.toString)
      }
    }

  /** BPE-ish subword-count proxy: alpha runs + digit runs + leftovers.
    * (A real BPE table is model-specific; this regex split gives the
    * deterministic token-count shape pipelines budget with.) */
  def regexTokens(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), t => t =!= "")

  /** Count of tokens that appear in a fixed marker vocabulary. */
  def markerCount(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t => t.isin(markers.map(m => m: Any): _*))).cast(LongType)

  // Tiny per-language marker vocabularies for the n-gram/stopword
  // language-ID heuristic. Deliberately small and deterministic.
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "a"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein", "nicht"),
    "fr" -> Seq("le", "la", "les", "et", "des", "un", "est"),
    "zh" -> Seq("de5", "le5", "shi4", "bu4", "wo3", "ni3", "ta1"))

  /** Per-language marker-hit scores, as named columns. Consumers that
    * argmax over these should project them FIRST (a separate select)
    * and fold the CASE over the resulting attributes: folding over the
    * raw markerCount expressions inlines every score into every CASE
    * branch — ~46 interpreted `size(filter(...))` evaluations per row
    * instead of 5 (r14; CollapseProject will not re-inline a non-cheap
    * alias referenced more than once, so the two-step projection keeps
    * each score computed exactly once). */
  def langScores(toks: Column): Seq[(String, Column)] =
    langMarkers.map { case (lang, ms) => lang -> markerCount(toks, ms) }

  /** All [[langMarkers]] hit counts in ONE compiled pass over the raw
    * text (r14): HOF filter lambdas run interpreted (~10x slower than
    * compiled code in hot paths — CLAUDE.md lore), and the two-step
    * langScores form still walks the token array once per language.
    * This UDF tokenizes once ([[tokenize]]) and counts every language's
    * markers in a single token walk; counts are multiplicity-preserving,
    * identical to `size(filter(toks, isin(markers)))`. */
  val langScoresUdf: org.apache.spark.sql.expressions.UserDefinedFunction = {
    val sets: Array[Set[String]] = langMarkers.map(_._2.toSet).toArray
    udf { (text: String) =>
      val c = new Array[Long](sets.length)
      if (text != null) {
        val toks = tokenize(text)
        var j = 0
        while (j < toks.length) {
          var i = 0
          while (i < sets.length) {
            if (sets(i).contains(toks(j))) c(i) += 1
            i += 1
          }
          j += 1
        }
      }
      c
    }
  }

  /** Argmax over already-projected score COLUMNS (one per language,
    * in [[langMarkers]] order) with the fixed first-listed-wins
    * tie-break — the cheap second step of the two-step language ID. */
  def langIdFromScores(scores: Seq[(String, Column)]): Column = {
    val (firstLang, firstScore) = scores.head
    scores.tail.foldLeft((lit(firstLang), firstScore)) {
      case ((accLang, accScore), (lang, score)) =>
        (when(score > accScore, lit(lang)).otherwise(accLang),
          when(score > accScore, score).otherwise(accScore))
    }._1
  }

  /** Language-ID: argmax of marker-vocab hit counts with a fixed
    * tie-break order (first language listed wins ties). Single-column
    * form — prefer langScores + langIdFromScores over a projection
    * boundary in per-row hot paths (see [[langScores]]). */
  def langId(toks: Column): Column = langIdFromScores(langScores(toks))

  /** DuckDB form of [[langScores]] over a `toks` list column: one
    * `s_<lang>` marker-count column per language, comma-separated. */
  val langScoresSql: String = langMarkers.map { case (lang, ms) =>
    s"len(list_filter(toks, t -> t IN (${ms.map(m => s"'$m'").mkString(",")}))) AS s_$lang"
  }.mkString(",\n  ")

  /** DuckDB form of [[langIdFromScores]] over the [[langScoresSql]]
    * columns: a CASE chain with the same first-listed-wins tie-break. */
  val langIdSql: String = {
    val langs = langMarkers.map(_._1)
    langs.tail.foldLeft((s"'${langs.head}'", s"s_${langs.head}")) {
      case ((accLang, accScore), lang) =>
        (s"CASE WHEN s_$lang > $accScore THEN '$lang' ELSE $accLang END",
          s"CASE WHEN s_$lang > $accScore THEN s_$lang ELSE $accScore END")
    }._1
  }

  /** Quality-scoring feature columns (length / punctuation / stopword
    * ratios) — the standard pre-training quality heuristics. */
  def qualityFeatures(text: Column): Seq[(String, Column)] = {
    val toks = tokens(text)
    val nTok = size(toks).cast(LongType)
    val stop = markerCount(toks, langMarkers.head._2)
    Seq(
      "n_chars" -> length(text).cast(LongType),
      "n_tokens" -> nTok,
      "n_distinct_tokens" -> size(array_distinct(toks)).cast(LongType),
      "n_punct" -> length(regexp_replace(text, "[a-z0-9 ]", "")).cast(LongType),
      "avg_token_len" ->
        (aggregate(transform(toks, t => length(t)), lit(0), (a, x) => a + x)
          .cast("double") / nTok.cast("double")),
      "stopword_ratio" -> (stop.cast("double") / nTok.cast("double")),
      "distinct_ratio" ->
        (size(array_distinct(toks)).cast("double") / nTok.cast("double")))
  }
}
