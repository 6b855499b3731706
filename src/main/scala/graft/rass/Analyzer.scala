package graft.rass

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text analysis primitives for RASS scoring: tokenization, phrase /
  * prefix containment, and fuzzy term matching — all as Column
  * expressions (whole-stage codegen, no UDFs), all reproducible in
  * ANSI-ish SQL for the DuckDB oracle.
  *
  * Semantics mirror what OpenSearch gives the reference: standard
  * analyzer ~ lowercase alnum tokens; `match_phrase` ~ consecutive
  * token subsequence; `phrase_prefix` ~ phrase whose last token is a
  * prefix; `fuzziness: AUTO` ~ edit distance 0/1/2 by term length
  * (0 for len<3, 1 for 3-5, 2 for >5).
  */
object Analyzer {

  /** Lowercase alnum tokens. split() emits "" fragments at the edges;
    * filter them so token counts are exact.
    */
  def tokens(c: Column): Column =
    filter(split(lower(c), "[^a-z0-9]+"), t => t =!= "")

  /** Canonical token string, space-joined and space-padded — phrase
    * containment becomes plain substring search on token boundaries.
    */
  def tokenString(c: Column): Column =
    concat(lit(" "), array_join(tokens(c), " "), lit(" "))

  /** Normalize a query string the same way (driver-side). */
  def normalizeQuery(q: String): Seq[String] =
    q.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq

  /** Number of occurrences of the token phrase in the field (0 if the
    * field is null). Exact integer: occurrences of " p1 p2 .. pn " in
    * the padded token string, counted via length-difference — both
    * engines evaluate it identically.
    */
  def phraseCount(field: Column, phrase: Seq[String]): Column = {
    if (phrase.isEmpty) return lit(0L) // all-punctuation query
    val needle = " " + phrase.mkString(" ") + " "
    val hay = tokenString(field)
    // overlapping boundary spaces: " a b a b " contains " a b " twice but
    // replace() consumes the shared space; double every space first so
    // each boundary is independent.
    val hay2 = regexp_replace(hay, " ", "  ")
    val needle2 = " " + phrase.mkString("  ") + " "
    val cnt = (length(hay2) - length(regexp_replace(hay2, quoteRegex(needle2), ""))) / lit(needle2.length)
    coalesce(cnt.cast("long"), lit(0L))
  }

  /** [[phraseCount]] over an already-projected token array — the native
    * codegen [[graft.rass.expressions.PhraseCount]] expression (greedy
    * non-overlapping count, bit-identical to the replace-trick).
    * Callers must have registered the function
    * (`GraftExtensions.register(spark)`).
    */
  def phraseCountTok(toks: Column, phrase: Seq[String]): Column = {
    if (phrase.isEmpty) return lit(0L)
    coalesce(call_function("phrase_count", toks,
      array(phrase.map(lit): _*), lit(false)), lit(0L))
  }

  /** [[phrasePrefixMatch]] over a projected token array (native
    * expression; existence of a prefix-last phrase occurrence).
    */
  def phrasePrefixMatchTok(toks: Column, phrase: Seq[String]): Column = {
    if (phrase.isEmpty) return lit(false)
    coalesce(call_function("phrase_count", toks,
      array(phrase.map(lit): _*), lit(true)) > 0, lit(false))
  }

  /** Does the field contain the phrase with the last token as a prefix?
    * (OpenSearch `phrase_prefix`.) Boolean, null-safe.
    */
  def phrasePrefixMatch(field: Column, phrase: Seq[String]): Column = {
    if (phrase.isEmpty) return lit(false) // all-punctuation query
    val needle =
      if (phrase.size == 1) " " + phrase.head
      else " " + phrase.init.mkString(" ") + " " + phrase.last
    coalesce(instr(tokenString(field), needle) > 0, lit(false))
  }

  /** Do ALL query terms occur in the field? (`operator: and`.) */
  def allTermsMatch(field: Column, terms: Seq[String]): Column = {
    val hay = tokenString(field)
    terms.map(t => coalesce(instr(hay, s" $t ") > 0, lit(false)))
      .reduceOption(_ && _).getOrElse(lit(false))
  }

  /** AUTO fuzziness: max edit distance by term length. */
  def autoFuzz(term: String): Int =
    if (term.length < 3) 0 else if (term.length <= 5) 1 else 2

  /** The largest distance [[autoFuzz]] allows any term. */
  val MaxAutoFuzz = 2

  /** Does any token of the field match the term within AUTO edit
    * distance? Null-safe boolean.
    */
  def fuzzyTermMatch(field: Column, term: String): Column = {
    val fz = autoFuzz(term)
    val hit =
      if (fz == 0) instr(tokenString(field), s" $term ") > 0
      // bounded levenshtein (threshold variant returns -1 above fz):
      // same accept set as `levenshtein <= fz`, but length-pruned and
      // band-limited to O(len*fz) per token
      else exists(tokens(field), t => levenshtein(t, lit(term), fz) >= 0)
    coalesce(hit, lit(false))
  }

  /** Do ALL query terms fuzzy-match the field? */
  def allTermsFuzzyMatch(field: Column, terms: Seq[String]): Column =
    terms.map(fuzzyTermMatch(field, _)).reduceOption(_ && _).getOrElse(lit(false))

  /** Escape a literal for use inside a Java/RE2 regex. */
  def quoteRegex(s: String): String =
    s.replaceAll("([\\\\.\\[\\]{}()*+?^$|])", "\\\\$1")

  /** DuckDB mirrors of the Column expressions above (same math, same
    * edge cases) for the oracle SQL.
    */
  object Sql {
    def toks(field: String): String =
      s"list_filter(string_split_regex(lower($field), '[^a-z0-9]+'), t -> t != '')"

    def tokenString(field: String): String =
      s"(' ' || array_to_string(${toks(field)}, ' ') || ' ')"

    /** Occurrence count of the phrase — the same doubled-space trick as
      * [[Analyzer.phraseCount]].
      */
    def phraseCount(field: String, phrase: Seq[String]): String = {
      val needle2 = " " + phrase.mkString("  ") + " "
      val hay2 = s"replace(${tokenString(field)}, ' ', '  ')"
      s"coalesce(CAST((length($hay2) - length(replace($hay2, '$needle2', '')))" +
        s" / ${needle2.length} AS BIGINT), 0)"
    }

    def phrasePrefixMatch(field: String, phrase: Seq[String]): String = {
      val needle =
        if (phrase.size == 1) " " + phrase.head
        else " " + phrase.init.mkString(" ") + " " + phrase.last
      s"coalesce(instr(${tokenString(field)}, '$needle') > 0, false)"
    }

    def anyTermMatch(field: String, terms: Seq[String]): String =
      terms.map(t =>
        s"coalesce(instr(${tokenString(field)}, ' $t ') > 0, false)")
        .mkString("(", " OR ", ")")
  }
}
