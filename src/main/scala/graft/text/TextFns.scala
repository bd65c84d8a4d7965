package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level text primitives shared by the text-analysis and dedup
  * operators. Everything is a built-in-composed expression (codegen'd, no
  * UDFs) with an exact DuckDB twin — see [[TextOracle]] for the SQL shapes.
  */
object TextFns {

  /** Whitespace tokenizer — single-space split, matching the corpus format
    * (documents.text is single-spaced lowercase words).
    */
  def tokens(text: Column): Column = split(text, " ")

  /** Stopword list used by quality scoring and language markers. */
  val Stopwords: Seq[String] = Seq("a", "the", "of", "and", "to", "in")

  /** Per-language marker words for the language-ID heuristic. Disjoint on
    * purpose so argmax is meaningful; zh gets no latin markers (the corpus
    * is synthetic latin text for every lang label, so zh can never win —
    * the confusion matrix shows exactly that).
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "of"),
    "fr" -> Seq("le", "et"),
    "es" -> Seq("el", "y"),
    "de" -> Seq("der", "und"),
    "zh" -> Seq.empty)

  def stopwordCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(words)))

  /** Word n-gram shingles: ["a b c", "b c d", ...]. Empty array when the
    * doc has fewer than n tokens; empty (not null) on null input, matching
    * the historical composed form. Routed through the native codegen'd
    * [[graft.functions.Shingles]] expression (byte-identical output,
    * ~12x faster than the interpreted transform/slice/concat_ws
    * composition — see [[shinglesComposed]], kept as the
    * differential-testing twin). Same session contract as
    * [[graft.sim.SimFns.dot]]: every registry frame
    * ([[graft.api.GraftQuery]]) registers the function in its session;
    * code outside the registry calls [[graft.functions.GraftFunctions.register]]
    * first (the shared test session does).
    */
  def shingles(toks: Column, n: Int): Column =
    coalesce(call_function("shingles", toks, lit(n)),
      array().cast("array<string>"))

  /** The composed higher-order-function form of [[shingles]] — the
    * differential-testing twin for the native expression. Guards the
    * short-doc case explicitly because Spark's sequence(1, 0) yields a
    * DESCENDING [1, 0], not an empty array.
    */
  def shinglesComposed(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(
        sequence(lit(1), size(toks) - lit(n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** Normalized-document fingerprint: md5 of lowercased,
    * whitespace-collapsed, trimmed text. DuckDB twin needs the 'g' flag
    * (its regexp_replace is first-match-only by default).
    */
  def normText(text: Column): Column =
    lower(trim(regexp_replace(text, "\\s+", " ")))

  def fingerprint(text: Column): Column = md5(normText(text))

  /** First 60 bits of md5 as a non-negative long — the shared "hash to
    * integer" primitive (stays below 2^63 so BIGINT casts agree everywhere).
    * DuckDB twin: [[hash60Sql]].
    */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** [[hash60]]'s DuckDB twin over the SQL expression `x`, for every
    * oracle that hashes.
    */
  def hash60Sql(x: String): String =
    s"CAST(('0x' || substr(md5($x),1,15))::UBIGINT AS BIGINT)"

  /** SimHash width: all 60 bits of the per-token hash60 value. 60 bits
    * gives the near-dup banding 4 independent 15-bit bands (2^15 buckets
    * EACH) instead of the 2 x 16-bit bands a 32-bit fingerprint allowed —
    * the bucket space that keeps within-bucket all-pairs verification
    * sub-quadratic as the corpus grows 100x. (Lives here, the leaf object,
    * so TextQueries and TextOracle can both read it without an object-
    * initialization cycle.)
    */
  val SimhashBits = 60

  /** Predicted language: argmax marker-word count, ties broken by the
    * fixed language order (struct sort on (-count, index)).
    */
  def langPred(toks: Column): Column = {
    val scored = LangMarkers.zipWithIndex.map { case ((lang, markers), i) =>
      val cnt =
        if (markers.isEmpty) lit(0)
        else stopwordCount(toks, markers)
      struct((-cnt).as("negc"), lit(i).as("i"), lit(lang).as("lang"))
    }
    array_sort(array(scored: _*)).getItem(0).getField("lang")
  }
}
