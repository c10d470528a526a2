package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis building blocks for the training-data pipeline
  * operators (BASELINE.json north star: dedup, text analysis): built-in
  * Spark SQL functions and native expressions, no UDFs. The MinHash /
  * SimHash sketches live in `graft.plans.Sketches`.
  */
object TextFunctions {

  /** Whitespace tokenization. */
  def tokens(text: Column): Column = split(text, " ")

  /** Word n-gram shingles; a doc with fewer than n tokens yields an
    * empty shingle set. Delegates to the native expression — the HOF
    * form below is the semantic reference (interpreted, 2×|tokens|
    * lambda evals per row).
    */
  def wordShingles(text: Column, n: Int): Column =
    graft.plans.Sketches.wordShingles(text, n)

  /** HOF reference implementation of [[wordShingles]] (kept for the
    * native-vs-reference equivalence spec).
    */
  def wordShinglesHof(text: Column, n: Int): Column = {
    val t = tokens(text)
    when(size(t) >= n,
      transform(sequence(lit(0), size(t) - n),
        i => concat_ws(" ", slice(t, i + lit(1), lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Hamming distance between two 64-bit SimHashes. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Polynomial rolling-hash fingerprint over characters,
    * mod 1e9+7 (kept small so ANSI-mode arithmetic can't overflow).
    */
  def fingerprint(text: Column): Column =
    aggregate(
      transform(split(text, ""), ch => ascii(ch).cast("long")),
      lit(0L),
      (acc, x) => (acc * 31 + x) % 1000000007L)

  /** Language marker word lists for the n-gram/marker language-ID
    * heuristic. Arbitrary but fixed vocabulary — the mechanics
    * (per-language token scoring + argmax) are the operator.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("window", "stream", "batch", "merge"),
    "en" -> Seq("the", "a", "fast", "big"),
    "es" -> Seq("data", "table", "row", "column"),
    "fr" -> Seq("join", "filter", "sort", "order"),
    "zh" -> Seq("spark", "query", "vector", "hash"))

  /** Marker-word count for one language. */
  def markerCount(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, x => array_contains(array(markers.map(lit): _*), x)))

  /** Predicted language: argmax of marker counts, ties broken by
    * alphabetical language order (the `when` chain order).
    */
  def langId(text: Column): Column = {
    val toks = tokens(text)
    val counts = langMarkers.map { case (l, ms) => l -> markerCount(toks, ms) }
    val top = greatest(counts.map(_._2): _*)
    coalesce(counts.map { case (l, c) => when(c === top, lit(l)) }: _*)
  }
}
