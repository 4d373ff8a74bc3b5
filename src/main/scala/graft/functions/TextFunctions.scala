package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-pipeline primitives for large-scale corpus processing: tokenizers,
  * shingles, MinHash signatures, SimHash, language-ID heuristic, quality
  * metrics, canonical fingerprints.
  *
  * Everything here is a composition of Catalyst column expressions — no
  * UDFs, no shuffles; all per-row, so these scale embarrassingly
  * parallel over any corpus. Caveat: Catalyst higher-order functions
  * (transform/filter/aggregate) are CodegenFallback (interpreted), so
  * hot paths that fold large arrays should prefer an explode+aggregate
  * relational shape (see [[graft.operators.Dedup.simhash]]) — the HOF
  * forms here are convenience APIs for small arrays.
  *
  * Hash determinism: md5 is the cross-engine anchor (identical in Spark
  * and DuckDB); MinHash signatures are lexicographic minima of salted md5
  * hex strings, and SimHash bits come from the first 16 bits of each
  * word's md5. Tokenizer parity with the reference: whitespace "term"
  * tokens (tok/tok.go:369) and a BPE-ish regex splitter standing in for
  * fulltext tokenization (tok/tok.go:558).
  */
object TextFunctions {

  /** Whitespace term tokens (reference term tokenizer, tok/tok.go:369). */
  def words(text: Column): Column = split(text, " ")

  /** BPE-ish subword-ish tokens: letter runs, digit runs, single symbols. */
  def bpeTokens(text: Column): Column =
    regexp_extract_all(text, lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))

  /** Word n-gram shingles joined by spaces; empty array when too short. */
  def shingles(ws: Column, n: Int): Column =
    when(size(ws) >= n,
      transform(sequence(lit(0), size(ws) - n),
        i => concat_ws(" ", slice(ws, i + 1, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** MinHash signature i: lexicographic min of salted md5 over shingles.
    * A full signature is `(0 until k).map(minhashSig(sh, _))`.
    */
  def minhashSig(sh: Column, i: Int): Column =
    array_min(transform(sh, s => md5(concat(lit(s"$i:"), s))))

  /** LSH band key: hash of the band's signature slice (bands of `rows`
    * signatures each); equal band key => candidate pair.
    */
  def bandKey(sigs: Seq[Column]): Column = md5(concat_ws("|", sigs: _*))

  /** Hamming distance between two small-int hashes. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  // ---- language ID: stopword-hit heuristic (deterministic spec shared
  // with the oracle SQL; argmax with fixed tie order en>de>fr>es>und) ----
  val enStops: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")
  val deStops: Seq[String] = Seq("der", "die", "das", "und", "ist", "nicht")
  val frStops: Seq[String] = Seq("le", "la", "les", "et", "est", "dans")
  val esStops: Seq[String] = Seq("el", "los", "las", "y", "es", "en")

  private def hits(ws: Column, stops: Seq[String]): Column =
    size(filter(ws, w => w.isin(stops.map(lit(_)): _*)))

  /** Predicted language code, or "und" when no stopword hits at all. */
  def langId(ws: Column): Column = {
    val en = hits(ws, enStops); val de = hits(ws, deStops)
    val fr = hits(ws, frStops); val es = hits(ws, esStops)
    val mx = greatest(en, de, fr, es)
    when(mx === 0, lit("und"))
      .when(en === mx, lit("en"))
      .when(de === mx, lit("de"))
      .when(fr === mx, lit("fr"))
      .otherwise(lit("es"))
  }

  /** Stopword hits across all four lists (quality signal). */
  def stopwordHits(ws: Column): Column =
    hits(ws, (enStops ++ deStops ++ frStops ++ esStops).distinct)

  /** Canonical document fingerprint: md5 of the sorted distinct tokens. */
  /** PII redaction for training corpora: emails → `<EMAIL>`, dotted
    * IPv4 → `<IP>`, 9+ digit runs (cards, SSNs, phone blocks) → `<NUM>`.
    * A pure codegen'd regexp_replace chain — zero shuffle, streams at
    * scan speed; email first so its digits can't half-match the number
    * rule. Patterns stay in the RE2 ∩ java.util.regex common subset so
    * the DuckDB oracle runs the identical expressions.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text,
          "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
        "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"),
      "\\d{9,}", "<NUM>")

  def fingerprint(ws: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(ws))))

  // ---- fulltext tokenization: stem + stopword drop (tok/tok.go:558) ----

  /** Porter-lite stemmer shared by both engines: one suffix strip. */
  val ftStemRe = "(ing|ed|es|e|s)$"

  /** Stemmed, stopword-dropped distinct tokens of a text column.
    * Lowercases first, matching the reference fulltext tokenizer
    * (tok/tok.go fulltext chain lowercases before stemming).
    */
  def ftStems(text: Column): Column =
    array_distinct(transform(
      filter(split(Lowercase(text), " "), w => !w.isin(enStops.map(lit(_)): _*)),
      w => regexp_replace(w, ftStemRe, "")))

  /** Driver-side stems of a literal query string (the reference also
    * tokenizes the query constant once, worker/tokens.go). Lowercased
    * to mirror ftStems.
    */
  def ftStemsLit(q: String): Seq[String] =
    Lowercase(q).split("\\s+").filter(w => w.nonEmpty && !enStops.contains(w))
      .map(_.replaceAll(ftStemRe, "")).distinct.toSeq

  // ---- word n-gram index (reference NGramTokenizer, tok/tok.go:442) ----

  /** ORDERED (non-deduped) fulltext stems — n-gram windows need token
    * adjacency, so no array_distinct here.
    */
  def ftStemsSeq(text: Column): Column =
    transform(
      filter(split(Lowercase(text), " "),
        w => w =!= "" && !w.isin(enStops.map(lit(_)): _*)),
      w => regexp_replace(w, ftStemRe, ""))

  /** A value's ngram-index token set: every 1..4-gram of its stemmed
    * token stream (reference NGramTokenizer.Tokens — uni/bi/tri/quad
    * grams, deduplicated). Pure column expression, codegen'd.
    */
  def ngramSet(text: Column): Column = {
    val toks = ftStemsSeq(text)
    val n = size(toks)
    array_distinct(flatten(transform(
      sequence(lit(1), greatest(n, lit(1))),
      i => filter(
        array((1 to 4).map { g =>
          when(i + lit(g - 1) <= n, array_join(slice(toks, i, lit(g)), " "))
        }: _*),
        x => x.isNotNull))))
  }

  /** Query-side grams: sliding windows of size min(3, tokens) over the
    * stemmed query (reference NGramTokenizer.QueryTokens). Empty query
    * → no grams → matches nothing.
    */
  def ngramQueryLit(q: String): Seq[String] = {
    val toks = Lowercase(q).split("\\s+")
      .filter(w => w.nonEmpty && !enStops.contains(w))
      .map(_.replaceAll(ftStemRe, "")).toSeq
    val g = math.min(3, toks.length)
    if (g == 0) Nil
    else (0 to toks.length - g).map(i => toks.slice(i, i + g).mkString(" "))
      .distinct
  }
}
