package graft.functions

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Custom tokenizer plugin surface (reference tok/tok.go:38 Tokenizer
  * interface, :56 registerTokenizer; worker/tokens.go:47 routes
  * `anyof(pred, tokenizer, q)` / `allof` through the registry).
  *
  * A tokenizer is a pure Column transform (value → array<string>), so
  * plugins stay declarative and inside Catalyst — no UDF wall. The
  * driver-side `tokensLit` mirrors the reference tokenizing the query
  * constant once per request.
  */
trait Tokenizer {
  def name: String
  def tokens(value: Column): Column   // array<string>, distinct
  def tokensLit(q: String): Seq[String]
}

object TokenizerRegistry {

  private val reg = TrieMap.empty[String, Tokenizer]

  def register(t: Tokenizer): Unit = reg.put(t.name, t)

  def apply(name: String): Tokenizer = reg.getOrElse(name,
    throw new IllegalArgumentException(
      s"unknown tokenizer: $name (registered: ${reg.keys.toSeq.sorted.mkString(", ")})"))

  def registered: Seq[String] = reg.keys.toSeq.sorted

  // ---- built-ins (tok/tok.go's term/fulltext equivalents) ----

  register(new Tokenizer {
    val name = "term"
    def tokens(v: Column): Column =
      array_distinct(filter(split(Lowercase(v), "\\s+"), w => w =!= ""))
    def tokensLit(q: String): Seq[String] =
      Lowercase(q).split("\\s+").filter(_.nonEmpty).distinct.toSeq
  })

  register(new Tokenizer {
    val name = "fulltext"
    def tokens(v: Column): Column = TextFunctions.ftStems(v)
    def tokensLit(q: String): Seq[String] = TextFunctions.ftStemsLit(q)
  })

  // A PLUGIN-shaped tokenizer — the reference's custom-tokenizer path
  // (tok/tok.go:56 registerTokenizer; the systest plugin example has the
  // same shape): 4-char lowercase word prefixes. Registered with the
  // built-ins so it resolves before any query that indexes with it runs.
  register(new Tokenizer {
    val name = "prefix4"
    def tokens(v: Column): Column =
      array_distinct(transform(
        filter(split(Lowercase(v), "\\s+"), w => w =!= ""),
        w => substring(w, 1, 4)))
    def tokensLit(q: String): Seq[String] =
      Lowercase(q).split("\\s+").filter(_.nonEmpty).map(_.take(4)).distinct.toSeq
  })
}
