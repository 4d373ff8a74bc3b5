package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Uids

/** RDF N-Quad source/sink (reference chunker/rdf_parser.go:75 ParseRDF,
  * export worker/export.go:131).
  *
  * Format written/read:
  *   <0xHEXUID> <predicate> "value" .
  *   <0xHEXUID> <predicate> "value"@lang .
  *   <0xHEXUID> <predicate> <0xHEXUID> .
  *   <0xHEXUID> <predicate> <0xHEXUID> (k=v, k2=v2) .    # facets
  *
  * Both directions are pure column expressions (format_string /
  * regexp_extract) — a 100 TB export or load is a single codegen'd scan,
  * no UDFs, no driver involvement.
  */
object RdfSource {

  /** Full-line shapes accepted by [[parse]] / [[parseWithBlanks]] —
    * shared with endpoint-side validation ([[graft.server.HttpEndpoint]])
    * so a line the parsers would silently null-extract is REJECTED at
    * the door instead of appended as a null-subject row.
    */
  val UidLineRe: String =
    "^<0x([0-9a-f]+)> <([^>]+)> <0x([0-9a-f]+)>(?: \\(([^)]*)\\))? \\.$"
  val LitLineRe: String =
    "^<0x([0-9a-f]+)> <([^>]+)> \"((?:[^\"\\\\]|\\\\.)*)\"(?:@([a-zA-Z.*]+))?(?: \\(([^)]*)\\))? \\.$"
  val BlankLitLineRe: String =
    "^(?:<0x([0-9a-f]+)>|_:([A-Za-z0-9_.-]+)) <([^>]+)> \"((?:[^\"\\\\]|\\\\.)*)\"(?:@([a-zA-Z.*]+))? \\.$"

  private def hexUid(c: Column): Column =
    concat(lit("<0x"), Uids.hex(c), lit(">"))

  /** Attribute triples (subject, predicate, value[, lang]) → N-Quad lines. */
  def formatAttrs(attrs: DataFrame): DataFrame = {
    val langSuffix =
      if (attrs.columns.contains("lang"))
        when(col("lang").isNotNull, concat(lit("@"), col("lang"))).otherwise(lit(""))
      else lit("")
    attrs.select(concat(
      hexUid(col("subject")), lit(" <"), col("predicate"), lit("> \""),
      // escape backslash then quote (reference escapes the same set)
      regexp_replace(regexp_replace(col("value").cast("string"),
        lit("\\\\"), lit("\\\\\\\\")), lit("\""), lit("\\\\\"")),
      lit("\""), langSuffix, lit(" .")).as("line"))
  }

  /** Edge triples (subject, predicate, object [, facets]) → N-Quad lines. */
  def formatEdges(edges: DataFrame): DataFrame = {
    val facetStr =
      if (edges.columns.contains("facets"))
        when(size(map_keys(col("facets"))) > 0,
          concat(lit(" ("),
            concat_ws(", ", transform(map_keys(col("facets")),
              k => concat(k, lit("="), element_at(col("facets"), k)))),
            lit(")")))
          .otherwise(lit(""))
      else lit("")
    edges.select(concat(
      hexUid(col("subject")), lit(" <"), col("predicate"), lit("> "),
      hexUid(col("object")), facetStr, lit(" .")).as("line"))
  }

  /** Parse N-Quad lines that may carry blank-node subjects
    * (`_:label <pred> "v" .` — the live-load input shape, reference
    * chunker/rdf_parser.go blank handling). Returns subjectUid LONG
    * (null for blanks), subjectBlank STRING (null for uids), predicate,
    * value, lang.
    */
  def parseWithBlanks(lines: DataFrame): DataFrame = {
    val litRe = BlankLitLineRe
    lines.select(
      when(regexp_extract(col("line"), litRe, 1) =!= "",
        conv(regexp_extract(col("line"), litRe, 1), 16, 10).cast("long"))
        .as("subjectUid"),
      when(regexp_extract(col("line"), litRe, 2) =!= "",
        regexp_extract(col("line"), litRe, 2)).as("subjectBlank"),
      regexp_extract(col("line"), litRe, 3).as("predicate"),
      regexp_replace(regexp_replace(
        regexp_extract(col("line"), litRe, 4), lit("\\\\\""), lit("\"")),
        lit("\\\\\\\\"), lit("\\\\")).as("value"),
      when(regexp_extract(col("line"), litRe, 5) =!= "",
        regexp_extract(col("line"), litRe, 5)).as("lang"))
  }

  /** Parse N-Quad lines (col "line") back to triples. Returns columns:
    * subject LONG, predicate STRING, objectUid LONG (null for literals),
    * value STRING (null for uid objects), lang STRING, facets STRING.
    */
  def parse(lines: DataFrame): DataFrame = {
    val uidRe = UidLineRe
    val litRe = LitLineRe
    lines.select(
      when(regexp_extract(col("line"), uidRe, 1) =!= "",
        conv(regexp_extract(col("line"), uidRe, 1), 16, 10))
        .otherwise(conv(regexp_extract(col("line"), litRe, 1), 16, 10))
        .cast("long").as("subject"),
      when(regexp_extract(col("line"), uidRe, 2) =!= "",
        regexp_extract(col("line"), uidRe, 2))
        .otherwise(regexp_extract(col("line"), litRe, 2)).as("predicate"),
      when(regexp_extract(col("line"), uidRe, 3) =!= "",
        conv(regexp_extract(col("line"), uidRe, 3), 16, 10).cast("long"))
        .as("objectUid"),
      when(regexp_extract(col("line"), uidRe, 1) === "",
        regexp_replace(regexp_replace(
          regexp_extract(col("line"), litRe, 3), lit("\\\\\""), lit("\"")),
          lit("\\\\\\\\"), lit("\\\\")))
        .as("value"),
      when(regexp_extract(col("line"), litRe, 4) =!= "",
        regexp_extract(col("line"), litRe, 4)).as("lang"),
      when(regexp_extract(col("line"), uidRe, 4) =!= "",
        regexp_extract(col("line"), uidRe, 4))
        .when(regexp_extract(col("line"), litRe, 5) =!= "",
          regexp_extract(col("line"), litRe, 5)).as("facets"))
  }
}
