package graft

import java.util.Locale

import org.apache.spark.sql.catalyst.expressions.{Expression, InitCap, Lower, Upper}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{SchemaRegistry, TripleStore, Uids}
import graft.exec.DqlExecutor
import graft.functions.TokenizerRegistry
import graft.server.HttpEndpoint
import graft.sources.RdfSource

/** Tokenizers resolve by name without any query object having run, and
  * graft lowercases tokens and renders uids without Spark's `lower()`
  * (see [[graft.functions.Lowercase]]).
  */
class TokenizerRegistrySpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("the prefix4 plugin tokenizer resolves before SpecialQueries is touched") {
    assert(TokenizerRegistry("prefix4").tokensLit("Promo POLISHED promo") ==
      Seq("prom", "poli"))
    assert(TokenizerRegistry.registered.contains("prefix4"))
  }

  test("Uids.hex renders what lower(conv(x, 10, 16)) renders, and Long.MinValue as toHexString") {
    import spark.implicits._
    val xs = Seq(Some(0L), Some(1L), Some(0xabcL), Some(Long.MaxValue), Some(-1L),
      Some(Long.MinValue), None)
    val got = xs.toDF("x")
      .select(Uids.hex(col("x")), lower(conv(col("x").cast("string"), 10, 16)))
      .collect().map(r => (Option(r.getString(0)), Option(r.getString(1)))).toSeq
    assert(got.map(_._1) == xs.map(_.map(java.lang.Long.toHexString)))
    // conv overflows on |Long.MinValue| and renders its sentinel, -1;
    // every other value, null included, renders the same
    assert(got(5) == (Some("8000000000000000"), Some("ffffffffffffffff")))
    assert(got.patch(5, Nil, 1).forall { case (a, b) => a == b }, got)
  }

  test("token filters, uid renderers, export and N-Quad formatting plan no Spark case mapping") {
    import spark.implicits._
    def caseMaps(plan: LogicalPlan): Seq[Expression] =
      plan.collectWithSubqueries { case p =>
        p.expressions.flatMap(_.collect { case e @ (_: Lower | _: Upper | _: InitCap) => e })
      }.flatten
    def analyzedOf(body: => Any): Seq[LogicalPlan] = {
      val (_, qes) = Explain.queryExecutions(spark)(body)
      assert(qes.nonEmpty)
      qes.map(_._2.analyzed)
    }
    val exec = new DqlExecutor(TripleStore(spark, sf))
    val reads = Seq(
      """{ q(func: anyofterms(mktsegment, "BUILDING")) { uid name } }""",
      """{ q(func: allofterms(mktsegment, "Building")) { uid } }""",
      """{ q(func: anyoftext(text, "filters merges sorting")) { uid } }""",
      """{ q(func: alloftext(text, "filters")) { uid } }""",
      s"""{ q(func: uid(${Uids.Customer + 1})) @recurse(depth: 2) { uid name located_in } }""")
    val plans = reads.map(q => q -> analyzedOf(exec.jsonAll(q).collect())) ++
      Seq("formatAttrs" -> Seq(RdfSource.formatAttrs(
          Seq((1L, "name", "a", "en")).toDF("subject", "predicate", "value", "lang"))
          .queryExecution.analyzed),
        "formatEdges" -> Seq(RdfSource.formatEdges(
          Seq((1L, "friend", 2L)).toDF("subject", "predicate", "object"))
          .queryExecution.analyzed))
    val (preds, types) = SchemaRegistry.parseAlter("ename: string .")
    val ep = new HttpEndpoint(spark,
      new SchemaRegistry(preds.map(p => p.name -> p).toMap, types.map(t => t.name -> t).toMap),
      RdfSource.parse(Seq("""<0x1> <ename> "ann" .""").toDF("line")))
    val port = ep.start()
    val exports = try Seq("rdf", "json").map { format =>
      val dest = java.nio.file.Files.createTempDirectory("graft_export_case").toString
      val body = new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(
        java.util.Map.of("query", s"""mutation { export(input: {format: "$format",
          | destination: "$dest"}) { response { code } } }""".stripMargin))
      s"export $format" -> analyzedOf {
        val c = new java.net.URL(s"http://127.0.0.1:$port/admin").openConnection()
          .asInstanceOf[java.net.HttpURLConnection]
        c.setRequestMethod("POST")
        c.setRequestProperty("Content-Type", "application/json")
        c.setDoOutput(true)
        c.getOutputStream.write(body.getBytes("UTF-8"))
        val out = new String(c.getInputStream.readAllBytes(), "UTF-8")
        assert(out.contains("Success"), out)
      }
    } finally ep.stop()
    (plans ++ exports).foreach { case (name, analyzed) =>
      analyzed.foreach(p => assert(caseMaps(p).isEmpty, s"$name:\n$p"))
    }
  }

  test("a Turkish default locale changes no token match") {
    val exec = new DqlExecutor(TripleStore(spark, sf))
    val reads = Seq(
      """{ q(func: anyofterms(mktsegment, "BUILDING MACHINERY")) { uid } }""",
      """{ q(func: alloftext(text, "FILTERS")) { uid } }""")
    def answers() = reads.map(q => exec.jsonAll(q).collect().map(_.mkString("|")).toSeq)
    val term = TokenizerRegistry("term")
    import spark.implicits._
    def termMatch() = {
      val q = "TITLE IDLE"
      val colToks = Seq(q).toDF("v").select(term.tokens(col("v"))).head.getSeq[String](0)
      (colToks.sorted, term.tokensLit(q).sorted)
    }
    val expected = answers()
    assert(expected.forall(_.exists(_.contains("0x"))), expected)
    val saved = Locale.getDefault
    Locale.setDefault(Locale.forLanguageTag("tr"))
    try {
      assert(answers() == expected)
      val (colToks, litToks) = termMatch()
      assert(colToks == Seq("idle", "title") && litToks == colToks)
    } finally Locale.setDefault(saved)
  }
}
