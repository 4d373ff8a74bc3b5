package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{TripleStore, Uids}
import graft.dql._
import graft.exec.DqlExecutor

/** Parser + executor specs, in the spirit of the reference's parser unit
  * corpus (dql/parser_test.go) and golden JSON tests (query/query0_test.go).
  */
class DqlSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.spark
  lazy val sf = "/root/testdata/sf0.001"
  lazy val exec = new DqlExecutor(TripleStore(spark, sf))

  test("lexer handles strings, regex literals, hex uids, comments") {
    val ts = Lexer.tokenize(
      """{ q(func: regexp(name, /^a.*b$/)) # comment
        |  { uid name } }""".stripMargin)
    // regex literals keep the raw /re/flags form; the executor unwraps
    assert(ts.contains(StrLit("/^a.*b$/")))
    assert(ts.count(_ == Punct("{")) == 2)
  }

  test("parser: block args, filter precedence, directives") {
    val q = Parser.parse(
      """{ people(func: eq(name, "x"), orderdesc: age, first: 5, offset: 2)
        |    @filter(NOT has(dead) AND (le(age, 10) OR gt(age, 60))) @cascade {
        |  name
        |  friends: friend (first: 3) @filter(has(name)) { name }
        |  c: count(friend)
        |} }""".stripMargin)
    val b = q.blocks.head
    assert(b.name == "people")
    assert(b.func == FuncCall("eq", "name", Seq("x")))
    assert(b.order == Seq(Ordering("age", desc = true)))
    assert(b.page.first.contains(5) && b.page.offset.contains(2))
    assert(b.cascade)
    // NOT binds tighter than AND; OR grouped by parens
    b.filter.get match {
      case FilterAnd(Seq(FilterNot(FilterLeaf(f1)), FilterOr(_))) =>
        assert(f1 == FuncCall("has", "dead", Nil))
      case other => fail(s"unexpected filter tree: $other")
    }
    assert(b.selections(1).alias.contains("friends"))
    assert(b.selections(1).page.first.contains(3))
    assert(b.selections(2).isCount && b.selections(2).alias.contains("c"))
  }

  test("parser: eq(count(p), n) and uid roots") {
    val q = Parser.parse("""{ a(func: eq(count(friend), 3)) { uid } b(func: uid(0x1, 7)) { uid } }""")
    assert(q.blocks(0).func == FuncCall("eq_count", "friend", Seq("3")))
    assert(q.blocks(1).func == FuncCall("uid", "", Seq("0x1", "7")))
  }

  test("parser rejects malformed input with a useful error") {
    val e = intercept[Parser.ParseException] {
      Parser.parse("{ q(func: eq(name Michonne)) { name } }")
    }
    assert(e.msg.nonEmpty)
  }

  test("query variables: typed substitution, defaults, missing error") {
    val doc =
      """query t($s: string, $n: int = 7) {
        |  q(func: eq(name, $s), first: $n) { name } }""".stripMargin
    val q = Parser.parseWithVars(doc, Map("$s" -> "Michonne"))
    val b = q.blocks.head
    assert(b.func == FuncCall("eq", "name", Seq("Michonne")))
    assert(b.page.first.contains(7)) // declared default
    val q2 = Parser.parseWithVars(doc,
      Map("$s" -> "Andrea", "$n" -> "2"))
    assert(q2.blocks.head.page.first.contains(2)) // caller wins
    val e = intercept[Parser.ParseException] {
      Parser.parseWithVars(doc, Map.empty)
    }
    assert(e.msg.contains("$s"))
  }

  test("jsonRows renders nested children as uid-sorted arrays") {
    val df = exec.jsonRows(
      """{ q(func: eq(name, "NATION_3")) { name in_region { name } } }""")
    val rows = df.collect()
    assert(rows.length == 1)
    val json = rows.head.getString(1)
    // in_region is a non-list predicate → single object, not array
    // (outputnode list-vs-scalar collapse)
    assert(json.contains(""""name":"NATION_3""""))
    assert(json.contains(""""in_region":{"uid":"0x"""))
    assert(json.matches(""".*"in_region":\{"uid":"0x[0-9a-f]+","name":"[A-Z ]+"\}.*"""))
  }

  test("golden JSON: two-level nesting with count and alias") {
    // reference-style exact-shape assertion (query/query0_test.go pattern)
    val rows = exec.jsonRows(
      """{ q(func: eq(name, "NATION_7")) {
        |    name regionRef: in_region { name } nInhab: count(~located_in) } }""".stripMargin)
      .collect()
    assert(rows.length == 1)
    val json = rows.head.getString(1)
    assert(json.contains(""""name":"NATION_7""""))
    assert(json.matches(""".*"nInhab":\d+.*"""))
    assert(json.matches(""".*"regionRef":\{"uid":"0x[0-9a-f]+","name":"[A-Z ]+"\}.*"""))
  }

  test("golden JSON: empty result renders as zero rows, not an error") {
    val rows = exec.jsonRows(
      """{ q(func: eq(name, "NO_SUCH_NATION")) { name } }""").collect()
    assert(rows.isEmpty)
  }

  test("golden JSON: lang-chain key kept verbatim, null fields omitted") {
    // reference shape: {"text@en:.":"..."} — '.' falls back to the
    // untagged value, then ANY variant (postingForLangs,
    // posting/list.go:2143), so every doc with text renders the key
    val rows = exec.jsonRows(
      """{ q(func: type(Document), first: 30) { text@en:.  source } }""")
      .collect().map(_.getString(1))
    assert(rows.length == 30)
    assert(rows.forall(_.contains(""""text@en:.":""")))
    assert(rows.exists(_.contains(""""source":""")))
    assert(rows.forall(_.startsWith("""{"uid":"0x""")))
  }

  test("golden JSON: facet keys pred|facet inside child objects, requested order") {
    // reference shape: {"placed":[{"uid":"0x..","placed|totalprice":".."}]}
    val rows = exec.jsonRows(
      """{ q(func: eq(mktsegment, "MACHINERY"), first: 5) {
        |    placed (orderdesc: totalprice, first: 3) @facets(totalprice) {
        |      orderstatus } } }""".stripMargin)
      .collect().map(_.getString(1))
    assert(rows.nonEmpty)
    val withKids = rows.filter(_.contains(""""placed":["""))
    assert(withKids.nonEmpty)
    withKids.foreach { j =>
      // facets render TYPED (reference TestFilterFacetval golden:
      // "path|weight": 0.2, not a string)
      assert(j.contains(""""placed|totalprice":"""))
      // child arrays preserve the requested (totalprice desc) order
      val prices = """"placed\|totalprice":(-?[0-9.]+)""".r
        .findAllMatchIn(j).map(_.group(1).toDouble).toSeq
      assert(prices == prices.sorted.reverse, s"not desc-ordered: $prices")
    }
  }

  test("golden JSON: LDBC IS02 shape — reverse traversal, ordered children, nesting") {
    // reference systest/ldbc test_cases.yaml q2: ~hasCreator(orderdesc,
    // first: N) { ... replyOf { ... } } — here: a nation's inhabitants
    // by acctbal desc with their own nested edge
    val rows = exec.jsonRows(
      """{ q(func: eq(name, "NATION_2")) {
        |    ~located_in (orderdesc: acctbal, first: 5) {
        |      acctbal located_in { name } } } }""".stripMargin)
      .collect()
    assert(rows.length == 1)
    val json = rows.head.getString(1)
    assert(json.contains(""""~located_in":[{"uid":"0x"""))
    // children ordered by acctbal desc
    val bals = """"acctbal":(-?[0-9.]+)""".r
      .findAllMatchIn(json).map(_.group(1).toDouble).toSeq
    assert(bals.length == 5)
    assert(bals == bals.sorted.reverse, s"not desc: $bals")
    // two-level nesting: each inhabitant carries its located_in object
    // (single object — non-list predicate)
    assert(""""located_in":\{"uid":"0x[0-9a-f]+","name":"[A-Z_0-9 ]+"\}""".r
      .findAllMatchIn(json).size == 5)
  }

  test("golden JSON: LDBC IS03 shape — facet-ordered children with facet keys") {
    // reference q3: knows @facets(orderdesc: creationDate) { ... } with
    // knows|creationDate keys in the child objects
    // one mixed @facets directive: order key + named fetch (the
    // two-directive fetch+order form is a reference parse error,
    // TestFacetsFilterFail — order keys fetch too)
    val rows = exec.jsonRows(
      """{ q(func: eq(name, "Customer#000000007")) {
        |    placed @facets(orderdesc: totalprice, orderdate) { orderstatus } } }""".stripMargin)
      .collect()
    assert(rows.length == 1)
    val json = rows.head.getString(1)
    assert(json.contains(""""placed|totalprice":"""))
    assert(json.contains(""""placed|orderdate":"""))
    val prices = """"placed\|totalprice":(-?[0-9.]+)""".r
      .findAllMatchIn(json).map(_.group(1).toDouble).toSeq
    assert(prices.nonEmpty && prices == prices.sorted.reverse)
  }

  test("golden JSON: LDBC IS07 shape — var binding + uid(c) filter in nested child") {
    // reference q7: mid as var(...) { c as hasCreator } then
    // @filter(uid(c)) on a nested traversal
    val rows = exec.jsonAll(
      """{ var(func: eq(name, "NATION_3")) { c as ~located_in }
        |  q(func: eq(name, "NATION_3")) {
        |    name inhab: ~located_in (first: 3) @filter(uid(c)) { acctbal } } }""".stripMargin)
      .collect()
    assert(rows.length == 1)
    val json = rows.head.getString(2)
    assert(json.contains(""""name":"NATION_3""""))
    assert(json.matches(""".*"inhab":\[(\{"uid":"0x[0-9a-f]+","acctbal":-?[0-9.]+\},?){3}\].*"""))
  }

  test("golden JSON: @normalize flattens to aliased-only objects") {
    // reference normalize shape (outputnode.go:921): one flat object per
    // path, only aliased leaves, no nesting
    val rows = exec.jsonRows(
      """{ q(func: eq(name, "NATION_4")) @normalize {
        |    n: name in_region { r: name } } }""".stripMargin)
      .collect().map(_.getString(1))
    assert(rows.length == 1)
    assert(rows.head.matches("""\{"n":"NATION_4","r":"[A-Z ]+"\}"""))
  }

  test("golden JSON: jsonAll renders every non-var block with bindings") {
    val df = exec.jsonAll(
      """{ var(func: eq(mktsegment, "BUILDING")) { o as placed }
        |  a(func: uid(o), first: 4) { orderstatus }
        |  b(func: eq(name, "NATION_3")) { name } }""".stripMargin)
    val rows = df.collect()
    val blocks = rows.map(_.getString(0)).distinct.sorted
    assert(blocks.toSeq == Seq("a", "b"))
    assert(rows.count(_.getString(0) == "a") == 4)
    assert(rows.filter(_.getString(0) == "b").head.getString(2)
      .contains(""""name":"NATION_3""""))
  }

  test("jsonAll renders a var-fed block aggregation with the flat gate's values") {
    // the dql_var_agg gate, through the nested-JSON path: one object per
    // aggregate, in query order, each value equal to the flat row's
    val q = """{ var(func: eq(mktsegment, "BUILDING")) { bal as acctbal }
              |  stats(func: uid(bal)) {
              |    n: count(uid) tot: sum(val(bal)) mn: min(val(bal))
              |    mx: max(val(bal)) av: avg(val(bal)) } }""".stripMargin
    val flat = exec.flat(q).collect()
    assert(flat.length == 1)
    val want = flat.head
    val rows = exec.jsonAll(q).orderBy(col("uid")).collect()
    assert(rows.map(_.getString(0)).toSet == Set("stats"))
    val m = new com.fasterxml.jackson.databind.ObjectMapper
    val objs = rows.map(r => m.readTree(r.getString(2)))
    val keys = Seq("n", "tot", "mn", "mx", "av")
    assert(objs.map(_.fieldNames.next).toSeq == keys)
    assert(objs.forall(_.size == 1))
    assert(want.getAs[Long]("n") > 0)
    assert(objs(0).get("n").asLong == want.getAs[Long]("n"))
    keys.tail.zip(objs.tail).foreach { case (k, o) =>
      assert(o.get(k).asDouble == want.getAs[Number](k).doubleValue, k)
    }
  }

  test("reverse traversal ~located_in finds nation inhabitants") {
    val df = exec.flat(
      """{ q(func: eq(name, "NATION_5")) { name inhab: ~located_in { name } } }""")
    val inhab = df.select("inhab").collect().map(_.getLong(0))
    assert(inhab.nonEmpty)
    assert(inhab.forall(u =>
      (u >= Uids.Customer && u < Uids.Customer + Uids.Base) ||
      (u >= Uids.Supplier && u < Uids.Supplier + Uids.Base)))
  }

  test("block-level OR/NOT filter equals set algebra on uids") {
    val both = exec.flat(
      """{ q(func: has(acctbal)) @filter(ge(acctbal, 9000) OR NOT le(acctbal, 9999999)) { acctbal } }""")
    val ge = exec.flat("""{ q(func: ge(acctbal, 9000)) { acctbal } }""")
    assert(both.select("uid").collect().map(_.getLong(0)).toSet ==
      ge.select("uid").collect().map(_.getLong(0)).toSet)
  }

  test("upsert parser: structure and reference error cases (dql/upsert_test.go)") {
    import graft.operators.Upsert
    val ok = Upsert.parse(
      """upsert {
        |  query { me(func: eq(age, 34)) { m as uid friend { f as uid } } }
        |  mutation @if(eq(len(m), 1) AND gt(len(f), 0)) {
        |    set { uid(m) <age> "45" .
        |          uid(m) <friend> uid(f) . }
        |    delete { uid(m) <alias> * . }
        |  }
        |}""".stripMargin)
    assert(ok.mutations.size == 1)
    assert(ok.mutations.head.sets.size == 2 && ok.mutations.head.deletes.size == 1)
    assert(ok.mutations.head.cond.isDefined)
    // TestNoMutationErr: query without mutation
    assertThrows[Upsert.UpsertException](Upsert.parse(
      "upsert { query { me(func: eq(age, 34)) { uid } } }"))
    // TestMultipleQueryErr
    assertThrows[Upsert.UpsertException](Upsert.parse(
      """upsert { query { a(func: eq(age, 34)) { uid } }
        |  query { b(func: eq(age, 34)) { uid } }
        |  mutation { set { uid(m) <age> "1" . } } }""".stripMargin))
    // TestEmptyMutationErr
    assertThrows[Upsert.UpsertException](Upsert.parse(
      """upsert { query { a(func: eq(age, 34)) { uid } } mutation { } }"""))
    // TestMultipleMutation / DifferentOrder: several mutation blocks,
    // each with its own @if, in any position relative to the query
    val multi = Upsert.parse(
      """upsert {
        |  mutation @if(eq(len(m), 1)) { set { uid(m) <age> "45" . } }
        |  query { me(func: eq(age, 34)) @filter(ge(name, "user")) { m as uid } }
        |  mutation @if(NOT(eq(len(m), 1))) { set { uid(m) <age> "46" . } }
        |  mutation { set { _:user <age> "45" . } }
        |}""".stripMargin)
    assert(multi.mutations.size == 3)
    assert(multi.mutations.count(_.cond.isDefined) == 2)
    // TestUpsertMutationThenQuery: mutation first parses too
    val mq = Upsert.parse(
      """upsert {
        |  mutation { set { _:user1 <age> "45" . } }
        |  query { me(func: eq(age, 34)) { uid friend { uid age } } }
        |}""".stripMargin)
    assert(mq.mutations.size == 1)
    // error matrix (upsert_test.go 29-147, 389-456)
    for (bad <- Seq(
        // TestExtraRightCurlErr
        """upsert { query { me(func: eq(age, 34)) { uid } } } } mutation { set { _:u <age> "1" . } }""",
        // TestIncompleteBlockErr (truncated mid-mutation)
        """upsert { mutation @if(eq(len(m), 1)) { set { uid(m) <age> "45" .""",
        // TestConditionalUpsertErrUnclosed
        """upsert { mutation @if(eq(len(m), 1) AND gt(len(f), 0))""",
        // TestConditionalUpsertErrInvalidIf
        """upsert { mutation @if""",
        // TestConditionalUpsertErrWrongIf (@fi typo)
        """upsert { mutation @fi(eq(len(m), 1)) { set { uid(m) <age> "45" . } }
          |  query { me(func: eq(age, 34)) { m as uid } } }""".stripMargin,
        // TestInvalidBlockErr (unknown block keyword)
        """upsert { mutilation { set { _:u <age> "1" . } }
          |  query { me(func: eq(age, 34)) { uid } } }""".stripMargin))
      assertThrows[Exception](Upsert.parse(bad))
  }

  test("@cascade(field) validates names at rewrite time, not mid-plan") {
    // a mistyped or nested field must produce a parse-style validation
    // error naming the available selections — never an opaque
    // unresolved-column AnalysisException from deep in the plan
    val bad = intercept[IllegalArgumentException] {
      exec.flat(
        """{ q(func: eq(mktsegment, "BUILDING")) @cascade(bogus) {
          |    name placed { orderstatus } } }""".stripMargin).count()
    }
    assert(bad.getMessage.contains("no top-level selection named 'bogus'"))
    assert(bad.getMessage.contains("have: name, placed"))
    val nested = intercept[IllegalArgumentException] {
      exec.flat(
        """{ q(func: eq(mktsegment, "BUILDING")) @cascade(placed.orderstatus) {
          |    name placed { orderstatus } } }""".stripMargin).count()
    }
    assert(nested.getMessage.contains("no top-level selection named"))
    // valid edge and scalar fields still pass
    assert(exec.flat(
      """{ q(func: eq(mktsegment, "BUILDING")) @cascade(placed) {
        |    name placed { orderstatus } } }""".stripMargin).count() > 0)
  }

  test("math same-level var read: fanned and unfanned frames agree") {
    // the in-place fast path reads the live column; a frame fanned by a
    // sibling traversal must route the read through the var's dedup'd
    // (uid, value) snapshot instead — both paths must produce the SAME
    // per-uid math results (ADVICE r8 #4)
    val plain = exec.flat(
      """{ q(func: eq(mktsegment, "BUILDING"), first: 50) {
        |    b as acctbal  m: math(b * 2) } }""".stripMargin)
      .select(org.apache.spark.sql.functions.col("uid"),
        org.apache.spark.sql.functions.col("m"))
      .distinct().orderBy(org.apache.spark.sql.functions.col("uid"))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val fanned = exec.flat(
      """{ q(func: eq(mktsegment, "BUILDING"), first: 50) {
        |    placed { orderstatus }
        |    b as acctbal  m: math(b * 2) } }""".stripMargin)
      .select(org.apache.spark.sql.functions.col("uid"),
        org.apache.spark.sql.functions.col("m"))
      .distinct().orderBy(org.apache.spark.sql.functions.col("uid"))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(plain.toSeq == fanned.toSeq)
  }

  test("parser: multi-query reference funcs (duplicate aliases, val multi-sort, recurse vars, cascade args, uid_in)") {
    def err(q: String, vars: Map[String, String] = Map.empty): Unit =
      intercept[Parser.ParseException] { Parser.parseWithVars(q, vars); () }
    def ok(q: String, vars: Map[String, String] = Map.empty): DqlQuery =
      Parser.parseWithVars(q, vars)
    // TestDuplicateQueryAliasesError: duplicate named blocks error;
    // two shortest blocks with distinct vars are fine
    err("""{ a(func: uid(1)) { uid } a(func: uid(2)) { uid } }""")
    // type's argument is a VALUE — the quoted form parses
    // (TestCascadeWithPaginationDeep uses func: type("Person")) while a
    // quoted ATTRIBUTE rejects (TestParseQuotedFunctionAttributeError)
    assert(ok("""{ q(func: type("Person")) { name } }""")
      .blocks.head.func.pred == "Person")
    err("""{ q(func: allofterms("name", "barack")) { name } }""")
    // root functions are a closed set (TestVarInAggError: min at root is
    // a parse error — "Function name: min is not valid.")
    err("""{ var(func: uid(1)) { friend { a as age } }
      |  me(func: min(val(a))) { name } }""".stripMargin)
    err("""{ q(func: checkpwd(password, "x")) { name } }""")
    ok("""{
      | path as shortest(from: 0x1, to: 0x4) { friend }
      | path2 as shortest(from: 0x2, to: 0x3) { friend }
      | pathQuery1(func: uid(path)) { name }
      | pathQuery2(func: uid(path2)) { name } }""".stripMargin)
    // TestOrderByVarAndPred: val() keys are single-sort only
    err("""{ q(func: uid(1), orderasc: name, orderdesc: val(n)) { }
      |  var(func: uid(0x0a)) { friends { n AS name } } }""".stripMargin)
    ok("""{ q(func: uid(1)) { }
      |  var(func: uid(0x0a)) {
      |    friends (orderasc: name, orderdesc: genre) { name } } }""".stripMargin)
    // TestRecurseWithArgs / WithError: $var depth/loop, typed errors
    val r = ok("""{ me(func: eq(name, "sad")) @recurse(depth: $h, loop: $l) { } }""",
      Map("$h" -> "1", "$l" -> "true"))
    assert(r.blocks.head.recurse.contains(RecurseArgs(1, loop = true)))
    err("""{ me(func: eq(name, "sad")) @recurse(depth: $h, loop: true) { } }""")
    err("""{ me(func: eq(name, "sad")) @recurse(depth: $h, loop: $l) { } }""",
      Map("$h" -> "sd", "$l" -> "true"))
    err("""{ me(func: eq(name, "sad")) @recurse(depth: $h, loop: $l) { } }""",
      Map("$h" -> "1", "$l" -> "tre"))
    // TestBadCascadeParameterized: empty/malformed parameter lists
    for (bad <- Seq("@cascade(", "@cascade()", "@cascade(,)",
        "@cascade(name,)", "@cascade(,name)"))
      err(s"{ names(func: has(name)) $bad { name age dob } }")
    // TestUidInWithParseErrors
    err("""{ me(func: uid(1)) { friend @filter(uid_in(school, )) { name } } }""")
    err("""{ me(func: uid(1)) { friend @filter(uid_in(school)) { name } } }""")
    err("""{ me(func: uid(1)) { friend @filter(uid_in(school, uid(5000))) { name } } }""")
    err("""{ uidVar as q(func: uid(5000)) { uid }
      |  me(func: uid(1)) {
      |    friend @filter(uid_in(school, uid(uidVar, 5001))) { name } } }""".stripMargin)
  }

  test("DQL fragments: spreads expand (nested, shared across blocks) and execute") {
    // reference TestParseFragmentMultiQuery/Nest shapes, run end-to-end
    val frag = exec.jsonRows(
      """{ q(func: eq(name, "NATION_3")) { ...basic in_region { ...rgn } } }
        |fragment basic { name }
        |fragment rgn { ...rgnInner }
        |fragment rgnInner { name }""".stripMargin).collect()
    val plain = exec.jsonRows(
      """{ q(func: eq(name, "NATION_3")) { name in_region { name } } }""").collect()
    assert(frag.length == 1 && frag.head.getString(1) == plain.head.getString(1))
    // cycle + missing fragment are parse errors with the reference's text
    val cyc = intercept[Parser.ParseException] {
      Parser.parse("""{ q(func: uid(1)) { ...a } }
        |fragment a { ...b } fragment b { ...a }""".stripMargin)
    }
    assert(cyc.msg.contains("Cycle detected"))
    val miss = intercept[Parser.ParseException] {
      Parser.parse("""{ q(func: uid(1)) { ...nope } }""")
    }
    assert(miss.msg.contains("Missing fragment"))
  }

  test("lexer: BCP47 lang tags with numeric subtags (state_test.go TestNumberInLang)") {
    val q = Parser.parse("""{ q(func: eq(name@es-419, "aoeu")) { name@. } }""")
    assert(q.blocks.head.func.pred == "name@es-419")
    val q2 = Parser.parse("""{ q(func: has(name)) { name@en-US:fr } }""")
    assert(q2.blocks.head.selections.head.langChain == Seq("en-US", "fr"))
  }

  test("parser fuzz: mutated corpus queries never hang or throw non-ParseException (dql/parser_fuzz_test.go)") {
    // the reference fuzzes Parse with its test corpus as seeds; here
    // every positive-corpus query gets deterministic mutations (char
    // deletion, truncation, punct swaps) — the parser must either parse
    // or throw ParseException/LexException, never anything else
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = m.readTree(
      getClass.getResourceAsStream("/dql_parser_ok_cases.json"))
    val seeds = scala.collection.mutable.ListBuffer.empty[String]
    val it = node.fields()
    while (it.hasNext) seeds += it.next().getValue.asText
    var n = 0
    seeds.foreach { q =>
      val muts = Seq(
        q.drop(1), q.dropRight(3), q.take(q.length / 2),
        q.replace("{", "}"), q.replace("(", ""), q.replace(":", ","),
        q.replace("func", "fnuc"), q + "}", "@" + q,
        q.replace("\"", ""))
      muts.foreach { mq =>
        n += 1
        try { Parser.parse(mq); () }
        catch {
          case _: Parser.ParseException => ()
          case _: Lexer.LexException => ()
          case e: Throwable =>
            fail(s"non-parse failure ${e.getClass.getSimpleName}: ${e.getMessage} for: ${mq.take(80)}")
        }
      }
    }
    info(s"fuzzed $n mutated documents")
  }

  test("parser accepts the reference's 140 positive parse corpus (dql/parser_test.go)") {
    // the complement of the error corpus: every single-query
    // require.NoError case must PARSE here too — catches validations
    // that overshoot the reference's. `lenient` lists cases that only
    // parse in the reference's richer grammar forms we intentionally
    // reshape (documented per name).
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = m.readTree(
      getClass.getResourceAsStream("/dql_parser_ok_cases.json"))
    // cases whose reference test supplies a query-vars map
    val varsFor = Map(
      "TestParseSimilarToWithQueryVariable" -> Map("$eff" -> "10"))
    val lenient = Set.empty[String]
    val rejected = scala.collection.mutable.ListBuffer.empty[String]
    val it = node.fields()
    while (it.hasNext) {
      val e = it.next()
      val (name, q) = (e.getKey, e.getValue.asText)
      if (!lenient.contains(name)) {
        try Parser.parseWithVars(q, varsFor.getOrElse(name, Map.empty))
        catch { case ex: Exception => rejected += s"$name(${ex.getMessage})" }
      }
    }
    assert(rejected.isEmpty,
      s"parser REJECTED ${rejected.size} reference-legal queries: " +
        rejected.mkString("; "))
  }

  test("parser rejects the reference's 120 parse-error corpus (dql/parser_test.go)") {
    // every single-query require.Error case from the reference's parser
    // suite: our parser must reject them too. Cases the reference
    // catches at PARSE time but this engine legitimately catches at
    // EXECUTION (semantic var/schema checks that need the store) are
    // listed in `deferred` with the reason encoded by the suffix test
    // below — everything else must throw in Parser.parse.
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = m.readTree(
      getClass.getResourceAsStream("/dql_parser_err_cases.json"))
    val deferred = Set.empty[String]
    val accepted = scala.collection.mutable.ListBuffer.empty[String]
    val it = node.fields()
    while (it.hasNext) {
      val e = it.next()
      val (name, q) = (e.getKey, e.getValue.asText)
      if (!deferred.contains(name)) {
        try { Parser.parse(q); accepted += name }
        catch { case _: Exception => () }
      }
    }
    assert(accepted.isEmpty,
      s"parser ACCEPTED ${accepted.size} reference error cases: " +
        accepted.mkString(", "))
  }
}
