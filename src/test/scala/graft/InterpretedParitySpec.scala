package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{GraphStore, SchemaRegistry}
import graft.dql.Parser
import graft.exec.DqlExecutor

/** Interpreted vs compiled JSON reads: every test store is small, so its
  * reads run interpreted ([[DqlExecutor.ReadMode]]); the same store seen
  * through [[InterpretedParity.Unsized]] reads compiled. Each query,
  * taken from the golden suites, must render byte-identical (block, uid,
  * json) rows both ways — this suite, with the interactive read gates'
  * cases in DqlSpec, is what keeps the compiled DQL path covered.
  */
class InterpretedParitySpec extends AnyFunSuite {

  private lazy val fixture = GoldenFixture.store

  import InterpretedParity.dql

  // golden queries over the reference friend-graph fixture (GoldenFixtureSpec)
  private val fixtureQueries: Seq[(String, String)] = Seq(
    "@recurse TestRecurseQuery" ->
      """{ me(func: uid(0x01)) @recurse { nonexistent_pred friend name } }""",
    "@recurse TestRecurseQueryAllowLoop2" ->
      """{ me(func: uid(0x01)) @recurse(depth: 4, loop: true) {
        |    friend dob name } }""".stripMargin,
    "shortest TestShortestPath" ->
      """{ A as shortest(from: 0x01, to: 31) { friend }
        |  me(func: uid(A)) { name } }""".stripMargin,
    "@facets TestKShortestPathWeighted" ->
      """{ shortest(from: 1, to: 1001, numpaths: 4) {
        |    path @facets(weight) } }""".stripMargin,
    "@facets TestKShortestPathTwoPaths" ->
      """{ A as shortest(from: 51, to: 55, numpaths: 2, depth: 2) {
        |    connects @facets(weight) }
        |  me(func: uid(A)) { name } }""".stripMargin,
    "@facets TestFilterFacetval" ->
      """{ friend(func: uid(0x01)) {
        |    path @facets(L as weight) { name friend @filter(uid(L)) { name val(L) } } } }""".stripMargin,
    "@normalize TestNormalizeDirective" ->
      """{ me(func: uid(0x01)) @normalize {
        |    mn: name gender
        |    friend { n: name d: dob friend { fn: name } }
        |    son { sn: name } } }""".stripMargin,
    "@cascade TestCascadeDirective" ->
      """{ me(func: uid(0x01)) @cascade {
        |    name gender
        |    friend { name friend { name dob age } } } }""".stripMargin,
    "filter TestFindFriendsWhoAreBetween15And19" ->
      """{ friends_15_and_19(func: uid(1)) {
        |    name
        |    friend @filter(ge(age, 15) AND lt(age, 19)) { name age } } }""".stripMargin,
    "order TestMultiSort1" ->
      """{ me(func: uid(10005, 10006, 10001, 10002, 10003, 10004, 10007, 10000),
        |     orderasc: name, orderasc: age) { name age } }""".stripMargin,
    "count TestCountAtRoot gt(count(friend))" ->
      """{ me(func: gt(count(friend), 2)) { name } }""",
    "@groupby TestGroupByRoot" ->
      """{ me(func: uid(1, 23, 24, 25, 31)) @groupby(age) { count(uid) } }""",
    "@groupby TestGroupByAlias" ->
      """{ me(func: uid(1)) { friend @groupby(school) {
        |    MaxName: max(name) MinName: min(name) UidCount: count(uid) } } }""".stripMargin,
    "@groupby two keys" ->
      """{ me(func: uid(1,23,31)) { name friend @groupby(name, age) { count(uid) } } }""",
    "math TestQueryVarValAggSince" ->
      """{ f as var(func: anyofterms(name, "Michonne Andrea Rick")) {
        |    a as dob
        |    b as math(since(a)/(60*60*24*365)) }
        |  AgeOrder(func: uid(f), orderasc: val(b)) {
        |    name
        |    val(a) } }""".stripMargin,
    "math TestQueryVarValAggNestedFuncConst" ->
      """{ f as var(func: anyofterms(name, "Michonne Andrea Rick")) {
        |    a as age
        |    friend { x as age }
        |    n as min(val(x))
        |    s as max(val(x))
        |    p as math(a + s % n + 10)
        |    q as math(a * s * n * -1) }
        |  MaxMe(func: uid(f), orderasc: val(p)) {
        |    name val(p) val(a) val(n) val(s) }
        |  MinMe(func: uid(f), orderasc: val(q)) {
        |    name val(q) val(a) val(n) val(s) } }""".stripMargin,
    "lang TestQueryEmptyDefaultNameWithLanguage" ->
      """{ people(func: eq(name, "")) { name@ko:en:hi } }""",
    "lang TestLangMany1" ->
      """{ me(func: uid(0x1001)) { name@ru:en:fr } }""",
    "lang TestLangDot chain" ->
      """{ me(func: uid(0x1004)) { name@hi:cn:. } }""")

  fixtureQueries.foreach { case (name, q) =>
    test(s"interpreted == compiled: $name") { dql(fixture, q) }
  }

  private val rdfQueries = Seq(
    """{ me(func:anyofterms(name, "Michonne Rick Daryl")) {
      |    name count(friend) friend { name } } }""".stripMargin,
    """{ me(func: uid(0x01)) { name gender
      |    friend(orderdesc: film.film.initial_release_date) {
      |      name film.film.initial_release_date } } }""".stripMargin,
    """{ me(func: anyofterms(name, "Michonne Rick Daryl")) @recurse(depth: 3) {
      |    name friend } }""".stripMargin)

  test("interpreted == compiled: RDF reads") {
    rdfQueries.foreach { q =>
      val interpreted = new DqlExecutor(fixture).rdfAll(q)
      assert(interpreted.nonEmpty)
      assert(interpreted == new DqlExecutor(new InterpretedParity.Unsized(fixture)).rdfAll(q))
    }
  }

  test("a repeated interpreted RDF read compiles no class") {
    // Spark compiles some classes even with codegen off (see
    // DqlExecutor.Interpreted); each is compiled once per JVM
    import org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    assert(DqlExecutor.ReadMode(fixture).interpreted)
    rdfQueries.foreach(new DqlExecutor(fixture).rdfAll(_))
    val before = METRIC_COMPILATION_TIME.getCount
    rdfQueries.foreach(new DqlExecutor(fixture).rdfAll(_))
    assert(METRIC_COMPILATION_TIME.getCount == before)
  }
}

object InterpretedParity extends org.scalatest.Assertions {

  /** `inner` with its size unknown, so its JSON reads run compiled. */
  final class Unsized(inner: GraphStore) extends GraphStore {
    def spark: SparkSession = inner.spark
    def schema: SchemaRegistry = inner.schema
    def edges: DataFrame = inner.edges
    def nodeTypes: DataFrame = inner.nodeTypes
    def facetKeys: Map[String, Seq[(String, String)]] = inner.facetKeys
    def attr(predicate: String): DataFrame = inner.attr(predicate)
    override def annIndexDir(predicate: String): Option[String] = inner.annIndexDir(predicate)
    override def attrWide(preds: Seq[String],
        frontierTypes: Set[String]): Seq[GraphStore.WideGroup] =
      inner.attrWide(preds, frontierTypes)
    override def edgeTargetTypes(predicate: String): Set[String] = inner.edgeTargetTypes(predicate)
    override def edgeObjectsUnique(predicate: String): Boolean = inner.edgeObjectsUnique(predicate)
    override def attrSubjectUnique(predicate: String): Boolean = inner.attrSubjectUnique(predicate)
    override def estimatedBytes: Option[Long] = None
    override def edge(predicate: String): DataFrame = inner.edge(predicate)
    override def reverseEdge(predicate: String): DataFrame = inner.reverseEdge(predicate)
    override def backupTriples(only: Set[String]): Option[DataFrame] = inner.backupTriples(only)
    override def derived[V](key: Any)(build: => V): V = inner.derived(key)(build)
  }

  private def rows(df: DataFrame): Seq[(String, Any, String)] =
    df.collect().toSeq.map(r => (r.getString(0), r.get(1), r.getString(2)))

  /** The read's rows over `store` (interpreted) and over the same store
    * unsized (compiled); the two must agree.
    */
  def both(store: GraphStore)(read: GraphStore => DataFrame): Unit = {
    val compiledStore = new Unsized(store)
    assert(DqlExecutor.ReadMode(store).interpreted)
    assert(!DqlExecutor.ReadMode(compiledStore).interpreted)
    val interpreted = rows(read(store))
    val compiled = rows(read(compiledStore))
    assert(interpreted == compiled)
    assert(interpreted.nonEmpty)
  }

  def dql(store: GraphStore, q: String, includeUid: Boolean = false): Unit =
    both(store)(s => new DqlExecutor(s).jsonAllAst(Parser.parse(q), includeUid))
}
