package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.{TripleStore, Uids}
import graft.graphql.GraphQLEngine
import Q._

/** End-to-end GraphQL: each query runs the full GraphQL pipeline —
  * document parse → rewrite to the DQL IR (reference
  * graphql/resolve/query_rewriter.go) → DataFrame execution — and is
  * hash-checked against a relational DuckDB oracle.
  */
object GraphqlQueries {

  private val CB = Uids.Customer
  private val NB = Uids.Nation
  private val PB = Uids.Part
  private val OB = Uids.Order
  private val DB = Uids.Document

  // A GraphQL server builds its engine once per schema and serves many
  // requests (reference graphql/admin: the resolver factory is
  // constructed at schema-update time, not per query) — cache engines
  // per (session, sfDir, schema) instead of rebuilding per invocation.
  // keyed by resolvers TOO: a schema reached first with empty resolvers
  // must not freeze a resolver-less engine in for the lambda gates (and
  // vice versa) — both maps are stable vals, so identity keys are exact
  private def engine(s: SparkSession, d: String,
      schema: graft.graphql.GqlSchema = graft.graphql.SdlParser.tpch,
      resolvers: Map[String, org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.Column] = Map.empty): GraphQLEngine =
    TripleStore(s, d).derived(("graphql_engine", schema, resolvers)) {
      new GraphQLEngine(TripleStore(s, d), schema, resolvers)
    }

  private def gql(q: String): QFn = (s, d) =>
    engine(s, d).flat(q)

  // Gate-local schemas, parsed once per JVM (they're static strings).
  // @auth: AND of an RBAC rule (true under the request's claims), a
  // root-filter graph rule ($SEG from the JWT) and a cascaded-path
  // graph rule (reference graphql/resolve/auth_query_test.yaml).
  private val authSdl = graft.graphql.SdlParser.parse(
    """type Nation { id: ID! name: String! @search(by: [exact]) }
      |type Customer @auth(query: { and: [
      |  { rule: "{$ROLE: { eq: \"analyst\" } }" },
      |  { rule: "query($SEG: String!) { queryCustomer(filter: { mktsegment: { eq: $SEG } }) { __typename } }" },
      |  { rule: "query { queryCustomer { placed(filter: { totalprice: { ge: 400000.0 } }) { __typename } } }" }
      |]}) {
      |  id: ID!
      |  name: String! @search(by: [exact])
      |  acctbal: Float @search
      |  mktsegment: String @search(by: [exact])
      |  placed: [Order]
      |}
      |type Order { id: ID! totalprice: Float @search }""".stripMargin)

  private val unionSdl = graft.graphql.SdlParser.parse(
    """union Firm = Customer | Supplier
      |type Customer {
      |  id: ID!
      |  name: String! @search(by: [exact])
      |  mktsegment: String @search(by: [exact])
      |}
      |type Supplier {
      |  id: ID!
      |  name: String! @search(by: [exact])
      |}""".stripMargin)

  private val secretSdl = graft.graphql.SdlParser.parse(
    """type Account @secret(field: "pwd") {
      |  id: ID!
      |  uname: String! @search(by: [exact])
      |}""".stripMargin)

  private val lambdaSdl = graft.graphql.SdlParser.parse(
    """type Customer {
      |  id: ID!
      |  name: String! @search(by: [exact])
      |  acctbal: Float @search
      |  mktsegment: String @search(by: [exact])
      |  bio: String @lambda
      |  solvent: Int @custom(http: {url: "http://svc/rank", method: POST})
      |}""".stripMargin)

  private val lambdaResolvers = Map[String, org.apache.spark.sql.DataFrame =>
      org.apache.spark.sql.Column](
    "Customer.bio" -> (df =>
      concat(df("name"), lit(" ("), df("mktsegment"), lit(")"))),
    "Customer.solvent" -> (df => (df("acctbal") > 0).cast("int")))

  private val customDqlSdl = graft.graphql.SdlParser.parse(
    """type Customer {
      |  id: ID!
      |  name: String! @search(by: [exact])
      |  acctbal: Float @search
      |  mktsegment: String @search(by: [exact])
      |}
      |type Query {
      |  richIn(seg: String, min: Float): [Customer] @custom(dql: "query q($seg: string, $min: float) { richIn(func: eq(mktsegment, $seg)) @filter(ge(acctbal, $min)) { name acctbal } }")
      |}""".stripMargin)

  val queries: Map[String, QFn] = Map(
    // query<T> with eq root-promotion + traversal
    "graphql_query" -> ((s, d) =>
      gql("""query {
            |  queryCustomer(filter: { mktsegment: { eq: "BUILDING" } }) {
            |    name acctbal located_in { name } } }""".stripMargin)(s, d)
        .orderBy(col("uid"))),

    // get<T> by id
    "graphql_get" -> ((s, d) =>
      gql(s"""{ getCustomer(id: "${CB + 42}") { name mktsegment acctbal } }""")(s, d)
        .orderBy(col("uid"))),

    // nested and/or/not/between/anyofterms filter tree
    "graphql_filter_tree" -> ((s, d) =>
      gql("""query {
            |  queryPart(filter: {
            |      and: [ { or: [ { name: { anyofterms: "green small" } },
            |                     { size: { between: { min: 5, max: 7 } } } ] } ],
            |      not: { brand: { eq: "Brand#45" } } }) {
            |    name brand size } }""".stripMargin)(s, d)
        .orderBy(col("uid"))),

    // order: {desc, then: {asc}} + first/offset pagination
    "graphql_order_page" -> ((s, d) =>
      gql("""query {
            |  queryOrder(order: { desc: totalprice, then: { asc: orderdate } },
            |             first: 10, offset: 5) {
            |    orderstatus totalprice } }""".stripMargin)(s, d)
        .orderBy(col("uid"))),

    // aggregate<T> with filter: count + min/max/sum/avg
    "graphql_agg" -> ((s, d) =>
      gql("""query {
            |  aggregateOrder(filter: { orderpriority: { eq: "1-URGENT" } }) {
            |    cnt: count mn: totalpriceMin mx: totalpriceMax
            |    sm: totalpriceSum av: totalpriceAvg } }""".stripMargin)(s, d)),

    // @cascade + child filter/order/first on an edge field
    "graphql_cascade_child" -> ((s, d) =>
      gql("""query {
            |  queryCustomer(filter: { mktsegment: { eq: "MACHINERY" } }) @cascade {
            |    name
            |    placed(filter: { totalprice: { ge: 500000 } },
            |           order: { desc: totalprice }, first: 2) {
            |      totalprice } } }""".stripMargin)(s, d)
        .orderBy(col("uid"), col("placed"))),

    // fulltext search op through the GraphQL filter surface
    "graphql_fulltext" -> ((s, d) =>
      gql("""query {
            |  queryDocument(filter: { text: { alloftext: "filters merges sorting" } }) {
            |    source } }""".stripMargin)(s, d)
        .orderBy(col("uid"))),

    // interface query (reference graphql/schema/gqlschema.go: an
    // interface's query field matches every implementing type) —
    // queryParty returns customers AND suppliers through the inherited
    // name/acctbal/located_in fields
    "graphql_interface" -> ((s, d) =>
      gql("""query {
            |  queryParty(filter: { acctbal: { le: -800.0 } }) {
            |    name acctbal located_in { name } } }""".stripMargin)(s, d)
        .orderBy(col("uid"))),

    // named fragments (reference graphql/schema: fragment spreads
    // expanded before rewrite): same rewrite as writing the fields inline
    "graphql_fragments" -> ((s, d) =>
      gql("""query {
            |  queryCustomer(filter: { mktsegment: { eq: "FURNITURE" } }) {
            |    ...cust located_in { ...nat } } }
            |fragment cust on Customer { name acctbal }
            |fragment nat on Nation { name }""".stripMargin)(s, d)
        .orderBy(col("uid"))),

    // operation variables (reference graphql/resolve: $vars substituted
    // before rewrite): caller values flow into filter + pagination; the
    // unset $lo falls back to its declared default
    "graphql_variables" -> ((s, d) =>
      engine(s, d).flat(
        """query Q($seg: String!, $n: Int!, $lo: Float = 1000.0) {
          |  queryCustomer(filter: { mktsegment: { eq: $seg },
          |                          acctbal: { ge: $lo } },
          |                order: { asc: acctbal }, first: $n) {
          |    name acctbal } }""".stripMargin,
        Map("seg" -> graft.graphql.GStr("MACHINERY"),
            "n" -> graft.graphql.GNum("12")))
        .orderBy(col("uid"))),

    // GraphQL-shaped nested JSON: requested fields only (no uid key),
    // single object for non-list edges, arrays for list edges
    "graphql_json" -> ((s, d) =>
      engine(s, d).json(
        """query {
          |  queryCustomer(filter: { mktsegment: { eq: "BUILDING" } },
          |                order: { asc: name }, first: 10) {
          |    name
          |    located_in { name }
          |    placed(order: { desc: orderdate }, first: 2) { orderstatus }
          |  } }""".stripMargin)
        .orderBy(col("uid"))),

    // add<T>: blank-node inputs → allocated uids + set triples
    // (reference graphql/resolve/mutation_rewriter.go AddRewriter)
    "graphql_add" -> ((s, d) => {
      val ts = TripleStore(s, d)
      val base = ts.attrStringStored.filter(col("predicate").isin("name", "mktsegment"))
      engine(s, d).mutate(
        """mutation { addCustomer(input: [
          |  {name: "Customer#NEW000A", mktsegment: "WEB"},
          |  {name: "Customer#NEW000B", mktsegment: "MOBILE"},
          |  {name: "Customer#NEW000C", mktsegment: "WEB"}]) { name } }""".stripMargin,
        base)
        .filter(col("value").startsWith("Customer#NEW") ||
          col("value").isin("WEB", "MOBILE"))
        .select(col("subject"), col("predicate"), col("value"))
        .orderBy(col("subject"), col("predicate"))
    }),

    // @auth query rules end-to-end (reference graphql/resolve/
    // auth_query_test.yaml): an AND of an RBAC rule (true under the
    // request's claims), a root-filter graph rule ($SEG from the JWT)
    // and a CASCADED-PATH graph rule (constraint in nested selections —
    // rewrites to a @cascade'd var block + uid() conjunct, the
    // reference's var-chain form)
    "graphql_auth" -> ((s, d) =>
      engine(s, d, authSdl).flat(
        "query { queryCustomer { name acctbal } }",
        jwt = Map("ROLE" -> "analyst", "SEG" -> "BUILDING"))
        .orderBy(col("uid"))),

    // union root query: members discriminate via per-node __typename,
    // inline fragments carry member-exclusive fields (reference
    // graphql/schema union support; modeled as a fieldless interface)
    "graphql_union" -> ((s, d) =>
      engine(s, d, unionSdl).flat(
        """query { queryFirm {
          |  __typename
          |  ... on Customer { name mktsegment }
          |  ... on Supplier { name }
          |} }""".stripMargin)
        .orderBy(col("uid"))),

    // @secret + check<T>Password: the two-block checkpwd rewrite
    // (reference graphql/resolve/query_rewriter.go:335) over a
    // password-typed predicate ingested as a bcrypt hash
    "graphql_secret" -> ((s, d) => {
      val c = Q.t(s, d, "customer").filter(col("c_custkey") <= 40)
      def row(pred: String, value: org.apache.spark.sql.Column) = c.select(
        col("c_custkey").cast("long").as("subject"),
        lit(pred).as("predicate"),
        lit(null).cast("long").as("objectUid"),
        value.cast("string").as("value"),
        lit(null).cast("string").as("lang"),
        lit(null).cast("string").as("facets"))
      val triples = row("uname", col("c_name"))
        .unionByName(row("pwd", concat(lit("pw_"), col("c_custkey"))))
        .unionByName(row("dgraph.type", lit("Account")))
      val (preds, types) = graft.core.SchemaRegistry.parseAlter(
        "uname: string @index(exact) .\npwd: password .")
      val st = new graft.core.TripleFrameStore(s,
        new graft.core.SchemaRegistry(preds.map(p => p.name -> p).toMap,
          types.map(t => t.name -> t).toMap), triples, Map.empty,
        materialize = false)
      new GraphQLEngine(st, secretSdl).flat(
        """query { checkAccountPassword(
          |  uname: "Customer#000000012", pwd: "pw_12") { uname } }""".stripMargin)
        .orderBy(col("uid"))
    }),

    // inline fragments on an interface query + @include/@skip on both a
    // field and fragment branches (spec: FragmentSpread/InlineFragment
    // carry Directives); the skipped branch must vanish entirely
    "graphql_inline_frag" -> ((s, d) =>
      gql("""query {
            |  queryParty(filter: { acctbal: { le: -800.0 } }) {
            |    __typename
            |    name
            |    acctbal @include(if: true)
            |    ... on Customer @skip(if: false) { mktsegment }
            |    ... on Customer @skip(if: true) { located_in { name } }
            |  } }""".stripMargin)(s, d)
        .orderBy(col("uid"))),

    // @lambda / @custom computed fields (reference custom_http.go + the
    // lambda server): resolved via registered Column resolvers over the
    // parent row — the Spark-first replacement for the per-parent HTTP
    // round-trip; the oracle recomputes both expressions in SQL
    "graphql_lambda" -> ((s, d) =>
      engine(s, d, lambdaSdl, lambdaResolvers).flat(
        """query { queryCustomer(filter: { mktsegment: { eq: "HOUSEHOLD" } }) {
          |  name acctbal mktsegment bio solvent } }""".stripMargin)
        .orderBy(col("uid"))),

    // @custom(dql:) query field (gqlschema.go:287, query.go:147
    // customDQLQueryResolver): the GraphQL arguments bind as $-vars of
    // the field's raw DQL document, which executes directly on the DQL
    // engine — no generated-query rewrite in between
    "graphql_custom_dql" -> ((s, d) =>
      engine(s, d, customDqlSdl).flat(
        """query { richIn(seg: "HOUSEHOLD", min: 5000.0) { name acctbal } }""")
        .orderBy(col("uid"))),

    // GraphQL introspection (__schema/__type, introspection.go):
    // selection-driven resolution from schema metadata — deterministic
    // for a fixed SDL, so the oracle pins the exact JSON
    "graphql_introspection" -> ((s, d) => {
      engine(s, d).json(
        """query {
          |  __schema { queryType { name } mutationType { name } }
          |  __type(name: "Customer") { name kind
          |    fields { name } interfaces { name } }
          |}""".stripMargin).orderBy(col("block"))
    }),

    // update<T> filter→set rewrite + delete<T> S * * wildcard, applied
    // in document order (UpdateRewriter/DeleteRewriter)
    "graphql_update_delete" -> ((s, d) => {
      val ts = TripleStore(s, d)
      val base = ts.attrStringStored.filter(col("predicate").isin("mktsegment", "source"))
      engine(s, d).mutate(
        """mutation {
          |  updateCustomer(input: {filter: {mktsegment: {eq: "BUILDING"}},
          |                         set: {mktsegment: "CONSTRUCTION"}})
          |  deleteDocument(filter: {source: {eq: "src3"}})
          |}""".stripMargin,
        base)
        .select(col("subject"), col("predicate"), col("value"))
        .orderBy(col("subject"), col("predicate"))
    })
  )

  private val stopsSql =
    graft.functions.TextFunctions.enStops.map(w => s"'$w'").mkString(", ")
  private val docStemsSql =
    s"""list_distinct(list_transform(
       | list_filter(string_split(lower(text), ' '), w -> NOT list_contains([$stopsSql], w)),
       | w -> regexp_replace(w, '(ing|ed|es|e|s)$$', '')))""".stripMargin

  val oracles: Map[String, String] = Map(
    "graphql_query" ->
      s"""SELECT $CB + c_custkey AS uid, c_name AS name, c_acctbal AS acctbal,
         | $NB + c_nationkey AS located_in, n_name AS located_in_name
         |FROM customer JOIN nation ON n_nationkey = c_nationkey
         |WHERE c_mktsegment = 'BUILDING' ORDER BY uid""".stripMargin,

    "graphql_get" ->
      s"""SELECT $CB + c_custkey AS uid, c_name AS name,
         | c_mktsegment AS mktsegment, c_acctbal AS acctbal
         |FROM customer WHERE c_custkey = 42""".stripMargin,

    "graphql_filter_tree" ->
      s"""SELECT $PB + p_partkey AS uid, p_name AS name, p_brand AS brand,
         | CAST(p_size AS BIGINT) AS size
         |FROM part
         |WHERE (list_has_any(string_split(lower(p_name), ' '), ['green','small'])
         |       OR p_size BETWEEN 5 AND 7)
         |  AND NOT p_brand = 'Brand#45'
         |ORDER BY uid""".stripMargin,

    "graphql_order_page" ->
      s"""SELECT uid, orderstatus, totalprice FROM (
         | SELECT $OB + o_orderkey AS uid, o_orderstatus AS orderstatus,
         |  o_totalprice AS totalprice,
         |  ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderdate ASC,
         |    $OB + o_orderkey ASC) AS rn
         | FROM orders)
         |WHERE rn > 5 AND rn <= 15 ORDER BY uid""".stripMargin,

    "graphql_agg" ->
      s"""SELECT COUNT(*) AS cnt, MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx,
         | ${Q.sqlDsum("o_totalprice")} AS sm, ${Q.sqlDavg("o_totalprice")} AS av
         |FROM orders WHERE o_orderpriority = '1-URGENT'""".stripMargin,

    "graphql_cascade_child" ->
      s"""SELECT uid, name, placed, placed_totalprice FROM (
         | SELECT $CB + o_custkey AS uid, c_name AS name,
         |  $OB + o_orderkey AS placed, o_totalprice AS placed_totalprice,
         |  ROW_NUMBER() OVER (PARTITION BY o_custkey
         |    ORDER BY o_totalprice DESC, $OB + o_orderkey ASC) AS rn
         | FROM orders JOIN customer ON c_custkey = o_custkey
         | WHERE c_mktsegment = 'MACHINERY' AND o_totalprice >= 500000)
         |WHERE rn <= 2 ORDER BY uid, placed""".stripMargin,

    "graphql_fulltext" ->
      s"""SELECT $DB + doc_id AS uid, source FROM documents
         |WHERE list_has_all($docStemsSql,
         | ['filter', 'merg', 'sort'])
         |ORDER BY uid""".stripMargin,

    "graphql_interface" ->
      s"""SELECT uid, name, acctbal, located_in, located_in_name FROM (
         | SELECT $CB + c_custkey AS uid, c_name AS name,
         |  c_acctbal AS acctbal, ${Uids.Nation} + c_nationkey AS located_in,
         |  n_name AS located_in_name
         | FROM customer JOIN nation ON n_nationkey = c_nationkey
         | WHERE c_acctbal <= -800.0
         | UNION ALL
         | SELECT ${Uids.Supplier} + s_suppkey, s_name, s_acctbal,
         |  ${Uids.Nation} + s_nationkey, n_name
         | FROM supplier JOIN nation ON n_nationkey = s_nationkey
         | WHERE s_acctbal <= -800.0)
         |ORDER BY uid""".stripMargin,

    "graphql_fragments" ->
      s"""SELECT $CB + c_custkey AS uid, c_name AS name, c_acctbal AS acctbal,
         | $NB + c_nationkey AS located_in, n_name AS located_in_name
         |FROM customer JOIN nation ON n_nationkey = c_nationkey
         |WHERE c_mktsegment = 'FURNITURE' ORDER BY uid""".stripMargin,

    "graphql_variables" ->
      s"""SELECT uid, name, acctbal FROM (
         | SELECT $CB + c_custkey AS uid, c_name AS name,
         |  c_acctbal AS acctbal,
         |  ROW_NUMBER() OVER (ORDER BY c_acctbal ASC, $CB + c_custkey ASC) AS rn
         | FROM customer
         | WHERE c_mktsegment = 'MACHINERY' AND c_acctbal >= 1000.0)
         |WHERE rn <= 12 ORDER BY uid""".stripMargin,

    "graphql_json" ->
      s"""WITH base AS (
         | SELECT uid, name FROM (
         |  SELECT $CB + c_custkey AS uid, c_name AS name,
         |   ROW_NUMBER() OVER (ORDER BY c_name ASC, $CB + c_custkey ASC) AS rn
         |  FROM customer WHERE c_mktsegment = 'BUILDING')
         | WHERE rn <= 10),
         |ln AS (
         | SELECT $CB + c_custkey AS uid, n_name
         | FROM customer JOIN nation ON n_nationkey = c_nationkey),
         |kid AS (
         | SELECT $CB + o_custkey AS uid,
         |  '{"orderstatus":' || to_json(o_orderstatus) || '}' AS obj,
         |  ROW_NUMBER() OVER (PARTITION BY o_custkey
         |   ORDER BY o_orderdate DESC, $OB + o_orderkey ASC) AS rn
         | FROM orders),
         |karr AS (SELECT uid, string_agg(obj, ',' ORDER BY rn) AS arr
         | FROM kid WHERE rn <= 2 GROUP BY uid)
         |SELECT 'queryCustomer' AS block, b.uid,
         | '{"name":' || to_json(b.name) ||
         | ',"located_in":{"name":' || to_json(ln.n_name) || '}' ||
         | COALESCE(',"placed":[' || karr.arr || ']', '') || '}' AS json
         |FROM base b JOIN ln ON ln.uid = b.uid LEFT JOIN karr ON karr.uid = b.uid
         |ORDER BY b.uid""".stripMargin,

    "graphql_add" ->
      s"""WITH m AS (SELECT 9000000000000 + MAX(vec_id) AS mx FROM embeddings)
         |SELECT subject, predicate, value FROM (
         | SELECT mx + 1 AS subject, 'name' AS predicate,
         |  'Customer#NEW000A' AS value FROM m
         | UNION ALL SELECT mx + 1, 'mktsegment', 'WEB' FROM m
         | UNION ALL SELECT mx + 2, 'name', 'Customer#NEW000B' FROM m
         | UNION ALL SELECT mx + 2, 'mktsegment', 'MOBILE' FROM m
         | UNION ALL SELECT mx + 3, 'name', 'Customer#NEW000C' FROM m
         | UNION ALL SELECT mx + 3, 'mktsegment', 'WEB' FROM m
         |) ORDER BY subject, predicate""".stripMargin,

    "graphql_auth" ->
      s"""SELECT $CB + c_custkey AS uid, c_name AS name, c_acctbal AS acctbal
         |FROM customer
         |WHERE c_mktsegment = 'BUILDING'
         |  AND EXISTS (SELECT 1 FROM orders
         |              WHERE o_custkey = c_custkey AND o_totalprice >= 400000.0)
         |ORDER BY uid""".stripMargin,

    "graphql_union" ->
      s"""SELECT uid, tn AS "__typename", name, mktsegment FROM (
         | SELECT $CB + c_custkey AS uid, 'Customer' AS tn, c_name AS name,
         |  c_mktsegment AS mktsegment FROM customer
         | UNION ALL
         | SELECT ${Uids.Supplier} + s_suppkey, 'Supplier', s_name,
         |  CAST(NULL AS VARCHAR) FROM supplier)
         |ORDER BY uid""".stripMargin,

    "graphql_secret" ->
      s"""SELECT c_custkey AS uid, c_name AS uname FROM customer
         |WHERE c_custkey = 12""".stripMargin,

    "graphql_inline_frag" ->
      s"""SELECT uid, tn AS "__typename", name, acctbal, mktsegment FROM (
         | SELECT $CB + c_custkey AS uid, 'Customer' AS tn, c_name AS name,
         |  c_acctbal AS acctbal, c_mktsegment AS mktsegment
         | FROM customer WHERE c_acctbal <= -800.0
         | UNION ALL
         | SELECT ${Uids.Supplier} + s_suppkey, 'Supplier', s_name, s_acctbal,
         |  CAST(NULL AS VARCHAR)
         | FROM supplier WHERE s_acctbal <= -800.0)
         |ORDER BY uid""".stripMargin,

    "graphql_lambda" ->
      s"""SELECT $CB + c_custkey AS uid, c_name AS name, c_acctbal AS acctbal,
         | c_mktsegment AS mktsegment,
         | c_name || ' (' || c_mktsegment || ')' AS bio,
         | CAST(c_acctbal > 0 AS INT) AS solvent
         |FROM customer WHERE c_mktsegment = 'HOUSEHOLD'
         |ORDER BY uid""".stripMargin,

    // introspection output is pure schema metadata — deterministic for
    // the fixed tpch SDL, so the oracle pins the exact JSON values
    "graphql_introspection" ->
      """SELECT * FROM (VALUES
        | ('__schema', CAST(NULL AS BIGINT),
        |  '{"queryType":{"name":"Query"},"mutationType":{"name":"Mutation"}}'),
        | ('__type', CAST(NULL AS BIGINT),
        |  '{"name":"Customer","kind":"OBJECT","fields":[{"name":"id"},{"name":"acctbal"},{"name":"located_in"},{"name":"name"},{"name":"mktsegment"},{"name":"placed"}],"interfaces":[{"name":"Party"}]}')
        |) AS t(block, uid, json) ORDER BY block""".stripMargin,

    "graphql_custom_dql" ->
      s"""SELECT $CB + c_custkey AS uid, c_name AS name,
         | c_acctbal AS acctbal
         |FROM customer
         |WHERE c_mktsegment = 'HOUSEHOLD' AND c_acctbal >= 5000.0
         |ORDER BY uid""".stripMargin,

    "graphql_update_delete" ->
      s"""SELECT subject, predicate, value FROM (
         | SELECT $CB + c_custkey AS subject, 'mktsegment' AS predicate,
         |  CASE WHEN c_mktsegment = 'BUILDING' THEN 'CONSTRUCTION'
         |       ELSE c_mktsegment END AS value
         | FROM customer
         | UNION ALL
         | SELECT $DB + doc_id, 'source', source FROM documents
         | WHERE source <> 'src3'
         |) ORDER BY subject, predicate""".stripMargin
  )
}
