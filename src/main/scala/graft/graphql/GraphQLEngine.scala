package graft.graphql

import org.apache.spark.sql.DataFrame

import graft.core.GraphStore
import graft.exec.DqlExecutor

/** The GraphQL entry point: parse → rewrite to DQL IR → execute on the
  * DataFrame engine. Matches the reference's architecture, where GraphQL
  * is a pure front-end over the DQL execution path
  * (/root/reference/edgraph/server.go:1330 QueryGraphQL feeds the same
  * pipeline as Query; SURVEY.md §3.2).
  */
final class GraphQLEngine(ts: GraphStore, schema: GqlSchema = SdlParser.tpch,
    resolvers: Map[String, DataFrame => org.apache.spark.sql.Column] = Map.empty,
    lambdaUrl: Option[String] = sys.env.get("GRAFT_LAMBDA_URL")) {

  /** Run a GraphQL operation, returning the flat (normalized) DataFrame
    * of the last root field. Top-level `@lambda` / `@custom` fields
    * resolve through `resolvers` (see [[flatComputed]]).
    */
  def flat(query: String,
      variables: Map[String, GVal] = Map.empty,
      jwt: Map[String, String] = Map.empty): DataFrame = {
    val op = GqlParser.parse(query, variables)
    schema.customDql.get(op.roots.last.name) match {
      case Some(cd) =>
        // a @custom(dql:) root executes its DQL document directly
        new DqlExecutor(ts).flatAst(customAst(cd, op.roots.last))
      case None =>
        val (stripped, computed) = splitComputed(op)
        val df = new DqlExecutor(ts).flatAst(
          Rewriter.rewrite(stripped, schema, jwt))
        flatComputed(df, computed)
    }
  }

  /** Parse a `@custom(dql:)` field's DQL document with the GraphQL
    * arguments bound as `$`-prefixed DQL query variables — the
    * reference's customDQLQueryResolver contract
    * (graphql/resolve/query.go:195: every argument is stringified via
    * convertScalarToString into Request.Vars). Like the reference,
    * custom DQL bypasses the @auth rewrite — the document is trusted
    * as written in the schema.
    */
  private def customAst(cd: CustomDql,
      root: GqlSelection): graft.dql.DqlQuery = {
    val vars = cd.args.flatMap { a =>
      root.arg(a).map {
        case GStr(s) => "$" + a -> s
        case GNum(s) => "$" + a -> s
        case GBool(b) => "$" + a -> b.toString
        case GEnum(e) => "$" + a -> e
        case other => throw new Rewriter.RewriteException(
          s"@custom(dql:) argument $a must be a scalar, got $other")
      }
    }.toMap
    graft.dql.Parser.parseWithVars(cd.dql, vars)
  }

  private val ComputedRootT = "(?:query|get)([A-Z]\\w*)".r

  /** Split the operation's top-level `@lambda`/`@custom` fields out of
    * the fetch: they are COMPUTED, not stored predicates (reference
    * graphql/resolve/custom logic + the lambda server,
    * graphql/schema/custom_http.go). The Spark-first resolution replaces
    * the reference's per-parent HTTP round-trip with a registered Column
    * expression over the parent row — distributed and codegen'd, with
    * the whole parent visible to the resolver like the reference sends
    * the whole parent to the lambda. The HTTP transport of @custom is
    * deployment plumbing: a deployment registers a resolver that calls
    * its service; an unregistered computed field is a loud error, never
    * a silent null.
    */
  private def splitComputed(
      op: GqlOperation): (GqlOperation, Seq[(String, GqlSelection)]) = {
    val computed = Seq.newBuilder[(String, GqlSelection)]
    val roots = op.roots.map { r =>
      r.name match {
        case ComputedRootT(tn) if schema.types.contains(tn) =>
          val t = schema.typ(tn)
          val (comp, stored) = r.children.partition(c =>
            t.field(c.name).exists(f => f.isLambda || f.customHttp.isDefined))
          comp.foreach(c => computed += ((tn, c)))
          r.copy(children = stored)
        case _ => r
      }
    }
    (op.copy(roots = roots), computed.result())
  }

  private def flatComputed(df: DataFrame,
      computed: Seq[(String, GqlSelection)]): DataFrame =
    computed.foldLeft(df) { case (acc, (tn, sel)) =>
      val key = s"$tn.${sel.name}"
      resolvers.get(key) match {
        // a registered in-process resolver always wins (deployment override)
        case Some(fn) => acc.withColumn(sel.outName, fn(acc))
        case None =>
          val fld = schema.typ(tn).field(sel.name)
          fld.flatMap(_.customHttp) match {
            // an unoverridden @custom(http:) EXECUTES — requests issue
            // from the executors, SINGLE or BATCH per the directive
            case Some(raw) => CustomHttp.resolve(acc, sel.outName,
              fld.get.typeName, CustomHttp.parse(raw))
            // a bare @lambda with a configured lambda server dispatches
            // exactly like the reference: @lambda rewrites to
            // @custom(http: {url: lambdaUrl, method: POST, mode: BATCH})
            // (wrappers.go:893) with the lambda envelope body — the JS
            // runs in the user's dgraph-lambda sidecar
            case None if fld.exists(_.isLambda) && lambdaUrl.isDefined =>
              CustomHttp.resolve(acc, sel.outName, fld.get.typeName,
                CustomHttp.HttpSpec(lambdaUrl.get, "POST", None, "BATCH",
                  lambdaResolver = Some(key)))
            case None => throw new Rewriter.RewriteException(
              s"$key is a computed (@lambda/@custom) field and no resolver " +
                "is registered for it — pass one in GraphQLEngine(resolvers) " +
                "or configure the lambda server url (GraphQLEngine(" +
                "lambdaUrl) / GRAFT_LAMBDA_URL)")
          }
      }
    }

  /** The DQL IR a query rewrites to (exposed for tests/EXPLAIN).
    * `variables` carries the operation's `$var` values (reference
    * graphql/resolve substitutes them before rewriting).
    */
  def rewrite(query: String,
      variables: Map[String, GVal] = Map.empty,
      jwt: Map[String, String] = Map.empty): graft.dql.DqlQuery =
    Rewriter.rewrite(GqlParser.parse(query, variables), schema, jwt)

  /** Apply a mutation document (add/update/delete roots, in order) to a
    * base triple frame; returns the post-mutation frame. Types marked
    * `@lambdaOnMutate` fire a webhook to the configured lambda server
    * after their roots apply (reference resolve/webhook.go
    * sendWebhookEvent — fire-and-forget, no delivery guarantee).
    */
  def mutate(doc: String, base: DataFrame,
      jwt: Map[String, String] = Map.empty): DataFrame =
    new MutationRewriter(ts, schema, jwt,
      onMutate = lambdaUrl.map(webhookSender)).apply(doc, base)

  /** The reference's webhook payload to the lambda server: resolver is
    * the literal "$webhook", event carries __typename/operation/
    * commitTs plus the op-shaped body (add: rootUIDs + input; update:
    * rootUIDs + setPatch/removePatch; delete: rootUIDs).
    */
  private def webhookSender(url: String)
      : MutationRewriter.MutateEvent => Unit = { ev =>
    def js(v: GVal): String = v match {
      case GStr(s) =>
        new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(s)
      case GNum(s) => s
      case GBool(b) => b.toString
      case graft.graphql.GEnum(n) => "\"" + n + "\""
      case GList(items) => items.map(js).mkString("[", ",", "]")
      case o: GObj => o.fields.map { case (k, fv) =>
        "\"" + k + "\":" + js(fv)
      }.mkString("{", ",", "}")
      case _ => "null"
    }
    val roots = ev.rootUids.map("\"" + _ + "\"").mkString("[", ",", "]")
    val opBody = ev.op match {
      case "add" =>
        val input = ev.root.arg("input").map {
          case l: GList => js(l)
          case one => "[" + js(one) + "]"
        }.getOrElse("[]")
        s""","add":{"rootUIDs":$roots,"input":$input}"""
      case "update" =>
        val set = ev.root.arg("input").flatMap {
          case o: GObj => o.get("set").map(js)
          case _ => None
        }.getOrElse("null")
        val remove = ev.root.arg("input").flatMap {
          case o: GObj => o.get("remove").map(js)
          case _ => None
        }.getOrElse("null")
        s""","update":{"rootUIDs":$roots,"setPatch":$set,"removePatch":$remove}"""
      case _ => s""","delete":{"rootUIDs":$roots}"""
    }
    val payload =
      s"""{"resolver":"$$webhook","event":{"__typename":"${ev.typename}",""" +
        s""""operation":"${ev.op}","commitTs":0$opBody}}"""
    // fire-and-forget like the reference ("no guarantee that the payload
    // will be delivered"): sendAsync — the mutation NEVER blocks on the
    // lambda server, and bounded timeouts mean a hung (not just dead)
    // server can't pin resources either
    try {
      val req = java.net.http.HttpRequest
        .newBuilder(java.net.URI.create(url))
        .timeout(java.time.Duration.ofSeconds(10))
        .header("Content-Type", "application/json")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(payload))
        .build()
      GraphQLEngine.webhookClient.sendAsync(req,
          java.net.http.HttpResponse.BodyHandlers.discarding())
        .exceptionally(_ => null)
      ()
    } catch { case _: Exception => () }
  }

  private[graphql] def session: org.apache.spark.sql.SparkSession = ts.spark

  /** Name of the header the SDL's `# Dgraph.Authorization` reads @auth
    * tokens from (transport layers look the token up by this name).
    */
  private[graft] def authHeaderName: Option[String] =
    schema.authConfig.map(_.header).filter(_.nonEmpty)

  /** Claims for a RAW JWT per the schema's `# Dgraph.Authorization`
    * config: SIGNATURE-VERIFIED (HS256/RS256 + exp) when a verification
    * key is configured; decode-only otherwise — the documented
    * trusted-gateway fallback.
    */
  def claimsFor(token: String): Map[String, String] =
    schema.authConfig match {
      case Some(c) if c.verificationKey.nonEmpty =>
        Auth.verifiedClaims(token, c.key)
      case _ => Auth.claimsFromJwt(token)
    }

  /** Open a poll-based subscription (reference graphql/subscription/):
    * validates the `subscription { ... }` document against the schema's
    * @withSubscription types; the returned handle re-executes on
    * [[Subscription.poll]] and emits only when the result changed.
    */
  def subscribe(doc: String,
      variables: Map[String, GVal] = Map.empty,
      jwt: Map[String, String] = Map.empty): Subscription =
    Subscription.open(schema, doc, variables, jwt)

  /** GraphQL-shaped nested JSON: one row per root object (block, uid,
    * json) with only the requested fields — no implicit uid key, single
    * objects for non-list edges, arrays for list edges (reference
    * graphql/resolve completion of the DQL result).
    */
  def json(query: String,
      variables: Map[String, GVal] = Map.empty,
      jwt: Map[String, String] = Map.empty): DataFrame = {
    val op = GqlParser.parse(query, variables)
    if (Introspection.applies(op)) {
      // __schema/__type answer from schema metadata alone (reference
      // resolveIntrospection) — one (block, uid, json) row per root
      val session = ts.spark; import session.implicits._
      return Introspection.resolveRoots(schema, op)
        .map { case (k, v) => (k, null.asInstanceOf[java.lang.Long], v) }
        .toDF("block", "uid", "json")
    }
    val (custom, regular) = op.roots.partition(r =>
      schema.customDql.contains(r.name))
    val frames =
      (if (regular.isEmpty) Nil
       else Seq(new DqlExecutor(ts).jsonAllAst(
         Rewriter.rewrite(op.copy(roots = regular), schema, jwt),
         includeUid = false))) ++
      custom.map(r => new DqlExecutor(ts).jsonAllAst(
        customAst(schema.customDql(r.name), r), includeUid = false))
    frames.reduce(_ unionByName _)
  }

  /** GraphQL error propagation (reference graphql/resolve/resolver.go
    * ErrorResponse): parse/rewrite/validation failures come back as the
    * standard `{"errors":[{"message": …}]}` envelope in the same
    * (block, uid, json) frame shape instead of a thrown exception.
    */
  def response(query: String): DataFrame =
    try json(query)
    catch {
      case e @ (_: GqlParser.ParseException | _: Rewriter.RewriteException |
          _: IllegalArgumentException) =>
        val session = ts.spark; import session.implicits._
        val msg = Option(e.getMessage).getOrElse(e.getClass.getSimpleName)
          .flatMap {
            case '"' => "\\\""
            case '\\' => "\\\\"
            case '\n' => "\\n"
            case c if c < ' ' => f"\\u${c.toInt}%04x"
            case c => c.toString
          }
        Seq(("errors", 0L, s"""{"errors":[{"message":"$msg"}]}"""))
          .toDF("block", "uid", "json")
    }
}

object GraphQLEngine {
  /** Shared webhook client: connect timeout bounded so a hung lambda
    * server can't accumulate stuck connections (one client per JVM —
    * the JDK client pools internally). */
  private[graphql] lazy val webhookClient: java.net.http.HttpClient =
    java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofSeconds(5))
      .build()
}
