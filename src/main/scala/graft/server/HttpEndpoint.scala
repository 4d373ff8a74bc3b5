package graft.server

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{Acl, GraphStore, SchemaRegistry, TripleFrameStore, Uids}
import graft.dql.Parser
import graft.exec.DqlExecutor
import graft.graphql.{GqlSchema, GqlParser, GVal, GStr, GNum, GBool, GList, GObj, GraphQLEngine, SdlParser}
import graft.operators.Mutations
import graft.sources.RdfSource

/** The reference's HTTP front door re-expressed over the Spark engine
  * (dgraph/cmd/alpha/run.go:484-535 route table):
  *
  *   POST /query   DQL — raw text, or JSON `{"query":…,"variables":…}`
  *   POST /mutate  `{ set { <N-Quads> } delete { <N-Quads> } }` or the
  *                 JSON mutation form `{"set":[{…}],"delete":[…]}`.
  *                 `?commitNow=false` queues into a txn and returns its
  *                 `start_ts`; `?startTs=N` appends to that txn.
  *   POST /commit  `?startTs=N` applies the queued batch atomically;
  *                 `&abort=true` discards it (reference run.go:484-549
  *                 commit handler). Single-writer engine: the keys/preds
  *                 conflict lists in the body are accepted and ignored,
  *                 and queries always read the last committed frame.
  *   POST /alter   DQL schema payload (predicates + types)
  *   POST /graphql JSON `{"query":…,"variables":…}`
  *   POST /admin/schema  replace the GraphQL SDL
  *   POST /login   `{"userid":…,"password":…}` → accessJWT (when ACL on)
  *   GET  /health
  *
  * Responses use the reference's `{"data": …}` envelope; errors the
  * `{"errors":[{"message":…}]}` one. `X-Dgraph-AccessToken` gates reads
  * (unauthorized predicates resolve empty via [[Acl.storeFor]]) and
  * writes ([[Acl.authorizeMutation]] errors with the blocked list).
  *
  * Built on the JDK's own `com.sun.net.httpserver` — zero dependencies,
  * which is the point: gRPC needs a protobuf toolchain this build
  * excludes (SURVEY §2.1 keeps it out of scope; this endpoint closes
  * the HTTP half). Serving model: the endpoint is the INTERACTIVE front
  * door — each response is a driver-side collect of an engine frame,
  * inherently bounded by HTTP response size. Batch-scale work goes
  * through the library API; at 100 TB this server fronts the same
  * engine and the queries it proxies keep their distributed plans.
  *
  * Mutations swap an immutable current-triples frame (localCheckpoint'd
  * so each swap materializes once), mirroring how the engine's mutation
  * operators are pure frame transforms.
  */
final class HttpEndpoint(
    spark: SparkSession,
    schema0: SchemaRegistry,
    triples0: DataFrame,
    gqlSchema0: GqlSchema = SdlParser.tpch,
    acl: Option[Acl] = None,
    facetKeys: Map[String, Seq[(String, String)]] = Map.empty,
    audit: Option[AuditLog] = None,
    tls: Option[Tls.Config] = None) {

  private val M = new ObjectMapper()

  /** Scrapeable metrics shared by every front of this server (the gRPC
    * endpoint records into the same registry). Served at
    * `/debug/prometheus_metrics` like the reference alpha.
    */
  val metrics: Metrics = new Metrics()
  metrics.describe("graft_http_requests_total",
    "HTTP requests by path and outcome")
  metrics.describe("graft_request_seconds_total",
    "Cumulative handler wall time by path")
  metrics.describe("graft_grpc_requests_total",
    "gRPC calls by method and grpc-status")
  metrics.describe("graft_txns_total", "Transactions by outcome")
  metrics.describe("graft_open_txns", "Currently open transactions")

  @volatile private var schema = schema0
  @volatile private var triples = triples0.localCheckpoint()
  @volatile private var gqlSchema = gqlSchema0
  @volatile private var sdlText = "" // raw SDL for getGQLSchema
  @volatile private var server: HttpServer = _
  private val writeLock = new Object
  // open transactions (reference api.TxnContext): startTs → queued
  // (set, delete) line batches, applied atomically by /commit. The
  // engine is single-writer over an immutable frame, so a txn is a
  // deferred batch — no conflict detection (keys/preds in the /commit
  // body are accepted and ignored), single-snapshot semantics: queries
  // always read the last COMMITTED frame.
  //
  // A txn is BOUND to the access token that opened it and to a ts this
  // server issued: startTs values are handed out by txnSeq exactly as
  // the reference's are by Zero (a client can't fabricate one), appends
  // and commits from a different token are rejected, and idle txns
  // expire so abandoned handles can't accumulate unbounded driver state.
  private val txnSeq = new java.util.concurrent.atomic.AtomicLong(0)
  private case class OpenTxn(owner: Option[String], touchedMs: Long,
      batches: Vector[(Seq[(String, String)], Seq[(String, String)])])
  private val txns = scala.collection.concurrent.TrieMap.empty[Long, OpenTxn]
  metrics.gauge("graft_open_txns", () => txns.size.toLong)
  // var so specs can force immediate expiry; production default 10 min
  private[graft] var txnMaxIdleMs: Long =
    sys.env.getOrElse("GRAFT_TXN_IDLE_MS", "600000").toLong

  /** Drop txns idle past the deadline — called on every txn touch, so
    * the map stays bounded without a background thread. */
  private def sweepTxns(): Unit = {
    val cutoff = System.currentTimeMillis() - txnMaxIdleMs
    txns.filterInPlace((_, t) => t.touchedMs >= cutoff)
  }

  /** A txn handle is usable only by the IDENTITY that opened it (the
    * reference scopes txns to the logged-in namespace/user, not the
    * token bytes — dgo auto-refreshes the access JWT mid-txn on expiry,
    * and a re-login must still be able to commit its own txn). With ACL
    * on, the token resolves to userid@namespace; with ACL off there is
    * no identity and the raw token (usually None) is the best available
    * key. Aborted-style message so client retry loops treat a stolen/
    * stale handle like a conflict, not a success. */
  private def txnIdentity(tok: Option[String]): Option[String] =
    acl match {
      case Some(a) => tok.map { t =>
        try {
          val c = a.claims(t)
          c.getOrElse("userid", "?") + "@" + c.getOrElse("namespace", "0")
        } catch { case _: Throwable => t } // unverifiable token: raw bytes
      }
      case None => tok
    }

  private def requireTxnOwner(ts: Long, t: OpenTxn, tok: Option[String]): Unit =
    if (t.owner != txnIdentity(tok))
      throw new HttpEndpoint.TxnRetryException(
        s"Transaction $ts has been aborted. Please retry")

  // cluster draining mode (reference x/health.go drainingMode + the
  // /admin draining mutation): while ON, client requests are refused
  // with the reference's error; /admin, /health and /login stay served
  // so an operator can exit the mode.
  @volatile private[server] var drainingMode = false
  private[server] def requireServing(): Unit =
    if (drainingMode) throw new IllegalStateException(
      "the server is in draining mode and client requests will only be " +
        "allowed after exiting the mode  by sending a GraphQL " +
        "draining(enable: false) mutation to /admin")

  // ---- multi-tenancy (reference graphql/admin/namespace.go): each
  // namespace serves its OWN triples frame; namespace 0 (the default)
  // lives in `triples`, tenants in this map. The predicate schema is
  // shared across tenants (documented simplification — the reference
  // keys schema per namespace; one registry covers the engine's
  // single-schema serving model).
  private val tenants =
    scala.collection.concurrent.TrieMap.empty[Long, DataFrame]
  private val nsSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Namespace of the request: the token's verified `namespace` claim
    * (0 with ACL off or for tokenless internal callers).
    */
  private[server] def nsOf(tok: Option[String]): Long =
    (for { a <- acl; t <- tok } yield
      try a.claims(t).getOrElse("namespace", "0").toLong
      catch { case _: Throwable => 0L }).getOrElse(0L)

  private def triplesNs(ns: Long): DataFrame =
    if (ns == 0L) triples
    else tenants.getOrElse(ns, throw new IllegalArgumentException(
      s"namespace $ns does not exist"))
  private def setTriplesNs(ns: Long, df: DataFrame): Unit =
    if (ns == 0L) triples = df else { tenants.put(ns, df); () }

  private def store: GraphStore = storeNs(0L)
  private def storeNs(ns: Long): GraphStore =
    new TripleFrameStore(spark, schema, triplesNs(ns), facetKeys,
      materialize = false)

  /** Store view for the request's access token: ACL off → full store;
    * ACL on → the token's NAMESPACE frame with unauthorized predicates
    * resolving empty (worker/acl.go). Transport-independent — the gRPC
    * front door shares it.
    */
  private[server] def storeForToken(tok: Option[String]): GraphStore =
    acl match {
      case None => store
      case Some(a) =>
        tok match {
          case Some(t) => a.storeFor(storeNs(nsOf(tok)), t)
          case None => throw Acl.AclException("no accessJwt available")
        }
    }

  private def storeFor(ex: HttpExchange): GraphStore =
    storeForToken(accessToken(ex))

  private[server] def aclOpt: Option[Acl] = acl

  private def accessToken(ex: HttpExchange): Option[String] =
    Option(ex.getRequestHeaders.getFirst("X-Dgraph-AccessToken"))

  /** Guardian gate for the admin surface — no-op with ACL off; with ACL
    * on, requires a valid access JWT whose bearer is in the guardians
    * group (reference edgraph/server.go AlterAllowed).
    */
  private[server] def requireGuardianToken(tok: Option[String],
      op: String): Unit =
    acl.foreach { a =>
      val t = tok.getOrElse(throw Acl.AclException("no accessJwt available"))
      a.requireGuardian(t, op)
    }

  private def requireGuardian(ex: HttpExchange, op: String): Unit =
    requireGuardianToken(accessToken(ex), op)

  /** Namespace administration, whole-store export/backup/restore, and
    * server lifecycle (draining/shutdown/drop-all) require a guardian
    * OF THE GALAXY — a guardian of the default namespace 0 (reference
    * edgraph/server.go "Only guardian of galaxy is allowed to do this
    * operation"). A tenant guardian reaching these would break
    * isolation: every one of them reads or mutates namespace-0 (or
    * all-tenant) state.
    */
  private[server] def requireGalaxyGuardianToken(tok: Option[String],
      op: String): Unit = {
    requireGuardianToken(tok, op)
    if (acl.nonEmpty && nsOf(tok) != 0L) throw Acl.AclException(
      s"unauthorized to $op. Only guardian of galaxy is allowed to do " +
        "this operation.")
  }

  private def requireGalaxyGuardian(ex: HttpExchange, op: String): Unit =
    requireGalaxyGuardianToken(accessToken(ex), op)

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&")
      .filter(_.contains("=")).map { kv =>
        val i = kv.indexOf('=')
        java.net.URLDecoder.decode(kv.substring(0, i), "UTF-8") ->
          java.net.URLDecoder.decode(kv.substring(i + 1), "UTF-8")
      }.toMap

  def start(port: Int = 0): Int = {
    // TLS termination at the front door (reference x/tls_helper.go:44):
    // same route table, HTTPS transport; client-cert verification when
    // a CA is configured (REQUIREANDVERIFY)
    server = tls match {
      case Some(cfg) =>
        val https = com.sun.net.httpserver.HttpsServer
          .create(new InetSocketAddress(port), 0)
        val ctx = Tls.sslContext(cfg)
        https.setHttpsConfigurator(
          new com.sun.net.httpserver.HttpsConfigurator(ctx) {
            override def configure(
                p: com.sun.net.httpserver.HttpsParameters): Unit = {
              val ssl = ctx.getDefaultSSLParameters
              ssl.setNeedClientAuth(cfg.needClientAuth)
              p.setSSLParameters(ssl)
            }
          })
        https
      case None => HttpServer.create(new InetSocketAddress(port), 0)
    }
    server.createContext("/health", handler { _ =>
      """[{"status":"healthy","instance":"alpha"}]"""
    })
    // Prometheus text exposition (reference x/metrics.go:467; the alpha
    // serves it at this path). Plain text, not the JSON envelope; open
    // like /health — series names and label values carry no user data.
    server.createContext("/debug/prometheus_metrics", { ex =>
      val bytes = metrics.render.getBytes(UTF_8)
      ex.getResponseHeaders.set("Content-Type",
        "text/plain; version=0.0.4; charset=utf-8")
      ex.sendResponseHeaders(200, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    })
    // GET /state (reference run.go:354 stateHandler → pb.MembershipState
    // JSON): the single-alpha engine reports one group whose tablets are
    // the schema's predicates — what ratel and admin tooling read to map
    // predicate → group. Guardian-gated like the reference's State.
    server.createContext("/state", handler { ex =>
      requireGuardian(ex, "state")
      val tablets = schema.predicates.keys.toSeq.sorted.map { p =>
        s"${M.writeValueAsString(p)}:{\"groupId\":1," +
          s"\"predicate\":${M.writeValueAsString(p)}}"
      }.mkString(",")
      // one read: counter and maxTxnTs must agree within a response
      val ts = txnSeq.get
      s"""{"counter":"$ts","groups":{"1":{"members":{"1":""" +
        s"""{"id":"1","groupId":1,"addr":"localhost","leader":true,""" +
        s""""amDead":false}},"tablets":{$tablets}}},""" +
        s""""zeros":{"1":{"id":"1","addr":"localhost","leader":true}},""" +
        s""""maxTxnTs":"$ts","cid":"graft-spark"}"""
    })
    server.createContext("/query", handler { ex =>
      requireServing()
      val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      val (q, vars) = contentType(ex) match {
        case ct if ct.contains("application/json") =>
          val n = M.readTree(body)
          (n.get("query").asText, jsonVars(n.get("variables")))
        case _ => (body, Map.empty[String, String])
      }
      s"""{"data":${queryData(q, vars, accessToken(ex))}}"""
    })
    server.createContext("/mutate", handler { ex =>
      requireServing()
      val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      val (sets, dels) =
        if (contentType(ex).contains("application/json"))
          jsonMutation(body)
        else rdfMutation(body)
      val params = queryParams(ex)
      val startTs = params.get("startTs").map(_.toLong)
      val commitNow = !params.get("commitNow").contains("false")
      mutateParsed(sets, dels, commitNow, startTs, accessToken(ex)) match {
        case Some(ts) => // queued into an open txn
          s"""{"data":{"code":"Success","message":"Done"},""" +
            s""""extensions":{"txn":{"start_ts":$ts}}}"""
        case None =>
          """{"data":{"code":"Success","message":"Done"}}"""
      }
    })
    server.createContext("/commit", handler { ex =>
      requireServing()
      val params = queryParams(ex)
      val ts = params.get("startTs").map(_.toLong)
        .getOrElse(throw new IllegalArgumentException(
          "startTs parameter is mandatory while trying to commit"))
      if (params.get("abort").contains("true")) {
        commitTxn(ts, abort = true, accessToken(ex))
        s"""{"data":{"code":"Success","message":"Done"},""" +
          s""""extensions":{"txn":{"start_ts":$ts,"aborted":true}}}"""
      } else {
        commitTxn(ts, abort = false, accessToken(ex))
        s"""{"data":{"code":"Success","message":"Done"},""" +
          s""""extensions":{"txn":{"start_ts":$ts,"commit_ts":${ts + 1}}}}"""
      }
    })
    server.createContext("/alter", handler { ex =>
      requireServing()
      val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      alterBody(body, accessToken(ex))
      """{"data":{"code":"Success","message":"Done"}}"""
    })
    server.createContext("/graphql", handler { ex =>
      requireServing()
      val n = M.readTree(new String(ex.getRequestBody.readAllBytes(), UTF_8))
      val vars = Option(n.get("variables")).filter(!_.isNull)
        .map(jsonGVals).getOrElse(Map.empty)
      val eng = new GraphQLEngine(storeFor(ex), gqlSchema)
      // @auth claims ride the header the SDL's # Dgraph.Authorization
      // names (reference graphql/authorization/auth.go AttachAuthToken),
      // falling back to the ACL token / a bearer Authorization
      val tok = gqlSchema.authConfig.map(_.header).filter(_.nonEmpty)
        .flatMap(h => Option(ex.getRequestHeaders.getFirst(h)))
        .orElse(accessToken(ex))
        .orElse(Option(ex.getRequestHeaders.getFirst("Authorization"))
          .map(_.stripPrefix("Bearer ").trim))
      val claims = tok.map(eng.claimsFor).getOrElse(Map.empty[String, String])
      val rows = eng.json(n.get("query").asText, vars, claims).collect()
      envelope(rows.map(r => (r.getString(0), r.getString(2))))
    })
    server.createContext("/admin/schema", handler { ex =>
      requireGuardian(ex, "update GraphQL schema")
      val sdl = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      writeLock.synchronized { gqlSchema = SdlParser.parse(sdl); sdlText = sdl }
      """{"data":{"code":"Success","message":"Done"}}"""
    })
    // the reference's GraphQL admin service (graphql/admin/admin.go):
    // getGQLSchema / updateGQLSchema / health are the workhorse ops —
    // admin documents are tiny, matched directly
    server.createContext("/admin", handler { ex =>
      if (ex.getRequestURI.getPath != "/admin")
        throw new IllegalArgumentException("unknown admin path")
      val q = M.readTree(new String(ex.getRequestBody.readAllBytes(), UTF_8))
        .get("query").asText
      // dispatch on the ROOT FIELD name, not a substring of the whole
      // doc — argument values (a backup location path containing
      // "backup", a schema string) must not select the branch
      val opName = """[{]\s*([A-Za-z_][A-Za-z0-9_]*)""".r
        .findFirstMatchIn(q).map(_.group(1)).getOrElse("")
      if (opName == "getGQLSchema")
        s"""{"data":{"getGQLSchema":{"schema":${M.writeValueAsString(sdlText)}}}}"""
      else if (opName == "updateGQLSchema") {
        requireGuardian(ex, "update GraphQL schema")
        val sch = """schema\s*:\s*"((?:[^"\\]|\\.)*)"""".r
          .findFirstMatchIn(q).map(_.group(1)
            .replace("\\n", "\n").replace("\\\"", "\"")
            .replace("\\\\", "\\"))
          .getOrElse(throw new IllegalArgumentException(
            "updateGQLSchema needs input: {set: {schema: \"...\"}}"))
        writeLock.synchronized {
          gqlSchema = SdlParser.parse(sch); sdlText = sch
        }
        """{"data":{"updateGQLSchema":{"gqlSchema":{"id":"0x1"}}}}"""
      } else if (opName == "health")
        """{"data":{"health":[{"status":"healthy","instance":"alpha"}]}}"""
      else if (opName == "export") {
        // reference graphql/admin/export.go resolveExport: mutation
        // { export(input: {format, destination}) { response exportedFiles } }
        requireGalaxyGuardian(ex, "export")
        val dest = adminStrArg(q, "destination").getOrElse(
          throw new IllegalArgumentException(
            "you must specify a 'destination' value"))
        val format = adminStrArg(q, "format").getOrElse("rdf")
        if (format != "rdf" && format != "json")
          throw new IllegalArgumentException(s"invalid export format: $format")
        val files = exportStore(dest, format)
        val fileArr = files.map(M.writeValueAsString).mkString("[", ",", "]")
        s"""{"data":{"export":{"response":{"code":"Success",""" +
          s""""message":"Export completed."},"exportedFiles":$fileArr}}}"""
      } else if (opName == "backup") {
        // reference graphql/admin/backup.go resolveBackup: mutation
        // { backup(input: {destination, forceFull}) { response taskId } }
        requireGalaxyGuardian(ex, "backup")
        val dest = adminStrArg(q, "destination").getOrElse(
          throw new IllegalArgumentException(
            "you must specify a 'destination' value"))
        val taskId = backupSeq.incrementAndGet()
        writeLock.synchronized {
          graft.operators.Backup.full(store, dest)
        }
        s"""{"data":{"backup":{"response":{"code":"Success",""" +
          s""""message":"Backup queued with ID 0x$taskId"},""" +
          s""""taskId":"0x$taskId"}}}"""
      } else if (opName == "restore") {
        // reference graphql/admin/restore.go resolveRestore: mutation
        // { restore(input: {location}) { code message restoreId } } —
        // the serving frame and predicate schema swap to the backup's
        // state (incrementals replayed in order)
        requireGalaxyGuardian(ex, "restore")
        val loc = adminStrArg(q, "location").getOrElse(
          throw new IllegalArgumentException(
            "you must specify a 'location' value"))
        val restoreId = backupSeq.incrementAndGet()
        writeLock.synchronized {
          val (restoredSchema, frame, _) =
            graft.operators.Backup.restoreFrame(spark, loc)
          triples = frame.localCheckpoint()
          schema = restoredSchema
        }
        s"""{"data":{"restore":{"code":"Success",""" +
          s""""message":"Restore operation started.",""" +
          s""""restoreId":$restoreId}}}"""
      } else if (opName == "draining") {
        // reference graphql/admin/draining.go: mutation
        // { draining(enable: Boolean) { response { code message } } }
        requireGalaxyGuardian(ex, "draining")
        val enable = """enable\s*:\s*(true|false)""".r.findFirstMatchIn(q)
          .exists(_.group(1) == "true")
        drainingMode = enable
        s"""{"data":{"draining":{"response":{"code":"Success",""" +
          s""""message":"draining mode has been set to $enable"}}}}"""
      } else if (opName == "shutdown") {
        // reference graphql/admin/shutdown.go: signal the closer; the
        // response ships first, then ALL registered fronts stop — a
        // wrapped gRPC endpoint registers a hook at start(), so
        // "shutting down" means the whole server, not half of it. The
        // delayed server.stop(1) gives the response write (which runs
        // after this handler returns) and other in-flight exchanges a
        // grace second instead of cutting them mid-body.
        requireGalaxyGuardian(ex, "shutdown")
        val t = new Thread(() => {
          Thread.sleep(300)
          shutdownHooks.forEach(h => try h.run() catch { case _: Throwable => () })
          if (server != null) server.stop(1)
        })
        t.setDaemon(true)
        t.start()
        """{"data":{"shutdown":{"response":{"code":"Success",""" +
          """"message":"Server is shutting down"}}}}"""
      } else if (opName == "listBackups") {
        // reference graphql/admin/endpoints.go listBackups(input:
        // {location}): [Manifest] — one entry for the full backup plus
        // one per incremental; the series scan is SHARED with
        // Backup.restore so the two can never disagree on the layout
        requireGalaxyGuardian(ex, "listBackups")
        val loc = adminStrArg(q, "location").getOrElse(
          throw new IllegalArgumentException(
            "you must specify a 'location' value"))
        val full = graft.operators.Backup.fullBackupAt(loc)
        val incs = graft.operators.Backup.incrementalDirs(loc)
        if (full.isEmpty && incs.isEmpty)
          throw new IllegalArgumentException(
            s"no backups found at $loc")
        val entries =
          full.map(enc =>
            s"""{"type":"full","backupNum":0,"path":"triples","encrypted":$enc}""").toSeq ++
          incs.map { case (n, f) =>
            s"""{"type":"incremental","backupNum":$n,"path":${
              M.writeValueAsString(f.getName)},"encrypted":false}"""
          }
        s"""{"data":{"listBackups":[${entries.mkString(",")}]}}"""
      } else if (opName == "addNamespace") {
        // reference graphql/admin/namespace.go:29 resolveAddNamespace:
        // guardian-of-the-galaxy only; creates the tenant and a groot
        // user (with the given password) inside it
        requireGalaxyGuardian(ex, "addNamespace")
        val a = acl.getOrElse(throw Acl.AclException("ACL is not enabled"))
        val pw = adminStrArg(q, "password").getOrElse("password")
        val ns = nsSeq.incrementAndGet()
        // groot + guardians first, tenant frame last: if user creation
        // throws, no half-created namespace is ever published (the
        // consumed nsSeq value is harmless — ids need not be dense)
        a.addUser(Acl.User("groot", Acl.hashPassword("groot", pw),
          Set(Acl.Guardians), namespace = ns))
        a.addGroup(Acl.Guardians, Nil, ns)
        tenants.put(ns, triples.limit(0).localCheckpoint())
        s"""{"data":{"addNamespace":{"namespaceId":$ns,""" +
          s""""message":"Created namespace successfully"}}}"""
      } else if (opName == "deleteNamespace") {
        // namespace.go:52 resolveDeleteNamespace: drops the tenant's
        // data and its users wholesale; the default ns is undeletable
        requireGalaxyGuardian(ex, "deleteNamespace")
        val a = acl.getOrElse(throw Acl.AclException("ACL is not enabled"))
        val ns = """namespaceId\s*:\s*(\d+)""".r.findFirstMatchIn(q)
          .map(_.group(1).toLong).getOrElse(throw new IllegalArgumentException(
            "deleteNamespace needs input: { namespaceId: ... }"))
        if (ns == 0L) throw new IllegalArgumentException(
          "Cannot delete default namespace")
        if (tenants.remove(ns).isEmpty) throw new IllegalArgumentException(
          s"namespace $ns does not exist")
        a.dropNamespaceUsers(ns)
        s"""{"data":{"deleteNamespace":{"namespaceId":$ns,""" +
          s""""message":"Deleted namespace successfully"}}}"""
      } else if (opName == "resetPassword") {
        // reference graphql/admin/reset_password.go:20: guardian sets a
        // user's password in a namespace directly (no old password)
        requireGuardian(ex, "resetPassword")
        val a = acl.getOrElse(throw Acl.AclException("ACL is not enabled"))
        val uid = adminStrArg(q, "userId").getOrElse(
          throw new IllegalArgumentException("resetPassword needs userId"))
        val pw = adminStrArg(q, "password").getOrElse(
          throw new IllegalArgumentException("resetPassword needs password"))
        val ns = """namespace\s*:\s*(\d+)""".r.findFirstMatchIn(q)
          .map(_.group(1).toLong).getOrElse(0L)
        // a tenant guardian may only reset inside its own namespace;
        // the galaxy guardian reaches every tenant (reference access
        // control on the /admin resolver)
        val callerNs = nsOf(accessToken(ex))
        if (callerNs != 0L && callerNs != ns) throw Acl.AclException(
          "unauthorized to resetPassword in another namespace")
        a.updateUser(uid, Some(Acl.hashPassword(uid, pw)),
          Set.empty, Set.empty, ns)
        s"""{"data":{"resetPassword":{"userId":${M.writeValueAsString(uid)},""" +
          s""""message":"Reset password is successful"}}}"""
      } else if (HttpEndpoint.aclAdminOps.contains(opName)) {
        requireGuardian(ex, opName)
        // ACL CRUD is scoped to the CALLER's namespace (reference: ACL
        // nodes are tenant data, namespace-prefixed keys) — a tenant
        // guardian administers its own users/groups only and can never
        // touch the galaxy groot or another tenant's rules
        aclAdmin(opName, q,
          acl.getOrElse(throw Acl.AclException("ACL is not enabled")),
          nsOf(accessToken(ex)))
      } else throw new IllegalArgumentException(
        "unsupported admin operation (getGQLSchema / updateGQLSchema / " +
          "health / export / backup / restore / draining / namespaces / " +
          "resetPassword / ACL CRUD)")
    })
    server.createContext("/login", handler { ex =>
      val a = acl.getOrElse(throw Acl.AclException("ACL is not enabled"))
      val n = M.readTree(new String(ex.getRequestBody.readAllBytes(), UTF_8))
      // optional tenant login (reference api.LoginRequest.namespace)
      val ns = Option(n.get("namespace")).map(_.asLong(0L)).getOrElse(0L)
      val jwt = a.login(n.get("userid").asText, n.get("password").asText, ns)
      s"""{"data":{"accessJWT":${M.writeValueAsString(jwt)}}}"""
    })
    server.setExecutor(null) // serial executor: one request at a time
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = if (server != null) server.stop(0)

  // ---- transport-independent core (shared by HTTP and gRPC fronts:
  // the reference's alpha serves both from one server struct,
  // edgraph/server.go — here both endpoints wrap this state) ----

  /** Run a DQL query; returns the DATA object `{"q":[…],…}` — HTTP
    * wraps it in the `{"data":…}` envelope, gRPC ships it verbatim as
    * `Response.json` (reference api.Response.Json carries the unwrapped
    * object; the envelope is an HTTP-only convention).
    */
  private[server] def queryData(q: String, vars: Map[String, String],
      tok: Option[String]): String = {
    val rows = new DqlExecutor(storeForToken(tok))
      .jsonAllAst(Parser.parseWithVars(q, vars)).collect()
    dataJson(rows.map(r => (r.getString(0), r.getString(2))))
  }

  /** Validate + apply (or queue) a parsed mutation batch. Returns
    * Some(startTs) when queued into an open txn (commitNow=false —
    * reference run.go:504: proposed but visible only after commit),
    * None when committed now (draining any batches queued under
    * startTs first).
    */
  private[server] def mutateParsed(sets: Seq[(String, String)],
      dels: Seq[(String, String)], commitNow: Boolean,
      startTs: Option[Long], tok: Option[String]): Option[Long] = {
    // graphql-reserved predicates may not be user-mutated (reference
    // x/keys.go otherReservedPredicate + edgraph/server.go:2295 —
    // NOT the whole dgraph. prefix: dgraph.type stays mutable)
    (sets.map(_._2) ++ dels.map(_._2))
      .find(HttpEndpoint.graphqlReserved.contains)
      .foreach(p => throw new IllegalArgumentException(
        s"Cannot mutate graphql reserved predicate $p"))
    acl.foreach { a =>
      val t = tok.getOrElse(throw Acl.AclException("no accessJwt available"))
      a.authorizeMutation(t, sets.map(_._2) ++ dels.map(_._2))
    }
    validateLines(sets.map(_._1), dels.map(_._1))
    sweepTxns()
    val now = System.currentTimeMillis()
    if (!commitNow) {
      startTs match {
        case Some(ts) =>
          // append to an EXISTING open txn only: an unissued/expired/
          // foreign ts is rejected — accepting it would let a client
          // pre-claim a future txnSeq value or splice batches into
          // another client's txn
          val updated = txns.updateWith(ts) {
            case Some(t) =>
              requireTxnOwner(ts, t, tok)
              Some(t.copy(touchedMs = now, batches = t.batches :+ ((sets, dels))))
            case None =>
              throw new HttpEndpoint.TxnRetryException(
                s"Transaction $ts not found")
          }
          updated.foreach(_ => ())
          Some(ts)
        case None =>
          val ts = txnSeq.incrementAndGet()
          txns.put(ts, OpenTxn(txnIdentity(tok), now, Vector((sets, dels))))
          Some(ts)
      }
    } else {
      // ownership checks BEFORE any mutation of the map (a non-owner
      // probing another client's ts must not be able to even
      // transiently unlink it), and the final unlink is a CONDITIONAL
      // remove — of two concurrent drains of the same ts exactly one
      // wins, the other retries (double-applying the queued batches
      // would duplicate triples)
      val queued = startTs.flatMap { ts =>
        txns.get(ts).map { t =>
          requireTxnOwner(ts, t, tok)
          if (!txns.remove(ts, t))
            throw new HttpEndpoint.TxnRetryException(
              s"Transaction $ts has been aborted. Please retry")
          t.batches
        }
      }.getOrElse(Vector.empty)
      writeLock.synchronized {
        applyMutations(queued :+ ((sets, dels)), nsOf(tok))
      }
      None
    }
  }

  /** Commit (apply queued batches atomically) or abort (discard) the
    * txn. Commit of an unknown ts errors like the reference; both
    * paths enforce the opening token's ownership.
    */
  private[server] def commitTxn(ts: Long, abort: Boolean,
      tok: Option[String]): Unit = {
    sweepTxns()
    if (abort) {
      txns.get(ts).foreach { t =>
        requireTxnOwner(ts, t, tok)
        if (txns.remove(ts, t))
          metrics.inc("graft_txns_total", "outcome" -> "aborted")
      }
    } else {
      val t = txns.getOrElse(ts,
        throw new HttpEndpoint.TxnRetryException(s"Transaction $ts not found"))
      requireTxnOwner(ts, t, tok)
      // conditional remove: exactly ONE of two racing commits of the
      // same ts applies the batches; the loser gets the retryable error
      // (the old unconditional remove let both through — double apply)
      if (!txns.remove(ts, t))
        throw new HttpEndpoint.TxnRetryException(
          s"Transaction $ts has been aborted. Please retry")
      writeLock.synchronized { applyMutations(t.batches, nsOf(tok)) }
      metrics.inc("graft_txns_total", "outcome" -> "committed")
    }
  }

  private val backupSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** Other fronts serving this engine (gRPC, WebSocket) register here
    * so the /admin shutdown mutation stops the WHOLE server — draining
    * already gates them through [[requireServing]]; shutdown must not
    * leave half the surface listening. */
  private val shutdownHooks =
    new java.util.concurrent.CopyOnWriteArrayList[Runnable]()
  def onShutdown(hook: Runnable): Unit = shutdownHooks.add(hook)

  /** The ACL administration surface (reference graphql/admin/admin.go
    * user/group CRUD — backed there by graph-stored ACL nodes, here by
    * the [[Acl]] registry). Documents are standard GraphQL, so the
    * GraphQL parser supplies the args; transport already guardian-gated.
    */
  private def aclAdmin(op: String, q: String, a: Acl, ns: Long): String = {
    import graft.graphql.{GqlParser, GVal, GStr, GNum, GEnum, GList, GObj}
    val root = GqlParser.parse(q).roots.head
    def str(v: GVal): String = v match {
      case GStr(s) => s
      case GNum(s) => s
      case GEnum(n) => n
      case other => throw new IllegalArgumentException(s"expected string: $other")
    }
    def int(v: GVal): Int = v match {
      case GNum(s) => s.toInt
      case other => throw new IllegalArgumentException(s"expected int: $other")
    }
    def inputs: Seq[GObj] = root.arg("input") match {
      case Some(GList(items)) => items.collect { case o: GObj => o }
      case Some(o: GObj) => Seq(o)
      case _ => Nil
    }
    def groupNames(v: Option[GVal]): Set[String] = v match {
      case Some(GList(items)) =>
        items.collect { case go: GObj => go.get("name").map(str) }.flatten.toSet
      case Some(go: GObj) => go.get("name").map(str).toSet
      case _ => Set.empty
    }
    def rulesOf(v: Option[GVal]): Seq[Acl.Rule] = v match {
      case Some(GList(items)) => items.collect { case ro: GObj =>
        Acl.Rule(
          ro.get("predicate").map(str).getOrElse(
            throw new IllegalArgumentException("rule needs predicate")),
          ro.get("permission").map(int).getOrElse(0))
      }
      case Some(ro: GObj) => rulesOf(Some(GList(Seq(ro))))
      case _ => Nil
    }
    // reference filter shape: filter: { name: { eq: "x" } }
    def filterName: String = root.arg("filter")
      .collect { case o: GObj => o }.flatMap(_.get("name"))
      .collect { case o: GObj => o }.flatMap(_.get("eq")).map(str)
      .orElse(root.arg("name").map(str))
      .getOrElse(throw new IllegalArgumentException(
        s"$op needs filter: { name: { eq: ... } }"))
    def js(s: String): String = M.writeValueAsString(s)
    def userJson(u: Acl.User): String =
      s"""{"name":${js(u.id)},"groups":[${u.groups.toSeq.sorted
        .map(g => s"""{"name":${js(g)}}""").mkString(",")}]}"""
    def groupJson(name: String, rules: Seq[Acl.Rule]): String =
      s"""{"name":${js(name)},"rules":[${rules.sortBy(_.predicate)
        .map(r => s"""{"predicate":${js(r.predicate)},"permission":${r.permission}}""")
        .mkString(",")}]}"""
    op match {
      case "addUser" =>
        val added = inputs.map { o =>
          val name = o.get("name").map(str).getOrElse(
            throw new IllegalArgumentException("addUser needs name"))
          val pw = o.get("password").map(str).getOrElse(
            throw new IllegalArgumentException("addUser needs password"))
          a.addUser(Acl.User(name, Acl.hashPassword(name, pw),
            groupNames(o.get("groups")), namespace = ns))
          name
        }
        s"""{"data":{"addUser":{"user":[${added.map(n =>
          s"""{"name":${js(n)}}""").mkString(",")}]}}}"""
      case "updateUser" =>
        val input = root.arg("input").collect { case o: GObj => o }
          .getOrElse(throw new IllegalArgumentException(
            "updateUser needs input:"))
        val name = input.get("filter").collect { case o: GObj => o }
          .flatMap(_.get("name")).collect { case o: GObj => o }
          .flatMap(_.get("eq")).map(str).getOrElse(
            throw new IllegalArgumentException(
              "updateUser needs input.filter.name.eq"))
        val set = input.get("set").collect { case o: GObj => o }
        val remove = input.get("remove").collect { case o: GObj => o }
        val u = a.updateUser(name,
          set.flatMap(_.get("password")).map(str)
            .map(Acl.hashPassword(name, _)),
          groupNames(set.flatMap(_.get("groups"))),
          groupNames(remove.flatMap(_.get("groups"))), ns)
        s"""{"data":{"updateUser":{"user":[${userJson(u)}]}}}"""
      case "deleteUser" =>
        val n = if (a.deleteUser(filterName, ns)) 1 else 0
        s"""{"data":{"deleteUser":{"msg":"Deleted","numUids":$n}}}"""
      case "addGroup" =>
        val added = inputs.map { o =>
          val name = o.get("name").map(str).getOrElse(
            throw new IllegalArgumentException("addGroup needs name"))
          a.addGroup(name, rulesOf(o.get("rules")), ns)
          name
        }
        s"""{"data":{"addGroup":{"group":[${added.map(n =>
          s"""{"name":${js(n)}}""").mkString(",")}]}}}"""
      case "updateGroup" =>
        val input = root.arg("input").collect { case o: GObj => o }
          .getOrElse(throw new IllegalArgumentException(
            "updateGroup needs input:"))
        val name = input.get("filter").collect { case o: GObj => o }
          .flatMap(_.get("name")).collect { case o: GObj => o }
          .flatMap(_.get("eq")).map(str).getOrElse(
            throw new IllegalArgumentException(
              "updateGroup needs input.filter.name.eq"))
        val set = rulesOf(input.get("set")
          .collect { case o: GObj => o }.flatMap(_.get("rules")))
        val remove = input.get("remove").collect { case o: GObj => o }
          .flatMap(_.get("rules")) match {
          case Some(GList(items)) => items.map(str).toSet
          case Some(v) => Set(str(v))
          case None => Set.empty[String]
        }
        val merged = a.updateGroupRules(name, set, remove, ns)
        s"""{"data":{"updateGroup":{"group":[${groupJson(name, merged)}]}}}"""
      case "deleteGroup" =>
        val n = if (a.deleteGroup(filterName, ns)) 1 else 0
        s"""{"data":{"deleteGroup":{"msg":"Deleted","numUids":$n}}}"""
      case "queryUser" =>
        s"""{"data":{"queryUser":[${a.listUsers.filter(_.namespace == ns)
          .map(userJson).mkString(",")}]}}"""
      case "queryGroup" =>
        s"""{"data":{"queryGroup":[${a.listGroups(ns).map { case (n, rs) =>
          groupJson(n, rs) }.mkString(",")}]}}"""
      case "getUser" =>
        s"""{"data":{"getUser":${a.getUser(filterName, ns)
          .map(userJson).getOrElse("null")}}}"""
      case "getGroup" =>
        s"""{"data":{"getGroup":${a.getGroup(filterName, ns)
          .map(rs => groupJson(filterName, rs)).getOrElse("null")}}}"""
    }
  }

  /** One string argument out of a tiny admin GraphQL document — admin
    * docs are matched directly, like updateGQLSchema above. */
  private def adminStrArg(q: String, name: String): Option[String] =
    (name + """\s*:\s*"((?:[^"\\]|\\.)*)"""").r.findFirstMatchIn(q)
      .map(_.group(1).replace("\\\"", "\"").replace("\\\\", "\\"))

  /** Export the live store to `dest` (reference worker/export.go):
    * `rdf` writes N-Quad lines (attr values escaped + @lang, edge facets
    * preserved); `json` writes one object per triple in the reference's
    * JSON-export shape ({"uid":"0x1","name":"v"} / nested uid ref).
    * Plus a `.schema` file in DQL schema syntax. The line building is
    * all column expressions — the write is distributed, one file per
    * partition like the reference's per-group export files.
    */
  private[server] def exportStore(dest: String, format: String): Seq[String] = {
    import org.apache.spark.sql.functions._
    val attrs = triples.filter(col("objectUid").isNull)
      .select(col("subject"), col("predicate"), col("value"), col("lang"))
    val edges = triples.filter(col("objectUid").isNotNull)
    val lines = format match {
      case "rdf" =>
        val aLines = graft.sources.RdfSource.formatAttrs(attrs)
        val facetSuffix =
          if (edges.columns.contains("facets"))
            when(col("facets").isNotNull,
              concat(lit(" ("), col("facets"), lit(")"))).otherwise(lit(""))
          else lit("")
        val eLines = edges.select(concat(
          lit("<0x"), Uids.hex(col("subject")), lit("> <"), col("predicate"),
          lit("> <0x"), Uids.hex(col("objectUid")), lit(">"),
          facetSuffix, lit(" .")).as("line"))
        aLines.unionByName(eLines)
      case "json" =>
        // to_json(map(pred, value)) gives {"name":"ann"} with proper
        // string escaping; splice the uid in front of it. Language-tagged
        // values keep their tag in the KEY — "text@en":… — exactly like
        // the reference's JSON export (worker/export.go:180) and the RDF
        // branch's langSuffix; dropping it loses data on a round-trip.
        val aKey = concat(col("predicate"),
          when(col("lang").isNotNull, concat(lit("@"), col("lang")))
            .otherwise(lit("")))
        val aLines = attrs.select(concat(
          lit("""{"uid":"0x"""), Uids.hex(col("subject")), lit("\","),
          substring(to_json(map(aKey, col("value"))), 2, 1 << 24))
          .as("line"))
        val eLines = edges.select(concat(
          lit("""{"uid":"0x"""), Uids.hex(col("subject")), lit("\",\""),
          col("predicate"), lit("""":[{"uid":"0x"""), Uids.hex(col("objectUid")),
          lit("\"}]}")).as("line"))
        aLines.unionByName(eLines)
    }
    val dataDir = s"$dest/g01.$format"
    lines.write.mode("overwrite").text(dataDir)
    val schemaLines = schema.predicates.values.toSeq.sortBy(_.name).map { p =>
      val idx = if (p.indexes.nonEmpty)
        s" @index(${p.indexes.mkString(", ")})" else ""
      val rev = if (p.reverse) " @reverse" else ""
      val cnt = if (p.count) " @count" else ""
      val lng = if (p.lang) " @lang" else ""
      val t = if (p.isList) s"[${p.dgraphType}]" else p.dgraphType
      s"<${p.name}>: $t$idx$rev$cnt$lng ."
    } ++ schema.types.values.toSeq.sortBy(_.name).map { t =>
      t.predicates.map(p => s"  $p").mkString(s"type <${t.name}> {\n", "\n", "\n}")
    }
    // the schema file goes through the SAME filesystem as the data —
    // an hdfs://, s3a:// or other remote destination must not split the
    // export between remote parquet and a driver-local schema file
    val schemaPath = new org.apache.hadoop.fs.Path(dest, "g01.schema")
    val fs = schemaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(schemaPath, true)
    try out.write(schemaLines.mkString("\n").getBytes(UTF_8))
    finally out.close()
    Seq(dataDir, schemaPath.toString)
  }

  /** Guardian-gated alter: JSON drop operations (reference
    * edgraph/server.go:369 Alter: drop_all / drop_op DATA|ATTR|TYPE /
    * drop_attr) or a DQL schema payload — both fronts accept both forms.
    */
  private[server] def alterBody(body: String, tok: Option[String]): Unit = {
    requireGuardianToken(tok, "alter")
    writeLock.synchronized {
      val node =
        try Option(M.readTree(body)).filter(_.isObject)
        catch { case _: Exception => None }
      node.filter(n => Seq("drop_all", "drop_attr", "drop_op")
          .exists(n.has)) match {
        case Some(n) =>
          // EVERY drop form mutates the DEFAULT namespace's frame and/or
          // the shared predicate schema (drop_all/DATA the whole frame,
          // drop_attr one predicate's rows + schema entry, drop_op TYPE
          // the shared type registry) — tenant guardians may reach none
          // of them (reference edgraph/server.go Alter: "Only guardian
          // of galaxy")
          requireGalaxyGuardianToken(tok, "drop")
          applyDrop(n)
        case None => schema = schema.alter(body)
      }
    }
  }

  /** Parse a mutation body in either form (RDF blocks / JSON) — shared
    * with the gRPC front, whose Mutation message carries all four.
    */
  private[server] def parseMutationBody(body: String,
      isJson: Boolean): (Seq[(String, String)], Seq[(String, String)]) =
    if (isJson) jsonMutation(body) else rdfMutation(body)

  /** Upsert: the reference's Request{query, mutations} IS the upsert
    * path (edgraph/server.go doQuery → doMutate with uid(v)/val(v)
    * substitution). Synthesizes the DQL `upsert { query … mutation
    * [@if] … }` document and applies it through the engine's Upsert
    * operator, swapping the committed frame. `muts` =
    * (raw @if cond or "", set template lines, delete template lines).
    * Commit-now semantics (single-writer engine).
    */
  private[server] def upsertParsed(query: String,
      muts: Seq[(String, Seq[String], Seq[String])],
      tok: Option[String]): Unit = {
    val preds = muts.flatMap { case (_, s0, d0) =>
      (s0 ++ d0).flatMap(l => bareNquadLines(l).map(_._2))
    }.filter(_ != "*")
    preds.find(HttpEndpoint.graphqlReserved.contains)
      .foreach(p => throw new IllegalArgumentException(
        s"Cannot mutate graphql reserved predicate $p"))
    acl.foreach { a =>
      val t = tok.getOrElse(throw Acl.AclException("no accessJwt available"))
      a.authorizeMutation(t, preds)
    }
    val doc = new StringBuilder("upsert {\n  query ")
    doc.append(query.trim).append("\n")
    muts.foreach { case (cond, s0, d0) =>
      doc.append("  mutation ")
      if (cond.trim.nonEmpty) doc.append(cond.trim).append(" ")
      doc.append("{\n")
      if (s0.nonEmpty)
        doc.append("    set {\n").append(s0.mkString("\n")).append("\n    }\n")
      if (d0.nonEmpty)
        doc.append("    delete {\n").append(d0.mkString("\n")).append("\n    }\n")
      doc.append("  }\n")
    }
    doc.append("}")
    val ns = nsOf(tok)
    writeLock.synchronized {
      setTriplesNs(ns, graft.operators.Upsert
        .execute(storeNs(ns), doc.toString, triplesNs(ns))
        .localCheckpoint())
    }
  }

  // ---- helpers ----

  private def contentType(ex: HttpExchange): String =
    Option(ex.getRequestHeaders.getFirst("Content-Type")).getOrElse("")

  /** `{"$var": "value"}` (reference api.Request.Vars — string-valued,
    * `$`-prefixed; unprefixed keys are tolerated and prefixed).
    */
  private def jsonVars(n: JsonNode): Map[String, String] =
    if (n == null || n.isNull) Map.empty
    else {
      val it = n.fields()
      val out = Map.newBuilder[String, String]
      while (it.hasNext) {
        val e = it.next()
        val k = if (e.getKey.startsWith("$")) e.getKey else "$" + e.getKey
        out += k -> e.getValue.asText
      }
      out.result()
    }

  private def jsonGVals(n: JsonNode): Map[String, GVal] = {
    def conv(v: JsonNode): GVal = v match {
      case _ if v.isTextual => GStr(v.asText)
      case _ if v.isNumber => GNum(v.asText)
      case _ if v.isBoolean => GBool(v.asBoolean)
      case _ if v.isArray =>
        GList((0 until v.size).map(i => conv(v.get(i))))
      case _ if v.isObject =>
        val it = v.fields()
        val fs = Seq.newBuilder[(String, GVal)]
        while (it.hasNext) { val e = it.next(); fs += e.getKey -> conv(e.getValue) }
        GObj(fs.result())
      case _ => GStr(v.asText)
    }
    val it = n.fields()
    val out = Map.newBuilder[String, GVal]
    while (it.hasNext) { val e = it.next(); out += e.getKey -> conv(e.getValue) }
    out.result()
  }

  /** `{ set { … } delete { … } }` RDF mutation body → (line, predicate)
    * pairs per op (predicates feed the ACL write check).
    */
  /** Drop operations (reference edgraph/server.go:369-447): drop_all
    * wipes data AND schema; drop_op DATA wipes data only; drop_attr /
    * drop_op ATTR removes one predicate's triples + schema entry;
    * drop_op TYPE removes a type definition (never its nodes). Error
    * messages mirror the reference's validations. Caller holds
    * writeLock.
    */
  private def applyDrop(n: JsonNode): Unit = {
    val dropAll = Option(n.get("drop_all")).exists(_.asBoolean)
    val dropOp = Option(n.get("drop_op")).map(_.asText).getOrElse("NONE")
    val dropValue = Option(n.get("drop_value")).map(_.asText).getOrElse("")
    if (dropAll && dropOp == "DATA")
      throw new IllegalArgumentException(
        "Only one of DropAll and DropData can be true")
    if (dropAll || dropOp == "ALL") {
      if (dropOp == "ALL" && dropValue.nonEmpty)
        throw new IllegalArgumentException(
          "If DropOp is set to ALL, DropValue must be empty")
      triples = triples.limit(0).localCheckpoint()
      schema = new SchemaRegistry(Map.empty, Map.empty)
      gqlSchema = SdlParser.parse("")
      sdlText = ""
    } else if (dropOp == "DATA") {
      if (dropValue.nonEmpty)
        throw new IllegalArgumentException(
          "If DropOp is set to DATA, DropValue must be empty")
      triples = triples.limit(0).localCheckpoint()
    } else {
      val attr = Option(n.get("drop_attr")).map(_.asText).filter(_.nonEmpty)
        .orElse(if (dropOp == "ATTR") Some(dropValue) else None)
      attr match {
        case Some(a) =>
          if (a.isEmpty) throw new IllegalArgumentException(
            "If DropOp is set to ATTR, DropValue must be set")
          if (a.startsWith("dgraph."))
            throw new IllegalArgumentException(
              s"predicate $a is pre-defined and is not allowed to be dropped")
          triples = triples
            .filter(org.apache.spark.sql.functions.col("predicate") =!= a)
            .localCheckpoint()
          schema = new SchemaRegistry(schema.predicates - a, schema.types)
        case None if dropOp == "TYPE" =>
          if (dropValue.isEmpty) throw new IllegalArgumentException(
            "If DropOp is set to TYPE, DropValue must be set")
          schema = new SchemaRegistry(schema.predicates,
            schema.types - dropValue)
        case None => throw new IllegalArgumentException(
          "Operation must have at least one field set")
      }
    }
  }

  /** Extract the `name { ... }` block's inner text by scanning to the
    * MATCHING close brace while honoring quoted strings (a `}` inside an
    * N-Quad value must not truncate the block — the non-greedy regex
    * this replaces stopped at the first `}` and silently dropped every
    * later mutation line).
    */
  private def mutationBlock(body: String, name: String): Seq[String] =
    ("""(?s)\b""" + name + """\s*\{""").r.findFirstMatchIn(body).map { m =>
      val open = m.end - 1
      var depth = 0; var i = open; var inStr = false; var close = -1
      while (i < body.length && close < 0) {
        val c = body.charAt(i)
        if (inStr) {
          if (c == '\\') i += 1 else if (c == '"') inStr = false
        } else c match {
          case '"' => inStr = true
          case '{' => depth += 1
          case '}' => depth -= 1; if (depth == 0) close = i
          case _ =>
        }
        i += 1
      }
      if (close < 0) throw new IllegalArgumentException(
        s"unbalanced braces in $name block")
      body.substring(open + 1, close)
        .linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
    }.getOrElse(Nil)

  /** Bare N-Quad lines → (line, predicate) pairs. The predicate = the
    * 2nd whitespace token; the subject may be a blank node (_:x) with
    * no angle brackets, so counting <...> matches mis-attributed the
    * predicate (and let blank-subject sets slip past the per-predicate
    * guards). Shared with the gRPC front (Mutation.set_nquads carries
    * bare lines, no `{ set {…} }` envelope).
    */
  private[server] def bareNquadLines(text: String): Seq[(String, String)] =
    text.linesIterator.map(_.trim).filter(_.nonEmpty).toSeq.map { l =>
      l -> l.split("\\s+").lift(1)
        .map(_.stripPrefix("<").stripSuffix(">")).getOrElse("*")
    }

  private def rdfMutation(body: String): (Seq[(String, String)], Seq[(String, String)]) =
    (bareNquadLines(mutationBlock(body, "set").mkString("\n")),
      bareNquadLines(mutationBlock(body, "delete").mkString("\n")))

  /** JSON mutation `{"set":[{"uid":"0x1","name":"x"},…]}` → N-Quad
    * lines through the same path (reference mutationHandler JSON arm).
    * Values are escaped (backslash then quote — [[RdfSource.formatAttrs]]
    * order) so a value containing `"` or `\` round-trips instead of
    * desyncing the line from the parse regex; predicate keys must be
    * free of N-Quad structural characters so the ACL-checked predicate
    * IS the parsed one. Delete objects: `{"uid":"0x1"}` alone drops the
    * whole node (S * *); a null-valued field drops every value of that
    * predicate (S P *); a concrete value drops just that triple.
    */
  /** Shared by the HTTP JSON-mutation and gRPC JSON-upsert parsers —
    * one copy of the N-Quad value escaping and the predicate-name
    * structural check, so the two fronts can never drift.
    */
  private def nqEscape(v: String): String =
    v.replace("\\", "\\\\").replace("\"", "\\\"")
  private def checkPredName(k: String): String = {
    if (k.isEmpty || k.exists(c => c == '<' || c == '>' || c == '"' ||
        c == '\\' || c.isWhitespace))
      throw new IllegalArgumentException(s"invalid predicate name: $k")
    k
  }

  private def jsonMutation(body: String): (Seq[(String, String)], Seq[(String, String)]) = {
    def esc(v: String): String = nqEscape(v)
    def checkPred(k: String): String = checkPredName(k)
    def lines(arrName: String, isDelete: Boolean): Seq[(String, String)] = {
      val arr = Option(M.readTree(body).get(arrName)).filter(_.isArray)
        .map(a => (0 until a.size).map(a.get)).getOrElse(Nil)
      arr.flatMap { o =>
        val uid = Option(o.get("uid")).map(_.asText).getOrElse(
          throw new IllegalArgumentException("JSON mutation needs uid"))
        if (!uid.matches("0x[0-9a-fA-F]+"))
          throw new IllegalArgumentException(s"invalid uid: $uid")
        val it = o.fields()
        val out = Seq.newBuilder[(String, String)]
        var nonUid = 0
        while (it.hasNext) {
          val e = it.next()
          if (e.getKey != "uid") {
            nonUid += 1
            val k = checkPred(e.getKey)
            if (isDelete && e.getValue.isNull)
              out += (s"<$uid> <$k> * ." -> k)
            else
              out += (s"""<$uid> <$k> "${esc(e.getValue.asText)}" ."""
                -> k)
          }
        }
        // uid-only delete object = S * * (reference JSON delete of a
        // node: {"uid":"0x1"} deletes everything about the node)
        if (isDelete && nonUid == 0) Seq(s"<$uid> * * ." -> "*")
        else out.result()
      }
    }
    (lines("set", isDelete = false), lines("delete", isDelete = true))
  }

  /** JSON-form upsert mutation → N-Quad TEMPLATE lines (reference
    * edgraph/server.go: dgo's SetJson/DeleteJson combined with a query
    * block). Differences from [[jsonMutation]]: the subject may be a
    * `uid(v)` template, scalar string values of the form `uid(w)` are
    * object-ref templates, and nested `{"uid": ...}` objects/arrays are
    * edge refs — exactly the object forms the upsert template grammar
    * supports (Upsert.scala:43). `val(x)` value substitution is not in
    * that grammar (same for the N-Quads form) and is rejected loudly.
    */
  private[server] def jsonUpsertTemplates(arrayJson: String,
      isDelete: Boolean): Seq[String] = {
    def esc(v: String): String = nqEscape(v)
    val uidTemplateRe = """uid\([A-Za-z_][\w.]*\)"""
    def subjOf(node: com.fasterxml.jackson.databind.JsonNode): String = {
      val uid = Option(node.get("uid")).map(_.asText).getOrElse(
        throw new IllegalArgumentException("JSON upsert mutation needs uid"))
      if (uid.matches("0x[0-9a-fA-F]+")) s"<$uid>"
      else if (uid.matches(uidTemplateRe)) uid
      else throw new IllegalArgumentException(
        s"invalid upsert uid (0x… or uid(var)): $uid")
    }
    val root = M.readTree(arrayJson)
    val objs =
      if (root.isArray) (0 until root.size).map(root.get)
      else Seq(root)
    objs.flatMap { o =>
      val subj = subjOf(o)
      val it = o.fields()
      val out = Seq.newBuilder[String]
      var nonUid = 0
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey != "uid") {
          nonUid += 1
          val k = checkPredName(e.getKey)
          val v = e.getValue
          // a JSON null in a SET is SKIPPED like the reference (a nil
          // struct field serialized as explicit null must not write the
          // literal string "null"); in a DELETE it is the wildcard
          if (v.isNull && isDelete) out += s"$subj <$k> * ."
          else if (v.isNull) ()
          else if (v.isObject) out += s"$subj <$k> ${subjOf(v)} ."
          else if (v.isArray)
            (0 until v.size).foreach(i =>
              out += s"$subj <$k> ${subjOf(v.get(i))} .")
          else {
            val t = v.asText
            if (t.matches(uidTemplateRe)) out += s"$subj <$k> $t ."
            else if (t.matches("""val\([A-Za-z_][\w.]*\)"""))
              throw new UnsupportedOperationException(
                "val(var) substitution in JSON upsert values is not " +
                  "supported — use the N-Quads mutation form")
            else out += s"""$subj <$k> "${esc(t)}" ."""
          }
        }
      }
      if (isDelete && nonUid == 0) Seq(s"$subj * * .") else out.result()
    }
  }

  // ---- mutation application (caller holds writeLock for applies) ----

  private val setLineOk = Seq(RdfSource.UidLineRe, RdfSource.LitLineRe,
    RdfSource.BlankLitLineRe)
  private val delLineRe =
    """^<0x([0-9a-fA-F]+)> (?:<([^>\s]+)>|\*) (?:<0x([0-9a-fA-F]+)>|"((?:[^"\\]|\\.)*)"|\*) \.$""".r

  /** Reject lines that match none of the parser's shapes — a malformed
    * line must error at the door, not silently parse to a null-subject
    * row appended to the store while the intended triple is lost.
    */
  private def validateLines(sets: Seq[String], dels: Seq[String]): Unit = {
    sets.find(l => !setLineOk.exists(l.matches)).foreach(l =>
      throw new IllegalArgumentException(s"invalid N-Quad in set block: $l"))
    dels.find(l => delLineRe.findFirstIn(l).isEmpty).foreach(l =>
      throw new IllegalArgumentException(s"invalid N-Quad in delete block: $l"))
  }

  /** Apply queued (set, delete) batches in order against the current
    * frame, swapping once at the end. Blank-subject set lines get fresh
    * uids (the live-load allocation path); delete lines support the
    * wildcard forms `S P *` / `S * *` plus value- and object-specific
    * deletion.
    */
  private def applyMutations(
      batches: Seq[(Seq[(String, String)], Seq[(String, String)])],
      ns: Long = 0L): Unit = {
    import spark.implicits._
    var next = triplesNs(ns)
    batches.foreach { case (sets, dels) =>
      if (sets.nonEmpty) {
        val (blankLines, uidLines) =
          sets.map(_._1).partition(_.startsWith("_:"))
        var newTriples: DataFrame =
          if (uidLines.nonEmpty) RdfSource.parse(uidLines.toDF("line"))
          else null
        if (blankLines.nonEmpty) {
          import org.apache.spark.sql.functions.{col, lit}
          val parsed = RdfSource.parseWithBlanks(blankLines.toDF("line"))
          val blanks = parsed.select(col("subjectBlank").as("label")).distinct()
          val alloc = Mutations.allocateUids(blanks, "label",
              next.select("subject"))
            .select(col("label").as("__bl"), col("uid").as("__bu"))
          val resolved = parsed
            .join(alloc, col("subjectBlank") === col("__bl"))
            .select(col("__bu").as("subject"), col("predicate"),
              lit(null).cast("long").as("objectUid"), col("value"), col("lang"),
              lit(null).cast("string").as("facets"))
          newTriples =
            if (newTriples == null) resolved
            else newTriples.unionByName(resolved)
        }
        next = Mutations.applySet(next, newTriples)
      }
      if (dels.nonEmpty) {
        // request bodies are metadata-sized, parse driver-side
        val rows = dels.map(_._1).flatMap(l =>
          delLineRe.findFirstMatchIn(l).map { m =>
            val value = Option(m.group(4)).map(
              _.replace("\\\"", "\"").replace("\\\\", "\\"))
            (java.lang.Long.parseLong(m.group(1), 16),
              Option(m.group(2)).getOrElse("*"),
              Option(m.group(3))
                .map(h => java.lang.Long.parseLong(h, 16): java.lang.Long)
                .orNull,
              value.orNull)
          })
        next = Mutations.applyDeleteTriples(next,
          rows.toDF("subject", "predicate", "objectUid", "value"))
      }
    }
    setTriplesNs(ns, next.localCheckpoint())
  }

  /** Group (block, json) rows into the `{"data": {...}}` envelope. */
  /** The data OBJECT `{"q":[…],…}` — gRPC Response.json ships this
    * verbatim; HTTP wraps it in `{"data":…}`.
    */
  private def dataJson(rows: Seq[(String, String)]): String = {
    val data = M.createObjectNode()
    rows.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (block, rs) =>
      val arr = data.putArray(block)
      rs.foreach { case (_, j) => arr.add(M.readTree(j)) }
    }
    M.writeValueAsString(data)
  }

  private def envelope(rows: Seq[(String, String)]): String =
    s"""{"data":${dataJson(rows)}}"""

  /** Append one audit entry for the request (reference ee/audit/
    * interceptor.go AuditHttp: endpoint, user from the access token,
    * request body). The body has to be re-playable for the actual
    * handler, so it is buffered once here and handed back to the
    * exchange via setStreams.
    */
  private def auditRequest(ex: HttpExchange): Unit = audit.foreach { a =>
    val bytes = ex.getRequestBody.readAllBytes()
    ex.setStreams(new java.io.ByteArrayInputStream(bytes), null)
    val user = acl.flatMap(acl0 => accessToken(ex).flatMap(t =>
      try acl0.claims(t).get("userid") catch { case _: Throwable => None }))
      .getOrElse("anonymous")
    a.log(ex.getRequestURI.getPath, user,
      maskPasswords(ex.getRequestURI.getPath, new String(bytes, UTF_8)))
  }

  /** Plaintext credentials never reach the audit log (reference
    * ee/audit/interceptor.go: skipReqBodyGrpc["Login"] drops the Login
    * payload entirely; maskPasswordFieldsInGQL rewrites password
    * arguments): the /login body is replaced wholesale, and any JSON
    * `"password":"…"` field elsewhere (GraphQL login mutations, checkpwd
    * payloads) is rewritten to stars before logging.
    */
  private def maskPasswords(path: String, body: String): String =
    if (path == "/login") """{"masked":"*******"}"""
    else body
      // JSON field form: "password":"secret"
      .replaceAll("""("password"\s*:\s*")(?:[^"\\]|\\.)*(")""", "$1*******$2")
      // GraphQL argument form inside a JSON-encoded query string:
      // password: \"secret\". A GraphQL-escaped quote in the password
      // arrives JSON-encoded as \\\" (BS BS BS ") — the content class
      // must consume it whole or the tail of the plaintext leaks past
      // the first \" into the log. Atoms, longest first: encoded
      // GraphQL \" (3 BS + "), encoded GraphQL \\ (4 BS), other encoded
      // GraphQL escape (2 BS + char), JSON-level escape (BS + char),
      // plain char; the closing \" (1 BS + ") matches no atom.
      .replaceAll(
        """(password\s*:\s*\\")(?:\\\\\\"|\\\\\\\\|\\\\[^"]|\\[^"\\]|[^"\\])*(\\")""",
        "$1*******$2")

  /** Wrap a handler with the reference's error envelope. */
  private def handler(f: HttpExchange => String)
      : com.sun.net.httpserver.HttpHandler = { ex =>
    val t0 = System.nanoTime()
    val (code, body, outcome) =
      try { auditRequest(ex); (200, f(ex), "ok") }
      catch {
        case e: Exception =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getSimpleName)
          (200, s"""{"errors":[{"message":${M.writeValueAsString(msg)}}]}""",
            "error")
      }
    // label with the REGISTERED route, not the raw request path: contexts
    // match by prefix, so /health/<unique-suffix> would otherwise mint a
    // fresh permanent counter per request — an unauthenticated client
    // could grow driver memory without bound through the open /health
    val path = ex.getHttpContext.getPath
    metrics.inc("graft_http_requests_total",
      "path" -> path, "status" -> outcome)
    metrics.addNanos("graft_request_seconds_total",
      System.nanoTime() - t0, "path" -> path)
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }
}

object HttpEndpoint {
  /** Txn-handle errors a well-behaved client should RETRY: unknown/
    * expired ts on commit, or a handle owned by another token. The gRPC
    * front maps this to status ABORTED (10) — dgo's retry loop treats
    * anything else as fatal (reference y.ErrAborted); HTTP keeps the
    * message in the standard error envelope.
    */
  final class TxnRetryException(msg: String)
    extends IllegalArgumentException(msg)

  /** The /admin ACL CRUD operation names (reference graphql/admin/
    * admin.go adminMutationHandlers/adminQueryHandlers ACL subset). */
  val aclAdminOps: Set[String] = Set(
    "addUser", "updateUser", "deleteUser", "addGroup", "updateGroup",
    "deleteGroup", "queryUser", "queryGroup", "getUser", "getGroup")

  /** Predicates whose VALUES only internal writers may touch (reference
    * x/keys.go:796 otherReservedPredicate): a subset of the dgraph.
    * namespace — dgraph.type and the ACL predicates are managed through
    * their own paths and stay out of this list.
    */
  val graphqlReserved: Set[String] = Set(
    "dgraph.graphql.xid", "dgraph.graphql.schema", "dgraph.drop.op",
    "dgraph.graphql.p_query", "dgraph.namespace.id", "dgraph.namespace.name")
}
