package graft.graphql

/** SDL (schema definition language) subset: `type T { field: Type! }`
  * with @search/@id/@hasInverse directives parsed and recorded.
  *
  * The reference derives its whole GraphQL API surface from such a schema
  * (/root/reference/graphql/schema/gqlschema.go:1054 generates query/get/
  * aggregate fields per type). Divergence from the reference: it flattens
  * GraphQL fields to `Type.field` Dgraph predicates; our store keeps
  * dgraph-style global predicate names, so a field maps to the predicate
  * of the same name (declared via the `predicates` registry in
  * graft.core.SchemaRegistry).
  */
final case class SdlField(
    name: String,
    typeName: String,
    isList: Boolean,
    isId: Boolean,
    searchable: Seq[String],     // @search(by: [...]) tokenizer names
    isEmbedding: Boolean = false, // @embedding [Float!] vector field
    isLambda: Boolean = false,    // @lambda computed field
    customHttp: Option[String] = None) { // @custom(http: {...}) raw args

  /** hnsw metric of an embedding field — `@search(by: ["hnsw(metric:
    * euclidean, exponent: 4)"])`; euclidean when unspecified (reference
    * graphql/schema EmbeddingSearchMetric).
    */
  def embeddingMetric: String =
    searchable.find(_.startsWith("hnsw"))
      .flatMap("""metric:\s*"?(\w+)"?""".r.findFirstMatchIn(_))
      .map(_.group(1)).getOrElse("euclidean")
}

final case class SdlType(name: String, fields: Seq[SdlField],
    isInterface: Boolean = false, implements: Seq[String] = Nil,
    auth: Map[String, Auth.Node] = Map.empty,
    secret: Option[String] = None,     // @secret(field: "...") password pred
    withSubscription: Boolean = false,  // @withSubscription: poll-able
    lambdaOnMutate: Set[String] = Set.empty) { // @lambdaOnMutate ops
  def field(n: String): Option[SdlField] = fields.find(_.name == n)
}

/** `# Dgraph.Authorization {...}` magic-comment config (reference
  * graphql/authorization/auth.go ParseAuthMeta): names the request
  * header carrying the JWT, the namespace whose nested object holds the
  * custom claims, and the verification algorithm + key.
  */
final case class AuthHeaderConfig(header: String, namespace: String,
    algo: String, verificationKey: String) {
  def key: Auth.JwtKey = algo match {
    case "RS256" => Auth.RsaPublicPem(verificationKey)
    case _ => Auth.HmacSecret(verificationKey)
  }
}

/** A `type Query` field backed by a raw DQL document —
  * `myQuery(arg: String): [T] @custom(dql: "query q($arg: string) ...")`
  * (reference graphql/schema/gqlschema.go:287 `@custom(dql: String)`,
  * graphql/resolve/query.go:147 customDQLQueryResolver). The GraphQL
  * arguments become the DQL document's `$`-prefixed query variables,
  * stringified like the reference's convertScalarToString.
  */
final case class CustomDql(args: Seq[String], typeName: String,
    isList: Boolean, dql: String)

final class GqlSchema(val types: Map[String, SdlType],
    val authConfig: Option[AuthHeaderConfig] = None,
    val customDql: Map[String, CustomDql] = Map.empty) {
  def typ(n: String): SdlType = types.getOrElse(n,
    throw new IllegalArgumentException(s"unknown GraphQL type: $n"))

  /** Concrete types implementing interface `i` (reference
    * graphql/schema/gqlschema.go: an interface's query field matches
    * every implementing type). Empty for concrete types.
    */
  def implementers(i: String): Seq[String] =
    types.values.filter(_.implements.contains(i)).map(_.name).toSeq.sorted
}

object SdlParser {
  /** Parse an SDL document. Tolerant of `!` non-null markers and skips
    * directive arguments it doesn't model.
    */
  def parse(sdl: String): GqlSchema = {
    // `# Dgraph.Authorization {"VerificationKey":..,"Header":..,
    // "Namespace":..,"Algo":..}` — the magic comment survives comment
    // stripping (reference graphql/authorization/auth.go ParseAuthMeta)
    val authCfg = sdl.linesIterator.map(_.trim)
      .find(_.startsWith("# Dgraph.Authorization"))
      .flatMap { l =>
        val json = l.stripPrefix("# Dgraph.Authorization").trim
        if (!json.startsWith("{")) None
        else {
          val m = new com.fasterxml.jackson.databind.ObjectMapper()
            .readTree(json)
          def f(k: String) = Option(m.get(k)).map(_.asText()).getOrElse("")
          Some(AuthHeaderConfig(f("Header"), f("Namespace"),
            if (f("Algo").isEmpty) "HS256" else f("Algo"),
            f("VerificationKey")))
        }
      }
    // strip comments
    val src0 = sdl.linesIterator.map(l => l.indexOf('#') match {
      case -1 => l; case i => l.substring(0, i)
    }).mkString("\n")
    // TYPE-LEVEL directive pre-pass: `@auth(...)` (and `@secret` etc.)
    // sit between the type header and the body brace, and auth rule
    // strings contain braces/parens the field regex must never see —
    // capture @auth per type with a string-aware balanced scan, then
    // blank the whole directive region (space-padded, so offsets hold)
    val authByType = scala.collection.mutable.Map.empty[String, Map[String, Auth.Node]]
    val secretByType = scala.collection.mutable.Map.empty[String, String]
    val subByType = scala.collection.mutable.Set.empty[String]
    val lomByType = scala.collection.mutable.Map.empty[String, Set[String]]
    val headPat = """(type|interface)\s+(\w+)""".r
    val sb = new StringBuilder(src0)
    // @custom(dql:) pre-pass: the DQL document is a quoted string full
    // of braces/parens the field regex must never see — capture the
    // whole field definition and blank it (space-padded, offsets hold).
    // Reference: `@custom(dql: String)` on Query fields only
    // (graphql/schema/gqlschema.go:287); the block-string and
    // escaped-string forms both occur in reference schemas.
    val customDqlPat =
      ("""(?s)(\w+)\s*(?:\(([^()]*)\))?\s*:\s*(\[)?\s*(\w+)[\s\]!]*""" +
        """@custom\s*\(\s*dql\s*:\s*""" +
        """(?:\"\"\"(.*?)\"\"\"|\"((?:[^\"\\]|\\.)*)\")\s*,?\s*\)""").r
    val customDql = customDqlPat.findAllMatchIn(src0).map { m =>
      val args = Option(m.group(2)).toSeq
        .flatMap(_.split(",")).map(_.split(":")(0).trim).filter(_.nonEmpty)
      val dql = Option(m.group(5)).getOrElse(
        m.group(6).replace("\\\"", "\"").replace("\\n", "\n")
          .replace("\\\\", "\\"))
      var z = m.start
      while (z < m.end) { sb.setCharAt(z, ' '); z += 1 }
      m.group(1) -> CustomDql(args, m.group(4), m.group(3) != null, dql)
    }.toMap
    for (m <- headPat.findAllMatchIn(src0)) {
      val tname = m.group(2)
      // scan from the header end to the body-open '{' at paren depth 0,
      // skipping string literals (single- and triple-quoted)
      var j = m.end
      var depth = 0
      var ok = true
      while (ok && j < src0.length && !(src0.charAt(j) == '{' && depth == 0)) {
        if (src0.startsWith("\"\"\"", j)) {
          val e = src0.indexOf("\"\"\"", j + 3)
          j = if (e < 0) src0.length else e + 3
        } else src0.charAt(j) match {
          case '"' =>
            j += 1
            while (j < src0.length && src0.charAt(j) != '"') {
              if (src0.charAt(j) == '\\') j += 1
              j += 1
            }
            j += 1
          case '(' => depth += 1; j += 1
          case ')' => depth -= 1; j += 1
          // a closing brace at TOP level means no body follows this
          // header (braces inside @auth(...) parens are rule syntax)
          case '}' if depth == 0 => ok = false
          case _ => j += 1
        }
      }
      if (ok && j < src0.length) {
        val header = src0.substring(m.end, j)
        val at = header.indexOf('@')
        if (at >= 0) {
          // @secret(field: "pwd") — the generated check<T>Password query
          // verifies against this password predicate
          """@secret\s*\(\s*field\s*:\s*"(\w+)"\s*\)""".r
            .findFirstMatchIn(header)
            .foreach(sm => secretByType(tname) = sm.group(1))
          // @withSubscription — this type's queries may be subscribed to
          // (reference graphql/schema/gqlschema.go subscription fields)
          if ("""@withSubscription\b""".r.findFirstIn(header).isDefined)
            subByType += tname
          // @lambdaOnMutate(add: true, update: false, delete: true) —
          // post-mutation webhooks to the lambda server (reference
          // gqlschema.go:292 + resolve/webhook.go)
          """@lambdaOnMutate\s*\(([^)]*)\)""".r.findFirstMatchIn(header)
            .foreach { lm =>
              lomByType(tname) = Seq("add", "update", "delete").filter(op =>
                (op + """\s*:\s*true""").r.findFirstIn(lm.group(1)).isDefined)
                .toSet
            }
          val authIdx = header.indexOf("@auth")
          if (authIdx >= 0) {
            val open = header.indexOf('(', authIdx)
            if (open >= 0) {
              // balanced, string-aware scan for the matching ')'
              var k = open + 1; var d = 1
              while (k < header.length && d > 0) {
                if (header.startsWith("\"\"\"", k)) {
                  val e = header.indexOf("\"\"\"", k + 3)
                  k = if (e < 0) header.length else e + 3
                } else header.charAt(k) match {
                  case '"' =>
                    k += 1
                    while (k < header.length && header.charAt(k) != '"') {
                      if (header.charAt(k) == '\\') k += 1
                      k += 1
                    }
                    k += 1
                  case '(' => d += 1; k += 1
                  case ')' => d -= 1; k += 1
                  case _ => k += 1
                }
              }
              authByType(tname) =
                Auth.parseDirective(header.substring(open + 1, k - 1))
            }
          }
          // blank every directive char (keep implements text before '@')
          var z = m.end + at
          while (z < j) { sb.setCharAt(z, ' '); z += 1 }
        }
      }
    }
    val src1 = sb.toString
    // braces inside directive parens — `@custom(http: {url: ...})` —
    // would truncate typePat's non-greedy body match at the wrong '}';
    // swap them for sentinel chars at paren depth > 0 and restore them
    // in any captured directive text (customHttp below)
    val sb2 = new StringBuilder(src1)
    var bd = 0
    var bi = 0
    while (bi < sb2.length) {
      sb2.charAt(bi) match {
        case '(' => bd += 1
        case ')' => bd -= 1
        case '{' if bd > 0 => sb2.setCharAt(bi, '⟨')
        case '}' if bd > 0 => sb2.setCharAt(bi, '⟩')
        case _ => ()
      }
      bi += 1
    }
    val src = sb2.toString
    val typePat =
      """(?s)(type|interface)\s+(\w+)(?:\s+implements\s+([\w\s&]+?))?\s*\{(.*?)\}""".r
    // directive args may nest one paren level and carry quoted specs:
    // @search(by: ["hnsw(metric: euclidean, exponent: 4)"])
    val fieldPat = """(\w+)\s*:\s*(\[)?\s*(\w+)\s*!?\s*(\])?\s*!?\s*((?:@\w+(?:\((?:[^()]|\([^)]*\))*\))?\s*)*)""".r
    val searchByPat = """@search\s*\(\s*by\s*:\s*\[([^\]]*)\]\s*\)""".r
    // split a by-list on TOP-LEVEL commas, strip quotes — a quoted
    // hnsw(...) spec is ONE entry
    def splitBy(s: String): Seq[String] = {
      val out = Seq.newBuilder[String]
      var depth = 0; val cur = new StringBuilder
      s.foreach {
        case '(' => depth += 1; cur.append('(')
        case ')' => depth -= 1; cur.append(')')
        case ',' if depth == 0 =>
          if (cur.nonEmpty) out += cur.result().trim; cur.clear()
        case c => cur.append(c)
      }
      if (cur.nonEmpty) out += cur.result().trim
      out.result().map(_.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty)
    }
    // `union U = A | B | C` (reference gqlschema.go union support):
    // modeled as a FIELDLESS INTERFACE whose members implement it — the
    // implementer machinery then gives union fields __typename
    // discrimination, inline-fragment validation, per-member @auth
    // enforcement, and type(U, members...) seeds for free
    // members: names separated by | (leading pipe and line wraps legal
    // per the GraphQL spec). Continuation REQUIRES a pipe — a bare name
    // after the list is the next definition's keyword, so the pattern
    // stops there instead of greedily swallowing it (`union U = A | B
    // union V = C` must yield BOTH unions, not eat `union V`).
    val unionPat = """union\s+(\w+)\s*=\s*\|?\s*(\w+(?:\s*\|\s*\w+)*)""".r
    val unions = unionPat.findAllMatchIn(src).map { m =>
      m.group(1) -> m.group(2).split("[\\s|]+").filter(_.nonEmpty).toSeq
    }.toMap
    val memberOf: Map[String, Seq[String]] = unions.toSeq
      .flatMap { case (u, ms) => ms.map(_ -> u) }
      .groupBy(_._1).map { case (m, us) => m -> us.map(_._2) }
    val raw = typePat.findAllMatchIn(src).map { m =>
      val tname = m.group(2)
      val impls = Option(m.group(3)).map(
        _.split("&").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
      val body = m.group(4)
      val fields = fieldPat.findAllMatchIn(body).map { f =>
        val dirText = Option(f.group(5)).getOrElse("")
        val search =
          searchByPat.findFirstMatchIn(dirText)
            .map(m => splitBy(m.group(1)))
            .orElse(if (dirText.contains("@search")) Some(Seq("default")) else None)
            .getOrElse(Nil)
        SdlField(
          name = f.group(1),
          typeName = f.group(3),
          isList = f.group(2) != null,
          isId = f.group(3) == "ID" || dirText.contains("@id"),
          searchable = search,
          isEmbedding = dirText.contains("@embedding"),
          isLambda = dirText.contains("@lambda"),
          customHttp = """@custom\s*\(((?:[^()]|\([^)]*\))*)\)""".r
            .findFirstMatchIn(dirText)
            .map(_.group(1).replace('⟨', '{').replace('⟩', '}')))
      }.toSeq
      tname -> SdlType(tname, fields,
        isInterface = m.group(1) == "interface",
        implements = impls ++ memberOf.getOrElse(tname, Nil),
        auth = authByType.getOrElse(tname, Map.empty),
        secret = secretByType.get(tname),
        withSubscription = subByType.contains(tname),
        lambdaOnMutate = lomByType.getOrElse(tname, Set.empty))
    }.toMap ++ unions.map { case (u, _) =>
      u -> SdlType(u, Seq(SdlField("id", "ID", isList = false,
        isId = true, searchable = Nil)), isInterface = true)
    }
    // implementing types inherit the interface's fields (reference
    // gqlschema: implementers don't redeclare them); own fields win on
    // a name clash
    val types = raw.map { case (n, t) =>
      val inherited = t.implements.flatMap(i => raw.get(i).toSeq)
        .flatMap(_.fields)
        .filterNot(f => t.fields.exists(_.name == f.name))
      // interface @auth rules AND-merge into implementing types, and the
      // interface's own auth clears — operations on an interface verify
      // against the concrete types (reference graphql/schema/auth.go:218
      // mergeAuthRules + the reinitialize loop)
      val auth =
        if (t.isInterface) Map.empty[String, Auth.Node]
        else t.implements.flatMap(i => raw.get(i).toSeq)
          .foldLeft(t.auth) { (acc, it) =>
            it.auth.foldLeft(acc) { case (a, (op, inode)) =>
              a.updated(op, a.get(op) match {
                case Some(own) => Auth.And(Seq(own, inode))
                case None => inode
              })
            }
          }
      // @withSubscription on an interface flows to its implementers
      // (reference: the directive on an interface subscribes its types)
      val withSub = t.withSubscription ||
        t.implements.exists(i => raw.get(i).exists(_.withSubscription))
      // @lambdaOnMutate on an interface flows to its implementers
      // (reference: directive legal on OBJECT | INTERFACE)
      val lom = t.lambdaOnMutate ++
        t.implements.flatMap(i => raw.get(i).toSeq).flatMap(_.lambdaOnMutate)
      n -> t.copy(fields = inherited ++ t.fields, auth = auth,
        withSubscription = withSub, lambdaOnMutate = lom)
    }
    new GqlSchema(types, authCfg, customDql)
  }

  /** The GraphQL schema over the derived TPC-H graph (same shape as
    * core.SchemaRegistry.tpch — field name == predicate name).
    */
  val tpch: GqlSchema = parse("""
    type Region {
      id: ID!
      name: String! @search(by: [exact, term])
    }
    type Nation {
      id: ID!
      name: String! @search(by: [exact, term])
      in_region: Region
    }
    interface Party {
      id: ID!
      name: String! @search(by: [exact, term])
      acctbal: Float @search
      located_in: Nation
    }
    type Customer implements Party {
      name: String! @search(by: [exact, term, trigram])
      mktsegment: String @search(by: [exact])
      placed: [Order]
    }
    type Supplier implements Party {
    }
    type Part {
      id: ID!
      name: String! @search(by: [term, trigram])
      brand: String @search(by: [exact])
      ptype: String @search(by: [term, fulltext])
      size: Int @search
      retailprice: Float @search
    }
    type Order {
      id: ID!
      orderstatus: String @search(by: [exact])
      orderpriority: String @search(by: [exact, term])
      totalprice: Float @search
      orderdate: DateTime @search
      has_line: [Lineitem]
    }
    type Lineitem {
      id: ID!
      quantity: Float
      extendedprice: Float
      discount: Float
      returnflag: String @search(by: [exact])
      linestatus: String @search(by: [exact])
      shipdate: DateTime @search
      of_part: Part
      by_supplier: Supplier
    }
    type Document {
      id: ID!
      text: String @search(by: [fulltext, term])
      source: String @search(by: [exact])
      n_chars: Int @search
    }
  """)
}
