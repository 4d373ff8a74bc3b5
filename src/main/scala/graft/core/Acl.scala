package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Bcrypt
import graft.graphql.Auth

/** Access control + multi-tenancy (reference acl/ + the namespace
  * machinery, ee/acl/acl.go):
  *
  *  - **Users / groups / rules**: a user belongs to groups; a group
  *    carries per-predicate permission bits (READ=4 WRITE=2 MODIFY=1 —
  *    the reference's `dgraph.rule.permission` bitmask). `login`
  *    verifies the bcrypt password and issues an HS256 access JWT
  *    carrying userId + groups + namespace (the reference's accessJwt,
  *    edgraph/access_ee.go) — verified by the same [[Auth]] machinery
  *    the GraphQL layer uses.
  *  - **Read enforcement**: [[Acl.storeFor]] wraps any [[GraphStore]]
  *    so unauthorized predicates resolve EMPTY — the reference filters
  *    unauthorized predicates out of queries silently rather than
  *    erroring (worker/acl.go). Guardians (members of the `guardians`
  *    group) see everything.
  *  - **Namespaces**: [[Acl.namespaceView]] scopes a triples frame to
  *    one tenant through its `ns` column. Spark-first: at scale the
  *    triples are written PARTITIONED BY ns, so the filter is directory
  *    pruning — a tenant's query never scans another tenant's bytes
  *    (the reference isolates by prefixing every key with the
  *    namespace id; a partition column is the columnar analogue).
  *
  *  - **Write enforcement**: [[Acl.authorizeMutation]] gates the
  *    predicates a mutation touches (set + delete) on the Write bit —
  *    erroring with the blocked list like the reference
  *    (edgraph/access.go:839), guardians exempt except for the ACL
  *    predicates themselves. The engine's mutation surface operates on
  *    caller-supplied frames, so the check runs where the caller
  *    composes the mutation.
  *
  * Tenancy boundaries: users AND groups key by (namespace, id);
  *    permission rules resolve within the token's namespace; whole-store
  *    admin ops require a guardian OF THE GALAXY (namespace 0) at the
  *    transport (HttpEndpoint.requireGalaxyGuardianToken).
  */
object Acl {

  val Read = 4
  val Write = 2
  val Modify = 1

  /** The reference's super-group: full access to every predicate. */
  val Guardians = "guardians"

  /** Reserved ACL-feature predicates (x/keys.go:639 aclPredicateMap) —
    * NOBODY mutates these through the data path, guardians included
    * (edgraph/access.go:815 "the permission of ACL predicates can not
    * be changed").
    */
  val AclPredicates: Set[String] = Set(
    "dgraph.xid", "dgraph.password", "dgraph.user.group",
    "dgraph.rule.predicate", "dgraph.rule.permission", "dgraph.acl.rule")

  final case class Rule(predicate: String, permission: Int)
  final case class User(id: String, passwordHash: String,
      groups: Set[String], namespace: Long = 0L)

  final case class AclException(msg: String) extends RuntimeException(msg)

  /** Deterministic bcrypt hash for fixtures/tests (production hashes
    * come from a SecureRandom salt — any `$2a$` hash verifies).
    */
  def hashPassword(userId: String, password: String, cost: Int = 4): String =
    Bcrypt.hashpw(password, Bcrypt.saltFromSeed(s"acl:$userId", cost))
}

final class Acl(users: Map[String, Acl.User],
    groups: Map[String, Seq[Acl.Rule]],
    secret: String) {
  import Acl._

  // Runtime-mutable ACL registry (reference ee/acl: users/groups/rules
  // are data, administered through /admin GraphQL mutations). Volatile
  // immutable maps: reads (every request) are lock-free; the rare admin
  // write swaps a new map under the lock. The constructor maps seed it.
  // Users AND groups key by (namespace, id) — the reference stores ACL
  // nodes inside each tenant's own data (graphql/admin/namespace.go:29
  // resolveAddNamespace creates a groot + guardians in EVERY namespace),
  // so the same id must coexist per tenant and a tenant's group rules
  // must never apply to another tenant's users. A tuple key, not a
  // delimited string: "5#groot" as a namespace-0 user id must not alias
  // tenant 5's groot.
  private def ukey(ns: Long, id: String): (Long, String) = (ns, id)
  @volatile private var userReg: Map[(Long, String), Acl.User] =
    users.map { case (id, u) => (u.namespace, id) -> u }
  @volatile private var groupReg: Map[(Long, String), Seq[Acl.Rule]] =
    groups.map { case (name, rs) => (0L, name) -> rs }
  private val adminLock = new Object

  /** Admin surface (used by the /admin GraphQL mutations; callers are
    * guardian-gated at the transport). addUser errors on an existing
    * name like the reference ("because id ... already exists").
    */
  def addUser(u: Acl.User): Unit = adminLock.synchronized {
    if (userReg.contains(ukey(u.namespace, u.id)))
      throw AclException(s"couldn't add user because id ${u.id} already exists")
    userReg = userReg + (ukey(u.namespace, u.id) -> u)
  }
  /** Admin-lockout guard (reference: "cannot delete guardians group" /
    * "cannot delete groot user", ee/acl): an operation may not remove
    * the LAST guardian of the DEFAULT namespace — with no galaxy
    * guardian left, every /admin call is rejected forever and the ACL
    * can never be repaired. Tenant guardians don't count: they cannot
    * administer the galaxy.
    */
  private def requireGuardianSurvives(
      afterUsers: Map[(Long, String), Acl.User]): Unit = {
    def galaxyGuardian(m: Map[(Long, String), Acl.User]): Boolean =
      m.values.exists(u => u.namespace == 0L && u.groups.contains(Guardians))
    if (galaxyGuardian(userReg) && !galaxyGuardian(afterUsers))
      throw AclException(
        "cannot remove the last guardian — the ACL would be unrepairable")
  }

  def deleteUser(id: String, ns: Long = 0L): Boolean = adminLock.synchronized {
    val existed = userReg.contains(ukey(ns, id))
    requireGuardianSurvives(userReg - ukey(ns, id))
    userReg = userReg - ukey(ns, id)
    existed
  }
  def updateUser(id: String, passwordHash: Option[String],
      addGroups: Set[String], removeGroups: Set[String],
      ns: Long = 0L): Acl.User =
    adminLock.synchronized {
      val u = userReg.getOrElse(ukey(ns, id),
        throw AclException(s"user $id not found"))
      val neu = u.copy(
        passwordHash = passwordHash.getOrElse(u.passwordHash),
        groups = u.groups ++ addGroups -- removeGroups)
      requireGuardianSurvives(userReg + (ukey(ns, id) -> neu))
      userReg = userReg + (ukey(ns, id) -> neu)
      neu
    }

  /** Drop every user AND group of a namespace (deleteNamespace
    * teardown, reference namespace.go:52 resolveDeleteNamespace drops
    * the tenant's data wholesale — its ACL nodes live in that data).
    */
  def dropNamespaceUsers(ns: Long): Int = adminLock.synchronized {
    require(ns != 0L, "cannot drop users of the default namespace")
    val before = userReg.size
    userReg = userReg.filterNot { case (_, u) => u.namespace == ns }
    groupReg = groupReg.filterNot { case ((gns, _), _) => gns == ns }
    before - userReg.size
  }
  def addGroup(name: String, rules: Seq[Acl.Rule] = Nil,
      ns: Long = 0L): Unit =
    adminLock.synchronized {
      if (groupReg.contains((ns, name)))
        throw AclException(
          s"couldn't add group because id $name already exists")
      groupReg = groupReg + ((ns, name) -> rules)
    }
  def deleteGroup(name: String, ns: Long = 0L): Boolean =
    adminLock.synchronized {
      // reference ee/acl: the guardians super-group may not be deleted —
      // stripping it from every user would permanently lock /admin (the
      // galaxy's) or the tenant's own admin surface
      if (name == Guardians)
        throw AclException(s"cannot delete group $Guardians")
      val existed = groupReg.contains((ns, name))
      groupReg = groupReg - ((ns, name))
      // membership strips only within the group's own namespace — a
      // tenant deleting its "eng" group must not strip ns-0's "eng"
      userReg = userReg.map { case (k, u) =>
        k -> (if (u.namespace == ns) u.copy(groups = u.groups - name) else u)
      }
      existed
    }
  /** Set/overwrite rules by predicate (reference updateGroup set.rules:
    * a rule per predicate; setting an existing predicate replaces its
    * permission) and remove rules by predicate name.
    */
  def updateGroupRules(name: String, set: Seq[Acl.Rule],
      remove: Set[String], ns: Long = 0L): Seq[Acl.Rule] =
    adminLock.synchronized {
      val cur = groupReg.getOrElse((ns, name),
        throw AclException(s"group $name not found"))
      val afterRemove = cur.filterNot(r => remove.contains(r.predicate))
      val merged = afterRemove.filterNot(r =>
        set.exists(_.predicate == r.predicate)) ++ set
      groupReg = groupReg + ((ns, name) -> merged)
      merged
    }
  def listUsers: Seq[Acl.User] =
    userReg.values.toSeq.sortBy(u => (u.namespace, u.id))
  def listGroups(ns: Long = 0L): Seq[(String, Seq[Acl.Rule])] =
    groupReg.toSeq.collect { case ((gns, n), rs) if gns == ns => (n, rs) }
      .sortBy(_._1)
  def getUser(id: String, ns: Long = 0L): Option[Acl.User] =
    userReg.get(ukey(ns, id))
  def getGroup(name: String, ns: Long = 0L): Option[Seq[Acl.Rule]] =
    groupReg.get((ns, name))

  /** Verify the password, issue the access JWT (userId, groups joined
    * multi-valued, namespace). A bad user or password rejects with the
    * same error — no user-existence oracle.
    */
  def login(userId: String, password: String, namespace: Long = 0L): String = {
    val u = userReg.get(ukey(namespace, userId))
      .filter(u => Bcrypt.checkpw(password, u.passwordHash))
      .getOrElse(throw AclException("invalid user or password"))
    def b64(x: Array[Byte]) = java.util.Base64.getUrlEncoder.withoutPadding
      .encodeToString(x)
    val header = b64("""{"alg":"HS256","typ":"JWT"}""".getBytes("UTF-8"))
    // serialize through Jackson, not string interpolation: a userId or
    // group name containing '"' or '\' must not inject claims into a
    // payload the server then SIGNS
    val M = new com.fasterxml.jackson.databind.ObjectMapper()
    val p = M.createObjectNode()
    p.put("userid", u.id)
    val ga = p.putArray("groups")
    u.groups.toSeq.sorted.foreach(ga.add)
    p.put("namespace", u.namespace)
    val payload = b64(M.writeValueAsString(p).getBytes("UTF-8"))
    val mac = javax.crypto.Mac.getInstance("HmacSHA256")
    mac.init(new javax.crypto.spec.SecretKeySpec(
      secret.getBytes("UTF-8"), "HmacSHA256"))
    s"$header.$payload." +
      b64(mac.doFinal(s"$header.$payload".getBytes("UTF-8")))
  }

  /** Verified claims of an access JWT (signature-checked). */
  def claims(accessJwt: String): Map[String, String] =
    Auth.verifiedClaims(accessJwt, Auth.HmacSecret(secret))

  private def groupsOf(accessJwt: String): Set[String] =
    claims(accessJwt).get("groups").toSet[String]
      .flatMap(_.split(Auth.MultiSep).filter(_.nonEmpty))

  /** The token's verified namespace claim — group rules resolve WITHIN
    * it, so a tenant's "eng" group can never grant against ns-0's. */
  private def nsOfClaims(accessJwt: String): Long = {
    // A missing or malformed tenancy claim must never silently land in
    // namespace 0 (the most-privileged galaxy) — reject the token.
    val raw = claims(accessJwt).getOrElse("namespace",
      throw AclException("token is missing the namespace claim"))
    try raw.toLong
    catch {
      case _: NumberFormatException =>
        throw AclException(s"token carries a malformed namespace claim: $raw")
    }
  }

  private def perm(gs: Set[String], predicate: String, ns: Long): Int =
    if (gs.contains(Guardians)) Read | Write | Modify
    else gs.flatMap(g => groupReg.getOrElse((ns, g), Nil))
      .filter(_.predicate == predicate).map(_.permission)
      .foldLeft(0)(_ | _)

  def canRead(gs: Set[String], predicate: String, ns: Long = 0L): Boolean =
    (perm(gs, predicate, ns) & Read) != 0
  def canWrite(gs: Set[String], predicate: String, ns: Long = 0L): Boolean =
    (perm(gs, predicate, ns) & Write) != 0

  /** Is the token's bearer in the guardians group (signature-checked)? */
  def isGuardian(accessJwt: String): Boolean =
    groupsOf(accessJwt).contains(Guardians)

  /** Admin-surface gate (reference edgraph/server.go AlterAllowed /
    * guardianOnly): schema alters, drops, and GraphQL-schema updates are
    * guardian-only when ACL is enabled. Errors with the reference's
    * shape rather than silently filtering.
    */
  def requireGuardian(accessJwt: String, op: String): Unit = {
    val userId = claims(accessJwt).getOrElse("userid", "unknown")
    if (!isGuardian(accessJwt)) throw AclException(
      s"unauthorized to $op. Only guardians are allowed access. " +
        s"User '$userId' is not a member of guardians group.")
  }

  /** ACL-enforced view of `inner` for the token's bearer: unauthorized
    * predicates resolve EMPTY (reference worker/acl.go filters them out
    * of queries silently). dgraph.type stays visible — the reference
    * always allows it, since type membership is not predicate data.
    */
  def storeFor(inner: GraphStore, accessJwt: String): GraphStore = {
    val gs = groupsOf(accessJwt)
    val ns = nsOfClaims(accessJwt)
    new AclStore(inner, p => canRead(gs, p, ns))
  }

  /** Write-side enforcement: every predicate a mutation touches (set OR
    * delete — edgraph/access.go:796) must carry the Write bit, and the
    * mutation ERRORS listing the blocked predicates rather than
    * silently filtering like reads (access.go:839 "unauthorized to
    * mutate following predicates"). Guardians mutate anything except
    * the ACL predicates themselves. `dgraph.type` rides along with any
    * set — the reference treats membership rows as data here, so it
    * needs Write like any predicate unless the caller is a guardian.
    * The wildcard `*` of an `S * *` delete is not a predicate
    * (access.go:746 skips _STAR_ALL).
    */
  def authorizeMutation(accessJwt: String, preds: Seq[String]): Unit = {
    val gs = groupsOf(accessJwt)
    val ns = nsOfClaims(accessJwt)
    val touched = preds.distinct.filter(_ != "*")
    val aclTouched = touched.filter(p => AclPredicates(p.toLowerCase)).sorted
    if (aclTouched.nonEmpty) throw AclException(
      s"unauthorized to mutate acl predicates: ${aclTouched.mkString(" ")}")
    if (!gs.contains(Guardians)) {
      val blocked = touched.filterNot(p => canWrite(gs, p, ns)).sorted
      if (blocked.nonEmpty) throw AclException(
        s"unauthorized to mutate following predicates: ${blocked.mkString(" ")}")
    }
  }

  /** Frame form: authorize against the distinct predicates of the
    * mutation frames (set + delete). The distinct is bounded by the
    * schema's predicate count — metadata-scale at any data size.
    */
  def authorizeMutationFrames(accessJwt: String, frames: DataFrame*): Unit =
    authorizeMutation(accessJwt, frames
      .map(_.select(col("predicate")).distinct())
      .reduce(_ union _).distinct()
      .collect().map(_.getString(0)).toSeq)
}

/** GraphStore wrapper dropping unreadable predicates. Empty frames keep
  * the tablet's exact schema (limit 0 of the real view), so plans stay
  * resolvable and render the predicate as absent, like the reference.
  */
final class AclStore(inner: GraphStore, readable: String => Boolean)
    extends GraphStore {
  def spark: org.apache.spark.sql.SparkSession = inner.spark
  def schema: SchemaRegistry = inner.schema
  def nodeTypes: DataFrame = inner.nodeTypes
  def facetKeys: Map[String, Seq[(String, String)]] = inner.facetKeys
  override def estimatedBytes: Option[Long] = inner.estimatedBytes
  def edges: DataFrame = {
    val ok = inner.schema.predicates.keys.filter(readable).toSeq
    if (ok.isEmpty) inner.edges.limit(0)
    else inner.edges.filter(col("predicate").isin(ok: _*))
  }
  def attr(predicate: String): DataFrame =
    if (readable(predicate)) inner.attr(predicate)
    else inner.attr(predicate).limit(0)
  override def edge(predicate: String): DataFrame =
    if (readable(predicate)) inner.edge(predicate)
    else inner.edge(predicate).limit(0)
}

object Namespaces {

  /** Scope a multi-tenant triples frame (canonical columns + `ns` LONG)
    * to one namespace. Written `partitionBy("ns")`, the filter prunes
    * to the tenant's directories — no cross-tenant bytes are read.
    * The `ns` column is dropped so the scoped frame is a plain
    * canonical triples frame any store can ingest.
    */
  def view(triples: DataFrame, ns: Long): DataFrame =
    triples.filter(col("ns") === ns).drop("ns")
}
