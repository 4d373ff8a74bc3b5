package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.TripleStore

/** Cross-file invariants the wide-read frontier pruning rests on.
  *
  * attrWide's union pruning is sound only if (a) every (table, pred)
  * the wideRegistry declares is also declared by the schema's node
  * types — the executor's ownerTypes() hint comes from the schema, so a
  * registry owner missing there would be pruned away and read back as
  * false typed nulls for valid subjects — and (b) edgeTargetTypes
  * matches the uid bands the edges construction actually emits, or a
  * traversal hop would carry the wrong frontier identity into the next
  * wide read. Both were previously unchecked conventions between
  * TripleStore, Schema, and DqlExecutor; this spec pins them to the
  * data itself at sf0.001.
  */
final class StoreInvariantSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"
  private lazy val ts = TripleStore(spark, sf)

  test("wideRegistry owners == schema owner types, per predicate") {
    val regOwners = ts.wideRegistry
      .flatMap { case (ty, _, _, cols) => cols.map { case (p, _) => p -> ty } }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(regOwners.nonEmpty)
    def schemaOwners(p: String): Set[String] =
      ts.schema.types.values.collect {
        case t if t.predicates.contains(p) => t.name
      }.toSet
    for ((p, owners) <- regOwners)
      assert(owners == schemaOwners(p),
        s"pred '$p': wideRegistry owners $owners != schema ${schemaOwners(p)} " +
          "— a table storing a pred the schema's types don't declare is " +
          "silently pruned out of the wide union (false typed nulls)")
  }

  test("edgeTargetTypes matches the actual object uid bands of edges") {
    val edgePreds = ts.edges.select(col("predicate")).distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    assert(edgePreds.nonEmpty)
    val nt = ts.nodeTypes
    for (p <- edgePreds) {
      val actual = ts.edges.filter(col("predicate") === p)
        .select(col("object").as("subject")).distinct()
        .join(nt, "subject").select(col("typeName")).distinct()
        .collect().map(_.getString(0)).toSet
      assert(actual == ts.edgeTargetTypes(p),
        s"edge '$p': data targets $actual != declared ${ts.edgeTargetTypes(p)}")
      // every object uid resolved to a type — an object outside all
      // bands would silently vanish from the join above
      val orphan = ts.edges.filter(col("predicate") === p)
        .select(col("object").as("subject")).distinct()
        .join(nt, Seq("subject"), "left_anti").count()
      assert(orphan == 0, s"edge '$p': $orphan object uids in no type band")
    }
  }

  test("edgeObjectsUnique predicates really have globally unique objects") {
    val edgePreds = ts.edges.select(col("predicate")).distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    val declared = edgePreds.filter(ts.edgeObjectsUnique)
    assert(declared.nonEmpty, "no edge declares unique objects — the " +
      "groupby dedup-skip fast path would be dead code")
    for (p <- declared) {
      val e = ts.edges.filter(col("predicate") === p).select(col("object"))
      val total = e.count()
      val distinct = e.distinct().count()
      assert(total == distinct,
        s"edge '$p' declares edgeObjectsUnique but has $total rows over " +
          s"$distinct distinct objects — the skipped dedup was load-bearing")
    }
  }

  test("attrSubjectUnique tablets are unique per (subject, lang)") {
    // EVERY declared non-uid predicate with an attr tablet: the
    // executor's dedup skip keys off ts.attrSubjectUnique for any
    // non-list predicate, so the test must pin exactly that set — a
    // dgraphType filter here once left vector/bool/geo tablets declared
    // unique but never checked. A predicate whose type has no attr
    // table at all (attr() throws) can never be read, so no dedup can
    // be skipped on it.
    val declared = ts.schema.predicates.keys.toSeq.sorted
      .filter(ts.attrSubjectUnique)
      .filterNot(ts.schema.isUidPredicate)
      .filter(p => try { ts.attr(p); true }
        catch { case _: IllegalArgumentException => false })
    assert(declared.nonEmpty, "no predicate declares attrSubjectUnique — " +
      "the seed dedup-skip fast path would be dead code")
    assert(declared.contains("embedding"),
      "the float32vector tablet must be pinned too — the executor's skip " +
        "is not limited to scalar dgraphTypes")
    for (p <- declared) {
      val a = ts.attr(p)
      val keyed =
        if (a.columns.contains("lang"))
          a.select(col("subject"), col("lang"))
        else a.select(col("subject"))
      val total = keyed.count()
      val uniq = keyed.distinct().count()
      assert(total == uniq,
        s"attr '$p' declares attrSubjectUnique but has $total rows over " +
          s"$uniq distinct keys — the skipped seed dedup was load-bearing")
    }
  }

  test("facet contract: typed facet columns honor their declared types") {
    // facet_filter (GraphQueries) compares the raw _ft_quantity double
    // where the declared facet type is long — exact only while every
    // stored value is integral; and the _ft_totalprice double is
    // compared through a decimal(18,2) cast — exact only while the cast
    // round-trips. Pin both so a fractional quantity or a sub-cent
    // price can't silently flip gate inclusion (r17 verdict #4).
    val typed = ts.facetKeys.toSeq.flatMap { case (pred, kvs) =>
      kvs.map { case (k, t) => (pred, k, t) }
    }
    val longs = typed.collect { case (p, k, "long") => (p, k) }
    val doubles = typed.collect { case (p, k, "double") => (p, k) }
    assert(longs.nonEmpty && doubles.nonEmpty)
    for ((pred, k) <- longs) {
      val c = col(s"_ft_$k").cast("double")
      val bad = ts.edge(pred).filter(c.isNotNull && c =!= floor(c)).count()
      assert(bad == 0, s"edge '$pred' facet '$k' declares long but holds " +
        s"$bad non-integral values — raw-double compares would diverge " +
        "from the long contract")
    }
    for ((pred, k) <- doubles) {
      val c = col(s"_ft_$k").cast("double")
      val bad = ts.edge(pred)
        .filter(c.isNotNull && c.cast("decimal(18,2)").cast("double") =!= c)
        .count()
      assert(bad == 0, s"edge '$pred' facet '$k': $bad values do not " +
        "round-trip decimal(18,2) — the gates' cast chain would lose them")
    }
  }

  test("derived: one build per key, separate builds per key, nested builds") {
    // a private store, so these keys never meet the session's artifacts
    val store = new TripleStore(spark, sf)
    var builds = 0
    def a: Int = store.derived("a") { builds += 1; 1 }
    assert(a == 1 && a == 1 && builds == 1)
    assert(store.derived(("b", 2)) { builds += 1; "two" } == "two")
    assert(builds == 2)
    // a build that asks for another key (clusters → LSH candidates →
    // shingle sets) gets it, and both keys are cached afterwards
    val outer = store.derived("outer") {
      builds += 1
      store.derived("inner") { builds += 1; 10 } + 1
    }
    assert(outer == 11 && builds == 4)
    assert(store.derived("inner")(-1) == 10)
    assert(store.derived("outer")(-1) == 11 && builds == 4)
  }
}
