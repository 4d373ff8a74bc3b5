package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType
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

  test("schema and store agree on every (type, predicate) pair") {
    // edges, `text` and `embedding` included: every predicate's subjects,
    // typed through nodeTypes, must be exactly the schema's owner types
    val rows = ts.schema.predicates.keys.toSeq.sorted.map { p =>
      val tablet = if (ts.schema.isUidPredicate(p)) ts.edge(p) else ts.attr(p)
      tablet.select(col("subject"), lit(p).as("predicate"))
    }.reduce(_ unionByName _).distinct()
    val orphan = rows.join(ts.nodeTypes, Seq("subject"), "left_anti").count()
    assert(orphan == 0, s"$orphan (subject, predicate) rows in no type band")
    val data = rows.join(ts.nodeTypes, "subject")
      .select(col("typeName"), col("predicate")).distinct()
      .collect().map(r => r.getString(0) -> r.getString(1)).toSet
    val declared = ts.schema.types.values
      .flatMap(t => t.predicates.map(t.name -> _)).toSet
    assert((declared -- data).isEmpty,
      s"declared by the schema, absent from the store: ${declared -- data}")
    assert((data -- declared).isEmpty,
      s"in the store, undeclared by the schema: ${data -- declared}")
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

  /** Row multisets equal both ways; a facet map compares as its sorted
    * entries (set operations take no map column).
    */
  private def assertSameRows(a: DataFrame, b: DataFrame, what: String): Unit = {
    def norm(df: DataFrame) = df.select(df.columns.sorted.toIndexedSeq.map(c =>
      if (df.schema(c).dataType.isInstanceOf[MapType])
        sort_array(map_entries(col(c))).as(c)
      else col(c)): _*)
    val (x, y) = (norm(a), norm(b))
    assert(x.columns.toSeq == y.columns.toSeq, s"$what: columns")
    assert(x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty,
      s"$what: slice and union view differ")
  }

  test("every edge, attribute and node-type slice equals its lazy union view") {
    val edgePreds = ts.edges.select(col("predicate")).distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    assert(edgePreds.nonEmpty)
    for (p <- edgePreds)
      assertSameRows(ts.edge(p), ts.edges.filter(col("predicate") === p), s"edge '$p'")
    val attrPreds = ts.sources.flatMap(_.attrs).map(_.pred).distinct
    for (p <- attrPreds) {
      val union = Seq("string", "long", "double", "timestamp", "array<float>")
        .map(ts.tablet).find(_.filter(col("predicate") === p).limit(1).count() > 0)
      assert(union.nonEmpty, s"attr '$p' is in no typed tablet")
      assertSameRows(ts.attr(p), union.get.filter(col("predicate") === p), s"attr '$p'")
    }
    val types = ts.sources.map { s =>
      s.frame().select(s.subject.as("subject"), lit(s.nodeType).as("typeName"))
    }.reduce(_ unionByName _)
    assertSameRows(ts.nodeTypes, types, "nodeTypes")
  }

  test("edgesStored equals edges, attrStringStored equals the string tablet") {
    assertSameRows(ts.edgesStored, ts.edges, "edgesStored")
    assert(ts.edgesStored.columns.toSeq == ts.edges.columns.toSeq)
    assertSameRows(ts.attrStringStored, ts.tablet("string"), "attrStringStored")
  }

  test("a second graph read plans no parquet file scan") {
    // the four JSON read gates perfbench's graph_query workload runs
    for (gate <- Seq("dql_json_deep", "dql_json_nested", "dql_recurse_json", "graphql_json")) {
      SparkEntry.queries(gate)(spark, sf).collect()
      val plans = Explain.executions(spark)(SparkEntry.queries(gate)(spark, sf).collect())._2
      assert(plans.nonEmpty, gate)
      assert(plans.forall(_.fileScans == 0), s"$gate:\n${plans.mkString("\n")}")
      assert(plans.map(_.memoryScans).sum > 0, s"$gate:\n${plans.mkString("\n")}")
    }
  }

  test("a TripleStore read writes nothing under target/graft-derived") {
    val dir = new java.io.File("target/graft-derived")
    // an overwritten layout keeps its name, so look at modification times
    val start = System.currentTimeMillis() - 1000
    // a private store, so every slice and `line` are built by this read
    val store = new TripleStore(spark, sf)
    new graft.exec.DqlExecutor(store).jsonAll(
      """{ q(func: uid(0x2ba7def3001)) { name placed { has_line { quantity } } } }""").collect()
    store.edgesStored.count()
    store.attrStringStored.count()
    store.nodeTypes.count()
    val written = Option(dir.listFiles).getOrElse(Array.empty).filter(_.lastModified >= start)
    assert(written.isEmpty, s"written: ${written.map(_.getName).mkString(", ")}")
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
