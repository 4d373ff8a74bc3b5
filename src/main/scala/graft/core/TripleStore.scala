package graft.core

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The canonical graph view: typed attribute tables + an edge table,
  * derived lazily from the relational parquet tables.
  *
  * What the store holds is declared ONCE, in [[sources]]: one entry per
  * source table with its node type, subject uid and the attribute and
  * edge rows each of its rows carries (the reference's bulk loader turns
  * each input row into N-Quads once, dgraph/cmd/bulk/mapper.go, and
  * builds every posting list from that one stream). Every view below —
  * the edge union, the typed attribute tablets, `nodeTypes`, the backup
  * melt, the wide registry and the edge/facet metadata — is derived from
  * that list, so no two of them can disagree on a predicate.
  *
  * The reference stores one posting list per (predicate, subject) key and
  * shards predicates to server groups ("tablets",
  * /root/reference/worker/groups.go:218 BelongsTo). The Spark analogue of a
  * tablet is a *per-predicate view*: `edges` and the typed tablets are
  * unions of branches each carrying a literal `predicate` column, so a
  * filter `predicate === "placed"` constant-folds every other branch to
  * an empty relation. Reads are served from one in-memory slice per
  * (kind, predicate) cut from those unions ([[edge]], [[attr]],
  * [[nodeTypes]]), built lazily once per session; `edgesStored` and
  * `attrStringStored` are unions of the slices in the same literal-
  * column shape. At 100 TB each branch would be its own partitioned
  * table; the query-side shape is identical, and no shuffle is
  * introduced by the union.
  *
  * UID scheme: see [[Uids]]. Facets (edge metadata, reference
  * types/facets/facet_types.go:21) ride along as a MAP column on the edge
  * table with deterministically formatted string values.
  */
final class TripleStore(val spark: SparkSession, val sfDir: String)
    extends GraphStore {
  import TripleStore._
  import Uids._

  private def t(name: String): DataFrame = Tables.load(spark, sfDir, name)

  val schema: SchemaRegistry = SchemaRegistry.tpch

  /** lineitem has no unique natural key in this dataset ((orderkey,
    * linenumber) repeats), so line uids are assigned by a deterministic
    * row_number *within each order* over the full column tuple — a
    * partitioned (distributed) window, not a global sort. Mirrored
    * verbatim in the DuckDB oracles (Q.lineUidSql).
    *
    * The window's shuffle is paid once per session: the uid window,
    * pruned to the columns the lineitem rows read, is a lazy local
    * checkpoint that the first job reading it materializes, and every
    * lineitem view reads it back from memory.
    */
  private lazy val line: DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("l_orderkey")).orderBy(
      col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
      col("l_extendedprice"), col("l_quantity"), col("l_discount"),
      col("l_tax"), col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))
    t("lineitem").select(
      (lit(Line) + col("l_orderkey") * 100 + row_number().over(w).cast("long"))
        .as("line_uid") +:
      Seq("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount", "l_returnflag", "l_linestatus",
        "l_shipdate").map(col): _*)
      .localCheckpoint(eager = false)
  }

  /** The TPC-H graph: every source table the store reads and the rows it
    * turns each of its rows into. An attribute's value is its SOURCE
    * column; [[typed]] casts it by the predicate's schema type. Frames
    * are thunks, so declaring reads nothing and writes no layout.
    */
  private[graft] val sources: Seq[Source] = {
    val region = lit(Region) + col("r_regionkey").cast("long")
    val nation = lit(Nation) + col("n_nationkey").cast("long")
    val customer = lit(Customer) + col("c_custkey")
    val supplier = lit(Supplier) + col("s_suppkey")
    val order = lit(Order) + col("o_orderkey")
    val lineUid = col("line_uid")
    val orderdate = date_format(col("o_orderdate"), "yyyy-MM-dd")
    Seq(
      Source("region", () => t("region"), "Region", region, Seq(
        Attr("name", col("r_name")))),
      Source("nation", () => t("nation"), "Nation", nation, Seq(
        Attr("name", col("n_name")),
        Edge("in_region", nation,
          lit(Region) + col("n_regionkey").cast("long"), "Region"))),
      Source("customer", () => t("customer"), "Customer", customer, Seq(
        Attr("name", col("c_name")),
        Attr("mktsegment", col("c_mktsegment")),
        Attr("acctbal", col("c_acctbal")),
        Edge("located_in", customer,
          lit(Nation) + col("c_nationkey").cast("long"), "Nation"))),
      Source("supplier", () => t("supplier"), "Supplier", supplier, Seq(
        Attr("name", col("s_name")),
        Attr("acctbal", col("s_acctbal")),
        Edge("located_in", supplier,
          lit(Nation) + col("s_nationkey").cast("long"), "Nation"))),
      Source("part", () => t("part"), "Part", lit(Part) + col("p_partkey"), Seq(
        Attr("name", col("p_name")),
        Attr("brand", col("p_brand")),
        Attr("ptype", col("p_type")),
        Attr("size", col("p_size")),
        Attr("retailprice", col("p_retailprice")))),
      Source("orders", () => t("orders"), "Order", order, Seq(
        Attr("orderstatus", col("o_orderstatus")),
        Attr("orderpriority", col("o_orderpriority")),
        Attr("totalprice", col("o_totalprice")),
        Attr("orderdate", col("o_orderdate")),
        // o_orderkey is the table's key: each order has one inbound edge
        Edge("placed", lit(Customer) + col("o_custkey"), order, "Order",
          objectsUnique = true, facets = Seq(
            Facet("orderdate", "string", orderdate, orderdate),
            Facet("totalprice", "double",
              col("o_totalprice").cast("decimal(18,2)").cast("string"),
              col("o_totalprice").cast("double")))))),
      Source("lineitem", () => line, "Lineitem", lineUid, Seq(
        Attr("returnflag", col("l_returnflag")),
        Attr("linestatus", col("l_linestatus")),
        Attr("quantity", col("l_quantity")),
        Attr("extendedprice", col("l_extendedprice")),
        Attr("discount", col("l_discount")),
        Attr("shipdate", col("l_shipdate")),
        // line_uid is the layout's own unique subject
        Edge("has_line", lit(Order) + col("l_orderkey"), lineUid, "Lineitem", objectsUnique = true, facets = Seq(
            // the typed column stays the RAW double source column (no
            // cast-to-long): the integral TPC-H quantities make double vs
            // long comparisons identical (the literal widens to double)
            Facet("quantity", "long",
              col("l_quantity").cast("long").cast("string"), col("l_quantity")),
            Facet("discount", "double",
              col("l_discount").cast("decimal(6,2)").cast("string"),
              col("l_discount")))),
        Edge("of_part", lineUid, lit(Part) + col("l_partkey"), "Part"),
        Edge("by_supplier", lineUid, lit(Supplier) + col("l_suppkey"),
          "Supplier"))),
      Source("documents", () => t("documents"), "Document",
        lit(Document) + col("doc_id"), Seq(
          // documents.text carries a lang tag (reference @lang predicates,
          // posting/list.go:2067 ValueFor preference chains)
          Attr("text", col("text"), lang = Some(col("lang"))),
          Attr("source", col("source")),
          Attr("n_chars", col("n_chars")))),
      // vector attribute for similar_to (reference float32vector,
      // types/scalar_types.go:60)
      Source("embeddings", () => t("embeddings"), "Embedding",
        lit(Embedding) + col("vec_id"), Seq(
          Attr("embedding", col("embedding")))))
  }

  private val edgeRows: Map[String, Seq[Edge]] =
    sources.flatMap(_.edges).groupBy(_.pred)

  /** The declared edge and attribute predicates, in declaration order. */
  private val edgePreds: Seq[String] = sources.flatMap(_.edges).map(_.pred).distinct
  private val attrPreds: Seq[String] = sources.flatMap(_.attrs).map(_.pred).distinct

  /** The one cast rule from a predicate's schema type to its tablet's
    * value type. Tablets, wide frames and backup strings all cast
    * through it, so their values agree bit for bit.
    */
  private def valueType(p: String): String = schema.pred(p).dgraphType match {
    case "int" => "long"
    case "float" => "double"
    case "datetime" => "timestamp"
    case "float32vector" => "array<float>"
    case _ => "string"
  }

  private def typed(p: String, value: Column): Column = value.cast(valueType(p))

  /** The declared source tables' bytes. Reads only file listings, so no
    * slice (and not `line`) is planned or materialized by asking. A
    * table that cannot be listed makes the size unknown.
    */
  override lazy val estimatedBytes: Option[Long] =
    scala.util.Try(sources.map(s => Tables.sizeInBytes(spark, sfDir, s.table)).sum)
      .toOption

  // ---- edge table: subject, predicate, object, facets ----

  /** All uid→uid edges, one branch per declared edge row. Facet values
    * are strings formatted identically to the DuckDB oracle (decimal
    * casts, ISO dates).
    *
    * Besides the string map (for @facets fetch/output), every branch also
    * carries TYPED facet columns `_ft_<key>` (null outside the owning
    * predicate). Facet filters and orderings read these instead of
    * `element_at(map)`, so a `quantity > 45` filter compares a plain
    * column instead of looking a string up in every row's facet map
    * (the r2 dql_facets_filter regression).
    */
  lazy val edges: DataFrame = {
    val branches = for (s <- sources if s.edges.nonEmpty; df = s.frame();
        e <- s.edges) yield {
      val facetMap =
        if (e.facets.isEmpty) map().cast("map<string,string>")
        else map(e.facets.flatMap(f => Seq(lit(f.key), f.str)): _*)
      df.select(Seq(e.subject.as("subject"), lit(e.pred).as("predicate"),
        e.obj.as("object"), facetMap.as("facets")) ++
        e.facets.map(f => f.typed.as(s"_ft_${f.key}")): _*)
    }
    // a branch without a facet gets that facet's column as a typed null
    val ftCols = sources.flatMap(_.edges).flatMap(_.facets).map(f => s"_ft_${f.key}")
    branches.reduce(_.unionByName(_, allowMissingColumns = true))
      .select((Seq("subject", "predicate", "object", "facets") ++ ftCols.distinct)
        .map(col): _*)
  }

  /** A lazy local checkpoint of `rows`, built once per store and key
    * (kind, predicate or table): the first job that reads the slice
    * materializes it, every later read serves it from memory (spilling
    * to disk under pressure, `localCheckpoint`'s MEMORY_AND_DISK). The
    * reference reads hot posting lists from memory the same way
    * (worker/task.go's cache, posting/lists.go).
    */
  private def slice(kind: String, key: String)(rows: => DataFrame): DataFrame =
    derived(("TripleStore.slice", kind, key))(rows.localCheckpoint(eager = false))

  /** A new frame over predicate `p`'s slice of `union`: the slice holds
    * every column but `predicate`, which comes back as a literal, so a
    * `predicate === p` filter over a union of these views folds to the
    * one branch it names.
    */
  private def view(kind: String, union: DataFrame, p: String): DataFrame = {
    val rows = slice(kind, p)(union.filter(col("predicate") === p).drop("predicate"))
    rows.select(col("subject") +: lit(p).as("predicate") +:
      rows.columns.toSeq.filter(_ != "subject").map(col): _*)
  }

  /** The edge union as its per-predicate slices, in `edges`' columns.
    * Its `count()` materializes every edge slice.
    */
  lazy val edgesStored: DataFrame =
    edgePreds.map(edge).reduce(_ unionByName _)

  /** Edge tablet reads come from the predicate's in-memory slice. A
    * predicate the store does not declare reads the (empty) union, so a
    * query naming one adds no slice to the session.
    */
  override def edge(predicate: String): DataFrame =
    if (edgeRows.contains(predicate)) view("edge", edges, predicate)
    else edges.filter(col("predicate") === predicate)

  // ---- typed attribute tables: subject, predicate, value [, lang] ----

  /** Every declared attribute row whose tablet value type is `vt`, one
    * union branch per row: subject, predicate, value cast by [[typed]],
    * and for string tablets a `lang` column. The source of the per-
    * predicate attribute slices ([[attr]]); built once per value type.
    */
  private[graft] def tablet(vt: String): DataFrame = derived(("TripleStore.tablet", vt)) {
    val branches = sources.flatMap { s =>
      s.attrs.filter(a => valueType(a.pred) == vt).map { a =>
        val cols = Seq(s.subject.as("subject"), lit(a.pred).as("predicate"),
          typed(a.pred, a.value).as("value"))
        s.frame().select((if (vt == "string")
            cols :+ a.lang.getOrElse(lit(null).cast("string")).as("lang")
          else cols): _*)
      }
    }
    branches.reduce(_ unionByName _)
  }

  /** The string tablet as its per-predicate slices. Consumers that read
    * many string predicates at once (mutation merges, RDF export) read
    * this union; its `count()` materializes every string slice.
    */
  lazy val attrStringStored: DataFrame =
    attrPreds.filter(valueType(_) == "string").map(attr).reduce(_ unionByName _)

  /** dgraph.type attribute (reference type() root fn, dql/parser.go:1704):
    * one row per source row, typed by its table — a slice of each
    * table's subjects with its type name as a literal.
    */
  lazy val nodeTypes: DataFrame = sources.map { s =>
    slice("subjects", s.table)(s.frame().select(s.subject.as("subject")))
      .select(col("subject"), lit(s.nodeType).as("typeName"))
  }.reduce(_ unionByName _)

  /** Store-optimized backup frame (see [[GraphStore.backupTriples]]):
    * ONE scan per source table emits every backup row the table owns —
    * attrs, edges, and its dgraph.type rows — through a single generator
    * (`explode(array(struct...))`). The generic Backup.tripleFrame union
    * reaches ~37 leaf scans for this store (21 attr tablets + 7 edge
    * branches + 9 type branches), and the backup write's wall-clock is
    * dominated by those plan units (codegen compilation cold, stage
    * scheduling hot), not by bytes — melting gets it to 9 leaves.
    * A value string is the tablet's typed value cast to string, and a
    * facet string is `k=v` joined by `, ` in declared order, as
    * Backup.genericTripleFrame formats them; BackupSpec asserts row
    * parity with the generic path at sf0.001.
    */
  override def backupTriples(only: Set[String]): Option[DataFrame] = {
    def keep(name: String) = only.isEmpty || only(name)
    val nullS = lit(null).cast("string")
    def row(pred: String, subject: Column, objectUid: Column = lit(null),
        value: Column = nullS, lang: Column = nullS,
        facets: Column = nullS): Column =
      struct(subject.cast("long").as("subject"), lit(pred).as("predicate"),
        objectUid.cast("long").as("objectUid"), value.cast("string").as("value"),
        lang.cast("string").as("lang"), facets.cast("string").as("facets"))
    val branches = sources.flatMap { s =>
      val rows = s.rows.collect {
        case a: Attr if keep(a.pred) &&
            graft.operators.Backup.backsUpValues(schema.pred(a.pred)) =>
          row(a.pred, s.subject, value = typed(a.pred, a.value),
            lang = a.lang.getOrElse(nullS))
        case e: Edge if keep(e.pred) =>
          row(e.pred, e.subject, objectUid = e.obj, facets =
            if (e.facets.isEmpty) nullS
            else concat(e.facets.zipWithIndex.flatMap { case (f, i) =>
              Seq(lit((if (i == 0) "" else ", ") + s"${f.key}="), f.str)
            }: _*))
      } ++ (if (keep("dgraph.type"))
              Seq(row("dgraph.type", s.subject, value = lit(s.nodeType)))
            else Nil)
      if (rows.isEmpty) None
      else Some(s.frame().select(explode(array(rows: _*)).as("t")).select(col("t.*")))
    }
    if (branches.isEmpty) None else Some(branches.reduce(_ unionByName _))
  }

  /** Facet keys and their value types per edge predicate (reference
    * facet metadata, types/facets/facet_types.go:21). Facet values live
    * as strings in the edge map; these types drive comparisons/ordering.
    */
  val facetKeys: Map[String, Seq[(String, String)]] =
    edgeRows.collect { case (p, es) if es.exists(_.facets.nonEmpty) =>
      p -> es.flatMap(_.facets).map(f => f.key -> f.typ)
    }

  /** Typed attribute view for one predicate (the "tablet"), read from
    * the predicate's in-memory slice whatever its value type. A range
    * filter on a numeric or datetime value therefore filters rows in
    * memory, not parquet row groups. A predicate no source declares
    * reads the (empty) tablet of its value type and adds no slice.
    */
  def attr(predicate: String): DataFrame = {
    if (schema.isUidPredicate(predicate))
      throw new IllegalArgumentException(
        s"no attribute table for type uid (predicate $predicate)")
    val union = tablet(valueType(predicate))
    if (attrPreds.contains(predicate)) view("attr", union, predicate)
    else union.filter(col("predicate") === predicate)
  }

  /** Every entity table's wide-readable scalar predicates: (typeName,
    * source frame, subject uid, (pred, SOURCE column) pairs) — the
    * table's untagged attribute rows of schema type string, int, float
    * or datetime. Lang-tagged (`text`) predicates genuinely need the
    * per-predicate path (untagged-only rule, per-tag display riders).
    * Column casts are applied by [[attrWide]] through [[typed]], so the
    * wide value is bit-identical to the melted tablet's.
    */
  private[graft] def wideRegistry: Seq[(String, () => DataFrame, Column,
      Seq[(String, Column)])] =
    sources.map { s =>
      (s.nodeType, s.frame, s.subject, s.attrs.collect {
        case a if a.lang.isEmpty && Set("string", "int", "float", "datetime")(
            schema.pred(a.pred).dgraphType) => a.pred -> a.value
      })
    }.filter(_._4.nonEmpty)

  /** Tablet-group reads (see [[GraphStore.attrWide]]): sibling scalar
    * attributes fetch as column-pruned scans of their entities' source
    * tables — the melted per-predicate tablets above would cost one scan
    * + one shuffle join EACH for values that sit side by side in the same
    * parquet row group.
    *
    * Predicates spanning entities (`name` on 5 tables, `acctbal` on 2)
    * coalesce as a UNION of per-table wide frames — subjects are disjoint
    * by uid banding (the band IS the entity), missing columns are typed
    * nulls, so the left join against the frontier reads exactly what the
    * melted tablet would have delivered. Two guards keep the coalesce a
    * strict win (measured: an unguarded 5-table union for `name` doubled
    * dql_order_page's job count):
    *
    *  - `frontierTypes`, when known, prunes the union to tables the
    *    frontier can actually contain — a STORE invariant here (every
    *    subject of a predicate lives in that predicate's owner tables;
    *    data derives 1:1 from the registry), and what re-enables bare
    *    `type(T)` root elimination (single-entity groups carry
    *    entityType);
    *  - a component is emitted only when its table count m does not
    *    exceed its predicate count k: the union costs m scans + 1 join
    *    against the melted path's k scans + k joins, so m ≤ k saves
    *    k-1 joins for free while m > k trades joins for extra scans —
    *    a loss on pruned tablets.
    *
    * Per-pred value parity with the melted path is WideReadParitySpec's
    * contract.
    */
  override def attrWide(preds: Seq[String],
      frontierTypes: Set[String] = Set.empty): Seq[GraphStore.WideGroup] = {
    val avail =
      if (frontierTypes.isEmpty) wideRegistry
      else wideRegistry.filter { case (ty, _, _, _) => frontierTypes(ty) }
    val covered = avail
      .map { case (ty, df, subj, cols) =>
        (ty, df, subj, cols.filter { case (p, _) => preds.contains(p) })
      }
      .filter(_._4.nonEmpty)
    if (covered.isEmpty) return Nil
    // connected components over "shares a predicate": each requested
    // predicate must land in exactly ONE returned group (the executor
    // joins every group and reads __ma_<pred> unambiguously), and a
    // group must carry a pred's FULL owner set within `avail` — a
    // partial union would surface typed nulls for subjects whose values
    // live in the excluded tables
    val comps = scala.collection.mutable.ArrayBuffer
      .empty[scala.collection.mutable.ArrayBuffer[Int]]
    val compOf = scala.collection.mutable.Map.empty[String, Int]
    covered.zipWithIndex.foreach { case ((_, _, _, cols), i) =>
      val hit = cols.flatMap { case (p, _) => compOf.get(p) }.distinct
      val target = hit.headOption.getOrElse {
        comps += scala.collection.mutable.ArrayBuffer.empty[Int]
        comps.size - 1
      }
      // merge any additional components this entity bridges
      hit.drop(1).foreach { c =>
        comps(target) ++= comps(c); comps(c).clear()
        // snapshot keys: in-place value writes during foreach over the
        // same mutable map are formally unspecified
        compOf.keys.toSeq.foreach { p =>
          if (compOf(p) == c) compOf(p) = target
        }
      }
      comps(target) += i
      cols.foreach { case (p, _) => compOf(p) = target }
    }
    comps.filter(_.nonEmpty).toSeq.flatMap { members =>
      val ms = members.toSeq.map(covered)
      val groupPreds = preds.filter(p => ms.exists(_._4.exists(_._1 == p)))
      // a single covered predicate gains nothing over attr(p) (the
      // stored tablet is one pruned scan + one join either way), and a
      // union wider than its predicate count trades joins for scans
      if (groupPreds.size < 2 || ms.size > groupPreds.size) None
      else {
        val frames = ms.map { case (_, df, subj, cols) =>
          val byPred = cols.toMap
          df().select(subj.as("subject") +: groupPreds.map { p =>
            typed(p, byPred.getOrElse(p, lit(null))).as(s"__ma_$p")
          }: _*)
        }
        Some(GraphStore.WideGroup(frames.reduce(_ unionByName _), groupPreds,
          if (ms.size == 1) Some(ms.head._1) else None))
      }
    }
  }

  /** Target node types of a uid edge — load-layout metadata (each
    * declared edge row constructs its objects inside one uid band). Lets
    * the executor carry frontier identity across a traversal hop so
    * [[attrWide]] can prune its union.
    */
  override def edgeTargetTypes(predicate: String): Set[String] =
    edgeRows.getOrElse(predicate, Nil).map(_.target).toSet

  /** True when every declared row of the edge has unique objects (each
    * target has exactly one inbound edge), so a dedup over the objects is
    * an identity (StoreInvariantSpec pins this against the data).
    */
  override def edgeObjectsUnique(predicate: String): Boolean =
    edgeRows.get(predicate).exists(_.forall(_.objectsUnique))

  /** Every melted scalar tablet emits exactly one row per source-table
    * row, and each source table is keyed by its subject uid — so any
    * non-list attribute is subject-unique (lang predicates: unique per
    * (subject, lang), which satisfies the trait's per-variant contract).
    * StoreInvariantSpec pins this against the data.
    */
  override def attrSubjectUnique(predicate: String): Boolean =
    schema.predicates.get(predicate).exists(!_.isList)
}

object TripleStore {

  /** One source table of the store: its frame, the node type and subject
    * uid of each of its rows, and the [[Row]]s each of them carries.
    */
  final case class Source(table: String, frame: () => DataFrame,
      nodeType: String, subject: Column, rows: Seq[Row]) {
    def attrs: Seq[Attr] = rows.collect { case a: Attr => a }
    def edges: Seq[Edge] = rows.collect { case e: Edge => e }
  }

  sealed trait Row { def pred: String }

  /** A scalar attribute of the table's subject: its SOURCE column and,
    * for a lang-tagged predicate, the column holding the tag.
    */
  final case class Attr(pred: String, value: Column,
      lang: Option[Column] = None) extends Row

  /** A uid edge. `objectsUnique`: no object has a second inbound edge of
    * this predicate.
    */
  final case class Edge(pred: String, subject: Column, obj: Column,
      target: String, objectsUnique: Boolean = false,
      facets: Seq[Facet] = Nil) extends Row

  /** An edge facet: its `facetKeys` type, the string in the edge's facet
    * map, and the typed `_ft_<key>` column facet filters compare.
    */
  final case class Facet(key: String, typ: String, str: Column, typed: Column)

  private val cache = TrieMap.empty[(SparkSession, String), TripleStore]
  def apply(spark: SparkSession, sfDir: String): TripleStore =
    cache.getOrElseUpdate((spark, sfDir), new TripleStore(spark, sfDir))
}
