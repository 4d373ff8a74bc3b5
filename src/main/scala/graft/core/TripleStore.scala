package graft.core

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The canonical graph view: typed attribute tables + an edge table,
  * derived lazily from the relational parquet tables.
  *
  * The reference stores one posting list per (predicate, subject) key and
  * shards predicates to server groups ("tablets",
  * /root/reference/worker/groups.go:218 BelongsTo). The Spark analogue of a
  * tablet is a *per-predicate view*: `edges`/`attrs` are unions of
  * branches each carrying a literal `predicate` column, so a filter
  * `predicate === "placed"` constant-folds every other branch to an empty
  * relation and Catalyst prunes those parquet scans entirely. At 100 TB
  * each branch would be its own partitioned table; the query-side shape is
  * identical, and no shuffle is introduced by the union.
  *
  * UID scheme: see [[Uids]]. Facets (edge metadata, reference
  * types/facets/facet_types.go:21) ride along as a MAP column on the edge
  * table with deterministically formatted string values.
  */
final class TripleStore(val spark: SparkSession, val sfDir: String)
    extends GraphStore {
  import Uids._

  private def t(name: String): DataFrame = Tables.load(spark, sfDir, name)

  /** lineitem has no unique natural key in this dataset ((orderkey,
    * linenumber) repeats), so line uids are assigned by a deterministic
    * row_number *within each order* over the full column tuple — a
    * partitioned (distributed) window, not a global sort. Mirrored
    * verbatim in the DuckDB oracles (Q.lineUidSql).
    */
  private lazy val line: DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("l_orderkey")).orderBy(
      col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
      col("l_extendedprice"), col("l_quantity"), col("l_discount"),
      col("l_tax"), col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))
    val withUid = t("lineitem").withColumn("line_uid",
      lit(Line) + col("l_orderkey") * 100 + row_number().over(w).cast("long"))
    // uid assignment is a LOAD-time job, not a query-time one: the window
    // shuffle is paid once by materializing lineitem+line_uid to a derived
    // parquet table, and every lineitem tablet view then reads it back
    // COLUMN-PRUNED (a full-width in-memory cache here forced each of the
    // seven line-backed views to scan all 17 columns). At cluster scale
    // this is the bulk-load layout step (core/Bucketing) against the real
    // catalog; the derived file is per-(session, sfDir) and rewritten on
    // first access in each JVM so it can never go stale.
    val dir = new java.io.File(
      s"target/graft-derived/line_uid_${new java.io.File(sfDir).getName}" +
        s"_${Scratch.tag(spark)}").getAbsolutePath
    withUid.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  /** The source tables' bytes. Reads only file listings, so the lazy
    * layouts (`line`, `edgesStored`, `attrStringStored`) are still
    * written by the first read that needs them. A table that cannot be
    * listed makes the size unknown.
    */
  override lazy val estimatedBytes: Option[Long] =
    scala.util.Try(Tables.names.map(Tables.sizeInBytes(spark, sfDir, _)).sum).toOption

  // ---- edge table: subject, predicate, object, facets ----

  /** All uid→uid edges. Facet values are strings formatted identically to
    * the DuckDB oracle (decimal casts, ISO dates).
    *
    * Besides the string map (for @facets fetch/output), every branch also
    * carries TYPED facet columns `_ft_<key>` (null outside the owning
    * predicate). Facet filters and orderings read these instead of
    * `element_at(map)` so the comparison lands on a plain source column
    * and Catalyst pushes it into the parquet scan — with the map a
    * `quantity > 45` filter had to build the facet map for every
    * lineitem row first (the r2 dql_facets_filter regression).
    */
  lazy val edges: DataFrame = {
    // _ft_quantity stays the RAW double source column (no cast-to-long):
    // a cast above the scan would block comparison pushdown, and the
    // integral TPC-H quantities make double vs long comparisons identical
    // (the comparison literal widens to double)
    val nullFt = Seq(
      lit(null).cast("string").as("_ft_orderdate"),
      lit(null).cast("double").as("_ft_totalprice"),
      lit(null).cast("double").as("_ft_quantity"),
      lit(null).cast("double").as("_ft_discount"))
    def ft(orderdate: Column = lit(null).cast("string"),
        totalprice: Column = lit(null).cast("double"),
        quantity: Column = lit(null).cast("double"),
        discount: Column = lit(null).cast("double")): Seq[Column] = Seq(
      orderdate.as("_ft_orderdate"), totalprice.as("_ft_totalprice"),
      quantity.as("_ft_quantity"), discount.as("_ft_discount"))

    val custNation = t("customer").select(Seq(
      (lit(Customer) + col("c_custkey")).as("subject"),
      lit("located_in").as("predicate"),
      (lit(Nation) + col("c_nationkey").cast("long")).as("object"),
      map().cast("map<string,string>").as("facets")) ++ nullFt: _*)
    val suppNation = t("supplier").select(Seq(
      (lit(Supplier) + col("s_suppkey")).as("subject"),
      lit("located_in").as("predicate"),
      (lit(Nation) + col("s_nationkey").cast("long")).as("object"),
      map().cast("map<string,string>").as("facets")) ++ nullFt: _*)
    val nationRegion = t("nation").select(Seq(
      (lit(Nation) + col("n_nationkey").cast("long")).as("subject"),
      lit("in_region").as("predicate"),
      (lit(Region) + col("n_regionkey").cast("long")).as("object"),
      map().cast("map<string,string>").as("facets")) ++ nullFt: _*)
    val placed = t("orders").select(Seq(
      (lit(Customer) + col("o_custkey")).as("subject"),
      lit("placed").as("predicate"),
      (lit(Order) + col("o_orderkey")).as("object"),
      map(
        lit("orderdate"), date_format(col("o_orderdate"), "yyyy-MM-dd"),
        lit("totalprice"), col("o_totalprice").cast("decimal(18,2)").cast("string")
      ).as("facets")) ++ ft(
        orderdate = date_format(col("o_orderdate"), "yyyy-MM-dd"),
        totalprice = col("o_totalprice").cast("double")): _*)
    val hasLine = line.select(Seq(
      (lit(Order) + col("l_orderkey")).as("subject"),
      lit("has_line").as("predicate"),
      col("line_uid").as("object"),
      map(
        lit("quantity"), col("l_quantity").cast("long").cast("string"),
        lit("discount"), col("l_discount").cast("decimal(6,2)").cast("string")
      ).as("facets")) ++ ft(
        quantity = col("l_quantity"),
        discount = col("l_discount")): _*)
    val ofPart = line.select(Seq(
      col("line_uid").as("subject"),
      lit("of_part").as("predicate"),
      (lit(Part) + col("l_partkey")).as("object"),
      map().cast("map<string,string>").as("facets")) ++ nullFt: _*)
    val bySupplier = line.select(Seq(
      col("line_uid").as("subject"),
      lit("by_supplier").as("predicate"),
      (lit(Supplier) + col("l_suppkey")).as("object"),
      map().cast("map<string,string>").as("facets")) ++ nullFt: _*)

    custNation.unionByName(suppNation).unionByName(nationRegion)
      .unionByName(placed).unionByName(hasLine)
      .unionByName(ofPart).unionByName(bySupplier)
  }

  /** The edge union materialized once per session as a predicate-
    * partitioned layout — the edge half of the bulk-load tablet shape
    * (see [[attrStringStored]]). Typed `_ft_*` facet columns are plain
    * parquet columns in the file, so facet range predicates (`quantity
    * > 45`) push down to the stored scan exactly as they did to the
    * source scan, and `predicate === p` prunes to one directory.
    */
  lazy val edgesStored: DataFrame = {
    val dir = new java.io.File(
      s"target/graft-derived/edges_${new java.io.File(sfDir).getName}" +
        s"_${Scratch.tag(spark)}").getAbsolutePath
    edges.write.mode("overwrite").partitionBy("predicate").parquet(dir)
    // restore the canonical column order (the partition column reads
    // back last) and the declared string type
    val back = spark.read.parquet(dir)
      .withColumn("predicate", col("predicate").cast("string"))
    back.select(edges.columns.map(col).toIndexedSeq: _*)
  }

  /** Edge tablet reads come from the stored layout: one pruned
    * directory scan instead of a constant-folded 7-branch union.
    */
  override def edge(predicate: String): DataFrame =
    edgesStored.filter(col("predicate") === predicate)

  // ---- typed attribute tables: subject, predicate, value [, lang] ----

  private def sAttr(df: DataFrame, subj: Column, pred: String, value: Column,
      lang: Column = lit(null).cast("string")): DataFrame =
    df.select(subj.as("subject"), lit(pred).as("predicate"),
      value.cast("string").as("value"), lang.as("lang"))

  lazy val attrString: DataFrame = {
    val c = t("customer"); val n = t("nation"); val r = t("region")
    val s = t("supplier"); val p = t("part"); val o = t("orders")
    val l = line; val d = t("documents")
    val lineSubj = col("line_uid")
    Seq(
      sAttr(c, lit(Customer) + col("c_custkey"), "name", col("c_name")),
      sAttr(c, lit(Customer) + col("c_custkey"), "mktsegment", col("c_mktsegment")),
      sAttr(n, lit(Nation) + col("n_nationkey").cast("long"), "name", col("n_name")),
      sAttr(r, lit(Region) + col("r_regionkey").cast("long"), "name", col("r_name")),
      sAttr(s, lit(Supplier) + col("s_suppkey"), "name", col("s_name")),
      sAttr(p, lit(Part) + col("p_partkey"), "name", col("p_name")),
      sAttr(p, lit(Part) + col("p_partkey"), "brand", col("p_brand")),
      sAttr(p, lit(Part) + col("p_partkey"), "ptype", col("p_type")),
      sAttr(o, lit(Order) + col("o_orderkey"), "orderstatus", col("o_orderstatus")),
      sAttr(o, lit(Order) + col("o_orderkey"), "orderpriority", col("o_orderpriority")),
      sAttr(l, lineSubj, "returnflag", col("l_returnflag")),
      sAttr(l, lineSubj, "linestatus", col("l_linestatus")),
      // documents.text carries a lang tag (reference @lang predicates,
      // posting/list.go:2067 ValueFor preference chains)
      sAttr(d, lit(Document) + col("doc_id"), "text", col("text"), col("lang")),
      sAttr(d, lit(Document) + col("doc_id"), "source", col("source"))
    ).reduce(_ unionByName _)
  }

  /** The string-attr union MATERIALIZED once per session as a predicate-
    * partitioned parquet layout — the reference's tablet files on disk
    * (worker/groups.go:218 shards one tablet per predicate). The lazy
    * `attrString` union is the right shape for single-predicate reads
    * (branch pruning kills every other scan), but consumers that read
    * MANY predicates per invocation (mutation merges over the whole
    * store, RDF export) re-execute all 14 branch scans each run; this
    * pays the scan once and every later read is a single pruned
    * directory scan. At cluster scale this IS the bulk-load output —
    * one partitioned table, predicate pruning server-side.
    */
  lazy val attrStringStored: DataFrame = {
    val dir = new java.io.File(
      s"target/graft-derived/attrs_${new java.io.File(sfDir).getName}" +
        s"_${Scratch.tag(spark)}").getAbsolutePath
    attrString.write.mode("overwrite").partitionBy("predicate").parquet(dir)
    spark.read.parquet(dir)
      .select(col("subject"), col("predicate").cast("string").as("predicate"),
        col("value"), col("lang"))
  }

  // Typed attribute rows WITHOUT sAttr's generic string round-trip:
  // `cast(cast(x AS string) AS long/double/timestamp)` cannot be
  // unwrapped by Catalyst, so every DQL numeric/datetime root filter
  // stopped at IsNotNull in PushedFilters and scanned all row groups.
  // A direct source-type cast unwraps and the range predicates land on
  // the parquet scan — at 100 TB that is the difference between a
  // pruned index walk and a full pass over the tablet.
  private def tAttr(df: DataFrame, subj: Column, pred: String,
      value: Column, typ: String): DataFrame =
    df.select(subj.as("subject"), lit(pred).as("predicate"),
      value.cast(typ).as("value"))

  lazy val attrLong: DataFrame = {
    val p = t("part"); val d = t("documents")
    tAttr(p, lit(Part) + col("p_partkey"), "size", col("p_size"), "long")
      .unionByName(
        tAttr(d, lit(Document) + col("doc_id"), "n_chars", col("n_chars"), "long"))
  }

  lazy val attrDouble: DataFrame = {
    val c = t("customer"); val s = t("supplier"); val p = t("part")
    val o = t("orders"); val l = line
    val lineSubj = col("line_uid")
    Seq(
      tAttr(c, lit(Customer) + col("c_custkey"), "acctbal", col("c_acctbal"), "double"),
      tAttr(s, lit(Supplier) + col("s_suppkey"), "acctbal", col("s_acctbal"), "double"),
      tAttr(p, lit(Part) + col("p_partkey"), "retailprice", col("p_retailprice"), "double"),
      tAttr(o, lit(Order) + col("o_orderkey"), "totalprice", col("o_totalprice"), "double"),
      tAttr(l, lineSubj, "quantity", col("l_quantity"), "double"),
      tAttr(l, lineSubj, "extendedprice", col("l_extendedprice"), "double"),
      tAttr(l, lineSubj, "discount", col("l_discount"), "double")
    ).reduce(_ unionByName _)
  }

  lazy val attrTs: DataFrame = {
    val o = t("orders"); val l = line
    val lineSubj = col("line_uid")
    tAttr(o, lit(Order) + col("o_orderkey"), "orderdate",
        col("o_orderdate"), "timestamp")
      .unionByName(tAttr(l, lineSubj, "shipdate", col("l_shipdate"),
        "timestamp"))
  }

  /** dgraph.type attribute (reference type() root fn, dql/parser.go:1704). */
  lazy val nodeTypes: DataFrame = {
    def tt(df: DataFrame, subj: Column, ty: String) =
      df.select(subj.as("subject"), lit(ty).as("typeName"))
    Seq(
      tt(t("region"), lit(Region) + col("r_regionkey").cast("long"), "Region"),
      tt(t("nation"), lit(Nation) + col("n_nationkey").cast("long"), "Nation"),
      tt(t("customer"), lit(Customer) + col("c_custkey"), "Customer"),
      tt(t("supplier"), lit(Supplier) + col("s_suppkey"), "Supplier"),
      tt(t("part"), lit(Part) + col("p_partkey"), "Part"),
      tt(t("orders"), lit(Order) + col("o_orderkey"), "Order"),
      tt(line, col("line_uid"), "Lineitem"),
      tt(t("documents"), lit(Document) + col("doc_id"), "Document"),
      tt(t("embeddings"), lit(Embedding) + col("vec_id"), "Embedding")
    ).reduce(_ unionByName _)
  }

  /** Store-optimized backup frame (see [[GraphStore.backupTriples]]):
    * ONE scan per source table emits every backup row the table owns —
    * attrs, edges, and its dgraph.type rows — through a single generator
    * (`explode(array(struct...))`). The generic Backup.tripleFrame union
    * reaches ~37 leaf scans for this store (21 attr tablets + 7 edge
    * branches + 9 type branches), and the backup write's wall-clock is
    * dominated by those plan units (codegen compilation cold, stage
    * scheduling hot), not by bytes — melting gets it to 9 leaves.
    * Value/facet strings replicate the exact cast chains of the tablet
    * views (sAttr casts to string, the typed table casts back, Backup
    * casts to string again); BackupSpec asserts row parity with the
    * generic path at sf0.001.
    */
  override def backupTriples(only: Set[String]): Option[DataFrame] = {
    def keep(name: String) = only.isEmpty || only(name)
    val nullC = lit(null).cast("long")
    val nullS = lit(null).cast("string")
    // one output row spec: (predicate, subject, objectUid, value, lang, facets)
    case class R(pred: String, subject: Column, objectUid: Column = nullC,
        value: Column = nullS, lang: Column = nullS, facets: Column = nullS)
    def melt(df: DataFrame, rows: Seq[R]): Option[DataFrame] = {
      val kept = rows.filter(r => keep(r.pred))
      if (kept.isEmpty) None
      else Some(df.select(explode(array(kept.map { r =>
        struct(r.subject.cast("long").as("subject"),
          lit(r.pred).as("predicate"),
          r.objectUid.cast("long").as("objectUid"),
          r.value.cast("string").as("value"),
          r.lang.cast("string").as("lang"),
          r.facets.cast("string").as("facets"))
      }: _*)).as("t")).select(col("t.*")))
    }
    def str(c: Column) = c.cast("string")
    // attrDouble chain: src.cast(string).cast(double) then Backup .cast(string)
    def dbl(c: Column) = c.cast("string").cast("double").cast("string")
    // attrLong chain: src.cast(long).cast(string).cast(long) → string
    def lng(c: Column) = c.cast("long").cast("string")
    // attrTs chain: src.cast(string).cast(timestamp) → string
    def ts(c: Column) = c.cast("string").cast("timestamp").cast("string")
    val placedFacets = concat(
      lit("orderdate="), date_format(col("o_orderdate"), "yyyy-MM-dd"),
      lit(", totalprice="), col("o_totalprice").cast("decimal(18,2)").cast("string"))
    val hasLineFacets = concat(
      lit("quantity="), col("l_quantity").cast("long").cast("string"),
      lit(", discount="), col("l_discount").cast("decimal(6,2)").cast("string"))
    val branches = Seq(
      melt(t("region"), Seq(
        R("name", lit(Region) + col("r_regionkey").cast("long"), value = str(col("r_name"))),
        R("dgraph.type", lit(Region) + col("r_regionkey").cast("long"), value = lit("Region")))),
      melt(t("nation"), Seq(
        R("name", lit(Nation) + col("n_nationkey").cast("long"), value = str(col("n_name"))),
        R("in_region", lit(Nation) + col("n_nationkey").cast("long"),
          objectUid = lit(Region) + col("n_regionkey").cast("long")),
        R("dgraph.type", lit(Nation) + col("n_nationkey").cast("long"), value = lit("Nation")))),
      melt(t("customer"), Seq(
        R("name", lit(Customer) + col("c_custkey"), value = str(col("c_name"))),
        R("mktsegment", lit(Customer) + col("c_custkey"), value = str(col("c_mktsegment"))),
        R("acctbal", lit(Customer) + col("c_custkey"), value = dbl(col("c_acctbal"))),
        R("located_in", lit(Customer) + col("c_custkey"),
          objectUid = lit(Nation) + col("c_nationkey").cast("long")),
        R("dgraph.type", lit(Customer) + col("c_custkey"), value = lit("Customer")))),
      melt(t("supplier"), Seq(
        R("name", lit(Supplier) + col("s_suppkey"), value = str(col("s_name"))),
        R("acctbal", lit(Supplier) + col("s_suppkey"), value = dbl(col("s_acctbal"))),
        R("located_in", lit(Supplier) + col("s_suppkey"),
          objectUid = lit(Nation) + col("s_nationkey").cast("long")),
        R("dgraph.type", lit(Supplier) + col("s_suppkey"), value = lit("Supplier")))),
      melt(t("part"), Seq(
        R("name", lit(Part) + col("p_partkey"), value = str(col("p_name"))),
        R("brand", lit(Part) + col("p_partkey"), value = str(col("p_brand"))),
        R("ptype", lit(Part) + col("p_partkey"), value = str(col("p_type"))),
        R("size", lit(Part) + col("p_partkey"), value = lng(col("p_size"))),
        R("retailprice", lit(Part) + col("p_partkey"), value = dbl(col("p_retailprice"))),
        R("dgraph.type", lit(Part) + col("p_partkey"), value = lit("Part")))),
      melt(t("orders"), Seq(
        R("orderstatus", lit(Order) + col("o_orderkey"), value = str(col("o_orderstatus"))),
        R("orderpriority", lit(Order) + col("o_orderkey"), value = str(col("o_orderpriority"))),
        R("totalprice", lit(Order) + col("o_orderkey"), value = dbl(col("o_totalprice"))),
        R("orderdate", lit(Order) + col("o_orderkey"), value = ts(col("o_orderdate"))),
        R("placed", lit(Customer) + col("o_custkey"),
          objectUid = lit(Order) + col("o_orderkey"), facets = placedFacets),
        R("dgraph.type", lit(Order) + col("o_orderkey"), value = lit("Order")))),
      melt(line, Seq(
        R("returnflag", col("line_uid"), value = str(col("l_returnflag"))),
        R("linestatus", col("line_uid"), value = str(col("l_linestatus"))),
        R("quantity", col("line_uid"), value = dbl(col("l_quantity"))),
        R("extendedprice", col("line_uid"), value = dbl(col("l_extendedprice"))),
        R("discount", col("line_uid"), value = dbl(col("l_discount"))),
        R("shipdate", col("line_uid"), value = ts(col("l_shipdate"))),
        R("has_line", lit(Order) + col("l_orderkey"),
          objectUid = col("line_uid"), facets = hasLineFacets),
        R("of_part", col("line_uid"), objectUid = lit(Part) + col("l_partkey")),
        R("by_supplier", col("line_uid"), objectUid = lit(Supplier) + col("l_suppkey")),
        R("dgraph.type", col("line_uid"), value = lit("Lineitem")))),
      melt(t("documents"), Seq(
        R("text", lit(Document) + col("doc_id"), value = str(col("text")), lang = col("lang")),
        R("source", lit(Document) + col("doc_id"), value = str(col("source"))),
        R("n_chars", lit(Document) + col("doc_id"), value = lng(col("n_chars"))),
        R("dgraph.type", lit(Document) + col("doc_id"), value = lit("Document")))),
      melt(t("embeddings"), Seq(
        R("dgraph.type", lit(Embedding) + col("vec_id"), value = lit("Embedding"))))
    ).flatten
    if (branches.isEmpty) None else Some(branches.reduce(_ unionByName _))
  }

  /** Vector attribute for similar_to (reference float32vector,
    * types/scalar_types.go:60).
    */
  lazy val attrVector: DataFrame =
    t("embeddings").select(
      (lit(Embedding) + col("vec_id")).as("subject"),
      lit("embedding").as("predicate"),
      col("embedding").as("value"))

  /** Facet keys and their value types per edge predicate (reference
    * facet metadata, types/facets/facet_types.go:21). Facet values live
    * as strings in the edge map; these types drive comparisons/ordering.
    */
  val facetKeys: Map[String, Seq[(String, String)]] = Map(
    "placed" -> Seq("orderdate" -> "string", "totalprice" -> "double"),
    "has_line" -> Seq("quantity" -> "long", "discount" -> "double"))

  val schema: SchemaRegistry = SchemaRegistry.tpch

  /** Typed attribute view for one predicate (the "tablet"). String
    * tablets read the session-materialized partitioned layout — a
    * single partition-pruned directory scan per predicate instead of a
    * constant-folded 14-branch union (same plan property, fewer leaf
    * scans and scheduler tasks; the typed numeric views stay
    * source-backed so their range predicates push down as native
    * parquet types).
    */
  def attr(predicate: String): DataFrame = {
    val table = schema.pred(predicate).dgraphType match {
      case "string" | "default" => attrStringStored
      case "int" => attrLong
      case "float" => attrDouble
      case "datetime" => attrTs
      case "float32vector" => attrVector
      case other => throw new IllegalArgumentException(
        s"no attribute table for type $other (predicate $predicate)")
    }
    table.filter(col("predicate") === predicate)
  }

  /** Every entity table's wide-readable scalar predicates: (typeName,
    * source frame, subject uid, (pred, SOURCE column) pairs). Excludes
    * lang-tagged (`text`) predicates — those genuinely need the
    * per-predicate path (untagged-only rule, per-tag display riders);
    * datetime rides wide since r17 (the tablet is the same
    * cast-to-timestamp of the same source column). Column casts are
    * applied by [[attrWide]] from the registry's own dgraph type, so
    * the wide value is bit-identical to the melted tablet's.
    */
  private[graft] def wideRegistry: Seq[(String, () => DataFrame, Column,
      Seq[(String, Column)])] = Seq(
    ("Region", () => t("region"), lit(Region) + col("r_regionkey").cast("long"),
      Seq("name" -> col("r_name"))),
    ("Nation", () => t("nation"), lit(Nation) + col("n_nationkey").cast("long"),
      Seq("name" -> col("n_name"))),
    ("Customer", () => t("customer"), lit(Customer) + col("c_custkey"),
      Seq("name" -> col("c_name"),
        "mktsegment" -> col("c_mktsegment"),
        "acctbal" -> col("c_acctbal"))),
    ("Supplier", () => t("supplier"), lit(Supplier) + col("s_suppkey"),
      Seq("name" -> col("s_name"),
        "acctbal" -> col("s_acctbal"))),
    ("Part", () => t("part"), lit(Part) + col("p_partkey"),
      Seq("name" -> col("p_name"),
        "brand" -> col("p_brand"),
        "ptype" -> col("p_type"),
        "size" -> col("p_size"),
        "retailprice" -> col("p_retailprice"))),
    ("Order", () => t("orders"), lit(Order) + col("o_orderkey"),
      Seq("orderstatus" -> col("o_orderstatus"),
        "orderpriority" -> col("o_orderpriority"),
        "totalprice" -> col("o_totalprice"),
        "orderdate" -> col("o_orderdate"))),
    ("Lineitem", () => line, col("line_uid"),
      Seq("returnflag" -> col("l_returnflag"),
        "linestatus" -> col("l_linestatus"),
        "quantity" -> col("l_quantity"),
        "extendedprice" -> col("l_extendedprice"),
        "discount" -> col("l_discount"),
        "shipdate" -> col("l_shipdate"))),
    ("Document", () => t("documents"), lit(Document) + col("doc_id"),
      Seq("source" -> col("source"),
        "n_chars" -> col("n_chars"))))

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
    def sqlType(p: String): String = schema.pred(p).dgraphType match {
      case "int" => "long"
      case "float" => "double"
      case "datetime" => "timestamp"
      case _ => "string"
    }
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
            byPred.get(p)
              .map(_.cast(sqlType(p)))
              .getOrElse(lit(null).cast(sqlType(p)))
              .as(s"__ma_$p")
          }: _*)
        }
        Some(GraphStore.WideGroup(frames.reduce(_ unionByName _), groupPreds,
          if (ms.size == 1) Some(ms.head._1) else None))
      }
    }
  }

  /** Target node types of a uid edge — load-layout metadata (each edge
    * branch of [[edges]] constructs its objects inside exactly one uid
    * band). Lets the executor carry frontier identity across a
    * traversal hop so [[attrWide]] can prune its union.
    */
  override def edgeTargetTypes(predicate: String): Set[String] =
    predicate match {
      case "located_in" => Set("Nation")
      case "in_region" => Set("Region")
      case "placed" => Set("Order")
      case "has_line" => Set("Lineitem")
      case "of_part" => Set("Part")
      case "by_supplier" => Set("Supplier")
      case _ => Set.empty
    }

  /** `placed` objects derive 1:1 from orders rows (o_orderkey is the
    * table's key) and `has_line` objects are the line_uid layout's own
    * unique subject — each target has exactly one inbound edge, so a
    * dedup over the objects is an identity (StoreInvariantSpec pins
    * this against the data).
    */
  override def edgeObjectsUnique(predicate: String): Boolean =
    predicate == "placed" || predicate == "has_line"

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
  private val cache = TrieMap.empty[(SparkSession, String), TripleStore]
  def apply(spark: SparkSession, sfDir: String): TripleStore =
    cache.getOrElseUpdate((spark, sfDir), new TripleStore(spark, sfDir))
}
