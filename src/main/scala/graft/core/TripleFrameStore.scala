package graft.core

import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** [[GraphStore]] over an arbitrary triples DataFrame — the "bring your
  * own graph" loader path: N-Quads parsed by
  * [[graft.sources.RdfSource.parse]] (or any frame with the same shape)
  * plus a [[SchemaRegistry]] become a fully queryable store for the DQL /
  * GraphQL engines. This is the Spark analogue of the reference's bulk
  * loader output (dgraph/cmd/bulk): the canonical physical layout is one
  * subject-keyed table of typed tablets.
  *
  * Input `triples` columns:
  *   subject LONG, predicate STRING, objectUid LONG (null for literals),
  *   value STRING (null for uid edges), lang STRING, facets STRING
  *   ("k=v, k2=v2" — the N-Quad facet syntax).
  *
  * Node types come from `dgraph.type` triples, exactly like the
  * reference (query/query.go:2780 getPredicatesFromTypes reads the type
  * attribute). Typed attribute views cast the string values by the
  * predicate's declared schema type at view time; at 100 TB the same
  * frame would be written per-type partitioned parquet by the bulk-load
  * job and these views would read it back pruned.
  */
final class TripleFrameStore(
    val spark: SparkSession,
    val schema: SchemaRegistry,
    triples: DataFrame,
    val facetKeys: Map[String, Seq[(String, String)]] = Map.empty,
    materialize: Boolean = true)
    extends GraphStore {

  // one pass over the input, shared by every tablet view. For a
  // COMPUTED input (N-Quad parse, mutation output) the checkpoint pays
  // for itself on the second tablet view; for a FILE-BACKED input
  // (Backup.restore's predicate-partitioned parquet) it is strictly
  // worse — it materializes the whole frame into executor storage and
  // DEFEATS partition pruning, so callers with prunable inputs pass
  // materialize = false and tablet views push predicate filters down
  // to the partitioned scan
  private val base = if (materialize) triples.localCheckpoint() else triples

  /** The triples frame's plan statistics, when Spark has them: a frame
    * Spark cannot size (an RDD it never planned) reports the session's
    * default size, which reads as unknown here.
    */
  override lazy val estimatedBytes: Option[Long] = {
    val size = base.queryExecution.optimizedPlan.stats.sizeInBytes
    val unsized = JavaUtils.byteStringAsBytes(spark.conf.get("spark.sql.defaultSizeInBytes"))
    if (size < unsized) Some(size.toLong)
    else None
  }

  // per-predicate persisted ANN index registry (the analogue of the
  // reference's index metadata in the schema state) — written by
  // [[registerAnnIndex]] after an index build, read by the DQL
  // executor's similar_to dispatch
  private val annIndexes =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Register a persisted vector index (built with
    * [[graft.operators.Similarity.hnswWrite]]) for `predicate`.
    */
  def registerAnnIndex(predicate: String, dir: String): Unit =
    annIndexes.put(predicate, dir)

  override def annIndexDir(predicate: String): Option[String] =
    annIndexes.get(predicate)

  lazy val edges: DataFrame = {
    val m = when(col("facets").isNotNull,
      str_to_map(col("facets"), lit(", "), lit("=")))
      .otherwise(map().cast("map<string,string>"))
    // one `_ft_<key>` column per KEY NAME: predicates sharing a facet key
    // (path/connects both carry `weight`) merge into a single typed
    // column switched on the predicate — duplicate column names would be
    // ambiguous downstream
    val ftCols = facetKeys.toSeq
      .flatMap { case (pred, keys) => keys.map { case (k, t) => (k, pred, t) } }
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (k, entries) =>
        coalesce(entries.sortBy(_._2).map { case (_, pred, t) =>
          // "auto" = per-value dynamic typing (reference ParseFacetValue)
          // — keep the raw string here; filters compare raw, the JSON
          // renderer infers per value. "datetime" stores/renders the
          // RFC3339 string but compares and sorts as a timestamp.
          val typed = if (t == "auto") element_at(m, k)
            else element_at(m, k)
              .cast(if (t == "datetime") "timestamp" else t)
          when(col("predicate") === pred, typed)
        }: _*).as(s"_ft_$k")
      }
    base.filter(col("objectUid").isNotNull)
      .select(Seq(col("subject"), col("predicate"),
        col("objectUid").as("object"), m.as("facets")) ++ ftCols: _*)
  }

  // distinct: re-asserted dgraph.type triples must read as one membership
  // — root executors rely on nodeTypes being unique per (subject, type)
  // and skip their own dedup exchange
  lazy val nodeTypes: DataFrame =
    base.filter(col("predicate") === "dgraph.type" && col("value").isNotNull)
      .select(col("subject"), col("value").as("typeName"))
      .distinct()

  def attr(predicate: String): DataFrame = {
    val p = schema.pred(predicate)
    val rows = base.filter(col("predicate") === predicate &&
      col("objectUid").isNull)
    val typed = p.dgraphType match {
      case "int" => col("value").cast("long")
      case "float" => col("value").cast("double")
      // reference bigfloat (types/scalar_types.go:63, arbitrary-precision
      // big.Float at 200 bits) narrows to DECIMAL(38,24) — 24 fractional
      // digits cover the reference's own eq-beyond-float64 goldens
      // (TestBigFloatTypeTokenizer distinguishes at 1e-22); SURVEY §1.2
      // documents the precision bound
      case "bigfloat" => col("value").cast(
        org.apache.spark.sql.types.DecimalType(38, 24))
      case "bool" => col("value").cast("boolean")
      // "[1.0, 1.0, 2.0, 2.0]" → ARRAY<FLOAT> (reference float32vector,
      // types/scalar_types.go:60); to_json then renders the JSON array
      case "float32vector" =>
        transform(
          filter(split(regexp_replace(col("value"), """[\[\]\s]""", ""),
            ","), x => x =!= ""),
          x => x.cast("float"))
      // instant for compare/sort; the offset-preserving display string
      // rides along (see DateTimeFunctions — Go keeps the written zone)
      case "datetime" => graft.functions.DateTimeFunctions.instant(col("value"))
      // password predicates store the bcrypt HASH, never the plaintext
      // (reference types/password.go Encrypt at mutation time; checkpwd
      // re-verifies against the stored `$2a$` string). Cost 4 matches the
      // test fixture; the salt is derived deterministically so the view
      // is stable across evaluations.
      case "password" =>
        graft.functions.PasswordFunctions.bcryptHash(col("value"),
          graft.functions.PasswordFunctions.bcryptSalt(
            concat_ws(":", col("subject").cast("string"), col("predicate")),
            lit(4)))
      case _ => col("value")
    }
    // value facets (reference stores facets on VALUE postings too —
    // `name @facets` renders "name|origin"): expose the parsed map for
    // predicates with declared facet keys
    val fmCol =
      if (facetKeys.contains(predicate))
        Seq(when(col("facets").isNotNull,
          str_to_map(col("facets"), lit(", "), lit("=")))
          .otherwise(map().cast("map<string,string>")).as("facets"))
      else Nil
    if (p.dgraphType == "string" || p.dgraphType == "default")
      rows.select(Seq(col("subject"), col("predicate"),
        typed.as("value"), col("lang")) ++ fmCol: _*)
    else if (p.dgraphType == "datetime")
      // `display` rider: the offset-preserving RFC3339 text the JSON
      // renderer emits (TestDateTimeQuery goldens keep "+23:00")
      rows.select(Seq(col("subject"), col("predicate"), typed.as("value"),
        graft.functions.DateTimeFunctions.display(col("value"))
          .as("display")) ++ fmCol: _*)
    else rows.select(Seq(col("subject"), col("predicate"),
      typed.as("value")) ++ fmCol: _*)
  }
}
