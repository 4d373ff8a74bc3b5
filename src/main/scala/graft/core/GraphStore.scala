package graft.core

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Store abstraction the query engine executes against: per-predicate
  * edge and attribute views ("tablets", reference worker/groups.go:218
  * BelongsTo), node types, facet metadata, and the predicate schema.
  *
  * Implementations:
  *  - [[TripleStore]] derives the views from the TPC-H-ish relational
  *    parquet tables (the driver's test corpus);
  *  - [[TripleFrameStore]] wraps ANY triples DataFrame (e.g. parsed
  *    N-Quads from [[graft.sources.RdfSource]]) — the "bring your own
  *    graph" loader path.
  *
  * Contract for the frames:
  *  - `edges`: subject LONG, predicate STRING, object LONG,
  *    facets MAP<STRING,STRING>, plus one typed `_ft_<key>` column per
  *    declared facet key (null outside the owning predicate) so facet
  *    comparisons land on plain columns Catalyst can push down;
  *  - `attr(p)`: subject LONG, predicate STRING, value typed by the
  *    schema (`lang` STRING column present for @lang predicates);
  *  - `nodeTypes`: subject LONG, typeName STRING.
  */
trait GraphStore {
  def spark: SparkSession
  def schema: SchemaRegistry
  def edges: DataFrame
  def nodeTypes: DataFrame
  def facetKeys: Map[String, Seq[(String, String)]]
  def attr(predicate: String): DataFrame

  /** Persisted ANN index directory for a vector predicate, when one has
    * been built (reference: similar_to dispatches to the STORED per-
    * predicate HNSW graph — worker/task.go:2171 → tok/hnsw/
    * persistent_hnsw.go — never a scan when the index exists). Stores
    * that maintain vector indexes override this; the DQL executor falls
    * back to the exact distributed scan when it returns None.
    */
  def annIndexDir(predicate: String): Option[String] = None

  /** Tablet-group (wide) fetch: for scalar predicates co-located in ONE
    * backing source table, a single frame — `subject` plus one typed
    * value column `__ma_<pred>` per covered predicate — replaces N
    * per-predicate tablet joins with one column-pruned scan and one
    * join. At 100 TB that is the difference between k shuffle joins of
    * k melted tablets and one co-located read of the entity's own
    * columnar row group (the reference's posting lists pay one seek per
    * predicate; a columnar store holds sibling attributes side by
    * side). Contract: each returned frame is unique per subject, value
    * types match `attr(p)`'s, and the covered predicate lists are
    * disjoint across frames. `entityType`, when set, asserts the
    * frame's subjects are EXACTLY the store's nodes of that dgraph.type
    * — a bare `type(T)` root then projects straight off the frame, no
    * frontier join at all. Default: none — consumers fall back to
    * per-predicate reads. Wrapping stores (ACL) must NOT forward this
    * without re-applying their read filtering.
    */
  def attrWide(preds: Seq[String],
      frontierTypes: Set[String] = Set.empty): Seq[GraphStore.WideGroup] = Nil

  /** Target node types of a uid edge, when the store's load layout pins
    * them (empty = unknown). Consumers may use this ONLY to prune reads
    * that are provably dead for subjects outside those types.
    */
  def edgeTargetTypes(predicate: String): Set[String] = Set.empty

  /** True when the store's load layout proves the edge's OBJECTS are
    * globally unique (each target node has exactly one inbound edge of
    * this predicate — the child side of a 1:N relationship). A distinct
    * over the objects of such an edge is an identity, so consumers that
    * must dedup traversal targets (reference fillGroupedVars merges
    * unique SrcUIDs) may skip the dedup exchange outright. Default:
    * unknown — consumers keep the dedup.
    */
  def edgeObjectsUnique(predicate: String): Boolean = false

  /** True when the store guarantees `attr(p)` holds AT MOST ONE row per
    * subject (per lang variant for @lang predicates — i.e. unique on
    * (subject) for plain scalars, so any single-tag or untagged slice is
    * unique too). Lets value-filtered root seeds skip their dedup
    * exchange: filtering a subject-unique tablet cannot duplicate a
    * subject. List predicates and stores built from arbitrary triples
    * must keep the default.
    */
  def attrSubjectUnique(predicate: String): Boolean = false

  /** Edge view for one predicate — "tablet" access path. */
  def edge(predicate: String): DataFrame =
    edges.filter(col("predicate") === predicate)

  /** Reverse edge (reference @reverse, posting/index.go:276): swap sides.
    * No materialization needed — the join planner swaps the equi-join key.
    * Facet map and typed facet columns ride along unchanged.
    */
  def reverseEdge(predicate: String): DataFrame = {
    val e = edge(predicate)
    val keep = e.columns.filter(c => c != "subject" && c != "object").map(col)
    e.select(Seq(col("object").as("subject")) ++ keep :+
      col("subject").as("object"): _*)
  }

  /** Optional store-optimized canonical backup frame (subject, predicate,
    * objectUid, value, lang, facets — the [[graft.operators.Backup]]
    * layout). `None` makes Backup compose it generically from
    * attr()/edges/nodeTypes, one union branch per tablet; a store that
    * knows its source layout can return a frame with far fewer leaf
    * scans (TripleStore melts one scan per source table). Values must be
    * formatted identically to the generic path — BackupSpec asserts
    * parity row-for-row.
    */
  def backupTriples(only: Set[String]): Option[DataFrame] = None

  /** Session-lifetime artifact cache, keyed by a caller-chosen key: the
    * one place build-once state lives (the shortest-path cone, ANN
    * quantizers and index dirs, dedup signature frames, backup series,
    * GraphQL engines). Each caller materializes its own artifact inside
    * `build` (checkpoint, written directory, collected centroids).
    * Builds may nest — an artifact's build may ask for another key —
    * which is why this is TrieMap.getOrElseUpdate (look up, build, then
    * insert) and not ConcurrentHashMap.computeIfAbsent, which throws on
    * a recursive update.
    */
  private val derivedCache = TrieMap.empty[Any, Any]
  def derived[V](key: Any)(build: => V): V =
    derivedCache.getOrElseUpdate(key, build).asInstanceOf[V]
}

object GraphStore {
  /** One tablet-group frame (see [[GraphStore.attrWide]]): `frame` has
    * column `subject` plus `__ma_<pred>` per covered predicate;
    * `entityType` asserts the subjects are exactly that type's nodes.
    */
  final case class WideGroup(frame: DataFrame, preds: Seq[String],
      entityType: Option[String] = None)
}
