package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.SessionConf

/** `@recurse(depth: N, loop: bool)` — iterative frontier expansion
  * re-applying the same edge template per level, deduping seen uids
  * unless loop=true (reference query/recurse.go:19 expandRecurse).
  *
  * Driver-side loop over DataFrames: each round is one distributed
  * equi-join frontier⋈edges. Scale notes:
  *  - the frontier is usually tiny relative to the edge table, so each
  *    round is a broadcast-hash join of frontier against the (bucketed,
  *    predicate-pruned) edge scan — no full-table shuffle per level;
  *  - `localCheckpoint` every round truncates the lineage so plans don't
  *    grow exponentially with depth (on a cluster: checkpoint to HDFS or
  *    persist+count);
  *  - dedup against `visited` is a left_anti join on (start, node), the
  *    reference's seen-uid map.
  */
object Recurse {

  /** Frontier size above which a level keeps AQE on. Below it the
    * per-level join is a broadcast of a small frontier against the
    * pruned edge scan — AQE cannot improve that plan, but its query-
    * stage materialization adds 3-4 extra Spark jobs per level, and
    * per-level driver jobs are exactly what host contention amplifies
    * (r9 scored bench: 67.9s vs 2.2s reproduced on dql_recurse_filter).
    * Above the threshold the join is a real shuffle where AQE's runtime
    * re-planning (skew splits, partition coalescing) earns its jobs.
    */
  private val AqeFrontierThreshold = 1000000L

  /** Run `f` with AQE toggled for the calling session — scoped to the
    * level's one materializing action, so concurrent queries see at
    * most a transient change, and overlapping levels that want
    * different settings still leave the session's own value behind.
    */
  private def withAqe[T](df: DataFrame, on: Boolean)(f: => T): T =
    SessionConf.scoped(df.sparkSession, "spark.sql.adaptive.enabled" -> on.toString)(f)

  /** Expand `seeds` (column `start`) over `edges` (columns subject,object)
    * up to maxDepth. Returns (start, node, depth) with depth = first level
    * at which `node` was reached from `start` (1-based); loop=false prunes
    * revisits.
    */
  def expand(seeds: DataFrame, edges: DataFrame, maxDepth: Int,
      loop: Boolean = false): DataFrame = {
    val e = edges.select(col("subject"), col("object"))
    // lazy checkpoint: the plan is truncated to a LogicalRDD immediately;
    // materialization rides the count() below — ONE job per level, not a
    // separate eager-checkpoint job plus an isEmpty probe (driver-action
    // count is what gets amplified under host contention).
    var frontier = seeds.select(col("start"), col("start").as("node"))
      .distinct().localCheckpoint(false)
    var visited = frontier
    var out: DataFrame = null
    var depth = 1
    var done = false
    var frontierSize = 0L
    while (depth <= maxDepth && !done) {
      var next = frontier.join(e, frontier("node") === e("subject"))
        .select(frontier("start"), e("object").as("node")).distinct()
      if (!loop)
        next = next.join(visited, Seq("start", "node"), "left_anti")
      next = next.localCheckpoint(false)
      frontierSize = withAqe(next, frontierSize >= AqeFrontierThreshold) {
        next.count()
      }
      if (frontierSize == 0) { done = true }
      else {
        val lvl = next.withColumn("depth", lit(depth))
        out = if (out == null) lvl else out.unionByName(lvl)
        // visited is a union of already-checkpointed LogicalRDDs — plan
        // growth is linear in depth, so re-truncate only every 4 levels
        // (lazily: the next count() materializes it for free).
        if (!loop) {
          visited = visited.unionByName(next)
          if (depth % 4 == 0) visited = visited.localCheckpoint(false)
        }
        frontier = next
        depth += 1
      }
    }
    if (out == null)
      seeds.sparkSession.createDataFrame(
        seeds.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("start", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("node", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("depth", org.apache.spark.sql.types.IntegerType))))
    else out
  }

  /** Tree-shaped expansion for NESTED recurse output: tracks which parent
    * and edge predicate reached each node. edges: (subject, object,
    * pred). Returns (start, parent, pred, node, depth) — one row per
    * EDGE encountered walking out from expanded nodes.
    *
    * Reference semantics (query/recurse.go expandRecurse + the
    * TestRecurseQuery golden): every edge from an expanded node RENDERS
    * its target — an already-seen target still appears under the new
    * parent, it just isn't expanded again (its occurrence carries leaves
    * only, since its children were generated at its first-reach level).
    * With loop=true nothing is deduped and every occurrence re-expands
    * until the depth cap.
    */
  def expandTree(seeds: DataFrame, edges: DataFrame, maxDepth: Int,
      loop: Boolean = false): DataFrame = {
    val e = edges.select(col("subject"), col("object"), col("pred"))
    var frontier = seeds.select(col("start"), col("start").as("node"))
      .distinct().localCheckpoint(false)
    var visited = frontier
    var out: DataFrame = null
    var depth = 1
    var done = false
    var frontierSize = 0L
    while (depth <= maxDepth && !done) {
      // single action per level: the lazy checkpoint of `next` (which
      // subsumes `raw` via lineage) is materialized by one count() that
      // doubles as the emptiness probe. Under driver contention each extra
      // Spark job pays scheduler latency, so per-level job count is the
      // scale knob here, not per-job work.
      val raw = frontier.join(e, frontier("node") === e("subject"))
        .select(frontier("start"), frontier("node").as("parent"),
          e("pred"), e("object").as("node"))
        .localCheckpoint(false)
      var next = raw.select(col("start"), col("node")).distinct()
      if (!loop)
        next = next.join(visited, Seq("start", "node"), "left_anti")
      next = next.localCheckpoint(false)
      val n = withAqe(next, frontierSize >= AqeFrontierThreshold) {
        next.count() // materializes raw + next in one job
      }
      frontierSize = n
      // n > 0 implies raw non-empty; probe raw only on the last level
      // (already checkpointed: a limit-1 scan, no recompute)
      if (n == 0 && raw.isEmpty) { done = true }
      else {
        out = if (out == null) raw.withColumn("depth", lit(depth))
          else out.unionByName(raw.withColumn("depth", lit(depth)))
        if (!loop) {
          visited = visited.unionByName(next)
          if (depth % 4 == 0) visited = visited.localCheckpoint(false)
        }
        frontier = next
        depth += 1
        if (n == 0) done = true
      }
    }
    if (out == null) {
      val s = seeds.sparkSession
      import org.apache.spark.sql.types._
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("start", LongType),
          StructField("parent", LongType), StructField("pred", StringType),
          StructField("node", LongType), StructField("depth", IntegerType))))
    } else out
  }

  /** Merged-frontier expansion with the reference's GLOBAL edge-level
    * dedup (query/recurse.go:19 expandRecurse: one reachMap keyed
    * "attr|fromUID|toUID" shared by ALL roots; each level's SubGraph
    * carries the merged SrcUIDs of every root). Differs from
    * [[expandTree]] — which tracks a per-root walk — exactly where
    * several roots reach the same node: here its edges are taken once,
    * globally. Returns (parent, pred, node, depth): one row per edge
    * first taken at `depth`; the level-ℓ frontier is the distinct
    * targets at depth ℓ (the reference's DestUIDs merge). loop=true
    * skips the dedup (the depth cap bounds the walk; the reference
    * requires an explicit depth for loop=true).
    */
  def expandGlobal(seeds: DataFrame, edges: DataFrame, maxDepth: Int,
      loop: Boolean = false): DataFrame = {
    val e = edges.select(col("subject"), col("object"), col("pred"))
    var frontier = seeds.select(col("node")).distinct().localCheckpoint(false)
    var seen: DataFrame = null
    var out: DataFrame = null
    var depth = 1
    var more = true
    var frontierSize = 0L
    while (depth <= maxDepth && more) {
      var nxt = frontier.join(e, frontier("node") === e("subject"))
        .select(frontier("node").as("parent"), e("pred"),
          e("object").as("node"))
      if (!loop && seen != null)
        nxt = nxt.join(seen, Seq("parent", "pred", "node"), "left_anti")
      val lvl = nxt.localCheckpoint(false)
      val n = withAqe(lvl, frontierSize >= AqeFrontierThreshold) { lvl.count() }
      frontierSize = n
      if (n == 0) more = false
      else {
        out = if (out == null) lvl.withColumn("depth", lit(depth))
          else out.unionByName(lvl.withColumn("depth", lit(depth)))
        if (!loop) {
          seen = if (seen == null) lvl else seen.unionByName(lvl)
          if (depth % 4 == 0) seen = seen.localCheckpoint(false)
        }
        frontier = lvl.select(col("node")).distinct().localCheckpoint(false)
        depth += 1
      }
    }
    if (out == null) {
      val s = seeds.sparkSession
      import org.apache.spark.sql.types._
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("parent", LongType),
          StructField("pred", StringType), StructField("node", LongType),
          StructField("depth", IntegerType))))
    } else out
  }

  /** Path-tracking expansion with `@ignorereflex` semantics: never revisit
    * an ancestor on the current path (reference query/query.go:155
    * ParentIds check). Returns (start, node, depth, path ARRAY<LONG>).
    * Exponential in theory — callers bound depth; the reference does too.
    */
  def expandPaths(seeds: DataFrame, edges: DataFrame, maxDepth: Int): DataFrame = {
    val e = edges.select(col("subject"), col("object"))
    var frontier = seeds.select(col("start"), col("start").as("node"),
      array(col("start")).as("path")).localCheckpoint(false)
    var out: DataFrame = null
    var depth = 1
    var frontierSize = frontier.count()
    var more = frontierSize > 0
    while (depth <= maxDepth && more) {
      // one job per level: lazy checkpoint materialized by the count that
      // is also the loop-termination probe
      val next = frontier.join(e, frontier("node") === e("subject"))
        .filter(!array_contains(frontier("path"), e("object")))
        .select(frontier("start"), e("object").as("node"),
          array_append(frontier("path"), e("object")).as("path"))
        .localCheckpoint(false)
      frontierSize = withAqe(next, frontierSize >= AqeFrontierThreshold) {
        next.count()
      }
      more = frontierSize > 0
      if (more || out == null) {
        val lvl = next.withColumn("depth", lit(depth))
        out = if (out == null) lvl else out.unionByName(lvl)
      }
      frontier = next
      depth += 1
    }
    out
  }
}
