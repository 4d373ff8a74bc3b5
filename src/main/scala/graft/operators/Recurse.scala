package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

import graft.core.SessionConf

/** `@recurse(depth: N, loop: bool)` — iterative frontier expansion
  * re-applying the same edge template per level, deduping seen uids
  * unless loop=true (reference query/recurse.go:19 expandRecurse).
  *
  * Every expansion runs one driver-side level loop ([[levels]]) and
  * supplies only its step: the join of the frontier against the edges
  * and its dedup rule. The loop owns the rest:
  *  - each step's frames are lazy `localCheckpoint`s, so the plan is
  *    truncated every level and plans don't grow with depth (on a
  *    cluster: checkpoint to HDFS or persist+count);
  *  - ONE `count()` per level both materializes the level and tells
  *    whether it is empty; AQE stays off for it below
  *    [[AqeFrontierThreshold]], where the join is a broadcast of a small
  *    frontier against the pruned edge scan;
  *  - the seen set (the reference's seen map) is the union of the
  *    levels, re-truncated every 4 levels;
  *  - the output is the union of the levels with their `depth`, or an
  *    empty frame of the level's columns.
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

  /** One level of a walk. `rows` are its output rows. `next` is counted
    * (the one count materializes both lazily checkpointed frames), is
    * the next step's input and joins the seen set. They differ only
    * where a level renders more than it expands ([[expandTree]]).
    */
  private final case class Level(rows: DataFrame, next: DataFrame)

  /** The level loop: `step(input, seen)` builds level `depth` from the
    * previous level's `next` (`first` at depth 1) and the seen set
    * (`seen` at depth 1; None without dedup). The walk stops at
    * `maxDepth` or at the first level that renders nothing; a level
    * that renders rows but expands nothing is the last one kept.
    */
  private def levels(first: DataFrame, seen: Option[DataFrame],
      maxDepth: Int, dedup: Boolean)(
      step: (DataFrame, Option[DataFrame]) => Level): DataFrame = {
    var input = first
    var seenSet = if (dedup) seen else None
    var out: DataFrame = null
    var last: Level = null
    var depth = 1
    var done = false
    var frontierSize = 0L
    while (depth <= maxDepth && !done) {
      val lvl = step(input, seenSet)
      last = lvl
      frontierSize = withAqe(lvl.next, frontierSize >= AqeFrontierThreshold) {
        lvl.next.count()
      }
      // an empty `next` ends the walk; a level whose rows are not `next`
      // is probed (a limit-1 scan of its checkpoint) only then
      if (frontierSize == 0 && ((lvl.rows eq lvl.next) || lvl.rows.isEmpty))
        done = true
      else {
        val rows = lvl.rows.withColumn("depth", lit(depth))
        out = if (out == null) rows else out.unionByName(rows)
        if (dedup) {
          // a union of checkpointed LogicalRDDs: plan growth is linear
          // in depth, so re-truncate only every 4 levels (lazily: the
          // next count() materializes it for free)
          seenSet = Some(seenSet.fold(lvl.next)(_.unionByName(lvl.next)))
          if (depth % 4 == 0) seenSet = seenSet.map(_.localCheckpoint(false))
        }
        input = lvl.next
        depth += 1
        done = frontierSize == 0
      }
    }
    if (out != null) out
    else {
      // with maxDepth < 1 no level ran: build (not run) one for its columns
      val rows = Option(last).getOrElse(step(input, seenSet)).rows
      val s = rows.sparkSession
      s.createDataFrame(s.sparkContext.emptyRDD[Row],
        rows.schema.add("depth", IntegerType))
    }
  }

  /** The seeds as a lazily checkpointed (start, node = start) frontier. */
  private def startFrontier(seeds: DataFrame): DataFrame =
    seeds.select(col("start"), col("start").as("node")).distinct()
      .localCheckpoint(false)

  /** Expand `seeds` (column `start`) over `edges` (columns subject,object)
    * up to maxDepth. Returns (start, node, depth) with depth = first level
    * at which `node` was reached from `start` (1-based); loop=false prunes
    * revisits.
    */
  def expand(seeds: DataFrame, edges: DataFrame, maxDepth: Int,
      loop: Boolean = false): DataFrame = {
    val e = edges.select(col("subject"), col("object"))
    val start = startFrontier(seeds)
    levels(start, Some(start), maxDepth, dedup = !loop) { (frontier, seen) =>
      val reached = frontier.join(e, frontier("node") === e("subject"))
        .select(frontier("start"), e("object").as("node")).distinct()
      val next = seen.fold(reached)(reached.join(_, Seq("start", "node"), "left_anti"))
        .localCheckpoint(false)
      Level(next, next)
    }
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
    val start = startFrontier(seeds)
    levels(start, Some(start), maxDepth, dedup = !loop) { (frontier, seen) =>
      // every edge renders; only the unseen targets expand. The count of
      // `next` materializes `raw` too (it subsumes it via lineage).
      val raw = frontier.join(e, frontier("node") === e("subject"))
        .select(frontier("start"), frontier("node").as("parent"),
          e("pred"), e("object").as("node"))
        .localCheckpoint(false)
      val targets = raw.select(col("start"), col("node")).distinct()
      val next = seen.fold(targets)(targets.join(_, Seq("start", "node"), "left_anti"))
        .localCheckpoint(false)
      Level(raw, next)
    }
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
    // the seen set holds edges, not nodes: it starts empty
    levels(seeds, None, maxDepth, dedup = !loop) { (prev, seen) =>
      val frontier = prev.select(col("node")).distinct().localCheckpoint(false)
      val taken = frontier.join(e, frontier("node") === e("subject"))
        .select(frontier("node").as("parent"), e("pred"), e("object").as("node"))
      val lvl = seen.fold(taken)(taken.join(_, Seq("parent", "pred", "node"), "left_anti"))
        .localCheckpoint(false)
      Level(lvl, lvl)
    }
  }

  /** Path-tracking expansion with `@ignorereflex` semantics: never revisit
    * an ancestor on the current path (reference query/query.go:155
    * ParentIds check). Returns (start, node, depth, path ARRAY<LONG>).
    * Exponential in theory — callers bound depth; the reference does too.
    */
  def expandPaths(seeds: DataFrame, edges: DataFrame, maxDepth: Int): DataFrame = {
    val e = edges.select(col("subject"), col("object"))
    val start = seeds.select(col("start"), col("start").as("node"),
      array(col("start")).as("path")).localCheckpoint(false)
    levels(start, None, maxDepth, dedup = false) { (frontier, _) =>
      val next = frontier.join(e, frontier("node") === e("subject"))
        .filter(!array_contains(frontier("path"), e("object")))
        .select(frontier("start"), e("object").as("node"),
          array_append(frontier("path"), e("object")).as("path"))
        .localCheckpoint(false)
      Level(next, next)
    }
  }
}
