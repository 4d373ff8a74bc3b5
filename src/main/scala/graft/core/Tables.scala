package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated TPC-H-ish parquet tables
  * (see /root/repo/TESTDATA.md). All reads are plain parquet scans so
  * Catalyst predicate pushdown / column pruning applies; at cluster
  * scale these would be partitioned tables behind a catalog, but the
  * API surface (a `DataFrame` per logical table) is identical.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // events.parquet carries TIMESTAMP(NANOS), which Spark 4 refuses by
    // default — read nanos as long, then convert to a (µs-truncated)
    // timestamp, matching DuckDB's own ns→µs truncation on read.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.plans.GraftOptimizations.install(spark)
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    if (name == "events") {
      // normalize `ts` to TIMESTAMP (LTZ, session tz = UTC): the older
      // generator wrote TIMESTAMP(NANOS) (read as long above, truncate
      // to µs); newer testdata writes timestamp[us] which Spark reads
      // as TIMESTAMP_NTZ — either way downstream window/unix_millis
      // logic sees one type, matching DuckDB's naive-UTC read.
      import org.apache.spark.sql.functions.{expr, timestamp_micros}
      import org.apache.spark.sql.types._
      df.schema("ts").dataType match {
        case LongType =>
          df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampNTZType =>
          df.withColumn("ts", expr("cast(ts as timestamp)"))
        case _ => df
      }
    } else df
  }

  /** Bytes of a table's files, from Spark's relation statistics. The
    * declared one-column schema skips schema inference (reading parquet
    * footers); the statistics come from the file listing alone.
    */
  def sizeInBytes(spark: SparkSession, sfDir: String, name: String): Long =
    spark.read.schema("size_probe LONG").parquet(s"$sfDir/$name.parquet")
      .queryExecution.analyzed.stats.sizeInBytes.toLong

  /** Register all tables as temp views (idempotent) and return the session.
    * Used by SQL-shaped entry points; view name == parquet file stem, which
    * is also what the driver's DuckDB oracle uses.
    */
  def registerViews(spark: SparkSession, sfDir: String): Unit = synchronized {
    val marker = s"graft.views.${sfDir.hashCode}"
    if (spark.conf.getOption(marker).isEmpty) {
      names.foreach { n => load(spark, sfDir, n).createOrReplaceTempView(n) }
      spark.conf.set(marker, "1")
    }
  }
}
