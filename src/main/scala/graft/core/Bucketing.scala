package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Physical layout for cluster scale: materialize the triple-store
  * tables bucketed on `subject`, so every frontier⋈edges / edges⋈attrs
  * join co-partitions and the per-level traversal join needs NO exchange
  * of the big side (the reference reaches the same property by routing a
  * predicate's task to the tablet's group, worker/groups.go:218).
  *
  * Local mode writes into a warehouse dir; on a cluster this is the same
  * `bucketBy` call against the real catalog. Bucket count is the knob
  * that must scale with data volume (≈ one bucket per ~128 MB of edges
  * at 100 TB).
  */
object Bucketing {

  /** Write a DataFrame as a bucketed, sorted table. Drops any previous
    * catalog entry AND its warehouse location first — with the
    * in-memory catalog a fresh session forgets the table but the files
    * linger, and saveAsTable refuses an existing location.
    */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
      key: String = "subject"): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    // Align the shuffle with the bucket function before writing:
    // repartition(buckets, key) uses the same Murmur3 pmod as bucketBy,
    // so each task holds exactly one bucket and writes ONE file. Without
    // it every input partition opens a writer per bucket it touches —
    // numFiles = partitions × buckets (measured 128 files/table at 16
    // input partitions), and the committer fsync storm is what degrades
    // first under disk pressure. At cluster scale this is the standard
    // bucketed-write shape: one task per bucket, file count == buckets.
    df.repartition(buckets, df.col(key))
      .write
      .format("parquet")
      .bucketBy(buckets, key)
      .sortBy(key)
      .mode("overwrite")
      .saveAsTable(table)
  }

  def table(spark: SparkSession, name: String): DataFrame = spark.table(name)
}
