package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Builder-side scale-up generator: tile an existing testdata directory
  * N× into a larger scale factor for scaling measurements (the driver
  * ships sf0.001/0.01/0.1; the 100 TB claim wants at least one measured
  * point above the bench tier).
  *
  * Facts tile with per-tile key offsets (stride 10^7 — far below the
  * 10^12 uid-base spacing in [[graft.core.Uids]], so packed uids never
  * collide across entity kinds); dimensions (region/nation) stay fixed,
  * like real growth. Foreign keys shift by the same stride as their
  * parent so every tile is referentially closed onto itself + the
  * shared dims. Document text gets a per-tile token suffix on EVERY
  * word and embeddings a per-tile dimension rotation, so tiles are not
  * near-duplicates of each other — otherwise the dedup/ANN gates would
  * measure a 10× duplicate explosion instead of 10× data.
  *
  * Usage: runMain graft.tools.GenScale <srcDir> <dstDir> [tiles=10]
  */
object GenScale {

  private val Stride = 10000000L // 10^7 per tile

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val tiles = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.GraftSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")
    try generate(spark, src, dst, tiles)
    finally spark.stop()
  }

  def generate(spark: SparkSession, src: String, dst: String,
      tiles: Int): Unit = {
    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")

    // tile a frame: union of `tiles` copies, offsetting the named long
    // key columns by tile*Stride (tile 0 = the original rows)
    def tile(df: DataFrame, keys: String*) (
        extra: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until tiles).map { i =>
        val shifted = keys.foldLeft(df)((d, k) =>
          d.withColumn(k, col(k) + lit(i * Stride)))
        extra(shifted, i)
      }.reduce(_ unionByName _)

    // dims stay fixed: facts grow, the nation/region vocabulary doesn't
    write(read("region"), "region")
    write(read("nation"), "nation")
    write(tile(read("customer"), "c_custkey")(), "customer")
    write(tile(read("supplier"), "s_suppkey")(), "supplier")
    write(tile(read("part"), "p_partkey")(), "part")
    write(tile(read("orders"), "o_orderkey", "o_custkey")(), "orders")
    write(tile(read("lineitem"), "l_orderkey", "l_partkey", "l_suppkey")(),
      "lineitem")
    write(tile(read("events"), "event_id", "user_id")(), "events")
    // every word carries the tile id (i>0): token multiset, lengths and
    // punctuation stats stay representative while NO shingle survives
    // across tiles — near-dup relations stay within a tile
    write(tile(read("documents"), "doc_id")((d, i) =>
      if (i == 0) d
      else d.withColumn("text",
        regexp_replace(col("text"), """(\S+)""", "$1" + i.toString))
        .withColumn("n_chars", length(col("text")))), "documents")
    // rotate embedding dimensions by the tile index: a rotated vector's
    // cosine against the original is ~random, so ANN neighborhoods stay
    // tile-local instead of 10 exact copies per query point. The
    // rotation is bounded to [1, dim-1] — tile dim (and multiples)
    // would otherwise rotate full-circle back to an exact copy
    val embDim = read("embeddings")
      .select(size(col("embedding"))).head.getInt(0)
    require(embDim >= 2,
      s"embedding rotation needs dim >= 2 (source dim is $embDim)")
    write(tile(read("embeddings"), "vec_id")((d, i) =>
      if (i == 0) d
      else {
        val r = 1 + ((i - 1) % (embDim - 1))
        d.withColumn("embedding",
          concat(slice(col("embedding"), r + 1, 1 << 20),
            slice(col("embedding"), 1, r)))
      }), "embeddings")
    println(s"[genscale] wrote $tiles tiles of $src to $dst")
  }
}
