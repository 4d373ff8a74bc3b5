package graft

import org.apache.spark.sql.SparkSession

/** The one local session every graft main and the test suites run
  * under: the settings the oracle is checked under, so a result never
  * depends on which entry point produced it.
  */
object GraftSession {
  def apply(cores: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      // internal flat-column names collide under case-insensitive
      // resolution (aliased `friend_Friend` vs nested `friend_friend`)
      .config("spark.sql.caseSensitive", "true")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // default AQE coalescing stops at the cluster's parallelism
      // (parallelismFirst=true), which keeps ~32 post-shuffle tasks on
      // frames of a few thousand rows — under host contention every one
      // of those micro-tasks pays scheduler latency. Size-based
      // coalescing collapses tiny shuffles to one task; the big gates
      // still fan out (their partitions hit the advisory size).
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      // the compiled-class cache (static, JVM-wide; Spark's default 100
      // entries) must hold the working set of a repeated read: the four
      // JSON read gates need about 300 classes, and at 100 or 256
      // entries their second run recompiles ~45-80 classes per read,
      // at 512 only the few whose code differs per run. That holds over
      // stores above DqlExecutor.InterpretedMaxBytes; JSON reads over
      // smaller stores compile nothing (DqlExecutor.ReadMode)
      .config("spark.sql.codegen.cache.maxEntries", "512")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
