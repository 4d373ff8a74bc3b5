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
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
