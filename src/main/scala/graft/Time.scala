package graft

/** Timing inspector (builder-side tooling, like Explain): run named
  * queries N times each and print per-iteration wall times, separating
  * first-touch materialization (derived parquet, checkpoints) from
  * steady-state cost. Usage: runMain graft.Time <sfDir> <reps> [names...]
  */
object Time {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 3
    val names = if (args.length > 2) args.drop(2).toSeq
      else Seq("q1_agg")
    val spark = GraftSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[time] $n%-28s ${times.map(t => f"$t%.3f").mkString("  ")}")
    }
    spark.stop()
  }
}
