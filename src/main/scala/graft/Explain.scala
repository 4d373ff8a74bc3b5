package graft

/** Plan inspector: dump formatted physical plans for selected queries.
  * Usage: runMain graft.Explain <sfDir> [queryName...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else Seq("q1_agg")
    val spark = GraftSession(4)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"===== $n =====")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
