package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{SessionConf, Tables}
import graft.plans.{GraftOptimizations, SinglePartitionExec, SmallSort}

/** graft's planner additions change plans, never results: the
  * regexp→StartsWith rule pushes a source filter, and [[SmallSort]]
  * sorts a small input in one partition without a range exchange.
  */
class OptimizerSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("anchored prefix regex becomes a pushed StringStartsWith filter") {
    GraftOptimizations.install(spark)
    val df = Tables.load(spark, sf, "part").filter(col("p_name").rlike("^green .*"))
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("StringStartsWith"),
      s"expected pushed StringStartsWith in:\n$physical")
    // results identical to the unrewritten predicate evaluated row-wise
    val expected = Tables.load(spark, sf, "part")
      .collect().count(_.getAs[String]("p_name").startsWith("green "))
    assert(df.count() == expected)
  }

  test("non-prefix regexes are left untouched") {
    GraftOptimizations.install(spark)
    val df = Tables.load(spark, sf, "part")
      .filter(col("p_name").rlike("^(green|blue) (bolt|rod)$"))
    val physical = df.queryExecution.executedPlan.toString
    assert(!physical.contains("StringStartsWith"))
    assert(physical.contains("RLIKE") || physical.toLowerCase.contains("rlike"))
  }

  test("installing the rule twice does not duplicate it") {
    GraftOptimizations.install(spark)
    GraftOptimizations.install(spark)
    val n = spark.experimental.extraOptimizations
      .count(_ == graft.plans.RegexpPrefixToStartsWith)
    assert(n == 1)
  }

  // ---- SmallSort ----

  /** The sorted rows of a small gate-shaped frame: a UDF-free projection
    * of a parquet table, ordered by keys that break every tie.
    */
  private def sorted(): DataFrame =
    Tables.load(spark, sf, "customer")
      .select(col("c_nationkey"), col("c_acctbal"), col("c_custkey"),
        concat(col("c_name"), lit("/"), col("c_mktsegment")).as("label"))
      .orderBy(col("c_nationkey"), desc("c_acctbal"), col("c_custkey"))

  private def withoutSmallSort[T](body: => T): T = {
    val saved = spark.experimental.extraStrategies
    spark.experimental.extraStrategies = saved.filterNot(_ == SmallSort)
    try body finally spark.experimental.extraStrategies = saved
  }

  private def rangeExchanges(plan: SparkPlan): Int = collectWithSubqueries(plan) {
    case e: ShuffleExchangeLike if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
  }.size

  private def shuffles(plan: SparkPlan): Int =
    collectWithSubqueries(plan) { case e: ShuffleExchangeLike => e }.size

  private def singlePartitionSorts(plan: SparkPlan): Int =
    collectWithSubqueries(plan) { case s: SinglePartitionExec => s }.size

  /** Jobs of writing `df` to a fresh parquet dir, and the plans it ran. */
  private def writeJobs(df: DataFrame): (Int, Seq[SparkPlan]) = {
    val dir = java.nio.file.Files.createTempDirectory("graft_small_sort").toString
    val ((_, cost), qes) = Explain.queryExecutions(spark)(
      Explain.measure(spark)(df.write.mode("overwrite").parquet(dir)))
    (cost.jobs, qes.map(_._2.executedPlan))
  }

  test("a small orderBy sorts in one partition: no range exchange, one job fewer") {
    GraftOptimizations.install(spark)
    val (jobs, plans) = writeJobs(sorted())
    val (jobsWithout, plansWithout) = withoutSmallSort(writeJobs(sorted()))
    assert(plans.map(rangeExchanges).sum == 0 && plans.map(singlePartitionSorts).sum == 1,
      plans.mkString("\n"))
    assert(plansWithout.map(rangeExchanges).sum == 1 &&
      plansWithout.map(singlePartitionSorts).sum == 0, plansWithout.mkString("\n"))
    // the range exchange's sampling job is the one saved
    assert(jobs == jobsWithout - 1, s"jobs $jobs with SmallSort, $jobsWithout without")
  }

  test("an input estimated above AQE's one-partition size keeps the range exchange") {
    GraftOptimizations.install(spark)
    // customer.parquet is several KiB; at a 1 KiB advisory size AQE
    // would not coalesce it into one partition
    SessionConf.scoped(spark,
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1k") {
      val plan = sorted().queryExecution.executedPlan
      assert(rangeExchanges(plan) == 1 && singlePartitionSorts(plan) == 0, plan)
    }
    // with parallelismFirst on, the one-partition size is minPartitionSize
    SessionConf.scoped(spark,
        "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "true",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1k") {
      val plan = sorted().queryExecution.executedPlan
      assert(rangeExchanges(plan) == 1 && singlePartitionSorts(plan) == 0, plan)
    }
  }

  test("orderBy over a global aggregate or a limit gains no exchange") {
    GraftOptimizations.install(spark)
    val cust = Tables.load(spark, sf, "customer")
    def agg() = cust.agg(sum("c_acctbal").as("s"), count(lit(1)).as("n")).orderBy(col("s"))
    def limited() = cust.select(col("c_custkey")).limit(7).orderBy(desc("c_custkey"))
    for ((name, df) <- Seq[(String, () => DataFrame)]("agg" -> (() => agg()),
        "limit" -> (() => limited()))) {
      val plan = df().queryExecution.executedPlan
      val planWithout = withoutSmallSort(df().queryExecution.executedPlan)
      assert(shuffles(plan) == shuffles(planWithout), s"$name:\n$plan\n$planWithout")
      assert(rangeExchanges(plan) == 0, s"$name:\n$plan")
      assert(df().collect().toSeq == withoutSmallSort(df().collect().toSeq), name)
    }
  }

  test("a streaming query's sort keeps Spark's plan") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    GraftOptimizations.install(spark)
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val src = MemoryStream[(String, Long)]
    val q = src.toDF().groupBy(col("_1")).agg(sum("_2").as("s")).orderBy(desc("s"))
      .writeStream.format("memory").queryName("small_sort_stream")
      .outputMode(OutputMode.Complete).start()
    try {
      src.addData(("a", 1L), ("b", 5L), ("a", 7L))
      q.processAllAvailable()
      val plan = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan
      assert(singlePartitionSorts(plan) == 0 && rangeExchanges(plan) == 1, plan)
      assert(spark.table("small_sort_stream").collect().toSeq ==
        Seq(Row("a", 8L), Row("b", 5L)))
    } finally q.stop()
  }

  test("sorted rows and order are identical across partitions, AQE off and SmallSort off") {
    GraftOptimizations.install(spark)
    val expected = withoutSmallSort(sorted().collect().toSeq)
    assert(expected.size > 100)
    val settings = Seq(
      "shuffle partitions 1" -> Seq("spark.sql.shuffle.partitions" -> "1"),
      "shuffle partitions 7" -> Seq("spark.sql.shuffle.partitions" -> "7"),
      "shuffle partitions 64" -> Seq("spark.sql.shuffle.partitions" -> "64"),
      "AQE off" -> Seq("spark.sql.adaptive.enabled" -> "false"))
    settings.foreach { case (name, conf) =>
      SessionConf.scoped(spark, conf: _*) {
        val df = sorted()
        val plan = df.queryExecution.executedPlan
        // SmallSort applies exactly where AQE coalesces
        assert(singlePartitionSorts(plan) == (if (name == "AQE off") 0 else 1), s"$name: $plan")
        assert(df.collect().toSeq == expected, name)
      }
    }
  }
}
