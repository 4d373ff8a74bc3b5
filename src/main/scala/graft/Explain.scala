package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan inspector: for each named query, the formatted physical plan and
  * what building the frame and collecting its full result cost — Spark
  * jobs, Janino compiles (Spark's CodegenMetrics) and wall time — so a
  * read bound by job scheduling or code generation shows without a probe
  * program. The build also lists the shape of every plan it executed
  * (a JSON read runs all its plans while building and returns a local
  * frame, whose own plan shows none of them), so a plan that grows with
  * the query's depth shows too. A first line says whether the store is
  * small enough for DQL JSON reads to run interpreted (see
  * [[graft.exec.DqlExecutor.ReadMode]]).
  * Usage: runMain graft.Explain <sfDir> [queryName...]
  */
object Explain extends AdaptiveSparkPlanHelper {

  /** The Spark jobs started, the classes compiled and the wall time of
    * one piece of work.
    */
  final case class Cost(jobs: Int, compiles: Long, ms: Double) {
    override def toString: String = f"$jobs%d jobs, $compiles%d compiles, $ms%.0f ms"
  }

  /** Run `body` under its own job group and count the jobs it starts and
    * the classes Spark compiles meanwhile (a cached class is not
    * compiled again).
    */
  def measure[T](spark: SparkSession)(body: => T): (T, Cost) = {
    val sc = spark.sparkContext
    val group = s"graft-measure-${java.util.UUID.randomUUID}"
    val started = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(started.add)
    }
    sc.addSparkListener(listener)
    try {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime
      sc.setJobGroup(group, "measured")
      val out = try body finally sc.clearJobGroup()
      val ms = (System.nanoTime - t0) / 1e6
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
      // listener events arrive asynchronously but in order: once a
      // marker job started after `body` is seen, so are all of body's
      val marker = s"$group-end"
      sc.setJobGroup(marker, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
      while (!started.contains(marker) && System.nanoTime < deadline) Thread.sleep(5)
      (out, Cost(started.asScala.count(_ == group), compiles, ms))
    } finally sc.removeSparkListener(listener)
  }

  /** The shape of one executed plan, AQE's final plan with its query
    * stages and subqueries: physical nodes (AQE's wrappers not counted),
    * broadcast and shuffle exchanges, reused exchanges, LeftAnti joins,
    * and where its leaves read from: parquet file scans
    * (`FileSourceScanExec`) and in-memory scans of checkpointed frames
    * (`RDDScanExec`).
    */
  final case class PlanShape(action: String, nodes: Int, broadcasts: Int,
      shuffles: Int, reused: Int, leftAnti: Int, fileScans: Int, memoryScans: Int) {
    override def toString: String =
      s"$action: $nodes nodes, $broadcasts broadcast + $shuffles shuffle " +
        s"exchanges, $reused reused, $leftAnti LeftAnti joins, " +
        s"$fileScans file + $memoryScans in-memory scans"
  }

  private def planShape(action: String, plan: SparkPlan): PlanShape = {
    val nodes = collectWithSubqueries(plan) {
      case n if !n.isInstanceOf[AdaptiveSparkPlanExec] &&
        !n.isInstanceOf[QueryStageExec] => n
    }
    PlanShape(action, nodes.size,
      nodes.count(_.isInstanceOf[BroadcastExchangeLike]),
      nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
      nodes.count(_.isInstanceOf[ReusedExchangeExec]),
      nodes.count {
        case j: BaseJoinExec => j.joinType == LeftAnti
        case _ => false
      },
      nodes.count(_.isInstanceOf[FileSourceScanExec]),
      nodes.count(_.isInstanceOf[RDDScanExec]))
  }

  /** Run `body` and return the shapes of the query executions it ran
    * (collects, counts, writes), in the order they finished.
    */
  def executions[T](spark: SparkSession)(body: => T): (T, Seq[PlanShape]) = {
    val (out, qes) = queryExecutions(spark)(body)
    (out, qes.map { case (action, qe) => planShape(action, qe.executedPlan) })
  }

  /** Run `body` and return the query executions it ran, each with its
    * action, in the order they finished.
    */
  def queryExecutions[T](spark: SparkSession)(body: => T)
      : (T, Seq[(String, QueryExecution)]) = {
    val marker = s"graft-executions-${java.util.UUID.randomUUID}"
    val seen = new ConcurrentLinkedQueue[(String, QueryExecution)]()
    @volatile var done = false
    val listener = new QueryExecutionListener {
      override def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.analyzed.output.map(_.name) == Seq(marker)) done = true
        else seen.add((action, qe))
      override def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = body
      // listener events arrive asynchronously but in order: once the
      // marker execution is seen, so are all of body's
      spark.range(1).select(lit(1).as(marker)).collect()
      val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
      while (!done && System.nanoTime < deadline) Thread.sleep(5)
      (out, seen.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else Seq("q1_agg")
    val spark = GraftSession(4)
    spark.sparkContext.setLogLevel("ERROR")
    println(s"read mode: ${graft.exec.DqlExecutor.ReadMode(graft.core.TripleStore(spark, sfDir))}")
    names.foreach { n =>
      println(s"===== $n =====")
      val ((df, build), plans) =
        executions(spark)(measure(spark)(SparkEntry.queries(n)(spark, sfDir)))
      df.explain("formatted")
      val (rows, collect) = measure(spark)(df.collect().length)
      println(s"build:   $build")
      plans.zipWithIndex.foreach { case (p, i) => println(s"  plan ${i + 1} $p") }
      println(s"collect: $collect, $rows rows")
    }
    spark.stop()
  }
}
