package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Plan inspector: for each named query, the formatted physical plan and
  * what building the frame and collecting its full result cost — Spark
  * jobs, Janino compiles (Spark's CodegenMetrics) and wall time — so a
  * read bound by job scheduling or code generation shows without a probe
  * program. A first line says whether the store is small enough for DQL
  * JSON reads to run interpreted (see [[graft.exec.DqlExecutor.ReadMode]]).
  * Usage: runMain graft.Explain <sfDir> [queryName...]
  */
object Explain {

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

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else Seq("q1_agg")
    val spark = GraftSession(4)
    spark.sparkContext.setLogLevel("ERROR")
    println(s"read mode: ${graft.exec.DqlExecutor.ReadMode(graft.core.TripleStore(spark, sfDir))}")
    names.foreach { n =>
      println(s"===== $n =====")
      val (df, build) = measure(spark)(SparkEntry.queries(n)(spark, sfDir))
      df.explain("formatted")
      val (rows, collect) = measure(spark)(df.collect().length)
      println(s"build:   $build")
      println(s"collect: $collect, $rows rows")
    }
    spark.stop()
  }
}
