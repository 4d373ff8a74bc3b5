package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

/** One generated operation: a read (`dql` or `graphql`), a write
  * (`mutate`), as run.py wrote it. `gate` names the oracle-backed gate
  * a read is literally identical to, if any.
  */
final case class Req(id: String, kind: String, template: String,
    query: String, gate: Option[String])

/** What the harness observed of one operation. */
final case class Op(req: Req, client: Int, phase: String, start: Double,
    end: Double, answer: String, error: Option[String],
    rows: Option[Seq[(String, String, String)]] = None, nrows: Long = 0) {
  def ms: Double = end - start
}

/** Harness entry point: `Main <spec.json> <out.json>`. The spec carries
  * the generated operations; the harness runs them against graft,
  * records what it saw, and leaves every judgement (correctness,
  * percentiles) to run.py.
  */
object Main {
  val M = new ObjectMapper()

  /** Progress line on stderr (the harness log). */
  private val started = System.nanoTime()
  def log(msg: String): Unit =
    System.err.println(f"[graftbench ${(System.nanoTime() - started) / 1e9}%7.2f] $msg")

  final class Spec(val root: JsonNode) {
    def str(k: String): String = root.get(k).asText
    def int(k: String): Int = root.get(k).asInt
    def reqs(n: JsonNode): Seq[Req] = n.elements.asScala.map { r =>
      Req(r.get("id").asText, r.get("kind").asText, r.get("template").asText,
        r.get("query").asText, Option(r.get("gate")).filter(!_.isNull).map(_.asText))
    }.toSeq
    def list(k: String): Seq[Req] = reqs(root.get(k))
  }

  /** A local session configured the way graft.Bench configures its own. */
  def session(cores: Int, workDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/spark-warehouse")
      .config("spark.sql.caseSensitive", "true")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val spec = new Spec(M.readTree(new String(Files.readAllBytes(Paths.get(args(0))), UTF_8)))
    val out = M.createObjectNode()
    val trace = spec.int("trace") == 1
    val tracer = new Tracer(enabled = false)
    val ledger = if (trace) Some(new Ledger) else None
    val run = new Run(spec, tracer, ledger, out)
    // exit explicitly either way: leftover non-daemon threads (HTTP
    // client, stream sources) must not keep the JVM alive
    val code =
      try {
        try spec.str("workload") match {
          case "graph_query" => Interactive.graphQuery(run)
          case "batch_pipeline" => Pipeline.run(run)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        } finally run.stop()
        if (trace) Report.trace(run)
        Files.write(Paths.get(args(1)), M.writeValueAsBytes(out))
        0
      } catch { case t: Throwable => t.printStackTrace(); 1 }
    System.exit(code)
  }
}

/** State shared by one harness run: the spec, the tracer and ledger,
  * the live session, and the output document.
  */
final class Run(val spec: Main.Spec, val tracer: Tracer,
    val ledger: Option[Ledger], val out: ObjectNode) {
  val trace: Boolean = ledger.isDefined
  val cores: Int = spec.int("cores")
  val data: String = spec.str("data")
  val workDir: String = spec.str("work")
  var spark: SparkSession = _
  val ops = scala.collection.mutable.ArrayBuffer.empty[Op]
  /** Block-manager storage sampled after each traced write, MB. */
  val writeStorage = scala.collection.mutable.ArrayBuffer.empty[Double]
  /** Requests sent to the HTTP front door; the server runs them one at
    * a time, which is how their Spark jobs are attributed. */
  var front: Seq[Op] = Nil
  private val closers = scala.collection.mutable.ArrayBuffer.empty[() => Unit]

  /** Time one cold set-up — session start, store load and whatever the
    * workload warms — and keep its state for the measured window.
    */
  def setUp[T](body: SparkSession => T): T = {
    val t0 = System.nanoTime()
    spark = Main.session(cores, workDir)
    ledger.foreach(spark.sparkContext.addSparkListener)
    val state = body(spark)
    val secs = (System.nanoTime() - t0) / 1e9
    out.put("setup_s", secs)
    Main.log(f"set-up took $secs%.2f s")
    state
  }

  def onStop(f: () => Unit): Unit = { closers += f; () }

  def record(op: Op): Unit = synchronized {
    ops += op
    if (op.phase == "warm" || op.req.kind == "gate" || op.error.isDefined)
      Main.log(f"${op.phase} ${op.req.template} ${op.req.gate.getOrElse("")} " +
        f"${op.ms}%.0f ms ${op.error.getOrElse("")}")
  }

  /** The two halves of a traced run: untraced first, so the tracing
    * overhead is measured on the same session and inputs; an untraced
    * run has only the one untraced window.
    */
  def windows: Seq[String] =
    if (trace) Seq("untraced", "traced") else Seq("untraced")

  def storageMb(): Double = {
    System.gc()
    Ledger.storageMb(spark.sparkContext)
  }

  def stop(): Unit = {
    closers.reverse.foreach(f => try f() catch { case _: Throwable => () })
    if (spark != null) spark.stop()
  }
}
