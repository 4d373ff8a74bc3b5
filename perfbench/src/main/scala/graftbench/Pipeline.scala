package graftbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.TripleStore
import graft.queries.LlmQueries

/** The batch workload: SparkEntry gates, grouped into pipeline stages,
  * each run once to its full result. The spec lists each stage's gates;
  * predictions.json documents the rules they were picked by.
  */
object Pipeline {

  private val gateFns = graft.SparkEntry.queries

  /** (stage, gate) in run order: stages in spec order, gates sorted by
    * name within a stage. The order never depends on the seed, so
    * first-touch costs always land on the same stage.
    */
  def plan(spec: Main.Spec): Seq[(String, String)] = {
    val plan = spec.root.get("stages").elements.asScala.toSeq.flatMap { st =>
      st.get("gates").elements.asScala.map(_.asText).toSeq.sorted.map(st.get("stage").asText -> _)
    }
    val unknown = plan.map(_._2).filterNot(gateFns.contains)
    require(unknown.isEmpty, s"not in SparkEntry.queries: ${unknown.mkString(",")}")
    plan
  }

  /** The store layouts and the shared session artifacts the planned
    * gates read, built through the public warm hooks graft.Bench calls;
    * every gate's own work stays in its first run.
    */
  def warm(s: SparkSession, d: String): Unit = {
    val ts = TripleStore(s, d)
    def step(name: String)(f: => Any): Unit = {
      val t0 = System.nanoTime(); f
      Main.log(f"warm $name ${(System.nanoTime() - t0) / 1e6}%.0f ms")
    }
    step("line layout")(ts.attr("quantity").count())
    step("attr tablets")(ts.attrStringStored.count())
    step("edge tablets")(ts.edgesStored.count())
    step("simhash")(LlmQueries.warmSimhashSigs(s, d))
    step("pq")(LlmQueries.warmPqIndex(s, d))
    step("media")(LlmQueries.warmMediaBlobs(s, d))
  }

  /** One pass over the plan. Each gate: build its DataFrame (the
    * SparkEntry call), then produce its full result by writing it as
    * parquet — the output the oracle check reads.
    */
  private def pass(run: Run, plan: Seq[(String, String)], phase: String): Unit = {
    val sc = run.spark.sparkContext
    val tr = run.tracer
    plan.foreach { case (stage, gate) =>
      val req = Req(s"$phase:$gate", "gate", stage, gate, Some(gate))
      if (tr.enabled) sc.setJobGroup(req.id, gate)
      val t0 = Tracer.now()
      val out = s"${run.workDir}/gates/$phase/$gate"
      val op = try {
        tr.span("gate", req.id) {
          val df = tr.span("gate.build", req.id)(gateFns(gate)(run.spark, run.data))
          tr.span("gate.exec", req.id)(df.write.mode("overwrite").parquet(out))
        }
        Op(req, 1, phase, t0, Tracer.now(), out, None)
      } catch {
        case t: Throwable => Op(req, 1, phase, t0, Tracer.now(), "", Some(Interactive.message(t)))
      } finally if (tr.enabled) sc.clearJobGroup()
      run.record(op)
    }
  }

  /** An untraced run makes one cold pass. A traced run makes the cold
    * pass traced (the per-layer numbers), then an untraced and a traced
    * warm pass, whose ratio is the tracing overhead.
    */
  def run(run: Run): Unit = {
    val plan = this.plan(run.spec)
    run.setUp(s => warm(s, run.data))
    val passes =
      if (run.trace) Seq(("traced", true), ("warm_untraced", false), ("warm_traced", true))
      else Seq(("untraced", false))
    passes.foreach { case (phase, traced) =>
      run.tracer.enabled = traced
      pass(run, plan, phase)
    }
    run.tracer.enabled = false
    run.out.put("storage_mb", run.storageMb())
    val oracles = run.out.putObject("oracles")
    val sql = graft.SparkEntry.oracleSql
    plan.foreach { case (_, g) => sql.get(g).foreach(oracles.put(g, _)) }
    Report.ops(run, Map.empty)
  }
}
