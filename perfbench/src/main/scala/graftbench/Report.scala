package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.dql.Parser

/** Turns what a run recorded into the output document: the operation
  * records, and in a traced run the span file and per-layer numbers.
  */
object Report {

  /** Identity of a request's answer: its kind and text. */
  def key(r: Req): String = r.kind + "\u0000" + r.query

  def ops(run: Run, expected: Map[String, String]): Unit = {
    val arr = run.out.putArray("ops")
    run.ops.foreach { o =>
      val n = arr.addObject()
        .put("id", o.req.id).put("kind", o.req.kind)
        .put("template", o.req.template).put("client", o.client)
        .put("phase", o.phase).put("start", o.start).put("ms", o.ms)
        .put("answer", o.answer).put("nrows", o.nrows)
      o.error.foreach(n.put("error", _))
      expected.get(key(o.req)).foreach(n.put("expected", _))
      o.req.gate.foreach(n.put("gate", _))
      o.rows.foreach { rs =>
        val a = n.putArray("rows")
        rs.foreach { case (b, u, j) => a.addArray().add(b).add(u).add(j) }
      }
    }
  }

  /** The DQL parser over the reference query corpus, several passes:
    * median per-query microseconds over the queries that parse, and the
    * count that fail.
    */
  def parseCorpus(run: Run): Unit = {
    val corpus = Main.M.readTree(Files.readAllBytes(Paths.get(run.spec.str("corpus"))))
      .elements.asScala.map(_.asText).toVector
    var failures = 0
    val passes = (1 to 7).map { _ =>
      var ns = 0L
      var ok = 0
      failures = 0
      corpus.foreach { q =>
        val t0 = System.nanoTime()
        try { Parser.parse(q); ns += System.nanoTime() - t0; ok += 1 }
        catch { case _: Exception => failures += 1 }
      }
      ns / 1e3 / math.max(ok, 1)
    }.sorted
    run.out.putObject("parse_corpus").put("queries", corpus.size)
      .put("failures", failures).put("us_per_query", passes(passes.size / 2))
  }

  /** Length of the union of `ivs` clipped to [t0, t1]. */
  private def covered(ivs: Seq[(Double, Double)], t0: Double, t1: Double): Double = {
    var total = 0.0
    var cur = t0
    ivs.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > cur) { total += b - math.max(a, cur); cur = b }
      }
    total
  }

  /** Assign each Spark job to the operation it ran for — its job group,
    * else the request whose server-side interval contains its start —
    * and to the innermost harness span of that operation around it.
    * Writes every span (harness, job, stage, task) to the span file and
    * a per-span-name summary of counts and self time into the output.
    */
  def trace(run: Run): Unit = {
    val harness = run.tracer.all
    val jobs = run.ledger.get.all
    // serial HTTP server: a request is handled between its own send and
    // the previous completion, whichever is later
    val byEnd = run.front.sortBy(_.end)
    val handled = byEnd.zipWithIndex.map { case (o, i) =>
      val prev = if (i == 0) o.start else byEnd(i - 1).end
      (o.req.id, math.max(o.start, prev), o.end)
    }
    def opOf(j: JobRec): Option[String] = j.group.orElse(
      handled.find { case (_, a, b) => j.start >= a && j.start <= b }.map(_._1))
    val spansByOp = harness.groupBy(_.op)
    val jobSpans = jobs.flatMap { j =>
      opOf(j).map { op =>
        val parent = spansByOp.getOrElse(op, Nil)
          .filter(s => s.start <= j.start && s.end >= j.start)
          .sortBy(_.ms).headOption.map(_.id).getOrElse(0L)
        (j, op, Span(run.tracer.nextId(), parent, "spark.job", op,
          j.start.toDouble, j.end.toDouble))
      }
    }
    val sparkSpans = jobSpans.flatMap { case (j, op, js) =>
      val stageIds = j.stages.map(st => st.stageId -> run.tracer.nextId()).toMap
      js +: (j.stages.map(st => Span(stageIds(st.stageId), js.id, "spark.stage",
        op, st.start.toDouble, st.end.toDouble)) ++
        j.taskSpans.map(t => Span(run.tracer.nextId(),
          stageIds.getOrElse(t.stageId, js.id), "spark.task", op,
          t.start.toDouble, t.end.toDouble)))
    }
    val all = harness ++ sparkSpans
    val children = all.groupBy(_.parent)
    def self(s: Span): Double =
      s.ms - covered(children.getOrElse(s.id, Nil).map(c => (c.start, c.end)),
        s.start, s.end)
    val summary = run.out.putObject("spans")
    all.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (name, ss) =>
      val selfs = ss.map(self).sorted
      summary.putObject(name).put("count", ss.size)
        .put("self_ms_total", selfs.sum)
        .put("self_ms_median", selfs(selfs.size / 2))
    }
    val names = harness.map(s => s.id -> s.name).toMap
    val jobsOut = run.out.putArray("jobs")
    jobSpans.foreach { case (j, op, js) =>
      jobsOut.addObject().put("op", op).put("parent", names.getOrElse(js.parent, ""))
        .put("ms", js.ms)
        .put("tasks", j.tasks).put("run_ms", j.runMs).put("cpu_ms", j.cpuMs)
        .put("gc_ms", j.gcMs).put("sched_delay_ms", j.schedDelayMs)
        .put("shuffle_bytes", j.shuffleBytes).put("spill_bytes", j.spillBytes)
        .put("records_read", j.recordsRead)
        .put("longest_task_ms", j.longestTaskMs)
    }
    val harnessOut = run.out.putArray("harness_spans")
    harness.foreach { s =>
      harnessOut.addObject().put("op", s.op).put("name", s.name)
        .put("ms", s.ms).put("self_ms", self(s))
    }
    val file = Paths.get(run.spec.str("spans"))
    Files.createDirectories(file.getParent)
    Files.write(file, all.sortBy(_.start).map { s =>
      Main.M.writeValueAsString(Main.M.createObjectNode()
        .put("id", s.id).put("parent", s.parent).put("name", s.name)
        .put("op", s.op).put("start_ms", s.start).put("end_ms", s.end))
    }.mkString("", "\n", "\n").getBytes(UTF_8))
    run.out.put("span_count", all.size)
  }
}
