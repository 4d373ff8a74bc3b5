package graftbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

import graft.core.{GraphStore, TripleStore}
import graft.dql.Parser
import graft.exec.DqlExecutor
import graft.graphql.GraphQLEngine
import graft.server.HttpEndpoint

/** The interactive workload: reads through the library API, called the
  * way GraphQLEngine.json and the HTTP /query handler call it, checked
  * against the same reads served by an in-process HttpEndpoint.
  */
object Interactive {

  /** The `{"data":{block:[…]}}` envelope HttpEndpoint renders, blocks
    * sorted by name, objects in result order.
    */
  def envelope(rows: Seq[(String, String, String)]): String =
    rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (b, rs) =>
      rs.map(_._3).mkString(s"${Main.M.writeValueAsString(b)}:[", ",", "]")
    }.mkString("""{"data":{""", ",", "}}")

  def message(t: Throwable): String =
    s"${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(300)}"

  /** One read through the library API: parse (or GraphQL rewrite) →
    * DataFrame build → physical planning → collect. The answer is
    * rendered after the clock stops.
    */
  def read(run: Run, store: GraphStore, gql: GraphQLEngine, r: Req,
      client: Int, phase: String): Op = {
    val sc = run.spark.sparkContext
    val tr = run.tracer
    val traced = tr.enabled
    if (traced) sc.setJobGroup(r.id, r.template)
    val t0 = Tracer.now()
    try {
      val rows: Array[Row] = tr.span("request", r.id) {
        val ast = r.kind match {
          case "dql" => tr.span("dql.parse", r.id)(Parser.parseWithVars(r.query, Map.empty))
          case _ => tr.span("graphql.rewrite", r.id)(gql.rewrite(r.query))
        }
        val df = tr.span("exec.build", r.id) {
          new DqlExecutor(store).jsonAllAst(ast, includeUid = r.kind == "dql")
        }
        tr.span("spark.plan", r.id)(df.queryExecution.executedPlan)
        tr.span("spark.exec", r.id)(df.collect())
      }
      val t1 = Tracer.now()
      val triples = rows.toSeq.map(x =>
        (x.getString(0), Option(x.get(1)).map(_.toString).orNull, x.getString(2)))
      Op(r, client, phase, t0, t1, envelope(triples), None,
        r.gate.map(_ => triples), rows.length)
    } catch {
      case t: Throwable => Op(r, client, phase, t0, Tracer.now(), "", Some(message(t)))
    } finally if (traced) sc.clearJobGroup()
  }

  /** Oracle SQL of the gates some warm request reproduces verbatim. */
  private def putOracles(run: Run, warm: Seq[Req]): Unit = {
    val o = run.out.putObject("oracles")
    warm.flatMap(_.gate).foreach(g => graft.SparkEntry.oracleSql.get(g).foreach(o.put(g, _)))
  }

  def graphQuery(run: Run): Unit = {
    val warm = run.spec.list("warm")
    var warmOps = Seq.empty[Op]
    val store = run.setUp { s =>
      val ts = TripleStore(s, run.data)
      val gql = new GraphQLEngine(ts)
      warmOps = warm.map(r => read(run, ts, gql, r, 0, "warm"))
      ts
    }
    warmOps.foreach(run.record)
    putOracles(run, warm)
    val gql = new GraphQLEngine(store)
    val perWindow = run.spec.int("rounds")
    val rounds = run.spec.list("reads").grouped(run.spec.int("round")).toSeq
    // the same number of whole rounds in every window, so every window
    // carries the same template mix
    run.windows.zipWithIndex.foreach { case (phase, w) =>
      run.tracer.enabled = phase == "traced"
      rounds.slice(w * perWindow, (w + 1) * perWindow).flatten
        .foreach(r => run.record(read(run, store, gql, r, 1, phase)))
    }
    run.tracer.enabled = false
    run.out.put("storage_mb", run.storageMb())
    // distinct timed reads, in order of first use
    val timed = run.ops.filter(_.phase != "warm").map(_.req)
    val reads = timed.groupBy(Report.key).values.map(_.head).toSeq
      .sortBy(r => timed.indexWhere(_ eq r))
    Main.log(s"window done: ${timed.size} reads")
    // a traced run also serves the distinct reads from the other store,
    // behind the HTTP front door; every read is checked by DuckDB
    val expected =
      if (run.trace) { Report.parseCorpus(run); frontDoor(run, store, reads) }
      else Map.empty[String, String]
    Report.ops(run, expected)
  }

  private def errorEnvelope(e: String): String =
    s"""{"errors":[{"message":${Main.M.writeValueAsString(e)}}]}"""

  private val http = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()

  private def post(port: Int, path: String, body: String, ctype: String)
      : String = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .header("Content-Type", ctype)
      .POST(HttpRequest.BodyPublishers.ofString(body, UTF_8)).build()
    http.send(req, HttpResponse.BodyHandlers.ofString(UTF_8)).body
  }

  private def metricsText(port: Int): String =
    http.send(HttpRequest.newBuilder(
      URI.create(s"http://127.0.0.1:$port/debug/prometheus_metrics")).GET().build(),
      HttpResponse.BodyHandlers.ofString(UTF_8)).body

  /** One HTTP request; the response body is the answer. A traced write
    * also samples block-manager storage once acknowledged.
    */
  private def send(run: Run, port: Int, r: Req, client: Int): Op = {
    val t0 = Tracer.now()
    try {
      val body = run.tracer.span("http." + r.kind, r.id) {
        r.kind match {
          case "mutate" => post(port, "/mutate?commitNow=true", r.query, "application/rdf")
          case kind =>
            post(port, if (kind == "dql") "/query" else "/graphql",
              Main.M.writeValueAsString(Main.M.createObjectNode().put("query", r.query)),
              "application/json")
        }
      }
      val op = Op(r, client, "front_door", t0, Tracer.now(), body, None)
      if (r.kind == "mutate" && run.tracer.enabled)
        run.synchronized { run.writeStorage += Ledger.storageMb(run.spark.sparkContext) }
      op
    } catch {
      case t: Throwable => Op(r, client, "front_door", t0, Tracer.now(), "", Some(message(t)))
    }
  }

  /** The other store behind graft's HTTP front door (traced runs): an
    * in-process HttpEndpoint over the same store's canonical triples
    * answers the distinct timed reads, untimed, and the timed answers
    * must equal its answers. Two client threads each send three reads
    * and two of their own writes (benchmark-only type and predicates, in
    * the client's own uid range): a create, then an update or a delete;
    * a final read-back shows what the acknowledged writes left. Spans,
    * Spark jobs and server counters recorded here are the server and
    * mutation layers' numbers.
    */
  private def frontDoor(run: Run, store: TripleStore, distinct: Seq[Req])
      : Map[String, String] = {
    val triples = store.backupTriples(Set.empty).get
    val ep = new HttpEndpoint(run.spark, store.schema, triples, facetKeys = store.facetKeys)
    val port = ep.start(0)
    run.onStop(() => ep.stop())
    val ack = post(port, "/alter", run.spec.str("alter"), "application/rdf")
    require(!ack.contains("\"errors\""), s"alter failed: $ack")
    val writes = run.spec.root.get("writes").elements.asScala.map(run.spec.reqs).toSeq
    // client c: three of the distinct reads (from offset 2c) with its
    // two writes between them, so some reads follow a write
    val queues = writes.zipWithIndex.map { case (ws, c) =>
      val reads = (0 until 3).map { j =>
        val r = distinct((2 * c + j) % distinct.size)
        r.copy(id = s"http$c.$j:${r.id}")
      }
      reads.head +: ws.zip(reads.tail).flatMap { case (w, r) => Seq(w, r) }
    }
    val front = scala.collection.mutable.ArrayBuffer.empty[Op]
    run.tracer.enabled = run.trace
    val before = metricsText(port)
    // one closed-loop thread per client
    queues.zipWithIndex.map { case (q, c) =>
      val t = new Thread(() => q.foreach { r =>
        val op = send(run, port, r, c + 1)
        front.synchronized { front += op }
        if (r.kind == "mutate") run.record(op)
      })
      t.start()
      t
    }.foreach(_.join())
    run.out.putObject("prometheus").put("before", before).put("after", metricsText(port))
    run.tracer.enabled = false
    run.front = front.toSeq
    run.out.put("readback", post(port, "/query", run.spec.str("readback"), "application/dql"))
    run.out.put("frame_rows", triples.count())
    val ws = run.out.putArray("write_storage_mb")
    run.writeStorage.foreach(ws.add)
    val fo = run.out.putArray("front_door")
    front.foreach(o => fo.addObject().put("id", o.req.id).put("kind", o.req.kind)
      .put("client", o.client).put("start", o.start).put("ms", o.ms))
    front.filter(_.req.kind != "mutate").reverse.map { o =>
      Report.key(o.req) -> o.error.map(errorEnvelope).getOrElse(o.answer)
    }.toMap
  }
}
