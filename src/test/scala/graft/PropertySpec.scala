package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{SchemaRegistry, TripleFrameStore}
import graft.dql.Parser
import graft.exec.DqlExecutor
import graft.operators.{Recurse, ShortestPath}
import graft.sources.RdfSource

/** Property tests against in-memory reference implementations
  * (SURVEY §5 adopted plan item 3: set algebra / traversal vs oracles
  * computed in plain Scala). Raw ScalaCheck generators sampled with
  * fixed seeds (the scalatest-scalacheck bridge isn't on the classpath).
  */
class PropertySpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val graphGen: Gen[Seq[(Long, Long)]] =
    Gen.listOfN(20, for {
      a <- Gen.choose(0L, 7L); b <- Gen.choose(0L, 7L)
    } yield (a, b)).map(_.filter(e => e._1 != e._2).distinct)

  test("Recurse.expand equals BFS reachability with min depth (12 random graphs)") {
    samples(graphGen, 12).filter(_.nonEmpty).foreach { edges =>
      val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      var frontier = Set(0L); var seen = Set(0L)
      var expected = Map.empty[Long, Int]
      var d = 1
      while (frontier.nonEmpty && d <= 4) {
        val next = frontier.flatMap(n => adj.getOrElse(n, Set.empty)) -- seen
        next.foreach(n => expected += n -> d)
        seen ++= next; frontier = next; d += 1
      }
      val got = Recurse.expand(Seq(0L).toDF("start"),
          edges.toDF("subject", "object"), maxDepth = 4)
        .as[(Long, Long, Int)].collect()
        .map { case (_, n, dep) => n -> dep }.toMap
      assert(got == expected, s"edges=$edges")
    }
  }

  private val predGraphGen: Gen[Seq[(Long, Long, String)]] =
    Gen.listOfN(16, for {
      a <- Gen.choose(0L, 6L); b <- Gen.choose(0L, 6L)
      p <- Gen.oneOf("p", "q")
    } yield (a, b, p)).map(_.filter(e => e._1 != e._2).distinct)

  test("Recurse.expandTree equals a per-start BFS of edge occurrences (loop off and on)") {
    val seeds = Seq(0L, 3L)
    for (loop <- Seq(false, true); edges <- samples(predGraphGen, 6)
        if edges.nonEmpty) {
      val expected = seeds.flatMap { s =>
        var frontier = Set(s); var visited = Set(s)
        val out = Seq.newBuilder[(Long, Long, String, Long, Int)]
        var d = 1
        while (d <= 3 && frontier.nonEmpty) {
          val raw = for (n <- frontier.toSeq; (a, b, p) <- edges if a == n)
            yield (s, n, p, b, d)
          out ++= raw
          val next = raw.map(_._4).toSet -- (if (loop) Set.empty else visited)
          visited ++= next; frontier = next; d += 1
        }
        out.result()
      }.sorted
      val got = Recurse.expandTree(seeds.toDF("start"),
          edges.toDF("subject", "object", "pred"), maxDepth = 3, loop = loop)
        .select("start", "parent", "pred", "node", "depth")
        .as[(Long, Long, String, Long, Int)].collect().toSeq.sorted
      assert(got == expected, s"loop=$loop edges=$edges")
    }
  }

  test("Recurse.expandGlobal equals a merged-frontier BFS with one global edge seen set (loop off and on)") {
    val seeds = Seq(0L, 3L)
    for (loop <- Seq(false, true); edges <- samples(predGraphGen, 6)
        if edges.nonEmpty) {
      var frontier = seeds.toSet
      var seen = Set.empty[(Long, String, Long)]
      val out = Seq.newBuilder[(Long, String, Long, Int)]
      var d = 1
      var more = true
      while (d <= 3 && more) {
        val lvl = (for (n <- frontier.toSeq; (a, b, p) <- edges if a == n)
          yield (n, p, b)).filterNot(e => !loop && seen(e))
        if (lvl.isEmpty) more = false
        else {
          out ++= lvl.map { case (a, p, b) => (a, p, b, d) }
          seen ++= lvl; frontier = lvl.map(_._3).toSet; d += 1
        }
      }
      val got = Recurse.expandGlobal(seeds.toDF("node"),
          edges.toDF("subject", "object", "pred"), maxDepth = 3, loop = loop)
        .select("parent", "pred", "node", "depth")
        .as[(Long, String, Long, Int)].collect().toSeq.sorted
      assert(got == out.result().sorted, s"loop=$loop edges=$edges")
    }
  }

  test("Recurse.expandPaths equals a DFS of the paths that revisit no ancestor (12 random graphs)") {
    val seeds = Seq(0L, 3L)
    samples(graphGen, 12).filter(_.nonEmpty).foreach { edges =>
      // every path of 1-3 edges whose nodes are all distinct
      def paths(path: Vector[Long]): Seq[Vector[Long]] =
        if (path.size > 3) Nil
        else edges.collect { case (a, b) if a == path.last && !path.contains(b) =>
          path :+ b }.flatMap(p => p +: paths(p))
      def key(r: (Long, Long, Int, Seq[Long])) = (r._1, r._2, r._3, r._4.mkString(","))
      val expected = seeds.flatMap(s => paths(Vector(s)))
        .map(p => (p.head, p.last, p.size - 1, p: Seq[Long])).sortBy(key)
      val got = Recurse.expandPaths(seeds.toDF("start"),
          edges.toDF("subject", "object"), maxDepth = 3)
        .select("start", "node", "depth", "path")
        .as[(Long, Long, Int, Seq[Long])].collect().toSeq.sortBy(key)
      assert(got == expected, s"edges=$edges")
    }
  }

  /** Blocks that each (re)bind `v` through one of the executor's bind
    * paths, over the reference friend-graph fixture (`name` is @lang,
    * and 0xdae/0xdaf carry several name variants).
    */
  private val vBinds = Seq(
    // block var, unpaged and paged
    """v as var(func: has(age)) @filter(ge(age, 20)) { uid }""",
    """v as var(func: has(name), orderasc: name, first: 6) { uid }""",
    // block var re-bound to its @cascade survivors
    """v as var(func: has(age)) @cascade { alive }""",
    // traversal targets, one and two hops (0x18 is reached twice)
    """var(func: uid(0x1, 0x1f)) { v as friend }""",
    """var(func: uid(0x1, 0x17)) { friend { v as friend } }""",
    // several live-column vars rebound from one shared snapshot: a value
    // var, the block's own uid var, and a fanned nested level
    """var(func: has(age)) { v as age  d as dob }""",
    """v as var(func: has(age)) { a as age  s as survival_rate }""",
    """var(func: uid(0x1, 0x1f)) { friend { v as age  d as dob } }""",
    // math, level aggregate and count value vars
    """var(func: has(age)) { a as age  v as math(a * 2) }""",
    """var(func: uid(0x1, 0x1f, 0x17)) { friend { a as age } v as sum(val(a)) }""",
    """var(func: has(age)) { v as count(friend) }""",
    // binds NOT unique per uid: a @recurse value var over @lang `name`
    // and an edge-facet var
    """var(func: uid(0xdae, 0xdaf, 0x1)) @recurse(depth: 2) { friend v as name }""",
    """var(func: uid(0x1)) { path @facets(v as weight) }""",
    // @recurse uid var
    """var(func: uid(0x1)) @recurse(depth: 3) { v as friend }""")

  test("uid(v) after a random rebind sequence: no duplicate uid, same as the last bind alone") {
    val store = GoldenFixture.store
    def uidsOf(binds: Seq[String]): Seq[Long] = {
      val q = binds.mkString("{ ", "\n  ", "\n  q(func: uid(v)) { uid } }")
      new DqlExecutor(store)
        .flatAst(Parser.parseWithVars(q, Map.empty, checkUnusedVars = false))
        .select("uid").as[Long].collect().toSeq.sorted
    }
    // every bind path ends one sequence, after 1-3 random earlier binds
    vBinds.zipWithIndex.foreach { case (last, i) =>
      val prefix = Gen.choose(1, 3).flatMap(Gen.listOfN(_, Gen.oneOf(vBinds)))
        .apply(Gen.Parameters.default, Seed(7L + i)).get
      val seq = prefix :+ last
      val got = uidsOf(seq)
      assert(got.distinct == got, s"duplicate uid after:\n${seq.mkString("\n")}")
      assert(got.nonEmpty && got == uidsOf(Seq(last)),
        s"rebind sequence differs from its last bind:\n${seq.mkString("\n")}")
    }
  }

  /** A `friend` graph over nodes 0-7 (uids 0x1-0x8), each node named. */
  private def friendStore(edges: Seq[(Long, Long)]): TripleFrameStore = {
    val (preds, types) = SchemaRegistry.parseAlter("name: string .\nfriend: [uid] .")
    val reg = new SchemaRegistry(preds.map(p => p.name -> p).toMap,
      types.map(t => t.name -> t).toMap)
    def u(n: Long) = s"<0x${(n + 1).toHexString}>"
    val lines = (0L to 7L).map(n => s"""${u(n)} <name> "n$n" .""") ++
      edges.map { case (a, b) => s"${u(a)} <friend> ${u(b)} ." }
    new TripleFrameStore(spark, reg, RdfSource.parse(lines.toDF("line")).localCheckpoint(),
      Map.empty, materialize = false)
  }

  // each child page and its slice of one parent's uid-sorted children
  // (reference applyOrderAndPagination, query/query.go:2511)
  private val childPages: Seq[(String, Seq[Long] => Seq[Long])] = Seq(
    "" -> (cs => cs),
    "(first: 2)" -> (_.take(2)),
    "(first: 1)" -> (_.take(1)),
    "(first: 0)" -> (_ => Nil),
    "(first: -2)" -> (_.takeRight(2)),
    "(offset: 0)" -> (cs => cs),
    "(offset: 1)" -> (_.drop(1)),
    "(offset: 9)" -> (_ => Nil),
    "(first: 2, offset: 1)" -> (_.slice(1, 3)),
    "(first: 1, offset: 2)" -> (_.slice(2, 3)),
    "(after: 0x4)" -> (_.filter(_ > 4)),
    "(first: 1, after: 0x3)" -> (_.filter(_ > 3).take(1)))

  test("nested child paging equals per-parent slices of uid-sorted children (12 random graphs)") {
    // each graph renders as JSON and as RDF
    val json = new ObjectMapper()
    val graphs = samples(graphGen, 12)
    val outDegrees = graphs.flatMap(es => (0L to 7L).map(n => es.count(_._1 == n)))
    assert(outDegrees.contains(0) && outDegrees.contains(1) && outDegrees.exists(_ >= 3))
    for ((edges, g) <- graphs.zipWithIndex; k <- 0 until 2) {
      // the outer page walks every option; the inner one is drawn
      val (p1, slice1) = childPages((2 * g + k) % childPages.size)
      val (p2, slice2) = Gen.oneOf(childPages)
        .apply(Gen.Parameters.default, Seed(100L + 2 * g + k)).get
      val kids = edges.groupBy(_._1).view
        .mapValues(_.map(_._2 + 1).sorted).toMap.withDefaultValue(Nil)
      // a node renders its uid and name always, and its edge key only
      // when its page holds a child
      def node(uid: Long, pages: Seq[Seq[Long] => Seq[Long]]): ObjectNode = {
        val o = json.createObjectNode()
          .put("uid", s"0x${uid.toHexString}").put("name", s"n${uid - 1}")
        pages.headOption.foreach { page =>
          val cs = page(kids(uid - 1))
          if (cs.nonEmpty) {
            val a = o.putArray("friend")
            cs.foreach(c => a.add(node(c, pages.tail)))
          }
        }
        o
      }
      // the same read as N-Triples: per level the frontier's names, then
      // each parent's paged edges, then the child level over the distinct
      // children in uid order
      def hex(u: Long) = s"<0x${u.toHexString}>"
      def triples(frontier: Seq[Long], pages: Seq[Seq[Long] => Seq[Long]]): Seq[String] =
        frontier.map(u => s"""${hex(u)} <name> "n${u - 1}" .""") ++
          pages.headOption.toSeq.flatMap { page =>
            val pairs = frontier.flatMap(p => page(kids(p - 1)).map(p -> _))
            pairs.map { case (p, c) => s"${hex(p)} <friend> ${hex(c)} ." } ++
              triples(pairs.map(_._2).distinct.sorted, pages.tail)
          }
      val q = s"{ q(func: uid(${(1 to 8).map(i => s"0x$i").mkString(", ")})) " +
        s"{ name friend $p1 { name friend $p2 { name } } } }"
      val store = friendStore(edges)
      val got = new DqlExecutor(store).jsonAllAst(Parser.parse(q))
        .select("uid", "json").as[(Long, String)].collect().sortBy(_._1).toSeq
      val expected = (1L to 8L).map(u => (u, node(u, Seq(slice1, slice2))))
      assert(got.map(_._1) == expected.map(_._1), s"$q\nedges=$edges")
      got.zip(expected).foreach { case ((u, j), (_, e)) =>
        assert(json.readTree(j) == e, s"uid $u of $q\nedges=$edges\ngot $j\nexpected $e")
      }
      val rdf = triples(1L to 8L, Seq(slice1, slice2)).map(_ + "\n").mkString
      assert(new DqlExecutor(store).rdfAll(q) == rdf, s"$q\nedges=$edges")
    }
  }

  private val dagGen: Gen[Seq[(Long, Long, Long)]] =
    Gen.listOfN(15, for {
      a <- Gen.choose(0L, 6L); b <- Gen.choose(1L, 7L)
      w <- Gen.choose(1L, 9L)
    } yield (a, b, w))
      .map(_.filter(e => e._2 > e._1)
        .groupBy(e => (e._1, e._2)).map(_._2.head).toSeq)

  test("sssp equals topological relaxation on random weighted DAGs (12 samples)") {
    samples(dagGen, 12).filter(_.nonEmpty).foreach { edges =>
      val byStart = edges.groupBy(_._1)
      var dist = Map(0L -> 0L)
      (0L to 7L).foreach { n =>
        dist.get(n).foreach { dn =>
          byStart.getOrElse(n, Nil).foreach { case (_, b, w) =>
            if (!dist.contains(b) || dist(b) > dn + w) dist += b -> (dn + w)
          }
        }
      }
      val got = ShortestPath.sssp(spark, 0L, edges.toDF("src", "dst", "w"))
        .as[(Long, Double)].collect().toMap
      assert(got == dist.map { case (k, v) => k -> v.toDouble }, s"edges=$edges")
    }
  }

  private val corpusGen: Gen[Seq[String]] =
    Gen.listOfN(8, Gen.listOfN(14,
      Gen.oneOf("aa", "bb", "cc", "dd", "ee")).map(_.mkString(" ")))

  test("boilerplate_lines invariants vs in-memory reference (8 random corpora)") {
    samples(corpusGen, 8).foreach { texts =>
      val dir = java.nio.file.Files.createTempDirectory("graft_bpp").toString
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text").write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
      val got = graft.queries.QualityQueries
        .queries("boilerplate_lines")(spark, dir)
        .select("doc_id", "line_idx", "n_words", "keep", "reason")
        .as[(Long, Long, Long, Boolean, Option[String])].collect().toSeq
      // in-memory reference: 8-word lines, keep = >=5 words AND first
      // occurrence of the line text in (doc_id, line_idx) order
      val expected = texts.zipWithIndex.flatMap { case (t, i) =>
        val ws = t.split(" ")
        ws.grouped(8).zipWithIndex.map { case (g, li) =>
          (i.toLong, li.toLong, g.mkString(" "), g.length.toLong)
        }
      }.sortBy(r => (r._1, r._2))
      val seen = scala.collection.mutable.Set.empty[String]
      val expRows = expected.map { case (id, li, line, nw) =>
        val first = seen.add(line)
        val keep = nw >= 5 && first
        val reason = if (nw < 5) Some("short")
          else if (!first) Some("dup_line") else None
        (id, li, nw, keep, reason)
      }
      assert(got == expRows, s"texts=$texts")
    }
  }

  test("dedup_substring_spans equals brute-force cross-doc 5-gram coverage (8 random corpora)") {
    samples(corpusGen, 8).foreach { texts =>
      val dir = java.nio.file.Files.createTempDirectory("graft_ssp").toString
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text").write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
      val got = graft.queries.QualityQueries
        .queries("dedup_substring_spans")(spark, dir)
        .as[(Long, Long, Long, Double)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      val sets = texts.map(_.split(" ").sliding(5).map(_.mkString(" ")).toSet)
      sets.zipWithIndex.foreach { case (s0, i) =>
        val others = sets.zipWithIndex.filter(_._2 != i).map(_._1)
          .foldLeft(Set.empty[String])(_ ++ _)
        val nDup = s0.count(others.contains)
        assert(got(i.toLong) == (s0.size.toLong, nDup.toLong),
          s"doc $i texts=$texts")
      }
    }
  }
}
