package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._
import graft.operators.{Recurse, ShortestPath}

/** Unit specs for the iterative graph drivers and row-level function
  * library on tiny in-memory fixtures (reference analogues:
  * algo/uidlist_test.go, query/recurse tests, tok/tok_test.go).
  */
class OperatorSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("Recurse.expand dedups revisits and respects depth") {
    // 1→2→3→1 cycle plus 2→4
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 4L)).toDF("subject", "object")
    val seeds = Seq(1L).toDF("start")
    val out = Recurse.expand(seeds, edges, maxDepth = 5)
      .as[(Long, Long, Int)].collect().toSet
    // loop=false: 1 is never revisited, each node reached at min depth
    assert(out == Set((1L, 2L, 1), (1L, 3L, 2), (1L, 4L, 2)))
  }

  test("Recurse.expandPaths honors @ignorereflex (no ancestor revisits)") {
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L)).toDF("subject", "object")
    val seeds = Seq(1L).toDF("start")
    val paths = Recurse.expandPaths(seeds, edges, maxDepth = 3)
      .select("node", "depth").as[(Long, Int)].collect().toSet
    // 1→2 (d1), 2→1 forbidden (ancestor), 2→3 (d2), 3 has no out-edges
    assert(paths == Set((2L, 1), (3L, 2)))
  }

  test("expandTree: every edge renders; targets expand only once") {
    // 1 reaches 4 via both 2 and 3 at depth 2: BOTH occurrences render
    // (reference lists a node under every parent that links it); 4's own
    // out-edge expands once, not twice
    val edges = Seq((1L, 2L, "b"), (1L, 3L, "a"), (2L, 4L, "b"), (3L, 4L, "a"),
      (4L, 5L, "a")).toDF("subject", "object", "pred")
    val seeds = Seq(1L).toDF("start")
    val t = graft.operators.Recurse.expandTree(seeds, edges, maxDepth = 4)
      .select("parent", "pred", "node", "depth")
      .as[(Long, String, Long, Int)].collect().toList
    assert(t.toSet == Set((1L, "b", 2L, 1), (1L, "a", 3L, 1),
      (2L, "b", 4L, 2), (3L, "a", 4L, 2), (4L, "a", 5L, 3)))
    assert(t.count(_ == ((4L, "a", 5L, 3))) == 1) // expanded once
    // a seen node still renders under a later parent, as a leaf
    val back = Seq((1L, 2L, "f"), (2L, 1L, "f"))
      .toDF("subject", "object", "pred")
    val t2 = graft.operators.Recurse.expandTree(
      Seq(1L).toDF("start"), back, maxDepth = 5)
      .select("parent", "pred", "node", "depth")
      .as[(Long, String, Long, Int)].collect().toSet
    assert(t2 == Set((1L, "f", 2L, 1), (2L, "f", 1L, 2)))
  }

  test("ShortestPath.sssp relaxes through cheaper long routes") {
    // 1→3 direct cost 10; 1→2→3 cost 3
    val edges = Seq((1L, 3L, 10L), (1L, 2L, 1L), (2L, 3L, 2L))
      .toDF("src", "dst", "w")
    val dist = ShortestPath.sssp(spark, 1L, edges)
      .as[(Long, Double)].collect().toMap
    assert(dist == Map(1L -> 0.0, 2L -> 1.0, 3L -> 3.0))
  }

  test("ShortestPath.kBest keeps two smallest distinct costs") {
    val edges = Seq((1L, 3L, 10L), (1L, 2L, 1L), (2L, 3L, 2L))
      .toDF("src", "dst", "w")
    val k = ShortestPath.kBest(spark, 1L, edges, k = 2)
      .select("node", "dist", "rank").as[(Long, Double, Int)].collect().toSet
    assert(k.contains((3L, 3.0, 1)) && k.contains((3L, 10.0, 2)))
  }

  test("kShortestPaths adaptive kv: a saturating minweight search retries and stays exact") {
    // funnel: 1 -> a_i (cost i, i=1..12) -> 100 -> 200. The initial
    // bounded capacity kv = max(3k, k+8) = 9 keeps only the 9 cheapest
    // prefixes at the funnel vertex, pruning every completion that
    // could satisfy minweight=12 — the r9 code WARNED and returned
    // nothing; the adaptive retry doubles kv until no vertex saturates
    // and must recover the exact answer.
    val edges = ((11L to 22L).flatMap(a => Seq(
      (1L, a, (a - 10L)), (a, 100L, 0L))) :+ (100L, 200L, 0L))
      .toDF("src", "dst", "w")
    val out = ShortestPath.kShortestPaths(spark, 1L, 200L, edges, k = 1,
      minW = 12.0)
      .select("rank", "dist", "path").as[(Int, Double, String)].collect()
    assert(out.toSeq == Seq((1, 12.0, "1->22->100->200")))
  }

  test("Recurse.expand stays within the per-level driver-action budget") {
    // contention-robustness contract (r9 verdict): each level must cost
    // ~one Spark job (lazy checkpoint materialized by the emptiness
    // count), not the eager-checkpoint + isEmpty + visited-checkpoint
    // triple that made the scored bench 30x amplifiable under host load
    val chain = (1L to 6L).sliding(2).map(p => (p(0), p(1))).toSeq
    val edges = chain.toDF("subject", "object")
    val tagged = chain.map { case (a, b) => (a, b, "f") }
      .toDF("subject", "object", "pred")
    val seeds = Seq(1L).toDF("start")
    val tracker = spark.sparkContext.statusTracker
    def jobs(out: => org.apache.spark.sql.DataFrame): Int = {
      val before = tracker.getJobIdsForGroup(null).length
      assert(out.count() == 5)
      tracker.getJobIdsForGroup(null).length - before
    }
    val expand = jobs(Recurse.expand(seeds, edges, maxDepth = 5))
    // measured: 23 jobs total = seed + ~2.5/level inside the loop (AQE
    // scoped off below the frontier threshold) + the final AQE count
    // over the union; the r9 implementation spent 34. The budget guards
    // against regressing to eager-checkpoint/isEmpty/per-level-AQE.
    assert(expand <= 26, s"Recurse.expand spent $expand jobs for 5 levels")
    // the other walks' bounds are what each spent with its own level
    // loop, before all four shared one
    val tree = jobs(Recurse.expandTree(seeds, tagged, maxDepth = 5))
    assert(tree <= 24, s"Recurse.expandTree spent $tree jobs for 5 levels")
    val global = jobs(Recurse.expandGlobal(Seq(1L).toDF("node"), tagged, maxDepth = 5))
    assert(global <= 24, s"Recurse.expandGlobal spent $global jobs for 5 levels")
    val paths = jobs(Recurse.expandPaths(seeds, edges, maxDepth = 5))
    assert(paths <= 14, s"Recurse.expandPaths spent $paths jobs for 5 levels")
  }

  test("kShortestPaths minweight/maxweight bound the returned paths") {
    // 1→4 routes: via 2 (cost 3), via 3 (cost 8), direct (cost 20)
    val edges = Seq((1L, 2L, 1L), (2L, 4L, 2L), (1L, 3L, 4L), (3L, 4L, 4L),
      (1L, 4L, 20L)).toDF("src", "dst", "w")
    val all = ShortestPath.kShortestPaths(spark, 1L, 4L, edges, k = 3)
      .select("dist").as[Double].collect().toSet
    assert(all == Set(3.0, 8.0, 20.0))
    // minweight drops the cheap route without it eating a rank slot;
    // maxweight prunes the expensive one during expansion
    val bounded = ShortestPath.kShortestPaths(spark, 1L, 4L, edges, k = 3,
      minW = 5.0, maxW = 10.0)
      .select("rank", "dist").as[(Int, Double)].collect().toSet
    assert(bounded == Set((1, 8.0)))
  }

  test("dedup clusters: chains collapse to the smallest member id") {
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a", "b")
    val c = graft.operators.Dedup.clusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(c == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("shingles/minhash: identical docs share signatures; short docs none") {
    val df = Seq((1L, "a b c d e"), (2L, "a b c d e"), (3L, "a b"))
      .toDF("id", "text")
    val sh = df.select($"id", shingles(words($"text"), 3).as("sh"))
      .select($"id", size($"sh").as("n")).as[(Long, Int)].collect().toMap
    assert(sh(1L) == 3 && sh(3L) == 0)
    val sigs = graft.operators.Dedup.minhashSignatures(df, $"id", $"text")
    val rows = sigs.collect()
    assert(rows.length == 2) // short doc dropped
    assert(rows(0).toSeq.drop(1) == rows(1).toSeq.drop(1)) // equal sigs
  }

  test("simhash: near-identical docs within small hamming distance") {
    val base = "spark graph engine scans parquet tables with catalyst and tungsten runtime"
    val df = Seq((1L, base), (2L, base + " extra"), (3L, "totally different words entirely"))
      .toDF("id", "text")
    val sh = graft.operators.Dedup.simhash(df, $"id", $"text")
      .as[(Long, Long)].collect().toMap
    assert(java.lang.Long.bitCount(sh(1L) ^ sh(2L)) <= 4)
    assert(sh(1L) != sh(3L))
  }

  test("hashPairs edge cases: maxDist=0 single full-width block; sign-bit signatures pair correctly") {
    // maxDist 0 → one 64-bit block (the w>=64 arithmetic-shift branch):
    // only EXACT signature matches pair
    val sig = Seq((1L, 42L), (2L, 42L), (3L, 43L), (4L, -42L), (5L, -42L))
      .toDF("id", "simhash")
    val exact = graft.operators.Dedup.hashPairs(sig, 64, 0)
      .as[(Long, Long, Int)].collect().toSet
    assert(exact == Set((1L, 2L, 0), (4L, 5L, 0)))
    // negative signatures (bit 63 set) band consistently: a pair one bit
    // apart in the TOP block is still found
    val hi = Seq((1L, java.lang.Long.MIN_VALUE), (2L, java.lang.Long.MIN_VALUE | 1L))
      .toDF("id", "simhash")
    val top = graft.operators.Dedup.hashPairs(hi, 64, 2)
      .as[(Long, Long, Int)].collect().toSet
    assert(top == Set((1L, 2L, 1)))
  }

  test("hashPairsWide: exact vs brute force on designed near-dup text, lane-aligned blocks") {
    // the widened-signature production layout must find EXACTLY the
    // brute-force two-lane hamming pairs (pigeonhole exactness over the
    // 20/30-bit lane-aligned blocks), including cross-lane diff splits
    val docs = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select($"doc_id".cast("long").as("id"), $"text")
    val twins = docs.select(($"id" + 1000000L).as("id"),
      // drop the last word: a near-identical doc a few sig bits away
      concat_ws(" ", slice(split($"text", " "), lit(1),
        greatest(size(split($"text", " ")) - 1, lit(1)))).as("text"))
    val corpus = docs.unionByName(twins)
    val sigs = graft.operators.Dedup.simhashWideFromSums(
      graft.operators.Dedup.simhashBitSumsWide(corpus, $"id", $"text"))
      .localCheckpoint()
    val banded = graft.operators.Dedup.hashPairsWide(sigs, maxDist = 4)
      .select($"a", $"b", $"dist").as[(Long, Long, Int)].collect().toSet
    val l = sigs.select($"id".as("a"), $"h0".as("x0"), $"h1".as("x1"))
    val r = sigs.select($"id".as("b"), $"h0".as("y0"), $"h1".as("y1"))
    import graft.functions.TextFunctions.hamming
    val brute = l.join(r, $"a" < $"b")
      .select($"a", $"b",
        (hamming($"x0", $"y0") + hamming($"x1", $"y1")).as("dist"))
      .filter($"dist" <= 4).as[(Long, Long, Int)].collect().toSet
    assert(brute.nonEmpty, "fixture lost its designed near-dups")
    assert(banded == brute,
      s"missing=${(brute -- banded).take(3)} extra=${(banded -- brute).take(3)}")
    // only maxDist 4 has a block map
    intercept[IllegalArgumentException] {
      graft.operators.Dedup.hashPairsWide(sigs, maxDist = 3)
    }
    ()
  }

  test("PQ guards: dim must divide by m; exact codebooks refuse unbounded cardinality") {
    val base = Seq((1L, Seq(1L, 2L, 3L)), (2L, Seq(4L, 5L, 6L))).toDF("id", "qe")
    val e = intercept[IllegalArgumentException] {
      graft.operators.Similarity.pqCodebooksExact(base, m = 2)
    }
    assert(e.getMessage.contains("not divisible"))
    // cardinality cap: every row distinct → maxWords=1 must throw, not
    // silently truncate the codebook
    val wide = (0L until 8L).map(i => (i, Seq(i, i + 1))).toDF("id", "qe")
    val e2 = intercept[IllegalArgumentException] {
      graft.operators.Similarity.pqCodebooksExact(wide, m = 1, maxWords = 4)
    }
    assert(e2.getMessage.contains("distinct subvectors"))
  }

  test("langId picks the list with most stopword hits") {
    val df = Seq(
      (1L, "the cat and the dog is in a house"),
      (2L, "le chat est dans la maison et les jardins"),
      (3L, "xyzzy qwerty")).toDF("id", "text")
    val got = df.select($"id", langId(words($"text")).as("l"))
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "en", 2L -> "fr", 3L -> "und"))
  }

  test("vector functions: cosine of identical/orthogonal quantized vectors") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f), Array(1.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f), Array(0.0f, 1.0f))).toDF("id", "a", "b")
    val out = df.select($"id",
        cosineQ(quantize($"a"), quantize($"b")).as("c"))
      .as[(Long, Double)].collect().toMap
    assert(math.abs(out(1L) - 1.0) < 1e-12 && math.abs(out(2L)) < 1e-12)
    val e = df.select($"id", euclideanF($"a", $"b").as("e"))
      .as[(Long, Double)].collect().toMap
    assert(math.abs(e(2L) - math.sqrt(2)) < 1e-12)
  }
  test("chunk_documents: overlapping windows cover every token, boundaries exact") {
    // mirror of the gate at unit scale: size 32 / stride 24 over a
    // 54-token doc -> starts 0,24,48 with 8-token overlap and an exact
    // short tail
    val words = (1 to 54).map(i => s"w$i")
    val df = Seq((7L, words.mkString(" "))).toDF("doc_id", "text")
    val spark0 = spark
    val dir = java.nio.file.Files.createTempDirectory("graft_chunk").toString
    df.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.queries.QualityQueries.queries("chunk_documents")(spark0, dir)
      .as[(Long, Long, Long, Long, String, String)].collect().toSeq
    assert(out == Seq(
      (7L, 0L, 0L, 32L, "w1", "w32"),
      (7L, 1L, 24L, 30L, "w25", "w54"),
      (7L, 2L, 48L, 6L, "w49", "w54")))
    // coverage: every token index falls inside at least one chunk
    val covered = out.flatMap { case (_, _, st, n, _, _) => st until (st + n) }.toSet
    assert(covered == (0L until 54L).toSet)
  }

  test("text_bm25: rarer terms score higher at equal tf, saturation bounds tf growth") {
    val docs = Seq(
      (0L, "hash hash hash common common"),
      (1L, "hash common common common common"),
      (2L, "vector common common common common"),
      (3L, "common common common common common"))
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25").toString
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val out = graft.queries.QualityQueries.queries("text_bm25")(spark, dir)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // doc 3 has no query terms: absent from the result
    assert(out.keySet == Set(0L, 1L, 2L))
    // vector (df=1) outscores hash (df=2) at the same tf=1 and dl
    assert(out(2L)._2 > out(1L)._2)
    // tf saturation: tf=3 scores more than tf=1 but less than 3x
    assert(out(0L)._2 > out(1L)._2 && out(0L)._2 < 3 * out(1L)._2)
    assert(out.values.forall(_._1 == 1L)) // one matched term each
  }
  test("quality_percentile_source filters per source; corpus_shuffle is a deterministic permutation") {
    val docs = Seq(
      (0L, "a", "x x x x"),      // ttr 0.25  (lowest in a)
      (1L, "a", "x y x y"),      // ttr 0.5
      (2L, "a", "x y z w"),      // ttr 1.0
      (3L, "b", "p p q q"),      // ttr 0.5  (lowest in b)
      (4L, "b", "p q r r"))      // ttr 0.75
    val dir = java.nio.file.Files.createTempDirectory("graft_qps").toString
    docs.toDF("doc_id", "source", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val kept = graft.queries.QualityQueries
      .queries("quality_percentile_source")(spark, dir)
      .select("doc_id").as[Long].collect().toSet
    // per-source cut: doc 0 drops in a, doc 3 drops in b — doc 1
    // (ttr 0.5) SURVIVES in a even though doc 3 with the same ttr
    // drops in b, the per-domain property a global cut would lose
    assert(kept == Set(1L, 2L, 4L))
    val order1 = graft.queries.QualityQueries.queries("corpus_shuffle")(spark, dir)
      .select("doc_id").as[Long].collect().toSeq
    val order2 = graft.queries.QualityQueries.queries("corpus_shuffle")(spark, dir)
      .select("doc_id").as[Long].collect().toSeq
    assert(order1 == order2, "shuffle must be deterministic")
    assert(order1.sorted == Seq(0L, 1L, 2L, 3L, 4L), "must be a permutation")
    assert(order1 != Seq(0L, 1L, 2L, 3L, 4L), "must not be identity order")
  }

  test("boilerplate_lines: short lines and corpus-duplicate lines drop, first occurrence survives") {
    // doc 0: two full 8-word lines; doc 1 repeats doc 0's FIRST line
    // verbatim then continues with fresh words; doc 2 is a 3-word stub
    val l0 = (1 to 8).map(i => s"a$i").mkString(" ")
    val l1 = (1 to 8).map(i => s"b$i").mkString(" ")
    val l2 = (1 to 8).map(i => s"c$i").mkString(" ")
    val docs = Seq(
      (0L, s"$l0 $l1"),
      (1L, s"$l0 $l2"),
      (2L, "x y z"))
    val dir = java.nio.file.Files.createTempDirectory("graft_bp").toString
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val out = graft.queries.QualityQueries.queries("boilerplate_lines")(spark, dir)
      .select("doc_id", "line_idx", "n_words", "keep", "reason")
      .as[(Long, Long, Long, Boolean, Option[String])].collect().toSeq
    assert(out == Seq(
      (0L, 0L, 8L, true, None),             // first occurrence of l0
      (0L, 1L, 8L, true, None),
      (1L, 0L, 8L, false, Some("dup_line")), // l0 again -> dropped
      (1L, 1L, 8L, true, None),
      (2L, 0L, 3L, false, Some("short"))))
  }

  test("dedup_cluster_rep: longest member represents its near-dup cluster") {
    // a 20-word doc and its derived truncated variant (id + 1e6) form
    // one LSH cluster; the 4-word doc produces no variant and no pairs
    val docs = Seq(
      (0L, (1 to 20).map(i => s"w$i").mkString(" ")),
      (1L, "p q r s"))
    val dir = java.nio.file.Files.createTempDirectory("graft_rep").toString
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val out = graft.queries.LlmQueries.queries("dedup_cluster_rep")(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // cluster label 0 (min id), rep = base doc (variant is 3 words
    // shorter), 2 members, rep_len = chars of the 20-word text
    val repLen = (1 to 20).map(i => s"w$i").mkString(" ").length.toLong
    assert(out == Seq((0L, 0L, repLen, 2L)))
  }

  test("dedup_substring_spans: cross-doc 5-gram coverage, within-doc repeats don't count") {
    val span = "s1 s2 s3 s4 s5" // shared verbatim between docs 0 and 1
    val docs = Seq(
      (0L, s"$span a6 a7 a8"),
      (1L, s"b1 b2 $span"),
      // doc 2 repeats ITS OWN 5-gram twice: df stays 1, not a dup
      (2L, "c1 c2 c3 c4 c5 c1 c2 c3 c4 c5"))
    val dir = java.nio.file.Files.createTempDirectory("graft_ss").toString
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val out = graft.queries.QualityQueries
      .queries("dedup_substring_spans")(spark, dir)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // doc 0: 4 distinct 5-grams, only the leading one is shared
    assert(out(0L) == (4L, 1L))
    assert(out(1L) == (3L, 1L))
    // doc 2: 6 positions but distinct set; none occur in other docs
    assert(out(2L)._2 == 0L)
  }

  test("tokenize_ids: frequency-ranked vocab ids, OOV -> 0, order-preserving head") {
    // "z" dominates, "m" second, singletons beyond rank 20 don't exist
    // here so every word is in-vocab except none — force OOV by rank:
    // 21+ distinct singleton words push the last ones out of the vocab
    val filler = (1 to 22).map(i => s"f${"%02d".format(i)}").mkString(" ")
    val docs = Seq(
      (0L, "z z z m m q"),
      (1L, filler))
    val dir = java.nio.file.Files.createTempDirectory("graft_tok").toString
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val out = graft.queries.QualityQueries.queries("tokenize_ids")(spark, dir)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    // vocab: z(id 1), m(id 2), then 18 of {f01..f22, q} lexicographic →
    // f01..f18 get ids 3..20; f19..f22 and q are OOV (0)
    assert(out(0L) == (6L, 1L, "1 1 1 2 2 0"))
    val ids1 = out(1L)._3.split(" ").map(_.toLong).toSeq
    assert(out(1L)._1 == 22L && out(1L)._2 == 4L)
    assert(ids1 == (3L to 18L))   // first 16 fillers, in document order
  }

  test("mix_epochs: equal-share budget, 4-epoch repeat cap") {
    // budget 1e6 split over 2 sources = 500k tokens each, far above
    // both sources' token counts -> the 4-epoch repeat cap binds, and
    // effective_tokens = 4 x n_tokens exactly
    val docs = Seq(
      (0L, "a", (1 to 10).map(_ => "w").mkString(" ")),
      (1L, "b", (1 to 20).map(_ => "x").mkString(" ")))
    val dir = java.nio.file.Files.createTempDirectory("graft_mix").toString
    docs.toDF("doc_id", "source", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val out = graft.queries.QualityQueries.queries("mix_epochs")(spark, dir)
      .as[(String, Long, Long, Double, Double)].collect().toSeq
    // 1e6/2 = 500k per source >> tokens -> both capped at 4 epochs
    assert(out == Seq(
      ("a", 1L, 10L, 4.0, 40.0),
      ("b", 1L, 20L, 4.0, 80.0)))
  }

  test("quality_ensemble: 2-of-3 vote keeps a doc a single failing signal would drop") {
    // 40 distinct words with stopwords and sane lengths: v_rule true,
    // v_pct true (only doc in its source -> percent_rank 0 ... careful:
    // single doc gets pr=0.0 which is < 0.5 -> v_pct FALSE). All words
    // unique -> sum_tf == n_tokens < 3*n_tokens -> v_lm false.
    // So this doc: v_rule=true, v_lm=false, v_pct=false -> drop.
    val good = ((1 to 36).map(i => s"word$i") ++
      Seq("the", "and", "with", "from")).mkString(" ")
    // a twin in the same source with LOWER ttr (repeated words) ranks
    // below `good`, flipping good's percentile vote to true; the twin's
    // repeats also push its own sum_tf up.
    val repeaty = (Seq.fill(30)("the") ++ (1 to 10).map(i => s"u$i"))
      .mkString(" ")
    val docs = Seq((0L, "s", good), (1L, "s", repeaty))
    val dir = java.nio.file.Files.createTempDirectory("graft_ens").toString
    docs.toDF("doc_id", "source", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val out = graft.queries.QualityQueries
      .queries("quality_ensemble")(spark, dir)
      .as[(Long, Boolean, Boolean, Boolean, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    // doc 0: rule pass, lm fail (all-unique words), pct pass (higher
    // ttr of the two) -> 2 of 3 -> keep
    assert(out(0L) == (true, false, true, true))
    // doc 1: rule fails (ttr 11/40 < 0.45), lm passes ("the" tf >= 3
    // per token often enough), pct fails (pr 0.0) -> 1 of 3 -> drop
    assert(out(1L)._4 == false)
  }
}
