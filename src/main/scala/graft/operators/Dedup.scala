package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Corpus deduplication operators for training-data pipelines.
  *
  * All operators are shuffle-minimal by construction:
  *  - exact dedup: single hash-aggregate on the text fingerprint;
  *  - MinHash LSH: signatures are per-row (no shuffle), the only shuffle
  *    is the band-bucket self-join — the standard shingle→minhash→band→
  *    bucket-join pipeline, which at 100 TB is a shuffle on band keys
  *    whose cardinality ~ corpus size × bands (skew-free because keys are
  *    md5s);
  *  - SimHash: per-row signature, pairs blocked by a signature byte so
  *    the self-join is bucketed 256-ways instead of O(n²);
  *  - n-gram Jaccard: exact verification *after* LSH candidate pruning —
  *    explode-join-count, never materializing full shingle-set cross
  *    products.
  */
object Dedup {

  /** Exact duplicate groups by md5 fingerprint of the raw text.
    * Returns (fp, n, rep_id): group hash, size, smallest member id.
    */
  def exact(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("id"), md5(text).as("fp"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n"), min(col("id")).as("rep_id"))
      .filter(col("n") > 1)

  /** One distinct-shingle-set pass over the corpus: (id, sh
    * ARRAY<STRING>). This is THE tokenize pass of the near-dup pipeline —
    * minhash signatures, LSH candidates, and exact Jaccard verification
    * all derive from it, so a session materializes it once (the way the
    * reference engine maintains its index rather than re-tokenizing the
    * corpus per request). Docs too short for any shingle keep an empty
    * array and drop out downstream at the explode.
    */
  def shingleSets(df: DataFrame, id: Column, text: Column,
      shingleN: Int = 3): DataFrame =
    df.select(id.as("id"),
      array_distinct(shingles(words(text), shingleN)).as("sh"))

  /** Per-document MinHash signature columns s0..s{k-1} over word
    * n-gram shingles.
    */
  def minhashSignatures(df: DataFrame, id: Column, text: Column,
      k: Int = 8, shingleN: Int = 3): DataFrame =
    signaturesFromSets(shingleSets(df, id, text, shingleN), k)

  /** Signatures from a pre-built [[shingleSets]] frame. min() over the
    * DISTINCT set equals min() over raw shingle occurrences, so the
    * distinct pass is shareable with Jaccard verification.
    *
    * Hash family: ONE md5 per shingle (28-bit prefix) rehashed by k
    * affine maps (a_i·h + b_i) mod M — the standard universal-hashing
    * minhash construction. k independent salted md5s gave identical
    * dedup quality but cost 8 full digests per shingle, which was the
    * whole cold tail of the candidate build (56M md5 calls at sf0.1).
    * Constants: M prime < 2^30, a_i < 2^23, h < 2^28 — products stay
    * far inside the 64-bit long, in Spark and in the DuckDB oracle.
    */
  val MinhashM = 1073741789L
  def minhashA(i: Int): Long = 1000003L * (i + 1)
  def minhashB(i: Int): Long = 7919L * i + 17
  def signaturesFromSets(sets: DataFrame, k: Int = 8): DataFrame = {
    // explode + hash-aggregate instead of per-row array folds: the k
    // min-aggregates run inside whole-stage codegen with map-side
    // partial aggregation, and no giant shingle arrays are materialized
    // per row. Docs too short for any shingle naturally drop out (no
    // group), matching the oracle CTE. An input that already carries a
    // pre-hashed `hs` column (a materialized frame shared with Jaccard
    // verification) skips the md5 pass entirely — the digests are the
    // dominant cost of a fresh signature build.
    val sh =
      if (sets.columns.contains("hs"))
        sets.select(col("id"), explode(col("hs")).as("h"))
      else sets.select(col("id"), explode(col("sh")).as("s"))
        .select(col("id"),
          conv(substring(md5(col("s")), 1, 7), 16, 10).cast("long").as("h"))
    val sigCols = (0 until k).map(i =>
      min((col("h") * minhashA(i) + minhashB(i)) % MinhashM).as(s"s$i"))
    sh.groupBy(col("id")).agg(sigCols.head, sigCols.tail: _*)
  }

  /** LSH bucket rows (id, band, key) from a pre-built [[shingleSets]]
    * frame — the banding layer shared by the batch candidate join and
    * the streaming band-state dedup.
    */
  def bucketsFromSets(sets: DataFrame,
      bands: Int = 4, rows: Int = 2): DataFrame = {
    val sigs = signaturesFromSets(sets, bands * rows)
    val bandKeys = (0 until bands).map { b =>
      bandKey((0 until rows).map(r => col(s"s${b * rows + r}")))
    }
    sigs.select(col("id"),
      posexplode(array(bandKeys: _*)).as(Seq("band", "key")))
  }

  /** LSH candidate pairs from a pre-built [[shingleSets]] frame. */
  def candidatesFromSets(sets: DataFrame,
      bands: Int = 4, rows: Int = 2): DataFrame = {
    // materialize the bucket rows before the self-join: the two join
    // sides are separate plan branches (one becomes a broadcast), so
    // without this the whole shingle-explode + k min-agg + banding
    // pipeline runs TWICE. Sharing bucketsFromSets keeps the
    // parity-critical band-key construction in exactly one place
    // (it must mirror the oracle's bucketsSql).
    val buckets = bucketsFromSets(sets, bands, rows).localCheckpoint()
    val l = buckets.as("l"); val r = buckets.as("r")
    l.join(r, col("l.band") === col("r.band") && col("l.key") === col("r.key")
        && col("l.id") < col("r.id"))
      .groupBy(col("l.id").as("a"), col("r.id").as("b"))
      .agg(count(lit(1)).as("n_shared_bands"))
  }

  /** Per-document SimHash at `bits` width from md5-prefix word hashes.
    * Explode + one hash-aggregate with per-bit conditional SUMs — every
    * operator whole-stage-codegens. The per-row Catalyst `aggregate`
    * fold this replaces looked shuffle-free but ran interpreted
    * (higher-order functions are CodegenFallback) with one pass over
    * the hash array PER BIT — 16-60 passes/row — which benched 68×
    * slower than this shape at sf0.1. The explode shuffle it avoided is
    * cheap: map-side partial aggregation combines to one row per doc
    * before the exchange, so only |docs| × (bits+1) longs move.
    */
  private def simhashBits(df: DataFrame, id: Column, text: Column,
      bits: Int): DataFrame =
    simhashFromSums(simhashBitSums(df, id, text, bits), bits, 0)

  // SimHash bit-counter packing: 3 counters per aggregate long, 20 bits
  // each. One agg buffer per ~3 bits instead of one per bit — a 60-bit
  // build is 20 SUMs, not 60, which keeps the generated aggregate small
  // (measured 1.8 s -> 0.5 s cold at sf0.1; the 60-buffer variant's
  // codegen dominated its own runtime). The lane width bounds documents
  // at 2^20-1 DISTINCT tokens — a doc that large (~10 MB of unique
  // words) is degenerate for SimHash; chunk it upstream.
  private val SimhashLaneBits = 20
  private val SimhashLanes = 3

  /** The expensive half of a SimHash build, exposed so SIGNATURE WIDTHS
    * CAN SHARE IT: per-document per-bit ONES counts (packed, see above)
    * plus the distinct-token count `n`, over `bits`-bit md5-prefix word
    * hashes — one explode + one hash-aggregate, all whole-stage-codegen.
    * Because `conv` of a hex PREFIX nests (h_16 = h_60 >> 44), the w-bit
    * signature for any w <= bits assembles from the TOP w counters of
    * this one frame ([[simhashFromSums]] with offset bits-w) — so a
    * session computes these counts once for both the 16-bit fingerprint
    * and the 60-bit banding signature instead of re-hashing the corpus
    * per width.
    */
  def simhashBitSums(df: DataFrame, id: Column, text: Column,
      bits: Int): DataFrame = {
    val hb = df.select(id.as("id"), explode(array_distinct(words(text))).as("w"))
      .select(col("id"),
        conv(substring(md5(col("w")), 1, bits / 4), 16, 10).cast("long").as("h"))
    val groups = (bits + SimhashLanes - 1) / SimhashLanes
    val packed = (0 until groups).map { g =>
      (0 until SimhashLanes).filter(j => g * SimhashLanes + j < bits).map(j =>
        (shiftright(col("h"), g * SimhashLanes + j) % 2) *
          lit(1L << (j * SimhashLaneBits)))
        .reduce(_ + _)
    }
    val aggs = count(lit(1)).as("n") +:
      (0 until groups).map(g => sum(packed(g)).as(s"p$g"))
    hb.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
  }

  /** Signature column over a [[simhashBitSums]] frame: output bit i is
    * set iff counter (offset+i)'s ones-majority holds — 2*ones > n,
    * identical to the classic +1/-1 sum being positive.
    */
  def simhashSignature(outBits: Int, offset: Int): Column =
    (0 until outBits).map { i =>
      val c = offset + i
      val ones = shiftright(col(s"p${c / SimhashLanes}"),
        (c % SimhashLanes) * SimhashLaneBits) % (1L << SimhashLaneBits)
      when(ones * 2 > col("n"), lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Assemble an `outBits`-wide signature from a [[simhashBitSums]]
    * frame (counter offset+i -> output bit i). Returns (id, simhash).
    */
  def simhashFromSums(sums: DataFrame, outBits: Int, offset: Int): DataFrame =
    sums.select(col("id"), simhashSignature(outBits, offset).as("simhash"))

  /** Per-document 16-bit SimHash. Returns (id, simhash). */
  def simhash(df: DataFrame, id: Column, text: Column): DataFrame =
    simhashBits(df, id, text, 16)

  /** SimHash near-dup pairs with hamming <= maxDist via multi-table
    * pigeonhole banding (the production SimHash layout — Manku et al.'s
    * permuted tables): a 60-bit signature split into maxDist+1 blocks,
    * so any pair within maxDist has at least one block with ZERO
    * differing bits and is found in that block's bucket join. Candidate
    * generation is therefore EXACT (no recall gap) AND selective — with
    * maxDist 4 each block keys 12 bits (4096 buckets), so the join is
    * O(n²/4096) per table, never all-pairs. A 16-bit signature cannot
    * give both properties (5 blocks of 3 bits ≈ all-pairs — measured
    * 44 s at sf0.1); widening the signature is the production answer.
    */
  def simhashPairs(df: DataFrame, id: Column, text: Column,
      maxDist: Int): DataFrame =
    hashPairs(simhashBits(df, id, text, 60)
      .select(col("id"), col("simhash")), 60, maxDist)

  /** TWO-LANE 120-bit SimHash bit-sums — the "widen the signature"
    * production path for hamming dedup at scale: lane 0 hashes words
    * by md5 hex chars 1-15, lane 1 by chars 17-31 (independent 60-bit
    * hashes from the one digest), ONE explode + ONE hash-aggregate for
    * both lanes' packed counters. Returns (id, n, p0..p19 lane 0,
    * q0..q19 lane 1).
    */
  def simhashBitSumsWide(df: DataFrame, id: Column, text: Column): DataFrame = {
    val hb = df.select(id.as("id"), explode(array_distinct(words(text))).as("w"))
      .select(col("id"),
        conv(substring(md5(col("w")), 1, 15), 16, 10).cast("long").as("h"),
        conv(substring(md5(col("w")), 17, 15), 16, 10).cast("long").as("g"))
    val groups = (60 + SimhashLanes - 1) / SimhashLanes
    def packed(src: Column, g: Int): Column =
      (0 until SimhashLanes).filter(j => g * SimhashLanes + j < 60).map(j =>
        (shiftright(src, g * SimhashLanes + j) % 2) *
          lit(1L << (j * SimhashLaneBits)))
        .reduce(_ + _)
    val aggs = count(lit(1)).as("n") +:
      ((0 until groups).map(g => sum(packed(col("h"), g)).as(s"p$g")) ++
        (0 until groups).map(g => sum(packed(col("g"), g)).as(s"q$g")))
    hb.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
  }

  /** (id, h0, h1) two-lane signature from [[simhashBitSumsWide]]. */
  def simhashWideFromSums(sums: DataFrame): DataFrame = {
    def lane(pfx: String): Column =
      (0 until 60).map { i =>
        val ones = shiftright(col(s"$pfx${i / SimhashLanes}"),
          (i % SimhashLanes) * SimhashLaneBits) % (1L << SimhashLaneBits)
        when(ones * 2 > col("n"), lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ + _)
    sums.select(col("id"), lane("p").as("h0"), lane("q").as("h1"))
  }

  /** Pigeonhole hamming pair join over the two-lane 120-bit signature:
    * maxDist 4 splits the 120 bits into FIVE lane-aligned blocks —
    * three 20-bit blocks of lane 0, two 30-bit blocks of lane 1 — so a
    * pair within maxDist agrees exactly on ≥ 1 block (same exactness
    * argument as [[hashPairs]]) while bucket keys carry 20-30 agreeing
    * bits: occupancy is n/2^20 per block where the 60-bit layout's is
    * n/2^12 — the widened signature IS the scale lever ([[simhashPairs]]
    * scaladoc), measured near-flat through sf3 where the 60-bit gate
    * grows 4.0× on 3× data. Only maxDist 4 is laid out; other radii
    * need their own block map.
    */
  def hashPairsWide(sig0: DataFrame, maxDist: Int): DataFrame = {
    require(maxDist == 4, s"wide layout is pinned to maxDist 4, got $maxDist")
    // (lane, lo, width): 3×20 over h0, 2×30 over h1
    val blocks = Seq(("h0", 0, 20), ("h0", 20, 20), ("h0", 40, 20),
      ("h1", 0, 30), ("h1", 30, 30))
    def blockOf(i: Int): Column = {
      val (ln, lo, w) = blocks(i)
      shiftright(col(ln), lo) % (1L << w)
    }
    val dist = hamming(col("l.h0"), col("r.h0")) +
      hamming(col("l.h1"), col("r.h1"))
    // distinct-sig grouping, first-match emission — same shape as
    // hashPairs (one row per signature pair, no dedup shuffle)
    val groups = sig0.groupBy(col("h0"), col("h1"))
      .agg(collect_list(col("id")).as("ids"))
      .localCheckpoint()
    val buckets = groups.select(col("h0"), col("h1"), col("ids"),
      posexplode(array(blocks.indices.map(blockOf): _*)).as(Seq("blk", "key")))
    val l = buckets.as("l"); val r = buckets.as("r")
    def blockSide(side: String, i: Int): Column = {
      val (ln, lo, w) = blocks(i)
      shiftright(col(s"$side.$ln"), lo) % (1L << w)
    }
    val firstMatch = (0 until blocks.size - 1).map { j =>
      col("l.blk") <= j || blockSide("l", j) =!= blockSide("r", j)
    }.foldLeft(lit(true))(_ && _)
    val sigLt = col("l.h0") < col("r.h0") ||
      (col("l.h0") === col("r.h0") && col("l.h1") < col("r.h1"))
    val cross = l.join(r,
        col("l.blk") === col("r.blk") && col("l.key") === col("r.key")
        && sigLt && dist <= maxDist && firstMatch)
      .select(col("l.ids").as("idsA"), col("r.ids").as("idsB"),
        dist.as("dist"))
      .select(explode(col("idsA")).as("x"), col("idsB"), col("dist"))
      .select(col("x"), explode(col("idsB")).as("y"), col("dist"))
      .select(least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b"), col("dist"))
    val intra = groups.filter(size(col("ids")) > 1)
      .select(explode(col("ids")).as("x"), col("ids"))
      .select(col("x"), explode(col("ids")).as("y"))
      .filter(col("x") < col("y"))
      .select(col("x").as("a"), col("y").as("b"),
        lit(0).cast("int").as("dist"))
    cross.unionByName(intra)
  }

  /** Pigeonhole hamming pair join over ANY (id, simhash) bit-signature
    * frame — the banding core shared by text SimHash and image aHash
    * ([[imageNearDupPairs]]): signatures within maxDist share at least
    * one zero-diff block, so candidate generation is exact and each
    * block's bucket join is O(n²/2^width), never all-pairs (unless the
    * data itself concentrates a block — banding's inherent degenerate
    * case, same as the reference LSH family).
    */
  def hashPairs(sig0: DataFrame, bits: Int, maxDist: Int): DataFrame = {
    val nBlocks = maxDist + 1
    val width = bits / nBlocks
    def blockOf(sig: Column, i: Int): Column = {
      val lo = i * width
      val w = if (i == nBlocks - 1) bits - lo else width
      // arithmetic shift keeps the top block sign-consistent on both
      // join sides, so key equality is unaffected
      if (w >= 64) sig else shiftright(sig, lo) % (1L << w)
    }
    // Band over DISTINCT signatures, not ids: near-dup corpora concentrate
    // exact-duplicate signatures, and every member of a sig-clique shares
    // ALL nBlocks block keys — banding raw ids joins |clique|² rows in
    // every block's bucket (measured 40 M joined pairs at sf0.1 where the
    // distinct-sig join evaluates a fraction of that). Collapse to one row
    // per signature carrying its member-id list, join those, and expand
    // members afterward with shuffle-free explodes. Each unordered doc
    // pair maps to exactly one sig pair (a doc has one sig), so no dedup
    // pass is needed; clique-internal pairs are dist-0 by construction.
    val groups = sig0.groupBy(col("simhash"))
      .agg(collect_list(col("id")).as("ids"))
      .localCheckpoint()
    val buckets = groups.select(col("simhash"), col("ids"),
      posexplode(array((0 until nBlocks).map(blockOf(col("simhash"), _)): _*))
        .as(Seq("blk", "key")))
    val l = buckets.as("l"); val r = buckets.as("r")
    // Emit each sig pair only from its FIRST matching block: for the match
    // at block `blk`, require every earlier block to differ (recomputed
    // from the two signatures already on the joined row), so each
    // candidate surfaces exactly once and no dedup shuffle exists.
    val firstMatch = (0 until nBlocks - 1).map { j =>
      col("l.blk") <= j || blockOf(col("l.simhash"), j) =!= blockOf(col("r.simhash"), j)
    }.foldLeft(lit(true))(_ && _)
    val cross = l.join(r,
        col("l.blk") === col("r.blk") && col("l.key") === col("r.key")
        && col("l.simhash") < col("r.simhash")
        && hamming(col("l.simhash"), col("r.simhash")) <= maxDist && firstMatch)
      .select(col("l.ids").as("idsA"), col("r.ids").as("idsB"),
        hamming(col("l.simhash"), col("r.simhash")).as("dist"))
      .select(explode(col("idsA")).as("x"), col("idsB"), col("dist"))
      .select(col("x"), explode(col("idsB")).as("y"), col("dist"))
      .select(least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b"), col("dist"))
    val intra = groups.filter(size(col("ids")) > 1)
      .select(explode(col("ids")).as("x"), col("ids"))
      .select(col("x"), explode(col("ids")).as("y"))
      .filter(col("x") < col("y"))
      .select(col("x").as("a"), col("y").as("b"),
        lit(0).cast("int").as("dist"))
    cross.unionByName(intra)
  }

  /** Image near-dup pairs: the 64-bit aHash perceptual fingerprints of
    * [[Multimodal.decodeImage]] through the same pigeonhole banding —
    * `decodeImage → imageNearDupPairs → clusters` is the image-dedup
    * pipeline (visually identical/near-identical images land within a
    * few aHash bits of each other; the banding finds them without an
    * all-pairs join).
    */
  def imageNearDupPairs(decoded: DataFrame, maxDist: Int): DataFrame =
    hashPairs(decoded.select(col("media_id").as("id"),
      col("ahash").as("simhash")), 64, maxDist)

  /** Audio near-dup pairs: the 64-bit energy fingerprints of
    * [[Multimodal.decodeAudio]] through the same banding — with
    * [[simhashPairs]] (text) and [[imageNearDupPairs]] this completes
    * the one-candidate-path-per-modality dedup family.
    */
  def audioNearDupPairs(decoded: DataFrame, maxDist: Int): DataFrame =
    hashPairs(decoded.select(col("media_id").as("id"),
      col("ehash").as("simhash")), 64, maxDist)

  /** Video near-dup, candidates-then-verify (the video analogue of
    * MinHash → Jaccard): band on the KEYFRAME (frame 0) aHash of
    * [[Multimodal.decodeVideo]] — near-identical videos share a
    * near-identical opening frame — then VERIFY each candidate pair
    * against the full `frame_hashes` sequences: per-frame hamming over
    * the aligned prefix (frame i vs frame i, up to the shorter video),
    * accepted when the MEAN distance is <= maxDist. A pair that happens
    * to open alike but diverges later (re-used intro, different cut) is
    * generated as a candidate and rejected by the verify step without
    * an all-pairs join anywhere — verification touches candidates only.
    * Returns (a, b, dist = keyframe hamming, mean_dist).
    */
  def videoNearDupPairs(decoded: DataFrame, maxDist: Int): DataFrame = {
    val fh = decoded.select(col("media_id"), col("frame_hashes"))
      .localCheckpoint()
    val cands = hashPairs(fh.select(col("media_id").as("id"),
      element_at(col("frame_hashes"), 1).as("simhash")), 64, maxDist)
    val fa = fh.select(col("media_id").as("a"), col("frame_hashes").as("__fa"))
    val fb = fh.select(col("media_id").as("b"), col("frame_hashes").as("__fb"))
    val n = least(size(col("__fa")), size(col("__fb")))
    // SCALE GUARD: this aggregate/zip_with fold is a CodegenFallback
    // higher-order function — interpreted row-at-a-time, fine at
    // CANDIDATE-pair cardinality (LSH output, orders of magnitude below
    // the corpus) but the exact pattern that cost a 68x regression when
    // an equivalent fold once sat on a corpus-sized path (r10 simhash).
    // It must only ever run on `cands`-joined rows; if a refactor needs
    // per-corpus-row hamming, pack lanes into codegen'd SUMs instead
    // (see simhashSigs).
    val sumd = aggregate(
      zip_with(slice(col("__fa"), lit(1), n), slice(col("__fb"), lit(1), n),
        (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), (acc, x) => acc + x)
    cands.join(fa, "a").join(fb, "b")
      .withColumn("mean_dist", sumd.cast("double") / n.cast("double"))
      .filter(col("mean_dist") <= maxDist)
      .select(col("a"), col("b"), col("dist"), col("mean_dist"))
  }

  /** Cluster assignment over near-dup candidate pairs: connected
    * components labeled by the smallest member id — the step that turns
    * pairwise candidates into keep/drop decisions (keep the `id ==
    * cluster` row, drop the rest). GraphX CC is iterative min-label
    * propagation: O(component diameter) supersteps, associative min
    * merges, so the labeling is deterministic under any partitioning
    * and the per-round shuffle carries only the changed frontier —
    * the standard corpus-dedup reduction at 100 TB (pairs ≪ corpus).
    * Returns (id, cluster) for every id appearing in a pair.
    */
  def clusters(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // the pair set is tiny relative to the corpus — right-size like the
    // shortest-path graphs so Pregel rounds don't pay empty-task fanout
    val e = pairs.select(col("a").cast("long"), col("b").cast("long"))
      .coalesce(math.max(1, spark.sparkContext.defaultParallelism / 8))
      .rdd.map(r => (r.getLong(0), r.getLong(1)))
    org.apache.spark.graphx.Graph.fromEdgeTuples(e, 0)
      .connectedComponents().vertices
      .map { case (id, c) => (id, c) }
      .toDF("id", "cluster")
  }

  /** Jaccard verification from a pre-built (ideally already materialized)
    * [[shingleSets]] frame — pass the SAME frame the LSH candidates came
    * from and the corpus is tokenized exactly once for the whole
    * pipeline.
    */
  def jaccardFromSets(sets: DataFrame, candidates: DataFrame): DataFrame = {
    // per-pair intersection computed IN PLACE from the two set arrays
    // (distinct by shingleSets' contract): two pair-sized joins + one
    // codegen'd array_intersect replace the explode (corpus × shingle
    // rows on BOTH sides), two shuffle joins and a groupBy — the
    // candidate frame is pair-sized, so the verification runs
    // exchange-free where the sets side broadcasts. The inter > 0
    // filter preserves the old inner explode-join's semantics exactly:
    // a candidate pair sharing no shingle emits no row.
    candidates
      .join(sets.select(col("id").as("a"), col("sh").as("__sha")), Seq("a"))
      .join(sets.select(col("id").as("b"), col("sh").as("__shb")), Seq("b"))
      .select(col("a"), col("b"),
        size(array_intersect(col("__sha"), col("__shb"))).cast("long").as("inter"),
        (size(col("__sha")) + size(col("__shb"))).cast("long").as("__sab"))
      .filter(col("inter") > 0)
      .select(col("a"), col("b"), col("inter"),
        (col("__sab") - col("inter")).as("un"))
      .withColumn("jaccard", col("inter").cast("double") / col("un").cast("double"))
  }
}
