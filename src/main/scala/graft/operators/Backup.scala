package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{GraphStore, PredicateSchema, SchemaRegistry, TripleFrameStore}

/** Backup / restore (reference worker/backup*.go, ee online backup +
  * `dgraph restore`): serialize a store to a self-contained directory and
  * load it back as a queryable [[TripleFrameStore]].
  *
  * Layout:
  *   <dir>/triples/        canonical triples parquet (the
  *                         TripleFrameStore input shape — subject,
  *                         predicate, objectUid, value, lang, facets)
  *   <dir>/schema.graft    predicate schema in /alter syntax — readable
  *                         by SchemaRegistry.parseAlter, so the manifest
  *                         IS the restore schema (reference backups
  *                         carry the schema payload the same way)
  *   <dir>/inc-N/          incremental deltas (CDC diff events) applied
  *                         in order on restore — reference backup series
  *                         (full + incrementals, worker/backup.go)
  *
  * Everything is a distributed scan/write; the only driver-side data is
  * the schema text. At 100 TB the triples write is the same job as the
  * bulk-load layout step, partitioned by predicate so a selective
  * restore can prune.
  */
object Backup {

  /** The store's canonical triple frame: every attribute tablet plus the
    * edge table, facets re-formatted to the N-Quad `k=v, ...` string.
    *
    * A store that knows its source layout supplies a melted frame with
    * far fewer leaf scans (TripleStore: 9 source scans instead of ~37
    * tablet branches — the write's wall-clock is plan units, not bytes);
    * [[genericTripleFrame]] is the store-agnostic fallback. The two are
    * row-for-row identical (BackupSpec parity).
    */
  def tripleFrame(store: GraphStore,
      only: Set[String] = Set.empty): DataFrame =
    store.backupTriples(only).getOrElse(genericTripleFrame(store, only))

  /** Whether a predicate's values are rows of the triples frame. Uid
    * predicates back up as edges; vectors and password hashes are
    * excluded: at scale each backs up as its own typed parquet (an
    * ARRAY<FLOAT> column has no faithful string round-trip through the
    * generic triples frame).
    */
  private[graft] def backsUpValues(p: PredicateSchema): Boolean =
    !Set("uid", "float32vector", "password").contains(p.dgraphType)

  private[graft] def genericTripleFrame(store: GraphStore,
      only: Set[String] = Set.empty): DataFrame = {
    // `only` selects predicates for a SELECTIVE backup (reference
    // restore supports per-predicate selection; the partitionBy layout
    // makes the restore side prune the same way). Branch-level pruning:
    // unselected tablets never even reach the plan.
    def keep(name: String) = only.isEmpty || only(name)
    val attrPreds = store.schema.predicates.values.toSeq.sortBy(_.name)
      .filter(p => backsUpValues(p) && keep(p.name))
    val attrs = attrPreds.flatMap { p =>
      // unmaterialized predicates may not exist in a given store; skip
      scala.util.Try {
        val a = store.attr(p.name)
        val lang = if (a.columns.contains("lang")) col("lang")
          else lit(null).cast("string")
        a.select(col("subject"), col("predicate"),
          lit(null).cast("long").as("objectUid"),
          col("value").cast("string").as("value"),
          lang.as("lang"), lit(null).cast("string").as("facets"))
      }.toOption
    }
    val facetStr = when(size(map_keys(col("facets"))) > 0,
      concat_ws(", ", transform(map_keys(col("facets")),
        k => concat(k, lit("="), element_at(col("facets"), k)))))
      .otherwise(lit(null).cast("string"))
    val uidPreds = store.schema.predicates.values.toSeq
      .filter(p => p.dgraphType == "uid" && keep(p.name)).map(_.name)
    val edges =
      if (uidPreds.isEmpty) Nil
      else Seq(store.edges
        .filter(if (only.isEmpty) lit(true) else col("predicate").isin(uidPreds: _*))
        .select(col("subject"), col("predicate"),
          col("object").as("objectUid"), lit(null).cast("string").as("value"),
          lit(null).cast("string").as("lang"), facetStr.as("facets")))
    val types =
      if (!keep("dgraph.type")) Nil
      else Seq(store.nodeTypes.select(col("subject"),
        lit("dgraph.type").as("predicate"), lit(null).cast("long").as("objectUid"),
        col("typeName").as("value"), lit(null).cast("string").as("lang"),
        lit(null).cast("string").as("facets")))
    val branches = attrs ++ edges ++ types
    require(branches.nonEmpty, s"selective backup matched no predicates: $only")
    branches.reduce(_ unionByName _)
  }

  /** Predicate schema in /alter syntax (round-trips through
    * SchemaRegistry.parseAlter).
    */
  def formatSchema(schema: SchemaRegistry): String = {
    def fmt(p: PredicateSchema): String = {
      val t = if (p.isList) s"[${p.dgraphType}]" else p.dgraphType
      val dirs = Seq(
        if (p.indexes.nonEmpty) s"@index(${p.indexes.mkString(", ")})" else "",
        if (p.reverse) "@reverse" else "",
        if (p.count) "@count" else "",
        if (p.lang) "@lang" else "").filter(_.nonEmpty)
      (s"${p.name}: $t" +: dirs).mkString(" ") + " ."
    }
    val preds = schema.predicates.values.toSeq.sortBy(_.name).map(fmt)
    val types = schema.types.values.toSeq.sortBy(_.name).map(t =>
      s"type ${t.name} { ${t.predicates.mkString(" ")} }")
    (preds ++ types).mkString("\n")
  }

  /** Full backup: triples parquet (partitioned by predicate for
    * selective restore) + schema manifest.
    *
    * `encKey = Some(keyId -> masterKey)` encrypts the backup at rest
    * (reference worker/backup.go: backups are AES-encrypted when the
    * cluster has an encryption key): the triples parquet goes through
    * Parquet Modular Encryption (footer + every data column sealed,
    * [[graft.core.LocalKms]] wraps the per-file DEKs) and the schema
    * manifest is AES-GCM-sealed whole. Boundary, documented: the
    * `predicate=` partition DIRECTORY NAMES stay readable — they are
    * schema-level names (also present in the manifest), not data;
    * flip to non-partitioned layout if even those must be opaque.
    */
  def full(store: GraphStore, dir: String,
      only: Set[String] = Set.empty,
      encKey: Option[(String, Array[Byte])] = None): Unit = {
    // NO pre-write shuffle: a melted source scan emits ≤10 predicates
    // per task and a generic tablet branch exactly one, so partitionBy
    // produces a bounded file count per task — no sliver explosion, no
    // skew. A repartition(predicate) here serialized the biggest tablet
    // (has_line, |lineitem| rows) through one writer and shuffled the
    // full-width frame for nothing (measured ~2x the write time at
    // sf0.1).
    // Concurrent output writers: with several predicates per input
    // partition the writer otherwise inserts a per-task SORT on the
    // partition column before writing; the distinct-partition count per
    // task is bounded (≤10), so concurrent writers are strictly better.
    // lz4: measurably faster to encode than the snappy default (~15%
    // on the write-bound path, Probe) at comparable ratio — backup is
    // write-once, read-rarely, so encode speed wins
    val spark = store.spark
    // Smaller input splits for the duration of the write: a melted
    // source scan EXPANDS ~10× through its generator (one input row →
    // one output row per predicate), so task sizing by input bytes
    // under-parallelizes by the same factor — a 25 MB source would
    // otherwise put 6M generated rows through 2 tasks.
    val tuned = Seq(
      "spark.sql.maxConcurrentOutputFileWriters" -> "32",
      "spark.sql.files.maxPartitionBytes" -> "8m",
      "spark.sql.files.openCostInBytes" -> "1m")
    graft.core.SessionConf.scoped(spark, tuned: _*) {
      // Bound the per-writer parquet row-group buffer: with ~10
      // concurrent partition writers per task × 32 tasks the DEFAULT
      // 128 MB block size asks for ~40 GB of buffer — parquet's
      // MemoryManager then throttles every writer ("Scaling row group
      // sizes", measured in the r8 bench log) and the write thrashes GC.
      // 8 MB × 320 writers ≈ 2.5 GB worst case, and backup partitions
      // are small enough that row-group size costs nothing on re-read.
      encKey.foreach { case (id, key) =>
        graft.core.Encryption.enable(spark, Map(id -> key))
      }
      val w0 = tripleFrame(store, only)
        .write.mode("overwrite").option("compression", "lz4")
        .option("parquet.block.size", (8L * 1024 * 1024).toString)
      val w = encKey.fold(w0) { case (id, _) =>
        graft.core.Encryption.writeOptions(id,
          Seq("subject", "objectUid", "value", "lang", "facets"))
          .foldLeft(w0) { case (acc, (k, v)) => acc.option(k, v) }
      }
      w.partitionBy("predicate").parquet(s"$dir/triples")
    }
    val manifest = formatSchema(store.schema).getBytes("UTF-8")
    encKey match {
      case Some((_, key)) => java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "schema.graft.enc"),
        graft.core.Encryption.gcmEncrypt(key, manifest))
      case None => java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "schema.graft"), manifest)
    }
  }

  /** Incremental backup `inc-N`: the CDC diff between the last backed-up
    * frame and the current one (op=set/delete change events).
    *
    * One full-outer join instead of two `except`s (same rationale as
    * CdcSink.diff): each `except` re-shuffles BOTH snapshots; the join
    * shuffles each side once for its distinct and reuses that
    * partitioning. Null-safe `<=>` keys preserve set semantics
    * (objectUid/value are null on the attr/edge side respectively).
    */
  def incremental(dir: String, n: Int, prev: DataFrame, cur: DataFrame): Unit = {
    val key = Seq("subject", "predicate", "objectUid", "value")
    val o = prev.select(key.map(col): _*).distinct().as("o")
    val c = cur.select(key.map(col): _*).distinct().as("c")
    val cond = key.map(k => col(s"o.$k") <=> col(s"c.$k")).reduce(_ && _)
    o.join(c, cond, "full_outer")
      .filter(col("o.subject").isNull.or(col("c.subject").isNull))
      .select(key.map(k => coalesce(col(s"c.$k"), col(s"o.$k")).as(k)) :+
        when(col("o.subject").isNull, lit("set")).otherwise(lit("delete")).as("op"): _*)
      .write.mode("overwrite").parquet(s"$dir/inc-$n")
  }

  /** Restore: read the full triples, replay incrementals in order,
    * rebuild the store from the manifest schema.
    */
  def restore(spark: SparkSession, dir: String,
      facetKeys: Map[String, Seq[(String, String)]] = Map.empty,
      encKey: Option[(String, Array[Byte])] = None): TripleFrameStore = {
    val (schema, triples, hadIncs) = restoreFrame(spark, dir, encKey)
    // materialize = false: the restored frame is parquet-backed and
    // predicate-partitioned — tablet views prune to their partition
    // directory instead of paying a full-store checkpoint
    new TripleFrameStore(spark, schema, triples, facetKeys,
      materialize = hadIncs)
  }

  /** The backup-series layout scan, shared by [[restoreFrame]] and the
    * /admin listBackups query so the two can never disagree on what
    * constitutes the series: STRICTLY `inc-<digits>` directories in
    * numeric order (an operator-made `inc-old/` or `inc-3.bak/` is not
    * part of the series and must not break either reader).
    */
  private val IncDirRe = """inc-(\d+)""".r
  def incrementalDirs(dir: String): Seq[(Int, java.io.File)] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .toSeq
      .flatMap(f => f.getName match {
        case IncDirRe(n) if f.isDirectory => Some(n.toInt -> f)
        case _ => None
      })
      .sortBy(_._1)

  /** Does `dir` hold a full backup (and is it encrypted)? The layout
    * contract [[full]] writes: a `triples` parquet dir plus the schema
    * manifest (plain or GCM-sealed). */
  def fullBackupAt(dir: String): Option[Boolean] = {
    val d = new java.io.File(dir)
    val enc = new java.io.File(d, "schema.graft.enc").isFile
    if (new java.io.File(d, "triples").isDirectory ||
        new java.io.File(d, "schema.graft").isFile || enc) Some(enc)
    else None
  }

  /** The restore pipeline's raw output — (manifest schema, melted triple
    * frame with incrementals replayed, whether any incremental applied).
    * Used by [[restore]] and by the /admin restore mutation, which swaps
    * the serving frame instead of wrapping a new store.
    */
  def restoreFrame(spark: SparkSession, dir: String,
      encKey: Option[(String, Array[Byte])] = None)
      : (SchemaRegistry, DataFrame, Boolean) = {
    encKey.foreach { case (id, key) =>
      graft.core.Encryption.enable(spark, Map(id -> key))
    }
    val encManifest = java.nio.file.Paths.get(dir, "schema.graft.enc")
    val payload = encKey match {
      case Some((_, key)) if java.nio.file.Files.exists(encManifest) =>
        new String(graft.core.Encryption.gcmDecrypt(key,
          java.nio.file.Files.readAllBytes(encManifest)), "UTF-8")
      case _ => new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, "schema.graft")), "UTF-8")
    }
    val (preds, types) = SchemaRegistry.parseAlter(payload)
    val schema = new SchemaRegistry(preds.map(p => p.name -> p).toMap,
      types.map(t => t.name -> t).toMap)
    var triples = spark.read.parquet(s"$dir/triples")
      .select(col("subject"), col("predicate"), col("objectUid"),
        col("value"), col("lang"), col("facets"))
    val incs = incrementalDirs(dir).map(_._2)
    incs.foreach { inc =>
      val delta = spark.read.parquet(inc.getAbsolutePath)
      val key = Seq("subject", "predicate", "objectUid", "value")
      val dels = delta.filter(col("op") === "delete")
        .select(key.map(c => col(c).as(s"__d_$c")): _*)
      val sets = delta.filter(col("op") === "set")
        .select(col("subject"), col("predicate"), col("objectUid"),
          col("value"), lit(null).cast("string").as("lang"),
          lit(null).cast("string").as("facets"))
      // null-safe keys: objectUid/value are null on the attr/edge side
      // respectively, and null == null must match for the delete to land
      val cond = key.map(c => col(c) <=> col(s"__d_$c")).reduce(_ && _)
      triples = triples.join(dels, cond, "left_anti").unionByName(sets)
    }
    (schema, triples, incs.nonEmpty)
  }
}
