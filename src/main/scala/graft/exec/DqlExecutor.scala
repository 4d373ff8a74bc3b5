package graft.exec

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.io.JsonStringEncoder
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference,
  Descending, InterpretedOrdering, NullsFirst, NullsLast, SortOrder}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType,
  StructField, StructType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{GraphStore, SessionConf, Uids}
import graft.dql._
import graft.functions.Lowercase
import graft.operators.Recurse

/** DQL block executor: AST → DataFrame plan over the TripleStore.
  *
  * Execution mirrors the reference's level-by-level model
  * (/root/reference/query/query.go:2156 ProcessGraph): the root function
  * seeds a uid frontier (an index scan), filters compose as semi/anti
  * joins over uid sets (the reference's IntersectSorted/Difference,
  * algo/uidlist.go), each traversal level is one equi-join against the
  * predicate's edge view, and leaves join the typed attribute tables.
  * All of it stays declarative — Catalyst sees one tree per block and
  * is free to reorder filters, choose broadcast sides, and prune scans.
  *
  * `flat` renders @normalize-style output (aliased leaf columns,
  * cartesian across levels — reference query/outputnode.go:921);
  * `jsonRows` renders the nested JSON shape (uid-sorted arrays) like
  * outputnode.go ToJson.
  */
final class DqlExecutor(ts: GraphStore) {
  private val session = ts.spark
  import session.implicits._

  private val schema = ts.schema

  /** Node types listing a predicate in the registry. Used only as a
    * frontier-identity hint for [[GraphStore.attrWide]] pruning — sound
    * where the store's data derives 1:1 from the registry (TripleStore,
    * the only attrWide implementor); stores without that invariant
    * return no wide groups, so the hint is inert there.
    */
  private def ownerTypes(pred: String): Set[String] =
    schema.types.values.collect {
      case t if t.predicates.contains(pred) => t.name
    }.toSet

  /** One bound variable (reference per-request var map,
    * query/query.go:1806 fillVars): uid vars are DF("uid"), value vars
    * DF("uid", "value"). Every bind makes a new Binding stating both of
    * its facts, so a rebind replaces them all at once.
    *
    * `uniqueUid`: the frame is PROVABLY unique per uid (an explicit
    * distinct/dropDuplicates/groupBy output, or a frame derived from a
    * unique seed by row-preserving ops). uid(v) over exactly one such var
    * skips its merge dedup — the distinct exists for multi-source unions
    * (guide §2.4: a distinct on already-unique data is an identity).
    *
    * `materialized`: `build` already yields a checkpoint-backed frame (a
    * select over the shared-rebind snapshot). Reading one must NOT stack
    * its own localCheckpoint — a lazy checkpoint of an AQE plan is its
    * own SQL execution, so the stack turned every var read of a
    * multi-var block into an extra driver job on top of the one snapshot
    * materialization (measured: dql_level_agg ran 5 such executions per
    * invocation for maps that are plain selects over cached partitions).
    *
    * Any other binding CHECKPOINTS ON FIRST READ: `build` runs, and is
    * lazily checkpointed, only when the var is consumed. Checkpointing
    * at BIND time was not lazy in practice: Dataset.localCheckpoint(
    * eager = false) on an AQE plan still executes every intermediate
    * query stage to produce the RDD, so each bound-but-never-read var ran
    * its full plan as its own SQL execution (measured: dql_level_agg
    * spent 5 of its 7 executions on binds whose initial frames were
    * replaced by the shared rebind before any read).
    */
  private final class Binding(build: => DataFrame, val uniqueUid: Boolean,
      materialized: Boolean) {
    lazy val frame: DataFrame =
      if (materialized) build else build.localCheckpoint(eager = false)
  }

  /** Blocks execute in written order; a var bound in an earlier block is
    * visible to later ones.
    */
  private val vars =
    scala.collection.mutable.LinkedHashMap.empty[String, Binding]

  /** A var's flat column in the block frame that bound it: the column
    * holding the value, the uid column of the level that bound it, and
    * whether the column is a PER-UID CONSTANT of that frame. The map
    * holds the CURRENT block's binds only ([[flatBlock]] clears it):
    * parent-level binds stay visible inside child projections (the
    * column rides the flat join), while a var of an earlier block is
    * read through its [[Binding]]. Level-based aggregation (reference
    * query/query.go:1042 evalLevelAgg) and in-place math reads use these.
    */
  private case class VarCol(column: String, uidCol: String, uidConst: Boolean)
  private val varCols = scala.collection.mutable.Map.empty[String, VarCol]

  /** Duplicate output keys at one selection level are a repeated
    * subgraph (reference TestMultipleSamePredicateInBlockFail1-3,
    * TestDuplicateAlias, TestMathVarCrash — `a as math(...)` plus
    * `val(a)` both render under val(a)).
    */
  private def validateSels(sels: Seq[Selection]): Unit = {
    val rendered = sels.filterNot(_.pred.startsWith("expand("))
    rendered.groupBy(jsonKey).find(_._2.size > 1).foreach { case (k, _) =>
      throw new IllegalArgumentException(s"Repeated subgraph: [$k]")
    }
    sels.foreach(s => validateSels(s.children))
  }

  /** Root functions must run on an index; inequalities additionally need
    * a SORTABLE one — hash/term/trigram/fulltext/bool are lookup-only
    * (reference worker/tokens.go pickTokenizer: TestHashTokGeqErr,
    * TestBoolIndexgeRoot, TestNonIndexedPredicateAtRoot). Filters over an
    * already-bound uid set read values directly and skip this check.
    */
  private def validateRootFn(fn: FuncCall): Unit = {
    if (fn.name == "uid_in")
      throw new IllegalArgumentException(": uid_in function not allowed at root")
    val needIndex = Set("eq", "le", "lt", "ge", "gt", "between")
    // inequalities take a single value — a list is an error
    // (reference TestMultipleGtError)
    if (Set("le", "lt", "ge", "gt").contains(fn.name) &&
        fn.args.length > 1)
      throw new IllegalArgumentException(
        s"Function ${fn.name} expects 1 argument, got ${fn.args.length}")
    // a ROOT count comparison walks the count index — the predicate
    // needs @count (reference TestDeleteAndReadCount: "Need @count
    // directive in schema for attr"); filter-position counts evaluate
    // per frontier uid and need no index
    if (fn.name.endsWith("_count")) {
      val cp = fn.pred.stripPrefix("~")
      schema.predicates.get(cp).foreach { ps =>
        if (!ps.count)
          throw new IllegalArgumentException(
            s"Need @count directive in schema for attr: $cp")
      }
      return
    }
    if (!needIndex(fn.name) || fn.pred.startsWith("val:") || fn.pred.isEmpty)
      return
    val (p, _) = langSplit(fn.pred)
    schema.predicates.get(p).foreach { ps =>
      if (ps.dgraphType != "uid") {
        if (ps.indexes.isEmpty)
          throw new IllegalArgumentException(s"Predicate $p is not indexed")
        // eq on a string predicate needs an equality-capable tokenizer;
        // trigram alone is lossy (regexp/match only) — reference
        // pickTokenizer rejects it (TestLangLossyIndex4)
        if (fn.name == "eq" &&
            (ps.dgraphType == "string" || ps.dgraphType == "default") &&
            !ps.indexes.exists(Set("exact", "hash", "term", "fulltext")))
          throw new IllegalArgumentException(
            s"Attribute $p does not have a valid tokenizer for eq")
        if (fn.name != "eq") {
          val sortable =
            Set("exact", "int", "float", "bigfloat", "year", "month",
              "day", "hour")
          if (!ps.indexes.exists(sortable.contains))
            throw new IllegalArgumentException(
              s"Predicate $p is not sortable with index " +
                ps.indexes.mkString(","))
        }
      }
    }
  }

  /** Empty-block root aggregation (`me() { sum(val(a)) }`, reference
    * TestAggregateRoot1-6): every selection must be an aggregation of a
    * bound value variable or math over such aggregates; each renders as
    * its OWN object, null results included. Aggregates collect on the
    * driver — a handful of scalars, never a data pass.
    */
  private def emptyBlockObjs(b: QueryBlock): Seq[String] = {
    val scalars = scala.collection.mutable.Map.empty[String, Option[Double]]
    def fmt(d: Double): String =
      if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else d.toString
    def evalMath(m: MathNode): Double = m match {
      case MathNum(v, _, _) => v
      case MathRef(n) => scalars.getOrElse(n,
        throw new IllegalArgumentException(
          "Only aggregated variables allowed within empty block."))
        .getOrElse(Double.NaN)
      case MathBin(op, l, r) =>
        val (a, c) = (evalMath(l), evalMath(r))
        op match {
          case "+" => a + c; case "-" => a - c; case "*" => a * c
          case "/" => a / c; case "%" => a % c
          // comparisons feed cond() — 1/0 like the reference's bool vals
          case "==" => if (a == c) 1 else 0
          case "!=" => if (a != c) 1 else 0
          case "<" => if (a < c) 1 else 0
          case ">" => if (a > c) 1 else 0
          case "<=" => if (a <= c) 1 else 0
          case ">=" => if (a >= c) 1 else 0
          case o => throw new IllegalArgumentException(s"bad root math op $o")
        }
      case MathFunc(f, args) =>
        val vs = args.map(evalMath)
        f match {
          case "min" => vs.min; case "max" => vs.max
          case "ln" => math.log(vs.head); case "exp" => math.exp(vs.head)
          case "sqrt" => math.sqrt(vs.head)
          case "floor" => math.floor(vs.head); case "ceil" => math.ceil(vs.head)
          // cond(c, t, f) — reference TestCondCondition's nextPosition
          case "cond" => if (vs.head != 0) vs(1) else vs(2)
          case o => throw new IllegalArgumentException(s"bad root math fn $o")
        }
    }
    b.selections.map { sel =>
      if (sel.aggOp.isDefined && sel.valRef.isDefined) {
        val vf = vars.getOrElse(sel.valRef.get,
          throw new IllegalArgumentException(
            s"Variable: [${sel.valRef.get}] used before definition.")).frame
        val src =
          if (vf.columns.contains("uid")) vf.dropDuplicates("uid") else vf
        if (src.schema("value").dataType
            .isInstanceOf[org.apache.spark.sql.types.ArrayType]) {
          // float32vector value var: min/max/sum/avg aggregate
          // ELEMENTWISE (reference TestGetVector — avg(val(a)) of
          // [1,1,2,2],[2,1,2,2] is [1.5,1,2,2]). posexplode + groupBy
          // position keeps the agg fully distributed; only the
          // dimension-sized result reaches the driver.
          val per = src.select(posexplode(col("value").cast("array<double>"))
            .as(Seq("__p", "__v")))
          val aggV = sel.aggOp.get match {
            case "min" => min(col("__v")); case "max" => max(col("__v"))
            case "sum" => sum(col("__v")); case "avg" => avg(col("__v"))
            case o => throw new IllegalArgumentException(s"bad root agg $o")
          }
          val parts = per.groupBy(col("__p")).agg(aggV.as("v"))
            .orderBy(col("__p")).collect().map(_.getDouble(1))
          // the result binds as a SCALAR (no-uid) vector var — the
          // reference's similar-by-id rewrite reads it back via
          // `similar_to(pred, k, val(v1))` and broadcast math
          // (graphql/resolve/query_rewriter.go:637)
          sel.varName.foreach { v =>
            scalars(v) = None
            bindVar(v, Seq(parts.toSeq).toDF("value"), uniqueUid = false)
          }
          s"""{"${jsonKey(sel)}":${parts.map(fmt).mkString("[", ",", "]")}}"""
        } else {
        val aggC = sel.aggOp.get match {
          case "min" => min(col("value")); case "max" => max(col("value"))
          case "sum" => sum(col("value")); case "avg" => avg(col("value"))
          case o => throw new IllegalArgumentException(s"bad root agg $o")
        }
        val row = src.agg(aggC.as("v")).collect().head
        val jsonV =
          if (row.isNullAt(0)) { sel.varName.foreach(scalars(_) = None); "null" }
          else row.get(0) match {
            case d: java.math.BigDecimal =>
              // bigfloat var agg renders its EXACT decimal digits
              // (reference TestBigFloatSum: sum of 5 bigfloat values is
              // "123520.2462462464320000000001" — a double round-trip
              // corrupts past the mantissa). Trailing zeros strip like
              // the reference's big.Float text rendering.
              sel.varName.foreach(scalars(_) = Some(d.doubleValue))
              val s = d.stripTrailingZeros
              if (s.scale <= 0) s.toBigInteger.toString else s.toPlainString
            case n: java.lang.Number =>
              sel.varName.foreach(scalars(_) = Some(n.doubleValue))
              fmt(n.doubleValue)
            case t: java.sql.Timestamp =>
              "\"" + t.toInstant.toString + "\""
            case other =>
              "\"" + other.toString.replace("\\", "\\\\")
                .replace("\"", "\\\"") + "\""
          }
        // the agg result is also a SCALAR value var readable later
        // (TestAggregateEmpty1 binds `highest as max(val(number))`)
        sel.varName.foreach { v =>
          bindVar(v,
            if (row.isNullAt(0)) Seq.empty[Double].toDF("value")
            else row.get(0) match {
              case n: java.lang.Number => Seq(n.doubleValue).toDF("value")
              case o => Seq(o.toString).toDF("value")
            },
            uniqueUid = false)
        }
        s"""{"${jsonKey(sel)}":$jsonV}"""
        }
      } else if (sel.pred == "math" && sel.mathExpr.isDefined) {
        val v = evalMath(sel.mathExpr.get)
        // scalar math in an empty block binds like an aggregate
        // (reference TestCondCondition: nextPosition as math(cond(...)))
        sel.varName.foreach { vn =>
          scalars(vn) = if (v.isNaN) None else Some(v)
          bindVar(vn,
            if (v.isNaN) Seq.empty[Double].toDF("value")
            else Seq(v).toDF("value"),
            uniqueUid = false)
        }
        val jsonV = if (v.isNaN) "null" else fmt(v)
        s"""{"${jsonKey(sel)}":$jsonV}"""
      } else throw new IllegalArgumentException(
        "Only aggregated variables allowed within empty block.")
    }
  }

  private def emptyBlock(b: QueryBlock): DataFrame = {
    emptyBlockObjs(b) // side effect: scalar var binds
    Seq.empty[Long].toDF("uid")
  }

  /** Bind a variable to a plan that is checkpointed ON FIRST READ (see
    * [[Binding]]): a consumed var's references all scan one materialized
    * (uid, value) set — mirroring the reference computing a var's
    * uid/value map once per request (query/query.go:1806 fillVars) —
    * while a var that is bound and then never read (or replaced by the
    * shared rebind) costs nothing.
    */
  private def bindVar(name: String, df: DataFrame, uniqueUid: Boolean): Unit =
    vars(name) = new Binding(df, uniqueUid, materialized = false)

  /** Execute all blocks in order; return the last non-`var` block. */
  def flat(query: String): DataFrame = flatAst(Parser.parse(query))

  /** queryWithVars (reference api.Request.Vars): `$var` references in
    * the document substitute from `vars` (falling back to declared
    * defaults) before execution.
    */
  def flatVars(query: String, vars: Map[String, String]): DataFrame =
    flatAst(Parser.parseWithVars(query, vars))

  /** Execute a pre-built AST (used by the GraphQL front-end, whose
    * rewriter emits this IR directly — SURVEY.md §3.2).
    */
  def flatAst(query: DqlQuery): DataFrame = {
    var result: DataFrame = null
    query.blocks.foreach { b =>
      val df = flatBlock(b)
      if (b.name != "var") result = df
    }
    require(result != null, "query has no result block")
    // datetime-instant riders are cross-level plumbing, not result schema
    result.drop(result.columns.filter(_.endsWith("__dtv")).toSeq: _*)
  }

  /** A bound query variable (uid var: DF("uid"); value var:
    * DF("uid","value")) — consumed by the upsert executor's @if/len and
    * template expansion (graft.operators.Upsert).
    */
  def variable(name: String): Option[DataFrame] = vars.get(name).map(_.frame)

  // ---- root pipeline ----

  /** Does any selection subtree of this block bind value variable `v`?
    * (Decides per-parent vs whole-block aggregation below.)
    */
  private def bindsVar(sels: Seq[Selection], v: String): Boolean =
    sels.exists(s => s.varName.contains(v) ||
      s.facetVars.exists(_._1 == v) || bindsVar(s.children, v))

  /** Reference recurse depth counts template applications INCLUDING the
    * root (TestRecurseQueryLimitDepth1: depth 2 = root + one hop); the
    * expansion operators count edge hops.
    */
  private def recurseHops(r: RecurseArgs): Int =
    if (r.depth == Int.MaxValue) r.depth else math.max(0, r.depth - 1)

  /** The node types of a uid frontier, sorted — what `expand(_all_)`
    * expands. A metadata-sized collect.
    */
  private def typesOf(frontier: DataFrame): Seq[String] =
    ts.nodeTypes.join(
        frontier.select(col("uid").as("subject")).distinct(),
        Seq("subject"), "left_semi")
      .select("typeName").distinct()
      .collect().map(_.getString(0)).sorted.toSeq

  /** expand(_all_)/expand(Type) inside a @recurse template: substitute
    * the type's predicates — uid preds drive the expansion, scalars
    * become per-level leaves (reference TestRecurseExpand walks the
    * SchoolInfo chain this way). `_all_` unions node types over the
    * REACHABLE cone (type-set fixpoint: expand the current types' uid
    * preds, walk, collect newly reached types, repeat — ≤ |types|
    * rounds, each a metadata-sized collect), matching the reference's
    * per-level recomputation on heterogeneous graphs.
    */
  private def expandRecurseSels(frontier: DataFrame, sels: Seq[Selection],
      hops: Int): Seq[Selection] =
    sels.flatMap { s =>
      if (!s.pred.startsWith("expand(")) Seq(s)
      else {
        val arg = s.pred.stripPrefix("expand(").stripSuffix(")")
        val typeNames =
          if (arg == "_all_") {
            var types = typesOf(frontier)
            var done = false
            while (!done) {
              val uidPreds = types.flatMap(schema.predicatesOfType)
                .distinct.filter(schema.isUidPredicate)
              if (uidPreds.isEmpty) done = true
              else {
                val edges = uidPreds.map(pn => ts.edge(pn)
                    .select(col("subject"), col("object"), lit(pn).as("pred")))
                  .reduce(_ unionByName _)
                val tree = graft.operators.Recurse.expandTree(
                  frontier.select(col("uid").as("start")), edges,
                  math.min(hops, 50), loop = false)
                val nt = typesOf(tree.select(col("node").as("uid")).distinct())
                if ((nt.toSet -- types.toSet).isEmpty) done = true
                else types = (types ++ nt).distinct.sorted
              }
            }
            types
          } else Seq(arg)
        typeNames.flatMap(schema.predicatesOfType).distinct.sorted
          .filterNot(p => schema.predicates.get(p)
            .exists(_.dgraphType == "password"))
          .map(p => Selection(None, p))
      }
    }

  /** A selection that walks an edge: a uid predicate, forward or
    * reverse, that is not counted. In a `@recurse` template every other
    * known selection is a per-level leaf.
    */
  private def isEdge(s: Selection): Boolean =
    !s.isCount && (schema.isUidPredicate(s.pred) || s.reverse)

  /** A resolved `@recurse` template: its known selections in query
    * order (`uid` and unknown predicates dropped) and the walk over its
    * edges — None when nothing is walked (no uid predicate, or 0 hops).
    */
  private final class RecurseTemplate(val sels: Seq[Selection],
      val tree: Option[DataFrame]) {
    def edges: Seq[Selection] = sels.filter(isEdge)
    /** The scalar leaves of the flat and JSON outputs (count leaves
      * render in RDF only).
      */
    def leaves: Seq[Selection] = sels.filterNot(s => isEdge(s) || s.isCount)
  }

  /** The `@recurse` template builder of the flat, JSON and RDF outputs:
    * the reference re-applies a one-level child template per level
    * (query/recurse.go:19 expandRecurse). Checks the template, expands
    * `expand()`, unions the uid predicates' edges — each tagged
    * `tag(selection, index in sels)` in column `pred` — walks them from
    * `starts` (a per-root [[Recurse.expandTree]] unless `walk` says
    * otherwise), and binds the template's vars over `roots` (column
    * `uid`) and the walk.
    */
  private def recurseTemplate(roots: DataFrame, template: Seq[Selection],
      r: RecurseArgs, starts: => DataFrame,
      tag: (Selection, Int) => String = (s, _) => jsonKey(s))(
      walk: (DataFrame, DataFrame) => DataFrame =
        Recurse.expandTree(_, _, recurseHops(r), r.loop)): RecurseTemplate = {
    val hops = recurseHops(r)
    // the template is ONE level — nested braces are rejected (reference
    // query/recurse.go: "recurse queries require that all predicates are
    // specified in one level", TestRecurseNestedError1/2)
    if (template.exists(_.children.nonEmpty))
      throw new IllegalArgumentException(
        "recurse queries require that all predicates are specified in one level")
    val all = expandRecurseSels(roots, template, hops)
    // a predicate both explicit and produced by expand() is a repeated
    // subgraph (reference TestRecurseExpandRepeatedPredError)
    if (template.exists(_.pred.startsWith("expand("))) {
      val dups = all.groupBy(_.pred).collect {
        case (p, ss) if ss.size > 1 => p }.toSeq.sorted
      if (dups.nonEmpty)
        throw new IllegalArgumentException(
          s"Repeated subgraph: [${dups.head}] while using expand()")
    }
    // unknown predicates are legal and ignored (reference
    // TestRecurseQuery selects nonexistent_pred); `uid` renders no leaf
    val sels = all.filter(s => s.pred != "uid" &&
      (s.isCount || schema.predicates.contains(s.pred)))
    val tagged = sels.zipWithIndex.collect {
      case (s, i) if isEdge(s) => s -> tag(s, i) }
    val tree =
      if (tagged.isEmpty || hops == 0) None
      else {
        val edges = tagged.map { case (s, t) =>
          val e0 = if (s.reverse) ts.reverseEdge(s.pred) else ts.edge(s.pred)
          // `friend @filter(...)`: the re-applied child template keeps its
          // filter — targets failing it are neither returned nor expanded
          val e = s.filter.map(f => applyFilter(e0, "object", f)).getOrElse(e0)
          e.select(col("subject"), col("object"), lit(t).as("pred"))
        }.reduce(_ unionByName _)
        // a filtered edge template embeds semi-joins that would otherwise
        // re-execute on EVERY level's job; materialize the filtered frame
        // once (lazy checkpoint — level 1's action pays for it)
        Some(walk(starts,
          if (tagged.exists(_._1.filter.isDefined)) edges.localCheckpoint(false)
          else edges))
      }
    // template vars (reference TestRecurseVariable*): `a as friend` =
    // that predicate's targets across every level; `a as uid` = root
    // plus everything reached; `a as name` = the per-uid value map over
    // the same node set
    if (all.exists(_.varName.isDefined)) {
      val allNodes = tree.foldLeft(roots.select(col("uid"))) { (u, t) =>
        u.unionByName(t.select(col("node").as("uid"))) }.distinct()
      all.foreach { s =>
        s.varName.foreach { v =>
          val i = sels.indexOf(s)
          if (s.pred == "uid") bindVar(v, allNodes, uniqueUid = true)
          else if (i >= 0 && isEdge(s))
            bindVar(v, tree.fold(allNodes.limit(0)) { t =>
                t.filter(col("pred") === tag(s, i))
                  .select(col("node").as("uid")).distinct() },
              uniqueUid = true)
          else if (i >= 0 && !s.isCount)
            bindVar(v, ts.attr(s.pred)
                .join(allNodes.select(col("uid").as("subject")),
                  Seq("subject"), "left_semi")
                .select(col("subject").as("uid"), col("value")),
              uniqueUid = false)
        }
      }
    }
    new RecurseTemplate(sels, tree)
  }

  /** Attr rows for recurse/flat scalar leaves with the scalar read's
    * lang rule: an unchained read of a @lang predicate takes the
    * UNTAGGED value only (reference TestQueryEmptyDefaultNames — a
    * node with just `name@en` has no bare `name`); a single concrete
    * chain takes that variant.
    */
  private def attrLeaf(s: Selection): DataFrame = {
    val rows = ts.attr(s.pred)
    if (!rows.columns.contains("lang") ||
        !schema.predicates.get(s.pred).exists(_.lang)) rows
    else s.langChain match {
      case Seq(l) if l != "." && l != "*" => rows.filter(col("lang") === l)
      case Nil => rows.filter(col("lang").isNull)
      case _ => rows
    }
  }

  /** expand(_all_)/expand(Type) in a PLAIN block: substitute one
    * concrete selection per predicate of the frontier's types BEFORE
    * projection, so expanded predicates ride the full scalar machinery —
    * lang-variant keys, list arrays, and facet riders (the reference
    * fetches facets on expanded predicates, TestFacetsWithExpand). Uid
    * predicates expand only when the clause carries a child template.
    */
  private def expandPredSels(frontier: => DataFrame,
      sels: Seq[Selection]): Seq[Selection] = {
    // an explicit password-typed selection next to expand(_all_) is a
    // repeated subgraph in the reference (TestPasswordExpandError — the
    // expansion carries the pred internally even though it never renders)
    if (sels.exists(_.pred.startsWith("expand(")))
      sels.find(s => !s.pred.startsWith("expand(") &&
          schema.predicates.get(s.pred).exists(_.dgraphType == "password") &&
          s.checkPwd.isEmpty)
        .foreach(s => throw new IllegalArgumentException(
          s"Repeated subgraph: [${s.pred}]"))
    sels.flatMap { s =>
      if (!s.pred.startsWith("expand(")) Seq(s)
      else {
        val arg = s.pred.stripPrefix("expand(").stripSuffix(")")
        // expand(val(x)): the variable's VALUES are the predicate names
        // to expand (reference TestExpandVal) — metadata-sized collect
        val predNames =
          if (arg.startsWith("val:"))
            Some(vars(arg.drop(4)).frame.select(col("value")).distinct()
              .collect().map(_.get(0).toString).sorted.toSeq)
          else None
        val typeNames =
          if (predNames.isDefined) Nil
          else if (arg == "_all_") typesOf(frontier)
          // expand(T1, T2): union of the named types' predicates
          // (reference TestTypeExpandMultipleExplicitTypes)
          else arg.split(",").map(_.trim).toSeq
        predNames.getOrElse(
          typeNames.flatMap(schema.predicatesOfType).distinct.sorted)
          .flatMap { p0 =>
          val rev = p0.startsWith("~")
          val p = p0.stripPrefix("~")
          if (!schema.predicates.contains(p)) None
          else if (schema.isUidPredicate(p) || rev)
            // `expand(_all_) @filter(...)` filters the expanded edge
            // TARGETS (reference TestTypeFilterAtExpand)
            (if (s.children.nonEmpty)
               Some(Selection(None, p, reverse = rev, children = s.children,
                 filter = s.filter))
             else None): Option[Selection]
          else if (s.filter.isDefined)
            // a filtered expand keeps only edge expansions — scalar
            // predicates have no target to filter and drop entirely
            // (TestTypeFilterAtExpand renders no make/model/year)
            None
          else if (schema.pred(p).dgraphType == "password")
            // expand never surfaces password values (reference
            // TestPasswordExpandAll1: type User lists password, the
            // expansion output omits it)
            None
          else Some(Selection(None, p,
            // riders only where the schema says they can exist: a facet
            // fetch on a facet-less predicate (and a lang chain on an
            // untagged one) widens every expanded branch's plan for
            // columns that are provably all-null
            facetFetch = ts.facetKeys.contains(p),
            langChain = if (schema.pred(p).lang) Seq("*") else Nil))
        }
      }
    }
  }

  private def hasExpand(sels: Seq[Selection]): Boolean =
    sels.exists(s => s.pred.startsWith("expand(") || hasExpand(s.children))

  /** Rewrite every `expand(...)` in the selection TREE against the
    * frontier of its own level (reference expandSubgraph re-derives the
    * type set per level — TestNestedExpandAll's level-2 expand sees the
    * level-2 frontier). Each nested level's frontier is a uids-only
    * edge hop — metadata-scale type lookups, not a data pass; computed
    * lazily so expand-free subtrees never touch it.
    */
  private def rewriteExpands(frontier: => DataFrame,
      sels: Seq[Selection]): Seq[Selection] = {
    if (!hasExpand(sels)) return sels
    lazy val f = frontier
    val top =
      if (sels.exists(_.pred.startsWith("expand(")))
        expandPredSels(f, sels)
      else sels
    top.map { s =>
      if (hasExpand(s.children) &&
          (s.reverse || (schema.predicates.contains(s.pred) &&
            schema.isUidPredicate(s.pred)))) {
        val tgt = if (s.reverse) ts.reverseEdge(s.pred) else ts.edge(s.pred)
        val nf = f.select(col("uid").as("subject"))
          .join(tgt.select(col("subject"), col("object")), Seq("subject"))
          .select(col("object").as("uid")).distinct()
        s.copy(children = rewriteExpands(nf, s.children))
      } else s
    }
  }

  /** `pred@*` ExpandAll rewrite (reference query/query.go:945): replace
    * the selection with one concrete selection per lang variant present
    * in the data — `pred@tag` per tag plus plain `pred` for untagged.
    * The tag inventory is schema-scale metadata (a handful of langs per
    * predicate), safe to collect. Idempotent: expanded selections carry
    * concrete chains.
    */
  private def expandStarSels(sels: Seq[Selection]): Seq[Selection] =
    sels.flatMap { s0 =>
      val s = if (s0.children.nonEmpty)
        s0.copy(children = expandStarSels(s0.children)) else s0
      if (s.langChain == Seq("*") && schema.predicates.contains(s.pred) &&
          !schema.isUidPredicate(s.pred)) {
        val base = ts.attr(s.pred)
        if (!base.columns.contains("lang")) Seq(s.copy(langChain = Nil))
        else {
          val tags = base.select(col("lang")).distinct().collect()
            .map(r => Option(r.getString(0))).toSeq.sortBy(_.getOrElse(""))
          tags.map {
            case None => s.copy(langChain = Nil)
            case Some(t) => s.copy(langChain = Seq(t),
              // an alias spreads per tag: `t: text@*` → t@en, t@fr …
              // (reference fieldNameWithTag, outputnode.go:1560)
              alias = s.alias.map(a => s"$a@$t"))
          }
        }
      } else Seq(s)
    }

  /** `expand(...)` and `pred@*` rewritten to concrete per-predicate and
    * per-tag selections, so the flat columns and the render keys line
    * up (idempotent). A @recurse template expands per level instead.
    */
  private def rewriteBlock(b: QueryBlock): QueryBlock = {
    val b0 =
      if (b.recurse.isEmpty && hasExpand(b.selections))
        b.copy(selections = rewriteExpands(rootFrontier(b), b.selections))
      else b
    if (b0.selections.exists(sx => sx.langChain == Seq("*") ||
        sx.children.nonEmpty))
      b0.copy(selections = expandStarSels(b0.selections))
    else b0
  }

  /** The block's root uid set before its order and page: the root
    * function's seed (`seed` when given), then the block's filter. Every
    * output — flat, JSON and RDF — starts from it.
    */
  private def rootFrontier(b: QueryBlock,
      seed: Option[DataFrame] = None): DataFrame =
    b.filter.foldLeft(seed.getOrElse(seedUids(b.func)))(applyFilter(_, "uid", _))

  /** A `@recurse` block's roots: the root frontier in the block's order
    * and page — the reference runs ProcessGraph on the root before it
    * expands (query/recurse.go:19 expandRecurse).
    */
  private def recurseRoots(frontier: DataFrame, b: QueryBlock): DataFrame =
    orderAndPage(frontier, "uid", b.order, b.page)

  /** The uids of `roots` (a [[recurseRoots]] frame) in output order: the
    * block's order, else uid order. One collect.
    */
  private def rootOrder(roots: DataFrame, b: QueryBlock): Seq[Long] = {
    val us = roots.select(col("uid")).collect().toSeq.map(_.getLong(0))
    if (b.order.isEmpty) us.sorted else us
  }

  /** `f as var(func: ...)`: the block's root uid set becomes uid var f
    * (reference block-level var assignment, query/query.go fillVars);
    * the block's own order/pagination restricts the bound set
    * (TestGeneratorMultiRootVarOrderOffset). `frontier` is the block's
    * filtered seed.
    */
  private def bindBlockVar(b: QueryBlock, frontier: DataFrame): Unit =
    b.blockVar.foreach { v =>
      // unique: seedUids' contract (distinct or provably unique seed);
      // filters and orderAndPage only drop/order rows, never fan them
      bindVar(v,
        if (b.order.nonEmpty || b.page.first.isDefined ||
            b.page.offset.isDefined || b.page.after.isDefined)
          orderAndPage(frontier, "uid", b.order, b.page)
        else frontier,
        uniqueUid = true)
    }

  /** Evaluate one block to its flat frame. `childRanks` keeps each
    * traversal's per-parent child order as `<edge column>__rn`, which
    * the JSON and RDF renderers order child arrays and edge lines by.
    */
  private def flatBlock(b0: QueryBlock, childRanks: Boolean = false): DataFrame = {
    validateSels(b0.selections)
    if (b0.func.name == "empty") return emptyBlock(b0)
    val b = rewriteBlock(b0)
    varCols.clear()
    b.shortest.foreach { sa => return shortestBlock(b, sa) }
    // val-seeded val-ordered root (`func: ge(val(v), x), orderdesc:
    // val(v)`): the seed scan of the var map already carries the sort
    // key — keep it as __ov0 so orderAndPage skips re-joining the map
    // (one scan + TakeOrdered instead of dedup + self-join). Guarded to
    // the plain projection shape: any consumer that re-reads the
    // frontier as a uid set (block vars, cascade re-pagination,
    // groupby) gets the generic path.
    val preOrderedVal = b.recurse.isEmpty && !b.cascade &&
      b.blockVar.isEmpty && b.func.pred.startsWith("val:") &&
      b.order.size == 1 && b.order.head.pred == b.func.pred &&
      !b.selections.exists(_.groupby.nonEmpty)
    val frontier = rootFrontier(b,
      if (preOrderedVal)
        // __ov0 is consumed (and dropped) by orderAndPage; the
        // __seedval_ rider survives pagination so a `val(v)` selection
        // of the SAME var reads it in place (project drops it after)
        Some(valSeedRows(b.func).select(col("uid"), col("value").as("__ov0"),
          col("value").as(s"__seedval_${b.func.pred.drop(4)}")))
      else None)
    bindBlockVar(b, frontier)

    b.recurse match {
      case Some(r) =>
        // @recurse: same template re-applied per level. Uid predicates
        // drive the expansion; scalar predicates are leaves fetched for
        // EVERY reached node including the root (the reference re-applies
        // the full child template each level, query/recurse.go:19
        // expandRecurse — `{ name friend }` under @recurse returns names
        // at every depth, not bare uids).
        val rootUids = recurseRoots(frontier, b)
        lazy val seeds = rootUids.select(col("uid").as("start"))
        val t = recurseTemplate(rootUids, b.selections, r, seeds)()
        // depth 0 = the template applied to the root itself
        lazy val roots = rootUids.select(col("uid").as("start"),
          col("uid").as("node"), lit(0).as("depth"))
        // the flat contract: one row per (start, node) at its first-reach
        // depth, seeds excluded (re-rendered occurrences of seen nodes
        // collapse; with loop every level's occurrence stays)
        val reached = t.tree.fold(roots.limit(0)) { tree =>
          if (r.loop)
            tree.select(col("start"), col("node"), col("depth")).distinct()
          else tree.groupBy(col("start"), col("node"))
            .agg(min(col("depth")).as("depth"))
            .join(seeds.select(col("start"), col("start").as("node")),
              Seq("start", "node"), "left_anti")
        }
        val scalars = t.leaves
        if (scalars.isEmpty) reached
        else scalars.foldLeft(roots.unionByName(reached)) { (acc, s) =>
            val leaf = attrLeaf(s).select(col("subject").as("node"),
              col("value").as(s.alias.getOrElse(s.pred)))
            acc.join(leaf, Seq("node"), "left")
          }.select(Seq(col("start"), col("node"), col("depth")) ++
            scalars.map(s => col(s.alias.getOrElse(s.pred))): _*)
      case None if b.groupby.nonEmpty =>
        // root-level @groupby, flat surface: group the frontier itself
        groupbyGroups(frontier.select(col("uid").as("__t")), b.groupby,
            b.selections)
          .map(g => g.select(
            b.groupby.map(k => qcol(s"__k_${k.outName}").as(k.outName)) ++
              b.selections.map(c => qcol(s"__a_${c.outName}").as(c.outName)): _*))
          .getOrElse(throw new IllegalArgumentException(
            s"@groupby over unknown predicate(s): ${b.groupby.map(_.pred)}"))
      case None if b.selections.exists(_.groupby.nonEmpty) =>
        // each @groupby selection binds its group vars; the last one is
        // the block's flat output (non-groupby siblings contribute
        // nothing to a grouped block's flat surface — reference
        // processGroupBy clears sg.Children)
        b.selections.filter(_.groupby.nonEmpty)
          .map(s => groupbyBlock(frontier, s)).last
      case None if b.selections.exists(sel =>
          (sel.aggOp.isDefined &&
            !sel.valRef.exists(bindsVar(b.selections, _))) ||
          (sel.isCount && sel.pred == "uid")) =>
        // whole-block aggregation — but an agg over a var bound by THIS
        // block's own traversal (`friend { x as age } n as min(val(x))`)
        // is PER-PARENT (reference evalLevelAgg) and stays in project().
        // Pagination applies to the frontier FIRST: `func: has(p),
        // first: 3 { f as count(uid) }` counts the page, not the match
        // set (reference TestCountUidToVar)
        aggregateBlock(orderAndPage(frontier, "uid", b.order, b.page), b)
      case None =>
        // @cascade(f1, f2) — parameterized: ONLY the listed fields are
        // mandatory; everything else keeps left-join semantics. Runs as
        // a plain (non-cascade) projection plus a null filter on the
        // named columns — row-level nulls are exactly the missed joins.
        // @cascade(__all__) is the reference's spelling of the plain
        // directive (systest TestCascadeParams) — normalize to full
        val cFields =
          if (b.cascadeFields.contains("__all__")) Nil else b.cascadeFields
        val paramCascade = b.cascade && cFields.nonEmpty
        val fullCascade = b.cascade && cFields.isEmpty
        val paged =
          if (b.cascade) frontier // paginate after cascade pruning (below)
          else orderAndPage(frontier, "uid", b.order, b.page,
            keepValRiders = true)
        // root-type elimination precondition: the projected frame must
        // be EXACTLY the raw type(T) node set — any filter, ordering, or
        // page restricts it, and the ignoreReflex chain needs real
        // frontier rows
        val bareTypeRoot =
          if (b.func.name == "type" && b.func.args.isEmpty &&
              b.filter.isEmpty && b.order.isEmpty &&
              b.page.first.isEmpty && b.page.offset.isEmpty &&
              b.page.after.isEmpty && !b.cascade && !b.ignoreReflex)
            Some(b.func.pred)
          else None
        // frontier identity from the root function: a typed root is its
        // type; an attribute root's subjects live in the predicate's
        // owner types (a store-layout fact attrWide may prune on); uid
        // roots say nothing
        val rootFrontierTypes: Set[String] = b.func.name match {
          case "type" => Set(b.func.pred)
          case "uid" | "uid_in" => Set.empty
          case _ if b.func.pred.nonEmpty => ownerTypes(b.func.pred)
          case _ => Set.empty
        }
        val projected0 = project(paged, "uid", b.selections, fullCascade, "",
          childRanks, if (b.ignoreReflex) Some(Nil) else None,
          detached = b.name == "var" && !b.cascade,
          cascadeFields = cFields, rootType = bareTypeRoot,
          frontierTypes = rootFrontierTypes,
          // the uid var can ride the shared snapshot only when nothing
          // restricts or re-derives its bound set after this pass: no
          // order/page (they page the BOUND set at bind time above), no
          // cascade (survivors re-bind below), no reflex chain
          blockUidVar = b.blockVar.filter(_ => b.order.isEmpty &&
            b.page.first.isEmpty && b.page.offset.isEmpty &&
            b.page.after.isEmpty && !b.cascade && !b.ignoreReflex))
        val projected =
          if (!paramCascade) projected0
          else {
            // validate at rewrite time: a name matching no top-level
            // selection would otherwise surface as an opaque
            // unresolved-column AnalysisException mid-plan
            val need = cFields.map { f =>
              b.selections.find(s => s.outName == f || s.pred == f ||
                  s.alias.contains(f))
                .map(_.outName).getOrElse(throw new IllegalArgumentException(
                  s"@cascade($f): no top-level selection named '$f' " +
                    s"(have: ${b.selections.map(_.outName).mkString(", ")})"))
            }
            projected0.filter(need.map(c => qcol(c).isNotNull).reduce(_ && _))
          }
        if (b.cascade) {
          // @cascade drops roots missing any branch (inner joins), then
          // pagination re-applies on the survivors
          // (reference query/query.go:663, 1425-1443)
          val survivors = orderAndPage(
            projected.select(col("uid")).distinct(), "uid", b.order, b.page)
          // `X as var(...) @cascade {...}` binds the SURVIVORS — the
          // GraphQL auth rewrite's cascaded-path rule depends on the var
          // holding only nodes where the full path exists (reference
          // auth var-chain rewrite); re-bind over the eager pre-cascade
          // binding above
          b.blockVar.foreach(v => bindVar(v, survivors, uniqueUid = true))
          projected.join(survivors, Seq("uid"), "left_semi")
        } else projected
    }
  }

  /** The shortest template's edge selections: non-uid predicates are
    * legal and contribute no edges (reference walks only uid preds —
    * TestShortestPathWithUidVariable selects `password` too).
    */
  private def shortestSels(b: QueryBlock): Seq[Selection] =
    b.selections.filter(s => s.reverse || schema.isUidPredicate(s.pred))

  /** The shortest block's lazy weighted edge union, tagged with each
    * edge's predicate key (for `_path_` rendering).
    */
  private def shortestEdges(b: QueryBlock): DataFrame =
    shortestSels(b).map { s =>
      val e0 = if (s.reverse) ts.reverseEdge(s.pred) else ts.edge(s.pred)
      // a per-predicate @filter prunes edges by TARGET before the walk
      // (reference TestShortestPath_filter: path edges into "alice"
      // nodes are not traversable)
      val e = s.filter.map(f => applyFilter(e0, "object", f)).getOrElse(e0)
      // weight from the TYPED facet column when present: the string map
      // would be rebuilt on every cone-discovery pass over the lazy
      // branches, while _ft_<key> is a plain source column
      // facet weights are DOUBLES (reference shortest.go float weights;
      // TestKShortestPathWeighted sums 0.1s to 0.30000000000000004) and
      // an edge MISSING the weight facet is not traversable (the golden
      // keeps only the fully-faceted route)
      val w = s.facetKeys.headOption.map { k =>
        if (e.columns.contains(s"_ft_$k")) col(s"_ft_$k").cast("double")
        else element_at(col("facets"), k).cast("double")
      }.getOrElse(lit(1.0))
      val base = e.select(col("subject").as("src"), col("object").as("dst"),
        w.as("w"), lit(jsonKey(s)).as("pred"))
      if (s.facetKeys.nonEmpty) base.filter(col("w").isNotNull) else base
    }.reduce(_ unionByName _)

  /** `shortest(from, to, numpaths)` block: the selections name the edge
    * predicates to walk; `@facets(w)` on a selection makes facet `w` the
    * edge weight (reference query/shortest.go:105), default weight 1.
    * Output is (rank, dist, path); a `sp as shortest(...)` binding makes
    * `sp` the uid set of the BEST path's nodes for later `uid(sp)` blocks
    * (the reference exposes the same via the path variable).
    */
  private def shortestBlock(b: QueryBlock, sa: ShortestArgs): DataFrame = {
    // expand() has no meaning inside shortest — the walk needs a fixed
    // edge set (reference TestShortestPath_ExpandError)
    if (b.selections.exists(_.pred.startsWith("expand(")))
      throw new IllegalArgumentException(
        "expand() is not allowed inside a shortest block")
    // at most ONE weight facet per edge template (reference
    // TestShortestPathWeightsMultiFacet_Error)
    b.selections.find(_.facetKeys.size > 1).foreach { s =>
      throw new IllegalArgumentException(
        s"shortest: only one facet key allowed on ${s.pred}, " +
          s"got ${s.facetKeys.mkString(", ")}")
    }
    // `from: uid(a)` endpoints resolve to exactly one uid — a
    // driver-side metadata read, same as the reference's var expansion
    // (query3 TestShortestPathWithUidVariable / ...Error)
    def endpoint(lit0: Long, varName: Option[String], side: String): Option[Long] =
      varName match {
        case None => Some(lit0)
        case Some(n) =>
          val v = vars.getOrElse(n, throw new IllegalArgumentException(
            s"shortest $side: uid variable '$n' is not bound")).frame
          val us = v.select(col("uid")).distinct().limit(2).collect()
          require(us.length <= 1,
            s"shortest $side: uid($n) must hold at most one uid, found ${us.length}")
          // an EMPTY endpoint variable means no route exists — the
          // reference renders no _path_ at all (LDBC IC13 golden)
          us.headOption.map(_.getLong(0))
      }
    val (saFrom, saTo) = (endpoint(sa.from, sa.fromVar, "from"),
        endpoint(sa.to, sa.toVar, "to")) match {
      // depth: 0 loads no adjacency at all — no route, even a direct
      // edge (reference TestShortestPathWithDepth depth_0 subcases)
      case (Some(f), Some(t)) if sa.depth > 0 => (f, t)
      case _ =>
        b.blockVar.foreach(v => bindVar(v,
          Seq.empty[Long].toDF("uid"), uniqueUid = false))
        return Seq.empty[(Int, Double, String)].toDF("rank", "dist", "path")
    }
    // the weighted union stays LAZY — cone discovery streams broadcast
    // semi-joins over the per-predicate branch scans, so the full union
    // is never materialized (checkpointing ~1.3M wide rows to find a
    // 10²-edge cone was the dominant cold cost of every shortest query)
    // the cache key carries per-edge @filter structure too — a filtered
    // walk must never reuse an unfiltered cone (TestShortestPath_filter2)
    val sig = shortestSels(b).map(s =>
      s"${if (s.reverse) "~" else ""}${s.pred}:${s.facetKeys.headOption.getOrElse("1")}" +
        s.filter.map(f => s":$f").getOrElse(""))
      .mkString("shortest|", ",", "")
    val edges0 = shortestEdges(b).select(col("src"), col("dst"), col("w"))
    // only the (tiny) cone is materialized, cached per session by
    // (edge set, source, depth) so shortest and shortest-k blocks from
    // the same source skip the iterative discovery. @ignorereflex does
    // NOT key the cache: a self-loop never adds a node to a forward
    // cone, so the reached set is identical — discover once, drop the
    // self-loop edges from the shared result afterwards.
    // reference depth semantics (shortest.go:305 maxHops expansion
    // rounds; TestKShortestPathTwoPaths vs TestKShortestPathDepth):
    // round r loads the out-edges of every node SEEN so far, so usable
    // edges leave nodes discovered within depth-1 BFS hops, and a
    // returned route may run depth+1 hops ("the length of the path can
    // be greater than numHops", shortest.go:594)
    val cone0 = ts.derived(s"$sig|cone:$saFrom:${sa.depth}") {
      graft.operators.ShortestPath.forwardCone(
        ts.spark, edges0, saFrom, math.max(0, sa.depth - 1)).localCheckpoint()
    }
    val cone =
      if (sa.ignoreReflex) cone0.filter(col("src") =!= col("dst")) else cone0
    val paths = graft.operators.ShortestPath.kShortestPaths(
      ts.spark, saFrom, saTo, cone, sa.numpaths, sa.depth + 1, preConed = true,
      minW = sa.minweight, maxW = sa.maxweight)
    b.blockVar.foreach { v =>
      // the path variable keeps ROUTE ORDER (reference: blocks seeded
      // from it render nodes in path order, TestShortestPathRev golden);
      // consumers that only select `uid` are unaffected
      bindVar(v, paths.filter(col("rank") === 1)
        .select(posexplode(split(col("path"), "->")).as(Seq("__ord", "u")))
        .select(col("u").cast("long").as("uid"), col("__ord"))
        .groupBy(col("uid")).agg(min(col("__ord")).as("__ord")),
        uniqueUid = true)
    }
    paths
  }

  /** (uid, value) rows of a value-var comparison seed — the value column
    * rides along so a val-ordered root can reuse it as its sort key.
    */
  private def valSeedRows(fn: FuncCall): DataFrame = {
    val v = vars(fn.pred.drop(4)).frame
    val litC = lit(fn.args.head).cast(v.schema("value").dataType)
    val cmp: Column = fn.name match {
      case "eq" => col("value") === litC
      case "le" => col("value") <= litC
      case "lt" => col("value") < litC
      case "ge" => col("value") >= litC
      case "gt" => col("value") > litC
      case o => throw new IllegalArgumentException(s"unsupported val fn $o")
    }
    v.filter(cmp)
  }

  /** The root function's uid set, unique per uid: every [[seed0]]
    * branch dedups its own output or is unique by construction.
    */
  private def seedUids(fn: FuncCall): DataFrame = {
    validateRootFn(fn)
    seed(fn).select(col("uid"))
  }

  /** Root/filter function → DataFrame of matching subjects (col "uid").
    * The reference's index-scan dispatch (worker/task.go:210); here every
    * "index" is a filtered attribute/edge view that Catalyst pushes into
    * the parquet scan.
    *
    * Every branch returns each uid at most once: it dedups its own rows,
    * or they are unique by construction (uid() over one unique var;
    * nodeTypes is one row per (subject, type); value vars are per-uid
    * maps; count seeds are groupBy outputs; [[attrWhere]] is unique by
    * its postcondition), so a root seed needs no dedup of its own.
    */
  private def seed(fn: FuncCall): DataFrame = {
    // `uid` is not an attribute — every non-uid() function rejects it
    // (reference TestUidAttr: ge/eq/has/anyoftext/regexp/match/uid_in
    // on `uid` all error)
    if (fn.name != "uid" && langSplit(fn.pred)._1.stripPrefix("~") == "uid")
      throw new IllegalArgumentException("Argument cannot be \"uid\"")
    seed0(fn)
  }

  private def seed0(fn: FuncCall): DataFrame = fn.name match {
    case "uid" =>
      // uid(x, 0x2, ...): mix of bound variables and literal uids
      // (reference uid(v1, v2) union semantics, query/query.go:2178)
      val (varRefs, lits) = fn.args.partition(vars.contains)
      lits.find(a => !a.matches("(0x[0-9a-fA-F]+|\\d+)")).foreach { bad =>
        throw new IllegalArgumentException(
          s"uid($bad): not a literal uid and no variable '$bad' is bound " +
            s"(bound: ${vars.keys.mkString(", ")})")
      }
      val dfs = varRefs.map { v =>
        val vf = vars(v).frame
        if (vf.columns.contains("uid")) vf.select(col("uid"))
        else
          // a SCALAR var (`f as count(uid)`) lives under the sentinel
          // key MaxUint64 in the reference's aggregate var map — so
          // uid(f) resolves to exactly ONE synthetic uid
          // (TestCountUIDWithVar golden: count(uid) over uid(total) = 1)
          vf.limit(1).select(lit(Long.MaxValue).as("uid"))
      } ++
        (if (lits.nonEmpty) Seq(lits.map(parseUid).toDF("uid")) else Nil)
      require(dfs.nonEmpty, s"uid() with no resolvable args: ${fn.args}")
      val u = dfs.reduce(_ unionByName _)
      // uid(v) over exactly one var marked unique at its bind site needs
      // no merge dedup — the distinct exists for multi-source unions
      if (varRefs.size == 1 && lits.isEmpty &&
          vars(varRefs.head).uniqueUid &&
          vars(varRefs.head).frame.columns.contains("uid")) u
      else u.distinct()
    case n if fn.pred.startsWith("val:") =>
      // compare against a value variable (applyIneqFunc, query/query.go:1931)
      valSeedRows(fn).select(col("uid"))
    case "type" =>
      // extra args = additional matching type names (the GraphQL
      // rewriter's interface expansion; plain DQL type(T) has none)
      val names = fn.pred +: fn.args
      val seeds = ts.nodeTypes.filter(col("typeName").isin(names: _*))
        .select(col("subject").as("uid"))
      if (fn.args.isEmpty) seeds else seeds.distinct()
    case "has" =>
      // lang-aware (reference TestFilterHas): has(p) on a @lang pred
      // matches UNTAGGED values only, has(p@.) any variant, has(p@xx)
      // that tag. An UNKNOWN predicate has no postings — empty, not an
      // error (reference TestNoResultsFilter/-Pagination/-Order)
      val (p, tag) = langSplit(fn.pred)
      if (!schema.predicates.contains(p))
        return ts.nodeTypes.select(col("subject").as("uid")).limit(0)
      val src =
        if (schema.isUidPredicate(p)) ts.edge(p)
        else {
          val base = ts.attr(p)
          if (!base.columns.contains("lang")) base
          else tag match {
            case Some(".") => base
            case Some(t) => base.filter(col("lang") === t)
            case None if schema.pred(p).lang => base.filter(col("lang").isNull)
            case None => base
          }
        }
      val hasOut = src.select(col("subject").as("uid"))
      // a subject-unique single-variant attr slice needs no dedup; edge
      // tablets (one row per edge) and any-variant slices keep it
      if (!schema.isUidPredicate(p) &&
          attrRowsUnique(fn.pred, untaggedDefault = true)) hasOut
      else hasOut.distinct()
    case "uid_in" =>
      // uid_in(p, <uid literals and uid(var) sets>): subjects whose p
      // target intersects the given set; ~p flips the edge (reference
      // worker/task.go uid_in handler; LDBC IC05/IC11/IC12 var forms)
      val (p, rev) =
        if (fn.pred.startsWith("~")) (fn.pred.drop(1), true) else (fn.pred, false)
      val src = if (rev) ts.reverseEdge(p) else ts.edge(p)
      val (varArgs, litArgs) = fn.args.partition(_.startsWith("\u0000uid:"))
      litArgs.foreach { a =>
        require(a.matches("(0x[0-9a-fA-F]+|\\d+)"),
          s"""Value "$a" in uid_in is not a number""")
      }
      val sets = varArgs.map(a =>
          vars(a.stripPrefix("\u0000uid:")).frame.select(col("uid"))) ++
        (if (litArgs.nonEmpty) Seq(litArgs.map(parseUid).toDF("uid")) else Nil)
      val targets = sets.reduce(_ unionByName _).withColumnRenamed("uid", "__t")
      src.join(targets, col("object") === col("__t"), "left_semi")
        .select(col("subject").as("uid")).distinct()
    case "eq" if fn.args.exists(_.startsWith("\u0000val:")) &&
        !schema.isUidPredicate(langSplit(fn.pred)._1) =>
      // eq(name, val(a)): match the variable's VALUE SET — a distributed
      // semi-join of the attribute tablet against the var frame's values
      // (reference TestVarInIneq3; fillVars value maps)
      val (valArgs, litArgs) = fn.args.partition(_.startsWith("\u0000val:"))
      val base = langSplit(fn.pred)._1
      val rows = attrRows(fn.pred, untaggedDefault = true)
      val valSet = valArgs.map(a =>
          vars(a.stripPrefix("\u0000val:")).frame.select(col("value")))
        .reduce(_ unionByName _).distinct()
      val byVar = rows.join(valSet.select(col("value").as("__vv")),
          col("value") === col("__vv"), "left_semi")
        .select(col("subject").as("uid"))
      if (litArgs.isEmpty) byVar.distinct()
      else byVar.unionByName(
        attrWhere(fn.pred, v => v.isin(litArgs.map(typedLit(base, _)): _*),
          untaggedDefault = true)).distinct()
    case "eq" if !schema.isUidPredicate(langSplit(fn.pred)._1) =>
      val base = langSplit(fn.pred)._1
      attrWhere(fn.pred, v => v.isin(fn.args.map(typedLit(base, _)): _*),
        untaggedDefault = true)
    case n @ ("le" | "lt" | "ge" | "gt")
        if fn.args.exists(_.startsWith("\u0000val:")) &&
          !schema.isUidPredicate(langSplit(fn.pred)._1) =>
      // ge(number, val(x)): per-uid comparison against the variable's
      // value map; a scalar var broadcasts (reference TestAggregateEmpty3
      // — an empty map matches nothing)
      val op: (Column, Column) => Column = n match {
        case "le" => _ <= _; case "lt" => _ < _
        case "ge" => _ >= _; case _ => _ > _
      }
      val vname = fn.args.find(_.startsWith("\u0000val:")).get
        .stripPrefix("\u0000val:")
      val rows = attrRows(fn.pred, untaggedDefault = true)
      val vf = vars(vname).frame
      if (!vf.columns.contains("uid"))
        rows.crossJoin(broadcast(vf.select(col("value").as("__vv"))))
          .filter(op(col("value"), col("__vv")))
          .select(col("subject").as("uid")).distinct()
      else
        rows.join(vf.select(col("uid").as("__vu"), col("value").as("__vv")),
            col("subject") === col("__vu"))
          .filter(op(col("value"), col("__vv")))
          .select(col("subject").as("uid")).distinct()
    case "le" => attrCmp(fn, _ <= _)
    case "lt" => attrCmp(fn, _ < _)
    case "ge" => attrCmp(fn, _ >= _)
    case "gt" => attrCmp(fn, _ > _)
    case "between" =>
      val base = langSplit(fn.pred)._1
      attrWhere(fn.pred, v => v.between(
        typedLitC(base, fn.args(0)), typedLitC(base, fn.args(1))),
        untaggedDefault = true)
    // unqualified term search on a @lang predicate reads the UNTAGGED
    // tablet only — the per-lang index is reached via pred@tag or
    // pred@. (reference TestLangBug1295: eq/allofterms(royal_title, x)
    // misses the @fr value, royal_title@. finds it)
    case "anyofterms" =>
      // the empty query term indexes as the empty token, matching only
      // EMPTY values (reference TestQueryCountEmptyNames: anyofterms
      // (name, "") counts the two ""-named nodes)
      if (tokens(fn.args.head).isEmpty)
        attrWhere(fn.pred, v => v === "", untaggedDefault = true)
      else
        attrWhere(fn.pred, v => arrays_overlap(split(Lowercase(v), " "),
          array(tokens(fn.args.head).map(lit(_)): _*)),
          untaggedDefault = true)
    case "allofterms" =>
      if (tokens(fn.args.head).isEmpty)
        attrWhere(fn.pred, v => v === "", untaggedDefault = true)
      else
        attrWhere(fn.pred, v => forall(array(tokens(fn.args.head).map(lit(_)): _*),
          t => array_contains(split(Lowercase(v), " "), t)),
          untaggedDefault = true)
    case "regexp" =>
      // both lexed literals and $variable-substituted patterns arrive as
      // the raw `/re/flags` string — unwrap and validate the modifier
      // (reference TestRegExpVariableReplacement; TestFilterRegex14
      // rejects unknown modifiers, TestFilterRegex17 the empty pattern)
      val raw = fn.args.headOption.getOrElse("")
      if (raw.isEmpty || raw == "//")
        throw new IllegalArgumentException(
          "Function 'regexp' requires 2 arguments, but got 1")
      val pat0 = if (raw.length > 1 && raw.startsWith("/") &&
          raw.lastIndexOf('/') > 0) {
        val end = raw.lastIndexOf('/')
        val flags = raw.substring(end + 1)
        if (!Set("", "i").contains(flags))
          throw new IllegalArgumentException(
            s"Invalid regexp modifier: $flags")
        (if (flags == "i") "(?i)" else "") + raw.substring(1, end)
      } else
        // a pattern not in /re/flags form (a malformed $var substitution
        // like "aman/" or a bare "/") never parses in the reference's
        // lexer — reject it the same way (TestInvalidRegex)
        throw new IllegalArgumentException(s"Invalid regex: $raw")
      // Go's RE2 case folding is Unicode-aware; Java's (?i) is ASCII
      // unless paired with (?u) — rewrite so /артём/i matches Артём
      // (reference TestFilterRegex16, multi-byte rune bug #945)
      val pat = pat0.replace("(?i)", "(?iu)").replace("(?-i)", "(?-iu)")
      // regexp runs on string predicates only (reference
      // TestFilterRegexError: regexp over a datetime is rejected)
      val (rp0, _) = langSplit(fn.pred)
      schema.predicates.get(rp0).foreach { ps =>
        if (ps.dgraphType != "string" && ps.dgraphType != "default")
          throw new IllegalArgumentException(
            s"Attribute ${fn.pred} is not valid scalar type for regexp")
      }
      attrWhere(fn.pred, v => v.rlike(pat))
    case "anyoftext" =>
      // fulltext: stem + stopword-drop both sides (tok/tok.go:558).
      // A query with no index tokens left matches nothing (the reference
      // intersects with an empty token posting → empty).
      requireFulltextIndex(fn.pred)
      val q = graft.functions.TextFunctions.ftStemsLit(fn.args.head)
      if (q.isEmpty) attrWhere(fn.pred, _ => lit(false))
      else attrWhere(fn.pred, v => arrays_overlap(
        graft.functions.TextFunctions.ftStems(v), array(q.map(lit(_)): _*)))
    case "alloftext" =>
      requireFulltextIndex(fn.pred)
      val q = graft.functions.TextFunctions.ftStemsLit(fn.args.head)
      if (q.isEmpty) attrWhere(fn.pred, _ => lit(false))
      else attrWhere(fn.pred, v => forall(array(q.map(lit(_)): _*),
        t => array_contains(graft.functions.TextFunctions.ftStems(v), t)))
    case "match" =>
      // candidate retrieval mirrors the reference's trigram index
      // (worker/match.go:73 uidsForMatch — UNION of the query term's
      // trigram posting lists, raw case-sensitive bytes), then the
      // levenshtein threshold decides (matchFuzzy). A term under 3 chars
      // has no trigrams and matches nothing, like the reference.
      val mq = fn.args.head
      val maxD = fn.args(1).toInt
      val grams =
        if (mq.length < 3) Nil
        else (0 to mq.length - 3).map(i => mq.substring(i, i + 3)).distinct
      if (mq.isEmpty)
        // match("", d) keeps NON-EMPTY values no longer than the
        // distance — matchFuzzy returns false on empty values, and the
        // empty query's levenshtein is the value's length (reference
        // worker/match.go:63; TestQueryCountEmptyNames counts 39)
        attrWhere(fn.pred, v => v =!= "" && length(v) <= maxD,
          untaggedDefault = true)
      else if (grams.isEmpty) attrWhere(fn.pred, _ => lit(false))
      else attrWhere(fn.pred, v =>
        grams.map(t => v.contains(lit(t))).reduce(_ || _) &&
          levenshtein(v, lit(mq)) <= maxD)
    case "ngram" =>
      // word-ngram search (reference NGramTokenizer + worker/task.go
      // ngramFn): the query's min(3,n)-gram windows UNION against the
      // value's 1..4-gram set — ANY overlap matches (needsIntersect is
      // false for ngram). Requires the ngram tokenizer on the predicate.
      val (np, _) = langSplit(fn.pred)
      schema.predicates.get(np).foreach { ps =>
        if (!ps.indexes.contains("ngram"))
          throw new IllegalArgumentException(
            s"Attribute $np is not indexed with type ngram")
      }
      val qs = graft.functions.TextFunctions.ngramQueryLit(fn.args.head)
      if (qs.isEmpty) attrWhere(fn.pred, _ => lit(false))
      else attrWhere(fn.pred, v => arrays_overlap(
        graft.functions.TextFunctions.ngramSet(v),
        array(qs.map(lit(_)): _*)), untaggedDefault = true)
    case "anyof" | "allof" =>
      // custom-tokenizer search: anyof/allof(pred, tokenizer, q)
      // (reference worker/tokens.go:47 pickTokenizer → tok registry)
      val tok = graft.functions.TokenizerRegistry(fn.args.head)
      val q = tok.tokensLit(fn.args(1))
      if (q.isEmpty) attrWhere(fn.pred, _ => lit(false))
      else if (fn.name == "anyof")
        attrWhere(fn.pred, v => arrays_overlap(tok.tokens(v), array(q.map(lit(_)): _*)))
      else
        attrWhere(fn.pred, v => forall(array(q.map(lit(_)): _*),
          t => array_contains(tok.tokens(v), t)))
    case n if n.endsWith("_count") =>
      // eq/between(count(p), ...) family over the edge count index
      validateCountArgs(fn)
      val cond: Column => Column = n.stripSuffix("_count") match {
        case "eq" => _ === lit(fn.args.head.toLong)
        case "le" => _ <= lit(fn.args.head.toLong)
        case "lt" => _ < lit(fn.args.head.toLong)
        case "ge" => _ >= lit(fn.args.head.toLong)
        case "gt" => _ > lit(fn.args.head.toLong)
        // inverted bounds are a valid-but-empty range, like the scalar
        // between (reference TestBetweenCount)
        case "between" =>
          _.between(lit(fn.args(0).toLong), lit(fn.args(1).toLong))
        case o => throw new IllegalArgumentException(s"bad count fn $o")
      }
      countEdge(fn.pred).groupBy(col("subject")).agg(count(lit(1)).as("__c"))
        .filter(cond(col("__c")))
        .select(col("subject").as("uid"))
    case "similar_to" =>
      // DQL similar_to over a stored float32vector predicate (reference
      // worker/task.go:2772 opts; tok/hnsw distance fns). An UNKNOWN
      // predicate yields the empty set (TestAggregateEmpty4 — the
      // user_profile schema is absent and `similar` renders []).
      //
      // Exact distributed search: one pruned scan of the vector tablet,
      // per-row distance via codegen'd higher-order functions, then a
      // TakeOrdered of k rows — at 100 TB this is the brute-force
      // baseline; the index paths (per-partition HNSW, IVF-Flat, LSH)
      // live in operators/Similarity + operators/Hnsw.
      // The `ef:` option is HNSW search breadth — exact search already
      // returns the true top-k, so it is accepted and ignored;
      // `distance_threshold:` filters on the metric value
      // (TestSimilarToOptionsIntegration).
      if (!schema.predicates.contains(fn.pred))
        ts.nodeTypes.select(col("subject").as("uid")).limit(0)
      else {
        val p = schema.pred(fn.pred)
        if (p.dgraphType != "float32vector")
          throw new IllegalArgumentException(
            s"similar_to requires a float32vector predicate, " +
              s"got ${fn.pred}: ${p.dgraphType}")
        val opts = fn.args.collect {
          case a if a.startsWith("\u0000opt:") =>
            val kv = a.stripPrefix("\u0000opt:").split("=", 2)
            kv(0) -> kv(1)
        }.toMap
        // option validation mirrors worker/task.go:2789-2818: unknown
        // keys, non-positive ef, and negative thresholds are errors
        opts.keys.find(k => k != "ef" && k != "distance_threshold")
          .foreach(k => throw new IllegalArgumentException(
            s"similar_to: unknown option $k"))
        opts.get("ef").foreach { e =>
          val ei = try e.toInt catch { case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"similar_to: ef must be an integer, got $e") }
          if (ei <= 0) throw new IllegalArgumentException(
            s"similar_to: ef must be positive, got $e")
        }
        opts.get("distance_threshold").foreach { t =>
          val td = try t.toDouble catch { case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"similar_to: distance_threshold must be numeric, got $t") }
          if (td < 0) throw new IllegalArgumentException(
            s"similar_to: distance_threshold must be non-negative, got $t")
        }
        val positional = fn.args.filterNot(_.startsWith("\u0000opt:"))
        if (positional.length != 2)
          throw new IllegalArgumentException(
            "similar_to(pred, topk, vector) requires a top-k and a " +
              "query vector")
        val k = positional(0).toDouble.toInt
        // query vector: a "[..]" literal, or val(v) — a vector variable
        // (the reference's similar-by-id rewrite binds the anchor's
        // embedding and passes val(v1), query_rewriter.go:637). The var
        // holds ONE vector; the collect is metadata-sized by contract.
        val qvec: Array[Double] =
          if (positional(1).startsWith("\u0000val:")) {
            val vn = positional(1).stripPrefix("\u0000val:")
            val vf = vars.getOrElse(vn, throw new IllegalArgumentException(
              s"similar_to: variable $vn is not bound")).frame
            val rows = vf.select(col("value")).limit(2).collect()
            // a MISSING anchor (get-by-nonexistent-id) binds an empty
            // var: return the empty uid set, like a GraphQL get miss,
            // rather than erroring
            if (rows.isEmpty || rows.head.isNullAt(0))
              return ts.nodeTypes.select(col("subject").as("uid")).limit(0)
            if (rows.length != 1) throw new IllegalArgumentException(
              s"similar_to: val($vn) must hold exactly one vector, " +
                s"got ${rows.length}")
            val arr = rows.head.getSeq[Any](0).map {
              case d: java.lang.Number => d.doubleValue
              case o => o.toString.toDouble
            }.toArray
            // an elementwise agg over an EMPTY anchor var binds an empty
            // array — same missing-anchor case as above, return []
            if (arr.isEmpty)
              return ts.nodeTypes.select(col("subject").as("uid")).limit(0)
            arr
          } else positional(1).stripPrefix("[").stripSuffix("]")
            .split(",").map(_.trim).filter(_.nonEmpty).map(_.toDouble)
        if (qvec.isEmpty) throw new IllegalArgumentException(
          s"similar_to: bad query vector ${positional(1)}")
        // STORED-INDEX dispatch (reference worker/task.go:2171: similar_to
        // resolves through the persisted per-predicate HNSW graph —
        // tok/hnsw/persistent_hnsw.go — never a scan when one exists):
        // when the store has a registered index for this predicate, walk
        // the stored adjacency shards instead of scoring the tablet.
        // Quantized-int cosine (the engine's reproducible ANN arithmetic);
        // `ef:` is the genuine search breadth here. Non-cosine metrics
        // keep the exact scan below.
        val storedIdx =
          if (p.vectorMetric == "cosine") ts.annIndexDir(fn.pred) else None
        if (storedIdx.isDefined) {
          val sp = ts.spark
          import sp.implicits._
          // same HALF_UP rounding as VectorFunctions.quantize / the
          // oracle's round() — the query must land in the index's space
          val qQuant = qvec.map(x => BigDecimal(x * 1000)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
          // qid -1 never collides with a stored uid, so the searcher's
          // self-exclusion never fires and the anchor row itself may
          // rank (similar_to by literal vector includes exact matches)
          val qdf = Seq((-1L, qQuant)).toDF("id", "qe")
          val ef = opts.get("ef").map(_.toInt).getOrElse(48).max(k + 1)
          var res = graft.operators.Similarity
            .hnswSearchStored(qdf, sp, storedIdx.get, k, efSearch = ef)
            .select(col("nid").as("uid"), (lit(1.0) - col("sim")).as("__d"))
          opts.get("distance_threshold").foreach(t =>
            res = res.filter(col("__d") <= lit(t.toDouble)))
          return res.orderBy(col("__d").asc, col("uid").asc)
            .select(col("uid")).distinct()
        }
        val qcolv = array(qvec.map(lit): _*)
        val v = col("value").cast("array<double>")
        val dot = aggregate(zip_with(v, qcolv, (a, b) => a * b),
          lit(0.0), (acc, x) => acc + x)
        val dist = p.vectorMetric match {
          case "euclidean" =>
            sqrt(aggregate(zip_with(v, qcolv, (a, b) => (a - b) * (a - b)),
              lit(0.0), (acc, x) => acc + x))
          case "cosine" =>
            val qn = math.sqrt(qvec.map(x => x * x).sum)
            lit(1.0) - dot /
              (sqrt(aggregate(transform(v, a => a * a),
                lit(0.0), (acc, x) => acc + x)) * lit(qn))
          case "dotproduct" => -dot
          case other => throw new IllegalArgumentException(
            s"unknown vector metric $other on ${fn.pred}")
        }
        // a stored vector of a DIFFERENT length than the query yields a
        // null distance (zip_with pads with nulls); the reference errors
        // on length mismatch (tok/hnsw/helper.go applyDistanceFunction),
        // so mismatched rows must never rank — drop them
        var scored = ts.attr(fn.pred)
          .select(col("subject").as("uid"), dist.as("__d"))
          .filter(col("__d").isNotNull)
        // the reference ignores distance_threshold for dotproduct
        // (tok/hnsw/persistent_hnsw.go:345 "Dot product or others:
        // ignore threshold for now")
        if (p.vectorMetric != "dotproduct")
          opts.get("distance_threshold").foreach(t =>
            scored = scored.filter(col("__d") <= lit(t.toDouble)))
        scored.orderBy(col("__d").asc, col("uid").asc).limit(k)
          .select(col("uid")).distinct()
      }
    case "near" | "within" | "contains" | "intersects" =>
      // geo generators over GeoJSON-valued predicates (reference
      // worker/geofilter.go → types/geofilter.go; spherical distance
      // types/earth.go). The query shape parses ONCE here on the driver;
      // the match itself is a row-local pure function over the stored
      // value — distributed scan, no shuffle.
      import graft.functions.GeoShapes
      schema.predicates.get(fn.pred) match {
        case Some(ps) if ps.dgraphType == "geo" => ()
        case Some(ps) => throw new IllegalArgumentException(
          s"${fn.name} is not valid on predicate ${fn.pred} of type ${ps.dgraphType}")
        case None => return ts.nodeTypes.select(col("subject").as("uid")).limit(0)
      }
      val isNum = (s: String) => s.matches("-?\\d+(\\.\\d+)?([eE]-?\\d+)?")
      val test: GeoShapes.Shape => Boolean = fn.name match {
        case "near" =>
          // near(p, [x,y], d) — the point flattens to two numeric args,
          // so arity 3; a missing or non-positive distance is an error
          // (TestNearGeneratorErrorMissDist / TestNearGeneratorError)
          if (fn.args.length != 3 || !fn.args.forall(isNum))
            throw new IllegalArgumentException(
              "near function requires a point and a distance")
          val d = fn.args(2).toDouble
          if (d <= 0) throw new IllegalArgumentException(
            s"near distance must be positive, got $d")
          val q = GeoShapes.GPoint(fn.args(0).toDouble, fn.args(1).toDouble)
          GeoShapes.near(_, q, d)
        case "within" =>
          // within(p, polygon) — exactly one polygon/multipolygon arg
          // (TestWithinGeneratorError rejects a trailing distance)
          if (fn.args.length != 1)
            throw new IllegalArgumentException(
              "within function requires exactly one polygon argument")
          val q = GeoShapes.parse(fn.args.head)
          q match {
            case _: GeoShapes.GPoint => throw new IllegalArgumentException(
              "within expects a polygon argument")
            case _ => ()
          }
          GeoShapes.within(_, q)
        case "contains" =>
          // contains(p, [x,y]) point (two flat numerics) or polygon
          val q =
            if (fn.args.length == 2 && fn.args.forall(isNum))
              GeoShapes.GPoint(fn.args(0).toDouble, fn.args(1).toDouble)
            else if (fn.args.length == 1) GeoShapes.parse(fn.args.head)
            else throw new IllegalArgumentException(
              "contains requires a point or polygon argument")
          GeoShapes.contains(_, q)
        case _ =>
          // intersects(p, polygon) — a point argument is an error
          // (TestIntersectsGeneratorError)
          if (fn.args.length != 1)
            throw new IllegalArgumentException(
              "intersects function requires exactly one polygon argument")
          val q = GeoShapes.parse(fn.args.head)
          q match {
            case _: GeoShapes.GPoint => throw new IllegalArgumentException(
              "intersects expects a polygon argument")
            case _ => ()
          }
          GeoShapes.intersects(_, q)
      }
      val geoMatch = udf((v: String) =>
        v != null && test(GeoShapes.parse(v)))
      ts.attr(fn.pred).filter(geoMatch(col("value")))
        .select(col("subject").as("uid")).distinct()
    case other =>
      throw new IllegalArgumentException(s"unsupported function: $other")
  }

  /** anyoftext/alloftext need the fulltext tokenizer on the predicate
    * (reference TestInvalidStringIndex — `name` with only term/exact/
    * trigram is rejected).
    */
  private def requireFulltextIndex(pred: String): Unit = {
    val (p, _) = langSplit(pred)
    schema.predicates.get(p).foreach { ps =>
      if (!ps.indexes.contains("fulltext"))
        throw new IllegalArgumentException(
          s"Attribute $p is not indexed with type fulltext")
    }
  }

  /** count-comparison arity: one bound (two for between), numeric
    * (reference TestGeneratorRootFilterOnCountError1-3).
    */
  private def validateCountArgs(fn: FuncCall): Unit = {
    val want = if (fn.name.stripSuffix("_count") == "between") 2 else 1
    if (fn.args.length != want)
      throw new IllegalArgumentException(
        s"Function ${fn.name.stripSuffix("_count")}(count(${fn.pred})) " +
          s"expects $want argument(s), got ${fn.args.length}")
    fn.args.foreach { a =>
      if (!a.matches("-?\\d+"))
        throw new IllegalArgumentException(
          s"Invalid argument $a to count comparison — expected an integer")
    }
  }

  /** Edge frame for a count() argument — `count(~friend)` counts the
    * reverse adjacency (reference TestCountReverseFunc).
    */
  private def countEdge(pred: String): DataFrame =
    if (pred.startsWith("~")) ts.reverseEdge(pred.stripPrefix("~"))
    else if (schema.isUidPredicate(pred)) ts.edge(pred)
    else
      // scalar predicates count their VALUES (reference
      // TestDeleteAndReadCount: gt(count(numerology), 0) over strings)
      ts.attr(pred)

  /** col() that survives dotted predicate names (office.room): backtick
    * quoting stops Spark treating the dot as struct-field access.
    */
  private def qcol(n: String): Column =
    if (n.contains(".")) col(s"`$n`") else col(n)

  /** `pred@tag` → (pred, Some(tag)). */
  private def langSplit(pred: String): (String, Option[String]) =
    pred.indexOf('@') match {
      case -1 => (pred, None)
      case i => (pred.substring(0, i), Some(pred.substring(i + 1)))
    }

  /** Attribute rows for a (possibly lang-qualified) predicate.
    * `eq(name@hi, x)` targets the @hi rows; an UNQUALIFIED equality on a
    * @lang predicate targets the UNTAGGED rows only (the reference's eq
    * reads the untagged index — a node whose only name is tagged does
    * not match eq(name, ...)). `untaggedDefault = false` keeps the
    * any-language behavior for term/fulltext search.
    */
  private def attrRows(pred: String, untaggedDefault: Boolean): DataFrame = {
    val (p, tag) = langSplit(pred)
    val base = ts.attr(p)
    if (!base.columns.contains("lang")) base
    else tag match {
      // eq(royal_title@., x): '.' (and '*') searches EVERY variant —
      // the reference iterates values in all languages (TestLangBug1295)
      case Some(".") | Some("*") => base
      case Some(t) => base.filter(col("lang") === t)
      case None if untaggedDefault && schema.pred(p).lang =>
        base.filter(col("lang").isNull)
      case None => base
    }
  }

  /** True when attrRows(pred, untaggedDefault) is provably unique per
    * subject: the store declares the tablet subject-unique (per lang
    * variant) AND the requested slice is a single variant — plain
    * scalar, one tag, or the untagged default. The any-variant slice
    * (pred@. / pred@*) and multi-variant reads can repeat a subject.
    */
  private def attrRowsUnique(pred: String, untaggedDefault: Boolean): Boolean = {
    val (p, tag) = langSplit(pred)
    ts.attrSubjectUnique(p) && !tag.contains(".") && !tag.contains("*") &&
      (!schema.predicates.get(p).exists(_.lang) || tag.isDefined ||
        untaggedDefault)
  }

  /** POSTCONDITION: the returned frame is unique per subject — either
    * the slice is provably subject-unique (dedup skipped as an identity)
    * or the dedup runs here.
    */
  private def attrWhere(pred: String, cond: Column => Column,
      untaggedDefault: Boolean = false): DataFrame = {
    val rows = attrRows(pred, untaggedDefault).filter(cond(col("value")))
      .select(col("subject").as("uid"))
    // filtering a subject-unique slice cannot duplicate a subject —
    // the dedup exchange is an identity and is skipped
    if (attrRowsUnique(pred, untaggedDefault)) rows else rows.distinct()
  }

  private def attrCmp(fn: FuncCall, op: (Column, Column) => Column): DataFrame = {
    val base = langSplit(fn.pred)._1
    attrWhere(fn.pred, v => op(v, typedLitC(base, fn.args.head)),
      untaggedDefault = true)
  }

  private def tokens(s: String): Seq[String] =
    Lowercase(s).split("\\s+").toSeq.filter(_.nonEmpty)

  private def parseUid(s: String): Long =
    if (s.startsWith("0x")) java.lang.Long.parseLong(s.drop(2), 16) else s.toLong

  private def typedLit(pred: String, v: String): Any =
    schema.pred(pred).dgraphType match {
      case "int" => v.toLong
      case "float" => v.toDouble
      // exact decimal so eq distinguishes beyond float64
      // (TestBigFloatTypeTokenizer)
      case "bigfloat" => new java.math.BigDecimal(v)
      case _ => v
    }

  private def typedLitC(pred: String, v: String): Column =
    schema.pred(pred).dgraphType match {
      case "int" => lit(v.toLong)
      case "float" => lit(v.toDouble)
      case "bigfloat" => lit(v).cast(
        org.apache.spark.sql.types.DecimalType(38, 24))
      case "datetime" =>
        // manual parse: partial dates + offsets beyond ±18h (see
        // DateTimeFunctions.parseInstant) — a cast nulls both
        lit(graft.functions.DateTimeFunctions.parseInstant(v))
      case _ => lit(v)
    }

  /** Boolean filter tree over the frontier: leaf = semi-join, AND = chained
    * semi-joins, OR = union, NOT = anti-join
    * (reference query/query.go:2311-2373 + algo/uidlist.go set algebra).
    */
  private def applyFilter(df: DataFrame, uidCol: String, node: FilterNode): DataFrame =
    node match {
      case FilterLeaf(fn) if fn.pred.startsWith("len:") =>
        // eq/lt/../ge(len(v), n): the variable's cardinality is a single
        // query-constant — the whole frontier passes or none of it does
        // (reference TestFilterUsingLenFunction; applyFacetsFilter len).
        // The count is a metadata-scale driver action, mirroring the
        // reference's materialized uid-list length.
        val v = fn.pred.stripPrefix("len:")
        val n = vars.get(v) match {
          case Some(vf) => vf.frame.count()
          case None => throw new IllegalArgumentException(
            s"len($v): no variable '$v' is bound")
        }
        val bound = fn.args.head.toLong
        val ok = fn.name match {
          case "eq" => n == bound
          case "le" => n <= bound
          case "lt" => n < bound
          case "ge" => n >= bound
          case "gt" => n > bound
          case o => throw new IllegalArgumentException(
            s"len() not supported with function $o")
        }
        if (ok) df else df.filter(lit(false))
      case FilterLeaf(fn) if fn.name.endsWith("_count") =>
        // count comparisons in FILTER position evaluate per frontier uid
        // with missing edges = 0 (reference TestCountAtRootWithAlias4:
        // le(count(friend), 2) keeps friendless Daryl) — the index seed
        // would drop zero-count nodes
        validateCountArgs(fn)
        val cond: Column => Column = fn.name.stripSuffix("_count") match {
          case "eq" => _ === lit(fn.args.head.toLong)
          case "le" => _ <= lit(fn.args.head.toLong)
          case "lt" => _ < lit(fn.args.head.toLong)
          case "ge" => _ >= lit(fn.args.head.toLong)
          case "gt" => _ > lit(fn.args.head.toLong)
          case "between" =>
            _.between(lit(fn.args(0).toLong), lit(fn.args(1).toLong))
          case o => throw new IllegalArgumentException(s"bad count fn $o")
        }
        val cnts = countEdge(fn.pred).groupBy(col("subject"))
          .agg(count(lit(1)).as("__fc"))
          .select(col("subject").as(uidCol), col("__fc"))
        df.join(cnts, Seq(uidCol), "left")
          .filter(cond(coalesce(col("__fc"), lit(0L))))
          .drop("__fc")
      case FilterLeaf(fn) =>
        df.join(seed(fn).withColumnRenamed("uid", uidCol), Seq(uidCol), "left_semi")
      case FilterAnd(cs) => cs.foldLeft(df)((d, c) => applyFilter(d, uidCol, c))
      case FilterOr(cs) if cs.forall {
          case FilterLeaf(fn) => !fn.name.endsWith("_count"); case _ => false } =>
        // OR of index leaves: union the uid seeds, ONE semi-join — the
        // general branch below re-embeds `df` once per branch, which
        // compounds in nested trees (reference merges sorted uid lists
        // the same way, algo/uidlist.go MergeSorted)
        val uids = cs.map { case FilterLeaf(fn) =>
          seed(fn).withColumnRenamed("uid", uidCol)
        }.reduce(_ unionByName _)
        df.join(uids, Seq(uidCol), "left_semi")
      case FilterOr(cs) =>
        cs.map(applyFilter(df, uidCol, _)).reduce(_ unionByName _).distinct()
      case FilterNot(FilterLeaf(fn)) =>
        df.join(seed(fn).withColumnRenamed("uid", uidCol), Seq(uidCol), "left_anti")
      case FilterNot(c) =>
        df.join(applyFilter(df, uidCol, c).select(qcol(uidCol)).distinct(),
          Seq(uidCol), "left_anti")
    }

  /** Sort + offset/first/after over a uid set; value orderings join the
    * order predicate's attribute table (worker/sort.go semantics), uid
    * ascending is the final tiebreak (reference results are uid-sorted,
    * algo/uidlist.go invariants).
    */
  /** Ordering source: an attribute tablet or a bound value variable. */
  private def orderAttr(pred: String): DataFrame =
    if (pred.startsWith("val:"))
      vars(pred.drop(4)).frame.select(col("uid").as("subject"), col("value"))
    else {
      // `orderasc: name_lang@de` sorts by that variant; a bare order on
      // a @lang predicate sorts by the UNTAGGED value (nodes without it
      // fall to uid order — reference TestLanguageOrderIndexed3/4)
      val (p, tag) = pred.indexOf('@') match {
        case -1 => (pred, None)
        case i => (pred.substring(0, i), Some(pred.substring(i + 1)))
      }
      // bool values have no sort order (reference TestBoolSort errors),
      // and neither do LIST predicates (TestMultipleValueSortError)
      if (schema.predicates.get(p).exists(_.dgraphType == "bool"))
        throw new IllegalArgumentException(
          s"Cannot sort attribute $p of type bool")
      if (schema.predicates.get(p).exists(_.isList))
        throw new IllegalArgumentException(
          s"Sorting not supported on attr: $p of type: [scalar]")
      // the reference's own message for a sort key that names neither a
      // predicate nor val(var) — covers `orderdesc: n` where n is a var
      // (query0 TestQueryVarValOrderError: vars sort via val(n) only)
      if (!schema.predicates.contains(p))
        throw new IllegalArgumentException(
          s"Cannot sort by unknown attribute $p")
      val rows = ts.attr(p)
      if (!rows.columns.contains("lang")) rows
      else tag match {
        case Some(t) =>
          val r = rows.filter(col("lang") === t)
          // a lang-tagged sort key collates in that locale (reference
          // types/sort.go collates tagged strings: German ö<z, Swedish
          // ö>z — TestLanguageOrderIndexed5/6); unknown locales fall
          // back to binary order
          scala.util.Try {
            org.apache.spark.sql.catalyst.util.CollationFactory
              .collationNameToId(t)
            r.withColumn("value", collate(col("value"), t))
          }.getOrElse(r)
        case None =>
          if (schema.predicates.get(p).exists(_.lang))
            rows.filter(col("lang").isNull)
          else rows
      }
    }

  private def orderAndPage(df: DataFrame, uidCol: String,
      order: Seq[Ordering], page: Pagination,
      keepValRiders: Boolean = false): DataFrame = {
    val after = page.after.fold(df)(a => df.filter(qcol(uidCol) > a))
    val needSort = order.nonEmpty || page.first.isDefined || page.offset.isDefined
    if (!needSort) return after
    val (keyed, keyCols) = withSortKeys(after, uidCol, order)
    val ordCols = keyCols(false).map(_.col)
    var cur = keyed.orderBy(ordCols: _*)
    // a negative offset clamps to 0 (reference issue #8441 fix,
    // TestNegativeOffset)
    page.offset.filter(_ > 0).foreach(o => cur = cur.offset(o))
    page.first.foreach { f =>
      if (f >= 0) cur = cur.limit(f)
      else {
        // negative first = LAST |f| of the ordered result (reference
        // query/query.go:989 calculatePaginationParams): top-|f| in the
        // REVERSED order — a distributed TakeOrdered, no global window —
        // then re-sorted into the requested presentation order
        cur = cur.orderBy(keyCols(true).map(_.col): _*).limit(-f).orderBy(ordCols: _*)
      }
    }
    // keepValRiders (the block's main frontier only): a `val:` sort key
    // already paid the var-map join — keep its value as a __seedval_
    // rider so a later `val(x)` selection of the SAME var reads it in
    // place instead of re-joining the map (project's seedval branch)
    val keep: Map[Int, String] =
      if (!keepValRiders) Map.empty
      else order.zipWithIndex.collect {
        case (o, i) if o.pred.startsWith("val:") &&
            !cur.columns.contains(s"__seedval_${o.pred.drop(4)}") =>
          i -> s"__seedval_${o.pred.drop(4)}"
      }.toMap
    order.indices.foreach { i =>
      cur = keep.get(i) match {
        case Some(n) => cur.withColumnRenamed(s"__ov$i", n)
        case None => cur.drop(s"__ov$i")
      }
    }
    cur
  }

  /** `df` with each order key joined as `__ov<i>`, and the sort columns
    * over them (`rev` = the reversed order).
    */
  private def withSortKeys(df: DataFrame, uidCol: String,
      order: Seq[Ordering]): (DataFrame, Boolean => Seq[SortKey]) = {
    var cur = df
    // val() keys are single-sort only (reference
    // TestMultiplesSortingOrderWithVarAndPredicate: "Val() is not
    // allowed in multiple sorting")
    if (order.size > 1 && order.exists(_.pred.startsWith("val:")))
      throw new IllegalArgumentException(
        "Val() is not allowed in multiple sorting. Got: [" +
          order.filter(_.pred.startsWith("val:"))
            .map(_.pred.stripPrefix("val:")).mkString(", ") + "]")
    order.zipWithIndex.foreach { case (o, i) =>
      // a pre-attached __ov column (val-seeded ordered root) is already
      // the right sort key — and inner-join semantics hold, the seed
      // only kept uids in the var's map
      if (!cur.columns.contains(s"__ov$i")) {
        val a = orderAttr(o.pred).select(col("subject").as(s"__os$i"), col("value").as(s"__ov$i"))
        // sorting by a VALUE VARIABLE keeps only uids in the var's map
        // (reference sortWithVar, query/query.go — nodes without the var
        // are excluded); sorting by a predicate keeps missing values last
        val joinKind = if (o.pred.startsWith("val:")) "inner" else "left"
        cur = cur.join(a, qcol(uidCol) === col(s"__os$i"), joinKind).drop(s"__os$i")
      }
    }
    // Null ordering mirrors types/sort.go byValue.Less: missing values
    // sort last under BOTH directions. A pair that ties on nulls at a
    // SECONDARY desc key is ordered by uid REVERSED (Less returns
    // s.desc[vidx] for the null-null case through sort.Stable —
    // TestMultiSort5's null-salary Bobs render age 25 before 75). Nodes
    // missing the PRIMARY key never enter the comparator at all: the
    // reference appends them in plain uid order, every direction
    // (TestSortWithNulls desc keeps F..J uid-ascending), so their later
    // keys are masked out.
    def keyCols(rev: Boolean): Seq[SortKey] = {
      val primaryNull = col("__ov0").isNull
      order.zipWithIndex.flatMap { case (o, i) =>
        val ov = if (i == 0) col(s"__ov$i")
          else when(primaryNull, lit(null)).otherwise(col(s"__ov$i"))
        val flip = o.desc && i > 0
        val uexpr = when(ov.isNull,
          if (flip) -qcol(uidCol) else qcol(uidCol))
        Seq(SortKey(ov, o.desc != rev, nullsFirst = rev), SortKey(uexpr, rev))
      } :+ SortKey(qcol(uidCol), rev)
    }
    (cur, keyCols)
  }

  /** One sort column: a value, its direction and where its nulls go
    * (Spark's default: first ascending, last descending).
    */
  private case class SortKey(value: Column, desc: Boolean, nullsFirst: Boolean) {
    def col: Column = (desc, nullsFirst) match {
      case (true, true) => value.desc_nulls_first
      case (true, false) => value.desc_nulls_last
      case (false, true) => value.asc_nulls_first
      case (false, false) => value.asc_nulls_last
    }
  }
  private object SortKey {
    def apply(value: Column, desc: Boolean): SortKey = SortKey(value, desc, !desc)
  }

  // ---- selection projection (one join per selection) ----

  /** Vars bound anywhere inside a selection subtree. */
  private def boundIn(sels: Seq[Selection]): Set[String] =
    sels.flatMap(s => s.varName.toSeq ++ s.facetVars.map(_._1) ++
      boundIn(s.children)).toSet

  /** Vars read by math() anywhere inside a selection subtree. */
  private def mathRefsIn(sels: Seq[Selection]): Set[String] =
    sels.flatMap(s => s.mathExpr.map(mathRefs).getOrElse(Nil) ++
      mathRefsIn(s.children)).toSet

  /** `frontierTypes`: node types `df`'s uid column can contain, when
    * derivable (empty = unknown) — root-function owners at the top
    * level, edge-target metadata across hops. Consumed only to prune
    * [[GraphStore.attrWide]] unions; never changes semantics.
    */
  /** `blockUidVar`: the enclosing block's `f as var(...)` name, passed
    * ONLY when its bound set is exactly this pass's frontier (top level,
    * no order/page/cascade restriction) — the shared-rebind snapshot
    * then serves the uid var too, saving the var's own checkpoint
    * execution of the seed plan.
    *
    * `childRanks` keeps every traversal's child rank column (see
    * [[flatBlock]]). `reflex` is the @ignorereflex ancestor chain: when
    * Some, each traversal level filters child uids against every
    * ancestor uid column of the row — the reference's per-path reflexive
    * exclusion (query1 TestReflexive: Rick's friend list under Michonne
    * omits Michonne).
    */
  private def project(df: DataFrame, uidCol: String, sels: Seq[Selection],
      cascade: Boolean, prefix: String, childRanks: Boolean,
      reflex: Option[List[String]], detached: Boolean = false,
      cascadeFields: Seq[String] = Nil,
      rootType: Option[String] = None,
      frontierTypes: Set[String] = Set.empty,
      blockUidVar: Option[String] = None): DataFrame = {
    val joinType = if (cascade) "inner" else "left"
    var cur = df
    // true once a traversal has multiplied rows: later var binds must
    // dedup per uid (a plain scalar block stays shuffle-free). A NESTED
    // level is born fanned — its uid column repeats once per parent path
    // (TestLevelBasedFacetVarSum's 1003 reached via two parents)
    var fanned = prefix.nonEmpty
    // vars bound from live COLUMNS of this frame: when one block pass
    // binds several (a multi-var math block), each per-var lazy
    // checkpoint re-runs the whole block plan on first use — measured
    // as one full tablet scan PER var. The reference fills all of a
    // SubGraph's vars from one evaluation (query/query.go:1445
    // populateVarMap); mirrored here by re-binding every such var at
    // the end of the pass from ONE shared lazily-checkpointed snapshot
    // of the final frame, so the block materializes once and each map
    // is a column select over cached partitions. Binds are collected
    // as closures so each site keeps its exact select/filter/dedup
    // semantics; valid because the non-cascade path only applies
    // parent-preserving ops between sites (left joins, per-parent
    // windows that keep null-child rows) — columns, once computed, are
    // never rewritten.
    val sharedRebinds =
      scala.collection.mutable.ArrayBuffer.empty[(String, DataFrame => DataFrame)]
    var sharedRebindOk = !cascade
    // INVARIANT (shared-rebind safety): every closure in sharedRebinds is
    // replayed against the FINAL `cur` frame of this pass, so any branch
    // that drops/filters rows of `cur` on the non-cascade path (a filter,
    // an inner join, an empty-out) MUST call dropsRows() — rebinding an
    // earlier var from a row-reduced frame would silently shrink its
    // value map. Parent-preserving ops (left joins, withColumn,
    // per-parent windows that keep null-child rows) are safe. If you add
    // a new branch that mutates `cur` and aren't sure, call dropsRows():
    // it only costs the one-materialization optimization, never
    // correctness.
    def dropsRows(): Unit = { sharedRebindOk = false; sharedRebinds.clear() }
    // value var `v` from live column `c` of this level. Every caller's
    // column is a PER-UID CONSTANT of the frame (attr joins keyed on this
    // level's uid, per-parent aggregates joined back on the parent uid,
    // math over per-uid maps), so the var joins the shared rebind, and a
    // same-level math read of it is safe in place even on a FANNED frame
    // — every surviving row of a uid carries the same value — which
    // keeps the read exchange-free instead of forcing the var's own
    // checkpoint execution mid-pass. The constancy outlives dropsRows():
    // a row-dropping branch clears the rebinds (membership would shrink)
    // but never rewrites a computed column.
    def bindColumn(v: String, c: String, dedup: Boolean,
        dropNulls: Boolean): Unit = {
      val mk = (f: DataFrame) => {
        val m = f.select(qcol(uidCol).as("uid"), qcol(c).as("value"))
        if (dropNulls) m.filter(col("value").isNotNull) else m
      }
      bindVar(v, if (dedup) mk(cur).dropDuplicates("uid") else mk(cur),
        uniqueUid = true)
      sharedRebinds += (v -> mk)
      varCols(v) = VarCol(c, uidCol, uidConst = true)
    }
    // tablet-group fetch: sibling plain-scalar selections whose
    // predicates co-locate in one source table join ONCE through the
    // store's wide frame instead of once per predicate
    // ([[GraphStore.attrWide]] — k shuffle joins become one scan + one
    // join). Eligibility mirrors the conditions of the plain value-read
    // subcase below (no lang/facets/list riders; datetime is eligible —
    // both paths deliver the same timestamp-typed column and rendering
    // keys off the column dtype).
    def wideOk(s: Selection): Boolean =
      s.mathExpr.isEmpty && s.aggOp.isEmpty && s.valRef.isEmpty &&
        s.constVal.isEmpty && s.typeNameOf.isEmpty && !s.isCount &&
        s.checkPwd.isEmpty && s.children.isEmpty && s.groupby.isEmpty &&
        s.filter.isEmpty && s.facetFilter.isEmpty && !s.facetFetch &&
        s.facetKeys.isEmpty && s.facetVars.isEmpty && s.langChain.isEmpty &&
        !s.reverse && s.pred != "uid" && s.pred != "dgraph.type" &&
        !schema.isUidPredicate(s.pred) &&
        schema.predicates.get(s.pred).exists(ps => !ps.isList && !ps.lang &&
          Set("string", "default", "int", "float", "datetime")
            .contains(ps.dgraphType))
    val widePreds = sels.filter(wideOk).map(_.pred).distinct
    val wideFrames =
      if (widePreds.size >= 2)
        ts.attrWide(widePreds, frontierTypes ++ rootType)
      else Nil
    val wideCovered: Set[String] = wideFrames.flatMap(_.preds).toSet
    // root-type elimination: a bare `type(T)` frontier (no filter, no
    // order, no page — flatBlock passes rootType only then) IS the
    // subject set of T's wide frame, so the frame replaces the frontier
    // outright — one scan, zero joins for its covered predicates
    // (frontier ⋈ wide would be an identity self-join of T's table)
    val rootWide = rootType.flatMap(t =>
      wideFrames.find(_.entityType.contains(t)))
    rootWide.foreach { g => cur = g.frame.withColumnRenamed("subject", uidCol) }
    var wideJoined = false
    def ensureWideJoined(): Unit = if (!wideJoined) {
      wideJoined = true
      wideFrames.zipWithIndex.foreach { case (g, i) =>
        if (!rootWide.exists(_ eq g))
          cur = cur.join(g.frame.withColumnRenamed("subject", s"__ma_s$i"),
            qcol(uidCol) === col(s"__ma_s$i"), "left").drop(s"__ma_s$i")
      }
    }
    sels.foreach { sel =>
      val name = prefix + sel.outName
      if (wideCovered.contains(sel.pred) && wideOk(sel)) {
        // tablet-group read: the value column arrived with the single
        // wide join; under full cascade the per-attr inner join becomes
        // a null filter (same row-drop semantics)
        ensureWideJoined()
        cur = cur.withColumn(name, qcol(s"__ma_${sel.pred}"))
        if (cascade) cur = cur.filter(qcol(name).isNotNull)
        sel.varName.foreach(bindColumn(_, name, dedup = fanned, dropNulls = true))
      } else if (sel.pred == "math" && sel.mathExpr.isDefined) {
        // x as math(...): arithmetic over previously bound value vars
        // (reference query/math.go evaluation over per-uid value maps)
        val refs = mathRefs(sel.mathExpr.get).distinct
        var base = cur
        // uid-keyed refs define the result's MEMBERSHIP (reference math
        // eval unions the source value maps: a uid in NONE of them gets
        // no result — TestQueryVarValAggNestedFuncConditional drops the
        // friendless Andrea; a uid in SOME of them reads the missing
        // vars as 0 — TestQueryVarValAggMul's nameless friend gets
        // mul = 0). Scalar (no-uid) vars broadcast but do not confer
        // membership (TestCountUIDToVar2).
        val uidKeyed = scala.collection.mutable.ArrayBuffer.empty[String]
        refs.foreach { r =>
          // a var bound EARLIER IN THIS BLOCK — or at a parent level of
          // this block's traversal — is still a live column of the
          // current frame; read it in place instead of joining its
          // (uid, value) map back on: a 3-var chain over lineitem then
          // runs as ONE projection pass, no self-joins (each skipped
          // join was a full shuffle of the block's rows)
          varCols.get(r) match {
            // a same-level read on a FANNED frame must go through the
            // var's dedup'd (uid, value) snapshot UNLESS the column is a
            // per-uid constant (uidConst — every bindColumn bind): then
            // every surviving row of a uid carries the same value and the
            // in-place read computes the identical result without forcing
            // the var's own checkpoint execution mid-pass (measured:
            // dql_level_agg ran its mid-block plan once per fanned math
            // ref).
            case Some(VarCol(cname, ucol, uidConst)) if
                base.columns.contains(cname) && ucol == uidCol &&
                (!fanned || uidConst) &&
                !cname.startsWith("__fvv_") =>
              // (facet-var columns are per-EDGE values; their same-level
              // MAP is the in-edge sum, so they always join the map)
              base = base.withColumn(s"__m_$r", qcol(cname))
              uidKeyed += s"__m_$r"
            case Some(VarCol(cname, ucol, _)) if
                base.columns.contains(cname) && ucol != uidCol =>
              // cross-level read: transform the var to THIS level's uid
              // space by summing along distinct tree paths from the
              // binding level down (reference transformTo semantics,
              // TestLevelBasedFacetVarSum: L1' [t] = Σ_paths L1[p]) —
              // then the math runs per-uid like any other map. The path
              // identity is the chain of traversal columns between the
              // binding level and here (level columns are name-prefixed
              // by construction); the source value joins the dedup key
              // so parallel in-edges with distinct facets both count.
              // every level column strictly between the binding level and
              // here joins the dedup key — a root-bound var (ucol "uid")
              // has ALL ancestor levels between (LDBC IC06's two-hop
              // tagCount counts (person, post) paths, not (person, tag)
              // pairs); an inner-bound var only those under its prefix
              val chain = (base.columns.toSeq
                .filter(c => c != uidCol && uidCol.startsWith(c + "_") &&
                  (ucol == "uid" || c.startsWith(ucol + "_"))) :+ ucol)
                .distinct.filter(base.columns.contains).sorted
              val tm = base.select(qcol(uidCol).as("__tu") +:
                  chain.map(qcol) :+ qcol(cname).as("__tv"): _*)
                .filter(col("__tv").isNotNull)
                .dropDuplicates("__tu" +: "__tv" +: chain)
                .groupBy(col("__tu")).agg(sum(col("__tv")).as(s"__m_$r"))
              base = base.join(tm, qcol(uidCol) === col("__tu"), joinType)
                .drop("__tu")
              uidKeyed += s"__m_$r"
            case _ if !vars(r).frame.columns.contains("uid") =>
              // SCALAR var (f as count(uid)): one row, no uid map —
              // broadcast it to every row (reference TestCountUidToVar)
              base = base.crossJoin(
                broadcast(vars(r).frame.select(col("value").as(s"__m_$r"))))
            case _ =>
              base = base.join(
                vars(r).frame.select(col("uid").as("__ms"), col("value").as(s"__m_$r")),
                qcol(uidCol) === col("__ms"), joinType).drop("__ms")
              uidKeyed += s"__m_$r"
          }
        }
        // membership must be CAPTURED before the zero-fill below rewrites
        // the __m_ columns (Column exprs resolve lazily against the final
        // frame — an un-materialized isNotNull would see the coalesce)
        base = base.withColumn("__m_member",
          if (uidKeyed.isEmpty) lit(true)
          else uidKeyed.map(col(_).isNotNull).reduce(_ || _))
        // missing numeric values read as 0 inside the expression; non-
        // numeric (datetime) refs keep their nulls (since() handles them)
        uidKeyed.foreach { c =>
          if (base.schema(c).dataType.isInstanceOf[
              org.apache.spark.sql.types.NumericType])
            base = base.withColumn(c, coalesce(col(c), lit(0)))
        }
        // integer-typed refs drive the typed evaluation (reference
        // query/math.go: int-op-int stays int — ceil(x2/c) truncates)
        val intRefs = refs.filter(r =>
          base.columns.contains(s"__m_$r") &&
            isIntegerCol(base.schema(s"__m_$r").dataType)).toSet
        base = base.withColumn(name,
          when(col("__m_member"), mathCol(sel.mathExpr.get, intRefs)))
        cur = base.drop("__m_member").drop(refs.map(r => s"__m_$r"): _*)
        // scalar values are unique per subject UNLESS a traversal fanned
        // the rows out — then dedup per uid (cross-level refs are already
        // per-uid maps after the transform above)
        sel.varName.foreach(bindColumn(_, name, dedup = fanned, dropNulls = true))
      } else if (sel.aggOp.isDefined && sel.valRef.exists(varCols.contains)) {
        // level-based aggregation: `n as min(val(x))` where x was bound
        // by a traversal of THIS block — aggregate x per PARENT uid
        // (reference query/query.go:1042 evalLevelAgg). Dedup on the
        // (parent, child) pair first so sibling-cartesian row
        // duplication cannot inflate sums.
        import org.apache.spark.sql.types.DecimalType
        val VarCol(srcCol, childKey, _) = varCols(sel.valRef.get)
        // aggregating a var bound by a SIBLING at this same level is an
        // error — the aggregate must sit one level above the binding
        // (reference TestMultiLevelAgg1Error)
        if (childKey == uidCol)
          throw new IllegalArgumentException(
            s"Aggregate ${sel.aggOp.get}(val(${sel.valRef.get})) must be " +
              "one level above the variable's definition")
        val pairs = cur
          .select(qcol(uidCol).as("__pu"), col(childKey).as("__pc"),
            col(srcCol).as("__pv"))
          // a parent with NO traversed children aggregates NOTHING —
          // the count var's zero-fill rides a null child row and must
          // not fabricate sum=0 (reference TestMultiLevelAgg: "Andrea
          // With no friends" has no sum(val(s)) key)
          .filter(col("__pv").isNotNull && col("__pc").isNotNull)
          .dropDuplicates("__pu", "__pc")
        // integral sources keep INTEGER sums (reference sum over int
        // vals is int-typed — feeds typed math: TestFloatConverstion)
        val srcIsInt = isIntegerCol(pairs.schema("__pv").dataType)
        val aggC = sel.aggOp.get match {
          case "min" => min(col("__pv"))
          case "max" => max(col("__pv"))
          case "sum" =>
            if (srcIsInt) sum(col("__pv"))
            else
              // the reference accumulates float64 in uid order (its
              // TestLevelBasedFacetVarAggSum golden is
              // 0.7999999999999999, not 0.8) — an ordered left fold
              // reproduces the exact ulp artifact; per-parent lists are
              // fan-out bounded, same work the reference does
              aggregate(
                transform(
                  sort_array(collect_list(struct(col("__pc").as("k"),
                    col("__pv").as("v")))),
                  x => x.getField("v")),
                lit(0.0).cast("double"),
                (acc, x) => acc + x)
          case "avg" => (sum(col("__pv").cast(DecimalType(18, 2))).cast("double") /
            count(col("__pv")).cast("double"))
          case o => throw new IllegalArgumentException(s"bad level agg $o")
        }
        val agg = pairs.groupBy(col("__pu")).agg(aggC.as(name))
        cur = cur.join(agg, qcol(uidCol) === col("__pu"), joinType).drop("__pu")
        sel.varName.foreach(bindColumn(_, name, dedup = true, dropNulls = true))
      } else if (sel.pred == "val" && sel.valRef.isDefined &&
          cur.columns.contains(s"__seedval_${sel.valRef.get}")) {
        // the root seed already carried this var's value per uid
        // (val-seeded ordered root) — read it in place, no join
        cur = cur.withColumn(name, col(s"__seedval_${sel.valRef.get}"))
      } else if (sel.pred == "val" && sel.valRef.isDefined) {
        val vf = vars(sel.valRef.get).frame
        if (!vf.columns.contains("uid"))
          // val(s) of a SCALAR var (s as count(uid)) has no per-uid map —
          // the reference renders nothing on ordinary uids
          // (TestCountUIDToVar2's me block omits val(s)) but DOES render
          // the value on the var's own SENTINEL uid (uid(total) seeds
          // MaxUint64 — TestNGramAggregation renders {"count": 2})
          cur = cur.withColumn(name,
            vf.limit(1).collect().headOption.map(_.get(0)) match {
              // the scalar is a single driver-side value by construction
              case Some(v) =>
                when(qcol(uidCol) === lit(Long.MaxValue), lit(v))
              case None => lit(null).cast("double")
            })
        else {
          val v = vf.select(col("uid").as("__vs"), col("value").as(name))
          cur = cur.join(v, qcol(uidCol) === col("__vs"), joinType).drop("__vs")
        }
      } else if (sel.constVal.isDefined) {
        // literal-valued field: the GraphQL completion layer's
        // __typename on a concrete type (reference fills it in result
        // completion; here it is a plain constant column)
        cur = cur.withColumn(name, lit(sel.constVal.get))
      } else if (sel.typeNameOf.nonEmpty) {
        // per-node concrete type among the candidate names (interface
        // __typename): one pruned pass over the type tablet, min() picks
        // deterministically if a node ever carries two implementers
        val tn = ts.nodeTypes
          .filter(col("typeName").isin(sel.typeNameOf: _*))
          .groupBy(col("subject"))
          .agg(min(col("typeName")).as(name))
          .withColumnRenamed("subject", "__tn")
        cur = cur.join(tn, qcol(uidCol) === col("__tn"), joinType).drop("__tn")
      } else if (sel.pred == "uid" && !sel.isCount && sel.checkPwd.isEmpty) {
        // uid is implicit (the frontier column itself); `m as uid` binds
        // the current frontier as a uid variable (the upsert-block query
        // shape, reference dql/upsert_test.go)
        sel.varName.foreach { v =>
          bindVar(v, cur.select(qcol(uidCol).as("uid"))
            .filter(col("uid").isNotNull).distinct(), uniqueUid = true)
        }
      } else if (sel.checkPwd.isDefined) {
        // checkpwd(pred, pw): bcrypt-verify the stored hash per row; a
        // missing attribute verifies false (reference worker/task.go:255
        // passwordFn; TestCheckPasswordInvalidAttr). Non-password
        // predicates are rejected (TestPasswordError), as is `uid`
        // (TestUidAttr)
        if (sel.pred == "uid")
          throw new IllegalArgumentException("Argument cannot be \"uid\"")
        schema.predicates.get(sel.pred).foreach { ps =>
          if (ps.dgraphType != "password")
            throw new IllegalArgumentException(
              s"checkpwd fn can only be used on attr: [${sel.pred}] " +
                s"with schema type password. Got type: ${ps.dgraphType}")
        }
        val stored = ts.attr(sel.pred)
          .select(col("subject").as("__ps"), col("value").as("__ph"))
        cur = cur.join(stored, qcol(uidCol) === col("__ps"), joinType)
          .drop("__ps")
          .withColumn(name,
            when(col("__ph").isNull, lit(false)).otherwise(
              graft.functions.PasswordFunctions.bcryptCheck(
                lit(sel.checkPwd.get), col("__ph"))))
          .drop("__ph")
        // `pwd as checkpwd(p, $pwd)` binds 1/0 per uid — the GraphQL
        // check<T>Password rewrite filters the result block on
        // eq(val(pwd), 1) (reference query_rewriter.go passwordQuery)
        sel.varName.foreach { v =>
          bindVar(v, cur.select(qcol(uidCol).as("uid"),
            qcol(name).cast("long").as("value")).dropDuplicates("uid"),
            uniqueUid = false)
        }
      } else if (schema.predicates.get(sel.pred)
          .exists(_.dgraphType == "password") && !sel.isCount) {
        // password values are never fetchable — the field renders as
        // absent (reference TestQueryPassword, outputnode skips pwd vals)
        cur = cur.withColumn(name, lit(null).cast("string"))
      } else if (sel.isCount && sel.pred == "uid") {
        // `f as count(uid)` at block level: a SCALAR value var — the
        // frontier's size, readable from math() in any later block
        // (reference TestCountUidToVar). Stored as a single-row
        // (value)-only frame; the math var-join path broadcasts it.
        sel.varName.foreach { v =>
          bindVar(v, cur.select(qcol(uidCol)).distinct()
            .agg(count(lit(1)).cast("long").as("value")), uniqueUid = false)
        }
      } else if (sel.isCount &&
          !schema.predicates.contains(sel.pred) && !sel.reverse) {
        // count of an UNKNOWN predicate empties the whole block
        // (reference TestCountEmptyData3: c: count(friend2) → me: [])
        cur = cur.filter(lit(false)).withColumn(name, lit(0L))
        // `cnt as count(nonexistent)` still BINDS — an empty value map,
        // so later val(cnt) reads filter everything instead of erroring
        // (reference TestDefaultValueVar1)
        sel.varName.foreach { v =>
          bindVar(v, cur.select(qcol(uidCol).as("uid"), qcol(name).as("value")),
            uniqueUid = false)
          varCols(v) = VarCol(name, uidCol, uidConst = false)
        }
        // the frame just went empty: earlier live-column binds must NOT
        // be rebound from it
        dropsRows()
      } else if (sel.isCount) {
        // count over uid edges, or over VALUES for scalar predicates
        // (reference TestCountFacetsFilteringScalarPredicate); scalar
        // counts follow the value-read lang rule — untagged only
        val isUid = schema.isUidPredicate(sel.pred) || sel.reverse
        val src0 =
          if (sel.reverse) ts.reverseEdge(sel.pred)
          else if (isUid) ts.edge(sel.pred)
          else {
            val rows = ts.attr(sel.pred)
            if (rows.columns.contains("lang") && schema.pred(sel.pred).lang)
              rows.filter(col("lang").isNull)
            else rows
          }
        // count(p @filter(...)): only targets passing the filter count
        // (reference TestQueryEmptyRoomsWithTermIndex)
        val src1 = sel.filter.map(f =>
          applyFilter(src0, if (isUid) "object" else "value", f))
          .getOrElse(src0)
        // count(p) @facets(eq(k, v)): only edges/values whose facets
        // pass are counted (reference TestCountFacetsFiltering*)
        val src = sel.facetFilter.map { ff =>
          if (isUid)
            src1.filter(facetFilterCond(sel.pred, ff, k =>
              if (src1.columns.contains(s"_ft_$k")) col(s"_ft_$k")
              else lit(null).cast("string")))
          else if (src1.columns.contains("facets"))
            src1.filter(facetFilterCond(sel.pred, ff,
              k => element_at(col("facets"), k)))
          else src1.filter(lit(false))
        }.getOrElse(src1)
        // count(p(offset, first)): the count of the PAGE is a pure
        // arithmetic clamp of the full count — no window needed
        // (reference TestToFastJSONFilterOrFirstOffsetCount)
        val pageAdj: Column => Column = c0 => {
          var c = c0
          sel.page.offset.filter(_ > 0)
            .foreach(o => c = greatest(c - o, lit(0L)))
          sel.page.first.filter(_ >= 0)
            .foreach(f => c = least(c, lit(f.toLong)))
          c
        }
        val cnt = src.groupBy(col("subject"))
          .agg(pageAdj(count(lit(1))).as(name))
          .withColumnRenamed("subject", "__cs")
        cur = cur.join(cnt, qcol(uidCol) === col("__cs"), joinType).drop("__cs")
        if (!cascade) cur = cur.withColumn(name, coalesce(qcol(name), lit(0L)))
        // `s as count(friend)`: per-uid edge-count value var (reference
        // TestVarInIneqScore — absent edges bind 0)
        sel.varName.foreach(bindColumn(_, name, dedup = true, dropNulls = false))
      } else if (schema.isUidPredicate(sel.pred) || sel.reverse) {
        // a VAR block renders nothing, so sibling traversal subtrees
        // whose vars no later selection at this level reads can run
        // DETACHED on the bare frontier — binds are identical, and the
        // cumulative frame never takes the sibling-cartesian fan (the
        // LDBC IC01 14-set knows fan-out multiplies sibling subtrees
        // into billions of flat rows otherwise; the reference walks
        // each subgraph child independently, query/query.go ProcessGraph)
        val subVars = boundIn(sel.children)
        val neededHere = sels.exists(o => (o ne sel) && (
          (o.aggOp.isDefined && o.valRef.exists(subVars.contains)) ||
            o.mathExpr.exists(m => mathRefs(m).exists(subVars.contains))))
        // a subtree whose math reads a var bound OUTSIDE it (LDBC IC06:
        // `tc as math(1) ~hasCreator { hasTag { x as math(tc) } }`) must
        // stay attached: the detached bare frontier drops the live source
        // column AND the ancestor uid columns the path-sum transform
        // dedups on (reference transformTo sums per tree path)
        val readsOuter = mathRefsIn(sel.children).exists(r =>
          !subVars.contains(r) && varCols.contains(r))
        if (detached && !cascade && sel.groupby.isEmpty && !neededHere &&
            !readsOuter) {
          val sub = traverse(cur.select(qcol(uidCol)).distinct(), uidCol,
            sel, name, cascade, childRanks, reflex, detached, cascadeFields)
          sel.varName.foreach { v =>
            bindVar(v, sub.select(qcol(name).as("uid"))
              .filter(col("uid").isNotNull).distinct(), uniqueUid = true)
          }
        } else {
          cur = traverse(cur, uidCol, sel, name, cascade, childRanks, reflex,
            detached, cascadeFields)
          fanned = true
          // uid variable: the traversal's target frontier (f as friend)
          sel.varName.foreach { v =>
            bindVar(v,
              cur.select(qcol(name).as("uid")).filter(col("uid").isNotNull)
                .distinct(), uniqueUid = true)
          }
        }
      } else if (!schema.predicates.contains(sel.pred) &&
          sel.pred != "dgraph.type") {
        // unknown predicates in a selection are legal and render nothing
        // (reference TestFacetVarRetrieveOrder selects nonexistent_pred);
        // a var bound on one is EMPTY, not an error
        cur = cur.withColumn(name, lit(null).cast("string"))
        // every var declared anywhere under the dead subtree binds EMPTY
        // (reference TestGroupBy_FixPanicForNilDestUIDs:
        // random_nonexistent { f as uid } → uid(f) is an empty set)
        (sel.varName.toSet ++ boundIn(sel.children)).foreach { v =>
          bindVar(v, cur.select(qcol(uidCol).as("uid"),
            lit(null).cast("double").as("value")).limit(0), uniqueUid = false)
        }
      } else if (sel.pred == "dgraph.type") {
        // dgraph.type as a selection renders the node's type LIST
        // (reference LDBC IS02 golden: "dgraph.type": ["comment"])
        val a = ts.nodeTypes.groupBy(col("subject"))
          .agg(sort_array(collect_list(col("typeName"))).as(name))
          .select(col("subject").as("__as"), qcol(name))
        cur = cur.join(a, qcol(uidCol) === col("__as"), joinType).drop("__as")
      } else {
        // `name @facets(eq(origin, "french"))`: a VALUE-facet filter
        // drops non-matching value rows before lang/list resolution —
        // the value then renders as absent (reference
        // TestFacetsFilterAtValueBasic/-ListType/-WithLangs). A predicate
        // with no declared facet keys has no facets column: every row
        // fails, like the reference's unknown-facet filter.
        val base = sel.facetFilter.map { ff =>
          val b0 = ts.attr(sel.pred)
          if (b0.columns.contains("facets"))
            b0.filter(facetFilterCond(sel.pred, ff,
              k => element_at(col("facets"), k)))
          else b0.filter(lit(false))
        }.getOrElse(ts.attr(sel.pred))
        // pred@en:fr:. — resolve the preference chain per subject
        // (reference ValueForTag, posting/list.go:2094: listed langs in
        // order, '.' = untagged, '*' = any value). A chain of exactly
        // `@*` never reaches here: rewriteBlock's expandStarSels has
        // already split it into one concrete selection per tag.
        val a =
          if (sel.langChain.nonEmpty && base.columns.contains("lang")) {
            val prefs = sel.langChain.map {
              case "*" => min(col("value"))
              // '.' prefers the untagged value, falling back to ANY
              // variant — the reference takes the smallest lang uid
              // (postingForLangs, posting/list.go:2143); smallest lang
              // TAG is the deterministic analogue
              case "." => coalesce(
                max(when(col("lang").isNull, col("value"))),
                min_by(col("value"), col("lang")))
              case l => max(when(col("lang") === l, col("value")))
            }
            // `name@en @facets(origin)` → "name@en|origin" rider of the
            // SELECTED variant's facets (reference TestFacetWithLang);
            // only a single concrete-lang chain carries value facets
            val fvKeys =
              if ((sel.facetFetch || sel.facetKeys.nonEmpty) &&
                  base.columns.contains("facets") &&
                  sel.langChain.size == 1 &&
                  !Seq(".", "*").contains(sel.langChain.head))
                ts.facetKeys.getOrElse(sel.pred, Nil).filter(kv =>
                  sel.facetFetch || sel.facetKeys.contains(kv._1))
              else Nil
            val fvAggs = fvKeys.map { case (k, _) =>
              facetRender(sel.pred, k,
                max(when(col("lang") === sel.langChain.head,
                  element_at(col("facets"), k)))).as(s"${name}__fv_$k")
            }
            base.groupBy(col("subject"))
              .agg(coalesce(prefs: _*).as(name), fvAggs: _*)
              .select(Seq(col("subject").as("__as"), qcol(name)) ++
                fvKeys.map(kv => qcol(s"${name}__fv_${kv._1}")): _*)
          } else {
            // no chain on a @lang predicate: the UNTAGGED value only —
            // a node whose name exists only tagged renders nothing
            // (reference TestQueryEmptyDefaultNames)
            val rows =
              if (base.columns.contains("lang") && schema.pred(sel.pred).lang)
                base.filter(col("lang").isNull)
              else base
            // list predicates ([string] email) aggregate to an ARRAY —
            // the reference renders every value (LDBC IC01 email/language)
            if (schema.pred(sel.pred).isList) {
              // list-value facets render as index-keyed objects aligned
              // with the value array: `"alt_name|origin": {"0": ...}`
              // (reference TestFacetValueListPredicate). DEVIATION: our
              // array order is value-sorted; the reference orders by
              // value fingerprint, which no independent engine can match.
              val fvKeys =
                if ((sel.facetFetch || sel.facetKeys.nonEmpty) &&
                    rows.columns.contains("facets"))
                  ts.facetKeys.getOrElse(sel.pred, Nil).filter(kv =>
                    sel.facetFetch || sel.facetKeys.contains(kv._1))
                else Nil
              if (fvKeys.isEmpty)
                rows.groupBy(col("subject"))
                  .agg(sort_array(collect_list(col("value"))).as(name))
                  .select(col("subject").as("__as"), qcol(name))
              else {
                val entry = struct(col("value").as("v") +:
                  fvKeys.map { case (k, _) =>
                    element_at(col("facets"), k).as(s"f_$k") }: _*)
                rows.groupBy(col("subject"))
                  .agg(array_sort(collect_list(entry)).as("__arr"))
                  .select(Seq(col("subject").as("__as"),
                    transform(col("__arr"), x => x.getField("v")).as(name)) ++
                    fvKeys.map { case (k, _) =>
                      val es = filter(
                        transform(col("__arr"), (x, i) => struct(
                          i.cast("string").as("key"),
                          facetRender(sel.pred, k, x.getField(s"f_$k"))
                            .as("value"))),
                        e => e.getField("value").isNotNull)
                      when(size(es) > 0, map_from_entries(es))
                        .as(s"${name}__fv_$k")
                    }: _*)
              }
            } else {
              // VALUE facets (`name @facets` → "name|origin" keys on the
              // same object, reference TestRetrieveFacetsSimple): one
              // `<col>__fv_<key>` rider per declared key, renderer maps
              // them to `pred|key` fields
              val fvKeys =
                if ((sel.facetFetch || sel.facetKeys.nonEmpty) &&
                    rows.columns.contains("facets"))
                  ts.facetKeys.getOrElse(sel.pred, Nil).filter(kv =>
                    sel.facetFetch || sel.facetKeys.contains(kv._1))
                else Nil
              // datetime: render the offset-preserving display string
              // (reference keeps the written zone — TestDateTimeQuery);
              // the instant rides along for value-var binding
              val renderCol =
                if (rows.columns.contains("display")) col("display")
                else col("value")
              val dtRider =
                if (rows.columns.contains("display") && sel.varName.isDefined)
                  Seq(col("value").as(s"${name}__dtv"))
                else Nil
              rows.select(Seq(col("subject").as("__as"),
                renderCol.as(name)) ++ dtRider ++
                fvKeys.map { case (k, _) =>
                  facetRender(sel.pred, k, element_at(col("facets"), k))
                    .as(s"${name}__fv_$k")
                }: _*)
            }
          }
        cur = cur.join(a, qcol(uidCol) === col("__as"), joinType).drop("__as")
        // value variable: per-uid value map (x as age); list predicates
        // have no single value to bind (TestMultipleValueVarError)
        if (sel.varName.isDefined && schema.pred(sel.pred).isList)
          throw new IllegalArgumentException(
            "Value variables not supported for predicate with list type.")
        sel.varName.foreach { v =>
          // scalar attr values are unique per (subject, predicate) in the
          // store — dedup only if a traversal already fanned the rows out.
          // datetime vars bind the INSTANT rider, not the display string:
          // in-place reads (level aggs, math) must see the instant too
          val vcn = if (cur.columns.contains(s"${name}__dtv"))
            s"${name}__dtv" else name
          bindColumn(v, vcn, dedup = fanned, dropNulls = true)
        }
      }
    }
    // ≥2 live-column binds in this pass: rebind them all from ONE
    // lazily-checkpointed snapshot of the final frame (see the
    // sharedRebinds doc above) — the block plan then materializes once,
    // inside whichever downstream job touches a var first, and every
    // other var map reads the cached partitions. A fanned frame dedups
    // per uid ONCE before the checkpoint (rebind source columns are
    // per-uid constants by construction — attr joins keyed on this
    // level's uid, per-parent aggregates, math over per-uid maps — so
    // any surviving row of a uid carries the right values), making each
    // var map an exchange-free select. A single bind keeps the plain
    // per-var checkpoint.
    if (sharedRebindOk && sharedRebinds.size >= 2) {
      // the snapshot is a LAZY VAL behind thunk binds: building a
      // checkpointed Dataset on an AQE plan executes its query stages,
      // so constructing it here would run the block once even when no
      // var is ever read — the first consumed var forces it instead.
      // No per-var checkpoint on top: the snapshot already truncates
      // the lineage, so each map is a plain select over its cached
      // partitions.
      lazy val snap = (if (fanned) cur.dropDuplicates(Seq(uidCol)) else cur)
        .localCheckpoint(eager = false)
      sharedRebinds.foreach { case (v, mk) =>
        vars(v) = new Binding(mk(snap), uniqueUid = true, materialized = true)
      }
      // the block's own uid var is the frontier, and the non-dropping
      // pass preserved every frontier row — so its uid set is exactly
      // the snapshot's uid column (deduped above when fanned). Rebinding
      // it here saves the var's own checkpoint execution of the seed
      // plan: a `f as var(...)` block consumed via uid(f) + val(x) then
      // materializes ONCE instead of twice.
      blockUidVar.foreach { v =>
        vars(v) = new Binding(snap.select(qcol(uidCol).as("uid")),
          uniqueUid = true, materialized = true)
      }
      // a top-level result block shares the materialization with its
      // own render (detached marks a var block, whose frame is
      // discarded — forcing snap there would run the block unread)
      if (!fanned && !detached) cur = snap
    }
    // __seedval_ riders are internal plumbing from a val-seeded root —
    // never part of the rendered schema; __ma_ columns are the hidden
    // wide-join values already copied to their rendered names. (`__dtv`
    // datetime-instant riders survive until the query surface: parent
    // levels read them for level aggs after this builder returns.)
    cur.drop(cur.columns.filter(c => c.startsWith("__seedval_") ||
      c.startsWith("__ma_")).toSeq: _*)
  }

  /** One traversal level: frontier ⋈ edge view; per-parent order/first
    * via a window (reference applyOrderAndPagination on the uidMatrix,
    * query/query.go:2511).
    */
  private def traverse(df: DataFrame, uidCol: String, sel: Selection,
      name: String, cascade: Boolean, childRanks: Boolean,
      reflex: Option[List[String]], detached: Boolean,
      cascadeFields: Seq[String]): DataFrame = {
    val joinType = if (cascade) "inner" else "left"
    val src = if (sel.reverse) ts.reverseEdge(sel.pred) else ts.edge(sel.pred)
    val needMap = sel.facetFetch || sel.facetKeys.nonEmpty ||
      sel.facetOrder.nonEmpty
    val baseCols = Seq(col("subject").as("__es"), col("object").as(name)) ++
      (if (needMap) Seq(col("facets").as("__fc")) else Nil)
    // @facets(eq(k, v)) / @facets(orderasc: k): comparisons read the
    // TYPED `_ft_<key>` edge columns, not element_at(map) — the predicate
    // then pushes below the map projection into the parquet scan
    // (reference applyFacetsTree, worker/task.go:675)
    val needFt = (sel.facetFilter.map(facetLeafPreds).getOrElse(Nil) ++
      sel.facetOrder.map(_.pred) ++ sel.facetVars.map(_._2)).distinct
    // a facet key never declared on this predicate has no `_ft_` column;
    // the reference treats it as absent on every edge → null (sorts last,
    // filters false) — LDBC IS03 orders by `orderdesc: id` on knows edges
    var child = src.select(baseCols ++
      needFt.map { k =>
        (if (src.columns.contains(s"_ft_$k")) col(s"_ft_$k")
         else lit(null).cast("string")).as(s"__ft_$k")
      }: _*)
    sel.filter.foreach { f => child = applyFilter(child, name, f) }
    sel.facetFilter.foreach { ff =>
      child = child.filter(facetFilterCond(sel.pred, ff))
    }
    sel.page.after.foreach(a => child = child.filter(qcol(name) > a))

    var cur = df.join(child, qcol(uidCol) === col("__es"), joinType).drop("__es")
    // @ignorereflex: a child equal to ANY ancestor on this row's path is
    // not traversed (reference query1 TestReflexive — per-path, not
    // global). NULL the child rather than drop the row: a parent whose
    // only children are ancestors still renders, nested list omitted
    // (Rick stays under Michonne even though his one friend IS Michonne)
    reflex.foreach { chain =>
      val anc = chain :+ uidCol
      val excluded = anc.map(a => qcol(name) <=> qcol(a)).reduce(_ || _)
      cur = cur.withColumn(name,
        when(excluded, lit(null)).otherwise(qcol(name)))
      // a parent with SURVIVING children drops the nulled artifact rows
      // (they would fabricate value-less normalize paths — TestReflexive3
      // has no bare {Me: Rick, Friend: Michonne} row); a parent whose
      // every child was an ancestor keeps exactly one childless row
      val w = Window.partitionBy(anc.map(qcol): _*)
      cur = cur.withColumn("__rfx_n", count(qcol(name)).over(w))
        .withColumn("__rfx_rn",
          row_number().over(w.orderBy(qcol(name).asc_nulls_last)))
        .filter(qcol(name).isNotNull ||
          (col("__rfx_n") === 0 && col("__rfx_rn") === 1))
        .drop("__rfx_n", "__rfx_rn")
    }

    // cascade mode below THIS edge (reference query.go:573-579: a child
    // INHERITS the parent's cascade field list; its own directive
    // overrides — plain/__all__ = full, a field list = parameterized)
    val ownAll = sel.selCascade && sel.selCascadeFields.contains("__all__")
    val ownParam = sel.selCascade && sel.selCascadeFields.nonEmpty && !ownAll
    val subFull =
      if (ownParam) false
      else cascade || (sel.selCascade && (sel.selCascadeFields.isEmpty || ownAll))
    val effFields: Seq[String] =
      if (ownParam) sel.selCascadeFields
      else if (subFull) Nil
      else cascadeFields
    // under ANY cascade form, pagination counts only children SURVIVING
    // the pruning of their own subtree (reference paginates after
    // cascade, query/query.go:663 addCascadePaginationArguments strips
    // first/offset whenever cascade fields are in effect;
    // TestCascadeWithPaginationDeep) — so with children present the page
    // filter is deferred until after the child projection and applied by
    // re-ranking the survivors
    val repageAfterChildren =
      (cascade || sel.selCascade || effFields.nonEmpty) &&
      sel.children.nonEmpty &&
      (sel.page.offset.isDefined || sel.page.first.exists(_ >= 0))
    val needWindow = sel.order.nonEmpty || sel.facetOrder.nonEmpty ||
      sel.page.first.isDefined || sel.page.offset.isDefined || childRanks
    if (needWindow) {
      // @facets(orderasc: k1, orderdesc: k2) sorts the adjacency by the
      // edge facets in key order (reference sortAndPaginateUsingFacet,
      // query/query.go:2611). BOOL facets are not sortable — the
      // reference silently skips them as sort keys while still fetching
      // them (TestFacetsMultipleOrderbyNonsortableFacet)
      // a selection cannot sort by BOTH a predicate and a facet
      // (reference TestDoubleOrder rejects
      // `friend(orderdesc: dob) @facets(orderasc: weight)`)
      if (sel.order.nonEmpty && sel.facetOrder.nonEmpty)
        throw new IllegalArgumentException(
          "Cannot sort by both a predicate and a facet")
      val facetOrd = sel.facetOrder
        .filter(o => facetType(sel.pred, o.pred) != "boolean")
        .map { o =>
          val v = col(s"__ft_${o.pred}")
          if (o.desc) v.desc_nulls_last else v.asc_nulls_last
        }
      val ordCols = sel.order.zipWithIndex.map { case (o, i) =>
        val a = orderAttr(o.pred).select(col("subject").as(s"__ws$i"), col("value").as(s"__wv$i"))
        cur = cur.join(a, qcol(name) === col(s"__ws$i"), "left").drop(s"__ws$i")
        if (o.desc) col(s"__wv$i").desc_nulls_last else col(s"__wv$i").asc_nulls_last
      } ++ facetOrd :+ qcol(name).asc_nulls_last
      // a parent uid repeats once per path to it (two roots sharing a
      // friend, or a fanned sibling edge), and every copy pages the same
      // children: the reference pages each parent uid's uidMatrix row
      // once. dense_rank gives a child one rank across all the copies,
      // where row_number would count its copies as further children.
      val w = Window.partitionBy(qcol(uidCol)).orderBy(ordCols: _*)
      cur = cur.withColumn("__rn", dense_rank().over(w))
      if (repageAfterChildren) {
        // page filter applied after the child subtree prunes (below)
      } else if (sel.page.first.exists(_ < 0)) {
        // negative first: keep the LAST |f| children per parent — the
        // highest child rank over the same window partition (no extra
        // shuffle; a null child ranks last and is no child)
        val cnt = max(when(qcol(name).isNotNull, col("__rn")))
          .over(Window.partitionBy(qcol(uidCol)))
        cur = cur.withColumn("__cn", cnt)
          .filter(qcol(name).isNull ||
            col("__rn") > col("__cn") + sel.page.first.get)
          .drop("__cn")
      } else {
        val lo = sel.page.offset.getOrElse(0)
        val hi = sel.page.first.map(f => lo + f).getOrElse(Int.MaxValue)
        cur = cur.filter(qcol(name).isNull || (col("__rn") > lo && col("__rn") <= hi))
      }
      // A parent whose children ALL fall outside the page still renders,
      // children omitted (reference TestToFastJSONFirstOffsetOutOfBound).
      // Without cascade the edge join is a left join, so every parent
      // row reaches the page with a child rank from 1 or a null child,
      // and the filter above keeps every null child, rank 1 when
      // offset = 0 and first > 0 (or absent), and the top rank when
      // first < 0. A parent can lose all its rows only to first: 0 or
      // to an offset >= its child count; only then is the lost set
      // planned, since the anti-join re-embeds the level's input plan.
      val pageCanEmpty = sel.page.first.contains(0) ||
        (sel.page.offset.exists(_ > 0) && !sel.page.first.exists(_ < 0))
      if (!cascade && !repageAfterChildren && pageCanEmpty) {
        // a null parent (no edge one level up) is never lost: its one
        // row keeps its null child
        val lost = df.filter(qcol(uidCol).isNotNull)
          .join(cur.select(qcol(uidCol)).distinct(), Seq(uidCol), "left_anti")
        cur = cur.unionByName(lost, allowMissingColumns = true)
      }
      cur = cur.drop(sel.order.indices.map(i => s"__wv$i"): _*)
      // JSON rendering keeps the traversal order so child arrays come out
      // in requested order (reference outputnode preserves uidMatrix order)
      cur = if (childRanks || repageAfterChildren)
        cur.withColumnRenamed("__rn", s"${name}__rn")
      else cur.drop("__rn")
    }
    // @facets fetch: one `<pred>_f_<key>` column per declared facet key;
    // @facets(k1, k2) restricts to the named keys
    // (reference output keys `pred|facet`, outputnode.go)
    if (needMap) {
      // @facets / @facets(k1, k2); a facet ORDERING also fetches its key
      // (reference emits `pred|facet` for the sort facet, TestOrderFacets
      // golden, query_facets_test.go:188)
      val declared = ts.facetKeys.getOrElse(sel.pred, Nil)
      // named fetches and order keys UNION (TestFacetsMultipleOrderby-
      // AllFacets: `@facets(fastfriend, from, orderdesc:score)` renders
      // all three)
      val keys =
        if (sel.facetFetch) declared
        else declared.filter(kv => sel.facetKeys.contains(kv._1) ||
          sel.facetOrder.exists(_.pred == kv._1))
      keys.foreach { case (k, _) =>
        cur = cur.withColumn(s"${name}_f_$k",
          facetRender(sel.pred, k, element_at(col("__fc"), k)))
      }
    }
    if (needMap) cur = cur.drop("__fc")
    // @facets(L as weight): bind facet value var L keyed by the edge
    // TARGET uid (reference TestFilterFacetval — `friend @filter(uid(L))
    // { val(L) }` then reads it back per child). Numeric facet values
    // SUM over a target's distinct in-edges (the reference's var-map
    // collision rule); the per-edge value also stays live as a column so
    // deeper math can path-propagate it (TestLevelBasedFacetVarSum).
    sel.facetVars.foreach { case (v, k) =>
      val keep = s"__fvv_$v"
      cur = cur.withColumn(keep, col(s"__ft_$k"))
      val src = cur.select(qcol(uidCol).as("__fp"), qcol(name).as("uid"),
          col(keep).as("value"))
        .filter(col("uid").isNotNull && col("value").isNotNull)
      val numeric = src.schema("value").dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType]
      bindVar(v,
        if (numeric)
          src.dropDuplicates("__fp", "uid", "value")
            .groupBy(col("uid")).agg(sum(col("value")).as("value"))
        else src.select(col("uid"), col("value")).dropDuplicates("uid"),
        uniqueUid = false)
      varCols(v) = VarCol(keep, name, uidConst = false)
    }
    cur = cur.drop(needFt.map(k => s"__ft_$k"): _*)
    // bind the target frontier EARLY so a deeper selection of THIS
    // subtree can filter against it (reference TestUseVarsFilterVarReuse1:
    // `L as friend { ... friend @filter(uid(L)) }`); the caller re-binds
    // from the final frame after the subtree completes
    sel.varName.foreach { v =>
      bindVar(v, cur.select(qcol(name).as("uid"))
        .filter(col("uid").isNotNull).distinct(), uniqueUid = true)
    }
    if (sel.children.nonEmpty) {
      // child-level @cascade: this subtree prunes like a cascade block
      // (reference TestFacetsNestedCascade). The parameterized form
      // @cascade(f1, f2) requires only the LISTED subtree fields, which
      // INHERIT into deeper levels (reference query.go:573 — at each
    // level the requirement is the list intersected with that level's
      // queried fields) and REPLACE any propagated full cascade
      // (systest TestCascadeParams "cascade at root and parameterized at
      // lower level": friends under a root @cascade render without the
      // unlisted age); __all__ spells the full form.
      // frontier identity across the hop: reverse edges land on the
      // edge's owner types, forward edges on the store's pinned target
      // types (empty = unknown)
      val childTypes =
        if (sel.reverse) ownerTypes(sel.pred)
        else ts.edgeTargetTypes(sel.pred)
      val sub0 = project(cur, name, sel.children, subFull, s"${name}_",
        childRanks, reflex.map(_ :+ uidCol), detached,
        cascadeFields = effFields, frontierTypes = childTypes)
      // pruning at THIS level: the LISTED fields that this level
      // actually queries must be present on the edge target. An
      // UNLISTED queried field is not required; a listed-but-unqueried
      // field is required only where queried (reference golden 1: root
      // @cascade(name, age) with friend { name } keeps age-less
      // friends). @cascade(uid) resolves to edge presence — a no-op on
      // edge rows, like the reference where uid always exists. A name
      // from the OWN directive that matches nothing here is an error
      // (the reference validates its own args); inherited names simply
      // don't apply at this level.
      val need = effFields.filterNot(_ == "uid").flatMap { f =>
        sel.children.find(c => c.outName == f || c.pred == f ||
            c.alias.contains(f)).map(c => s"${name}_${c.outName}") match {
          case some @ Some(_) => some
          case None if ownParam => throw new IllegalArgumentException(
            s"@cascade($f): no selection named '$f' under " +
              s"'${sel.outName}' (have: ${
                sel.children.map(_.outName).mkString(", ")})")
          case None => None
        }
      }
      val sub =
        if (need.isEmpty) sub0
        // drop edge rows whose TARGET misses a required field;
        // edge-less parent rows (null target from the left join) keep
        // their semantics and re-render through the lost-union below
        else sub0.filter(qcol(name).isNull ||
          need.map(c => qcol(c).isNotNull).reduce(_ && _))
      cur =
        if ((sel.selCascade || need.nonEmpty) && !cascade) {
          // selection-level @cascade prunes only THIS subtree: a parent
          // whose every edge target failed the cascade still renders,
          // edge key omitted — the directive never propagates above its
          // selection (reference TestCascadeSubQuery1/2)
          val lost = df.join(sub.select(qcol(uidCol)).distinct(),
            Seq(uidCol), "left_anti")
          sub.unionByName(lost, allowMissingColumns = true)
        } else sub
    }
    if (repageAfterChildren) {
      // re-rank what survived the cascade: dense_rank over the
      // pre-pruning adjacency order gives each remaining child its
      // post-pruning position even on grandchild-fanned duplicate rows
      val w2 = Window.partitionBy(qcol(uidCol))
        .orderBy(qcol(s"${name}__rn").cast("long").asc)
      val lo = sel.page.offset.getOrElse(0)
      val hi = sel.page.first.filter(_ >= 0).map(f => lo + f)
        .getOrElse(Int.MaxValue)
      cur = cur.withColumn("__rr", dense_rank().over(w2))
        .filter(qcol(s"${name}__rn").isNull ||
          (col("__rr") > lo && col("__rr") <= hi)).drop("__rr")
      if (!childRanks) cur = cur.drop(s"${name}__rn")
    }
    cur
  }

  private def isIntegerCol(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType => true
      case _ => false
    }

  private def mathRefs(m: MathNode): Seq[String] = m match {
    case MathRef(n) => Seq(n)
    case MathBin(_, l, r) => mathRefs(l) ++ mathRefs(r)
    case MathFunc(_, args) => args.flatMap(mathRefs)
    case _ => Nil
  }

  /** True when a math subtree is INTEGER-typed under the reference's
    * typed evaluation (query/math.go: int ops on int operands stay int —
    * incl. truncating division; any float operand promotes the tree;
    * transcendentals are float; comparisons are bool). A ref is integral
    * when its bound `__m_` column is integer-typed in the frame.
    */
  private def mathIntegral(m: MathNode, intRefs: Set[String]): Boolean =
    m match {
      case MathNum(_, i, _) => i
      case MathRef(n) => intRefs(n)
      case MathBin(op, l, r) if "+-*/%".contains(op) =>
        mathIntegral(l, intRefs) && mathIntegral(r, intRefs)
      case MathFunc(f, args)
          if f == "floor" || f == "ceil" || f == "min" || f == "max" =>
        args.forall(mathIntegral(_, intRefs))
      case MathFunc("cond", Seq(_, t, f)) =>
        mathIntegral(t, intRefs) && mathIntegral(f, intRefs)
      case _ => false
    }

  /** math() expression → Column (reference query/math.go:40-250
    * processBinary/processUnary: % pow logbase min max floor ceil ln exp
    * sqrt cond since, comparisons, unary minus). Integer subtrees run in
    * LONG arithmetic (TestFloatConverstion: ceil(x2/c) truncates to 13
    * where ceil((1.0*x2)/c) rounds to 14; TestBigMathValue: 2^55-scale
    * ints are exact); float subtrees stay double like the reference's
    * float math (floor/ceil cast back to double — Spark returns BIGINT).
    */
  private def mathCol(m: MathNode, intRefs: Set[String] = Set.empty)
      : Column = {
    def num(x: MathNode): Column = mathCol(x, intRefs)
    def isInt(x: MathNode): Boolean = mathIntegral(x, intRefs)
    // vector operand: the raw ARRAY column / literal, no double cast;
    // +,-,* inside a dot operand are ELEMENTWISE (reference similar-by-
    // embedding rewrite: math(sqrt((v2 - $vec) dot (v2 - $vec))),
    // graphql/resolve/query_rewriter.go:840)
    def vec(x: MathNode): Column = x match {
      case MathVec(vs) => array(vs.map(lit): _*)
      case MathRef(n) => col(s"__m_$n").cast("array<double>")
      case MathBin("+", l, r) => zip_with(vec(l), vec(r), (a, b) => a + b)
      case MathBin("-", l, r) => zip_with(vec(l), vec(r), (a, b) => a - b)
      case MathBin("*", l, r) => zip_with(vec(l), vec(r), (a, b) => a * b)
      case other => throw new IllegalArgumentException(
        s"dot requires vector operands, got $other")
    }
    m match {
      case MathNum(v, i, exact) => if (i) lit(exact) else lit(v)
      case MathVec(_) => throw new IllegalArgumentException(
        "a vector literal is only valid as a dot operand")
      case MathRef(n) =>
        if (intRefs(n)) col(s"__m_$n") else col(s"__m_$n").cast("double")
      case MathBin("dot", l, r) =>
        // float32vector dot product (reference math.go vector ops;
        // TestDotProductWithConstantVector) — codegen'd zip_with/aggregate
        aggregate(zip_with(vec(l), vec(r), (a, b) => a * b),
          lit(0.0), (acc, x) => acc + x)
      case MathBin("+", l, r) => num(l) + num(r)
      case MathBin("-", l, r) => num(l) - num(r)
      case MathBin("*", l, r) => num(l) * num(r)
      case MathBin("/", l, r) =>
        if (isInt(l) && isInt(r))
          // int/int truncates toward zero at full 64-bit precision
          // (exact decimal divide — a double intermediate would lose
          // bits past the 53-bit mantissa)
          (num(l).cast("decimal(38,0)") / num(r).cast("decimal(38,0)"))
            .cast("long")
        else num(l) / num(r)
      case MathBin("%", l, r) => num(l) % num(r)
      case MathBin("<", l, r) => num(l) < num(r)
      case MathBin(">", l, r) => num(l) > num(r)
      case MathBin("<=", l, r) => num(l) <= num(r)
      case MathBin(">=", l, r) => num(l) >= num(r)
      case MathBin("==", l, r) => num(l) === num(r)
      case MathBin("!=", l, r) => num(l) =!= num(r)
      case MathFunc("ln", Seq(a)) =>
        // Go's math.Log(0) is -Inf; the reference's JSON encoder clamps
        // infinities to ±MaxFloat64 (TestQueryVarValAggNestedFuncUnary's
        // combiLog golden) — Spark's log() would yield NULL instead
        when(num(a) <= 0, lit(-Double.MaxValue)).otherwise(log(num(a)))
      case MathFunc("exp", Seq(a)) => exp(num(a))
      case MathFunc("sqrt", Seq(a)) => sqrt(num(a))
      case MathFunc("floor", Seq(a)) =>
        if (isInt(a)) num(a) else floor(num(a)).cast("double")
      case MathFunc("ceil", Seq(a)) =>
        if (isInt(a)) num(a) else ceil(num(a)).cast("double")
      case MathFunc("pow", Seq(a, b)) => pow(num(a), num(b))
      // logbase(a, b) = log of a in base b (reference query/math.go)
      case MathFunc("logbase", Seq(a, b)) => log(num(a)) / log(num(b))
      case MathFunc("min", args) if args.size >= 2 => least(args.map(num): _*)
      case MathFunc("max", args) if args.size >= 2 =>
        greatest(args.map(num): _*)
      case MathFunc("cond", Seq(c, t, f)) =>
        when(num(c), num(t)).otherwise(num(f))
      // since(t): seconds from the datetime value to query time (the
      // reference evaluates against the request timestamp). Timestamp
      // vars cast to double = epoch seconds.
      case MathFunc("since", Seq(a)) =>
        current_timestamp().cast("double") - num(a)
      case MathFunc(f, args) =>
        throw new IllegalArgumentException(s"unsupported math fn $f/${args.size}")
      case MathBin(op, _, _) =>
        throw new IllegalArgumentException(s"unsupported math op $op")
    }
  }

  private def facetType(pred: String, key: String): String =
    ts.facetKeys.getOrElse(pred, Nil).collectFirst {
      case (k, t) if k == key => t
    }.getOrElse("string")

  /** Render column for one facet value: the declared facet type drives
    * the JSON shape (`path|weight`: 0.2, not "0.2" — reference
    * TestFilterFacetval golden). Type "auto" mirrors the reference's
    * per-VALUE type inference (facets.ParseFacetValue tries int/float/
    * bool before string — `friend|tag` renders "Domain3" on one edge and
    * 34 on another): a VARIANT column, so to_json emits each value as
    * its parsed type, falling back to a JSON string when the raw text
    * isn't a standalone JSON scalar.
    */
  private def facetRender(pred: String, key: String, v: Column): Column =
    facetType(pred, key) match {
      case "auto" =>
        val esc = regexp_replace(
          regexp_replace(v, "\\\\", "\\\\\\\\"), "\"", "\\\\\"")
        coalesce(try_parse_json(v),
          try_parse_json(concat(lit("\""), esc, lit("\""))))
      // datetime facets render their ingest-normalized RFC3339 string
      case "datetime" => v
      case t => v.cast(t)
    }

  private def facetLeafPreds(f: FilterNode): Seq[String] = f match {
    case FilterLeaf(fn) => Seq(fn.pred)
    case FilterAnd(cs) => cs.flatMap(facetLeafPreds)
    case FilterOr(cs) => cs.flatMap(facetLeafPreds)
    case FilterNot(c) => facetLeafPreds(c)
  }

  /** Boolean facet-filter tree over the typed `__ft_` columns
    * (reference applyFacetsTree, worker/task.go:675). An edge MISSING a
    * facet fails that leaf (coalesce to false), so NOT(leaf) keeps it —
    * reference facet-filter null semantics
    * (TestFacetsFilterNotAndOrgeMutuallyExclusive). Term leaves
    * (allofterms/anyofterms) tokenize the facet string like the term
    * index. An "auto"-typed facet compares as its raw string.
    */
  private def facetFilterCond(pred: String, f: FilterNode,
      keyCol: String => Column = k => col(s"__ft_$k"),
      negated: Boolean = false): Column = f match {
    case FilterLeaf(fn) =>
      val t0 = facetType(pred, fn.pred)
      // "datetime" facets compare as timestamps (the reference parses
      // the filter arg as a datetime — an unzoned literal still matches
      // a stored UTC value, TestCountFacetsFilteringUidListPredicate)
      val t = if (t0 == "datetime") "timestamp" else t0
      // edge paths pass pre-typed __ft_ columns (cast is a no-op); value
      // paths pass raw map lookups that type here
      val v = if (t == "auto") keyCol(fn.pred) else keyCol(fn.pred).cast(t)
      val cond = fn.name match {
        case "eq" | "le" | "lt" | "ge" | "gt" =>
          val litC =
            if (t == "auto") lit(fn.args.head)
            else lit(fn.args.head).cast(t)
          fn.name match {
            case "eq" => v === litC
            case "le" => v <= litC
            case "lt" => v < litC
            case "ge" => v >= litC
            case "gt" => v > litC
          }
        case "allofterms" | "anyofterms" =>
          val tok = graft.functions.TokenizerRegistry("term")
          val toks = tok.tokensLit(fn.args.head)
          if (toks.isEmpty) lit(false)
          else {
            val vToks = tok.tokens(v.cast("string"))
            val qArr = array(toks.map(lit(_)): _*)
            if (fn.name == "anyofterms") arrays_overlap(vToks, qArr)
            else forall(qArr, tk => array_contains(vToks, tk))
          }
        case o =>
          throw new IllegalArgumentException(s"unsupported facet fn $o")
      }
      // the missing-facet→false coalesce is only OBSERVABLE under an
      // enclosing NOT (a bare null leaf would make !null = null, DROPPING
      // the edge the reference keeps). At positive polarity a WHERE
      // treats null exactly like false, and the bare comparison stays
      // eligible for parquet pushdown — coalesce(…) never pushes.
      if (negated) coalesce(cond, lit(false)) else cond
    case FilterAnd(cs) =>
      cs.map(facetFilterCond(pred, _, keyCol, negated)).reduce(_ && _)
    case FilterOr(cs) =>
      cs.map(facetFilterCond(pred, _, keyCol, negated)).reduce(_ || _)
    case FilterNot(c) => !facetFilterCond(pred, c, keyCol, !negated)
  }

  /** `pred @groupby(p1, p2) { count(uid) min/max/sum/avg(q | val(x)) }` —
    * traverse the edge, group the targets by the grouping predicates'
    * values, aggregate (reference query/groupby.go:130 multi-attr keys,
    * :195 aggregation children). Sum/avg go through exact decimal sums
    * (partitioning-independent), same as aggregateBlock.
    */
  private def groupbyBlock(frontier: DataFrame, sel: Selection): DataFrame = {
    val src = if (sel.reverse) ts.reverseEdge(sel.pred) else ts.edge(sel.pred)
    // entities are the DISTINCT traversal targets (reference
    // fillGroupedVars groups over the merged unique SrcUIDs, so a node
    // reached from two parents counts once). When the store proves the
    // edge's objects globally unique (each child has one parent), the
    // frontier join cannot duplicate them — the dedup exchange is an
    // identity and is skipped (the frontier here is a root uid set,
    // distinct by seedUids' contract).
    val targets0 = frontier
      .join(src.select(col("subject").as("uid"), col("object").as("__t")), Seq("uid"))
      .select(col("__t"))
    val targets =
      if (!sel.reverse && ts.edgeObjectsUnique(sel.pred)) targets0
      else targets0.distinct()
    groupbyGroups(targets, sel.groupby, sel.children,
        if (sel.reverse) Set.empty else ts.edgeTargetTypes(sel.pred)) match {
      case None => throw new IllegalArgumentException(
        s"@groupby over unknown predicate(s): ${sel.groupby.map(_.pred)}")
      case Some(g) =>
        // `a as count(uid)` / `a as max(p)` inside @groupby binds a value
        // var KEYED BY THE GROUP's uid (reference fillGroupedVars,
        // query/groupby.go:265 — legal only when grouped by one uid
        // predicate)
        val varKids = sel.children.filter(_.varName.isDefined)
        if (varKids.nonEmpty) {
          require(sel.groupby.size == 1 &&
            schema.isUidPredicate(sel.groupby.head.pred),
            "vars can be assigned only when grouping by a single uid predicate")
          val kc = s"__k_${sel.groupby.head.outName}"
          varKids.foreach { c =>
            bindVar(c.varName.get,
              g.select(qcol(kc).as("uid"), qcol(s"__a_${c.outName}").as("value")),
              uniqueUid = true)
          }
        }
        // flat relational surface: keys (named alias-or-pred) + aggregates
        g.select(sel.groupby.map(k => qcol(s"__k_${k.outName}").as(k.outName)) ++
          sel.children.map(c => qcol(s"__a_${c.outName}").as(c.outName)): _*)
    }
  }

  /** Grouped rows for @groupby over an entity frame (reference
    * query/groupby.go formResult): `targets` has column `__t` (the
    * entities; duplicates allowed — deduped per key join) plus any
    * pass-through parent columns.
    *
    * Output: one row per (parent cols, key combination) with
    *  - `__k_<name>` the typed key value (LONG for uid predicates),
    *  - `__a_<name>` each aggregate (`count(uid)` → group size,
    *    min/max/sum/avg(pred)),
    *  - `__n` the group's entity count (the reference's primary sort key
    *    for group order, groupby.go:387 groupLess).
    * An entity missing a key value drops out (inner join — formGroups
    * only intersects entities present in every key's dedup map). Returns
    * None when any key predicate is unknown (reference renders no
    * groups, TestGroupByRootEmpty).
    */
  private def groupbyGroups(targets: DataFrame, keys: Seq[GroupKey],
      aggs: Seq[Selection], frontierTypes: Set[String] = Set.empty):
      Option[DataFrame] = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(18, 2)
    val parentCols = targets.columns.filter(_ != "__t").toSeq
    // tablet-group fetch (mirrors project()'s wide path): scalar key and
    // aggregate-input predicates co-located in one source table join
    // ONCE through the store's wide frame instead of once per predicate
    // — and min(p)+max(p) over the same predicate share one column read
    // either way.
    def wideEligible(p: String): Boolean =
      p != "uid" && !schema.isUidPredicate(p) &&
        schema.predicates.get(p).exists(ps => !ps.isList && !ps.lang &&
          Set("string", "default", "int", "float", "datetime")
            .contains(ps.dgraphType))
    val aggIns = aggs.filter(c => c.aggOp.isDefined)
    val widePreds = (keys.map(_.pred) ++
      aggIns.filter(_.valRef.isEmpty).map(_.pred))
      .filter(wideEligible).distinct
    val wideGroups =
      if (widePreds.size >= 2) ts.attrWide(widePreds, frontierTypes) else Nil
    val wideCovered: Set[String] = wideGroups.flatMap(_.preds).toSet
    var cur = targets
    // the wide join is INNER when a key predicate rides it (the melted
    // key join is inner: an entity with no tablet row for the key must
    // drop out) and LEFT when only aggregate inputs do. A wide KEY
    // column additionally filters IsNotNull: a multi-table union fills
    // typed nulls for columns a member table doesn't own, and a null
    // value means "no posting" in a general store — either way the
    // melted path has no tablet row, so the entity drops instead of
    // landing in a null group (WideReadParitySpec pins the union-key
    // case; this also hardens single-table groups against stores whose
    // source columns are nullable).
    wideGroups.foreach { g =>
      val gKeys = keys.map(_.pred).distinct.filter(g.preds.toSet)
      val jt = if (gKeys.nonEmpty) "inner" else "left"
      cur = cur.join(g.frame.withColumnRenamed("subject", "__t"), Seq("__t"), jt)
      gKeys.foreach(p => cur = cur.filter(col(s"__ma_$p").isNotNull))
    }
    for (k <- keys) {
      val kc = s"__k_${k.outName}"
      if (k.pred == "uid")
        // @groupby(uid): the entity itself is the key (reference
        // TestGroupBy_FixPanicForNilDestUIDs groups an empty uid set)
        cur = cur.withColumn(kc, col("__t"))
      else if (wideCovered(k.pred))
        cur = cur.withColumn(kc, col(s"__ma_${k.pred}"))
      else if (schema.isUidPredicate(k.pred))
        cur = cur.join(ts.edge(k.pred)
          .select(col("subject").as("__t"), col("object").as(kc)), Seq("__t"))
      else if (schema.predicates.contains(k.pred))
        cur = cur.join(ts.attr(k.pred)
          .select(col("subject").as("__t"), col("value").as(kc)), Seq("__t"))
      else return None
    }
    // aggregate inputs join on the entity BEFORE grouping — one join
    // per DISTINCT melted source; duplicate-source aggregates (min and
    // max of the same predicate or var) alias the already-joined column
    val joinedSrc = scala.collection.mutable.Map.empty[String, String]
    for (c <- aggIns) {
      val ac = s"__in_${c.outName}"
      c.valRef match {
        case None if wideCovered(c.pred) =>
          cur = cur.withColumn(ac, col(s"__ma_${c.pred}"))
        case src =>
          val key = src.map("var:" + _).getOrElse("pred:" + c.pred)
          joinedSrc.get(key) match {
            case Some(have) => cur = cur.withColumn(ac, col(have))
            case None =>
              val vsrc = src
                .map(v => vars(v).frame.select(col("uid").as("__t"), col("value")))
                .getOrElse(ts.attr(c.pred)
                  .select(col("subject").as("__t"), col("value")))
              cur = cur.join(vsrc.withColumnRenamed("value", ac),
                Seq("__t"), "left")
              joinedSrc(key) = ac
          }
      }
    }
    val keyCols = keys.map(k => qcol(s"__k_${k.outName}"))
    val aggCols = aggs.map { c =>
      val out = s"__a_${c.outName}"
      if (c.isCount && c.pred == "uid") count(col("__t")).as(out)
      else if (c.aggOp.isDefined) {
        val cc = qcol(s"__in_${c.outName}")
        c.aggOp.get match {
          case "min" => min(cc).as(out)
          case "max" => max(cc).as(out)
          case "sum" => sum(cc.cast(dec)).cast("double").as(out)
          case "avg" => (sum(cc.cast(dec)).cast("double") /
            count(cc).cast("double")).as(out)
          case o => throw new IllegalArgumentException(
            s"unsupported @groupby aggregation: $o")
        }
      } else throw new IllegalArgumentException(
        s"unsupported @groupby child: ${c.pred}")
    } :+ count(col("__t")).as("__n")
    Some(cur.groupBy(parentCols.map(col) ++ keyCols: _*)
      .agg(aggCols.head, aggCols.tail: _*))
  }

  /** Rendered `{"@groupby":[...]}` ARRAY column per parent-column group
    * (reference outputnode.go "@groupby" fanout): groups become structs
    * (uid keys hex-rendered, default child names `count` / `op(pred)`),
    * ordered by the reference's groupLess — group size ascending, then
    * key values, then aggregate values.
    */
  private def groupbyArray(groups: DataFrame, keys: Seq[GroupKey],
      aggs: Seq[Selection], parentCols: Seq[String]): DataFrame = {
    def gbName(c: Selection): String = c.alias.getOrElse(
      if (c.isCount && c.pred == "uid") "count"
      else s"${c.aggOp.get}(${c.valRef.map("val(" + _ + ")").getOrElse(c.pred)})")
    val keyFields = keys.map { k =>
      val kc = qcol(s"__k_${k.outName}")
      if (k.pred == "uid" || schema.isUidPredicate(k.pred))
        hexUid(kc).as(k.outName)
      // geo keys render as EMBEDDED GeoJSON objects, not escaped strings
      // (reference TestGroupByGeoCrash: {"loc":{"type":"Point",...}}) —
      // marked here, spliced after to_json by geoSplice
      else if (schema.predicates.get(k.pred).exists(_.dgraphType == "geo"))
        concat(lit("\u0001"), kc, lit("\u0002")).as(k.outName)
      else kc.as(k.outName)
    }
    val aggFields = aggs.map(c => qcol(s"__a_${c.outName}").as(gbName(c)))
    val payload = struct(keyFields ++ aggFields: _*)
    val sortKey = struct(col("__n") +:
      (keys.map(k => qcol(s"__k_${k.outName}")) ++
        aggs.map(c => qcol(s"__a_${c.outName}"))): _*)
    val arr = transform(
      sort_array(collect_list(struct(sortKey.as("o"), payload.as("p")))),
      x => x.getField("p"))
    val wrapped = array(struct(arr.as("@groupby")))
    if (parentCols.isEmpty) groups.agg(wrapped.as("__gb"))
    else groups.groupBy(parentCols.map(col): _*).agg(wrapped.as("__gb"))
  }

  /** Block-level aggregation over variables (reference evalLevelAgg,
    * query/query.go:1042): sum/avg go through exact decimal sums so the
    * result is partitioning-independent.
    */
  private def aggregateBlock(frontier: DataFrame, b: QueryBlock): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(18, 2)
    var joined = frontier // col "uid"
    val refs = b.selections.flatMap(_.valRef).distinct
    refs.foreach { v =>
      joined = joined.join(
        vars(v).frame.select(col("uid"), col("value").as(s"__v_$v")), Seq("uid"), "left")
    }
    // min/max/sum/avg(pred) directly over an attribute tablet. Sibling
    // predicates co-located in one source table ride ONE wide left join
    // (GraphStore.attrWide) instead of one tablet join each; left-join
    // equivalence holds for union groups too (subjects are disjoint by
    // uid banding, absent columns are typed nulls — exactly what the
    // melted left join delivers), so any returned group is usable.
    val predAggs = b.selections
      .filter(s => s.aggOp.isDefined && s.valRef.isEmpty).map(_.pred).distinct
    val aggWideable = predAggs.filter(p =>
      schema.predicates.get(p).exists(ps => !ps.isList && !ps.lang &&
        Set("string", "default", "int", "float", "datetime")
          .contains(ps.dgraphType)))
    val aggWide =
      if (aggWideable.size >= 2) ts.attrWide(aggWideable) else Nil
    val aggWideCovered: Set[String] = aggWide.flatMap(_.preds).toSet
    aggWide.foreach { g =>
      joined = joined.join(
        g.frame.select(col("subject").as("uid") +:
          g.preds.map(p => col(s"__ma_$p").as(s"__v_$p")): _*),
        Seq("uid"), "left")
    }
    predAggs.filterNot(aggWideCovered).foreach { p =>
      joined = joined.join(
        ts.attr(p).select(col("subject").as("uid"), col("value").as(s"__v_$p")),
        Seq("uid"), "left")
    }
    val aggCols = b.selections.map { sel =>
      if (sel.isCount && sel.pred == "uid") count(col("uid")).as(sel.outName)
      else {
        val c = qcol(s"__v_${sel.valRef.getOrElse(sel.pred)}")
        sel.aggOp.get match {
          case "min" => min(c).as(sel.outName)
          case "max" => max(c).as(sel.outName)
          case "sum" => sum(c.cast(dec)).cast("double").as(sel.outName)
          case "avg" => (sum(c.cast(dec)).cast("double") /
            count(c).cast("double")).as(sel.outName)
        }
      }
    }
    val out = joined.agg(aggCols.head, aggCols.tail: _*)
    // `f as count(uid)` binds a SCALAR value var — the frontier's size,
    // readable from math() in any later block (reference
    // TestCountUidToVar). Stored as a single-row (value)-only frame.
    b.selections.filter(s => s.isCount && s.pred == "uid" &&
        s.varName.isDefined).foreach { s =>
      bindVar(s.varName.get,
        out.select(col(s.outName).cast("long").as("value")), uniqueUid = false)
    }
    out
  }

  // ---- nested JSON output (reference outputnode.go ToJson shape) ----

  /** uid rendered the reference way: "0x" + lowercase hex
    * (outputnode.go writes uids as hex strings).
    */
  private def hexUid(c: Column): Column =
    concat(lit("0x"), Uids.hex(c))

  /** hexUid of a collected uid. */
  private def hexS(u: Long): String = "0x" + java.lang.Long.toHexString(u)

  /** A JSON string literal, escaped as to_json's generator escapes it. */
  private def quote(s: String): String =
    "\"" + new String(JsonStringEncoder.getInstance.quoteAsString(s)) + "\""

  /** A JSON object of rendered values in the given key order; null values
    * are omitted, as to_json omits null fields.
    */
  private def jsonObj(fields: Seq[(String, String)]): String =
    fields.collect { case (k, v) if v != null => quote(k) + ":" + v }
      .mkString("{", ",", "}")

  /** `c` rendered as to_json renders it as an object field under
    * `jsonOpts`: the value text of `{"v":…}`, null for null.
    */
  private def jsonValue(c: Column): Column = {
    val j = to_json(struct(c.as("v")), jsonOpts)
    when(j =!= "{}", j.substr(lit(6), length(j) - 6))
  }

  /** A small (uid, json) frame's rows, in its order. */
  private def collectJson(df: DataFrame): Seq[(Long, String)] =
    df.select(col("uid"), col("json")).collect().toSeq
      .map(r => (r.getLong(0), r.getString(1)))

  /** `xs` grouped by `key`, groups in first-seen order. */
  private def grouped[A, K](xs: Seq[A])(key: A => K): Seq[(K, Seq[A])] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[K, ArrayBuffer[A]]
    xs.foreach(x => m.getOrElseUpdate(key(x), ArrayBuffer.empty[A]) += x)
    m.toSeq.map { case (k, v) => (k, v.toSeq) }
  }

  /** Un-escape marker-wrapped geo values in a rendered JSON string:
    * `"\u0001{\"type\":...}\u0002"` → the raw GeoJSON object embedded in
    * place (reference outputnode.go writes geo postings as JSON objects,
    * TestGroupByGeoCrash). No-op column pass-through unless one of
    * `preds` is geo-typed; Jackson escapes the control-char markers as
    * six-char `\u0001` sequences, which is what the regex targets.
    */
  private def geoSplice(j: Column, preds: Seq[String]): Column =
    if (!preds.exists(p => schema.predicates.get(p).exists(_.dgraphType == "geo")))
      j
    else {
      val spliceUdf = udf((s: String) =>
        if (s == null) null
        else
          "\"\\\\u0001((?:[^\"\\\\]|\\\\.)*)\\\\u0002\"".r
            .replaceAllIn(s, m => java.util.regex.Matcher.quoteReplacement(
              m.group(1).replace("\\\"", "\"").replace("\\\\", "\\"))))
      spliceUdf(j)
    }

  /** Merge duplicate top-level keys of a rendered JSON object by
    * concatenating their ARRAY values in encounter order (reference
    * TestGroupBy_RepeatAttr: `friend @groupby(..)` + `friend {..}`
    * render ONE "friend" array, groupby object first). Token-stream
    * read because a tree parse would silently drop the duplicates.
    */
  private def mergeDupKeys(s: String): String = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val p = m.getFactory.createParser(s)
    import com.fasterxml.jackson.core.JsonToken
    val order = scala.collection.mutable.ArrayBuffer.empty[String]
    val vals = scala.collection.mutable.LinkedHashMap
      .empty[String, List[com.fasterxml.jackson.databind.JsonNode]]
    if (p.nextToken() == JsonToken.START_OBJECT) {
      while (p.nextToken() == JsonToken.FIELD_NAME) {
        val k = p.currentName()
        p.nextToken()
        val v = m.readTree[com.fasterxml.jackson.databind.JsonNode](p)
        if (!vals.contains(k)) order += k
        vals(k) = vals.getOrElse(k, Nil) :+ v
      }
    }
    val out = m.createObjectNode()
    order.foreach { k =>
      vals(k) match {
        case one :: Nil => out.set[com.fasterxml.jackson.databind.node.ObjectNode](k, one)
        case many if many.forall(_.isArray) =>
          val arr = m.createArrayNode()
          many.foreach(a => a.forEach(x => arr.add(x)))
          out.set[com.fasterxml.jackson.databind.node.ObjectNode](k, arr)
        case many =>
          out.set[com.fasterxml.jackson.databind.node.ObjectNode](k, many.last)
      }
    }
    m.writeValueAsString(out)
  }

  /** JSON key for a selection, following the reference's output naming
    * (outputnode.go): alias wins; count → `count(pred)`; lang chains keep
    * the chain (`name@en:.`); otherwise the predicate.
    */
  private def jsonKey(s: Selection): String =
    s.alias.getOrElse(
      if (s.checkPwd.isDefined) s"checkpwd(${s.pred})"
      else if (s.isCount) s"count(${if (s.reverse) "~" else ""}${s.pred})"
      else if (s.pred == "val" && s.valRef.isDefined) s"val(${s.valRef.get})"
      else if (s.pred == "math" && s.varName.isDefined) s"val(${s.varName.get})"
      // un-aliased level aggregation renders `min(val(x))`
      // (reference TestMinMulti golden)
      else if (s.aggOp.isDefined && s.valRef.isDefined)
        s"${s.aggOp.get}(val(${s.valRef.get}))"
      else if (s.langChain.nonEmpty) s"${s.pred}@${s.langChain.mkString(":")}"
      else if (s.reverse) s"~${s.pred}"
      else s.outName)

  /** The first block of `query` rendered as (uid, json) rows. */
  def jsonRows(query: String): DataFrame =
    jsonBlock(Parser.parse(query).blocks.head).toDF("uid", "json")

  /** Render every non-var block: (block, uid, json). Var blocks execute
    * for their bindings but emit no output (reference multi-block JSON,
    * one key per block).
    */
  def jsonAll(query: String): DataFrame = jsonAllAst(Parser.parse(query))

  // ---- RDF output format (reference query/outputrdf.go) ----

  /** Query result as N-Triple lines, the reference's ToRDF
    * (query/outputrdf.go:28): each block is evaluated once, then the
    * driver writes its lines. A plain block renders the [[flatBlock]]
    * frame [[jsonBlock]] renders ([[rdfBlock]]); a `@recurse` block its
    * walk with one global seen set ([[rdfRecurse]]). Per level, each
    * selection in declaration order emits one GROUP of lines: scalars
    * for every frontier node, `count(pred)` with zero-fill, or edge
    * triples followed by the child level's groups. What the reference
    * rejects in RDF (outputrdf.go validateSubGraphForRDF) throws before
    * the block runs, with its messages. A var block only binds its vars.
    * Runs in the store's read mode ([[readScoped]]).
    */
  def rdfAll(query: String): String = {
    val q = Parser.parse(query)
    readScoped {
      val sb = new StringBuilder
      q.blocks.foreach {
        case b if b.name == "var" => flatBlock(b)
        case b =>
          validateRdf(b)
          if (b.recurse.isDefined) rdfRecurse(sb, b)
          else if (b.shortest.isEmpty) rdfBlock(sb, b)
      }
      sb.result()
    }
  }

  private def validateRdf(b: QueryBlock): Unit = {
    def reject(bad: Boolean, msg: String): Unit =
      if (bad) throw new IllegalArgumentException(msg)
    reject(b.normalize, "normalize directive is not supported in the rdf output format")
    reject(b.ignoreReflex, "ignorereflex directive is not supported in the rdf output format")
    reject(b.groupby.nonEmpty, "groupby is not supported in rdf output format")
    def validate(ss: Seq[Selection]): Unit = ss.foreach { s =>
      reject(s.isCount && s.pred == "uid", "uid count is not supported in the rdf output format")
      reject(s.checkPwd.isDefined, "chkpwd function is not supported in the rdf output format")
      reject(s.facetFetch || s.facetKeys.nonEmpty,
        "facets are not supported in the rdf output format")
      reject(s.groupby.nonEmpty, "groupby is not supported in rdf output format")
      validate(s.children)
    }
    validate(b.selections)
  }

  /** One N-Triple line into `sb`: `<subject> <pred> object .` */
  private def rdfLine(sb: StringBuilder, subject: Long, s: Selection,
      obj: String): Unit =
    sb.append('<').append(hexS(subject)).append("> <").append(jsonKey(s))
      .append("> ").append(obj).append(" .\n")

  /** Selection `s`'s value `v` as an N-Triple literal. Geo values have no
    * literal form (reference outputrdf.go:189 getObjectVal, GeoID case).
    */
  private def rdfLiteral(s: Selection, v: String): String = {
    if (!s.isCount && schema.predicates.get(s.pred).exists(_.dgraphType == "geo"))
      throw new IllegalArgumentException("Geo id is not supported in rdf output")
    "\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  }

  /** [[collectFlat]]'s RDF encoder: a value as its literal's string, a
    * list as its values' strings, a datetime as JSON writes it.
    */
  private def rdfValue(c: Column, t: DataType): Column = t match {
    case _: ArrayType => c.cast(ArrayType(StringType))
    case TimestampType => date_format(c, jsonOpts("timestampFormat"))
    case _ => c.cast(StringType)
  }

  /** N-Triples of a plain block. Each frontier node's scalar reads its
    * first non-null flat value, as the JSON object does; an edge writes
    * one line per (parent, child) pair in the parent's child rank, and
    * the child level's frontier is the distinct children in uid order.
    * A braceless uid selection (`f as friend`) writes nothing, as it
    * renders nothing in JSON.
    */
  private def rdfBlock(sb: StringBuilder, b0: QueryBlock): Unit = {
    val b = rewriteBlock(b0)
    // no selections, or a whole-block aggregation (one row, no uid
    // column): there is no node to write a triple about
    if (b.selections.isEmpty || b.selections.exists(s =>
        s.aggOp.isDefined && !s.valRef.exists(bindsVar(b.selections, _)))) {
      flatBlock(b)
      return
    }
    val fr = collectFlat(b, flatBlock(b, childRanks = true), rdfValue)
    import fr.{ix, rows, uidOf}
    def strings(v: Any): Seq[String] = v match {
      case null => Nil
      case xs: scala.collection.Seq[_] => xs.collect { case x: String => x }.toSeq
      case x => Seq(x.toString)
    }
    def level(frontier: Seq[Long], uidCol: String, sels: Seq[Selection],
        pfx: String): Unit = {
      val byUid = rows.filter(uidOf(_, uidCol).isDefined).groupBy(uidOf(_, uidCol).get)
      sels.foreach { s =>
        val c = pfx + s.outName
        if (s.pred == "uid") {
          // `uid` writes no triple (TestRDFIgnoreUid)
        } else if (fr.has(c) && isEdge(s) && s.children.nonEmpty) {
          val pairs = frontier.flatMap { p =>
            byUid(p).flatMap(r => uidOf(r, c).map(k =>
                (uidOf(r, c + "__rn").getOrElse(Long.MaxValue), k)))
              .distinct.sorted.map(p -> _._2)
          }
          pairs.foreach { case (p, k) => rdfLine(sb, p, s, s"<${hexS(k)}>") }
          level(pairs.map(_._2).distinct.sorted, c, s.children, c + "_")
        } else if (fr.has(c) && !isEdge(s))
          frontier.foreach { u =>
            strings(byUid(u).iterator.map(_.get(ix(c))).find(_ != null).orNull)
              .foreach(v => rdfLine(sb, u, s, rdfLiteral(s, v)))
          }
      }
    }
    val roots = fr.inRootOrder(grouped(rows)(_.getLong(ix("uid"))))(_._2.head)
    level(roots.map(_._1), "uid", b.selections, "")
  }

  /** RDF for `@recurse` blocks (reference outputrdf.go castToRDF over
    * the expandRecurse subgraph chain, TestRDFRecurse), in the
    * reference's depth-first walk over that chain: each template field in
    * declaration order; a leaf emits its group for the frontier, a uid
    * predicate its edges and then the WHOLE next level, over its own
    * targets, before the later fields. Edges emit for tree levels
    * 1..hops only — the reference never attaches children to the deepest
    * processed level (rdfForSubgraph's `len(sg.Children) > 0` guard), so
    * depth-1 recurse emits no edges at all. The walk is the reference's
    * merged frontier with ONE global edge-level seen set across all roots
    * and predicates ([[graft.operators.Recurse.expandGlobal]]). The roots,
    * the walk and every reached node's leaves are collected once each.
    */
  private def rdfRecurse(sb: StringBuilder, b: QueryBlock): Unit = {
    val r = b.recurse.get
    val frontier = rootFrontier(b)
    bindBlockVar(b, frontier)
    val roots = recurseRoots(frontier, b)
    val cap = math.min(recurseHops(r), 50)
    // `uid` emits no triple (TestRDFIgnoreUid); unknown preds emit
    // nothing; counts render per level like any other leaf group. Edges
    // are tagged by template position: one selection, one branch.
    val t = recurseTemplate(roots, b.selections, r, roots.select(col("uid").as("node")),
        (_, i) => i.toString) { (starts, edges) =>
      Recurse.expandGlobal(starts, edges, cap, r.loop).localCheckpoint(false)
    }
    val rootUids = rootOrder(roots, b)
    val tree = t.tree.fold(Seq.empty[Row])(_.select(col("depth").cast("int"),
      col("pred").cast("int"), col("parent"), col("node")).collect().toSeq)
    // (depth, template position, parent) → children in uid order
    val kids = tree.groupBy(e => (e.getInt(0), e.getInt(1), e.getLong(2)))
      .map { case (k, es) => k -> es.map(_.getLong(3)).distinct.sorted }
    // every reached node's leaf values: (template position, node) → values
    val leafSels = t.sels.zipWithIndex.filterNot(x => isEdge(x._1))
    val nodes = (rootUids ++ tree.map(_.getLong(3))).distinct
    val values: Map[(Int, Long), Seq[String]] =
      if (leafSels.isEmpty || nodes.isEmpty) Map.empty
      else {
        val nodeDf = session.createDataFrame(nodes.map(Row(_)).asJava,
          StructType(Seq(StructField("subject", LongType))))
        leafSels.map { case (s, i) =>
          val rows =
            if (s.isCount)
              countEdge(if (s.reverse) s"~${s.pred}" else s.pred)
                .groupBy(col("subject")).agg(count(lit(1)).cast("string").as("v"))
            else {
              val rows0 = attrLeaf(s)
              rows0.select(col("subject"),
                (if (rows0.columns.contains("display")) col("display")
                 else col("value").cast("string")).as("v"))
            }
          rows.select(lit(i).as("sel"), col("subject"), col("v"))
        }.reduce(_ unionByName _)
          .join(broadcast(nodeDf), Seq("subject"), "left_semi")
          .select(col("sel"), col("subject"), col("v")).collect().toSeq
          .groupBy(v => (v.getInt(0), v.getLong(1)))
          .map { case (k, vs) => k -> vs.flatMap(v => Option(v.getString(2))).sorted }
      }
    def visit(frontier: Seq[Long], lvl: Int): Unit = t.sels.zipWithIndex.foreach {
      case (s, i) if !isEdge(s) =>
        frontier.foreach { u =>
          values.getOrElse((i, u), if (s.isCount) Seq("0") else Nil)
            .foreach(v => rdfLine(sb, u, s, rdfLiteral(s, v)))
        }
      case (s, i) if lvl < cap =>
        // this branch's edges: the walk's edges at the next level from
        // parents in THIS frontier along this predicate
        val pairs = frontier.flatMap(p => kids.getOrElse((lvl + 1, i, p), Nil).map(p -> _))
        pairs.foreach { case (p, k) => rdfLine(sb, p, s, s"<${hexS(k)}>") }
        if (pairs.nonEmpty) visit(pairs.map(_._2).distinct.sorted, lvl + 1)
      case _ => // depth cap reached: the level past the cap is never
                // processed, so this uid predicate emits nothing
    }
    visit(rootUids, 0)
  }

  /** schema(pred:)/schema(type:) introspection (reference
    * worker/schema.go): rendered straight from the registry — metadata
    * scale, never a data pass. An empty field selection means ALL
    * fields; boolean fields appear only when true, mirroring the
    * reference goldens (query1_test.go TestSchemaBlock2-5).
    */
  private def schemaJson(b: QueryBlock): Seq[(Long, String)] = {
    val fields = b.selections.map(_.pred)
    def want(f: String) = fields.isEmpty || fields.contains(f)
    def js(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    // bare `schema {}` lists EVERY predicate (reference TestParseSchemaAll)
    val predNames =
      if (b.func.args.isEmpty) schema.predicates.keys.toSeq.sorted
      else b.func.args
    val rows: Seq[String] =
      if (b.func.pred == "pred")
        predNames.flatMap(schema.predicates.get).map { p =>
          val sb = Seq.newBuilder[String]
          sb += s""""predicate":${js(p.name)}"""
          if (want("type")) sb += s""""type":${js(p.dgraphType)}"""
          if (want("index") && p.indexes.nonEmpty) sb += """"index":true"""
          if (want("tokenizer") && p.indexes.nonEmpty)
            sb += s""""tokenizer":[${p.indexes.map(js).mkString(",")}]"""
          if (want("reverse") && p.reverse) sb += """"reverse":true"""
          if (want("count") && p.count) sb += """"count":true"""
          if (want("lang") && p.lang) sb += """"lang":true"""
          if (want("list") && p.isList) sb += """"list":true"""
          if (want("no_conflict") && p.noConflict) sb += """"no_conflict":true"""
          sb.result().mkString("{", ",", "}")
        }
      else
        // type listings come back name-sorted; fields in declaration
        // order (reference TestQueryMultipleTypes golden)
        b.func.args.flatMap(schema.types.get).sortBy(_.name).map { t =>
          val fs = t.predicates.map(p => s"""{"name":${js(p)}}""").mkString(",")
          s"""{"fields":[$fs],"name":${js(t.name)}}"""
        }
    rows.zipWithIndex.map { case (j, i) => (i.toLong, j) }
  }

  /** AST entry for jsonAll: every non-var block is executed and rendered
    * here, block by block, and the result is one local (block, uid, json)
    * frame — the caller's plan and collect start no Spark job.
    * `includeUid = false` renders GraphQL-shaped objects (no implicit
    * uid key — the GraphQL layer only emits requested fields, reference
    * graphql/resolve/resolver.go completion).
    * Runs in the store's read mode ([[readScoped]]).
    */
  def jsonAllAst(query: DqlQuery, includeUid: Boolean = true): DataFrame =
    readScoped {
      val blocks = query.blocks.flatMap { b =>
        if (b.func.name == "schema") Some(b.name -> schemaJson(b))
        else if (b.name == "var") { flatBlock(b); None }
        // the reference names every shortest block's output `_path_`
        else Some((if (b.shortest.isDefined) "_path_" else b.name) ->
          jsonBlock(b, includeUid))
      }
      require(blocks.nonEmpty, "query has no result block")
      val rows = for ((bn, objs) <- blocks; (u, j) <- objs) yield Row(bn, u, j)
      session.createDataFrame(rows.asJava, StructType(Seq(
        StructField("block", StringType), StructField("uid", LongType),
        StructField("json", StringType))))
    }

  /** `read` in this store's [[DqlExecutor.ReadMode]]: interpreted over a
    * small store — build-time jobs included — since a read over
    * kilobytes costs less to evaluate than to compile.
    */
  private def readScoped[T](read: => T): T =
    if (DqlExecutor.ReadMode(ts).interpreted)
      SessionConf.scoped(session, DqlExecutor.Interpreted: _*)(read)
    else read

  /** Nested JSON for @recurse blocks: the reference re-applies the child
    * template per level and renders the reached TREE (query/recurse.go:19
    * expandRecurse + outputnode.go preTraverse) — each node object
    * carries its scalar leaves and, under each edge predicate's key, its
    * children at the next depth. One collect fetches every occurrence of
    * the tree (the roots at depth 0) with its leaves and edge facets
    * already rendered by to_json; the driver folds it deepest level first.
    */
  private def recurseJson(b: QueryBlock, includeUid0: Boolean): Seq[(Long, String)] = {
    val r = b.recurse.get
    // an explicit `uid` selection turns uid keys on even in
    // GraphQL-shaped output (reference TestRecurseQueryLimitDepth2 —
    // the nameless friend then renders as a bare {"uid": ...})
    val includeUid = includeUid0 ||
      b.selections.exists(s => s.pred == "uid" && !s.isCount)
    val frontier = rootFrontier(b)
    bindBlockVar(b, frontier)
    val rootUids = recurseRoots(frontier, b)
    val t = recurseTemplate(rootUids, b.selections, r,
      rootUids.select(col("uid").as("start")))()
    val (preds, scalars) = (t.edges, t.leaves)
    // every occurrence: the roots at depth 0 (no parent edge), then the
    // tree, each with the scalar leaves of its node
    var occ = t.tree.foldLeft(rootUids.select(col("uid").as("start"),
        lit(null).cast("long").as("parent"), lit(null).cast("string").as("pred"),
        col("uid").as("node"), lit(0).as("depth"))) { (roots, tree) =>
      roots.unionByName(tree.select(col("start"), col("parent"), col("pred"),
        col("node"), col("depth")))
    }
    scalars.foreach { s =>
      occ = occ.join(attrLeaf(s)
          .select(col("subject").as("__ls"), col("value").as(jsonKey(s))),
        col("node") === col("__ls"), "left").drop("__ls")
    }
    val isList = preds.map(s =>
      jsonKey(s) -> (schema.predicates.get(s.pred).forall(_.isList) || s.reverse))
      .toMap
    // @facets on a recurse edge (reference TestRecurseFacetOrder):
    // fetched keys render inside each child OCCURRENCE's object as
    // `pred|key`, and `@facets(orderasc/desc: k)` orders every level's
    // array by the edge facet — both are per-edge, joined onto the tree
    // occurrence by (parent, node, pred); roots have no edge
    val facetPreds = preds.filter(s =>
      s.facetFetch || s.facetKeys.nonEmpty || s.facetOrder.nonEmpty)
    def facetKeysOf(s: Selection) =
      ts.facetKeys.getOrElse(s.pred, Nil).filter(kv =>
        s.facetFetch || s.facetKeys.contains(kv._1) ||
          s.facetOrder.exists(_.pred == kv._1))
    facetPreds.foreach { s =>
      val e0 = if (s.reverse) ts.reverseEdge(s.pred) else ts.edge(s.pred)
      val ordCol = s.facetOrder.headOption
        .filter(o => facetType(s.pred, o.pred) != "boolean")
        .map(o => col(s"_ft_${o.pred}").cast("double")
          .as(s"__fo_${jsonKey(s)}")).toSeq
      val eF = e0.select(
        Seq(col("subject").as("__ffs"), col("object").as("__ffo")) ++
          facetKeysOf(s).map { case (k, _) =>
            facetRender(s.pred, k, element_at(col("facets"), k))
              .as(s"__ff_${jsonKey(s)}_$k") } ++ ordCol: _*)
      occ = occ.join(eF,
        col("parent") === col("__ffs") && col("node") === col("__ffo") &&
          col("pred") === lit(jsonKey(s)), "left")
        .drop("__ffs", "__ffo")
    }
    // per-level child ordering: `friend(orderdesc: dob)` sorts each
    // parent's array by the order predicate's value (reference
    // TestRecurseQueryOrder re-applies the ordering every level);
    // desc negates the numeric/epoch cast, uid breaks ties
    val orderedSels = preds.filter(s =>
      s.order.nonEmpty && !s.order.head.pred.startsWith("val:"))
    orderedSels.foreach { s =>
      occ = occ.join(
        ts.attr(s.order.head.pred)
          .select(col("subject").as("__oks"),
            col("value").cast("double").as(s"__ok_${jsonKey(s)}")),
        col("node") === col("__oks") && col("depth") > 0, "left").drop("__oks")
    }
    val sortKey0 = orderedSels.foldLeft(lit(null).cast("double")) { (acc, s) =>
      val v = qcol(s"__ok_${jsonKey(s)}")
      when(col("pred") === jsonKey(s),
        if (s.order.head.desc) -v else v).otherwise(acc)
    }
    // `@facets(orderdesc: since)` orders by the edge facet, re-applied
    // at every level (reference TestRecurseFacetOrder)
    val sortKey = facetPreds.filter(s => s.facetOrder.nonEmpty &&
        facetType(s.pred, s.facetOrder.head.pred) != "boolean")
      .foldLeft(sortKey0) { (acc, s) =>
        val v = qcol(s"__fo_${jsonKey(s)}")
        when(col("pred") === jsonKey(s),
          if (s.facetOrder.head.desc) -v else v).otherwise(acc)
      }
    // the node object's scalar part: uid (when requested), leaves and
    // the reaching edge's facets
    val baseFields =
      (if (includeUid) Seq(hexUid(col("node")).as("uid")) else Nil) ++
        scalars.map(s => qcol(jsonKey(s)).as(jsonKey(s))) ++
        facetPreds.flatMap { s =>
          facetKeysOf(s).map { case (k, _) =>
            qcol(s"__ff_${jsonKey(s)}_$k")
              .as(s.facetAliases.getOrElse(k, s"${s.outName}|$k")) }
        }
    val base =
      if (baseFields.isEmpty) lit("{}")
      else to_json(struct(baseFields: _*), jsonOpts)
    val hasLeaf = scalars.map(s => qcol(jsonKey(s)).isNotNull)
      .foldLeft(lit(false))(_ || _)
    val rows = occ.select(col("start"), col("parent"), col("pred"),
      col("node"), col("depth"), base, hasLeaf, sortKey).collect()
    val predKeys = preds.map(jsonKey)
    // node object = the rendered base with each present child segment
    // spliced in before the closing brace, in query order
    def obj(base: String, kids: Map[String, String]): String = {
      val body = predKeys.flatMap(k => kids.get(k).map(c =>
        s""","$k":""" + (if (isList(k)) s"[$c]" else c))).mkString
      if (body.isEmpty) base
      else base.dropRight(1) + (if (base == "{}") body.drop(1) else body) + "}"
    }
    // value-less elision (reference omits nodes whose requested values
    // are ALL absent — TestRecurseQuery drops the nameless friend):
    // without a uid key an occurrence renders only if a leaf or a child
    // segment survives
    def render(row: Row, kids: Map[String, String]): Option[String] =
      if (includeUid || row.getBoolean(6) || kids.nonEmpty)
        Some(obj(row.getString(5), kids))
      else None
    // array order within one parent's key: sort key (nulls first), then
    // node uid, then the object text — Spark's sort_array order
    val siblingOrder = new scala.math.Ordering[(Row, String)] {
      def compare(x: (Row, String), y: (Row, String)): Int = {
        val (p, q) = (x._1, y._1)
        val byKey =
          if (p.isNullAt(7) || q.isNullAt(7))
            java.lang.Boolean.compare(!p.isNullAt(7), !q.isNullAt(7))
          // + 0.0 folds -0.0 into 0.0, as Spark's double ordering does
          else java.lang.Double.compare(p.getDouble(7) + 0.0, q.getDouble(7) + 0.0)
        if (byKey != 0) byKey
        else if (p.getLong(3) != q.getLong(3)) java.lang.Long.compare(p.getLong(3), q.getLong(3))
        else UTF8String.fromString(x._2).compareTo(UTF8String.fromString(y._2))
      }
    }
    val byDepth = rows.toSeq.groupBy(_.getInt(4))
    // deepest level first: (start, parent) → predicate key → the joined
    // child objects of that parent's array
    var kids = Map.empty[(Long, Long), Map[String, String]]
    for (d <- byDepth.keys.maxOption.getOrElse(0) to 1 by -1) {
      val objs = byDepth.getOrElse(d, Nil).flatMap { row =>
        render(row, kids.getOrElse((row.getLong(0), row.getLong(3)), Map.empty))
          .map(row -> _)
      }
      kids = objs.groupBy { case (row, _) => (row.getLong(0), row.getLong(1)) }
        .map { case (sp, xs) =>
          sp -> xs.groupBy(_._1.getString(2)).map { case (p, ys) =>
            p -> ys.sorted(siblingOrder).map(_._2).mkString(",") }
        }
    }
    // roots in the block's order (uid order without one)
    val rootRank: Long => Long =
      if (b.order.isEmpty) (u: Long) => u
      else rootOrder(rootUids, b).zipWithIndex.map { case (u, i) => u -> i.toLong }.toMap
    val roots = byDepth.getOrElse(0, Nil).sortBy(row => rootRank(row.getLong(3))).flatMap { row =>
      val u = row.getLong(3)
      render(row, kids.getOrElse((u, u), Map.empty)).map(u -> _)
    }
    // @recurse @normalize: one flat object per root-to-leaf path of the
    // rendered tree, aliased scalars as ARRAYS in path order (reference
    // TestNormalizeDirectiveWithRecurseDirective)
    if (!b.normalize) roots
    else roots.flatMap { case (u, j) =>
      DqlExecutor.flattenRecursePaths(j, predKeys).map(u -> _) }
  }

  /** `_path_` JSON for shortest blocks (reference query/shortest.go
    * route objects; golden shape query3_test.go TestShortestPath): one
    * object per returned route, hops nested under the edge predicate
    * that was walked, total cost as `_weight_` on the outermost node.
    * Routes are driver-scale (numpaths ≤ k, like the reference's route
    * list); the only distributed work is one pruned lookup resolving
    * each hop's predicate.
    */
  private def shortestJson(b: QueryBlock): Seq[(Long, String)] = {
    val paths = flatBlock(b) // (rank, dist, path) — also binds the path var
    val rows = paths.orderBy(col("rank"))
      .select(col("rank"), col("dist"), col("path")).collect()
    val hops = rows.toSeq.flatMap { r =>
      val ns = r.getString(2).split("->").map(_.toLong)
      ns.zip(ns.drop(1))
    }.distinct
    if (rows.isEmpty) return Nil
    // resolve each hop's (predicate key, weight): pruned edge lookup,
    // min pred on parallel edges (deterministic)
    val hopDf = hops.toDF("src", "dst")
    val predW = shortestEdges(b)
      .join(broadcast(hopDf), Seq("src", "dst"), "left_semi")
      .groupBy(col("src"), col("dst"))
      .agg(min(struct(col("pred"), col("w"))).as("pw"))
      .select(col("src"), col("dst"), col("pw.pred"), col("pw.w"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getString(2), r.getDouble(3)))
      .toMap
    // facet-weighted selections render the facet on the CHILD node as
    // `pred|key` (reference TestKShortestPathWeighted golden)
    val facetOf: Map[String, Option[String]] =
      shortestSels(b).map(s => jsonKey(s) -> s.facetKeys.headOption).toMap
    // integral weights print bare (1, not 1.0) like the reference's
    // integer-weight goldens; fractional sums keep full double repr
    def jsonNum(d: Double): String =
      if (d == d.floor && !d.isInfinite) d.toLong.toString else d.toString
    def obj(node: Long, incoming: Option[(Long, Long)], rest: List[Long],
        total: Option[Double]): String = {
      val uidF = s""""uid":"${hexS(node)}""""
      val wF = total.map(w => s""","_weight_":${jsonNum(w)}""").getOrElse("")
      val facF = incoming.flatMap { e =>
        val (p, w) = predW(e)
        facetOf.getOrElse(p, None).map(k => s""","$p|$k":${jsonNum(w)}""")
      }.getOrElse("")
      val kidF = rest match {
        case next :: more =>
          val (p, _) = predW((node, next))
          s""","$p":${obj(next, Some((node, next)), more, None)}"""
        case Nil => ""
      }
      s"{$uidF$wF$facF$kidF}"
    }
    rows.toSeq.map { r =>
      val ns = r.getString(2).split("->").map(_.toLong).toList
      (ns.head, obj(ns.head, None, ns.tail, Some(r.getDouble(1))))
    }
  }

  /** Root-level `me(func: ...) @groupby(keys) { aggs }`: the whole
    * frontier is grouped; the block renders as ONE object
    * `{"@groupby":[...]}` (reference TestGroupByRoot). An unknown key
    * predicate yields no rows at all — the reference omits the block
    * entirely (TestGroupByRootEmpty renders `{"data":{}}`).
    */
  private def rootGroupbyJson(b: QueryBlock): DataFrame = {
    val frontier = rootFrontier(b)
    groupbyGroups(frontier.select(col("uid").as("__t")), b.groupby,
        b.selections) match {
      case None =>
        frontier.select(col("uid"), lit("").as("json")).limit(0)
      case Some(g) =>
        // `a as count(uid)` under a root @groupby with a uid-valued key
        // binds a per-group value var keyed by the group's uid
        // (reference fillGroupedVars; empty frontier binds empty)
        b.groupby.find(k => k.pred == "uid" || schema.isUidPredicate(k.pred))
          .foreach { k =>
            b.selections.filter(_.varName.isDefined).foreach { s =>
              bindVar(s.varName.get,
                g.select(qcol(s"__k_${k.outName}").as("uid"),
                  qcol(s"__a_${s.outName}").as("value")), uniqueUid = false)
            }
          }
        // an empty frontier groups to ZERO groups — the block is
        // omitted, not rendered as {"@groupby":[]} (TestNoResultsGroupBy
        // renders {"data":{}})
        groupbyArray(g, b.groupby, b.selections, Nil)
          .filter(size(element_at(col("__gb"), 1).getField("@groupby")) > 0)
          .select(lit(0L).as("uid"),
            geoSplice(to_json(element_at(col("__gb"), 1), jsonOpts),
              b.groupby.map(_.pred)).as("json"))
    }
  }

  /** The uid chain below `sels` in a flat frame holding the columns
    * `has` accepts: each traversed edge's column, parents before children.
    */
  private def edgeColumns(has: String => Boolean, sels: Seq[Selection],
      pfx: String): Seq[String] =
    sels.filter(isEdge).flatMap { c =>
      val ec = pfx + c.outName
      (if (has(ec)) Seq(ec) else Nil) ++ edgeColumns(has, c.children, ec + "_")
    }

  /** A block's flat frame as [[collectFlat]] collected it. */
  private final class FlatRows(val columns: Seq[String], val rows: Seq[Row],
      sortKeys: Seq[SortKey], keySchema: StructType) {
    val ix: Map[String, Int] = columns.zipWithIndex.toMap
    def has(c: String): Boolean = ix.contains(c)
    def uidOf(r: Row, c: String): Option[Long] =
      ix.get(c).filterNot(r.isNullAt).map(r.getLong)

    /** `xs` in the block's root order; `row` is a flat row of x's root. */
    def inRootOrder[A](xs: Seq[A])(row: A => Row): Seq[A] =
      if (sortKeys.isEmpty) xs.sortBy(row(_).getLong(ix("uid")))
      else {
        val toKey = CatalystTypeConverters.createToCatalystConverter(keySchema)
        val ord = new InterpretedOrdering(sortKeys.zipWithIndex.map { case (k, i) =>
          SortOrder(BoundReference(i, keySchema(i).dataType, nullable = true),
            if (k.desc) Descending else Ascending,
            if (k.nullsFirst) NullsFirst else NullsLast, Seq.empty) })
        xs.map(x => x -> toKey(Row.fromSeq(sortKeys.indices.map(i =>
            row(x).get(ix(s"__o$i"))))).asInstanceOf[InternalRow])
          .sortBy(_._2)(ord).map(_._1)
      }
  }

  /** The one Spark action of a rendered block: collect its flat frame
    * `flatDf`, which is RESULT-scale (root pagination already applied),
    * with uid-chain and rank columns as longs and every other column
    * through `encode` (column, type); nesting happens on the driver. The
    * frame's AQE query stages are its jobs: they convert the
    * frontier⋈tablet joins to broadcasts and coalesce the exchanges, and
    * static planning of the same frame measured slower (r17: fewer jobs,
    * wall time up ~0.3 s on dql_json_deep).
    *
    * Root order: the block's requested order, else the route order a
    * shortest-path variable carries (TestShortestPathRev), else uid. The
    * sort keys are orderAndPage's own (same joins, null rules and
    * collations), collected as `__o<i>` and compared on the driver with
    * Spark's ordering ([[FlatRows.inRootOrder]]).
    */
  private def collectFlat(b: QueryBlock, flatDf0: DataFrame,
      encode: (Column, DataType) => Column): FlatRows = {
    // datetime-instant riders never render
    val flatDf = flatDf0.drop(
      flatDf0.columns.filter(_.endsWith("__dtv")).toSeq: _*)
    val (sortable, sortKeys) =
      if (b.normalize) (flatDf, Nil)
      else if (b.order.nonEmpty) {
        val (df, keyCols) = withSortKeys(flatDf, "uid", b.order)
        (df, keyCols(false))
      } else if (b.func.name == "uid" && b.func.args.size == 1)
        vars.get(b.func.args.head).map(_.frame).filter(_.columns.contains("__ord"))
          .map(v => (flatDf.join(v.select(col("uid"), col("__ord")), Seq("uid"), "left"),
            Seq(SortKey(col("__ord"), false), SortKey(col("uid"), false))))
          .getOrElse((flatDf, Nil))
      else (flatDf, Nil)
    val keyCols = ("uid" +: edgeColumns(flatDf.columns.contains(_), b.selections, "")).toSet ++
      flatDf.columns.filter(_.endsWith("__rn"))
    val collected = sortable.select(flatDf.schema.fields.toSeq.map { f =>
        if (keyCols(f.name)) qcol(f.name).cast("long").as(f.name)
        else encode(qcol(f.name), f.dataType).as(f.name)
      } ++ sortKeys.zipWithIndex.map { case (k, i) => k.value.as(s"__o$i") }: _*)
    new FlatRows(collected.columns.toSeq, collected.collect().toSeq, sortKeys,
      StructType(sortKeys.indices.map(i => collected.schema(s"__o$i"))))
  }

  /** Render one block as (uid, json) rows in output order: one JSON
    * object string per root, fields in query order, child objects as
    * arrays ordered by the requested child order (default uid asc), uids
    * as "0x…" hex, lang chains as `pred@en:.` keys, facets as
    * `pred|facet` keys, null fields and empty child arrays omitted — the
    * reference's ToJson shape (outputnode.go:1346 preTraverse; goldens
    * query/query0_test.go:27-46). The block's flat frame is collected
    * once with every value already rendered by to_json; the driver only
    * nests, orders and concatenates.
    */
  private def jsonBlock(b0: QueryBlock, includeUid: Boolean = true): Seq[(Long, String)] = {
    // count(uid) may appear once per sub-query (reference
    // TestCountUIDWithMultipleCount: "uidcount not allowed multiple
    // times in same sub-query")
    def checkDupCount(sels: Seq[Selection]): Unit = {
      if (sels.count(s => s.isCount && s.pred == "uid" && s.varName.isEmpty &&
          s.alias.isEmpty) > 1)
        throw new IllegalArgumentException(
          "uidcount not allowed multiple times in same sub-query")
      sels.foreach(s => checkDupCount(s.children))
    }
    checkDupCount(b0.selections)
    if (b0.func.name == "empty") {
      validateSels(b0.selections)
      return emptyBlockObjs(b0).zipWithIndex.map { case (j, i) => (i.toLong, j) }
    }
    if (b0.shortest.isDefined) return shortestJson(b0)
    if (b0.recurse.isDefined) return recurseJson(b0, includeUid)
    if (b0.groupby.nonEmpty) return collectJson(rootGroupbyJson(b0))
    val b = rewriteBlock(b0)
    // an EMPTY selection set renders as an empty array even when uids
    // match (reference TestMultiEmptyBlocks: `you(func: uid(1)) {}` →
    // "you": [])
    if (b.selections.isEmpty) { flatBlock(b); return Nil }
    // @groupby child selections render through the group machinery, not
    // the generic traversal, and root count(uid) renders as an extra
    // {"count": n} object — carve both out of the flat projection
    val gbSels = b.selections.filter(s => s.groupby.nonEmpty && !s.isCount)
    val countSels = b.selections.filter(s => s.isCount && s.pred == "uid")
    val b2 =
      if (gbSels.isEmpty && countSels.isEmpty) b
      else b.copy(selections = b.selections.filterNot(s =>
        gbSels.exists(_ eq s) || countSels.exists(_ eq s)))
    // whole-block aggregation (`stats(func: uid(v)) { n: count(uid)
    // tot: sum(val(v)) }`, routed to aggregateBlock exactly as in
    // flatBlock): the flat surface is ONE row of aggregates with no uid
    // column, so each selection renders as its own object in query
    // order — the root count objects' and the empty block's shape
    if (gbSels.isEmpty && b.selections.exists(s =>
        s.aggOp.isDefined && !s.valRef.exists(bindsVar(b.selections, _)))) {
      val objs = b.selections.map { s =>
        val key = if (s.isCount) s.alias.getOrElse("count") else jsonKey(s)
        to_json(struct(col(s.outName).as(key)),
          Map("ignoreNullFields" -> "false"))
      }
      return collectJson(flatBlock(b)
        .select(posexplode(array(objs: _*)).as(Seq("__i", "json")))
        .select((lit(Long.MinValue) + col("__i")).as("uid"), col("json")))
    }
    val flatDf = flatBlock(b2, childRanks = true)
    def countObjs(n: Long): Seq[(Long, String)] =
      countSels.map(c => (Long.MinValue, jsonObj(Seq(c.alias.getOrElse("count") -> n.toString))))
    // a block whose every selection is count(uid) renders the counts
    // alone (TestCountAtRoot)
    if (!b.normalize && b2.selections.isEmpty && gbSels.isEmpty)
      return countObjs(flatDf.agg(countDistinct(col("uid"))).head().getLong(0))
    val fr = collectFlat(b, flatDf, (c, _) => jsonValue(c))
    import fr.{has, ix, rows, uidOf}
    // a uid-pred selection with NO children (pure var binding, `B as
    // friend`) renders nothing — the reference requires a CHILD BLOCK
    // for an edge to appear: a braceless uid leaf binds vars/orders but
    // never renders, even with facet clauses (TestFacetsAlias2's me2
    // renders []; TestUseVarsMultiCascade1's inner `B as friend`)
    def renders(s: Selection) = s.children.nonEmpty
    // (flat column, key) of every ALIASED leaf below `sels` — what a
    // @normalize object carries
    def aliasedCols(sels: Seq[Selection], pfx: String): Seq[(String, String)] =
      sels.flatMap { s =>
        val own =
          if (s.alias.isDefined && !isEdge(s) && has(pfx + s.outName))
            Seq((pfx + s.outName, s.outName))
          else Nil
        own ++ aliasedCols(s.children, pfx + s.outName + "_")
      }
    def valOf(r: Row, c: String): String = ix.get(c).map(r.getString).orNull
    def firstVal(rs: Seq[Row], c: String): String =
      rs.iterator.map(valOf(_, c)).find(_ != null).orNull
    // VALUE-facet riders of scalar selections (`name @facets`: flat
    // `<pfx>name__fv_origin` → field "name|origin"; @facets(o: origin)
    // renders the bare alias, TestFacetsAlias)
    def fvCols(sels: Seq[Selection], pfx: String): Seq[(String, String)] =
      sels.filterNot(isEdge).flatMap { s =>
        fr.columns.filter(_.startsWith(s"$pfx${s.outName}__fv_")).map { cn =>
          val k = cn.stripPrefix(s"$pfx${s.outName}__fv_")
          cn -> s.facetAliases.getOrElse(k, s"${jsonKey(s)}|$k")
        }
      }
    // edge facets of child selection `s` (flat `<pfx>f_since`, pfx
    // ending in the edge's column) → field "<outName>|since" or its alias
    def edgeFacetCols(s: Selection, pfx: String): Seq[(String, String)] =
      fr.columns.filter(_.startsWith(s"${pfx}f_")).map { cn =>
        val k = cn.stripPrefix(s"${pfx}f_")
        cn -> s.facetAliases.getOrElse(k, s"${s.outName}|$k")
      }
    // @normalize: a path whose traversed edge has aliased leaves below
    // it but none of them valued is elided BEFORE flattening
    // (TestNormalizeDirective: the nameless friend generates no result
    // paths)
    def pathKept(r: Row, sels: Seq[Selection], pfx: String): Boolean =
      sels.filter(isEdge).forall { c =>
        val ec = pfx + c.outName
        val sub = aliasedCols(c.children, ec + "_")
        (!has(ec) || sub.isEmpty || uidOf(r, ec).isEmpty ||
          sub.exists(a => valOf(r, a._1) != null)) &&
          pathKept(r, c.children, ec + "_")
      }
    // paths in uid-chain order, level by level; `missing` stands in for
    // an untraversed edge
    def byChain(rs: Seq[Row], chain: Seq[String], missing: Long): Seq[Row] =
      rs.sortBy(r => chain.map(uidOf(r, _).getOrElse(missing)))(
        scala.math.Ordering.Implicits.seqOrdering[Seq, Long])

    // @normalize: ONE flat object per result path carrying only ALIASED
    // leaves (reference normalize semantics, outputnode.go:921
    // normalizeResult) — no nesting, no implicit keys. Facet columns
    // flatten alongside: edge facets under `<outName>|key`
    // (alias-prefixed — "from|company", TestFacetUIDPredicateWithNormalize),
    // value-facet riders under `<jsonKey>|key` ("friend_name|dummy").
    // Paths keep the traversal's uid-chain order, level by level
    // (reference normalize flattening iterates the subgraph in uid order
    // — TestFacetUIDListPredicateWithNormalize)
    if (b.normalize) {
      def facetFlat(sels: Seq[Selection], pfx: String): Seq[(String, String)] =
        sels.flatMap { s =>
          val own =
            if (isEdge(s)) edgeFacetCols(s, pfx + s.outName + "_")
            else fvCols(Seq(s), pfx)
          own ++ facetFlat(s.children, pfx + s.outName + "_")
        }
      val fields = aliasedCols(b.selections, "") ++ facetFlat(b.selections, "")
      return byChain(rows.filter(pathKept(_, b.selections, "")),
          "uid" +: edgeColumns(has, b.selections, ""), Long.MinValue)
        .map(r => (r.getLong(ix("uid")), jsonObj(fields.map { case (c, k) => k -> valOf(r, c) })))
    }

    /** Selection `s`'s rendered child value under the rows of one parent
      * (one uid chain from the root): an array of objects for list
      * predicates, a single object otherwise, null when nothing renders.
      * Grandchildren recurse on the child's own rows, so the nesting
      * depth of the query is the nesting depth of the JSON (reference
      * preTraverse recursion); sibling-cartesian duplicate rows collapse
      * by child uid — uids key edges uniquely.
      */
    def childJson(rs: Seq[Row], s: Selection, colName: String): String = {
      val pfx = colName + "_"
      val kids = grouped(rs.filter(uidOf(_, colName).isDefined))(uidOf(_, colName).get)
      if (s.normalize) {
        // selection-level @normalize: the subtree below this edge
        // flattens — one FLAT object per result path carrying the
        // subtree's ALIASED leaves from every depth, value-less paths
        // elided, array in uid-chain order (reference
        // TestNormalizeDirectiveSubQueryLevel1/2, ListAndNonListChild*;
        // inner @normalize markers add nothing)
        val aliased = aliasedCols(s.children, pfx)
        val chain = colName +: edgeColumns(has, s.children, pfx)
        val paths = grouped(kids.flatMap(_._2))(r => chain.map(uidOf(r, _)))
          .map { case (_, ps) => ps.head }
          .filter(r => aliased.exists(a => valOf(r, a._1) != null) &&
            pathKept(r, s.children, pfx))
        return if (aliased.isEmpty || paths.isEmpty) null
          else byChain(paths, chain, Long.MaxValue)
            .map(r => jsonObj(aliased.map { case (c, a) => a -> valOf(r, c) }))
            .mkString("[", ",", "]")
      }
      val scalarKids = s.children.filterNot(isEdge)
      val facetCols = edgeFacetCols(s, pfx) ++ fvCols(s.children, pfx)
      val grand = s.children.filter(c => isEdge(c) && renders(c))
      val countKids = s.children.filter(c => c.isCount && c.pred == "uid")
      val hasValues = scalarKids.exists(c => has(pfx + c.outName)) ||
        grand.nonEmpty || countKids.nonEmpty
      // uid renders when implicit uids are on, when the query asks for it
      // explicitly (`friend { uid name }` — reference emits uid only on
      // request; an aliased `id: uid` renames the key, TestUidAlias), or
      // when nothing else would remain in the object
      val explicitUid = s.children.find(c => c.pred == "uid" && !c.isCount)
      val uidKey =
        if (includeUid || explicitUid.isDefined || (!hasValues && facetCols.isEmpty))
          Some(explicitUid.flatMap(_.alias).getOrElse("uid"))
        else None
      val rankCol = s"${colName}__rn"
      val objs = kids.flatMap { case (u, g) =>
        val values = s.children.flatMap { c =>
          if (c.isCount && c.pred == "uid" || isEdge(c) && !renders(c)) Nil
          else if (isEdge(c)) Seq(jsonKey(c) -> childJson(g, c, pfx + c.outName))
          else if (has(pfx + c.outName)) Seq(jsonKey(c) -> firstVal(g, pfx + c.outName))
          else Nil
        }
        // without an EXPLICITLY requested uid key, a child whose requested
        // values are ALL null renders nothing — the reference omits
        // value-less nodes even in debug mode (TestDebugUid drops the
        // nameless 0x65; TestGetUIDInDebugMode keeps it only because the
        // query asks for `uid`)
        if (explicitUid.isEmpty && hasValues && values.forall(_._2 == null)) None
        else {
          val order = if (has(rankCol)) uidOf(g.head, rankCol).getOrElse(Long.MaxValue) else u
          Some(order -> jsonObj(uidKey.map(_ -> quote(hexS(u))).toSeq ++ values ++
            facetCols.map { case (c, k) => k -> firstVal(g, c) }))
        }
      }.sortBy(_._1).map(_._2) ++
        // count(uid) inside a child template: an extra {"count": n}
        // object appended LAST to the child array (reference
        // TestCountAtRoot3 — Michonne's 5 friends render 4 named objects
        // plus {"count":5}); nameless nodes count
        (if (countKids.isEmpty || kids.isEmpty) Nil
         else Seq(jsonObj(countKids.map(c =>
           c.alias.getOrElse("count") -> kids.size.toString))))
      // list-vs-scalar collapse (reference outputnode.go: non-list uid
      // predicates render a single object, list predicates an array)
      if (objs.isEmpty) null
      else if (schema.predicates.get(s.pred).forall(_.isList) || s.reverse)
        objs.mkString("[", ",", "]")
      else objs.head
    }

    val roots = grouped(rows)(_.getLong(ix("uid")))
    // per-parent @groupby arrays: traverse the edge from the block's
    // roots, group the targets, render one array per parent (a parent
    // with no groups renders no key, reference
    // TestGroupByFriendsMultipleParents' Andrea)
    val gbJson = gbSels.flatMap { s =>
      val src = if (s.reverse) ts.reverseEdge(s.pred) else ts.edge(s.pred)
      val targets = roots.map(_._1).toDF("uid")
        .join(src.select(col("subject").as("uid"), col("object").as("__t")), Seq("uid"))
      groupbyGroups(targets, s.groupby, s.children).map { g =>
        s -> groupbyArray(g, s.groupby, s.children, Seq("uid"))
          .select(col("uid"), jsonValue(col("__gb"))).collect()
          .map(r => r.getLong(0) -> r.getString(1)).toMap
      }
    }
    // each rendered field in DECLARATION order; a @groupby array on an
    // edge key goes immediately BEFORE that key's plain children so a
    // repeated edge merges as [@groupby obj, ...children] (reference
    // TestGroupBy_RepeatAttr). b2's rewrite may either keep the groupby
    // selection or fold it into the plain one — emit each gb array once,
    // on the first selection sharing its key.
    val rootSels = b2.selections.filter(_.pred != "uid")
    var fields: Seq[(String, (Long, Seq[Row]) => String)] = rootSels.flatMap { s =>
      if (s.groupby.nonEmpty || (isEdge(s) && !renders(s))) Nil
      else if (isEdge(s)) Seq(jsonKey(s) -> ((_: Long, g: Seq[Row]) => childJson(g, s, s.outName)))
      else Seq(jsonKey(s) -> ((_: Long, g: Seq[Row]) => firstVal(g, s.outName)))
    }
    gbJson.foreach { case (gs, byUid) =>
      val f = jsonKey(gs) -> ((u: Long, _: Seq[Row]) => byUid.get(u).orNull)
      val idx = fields.indexWhere(_._1 == f._1)
      fields = if (idx >= 0) (fields.take(idx) :+ f) ++ fields.drop(idx) else fields :+ f
    }
    // duplicate field names (a repeated edge: @groupby + plain children
    // under one key) merge into ONE array after rendering
    val dupKeys = fields.map(_._1).distinct.size != fields.size
    val rootFv = fvCols(rootSels, "")
    val explicitUid = b.selections.find(s => s.pred == "uid" && !s.isCount)
    val uidKey =
      if (includeUid || explicitUid.isDefined) Some(explicitUid.flatMap(_.alias).getOrElse("uid"))
      else None
    val objs = roots.flatMap { case (u, g) =>
      val values = fields.map { case (k, f) => k -> f(u, g) }
      // without a uid key, a root whose requested values are ALL absent
      // renders nothing — the reference omits value-less objects at the
      // root too (TestRecurseVariable: the nameless friend disappears
      // from the uid-var block; TestFacetsAlias2's me2 renders [])
      if (uidKey.isEmpty && values.forall(_._2 == null)) None
      else {
        val j = jsonObj(uidKey.map(_ -> quote(hexS(u))).toSeq ++ values ++
          rootFv.map { case (c, k) => k -> firstVal(g, c) })
        Some((u, g.head, if (dupKeys) mergeDupKeys(j) else j))
      }
    }
    val ordered = fr.inRootOrder(objs)(_._2)
    // count(uid) at root: one {"count": n} object PER count entry (alias
    // honored), FIRST in the block array (reference TestCountAtRoot3;
    // TestCountUIDWithMultipleCountAndAlias — each aliased count is its
    // own object); n is the filtered frontier size
    countObjs(roots.size) ++ ordered.map(o => (o._1, o._3))
  }

  /** RFC3339 timestamps ("1910-01-01T00:00:00Z"), matching the
    * reference's datetime JSON encoding (types/conversion.go marshals
    * time.Time with RFC3339).
    */
  private val jsonOpts = Map("timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ssXXX")
}

object DqlExecutor {

  /** Session settings that evaluate a query without generated code:
    * no whole-stage codegen, and interpreted projections, predicates
    * and orderings in place of Janino-compiled ones. Spark implements
    * every expression both ways, so results do not change. Two Spark
    * operators still compile a class each, once per JVM, whatever the
    * factory mode: `TakeOrderedAndProjectExec` (a sort with a limit,
    * e.g. a paged root) builds a `LazilyGeneratedOrdering`, and
    * `HashAggregateExec` off whole-stage codegen joins its result rows
    * with `GenerateUnsafeRowJoiner`.
    */
  val Interpreted: Seq[(String, String)] = Seq(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  /** Largest store whose JSON reads run interpreted. Measured with
    * `graft.Time` on the four JSON read gates, interpreted against
    * compiled in alternated runs (4 cores, GraftSession's 512-entry
    * class cache): interpreted saves most of the first run's Janino
    * compiles at every size, and from the second run on it is faster
    * over a 1.9 MB store, even over 3.2 MB, and slower over 8 MB
    * (+4%) and 17.5 MB. The cutoff lies between the largest even size
    * and the smallest slower one. Those sizes summed every input table,
    * `events` too, which no store view reads; the store's size now
    * counts only the tables it reads (1.65 MB at sf0.01, 15.5 MB at
    * sf0.1), and each tier keeps its read mode.
    */
  val InterpretedMaxBytes: Long = 4L << 20

  /** How JSON and RDF reads over a store of `storeBytes` run:
    * interpreted up to [[InterpretedMaxBytes]], since compiling and
    * JIT-warming a plan costs more than evaluating it over that little
    * data (adaptive execution, Kohn, Leis & Neumann, ICDE 2018); compiled
    * above it or when the size is unknown.
    */
  final case class ReadMode(storeBytes: Option[Long]) {
    def interpreted: Boolean = storeBytes.exists(_ <= InterpretedMaxBytes)
    override def toString: String =
      s"store ${storeBytes.fold("unknown")(b => s"$b bytes")}, " +
        s"interpreted up to $InterpretedMaxBytes bytes: DQL JSON and RDF reads run " +
        (if (interpreted) "interpreted" else "compiled")
  }

  object ReadMode {
    def apply(store: GraphStore): ReadMode = ReadMode(store.estimatedBytes)
  }

  /** Root-to-leaf flattening of a rendered recurse tree (reference
    * normalize-over-recurse, query/outputnode.go normalize walk):
    * `edgeKeys` are the tree's uid-predicate keys; every other key is a
    * scalar that accumulates into a path-ordered array.
    */
  private[exec] def flattenRecursePaths(json: String,
      edgeKeys: Seq[String]): Seq[String] = {
    if (json == null) return Nil
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = m.readTree(json)
    val edgeSet = edgeKeys.toSet
    val out = Seq.newBuilder[String]
    def walk(node: com.fasterxml.jackson.databind.JsonNode,
        path: List[com.fasterxml.jackson.databind.JsonNode]): Unit = {
      val p = node :: path
      val kids = edgeKeys.flatMap { k =>
        Option(node.get(k)).toSeq.flatMap { c =>
          if (c.isArray) (0 until c.size()).map(c.get) else Seq(c)
        }
      }
      if (kids.isEmpty) {
        val ordered = p.reverse
        val keys = scala.collection.mutable.LinkedHashSet.empty[String]
        ordered.foreach(n => n.fieldNames().forEachRemaining { k =>
          if (!edgeSet.contains(k) && k != "uid") keys += k
        })
        val obj = m.createObjectNode()
        keys.foreach { k =>
          val arr = m.createArrayNode()
          ordered.foreach(n => Option(n.get(k)).foreach(arr.add))
          obj.set[com.fasterxml.jackson.databind.node.ObjectNode](k, arr)
        }
        out += m.writeValueAsString(obj)
      } else kids.foreach(walk(_, p))
    }
    walk(root, Nil)
    out.result()
  }
}
