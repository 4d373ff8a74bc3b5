package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Literal, RLike, StartsWith}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Optimizer rule: regexp(p, "^literal.*") → StartsWith(p, literal).
  *
  * The reference accelerates regexp with a trigram index prefilter
  * (worker/trigram.go:24). The Spark-native analogue: RLike is opaque to
  * parquet pushdown, but StartsWith maps to a native
  * `StringStartsWith` source filter that prunes row groups via
  * min/max stats. The rewrite fires only for anchored prefixes made of
  * regex-safe characters (no metachars), where the semantics are
  * provably identical ('.' not matching newlines doesn't matter for a
  * prefix test; no '$' rewrites — '$' also matches before a trailing
  * newline, which equality would not).
  *
  * Installed via `spark.experimental.extraOptimizations` so it applies
  * to sessions we didn't build (the driver owns the SparkSession).
  */
object RegexpPrefixToStartsWith extends Rule[LogicalPlan] {

  // ^<safe literal>  or  ^<safe literal>.*    (safe = no regex metachars)
  private val Prefix = """\^([A-Za-z0-9 _#@-]+)(?:\.\*)?""".r

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case RLike(child, Literal(pat: UTF8String, StringType)) =>
        pat.toString match {
          case Prefix(litPrefix) =>
            StartsWith(child, Literal(UTF8String.fromString(litPrefix), StringType))
          case _ => RLike(child, Literal(pat, StringType))
        }
    }
}

object GraftOptimizations {
  /** Idempotently register graft's optimizer rule and planner strategy
    * ([[SmallSort]]) on a session.
    */
  def install(spark: SparkSession): Unit = synchronized {
    val cur = spark.experimental.extraOptimizations
    if (!cur.contains(RegexpPrefixToStartsWith))
      spark.experimental.extraOptimizations = cur :+ RegexpPrefixToStartsWith
    val strategies = spark.experimental.extraStrategies
    if (!strategies.contains(SmallSort))
      spark.experimental.extraStrategies = strategies :+ SmallSort
  }
}
