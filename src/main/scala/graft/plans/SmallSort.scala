package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, Distribution, Partitioning, SinglePartition}
import org.apache.spark.sql.execution.{SortExec, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.internal.SQLConf

/** Planner strategy: a small global sort runs in one partition, without
  * a range exchange.
  *
  * Spark plans every global `Sort` over a `RangePartitioning` exchange.
  * Building that exchange's `RangePartitioner` runs a job of its own,
  * which evaluates the sort's whole input just to sample the range
  * bounds; the shuffle's map stage then evaluates the input again (a
  * bcrypt check over 150 rows ran twice). When AQE's coalescing would
  * leave the sorted output in one partition anyway, the bounds are
  * wasted. This strategy plans such a sort over [[SinglePartitionExec]]
  * instead: its input is gathered into one partition (an exchange only
  * where the input is not one partition already, so a global aggregate
  * or a limit gains none) and sorted there. The rows and their order are
  * the same; only the input is evaluated once.
  *
  * "Small" is the estimated input size (`stats.sizeInBytes`) at or below
  * the size AQE's coalescing, as the session configures it, packs into
  * one partition: `advisoryPartitionSizeInBytes` with `parallelismFirst`
  * off, `minPartitionSize` with it on. The strategy applies only while
  * AQE and its partition coalescing are on; other sorts, streaming
  * plans and sessions with AQE off keep Spark's plan. AQE re-plans with
  * runtime sizes once a stage has run, so the choice follows the
  * measured input from there. The choice of physical operator by input
  * size follows Pregelix (VLDB 2014).
  */
object SmallSort extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Sort(order, true, child, _) if !child.isStreaming &&
        onePartitionBytes(SQLConf.get).exists(child.stats.sizeInBytes <= _) =>
      SortExec(order, global = true, SinglePartitionExec(planLater(child))) :: Nil
    case _ => Nil
  }

  /** The input size up to which AQE's coalescing leaves a shuffle's
    * output in one partition, or None when it does not coalesce.
    */
  private[plans] def onePartitionBytes(conf: SQLConf): Option[Long] =
    if (!conf.adaptiveExecutionEnabled || !conf.coalesceShufflePartitionsEnabled ||
        conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_NUM).exists(_ > 1)) None
    else Some(
      if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
        conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
      else conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
}

/** Passes its child's rows through, requiring them in one partition:
  * planning inserts a single-partition exchange below it unless the
  * child already is one partition. Its output is one partition, so a
  * global [[SortExec]] above it needs no range exchange.
  */
case class SinglePartitionExec(child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def requiredChildDistribution: Seq[Distribution] = AllTuples :: Nil
  override def outputPartitioning: Partitioning = SinglePartition
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = child.execute()

  override protected def withNewChildInternal(newChild: SparkPlan): SinglePartitionExec =
    copy(child = newChild)
}
