package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.PlanExpression
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.catalyst.plans.physical.{SinglePartition, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, ExpandExec, FileSourceScanExec, FilterExec, GenerateExec, PartitionedFileUtil, ProjectExec, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import graft.Arms

/** One-split plans: no exchange above a scan that Spark reads as one split.
  *
  * An operator that requires its child clustered, ordered or whole (a
  * global sort, a final aggregate, a window) gets a shuffle from
  * `EnsureRequirements`. When the child is a narrow chain over a file scan
  * of exactly one split, that shuffle moves one map task's output into
  * partitions AQE coalesces back to one or two — a sampling job, a map job
  * and a result job where one job would do. This rule puts `CoalesceExec(1)`
  * directly under such an operator instead: it reports `SinglePartition`,
  * which satisfies every non-broadcast distribution, so `EnsureRequirements`
  * adds no exchange there and Filter/Project stay fused with the scan.
  *
  * The input is bounded by the split itself: one split is at most
  * `FilePartition.maxSplitBytes` of file, which already runs as one task.
  *
  * Injected as a query-post-planner-strategy rule, so it runs on AQE's
  * initial plan and on every re-plan, before `EnsureRequirements`. It
  * decides from plan structure and the file listing only: before
  * `EnsureRequirements` a node's `outputPartitioning` may not be valid
  * (above a sort-merge join it throws), and building the scan's read RDD
  * at plan time would broadcast the Hadoop conf on every re-plan.
  * `spark.graft.arms=distributed` turns it off.
  */
case class OneSplitPlans(spark: SparkSession) extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan =
    plan.transformUp {
      case op: UnaryExecNode if requiresShuffle(op) &&
          OneSplitPlans.readsOneSplit(spark, op.child) =>
        op.withNewChildren(Seq(CoalesceExec(1, op.child)))
    }

  /** `op` needs a child distribution that one partition satisfies: not a
    * broadcast, and no other partition count. */
  private def requiresShuffle(op: UnaryExecNode): Boolean = {
    val d = op.requiredChildDistribution.head
    d != UnspecifiedDistribution && SinglePartition.satisfies(d)
  }
}

object OneSplitPlans {

  /** `p` is a narrow chain over a file scan that Spark reads as exactly one
    * split, so its output is one partition: the test this rule applies
    * under an operator, and the one a bucketed store write uses to skip
    * its aligned repartition ([[graft.operators.IndexFiles.boundBucketedWrite]]).
    * `p` is a physical plan before `EnsureRequirements` (a Dataset's
    * `queryExecution.sparkPlan`). Always false under
    * `spark.graft.arms=distributed`. */
  def readsOneSplit(spark: SparkSession, p: SparkPlan): Boolean =
    !Arms.forcedDistributed(spark) && (source(p) match {
      case s: FileSourceScanExec => splits(s).contains(1)
      case _ => false
    })

  /** The bottom of the narrow chain under `p`: the node its partitions come
    * from. Shuffled joins and planner-made exchanges end the chain. */
  private def source(p: SparkPlan): SparkPlan = p match {
    case _: ProjectExec | _: FilterExec | _: ExpandExec | _: GenerateExec =>
      source(p.children.head)
    case a: BaseAggregateExec if a.requiredChildDistributionExpressions.isEmpty =>
      source(a.child)
    case j: BroadcastHashJoinExec =>
      source(j.buildSide match { case BuildRight => j.left; case BuildLeft => j.right })
    case _ => p
  }

  /** How many splits Spark's read of `scan` will have, from the file listing
    * with Spark's own split and packing logic; None for a scan this rule
    * leaves alone (bucketed, or partitions pruned by a subquery). Equals the
    * scan's `inputRDD.getNumPartitions`. */
  def splits(scan: FileSourceScanExec): Option[Int] = {
    val relation = scan.relation
    if (relation.bucketSpec.isDefined ||
        scan.partitionFilters.exists(_.exists(_.isInstanceOf[PlanExpression[_]]))) None
    else {
      val session = relation.sparkSession
      val listing = scan.selectedPartitions
      val maxSplitBytes = FilePartition.maxSplitBytes(session, listing)
      val files = listing.filePartitionIterator.flatMap { p =>
        p.files.flatMap { f =>
          val splitable = relation.fileFormat.isSplitable(session, relation.options, f.getPath)
          PartitionedFileUtil.splitFiles(f, f.getPath, splitable, maxSplitBytes, p.values)
        }
      }.toSeq.sortBy(_.length)(Ordering.Long.reverse)
      Some(FilePartition.getFilePartitions(session, files, maxSplitBytes).size)
    }
  }
}
