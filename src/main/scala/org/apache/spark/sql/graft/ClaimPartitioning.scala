// Hosted under org.apache.spark.sql.* — planner/exec surfaces
// (Dataset.ofRows, HashPartitioning, SparkStrategy) are
// private[spark]/private[sql].
package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning}
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Logical partitioning claim: asserts (without moving a row) that
  * `child`'s rows are laid out exactly as
  * `HashPartitioning(keys, numPartitions)` would place them.
  *
  * Why (optimization guide §2.4, "remove shuffles outright"): an eager
  * `localCheckpoint` replaces a plan with a `LogicalRDD` scan whose
  * partitioning is `UnknownPartitioning` under AQE — so a loop that
  * checkpoints its loop-INVARIANT relation (the edge table of an
  * iterative graph algorithm) re-exchanges that relation in every
  * round even though the rows never moved. Round 15 measured exactly
  * that: pre-partitioning the checkpoint input added the exchange but
  * the claim was lost through the lineage cut, so per-round shuffle
  * bytes went UP. This node carries the claim through the cut: the
  * caller repartitions by `keys` into `numPartitions`, checkpoints,
  * and wraps the scan in a claim — EnsureRequirements then sees a
  * satisfied ClusteredDistribution and exchanges only the other
  * (node-sized) side of each per-round join.
  *
  * SAFETY CONTRACT: the node itself checks nothing — a false claim
  * silently drops join matches — so it is only ever built AFTER the
  * layout was read off an executed plan.
  * [[GraftPlans.claimIfHashPartitioned]] is its one constructor: it
  * wraps a checkpoint scan only when the checkpointed frame's final
  * (post-AQE) physical plan reports exactly
  * `HashPartitioning(keys, numPartitions)`, and a local checkpoint
  * is per-partition, so the layout survives the cut. Library code
  * reaches it through `graft.operators.Checkpoints.eager(df, claim)`.
  */
case class ClaimHashPartitioned(
    keys: Seq[Expression],
    numPartitions: Int,
    child: LogicalPlan
) extends UnaryNode {
  require(numPartitions > 0)
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): ClaimHashPartitioned =
    copy(child = newChild)
}

/** Physical pass-through that re-reports the child's rows as
  * hash-partitioned. Zero per-row work: `doExecute` IS the child's
  * RDD. */
case class ClaimHashPartitionedExec(
    keys: Seq[Expression],
    numPartitions: Int,
    child: SparkPlan
) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = HashPartitioning(keys, numPartitions)
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override def nodeName: String = "GraftClaimHashPartitioned"
  override protected def doExecute(): RDD[InternalRow] = child.execute()
  override protected def withNewChildInternal(newChild: SparkPlan): ClaimHashPartitionedExec =
    copy(child = newChild)
}

object ClaimHashPartitionedStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ClaimHashPartitioned(keys, n, child) =>
      ClaimHashPartitionedExec(keys, n, planLater(child)) :: Nil
    case _ => Nil
  }
}
