package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioningLike, Partitioning, PartitioningCollection, RangePartitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{BroadcastQueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, Exchange, ShuffleExchangeExec, ValidateRequirements}
import org.apache.spark.sql.internal.SQLConf

/** AQE query-stage preparation rule: replaces a planner-inserted
  * shuffle whose whole input is already materialized and no larger
  * than one AQE partition with `CoalesceExec(1, child)`.
  *
  * A short report ends in a global sort (and often a window or
  * grouping-set aggregate) over a few KB of aggregated rows. Left
  * alone, the range exchange under the sort launches a sampling job
  * and a map stage, and `CoalesceShufflePartitions` then reads the
  * result as one partition anyway. A single partition is already
  * globally ordered and clustered, so coalescing the input into the
  * one reduce task gives the same rows without the shuffle. No
  * parallelism is lost: the child's input stages are no larger than
  * one partition either, so AQE already reads them in one task.
  *
  * An exchange is elided only when all of these hold:
  *  - it is an `ENSURE_REQUIREMENTS` range or hash shuffle (a user
  *    `repartition` or `REBALANCE` is never touched);
  *  - every leaf below it is a materialized shuffle stage or a
  *    materialized broadcast build side, with no other exchange and no
  *    `Generate` in between;
  *  - both the stages' map-output bytes and the runtime size estimate
  *    of its child's logical plan fit in one partition, i.e. the size
  *    at which `CoalesceShufflePartitions` itself would read a single
  *    partition (see [[onePartitionBytes]]); with coalescing off the
  *    rule never fires.
  * The exchanges are tried one at a time, bottom-up, and each rewrite
  * is kept only if `ValidateRequirements` still holds for the whole
  * plan (so a shuffled join keeps its co-partitioning) and a
  * hash-partitioned root keeps its partitioning (it may stand for a
  * user `repartition` that `EnsureRequirements` folded into an
  * aggregate's exchange).
  */
case class ElideTinyShuffles(session: SparkSession) extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = onePartitionBytes match {
    case None => plan
    case Some(limit) =>
      val n = plan.collect { case e: ShuffleExchangeExec => e }.size
      val picked = (0 until n).foldLeft(Set.empty[Int]) { (ok, i) =>
        if (keeps(plan, elide(plan, limit, ok + i))) ok + i else ok
      }
      elide(plan, limit, picked)
  }

  /** The input size `CoalesceShufflePartitions` reads as one partition:
    * its target size is `min(total / minPartitionNum, advisory)`
    * raised to `minPartitionSize`, so the whole input fits one target
    * iff it is at most `minPartitionSize` or, when `minPartitionNum`
    * is 1 (`parallelismFirst` off), at most the advisory size. */
  private[graft] def onePartitionBytes: Option[Long] =
    if (!conf.coalesceShufflePartitionsEnabled) None
    else {
      val minNum = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_NUM).getOrElse(
        if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
          session.sparkContext.defaultParallelism
        else 1)
      val minSize = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
      Some(if (minNum > 1) minSize
        else math.max(minSize, conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)))
    }

  /** Rewrite the exchanges whose post-order index in `plan` satisfies
    * `pick` and that pass the gate (judged on the already rewritten
    * child, so a chain of small exchanges collapses bottom-up). */
  private def elide(plan: SparkPlan, limit: Long, pick: Int => Boolean): SparkPlan = {
    var i = -1
    plan.transformUp {
      case e: ShuffleExchangeExec =>
        i += 1
        if (pick(i) && elidable(e, limit)) CoalesceExec(1, e.child) else e
    }
  }

  private def elidable(e: ShuffleExchangeExec, limit: Long): Boolean = {
    val shapeOk = e.shuffleOrigin == ENSURE_REQUIREMENTS && (e.outputPartitioning match {
      case _: RangePartitioning | _: HashPartitioningLike => true
      case _ => false
    })
    lazy val leaves = e.child.collectLeaves()
    lazy val materialized = leaves.nonEmpty && leaves.forall {
      case s: ShuffleQueryStageExec => s.isMaterialized
      case b: BroadcastQueryStageExec => b.isMaterialized
      case _ => false
    }
    lazy val blocked = e.child.exists {
      case _: Exchange | _: GenerateExec => true
      case _ => false
    }
    lazy val mapBytes = leaves.collect {
      case s: ShuffleQueryStageExec => s.mapStats.map(_.bytesByPartitionId.sum).getOrElse(0L)
    }.sum
    lazy val estimate = e.child.logicalLink.map(_.stats.sizeInBytes)
    shapeOk && materialized && !blocked && mapBytes <= limit &&
      estimate.exists(_ <= BigInt(limit))
  }

  private def keeps(before: SparkPlan, after: SparkPlan): Boolean =
    ValidateRequirements.validate(after) &&
      (!clustered(before.outputPartitioning) ||
        after.outputPartitioning == before.outputPartitioning)

  private def clustered(p: Partitioning): Boolean = p match {
    case _: HashPartitioningLike => true
    case c: PartitioningCollection => c.partitionings.exists(clustered)
    case _ => false
  }
}
