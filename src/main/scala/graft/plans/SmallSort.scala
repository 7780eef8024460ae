package graft

import org.apache.spark.sql.catalyst.plans.logical.{Generate, LogicalPlan, Sort}
import org.apache.spark.sql.execution.{CoalesceExec, SortExec, SparkPlan,
  SparkStrategy}
import org.apache.spark.sql.execution.adaptive.LogicalQueryStage
import org.apache.spark.sql.internal.SQLConf

/** Plans a small global sort in one partition: `Sort(order, global, child)`
  * becomes `SortExec(order, global, CoalesceExec(1, child))` instead of
  * Spark's range shuffle. A range shuffle costs two Spark jobs on top of
  * the sort's own: one that samples range bounds (`RangePartitioner`,
  * which recomputes the sort's input) and one that writes the shuffle.
  * On a few hundred rows, AQE's `CoalesceShufflePartitions` then merges
  * that shuffle back into a single partition, so both jobs buy nothing.
  * Five of the 8 statements of the `star_sql` benchmark end in `ORDER BY`
  * without `LIMIT`; with this rule one pass runs 30 Spark jobs instead of
  * 40, and the median statement latency fell by a fifth (4 vCPUs).
  *
  * The rule fires only when all of these hold, and otherwise returns
  * `Nil` so Spark plans the sort as usual:
  *
  *  - '''The input has already run.''' Every leaf of `child` is a
  *    materialized AQE [[LogicalQueryStage]]. The rule therefore acts only
  *    when AQE re-plans after the sort's input stages have finished, and
  *    judges the input by their runtime sizes, never by an estimate of
  *    unexecuted work. Initial plans, plans over a scan or a broadcast
  *    that has not run, and sessions with AQE off are left alone. AQE
  *    adopts the re-planned plan under its own cost rule, because it has
  *    one shuffle fewer.
  *  - '''The input fits the partition AQE would have made.''' The limit
  *    is the size below which `CoalesceShufflePartitions` would leave the
  *    range shuffle as one partition, read from the same confs AQE reads:
  *    `spark.sql.adaptive.coalescePartitions.minPartitionSize` when
  *    `coalescePartitions.parallelismFirst` is on (partitions under it are
  *    merged), otherwise `spark.sql.adaptive.advisoryPartitionSizeInBytes`
  *    (the target it packs partitions up to). With coalescing off AQE
  *    keeps the shuffle's partitions, so the rule declines. Under that
  *    limit the plan has the partitioning AQE would have produced,
  *    without the two jobs; above it the sort keeps its parallelism.
  *  - '''Nothing can hide extra rows.''' A [[Generate]] between the sort
  *    and its stages declines the rule: Spark's size-only estimate passes
  *    a generator's input size through, so it does not see the rows an
  *    explode adds.
  *
  * Installed on every graft session by [[Session.prepare]] and injected by
  * [[GraftExtensions]].
  */
object SmallSortStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Sort(order, true, child, _) if inputRan(child) &&
        !child.exists(_.isInstanceOf[Generate]) && fitsOnePartition(child) =>
      SortExec(order, global = true, CoalesceExec(1, planLater(child))) :: Nil
    case _ => Nil
  }

  private def inputRan(child: LogicalPlan): Boolean =
    child.collectLeaves().forall {
      case s: LogicalQueryStage => s.isMaterialized
      case _ => false
    }

  private def fitsOnePartition(child: LogicalPlan): Boolean = {
    val conf = SQLConf.get
    conf.coalesceShufflePartitionsEnabled && {
      val limit =
        if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
          conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
        else conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
      child.stats.sizeInBytes <= limit
    }
  }
}
