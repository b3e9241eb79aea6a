package org.apache.spark.sql.graftx

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SortExec, SparkPlan, UnionExec}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.WindowExecBase
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.util.Utils

/** AQE query-stage preparation rule: a global sort whose input is already
  * MEASURED to be small gathers through a single-partition exchange
  * instead of a range exchange.
  *
  * Building a range exchange's `RangePartitioner` runs its own sampling
  * job (sketch → collect) before the shuffle itself. When the input is
  * small, `CoalesceShufflePartitions` then reads the whole range shuffle
  * as ONE partition anyway, so the sample bought nothing: at report
  * scale that is one extra Spark job per ordered query.
  *
  * The rewrite fires only when both hold:
  *  - the exchange's input size is measured, not estimated: below it sit
  *    only row-non-increasing operators (project, filter, aggregate, sort,
  *    window, union, shuffle reads) down to materialized shuffle stages,
  *    whose map statistics give the bytes;
  *  - those bytes are at or below the size at which
  *    `CoalesceShufflePartitions` is certain to read the shuffle as one
  *    partition, derived from the same session confs it reads.
  * So it changes neither the partition count the sort runs with nor the
  * row order; it only drops the sampling job. With partition coalescing
  * off (or AQE off: prep rules then never run) it never fires, and a
  * large input is never measured small, so large plans keep their range
  * exchange. */
case class SmallSortSinglePartition(session: SparkSession) extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan =
    if (!conf.coalesceShufflePartitionsEnabled) plan
    else {
      val limit = oneReadPartitionBytes
      plan.transformUp {
        case e @ ShuffleExchangeExec(_: RangePartitioning, child, ENSURE_REQUIREMENTS, _)
            if measuredBytes(child).exists(_ <= limit) =>
          e.copy(outputPartitioning = SinglePartition)
      }
    }

  /** Largest shuffle CoalesceShufflePartitions always reads as one
    * partition: it packs partitions up to
    * `max(min(ceil(total / minNum), advisory), minSize)`, which is ≥ the
    * total for every total up to this value. */
  private def oneReadPartitionBytes: Long = {
    val advisory = conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    val minSizeConf = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    // the coalescing rule caps the minimum size at advisory/5 under test
    val minSize = if (Utils.isTesting) minSizeConf.min(advisory / 5) else minSizeConf
    val minNum = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_NUM).getOrElse {
      if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST)) {
        session.sparkContext.defaultParallelism
      } else 1
    }
    if (minNum <= 1) advisory.max(minSize) else minSize
  }

  /** Bytes entering `p` from materialized shuffle stages, when every
    * operator on the way is row-non-increasing; None otherwise. */
  private def measuredBytes(p: SparkPlan): Option[BigInt] = p match {
    case s: ShuffleQueryStageExec =>
      if (s.isMaterialized) Some(BigInt(s.mapStats.map(_.bytesByPartitionId.sum).getOrElse(0L)))
      else None
    case _: ProjectExec | _: FilterExec | _: BaseAggregateExec | _: SortExec |
         _: WindowExecBase | _: UnionExec | _: AQEShuffleReadExec =>
      p.children.foldLeft(Option(BigInt(0))) { (acc, c) =>
        acc.flatMap(a => measuredBytes(c).map(a + _))
      }
    case _ => None
  }
}
