package graft.plans

import graft.operators.SizeGate
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanLike, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{BroadcastQueryStageExec, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, Exchange, ShuffleExchangeExec}

/** AQE query-stage prep rule: sort a measured-small input in one
  * partition. A global `orderBy` plans as a range exchange, whose
  * `RangePartitioner` runs a sampling job over the sort's input before
  * the shuffle runs that input a second time. When the input fits
  * [[SizeGate.SortOnePartitionBytes]], the exchange becomes
  * `CoalesceExec(1, child)`: the sort runs in one task with no sampling
  * job and no shuffle, and a total sort on one partition yields the
  * same order. Over the cap, on an unknown size, or forced at scale,
  * the range exchange stays as planned.
  *
  * Only global sorts yield range exchanges with origin
  * `ENSURE_REQUIREMENTS`: `repartitionByRange`, `sortWithinPartitions`
  * and `TakeOrderedAndProject` are untouched. AQE re-runs its prep rules
  * on every re-plan after a stage finishes, so a sort above a shuffle is
  * decided once that shuffle is measured; AQE adopts the new plan
  * because it has one exchange fewer. Plans outside AQE never see the
  * rule. Injected by [[graft.GraftExtensions]] (`injectQueryStagePrepRule`).
  */
object SmallSort extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case ShuffleExchangeExec(_: RangePartitioning, child, ENSURE_REQUIREMENTS, _)
        if inputBytes(child).exists(SizeGate.fits(_, SizeGate.SortOnePartitionBytes)) =>
      CoalesceExec(1, child)
  }

  /** Input bytes of `plan`'s pipeline, summed over its leaves down to
    * the nearest stage boundary: a materialized shuffle or broadcast
    * stage counts its runtime size, a file scan the bytes of the files
    * it selects. Any other leaf (an exchange not yet materialized, an
    * RDD or checkpoint scan, a `range`) makes the size unknown: None. */
  private[graft] def inputBytes(plan: SparkPlan): Option[Long] = plan match {
    case s: QueryStageExec => s match {
      case _: ShuffleQueryStageExec | _: BroadcastQueryStageExec if s.isMaterialized =>
        Some(s.getRuntimeStatistics.sizeInBytes.toLong)
      case _ => None
    }
    case _: Exchange => None
    case f: FileSourceScanLike => Some(f.selectedPartitions.totalFileSize)
    case p if p.children.isEmpty => None
    case p => p.children.foldLeft(Option(0L)) { (acc, c) =>
      for (a <- acc; b <- inputBytes(c)) yield a + b
    }
  }
}
