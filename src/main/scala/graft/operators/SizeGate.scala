package graft.operators

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, Row}

/** The one local-vs-distributed decision. Each size-adaptive operator
  * has a local fast path (on the driver, or in one partition) and a
  * distributed at-scale path with the same output; it takes the local
  * path only when a MEASURED size
  * fits its cap below, so the path that runs at 100 TB is chosen by
  * data, not by a constant tuned for either scale.
  *
  * The row gates measure with [[rowsIfBounded]]: one bounded `take`
  * whose rows ARE the collect, so nothing is read twice. It runs as one
  * task over the coalesced frame, so it is one Spark job however many
  * partitions the frame has (a plain `take` scales 1 → 4× partitions
  * per job: 3 jobs on 8 partitions). The sort gate measures the input
  * bytes of a global sort's pipeline ([[graft.plans.SmallSort]]).
  *
  * One switch forces every gate to its at-scale branch: the env var
  * `GRAFT_SIZE_GATE=at_scale` for a whole JVM (a forked `runMain
  * graft.Verify` inherits it), or [[atScale]] around a block in-process.
  */
private[graft] object SizeGate {

  /** [[GraphLocal]] kernels: collected edge/seed/node rows (≈ 16 MB). */
  final val GraphLocalRows = 1000000
  /** [[Dedup.connectedComponents]] union-find: symmetrized edge rows,
    * i.e. 1M undirected pairs (≈ 16 MB). [[CcIndex.update]]'s local
    * merge takes the same 1M pairs, and as many stored label rows. */
  final val CcSymmetrizedRows = 2000000
  /** ev53/ev58/ev91 driver recurrences: transition-matrix rows. */
  final val MarkovLocalRows = 100000
  /** dd22 and [[PrefixIndex]] kernel verify: 4× the estimated
    * doc-token bytes (≈ 320K docs at ~170 B/doc). */
  final val PpjoinBroadcastBytes: Long = 256L << 20
  /** [[graft.plans.SmallSort]]: a global sort's input bytes (files
    * selected, or materialized stage sizes), sorted in one partition
    * without a range exchange; AQE's default advisory partition size. */
  final val SortOnePartitionBytes: Long = 64L << 20

  private val forcedByEnv: Boolean = sys.env.get("GRAFT_SIZE_GATE") match {
    case None | Some("") => false
    case Some("at_scale") => true
    case Some(v) => throw new IllegalArgumentException(
      s"GRAFT_SIZE_GATE=$v: the only accepted value is at_scale")
  }

  // a count, not a flag, so nested atScale blocks restore correctly;
  // global, not per-thread: IncrementalCorpus runs the CC gate on a
  // PrefixIndex.inParallel pool thread
  private val forcedScopes = new AtomicInteger(0)

  private def forced: Boolean = forcedByEnv || forcedScopes.get > 0

  /** Take the local branch? `measured` and `cap` in the same unit. */
  def fits(measured: Long, cap: Long): Boolean = !forced && measured <= cap

  /** Collect `df` (an ALREADY-materialized frame) if it holds ≤ cap
    * rows; None ⇒ the caller keeps its distributed branch. */
  def rowsIfBounded(df: DataFrame, cap: Int): Option[Array[Row]] =
    if (forced) None
    else {
      val rows = df.coalesce(1).take(cap + 1)
      if (fits(rows.length, cap)) Some(rows) else None
    }

  /** Run `body` with every gate forced to its at-scale branch. */
  def atScale[T](body: => T): T = {
    forcedScopes.incrementAndGet()
    try body finally forcedScopes.decrementAndGet()
  }
}
