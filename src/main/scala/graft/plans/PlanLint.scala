package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Plan linter (SURVEY §2 R128): the scale-antipattern audit this repo
  * runs by hand on every new operator (PLANS.md discipline), packaged
  * as an API — point it at any DataFrame and it walks the physical
  * plan for the shapes that break at 100 TB:
  *
  *  - `cartesian-product`   O(n·m) join (CartesianProduct / unconditioned
  *                          nested-loop) — warn
  *  - `global-window`       WindowExec with an empty partitionSpec: every
  *                          row through ONE reducer — warn, UNLESS the
  *                          input frame is statically bounded (post-limit
  *                          subtree maxRows / CBO row count <= 100k): the
  *                          bounded-spine class is info
  *  - `missed-broadcast`    shuffle join whose smaller input is under the
  *                          broadcast threshold by the optimizer's own
  *                          estimate — warn
  *  - `unpushed-scan`       file scan that reports no pushed filters while
  *                          a post-scan filter prunes its output — info
  *                          (non-pushable predicates are legitimate)
  *  - `exchange`            one per shuffle — info, the count IS the cost
  *                          model
  *
  * Read-only: linting forces planning (and with AQE, the final adaptive
  * plan) but executes nothing. The severity split keeps the warn set
  * actionable — PlanLintSpec pins that every warn rule fires on a
  * constructed offender and stays silent on the catalog's audited
  * flagship shapes.
  */
object PlanLint {

  final case class Finding(rule: String, severity: String, detail: String)

  def lint(df: DataFrame): Seq[Finding] = {
    val executed = df.queryExecution.executedPlan
    val plan = executed match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // Spark's own byte-string parser ("10MB", "1g", ...) — a hand-rolled
    // suffix switch missed valid spellings and would crash the whole lint
    // pass. Negative values ("-1" = disabled) are signed OUTSIDE the
    // parser, exactly as Spark's ConfigHelpers.byteFromString does.
    val rawThreshold = df.sparkSession.conf
      .get("spark.sql.autoBroadcastJoinThreshold", "10485760").trim
    val threshold =
      if (rawThreshold.startsWith("-"))
        -org.apache.spark.network.util.JavaUtils.byteStringAsBytes(rawThreshold.substring(1))
      else org.apache.spark.network.util.JavaUtils.byteStringAsBytes(rawThreshold)
    val out = scala.collection.mutable.ArrayBuffer.empty[Finding]

    plan.foreach {
      case c: CartesianProductExec =>
        out += Finding("cartesian-product", "warn",
          s"O(n*m) cartesian join: ${c.simpleStringWithNodeId()}")
      case b: BroadcastNestedLoopJoinExec if b.condition.isEmpty =>
        // the 1-row-scalar / bounded-domain broadcast idiom (global agg,
        // small range, tiny literal frame) is the repo's blessed way to
        // attach a scalar to every row — only an UNBOUNDED build side is
        // a real cartesian hazard
        val build = b.buildSide match {
          case org.apache.spark.sql.catalyst.optimizer.BuildLeft => b.left
          case _ => b.right
        }
        if (!maxRowsOf(build).exists(_ <= 1000))
          out += Finding("cartesian-product", "warn",
            s"unconditioned nested-loop join with unbounded build side: " +
              b.simpleStringWithNodeId())
      case w: WindowExec if w.partitionSpec.isEmpty =>
        // post-limit frames (maxRows from a Limit/Aggregate-on-literals
        // subtree) and CBO/AQE row-counted small frames are the blessed
        // bounded-spine class — report them as info so the warn set only
        // carries frames that scale WITH the data (the ones to rewrite
        // onto Blocked.cumulative's two-level form)
        val bound = maxRowsOf(w.child)
          .orElse(rowCountOf(w.child).map(_.toLong))
        if (bound.exists(_ <= 100000))
          out += Finding("global-window", "info",
            s"single-partition window over a statically bounded frame " +
              s"(<= ${bound.get} rows)")
        else
          out += Finding("global-window", "warn",
            "window with no PARTITION BY funnels all rows into one task")
      case j: SortMergeJoinExec =>
        checkMissedBroadcast(j, j.joinType, j.left, j.right, threshold, out)
      case j: ShuffledHashJoinExec =>
        checkMissedBroadcast(j, j.joinType, j.left, j.right, threshold, out)
      case f: org.apache.spark.sql.execution.FilterExec =>
        // a SUBSTANTIVE residual filter directly over a scan that pushed
        // nothing substantive (null checks don't count — pushdown adds
        // IsNotNull even for unpushable predicates): either the predicate
        // isn't source-expressible (legitimate but worth knowing) or
        // pushdown silently failed
        scanBelow(f.child).foreach { s =>
          val pushedReal = s.metadata.get("PushedFilters").getOrElse("[]")
            .stripPrefix("[").stripSuffix("]").split(",").map(_.trim)
            .exists(p => p.nonEmpty && !p.startsWith("IsNotNull(") &&
              !p.startsWith("IsNull("))
          val residualReal = conjuncts(f.condition).exists {
            case _: org.apache.spark.sql.catalyst.expressions.IsNotNull => false
            case _ => true
          }
          if (residualReal && !pushedReal)
            out += Finding("unpushed-scan", "info",
              "substantive filter evaluated post-scan; scan pushed no substantive predicate")
        }
      case _: ShuffleExchangeExec =>
        out += Finding("exchange", "info", "shuffle exchange")
      case _ => ()
    }
    out.toSeq
  }

  /** Warn when a shuffle join's smaller side was, by the optimizer's own
    * size estimate, under the broadcast threshold (threshold <= 0 means
    * broadcasting is disabled on purpose — stay silent). Only sides that
    * are a LEGAL broadcast build side for the join type count — a full
    * outer SMJ, or the stream side of an outer/semi join, can never be
    * broadcast, so flagging them would pollute the warn set with
    * unactionable findings (mirrors JoinSelection's canBuildLeft/Right). */
  private def checkMissedBroadcast(join: SparkPlan,
                                   joinType: org.apache.spark.sql.catalyst.plans.JoinType,
                                   left: SparkPlan, right: SparkPlan, threshold: Long,
                                   out: scala.collection.mutable.ArrayBuffer[Finding]): Unit = {
    import org.apache.spark.sql.catalyst.plans._
    if (threshold > 0) {
      val canBuildLeft = joinType match {
        case _: InnerLike | RightOuter => true
        case _ => false
      }
      val canBuildRight = joinType match {
        case _: InnerLike | LeftOuter | LeftSemi | LeftAnti | _: ExistenceJoin => true
        case _ => false
      }
      val candidates =
        (if (canBuildLeft) estimatedSize(left) else None) ++
        (if (canBuildRight) estimatedSize(right) else None)
      candidates.reduceOption(_ min _).filter(_ <= threshold).foreach { sz =>
        out += Finding("missed-broadcast", "warn",
          s"shuffle join but a broadcastable side is estimated at $sz bytes " +
            s"(<= threshold $threshold): ${join.nodeName}")
      }
    }
  }

  private def conjuncts(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      conjuncts(l) ++ conjuncts(r)
    case x => Seq(x)
  }

  /** The file scan under a chain of row-shape adapters (projection /
    * columnar-to-row), if any — the "filter sits on the scan" test. */
  private def scanBelow(p: SparkPlan): Option[FileSourceScanExec] = p match {
    case s: FileSourceScanExec => Some(s)
    case u: org.apache.spark.sql.execution.ProjectExec => scanBelow(u.child)
    case u: org.apache.spark.sql.execution.ColumnarToRowExec => scanBelow(u.child)
    case u: org.apache.spark.sql.execution.InputAdapter => scanBelow(u.child)
    case u: org.apache.spark.sql.execution.WholeStageCodegenExec => scanBelow(u.child)
    case _ => None
  }

  private def estimatedSize(p: SparkPlan): Option[BigInt] =
    p.logicalLink.map(_.stats.sizeInBytes)
      .orElse(p.children.headOption.flatMap(estimatedSize))

  /** Static row bound of the subtree, via the linked logical plan
    * (global aggregates report 1, ranges their length). */
  private def maxRowsOf(p: SparkPlan): Option[Long] =
    p.logicalLink.flatMap(_.maxRows)
      .orElse(p.children.headOption.flatMap(maxRowsOf))

  /** Estimated row count when statistics carry one (CBO-analyzed tables,
    * AQE runtime stats) — the spine-whitelist fallback when no static
    * maxRows exists. */
  private def rowCountOf(p: SparkPlan): Option[BigInt] =
    p.logicalLink.flatMap(_.stats.rowCount)
      .orElse(p.children.headOption.flatMap(rowCountOf))

  /** True when no warn-severity finding fires — the CI-gate form. */
  def clean(df: DataFrame): Boolean = lint(df).forall(_.severity != "warn")

  /** The "unpartitioned window ⇒ bounded-frame allowlist" invariant
    * (VERDICT r6 item 3): Spark's advisory `WindowExec: No Partition
    * Defined` warning, promoted to a CHECKED catalog rule. Catalog
    * entries whose physical plan legitimately carries a
    * partitionSpec-empty WindowExec are enumerated here with the
    * declared reason the frame is BOUNDED — i.e. does not scale with
    * the data, so one reducer is fine at 100 TB. CatalogSpec enforces,
    * for every entry: a global-window finding of ANY severity requires
    * membership here, and everything not listed must plan zero
    * unpartitioned WindowExec nodes (data-scaling global sorts belong
    * on Blocked.cumulative's two-level form instead). */
  val boundedWindowAllowlist: Map[String, String] = Map(
    // every entry below PLANS an unpartitioned WindowExec at sf0.001
    // (CatalogSpec fails on an unlisted finding and on a stale key) and
    // declares why its frame is bounded. Time spines grow with the OBSERVATION DOMAIN (hours/days
    // of history), never with row volume — the blessed class.
    "dd18_dup_rate_curve" -> "10-row id-decile slice frame",
    "ev16_interpolate" -> "hourly calendar spine — time-domain-bounded",
    "ev57_cumulative_reach" -> "daily spine — time-domain-bounded",
    "ev62_periodogram" -> "candidate-period spine — 3 rows",
    "ev68_slo_burn" -> "daily spine, trailing-7 windows — time-domain-bounded",
    "ev70_peaks" -> "hourly spine + hourly-count-cell p90 pick (≤ hours rows)",
    "ev72_records" -> "hourly spine running max — time-domain-bounded",
    "ev76_mase_backtest" -> "daily spine lag diffs — time-domain-bounded",
    "ev78_concurrency_profile" -> "concurrency-level cells (≤ peak level) + day-summary stitch",
    "ev80_load_vs_errors" -> "hourly frame + hourly-volume-cell median pick",
    "ev82_anomaly_runs" -> "hourly spine; islands on the anomaly-sized frame",
    "ev88_peak_share" -> "day×hour grid — time-domain-bounded",
    // ml41's largest-remainder rank window (source-dimension-bounded)
    // now runs inside the entry's bounded alloc collect — the returned
    // plan carries only per-source TakeOrderedAndProject (r9)
    "ml15_best_split" -> "32-bin histogram cell frame",
    "ml20_feature_importance" -> "32-bin cell frame per feature (3 features)",
    "ml21_pr_curve" -> "19-threshold grid",
    "ml25_ks_score" -> "20-bin score-cell frame",
    "ml27_pop_recall" -> "top-25-first (orderBy+limit) — statically bounded",
    "q104_growth_mom" -> "month×nation grid — calendar×dim-bounded",
    "q116_drawdown" -> "weekly spine — time-domain-bounded",
    "q117_rsi" -> "daily spine, trailing-14 — time-domain-bounded",
    "q118_bollinger" -> "month×nation bands — calendar×dim-bounded",
    "q119_seq_gaps" -> "block-SUMMARY frame (N/4096 rows, re-blockable by another DIV level — the documented two-level design)",
    "q125_runs_test" -> "daily-spine sign sequence — time-domain-bounded",
    "q127_cr_k" -> "top-20-first concentration frame — statically bounded",
    "q136_gap_updown" -> "daily bar spine lag — time-domain-bounded",
    "q146_ulcer" -> "weekly drawdown spine — time-domain-bounded",
    "q46_approx_topk" -> "approx_top_k output frame — k-bounded",
    "q90_quantile_rollup" -> "sketch-boundary frame — sketch-size-bounded",
    "q98_top5_other" -> "top-5-first — statically bounded",
    "tx22_vocab_growth" -> "10-row id-range slice frame",
    "tx23_zipf_slope" -> "top-1000-limited rank frame"
  )

  /** Exchange-reuse counts for an EXECUTED frame (r9 — the measured
    * form of the spec-tested AQE-reuse row): walks the final adaptive
    * plan (and every subquery) counting materialized exchanges vs
    * reuse nodes. Returns (exchanges, reused) — `reused` is how many
    * exchange consumptions Catalyst served from an already-planned
    * stage instead of recomputing it. Run an action first: under AQE
    * the final plan (and thus reuse) only exists after execution. */
  def exchangeReuse(df: DataFrame): (Int, Int) = {
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
    var exchanges = 0
    var reused = 0
    // QueryStageExec and ReusedExchangeExec are LEAF wrappers — descend
    // into stage plans explicitly, never into a ReusedExchange (its
    // referenced exchange is the original, already counted once)
    def walk(p: SparkPlan): Unit = p.foreach {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec =>
        q.plan match {
          case _: ReusedExchangeExec => reused += 1
          case inner => walk(inner)
        }
      case _: ReusedExchangeExec => reused += 1
      case _: ShuffleExchangeLike | _: BroadcastExchangeLike => exchanges += 1
      case _ => ()
    }
    val plan = df.queryExecution.executedPlan
    walk(plan)
    plan.subqueriesAll.foreach(walk)
    (exchanges, reused)
  }

  /** All global-window findings for one frame, with severities — the
    * enumerable surface the CatalogSpec invariant reads. */
  def globalWindows(df: DataFrame): Seq[Finding] =
    lint(df).filter(_.rule == "global-window")
}
