package graft

import graft.functions.{DotProductExpr, TopKPairs}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extensions: graft's native Catalyst functions, its plan
  * rules and its planner strategy.
  *
  *  - functions: `vec_dot`, `topk_pairs`, `bloom_agg`, `bloom_contains`,
  *    `asof_match`, `jaro_winkler`, `deflate_len`;
  *  - optimizer rules: [[graft.plans.RewriteWindowTopK]],
  *    [[graft.plans.RewriteToMv]] and [[graft.plans.RewriteRound]]
  *    (scale-0 `round` over a double on the exact kernel
  *    [[graft.functions.ExactRoundExpr]]; always on, no toggle);
  *  - resolution rule: [[graft.sources.v2.ResolveGraftUpdate]];
  *  - planner strategy: [[graft.plans.AsOfJoinStrategy]];
  *  - AQE query-stage prep rule: [[graft.plans.SmallSort]].
  *
  * [[GraftSession.local]] installs them; elsewhere pass
  * `--conf spark.sql.extensions=graft.GraftExtensions`. Once injected,
  * the functions are first-class in SQL and via
  * `functions.call_function("vec_dot", a, b)` — no UDF registry, full
  * codegen in the hot path.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[DotProductExpr].getName, null, "vec_dot",
        "vec_dot(a, b) - left-to-right dot product of two array<double> columns", ""),
      (children: Seq[Expression]) => DotProductExpr(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("topk_pairs"),
      new ExpressionInfo(classOf[TopKPairs].getName, null, "topk_pairs",
        "topk_pairs(score, id, k) - bounded map-side top-k (score DESC, id ASC) per group",
        ""),
      (children: Seq[Expression]) =>
        TopKPairs(children.head, children(1), children(2))))
    // Spark ships a mergeable Bloom-filter sketch pair (the machinery
    // behind InjectRuntimeFilter) but exposes neither function to users;
    // registering them makes the fixed-size membership sketch a
    // first-class primitive: build once over the small side (binary,
    // O(numBits) regardless of row count), test map-side on the big side.
    ext.injectFunction((
      new FunctionIdentifier("bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        null, "bloom_agg",
        "bloom_agg(longCol, estItems, numBits) - mergeable Bloom filter sketch (binary)", ""),
      (children: Seq[Expression]) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          children.head, children(1), children(2))))
    ext.injectFunction((
      new FunctionIdentifier("bloom_contains"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        null, "bloom_contains",
        "bloom_contains(filterBinary, longCol) - membership test; false negatives impossible",
        ""),
      (children: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          children.head, children(1))))
    // Logical-plan rewrite: window row_number top-k → bounded-heap
    // topk_pairs aggregate where provably answer-preserving (see
    // graft.plans.RewriteWindowTopK). Toggle:
    // spark.graft.topkRewrite.enabled (default on).
    ext.injectOptimizerRule(_ => graft.plans.RewriteWindowTopK)
    // SQL UPDATE over the versioned table log: the resolved UpdateTable
    // plan is replaced at analysis with a copy-on-write TableLog.update
    // command (see graft.sources.v2.ResolveGraftUpdate — GraftLogTable
    // deliberately does not wire SupportsRowLevelOperations).
    ext.injectResolutionRule(_ => graft.sources.v2.ResolveGraftUpdate)
    // Materialized-view query rewrite: conforming base-table aggregates
    // are answered from a registered summary table (see
    // graft.plans.RewriteToMv). No-op while the MV registry is empty.
    // Toggle: spark.graft.mvRewrite.enabled (default on).
    ext.injectOptimizerRule(_ => graft.plans.RewriteToMv)
    // Spark's scale-0 round over a double (every money sum's per-row
    // round) runs on an exact kernel that returns the same bits without
    // a BigDecimal per row (see graft.plans.RewriteRound). Injected
    // after RewriteToMv so MV matching sees the original expression.
    // No toggle: the rewrite changes no answer.
    ext.injectOptimizerRule(_ => graft.plans.RewriteRound)
    // Whole-operator physical extension: `left.join(right,
    // asof_match(lk, rk, lt, rt), "left")` plans as the partitioned
    // sort-merge AsOfJoinExec (see graft.plans.AsOfJoinExec). The marker
    // predicate is Unevaluable, so a session without the strategy fails
    // loudly instead of computing something else.
    ext.injectFunction((
      new FunctionIdentifier("asof_match"),
      new ExpressionInfo(classOf[graft.plans.AsOfMatch].getName, null, "asof_match",
        "asof_match(lk, rk, lt, rt) - marker join condition planned as AsOfJoinExec " +
          "(latest right row with rk = lk and rt <= lt per left row)", ""),
      (children: Seq[Expression]) =>
        graft.plans.AsOfMatch(children.head, children(1), children(2), children(3))))
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // A global sort whose measured input fits SizeGate's sort cap runs
    // in one partition instead of behind a sampled range exchange (see
    // graft.plans.SmallSort). AQE plans only.
    ext.injectQueryStagePrepRule(_ => graft.plans.SmallSort)
    // Record-linkage scorer: runs inside the blocked candidate join's
    // generated code (see graft.functions.StringSim).
    ext.injectFunction((
      new FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[graft.functions.JaroWinklerExpr].getName, null,
        "jaro_winkler",
        "jaro_winkler(a, b) - Jaro-Winkler similarity in [0,1] (prefix boost 0.1/4, threshold 0.7)",
        ""),
      (children: Seq[Expression]) =>
        graft.functions.JaroWinklerExpr(children.head, children(1))))
    // Compression-ratio quality signal (see graft.functions.Compress).
    ext.injectFunction((
      new FunctionIdentifier("deflate_len"),
      new ExpressionInfo(classOf[graft.functions.DeflatedLenExpr].getName, null,
        "deflate_len",
        "deflate_len(s) - DEFLATE(level 6, raw) byte length of the UTF-8 bytes of s",
        ""),
      (children: Seq[Expression]) =>
        graft.functions.DeflatedLenExpr(children.head)))
  }
}
