package graft

/** Structural regression guards (SURVEY.md §6): the properties that make
  * these plans scale must survive refactors — filters reaching the scan,
  * column pruning, dims broadcasting. Cheap string checks on the
  * optimized/physical plans at sf0.001.
  */
class PlanGuardSpec extends SparkSpecBase {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf0001)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)

  test("q01 pushes the shipdate filter into the parquet scan") {
    val p = plan("q01_agg")
    assert(p.contains("PushedFilters") && p.contains("LessThanOrEqual(l_shipdate"))
  }

  test("q01 prunes lineitem to the referenced columns only") {
    val p = plan("q01_agg")
    assert(p.contains("ReadSchema"))
    assert(!p.contains("l_comment") && !p.contains("l_partkey"),
      "unreferenced columns must not be read")
  }

  test("q02 pushes range predicates down") {
    val p = plan("q02_filter_project")
    assert(p.contains("GreaterThanOrEqual(l_shipdate") || p.contains("PushedFilters"))
    assert(p.contains("LessThan(l_quantity,24.0)"))
  }

  test("q06/q07 broadcast the dimension side") {
    assert(plan("q06_broadcast_join").contains("BroadcastHashJoin"))
    assert(plan("q07_star_join").contains("BroadcastHashJoin"))
  }

  test("q04 semi join and q05b anti join keep their join types") {
    assert(plan("q04_semi_join").contains("LeftSemi"))
    assert(plan("q05b_anti_join").contains("LeftAnti"))
  }

  test("q15 sort+limit becomes TakeOrderedAndProject (no global sort)") {
    assert(plan("q15_sort_limit").contains("TakeOrderedAndProject"))
  }

  test("q42 broadcasts all four dims; lineitem joins orders in the only wide join") {
    val p = plan("q42_nation_volume")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(broadcasts >= 4, s"expected supplier/customer/nation×2 broadcast, got $broadcasts in:\n$p")
  }

  test("q38 prunes the orders fact with a broadcast semi join before the fact-fact join") {
    val p = plan("q38_semijoin_prune")
    // the dim-key reduction must be a broadcast LeftSemi (no shuffle added
    // for the pruning itself), feeding the lineitem⨝orders join
    assert(p.contains("LeftSemi") && p.contains("Broadcast"),
      s"expected broadcast semi-join prune in:\n$p")
  }

  test("q38's semi-join prune measurably reduces rows entering the fact join") {
    // AQE off for this check: query stages are leaf nodes, so executed
    // metrics inside them aren't reachable by plan collect
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val conf = spark.conf
    val saved = conf.getOption("spark.sql.adaptive.enabled")
    try {
      conf.set("spark.sql.adaptive.enabled", "false")
      val df = SparkEntry.queries("q38_semijoin_prune")(spark, sf0001)
      df.collect()  // execute so SQL metrics are populated
      val semiOut = df.queryExecution.executedPlan.collectWithSubqueries {
        case j: BaseJoinExec if j.joinType == LeftSemi =>
          j.metrics("numOutputRows").value
      }
      val totalOrders = Tables.orders(spark, sf0001).count()
      assert(semiOut.nonEmpty,
        s"no LeftSemi join executed in:\n${df.queryExecution.executedPlan}")
      assert(semiOut.head > 0 && semiOut.head < totalOrders,
        s"prune must pass a strict subset of orders: ${semiOut.head} of $totalOrders")
    } finally saved match {
      case Some(v) => conf.set("spark.sql.adaptive.enabled", v)
      case None    => conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("Catalyst injects a runtime bloom filter into the Q3 fact join at scale thresholds") {
    // at 100 TB the explicit semi join in q38 is what InjectRuntimeFilter
    // automates: lower its size thresholds to sf0.001 scale and pin that
    // the bloom filter actually lands on the probe side of the join
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.enabled").map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the shuffle join bloom targets
      conf.set("spark.sql.adaptive.enabled", "false")
      val l = Tables.lineitem(spark, sf0001)
      val o = Tables.orders(spark, sf0001)
        .filter(org.apache.spark.sql.functions.col("o_orderpriority") === "1-URGENT")
      val joined = l.join(o,
        org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey"))
      val p = joined.queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain") || p.contains("bloom_filter"),
        s"expected an injected runtime bloom filter in:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  test("q69 NOT IN compiles to a null-aware anti join and drops NULL probes") {
    // NOT IN under three-valued logic: a NULL probe is UNKNOWN, never
    // kept. Spark's single-column null-aware anti join (NAAJ) is the
    // plan shape that preserves this; a plain LeftAnti would keep the
    // NULL-probe rows and silently overcount.
    val df = SparkEntry.queries("q69_not_in_nulls")(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString
    // BroadcastHashJoinExec prints (..., LeftAnti, BuildRight, <isNullAwareAntiJoin>)
    assert(p.contains("LeftAnti, BuildRight, true"),
      s"expected a null-aware anti join (NAAJ flag true) in:\n$p")
    // semantic pin: NULL probes (c_custkey % 1000 == 7) are excluded —
    // the total across segments must equal the count over non-null
    // probes only, and be strictly fewer than a null-oblivious rewrite
    import org.apache.spark.sql.functions._
    val total = df.agg(sum("n")).collect().head.getLong(0)
    val c = Tables.customer(spark, sf0001)
    val o = Tables.orders(spark, sf0001).filter(col("o_totalprice") > 490000)
      .select((col("o_custkey") % 1000).as("r")).distinct()
    val nullOblivious = c.withColumn("pr", nullif(col("c_custkey") % 1000, lit(7)))
      .join(o, col("pr") === col("r"), "left_anti").count()
    val nonNullOnly = c.withColumn("pr", nullif(col("c_custkey") % 1000, lit(7)))
      .filter(col("pr").isNotNull)
      .join(o, col("pr") === col("r"), "left_anti").count()
    assert(total === nonNullOnly, "NOT IN must exclude NULL probes")
    assert(nullOblivious > total,
      "plain left_anti keeps NULL probes — the behavior NOT IN must not have")
  }

  test("a twice-consumed aggregate reuses one exchange instead of recomputing") {
    // self-join of an aggregate on its own grouping key: the shuffle
    // feeding the agg must be planned ONCE and wired to both consumers
    // (ReusedExchange) — at 100 TB the difference between one fact scan
    // + shuffle and two. Catalyst only unifies IDENTICAL subtrees; the
    // catalog learned this in r3 when differently-pruned copies of one
    // aggregate scanned the fact twice (q44/q45, PLANS.md).
    import org.apache.spark.sql.functions._
    val agg = Tables.lineitem(spark, sf0001)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum(round(col("l_quantity")).cast("long")).as("q"))
    val joined = agg.join(
      agg.select(col("l_returnflag"), col("l_linestatus"), col("q").as("q2")),
      Seq("l_returnflag", "l_linestatus"))
    assert(joined.collect().nonEmpty)
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage") ||
      p.contains("TableCacheQueryStage"),
      s"expected the aggregate's exchange to be planned once in:\n$p")
    // the measured form (r9 — PlanLint.exchangeReuse feeds bench.json's
    // per-round hit rate): the self-consumed aggregate must count at
    // least one reused exchange, and a linear single-agg plan none
    val (ex, re) = graft.plans.PlanLint.exchangeReuse(joined)
    assert(re >= 1, s"exchangeReuse counted no reuse: ($ex, $re) in:\n$p")
    assert(ex >= 1, s"exchangeReuse counted no exchanges: ($ex, $re)")
    val single = Tables.lineitem(spark, sf0001)
      .groupBy("l_returnflag").agg(sum(round(col("l_quantity")).cast("long")).as("q"))
    single.collect()
    val (ex1, re1) = graft.plans.PlanLint.exchangeReuse(single)
    assert(re1 === 0 && ex1 >= 1,
      s"linear plan must reuse nothing: ($ex1, $re1)")
  }

  test("q75_share_selfjoin (Bench's reuse set) fires ReusedExchange") {
    // the catalog form of the shape above — Bench probes it per round
    // so bench.json's exchange_reuse carries a measured reused ≥ 1
    // (r10, verdict item 7); this pin fails if a refactor breaks the
    // identical-subtree property that lets Catalyst unify the two
    // consumers of the cell aggregate
    val df = SparkEntry.queries("q75_share_selfjoin")(spark, sf0001)
    df.collect()
    val (ex, re) = graft.plans.PlanLint.exchangeReuse(df)
    assert(re >= 1, s"q75 must reuse the cell aggregate's exchange: ($ex, $re) in:\n" +
      df.queryExecution.executedPlan.toString)
  }

  test("AQE coalesces an over-partitioned shuffle down to the data's real size") {
    // 32 shuffle partitions configured, a few KB of data: the adaptive
    // read must collapse post-shuffle partitions (coalesced) — at scale
    // this is what keeps reducer count proportional to bytes, not to a
    // static config, after selective filters shrink a stage.
    import org.apache.spark.sql.functions._
    val conf = spark.conf
    val saved = Seq("spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.shuffle.partitions").map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
      conf.set("spark.sql.shuffle.partitions", "32")
      val df = Tables.nation(spark, sf0001)
        .groupBy("n_regionkey").agg(count(lit(1)).as("n"))
      assert(df.collect().length > 0)
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("coalesced") || p.contains("AQEShuffleRead"),
        s"expected an adaptively coalesced shuffle read in:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  /** Spark's `round`/`bround` expressions left in the optimized plan
    * (subqueries included) as `name(input type, scale)`, and the number
    * of `exact_round` kernels. */
  private def rounds(df: org.apache.spark.sql.DataFrame): (Seq[String], Int) = {
    import org.apache.spark.sql.catalyst.expressions.{Expression, RoundBase}
    val es: Seq[Expression] = df.queryExecution.optimizedPlan
      .collectWithSubqueries { case p => p.expressions }.flatten.flatMap(_.collect { case e => e })
    val kept = es.collect {
      case r: RoundBase => s"${r.prettyName}(${r.left.dataType.simpleString}, ${r.right})"
    }
    (kept, es.count(_.isInstanceOf[graft.functions.ExactRoundExpr]))
  }

  test("q01, q06, q07 and q17 round their money on the exact kernel, not Spark's round") {
    for (q <- Seq("q01_agg", "q06_broadcast_join", "q07_star_join", "q17_having")) {
      val (kept, kernels) = rounds(SparkEntry.queries(q)(spark, sf0001))
      assert(kernels > 0, s"$q: no exact_round in the optimized plan")
      assert(kept.isEmpty, s"$q keeps Spark's round: $kept")
    }
  }

  test("SQL round(x) over a double is rewritten; scaled, bround, float, decimal and bigint rounds are not") {
    val li = s"parquet.`$sf0001/lineitem.parquet`"
    val df = spark.sql(
      s"""SELECT round(l_extendedprice) AS r0, l_extendedprice AS x,
         |  round(l_extendedprice, 2) AS r2, bround(l_extendedprice) AS b0,
         |  round(CAST(l_extendedprice AS FLOAT)) AS f0,
         |  round(CAST(l_extendedprice AS DECIMAL(12, 2))) AS d0,
         |  round(l_orderkey) AS k0
         |FROM $li""".stripMargin)
    val (kept, kernels) = rounds(df)
    assert(kernels == 1, s"expected one exact_round, got $kernels")
    assert(kept.sorted == Seq("bround(double, 0)", "round(bigint, 0)",
      "round(decimal(12,2), 0)", "round(double, 2)", "round(float, 0)"), kept)
    val rows = df.select("r0", "x").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val want = java.math.BigDecimal.valueOf(r.getDouble(1))
        .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()
      assert(r.getDouble(0) == want, s"round(${r.getDouble(1)})")
    }
  }
}
