package graft

import java.io.File

import graft.operators.SizeGate
import graft.plans.SmallSort
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.col

/** The sort gate: a global sort whose measured input fits
  * `SizeGate.SortOnePartitionBytes` runs in one partition (no range
  * exchange, no sampling job); over the cap, on an unknown size or
  * forced at scale it keeps the range exchange. Read from the FINAL
  * adaptive plan, after the query ran. */
class SmallSortSpec extends SparkSpecBase {

  /** Every node of the executed plan, query-stage plans included. */
  private def finalNodes(df: DataFrame): Seq[SparkPlan] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case _ => p.children.flatMap(walk)
    })
    walk(df.queryExecution.executedPlan)
  }

  private def rangeExchanges(df: DataFrame): Int = finalNodes(df).count {
    case ShuffleExchangeExec(_: RangePartitioning, _, _, _) => true
    case _ => false
  }

  private def coalesced(df: DataFrame): Boolean =
    finalNodes(df).exists { case CoalesceExec(1, _) => true; case _ => false }

  private def query(name: String): DataFrame = SparkEntry.queries(name)(spark, sf0001)

  test("q02 and q01 sort in one partition by default; q02 runs one job") {
    val q02 = query("q02_filter_project")
    var rows = 0
    assert(jobsDuring { rows = q02.collect().length } === 1)
    assert(rows > 0)
    assert(rangeExchanges(q02) === 0 && coalesced(q02), q02.queryExecution.executedPlan)
    val q01 = query("q01_agg")
    assert(q01.collect().nonEmpty)
    assert(rangeExchanges(q01) === 0 && coalesced(q01), q01.queryExecution.executedPlan)
  }

  test("forced at scale, q02 and q01 keep the range exchange and return the " +
    "default run's rows in order") {
    for (name <- Seq("q02_filter_project", "q01_agg")) {
      val default = query(name).collect().toSeq
      val forced = query(name)
      val rows = SizeGate.atScale(forced.collect().toSeq)
      assert(rangeExchanges(forced) === 1 && !coalesced(forced),
        s"$name: ${forced.queryExecution.executedPlan}")
      assert(rows === default, name)
    }
  }

  test("a sort over a localCheckpoint (unknown size) keeps the range exchange") {
    val df = spark.range(0, 1000, 1, 4).toDF("x").localCheckpoint(true)
      .orderBy(col("x").desc)
    assert(df.collect().map(_.getLong(0)).toSeq === (999L to 0L by -1L))
    assert(rangeExchanges(df) === 1 && !coalesced(df), df.queryExecution.executedPlan)
  }

  test("the measured size of q02's sort input is the bytes of lineitem.parquet") {
    val sort = query("q02_filter_project").queryExecution.sparkPlan.collectFirst {
      case s: SortExec if s.global => s
    }.get
    assert(SmallSort.inputBytes(sort.child) ===
      Some(new File(s"$sf0001/lineitem.parquet").length))
  }

  test("the cap: six sf0.1 lineitem scans fit it, seven keep the range exchange") {
    val sf01 = s"${new File(sf0001).getParent}/sf0.1"
    val lineitem = Tables.lineitem(spark, sf01)
    val bytes = new File(s"$sf01/lineitem.parquet").length
    def sortedUnion(copies: Int): DataFrame =
      Seq.fill(copies)(lineitem.filter(col("l_orderkey") < 100).select("l_orderkey"))
        .reduce(_ union _).orderBy("l_orderkey")
    assert(6 * bytes <= SizeGate.SortOnePartitionBytes &&
      7 * bytes > SizeGate.SortOnePartitionBytes)
    val six = sortedUnion(6)
    six.collect()
    assert(rangeExchanges(six) === 0 && coalesced(six), six.queryExecution.executedPlan)
    val seven = sortedUnion(7)
    seven.collect()
    assert(rangeExchanges(seven) === 1 && !coalesced(seven), seven.queryExecution.executedPlan)
  }

  test("repartitionByRange keeps its range exchange") {
    val df = Tables.lineitem(spark, sf0001).repartitionByRange(4, col("l_orderkey"))
    assert(df.collect().nonEmpty)
    assert(rangeExchanges(df) === 1)
  }
}
