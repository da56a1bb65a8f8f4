package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** Every session in the repo comes from [[GraftSession.local]]: one
  * builder in the source tree, and the shared spec session carries the
  * factory's conf set and [[GraftExtensions]]. */
class GraftSessionSpec extends SparkSpecBase {

  test("the factory holds the only session builder under src/main and src/test") {
    val needle = "SparkSession" + ".builder" // split so this file does not match
    val hits = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      val files = Files.walk(Paths.get(root))
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    }.filter(p => Files.readString(p).contains(needle)).map(_.toString)
    assert(hits == Seq("src/main/scala/graft/GraftSession.scala"))
  }

  test("the shared spec session carries the factory conf and GraftExtensions") {
    assert(spark.sparkContext.master == "local[8]")
    Seq(
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.codegen.maxFields" -> "256",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false"
    ).foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    assert(state.functionRegistry.functionExists(FunctionIdentifier("vec_dot")))
    val rules = state.optimizer.extendedOperatorOptimizationRules
    assert(rules.contains(graft.plans.RewriteWindowTopK))
    assert(rules.contains(graft.plans.RewriteToMv))
    assert(state.analyzer.extendedResolutionRules
      .contains(graft.sources.v2.ResolveGraftUpdate))
    assert(state.planner.extraPlanningStrategies
      .contains(graft.plans.AsOfJoinStrategy))
  }

  test("a conf pair overrides a factory default") {
    // With a SparkContext up the factory configures the active session,
    // so make that a child session and leave the shared one untouched.
    val child = spark.newSession()
    SparkSession.setActiveSession(child)
    try {
      val s = GraftSession.local(8, "spark.sql.shuffle.partitions" -> "3")
      assert(s eq child)
      assert(s.conf.get("spark.sql.shuffle.partitions") == "3")
      assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    } finally SparkSession.setActiveSession(spark)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "8")
  }
}
