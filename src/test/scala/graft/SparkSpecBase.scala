package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftSparkAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM per forked test run). */
trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpecBase.session
  val sf0001 = "/root/testdata/sf0.001"

  /** Spark jobs started while `body` runs. */
  def jobsDuring(body: => Unit): Int = {
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    GraftSparkAccess.flushListeners(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      GraftSparkAccess.flushListeners(spark.sparkContext)
      jobs.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** The frame was answered on the driver: every leaf of its plan is a
    * local relation (a size gate's local branch), none a checkpoint or
    * a file scan (its distributed branch). */
  def driverLocal(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation])
}

object SparkSpecBase {
  lazy val session: SparkSession = GraftSession.local(8)
}
