package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM per forked test run). */
trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpecBase.session
  val sf0001 = "/root/testdata/sf0.001"
}

object SparkSpecBase {
  lazy val session: SparkSession = GraftSession.local(8)
}
