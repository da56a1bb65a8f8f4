package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** A failing Bench entry is loud: `timeOne` reports -1 and the entry's
  * exception class and message reach the `failures` list of the JSON. */
class BenchSpec extends SparkSpecBase {

  test("an entry over a data dir without customer.parquet: -1 and its failure triple") {
    val dir = Files.createTempDirectory("bench_no_customer")
    for (t <- Seq("orders", "lineitem"))
      Files.copy(Paths.get(sf0001, s"$t.parquet"), dir.resolve(s"$t.parquet"))
    assert(Bench.timeOne(spark, dir.toString, "q03_join_agg") === -1.0)
    val failures = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(Bench.failuresJson(Int.MaxValue, 500), classOf[java.util.List[java.util.List[String]]])
      .asScala.map(_.asScala.toSeq)
    val q03 = failures.filter(_.head == "q03_join_agg")
    assert(q03.size === 1, failures)
    val Seq(_, cls, msg) = q03.head
    // Spark's own missing-path error: Tables caches no missing source
    assert(cls === classOf[org.apache.spark.sql.AnalysisException].getName)
    assert(msg.contains("PATH_NOT_FOUND") && msg.contains("customer.parquet"), msg)
  }
}
