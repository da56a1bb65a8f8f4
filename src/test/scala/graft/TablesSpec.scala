package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.TimestampType

/** `Tables.table` resolves each parquet source once per session: a repeat
  * call runs no Spark job, a rewritten file is re-resolved, every call
  * gets fresh attribute ids, and `events` normalizes `ts` on any session.
  */
class TablesSpec extends SparkSpecBase {
  import spark.implicits._

  test("a repeated Tables.lineitem call runs zero Spark jobs") {
    Tables.lineitem(spark, sf0001).schema
    // the uncached read pays for schema inference with a Spark job
    assert(jobsDuring(spark.read.parquet(s"$sf0001/lineitem.parquet").schema) > 0)
    assert(jobsDuring(Tables.lineitem(spark, sf0001).schema) === 0)
  }

  test("a file rewritten at the same path is re-resolved: new schema and rows") {
    val dir = Files.createTempDirectory("tables-spec")
    def writeX(df: DataFrame): Unit = {
      val staging = dir.resolve("staging").toString
      df.coalesce(1).write.mode("overwrite").parquet(staging)
      val part = Files.list(dir.resolve("staging")).toArray.map(_.asInstanceOf[Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.copy(part, dir.resolve("x.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }
    writeX(Seq(1, 2, 3).toDF("a"))
    val first = Tables.table(spark, dir.toString, "x")
    assert(first.columns.toSeq === Seq("a"))
    assert(Tables.table(spark, dir.toString, "x").count() === 3)

    writeX(Seq(("p", 10L), ("q", 20L)).toDF("b", "c"))
    val second = Tables.table(spark, dir.toString, "x")
    assert(second.columns.toSeq === Seq("b", "c"))
    assert(second.orderBy("b").collect().toSeq === Seq(Row("p", 10L), Row("q", 20L)))
  }

  test("two Tables.orders calls self-join like two separate reads") {
    val a = Tables.orders(spark, sf0001)
    val b = Tables.orders(spark, sf0001)
    assert(a.queryExecution.analyzed.outputSet
      .intersect(b.queryExecution.analyzed.outputSet).isEmpty)
    val joined = a.join(b, a("o_custkey") === b("o_custkey")).count()
    val ra = spark.read.parquet(s"$sf0001/orders.parquet")
    val rb = spark.read.parquet(s"$sf0001/orders.parquet")
    assert(joined === ra.join(rb, ra("o_custkey") === rb("o_custkey")).count())
    assert(joined > a.count())
  }

  /** An events.parquet whose `ts` is TIMESTAMP(NANOS), the encoding that
    * Spark reads only under `spark.sql.legacy.parquet.nanosAsLong`. */
  private def nanosEvents(): String = {
    val dir = Files.createTempDirectory("tables-nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      "message e { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val conf = spark.sparkContext.hadoopConfiguration
    val w = ExampleParquetWriter.builder(
      HadoopOutputFile.fromPath(new HadoopPath(s"$dir/events.parquet"), conf))
      .withType(schema).withConf(conf).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1500000000123456789L))
    finally w.close()
    dir
  }

  test("Tables.events normalizes ts on the shared session and on a new session") {
    val shared = Tables.events(spark, sf0001)
    assert(shared.schema("ts").dataType === TimestampType)
    val fresh = spark.newSession()
    fresh.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    val other = Tables.events(fresh, sf0001)
    assert(other.schema("ts").dataType === TimestampType)
    val span = Seq("count(*)", "min(ts)", "max(ts)")
    assert(other.selectExpr(span: _*).collect() === shared.selectExpr(span: _*).collect())
    // the new session lacks the legacy conf; Tables.events sets it itself
    val nanos = Tables.events(fresh, nanosEvents())
    assert(nanos.schema("ts").dataType === TimestampType)
    assert(nanos.selectExpr("unix_micros(ts)").head().getLong(0) === 1500000000123456L)
  }
}
