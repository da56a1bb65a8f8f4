package graft
/** Smoke-test main mirroring the driver's t1 check: SparkEntry.entry on
  * sf0.001 must return rows > 0. Not part of the driver contract. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(4)
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, false)
    println(s"SMOKE entry rows=$n ${if (n > 0) "OK" else "EMPTY!"}")
    spark.stop()
  }
}
