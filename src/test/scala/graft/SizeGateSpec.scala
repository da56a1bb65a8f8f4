package graft

import graft.operators.SizeGate
import org.apache.spark.sql.Row

/** The one size gate: `fits` is measured ≤ cap unless forced at scale,
  * `atScale` scopes the force (nested, and restored on a throw), and
  * `rowsIfBounded`'s probe IS the collect. */
class SizeGateSpec extends SparkSpecBase {

  test("fits is measured <= cap; atScale forces the at-scale branch and restores") {
    assert(SizeGate.fits(10, 10) && !SizeGate.fits(11, 10))
    SizeGate.atScale {
      assert(!SizeGate.fits(0, 10))
      SizeGate.atScale(assert(!SizeGate.fits(0, 10)))
      assert(!SizeGate.fits(0, 10), "a nested atScale ended the outer one")
    }
    intercept[IllegalStateException](
      SizeGate.atScale(throw new IllegalStateException("boom")))
    assert(SizeGate.fits(0, 10), "atScale leaked past its block")
  }

  test("rowsIfBounded: all rows under the cap in one bounded take, " +
    "1 job on 8 partitions; None over the cap or at scale, with no job") {
    val df = spark.range(0, 800, 1, 8).toDF().localCheckpoint(true)
    var rows: Option[Array[Row]] = None
    assert(jobsDuring { rows = SizeGate.rowsIfBounded(df, 1000) } === 1)
    assert(rows.map(_.map(_.getLong(0)).sorted.toSeq) === Some(0L until 800L))
    assert(SizeGate.rowsIfBounded(df, 800).isDefined)
    assert(SizeGate.rowsIfBounded(df, 799).isEmpty)
    assert(jobsDuring(SizeGate.atScale {
      assert(SizeGate.rowsIfBounded(df, 1000).isEmpty)
    }) === 0)
  }
}
