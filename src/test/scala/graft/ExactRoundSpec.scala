package graft

import java.lang.Double.{doubleToRawLongBits, longBitsToDouble}
import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import graft.functions.{ExactRound, ExactRoundExpr}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow, Literal, Round}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.types.DoubleType
import org.scalatest.funsuite.AnyFunSuite

/** The exact rounding kernel is Spark's `round(d, 0)` bit for bit:
  * against Spark's own `Round` interpreted and codegen'd, and against
  * the `BigDecimal` formula Spark's codegen emits, over an edge list and
  * 10M sampled doubles from fixed seeds. */
class ExactRoundSpec extends AnyFunSuite {

  private def bits(d: Double): Long = doubleToRawLongBits(d)
  private def bigDecimalRound(d: Double): Double =
    JBigDecimal.valueOf(d).setScale(0, RoundingMode.HALF_UP).doubleValue()

  private val in = BoundReference(0, DoubleType, nullable = true)
  private val spark: Expression = Round(in, Literal(0))
  private val kernel: Expression = ExactRoundExpr(in)

  private val edges: Array[Double] = {
    val base = Seq(0.0, -0.0, 0.5, -0.5, 1.5, -1.5, 2.5, -2.5, 0.3, -0.3,
      0.49999999999999994, -0.49999999999999994, 4503599627370496.0, -4503599627370496.0,
      4503599627370495.5, -4503599627370495.5, 2251799813685247.5, 1e23, -1e23,
      Double.MinPositiveValue, -Double.MinPositiveValue, java.lang.Double.MIN_NORMAL,
      Double.MaxValue, -Double.MaxValue, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, 0.1, 12345.675)
    base.flatMap(d => Seq(d, Math.nextUp(d), Math.nextDown(d))).toArray
  }

  /** Chunk `i` of the 10M sampled doubles (20 chunks of 500k), each
    * drawn from its own seed so chunks can be checked in parallel. */
  private def chunk(i: Int): Array[Double] = {
    val rnd = new scala.util.Random(20261019L + i)
    def fill(f: => Double): Array[Double] = Array.fill(500000)(f)
    i % 10 match {
      // random bit patterns: every exponent, NaN payloads included
      case 0 => fill(longBitsToDouble(rnd.nextLong()))
      // ±1e7 uniform, and the midpoints k + 0.5 beside them with their ulp neighbours
      case 1 | 2 | 3 => fill {
        val u = (rnd.nextDouble() * 2 - 1) * 1e7
        val m = Math.floor(u) + 0.5
        rnd.nextInt(4) match { case 0 => u; case 1 => m; case 2 => Math.nextUp(m); case _ => Math.nextDown(m) }
      }
      // money products: cents and basis points scaled back up, as Stable.moneySum does
      case 4 | 5 | 6 => fill {
        val price = rnd.nextInt(10000000) / 100.0
        val disc = rnd.nextInt(11) / 100.0
        rnd.nextInt(3) match {
          case 0 => price * 100
          case 1 => price * (1 - disc) * 10000
          case _ => -price * 100
        }
      }
      // 130 binades 2^-70 … 2^59 with random mantissas, either sign
      case _ => fill(Math.scalb(1.0 + rnd.nextDouble(), rnd.nextInt(130) - 70) *
        (if (rnd.nextBoolean()) 1 else -1))
    }
  }
  private val Chunks = 20

  test("the kernel is Spark's round(d, 0) interpreted, codegen'd and as BigDecimal, bit for bit") {
    val misses = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val checked = new java.util.concurrent.atomic.AtomicLong()
    def checkAll(ds: Array[Double]): Unit = {
      // a generated projection is not thread-safe: one per chunk
      val proj = GenerateUnsafeProjection.generate(Seq(spark, kernel))
      val row = new GenericInternalRow(1)
      def miss(what: String, d: Double, got: Double, want: Double): Unit =
        if (misses.size < 10) misses.add(s"$what: round($d) = $got, want $want")
      ds.foreach { d =>
        row.update(0, d)
        val out = proj(row)
        val kEval = kernel.eval(row).asInstanceOf[Double]
        val sEval = spark.eval(row).asInstanceOf[Double]
        // each mode against Spark's Round in the same mode, NaN payloads included
        if (bits(kEval) != bits(sEval)) miss("eval vs Spark", d, kEval, sEval)
        if (bits(out.getDouble(1)) != bits(out.getDouble(0)))
          miss("codegen vs Spark", d, out.getDouble(1), out.getDouble(0))
        val k = ExactRound.halfUp(d)
        if (bits(k) != bits(kEval)) miss("helper vs eval", d, k, kEval)
        // BigDecimal has no NaN or ±Inf: Spark passes them through, so does the kernel
        val want = if (d.isNaN || d.isInfinite) d else bigDecimalRound(d)
        if (bits(k) != bits(want)) miss("helper vs BigDecimal", d, k, want)
      }
      checked.addAndGet(ds.length.toLong)
    }
    checkAll(edges)
    java.util.stream.IntStream.range(0, Chunks).parallel().forEach(i => checkAll(chunk(i)))
    assert(misses.isEmpty, misses.toArray.mkString("\n"))
    assert(checked.get == 10000000L + edges.length)
  }

  test("null in gives null out, interpreted and codegen'd") {
    val row = new GenericInternalRow(1)
    row.setNullAt(0)
    assert(kernel.eval(row) == null)
    assert(GenerateUnsafeProjection.generate(Seq(kernel)).apply(row).isNullAt(0))
  }
}
