package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Interned token-set store for the SIZE-ADAPTIVE exact-similarity
  * verify (guide §3.1/§2.3): when a corpus' token sets fit the measured
  * broadcast budget, the per-pair exact intersection no longer needs to
  * attach the two string arrays to every candidate row (two broadcast
  * hash joins, an UnsafeArrayData copy per side per pair, and an
  * `array_intersect` that builds a hash set AND materializes the
  * intersection array when only its SIZE is consumed — measured 18.3 s
  * of dd22's verify at sf0.1). Instead the driver interns each distinct
  * token to a dense int once, stores every doc's distinct token set as
  * a SORTED int[], ships the whole map as one broadcast value, and
  * [[PairIntersectExpr]] computes (|∩|, |A|, |B|) per candidate pair as
  * a no-allocation sorted-merge count over two int[] — semantically
  * identical to size(array_intersect(ws_a, ws_b)) on distinct string
  * sets because interning is a bijection on exact string equality.
  *
  * Driver-boundedness is the CALLER's contract: both call sites gate on
  * the same measured byte estimate that gated the broadcast-join form
  * (`SizeGate.PpjoinBroadcastBytes`), so this holds exactly what
  * the previous plan already held on the driver as a broadcast
  * relation. At scale the narrow exploded-join verify remains the
  * plan of record — unchanged.
  */
object TokenSets {

  /** Intern (doc_id, tokens) rows into doc → sorted int[] of distinct
    * token ids. Inputs are distinct-by-construction at both call sites
    * (array_distinct tokenizers / dropDuplicates postings); duplicates
    * would be collapsed here anyway (set semantics), matching
    * array_intersect's treat-as-set behavior. */
  def intern(rows: Iterator[(Long, Iterator[String])])
      : java.util.HashMap[java.lang.Long, Array[Int]] = {
    val vocab = new java.util.HashMap[String, Integer](1 << 16)
    val out = new java.util.HashMap[java.lang.Long, Array[Int]](1 << 12)
    rows.foreach { case (id, toks) =>
      val buf = new java.util.TreeSet[Integer]()
      toks.foreach { t =>
        var v = vocab.get(t)
        if (v == null) { v = vocab.size(); vocab.put(t, v) }
        buf.add(v)
      }
      val arr = new Array[Int](buf.size())
      val it = buf.iterator()
      var i = 0
      while (it.hasNext) { arr(i) = it.next(); i += 1 }
      out.put(id, arr)
    }
    out
  }

  /** [[intern]] over flat (doc_id, token) posting rows (the PrefixIndex
    * verify's shape) — same set semantics, grouping done here. */
  def internPairs(rows: Iterator[(Long, String)])
      : java.util.HashMap[java.lang.Long, Array[Int]] = {
    val vocab = new java.util.HashMap[String, Integer](1 << 16)
    val acc = new java.util.HashMap[java.lang.Long, java.util.TreeSet[Integer]](1 << 12)
    rows.foreach { case (id, t) =>
      var v = vocab.get(t)
      if (v == null) { v = vocab.size(); vocab.put(t, v) }
      var s = acc.get(id)
      if (s == null) { s = new java.util.TreeSet[Integer](); acc.put(id, s) }
      s.add(v)
    }
    val out = new java.util.HashMap[java.lang.Long, Array[Int]](acc.size())
    val it = acc.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val buf = e.getValue
      val arr = new Array[Int](buf.size())
      val bit = buf.iterator()
      var i = 0
      while (bit.hasNext) { arr(i) = bit.next(); i += 1 }
      out.put(e.getKey, arr)
    }
    out
  }
}

/** (|A ∩ B|, |A|, |B|) of two interned token sets as array<bigint> —
  * the codegen'd kernel form of
  * `size(array_intersect(ws_a, ws_b)), size(ws_a), size(ws_b)` over two
  * broadcast-joined string arrays. A missing doc id is a LOUD failure:
  * every candidate pair's endpoints come from the same frame the map
  * was built from, so absence is a harness bug, never data. */
case class PairIntersectExpr(
    left: Expression, right: Expression,
    sets: Broadcast[java.util.HashMap[java.lang.Long, Array[Int]]])
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"pair_intersect requires (bigint, bigint), got " +
          s"(${a.simpleString}, ${b.simpleString})")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "pair_intersect"

  // The kernel IS deterministic (pure function of the pair + the map),
  // but declaring it so lets the optimizer substitute it through the
  // jac_pm/threshold-gate aliases and push the gate below the pair
  // dedup INTO the candidate join condition — observed: FOUR kernel
  // evaluations per PRE-distinct expansion row (committed r12
  // before-plan). The guide §4.4 trick, JVM flavor: mark it
  // non-duplicable so it evaluates once per deduped pair; the gate
  // filter above references only the result attributes and stays
  // deterministic.
  override lazy val deterministic: Boolean = false

  private[graft] def kernel(idA: Long, idB: Long): GenericArrayData = {
    val m = sets.value
    val a = m.get(idA)
    val b = m.get(idB)
    if (a == null || b == null)
      throw new IllegalStateException(
        s"pair_intersect: doc ${if (a == null) idA else idB} missing from " +
          "the verify token-set map — candidate frame and map diverged")
    var i = 0; var j = 0; var c = 0L
    while (i < a.length && j < b.length) {
      val d = a(i) - b(j) // interned ids are small non-negative ints
      if (d < 0) i += 1
      else if (d > 0) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    new GenericArrayData(Array[Any](c, a.length.toLong, b.length.toLong))
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    kernel(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("pairIntersect", this,
      classOf[PairIntersectExpr].getName)
    defineCodeGen(ctx, ev, (a, b) => s"$self.kernel($a, $b)")
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): PairIntersectExpr =
    copy(left = l, right = r)
}
