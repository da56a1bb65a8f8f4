package graft

import graft.functions.PairIntersectExpr
import graft.operators.{Dedup, SizeGate}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** dd22's PPJoin engine: band-sharding is an execution knob, not a
  * semantics knob — the sharded union must equal the single-pass output
  * pair for pair, and both must equal the filter-free brute-force join
  * (the zero-false-negative certificate for the prefix/length/position
  * prunes).
  */
class PrefixJoinSpec extends SparkSpecBase {

  private def key(r: org.apache.spark.sql.Row) =
    (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Long]("inter"),
      r.getAs[Long]("size_a"), r.getAs[Long]("size_b"), r.getAs[Long]("jac_pm"))

  private lazy val docs = Tables.documents(spark, sf0001)

  private lazy val single =
    Dedup.prefixJoinPairs(docs).collect().map(key).sortBy(identity).toSeq

  test("band-sharded output equals the single-pass output exactly") {
    for (bands <- Seq(2, 5)) {
      val banded = Dedup.prefixJoinPairs(docs, bands)
        .collect().map(key).sortBy(identity).toSeq
      assert(banded === single, s"bands=$bands diverged from single-pass")
    }
  }

  test("single-pass output equals the brute-force inverted-index join " +
    "(zero false negatives from the prefix/length/position filters)") {
    val w = docs.select(col("doc_id"),
      array_distinct(split(col("text"), " ")).as("ws"))
    val e = w.select(col("doc_id"), explode(col("ws")).as("tok"))
    val sz = w.select(col("doc_id"), size(col("ws")).cast("long").as("n"))
    val brute = e.select(col("doc_id").as("id_a"), col("tok"))
      .join(e.select(col("doc_id").as("id_b"), col("tok")), Seq("tok"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
      .join(sz.select(col("doc_id").as("id_a"), col("n").as("size_a")), Seq("id_a"))
      .join(sz.select(col("doc_id").as("id_b"), col("n").as("size_b")), Seq("id_b"))
      .filter(lit(9) * col("inter") >= lit(4) * (col("size_a") + col("size_b")))
      .withColumn("jac_pm", expr("(inter * 1000) DIV (size_a + size_b - inter)"))
      .select("id_a", "id_b", "inter", "size_a", "size_b", "jac_pm")
      .collect().map(key).sortBy(identity).toSeq
    assert(single === brute)
    assert(single.nonEmpty) // the corpus carries near-dup pairs to certify on
  }

  test("autoPrefixBands selects >1 exactly when the candidate-volume " +
    "estimate exceeds the disk budget (r7 judge item 3)") {
    import spark.implicits._
    // 1000 postings on one token → Σdf²/2 = 500,000 candidate pairs;
    // avg doc length 10, 5 B/row → estimate = 5e5 × 10 × 5 = 2.5e7 bytes
    val pref = (1L to 1000L).map(i => (i, "tok")).toDF("doc_id", "tok")
    val sz = (1L to 1000L).map(i => (i, 10L)).toDF("doc_id", "n")
    val est = 2.5e7.toLong
    assert(Dedup.autoPrefixBands(pref, sz, est + 1) === 1,
      "budget just above the estimate must stay single-pass")
    assert(Dedup.autoPrefixBands(pref, sz, est - 1) === 2,
      "budget just below the estimate must shard")
    assert(Dedup.autoPrefixBands(pref, sz, est / 10) === 10)
    assert(Dedup.autoPrefixBands(pref, sz, 1L) === 64, "cap at 64 bands")
    // empty prefix index → no candidates → single pass at any budget
    assert(Dedup.autoPrefixBands(pref.limit(0), sz.limit(0), 1L) === 1)
  }

  test("generalized threshold J >= 1/2 over shingle sets equals the " +
    "filter-free brute force (dd2 truth's engine, r8)") {
    val sh = docs.select(col("doc_id"),
      array_distinct(Dedup.shingles(col("text"))).as("ws"))
    val e = sh.select(col("doc_id"), explode(col("ws")).as("tok"))
    val sz = sh.select(col("doc_id"), size(col("ws")).cast("long").as("n"))
    val brute = e.select(col("doc_id").as("id_a"), col("tok"))
      .join(e.select(col("doc_id").as("id_b"), col("tok")), Seq("tok"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
      .join(sz.select(col("doc_id").as("id_a"), col("n").as("size_a")), Seq("id_a"))
      .join(sz.select(col("doc_id").as("id_b"), col("n").as("size_b")), Seq("id_b"))
      .filter(lit(3) * col("inter") >= col("size_a") + col("size_b"))
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val pref = Dedup.prefixJoinPairsAt(docs, bands = 0, tn = 1, td = 2,
        t => array_distinct(Dedup.shingles(t)))
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(pref === brute)
    assert(pref.nonEmpty)
    // and banding stays a non-semantic knob at this threshold too
    val banded = Dedup.prefixJoinPairsAt(docs, bands = 3, tn = 1, td = 2,
        t => array_distinct(Dedup.shingles(t)))
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(banded === brute)
  }

  test("broadcast verify equals narrow exploded verify exactly " +
    "(the r12 size-adaptive strategy is a plan knob, not a semantics knob)") {
    // force the narrow path — the default-path `single` above runs the
    // kernel verify over the broadcast token sets
    def kernelVerify(df: DataFrame): Boolean = df.queryExecution.analyzed
      .exists(_.expressions.exists(_.exists(_.isInstanceOf[PairIntersectExpr])))
    assert(kernelVerify(Dedup.prefixJoinPairs(docs)))
    val narrowDf = SizeGate.atScale(Dedup.prefixJoinPairs(docs))
    assert(!kernelVerify(narrowDf), "the at-scale run took the kernel verify")
    val narrow = narrowDf.collect().map(key).sortBy(identity).toSeq
    assert(narrow === single, "narrow verify diverged from broadcast verify")
  }

  test("sf0.001 corpus auto-sizes to a single pass at the default budget " +
    "(the 22%-overhead data point says bands>1 must be earned)") {
    val w = docs.select(col("doc_id"),
      array_distinct(split(col("text"), " ")).as("ws"))
    val e = w.select(col("doc_id"), explode(col("ws")).as("tok"))
    val sz = w.select(col("doc_id"), size(col("ws")).cast("long").as("n"))
    // the real prefix index is a SUBSET of the full posting list, so if
    // even the full list's estimate fits the 64 GiB default, auto = 1
    assert(Dedup.autoPrefixBands(e, sz, 64L << 30) === 1)
  }
}
