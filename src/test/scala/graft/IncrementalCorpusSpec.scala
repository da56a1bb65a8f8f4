package graft

import graft.operators.{IncrementalCorpus, SizeGate}
import org.apache.spark.sql.functions._

/** The composed incremental curation pipeline: fixture semantics,
  * sub-split invariance, replay idempotence, and interrupted-ingest
  * recovery. The catalog entry (pp4) additionally certifies the
  * whole pipeline against DuckDB's declarative one-shot. */
class IncrementalCorpusSpec extends SparkSpecBase {
  import spark.implicits._

  private def words(n: Int, seed: Int): String =
    (0 until n).map(i => s"w${(i * 31 + seed * 7) % 97}").mkString(" ")

  private def newState(): String =
    java.nio.file.Files.createTempDirectory("ic-spec").toString

  private def canon(state: String): Seq[(Long, Long, Long)] =
    IncrementalCorpus.canonical(spark, state)
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq

  test("fixture: gate drops short docs, exact dups collapse first-arrival, " +
    "near dups cluster to min id") {
    val base = words(40, seed = 1)
    val nearDup = base.split(" ").dropRight(2).mkString(" ") + " zz1 zz2"
    val docs = Seq(
      (10L, base),                  // batch 0 (even)
      (11L, "too short"),           // batch 1: gated out
      (13L, base),                  // batch 1: exact dup of 10 -> dropped
      (12L, nearDup),               // batch 0: near dup of 10 -> clustered
      (15L, (0 until 40).map(i => s"x$i").mkString(" ")) // unrelated singleton
    ).toDF("doc_id", "text")
    val state = newState()
    IncrementalCorpus.ingest(spark, state, 0L, docs.filter($"doc_id" % 2 === 0))
    IncrementalCorpus.ingest(spark, state, 1L, docs.filter($"doc_id" % 2 === 1))
    assert(canon(state) === Seq(
      (10L, 10L, 1L), (12L, 10L, 0L), (15L, 15L, 1L)))
  }

  test("later-batch exact dup with a SMALLER id is dropped (first arrival wins)") {
    val base = words(40, seed = 2)
    val state = newState()
    IncrementalCorpus.ingest(spark, state, 0L,
      Seq((6L, base)).toDF("doc_id", "text"))
    IncrementalCorpus.ingest(spark, state, 1L,
      Seq((3L, base)).toDF("doc_id", "text"))
    assert(canon(state) === Seq((6L, 6L, 1L)))
  }

  test("id-ordered sub-splitting a batch leaves the state identical (real table)") {
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val twoWay = newState()
    IncrementalCorpus.ingest(spark, twoWay, 0L, docs.filter($"doc_id" % 2 === 0))
    IncrementalCorpus.ingest(spark, twoWay, 1L, docs.filter($"doc_id" % 2 === 1))
    val threeWay = newState()
    IncrementalCorpus.ingest(spark, threeWay, 0L, docs.filter($"doc_id" % 2 === 0))
    IncrementalCorpus.ingest(spark, threeWay, 1L,
      docs.filter($"doc_id" % 2 === 1 && $"doc_id" < 250))
    IncrementalCorpus.ingest(spark, threeWay, 2L,
      docs.filter($"doc_id" % 2 === 1 && $"doc_id" >= 250))
    assert(canon(twoWay) === canon(threeWay))
    assert(canon(twoWay).nonEmpty)
  }

  // both branches of CcIndex's merge keep the crash, replay and
  // marker-last contracts: the local one these batches take by default,
  // and the distributed one forced at scale
  Seq(false, true).foreach { forced =>
    test("replaying a completed batch is a no-op; an interrupted batch " +
      "(marker lost, partial writes present) recovers exactly" +
      (if (forced) " (at scale)" else "")) {
      def branch(body: => Unit): Unit =
        if (forced) SizeGate.atScale(body) else body
      val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
      val state = newState()
      branch {
        IncrementalCorpus.ingest(spark, state, 0L, docs.filter($"doc_id" % 2 === 0))
        IncrementalCorpus.ingest(spark, state, 1L, docs.filter($"doc_id" % 2 === 1))
      }
      val before = canon(state)
      // completed replay: marker present -> no-op
      branch(IncrementalCorpus.ingest(spark, state, 1L, docs.filter($"doc_id" % 2 === 1)))
      assert(canon(state) === before)
      // interrupted ingest: batch 1's marker is gone but its partitions and
      // label merges landed — the replay must converge to the same state
      val marker = new java.io.File(s"$state/_batches/1")
      assert(marker.exists()); assert(marker.delete())
      branch(IncrementalCorpus.ingest(spark, state, 1L, docs.filter($"doc_id" % 2 === 1)))
      assert(canon(state) === before)
    }
  }

  // a small second ingest (stored docs, grams and labels to match
  // against) takes CcIndex's local merge: two checkpoints (stored docs;
  // shingles), the pair checkpoint, the three writes, the two bounded
  // collects, the bucketed sink's own jobs, the state reads' schema
  // inference, and the broadcast and shuffle-stage jobs AQE submits.
  test("one small ingest runs a pinned number of Spark jobs") {
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val state = newState()
    IncrementalCorpus.ingest(spark, state, 0L, docs.filter($"doc_id" % 2 === 0))
    assert(jobsDuring(IncrementalCorpus.ingest(
      spark, state, 1L, docs.filter($"doc_id" % 2 === 1))) === 24)
  }
}
