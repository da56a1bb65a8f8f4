package graft

import graft.operators.{CcIndex, Dedup, SizeGate}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Incremental-≡-full contract for the durable component index: label
  * equality is EXACT under adversarial batch splits (bridges arriving
  * after both sides are already big), replays are no-ops, and merges
  * rewrite existing members to the new canonical root. Every case runs
  * on both branches of the merge — the driver-local one these small
  * batches take by default, and the distributed one forced by
  * [[SizeGate.atScale]] — and the two label stores must be equal.
  */
class CcIndexSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp() =
    java.nio.file.Files.createTempDirectory("ccidx").toString + "/idx"

  private def labelsOf(dir: String): Map[Long, Long] =
    CcIndex.snapshot(spark, dir).as[(Long, Long)].collect().toMap

  private def fullCc(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    Dedup.connectedComponents(pairs.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap

  /** Run `build` into a fresh index dir by default (local merge) and
    * again forced at scale (distributed merge); the two label maps must
    * be equal. Returns them. */
  private def onBothBranches(build: String => Unit): Map[Long, Long] = {
    val local = tmp(); build(local)
    val atScale = tmp(); SizeGate.atScale(build(atScale))
    val got = labelsOf(local)
    assert(got === labelsOf(atScale), "local merge and at-scale merge disagree")
    got
  }

  /** Every file under `dir` (relative path → bytes). */
  private def filesOf(dir: String): Map[String, Seq[Byte]] = {
    val root = java.nio.file.Paths.get(dir)
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(f => root.relativize(f).toString ->
        java.nio.file.Files.readAllBytes(f).toSeq).toMap
    finally walk.close()
  }

  test("late bridge merges two grown components; equals full recompute exactly") {
    // batch 0: chain 1-2-3-4; batch 1: chain 10-11-12-13; batch 2: ONE
    // bridge 4-10 — the hard case: both sides already big and settled
    val b0 = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    val b1 = Seq((10L, 11L), (11L, 12L), (12L, 13L))
    val b2 = Seq((4L, 10L))
    val want01 = fullCc(b0 ++ b1)
    val got = onBothBranches { dir =>
      CcIndex.update(spark, dir, b0.toDF("id_a", "id_b"), 0, numBuckets = 8)
      CcIndex.update(spark, dir, b1.toDF("id_a", "id_b"), 1, numBuckets = 8)
      assert(labelsOf(dir) === want01)
      CcIndex.update(spark, dir, b2.toDF("id_a", "id_b"), 2, numBuckets = 8)
    }
    assert(got === fullCc(b0 ++ b1 ++ b2))
    // every node of both chains now carries the global min root 1
    assert((Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 13L)).forall(got(_) == 1L))
  }

  test("random interleaved batches equal the full recompute") {
    // deterministic pseudo-random pair soup, split round-robin into 4
    val all = (0 until 60).map { i =>
      val a = (i * 37 + 11) % 40; val b = (i * 53 + 7) % 40
      (a.toLong, b.toLong)
    }.filter { case (a, b) => a != b }
    val batches = all.zipWithIndex.groupBy(_._2 % 4).toSeq.sortBy(_._1)
      .map(_._2.map(_._1))
    val got = onBothBranches { dir =>
      batches.zipWithIndex.foreach { case (b, i) =>
        CcIndex.update(spark, dir, b.toDF("id_a", "id_b"), i.toLong, numBuckets = 8)
      }
    }
    assert(got === fullCc(all))
  }

  test("replaying an applied batch is a label no-op") {
    val b0 = Seq((1L, 2L), (3L, 4L))
    val b1 = Seq((2L, 3L))
    val got = onBothBranches { dir =>
      CcIndex.update(spark, dir, b0.toDF("id_a", "id_b"), 0, numBuckets = 8)
      CcIndex.update(spark, dir, b1.toDF("id_a", "id_b"), 1, numBuckets = 8)
      val before = labelsOf(dir)
      CcIndex.update(spark, dir, b1.toDF("id_a", "id_b"), 2, numBuckets = 8)
      assert(labelsOf(dir) === before)
    }
    assert(got === fullCc(b0 ++ b1))
  }

  test("an empty pair batch writes nothing on either branch: no labels/ " +
    "dir for a fresh index, an existing store stays byte-identical") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    def noWrite(dir: String): Unit = {
      CcIndex.update(spark, dir, empty, 0, numBuckets = 8)
      assert(!new java.io.File(s"$dir/labels").exists())
      CcIndex.update(spark, dir, Seq((1L, 2L)).toDF("id_a", "id_b"), 1, numBuckets = 8)
      val before = filesOf(s"$dir/labels")
      CcIndex.update(spark, dir, empty, 2, numBuckets = 8)
      assert(filesOf(s"$dir/labels") === before)
    }
    assert(onBothBranches(noWrite) === Map(1L -> 1L, 2L -> 1L))
    // by default the bounded pair collect is the whole cost of an empty
    // batch (a frame over 4 empty partitions, so the collect is a job)
    val emptyScan = spark.range(0, 0, 1, 4).select($"id".as("id_a"), $"id".as("id_b"))
    assert(jobsDuring(CcIndex.update(spark, tmp(), emptyScan, 0, numBuckets = 8)) === 1)
  }

  test("snapshot before any update is empty, not an error") {
    assert(CcIndex.snapshot(spark, tmp()).count() === 0L)
  }

  // the END-TO-END incremental dedup pipeline: per ingest, L2b finds the
  // batch's near-dup pairs against the stored signature index and L4e
  // folds them into the cluster labels — after all ingests the labels
  // must equal the one-shot pipeline (full minhashLsh pairs → full CC)
  // exactly, because each pair is reported exactly once (when its later
  // member ingests) and label merging is order-independent
  test("incremental minhash pairs + incremental components equal the one-shot pipeline") {
    val allDocs = Tables.documents(spark, sf0001).select(col("doc_id"), col("text"))
    val got = onBothBranches { dir =>
      var storedSigs = Dedup.signatureFrame(allDocs.limit(0), k = 16)
        .localCheckpoint(true)
      (0 until 3).foreach { b =>
        val batch = allDocs.filter(col("doc_id") % 3 === b)
        val (pairs, freshSigs) =
          Dedup.minhashLshIncremental(batch, storedSigs, allDocs)
        CcIndex.update(spark, dir, pairs.select("id_a", "id_b"), b.toLong,
          numBuckets = 8)
        storedSigs = storedSigs.unionByName(freshSigs).localCheckpoint(true)
      }
    }
    val oneShot = Dedup.connectedComponents(
      Dedup.minhashLsh(spark, sf0001).select("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert(got === oneShot)
    assert(oneShot.nonEmpty, "the synthetic corpus must contain near-dup clusters")
  }
}
