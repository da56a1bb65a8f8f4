package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Durable + incremental connected components (SURVEY.md §2 L4e) — the
  * cluster-label index that grows with the dedup pair stream. dd5
  * recomputes labels from ALL pairs; at 100 TB the pair history is
  * unbounded, while each ingest only ever NEEDS the new pairs and the
  * current labels: map the batch's endpoints to their current roots
  * (left join — absent node = its own root), contract the batch to a
  * ROOT GRAPH (≤ one node per touched component, bounded by batch
  * size, never corpus size), run the O(log d) min-label CC on that
  * contracted graph, and push the resulting root remap back down —
  * only members of components that actually MERGED rewrite, through
  * the T7b bucketed upsert (O(touched buckets), untouched label
  * buckets keep their files byte-for-byte).
  *
  * Labels stay canonical (component = min member id, dd5's
  * convention): every stored root is the min of its members, so the
  * min over merged roots is the min over the union — the invariant
  * survives every merge, and incremental ≡ full-recompute is spec'd
  * as EXACT equality under adversarial batch splits (bridges landing
  * after both sides are already large).
  *
  * Replay safety needs no marker here: re-applying a batch whose
  * merges are already in the labels finds every endpoint sharing a
  * root, contracts to an EMPTY root graph, and upserts only identity
  * rows — a no-op by construction (spec'd). Single writer, monotonic
  * batch ids, like every rename-published state in this repo.
  */
object CcIndex {

  private def labelsPath(dir: String) = s"$dir/labels"

  private def hasLabels(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(labelsPath(dir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists(_.getPath.getName.startsWith("__kb="))
  }

  /** Current labels `(id, component)`; empty frame before any update. */
  def snapshot(spark: SparkSession, dir: String): DataFrame =
    if (!hasLabels(spark, dir)) {
      import spark.implicits._
      Seq.empty[(Long, Long)].toDF("id", "component")
    } else
      spark.read.parquet(labelsPath(dir)).select("id", "component")

  /** Merge a batch of near-dup pairs `(id_a, id_b)` into the label
    * state. Work is O(batch + members-of-merged-components); label
    * buckets without touched members are not rewritten. An empty pair
    * batch writes nothing.
    *
    * SIZE-ADAPTIVE: when the batch's pairs and the label snapshot both
    * fit [[SizeGate.CcSymmetrizedRows]] (two bounded collects, one job
    * each), the root lookup, the contracted union-find
    * ([[Dedup.unionFind]]) and the upsert set are computed on the
    * driver; otherwise the distributed root-graph contraction below
    * runs. Both hand the same upsert rows to the bucketed sink. */
  def update(spark: SparkSession, dir: String, pairs: DataFrame,
             batchId: Long, numBuckets: Int = 64): Unit = {
    val e = pairs.select(col("id_a"), col("id_b"))
      .filter(col("id_a").isNotNull && col("id_b").isNotNull)
    val longIds = e.schema.fields.forall(_.dataType == LongType)
    val pairRows =
      if (longIds) SizeGate.rowsIfBounded(e, SizeGate.CcSymmetrizedRows / 2)
      else None
    val labelRows = pairRows.filter(_.nonEmpty).flatMap { _ =>
      if (!hasLabels(spark, dir)) Some(Array.empty[Row])
      else SizeGate.rowsIfBounded(snapshot(spark, dir), SizeGate.CcSymmetrizedRows)
    }
    val upserts = (pairRows, labelRows) match {
      case (Some(ps), _) if ps.isEmpty => None // nothing to merge: write nothing
      case (Some(ps), Some(ls)) =>
        import spark.implicits._
        Some(localUpserts(ps.map(r => (r.getLong(0), r.getLong(1))),
          ls.map(r => (r.getLong(0), r.getLong(1)))).toDF("id", "component"))
      case _ => distributedUpserts(spark, dir, e.distinct())
    }
    upserts.foreach(u => graft.streaming.EventStream.upsertSinkBucketed(
      u.withColumn("__v", lit(batchId)), batchId, labelsPath(dir),
      keyCol = "id", versionCol = "__v", numBuckets = numBuckets))
  }

  /** The local merge: each endpoint's current root (absent node = its
    * own root), the union-find over the contracted root edges, and the
    * upsert set — existing members of merged components plus every
    * endpoint under its final root. */
  private def localUpserts(pairs: Array[(Long, Long)],
                           labels: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val root = labels.toMap
    def rootOf(x: Long): Long = root.getOrElse(x, x)
    val remap = Dedup.unionFind(pairs.iterator
      .map { case (a, b) => (rootOf(a), rootOf(b)) }.filter { case (a, b) => a != b })
    def finalOf(r: Long): Long = remap.getOrElse(r, r)
    val moved = labels.iterator.collect {
      case (id, c) if finalOf(c) != c => id -> finalOf(c)
    }
    val endpoints = pairs.iterator.flatMap { case (a, b) => Iterator(a, b) }
      .map(x => x -> finalOf(rootOf(x)))
    (moved ++ endpoints).toMap.toSeq
  }

  /** The at-scale merge, as distributed joins; None for an empty batch. */
  private def distributedUpserts(spark: SparkSession, dir: String,
                                 e: DataFrame): Option[DataFrame] = {
    val labels = snapshot(spark, dir)
      .localCheckpoint(true) // root lookup + member remap consume it
    // batch endpoints → current roots (absent node roots itself)
    val withRoots = e
      .join(labels.select(col("id").as("id_a"), col("component").as("ra")),
        Seq("id_a"), "left")
      .join(labels.select(col("id").as("id_b"), col("component").as("rb")),
        Seq("id_b"), "left")
      .select(col("id_a"), col("id_b"),
        coalesce(col("ra"), col("id_a")).as("ra"),
        coalesce(col("rb"), col("id_b")).as("rb"))
      .localCheckpoint(true) // root graph + per-node root rows consume it
    if (withRoots.isEmpty) return None
    // contracted root graph: one node per touched component
    val rootEdges = withRoots.filter(col("ra") =!= col("rb"))
      .select(col("ra").as("id_a"), col("rb").as("id_b")).distinct()
    // O(log d) min-label CC on the contracted graph — (oldRoot, newRoot)
    val remap = Dedup.connectedComponents(rootEdges)
      .select(col("id").as("old_root"), col("component").as("new_root"))
      .localCheckpoint(true) // existing-member remap + batch rows consume it
    // rows to upsert: existing members of components that merged...
    val movedExisting = labels
      .join(remap.filter(col("old_root") =!= col("new_root"))
        .withColumnRenamed("old_root", "component"), Seq("component"))
      .select(col("id"), col("new_root").as("component"))
    // ...plus every batch endpoint under its final root
    val batchNodes = withRoots
      .select(col("id_a").as("id"), col("ra").as("component"))
      .unionByName(withRoots.select(col("id_b").as("id"), col("rb").as("component")))
      .distinct()
      .join(remap.withColumnRenamed("old_root", "component"), Seq("component"), "left")
      .select(col("id"), coalesce(col("new_root"), col("component")).as("component"))
    Some(movedExisting.unionByName(batchNodes).distinct())
  }
}
