package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** 8×→64× scale soak (VERDICT r4 item 2): materializes a REPLICATED sf
  * directory and times the top wall-time CATALOG ENTRIES end-to-end at
  * the given replication, so the 100 TB linearity claims rest on two
  * octaves of evidence instead of one. Usage:
  *   runMain graft.ScaleSoak [rep] [sfDir]
  *
  * Replication model — "the corpus GREW", not "the corpus was copied":
  *  - documents: ids shifted AND every token suffixed per replica, so
  *    replicas are new content (no cross-replica dup structure; each
  *    replica carries the original's internal dup structure). The
  *    hot-bucket saturated cases (everything-is-a-dup) stay covered by
  *    ScaleProbe's dedicated shapes — this soak measures organic growth.
  *  - embeddings: ids shifted, vectors epsilon-shifted per replica (constant per-component offset)
  *    (deterministic), so ANN corpus cardinality really grows.
  *  - events/orders/lineitem: key-shifted copies (ScaleProbe's model).
  *  - dims (nation/region/customer/supplier/part): copied as-is — dims
  *    stay dim-sized at scale.
  *
  * Graph entries with data-dependent ROUND counts (gr14 SCC, gr15
  * betweenness) are probed in ScaleProbe with block-local replication
  * (same structure per block); here we time the fixed-round families
  * (HITS, Louvain, PageRank) whose per-round cost is |E|-linear but
  * whose graph SHAPE legitimately changes with n — wall per octave is
  * still the linearity readout.
  */
object ScaleSoak {

  /** Materialize (once — `_done`-marker cached) the replicated sf dir
    * at `/tmp/graft_soak_rep$rep` from `src` and return its path.
    * Shared by this soak's main and Bench's per-round 8× headline
    * sample (r10, verdict item 5). */
  private[graft] def materialize(spark: SparkSession, src: String,
                                 rep: Int): String = {
    // cache key includes the SOURCE (r10 review): the bare legacy name
    // is reserved for the bench-scale sf0.1 dir — a replica built from
    // any other source must never be served to Bench's 8x sample
    val dst =
      if (src.stripSuffix("/").endsWith("sf0.1")) s"/tmp/graft_soak_rep$rep"
      else s"/tmp/graft_soak_rep${rep}_" +
        src.replaceAll("[^A-Za-z0-9.]", "_").takeRight(40)

    def shift(df: DataFrame, keys: Seq[String], i: Int): DataFrame =
      keys.foldLeft(df)((acc, k) => acc.withColumn(k, col(k) + lit(i * 10000000L)))

    if (!new java.io.File(s"$dst/_done").exists()) {
      val docs = spark.read.parquet(s"$src/documents.parquet")
      (0 until rep).map { i =>
        shift(docs, Seq("doc_id"), i)
          // new content per replica: suffix every token (replica 0 keeps
          // the original text so per-replica structure matches the base)
          .withColumn("text",
            if (i == 0) col("text")
            else array_join(transform(split(col("text"), " "),
              w => concat(w, lit(s"_r$i"))), " "))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dst/documents.parquet")

      val emb = spark.read.parquet(s"$src/embeddings.parquet")
      (0 until rep).map { i =>
        shift(emb, Seq("vec_id"), i)
          .withColumn("embedding",
            if (i == 0) col("embedding")
            else transform(col("embedding"),
              x => x + lit(i * 0.0017f)))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")

      def replicateTo(name: String, keys: Seq[String]): Unit = {
        val t = spark.read.parquet(s"$src/$name.parquet")
        (0 until rep).map(shift(t, keys, _)).reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$dst/$name.parquet")
      }
      replicateTo("events", Seq("event_id", "user_id"))
      replicateTo("orders", Seq("o_orderkey"))
      replicateTo("lineitem", Seq("l_orderkey"))
      for (t <- Seq("nation", "region", "customer", "supplier", "part"))
        spark.read.parquet(s"$src/$t.parquet")
          .write.mode("overwrite").parquet(s"$dst/$t.parquet")
      new java.io.File(s"$dst/_done").createNewFile()
    }
    dst
  }

  def main(args: Array[String]): Unit = {
    val rep = args.headOption.map(_.toInt).getOrElse(8)
    val src = args.drop(1).headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.local(32)
    val dst = materialize(spark, src, rep)

    // SOAK_ONLY=a,b overrides the default top-wall-time list (used to
    // soak newly-added heavy entries without re-timing the stable set)
    val entries = sys.env.get("SOAK_ONLY")
      .map(_.split(",").map(_.trim).toSeq)
      .getOrElse(Seq(
        "sim7_pq_ann", "sim8_ivfpq_ann",
        "dd7_contamination", "dd10_containment", "dd11_bloom_contamination",
        "gr12_hits", "gr18_louvain", "gr2_pagerank",
        "pp4_incremental_corpus"))
    for (name <- entries) {
      val t0 = System.nanoTime()
      try {
        val n = SparkEntry.queries(name)(spark, dst).count()
        println(f"SOAK rep=$rep $name rows=$n ${(System.nanoTime() - t0) / 1e9}%.1f s")
      } catch { case scala.util.control.NonFatal(e) =>
        println(s"SOAK rep=$rep $name FAILED ${e.getMessage.take(200)}")
      }
    }
    spark.stop()
  }
}
