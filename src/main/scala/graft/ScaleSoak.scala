package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The scale replica: a REPLICATED sf directory and the catalog entries
  * whose 1× → N× growth is SURVEY §6's linearity read-out. Usage:
  *   runMain graft.ScaleSoak [rep=8] [sfDir=the bench-scale sf0.1]
  * materializes the replica and prints its dir and the comma-joined
  * [[entries]]. The entries run through the catalog's own mains, so
  * every scaled answer is checked the same way as at catalog scale:
  * `SPARK_GRAFT_ONLY=<entries> Verify <dir> <out>` at two thread counts,
  * then `tools/localcheck.py` (DuckDB oracle) and `tools/samecheck.py`;
  * `SPARK_GRAFT_SF_DIR=<dir> SPARK_GRAFT_ONLY=<entries> Bench` times
  * each entry (noop sink) at 1× and N×.
  *
  * Replication model — "the corpus GREW", not "the corpus was copied":
  *  - documents: ids shifted AND every token suffixed per replica, so
  *    replicas are new content (no cross-replica dup structure; each
  *    replica carries the original's internal dup structure). Saturated
  *    everything-is-a-dup inputs are not modelled.
  *  - embeddings: ids shifted, vectors epsilon-shifted per replica (constant per-component offset)
  *    (deterministic), so ANN corpus cardinality really grows.
  *  - events/orders/lineitem: key-shifted copies (event_id/user_id,
  *    o_orderkey, l_orderkey), so per-user and per-order shapes repeat
  *    while per-customer and per-part histories grow ×rep.
  *  - dims (nation/region/customer/supplier/part): copied as-is — dims
  *    stay dim-sized at scale, so an entry over dims alone reads flat.
  *
  * The graph entries' formula edges `(doc_id·k + c) % n` assume dense
  * ids. At 8× of sf0.1 the 10⁷ id shift is a multiple of n = 40000, so
  * every copy's edges land on the same targets, most of them no
  * document: their 8× answers are checked, but their walls time that
  * graph, not a grown one.
  */
object ScaleSoak {

  /** Materialize (once — `_done`-marker cached) the replicated sf dir
    * at `/tmp/graft_soak_rep$rep` from `src` and return its path.
    * Shared by this main, Bench's per-round 8× headline sample and
    * PrefixSoak. */
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

  /** The entries the scale read-out runs, grouped by the family whose
    * growth they stand for. */
  val entries: Seq[String] = Seq(
    // relational: fact scans, fact⋈fact joins, per-key windows and top-k
    "q01_agg", "q03_join_agg", "q08_window_rank", "q33_topk_agg",
    "q38_semijoin_prune", "q42_nation_volume", "q44_dominant_supplier",
    "q70_decayed_value", "q73_spearman", "q74_topk_rewrite",
    "q92_basket_rules", "q93_kaplan_meier", "q99_fifo_cogs",
    // events: as-of joins, cell-algebra tests, per-user pair joins
    "aj1_asof_join", "aj2_asof_exec", "ev26_mannwhitney",
    "ev38_rolling_wau", "ev42_pattern_match", "q101_theilsen",
    "geo2_radius_join",
    // corpus: token explodes, dedup and contamination
    "tx16_token_rarity", "tx35_source_overlap", "dd2_minhash_lsh",
    "dd7_contamination", "dd8_passage_dup", "dd9_semantic_dedup",
    "dd10_containment", "dd11_bloom_contamination", "dd14_dup_span_coverage",
    "pp4_incremental_corpus",
    // vectors and graphs
    "sim7_pq_ann", "sim8_ivfpq_ann", "sim10_covariance",
    "gr2_pagerank", "gr12_hits", "gr14_scc", "gr15_betweenness",
    "gr18_louvain")

  def main(args: Array[String]): Unit = {
    val rep = args.headOption.map(_.toInt).getOrElse(8)
    val src = args.drop(1).headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.local(32)
    println(materialize(spark, src, rep))
    println(entries.mkString(","))
    spark.stop()
  }
}
