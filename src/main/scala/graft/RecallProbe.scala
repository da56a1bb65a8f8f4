package graft

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Recall measurement for the approximate operators (dd2 MinHash-LSH,
  * sim3 sign-LSH ANN, sim5 IVF ANN) against EXACT ground truth at a given
  * scale — the r1 verdict asked for recall pinned at bench scale (sf0.1),
  * not just the sf0.001 planted-dup specs. Prints one JSON line; numbers
  * are recorded in PLANS.md per round.
  *
  * Ground truths are exact and complete:
  *  - near-dup pairs: any pair with Jaccard ≥ t shares ≥ 1 shingle, so an
  *    inverted-index self-join on shingle hashes enumerates a superset of
  *    the truth, then exact Jaccard filters it (linear in corpus +
  *    per-shingle fan-out, never all-pairs);
  *  - ANN: brute-force cosine top-k over query(vec_id<10) × corpus.
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    println(s"RECALL_JSON ${measure(spark, sfDir)}")
    spark.stop()
  }

  /** Recall JSON for the approximate operators at `sfDir` — called by
    * [[main]] (standalone sf0.1 runs) AND by [[Verify]] (r3+: every
    * round's correctness dump also emits `<outDir>/recall.json`, so a
    * recall regression surfaces next to a correctness regression
    * instead of waiting for a manual probe run). */
  def measure(spark: SparkSession, sfDir: String): String = {
    // ---- dd2: MinHash-LSH near-dup pairs vs exact-Jaccard truth ----
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val shingleIndex = docs
      .select(col("doc_id"), explode(array_distinct(Dedup.shingles(col("text")))).as("sg"))
      .select(col("doc_id"), xxhash64(col("sg")).as("h"))
    val candA = shingleIndex.select(col("h"), col("doc_id").as("id_a"))
    val candB = shingleIndex.select(col("h"), col("doc_id").as("id_b"))
    val truthPairs = candA.join(candB, Seq("h"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").dropDuplicates("id_a", "id_b")
      .join(docs.select(col("doc_id").as("id_a"), col("text").as("t_a")), Seq("id_a"))
      .join(docs.select(col("doc_id").as("id_b"), col("text").as("t_b")), Seq("id_b"))
      .filter(Dedup.jaccard(Dedup.shingles(col("t_a")), Dedup.shingles(col("t_b"))) >= 0.5)
      .select("id_a", "id_b")
      .localCheckpoint(true)
    val dd2Pairs = SparkEntry.queries("dd2_minhash_lsh")(spark, sfDir)
      .select("id_a", "id_b")
    val dd2Truth = truthPairs.count()
    val dd2Hit = dd2Pairs.join(truthPairs, Seq("id_a", "id_b"), "left_semi").count()

    // ---- dd3 (r10): TWO readouts. dd3_recall = the banded pipeline vs
    // brute-force exact hamming ≤ 3 over the production fingerprints —
    // the operator's CONTRACT truth (provably 1.0 by pigeonhole; the
    // measurement guards the implementation). dd3_j90_capture = the
    // measured fraction of exact J ≥ 0.9 shingle pairs within hamming
    // ≤ 3 — NOT a recall gate (SimHash trades semantic recall for
    // fixed cost; the hamming of J ≥ 0.9 pairs reaches 11 at sf0.1),
    // recorded so the semantic operating point is a tracked number. ----
    val dd3Fp = Dedup.simhashFingerprints(spark, sfDir).localCheckpoint(true)
    val dd3Pairs = SparkEntry.queries("dd3_simhash")(spark, sfDir)
      .select("id_a", "id_b").localCheckpoint(true)
    // ONE brute pass serves both radii (r10 review): emit hamming ≤ 7
    // once, filter the ≤ 3 subset for free
    val ham7Truth = dd3Fp.select(col("doc_id").as("id_a"), col("simhash").as("fa"))
      .crossJoin(dd3Fp.select(col("doc_id").as("id_b"), col("simhash").as("fb")))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        expr("bit_count(fa ^ fb)").cast("int").as("hamming"))
      .filter(col("hamming") <= 7)
      .localCheckpoint(true)
    val dd3TruthPairs = ham7Truth.filter(col("hamming") <= 3)
      .select("id_a", "id_b")
      .localCheckpoint(true)
    val dd3Truth = dd3TruthPairs.count()
    val dd3Hit = dd3Pairs.join(dd3TruthPairs, Seq("id_a", "id_b"), "left_semi").count()
    val truth09 = candA.join(candB, Seq("h"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").dropDuplicates("id_a", "id_b")
      .join(docs.select(col("doc_id").as("id_a"), col("text").as("t_a")), Seq("id_a"))
      .join(docs.select(col("doc_id").as("id_b"), col("text").as("t_b")), Seq("id_b"))
      .filter(Dedup.jaccard(Dedup.shingles(col("t_a")), Dedup.shingles(col("t_b"))) >= 0.9)
      .select("id_a", "id_b")
      .localCheckpoint(true)
    val j90Truth = truth09.count()
    val j90Hit = dd3Pairs.join(truth09, Seq("id_a", "id_b"), "left_semi").count()

    // ---- dd26 (r10): the multi-probe variant at hamming ≤ 7 — contract
    // recall vs brute hamming truth (provably 1.0 by chunk-pigeonhole)
    // and the lifted J ≥ 0.9 capture the wider radius buys ----
    val dd26Pairs = SparkEntry.queries("dd26_simhash_multiprobe")(spark, sfDir)
      .select("id_a", "id_b").localCheckpoint(true)
    val ham7Pairs = ham7Truth.select("id_a", "id_b")
    val dd26Truth = ham7Pairs.count()
    val dd26Hit = dd26Pairs.join(ham7Pairs, Seq("id_a", "id_b"), "left_semi").count()
    val j90Hit26 = dd26Pairs.join(truth09, Seq("id_a", "id_b"), "left_semi").count()

    // ---- ANN ground truth: brute-force cosine top-3, taken from the
    // catalog's own brute-force entry (k=5, identical tie-break) so the
    // probe's "truth" can never drift from what the catalog calls brute
    // force ----
    val bruteTop3 = SparkEntry.queries("sim1_bruteforce_topk")(spark, sfDir)
      .filter(col("rk") <= 3)
      .select("q_id", "c_id")
      .localCheckpoint(true)
    val annTruth = bruteTop3.count()
    def annRecall(name: String): (Long, Long) = {
      val ann = SparkEntry.queries(name)(spark, sfDir).select("q_id", "c_id")
      (ann.join(bruteTop3, Seq("q_id", "c_id"), "left_semi").count(), annTruth)
    }
    val (sim3Hit, _) = annRecall("sim3_lsh_ann")
    val (sim5Hit, _) = annRecall("sim5_ivf_ann")
    val (sim7Hit, _) = annRecall("sim7_pq_ann")
    val (sim8Hit, _) = annRecall("sim8_ivfpq_ann")

    // ---- dd9: semantic dedup removed-set vs the exact quadratic truth.
    // The truth here IS the all-pairs problem dd9 exists to avoid, so it
    // only runs at probe scale (corpus² cosine filters stream through a
    // broadcast NLJ — ~2·10⁸ codegen'd pairs at sf0.1, no materialized
    // quadratic frame). Removed-set recall: an id counts as caught if
    // dd9 removed it, regardless of which kept partner it credits. ----
    import graft.operators.Similarity
    import graft.functions.Vectors._
    val emb = Similarity.prepared(spark, sfDir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val la = emb.select(col("vec_id").as("ia"), col("v").as("va"), col("nrm").as("na"))
    val lb = emb.select(col("vec_id").as("ib"), col("v").as("vb"), col("nrm").as("nb"))
    val exactRemoved = la.crossJoin(lb)
      .filter(col("ia") < col("ib"))
      .filter(cosineNative(col("va"), col("vb"), col("na"), col("nb")) > 0.4)
      .select(col("ib").as("removed_id")).distinct()
      .localCheckpoint(true)
    emb.unpersist()
    val dd9Removed = SparkEntry.queries("dd9_semantic_dedup")(spark, sfDir)
      .select("removed_id")
    val dd9Truth = exactRemoved.count()
    val dd9Hit = dd9Removed.join(exactRemoved, Seq("removed_id"), "left_semi").count()

    def ratio(hit: Long, truth: Long): Double =
      if (truth == 0) 1.0 else hit.toDouble / truth

    // ---- dd9 nAssign sweep (r11, verdict item 6): the 0.997 residue at
    // the shipped nAssign=4 is boundary-cell misses — pairs whose two
    // vectors never co-occur in any of the 4 nearest centroid cells.
    // Sweeping the operating point per round makes the capture/cost
    // curve a TRACKED number: whether the residue closes at nAssign=8
    // (more probe redundancy, same stored index) is read from the
    // artifact, not argued. ----
    val dd9Sweep = Seq(2, 4, 8).map { na =>
      val removed = Similarity.semanticDedup(spark, sfDir, nAssign = na)
        .select("removed_id")
      val hit =
        removed.join(exactRemoved, Seq("removed_id"), "left_semi").count()
      na -> ratio(hit, dd9Truth)
    }
    val dd9SweepJson = dd9Sweep
      .map { case (na, r) => s""""n$na":$r""" }.mkString("{", ",", "}")
    s"""{"sf":"$sfDir","dd2_recall":${ratio(dd2Hit, dd2Truth)},"dd2_truth_pairs":$dd2Truth,""" +
      s""""dd3_recall":${ratio(dd3Hit, dd3Truth)},"dd3_truth_pairs":$dd3Truth,""" +
      s""""dd3_j90_capture":${ratio(j90Hit, j90Truth)},"dd3_j90_truth_pairs":$j90Truth,""" +
      s""""dd26_recall":${ratio(dd26Hit, dd26Truth)},"dd26_truth_pairs":$dd26Truth,""" +
      s""""dd26_j90_capture":${ratio(j90Hit26, j90Truth)},""" +
      s""""sim3_recall":${ratio(sim3Hit, annTruth)},"sim5_recall":${ratio(sim5Hit, annTruth)},""" +
      s""""sim7_recall":${ratio(sim7Hit, annTruth)},"sim8_recall":${ratio(sim8Hit, annTruth)},""" +
      s""""ann_truth_pairs":$annTruth,""" +
      s""""dd9_recall":${ratio(dd9Hit, dd9Truth)},"dd9_truth_removed":$dd9Truth,""" +
      s""""dd9_recall_sweep":$dd9SweepJson}"""
  }
}
