package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, PrefixIndex}

/** ≥16-batch PrefixIndex LIFECYCLE soak at 8× (r10, verdict item 1):
  * the durable dedup index was certified for build + one ingest; a
  * production corpus ingests hundreds of batches, so this soak drives
  * a long sequential batch train and records per-batch ingest seconds
  * + the index's part-file count, runs a marker-last COMPACTION
  * mid-train, and proves
  *  (a) per-batch ingest cost stays FLAT (no O(index) term creeping in
  *      through the valve estimate or file listings),
  *  (b) compaction collapses the accumulated small files and ingest
  *      continues correctly on the new epoch,
  *  (c) the union of all batch outputs equals the ONE-SHOT whole-corpus
  *      PPJoin (count + order-invariant long checksums over id/inter/
  *      jac_pm — exact, partitioning-independent).
  *
  * Usage: runMain graft.PrefixSoak [rep] [batches] [srcSfDir]
  * (env: GRAFT_SOAK_VERIFY=0 skips the one-shot equality pass).
  * Prints one PREFIX_SOAK_BATCH line per batch + a PREFIX_SOAK summary
  * line for PLANS.md.
  */
object PrefixSoak {
  def main(args: Array[String]): Unit = {
    val rep = args.headOption.map(_.toInt).getOrElse(8)
    val batches = args.drop(1).headOption.map(_.toInt).getOrElse(16)
    val src = args.drop(2).headOption.getOrElse("/root/testdata/sf0.1")
    val verify = sys.env.get("GRAFT_SOAK_VERIFY").forall(_ != "0")
    val spark = GraftSession.local(32)

    val base = ScaleSoak.materialize(spark, src, rep)
    val docs = spark.read.parquet(s"$base/documents.parquet")
      .select(col("doc_id"), col("text"))
    val dir = s"/tmp/graft_prefix_soak_rep${rep}_b$batches"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true) // fresh run

    // order-invariant exact checksums of a pair frame — ONE action
    def sums(df: org.apache.spark.sql.DataFrame): (Long, Long, Long, Long) = {
      val r = df.agg(count(lit(1)).as("c"),
        coalesce(sum(col("id_a") + col("id_b")), lit(0L)).as("sid"),
        coalesce(sum("inter"), lit(0L)).as("si"),
        coalesce(sum("jac_pm"), lit(0L)).as("sj")).first()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }

    val compactAt = batches / 2
    var acc = (0L, 0L, 0L, 0L)
    def add(a: (Long, Long, Long, Long), b: (Long, Long, Long, Long)) =
      (a._1 + b._1, a._2 + b._2, a._3 + b._3, a._4 + b._4)
    val batchSecs = scala.collection.mutable.ArrayBuffer.empty[Double]
    // ZERO-COLLISION probe: a train-batch-sized synthetic batch whose
    // tokens are uniquely suffixed (collides with NOTHING — pairs must
    // be 0), ingested right after the build and again after the last
    // train batch. The two probe times isolate the pure O(batch) floor:
    // equal early-vs-late probes prove the per-ingest fixed term does
    // not grow with index size (the train batches' wall DOES grow, but
    // with their measured collision volume — the contract).
    var probeEarly = -1.0
    var probeLate = -1.0
    def zeroCollisionProbe(tag: String, i: Int): Double = {
      val probe = docs
        .filter(pmod(xxhash64(col("doc_id")), lit(batches)) === 0)
        .select((col("doc_id") + lit(900000000L * i)).as("doc_id"),
          // suffix per DOC, not per batch: a per-batch suffix keeps the
          // batch's INTERNAL dup structure (measured: the probe re-paired
          // batch 0's 86k internal pairs) — per-doc suffixes share no
          // token with anything, inside or outside the probe
          array_join(transform(split(col("text"), " "),
            w => concat(w, lit(s"_pz${i}_"), col("doc_id"))), " ").as("text"))
      val t0 = System.nanoTime()
      val s = sums(PrefixIndex.appendBatch(probe, dir))
      val sec = (System.nanoTime() - t0) / 1e9
      require(s._1 == 0L, s"zero-collision probe produced pairs: $s")
      println(f"""PREFIX_SOAK_PROBE {"at":"$tag","secs":${math.rint(sec * 10) / 10},"pairs":${s._1}}""")
      sec
    }
    for (b <- 0 until batches) {
      val batch = docs.filter(pmod(xxhash64(col("doc_id")), lit(batches)) === b)
      val t0 = System.nanoTime()
      val pairs =
        if (b == 0) PrefixIndex.build(batch, dir)
        else PrefixIndex.appendBatch(batch, dir)
      val s = sums(pairs) // materializes the pair plan end to end
      val sec = (System.nanoTime() - t0) / 1e9
      acc = add(acc, s)
      batchSecs += sec
      val ep = PrefixIndex.currentEpoch(spark, dir)
      val files = PrefixIndex.dirFileCount(spark,
        if (ep == 0) s"$dir/prefix" else s"$dir/prefix_e$ep")
      println(f"""PREFIX_SOAK_BATCH {"batch":$b,"secs":${math.rint(sec * 10) / 10},"pairs":${s._1},"prefix_files":$files,"epoch":$ep}""")
      // GRAFT_SOAK_AUTOCOMPACT=1 → rely on appendBatch's file-count
      // policy (set GRAFT_PREFIX_COMPACT_FILES to size it) instead of
      // a scheduled mid-train compact
      val auto = sys.env.get("GRAFT_SOAK_AUTOCOMPACT").exists(_ == "1")
      if (!auto && b == compactAt) {
        val tc = System.nanoTime()
        val newEp = PrefixIndex.compact(spark, dir)
        val csec = (System.nanoTime() - tc) / 1e9
        val after = PrefixIndex.dirFileCount(spark, s"$dir/prefix_e$newEp")
        println(f"""PREFIX_SOAK_COMPACT {"after_batch":$b,"secs":${math.rint(csec * 10) / 10},"epoch":$newEp,"prefix_files_before":$files,"prefix_files_after":$after}""")
      }
      System.gc()
      if (b == 0) probeEarly = zeroCollisionProbe("early", 1)
      if (b == batches - 1) probeLate = zeroCollisionProbe("late", 2)
    }

    val oneShot =
      if (verify) {
        val t0 = System.nanoTime()
        val s = sums(Dedup.prefixJoinPairs(docs, bands = 0))
        val sec = (System.nanoTime() - t0) / 1e9
        Some((s, sec))
      } else None
    val okEquality = oneShot.forall(_._1 == acc)
    val half1 = batchSecs.slice(1, batches / 2) // batch 0 is the build
    val half2 = batchSecs.drop(batches / 2 + 1)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) -1.0 else xs.sum / xs.size
    println(
      s"""PREFIX_SOAK {"rep":$rep,"batches":$batches,"pairs":${acc._1},""" +
      s""""sum_ids":${acc._2},"sum_inter":${acc._3},"sum_jac_pm":${acc._4},""" +
      oneShot.map { case (s, sec) =>
        s""""oneshot_pairs":${s._1},"oneshot_secs":${math.rint(sec * 10) / 10},""" }
        .getOrElse("") +
      s""""equality_ok":$okEquality,""" +
      s""""probe_early_secs":${math.rint(probeEarly * 10) / 10},""" +
      s""""probe_late_secs":${math.rint(probeLate * 10) / 10},""" +
      s""""mean_ingest_secs_first_half":${math.rint(mean(half1.toSeq) * 10) / 10},""" +
      s""""mean_ingest_secs_second_half":${math.rint(mean(half2.toSeq) * 10) / 10},""" +
      s""""batch_secs":[${batchSecs.map(x => math.rint(x * 10) / 10).mkString(",")}]}""")
    spark.stop()
    if (!okEquality) sys.exit(1)
  }
}
