package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** Recall-vs-cost frontier for the ANN family (VERDICT r4 item 4):
  * sweeps the probe/overfetch knobs around the catalog defaults and
  * prints recall@3 against the catalog's own brute-force truth, plus
  * wall seconds per setting — the curve PLANS.md records to justify
  * the chosen operating point. The synthetic embeddings are
  * STRUCTURELESS (uniform random), the worst case for any clustered
  * index: centroids carve noise, so the true neighbor's list ranks
  * arbitrarily and recall rises only with probe fraction. Real corpora
  * cluster; this curve is the documented lower bound.
  */
object RecallCurve {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)

    val truth = SparkEntry.queries("sim1_bruteforce_topk")(spark, sfDir)
      .filter(col("rk") <= 3).select("q_id", "c_id").localCheckpoint(true)
    val n = truth.count()

    def recall(df: org.apache.spark.sql.DataFrame): (Double, Double) = {
      val t0 = System.nanoTime()
      val hit = df.select("q_id", "c_id")
        .join(truth, Seq("q_id", "c_id"), "left_semi").count()
      (hit.toDouble / n, (System.nanoTime() - t0) / 1e9)
    }

    println(f"RECALL_CURVE sf=$sfDir truth=$n")
    for (p <- Seq(6, 8, 10, 12, 14, 16)) {
      val (r, s) = recall(Similarity.ivfAnn(spark, sfDir, nProbe = p))
      println(f"ivf   nProbe=$p%2d              recall=$r%.3f  sec=$s%.2f")
    }
    for (of <- Seq(24, 48, 96, 192)) {
      val (r, s) = recall(Similarity.pqAnn(spark, sfDir, overfetch = of))
      println(f"pq    overfetch=$of%3d          recall=$r%.3f  sec=$s%.2f")
    }
    for ((p, of) <- Seq((8, 48), (12, 48), (12, 96), (14, 96), (16, 192))) {
      val (r, s) = recall(Similarity.ivfPqAnn(spark, sfDir, nProbe = p, overfetch = of))
      println(f"ivfpq nProbe=$p%2d overfetch=$of%3d recall=$r%.3f  sec=$s%.2f")
    }
    spark.stop()
  }
}
