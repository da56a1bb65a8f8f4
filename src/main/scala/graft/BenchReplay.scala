package graft
import org.apache.spark.sql.SparkSession

/** Workload-replay benchmark (r9, r10-seed-3 delivered early): the
  * isolated-median headline answers "how fast is each query alone";
  * a BI fleet instead interleaves DIFFERENT queries on one warm
  * session, where plan-cache churn, JIT retiering, and storage-block
  * turnover shape the tail. This replays the 10 headline queries
  * in a deterministically shuffled interleave × `rounds` and reports
  * per-query p50/p95 plus fleet-level percentiles — the tail-latency
  * readout the isolated numbers can't show.
  *
  * Shuffle order is a fixed LCG permutation per round (no RNG state
  * outside the loop — replays are bit-reproducible), and one untimed
  * warmup pass absorbs first-plan codegen like Bench's harness.
  *
  * r10 (verdict item 8): the engine is shared with [[Bench]], which
  * runs a replay per round and emits `replay_p50_sec`/`replay_p95_sec`
  * into bench.json — tail-latency regressions are now diffable
  * round-over-round from the artifact, not PLANS.md prose.
  *
  * Usage: runMain graft.BenchReplay [rounds]   (env: SPARK_GRAFT_SF_DIR,
  * SPARK_GRAFT_CPUS). Prints one REPLAY_JSON line for PLANS.md.
  */
object BenchReplay {

  final case class Result(fleetP50: Double, fleetP95: Double,
                          fleetMax: Double, executions: Int,
                          wallSec: Double, perQueryJson: String)

  private def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) -1.0
    else Bench.r3(xs.sorted.apply(
      math.min(xs.size - 1, math.ceil(p * xs.size).toInt - 1).max(0)))

  /** The replay engine — assumes the session is already warm (caller
    * runs the untimed codegen pass; Bench's isolated passes already
    * did). Deterministic interleave, per-query + fleet percentiles. */
  private[graft] def run(spark: SparkSession, sfDir: String,
                         names: Seq[String], rounds: Int): Result = {
    // deterministic per-round permutation: LCG-ranked keys
    def order(round: Int): Seq[String] =
      names.sortBy(n => (n.hashCode * 2654435761L + round * 40503L) & 0x7fffffffL)

    val samples = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    val t0 = System.nanoTime()
    for (r <- 1 to rounds; n <- order(r)) {
      val s = Bench.timeOne(spark, sfDir, n)
      if (s >= 0) samples(n) = samples(n) :+ s
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val all = names.flatMap(samples(_))
    val perQ = names.map { n =>
      val xs = samples(n)
      s""""$n":[${pct(xs, 0.5)},${pct(xs, 0.95)}]"""
    }.mkString("{", ",", "}")
    Result(pct(all, 0.5), pct(all, 0.95), pct(all, 1.0), all.size,
      Bench.r3(wall), perQ)
  }

  def main(args: Array[String]): Unit = {
    val rounds = args.headOption.map(_.toInt).getOrElse(5)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus.toInt)
    Bench.warmup(spark, sfDir)
    val names = Bench.headline.toSeq.sorted
    names.foreach(Bench.timeOne(spark, sfDir, _)) // untimed codegen pass
    val r = run(spark, sfDir, names, rounds)
    println(
      s"""REPLAY_JSON {"rounds":$rounds,"sf":"$sfDir","executions":${r.executions},""" +
      s""""fleet_p50":${r.fleetP50},"fleet_p95":${r.fleetP95},""" +
      s""""fleet_max":${r.fleetMax},"wall_sec":${r.wallSec},""" +
      s""""per_query_p50_p95":${r.perQueryJson}}""")
    spark.stop()
  }
}
