package graft

import graft.operators.{Dedup, SizeGate}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Planted-duplicate recall checks for the non-SQL-expressible dedup
  * pipelines (SURVEY.md §5): LSH internals have no DuckDB twin, so the
  * spec asserts known near-dup pairs are found and distant pairs aren't.
  */
class DedupSpec extends SparkSpecBase {
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog and runs far away into the green forest tonight"
  private val nearDup = base.replace("tonight", "today") // 1-word edit
  private val distant =
    "completely different content about databases indexes and distributed query processing engines at scale"

  private lazy val docsDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("dedupspec").toString
    Seq((0L, base), (1L, nearDup), (2L, distant), (3L, base))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("shingles produces n-grams") {
    val sh = Seq(Tuple1("a b c d")).toDF("t")
      .select(Dedup.shingles($"t", 3).as("sh")).as[Seq[String]].head()
    assert(sh === Seq("a b c", "b c d"))
  }

  test("jaccard is 1 for identical sets, 0 for disjoint") {
    val df = Seq((Seq("a", "b"), Seq("a", "b"), Seq("c", "d"))).toDF("x", "y", "z")
    val (j1, j0) = df.select(Dedup.jaccard($"x", $"y"), Dedup.jaccard($"x", $"z"))
      .as[(Double, Double)].head()
    assert(j1 === 1.0 && j0 === 0.0)
  }

  test("minhash LSH finds planted near-dups, not distant pairs") {
    val pairs = Dedup.minhashLsh(spark, docsDir)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)), "near-dup pair (0,1) missed")
    assert(pairs.contains((0L, 3L)), "exact-dup pair (0,3) missed")
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L), "distant doc matched")
  }

  test("incremental minhash LSH equals the full run restricted to new-batch pairs") {
    // full corpus at sf0.001; INTERLEAVED "ingest" split (old = even ids,
    // new = odd) so new-vs-old pairs occur in BOTH id orderings — a split
    // at an id boundary would mask ordering assumptions
    val allDocs = Tables.documents(spark, sf0001).select(col("doc_id"), col("text"))
    val oldDocs = allDocs.filter(col("doc_id") % 2 === 0)
    val newDocs = allDocs.filter(col("doc_id") % 2 === 1)
    // the stored index a production pipeline would have on disk
    val storedSigs = Dedup.signatureFrame(oldDocs, k = 16)
      .localCheckpoint(true)
    val (pairs, freshSigs) =
      Dedup.minhashLshIncremental(newDocs, storedSigs, allDocs)
    val incr = pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // ground truth: the full-corpus run's pairs that touch the new batch
    val full = Dedup.minhashLsh(spark, sf0001)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val expected = full.filter(p => p._1 % 2 == 1 || p._2 % 2 == 1)
    assert(incr === expected,
      s"incremental run diverged from full-run restriction: $incr vs $expected")
    // the returned rows are batch-only; old + fresh covers the corpus
    assert(freshSigs.count() === newDocs.count())
    assert(storedSigs.count() + freshSigs.count() === allDocs.count())
    // replaying the same batch against the appended index is a no-op
    val (replayPairs, replayFresh) = Dedup.minhashLshIncremental(
      newDocs, storedSigs.unionByName(freshSigs), allDocs)
    assert(replayFresh.count() === 0, "replayed docs must not re-enter the index")
    assert(replayPairs.count() === 0, "replayed batch must not re-report pairs")
  }

  test("connected components merges transitive chains, keeps clusters apart") {
    val pairs = Seq((0L, 1L), (1L, 2L), (5L, 6L), (7L, 8L), (8L, 9L), (2L, 3L))
      .toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(comp(0L) === 0L && comp(1L) === 0L && comp(2L) === 0L && comp(3L) === 0L)
    assert(comp(5L) === 5L && comp(6L) === 5L)
    assert(comp(7L) === 7L && comp(8L) === 7L && comp(9L) === 7L)
  }

  test("containment df-cap is exact above true max df and only ever lowers pairs") {
    val docs = Tables.documents(spark, sf0001)
    val exact = Dedup.containmentPairs(docs, thresholdPm = 500)
      .select("id_a", "id_b", "inter").as[(Long, Long, Long)].collect()
      .map(p => (p._1, p._2) -> p._3).toMap
    assert(exact.nonEmpty)
    val trueMaxDf = docs
      .select(col("doc_id"), explode(array_distinct(Dedup.shingles(col("text")))).as("g"))
      .groupBy("g").count().agg(max("count")).head().getLong(0).toInt
    val atCap = Dedup.containmentPairs(docs, 500, maxDf = trueMaxDf)
      .select("id_a", "id_b", "inter").as[(Long, Long, Long)].collect()
      .map(p => (p._1, p._2) -> p._3).toMap
    assert(atCap === exact, "a cap covering every shingle's df must change nothing")
    // a tight cap may DROP pairs (lower-bound containment) but must
    // never add pairs or raise any pair's intersection
    val tight = Dedup.containmentPairs(docs, 500, maxDf = 3)
      .select("id_a", "id_b", "inter").as[(Long, Long, Long)].collect()
      .map(p => (p._1, p._2) -> p._3).toMap
    tight.foreach { case (pair, inter) =>
      assert(exact.contains(pair), s"cap fabricated pair $pair")
      assert(inter <= exact(pair), s"cap raised intersection for $pair")
    }
  }

  test("simhash finds planted near-dups with small hamming distance") {
    // maxHamming beyond 3 is documented partial recall (only pairs
    // sharing a 16-bit chunk); the 1-word edit flips >3 bits, so probe
    // the wider radius explicitly — exact dups (hamming 0) stay in the
    // guaranteed region
    val pairs = Dedup.simhashPairs(spark, docsDir, maxHamming = 8)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Long)].collect()
    val m = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(m.contains((0L, 3L)) && m((0L, 3L)) === 0L, "exact dup should have hamming 0")
    assert(m.contains((0L, 1L)), "near-dup pair (0,1) missed")
    assert(!m.keySet.exists(p => p._1 == 2L || p._2 == 2L), "distant doc matched")
  }

  test("driver-local union-find CC equals the distributed fixpoint " +
    "(the r12 size-adaptive path is a plan knob, not a semantics knob)") {
    // adversarial shapes: a long chain (worst pointer-jump depth), a
    // star rooted at the HIGHEST id, two merged rings, isolated pairs
    val chain = (0L until 40L).map(i => (i, i + 1))
    val star = (100L to 110L).map(i => (120L, i))
    val rings = (200L until 210L).map(i => (i, 200L + (i + 1) % 10)) ++
      Seq((205L, 300L)) ++ (300L until 310L).map(i => (i, 300L + (i + 1) % 10))
    val pairs = (chain ++ star ++ rings ++ Seq((400L, 401L), (500L, 501L)))
      .toDF("id_a", "id_b")
    def run(): (DataFrame, Seq[(Long, Long)]) = {
      val df = Dedup.connectedComponents(pairs)
      (df, df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq)
    }
    val (localDf, local) = run() // default cap: the bounded set takes the local path
    val (distDf, dist) = SizeGate.atScale(run()) // force the distributed rounds
    assert(driverLocal(localDf) && !driverLocal(distDf),
      "each run must take its own branch")
    assert(dist === local, "local union-find diverged from distributed CC")
    // canonical min-member labels on the known shapes
    assert(local.toMap.apply(40L) === 0L)   // chain collapses to 0
    assert(local.toMap.apply(120L) === 100L) // star root labels to min leaf
    assert(local.toMap.apply(309L) === 200L) // merged rings share one min
  }
}
