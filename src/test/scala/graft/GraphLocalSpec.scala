package graft

import graft.operators.{Graph, SizeGate}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** r12 — the driver-local graph kernels (GraphLocal) must equal the
  * distributed loops BIT FOR BIT on adversarial shapes: the local path
  * is a pure plan substitution under a measured cap, so any divergence
  * is a correctness bug, not a tuning choice. Each case runs the SAME
  * operator twice — under SizeGate.atScale (distributed) vs default
  * (local) — checks that each run took its branch, and compares the
  * full sorted output. Shapes stress the known hazard classes:
  * multi-SCC chains + self-loops (scc), dangling mass + disconnected
  * pieces (pageRank/HITS), tie-breaks (LPA/Louvain), unreachable
  * pivots + deep layers (betweenness/harmonic), mutual-pair contraction
  * (MST). The Markov entries (ev53/ev58/ev91) run the same harness on
  * the sf0.001 catalog data: their driver recurrence vs their
  * distributed rounds.
  */
class GraphLocalSpec extends SparkSpecBase {
  import spark.implicits._

  private def both(f: => DataFrame): (Seq[String], Seq[String]) = {
    def run(): (DataFrame, Seq[String]) = {
      val df = f
      (df, df.collect().map(_.toString).toSeq.sorted)
    }
    val (distDf, dist) = SizeGate.atScale(run())
    val (localDf, local) = run()
    assert(!driverLocal(distDf), "the at-scale run took a driver-local branch")
    assert(driverLocal(localDf), "the default run took the distributed branch")
    (dist, local)
  }

  private def assertSame(f: => DataFrame, expectEmpty: Boolean = false): Unit = {
    val (dist, local) = both(f)
    assert(local === dist)
    if (!expectEmpty) assert(dist.nonEmpty)
  }

  // two SCC rings bridged, a tail, a self-loop, a disconnected pair
  private val digraph = Seq(
    (0L, 1L), (1L, 2L), (2L, 0L), // ring A
    (2L, 5L),                     // bridge
    (5L, 6L), (6L, 7L), (7L, 5L), // ring B
    (7L, 8L),                     // tail
    (9L, 9L),                     // self-loop only
    (10L, 11L)                    // disconnected pair
  ).toDF("src", "dst")

  test("scc: local Tarjan == distributed FW-BW on rings+tail+self-loop") {
    assertSame(Graph.scc(digraph))
  }

  test("pageRank + personalized: local == distributed with dangling mass") {
    assertSame(Graph.pageRank(digraph, nIter = 6))
    val seeds = Seq(0L, 9L, 42L).toDF("node") // 9 has edges? (9,9) yes; 42 off-graph
    assertSame(Graph.personalizedPageRank(digraph, seeds, nIter = 6))
  }

  test("hits: local == distributed (max-normalized integer fixpoint)") {
    assertSame(Graph.hits(digraph, nIter = 6))
  }

  test("bfs + shortestPaths: local == distributed") {
    assertSame(Graph.bfs(digraph, Seq(0L, 10L).toDF("node"), maxHops = 5))
    val weighted = Seq((0L, 1L, 5L), (1L, 2L, 1L), (0L, 2L, 9L),
      (2L, 3L, 1L), (0L, 2L, 7L)).toDF("src", "dst", "w")
    assertSame(Graph.shortestPaths(weighted, source = 0L, rounds = 6))
  }

  test("lpa + louvain: local == distributed tie-breaks and parity gates") {
    val und = Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 4L), (4L, 5L),
      (5L, 3L), (2L, 3L), (6L, 7L)).toDF("src", "dst")
    assertSame(Graph.labelPropagation(und, nIter = 4))
    assertSame {
      val seed = Graph.labelPropagation(und, nIter = 4)
        .select(col("node"), col("lbl").as("c"))
      Graph.louvainRefine(und, seed, rounds = 3)
    }
  }

  test("betweenness + harmonic: local == distributed (integral floors)") {
    val pivots = Seq(0L, 1L, 9L).toDF("node")
    assertSame(Graph.betweenness(digraph, pivots))
    assertSame(Graph.harmonic(digraph, pivots, maxDepth = 8, truncate = true))
    // joint depth 0: every pivot reaches nothing ⇒ EMPTY output on both
    // paths (the distributed loop always appends the final empty
    // frontier, so layer 0 is never a contribution frame)
    assertSame(Graph.betweenness(digraph, Seq(9L).toDF("node")),
      expectEmpty = true)
  }

  test("mst: local == distributed Borůvka (mutual-pair contraction)") {
    // distinct weights; two components
    val weighted = Seq(
      (0L, 1L, 4L), (1L, 2L, 2L), (0L, 2L, 7L), (2L, 3L, 5L),
      (10L, 11L, 1L), (11L, 12L, 3L), (10L, 12L, 6L)
    ).toDF("u", "v", "w")
    assertSame(Graph.mstBoruvka(weighted))
  }

  for (name <- Seq("ev53_markov_steady", "ev58_absorption", "ev91_markov_removal"))
    test(s"$name: local recurrence == distributed rounds at sf0.001") {
      assertSame(SparkEntry.queries(name)(spark, sf0001))
    }
}
