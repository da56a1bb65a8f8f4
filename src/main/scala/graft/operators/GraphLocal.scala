package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Driver-local exact kernels for the iterative graph operators
  * (r12, guide §1.2 step 1 — fix the distributed algorithm first).
  *
  * Every [[Graph]] fixpoint loop costs a handful of scheduler
  * round-trips PER ROUND regardless of data size (measured 0.3-0.5 s
  * each at sf0.1 = pure overhead on the few-thousand-node catalog
  * graphs: gr14 22.4 s, gr12 14.8, gr26 13.9, gr15 13.7 of the r12
  * baseline sweep). The repo's exact-integer discipline makes a
  * faithful driver-side replay BIT-IDENTICAL by construction — every
  * per-round value is an exact long/decimal (sums of longs are
  * order-independent; integral DIV is deterministic), so the only
  * correctness obligations are (a) replicating each recurrence exactly,
  * including scaling, flooring and tie-breaks, and (b) taking this path
  * only under a measured size cap. Anything over the cap (or with
  * non-long ids) runs the unchanged distributed loops — the 100 TB
  * path is decided by data, not by a constant (the dd5/ev53 r12
  * pattern, extended to the whole family). The cap and the probe are
  * [[SizeGate.GraphLocalRows]] and [[SizeGate.rowsIfBounded]].
  */
private[operators] object GraphLocal {

  /** Collect an ALREADY-MATERIALIZED (checkpointed) frame of long
    * columns under the graph cap. None ⇒ over cap / non-long / forced
    * at scale ⇒ caller keeps the distributed loop. */
  def rowsIfBounded(df: DataFrame): Option[Array[Row]] =
    if (!df.schema.fields.forall(_.dataType == LongType)) None
    else SizeGate.rowsIfBounded(df, SizeGate.GraphLocalRows)

  def pairs(rows: Array[Row]): Array[(Long, Long)] =
    rows.map(r => (r.getLong(0), r.getLong(1)))

  // ---- shared small-graph scaffolding --------------------------------

  /** Dense-index a node universe; ids stay longs at the boundary. */
  final class Idx(universe: Iterator[Long]) {
    val ids = new java.util.ArrayList[Long]()
    private val pos = new java.util.HashMap[Long, Int]()
    universe.foreach { id =>
      if (!pos.containsKey(id)) { pos.put(id, ids.size()); ids.add(id) }
    }
    def n: Int = ids.size()
    def of(id: Long): Int = pos.get(id)
    def has(id: Long): Boolean = pos.containsKey(id)
    def id(i: Int): Long = ids.get(i)
  }

  /** CSR adjacency over dense indices. */
  def csr(n: Int, es: Array[(Int, Int)]): (Array[Int], Array[Int]) = {
    val off = new Array[Int](n + 1)
    es.foreach { case (s, _) => off(s + 1) += 1 }
    var i = 0
    while (i < n) { off(i + 1) += off(i); i += 1 }
    val adj = new Array[Int](es.length)
    val cur = java.util.Arrays.copyOf(off, n)
    es.foreach { case (s, d) => adj(cur(s)) = d; cur(s) += 1 }
    (off, adj)
  }

  // ---- kernels (each mirrors its Graph.scala loop exactly) -----------

  /** [[Graph.bfs]]: min-hop levels from the seed set, ≤ maxHops. */
  def bfs(edges: Array[(Long, Long)], seeds: Array[Long],
          maxHops: Int): Seq[(Long, Long)] = {
    val ix = new Idx(edges.iterator.flatMap(e => Iterator(e._1, e._2)) ++
      seeds.iterator)
    val (off, adj) = csr(ix.n, edges.map(e => (ix.of(e._1), ix.of(e._2))))
    val dist = Array.fill(ix.n)(-1L)
    var frontier = seeds.map(ix.of).distinct.filter(i => dist(i) < 0)
    frontier.foreach(dist(_) = 0L)
    var hop = 0
    while (hop < maxHops && frontier.nonEmpty) {
      hop += 1
      val next = new java.util.ArrayList[Int]()
      frontier.foreach { v =>
        var k = off(v)
        while (k < off(v + 1)) {
          val w = adj(k)
          if (dist(w) < 0) { dist(w) = hop.toLong; next.add(w) }
          k += 1
        }
      }
      frontier = Array.tabulate(next.size())(next.get)
    }
    (0 until ix.n).iterator.filter(dist(_) >= 0)
      .map(i => (ix.id(i), dist(i))).toSeq
  }

  /** [[Graph.pageRank]] / [[Graph.personalizedPageRank]] (seeds = None ⇒
    * plain pageRank): exact long fixed-point, 1e-12 units. */
  def pageRank(edges: Array[(Long, Long)], seedsOpt: Option[Array[Long]],
               nIter: Int, dampingPpm: Long): Seq[(Long, Long)] = {
    val Scale = 1000000000000L
    val ix = new Idx(edges.iterator.flatMap(e => Iterator(e._1, e._2)))
    val n = ix.n
    require(n > 0, "pageRank: empty graph (no non-null edges)")
    val (off, adj) = csr(n, edges.map(e => (ix.of(e._1), ix.of(e._2))))
    val deg = Array.tabulate(n)(v => (off(v + 1) - off(v)).toLong)
    // the distributed form intersects seeds with the graph's node set
    // (off-graph seeds are dropped, spec-pinned)
    val seedIdx = seedsOpt.map(_.iterator.filter(ix.has).map(ix.of)
      .toArray.distinct)
    val isSeed = seedIdx.map { s =>
      val b = new Array[Boolean](n); s.foreach(b(_) = true); b
    }
    val denom = seedIdx.map(_.length.toLong).getOrElse(n.toLong)
    require(denom > 0, "personalizedPageRank: no seed is a graph node")
    var r = isSeed match {
      case None    => Array.fill(n)(Scale / n)
      case Some(b) => Array.tabulate(n)(v => if (b(v)) Scale / denom else 0L)
    }
    (1 to nIter).foreach { _ =>
      var dangling = 0L
      var v = 0
      while (v < n) { if (deg(v) == 0) dangling += r(v); v += 1 }
      val inflow = new Array[Long](n)
      v = 0
      while (v < n) {
        if (deg(v) > 0) {
          val c = r(v) / deg(v) // non-negative ⇒ / == DIV
          var k = off(v)
          while (k < off(v + 1)) { inflow(adj(k)) += c; k += 1 }
        }
        v += 1
      }
      val base = (Scale * (1000000L - dampingPpm) / 1000000L) / denom
      val danglingShare = dangling / denom
      val next = new Array[Long](n)
      v = 0
      while (v < n) {
        next(v) = isSeed match {
          case None =>
            base + (dampingPpm * (inflow(v) + danglingShare)) / 1000000L
          case Some(b) =>
            if (b(v))
              base + (dampingPpm * (inflow(v) + danglingShare)) / 1000000L
            else (dampingPpm * inflow(v)) / 1000000L
        }
        v += 1
      }
      r = next
    }
    (0 until n).map(v => (ix.id(v), r(v)))
  }

  /** [[Graph.hits]]: exact fixed-point with the Scale·raw product
    * through arbitrary precision (the decimal(38,0) route). */
  def hits(edges: Array[(Long, Long)], nIter: Int)
      : Seq[(Long, Long, Long)] = {
    val Scale = 1000000000L
    val ix = new Idx(edges.iterator.flatMap(e => Iterator(e._1, e._2)))
    val n = ix.n
    require(n > 0, "hits: empty graph (no non-null edges)")
    val es = edges.map(e => (ix.of(e._1), ix.of(e._2)))
    def normalized(raw: Array[Long]): Array[Long] = {
      var mx = Long.MinValue
      raw.foreach(x => if (x > mx) mx = x)
      // distributed form: nodes LEFT JOIN raw (raw rows exist only for
      // nodes with ≥1 contribution; max is over those rows — identical
      // to max over the dense array when absent entries are 0 and at
      // least one positive exists, which the nonempty-graph guard and
      // all-positive init guarantee)
      val mxB = BigInt(mx)
      raw.map(x => (BigInt(x) * Scale / mxB).toLong)
    }
    var hub = Array.fill(n)(Scale)
    var auth = Array.fill(n)(Scale)
    (1 to nIter).foreach { _ =>
      val authRaw = new Array[Long](n)
      es.foreach { case (s, d) => authRaw(d) += hub(s) }
      auth = normalized(authRaw)
      val hubRaw = new Array[Long](n)
      es.foreach { case (s, d) => hubRaw(s) += auth(d) }
      hub = normalized(hubRaw)
    }
    (0 until n).map(v => (ix.id(v), auth(v), hub(v)))
  }

  /** [[Graph.shortestPaths]]: `rounds` Bellman–Ford relaxations from
    * `source` over (src, dst, w) with parallel edges pre-minned. */
  def shortestPaths(edges: Array[(Long, Long, Long)], source: Long,
                    rounds: Int): Seq[(Long, Long)] = {
    val dist = scala.collection.mutable.HashMap[Long, Long](source -> 0L)
    (1 to rounds).foreach { _ =>
      val relax = scala.collection.mutable.HashMap.empty[Long, Long]
      edges.foreach { case (s, d, w) =>
        dist.get(s).foreach { ds =>
          val nd = ds + w
          if (relax.get(d).forall(nd < _)) relax(d) = nd
        }
      }
      relax.foreach { case (d, nd) =>
        if (dist.get(d).forall(nd < _)) dist(d) = nd
      }
    }
    dist.toSeq
  }

  /** [[Graph.labelPropagation]]: synchronous min-tie-break LPA over the
    * symmetrized deduped adjacency. */
  def lpa(edges: Array[(Long, Long)], nIter: Int): Seq[(Long, Long)] = {
    // symmetrize + dedup (the adj frame's exact contents)
    val set = new java.util.HashSet[(Long, Long)]()
    edges.foreach { case (a, b) =>
      if (a != b) { set.add((a, b)); set.add((b, a)) }
    }
    val sym = set.toArray(new Array[(Long, Long)](0))
    val ix = new Idx(sym.iterator.map(_._1))
    val n = ix.n
    val (off, adj) = csr(n, sym.map(e => (ix.of(e._1), ix.of(e._2))))
    var lbl = Array.tabulate(n)(v => ix.id(v))
    (0 until nIter).foreach { _ =>
      val next = new Array[Long](n)
      var v = 0
      while (v < n) {
        // votes: every neighbor's label + own label, argmax count with
        // ties to the SMALLEST label (min (−cnt, lbl) struct order)
        val cnt = new java.util.HashMap[Long, Long]()
        cnt.put(lbl(v), 1L)
        var k = off(v)
        while (k < off(v + 1)) {
          val l = lbl(adj(k)); cnt.merge(l, 1L, _ + _); k += 1
        }
        var bestL = Long.MaxValue; var bestC = -1L
        cnt.forEach { (l, c) =>
          if (c > bestC || (c == bestC && l < bestL)) { bestC = c; bestL = l }
        }
        next(v) = bestL
        v += 1
      }
      lbl = next
    }
    (0 until n).map(v => (ix.id(v), lbl(v)))
  }

  /** [[Graph.scc]]: Tarjan partition, component id = min member id —
    * provably the distributed FW-BW coloring's canonical label.
    * `universe` carries endpoints whose only edges were self-loops
    * (they label as singletons). */
  def scc(edges: Array[(Long, Long)], universe: Array[Long])
      : Seq[(Long, Long)] = {
    val ix = new Idx(universe.iterator ++
      edges.iterator.flatMap(e => Iterator(e._1, e._2)))
    val n = ix.n
    val (off, adj) = csr(n, edges.map(e => (ix.of(e._1), ix.of(e._2))))
    val index = Array.fill(n)(-1)
    val low = new Array[Int](n)
    val onStk = new Array[Boolean](n)
    val stk = new java.util.ArrayDeque[Integer]()
    val comp = Array.fill(n)(-1)
    var nComp = 0
    var counter = 0
    // iterative Tarjan: explicit (node, next-child-offset) stack
    val frameV = new Array[Int](n)
    val frameK = new Array[Int](n)
    var root = 0
    while (root < n) {
      if (index(root) < 0) {
        var top = 0
        frameV(0) = root; frameK(0) = off(root)
        index(root) = counter; low(root) = counter; counter += 1
        stk.push(root); onStk(root) = true
        while (top >= 0) {
          val v = frameV(top)
          if (frameK(top) < off(v + 1)) {
            val w = adj(frameK(top)); frameK(top) += 1
            if (index(w) < 0) {
              index(w) = counter; low(w) = counter; counter += 1
              stk.push(w); onStk(w) = true
              top += 1; frameV(top) = w; frameK(top) = off(w)
            } else if (onStk(w) && index(w) < low(v)) low(v) = index(w)
          } else {
            if (low(v) == index(v)) {
              var w = -1
              while (w != v) {
                w = stk.pop(); onStk(w) = false; comp(w) = nComp
              }
              nComp += 1
            }
            top -= 1
            if (top >= 0) {
              val p = frameV(top)
              if (low(v) < low(p)) low(p) = low(v)
            }
          }
        }
      }
      root += 1
    }
    val minId = Array.fill(nComp)(Long.MaxValue)
    var v = 0
    while (v < n) {
      val c = comp(v)
      if (ix.id(v) < minId(c)) minId(c) = ix.id(v)
      v += 1
    }
    (0 until n).map(v => (ix.id(v), minId(comp(v))))
  }

  /** [[Graph.harmonic]] (truncate semantics included): Σ 1e9/depth over
    * newly reached nodes per (source, depth) layer, undirected. */
  def harmonic(edges: Array[(Long, Long)], sources: Array[Long],
               maxDepth: Int, truncate: Boolean): Seq[(Long, Long)] = {
    val set = new java.util.HashSet[(Long, Long)]()
    edges.foreach { case (a, b) =>
      if (a != b) { set.add((a, b)); set.add((b, a)) }
    }
    val sym = set.toArray(new Array[(Long, Long)](0))
    val ix = new Idx(sym.iterator.map(_._1) ++ sources.iterator)
    val n = ix.n
    val (off, adj) = csr(n, sym.map(e => (ix.of(e._1), ix.of(e._2))))
    val harm = new Array[Long](n)
    val touched = new Array[Boolean](n)
    val seen = new Array[Int](n) // per-source visit stamps
    java.util.Arrays.fill(seen, -1)
    var stillExpanding = false
    val srcIdx = sources.map(ix.of).distinct
    srcIdx.zipWithIndex.foreach { case (s, stamp) =>
      var frontier = Array(s)
      seen(s) = stamp
      var depth = 0
      while (frontier.nonEmpty && depth < maxDepth) {
        depth += 1
        val next = new java.util.ArrayList[Int]()
        frontier.foreach { v =>
          var k = off(v)
          while (k < off(v + 1)) {
            val w = adj(k)
            if (seen(w) != stamp) {
              seen(w) = stamp
              harm(w) += 1000000000L / depth
              touched(w) = true
              next.add(w)
            }
            k += 1
          }
        }
        frontier = Array.tabulate(next.size())(next.get)
      }
      if (frontier.nonEmpty) stillExpanding = true
    }
    require(truncate || !stillExpanding,
      s"harmonic: BFS still expanding at depth $maxDepth — raise maxDepth")
    (0 until n).iterator.filter(touched(_))
      .map(v => (ix.id(v), harm(v))).toSeq
  }

  /** [[Graph.louvainRefine]]: synchronous parity-gated modularity-greedy
    * node moves, gains in exact arbitrary precision (the decimal(38,0)
    * route). `initial` must already be restricted to graph nodes. */
  def louvain(edges: Array[(Long, Long)], initial: Map[Long, Long],
              rounds: Int): Seq[(Long, Long)] = {
    val set = new java.util.HashSet[(Long, Long)]()
    edges.foreach { case (a, b) =>
      if (a != b) { set.add((a, b)); set.add((b, a)) }
    }
    val sym = set.toArray(new Array[(Long, Long)](0))
    val ix = new Idx(sym.iterator.map(_._1))
    val n = ix.n
    val (off, adj) = csr(n, sym.map(e => (ix.of(e._1), ix.of(e._2))))
    val ki = Array.tabulate(n)(v => (off(v + 1) - off(v)).toLong)
    val m2 = BigInt(ki.sum)
    // labels: only nodes present in `initial` carry one (the left-semi);
    // the distributed frame simply has no row for others — they never
    // move and never contribute to sigma
    val lbl = new java.util.HashMap[Int, Long]()
    initial.foreach { case (id, c) =>
      if (ix.has(id)) lbl.put(ix.of(id), c) // the left-semi graph restriction
    }
    (1 to rounds).foreach { r =>
      val sigma = new java.util.HashMap[Long, Long]()
      lbl.forEach((v, c) => sigma.merge(c, ki(v), _ + _))
      val next = new java.util.HashMap[Int, Long]()
      lbl.forEach { (v, ci) =>
        // kic over labeled neighbors + the stay option at 0
        val kic = new java.util.HashMap[Long, Long]()
        kic.put(ci, 0L)
        var k = off(v)
        while (k < off(v + 1)) {
          val w = adj(k)
          if (lbl.containsKey(w)) kic.merge(lbl.get(w), 1L, _ + _)
          k += 1
        }
        val kiV = BigInt(ki(v))
        var bestC = 0L
        var bestG: BigInt = null
        var gStay: BigInt = null
        kic.forEach { (c, kc) =>
          val sig = BigInt(sigma.getOrDefault(c, 0L)) -
            (if (c == ci) BigInt(ki(v)) else BigInt(0))
          val g = m2 * kc - kiV * sig
          if (c == ci) gStay = g
          if (bestG == null || g > bestG || (g == bestG && c < bestC)) {
            bestG = g; bestC = c
          }
        }
        val id = ix.id(v)
        val move = (id + r) % 2 == 0 && bestG > gStay
        next.put(v, if (move) bestC else ci)
      }
      lbl.clear(); lbl.putAll(next)
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    lbl.forEach((v, c) => out += ((ix.id(v), c)))
    out.toSeq
  }

  /** [[Graph]]'s Borůvka loop: per round each component's lexicographic-
    * min (w,u,v,cu,cv) cross edge joins the forest; contraction by
    * exact component merge. Stops at maxRounds exactly like the
    * distributed loop (which silently returns the partial forest). */
  def mst(edges: Array[(Long, Long, Long)], maxRounds: Int)
      : Seq[(Long, Long, Long)] = {
    val ix = new Idx(edges.iterator.flatMap(e => Iterator(e._1, e._2)))
    val n = ix.n
    val comp = Array.tabulate(n)(v => ix.id(v)) // comp label = long id
    val forest = new java.util.LinkedHashSet[(Long, Long, Long)]()
    var round = 0
    var done = n == 0
    while (!done && round < maxRounds) {
      // per-component argmin by the struct total order (w,u,v,cu,cv)
      val best = new java.util.HashMap[Long, (Long, Long, Long, Long, Long)]()
      def offer(c: Long, e: (Long, Long, Long, Long, Long)): Unit = {
        val cur = best.get(c)
        if (cur == null || implicitly[Ordering[(Long, Long, Long, Long, Long)]]
              .lt(e, cur)) best.put(c, e)
      }
      var any = false
      edges.foreach { case (u, v, w) =>
        val cu = comp(ix.of(u)); val cv = comp(ix.of(v))
        if (cu != cv) {
          any = true
          offer(cu, (w, u, v, cu, cv))
          offer(cv, (w, u, v, cu, cv))
        }
      }
      if (!any) done = true
      else {
        // roundEdges deduped (both endpoints may pick the same edge)
        val succ = scala.collection.mutable.HashMap.empty[Long, Long]
        best.forEach { (c, e) =>
          forest.add((e._2, e._3, e._1))
          succ(c) = if (c == e._4) e._5 else e._4
        }
        // Borůvka contraction: succ's only cycles are mutual pairs
        // (globally distinct weights) — every chain terminates at one;
        // root = the pair's smaller id (exactly the distributed p0/
        // pointer-composition fixpoint's value)
        def rootOf(c0: Long): Long = {
          var c = c0
          var steps = 0
          while (true) {
            val s = succ.getOrElse(c, return c)
            if (succ.get(s).contains(c)) return math.min(c, s)
            c = s
            steps += 1
            require(steps <= succ.size + 2,
              "mst: contraction walk did not terminate")
          }
          c
        }
        val newComp = scala.collection.mutable.HashMap.empty[Long, Long]
        comp.foreach { c =>
          if (!newComp.contains(c))
            newComp(c) = if (succ.contains(c)) rootOf(c) else c
        }
        var v = 0
        while (v < n) { comp(v) = newComp(comp(v)); v += 1 }
      }
      round += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    forest.forEach(e => out += e)
    out.toSeq
  }

  /** [[Graph.betweenness]]: layered multi-source BFS with exact path
    * counts, then the reverse integral δ recurrence — σ in arbitrary
    * precision (the decimal(38,0) route), δ terms as longs (Spark's
    * `DIV` on decimals returns bigint), the distributed plan's overflow
    * raises mirrored as loud errors. Returns (node, btw_e9). */
  def betweenness(edges: Array[(Long, Long)], sources: Array[Long],
                  maxDepth: Int): Seq[(Long, Long)] = {
    val Max38 = BigInt(10).pow(38)
    val Scale = BigInt(1000000000L)
    val ix = new Idx(edges.iterator.flatMap(e => Iterator(e._1, e._2)) ++
      sources.iterator)
    val n = ix.n
    val (off, adj) = csr(n, edges.map(e => (ix.of(e._1), ix.of(e._2))))
    val btw = scala.collection.mutable.HashMap.empty[Int, Long]
    def add(v: Int, x: Long): Unit =
      btw(v) = btw.getOrElse(v, 0L) + x
    // Joint-BFS fidelity: the distributed loop always appends the final
    // EMPTY frontier, so its "layers.last, δ=0" registration is over an
    // empty frame — output rows exist exactly for nodes reached at
    // depths 1..Dmax (never layer 0; a pivot reaching nothing emits no
    // row, spec-pinned on the all-zero-depth case too).
    sources.map(ix.of).distinct.foreach { s =>
      // forward: layers(d) = (v -> sigma) reached first at depth d
      val layers = scala.collection.mutable.ArrayBuffer(
        scala.collection.mutable.LinkedHashMap(s -> BigInt(1)))
      val depthOf = new java.util.HashMap[Int, Int]()
      depthOf.put(s, 0)
      var depth = 0
      var frontier = layers.head
      while (frontier.nonEmpty && depth < maxDepth) {
        depth += 1
        val next = scala.collection.mutable.LinkedHashMap.empty[Int, BigInt]
        frontier.foreach { case (v, sig) =>
          var k = off(v)
          while (k < off(v + 1)) {
            val w = adj(k)
            if (!depthOf.containsKey(w) || depthOf.get(w) == depth) {
              depthOf.put(w, depth)
              next.updateWith(w) {
                case Some(x) => Some(x + sig)
                case None    => Some(sig)
              }
            }
            k += 1
          }
        }
        next.values.foreach(x => require(x < Max38,
          "betweenness: path-count sum overflowed decimal(38,0) — " +
            "graph too path-dense for the exact form"))
        if (next.nonEmpty) layers += next
        frontier = next
      }
      require(frontier.isEmpty,
        s"betweenness: BFS still expanding at depth $maxDepth — raise maxDepth")
      // backward: δ over the shortest-path DAG; each term is the exact
      // integral floor σ_v·(1e9+δ_w) DIV σ_w (a LONG, like Spark's DIV)
      var deltaNext: scala.collection.Map[Int, Long] =
        layers.last.map { case (v, _) => v -> 0L }
      if (layers.size > 1) layers.last.keys.foreach(v => add(v, 0L))
      ((layers.size - 2) to 0 by -1).foreach { d =>
        val sigmaNext = layers(d + 1)
        val delta = scala.collection.mutable.HashMap.empty[Int, Long]
        layers(d).foreach { case (v, sigV) =>
          var acc = 0L
          var hit = false
          var k = off(v)
          while (k < off(v + 1)) {
            val w = adj(k)
            if (sigmaNext.contains(w)) {
              val prod = sigV * (Scale + BigInt(deltaNext(w)))
              val term = prod / sigmaNext(w)
              require(prod < Max38 && term.isValidLong,
                "betweenness: sigma*(1e9+delta) overflowed decimal(38,0) — " +
                  "graph too path-dense for the exact form")
              acc += term.toLong
              hit = true
            }
            k += 1
          }
          if (hit) delta(v) = acc
        }
        deltaNext = layers(d).map { case (v, _) =>
          v -> delta.getOrElse(v, 0L)
        }
        if (d >= 1) deltaNext.foreach { case (v, x) => add(v, x) }
      }
    }
    // distributed form: one groupBy over the union of per-layer
    // contribution frames — a node never reached by ANY pivot has no row
    btw.iterator.map { case (v, x) => (ix.id(v), x) }.toSeq
  }

  // ---- DataFrame bridges ---------------------------------------------

  def toDf2(s: SparkSession, names: (String, String),
            rows: Seq[(Long, Long)]): DataFrame = {
    import s.implicits._
    rows.toDF(names._1, names._2)
  }

  def toDf3(s: SparkSession, names: (String, String, String),
            rows: Seq[(Long, Long, Long)]): DataFrame = {
    import s.implicits._
    rows.toDF(names._1, names._2, names._3)
  }
}
