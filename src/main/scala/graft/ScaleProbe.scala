package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: scale-sanity probe. Replicates the fact tables N× (with
  * shifted keys so join fan-out stays realistic) and times the heaviest
  * catalog shapes, to check that runtimes grow ~linearly — the local
  * stand-in for "does this plan survive 100×" (SURVEY.md §6).
  * Usage: runMain graft.ScaleProbe [replication]
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val rep = if (args.nonEmpty) args(0).toInt else 8
    val d = "/root/testdata/sf0.1"
    val spark = GraftSession.local(32)

    def replicate(df: DataFrame, keyCols: Seq[String], shift: Long): DataFrame = {
      val copies = (0 until rep).map { i =>
        keyCols.foldLeft(df)((acc, k) => acc.withColumn(k, col(k) + lit(i * shift)))
      }
      copies.reduce(_ union _)
    }

    val li = replicate(Tables.lineitem(spark, d), Seq("l_orderkey"), 10000000L)
      .localCheckpoint(true)
    val or = replicate(Tables.orders(spark, d), Seq("o_orderkey"), 10000000L)
      .localCheckpoint(true)
    println(s"SCALE rep=$rep lineitem=${li.count()} orders=${or.count()}")

    // SCALE_ONLY=a,b restricts to named shapes (64× soak runs the slow
    // structure-sensitive graph shapes alone; unset = all, the r≤4 mode)
    val only = sys.env.get("SCALE_ONLY").map(_.split(",").map(_.trim).toSet)
    def want(labels: String*): Boolean = only.forall(s => labels.exists(s.contains))
    def time(label: String)(f: => Long): Unit =
      if (only.forall(_.contains(label))) {
        val t0 = System.nanoTime()
        val n = f
        println(f"SCALE $label rows=$n ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }

    time("q1_agg_shape") {
      li.groupBy("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity").cast("long")), count(lit(1))).count()
    }
    time("factfact_join_agg") {
      li.join(or, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)), sum(round(col("l_extendedprice") * 100).cast("long")))
        .count()
    }
    time("window_topk") {
      import org.apache.spark.sql.expressions.Window
      // rule pinned OFF so this stays the true window-sort baseline (the
      // parquet columns are nullable so the rewrite wouldn't fire anyway
      // — pinning makes the comparison explicit, not accidental)
      spark.conf.set(graft.plans.RewriteWindowTopK.ConfKey, "false")
      try {
        val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
        or.withColumn("rk", row_number().over(w)).filter(col("rk") <= 3).count()
      } finally spark.conf.unset(graft.plans.RewriteWindowTopK.ConfKey)
    }
    time("window_topk_rewritten") {
      import org.apache.spark.sql.expressions.Window
      // SAME query text, nullability stripped so RewriteWindowTopK fires:
      // the user writes the window form, the optimizer runs the heap
      val nn = or.select(col("o_custkey"),
        coalesce(col("o_totalprice"), lit(0.0)).as("price"),
        coalesce(col("o_orderkey"), lit(-1L)).as("okey"))
      val w = Window.partitionBy("o_custkey").orderBy(col("price").desc, col("okey"))
      nn.withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
        .select("o_custkey", "price", "okey").count()
    }
    time("topk_agg_custom") {
      or.groupBy("o_custkey")
        .agg(call_function("topk_pairs", col("o_totalprice"), col("o_orderkey"), lit(3)))
        .count()
    }
    // r2 shapes: semi-join prune (q38) — the pruned fact-fact join should
    // track the plain join's cost minus the pruned fraction, not add to it
    time("semijoin_pruned_join") {
      val buildingKeys = Tables.customer(spark, d)
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val prunedOrders = or.join(broadcast(buildingKeys),
        col("o_custkey") === col("c_custkey"), "left_semi")
      li.join(prunedOrders, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(count(lit(1))).count()
    }
    // r2 shapes: 6-table nation-pair join (q42) — dims broadcast, the
    // replicated facts carry the only shuffle
    time("nation_pair_6table") {
      val sup = Tables.supplier(spark, d)
      val cust = Tables.customer(spark, d)
      val sn = Tables.nation(spark, d)
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
      val cn = Tables.nation(spark, d)
        .select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))
      li.join(or, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(sn), col("s_nationkey") === col("sn_key"))
        .join(broadcast(cn), col("c_nationkey") === col("cn_key"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy("supp_nation", "cust_nation")
        .agg(count(lit(1))).count()
    }
    // r3 shapes: dominant-supplier (q44) — agg to (part,supp), window
    // total per part, never a second fact scan; the window runs over the
    // aggregate, so cost should track the single agg
    time("dominant_supplier_window") {
      import org.apache.spark.sql.expressions.Window
      val sp = li.groupBy("l_partkey", "l_suppkey")
        .agg(sum(round(col("l_quantity")).cast("long")).as("q"))
      sp.withColumn("tq", sum(col("q")).over(Window.partitionBy(col("l_partkey"))))
        .filter(col("q") * 2 > col("tq"))
        .groupBy("l_suppkey").agg(count(lit(1))).count()
    }
    // r3 shapes: the FULL MinHash-LSH dedup pipeline (candidate
    // generation + exact-Jaccard verify — the same stages dd2 ships,
    // via the shared Dedup.candidatePairs/verifyPairs) on replicated
    // documents. NOTE this is deliberately a HOT-BUCKET stress test,
    // not a linear-scaling probe: the per-replica salt changes only a
    // few trailing shingles, so replicas ARE true near-dups — MinHash
    // buckets them together and candidates grow quadratically across
    // replicas (175× at 8×), with the verify stage paying per pair.
    time("minhash_lsh_dedup_full") {
      import graft.operators.Dedup
      val docs = (0 until rep).map { i =>
        Tables.documents(spark, d).select(
          (col("doc_id") + lit(i * 10000000L)).as("doc_id"),
          concat(col("text"), lit(s" replica$i")).as("text"))
      }.reduce(_ union _)
      val (candidates, sig) = Dedup.candidatePairs(docs, k = 16, bands = 8)
      val n = Dedup.verifyPairs(candidates, docs, threshold = 0.5).count()
      sig.unpersist()
      n
    }
    // r3 shapes: fixed-point pagerank on a replicated functional graph —
    // per-iteration join+agg cost should scale with |E|
    time("pagerank_5iter") {
      val n = rep * 5000L
      val edges = li.select((col("l_orderkey") % n).as("src"),
        ((col("l_orderkey") * 7 + 13) % n).as("dst"))
      graft.operators.Graph.pageRank(edges, nIter = 5).count()
    }
    // r4 shapes: passage-level dedup (dd8) on replicated docs — the
    // WORST case for passage dedup: every passage appears in all `rep`
    // replicas, so passage groups are maximally hot. Unlike pairwise
    // candidate joins, the per-passage aggregate is count-distinct, so
    // cost must stay linear in corpus size even under total duplication.
    time("passage_dedup_hot") {
      val docs = (0 until rep).map { i =>
        Tables.documents(spark, d).select(
          (col("doc_id") + lit(i * 10000000L)).as("doc_id"), col("text"))
      }.reduce(_ union _)
      val ch = docs
        .select(col("doc_id"), split(col("text"), " ").as("l"))
        .filter(size(col("l")) >= 5)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(l) DIV 5 - 1), " +
            "i -> md5(array_join(slice(l, i*5+1, 5), ' ')))")).as("ph"))
        .localCheckpoint(true)
      val pc = ch.groupBy("ph").agg(countDistinct(col("doc_id")).as("nd"))
      ch.join(pc, Seq("ph"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("dup_chunks"))
        .count()
    }
    // r4 shapes: corpus token rarity (tx16) — explode + vocab-keyed agg +
    // term-keyed join back; vocabulary is CONSTANT as the corpus grows,
    // so the ctf frame stays tiny and cost tracks the token explode
    time("token_rarity") {
      val docs = (0 until rep).map { i =>
        Tables.documents(spark, d).select(
          (col("doc_id") + lit(i * 10000000L)).as("doc_id"), col("text"))
      }.reduce(_ union _)
      val tk = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .filter(col("term") =!= "")
        .localCheckpoint(true)
      val t = tk.count()
      val ctf = tk.groupBy("term").agg(count(lit(1)).as("ctf"))
      tk.join(ctf, Seq("term"))
        .withColumn("r6", expr(s"(${t}L * 1000000L) DIV ctf"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), sum(col("r6")).as("sr"))
        .count()
    }
    // r4 continuation: semantic dedup with corpus-scaled k (dd9) — the
    // probe's point is the k-scaling rule: per-cluster membership stays
    // ~500·nAssign as the corpus grows, so pairwise work is linear in
    // corpus PLUS output pairs. Replicas are IDENTICAL vectors (cos = 1
    // with every other replica), so like the MinHash hot probe the
    // emitted pair count grows ~rep² by construction — wall should
    // track corpus + output, never corpus².
    time("semantic_dedup_scaledk") {
      import graft.operators.Similarity
      import graft.functions.Vectors._
      val e = (0 until rep).map { i =>
        Tables.embeddings(spark, d).select(
          (col("vec_id") + lit(i * 10000000L)).as("vec_id"),
          col("embedding").cast("array<double>").as("v"))
      }.reduce(_ union _)
        .withColumn("nrm", normNative(col("v")))
        .localCheckpoint(true)
      val k = math.max(16, (e.count() / 500L).toInt)
      val cents = Similarity.trainCentroids(e, k)
      val assigned = e.withColumn("cid",
        explode(Similarity.nearestCids(col("v"), cents, 3)))
        .localCheckpoint(true)
      val a = assigned.select(col("cid"), col("vec_id").as("ia"),
        col("v").as("va"), col("nrm").as("na"))
      val b = assigned.select(col("cid"), col("vec_id").as("ib"),
        col("v").as("vb"), col("nrm").as("nb"))
      a.join(b, Seq("cid"))
        .filter(col("ia") < col("ib"))
        .withColumn("cos", cosineNative(col("va"), col("vb"), col("na"), col("nb")))
        .filter(col("cos") > 0.4)
        .select("ia", "ib").dropDuplicates("ia", "ib")
        .count()
    }
    // r4 continuation: recency-decay window (q70) — replicas multiply
    // each customer's order history ×rep, but the window keeps 16 rows
    // per customer, so downstream cost is CONSTANT and the window sort
    // is the only thing that grows
    time("decayed_value_window") {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      or.select(col("o_custkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents"),
          col("o_orderdate"), col("o_orderkey"))
        .withColumn("lag", row_number().over(w) - 1)
        .filter(col("lag") < 16)
        .withColumn("wt", expr("shiftleft(CAST(1 AS BIGINT), CAST(15 - lag AS INT))"))
        .groupBy("o_custkey")
        .agg(sum(col("cents") * col("wt")), sum(col("wt")))
        .count()
    }
    // r4 second continuation: Bloom-prefiltered contamination (dd11) —
    // the eval slice (and so the filter binary) is FIXED as the corpus
    // grows; corpus-side work is the scan + scan-local membership test +
    // candidate-only verify join, so wall should track corpus
    // replication while the filter build stays constant.
    time("bloom_contamination") {
      import graft.operators.Dedup
      val base = Tables.documents(spark, d)
      val evalSh = base.filter(col("doc_id") % 10 === 0)
        .filter(size(split(col("text"), " ")) >= 3)
        .select(col("doc_id").as("eval_id"),
          explode(array_distinct(Dedup.shingles(col("text")))).as("s"))
        .localCheckpoint(true)
      val bin = evalSh.agg(call_function("bloom_agg", xxhash64(col("s")),
        lit(131072L), lit(1048576L))).head().getAs[Array[Byte]](0)
      val corpus = (0 until rep).map { i =>
        base.filter(col("doc_id") % 10 =!= 0).select(
          (col("doc_id") + lit(i * 10000000L)).as("doc_id"), col("text"))
      }.reduce(_ union _)
      corpus.filter(size(split(col("text"), " ")) >= 3)
        .select(col("doc_id").as("corpus_id"),
          explode(array_distinct(Dedup.shingles(col("text")))).as("s"))
        .filter(call_function("bloom_contains", lit(bin), xxhash64(col("s"))))
        .join(broadcast(evalSh), Seq("s"))
        .groupBy("eval_id", "corpus_id").agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 2)
        .count()
    }
    // r4 second continuation: Spearman (q73) — the rank exchanges are
    // per-group parallel sorts; moments are fixed-width per group, so
    // growth should track the sort, never the group count.
    time("spearman_ranks") {
      graft.operators.Olap
        .spearman(li, "l_returnflag", "l_extendedprice", "l_quantity")
        .count()
    }
    // r4 third continuation: as-of join, composition vs native exec on
    // replicated events (distinct user spaces per replica, so per-key
    // density is constant and growth isolates the plan shape). The
    // composition shuffles LEFT+RIGHT together and windows the union;
    // the exec shuffles each side and merges — both should be linear,
    // with the exec saving the window-state pass.
    def asofFrames(): (DataFrame, DataFrame) = {
      val ev = (0 until rep).map { i =>
        Tables.events(spark, d).select(
          (col("user_id") + lit(i * 10000000L)).as("user_id"),
          col("ts"), col("event_id"), col("event_type"), col("value"))
      }.reduce(_ union _)
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts").as("view_ts"))
        .agg(max("value").as("view_value"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      (purchases, views)
    }
    time("asof_composition") {
      val (p, v) = asofFrames()
      graft.operators.AsOfJoin.asof(p, v.withColumn("ts", col("view_ts")),
        Seq("user_id"), "ts", Seq("view_ts", "view_value"), lit(0)).count()
    }
    time("asof_native_exec") {
      val (p, v) = asofFrames()
      graft.operators.AsOfJoin.asofNative(p, v, "user_id", "ts", "view_ts").count()
    }
    // r4 third continuation: incremental join vs recompute. History =
    // rep× orders already merged into the maintained join (seeded OUTSIDE
    // the timer); the probe times (a) applying ONE sf-sized batch — work
    // should track the BATCH, not the history — vs (b) re-joining the
    // full history from scratch, which must grow with rep.
    if (want("incjoin_apply_one_batch", "incjoin_full_recompute")) locally {
      val root = java.nio.file.Files.createTempDirectory("incjoin_probe").toString + "/j"
      val cust = Tables.customer(spark, d).select("c_custkey", "c_mktsegment")
      val histOrders = or.select(col("o_orderkey"), col("o_custkey").as("c_custkey"),
        col("o_totalprice"))
      graft.operators.IncrementalJoin.update(spark, root, cust, histOrders,
        batchId = 0L, keyCols = Seq("c_custkey"))
      val newBatch = Tables.orders(spark, d)
        .select((col("o_orderkey") + lit(900000000L)).as("o_orderkey"),
          col("o_custkey").as("c_custkey"), col("o_totalprice"))
      time("incjoin_apply_one_batch") {
        graft.operators.IncrementalJoin.update(spark, root, cust.limit(0), newBatch,
          batchId = 1L, keyCols = Seq("c_custkey"))
        graft.sources.TableLog.latestVersion(spark, s"$root/out").getOrElse(-1L)
      }
      time("incjoin_full_recompute") {
        graft.sources.TableLog.read(spark, s"$root/left")
          .join(graft.sources.TableLog.read(spark, s"$root/right"), Seq("c_custkey"))
          .count()
      }
    }
    // r4: hypothesis tests — the rank/ECDF algebra runs on distinct
    // VALUE CELLS, so rep× more events grows only the one cell
    // aggregate (scan-shaped); the window pass is constant-size. The
    // printed row count IS the window input (cells), proving it.
    if (want("mannwhitney_cells")) locally {
      val ev = replicate(Tables.events(spark, d), Seq("event_id", "user_id"),
        100000000L).localCheckpoint(true)
      time("mannwhitney_cells") {
        val q = ev.filter(col("event_type").isin("purchase", "click", "view"))
          .select(col("event_type"), round(col("value") * 100).cast("long").as("v"))
        val a = q.filter(col("event_type") === "purchase")
          .groupBy("v").agg(count(lit(1)).as("ca"))
        val b = q.filter(col("event_type") =!= "purchase")
          .groupBy(col("event_type").as("grp"), col("v")).agg(count(lit(1)).as("cb"))
        a.crossJoin(broadcast(b.select("grp").distinct()))
          .select(col("grp"), col("v"), col("ca"), lit(0L).as("cb"))
          .unionByName(b.select(col("grp"), col("v"), lit(0L).as("ca"), col("cb")))
          .groupBy("grp", "v").agg(sum("ca").as("ca"), sum("cb").as("cb"))
          .count() // the cell frame: window input size, constant in rep
      }
    }
    // r4: merge-on-read delete — the DV commit writes only the deleted
    // keys (flat in table size); the CoW delete rewrites the table
    // (grows with rep). Same log, same predicate economics.
    if (want("delete_dv_commit", "delete_cow_commit", "read_after_dv")) locally {
      val root = java.nio.file.Files.createTempDirectory("dv_probe").toString
      val t1 = s"$root/dv"; val t2 = s"$root/cow"
      val snap = or.select("o_orderkey", "o_orderpriority", "o_totalprice")
      graft.sources.TableLog.create(spark, snap, t1)
      graft.sources.TableLog.create(spark, snap, t2)
      val doomed = Tables.orders(spark, d).select("o_orderkey").limit(1000)
        .localCheckpoint(true)
      time("delete_dv_commit") {
        graft.sources.TableLog.deleteByKey(spark, doomed, t1, Seq("o_orderkey"))
      }
      time("delete_cow_commit") {
        graft.sources.TableLog.delete(spark, t2,
          col("o_orderkey").isin(doomed.collect().map(_.getLong(0)).toSeq: _*))
      }
      time("read_after_dv") {
        graft.sources.TableLog.read(spark, t1).count()
      }
    }
    // MV rewrite: the base aggregate scans rep× the data; the MV-served
    // plan scans the |dims|-row summary — constant in rep.
    if (want("mv_answered_aggregate", "mv_base_aggregate")) locally {
      val root = java.nio.file.Files.createTempDirectory("mv_probe").toString
      replicate(Tables.documents(spark, d), Seq("doc_id"), 10000000L)
        .write.parquet(s"$root/base")
      graft.operators.MaterializedView.build(spark, s"$root/base", s"$root/mv",
        dims = Seq("lang", "source"), sums = Seq("n_chars"))
      def agg() = spark.read.parquet(s"$root/base")
        .groupBy("lang").agg(sum("n_chars").as("tc"), count(lit(1)).as("n")).count()
      time("mv_answered_aggregate") { agg() }
      graft.plans.MvCatalog.clear()
      time("mv_base_aggregate") { agg() }
    }
    // r4: iterative graph ops at rep× — BLOCK-LOCAL replication (each
    // replica is the ORIGINAL formula graph under a shifted id range),
    // so the structure per block is identical at every rep: scc must
    // extract rep× the components in the SAME number of rounds (colors
    // process in parallel), and a fixed 12-pivot betweenness traverses
    // the same subgraph while every per-round join scans rep× the edges.
    if (want("scc_partition", "betweenness_12pivots")) locally {
      val blockN = Tables.documents(spark, d).count()
      val docs = replicate(Tables.documents(spark, d).select(col("doc_id")),
        Seq("doc_id"), 10000000L).localCheckpoint(true)
      val block = (col("doc_id") - (col("doc_id") % 10000000L))
      val local = col("doc_id") % 10000000L
      def es(m: Int, a: Int) = docs.select(col("doc_id").as("src"),
        (block + (local * m + a) % blockN).as("dst"))
      val e = es(7, 13).unionByName(es(3, 5)).localCheckpoint(true)
      time("scc_partition") {
        graft.operators.Graph.scc(e).count()
      }
      time("betweenness_12pivots") {
        graft.operators.Graph.betweenness(e,
          docs.filter(col("doc_id") < 12).select(col("doc_id").as("node"))).count()
      }
    }
    // r4: streaming-source batch planning must be O(manifest), flat in
    // TABLE size — compare first-catchup wall on a 1-commit vs
    // many-commit table of identical content.
    if (want("stream_catchup_16commits", "stream_follow_1commit")) locally {
      val root = java.nio.file.Files.createTempDirectory("tls_probe").toString
      val snap = or.select("o_orderkey", "o_orderpriority", "o_totalprice")
      val t = s"$root/t"
      graft.sources.TableLog.create(spark,
        snap.filter(col("o_orderkey") % 16 === 0), t)
      (1 until 16).foreach(k => graft.sources.TableLog.append(spark,
        snap.filter(col("o_orderkey") % 16 === k), t))
      time("stream_catchup_16commits") {
        val out = s"$root/out"
        val q = graft.sources.TableLog.readStream(spark, t)
          .writeStream.option("checkpointLocation", s"$root/ckpt")
          .foreachBatch(graft.sources.TableLog.streamSink(out)).start()
        try q.processAllAvailable() finally q.stop()
        graft.sources.TableLog.read(spark, out).count()
      }
      time("stream_follow_1commit") {
        graft.sources.TableLog.append(spark,
          snap.filter(col("o_orderkey") % 16 === 0)
            .withColumn("o_orderkey", col("o_orderkey") + 1000000000L), t)
        val out = s"$root/out"
        val q = graft.sources.TableLog.readStream(spark, t)
          .writeStream.option("checkpointLocation", s"$root/ckpt")
          .foreachBatch(graft.sources.TableLog.streamSink(out)).start()
        try q.processAllAvailable() finally q.stop()
        graft.sources.TableLog.read(spark, out).count()
      }
    }
    // r4: hilbert vs zorder — same write cost class, measured prune
    // fraction on both dims for point lookups.
    if (want("zorder_write", "hilbert_write")) locally {
      val root = java.nio.file.Files.createTempDirectory("hilbert_probe").toString
      val liSlim = li.select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
      time("zorder_write") {
        graft.operators.Layout.zorderWrite(liSlim,
          Seq("l_partkey", "l_suppkey"), s"$root/z", 32); 0L
      }
      time("hilbert_write") {
        graft.operators.Layout.hilbertWrite(liSlim,
          Seq("l_partkey", "l_suppkey"), s"$root/h", 32); 0L
      }
      Seq("z" -> "zorder", "h" -> "hilbert").foreach { case (sub, label) =>
        val pf = Seq(50.0, 500.0, 1500.0).map(v =>
          graft.operators.Layout.pruneFraction(spark, s"$root/$sub", "l_partkey", v))
          .sum / 3
        val sf2 = Seq(50.0, 500.0, 1500.0).map(v =>
          graft.operators.Layout.pruneFraction(spark, s"$root/$sub", "l_suppkey", v))
          .sum / 3
        println(f"SCALE ${label}_prune part=$pf%.3f supp=$sf2%.3f")
      }
    }
    // r4 session 4: dd14 sliding-gram span coverage. Replicas are exact
    // text duplicates of each other, so EVERY interior gram is
    // duplicated corpus-wide — the dup frame saturates to ≈ the whole
    // gram frame. That is deliberately the op's WORST case (maximum
    // join fan-through + maximum island-window input); real corpora sit
    // far below it, so linear-ish growth here bounds the field cost.
    if (want("dup_span_saturated")) locally {
      val docsR = replicate(
        Tables.documents(spark, d).select(col("doc_id"), col("text")),
        Seq("doc_id"), 10000000L).localCheckpoint(true)
      time("dup_span_saturated") {
        graft.operators.Corpus.dupSpanCoverage(docsR).count()
      }
    }
    // r4 session 4: sim10 covariance fit — the pair-product explode is
    // d(d+1)/2 per row map-side-combined to ≤2080 keys; wall should
    // track the scan (rows), never the shuffle (fixed key count).
    if (want("pca_covariance_fit")) locally {
      val eR = replicate(
        Tables.embeddings(spark, d).select(col("vec_id"), col("embedding")),
        Seq("vec_id"), 10000000L).localCheckpoint(true)
      time("pca_covariance_fit") {
        graft.operators.Similarity.covarianceMatrixOf(eR).count()
      }
    }
    // r4 session 5: incremental CC — a SMALL merge batch against a label
    // state `rep`× bigger must cost ~flat wall (the O(batch + touched
    // members) claim): state = rep× disjoint 2-node components built in
    // one bulk update, then ONE batch bridging 50 pairs is timed.
    if (want("ccindex_small_batch_vs_big_state")) locally {
      val root = java.nio.file.Files.createTempDirectory("ccidx_probe").toString + "/idx"
      import spark.implicits._
      val nPairs = 50000 * rep
      val bulk = (0 until nPairs)
        .map(i => (i.toLong * 4, i.toLong * 4 + 1)).toDF("id_a", "id_b")
      graft.operators.CcIndex.update(spark, root, bulk, 0, numBuckets = 64)
      val bridges = (0 until 50)
        .map(i => (i.toLong * 4 + 1, i.toLong * 4 + 4)).toDF("id_a", "id_b")
      time("ccindex_small_batch_vs_big_state") {
        graft.operators.CcIndex.update(spark, root, bridges, 1, numBuckets = 64)
        graft.operators.CcIndex.snapshot(spark, root).count()
      }
    }
    // r4 session 6: basket-rule pair join — replicated orderkeys mean
    // rep× BASKETS with constant per-basket width, so the A-priori pair
    // join must scale with the basket count (linear), never baskets².
    if (want("basket_pair_join")) locally {
      val part = Tables.part(spark, d)
      val it = li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("ok"), col("p_brand").as("item"))
        .distinct().localCheckpoint(true)
      time("basket_pair_join") {
        val fit = it
        fit.as("a").join(fit.as("b"),
            col("a.ok") === col("b.ok") && col("a.item") < col("b.item"))
          .groupBy(col("a.item"), col("b.item")).agg(count(lit(1))).count()
      }
    }
    // source-overlap self-join under rep× SOURCES (suffixed per replica):
    // per-term fan-out grows with the squared number of sources holding
    // the term — the probe makes that quadratic-in-|sources| (linear in
    // vocabulary) cost visible, as documented in the entry.
    if (want("source_overlap_pairs")) locally {
      val docsR = (0 until rep).map { i =>
        Tables.documents(spark, d)
          .select(concat(col("source"), lit(s"_$i")).as("source"), col("text"))
      }.reduce(_ union _)
      val tk = docsR
        .select(col("source"), explode(split(col("text"), " ")).as("term"))
        .filter(col("term") =!= "").distinct().localCheckpoint(true)
      time("source_overlap_pairs") {
        tk.as("a").join(tk.as("b"),
            col("a.term") === col("b.term") && col("a.source") < col("b.source"))
          .groupBy(col("a.source"), col("b.source")).agg(count(lit(1))).count()
      }
    }
    // Kaplan-Meier at rep× orders: the custkey window pass scales with
    // the fact; everything after runs on the (segment, duration)
    // aggregate whose size is CALENDAR-bounded and identical at any rep.
    if (want("kaplan_meier_cells")) locally {
      import org.apache.spark.sql.expressions.Window
      val ordersR = replicate(
        Tables.orders(spark, d).select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate").cast("date").as("od")),
        Seq("o_custkey", "o_orderkey"), 10000000L).localCheckpoint(true)
      time("kaplan_meier_cells") {
        val mend = ordersR.agg(max("od").as("mend"))
        val w = Window.partitionBy("o_custkey").orderBy(col("od"), col("o_orderkey"))
        val obs = ordersR.withColumn("nxt", lead("od", 1).over(w))
          .crossJoin(broadcast(mend))
          .select((col("o_custkey") % 5).as("seg"),
            when(col("nxt").isNull, datediff(col("mend"), col("od")))
              .otherwise(datediff(col("nxt"), col("od"))).cast("long").as("dur"),
            when(col("nxt").isNull, 0L).otherwise(1L).as("ev"))
        obs.groupBy("seg", "dur")
          .agg(sum("ev").as("d"), count(lit(1)).as("call")).count()
      }
    }
    // r4 session 7: geo radius join must stay linear when the DOMAIN
    // grows with the data (copies tiled side by side with a gap wider
    // than the radius, so density — and with it output-per-point — is
    // constant; growing density instead would grow the OUTPUT
    // quadratically, which is the answer's size, not the plan's cost).
    if (want("geo_radius_join_tiled")) locally {
      val pts0 = Tables.customer(spark, d).select(
        col("c_custkey").as("id"),
        ((col("c_custkey") * 2654435761L) % 360000001L).as("px"),
        ((((col("c_custkey") * col("c_custkey")) % 179424673L) * 48271L)
          % 180000001L).as("py"))
      val pts = (0 until rep).map(i => pts0
          .withColumn("id", col("id") + lit(i * 10000000L))
          .withColumn("px", col("px") + lit(i * 364000000L)))
        .reduce(_ unionByName _).localCheckpoint(true)
      time("geo_radius_join_tiled") {
        graft.operators.Geo.radiusJoin(pts, 3000000L).count()
      }
    }
    // r4 session 7: WAU explode (7× deduped day-user cells) and FIFO
    // window algebra must scale with the fact, not the calendar.
    if (want("rolling_wau_7x_explode", "fifo_window_algebra")) locally {
      val ev = replicate(Tables.events(spark, d).select("user_id", "ts"),
        Seq("user_id"), 10000000L).localCheckpoint(true)
      time("rolling_wau_7x_explode") {
        val act = ev.select(date_trunc("day", col("ts")).cast("date").as("dy"),
          col("user_id")).distinct()
        act.withColumn("o", explode(expr("sequence(0, 6)")))
          .select(expr("date_add(dy, o)").as("wend"), col("user_id"))
          .groupBy("wend").agg(countDistinct("user_id")).count()
      }
      val liF = replicate(Tables.lineitem(spark, d)
          .select("l_partkey", "l_quantity", "l_extendedprice", "l_returnflag",
            "l_shipdate", "l_orderkey", "l_linenumber"),
        Seq("l_partkey", "l_orderkey"), 10000000L).localCheckpoint(true)
      time("fifo_window_algebra") {
        import org.apache.spark.sql.expressions.Window
        val lots = liF.filter(col("l_returnflag") =!= "R")
          .select(col("l_partkey").as("pk"),
            col("l_quantity").cast("long").as("q"),
            expr("CAST(round(l_extendedprice*100) AS BIGINT) DIV CAST(l_quantity AS BIGINT)").as("unit_c"),
            col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        val dem = liF.filter(col("l_returnflag") === "R")
          .groupBy(col("l_partkey").as("pk"))
          .agg(sum(col("l_quantity").cast("long")).as("demand"))
        lots.withColumn("cum", sum("q").over(
            Window.partitionBy("pk")
              .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "unit_c")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .join(dem, "pk")
          .withColumn("used", greatest(least(col("q"),
            col("demand") - (col("cum") - col("q"))), lit(0L)))
          .groupBy("pk").agg(sum(col("used") * col("unit_c"))).count()
      }
    }
    // r4 session 8: Theil-Sen's per-user pair join is O(d²) with d
    // calendar-bounded — replicating USERS must scale linearly (pairs
    // per user constant); the CEP/regex string build is one groupBy
    // whose per-key state is the same bounded event string.
    if (want("theilsen_pairs_8x_users", "cep_string_match_8x_users")) locally {
      val ev = replicate(Tables.events(spark, d)
          .select("user_id", "ts", "event_id", "event_type", "value"),
        Seq("user_id", "event_id"), 10000000L).localCheckpoint(true)
      time("theilsen_pairs_8x_users") {
        val daily = ev.groupBy(col("user_id"), date_trunc("day", col("ts")).as("dy"))
          .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
          .select(col("user_id"), col("cents"),
            datediff(col("dy"), lit("2024-01-01").cast("timestamp"))
              .cast("long").as("di"))
        val a = daily.select(col("user_id"), col("cents").as("ca"), col("di").as("da"))
        val b = daily.select(col("user_id"), col("cents").as("cb"), col("di").as("db"))
        a.join(b, Seq("user_id")).filter(col("db") > col("da"))
          .groupBy("user_id").agg(count(lit(1))).count()
      }
      time("cep_string_match_8x_users") {
        val enc = ev.select(col("user_id"),
          struct(col("ts"), col("event_id"),
            when(col("event_type") === "view", "V")
              .when(col("event_type") === "purchase", "P")
              .when(col("event_type") === "click", "C").otherwise("E").as("c"))
            .as("e"))
          .groupBy("user_id")
          .agg(array_join(transform(array_sort(collect_list(col("e"))),
            e => e.getField("c")), "").as("str"))
        enc.select(size(expr("regexp_extract_all(str, 'V[CE]*P', 0)"))).count()
      }
    }
    spark.stop()
  }
}
