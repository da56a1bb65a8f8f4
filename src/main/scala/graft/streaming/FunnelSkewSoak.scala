package graft.streaming

import graft.GraftSession
import org.apache.spark.sql.functions._

/** SKEWED-arrival funnel soak + the first LIVE TTL-eviction run (r10,
  * early r11 seed 4 — the flow-shaped complement to FunnelScaleSoak's
  * max-state replay).
  *
  * PHASE A (the 10⁸ replay, no timeout): cold users complete the
  * funnel ONCE with stages arriving in three CONSECUTIVE micro-batches
  * (state residency ~2 batches — the flow regime, vs the max-state
  * replay where all 10⁸ states coexist), a HOT cohort completes once
  * per batch for the whole run (`batches`× the per-key event volume —
  * the bot/power-user shape), and an ABANDONER cohort emits only
  * `view` (its state can never drain without TTL — Phase A accounts it
  * EXACTLY in final_state_rows). Asserts: completions == cold +
  * hot×batches and per-key multiplicity exact (every hot user exactly
  * `batches` completions, every cold user exactly 1), peak state rows
  * ≪ users processed, final state rows == abandoners exactly.
  *
  * PHASE B (TTL eviction, LIVE): a separate short query with
  * ProcessingTimeTimeout. Processing-time timeouts force the
  * micro-batch engine to run batches CONTINUOUSLY (every stateful
  * batch "requires another batch" for timeout evaluation) — measured
  * in this round: an unpaced TTL query grinds empty batches at full
  * speed and starves `processAllAvailable`, so Phase B paces the
  * engine with a 500 ms ProcessingTime trigger, keeps the phase
  * bounded (~1 min), and POLLS state-row progress instead of blocking.
  * Asserts: fast users (stages within TTL) complete; every abandoner
  * state is EVICTED (state rows reach 0 with no flush data — the
  * timeout path itself drains it).
  *
  * Usage: runMain graft.streaming.FunnelSkewSoak [cold] [batches]
  * [hot] [abandoners]   (env: SPARK_GRAFT_CPUS, GRAFT_FUNNEL_STATE_MB,
  * GRAFT_FUNNEL_TTL_MS for Phase B). Prints FUNNEL_SKEW and
  * FUNNEL_TTL JSON lines for PLANS.md.
  */
object FunnelSkewSoak {
  def main(args: Array[String]): Unit = {
    val cold = args.headOption.map(_.toLong).getOrElse(100000000L)
    val batches = args.drop(1).headOption.map(_.toInt).getOrElse(50)
    val hot = args.drop(2).headOption.map(_.toLong).getOrElse(200000L)
    val abandoners = args.drop(3).headOption.map(_.toLong).getOrElse(1000000L)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val stateMb = sys.env.getOrElse("GRAFT_FUNNEL_STATE_MB", "2048")
    val ttlMs = sys.env.get("GRAFT_FUNNEL_TTL_MS").map(_.toLong)
      .getOrElse(15000L)
    val spark = GraftSession.local(cpus.toInt,
      FunnelSoak.rocksDbState(stateMb = Some(stateMb)): _*)
    import spark.implicits._

    val stages = Seq("view", "click", "purchase")
    val chunk = math.max(1L, cold / batches)
    val aChunk = math.max(1L, abandoners / batches)
    // id layout: cold [0, cold), abandoners [cold, cold+abandoners),
    // hot [cold+abandoners, cold+abandoners+hot)
    val aBase = cold
    val hBase = cold + abandoners
    val base = java.nio.file.Files.createTempDirectory("funnel_skew")
    val inDir = s"$base/in"
    val ckpt = s"$base/ckpt"
    val outDir = s"$base/out"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))

    // global monotone event counter → monotone ts (1 ms apart)
    var off = 0L
    def seg(n: Long)(userOf: String, stageExpr: String) = {
      val o = off; off += n
      spark.range(n).select(
        (col("id") + o).as("event_id"),
        expr(s"timestamp_millis(86400000 + id + $o)").as("ts"),
        expr(userOf).as("user_id"),
        expr(stageExpr).as("event_type"),
        lit(0.0).as("value"))
    }

    /** batch b: cold views of chunk b, clicks of chunk b−1, purchases
      * of chunk b−2, abandoner views of chunk b, and one full hot WAVE
      * (every hot user: view, click, purchase at consecutive ts inside
      * this batch — completes once per batch). */
    def writeBatch(b: Int): Unit = {
      var parts = Seq.empty[org.apache.spark.sql.DataFrame]
      def chunkIds(c: Int) = { // last chunk absorbs the division remainder
        val lo = math.min(c * chunk, cold)
        (lo, if (c == batches - 1) cold
             else math.max(lo, math.min((c + 1) * chunk, cold)))
      }
      if (b < batches) {
        val (lo, hi) = chunkIds(b)
        parts :+= seg(hi - lo)(s"id + $lo", "'view'")
        val aLo = aBase + b * aChunk
        val aHi = if (b == batches - 1) aBase + abandoners
                  else math.min(aBase + (b + 1) * aChunk, aBase + abandoners)
        parts :+= seg(math.max(0L, aHi - aLo))(s"id + $aLo", "'view'")
      }
      if (b >= 1 && b - 1 < batches) {
        val (lo, hi) = chunkIds(b - 1)
        parts :+= seg(hi - lo)(s"id + $lo", "'click'")
      }
      if (b >= 2 && b - 2 < batches) {
        val (lo, hi) = chunkIds(b - 2)
        parts :+= seg(hi - lo)(s"id + $lo", "'purchase'")
      }
      if (b < batches) {
        parts :+= seg(3L * hot)(s"$hBase + id DIV 3",
          s"element_at(array('view','click','purchase'), CAST(id % 3 AS INT) + 1)")
      }
      parts.reduce(_ unionByName _).coalesce(8)
        .write.mode("append").parquet(inDir)
    }

    val eventSchema = org.apache.spark.sql.Encoders
      .product[EventStream.Event].schema
    val q = EventStream.funnel(
        spark.readStream.schema(eventSchema).parquet(inDir)
          .as[EventStream.Event],
        stages, timeoutMs = 0L).toDF()
      .select("user_id", "duration_sec")
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()

    var peakStateRows = 0L
    var peakMemBytes = 0L
    var peakSstBytes = 0L
    var lastStateRows = -1L
    def sample(): Unit = {
      val so = Option(q.lastProgress).map(_.stateOperators).getOrElse(Array.empty)
      if (so.nonEmpty) {
        lastStateRows = so.map(_.numRowsTotal).sum
        peakStateRows = math.max(peakStateRows, lastStateRows)
        val cm = so.head.customMetrics
        def metric(k: String): Long =
          Option(cm.get(k)).map(_.longValue()).getOrElse(0L)
        peakMemBytes = math.max(peakMemBytes,
          metric("rocksdbPinnedBlocksMemoryUsage"))
        peakSstBytes = math.max(peakSstBytes, metric("rocksdbSstFileSize"))
      }
    }

    val t0 = System.nanoTime()
    for (b <- 0 until batches + 2) { // +2 tail batches flush clicks/purchases
      writeBatch(b)
      q.processAllAvailable()
      sample()
    }
    q.stop()
    val wall = (System.nanoTime() - t0) / 1e9

    // exact reconciliation incl. per-key multiplicity
    val out = spark.read.parquet(outDir)
    val total = out.count()
    val perUser = out.groupBy("user_id").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val distinct = perUser.count()
    val hotExact = perUser
      .filter(col("user_id") >= hBase && col("c") === batches.toLong).count()
    val coldExact = perUser
      .filter(col("user_id") < cold && col("c") === 1L).count()
    val expectTotal = cold + hot * batches
    val okA = total == expectTotal && distinct == cold + hot &&
      hotExact == hot && coldExact == cold && lastStateRows == abandoners
    println(
      s"""FUNNEL_SKEW {"cold":$cold,"hot":$hot,"waves":$batches,"abandoners":$abandoners,""" +
      s""""events":$off,"state_budget_mb":$stateMb,""" +
      s""""completed_total":$total,"expected_total":$expectTotal,""" +
      s""""distinct_users":$distinct,"hot_exact_multiplicity":$hotExact,""" +
      s""""cold_exact_once":$coldExact,""" +
      s""""peak_state_rows":$peakStateRows,"final_state_rows":$lastStateRows,""" +
      s""""peak_mem_bytes":$peakMemBytes,"peak_sst_bytes":$peakSstBytes,""" +
      s""""wall_sec":${math.rint(wall * 10) / 10},""" +
      s""""events_per_sec":${math.rint(off / wall)},"ok":$okA}""")

    // ---- PHASE B: live TTL eviction (paced trigger, polled) ----------
    val bAband = math.min(abandoners, 100000L)
    val bFast = 1000L
    val inB = s"$base/in_ttl"; val ckptB = s"$base/ckpt_ttl"
    val outB = s"$base/out_ttl"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inB))
    // one batch: abandoner views + fast users' full funnel (within TTL)
    seg(bAband)(s"id", "'view'")
      .unionByName(seg(3L * bFast)(s"${bAband} + id DIV 3",
        s"element_at(array('view','click','purchase'), CAST(id % 3 AS INT) + 1)"))
      .coalesce(4).write.mode("append").parquet(inB)
    val qb = EventStream.funnel(
        spark.readStream.schema(eventSchema).parquet(inB)
          .as[EventStream.Event],
        stages, timeoutMs = ttlMs).toDF()
      .select("user_id", "duration_sec")
      .writeStream.format("parquet").option("path", outB)
      .option("checkpointLocation", ckptB)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("500 milliseconds"))
      .outputMode("append").start()
    // poll: the continuous timeout-evaluation batches drain the state
    // to ZERO with no further input once ttl elapses
    val tb = System.nanoTime()
    var stateB = -1L
    var peakB = 0L
    val deadline = System.nanoTime() + (ttlMs + 120000L) * 1000000L
    while (stateB != 0L && System.nanoTime() < deadline) {
      Thread.sleep(2000)
      val so = Option(qb.lastProgress).map(_.stateOperators)
        .getOrElse(Array.empty)
      if (so.nonEmpty) {
        stateB = so.map(_.numRowsTotal).sum
        peakB = math.max(peakB, stateB)
      }
    }
    qb.stop()
    val wallB = (System.nanoTime() - tb) / 1e9
    val outTtl = spark.read.parquet(outB)
    val fastDone = outTtl.count()
    val okB = stateB == 0L && peakB >= bAband && fastDone == bFast
    println(
      s"""FUNNEL_TTL {"abandoners":$bAband,"fast_users":$bFast,"ttl_ms":$ttlMs,""" +
      s""""peak_state_rows":$peakB,"final_state_rows":$stateB,""" +
      s""""fast_completions":$fastDone,""" +
      s""""drain_wall_sec":${math.rint(wallB * 10) / 10},"ok":$okB}""")
    spark.stop()
    if (!(okA && okB)) sys.exit(1)
  }
}
