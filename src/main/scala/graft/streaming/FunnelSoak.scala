package graft.streaming

import java.nio.file.{Files, Paths}

import graft.GraftSession
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Soaks of the T3 funnel state machine (st1_funnel's streaming form)
  * on the RocksDB state store. The catalog's "rows came back" check
  * says nothing about whether per-key state survives realistic key
  * cardinality, a crash mid-replay, skewed arrival or a parallelism change;
  * each mode drives one of those through a rate-limited replay and
  * reconciles the completions exactly:
  *
  *  - `base [users=1e6] [batches=24]`: FUNNEL_SOAK, state cardinality
  *    peaking at `users` live rows on a MemoryStream replay.
  *  - `recovery [users=1e7] [batches=40]`: FUNNEL_RECOVERY, the base
  *    replay with a mid-replay kill + resume on the changelog.
  *  - `scale [users=1e8] [batches=50]`: FUNNEL_SCALE, kill + resume on
  *    a parquet landing dir with disk-budgeted state.
  *  - `skew [cold=1e8] [batches=50] [hot=2e5] [abandoners=1e6]`:
  *    FUNNEL_SKEW (flow-shaped arrival) then FUNNEL_TTL (live TTL
  *    eviction).
  *  - `rescale [users=1e7] [batches=20] [p1=8] [p2=32]`: FUNNEL_RESCALE,
  *    the state-partition migration procedure end to end.
  *
  * Env: `SPARK_GRAFT_CPUS` (default 8 for base and recovery, else 16),
  * `GRAFT_FUNNEL_STATE_MB` (RocksDB block cache + memtables across all
  * state partitions for scale, skew and rescale, default 2048) and
  * `GRAFT_FUNNEL_TTL_MS` (skew's live-TTL phase, default 15000).
  *
  * Usage: runMain graft.streaming.FunnelSoak <mode> [args…]. Prints one
  * JSON line per tag (the numbers PLANS.md records) and exits 1 unless
  * every line is `"ok":true`.
  */
object FunnelSoak {
  /** A mode's `SPARK_GRAFT_CPUS` default, positional-arg defaults and
    * RocksDB conf: changelog checkpointing, and the memory bound. */
  private final case class Mode(cpus: Int, args: Seq[Long],
      changelog: Boolean = true, bounded: Boolean = true)
  private val modes = scala.collection.immutable.ListMap(
    "base" -> Mode(8, Seq(1000000L, 24), changelog = false, bounded = false),
    "recovery" -> Mode(8, Seq(10000000L, 40), bounded = false),
    "scale" -> Mode(16, Seq(100000000L, 50)),
    "skew" -> Mode(16, Seq(100000000L, 50, 200000L, 1000000L)),
    "rescale" -> Mode(16, Seq(10000000L, 20, 8, 32)))

  /** One printed line: `TAG {"key":value,…}`, values printed raw. */
  final case class Line(tag: String, fields: Seq[(String, Any)]) {
    def apply(key: String): Any = fields.find(_._1 == key)
      .getOrElse(throw new NoSuchElementException(s"$tag has no $key"))._2
    override def toString: String =
      fields.map { case (k, v) => s""""$k":$v""" }.mkString(s"$tag {", ",", "}")
  }
  final case class Result(lines: Seq[Line], ok: Boolean) {
    def apply(tag: String): Line = lines.find(_.tag == tag).get
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    require(modes.contains(mode),
      s"usage: FunnelSoak <${modes.keys.mkString("|")}> [args…]")
    val spark = GraftSession.local(
      sys.env.get("SPARK_GRAFT_CPUS").fold(modes(mode).cpus)(_.toInt))
    val r = run(spark, mode, args.toSeq.tail,
      stateMb = sys.env.getOrElse("GRAFT_FUNNEL_STATE_MB", "2048"),
      ttlMs = sys.env.get("GRAFT_FUNNEL_TTL_MS").fold(15000L)(_.toLong))
    r.lines.foreach(println)
    spark.stop()
    if (!r.ok) sys.exit(1)
  }

  /** Runs `mode` on `spark`, setting the mode's state-store confs on that
    * session; `args` are the mode's positional args (missing ones take
    * the defaults), `stateMb` and `ttlMs` the env values. */
  def run(spark: SparkSession, mode: String, args: Seq[String],
      stateMb: String, ttlMs: Long): Result = {
    val m = modes(mode)
    val p = "spark.sql.streaming.stateStore"
    spark.conf.set(s"$p.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    if (m.changelog) spark.conf.set(s"$p.rocksdb.changelogCheckpointing.enabled", "true")
    if (m.bounded) {
      spark.conf.set(s"$p.rocksdb.boundedMemoryUsage", "true")
      spark.conf.set(s"$p.rocksdb.maxMemoryUsageMB", stateMb)
    }
    val a = m.args.indices.map(i => args.lift(i).fold(m.args(i))(_.toLong))
    // landing dirs, checkpoints and sinks live under one temp dir that
    // goes when the mode returns or throws; a throw can leave the mode's
    // queries running over it, so they stop first
    val dir = Files.createTempDirectory(s"funnel_$mode").toString
    val lines =
      try mode match {
        case "base" => base(spark, dir, a(0), a(1).toInt)
        case "recovery" | "scale" => killResume(spark, dir, mode, a(0), a(1).toInt, stateMb)
        case "skew" => skew(spark, dir, a(0), a(1).toInt, a(2), a(3), stateMb, ttlMs)
        case "rescale" => rescale(spark, dir, a(0), a(1).toInt, a(2).toInt, a(3).toInt)
      } catch { case e: Throwable =>
        spark.streams.active.foreach(q => scala.util.Try(q.stop()))
        throw e
      } finally FileUtils.deleteDirectory(new java.io.File(dir))
    Result(lines, lines.forall(_("ok") == true))
  }

  private val stages = Seq("view", "click", "purchase")
  private val eventSchema = Encoders.product[EventStream.Event].schema

  /** Where a replay lands; the mode fixes it. */
  private trait Source {
    def events: Dataset[EventStream.Event]
    def append(users: Long, off: Long, hi: Long): Unit
  }

  /** An in-memory MemoryStream: one explicit micro-batch per append. */
  private final class MemorySource(spark: SparkSession) extends Source {
    import spark.implicits._
    private val in = {
      implicit val ctx: SQLContext = spark.sqlContext
      MemoryStream[EventStream.Event]
    }
    def events: Dataset[EventStream.Event] = in.toDS()
    def append(users: Long, off: Long, hi: Long): Unit =
      in.addData((off until hi).iterator.map { i =>
        EventStream.Event(i, new java.sql.Timestamp(86400000L + i),
          i % users, stages((i / users).toInt), 0.0)
      }.toSeq)
  }

  /** A parquet landing dir the query discovers through the file source's
    * seen-files log: the production shape (landing-dir ingestion), and
    * the one that holds a replay too big for an in-memory stream. */
  private final class DirSource(spark: SparkSession, dir: String) extends Source {
    import spark.implicits._
    Files.createDirectories(Paths.get(dir))
    def events: Dataset[EventStream.Event] =
      spark.readStream.schema(eventSchema).parquet(dir).as[EventStream.Event]
    def write(df: DataFrame, files: Int = 8): Unit =
      df.coalesce(files).write.mode("append").parquet(dir)
    def append(users: Long, off: Long, hi: Long): Unit =
      write(spark.range(off, hi).select(
        col("id").as("event_id"),
        expr("timestamp_millis(86400000 + id)").as("ts"),
        (col("id") % users).as("user_id"),
        element_at(array(stages.map(lit): _*),
          expr(s"CAST(id DIV $users AS INT) + 1")).as("event_type"),
        lit(0.0).as("value")))
  }

  /** The replay: event i is stage i / users for user i % users at ts
    * 86400000 + i ms, landed in `batches` rate-limited micro-batches.
    * Stage rounds are interleaved, so state cardinality peaks at exactly
    * `users` live FunnelState rows (every user past view, none past
    * purchase), the store's worst case; per-user stage order is globally
    * ascending in i, so arrival order across batches is event-time order
    * (the funnel sorts within a batch) and every user completes once.
    * With batches ≥ 3 no batch holds two events of one user, so a
    * landing dir listed while a batch is still being committed cannot
    * reorder a user's stages. */
  private final class Replay(users: Long, batches: Int) {
    val events: Long = 3L * users
    private val perBatch = math.max(1L, events / batches)
    private var off = 0L
    val state = new Sampler

    /** Lands the next batch into `src`; returns its event count. */
    def land(src: Source): Long = {
      val hi = math.min(off + perBatch, events)
      src.append(users, off, hi)
      val n = hi - off
      off = hi
      n
    }

    /** Lands up to `n` batches (default: the rest), each processed by
      * `q` and sampled before the next lands. */
    def feed(q: StreamingQuery, src: Source, n: Int = Int.MaxValue): Unit = {
      var b = 0
      while (b < n && off < events) {
        land(src); q.processAllAvailable(); state(q); b += 1
      }
    }
  }

  /** Peak state over a run, read from each query's last progress. */
  private final class Sampler {
    var peakRows = 0L
    var lastRows = -1L
    var peakMem = 0L
    var peakSst = 0L
    var compactionMs = 0L
    var rocksDb = false

    def apply(q: StreamingQuery): Unit = {
      val so = Option(q.lastProgress).map(_.stateOperators).getOrElse(Array.empty)
      if (so.nonEmpty) {
        lastRows = so.map(_.numRowsTotal).sum
        peakRows = math.max(peakRows, lastRows)
        val cm = so.head.customMetrics
        rocksDb = rocksDb ||
          cm.keySet().toArray(Array.empty[String]).exists(_.startsWith("rocksdb"))
        def metric(k: String): Long = Option(cm.get(k)).map(_.longValue()).getOrElse(0L)
        // the store's memory: memtables, table readers and block cache,
        // so state not yet flushed to SST is counted too
        peakMem = math.max(peakMem, so.map(_.memoryUsedBytes).sum)
        peakSst = math.max(peakSst, metric("rocksdbSstFileSize"))
        compactionMs = math.max(compactionMs, metric("rocksdbTotalCompactionLatencyMs"))
      }
    }

    /** The footprint: the larger of store memory and SST bytes over the
      * peak live rows. */
    def bytesPerKey: Double =
      if (peakRows > 0) r1(math.max(peakMem, peakSst).toDouble / peakRows) else -1.0
  }

  /** The funnel's completions (`user_id, duration_sec`) appended to the
    * parquet sink `dir/out`, checkpointed at `dir/ckpt`. */
  private def sink(funnel: Dataset[EventStream.FunnelHit], dir: String,
      trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery =
    funnel.toDF().select("user_id", "duration_sec")
      .writeStream.format("parquet").option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(trigger).outputMode("append").start()

  private def funnel(src: Source, timeoutMs: Long = 0L) =
    EventStream.funnel(src.events, stages, timeoutMs)

  /** Exact, duplicate-aware reconcile of the completions under `dirs`: a
    * re-emitted completion makes distinct < count, a lost one
    * distinct < users. */
  private final case class Tally(total: Long, distinct: Long, users: Long) {
    def exact: Boolean = total == users && distinct == users
    def fields(totalKey: String = "completed_total"): Seq[(String, Any)] =
      Seq(totalKey -> total, "distinct_users" -> distinct,
        "lost" -> (users - distinct), "duplicated" -> (total - distinct))
  }
  private def reconcile(spark: SparkSession, users: Long, dirs: String*): Tally = {
    val ids = dirs.map(d => spark.read.parquet(s"$d/out").select("user_id"))
      .reduce(_ unionByName _)
    Tally(ids.count(), ids.distinct().count(), users)
  }

  /** Changelog files under the checkpoint: the resume path is the
    * incremental-changelog restore, not a full snapshot reload. */
  private def hasChangelog(dir: String): Boolean =
    Files.walk(Paths.get(dir, "ckpt", "state")).toArray
      .map(_.toString).exists(_.endsWith(".changelog"))

  /** Partition dirs of the checkpoint's first state operator (-1: none). */
  private def statePartitions(dir: String): Int = {
    val d = Paths.get(dir, "ckpt", "state", "0")
    if (!Files.isDirectory(d)) -1
    else Files.list(d).toArray.map(_.toString.split("/").last).count(_.forall(_.isDigit))
  }

  private def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private def r1(x: Double): Double = math.rint(x * 10) / 10

  /** Production cardinality (r8): `users` distinct users each emit
    * view → click → purchase, and completions must equal `users`
    * exactly with RocksDB metrics present (the provider engaged). */
  private def base(spark: SparkSession, dir: String, users: Long,
      batches: Int): Seq[Line] = {
    val replay = new Replay(users, batches)
    val src = new MemorySource(spark)
    val q = sink(funnel(src), dir)
    val t0 = System.nanoTime()
    replay.feed(q, src)
    val wall = secsSince(t0)
    q.stop()
    val tally = reconcile(spark, users, dir)
    val s = replay.state
    Seq(Line("FUNNEL_SOAK", Seq("users" -> users, "batches" -> batches,
      "events" -> replay.events, "completed" -> tally.total, "expected" -> users,
      "distinct_users" -> tally.distinct,
      "peak_state_rows" -> s.peakRows, "peak_mem_bytes" -> s.peakMem,
      "peak_sst_bytes" -> s.peakSst, "bytes_per_key" -> s.bytesPerKey,
      "rocksdb_engaged" -> s.rocksDb, "wall_sec" -> r1(wall),
      "events_per_sec" -> math.rint(replay.events / wall),
      "ok" -> (tally.exact && s.rocksDb))))
  }

  /** Mid-replay kill + resume on the RocksDB changelog: `recovery` (r9,
    * 10⁷ users on a MemoryStream; event time spans ~8 h, the multi-hour
    * replay) and `scale` (r10, 10⁸ users, where the replay no longer
    * fits an in-memory stream, on a landing dir with the state capped by
    * `GRAFT_FUNNEL_STATE_MB` so the key set lives on SST files).
    *
    * Run 1 replays the first half and STOPS; only after stop() returns
    * does the kill batch land, so no query can have consumed it: its
    * events are in flight, the shape of a crash mid-replay. Landing it before the
    * stop would race q1's continuous trigger, and the soak would certify
    * a resume path it never ran. Run 2 restarts on the same checkpoint,
    * must restore every mid-funnel FunnelState (and, on a landing dir,
    * the seen-files log), drain the kill batch and finish the replay.
    * In flight is what run 2's first processAllAvailable() consumed,
    * summed from its own progress, and must equal the kill batch. */
  private def killResume(spark: SparkSession, dir: String, mode: String,
      users: Long, batches: Int, stateMb: String): Seq[Line] = {
    val replay = new Replay(users, batches)
    val src = if (mode == "recovery") new MemorySource(spark)
              else new DirSource(spark, s"$dir/in")
    val killBatch = batches / 2
    val t0 = System.nanoTime()
    val q1 = sink(funnel(src), dir)
    replay.feed(q1, src, killBatch)
    q1.stop()
    val killEvents = replay.land(src)
    val wall1 = secsSince(t0)
    val changelog = hasChangelog(dir)

    val t1 = System.nanoTime()
    val q2 = sink(funnel(src), dir)
    q2.processAllAvailable()
    val inFlight = q2.recentProgress.map(_.numInputRows).sum
    replay.state(q2)
    replay.feed(q2, src)
    q2.stop()
    val wall2 = secsSince(t1)

    val tally = reconcile(spark, users, dir)
    val s = replay.state
    val scale = mode == "scale"
    Seq(Line(if (scale) "FUNNEL_SCALE" else "FUNNEL_RECOVERY",
      Seq("users" -> users, "batches" -> batches, "events" -> replay.events,
        "kill_batch" -> killBatch, "in_flight_events_at_kill" -> inFlight) ++
      tally.fields() ++
      (if (scale) Seq("state_budget_mb" -> stateMb) else Nil) ++
      Seq("peak_state_rows" -> s.peakRows, "peak_mem_bytes" -> s.peakMem,
        "peak_sst_bytes" -> s.peakSst) ++
      (if (scale) Seq("rocksdb_compaction_ms" -> s.compactionMs) else Nil) ++
      Seq("bytes_per_key" -> s.bytesPerKey, "rocksdb_engaged" -> s.rocksDb,
        "changelog_files" -> changelog,
        "wall_sec_run1" -> r1(wall1), "wall_sec_run2" -> r1(wall2),
        "events_per_sec" -> math.rint(replay.events / (wall1 + wall2)),
        "ok" -> (tally.exact && s.rocksDb && changelog && inFlight == killEvents))))
  }

  /** Skewed arrival, then the first live TTL eviction (r10/r11).
    *
    * Phase A (no timeout): cold users complete ONCE with stages arriving
    * in three consecutive micro-batches (state residency ~2 batches: the
    * flow regime, vs the max-state replay where all states coexist); a
    * HOT cohort completes once per batch for the whole run (the
    * bot/power-user shape); an ABANDONER cohort emits only `view`, so its
    * state never drains without TTL and is accounted exactly in
    * final_state_rows. Completions must be cold + hot × batches with
    * exact per-key multiplicity.
    *
    * Phase B (ProcessingTimeTimeout = `ttlMs`): processing-time timeouts
    * make every stateful batch "require another batch", so an unpaced
    * TTL query grinds empty batches at full speed and starves
    * processAllAvailable; Phase B paces the engine with a 500 ms trigger
    * and POLLS state rows instead of blocking. Fast users (stages within
    * TTL) complete, and every abandoner state is evicted (state rows
    * reach 0 with no further input: the timeout path drains it). */
  private def skew(spark: SparkSession, dir: String, cold: Long, batches: Int,
      hot: Long, abandoners: Long, stateMb: String, ttlMs: Long): Seq[Line] = {
    val chunk = math.max(1L, cold / batches)
    val aChunk = math.max(1L, abandoners / batches)
    // id layout: cold [0, cold), abandoners [cold, cold+abandoners),
    // hot [cold+abandoners, cold+abandoners+hot)
    val aBase = cold
    val hBase = cold + abandoners
    val src = new DirSource(spark, s"$dir/a/in")
    val wave = "element_at(array('view','click','purchase'), CAST(id % 3 AS INT) + 1)"

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
      var parts = Seq.empty[DataFrame]
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
      if (b < batches) parts :+= seg(3L * hot)(s"$hBase + id DIV 3", wave)
      // one file per user: the running query can list a batch's files
      // while the write commits them, and a hot wave split across two
      // files could arrive purchase-first and lose that completion
      src.write(parts.reduce(_ unionByName _).repartition(8, col("user_id")))
    }

    val s = new Sampler
    val q = sink(funnel(src), s"$dir/a")
    val t0 = System.nanoTime()
    for (b <- 0 until batches + 2) { // +2 tail batches flush clicks/purchases
      writeBatch(b)
      q.processAllAvailable()
      s(q)
    }
    q.stop()
    val wall = secsSince(t0)

    val tally = reconcile(spark, cold + hot, s"$dir/a")
    val perUser = spark.read.parquet(s"$dir/a/out").groupBy("user_id")
      .agg(count(lit(1)).as("c")).localCheckpoint(true)
    val hotExact = perUser
      .filter(col("user_id") >= hBase && col("c") === batches.toLong).count()
    val coldExact = perUser.filter(col("user_id") < cold && col("c") === 1L).count()
    val expectTotal = cold + hot * batches
    val skewLine = Line("FUNNEL_SKEW", Seq("cold" -> cold, "hot" -> hot,
      "waves" -> batches, "abandoners" -> abandoners, "events" -> off,
      "state_budget_mb" -> stateMb, "completed_total" -> tally.total,
      "expected_total" -> expectTotal, "distinct_users" -> tally.distinct,
      "hot_exact_multiplicity" -> hotExact, "cold_exact_once" -> coldExact,
      "peak_state_rows" -> s.peakRows, "final_state_rows" -> s.lastRows,
      "peak_mem_bytes" -> s.peakMem, "peak_sst_bytes" -> s.peakSst,
      "wall_sec" -> r1(wall), "events_per_sec" -> math.rint(off / wall),
      "ok" -> (tally.total == expectTotal && tally.distinct == cold + hot &&
        hotExact == hot && coldExact == cold && s.lastRows == abandoners)))

    // ---- Phase B: live TTL eviction (paced trigger, polled) ----------
    val bAband = math.min(abandoners, 100000L)
    val bFast = 1000L
    val srcB = new DirSource(spark, s"$dir/ttl/in")
    // one batch: abandoner views + fast users' full funnel (within TTL)
    srcB.write(seg(bAband)("id", "'view'")
      .unionByName(seg(3L * bFast)(s"$bAband + id DIV 3", wave)), files = 4)
    val qb = sink(funnel(srcB, ttlMs), s"$dir/ttl",
      Trigger.ProcessingTime("500 milliseconds"))
    // poll: the continuous timeout-evaluation batches drain the state
    // to ZERO with no further input once ttl elapses. Poll on the
    // trigger's interval: the abandoners are visible in state for only
    // about ttl minus the first batch's run time, which a slower poll
    // can miss at a small ttl (peak 0, not ok)
    val sb = new Sampler
    val tb = System.nanoTime()
    val deadline = tb + (ttlMs + 120000L) * 1000000L
    while (sb.lastRows != 0L && System.nanoTime() < deadline) {
      Thread.sleep(500)
      sb(qb)
    }
    qb.stop()
    val wallB = secsSince(tb)
    val fastDone = spark.read.parquet(s"$dir/ttl/out").count()
    Seq(skewLine, Line("FUNNEL_TTL", Seq("abandoners" -> bAband,
      "fast_users" -> bFast, "ttl_ms" -> ttlMs, "peak_state_rows" -> sb.peakRows,
      "final_state_rows" -> sb.lastRows, "fast_completions" -> fastDone,
      "drain_wall_sec" -> r1(wallB),
      "ok" -> (sb.lastRows == 0L && sb.peakRows >= bAband && fastDone == bFast))))
  }

  /** State rescale (r11): Spark pins a stateful query's shuffle-partition
    * count at its first checkpoint, so a funnel that started on `p1`
    * state partitions cannot simply restart on `p2` when the key count
    * grows. This runs the migration procedure end to end:
    *
    *  1. Phase 1 runs the funnel at `p1` over a landing dir to the 3/4
    *     point (all views, all clicks and the first quarter of
    *     purchases), then drains and stops: a clean handoff, nothing in
    *     flight, carrying BOTH completed users (must not re-emit) and
    *     mid-funnel users (must complete from the seeded prefix), the
    *     two ways an initial-state migration can fail.
    *  2. Offline rebuild: batch-replay phase 1's landing dir through
    *     [[EventStream.foldFunnel]], the SAME transition function the
    *     live query ran, as one groupByKey at the new parallelism: no
    *     state-store surgery, no checkpoint binary compatibility.
    *     Completed funnels reset to stage 0 and hold no state, so the
    *     rebuild carries exactly the in-progress users.
    *  3. Phase 2 is a FRESH query (new checkpoint, `p2` partitions) over
    *     a fresh landing dir with the rest of the replay, seeded through
    *     flatMapGroupsWithState's `initialState` ([[EventStream.funnelFrom]]).
    *  4. Phase-1 ∪ phase-2 completions reconcile exactly, both phases
    *     contribute, and the checkpoints prove the partition counts
    *     differ. */
  private def rescale(spark: SparkSession, dir: String, users: Long,
      batches: Int, p1: Int, p2: Int): Seq[Line] = {
    import spark.implicits._
    spark.conf.set("spark.sql.shuffle.partitions", p1.toString)
    val replay = new Replay(users, batches)
    val in1 = new DirSource(spark, s"$dir/p1/in")
    val in2 = new DirSource(spark, s"$dir/p2/in")

    val t0 = System.nanoTime()
    val q1 = sink(funnel(in1), s"$dir/p1")
    replay.feed(q1, in1, batches * 3 / 4)
    q1.stop() // drained — clean handoff, nothing in flight
    val wall1 = secsSince(t0)
    val parts1 = statePartitions(s"$dir/p1")

    spark.conf.set("spark.sql.shuffle.partitions", p2.toString)
    val t1 = System.nanoTime()
    val rebuilt = spark.read.parquet(s"$dir/p1/in").as[EventStream.Event]
      .groupByKey(_.user_id)
      .flatMapGroups { (u: Long, it: Iterator[EventStream.Event]) =>
        val (st, _) = EventStream.foldFunnel(stages, u,
          EventStream.FunnelState(0, 0L, 0L), it)
        if (st.stage == 0) Iterator.empty else Iterator((u, st))
      }
      .toDF("user_id", "state")
      .localCheckpoint(true) // materialize: the seed must not re-plan
    val rebuiltRows = rebuilt.count()
    val wallRebuild = secsSince(t1)

    val initial = rebuilt
      .select(col("user_id"), col("state.*"))
      .as[(Long, Int, Long, Long)]
      .map { case (u, stage, s, l) => (u, EventStream.FunnelState(stage, s, l)) }
      .groupByKey(_._1).mapValues(_._2)
    val t2 = System.nanoTime()
    val q2 = sink(EventStream.funnelFrom(in2.events, stages, initial,
      timeoutMs = 0L), s"$dir/p2")
    replay.feed(q2, in2)
    q2.stop()
    val wall2 = secsSince(t2)
    val parts2 = statePartitions(s"$dir/p2")

    val n1 = spark.read.parquet(s"$dir/p1/out").count()
    val n2 = spark.read.parquet(s"$dir/p2/out").count()
    val tally = reconcile(spark, users, s"$dir/p1", s"$dir/p2")
    Seq(Line("FUNNEL_RESCALE", Seq("users" -> users, "batches" -> batches,
      "events" -> replay.events, "p1" -> p1, "p2" -> p2,
      "state_partitions_phase1" -> parts1, "state_partitions_phase2" -> parts2,
      "rebuilt_state_rows" -> rebuiltRows,
      "completed_phase1" -> n1, "completed_phase2" -> n2) ++
      tally.fields("total") ++
      Seq("wall_sec_phase1" -> r1(wall1), "wall_sec_rebuild" -> r1(wallRebuild),
        "wall_sec_phase2" -> r1(wall2),
        "events_per_sec" -> math.rint(replay.events / (wall1 + wallRebuild + wall2)),
        "ok" -> (tally.exact && parts1 == p1 && parts2 == p2 && parts1 != parts2 &&
          rebuiltRows > 0 && n1 > 0 && n2 > 0))))
  }
}
