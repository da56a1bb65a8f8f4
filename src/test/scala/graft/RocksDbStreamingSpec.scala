package graft

import graft.streaming.{EventStream, FunnelSoak}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.sql.Timestamp

/** T3/T8 under the RocksDB state store provider (SURVEY.md §2 T3/T8
  * scale note): the default HDFS-backed store keeps every key's state on
  * the executor heap, which caps stateful streaming at heap-sized key
  * cardinality; RocksDB spills state to local disk and is the
  * operational answer at 100 TB/day key counts. These specs prove the
  * graft stateful operators (arbitrary `flatMapGroupsWithState` state,
  * watermarked windowed aggregation, checkpoint restart) run unchanged
  * on RocksDB — the provider is a config swap, no operator rewrite —
  * and that RocksDB really backed the state (provider-specific metrics
  * + RocksDB files in the checkpoint).
  */
class RocksDbStreamingSpec extends SparkSpecBase {
  import spark.implicits._

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private def ts(min: Int): Timestamp = new Timestamp(3600L * 1000 * 24 + min * 60000L)

  /** Run `body` with the RocksDB provider set, restoring the prior value
    * (the shared spec session must not leak the provider into other
    * suites — provider is pinned per-query at start, from this conf). */
  private def withRocksDb[A](body: => A): A = {
    val prev = spark.conf.getOption(ProviderKey)
    spark.conf.set(ProviderKey, RocksDb)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(ProviderKey, v)
      case None    => spark.conf.unset(ProviderKey)
    }
  }

  test("T3 funnel (flatMapGroupsWithState) is correct on the RocksDB state store") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[EventStream.Event]
      in.addData(
        EventStream.Event(1L, ts(0), 1L, "view", 0.0),
        EventStream.Event(2L, ts(1), 1L, "click", 0.0))
      val q = EventStream.funnel(in.toDS(), Seq("view", "click", "purchase"),
          timeoutMs = 0L).toDF()
        .writeStream.format("memory").queryName("t3_rocksdb")
        .outputMode("append").start()
      q.processAllAvailable()
      // state (view+click seen) must survive into the next micro-batch
      in.addData(
        EventStream.Event(3L, ts(2), 1L, "purchase", 0.0),
        EventStream.Event(4L, ts(0), 2L, "view", 0.0),
        EventStream.Event(5L, ts(1), 2L, "purchase", 0.0)) // skips click
      q.processAllAvailable()
      // the provider actually in use surfaces in state-operator metrics
      val metrics = q.lastProgress.stateOperators.flatMap(
        _.customMetrics.keySet().toArray(Array.empty[String]))
      assert(metrics.exists(_.startsWith("rocksdb")),
        s"expected rocksdb* state metrics, got ${metrics.toSeq}")
      q.stop()
      val users = spark.table("t3_rocksdb").select("user_id").as[Long].collect()
      assert(users.toSeq === Seq(1L))
    }
  }

  test("T3b funnel on the v2 state API (transformWithState) matches the v1 answer") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val data = Seq(
        EventStream.Event(1L, ts(0), 1L, "view", 0.0),
        EventStream.Event(2L, ts(1), 1L, "click", 0.0),
        EventStream.Event(3L, ts(2), 1L, "purchase", 0.0),   // user 1 completes
        EventStream.Event(4L, ts(0), 2L, "view", 0.0),
        EventStream.Event(5L, ts(1), 2L, "purchase", 0.0),   // skips click
        EventStream.Event(6L, ts(3), 1L, "view", 0.0),
        EventStream.Event(7L, ts(4), 1L, "click", 0.0))
      val in = MemoryStream[EventStream.Event]
      in.addData(data.take(4): _*)
      // ttlMs=0 in tests (processAllAvailable); the TTL path runs below
      val q = EventStream.funnelV2(in.toDS(), Seq("view", "click", "purchase"),
          ttlMs = 0L).toDF()
        .writeStream.format("memory").queryName("t3b_tws")
        .outputMode("append").start()
      q.processAllAvailable()
      in.addData(data.drop(4): _*)     // state must carry across batches
      q.processAllAvailable()
      // second completion arrives in a third batch, against stored state
      in.addData(EventStream.Event(8L, ts(5), 1L, "purchase", 0.0))
      q.processAllAvailable(); q.stop()
      val v2 = spark.table("t3b_tws")
        .select("user_id", "duration_sec").as[(Long, Double)].collect().sorted
      // v1 (flatMapGroupsWithState) on the same events, one batch
      val in1 = MemoryStream[EventStream.Event]
      in1.addData(data :+ EventStream.Event(8L, ts(5), 1L, "purchase", 0.0): _*)
      val q1 = EventStream.funnel(in1.toDS(), Seq("view", "click", "purchase"),
          timeoutMs = 0L).toDF()
        .writeStream.format("memory").queryName("t3b_v1")
        .outputMode("append").start()
      q1.processAllAvailable(); q1.stop()
      val v1 = spark.table("t3b_v1")
        .select("user_id", "duration_sec").as[(Long, Double)].collect().sorted
      assert(v2.nonEmpty && v2.sameElements(v1),
        s"v2=${v2.toSeq} must equal v1=${v1.toSeq}")

      // the production configuration (state TTL on, ProcessingTime mode)
      // must run and answer identically while the TTL hasn't elapsed.
      // NOTE: TimeMode.ProcessingTime schedules continuous micro-batches
      // to advance the TTL clock, so processAllAvailable() never settles
      // (same trap as ProcessingTimeTimeout in v1) — poll the sink.
      val inT = MemoryStream[EventStream.Event]
      inT.addData(data :+ EventStream.Event(8L, ts(5), 1L, "purchase", 0.0): _*)
      val qT = EventStream.funnelV2(inT.toDS(), Seq("view", "click", "purchase"),
          ttlMs = 3600 * 1000L).toDF()
        .writeStream.format("memory").queryName("t3b_ttl")
        .outputMode("append").start()
      val deadline = System.currentTimeMillis() + 60000
      def ttlRows = spark.table("t3b_ttl")
        .select("user_id", "duration_sec").as[(Long, Double)].collect().sorted
      while (ttlRows.length < v1.length && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      qT.stop()
      val withTtl = ttlRows
      assert(withTtl.sameElements(v1), s"ttl=${withTtl.toSeq} must equal v1=${v1.toSeq}")
    }
  }

  test("T8 watermarked agg restarts from a RocksDB checkpoint without loss or duplication") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val base = java.nio.file.Files.createTempDirectory("rocksckpt").toString
      val ckpt = base + "/ckpt"; val outDir = base + "/out"
      val in = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
      val events = in.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      def start() = EventStream.hourly(events).writeStream
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      val q1 = start()
      in.addData((1L, ts(10), 1L, "view", 1.0, "{}"), (2L, ts(20), 2L, "view", 2.0, "{}"))
      q1.processAllAvailable()
      in.addData((3L, ts(600), 1L, "view", 1.0, "{}"))
      in.addData((4L, ts(601), 1L, "view", 1.0, "{}"))
      q1.processAllAvailable()
      q1.stop()
      // RocksDB leaves versioned zip/changelog files under state/, not the
      // HDFS provider's bare .delta files
      val stateFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt, "state"))
        .toArray.map(_.toString)
      assert(stateFiles.exists(f => f.endsWith(".zip") || f.endsWith(".changelog")),
        s"expected RocksDB snapshot files under the checkpoint, got ${stateFiles.take(20).toSeq}")
      // restart against the SAME checkpoint: closed hour-0 window must not
      // re-emit; pre-watermark stragglers must be dropped
      val q2 = start()
      in.addData((5L, ts(30), 1L, "view", 100.0, "{}"))   // behind watermark
      in.addData((6L, ts(1300), 1L, "view", 1.0, "{}"))   // closes hour-10
      q2.processAllAvailable()
      q2.stop()
      val rows = spark.read.parquet(outDir).select("hr", "event_type", "n", "sum_v")
        .as[(Timestamp, String, Long, Double)].collect()
      assert(rows.count(r => r._2 == "view" && r._3 == 2L && r._4 == 3.0) == 1,
        s"hour-0 window must appear exactly once, got ${rows.toSeq}")
      assert(!rows.exists(_._4 >= 100.0), "late event must be dropped after restart")
    }
  }

  test("T3 funnel state survives a query STOP + RESTART from the RocksDB " +
    "checkpoint (driver-loss recovery, r8)") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val base = java.nio.file.Files.createTempDirectory("funnelckpt").toString
      val ckpt = base + "/ckpt"; val outDir = base + "/out"
      val in = MemoryStream[EventStream.Event]
      def start() = EventStream.funnel(in.toDS(),
          Seq("view", "click", "purchase"), timeoutMs = 0L).toDF()
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      // q1: user 1 mid-funnel (view+click), user 2 completes fully
      val q1 = start()
      in.addData(
        EventStream.Event(1L, ts(0), 1L, "view", 0.0),
        EventStream.Event(2L, ts(1), 1L, "click", 0.0),
        EventStream.Event(3L, ts(0), 2L, "view", 0.0),
        EventStream.Event(4L, ts(1), 2L, "click", 0.0),
        EventStream.Event(5L, ts(2), 2L, "purchase", 0.0))
      q1.processAllAvailable()
      q1.stop()
      // restart against the SAME checkpoint: user 1's mid-funnel
      // FunnelState must come back from RocksDB, user 2 must NOT re-emit
      val q2 = start()
      in.addData(EventStream.Event(6L, ts(5), 1L, "purchase", 0.0))
      q2.processAllAvailable()
      q2.stop()
      val rows = spark.read.parquet(outDir)
        .select("user_id", "duration_sec").as[(Long, Double)].collect().sorted
      assert(rows.toSeq === Seq((1L, 300.0), (2L, 120.0)),
        s"user 1 must complete from RESTORED state (view@0 → purchase@5min " +
          s"= 300 s), user 2 exactly once, got ${rows.toSeq}")
    }
  }

  test("T50 streaming CEP carries pattern state across batches on RocksDB") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[EventStream.Event]
      val q = EventStream.patternMatchStream(in.toDS(), timeoutMs = 0L).toDF()
        .writeStream.format("memory").queryName("rocks_cep")
        .outputMode("append").start()
      in.addData(EventStream.Event(1L, ts(0), 7L, "view", 0.0),
                 EventStream.Event(2L, ts(1), 7L, "error", 0.0))
      q.processAllAvailable()
      assert(spark.table("rocks_cep").count() === 0)
      in.addData(EventStream.Event(3L, ts(2), 7L, "purchase", 0.0))
      q.processAllAvailable(); q.stop()
      val m = spark.table("rocks_cep")
        .select("user_id", "match_len").as[(Long, Int)].collect().toSeq
      assert(m === Seq((7L, 3)),
        "the in-progress attempt must survive the batch seam in RocksDB state")
    }
  }

  /** A [[FunnelSoak]] mode at spec size on a fresh session of the shared
    * one, so the soak's RocksDB, memory-bound and partition confs stay
    * on that session. The mode's temp dir must be gone afterwards. */
  private def soak(mode: String, args: Long*): FunnelSoak.Result = {
    def dirs = new java.io.File(System.getProperty("java.io.tmpdir")).list()
      .filter(_.startsWith(s"funnel_$mode")).toSet
    val before = dirs
    val r = FunnelSoak.run(spark.newSession(), mode, args.map(_.toString),
      stateMb = "256", ttlMs = 2000L)
    assert(r.ok, r.lines.mkString("\n"))
    assert((dirs -- before).isEmpty, s"FunnelSoak $mode left ${dirs -- before}")
    r
  }

  /** Completions reconcile exactly: `users` rows over `users` keys. */
  private def assertExact(l: FunnelSoak.Line, users: Long,
      totalKey: String = "completed_total"): Unit =
    assert(l(totalKey) == users && l("distinct_users") == users &&
      l("lost") == 0L && l("duplicated") == 0L, l)

  test("FunnelSoak base: every user completes exactly once with state at " +
    "its peak of one row per user") {
    val l = soak("base", 2000, 4)("FUNNEL_SOAK")
    assert(l("completed") == 2000L && l("expected") == 2000L &&
      l("distinct_users") == 2000L && l("peak_state_rows") == 2000L, l)
  }

  test("FunnelSoak recovery: the kill batch is in flight at the stop, and " +
    "the resume on the changelog loses and duplicates nothing") {
    val l = soak("recovery", 2000, 4)("FUNNEL_RECOVERY")
    assertExact(l, 2000L)
    // 6000 events in 4 batches: run 1 sees 2, the kill batch is the 3rd.
    // A live key takes at least a byte of store; the state here sits in
    // memtables, which pinned block-cache bytes alone (352) never count
    assert(l("in_flight_events_at_kill") == 1500L &&
      l("changelog_files") == true && l("bytes_per_key").asInstanceOf[Double] >= 1.0, l)
  }

  test("FunnelSoak scale: on a landing dir, the resumed query picks the " +
    "kill batch up as unseen files and reconciles exactly") {
    val l = soak("scale", 2000, 4)("FUNNEL_SCALE")
    assertExact(l, 2000L)
    assert(l("in_flight_events_at_kill") == 1500L &&
      l("changelog_files") == true && l("state_budget_mb") == "256" &&
      l("bytes_per_key").asInstanceOf[Double] >= 1.0, l)
  }

  test("FunnelSoak skew: exact per-key multiplicity under skewed arrival, " +
    "abandoners held in state, then evicted by a live TTL") {
    val r = soak("skew", 2000, 4, 20, 100)
    val a = r("FUNNEL_SKEW")
    // 2000 cold users once each, 20 hot users once per batch
    assert(a("completed_total") == 2080L && a("distinct_users") == 2020L &&
      a("hot_exact_multiplicity") == 20L && a("cold_exact_once") == 2000L &&
      a("final_state_rows") == 100L, a)
    val b = r("FUNNEL_TTL")
    assert(b("fast_completions") == 1000L && b("peak_state_rows") == 100L &&
      b("final_state_rows") == 0L, b)
  }

  test("FunnelSoak rescale: state rebuilt offline seeds a query on a new " +
    "partition count, and both phases reconcile exactly") {
    val l = soak("rescale", 2000, 4, 2, 4)("FUNNEL_RESCALE")
    assertExact(l, 2000L, totalKey = "total")
    // the handoff at 3 of 4 batches: 500 purchases landed in phase 1
    assert(l("state_partitions_phase1") == 2 && l("state_partitions_phase2") == 4 &&
      l("completed_phase1") == 500L && l("completed_phase2") == 1500L &&
      l("rebuilt_state_rows") == 1500L, l)
  }
}
