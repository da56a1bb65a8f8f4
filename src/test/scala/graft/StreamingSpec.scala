package graft

import graft.streaming.EventStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Structured-Streaming operators via MemoryStream + memory sink
  * (SURVEY.md §2 T1–T4). */
class StreamingSpec extends SparkSpecBase {
  import spark.implicits._

  private def ts(min: Int): Timestamp = new Timestamp(3600L * 1000 * 24 + min * 60000L)

  private def runStream(name: String, df: org.apache.spark.sql.DataFrame,
                        mode: String = "append"): org.apache.spark.sql.DataFrame = {
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    q.processAllAvailable(); q.stop()
    spark.table(name)
  }

  test("T1 hourly tumbling windows aggregate a memory stream") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val events = in.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    in.addData(
      (1L, ts(10), 1L, "view", 1.0, "{}"),
      (2L, ts(20), 2L, "view", 2.0, "{}"),
      (3L, ts(70), 1L, "click", 3.0, "{}"))
    val out = runStream("t1_hourly", EventStream.hourly(events), "complete")
    val rows = out.select("event_type", "n", "sum_v").as[(String, Long, Double)]
      .collect().toSet
    assert(rows === Set(("view", 2L, 3.0), ("click", 1L, 3.0)))
  }

  test("T1 watermark drops events later than the allowed lateness") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val events = in.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventStream.hourly(events).writeStream
      .format("memory").queryName("t1_late").outputMode("append").start()
    // batch 1 advances event time far ahead → watermark = max - 2h
    in.addData((1L, ts(10), 1L, "view", 1.0, "{}"),
      (2L, ts(600), 1L, "view", 1.0, "{}"))     // t = 10h
    q.processAllAvailable()
    // batch 2: an event 10 hours late — behind the watermark, dropped
    in.addData((3L, ts(15), 1L, "view", 100.0, "{}"))
    // batch 3 pushes the watermark further so closed windows emit
    in.addData((4L, ts(900), 1L, "view", 1.0, "{}"))
    q.processAllAvailable(); q.stop()
    val sums = spark.table("t1_late").groupBy().sum("sum_v").as[Double].collect()
    // the late 100.0 must not appear in any emitted window
    assert(!sums.exists(_ >= 100.0))
  }

  test("T11 sliding windows assign each event to exactly two windows and match the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val events = in.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val data = Seq(
      (1L, ts(2), 1L, "view", 1.5, "{}"),    // windows [-5,5) and [0,10)
      (2L, ts(7), 2L, "view", 2.25, "{}"),   // windows [0,10) and [5,15)
      (3L, ts(12), 1L, "click", 4.0, "{}"))  // windows [5,15) and [10,20)
    in.addData(data: _*)
    val out = runStream("t11_sliding", EventStream.sliding(events), "complete")
      .select("win_start", "event_type", "n", "sum_v")
    // each of the 3 events lands in exactly 2 windows
    assert(out.agg(sum("n")).head().getLong(0) === 6L)
    // the oracle-checked batch twin computes the identical rows
    val batch = operators.Olap.slidingBatch(
      data.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
      .select("win_start", "event_type", "n", "sum_v")
    assert(out.collect().toSet === batch.collect().toSet)
  }

  test("T12 chained window aggregations roll 5-min tiers into hours in one query") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val events = in.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventStream.chainedWindows(events).writeStream
      .format("memory").queryName("t12_chained").outputMode("append").start()
    // hour 1 of day 2 (ts() counts minutes from day-2 midnight): three
    // views across two distinct 5-min tiers + one click
    in.addData(
      (1L, ts(2), 1L, "view", 0.0, "{}"),
      (2L, ts(3), 2L, "view", 0.0, "{}"),
      (3L, ts(12), 1L, "view", 0.0, "{}"),
      (4L, ts(17), 1L, "click", 0.0, "{}"))
    q.processAllAvailable()
    // sentinel two hours later closes both tiers for hour 0
    in.addData((5L, ts(130), 9L, "flush", 0.0, "{}"))
    q.processAllAvailable(); q.stop()
    val out = spark.table("t12_chained")
      .filter($"event_type" isin ("view", "click"))
      .select("event_type", "n").as[(String, Long)].collect().toMap
    assert(out === Map("view" -> 3L, "click" -> 1L))
  }

  test("T2 session windows split on 30-min inactivity gaps") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val events = in.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    // user 1: events at 0,10min (one session), then 60min (new session)
    in.addData(
      (1L, ts(0), 1L, "view", 1.0, "{}"),
      (2L, ts(10), 1L, "view", 1.0, "{}"),
      (3L, ts(60), 1L, "view", 1.0, "{}"))
    val out = runStream("t2_sessions", EventStream.sessions(events), "complete")
    val sessions = out.filter($"user_id" === 1L).select("n").as[Long].collect().sorted
    assert(sessions === Array(1L, 2L))
  }

  test("T3 funnel state machine detects ordered stage completion (batch twin)") {
    val events = Seq(
      (1L, ts(0), 1L, "view", 0.0, "{}"),
      (2L, ts(1), 1L, "click", 0.0, "{}"),
      (3L, ts(2), 1L, "purchase", 0.0, "{}"),   // user 1 completes
      (4L, ts(0), 2L, "view", 0.0, "{}"),
      (5L, ts(1), 2L, "purchase", 0.0, "{}"),   // user 2 skips click → no hit
      (6L, ts(3), 1L, "view", 0.0, "{}"),
      (7L, ts(4), 1L, "click", 0.0, "{}"),
      (8L, ts(5), 1L, "purchase", 0.0, "{}")    // user 1 completes again
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val hits = EventStream.funnelBatch(spark, events, Seq("view", "click", "purchase"))
    val byUser = hits.groupBy("user_id").count().as[(Long, Long)].collect().toMap
    assert(byUser === Map(1L -> 2L))
  }

  test("T3 funnelBatch streams a pathological hot user in O(1) state (secondary sort)") {
    // one bot user with 30k interleaved events (10k completions) among
    // normal users: the secondary-sort formulation must neither buffer the
    // hot user nor change semantics
    val hot = (0 until 10000).flatMap { i =>
      Seq((i * 3 + 100L, ts(i), 99L, "view", 0.0, "{}"),
        (i * 3 + 101L, ts(i), 99L, "click", 0.0, "{}"),
        (i * 3 + 102L, ts(i), 99L, "purchase", 0.0, "{}"))
    }
    val normal = Seq(
      (1L, ts(0), 1L, "view", 0.0, "{}"),
      (2L, ts(1), 1L, "click", 0.0, "{}"),
      (3L, ts(2), 1L, "purchase", 0.0, "{}"),
      (4L, ts(0), 2L, "view", 0.0, "{}"),
      (5L, ts(1), 2L, "purchase", 0.0, "{}"))   // skips click → no hit
    val events = (hot ++ normal)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val hits = EventStream.funnelBatch(spark, events, Seq("view", "click", "purchase"))
    val byUser = hits.groupBy("user_id").count().as[(Long, Long)].collect().toMap
    assert(byUser === Map(99L -> 10000L, 1L -> 1L))
  }

  test("T3 funnel runs as a real stream with flatMapGroupsWithState") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[EventStream.Event]
    in.addData(
      EventStream.Event(1L, ts(0), 1L, "view", 0.0),
      EventStream.Event(2L, ts(1), 1L, "click", 0.0),
      EventStream.Event(3L, ts(2), 1L, "purchase", 0.0))
    val out = runStream("t3_funnel",
      EventStream.funnel(in.toDS(), Seq("view", "click", "purchase"),
        timeoutMs = 0L).toDF())
    assert(out.count() === 1)
    assert(out.select("user_id").as[Long].head() === 1L)
  }

  test("T3 funnelFrom: a drained query's state rebuilt offline via " +
    "foldFunnel and seeded through initialState completes cross-phase " +
    "funnels exactly (r11 rescale path; soak: FunnelSoak rescale)") {
    implicit val sqlCtx = spark.sqlContext
    val stages = Seq("view", "click", "purchase")
    // phase 1: user 1 completed; user 2 mid-funnel; user 3 just started
    val phase1 = Seq(
      EventStream.Event(1L, ts(0), 1L, "view", 0.0),
      EventStream.Event(2L, ts(1), 1L, "click", 0.0),
      EventStream.Event(3L, ts(2), 1L, "purchase", 0.0),
      EventStream.Event(4L, ts(0), 2L, "view", 0.0),
      EventStream.Event(5L, ts(1), 2L, "click", 0.0),
      EventStream.Event(6L, ts(0), 3L, "view", 0.0))
    val in1 = MemoryStream[EventStream.Event]
    in1.addData(phase1: _*)
    val out1 = runStream("t3_rescale_p1",
      EventStream.funnel(in1.toDS(), stages, timeoutMs = 0L).toDF())
    assert(out1.count() === 1)
    // offline rebuild from the phase-1 landing data — the SAME
    // transition function the live query ran
    val rebuilt = phase1.toDS().groupByKey(_.user_id)
      .flatMapGroups { (u: Long, it: Iterator[EventStream.Event]) =>
        val (st, _) = EventStream.foldFunnel(stages, u,
          EventStream.FunnelState(0, 0L, 0L), it)
        if (st.stage == 0) Iterator.empty else Iterator((u, st))
      }
    val states = rebuilt.collect().toMap
    assert(states.keySet === Set(2L, 3L), "completed users hold no state")
    assert(states(2L).stage === 2 && states(3L).stage === 1)
    // phase 2: a FRESH query seeded with the rebuilt state
    val initial = rebuilt.groupByKey(_._1).mapValues(_._2)
    val in2 = MemoryStream[EventStream.Event]
    in2.addData(
      EventStream.Event(7L, ts(10), 2L, "purchase", 0.0), // seeded → completes
      EventStream.Event(8L, ts(10), 3L, "click", 0.0),    // advances only
      EventStream.Event(9L, ts(10), 1L, "view", 0.0))     // restarts, no dup
    val out2 = runStream("t3_rescale_p2",
      EventStream.funnelFrom(in2.toDS(), stages, initial,
        timeoutMs = 0L).toDF())
    val hits2 = out2.select("user_id").as[Long].collect().toSeq
    assert(hits2 === Seq(2L),
      s"exactly the seeded mid-funnel user completes, got $hits2")
    // the duration spans the RESCALE: view at phase-1 ts(0), purchase at
    // phase-2 ts(10) — the seeded startUs survived the migration
    assert(out2.filter(col("user_id") === 2L)
      .select("duration_sec").as[Double].head() === 600.0)
  }

  test("T5 stream-stream join matches purchases to views within the window") {
    implicit val sqlCtx = spark.sqlContext
    val vIn = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val pIn = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    val views = vIn.toDF().toDF(cols: _*)
    val purchases = pIn.toDF().toDF(cols: _*)
    vIn.addData((1L, ts(0), 1L, "view", 0.0, "{}"), (2L, ts(0), 2L, "view", 0.0, "{}"))
    pIn.addData(
      (3L, ts(30), 1L, "purchase", 9.0, "{}"),   // within 60 min of view 1
      (4L, ts(90), 2L, "purchase", 5.0, "{}"))   // outside window for view 2
    val out = runStream("t5_ssjoin",
      EventStream.viewToPurchase(views, purchases, withinMinutes = 60))
    val rows = out.select("user_id", "view_id", "purchase_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(rows === Set((1L, 1L, 3L)))
  }

  test("T5b left-outer stream-stream join emits unconverted views after watermark expiry") {
    implicit val sqlCtx = spark.sqlContext
    val vIn = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val pIn = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventStream.viewToPurchase(vIn.toDF().toDF(cols: _*),
        pIn.toDF().toDF(cols: _*), withinMinutes = 60, joinType = "left_outer")
      .writeStream.format("memory").queryName("t5b_outer").outputMode("append").start()
    vIn.addData((1L, ts(0), 1L, "view", 0.0, "{}"), (2L, ts(0), 2L, "view", 0.0, "{}"))
    pIn.addData((3L, ts(30), 1L, "purchase", 9.0, "{}"))   // user 1 converts
    q.processAllAvailable()
    // advance BOTH watermarks far past view 2's join window so the outer
    // side can conclude no purchase will ever match it
    vIn.addData((4L, ts(600), 9L, "view", 0.0, "{}"))
    pIn.addData((5L, ts(600), 9L, "purchase", 1.0, "{}"))
    q.processAllAvailable()
    vIn.addData((6L, ts(1200), 9L, "view", 0.0, "{}"))
    pIn.addData((7L, ts(1200), 9L, "purchase", 1.0, "{}"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("t5b_outer")
      .select("user_id", "view_id", "purchase_id")
      .as[(Long, Long, Option[Long])].collect().toSet
    assert(rows.contains((1L, 1L, Some(3L))), s"converted view must match: $rows")
    assert(rows.contains((2L, 2L, None)),
      s"unconverted view must emit with null purchase after expiry: $rows")
  }

  test("T7 foreachBatch upsert sink is idempotent under replayed batches") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("upsertspec").toString + "/state"
    val in = MemoryStream[(Long, Long, Double)]
    val df = in.toDF().toDF("user_id", "version", "score")
    val q = df.writeStream
      .foreachBatch((b: org.apache.spark.sql.DataFrame, id: Long) =>
        EventStream.upsertSink(b, id, dir, "user_id", "version"))
      .start()
    in.addData((1L, 1L, 10.0), (2L, 1L, 20.0))
    q.processAllAvailable()
    in.addData((1L, 2L, 11.0), (1L, 2L, 11.0), (3L, 1L, 30.0)) // dup in batch
    q.processAllAvailable()
    q.stop()
    val state = spark.read.parquet(dir)
      .select("user_id", "version", "score").as[(Long, Long, Double)]
      .collect().sortBy(_._1)
    assert(state.toSeq === Seq((1L, 2L, 11.0), (2L, 1L, 20.0), (3L, 1L, 30.0)))
  }

  test("T7b bucketed upsert sink rewrites only touched buckets and stays replay-safe") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, pmod, xxhash64, lit}
    val dir = java.nio.file.Files.createTempDirectory("upsertbk").toString + "/state"
    val nb = 8
    def sink(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
      EventStream.upsertSinkBucketed(b, id, dir, "user_id", "version", numBuckets = nb)
    def bucketOf(k: Long): Int = spark.range(1)
      .select(pmod(xxhash64(lit(k)), lit(nb)).cast("int")).as[Int].head()
    // pick keys landing in two different buckets
    val keys = (1L to 50L).map(k => k -> bucketOf(k)).toMap
    val (kA, kB) = {
      val ks = keys.toSeq.sortBy(_._1)
      val a = ks.head
      (a._1, ks.find(_._2 != a._2).get._1)
    }
    val in = MemoryStream[(Long, Long, Double)]
    val q = in.toDF().toDF("user_id", "version", "score").writeStream
      .foreachBatch(sink _).start()
    in.addData((kA, 1L, 10.0), (kB, 1L, 20.0))
    q.processAllAvailable()
    // snapshot of kB's bucket dir after batch 0
    def bucketFiles(b: Int): Map[String, Long] = {
      val d = new java.io.File(s"$dir/__kb=$b")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val bBefore = bucketFiles(keys(kB))
    // batch 1 touches only kA's bucket
    in.addData((kA, 2L, 11.0), (kA, 2L, 11.0)) // dup rows in batch
    q.processAllAvailable()
    q.stop()
    assert(bucketFiles(keys(kB)) === bBefore,
      "untouched bucket's files must keep their modification identity")
    val state = spark.read.parquet(dir)
      .select("user_id", "version", "score").as[(Long, Long, Double)]
      .collect().sortBy(_._1)
    assert(state.toSeq === Seq((kA, 2L, 11.0), (kB, 1L, 20.0)))
    // replay batch 1 manually (at-least-once delivery) → state unchanged
    val replay = Seq((kA, 2L, 11.0), (kA, 2L, 11.0)).toDF("user_id", "version", "score")
    sink(replay, 1L)
    val state2 = spark.read.parquet(dir)
      .select("user_id", "version", "score").as[(Long, Long, Double)]
      .collect().sortBy(_._1)
    assert(state2.toSeq === Seq((kA, 2L, 11.0), (kB, 1L, 20.0)))
  }

  test("T7 upsert sink recovers state from the backup after a simulated mid-swap crash") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("upsertcrash").toString + "/state"
    val b0 = Seq((1L, 1L, 10.0), (2L, 1L, 20.0)).toDF("user_id", "version", "score")
    EventStream.upsertSink(b0, 0L, dir, "user_id", "version")
    // simulate a crash between "move dst aside" and "publish tmp": the
    // backup is the only surviving copy of state
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + "__bak")))
    val b1 = Seq((3L, 1L, 30.0)).toDF("user_id", "version", "score")
    EventStream.upsertSink(b1, 1L, dir, "user_id", "version")
    val state = spark.read.parquet(dir)
      .select("user_id", "version", "score").as[(Long, Long, Double)]
      .collect().sortBy(_._1)
    assert(state.toSeq === Seq((1L, 1L, 10.0), (2L, 1L, 20.0), (3L, 1L, 30.0)),
      "pre-crash history must be restored from the backup, not wiped")
  }

  test("T7b bucketed sink recovers a bucket from its backup after a simulated crash") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{lit, pmod, xxhash64}
    val dir = java.nio.file.Files.createTempDirectory("upsertbkcrash").toString + "/state"
    val nb = 8
    def bucketOf(k: Long): Int = spark.range(1)
      .select(pmod(xxhash64(lit(k)), lit(nb)).cast("int")).as[Int].head()
    val b0 = Seq((1L, 1L, 10.0), (2L, 1L, 20.0)).toDF("user_id", "version", "score")
    EventStream.upsertSinkBucketed(b0, 0L, dir, "user_id", "version", numBuckets = nb)
    // simulate a crash that left bucket(1) moved aside but never republished
    val kb = bucketOf(1L)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$dir/__kb=$kb"),
      new org.apache.hadoop.fs.Path(s"$dir/__kb=${kb}__bak")))
    val b1 = Seq((3L, 1L, 30.0)).toDF("user_id", "version", "score")
    EventStream.upsertSinkBucketed(b1, 1L, dir, "user_id", "version", numBuckets = nb)
    val state = spark.read.parquet(dir)
      .select("user_id", "version", "score").as[(Long, Long, Double)]
      .collect().sortBy(_._1)
    assert(state.toSeq === Seq((1L, 1L, 10.0), (2L, 1L, 20.0), (3L, 1L, 30.0)),
      "the moved-aside bucket must be restored before the batch merges")
  }

  test("T7b bucketed sink refuses a numBuckets change that would corrupt state") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("upsertbknb").toString + "/state"
    val b0 = Seq((1L, 1L, 10.0)).toDF("user_id", "version", "score")
    EventStream.upsertSinkBucketed(b0, 0L, dir, "user_id", "version", numBuckets = 8)
    val b1 = Seq((2L, 1L, 20.0)).toDF("user_id", "version", "score")
    val e = intercept[IllegalArgumentException] {
      EventStream.upsertSinkBucketed(b1, 1L, dir, "user_id", "version", numBuckets = 16)
    }
    assert(e.getMessage.contains("numBuckets=8"))
    // same count still works
    EventStream.upsertSinkBucketed(b1, 1L, dir, "user_id", "version", numBuckets = 8)
    assert(spark.read.parquet(dir).count() === 2)
  }

  test("T7b bucketed sink tolerates a pre-existing empty state directory (no wedge)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("upsertbkempty").toString + "/state"
    // the state a crash between mkdirs and the first publish leaves behind:
    // an existing directory with no bucket subdirs
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
    val b0 = Seq((1L, 1L, 10.0)).toDF("user_id", "version", "score")
    EventStream.upsertSinkBucketed(b0, 0L, dir, "user_id", "version", numBuckets = 8)
    val state = spark.read.parquet(dir)
      .select("user_id", "version", "score").as[(Long, Long, Double)].collect()
    assert(state.toSeq === Seq((1L, 1L, 10.0)))
  }

  test("T8 watermarked aggregation restarts from checkpoint without loss or duplication") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("ckptspec").toString
    val ckpt = base + "/ckpt"; val outDir = base + "/out"
    val in = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val events = in.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    def start() = EventStream.hourly(events).writeStream
      .format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val q1 = start()
    in.addData((1L, ts(10), 1L, "view", 1.0, "{}"), (2L, ts(20), 2L, "view", 2.0, "{}"))
    q1.processAllAvailable()
    // push watermark past hour 0 so its window closes and is emitted
    in.addData((3L, ts(600), 1L, "view", 1.0, "{}"))
    in.addData((4L, ts(601), 1L, "view", 1.0, "{}"))
    q1.processAllAvailable()
    q1.stop()
    // restart from the same checkpoint: the closed hour-0 window must NOT
    // re-emit, and pre-watermark stragglers must be dropped
    val q2 = start()
    in.addData((5L, ts(30), 1L, "view", 100.0, "{}"))   // late, behind watermark
    in.addData((6L, ts(1300), 1L, "view", 1.0, "{}"))   // closes the hour-10 window
    q2.processAllAvailable()
    q2.stop()
    // exactly one emission of the hour-0 window across both runs, with the
    // pre-restart counts only (late 100.0 dropped)
    val rows = spark.read.parquet(outDir).select("hr", "event_type", "n", "sum_v")
      .as[(Timestamp, String, Long, Double)].collect()
    assert(rows.count(r => r._2 == "view" && r._3 == 2L && r._4 == 3.0) == 1,
      s"hour-0 window must appear exactly once, got ${rows.toSeq}")
    assert(!rows.exists(_._4 >= 100.0), "late event must be dropped after restart")
  }

  test("T9 dropDuplicatesWithinWatermark dedups replayed events across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val events = in.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventStream.dedupStream(events).writeStream
      .format("memory").queryName("t9_dedup").outputMode("append").start()
    in.addData((1L, ts(0), 1L, "view", 1.0, "{}"), (2L, ts(5), 2L, "view", 1.0, "{}"))
    q.processAllAvailable()
    // redelivery of event 1 in a later micro-batch, still within watermark
    in.addData((1L, ts(0), 1L, "view", 1.0, "{}"), (3L, ts(10), 3L, "view", 1.0, "{}"))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("t9_dedup").select("event_id").as[Long].collect().sorted
    assert(ids === Array(1L, 2L, 3L), s"each event_id exactly once, got ${ids.toSeq}")
  }

  test("T10 AvailableNow trigger drains the backlog then terminates on its own") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val events = in.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    in.addData((1L, ts(10), 1L, "view", 1.0, "{}"), (2L, ts(20), 2L, "view", 2.0, "{}"))
    // catch-up mode: process everything currently available, then stop —
    // the operational pattern for backfilling a stream job without
    // leaving it running
    val q = EventStream.hourly(events).writeStream
      .format("memory").queryName("t10_avail").outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(60000), "AvailableNow query must self-terminate")
    val n = spark.table("t10_avail").select("n").as[Long].collect().sum
    assert(n === 2L)
  }

  test("T17 streamed ingestion into the durable minhash index equals the one-shot run") {
    // The 100 TB ingest topology end to end: documents ARRIVE as a stream,
    // each micro-batch runs the incremental dedup (replay-guarded, O(batch)
    // against the stored signature index) and APPENDS its signatures +
    // verified pairs. After three interleaved-id batches, index and pairs
    // must equal the one-shot full-corpus batch run — streaming is just a
    // delivery mechanism, never a semantics change.
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("t17").toString
    val sigDir = s"$dir/sigs"; val pairDir = s"$dir/pairs"
    val allDocs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text")).localCheckpoint(true)
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val s2 = batch.sparkSession
        val existing =
          if (new java.io.File(sigDir).exists) s2.read.parquet(sigDir)
          else graft.operators.Dedup.signatureFrame(batch.limit(0), 16)
        val (pairs, fresh) =
          graft.operators.Dedup.minhashLshIncremental(batch, existing, allDocs)
        fresh.write.mode("append").parquet(sigDir)
        pairs.write.mode("append").parquet(pairDir)
      }.start()
    val docs = allDocs.as[(Long, String)].collect()
    (0 to 2).foreach { r =>
      in.addData(docs.filter(_._1 % 3 == r).toIndexedSeq)
      q.processAllAvailable()
    }
    q.stop()
    val streamedPairs = spark.read.parquet(pairDir)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    val oneShot = graft.operators.Dedup.minhashLsh(spark, sf0001)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(streamedPairs === oneShot,
      "streamed per-batch pairs diverge from the one-shot full-corpus run")
    val streamedIndex = spark.read.parquet(sigDir)
    assert(streamedIndex.count() === allDocs.count(),
      "index must hold exactly one signature row per ingested doc")
    val fullIndex = graft.operators.Dedup.signatureFrame(allDocs, 16)
    assert(streamedIndex.exceptAll(fullIndex).isEmpty &&
      fullIndex.exceptAll(streamedIndex).isEmpty,
      "streamed index content diverges from the one-shot signature frame")
  }

  test("T19 CDC apply: deletes tombstone, stale late updates cannot resurrect, replay is a no-op") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("t19").toString + "/state"
    def apply(rows: Seq[(Long, Long, String, String)], bid: Long): Unit =
      EventStream.cdcApply(rows.toDF("k", "ver", "op", "payload"), bid, dir, "k", "ver")
    def current: Map[Long, (Long, String)] =
      EventStream.cdcCurrent(spark, dir).select("k", "ver", "payload")
        .as[(Long, Long, String)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    apply(Seq((1L, 1L, "I", "a1"), (2L, 1L, "I", "b1")), 0L)
    assert(current === Map(1L -> (1L, "a1"), 2L -> (1L, "b1")))
    // update k1, delete k2
    apply(Seq((1L, 2L, "U", "a2"), (2L, 2L, "D", "")), 1L)
    assert(current === Map(1L -> (2L, "a2")), "k2 must be tombstoned")
    // STALE late update for k2 (version below the tombstone's): must lose
    apply(Seq((2L, 1L, "U", "b1-late")), 2L)
    assert(current === Map(1L -> (2L, "a2")),
      "a stale update must not resurrect a deleted key")
    assert(EventStream.cdcState(spark, dir).filter($"k" === 2L && $"op" === "D").count() === 1L,
      "the tombstone itself must be retained in stored state")
    // replay of batch 1 (at-least-once delivery): state unchanged
    apply(Seq((1L, 2L, "U", "a2"), (2L, 2L, "D", "")), 1L)
    assert(current === Map(1L -> (2L, "a2")))
    // genuine re-insert at a higher version wins over the tombstone
    apply(Seq((2L, 3L, "I", "b3")), 3L)
    assert(current === Map(1L -> (2L, "a2"), 2L -> (3L, "b3")))
  }

  test("T18 per-batch HLL sketches union to the whole-stream estimate (mergeable segments)") {
    // The segment-sketch pattern at 100 TB: each ingest window persists a
    // FIXED-size distinct-count sketch (not its raw keys); any later
    // rollup unions sketches instead of rescanning history. Batches
    // overlap deliberately — the union must dedup across segments.
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("t18").toString
    val in = MemoryStream[Long]
    val q = in.toDF().toDF("user_id").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        b.agg(hll_sketch_agg(col("user_id")).as("sk"))
          .withColumn("batch", lit(id))
          .write.mode("append").parquet(dir)
      }.start()
    in.addData(1L to 500L); q.processAllAvailable()
    in.addData(250L to 750L); q.processAllAvailable()
    in.addData(600L to 1200L); q.processAllAvailable()
    q.stop()
    val segments = spark.read.parquet(dir)
    assert(segments.count() === 3L, "one sketch row per micro-batch")
    val merged = segments
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).cast("long"))
      .as[Long].head()
    val oneShot = (1L to 1200L).toDF("user_id")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).cast("long"))
      .as[Long].head()
    // NOT bit-equal by design: a one-shot DataSketches HLL answers with
    // the HIP estimator, a union only has merged registers — the
    // mergeability contract is bounded error, not identical estimates
    // (measured here: 1184 vs 1188 on 1200 true distincts).
    assert(math.abs(merged - oneShot) * 100 <= oneShot,
      s"union estimate ($merged) strayed >1% from the one-shot sketch ($oneShot)")
    assert(math.abs(merged - 1200L) <= 36,
      s"estimate $merged strayed >3% from the true 1200 distinct keys")
  }

  test("T24 stream enrichment against the SCD2 dimension is EVENT-time correct") {
    // the versioned-dimension enrichment problem: a fact must join the
    // dim version valid AT ITS EVENT TIME, not whatever is current when
    // the fact happens to arrive — late facts are the trap. foreachBatch
    // + the batch PIT lookup gives exactly that, and the streamed result
    // must equal the one-shot batch lookup over all facts.
    import graft.operators.Scd
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq(
      (1L, "bronze", ts(0), Option(ts(100))),
      (1L, "gold", ts(100), Option.empty[Timestamp]),
      (2L, "silver", ts(0), Option.empty[Timestamp]))
      .toDF("user_id", "tier", "valid_from", "valid_to")
    val outDir = java.nio.file.Files.createTempDirectory("t24").toString + "/enriched"
    val in = MemoryStream[(Long, Long, Timestamp)]
    val q = in.toDF().toDF("fact_id", "fuser", "fts").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        Scd.pitLookup(dim, b.withColumnRenamed("fuser", "user_id"), "user_id", "fts")
          .select("fact_id", "tier")
          .write.mode("append").parquet(outDir)
      }.start()
    in.addData((10L, 1L, ts(50))); q.processAllAvailable()
    // batch 2 arrives after user 1 moved to gold — fact 12 is LATE with a
    // bronze-era event time and must still enrich as bronze
    in.addData((11L, 1L, ts(150)), (12L, 1L, ts(60)), (13L, 2L, ts(150)))
    q.processAllAvailable(); q.stop()
    val streamed = spark.read.parquet(outDir)
      .as[(Long, String)].collect().toMap
    assert(streamed === Map(10L -> "bronze", 11L -> "gold",
      12L -> "bronze", 13L -> "silver"),
      s"event-time enrichment wrong: $streamed")
    val allFacts = Seq((10L, 1L, ts(50)), (11L, 1L, ts(150)),
      (12L, 1L, ts(60)), (13L, 2L, ts(150))).toDF("fact_id", "user_id", "fts")
    val batch = Scd.pitLookup(dim, allFacts, "user_id", "fts")
      .select("fact_id", "tier").as[(Long, String)].collect().toMap
    assert(streamed === batch, "streamed enrichment diverges from the one-shot batch lookup")
  }

  test("T23 per-batch count-min sketches merge into whole-stream frequency estimates") {
    // the heavy-hitter cousin of T18's HLL rollup: each micro-batch
    // persists a FIXED-size frequency sketch; later rollups merge
    // sketches instead of rescanning events. Count-min never
    // undercounts, and overcount is bounded by eps·N with prob. 1-delta.
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("t23").toString
    val in = MemoryStream[String]
    val q = in.toDF().toDF("t").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        b.agg(expr("count_min_sketch(t, 0.001d, 0.99d, 42)").as("sk"))
          .withColumn("batch", lit(id))
          .write.mode("append").parquet(dir)
      }.start()
    val batches = Seq(
      Seq.fill(500)("view") ++ Seq.fill(80)("click"),
      Seq.fill(300)("view") ++ Seq.fill(40)("purchase"),
      Seq.fill(10)("click") ++ Seq.fill(5)("error"))
    batches.foreach { b => in.addData(b); q.processAllAvailable() }
    q.stop()
    val bins = spark.read.parquet(dir).select("sk")
      .collect().map(_.getAs[Array[Byte]](0))
    assert(bins.length === 3)
    val merged = bins.map(b =>
        org.apache.spark.util.sketch.CountMinSketch.readFrom(
          new java.io.ByteArrayInputStream(b)))
      .reduce { (a, b) => a.mergeInPlace(b); a }
    val exact = batches.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = batches.flatten.size
    exact.foreach { case (k, c) =>
      val est = merged.estimateCount(k)
      assert(est >= c, s"count-min must never undercount: $k est=$est exact=$c")
      assert(est <= c + math.ceil(0.001 * n).toLong + 1,
        s"overcount outside the eps bound: $k est=$est exact=$c n=$n")
    }
  }

  test("T4 stream-static join enriches against a broadcast dim") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val in = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val events = in.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    in.addData((1L, ts(0), 1L, "view", 1.0, "{}"), (2L, ts(1), 3L, "view", 1.0, "{}"))
    val out = runStream("t4_enrich", EventStream.enrich(events, dim, "user_id"))
    val tiers = out.select("user_id", "tier").as[(Long, String)].collect().toMap
    assert(tiers === Map(1L -> "gold", 3L -> null))
  }

  test("T50 CEP match carries state across micro-batch boundaries") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[EventStream.Event]
    val cep = EventStream.patternMatchStream(in.toDS(), timeoutMs = 0L).toDF()
    val q = cep.writeStream.format("memory").queryName("t24b_carry")
      .outputMode("append").start()
    in.addData(EventStream.Event(1L, ts(0), 1L, "view", 0.0),
               EventStream.Event(2L, ts(1), 1L, "click", 0.0))
    q.processAllAvailable()
    assert(spark.table("t24b_carry").count() === 0, "no match before `b` arrives")
    in.addData(EventStream.Event(3L, ts(2), 1L, "purchase", 0.0))
    q.processAllAvailable(); q.stop()
    val m = spark.table("t24b_carry")
      .select("user_id", "match_len").as[(Long, Int)].collect().toSeq
    assert(m === Seq((1L, 3)), "view+click in batch 1, purchase in batch 2")
  }

  test("T50 CEP restart semantics match the regex (VVP matches VP; S aborts)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[EventStream.Event]
    in.addData(
      // user 1: V V P -> the regex matches "VP" (len 2), not "VVP"
      EventStream.Event(1L, ts(0), 1L, "view", 0.0),
      EventStream.Event(2L, ts(1), 1L, "view", 0.0),
      EventStream.Event(3L, ts(2), 1L, "purchase", 0.0),
      // user 2: V S P -> signup aborts the attempt, no match
      EventStream.Event(4L, ts(0), 2L, "view", 0.0),
      EventStream.Event(5L, ts(1), 2L, "signup", 0.0),
      EventStream.Event(6L, ts(2), 2L, "purchase", 0.0))
    val out = runStream("t24b_restart",
      EventStream.patternMatchStream(in.toDS(), timeoutMs = 0L).toDF())
    val m = out.select("user_id", "match_len").as[(Long, Int)].collect().toSeq
    assert(m === Seq((1L, 2)))
  }

  test("T50 CEP over the real event table equals the ev42 batch regex") {
    implicit val sqlCtx = spark.sqlContext
    val evs = Tables.events(spark, sf0001)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
      .as[EventStream.Event]
      .collect().sortBy(e => (e.ts.getTime, e.event_id))
    val in = MemoryStream[EventStream.Event]
    val cep = EventStream.patternMatchStream(in.toDS(), timeoutMs = 0L).toDF()
    val q = cep.writeStream.format("memory").queryName("t24b_real")
      .outputMode("append").start()
    // three time-ordered micro-batches: matches must survive the seams
    evs.grouped((evs.length + 2) / 3).foreach { chunk =>
      in.addData(chunk.toSeq); q.processAllAvailable()
    }
    q.stop()
    val streamAgg = spark.table("t24b_real").groupBy("user_id")
      .agg(count(lit(1)).as("n_match"),
        sum("match_len").as("total_len"),
        max("match_len").as("max_len"))
      .as[(Long, Long, Long, Int)].collect()
      .map { case (u, n, t, mx) => u -> ((n, t, mx.toLong)) }.toMap
    val batch = SparkEntry.queries("ev42_pattern_match")(spark, sf0001)
      .filter(col("n_match") > 0)
      .select("user_id", "n_match", "total_len", "max_len")
      .as[(Long, Long, Long, Long)].collect()
      .map { case (u, n, t, mx) => u -> ((n, t, mx)) }.toMap
    assert(batch.nonEmpty, "fixture must contain at least one matching user")
    assert(streamAgg === batch,
      "streaming CEP must equal the batch regex per user")
  }
}
