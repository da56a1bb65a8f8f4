package graft.streaming

import graft.GraftSession
import org.apache.spark.sql.functions._

/** 10⁸-key funnel soak on DISK-BUDGETED RocksDB with a mid-replay kill
  * + resume (r10, verdict item 2 — the next decade after r9's 10⁷
  * MemoryStream soak): at 10⁸ users the replay itself (3×10⁸ events)
  * no longer fits a driver-held MemoryStream, so the source is a FILE
  * stream — each rate-limited micro-batch is a parquet append the
  * query discovers through the FileStreamSource seen-files log — the
  * production shape (landing-dir ingestion). The kill: run 1 stops
  * after the first half of the replay, and the kill batch lands in the
  * landing dir only after that stop returns, i.e. while no query runs.
  * Run 2 restarts on the same checkpoint (restored RocksDB state and
  * seen-files log) and must pick the kill batch up as unseen files,
  * then finish the replay.
  *
  * DISK-BUDGETED STATE: `boundedMemoryUsage=true` with
  * `maxMemoryUsageMB` (env GRAFT_FUNNEL_STATE_MB, default 2048) caps
  * RocksDB's block cache + memtables across ALL state partitions, so
  * the 10⁸-key FunnelState set lives on SST files, not heap — the
  * soak records peak SST bytes, bytes/key, and RocksDB compaction
  * metrics alongside the exact reconciliation (count == countDistinct
  * == users: zero lost, zero duplicated completions).
  *
  * Usage: runMain graft.streaming.FunnelScaleSoak [users] [batches]
  * (env: SPARK_GRAFT_CPUS, GRAFT_FUNNEL_STATE_MB). Prints one
  * FUNNEL_SCALE JSON line for PLANS.md.
  */
object FunnelScaleSoak {
  def main(args: Array[String]): Unit = {
    val users = args.headOption.map(_.toLong).getOrElse(100000000L)
    val batches = args.drop(1).headOption.map(_.toInt).getOrElse(50)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val stateMb = sys.env.getOrElse("GRAFT_FUNNEL_STATE_MB", "2048")
    val spark = GraftSession.local(cpus.toInt,
      FunnelSoak.rocksDbState(stateMb = Some(stateMb)): _*)
    import spark.implicits._

    val stages = Seq("view", "click", "purchase")
    val totalEvents = 3L * users
    val perBatch = math.max(1L, totalEvents / batches)
    val base = java.nio.file.Files.createTempDirectory("funnel_scale")
    val inDir = s"$base/in"
    val ckpt = s"$base/ckpt"
    val outDir = s"$base/out"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))

    // one micro-batch of the replay as a parquet append: event i is
    // stage i/users for user i%users at ts 86400000+i ms — per-user
    // stage order is globally ascending in i, so cross-batch arrival
    // order is event-time order (the funnel sorts within a batch)
    def writeBatch(off: Long, hi: Long): Unit =
      spark.range(off, hi).select(
          col("id").as("event_id"),
          expr("timestamp_millis(86400000 + id)").as("ts"),
          (col("id") % users).as("user_id"),
          element_at(
            array(stages.map(lit): _*),
            expr(s"CAST(id DIV $users AS INT) + 1")).as("event_type"),
          lit(0.0).as("value"))
        .coalesce(8)
        .write.mode("append").parquet(inDir)

    val eventSchema = org.apache.spark.sql.Encoders
      .product[EventStream.Event].schema
    def start() = EventStream.funnel(
        spark.readStream.schema(eventSchema).parquet(inDir)
          .as[EventStream.Event],
        stages, timeoutMs = 0L).toDF()
      .select("user_id", "duration_sec")
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()

    // cumulative processed-row counter across ALL micro-batches (a
    // listener — lastProgress alone misses batches between samples):
    // proves the kill batch was genuinely IN FLIGHT, i.e. written but
    // not processed by run 1 (r10 review — without this a fast small
    // run could process the "kill" batch before stop() and the soak
    // would certify a resume path it never exercised)
    val processedRows = new java.util.concurrent.atomic.AtomicLong(0)
    spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        override def onQueryStarted(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit =
          processedRows.addAndGet(e.progress.numInputRows)
        override def onQueryTerminated(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      })
    var peakStateRows = 0L
    var peakMemBytes = 0L
    var peakSstBytes = 0L
    var compactionMs = 0L
    var sawRocksDb = false
    def sample(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      val so = Option(q.lastProgress).map(_.stateOperators).getOrElse(Array.empty)
      if (so.nonEmpty) {
        peakStateRows = math.max(peakStateRows, so.map(_.numRowsTotal).sum)
        val cm = so.head.customMetrics
        val keys = cm.keySet().toArray(Array.empty[String])
        sawRocksDb = sawRocksDb || keys.exists(_.startsWith("rocksdb"))
        def metric(k: String): Long =
          Option(cm.get(k)).map(_.longValue()).getOrElse(0L)
        peakMemBytes = math.max(peakMemBytes,
          metric("rocksdbPinnedBlocksMemoryUsage"))
        peakSstBytes = math.max(peakSstBytes, metric("rocksdbSstFileSize"))
        compactionMs = math.max(compactionMs,
          metric("rocksdbTotalCompactionLatencyMs"))
      }
    }

    val killBatch = batches / 2
    val t0 = System.nanoTime()
    // ---- run 1: replay to the kill point ------------------------------
    val q1 = start()
    var off = 0L
    var b = 0
    while (b < killBatch) {
      val hi = math.min(off + perBatch, totalEvents)
      writeBatch(off, hi)
      q1.processAllAvailable()
      sample(q1)
      off = hi; b += 1
    }
    // the KILL: stop q1, then land one more batch while no query runs,
    // so q1 cannot have consumed it — the work is genuinely in flight
    q1.stop()
    val hiKill = math.min(off + perBatch, totalEvents)
    writeBatch(off, hiKill)
    off = hiKill; b += 1
    Thread.sleep(3000) // drain async listener events before reading
    val inFlight = off - processedRows.get() // written - processed by run 1
    val wall1 = (System.nanoTime() - t0) / 1e9
    val stateDir = java.nio.file.Paths.get(ckpt, "state")
    val sawChangelog = java.nio.file.Files.walk(stateDir)
      .toArray.map(_.toString).exists(_.endsWith(".changelog"))

    // ---- run 2: resume on the SAME checkpoint, drain + finish ---------
    val t1 = System.nanoTime()
    val q2 = start()
    q2.processAllAvailable() // pick up the kill batch written while down
    sample(q2)
    while (off < totalEvents) {
      val hi = math.min(off + perBatch, totalEvents)
      writeBatch(off, hi)
      q2.processAllAvailable()
      sample(q2)
      off = hi
    }
    q2.stop()
    val wall2 = (System.nanoTime() - t1) / 1e9

    // ---- exact reconciliation -----------------------------------------
    val out = spark.read.parquet(outDir)
    val total = out.count()
    val distinct = out.select("user_id").distinct().count()
    val lost = users - distinct
    val dups = total - distinct
    val ok = total == users && distinct == users &&
      sawRocksDb && sawChangelog && inFlight > 0
    val bytesPerKey =
      if (peakStateRows > 0) (math.max(peakMemBytes, peakSstBytes).toDouble
        / peakStateRows) else -1.0
    println(
      s"""FUNNEL_SCALE {"users":$users,"batches":$batches,"events":$totalEvents,""" +
      s""""kill_batch":$killBatch,"in_flight_events_at_kill":$inFlight,""" +
      s""""completed_total":$total,"distinct_users":$distinct,""" +
      s""""lost":$lost,"duplicated":$dups,""" +
      s""""state_budget_mb":$stateMb,"peak_state_rows":$peakStateRows,""" +
      s""""peak_mem_bytes":$peakMemBytes,"peak_sst_bytes":$peakSstBytes,""" +
      s""""rocksdb_compaction_ms":$compactionMs,""" +
      s""""bytes_per_key":${math.rint(bytesPerKey * 10) / 10},""" +
      s""""rocksdb_engaged":$sawRocksDb,"changelog_files":$sawChangelog,""" +
      s""""wall_sec_run1":${math.rint(wall1 * 10) / 10},"wall_sec_run2":${math.rint(wall2 * 10) / 10},""" +
      s""""events_per_sec":${math.rint(totalEvents / (wall1 + wall2))},"ok":$ok}""")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
