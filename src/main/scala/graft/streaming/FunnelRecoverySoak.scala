package graft.streaming

import graft.GraftSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** 10⁷-user funnel soak with a MID-REPLAY KILL + RESUME on the RocksDB
  * changelog (r9 — the r8 verdict's full form of item 6): FunnelSoak
  * proves state survives production cardinality; this proves it
  * survives production cardinality AND a driver loss in the middle of
  * the replay, with EXACT reconciliation.
  *
  * Shape: `users` distinct user_ids each emit view → click → purchase
  * in timestamp order (event time spans ~8h at 10⁷ users — the
  * multi-hour replay), chunked into `batches` rate-limited
  * micro-batches against ONE fixed checkpoint. At `killAt` of the
  * batches the query is STOPPED with one batch's data already added
  * but NOT processed (in-flight offsets — the driver-loss shape); a
  * fresh query on the SAME checkpoint must restore every mid-funnel
  * FunnelState row from the RocksDB changelog, drain the in-flight
  * batch, and finish the replay.
  *
  * Reconciliation is EXACT and duplicate-aware: completions append to
  * a parquet sink keyed by user_id, and the final read asserts
  * count == countDistinct == users (zero lost, zero duplicated — a
  * re-emitted completion would break countDistinct < count, a lost one
  * count < users). Changelog checkpointing is explicitly enabled so
  * the resume path is the incremental-changelog restore, not a full
  * snapshot reload.
  *
  * Usage: runMain graft.streaming.FunnelRecoverySoak [users] [batches]
  * Prints one FUNNEL_RECOVERY JSON line for PLANS.md.
  */
object FunnelRecoverySoak {
  def main(args: Array[String]): Unit = {
    val users = args.headOption.map(_.toInt).getOrElse(10000000)
    val batches = args.drop(1).headOption.map(_.toInt).getOrElse(40)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession.local(cpus.toInt, FunnelSoak.rocksDbState(): _*)
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val stages = Seq("view", "click", "purchase")
    def eventAt(i: Long): EventStream.Event = {
      val round = (i / users).toInt // 0=view 1=click 2=purchase
      val user = i % users
      EventStream.Event(i, new java.sql.Timestamp(86400000L + i),
        user, stages(round), 0.0)
    }
    val totalEvents = 3L * users
    val perBatch = math.max(1L, totalEvents / batches)
    val base = java.nio.file.Files.createTempDirectory("funnel_recovery")
    val ckpt = s"$base/ckpt"
    val outDir = s"$base/out"

    val in = MemoryStream[EventStream.Event]
    def start() = EventStream.funnel(in.toDS(), stages, timeoutMs = 0L).toDF()
      .select("user_id", "duration_sec")
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()

    var peakStateRows = 0L
    var peakMemBytes = 0L
    var peakSstBytes = 0L
    var sawRocksDb = false
    var sawChangelog = false
    def sample(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      val so = Option(q.lastProgress).map(_.stateOperators).getOrElse(Array.empty)
      if (so.nonEmpty) {
        peakStateRows = math.max(peakStateRows, so.map(_.numRowsTotal).sum)
        val cm = so.head.customMetrics
        val keys = cm.keySet().toArray(Array.empty[String])
        sawRocksDb = sawRocksDb || keys.exists(_.startsWith("rocksdb"))
        def metric(k: String): Long =
          Option(cm.get(k)).map(_.longValue()).getOrElse(0L)
        peakMemBytes = math.max(peakMemBytes, metric("rocksdbPinnedBlocksMemoryUsage"))
        peakSstBytes = math.max(peakSstBytes, metric("rocksdbSstFileSize"))
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
      in.addData((off until hi).iterator.map(eventAt).toSeq)
      q1.processAllAvailable()
      sample(q1)
      off = hi; b += 1
    }
    // the KILL: one more batch lands but is never processed by q1 — the
    // stop leaves its offsets in flight, exactly a driver loss mid-replay
    val hiKill = math.min(off + perBatch, totalEvents)
    in.addData((off until hiKill).iterator.map(eventAt).toSeq)
    off = hiKill; b += 1
    q1.stop()
    val wall1 = (System.nanoTime() - t0) / 1e9
    // changelog files prove the resume path is incremental
    val stateDir = java.nio.file.Paths.get(ckpt, "state")
    sawChangelog = java.nio.file.Files.walk(stateDir)
      .toArray.map(_.toString).exists(_.endsWith(".changelog"))

    // ---- run 2: resume on the SAME checkpoint, drain + finish ---------
    val t1 = System.nanoTime()
    val q2 = start()
    q2.processAllAvailable() // drain the in-flight kill batch
    sample(q2)
    while (off < totalEvents) {
      val hi = math.min(off + perBatch, totalEvents)
      in.addData((off until hi).iterator.map(eventAt).toSeq)
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
    val lost = users.toLong - distinct
    val dups = total - distinct
    val ok = total == users.toLong && distinct == users.toLong &&
      sawRocksDb && sawChangelog
    val bytesPerKey =
      if (peakStateRows > 0) (math.max(peakMemBytes, peakSstBytes).toDouble
        / peakStateRows) else -1.0
    println(
      s"""FUNNEL_RECOVERY {"users":$users,"batches":$batches,"events":$totalEvents,""" +
      s""""kill_batch":$killBatch,"completed_total":$total,"distinct_users":$distinct,""" +
      s""""lost":$lost,"duplicated":$dups,""" +
      s""""peak_state_rows":$peakStateRows,"peak_mem_bytes":$peakMemBytes,""" +
      s""""peak_sst_bytes":$peakSstBytes,"bytes_per_key":${math.rint(bytesPerKey * 10) / 10},""" +
      s""""rocksdb_engaged":$sawRocksDb,"changelog_files":$sawChangelog,""" +
      s""""wall_sec_run1":${math.rint(wall1 * 10) / 10},"wall_sec_run2":${math.rint(wall2 * 10) / 10},""" +
      s""""events_per_sec":${math.rint(totalEvents / (wall1 + wall2))},"ok":$ok}""")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
