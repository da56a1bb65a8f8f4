package graft.streaming

import graft.GraftSession
import org.apache.spark.sql.functions._

/** STATE RESCALE soak (r11, verdict item 3): Spark pins a stateful
  * query's shuffle-partition count at its first checkpoint — a real
  * operational cliff at 100×: the funnel that started life on 8 state
  * partitions cannot simply restart with 32 when the key count grows
  * two decades. This soak proves the documented migration procedure
  * END TO END at soak scale:
  *
  *  1. PHASE 1 — run the funnel at P1 state partitions over the first
  *     half of a `users`-key replay (file-stream landing dir, RocksDB
  *     state, changelog checkpointing — the FunnelScaleSoak shape),
  *     then DRAIN (processAllAvailable) and stop: a clean handoff
  *     point, nothing in flight.
  *  2. OFFLINE REBUILD — batch-replay phase 1's landing dir through
  *     [[EventStream.foldFunnel]] — the SAME transition function the
  *     live query ran — to reconstruct every user's in-progress
  *     `FunnelState`. Completed funnels reset to stage 0 and hold no
  *     state, so the rebuild carries exactly the in-progress key set
  *     (at the 3/4-point drain: the not-yet-purchased 3/4 of users).
  *     The rebuild is one batch groupByKey at the NEW parallelism —
  *     no state-store surgery, no checkpoint binary compatibility.
  *  3. PHASE 2 — a FRESH query (new checkpoint, P2 partitions) over a
  *     fresh landing dir carrying the second half of the replay,
  *     seeded via flatMapGroupsWithState `initialState` =
  *     [[EventStream.funnelFrom]].
  *  4. RECONCILE EXACTLY — phase-1 ∪ phase-2 completions must be
  *     `users` rows over `users` distinct keys: zero lost (no user's
  *     cross-phase funnel forgot its prefix), zero duplicated (no
  *     initial-state user double-counted), with BOTH phases
  *     contributing and the checkpoint state dirs PROVING the
  *     partition counts differ (ckpt1/state/0 has P1 children,
  *     ckpt2/state/0 has P2).
  *
  * Usage: runMain graft.streaming.FunnelRescaleSoak [users] [batches]
  * [p1] [p2] (env: SPARK_GRAFT_CPUS, GRAFT_FUNNEL_STATE_MB). Prints
  * one FUNNEL_RESCALE JSON line for PLANS.md.
  */
object FunnelRescaleSoak {
  def main(args: Array[String]): Unit = {
    val users = args.headOption.map(_.toLong).getOrElse(10000000L)
    val batches = args.drop(1).headOption.map(_.toInt).getOrElse(20)
    val p1 = args.drop(2).headOption.map(_.toInt).getOrElse(8)
    val p2 = args.drop(3).headOption.map(_.toInt).getOrElse(32)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val stateMb = sys.env.getOrElse("GRAFT_FUNNEL_STATE_MB", "2048")
    val spark = GraftSession.local(cpus.toInt,
      FunnelSoak.rocksDbState(stateMb = Some(stateMb)) :+
        ("spark.sql.shuffle.partitions" -> p1.toString): _*)
    import spark.implicits._

    val stages = Seq("view", "click", "purchase")
    val totalEvents = 3L * users
    val perBatch = math.max(1L, totalEvents / batches)
    val base = java.nio.file.Files.createTempDirectory("funnel_rescale")
    def mk(p: String): String = {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$base/$p"))
      s"$base/$p"
    }
    val in1 = mk("in1"); val in2 = mk("in2")
    val ckpt1 = s"$base/ckpt1"; val ckpt2 = s"$base/ckpt2"
    val out1 = s"$base/out1"; val out2 = s"$base/out2"

    // same replay shape as FunnelScaleSoak: event i is stage i/users
    // for user i%users at ts 86400000+i ms — per-user stage order is
    // globally ascending in i, so every user completes exactly once
    def writeBatch(dir: String, off: Long, hi: Long): Unit =
      spark.range(off, hi).select(
          col("id").as("event_id"),
          expr("timestamp_millis(86400000 + id)").as("ts"),
          (col("id") % users).as("user_id"),
          element_at(
            array(stages.map(lit): _*),
            expr(s"CAST(id DIV $users AS INT) + 1")).as("event_type"),
          lit(0.0).as("value"))
        .coalesce(8)
        .write.mode("append").parquet(dir)

    val eventSchema = org.apache.spark.sql.Encoders
      .product[EventStream.Event].schema
    def src(dir: String) =
      spark.readStream.schema(eventSchema).parquet(dir)
        .as[EventStream.Event]

    def statePartitions(ckpt: String): Int = {
      val d = java.nio.file.Paths.get(ckpt, "state", "0")
      if (!java.nio.file.Files.isDirectory(d)) -1
      else java.nio.file.Files.list(d).toArray
        .map(_.toString.split("/").last).count(_.forall(_.isDigit))
    }

    // ---- phase 1: P1 partitions to the 3/4 point, then DRAIN ----------
    // 3/4 of the replay = all views + all clicks + the first quarter of
    // purchases: the handoff carries BOTH completed users (must not
    // re-emit after the rescale) and mid-funnel users (must complete
    // from the seeded prefix) — the two failure modes an initial-state
    // migration can have
    val splitBatch = batches * 3 / 4
    val t0 = System.nanoTime()
    val q1 = EventStream.funnel(src(in1), stages, timeoutMs = 0L).toDF()
      .select("user_id", "duration_sec")
      .writeStream.format("parquet").option("path", out1)
      .option("checkpointLocation", ckpt1)
      .outputMode("append").start()
    var off = 0L
    for (_ <- 0 until splitBatch) {
      val hi = math.min(off + perBatch, totalEvents)
      writeBatch(in1, off, hi)
      q1.processAllAvailable()
      off = hi
    }
    q1.stop() // drained — clean handoff, nothing in flight
    val wall1 = (System.nanoTime() - t0) / 1e9
    val parts1 = statePartitions(ckpt1)

    // ---- offline rebuild at the NEW parallelism -----------------------
    spark.conf.set("spark.sql.shuffle.partitions", p2.toString)
    val t1 = System.nanoTime()
    val rebuilt = spark.read.parquet(in1).as[EventStream.Event]
      .groupByKey(_.user_id)
      .flatMapGroups { (u: Long, it: Iterator[EventStream.Event]) =>
        val (st, _) = EventStream.foldFunnel(stages, u,
          EventStream.FunnelState(0, 0L, 0L), it)
        if (st.stage == 0) Iterator.empty else Iterator((u, st))
      }
      .toDF("user_id", "state")
      .localCheckpoint(true) // materialize: the seed must not re-plan
    val rebuiltRows = rebuilt.count()
    val wallRebuild = (System.nanoTime() - t1) / 1e9

    // ---- phase 2: FRESH query at P2, seeded with the rebuilt state ----
    val initial = rebuilt
      .select(col("user_id"), col("state.*"))
      .as[(Long, Int, Long, Long)]
      .map { case (u, stage, s, l) => (u, EventStream.FunnelState(stage, s, l)) }
      .groupByKey(_._1).mapValues(_._2)
    val t2 = System.nanoTime()
    val q2 = EventStream.funnelFrom(src(in2), stages, initial,
        timeoutMs = 0L).toDF()
      .select("user_id", "duration_sec")
      .writeStream.format("parquet").option("path", out2)
      .option("checkpointLocation", ckpt2)
      .outputMode("append").start()
    while (off < totalEvents) {
      val hi = math.min(off + perBatch, totalEvents)
      writeBatch(in2, off, hi)
      q2.processAllAvailable()
      off = hi
    }
    q2.stop()
    val wall2 = (System.nanoTime() - t2) / 1e9
    val parts2 = statePartitions(ckpt2)

    // ---- exact reconciliation across the rescale ----------------------
    val c1 = spark.read.parquet(out1)
    val c2 = spark.read.parquet(out2)
    val n1 = c1.count(); val n2 = c2.count()
    val all = c1.select("user_id").unionByName(c2.select("user_id"))
    val total = all.count()
    val distinct = all.distinct().count()
    val lost = users - distinct
    val dups = total - distinct
    val ok = total == users && distinct == users &&
      parts1 == p1 && parts2 == p2 && parts1 != parts2 &&
      rebuiltRows > 0 && n1 > 0 && n2 > 0
    println(
      s"""FUNNEL_RESCALE {"users":$users,"batches":$batches,"events":$totalEvents,""" +
      s""""p1":$p1,"p2":$p2,"state_partitions_phase1":$parts1,""" +
      s""""state_partitions_phase2":$parts2,"rebuilt_state_rows":$rebuiltRows,""" +
      s""""completed_phase1":$n1,"completed_phase2":$n2,""" +
      s""""total":$total,"distinct_users":$distinct,"lost":$lost,"duplicated":$dups,""" +
      s""""wall_sec_phase1":${math.rint(wall1 * 10) / 10},""" +
      s""""wall_sec_rebuild":${math.rint(wallRebuild * 10) / 10},""" +
      s""""wall_sec_phase2":${math.rint(wall2 * 10) / 10},""" +
      s""""events_per_sec":${math.rint(totalEvents / (wall1 + wallRebuild + wall2))},"ok":$ok}""")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
