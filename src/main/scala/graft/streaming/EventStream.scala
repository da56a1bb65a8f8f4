package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming forms of the event operators (SURVEY.md §2
  * T1–T4). Each transform takes the (possibly streaming) events frame —
  * `event_id bigint, ts timestamp, user_id bigint, event_type string,
  * value double, props string` — so batch specs and MemoryStream specs
  * share the exact same plan. The batch twins checked against the DuckDB
  * oracle live in [[graft.operators.EventOps]].
  *
  * Scale notes: every aggregation below keys on high-cardinality columns
  * (user_id) or bounded composites (window × event_type), so state
  * partitions evenly across executors; watermarks bound state size — the
  * thing that actually matters on an unbounded 100 TB/day stream.
  */
object EventStream {

  /** T1 — tumbling 1-hour windows per event_type, 2h watermark. */
  def hourly(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_v"))
      .select(col("win.start").as("hr"), col("event_type"), col("n"), col("sum_v"))

  /** T11 — SLIDING windows: 10-minute windows every 5 minutes, so each
    * event lands in exactly two overlapping windows. Same exact-cents
    * value sum as the batch twin ([[graft.operators.Olap.slidingBatch]])
    * so the spec can compare the two paths value-for-value. */
  def sliding(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("win"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.functions.Stable.moneySum(col("value")).as("sum_v"))
      .select(col("win.start").as("win_start"), col("event_type"),
        col("n"), col("sum_v"))

  /** T12 — CHAINED stateful operators (Spark 4 multiple-stateful-ops
    * support): a 5-minute tumbling pre-aggregation re-windowed into
    * 1-hour totals in the SAME streaming query — `window(w5, '1 hour')`
    * on the first agg's window column. This is the streaming rollup
    * shape (fine-grained state emits early, coarse tier re-aggregates
    * closed windows) that otherwise needs two queries and an
    * intermediate topic. Append mode only: tier-2 consumes tier-1 rows
    * as they FINALIZE past the watermark, so state in both tiers stays
    * bounded. */
  def chainedWindows(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes").as("w5"), col("event_type"))
      .agg(count(lit(1)).as("n5"))
      .groupBy(window(col("w5"), "1 hour").as("w60"), col("event_type"))
      .agg(sum(col("n5")).as("n"))
      .select(col("w60.start").as("hr"), col("event_type"), col("n"))

  /** T2 — native session windows: 30-min inactivity gap per user. The
    * streaming twin of EventOps' lag-based batch sessionization. */
  def sessions(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_v"))
      .select(col("user_id"), col("sw.start").as("t0"), col("sw.end").as("t1"),
        col("n"), col("sum_v"))

  /** T9 — streaming exact dedup by event_id with bounded state:
    * `dropDuplicatesWithinWatermark` keeps a key's dedup state only until
    * the watermark passes it, so state size is O(keys per watermark
    * window), not O(all keys ever) — the requirement for exactly-once
    * event delivery on an unbounded at-least-once stream. (Plain
    * `dropDuplicates` on a stream grows state forever.) */
  def dedupStream(events: DataFrame, lateness: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("event_id")

  /** T4 — stream-static join: enrich the stream against a static dim.
    * The static side is broadcast per micro-batch — no stream shuffle. */
  def enrich(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** T5 — stream-stream join: views matched to purchases by the same
    * user within `withinMinutes`. Both sides carry watermarks and the
    * join has a two-sided time bound, so Spark can evict buffered state —
    * the requirement for stream-stream joins to run unbounded.
    * `joinType = "left_outer"` additionally emits unconverted views (null
    * purchase columns) once the watermark proves no match can arrive —
    * the attribution-with-negatives form. */
  def viewToPurchase(views: DataFrame, purchases: DataFrame,
                     withinMinutes: Int = 60,
                     joinType: String = "inner"): DataFrame = {
    val v = views.select(col("user_id").as("v_user"), col("ts").as("view_ts"),
      col("event_id").as("view_id"))
      .withWatermark("view_ts", s"$withinMinutes minutes")
    val p = purchases.select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
      col("event_id").as("purchase_id"), col("value"))
      .withWatermark("purchase_ts", s"$withinMinutes minutes")
    v.join(p,
        col("v_user") === col("p_user") &&
          col("purchase_ts") >= col("view_ts") &&
          col("purchase_ts") <= col("view_ts") + expr(s"INTERVAL $withinMinutes MINUTES"),
        joinType)
      .select(col("v_user").as("user_id"), col("view_id"), col("view_ts"),
        col("purchase_id"), col("purchase_ts"), col("value"))
  }

  /** T7 — idempotent micro-batch sink: per-batch dedup + last-writer-wins
    * upsert into a keyed parquet "table" via `foreachBatch`. The pattern
    * that makes at-least-once delivery effectively-once at the sink:
    * every batch folds into existing state keyed on `keyCol`, so replays
    * rewrite the same rows instead of appending duplicates.
    */
  def upsertSink(batch: DataFrame, batchId: Long, path: String, keyCol: String,
                 versionCol: String): Unit = {
    val spark = batch.sparkSession
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCol)
      .orderBy(col(versionCol).desc, col("__bid").desc)
    val incoming = batch.withColumn("__bid", lit(batchId))
    val dst = new org.apache.hadoop.fs.Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bak = new org.apache.hadoop.fs.Path(path + "__bak")
    // crash recovery FIRST: a previous run that died between moving dst
    // aside and publishing tmp leaves the backup as the ONLY copy of
    // state — treating that as "absent table" would wipe all history.
    if (!fs.exists(dst) && fs.exists(bak) && !fs.rename(bak, dst))
      throw new java.io.IOException(s"upsertSink: could not restore $bak to $dst")
    // only a genuinely absent table starts empty; any other read failure
    // (IO, permissions, corrupt footer) must abort the batch — swallowing
    // it would silently discard all previously upserted history
    val existing =
      if (fs.exists(dst)) spark.read.parquet(path).withColumn("__bid", lit(-1L))
      else incoming.limit(0)
    val merged = existing.union(incoming.select(existing.columns.map(col): _*))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__bid")
    // write to a temp dir then swap: the read above and overwrite below
    // can't stream from/to the same files. Swap via backup-rename on the
    // PATH's filesystem (not the default FS), checking every step — a
    // crash mid-swap leaves either dst or dst__bak intact, never neither.
    val tmp = path + "__tmp"
    merged.write.mode("overwrite").parquet(tmp)
    publishWithBackup(fs, new org.apache.hadoop.fs.Path(tmp), dst, bak)
  }

  /** T19 — CDC apply with tombstones: the change-data-capture form of
    * [[upsertSink]] for feeds carrying `op` ∈ I/U/D per row. Inserts and
    * updates fold last-writer-wins exactly like T7; a DELETE is applied
    * by RETAINING the winning tombstone row in stored state rather than
    * erasing the key — dropping it would let a LATE, STALE update (lower
    * version arriving in a later batch) silently resurrect a deleted key.
    * With the tombstone retained, the stale row loses the per-key
    * version race like any other out-of-order write. Readers take
    * [[cdcCurrent]] (tombstones filtered); tombstone garbage collection
    * is a compaction concern (drop `op = 'D'` rows older than the
    * source's out-of-order horizon), not an apply-time one.
    *
    * Same crash/replay envelope as T7: replayed batches rewrite the same
    * rows (idempotent), the backup-rename publish survives mid-swap
    * crashes, and per-batch work is O(batch + table) — the bucketed T7b
    * layout is the same upgrade path here.
    */
  def cdcApply(batch: DataFrame, batchId: Long, path: String, keyCol: String,
               versionCol: String): Unit = {
    require(batch.columns.contains("op"),
      "cdcApply: batch must carry an 'op' column with I/U/D per row")
    upsertSink(batch, batchId, path, keyCol, versionCol)
  }

  /** Full stored CDC state, tombstones included — the replication/audit
    * view. */
  def cdcState(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Live-rows view of a [[cdcApply]] table: winning tombstones hide
    * their keys. */
  def cdcCurrent(spark: SparkSession, path: String): DataFrame =
    cdcState(spark, path).filter(col("op") =!= lit("D"))

  /** T15 — streaming upsert into a TRANSACTIONAL JDBC sink (composes the
    * S10 JDBC sink surface with T7's idempotence — the serving-database
    * pattern). Each micro-batch:
    *   1. short-circuits if its batch id is already in `<table>_commits`
    *      (a fully-replayed batch is a no-op without touching data);
    *   2. upserts rows per partition as DELETE+INSERT inside ONE
    *      transaction per partition (vendor-portable — Derby has no
    *      UPSERT; MERGE is the vendor upgrade);
    *   3. records the batch id in the commits table.
    * A crash between 2 and 3 re-runs the batch on restart; the per-key
    * DELETE+INSERT makes the re-run idempotent (same keys rewritten with
    * the same values), so at-least-once delivery is effectively-once in
    * sink state. The commit marker is an optimization + audit trail, not
    * the correctness mechanism — that's the upsert semantics, which is
    * why per-partition transactions (scalable) are safe here where a
    * single global transaction (driver-side collect) would not be.
    * Caller owns DDL: `table(k BIGINT PRIMARY KEY, v DOUBLE)`,
    * `<table>_commits(batch_id BIGINT PRIMARY KEY)`.
    */
  def jdbcUpsertSink(batch: DataFrame, batchId: Long, url: String,
                     table: String, keyCol: String, valCol: String): Unit = {
    import java.sql.DriverManager
    val commits = table + "_COMMITS"
    val seen = {
      val c = DriverManager.getConnection(url)
      try {
        val rs = c.createStatement()
          .executeQuery(s"SELECT 1 FROM $commits WHERE batch_id = $batchId")
        rs.next()
      } finally c.close()
    }
    if (!seen) {
      batch.select(col(keyCol).cast("long"), col(valCol).cast("double"))
        .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
          if (rows.hasNext) {
            val conn = DriverManager.getConnection(url)
            conn.setAutoCommit(false)
            try {
              val del = conn.prepareStatement(s"DELETE FROM $table WHERE k = ?")
              val ins = conn.prepareStatement(s"INSERT INTO $table VALUES (?, ?)")
              rows.foreach { r =>
                del.setLong(1, r.getLong(0)); del.executeUpdate()
                ins.setLong(1, r.getLong(0)); ins.setDouble(2, r.getDouble(1))
                ins.executeUpdate()
              }
              conn.commit()
            } catch { case t: Throwable => conn.rollback(); throw t }
            finally conn.close()
          }
        }
      val c = DriverManager.getConnection(url)
      try c.createStatement().executeUpdate(s"INSERT INTO $commits VALUES ($batchId)")
      finally c.close()
    }
  }

  /** Backup-rename publish shared by both upsert sinks and
    * [[graft.operators.Layout.compact]]: move `main` aside to `bak`,
    * rename `src` into place, then drop the backup. A crash at any point
    * leaves `main` or `bak` intact — every caller must run
    * recovery-first logic (restore `bak` when `main` is missing) before
    * its next use of the table, so the ordering here and there must stay
    * in lockstep (one shared copy, not two). */
  private[graft] def publishWithBackup(fs: org.apache.hadoop.fs.FileSystem,
                                src: org.apache.hadoop.fs.Path,
                                main: org.apache.hadoop.fs.Path,
                                bak: org.apache.hadoop.fs.Path): Unit = {
    fs.delete(bak, true)
    if (fs.exists(main) && !fs.rename(main, bak))
      throw new java.io.IOException(s"upsert publish: could not move $main aside")
    if (!fs.rename(src, main))
      throw new java.io.IOException(s"upsert publish: could not publish $src to $main")
    fs.delete(bak, true)
  }

  /** The recovery-first half of [[publishWithBackup]]'s contract, as
    * ONE shared copy: restore `bak` when `main` is missing (the crash
    * window between the two renames above), else drop a stale backup.
    * EVERY entry point of a backup-rename-published state — reads
    * included — must call this before touching the state. */
  private[graft] def recoverFirst(fs: org.apache.hadoop.fs.FileSystem,
                                  main: org.apache.hadoop.fs.Path,
                                  bak: org.apache.hadoop.fs.Path): Unit = {
    if (fs.exists(bak) && !fs.exists(main)) {
      if (!fs.rename(bak, main))
        throw new java.io.IOException(s"recovery: cannot restore $bak to $main")
    } else if (fs.exists(main)) fs.delete(bak, true)
  }

  /** T7b — incremental bucketed upsert sink: the O(touched-buckets)
    * refinement of [[upsertSink]], whose whole-table rewrite is
    * O(table size) per micro-batch. State is laid out as a
    * `__kb=<hash bucket>` partitioned parquet table; each batch
    * merges ONLY the buckets its keys hash into and republishes them via
    * dynamic partition overwrite — untouched bucket directories keep
    * their files byte-for-byte. Per batch the work is
    * O(batch + |touched buckets| · bucket size), independent of total
    * table size: the difference between a sink that survives a year of
    * micro-batches on a 100 TB table and one that rewrites 100 TB every
    * trigger.
    */
  def upsertSinkBucketed(batch: DataFrame, batchId: Long, path: String,
                         keyCol: String, versionCol: String,
                         numBuckets: Int = 64): Unit = {
    val spark = batch.sparkSession
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCol)
      .orderBy(col(versionCol).desc, col("__bid").desc)
    val dst = new Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // crash recovery FIRST (mirrors upsertSink): a previous run that died
    // mid-publish leaves `__kb=N__bak` as the only copy of bucket N —
    // restore it before anything reads the table. Completed publishes
    // leave a stale bak next to a fresh main dir: drop the stale copy.
    if (fs.exists(dst)) fs.listStatus(dst).foreach { st =>
      val nm = st.getPath.getName
      if (nm.startsWith("__kb=") && nm.endsWith("__bak")) {
        val main = new Path(dst, nm.stripSuffix("__bak"))
        if (!fs.exists(main)) {
          if (!fs.rename(st.getPath, main))
            throw new java.io.IOException(
              s"upsertSinkBucketed: could not restore ${st.getPath} to $main")
        } else fs.delete(st.getPath, true)
      }
    }
    // the bucket count is part of the table's physical identity: a run
    // with a different numBuckets would hash keys into different dirs,
    // silently leaving stale versions in never-again-read buckets. Pin it
    // in a marker file on first publish and refuse mismatched runs.
    val marker = new Path(dst, "_graft_num_buckets")
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val persisted = try scala.io.Source.fromInputStream(in).mkString.trim.toInt
      finally in.close()
      if (persisted != numBuckets)
        throw new IllegalArgumentException(
          s"upsertSinkBucketed: table at $path was created with numBuckets=$persisted, " +
            s"got $numBuckets — changing the bucket count would corrupt last-writer-wins state")
    }
    // deterministic content hash (not rand/monotonic id): replays land in
    // the same buckets, keeping the sink idempotent. persist (not
    // localCheckpoint): used for both bucket list + merge, and explicitly
    // released below — per-micro-batch localCheckpoints would pin storage
    // blocks until GC on a long-running stream.
    val incoming = batch
      .withColumn("__kb", pmod(xxhash64(col(keyCol)), lit(numBuckets)).cast("int"))
      .withColumn("__bid", lit(batchId))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val touched = incoming.select("__kb").distinct()
        .collect().map(_.getInt(0)).sorted
      // as in upsertSink: only a genuinely absent table starts empty — any
      // other read failure must abort the batch, not wipe state. "Absent"
      // includes an existing dir with NO bucket subdirs (left by a crash
      // between mkdirs and the first publish, or an empty first batch):
      // reading that with spark.read.parquet would throw unable-to-infer-
      // schema on every replay, wedging the stream permanently.
      val hasBuckets = fs.exists(dst) &&
        fs.listStatus(dst).exists(_.getPath.getName.startsWith("__kb="))
      val existing =
        if (hasBuckets)
          spark.read.parquet(path)
            .filter(col("__kb").isin(touched.map(Int.box): _*))  // partition-pruned read
            .withColumn("__bid", lit(-1L))
        else incoming.limit(0)
      val merged = existing.select(incoming.columns.map(col): _*)
        .union(incoming)
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .drop("__rn", "__bid")
      // stage the merged buckets AWAY from the table (no read-write path
      // conflict, no lineage break needed), then publish each touched
      // bucket with the same backup-rename swap upsertSink uses — a crash
      // at any point leaves every bucket recoverable from main or bak,
      // unlike a direct dynamic-partition overwrite whose delete+move
      // window can permanently lose a bucket.
      val stage = new Path(path + "__stage")
      merged.write.mode("overwrite").partitionBy("__kb").parquet(stage.toString)
      fs.mkdirs(dst)
      if (!fs.exists(marker)) {
        val out = fs.create(marker, true)
        try out.write(numBuckets.toString.getBytes("UTF-8")) finally out.close()
      }
      touched.foreach { b =>
        val bSrc = new Path(stage, s"__kb=$b")
        if (!fs.exists(bSrc))
          throw new java.io.IOException(
            s"upsertSinkBucketed: staged bucket $bSrc missing (touched bucket must have rows)")
        publishWithBackup(fs, bSrc,
          new Path(dst, s"__kb=$b"), new Path(dst, s"__kb=${b}__bak"))
      }
      fs.delete(stage, true)
    } finally incoming.unpersist()
  }

  // ---- T3: custom state machine via flatMapGroupsWithState ----

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double)
  case class FunnelState(stage: Int, startUs: Long, lastUs: Long)
  case class FunnelHit(user_id: Long, completed_at: java.sql.Timestamp,
                       duration_sec: Double)

  /** T3 — per-user funnel detection (`stages` in order, e.g. view → click
    * → purchase). With `timeoutMs > 0`, a processing-time idle timeout
    * evicts state — bounded memory on an unbounded stream. (Note: a
    * registered timeout makes Spark schedule timeout-check micro-batches
    * continuously under the default 0-interval trigger — pair it with a
    * real `Trigger.ProcessingTime`; pass `timeoutMs = 0` for NoTimeout,
    * e.g. in tests driving `processAllAvailable`.) Emits one row per
    * completed funnel pass and resets, so repeat conversions all count.
    */
  /** The funnel's per-event transition, shared VERBATIM by the
    * streaming state machine, the initial-state variant, and the
    * offline state REBUILD ([[foldFunnel]]) — one definition is what
    * makes "rebuild state by batch-replaying the landing dir" provably
    * consistent with what the live query would have held. */
  private[graft] def funnelAdvance(stages: Seq[String], user: Long,
      st: FunnelState, e: Event): (FunnelState, Option[FunnelHit]) = {
    val us = e.ts.getTime
    if (st.stage < stages.length && e.event_type == stages(st.stage)) {
      val start = if (st.stage == 0) us else st.startUs
      val st2 = FunnelState(st.stage + 1, start, us)
      if (st2.stage == stages.length)
        (FunnelState(0, 0L, 0L),
          Some(FunnelHit(user, e.ts, (us - st2.startUs) / 1000.0)))
      else (st2, None)
    } else (st, None)
  }

  /** Fold a user's events (sorted to event-time order — arrival order
    * within a micro-batch isn't time order) from `st0` through
    * [[funnelAdvance]]; returns the final state + emitted hits. */
  private[graft] def foldFunnel(stages: Seq[String], user: Long,
      st0: FunnelState, it: Iterator[Event])
      : (FunnelState, Seq[FunnelHit]) = {
    var st = st0
    val hits = scala.collection.mutable.ArrayBuffer.empty[FunnelHit]
    it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
      val (st2, hit) = funnelAdvance(stages, user, st, e)
      st = st2
      hits ++= hit
    }
    (st, hits.toSeq)
  }

  private def funnelFunc(stages: Seq[String], timeoutMs: Long)
      : (Long, Iterator[Event], GroupState[FunnelState]) => Iterator[FunnelHit] =
    (user: Long, it: Iterator[Event], state: GroupState[FunnelState]) => {
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        val (st, hits) = foldFunnel(stages, user,
          state.getOption.getOrElse(FunnelState(0, 0L, 0L)), it)
        if (st.stage == 0) state.remove()
        else {
          state.update(st)
          if (timeoutMs > 0) state.setTimeoutDuration(timeoutMs)
        }
        hits.iterator
      }
    }

  def funnel(events: Dataset[Event], stages: Seq[String],
             timeoutMs: Long = 3600 * 1000L): Dataset[FunnelHit] = {
    import events.sparkSession.implicits._
    val timeoutConf =
      if (timeoutMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf)(
        funnelFunc(stages, timeoutMs))
  }

  /** [[funnel]] with an explicit INITIAL STATE — the state
    * RESCALE/MIGRATION path (r11, verdict item 3). Spark pins a
    * stateful query's shuffle-partition count at its FIRST checkpoint,
    * so a funnel that outgrew its parallelism cannot just restart with
    * more partitions — the operational move is: drain the old query,
    * REBUILD its in-progress state offline (batch-replay the landing
    * dir through [[foldFunnel]] — the same transition function, so the
    * rebuilt state is exactly what the live query held; see the
    * `rescale` mode of [[graft.streaming.FunnelSoak]]), and start a FRESH query
    * (new checkpoint, new partition count) seeded with that state via
    * flatMapGroupsWithState's initialState. Completed funnels reset to
    * stage 0 and hold no state, so the rebuild carries exactly the
    * in-progress users. */
  def funnelFrom(events: Dataset[Event], stages: Seq[String],
                 initial: org.apache.spark.sql.KeyValueGroupedDataset[Long, FunnelState],
                 timeoutMs: Long = 3600 * 1000L): Dataset[FunnelHit] = {
    import events.sparkSession.implicits._
    val timeoutConf =
      if (timeoutMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf, initial)(
        funnelFunc(stages, timeoutMs))
  }

  case class CepState(inProgress: Boolean, startUs: Long, startId: Long,
                      matchLen: Int)
  case class CepMatch(user_id: Long, start_ts: java.sql.Timestamp,
                      end_ts: java.sql.Timestamp, match_len: Int)

  /** T50 — streaming CEP: the continuous twin of `ev42_pattern_match`,
    * detecting the contiguous episode `view → (click|error)* → purchase`
    * per user across micro-batch boundaries via one small
    * flatMapGroupsWithState record (the Flink-CEP shape on Spark).
    *
    * Semantics proof (same argument as ev42's, now incremental): for
    * `a X* b` with b ∉ X over alphabet Σ, a failed attempt can only
    * fail on a char in Σ∖(X∪{b}); every char between the attempt's
    * start and the failure is in X and can never START a match, so the
    * textbook regex restart ("rescan from start+1") reduces to "start a
    * new attempt iff the failing char is `a`" — exactly what the state
    * machine does. StreamingSpec proves batch-boundary carry-over and
    * per-user equality of (count, total length, max length) with the
    * batch regex entry. Eviction mirrors `funnel` (idle timeout).
    */
  def patternMatchStream(events: Dataset[Event],
                         timeoutMs: Long = 3600 * 1000L): Dataset[CepMatch] = {
    import events.sparkSession.implicits._
    val timeoutConf =
      if (timeoutMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf)(
        (user: Long, it: Iterator[Event], state: GroupState[CepState]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var st = state.getOption.getOrElse(CepState(false, 0L, 0L, 0))
            val hits = scala.collection.mutable.ArrayBuffer.empty[CepMatch]
            it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
              e.event_type match {
                case "view" => // `a`: starts (or restarts) an attempt
                  st = CepState(true, e.ts.getTime, e.event_id, 1)
                case "click" | "error" if st.inProgress => // X: extends
                  st = st.copy(matchLen = st.matchLen + 1)
                case "purchase" if st.inProgress => // b: completes
                  hits += CepMatch(user,
                    new java.sql.Timestamp(st.startUs), e.ts, st.matchLen + 1)
                  st = CepState(false, 0L, 0L, 0)
                case _ => // failure char outside an attempt's language
                  st = CepState(false, 0L, 0L, 0)
              }
            }
            if (!st.inProgress) state.remove()
            else {
              state.update(st)
              if (timeoutMs > 0) state.setTimeoutDuration(timeoutMs)
            }
            hits.iterator
          }
        })
  }

  /** T3b — the same funnel on Spark 4's state API v2
    * (`transformWithState`): state lives in NAMED typed handles
    * ([[org.apache.spark.sql.streaming.ValueState]]) with optional
    * per-state TTL, instead of one opaque `GroupState` blob — the API
    * Spark is converging on for arbitrary stateful work, and the one
    * that composes with state-store-level features (TTL eviction,
    * RocksDB changelog checkpointing). Requires the RocksDB provider
    * (the only v2 state-store implementation); the spec runs it under
    * that config. Semantics are identical to [[funnel]] — the spec
    * pins both paths to the same answer.
    */
  class FunnelProcessor(stages: Seq[String], ttlMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, FunnelHit] {
    import org.apache.spark.sql.streaming.{TimeMode, TTLConfig, TimerValues, ValueState}
    import org.apache.spark.sql.Encoders
    @transient private var st: ValueState[FunnelState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[FunnelState]("funnel",
        Encoders.product[FunnelState],
        if (ttlMs > 0) TTLConfig(java.time.Duration.ofMillis(ttlMs))
        else TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[Event],
                                 tv: TimerValues): Iterator[FunnelHit] = {
      var s = if (st.exists()) st.get() else FunnelState(0, 0L, 0L)
      val hits = scala.collection.mutable.ArrayBuffer.empty[FunnelHit]
      rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
        val us = e.ts.getTime
        if (s.stage < stages.length && e.event_type == stages(s.stage)) {
          val start = if (s.stage == 0) us else s.startUs
          s = FunnelState(s.stage + 1, start, us)
          if (s.stage == stages.length) {
            hits += FunnelHit(user, e.ts, (us - s.startUs) / 1000.0)
            s = FunnelState(0, 0L, 0L)
          }
        }
      }
      if (s.stage == 0) st.clear() else st.update(s)
      hits.iterator
    }
  }

  /** `ttlMs > 0` (the production default) evicts mid-funnel state for
    * idle users via the v2 API's state TTL — the unbounded-stream memory
    * bound [[funnel]] gets from its processing-time timeout (TTL needs
    * `TimeMode.ProcessingTime`). `ttlMs = 0` disables eviction (tests
    * driving `processAllAvailable`). */
  def funnelV2(events: Dataset[Event], stages: Seq[String],
               ttlMs: Long = 3600 * 1000L): Dataset[FunnelHit] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    events
      .groupByKey(_.user_id)
      .transformWithState(new FunnelProcessor(stages, ttlMs),
        if (ttlMs > 0) TimeMode.ProcessingTime() else TimeMode.None(),
        OutputMode.Append())
  }

  /** Batch-mode funnel with identical semantics (for specs + the oracle
    * path), as a secondary sort: one shuffle partitioned on user_id with
    * rows sorted (user_id, ts, event_id) WITHIN each partition by the
    * shuffle machinery, then a streaming single-pass scan that resets the
    * stage machine at each user boundary. Unlike the earlier
    * `it.toSeq.sortBy` inside flatMapGroups, no user's event history is
    * ever buffered in executor memory — a pathological hot user (bots,
    * service accounts) streams through in O(1) state.
    */
  def funnelBatch(spark: SparkSession, events: DataFrame, stages: Seq[String]): DataFrame = {
    import spark.implicits._
    val stageArr = stages.toArray
    events.select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value")).as[Event]
      .repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("ts"), col("event_id"))
      .mapPartitions { it =>
        // rows arrive grouped by user and time-ordered; scan statefully
        var curUser = 0L; var haveUser = false
        var stage = 0; var startUs = 0L
        it.flatMap { e =>
          if (!haveUser || e.user_id != curUser) {
            curUser = e.user_id; haveUser = true; stage = 0; startUs = 0L
          }
          if (stage < stageArr.length && e.event_type == stageArr(stage)) {
            if (stage == 0) startUs = e.ts.getTime
            stage += 1
            if (stage == stageArr.length) {
              stage = 0
              Iterator.single(
                FunnelHit(e.user_id, e.ts, (e.ts.getTime - startUs) / 1000.0))
            } else Iterator.empty
          } else Iterator.empty
        }
      }.toDF()
  }
}
