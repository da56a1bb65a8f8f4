package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.util.control.NonFatal
import graft.{SparkEntry, Tables}
import graft.operators.IncrementalCorpus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lit}

/** The JVM half of the benchmark: one closed-loop client that runs one
  * workload's ops in a seed-permuted order, pass after pass, and writes
  * raw timings, check digests, failures and (when traced) spans and
  * per-op layer metrics to a JSON file. `run.py` builds this, launches
  * it, checks the digests and reduces the file to the metrics.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --data SFDIR
  *             --run-dir DIR --out FILE --split SQL --batches K
  * where `--split` is the SQL expression that assigns each document of
  * `corpus_ingest` to one of K batches.
  */
object Main {

  /** The 10 BASELINE headliners. */
  val Headliners = Seq("q01_agg", "q02_filter_project", "q03_join_agg",
    "q04_semi_join", "q06_broadcast_join", "q07_star_join", "q08_window_rank",
    "q10_distinct_agg", "q15_sort_limit", "q17_having")

  /** Entries whose work sits in the codegen'd kernel expressions and
    * the driver-local kernels behind size caps. dd22_prefix_join is left
    * out: its 22-25 s would hide every other entry's change. */
  val LlmEntries = Seq("dd25_portable_lsh", "dd2_minhash_lsh",
    "dd9_semantic_dedup", "sim7_pq_ann", "sim10_covariance",
    "tx53_char_entropy", "tx13_tfidf", "q96_bootstrap_ci", "gr14_scc",
    "gr15_betweenness", "gr2_pagerank", "ev91_markov_removal",
    "mm5_image_neardup")

  val TpchTables = Seq("customer", "lineitem", "nation", "orders", "part",
    "region", "supplier")

  val Replicas = 8
  /** pp4's label-store bucket count for test-scale corpora. */
  val IngestBuckets = 8
  val CorpusEntry = "pp4_incremental_corpus"

  /** One timed unit of work: `build` calls into graft and returns the
    * frame to execute, or null when the call itself is the work. */
  final case class Op(name: String, build: () => DataFrame)

  /** `ops(p)` are pass p's ops; `tables` are the sources it reads, warmed
    * in set-up and probed in traced passes; `shuffle` permutes op order
    * per pass; `passS` is a warm pass's wall time on the reference box
    * (4 cores), which sizes the window; `afterPass(p)` measures pass p's
    * state. */
  final case class Workload(ops: Int => Seq[Op], entries: Seq[String],
                            dataDir: String, tables: Seq[String], shuffle: Boolean,
                            passS: Double,
                            afterPass: Int => Map[String, Double] = _ => Map.empty)

  private val out = mutable.LinkedHashMap.empty[String, Any]
  private val failures = mutable.ArrayBuffer.empty[Map[String, Any]]

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val runDir = a("run-dir")
    val nproc = Runtime.getRuntime.availableProcessors
    // Half the cores, at most 4: the rest is left to the JIT, the GC and
    // the driver thread, so that on a shared host the run does not
    // measure the scheduler.
    val n = math.max(1, math.min(nproc / 2, 4))
    out ++= Seq("workload" -> workload, "seed" -> seed, "trace" -> traced,
      "nproc" -> nproc, "local_n" -> n, "load1_start" -> load1())

    val setup = mutable.LinkedHashMap.empty[String, Any]
    def mark(phase: String): Unit = setup(phase) = epochMsNow()
    mark("jvm_main")
    val spark = SparkSession.builder().master(s"local[$n]").appName("perfbench")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.maxFields", "256")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate()
    mark("session")
    try {
      val wl = workloadOf(workload, spark, a("data"), runDir, a("split"),
        a("batches").toInt)
      val missing = wl.entries.filterNot(SparkEntry.queries.contains)
      if (missing.nonEmpty)
        throw new IllegalArgumentException(
          s"entries not in SparkEntry.queries: ${missing.mkString(", ")}")
      out("rows_only") = wl.entries.filterNot(SparkEntry.oracleSql.contains)
      mark("inputs")
      warmSources(spark, wl)
      mark("warm")
      out("setup_epoch_ms") = setup
      run(spark, wl, seed, seconds, traced)
      out("load1_end") = load1()
      out("peak_rss_mb") = peakRssMb()
      out("failures") = failures.toList
      Files.write(Paths.get(a("out")), Json.render(out).getBytes("UTF-8"))
    } finally spark.stop()
  }

  private def workloadOf(name: String, spark: SparkSession, data: String,
                         runDir: String, split: String, batches: Int): Workload = {
    def entryOps(dir: String, names: Seq[String]) = (_: Int) =>
      names.map(e => Op(e, () => SparkEntry.queries(e)(spark, dir)))
    name match {
      case "olap_1x" =>
        Workload(entryOps(data, Headliners), Headliners, data, TpchTables, true, 6.5)
      case "olap_8x" =>
        val dir = s"$runDir/rep$Replicas"
        replicate(spark, data, dir)
        Workload(entryOps(dir, Headliners), Headliners, dir, TpchTables, true, 15.0)
      case "llm_pipeline" =>
        Workload(entryOps(data, LlmEntries), LlmEntries, data, loaders.keys.toSeq.sorted,
          true, 22.0)
      case "corpus_ingest" => corpus(spark, data, runDir, split, batches)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  /** `olap_8x`'s input: lineitem and orders replicated 8x with shifted
    * keys, dims copied, as `graft.ScaleSoak.materialize` models growth.
    * Built here, per run and inside the run directory, because
    * `materialize` writes to a fixed, `_done`-cached directory outside it,
    * which would give set-up two modes. */
  private def replicate(spark: SparkSession, src: String, dst: String): Unit = {
    for ((t, key) <- Seq("lineitem" -> "l_orderkey", "orders" -> "o_orderkey")) {
      val base = spark.read.parquet(s"$src/$t.parquet")
      (0 until Replicas).map(i => base.withColumn(key, col(key) + lit(i * 10000000L)))
        .reduce(_ unionByName _).write.parquet(s"$dst/$t.parquet")
    }
    for (t <- Seq("nation", "region", "customer", "supplier", "part"))
      Files.copy(Paths.get(s"$src/$t.parquet"), Paths.get(s"$dst/$t.parquet"),
        StandardCopyOption.COPY_ATTRIBUTES)
  }

  /** `corpus_ingest`: each pass ingests the seed-split batches into a
    * fresh state directory, then reads the canonical corpus. The state
    * directories stay until the run directory is removed at exit: deleting
    * them between passes puts file-system delete and discard work into
    * the next timed pass. */
  private def corpus(spark: SparkSession, data: String, runDir: String,
                     split: String, batches: Int): Workload = {
    val docs = Tables.documents(spark, data).select("doc_id", "text")
    val inputBytes = docs.selectExpr("sum(octet_length(text))").head().getLong(0)
    out("ingest_input_bytes") = inputBytes
    out("split") = split
    def state(p: Int) = s"$runDir/state/p$p"
    val ops = (p: Int) =>
      (0 until batches).map { b =>
        Op(s"ingest_b$b", () => {
          IncrementalCorpus.ingest(spark, state(p), b.toLong,
            docs.filter(expr(split) === b), IngestBuckets)
          null
        })
      } :+ Op("canonical", () => IncrementalCorpus.canonical(spark, state(p)))
    val afterPass = (p: Int) => {
      val files = walk(new File(state(p)))
      val bytes = files.map(_.length).sum.toDouble
      Map("state_bytes" -> bytes, "state_files" -> files.size.toDouble,
        "write_amp" -> bytes / inputBytes)
    }
    Workload(ops, Seq(CorpusEntry), data, Seq("documents"), false, 9.0, afterPass)
  }

  /** Resolve every table once so set-up, not the first op, pays for
    * loading the parquet and noop-sink classes. */
  private def warmSources(spark: SparkSession, wl: Workload): Unit = {
    for (t <- wl.tables) loaders(t)(spark, wl.dataDir).schema
    spark.range(1).write.format("noop").mode("overwrite").save()
  }

  private val loaders: Map[String, (SparkSession, String) => DataFrame] = Map(
    "region" -> Tables.region, "nation" -> Tables.nation,
    "customer" -> Tables.customer, "supplier" -> Tables.supplier,
    "part" -> Tables.part, "orders" -> Tables.orders,
    "lineitem" -> Tables.lineitem, "documents" -> Tables.documents,
    "embeddings" -> Tables.embeddings, "events" -> Tables.events)

  private def run(spark: SparkSession, wl: Workload, seed: Long,
                  seconds: Double, traced: Boolean): Unit = {
    val tracer = new Tracer(spark)
    def order(p: Int): Seq[Op] = {
      val ops = wl.ops(p)
      if (wl.shuffle) new scala.util.Random(seed * 1000003L + p).shuffle(ops) else ops
    }

    // Untimed check pass: row counts and digests; it also warms up.
    val c0 = System.nanoTime()
    out("check") = order(0).map(op => check(op, 0))
    out("check_pass") = wl.afterPass(0) ++ Map("wall_s" -> (System.nanoTime() - c0) / 1e9)

    // The window is a fixed number of passes: as many as fill `seconds`
    // at the workload's reference pass time, at least two. The JIT is
    // still settling over these passes, each a few percent faster than the
    // last, so a window that stopped on the clock would count more, faster
    // passes on a faster box and amplify its speed. Pass 1 is a warm-up
    // pass and is not counted: after the check pass alone the first pass
    // runs 10-30% slower than the next.
    val windowPasses = math.max(2, math.round(seconds / wl.passS).toInt)
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    var p = 1
    // trace=1 runs untraced and traced passes in ABBA order, so that
    // warm-up drift cancels out of the overhead ratio; it needs one cycle.
    while (p <= windowPasses || (traced && p <= 5)) {
      val tracedPass = traced && (p % 4 == 3 || p % 4 == 0)
      passes += pass(spark, tracer, order(p), p, tracedPass, wl) ++ wl.afterPass(p) ++
        Map("warmup" -> (p == 1))
      p += 1
    }
    out("measure_s") = (System.nanoTime() - t0) / 1e9
    out("passes") = passes.toList
    if (traced) out("spans") = tracer.spans.toList.map(s => Map("id" -> s.id,
      "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
      "start_ms" -> s.start, "end_ms" -> s.end))

    // Rows-only entries: the digest must not change between passes.
    out("recheck") = order(0).filter(op => SparkEntry.queries.contains(op.name) &&
      !SparkEntry.oracleSql.contains(op.name)).map(op => check(op, p))
  }

  private def check(op: Op, p: Int): Map[String, Any] =
    try {
      val df = op.build()
      if (df == null) Map("op" -> op.name)
      else {
        val d = Digest.of(df)
        Map("op" -> op.name, "rows" -> d.rows, "digest" -> d.digest)
      }
    } catch { case NonFatal(e) => fail(op, p, e); Map("op" -> op.name, "error" -> true) }

  private def fail(op: Op, p: Int, e: Throwable): Unit =
    failures += Map("op" -> op.name, "pass" -> p, "class" -> e.getClass.getName,
      "message" -> String.valueOf(e.getMessage).take(2000))

  /** One pass: every op once, closed loop. A traced pass also probes
    * the Tables loaders and records spans and per-op layer metrics. */
  private def pass(spark: SparkSession, tr: Tracer, ops: Seq[Op], p: Int,
                   traced: Boolean, wl: Workload): Map[String, Any] = {
    val sc = spark.sparkContext
    val pid = s"pass$p"
    val layers = mutable.ArrayBuffer.empty[Map[String, Any]]
    if (traced) {
      tr.attach()
      val lo = System.nanoTime()
      wl.tables.foreach(t => loaders(t)(spark, wl.dataDir))
      val hi = System.nanoTime()
      val m = tr.close(s"$pid/tables", pid, "tables", "", tr.epochMs(lo), tr.epochMs(hi), Nil)
      layers += Map("op" -> "tables") ++ m
    }
    val start = System.nanoTime()
    val cpu0 = processCpuNs()
    val timings = ops.map { op =>
      val oid = s"$pid/${op.name}"
      val (cg0, cgn0) = if (traced) tr.codegen() else (0L, 0L)
      if (traced) sc.setJobGroup(oid, op.name)
      val a = System.nanoTime()
      var b = a
      var frameAnalysisMs = 0L
      val ok = try {
        val df = op.build()
        b = System.nanoTime()
        // the built frame's own analysis; executed commands report theirs
        if (traced && df != null)
          frameAnalysisMs = df.queryExecution.tracker.phases.get("analysis")
            .map(_.durationMs).getOrElse(0L)
        if (df != null) df.write.format("noop").mode("overwrite").save()
        true
      } catch { case NonFatal(e) => fail(op, p, e); false }
      val c = System.nanoTime()
      if (traced) {
        sc.clearJobGroup()
        val (cg1, cgn1) = tr.codegen()
        val (ea, eb, ec) = (tr.epochMs(a), tr.epochMs(b), tr.epochMs(c))
        val phases = Seq(Span(s"$oid/build", oid, "build", "", ea, eb),
          Span(s"$oid/execute", oid, "execute", "", eb, ec))
        val m = tr.close(oid, pid, "op", op.name, ea, ec, phases)
        layers += Map("op" -> op.name, "build.ms" -> (eb - ea),
          "codegen.compile_ms" -> (cg1 - cg0) / 1e6,
          "codegen.compiles" -> (cgn1 - cgn0).toDouble) ++ m ++
          Map("catalyst.analysis_ms" ->
            (m.getOrElse("catalyst.analysis_ms", 0.0) + frameAnalysisMs))
      }
      Map("op" -> op.name, "s" -> (c - a) / 1e9, "ok" -> ok)
    }
    val end = System.nanoTime()
    val cpu1 = processCpuNs()
    if (traced) {
      tr.spans += Span(pid, "", "pass", "", tr.epochMs(start), tr.epochMs(end))
      tr.detach()
    }
    Map("index" -> p, "traced" -> traced, "wall_s" -> (end - start) / 1e9,
      "cpu_s" -> (cpu1 - cpu0) / 1e9,
      "ops" -> timings) ++ (if (traced) Map("layers" -> layers.toList) else Map.empty)
  }

  private def epochMsNow(): Double = {
    val now = java.time.Instant.now()
    now.getEpochSecond * 1e3 + now.getNano / 1e6
  }

  /** CPU time of every thread of this JVM: tasks, driver, GC and JIT. */
  private def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def load1(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)

  private def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else if (f.exists) Seq(f) else Nil
}

/** Minimal JSON rendering for the result file. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case x => quote(x.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
