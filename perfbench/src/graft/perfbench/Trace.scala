package graft.perfbench

import scala.collection.mutable
import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A span: one interval of the pass → op → build/execute → job → stage
  * tree. Times are epoch milliseconds (the listener's clock). */
final case class Span(id: String, parent: String, kind: String, name: String,
                      start: Double, end: Double) {
  def ms: Double = end - start
}

/** Listener-side records for one traced op. Registered only during
  * traced passes, so untraced passes run with no listener attached. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {

  private final class Job(val id: Int, val group: String, val start: Long,
                          val stageIds: Set[Int]) { var end: Long = -1L }

  private final class Stage(val id: Int, val attempt: Int) {
    var submit = -1L; var complete = -1L
    val m: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  }

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), Stage]
  private val catalyst = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var queries = 0

  val spans = mutable.ArrayBuffer.empty[Span]
  private val clockNs = System.nanoTime()
  private val clockMs = System.currentTimeMillis().toDouble
  /** `System.nanoTime()` on the listener's epoch-millisecond clock. */
  def epochMs(ns: Long): Double = clockMs + (ns - clockNs) / 1e6

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def detach(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs += new Job(e.jobId, group, e.time, e.stageIds.toSet)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stages.getOrElseUpdate((i.stageId, i.attemptNumber()),
      new Stage(i.stageId, i.attemptNumber())).submit =
      i.submissionTime.getOrElse(System.currentTimeMillis())
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages.getOrElseUpdate((i.stageId, i.attemptNumber()),
      new Stage(i.stageId, i.attemptNumber())).complete =
      i.completionTime.getOrElse(System.currentTimeMillis())
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate((e.stageId, e.stageAttemptId),
      new Stage(e.stageId, e.stageAttemptId))
    val info = e.taskInfo
    s.m("sched.tasks") += 1
    val t = e.taskMetrics
    if (t != null) {
      val getting =
        if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      s.m("sched.delay_ms") += math.max(0L, info.duration - t.executorRunTime -
        t.executorDeserializeTime - t.resultSerializationTime - getting)
      s.m("exec.task_run_ms") += t.executorRunTime
      s.m("exec.task_cpu_ms") += t.executorCpuTime / 1e6
      s.m("exec.gc_ms") += t.jvmGCTime
      s.m("exec.deser_ms") += t.executorDeserializeTime
      s.m("scan.bytes") += t.inputMetrics.bytesRead
      s.m("scan.records") += t.inputMetrics.recordsRead
      s.m("shuffle.write_bytes") += t.shuffleWriteMetrics.bytesWritten
      s.m("shuffle.read_bytes") += t.shuffleReadMetrics.totalBytesRead
      s.m("shuffle.fetch_wait_ms") += t.shuffleReadMetrics.fetchWaitTime
      s.m("spill.bytes") += t.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordQuery(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    recordQuery(qe)
  private def recordQuery(qe: QueryExecution): Unit = synchronized {
    queries += 1
    for ((phase, s) <- qe.tracker.phases)
      catalyst(s"catalyst.${phase}_ms") += s.durationMs
  }

  /** Everything recorded since the last call, as spans under `parent`
    * plus summed counters; clears the buffers. Call once the listener bus
    * has drained. */
  private def take(parent: String, lo: Double, hi: Double)
      : (Seq[Span], Map[String, Double]) = synchronized {
    val js = jobs.toList
    val jobSpans = js.map { j =>
      Span(s"$parent/job${j.id}", parent, "job", j.group,
        j.start.toDouble, (if (j.end < 0) hi.toLong else j.end).toDouble)
    }
    val stageSpans = stages.values.toList.filter(_.submit >= 0).map { s =>
      // a stage hangs under the latest job that lists it and had started
      val owner = js.filter(j => j.stageIds(s.id) && j.start <= s.submit)
        .sortBy(_.start).lastOption
      val p = owner.map(j => s"$parent/job${j.id}").getOrElse(parent)
      Span(s"$parent/stage${s.id}.${s.attempt}", p, "stage", "",
        s.submit.toDouble, (if (s.complete < 0) hi.toLong else s.complete).toDouble)
    }
    val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    stages.values.foreach(_.m.foreach { case (k, v) => counters(k) += v })
    catalyst.foreach { case (k, v) => counters(k) += v }
    counters("sched.jobs") = js.size
    counters("sched.stages") = stageSpans.size
    counters("catalyst.queries") = queries
    jobs.clear(); stages.clear(); catalyst.clear(); queries = 0
    (jobSpans ++ stageSpans, counters.toMap)
  }

  /** Codegen counters: (compile ns, number of compilations). */
  def codegen(): (Long, Long) =
    (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  /** Drain the listener bus and turn what it delivered into the spans and
    * layer metrics of one finished interval `[lo, hi]` named `id`. */
  def close(id: String, parent: String, kind: String, name: String,
            lo: Double, hi: Double, phases: Seq[Span]): Map[String, Double] = {
    PerfbenchBus.drain(spark.sparkContext)
    val own = Span(id, parent, kind, name, lo, hi)
    val (children, counters) = take(id, lo, hi)
    // jobs hang under the build or execute phase they started in
    val rehomed = children.map { c =>
      if (c.kind != "job") c
      else phases.find(p => c.start >= p.start && c.start < p.end)
        .map(p => c.copy(parent = p.id)).getOrElse(c)
    }
    val all = own +: (phases ++ rehomed)
    spans ++= all
    val jobSpans = rehomed.filter(_.kind == "job")
    val self = Trace.selfTimes(all)
    val layers = mutable.Map.empty[String, Double] ++ counters
    layers("wall_ms") = own.ms
    layers("driver.nojob_ms") = own.ms - Trace.covered(own, jobSpans)
    for (p <- phases)
      layers(s"${p.kind}.jobs") = jobSpans.count(_.parent == p.id).toDouble
    for ((k, v) <- self.groupMapReduce(s => all.find(_.id == s._1).get.kind)(_._2)(_ + _))
      layers(s"self.${k}_ms") = v
    layers("trace.residual_ms") = self.values.sum - own.ms
    layers.toMap
  }
}

object Trace {
  /** Length of `parent`'s interval covered by the union of `children`. */
  def covered(parent: Span, children: Seq[Span]): Double = {
    val iv = children.map(c => (math.max(c.start, parent.start), math.min(c.end, parent.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0; var curA = Double.NaN; var curB = Double.NaN
    for ((a, b) <- iv) {
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) total += curB - curA
    total
  }

  /** Self time of every span: its duration minus the part of it that its
    * children cover. Siblings that overlap (concurrent jobs) make the
    * self times sum to more than the root's wall; that excess is the
    * residual the artifact reports. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map(s => s.id -> (s.ms - covered(s, kids.getOrElse(s.id, Nil)))).toMap
  }
}
