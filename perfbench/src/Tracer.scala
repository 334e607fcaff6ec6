package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.datasources.v2.FileScan
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Traced mode: listeners registered from the benchmark, never from the
  * engine. Jobs, stages and tasks are attributed through the
  * `perfbench.span` local property the harness sets around each builder
  * call and each action ("pass|query|build" or "pass|query|action");
  * streaming micro-batch threads inherit it from the builder that starts
  * them. Planning events and stream progress carry no local property and
  * are attributed by time to the traced execution that contains them.
  * Everything stays in memory until the run ends.
  */
final class Tracer extends SparkListener {
  @volatile var enabled = false

  final class Acc {
    var jobs, stages, submitted, tasks, retries = 0L
    var runMs, cpuNs, gcMs, inBytes, inRecords, shWrite, shRead, fetchMs, spill, outBytes = 0L
    val jobSpans = ArrayBuffer.empty[(Long, Long)]
  }

  private val accs = mutable.LinkedHashMap.empty[String, Acc]
  private val jobSpan = mutable.HashMap.empty[Int, (String, Long)]
  private val stageSpan = mutable.HashMap.empty[Int, String]
  private val jobMs = ArrayBuffer.empty[Long]
  // (analysis start ms, analysis ms, optimization ms, planning ms, file scans)
  private val plans = ArrayBuffer.empty[(Long, Long, Long, Long, Int)]
  // Per traced builder call: the returned DataFrame's own analysis (ms) and
  // the Catalyst rule time of the whole call (ns), which also covers the
  // analysis of every intermediate DataFrame the builder made.
  private val built = ArrayBuffer.empty[(Long, Long)]
  // (batch start ms, trigger duration ms, state rows)
  private val batches = ArrayBuffer.empty[(Long, Long, Long)]

  private def acc(span: String) = accs.getOrElseUpdate(span, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).map(_.getProperty("perfbench.span")).orNull
    if (span != null) synchronized {
      jobSpan(e.jobId) = (span, e.time)
      e.stageIds.foreach(stageSpan(_) = span)
      val a = acc(span)
      a.jobs += 1
      a.stages += e.stageInfos.size
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (span, t0) =>
      acc(span).jobSpans += ((t0, e.time))
      jobMs += e.time - t0
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSpan.get(e.stageInfo.stageId).foreach(acc(_).submitted += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { span =>
      val a = acc(span)
      a.tasks += 1
      if (e.taskInfo.attemptNumber > 0 || !e.taskInfo.successful) a.retries += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.inBytes += m.inputMetrics.bytesRead
        a.inRecords += m.inputMetrics.recordsRead
        a.shWrite += m.shuffleWriteMetrics.bytesWritten
        a.shRead += m.shuffleReadMetrics.totalBytesRead
        a.fetchMs += m.shuffleReadMetrics.fetchWaitTime
        a.spill += m.diskBytesSpilled
        a.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    // Posted to the shared bus for every session, including the
    // newSession() clones most stream lifecycles run on.
    case p: StreamingQueryListener.QueryProgressEvent if enabled =>
      val pr = p.progress
      val start = java.time.Instant.parse(pr.timestamp).toEpochMilli
      val dur = Option(pr.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      val state = pr.stateOperators.map(_.numRowsTotal).sum
      synchronized { batches += ((start, dur, state)) }
    case _ =>
  }

  def onPlan(qe: QueryExecution): Unit = if (enabled) {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    val start = ph.get("analysis").map(_.startTimeMs).getOrElse(System.currentTimeMillis())
    val scans = Tracer.fileScans(qe.executedPlan)
    synchronized { plans += ((start, ms("analysis"), ms("optimization"), ms("planning"), scans)) }
  }

  /** The DataFrame a builder returned is analysed but not yet optimised;
    * only its analysis phase is read, so no planning is triggered here.
    */
  def onBuilt(qe: QueryExecution, ruleNs: Long): Unit = {
    val analysis = qe.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L)
    synchronized { built += ((analysis, ruleNs)) }
  }

  /** Waits until every event posted so far has been delivered. */
  def drain(spark: SparkSession): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Raw per-layer figures over the traced executions; perfbench/run.py
    * derives the reported metrics from them.
    */
  def report(j: Json, traced: Seq[Harness.Exec], catalogLoadMs: Seq[Double],
      setup: Tracer.Codegen, window: Tracer.Codegen, written: Seq[java.nio.file.Path]): Unit = synchronized {
    def inExec(t: Long) = traced.find(e => e.startMs <= t && t <= e.endMs)
    j.raw("spans", accs.map { case (k, a) =>
      val busy = Tracer.unionMs(a.jobSpans.toSeq)
      s"[${Json.str(k)},${Seq(a.jobs, a.stages, a.submitted, a.tasks, a.retries, a.runMs, a.cpuNs,
        a.gcMs, a.inBytes, a.inRecords, a.shWrite, a.shRead, a.fetchMs, a.spill, a.outBytes, busy).mkString(",")}]"
    }.mkString("[", ",", "]"))
    j.raw("job_ms", jobMs.mkString("[", ",", "]"))
    j.raw("plans", plans.flatMap { case (t, a, o, p, s) =>
      inExec(t).map(e => s"[${Json.str(if (t < e.buildEndMs) "build" else "action")},$a,$o,$p,$s]")
    }.mkString("[", ",", "]"))
    j.raw("built", built.map { case (a, r) => s"[$a,$r]" }.mkString("[", ",", "]"))
    j.raw("batches", batches.filter(b => inExec(b._1).isDefined)
      .map { case (_, d, s) => s"[$d,$s]" }.mkString("[", ",", "]"))
    j.raw("catalog_load_ms", catalogLoadMs.map(Json.d).mkString("[", ",", "]"))
    j.raw("codegen", Seq(setup, window).map(c => s"[${c.count},${Json.d(c.ms)}]").mkString("[", ",", "]"))
    j.num("written_files", written.map { p =>
      val f = p.toFile.listFiles(); if (f == null) 0 else f.count(_.getName.endsWith(".parquet"))
    }.sum.toDouble)
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    j.num("jvm_gc_s", gcMs / 1e3)
    j.num("jit_compile_s", ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3)
    j.num("heap_peak_mb", ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0)
  }
}

/** Loaded by every session's ExecutionListenerManager through
  * `spark.sql.queryExecutionListeners` (set by run.py in traced mode), so
  * planning in newSession() clones is seen too.
  */
final class PlanListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Tracer.current.foreach(_.onPlan(qe))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    Tracer.current.foreach(_.onPlan(qe))
}

object Tracer extends AdaptiveSparkPlanHelper {
  @volatile var current: Option[Tracer] = None

  def install(spark: SparkSession): Tracer = {
    val t = new Tracer
    spark.sparkContext.addSparkListener(t)
    current = Some(t)
    t
  }

  final case class Codegen(count: Long, ms: Double) {
    def -(o: Codegen): Codegen = Codegen(count - o.count, ms - o.ms)
  }

  /** Janino compilations so far and their total time. The histogram's
    * reservoir keeps every sample up to 1028; past that the total is the
    * sampled mean times the count.
    */
  def codegenSnapshot(): Codegen = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val s = h.getSnapshot
    val n = h.getCount
    Codegen(n, if (n <= s.size) s.getValues.sum.toDouble else s.getMean * n)
  }

  /** Total time spent in Catalyst rules (analyzer and optimizer, all
    * threads) since the JVM started, in ns.
    */
  def ruleNs(): Long = org.apache.spark.sql.catalyst.rules.RuleExecutor.getCurrentMetrics().time

  def fileScans(plan: SparkPlan): Int = collectWithSubqueries(plan) {
    case s: FileSourceScanExec => s
    case s: BatchScanExec if s.scan.isInstanceOf[FileScan] => s
  }.size

  /** Length of the union of [start, end] intervals. */
  def unionMs(spans: Seq[(Long, Long)]): Long = {
    var total, end = 0L
    var first = true
    spans.sortBy(_._1).foreach { case (s, e) =>
      if (first || s > end) { total += e - s; end = e; first = false }
      else if (e > end) { total += e - end; end = e }
    }
    total
  }

  def procStatusKb(field: String): Double =
    try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith(field + ":")).map(_.split("\\s+")(1).toDouble).getOrElse(-1.0)
    } catch { case _: Throwable => -1.0 }
}
