package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_COL, REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative counters read at layer boundaries; differences of two
  * readings give the work done in between.
  */
final case class Counts(jobs: Long, stages: Long, tasks: Long, taskCpuNs: Long,
    taskRunMs: Long, compiles: Long, compileNs: Long, driverCompileNs: Long,
    filesDiscovered: Long, fileCacheHits: Long) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    taskCpuNs - o.taskCpuNs, taskRunMs - o.taskRunMs, compiles - o.compiles,
    compileNs - o.compileNs, driverCompileNs - o.driverCompileNs,
    filesDiscovered - o.filesDiscovered, fileCacheHits - o.fileCacheHits)
}

object Counts {
  val Zero: Counts = Counts(0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
}

/** Spark job/stage/task totals, and every job's [start, end] interval
  * in epoch milliseconds, from the public listener interface.
  */
final class JobCounter extends SparkListener {
  val jobs, stages, tasks, cpuNs, runMs = new AtomicLong
  private val started = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val finished = new ConcurrentLinkedQueue[(Long, Long)]()
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    started.put(e.jobId, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(started.remove(e.jobId)).foreach(t0 => finished.add((t0.longValue, e.time)))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      cpuNs.addAndGet(m.executorCpuTime)
      runMs.addAndGet(m.executorRunTime)
    }
  }

  /** Remove and return the intervals of the jobs finished so far. */
  def takeIntervals(): Seq[(Long, Long)] = {
    val out = Seq.newBuilder[(Long, Long)]
    var x = finished.poll()
    while (x != null) { out += x; x = finished.poll() }
    out.result()
  }
}

/** Every Dataset action's QueryExecution, as Spark reports it. */
final class ActionLog extends QueryExecutionListener {
  val seen = new ConcurrentLinkedQueue[QueryExecution]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    seen.add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    seen.add(qe)
  def take(): Seq[QueryExecution] = {
    val out = Seq.newBuilder[QueryExecution]
    var q = seen.poll()
    while (q != null) { out += q; q = seen.poll() }
    out.result()
  }
}

/** Captures the codegen compiler's own "Code generated in N ms" log
  * lines, the only public record of per-compile time (CodegenMetrics
  * keeps a sampled histogram, exact only for the count). Compiles on a
  * task thread run inside a job; `driverCompileNs` counts the others,
  * which delay the job's submission.
  */
final class CodegenLog extends AbstractAppender("graftbench-codegen", null, null, true,
    Property.EMPTY_ARRAY) {
  val compileNs, driverCompileNs = new AtomicLong
  private val Pattern = """Code generated in ([0-9.]+) ms""".r.unanchored
  override def append(e: LogEvent): Unit = e.getMessage.getFormattedMessage match {
    case Pattern(ms) =>
      val ns = (ms.toDouble * 1e6).toLong
      compileNs.addAndGet(ns)
      if (!e.getThreadName.startsWith("Executor task launch")) driverCompileNs.addAndGet(ns)
    case _ => ()
  }
}

object CodegenLog {
  private val Source = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"

  def install(): CodegenLog = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val app = new CodegenLog
    app.start()
    cfg.addAppender(app)
    val lc = new LoggerConfig(Source, Level.INFO, false)
    lc.addAppender(app, Level.INFO, null)
    cfg.addLogger(Source, lc)
    ctx.updateLoggers()
    app
  }
}

/** The traced run's instruments, registered on one session. */
final class Probes(spark: SparkSession) {
  val jobs = new JobCounter
  val actions = new ActionLog
  val resources = new graft.BenchMetricsListener
  private val codegen = CodegenLog.install()
  spark.sparkContext.addSparkListener(jobs)
  spark.sparkContext.addSparkListener(resources)
  spark.listenerManager.register(actions)

  /** Wait until every posted listener event has been delivered. */
  def drain(): Unit = org.apache.spark.sql.GraftListenerBridge.drain(spark.sparkContext)

  def counts(): Counts = Counts(jobs.jobs.get, jobs.stages.get, jobs.tasks.get,
    jobs.cpuNs.get, jobs.runMs.get, CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    codegen.compileNs.get, codegen.driverCompileNs.get, HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount,
    HiveCatalogMetrics.METRIC_FILE_CACHE_HITS.getCount)
}

/** Read-only walks over executed physical plans. */
object PlanWalk extends AdaptiveSparkPlanHelper {

  /** Root paths of every file-scan leaf, subqueries included. */
  def scanPaths(p: SparkPlan): Seq[String] =
    collectWithSubqueries(p) { case s: FileSourceScanExec =>
      s.relation.location.rootPaths.map(_.toUri.getPath)
    }.flatten

  /** Repartition-by-key exchanges (the program's fan-out reads). */
  def fanExchanges(p: SparkPlan): Int =
    collectWithSubqueries(p) {
      case e: ShuffleExchangeExec
          if e.shuffleOrigin == REPARTITION_BY_COL || e.shuffleOrigin == REPARTITION_BY_NUM => 1
    }.sum

  /** Planning-phase milliseconds (optimization + physical planning) and
    * analysis milliseconds, from the query's own planning tracker.
    */
  def phasesMs(qe: QueryExecution): (Long, Long) = {
    val ph = qe.tracker.phases
    def ms(n: String) = ph.get(n).map(_.durationMs).getOrElse(0L)
    (ms("optimization") + ms("planning"), ms("analysis"))
  }
}
