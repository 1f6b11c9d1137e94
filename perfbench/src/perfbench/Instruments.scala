package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable

import com.codahale.metrics.{Histogram, Reservoir, Snapshot, UniformSnapshot}
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Always-on executor totals (present in traced and untraced runs): job,
 * stage and task counts, task time, CPU, GC, shuffle and spill, plus the
 * bytes held by cached RDD blocks and their peak since the last reset.
 *
 * Jobs whose call site `excluded` matches (fixture staging that a workload
 * keeps out of its wall time) are counted only as `excluded_jobs`; their
 * stages and tasks are left out of every other counter. A job submitted
 * from one of Spark's pools matches through its SQL execution's call site. */
final class Totals(excluded: String => Boolean = _ => false) extends SparkListener {
  private val counters = Seq("jobs", "stages", "tasks", "task_run_ms", "task_cpu_ns",
    "gc_ms", "shuffle_write_b", "shuffle_read_b", "spill_b", "excluded_jobs")
    .map(_ -> new AtomicLong).toMap
  private val blocks = new ConcurrentHashMap[String, java.lang.Long]()
  private var cachedB = 0L
  private var peakB = 0L
  private val excludedExecs = ConcurrentHashMap.newKeySet[Long]()
  private val excludedStages = ConcurrentHashMap.newKeySet[Int]()

  private def add(k: String, v: Long): Unit = counters(k).addAndGet(v)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if excluded(s.details) => excludedExecs.add(s.executionId)
    case _ =>
  }
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    if (e.stageInfos.exists(s => excluded(s.details)) || exec.exists(x => excludedExecs.contains(x.toLong))) {
      e.stageIds.foreach(excludedStages.add)
      add("excluded_jobs", 1)
    } else add("jobs", 1)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (!excludedStages.contains(e.stageInfo.stageId)) add("stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (!excludedStages.contains(e.stageId)) {
    add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("task_run_ms", m.executorRunTime)
      add("task_cpu_ns", m.executorCpuTime)
      add("gc_ms", m.jvmGCTime)
      add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead)
      add("spill_b", m.diskBytesSpilled)
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val i = e.blockUpdatedInfo
    if (i.blockId.isRDD) synchronized {
      val size = if (i.storageLevel.isValid) i.memSize + i.diskSize else 0L
      val old = Option(blocks.put(i.blockId.name, size)).map(_.longValue).getOrElse(0L)
      cachedB += size - old
      peakB = math.max(peakB, cachedB)
    }
  }

  def reset(): Unit = synchronized {
    counters.values.foreach(_.set(0))
    excludedExecs.clear()
    excludedStages.clear()
    peakB = cachedB
  }
  def cachedMb: Double = synchronized(cachedB / 1048576.0)
  def peakMb: Double = synchronized(peakB / 1048576.0)
  def get(k: String): Long = counters(k).get
}

/** Counts whole-stage-codegen fallbacks from Spark's own log lines, and
 * keeps the generated-source dumps of failed compiles off the console. */
final class CodegenLog
    extends AbstractAppender("perfbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
  val fallbacks = new AtomicLong
  override def append(e: LogEvent): Unit = {
    val m = e.getMessage.getFormattedMessage
    if (m.startsWith("Whole-stage codegen disabled") ||
        m.startsWith("Found too long generated codes")) fallbacks.incrementAndGet()
  }
}

object CodegenLog {
  def install(): CodegenLog = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val app = new CodegenLog
    app.start()
    cfg.addAppender(app)
    Seq("org.apache.spark.sql.execution.WholeStageCodegenExec" -> Level.INFO,
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator" -> Level.ERROR)
      .foreach { case (name, level) =>
        val lc = new LoggerConfig(name, level, false)
        lc.addAppender(app, level, null)
        cfg.addLogger(name, lc)
      }
    ctx.updateLoggers()
    val f = classOf[Histogram].getDeclaredField("reservoir")
    f.setAccessible(true)
    f.set(CodegenMetrics.METRIC_SOURCE_CODE_SIZE, sourceBytes)
    app
  }

  /** Total of the generated source sizes Spark records, swapped in for the
   * histogram's own reservoir in `install`. */
  private val sourceBytes = new SumReservoir

  /** (classes compiled, compile ns, generated source bytes) so far in this
   * JVM, all three exact running totals. */
  def codegenTotals(): (Long, Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime, sourceBytes.total.sum)
}

/** A reservoir that keeps only the sum of its samples. Spark's source-size
 * histogram samples into an ExponentiallyDecayingReservoir of 1028 entries:
 * once the JVM has compiled more classes than that, each new sample evicts a
 * random older one and a difference of two snapshot sums is wrong. */
final class SumReservoir extends Reservoir {
  val total = new LongAdder
  def size(): Int = 0
  def update(v: Long): Unit = total.add(v)
  def getSnapshot: Snapshot = new UniformSnapshot(Array.emptyLongArray)
}

/** Traced runs only: Catalyst phase times and graft's optimizer-rule time per
 * executed query, and every job's start time, SQL execution id and call
 * site (used to attribute pipeline jobs to the stage that issued them). */
final class Detail extends SparkListener with QueryExecutionListener {
  final case class Job(id: Int, startMs: Long, execId: Option[Long], callSite: String)
  private val phaseMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val execSites = mutable.Map.empty[Long, String]
  private var graftRuleNs = 0L
  private val jobBuf = mutable.ArrayBuffer.empty[Job]

  private def record(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (p, s) => phaseMs(p) += s.durationMs }
    graftRuleNs += qe.tracker.rules.collect {
      case (name, s) if name.startsWith("graft.") => s.totalTimeNs
    }.sum
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    jobBuf += Job(e.jobId, e.time, exec, site)
  }

  /** An SQL execution's start event carries the call site of the action,
   * taken on the calling thread; jobs its stages submit from Spark's pools
   * carry only the pool thread's stack. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized(execSites(s.executionId) = s.details)
    case _ =>
  }

  def reset(): Unit = synchronized { phaseMs.clear(); graftRuleNs = 0L; jobBuf.clear(); execSites.clear() }
  def execSite(id: Long): Option[String] = synchronized(execSites.get(id))
  def phaseS(p: String): Double = synchronized(phaseMs(p) / 1000.0)
  def graftRulesS: Double = synchronized(graftRuleNs / 1e9)
  def jobs: Seq[Job] = synchronized(jobBuf.toList)
}

/** Spans around the public calls, named after them. Recorded only while
 * enabled; kept in memory and written out when the run ends. */
object Spans {
  final case class Span(id: Int, name: String, op: Int, parent: Int, startNs: Long, endNs: Long)
  val t0Ns: Long = System.nanoTime()
  val t0EpochMs: Long = System.currentTimeMillis()
  var enabled = false
  var op = -1
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = { nextId += 1; nextId }
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val s = System.nanoTime()
      try body finally {
        stack = stack.tail
        done += Span(id, name, op, parent, s, System.nanoTime())
      }
    }

  /** A span whose interval was measured by the program itself. */
  def add(name: String, parent: Int, startNs: Long, endNs: Long): Unit = {
    nextId += 1
    done += Span(nextId, name, op, parent, startNs, endNs)
  }

  def ofOp(o: Int): Seq[Span] = done.filter(_.op == o).toSeq
  def all: Seq[Span] = done.toSeq

  /** Duration minus the part of it covered by the span's children. */
  def selfNs(s: Span, spans: Seq[Span]): Long = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs max s.startNs, k.endNs min s.endNs))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a >= end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    (s.endNs - s.startNs) - covered
  }
}
