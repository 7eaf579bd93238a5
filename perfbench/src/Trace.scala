package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** One timed interval at a layer boundary. Times are epoch
  * microseconds; `parent` is the enclosing span's id (0 = none) and
  * `op` the benchmark operation the span belongs to (0 = not known). */
final case class Span(id: Long, op: Long, layer: String, name: String,
    start: Long, end: Long, parent: Long)

/** Optimizer rule that changes nothing: while a traced pass runs it
  * remembers the planning tracker of every query the optimizer sees,
  * except the harness's own checks. This reaches the statements the
  * HTTP face runs as plain RDD jobs, which a `QueryExecutionListener`
  * never hears about. */
object PlanningProbe extends Rule[LogicalPlan] {
  @volatile private[perfbench] var sink: java.util.Set[QueryPlanningTracker] = _
  override def apply(plan: LogicalPlan): LogicalPlan = {
    val s = sink
    if (s != null && !Trace.inCheck) QueryPlanningTracker.get.foreach(s.add)
    plan
  }
}

object Trace {
  /** Spark local property set while the harness runs a check; Spark
    * carries it to every job the check submits. */
  val checkProp = "perfbench.check"

  def inCheck: Boolean =
    SparkSession.getDefaultSession.exists(_.sparkContext.getLocalProperty(checkProp) != null)
}

/** Spans and counters for the traced passes of one run.
  *
  * Spans are recorded from the benchmark's own code around each call
  * into a layer, plus the Spark jobs seen by a [[SparkListener]] and
  * the query-planning phases collected by [[PlanningProbe]]. Both are
  * active only for the span of a traced pass ([[attach]] /
  * [[detach]]), so untraced passes of the same run pay nothing and the
  * difference between the two is the tracing cost. Everything stays in
  * memory until [[writeSpans]]. */
final class Trace(spark: SparkSession) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  @volatile private var on = false

  /** Wall clock in epoch microseconds with nanoTime resolution. */
  private val baseEpochMicros = System.currentTimeMillis() * 1000
  private val baseNanos = System.nanoTime()
  def nowMicros: Long = baseEpochMicros + (System.nanoTime() - baseNanos) / 1000

  def newOp(): Long = ids.incrementAndGet()

  /** Time `body` as a span when tracing is on; a plain call otherwise. */
  def span[T](op: Long, layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get
      stack.set(id :: parents)
      val t0 = nowMicros
      try body
      finally {
        spans.add(Span(id, op, layer, name, t0, nowMicros,
          parents.headOption.getOrElse(0L)))
        stack.set(parents)
      }
    }

  // -- counters, accumulated only while attached ----------------------

  val jobs = new LongAdder
  val stages = new LongAdder
  val tasks = new LongAdder
  val singleTaskStages = new LongAdder
  val runMs = new LongAdder
  val cpuNs = new LongAdder
  val gcMs = new LongAdder
  val shuffleReadBytes = new LongAdder
  val shuffleWriteBytes = new LongAdder
  val spillBytes = new LongAdder
  val peakExecBytes = new AtomicLong(0)
  val analysisMs = new LongAdder
  val optimizationMs = new LongAdder
  val planningMs = new LongAdder
  /** Closed job intervals (epoch ms) seen while attached. */
  val jobIntervals = new ConcurrentLinkedQueue[(Long, Long)]()
  /** Intervals (epoch ms) of the harness's checks while attached. */
  val checkIntervals = new ConcurrentLinkedQueue[(Long, Long)]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
  /** Stages of jobs that checks submitted: not counted. */
  private val checkStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  private val opProp = "perfbench.op"

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      if (prop(Trace.checkProp).isDefined) e.stageIds.foreach(checkStages.add)
      else {
        jobs.increment()
        jobStarts.put(e.jobId, (e.time, prop(opProp).map(_.toLong).getOrElse(0L)))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { case (t0, op) =>
        jobIntervals.add((t0, e.time))
        spans.add(Span(ids.incrementAndGet(), op, "sched", s"job ${e.jobId}",
          t0 * 1000, e.time * 1000, 0L))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (!checkStages.contains(e.stageInfo.stageId)) {
        stages.increment()
        if (e.stageInfo.numTasks == 1) singleTaskStages.increment()
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (!checkStages.contains(e.stageId)) {
      tasks.increment()
      val m = e.taskMetrics
      if (m != null) {
        runMs.add(m.executorRunTime)
        cpuNs.add(m.executorCpuTime)
        gcMs.add(m.jvmGCTime)
        shuffleReadBytes.add(m.shuffleReadMetrics.totalBytesRead)
        shuffleWriteBytes.add(m.shuffleWriteMetrics.bytesWritten)
        spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
        peakExecBytes.accumulateAndGet(m.peakExecutionMemory, math.max)
      }
    }
  }

  private val codegenTime0 = new AtomicLong
  private val codegenCount0 = new AtomicLong
  val codegenNs = new LongAdder
  val codegenCompiles = new LongAdder

  private def codegenNanos: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
  private def codegenCount: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Start recording: register the listener and arm the planning probe. */
  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    PlanningProbe.sink = java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[QueryPlanningTracker, java.lang.Boolean]()))
    codegenTime0.set(codegenNanos)
    codegenCount0.set(codegenCount)
    on = true
  }

  /** Stop recording once every event of the pass has been delivered. */
  def detach(): Unit = {
    on = false
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    codegenNs.add(codegenNanos - codegenTime0.get)
    codegenCompiles.add(codegenCount - codegenCount0.get)
    spark.sparkContext.removeSparkListener(sparkListener)
    val trackers = PlanningProbe.sink
    PlanningProbe.sink = null
    trackers.synchronized(trackers.asScala.toSeq).foreach { t =>
      t.phases.foreach { case (phase, s) =>
        val adder = phase match {
          case QueryPlanningTracker.ANALYSIS => Some(analysisMs)
          case QueryPlanningTracker.OPTIMIZATION => Some(optimizationMs)
          case QueryPlanningTracker.PLANNING => Some(planningMs)
          case _ => None
        }
        adder.foreach { a =>
          a.add(s.durationMs)
          spans.add(Span(ids.incrementAndGet(), 0L, "driver", phase,
            s.startTimeMs * 1000, s.endTimeMs * 1000, 0L))
        }
      }
    }
  }

  /** Run a harness check: while attached, its jobs, plans and codegen
    * compiles are left out of the counters and its interval is cut out
    * of the pass windows. Checks run on the pass's own thread while no
    * other operation is in flight. */
  def excluding[T](body: => T): T =
    if (!on) body
    else {
      val sc = spark.sparkContext
      val (t0, c0, ms0) = (codegenNanos, codegenCount, System.currentTimeMillis())
      sc.setLocalProperty(Trace.checkProp, "1")
      try body
      finally {
        sc.setLocalProperty(Trace.checkProp, null)
        codegenNs.add(t0 - codegenNanos)
        codegenCompiles.add(c0 - codegenCount)
        checkIntervals.add((ms0, System.currentTimeMillis()))
      }
    }

  /** Tag jobs submitted from this thread with operation `op`. */
  def tagJobs(op: Long): Unit =
    spark.sparkContext.setLocalProperty(opProp, if (op == 0L) null else op.toString)

  /** Milliseconds of the given windows covered by no job and no check. */
  def outsideJobsMs(windows: Seq[(Long, Long)]): Long = {
    val merged = mutable.ArrayBuffer[(Long, Long)]()
    (jobIntervals.asScala.toSeq ++ checkIntervals.asScala).sortBy(_._1).foreach { case (s, e) =>
      if (merged.nonEmpty && s <= merged.last._2)
        merged(merged.size - 1) = (merged.last._1, math.max(merged.last._2, e))
      else merged += ((s, e))
    }
    windows.map { case (ws, we) =>
      val covered = merged.map { case (s, e) =>
        math.max(0L, math.min(e, we) - math.max(s, ws))
      }.sum
      (we - ws) - covered
    }.sum
  }

  /** Write every span as one JSON line. Spans recorded without an
    * operation id (driver phases, jobs submitted from server threads)
    * take the id of the single operation span enclosing their start,
    * when there is exactly one. */
  def writeSpans(path: java.io.File): Int = {
    val all = spans.asScala.toSeq.sortBy(_.start)
    val ops = all.filter(_.layer == "op")
    val resolved = all.map { s =>
      if (s.op != 0L || s.layer == "op") s
      else ops.filter(o => o.start <= s.start && s.start <= o.end) match {
        case Seq(o) => s.copy(op = o.op, parent = if (s.parent == 0L) o.id else s.parent)
        case _ => s
      }
    }
    path.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try resolved.foreach { s =>
      w.println(s"""{"id":${s.id},"op":${s.op},"layer":"${s.layer}",""" +
        s""""name":"${s.name.replace("\"", "'")}","start_us":${s.start},""" +
        s""""end_us":${s.end},"parent":${s.parent}}""")
    } finally w.close()
    resolved.size
  }
}
