package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters one span accumulates from Spark's listener APIs. */
final class Counters {
  val jobs, stages, tasks, tasksFailed = new AtomicLong
  val taskRunMs, taskCpuNs, taskGcMs = new AtomicLong
  val shuffleRead, shuffleWrite, spill, input, output = new AtomicLong
  val executions, analysisMs, optimizationMs, planningMs = new AtomicLong
  /** (launch, finish) epoch-ms of every finished task, for driver-gap
    * accounting.
    */
  val taskSpans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
}

/** One recorded span: wall clock from `System.nanoTime`, epoch ms for
  * overlap with task intervals, and its parent's id.
  */
final case class Span(id: String, name: String, op: String, pass: Int,
    parent: Option[String], startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Traced-run instrumentation. Every span sets its own Spark job group,
  * so jobs, stages and tasks attribute to the innermost enclosing span;
  * a `QueryExecutionListener` attributes planning phases (from
  * `qe.tracker`) to the span open when the event is delivered. Each span
  * drains the listener bus before it closes, so no event crosses into
  * the next span. With `enabled = false` nothing is registered and
  * [[span]] only runs its body.
  */
final class Probe(spark: SparkSession, val enabled: Boolean) {
  private val sc: SparkContext = spark.sparkContext
  private val byGroup = new ConcurrentHashMap[String, Counters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stack = mutable.Stack[String]()
  @volatile private var current: String = null
  private var nextId = 0L
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  /** The pass index recorded on new spans. */
  var pass: Int = 0
  /** While false, spans run their body untraced (the untraced passes of
    * a traced run).
    */
  var active: Boolean = enabled

  private def counters(group: String): Counters =
    byGroup.computeIfAbsent(group, _ => new Counters)

  private def groupOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("pb-"))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      groupOf(e.properties).foreach { g =>
        counters(g).jobs.incrementAndGet()
        e.stageIds.foreach(stageGroup.put(_, g))
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      groupOf(e.properties).foreach { g =>
        counters(g).stages.incrementAndGet()
        stageGroup.put(e.stageInfo.stageId, g)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageGroup.get(e.stageId)).foreach { g =>
        val c = counters(g)
        c.tasks.incrementAndGet()
        if (!e.taskInfo.successful) c.tasksFailed.incrementAndGet()
        c.taskSpans.add((e.taskInfo.launchTime, e.taskInfo.finishTime))
        val m = e.taskMetrics
        if (m != null) {
          c.taskRunMs.addAndGet(m.executorRunTime)
          c.taskCpuNs.addAndGet(m.executorCpuTime)
          c.taskGcMs.addAndGet(m.jvmGCTime)
          c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          c.input.addAndGet(m.inputMetrics.bytesRead)
          c.output.addAndGet(m.outputMetrics.bytesWritten)
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val g = current
      if (g != null) {
        val c = counters(g)
        c.executions.incrementAndGet()
        val ph = qe.tracker.phases
        def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
        c.analysisMs.addAndGet(ms("analysis"))
        c.optimizationMs.addAndGet(ms("optimization"))
        c.planningMs.addAndGet(ms("planning"))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .listenerManager.register(qeListener)
  }

  def drainBus(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def span[T](name: String, op: String)(body: => T): T =
    if (!active) body
    else {
      nextId += 1
      val id = s"pb-$nextId"
      val parent = stack.headOption
      sc.setJobGroup(id, s"$name $op", interruptOnCancel = false)
      stack.push(id)
      current = id
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val ms1 = System.currentTimeMillis()
        drainBus()
        stack.pop()
        parent match {
          case Some(p) => sc.setJobGroup(p, "", interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
        current = parent.orNull
        spans += Span(id, name, op, pass, parent, t0, t1, ms0, ms1)
      }
    }

  def codegenCompileNs: Long = CodeGenerator.compileTime

  def countersOf(spanId: String): Counters =
    Option(byGroup.get(spanId)).getOrElse(new Counters)

  /** Descendants of a span, the span included. */
  def subtree(id: String): Seq[Span] = {
    val kids = spans.groupBy(_.parent)
    def go(s: Span): Seq[Span] = s +: kids.getOrElse(Some(s.id), Nil).toSeq.flatMap(go)
    spans.find(_.id == id).map(go).getOrElse(Nil).toSeq
  }

  /** Wall seconds of `s` during which none of its subtree's tasks ran. */
  def driverGapS(s: Span): Double = {
    val iv = subtree(s.id).flatMap(x => countersOf(x.id).taskSpans.asScala)
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    for ((a, b) <- iv) {
      if (a >= end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    math.max(0.0, (s.endMs - s.startMs - covered) / 1e3)
  }

  /** Wall seconds of `s` not covered by its direct children. */
  def selfS(s: Span): Double =
    s.wallS - spans.filter(_.parent.contains(s.id)).map(_.wallS).sum
}
