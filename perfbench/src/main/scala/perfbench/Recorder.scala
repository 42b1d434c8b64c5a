package perfbench

import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One timed operation: a catalog query execution, a pipeline phase, a
  * Phase 1 user or an HTTP request. `status` is "ok", "failed" (threw)
  * or "wrong" (ran, but its output failed a check); only "ok" ops give
  * latency samples. Times are nanoseconds on the run's monotonic clock. */
final class Op(
    val id: Int,
    val kind: String,
    val name: String,
    val group: String,
    val phase: String) {
  /** for a request, the time it was due (open loop), not when it was sent */
  @volatile var startNs: Long = 0L
  @volatile var endNs: Long = 0L
  @volatile var status: String = "ok"
  @volatile var error: String = ""
  /** time inside QuerySpec.fn (plan construction, eager artifact builds) */
  @volatile var fnNs: Long = 0L
  /** Artifacts.buildSeconds delta over the op (traced runs only) */
  @volatile var artifactS: Double = 0.0
  @volatile var artifactsBuilt: Int = 0

  def fail(e: Throwable): Unit = {
    status = "failed"
    error = (e.getClass.getName + ": " + String.valueOf(e.getMessage)).take(400)
  }
  def wrong(detail: String): Unit = if (status == "ok") {
    status = "wrong"
    error = detail.take(400)
  }
  def wallNs: Long = endNs - startNs
}

/** A trace span: a named interval with its parent span and the op it
  * belongs to. Kept in memory; written once when the run ends. */
final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long)

/** Records ops (always) and, in a traced run, spans around every call
  * into the program plus Spark listener counters keyed to the op whose
  * thread submitted the work (the `perfbench.op` local property, which
  * Spark copies onto every job the thread starts, nested artifact
  * builds included). */
final class Recorder(val spark: SparkSession, val traced: Boolean) {
  val t0: Long = System.nanoTime()
  private val ops = new java.util.concurrent.ConcurrentLinkedQueue[Op]()
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val spanStack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private val nextSpan = new java.util.concurrent.atomic.AtomicInteger(0)
  private val opOfThread = new ThreadLocal[Int] { override def initialValue(): Int = -1 }

  val listener: Option[OpListener] =
    if (traced) { val l = new OpListener; spark.sparkContext.addSparkListener(l); Some(l) } else None

  def now: Long = System.nanoTime() - t0

  def newOp(kind: String, name: String, group: String, phase: String): Op = {
    val op = new Op(nextId.incrementAndGet(), kind, name, group, phase)
    ops.add(op)
    op
  }

  /** Run `body` as op `op`: its Spark jobs are tagged with the op id,
    * a throw marks it failed (never a timing), and a traced run records
    * its span and the artifact-build delta around it. */
  def run[T](op: Op)(body: => T): Option[T] = {
    val sc = spark.sparkContext
    sc.setLocalProperty("perfbench.op", op.id.toString)
    sc.setJobDescription(s"perfbench:${op.id}:${op.name}")
    opOfThread.set(op.id)
    val before = if (traced) graft.operators.Artifacts.buildSeconds else Map.empty[String, Double]
    op.startNs = now
    try span(op.name)(Some(body))
    catch { case NonFatal(e) => op.fail(e); None }
    finally {
      op.endNs = now
      opOfThread.set(-1)
      sc.setLocalProperty("perfbench.op", null)
      sc.setJobDescription(null)
      if (traced) {
        val after = graft.operators.Artifacts.buildSeconds
        val changed = after.filter { case (k, v) => before.get(k).forall(_ != v) }
        op.artifactS = changed.map { case (k, v) => v - before.getOrElse(k, 0.0) }.sum
        op.artifactsBuilt = changed.size
      }
    }
  }

  def op[T](kind: String, name: String, group: String, phase: String)(body: => T): (Op, Option[T]) = {
    val o = newOp(kind, name, group, phase)
    (o, run(o)(body))
  }

  /** A nested span around a call into one layer (no-op when untraced). */
  def span[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      val id = nextSpan.incrementAndGet()
      val stack = spanStack.get()
      spanStack.set(id :: stack)
      val s = now
      try body
      finally {
        spans.add(Span(id, stack.headOption.getOrElse(0), opOfThread.get(), name, s, now))
        spanStack.set(stack)
      }
    }

  /** Highest heap in use right after a full collection, over the
    * points where [[sampleLiveHeap]] was called (MB). */
  @volatile var peakLiveHeapMb: Double = 0.0

  /** Collect fully, then record the heap still in use: what the program
    * retains at this point. Call only between timed ops. */
  def sampleLiveHeap(): Unit = {
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    peakLiveHeapMb = math.max(peakLiveHeapMb, used / 1048576.0)
  }

  def allOps: Seq[Op] = ops.asScala.toSeq.sortBy(_.id)
  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  /** Deliver every pending listener event (call before reading counters). */
  def drain(): Unit = if (traced) PerfbenchBus.drain(spark.sparkContext)
}

/** Per-op Spark counters gathered by [[OpListener]]. */
final class OpCounters {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var inputRows = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  var kernelExecutions = 0
  /** task [launch, finish] wall intervals, epoch ms */
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Wall ms during which at least one of the op's tasks ran. */
  def busyMs: Long = {
    val sorted = taskIntervals.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    sorted.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** SparkListener keyed by the `perfbench.op` job property. SQL
  * executions are tied to ops through their jobs' execution-id
  * property and their description; the planning phases come from
  * each execution's QueryExecution.tracker. */
final class OpListener extends SparkListener {
  private val counters = TrieMap.empty[Int, OpCounters]
  private val stageOp = TrieMap.empty[Int, Int]
  private val execOp = TrieMap.empty[Long, Int]

  private def of(op: Int): OpCounters = counters.getOrElseUpdate(op, new OpCounters)
  def get(op: Int): Option[OpCounters] = counters.get(op)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty("perfbench.op"))).map(_.toInt).foreach { op =>
      val c = of(op)
      c.synchronized { c.jobs += 1 }
      e.stageIds.foreach(s => stageOp.put(s, op))
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(x => execOp.putIfAbsent(x.toLong, op))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageOp.get(e.stageInfo.stageId).foreach { op =>
      val c = of(op); c.synchronized { c.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageOp.get(e.stageId).foreach { op =>
      val c = of(op)
      val m = e.taskMetrics
      c.synchronized {
        c.tasks += 1
        c.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
        if (m != null) {
          c.taskRunMs += m.executorRunTime
          c.taskCpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.inputBytes += m.inputMetrics.bytesRead
          c.inputRows += m.inputMetrics.recordsRead
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
        }
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      val d = Option(s.description).getOrElse("")
      if (d.startsWith("perfbench:"))
        execOp.putIfAbsent(s.executionId, d.split(":")(1).toInt)
    case end: SparkListenerSQLExecutionEnd =>
      execOp.get(end.executionId).foreach { op =>
        val c = of(op)
        val qe = OpListener.queryExecution(end)
        c.synchronized {
          qe.foreach { q =>
            val phases = q.tracker.phases
            c.analysisMs += phases.get("analysis").map(_.durationMs).getOrElse(0L)
            c.optimizationMs += phases.get("optimization").map(_.durationMs).getOrElse(0L)
            c.planningMs += phases.get("planning").map(_.durationMs).getOrElse(0L)
            if (OpListener.callsKernel(q)) c.kernelExecutions += 1
          }
        }
      }
    case _ => ()
  }
}

object OpListener {
  /** The QueryExecution Spark attaches to the execution-end event (a
    * package-private field, read reflectively; None if absent). */
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[org.apache.spark.sql.execution.QueryExecution] =
    try Option(e.getClass.getMethod("qe").invoke(e))
      .collect { case q: org.apache.spark.sql.execution.QueryExecution => q }
    catch { case NonFatal(_) => None }

  /** Whether the optimized plan evaluates one of the program's native
    * `graft_*` Catalyst expressions (package graft.functions). */
  def callsKernel(q: org.apache.spark.sql.execution.QueryExecution): Boolean =
    try q.optimizedPlan.find(p => p.expressions.exists(_.find(
      _.getClass.getName.startsWith("graft.functions.")).isDefined)).isDefined
    catch { case NonFatal(_) => false }
}
