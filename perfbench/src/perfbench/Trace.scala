package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Spans of one request share `req`; `parent`
  * is the span that was open on the same thread when this one started. */
final case class Span(id: Long, parent: Long, req: Long, name: String,
    startNs: Long, endNs: Long)

/** In-memory span recorder wrapped around the benchmark's calls into the
  * program. Disabled, `span` is a plain call, so the untraced run pays
  * nothing but a branch. */
final class Tracer(val on: Boolean) {
  /** While set, spans are not recorded (warm-up). */
  @volatile var paused = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val open = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil) // (span, req)

  /** Start a new request on this thread; its spans share one id. */
  def request[T](name: String)(body: => T): T = {
    if (!on || paused) return body
    val saved = open.get()
    open.set(Nil)
    try span(name)(body) finally open.set(saved)
  }

  def span[T](name: String)(body: => T): T = {
    if (!on || paused) return body
    val id = ids.incrementAndGet()
    val stack = open.get()
    val (parent, req) = stack.headOption.getOrElse((0L, id))
    open.set((id, req) :: stack)
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, parent, req, name, t0, System.nanoTime()))
      open.set(stack)
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)
}

/** Counters collected from outside the program, per operation kind: the
  * harness tags each thread's Spark jobs with a local property, and a
  * SparkListener, a QueryExecutionListener and the GC MXBeans attribute the
  * work. Registered only in the traced run. */
final class Counters(spark: SparkSession) {
  import Counters._

  final class Op {
    var jobs = 0L; var tasks = 0L; var shuffleBytes = 0L; var cpuNs = 0L
    var recordsRead = 0L; var bytesRead = 0L; var scanRows = 0L
  }
  private val byOp = mutable.HashMap.empty[String, Op]
  private val stageOp = mutable.HashMap.empty[Int, String]
  /** Query executions the harness is about to run, by identity, with the
    * operation they serve (a QueryExecution's id is not the SQL execution
    * id its jobs carry, so the two listeners cannot be joined on ids). */
  private val expected = new java.util.IdentityHashMap[QueryExecution, String]()
  private var scanned = 0L

  private def op(name: String): Op = byOp.getOrElseUpdate(name, new Op)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Counters.this.synchronized {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(OpKey)))
      tag.foreach { t =>
        op(t).jobs += 1
        e.stageIds.foreach(stageOp(_) = t)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Counters.this.synchronized {
      for (t <- stageOp.get(e.stageId); m <- Option(e.taskMetrics)) {
        val o = op(t)
        o.tasks += 1
        o.cpuNs += m.executorCpuTime
        o.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        o.recordsRead += m.inputMetrics.recordsRead
        o.bytesRead += m.inputMetrics.bytesRead
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Counters.this.synchronized {
        Option(expected.remove(qe)).foreach { t =>
          op(t).scanRows += scanRows(qe.executedPlan)
          scanned += 1
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Attribute the scan rows of `qe`, once it has run, to the operation
    * tagged on this thread. */
  def expect(qe: QueryExecution): Unit =
    Option(spark.sparkContext.getLocalProperty(OpKey)).foreach { t =>
      synchronized(expected.put(qe, t))
    }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  private def gcNs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum * 1000000L

  private var windowStart = 0L
  private var gcStart = 0L
  private var windowNs = 0L
  private var gcWindowNs = 0L

  def startWindow(): Unit = { windowStart = System.nanoTime(); gcStart = gcNs }
  def endWindow(): Unit = {
    windowNs += System.nanoTime() - windowStart
    gcWindowNs += gcNs - gcStart
  }

  /** Listener buses deliver asynchronously: wait until the counts settle. */
  private def settle(): Unit = {
    var last = -1L
    var stable = 0
    while (stable < 3) {
      Thread.sleep(200)
      val now = synchronized(byOp.values.map(_.tasks).sum + scanned)
      if (now == last) stable += 1 else { stable = 0; last = now }
    }
  }

  /** Snapshot as plain maps for the raw report. */
  def snapshot(cores: Int): Map[String, Any] = {
    settle()
    synchronized {
      val ops = byOp.map { case (k, o) => k -> Map(
        "jobs" -> o.jobs, "tasks" -> o.tasks, "shuffle_bytes" -> o.shuffleBytes,
        "cpu_ns" -> o.cpuNs, "records_read" -> o.recordsRead,
        "bytes_read" -> o.bytesRead, "scan_rows" -> o.scanRows) }.toMap
      Map("ops" -> ops, "window_ns" -> windowNs, "gc_ns" -> gcWindowNs, "cores" -> cores)
    }
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}

object Counters {
  /** Spark local property naming the operation kind a thread's jobs serve. */
  val OpKey = "perfbench.op"

  def tag(sc: SparkContext, op: String): Unit = sc.setLocalProperty(OpKey, op)

  /** Output rows of the plan's leaf scan nodes, looking through adaptive
    * execution to the plan that actually ran. */
  def scanRows(plan: SparkPlan): Long = plan match {
    case a: AdaptiveSparkPlanExec => scanRows(a.executedPlan)
    case q: QueryStageExec => scanRows(q.plan)
    case p if p.children.isEmpty =>
      p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    case p => p.children.map(scanRows).sum
  }
}
