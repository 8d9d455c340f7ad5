package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.BenchAccess
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative counters read from Spark's own instrumentation. A per-op
  * figure is the difference of two snapshots taken around the op.
  */
final case class Counters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0, execRunMs: Long = 0,
    shuffleBytes: Long = 0, bytesWritten: Long = 0, broadcasts: Long = 0,
    analysisMs: Long = 0, optimizationMs: Long = 0, planningMs: Long = 0,
    codegenCompiles: Long = 0, codegenNs: Long = 0, gcMs: Long = 0,
    rowsScored: Long = 0) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, execRunMs - o.execRunMs, shuffleBytes - o.shuffleBytes,
    bytesWritten - o.bytesWritten, broadcasts - o.broadcasts,
    analysisMs - o.analysisMs, optimizationMs - o.optimizationMs,
    planningMs - o.planningMs, codegenCompiles - o.codegenCompiles,
    codegenNs - o.codegenNs, gcMs - o.gcMs, rowsScored - o.rowsScored)
}

final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
    parent: Int, request: Int)

/** Spans around the benchmark's calls into each layer, plus spans and
  * counters taken from outside the program: scheduler job events,
  * Catalyst phase timestamps (`qe.tracker.phases`), codegen metrics,
  * SQL plan metrics and the GC MXBeans. Nothing inside the program is
  * instrumented. `Tracer.off` records nothing and registers nothing.
  */
class Tracer private (spark: Option[SparkSession]) {
  val enabled: Boolean = spark.isDefined

  private val harness = ArrayBuffer.empty[Span]
  private val external = ArrayBuffer.empty[Span] // parent resolved at dump
  private var stack: List[Int] = Nil
  private var nextId = 0
  var request: Int = -1

  // epoch-ms listener timestamps → the nanoTime axis of harness spans
  private val offsetNs =
    System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def msToNs(ms: Long): Long = ms * 1000000L - offsetNs

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        harness += Span(id, name, t0, System.nanoTime(), parent, request)
        stack = stack.tail
      }
    }

  // ---------------------------------------------------------- counters
  private val lock = new Object
  private var c = Counters()
  private val jobStarts = scala.collection.mutable.Map.empty[Int, Long]

  private def addExternal(name: String, startMs: Long, endMs: Long): Unit =
    external += Span(-1, name, msToNs(startMs), msToNs(endMs), -1, -1)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      c = c.copy(jobs = c.jobs + 1)
      jobStarts(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobStarts.remove(e.jobId).foreach(t => addExternal("spark.job", t, e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized { c = c.copy(stages = c.stages + 1) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = e.taskMetrics
      c = if (m == null) c.copy(tasks = c.tasks + 1)
      else c.copy(tasks = c.tasks + 1,
        execRunMs = c.execRunMs + m.executorRunTime,
        shuffleBytes = c.shuffleBytes + m.shuffleWriteMetrics.bytesWritten,
        bytesWritten = c.bytesWritten + m.outputMetrics.bytesWritten)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      recordQe(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      recordQe(qe)
  }

  private def recordQe(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(s => s.endTimeMs - s.startTimeMs)
      .getOrElse(0L)
    val plan = qe.executedPlan
    val bcasts = Tracer.nodes(plan).count(_.isInstanceOf[BroadcastExchangeExec])
    val scored = Tracer.rowsScored(plan)
    lock.synchronized {
      for (p <- Seq("analysis", "optimization", "planning");
           s <- phases.get(p)) addExternal(s"catalyst.$p", s.startTimeMs, s.endTimeMs)
      c = c.copy(broadcasts = c.broadcasts + bcasts,
        analysisMs = c.analysisMs + ms("analysis"),
        optimizationMs = c.optimizationMs + ms("optimization"),
        planningMs = c.planningMs + ms("planning"),
        rowsScored = c.rowsScored + scored)
    }
  }

  spark.foreach { s =>
    s.sparkContext.addSparkListener(listener)
    s.listenerManager.register(qeListener)
  }

  def detach(): Unit = spark.foreach { s =>
    BenchAccess.drainListenerBus(s.sparkContext)
    s.sparkContext.removeSparkListener(listener)
    s.listenerManager.unregister(qeListener)
  }

  /** Counters so far; drains the listener bus first so every event of
    * the work already done is counted.
    */
  def snapshot(): Counters = spark match {
    case None => Counters()
    case Some(s) =>
      BenchAccess.drainListenerBus(s.sparkContext)
      import scala.jdk.CollectionConverters._
      val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime.max(0L)).sum
      lock.synchronized(c.copy(
        codegenCompiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
        codegenNs = CodeGenerator.compileTime, gcMs = gc))
  }

  /** Every span: harness spans as recorded, external ones parented to
    * the innermost harness span open when they started.
    */
  def spans: Seq[Span] = {
    val base = nextId
    val ext = lock.synchronized(external.toVector).zipWithIndex.map {
      case (s, i) =>
        val p = harness.filter(h => h.startNs <= s.startNs && s.startNs <= h.endNs)
          .sortBy(h => h.endNs - h.startNs).headOption
        s.copy(id = base + i, parent = p.map(_.id).getOrElse(-1),
          request = p.map(_.request).getOrElse(-1))
    }
    harness.toVector.sortBy(_.id) ++ ext
  }
}

object Tracer {
  val off = new Tracer(None)
  def on(spark: SparkSession) = new Tracer(Some(spark))

  /** The dense scoring kernels: rows reaching a plan node that evaluates
    * one of these count as rows scored.
    */
  val Kernels = Set("DotF", "CosineF", "DotI8F", "PqAdcDotF", "HammingF",
    "NearestCentroidCosF")

  private def children(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case s: QueryStageExec => Seq(s.plan)
    case _: ReusedExchangeExec => Nil // counted where it was built
    case o => o.children ++ o.subqueries
  }

  def nodes(p: SparkPlan): Iterator[SparkPlan] =
    Iterator(p) ++ children(p).iterator.flatMap(nodes)

  /** Rows a node emits: its `numOutputRows` SQL metric, or, for nodes
    * without one (projections, exchanges, codegen wrappers), the rows
    * their children emit.
    */
  private def rowsOut(p: SparkPlan): Long =
    p.metrics.get("numOutputRows").map(_.value)
      .getOrElse(children(p).map(rowsOut).sum)

  def rowsScored(plan: SparkPlan): Long =
    nodes(plan).filter(_.expressions.exists(_.exists(e =>
      Kernels(e.getClass.getSimpleName)))).map(n => children(n).map(rowsOut).sum).sum
}
