package perfbench

import graft.plans.TopKAggregate
import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.aggregate.{Final, Partial}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Engine counters attributed to one span. Jobs are attributed through
  * the `perfbench.span` local property set on the client thread; SQL
  * executions through the query-execution events that arrive while the
  * span is the innermost open one (one client thread, so the order is
  * unambiguous once the listener bus is drained). */
final class Counters {
  var jobs, stages, tasks = 0L
  var shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L
  var taskBusyMs, gcMs = 0L
  var exchanges, filesRead, rowsScanned = 0L
  /** Rows into TopK's map-side aggregate and rows out of its final one. */
  var topkRowsIn, topkRowsOut = 0L
  var planMs = 0.0
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

final case class Span(id: Long, layer: String, name: String, parent: Long,
                      startNs: Long, endNs: Long, c: Counters) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder for the traced run. With `enabled = false` every call
  * runs its body and records nothing, so the untraced run keeps the
  * composed plans and pays no listener cost. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val t0 = System.nanoTime()
  /** Wall-clock time of `t0`, to place the listener's job times. */
  val t0EpochMs: Long = System.currentTimeMillis()
  private var nextId = 1L
  private val open = mutable.Stack.empty[(Long, Long)] // (span id, start ns)
  val spans = mutable.ArrayBuffer.empty[Span]

  private val byJobSpan = mutable.Map.empty[Int, Long]
  private val byStageSpan = mutable.Map.empty[Int, Long]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val live = mutable.Map.empty[Long, Counters]
  private val pendingQe = mutable.ArrayBuffer.empty[QueryExecution]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Prop)))
        .map(_.toLong).getOrElse(-1L)
      byJobSpan(e.jobId) = span
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(byStageSpan(_) = span)
      live.get(span).foreach(_.jobs += 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      for (span <- byJobSpan.remove(e.jobId); c <- live.get(span);
           s <- jobStart.remove(e.jobId)) c.jobIntervals += ((s, e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized {
        byStageSpan.get(e.stageInfo.stageId).flatMap(live.get).foreach(_.stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      for (span <- byStageSpan.get(e.stageId); c <- live.get(span)) {
        c.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          c.taskBusyMs += m.executorRunTime
          c.gcMs += m.jvmGCTime
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      lock.synchronized { pendingQe += qe }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      lock.synchronized { pendingQe += qe }
  }
  private val lock = new Object

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  private def drain(): Unit = PerfbenchBridge.drainListeners(spark.sparkContext)

  /** Time `body` as span `layer`/`name`, nested under the open span. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      drain()
      val id = nextId; nextId += 1
      val parent = if (open.isEmpty) 0L else open.top._1
      val c = new Counters
      lock.synchronized { live(id) = c; attribute(parent) }
      open.push((id, System.nanoTime()))
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(Tracer.Prop)
      sc.setLocalProperty(Tracer.Prop, id.toString)
      try body
      finally {
        val end = System.nanoTime()
        drain()
        sc.setLocalProperty(Tracer.Prop, prev)
        val (_, start) = open.pop()
        lock.synchronized { attribute(id); live.remove(id) }
        spans += Span(id, layer, name, parent, start - t0, end - t0, c)
      }
    }

  /** Record a span timed by the caller (System.nanoTime stamps). */
  def record(layer: String, name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) {
      spans += Span(nextId, layer, name, 0L, startNs - t0, endNs - t0, new Counters)
      nextId += 1
    }

  /** Hand the SQL executions that finished since the last boundary to
    * span `id` (0: outside every span, dropped). */
  private def attribute(id: Long): Unit = {
    for (c <- live.get(id); qe <- pendingQe) {
      val nodes = Tracer.planNodes(qe.executedPlan)
      c.exchanges += nodes.count(_.isInstanceOf[ShuffleExchangeLike])
      nodes.collect { case s: FileSourceScanExec => s }.foreach { s =>
        c.filesRead += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
        c.rowsScanned += s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      }
      nodes.collect { case a: BaseAggregateExec => a }
        .filter(_.aggregateExpressions.exists(_.aggregateFunction.isInstanceOf[TopKAggregate]))
        .foreach { a =>
          val modes = a.aggregateExpressions.map(_.mode).toSet
          if (modes(Partial)) c.topkRowsIn += Tracer.rowsOut(a.child)
          if (modes(Final)) c.topkRowsOut += Tracer.rowsOut(a)
        }
      c.planMs += Seq("analysis", "optimization", "planning")
        .flatMap(qe.tracker.phases.get).map(_.durationMs).sum
    }
    pendingQe.clear()
  }
}

object Tracer {
  val Prop = "perfbench.span"

  /** Every node of an executed plan, through AQE wrappers, query stages
    * and subqueries. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => s +: planNodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }

  /** Rows `p` produced: its own row count, else that of its single
    * child (projections and codegen wrappers keep no count). */
  def rowsOut(p: SparkPlan): Long = p.metrics.get("numOutputRows") match {
    case Some(m) => m.value
    case None => p.children match {
      case Seq(c) => rowsOut(c)
      case _ => 0L
    }
  }
}
