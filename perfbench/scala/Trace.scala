package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Counters of one span execution. */
final class Acc {
  var jobs, stages, tasks = 0L
  var cpuNs, runMs, gcMs, shuffleWrite, spill, bytesWritten = 0L
  var exchanges, broadcastBytes, scanFiles, scanBytes = 0L
  var batches, inputRows, stateRows, stateMemory, addBatchMs = 0L
  /** (start, end) epoch ms of each of the span's jobs */
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** The benchmark's own observer of the program. While `full` is on, it
  * attributes Spark jobs, tasks, executed plans and streaming progress to the
  * span the benchmark opened around a public call. Jobs are matched through
  * the `perfbench.span` local property, which Spark copies into every job the
  * call submits, also from threads the call starts. Spans do not nest. */
final class Trace(sc: SparkContext) extends SparkListener {
  @volatile var full = false
  @volatile private var current: Acc = null
  private val jobSpan = mutable.Map.empty[Int, (Acc, Long)]
  private val stageSpan = mutable.Map.empty[Int, Acc]

  def begin(key: String): Unit = synchronized {
    current = new Acc
    sc.setLocalProperty("perfbench.span", key)
  }

  /** Close the span once the listener bus has delivered its events. */
  def end(): Acc = {
    sc.setLocalProperty("perfbench.span", null)
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized {
      val a = current
      current = null
      jobSpan.clear()
      stageSpan.clear()
      a
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tagged = Option(e.properties).exists(_.getProperty("perfbench.span") != null)
    if (full && current != null && tagged) {
      current.jobs += 1
      jobSpan(e.jobId) = (current, e.time)
      e.stageIds.foreach(stageSpan(_) = current)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (a, start) => a.intervals += ((start, e.time)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSpan.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageSpan.get(e.stageId).foreach { a =>
      a.tasks += 1
      a.cpuNs += m.executorCpuTime
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.bytesWritten += m.outputMetrics.bytesWritten
    }
  }

  /** Scan and exchange counters from each executed plan's SQL metrics. */
  val queries: QueryExecutionListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Trace.this.synchronized {
        val a = current
        if (full && a != null) Trace.nodes(qe.executedPlan).foreach {
          case _: ShuffleExchangeExec => a.exchanges += 1
          case b: BroadcastExchangeExec =>
            a.exchanges += 1
            a.broadcastBytes += b.metrics.get("dataSize").map(_.value).getOrElse(0L)
          case f: FileSourceScanExec =>
            a.scanFiles += f.metrics.get("numFiles").map(_.value).getOrElse(0L)
            a.scanBytes += f.metrics.get("filesSize").map(_.value).getOrElse(0L)
          case _ =>
        }
      }
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized {
        val a = current
        if (full && a != null) {
          val p = e.progress
          a.batches += 1
          a.inputRows += p.numInputRows
          a.stateRows = math.max(a.stateRows, p.stateOperators.map(_.numRowsTotal).sum)
          a.stateMemory = math.max(a.stateMemory, p.stateOperators.map(_.memoryUsedBytes).sum)
          a.addBatchMs += Option(p.durationMs.get("addBatch")).map(_.longValue).getOrElse(0L)
        }
      }
  }
}

object Trace {
  /** Every node of an executed plan, through adaptive wrappers, query stages
    * and subqueries; a reused exchange is one node, not its producer again. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => Seq(r)
    case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
  }
}
