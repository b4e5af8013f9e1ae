package graft

import org.apache.spark.graft.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** The repo's one SparkListener: runs a body and returns what it executed —
  * every job the body fired (plan-time actions included) and every task's
  * metrics. The listener is attached only around the body, and the listener
  * bus is drained on both sides of it, so the record holds exactly the
  * body's events with no polling. Counts are deterministic per plan + data;
  * wall times are not.
  *
  * Task `inputMetrics.bytesRead` is deliberately absent: under local mode it
  * reports a fraction of a percent of the true scan. */
final class Counters private () extends SparkListener {
  import Counters._

  private val started = mutable.LinkedHashMap.empty[Int, (SparkListenerJobStart, Long)]
  private val tasks = mutable.ArrayBuffer.empty[Task]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    started(e.jobId) = (e, -1L)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    started.get(e.jobId).foreach { case (s, _) => started(e.jobId) = (s, e.time - s.time) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.stageId, m.inputMetrics.recordsRead,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.recordsRead,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten)
  }

  private def record: Record = synchronized {
    Record(started.values.map { case (s, wallMs) =>
      def prop(k: String) = Option(s.properties).flatMap(p => Option(p.getProperty(k)))
      Job(s.jobId, prop("spark.job.description").getOrElse(""),
        prop("callSite.short").getOrElse(""),
        prop("spark.sql.execution.id").map(_.toLong), wallMs)
    }.toSeq, tasks.toSeq)
  }
}

object Counters {

  /** One job; `wallMs` is -1 if it had not ended when the body returned. */
  final case class Job(id: Int, description: String, callSite: String,
                       executionId: Option[Long], wallMs: Long)

  final case class Task(stage: Int, inputRecords: Long,
                        shuffleReadBytes: Long, shuffleReadRecords: Long,
                        shuffleWriteBytes: Long, shuffleWriteRecords: Long)

  final case class Record(jobs: Seq[Job], tasks: Seq[Task]) {
    def inputRecords: Long = tasks.map(_.inputRecords).sum
    def shuffleReadBytes: Long = tasks.map(_.shuffleReadBytes).sum
    def shuffleWriteBytes: Long = tasks.map(_.shuffleWriteBytes).sum
    def shuffleWriteRecords: Long = tasks.map(_.shuffleWriteRecords).sum
  }

  /** Runs `body` and returns its result with the record of what it ran. */
  def measure[A](spark: SparkSession)(body: => A): (A, Record) = {
    val sc = spark.sparkContext
    val c = new Counters
    BusDrain(sc) // nothing posted before the body may reach the listener
    sc.addSparkListener(c)
    try {
      val result = body
      BusDrain(sc)
      (result, c.record)
    } finally sc.removeSparkListener(c)
  }
}
