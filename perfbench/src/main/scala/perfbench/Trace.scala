package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters one op phase accumulates from Spark's listener events. */
final class PhaseStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputRows = 0L
  var planMs = 0L
  /** (submit, complete) wall-clock ms of every finished stage */
  val stageSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Wall time covered by at least one running stage, seconds. */
  def busySeconds: Double = {
    var total = 0L
    var end = Long.MinValue
    stageSpans.sortBy(_._1).foreach { case (s, e) =>
      if (s >= end) { total += e - s; end = e }
      else if (e > end) { total += e - end; end = e }
    }
    total / 1000.0
  }

  def add(o: PhaseStats): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskMs += o.taskMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    inputRows += o.inputRows; planMs += o.planMs
    stageSpans ++= o.stageSpans
  }
}

/** SparkListener + QueryExecutionListener that count the executor and
  * planner work of whatever ran since the last [[take]]. The harness
  * runs one op phase at a time on one thread and calls [[take]] at the
  * end of each phase, after draining the listener bus, so every event
  * lands in the phase that caused it. */
final class Trace(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private var current = new PhaseStats
  /** nanoseconds spent inside this object's callbacks and drains */
  val overheadNs = new java.util.concurrent.atomic.AtomicLong

  private def timed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally overheadNs.addAndGet(System.nanoTime() - t0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    timed(synchronized(current.jobs += 1))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    timed {
      synchronized {
        val info = e.stageInfo
        current.stages += 1
        for (s <- info.submissionTime; c <- info.completionTime)
          current.stageSpans += ((s, c))
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    synchronized {
      current.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        current.taskMs += m.executorRunTime
        current.cpuNs += m.executorCpuTime
        current.gcMs += m.jvmGCTime
        current.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        current.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        current.inputRows += m.inputMetrics.recordsRead
      }
    }
  }

  private def planned(qe: QueryExecution): Unit = timed {
    val ms = Seq("analysis", "optimization", "planning")
      .flatMap(qe.tracker.phases.get).map(_.durationMs).sum
    synchronized(current.planMs += ms)
  }

  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    planned(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    planned(qe)

  /** Deliver every pending event, then hand back and reset the
    * counters gathered since the last call. */
  def take(): PhaseStats = {
    timed(org.apache.spark.perfbench.Bus.drain(spark.sparkContext))
    synchronized {
      val out = current
      current = new PhaseStats
      out
    }
  }
}

object Trace {
  def attach(spark: SparkSession): Trace = {
    val t = new Trace(spark)
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    t
  }
}
