package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Every micro-batch's progress report, in arrival order. The benchmark
  * reads trigger times and state-operator counts from here in every run;
  * it is the engine's own per-epoch report, not extra instrumentation.
  */
final class ProgressLog extends StreamingQueryListener {
  import StreamingQueryListener._
  private val all = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  def onQueryStarted(e: QueryStartedEvent): Unit = ()
  def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  def onQueryProgress(e: QueryProgressEvent): Unit = { all.add(e.progress); () }

  def progress: Seq[StreamingQueryProgress] = all.asScala.toSeq.sortBy(_.batchId)
  /** Epochs that read input rows. */
  def dataEpochs: Seq[StreamingQueryProgress] = progress.filter(_.numInputRows > 0)
  def clear(): Unit = all.clear()

  def durationMs(p: StreamingQueryProgress, key: String): Double =
    Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)

  /** Sum over the stateful operators of every epoch. */
  def stateSum(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long): Long =
    progress.flatMap(_.stateOperators.toSeq).map(f).sum
}

/** Task-level counters for the traced run: jobs, stages, tasks, shuffle
  * bytes, GC and CPU time, and the task-time skew of shuffle-reading
  * stages (the stateful stage of a stream epoch).
  */
final class TaskStats extends SparkListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val shuffleWrite = new AtomicLong
  val shuffleRead = new AtomicLong
  val gcMs = new AtomicLong
  val cpuNs = new AtomicLong
  private val stageTasks = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val stageReads = mutable.Map.empty[(Int, Int), Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet(); ()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      val read = m.shuffleReadMetrics.totalBytesRead
      shuffleRead.addAndGet(read)
      gcMs.addAndGet(m.jvmGCTime)
      cpuNs.addAndGet(m.executorCpuTime)
      synchronized {
        val k = (e.stageId, e.stageAttemptId)
        stageTasks.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += e.taskInfo.duration
        stageReads(k) = stageReads.getOrElse(k, 0L) + read
      }
    }
    ()
  }

  /** Median over shuffle-reading stages with ≥ 2 tasks of max/median task
    * time; 1.0 when no such stage ran.
    */
  def skewRatio: Double = synchronized {
    val ratios = stageTasks.toSeq.collect {
      case (k, ts) if ts.length >= 2 && stageReads.getOrElse(k, 0L) > 0 =>
        val med = Harness.median(ts.map(_.toDouble).toSeq)
        if (med > 0) ts.max / med else 1.0
    }
    if (ratios.isEmpty) 1.0 else Harness.median(ratios)
  }
}

/** Planning time of every query execution, from the tracker phases
  * (parsing, analysis, optimization, planning).
  */
final class PlanTimes extends QueryExecutionListener {
  val planMs = new AtomicLong
  private def record(qe: QueryExecution): Unit = {
    planMs.addAndGet(qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum); ()
  }
  def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

/** The traced run's listeners, registered on a session until `remove`. */
final class Traced(spark: SparkSession) {
  val tasks = new TaskStats
  val plans = new PlanTimes
  spark.sparkContext.addSparkListener(tasks)
  spark.listenerManager.register(plans)

  /** Wait for every queued event, then detach both listeners. */
  def remove(): Unit = {
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(tasks)
    spark.listenerManager.unregister(plans)
  }
}
