package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Listener-side recording. The streaming listener is always on: cycle
  * latency is measured from each trigger's start, which only the progress
  * report carries. Job, task and planning listeners are added only in the
  * traced run, and keep raw records in memory until the run ends. */
final class Tracer(spark: SparkSession, val traced: Boolean, val heap: HeapWatch) {
  private val events = new AtomicLong
  private val lock = new Object
  private val progress = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val jobs = mutable.LinkedHashMap.empty[Int, Array[Double]] // start, end, tasks
  private val tasks = mutable.ArrayBuffer.empty[Array[Double]]
  private val plans = mutable.ArrayBuffer.empty[Array[Double]] // start, plan ms
  private val queryStarts = mutable.ArrayBuffer.empty[Double]
  @volatile var queryFailures = 0

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      lock.synchronized(queryStarts += Main.nowMs())
      events.incrementAndGet()
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
      lock.synchronized {
        progress += Map(
          "run" -> p.runId.toString, "batch" -> p.batchId,
          "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          "trigger_ms" -> ms("triggerExecution"), "add_batch_ms" -> ms("addBatch"))
      }
      events.incrementAndGet()
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
      if (e.exception.isDefined) queryFailures += 1
      events.incrementAndGet()
    }
  })

  if (traced) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
        jobs(e.jobId) = Array(e.time.toDouble, Double.NaN, e.stageInfos.map(_.numTasks).sum)
        events.incrementAndGet()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
        jobs.get(e.jobId).foreach(_(1) = e.time.toDouble)
        events.incrementAndGet()
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val i = e.taskInfo
        val m = e.taskMetrics
        val row =
          if (m == null) Array(i.launchTime.toDouble, i.finishTime.toDouble, 0, 0, 0, 0, 0, 0)
          else Array(i.launchTime.toDouble, i.finishTime.toDouble,
            m.executorRunTime.toDouble, m.executorCpuTime / 1e6, m.jvmGCTime.toDouble,
            m.shuffleReadMetrics.totalBytesRead.toDouble,
            m.shuffleWriteMetrics.bytesWritten.toDouble, m.diskBytesSpilled.toDouble)
        lock.synchronized(tasks += row)
        events.incrementAndGet()
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      private def record(qe: QueryExecution): Unit = {
        val phases = qe.tracker.phases.values
        if (phases.nonEmpty) lock.synchronized {
          plans += Array(phases.map(_.startTimeMs).min.toDouble, phases.map(_.durationMs).sum.toDouble)
        }
        events.incrementAndGet()
      }
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        record(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        record(qe)
    })
  }

  /** At an untimed point: wait until the asynchronous listener buses have
    * gone quiet, so every event of the work just finished has been
    * recorded (and queued events no longer hold plans alive), then sample
    * the heap. */
  def settle(): Unit = {
    drain()
    heap.sample()
  }

  def drain(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    var last = -1L
    var quiet = 0
    while (quiet < 3 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val n = events.get()
      if (n == last) quiet += 1 else { quiet = 0; last = n }
    }
  }

  def dump(): Map[String, Any] = lock.synchronized {
    val base = Map[String, Any](
      "progress" -> progress.toList,
      "query_start_ms" -> queryStarts.toList,
      "query_failures" -> queryFailures)
    if (!traced) base
    else base ++ Map(
      "jobs" -> jobs.values.filterNot(_(1).isNaN).map(_.toList).toList,
      "tasks" -> tasks.map(_.toList).toList,
      "plans" -> plans.map(_.toList).toList)
  }
}
