package graftbench

import scala.collection.mutable

import org.apache.spark.graftbench.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Runtime counters of one Spark job, filled in from listener events. */
final class JobRec(val id: Int, val startMs: Long) {
  var endMs: Long = startMs
  var stages, tasks: Long = 0L
  var schedulerDelayMs, runMs, gcMs: Long = 0L
  var cpuNs: Long = 0L
  var shuffleWrite, shuffleRead, input, output, spill: Long = 0L
}

/** One micro-batch progress report of a streaming query. */
final case class BatchRec(atMs: Long, durations: Map[String, Long],
    stateCommitMs: Long, stateRowsUpdated: Long)

/** A named wall-clock interval of the benchmark's own calls, and the
  * listener-bus drain that followed it. */
final case class Span(name: String, unit: Int, startMs: Long, endMs: Long, stale: Boolean,
    drain: Took)

/** Times the benchmark's calls into the engine. */
trait Timer {
  def span[A](name: String, unit: Int)(body: => A): (A, Took)
}

/** The untraced run: times only, no listeners. */
object Untraced extends Timer {
  def span[A](name: String, unit: Int)(body: => A): (A, Took) = {
    val (t0, c0) = (System.nanoTime(), Took.cpuNow)
    val out = body
    (out, Took((System.nanoTime() - t0) / 1e9, Took.cpuNow - c0))
  }
}

/** Outside-in tracer: a `SparkListener` and a `StreamingQueryListener`
  * registered by the benchmark, plus spans around the benchmark's calls
  * into the engine. Jobs and micro-batches are attributed to spans by
  * their start time (the benchmark drives one call at a time). */
final class Tracer(spark: SparkSession) extends Timer {
  import Tracer._

  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.Map[Int, JobRec]()
  private val batches = mutable.ArrayBuffer[BatchRec]()
  private val spanBuf = mutable.ArrayBuffer[Span]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val j = new JobRec(e.jobId, e.time)
      jobs(e.jobId) = j
      e.stageIds.foreach(stageJob(_) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageJob.get(e.stageId).foreach { j =>
        j.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.input += m.inputMetrics.bytesRead
          j.output += m.outputMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          // the scheduler-delay definition of Spark's own UI
          val info = e.taskInfo
          j.schedulerDelayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = mutable.Map[String, Long]()
      p.durationMs.forEach((k, v) => d(k) = v.longValue)
      val ops = Option(p.stateOperators).getOrElse(Array.empty)
      val rec = BatchRec(java.time.Instant.parse(p.timestamp).toEpochMilli, d.toMap,
        ops.map(_.commitTimeMs).sum, ops.map(_.numRowsUpdated).sum)
      Tracer.this.synchronized(batches += rec)
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.streams.addListener(streamListener)

  /** Stop listening (the untraced half of a run must not pay for it). */
  def close(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
  }

  /** Run `body` as a span of work unit `unit`; returns its result and
    * its time. The bus is drained after the timed region (the drain is
    * timed apart, as the span's `drain`); if the drain times out the span
    * is kept but marked stale (its counters may be incomplete) and the run
    * goes on. */
  def span[A](name: String, unit: Int)(body: => A): (A, Took) = {
    val startMs = System.currentTimeMillis()
    val (t0, c0) = (System.nanoTime(), Took.cpuNow)
    def finish(): Took = {
      val (t1, c1) = (System.nanoTime(), Took.cpuNow)
      val endMs = System.currentTimeMillis()
      val drained = BusDrain.drain(spark.sparkContext, DrainTimeoutMs)
      val drain = Took((System.nanoTime() - t1) / 1e9, Took.cpuNow - c1)
      synchronized(spanBuf += Span(name, unit, startMs, endMs, !drained, drain))
      Took((t1 - t0) / 1e9, c1 - c0)
    }
    val out = try body catch { case e: Throwable => finish(); throw e }
    (out, finish())
  }

  def spans: Seq[Span] = synchronized(spanBuf.toList)

  /** Jobs that started inside [fromMs, toMs]. */
  def jobsIn(fromMs: Long, toMs: Long): Seq[JobRec] =
    synchronized(jobs.values.filter(j => j.startMs >= fromMs && j.startMs <= toMs).toList)

  def batchesIn(fromMs: Long, toMs: Long): Seq[BatchRec] =
    synchronized(batches.filter(b => b.atMs >= fromMs && b.atMs <= toMs).toList)
}

object Tracer {
  val DrainTimeoutMs = 30000L

  /** Wall time in [fromMs, toMs] that no job of `js` covers. */
  def driverGapMs(js: Seq[JobRec], fromMs: Long, toMs: Long): Long = {
    val iv = js.map(j => (math.max(j.startMs, fromMs), math.min(j.endMs, toMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var (curA, curB) = (Long.MinValue, Long.MinValue)
    iv.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0L, (toMs - fromMs) - covered)
  }
}
