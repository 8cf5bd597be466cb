package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on the
  * same base as the timestamps Spark stamps on listener events. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Catalyst analysis + optimization + planning time of every finished
  * query, in any session. Installed through the static conf
  * `spark.sql.queryExecutionListeners`, so `newSession()` clones carry it. */
final class CatalystListener extends QueryExecutionListener {
  private def add(qe: QueryExecution): Unit =
    CatalystListener.ms.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
}
object CatalystListener {
  val ms = new AtomicLong
}

/** One finished micro-batch, as the streaming progress report states it. */
final case class Batch(startMs: Double, durations: Map[String, Long], inputRows: Long,
                       keptRows: Long, stateRows: Long)

/** Listener counters and spans of a traced run. Counters are cumulative;
  * a caller brackets an operation with [[snapshot]] (after draining the
  * listener bus) and takes the difference. */
final class Trace(spark: SparkSession, runId: String) {
  private val jobs = new AtomicLong
  private val jobMs = new AtomicLong
  private val taskMs = new AtomicLong
  private val gcMs = new AtomicLong
  private val shuffleBytes = new AtomicLong
  private val listingJobs = new AtomicLong
  private val queryStarts = new AtomicLong
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val jobSpans = new ConcurrentLinkedQueue[(Double, Double)]()
  private val batches = new ConcurrentLinkedQueue[Batch]()
  private val mergeStarts = new ConcurrentLinkedQueue[Double]()

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      jobStart.put(e.jobId, e.time)
      val desc = Option(e.properties).map(_.getProperty("spark.job.description", "")).getOrElse("")
      if (desc.startsWith("Listing leaf files")) listingJobs.incrementAndGet()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val t0 = Option(jobStart.remove(e.jobId)).getOrElse(e.time)
      jobMs.addAndGet(e.time - t0)
      jobSpans.add((t0.toDouble, e.time.toDouble))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      taskMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
    }
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      queryStarts.incrementAndGet()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators
      batches.add(Batch(
        java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows,
        ops.map(_.numRowsUpdated).sum,
        ops.map(_.numRowsTotal).sum))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  })

  /** Called from `GraftApp.preMergeHook`: the fact merge of a batch starts. */
  def mergeStarted(): Unit = mergeStarts.add(Clock.nowMs)

  def drain(): Unit = BenchBus.drain(spark.sparkContext)

  /** Cumulative counters, after every event posted so far was delivered. */
  def snapshot(): Map[String, Long] = {
    drain()
    Map(
      "jobs" -> jobs.get, "job_ms" -> jobMs.get, "task_ms" -> taskMs.get,
      "gc_ms" -> gcMs.get, "shuffle_bytes" -> shuffleBytes.get,
      "codegen_compiles" ->
        org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      "catalyst_ms" -> CatalystListener.ms.get, "listing_jobs" -> listingJobs.get,
      "query_starts" -> queryStarts.get)
  }

  private def take[A](q: ConcurrentLinkedQueue[A]): Seq[A] = {
    val out = ArrayBuffer.empty[A]
    var a = q.poll()
    while (a != null) { out += a; a = q.poll() }
    out.toSeq
  }

  /** Job intervals, micro-batches and merge starts recorded since the last
    * call; the caller attributes them to the operation just closed. */
  def takeJobs(): Seq[(Double, Double)] = take(jobSpans)
  def takeBatches(): Seq[Batch] = take(batches)
  def takeMerges(): Seq[Double] = take(mergeStarts)

  val spans = ArrayBuffer.empty[Span]
  def span(name: String, startMs: Double, endMs: Double, parent: Int): Int = {
    spans += Span(spans.size, name, startMs, endMs, parent, runId)
    spans.size - 1
  }
}

final case class Span(id: Int, name: String, startMs: Double, endMs: Double,
                      parent: Int, run: String)
