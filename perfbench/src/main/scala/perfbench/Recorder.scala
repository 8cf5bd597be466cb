package perfbench

import scala.collection.mutable.ArrayBuffer

/** Times the benchmark's calls into the program. Untraced, an operation is
  * its wall time alone. Traced, it also carries the listener-counter deltas
  * over the call, and its span gets the Spark jobs, micro-batches and fact
  * merges it caused as children. */
final class Recorder(val trace: Option[Trace]) {
  val ops = ArrayBuffer.empty[Map[String, Any]]
  private var runSpan = -1

  def open(): Unit = trace.foreach { t => runSpan = t.span("run", Clock.nowMs, Double.NaN, -1) }
  def close(): Unit = trace.foreach { t =>
    val s = t.spans(runSpan); t.spans(runSpan) = s.copy(endMs = Clock.nowMs)
  }

  /** A benchmark-side step (drop landing, setup) recorded only as a span. */
  def step[A](name: String)(body: => A): A = {
    val t0 = Clock.nowMs
    val a = body
    trace.foreach(_.span(name, t0, Clock.nowMs, runSpan))
    a
  }

  /** Runs one operation; records it and returns whether it succeeded. */
  def op(kind: String, attrs: Map[String, Any] = Map.empty)(body: => Unit): Boolean = {
    val before = trace.map { t =>
      val s = t.snapshot(); t.takeJobs(); t.takeBatches(); t.takeMerges(); s
    }
    val t0 = Clock.nowMs
    val err = try { body; None } catch {
      case scala.util.control.NonFatal(e) =>
        val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString.take(300)}"
        System.err.println(s"[perfbench] $kind ${attrs.getOrElse("name", "")} FAILED: $msg")
        Some(msg)
    }
    val t1 = Clock.nowMs
    val traced = (trace zip before).map { case (t, b) => measured(t, b, kind, t0, t1) }
      .getOrElse(Map.empty)
    ops += attrs ++ traced ++ Map("kind" -> kind, "ms" -> (t1 - t0), "ok" -> err.isEmpty) ++
      err.map("error" -> _)
    err.isEmpty
  }

  private def measured(t: Trace, before: Map[String, Long], kind: String,
                       t0: Double, t1: Double): Map[String, Any] = {
    val after = t.snapshot()
    val jobs = t.takeJobs()
    val batches = t.takeBatches()
    val merges = t.takeMerges()
    val opSpan = t.span(kind, t0, t1, runSpan)
    val batchSpans = batches.map { b =>
      b -> t.span("stream.batch", b.startMs, b.startMs + b.durations.getOrElse("triggerExecution", 0L), opSpan)
    }
    def enclosing(ms: Double): Option[(Batch, Int)] =
      batchSpans.find { case (b, id) => t.spans(id).startMs <= ms && ms <= t.spans(id).endMs }
    // a fact merge runs from the hook to the end of its batch, less the
    // offset commit that follows the sink
    val mergeSpans = merges.flatMap { m =>
      enclosing(m).map { case (b, id) =>
        val end = t.spans(id).endMs - b.durations.getOrElse("commitOffsets", 0L)
        t.span("jdbc.merge", m, end.max(m), id)
      }
    }
    jobs.foreach { case (s, e) =>
      val parent = mergeSpans.find(id => t.spans(id).startMs <= s && s <= t.spans(id).endMs)
        .orElse(enclosing(s).map(_._2)).getOrElse(opSpan)
      t.span("spark.job", s, e, parent)
    }
    def dur(keys: String*): Long = batches.map(b => keys.map(b.durations.getOrElse(_, 0L)).sum).sum
    val counters = after.map { case (k, v) => k -> (v - before(k)) }
    counters ++ Map(
      "span" -> opSpan,
      "batches" -> batches.size,
      "trigger_ms" -> dur("triggerExecution"),
      "latest_offset_ms" -> dur("latestOffset"),
      "query_planning_ms" -> dur("queryPlanning"),
      "add_batch_ms" -> dur("addBatch"),
      "log_commit_ms" -> dur("walCommit", "commitOffsets"),
      "input_rows" -> batches.map(_.inputRows).sum,
      "kept_rows" -> batches.map(_.keptRows).sum,
      "state_rows" -> batches.lastOption.map(_.stateRows).getOrElse(0L),
      "merges" -> mergeSpans.size,
      "merge_ms" -> mergeSpans.map(id => t.spans(id).endMs - t.spans(id).startMs).sum)
  }
}
