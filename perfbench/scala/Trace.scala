package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-memory span recorder for the benchmark's own calls into each layer.
  *
  * A span is (id, name, layer, start, end, parent, run). Spans are kept in
  * a queue and written as JSON when the run ends. When tracing is off,
  * `span` runs its body and records nothing, so untraced runs pay one
  * branch per call. Clock: epoch microseconds derived from `nanoTime`, so
  * spans from progress events (which carry epoch-millisecond timestamps)
  * land on the same axis. */
final class Trace(val enabled: Boolean, val runId: String) {
  final case class Span(id: Long, name: String, layer: String,
      startUs: Long, endUs: Long, parent: Long)

  private val baseEpochUs = System.currentTimeMillis() * 1000L
  private val baseNanos = System.nanoTime()
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  /** Time spent inside the recorder itself (the tracing overhead). */
  val hookNanos = new LongAdder
  /** Innermost open span on the driving thread, for spans that are
    * recorded from other threads (micro-batch progress events). */
  @volatile var outer: Long = 0L

  def nowUs: Long = baseEpochUs + (System.nanoTime() - baseNanos) / 1000L

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val h0 = System.nanoTime()
      val id = ids.incrementAndGet()
      val parents = stack.get()
      val parent = parents.headOption.getOrElse(0L)
      stack.set(id :: parents)
      val savedOuter = outer
      outer = id
      val start = nowUs
      hookNanos.add(System.nanoTime() - h0)
      try body
      finally {
        val h1 = System.nanoTime()
        spans.add(Span(id, name, layer, start, nowUs, parent))
        stack.set(parents)
        outer = savedOuter
        hookNanos.add(System.nanoTime() - h1)
      }
    }

  /** Record a span whose interval was measured elsewhere. */
  def record(name: String, layer: String, startUs: Long, endUs: Long,
      parent: Long): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), name, layer,
      startUs, endUs, parent))

  def toJson: String = {
    val sb = new StringBuilder("[")
    var first = true
    spans.asScala.toSeq.sortBy(_.startUs).foreach { s =>
      if (!first) sb.append(",\n")
      first = false
      sb.append(Json.obj(Seq("id" -> s.id, "name" -> s.name,
        "layer" -> s.layer, "start_us" -> s.startUs, "end_us" -> s.endUs,
        "parent" -> s.parent, "run" -> runId)))
    }
    sb.append("]").toString
  }
}

/** Spark job/stage/task totals per benchmark layer.
  *
  * The benchmark tags the jobs it causes with the local property
  * [[JobTotals.LayerKey]] before calling into a layer; stages inherit the
  * job's properties, and streaming threads inherit the property of the
  * thread that started them. Registered only in traced runs. */
final class JobTotals(trace: Trace) extends SparkListener {
  final class Totals {
    val jobs, stages, tasks, shuffleBytes, spillBytes, cpuNanos, runMillis =
      new LongAdder
  }
  private val byLayer = new ConcurrentHashMap[String, Totals]()
  private val stageLayer = new ConcurrentHashMap[Int, String]()

  private def totals(layer: String): Totals =
    byLayer.computeIfAbsent(layer, _ => new Totals)

  private def layerOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(JobTotals.LayerKey)))
      .getOrElse("other")

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    trace.hookNanos.add(System.nanoTime() - t0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val layer = layerOf(e.properties)
    totals(layer).jobs.increment()
    e.stageIds.foreach(id => stageLayer.put(id, layer))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    timed {
      val layer = Option(e.properties).map(layerOf)
        .getOrElse(stageLayer.getOrDefault(e.stageInfo.stageId, "other"))
      stageLayer.put(e.stageInfo.stageId, layer)
      totals(layer).stages.increment()
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val t = totals(stageLayer.getOrDefault(e.stageId, "other"))
    t.tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      t.shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten +
        m.shuffleReadMetrics.totalBytesRead)
      t.spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      t.cpuNanos.add(m.executorCpuTime)
      t.runMillis.add(m.executorRunTime)
    }
  }

  def get(layer: String): Totals = totals(layer)
}

object JobTotals {
  val LayerKey = "perfbench.layer"

  /** Tag the jobs the calling thread causes with `layer`. */
  def tag(spark: SparkSession, layer: String): Unit =
    spark.sparkContext.setLocalProperty(LayerKey, layer)
}

/** One micro-batch's progress, kept from `onQueryProgress` (traced runs). */
final case class BatchProgress(query: String, startUs: Long,
    durations: Map[String, Long], rows: Long, stateCommitMs: Long,
    stateRows: Long, stateMemBytes: Long)

object BatchProgress {
  /** Micro-batch engine and state-store figures over `batches`: p50s of
    * the per-batch durations and sizes, the largest state, and the batch
    * count divided by `per` (e.g. per pass). */
  def layers(batches: Seq[BatchProgress], per: Double = 1.0)
      : Map[String, Double] = {
    def p50(f: BatchProgress => Double) = Stats.median(batches.map(f))
    def ms(key: String)(b: BatchProgress) =
      b.durations.getOrElse(key, 0L).toDouble
    def largest(f: BatchProgress => Long) =
      if (batches.isEmpty) 0.0 else batches.map(f).max.toDouble
    Map(
      "batch.latest_offset_ms" -> p50(ms("latestOffset")),
      "batch.get_batch_ms" -> p50(ms("getBatch")),
      "batch.planning_ms" -> p50(ms("queryPlanning")),
      "batch.add_batch_ms" -> p50(ms("addBatch")),
      "batch.commit_ms" -> p50(b => ms("walCommit")(b) + ms("commitOffsets")(b)),
      "batch.trigger_ms" -> p50(ms("triggerExecution")),
      "batch.rows_p50" -> p50(_.rows.toDouble),
      "batch.count" -> batches.size / per,
      "state.commit_ms" -> p50(_.stateCommitMs.toDouble),
      "state.rows" -> largest(_.stateRows),
      "state.mem_mb" -> largest(_.stateMemBytes) / 1048576.0)
  }
}

final class ProgressLog(trace: Trace) extends StreamingQueryListener {
  val batches = new ConcurrentLinkedQueue[BatchProgress]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
      : Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit =
    ()

  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val t0 = System.nanoTime()
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val startUs =
      java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
    val ops = p.stateOperators
    batches.add(BatchProgress(Option(p.name).getOrElse(""), startUs, d,
      p.numInputRows,
      ops.map(_.commitTimeMs).sum, ops.map(_.numRowsTotal).sum,
      ops.map(_.memoryUsedBytes).sum))
    trace.record("micro-batch", "streaming", startUs,
      startUs + d.getOrElse("triggerExecution", 0L) * 1000L, trace.outer)
    trace.hookNanos.add(System.nanoTime() - t0)
  }

  def snapshot: Seq[BatchProgress] = batches.asScala.toSeq
}
