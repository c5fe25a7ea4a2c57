package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types._

import graft.sources.{GraftRing, RingRegistry}

/** `tick_ingest`: the reference system's own workload. Seeded market ticks
  * go through a reject-new GraftRing into the `graft-ring` source, then
  * watermark → 1-minute tumbling VWAP per symbol (plus count and
  * max(stamp)) in update mode to a foreachBatch sink.
  *
  * One generator thread runs an open loop on a fixed schedule, beside the
  * stream's own thread. Phase A offers [[LowRate]] ticks/s: latency from
  * each tick's due send time to the sink's receipt of the first result
  * row that includes it (the row's max(stamp) says which ticks it holds),
  * reported as the p50 and the p99 of every phase-A tick.
  * Phase B offers [[OverRate]] ticks/s, far above what the stream
  * sustains, so reject-new backpressure sets the pace; the saturated
  * throughput is the ticks the sink received per second while phase B
  * was offering. Event time is synthetic (a fixed
  * step per tick), so windows open and close — and state is evicted —
  * at a rate set by the input, not by the wall clock. */
final class TickIngest(seed: Long, trace: Trace) extends Workload {
  import TickIngest._

  // generated inputs, indexed by stamp (= tick sequence number)
  private var sym: Array[Int] = Array.empty
  private var price: Array[Double] = Array.empty
  private var qty: Array[Int] = Array.empty

  private final case class Emit(receiveNs: Long, window: Long, sym: Int,
      n: Long, vwap: Double, maxStamp: Long)
  private val emits = new ConcurrentLinkedQueue[Emit]()
  private val sinkMs = new ConcurrentLinkedQueue[java.lang.Double]()
  /** (receive time, ticks newly delivered) per sink batch. */
  private val batchLog = new ConcurrentLinkedQueue[(Long, Long)]()
  @volatile private var delivered = 0L
  private val groupCount = new java.util.concurrent.ConcurrentHashMap[(Long, Int), Long]()

  // phase bookkeeping
  private var a0 = 0
  private var nA = 0
  private var nB = 0
  private var tA = 0L
  private var tB = 0L
  private var tBStop = 0L
  private val lateMs = mutable.ArrayBuffer[Double]()
  private var enqueueWaitNs = 0L
  private val occupancy = mutable.ArrayBuffer[Double]()
  private var ring: GraftRing = _
  private var query: StreamingQuery = _
  private var latency: Seq[Double] = Seq.empty

  private var nAttempted = 0L
  private var nFailed = 0L
  private val failureLog = mutable.ArrayBuffer[String]()

  private def generate(): Unit = {
    val rnd = new scala.util.Random(seed)
    val n = MaxTicks
    sym = Array.fill(n)(100 + rnd.nextInt(Symbols))
    val level = Array.tabulate(Symbols)(i => 1000.0 + 10 * i)
    price = Array.tabulate(n) { i =>
      val s = sym(i) - 100
      level(s) = math.max(1.0, level(s) + (rnd.nextInt(21) - 10) * 0.01)
      math.rint(level(s) * 100) / 100
    }
    qty = Array.fill(n)(100 + rnd.nextInt(100))
  }

  private def row(i: Int): Row =
    Row(sym(i), price(i), qty(i), EventBaseNanos + i * EventStepNanos,
      (i % 4).toByte, i.toLong)

  private def windowOf(i: Int): Long = {
    val us = (EventBaseNanos + i * EventStepNanos) / 1000L
    us - Math.floorMod(us, 60000000L)
  }

  private def startQuery(spark: SparkSession, ringName: String,
      ckpt: String): StreamingQuery = {
    val src = spark.readStream.format("graft-ring")
      .option("ring", ringName).load()
    val agg = src
      .withColumn("ts", timestamp_micros(expr("tsNanos DIV 1000")))
      .withWatermark("ts", "5 seconds")
      .groupBy(window(col("ts"), "1 minute"), col("symbolId"))
      .agg(sum(col("price") * col("quantity")).as("pv"),
        sum(col("quantity")).as("vol"), count(lit(1)).as("n"),
        max(col("stamp")).as("max_stamp"))
      .select(unix_micros(col("window.start")).as("w"), col("symbolId"),
        (col("pv") / col("vol")).as("vwap"), col("n"), col("max_stamp"))
    agg.writeStream.outputMode(OutputMode.Update())
      .queryName(s"perfbench_$ringName")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, _: Long) =>
        val t0 = System.nanoTime()
        val rows = df.collect()
        val now = System.nanoTime()
        var added = 0L
        rows.foreach { r =>
          val key = (r.getLong(0), r.getInt(1))
          val n = r.getLong(3)
          val prev = Option(groupCount.put(key, n)).getOrElse(0L)
          added += n - prev
          emits.add(Emit(now, key._1, key._2, n, r.getDouble(2), r.getLong(4)))
        }
        delivered += added
        batchLog.add((now, added))
        sinkMs.add((System.nanoTime() - t0) / 1e6)
        ()
      }
      .start()
  }

  private def resetSink(): Unit = {
    emits.clear(); sinkMs.clear(); batchLog.clear(); groupCount.clear()
    delivered = 0L
  }

  private def awaitDelivered(q: StreamingQuery, n: Long, what: String): Unit = {
    val deadline = System.nanoTime() + DrainTimeoutNs
    while (delivered < n) {
      if (q.exception.isDefined) throw q.exception.get
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(
          s"$what: sink holds $delivered of $n ticks after drain timeout")
      Thread.sleep(2)
    }
  }

  private def tmpDir(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  def setup(spark: SparkSession): Unit = {
    trace.span("generate", "bench")(generate())
    resetSink()
    ring = trace.span("ring.create", "sources.RingSource")(
      RingRegistry.create("run", Schema, RingCapacity, dropOldest = false))
    query = trace.span("stream.start", "streaming")(
      startQuery(spark, "run", tmpDir("perfbench_ckpt_")))
    // warm-up through the measured query at phase A's rate: its first
    // batches create the state stores and run two to three times slower,
    // and its batch times keep falling for several seconds after; phase A
    // starts once they have settled
    trace.span("stream-warm-up", "sources.RingSource") {
      onGenerator(offer(0, WarmTicks, LowRate, late = false))
      awaitDelivered(query, WarmTicks, "stream warm-up")
    }
  }

  /** Sleep until `dueNs`. The generator parks rather than spins, so it
    * takes no core from the stream's tasks; a tick sent late by the park's
    * overshoot still counts its latency from its due time. */
  private def waitUntil(dueNs: Long): Unit = {
    var left = dueNs - System.nanoTime()
    while (left > 0) {
      LockSupport.parkNanos(left)
      left = dueNs - System.nanoTime()
    }
  }

  private def enqueue(i: Int): Unit = {
    val r = row(i)
    if (!ring.tryEnqueue(r)) {
      val w0 = System.nanoTime()
      ring.enqueue(r)
      enqueueWaitNs += System.nanoTime() - w0
    }
    if (trace.enabled && (i & 63) == 0)
      occupancy += (ring.latest - ring.oldest).toDouble
  }

  /** One generator thread, open loop: offer ticks [from, until) to the
    * current ring at `rate`, starting now; returns the start time. */
  private def offer(from: Int, until: Int, rate: Double,
      late: Boolean): Long = {
    val t0 = System.nanoTime()
    var i = from
    while (i < until) {
      val due = t0 + ((i - from) * 1e9 / rate).toLong
      waitUntil(due)
      if (late) lateMs += (System.nanoTime() - due) / 1e6
      enqueue(i)
      i += 1
    }
    t0
  }

  private def onGenerator(body: => Unit): Unit = {
    val g = new Thread(() => body, "perfbench-generator")
    g.start(); g.join()
  }

  def measure(spark: SparkSession, seconds: Double): Unit = {
    val q = query
    occupancy.clear()
    try {
      a0 = WarmTicks
      nA = (LowRate * seconds * PhaseAShare).toInt
      trace.span("phase-a", "sources.RingSource") {
        onGenerator { tA = offer(a0, a0 + nA, LowRate, late = true) }
        awaitDelivered(q, a0.toLong + nA, "phase A")
      }
      // phase B: offered far above capacity; reject-new sets the pace
      enqueueWaitNs = 0L
      val b0 = a0 + nA
      trace.span("phase-b", "sources.RingSource") {
        onGenerator {
          tB = System.nanoTime()
          val stop = tB + (seconds * (1 - PhaseAShare) * 1e9).toLong
          var i = b0
          while (System.nanoTime() < stop && i < MaxTicks) {
            waitUntil(tB + ((i - b0) * 1e9 / OverRate).toLong)
            enqueue(i)
            i += 1
          }
          nB = i - b0
          tBStop = System.nanoTime()
        }
        awaitDelivered(q, b0.toLong + nB, "phase B")
      }
      Host.sampleLiveHeap()
    } finally {
      q.stop()
    }
  }

  def check(spark: SparkSession): Unit = {
    val total = a0 + nA + nB
    nAttempted = total
    val dropped = ring.dropped
    RingRegistry.remove("run")
    if (dropped != 0) failureLog += s"ring dropped $dropped ticks"
    // generator-side reference per (window, symbol)
    final class Ref(var n: Long, var pv: Double, var vol: Long, var maxStamp: Long)
    val ref = mutable.HashMap[(Long, Int), Ref]()
    (0 until total).foreach { i =>
      val g = ref.getOrElseUpdate((windowOf(i), sym(i)), new Ref(0, 0.0, 0, -1))
      g.n += 1; g.pv += price(i) * qty(i); g.vol += qty(i); g.maxStamp = i
    }
    // the final row the sink received for each group
    val last = mutable.HashMap[(Long, Int), Emit]()
    emits.asScala.foreach { e =>
      val k = (e.window, e.sym)
      if (last.get(k).forall(_.n < e.n)) last(k) = e
    }
    if (Main.corrupt) last.keys.headOption.foreach(k =>
      last(k) = last(k).copy(vwap = last(k).vwap + 1.0))
    var bad = 0L
    ref.foreach { case (k, g) =>
      last.get(k) match {
        case None => bad += g.n
        case Some(e) =>
          val vwapOk = math.abs(e.vwap - g.pv / g.vol) <=
            1e-9 * math.abs(g.pv / g.vol)
          if (e.n != g.n || e.maxStamp != g.maxStamp || !vwapOk) {
            bad += g.n
            if (failureLog.size < 20) failureLog +=
              s"window ${k._1} symbol ${k._2}: n=${e.n}/${g.n} " +
                s"vwap=${e.vwap}/${g.pv / g.vol}"
          }
      }
    }
    // groups the input never made count every tick the sink claims for them
    val unexpected = last.keySet.diff(ref.keySet)
    if (unexpected.nonEmpty) {
      failureLog += s"${unexpected.size} unexpected groups"
      bad += unexpected.toSeq.map(last(_).n).sum
    }
    // per-tick latency in phase A: the first row of its group whose
    // max(stamp) covers the tick
    val byGroup = emits.asScala.toSeq.groupBy(e => (e.window, e.sym))
      .map { case (k, es) => k -> es.sortBy(_.maxStamp).toArray }
    latency = (a0 until a0 + nA).flatMap { i =>
      byGroup.get((windowOf(i), sym(i))).flatMap(_.find(_.maxStamp >= i))
        .map(e => (e.receiveNs - (tA + ((i - a0) * 1e9 / LowRate).toLong)) / 1e6)
    }
    if (latency.size < nA) {
      failureLog += s"${nA - latency.size} phase-A ticks never reached the sink"
      bad += nA - latency.size
    }
    nFailed = math.min(total.toLong, bad + dropped)
  }

  def attempted: Long = nAttempted
  def failed: Long = nFailed
  def failures: Seq[String] = failureLog.toSeq

  /** Ticks per second delivered in phase B while the generator was still
    * offering, over whole pairs of sink batches: from the first batch
    * received in the phase, the ticks of the following batches over the
    * time they took. Under reject-new the batches alternate between a full
    * ring and the few ticks enqueued while the previous batch freed its
    * slots, so an odd count would over- or under-weight one kind. */
  private def saturatedRate: Double = {
    val r = batchLog.asScala.toSeq.filter { case (t, n) =>
      n > 0 && t > tB && t <= tBStop }
    val m = (r.size - 1) / 2 * 2
    if (m < 2) 0.0
    else r.slice(1, m + 1).map(_._2).sum / ((r(m)._1 - r.head._1) / 1e9)
  }

  def endToEnd: Map[String, Double] = Map(
    "e2e_typical_ms" -> Stats.median(latency),
    "e2e_tail_ms" -> Stats.quantile(latency, 0.99),
    "throughput_per_s" -> saturatedRate)

  def layers(jobs: JobTotals, batches: Seq[BatchProgress])
      : Map[String, Double] = {
    BatchProgress.layers(batches.filter(_.query == "perfbench_run")) ++ Map(
      "gen.late_p99_ms" -> Stats.quantile(lateMs.toSeq, 0.99),
      "ring.enqueue_wait_ms" -> enqueueWaitNs / 1e6,
      "ring.occupancy_p99" -> Stats.quantile(occupancy.toSeq, 0.99),
      "ring.dropped" -> ring.dropped.toDouble,
      "sink.ms" -> Stats.median(sinkMs.asScala.map(_.doubleValue).toSeq))
  }

  override def extra: Map[String, Any] = Map(
    "tick" -> Map("phase_a_ticks" -> nA, "phase_b_ticks" -> nB,
      "low_rate" -> LowRate, "over_rate" -> OverRate,
      "ring_capacity" -> RingCapacity, "symbols" -> Symbols,
      "phase_b_batches" -> batchLog.asScala.count(_._1 > tB)))
}

object TickIngest {
  val Schema: StructType = StructType(Seq(
    StructField("symbolId", IntegerType, false),
    StructField("price", DoubleType, false),
    StructField("quantity", IntegerType, false),
    StructField("tsNanos", LongType, false),
    StructField("exchangeId", ByteType, false),
    StructField("stamp", LongType, false)))

  val Symbols = 32
  val RingCapacity = 16384
  val LowRate = 2000.0
  val OverRate = 100000.0
  val PhaseAShare = 0.6
  val MaxTicks = 1000000
  /** Ticks of the setup's warm-up: 8 s at [[LowRate]]. */
  val WarmTicks = 16000
  /** Event time advances 30 ms per tick: a one-minute window spans 2000
    * ticks, one second of phase A. */
  val EventStepNanos = 30000000L
  val EventBaseNanos = 1704067200000000000L
  val DrainTimeoutNs = 60L * 1000000000L
}
