package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One benchmark workload, driven by [[Main]]: set up (input generation
  * and a warm-up that runs every operation once), measure for a fixed
  * time, then check every output outside the timed region. */
trait Workload {
  def setup(spark: SparkSession): Unit
  def measure(spark: SparkSession, seconds: Double): Unit
  def check(spark: SparkSession): Unit

  /** Outputs attempted and failed (wrong, refused or missing). */
  def attempted: Long
  def failed: Long
  def failures: Seq[String]

  /** End-to-end figures this workload measures, by metric name. */
  def endToEnd: Map[String, Double]

  /** Per-layer figures; `jobs` and `batches` exist in traced runs. */
  def layers(jobs: JobTotals, batches: Seq[BatchProgress])
      : Map[String, Double]

  /** Extra result fields for the Python side (e.g. output dirs). */
  def extra: Map[String, Any] = Map.empty
}

/** Benchmark entry point inside the JVM.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --out <run dir> [--data <table dir>]
  * }}}
  *
  * Writes `result.json` (and `spans.json` when traced) into the run dir;
  * `perfbench/run.py` turns it into the benchmark's result line. */
object Main {
  /** Self-test switch (-Dperfbench.corrupt=1): each workload alters one
    * output before its check, which must then report a failure. */
  val corrupt: Boolean = sys.props.get("perfbench.corrupt").contains("1")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val out = Paths.get(opt("out"))
    Files.createDirectories(out)
    val trace = new Trace(traced, s"$name-$seed-${ProcessHandle.current.pid}")
    val w: Workload = name match {
      case "tick_ingest" => new TickIngest(seed, trace)
      case "batch_mix" => new BatchMix(seed, trace, opt("data"), out)
      case other =>
        throw new IllegalArgumentException(s"unknown workload '$other'")
    }

    // setup_s is this one cold setup: session build, input generation and
    // the warm-up, in a JVM that has run nothing else
    val t0Setup = System.nanoTime()
    val spark = trace.span("setup", "bench") {
      val s = GraftSession.build(s"perfbench-$name")
      w.setup(s)
      s
    }
    val setupS = (System.nanoTime() - t0Setup) / 1e9

    val jobs = new JobTotals(trace)
    val progress = new ProgressLog(trace)
    if (traced) {
      spark.sparkContext.addSparkListener(jobs)
      spark.streams.addListener(progress)
    }
    val gc0 = Host.gcMillis() - Host.explicitGcMillis
    val st0 = Host.stealUptime()
    val t0 = System.nanoTime()
    trace.span("measure", "bench")(w.measure(spark, seconds))
    val wallNs = System.nanoTime() - t0
    val (steal, verdict) = Host.stealRate(st0, Host.stealUptime())
    val gcMs = Host.gcMillis() - Host.explicitGcMillis - gc0
    trace.span("check", "bench")(w.check(spark))
    // listener events are delivered asynchronously; let the bus drain
    if (traced) Thread.sleep(300)

    val layers = w.layers(jobs, progress.snapshot) ++ Map(
      "jvm.gc_ms" -> gcMs.toDouble,
      "host.steal_per_s" -> steal,
      "trace.overhead_pct" -> 100.0 * trace.hookNanos.sum / wallNs)
    val result = Map[String, Any](
      "workload" -> name, "seed" -> seed, "seconds" -> seconds,
      "traced" -> traced,
      "jvm_setup_s" -> setupS,
      "attempted" -> w.attempted, "failed" -> w.failed,
      "failures" -> w.failures.take(50),
      "end_to_end" -> (w.endToEnd ++ Map(
        "setup_s" -> setupS,
        "heap_peak_mb" -> Host.heapPeakMb)),
      "per_layer" -> layers,
      "host" -> Map("steal_per_s" -> steal, "verdict" -> verdict,
        "cpus" -> GraftSession.cpus, "measure_s" -> wallNs / 1e9)
    ) ++ w.extra
    if (traced) Files.writeString(out.resolve("spans.json"), trace.toJson)
    Files.writeString(out.resolve("result.json"), Json.value(result))
    spark.stop()
  }
}
