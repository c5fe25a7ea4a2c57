package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{concat, lit}

import graft.SparkEntry
import graft.operators.{ConnectedComponents, PageRank, Scc, Staging}

/** `batch_mix`: closed loop of passes over catalog queries and the loop
  * operators, in a seeded order per pass. Each call is materialized
  * through the noop sink, with Staging.sweep after it.
  *
  * Queries run over seeded tables (`perfbench/tables.py`); a query's time
  * splits into build (calling the query function, which includes eager
  * staging and bounded streams run to completion), plan (forcing
  * `executedPlan`) and exec (the noop write). After its timed section,
  * every execution's DataFrame is written once more as parquet under
  * `out/p<pass>/<query>`, which `perfbench/run.py` checks against the
  * query's DuckDB oracle with `tools/check.py`.
  *
  * The loop operators — ConnectedComponents.minLabel, Scc.run and
  * PageRank.run in its fixed-iteration mode — run over one seeded random
  * graph, dense enough (out-degree 10) that every fixpoint converges in a
  * few rounds: their time is the per-round fixed cost of
  * Staging.withLoopShuffle and the operators. Every call's output is
  * collected after its timed section and checked against [[Graph]]'s
  * references. */
final class BatchMix(seed: Long, trace: Trace, dataDir: String, runDir: Path)
    extends Workload {
  import BatchMix._

  private val catalog = SparkEntry.queries
  private var graph: Graph = _
  private var warmGraph: Graph = _

  private val callMs = mutable.Map[String, mutable.ArrayBuffer[Double]]()
  private val passS = mutable.ArrayBuffer[Double]()
  private val buildS, planS, execS = mutable.ArrayBuffer[Double]()
  private val sweepMs = mutable.ArrayBuffer[Double]()
  private val runs = mutable.Map[String, Int]().withDefaultValue(0)
  private val failedRuns = mutable.Map[String, Int]().withDefaultValue(0)
  private val failureLog = mutable.ArrayBuffer[String]()
  /** Queries whose output each pass wrote for the oracle check. */
  private val written = mutable.ArrayBuffer[mutable.ArrayBuffer[String]]()

  private val graphOps: Seq[(String, DataFrame => DataFrame, Graph => Map[Long, Long])] =
    Seq(
      ("cc", e => ConnectedComponents.minLabel(e, "src", "dst"), _.cc),
      ("scc", e => Scc.run(e, "src", "dst"), _.scc),
      ("pagerank", e => PageRank.run(e, "src", "dst", "w",
        maxIterations = Graph.PageRankRounds, tolPpm = -1L), _.pageRank))

  /** Rows of a graph operator's output that differ from the reference. */
  private def graphErrors(spark: SparkSession, out: DataFrame,
      ref: Map[Long, Long]): Int = {
    JobTotals.tag(spark, "check")
    val got = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val seen = if (Main.corrupt) got.updated(got.keys.min, -1L) else got
    ref.count { case (k, v) => !seen.get(k).contains(v) } +
      seen.keySet.diff(ref.keySet).size
  }

  /** Write a timed query execution's result for the oracle check. The
    * self-test alters the first query's first column on the way. */
  private def writeOutput(spark: SparkSession, df: DataFrame, q: String,
      index: Int): Unit = {
    JobTotals.tag(spark, "check")
    val c = df.columns.head
    val res = if (Main.corrupt && q == Queries.head)
      df.withColumn(c, concat(df(c).cast("string"), lit("#"))) else df
    res.coalesce(1).write.mode("overwrite")
      .parquet(runDir.resolve(s"out/p$index/$q").toString)
    written(index) += q
  }

  def setup(spark: SparkSession): Unit = {
    trace.span("generate", "bench") {
      graph = new Graph(spark, Nodes, Edges, seed)
      warmGraph = new Graph(spark, WarmNodes, WarmEdges, seed)
    }
    // warm-up: every call once, the operators on the small graph
    Queries.foreach { q =>
      val df = catalog(q)(spark, dataDir)
      df.queryExecution.executedPlan
      df.write.format("noop").mode("overwrite").save()
      Staging.sweep(spark)
    }
    graphOps.foreach { case (name, op, refOf) =>
      val bad = graphErrors(spark, op(warmGraph.df), refOf(warmGraph))
      if (bad > 0 && !Main.corrupt)
        throw new IllegalStateException(s"warm-up $name: $bad nodes differ")
      Staging.sweep(spark)
    }
  }

  private def pass(spark: SparkSession, index: Int): Unit = {
    val calls = Queries ++ graphOps.map(_._1)
    val order = new scala.util.Random(seed * 7919L + index).shuffle(calls)
    written += mutable.ArrayBuffer[String]()
    var passNs = 0L
    var bNs, pNs, eNs = 0L
    order.foreach { name =>
      val op = graphOps.find(_._1 == name)
      val (layer, module) =
        if (op.isDefined) ("graph", "operators") else ("mix", "queries")
      JobTotals.tag(spark, layer)
      val t0 = System.nanoTime()
      try {
        val df = trace.span(s"$name.build", module)(op match {
          case Some((_, f, _)) => f(graph.df)
          case None => catalog(name)(spark, dataDir)
        })
        val t1 = System.nanoTime()
        trace.span(s"$name.plan", module)(df.queryExecution.executedPlan)
        val t2 = System.nanoTime()
        trace.span(s"$name.exec", module)(
          df.write.format("noop").mode("overwrite").save())
        val t3 = System.nanoTime()
        passNs += t3 - t0
        callMs.getOrElseUpdate(name, mutable.ArrayBuffer()) += (t3 - t0) / 1e6
        if (op.isEmpty) { bNs += t1 - t0; pNs += t2 - t1; eNs += t3 - t2 }
        op match {
          case Some((_, _, refOf)) =>
            val bad = graphErrors(spark, df, refOf(graph))
            if (bad > 0) {
              failedRuns(name) += 1
              failureLog += s"$name: $bad of ${refOf(graph).size} nodes differ"
            }
          case None => writeOutput(spark, df, name, index)
        }
      } catch { case e: Throwable =>
        failedRuns(name) += 1
        failureLog += s"$name threw: ${e.getMessage}"
      }
      runs(name) += 1
      JobTotals.tag(spark, layer)
      val s0 = System.nanoTime()
      trace.span("sweep", "operators")(Staging.sweep(spark))
      val ds = System.nanoTime() - s0
      sweepMs += ds / 1e6
      passNs += ds
    }
    passS += passNs / 1e9
    buildS += bNs / 1e9; planS += pNs / 1e9; execS += eNs / 1e9
  }

  def measure(spark: SparkSession, seconds: Double): Unit = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    do {
      trace.span("pass", "bench")(pass(spark, i))
      i += 1
    } while (System.nanoTime() < end)
    Host.sampleLiveHeap()
  }

  // operator outputs are checked in each pass, query outputs by run.py
  // from the files each pass wrote
  def check(spark: SparkSession): Unit = ()

  def attempted: Long = runs.values.sum.toLong
  def failed: Long = failedRuns.values.sum.toLong
  def failures: Seq[String] = failureLog.toSeq

  def endToEnd: Map[String, Double] = Map(
    "e2e_typical_ms" -> Stats.geoMeanOfMedians(callMs.values.map(_.toSeq)),
    "e2e_tail_ms" -> Stats.slowestThirdMean(callMs.values.map(_.toSeq)),
    "throughput_per_s" ->
      (Queries.size + graphOps.size) / Stats.median(passS.toSeq))

  private def medianS(name: String): Double =
    Stats.median(callMs.getOrElse(name, mutable.ArrayBuffer()).toSeq) / 1e3

  def layers(jobs: JobTotals, batches: Seq[BatchProgress])
      : Map[String, Double] = {
    val passes = math.max(passS.size, 1).toDouble
    def perPass(prefix: String, t: jobs.Totals) = Map(
      s"$prefix.jobs" -> t.jobs.sum / passes,
      s"$prefix.stages" -> t.stages.sum / passes,
      s"$prefix.tasks" -> t.tasks.sum / passes,
      s"$prefix.shuffle_mb" -> t.shuffleBytes.sum / 1048576.0 / passes,
      s"$prefix.spill_mb" -> t.spillBytes.sum / 1048576.0 / passes,
      s"$prefix.cpu_s" -> t.cpuNanos.sum / 1e9 / passes,
      s"$prefix.run_s" -> t.runMillis.sum / 1e3 / passes)
    // the bounded file streams the catalog runs through Streams.runToMemory
    val streams = batches.filter(_.query.startsWith("graft_stream_"))
    Queries.map(q => s"mix.${q}_s" -> medianS(q)).toMap ++
      perPass("mix", jobs.get("mix")) ++
      (perPass("graph", jobs.get("graph")) - "graph.spill_mb") ++
      BatchProgress.layers(streams, passes) ++ Map(
      "graph.cc_s" -> medianS("cc"),
      "graph.scc_s" -> medianS("scc"),
      "graph.pagerank_s" -> medianS("pagerank"),
      "mix.build_s" -> Stats.median(buildS.toSeq),
      "mix.plan_s" -> Stats.median(planS.toSeq),
      "mix.exec_s" -> Stats.median(execS.toSeq),
      "staging.sweep_ms" -> Stats.median(sweepMs.toSeq))
  }

  override def extra: Map[String, Any] = Map(
    "batch" -> Map(
      "queries" -> Queries,
      "written" -> written.map(_.toSeq).toSeq,
      "runs" -> runs.toMap,
      "failed_runs" -> failedRuns.toMap,
      "oracle" -> Queries.flatMap(q =>
        SparkEntry.oracleSql.get(q).map(q -> _)).toMap,
      "graph" -> Map("nodes" -> Nodes, "edges" -> Edges,
        "scc_count" -> graph.scc.values.toSet.size),
      "passes" -> passS.size, "pass_s" -> passS.toSeq,
      "call_ms" -> callMs.map { case (k, v) => k -> v.toSeq }.toMap))
}

object BatchMix {
  /** One query per family the catalog exercises — relational (q1),
    * window (q16), range join (q28), a bounded file stream through
    * Streams.runToMemory (q44) — and both as-of join paths (q25 union and
    * running last, q129 the native AsOfJoinExec). */
  val Queries: Seq[String] = Seq(
    "q1_pricing_summary", "q16_window_running",
    "q25_asof_join", "q129_asof_native", "q28_range_join",
    "q44_stream_tumbling")

  val Nodes = 300
  val Edges = 3000
  /** The operators warm up on a graph from the same generator, a tenth of
    * the size: the same plans, in less time. */
  val WarmNodes = 30
  val WarmEdges = 300
}
