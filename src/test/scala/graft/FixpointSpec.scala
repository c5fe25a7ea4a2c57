package graft

import scala.util.Try

import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

import graft.operators._

/** The contract [[Fixpoint.iterate]] owns for every graph loop: running
  * out of rounds fails loudly and names the operator, and a loop costs
  * one SQL execution per round plus a fixed setup. */
class FixpointSpec extends SparkTestBase {
  import spark.implicits._

  /** A 12-node directed chain: every loop below needs more than 2
    * rounds on it. */
  private def chain = (1L until 12L).map(i => (i, i + 1, 1L))
    .toDF("src", "dst", "w")
  private def sym = chain.union(chain.select($"dst", $"src", $"w"))

  test("too few rounds: every converging operator throws, naming itself") {
    val seeds = Seq(1L).toDF("sid")
    val standing = (1L to 12L).map(i => (i, if (i == 1L) Some(0L) else None))
      .toDF("id", "dist")
    val cases: Seq[(String, () => DataFrame)] = Seq(
      "ConnectedComponents" ->
        (() => ConnectedComponents.minLabel(chain, "src", "dst", 2)),
      "Scc" -> (() => Scc.run(chain.union(Seq((12L, 1L, 1L)).toDF()),
        "src", "dst", maxIterations = 2)),
      "PageRank" -> (() => PageRank.run(chain, "src", "dst", "w",
        maxIterations = 2)),
      "Coreness" -> (() => Coreness.run(sym, "src", "dst", 2)),
      "HopDistance" -> (() => HopDistance.run(chain, "src", "dst", seeds,
        "sid", 2)),
      "HopDistance.incremental" -> (() => HopDistance.incremental(standing,
        chain, chain.limit(1), "src", "dst", maxIterations = 2)),
      "DagLevels" -> (() => DagLevels.run(chain, "src", "dst", 2)))
    for ((name, run) <- cases) {
      val err = intercept[IllegalStateException](run().collect())
      assert(err.getMessage.startsWith(s"$name did not converge within 2 "),
        err.getMessage)
    }
    Staging.sweep(spark)
  }

  test("connected components: two SQL executions per round plus a fixed setup") {
    val executions = scala.collection.mutable.Set.empty[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .foreach(id => executions.synchronized(executions += id))
    }
    val star = (2L to 6L).map(i => (1L, i)).toDF("src", "dst")
    val graphs = Seq(star, chain.select("src", "dst"),
      chain.filter($"src" < 4L).select("src", "dst"))
    // rounds = the smallest bound the loop converges within
    val rounds = graphs.map(g => (1 to 20).find(k =>
      Try(ConnectedComponents.minLabel(g, "src", "dst", k)).isSuccess).get)
    assert(rounds.distinct.size == rounds.size, s"rounds $rounds")
    val setups = graphs.zip(rounds).map { case (g, r) =>
      GraftListenerBridge.drain(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
      try {
        executions.synchronized(executions.clear())
        ConnectedComponents.minLabel(g, "src", "dst").collect()
        GraftListenerBridge.drain(spark.sparkContext)
        executions.synchronized(executions.size) - 2 * r
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    // Per round: the lazy staging, whose plan AQE finalizes by running
    // the round's shuffle map stages, and the probe aggregate that
    // materializes the staged blocks. Setup: the edge staging, the init
    // state's staging and probe, and the caller's collect.
    assert(setups == Seq(4, 4, 4),
      s"rounds $rounds, executions minus 2 per round $setups")
    Staging.sweep(spark)
  }
}
