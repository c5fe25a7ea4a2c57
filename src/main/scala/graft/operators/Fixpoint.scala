package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The fixpoint loop every iterated graph operator runs: a per-node
  * state table rewritten once per round until a convergence test on a
  * one-row probe aggregate passes.
  *
  * Each round's state is staged LAZILY with the node count as known
  * statistics ([[Staging.stageWithStats]]): the probe aggregate is the
  * round's only action, so materializing the staged blocks and
  * computing the convergence metric share ONE Spark job, and the known
  * row count lets Catalyst pick broadcast vs shuffle for every join
  * against the state (a bare staged leaf reports an unbounded size).
  * The node count rides the init state's probe action, so it costs no
  * job of its own. The previous round's blocks are released as soon as
  * the next round is up; the caller owns the returned state (release
  * it, or let [[Staging.sweep]] take it).
  *
  * The probe is an aggregate, never an accumulator: task retries would
  * double-count an accumulator on a real cluster. Running out of rounds
  * before convergence throws — truncated state is silently wrong state.
  */
object Fixpoint {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Exact sum of `c` as DECIMAL(38,0) — overflow-proof at any scale —
    * and 0 over an empty table, so the convergence compare still
    * terminates on an edgeless graph. */
  def exactSum(c: Column): Column = {
    val dec = DecimalType(38, 0)
    coalesce(sum(c.cast(dec)), lit(0).cast(dec))
  }

  /** Convergence for a state that only ever moves one way (labels that
    * only decrease, levels that only increase): the probe's first
    * column, an [[exactSum]] of the state, is strictly monotone until
    * the fixed point, so an unchanged sum IS convergence — no join of
    * the old state against the new. */
  val sumUnchanged: (Row, Row) => Boolean =
    (prev, cur) => prev.getDecimal(0).compareTo(cur.getDecimal(0)) == 0

  /** Run the loop.
    *
    * @param name      operator name, used in the log line and the error
    * @param init      round-0 state (unstaged; staged lazily here)
    * @param step      (state, its probe row, round index from 0) =>
    *                  the next state's plan
    * @param probe     one-row aggregate over a state: convergence
    *                  metric plus any scalar the next step needs
    * @param converged Some(test(prevProbe, curProbe)): stop at the
    *                  first round that passes, throw after `maxRounds`
    *                  without one. None: run exactly `maxRounds` rounds
    *                  (the shape an unrolled SQL oracle can replay)
    * @return the final state (staged, with known statistics) and its
    *         probe row
    */
  def iterate(name: String, init: DataFrame,
      step: (DataFrame, Row, Int) => DataFrame, probe: Seq[Column],
      converged: Option[(Row, Row) => Boolean],
      maxRounds: Int): (DataFrame, Row) = {
    val t0 = System.nanoTime()
    val staged0 = Staging.stage(init, eager = false)
    // the init probe row carries the node count as one extra trailing
    // column; steps and tests only read the probe's own columns
    var row = staged0.agg(probe.head, probe.tail :+ count(lit(1)): _*)
      .head()
    val n = row.getLong(probe.size)
    var state = org.apache.spark.sql.GraftSqlBridge
      .withKnownStats(staged0, n)
    val roundSecs = ArrayBuffer.empty[String]
    var done = false
    var i = 0
    while (!done && i < maxRounds) {
      val tRound = System.nanoTime()
      val next = Staging.stageWithStats(step(state, row, i), n,
        eager = false)
      val nextRow = next.agg(probe.head, probe.tail: _*).head()
      Staging.release(state)
      done = converged.exists(_(row, nextRow))
      state = next
      row = nextRow
      i += 1
      roundSecs += f"${(System.nanoTime() - tRound) / 1e9}%.2f"
    }
    val outcome =
      if (converged.isEmpty) "fixed" else if (done) "converged" else "failed"
    log.info(s"$name: $i rounds $outcome over $n nodes in " +
      f"${(System.nanoTime() - t0) / 1e9}%.2f s (per round " +
      s"${roundSecs.mkString(", ")} s) at width " +
      init.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if (converged.isDefined && !done)
      throw new IllegalStateException(
        s"$name did not converge within $maxRounds rounds; raise " +
          "maxIterations")
    (state, row)
  }
}
