package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Weighted PageRank to convergence in exact FIXED-POINT arithmetic —
  * the iterated form of the catalog's q159 single step.
  *
  * Ranks are BIGINTs in parts-per-million of uniform mass (Ppm = one
  * uniform share), every per-round operation is integer (floor
  * division), and therefore each round's output is bit-exact
  * regardless of partition count, partial-aggregation order, or
  * engine — the property a double formulation cannot have (per-node
  * inflow is an order-dependent FP sum). Floor loss is ≤ 1 ppm per
  * in-edge per round, indistinguishable next to tolPpm.
  *
  * The edge+strength frame is staged EAGERLY once (arbitrary upstream
  * cost); the rank table is the state of a [[Fixpoint.iterate]] loop,
  * and non-convergence throws instead of returning silently-wrong
  * ranks. Dangling mass (nodes with no out-edges) is redistributed
  * uniformly each round; its total rides the round's one action.
  *
  * Scale notes (100 TB): the per-round joins shuffle on src then on
  * id — the canonical two-exchange PR step; only (id, rank) rows move
  * between rounds. The inflow product is decomposed as
  * `(r DIV tw)·w + ((r MOD tw)·w) DIV tw` = floor(r·w/tw) exactly,
  * bounding intermediates by tw·max(w) instead of r·max(w) — safe
  * while per-src strength × max edge weight < 2^63.
  */
object PageRank {

  /** One uniform share, in ppm. */
  val Ppm = 1000000L

  /** @param edges   directed weighted edges (positive weights)
    * @param dampingPct damping factor in percent (classic 85)
    * @param tolPpm  converged when the max per-node rank change is
    *                <= tolPpm (10 ppm = 1e-5 of a uniform share).
    *                NEGATIVE = fixed-iteration mode: run exactly
    *                `maxIterations` rounds with no convergence check —
    *                the mode an unrolled cross-engine oracle can
    *                re-derive round by round (q262's proof shape)
    * @return (id, rank_ppm) for every node appearing as src or dst
    */
  def run(edges: DataFrame, srcCol: String, dstCol: String, wCol: String,
      dampingPct: Int = 85, maxIterations: Int = 30,
      tolPpm: Long = 10L): DataFrame = {
    require(dampingPct > 0 && dampingPct < 100,
      s"dampingPct ($dampingPct) must be in (0, 100)")
    val spark = edges.sparkSession
    val (ew, nodes) = stageGraph(edges, srcCol, dstCol, wCol)
    val n = nodes.count()
    // width from the staged edge+strength frame's measured bytes: the
    // per-round contribution aggregate's map side is edge-sized, and
    // its reducer count must scale with the graph, not sit at a
    // local-mode constant
    Staging.withLoopShuffle(spark, ew) {
      val base = (100L - dampingPct) * Ppm / 100L
      // r_prev rides the rank table so the round's one action can
      // return the max delta; the dangling flag rides it so the same
      // action ALSO returns the next round's dangling mass (round 0's
      // is dangling count × Ppm: every rank starts at Ppm)
      val (ranks, _) = Fixpoint.iterate("PageRank",
        init = withDangling(nodes, ew)
          .select(col("id"), col("isd"), lit(Ppm).as("r_prev"),
            lit(Ppm).as("r")),
        step = (ranks, row, _) => {
          val dangShare = row.getLong(1) / math.max(n, 1L)
          ranks.select(col("id"), col("isd"), col("r").as("r_prev"))
            .join(inflow(ew, ranks), col("id") === col("dst"),
              "left_outer")
            .select(col("id"), col("isd"), col("r_prev"),
              coalesce(col("inflow"), lit(0L)).as("inf0"))
            .select(col("id"), col("isd"), col("r_prev"),
              (lit(base) +
                expr(s"($dampingPct * (inf0 + $dangShare)) DIV 100"))
                .as("r"))
        },
        probe = Seq(coalesce(max(abs(col("r") - col("r_prev"))), lit(0L)),
          dangMass),
        converged =
          if (tolPpm >= 0) Some((_, cur) => cur.getLong(0) <= tolPpm)
          else None,
        maxRounds = maxIterations)
      Staging.release(ew); Staging.release(nodes)
      ranks.select(col("id"), col("r").as("rank_ppm"))
    }
  }

  /** (src, dst, w, tw) — weights plus per-src out-strength, staged
    * eagerly at full session width (the data-heavy frame of the loop)
    * — and the node table `nodes` (id, plus whatever columns
    * `nodeCols` adds), staged eagerly. The raw edge projection is
    * staged FIRST: `edges` may be an arbitrarily expensive upstream
    * pipeline (q262's is a corpus join+groupBy) that both sides of the
    * out-strength self-join and the node derivation would otherwise
    * re-execute. */
  private def stageGraph(edges: DataFrame, srcCol: String, dstCol: String,
      wCol: String, nodeCols: DataFrame => DataFrame = identity)
      : (DataFrame, DataFrame) = {
    val e = Staging.stage(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(wCol).cast("long").as("w")),
      eager = true)
    val ew = Staging.stage(
      e.join(e.groupBy(col("src")).agg(sum(col("w")).as("tw")), "src"),
      eager = true)
    val nodes = Staging.stage(
      nodeCols(e.select(col("src").as("id"))
        .unionByName(e.select(col("dst").as("id"))).distinct()),
      eager = true)
    Staging.release(e)
    (ew, nodes)
  }

  /** `nodes` plus `isd`: the node has no out-edges (dangling). Dangling
    * mass is redistributed each round — dropping it would leak total
    * mass and understate every rank. */
  private def withDangling(nodes: DataFrame, ew: DataFrame): DataFrame =
    nodes.join(ew.select(col("src").as("__s")).distinct(),
        col("id") === col("__s"), "left_outer")
      .withColumn("isd", col("__s").isNull).drop("__s")

  /** Total rank held by dangling nodes. */
  private val dangMass = coalesce(sum(when(col("isd"), col("r"))), lit(0L))

  /** (dst, inflow): rank flowing along each edge, as exact
    * floor(r*w/tw) without forming r*w (overflow headroom). The rank
    * table carries its node count as statistics, so Catalyst
    * broadcasts it into the edge join while it fits and shuffles it at
    * scale. */
  private def inflow(ew: DataFrame, ranks: DataFrame): DataFrame =
    ew.join(ranks, col("src") === col("id"))
      .select(col("dst"),
        expr("(r DIV tw) * w + ((r % tw) * w) DIV tw").as("c"))
      .groupBy(col("dst")).agg(sum(col("c")).as("inflow"))

  /** Personalized PageRank (PPR): the teleport distribution
    * concentrates on `seeds` instead of all nodes — the "affinity to
    * THIS set" primitive (similar-item ranking, boilerplate-source
    * tracing, spam-family expansion from known seeds). Fixed-iteration
    * only: PPR is gated cross-engine by an unrolled oracle (q305) and
    * a data-dependent round count is exactly what an unrolled oracle
    * cannot follow (the q262 rationale).
    *
    * Exact fixed-point arithmetic, total mass = n·Ppm (the uniform
    * loop's convention): round init gives every seed n·Ppm DIV s and
    * everyone else 0; each round
    *   r(v) = [v ∈ S]·((100−d)·n·Ppm DIV (100·s))
    *        + d·(inflow(v) + [v ∈ S]·(dangSum DIV s)) DIV 100
    * — teleport AND dangling mass both return to the seeds (the
    * standard PPR convention; dropping dangling mass would leak it,
    * sending it uniform would dilute personalization). The inflow
    * product uses the same overflow-safe floor(r·w/tw) decomposition
    * as [[run]], in the same loop.
    */
  def runPersonalized(edges: DataFrame, srcCol: String, dstCol: String,
      wCol: String, seeds: DataFrame, seedCol: String,
      rounds: Int, dampingPct: Int = 85): DataFrame = {
    require(rounds >= 1, s"rounds ($rounds) must be >= 1")
    require(dampingPct > 0 && dampingPct < 100,
      s"dampingPct ($dampingPct) must be in (0, 100)")
    val spark = edges.sparkSession
    val seedIds = Staging.stage(
      seeds.select(col(seedCol).as("sid")).distinct(), eager = true)
    val (ew, nodes) = stageGraph(edges, srcCol, dstCol, wCol,
      _.join(seedIds, col("id") === col("sid"), "left_outer")
        .select(col("id"),
          when(col("sid").isNotNull, 1L).otherwise(0L).as("isSeed")))
    val n = nodes.count()
    val sCnt = nodes.filter(col("isSeed") === 1L).count()
    require(sCnt > 0, "personalized pagerank needs >= 1 seed IN the graph")
    Staging.withLoopShuffle(spark, ew) {
      val teleport = (100L - dampingPct) * n * Ppm / (100L * sCnt)
      // the dangling flag rides the rank table: each round's one
      // action returns the next round's dangling mass (round 0's:
      // dangling seeds hold n·Ppm DIV s each, others 0)
      val (ranks, _) = Fixpoint.iterate("PageRank.runPersonalized",
        init = withDangling(nodes, ew)
          .select(col("id"), col("isSeed"),
            when(col("isSeed") === 1L, lit(n * Ppm / sCnt))
              .otherwise(lit(0L)).as("r"),
            col("isd")),
        step = (ranks, row, _) => {
          val dangSeedShare = row.getLong(0) / sCnt
          ranks.select(col("id"), col("isSeed"), col("isd"))
            .join(inflow(ew, ranks), col("id") === col("dst"),
              "left_outer")
            .select(col("id"), col("isSeed"), col("isd"),
              (when(col("isSeed") === 1L, lit(teleport)).otherwise(0L) +
                expr(s"($dampingPct * (coalesce(inflow, 0L) + " +
                  s"if(isSeed = 1, ${dangSeedShare}L, 0L))) DIV 100")
              ).as("r"))
        },
        probe = Seq(dangMass),
        converged = None,
        maxRounds = rounds)
      Staging.release(ew); Staging.release(nodes)
      Staging.release(seedIds)
      ranks.select(col("id"), col("r").as("rank_ppm"))
    }
  }
}
