package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.operators.PageRank

/** A seeded random directed graph — no self-loops or duplicate edges,
  * weights 1..9 — with its driver-side reference answers: union-find for
  * connected components, Tarjan for strongly connected components, and
  * PageRank.run's integer power iteration replayed on the driver (exact:
  * its rank arithmetic is integer floor division, so every round is
  * bit-reproducible). */
final class Graph(spark: SparkSession, nodes: Int, edgeCount: Int,
    seed: Long) {
  import Graph._

  val edges: Array[(Long, Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    val seen = mutable.LinkedHashSet[(Long, Long)]()
    while (seen.size < edgeCount) {
      val s = rnd.nextInt(nodes).toLong
      val d = rnd.nextInt(nodes).toLong
      if (s != d) seen += ((s, d))
    }
    seen.toArray.map { case (s, d) => (s, d, 1L + rnd.nextInt(9)) }
  }
  val cc: Map[Long, Long] = unionFind(edges)
  val scc: Map[Long, Long] = tarjan(edges)
  val pageRank: Map[Long, Long] = Graph.pageRank(edges, PageRankRounds)
  val df: DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(edges.map { case (s, d, w) => Row(s, d, w) }: _*),
    StructType(Seq(StructField("src", LongType, false),
      StructField("dst", LongType, false), StructField("w", LongType, false))))
}

object Graph {
  /** PageRank runs in its fixed-iteration mode, so every call does the
    * same number of rounds. */
  val PageRankRounds = 5

  /** Component = minimum node id reachable ignoring direction. */
  def unionFind(edges: Array[(Long, Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val n = parent(y); parent(y) = r; y = n }
      r
    }
    edges.foreach { case (s, d, _) =>
      parent.getOrElseUpdate(s, s); parent.getOrElseUpdate(d, d)
      val (a, b) = (find(s), find(d))
      if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** Strongly connected components (iterative Tarjan), each labelled by
    * its minimum node id. */
  def tarjan(edges: Array[(Long, Long, Long)]): Map[Long, Long] = {
    val adj = mutable.HashMap[Long, mutable.ArrayBuffer[Long]]()
    edges.foreach { case (s, d, _) =>
      adj.getOrElseUpdate(s, mutable.ArrayBuffer()) += d
      adj.getOrElseUpdate(d, mutable.ArrayBuffer())
    }
    val index = mutable.HashMap[Long, Int]()
    val low = mutable.HashMap[Long, Int]()
    val onStack = mutable.HashSet[Long]()
    val stack = mutable.Stack[Long]()
    val out = mutable.HashMap[Long, Long]()
    var next = 0
    adj.keys.toSeq.sorted.foreach { root =>
      if (!index.contains(root)) {
        val work = mutable.Stack[(Long, Int)]((root, 0))
        while (work.nonEmpty) {
          val (v, i) = work.pop()
          if (i == 0) {
            index(v) = next; low(v) = next; next += 1
            stack.push(v); onStack += v
          }
          val ns = adj(v)
          var j = i
          var descended = false
          while (j < ns.length && !descended) {
            val w = ns(j)
            if (!index.contains(w)) {
              work.push((v, j + 1)); work.push((w, 0)); descended = true
            } else {
              if (onStack(w)) low(v) = math.min(low(v), index(w))
              j += 1
            }
          }
          if (!descended) {
            if (low(v) == index(v)) {
              val comp = mutable.ArrayBuffer[Long]()
              var w = -1L
              while (w != v) { w = stack.pop(); onStack -= w; comp += w }
              val m = comp.min
              comp.foreach(c => out(c) = m)
            }
            if (work.nonEmpty) {
              val (p, _) = work.top
              low(p) = math.min(low(p), low(v))
            }
          }
        }
      }
    }
    out.toMap
  }

  /** PageRank.run's integer power iteration (damping 85 %) in its
    * fixed-iteration mode: exactly `rounds` rounds. */
  def pageRank(edges: Array[(Long, Long, Long)], rounds: Int,
      dampingPct: Int = 85): Map[Long, Long] = {
    val ppm = PageRank.Ppm
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val n = nodes.length.toLong
    val tw = edges.groupMapReduce(_._1)(_._3)(_ + _)
    val dangling = nodes.filterNot(tw.contains)
    var r = nodes.map(_ -> ppm).toMap
    var dangSum = dangling.length * ppm
    val base = (100L - dampingPct) * ppm / 100L
    (0 until rounds).foreach { _ =>
      val dangShare = dangSum / math.max(n, 1L)
      val inflow = mutable.HashMap[Long, Long]().withDefaultValue(0L)
      edges.foreach { case (s, d, w) =>
        val rs = r(s); val t = tw(s)
        inflow(d) += (rs / t) * w + ((rs % t) * w) / t
      }
      val next = nodes.map(v =>
        v -> (base + (dampingPct * (inflow(v) + dangShare)) / 100L)).toMap
      dangSum = dangling.map(next).sum
      r = next
    }
    r
  }
}
