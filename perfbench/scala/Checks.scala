package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** Output checks, run after the timed region. Results are pulled into the
  * benchmark JVM (the graphs are small enough) and compared with sequential
  * references or checked against per-edge invariants.
  */
object Checks {

  final case class Check(name: String, ok: Boolean, detail: String)

  /** Distinct directed pairs with their minimum weight and multiplicity,
    * as primitive arrays over the dense id universe 0 until n.
    */
  final case class Edges(n: Int, src: Array[Int], dst: Array[Int],
      w: Array[Double], cnt: Array[Double])

  def loadEdges(edges: DataFrame, n: Long): Edges = {
    require(n <= Int.MaxValue, s"graph too large for sequential checks: $n")
    val rows = edges.groupBy("src", "dst")
      .agg(min("weight").as("w"), count(lit(1)).as("c")).collect()
    Edges(n.toInt, rows.map(_.getLong(0).toInt), rows.map(_.getLong(1).toInt),
      rows.map(_.getDouble(2)), rows.map(_.getLong(3).toDouble))
  }

  /** PageRank on the multigraph: every vertex starts at 1/n and receives
    * (1-d)/n plus d times the score its in-neighbours spread over their raw
    * out-degree; dangling mass is not redistributed. Stops after
    * `maxIterations`, or once the L1 change of a step is below a positive
    * `tolerance`.
    */
  def pageRankReference(e: Edges, maxIterations: Int, tolerance: Double,
      d: Double): Array[Double] = {
    val outDeg = new Array[Double](e.n)
    e.src.indices.foreach(i => outDeg(e.src(i)) += e.cnt(i))
    var score = Array.fill(e.n)(1.0 / e.n)
    var iteration = 0
    var converged = false
    while (!converged && iteration < maxIterations) {
      val in = new Array[Double](e.n)
      e.src.indices.foreach { i =>
        in(e.dst(i)) += e.cnt(i) * score(e.src(i)) / outDeg(e.src(i))
      }
      val next = in.map(x => (1.0 - d) / e.n + d * x)
      converged = tolerance > 0 &&
        next.indices.map(v => math.abs(next(v) - score(v))).sum < tolerance
      score = next
      iteration += 1
    }
    score
  }

  /** Triangles of the simple undirected graph (loops and duplicates
    * dropped), each counted once.
    */
  def triangleReference(e: Edges): Long = {
    val nbr = Array.fill(e.n)(scala.collection.mutable.HashSet.empty[Int])
    e.src.indices.foreach { i =>
      if (e.src(i) != e.dst(i)) {
        nbr(e.src(i)) += e.dst(i); nbr(e.dst(i)) += e.src(i)
      }
    }
    var t = 0L
    nbr.indices.foreach { u =>
      nbr(u).foreach { v =>
        if (v > u) t += nbr(u).count(w => w > v && nbr(v).contains(w))
      }
    }
    t
  }

  /** (out_deg, in_deg) per vertex, counting parallel edges. */
  def degreeReference(e: Edges): (Array[Long], Array[Long]) = {
    val out = new Array[Long](e.n)
    val in = new Array[Long](e.n)
    e.src.indices.foreach { i =>
      out(e.src(i)) += e.cnt(i).toLong; in(e.dst(i)) += e.cnt(i).toLong
    }
    (out, in)
  }

  /** Synchronous label propagation on the undirected multigraph (both
    * directions of every non-loop edge vote with its multiplicity), most
    * frequent neighbour label wins, ties to the smallest label; vertices
    * without neighbours keep their own id. A fixed point is stable under
    * further steps, so this also gives the early-stopping result.
    */
  def lpReference(e: Edges, iterations: Int): Array[Long] = {
    val nbr = Array.fill(e.n)(ArrayBuffer.empty[(Int, Double)])
    e.src.indices.foreach { i =>
      if (e.src(i) != e.dst(i)) {
        nbr(e.dst(i)) += ((e.src(i), e.cnt(i)))
        nbr(e.src(i)) += ((e.dst(i), e.cnt(i)))
      }
    }
    var label = Array.tabulate(e.n)(_.toLong)
    (1 to iterations).foreach { _ =>
      val cur = label
      label = Array.tabulate(e.n) { v =>
        if (nbr(v).isEmpty) v.toLong
        else {
          val votes = scala.collection.mutable.HashMap.empty[Long, Double]
          nbr(v).foreach { case (u, c) =>
            votes(cur(u)) = votes.getOrElse(cur(u), 0.0) + c
          }
          votes.toSeq.minBy { case (l, c) => (-c, l) }._1
        }
      }
    }
    label
  }

  /** (id, value) result rows as a dense array; fails unless every id in
    * 0 until n appears exactly once.
    */
  def dense[A: scala.reflect.ClassTag](df: DataFrame, n: Int,
      get: (org.apache.spark.sql.Row, Int) => A): Array[A] = {
    val rows = df.select(df.columns(0), df.columns(1)).collect()
    require(rows.length == n, s"${rows.length} rows for $n vertices")
    val out = new Array[A](n)
    val seen = new java.util.BitSet(n)
    rows.foreach { r =>
      val id = r.getLong(0)
      require(id >= 0 && id < n && !seen.get(id.toInt), s"bad or repeated id $id")
      seen.set(id.toInt)
      out(id.toInt) = get(r, 1)
    }
    out
  }

  def longs(df: DataFrame, n: Int): Array[Long] =
    dense(df, n, (r, i) => r.getAs[Number](i).longValue)
  def doubles(df: DataFrame, n: Int): Array[Double] =
    dense(df, n, (r, i) => r.getAs[Number](i).doubleValue)

  def sameValues[A](name: String, got: Array[A], want: Array[A]): Check = {
    val d = firstDiff(got, want)
    Check(name, d.isEmpty, d)
  }

  /** Weakly connected components labelled by their minimum member id. */
  def wccReference(e: Edges): Array[Long] = {
    val parent = Array.tabulate(e.n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val nx = parent(y); parent(y) = r; y = nx }
      r
    }
    e.src.indices.foreach { i =>
      val a = find(e.src(i)); val b = find(e.dst(i))
      // the smaller root wins, so every root is its component's minimum
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
    }
    Array.tabulate(e.n)(v => find(v).toLong)
  }

  /** Strongly connected components (iterative Tarjan) labelled by their
    * minimum member id.
    */
  def sccReference(e: Edges): Array[Long] = {
    val n = e.n
    val start = new Array[Int](n + 1)
    e.src.foreach(s => start(s + 1) += 1)
    (0 until n).foreach(i => start(i + 1) += start(i))
    val adj = new Array[Int](e.src.length)
    val fill = start.clone()
    e.src.indices.foreach { i => adj(fill(e.src(i))) = e.dst(i); fill(e.src(i)) += 1 }

    val index = Array.fill(n)(-1)
    val low = new Array[Int](n)
    val onStack = new Array[Boolean](n)
    val stack = new Array[Int](n)
    var sp = 0
    val label = new Array[Long](n)
    val callV = new Array[Int](n)
    val callE = new Array[Int](n)
    var counter = 0
    (0 until n).foreach { root =>
      if (index(root) < 0) {
        var depth = 0
        callV(0) = root; callE(0) = start(root)
        index(root) = counter; low(root) = counter; counter += 1
        stack(sp) = root; sp += 1; onStack(root) = true
        while (depth >= 0) {
          val v = callV(depth)
          if (callE(depth) < start(v + 1)) {
            val w = adj(callE(depth)); callE(depth) += 1
            if (index(w) < 0) {
              index(w) = counter; low(w) = counter; counter += 1
              stack(sp) = w; sp += 1; onStack(w) = true
              depth += 1; callV(depth) = w; callE(depth) = start(w)
            } else if (onStack(w)) low(v) = math.min(low(v), index(w))
          } else {
            if (low(v) == index(v)) {
              val members = ArrayBuffer.empty[Int]
              var w = -1
              while (w != v) { sp -= 1; w = stack(sp); onStack(w) = false; members += w }
              val m = members.min.toLong
              members.foreach(x => label(x) = m)
            }
            depth -= 1
            if (depth >= 0) {
              val u = callV(depth)
              low(u) = math.min(low(u), low(v))
            }
          }
        }
      }
    }
    label
  }

  def firstDiff[A](a: Array[A], b: Array[A]): String =
    a.indices.find(i => a(i) != b(i))
      .map(i => s"vertex $i: ${a(i)} vs ${b(i)}").getOrElse("")

  /** Every label is the minimum id of its class, and (for WCC) both ends of
    * every edge carry the same label.
    */
  def minIdInvariant(name: String, label: Array[Long], e: Edges,
      perEdge: Boolean): Check = {
    val bad = label.indices.find(v => label(v) > v || label(label(v).toInt) != label(v))
    val badEdge =
      if (!perEdge) None
      else e.src.indices.find(i => label(e.src(i)) != label(e.dst(i)))
    Check(name, bad.isEmpty && badEdge.isEmpty,
      bad.map(v => s"vertex $v label ${label(v)}").orElse(
        badEdge.map(i => s"edge ${e.src(i)}->${e.dst(i)} crosses labels"))
        .getOrElse(""))
  }

  /** Distances are relaxed on every edge, tight on some in-edge of every
    * reached vertex, and zero exactly at the start.
    */
  def ssspInvariant(dist: Array[Double], e: Edges, start: Int): Check = {
    val best = Array.fill(e.n)(Double.PositiveInfinity)
    best(start) = 0.0
    e.src.indices.foreach { i =>
      val c = dist(e.src(i)) + e.w(i)
      if (c < best(e.dst(i))) best(e.dst(i)) = c
    }
    def close(a: Double, b: Double) =
      a == b || math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
    val bad = dist.indices.find(v => !close(dist(v), best(v)))
    Check("sssp distances relaxed and tight on every edge", bad.isEmpty,
      bad.map(v => s"vertex $v dist ${dist(v)} best ${best(v)}").getOrElse(""))
  }

  /** numpy-style allclose with rtol 1e-6 (floating-point sums run in
    * different orders).
    */
  def allClose(name: String, got: Array[Double], want: Array[Double]): Check = {
    val bad = got.indices.find(i =>
      !(math.abs(got(i) - want(i)) <= 1e-12 + 1e-6 * math.abs(want(i))))
    Check(name, bad.isEmpty,
      bad.map(i => s"vertex $i: ${got(i)} vs ${want(i)}").getOrElse(""))
  }
}
