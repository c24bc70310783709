package perfbench

/** Independent PageRank oracle, computed in the driver from a collected
  * edge list. Plain arrays and loops only: nothing here calls the code it
  * checks.
  *
  * The graph is the canonical undirected edge list (src < dst, unique
  * pairs) over a vertex set that includes isolated vertices.
  */
final class PageRankOracle(vids: Array[Long], edges: Array[(Long, Long, Long)]) {
  require(vids.sameElements(vids.sorted), "vertex ids must be sorted")
  private val n = vids.length
  private val m = edges.length

  private def index(v: Long): Int = {
    val i = java.util.Arrays.binarySearch(vids, v)
    require(i >= 0, s"edge endpoint $v is not a vertex")
    i
  }

  private val src = edges.map(e => index(e._1))
  private val dst = edges.map(e => index(e._2))
  private val wgt = edges.map(_._3)

  /** Symmetric adjacency: neighbours of i are nbr(off(i) until off(i+1)). */
  private val (off, nbr, nw) = {
    val deg = new Array[Int](n + 1)
    var e = 0
    while (e < m) { deg(src(e)) += 1; deg(dst(e)) += 1; e += 1 }
    val off = new Array[Int](n + 1)
    var i = 0
    while (i < n) { off(i + 1) = off(i) + deg(i); i += 1 }
    val pos = off.clone()
    val nbr = new Array[Int](2 * m)
    val nw = new Array[Long](2 * m)
    e = 0
    while (e < m) {
      nbr(pos(src(e))) = dst(e); nw(pos(src(e))) = wgt(e); pos(src(e)) += 1
      nbr(pos(dst(e))) = src(e); nw(pos(dst(e))) = wgt(e); pos(dst(e)) += 1
      e += 1
    }
    (off, nbr, nw)
  }

  private val wdeg: Array[Long] = Array.tabulate(n) { i =>
    var s = 0L
    var j = off(i)
    while (j < off(i + 1)) { s += nw(j); j += 1 }
    s
  }

  /** Weighted power iteration from the uniform vector, exactly `iters`
    * steps of r'(v) = (1-d)/n + d·Σ_u r(u)·w(u,v)/wdeg(u), over the
    * vertices with at least one edge (isolated vertices keep no rank).
    */
  def pageRank(damping: Double, iters: Int): Map[Long, Double] = {
    var r = Array.fill(n)(1.0 / n)
    for (_ <- 1 to iters) {
      val contrib = new Array[Double](n)
      var i = 0
      while (i < n) {
        if (wdeg(i) > 0) {
          val share = r(i) / wdeg(i)
          var j = off(i)
          while (j < off(i + 1)) { contrib(nbr(j)) += share * nw(j); j += 1 }
        }
        i += 1
      }
      r = Array.tabulate(n)(v => (1 - damping) / n + damping * contrib(v))
    }
    vids.indices.filter(i => wdeg(i) > 0).map(i => vids(i) -> r(i)).toMap
  }
}

object PageRankOracle {
  /** Largest |a - b| over the keys of `want`, relative to 1/|want|; keys
    * missing from `got` make it infinite.
    */
  def rankError(want: Map[Long, Double], got: Map[Long, Double]): Double =
    if (want.keySet != got.keySet) Double.PositiveInfinity
    else want.iterator.map { case (v, r) => math.abs(r - got(v)) }
      .foldLeft(0.0)(math.max) * want.size

  /** The relative tolerance every rank comparison uses. */
  val RankTol = 1e-6
}
