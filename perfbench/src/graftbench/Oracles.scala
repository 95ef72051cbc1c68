package graftbench

/** Driver-side reference computations the program's outputs are checked
  * against. Plain loops over arrays; none of them touches Spark.
  */
object Oracles {
  /** Undirected adjacency over vertex ids 0 until n: both orientations of
    * every distinct pair, a self-loop once — the graph the program's
    * symmetrized view holds.
    */
  final class Adj(val n: Int, val off: Array[Int], val nbr: Array[Int]) {
    def deg(v: Int): Int = off(v + 1) - off(v)
    /** Directed rows of the symmetrized view. */
    def rows: Long = nbr.length.toLong
  }

  /** Adjacency from distinct canonical (src <= dst) pair keys. */
  def adjacency(n: Int, pairs: Array[Long]): Adj = {
    val deg = new Array[Int](n + 1)
    pairs.foreach { k =>
      val (u, v) = (Inputs.keySrc(k), Inputs.keyDst(k))
      deg(u) += 1
      if (u != v) deg(v) += 1
    }
    val off = new Array[Int](n + 1)
    (0 until n).foreach(v => off(v + 1) = off(v) + deg(v))
    val fill = off.clone()
    val nbr = new Array[Int](off(n))
    pairs.foreach { k =>
      val (u, v) = (Inputs.keySrc(k), Inputs.keyDst(k))
      nbr(fill(u)) = v; fill(u) += 1
      if (u != v) { nbr(fill(v)) = u; fill(v) += 1 }
    }
    new Adj(n, off, nbr)
  }

  /** Each directed key as its canonical (min, max) pair key. */
  def canonical(keys: Array[Long]): Array[Long] =
    keys.map { k =>
      val (u, v) = (Inputs.keySrc(k), Inputs.keyDst(k))
      Inputs.key(math.min(u, v), math.max(u, v))
    }

  /** Min-member-id component label per vertex with an edge; -1 otherwise. */
  def components(g: Adj): Array[Int] = {
    val parent = Array.tabulate(g.n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val nx = parent(y); parent(y) = r; y = nx }
      r
    }
    (0 until g.n).foreach { u =>
      var j = g.off(u)
      while (j < g.off(u + 1)) {
        val (a, b) = (find(u), find(g.nbr(j)))
        if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
        j += 1
      }
    }
    Array.tabulate(g.n)(v => if (g.deg(v) > 0) find(v) else -1)
  }

  /** Hop distance from `src` (-1 when unreached). */
  def bfs(g: Adj, src: Int): Array[Int] = {
    val dist = Array.fill(g.n)(-1)
    val queue = new Array[Int](g.n)
    var (head, tail) = (0, 0)
    dist(src) = 0
    queue(tail) = src; tail += 1
    while (head < tail) {
      val u = queue(head); head += 1
      var j = g.off(u)
      while (j < g.off(u + 1)) {
        val v = g.nbr(j)
        if (dist(v) < 0) { dist(v) = dist(u) + 1; queue(tail) = v; tail += 1 }
        j += 1
      }
    }
    dist
  }

  /** PageRank by power iteration to a fixpoint: x = (1-d)/n + d·A·D⁻¹x
    * over the vertices with an edge (n of them), damping 0.85, iterated
    * until the L1 change is below 1e-13. NaN for vertices without edges.
    */
  def pagerank(g: Adj): Array[Double] = {
    val d = 0.85
    val live = (0 until g.n).filter(g.deg(_) > 0)
    val nv = live.size.toDouble
    var x = Array.tabulate(g.n)(v => if (g.deg(v) > 0) 1.0 / nv else 0.0)
    var delta = Double.MaxValue
    var it = 0
    while (delta > 1e-13 && it < 1000) {
      val c = Array.tabulate(g.n)(v => if (g.deg(v) > 0) x(v) / g.deg(v) else 0.0)
      val nx = new Array[Double](g.n)
      delta = 0.0
      live.foreach { v =>
        var s = 0.0
        var j = g.off(v)
        while (j < g.off(v + 1)) { s += c(g.nbr(j)); j += 1 }
        nx(v) = (1 - d) / nv + d * s
        delta += math.abs(nx(v) - x(v))
      }
      x = nx
      it += 1
    }
    Array.tabulate(g.n)(v => if (g.deg(v) > 0) x(v) else Double.NaN)
  }

  /** Distinct k-character shingles, the program's definition: every
    * k-window, or the whole text when it is shorter than k.
    */
  def shingles(text: String, k: Int = 5): Set[String] =
    if (text.length <= k) Set(text)
    else (0 to text.length - k).iterator.map(i => text.substring(i, i + k)).toSet

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains)
    inter.toDouble / (a.size + b.size - inter)
  }
}
