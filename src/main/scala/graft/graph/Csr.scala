package graft.graph

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Per-partition CSR blocks over dense vertex slots — the shared
  * substrate of the broadcast-vector iteration paths
  * ([[ConnectedComponents.csrLabels]], [[ShortestPaths.csrBfs]],
  * [[PageRank.convergedCsr]], [[Coreness.csrCoreness]]), which all run
  * their rounds through [[CsrLoop]].
  *
  * `Graph.cachedUndirected` is hash-partitioned on `src` and holds both
  * orientations, so every vertex's full neighbor list lives in exactly one
  * partition and (src → sorted neighbor list) builds with ZERO exchange.
  * One primitive packer serves both build paths: [[pack]] sorts each
  * partition's rows in primitive arrays into long-id blocks ([[Packed]]),
  * and [[slot]] turns those into slot blocks. A raw-edge build
  * ([[Graph.fromRawEdges]]) packs its one exchange and keeps the packed
  * blocks as the graph's only materialization, so its CSR slots them
  * without sorting again; any other graph packs `cachedUndirected` for
  * the build alone ([[buildDense]]). The |E|-row adjacency never leaves
  * the executors afterwards. A one-partition CSR runs a consumer's whole
  * loop inside one Spark task; over several partitions each round is one
  * job that broadcasts only a |V|-slot primitive vector and collects
  * |V|-bounded update chunks, the same memory class as the accepted bcswap
  * BroadcastExchange.
  *
  * Vertex slots: every vertex's slot is its rank in the sorted array of
  * distinct vertex ids ([[Blocks.ids]]), so state vectors are sized by
  * |V| whatever the id space — sparse, offset or hashed (negative) ids
  * cost nothing extra (the GraphX edge-partition layout: dense local
  * indices plus a global-to-local map). Rank order keeps slot order equal
  * to id order: a min slot is the min id, and every slot-sorted neighbor
  * list is id-sorted, so consumers' accumulation orders are those of the
  * id-indexed kernels.
  *
  * One build per `Graph` instance: the blocks are a property of the
  * graph, like [[Graph.cachedUndirected]], so sv, sssp and pr on one
  * graph share one build ([[cachedOrBuild]]) and a declined build is not
  * retried.
  *
  * Gate: |V| < [[MaxVertices]]. Callers fall back to their
  * equivalence-tested join formulations on None.
  */
object Csr {
  /** Vertex-count ceiling (exclusive) for the broadcast-vector paths: one
    * int state vector at 2^28 slots is 1 GiB, one double vector 2 GiB —
    * per round each consumer broadcasts ONE such vector and collects at
    * most the same magnitude back, the bcswap BroadcastExchange class
    * scaled 8×. That fits a 48 GiB-heap driver/executor tier but is the
    * last power of two that does (2^30 would be 8 GiB per double
    * broadcast), so above it the join formulations remain the scale path.
    */
  val MaxVertices: Long = 1L << 28

  /** CSR blocks: one (srcSlots, offsets, neighborSlots) triple per
    * partition, src slots ascending and each neighbor list slot-sorted;
    * `ids(s)` is slot s's vertex id (ascending) and `degree(s)` its
    * neighbor count. The RDD is persisted and belongs to the `Graph`
    * it was built for ([[cachedOrBuild]]).
    */
  final case class Blocks(rdd: RDD[(Array[Int], Array[Int], Array[Int])],
      ids: Array[Long], degree: Array[Int])

  /** `g`'s CSR blocks: the first call on a `Graph` instance builds them
    * ([[Graph.csr]]), every later call on the same instance gets the same
    * blocks — or the same declined build — and counts a
    * [[graft.core.SessionCaches.memoHits]] hit. The blocks live as long
    * as the instance: [[release]] frees them early, and otherwise Spark's
    * ContextCleaner unpersists them once the graph is garbage-collected.
    * Session-memoized graphs ([[Graph.fromTpch]],
    * [[EdgeUpdates.updatedGraph]]) are one instance per session, so they
    * build once per session.
    */
  def cachedOrBuild(g: Graph): Option[Blocks] = {
    if (g.csrBuilt) graft.core.SessionCaches.memoHits.incrementAndGet()
    g.csr
  }

  /** Free `g`'s CSR blocks if a consumer built them, and the packed
    * blocks of a raw-edge build; builds nothing. A later consumer still
    * gets correct results: the unpersisted blocks recompute from their
    * lineage.
    */
  def release(g: Graph): Unit = {
    if (g.csrBuilt) g.csr.foreach(_.rdd.unpersist(blocking = false))
    g.packed.foreach(_.unpersist(blocking = false))
  }

  /** Packed long-id CSR blocks: one (srcIds, offsets, nbrIds) triple per
    * partition of a src-partitioned edge frame, partition i's rows in
    * block i. srcIds are ascending and distinct within a block, src k's
    * neighbors are `nbrIds(offsets(k) until offsets(k + 1))` in id order,
    * and a repeated (src, dst) row stays an adjacent repeat: a pair's
    * multiplicity is its run length.
    */
  type Packed = RDD[(Array[Long], Array[Int], Array[Long])]

  /** Pack src-partitioned `(src: long, dst: long)` rows into [[Packed]]
    * blocks, partition by partition, in primitive arrays: one sort of the
    * partition's src column gives the distinct srcs and their offsets, the
    * dsts scatter into their src's segment and each segment sorts in
    * place. Partition indices are kept.
    */
  def pack(rows: RDD[InternalRow]): Packed = rows.mapPartitions({ it =>
    var src = new Array[Long](1024)
    var dst = new Array[Long](1024)
    var n = 0
    while (it.hasNext) {
      val r = it.next()
      if (n == src.length) {
        src = java.util.Arrays.copyOf(src, 2 * n)
        dst = java.util.Arrays.copyOf(dst, 2 * n)
      }
      src(n) = r.getLong(0)
      dst(n) = r.getLong(1)
      n += 1
    }
    val sorted = java.util.Arrays.copyOf(src, n)
    java.util.Arrays.sort(sorted)
    // distinct srcs in place, offsets from their run starts
    val offBuf = new scala.collection.mutable.ArrayBuilder.ofInt
    var nv = 0
    var i = 0
    while (i < n) {
      if (i == 0 || sorted(i) != sorted(i - 1)) {
        sorted(nv) = sorted(i); offBuf += i; nv += 1
      }
      i += 1
    }
    offBuf += n
    val vs = java.util.Arrays.copyOf(sorted, nv)
    val offs = offBuf.result()
    val fill = java.util.Arrays.copyOf(offs, nv)
    val nbrs = new Array[Long](n)
    i = 0
    while (i < n) {
      val k = java.util.Arrays.binarySearch(vs, src(i))
      nbrs(fill(k)) = dst(i)
      fill(k) += 1
      i += 1
    }
    var k = 0
    while (k < nv) { java.util.Arrays.sort(nbrs, offs(k), offs(k + 1)); k += 1 }
    Iterator((vs, offs, nbrs))
  }, preservesPartitioning = true)

  /** The rows of [[Packed]] blocks, one `(src, dst, weight)` row per
    * distinct pair with weight = its run length, block i in partition i.
    * Each block's iterator reuses one row, as Spark's row iterators do.
    */
  def expand(packed: Packed): RDD[InternalRow] = packed.mapPartitions({ it =>
    it.flatMap { case (vs, offs, nbrs) =>
      new Iterator[InternalRow] {
        private val row = new UnsafeRow(3)
        private val width = UnsafeRow.calculateBitSetWidthInBytes(3) + 3 * 8
        row.pointTo(new Array[Byte](width), width)
        private var k = 0
        private var j = 0
        def hasNext: Boolean = j < nbrs.length
        def next(): InternalRow = {
          while (offs(k + 1) <= j) k += 1
          val u = nbrs(j)
          var e = j + 1
          while (e < offs(k + 1) && nbrs(e) == u) e += 1
          row.setLong(0, vs(k)); row.setLong(1, u); row.setLong(2, e - j)
          j = e
          row
        }
      }
    }
  }, preservesPartitioning = true)

  /** Build the slot CSR of a src-partitioned edge frame: [[slot]] of its
    * [[pack]]ed blocks, which live only for the build.
    */
  def buildDense(edges: DataFrame): Option[Blocks] = {
    val packed = pack(edges
      .select(col("src").cast("long"), col("dst").cast("long"))
      .queryExecution.toRdd).persist(StorageLevel.MEMORY_AND_DISK)
    try slot(packed) finally packed.unpersist(blocking = false)
  }

  /** The slot CSR of packed blocks in two jobs and no exchange: (1)
    * collect each block's (id, distinct-neighbor count) lists, which the
    * driver merges into the sorted id dictionary; (2) broadcast the ids
    * once and remap every src and neighbor to its slot by binary search,
    * folding repeated neighbors. Neighbor lists come out slot-sorted, as
    * slot order is id order. None when the blocks are empty,
    * |V| ≥ [[MaxVertices]], a src appears in two blocks (the rows were
    * not src-partitioned), or some neighbor is not a src (an asymmetric
    * frame: its slot would index past every state vector) — the caller
    * then takes its join path. The packed blocks stay as they are.
    */
  def slot(packed: Packed): Option[Blocks] = {
    val parts = packed.map { case (vs, offs, nbrs) =>
      val d = new Array[Int](vs.length)
      var k = 0
      while (k < vs.length) {
        var j = offs(k)
        while (j < offs(k + 1)) {
          if (j == offs(k) || nbrs(j) != nbrs(j - 1)) d(k) += 1
          j += 1
        }
        k += 1
      }
      (vs, d)
    }.collect()
    val nv = parts.iterator.map(_._1.length.toLong).sum
    if (nv == 0L || nv >= MaxVertices) return None
    val ids = Array.concat(parts.map(_._1).toIndexedSeq: _*)
    java.util.Arrays.sort(ids)
    var k = 1
    while (k < ids.length) { if (ids(k) == ids(k - 1)) return None; k += 1 }
    val degree = new Array[Int](ids.length)
    parts.foreach { case (vs, d) =>
      var j = 0
      while (j < vs.length) {
        degree(java.util.Arrays.binarySearch(ids, vs(j))) = d(j); j += 1
      }
    }
    val sc = packed.sparkContext
    val bcIds = sc.broadcast(ids)
    val missing = sc.longAccumulator
    val rdd = packed.map { case (vs, offs, nbrs) =>
      val dict = bcIds.value
      val slots = vs.map(java.util.Arrays.binarySearch(dict, _))
      val offA = new Array[Int](vs.length + 1)
      val nbrA = new Array[Int](nbrs.length)
      var m = 0
      var i = 0
      while (i < vs.length) {
        var j = offs(i)
        while (j < offs(i + 1)) {
          if (j == offs(i) || nbrs(j) != nbrs(j - 1)) {
            val s = java.util.Arrays.binarySearch(dict, nbrs(j))
            if (s < 0) missing.add(1L)
            nbrA(m) = s
            m += 1
          }
          j += 1
        }
        i += 1
        offA(i) = m
      }
      (slots, offA, if (m == nbrA.length) nbrA else java.util.Arrays.copyOf(nbrA, m))
    }.persist(StorageLevel.MEMORY_AND_DISK)
    rdd.count()
    bcIds.unpersist(blocking = false)
    if (missing.value > 0L) {
      rdd.unpersist(blocking = false)
      None
    } else Some(Blocks(rdd, ids, degree))
  }
}
