package graft.graph

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
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
  * partition and (src → sorted neighbor list) builds with ZERO exchange:
  * one `sortWithinPartitions` groups each src's rows and the per-partition
  * pass packs primitive arrays. The |E|-row adjacency never leaves the
  * executors afterwards. A one-partition CSR runs a consumer's whole loop
  * inside one Spark task; over several partitions each round is one job
  * that broadcasts only a |V|-slot primitive vector and collects
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

  /** Free `g`'s CSR blocks if a consumer built them; builds nothing. A
    * later consumer still gets correct results: the unpersisted blocks
    * recompute from their lineage.
    */
  def release(g: Graph): Unit =
    if (g.csrBuilt) g.csr.foreach(_.rdd.unpersist(blocking = false))

  /** Build the slot CSR of a src-partitioned edge frame in two jobs and
    * no exchange: (1) pack each partition's id blocks and collect their
    * (id, degree) lists, which the driver merges into the sorted id
    * dictionary; (2) broadcast the ids once and remap every src and
    * neighbor to its slot by binary search. None when the frame is empty,
    * |V| ≥ [[MaxVertices]], a src appears in two partitions (the frame is
    * not src-partitioned), or some neighbor is not a src (an asymmetric
    * frame: its slot would index past every state vector) — the caller
    * then takes its join path.
    */
  def buildDense(edges: DataFrame): Option[Blocks] = {
    val spark = edges.sparkSession
    import spark.implicits._
    val raw = edges
      .select(col("src").cast("long").as("v"), col("dst").cast("long").as("u"))
      .sortWithinPartitions(col("v"))
      .as[(Long, Long)].rdd.mapPartitions { it =>
        val vs = new scala.collection.mutable.ArrayBuilder.ofLong
        val offs = new scala.collection.mutable.ArrayBuilder.ofInt
        val nbrs = new scala.collection.mutable.ArrayBuilder.ofLong
        var cur = Long.MinValue
        var cnt = 0
        it.foreach { case (v, u) =>
          if (v != cur || cnt == 0) { vs += v; offs += cnt; cur = v }
          nbrs += u
          cnt += 1
        }
        offs += cnt
        Iterator((vs.result(), offs.result(), nbrs.result()))
      }.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val parts = raw.map { case (vs, offs, _) =>
        (vs, Array.tabulate(vs.length)(k => offs(k + 1) - offs(k)))
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
      val sc = spark.sparkContext
      val bcIds = sc.broadcast(ids)
      val missing = sc.longAccumulator
      val rdd = raw.map { case (vs, offA, nbrs) =>
        val dict = bcIds.value
        val slots = vs.map(java.util.Arrays.binarySearch(dict, _))
        val nbrA = new Array[Int](nbrs.length)
        var j = 0
        while (j < nbrs.length) {
          val s = java.util.Arrays.binarySearch(dict, nbrs(j))
          if (s < 0) missing.add(1L)
          nbrA(j) = s
          j += 1
        }
        // sorted neighbor lists: broadcast-vector reads walk forward
        var i = 0
        while (i < slots.length) {
          java.util.Arrays.sort(nbrA, offA(i), offA(i + 1)); i += 1
        }
        (slots, offA, nbrA)
      }.persist(StorageLevel.MEMORY_AND_DISK)
      rdd.count()
      bcIds.unpersist(blocking = false)
      if (missing.value > 0L) {
        rdd.unpersist(blocking = false)
        None
      } else Some(Blocks(rdd, ids, degree))
    } finally raw.unpersist(blocking = false)
  }
}
