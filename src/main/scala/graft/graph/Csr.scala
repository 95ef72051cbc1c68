package graft.graph

import org.apache.spark.rdd.{PartitionCoalescer, PartitionGroup, RDD}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.storage.StorageLevel

/** Per-partition CSR blocks over dense vertex slots — the shared
  * substrate of the broadcast-vector iteration paths
  * ([[ConnectedComponents.csrLabels]], [[ShortestPaths.csrBfs]],
  * [[PageRank.convergedCsr]], [[Coreness.csrCoreness]]), which all run
  * their rounds through [[CsrLoop]].
  *
  * Every [[Graph]] materializes one layout, its [[Packed]] long-id
  * blocks ([[Graph]]'s build: both orientations, one exchange hashed on
  * `src`, [[pack]]). Every vertex's full neighbor list lives in exactly
  * one block, so [[slot]] turns them into slot blocks with no exchange
  * and no second sort, and the graph's edge views are their [[expand]]ed
  * rows. The |E|-row adjacency never leaves the executors afterwards. A
  * one-partition CSR runs a consumer's whole loop inside one Spark task;
  * over several partitions each round is one job that broadcasts only a
  * |V|-slot primitive vector and collects |V|-bounded update chunks, the
  * same memory class as the accepted bcswap BroadcastExchange. A
  * consumer's result is packed blocks too ([[CsrLoop.emit]]): one
  * (ids, values) pair of primitive arrays per slot block, co-partitioned
  * with it, so the result is declared hash-partitioned on `id` as the
  * edge views are on `src`.
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
  * One owner: the packed and the slot blocks belong to the `Graph`
  * instance that built them, so sv, sssp and pr on one graph share one
  * build ([[cachedOrBuild]]), a declined build is not retried, and
  * [[release]] (or Spark's ContextCleaner, once the instance is
  * garbage-collected) frees both.
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

  /** Free `g`'s slot blocks if a consumer built them, and its packed
    * blocks if they were built; builds nothing. A later consumer still
    * gets correct results: the unpersisted blocks recompute from their
    * lineage.
    */
  def release(g: Graph): Unit = {
    if (g.csrBuilt) g.csr.foreach(_.rdd.unpersist(blocking = false))
    g.built.foreach(_.packed.unpersist(blocking = false))
  }

  /** Packed long-id CSR blocks, the one layout a [[Graph]] materializes:
    * one (srcIds, offsets, nbrIds, weights) block per partition of a
    * src-partitioned edge frame, partition i's rows in block i. srcIds
    * are ascending and distinct within a block, src k's distinct
    * neighbors are `nbrIds(offsets(k) until offsets(k + 1))` in id order,
    * and `weights` holds each (src, neighbor) pair's weight sum.
    */
  type Packed = RDD[(Array[Long], Array[Int], Array[Long], Array[Long])]

  /** Pack src-partitioned `(src, dst[, weight])` long rows (weight 1 when
    * absent) into [[Packed]] blocks, partition by partition, in primitive
    * arrays: one sort of the partition's src column gives the distinct
    * srcs and their offsets, the dsts scatter into their src's segment,
    * each segment sorts in place, every row's weight adds into its dst's
    * slot of the segment, and each run of a repeated dst folds into one
    * entry. Partition indices are kept.
    */
  def pack(rows: RDD[InternalRow]): Packed = rows.mapPartitions({ it =>
    var src = new Array[Long](1024)
    var dst = new Array[Long](1024)
    var wgt = new Array[Long](1024)
    var n = 0
    while (it.hasNext) {
      val r = it.next()
      if (n == src.length) {
        src = java.util.Arrays.copyOf(src, 2 * n)
        dst = java.util.Arrays.copyOf(dst, 2 * n)
        wgt = java.util.Arrays.copyOf(wgt, 2 * n)
      }
      src(n) = r.getLong(0)
      dst(n) = r.getLong(1)
      wgt(n) = if (r.numFields > 2) r.getLong(2) else 1L
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
    val seg = new Array[Int](n)
    i = 0
    while (i < n) {
      val k = java.util.Arrays.binarySearch(vs, src(i))
      seg(i) = k
      nbrs(fill(k)) = dst(i)
      fill(k) += 1
      i += 1
    }
    var k = 0
    while (k < nv) { java.util.Arrays.sort(nbrs, offs(k), offs(k + 1)); k += 1 }
    val w = new Array[Long](n)
    i = 0
    while (i < n) {
      val k = seg(i)
      w(java.util.Arrays.binarySearch(nbrs, offs(k), offs(k + 1), dst(i))) +=
        wgt(i)
      i += 1
    }
    // fold each run of a repeated neighbor into its first entry, in place
    var m = 0
    k = 0
    while (k < nv) {
      var j = offs(k)
      val end = offs(k + 1)
      offs(k) = m
      while (j < end) {
        if (m == offs(k) || nbrs(j) != nbrs(m - 1)) {
          nbrs(m) = nbrs(j); w(m) = w(j); m += 1
        } else w(m - 1) += w(j)
        j += 1
      }
      k += 1
    }
    offs(nv) = m
    Iterator((vs, offs, java.util.Arrays.copyOf(nbrs, m),
      java.util.Arrays.copyOf(w, m)))
  }, preservesPartitioning = true)

  /** `packed` as `t` blocks, block j the merge of blocks `{i ≡ j mod t}`
    * (their srcs are disjoint), with no exchange. For `t | n` (n = `packed`'s
    * partition count) a row hashed to `pmod(h, n)` lands in
    * `pmod(h, n) mod t = pmod(h, t)`, so blocks packed from a
    * `HashPartitioning(src, n)` exchange merge into exactly
    * `HashPartitioning(src, t)`'s partitions.
    */
  def merge(packed: Packed, t: Int): Packed = packed.coalesce(t,
      partitionCoalescer = Some(new ModCoalescer(t)))
    .mapPartitions({ it =>
      val bs = it.toArray
      val vs = Array.concat(bs.map(_._1).toIndexedSeq: _*)
      java.util.Arrays.sort(vs)
      // each src's segment: its position in the merged block, then a copy
      val at = bs.map(_._1.map(java.util.Arrays.binarySearch(vs, _)))
      val offs = new Array[Int](vs.length + 1)
      for (b <- bs.indices; k <- at(b).indices)
        offs(at(b)(k) + 1) = bs(b)._2(k + 1) - bs(b)._2(k)
      for (s <- vs.indices) offs(s + 1) += offs(s)
      val nbrs = new Array[Long](offs(vs.length))
      val w = new Array[Long](nbrs.length)
      for (b <- bs.indices; k <- at(b).indices) {
        val (_, bo, bn, bw) = bs(b)
        System.arraycopy(bn, bo(k), nbrs, offs(at(b)(k)), bo(k + 1) - bo(k))
        System.arraycopy(bw, bo(k), w, offs(at(b)(k)), bo(k + 1) - bo(k))
      }
      Iterator((vs, offs, nbrs, w))
    }, preservesPartitioning = true)

  /** Groups partition i into group `i mod t`, group j being the coalesced
    * RDD's partition j.
    */
  private final class ModCoalescer(t: Int) extends PartitionCoalescer
      with Serializable {
    def coalesce(maxPartitions: Int, parent: RDD[_]): Array[PartitionGroup] = {
      val groups = Array.fill(t)(new PartitionGroup())
      parent.partitions.foreach(p => groups(p.index % t).partitions += p)
      groups
    }
  }

  /** The rows of [[Packed]] blocks, one `(src, dst, weight)` row per
    * entry, block i in partition i. Each block's iterator reuses one row,
    * as Spark's row iterators do.
    */
  def expand(packed: Packed): RDD[InternalRow] = packed.mapPartitions({ it =>
    it.flatMap { case (vs, offs, nbrs, w) =>
      new Iterator[InternalRow] {
        private val row = unsafeRow(3)
        private var k = 0
        private var j = 0
        def hasNext: Boolean = j < nbrs.length
        def next(): InternalRow = {
          while (offs(k + 1) <= j) k += 1
          row.setLong(0, vs(k)); row.setLong(1, nbrs(j)); row.setLong(2, w(j))
          j += 1
          row
        }
      }
    }
  }, preservesPartitioning = true)

  /** A reusable row of `fields` non-null fixed-width fields. */
  private[graft] def unsafeRow(fields: Int): UnsafeRow = {
    val row = new UnsafeRow(fields)
    val width = UnsafeRow.calculateBitSetWidthInBytes(fields) + fields * 8
    row.pointTo(new Array[Byte](width), width)
    row
  }

  /** The slot CSR of packed blocks in two jobs and no exchange: (1)
    * collect each block's (id, degree) lists, which the driver merges into
    * the sorted id dictionary; (2) broadcast the ids once and remap every
    * src and neighbor to its slot by binary search. Neighbor lists come
    * out slot-sorted, as slot order is id order. [[Graph]]'s build puts
    * both orientations of every pair in the src's one block, so every
    * neighbor is a src with exactly one slot. None when the blocks are
    * empty or |V| ≥ [[MaxVertices]] — the caller then takes its join
    * path. The packed blocks stay as they are.
    */
  def slot(packed: Packed): Option[Blocks] = {
    val parts = packed.map { case (vs, offs, _, _) =>
      (vs, Array.tabulate(vs.length)(k => offs(k + 1) - offs(k)))
    }.collect()
    val nv = parts.iterator.map(_._1.length.toLong).sum
    if (nv == 0L || nv >= MaxVertices) return None
    val ids = Array.concat(parts.map(_._1).toIndexedSeq: _*)
    java.util.Arrays.sort(ids)
    val degree = new Array[Int](ids.length)
    parts.foreach { case (vs, d) =>
      var j = 0
      while (j < vs.length) {
        degree(java.util.Arrays.binarySearch(ids, vs(j))) = d(j); j += 1
      }
    }
    val bcIds = packed.sparkContext.broadcast(ids)
    val rdd = packed.map { case (vs, offs, nbrs, _) =>
      val dict = bcIds.value
      (vs.map(java.util.Arrays.binarySearch(dict, _)), offs,
        nbrs.map(java.util.Arrays.binarySearch(dict, _)))
    }.persist(StorageLevel.MEMORY_AND_DISK)
    rdd.count()
    bcIds.unpersist(blocking = false)
    Some(Blocks(rdd, ids, degree))
  }
}
