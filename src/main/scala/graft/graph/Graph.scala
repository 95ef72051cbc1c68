package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** A graph as a DataFrame of directed multi-edges `(src, dst, weight)` —
  * the Spark-first re-expression of the reference's CSR structure
  * (ref: tests/networkx/test_python.py:52-58 reads nv/ne/off/ind/wgt).
  *
  * We deliberately use DataFrames rather than GraphX: GraphX is RDD-based
  * (no Tungsten/whole-stage-codegen/AQE), while an edge table keeps every
  * algorithm inside Catalyst — joins get AQE skew handling, aggregates get
  * map-side partials, and the same code runs on a 1000-executor cluster by
  * just partitioning the edge table on `src`.
  *
  * What depends only on the edges is built at most once per instance:
  * [[cachedUndirected]], [[cachedWeightedUndirected]] and the slot CSR
  * ([[csr]]). The two views are session caches that stay until a caller
  * unpersists them; the CSR blocks go with the instance (Spark's
  * ContextCleaner unpersists them once it is garbage-collected) or
  * earlier through [[Csr.release]]. A raw-edge graph
  * ([[Graph.fromRawEdges]]) materializes one thing only, its packed CSR
  * blocks ([[packed]]): [[edges]], `preSymmetrized` and both views are
  * expanded from them, and its slot CSR is slotted from them.
  *
  * @param memoizeAnalytics opt-in for the session-lifetime analytics memo
  *   caches (e.g. converged CC labels). Only the session-memoized graphs
  *   ([[Graph.fromTpch]], [[EdgeUpdates.updatedGraph]]) set it — one
  *   instance per session, so their CSR is built once per session: an
  *   ad-hoc graph (a dedup pair graph, a test fixture) is keyed by
  *   DataFrame reference identity, so caching its results would pin
  *   checkpointed RDDs forever — an unbounded leak in long-lived sessions.
  */
final case class Graph(edges: DataFrame, memoizeAnalytics: Boolean = false,
    edgesCanonical: Boolean = false,
    preSymmetrized: Option[DataFrame] = None) {

  /** Symmetrized, deduplicated edge view (reference graphs are undirected:
    * networkx.Graph dedupes, Bagel builds both directions). Self-loops kept
    * as a single direction.
    *
    * When the caller declares `edgesCanonical` (one row per pair, src ≤
    * dst — e.g. a canonicalized R-MAT tier build), the symmetrized view
    * is distinct BY CONSTRUCTION and the |2E|-row dedup shuffle is
    * skipped entirely — at SCALE 24 that is one fewer 265M-row exchange
    * in the build workload.
    */
  def undirected: DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    if (edgesCanonical)
      e.union(e.filter(col("src") =!= col("dst"))
        .select(col("dst").as("src"), col("src").as("dst")))
    else
      e.union(e.select(col("dst").as("src"), col("src").as("dst"))).distinct()
  }

  /** Materialized, row-count-partitioned undirected view, hash-partitioned
    * on `src` — computed once per Graph instance and shared by every
    * algorithm run against it (`Graph.fromTpch` memoizes instances per
    * (session, dir), so the six graph workloads in a session scan and
    * cache the edge table once), and the input of the instance's one CSR
    * build ([[csr]]). The src alignment means degree aggregates
    * and the shuffle-fallback frontier/state joins read the cache without
    * re-exchanging the edge side — at the large R-MAT tier that is the
    * difference between exchanging 265M edges or 15M state rows per
    * iteration.
    */
  lazy val cachedUndirected: DataFrame =
    preSymmetrized match {
      // a build that already materialized the src-aligned symmetrized
      // view ([[Graph.fromRawEdges]]): project the algorithm view off it
      // (narrow project, partitioning preserved)
      case Some(sym) => sym.select(col("src"), col("dst"))
      // session-memoized graphs hold ONE |2E| session cache — the
      // weighted view — and the unweighted view is a narrow projection
      // off it (r15, ADVICE r14: the two session caches held the same
      // row set at 1.67x the footprint, and sessions running both
      // weighted and unweighted analytics paid two |2E| exchanges +
      // materializations where one suffices). Row-identical: both views
      // keep one row per orientation pair with self-loops once, the
      // weighted groupBy dedupes exactly like the old distinct. The
      // in-memory columnar cache prunes the weight column on scan, so
      // unweighted consumers read the same bytes as before. Ad-hoc
      // graphs keep the independent build: their callers unpersist
      // `cachedUndirected` directly, which must hit the real cache
      // entry, not a projection of it.
      case None if memoizeAnalytics =>
        cachedWeightedUndirected.select(col("src"), col("dst"))
      case None =>
        graft.core.Partitioning.cachedSizedBy(undirected, Seq("src"))
    }

  /** The packed long-id blocks a raw-edge build materialized
    * ([[Graph.fromRawEdges]]), which every view of this graph expands;
    * None for any other graph. [[Csr.release]] frees them.
    */
  @volatile private[graph] var packed: Option[Csr.Packed] = None

  /** The slot CSR of [[cachedUndirected]]: [[Csr.slot]] of the [[packed]]
    * blocks, else [[Csr.buildDense]]. The first CSR consumer builds it
    * and every later one on this instance reuses it, a declined build
    * (None) included — read it through [[Csr.cachedOrBuild]].
    */
  private[graph] lazy val csr: Option[Csr.Blocks] = {
    val built = packed.fold(Csr.buildDense(cachedUndirected))(Csr.slot)
    csrBuilt = true
    built
  }

  /** Whether [[csr]] has been built: [[Csr.release]] frees only blocks
    * that exist.
    */
  @volatile private[graph] var csrBuilt = false

  /** Distinct vertex ids appearing in any edge. */
  def vertices: DataFrame =
    edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id")))
      .distinct()

  /** Materialized weight-SUMMED symmetrized view `(src, dst, weight)` —
    * one row per directed orientation, parallel edges folded by weight
    * sum, self-loops kept once — hash-partitioned on `src` like
    * [[cachedUndirected]]. Weighted PageRank and both multi-contraction
    * queries each consumed this identical view through private builds
    * (three |2E|-row exchanges per session where one suffices — guide
    * §2.4); like the unweighted cache it is built once per Graph
    * instance and released with the session. Callers running on ad-hoc
    * (non-memoized) graphs keep private builds so fixture caches are
    * never pinned (`lazy` means an instance that never needs the view
    * never builds it).
    */
  lazy val cachedWeightedUndirected: DataFrame = preSymmetrized match {
    // fromRawEdges already expands exactly this view: (src, dst,
    // weight = pair multiplicity), both orientations, self-loops once,
    // src-aligned — the weight of a pair is orientation-symmetric by
    // construction, so the view serves the weighted consumers directly
    case Some(sym) => sym
    case None =>
      val e = edges.select(col("src"), col("dst"), col("weight"))
      graft.core.Partitioning.cachedSizedBy(
        e.union(e.filter(col("src") =!= col("dst"))
            .select(col("dst").as("src"), col("src").as("dst"),
              col("weight")))
          .groupBy(col("src"), col("dst"))
          .agg(sum(col("weight")).as("weight")),
        Seq("src"))
  }
}

object Graph {
  /** Supplier vertex-id offset keeping the two sides of the bipartite
    * customer–supplier graph disjoint at any scale factor.
    */
  val SupplierOffset = 1000000L

  /** ONE-shuffle graph build from a raw directed multi-edge list (the
    * R-MAT tier's workload): each raw edge explodes into both
    * orientations up front, the 2|E| skinny rows exchange ONCE hashed on
    * `src`, and each exchanged partition packs straight into long-id CSR
    * blocks ([[Csr.pack]]: one primitive sort, a pair's multiplicity kept
    * as a run). Those blocks are all the build materializes. The
    * symmetrized view `preSymmetrized` = [[cachedWeightedUndirected]]
    * (`src, dst, weight` = pair multiplicity, both orientations,
    * self-loops once), [[cachedUndirected]] and the canonical
    * one-row-per-pair [[edges]] (EdgeUpdates' contract, `src <= dst`)
    * are expansions of them ([[Csr.expand]]), declared to Catalyst as
    * hash-partitioned on `src` with the exchange's partition count —
    * true, as packing and expansion keep partition indices — so
    * consumers clustering on `src` read them with no exchange. The
    * graph's slot CSR slots the same blocks without sorting again, and
    * [[Csr.release]] frees them. An edge with a null endpoint names no
    * vertex and is dropped.
    *
    * Sizing the exchange costs a `raw.count()`: a parquet metadata count
    * reads no data pages, but any other source (`StingerFiles` decodes
    * every edge) runs a job of its own that scans the input.
    */
  def fromRawEdges(raw: DataFrame,
      rowsPerPartition: Long = 1000000L): Graph = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import org.apache.spark.storage.StorageLevel
    val nRaw = raw.count()
    val target = ((2 * nRaw + rowsPerPartition - 1) / rowsPerPartition)
      .max(1L).min(1L << 17).toInt
    val e = raw.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
    val both = e.select(explode(when(col("src") === col("dst"),
        array(struct(col("src"), col("dst"))))
      .otherwise(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst"))))).as("e"))
      .select(col("e.src"), col("e.dst"))
    val packed = Csr.pack(both.repartition(target, col("src"))
      .queryExecution.toRdd).persist(StorageLevel.MEMORY_AND_DISK)
    // materializes the blocks; their in-memory size is the views' size
    // estimate, as a columnar cache's compressed size was
    val bytes = packed.map { case (vs, _, nbrs) =>
      12L * vs.length + 8L * nbrs.length
    }.fold(0L)(_ + _)
    val sym = org.apache.spark.sql.graftbridge.FrameBridge.hashPartitioned(
      raw.sparkSession,
      StructType(Seq("src", "dst", "weight")
        .map(StructField(_, LongType, nullable = false))),
      Csr.expand(packed), "src", bytes)
    val g = Graph(sym.filter(col("src") <= col("dst")),
      edgesCanonical = true, preSymmetrized = Some(sym))
    g.packed = Some(packed)
    g
  }

  /** Build the bipartite customer–supplier graph from the relational tables:
    * one edge per (custkey, suppkey) co-occurrence in orders⋈lineitem,
    * weight = multiplicity. This is the "graph build" workload of the
    * reference (ref: README.md "Insertion / deletion / update"), expressed
    * as a declarative join+aggregate: the scan reads only 3 columns
    * (pushdown), the join shuffles on orderkey, and the groupBy gets
    * map-side combine.
    */
  private val instances =
    scala.collection.concurrent.TrieMap[((SparkSession, String), Long), Graph]()

  def fromTpch(spark: SparkSession, dir: String): Graph = {
    graft.core.SessionCaches.sweep(instances)(_._1._1)
    graft.core.SessionCaches.freshOrUpdate(instances, (spark, dir), dir)(
      build(spark, dir))
  }

  private def build(spark: SparkSession, dir: String): Graph = {
    val ord = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey"))
    val edges = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(
        col("o_custkey").as("src"),
        (lit(SupplierOffset) + col("l_suppkey")).as("dst"))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("weight"))
    Graph(edges, memoizeAnalytics = true)
  }

  /** Oracle-SQL fragment producing the same edge table in DuckDB. */
  val tpchEdgesSql: String =
    """SELECT o_custkey AS src, 1000000 + l_suppkey AS dst,
      |  count(*) AS weight
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1, 2""".stripMargin

  /** Same, as a WITH-clause body for composing into algorithm oracles:
    * symmetric distinct undirected edge set.
    */
  val undirectedCte: String =
    """dedges AS (
      |  SELECT DISTINCT o_custkey AS src, 1000000 + l_suppkey AS dst
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |), edges AS (
      |  SELECT src, dst FROM dedges UNION SELECT dst, src FROM dedges
      |)""".stripMargin
}
