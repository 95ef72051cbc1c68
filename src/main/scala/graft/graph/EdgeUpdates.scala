package graft.graph

import scala.collection.mutable.ArrayBuilder

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.FrameBridge
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.core.{Observations, Tables}

/** Batch edge insert/delete — the reference's "update" workload
  * (ref: tests/networkx/test_python.py:139-144: action (i,j) with i>=0
  * inserts, (~i,~j) deletes; tests/bagel/App.scala:261-271: duplicate
  * insert increments weight).
  *
  * The reference applies actions sequentially, each touching only its own
  * pair (STINGER's in-place apply, tests/bagel/App.scala:261-271); the
  * Spark-first equivalent keeps per-edge **last-action-wins** semantics,
  * totally ordered by action id. Final weight of an edge =
  *   (base weight, if the edge was never deleted) + #inserts after the last
  *   delete;  the edge exists iff that weight > 0.
  * This matches replaying the action log edge-by-edge. Physically
  * ([[merge]]): the base and the actions are co-partitioned on
  * (src, dst) — a base already laid out that way is read in place, so
  * only the actions exchange (as per-pair deltas when the log comes in
  * one partition) — and each partition resolves its actions in a
  * primitive hash table and streams its base rows past it, the
  * GraphX shape of zipping co-partitioned partitions through primitive
  * indexes instead of running a general join. The SQL oracles below
  * state the same semantics as window + aggregate + full-outer join.
  */
object EdgeUpdates {

  /** The deterministic action stream derived from `events`:
    * src = user_id + 1, dst = SupplierOffset + event_id % 100 + 1,
    * delete iff event_type = 'error', ordered by event_id.
    */
  def actionsFromEvents(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).select(
      (col("user_id") + 1L).as("src"),
      (lit(Graph.SupplierOffset) + pmod(col("event_id"), lit(100L)) + 1L).as("dst"),
      (col("event_type") === "error").as("is_del"),
      col("event_id").as("action_id"))

  val actionsCte: String =
    """actions AS (
      |  SELECT user_id + 1 AS src,
      |    1000000 + event_id % 100 + 1 AS dst,
      |    event_type = 'error' AS is_del,
      |    event_id AS action_id
      |  FROM events
      |)""".stripMargin

  /** A user–user action feed for the triangle-bearing maintainers: the
    * customer–supplier feed above is bipartite (triangle-free by
    * construction), so X19 streams edges within ONE id space instead.
    * Pairs are canonicalized (src < dst) at derivation and self-pairs
    * dropped, satisfying [[applyAnnotated]]'s one-row-per-pair contract.
    */
  def userPairActions(spark: SparkSession, dir: String): DataFrame = {
    val u = col("user_id") + lit(1L)
    val v = pmod(col("event_id"), lit(1500L)) + lit(1L)
    Tables.events(spark, dir).filter(u =!= v).select(
      least(u, v).as("src"), greatest(u, v).as("dst"),
      (col("event_type") === "error").as("is_del"),
      col("event_id").as("action_id"))
  }

  /** The surviving user-pair edge set under [[userPairActions]]'
    * last-delete-wins semantics (empty base) — the Spark twin of
    * [[userPairUpdCte]]: a pair survives iff it has an insert after its
    * last delete. One window + one distinct, both shuffling only action
    * rows on the pair key.
    */
  def updatedUserPairs(spark: SparkSession, dir: String): DataFrame = {
    val a = userPairActions(spark, dir)
    val w = Window.partitionBy(col("src"), col("dst"))
    a.withColumn("last_del",
        max(when(col("is_del"), col("action_id"))).over(w))
      .filter(!col("is_del") &&
        (col("last_del").isNull || col("action_id") > col("last_del")))
      .select(col("src"), col("dst")).distinct()
  }

  /** DuckDB CTE for the surviving user-pair edge set under
    * [[userPairActions]]' last-delete-wins semantics (empty base). */
  val userPairUpdCte: String =
    """uactions AS (
      |  SELECT least(user_id + 1, event_id % 1500 + 1) AS src,
      |         greatest(user_id + 1, event_id % 1500 + 1) AS dst,
      |         event_type = 'error' AS is_del,
      |         event_id AS action_id
      |  FROM events
      |  WHERE user_id + 1 <> event_id % 1500 + 1
      |),
      |uannotated AS (
      |  SELECT src, dst, is_del, action_id,
      |    max(CASE WHEN is_del THEN action_id END)
      |      OVER (PARTITION BY src, dst) AS last_del
      |  FROM uactions
      |),
      |uupd AS (
      |  SELECT src, dst FROM uannotated
      |  WHERE NOT is_del AND (last_del IS NULL OR action_id > last_del)
      |  GROUP BY 1, 2
      |)""".stripMargin

  /** Oracle for X19: the streaming-clustering-coefficient triple over the
    * drained user-pair edge set — triangle count (oriented a<b<c join, the
    * [[Triangles.nationTrianglesSql]] shape), wedge count from symmetrized
    * degrees, and the global coefficient 3T/W at the 8dp ratio contract.
    */
  val updatedUserTrianglesSql: String =
    s"""WITH $userPairUpdCte,
       |tri AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_triangles
       |  FROM uupd e1
       |  JOIN uupd e2 ON e1.dst = e2.src
       |  JOIN uupd e3 ON e1.src = e3.src AND e2.dst = e3.dst
       |),
       |udegs AS (
       |  SELECT src AS id, count(*) AS deg
       |  FROM (SELECT src, dst FROM uupd UNION SELECT dst, src FROM uupd)
       |  GROUP BY 1
       |),
       |wed AS (
       |  SELECT CAST(sum(deg * (deg - 1) / 2) AS BIGINT) AS n_wedges
       |  FROM udegs
       |)
       |SELECT n_triangles, n_wedges,
       |  round(CASE WHEN n_wedges = 0 THEN 0.0
       |             ELSE 3.0 * n_triangles / n_wedges END, 8) AS global_cc
       |FROM tri, wed""".stripMargin

  /** Oracle for X23: the k-truss peel over the drained user-pair edge set
    * ([[Triangles.kTrussSql]]'s unrolled rounds composed over `uupd` —
    * validated convergent by round 3 at sf0.1, round 6 at sf0.01, so 8
    * idempotent rounds cover both).
    */
  def updatedUserKtrussSql(k: Int = 4, rounds: Int = 8): String =
    Triangles.kTrussSql(k, rounds,
      s"""$userPairUpdCte,
         |pe AS MATERIALIZED (SELECT src AS u, dst AS v FROM uupd)""".stripMargin)

  /** Oracle for X20: per-vertex triangle counts + local clustering
    * coefficients over the drained user-pair edge set (corner counts from
    * the oriented triangle join; G16's Watts-Strogatz ratio at 8dp).
    */
  val updatedUserLocalCcSql: String =
    s"""WITH $userPairUpdCte,
       |tri AS (
       |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
       |  FROM uupd e1
       |  JOIN uupd e2 ON e1.dst = e2.src
       |  JOIN uupd e3 ON e1.src = e3.src AND e2.dst = e3.dst
       |),
       |corners AS (
       |  SELECT id, CAST(count(*) AS BIGINT) AS n_tri FROM (
       |    SELECT a AS id FROM tri UNION ALL
       |    SELECT b AS id FROM tri UNION ALL
       |    SELECT c AS id FROM tri) GROUP BY 1
       |),
       |udegs AS (
       |  SELECT src AS id, CAST(count(*) AS BIGINT) AS deg
       |  FROM (SELECT src, dst FROM uupd UNION SELECT dst, src FROM uupd)
       |  GROUP BY 1
       |)
       |SELECT d.id, coalesce(c.n_tri, 0) AS n_tri, d.deg,
       |  round(CASE WHEN d.deg < 2 THEN 0.0
       |             ELSE 2.0 * coalesce(c.n_tri, 0) / (d.deg * (d.deg - 1))
       |        END, 8) AS local_cc
       |FROM udegs d LEFT JOIN corners c ON d.id = c.id""".stripMargin

  /** Apply an action log to a weighted edge table. Returns (src, dst, weight)
    * for all surviving edges. Pass `knownActionCount` when the caller
    * already counted the materialized log (see [[applyAnnotated]]).
    */
  def apply(base: DataFrame, actions: DataFrame,
      knownActionCount: Option[Long] = None): DataFrame =
    applyAnnotated(base, actions, knownActionCount)
      .filter(col("weight") > 0L)
      .select(col("src"), col("dst"), col("weight"))

  /** Actions a merge task resolves at most, when the log's size is known:
    * the merge runs in at least |actions| / this many partitions, so one
    * task's pair table (about 80 bytes an action) stays near 320 MB.
    */
  val BroadcastableActions = 4000000L

  /** The update merge WITHOUT the survivor filter: every touched-or-present
    * pair with its new `weight` and pre-update `weight_old`. Presence flips
    * (weight_old > 0 ≠ weight > 0) come free from the same single
    * edge-table pass — the incremental streaming maintainers read them
    * instead of probing the edge state before AND after.
    *
    * CONTRACT — one directed row per undirected pair: `base` and `actions`
    * must never contain both (u,v) and (v,u) for the same pair, or the
    * downstream flip-delta consumers (incrementalDegreesStream /
    * incrementalCcStream canonicalize with least/greatest AFTER this
    * merge) would count one undirected presence flip twice. Both in-repo
    * edge sources satisfy it structurally: the TPC-H build keeps src
    * (custkey) and dst (SupplierOffset+suppkey) in disjoint id spaces, and
    * the R-MAT action stream canonicalizes src<=dst at generation. A new
    * edge source must either canonicalize (src<dst) or keep its endpoint
    * domains disjoint before feeding this merge.
    *
    * @param knownActionCount pass it when the caller already counted the
    *   (materialized) action log — e.g. perfbench and RmatTier. When
    *   absent, the actions are localCheckpoint'd and counted by the same
    *   job (an observed metric), so a non-materialized action lineage is
    *   never evaluated twice per apply. The count sizes the merge's
    *   partitions ([[BroadcastableActions]]).
    */
  def applyAnnotated(base: DataFrame, actions: DataFrame,
      knownActionCount: Option[Long] = None): DataFrame =
    knownActionCount match {
      case Some(_) => merge(base, actions, knownActionCount)
      case None =>
        val obs = Observation()
        val a = actions.observe(obs, count(lit(1)).as("n"))
          .localCheckpoint(true)
        merge(base, a, Some(Observations.metric(obs, "n").asInstanceOf[Long]))
    }

  /** The merge kernel behind [[applyAnnotated]] and the streaming
    * maintainers' per-batch merge: `base` (src, dst, weight) and
    * `actions` (src, dst, is_del, action_id) zipped partition by partition
    * in n partitions, both laid out as `repartition(n, src, dst)`. A base
    * already planned that way ([[FrameBridge.hashPartitions]]: a
    * `cachedSizedBy(…, Seq("src", "dst"))` cache, or a previous merge's
    * output) is read as it is; any other base exchanges once into as many
    * partitions as it comes in — a checkpoint keeps the count adaptive
    * execution coalesced its rows to, a file scan has one per split — as
    * the size estimates of such plans can be off by orders of magnitude.
    * `actionCount`, when known, raises n so no task resolves more than
    * [[BroadcastableActions]] actions.
    *
    * The actions are resolved per pair in a primitive open-addressing
    * table keyed on (src, dst) ([[Touched]]). A log that comes in one
    * partition (a checkpointed log, a staged micro-batch file) is resolved
    * by that one task, and only its per-pair deltas exchange; a log in
    * several partitions exchanges its action rows and each merge task
    * resolves its own, as last-action-wins needs a pair's actions
    * together. Each merge task streams its base rows against its table
    * and then emits the touched pairs no base row matched, all through one
    * reused `UnsafeRow` — no window, aggregate, sort or join. The output
    * is declared hash-partitioned on (src, dst) into n partitions, true
    * by construction, so a merge over a previous merge's output (the
    * streaming edge state) exchanges only its actions.
    *
    * Semantics are per pair, last action wins by `action_id`: a base row
    * gets `(any delete ? 0 : coalesce(weight, 0)) + #inserts after the last
    * delete`, duplicate base rows each on their own; a touched pair no base
    * row has gets the inserts after its last delete. `weight_old` is
    * `coalesce(weight, 0)` (0 for a new pair). A null endpoint never
    * matches: such a base row passes through, and such actions resolve to
    * their own pair (nulls group together), as a full-outer join on
    * (src, dst) treats them.
    */
  private[graft] def merge(base: DataFrame, actions: DataFrame,
      actionCount: Option[Long]): DataFrame = {
    val spark = base.sparkSession
    val keys = Seq("src", "dst")
    val b = base.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"), col("weight").cast("long").as("weight"))
    val a = actions.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"), col("is_del").cast("boolean").as("is_del"),
      col("action_id").cast("long").as("action_id"))
    val want = actionCount.fold(1)(c =>
      ((c + BroadcastableActions - 1) / BroadcastableActions).toInt.max(1))
    val n = FrameBridge.hashPartitions(b, keys).filter(_ >= want).getOrElse(
      want.max(b.queryExecution.executedPlan.execute().getNumPartitions))
    val size = Seq(b, a).map(_.queryExecution.optimizedPlan.stats.sizeInBytes)
      .sum.min(BigInt(Long.MaxValue)).toLong
    val log = a.queryExecution.toRdd
    val resolved = log.getNumPartitions == 1
    val baseRows = FrameBridge.hashRows(b, keys, n)
    val actRows = if (!resolved) FrameBridge.hashRows(a, keys, n)
      else FrameBridge.hashRows(FrameBridge.unpartitioned(spark, DeltaSchema,
        log.mapPartitions(as => Touched.ofActions(as).deltas), size), keys, n)
    require(baseRows.getNumPartitions == n && actRows.getNumPartitions == n,
      s"merge: ${baseRows.getNumPartitions} base and " +
        s"${actRows.getNumPartitions} action partitions, expected $n")
    val rows = baseRows.zipPartitions(actRows)((bs, as) =>
      (if (resolved) Touched.ofDeltas(as) else Touched.ofActions(as)).merged(bs))
    FrameBridge.hashPartitioned(spark, MergedSchema, rows, keys, size)
  }

  private val MergedSchema = StructType(Seq(
    StructField("src", LongType), StructField("dst", LongType),
    StructField("weight", LongType, false),
    StructField("weight_old", LongType, false)))

  /** A resolved pair: (src, dst, delta), delta = #inserts after the last
    * delete << 1 | any delete.
    */
  private val DeltaSchema = StructType(Seq(
    StructField("src", LongType), StructField("dst", LongType),
    StructField("delta", LongType, false)))

  /** One task's touched pairs: an open-addressing table keyed on
    * (src, dst) and their null flags, and per pair whether any delete hit
    * it and how many inserts follow its last delete. Built from action
    * rows ([[Touched.ofActions]]) or from the deltas of a log one task
    * resolved ([[Touched.ofDeltas]]).
    */
  private final class Touched(capacity: Int) {
    import Touched._
    // slot → pair index (-1 empty), power-of-two capacity ≥ 2 · capacity
    private val mask = Integer.highestOneBit(math.max(capacity, 1) * 2 - 1) * 2 - 1
    private val slots = Array.fill(mask + 1)(-1)
    private val pSrc = new Array[Long](capacity)
    private val pDst = new Array[Long](capacity)
    private val pNulls = new Array[Byte](capacity)
    val anyDel = new Array[Boolean](capacity)
    val nIns = new Array[Long](capacity)
    private val matched = new Array[Boolean](capacity)
    private var pairs = 0

    /** The pair of (s, d, nulls), or -1 (`add`: a new pair) if absent. */
    def pairOf(s: Long, d: Long, nulls: Int, add: Boolean): Int = {
      var z = s * 0x9E3779B97F4A7C15L + d + nulls
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      var i = (z ^ (z >>> 31)).toInt & mask
      while (slots(i) >= 0) {
        val p = slots(i)
        if (pSrc(p) == s && pDst(p) == d && pNulls(p) == nulls) return p
        i = (i + 1) & mask
      }
      if (!add) return -1
      val p = pairs
      pairs += 1
      pSrc(p) = s; pDst(p) = d; pNulls(p) = nulls.toByte
      slots(i) = p
      p
    }

    private def setKey(row: UnsafeRow, p: Int): Unit = {
      if ((pNulls(p) & SrcNull) != 0) row.setNullAt(0) else row.setLong(0, pSrc(p))
      if ((pNulls(p) & DstNull) != 0) row.setNullAt(1) else row.setLong(1, pDst(p))
    }

    /** The pairs as [[DeltaSchema]] rows. */
    def deltas: Iterator[InternalRow] = {
      val row = Csr.unsafeRow(3)
      Iterator.tabulate[InternalRow](pairs) { p =>
        setKey(row, p)
        row.setLong(2, nIns(p) << 1 | (if (anyDel(p)) 1L else 0L))
        row
      }
    }

    /** `base`'s (src, dst, weight) rows merged, then the touched pairs no
      * base row matched, as (src, dst, weight, weight_old) rows.
      */
    def merged(base: Iterator[InternalRow]): Iterator[InternalRow] =
      new Iterator[InternalRow] {
        private val row = Csr.unsafeRow(4)
        private var k = 0 // the next pair to emit, once the base is done
        def hasNext: Boolean = base.hasNext || {
          while (k < pairs && matched(k)) k += 1
          k < pairs
        }
        def next(): InternalRow =
          if (base.hasNext) {
            val r = base.next()
            val w = if (r.isNullAt(2)) 0L else r.getLong(2)
            val p = if (r.isNullAt(0) || r.isNullAt(1)) -1
              else pairOf(r.getLong(0), r.getLong(1), 0, add = false)
            if (r.isNullAt(0)) row.setNullAt(0) else row.setLong(0, r.getLong(0))
            if (r.isNullAt(1)) row.setNullAt(1) else row.setLong(1, r.getLong(1))
            if (p < 0) row.setLong(2, w)
            else {
              matched(p) = true
              row.setLong(2, (if (anyDel(p)) 0L else w) + nIns(p))
            }
            row.setLong(3, w)
            row
          } else {
            if (!hasNext) throw new NoSuchElementException
            setKey(row, k)
            row.setLong(2, nIns(k))
            row.setLong(3, 0L)
            k += 1
            row
          }
      }
  }

  private object Touched {
    val SrcNull = 1
    val DstNull = 2
    val Del = 4
    val Ins = 8
    val IdNull = 16

    /** Key columns 0 and 1 of `r` and their null flags, into the builders. */
    private def readKey(r: InternalRow, src: ArrayBuilder.ofLong,
        dst: ArrayBuilder.ofLong): Int = {
      var f = 0
      if (r.isNullAt(0)) { f |= SrcNull; src += 0L } else src += r.getLong(0)
      if (r.isNullAt(1)) { f |= DstNull; dst += 0L } else dst += r.getLong(1)
      f
    }

    /** The pairs of (src, dst, is_del, action_id) rows. Pass 1 reads them
      * into primitive arrays, gives each its pair and records per pair
      * whether any delete hit it and its last delete's `action_id`; pass 2
      * counts each pair's inserts after that delete. An `is_del` null
      * neither deletes nor inserts, and a delete without an `action_id`
      * deletes but sets no last delete — as the SQL formulation reads them.
      */
    def ofActions(actions: Iterator[InternalRow]): Touched = {
      val srcB = new ArrayBuilder.ofLong
      val dstB = new ArrayBuilder.ofLong
      val idB = new ArrayBuilder.ofLong
      val flagB = new ArrayBuilder.ofByte
      actions.foreach { r =>
        var f = readKey(r, srcB, dstB)
        if (!r.isNullAt(2)) f |= (if (r.getBoolean(2)) Del else Ins)
        if (r.isNullAt(3)) { f |= IdNull; idB += 0L } else idB += r.getLong(3)
        flagB += f.toByte
      }
      val (aSrc, aDst, aId, aFlag) =
        (srcB.result(), dstB.result(), idB.result(), flagB.result())
      val m = aSrc.length
      val t = new Touched(m)
      val hasLastDel = new Array[Boolean](m)
      val lastDel = new Array[Long](m)
      // pass 1: each action's pair, any delete and the last delete
      val pairOfAction = new Array[Int](m)
      var i = 0
      while (i < m) {
        val f = aFlag(i)
        val p = t.pairOf(aSrc(i), aDst(i), f & (SrcNull | DstNull), add = true)
        pairOfAction(i) = p
        if ((f & Del) != 0) {
          t.anyDel(p) = true
          if ((f & IdNull) == 0 && (!hasLastDel(p) || aId(i) > lastDel(p))) {
            hasLastDel(p) = true
            lastDel(p) = aId(i)
          }
        }
        i += 1
      }
      // pass 2: the inserts after each pair's last delete
      i = 0
      while (i < m) {
        val f = aFlag(i)
        val p = pairOfAction(i)
        if ((f & Ins) != 0 && (!hasLastDel(p) ||
            ((f & IdNull) == 0 && aId(i) > lastDel(p))))
          t.nIns(p) += 1
        i += 1
      }
      t
    }

    /** The pairs of [[DeltaSchema]] rows, each pair in one row. */
    def ofDeltas(deltas: Iterator[InternalRow]): Touched = {
      val srcB = new ArrayBuilder.ofLong
      val dstB = new ArrayBuilder.ofLong
      val deltaB = new ArrayBuilder.ofLong
      val flagB = new ArrayBuilder.ofByte
      deltas.foreach { r =>
        flagB += readKey(r, srcB, dstB).toByte
        deltaB += r.getLong(2)
      }
      val (dSrc, dDst, dDelta, dFlag) =
        (srcB.result(), dstB.result(), deltaB.result(), flagB.result())
      val t = new Touched(dSrc.length)
      var i = 0
      while (i < dSrc.length) {
        val p = t.pairOf(dSrc(i), dDst(i), dFlag(i), add = true)
        t.anyDel(p) = (dDelta(i) & 1L) != 0
        t.nIns(p) = dDelta(i) >>> 1
        i += 1
      }
      t
    }
  }

  private val instances =
    scala.collection.concurrent.TrieMap[((SparkSession, String), Long), Graph]()

  /** End-to-end: TPC-H graph + events action log → final edge table.
    * Memoized per (session, dir) like Graph.fromTpch (same file-listing
    * staleness fingerprint), so the update-edges and update-degrees
    * workloads share one pipeline and one edge cache.
    */
  def updatedGraph(spark: SparkSession, dir: String): Graph = {
    graft.core.SessionCaches.sweep(instances)(_._1._1)
    graft.core.SessionCaches.freshOrUpdate(instances, (spark, dir), dir)(
      Graph(apply(Graph.fromTpch(spark, dir).edges, actionsFromEvents(spark, dir)),
        memoizeAnalytics = true))
  }

  /** CTE chain ending in `upd(src, dst, weight)` — composable into larger
    * oracle queries.
    */
  val updatedEdgesCtes: String =
    s"""base AS (
       |${Graph.tpchEdgesSql.linesIterator.map("  " + _).mkString("\n")}
       |), $actionsCte,
       |annotated AS (
       |  SELECT src, dst, is_del, action_id,
       |    max(CASE WHEN is_del THEN action_id END)
       |      OVER (PARTITION BY src, dst) AS last_del
       |  FROM actions
       |),
       |ins AS (
       |  SELECT src, dst, count(*) AS n_ins
       |  FROM annotated
       |  WHERE NOT is_del AND (last_del IS NULL OR action_id > last_del)
       |  GROUP BY 1, 2
       |),
       |touched AS (
       |  SELECT src, dst, bool_or(is_del) AS any_del FROM annotated GROUP BY 1, 2
       |),
       |upd AS (
       |  SELECT
       |    coalesce(b.src, t.src) AS src,
       |    coalesce(b.dst, t.dst) AS dst,
       |    CAST(CASE WHEN coalesce(t.any_del, false) THEN 0 ELSE coalesce(b.weight, 0) END
       |      + coalesce(i.n_ins, 0) AS BIGINT) AS weight
       |  FROM base b
       |  FULL OUTER JOIN touched t ON b.src = t.src AND b.dst = t.dst
       |  LEFT JOIN ins i ON coalesce(b.src, t.src) = i.src AND coalesce(b.dst, t.dst) = i.dst
       |  WHERE CASE WHEN coalesce(t.any_del, false) THEN 0 ELSE coalesce(b.weight, 0) END
       |      + coalesce(i.n_ins, 0) > 0
       |)""".stripMargin

  /** DuckDB oracle for the full update pipeline. */
  val updatedEdgesSql: String =
    s"WITH $updatedEdgesCtes\nSELECT src, dst, weight FROM upd"

  /** DuckDB oracle for degrees over the updated, symmetrized graph. */
  val updatedDegreesSql: String =
    s"""WITH $updatedEdgesCtes,
       |ue AS (SELECT src, dst FROM upd UNION SELECT dst, src FROM upd)
       |SELECT src AS id, count(*) AS degree FROM ue GROUP BY 1""".stripMargin

  /** CTE chain ending in `edges(src, dst)` — the updated graph's distinct
    * symmetrized edge view, drop-in for [[Graph.undirectedCte]] so every
    * algorithm oracle composes over the maintained graph.
    */
  val updatedUndirectedCte: String =
    s"""$updatedEdgesCtes,
       |dedges AS (SELECT DISTINCT src, dst FROM upd),
       |edges AS (SELECT src, dst FROM dedges UNION SELECT dst, src FROM dedges)""".stripMargin

  /** DuckDB oracle for BFS distances over the updated graph. */
  val updatedSsspSql: String =
    s"""WITH RECURSIVE $updatedUndirectedCte,
       |bfs(id, d) AS (
       |  SELECT (SELECT min(src) FROM edges), 0
       |  UNION
       |  SELECT e.dst, bfs.d + 1 FROM bfs JOIN edges e ON bfs.id = e.src
       |  WHERE bfs.d < 64
       |)
       |SELECT id, CAST(min(d) AS BIGINT) AS dist FROM bfs GROUP BY id""".stripMargin

  /** DuckDB oracle for WEIGHTED SSSP over the updated graph: the G6b
    * Bellman-Ford unroll ([[WeightedShortestPaths.unrolledSql]]'s step
    * shape) composed over the maintained edge set — min-weight
    * symmetrized `upd` pairs, source = the updated graph's min vertex.
    * Relaxation is idempotent past the fixpoint, so any `hops` ≥ the true
    * maximum shortest-path hop count yields the exact distances.
    */
  def updatedWssspSql(hops: Int = 30): String = {
    val steps = (1 to hops).map { k =>
      s"""d$k AS MATERIALIZED (
         |  SELECT id, min(d) AS d FROM (
         |    SELECT id, d FROM d${k - 1}
         |    UNION ALL
         |    SELECT e.dst AS id, p.d + e.weight AS d
         |    FROM d${k - 1} p JOIN wedges e ON p.id = e.src
         |  ) u GROUP BY id)""".stripMargin
    }.mkString(",\n")
    s"""WITH $updatedEdgesCtes,
       |wsym AS (
       |  SELECT src, dst, weight FROM upd
       |  UNION ALL SELECT dst AS src, src AS dst, weight FROM upd WHERE src <> dst
       |),
       |wedges AS MATERIALIZED (
       |  SELECT src, dst, min(weight) AS weight FROM wsym GROUP BY 1, 2
       |),
       |d0 AS (
       |  SELECT (SELECT min(src) FROM wedges) AS id, CAST(0 AS BIGINT) AS d
       |),
       |$steps
       |SELECT id, CAST(d AS BIGINT) AS dist FROM d$hops""".stripMargin
  }

  /** DuckDB oracle for k-landmark BFS distances over the updated graph
    * (G17's recursive CTE composed over the maintained edge set — the X18
    * drain contract).
    */
  def updatedLandmarkSql(k: Int = 4): String =
    s"""WITH RECURSIVE $updatedUndirectedCte,
       |lms AS MATERIALIZED (
       |  SELECT DISTINCT src AS lm FROM edges ORDER BY 1 LIMIT $k),
       |bfs(landmark, id, d) AS (
       |  SELECT lm, lm, 0 FROM lms
       |  UNION
       |  SELECT bfs.landmark, e.dst, bfs.d + 1
       |  FROM bfs JOIN edges e ON bfs.id = e.src
       |  WHERE bfs.d < 64
       |)
       |SELECT landmark, id, CAST(min(d) AS BIGINT) AS dist
       |FROM bfs GROUP BY 1, 2""".stripMargin

  /** DuckDB oracle for connected components over the updated graph —
    * the reference's maintain-then-analyze workflow
    * (ref: tests/networkx/test_python.py:139-151 re-runs components
    * between update blocks).
    */
  val updatedCcSql: String =
    s"""WITH RECURSIVE $updatedUndirectedCte,
       |cc(id, lbl) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.dst, cc.lbl FROM cc JOIN edges e ON cc.id = e.src
       |)
       |SELECT id, min(lbl) AS component FROM cc GROUP BY id""".stripMargin
}
