package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.Tables

/** Batch edge insert/delete — the reference's "update" workload
  * (ref: tests/networkx/test_python.py:139-144: action (i,j) with i>=0
  * inserts, (~i,~j) deletes; tests/bagel/App.scala:261-271: duplicate
  * insert increments weight).
  *
  * The reference applies actions sequentially; the Spark-first equivalent is
  * set algebra with per-edge **last-action-wins** semantics, totally ordered
  * by action id. Final weight of an edge =
  *   (base weight, if the edge was never deleted) + #inserts after the last
  *   delete;  the edge exists iff that weight > 0.
  * This matches replaying the action log edge-by-edge. Physically: the
  * action log resolves to one row per touched pair (window + aggregate,
  * shuffling only action rows); for typical (≤ [[BroadcastableActions]])
  * logs that delta BROADCASTS and the base table is only scanned — the
  * STINGER idea expressed relationally, and the shape that survives a
  * 100 TB base where exchanging the edge set per update batch is the
  * bottleneck. Compaction-sized logs fall back to the co-shuffled
  * full-outer merge on (src, dst).
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
    */
  /** Action-count ceiling for the broadcast-delta apply: below it the
    * touched-pair table (≤ one row per action) broadcasts, and the base
    * edge table is only SCANNED — never exchanged or sorted. Above it
    * (bulk compaction-sized logs) the co-shuffled full-outer merge is the
    * right plan. ~16 bytes/pair ⇒ 64 MB at the ceiling.
    */
  val BroadcastableActions = 4000000L

  /** @param knownActionCount pass it when the caller already counted the
    *   (materialized) action log — e.g. the per-batch streaming maintainers
    *   and RmatTier — so gating the SHJ hint costs nothing. When absent,
    *   the actions are localCheckpoint'd BEFORE counting: the count gates
    *   the hint AND the checkpoint feeds the merge, so a non-materialized
    *   action lineage is never evaluated twice per apply.
    */
  def applyAnnotated(base: DataFrame, actions: DataFrame,
      knownActionCount: Option[Long] = None): DataFrame = {
    // |touched| ≤ |actions|: the action count gates the hash-join hint (an
    // SHJ build side must fit per-partition memory; compaction-sized logs
    // sort-merge instead)
    val (acts, n) = knownActionCount match {
      case Some(c) => (actions, c)
      case None =>
        val a = actions.localCheckpoint(true)
        (a, a.count())
    }
    applyAnnotatedPath(base, acts, broadcastDelta = false,
      shjHint = n <= BroadcastableActions)
  }

  /** [[applyAnnotated]] with the plan choice explicit — tests assert the
    * broadcast-delta path ≡ the full-outer merge. Measured at SCALE 24
    * (133M-edge base, 1M actions, local[32], receipts in SURVEY.md §7):
    * sort-merge 14.3 s, +SHUFFLE_HASH hint 10.4 s, broadcast-delta 37 s
    * (a local exchange is cheap; the delta's two base scans + two 1M-row
    * broadcasts are not), and with the base pre-partitioned on (src, dst)
    * the hash merge drops to 7.5 s / 133 k act/s — only the action delta
    * moves and nothing is sorted. The broadcast-delta path is the
    * network-bound-cluster shape where exchanging a 100 TB base at all is
    * the bottleneck; it stays available and equivalence-tested.
    */
  private[graft] def applyAnnotatedPath(base: DataFrame, actions: DataFrame,
      broadcastDelta: Boolean, shjHint: Boolean = false): DataFrame = {
    val byEdge = Window.partitionBy(col("src"), col("dst"))
    // per action row: the last delete's action_id over its edge (null if none)
    val annotated = actions.withColumn("last_del",
      max(when(col("is_del"), col("action_id"))).over(byEdge))
    // one row per touched pair: did any delete hit it, and how many
    // inserts survive the last delete (count of non-null whens)
    val perPair = annotated
      .groupBy(col("src"), col("dst"))
      .agg(max(col("is_del")).as("any_del"),
        count(when(!col("is_del") &&
          (col("last_del").isNull || col("action_id") > col("last_del")),
          lit(1))).as("n_ins"))
    val baseCols = base.select(col("src"), col("dst"), col("weight"))
    if (broadcastDelta) {
      // STINGER-shaped delta apply: the 100 TB-side base never moves —
      // survivors come from a broadcast anti join (map-only scan), touched
      // base weights from a broadcast inner join (same scan shape), and
      // only the ≤|actions|-row delta is ever exchanged
      val keys = perPair.select(col("src"), col("dst"))
      val untouched = baseCols.join(broadcast(keys), Seq("src", "dst"),
          "left_anti")
        .select(col("src"), col("dst"), col("weight"),
          col("weight").as("weight_old"))
      val baseTouched = baseCols.join(broadcast(keys), Seq("src", "dst"),
          "left_semi")
      val resolved = perPair.join(baseTouched, Seq("src", "dst"), "left")
        .select(col("src"), col("dst"),
          (when(col("any_del"), lit(0L))
            .otherwise(coalesce(col("weight"), lit(0L))) +
            col("n_ins")).as("weight"),
          coalesce(col("weight"), lit(0L)).as("weight_old"))
      untouched.union(resolved)
    } else {
      // SHUFFLE_HASH on the pair-delta side: full-outer SHJ streams the
      // base against a per-partition hash of the (small) delta instead of
      // SORTING the whole base; with a base already partitioned on
      // (src, dst) the base side doesn't even exchange
      val pp = if (shjHint) perPair.hint("SHUFFLE_HASH") else perPair
      baseCols
        .join(pp, Seq("src", "dst"), "full_outer")
        .select(col("src"), col("dst"),
          (when(coalesce(col("any_del"), lit(false)), lit(0L))
            .otherwise(coalesce(col("weight"), lit(0L))) +
            coalesce(col("n_ins"), lit(0L))).as("weight"),
          coalesce(col("weight"), lit(0L)).as("weight_old"))
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
