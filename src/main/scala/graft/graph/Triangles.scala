package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Checkpoints.freshStats
import graft.core.Tables

/** Triangle counting (SURVEY §2 G12, extension beyond the reference's four
  * workloads): edge-parallel triple-join over canonical (u < v) edges —
  * the standard distributed formulation; each join shuffles on one endpoint
  * and AQE handles hub skew.
  */
object Triangles {

  /** Count triangles in a canonical (u < v) undirected edge table. */
  def count(canonicalEdges: DataFrame): DataFrame = {
    val e = canonicalEdges.select(col("u"), col("v")).distinct()
    e.as("e1")
      .join(e.as("e2"), col("e1.v") === col("e2.u"))
      .join(e.as("e3"),
        col("e1.u") === col("e3.u") && col("e2.v") === col("e3.v"))
      .groupBy().agg(org.apache.spark.sql.functions.count(lit(1)).as("n_triangles"))
  }

  /** G12b: degree-ordered oriented triangle count — the scale path.
    *
    * Each undirected edge is oriented toward its (degree, id)-larger
    * endpoint, so every vertex's out-degree is bounded by its number of
    * *higher-degree* neighbors: a hub of degree d has out-degree O(√m)
    * instead of d, which bounds total wedge candidates at O(m^1.5) on
    * power-law graphs where the unoriented triple join explodes on hubs
    * (each triangle is then counted exactly once, at its
    * orientation-minimal vertex). The oriented edge list is materialized
    * once (every distributed triangle algorithm materializes its oriented
    * adjacency) and reused by the wedge join (shuffles on the wedge
    * center) and the closing join (shuffles on the edge pair).
    *
    * Same count as [[count]] — property-tested against it, and the driver
    * oracle counts the same graph unoriented in DuckDB.
    */
  def orientedCount(canonicalEdges: DataFrame): DataFrame =
    orientedTriangles(canonicalEdges)
      .groupBy().agg(org.apache.spark.sql.functions.count(lit(1)).as("n_triangles"))

  /** The oriented pipeline itself: one row (a, x, y) per triangle, counted
    * exactly once at its orientation-minimal vertex `a`.
    */
  def orientedTriangles(canonicalEdges: DataFrame): DataFrame = {
    // two consumers (the degree agg and the orientation join) — materialize
    // the canonical edge set once instead of recomputing its upstream twice
    val e = canonicalEdges.select(col("u"), col("v")).distinct()
      .localCheckpoint(true)
    val deg = e.select(col("u").as("id")).unionAll(e.select(col("v").as("id")))
      .groupBy(col("id"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("deg"))
    val ed = e.join(deg.select(col("id").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("id").as("v"), col("deg").as("dv")), "v")
    // total order on vertices: (degree, id) — ids break degree ties
    val fwd = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val o = ed.select(
      when(fwd, col("u")).otherwise(col("v")).as("a"),
      when(fwd, col("v")).otherwise(col("u")).as("b"),
      // the head's degree rides along (flat long, not a struct — the wedge
      // join's ordering predicate runs once per out-neighbor pair inside
      // the join's inner loop, and flat comparisons stay codegen'd) so the
      // wedge join can impose the total order without re-joining degrees
      when(fwd, col("dv")).otherwise(col("du")).as("bd"))
      .localCheckpoint(true)
    // wedges at center a over (deg,id)-ordered out-neighbors (x, y): the
    // triangle closes iff the oriented edge x→y exists — x precedes y in
    // the total order, so only that direction can be present
    val wedges = o.as("e1").join(o.as("e2"),
        col("e1.a") === col("e2.a") &&
          (col("e1.bd") < col("e2.bd") ||
            (col("e1.bd") === col("e2.bd") && col("e1.b") < col("e2.b"))))
      .select(col("e1.a").as("a"), col("e1.b").as("x"), col("e2.b").as("y"))
    // hash join (not sort-merge) against the edge list: the edge side is
    // the m-bounded build side while the wedge side is the O(m^1.5) probe
    // stream — sorting the wedge stream would dominate the whole count
    // (A/B at sf0.1: SMJ 17.3s, pre-aggregated wedges 34s, hash 11.7s).
    wedges.join(
        o.select(col("a").as("x"), col("b").as("y")).hint("shuffle_hash"),
        Seq("x", "y"))
      .select(col("a"), col("x"), col("y"))
  }

  /** G16: local clustering coefficient — cc(v) = 2·T(v) / (deg(v)·(deg(v)−1)),
    * the per-vertex closure density (Watts & Strogatz 1998), 0 where
    * deg < 2. T(v) comes from the same oriented O(m^1.5) pipeline as the
    * scalar count: each (a, x, y) triangle row is exploded to its three
    * corners and aggregated — the only additions over counting are one
    * bounded 3× expand and a |V|-row join with degrees. The single
    * division rounds to 6dp; no summation-order sensitivity (integer
    * counts, one double op).
    */
  def localClustering(canonicalEdges: DataFrame): DataFrame = {
    // e feeds three consumers (degrees here, plus orientedTriangles' two) —
    // materialize the derived edge set once instead of recomputing its
    // upstream (e.g. the co-occurrence self-join) per scan; the nested
    // checkpoint inside orientedTriangles then reads this one, not the raw
    // derivation
    val e = canonicalEdges.select(col("u"), col("v")).distinct()
      .localCheckpoint(true)
    localClusteringFrom(e, canonicalTriangleList(e))
  }

  /** Clustering coefficients from an already-enumerated triangle list
    * (each triangle's 6 canonical-pair columns name its 3 vertices, each
    * twice — `array_distinct` recovers the corner set per row).
    */
  def localClusteringFrom(e: DataFrame, triangleList: DataFrame): DataFrame = {
    val deg = e.select(col("u").as("id")).unionAll(e.select(col("v").as("id")))
      .groupBy(col("id"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("deg"))
    val tcount = triangleList
      .select(explode(array_distinct(array(col("u1"), col("v1"), col("u2"),
        col("v2"), col("u3"), col("v3")))).as("id"))
      .groupBy(col("id"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("t"))
    deg.join(tcount, Seq("id"), "left")
      .select(col("id"), col("deg"),
        coalesce(col("t"), lit(0L)).as("n_tri"),
        round(when(col("deg") >= 2,
          lit(2.0) * coalesce(col("t"), lit(0L)) /
            (col("deg") * (col("deg") - lit(1L))))
          .otherwise(lit(0.0)), 6).as("coeff"))
  }

  /** Oracle: unoriented per-corner triangle counts + degrees, identical
    * closure-density arithmetic.
    */
  val partClusteringSql: String =
    """WITH pe AS MATERIALIZED (
      |  SELECT DISTINCT a.l_partkey::BIGINT AS u, b.l_partkey::BIGINT AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |),
      |tri AS MATERIALIZED (
      |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |  FROM pe e1
      |  JOIN pe e2 ON e1.v = e2.u
      |  JOIN pe e3 ON e1.u = e3.u AND e2.v = e3.v
      |),
      |corners AS (
      |  SELECT id, count(*) AS t FROM (
      |    SELECT a AS id FROM tri UNION ALL
      |    SELECT b AS id FROM tri UNION ALL
      |    SELECT c AS id FROM tri) GROUP BY 1
      |),
      |deg AS (
      |  SELECT id, count(*) AS deg FROM (
      |    SELECT u AS id FROM pe UNION ALL SELECT v AS id FROM pe) GROUP BY 1
      |)
      |SELECT d.id, d.deg, coalesce(c.t, 0)::BIGINT AS n_tri,
      |  round(CASE WHEN d.deg >= 2
      |    THEN 2.0 * coalesce(c.t, 0) / (d.deg * (d.deg - 1))
      |    ELSE 0 END, 6) AS coeff
      |FROM deg d LEFT JOIN corners c ON d.id = c.id""".stripMargin

  /** G18: k-truss — the maximal subgraph where every edge closes ≥ k−2
    * triangles within the subgraph (Cohen 2008), the edge-level analog of
    * k-core (vertex degree → edge triangle-support) and the standard
    * cohesive-subgraph primitive sitting between cores and cliques.
    *
    * Peel shape: triangles are enumerated ONCE via the oriented O(m^1.5)
    * pipeline, then every round works on the shrinking triangle LIST —
    * one map-side-combined support aggregate (each triangle row explodes
    * to its three canonical edges) and three semi-joins filtering the
    * list to surviving edges. Re-running the wedge join per round would
    * pay the enumeration O(m^1.5) each time; filtering the list pays
    * O(|T_r|), and a subgraph's triangles are always a subset of the
    * graph's. Support-passing pairs ARE the next edge set (every pair in
    * the list is an edge; edges in no triangle have support 0 < k−2 and
    * drop in round 1). Convergence = edge count unchanged, a free scalar
    * on the just-checkpointed round; a peel still dropping edges after
    * `maxIter` rounds throws [[NotConverged]]. All joins shuffle on the
    * canonical (u, v) pair key — no broadcast of anything corpus-sized.
    *
    * Returns (u, v, support) of the truss with each edge's within-truss
    * triangle count — at the fixpoint one extra support pass over the
    * final list, identical on the oracle side.
    */
  def kTruss(canonicalEdges: DataFrame, k: Int = 5,
      maxIter: Int = 30): DataFrame =
    kTrussFrom(canonicalTriangleList(canonicalEdges), k, maxIter)

  /** The oriented triangle list with each triangle's three CANONICAL
    * (u < v) edges as columns — the shape the truss peel consumes.
    */
  def canonicalTriangleList(canonicalEdges: DataFrame): DataFrame =
    orientedTriangles(canonicalEdges).select(
      least(col("a"), col("x")).as("u1"), greatest(col("a"), col("x")).as("v1"),
      least(col("a"), col("y")).as("u2"), greatest(col("a"), col("y")).as("v2"),
      least(col("x"), col("y")).as("u3"), greatest(col("x"), col("y")).as("v3"))

  /** Truss peel over an already-enumerated triangle list (see [[kTruss]]
    * for the operator contract — this entry point lets the memoized part
    * graph list be shared with the count/clustering consumers).
    */
  /** Live pair sets above this never take the serial local tail (the
    * single task's hash maps would not fit executor memory) — the
    * distributed decrement rounds continue instead. ~8M pairs ≈ 1.5 GB
    * of boxed map entries, comfortable under the bench/driver heaps.
    */
  val LocalTailMaxPairs = 8000000L

  /** @param wedgeThreshold dropped-set size at or below which the peel
    *   finishes with the serial local tail (gated by
    *   [[LocalTailMaxPairs]]); 50000 chosen by the r11 threshold sweep
    *   (PLANS.md, graph_ktruss serial tail; sf0.1: 5.0-5.8 s vs 6.7-6.9
    *   at 5000 vs 10.1-10.9 never-local; ≥200k is jitter-indistinguishable
    *   from 50k). 0 disables the tail.
    */
  def kTrussFrom(triangleList: DataFrame, k: Int = 5,
      maxIter: Int = 30, oracleRounds: Option[Int] = None,
      wedgeThreshold: Long = 50000L): DataFrame = {
    def pairs(t: DataFrame): DataFrame = t.select(explode(array(
        struct(col("u1").as("u"), col("v1").as("v")),
        struct(col("u2").as("u"), col("v2").as("v")),
        struct(col("u3").as("u"), col("v3").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
    var tri = triangleList.localCheckpoint(true)
    // full support computed ONCE; every later round maintains it by
    // DECREMENT — per-round work scales with the triangles removed that
    // round, not the surviving list (re-aggregating the full list per
    // round tripled the suite cost of this query at sf0.1)
    var sup = pairs(tri)
      .groupBy(col("u"), col("v"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("support"))
      .localCheckpoint(true)
    var converged = false
    var liveN = -1L
    var nDropped = -1L
    var i = 0
    while (!converged && i < maxIter) {
      // lazy: a map-only filter over the in-memory sup checkpoint — its
      // consumers re-run the filter rather than paying one more
      // materialization per round (the count below is the only action)
      val dropped = sup.filter(col("support") < k - 2)
        .select(col("u"), col("v"))
      nDropped = dropped.count()
      if (nDropped == 0) converged = true
      else if (nDropped <= wedgeThreshold && {
          // the live set only shrinks — one count decides the gate
          if (liveN < 0) liveN = sup.count(); liveN <= LocalTailMaxPairs
        }) {
        // LOCAL TAIL (r11, replacing the r9 wedge-probe rounds): once the
        // dropped set is thin AND the live pair set fits one task, the
        // remaining cascade is latency-bound, not throughput-bound — the
        // distributed rounds were paying ~1 s of barrier + scan per round
        // to remove a few hundred edges (receipts: PLANS.md, graph_ktruss
        // serial tail — every distributed tail strategy A/B'd flat at
        // 10.5-13 s however the tail was probed). So finish the peel
        // SERIALLY in a single mapPartitions task over the coalesced
        // support table: hash-map adjacency + the textbook queue cascade,
        // processed LEVEL-synchronously so the observed round depth (for the
        // oracleRounds guard) is identical to the distributed schedule's.
        // Exactness: any removal order reaches the unique k-truss, and a
        // dying triangle decrements each surviving edge exactly once
        // (when its FIRST dropped edge is processed, the others are still
        // live) — the same once-only semantics the distributed rounds got
        // from the marked/removedTri dedup. At 100 TB the gate simply
        // never fires while the live set exceeds LocalTailMaxPairs and
        // the decrement-maintained list rounds continue — the same
        // size-gated local-phase trade AQE's coalesced readers make.
        val spark = sup.sparkSession
        import spark.implicits._
        val acc = spark.sparkContext.longAccumulator("ktrussLocalLevels")
        val kk = k
        val res = sup.coalesce(1).mapPartitions { it =>
          val thresh = (kk - 2).toLong
          val supM = new java.util.HashMap[(Long, Long), Long]()
          val adj =
            new java.util.HashMap[Long, java.util.HashSet[java.lang.Long]]()
          def nb(a: Long): java.util.HashSet[java.lang.Long] =
            adj.computeIfAbsent(a,
              _ => new java.util.HashSet[java.lang.Long]())
          var level = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
          while (it.hasNext) {
            val r = it.next()
            val (u, v, s) = (r.getLong(0), r.getLong(1), r.getLong(2))
            supM.put((u, v), s)
            nb(u).add(v); nb(v).add(u)
            if (s < thresh) level += ((u, v))
          }
          var levels = 0L
          while (level.nonEmpty) {
            levels += 1
            val next = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
            for ((u, v) <- level) {
              supM.remove((u, v))
              nb(u).remove(v); nb(v).remove(u)
              // live triangles {u,v,w}: w adjacent to both survivors —
              // iterate the smaller neighborhood
              val (a, b) = if (nb(u).size <= nb(v).size) (u, v) else (v, u)
              val itW = nb(a).iterator()
              while (itW.hasNext) {
                val w = itW.next().longValue()
                if (nb(b).contains(w)) {
                  // the dying triangle {u,v,w} decrements its two
                  // surviving edges once each (both live right now)
                  def dec1(x: Long): Unit = {
                    val key = if (x < w) (x, w) else (w, x)
                    val s1 = supM.get(key) - 1L
                    supM.put(key, s1)
                    // enqueue exactly on the ≥→< threshold crossing
                    if (s1 == thresh - 1) next += key
                  }
                  dec1(u); dec1(v)
                }
              }
            }
            level = next
          }
          acc.add(levels)
          val out =
            scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
          supM.forEach((key, s) => out += ((key._1, key._2, s)))
          out.iterator
        }.toDF("u", "v", "support").localCheckpoint(true)
        sup = res
        // the level count IS the synchronous round depth — fold it into
        // i so the oracleRounds guard keeps its exact meaning
        i += acc.value.toInt - 1
        converged = true
      }
      else {
        // dropped can be corpus-sized in the first rounds — size-gate
        // the broadcast on the free checkpoint count (checkpointed
        // frames carry no Catalyst stats; the static planner would
        // SMJ them)
        val d = if (nDropped <= 2000000L) broadcast(dropped) else dropped
        // one pass over the list marks triangles losing any edge; the
        // marked rows drive the decrements, the rest are the next list
        val marked = freshStats(tri
          .join(d.select(col("u").as("u1"), col("v").as("v1"),
            lit(1).as("m1")), Seq("u1", "v1"), "left")
          .join(d.select(col("u").as("u2"), col("v").as("v2"),
            lit(2).as("m2")), Seq("u2", "v2"), "left")
          .join(d.select(col("u").as("u3"), col("v").as("v3"),
            lit(3).as("m3")), Seq("u3", "v3"), "left")
          .withColumn("m",
            coalesce(col("m1"), col("m2"), col("m3")).isNotNull)
          .select(col("u1"), col("v1"), col("u2"), col("v2"),
            col("u3"), col("v3"), col("m"))
          // lazy (r11): both consumers (this round's dec via the sup
          // chain, next round's surviving tri) are materialized by
          // the NEXT dropped-count job — one fewer barrier per round;
          // nothing broadcasts marked, so the r8 lazy-bc trap can't fire
          .localCheckpoint(eager = false))
        val dec = pairs(marked.filter(col("m")))
          .groupBy(col("u"), col("v"))
          .agg(org.apache.spark.sql.functions.count(lit(1)).as("dec"))
        // lazy: the surviving-list projection of the marked checkpoint
        // materializes inside the NEXT round's marked job instead of
        // paying its own barrier per round
        tri = freshStats(marked.filter(!col("m"))
          .select(col("u1"), col("v1"), col("u2"), col("v2"),
            col("u3"), col("v3"))
          .localCheckpoint(eager = false))
        // freshStats on every round-state checkpoint (r11): a lazy
        // localCheckpoint INHERITS the pre-checkpoint plan's sizeInBytes,
        // and each round joins descendants of the previous round's state
        // — the stats digits compound and the driver's BigInteger stats
        // walk grew to 1-2.4 s/round by the peel tail (the S7 pathology;
        // receipts: PLANS.md, graph_ktruss serial tail)
        sup = freshStats(sup.filter(col("support") >= k - 2)
          .join(dec, Seq("u", "v"), "left")
          .select(col("u"), col("v"),
            (col("support") - coalesce(col("dec"), lit(0L))).as("support"))
          .localCheckpoint(eager = false))
      }
      i += 1
    }
    if (!converged) throw new NotConverged("KTruss", i, nDropped)
    // an SF change that outgrows the unrolled oracle must fail loudly, not
    // as a bare hash mismatch: the Spark peel is exact at any depth, the
    // truncated oracle is not
    oracleRounds.foreach { r =>
      if (i > r) throw new IllegalStateException(
        s"k-truss peel converged in $i rounds but the unrolled SQL oracle " +
          s"only has $r: raise `rounds` in Triangles.kTrussSql for this SF")
    }
    sup.filter(col("support") >= k - 2)
  }

  /** Oracle: `rounds` unrolled peel steps over the unoriented triangle
    * list (idempotent past the fixpoint — peeling a k-truss is the
    * identity; rounds must be ≥ the fixpoint depth at the checked SF,
    * measured 4 at sf0.01 / 9 at sf0.1 for k=5).
    */
  /** Part co-occurrence canonical pair CTE (ends in `pe(u, v)`) — the
    * default graph the truss oracle peels.
    */
  val partPeCte: String =
    """pe AS MATERIALIZED (
      |  SELECT DISTINCT a.l_partkey::BIGINT AS u, b.l_partkey::BIGINT AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |)""".stripMargin

  /** @param peCte CTE chain ending in `pe(u, v)` — canonical (u < v)
    *   pairs; swap in another graph's chain to compose the truss oracle
    *   over it (X23 uses the updated user-pair set).
    */
  def kTrussSql(k: Int = 5, rounds: Int = 12,
      peCte: String = partPeCte): String = {
    def pairs(t: String): String =
      s"""SELECT a AS u, b AS v FROM $t UNION ALL
         |    SELECT a, c FROM $t UNION ALL
         |    SELECT b, c FROM $t""".stripMargin
    val steps = (1 to rounds).map { r =>
      s"""e$r AS MATERIALIZED (
         |  SELECT u, v FROM (${pairs(s"tri${r - 1}")})
         |  GROUP BY 1, 2 HAVING count(*) >= ${k - 2}),
         |tri$r AS MATERIALIZED (
         |  SELECT t.* FROM tri${r - 1} t
         |  WHERE EXISTS (SELECT 1 FROM e$r WHERE u = t.a AND v = t.b)
         |    AND EXISTS (SELECT 1 FROM e$r WHERE u = t.a AND v = t.c)
         |    AND EXISTS (SELECT 1 FROM e$r WHERE u = t.b AND v = t.c))""".stripMargin
    }.mkString(",\n")
    s"""WITH $peCte,
       |tri0 AS MATERIALIZED (
       |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
       |  FROM pe e1 JOIN pe e2 ON e1.v = e2.u
       |  JOIN pe e3 ON e1.u = e3.u AND e2.v = e3.v
       |),
       |$steps
       |SELECT u, v, count(*) AS support
       |FROM (${pairs(s"tri$rounds")})
       |GROUP BY 1, 2 HAVING count(*) >= ${k - 2}""".stripMargin
  }

  /** Memoized per (session, dir): the part co-occurrence canonical edge
    * set and its oriented triangle list, shared by the three driver
    * queries over this graph (`graph_triangles_scale`,
    * `graph_clustering_coeff`, `graph_ktruss`) — the O(m^1.5) enumeration
    * runs once per session and the FIRST consumer pays it inside its
    * timed region (Bench's headline order makes that the count; trial 2's
    * fresh session re-earns it, so a memo hit can never report as the
    * pipeline's runtime). Staleness contract as `Dedup.minhashLshCached`:
    * the cache key carries a fingerprint of the file listing under `dir`
    * (path+size+mtime), so a rewrite of the data invalidates the entry
    * instead of serving a stale snapshot; dead-session entries are swept
    * on access.
    */
  private val partTriCache = scala.collection.concurrent.TrieMap[
    ((SparkSession, String), Long), (DataFrame, DataFrame)]()

  def partTriCached(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    graft.core.SessionCaches.sweep(partTriCache)(_._1._1)
    graft.core.SessionCaches.freshOrUpdate(partTriCache, (spark, dir), dir) {
      val e = partCoOrderEdges(spark, dir)
        .select(col("u"), col("v")).distinct().localCheckpoint(true)
      (e, canonicalTriangleList(e).localCheckpoint(true))
    }
  }

  /** Memoized per (session, dir): the triangle list of the UPDATED
    * user-pair graph ([[EdgeUpdates.updatedUserPairs]]) — the graph the
    * X19/X20/X23 stream family maintains. The batch consumer
    * (`graph_ktruss_updated`) pays the O(m^1.5) enumeration when the memo
    * is cold; when the X23 stream drained FIRST in the session it
    * PUBLISHES its stream-maintained list here instead
    * ([[publishUpdatedUserTriangles]]) and the batch query skips the
    * enumeration entirely — the STINGER one-graph-many-algorithms model:
    * a maintained index serving later batch analytics. Staleness and
    * sweep contract as [[partTriCached]].
    */
  private val userTriCache = scala.collection.concurrent.TrieMap[
    ((SparkSession, String), Long), DataFrame]()

  def updatedUserTriangles(spark: SparkSession, dir: String): DataFrame = {
    graft.core.SessionCaches.sweep(userTriCache)(_._1._1)
    graft.core.SessionCaches.freshOrUpdate(userTriCache, (spark, dir), dir) {
      val pairs = EdgeUpdates.updatedUserPairs(spark, dir)
        .localCheckpoint(true)
      canonicalTriangleList(
        pairs.select(col("src").as("u"), col("dst").as("v")))
        .localCheckpoint(true)
    }
  }

  /** X23's drain hands its stream-maintained list over for batch reuse —
    * a no-op when the batch side already enumerated (first-in wins; both
    * sides hold the same exact triangle set, X19's consistent-snapshot
    * argument).
    */
  def publishUpdatedUserTriangles(spark: SparkSession, dir: String,
      list: DataFrame): Unit = {
    graft.core.SessionCaches.sweep(userTriCache)(_._1._1)
    graft.core.SessionCaches.freshOrUpdate(
      userTriCache, (spark, dir), dir)(list): Unit
  }

  /** `graph_ktruss_updated` (G18b): the truss peel over the updated
    * user-pair graph — the batch twin of X23's drain, sharing one
    * session-memoized triangle list with it in either order.
    */
  def updatedKTruss(spark: SparkSession, dir: String): DataFrame =
    kTrussFrom(updatedUserTriangles(spark, dir), k = 4,
      oracleRounds = Some(8))

  /** `graph_triangles_scale`: count over the memoized list. */
  def partTrianglesScale(spark: SparkSession, dir: String): DataFrame =
    partTriCached(spark, dir)._2.groupBy()
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n_triangles"))

  /** `graph_clustering_coeff` over the memoized edges + list. */
  def partClustering(spark: SparkSession, dir: String): DataFrame = {
    val (e, tri) = partTriCached(spark, dir)
    localClusteringFrom(e, tri)
  }

  /** `graph_ktruss` over the memoized list; the oracle-depth guard matches
    * [[kTrussSql]]'s default unroll (driver hash-checks the pair).
    */
  def partKTruss(spark: SparkSession, dir: String): DataFrame =
    kTrussFrom(partTriCached(spark, dir)._2, oracleRounds = Some(12))

  /** Part co-occurrence graph: parts are adjacent iff some order contains
    * both — the market-basket projection of `lineitem`. Unlike the nation
    * fixture, this graph scales with SF (sf0.001/0.01/0.1 ≈ 9k/116k/1.2M
    * distinct edges), so its triangle count is a scale-bearing bench row.
    */
  def partCoOrderEdges(spark: SparkSession, dir: String): DataFrame = {
    val op = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    op.as("a").join(op.as("b"),
      col("a.l_orderkey") === col("b.l_orderkey") &&
        col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").cast("long").as("u"),
        col("b.l_partkey").cast("long").as("v"))
  }

  /** Oracle counts the same graph with the unoriented triple join —
    * orientation is an implementation strategy, not a semantic change.
    */
  val partTrianglesSql: String =
    """WITH pe AS (
      |  SELECT DISTINCT a.l_partkey::BIGINT AS u, b.l_partkey::BIGINT AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |)
      |SELECT count(*) AS n_triangles
      |FROM pe e1
      |JOIN pe e2 ON e1.v = e2.u
      |JOIN pe e3 ON e1.u = e3.u AND e2.v = e3.v""".stripMargin

  /** Nation co-region graph: nations are adjacent iff they share a region —
    * five 5-cliques at any SF, so 5 * C(5,3) = 50 triangles.
    */
  def nationEdges(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.nation(spark, dir)
    n.as("a").join(n.as("b"),
      col("a.n_regionkey") === col("b.n_regionkey") &&
        col("a.n_nationkey") < col("b.n_nationkey"))
      .select(col("a.n_nationkey").cast("long").as("u"),
        col("b.n_nationkey").cast("long").as("v"))
  }

  val nationTrianglesSql: String =
    """WITH ne AS (
      |  SELECT DISTINCT a.n_nationkey::BIGINT AS u, b.n_nationkey::BIGINT AS v
      |  FROM nation a JOIN nation b
      |    ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey
      |)
      |SELECT count(*) AS n_triangles
      |FROM ne e1
      |JOIN ne e2 ON e1.v = e2.u
      |JOIN ne e3 ON e1.u = e3.u AND e2.v = e3.v""".stripMargin
}
