package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.Checkpoints.freshStats

/** Multi-contraction (agglomerative) community clustering — the
  * reference's second community algorithm beside connected components
  * (ref: tests/stinger/src/alg/static_multicontract_clustering.c:260,
  * `static_multi_contract_clustering`: per round, score every edge, each
  * vertex matches its best-scoring neighbor, low-outlier matches are
  * filtered, match chains are climbed to roots, and matched edges are
  * CONTRACTED — intra-cluster weight folds into the supernode's vertex
  * weight, cross-cluster edges re-aggregate; the classic heavy-edge
  * matching + coarsening building block of METIS/Louvain-family methods).
  *
  * Same WHAT, re-derived deterministic semantics (the reference's OpenMP
  * loops are racy on ties and its edge-iteration order is storage-
  * dependent):
  *
  *  - score(u→v) = w(u,v)/(vol/2) − 2·wt(u)·wt(v)/vol² — the reference's
  *    modularity-gain score. Ordering and sign are INVARIANT under the
  *    positive rescale S = score·vol²/2 = w·vol − wt(u)·wt(v), an exact
  *    BIGINT — every comparison (argmax, S>0, the s0 tie rule) is
  *    integer-exact in both engines; floats appear only in the one
  *    threshold constant.
  *  - best match m1(u) = argmax_{S>0} (S desc, v asc) — the id tie-break
  *    replaces the reference's storage-order "first max wins".
  *  - threshold: mean − 1.5·stddev over all directed-edge scores with the
  *    reference's nv denominator (static_multicontract_clustering.c:
  *    filter_scores). When the variance term goes NEGATIVE (degenerate —
  *    the common case early on, since the denominator is |V| while the
  *    sum ranges over edges), the reference's sqrt yields NaN and its C
  *    `score < NaN` comparisons are all FALSE, disabling the filter; SQL
  *    NaN ordering would flip that, so the threshold is explicitly
  *    conditional: no filtering when variance < 0. The surviving float
  *    comparison (S_best < thr·vol²/2) is computed from exact integer
  *    sums by the IDENTICAL expression tree in Spark and DuckDB, so both
  *    engines land on the same double.
  *  - the reference's "remove my match's own match when it matches on a
  *    lower-or-equal-scoring edge" rule (filter_scores else-branch) makes
  *    surviving chains STRICTLY score-increasing — so the match forest is
  *    acyclic by construction (mutual equal-score pairs both unmatch) and
  *    the tree_climb resolves with bounded pointer-jumping.
  *
  * Spark-first shape: per round the |2E|-row scored view joins two
  * broadcast |V|-row weight tables, one map-side-combined argmax
  * aggregate, one exact decimal stats aggregate, |V|-bounded match
  * fix-up joins, `jumps` pointer-jump self-joins (lazy checkpoints,
  * chain depth 1, materialized by the acyclicity-guard count), and the
  * contraction re-aggregation — edges shrink geometrically (sf0.01:
  * 1600 → 194 → 8 → 2 supernodes in three rounds). At billion-vertex
  * scale disable the vertex broadcasts and the joins fall back to the
  * pre-partitioned vertex key, as everywhere here.
  */
object MultiContract {
  /** Largest volume whose score rescale stays exact in BIGINT:
    * |S| ≤ vol², so vol must stay under √Long.Max. Past it (≈3.0e9 total
    * edge weight — a ~100 TB corpus graph), [[apply]] auto-switches the S
    * column and the wt products to DECIMAL(38,0): every ORDERING
    * comparison (argmax, S>0, the s0 tie rule) stays integer-exact
    * (|S| ≤ vol² < 8.6e37 fits DECIMAL(38,0) for any BIGINT volume) at
    * ~2× the agg cost. Only the threshold STATISTICS change
    * representation on the scale path: Σ S² reaches ~vol⁴ ≈ 1e75 — no
    * fixed 128-bit type holds it (DuckDB's HUGEINT included, so no SQL
    * oracle can exist there either) — so s1/s2 accumulate in double,
    * which is faithful to the reference (its score sums are racy OpenMP
    * doubles: static_multicontract_clustering.c filter_scores).
    */
  val ExactVolumeBound = 3037000499L

  /** (id, community) for every original vertex: contraction rounds run
    * until the match fixpoint (a round in which no vertex matches
    * outside its own root — the reference's run-to-stability outer loop,
    * static_multicontract_clustering.c:260) with `rounds` as a loud CAP.
    * Rounds past the fixpoint are idempotent, so a fixed-depth oracle
    * unrolled ≥ the productive depth hashes identically to the
    * early-stopped result.
    *
    * @param rounds convergence cap: if the fixpoint is not detected
    *   within `rounds` rounds the operator throws (naming the cap)
    *   rather than return a partial contraction.
    * @param jumps pointer-jump count for the match-chain climb: resolves
    *   chains up to 2^jumps (the guard fails loudly if any chain is
    *   longer, telling the caller to raise it — chains are strictly
    *   score-increasing so real graphs stay shallow).
    * @param exactBound test seam for the DECIMAL path: production always
    *   passes [[ExactVolumeBound]]; the equivalence spec forces it low to
    *   run the scale path on a gate-sized graph.
    * @param oracleRounds assert the productive contraction depth fits the
    *   unrolled oracle (the [[graft.graph.Coreness.apply]] contract):
    *   idempotence makes a deeper unroll hash identically, but a
    *   shallower one must fail loudly, not as a bare hash mismatch.
    */
  def apply(g: Graph, rounds: Int = 4, jumps: Int = 4,
      broadcastVertices: Boolean = true,
      exactBound: Long = ExactVolumeBound,
      oracleRounds: Option[Int] = None,
      modularityStop: Boolean = false): DataFrame = {
    def bc(df: DataFrame) = if (broadcastVertices) broadcast(df) else df
    val spark = g.edges.sparkSession
    import spark.implicits._
    // weight-summed symmetric view (PageRank.unrolledWeightedSql's
    // wedges), shared with weighted PageRank
    var sym = g.cachedWeightedUndirected.select(col("src").as("u"),
      col("dst").as("v"), col("weight").as("w"))
    val vol = sym.agg(coalesce(sum(col("w")), lit(0L))).head().getLong(0)
    if (vol == 0L)
      return Seq.empty[(Long, Long)].toDF("id", "community")
    val exact = vol < exactBound
    // DECIMAL(19,0) factors multiply into DECIMAL(38,0) products — wide
    // enough for |S| ≤ vol² < 8.6e37 at any BIGINT volume
    val d19 = DecimalType(19, 0)
    val zeroS =
      if (exact) lit(0L) else lit(0L).cast(d19) * lit(0L).cast(d19)
    var map = sym.select(col("u").as("id")).distinct()
      .select(col("id"), col("id").as("c")).localCheckpoint(true)
    val n0 = map.count()
    var wt = Seq.empty[(Long, Long)].toDF("c", "wt").localCheckpoint(true)
    var converged = false
    var round = 0
    // modularity profile (r12 verdict item #8): vol²-rescaled modularity
    // of the CURRENT labeling on the ORIGINAL symmetrized view —
    // Q·vol² = vol·Σ_{c(u)=c(v)} w(u,v) − Σ_c vol_c², every term exact in
    // DECIMAL(38,0) (Σ vol_c² ≤ vol² < 8.6e37 for any BIGINT volume), so
    // the gain ≤ 0 comparison is integer-exact in both engines
    val sym0 = sym
    lazy val deg0 = sym0.groupBy(col("u")).agg(sum(col("w")).as("deg"))
      .localCheckpoint(true)
    val d38 = DecimalType(38, 0)
    def qOf(m: DataFrame): java.math.BigDecimal = {
      // ONE scalar job for both modularity terms (they were two separate
      // head() round-trips per round): the intra-cluster weight sum and
      // the Σ vol_c² term are independent subtrees, so a cross join of
      // the two 1-row aggregates collects both in a single job
      val winDf = sym0
        .join(bc(m.select(col("id").as("u"), col("c").as("cu"))), Seq("u"))
        .join(bc(m.select(col("id").as("v"), col("c").as("cv"))), Seq("v"))
        .filter(col("cu") === col("cv"))
        .agg(coalesce(sum(col("w").cast(d38)), lit(0).cast(d38)).as("win"))
      val dsqDf = deg0
        .join(bc(m.select(col("id").as("u"), col("c"))), Seq("u"))
        .groupBy(col("c")).agg(sum(col("deg")).as("volc"))
        .agg(coalesce(sum(col("volc").cast(d19) * col("volc").cast(d19)),
          lit(0).cast(d38)).as("dsq"))
      val r = winDf.crossJoin(dsqDf).head()
      r.getDecimal(0).multiply(java.math.BigDecimal.valueOf(vol))
        .subtract(r.getDecimal(1))
    }
    var prevQ = if (modularityStop) Some(qOf(map)) else None
    var prevMap = map
    while (!converged && round < rounds) {
      round += 1
      val sExpr =
        if (exact)
          col("w") * lit(vol) -
            coalesce(col("wtu"), lit(0L)) * coalesce(col("wtv"), lit(0L))
        else
          col("w").cast(d19) * lit(vol).cast(d19) -
            coalesce(col("wtu"), lit(0L)).cast(d19) *
              coalesce(col("wtv"), lit(0L)).cast(d19)
      val scored = sym
        .join(bc(wt.toDF("u", "wtu")), Seq("u"), "left")
        .join(bc(wt.toDF("v", "wtv")), Seq("v"), "left")
        .select(col("u"), col("v"), col("w"), sExpr.as("S"))
        .localCheckpoint(eager = false)
      val best = scored.filter(col("S") > 0)
        .groupBy(col("u").as("c"))
        .agg(max(struct(col("S"), (-col("v")).as("nv"))).as("b"))
        .select(col("c"), (-col("b.nv")).as("m1"), col("b.S").as("sbest"))
      // exact path: exact integer sums — the only floats below derive
      // from them via the same expression tree the oracle SQL uses.
      // scale path: double accumulation (see ExactVolumeBound scaladoc).
      val (s1, s2) =
        if (exact) {
          val st = scored.agg(
            sum(col("S").cast(DecimalType(38, 0))).as("s1"),
            sum(col("S").cast(DecimalType(19, 0)) *
              col("S").cast(DecimalType(19, 0))).as("s2")).head()
          // scored is never empty here (vol > 0), so a null sum is a
          // silent DECIMAL(38,0) overflow — Spark nulls where DuckDB's
          // HUGEINT errors loudly, i.e. engine divergence (r10 ADVICE).
          // Σ S² can overflow with just two near-bound terms even though
          // each term fits.
          if (st.isNullAt(0) || st.isNullAt(1)) throw new IllegalStateException(
            s"MultiContract: exact threshold stats overflowed DECIMAL(38,0) " +
              s"at volume $vol (round $round) — the corpus is too close to " +
              "ExactVolumeBound for exact Σ S²; lower exactBound to take " +
              "the DECIMAL scale path (double-accumulated threshold)")
          (st.getDecimal(0).doubleValue, st.getDecimal(1).doubleValue)
        } else {
          val st = scored.agg(
            sum(col("S").cast("double")).as("s1"),
            sum(col("S").cast("double") * col("S").cast("double")).as("s2"))
            .head()
          (st.getDouble(0), st.getDouble(1))
        }
      val mean = s1 / n0.toDouble
      val varv = s2 / n0.toDouble - mean * mean
      val thrOpt = if (varv >= 0) Some(mean - 1.5 * math.sqrt(varv)) else None
      val nodes = map.select(col("c")).distinct()
      val mf = nodes.join(best, Seq("c"), "left")
        .select(col("c"),
          when(col("sbest").isNull, col("c"))
            .when(thrOpt.map(t => col("sbest").cast("double") < lit(t))
              .getOrElse(lit(false)), col("c"))
            .otherwise(col("m1")).as("mf"),
          coalesce(col("sbest"), zeroS).as("s0"))
        .localCheckpoint(eager = false)
      // reference filter_scores else-branch: a match target whose own
      // best score is <= a pointer's loses its match (becomes a root)
      val tgt = mf.select(col("c"), col("s0"))
        .join(mf.select(col("mf").as("c"), col("c").as("yc"),
          col("s0").as("ys0")), Seq("c"))
        .filter(col("yc") =!= col("c") && col("s0") <= col("ys0"))
        .select(col("c")).distinct()
      // freshStats on every jump-chain checkpoint: a localCheckpoint
      // INHERITS the pre-checkpoint plan's sizeInBytes, and each pointer
      // jump JOINS TWO DESCENDANTS of the same state table — the S7
      // stats-squaring pathology (Checkpoints.freshStats scaladoc); the
      // un-reset chain measured minutes of driver BigInteger time at
      // sf0.01 where the data itself is milliseconds
      var m3 = freshStats(
        mf.join(bc(tgt.withColumn("unm", lit(true))), Seq("c"), "left")
          .select(col("c"),
            when(col("unm"), col("c")).otherwise(col("mf")).as("m"))
          .localCheckpoint(eager = false))
      for (_ <- 1 to jumps)
        m3 = freshStats(m3.join(m3.toDF("m", "m2"), Seq("m"))
          .select(col("c"), col("m2").as("m"))
          .localCheckpoint(eager = false))
      // acyclicity/convergence guard; its job also materializes the whole
      // lazy m3 jump chain before m3's broadcast consumers build. Fused
      // with the fixpoint count (two count() round-trips per round → one
      // aggregate): m3 is a function of c, so the self-join carries
      // exactly one (c, m, mm) row per m3 row and both counts read off it
      val chk = m3.join(m3.toDF("m", "mm"), Seq("m"))
        .agg(
          sum(when(col("mm") =!= col("m"), lit(1L)).otherwise(lit(0L))),
          sum(when(col("m") =!= col("c"), lit(1L)).otherwise(lit(0L))))
        .head()
      val unresolved = if (chk.isNullAt(0)) 0L else chk.getLong(0)
      if (unresolved > 0) throw new IllegalStateException(
        s"MultiContract: $unresolved match chains longer than 2^$jumps — " +
          "raise `jumps` (and the oracle unroll) for this graph")
      // fixpoint = a round in which no vertex matched outside its own
      // root: map/wt/sym would pass through unchanged, so stop — the
      // reference's run-to-stability outer loop, with the early stop
      // provably identical to running the remaining capped rounds
      val matchedN = if (chk.isNullAt(1)) 0L else chk.getLong(1)
      if (matchedN == 0L) converged = true
      else {
        map = freshStats(map.join(bc(m3), Seq("c"))
          .select(col("id"), col("m").as("c"))
          .localCheckpoint(eager = false))
        if (modularityStop) {
          // stop at the first non-improving round and keep the PREVIOUS
          // labeling — the prefix rule the unrolled oracle replays
          val q = qOf(map)
          if (q.compareTo(prevQ.get) <= 0) {
            map = prevMap
            converged = true
          } else {
            prevQ = Some(q)
            prevMap = map
          }
        }
        if (converged) { /* skip the contraction updates below */ } else {
        // checkpointed: consumed by BOTH the wt update (materializes it)
        // and the sym re-aggregation — un-checkpointed, the second
        // consumer recomputed the scored scan + two broadcast joins
        val mapped = scored.select(col("u"), col("v"), col("w"))
          .join(bc(m3.toDF("u", "mu")), Seq("u"))
          .join(bc(m3.toDF("v", "mv")), Seq("v"))
          .localCheckpoint(eager = false)
        // intra-cluster weight folds into the supernode weight (both
        // directions, matching the reference's per-directed-edge increment)
        wt = wt.join(bc(m3), Seq("c"))
          .select(col("m").as("c"), col("wt"))
          .union(mapped.filter(col("mu") === col("mv"))
            .select(col("mu").as("c"), col("w").as("wt")))
          .groupBy(col("c")).agg(sum(col("wt")).as("wt"))
          .localCheckpoint(true)
        wt = freshStats(wt)
        sym = freshStats(mapped.filter(col("mu") =!= col("mv"))
          .groupBy(col("mu").as("u"), col("mv").as("v"))
          .agg(sum(col("w")).as("w"))
          .localCheckpoint(eager = false))
        }
      }
    }
    if (!converged) throw new IllegalStateException(
      s"MultiContract: match fixpoint not reached within the rounds cap " +
        s"($rounds) — raise `rounds`; the early stop is idempotent, so a " +
        "higher cap never changes a converged result")
    oracleRounds.foreach { u =>
      val productive = round - 1
      if (productive > u) throw new IllegalStateException(
        s"MultiContract: $productive productive contraction rounds but " +
          s"the unrolled SQL oracle has $u: raise the unroll in " +
          "MultiContract.unrolledSql for this SF")
    }
    map.select(col("id"), col("c").as("community"))
  }

  /** DuckDB oracle: `rounds` contraction rounds × `jumps` pointer jumps,
    * fully unrolled and materialized per step — the same exact-integer
    * score rescale and the same conditional-threshold expression tree as
    * the Spark plan, so the single float comparison lands on identical
    * doubles in both engines.
    */
  def unrolledSql(rounds: Int = 4, jumps: Int = 4,
      weightedEdgesSql: String = Graph.tpchEdgesSql): String = {
    val sb = unrolledCtes(rounds, jumps, weightedEdgesSql)
    sb.append(s"\nSELECT id, c AS community FROM map$rounds")
    sb.toString
  }

  /** DuckDB oracle for the modularity-stopping profile: the same
    * unrolled contraction CTEs plus a vol²-rescaled modularity scalar per
    * round (HUGEINT — integer-exact, mirroring the Spark DECIMAL(38,0)
    * sums) and the prefix selection rule: the returned labeling is the
    * map BEFORE the first non-improving round (all R rounds still
    * unroll; selection is a CASE over the q chain, so a Spark run that
    * stopped early by fixpoint or by gain ≤ 0 hashes identically).
    */
  def modularitySql(rounds: Int = 4, jumps: Int = 4,
      weightedEdgesSql: String = Graph.tpchEdgesSql): String = {
    val sb = unrolledCtes(rounds, jumps, weightedEdgesSql)
    sb.append(",\ndeg0 AS MATERIALIZED (SELECT u, CAST(sum(w) AS BIGINT)" +
      " AS deg FROM sym0 GROUP BY 1)")
    for (r <- 0 to rounds) {
      sb.append(",\n")
      sb.append(
        s"""q$r AS (
           |  SELECT CAST((SELECT vol FROM vv) AS HUGEINT) * (
           |    SELECT coalesce(sum(CAST(s.w AS HUGEINT)), 0) FROM sym0 s
           |      JOIN map$r a ON s.u = a.id JOIN map$r b ON s.v = b.id
           |    WHERE a.c = b.c)
           |  - (SELECT coalesce(sum(CAST(volc AS HUGEINT) * volc), 0)
           |     FROM (SELECT mm.c, CAST(sum(d.deg) AS BIGINT) AS volc
           |           FROM deg0 d JOIN map$r mm ON d.u = mm.id
           |           GROUP BY 1)) AS q)""".stripMargin)
    }
    val cases = (1 to rounds).map(r =>
      s"  WHEN (SELECT q FROM q$r) <= (SELECT q FROM q${r - 1}) " +
        s"THEN ${r - 1}").mkString("\n")
    sb.append(",\n")
    sb.append(
      s"""sel AS (SELECT CASE
         |$cases
         |  ELSE $rounds END AS r)""".stripMargin)
    sb.append("\nSELECT id, c AS community FROM (\n")
    sb.append((0 to rounds).map(r =>
      s"  SELECT $r AS r, id, c FROM map$r").mkString(" UNION ALL\n"))
    sb.append("\n) WHERE r = (SELECT r FROM sel)")
    sb.toString
  }

  private def unrolledCtes(rounds: Int, jumps: Int,
      weightedEdgesSql: String): StringBuilder = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH base AS MATERIALIZED (
         |${weightedEdgesSql.linesIterator.map("  " + _).mkString("\n")}
         |),
         |sym0 AS MATERIALIZED (
         |  SELECT u, v, CAST(sum(w) AS BIGINT) AS w FROM (
         |    SELECT src AS u, dst AS v, weight AS w FROM base
         |    UNION ALL
         |    SELECT dst, src, weight FROM base WHERE src <> dst
         |  ) GROUP BY 1, 2),
         |vv AS (SELECT CAST(sum(w) AS BIGINT) AS vol FROM sym0),
         |nv AS (SELECT count(DISTINCT u) AS n FROM sym0),
         |map0 AS MATERIALIZED (SELECT DISTINCT u AS id, u AS c FROM sym0),
         |wt0 AS (SELECT CAST(NULL AS BIGINT) AS c, CAST(NULL AS BIGINT) AS wt WHERE 1 = 0)""".stripMargin)
    for (r <- 1 to rounds) {
      val p = r - 1
      sb.append(",\n")
      sb.append(
        s"""scored$r AS MATERIALIZED (
           |  SELECT s.u, s.v, s.w,
           |    s.w * (SELECT vol FROM vv)
           |      - coalesce(wu.wt, 0) * coalesce(wv.wt, 0) AS S
           |  FROM sym$p s LEFT JOIN wt$p wu ON s.u = wu.c
           |    LEFT JOIN wt$p wv ON s.v = wv.c),
           |best$r AS MATERIALIZED (
           |  SELECT u AS c, v AS m1, S AS sbest FROM (
           |    SELECT u, v, S,
           |      row_number() OVER (PARTITION BY u ORDER BY S DESC, v ASC) AS rn
           |    FROM scored$r WHERE S > 0) WHERE rn = 1),
           |stats$r AS (
           |  SELECT coalesce(sum(CAST(S AS HUGEINT)), 0) AS s1,
           |         coalesce(sum(CAST(S AS HUGEINT) * S), 0) AS s2
           |  FROM scored$r),
           |thr$r AS (
           |  SELECT CASE WHEN v >= 0 THEN m - 1.5 * sqrt(v) END AS t FROM (
           |    SELECT CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m,
           |      CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
           |        - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
           |          * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) AS v
           |    FROM stats$r, nv)),
           |mf$r AS MATERIALIZED (
           |  SELECT n.c,
           |    CASE WHEN b.sbest IS NULL THEN n.c
           |         WHEN t.t IS NOT NULL AND CAST(b.sbest AS DOUBLE) < t.t THEN n.c
           |         ELSE b.m1 END AS mf,
           |    coalesce(b.sbest, 0) AS s0
           |  FROM (SELECT DISTINCT c FROM map$p) n
           |    LEFT JOIN best$r b ON n.c = b.c CROSS JOIN thr$r t),
           |m${r}_0 AS MATERIALIZED (
           |  SELECT x.c, CASE WHEN EXISTS (
           |      SELECT 1 FROM mf$r y
           |      WHERE y.mf = x.c AND y.c <> x.c AND x.s0 <= y.s0)
           |    THEN x.c ELSE x.mf END AS m
           |  FROM mf$r x)""".stripMargin)
      for (j <- 1 to jumps) {
        sb.append(",\n")
        sb.append(
          s"""m${r}_$j AS MATERIALIZED (
             |  SELECT a.c, b.m FROM m${r}_${j - 1} a
             |    JOIN m${r}_${j - 1} b ON a.m = b.c)""".stripMargin)
      }
      sb.append(",\n")
      sb.append(
        s"""map$r AS MATERIALIZED (
           |  SELECT mp.id, mm.m AS c FROM map$p mp
           |    JOIN m${r}_$jumps mm ON mp.c = mm.c),
           |wt$r AS MATERIALIZED (
           |  SELECT c, CAST(sum(wt) AS BIGINT) AS wt FROM (
           |    SELECT mm.m AS c, w0.wt FROM wt$p w0
           |      JOIN m${r}_$jumps mm ON w0.c = mm.c
           |    UNION ALL
           |    SELECT a.m, s.w FROM scored$r s
           |      JOIN m${r}_$jumps a ON s.u = a.c
           |      JOIN m${r}_$jumps b ON s.v = b.c
           |    WHERE a.m = b.m) GROUP BY 1),
           |sym$r AS MATERIALIZED (
           |  SELECT a.m AS u, b.m AS v, CAST(sum(s.w) AS BIGINT) AS w
           |  FROM scored$r s
           |    JOIN m${r}_$jumps a ON s.u = a.c
           |    JOIN m${r}_$jumps b ON s.v = b.c
           |  WHERE a.m <> b.m GROUP BY 1, 2)""".stripMargin)
    }
    sb
  }
}
