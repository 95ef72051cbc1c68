package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.graph.{Csr, Graph, PageRank}

/** Reference formulations the specs check the library's graph paths
  * against. No query runs them, so they live in test scope.
  */
object GraphReferences {

  /** The symmetrized distinct edge view of directed `(src, dst)` rows:
    * both orientations, self-loops once — what `Graph.cachedUndirected`
    * holds.
    */
  def undirected(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
    e.union(e.select(col("dst"), col("src"))).distinct()
  }

  /** The weight-summed symmetrized view of `(src, dst[, weight])` rows
    * (weight 1 per row when absent): both orientations of a pair carry the
    * pair's weight sum, self-loops once — what
    * `Graph.cachedWeightedUndirected` holds.
    */
  def weightedUndirected(edges: DataFrame): DataFrame = {
    val w = if (edges.columns.contains("weight")) col("weight").cast("long")
      else lit(1L)
    val e = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"), w.as("weight"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
    e.union(e.filter(col("src") =!= col("dst"))
        .select(col("dst"), col("src"), col("weight")))
      .groupBy(col("src"), col("dst")).agg(sum(col("weight")).as("weight"))
  }

  /** The sorted adjacency of `(src, dst)` rows, built on the driver:
    * every vertex of [[undirected]] to its ascending distinct neighbors.
    */
  def adjacency(edges: DataFrame): Map[Long, Seq[Long]] =
    undirected(edges).collect().toSeq.map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).map { case (v, ps) => v -> ps.map(_._2).sorted }

  /** The adjacency a slot CSR holds, in vertex ids: comparable with
    * [[adjacency]].
    */
  def adjacency(b: Csr.Blocks): Map[Long, Seq[Long]] = {
    val ids = b.ids
    b.rdd.flatMap { case (slots, offs, nbrs) =>
      slots.indices.map(k => slots(k) -> nbrs.slice(offs(k), offs(k + 1)).toSeq)
    }.collect().map { case (s, ns) => ids(s) -> ns.map(n => ids(n)) }.toMap
  }

  /** The dense (non-frontier) connected-components formulation — every
    * round joins the FULL label state against the edges and takes the min
    * over self ∪ heard. Same per-round labels and the same fixpoint as
    * `ConnectedComponents.apply` (see its object scaladoc for the
    * argument), but pays the |E|×state join even when almost no labels
    * still change.
    */
  def classicCc(g: Graph, maxIter: Int = 50,
      broadcastVertices: Boolean = true): DataFrame = {
    def bc(df: DataFrame) = if (broadcastVertices) broadcast(df) else df
    val edges = g.cachedUndirected
    var labels = edges.select(col("src").as("id"))
      .distinct()
      .withColumn("component", col("id"))
      .localCheckpoint(true)
    // convergence sentinel: Σ labels is strictly decreasing until fixpoint.
    // Decimal(38) aggregation — a Long sum can wrap at billion-scale vertex
    // ids, and two wrapped sums aliasing would declare convergence early.
    // (Null sum = empty label table — converged trivially.)
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val d = df.agg(sum(col("component").cast("decimal(38,0)"))).head().getDecimal(0)
      if (d == null) java.math.BigDecimal.ZERO else d
    }
    var lastSum = labelSum(labels)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val heard = edges.join(bc(labels), edges("src") === labels("id"))
        .select(col("dst").as("id"), col("component"))
      val next = labels.select(col("id"), col("component"))
        .union(heard)
        .groupBy(col("id")).agg(min(col("component")).as("component"))
        .localCheckpoint(true)
      val s = labelSum(next)
      converged = s.compareTo(lastSum) == 0
      lastSum = s
      labels = next
      i += 1
    }
    assert(converged, s"classic CC: fixpoint not reached after $maxIter rounds")
    labels
  }

  /** The dense synchronous power iteration to a tolerance — the
    * equivalence reference for `PageRank.converged`'s paths. Every round
    * joins the FULL edge set and rewrites the FULL rank state, even when
    * almost no rank still moves materially. Stops once Σ|Δpr| ≤ tol,
    * checked every `deltaEvery` rounds (deltas shrink monotonically, so
    * that stops at most deltaEvery − 1 rounds late, never early), or
    * after maxIter rounds. Returns (id, pr) rounded to
    * 8 dp, like the library paths.
    */
  def densePagerank(g: Graph, tol: Double = 1e-8, maxIter: Int = 100,
      broadcastVertices: Boolean = true): DataFrame = {
    def bc(df: DataFrame) = if (broadcastVertices) broadcast(df) else df
    val deltaEvery = 5
    val d = PageRank.Damping
    val edges = g.cachedUndirected
    val degrees = edges.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("outdeg")).localCheckpoint(true)
    val nv = degrees.count().toDouble
    var state = degrees.withColumn("pr", lit(1.0 / nv))
    var delta = Double.MaxValue
    var i = 0
    while (i < maxIter && delta > tol) {
      val msgs = edges.join(bc(state), col("dst") === col("id"))
        .groupBy(col("src").as("to"))
        .agg(sum(col("pr") / col("outdeg")).as("msg"))
      val next = state.withColumnRenamed("pr", "pr_old")
        .join(msgs, col("id") === col("to"), "left")
        .select(col("id"), col("outdeg"), col("pr_old"),
          (lit((1.0 - d) / nv) + lit(d) * coalesce(col("msg"), lit(0.0)))
            .as("pr"))
        .localCheckpoint(true)
      if ((i + 1) % deltaEvery == 0 || i + 1 == maxIter)
        delta = next.agg(sum(abs(col("pr") - col("pr_old")))).head()
          .getDouble(0)
      state = next.drop("pr_old")
      i += 1
    }
    state.select(col("id"), round(col("pr"), 8).as("pr"))
  }

  /** The row_number window formulation of the coreness h-pass — the shape
    * the DuckDB oracle unrolls (`Coreness.unrolledSql`) and
    * `Coreness.hPass`'s equivalence reference: h(v) = max over neighbors
    * ranked by est desc of least(rank, est). Its per-round cost is the
    * |2E|-row sort the counting pass exists to avoid.
    */
  def hPassWindow(sym: DataFrame, est: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("est").desc)
    sym
      .join(est.select(col("id").as("dst"), col("est")), Seq("dst"))
      .select(col("src"), col("est"))
      .withColumn("rn", row_number().over(w))
      .groupBy(col("src").as("id"))
      .agg(max(least(col("rn"), col("est").cast("bigint"))).as("est"))
  }
}
