package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.graph._

class GraphSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import TestSpark.jobsOf

  def mkGraph(edges: (Long, Long)*): Graph =
    Graph(edges.toDF("src", "dst").withColumn("weight", lit(1L)))

  test("fromTpch builds a non-empty bipartite edge table") {
    val g = Graph.fromTpch(spark, TestSpark.sfTiny)
    val n = g.edges.count()
    assert(n > 0)
    // bipartite: all src below the supplier offset, all dst above
    assert(g.edges.filter(col("src") >= Graph.SupplierOffset).count() == 0)
    assert(g.edges.filter(col("dst") < Graph.SupplierOffset).count() == 0)
  }

  test("degrees: sum of degrees = 2 * undirected edge count") {
    val g = Graph.fromTpch(spark, TestSpark.sfTiny)
    val degSum = Degrees(g).agg(sum("degree")).head().getLong(0)
    assert(degSum == GraphReferences.undirected(g.edges).count())
  }

  test("connected components on two planted components") {
    // component {1,2,3} and {10,11}
    val g = mkGraph((1L, 2L), (2L, 3L), (10L, 11L))
    val cc = ConnectedComponents(g).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("rmat quadrant probabilities match the A/B/C/D parameters") {
    // P(src top bit = 0) = a + b = 0.65 per level; 8192 edges → sd ≈ 0.005
    val p = RMat.Params(scale = 10)
    val e = RMat.edges(spark, p)
    val n = e.count().toDouble
    val half = 1L << (p.scale - 1)
    val srcLow = e.filter(col("src") < half).count() / n
    val dstLow = e.filter(col("dst") < half).count() / n
    assert(math.abs(srcLow - (p.a + p.b)) < 0.05, s"src split $srcLow")
    assert(math.abs(dstLow - (p.a + p.c)) < 0.05, s"dst split $dstLow")
  }

  test("large-star/small-star cc equals min-label cc") {
    // planted components, a long path (the case min-label is slow on),
    // and an R-MAT graph
    val planted = mkGraph((1L, 2L), (2L, 3L), (10L, 11L))
    val path = mkGraph((1L until 40L).map(i => (i, i + 1)): _*)
    val rmat = RMat.graph(spark, RMat.Params(scale = 8))
    Seq(planted, path, rmat, Graph.fromTpch(spark, TestSpark.sfTiny)).foreach { g =>
      val a = ConnectedComponents(g)
      val b = ConnectedComponents.alternating(g)
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
        "alternating CC disagrees with min-label CC")
    }
  }

  test("maximal independent set: independent, maximal, deterministic") {
    val rmat = RMat.graph(spark, RMat.Params(scale = 8))
    Seq(rmat, Graph.fromTpch(spark, TestSpark.sfTiny)).foreach { g =>
      val mis = MaximalIndependentSet(g).localCheckpoint(true)
      // self-loops are not independence constraints (the operator drops
      // them; a loop-only vertex is trivially independent)
      val und = g.cachedUndirected.select(col("src"), col("dst"))
        .filter(col("src") =!= col("dst"))
      // independence: no edge has both endpoints in the MIS
      val inner = und
        .join(mis.select(col("id").as("src")), Seq("src"), "left_semi")
        .join(mis.select(col("id").as("dst")), Seq("dst"), "left_semi")
      assert(inner.count() == 0, "MIS contains an edge")
      // maximality: every non-member has a member neighbor
      val nonMembers = und.select(col("src").as("id")).distinct()
        .join(mis, Seq("id"), "left_anti")
      val covered = und
        .join(mis.select(col("id").as("src")), Seq("src"), "left_semi")
        .select(col("dst").as("id")).distinct()
      assert(nonMembers.join(covered, Seq("id"), "left_anti").count() == 0,
        "a non-member vertex has no MIS neighbor (not maximal)")
      // deterministic: second run identical
      val again = MaximalIndependentSet(g)
      assert(mis.exceptAll(again).count() == 0 &&
        again.exceptAll(mis).count() == 0)
    }
  }

  test("graph coloring: proper, complete, deterministic") {
    val rmat = RMat.graph(spark, RMat.Params(scale = 8))
    Seq(rmat, Graph.fromTpch(spark, TestSpark.sfTiny)).foreach { g =>
      val colored = GraphColoring(g).localCheckpoint(true)
      val nColors = colored.agg(max(col("color"))).head().getLong(0) + 1
      System.err.println(s"[test] coloring used $nColors colors")
      // complete: every vertex exactly one color
      val verts = g.cachedUndirected.select(col("src").as("id")).distinct()
      assert(colored.count() == verts.count())
      assert(colored.select("id").distinct().count() == verts.count())
      // proper: no non-loop edge is monochrome
      val e = g.cachedUndirected.filter(col("src") =!= col("dst"))
      val mono = e
        .join(colored.select(col("id").as("src"), col("color").as("cs")),
          Seq("src"))
        .join(colored.select(col("id").as("dst"), col("color").as("cd")),
          Seq("dst"))
        .filter(col("cs") === col("cd"))
      assert(mono.count() == 0, "monochrome edge")
      // deterministic
      val again = GraphColoring(g)
      assert(colored.exceptAll(again).count() == 0 &&
        again.exceptAll(colored).count() == 0)
      // the iterated-MIS formulation is also proper and complete (it
      // yields a DIFFERENT proper assignment — serial across colors, kept
      // as the equivalence-tested alternative shape)
      val alt = GraphColoring.iteratedMis(g).localCheckpoint(true)
      assert(alt.count() == verts.count())
      assert(alt.select("id").distinct().count() == verts.count())
      val monoAlt = e
        .join(alt.select(col("id").as("src"), col("color").as("cs")),
          Seq("src"))
        .join(alt.select(col("id").as("dst"), col("color").as("cd")),
          Seq("dst"))
        .filter(col("cs") === col("cd"))
      assert(monoAlt.count() == 0, "monochrome edge in iterated-MIS coloring")
    }
  }

  test("csr paths equal the join formulations under any id map") {
    // the slot substrate indexes state by each vertex's rank among the
    // distinct ids, so the CSR kernels serve every id space: identity,
    // an offset of 2^40 and a signed 64-bit hash that yields negative ids
    def mapped(edges: DataFrame, f: Column => Column) =
      Graph(edges.select(f(col("src")).as("src"), f(col("dst")).as("dst"),
        col("weight")))
    def same(a: DataFrame, b: DataFrame, msg: String) =
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0, msg)
    val shift = 1L << 40
    val maps = Seq[(String, Column => Column)](
      "identity" -> (c => c),
      "offset" -> (c => c + lit(shift)),
      "hash" -> (c => xxhash64(c)))
    // planted: a triangle with a tail, a path with a shortcut, a self-loop
    // singleton and an isolated pair
    val planted = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L),
      (20L, 21L), (21L, 22L), (22L, 23L), (20L, 22L), (30L, 30L),
      (40L, 41L)).toDF("src", "dst").withColumn("weight", lit(1L))
    val rmat = RMat.graph(spark, RMat.Params(scale = 8)).edges
    Seq("planted" -> planted, "rmat" -> rmat).foreach { case (shape, e) =>
      val ranks = maps.map { case (name, f) =>
        val g = mapped(e, f)
        val what = s"$shape/$name"
        if (name == "hash")
          assert(g.cachedUndirected.filter(col("src") < 0L).count() > 0,
            s"$what: the hash map produced no negative id")
        same(ConnectedComponents.csrLabels(g)
            .getOrElse(fail(s"$what: csrLabels declined")),
          ConnectedComponents.joinLabels(g),
          s"$what: CSR CC differs from join CC")
        val src = g.cachedUndirected.agg(min(col("src"))).head().getLong(0)
        same(ShortestPaths.csrBfs(g, src, 64)
            .getOrElse(fail(s"$what: csrBfs declined")),
          ShortestPaths.joinDistances(g, src),
          s"$what: CSR BFS differs from join BFS")
        val (ck, cr, cc) = Coreness.csrCoreness(g, 100)
          .getOrElse(fail(s"$what: csrCoreness declined"))
        val (jk, jr, jc) = Coreness.joinCoreness(g)
        assert(cc && jc)
        assert(cr == jr, s"$what: round count differs: csr $cr vs join $jr")
        same(ck, jk, s"$what: CSR coreness differs from join coreness")
        val pr = PageRank.convergedCsr(g)
          .getOrElse(fail(s"$what: convergedCsr declined"))
          .localCheckpoint(true)
        val joined = pr.withColumnRenamed("pr", "pra")
          .join(GraphReferences.densePagerank(g).withColumnRenamed("pr", "prb"),
            Seq("id"), "full_outer")
        assert(joined.filter(col("pra").isNull || col("prb").isNull)
          .count() == 0, s"$what: CSR and dense PR cover different vertices")
        val maxDiff = joined
          .agg(max(abs(col("pra") - col("prb")))).head().getDouble(0)
        assert(maxDiff < 1e-6, s"$what: CSR PR diverged: maxDiff=$maxDiff")
        name -> pr
      }.toMap
      // slot order is id order: a monotone id map leaves every rank's
      // accumulation order, hence every double, unchanged
      same(ranks("identity"),
        ranks("offset").select((col("id") - lit(shift)).as("id"), col("pr")),
        s"$shape: offset ids changed the CSR PageRank doubles")
    }
  }

  /** The partition count of `g`'s CSR blocks, which decides whether the
    * CSR loops run in one task or one job per round, once the blocks are
    * checked against the driver-side adjacency of `input`, the rows `g`
    * was built from.
    */
  def csrPartitions(g: Graph, input: DataFrame): Int = {
    val b = Csr.cachedOrBuild(g).getOrElse(fail("csr build declined"))
    assert(GraphReferences.adjacency(b) == GraphReferences.adjacency(input),
      "the slot CSR differs from the reference adjacency")
    b.rdd.getNumPartitions
  }

  test("csr loop: the one-task and the multi-block paths agree exactly") {
    def same(a: DataFrame, b: DataFrame, msg: String) =
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0, msg)
    val planted = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L),
      (20L, 21L), (21L, 22L), (22L, 23L), (20L, 22L), (30L, 30L),
      (40L, 41L)).toDF("src", "dst")
    val rmat = RMat.graph(spark, RMat.Params(scale = 8)).edges
      .select("src", "dst")
    Seq("planted" -> planted, "rmat" -> rmat).foreach { case (shape, raw) =>
      val one = Graph.fromRawEdges(raw)
      // about four src partitions, each holding some vertex
      val many = Graph.fromRawEdges(raw, rowsPerPartition = raw.count() / 2)
      assert(csrPartitions(one, raw) == 1, s"$shape: one-block fixture split")
      assert(csrPartitions(many, raw) >= 3,
        s"$shape: multi-block fixture is not")
      assert(many.cachedUndirected.select(spark_partition_id()).distinct()
        .count() >= 3, s"$shape: fewer than 3 non-empty blocks")
      same(ConnectedComponents.csrLabels(one).get,
        ConnectedComponents.csrLabels(many).get, s"$shape: CC labels differ")
      val src = one.cachedUndirected.agg(min(col("src"))).head().getLong(0)
      same(ShortestPaths.csrBfs(one, src, 64).get,
        ShortestPaths.csrBfs(many, src, 64).get,
        s"$shape: BFS distances differ")
      val (k1, r1, _) = Coreness.csrCoreness(one, 100).get
      val (km, rm, _) = Coreness.csrCoreness(many, 100).get
      assert(r1 == rm, s"$shape: coreness rounds differ: $r1 vs $rm")
      same(k1, km, s"$shape: coreness labels differ")
      same(PageRank.convergedCsr(one).get, PageRank.convergedCsr(many).get,
        s"$shape: PageRank 8 dp output differs")
    }
  }

  test("csr loop: a one-block graph runs each csr call in a fixed job count") {
    val raw = RMat.graph(spark, RMat.Params(scale = 8)).edges
      .select("src", "dst")
    val g = Graph.fromRawEdges(raw)
    val src = g.cachedUndirected.agg(min(col("src"))).head().getLong(0)
    // the first call: 2 build jobs + 1 loop job + 1 emit job, whatever
    // the round count; every later call on the instance reuses the build,
    // and its one-block result counts with no exchange: loop, emit and
    // the caller's count() are 3 jobs
    val first = jobsOf(ConnectedComponents.csrLabels(g).get)
    assert(first <= 4, s"the first csr call ran $first jobs, budget 4")
    assert(csrPartitions(g, raw) == 1)
    val budget = 3
    val counts = Seq(
      "cc" -> jobsOf(ConnectedComponents.csrLabels(g).get.count()),
      "bfs" -> jobsOf(ShortestPaths.csrBfs(g, src, 64).get.count()),
      "pagerank" -> jobsOf(PageRank.convergedCsr(g).get.count()),
      "pagerank/3" ->
        jobsOf(PageRank.convergedCsr(g, maxIter = 3).get.count()),
      "coreness" -> jobsOf(Coreness.csrCoreness(g, 100).get._1.count()),
      "coreness/1" -> jobsOf(intercept[IllegalStateException](
        Coreness.csrCoreness(g, 1))))
    counts.foreach { case (call, n) =>
      assert(n <= budget, s"$call ran $n jobs, budget $budget: $counts")
    }
    val m = counts.toMap
    assert(m("pagerank") == m("pagerank/3"),
      s"pagerank's job count depends on its round count: $counts")
    Csr.release(g)
  }

  /** The four CSR results of `g`, by name, BFS from its least vertex. */
  def csrResults(g: Graph): Seq[(String, DataFrame)] = {
    val src = g.cachedUndirected.agg(min(col("src"))).head().getLong(0)
    Seq("cc" -> ConnectedComponents.csrLabels(g).get,
      "bfs" -> ShortestPaths.csrBfs(g, src, 64).get,
      "pagerank" -> PageRank.convergedCsr(g).get,
      "coreness" -> Coreness.csrCoreness(g, 100).get._1)
  }

  test("csr results stay readable after their broadcast and blocks are freed") {
    // each result is materialized before its call frees the broadcast; a
    // new, differently planned job over it (a join with a vertex frame,
    // then an aggregate on id) still reads the same rows, also after
    // Csr.release frees the slot and packed blocks
    val raw = RMat.graph(spark, RMat.Params(scale = 8)).edges
      .select("src", "dst")
    val vertices = raw.select(col("src").as("id"))
      .union(raw.select(col("dst").as("id"))).distinct()
    Seq("one block" -> Graph.fromRawEdges(raw),
      "multi-block" ->
        Graph.fromRawEdges(raw, rowsPerPartition = raw.count() / 2)
    ).foreach { case (what, g) =>
      val results = csrResults(g).map { case (name, df) =>
        (name, df, df.collect().toSet)
      }
      Csr.release(g)
      results.foreach { case (name, df, rows) =>
        val value = df.columns(1)
        val again = df.join(vertices, "id").groupBy("id")
          .agg(max(col(value)).as(value)).collect().toSet
        assert(again == rows, s"$what/$name: rows changed after release")
      }
    }
  }

  test("csr results are hash-partitioned on id as they declare") {
    // block i holds exactly the srcs the build hashed to partition i, so
    // every row sits in partition pmod(hash(id), t) and an aggregate on
    // id plans no exchange
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val plans = new AdaptiveSparkPlanHelper {}
    val raw = RMat.graph(spark, RMat.Params(scale = 8)).edges
      .select("src", "dst")
    val g = Graph.fromRawEdges(raw, rowsPerPartition = raw.count() / 2)
    val t = csrPartitions(g, raw)
    assert(t >= 3, s"multi-block fixture has $t blocks")
    csrResults(g).foreach { case (name, df) =>
      assert(df.rdd.getNumPartitions == t, s"$name: blocks")
      val misplaced = df.filter(
        spark_partition_id() =!= pmod(hash(col("id")), lit(t))).count()
      assert(misplaced == 0, s"$name: $misplaced rows off their partition")
      val q = df.groupBy("id").count()
      q.collect()
      val shuffles = plans.collect(q.queryExecution.executedPlan) {
        case s: ShuffleExchangeExec => s
      }
      assert(shuffles.isEmpty, s"$name: an aggregate on id exchanged:\n" +
        q.queryExecution.executedPlan)
    }
    Csr.release(g)
  }

  test("pagerank's 8 dp rounding equals BigDecimal HALF_UP bit for bit") {
    def reference(x: Double): Double = BigDecimal(x)
      .setScale(8, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
    val rnd = new scala.util.Random(7)
    // decimal ties at the 9th place, and values a hair either side
    val ties = Seq.fill(20000) {
      val t = ("0." + f"${rnd.nextInt(100000000)}%08d" + "5").toDouble
      Seq(t, math.nextUp(t), math.nextDown(t))
    }.flatten
    val boundary = Seq(0.0, -0.0, 1.0, math.nextDown(1.0), 0.999999995,
      0.99999999, Double.MinPositiveValue, 1e-300, 1e-9, 5e-9, 4.9999999e-9,
      0.5, 0.125, 1e-8, 1.5, -0.25, 3.000000005)
    val inputs = Seq.fill(200000)(rnd.nextDouble()) ++
      Seq.fill(20000)(rnd.nextDouble() * 1e-4) ++ ties ++ boundary
    inputs.foreach { x =>
      val (got, want) = (PageRank.round8(x), reference(x))
      assert(java.lang.Double.doubleToRawLongBits(got) ==
        java.lang.Double.doubleToRawLongBits(want),
        s"round8($x) = $got, BigDecimal gives $want")
    }
  }

  test("csr build: a declined build runs its jobs once per graph") {
    // an empty graph is the decline a test can reach (the other is
    // |V| >= Csr.MaxVertices); with and without a weight column, and
    // with rows whose endpoints are all null
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    val nulls = Seq[(java.lang.Long, java.lang.Long)]((null, 1L), (2L, null))
      .toDF("src", "dst")
    Seq("empty" -> empty, "weighted" -> empty.withColumn("weight", lit(1L)),
      "null endpoints" -> nulls).foreach { case (what, edges) =>
      val g = Graph(edges)
      g.cachedUndirected.count()
      val first = jobsOf(assert(ConnectedComponents.csrLabels(g).isEmpty))
      val second = jobsOf(assert(ShortestPaths.csrBfs(g, 1L, 64).isEmpty))
      assert(first >= 1 && second == 0,
        s"$what: build jobs $first, then $second on the second call")
      Csr.release(g)
    }
  }

  test("csr loop: non-convergence is decided on the driver on both paths") {
    val edges = (1L until 40L).map(i => (i, i + 1)).toDF("src", "dst")
    Seq(Graph.fromRawEdges(edges),
      Graph.fromRawEdges(edges, rowsPerPartition = 8)).foreach { g =>
      val parts = csrPartitions(g, edges)
      // the throw reaches the caller as itself, not wrapped in a
      // SparkException from a task
      val cc = intercept[IllegalStateException](
        ConnectedComponents.csrLabels(g, maxIter = 1))
      assert(cc.getMessage.contains("fixpoint not reached"), cc.getMessage)
      val core = intercept[IllegalStateException](Coreness.csrCoreness(g, 1))
      assert(core.getMessage.contains("did not converge"), core.getMessage)
      val near = ShortestPaths.csrBfs(g, 1L, 2).get.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(near == Map(1L -> 0L, 2L -> 1L, 3L -> 2L),
        s"$parts blocks: csrBfs(maxIter = 2) returned $near")
      val pr = PageRank.convergedCsr(g, maxIter = 3).get
      assert(pr.count() == 40L && pr.select("id").distinct().count() == 40L,
        s"$parts blocks: unconverged PageRank is not one row per vertex")
    }
  }

  test("frontier cc equals the dense classic formulation") {
    // apply() dispatches to the CSR broadcast-vector path on these
    // fixtures (r11); joinLabels is the frontier join
    // formulation it must agree with exactly — as must the dense classic
    // reference, on every graph shape and both join-state paths
    val planted = mkGraph((1L, 2L), (2L, 3L), (10L, 11L))
    val path = mkGraph((1L until 40L).map(i => (i, i + 1)): _*)
    val rmat = RMat.graph(spark, RMat.Params(scale = 8))
    Seq(planted, path, rmat, Graph.fromTpch(spark, TestSpark.sfTiny)).foreach { g =>
      val a = ConnectedComponents(g)
      val b = GraphReferences.classicCc(g)
      val j1 = ConnectedComponents.joinLabels(g)
      val j2 = ConnectedComponents.joinLabels(g, broadcastVertices = false)
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
        "CC apply (csr) disagrees with dense classic CC")
      assert(a.exceptAll(j1).count() == 0 && j1.exceptAll(a).count() == 0,
        "CC apply (csr) disagrees with the frontier join path")
      assert(j1.exceptAll(j2).count() == 0 && j2.exceptAll(j1).count() == 0,
        "frontier CC shuffle-state path disagrees with broadcast path")
    }
  }

  test("bfs csr path equals the frontier join formulation") {
    // apply() dispatches BFS to the CSR bitmap path (r11);
    // levels must agree exactly with the join path on every shape,
    // including a shortcut that changes a level and a disconnected part
    val planted = mkGraph((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L), (9L, 10L))
    val path = mkGraph((1L until 40L).map(i => (i, i + 1)): _*)
    val rmat = RMat.graph(spark, RMat.Params(scale = 8))
    Seq(planted, path, rmat, Graph.fromTpch(spark, TestSpark.sfTiny)).foreach { g =>
      val src = g.cachedUndirected.agg(min(col("src"))).head().getLong(0)
      val a = ShortestPaths.csrBfs(g, src, 64).get
      val b = ShortestPaths.joinDistances(g, src)
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
        "CSR BFS disagrees with the frontier join BFS")
    }
    // edgeless source: csrBfs declines (the source has no slot), apply
    // still answers with the seed-only table via the join path
    val g2 = mkGraph((1L, 2L))
    assert(ShortestPaths.csrBfs(g2, 50L, 64).isEmpty)
    val seedOnly = ShortestPaths(g2, 50L)
    assert(seedOnly.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      == Seq((50L, 0L)))
    // sparse ids above 2^25: the CSR path serves them and agrees with the
    // join path
    val off = (1L << 25) + 3L
    val g3 = mkGraph((off, off + 1L), (off + 1L, off + 2L))
    val c3 = ShortestPaths.csrBfs(g3, off, 64)
      .getOrElse(fail("CSR BFS declined sparse ids"))
    val j3 = ShortestPaths.joinDistances(g3, off)
    assert(c3.exceptAll(j3).count() == 0 && j3.exceptAll(c3).count() == 0,
      "CSR BFS disagrees with the join BFS on sparse ids")
    val d3 = ShortestPaths(g3, off).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d3 == Map(off -> 0L, (off + 1L) -> 1L, (off + 2L) -> 2L))
  }

  test("cc csr path serves sparse ids and agrees with the join path") {
    // sparse ids above 2^25 run the CSR path too; it must agree with
    // joinLabels and classic (self-loop + two components)
    val off = (1L << 25) + 7L
    val g = mkGraph((off + 1L, off + 2L), (off + 2L, off + 3L),
      (off + 10L, off + 10L), (off + 20L, off + 21L))
    val s = ConnectedComponents.csrLabels(g)
      .getOrElse(fail("CSR path declined sparse ids"))
    val j = ConnectedComponents.joinLabels(g)
    assert(s.exceptAll(j).count() == 0 && j.exceptAll(s).count() == 0)
    val a = ConnectedComponents(g)
    val b = GraphReferences.classicCc(g)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    // and on the SAME shape with small ids, the CSR path must agree too
    val gd = mkGraph((1L, 2L), (2L, 3L), (10L, 10L), (20L, 21L))
    val c = ConnectedComponents.csrLabels(gd)
    assert(c.nonEmpty, "CSR path declined small ids")
    val d = GraphReferences.classicCc(gd)
    assert(c.get.exceptAll(d).count() == 0 && d.exceptAll(c.get).count() == 0)
  }

  test("csr build gives a one-way neighbor and a split src one slot each") {
    // the build explodes both orientations and exchanges on src itself,
    // so an asymmetric frame (7 is a neighbor of 2 but never a src) and
    // a frame whose src rows span partitions both build the reference
    // adjacency: every neighbor is a src with exactly one slot
    val asym = Seq((1L, 2L), (2L, 1L), (2L, 7L)).toDF("src", "dst")
      .repartition(col("src"))
    val star = ((2L to 9L).map(u => (1L, u)) ++ (2L to 9L).map(u => (u, 1L)))
      .toDF("src", "dst").repartition(4, col("dst"))
    assert(star.filter(col("src") === 1L)
      .select(spark_partition_id()).distinct().count() > 1)
    Seq("asymmetric" -> asym, "split src" -> star).foreach { case (what, e) =>
      val g = Graph(e)
      val b = Csr.cachedOrBuild(g).getOrElse(fail(s"$what: declined"))
      assert(GraphReferences.adjacency(b) == GraphReferences.adjacency(e),
        s"$what: adjacency differs")
      if (what == "asymmetric")
        assert(b.ids.toSeq == Seq(1L, 2L, 7L) && b.degree.toSeq == Seq(1, 2, 1))
      Csr.release(g)
    }
  }

  test("csr memo: one shared build per graph, freed by release") {
    // ids above every old dense range, on a session-memoized graph and on
    // an ad-hoc one: CC builds the blocks, BFS, PageRank and coreness
    // reuse them, and Csr.release frees the one persisted copy
    val off = (1L << 26) + 5L
    val raw = Seq((off, off + 1L), (off + 1L, off + 2L), (off, off + 2L),
      (off + 9L, off + 10L)).toDF("src", "dst")
    val sc = spark.sparkContext
    def labels(g: Graph) = ConnectedComponents(g).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    Seq("memoized" -> Graph(raw.withColumn("weight", lit(1L)),
        memoizeAnalytics = true),
      "ad-hoc" -> Graph.fromRawEdges(raw)).foreach { case (what, g) =>
      assert(jobsOf(Csr.release(g)) == 0, s"$what: release built the blocks")
      val hits0 = graft.core.SessionCaches.memoHits.get()
      val cc = labels(g)
      assert(cc.size == 5)
      assert(ShortestPaths(g, off).count() == 3L)
      assert(PageRank.converged(g).count() == 5L)
      assert(Coreness(g).count() == 5L)
      assert(graft.core.SessionCaches.memoHits.get() - hits0 == 3L,
        s"$what: BFS, PageRank and coreness did not reuse CC's CSR build")
      val id = Csr.cachedOrBuild(g).getOrElse(fail(s"$what: declined")).rdd.id
      assert(sc.getPersistentRDDs.contains(id))
      Csr.release(g)
      assert(!sc.getPersistentRDDs.contains(id),
        s"$what: Csr.release left the shared blocks persisted")
      // the released blocks recompute from their lineage
      assert(ConnectedComponents.csrLabels(g).get.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap == cc,
        s"$what: CC after release differs")
      assert(ShortestPaths.csrBfs(g, off, 64).get.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap ==
        Map(off -> 0L, off + 1L -> 1L, off + 2L -> 1L),
        s"$what: BFS after release differs")
    }
  }

  test("sssp distances on a planted path with a shortcut") {
    // 1-2-3-4 path plus 1-3 shortcut: dist(4) = 2
    val g = mkGraph((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L))
    val d = ShortestPaths(g, 1L).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L))
  }

  test("weighted sssp: unit weights equal BFS, weights reroute paths") {
    // unit-weight equivalence on the tpch graph
    val g = Graph.fromTpch(spark, TestSpark.sfTiny)
    val src = g.cachedUndirected.agg(min(col("src"))).head().getLong(0)
    val unitG = Graph(g.edges.withColumn("weight", lit(1L)))
    val bfs = ShortestPaths(g, src).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wsp = WeightedShortestPaths(unitG, src).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bfs == wsp)
    // planted weights: 1-2 (10), 2-3 (10), 1-3 (25) → dist(3)=20 via 2
    import spark.implicits._
    val wg = Graph(Seq((1L, 2L, 10L), (2L, 3L, 10L), (1L, 3L, 25L))
      .toDF("src", "dst", "weight"))
    val d = WeightedShortestPaths(wg, 1L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d == Map(1L -> 0L, 2L -> 10L, 3L -> 20L))
  }

  test("sssp returns only reachable vertices") {
    val g = mkGraph((1L, 2L), (10L, 11L))
    val d = ShortestPaths(g, 1L).collect().map(_.getLong(0)).toSet
    assert(d == Set(1L, 2L))
  }

  test("pagerank: mass conservation and symmetry") {
    // symmetric star 0-1, 0-2, 0-3: leaves equal, hub larger
    val g = mkGraph((0L, 1L), (0L, 2L), (0L, 3L))
    val pr = PageRank.fixedIterations(g, 20).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(pr.values.sum - 1.0) < 1e-6)
    assert(math.abs(pr(1L) - pr(2L)) < 1e-9)
    assert(pr(0L) > pr(1L))
  }

  test("pagerank converged ~ fixed at high iteration count") {
    // identity specific to the power-iteration machinery: the dense
    // converged path at an unreachable tol runs exactly maxIter power
    // steps, so it must equal fixedIterations(maxIter). The accelerated
    // default (`converged` = Chebyshev) intentionally does NOT satisfy
    // this — after 60 semi-iterative steps it is ~0.85^60 CLOSER to the
    // fixpoint than 60 power steps; its equivalence is asserted against
    // the converged fixpoint in the delta/cheby-vs-dense test below.
    val g = Graph.fromTpch(spark, TestSpark.sfTiny)
    val a = GraphReferences.densePagerank(g, tol = 1e-12, maxIter = 60)
      .withColumnRenamed("pr", "pra")
    val b = PageRank.fixedIterations(g, 60).withColumnRenamed("pr", "prb")
    val maxDiff = a.join(b, "id")
      .agg(max(abs(col("pra") - col("prb")))).head().getDouble(0)
    assert(maxDiff < 1e-6)
  }

  test("weighted pagerank: unit weights equal unweighted, weight skews mass") {
    // unit-weight fixtures: wdeg == outdeg, so the weighted iteration is
    // literally the unweighted one
    val path = mkGraph((1L until 10L).map(i => (i, i + 1)): _*)
    val planted = mkGraph((1L, 2L), (2L, 3L), (10L, 11L))
    Seq(path, planted).foreach { g =>
      val a = PageRank.fixedIterationsWeighted(g, 5)
        .withColumnRenamed("pr", "pra")
      val b = PageRank.fixedIterations(g, 5).withColumnRenamed("pr", "prb")
      val joined = a.join(b, Seq("id"), "full_outer")
      assert(joined.filter(col("pra").isNull || col("prb").isNull)
        .count() == 0)
      val maxDiff = joined.agg(max(abs(col("pra") - col("prb"))))
        .head().getDouble(0)
      assert(maxDiff < 1e-9, s"unit-weight weighted PR diverged: $maxDiff")
    }
    // a heavy edge pulls rank: star 0—1 (w 9) / 0—2 (w 1); vertex 1
    // receives 9/10 of 0's rank each round
    val star = Graph(Seq((0L, 1L, 9L), (0L, 2L, 1L))
      .toDF("src", "dst", "weight"))
    val pr = PageRank.fixedIterationsWeighted(star, 5).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pr(1L) > pr(2L) * 2,
      s"heavy edge did not skew rank: ${pr(1L)} vs ${pr(2L)}")
    assert(math.abs(pr.values.sum - 1.0) < 1e-6, "rank mass not conserved")
  }

  test("diameter double sweep: exact on a path, 1 on a clique") {
    val path = mkGraph((1L until 12L).map(i => (i, i + 1)): _*)
    val r1 = ShortestPaths.diameterDoubleSweep(path).head()
    assert(r1.getLong(0) == 1L && r1.getLong(1) == 12L &&
      r1.getLong(2) == 11L, s"path sweep: $r1")
    val clique = mkGraph((for {
      i <- 1L to 5L; j <- (i + 1) to 5L
    } yield (i, j)): _*)
    val r2 = ShortestPaths.diameterDoubleSweep(clique).head()
    assert(r2.getLong(2) == 1L, s"clique diameter_lb: $r2")
    // only the min-id component is swept
    val two = mkGraph((1L, 2L), (2L, 3L), (100L, 101L))
    val r3 = ShortestPaths.diameterDoubleSweep(two).head()
    assert(r3.getLong(0) == 1L && r3.getLong(2) == 2L, s"components: $r3")
  }

  test("betweenness: all-landmark accumulation equals 2x exact Brandes") {
    // path 1-2-3-4-5: unordered-pair betweenness is 3/4/3 for the interior
    // vertices, 0 at the ends; with landmarks = ALL vertices the
    // accumulated dependency is exactly twice that (each pair counted
    // from both endpoints)
    val path = mkGraph((1L to 4L).map(i => (i, i + 1)): _*)
    val bp = Betweenness(path, k = 5).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(bp == Map(1L -> 0.0, 2L -> 6.0, 3L -> 8.0, 4L -> 6.0, 5L -> 0.0),
      s"path betweenness: $bp")
    // diamond (4-cycle) 1-2-4, 1-3-4: every opposite pair has TWO equal
    // shortest paths, so sigma splits the dependency — each vertex
    // carries half of one pair ((1,4) through 2/3, (2,3) through 1/4):
    // exact betweenness 0.5 everywhere, doubled to 1.0
    val diamond = mkGraph((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L))
    val bd = Betweenness(diamond, k = 4).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(bd == Map(1L -> 1.0, 2L -> 1.0, 3L -> 1.0, 4L -> 1.0),
      s"diamond betweenness: $bd")
    // k-landmark subset: only dependencies from the k smallest sources
    val b2 = Betweenness(path, k = 1).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // from source 1 alone: delta(2)=3, delta(3)=2, delta(4)=1
    assert(b2 == Map(1L -> 0.0, 2L -> 3.0, 3L -> 2.0, 4L -> 1.0, 5L -> 0.0),
      s"single-landmark dependencies: $b2")
  }

  test("canonical-pairs build has the identical undirected view") {
    // every constructor — raw rows, per-pair counts, canonical (src <=
    // dst) pairs and the raw-edge build in one block and in several — on
    // rows with self-loops, both orientations of a pair and repeated
    // rows, against the general formulations in GraphReferences: the same
    // unweighted and weighted views and a slot CSR holding the reference
    // adjacency
    def same(x: DataFrame, y: DataFrame, msg: String) =
      assert(x.exceptAll(y).count() == 0 && y.exceptAll(x).count() == 0, msg)
    val planted = Seq((1L, 2L), (2L, 1L), (1L, 2L), (3L, 3L), (3L, 3L),
      (4L, 5L), (5L, 6L), (6L, 4L), (4L, 5L), (7L, 7L), (2L, 3L), (9L, 8L))
      .toDF("src", "dst")
    val rmat = RMat.edges(spark, RMat.Params(scale = 8))
    Seq("planted" -> planted, "rmat+planted" -> rmat.union(planted)).foreach {
      case (shape, r) =>
        val undirected = GraphReferences.undirected(r).localCheckpoint(true)
        val weighted = GraphReferences.weightedUndirected(r)
          .localCheckpoint(true)
        val adjacency = GraphReferences.adjacency(r)
        val canonical = r
          .select(least(col("src"), col("dst")).as("src"),
            greatest(col("src"), col("dst")).as("dst"))
          .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("weight"))
        val several = Graph.fromRawEdges(r, rowsPerPartition = r.count() / 2)
        Seq("raw rows" -> Graph(r),
          "per-pair counts" -> Graph(r.groupBy(col("src"), col("dst"))
            .agg(count(lit(1)).as("weight"))),
          "canonical pairs" -> Graph(canonical),
          "fromRawEdges, one block" -> Graph.fromRawEdges(r),
          "fromRawEdges, several blocks" -> several).foreach { case (c, g) =>
          val what = s"$shape, $c"
          same(g.cachedUndirected, undirected, s"$what: unweighted view")
          same(g.cachedWeightedUndirected, weighted, s"$what: weighted view")
          val b = Csr.cachedOrBuild(g).getOrElse(fail(s"$what: declined"))
          assert(GraphReferences.adjacency(b) == adjacency,
            s"$what: slot CSR adjacency")
          if (c.startsWith("fromRawEdges"))
            same(g.edges, canonical, s"$what: canonical edges")
          if (g eq several) assert(b.rdd.getNumPartitions >= 3,
            s"$what: the multi-block build is not")
          Csr.release(g)
        }
    }
  }

  test("release frees every RDD of a raw-edge graph") {
    // and of a graph built from edges, with and without a weight column
    val raw = RMat.edges(spark, RMat.Params(scale = 8))
    val sc = spark.sparkContext
    val builds = Seq[(String, () => Graph)](
      "raw-edge" -> (() =>
        Graph.fromRawEdges(raw, rowsPerPartition = raw.count() / 2)),
      "edges" -> (() => Graph(raw)),
      "weighted edges" -> (() => Graph(raw.withColumn("weight", lit(2L)))))
    for ((what, build) <- builds; withCsr <- Seq(true, false)) {
      val before = sc.getPersistentRDDs.keySet
      val g = build()
      g.cachedUndirected.count()
      if (withCsr) assert(Csr.cachedOrBuild(g).nonEmpty)
      Csr.release(g)
      val left = sc.getPersistentRDDs.keySet -- before
      assert(left.isEmpty, s"$what, csr built: $withCsr; release left " +
        left.toSeq.sorted.map(id => sc.getPersistentRDDs(id).toDebugString)
          .mkString("\n"))
    }
  }

  test("graph build: weight sums, one entry per pair, no null vertex") {
    def same(x: DataFrame, y: DataFrame, msg: String) =
      assert(x.exceptAll(y).count() == 0 && y.exceptAll(x).count() == 0, msg)
    // parallel edges in both orientations, a BIGINT weight of 10^6, a
    // repeated self-loop, and rows with a null endpoint
    val rows = Seq[(java.lang.Long, java.lang.Long, Long)](
      (1L, 2L, 1L), (1L, 2L, 2L), (2L, 1L, 3L), (2L, 3L, 1000000L),
      (3L, 3L, 4L), (3L, 3L, 5L), (3L, 4L, 1L), (null, 5L, 7L),
      (6L, null, 7L), (null, null, 1L)).toDF("src", "dst", "weight")
    val g = Graph(rows)
    same(g.cachedWeightedUndirected, GraphReferences.weightedUndirected(rows),
      "weighted view differs from the reference sums")
    // (1,2) (2,1) (2,3) (3,2) (3,3) (3,4) (4,3): the 10^6 weight is one
    // entry, not 10^6 repeats
    val b = Csr.cachedOrBuild(g).getOrElse(fail("declined"))
    val entries = b.rdd.map(_._3.length.toLong).fold(0L)(_ + _)
    assert(entries == 7L && g.cachedWeightedUndirected.count() == 7L,
      s"packed $entries entries, want 7")
    // a null endpoint names no vertex (not id 0, not its other end)
    assert(b.ids.toSeq == Seq(1L, 2L, 3L, 4L), s"slot ids ${b.ids.toSeq}")
    assert(ConnectedComponents(g).collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L))
    val memo = Graph(rows, memoizeAnalytics = true)
    same(PageRank.fixedIterationsWeighted(g),
      PageRank.fixedIterationsWeighted(memo),
      "weighted PageRank differs between ad-hoc and memoized graphs")
    Seq(g, memo).foreach(Csr.release)
  }

  test("a graph's declared src partitioning holds row by row") {
    // one block (one shuffle partition), a forced multi-block build, and
    // builds merged from the session's 4 shuffle partitions into 1 and 2
    // blocks: a join of the view with a frame hash-partitioned on src to
    // the same count exchanges only that frame, and gives the rows of the
    // same join over an undeclared copy of the view
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val plans = new AdaptiveSparkPlanHelper {}
    def same(x: DataFrame, y: DataFrame, msg: String) =
      assert(x.exceptAll(y).count() == 0 && y.exceptAll(x).count() == 0, msg)
    val raw = RMat.edges(spark, RMat.Params(scale = 8))
    val rows = GraphReferences.undirected(raw).count()
    def withConf[T](k: String, v: String)(body: => T): T = {
      val old = spark.conf.getOption(k)
      spark.conf.set(k, v)
      try body finally old.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
    val builds = Seq(
      "one block" -> (1, withConf("spark.sql.shuffle.partitions", "1") {
        val g = Graph(raw); g.cachedUndirected; g
      }),
      "multi-block" -> (4, Graph.fromRawEdges(raw, rowsPerPartition = 1)),
      "merged into 1" -> (1, Graph(raw)),
      "merged into 2" ->
        (2, Graph.fromRawEdges(raw, rowsPerPartition = rows / 2 + 1)))
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      builds.foreach { case (what, (t, g)) =>
        val view = g.cachedUndirected
        assert(view.rdd.getNumPartitions == t, s"$what: blocks")
        val other = raw.select(col("src"), col("dst").as("o"))
          .repartition(t, col("src"))
        val q = view.join(other, "src")
        q.collect()
        val shuffles = plans.collect(q.queryExecution.executedPlan) {
          case s: ShuffleExchangeLike => s
        }
        assert(shuffles.size == 1,
          s"$what: not a one-sided exchange:\n${q.queryExecution.executedPlan}")
        val undeclared = spark.createDataFrame(view.rdd, view.schema)
        same(q, undeclared.join(other, "src"),
          s"$what: the declared partitioning lost join rows")
        Csr.release(g)
      }
    }
  }

  test("a raw-edge graph's views are declared src-partitioned") {
    // consumers that cluster on src read the view with no exchange
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    // walks into AQE's query stages, which a plain collect stops at
    val plans = new AdaptiveSparkPlanHelper {}
    val raw = RMat.edges(spark, RMat.Params(scale = 8)).select("src", "dst")
    Seq(1000000L, raw.count() / 2).foreach { rows =>
      val g = Graph.fromRawEdges(raw, rowsPerPartition = rows)
      val q = g.cachedUndirected.groupBy("src").count()
      q.collect()
      val plan = q.queryExecution.executedPlan
      val shuffles = plans.collect(plan) { case s: ShuffleExchangeLike => s }
      assert(shuffles.isEmpty,
        s"rowsPerPartition $rows: a src aggregate exchanged the view:\n$plan")
      Csr.release(g)
    }
  }

  test("converged pagerank paths equal the dense formulation") {
    // the Chebyshev and CSR paths `converged` dispatches to must land on
    // the same fixpoint the dense power iteration reaches, on every graph
    // shape and both state paths
    val planted = mkGraph((1L, 2L), (2L, 3L), (10L, 11L), (3L, 1L))
    val rmat = RMat.graph(spark, RMat.Params(scale = 8))
    Seq(planted, rmat, Graph.fromTpch(spark, TestSpark.sfTiny)).foreach { g =>
      Seq(true, false).foreach { bcast =>
        val b = GraphReferences.densePagerank(g, broadcastVertices = bcast)
          .withColumnRenamed("pr", "prb").localCheckpoint(true)
        Seq(
          "cheby" -> PageRank.convergedCheby(g, broadcastVertices = bcast),
          "csr" -> PageRank.convergedCsr(g)
            .getOrElse(fail("csr path ineligible on a small-id test graph"))
        ).foreach { case (name, alt) =>
          val a = alt.withColumnRenamed("pr", "pra")
          val joined = a.join(b, Seq("id"), "full_outer")
          assert(joined.filter(col("pra").isNull || col("prb").isNull)
            .count() == 0, s"$name and dense rank different vertex sets")
          val maxDiff = joined
            .agg(max(abs(col("pra") - col("prb")))).head().getDouble(0)
          assert(maxDiff < 1e-6,
            s"$name vs dense diverged: maxDiff=$maxDiff bcast=$bcast")
        }
      }
    }
  }

  test("chebyshev pagerank drops every superseded round checkpoint") {
    // each round checkpoints eagerly and drops its predecessor, so the
    // whole run leaves only the returned state persisted
    val g = RMat.graph(spark, RMat.Params(scale = 8))
    g.cachedUndirected.count()
    val sc = spark.sparkContext
    Seq(true, false).foreach { bcast =>
      val before = sc.getPersistentRDDs.size
      val pr = PageRank.convergedCheby(g, broadcastVertices = bcast)
      assert(pr.count() > 0)
      val grown = sc.getPersistentRDDs.size - before
      assert(grown <= 1,
        s"convergedCheby left $grown persisted RDDs (bcast=$bcast)")
    }
  }

  test("personalized pagerank: source-set-uniform equals global pagerank") {
    // teleport to ALL vertices with uniform mass == the global formula,
    // including the 1/nv initial state — bit-identical arithmetic
    val g = Graph.fromTpch(spark, TestSpark.sfTiny)
    val all = g.cachedUndirected.select("src").distinct()
      .collect().map(_.getLong(0)).toSeq
    val ppr = PageRank.personalized(g, all, 5).withColumnRenamed("pr", "pra")
    val global = PageRank.fixedIterations(g, 5).withColumnRenamed("pr", "prb")
    assert(ppr.join(global, "id").filter(col("pra") =!= col("prb")).count() == 0)
  }

  test("personalized pagerank: mass conserved, proximity to the source") {
    // star 1-0, 0-2, 0-3 with source 1: mass sums to 1 (symmetrized graph
    // has no dangling vertices), equidistant leaves tie, and the source
    // leaf outranks them (it alone receives teleport mass)
    val g = mkGraph((1L, 0L), (0L, 2L), (0L, 3L))
    val pr = PageRank.personalized(g, Seq(1L), 20).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(pr.values.sum - 1.0) < 1e-6)
    assert(math.abs(pr(2L) - pr(3L)) < 1e-9)
    assert(pr(1L) > pr(2L))
  }

  test("edge updates: insert new, delete existing, delete-then-insert") {
    val base = Seq((1L, 2L, 5L), (3L, 4L, 1L), (5L, 6L, 2L))
      .toDF("src", "dst", "weight")
    val actions = Seq(
      (7L, 8L, false, 1L),  // insert brand-new edge
      (3L, 4L, true, 2L),   // delete existing
      (5L, 6L, true, 3L),   // delete existing...
      (5L, 6L, false, 4L),  // ...then insert again => weight 1
      (1L, 2L, false, 5L)   // duplicate insert => weight 6
    ).toDF("src", "dst", "is_del", "action_id")
    val out = EdgeUpdates(base, actions).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out == Map((1L, 2L) -> 6L, (5L, 6L) -> 1L, (7L, 8L) -> 1L))
  }

  type BaseRow = (Option[Long], Option[Long], Option[Long])
  type ActionRow = (Option[Long], Option[Long], Boolean, Long)
  type MergedRow = (Option[Long], Option[Long], Long, Long)

  /** The update log replayed on the driver: every base row, and every
    * touched pair no base row has (from weight 0), runs its pair's actions
    * in action_id order — a delete zeroes the weight, an insert adds one.
    * A null endpoint matches nothing: such a base row runs no action, and
    * such actions run on their own pair.
    */
  def replayMerge(base: Seq[BaseRow], actions: Seq[ActionRow]): Seq[MergedRow] = {
    val byPair = actions.groupBy(a => (a._1, a._2))
      .map { case (k, as) => k -> as.sortBy(_._4) }
    def replay(w: Long, as: Seq[ActionRow]): Long =
      as.foldLeft(w)((x, a) => if (a._3) 0L else x + 1L)
    val keyed: Set[(Option[Long], Option[Long])] =
      base.collect { case (s @ Some(_), d @ Some(_), _) => (s, d) }.toSet
    base.map { case (s, d, w) =>
      val as = if (keyed((s, d))) byPair.getOrElse((s, d), Nil) else Nil
      (s, d, replay(w.getOrElse(0L), as), w.getOrElse(0L))
    } ++ byPair.collect { case (k, as) if !keyed(k) => (k._1, k._2, replay(0L, as), 0L) }
  }

  /** Named merge fixtures, then randomized ones over a small key space
    * (collisions, duplicate base rows, null endpoints and weights,
    * action ids out of row order).
    */
  def mergeFixtures: Seq[(String, Seq[BaseRow], Seq[ActionRow])] = {
    def b(s: Long, d: Long, w: Long): BaseRow = (Some(s), Some(d), Some(w))
    def ins(s: Long, d: Long, id: Long): ActionRow = (Some(s), Some(d), false, id)
    def del(s: Long, d: Long, id: Long): ActionRow = (Some(s), Some(d), true, id)
    val named = Seq(
      ("delete-then-insert", Seq(b(1, 2, 5), b(3, 4, 2)),
        Seq(del(1, 2, 1), ins(1, 2, 2), ins(3, 4, 4), del(3, 4, 3))),
      ("insert-then-delete", Seq(b(1, 2, 5)),
        Seq(del(1, 2, 2), ins(1, 2, 1), ins(5, 6, 3), del(5, 6, 4))),
      ("duplicate inserts", Seq(b(1, 2, 5)),
        Seq(ins(1, 2, 1), ins(1, 2, 2), ins(3, 4, 3), ins(3, 4, 4))),
      ("deletes of absent pairs", Seq(b(1, 2, 5)),
        Seq(del(7, 8, 1), del(7, 8, 2), del(2, 1, 3))),
      ("empty log", Seq(b(1, 2, 5), b(3, 4, 1)), Nil),
      ("empty base", Nil, Seq(ins(1, 2, 1), del(1, 2, 2), ins(3, 4, 3))),
      ("null endpoints",
        Seq((None, Some(2L), Some(5L)), (Some(1L), None, Some(1L)),
          (Some(1L), Some(2L), None), (None, None, Some(4L))),
        Seq((None, Some(2L), false, 1L), (None, Some(2L), false, 2L),
          (Some(1L), None, true, 3L), (Some(1L), Some(2L), false, 4L),
          (None, None, false, 5L))),
      ("duplicate base rows", Seq(b(1, 2, 5), b(1, 2, 3), (Some(3L), Some(4L), None)),
        Seq(ins(1, 2, 1), ins(3, 4, 2), del(1, 2, 0))))
    val rnd = new scala.util.Random(15)
    def key(nulls: Double): Option[Long] =
      if (rnd.nextDouble() < nulls) None else Some(rnd.nextInt(5).toLong)
    val random = (1 to 8).map { i =>
      val base = Seq.fill(rnd.nextInt(25))((key(0.05), key(0.05),
        if (rnd.nextDouble() < 0.1) None else Some(rnd.nextInt(9).toLong)))
      val ids = rnd.shuffle((1 to rnd.nextInt(60)).toList)
      (s"random $i", base,
        ids.map(id => (key(0.03), key(0.03), rnd.nextDouble() < 0.4, id.toLong)))
    }
    named ++ random
  }

  test("edge updates: the merge kernel equals a driver replay of the log") {
    // three base layouts: laid out as the merge lays it out (read in
    // place), unpartitioned, and hash-partitioned on (src, dst) at another
    // n (read in place at that n); the log in several partitions (each
    // merge task resolves its own actions) and in one (one task resolves
    // it and ships per-pair deltas); the count is taken and given in turn
    val layouts: Seq[(String, DataFrame => DataFrame)] = Seq(
      ("hash-partitioned on (src, dst)", _.repartition(4, col("src"), col("dst"))),
      ("unpartitioned", _.repartition(3)),
      ("hash-partitioned at n = 7", _.repartition(7, col("src"), col("dst"))))
    val logs: Seq[(String, DataFrame => DataFrame)] = Seq(
      ("a log in 3 partitions", _.repartition(3)),
      ("a one-partition log", _.coalesce(1)))
    def opt(r: org.apache.spark.sql.Row, i: Int): Option[Long] =
      if (r.isNullAt(i)) None else Some(r.getLong(i))
    mergeFixtures.zipWithIndex.foreach { case ((name, base, actions), f) =>
      val want = replayMerge(base, actions).sorted
      for (((layout, lay), l) <- layouts.zipWithIndex; (log, split) <- logs) {
        val b = lay(base.toDF("src", "dst", "weight"))
        val acts = split(actions.toDF("src", "dst", "is_del", "action_id"))
        val known = if ((f + l) % 2 == 0) None else Some(actions.size.toLong)
        val got = EdgeUpdates.applyAnnotated(b, acts, known).collect()
          .map(r => (opt(r, 0), opt(r, 1), r.getLong(2), r.getLong(3))).toSeq
        assert(got.sorted == want, s"$name, $layout base, $log")
        val survivors = EdgeUpdates(b, acts, known).collect()
          .map(r => (opt(r, 0), opt(r, 1), r.getLong(2))).toSeq
        assert(survivors.sorted == want.filter(_._3 > 0).map(w => (w._1, w._2, w._3)),
          s"$name, $layout base, $log: survivors")
      }
    }
  }

  test("edge updates: the merge output is hash-partitioned on (src, dst) as it declares") {
    // every row sits in partition pmod(hash(src, dst), n) — for a base
    // merged in place and for one the merge exchanged — and an aggregate
    // on (src, dst) plans no exchange
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val plans = new AdaptiveSparkPlanHelper {}
    val edges = Graph.fromTpch(spark, TestSpark.sfTiny).edges
      .select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"), col("weight"))
    val acts = EdgeUpdates.actionsFromEvents(spark, TestSpark.sfTiny)
    // exchanged into the base's 3 partitions; read in place at 5
    Seq((edges.repartition(3), 3),
        (edges.repartition(5, col("src"), col("dst")), 5)).foreach {
      case (base, want) =>
        val out = EdgeUpdates.applyAnnotated(base, acts)
        val n = out.rdd.getNumPartitions
        assert(n == want, s"merged into $n partitions, expected $want")
        val misplaced = out.filter(spark_partition_id() =!=
          pmod(hash(col("src"), col("dst")), lit(n))).count()
        assert(misplaced == 0, s"$misplaced rows off their partition (n = $n)")
        val q = out.groupBy("src", "dst").count()
        q.collect()
        val shuffles = plans.collect(q.queryExecution.executedPlan) {
          case s: ShuffleExchangeExec => s
        }
        assert(shuffles.isEmpty, "an aggregate on (src, dst) exchanged:\n" +
          q.queryExecution.executedPlan)
    }
  }

  test("edge updates: a merge over a checkpointed merge exchanges only its actions") {
    // the streaming maintainers' shape: the edge state is the previous
    // merge's checkpointed survivors, so the next merge reads it in place
    // and only the batch's actions exchange
    import org.apache.spark.rdd.RDD
    def shuffles(rdd: RDD[_]): Boolean = rdd.dependencies.exists {
      case _: org.apache.spark.ShuffleDependency[_, _, _] => true
      case d => shuffles(d.rdd)
    }
    // (base side, action side) of the merge that produced `df`
    def sides(df: DataFrame): (RDD[_], RDD[_]) = {
      var r: RDD[_] = df.queryExecution.toRdd
      while (r.dependencies.size == 1) r = r.dependencies.head.rdd
      assert(r.dependencies.size == 2, s"no zip in\n${r.toDebugString}")
      (r.dependencies(0).rdd, r.dependencies(1).rdd)
    }
    val base = Seq((1L, 2L, 5L), (3L, 4L, 1L), (5L, 6L, 2L))
      .toDF("src", "dst", "weight").repartition(3)
    val batch1 = Seq((7L, 8L, false, 1L), (3L, 4L, true, 2L))
      .toDF("src", "dst", "is_del", "action_id")
    val batch2 = Seq((7L, 8L, true, 3L), (5L, 6L, false, 4L))
      .toDF("src", "dst", "is_del", "action_id")
    val first = EdgeUpdates.merge(base, batch1, None)
    assert(shuffles(sides(first)._1), "an unpartitioned base must exchange")
    val state = first.localCheckpoint(true).filter(col("weight") > 0L)
      .select(col("src"), col("dst"), col("weight"))
    val second = EdgeUpdates.merge(state, batch2, None)
    val (stateSide, actionSide) = sides(second)
    assert(!shuffles(stateSide), "the checkpointed state exchanged again:\n" +
      stateSide.toDebugString)
    assert(shuffles(actionSide), "the actions must exchange")
    assert(second.filter(col("weight") > 0L).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap ==
      Map((1L, 2L) -> 5L, (5L, 6L) -> 3L))
    // a stream's snapshot of a base cached on (src, dst) keeps that
    // layout, so the first batch's merge reads it in place too
    val keyed = graft.core.Partitioning.cachedSizedBy(base, Seq("src", "dst"))
    val snapshot = org.apache.spark.sql.graftbridge.FrameBridge
      .localCheckpoint(keyed, Seq("src", "dst"))
    keyed.unpersist(blocking = true)
    assert(!shuffles(sides(EdgeUpdates.merge(snapshot, batch1, None))._1),
      "the snapshot of a keyed cache exchanged")
    assert(snapshot.collect().toSet == base.collect().toSet)
  }

  test("triangles: five 5-cliques have 50 triangles") {
    val n = Triangles.count(Triangles.nationEdges(spark, TestSpark.sfTiny))
      .head().getLong(0)
    assert(n == 50L)
  }

  test("oriented triangle count equals the unoriented count") {
    // the clique fixture (known answer) …
    val ne = Triangles.nationEdges(spark, TestSpark.sfTiny)
    assert(Triangles.orientedCount(ne).head().getLong(0) == 50L)
    // … and the SF-scaling part co-occurrence graph: the orientation must
    // not change the count, only the wedge-candidate bound
    val pe = Triangles.partCoOrderEdges(spark, TestSpark.sfTiny)
    val unoriented = Triangles.count(pe).head().getLong(0)
    val oriented = Triangles.orientedCount(pe).head().getLong(0)
    assert(oriented == unoriented && oriented > 0,
      s"oriented=$oriented unoriented=$unoriented")
  }

  test("k-truss: clique fixture exact; part graph is a self-consistent fixpoint") {
    // five 5-cliques: every edge closes exactly 3 triangles ⇒ the k=5
    // truss is the whole graph with support 3 everywhere, and the k=6
    // truss is empty
    val ne = Triangles.nationEdges(spark, TestSpark.sfTiny)
    val t5 = Triangles.kTruss(ne, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(t5.length == 50 && t5.forall(_._3 == 3L))
    assert(Triangles.kTruss(ne, k = 6).count() == 0L)
    // SF-scaling part graph: every reported support must equal the edge's
    // recomputed triangle count WITHIN the truss subgraph and pass the
    // k−2 bar (the fixpoint definition, checked independently in memory)
    val out = Triangles.kTruss(Triangles.partCoOrderEdges(spark, TestSpark.sfTiny))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty)
    val edgeSet = out.map(r => (r._1, r._2)).toSet
    val adj = out.flatMap(r => Seq(r._1 -> r._2, r._2 -> r._1))
      .groupBy(_._1).map { case (k2, vs) => k2 -> vs.map(_._2).toSet }
    out.foreach { case (u, v, s) =>
      val common = (adj(u) & adj(v)).size
      assert(s == common.toLong, s"edge ($u,$v): support $s != $common")
      assert(s >= 3L)
    }
    assert(edgeSet.forall { case (u, v) => u < v })
  }

  test("landmark BFS: each landmark's slice equals its single-source BFS") {
    val g = Graph.fromTpch(spark, TestSpark.sfTiny)
    val lmd = LandmarkDistances(g, k = 3)
    val landmarks = lmd.select("landmark").distinct()
      .collect().map(_.getLong(0)).sorted
    assert(landmarks.length == 3)
    landmarks.foreach { lm =>
      val slice = lmd.filter(col("landmark") === lm).select("id", "dist")
      val solo = ShortestPaths(g, lm)
      assert(slice.exceptAll(solo).count() == 0, s"landmark $lm: extra rows")
      assert(solo.exceptAll(slice).count() == 0, s"landmark $lm: missing rows")
    }
  }

  test("clustering coefficient: cliques are 1.0, per-vertex counts match brute force") {
    // every nation sits in a 5-clique: deg 4, T = C(4,2) = 6, coeff = 1
    val cc = Triangles.localClustering(Triangles.nationEdges(spark, TestSpark.sfTiny))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(cc.length == 25)
    cc.foreach { case (id, (d, t, c)) =>
      assert(d == 4L && t == 6L && c == 1.0, s"nation $id: deg=$d t=$t coeff=$c")
    }
    // SF-scaling part graph: oriented per-vertex counts = unoriented corners
    val pe = Triangles.partCoOrderEdges(spark, TestSpark.sfTiny)
      .distinct().localCheckpoint(true)
    val brute = pe.as("e1")
      .join(pe.as("e2"), col("e1.v") === col("e2.u"))
      .join(pe.as("e3"), col("e1.u") === col("e3.u") && col("e2.v") === col("e3.v"))
      .select(explode(array(col("e1.u"), col("e1.v"), col("e2.v"))).as("id"))
      .groupBy("id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Triangles.localClustering(pe)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got.filter(_._2 > 0) == brute, "per-vertex triangle counts differ")
  }

  test("graph algorithms are total on the empty graph") {
    import spark.implicits._
    val g = Graph(Seq.empty[(Long, Long, Long)].toDF("src", "dst", "weight"))
    assert(ConnectedComponents(g).count() == 0)
    assert(ConnectedComponents.alternating(g).count() == 0)
    assert(Degrees(g).count() == 0)
    assert(ShortestPaths.fromMinVertex(g).count() == 0)
    assert(PageRank.fixedIterations(g, 3).count() == 0)
    assert(PageRank.converged(g).count() == 0)
  }

  test("iterative algorithms: broadcast-state off equals broadcast-state on") {
    // the 100 TB path: state tables too big to broadcast fall back to
    // shuffle joins on the vertex key — results must be identical
    val g = Graph.fromTpch(spark, TestSpark.sfTiny)
    val src = g.cachedUndirected.agg(min(col("src"))).head().getLong(0)
    val pairs = Seq(
      (ConnectedComponents(g), ConnectedComponents(g, broadcastVertices = false)),
      (ShortestPaths(g, src), ShortestPaths(g, src, broadcastState = false)),
      (WeightedShortestPaths(g, src),
        WeightedShortestPaths(g, src, broadcastState = false)),
      (PageRank.fixedIterations(g, 5),
        PageRank.fixedIterations(g, 5, broadcastVertices = false)))
    pairs.foreach { case (on, off) =>
      assert(on.exceptAll(off).count() == 0 && off.exceptAll(on).count() == 0,
        "shuffle-join fallback disagrees with broadcast path")
    }
  }

  test("rmat actions: deterministic, delete mix, and valid delete targets") {
    val p = RMat.Params(scale = 8)
    val na = 4000L
    val a1 = RMat.actions(spark, p, na, pDelete = 0.25).localCheckpoint(true)
    val a2 = RMat.actions(spark, p, na, pDelete = 0.25)
    assert(a1.count() == na)
    assert(a1.exceptAll(a2).count() == 0, "generator is not deterministic")
    // ~25% deletes (binomial sd ≈ 0.007 at n=4000)
    val dels = a1.filter(col("is_del")).count().toDouble / na
    assert(math.abs(dels - 0.25) < 0.05, s"delete fraction $dels")
    // inserts never self-loop (the reference redraws, rmatter.c:350-353)
    assert(a1.filter(!col("is_del") && col("src") === col("dst")).count() == 0)
    // every delete targets a base-graph edge or an earlier insert's edge
    val base = RMat.graph(spark, p).edges.select(col("src"), col("dst"))
    val priorIns = a1.filter(!col("is_del"))
      .select(col("action_id").as("ins_id"), col("src"), col("dst"))
    val bad = a1.filter(col("is_del")).as("d")
      .join(base.as("g"), col("d.src") === col("g.src") &&
        col("d.dst") === col("g.dst"), "left_anti")
      .join(priorIns.as("i"), col("d.src") === col("i.src") &&
        col("d.dst") === col("i.dst") && col("i.ins_id") < col("d.action_id"),
        "left_anti")
    assert(bad.count() == 0, "delete of an edge nobody inserted")
  }

  test("rmat: deterministic, right size, bounded ids, skewed degrees") {
    val p = RMat.Params(scale = 8)
    val e1 = RMat.edges(spark, p)
    assert(e1.count() == (1L << 8) * 8)
    assert(e1.filter(col("src") >= (1L << 8) || col("dst") >= (1L << 8)).count() == 0)
    val e2 = RMat.edges(spark, p)
    assert(e1.exceptAll(e2).count() == 0)
    // power-law-ish: max degree well above average (avg = 16 for ef=8 sym)
    val maxDeg = Degrees(RMat.graph(spark, p)).agg(max("degree")).head().getLong(0)
    assert(maxDeg > 30)
  }

  test("k-core: peels a planted structure and matches a sequential peel") {
    // triangle+tail: {1,2,3} is the 2-core; 4-5 dangle off it
    val g = mkGraph((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
    val core = KCore(g, k = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core == Map(1L -> 2L, 2L -> 2L, 3L -> 2L), s"got $core")
    // k above the max degree peels everything
    assert(KCore(g, k = 4).count() == 0)
    // real graph: every core member keeps >= k induced neighbors, and the
    // result equals a driver-side sequential peel
    val gt = Graph.fromTpch(spark, TestSpark.sfTiny)
    val k = 16
    val out = KCore(gt, k).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.values.forall(_ >= k), "core member below k induced degree")
    var adj = GraphReferences.undirected(gt.edges).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (v, es) => v -> es.map(_._2).toSet }
    var changed = true
    while (changed) {
      val keep = adj.collect { case (v, ns) if ns.size >= k => v }.toSet
      val next = adj.collect { case (v, ns) if keep(v) =>
        v -> ns.intersect(keep) }.filter(_._2.nonEmpty)
      changed = next != adj
      adj = next
    }
    assert(out == adj.map { case (v, ns) => v -> ns.size.toLong },
      "distributed peel disagrees with sequential peel")
  }

  test("label propagation: planted communities and a sequential replay") {
    def replay(sym: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
      val adj = sym.groupBy(_._1).map { case (v, es) => v -> es.map(_._2) }
      var lbl = adj.keys.map(v => v -> v).toMap
      for (_ <- 1 to rounds) {
        lbl = adj.map { case (v, ns) =>
          val counts = ns.groupBy(lbl).map { case (l, xs) => l -> xs.size }
          v -> counts.toSeq.sortBy { case (l, c) => (-c, l) }.head._1
        }
      }
      lbl
    }
    // two triangles joined by a bridge: labels localize to each triangle
    val planted = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L), (3L, 10L))
    val g = mkGraph(planted: _*)
    val out = LabelPropagation(g, rounds = 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sym = (planted ++ planted.map(_.swap)).distinct
    assert(out == replay(sym, 5), "planted-graph LPA disagrees with replay")
    assert(out(1L) == 1L && out(2L) == 1L && out(11L) == out(12L))
    // real graph: exact agreement with the sequential replay
    val gt = Graph.fromTpch(spark, TestSpark.sfTiny)
    val symT = GraphReferences.undirected(gt.edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val outT = LabelPropagation(gt, rounds = 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(outT == replay(symT, 5), "TPC-H-graph LPA disagrees with replay")
  }

  test("converged-distance memos: session-memoized graphs reuse the " +
      "instance, ad-hoc graphs never enter the cache") {
    // the r8 contract behind the incremental streams' init reuse: the
    // memoized graph's converged BFS/weighted/landmark tables come back
    // REFERENCE-identical on repeat calls (same checkpointed frame, no
    // recompute), while an ad-hoc fixture graph builds privately each
    // time (caching it would pin a checkpoint per construction forever —
    // Graph.memoizeAnalytics's leak contract)
    val g = Graph.fromTpch(spark, TestSpark.sfTiny)
    val src = g.cachedUndirected.agg(min(col("src"))).head().getLong(0)
    assert(ShortestPaths(g, src) eq ShortestPaths(g, src))
    assert(WeightedShortestPaths(g, src) eq WeightedShortestPaths(g, src))
    assert(LandmarkDistances(g, k = 2) eq LandmarkDistances(g, k = 2))
    // fromMinVertex fills the SAME memo the explicit-source call reads
    assert(ShortestPaths.fromMinVertex(g) eq ShortestPaths(g, src))
    val adhoc = mkGraph((1L, 2L), (2L, 3L))
    assert(!(ShortestPaths(adhoc, 1L) eq ShortestPaths(adhoc, 1L)))
    // and the memoized result is still the right table
    val d = ShortestPaths(g, src).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d(src) == 0L && d.values.max > 0L)
  }

  test("coreness: planted fixture and a sequential level-peel replay") {
    // triangle {1,2,3} = 2-core; 3-4-5 tail peels at level 1
    val g = mkGraph((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
    val out = Coreness(g).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 1L, 5L -> 1L),
      s"got $out")
    // real graph: h-iteration fixpoint equals the exact sequential
    // Matula-Beck level peel (coreness = level at which a vertex peels)
    val gt = Graph.fromTpch(spark, TestSpark.sfTiny)
    val dist = Coreness(gt).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    var adj = GraphReferences.undirected(gt.edges).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (v, es) => v -> es.map(_._2).toSet }
    var k = 1
    val seq = scala.collection.mutable.Map.empty[Long, Long]
    while (adj.nonEmpty && k < 1000) {
      val peel = adj.collect { case (v, ns) if ns.size < k => v }.toSet
      if (peel.isEmpty) k += 1
      else {
        peel.foreach(v => seq(v) = (k - 1).toLong)
        adj = adj.collect { case (v, ns) if !peel(v) =>
          v -> (ns -- peel) }.toMap
      }
    }
    assert(dist == seq.toMap, "h-iteration disagrees with level peel")
    // consistency with fixed-k membership: coreness >= k iff in the k-core
    val k16 = KCore(gt, 16).collect().map(_.getLong(0)).toSet
    assert(dist.filter(_._2 >= 16L).keySet == k16)
  }

  test("coreness csr path equals the window-sort h-iteration") {
    // apply() dispatches to the CSR counting-h path (r11);
    // the synchronous schedule must give the SAME round count (the
    // oracleRounds contract) and the same labels as the join path
    val planted = mkGraph((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
    val rmat = RMat.graph(spark, RMat.Params(scale = 8))
    Seq(planted, rmat, Graph.fromTpch(spark, TestSpark.sfTiny)).foreach { g =>
      val (a, ra, ca) = Coreness.csrCoreness(g, 100).get
      val (b, rb, cb) = Coreness.joinCoreness(g)
      assert(ca && cb)
      assert(ra == rb, s"round count differs: csr $ra vs join $rb")
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
        "CSR coreness disagrees with the window-sort h-iteration")
    }
    // sparse ids above 2^25: the CSR path serves them and agrees with the
    // join path
    val off = (1L << 25) + 11L
    val g3 = mkGraph((off, off + 1L), (off + 1L, off + 2L), (off, off + 2L))
    val (c3, cr3, _) = Coreness.csrCoreness(g3, 100)
      .getOrElse(fail("CSR coreness declined sparse ids"))
    val (j3, jr3, _) = Coreness.joinCoreness(g3)
    assert(cr3 == jr3, s"round count differs: csr $cr3 vs join $jr3")
    assert(c3.exceptAll(j3).count() == 0 && j3.exceptAll(c3).count() == 0)
    val out3 = Coreness(g3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out3 == Map(off -> 2L, (off + 1L) -> 2L, (off + 2L) -> 2L))
  }

  test("counting h-pass equals the window h-pass per round to fixpoint") {
    // r12: the join path's per-round h-operator is the sort-free counting
    // aggregation; every intermediate iterate (not just the fixpoint) must
    // match the row_number window formulation the DuckDB oracle unrolls
    val rmat = RMat.graph(spark, RMat.Params(scale = 8))
    val sym = rmat.cachedUndirected.select(col("src"), col("dst"))
    var est = sym.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("est")).localCheckpoint(true)
    var rounds = 0
    var moved = 1L
    while (moved > 0 && rounds < 100) {
      val a = Coreness.hPass(sym, est).localCheckpoint(true)
      val b = GraphReferences.hPassWindow(sym, est)
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
        s"counting h-pass diverged from the window h-pass at round $rounds")
      moved = a.join(est.select(col("id"), col("est").as("prev")), Seq("id"))
        .filter(col("est") =!= col("prev")).count()
      est = a
      rounds += 1
    }
    assert(moved == 0, "h-iteration did not converge on the fixture")
  }

  test("multicontract: chain climb, mutual-pair unmatch, contraction") {
    // weighted path 1-2 (10), 2-3 (20), 3-4 (30): 3<->4 are a mutual
    // equal-score best pair (both unmatch, the reference filter_scores
    // semantics), 1->2->3 is a strictly score-increasing chain that
    // climbs to root 3 and contracts; fixpoint by round 2
    val g = Graph(Seq((1L, 2L, 10L), (2L, 3L, 20L), (3L, 4L, 30L))
      .toDF("src", "dst", "weight"))
    val out = MultiContract(g, rounds = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 4L), s"got $out")
    // real graph: a partition of the vertex set, deterministic, and
    // idempotent past the fixpoint (extra rounds change nothing)
    val gt = Graph.fromTpch(spark, TestSpark.sfTiny)
    val r4 = MultiContract(gt, rounds = 4).localCheckpoint(true)
    val nv = gt.cachedUndirected.select(col("src")).distinct().count()
    assert(r4.count() == nv)
    assert(r4.select(col("id")).distinct().count() == nv)
    assert(r4.select(col("community")).distinct().count() < nv,
      "no contraction happened on the real graph")
    val r6 = MultiContract(gt, rounds = 6)
    assert(r4.exceptAll(r6).count() == 0 && r6.exceptAll(r4).count() == 0,
      "rounds past the fixpoint are not idempotent")
    // every community is connected in the original graph: contraction
    // only ever merges along edges
    val adj = GraphReferences.undirected(gt.edges).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (v, es) => v -> es.map(_._2).toSet }
    val comm = r4.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    comm.groupBy(_._2).foreach { case (c, members) =>
      val mset = members.keySet
      val seen = scala.collection.mutable.Set(mset.head)
      var frontier = Set(mset.head)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(adj(_)).intersect(mset) -- seen
        seen ++= frontier
      }
      assert(seen == mset, s"community $c is disconnected")
    }
  }

  test("multicontract: DECIMAL scale path ≡ exact path, cap + unroll guards") {
    val gt = Graph.fromTpch(spark, TestSpark.sfTiny)
    // force the volume over the (test-seam) bound so the same gate-sized
    // graph takes the DECIMAL(38,0) score path — every ordering
    // comparison is still exact integer arithmetic, so the decomposition
    // must be identical to the exact-BIGINT path
    val exact = MultiContract(gt, rounds = 8).localCheckpoint(true)
    val dec = MultiContract(gt, rounds = 8, exactBound = 1L)
      .localCheckpoint(true)
    assert(exact.exceptAll(dec).count() == 0 &&
      dec.exceptAll(exact).count() == 0,
      "DECIMAL scale path diverges from the exact path")
    // rounds is a convergence CAP: a cap below the fixpoint depth fails
    // loudly (naming the cap) instead of returning a partial contraction
    val chain = Graph(Seq((1L, 2L, 10L), (2L, 3L, 20L), (3L, 4L, 30L))
      .toDF("src", "dst", "weight"))
    val capEx = intercept[IllegalStateException] {
      MultiContract(chain, rounds = 1).collect()
    }
    assert(capEx.getMessage.contains("rounds cap (1)"), capEx.getMessage)
    // oracle unroll-depth guard: productive depth > unroll throws loudly
    val unrollEx = intercept[IllegalStateException] {
      MultiContract(gt, rounds = 8, oracleRounds = Some(1)).collect()
    }
    assert(unrollEx.getMessage.contains("unrolled SQL oracle has 1"),
      unrollEx.getMessage)
    // and a deep-enough unroll passes (idempotence: early stop ≤ unroll)
    val ok = MultiContract(gt, rounds = 8, oracleRounds = Some(8))
    assert(ok.exceptAll(exact).count() == 0)
  }

  test("coloring: self-loop-only vertex is colored; coreness maxIter throws") {
    // vertex 1's only incident edge is a self-loop: it must still be
    // colored (degree 0 in the Welsh–Powell priority — self-loops impose
    // no constraint); pre-r11 the inner degs join dropped it from tent
    // and the loop burned all rounds (r10 ADVICE)
    val g = Graph(Seq((1L, 1L, 1L), (2L, 3L, 1L), (3L, 4L, 1L))
      .toDF("src", "dst", "weight"))
    val colored = GraphColoring(g, oracleRounds = Some(4))
      .localCheckpoint(true)
    val got = colored.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L), s"incomplete coloring: $got")
    assert(got(2L) != got(3L) && got(3L) != got(4L), s"improper: $got")
    // an unconverged coreness estimate must never be returned or
    // memoized — h-iteration cut short throws (r10 ADVICE)
    val gt = Graph.fromTpch(spark, TestSpark.sfTiny)
    val ex = intercept[IllegalStateException] {
      Coreness(gt, maxIter = 1).collect()
    }
    assert(ex.getMessage.contains("did not converge"), ex.getMessage)
    // and the converged run still succeeds afterwards (no poisoned memo)
    assert(Coreness(gt).count() > 0)
  }
}
