package graftbench

import java.nio.file.Path
import java.util.SplittableRandom

import org.apache.spark.sql.functions._

import graft.graph.{ConnectedComponents, EdgeUpdates, Graph, PageRank, ShortestPaths}
import graft.ops.Dedup
import graft.sources.StingerFiles
import graft.streaming.EventStream

/** One pass's checks plus values the metrics need (e.g. recall). */
final case class PassOut(checks: Seq[Check], values: Map[String, Double] = Map.empty)

/** A workload's inputs, written to disk, with the expected outputs
  * already computed on the driver.
  */
trait Prepared {
  /** Input sizes, recorded in the artifact. */
  def sizes: Map[String, Any]
  /** Operations one pass attempts (each is checked). */
  def ops: Seq[String]
  /** Work units one pass completes (edges, actions, docs). */
  def units: Double
  /** One pass: timed calls into the program, then untimed checks, then
    * release of everything the pass cached.
    */
  def pass(ctx: Ctx): PassOut
  /** Traced runs only: stand-alone calls into single layers, outside the
    * passes (their cost never enters pass_s).
    */
  def probe(ctx: Ctx): PassOut
  /** Operations the probe attempts (each is checked). */
  def probeOps: Seq[String] = Nil
}

trait Workload {
  def name: String
  def prepare(dir: Path, seed: Long): Prepared
}

object Workloads {
  val all: Seq[Workload] = Seq(RmatBatch, CorpusDedup)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  /** Exact comparison of a collected (id, value) table to an oracle map. */
  def sameMap[V](op: String, got: Map[Long, V], want: Map[Long, V]): Check = {
    val missing = want.keys.count(k => !got.contains(k))
    val extra = got.keys.count(k => !want.contains(k))
    val wrong = want.count { case (k, v) => got.get(k).exists(_ != v) }
    Check(op, missing == 0 && extra == 0 && wrong == 0,
      s"rows=${got.size} expected=${want.size} missing=$missing extra=$extra wrong=$wrong")
  }

  def longPairs(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  def doublePairs(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  /** Per-row mix of an edge row, below 2^31: exact both in Spark SQL and
    * on the driver, for ids and weights below 2^31.
    */
  def mix(src: Long, dst: Long, w: Long): Long =
    Math.floorMod((src * 1000003L + dst) * 31L + w, 2147483647L)

  /** Order-independent checksum of a (src, dst, weight) table: its row
    * count and the sum of [[mix]] over its rows, computed where it lives.
    */
  def edgeChecksum(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(pmod(
      (col("src") * 1000003L + col("dst")) * 31L + col("weight"),
      lit(2147483647L))), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }
}

/** An update log against a canonical (src <= dst) weighted pair table,
  * written in the reference's action format, with the driver's replay of
  * it: a delete zeroes a pair, an insert adds 1.
  */
final class UpdateLog(path: Path, scale: Int, keys: Array[Long],
    weights: Array[Long], na: Int, rng: SplittableRandom) {
  val actions: Array[Inputs.Action] =
    Inputs.actionLog(rng, scale, keys, na, UpdateLog.DeleteShare)
  Inputs.writeActions(path, actions)
  val finalEdges: Map[Long, Long] = {
    val w = scala.collection.mutable.HashMap[Long, Long]()
    keys.indices.foreach(i => w(keys(i)) = weights(i))
    actions.foreach { a =>
      val k = Inputs.key(a.src, a.dst)
      if (a.del) w.remove(k) else w(k) = w.getOrElse(k, 0L) + 1
    }
    w.toMap
  }
  /** [[Workloads.edgeChecksum]] of the final edges. */
  val checksum: (Long, Long) = (finalEdges.size.toLong, finalEdges.iterator.map {
    case (k, w) => Workloads.mix(Inputs.keySrc(k), Inputs.keyDst(k), w)
  }.sum)
  /** (vertex, min-id label) over the final edges. */
  def finalComponents(nv: Int): Map[Long, Long] = {
    val adj = Oracles.adjacency(nv, finalEdges.keys.toArray.sorted)
    val labels = Oracles.components(adj)
    (0 until nv).filter(adj.deg(_) > 0).map(v => v.toLong -> labels(v).toLong).toMap
  }
}

object UpdateLog {
  val DeleteShare = 0.25
}

/** `rmat_batch`: the reference's own graph and its five steps — build from
  * the STINGER CSR file, connected components (sv), BFS from vertex 0
  * (sssp), converged PageRank (pr) and the batch merge of an action log
  * (update). Traced runs add the incremental CC and PageRank maintainers
  * over a smaller R-MAT base and action log, as probes.
  */
object RmatBatch extends Workload {
  val name = "rmat_batch"
  val Scale = 14
  val EdgeFactor = 8
  val Actions = 20000
  /** The maintainers' inputs: a smaller base (each micro-batch costs the
    * same fixed number of Spark jobs whatever the graph size).
    */
  val StreamScale = 11
  val StreamActions = 3000
  val StreamBatches = 3
  /** Power iterations of the maintained PageRank (the reference's PR5). */
  val PrIterations = 5
  /** L1 tolerance of converged PageRank against the power iteration: the
    * program rounds each rank to 8 decimals (≤ 5e-9 each) and stops at an
    * L1 change of 1e-8.
    */
  def prTolerance(nv: Int): Double = 1e-6 + nv * 5e-9

  def prepare(dir: Path, seed: Long): Prepared = {
    val nv = 1 << Scale
    val rng = new SplittableRandom(seed)
    // the maintainers' inputs come from their own generator, made only
    // when a traced run probes them
    val streamRng = rng.split()
    val raw = Inputs.rmatKeys(rng, Scale, EdgeFactor.toLong << Scale,
      canonical = false)
    val (keys, weights) = Inputs.weighted(raw)
    val path = dir.resolve(s"rmat-batch-s$Scale.graph")
    Inputs.writeCsr(path, nv, keys, weights)
    // the build's canonical pair table: one row per pair, weight = the
    // orientations of it present in the file
    val (pairs, orientations) = Inputs.weighted(Oracles.canonical(keys))
    val adj = Oracles.adjacency(nv, pairs)
    val live = (0 until nv).filter(adj.deg(_) > 0)
    val labels = Oracles.components(adj)
    val wantCc = live.map(v => v.toLong -> labels(v).toLong).toMap
    val dist = Oracles.bfs(adj, 0)
    val wantBfs = (0 until nv).filter(dist(_) >= 0)
      .map(v => v.toLong -> dist(v).toLong).toMap
    val pr = Oracles.pagerank(adj)
    val actPath = dir.resolve(s"rmat-batch-s$Scale.actions")
    val log = new UpdateLog(actPath, Scale, pairs, orientations, Actions, rng)

    object stream {
      val (keys, weights) = Inputs.weighted(Inputs.rmatKeys(streamRng,
        StreamScale, EdgeFactor.toLong << StreamScale, canonical = true))
      val basePath = dir.resolve(s"rmat-stream-s$StreamScale.graph")
      Inputs.writeCsr(basePath, 1 << StreamScale, keys, weights)
      val actPath = dir.resolve(s"rmat-stream-s$StreamScale.actions")
      val log = new UpdateLog(actPath, StreamScale, keys, weights,
        StreamActions, streamRng)
      val wantCc = log.finalComponents(1 << StreamScale)
    }

    new Prepared {
      val sizes = Map("scale" -> Scale, "edge_factor" -> EdgeFactor,
        "raw_edges" -> raw.length, "csr_edges" -> keys.length,
        "symmetrized_rows" -> adj.rows, "vertices_with_edges" -> live.size,
        "actions" -> Actions, "deletes" -> log.actions.count(_.del),
        "file_bytes" -> (java.nio.file.Files.size(path) +
          java.nio.file.Files.size(actPath)),
        "stream_scale" -> StreamScale, "stream_actions" -> StreamActions,
        "stream_delete_share" -> UpdateLog.DeleteShare,
        "stream_micro_batches" -> StreamBatches,
        "stream_pr_iterations" -> PrIterations)
      val ops = Seq("build", "sv", "sssp", "pr", "update")
      val units = adj.rows.toDouble

      def pass(ctx: Ctx): PassOut = {
        val spark = ctx.spark
        val g = ctx.call("graph.build") {
          val g = Graph.fromRawEdges(
            StingerFiles.readGraph(spark, path.toString).edges)
          g.cachedUndirected.count()
          g
        }
        val cc = ctx.call("graph.cc") {
          val d = ConnectedComponents(g); d.count(); d
        }
        val bfs = ctx.call("graph.bfs") {
          val d = ShortestPaths(g, 0L); d.count(); d
        }
        val rank = ctx.call("graph.pagerank") {
          val d = PageRank.converged(g); d.count(); d
        }
        // the update merge reads pre-laid-out inputs, as the reference
        // times only the apply
        val (base, acts) = ctx.call("graph.update_prep") {
          (graft.core.Partitioning.cachedSizedBy(g.edges, Seq("src", "dst")),
            StingerFiles.readActions(spark, actPath.toString).localCheckpoint(true))
        }
        val upd = ctx.call("graph.update") {
          val u = EdgeUpdates(base, acts, knownActionCount = Some(Actions.toLong))
          u.count(); u
        }
        val rows = g.cachedUndirected.count()
        val got = Workloads.doublePairs(rank)
        val l1 = live.map(v => math.abs(got.getOrElse(v.toLong, 0.0) - pr(v))).sum
        val updSum = Workloads.edgeChecksum(upd)
        val checks = Seq(
          Check("build", rows == adj.rows, s"rows=$rows expected=${adj.rows}"),
          Workloads.sameMap("sv", Workloads.longPairs(cc), wantCc),
          Workloads.sameMap("sssp", Workloads.longPairs(bfs), wantBfs),
          Check("pr", got.size == live.size && l1 <= prTolerance(nv),
            f"rows=${got.size} expected=${live.size} l1=$l1%.3e tol=${prTolerance(nv)}%.3e"),
          Check("update", updSum == log.checksum,
            s"(rows, checksum)=$updSum expected=${log.checksum}"))
        base.unpersist(blocking = true)
        graft.graph.Csr.release(g)
        g.preSymmetrized.foreach(_.unpersist(blocking = true))
        PassOut(checks, Map("actions" -> Actions.toDouble))
      }

      override val probeOps = Seq("stream_cc", "stream_pr")

      /** Reading the input file alone, and the two incremental
        * maintainers. The maintainers run here rather than in every pass:
        * each micro-batch is a fixed 18 (CC) to 30 (PageRank) Spark jobs,
        * more than the run budget of the untraced runs can carry.
        */
      def probe(ctx: Ctx): PassOut = {
        val spark = ctx.spark
        ctx.call("sources.read") {
          StingerFiles.readGraph(spark, path.toString).edges
            .agg(sum(col("src") + col("dst") + col("weight"))).head()
        }
        val base = graft.core.Partitioning.cachedSizedBy(
          StingerFiles.readGraph(spark, stream.basePath.toString).edges,
          Seq("src", "dst"))
        val acts = StingerFiles.readActions(spark, stream.actPath.toString)
          .localCheckpoint(true)
        val cc = ctx.call("streaming.cc") {
          val d = EventStream.incrementalCcStreamFrom(spark, Graph(base),
            acts, StreamBatches)
          d.count(); d
        }
        val pr = ctx.call("streaming.pagerank") {
          val d = EventStream.incrementalPageRankStreamFrom(spark,
            Graph(base), acts, StreamBatches, PrIterations)
          d.count(); d
        }
        val batchPr = Workloads.doublePairs(PageRank.fixedIterations(
          Graph(EdgeUpdates(base, acts)), PrIterations))
        val gotPr = Workloads.doublePairs(pr)
        val diff = batchPr.iterator.map { case (k, v) =>
          gotPr.get(k).map(x => math.abs(x - v)).getOrElse(Double.PositiveInfinity)
        }.foldLeft(0.0)(math.max)
        val checks = Seq(
          Workloads.sameMap("stream_cc", Workloads.longPairs(cc), stream.wantCc),
          Check("stream_pr", gotPr.size == batchPr.size && diff <= 1e-8,
            f"rows=${gotPr.size} batch_rows=${batchPr.size} max_abs_diff=$diff%.3e"))
        base.unpersist(blocking = true)
        PassOut(checks, Map("stream_actions" -> StreamActions.toDouble))
      }
    }
  }
}

/** `corpus_dedup`: MinHash-LSH near-duplicate detection over a synthetic
  * corpus with planted exact and near duplicates.
  */
object CorpusDedup extends Workload {
  val name = "corpus_dedup"
  val Docs = 2000
  val Vocabulary = 20000
  val MinTokens = 60
  val MaxTokens = 100
  val DupShare = 0.05
  val NearShare = 0.10
  val EditRate = 0.02
  val Threshold = 0.8
  /** Lowest recall over the planted pairs counted as correct. */
  val RecallFloor = 0.98

  def prepare(dir: Path, seed: Long): Prepared = {
    val n = Docs
    val rng = new SplittableRandom(seed)
    val corpus = Inputs.corpus(rng, n, Vocabulary, MinTokens, MaxTokens,
      DupShare, NearShare, EditRate)
    val path = dir.resolve(s"corpus-$n.tsv")
    Inputs.writeCorpus(path, corpus.texts)
    val sh = corpus.texts.map(t => Oracles.shingles(t))
    val planted = corpus.planted.filter { case (a, b) =>
      Oracles.jaccard(sh(a), sh(b)) >= Threshold }
      .map { case (a, b) => (math.min(a, b).toLong, math.max(a, b).toLong) }
    // one representative (lowest id) per distinct text: the docs the
    // program's LSH stage works on after its exact-duplicate pre-pass
    val reps = corpus.texts.indices.groupBy(corpus.texts(_)).values
      .map(_.min).toSet
    val docSchema = "doc_id BIGINT, text STRING"
    def read(ctx: Ctx) = ctx.spark.read.schema(docSchema)
      .option("sep", "\t").csv(path.toString)

    new Prepared {
      val sizes = Map("docs" -> n, "distinct_texts" -> reps.size,
        "vocabulary" -> Vocabulary, "tokens_per_doc" -> s"$MinTokens-$MaxTokens",
        "planted_pairs" -> corpus.planted.size,
        "planted_pairs_above_threshold" -> planted.size,
        "file_bytes" -> java.nio.file.Files.size(path))
      val ops = Seq("dedup")
      val units = n.toDouble

      def pass(ctx: Ctx): PassOut = {
        val pairs = ctx.call("ops.dedup") {
          Dedup.minhashLshDocs(read(ctx), Threshold).collect()
        }.map(r => (r.getLong(0), r.getLong(1)))
        val below = pairs.count { case (a, b) =>
          Oracles.jaccard(sh(a.toInt), sh(b.toInt)) < Threshold - 1e-9 }
        val found = pairs.toSet
        val recall =
          if (planted.isEmpty) 1.0
          else planted.count(found.contains).toDouble / planted.size
        val verified = pairs.count { case (a, b) =>
          reps.contains(a.toInt) && reps.contains(b.toInt) }
        PassOut(Seq(Check("dedup", below == 0 && recall >= RecallFloor,
          f"pairs=${pairs.length} below_threshold=$below recall=$recall%.4f")),
          Map("recall" -> recall, "rep_pairs" -> verified.toDouble))
      }

      def probe(ctx: Ctx): PassOut = {
        val docs = read(ctx).repartition(
          ctx.spark.sparkContext.defaultParallelism).cache()
        docs.count()
        ctx.call("functions.minhash_sig") {
          docs.select(graft.functions.MinHashSigFn.minhashSig(col("text"),
            Dedup.ShingleSize, Dedup.NumHashes).as("s"))
            .agg(max(element_at(col("s"), 1))).head()
        }
        val repDocs = docs.filter(col("doc_id").isin(reps.toSeq.map(_.toLong): _*))
        val cands = ctx.call("ops.dedup.candidates") {
          Dedup.candidatePairs(Dedup.bandTable(Dedup.signatures(repDocs))).count()
        }
        docs.unpersist(blocking = true)
        PassOut(Nil, Map("candidates" -> cands.toDouble))
      }
    }
  }
}
