package graftbench

/** Per-layer metrics of a traced run. Every workload reports every metric:
  * a layer the workload never calls reads 0 (that is the prediction for
  * it: a change to that layer leaves the workload alone).
  *
  * Times are medians over the traced passes; counts come from the same
  * passes and repeat exactly between passes and runs of one seed.
  */
object Layers {
  import Main.median

  def metrics(p: Prepared, traced: Seq[PassRecord], untraced: Seq[PassRecord],
      probes: PassRecord, hostProbeS: Double, peakRssMb: Double,
      attempted: Int, failed: Int): Seq[(String, Double, String)] = {
    val out = Seq.newBuilder[(String, Double, String)]
    def put(n: String, v: Double, u: String): Unit = out += ((n, v, u))
    def calls(n: String): Seq[Call] = traced.flatMap(_.named(n)) ++ probes.named(n)
    def med(n: String)(f: Call => Double): Double = median(calls(n).map(f))
    def wall(n: String): Double = med(n)(_.wallS)
    def rate(units: Double, s: Double): Double = if (s > 0) units / s else 0.0
    def probe(n: String): Option[Call] = probes.named(n).headOption

    // phase times a user sees, per workload
    put("build_s", wall("graph.build"), "s")
    put("sv_s", wall("graph.cc"), "s")
    put("sssp_s", wall("graph.bfs"), "s")
    put("pr_s", wall("graph.pagerank"), "s")
    val actions = median(traced.flatMap(_.out.values.get("actions")))
    put("update_actions_per_s", rate(actions, wall("graph.update")), "1/s")
    // the two maintainers absorb the same log, one after the other
    val streamS = calls("streaming.cc").map(_.wallS).sum +
      calls("streaming.pagerank").map(_.wallS).sum
    put("stream_actions_per_s",
      rate(probes.out.values.getOrElse("stream_actions", 0.0), streamS / 2), "1/s")
    val batchS = (calls("streaming.cc") ++ calls("streaming.pagerank"))
      .flatMap(_.batches.map(_.triggerMs / 1e3))
    val (tailPct, tail) = tailOf(batchS)
    put("batch_p50_s", median(batchS), "s")
    put("batch_tail_s", tail, "s")
    put("batch_tail_pct", tailPct, "%")
    put("batch_samples", batchS.size.toDouble, "count")
    put("dedup_docs_per_s", rate(p.units, wall("ops.dedup")), "1/s")
    val recalls = traced.flatMap(_.out.values.get("recall"))
    put("dedup_recall", if (recalls.isEmpty) 0.0 else recalls.min, "share")
    put("failed_share", failed.toDouble / attempted, "share")

    // wall time and memory of the whole run: what a user sees, but on a
    // shared host they spread more between runs than a bound can hold
    val uPass = median(untraced.map(_.wallS))
    put("pass_s", uPass, "s")
    put("peak_rss_mb", peakRssMb, "MB")
    // tracing overhead: traced against untraced passes of this run
    val tPass = median(traced.map(_.wallS))
    put("trace.pass_s", tPass, "s")
    put("trace.overhead_share", if (uPass > 0) tPass / uPass - 1 else 0.0, "share")

    // sources: a stand-alone read of the workload's input files
    put("sources.read_s", probe("sources.read").map(_.wallS).getOrElse(0.0), "s")
    put("sources.bytes_read",
      probe("sources.read").map(_.fsBytesRead.toDouble).getOrElse(0.0), "bytes")

    put("graph.build.self_s", wall("graph.build"), "s")
    put("graph.build.shuffle_write_bytes",
      med("graph.build")(_.counts.shuffleWrite.toDouble), "bytes")
    put("graph.build.cached_partitions",
      med("graph.build")(_.cachedPartitions.toDouble), "count")
    put("graph.build.cached_bytes",
      med("graph.build")(_.cachedBytes.toDouble), "bytes")
    for (l <- Seq("cc", "bfs", "pagerank")) {
      val n = s"graph.$l"
      put(s"$n.self_s", wall(n), "s")
      put(s"$n.driver_s", med(n)(_.driverS), "s")
      put(s"$n.jobs", med(n)(_.counts.jobs.toDouble), "count")
      put(s"$n.tasks", med(n)(_.counts.tasks.toDouble), "count")
      put(s"$n.shuffle_write_bytes", med(n)(_.counts.shuffleWrite.toDouble), "bytes")
    }
    put("graph.update.self_s", wall("graph.update"), "s")
    put("graph.update.jobs", med("graph.update")(_.counts.jobs.toDouble), "count")
    put("graph.update.shuffle_write_bytes",
      med("graph.update")(_.counts.shuffleWrite.toDouble), "bytes")

    for (l <- Seq("cc", "pagerank")) {
      val n = s"streaming.$l"
      def perBatch(c: Call, x: Long): Double =
        if (c.batches.isEmpty) 0.0 else x.toDouble / c.batches.size
      put(s"$n.initial_s", med(n)(c =>
        c.queryStartsMs.headOption.map(ms => ms / 1e3 - c.startUs / 1e6)
          .getOrElse(0.0).max(0.0)), "s")
      put(s"$n.batch_s", median(calls(n).flatMap(_.batches.map(_.bodyMs / 1e3))), "s")
      put(s"$n.jobs_per_batch", med(n)(c => perBatch(c, c.counts.batchJobs)), "count")
      put(s"$n.tasks_per_batch", med(n)(c => perBatch(c, c.counts.batchTasks)), "count")
      put(s"$n.trigger_overhead_s",
        median(calls(n).flatMap(_.batches.map(b => (b.triggerMs - b.bodyMs) / 1e3))), "s")
      put(s"$n.drain_s", med(n)(c => c.batches.lastOption.map(b =>
        c.endUs / 1e6 - (b.startMs + b.triggerMs) / 1e3).getOrElse(0.0).max(0.0)), "s")
    }

    val sig = probe("functions.minhash_sig")
    put("functions.minhash_sig.self_s", sig.map(_.wallS).getOrElse(0.0), "s")
    put("functions.minhash_sig.rows_per_s",
      sig.map(c => rate(p.units, c.wallS)).getOrElse(0.0), "1/s")
    put("ops.dedup.self_s", wall("ops.dedup"), "s")
    val cands = probes.out.values.getOrElse("candidates", 0.0)
    put("ops.dedup.candidates", cands, "count")
    val verified = median(traced.flatMap(_.out.values.get("rep_pairs")))
    put("ops.dedup.verified_share", if (cands > 0) verified / cands else 0.0, "share")
    put("ops.dedup.shuffle_write_bytes",
      med("ops.dedup")(_.counts.shuffleWrite.toDouble), "bytes")

    put("core.partitioning.tasks_per_stage", median(traced.map { t =>
      val st = t.calls.map(_.counts.stages).sum
      if (st > 0) t.calls.map(_.counts.tasks).sum.toDouble / st else 0.0
    }), "count")
    val all = traced ++ untraced
    put("core.checkpoints.persisted_rdds_after_pass",
      all.map(_.persistedRdds.toDouble).max, "count")
    put("core.checkpoints.storage_bytes_after_pass",
      all.map(_.storageBytes.toDouble).max, "bytes")
    put("core.checkpoints.live_heap_mb_after_pass",
      all.map(_.liveHeapMb).max, "MB")

    put("spark.gc_s", median(traced.map(_.gcS)), "s")
    put("spark.spill_bytes", median(traced.map(_.calls.map(_.counts.spill).sum.toDouble)), "bytes")
    put("spark.executor_busy_share", median(traced.map { t =>
      t.calls.map(_.counts.runMs).sum / 1e3 / (t.wallS * Main.nproc)
    }), "share")
    put("host.probe_s", hostProbeS, "s")
    out.result()
  }

  /** The highest percentile with at least ten samples beyond it, by
    * nearest rank: (percentile, value). Below 20 samples that percentile
    * is under the median, and the median stands in at percentile 50;
    * without samples both are 0.
    */
  def tailOf(xs: Seq[Double]): (Double, Double) = {
    val n = xs.size
    val pct = if (n == 0) 0.0 else math.floor(100.0 * (n - 10) / n)
    if (n == 0) (0.0, 0.0)
    else if (pct < 50) (50.0, median(xs))
    else (pct, xs.sorted.apply((math.ceil(pct / 100.0 * n).toInt - 1).max(0)))
  }
}
