package graft

/** Multi-tier benchmark sweep (ref: run_tests.sh runs every engine at
  * tiny/small/medium/large and make_graphs.py charts the per-tier series —
  * the scaling *slope* is the comparison, not one point).
  *
  * Two kinds of tier:
  *
  *  - `dir=tier` runs the full headline suite against that SF dir and
  *    prints its summary JSON line — the cross-SF scaling signal for the
  *    whole operator surface (TPC-H tables, documents, events).
  *  - `rmat:<tier>` runs [[RmatTier]]: the reference's OWN benchmark graph
  *    at that tier's published SCALE (tiny=2^10 … medium=2^20 vertices,
  *    edge factor 8) through the five reference workloads, and writes the
  *    reference-format run file `run.graft.<tier>` that
  *    [[graft.ops.ResultsAnalytics]] charts next to each engine. Only
  *    R-MAT tiers write run files: they are the same graphs the reference
  *    engines ran, so the per-tier chart is a same-workload comparison
  *    (the earlier nearest-size mapping of SF dirs onto tiers is retired).
  *
  * Default: sf0.01 + sf0.1 headline sweeps, then R-MAT tiny/small/medium.
  * Optional trailing `charts=<out.html>` renders the combined
  * reference+graft chart set afterwards.
  */
object BenchSweep {
  def main(args: Array[String]): Unit = {
    val (chartArgs, tierArgs) = args.partition(_.startsWith("charts="))
    val tiers: Seq[(String, String)] =
      if (tierArgs.nonEmpty) tierArgs.toSeq.map { a =>
        a.split("=", 2) match {
          case Array(d, t) => (d, t)
          case Array(d) => (d, d.stripPrefix("rmat:"))
        }
      }
      else Seq("/root/testdata/sf0.01" -> "sf0.01",
        "/root/testdata/sf0.1" -> "sf0.1",
        "rmat:tiny" -> "tiny", "rmat:small" -> "small",
        "rmat:medium" -> "medium")
    val spark = Bench.sparkAt(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val outDir = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_RESULTS_DIR", "target/graft-results"))
    java.nio.file.Files.createDirectories(outDir)
    // rmat tiers run back-to-back accumulate here; the run FILE is written
    // once per tier at the end, for the median run by total
    val rmatRuns = scala.collection.mutable.Map
      .empty[String, Vector[RmatTier.TierRun]]
    val lines = tiers.map { case (dir, tier) =>
      System.err.println(s"[bench] === tier $tier ($dir) ===")
      val results =
        if (dir.startsWith("rmat:")) {
          val r = RmatTier.runFull(spark, tier, "target/graft-data")
          rmatRuns(tier) = rmatRuns.getOrElse(tier, Vector.empty) :+ r
          r.metrics
        }
        else Bench.runSuite(spark, dir, Bench.headline, runJson = None)
      Bench.summaryLine(results, dir) + "\n" + Bench.compactLine(results, dir)
    }
    rmatRuns.foreach { case (tier, runs) =>
      System.err.println(s"[bench] tier $tier: median " +
        s"${RmatTier.medianRun(runs).summary} of ${runs.size} run(s)")
      RmatTier.writeRunJson(spark,
        outDir.resolve(s"run.graft.$tier").toString, runs)
    }
    lines.foreach(println)
    chartArgs.headOption.map(_.stripPrefix("charts=")).foreach { out =>
      graft.ops.ResultsAnalytics.writeCharts(spark,
        s"/root/reference/results,$outDir", out)
      System.err.println(s"[bench] charts → $out")
    }
    spark.stop()
  }
}
