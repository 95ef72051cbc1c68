package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.ResultsAnalytics

/** The self-generated R-MAT benchmark tier end-to-end at the reference's
  * tiny SCALE: workloads run, the run file round-trips through the same
  * ResultsAnalytics pipeline that charts the reference's results, and the
  * tier lands in the per-tier comparison next to the reference engines.
  */
class RmatTierSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** A synthetic run whose total is `total` (all of it in build). */
  def runOf(total: Double): RmatTier.TierRun =
    RmatTier.TierRun("large", total, 0.0, 0.0, 0.0, 0.0, 1.0, 1L, 1L, 1L)

  test("tier artifacts report the median run by total, not the best") {
    val one = Seq(runOf(7.0))
    assert(RmatTier.medianRun(one) eq one.head)
    assert(RmatTier.sessionNote(one) == "single run")

    val three = Seq(runOf(300.0), runOf(100.0), runOf(200.0))
    assert(RmatTier.medianRun(three) eq three(2))
    val note3 = RmatTier.sessionNote(three)
    assert(note3.contains("median by total"))
    assert(note3.contains("min 100.0 / median 200.0 / max 300.0 s"))
    assert(note3.contains("run 3 = build 200.0") &&
      note3.indexOf("[MEDIAN]") > note3.indexOf("run 3 ="))
    assert(note3.split("\\[MEDIAN\\]", -1).length == 2)

    // even count: the lower of the two middle runs
    val four = Seq(runOf(40.0), runOf(10.0), runOf(30.0), runOf(20.0))
    assert(RmatTier.medianRun(four) eq four(3))
    assert(RmatTier.sessionNote(four)
      .contains("min 10.0 / median 20.0 / max 40.0 s"))
  }

  test("tiny R-MAT tier: five workloads run and chart next to the reference") {
    val tmp = java.nio.file.Files.createTempDirectory("rmat-tier").toString
    val runFile = s"$tmp/run.graft.tiny"
    val secs = RmatTier.run(spark, "tiny", s"$tmp/data", Some(runFile)).toMap
    assert(secs.keySet == Set("rmat_build", "rmat_sv", "rmat_sssp",
      "rmat_pr", "rmat_update"))
    assert(secs.values.forall(_ > 0))

    // the run file parses through the SAME loader the reference files use
    val run = ResultsAnalytics.load(spark, tmp).collect()
    assert(run.length == 1)
    val r = run.head
    assert(r.getAs[Long]("nv") > 900 && r.getAs[Long]("nv") <= 1024) // 2^10 minus isolates
    assert(r.getAs[Long]("na") == 100000L)
    val m = ResultsAnalytics.metrics(ResultsAnalytics.load(spark, tmp))
      .collect().map(r => r.getString(2) -> r.getDouble(3)).toMap
    assert(Set("build", "sv", "pr", "sssp", "update").subsetOf(m.keySet))
    assert(m("update") > 1000) // a rate, not a time

    // charted per-tier against the reference results: graft appears in the
    // tiny tier ranking
    val refDir = "/root/reference/results"
    assume(new java.io.File(refDir).isDirectory)
    val tiers = ResultsAnalytics.summaryByTier(spark, s"$refDir,$tmp")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(tiers.exists { case (t, m2, p) =>
      t == "tiny" && m2 == "build" && p == "graft-spark" })
    // no row escapes the four named tiers (untiered files are excluded)
    assert(tiers.map(_._1).toSet.subsetOf(Set("tiny", "small", "medium", "large")))
  }
}
