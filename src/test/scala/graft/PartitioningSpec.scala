package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Partitioning

class PartitioningSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("cachedSized repartitions only when badly off, preserves rows") {
    import spark.implicits._
    // r15 contract: over-partitioning is tolerated up to
    // OverPartitionTolerance (a shrink pass costs a second
    // materialization + a round-robin sort and the r14 AQE A/B measured
    // fewer post-shuffle tasks as uniformly worse locally), so 40
    // partitions at target 2 (20x) stay put...
    val df = spark.range(0, 1000, 1, 40).toDF("id")
    val sized = Partitioning.cachedSized(df, rowsPerPartition = 500)
    assert(sized.count() == 1000)
    assert(sized.rdd.getNumPartitions == 40,
      "within-tolerance layout must be left alone (no second pass)")
    sized.unpersist()
    // ...but PAST the tolerance the shrink still fires
    val wild = spark.range(0, 1000, 1, 200).toDF("id")
    val shrunk = Partitioning.cachedSized(wild, rowsPerPartition = 500)
    assert(shrunk.count() == 1000)
    assert(shrunk.rdd.getNumPartitions <= 8, "64x layout not collapsed")
    shrunk.unpersist()
    // under-partitioning always repairs (1 partition, target 10)
    val thin = spark.range(0, 1000, 1, 1).toDF("id")
    val grown = Partitioning.cachedSized(thin, rowsPerPartition = 100)
    assert(grown.rdd.getNumPartitions >= 10)
    assert(grown.count() == 1000)
    grown.unpersist()
    // already-reasonable layout is left alone (2 partitions, target 2)
    val ok = spark.range(0, 1000, 1, 2).toDF("id")
    val kept = Partitioning.cachedSized(ok, rowsPerPartition = 500)
    assert(kept.rdd.getNumPartitions == 2)
    assert(kept.count() == 1000)
    kept.unpersist()
  }

  test("cachedSizedBy: one-pass observe count, keyed layout, extremes repair") {
    import spark.implicits._
    // small table: one pass, keyed at the session's shuffle parallelism
    val df = spark.range(0, 1000, 1, 7).toDF("src")
    val sized = Partitioning.cachedSizedBy(df, Seq("src"))
    assert(sized.count() == 1000)
    // hash(src) layout: rows with equal keys co-locate (spot-check via
    // a self-join producing no extra exchange is plan-level; here assert
    // the row set survived the exchange intact)
    assert(sized.select("src").distinct().count() == 1000)
    sized.unpersist()
    // under-partitioned for the target: the second pass fires and grows
    val big = spark.range(0, 2000, 1, 1).toDF("src")
    val grown = Partitioning.cachedSizedBy(big, Seq("src"),
      rowsPerPartition = 10)
    assert(grown.count() == 2000)
    assert(grown.rdd.getNumPartitions >= 50,
      s"under-partitioned keyed cache not repaired: " +
        s"${grown.rdd.getNumPartitions}")
    grown.unpersist()
  }

  test("an observed metric that never arrives throws after its bound") {
    import scala.concurrent.duration._
    import org.apache.spark.sql.Observation
    import org.apache.spark.sql.functions.{count, lit}
    import graft.core.Observations
    // no action ever runs a plan observing `pending`: the read must fail
    // at its bound instead of waiting forever like Observation.get
    val pending = Observation("never")
    spark.range(3).observe(pending, count(lit(1)).as("n"))
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException](
      Observations.metric(pending, "n", bound = 200.millis))
    assert(e.getMessage.contains("'n'"), e.getMessage)
    assert((System.nanoTime() - t0) / 1e9 < 30.0)
    // a completed observation reads at once
    val done = Observation("done")
    spark.range(5).observe(done, count(lit(1)).as("n")).collect()
    assert(Observations.metric(done, "n", bound = 1.minute) == 5L)
  }
}
