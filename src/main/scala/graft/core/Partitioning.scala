package graft.core

import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.storage.StorageLevel

/** Size-driven partitioning for persisted iteration inputs.
  *
  * Iterative algorithms scan their cached edge table once per round. With
  * the default shuffle-partition count a small table becomes dozens of
  * near-empty tasks and per-round wall time is pure scheduler overhead; an
  * under-partitioned huge table spills. Catalyst's pre-execution size
  * estimate is useless here (join cardinality estimates can be off by 10^5×
  * — observed 2.19 TB estimated for a 24 MB join result), so partition on
  * the ACTUAL row count: persist, count, and re-partition the cached rows
  * only when the existing layout is badly off: at most a quarter of the
  * target partition count, or [[OverPartitionTolerance]] times it.
  */
object Partitioning {
  /** Over-partitioning tolerance (r15): a second cache pass to SHRINK the
    * partition count only pays off past this multiple. Under-partitioning
    * (current×4 ≤ target) still always repairs — too-few partitions risk
    * spill and serial scans — but too-many only costs per-task scheduler
    * overhead on round scans, which the r14 AQE-coalescing A/B measured
    * as neutral-to-positive locally (fewer post-shuffle tasks made 8
    * representative queries uniformly SLOWER). Under the old ×4 rule
    * every sf-sized table paid a second persist+count+round-robin
    * repartition (with its sort-before-repartition) just to shrink 32 →
    * 1 partitions.
    */
  val OverPartitionTolerance = 64L

  def cachedSized(df: DataFrame, rowsPerPartition: Long = 1000000L,
      maxPartitions: Int = 1 << 17,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    val cached = df.persist(level)
    val n = cached.count()
    val current = cached.rdd.getNumPartitions
    val target = ((n + rowsPerPartition - 1) / rowsPerPartition)
      .max(1L).min(maxPartitions.toLong).toInt
    if (current >= target * OverPartitionTolerance ||
        current.toLong * 4 <= target) {
      val rep = cached.repartition(target).persist(level)
      rep.count()
      cached.unpersist()
      rep
    } else cached
  }

  /** Size-driven AND key-aligned caching: hash-partition the persisted rows
    * on `keys`. An InMemoryTableScan preserves its child's HashPartitioning,
    * so every later join/aggregate clustered on the same keys reads the
    * cache WITHOUT re-exchanging it — the other (usually |V|-sized) side
    * shuffles to match instead. For a 265M-edge table iterated 100 times
    * (PageRank's edges ⋈ state on the shuffle fallback path) that converts
    * one edge-sized exchange per iteration into a state-sized one.
    *
    * Unlike [[cachedSized]] this always re-partitions: the input's layout
    * is whatever the build join produced, never hash-on-key. Hub skew
    * (power-law src) is bounded by rowsPerPartition sizing; a hub's edges
    * land in one partition alongside its ~1/N uniform share.
    */
  def cachedSizedBy(df: DataFrame, keys: Seq[String],
      rowsPerPartition: Long = 1000000L,
      maxPartitions: Int = 1 << 17,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    // ONE pass (r15, re-examining the r6-rejected accumulator count with
    // the tool built for it): the row count rides the keyed exchange as
    // an observe() metric — CollectMetrics has exactly-once semantics
    // under task retries, unlike the raw accumulator r6 rejected — so
    // the old persist+count staging pass (a full extra materialization
    // of the |2E|-row view in every graph build) is gone. The first
    // exchange runs at the session's shuffle parallelism (AQE coalesces
    // small ones); a second pass now happens only when that layout is
    // BADLY off the size-derived target (too few partitions for the
    // data, or over-partitioned past [[OverPartitionTolerance]]).
    // The pass is materialized by one job that reads no row of it (the
    // cache stores a partition whole before handing out its iterator),
    // and the partition count comes from the planned rows, not from a
    // deserializing `first.rdd`.
    val obs = Observation()
    val first = df.observe(obs, count(lit(1)).as("n"))
      .repartition(keys.map(col): _*)
      .persist(level)
    first.foreachPartition((_: Iterator[Row]) => ())
    val n = Observations.metric(obs, "n").asInstanceOf[Long]
    val current = first.queryExecution.toRdd.getNumPartitions
    val target = ((n + rowsPerPartition - 1) / rowsPerPartition)
      .max(1L).min(maxPartitions.toLong).toInt
    if (current.toLong * 4 <= target ||
        current >= target * OverPartitionTolerance) {
      val rep = first.repartition(target, keys.map(col): _*).persist(level)
      rep.count()
      first.unpersist()
      rep
    } else first
  }
}
