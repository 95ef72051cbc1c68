/* Shim: DataFrames over RDDs of InternalRows, and the rows of a frame laid
 * out for a co-partitioned zip. LogicalRDD and Dataset.ofRows are
 * private[sql] in Spark 4 classic; expose what graft needs from inside the
 * sql package, next to ColumnBridge. */
package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning,
  Partitioning, SinglePartition, UnknownPartitioning}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM,
  ShuffleExchangeExec}
import org.apache.spark.sql.types.StructType

object FrameBridge {
  /** `rows` as a DataFrame of `schema` that Catalyst knows is
    * hash-partitioned on `keys` into `rows.getNumPartitions` partitions —
    * true only if partition i of `rows` holds exactly the rows a
    * `repartition(n, keys.map(col): _*)` exchange sends to partition i —
    * and whose size estimate is `sizeInBytes`. Consumers that cluster on
    * `keys` then read it with no exchange.
    */
  def hashPartitioned(spark: SparkSession, schema: StructType,
      rows: RDD[InternalRow], keys: Seq[String], sizeInBytes: Long): DataFrame = {
    val attrs = DataTypeUtils.toAttributes(schema)
    frame(spark, attrs, rows, HashPartitioning(
      keys.map(k => attrs.find(_.name == k).get), rows.getNumPartitions),
      sizeInBytes)
  }

  /** `rows` as a DataFrame of `schema` with no declared partitioning and a
    * size estimate of `sizeInBytes`.
    */
  def unpartitioned(spark: SparkSession, schema: StructType,
      rows: RDD[InternalRow], sizeInBytes: Long): DataFrame =
    frame(spark, DataTypeUtils.toAttributes(schema), rows,
      UnknownPartitioning(0), sizeInBytes)

  private def frame(spark: SparkSession,
      attrs: Seq[org.apache.spark.sql.catalyst.expressions.AttributeReference],
      rows: RDD[InternalRow], partitioning: Partitioning,
      sizeInBytes: Long): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val plan = LogicalRDD(attrs, rows, partitioning)(
      session, Some(Statistics(BigInt(sizeInBytes))))
    classic.Dataset.ofRows(session, plan)
  }

  /** The partition count of `df`'s planned hash partitioning on exactly
    * `keys`, in that order, if it has one. It is read from the physical
    * plan before execution preparation: a cached frame's adaptive
    * executed plan reports no partitioning at all.
    */
  def hashPartitions(df: DataFrame, keys: Seq[String]): Option[Int] = {
    val plan = df.queryExecution.sparkPlan
    val attrs = keys.map(k => plan.output.find(_.name == k))
    plan.outputPartitioning match {
      case h: HashPartitioning if attrs.forall(_.isDefined) &&
          h.expressions.length == attrs.length &&
          h.expressions.zip(attrs.flatten).forall { case (e, a) =>
            e.semanticEquals(a) } =>
        Some(h.numPartitions)
      case SinglePartition => Some(1)
      case _ => None
    }
  }

  /** `df` checkpointed as `df.localCheckpoint(eager = true)` does, but
    * keeping a planned hash partitioning on `keys` ([[hashPartitions]]):
    * the checkpoint of a cached frame takes the partitioning of the
    * adaptive executed plan, which reports none.
    */
  def localCheckpoint(df: DataFrame, keys: Seq[String]): DataFrame =
    hashPartitions(df, keys).fold(df.localCheckpoint(true)) { n =>
      val rows = hashRows(df, keys, n).map(_.copy())
      rows.localCheckpoint()
      rows.count()
      hashPartitioned(df.sparkSession, df.schema, rows, keys,
        df.queryExecution.optimizedPlan.stats.sizeInBytes.min(Long.MaxValue).toLong)
    }

  /** `df`'s rows, in `df`'s column order, as `n` partitions laid out as
    * `repartition(n, keys.map(col): _*)` lays them out: `df`'s own
    * partitions when they come in exactly `n` partitions and its planned
    * partitioning already is that one (see [[hashPartitions]]) or n is 1,
    * else through one hash exchange. The exchange is built, not run: it
    * runs in the first job that reads the rows.
    */
  def hashRows(df: DataFrame, keys: Seq[String], n: Int): RDD[InternalRow] = {
    val plan = df.queryExecution.executedPlan
    val own = if (n == 1 || hashPartitions(df, keys).contains(n))
      Some(plan.execute()) else None
    own.filter(_.getNumPartitions == n).getOrElse {
      val attrs = keys.map(k => plan.output.find(_.name == k).get)
      ShuffleExchangeExec(HashPartitioning(attrs, n), plan,
        REPARTITION_BY_NUM).execute()
    }
  }
}
