/* Shim: a DataFrame over an RDD of InternalRows with a declared output
 * partitioning. LogicalRDD and Dataset.ofRows are private[sql] in Spark 4
 * classic; expose the one constructor graft needs from inside the sql
 * package, next to ColumnBridge. */
package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

object FrameBridge {
  /** `rows` as a DataFrame of `schema` that Catalyst knows is
    * hash-partitioned on `key` into `rows.getNumPartitions` partitions —
    * true only if partition i of `rows` holds exactly the rows a
    * `repartition(n, col(key))` exchange sends to partition i — and whose
    * size estimate is `sizeInBytes`. Consumers that cluster on `key` then
    * read it with no exchange.
    */
  def hashPartitioned(spark: SparkSession, schema: StructType,
      rows: RDD[InternalRow], key: String, sizeInBytes: Long): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val attrs = DataTypeUtils.toAttributes(schema)
    val plan = LogicalRDD(attrs, rows,
      HashPartitioning(attrs.filter(_.name == key), rows.getNumPartitions))(
      session, Some(Statistics(BigInt(sizeInBytes))))
    classic.Dataset.ofRows(session, plan)
  }
}
