package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Expression ↔ Column bridge. Spark 4 made the converters
  * `private[sql]` (`org.apache.spark.sql.classic.ExpressionUtils`);
  * exposing them from a subpackage of `org.apache.spark.sql` is the
  * sanctioned pattern for libraries shipping native Catalyst
  * expressions (same technique as spark-connectors in the wild).
  * The same reach builds a parquet relation by hand
  * ([[parquetFrame]]) and reads its file scan's split floor
  * ([[minSplitBytes]]).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The parquet files `index` names, read with `dataSchema` made
    * nullable and no partition columns: the relation
    * `spark.read.schema(dataSchema).parquet(files)` resolves to, built
    * without its glob, its per-path status calls and its listing job.
    */
  def parquetFrame(spark: SparkSession, index: FileIndex, dataSchema: StructType): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      LogicalRelation(HadoopFsRelation(index, new StructType(),
        dataSchema.asNullable, None, new ParquetFileFormat(), Map.empty)(spark)))

  /** The smallest split a file scan ever makes: `FilePartition.maxSplitBytes`
    * spreads the files' bytes (plus one `spark.sql.files.openCostInBytes`
    * each) over the leaf parallelism, but never below that open cost and
    * never above `spark.sql.files.maxPartitionBytes`. Input this small
    * is not worth splitting whatever its file count.
    */
  def minSplitBytes(spark: SparkSession): Long = {
    val conf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf
    math.min(conf.filesOpenCostInBytes, conf.filesMaxPartitionBytes)
  }
}
