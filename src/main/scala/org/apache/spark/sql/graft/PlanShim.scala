package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession, sources}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.util.RebaseDateTime.RebaseSpec
import org.apache.spark.sql.execution.datasources.{DataSourceStrategy, DataSourceUtils}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFilters, SparkToParquetSchemaConverter}
import org.apache.spark.sql.internal.LegacyBehaviorPolicy
import org.apache.spark.sql.types.StructType

/** Minimal bridge into Spark's `private[sql]` API. Standard extension-shim
  * pattern (the same door Delta/Iceberg use); nothing else from the
  * internal API is touched.
  */
object PlanShim {
  /** Turns an analyzed LogicalPlan back into a DataFrame through the
    * `private[sql]` Dataset constructor. Used by the equality-MERGE
    * rewrite, whose command re-executes the MERGE's source plan as the
    * upsert batch.
    */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `s` with every field nullable (`private[spark]`), as Spark's file
    * tables read their data schema.
    */
  def asNullable(s: StructType): StructType = s.asNullable

  /** The filters Spark's own v2 parquet scan hands its reader factory for
    * `filters` over files of `dataSchema`: the deterministic data filters
    * (`FileScanBuilder.pushFilters`), each translated by the `protected[sql]`
    * `DataSourceStrategy.translateFilter`, kept where parquet can evaluate
    * them against row-group statistics (`ParquetScanBuilder.pushDataFilters`).
    */
  def parquetFilters(spark: SparkSession, dataSchema: StructType,
      filters: Seq[Expression]): Array[sources.Filter] = {
    val conf = spark.sessionState.conf
    if (!conf.parquetFilterPushDown) return Array.empty
    val data = DataSourceUtils.getPartitionFiltersAndDataFilters(new StructType(),
      filters.filter(_.deterministic))._2
    val translated = data.flatMap(DataSourceStrategy.translateFilter(_, true))
    new ParquetFilters(new SparkToParquetSchemaConverter(conf).convert(dataSchema),
      conf.parquetFilterPushDownDate, conf.parquetFilterPushDownTimestamp,
      conf.parquetFilterPushDownDecimal, conf.parquetFilterPushDownStringPredicate,
      conf.parquetFilterPushDownInFilterThreshold, conf.caseSensitiveAnalysis,
      RebaseSpec(LegacyBehaviorPolicy.CORRECTED)).convertibleFilters(translated).toArray
  }
}
