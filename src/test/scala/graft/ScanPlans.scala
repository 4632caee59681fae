package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.core.Collection
import graft.sources.GraftBatchScan

/** Plan probes for the scan specs: what a query's executed plan
  * (adaptive stages included) scanned, read off the plan itself. */
object ScanPlans extends AdaptiveSparkPlanHelper {

  private def plan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan

  /** The graft scans `df` planned — pushed filter, runtime filter and
    * planned file count through [[GraftBatchScan.report]]. Run `df`
    * first to see its runtime filters. */
  def graftScans(df: DataFrame): Seq[GraftBatchScan] = GraftBatchScan.in(plan(df))

  def batchScans(df: DataFrame): Int = collect(plan(df)) { case b: BatchScanExec => b }.size
  def fileScans(df: DataFrame): Int = collect(plan(df)) { case f: FileSourceScanExec => f }.size
  def localScans(df: DataFrame): Int = collect(plan(df)) { case l: LocalTableScanExec => l }.size
  def aggregates(df: DataFrame): Int = collect(plan(df)) { case a: BaseAggregateExec => a }.size

  /** A metadata-answered aggregate: the plan's only leaf is a local
    * scan of the answer rows — no parquet scan of either kind, and no
    * re-aggregation above it. */
  def answeredFromMetadata(df: DataFrame): Boolean =
    localScans(df) == 1 && batchScans(df) == 0 && fileScans(df) == 0 && aggregates(df) == 0

  /** Registers the DataFrame face of the collection at `root` —
    * [[Collection.readRaw]] minus the row id, a stock parquet
    * `FileSourceScanExec` over the manifest's files — as temp view
    * `name`: the independent reference the native scan is compared
    * with. Derived partition columns are real columns there. */
  def dataFrameView(spark: SparkSession, root: String, name: String): Unit =
    Collection.open(spark, root, readOnly = true).readRaw().drop(Collection.RowIdCol)
      .createOrReplaceTempView(name)
}
