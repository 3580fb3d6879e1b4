package graft

import graft.sources.FreqStorePartition
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** Plan inspection for the committed store's serving scan. Every
  * full-universe serving read is the `freqstore` DSv2 scan, which
  * `Dataset.inputFiles` and `FileSourceScanExec` do not see: these
  * helpers read the scan's PLANNED partitions instead — the bucket
  * files its readers will open. */
object ServingScans extends AdaptiveSparkPlanHelper {
  /** Every DSv2 batch scan in `df`'s executed plan, descending into
    * adaptive plans and their query stages. */
  def batchScans(df: DataFrame): Seq[BatchScanExec] =
    collect(df.queryExecution.executedPlan) { case b: BatchScanExec => b }

  /** The numer and denom files of every planned serving partition. */
  def files(df: DataFrame): Seq[String] =
    batchScans(df).flatMap(_.inputPartitions).collect {
      case p: FreqStorePartition => p.numerFiles ++ p.denomFiles
    }.flatten
}
