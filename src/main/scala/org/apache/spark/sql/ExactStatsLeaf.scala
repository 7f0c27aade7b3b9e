package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.execution.LogicalRDD

/** Reaches `classic.Dataset.ofRows`, which is private to
  * `org.apache.spark.sql`, so that a materialized checkpoint can be
  * wrapped as a frame whose leaf carries exact statistics. */
object ExactStatsLeaf {
  /** `leaf`, known to hold `rows` rows, as a frame whose plan statistics
    * are that row count and its size. The leaf's output partitioning,
    * ordering and constraints are kept. */
  def apply(session: SparkSession, leaf: LogicalRDD, rows: Long): DataFrame = {
    val s = session.asInstanceOf[classic.SparkSession]
    val stats = Statistics(EstimationUtils.getOutputSize(leaf.output, rows), Some(BigInt(rows)))
    classic.Dataset.ofRows(s, leaf.copy()(s, Some(stats), Some(leaf.constraints)))
  }
}
