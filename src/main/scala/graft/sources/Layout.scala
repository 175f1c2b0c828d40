package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Production data layout helpers — the physical-design side of the 100 TB
  * story (SURVEY.md §7.4). The single-file testdata stands in for a
  * partitioned/bucketed lake; these writers produce that layout and the
  * PlanSpec tests prove the planner exploits it (partition pruning,
  * exchange-free bucketed joins).
  */
object Layout {

  /** Day-partitioned event layout: `.../event_date=YYYY-MM-DD/part-*.parquet`.
    * Time-range queries then prune whole directories (PartitionFilters in
    * the scan) instead of reading and filtering 100 TB.
    */
  def writeEventsPartitionedByDay(events: DataFrame, path: String): Unit =
    events
      .withColumn("event_date", to_date(col("ts")))
      .write.mode("overwrite")
      .partitionBy("event_date")
      .parquet(path)

  def readPartitionedEvents(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
}
