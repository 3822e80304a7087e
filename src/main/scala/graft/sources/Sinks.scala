package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Det

/** Partitioned-sink layout: the OTHER storage lever (next to bucketing)
  * a 100 TB deployment leans on daily. Writing a fact table
  * `partitionBy(date)` makes every date-filtered read a PARTITION-PRUNED
  * scan — the reader lists only the matching `event_date=...`
  * directories and never opens the rest, so a one-day query over a
  * 3-year table touches 1/1000th of the files. The write itself
  * `repartition`s on the partition column first so each date lands as
  * one file instead of (input partitions × dates) small files — the
  * small-file explosion being the classic partitioned-sink mistake. */
object Sinks {

  /** One-time (per source dir) date-partitioned copy of events, at the
    * [[Artifacts.path]] keyed by the events fingerprint and gated by the
    * [[Artifacts]] contract. */
  def ensurePartitionedEvents(spark: SparkSession, dir: String): String = {
    val path = Artifacts.path(spark, dir, "events_by_date", 0, Seq("events"))
    if (!Artifacts.isBuilt(spark, path)) {
      Tables.events(spark, dir)
        .withColumn("event_date", to_date(col("ts")))
        .repartition(col("event_date"))
        .write.mode("overwrite")
        .partitionBy("event_date")
        .parquet(path)
    }
    path
  }

  /** Daily activity summary read from the partitioned copy with a
    * partition filter — the scan lists only the requested date's
    * directory (plan shows `PartitionFilters: [isnotnull(event_date),
    * (event_date = ...)]` and one selected partition). */
  def dailyActivity(spark: SparkSession, dir: String, date: String): DataFrame =
    Tables.parquet(spark, ensurePartitionedEvents(spark, dir))
      .where(col("event_date") === lit(date))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        Det.dsum(coalesce(col("value"), lit(0.0))).as("total_value"))
      .orderBy("event_type")
}
