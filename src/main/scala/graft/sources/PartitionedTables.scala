package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Hive-style partitioned storage layouts — the partition-PRUNING
  * face of the scan surface. The driver's sf tables are single
  * parquet files, so predicate pushdown is exercised everywhere but
  * partition pruning (skipping whole directories from the file
  * listing, the first and cheapest filter at 100 TB — a day-ranged
  * query over a year of date-partitioned events lists ~2% of the
  * files before a single row group is touched) has no surface to show
  * on. This module stages the canonical layout a production events
  * table would use: `event_date=YYYY-MM-DD/` partitions, written
  * partition-aligned (`repartition(event_date)` → one file per day,
  * never the tasks×days small-file explosion).
  *
  * Staged once per (session, sf-dir) — the layout is a property of
  * the TABLE, like the IVF centroid index, not per-query work; the
  * declared query's cost is the pruned scan, exactly what a query
  * against a partitioned production table pays.
  */
object PartitionedTables {

  /** The events table re-laid-out as date partitions; returns a
    * DataFrame over the partitioned directory (partition column
    * `event_date` is inferred as DATE and prunes on literal ranges).
    * Staged once per (session, sf-dir) in [[graft.ops.SharedBuild]]. */
  def eventsByDay(spark: SparkSession, d: String): DataFrame = {
    val dir = graft.ops.SharedBuild.staged(spark, "events-byday", d) {
      val out = java.nio.file.Files
        .createTempDirectory("graft-events-byday").toString
      Tables.events(spark, d)
        .withColumn("event_date", to_date(col("ts")))
        .repartition(col("event_date"))
        .write.mode("overwrite").partitionBy("event_date").parquet(out)
      out
    }(graft.ops.OpsUtil.deleteRecursively)
    spark.read.parquet(dir)
  }
}
