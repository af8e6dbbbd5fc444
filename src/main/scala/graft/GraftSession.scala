package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one way to build a session. Every main and test session starts
  * from [[builder]], so the bench, the oracle dump, PLANS.md and the
  * plan pins all see the same plan- and output-relevant confs; a caller
  * chains only what is its own (a cluster master's classpath, a memory
  * squeeze, extensions). Context-level confs, which no single query can
  * set, belong here too.
  */
object GraftSession {

  /** The shared confs, with a fresh temp warehouse dir per call. */
  def builder(master: String, partitions: Int): SparkSession.Builder =
    builder(master, partitions, newWarehouseDir())

  /** Removed at JVM exit if it is empty then; [[run]] removes its own
    * whatever it holds. */
  private def newWarehouseDir(): String = {
    val dir = Files.createTempDirectory("graft-warehouse")
    dir.toFile.deleteOnExit()
    dir.toString
  }

  private def builder(master: String, partitions: Int,
                      warehouseDir: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", partitions.toString)
      // unique warehouse per JVM: managed-table staging (join_bucketed)
      // would otherwise hit LOCATION_ALREADY_EXISTS on the next run --
      // the in-memory catalog forgets tables, the directory persists
      .config("spark.sql.warehouse.dir", warehouseDir)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // NOTE on timestamps: INT96 output (Spark's default) is
      // deliberate — the driver's Arrow-based hasher reads INT96 as
      // tz-NAIVE datetime64[ns], matching DuckDB's naive TIMESTAMP.
      // Switching to annotated TIMESTAMP_MICROS makes the read
      // tz-AWARE (isAdjustedToUTC) and hash-diverges EVERY timestamp
      // query. The ns-wrap hazard (r13 evt_scd2: year 9999 → 1816) is
      // instead closed by the sentinel rule: no declared output may
      // carry a timestamp outside datetime64[ns] range — enforced by
      // OpsSmokeSpec and tools/check_oracle.py.
      // allow DPP to run its own subquery when AQE hasn't materialized
      // a reusable broadcast yet (default reuse-only silently degrades
      // the filter to `true` and scans every partition - evt_dpp)
      .config("spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")

  /** The main lifecycle: one session for `body`, then, whatever `body`
    * did, every shared build is released (the graft_bkt_* catalog
    * tables and staged files included), the session stops and its
    * warehouse dir is deleted. Test code uses [[builder]] instead:
    * stopping here would stop the shared test context. */
  def run[T](master: String, partitions: Int)(body: SparkSession => T): T = {
    val warehouseDir = newWarehouseDir()
    val spark = builder(master, partitions, warehouseDir).getOrCreate()
    try body(spark)
    finally {
      graft.ops.SharedBuild.releaseAll()
      spark.stop()
      graft.ops.OpsUtil.deleteRecursively(warehouseDir)
    }
  }

  /** The `SparkEntry.queries` entries a SPARK_GRAFT_ONLY value selects
    * (comma-separated names, for local iteration). Absent or blank — a
    * blank or empty-segment value included — selects every query, so
    * a stray value never runs a silently short list; a name that
    * matches nothing fails fast. */
  def selectedQueries(only: Option[String] = sys.env.get("SPARK_GRAFT_ONLY"))
      : Map[String, (SparkSession, String) => DataFrame] = {
    val names = only.toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).toSet
    val all = SparkEntry.queries
    val unknown = names -- all.keySet
    require(unknown.isEmpty,
      s"SPARK_GRAFT_ONLY names not registered: ${unknown.toSeq.sorted.mkString(",")}")
    if (names.isEmpty) all else all.filter { case (n, _) => names(n) }
  }
}
