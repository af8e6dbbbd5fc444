package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val warehouseDir =
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
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
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Optional name filter for local iteration (comma-separated);
    // absent or blank for the driver → all queries run; unknown names
    // fail fast (same contract as Bench).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names not registered: ${unknown.toSeq.sorted.mkString(",")}")
    }
    val todo = SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }
    // Queries are independent Spark jobs — run them concurrently so
    // the scheduler keeps all cores busy (single queries rarely do).
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val futures = todo.toSeq.map { case (name, fn) =>
      Future {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    Await.result(Future.sequence(futures), Duration.Inf)
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // __SF_DIR__ placeholder: oracle SQL normally sees only the
    // registered table views, but metadata-level oracles (e.g.
    // src_parquet_meta's parquet_metadata(...) footer read) need the
    // PHYSICAL file path — which only this dump knows. Substituting
    // here bakes the absolute path into the JSON the driver executes.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("__SF_DIR__", sfDir))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // release every shared build, including the graft_bkt_* catalog
    // tables join_bucketed staged (the Bench-end cleanup; the warehouse
    // dir removal below would leave dangling catalog entries on any
    // shared-session reuse)
    graft.ops.SharedBuild.releaseAll()
    spark.stop()
    graft.ops.OpsUtil.deleteRecursively(warehouseDir)
  }
}
