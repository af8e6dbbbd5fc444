package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    GraftSession.run(s"local[$cpus]", cpus.toInt) { spark =>
      spark.sparkContext.setLogLevel("WARN")
      dump(spark, sfDir, outDir)
    }
  }

  private def dump(spark: SparkSession, sfDir: String, outDir: String): Unit = {
    new java.io.File(outDir).mkdirs()
    val todo = GraftSession.selectedQueries()
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
    // Only the queries this run wrote get an entry, so a
    // SPARK_GRAFT_ONLY run checks clean.
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => todo.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("__SF_DIR__", sfDir))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
