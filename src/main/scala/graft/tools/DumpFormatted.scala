package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** Writes `explain("formatted")` for selected declared queries, one
  * file per query — the per-round optimization evidence files
  * (plans/rNN/<query>_{before,after}.txt).
  *
  * Usage:
  *   sbt "runMain graft.tools.DumpFormatted <outDir> <suffix> <q1,q2,...> [sfDir]"
  * writes <outDir>/<query>_<suffix>.txt for each named query.
  *
  * Session config mirrors Bench (shuffle.partitions = cpus, AQE on) so
  * the captured plan is the shape the bench actually runs, not the
  * DumpPlans local[8] shape.
  */
object DumpFormatted {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: DumpFormatted <outDir> <suffix> <q1,q2,...> [sfDir]")
    val outDir = Paths.get(args(0))
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.001"
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    Files.createDirectories(outDir)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val warehouseDir =
      Files.createTempDirectory("graft-warehouse").toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.warehouse.dir", warehouseDir)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      Files.writeString(outDir.resolve(s"${name}_$suffix.txt"), plan)
      println(s"wrote ${name}_$suffix.txt (${plan.length} chars)")
    }
    graft.ops.SharedBuild.releaseAll()
    spark.stop()
    graft.ops.OpsUtil.deleteRecursively(warehouseDir)
  }
}
