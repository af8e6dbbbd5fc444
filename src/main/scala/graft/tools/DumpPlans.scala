package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.{GraftSession, SparkEntry}

/** Writes PLANS.md: the formatted physical plan of every declared
  * query — the at-a-glance evidence for pushdown/pruning/broadcast/
  * codegen decisions across the whole surface.
  *
  * Usage: sbt "runMain graft.tools.DumpPlans [sfDir] [outFile]"
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val outFile = if (args.length > 1) args(1) else "PLANS.md"
    // local[8] with 8 partitions whatever the machine, so the document
    // does not depend on where it is generated
    val failedCount = GraftSession.run("local[8]", 8) { spark =>
      spark.sparkContext.setLogLevel("ERROR")
      write(spark, sfDir, outFile)
    }
    // a doc with FAILED sections is stale evidence, not evidence — and
    // PlansDocSpec will fail on it too; make the generator itself loud
    if (failedCount > 0) sys.exit(1)
  }

  /** Writes the document; returns the number of FAILED sections. */
  private def write(spark: SparkSession, sfDir: String, outFile: String): Int = {
    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of every declared query\n\n")
    sb.append(s"Generated by `graft.tools.DumpPlans` against `$sfDir`.\n")
    sb.append("Initial (pre-AQE) plans; AQE may further coalesce/convert at runtime.\n")
    var failedCount = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.SimpleMode)
        sb.append(s"\n## $name\n\n```\n$plan```\n")
      } catch {
        case e: Throwable =>
          failedCount += 1
          sb.append(s"\n## $name\n\nFAILED: ${e.getMessage}\n")
      }
    }
    Files.writeString(Paths.get(outFile), sb.toString)
    println(s"wrote $outFile: ${SparkEntry.queries.size} sections, $failedCount failed")
    failedCount
  }
}
