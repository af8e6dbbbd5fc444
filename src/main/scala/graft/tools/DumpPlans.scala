package graft.tools

import java.nio.file.{Files, Paths}
import scala.util.matching.Regex
import org.apache.spark.sql.SparkSession
import graft.{GraftSession, SparkEntry}

/** Writes PLANS.md: the formatted physical plan of every declared
  * query — the at-a-glance evidence for pushdown/pruning/broadcast/
  * codegen decisions across the whole surface.
  *
  * The text is the same on every run of the same code ([[normalize]]),
  * so a diff against the committed file shows only the plans that moved.
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

  private val PlanId = """\[plan_id=(\d+)\]""".r
  // AQE numbers query stages, and whole-stage codegen its stages, in
  // the order the stages of a cached plan happened to run
  private val QueryStage = """QueryStage (\d+)""".r
  private val CodegenStage = """\*\((\d+)\)""".r
  // `&#10` is an escaped newline inside a literal, not an expression id
  private val ExprId = """(?<!&)#(\d+)""".r
  private val Lambda = """\$Lambda[$\d]*/0x[0-9a-f]+@[0-9a-f]+""".r
  private val IdentityHash = """(?<=[\w$])@[0-9a-f]{1,8}\b""".r
  private val StagedDir = """/tmp/graft-[\w-]+""".r
  // a long path is cut at a fixed width, so the part name may be cut short
  private val PartFile = """part-[^\s,\]]*""".r

  /** One section's plan with what differs between two runs of the same
    * code masked: expression, plan and stage ids, which count everything
    * the JVM built or ran before, are renumbered in order of first
    * appearance; lambda and object identity hashes become `@…`; the
    * random suffix of a staged temp dir and a part file's name become `…`. */
  private[tools] def normalize(plan: String): String = {
    def renumber(s: String, re: Regex, show: Int => String): String = {
      val ids = scala.collection.mutable.Map.empty[String, Int]
      re.replaceAllIn(s, m =>
        Regex.quoteReplacement(show(ids.getOrElseUpdate(m.group(1), ids.size))))
    }
    val ids = Seq[(Regex, Int => String)](PlanId -> (n => s"[plan_id=$n]"),
      QueryStage -> (n => s"QueryStage $n"), CodegenStage -> (n => s"*($n)"),
      ExprId -> (n => s"#$n")).foldLeft(plan) { case (s, (re, show)) => renumber(s, re, show) }
    val hashes = IdentityHash.replaceAllIn(Lambda.replaceAllIn(ids, "\\$Lambda@…"), "@…")
    PartFile.replaceAllIn(
      StagedDir.replaceAllIn(hashes, m => Regex.quoteReplacement(m.matched.replaceAll("\\d+$", "…"))),
      "part-…")
  }

  private val ExprIdBlock = 1000000L

  /** Advances Spark's JVM-wide expression-id counter to the next
    * multiple of [[ExprIdBlock]], so each section's query is built from
    * the same ids on every run. Spark's distinct-aggregate rewrite
    * (evt_retention, profile_columns) orders its groups by a hash of
    * those ids, and how many ids the earlier sections use varies from
    * run to run; without this, those two plans changed between runs. */
  private def alignExprIds(): Unit = {
    import org.apache.spark.sql.catalyst.expressions.NamedExpression
    var id = NamedExpression.newExprId.id
    while ((id + 1) % ExprIdBlock != 0) id = NamedExpression.newExprId.id
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
        alignExprIds()
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.SimpleMode)
        sb.append(s"\n## $name\n\n```\n${normalize(plan)}```\n")
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
