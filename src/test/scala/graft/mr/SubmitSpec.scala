package graft.mr

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** CLI submission (SURVEY.md §2.1 F16): the mapreduce-submit analog,
  * driven exactly as a user would — CLI flags parsed into a job whose
  * mapper/reducer are the REFERENCE'S OWN executables run unchanged
  * via RDD.pipe — and verified against the committed golden. */
class SubmitSpec extends AnyFunSuite with ReferenceData {
  private lazy val spark = SparkTestSession.spark

  refTest("CLI args drive a pipe job that reproduces word_count_correct.txt") {
    val out = Files.createTempDirectory("graft-submit")
    Files.delete(out)
    val job = Submit.buildJob(Array(
      "--input", s"$refData/input",
      "--output", out.toString,
      "--mapper", s"bash $refData/exec/wc_map.sh",
      "--reducer", s"bash $refData/exec/wc_reduce.sh",
      "--nmappers", "4", "--nreducers", "3"))
    assert(job.numMappers === 4 && job.numReducers === 3)
    assert(job.mapper === ExecSpec(Seq("bash", s"$refData/exec/wc_map.sh")))
    MapReduceRunner.run(spark, job)
    val got = Files.list(out).iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("part-"))
      .flatMap(p => Files.readAllLines(p).asScala).sorted
    val want = Files.readAllLines(
      Paths.get(s"$refData/correct/word_count_correct.txt")).asScala.toSeq.sorted
    assert(got === want)
  }

  test("missing required flag fails loudly") {
    val e = intercept[RuntimeException](Submit.buildJob(Array("--input", "/x")))
    assert(e.getMessage.contains("--output"))
  }
}
