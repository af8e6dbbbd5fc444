package graft.mr

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** M2 pipe-fidelity path (SURVEY.md §7.2): run the reference's OWN
  * executables unchanged through RDD.pipe — the Hadoop-Streaming
  * contract (F3/F7) — and compare to the same goldens the reference's
  * integration tests use.
  */
class PipeFidelitySpec extends AnyFunSuite with ReferenceData {
  private lazy val spark = SparkTestSession.spark

  private def partLines(outDir: Path): Seq[String] =
    Files.list(outDir).iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("part-"))
      .sortBy(_.getFileName.toString)
      .flatMap(p => Files.readAllLines(p).asScala)

  private def tmpOut(name: String): Path = {
    val d = Files.createTempDirectory(s"graft-$name")
    Files.delete(d)
    d
  }

  refTest("reference wc_map.sh + wc_reduce.sh run unchanged via pipe") {
    val out = tmpOut("pipe-wc")
    MapReduceRunner.run(spark, MapReduceJob(
      inputDirectory = s"$refData/input",
      outputDirectory = out.toString,
      mapper = ExecSpec(Seq("bash", s"$refData/exec/wc_map.sh")),
      reducer = ExecSpec(Seq("bash", s"$refData/exec/wc_reduce.sh")),
      numMappers = 4, numReducers = 2))
    val got = partLines(out).sorted
    val want = Files.readAllLines(
      Paths.get(s"$refData/correct/word_count_correct.txt")).asScala.toSeq.sorted
    assert(got === want)
  }

  refTest("reference grep_map.py + grep_reduce.py run unchanged via pipe") {
    val out = tmpOut("pipe-grep")
    MapReduceRunner.run(spark, MapReduceJob(
      inputDirectory = s"$refData/input",
      outputDirectory = out.toString,
      mapper = ExecSpec(Seq("python3", s"$refData/exec/grep_map.py")),
      reducer = ExecSpec(Seq("python3", s"$refData/exec/grep_reduce.py")),
      numMappers = 2, numReducers = 1))
    assert(partLines(out) ===
      Files.readAllLines(Paths.get(s"$refData/correct/grep_correct.txt")).asScala.toSeq)
  }

  refTest("native and pipe paths agree (wc_map.py/wc_reduce.py semantics)") {
    val outPipe = tmpOut("pipe-wcpy")
    val outNative = tmpOut("native-wcpy")
    val jobBase = MapReduceJob(
      inputDirectory = s"$refData/input",
      outputDirectory = outPipe.toString,
      mapper = ExecSpec(Seq("python3", s"$refData/exec/wc_map.py")),
      reducer = ExecSpec(Seq("python3", s"$refData/exec/wc_reduce.py")),
      numMappers = 4, numReducers = 2)
    MapReduceRunner.run(spark, jobBase)
    MapReduceRunner.run(spark, jobBase.copy(
      outputDirectory = outNative.toString,
      mapper = FnSpec(Workloads.wcMapPy),
      reducer = FnSpec(Workloads.wcReducePy)))
    assert(partLines(outPipe).sorted === partLines(outNative).sorted)
  }
}
