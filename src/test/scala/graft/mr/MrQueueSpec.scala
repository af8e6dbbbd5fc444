package graft.mr

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Multi-job queue semantics (SURVEY.md §2.1 F10): the reference
  * manager keeps a FIFO of submitted jobs with monotonically
  * increasing ids and runs them all (manager/__main__.py:45,73-78;
  * queued jobs asserted in tests/test_manager_09.py). Spark's
  * equivalent: one SparkContext accepts any number of jobs and its
  * FIFO scheduler (spark.scheduler.mode default) drains them in
  * submission order. This spec submits three jobs with mixed M/R
  * through ONE session — both sequentially and concurrently — and
  * asserts every job's output is complete and correct. */
class MrQueueSpec extends AnyFunSuite with ReferenceData {
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

  private lazy val wcGolden = Files.readAllLines(
    java.nio.file.Paths.get(s"$refData/correct/word_count_correct.txt"))
    .asScala.toSeq.sorted
  private lazy val grepGolden = Files.readAllLines(
    java.nio.file.Paths.get(s"$refData/correct/grep_correct.txt")).asScala.toSeq

  private def jobs(tag: String): Seq[(MapReduceJob, () => Unit)] = {
    val wcOut = tmpOut(s"q-wc-$tag"); val grepOut = tmpOut(s"q-grep-$tag")
    val wc2Out = tmpOut(s"q-wc2-$tag")
    Seq(
      (MapReduceJob(s"$refData/input", wcOut.toString,
        FnSpec(Workloads.wcMapSh), FnSpec(Workloads.wcReduceSh),
        numMappers = 4, numReducers = 2),
        () => assert(partLines(wcOut).sorted === wcGolden)),
      (MapReduceJob(s"$refData/input", grepOut.toString,
        FnSpec(Workloads.grepMap()), FnSpec(Workloads.grepReduce),
        numMappers = 2, numReducers = 1),
        () => assert(partLines(grepOut) === grepGolden)),
      (MapReduceJob(s"$refData/input", wc2Out.toString,
        FnSpec(Workloads.wcMapSh), FnSpec(Workloads.wcReduceSh),
        numMappers = 3, numReducers = 4),
        () => assert(partLines(wc2Out).sorted === wcGolden)))
  }

  refTest("three queued jobs (mixed M/R) all run to correct completion, in order") {
    jobs("seq").foreach { case (job, check) =>
      MapReduceRunner.run(spark, job)
      check()
    }
  }

  refTest("three concurrently submitted jobs share the scheduler and all complete") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val js = jobs("conc")
    val fs = js.map { case (job, _) => Future(MapReduceRunner.run(spark, job)) }
    Await.result(Future.sequence(fs), 5.minutes)
    js.foreach { case (_, check) => check() }
  }
}
