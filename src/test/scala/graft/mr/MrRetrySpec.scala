package graft.mr

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.TaskContext
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Fault tolerance (SURVEY.md §2.1 F13, reference workload Q7): the
  * reference's most-asserted runtime property is that a dead/slow
  * worker's task is reassigned and the job still produces the correct
  * output (tests/test_manager_05.py:71-83,263-280 kills a worker
  * mid-map; the slow-variant executables wc_map_slow.sh exist purely
  * to stimulate this). Spark's equivalent is task retry
  * (spark.task.maxFailures; the test session runs local[8, 2]) — this
  * spec INDUCES a first-attempt task failure inside the map stage and
  * proves the retried job reproduces the reference golden byte-for-
  * byte, with the injection observed via an accumulator. */
object MrRetrySpec {
  // Spark discards accumulator updates from FAILED task attempts, so
  // the injection proof is a plain JVM-global counter — valid because
  // local mode runs tasks in this JVM.
  val mapFailures = new java.util.concurrent.atomic.AtomicInteger(0)
  val reduceFailures = new java.util.concurrent.atomic.AtomicInteger(0)
}

class MrRetrySpec extends AnyFunSuite with ReferenceData {
  private lazy val spark = SparkTestSession.spark

  private def partLines(outDir: Path): Seq[String] =
    Files.list(outDir).iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("part-"))
      .sortBy(_.getFileName.toString)
      .flatMap(p => Files.readAllLines(p).asScala)

  refTest("map task killed on first attempt is retried; word count golden still exact") {
    MrRetrySpec.mapFailures.set(0)
    // Mapper contract unchanged (wc_map.sh semantics) but the first
    // attempt of partition 0 dies mid-stream — the moral equivalent of
    // the reference's killed worker. attemptNumber is per-task-attempt,
    // so the rescheduled attempt (1) runs clean.
    val crashOnceMapper = FnSpec { lines =>
      val tc = TaskContext.get()
      if (tc != null && tc.partitionId() == 0 && tc.attemptNumber() == 0) {
        MrRetrySpec.mapFailures.incrementAndGet()
        throw new RuntimeException("injected worker death (first attempt, partition 0)")
      }
      Workloads.wcMapSh(lines)
    }
    val out = Files.createTempDirectory("graft-retry")
    Files.delete(out)
    MapReduceRunner.run(spark, MapReduceJob(
      inputDirectory = s"$refData/input",
      outputDirectory = out.toString,
      mapper = crashOnceMapper,
      reducer = FnSpec(Workloads.wcReduceSh),
      numMappers = 4, numReducers = 2))
    assert(MrRetrySpec.mapFailures.get() >= 1,
      "the induced failure must actually have fired")
    val got = partLines(out).sorted
    val want = Files.readAllLines(
      Paths.get(s"$refData/correct/word_count_correct.txt")).asScala.toSeq.sorted
    assert(got === want)
  }

  refTest("reduce-stage first-attempt failure is also retried to the exact golden") {
    MrRetrySpec.reduceFailures.set(0)
    val crashOnceReducer = FnSpec { lines =>
      val tc = TaskContext.get()
      if (tc != null && tc.partitionId() == 0 && tc.attemptNumber() == 0) {
        MrRetrySpec.reduceFailures.incrementAndGet()
        throw new RuntimeException("injected worker death (reduce attempt 0)")
      }
      Workloads.wcReduceSh(lines)
    }
    val out = Files.createTempDirectory("graft-retry-red")
    Files.delete(out)
    MapReduceRunner.run(spark, MapReduceJob(
      inputDirectory = s"$refData/input",
      outputDirectory = out.toString,
      mapper = FnSpec(Workloads.wcMapSh),
      reducer = crashOnceReducer,
      numMappers = 4, numReducers = 2))
    assert(MrRetrySpec.reduceFailures.get() >= 1)
    val got = partLines(out).sorted
    val want = Files.readAllLines(
      Paths.get(s"$refData/correct/word_count_correct.txt")).asScala.toSeq.sorted
    assert(got === want)
  }
}
