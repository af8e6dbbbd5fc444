package graft.mr

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** The reference's only quantified perf contract is its worker
  * resource test: map 3.74 MB over 4 files with an identity mapper in
  * < 1.5 s on one worker (BASELINE.md; tests/test_worker_11.py:150).
  * This spec replicates that workload through the full engine (map +
  * shuffle + reduce, R=1) and bounds the wall time. A Spark job
  * carries ~1 s of fixed scheduling/codegen overhead the reference's
  * bare subprocess pipeline doesn't, so the bound here is generous —
  * the point is the same order of magnitude on the same bytes, with
  * the engine's streaming/spill properties (the reference's <1 MB
  * heap constraint) inherited from Tungsten rather than asserted. */
class MrPerfSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val inputLarge = "/root/reference/tests/testdata/input_large"

  /** The reference's corpus when present; otherwise a deterministic
    * stand-in of the same shape: 3.74 MB of distinct lines in 4 files,
    * the regime where combining identical lines saves nothing. */
  private def corpus(): String =
    if (Files.isDirectory(java.nio.file.Paths.get(inputLarge))) inputLarge
    else {
      val dir = Files.createTempDirectory("graft-mrperf-in")
      val rnd = new scala.util.Random(374)
      val perFile = (3.74 * 1024 * 1024 / 4).toLong
      for (f <- 0 until 4) {
        val sb = new StringBuilder
        var i = 0
        while (sb.length < perFile) {
          sb ++= f"file$f line$i%07d"
          for (_ <- 0 until 4) sb ++= f" ${rnd.nextLong()}%016x"
          sb += '\n'
          i += 1
        }
        Files.write(dir.resolve(s"file0$f"), sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      dir.toString
    }

  test("identity map over the reference's 3.74 MB corpus stays within bound") {
    val input = corpus()
    val out = Files.createTempDirectory("graft-mrperf")
    Files.delete(out)
    // warm the session so the measurement isn't JVM bring-up
    spark.range(1000).count()
    val t0 = System.nanoTime()
    MapReduceRunner.run(spark, MapReduceJob(
      inputDirectory = input,
      outputDirectory = out.toString,
      mapper = FnSpec(identity),
      reducer = FnSpec(identity),
      numMappers = 4, numReducers = 1))
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"identity map+shuffle+reduce over 3.74 MB: $secs%.2f s (reference map-only: <1.5 s)")
    val outBytes = Files.list(out).iterator()
    var total = 0L
    outBytes.forEachRemaining(p => total += Files.size(p))
    assert(total >= 3L * 1024 * 1024, s"output truncated: $total bytes")
    assert(secs < 15.0, f"took $secs%.2f s")
  }
}
