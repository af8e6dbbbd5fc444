package graft.mr

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Golden tests against the reference's own committed artifacts
  * (SURVEY.md §5): word count and grep over the reference's `input/`,
  * compared to correct/word_count_correct.txt and
  * correct/grep_correct.txt, plus the per-partition-file goldens
  * inlined in test_worker_08.py:226-257 and the merge-grouping fixture
  * from test_worker_07.
  *
  * The native word count, native grep and the three test_worker_08
  * tests read the reference's `input/` and `correct/` files, which the
  * repo does not hold; they are ignored where [[ReferenceData]] is
  * absent. The test_worker_07 fixture is committed byte for byte
  * (FIXTURES.md §A.3) under `src/test/resources/mr/test_worker_07`, and
  * that test reads the reference's copy only where it exists.
  */
class MrGoldenSpec extends AnyFunSuite with ReferenceData {
  private lazy val spark = SparkTestSession.spark

  private def readLines(p: String): Seq[String] =
    Files.readAllLines(Paths.get(p)).asScala.toSeq

  /** All lines across part-* files of an output dir, in file order. */
  private def partLines(outDir: Path): Seq[String] =
    Files.list(outDir).iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("part-"))
      .sortBy(_.getFileName.toString)
      .flatMap(p => Files.readAllLines(p).asScala)

  private def tmpOut(name: String): Path = {
    val d = Files.createTempDirectory(s"graft-$name")
    Files.delete(d) // runner expects to create it
    d
  }

  refTest("native word count matches word_count_correct.txt (order-insensitive union)") {
    val out = tmpOut("wc")
    MapReduceRunner.run(spark, MapReduceJob(
      inputDirectory = s"$refData/input",
      outputDirectory = out.toString,
      mapper = FnSpec(Workloads.wcMapSh),
      reducer = FnSpec(Workloads.wcReduceSh),
      numMappers = 4, numReducers = 2))
    val got = partLines(out).sorted
    val want = readLines(s"$refData/correct/word_count_correct.txt").sorted
    assert(got === want)
  }

  refTest("native grep matches grep_correct.txt byte-exactly with R=1") {
    val out = tmpOut("grep")
    MapReduceRunner.run(spark, MapReduceJob(
      inputDirectory = s"$refData/input",
      outputDirectory = out.toString,
      mapper = FnSpec(Workloads.grepMap()),
      reducer = FnSpec(Workloads.grepReduce),
      numMappers = 2, numReducers = 1))
    // Reference output is the sorted merged stream projected to
    // values; R=1 makes the single part file byte-comparable
    // (test_integration_00.py:34-38 does filecmp after sort).
    val got = partLines(out)
    val want = readLines(s"$refData/correct/grep_correct.txt")
    assert(got === want)
  }

  refTest("per-partition reduce outputs match test_worker_08 goldens (md5-mod parity)") {
    // Inputs file01+file02 only, R=2 — expected part files inlined at
    // tests/test_worker_08.py:245-257.
    val in = Files.createTempDirectory("graft-wc08-in")
    Seq("file01", "file02").foreach { f =>
      Files.copy(Paths.get(s"$refData/input/$f"), in.resolve(f),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val out = tmpOut("wc08")
    MapReduceRunner.run(spark, MapReduceJob(
      inputDirectory = in.toString,
      outputDirectory = out.toString,
      mapper = FnSpec(Workloads.wcMapSh),
      reducer = FnSpec(Workloads.wcReduceSh),
      numMappers = 2, numReducers = 2))
    assert(readLines(s"$out/part-00000") === Seq("\t2", "bye\t1", "hello\t2"))
    assert(readLines(s"$out/part-00001") === Seq("goodbye\t1", "hadoop\t2", "world\t2"))
  }

  test("shuffle reproduces the test_worker_07 k-way merge + grouping") {
    // The fixture's two pre-sorted map outputs, run through the
    // engine's shuffle + adjacency-grouping reduce; expected output
    // from tests/test_worker_07.py:131-135.
    val ref07 = Paths.get(s"$refData/test_worker_07")
    val worker07 =
      if (Files.isDirectory(ref07)) ref07
      else Paths.get(getClass.getResource("/mr/test_worker_07").toURI)
    val in = Files.createTempDirectory("graft-wc07-in")
    Seq("maptask00000-part00000", "maptask00001-part00000").foreach { f =>
      Files.copy(worker07.resolve(f), in.resolve(f),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val out = tmpOut("wc07")
    MapReduceRunner.run(spark, MapReduceJob(
      inputDirectory = in.toString,
      outputDirectory = out.toString,
      mapper = FnSpec(identity), // intermediate data is already key TAB value
      reducer = FnSpec(Workloads.wcReduceSh),
      numMappers = 2, numReducers = 1))
    assert(readLines(s"$out/part-00000") === Seq("\t2", "bye\t1", "hello\t2"))
  }

  refTest("exact F2 routing reproduces the per-map-task intermediate goldens (test_worker_08)") {
    // Reference: sorted files round-robin (file01 → task 0, file02 →
    // task 1 at M=2), each map task writes maptask{m:05d}-part{r:05d}
    // md5-partitioned + sorted (worker/__main__.py:142-155); expected
    // contents inlined at tests/test_worker_08.py:226-243.
    val in = Files.createTempDirectory("graft-wc08x-in")
    Seq("file01", "file02").foreach { f =>
      Files.copy(Paths.get(s"$refData/input/$f"), in.resolve(f),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val inter = Files.createTempDirectory("graft-wc08x-inter")
    val job = MapReduceJob(
      inputDirectory = in.toString,
      outputDirectory = "/unused",
      mapper = FnSpec(Workloads.wcMapSh),
      reducer = FnSpec(Workloads.wcReduceSh),
      numMappers = 2, numReducers = 2,
      exactFileRouting = true)
    val written = MapReduceRunner.writeMapIntermediate(spark, job, inter.toString)
    assert(written.size === 4, written.mkString(","))
    assert(readLines(s"$inter/maptask00000-part00000") === Seq("\t1", "bye\t1", "hello\t1"))
    assert(readLines(s"$inter/maptask00000-part00001") === Seq("world\t1", "world\t1"))
    assert(readLines(s"$inter/maptask00001-part00000") === Seq("\t1", "hello\t1"))
    assert(readLines(s"$inter/maptask00001-part00001") ===
      Seq("goodbye\t1", "hadoop\t1", "hadoop\t1"))
  }

  refTest("exact F2 routing end-to-end still matches the test_worker_08 reduce goldens") {
    val in = Files.createTempDirectory("graft-wc08y-in")
    Seq("file01", "file02").foreach { f =>
      Files.copy(Paths.get(s"$refData/input/$f"), in.resolve(f),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val out = tmpOut("wc08y")
    MapReduceRunner.run(spark, MapReduceJob(
      inputDirectory = in.toString,
      outputDirectory = out.toString,
      mapper = FnSpec(Workloads.wcMapSh),
      reducer = FnSpec(Workloads.wcReduceSh),
      numMappers = 2, numReducers = 2,
      exactFileRouting = true))
    assert(readLines(s"$out/part-00000") === Seq("\t2", "bye\t1", "hello\t2"))
    assert(readLines(s"$out/part-00001") === Seq("goodbye\t1", "hadoop\t2", "world\t2"))
  }

  test("empty-string keys survive tokenization and grouping (SURVEY.md §2.4.3)") {
    val got = Workloads.wcMapSh(Iterator("Hello  World")).toSeq
    assert(got === Seq("hello\t1", "\t1", "world\t1"))
  }

  test("R larger than the key count still writes R part files (some empty)") {
    val in = Files.createTempDirectory("graft-bigr-in")
    Files.writeString(in.resolve("file01"), "a b\n")
    val out = tmpOut("bigr")
    MapReduceRunner.run(spark, MapReduceJob(
      inputDirectory = in.toString,
      outputDirectory = out.toString,
      mapper = FnSpec(Workloads.wcMapSh),
      reducer = FnSpec(Workloads.wcReduceSh),
      numMappers = 1, numReducers = 8))
    val parts = Files.list(out).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("part-")).toSeq.sorted
    assert(parts === (0 until 8).map(i => f"part-$i%05d"))
    assert(partLines(out).sorted === Seq("a\t1", "b\t1"))
  }

  test("non-ASCII keys hash as UTF-8 and survive the whole job") {
    val in = Files.createTempDirectory("graft-utf8-in")
    Files.writeString(in.resolve("file01"), "héllo wörld 中文 héllo\n")
    val out = tmpOut("utf8")
    MapReduceRunner.run(spark, MapReduceJob(
      inputDirectory = in.toString,
      outputDirectory = out.toString,
      mapper = FnSpec(Workloads.wcMapSh),
      reducer = FnSpec(Workloads.wcReduceSh),
      numMappers = 1, numReducers = 4))
    assert(partLines(out).sorted === Seq("héllo\t2", "wörld\t1", "中文\t1"))
  }

  test("multi-TAB values keep the first-field key through the whole job") {
    val in = Files.createTempDirectory("graft-tabs-in")
    Files.writeString(in.resolve("file01"), "k\tv1\tv2\nk\tother\n")
    val out = tmpOut("tabs")
    MapReduceRunner.run(spark, MapReduceJob(
      inputDirectory = in.toString,
      outputDirectory = out.toString,
      mapper = FnSpec(identity),
      reducer = FnSpec(Workloads.wcReduceSh), // counts per first-TAB key
      numMappers = 1, numReducers = 2))
    assert(partLines(out) === Seq("k\t2"))
  }
}
