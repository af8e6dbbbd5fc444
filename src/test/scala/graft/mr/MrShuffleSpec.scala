package graft.mr

import java.math.BigInteger
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import scala.util.Random
import org.apache.spark.ShuffleDependency
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** The runner's shuffle (in-mapper counting of identical lines, a
  * reduce-side sum, then re-expansion) against an independent
  * plain-Scala model of the reference dataflow: map every line, place
  * it by `BigInteger(1, md5(key)) mod R` with key = text before the
  * first TAB, sort each partition by whole line, run the reducer.
  * Every part file must equal the model byte for byte. */
class MrShuffleSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def md5Mod(key: String, r: Int): Int =
    new BigInteger(1, MessageDigest.getInstance("MD5").digest(key.getBytes(UTF_8)))
      .mod(BigInteger.valueOf(r.toLong)).intValueExact()

  /** Writes `files` as an input directory, runs the job and compares
    * each part file with the model; returns the model's map-output
    * line count. */
  private def check(name: String, files: Seq[Seq[String]],
                    mapper: Iterator[String] => Iterator[String],
                    reducer: StageSpec, modelReduce: Seq[String] => Seq[String],
                    r: Int, budgetBytes: Long = LineCounts.BudgetBytes): Int = {
    val in = Files.createTempDirectory(s"graft-shuffle-$name-in")
    files.zipWithIndex.foreach { case (lines, i) =>
      Files.write(in.resolve(f"file$i%02d"), lines.map(_ + "\n").mkString.getBytes(UTF_8))
    }
    val out = Files.createTempDirectory(s"graft-shuffle-$name-out")
    Files.delete(out)
    MapReduceRunner.run(spark, MapReduceJob(in.toString, out.toString,
      FnSpec(mapper), reducer, numMappers = files.size, numReducers = r), budgetBytes)

    val mapped = mapper(files.flatten.iterator).toSeq
    val parts: Seq[Path] = Files.list(out).iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("part-")).sortBy(_.getFileName.toString)
    assert(parts.map(_.getFileName.toString) === (0 until r).map(i => f"part-$i%05d"))
    parts.zipWithIndex.foreach { case (p, i) =>
      val sorted = mapped.filter(l => md5Mod(l.takeWhile(_ != '\t'), r) == i).sorted
      val want = modelReduce(sorted).map(_ + "\n").mkString
      assert(new String(Files.readAllBytes(p), UTF_8) === want, s"$name R=$r part $i")
    }
    mapped.size
  }

  private val rnd = new Random(485)
  private val vocab = Seq("the", "The", "MAP", "reduce", "[shuffle]", "sort", "key", "value",
    "Spark", "md5", "a", "b", "c", "partition", "line", "word")
  // heavy duplicates; double spaces, tabs and brackets give empty keys
  private val wcFiles = Seq.fill(3)(Seq.fill(300) {
    Seq.fill(1 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size)))
      .mkString(if (rnd.nextInt(10) == 0) "  " else if (rnd.nextInt(10) == 0) "\t" else " ")
  })
  private val uniqueFiles = Seq.tabulate(3, 400)((f, i) => s"u$f-$i\tpayload ${rnd.nextLong()}")
  private val oddFiles = Seq.fill(2)(Seq.fill(200)(
    Seq("", "plain", "no tab here", "k\tv", "k\tv\tw", "\tleading", "k\t", "K\tv")(rnd.nextInt(8))))

  private val wcModel: Seq[String] => Seq[String] = s => Workloads.wcReduceSh(s.iterator).toSeq

  // two or three table entries (LineCounts.entryBytes): every map task
  // flushes its table many times
  private val smallBudget = 400L

  for (r <- Seq(1, 3)) {
    test(s"word count equals the model (R=$r)") {
      check("wc", wcFiles, Workloads.wcMapSh, FnSpec(Workloads.wcReduceSh),
        wcModel, r)
    }
    test(s"identity over all-unique lines equals the model (R=$r)") {
      check("unique", uniqueFiles, identity, FnSpec(identity), identity, r)
    }
    test(s"tabless and empty lines through an ExecSpec cat reducer equal the model (R=$r)") {
      check("odd", oddFiles, identity, ExecSpec(Seq("cat")), identity, r)
    }
    test(s"word-count map output re-expanded into an ExecSpec cat reducer (R=$r)") {
      check("wccat", wcFiles, Workloads.wcMapSh, ExecSpec(Seq("cat")), identity, r)
    }
    test(s"word count equals the model when every map task flushes often (R=$r)") {
      check("wcflush", wcFiles, Workloads.wcMapSh, FnSpec(Workloads.wcReduceSh),
        wcModel, r, smallBudget)
    }
    test(s"identity over all-unique lines equals the model when every map task flushes often (R=$r)") {
      check("uniqueflush", uniqueFiles, identity, FnSpec(identity), identity, r, smallBudget)
    }
    test(s"word-count map output into an ExecSpec cat reducer equals the model when every map task flushes often (R=$r)") {
      check("wccatflush", wcFiles, Workloads.wcMapSh, ExecSpec(Seq("cat")), identity, r,
        smallBudget)
    }
  }

  test("line counts sum to the input and no table grows past its budget") {
    val wcLines = Workloads.wcMapSh(wcFiles.flatten.iterator).toSeq
    val long = "x" * 1000 // a line larger than the budget is a table of its own
    for (lines <- Seq(wcLines, uniqueFiles.flatten, Seq("a", long, "a", long, "b", "a"))) {
      val counts = new LineCounts(lines.iterator, smallBudget)
      val emitted = counts.toVector
      assert(emitted.map(_._2).sum === lines.size)
      assert(emitted.groupMapReduce(_._1)(_._2)(_ + _) === lines.groupMapReduce(identity)(_ => 1L)(_ + _))
      assert(counts.budgetFlushes >= 2)
      val widest = lines.map(LineCounts.entryBytes).max
      assert(counts.peakBytes <= math.max(smallBudget, widest))
    }
    // at the default budget the same word-count lines fit one table
    val one = new LineCounts(wcLines.iterator, LineCounts.BudgetBytes)
    assert(one.toVector.size === wcLines.distinct.size)
    assert(one.budgetFlushes === 0)
  }

  test("the shuffle counts in the mapper: no map-side combine, a reduce-side sum, whole-line order") {
    val rdd = MapReduceRunner.shuffle(spark.sparkContext.parallelize(Seq("k\tv")), 3,
      LineCounts.BudgetBytes)
    val dep = rdd.dependencies.head.asInstanceOf[ShuffleDependency[String, Long, Long]]
    assert(!dep.mapSideCombine)
    assert(dep.partitioner === new Md5LinePartitioner(3))
    assert(dep.keyOrdering.contains(Ordering.String))
    val agg = dep.aggregator.getOrElse(fail("the reduce side must sum counts"))
    assert(agg.mergeValue(agg.createCombiner(2L), 3L) === 5L)
    assert(agg.mergeCombiners(4L, 6L) === 10L)
  }

  test("word count shuffles fewer records than its mapper emits") {
    val sc = spark.sparkContext
    val group = "mr-shuffle-spec-combine"
    val jobs = TrieMap.empty[Int, Unit]
    val stages = TrieMap.empty[Int, Unit]
    val written = new AtomicLong
    val done = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group) {
          jobs.put(e.jobId, ())
          e.stageIds.foreach(stages.put(_, ()))
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          written.addAndGet(e.taskMetrics.shuffleWriteMetrics.recordsWritten)
      // the bus is ordered: a job's task ends arrive before its end
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (jobs.contains(e.jobId)) done.countDown()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "word count shuffle records")
    val mappedLines =
      try {
        val n = check("wcrec", wcFiles, Workloads.wcMapSh, FnSpec(Workloads.wcReduceSh),
          wcModel, 2)
        assert(done.await(30, TimeUnit.SECONDS), "job end never reached the listener")
        n
      } finally {
        sc.clearJobGroup()
        sc.removeSparkListener(listener)
      }
    info(s"map output lines: $mappedLines, shuffle records written: ${written.get}")
    assert(written.get > 0)
    assert(written.get < mappedLines)
  }
}
