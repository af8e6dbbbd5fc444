package graft.mr

import org.apache.hadoop.fs.Path
import org.apache.spark.Aggregator
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.SparkSession
import graft.sources.SerializableHadoopConf
import scala.jdk.CollectionConverters._

/** Executes a [[MapReduceJob]] with the reference's exact dataflow
  * (SURVEY.md §3), Spark-first:
  *
  * {{{
  * text files --(textFile, minPartitions=M)--> lines          [F1/F2]
  *   --(pipe | flatMap)--> key TAB value lines                [F3]
  *   --(in-mapper line count, bounded table)--> (line, n)
  *   --(ShuffledRDD: Md5LinePartitioner, summing Aggregator
  *      on the reduce side only, Ordering.String)
  *   --> (line, n) sorted by whole line within each partition [F4+F5+F6]
  *   --(expand: n copies of line)--> sorted lines
  *   --(pipe | mapPartitions)--> output lines                 [F7]
  *   --(saveAsTextFile)--> part-00000..part-{R-1}             [F8]
  * }}}
  *
  * Each map task counts its byte-identical output lines in a hash
  * table (in-mapper combining) and emits one `(line, n)` record per
  * distinct line, so the md5 partitioner and the shuffle writer run
  * once per distinct line, not once per line. The map side neither
  * combines again nor sorts (R ≤ 200 takes Spark's bypass-merge
  * writer); the reduce side sums a line's counts across flushes and
  * map tasks, sorts the distinct lines and re-expands each to n
  * copies before the reducer. This is exact for any reducer,
  * executables included: the reducer reads a whole-line sort, in
  * which identical lines are adjacent and indistinguishable, so each
  * partition's reducer input is byte-for-byte what a one-record-per-
  * line shuffle would give. It cuts shuffle volume by the duplicate
  * factor (word count's `word TAB 1` lines), and `(String, Long)`
  * records let Spark pick Kryo for the shuffle.
  *
  * The reference's manager/worker scheduling, heartbeats, barriers and
  * task reassignment (F10-F15) are Spark's DAGScheduler + executor
  * heartbeats + task retry — deliberately not reimplemented
  * (SURVEY.md §4: "the entire lifecycle collapses").
  *
  * Scale: the in-mapper table is bounded by a fixed byte budget
  * ([[LineCounts]], 8 MiB); a full table is emitted and cleared, so a
  * map task's memory never depends on its input size. The shuffle is
  * a single sort-based exchange keyed by whole lines, and Spark spills
  * the reduce-side combine and sort, so partitions never need to fit
  * in memory. M and R are degrees of parallelism only.
  *
  * Deviation: the reference asserts a map-step heap under 1 MB over
  * 3.7 MB of input (test_worker_11.py:149, SURVEY.md §1.3). Here a map
  * task may hold up to 8 MiB of line counts, so that bound does not
  * hold; only the input-independence of the bound does. The budget
  * buys shuffle volume: counting identical lines inside the map task
  * cut mr_corpus's shuffle from 1.86M records to 230k. The pipe
  * stages and the reducer still stream line at a time.
  */
object MapReduceRunner {

  def run(spark: SparkSession, job: MapReduceJob): Unit =
    run(spark, job, LineCounts.BudgetBytes)

  private[mr] def run(spark: SparkSession, job: MapReduceJob, budgetBytes: Long): Unit = {
    val sc = spark.sparkContext

    // F9: reset output directory (manager/__main__.py:87-90).
    val outPath = new Path(job.outputDirectory)
    val fs = outPath.getFileSystem(sc.hadoopConfiguration)
    if (fs.exists(outPath)) fs.delete(outPath, true)

    // F1/F2: directory scan. Default: minPartitions approximates
    // num_mappers (size-balanced splits — the right plan at scale).
    // exactFileRouting: the reference's sorted-filename round-robin,
    // for per-task golden parity.
    val input =
      if (job.exactFileRouting) roundRobinInput(sc, job.inputDirectory, job.numMappers)
      else sc.textFile(job.inputDirectory, math.max(job.numMappers, 1))

    // F3: streaming map.
    val mapped = applyStage(input, job.mapper)

    // F4+F5+F6, then the expansion back to one line per copy.
    val shuffled: RDD[String] =
      shuffle(mapped, job.numReducers, budgetBytes).flatMap { case (line, n) => repeat(line, n) }

    // F7: streaming reduce over the sorted, key-adjacent stream.
    val reduced = applyStage(shuffled, job.reducer)

    // F8: one part-XXXXX file per reduce partition.
    reduced.saveAsTextFile(job.outputDirectory)
  }

  /** F4+F5+F6: md5-mod partition by key prefix; the reduce side
    * merges the map tasks' runs and byte-sorts whole lines within each
    * partition. Identical lines travel as `(line, n)` records, counted
    * in the map task and summed on the reduce side (exact: see the
    * class doc). */
  private[mr] def shuffle(mapped: RDD[String], numReducers: Int,
                          budgetBytes: Long): ShuffledRDD[String, Long, Long] =
    new ShuffledRDD[String, Long, Long](
        mapped.mapPartitions(lines => new LineCounts(lines, budgetBytes)),
        new Md5LinePartitioner(numReducers))
      .setAggregator(new Aggregator[String, Long, Long](
        n => n, (acc, n) => acc + n, (a, b) => a + b))
      .setMapSideCombine(false)
      .setKeyOrdering(Ordering.String)

  /** `n` copies of `line`, counted in a Long (a combined count is not
    * bounded by Int). */
  private def repeat(line: String, n: Long): Iterator[String] =
    new Iterator[String] {
      private var left = n
      def hasNext: Boolean = left > 0
      def next(): String = {
        if (left <= 0) throw new NoSuchElementException("next on empty iterator")
        left -= 1
        line
      }
    }

  /** F3/F7. Executables exchange UTF-8 lines, as textFile reads and
    * saveAsTextFile writes them; pipe's default, the JVM's platform
    * charset, may be ASCII and would turn non-ASCII bytes into '?'. */
  private[mr] def applyStage(rdd: RDD[String], spec: StageSpec): RDD[String] =
    spec match {
      case ExecSpec(cmd) => rdd.pipe(cmd, encoding = "UTF-8")
      case FnSpec(f)     => rdd.mapPartitions(f)
    }

  /** F2 exact mode: sorted filenames, file i → map task i % M
    * (manager/__main__.py:101-107). Partition m of the returned RDD
    * streams exactly map task m's files, in assignment order. Files
    * are read through Hadoop FS inside the task (never collected to
    * the driver), one buffered line stream at a time — a file larger
    * than memory still streams. */
  private[mr] def roundRobinInput(sc: org.apache.spark.SparkContext,
                                  dir: String, numMappers: Int): RDD[String] = {
    val m = math.max(numMappers, 1)
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(sc.hadoopConfiguration)
    val files = fs.listStatus(dirPath).filter(_.isFile)
      .map(_.getPath.toString).sorted.toSeq
    val assignment: Seq[Seq[String]] =
      (0 until m).map(t => files.zipWithIndex.collect {
        case (f, i) if i % m == t => f
      })
    // tasks must open files with the SAME fs settings (credentials,
    // endpoints, custom schemes) the driver used for listing; a fresh
    // `new Configuration()` in the task would silently drop them
    val serConf = new SerializableHadoopConf(sc.hadoopConfiguration)
    // parallelize is positional: element m lands in partition m, so
    // TaskContext.partitionId IS the reference task_id.
    sc.parallelize(assignment, m).flatMap { taskFiles =>
      taskFiles.iterator.flatMap { f =>
        val p = new Path(f)
        val in = p.getFileSystem(serConf.value).open(p)
        val reader = new java.io.BufferedReader(
          new java.io.InputStreamReader(in, java.nio.charset.StandardCharsets.UTF_8))
        // close on exhaustion (releases the fd early) AND on task
        // completion (the safety net when a pipe/take/retry abandons
        // the iterator mid-file; close() is idempotent)
        val tc = org.apache.spark.TaskContext.get()
        if (tc != null) tc.addTaskCompletionListener[Unit](_ => reader.close())
        new Iterator[String] {
          private var line = reader.readLine()
          if (line == null) reader.close()
          def hasNext: Boolean = line != null
          def next(): String = {
            val l = line
            line = reader.readLine()
            if (line == null) reader.close()
            l
          }
        }
      }
    }
  }

  /** Materializes the reference worker's per-map-task intermediate
    * files — `maptask{m:05d}-part{r:05d}`, md5-mod partitioned by key
    * and sorted within each file (worker/__main__.py:142-155) — for
    * map task m under exact F2 routing. Each map task writes its own
    * R files from within its task (the reference's worker does
    * exactly this); nothing passes through the driver. Covers the
    * test_worker_08 golden family (tests/test_worker_08.py:222-243). */
  def writeMapIntermediate(spark: SparkSession, job: MapReduceJob, dir: String): Seq[String] = {
    val sc = spark.sparkContext
    val input = roundRobinInput(sc, job.inputDirectory, job.numMappers)
    val mapped = applyStage(input, job.mapper)
    val r = job.numReducers
    // the session conf, as in roundRobinInput
    val serConf = new SerializableHadoopConf(sc.hadoopConfiguration)
    mapped.mapPartitionsWithIndex { (m, lines) =>
      val buckets = Array.fill(r)(scala.collection.mutable.ArrayBuffer.empty[String])
      lines.foreach { l =>
        buckets(Md5LinePartitioner.partitionOf(MapReduceJob.keyOf(l), r)) += l
      }
      (0 until r).iterator.map { ri =>
        val p = new Path(dir, f"maptask$m%05d-part$ri%05d")
        val out = new java.io.PrintWriter(new java.io.OutputStreamWriter(
          p.getFileSystem(serConf.value).create(p, true), java.nio.charset.StandardCharsets.UTF_8))
        try buckets(ri).sorted.foreach(out.println) // sort(1) byte order == String order on ASCII (SURVEY.md §2.4.4)
        finally out.close()
        p.toString
      }
    }.collect().toSeq.sorted
  }
}

/** In-mapper combining (F3 → F4): counts a map task's byte-identical
  * output lines in a hash table and emits one `(line, n)` record per
  * distinct line. The table is bounded by `budgetBytes` of estimated
  * heap: when a new line would push it past the budget, the table is
  * emitted and a fresh one started. A line can then come out as
  * several records, which the shuffle's reduce-side sum merges back.
  * A single line larger than the budget is a table of its own. */
private[mr] final class LineCounts(lines: Iterator[String], budgetBytes: Long)
    extends Iterator[(String, Long)] {
  import LineCounts.{Count, entryBytes}
  private var table = new java.util.HashMap[String, Count]
  private var tableBytes = 0L
  private var out: Iterator[(String, Long)] = Iterator.empty
  /** Tables emitted because the budget was reached (the last table,
    * emitted at the end of the input, is not counted). */
  private[mr] var budgetFlushes = 0
  /** The largest estimated size any table reached. */
  private[mr] var peakBytes = 0L

  def hasNext: Boolean = out.hasNext || { fill(); out.hasNext }

  def next(): (String, Long) =
    if (hasNext) out.next() else throw new NoSuchElementException("next on empty iterator")

  /** Counts lines until the input ends or the table is full, then
    * hands the table to `out`. */
  private def fill(): Unit = {
    var full = false
    while (!full && lines.hasNext) {
      val line = lines.next()
      val c = table.get(line)
      if (c != null) c.n += 1
      else {
        val cost = entryBytes(line)
        if (tableBytes + cost > budgetBytes && !table.isEmpty) {
          emit()
          budgetFlushes += 1
          full = true
        }
        table.put(line, new Count)
        tableBytes += cost
      }
    }
    if (!full && !table.isEmpty) emit()
  }

  private def emit(): Unit = {
    out = table.entrySet.iterator.asScala.map(e => (e.getKey, e.getValue.n))
    peakBytes = math.max(peakBytes, tableBytes)
    table = new java.util.HashMap[String, Count]
    tableBytes = 0
  }
}

private[mr] object LineCounts {
  /** The in-mapper table's budget: a fixed bound on a map task's
    * memory, not a tuning knob. */
  val BudgetBytes: Long = 8L << 20

  private final class Count { var n = 1L }

  /** Estimated heap of one table entry: the String and its array
    * (about 40 bytes plus up to 2 per char), the HashMap node and its
    * bucket slot (about 40), and the Count (16). */
  private[mr] def entryBytes(line: String): Long = 96L + 2L * line.length
}
