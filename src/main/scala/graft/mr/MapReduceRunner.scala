package graft.mr

import org.apache.hadoop.fs.Path
import org.apache.spark.Aggregator
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.SparkSession

/** Executes a [[MapReduceJob]] with the reference's exact dataflow
  * (SURVEY.md §3), Spark-first:
  *
  * {{{
  * text files --(textFile, minPartitions=M)--> lines          [F1/F2]
  *   --(pipe | flatMap)--> key TAB value lines                [F3]
  *   --(line, 1L) --(ShuffledRDD: Md5LinePartitioner, summing
  *      Aggregator with map-side combine, Ordering.String)
  *   --> (line, n) sorted by whole line within each partition [F4+F5+F6]
  *   --(expand: n copies of line)--> sorted lines
  *   --(pipe | mapPartitions)--> output lines                 [F7]
  *   --(saveAsTextFile)--> part-00000..part-{R-1}             [F8]
  * }}}
  *
  * Byte-identical map-output lines are combined into one counted
  * record on the map side (sorted there too, as the reference's F5
  * sorts each map task's partition files) and re-expanded to n
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
  * Scale: the shuffle is a single sort-based exchange keyed by whole
  * lines — Spark spills both the combine map and the sort, so
  * partitions never need to fit in memory (the reference's <1 MB
  * streaming constraint, test_worker_11.py:149, holds structurally).
  * M and R are degrees of parallelism only.
  */
object MapReduceRunner {

  def run(spark: SparkSession, job: MapReduceJob): Unit = {
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

    // F4+F5+F6: md5-mod partition by key prefix, byte-sort whole
    // lines within each partition, k-way merged by Spark's
    // sort-based shuffle. Identical lines travel as one (line, count)
    // record and are expanded back before the reducer (exact: see the
    // class doc).
    val shuffled: RDD[String] =
      new ShuffledRDD[String, Long, Long](mapped.map(line => (line, 1L)),
          new Md5LinePartitioner(job.numReducers))
        .setAggregator(new Aggregator[String, Long, Long](
          n => n, (acc, n) => acc + n, (a, b) => a + b))
        .setMapSideCombine(true)
        .setKeyOrdering(Ordering.String)
        .flatMap { case (line, n) => repeat(line, n) }

    // F7: streaming reduce over the sorted, key-adjacent stream.
    val reduced = applyStage(shuffled, job.reducer)

    // F8: one part-XXXXX file per reduce partition.
    reduced.saveAsTextFile(job.outputDirectory)
  }

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

  /** Serializable carrier for the session's Hadoop configuration —
    * tasks must open files with the SAME fs settings (credentials,
    * endpoints, custom schemes) the driver used for listing; a fresh
    * `new Configuration()` in the task would silently drop them. */
  private class SerializableHadoopConf(
      @transient var value: org.apache.hadoop.conf.Configuration) extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject()
      value.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      value = new org.apache.hadoop.conf.Configuration(false)
      value.readFields(in)
    }
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
