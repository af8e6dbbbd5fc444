package graft.mr

/** Cross-JVM MR parity run (r4 verdict item #5): executes word_count
  * on `local-cluster[2,2,1024]` — a real standalone master + 2 workers
  * whose EXECUTORS are separate OS processes, the reference's
  * 1-manager + 2-worker shape (/root/reference/bin/mapreduce:34-42).
  * Everything the single-JVM `local[N]` suites can fake is real here:
  * StageSpec closures and SerializableHadoopConf cross a JVM boundary,
  * and the `RDD.pipe` path forks the reference's own executables
  * inside executor processes.
  *
  * Runs both the native (FnSpec) and pipe (ExecSpec) word_count,
  * compares each to the reference golden, prints `PARITY_OK` and
  * exits 0 only on an exact match. Launched as a subprocess by
  * MrClusterSpec (one SparkContext per JVM — the suite session owns
  * this one's).
  */
object ClusterParity {
  def main(args: Array[String]): Unit = {
    val out = args(0)
    val refData = "/root/reference/tests/testdata"
    // 4 partitions: the cluster's 2 workers × 2 cores
    val spark = graft.GraftSession.builder("local-cluster[2,2,1024]", 4)
      .appName("graft-cluster-parity")
      // executor JVMs need the app classes (local-cluster ships only
      // the Spark distribution's jars) and the JDK17 module opens
      .config("spark.executor.extraClassPath", sys.props("java.class.path"))
      .config("spark.executor.extraJavaOptions",
        org.apache.spark.launcher.JavaModuleOptions.defaultModuleOptions())
      .config("spark.task.maxFailures", "2")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val jobs = Seq(
        "native" -> MapReduceJob(
          inputDirectory = s"$refData/input",
          outputDirectory = s"$out/native",
          mapper = FnSpec(Workloads.wcMapSh),
          reducer = FnSpec(Workloads.wcReduceSh)),
        "pipe" -> MapReduceJob(
          inputDirectory = s"$refData/input",
          outputDirectory = s"$out/pipe",
          mapper = ExecSpec(Seq(s"$refData/exec/wc_map.sh")),
          reducer = ExecSpec(Seq(s"$refData/exec/wc_reduce.sh"))))
      val want = scala.io.Source.fromFile(
        s"$refData/correct/word_count_correct.txt").getLines().toSeq.sorted
      for ((name, job) <- jobs) {
        MapReduceRunner.run(spark, job)
        val got = spark.sparkContext.textFile(job.outputDirectory)
          .collect().toSeq.sorted
        require(got == want,
          s"$name mismatch: ${got.size} lines vs golden ${want.size}")
        println(s"PARITY_OK $name lines=${got.size}")
      }
    } finally spark.stop()
  }
}
