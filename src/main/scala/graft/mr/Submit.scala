package graft.mr

/** CLI job submission — the `mapreduce-submit` analog (SURVEY.md §2.1
  * F16; reference /root/reference/mapreduce/submit.py:21-96).
  *
  * Usage:
  *   runMain graft.mr.Submit --input DIR --output DIR \
  *     --mapper "CMD..." --reducer "CMD..." \
  *     [--nmappers N] [--nreducers N]
  *
  * Mapper/reducer commands are whitespace-split and run unchanged via
  * RDD.pipe (Hadoop-Streaming contract) — the reference's own
  * executables work as-is. The manager/worker cluster of the
  * reference (`bin/mapreduce start`, F17) collapses to this local
  * SparkSession; on a real cluster the same jar submits through
  * spark-submit.
  */
object Submit {
  /** CLI args → job (separated from main so SubmitSpec can drive the
    * full parse+run path without owning the session lifecycle). */
  def buildJob(args: Array[String]): MapReduceJob = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def req(k: String): String =
      opts.getOrElse(k, sys.error(s"missing required --$k"))
    MapReduceJob(
      inputDirectory = req("input"),
      outputDirectory = req("output"),
      mapper = ExecSpec(req("mapper").split("\\s+").toSeq),
      reducer = ExecSpec(req("reducer").split("\\s+").toSeq),
      numMappers = opts.getOrElse("nmappers", "2").toInt,
      numReducers = opts.getOrElse("nreducers", "2").toInt)
  }

  def main(args: Array[String]): Unit = {
    val job = buildJob(args)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    graft.GraftSession.run(s"local[$cpus]", cpus.toInt) { spark =>
      spark.sparkContext.setLogLevel("WARN")
      MapReduceRunner.run(spark, job)
      println(s"job complete: ${job.outputDirectory}")
    }
  }
}
