package graft.tools

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Memory-pressure stress run (r10 verdict item #5): the 100 TB story
  * leans on Tungsten spilling when executor memory is short, and
  * nothing in the suite had ever OBSERVED a spill — every spec runs in
  * a roomy heap. This main is launched by ScaleStressSpec in its own
  * small-heap JVM (one SparkContext per JVM, the [[graft.mr.ClusterParity]]
  * pattern) with `spark.memory.fraction` squeezed, runs the two
  * heaviest dedup pipelines over the ×8 salted corpus, and prints
  *
  *   SPILL_RESULT name=<q> rows=<n> sum=<order-independent xxhash64 sum>
  *   SPILL_METRICS mem=<bytes> disk=<bytes>
  *
  * The parent asserts (a) exit 0 — the pipelines complete under
  * pressure instead of OOMing, (b) nonzero spill bytes — the pressure
  * was real, and (c) the row checksums equal the roomy-session run —
  * spilling changed the execution, not the answers.
  */
object SpillStress {

  /** Order-independent content checksum: per-row xxhash64 over every
    * column (doubles hash bitwise; both runs compute bit-identical
    * values), summed EXACTLY as decimal(38,0) — a long sum overflows
    * under ANSI at ~1k rows of ±2⁶³ hashes. Partitioning-proof. */
  def checksum(df: DataFrame): (Long, String) = {
    val row = df.agg(
      count(lit(1)).as("n"),
      sum(xxhash64(df.columns.map(col): _*)
        .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("s")).head()
    (row.getLong(0), if (row.isNullAt(1)) "0" else row.getDecimal(1).toBigInteger.toString)
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val memSpilled = new AtomicLong(0)
    val diskSpilled = new AtomicLong(0)
    // [2, 3]: allow task retries — under a starved pool two tasks
    // can race for the same last pages, and local mode's default
    // maxFailures=1 turns that transient loss into a job abort.
    // TWO fat partitions, not 8 thin ones: pressure is per-task
    // (working set vs task memory), and a thin partition that fits
    // in the squeezed pool just streams through without ever going
    // external — observed: local[8]/partitions=8 completed the ×8
    // corpus with 0 bytes spilled
    val spark = graft.GraftSession.builder("local[2, 3]", 2)
      .appName("graft-spill-stress")
      // the squeeze: cap what the UnifiedMemoryManager THINKS the heap
      // is (spark.testing.memory feeds UnifiedMemoryManager.getMaxMemory
      // directly — Spark source; 480m is just over the enforced 1.5×
      // floor of the 300m reserve) and take a sliver: usable =
      // (480m − 300m) × 0.1 ≈ 18 MB across 2 fat tasks ≈ 9 MB each —
      // well under their working sets (the ×8 corpus explodes to tens
      // of MB of shingles per partition) so sorts/aggs/joins MUST go
      // external, yet comfortably above the page-granularity minimums
      // whose starvation aborted a 7 MB-pool variant of this run with
      // UNABLE_TO_ACQUIRE_MEMORY. The real heap (the parent launches
      // with -Xmx640m) keeps task bookkeeping itself from OOMing.
      .config("spark.testing.memory", (480L * 1024 * 1024).toString)
      .config("spark.memory.fraction", "0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          memSpilled.addAndGet(m.memoryBytesSpilled)
          diskSpilled.addAndGet(m.diskBytesSpilled)
        }
      }
    })
    try {
      Seq(
        "dedup_minhash" -> graft.ops.DedupOps.dedupMinhash _,
        "dedup_clusters" -> graft.ops.DedupOps.dedupClusters _
      ).foreach { case (name, fn) =>
        val (n, s) = checksum(fn(spark, dir))
        println(s"SPILL_RESULT name=$name rows=$n sum=$s")
      }
      // listener events post asynchronously and the bus's drain hook is
      // private[spark]: poll until the counters go quiet (bounded)
      var last = -1L
      var same = 0
      while (same < 3) {
        Thread.sleep(500)
        val now = memSpilled.get + diskSpilled.get
        if (now == last) same += 1 else { same = 0; last = now }
      }
      println(s"SPILL_METRICS mem=${memSpilled.get} disk=${diskSpilled.get}")
    } finally spark.stop()
  }
}
