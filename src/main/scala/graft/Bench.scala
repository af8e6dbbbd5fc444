package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-round benchmark main (driver contract): times every declared
  * query at SPARK_GRAFT_SF_DIR and prints one JSON line.
  *
  * Queries are timed in sorted-name order after an UNTIMED warmup
  * pass at sf0.001 — the warmup absorbs JVM class loading, janino
  * codegen, and parquet-footer caching, which otherwise land entirely
  * on whichever query happens to run first (observed as a spurious
  * 60-110 s "slowest query" that vanished on the second run).
  *
  * Failure honesty (r3 verdict item 2): a query that throws is
  * recorded as an ERROR entry, never as a bogus timing, and the
  * process exits nonzero so a crashing query can't hide inside a
  * green-looking bench line. The line also carries a contention
  * indicator (`cpu_wall_ratio`: process-CPU seconds / wall seconds
  * over the timed section) — on a quiet box with 32 threads this sits
  * well above 1; a round where it collapses while timings inflate
  * means the box was contended (the r2 incident: 86 s recorded for a
  * 39.5 s workload) and the numbers should be re-taken.
  */
object Bench {

  /** One query's measurement: wall seconds, error (if it threw),
    * EXTERNAL cpu cores consumed by other processes during its window
    * (per-query /proc/stat bracket — r14 verdict item 1: the
    * run-average signal was blind to bursts), whole-box IOWAIT cores
    * during the window (r15 verdict item 1: a co-tenant thrashing the
    * disk is invisible to the CPU signals — cores sitting in iowait
    * are the direct trace of disk pressure), and for `stream_*`
    * queries the summed trigger-execution seconds (so trigger-wait /
    * staging / read-back can be split from compute — item 7). */
  final case class Timing(sec: Double, err: Option[String],
      extCores: Option[Double] = None, streamExecSec: Option[Double] = None,
      iowaitCores: Option[Double] = None) {
    /** The seconds the headline reports: for stream queries the
      * trigger-EXECUTION time (wall additionally carries clock-trigger
      * waits and drop staging — r15 verdict item 5: regressions in the
      * pipeline itself must be attributable at a glance; the wall
      * stays in BENCH_DETAIL's stream_split/p1/p2). Guarded by > 0 so
      * a meter that measured nothing can never report a free query. */
    def headlineSec: Double = streamExecSec.filter(_ > 0).getOrElse(sec)
  }

  /** Pass-2 re-measure cutoff: queries at or above this pass-1 cost
    * (and any that errored) get a second timing and report the min;
    * the sub-threshold tail keeps its pass-1 (post-warmup, i.e.
    * already steady-state) time. See the pass-2 comment in main. */
  val Pass2ThresholdSec = 1.0

  /** FALLBACK contention threshold for the contract line's
    * `contended` flag, used only when /proc/stat is unreadable.
    * Calibrated for local[32]: the 182-query r12 mix ran quiet at
    * cpu/wall ≈ 2.8 and contended at 2.38, but the ratio tracks the
    * QUERY MIX as much as the box — at 250 queries (more streaming /
    * staging / footer coordination per compute second) a verified-idle
    * box measures ≈ 2.5, overlapping the old contended band. The
    * primary signal is therefore [[procStatBusySec]]-based external
    * CPU (mix-independent: cores consumed by OTHER processes during
    * the timed section), with this ratio floor as the portable
    * fallback. */
  val ContendedRatioFloor = 2.3

  /** Primary contention threshold: external (non-this-JVM) CPU
    * consumption during the timed section, in cores. "External"
    * includes the sbt PARENT JVM (runMain forks the bench, so the
    * launcher's log pumping and GC land outside this process's CPU
    * counter) — measured ambient on an otherwise-idle box is
    * 0.4–1.1 cores across runs. The r11-style incident — another
    * tenant stealing cores — shows up as MULTIPLE full cores, so the
    * floor sits above the sbt-parent band with margin below a real
    * tenant. */
  val ExtCpuCoresFloor = 1.5

  /** Burst-window contention threshold (r14 verdict item 1): the r14
    * artifact recorded run-average 0.58 external cores — under the
    * 1.5 floor — while 20 queries flipped >4× between passes, i.e.
    * the external load came in BURSTS a run average cannot see. Each
    * query's own wall is the window: a query that ran alongside ≥ 4
    * external cores was materially contended (ambient sbt-parent load
    * is 0.4–1.1 average with sub-second spikes; amortized over a ≥
    * [[ExtWindowMinSec]] window it stays well under 2). */
  val ExtCpuWindowFloor = 4.0

  /** Per-query windows shorter than this are ignored by the
    * max-window signal: /proc/stat ticks at USER_HZ=100 across 32
    * cores, so sub-second windows carry ±0.3-core jiffy noise and a
    * brief parent-JVM GC can look like cores. The r14 incident
    * queries inflated to multi-second walls — exactly the windows
    * this floor keeps. */
  val ExtWindowMinSec = 2.0

  /** Pass-ratio contention guard (r14 verdict item 1): pass 2 re-runs
    * a SUBSET of pass 1 (the ≥ [[Pass2ThresholdSec]] tail), so on a
    * quiet box its wall is a fraction of pass 1's (r13 close: 263.6 →
    * 147.3 s, ratio 0.56). The same-or-smaller workload taking 1.5×
    * LONGER (r14 official: 387.5 → 706.5 s, ratio 1.82) means the box
    * changed under the run, whatever the averages say. */
  val PassRatioFloor = 1.5

  /** IOWAIT contention threshold (r15 verdict item 1, the detector's
    * last blind spot): max per-query-window iowait cores over ≥
    * [[ExtWindowMinSec]] CHOSEN windows. iowait is whole-box (it
    * cannot be attributed to a process the way CPU can), so the floor
    * must clear this workload's OWN disk use — shuffle spill, archive
    * staging, stream checkpoints — which measures ≤ ~1 core on a
    * quiet box (parquet inputs are page-cached after the warmup
    * pass). A co-tenant thrashing the disk parks MANY cores in iowait
    * (the r15 incident: rec_item_cosine 13.46 s vs 4.72 s clean with
    * ≈0 external CPU — only disk pressure explains it). */
  val IowaitWindowFloor = 6.0

  /** Clean-gate cross-check (r15 verdict item 1, second prong): a ≥
    * [[ExtWindowMinSec]] query whose chosen timing sits above this
    * multiple of its last CLEAN-GATE record (BENCH_CLEAN.json, written
    * by tools/ci.sh from a non-contended full run) is re-measured once
    * more — quiet-looking windows notwithstanding, since iowait bursts
    * between the two samples and sub-signal co-tenancy both evade the
    * per-window brackets. The retake either clears the suspect (min
    * wins) or confirms the slowdown attributably in the artifact. */
  val CleanGateRatio = 2.0

  /** Per-query headline seconds from the last clean `tools/ci.sh`
    * bench (committed as BENCH_CLEAN.json) — empty when absent, so
    * the cross-check degrades to a no-op on a fresh checkout. */
  def loadCleanBaseline(): Map[String, Double] =
    try {
      val path = sys.env.getOrElse("SPARK_GRAFT_CLEAN_BASELINE",
        sys.props.getOrElse("user.dir", ".") + "/BENCH_CLEAN.json")
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(bytes)
      val qs = node.get("queries")
      if (qs == null) Map.empty
      else {
        import scala.jdk.CollectionConverters._
        qs.properties.asScala.iterator
          .map(e => e.getKey -> e.getValue.asDouble).toMap
      }
    } catch { case _: Throwable => Map.empty }

  /** Total busy CPU seconds across all cores since boot (user+nice+
    * system+irq+softirq+steal, i.e. everything but idle+iowait), from
    * /proc/stat; None off-Linux. Two samples bracketing the timed
    * section give whole-box CPU, and subtracting this process's own
    * CPU isolates EXTERNAL load — the direct, query-mix-independent
    * contention signal. */
  def procStatBusySec(): Option[Double] = procStatField8.map { f =>
    (f.sum - f(3) - f(4)) / 100.0 // USER_HZ=100 on every mainstream linux
  }

  /** Whole-box IOWAIT seconds since boot (field 5 of the aggregate cpu
    * line) — cores idle ONLY because a disk read/write is outstanding.
    * The busy signal above deliberately excludes it (an iowaiting core
    * is not computing), which is exactly why disk-pressure co-tenancy
    * was invisible until r16: these two samples per query window make
    * it a fourth, ORed signal. */
  def procStatIowaitSec(): Option[Double] = procStatField8.map(_(4) / 100.0)

  private def procStatField8: Option[Array[Double]] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toDouble)
        // first 8 fields only (user nice system idle iowait irq softirq
        // steal): guest/guest_nice (fields 9-10) are ALREADY counted
        // inside user/nice by the kernel — summing them double-counts
        // VM guest time and can flip the contention flag spuriously
        if (f.length >= 8) Some(f.take(8)) else None
      } finally src.close()
    } catch { case _: Throwable => None }

  private lazy val osBean =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** One timed pass in sorted-name order. A throwing query records
    * its error instead of a timing (timing-to-exception is
    * meaningless). Each query is bracketed by /proc/stat + own-CPU
    * samples (two one-line file reads — noise-level next to any
    * query), so the per-query EXTERNAL load is in the artifact and
    * the burst-window contention flag has its windows. `stream_*`
    * queries additionally bracket [[graft.streaming.StreamMeter]] to
    * record trigger-execution vs wall. */
  def timedPass(spark: SparkSession,
                queries: Seq[(String, (SparkSession, String) => DataFrame)],
                sfDir: String): Map[String, Timing] =
    queries.map { case (name, fn) =>
      val isStream = name.startsWith("stream_")
      if (isStream) graft.streaming.StreamMeter.reset()
      val busy0 = procStatBusySec()
      val iow0 = procStatIowaitSec()
      val own0 = osBean.getProcessCpuTime
      val t0 = System.nanoTime()
      val err =
        try { fn(spark, sfDir).count(); None }
        catch { case e: Throwable =>
          Some(s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}")
        }
      val wall = (System.nanoTime() - t0) / 1e9
      val ownSec = (osBean.getProcessCpuTime - own0) / 1e9
      val ext = for (b0 <- busy0; b1 <- procStatBusySec())
        yield math.max(0.0, b1 - b0 - ownSec) / math.max(wall, 1e-9)
      val iow = for (i0 <- iow0; i1 <- procStatIowaitSec())
        yield math.max(0.0, i1 - i0) / math.max(wall, 1e-9)
      val streamExec =
        if (isStream) Some(graft.streaming.StreamMeter.execMs / 1000.0) else None
      name -> Timing(wall, err, ext, streamExec, iow)
    }.toMap

  /** Drop EVERYTHING the block manager holds: the shared builds,
    * every cached Dataset, and every lingering persisted RDD —
    * including the localCheckpoint RDDs that every build-once operator
    * (dedup, IVF, graph, MR read-back) creates per invocation. Those
    * are normally reclaimed by the ContextCleaner as their DataFrames
    * are GC'd, but 95 queries × multiple passes in one 8 GiB JVM
    * out-run the cleaner: by the r8 warm probe the accumulated blocks
    * had pushed the "warm" pair cache out of storage memory and the
    * probe silently recomputed the full minhash build (24.99 s
    * recorded for a probe whose honest warm cost is ~2.6 s). Blocking
    * unpersist, so no removal I/O leaks into the next timed section. */
  def freeBlocks(spark: SparkSession): Unit = {
    graft.ops.SharedBuild.releaseBlocks()
    try spark.sharedState.cacheManager.clearCache() catch { case _: Throwable => () }
    spark.sparkContext.getPersistentRDDs.values.foreach { r =>
      try r.unpersist(true) catch { case _: Throwable => () }
    }
  }

  def jsonEscape(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** Locale-independent 2-decimal format with trailing zeros trimmed
    * ("0.39", "1.2", "12"): per-query precision beyond 10 ms is noise
    * on a shared box, and every byte counts against the tail budget
    * (see compactLine). */
  def fmt2(d: Double): String = {
    val s = String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))
    if (!s.contains('.')) s
    else s.reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse
  }

  /** The driver records only the LAST ~2000 characters of stdout and
    * parses the contract JSON ({"metric":...}) out of that window —
    * observed: rounds 2-4 (50 queries, line ~1.5 KB) parsed; rounds
    * 5-9 (62-97 queries, line >2 KB) recorded parsed:null. So the
    * contract line must stay comfortably inside the window after sbt's
    * trailing "[success] ..." footer. This builds a line hard-capped
    * at `budget` chars: the per-query map lists queries in descending
    * cost until the cap, and the remainder is aggregated into
    * `other_sec` (with n_queries/n_shown declaring the truncation).
    * `value` is always the FULL total. The complete per-query map
    * lives in the detail line (printed first) and BENCH_DETAIL.json.
    */
  def compactLine(results: Seq[(String, Double)], failedCount: Int,
                  wallSec: Double, ratio: Double, sfDir: String,
                  budget: Int = 1500,
                  extCpuCores: Option[Double] = None,
                  contention: Contention = Contention(None, None, None)): String = {
    val total = results.map(_._2).sum
    val desc = results.sortBy { case (n, s) => (-s, n) }
    val prefix =
      s"""{"metric":"total","value":${fmt2(total)},"unit":"sec","queries":{"""
    val contended = contention.flag(extCpuCores, ratio)
    def suffix(shown: Int, otherSec: Double): String =
      s"""},"other_sec":${fmt2(otherSec)},"n_queries":${results.size},""" +
        s""""n_shown":$shown,"failed":$failedCount,"wall_sec":${fmt2(wallSec)},""" +
        s""""cpu_wall_ratio":${fmt2(ratio)},""" +
        extCpuCores.map(e => s""""ext_cpu_cores":${fmt2(e)},""").getOrElse("") +
        contention.extMaxWin.map(e => s""""ext_max_win":${fmt2(e)},""").getOrElse("") +
        contention.iowMaxWin.map(e => s""""iow_max_win":${fmt2(e)},""").getOrElse("") +
        contention.passRatio.map(r => s""""pass_ratio":${fmt2(r)},""").getOrElse("") +
        s""""contended":$contended,""" +
        s""""sf":"${jsonEscape(sfDir)}"}"""
    // suffix length varies by a few chars with shown/otherSec; size
    // against the pessimistic all-shown suffix for the first fit.
    // STOP at the first entry that doesn't fit (never skip-and-
    // continue): the shown set is then a true most-expensive-first
    // prefix, so "n_shown of n_queries" reads as "the top K".
    val maxSuffix = suffix(desc.size, total).length
    var used = prefix.length + maxSuffix
    val shown = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    var full = false
    desc.foreach { case (n, s) =>
      if (!full) {
        val entry = "\"" + jsonEscape(n) + "\":" + fmt2(s)
        val cost = entry.length + (if (shown.nonEmpty) 1 else 0)
        if (used + cost <= budget) { shown += ((n, s)); used += cost }
        else full = true
      }
    }
    def assemble(entries: Seq[(String, Double)]): String = {
      val shownSet = entries.map(_._1).toSet
      val otherSec = results.collect { case (n, s) if !shownSet(n) => s }.sum
      prefix + entries.map { case (n, s) => "\"" + jsonEscape(n) + "\":" + fmt2(s) }
        .mkString(",") + suffix(entries.size, otherSec)
    }
    // the pessimistic sizing is not quite a proof: trailing-zero
    // trimming can render other_sec LONGER than total (1000 → "1000"
    // vs 999.99 → "999.99"), so re-check the assembled line and drop
    // trailing (cheapest-shown) entries until it truly fits — the cap
    // is the driver's parse window, not a soft target
    var line = assemble(shown.toSeq)
    while (line.length > budget && shown.nonEmpty) {
      shown.remove(shown.size - 1)
      line = assemble(shown.toSeq)
    }
    line
  }

  /** The four contention signals, each None when unmeasurable —
    * [[flag]] ORs whichever are present (any one tripping means the
    * recorded numbers can't be trusted), falling back to the cpu/wall
    * heuristic only when /proc/stat was unreadable:
    *  - `runAvgExt`: whole-run external cores (the pre-r15 signal —
    *    still the right detector for sustained co-tenancy);
    *  - `extMaxWin`: max per-query-window external cores over the
    *    CHOSEN (headline) timings ≥ [[ExtWindowMinSec]] — the burst
    *    detector the r14 artifact lacked. Chosen-only is deliberate:
    *    min-of-2 exists to absorb one-pass bursts, and it works — the
    *    first r15 gate run saw a pass-2 burst inflate ten stream
    *    queries 3-5× at 3-4.6 external cores while every one of their
    *    headlines came from its quiet pass-1 window (chosen ext
    *    ≤ 0.78). A burst in a discarded measurement is min-of-2 doing
    *    its job, not a contaminated record; a loud window behind a
    *    RECORDED number is. Both passes' windows stay in
    *    BENCH_DETAIL (`ext1`/`ext2`) for the audit;
    *  - `iowMaxWin`: max per-query-window IOWAIT cores over the same
    *    chosen windows (r15 verdict item 1) — the disk-pressure signal
    *    the CPU pair is structurally blind to, since an iowaiting core
    *    is counted busy by neither;
    *  - `passRatio`: pass-2 / pass-1 wall — the workload's own
    *    before/after comparison, immune to sampling blind spots. */
  final case class Contention(runAvgExt: Option[Double],
      extMaxWin: Option[Double], passRatio: Option[Double],
      iowMaxWin: Option[Double] = None) {
    def flag(extCpuCores: Option[Double], cpuWallRatio: Double): Boolean = {
      val signals = Seq(
        extCpuCores.orElse(runAvgExt).map(_ > ExtCpuCoresFloor),
        extMaxWin.map(_ > ExtCpuWindowFloor),
        iowMaxWin.map(_ > IowaitWindowFloor),
        passRatio.map(_ > PassRatioFloor)).flatten
      if (signals.nonEmpty) signals.contains(true)
      else cpuWallRatio < ContendedRatioFloor
    }
  }

  /** Max external-cores over the per-query windows long enough to
    * trust (≥ [[ExtWindowMinSec]]), across any number of passes. */
  def extMaxWindow(passes: Seq[Map[String, Timing]]): Option[Double] =
    maxWindow(passes, _.extCores)

  /** Max iowait-cores over the same trustworthy windows. */
  def iowMaxWindow(passes: Seq[Map[String, Timing]]): Option[Double] =
    maxWindow(passes, _.iowaitCores)

  private def maxWindow(passes: Seq[Map[String, Timing]],
      sel: Timing => Option[Double]): Option[Double] = {
    val windows = passes.flatMap(_.values)
      .filter(t => t.err.isEmpty && t.sec >= ExtWindowMinSec)
      .flatMap(sel)
    if (windows.isEmpty) None else Some(windows.max)
  }

  /** The one measurement per query the headline reports (the
    * mergePasses rule, exposed so contention can be judged against
    * the windows that actually back the record): a clean pass-2
    * redeems a pass-1 error; a pass-2 error is the freshest run and
    * stays authoritative; otherwise the faster pass wins. */
  def chosenTimings(ordered: Seq[String], p1: Map[String, Timing],
                    p2: Map[String, Timing]): Seq[(String, Timing)] =
    ordered.map { name =>
      name -> (p2.get(name) match {
        case Some(t2) if p1(name).err.isDefined => t2 // redeemed (or still failing)
        case Some(t2) if t2.err.isDefined => t2       // freshest-run error is fatal
        // min over the HEADLINE metric (wall; trigger-exec for
        // stream_*), so the chosen pass is the one whose number the
        // record actually reports
        case Some(t2) => if (t2.headlineSec < p1(name).headlineSec) t2 else p1(name)
        case None => p1(name)
      })
    }

  /** Merge the two timed passes into (headline timings, errors).
    *
    * A clean pass-2 run REDEEMS a transient pass-1 error (that rerun
    * is why errored queries are in the rerun set at all) and reports
    * its one clean measurement — timing-to-exception is meaningless,
    * so never min(garbage, clean). A pass-2 error stays fatal
    * whatever pass 1 did: a query that errors on its freshest run is
    * broken or flaky and must fail the bench. */
  def mergePasses(ordered: Seq[String], p1: Map[String, Timing],
                  p2: Map[String, Timing])
      : (Seq[(String, Double)], Seq[(String, String)]) =
    collectRecord(chosenTimings(ordered, p1, p2))

  /** The one (results, errors) projection of a chosen-timings list —
    * shared by [[mergePasses]] and the three-pass path in main, so the
    * spec-pinned rules and the shipped record can't drift. */
  def collectRecord(chosen: Seq[(String, Timing)])
      : (Seq[(String, Double)], Seq[(String, String)]) = {
    val errors = chosen.collect { case (n, t) if t.err.isDefined => n -> t.err.get }
    val results = chosen.collect { case (n, t) if t.err.isEmpty => n -> t.headlineSec }
    (results, errors)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val failed = GraftSession.run(s"local[$cpus]", cpus.toInt) { spark =>
      spark.sparkContext.setLogLevel("ERROR")
      benchAll(spark, sfDir)
    }
    // a crashing query must fail the bench loudly, not vanish into a
    // plausible-looking total
    if (failed) sys.exit(1)
  }

  /** Warmup, the timed passes, the records; true when a query failed.
    * The session's staged layouts are released by [[GraftSession.run]]
    * only after this returns: a layout is a table property, so
    * releasing it between passes ([[freeBlocks]]) would bill a full
    * re-stage to join_bucketed's pass-2 time. */
  private def benchAll(spark: SparkSession, sfDir: String): Boolean = {
    // SPARK_GRAFT_ONLY narrows the run for isolation runs
    val ordered = GraftSession.selectedQueries().toSeq.sortBy(_._1)
    // warmup: same plans, smallest data, results discarded; errors
    // surface in the timed passes, not here. stream_* queries are
    // SKIPPED: their cost is state-store + drop-staging machinery that
    // re-runs in full on every invocation anyway (no codegen/footer
    // cache to warm that the two timed passes don't warm themselves),
    // and warming them re-staged every drop a third time — pure bench
    // wall with no effect on the recorded minima (r8 verdict item 5)
    val warmupDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmupDir).isDirectory && warmupDir != sfDir) {
      ordered.filterNot(_._1.startsWith("stream_")).foreach { case (_, fn) =>
        try fn(spark, warmupDir).count() catch { case _: Throwable => () }
      }
    }

    // drop the warmup pass's artifacts AND every block it left behind
    freeBlocks(spark)

    val cpu0 = osBean.getProcessCpuTime
    val busy0 = procStatBusySec()
    val wall0 = System.nanoTime()
    // min-of-2 where it matters (r8 verdict item 5): pass 1 times
    // every query; pass 2 re-measures only the queries whose pass-1
    // cost reached Pass2ThresholdSec (plus any that errored), because
    // those are the ones where a transient on this shared box can
    // materially move the headline. Sub-threshold queries take their
    // pass-1 time — which is already their second overall execution
    // after the sf0.001 warmup, i.e. steady-state — and the forgone
    // min-of-2 correction on that tail measured ~2.8 s spread over
    // ~80 queries (noise-level per query) against ~25 s of saved
    // bench wall. cpu_wall_ratio still flags whole-run contention.
    val p1 = timedPass(spark, ordered, sfDir)
    val wallP1 = (System.nanoTime() - wall0) / 1e9
    // cold-build honesty: the build-once caches (minhash pair graph,
    // IVF centroids) are evicted BETWEEN passes, so min-of-2 reports a
    // cold build + probe for the first query in name order that builds
    // each cache (graph_pagerank, dedup_semantic) rather than pass-2's
    // warm probe; later queries sharing the cache within a pass
    // (graph_triangles, sim_ann_ivf) still measure the intended
    // build-once/probe-many pipeline shape. freeBlocks (not just the
    // cache evictions) so pass 2 starts with the block manager p1
    // started with — otherwise p1's localCheckpoint litter skews p2.
    freeBlocks(spark)
    val rerun = ordered.filter { case (n, _) =>
      p1(n).sec >= Pass2ThresholdSec || p1(n).err.isDefined
    }
    val wallMid = System.nanoTime()
    val p2 = timedPass(spark, rerun, sfDir)
    val wallP2 = (System.nanoTime() - wallMid) / 1e9

    // Clean-gate cross-check (r15 verdict item 1): a chosen timing
    // > CleanGateRatio × its last clean-gate record is re-measured
    // ONCE more, however quiet its windows looked — the r15 incident
    // (rec_item_cosine 13.46 s recorded vs 4.72 s clean, ≈0 external
    // CPU in both windows) was disk pressure the per-window brackets
    // could not see. Capped to the worst 12 suspects so a stale
    // baseline can never trigger a full third pass.
    val chosen12 = chosenTimings(ordered.map(_._1), p1, p2)
    val cleanBase = loadCleanBaseline()
    val suspects = chosen12.collect {
      case (n, t) if t.err.isEmpty && t.headlineSec >= ExtWindowMinSec &&
        cleanBase.get(n).exists(b => b > 0 && t.headlineSec > CleanGateRatio * b) =>
        (n, t.headlineSec / cleanBase(n))
    }.sortBy(-_._2).take(12).map(_._1)
    val p3 =
      if (suspects.isEmpty) Map.empty[String, Timing]
      else {
        freeBlocks(spark)
        timedPass(spark, ordered.filter(q => suspects.contains(q._1)), sfDir)
      }
    // retake merge: p3 only ever re-measures queries that already have
    // a GOOD two-pass record, so a transient p3 error must fall back
    // to that record, never fail the bench (unlike pass 2, whose
    // freshest-error-is-fatal rule exists to catch flaky queries)
    val chosen = chosen12.map { case (n, t) =>
      n -> (p3.get(n) match {
        case Some(t3) if t3.err.isEmpty && t3.headlineSec < t.headlineSec => t3
        case _ => t
      })
    }
    val cleared = suspects.filter { n =>
      chosen.toMap.get(n).exists(t =>
        t.err.isEmpty && t.headlineSec <= CleanGateRatio * cleanBase(n))
    }

    val wallSec = (System.nanoTime() - wall0) / 1e9
    val cpuSec = (osBean.getProcessCpuTime - cpu0) / 1e9
    // external load over the timed section, in cores: whole-box busy
    // CPU minus this JVM's own (clamped: the two clocks tick at
    // different granularities, so tiny negatives are measurement noise)
    val extCpuCores = for (b0 <- busy0; b1 <- procStatBusySec())
      yield math.max(0.0, (b1 - b0 - cpuSec)) / math.max(wallSec, 1e-9)
    val contention = Contention(
      runAvgExt = extCpuCores,
      extMaxWin = extMaxWindow(Seq(chosen.toMap)),
      passRatio = if (wallP1 > 0 && rerun.nonEmpty) Some(wallP2 / wallP1) else None,
      iowMaxWin = iowMaxWindow(Seq(chosen.toMap)))

    // Self-describing cache accounting (r7 verdict item 5): the four
    // queries sharing the build-once caches are re-probed with BOTH
    // caches warm, so the JSON carries an explicit warm number next to
    // the headline one and the cold-pricing policy can't be misread as
    // a regression. The caches are rebuilt UNTIMED on a freshly swept
    // block manager rather than inherited from p2: r8 inherited them
    // and the probe ran against a block manager holding two full
    // passes of litter — the "warm" pair table had been evicted and
    // the probe recomputed the whole minhash build (24.99 s).
    val cacheCoupled = Seq(
      "dedup_semantic", "dedup_semantic2", "graph_bfs", "graph_pagerank",
      "graph_triangles", "graph_linkpred", "graph_labelprop", "graph_kcore",
      "sim_ann_ivf", "sim_ann_ivf2")
      .filter(n => ordered.exists(_._1 == n))
    freeBlocks(spark)
    Seq("dedup_semantic", "graph_bfs", "graph_kcore").foreach { builder =>
      SparkEntry.queries.get(builder).foreach { fn =>
        try fn(spark, sfDir).count() catch { case _: Throwable => () }
      }
    }
    // warmth proof, recorded into the JSON: before the probe is called
    // warm, the shared op caches must exist (snapshot count) and the
    // block manager must actually hold fully-cached in-memory RDDs
    // (fullyCached counts RDDs with every partition resident — the
    // thing the r8 probe silently lost).
    val warmEntries = (graft.ops.GraphOps.pairCacheSnapshot ++
      graft.ops.GraphOps.lshPairCacheSnapshot ++
      graft.ops.SimilarityOps.ivfCacheSnapshot).size
    val storageInfo = spark.sparkContext.getRDDStorageInfo
    val fullyCached = storageInfo.count(i =>
      i.numCachedPartitions == i.numPartitions && i.memSize > 0)
    val storageMb = storageInfo.map(_.memSize).sum / 1e6
    val pWarm = timedPass(spark,
      ordered.filter { case (n, _) => cacheCoupled.contains(n) }, sfDir)

    // final record off the three-pass chosen timings
    val (results, errors) = collectRecord(chosen)
    val failed = errors.map(_._1).toSet
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) =>
      "\"" + jsonEscape(k) + "\":\"" + jsonEscape(v) + "\""
    }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val ratio = if (wallSec > 0) cpuSec / wallSec else 0.0
    // cache annotation: state each coupled query's headline pricing and
    // its measured warm-probe time (caches were warm for pWarm)
    val cacheJson = cacheCoupled.filterNot(failed).map { n =>
      // first coupled query in sorted pass order pays each cold build:
      // graph_bfs (r12) now precedes graph_pagerank on the pair cache
      val pricing =
        if (n == "dedup_semantic" || n == "graph_bfs") "cold_build" else "warm_shared"
      "\"" + n + "\":{\"headline\":\"" + pricing + "\"" +
        pWarm.get(n).filter(_.err.isEmpty)
          .map(t => ",\"warm_sec\":" + t.sec).getOrElse("") + "}"
    }.mkString("{", ",", "}")
    // Full-fidelity record: every per-query timing (headline min plus
    // both raw passes, so pass-asymmetry like r9's 111 s/56 s split is
    // diagnosable from the artifact), cache pricing, warm-probe proof.
    // Deliberately does NOT contain the key "metric": the driver greps
    // its 2000-char stdout tail for the contract line, and this line
    // is far larger than that window.
    val passJson = (m: Map[String, Timing]) => ordered.collect {
      case (n, _) if m.get(n).exists(_.err.isEmpty) => "\"" + n + "\":" + m(n).sec
    }.mkString("{", ",", "}")
    // per-query EXTERNAL cores per pass: the burst audit trail — an
    // inflated timing with a quiet window is the plan's fault, one
    // with a loud window is the box's (r14's 20 unexplained flips)
    val extJson = (m: Map[String, Timing]) => ordered.collect {
      case (n, _) if m.get(n).exists(t => t.err.isEmpty && t.extCores.isDefined) =>
        "\"" + n + "\":" + fmt2(m(n).extCores.get)
    }.mkString("{", ",", "}")
    // per-query IOWAIT cores per pass (r16): the disk-pressure audit
    // trail next to the CPU one
    val iowJson = (m: Map[String, Timing]) => ordered.collect {
      case (n, _) if m.get(n).exists(t => t.err.isEmpty && t.iowaitCores.isDefined) =>
        "\"" + n + "\":" + fmt2(m(n).iowaitCores.get)
    }.mkString("{", ",", "}")
    val cleanGateJson =
      s"""{"baseline_n":${cleanBase.size},"ratio":$CleanGateRatio,""" +
        s""""suspects":[${suspects.map("\"" + _ + "\"").mkString(",")}],""" +
        s""""cleared":[${cleared.map("\"" + _ + "\"").mkString(",")}]}"""
    // stream_* wall vs trigger-execution, taken from the pass that
    // produced the headline time (the chosenTimings rule) — wall
    // minus exec is trigger waits + drop staging + read-back
    val streamJson = chosen.collect {
      case (n, t) if n.startsWith("stream_") && t.err.isEmpty =>
        val exec = t.streamExecSec.getOrElse(0.0)
        "\"" + n + "\":{\"wall\":" + fmt2(t.sec) + ",\"exec\":" + fmt2(exec) +
          ",\"non_exec\":" + fmt2(math.max(0.0, t.sec - exec)) + "}"
    }.mkString("{", ",", "}")
    val detail = s"""{"bench_detail":1,"total_sec":$total,"queries":$qs,""" +
      s""""p1":${passJson(p1)},"p2":${passJson(p2)},"p3":${passJson(p3)},""" +
      s""""ext1":${extJson(p1)},"ext2":${extJson(p2)},"ext3":${extJson(p3)},""" +
      s""""iow1":${iowJson(p1)},"iow2":${iowJson(p2)},"iow3":${iowJson(p3)},""" +
      s""""clean_gate":$cleanGateJson,""" +
      s""""stream_split":$streamJson,""" +
      s""""pass2":{"threshold_sec":$Pass2ThresholdSec,"n":${rerun.size}},""" +
      s""""cache":$cacheJson,""" +
      f""""warm_probe":{"cache_entries":$warmEntries,"fully_cached_rdds":$fullyCached,"storage_mb":$storageMb%.1f},""" +
      s""""errors":$errJson,"failed":${errors.size},""" +
      f""""proc_cpu_sec":$cpuSec%.1f,"wall_sec":$wallSec%.1f,""" +
      f""""pass_sec":[$wallP1%.1f,$wallP2%.1f],"cpu_wall_ratio":$ratio%.2f,""" +
      extCpuCores.map(e => f""""ext_cpu_cores":$e%.2f,""").getOrElse("") +
      contention.extMaxWin.map(e => s""""ext_max_win":${fmt2(e)},""").getOrElse("") +
      contention.iowMaxWin.map(e => s""""iow_max_win":${fmt2(e)},""").getOrElse("") +
      contention.passRatio.map(r => s""""pass_ratio":${fmt2(r)},""").getOrElse("") +
      s""""contended":${contention.flag(extCpuCores, ratio)},""" +
      s""""sf":"$sfDir"}"""
    println(detail)
    // checkout-relative (overridable), never a hardcoded absolute path;
    // a failed write warns instead of silently losing the artifact —
    // the stdout copy above remains the fallback record either way
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_DETAIL_PATH",
      sys.props.getOrElse("user.dir", ".") + "/BENCH_DETAIL.json")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(detailPath),
      (detail + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"warn: BENCH_DETAIL write to $detailPath failed: $e")
    }
    // Contract line LAST and size-capped so the driver's stdout-tail
    // parse always sees it whole (see compactLine scaladoc).
    println(compactLine(results, errors.size, wallSec, ratio, sfDir,
      extCpuCores = extCpuCores, contention = contention))
    errors.nonEmpty
  }
}
