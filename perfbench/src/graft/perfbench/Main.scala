package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.mr.{ExecSpec, FnSpec, MapReduceJob, MapReduceRunner, Workloads}

/** Benchmark harness: runs one workload from one process and writes
  * its raw measurements to `<work>/metrics.json`.
  *
  * A run is: `--setups` set-ups (fresh session + one untimed warm pass
  * each), one more untimed pass, then timed passes for `--seconds`
  * (longer, by up to ExtraS, when steal spoilt too many). Each pass
  * runs every item of the workload once, sequentially, in a
  * seed-permuted order. With `--trace 1` the first half of the window
  * runs untraced and the second half with the listeners attached, so
  * the trace's own cost is measured.
  *
  * The program is only ever called through its public (or
  * `private[graft]`) entry points; the per-layer figures come from a
  * SparkListener, a StreamingQueryListener and /proc.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, corpus: String, work: String,
      scripts: String, setups: Int, cores: Int)

  sealed trait Item { def name: String }
  final case class Query(name: String, fn: (SparkSession, String) => DataFrame) extends Item
  final case class Mr(name: String, mapper: String => graft.mr.StageSpec,
      reducer: String => graft.mr.StageSpec) extends Item

  // Each pass runs every item once; the sets are sized so that a pass
  // takes a few seconds on a 4-core machine at scale factor 0.01. The
  // LLM data pipeline ingests (a deduplicating stream, an upsert), builds
  // one LSH pair graph that two graph queries share, and clusters the
  // embeddings with the Lloyd kernel.
  val LlmQueries = Seq("stream_dedup", "merge_upsert", "graph_kcore",
    "graph_linkpred", "emb_kmeans")
  /** graph_kcore and graph_linkpred read the same cached LSH pair
    * graph: whichever runs first builds it. */
  val PairBuilder = "graph_kcore"
  val PairReuser = "graph_linkpred"
  val MrMappers = 4
  val MrReducers = 4

  val WorkloadNames = Seq("mr_corpus", "llm_pipeline")

  /** The workload's items; `classes` runs every workload's items once,
    * to record which classes the JVM loads (see perfbench/run.py). */
  def items(o: Opts): Seq[Item] = {
    def named(names: Seq[String]) = names.map(n => Query(n, graft.SparkEntry.queries(n)))
    o.workload match {
      case "classes" => WorkloadNames.flatMap(w => items(o.copy(workload = w)))
      case "mr_corpus" => Seq(
        Mr("mr_wc_fn", _ => FnSpec(Workloads.wcMapSh), _ => FnSpec(Workloads.wcReduceSh)),
        Mr("mr_wc_exec", s => ExecSpec(Seq("bash", s"$s/wc_map.sh")),
          s => ExecSpec(Seq("bash", s"$s/wc_reduce.sh"))),
        Mr("mr_grep", _ => FnSpec(Workloads.grepMap("product")),
          _ => FnSpec(Workloads.grepReduce)))
      case "llm_pipeline" => named(LlmQueries)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
  }

  /** Swaps PairBuilder ahead of PairReuser when the order has both. */
  def builderFirst(order: Seq[Item]): Seq[Item] = {
    val i = order.indexWhere(_.name == PairBuilder)
    val j = order.indexWhere(_.name == PairReuser)
    if (i > j && j >= 0) order.updated(i, order(j)).updated(j, order(i)) else order
  }

  def session(o: Opts, n: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse-$n")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.streamingQueryListeners", classOf[StreamProbe].getName)
      .getOrCreate()

  // ---- process-level meters -------------------------------------------

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds of reaped children (the pipe executables), from
    * /proc/self/stat fields cutime + cstime. */
  def childCpuS(): Double = {
    val s = new String(Files.readAllBytes(Paths.get("/proc/self/stat")))
    val f = s.substring(s.lastIndexOf(')') + 2).split(" ")
    (f(13).toLong + f(14).toLong) / 100.0
  }

  def cpuS(): Double = osBean.getProcessCpuTime / 1e9 + childCpuS()

  /** Whole-machine steal seconds since boot (field 8 of the aggregate
    * cpu line of /proc/stat): time the hypervisor ran other guests
    * while this one had work. */
  def stealS(): Double =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      f(8).toLong / 100.0
    } catch { case _: Throwable => 0.0 }

  /** (read_bytes, write_bytes) from /proc/self/io. */
  def ioBytes(): (Long, Long) = {
    val kv = Files.readAllLines(Paths.get("/proc/self/io")).asScala
      .map(_.split(":\\s*")).collect { case Array(k, v) => k -> v.trim.toLong }.toMap
    (kv.getOrElse("read_bytes", 0L), kv.getOrElse("write_bytes", 0L))
  }

  /** Largest heap-after-GC since the last reset, from GC notifications. */
  object Heap {
    private val peak = new java.util.concurrent.atomic.AtomicLong(0)
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
          if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
              .GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (k, v) if heapPools(k) => v.getUsed }.sum
            peak.accumulateAndGet(used, math.max)
          }
        }, null, null)
      case _ =>
    }
    def reset(): Unit = peak.set(0)

    /** Heap in use after a full collection forced now: what the
      * program still holds. */
    def liveMb(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }

    /** The peak, counting the collection of `liveMb` (its notification
      * may not have arrived yet): a pass too short to trigger a
      * collection still reports the heap it leaves live. */
    def peakMb(liveMb: Double): Double = math.max(peak.get / 1048576.0, liveMb)
  }

  // ---- one item ---------------------------------------------------------

  final case class Sample(name: String, qid: Int, constructS: Double,
      actionS: Double, planS: Double, exchanges: Int, childCpuS: Double,
      streamExecS: Double, error: Option[String])

  final class Ctx(val o: Opts, var spark: SparkSession) {
    var probe: Option[Probe] = None
    var nextId = 0
    val spans = mutable.ArrayBuffer.empty[Span]
    /** Owner key ("pb:<qid>:<c|a>") -> span id of that query phase. */
    val phaseSpan = mutable.Map.empty[String, Int]
    /** qid -> RDD ids of shared-build cache entries that existed
      * before the query ran, and how many entries it added. */
    val cacheBefore = mutable.Map.empty[Int, (Seq[Int], Int)]
    val lastRows = mutable.Map.empty[String, (Array[Row], org.apache.spark.sql.types.StructType)]
    def newId(): Int = { nextId += 1; nextId }
  }

  private def sharedBuilds(): Seq[DataFrame] =
    graft.ops.SimilarityOps.ivfCacheSnapshot ++ graft.ops.GraphOps.pairCacheSnapshot ++
      graft.ops.GraphOps.lshPairCacheSnapshot

  private def cachedRddId(spark: SparkSession, df: DataFrame): Option[Int] =
    try spark.sharedState.cacheManager.lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .map(_.cachedRepresentation.cacheBuilder.cachedColumnBuffers.id)
    catch { case _: Throwable => None }

  def runItem(ctx: Ctx, item: Item, passSpan: Int): Sample = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val qid = ctx.newId()
    val traced = ctx.probe.isDefined
    val before = if (traced) sharedBuilds() else Nil
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    var n1 = n0
    var planS = 0.0
    var exchanges = 0
    var child = 0.0
    val exec0 = graft.streaming.StreamMeter.execMs
    def phase(p: String): Unit = {
      ctx.probe.foreach(_.begin(s"pb:$qid:$p"))
      sc.setJobGroup(s"pb:$qid:$p", item.name, interruptOnCancel = false)
    }
    def endPhase(): Unit = ctx.probe.foreach(_.end())
    val error =
      try {
        phase("c")
        item match {
          case Query(name, fn) =>
            val df = fn(spark, ctx.o.data)
            endPhase(); n1 = System.nanoTime(); phase("a")
            // the fingerprint plans the query, which the action would
            // do first anyway; it reads the plan before AQE rewrites it
            if (traced) exchanges = "(ShuffleExchange|BroadcastExchange)=(\\d+)".r
              .findAllMatchIn(graft.tools.PlanFingerprint.of(df)).map(_.group(2).toInt).sum
            val rows = df.collect()
            endPhase()
            ctx.lastRows(name) = (rows, df.schema)
            if (traced)
              planS = df.queryExecution.tracker.phases.values.map(_.durationMs).sum / 1e3
          case Mr(name, mapper, reducer) =>
            val job = MapReduceJob(ctx.o.corpus, s"${ctx.o.work}/mr/$name",
              mapper(ctx.o.scripts), reducer(ctx.o.scripts), MrMappers, MrReducers)
            endPhase(); n1 = System.nanoTime(); phase("a")
            val c0 = childCpuS()
            MapReduceRunner.run(spark, job)
            child = childCpuS() - c0
            endPhase()
        }
        None
      } catch {
        case e: Throwable =>
          endPhase()
          Some(s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}")
      } finally sc.clearJobGroup()
    val n2 = System.nanoTime()
    if (n1 == n0) n1 = n2
    val t1 = t0 + (n1 - n0) / 1000000
    val t2 = t0 + (n2 - n0) / 1000000
    if (traced) {
      val after = sharedBuilds()
      val old = before.filter(b => after.exists(_ eq b)).flatMap(cachedRddId(spark, _))
      ctx.cacheBefore(qid) = (old, after.count(a => !before.exists(_ eq a)))
      ctx.spans += Span(qid, passSpan, "query", item.name, t0, t2)
      val c = ctx.newId(); val a = ctx.newId()
      ctx.phaseSpan(s"pb:$qid:c") = c
      ctx.phaseSpan(s"pb:$qid:a") = a
      ctx.spans += Span(c, qid, "construct", item.name, t0, t1)
      ctx.spans += Span(a, qid, "action", item.name, t1, t2)
      if (planS > 0) ctx.spans += Span(ctx.newId(), a, "plan", item.name, t1,
        t1 + (planS * 1000).toLong)
    }
    Sample(item.name, qid, (n1 - n0) / 1e9, (n2 - n1) / 1e9, planS, exchanges,
      child, (graft.streaming.StreamMeter.execMs - exec0) / 1e3, error)
  }

  // ---- one pass -----------------------------------------------------------

  final case class PassRec(idx: Int, traced: Boolean, wallS: Double, cpuS: Double,
      heapPeakMb: Double, heapLiveMb: Double, blocksHeldMb: Double, diskReadMb: Double,
      diskWriteMb: Double, stealS: Double, samples: Seq[Sample], stream: StreamCounters) {
    def contended: Boolean = stealS / wallS > StealMaxCores
  }

  // A pass during which the hypervisor ran other guests on more than
  // StealMaxCores of the machine's cores, on average, measured them and not
  // the program: on a shared 4-core machine, 95% of passes saw under 0.05
  // cores of steal, and passes above 0.1 ran up to 25% slower. The medians
  // leave such passes out when at least two others are clear, and the
  // window runs up to ExtraS longer to collect MinClear clear passes.
  val StealMaxCores = 0.1
  val MinClear = 3
  val ExtraS = 10.0

  /** The passes the medians use: the clear ones, when there are two. */
  def usable(ps: Seq[PassRec]): Seq[PassRec] = {
    val clear = ps.filterNot(_.contended)
    if (clear.size >= 2) clear else ps
  }

  def blocksHeldMb(spark: SparkSession): Double = {
    val sc = spark.sparkContext
    val mem = sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
    val disk = sc.getRDDStorageInfo.map(_.diskSize).sum
    (mem + disk) / 1048576.0
  }

  def runPass(ctx: Ctx, order: Seq[Item], idx: Int): PassRec = {
    // every pass starts from the same state: no cached blocks, no
    // garbage left by the previous pass
    graft.Bench.freeBlocks(ctx.spark)
    System.gc()
    val stream = new StreamCounters
    if (ctx.probe.isDefined) StreamProbe.current.set(stream)
    val passSpan = ctx.newId()
    Heap.reset()
    val (r0, w0) = ioBytes()
    val cpu0 = cpuS()
    val steal0 = stealS()
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val samples = order.map(runItem(ctx, _, passSpan))
    val wall = (System.nanoTime() - n0) / 1e9
    val cpu = cpuS() - cpu0
    val steal = stealS() - steal0
    val (r1, w1) = ioBytes()
    ctx.spans += Span(passSpan, 0, "pass", s"pass$idx", t0, t0 + (wall * 1000).toLong)
    ctx.probe.foreach(_ => org.apache.spark.PerfbenchInternals.drain(ctx.spark.sparkContext))
    StreamProbe.current.set(null)
    val live = Heap.liveMb()
    PassRec(idx, ctx.probe.isDefined, wall, cpu, Heap.peakMb(live), live, blocksHeldMb(ctx.spark),
      (r1 - r0) / 1048576.0, (w1 - w0) / 1048576.0, steal, samples, stream)
  }

  // ---- statistics -----------------------------------------------------------

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Milliseconds covered by the union of the intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long =
    iv.sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((sum, end), (a, b)) =>
      if (b <= end) (sum, end) else (sum + b - math.max(a, end), b)
    }._1

  // ---- per-layer figures of a traced pass -------------------------------

  def layerMetrics(ctx: Ctx, p: PassRec): Map[String, Double] = {
    val probe = ctx.probe.get
    val cores = ctx.o.cores
    val qids = p.samples.map(_.qid).toSet
    def qidOf(key: String) = key.split(":")(1).toInt
    def owned(key: String) = key.startsWith("pb:") && qids(qidOf(key))
    val byName = p.samples.map(s => s.qid -> s.name).toMap
    def isMr(key: String) = byName(qidOf(key)).startsWith("mr_")
    val all, construct, mr = new Counters
    probe.synchronized {
      probe.counters.foreach { case (k, c) =>
        if (owned(k)) {
          all.add(c)
          if (k.endsWith(":c")) construct.add(c)
          if (isMr(k)) mr.add(c)
        }
      }
    }
    val mb = 1048576.0
    val constructS = p.samples.map(_.constructS).sum
    // construction's self time: its wall less the time its eager jobs cover
    val constructJobS = probe.synchronized {
      probe.jobSpans.filter { case (o, _, _, _) => owned(o) && o.endsWith(":c") }
        .groupBy(_._1).values.map(js => unionMs(js.map(j => (j._3, j._4)).toSeq)).sum / 1e3
    }
    val planS = p.samples.map(_.planS).sum
    val execS = p.samples.map(_.actionS).sum - planS
    // MR stages: the shuffle-map stage and the result stage of each job
    val mrStages = probe.synchronized {
      probe.stages.values.filter(r => owned(r.owner) && isMr(r.owner)).toSeq
    }
    def stageWall(r: StageRec) = if (r.completed > r.submitted && r.submitted > 0)
      (r.completed - r.submitted) / 1e3 else 0.0
    val wcResult = mrStages.filter(r => !r.isShuffleMap &&
      byName(qidOf(r.owner)).startsWith("mr_wc"))
    val reduceSkew = wcResult.filter(_.taskShuffleReadRecords.nonEmpty).map { r =>
      val s = r.taskShuffleReadRecords.sorted
      s.last.toDouble / math.max(s(s.size / 2), 1L)
    }
    // shared builds: a lookup is a query that added a cache entry (a
    // miss) or whose stages read an entry that existed before it (a hit)
    val stageRdds = probe.synchronized {
      probe.stages.values.filter(r => owned(r.owner)).map(r => qidOf(r.owner) -> r.id).toSeq
    }
    var hits, lookups = 0
    p.samples.foreach { s =>
      ctx.cacheBefore.get(s.qid).foreach { case (oldIds, added) =>
        val read = stageRdds.exists { case (q, stageId) =>
          q == s.qid && probe.rddsOf(stageId).exists(oldIds.contains)
        }
        if (read) { hits += 1; lookups += 1 }
        lookups += added
      }
    }
    val streamS = p.samples.filter(_.name.startsWith("stream_"))
    val streamWall = streamS.map(s => s.constructS + s.actionS).sum
    val streamExec = p.samples.map(_.streamExecS).sum
    Map(
      "construct_s" -> constructS,
      "construct_self_s" -> math.max(0.0, constructS - constructJobS),
      "construct_jobs" -> construct.jobs.toDouble,
      "plan_s" -> planS,
      "plan_exchanges" -> p.samples.map(_.exchanges).sum.toDouble,
      "exec_s" -> execS,
      "jobs" -> all.jobs.toDouble,
      "stages" -> all.stages.toDouble,
      "tasks" -> all.tasks.toDouble,
      "task_run_s" -> all.runMs / 1e3,
      "task_cpu_s" -> all.cpuNs / 1e9,
      "gc_s" -> all.gcMs / 1e3,
      "task_skew" -> all.taskSkew,
      "core_idle_frac" -> (1 - all.runMs / 1e3 / (p.wallS * cores)),
      "shuffle_write_mb" -> all.shuffleWriteBytes / mb,
      "shuffle_read_mb" -> all.shuffleReadBytes / mb,
      "shuffle_records" -> all.shuffleWriteRecords.toDouble,
      "spill_mb" -> all.spillBytes / mb,
      "fetch_wait_s" -> all.fetchWaitMs / 1e3,
      "scan_mb" -> all.inputBytes / mb,
      "scan_records" -> all.inputRecords.toDouble,
      "materialized_mb" -> all.materializedBytes / mb,
      "shared_build_hit_frac" -> (if (lookups == 0) 0.0 else hits.toDouble / lookups),
      "stages_skipped_frac" -> (if (all.stageIds == 0) 0.0
        else all.stagesSkipped.toDouble / all.stageIds),
      "blocks_held_mb" -> p.blocksHeldMb,
      "heap_peak_mb" -> p.heapPeakMb,
      "mr_map_s" -> mrStages.filter(_.isShuffleMap).map(stageWall).sum,
      "mr_reduce_s" -> mrStages.filterNot(_.isShuffleMap).map(stageWall).sum,
      "mr_map_out_records" -> mr.shuffleWriteRecords.toDouble,
      "mr_reduce_skew" -> (if (reduceSkew.isEmpty) 0.0 else reduceSkew.max),
      "mr_pipe_child_cpu_s" -> p.samples.map(_.childCpuS).sum,
      "stream_exec_s" -> streamExec,
      "stream_wait_s" -> math.max(0.0, streamWall - streamExec),
      "stream_batches" -> p.stream.batches.toDouble,
      "state_rows" -> p.stream.state.values.map(_._1).sum.toDouble,
      "state_mb" -> p.stream.state.values.map(_._2).sum / mb,
      "wal_commit_s" -> p.stream.walCommitMs / 1e3,
      "disk_write_mb" -> p.diskWriteMb,
      "disk_read_mb" -> p.diskReadMb)
  }

  // ---- main ---------------------------------------------------------------

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("data"), m("corpus"), m("work"), m("scripts"), m("setups").toInt, m("cores").toInt)
  }

  def main(args: Array[String]): Unit = {
    val mainEpochMs = System.currentTimeMillis()
    val o = parse(args)
    Heap.install()
    // one seed-permuted order for the whole run, except that the query
    // building a shared cache always runs before the one reusing it, so
    // each item keeps its role in every pass and on every seed
    val work = builderFirst(new scala.util.Random(o.seed).shuffle(items(o)))
    val ctx = new Ctx(o, null)

    // set-up, repeated: fresh session, then one untimed warm pass
    val setups = (0 until o.setups).map { i =>
      val n0 = System.nanoTime()
      if (ctx.spark != null) { graft.Bench.freeBlocks(ctx.spark); ctx.spark.stop() }
      ctx.spark = session(o, i)
      ctx.spark.sparkContext.setLogLevel("ERROR")
      val sessionS = (System.nanoTime() - n0) / 1e9
      val warm = work.map(runItem(ctx, _, 0))
      warm.flatMap(s => s.error.map(e => s"${s.name}: $e"))
        .foreach(e => System.err.println(s"perfbench: warm-up error: $e"))
      ((System.nanoTime() - n0) / 1e9,
        Map("session" -> sessionS) ++ warm.map(s => s.name -> (s.constructS + s.actionS)))
    }
    val setupS = setups.map(_._1)
    // warm-up: the first pass after a set-up still runs slower while the
    // JIT catches up, so one more untimed pass runs before the window
    runPass(ctx, work, -1)
    val firstTimedEpochMs = System.currentTimeMillis()

    // timed window; with a trace, its second half runs traced
    val busy0 = graft.Bench.procStatBusySec()
    val steal0 = stealS()
    val iow0 = graft.Bench.procStatIowaitSec()
    val cpu0 = cpuS()
    val w0 = System.nanoTime()
    def elapsed = (System.nanoTime() - w0) / 1e9
    val passes = mutable.ArrayBuffer.empty[PassRec]
    // a window ends before the pass that would likely overrun it, so a
    // run's length does not grow with the pass time
    def window(until: Double): Unit =
      do passes += runPass(ctx, work, passes.size)
      while (elapsed + median(passes.map(_.wallS).toSeq) <= until)
    if (o.trace) {
      window(o.seconds / 2)
      val p = new Probe
      ctx.spark.sparkContext.addSparkListener(p)
      ctx.probe = Some(p)
    }
    window(o.seconds)
    def clear = passes.count(p => p.traced == o.trace && !p.contended)
    while (clear < MinClear && elapsed + median(passes.map(_.wallS).toSeq) <= o.seconds + ExtraS)
      passes += runPass(ctx, work, passes.size)
    val windowS = elapsed
    val ownCpu = cpuS() - cpu0
    val extCores = for (b0 <- busy0; b1 <- graft.Bench.procStatBusySec())
      yield math.max(0.0, (b1 - b0 - ownCpu) / windowS)
    val iowCores = for (a <- iow0; b <- graft.Bench.procStatIowaitSec()) yield (b - a) / windowS
    val stealCores = (stealS() - steal0) / windowS

    // outputs for the oracle, written after the timed window
    val outDir = s"${o.work}/out"
    val failures = mutable.Map.empty[String, String]
    passes.flatMap(_.samples).foreach(s => s.error.foreach(e => failures.getOrElseUpdate(s.name, e)))
    val oracle = mutable.Map.empty[String, String]
    ctx.lastRows.foreach { case (name, (rows, schema)) =>
      try {
        ctx.spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$outDir/$name")
        graft.SparkEntry.oracleSql.get(name) match {
          case Some(sql) => oracle(name) = sql
          case None => failures.getOrElseUpdate(name, "no oracle SQL")
        }
      } catch {
        case e: Throwable => failures.getOrElseUpdate(name, s"result write: ${e.getMessage}")
      }
    }
    Files.createDirectories(Paths.get(outDir))
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.write(Paths.get(s"$outDir/oracle_sql.json"), json.writeValueAsBytes(oracle.toMap))

    val timedAll = passes.filterNot(_.traced).toSeq
    val timed = usable(timedAll)
    val tracedPasses = usable(passes.filter(_.traced).toSeq)
    val samples = timed.flatMap(_.samples)
    // per item: the median of its walls; the workload's typical and
    // slowest query are the median and the maximum of those
    val perItem = samples.groupBy(_.name).map { case (n, ss) =>
      n -> median(ss.map(s => s.constructS + s.actionS)) }
    val slowest = perItem.maxBy(_._2)
    val e2e = Map(
      "pass_s" -> median(timed.map(_.wallS)),
      "query_p50_s" -> median(perItem.values.toSeq),
      "query_tail_s" -> slowest._2,
      "cpu_s" -> median(timed.map(_.cpuS)),
      "heap_live_mb" -> median(timed.map(_.heapLiveMb)))
    val layers = if (tracedPasses.isEmpty) Map.empty[String, Double] else {
      val per = tracedPasses.map(layerMetrics(ctx, _))
      per.head.keys.map(k => k -> median(per.map(_(k)))).toMap +
        ("trace_overhead_frac" -> (median(tracedPasses.map(_.wallS)) /
          median(timed.map(_.wallS)) - 1))
    }
    if (o.trace) writeTrace(ctx, s"${o.work}/trace.json", json)
    val result = Map(
      "main_epoch_ms" -> mainEpochMs,
      "first_timed_epoch_ms" -> firstTimedEpochMs,
      "setup_jvm_s" -> setupS,
      "setup_items_s" -> setups.map(_._2),
      "window_s" -> windowS,
      "passes" -> timed.size,
      "contended_passes" -> (timedAll.size - timed.size),
      "pass_walls_s" -> timedAll.map(_.wallS),
      "pass_cpu_s" -> timedAll.map(_.cpuS),
      "pass_steal_s" -> timedAll.map(_.stealS),
      "pass_heap_peak_mb" -> timedAll.map(_.heapPeakMb),
      "pass_heap_live_mb" -> timedAll.map(_.heapLiveMb),
      "pass_items_s" -> timedAll.map(_.samples.map(s => s.name -> (s.constructS + s.actionS)).toMap),
      "traced_passes" -> tracedPasses.size,
      "attempted" -> passes.map(_.samples.size).sum,
      "failed_samples" -> passes.flatMap(_.samples).count(_.error.isDefined),
      "failures" -> failures.toMap,
      "e2e" -> e2e,
      "slowest_item" -> slowest._1,
      "samples" -> samples.size,
      "per_item_p50_s" -> perItem,
      "blocks_held_mb" -> median(timed.map(_.blocksHeldMb)),
      "ext_cpu_cores" -> extCores.getOrElse(-1.0),
      "iowait_cores" -> iowCores.getOrElse(-1.0),
      "steal_cores" -> stealCores,
      "layers" -> layers)
    Files.write(Paths.get(s"${o.work}/metrics.json"), json.writeValueAsBytes(result))
    val s0 = System.nanoTime()
    ctx.spark.stop()
    System.err.println(f"perfbench: session stopped in ${(System.nanoTime() - s0) / 1e9}%.2f s")
    // lingering non-daemon threads of the program must not delay the exit
    System.exit(0)
  }

  /** Spans of the traced passes, job and stage spans included, as JSON. */
  def writeTrace(ctx: Ctx, path: String, json: ObjectMapper): Unit = {
    val probe = ctx.probe
    val extra = probe.toSeq.flatMap { p =>
      p.synchronized {
        val jobs = p.jobSpans.toSeq.flatMap { case (owner, jobId, s, e) =>
          ctx.phaseSpan.get(owner).map(par => Span(-jobId - 1, par, "job", s"job$jobId", s, e))
        }
        val stages = p.stages.values.toSeq.filter(r => r.submitted > 0 &&
            ctx.phaseSpan.contains(r.owner)).map { r =>
          Span(-1000000 - r.id, p.jobOf(r.id).map(-_ - 1).getOrElse(ctx.phaseSpan(r.owner)),
            "stage", s"stage${r.id}", r.submitted, math.max(r.completed, r.submitted),
            Map("tasks" -> r.taskMs.size.toDouble))
        }
        jobs ++ stages
      }
    }
    val rows = (ctx.spans ++ extra).map(s => Map("id" -> s.id, "parent" -> s.parent,
      "level" -> s.level, "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end,
      "attrs" -> s.attrs))
    Files.write(Paths.get(path), json.writeValueAsBytes(rows))
  }
}
