package graft.streaming

import java.nio.file.Files
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import graft.ops.OpsUtil.{deleteRecursively, dsum}
import graft.ops.SharedBuild

/** Structured Streaming equivalents of the batch event analytics
  * (graft.ops.EventOps). The reference is strictly batch (SURVEY.md
  * §2.3 Streaming: "none"), so this module is pure extension surface:
  * the same queries, expressed over `readStream`, with watermarks
  * bounding state.
  *
  * Design for scale: all aggregations are keyed so state partitions
  * by (window × type) or user_id; the 1-hour watermark bounds state
  * retention regardless of stream length. StreamingSpec drives these
  * with the parquet events table as a file stream and asserts the
  * results equal the batch counterparts — the standard
  * batch/streaming unification check.
  */
object EventStreams {

  /** File-based event stream from a directory of parquet drops.
    * `maxFilesPerTrigger` caps files per micro-batch (tests use 1 to
    * force multi-batch replays; production ingest tunes it to bound
    * batch size).
    *
    * A file-stream source requires an explicit schema; take it from a
    * one-footer batch read of the same drop dir rather than
    * hard-coding — the driver's generator has shipped `ts` as both
    * TIMESTAMP(NANOS) (read as ns BIGINT under nanosAsLong) and
    * timestamp[us]-no-tz (read as TIMESTAMP_NTZ), and a stale
    * hard-coded BIGINT schema over µs data silently reads µs as ns —
    * every event lands in 1970 and the watermark/window results are
    * garbage. Normalized to session-local TimestampType exactly like
    * Tables.events (session timezone is pinned UTC everywhere). */
  def readEvents(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val batchSchema = spark.read.parquet(dir).schema
    val reader = spark.readStream.schema(batchSchema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val raw = reader.parquet(dir)
    batchSchema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(
          org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }

  /** Streaming mirror of EventOps.hourly: tumbling 1-hour windows
    * with a 1-hour watermark. */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(count("*").as("n"), dsum(col("value")).as("total_value"))
      .select(col("win.start").as("hr"), col("event_type"), col("n"), col("total_value"))

  /** Sliding 1-hour windows advancing every 15 minutes — the
    * overlapping-window mode ([[hourlyAgg]] is tumbling): each event
    * lands in window/slide = 4 concurrent windows, so state is 4× the
    * tumbling footprint and still watermark-bounded; this is the
    * trailing-hour-freshened-every-15-minutes dashboard shape.
    * Window starts are slide-grid epoch-aligned, which is what the
    * oracle replays (each event exploded to its 4 bucket starts). */
  def slidingAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("win"), col("event_type"))
      .agg(count("*").as("n"), dsum(col("value")).as("total_value"))
      .select(col("win.start").as("win_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Session window (30-minute gap) — Spark's native session_window,
    * the streaming analog of EventOps.sessions. */
  def sessionAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes").as("sess"), col("user_id"))
      .agg(count("*").as("n_events"), dsum(col("value")).as("total_value"))
      .select(col("user_id"), col("sess.start").as("start_ts"),
        col("sess.end").as("end_ts"), col("n_events"), col("total_value"))

  /** How long a silent user's running-total state survives past their
    * last event before event-time timeout reaps it. */
  private val StateHorizonMs: Long = 2L * 60 * 60 * 1000

  /** Custom state machine via mapGroupsWithState: running per-user
    * event count + last-seen timestamp — the arbitrary-stateful shape
    * (KeyValueGroupedDataset) the built-in windows can't express.
    *
    * State is BOUNDED: EventTimeTimeout against the stream's watermark
    * reaps any user silent for [[StateHorizonMs]] past their last
    * event (the timed-out group emits its final totals once, then its
    * state is removed) — on an unbounded stream the state store holds
    * only users active inside the horizon, never all users ever seen. */
  def userRunningTotals(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    // the watermarked ts column must survive into the stateful op's
    // input (Spark's streaming checker looks for the watermark tag on
    // the child's OUTPUT — a unix_millis projection strips it)
    val typed = events
      .withWatermark("ts", "1 hour")
      .select(col("user_id").as("uid"), col("ts"),
        unix_millis(col("ts")).as("ms"), col("value"))
      .as[(Long, java.sql.Timestamp, Long, Double)]
    typed.groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[(Long, java.sql.Timestamp, Long, Double)],
         state: GroupState[(Long, Double, Long)]) =>
          if (state.hasTimedOut) {
            // horizon passed with no new events: emit the final totals
            // and drop the state row
            val (n, total, last) = state.get
            state.remove()
            (uid, n, total, last)
          } else {
            val prev = state.getOption.getOrElse((0L, 0.0, 0L))
            val (n, total, last) = rows.foldLeft(prev) { case ((c, t, l), (_, _, ms, v)) =>
              (c + 1, t + v, math.max(l, ms))
            }
            state.update((n, total, last))
            state.setTimeoutTimestamp(last + StateHorizonMs)
            (uid, n, total, last)
          }
      }
      .toDF("user_id", "n_events", "total_value", "last_ms")
  }

  /** Session gap shared by [[sessionizeFlat]] and its oracle. */
  private val SessionGapUs = 30L * 60 * 1000 * 1000

  /** Completed-session emission via flatMapGroupsWithState — the
    * 0..n-outputs-per-group stateful shape ([[userRunningTotals]] is
    * the exactly-1 mapGroups face; this is the other half of the
    * KeyValueGroupedDataset custom-state surface): per user, an open
    * session accumulates in state; an arriving event more than 30
    * minutes past the last CLOSES it — the completed session emits in
    * that batch (possibly several per user per batch, possibly none),
    * and a fresh session opens. Each user's final session never gains
    * a successor and intentionally never emits: the declared result
    * is exactly "every session proven complete by a later event",
    * which is watermark-edge-free (no ms-truncation boundary for the
    * oracle to chase; production would add EventTimeTimeout to flush
    * finals, the mechanic [[userRunningTotals]] already demonstrates
    * under the gate). Value totals accumulate as exact micro-units
    * (round(value·10⁶) longs), so state merge order is immaterial.
    * Per-batch per-user rows are sorted by (event time, id) before
    * folding — batch-volume-bounded, never corpus-bounded. */
  def sessionizeFlat(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    val typed = events
      .withWatermark("ts", "1 hour")
      .select(col("user_id").as("uid"), col("ts"),
        unix_micros(col("ts")).as("us"), col("event_id"),
        round(col("value") * lit(1000000)).cast("long").as("vm"))
      .as[(Long, java.sql.Timestamp, Long, Long, Long)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[(Long, java.sql.Timestamp, Long, Long, Long)],
         state: GroupState[(Long, Long, Long, Long)]) =>
          // state = (startUs, lastUs, nEvents, valueMicro) of the open session
          val sorted = rows.toSeq.sortBy(r => (r._3, r._4))
          var cur = state.getOption
          val closed = Seq.newBuilder[(Long, Long, Long, Long, Long)]
          sorted.foreach { r =>
            cur = cur match {
              case Some((s, l, n, v)) if r._3 - l > SessionGapUs =>
                closed += ((uid, s, l, n, v))
                Some((r._3, r._3, 1L, r._5))
              case Some((s, _, n, v)) => Some((s, r._3, n + 1, v + r._5))
              case None => Some((r._3, r._3, 1L, r._5))
            }
          }
          cur.foreach(state.update)
          closed.result().iterator
      }
      .toDF("user_id", "start_us", "end_us", "n_events", "value_micro")
  }

  /** [[sessionizeFlat]] under the hash gate: events staged as two
    * time-ordered halves ([[stageSlices]]) replayed as separate
    * micro-batches, so sessions spanning the midpoint prove state
    * carries across batches. Append mode, parquet sink. */
  def streamSessionizeFlat(spark: SparkSession, d: String): DataFrame = {
    val ss = streamingSession(spark)
    val drop = stageSlices(ss, d, "graft-stream-flatmap-", 2)
    try runToParquetSink(spark,
      sessionizeFlat(ss, readEvents(ss, drop, maxFilesPerTrigger = Some(1))),
      "stream_flatmap_sessions", OutputMode.Append())
      .orderBy("user_id", "start_us")
    finally deleteRecursively(drop)
  }

  /** Batch twin: gap-split sessions per user, minus each user's last
    * (the one the stream correctly still holds open). */
  def streamSessionizeFlatSql: String =
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(ts) AS us, event_id,
       |    CAST(round(value * 1000000) AS BIGINT) AS vm
       |  FROM events),
       |o AS (
       |  SELECT user_id, us, event_id, vm,
       |    lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev
       |  FROM e),
       |seg AS (
       |  SELECT user_id, us, vm,
       |    SUM(CASE WHEN prev IS NULL OR us - prev > $SessionGapUs
       |             THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY user_id ORDER BY us, event_id) AS sid
       |  FROM o),
       |s AS (
       |  SELECT user_id, sid, MIN(us) AS start_us, MAX(us) AS end_us,
       |    COUNT(*) AS n_events, SUM(vm) AS value_micro
       |  FROM seg GROUP BY user_id, sid),
       |m AS (SELECT user_id, MAX(sid) AS last_sid FROM s GROUP BY user_id)
       |SELECT s.user_id, CAST(start_us AS BIGINT) AS start_us,
       |  CAST(end_us AS BIGINT) AS end_us,
       |  CAST(n_events AS BIGINT) AS n_events,
       |  CAST(value_micro AS BIGINT) AS value_micro
       |FROM s JOIN m ON s.user_id = m.user_id
       |WHERE s.sid <> m.last_sid
       |ORDER BY s.user_id, start_us""".stripMargin

  /** Streaming exact dedup: watermark-bounded dropDuplicates on
    * (event id, event time) — the streaming face of
    * DedupOps.dedupExact. The event-time column MUST be part of the
    * dedup key: Spark's streaming dedup only builds its state-eviction
    * predicate when the watermarked column is among the keys (that is
    * the entire reason dropDuplicatesWithinWatermark exists), so
    * deduping on event_id alone would retain every id ever seen —
    * unbounded state on an unbounded stream. With ts in the key,
    * state holds one entry per event inside the watermark horizon;
    * late duplicates beyond it are dropped as late data (the standard
    * at-least-once → effectively-once pattern for training-data
    * ingest). A true duplicate (a re-crawl/re-delivery) carries the
    * same event time, so the composite key dedupes it identically. */
  def dedupedEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_id", "ts")

  /** Stream-stream self-join: click→purchase attribution — each
    * purchase matched to the same user's clicks in the preceding hour.
    * The event-time range condition plus watermarks on BOTH sides lets
    * Spark expire join state (a click older than watermark + 1 hour
    * can never match a future purchase), so state stays bounded on an
    * unbounded stream — the property that makes stream-stream joins
    * viable at all at 100 TB/day. Inner join ⇒ Append output mode. */
  def attribution(events: DataFrame): DataFrame = {
    val clicks = events.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"), col("value").as("amount"))
      .withWatermark("p_ts", "1 hour")
    clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("c_user").as("user_id"), col("click_id"), col("purchase_id"),
        col("p_ts"), col("amount"))
  }

  /** The most shuffle/state partitions a declared streaming run uses.
    * Stateful operators pay a fixed per-partition per-batch state-store
    * cost (snapshot, maintenance, the no-data cleanup batch — a
    * stream-stream join keeps FOUR stores per partition), so the
    * harness's 100k-row replays run with 4 state partitions instead of
    * inheriting the batch session's 32: r12 profiling (per-batch
    * durationMs) put the fixed per-partition cost at the top
    * of both creeped headlines — 8→4 cut stream_attribution's no-data
    * batch and addBatch commit time ~20% with identical results (state
    * is hash-keyed; results are partition-count-independent, and the
    * decimal-sum aggregates keep them bit-stable); 2 measured no
    * better than 4. At production scale this is the knob you SIZE UP
    * with input rate — state partition count is fixed at first start
    * by spark.sql.shuffle.partitions.
    *
    * It is a cap, not a width: a session whose own shuffle width is
    * narrower runs that many state partitions ([[streamingSession]]).
    * More partitions than task slots only queues the per-partition
    * cost; in a `local[1]` session stream_dedup's `durationMs` split
    * put `addBatch` first (284–317 ms for batch 0, 190–232 ms for
    * batch 1, against 40–44 ms of `queryPlanning` and 13–15 ms each
    * for `walCommit`, `commitOffsets` and `latestOffset`), and inside
    * it the state stage took 190 ms for 4 tasks against 75 ms for 1
    * (4-core VM). */
  private val StreamShufflePartitions = 4

  /** A per-run session clone for a declared streaming query: streaming
    * conf (state partition count) must not leak into the shared batch
    * session, and a streaming query snapshots its session's conf at
    * START — so each run gets its own `newSession` (shared
    * SparkContext/catalog-state, independent conf; the builder's
    * initial options — timezone, nanosAsLong — are re-applied). The
    * clone runs min([[StreamShufflePartitions]], the caller's shuffle
    * width) state partitions; the width is read from `spark` itself,
    * since a clone does not inherit its runtime conf. */
  private[streaming] def streamingSession(spark: SparkSession): SparkSession = {
    val width = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions",
      math.min(StreamShufflePartitions, width).toString)
    s
  }

  /** Stage the dir's events table as a one-drop landing directory:
    * the sf tables are single parquet FILES and a file-stream source
    * needs a directory (in production the ingest dir IS the landing
    * directory). The staging is input only: callers delete it once the
    * stream has drained, while the run's result lives on in its own
    * sink (a memory table on the run's clone session, or a result dir
    * owned in [[SharedBuild]], see [[runToParquetSink]]), so repeated
    * calls (bench reps) do not accumulate staging copies. */
  private def stageEventsDrop(d: String, prefix: String,
      copies: Int = 1): String = {
    val drop = Files.createTempDirectory(prefix)
    (1 to copies).foreach { i =>
      Files.copy(java.nio.file.Paths.get(d, "events.parquet"),
        drop.resolve(s"drop$i.parquet"))
    }
    drop.toString
  }

  /** Stage the dir's events table as `k` time-ordered single-file
    * drops (equal event-time slices, production ingest order, no
    * duplication) with distinct mod-times, so a `maxFilesPerTrigger = 1`
    * replay runs them as `k` micro-batches in time order: state must
    * carry across batches, and no event is late against the watermark
    * of the batches before it. Input only; callers delete it. */
  private def stageSlices(ss: SparkSession, d: String, prefix: String,
      k: Int): String = {
    val ev = graft.Tables.events(ss, d)
    val ms = unix_millis(col("ts"))
    val bounds = ev.agg(min(ms), max(ms)).head()
    val (lo, width) = (bounds.getLong(0), (bounds.getLong(1) - bounds.getLong(0)) / k + 1)
    val drop = Files.createTempDirectory(prefix).toString
    (0 until k).foreach { i =>
      ev.filter(ms >= lo + i * width && ms < lo + (i + 1) * width)
        .coalesce(1).write.mode("append").parquet(drop)
      Thread.sleep(5) // distinct mod-times: deterministic batch order
    }
    drop
  }

  /** The watermark-windowed [[hourlyAgg]] pipeline DRIVEN to
    * completion over the dir's events table as a file stream — the
    * declared-query face of the streaming surface, putting Structured
    * Streaming itself under the driver's DuckDB hash gate (oracle =
    * the batch twin `EventOps.hourlySql`; batch≡stream is the
    * property being checked). AvailableNow + Complete mode: every
    * window emits once the static input drains, exactly the batch
    * result. */
  def streamHourly(spark: SparkSession, d: String): DataFrame = {
    val staged = stageEventsDrop(d, "graft-stream-hourly-")
    val ss = streamingSession(spark)
    try runToMemory(ss, hourlyAgg(readEvents(ss, staged)), "graft_stream_hourly")
      .orderBy("hr", "event_type")
    finally deleteRecursively(staged)
  }

  def streamSliding(spark: SparkSession, d: String): DataFrame = {
    val staged = stageEventsDrop(d, "graft-stream-sliding-")
    val ss = streamingSession(spark)
    try runToMemory(ss, slidingAgg(readEvents(ss, staged)), "graft_stream_sliding")
      .orderBy("win_start", "event_type")
    finally deleteRecursively(staged)
  }

  /** DuckDB replay: every event exploded to its 4 slide-grid window
    * starts (bucket15(ts) − k·15min, k∈0..3 — each satisfies
    * start ≤ ts < start+1h by construction), then the same aggregate. */
  def streamSlidingSql: String =
    """WITH expl AS (
      |  SELECT time_bucket(INTERVAL 15 MINUTE, ts) - to_minutes(15 * k.k) AS win_start,
      |    event_type, value
      |  FROM events CROSS JOIN (SELECT unnest(range(4)) AS k) k)
      |SELECT win_start, event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
      |FROM expl GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin

  /** Stream–static enrichment join under the hash gate: the event
    * stream joined against a STATIC per-user dimension (signup
    * cohort = each user's first event day, derived batch-side from
    * the same table — a snapshot dimension, exactly how a profile
    * table joins an ingest stream), then aggregated per (cohort,
    * event type). The static side is a normal batch DataFrame inside
    * a streaming query — Spark broadcasts/rescans it per micro-batch;
    * no state is kept for it, which is what makes stream-static the
    * cheap join (vs the stateful stream-stream attribution join).
    * Result cardinality is days × types (bounded) → Complete-mode
    * memory sink. */
  def streamEnrich(spark: SparkSession, d: String): DataFrame = {
    val staged = stageEventsDrop(d, "graft-stream-enrich-")
    val ss = streamingSession(spark)
    val cohort = graft.Tables.events(ss, d)
      .groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("cohort_day"))
    try runToMemory(ss,
      readEvents(ss, staged)
        .join(cohort, Seq("user_id"))
        .groupBy(col("cohort_day"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value")),
      "graft_stream_enrich")
      .orderBy("cohort_day", "event_type")
    finally deleteRecursively(staged)
  }

  def streamEnrichSql: String =
    """WITH cohort AS (
      |  SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
      |  FROM events GROUP BY user_id)
      |SELECT cohort_day, event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
      |FROM events JOIN cohort USING (user_id)
      |GROUP BY cohort_day, event_type
      |ORDER BY cohort_day, event_type""".stripMargin

  /** [[sessionAgg]] driven to completion — `session_window` itself
    * under the hash gate. The oracle replays session_window's
    * µs-precision semantics directly (new session when the gap to the
    * previous event is ≥ 30 min; window end = last event + 30 min),
    * which differs from the batch EventOps.sessions ms-precision `>`
    * rule only on exact-30:00.000 ties — none exist in the
    * ns-granular driver data (checked at every SF).
    *
    * Scale-safe sink: the (user × session) result cardinality grows
    * linearly with the data, so the result lands in a PARQUET sink via
    * [[runToParquetSink]] (executors write it distributed; the driver
    * never materializes a row) — unlike the naturally-bounded
    * [[streamHourly]], a Complete-mode memory sink here would
    * accumulate every session in driver memory (~10M rows at 100×
    * sf0.1), the classic driver-OOM scale ceiling. */
  def streamSessions(spark: SparkSession, d: String): DataFrame = {
    val staged = stageEventsDrop(d, "graft-stream-sessions-")
    val ss = streamingSession(spark)
    try runToParquetSink(spark, sessionAgg(readEvents(ss, staged)),
      "stream_sessions")
      .orderBy("user_id", "start_ts")
    finally deleteRecursively(staged)
  }

  /** The watermark-windowed hourly pipeline driven by a REAL clock
    * trigger — `Trigger.ProcessingTime(25 ms)` — instead of
    * AvailableNow, so the declared streaming surface includes a query
    * that genuinely TICKS: the events table is staged as four
    * time-ordered quarter drops replayed one file per micro-batch,
    * the watermark advances between clock-fired batches, and the
    * Complete-mode result is exactly the batch answer (oracle =
    * `EventOps.hourlySql`, the same DuckDB twin `stream_hourly`
    * checks — what differs here is the TRIGGER, which is the point).
    * Bounded-input shutdown is `processAllAvailable()` + `stop()` —
    * the drain-and-stop deploy pattern for a clock-triggered stream;
    * on an unbounded production source the same query simply never
    * stops. The data here stays a clocked FILE stream so the replayed
    * rows are the events table byte-for-byte; [[streamRateHourly]] is
    * the genuinely-unbounded-source face (every field derived from
    * the rate source's deterministic value sequence). */
  def streamClockHourly(spark: SparkSession, d: String): DataFrame = {
    val ss = streamingSession(spark)
    val drop = stageSlices(ss, d, "graft-stream-clock-", 4)
    try {
      val q: StreamingQuery =
        hourlyAgg(readEvents(ss, drop, maxFilesPerTrigger = Some(1)))
          .writeStream
          .outputMode(OutputMode.Complete())
          .format("memory")
          .queryName("graft_stream_clock")
          .trigger(Trigger.ProcessingTime("25 milliseconds"))
          .start()
      q.processAllAvailable() // drain: blocks until all staged input is processed
      q.stop()
      q.awaitTermination()
      StreamMeter.addQuery(q)
      ss.table("graft_stream_clock").orderBy("hr", "event_type")
    } finally deleteRecursively(drop)
  }

  /** How many rate-source rows the declared [[streamRateHourly]] run
    * keeps: values 0..N−1, two hours of one-per-second synthetic
    * events. Everything downstream is a pure function of the value
    * sequence, so the result is deterministic however the wall clock
    * slices the micro-batches. */
  private[streaming] val RateRows = 7200L
  private val RateBaseEpoch = 1704067200L // 2024-01-01T00:00:00Z, hour-aligned

  /** The hourly pipeline on a genuinely UNBOUNDED source (r12 verdict
    * #6): Spark's `rate` source ticks rows forever at a configured
    * rate; a declared query must stop, so this run keeps values
    * < [[RateRows]] and drains until the sink holds all of them, then
    * stops the query mid-stream — the bounded-interval deploy pattern
    * for an unbounded source. Determinism is by construction: the
    * rate source's VALUE sequence is exactly 0,1,2,… however the wall
    * clock slices batches, and every event field — event TIME
    * included — derives from value, so watermarks advance with the
    * data, late-vs-ontime classification is replayable, and the
    * DuckDB oracle regenerates the identical input from
    * `range(0, N)`. Rows past N keep streaming until stop() and are
    * filtered before the aggregate — they cannot touch the result.
    * The poll loop reads only the ≤10-row memory-sink table (Complete
    * mode republishes it per batch); nothing data-sized crosses the
    * driver. */
  def streamRateHourly(spark: SparkSession, d: String): DataFrame = {
    val ss = streamingSession(spark)
    val name = "graft_stream_rate"
    val synth = ss.readStream.format("rate")
      .option("rowsPerSecond", "25000")
      .option("numPartitions", "4")
      .load()
      .where(col("value") < RateRows)
      .select(
        timestamp_seconds(lit(RateBaseEpoch) + col("value")).as("ts"),
        concat(lit("t"), (col("value") % 5).cast("string")).as("event_type"),
        ((col("value") % 97).cast("double") / lit(8.0)).as("value"))
    val q: StreamingQuery = hourlyAgg(synth)
      .writeStream
      .outputMode(OutputMode.Complete())
      .format("memory")
      .queryName(name)
      .start()
    try {
      def delivered(): Long =
        ss.table(name).agg(coalesce(sum(col("n")), lit(0L))).head().getLong(0)
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (delivered() < RateRows && System.nanoTime() < deadline)
        Thread.sleep(50)
      val got = delivered()
      require(got == RateRows,
        s"rate stream delivered $got of $RateRows rows within 120 s")
    } finally {
      q.stop()
      q.awaitTermination()
      StreamMeter.addQuery(q)
    }
    ss.table(name).orderBy("hr", "event_type")
  }

  /** DuckDB mirror: regenerate the kept value range and replay the
    * batch-twin hourly aggregate — same synth arithmetic (dyadic /8
    * keeps the metric exact under the decimal sum), same
    * epoch-aligned hour bucketing. */
  def streamRateHourlySql: String =
    s"""WITH v AS (SELECT unnest(range(0, $RateRows)) AS value),
       |e AS (
       |  SELECT make_timestamp(($RateBaseEpoch + value) * 1000000) AS ts,
       |    't' || CAST(value % 5 AS VARCHAR) AS event_type,
       |    CAST(value % 97 AS DOUBLE) / 8.0 AS val
       |  FROM v)
       |SELECT date_trunc('hour', ts) AS hr, event_type, COUNT(*) AS n,
       |  CAST(SUM(CAST(val AS DECIMAL(18,6))) AS DOUBLE) AS total_value
       |FROM e GROUP BY 1, 2 ORDER BY hr, event_type""".stripMargin

  /** Streaming exact dedup under the hash gate: the events table
    * staged as TWO identical drops, replayed as SEPARATE micro-batches
    * (`maxFilesPerTrigger = 1`), so the watermark-bounded
    * dropDuplicates state must carry across batches — batch 2's rows
    * are either deduped against retained state or dropped as late
    * (older than the post-batch-1 watermark), and the declared result
    * is exactly the distinct events table. Append mode, parquet sink:
    * rows emit on first sight, nothing driver-side. */
  def streamDedup(spark: SparkSession, d: String): DataFrame = {
    val staged = stageEventsDrop(d, "graft-stream-dedup-", copies = 2)
    val ss = streamingSession(spark)
    try runToParquetSink(spark,
      dedupedEvents(readEvents(ss, staged, maxFilesPerTrigger = Some(1)))
        .select("event_id", "user_id", "event_type", "value"),
      "stream_dedup", OutputMode.Append())
      .orderBy("event_id")
    finally deleteRecursively(staged)
  }

  // event_ids are unique in the driver data (checked at every SF), so
  // the deduped double-replay is exactly the events table
  def streamDedupSql: String =
    """SELECT event_id, user_id, event_type, value
      |FROM events ORDER BY event_id""".stripMargin

  /** The [[userRunningTotals]] mapGroupsWithState machine under the
    * hash gate: events staged as TWO time-ordered halves
    * ([[stageSlices]]) and replayed as separate micro-batches, so
    * per-user state must carry across batches for the final totals to
    * be right. Update mode appends every emission (live updates AND
    * timeout finals) to the parquet sink; the declared result reduces to each user's
    * FINAL state row via max(n_events) — the counter is monotone, so
    * the max IS the final. Only the order-independent state fields
    * (count, last-seen ms) are declared; the running double sum is
    * fold-order-dependent and stays out of the hash gate (the spec
    * checks it separately). The streamed operator itself never
    * touches the driver. */
  def streamUserTotals(spark: SparkSession, d: String): DataFrame = {
    val ss = streamingSession(spark)
    val drop = stageSlices(ss, d, "graft-stream-totals-", 2)
    try {
      val totals = userRunningTotals(ss,
        readEvents(ss, drop, maxFilesPerTrigger = Some(1)))
      val raw = runToParquetSink(spark, totals.toDF(),
        "stream_user_totals", OutputMode.Update())
      raw.groupBy(col("user_id"))
        .agg(max(struct(col("n_events"), col("last_ms"))).as("p"))
        .select(col("user_id"), col("p.n_events").as("n_events"),
          col("p.last_ms").as("last_ms"))
        .orderBy("user_id")
    } finally deleteRecursively(drop)
  }

  def streamUserTotalsSql: String =
    """SELECT user_id, COUNT(*) AS n_events, MAX(epoch_ms(ts)) AS last_ms
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** CDC apply / streaming SCD-1: each event is an UPSERT to its
    * user's row (latest-wins by (event time, event_id)), maintained
    * as mapGroupsWithState state — the materialized-view-maintenance
    * shape whose batch twin is `merge_upsert`. State per key is ONE
    * row (last-write tuple + update counter), the minimal CDC state;
    * last-wins folds compare (µs, id) pairs so replay order within a
    * batch is immaterial. Values carry as exact micro-units (the
    * [[sessionizeFlat]] long convention) — no float accumulation. */
  def cdcApply(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    val typed = events
      .withWatermark("ts", "1 hour")
      .select(col("user_id").as("uid"), col("ts"),
        unix_micros(col("ts")).as("us"), col("event_id"),
        col("event_type"), round(col("value") * lit(1000000)).cast("long").as("vm"))
      .as[(Long, java.sql.Timestamp, Long, Long, String, Long)]
    typed.groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[(Long, java.sql.Timestamp, Long, Long, String, Long)],
         state: GroupState[(Long, Long, String, Long, Long)]) =>
          // state = (lastUs, lastId, lastType, lastVm, nUpdates)
          val prev = state.getOption.getOrElse((Long.MinValue, Long.MinValue, "", 0L, 0L))
          val next = rows.foldLeft(prev) {
            case ((lus, lid, lty, lvm, n), (_, _, us, id, ty, vm)) =>
              if (us > lus || (us == lus && id > lid)) (us, id, ty, vm, n + 1)
              else (lus, lid, lty, lvm, n + 1)
          }
          state.update(next)
          (uid, next._5, next._3, next._4)
      }
      .toDF("user_id", "n_updates", "last_type", "last_vm")
  }

  /** [[cdcApply]] under the hash gate: the two-half time-ordered
    * [[stageSlices]] staging (state must carry across batches),
    * Update-mode parquet sink, final state row selected by the
    * monotone update counter. */
  def streamCdc(spark: SparkSession, d: String): DataFrame = {
    val ss = streamingSession(spark)
    val drop = stageSlices(ss, d, "graft-stream-cdc-", 2)
    try {
      val applied = cdcApply(ss,
        readEvents(ss, drop, maxFilesPerTrigger = Some(1)))
      val raw = runToParquetSink(spark, applied.toDF(),
        "stream_cdc", OutputMode.Update())
      raw.groupBy(col("user_id"))
        .agg(max(struct(col("n_updates"), col("last_type"), col("last_vm"))).as("p"))
        .select(col("user_id"), col("p.n_updates").as("n_updates"),
          col("p.last_type").as("last_type"), col("p.last_vm").as("last_vm"))
        .orderBy("user_id")
    } finally deleteRecursively(drop)
  }

  def streamCdcSql: String =
    """WITH rk AS (
      |  SELECT user_id, event_type, value,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY ts DESC, event_id DESC) AS rk,
      |    COUNT(*) OVER (PARTITION BY user_id) AS n
      |  FROM events)
      |SELECT user_id, CAST(n AS BIGINT) AS n_updates, event_type AS last_type,
      |  CAST(round(value * 1000000) AS BIGINT) AS last_vm
      |FROM rk WHERE rk = 1 ORDER BY user_id""".stripMargin

  /** The stream-stream [[attribution]] join under the hash gate:
    * click→purchase matching with event-time range bounds and
    * watermarks on both sides (the state-expiry contract that keeps a
    * stream-stream join viable on unbounded input). Inner join ⇒
    * Append mode; parquet sink. */
  def streamAttribution(spark: SparkSession, d: String): DataFrame = {
    val staged = stageEventsDrop(d, "graft-stream-attr-")
    val ss = streamingSession(spark)
    // An INNER stream-stream join emits every match eagerly in the
    // data batch that completes it; the trailing no-data micro-batch
    // exists only to evict expired join state — housekeeping a
    // run-to-completion AvailableNow replay never benefits from, yet
    // it costs a full state-store load/commit cycle across all
    // partitions (r12 profiling: ~0.7 s of a 2.7 s query). Skip
    // it HERE ONLY: outer joins and timeout-bearing stateful ops emit
    // RESULTS from no-data batches and must keep them (streamUserTotals'
    // timeout finals), and a continuous production stream keeps them
    // for state-size bounding.
    ss.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try runToParquetSink(spark, attribution(readEvents(ss, staged)),
      "stream_attribution", OutputMode.Append())
      .orderBy("user_id", "click_id", "purchase_id")
    finally deleteRecursively(staged)
  }

  /** LEFT OUTER variant of [[attribution]] — the join shape that
    * genuinely NEEDS no-data micro-batches (the exact contrast to
    * [[streamAttribution]]'s inner-join skip): an unmatched click's
    * null-padded row can only emit once the WATERMARK proves no
    * future purchase can match it, and that proof often arrives in a
    * batch with no data. */
  def attributionOuter(events: DataFrame): DataFrame = {
    val clicks = events.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"), col("value").as("amount"))
      .withWatermark("p_ts", "1 hour")
    clicks.join(purchases,
        col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"), "left_outer")
      .select(col("c_user").as("user_id"), col("click_id"),
        unix_micros(col("c_ts")).as("c_us"), col("purchase_id"), col("amount"))
  }

  /** Declared query `stream_attr_outer`: the outer join run to
    * completion, with the END-OF-STREAM EDGE made deterministic. An
    * unmatched click emits its null row only when the GLOBAL
    * watermark passes its match window, and the global watermark is
    * the MIN over both inputs of (that side's max event time − its
    * delay) — empirically pinned here: with a 2h-from-global-max
    * cutoff the gate came back exactly 2 rows short, both clicks
    * younger than min(max_click, max_purchase) − 2h. Clicks inside
    * that final window sit in state forever on a finite replay (an
    * artifact of stopping a conceptually endless stream), and the
    * precise boundary depends on strict-vs-≥ comparison and the
    * watermark's millisecond truncation; the declared face therefore
    * keeps matched rows unconditionally and null rows only for
    * clicks a 1-second guard OLDER than the eviction cutoff, with
    * the identical expression in the DuckDB twin — any
    * boundary-window click is excluded from both sides no matter
    * which way the engine decided it. */
  def streamAttrOuter(spark: SparkSession, d: String): DataFrame = {
    val staged = stageEventsDrop(d, "graft-stream-attr-outer-")
    val ss = streamingSession(spark)
    // no-data micro-batches stay ON: the outer join's null rows emit
    // from exactly those batches (see streamAttribution's skip note)
    try {
      val raw = runToParquetSink(spark, attributionOuter(readEvents(ss, staged)),
        "stream_attr_outer", OutputMode.Append())
      val us = unix_micros(col("ts"))
      val bounds = graft.Tables.events(ss, d).agg(least(
        max(when(col("event_type") === "click", us)),
        max(when(col("event_type") === "purchase", us))).as("wm_src"))
      raw.crossJoin(broadcast(bounds))
        .where(col("purchase_id").isNotNull ||
          col("c_us") < col("wm_src") - lit(7200000000L + 1000000L))
        .select(col("user_id"), col("click_id"), col("c_us"),
          col("purchase_id"), col("amount"))
        .orderBy("user_id", "click_id", "purchase_id")
    } finally deleteRecursively(staged)
  }

  def streamAttrOuterSql: String =
    """WITH b AS (
      |  SELECT least(
      |    MAX(CASE WHEN event_type = 'click' THEN epoch_us(ts) END),
      |    MAX(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)) AS wm_src
      |  FROM events),
      |c AS (
      |  SELECT user_id, event_id AS click_id, epoch_us(ts) AS c_us
      |  FROM events WHERE event_type = 'click'),
      |p AS (
      |  SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS p_us,
      |    value AS amount
      |  FROM events WHERE event_type = 'purchase'),
      |j AS (
      |  SELECT c.user_id, c.click_id, c.c_us, p.purchase_id, p.amount
      |  FROM c LEFT JOIN p ON p.user_id = c.user_id
      |    AND p.p_us >= c.c_us AND p.p_us <= c.c_us + 3600000000)
      |SELECT user_id, click_id, c_us, purchase_id, amount
      |FROM j, b
      |WHERE purchase_id IS NOT NULL OR c_us < b.wm_src - 7201000000
      |ORDER BY user_id, click_id, purchase_id""".stripMargin

  // epoch_us arithmetic on both sides mirrors Spark's µs timestamp
  // semantics exactly (the streamSessionsSql precision discipline);
  // 3600000000 µs = the 1-hour attribution window
  def streamAttributionSql: String =
    """WITH c AS (
      |  SELECT user_id, event_id AS click_id, epoch_us(ts) AS c_us
      |  FROM events WHERE event_type = 'click'),
      |p AS (
      |  SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS p_us,
      |    value AS amount
      |  FROM events WHERE event_type = 'purchase')
      |SELECT c.user_id, c.click_id, p.purchase_id,
      |  make_timestamp(p.p_us) AS p_ts, p.amount
      |FROM c JOIN p ON p.user_id = c.user_id
      |  AND p.p_us >= c.c_us AND p.p_us <= c.c_us + 3600000000
      |ORDER BY c.user_id, click_id, purchase_id""".stripMargin

  // epoch_us/make_timestamp keep the full µs precision Spark's
  // session_window computes with (epoch_ms would truncate: ~10% of the
  // driver's event timestamps carry sub-ms components); COUNT(*) is
  // BIGINT in DuckDB (no HUGEINT cast needed), the value sum uses the
  // dsum decimal mirror.
  def streamSessionsSql: String =
    """WITH evs AS (
      |  SELECT user_id, value, epoch_us(ts) AS ts_us,
      |    LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS prev_us
      |  FROM events),
      |flagged AS (
      |  SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us >= 30*60*1000000
      |                 THEN 1 ELSE 0 END AS new_sess
      |  FROM evs),
      |sessions AS (
      |  SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS seq
      |  FROM flagged)
      |SELECT user_id, make_timestamp(MIN(ts_us)) AS start_ts,
      |  make_timestamp(MAX(ts_us) + 30*60*1000000) AS end_ts,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
      |FROM sessions GROUP BY user_id, seq
      |ORDER BY user_id, start_ts""".stripMargin

  /** Run a streaming DataFrame to completion against a static input
    * (file stream) and return the result via a memory sink. Memory
    * sinks materialize every result row IN DRIVER MEMORY — only use
    * this where the result cardinality is structurally bounded
    * (hours × event types, a test's crafted corpus); unbounded-result
    * queries go through [[runToParquetSink]]. */
  def runToMemory(spark: SparkSession, df: DataFrame, name: String,
      mode: OutputMode = OutputMode.Complete()): DataFrame = {
    drain(df.writeStream.outputMode(mode).format("memory").queryName(name))
    spark.table(name)
  }

  /** Run a stream over static input to completion (AvailableNow) and
    * credit its trigger time to [[StreamMeter]]. */
  private def drain(writer: DataStreamWriter[Row]): Unit = {
    val q = writer.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    StreamMeter.addQuery(q)
  }

  /** A fresh temp dir for a declared run's result files, owned in
    * [[SharedBuild]] by `owner`, the session the query was called
    * with: it stays readable until [[SharedBuild.releaseAll]] or JVM
    * exit, however often the same query runs again. */
  private def resultDir(owner: SparkSession, prefix: String): String = {
    val dir = Files.createTempDirectory(prefix).toString
    SharedBuild.staged(owner, "stream-result", dir)(dir)(deleteRecursively)
  }

  /** Declared query `stream_upsert`: per-micro-batch MERGE of a
    * running serving table — the foreachBatch read-modify-write loop
    * every Delta/Hudi-style pipeline runs to keep a downstream store
    * current, expressed against plain versioned parquet (the merge,
    * not the table format, is the operator). Each batch computes its
    * per-type partial aggregate, unions it with store version v, and
    * writes version v+1 (ping-pong versions — parquet can't overwrite
    * a table mid-read); the running totals live IN THE STORE, not in
    * Spark state, so this is the streaming shape with zero state-store
    * footprint and restart-durability for free. The merge is
    * associative + commutative (count-sum, DECIMAL value-sum, ts-max),
    * making the result independent of batch boundaries — and the run
    * really is multi-batch (4 [[stageSlices]] drops,
    * maxFilesPerTrigger=1; asserted, since a silent single-batch run
    * would stop exercising the merge). Everything stays distributed:
    * no result row crosses the driver. The store is a [[resultDir]]. */
  def streamUpsert(spark: SparkSession, d: String): DataFrame = {
    val ss = streamingSession(spark)
    val drop = stageSlices(ss, d, "graft-stream-upsert-", 4)
    val storeRoot = resultDir(spark, "graft-upsert-store-")
    def storeDir(v: Int) = s"$storeRoot/v$v"
    val version = new AtomicInteger(0)
    try drain(readEvents(ss, drop, maxFilesPerTrigger = Some(1))
      .writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val delta = batch.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast("decimal(18,6)")).as("sum_value"),
            max(col("ts")).as("last_ts"))
        val v = version.get()
        val merged =
          if (v == 0) delta
          else ss.read.parquet(storeDir(v)).unionByName(delta)
            .groupBy(col("event_type"))
            .agg(sum(col("n_events")).as("n_events"),
              sum(col("sum_value")).as("sum_value"),
              max(col("last_ts")).as("last_ts"))
        merged.write.mode("overwrite").parquet(storeDir(v + 1))
        val prev = version.getAndIncrement()
        if (prev >= 1) deleteRecursively(storeDir(prev)) // superseded version
        ()
      })
    finally deleteRecursively(drop)
    require(version.get() >= 2,
      s"upsert loop expected multiple micro-batches, saw ${version.get()}")
    spark.read.parquet(storeDir(version.get()))
      .select(col("event_type"), col("n_events"),
        col("sum_value").cast("double").as("total_value"), col("last_ts"))
      .orderBy("event_type")
  }

  /** DuckDB replay: the same per-type aggregate over the whole table —
    * batch-boundary independence of the merge is exactly what makes
    * this the oracle. */
  def streamUpsertSql: String =
    """SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
      |  MAX(ts) AS last_ts
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Declared query `stream_txlog_sink`: exactly-once streaming
    * ingest into a [[graft.sources.TxLogSource]]-style transaction-log
    * table — each micro-batch writes its rows as parquet files and
    * publishes ONE commit whose version IS the batch id, through the
    * put-if-absent rename ([[graft.sources.TxLogSource.commitIfAbsent]]).
    * That version==batchId rule is the entire exactly-once contract of
    * Delta-style streaming sinks: a replayed batch (driver restart,
    * retry) loses the commit race and its data files become invisible
    * orphans instead of duplicate rows. The run INJECTS that failure —
    * batch 1 stages and attempts to commit TWICE; the second attempt
    * must be rejected — and the declared result is the final
    * snapshot's fingerprint, which the whole-table oracle only matches
    * if no batch was double-counted and none was lost. Multi-batch is
    * asserted (4 [[stageSlices]] drops, maxFilesPerTrigger=1), so the
    * log really accumulates one commit per batch. The table is a
    * [[resultDir]]. */
  def streamTxlogSink(spark: SparkSession, d: String): DataFrame = {
    val ss = streamingSession(spark)
    val drop = stageSlices(ss, d, "graft-stream-txsink-", 4)
    val table = resultDir(spark, "graft-txsink-table-")
    val logDir = Files.createDirectory(java.nio.file.Paths.get(table, "_txlog"))
    val nCommits = new AtomicInteger(0)
    val retried = new AtomicBoolean(false)
    try drain(readEvents(ss, drop, maxFilesPerTrigger = Some(1))
      .writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        def attempt(tryNo: Int): Boolean = {
          val tag = s"b$batchId-t$tryNo"
          batch.write.mode("overwrite").parquet(s"$table/data-$tag")
          val files = new java.io.File(s"$table/data-$tag").listFiles()
            .filter(f => f.getName.startsWith("part-")
              && f.getName.endsWith(".parquet"))
            .map(f => s"data-$tag/${f.getName}").sorted.toSeq
          graft.sources.TxLogSource.commitIfAbsent(logDir, batchId,
            files.map(p => s"""{"add":{"path":"$p"}}"""))
        }
        require(attempt(0), s"batch $batchId: first commit attempt must win")
        if (batchId == 1L) { // injected replay of an already-committed batch
          require(!attempt(1),
            "a replayed batch's duplicate commit must be rejected")
          retried.set(true)
        }
        nCommits.incrementAndGet()
        ()
      })
    finally deleteRecursively(drop)
    require(nCommits.get() >= 2,
      s"txlog sink expected multiple micro-batches, saw ${nCommits.get()}")
    require(retried.get(), "the injected batch-1 replay never ran")
    graft.sources.TxLogSource.readSnapshot(spark, table, nCommits.get() - 1L)
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("event_id")).as("n_distinct"),
        dsum(col("value")).as("total_value"),
        max(col("ts")).as("last_ts"))
  }

  /** Oracle: the whole table, once — a double-committed replay or a
    * lost batch breaks count, distinct count, and sum together. */
  def streamTxlogSinkSql: String =
    """SELECT COUNT(*) AS n_events,
      |  CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
      |  MAX(ts) AS last_ts
      |FROM events""".stripMargin

  /** Run a streaming DataFrame to completion and land each batch's
    * (Complete-mode) result in a parquet sink via foreachBatch — the
    * executors write the result DISTRIBUTED and the final batch's
    * overwrite wins, so no result row ever crosses the driver; the
    * returned DataFrame reads the sink back lazily. This is the
    * scale path for unbounded-cardinality streaming results: state
    * lives partitioned in the executors' state stores, results live
    * in the sink's storage, and driver memory holds neither.
    *
    * The sink is a [[resultDir]] owned by `spark`, the session the
    * declared query was called with: it outlives later runs of the
    * same query and goes at [[SharedBuild.releaseAll]] or JVM exit.
    * The read-back runs on `df`'s own session (a declared run's
    * per-run clone), so its plans keep that session's conf. */
  def runToParquetSink(spark: SparkSession, df: DataFrame, tag: String,
      mode: OutputMode = OutputMode.Complete()): DataFrame = {
    val sink = resultDir(spark, s"graft-sink-$tag-")
    // Complete mode hands every batch the FULL result → the last
    // overwrite wins; Append/Update hand only the batch's delta → each
    // batch appends (an empty no-data batch must not wipe the sink)
    val saveMode =
      if (mode == OutputMode.Complete()) "overwrite" else "append"
    drain(df.writeStream
      .outputMode(mode)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        batch.write.mode(saveMode).parquet(sink)
      })
    // explicit schema: an input that yields zero output batches (e.g.
    // an empty source in Append mode) leaves the sink with no parquet
    // files, and schema inference would throw — an empty typed result
    // is the correct answer there
    df.sparkSession.read.schema(df.schema).parquet(sink)
  }
}
