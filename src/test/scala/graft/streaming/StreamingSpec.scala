package graft.streaming

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.ops.{EventOps, SharedBuild}

/** Batch/streaming unification: the streaming pipelines must produce
  * the same results as their batch counterparts when fed the whole
  * events table as one file-stream drop. */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def eventsStreamDir: String = {
    // file streams need a directory of files; stage the single
    // parquet into a temp dir once
    val d = Files.createTempDirectory("graft-evstream")
    val src = Paths.get(s"$sf/events.parquet")
    Files.copy(src, d.resolve("events.parquet"))
    d.toString
  }

  test("streaming hourly agg equals batch hourly agg") {
    val stream = EventStreams.readEvents(spark, eventsStreamDir)
    val got = EventStreams.runToMemory(spark, EventStreams.hourlyAgg(stream), "hourly_out")
      .select("hr", "event_type", "n", "total_value")
    val want = EventOps.hourly(spark, sf)
    assert(got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("clock-triggered (ProcessingTime) hourly equals batch hourly") {
    // the non-AvailableNow face: four quarter drops replayed one file
    // per clock tick, drained via processAllAvailable + stop — the
    // final Complete-mode table must still be exactly the batch answer
    val got = EventStreams.streamClockHourly(spark, sf)
      .select("hr", "event_type", "n", "total_value")
    val want = EventOps.hourly(spark, sf)
    assert(got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("streaming sliding windows equal the batch 4-window explode") {
    import org.apache.spark.sql.functions._
    val stream = EventStreams.readEvents(spark, eventsStreamDir)
    val got = EventStreams.runToMemory(spark, EventStreams.slidingAgg(stream), "slide_out")
      .select("win_start", "event_type", "n", "total_value")
    // batch equivalent: each event belongs to exactly window/slide = 4
    // slide-grid windows (bucket15(ts) − k·15min, k ∈ 0..3)
    val want = graft.Tables.events(spark, sf)
      .select(explode(sequence(lit(0), lit(3))).as("k"), col("ts"),
        col("event_type"), col("value"))
      .select((date_trunc("minute", col("ts")) -
        expr("make_interval(0,0,0,0,0, minute(ts) % 15 + k*15, 0)")).as("win_start"),
        col("event_type"), col("value"))
      .groupBy("win_start", "event_type")
      .agg(count("*").as("n"), graft.ops.OpsUtil.dsum(col("value")).as("total_value"))
    assert(got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("streaming session windows cover the same events as batch sessions") {
    val stream = EventStreams.readEvents(spark, eventsStreamDir)
    val got = EventStreams.runToMemory(spark, EventStreams.sessionAgg(stream), "sess_out")
    // batch sessionization and session_window use the same 30-min gap
    // rule; event totals must agree per user
    val gotPerUser = got.groupBy("user_id")
      .agg(sum("n_events").as("n"), count("*").as("n_sessions"))
    val wantPerUser = EventOps.sessions(spark, sf).groupBy("user_id")
      .agg(sum("n_events").as("n"), count("*").as("n_sessions"))
    assert(gotPerUser.exceptAll(wantPerUser).isEmpty
      && wantPerUser.exceptAll(gotPerUser).isEmpty)
  }

  test("streaming corpus ingest equals batch gate+dedup+agg, duplicates included") {
    import spark.implicits._
    // stage sf0.001 documents as TWO drops: the full table plus a
    // 3-doc re-crawl (exact duplicates) — the dedup must admit each
    // (source, hash) once no matter which micro-batch it arrives in
    val d = Files.createTempDirectory("graft-docstream")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    docs.write.mode("append").parquet(d.toString)
    docs.limit(3).write.mode("append").parquet(d.toString)
    val stream = CorpusStreams.readDocuments(spark, d.toString)
    val got = EventStreams.runToMemory(spark,
      CorpusStreams.ingestStats(stream), "ingest_out")
    // batch mirror: the SAME gate function over the duplicated input
    val batchIn = spark.read.parquet(d.toString)
    val want = CorpusStreams.gated(batchIn)
      .dropDuplicates("source", "h")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_admitted"), sum($"n_tok").as("n_tokens"))
    assert(got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // and the duplicates really were dropped: admitted == distinct gated
    val admitted = got.agg(sum("n_admitted")).collect().head.getLong(0)
    val distinctGated = CorpusStreams.gated(batchIn)
      .select("source", "h").distinct().count()
    assert(admitted === distinctGated)
  }

  test("checkpointed file sink processes increments exactly once") {
    val in = Files.createTempDirectory("graft-incr-in")
    val out = Files.createTempDirectory("graft-incr-out").toString
    val chk = Files.createTempDirectory("graft-incr-chk").toString
    def runOnce(): Unit = {
      val q = EventStreams.readEvents(spark, in.toString)
        .select("event_id", "user_id")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", chk)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val base = graft.Tables.events(spark, sf)
    val n = base.count()
    // drop 1: the events table as-is
    Files.copy(Paths.get(s"$sf/events.parquet"), in.resolve("drop1.parquet"))
    runOnce()
    assert(spark.read.parquet(out).count() === n)
    // drop 2: new batch with distinct ids (offset past the first)
    base.select((org.apache.spark.sql.functions.col("event_id") + 1000000).as("event_id"),
        org.apache.spark.sql.functions.unix_micros(
          org.apache.spark.sql.functions.col("ts")).as("ts"),
        org.apache.spark.sql.functions.col("user_id"),
        org.apache.spark.sql.functions.col("event_type"),
        org.apache.spark.sql.functions.col("value"),
        org.apache.spark.sql.functions.col("props"))
      .withColumn("ts", org.apache.spark.sql.functions.col("ts") * 1000) // ns
      .coalesce(1).write.mode("append").parquet(in.toString)
    runOnce()
    assert(spark.read.parquet(out).count() === 2 * n)
    // run 3: no new files -> checkpoint prevents reprocessing
    runOnce()
    assert(spark.read.parquet(out).count() === 2 * n)
    assert(spark.read.parquet(out).select("event_id").distinct().count() === 2 * n)
  }

  test("stream_upsert: multi-batch foreachBatch merge equals the one-shot batch aggregate") {
    val got = EventStreams.streamUpsert(spark, sf)
    val want = graft.Tables.events(spark, sf)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"),
        max(col("ts")).as("last_ts"))
    assert(got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "merged store diverges from the batch aggregate")
  }

  test("streaming dedup removes duplicate event ids") {
    // stage the events file TWICE — every event arrives duplicated
    val d = Files.createTempDirectory("graft-evdup")
    val src = Paths.get(s"$sf/events.parquet")
    Files.copy(src, d.resolve("drop1.parquet"))
    Files.copy(src, d.resolve("drop2.parquet"))
    val stream = EventStreams.readEvents(spark, d.toString)
    val got = EventStreams.runToMemory(spark,
      EventStreams.dedupedEvents(stream).select("event_id"), "dedup_out",
      org.apache.spark.sql.streaming.OutputMode.Append())
    val want = graft.Tables.events(spark, sf).select("event_id").distinct()
    assert(got.count() === want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("stream-stream attribution join equals the batch join") {
    val stream = EventStreams.readEvents(spark, eventsStreamDir)
    val got = EventStreams.runToMemory(spark, EventStreams.attribution(stream),
      "attr_out", org.apache.spark.sql.streaming.OutputMode.Append())
    val ev = graft.Tables.events(spark, sf)
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"), col("value").as("amount"))
    val want = clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("c_user").as("user_id"), col("click_id"), col("purchase_id"),
        col("p_ts"), col("amount"))
    assert(got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("declared stream_dedup carries dedup state across micro-batches") {
    // the declared query replays the table twice in SEPARATE batches
    // (maxFilesPerTrigger=1): batch 2 must contribute nothing
    val got = EventStreams.streamDedup(spark, sf)
    val want = graft.Tables.events(spark, sf)
      .select("event_id", "user_id", "event_type", "value")
    assert(got.count() === want.count(), "double replay must dedupe to one copy")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("declared stream_attribution equals the batch click->purchase join") {
    val got = EventStreams.streamAttribution(spark, sf).drop("p_ts")
    val ev = graft.Tables.events(spark, sf)
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("c_ts"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"), col("value").as("amount"))
    val want = clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"))
      .select("user_id", "click_id", "purchase_id", "amount")
    assert(got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("stateful declared queries give the same rows at state width 1 as at 4") {
    // a streaming run's state width is min(4, its session's shuffle
    // width), so it follows the machine; the results must not
    def stateWidth(s: SparkSession): String =
      EventStreams.streamingSession(s).conf.get("spark.sql.shuffle.partitions")
    val narrow = spark.newSession()
    narrow.conf.set("spark.sql.shuffle.partitions", "1")
    assert(stateWidth(narrow) === "1")
    assert(stateWidth(spark) === "4")
    val stateful: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "dropDuplicates" -> EventStreams.streamDedup,
      "stream-stream inner join" -> EventStreams.streamAttribution,
      "stream-stream outer join" -> EventStreams.streamAttrOuter,
      "mapGroupsWithState" -> EventStreams.streamUserTotals,
      "flatMapGroupsWithState" -> EventStreams.streamSessionizeFlat,
      "session_window" -> EventStreams.streamSessions)
    stateful.foreach { case (op, run) =>
      val got = run(narrow, sf)
      val want = run(spark, sf)
      assert(want.count() > 0, op)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, op)
    }
  }

  test("a declared stream result stays readable after its query runs again, until releaseAll") {
    val runs: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "stream_dedup" -> EventStreams.streamDedup,
      "stream_upsert" -> EventStreams.streamUpsert,
      "stream_txlog_sink" -> EventStreams.streamTxlogSink)
    val results = runs.flatMap { case (name, run) =>
      val first = run(spark, sf)
      val second = run(spark, sf)
      // the first result is read only now, after the second run
      assert(first.collect().toSeq === second.collect().toSeq, name)
      Seq(first, second)
    }
    val live = SharedBuild.live[String]("stream-result")
    val dirs = results.map { df =>
      val files = df.inputFiles.map(f => Paths.get(new java.net.URI(f)))
      val owners = live.filter(d => files.nonEmpty && files.forall(_.startsWith(d)))
      assert(owners.size === 1, s"${df.inputFiles.toSeq} in one live stream-result dir")
      owners.head
    }
    assert(dirs.distinct.size === results.size, "each run owns its own dir")
    SharedBuild.releaseAll()
    dirs.foreach(d => assert(!Files.exists(Paths.get(d)), s"$d survived releaseAll"))
  }

  test("parquet-sink streaming sessions equal the memory-sink result (scale-safe path)") {
    // streamSessions routes through runToParquetSink (executors write
    // the result; the driver holds no rows) — it must produce exactly
    // the rows the memory-sink harness produced
    val got = EventStreams.streamSessions(spark, sf)
    val want = EventStreams.runToMemory(spark,
      EventStreams.sessionAgg(EventStreams.readEvents(spark, eventsStreamDir)),
      "sess_parity_out")
    assert(got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("runToParquetSink returns an empty typed result when no batch ever fires") {
    // Append-mode + an empty source = zero output batches = zero
    // parquet files in the sink; the read-back must yield an empty
    // DataFrame with the query's schema, not a schema-inference error
    import org.apache.spark.sql.streaming.OutputMode
    // a source directory with NO files: AvailableNow terminates
    // without ever invoking foreachBatch, so the sink stays file-less
    val empty = Files.createTempDirectory("graft-empty-stream")
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$sf/events.parquet").schema)
      .parquet(empty.toString)
    val out = EventStreams.runToParquetSink(spark,
      stream.select(col("event_id"), col("event_type")),
      "empty_sink_probe", OutputMode.Append())
    assert(out.columns.toSeq === Seq("event_id", "event_type"))
    assert(out.count() === 0L)
  }

  test("EventTimeTimeout reaps a silent user's running-total state past the horizon") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val in = Files.createTempDirectory("graft-timeout-in")
    val t0 = 1700000000000000000L // ns
    val hourNs = 3600L * 1000000000L
    def writeDrop(rows: Seq[(Long, Long, Long, String, Double, String)]): Unit =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(in.toString)
    // drop 1: user 1 at t0 and t0+10min; drop 2 (4h later): user 2 only.
    // With maxFilesPerTrigger=1 the drops replay as separate batches:
    // after batch 2 the watermark (t0+3h) passes user 1's timeout
    // (last event + 2h horizon), so the final no-data batch emits
    // user 1's totals once and removes the state row.
    writeDrop(Seq(
      (1L, t0, 1L, "click", 1.0, "{}"),
      (2L, t0 + hourNs / 6, 1L, "click", 2.0, "{}")))
    writeDrop(Seq((3L, t0 + 4 * hourNs, 2L, "view", 5.0, "{}")))
    val stream = EventStreams.readEvents(spark, in.toString, maxFilesPerTrigger = Some(1))
    val q = EventStreams.userRunningTotals(spark, stream)
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("timeout_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val finalState = q.recentProgress.flatMap(_.stateOperators).last.numRowsTotal
    assert(finalState === 1L,
      s"user 1's state must be reaped past the horizon (state rows: $finalState)")
    val out = spark.table("timeout_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // user 1 appears twice — the live update and the timeout's final
    // emission — with identical totals; user 2 once
    assert(out.count(_._1 == 1L) === 2)
    assert(out.filter(_._1 == 1L).toSet === Set((1L, 2L, 3.0)))
    assert(out.filter(_._1 == 2L) === Seq((2L, 1L, 5.0)))
  }

  test("exactly-once across a mid-replay crash: checkpointed dedup restart") {
    import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryException, Trigger}
    // The declared stream_* queries each run uninterrupted start-to-
    // drain; this is the kill-and-restart contract behind them: a
    // checkpointed stream whose sink is idempotent BY BATCH ID
    // (overwrite per-batch directory — the production foreachBatch
    // pattern) re-executes the crashed batch with the same batch id
    // and the same planned offsets, so a crash AFTER the sink write
    // but BEFORE the commit must not duplicate a single row.
    val in = Files.createTempDirectory("graft-chaos-in")
    val ck = Files.createTempDirectory("graft-chaos-ck").toString
    val sink = Files.createTempDirectory("graft-chaos-sink").toString
    val evs = graft.Tables.events(spark, sf)
    // Four single-file drops in event-time order: the table split at
    // its midpoint timestamp, each half then RE-DELIVERED (cross-
    // batch duplicates for the dedup state; the re-deliveries are
    // either state-deduped or watermark-late, never re-emitted).
    // Time-ordered first deliveries keep every FIRST occurrence ahead
    // of the watermark — an id-interleaved split would let the
    // watermark from batch 1 drop half of batch 2 as late.
    val Array(lo, hi) = evs.agg(min(unix_millis(col("ts"))),
      max(unix_millis(col("ts")))).collect()(0) match {
      case r => Array(r.getLong(0), r.getLong(1))
    }
    val cutMs = lo + (hi - lo) / 2
    val h1 = evs.filter(unix_millis(col("ts")) < cutMs)
    val h2 = evs.filter(unix_millis(col("ts")) >= cutMs)
    Seq(h1, h2, h1, h2).foreach { h =>
      h.coalesce(1).write.mode("append").parquet(in.toString)
      Thread.sleep(5) // distinct mod-times: deterministic pickup order
    }
    @volatile var injected = false
    def start(failOnce: Boolean) =
      EventStreams.dedupedEvents(
        EventStreams.readEvents(spark, in.toString, maxFilesPerTrigger = Some(1)))
        .select("event_id", "user_id", "event_type", "value")
        .writeStream
        .option("checkpointLocation", ck)
        .outputMode(OutputMode.Append())
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
            batch.write.mode("overwrite").parquet(s"$sink/batch_$id")
            if (failOnce && id >= 1 && !injected) {
              injected = true
              throw new RuntimeException("injected crash after sink write")
            }
        }
        .trigger(Trigger.AvailableNow())
        .start()
    val q1 = start(failOnce = true)
    intercept[StreamingQueryException] { q1.awaitTermination() }
    assert(injected, "the fault must actually fire mid-replay")
    val q2 = start(failOnce = false) // same checkpoint: resumes, replays the crashed batch
    q2.awaitTermination()
    val got = spark.read.parquet(s"$sink/batch_*")
    val want = evs.select("event_id", "user_id", "event_type", "value")
    // count equality is the exactly-once claim: the crashed batch ran
    // twice, and its second write must have REPLACED the first
    assert(got.count() === want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    graft.ops.OpsUtil.deleteRecursively(in.toString)
    graft.ops.OpsUtil.deleteRecursively(ck)
    graft.ops.OpsUtil.deleteRecursively(sink)
  }

  test("mapGroupsWithState running totals match batch per-user counts") {
    val stream = EventStreams.readEvents(spark, eventsStreamDir)
    val got = EventStreams.userRunningTotals(spark, stream)
    // distinct: a user whose timeout lands inside the replayed horizon
    // emits a SECOND (identical-totals) row when reaped — dedupe the
    // final-state duplicates, then the totals must equal the batch agg
    val res = EventStreams.runToMemory(spark, got.toDF(), "state_out",
      org.apache.spark.sql.streaming.OutputMode.Update())
      .select("user_id", "n_events").distinct()
    val want = graft.Tables.events(spark, sf)
      .groupBy(col("user_id")).agg(count("*").as("n_events"))
    assert(res.exceptAll(want).isEmpty && want.exceptAll(res).isEmpty)
  }

  test("flatMapGroupsWithState sessionizer: mid-batch closes, cross-batch carry, open last held") {
    import java.sql.Timestamp
    import spark.implicits._
    val Min = 60L * 1000 * 1000 // µs
    def ev(id: Long, uid: Long, us: Long) =
      (id, new Timestamp(us / 1000), uid, "t", 0.25, "{}")
    // user 1: batch 1 holds two sessions' worth (gap 40 min) — the
    //   first closes MID-batch; the second spans into batch 2 (gap
    //   5 min across the cut) and then a 40-min gap closes it there.
    // user 2: one session only — must never emit.
    val base = 1700000000L * 1000000
    val b1 = Seq(
      ev(1, 1, base), ev(2, 1, base + 2 * Min),          // session A
      ev(3, 1, base + 45 * Min),                          // session B opens
      ev(4, 2, base + 10 * Min))
    val b2 = Seq(
      ev(5, 1, base + 50 * Min),                          // still session B
      ev(6, 1, base + 95 * Min))                          // closes B, opens C (stays open)
    val dir = Files.createTempDirectory("graft-flatmap-spec")
    b1.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("append").parquet(dir.toString)
    Thread.sleep(5)
    b2.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("append").parquet(dir.toString)
    val out = EventStreams.runToMemory(spark,
      EventStreams.sessionizeFlat(spark,
        EventStreams.readEvents(spark, dir.toString, maxFilesPerTrigger = Some(1))),
      "flatmap_spec", org.apache.spark.sql.streaming.OutputMode.Append())
      .orderBy("user_id", "start_us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.toSeq === Seq(
      (1L, base, base + 2 * Min, 2L, 500000L),            // A: closed in batch 1
      (1L, base + 45 * Min, base + 50 * Min, 2L, 500000L) // B: carried, closed in batch 2
    ), s"got: ${out.mkString(", ")}") // C and user 2's session stay open: absent
  }
}
