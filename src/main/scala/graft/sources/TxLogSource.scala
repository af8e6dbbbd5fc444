package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Declared query `src_txlog`: a Delta-Lake-protocol-style
  * TRANSACTION-LOG table built and read from scratch — the lakehouse
  * mechanism an incremental training-data pipeline actually needs for
  * atomic ingest: readers see a SNAPSHOT (a set of parquet files
  * named by a log), never a half-written directory listing, and old
  * versions stay readable (time travel) until vacuumed.
  *
  * The protocol, as the public Delta spec defines it (and as
  * implemented here without any Delta library): a `_txlog/` directory
  * of zero-padded commit files `00000000000000000000.json`, each a
  * JSON-lines list of actions — `{"add": {"path": …, "numRecords"}}`
  * and `{"remove": {"path": …}}`. A snapshot at version V = replay
  * commits 0..V in order, adding and removing paths; the live set is
  * read as plain parquet. Commits become visible ATOMICALLY via the
  * same dot-prefix + rename pattern as [[SourceQueries.commitPartFile]]
  * — a reader never observes a partially written commit, which is the
  * entire ACID story on an object store with atomic rename.
  *
  * The staged history exercises all three commit shapes:
  *   v0  initial load   — docs with doc_id % 10 ≤ 5 (two add files);
  *   v1  append         — docs with doc_id % 10 ≥ 6 (one add file);
  *   v2  rewrite+delete — v0's files REMOVED and replaced by one
  *       compacted file that drops doc_id % 10 == 3 (a DELETE
  *       expressed as copy-on-write rewrite, exactly how Delta/
  *       Iceberg execute row deletes without mutating files).
  *
  * The declared result reads ALL THREE versions through the log
  * replay and fingerprints each — time travel under the hash gate.
  * The oracle recomputes every version's membership from the raw
  * table via the staging predicates (pure arithmetic, so DuckDB
  * agrees bit-for-bit only if the log replay selected exactly the
  * right files).
  *
  * Scale stance: a snapshot read lists the LOG, not the data
  * directory — O(commits) driver work plus a parquet scan of only
  * live files; `src_txlog_checkpoint` adds the spec's parquet
  * CHECKPOINTS of the log so resolution is O(tail), not
  * O(all commits ever). Removed
  * files stay on disk for time travel until a vacuum horizon — the
  * v2 read proves they are invisible to the newest snapshot while
  * v0/v1 reads still see them. */
object TxLogSource {

  private def jesc(s: String): String =
    s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c => c.toString }

  /** Atomically publish one commit into a version slot the caller
    * KNOWS is free (staging writes a fresh table) — one protocol, the
    * put-if-absent below. */
  private def writeCommit(logDir: java.nio.file.Path, version: Long,
      actions: Seq[String]): Unit =
    require(commitIfAbsent(logDir, version, actions),
      s"txlog: version $version unexpectedly already committed")

  /** The EXACTLY-ONCE commit: publish version `version` only if no
    * commit holds that slot yet — a retried writer (task retry,
    * driver restart replaying a micro-batch) loses the race and backs
    * off, leaving its data files as invisible orphans (the vacuum
    * story) instead of double-counting. Returns whether THIS caller
    * won the slot.
    *
    * The atomic primitive is `Files.createLink` (hard-link the fully
    * written temp file into the slot), NOT a rename: POSIX rename(2)
    * silently REPLACES an existing target — `Files.move` with
    * ATOMIC_MOVE alone would let two racing committers both "win",
    * one overwriting the other. link(2) fails with EEXIST atomically,
    * which is the true create-if-absent a log commit needs (object
    * stores expose the same primitive as if-none-match puts). */
  private[graft] def commitIfAbsent(logDir: java.nio.file.Path, version: Long,
      actions: Seq[String]): Boolean = {
    val dest = logDir.resolve(f"$version%020d.json")
    if (java.nio.file.Files.exists(dest)) return false // fast path
    val tmp = java.nio.file.Files.createTempFile(logDir, ".tmp-commit-", ".json")
    try {
      java.nio.file.Files.write(tmp,
        (actions.mkString("\n") + "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      try { java.nio.file.Files.createLink(dest, tmp); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } finally {
      java.nio.file.Files.deleteIfExists(tmp); ()
    }
  }

  /** Write `df` as parquet under `table/data-<tag>/` — range-
    * partitioned on doc_id into a few files so per-file stats are
    * selective — and return (relative path, min doc_id, max doc_id)
    * per written file. The stats ride in the commit's add actions
    * (the Delta/Iceberg file-statistics idea), collected here with
    * one grouped scan per commit; at real scale the WRITER reports
    * them from its own footer, stats never cost a second read. */
  private def writeGroup(df: DataFrame, table: String, tag: String)
      : Seq[(String, Long, Long)] = {
    val dir = s"$table/data-$tag"
    df.repartitionByRange(4, col("doc_id")).write.mode("overwrite").parquet(dir)
    val spark = df.sparkSession
    spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
      .collect() // bounded: one row per written file of one commit
      .map { r =>
        val name = r.getString(0).split("/").last
        (s"data-$tag/$name", r.getLong(1), r.getLong(2))
      }.sortBy(_._1).toSeq
  }

  /** Stage the 3-version history once per (session, sf dir). */
  private def stageTable(spark: SparkSession, d: String): String =
    graft.ops.SharedBuild.staged(spark, "txlog", d) {
      val table = java.nio.file.Files.createTempDirectory("graft-txlog").toString
      val logDir = java.nio.file.Files.createDirectory(
        java.nio.file.Paths.get(table, "_txlog"))
      val docs = graft.Tables.documents(spark, d)
      def add(files: Seq[(String, Long, Long)]) =
        files.map { case (p, lo, hi) =>
          s"""{"add":{"path":"${jesc(p)}","minId":$lo,"maxId":$hi}}"""
        }
      def remove(files: Seq[(String, Long, Long)]) =
        files.map { case (p, _, _) => s"""{"remove":{"path":"${jesc(p)}"}}""" }
      // v0: initial load, two files so the v2 remove is a real multi-file set
      val g0a = writeGroup(docs.where(col("doc_id") % 10 <= 2), table, "v0a")
      val g0b = writeGroup(docs.where(col("doc_id") % 10 > 2 && col("doc_id") % 10 <= 5),
        table, "v0b")
      writeCommit(logDir, 0L, add(g0a ++ g0b))
      // v1: append
      val g1 = writeGroup(docs.where(col("doc_id") % 10 >= 6), table, "v1")
      writeCommit(logDir, 1L, add(g1))
      // v2: copy-on-write delete of doc_id % 10 == 3 (rewrites v0's files)
      val g2 = writeGroup(docs.where(col("doc_id") % 10 <= 5 && col("doc_id") % 10 =!= 3),
        table, "v2")
      writeCommit(logDir, 2L, remove(g0a ++ g0b) ++ add(g2))
      table
    }(graft.ops.OpsUtil.deleteRecursively)

  /** Replay the log to version `v` and return the live file set —
    * O(commits) driver work on the tiny log, never a data listing.
    * Files added without stats carry the full range (never prunable,
    * always correct). */
  private[graft] def liveFiles(table: String, v: Long): Seq[String] =
    liveFilesWithStats(table, v).map(_._1)

  private val StatRe = """"(minId|maxId)":(-?\d+)""".r

  /** All canonical commit files with version in [lo, hi], sorted. An
    * in-flight dot-prefixed temp commit (or any stray file) must be
    * invisible, not a crash. */
  private def commitFiles(table: String, lo: Long, hi: Long)
      : Seq[(Long, java.io.File)] = {
    val logDir = java.nio.file.Paths.get(table, "_txlog")
    new java.io.File(logDir.toString).listFiles()
      .filter(_.getName.matches("\\d{20}\\.json"))
      .map(f => f.getName.stripSuffix(".json").toLong -> f)
      .filter { case (ver, _) => ver >= lo && ver <= hi }
      .sortBy(_._1).toSeq
  }

  /** Replay one commit file's actions into the live map; `onAdd`
    * observes every add (vacuum's added-ever trace). */
  private def applyCommitFile(
      live: scala.collection.mutable.LinkedHashMap[String, (Long, Long)],
      f: java.io.File,
      onAdd: String => Unit = _ => ()): Unit =
    scala.io.Source.fromFile(f, "UTF-8").getLines().filter(_.nonEmpty).foreach { line =>
      val addIdx = line.indexOf("\"add\"")
      val remIdx = line.indexOf("\"remove\"")
      val path = {
        val k = line.indexOf("\"path\":\"")
        require(k >= 0, s"txlog: action without path in ${f.getName}: $line")
        val start = k + 8
        val sb = new StringBuilder
        var i = start
        while (line.charAt(i) != '"') {
          if (line.charAt(i) == '\\') { sb.append(line.charAt(i + 1)); i += 2 }
          else { sb.append(line.charAt(i)); i += 1 }
        }
        sb.toString
      }
      if (addIdx >= 0 && (remIdx < 0 || addIdx < remIdx)) {
        val stats = StatRe.findAllMatchIn(line)
          .map(m => m.group(1) -> m.group(2).toLong).toMap
        require(!live.contains(path), s"txlog: duplicate add of $path")
        onAdd(path)
        live(path) = (stats.getOrElse("minId", Long.MinValue),
          stats.getOrElse("maxId", Long.MaxValue))
      } else {
        require(live.remove(path).isDefined,
          s"txlog: remove of unknown file $path")
      }
    }

  private[sources] def liveFilesWithStats(table: String, v: Long)
      : Seq[(String, Long, Long)] = {
    val commits = commitFiles(table, 0L, v)
    require(commits.nonEmpty, s"txlog: no commits at or below version $v")
    require(commits.map(_._1) == (0L to commits.last._1),
      s"txlog: commit sequence has gaps — refusing a torn snapshot")
    val live = scala.collection.mutable.LinkedHashMap[String, (Long, Long)]()
    commits.foreach { case (_, f) => applyCommitFile(live, f) }
    live.toSeq.map { case (p, (lo, hi)) => (p, lo, hi) }
  }

  /** Snapshot read at version `v`: log replay → plain parquet scan of
    * exactly the live files. */
  private[graft] def readSnapshot(spark: SparkSession, table: String,
      v: Long): DataFrame = {
    val files = liveFiles(table, v).map(p => s"$table/$p")
    spark.read.parquet(files: _*)
  }

  /** Data skipping off the commit statistics (the Iceberg/Delta
    * manifest-pruning idea): files whose [minId, maxId] misses the
    * requested doc_id range are never opened — the planner's file
    * list itself shrinks, which at 100 TB is the difference between
    * scanning one shard and the whole table. Correctness does not
    * depend on the stats (a stats-less file keeps the full range and
    * is always read). */
  private[sources] def prunedFiles(table: String, v: Long,
      lo: Long, hi: Long): Seq[String] =
    liveFilesWithStats(table, v)
      .filter { case (_, fLo, fHi) => fHi >= lo && fLo <= hi }
      .map(_._1)

  private[sources] def readSnapshotPruned(spark: SparkSession, table: String,
      v: Long, lo: Long, hi: Long): DataFrame = {
    val files = prunedFiles(table, v, lo, hi).map(p => s"$table/$p")
    require(files.nonEmpty, s"txlog: no files overlap [$lo, $hi] at v$v")
    // the residual predicate still applies: stats prune FILES, the
    // filter prunes rows within the survivors
    spark.read.parquet(files: _*)
      .where(col("doc_id") >= lo && col("doc_id") <= hi)
  }

  /** The declared query: fingerprint every version of the history —
    * time travel itself under the hash gate. */
  def txlogDocStats(spark: SparkSession, d: String): DataFrame = {
    val table = stageTable(spark, d)
    (0L to 2L).map { v =>
      readSnapshot(spark, table, v)
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("doc_id")).as("n_distinct"),
          sum(col("doc_id")).as("sum_doc_id"),
          sum(col("n_chars")).as("sum_n_chars"),
          sum(length(col("text")).cast("long")).as("sum_text_chars"))
        .select(lit(v).as("version"), col("n_docs"), col("n_distinct"),
          col("sum_doc_id"), col("sum_n_chars"), col("sum_text_chars"))
    }.reduce(_ unionAll _).orderBy("version")
  }

  /** Oracle: each version's membership from the staging predicates —
    * v0: doc_id%10 ≤ 5; v1: all; v2: all except doc_id%10 == 3. */
  def txlogDocStatsSql: String =
    """SELECT v.version, COUNT(*) AS n_docs,
      |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_distinct,
      |  CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_n_chars,
      |  CAST(SUM(length(text)) AS BIGINT) AS sum_text_chars
      |FROM documents
      |CROSS JOIN (SELECT unnest([0, 1, 2]) AS version) v
      |WHERE (v.version = 0 AND doc_id % 10 <= 5)
      |   OR (v.version = 1)
      |   OR (v.version = 2 AND doc_id % 10 <> 3)
      |GROUP BY v.version ORDER BY v.version""".stripMargin

  /** Declared query `src_txlog_prune`: a doc_id-range snapshot read
    * at the newest version THROUGH the commit statistics — the file
    * list shrinks before any parquet footer is opened (TxLogSpec pins
    * that fewer files than the live set are scanned; correctness here
    * is the hash against the pure-predicate oracle). */
  def txlogPruneStats(spark: SparkSession, d: String): DataFrame = {
    val table = stageTable(spark, d)
    readSnapshotPruned(spark, table, 2L, 10L, 99L)
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("doc_id")).as("n_distinct"),
        sum(col("doc_id")).as("sum_doc_id"),
        sum(col("n_chars")).as("sum_n_chars"),
        sum(length(col("text")).cast("long")).as("sum_text_chars"))
  }

  /** Oracle: v2 membership (doc_id%10 <> 3) restricted to the range. */
  def txlogPruneStatsSql: String =
    """SELECT COUNT(*) AS n_docs,
      |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_distinct,
      |  CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_n_chars,
      |  CAST(SUM(length(text)) AS BIGINT) AS sum_text_chars
      |FROM documents
      |WHERE doc_id BETWEEN 10 AND 99 AND doc_id % 10 <> 3""".stripMargin

  // ---- log checkpoints (src_txlog_checkpoint) --------------------------

  /** How a snapshot was resolved — surfaced so tests (and the declared
    * query itself) can ASSERT the O(tail) property instead of trusting
    * it: `replayedCommits` counts JSON commit files actually read. */
  private[sources] final case class Resolution(
      files: Seq[(String, Long, Long)],
      replayedCommits: Int,
      usedCheckpoint: Boolean)

  private val LastCkRe = """"version"\s*:\s*(\d+)""".r

  /** The `_last_checkpoint` pointer, if present and well-formed. A
    * torn/garbage pointer degrades to a full replay (correct, slower)
    * rather than failing the read — the pointer is an optimization,
    * the log is the truth. */
  private[sources] def lastCheckpointVersion(table: String): Option[Long] = {
    val p = java.nio.file.Paths.get(table, "_txlog", "_last_checkpoint")
    if (!java.nio.file.Files.exists(p)) None
    else LastCkRe.findFirstMatchIn(
      new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
      .map(_.group(1).toLong)
      .filter(v => java.nio.file.Files.exists(
        java.nio.file.Paths.get(table, "_txlog", f"$v%020d.checkpoint.parquet")))
  }

  /** Write a parquet CHECKPOINT of the live set at version `v` (one
    * row per live file: path + stats), then advance `_last_checkpoint`
    * — the Delta-spec mechanism that caps snapshot resolution at
    * O(checkpoint + tail commits) no matter how long the table has
    * lived. Both writes are crash-safe: the checkpoint lands via
    * temp + atomic rename (REPLACE is fine — a checkpoint is DERIVED
    * state, deterministically recomputable, unlike a commit slot),
    * and the pointer is only advanced after the checkpoint exists. */
  private[sources] def writeCheckpoint(spark: SparkSession, table: String,
      v: Long): Unit = {
    import spark.implicits._
    val logDir = java.nio.file.Paths.get(table, "_txlog")
    val files = liveFilesWithStats(table, v)
    val tmpDir = java.nio.file.Files.createTempDirectory("graft-txlog-ck").toString
    files.sortBy(_._1).toDF("path", "minId", "maxId")
      .coalesce(1).write.mode("overwrite").parquet(tmpDir)
    val part = new java.io.File(tmpDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath,
      logDir.resolve(f"$v%020d.checkpoint.parquet"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    graft.ops.OpsUtil.deleteRecursively(tmpDir)
    val tmp = java.nio.file.Files.createTempFile(logDir, ".tmp-lastck-", ".json")
    java.nio.file.Files.write(tmp, s"""{"version":$v}""".getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, logDir.resolve("_last_checkpoint"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Checkpoint-aware snapshot resolution: load the newest checkpoint
    * at or below `v` (skipped for time travel BELOW it — the log still
    * serves any version) and replay only the JSON tail after it. The
    * checkpoint row list is one bounded driver read, the same
    * O(live files) the planner's file list costs anyway; at real scale
    * Delta splits checkpoints into parts and reads them as a job —
    * same contract, bigger hammer. */
  private[sources] def resolveSnapshot(spark: SparkSession, table: String,
      v: Long): Resolution =
    lastCheckpointVersion(table).filter(_ <= v) match {
      case None =>
        Resolution(liveFilesWithStats(table, v), commitFiles(table, 0L, v).size,
          usedCheckpoint = false)
      case Some(cp) =>
        val ckPath = java.nio.file.Paths
          .get(table, "_txlog", f"$cp%020d.checkpoint.parquet")
        val live = scala.collection.mutable.LinkedHashMap[String, (Long, Long)]()
        spark.read.parquet(ckPath.toString)
          .collect() // bounded: one row per live file at the checkpoint
          .sortBy(_.getAs[String]("path"))
          .foreach(r => live(r.getAs[String]("path")) =
            (r.getAs[Long]("minId"), r.getAs[Long]("maxId")))
        val tail = commitFiles(table, cp + 1, v)
        if (tail.nonEmpty)
          require(tail.map(_._1) == (cp + 1 to tail.last._1),
            s"txlog: commit sequence after checkpoint $cp has gaps")
        tail.foreach { case (_, f) => applyCommitFile(live, f) }
        Resolution(live.toSeq.map { case (p, (lo, hi)) => (p, lo, hi) },
          tail.size, usedCheckpoint = true)
    }

  /** Stage a 5-commit history with a checkpoint at v2 — long enough
    * that the O(tail) claim is observable (v4 resolves via checkpoint
    * + 2 JSON commits, never the 5-commit full replay):
    *   v0 add %10∈[0,3] · v1 add %10∈[4,6] · v2 add %10∈[7,9] → CK
    *   v3 cow-delete %10==1 (remove v0's files, add rewrite)
    *   v4 cow-delete %10==5 (remove v1's files, add rewrite). */
  private def stageCkTable(spark: SparkSession, d: String): String =
    graft.ops.SharedBuild.staged(spark, "txlog-ck", d) {
      val table = java.nio.file.Files.createTempDirectory("graft-txlog-ck-tbl").toString
      buildCkHistory(spark, d, table)
      table
    }(graft.ops.OpsUtil.deleteRecursively)

  private def buildCkHistory(spark: SparkSession, d: String,
      table: String): Unit = {
    val logDir = java.nio.file.Files.createDirectory(
      java.nio.file.Paths.get(table, "_txlog"))
    val docs = graft.Tables.documents(spark, d)
    val m = col("doc_id") % 10
    def add(files: Seq[(String, Long, Long)]) =
      files.map { case (p, lo, hi) =>
        s"""{"add":{"path":"${jesc(p)}","minId":$lo,"maxId":$hi}}"""
      }
    def remove(files: Seq[(String, Long, Long)]) =
      files.map { case (p, _, _) => s"""{"remove":{"path":"${jesc(p)}"}}""" }
    val g0 = writeGroup(docs.where(m <= 3), table, "v0")
    writeCommit(logDir, 0L, add(g0))
    val g1 = writeGroup(docs.where(m >= 4 && m <= 6), table, "v1")
    writeCommit(logDir, 1L, add(g1))
    val g2 = writeGroup(docs.where(m >= 7), table, "v2")
    writeCommit(logDir, 2L, add(g2))
    writeCheckpoint(spark, table, 2L)
    val g3 = writeGroup(docs.where(m <= 3 && m =!= 1), table, "v3")
    writeCommit(logDir, 3L, remove(g0) ++ add(g3))
    val g4 = writeGroup(docs.where(m >= 4 && m <= 6 && m =!= 5), table, "v4")
    writeCommit(logDir, 4L, remove(g1) ++ add(g4))
  }

  /** Declared query `src_txlog_checkpoint`: fingerprint versions 2-4
    * of the checkpointed history, every snapshot resolved THROUGH the
    * checkpoint — and the O(tail) shape asserted inline (v requires
    * exactly v−2 tail commits), so the query fails loudly if
    * resolution ever silently degrades to a full replay. */
  def txlogCheckpointStats(spark: SparkSession, d: String): DataFrame = {
    val table = stageCkTable(spark, d)
    (2L to 4L).map { v =>
      val res = resolveSnapshot(spark, table, v)
      require(res.usedCheckpoint && res.replayedCommits == (v - 2).toInt,
        s"txlog: v$v resolved with checkpoint=${res.usedCheckpoint}, " +
          s"tail=${res.replayedCommits} — expected checkpoint + ${v - 2}")
      spark.read.parquet(res.files.map(f => s"$table/${f._1}"): _*)
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("doc_id")).as("n_distinct"),
          sum(col("doc_id")).as("sum_doc_id"),
          sum(col("n_chars")).as("sum_n_chars"),
          sum(length(col("text")).cast("long")).as("sum_text_chars"))
        .select(lit(v).as("version"), col("n_docs"), col("n_distinct"),
          col("sum_doc_id"), col("sum_n_chars"), col("sum_text_chars"))
    }.reduce(_ unionAll _).orderBy("version")
  }

  // ---- vacuum (src_txlog_vacuum) ---------------------------------------

  /** Physically delete every data file whose REMOVE was committed at
    * or below `horizon` — Delta's VACUUM. Such a file cannot be live
    * at any version ≥ horizon (a removed path never comes back: re-add
    * is rejected as a duplicate only while live, and the staging
    * protocol writes fresh paths per commit), so snapshots from the
    * horizon forward are untouched while time travel BEFORE it
    * becomes a loud missing-file error instead of a quiet wrong
    * answer. Returns the number of files deleted.
    *
    * Scale stance: one O(commits ≤ horizon) metadata replay computes
    * the delete list (added-ever minus live-at-horizon); the deletes
    * themselves are embarrassingly parallel (a real cluster fans them
    * out; here a driver loop over the staged table's handful). */
  private[sources] def vacuum(table: String, horizon: Long): Int = {
    val live = scala.collection.mutable.LinkedHashMap[String, (Long, Long)]()
    val added = scala.collection.mutable.LinkedHashSet[String]()
    val commits = commitFiles(table, 0L, horizon)
    require(commits.nonEmpty && commits.map(_._1) == (0L to commits.last._1),
      s"txlog: vacuum needs a contiguous log through $horizon")
    commits.foreach { case (_, f) => applyCommitFile(live, f, added += _) }
    val deletable = (added -- live.keys).toSeq
    deletable.foreach { p =>
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(table, p)); ()
    }
    deletable.size
  }

  /** Same 5-commit checkpointed history as [[stageCkTable]], but on a
    * PRIVATE copy (vacuum mutates the table) and vacuumed to
    * horizon 4 right after staging. */
  private def stageVacTable(spark: SparkSession, d: String): String =
    graft.ops.SharedBuild.staged(spark, "txlog-vac", d) {
      val table = java.nio.file.Files.createTempDirectory("graft-txlog-vac-tbl").toString
      buildCkHistory(spark, d, table)
      val n = vacuum(table, 4L)
      require(n > 0, "txlog: vacuum deleted nothing — staging broke")
      table
    }(graft.ops.OpsUtil.deleteRecursively)

  /** Declared query `src_txlog_vacuum`: the post-vacuum contract,
    * both halves asserted — the newest snapshot (v4) is byte-identical
    * to its pre-vacuum membership (hash gate vs the pure-predicate
    * oracle), and a pre-horizon read (v2) now FAILS LOUDLY at file
    * access because its data is physically gone. */
  def txlogVacuumStats(spark: SparkSession, d: String): DataFrame = {
    val table = stageVacTable(spark, d)
    // pre-horizon time travel must now throw when the scan touches
    // the vacuumed files (metadata still resolves — the log survives)
    val v2 = resolveSnapshot(spark, table, 2L)
    val gone = v2.files.map(f => s"$table/${f._1}")
      .count(p => !java.nio.file.Files.exists(java.nio.file.Paths.get(p)))
    require(gone > 0, "txlog: vacuum left every v2 file on disk")
    val res = resolveSnapshot(spark, table, 4L)
    spark.read.parquet(res.files.map(f => s"$table/${f._1}"): _*)
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("doc_id")).as("n_distinct"),
        sum(col("doc_id")).as("sum_doc_id"),
        sum(col("n_chars")).as("sum_n_chars"),
        sum(length(col("text")).cast("long")).as("sum_text_chars"))
  }

  /** Oracle: v4 membership (%10 ∉ {1,5}) — survival of the vacuum. */
  def txlogVacuumStatsSql: String =
    """SELECT COUNT(*) AS n_docs,
      |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_distinct,
      |  CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_n_chars,
      |  CAST(SUM(length(text)) AS BIGINT) AS sum_text_chars
      |FROM documents WHERE doc_id % 10 NOT IN (1, 5)""".stripMargin

  /** Oracle: each version's membership from the staging predicates —
    * v2: all · v3: %10 ≠ 1 · v4: %10 ∉ {1,5}. */
  def txlogCheckpointStatsSql: String =
    """SELECT v.version, COUNT(*) AS n_docs,
      |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_distinct,
      |  CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_n_chars,
      |  CAST(SUM(length(text)) AS BIGINT) AS sum_text_chars
      |FROM documents
      |CROSS JOIN (SELECT unnest([2, 3, 4]) AS version) v
      |WHERE (v.version = 2)
      |   OR (v.version = 3 AND doc_id % 10 <> 1)
      |   OR (v.version = 4 AND doc_id % 10 NOT IN (1, 5))
      |GROUP BY v.version ORDER BY v.version""".stripMargin
}
