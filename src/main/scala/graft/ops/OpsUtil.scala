package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Shared expression helpers for the declared-query surface.
  *
  * Oracle parity rule (SURVEY.md §7.3): every double aggregation is
  * summed through DECIMAL so the result is exact and independent of
  * partial-aggregation order — Spark (distributed, map-side partials)
  * and DuckDB (single-node) then agree bit-for-bit after the cast back
  * to double. Plain double sums would drift in the last ulps and fail
  * the driver's hash compare.
  */
object OpsUtil {

  /** Scale-adaptive fan-out for COMPUTE-HEAVY map stages (r16 opt,
    * guide §2.5 "one huge unsplittable file … repartition immediately
    * after the read"): the sf fixtures are single-row-group parquet
    * files, so every scan is ONE task and every expensive per-row
    * kernel (shingle+md5, pair expansion, tokenize) serializes on one
    * core while the other 31 idle — measured cpu/wall 2.5 on
    * local[32] across the whole bench. A round-robin repartition to
    * the session's core count right after the pruned read unlocks the
    * map parallelism for the price of one exchange of the (projected)
    * input bytes.
    *
    * Scale stance: the fan-out applies ONLY when the plan's physical
    * partition count is below the session's default parallelism — at
    * 100 TB any real table scans as thousands of splits and this is a
    * no-op, so no production query ever pays a gratuitous full-table
    * shuffle. The threshold derives from the session (local[N] and
    * cluster alike), never a constant. Round-robin repartition is
    * retry-deterministic (sortBeforeRepartition, SPARK-23207). Apply
    * AFTER projecting the needed columns so the exchange carries the
    * narrow rows, and only on operators whose per-row work dwarfs one
    * small exchange — never on scan→aggregate trivia. */
  def fanOut(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  // r17 opt (ADVICE r16): df.rdd.getNumPartitions forces full eager
  // physical planning (analysis + optimization + file listing) at
  // every query-CONSTRUCTION call — and Tables.documents/embeddings
  // are constructed several times per query across ~120 queries. The
  // split count of a parquet scan is a pure function of (path, file
  // layout, session parallelism), so the decision is computed once
  // per (path, target) and reused; the repartition itself stays in
  // the plan as before. Keyed by path + target (not session): the
  // fixture layout is immutable for a given dir, and a cluster-sized
  // session recomputes its own entry because target differs.
  private val fanOutNeeded =
    scala.collection.concurrent.TrieMap.empty[(String, Int), Boolean]

  /** [[fanOut]] for a table scan of a stable path: same plan, but the
    * needs-fan-out probe (eager planning) runs once per
    * (path, parallelism) instead of at every query construction. */
  def fanOutScan(df: DataFrame, path: String): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val need = fanOutNeeded.getOrElseUpdate((path, target),
      df.rdd.getNumPartitions < target)
    if (need) df.repartition(target) else df
  }

  /** Recursively delete a directory tree (no-op if absent) — the ONE
    * walk-and-delete used by every temp-artifact owner (staged
    * layouts, streaming sinks, per-JVM warehouses), so fd-handling
    * fixes live in one place. */
  def deleteRecursively(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.isDirectory(p)) {
      val st = java.nio.file.Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.deleteIfExists(f))
      finally st.close()
    }
  }
  /** The per-key top-k reducer: numbers each `by` group in `order` as
    * column `as` (1, 2, …) and keeps the rows numbered ≤ k. Every
    * per-key "best k" and argmax (k = 1) in the query surface goes
    * through here, so its plan shape lives in one place: Catalyst puts
    * a partial WindowGroupLimit below the `by` exchange, and each task
    * forwards at most k rows per key (PlanSpec pins it). `order` must
    * end in a unique column so ties are deterministic. A non-empty
    * `by` is required: a window without a partition spec runs in one
    * task, and a global top-k is an ordered limit instead. */
  def topK(df: DataFrame, by: Seq[Column], order: Seq[Column], k: Int,
      as: String): DataFrame = {
    require(by.nonEmpty, "topK needs a partition key; a global top-k is an ordered limit")
    df.withColumn(as, row_number().over(Window.partitionBy(by: _*).orderBy(order: _*)))
      .where(col(as) <= k)
  }

  /** DuckDB mirror of [[topK]]: every column of `from` (a table, CTE or
    * parenthesized subquery) plus the rank `as`, for ranks ≤ k per
    * `by` group in `order` (SQL lists). */
  def topKSql(from: String, by: String, order: String, k: Int, as: String): String = {
    require(by.nonEmpty, "topKSql needs a partition key")
    s"SELECT *, ROW_NUMBER() OVER (PARTITION BY $by ORDER BY $order) AS $as " +
      s"FROM $from QUALIFY $as <= $k"
  }

  /** Order-independent exact sum of a double column: sum as
    * DECIMAL(18,6) then back to double. DuckDB mirror:
    * `CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE)`. */
  def dsum(c: Column): Column =
    sum(c.cast("decimal(18,6)")).cast("double")

  /** Exact average built from dsum/count so both engines divide the
    * same two exact numbers. DuckDB mirror:
    * `CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / COUNT(x)`. */
  def davg(c: Column): Column =
    dsum(c) / count(c)

  /** Canonical tokenizer shared by all text operators: lowercase,
    * split on runs of whitespace, drop empty tokens. DuckDB mirror:
    * `list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')`.
    * (Reference workload: wc_map.sh tokenize+lowercase,
    * /root/reference/tests/testdata/exec/wc_map.sh:12.) */
  def tokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => t =!= "")

  /** DuckDB-side mirror of [[tokens]] applied to an expression. */
  def tokensSql(e: String): String =
    s"list_filter(string_split_regex(lower($e), '\\s+'), tok -> tok <> '')"

  /** Cross-engine deterministic 60-bit hash: first 15 hex digits of
    * md5("<salt>:" + s) as a non-negative long. Identical in DuckDB as
    * [[xhash60Sql]] — the shared primitive under MinHash/SimHash/LSH/
    * fingerprint operators, chosen over Spark's Murmur3 `hash()`
    * because the oracle must reproduce it (SURVEY.md §2.4.2 precedent:
    * reference partitions by md5, worker/__main__.py:142-144).
    * Backed by the codegen'd [[graft.functions.Xhash60]] expression —
    * bit-identical to the original `conv(substring(md5(concat(...`
    * composite (Xhash60Spec), minus two string allocations per call. */
  def xhash60(c: Column, salt: Int): Column =
    graft.functions.Xhash60.xhash60(c, salt)

  def xhash60Sql(e: String, salt: Int): String =
    s"('0x' || substr(md5('$salt:' || $e), 1, 15))::BIGINT"

  /** Sequential-order dot/cosine pieces over array<double>; mirrored in
    * SQL via list_transform + list_sum so both engines sum in array
    * order (then rounded to 9 decimals to absorb any last-ulp drift).
    * Backed by the codegen'd ArrayDotProduct expression — identical
    * numerics to the interpreted HOF form, ~50× faster in pair loops
    * (graft.functions.ArrayDot). */
  def dotd(a: Column, b: Column): Column =
    graft.functions.ArrayDot.array_dot(a, b)

  def norm2(a: Column): Column =
    graft.functions.ArrayDot.array_dot(a, a)

  def cosine9(a: Column, b: Column): Column = {
    val ad = a.cast("array<double>"); val bd = b.cast("array<double>")
    round(dotd(ad, bd) / (sqrt(norm2(ad)) * sqrt(norm2(bd))), 9)
  }

  /** DuckDB mirror of [[cosine9]] for two DOUBLE[] expressions. */
  def cosine9Sql(a: String, b: String): String =
    s"""round(list_sum(list_transform(range(1, len($a)+1), i -> $a[i] * $b[i]))
       | / (sqrt(list_sum(list_transform($a, x -> x*x)))
       |    * sqrt(list_sum(list_transform($b, x -> x*x)))), 9)""".stripMargin.replace("\n", "")
}
