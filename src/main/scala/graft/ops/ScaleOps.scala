package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-path utilities: the techniques that keep the engine's plans
  * viable at 100 TB, packaged so they're testable at local scale.
  *
  *  - Bucketing: pre-shuffle fact tables on the join key so repeated
  *    fact⋈fact joins are exchange-free (both sides read
  *    co-partitioned buckets). ScaleSpec asserts the bucketed join
  *    plan contains NO shuffle exchange.
  *  - Salting: spread a hot key across `saltFactor` sub-keys for the
  *    shuffle, then aggregate twice (partial per salt, final without)
  *    — the manual fallback where AQE skew handling can't reach
  *    (aggregations; AQE only splits skewed JOIN partitions).
  */
object ScaleOps {

  /** Write a DataFrame bucketed+sorted by `key` into the session
    * warehouse as `tableName` (bucket pruning + exchange-free joins
    * for every downstream query keyed on `key`). */
  def writeBucketed(df: DataFrame, tableName: String, key: String,
      numBuckets: Int): Unit = {
    df.sparkSession.sql(s"DROP TABLE IF EXISTS $tableName")
    df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(tableName) // managed table in spark.sql.warehouse.dir
  }

  /** Join two bucketed tables on their bucket key — planner emits a
    * sort-merge join with no Exchange when bucket specs line up. */
  def bucketedJoin(spark: SparkSession, leftTable: String,
      rightTable: String, key: String): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), key)

  // table-name uniquifier: a fresh suffix per staged entry, so two sf
  // dirs with colliding String.hashCode (or a second session staging
  // the same dir) can never overwrite a catalog table another entry
  // still points at
  private val stageSeq = new java.util.concurrent.atomic.AtomicLong(0)

  // One bucketed (orders, lineitem) table pair per (session, sf-dir),
  // staged in the [[SharedBuild]] registry — the layout is a property
  // of the table (the PartitionedTables keying); the declared query
  // pays the exchange-free join, which is the point. The registry
  // stages each key once, so racing first readers never orphan a
  // table pair in the warehouse. Release DROPs both managed tables,
  // which also deletes their warehouse files, so a long-lived session
  // is left with neither catalog litter nor orphaned directories.
  private def stagedOrderTables(spark: SparkSession, d: String): (String, String) =
    SharedBuild.staged(spark, "bucketed", d) {
      val tag = stageSeq.incrementAndGet()
      val ot = s"graft_bkt_orders_$tag"
      val lt = s"graft_bkt_lineitem_$tag"
      writeBucketed(graft.Tables.orders(spark, d), ot, "o_orderkey", 8)
      writeBucketed(graft.Tables.lineitem(spark, d), lt, "l_orderkey", 8)
      (ot, lt)
    } { case (ot, lt) =>
      if (!spark.sparkContext.isStopped)
        Seq(ot, lt).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }

  /** Declared-query face of the bucketed layout: orders ⋈ lineitem on
    * the order key over tables bucketed (and sorted) by their join
    * keys with matching bucket counts — the join reads co-partitioned
    * buckets and plans WITHOUT a shuffle exchange on either side
    * (PlanSpec pins it), the co-located fact⋈fact join that at 100 TB
    * replaces the two largest shuffles in the plan. Only the final
    * small groupBy(status) aggregation exchanges. */
  def bucketedOrderStats(spark: SparkSession, d: String): DataFrame = {
    import graft.ops.OpsUtil.dsum
    val (ot, lt) = stagedOrderTables(spark, d)
    // merge hint: at production scale neither fact side is
    // broadcastable, so SMJ is the real plan — the hint keeps the
    // harness (tiny SF, where the optimizer would broadcast orders)
    // planning the same co-located bucket join the layout exists for
    spark.table(ot).hint("merge").join(spark.table(lt),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_items"), dsum(col("l_extendedprice")).as("total_price"))
      .orderBy("o_orderstatus")
  }

  def bucketedOrderStatsSql: String =
    """SELECT o_orderstatus, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price
      |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** Write a fact table hive-partitioned by a derived date column —
    * the 100 TB layout for time-series facts: queries filtering on
    * the partition column scan only matching directories (partition
    * pruning), verified in ScaleSpec via the scan's PartitionFilters. */
  def writeDatePartitioned(df: DataFrame, tsCol: String, path: String): Unit =
    df.withColumn("p_date", to_date(col(tsCol)))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("p_date")
      .parquet(path)

  /** Salted aggregation: groupBy(keys + salt) partial, then final
    * groupBy(keys). `sum`-style partials compose.
    *
    * The salt is ROW-LOCAL (monotonically_increasing_id mod factor =
    * round-robin within each input partition), never derived from any
    * data column: a hot key whose rows share one value must still fan
    * out across all `saltFactor` sub-keys, otherwise the mitigation is
    * inert exactly on the skew it exists for. The decimal partial sum
    * keeps the result independent of how rows land in salt buckets. */
  def saltedSum(df: DataFrame, groupCols: Seq[String], valueCol: String,
      saltFactor: Int): DataFrame =
    saltedPartial(df, groupCols, valueCol, saltFactor)
      .groupBy(groupCols.map(col): _*)
      .agg(sum(col("__partial")).cast("double").as(s"sum_$valueCol"))

  /** Declared-query face of salted aggregation: per-type event value
    * sums through the two-stage salted shape — the manual skew
    * mitigation for hot GROUP BY keys (AQE splits skewed JOIN
    * partitions only). The salt changes ONLY the shuffle shape: the
    * decimal partials compose exactly, so the result is bit-identical
    * to the direct aggregate, which is precisely what the oracle
    * replays (a wrong salt design — e.g. salting derived from a data
    * column that doesn't spread, or partials that don't compose —
    * shows up as a hash mismatch or in ScaleSpec's spread assert). */
  def saltedTypeRevenue(spark: SparkSession, d: String): DataFrame =
    saltedSum(graft.Tables.events(spark, d), Seq("event_type"), "value", 8)
      .orderBy("event_type")

  def saltedTypeRevenueSql: String =
    """SELECT event_type,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** First (salted) stage, exposed so ScaleSpec can assert a
    * constant-valued hot key really spreads across salt buckets. */
  def saltedPartial(df: DataFrame, groupCols: Seq[String], valueCol: String,
      saltFactor: Int): DataFrame =
    df.withColumn("__salt",
        pmod(monotonically_increasing_id(), lit(saltFactor.toLong)))
      .groupBy((groupCols :+ "__salt").map(col): _*)
      .agg(sum(col(valueCol).cast("decimal(18,6)")).as("__partial"))

  /** Two-stage salted COLLECT — the salt where it buys the most.
    *
    * For algebraic aggregates (sum/count/min/max) Spark's map-side
    * partial aggregation already collapses a hot key to one row per
    * input partition, so the shuffle never sees the skew. HOLISTIC
    * aggregates — collect_list, the "gather every example of a key"
    * packing shape a training pipeline runs constantly — have no such
    * collapse: partial collect_list still carries every element, so a
    * direct groupBy lands a hot key's ENTIRE row mass on one reduce
    * task. Salting the first stage bounds the max task at
    * ~total/saltFactor (ScaleStressSpec asserts this on actual task
    * shuffle-read metrics, not key spread); the second stage then
    * concatenates `saltFactor` pre-built sub-lists per key — rows
    * cross that exchange already packed into arrays, the cheap shape.
    * array_sort on the result makes the output salt-placement
    * independent (a set-semantics gather, deterministic under any
    * partitioning — same reasoning as the decimal partials above). */
  def saltedCollect(df: DataFrame, groupCols: Seq[String],
      valueCol: String, saltFactor: Int): DataFrame =
    df.withColumn("__salt",
        pmod(monotonically_increasing_id(), lit(saltFactor.toLong)))
      .groupBy((groupCols :+ "__salt").map(col): _*)
      .agg(collect_list(col(valueCol)).as("__sub"))
      .groupBy(groupCols.map(col): _*)
      .agg(array_sort(flatten(collect_list(col("__sub")))).as(s"all_$valueCol"))

  /** Manual SALTED JOIN — the join-side twin of [[saltedSum]], for
    * the regime neither broadcast nor AQE covers: the probe side is
    * hot on a few keys, and the build side is too large to broadcast
    * (AQE's skew split only rewrites shuffle-join partitions it can
    * re-plan; a co-partitioning consumed downstream, or a
    * non-last-stage join, keeps the skewed partition intact). The
    * big side gets a ROW-LOCAL salt (round-robin — the
    * [[saltedPartial]] argument: never derived from data, so a
    * constant-valued hot key still spreads); the small side is
    * REPLICATED once per salt value with a generated column. The
    * join key becomes (key, salt): a hot key's rows now land on
    * `saltFactor` reduce tasks, each holding a full copy of that
    * key's small-side rows — shuffle volume for the small side grows
    * ×saltFactor (it's the small side; that's the trade), the big
    * side's max task shrinks ÷saltFactor. Dropping the salt after
    * the join restores exactly the plain join's multiset. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      saltFactor: Int): DataFrame = {
    val saltedBig = big.withColumn("__salt",
      pmod(monotonically_increasing_id(), lit(saltFactor.toLong)))
    val replicated = small.withColumn("__salt",
      explode(array((0 until saltFactor).map(i => lit(i.toLong)): _*)))
    saltedBig.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** Declared-query face of [[saltedJoin]]: enrich every event with
    * its type's exact (count, decimal sum) aggregate — event_type is
    * the canonical planted-hot-key shape (a handful of distinct
    * values over the whole fact table) — then count the events whose
    * value exceeds their type mean. The comparison is value·cnt >
    * sum in DECIMAL (exact cross-multiplication, no division), so
    * Spark and DuckDB decide every borderline row identically. The
    * merge hint pins the real co-partitioned shuffle-join shape the
    * salt exists for (at harness SF the 5×8-row dim would broadcast
    * and the salt would be moot — the join_bucketed precedent). */
  def saltedJoinAboveMean(spark: SparkSession, d: String): DataFrame = {
    import graft.ops.OpsUtil.dsum
    val ev = graft.Tables.events(spark, d)
    val dim = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,6)")).as("vsum"))
    saltedJoin(
      ev.select(col("event_type"), col("value")),
      dim.hint("merge"), "event_type", 8)
      .where(col("value").cast("decimal(18,6)") * col("cnt") > col("vsum"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_above"))
      .orderBy("event_type")
  }

  def saltedJoinAboveMeanSql: String =
    """SELECT e.event_type, COUNT(*) AS n_above
      |FROM events e
      |JOIN (SELECT event_type, COUNT(*) AS cnt,
      |        SUM(CAST(value AS DECIMAL(18,6))) AS vsum
      |      FROM events GROUP BY event_type) d
      |  ON d.event_type = e.event_type
      |WHERE CAST(e.value AS DECIMAL(18,6)) * d.cnt > d.vsum
      |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin

  /** Declared-query face of [[saltedCollect]]: gather every doc_id of
    * each language through the two-stage salted shape, joined to one
    * string per group so the DuckDB oracle hash-checks the full
    * gathered contents (array columns don't hash portably; a sorted
    * join of BIGINTs does). */
  def saltedLangDocs(spark: SparkSession, d: String): DataFrame =
    saltedCollect(graft.Tables.documents(spark, d), Seq("lang"), "doc_id", 8)
      .select(col("lang"),
        array_join(transform(col("all_doc_id"), _.cast("string")), ",")
          .as("doc_ids"))
      .orderBy("lang")

  def saltedLangDocsSql: String =
    """SELECT lang,
      |  array_to_string(list_sort(list(doc_id)), ',') AS doc_ids
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** Runtime bloom-filter join: a fact⋈fact shuffle join where the
    * selectively-filtered side's join keys are aggregated into a bloom
    * filter and pushed into the OTHER side's scan as a
    * might-contain pre-filter (Catalyst's InjectRuntimeFilter rule).
    * At 100 TB this is the shuffle-volume lever for fact⋈filtered-fact
    * when the filtered side is too big to broadcast but selective
    * enough that most probe rows will not survive: rows are dropped
    * BEFORE the exchange instead of after the join.
    *
    * Conf is applied to a per-call `newSession` clone (shared context
    * and catalog, isolated conf — the same pattern as the streaming
    * sessions): the application-side threshold must drop to 0 for the
    * rule to fire at test scale, and that knob must not leak into
    * other queries' plans. The join is strategy-pinned to merge so
    * the plan (and the injected filter) is stable across SFs — AQE
    * would broadcast the filtered side at sf0.01 and the bloom
    * injection, the thing under test, would vanish. The bloom is
    * false-positive-only, so the result is EXACTLY the plain join;
    * the oracle is the plain SQL. */
  def bloomJoinRevenue(spark: SparkSession, d: String): DataFrame = {
    val s = spark.newSession()
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    // InjectRuntimeFilter declines when the creation side could just
    // be broadcast (broadcast reuse would subsume the bloom); disable
    // auto-broadcast in the CLONE so the test-scale plan is the same
    // shuffle-join-plus-bloom the query would get at real scale,
    // where the filtered fact side is far past any broadcast limit.
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val l = graft.Tables.lineitem(s, d)
    val o = graft.Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
    l.hint("merge").join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count("*").as("n_items"),
        OpsUtil.dsum(col("l_extendedprice")).as("revenue"))
      .orderBy("o_orderstatus")
  }

  def bloomJoinRevenueSql: String =
    """SELECT o_orderstatus, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT'
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** 16-bit × 16-bit Morton (Z-order) interleave, built entirely from
    * codegen'd bitwise `functions` (an unrolled 16-step fold — no UDF,
    * no custom expression needed): bit i of x lands at position 2i,
    * bit i of y at 2i+1. Sorting a write by this key is the standard
    * multi-dimensional clustering layout at 100 TB — files become
    * tight hyper-rectangles in (x, y) space, so min/max file stats
    * prune scans on EITHER key, where a plain sort only prunes its
    * leading column. */
  def zorder16(x: Column, y: Column): Column =
    (0 until 16).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }

  /** The Z-order layout key under the hash gate: z-values over
    * (partkey, suppkey) for a key-bounded slice of lineitem, in the
    * exact order a z-clustered write would lay rows out. The oracle
    * recomputes the interleave independently with per-bit SQL
    * arithmetic (a 16-row bit table cross-joined and summed), so the
    * bit placement itself is what's checked, not a replay of this
    * fold. */
  def zorderKeys(spark: SparkSession, d: String): DataFrame = {
    val l = graft.Tables.lineitem(spark, d)
      .filter(col("l_orderkey") < 2000)
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("l_partkey") % 65536).cast("long").as("x"),
        (col("l_suppkey") % 65536).cast("long").as("y"))
    l.select(col("l_orderkey"), col("l_linenumber"), col("x"), col("y"),
      zorder16(col("x"), col("y")).as("z"))
      .orderBy(col("z"), col("l_orderkey"), col("l_linenumber"),
        col("x"), col("y"))
  }

  /** The full table inventory the compaction planner packs. */
  private val CompactionTables = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events", "documents",
    "embeddings")

  /** Target compaction-group size (compressed bytes). */
  private val CompactionTargetBytes = 2L * 1024 * 1024

  /** Small-file compaction planner — the table-maintenance pass every
    * parquet lake runs (Delta OPTIMIZE / Iceberg rewrite_data_files):
    * read each file's size from its FOOTER (never the data), sort
    * descending, and assign files to target-sized compaction groups by
    * prefix-sum next-fit — bin = floor(bytes-before-me / target), a
    * deterministic greedy that both engines can replay with integer
    * arithmetic (an FFD-style best-fit needs sequential state; the
    * prefix-sum form is the same O(1)-state greedy expressed as a
    * window, which is what makes it distributable). A file larger
    * than the target becomes its own oversized group (files are never
    * split), which simply advances later bin indices.
    *
    * Scale shape: footer reads fan out one task per file; the window
    * runs over the file MANIFEST (one row per file, never data rows) —
    * at 100 TB that is the catalog listing, orders of magnitude
    * smaller than any table. */
  def compactionPlan(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.expressions.Window
    // Derive the manifest by LISTING the SF dir (r13 advice): the
    // DuckDB oracle globs *.parquet, so a hardcoded table list would
    // silently diverge if a fixture dir ever gained or lost a file.
    // Assert the listing matches the documented table set so a drift
    // fails loudly on the Spark side, not as an oracle hash mismatch.
    val fs = new org.apache.hadoop.fs.Path(d)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listed = fs.listStatus(new org.apache.hadoop.fs.Path(d))
      .map(_.getPath.getName).filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).sorted.toSeq
    require(listed == CompactionTables.sorted,
      s"SF dir $d parquet listing $listed != expected $CompactionTables")
    val paths = listed.map(t => (t, s"$d/$t.parquet"))
    val sizes = spark.sparkContext.parallelize(paths, paths.size)
      .map { case (t, p) =>
        val conf = new org.apache.hadoop.conf.Configuration()
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(p), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          val blocks = r.getFooter.getBlocks.asScala.toSeq
          (t, blocks.map(_.getRowCount).sum,
            blocks.flatMap(_.getColumns.asScala).map(_.getTotalSize).sum)
        } finally r.close()
      }.toDF("tbl", "n_rows", "comp_bytes")
    val w = Window.orderBy(col("comp_bytes").desc, col("tbl"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sizes.withColumn("cum", sum(col("comp_bytes")).over(w))
      .select(col("tbl"), col("n_rows"), col("comp_bytes"),
        expr(s"(cum - comp_bytes) div $CompactionTargetBytes").as("bin"))
      .orderBy(col("bin"), col("comp_bytes").desc, col("tbl"))
  }

  /** DuckDB replay off the same footers: parquet_metadata() per-chunk
    * rows → per-file sizes → the identical prefix-sum next-fit. */
  def compactionPlanSql: String =
    s"""WITH rg AS (
       |  SELECT file_name, row_group_id,
       |    MAX(row_group_num_rows) AS rg_rows,
       |    SUM(total_compressed_size) AS rg_bytes
       |  FROM parquet_metadata('__SF_DIR__/*.parquet')
       |  GROUP BY 1, 2),
       |m AS (
       |  SELECT regexp_extract(file_name, '([a-z_]+)\\.parquet', 1) AS tbl,
       |    CAST(SUM(rg_rows) AS BIGINT) AS n_rows,
       |    CAST(SUM(rg_bytes) AS BIGINT) AS comp_bytes
       |  FROM rg GROUP BY 1),
       |c AS (
       |  SELECT tbl, n_rows, comp_bytes,
       |    SUM(comp_bytes) OVER (ORDER BY comp_bytes DESC, tbl
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM m)
       |SELECT tbl, n_rows, comp_bytes,
       |  CAST((cum - comp_bytes) // $CompactionTargetBytes AS BIGINT) AS bin
       |FROM c ORDER BY bin, comp_bytes DESC, tbl""".stripMargin

  // z is folded per row over its 16 bit levels: the synthetic data
  // repeats whole rows (sf0.001 holds (1294, 4, 123, 0) twice), so no
  // column set is a row identity a GROUP BY could fold over.
  def zorderKeysSql: String =
    """WITH src AS (
      |  SELECT l_orderkey, l_linenumber,
      |    CAST(l_partkey % 65536 AS BIGINT) AS x,
      |    CAST(l_suppkey % 65536 AS BIGINT) AS y
      |  FROM lineitem WHERE l_orderkey < 2000)
      |SELECT l_orderkey, l_linenumber, x, y,
      |  CAST(list_sum(list_transform(range(16),
      |    i -> (((x >> i) & 1) << (2 * i)) + (((y >> i) & 1) << (2 * i + 1))))
      |    AS BIGINT) AS z
      |FROM src
      |ORDER BY z, l_orderkey, l_linenumber, x, y""".stripMargin

  /** Declared query `layout_hilbert`: the HILBERT clustering key over
    * the same (partkey, suppkey) slice as [[zorderKeys]] — the layout
    * Z-order's successor uses (Databricks liquid clustering), because
    * the curve has NO seams: consecutive keys are always grid
    * neighbors (HilbertProps proves unit-step adjacency across the
    * full 2^32 walk by sampling plus exhaustive order-6 sweep), so a
    * key-contiguous file is a connected blob with a tight min/max box
    * on BOTH dimensions. Backed by the codegen'd
    * [[graft.functions.HilbertIndexExpr]] — the rotation state that
    * makes Hilbert better than Morton is also what makes it a custom
    * Expression rather than a bitwise Column fold (the fold's (x,y)
    * terms double per bit level). The oracle replays the walk as 16
    * generated CTE steps, one per bit level, each carrying the
    * rotated (x, y) frame — the state machine itself is what the
    * hash gate checks. */
  def hilbertKeys(spark: SparkSession, d: String): DataFrame = {
    val l = graft.Tables.lineitem(spark, d)
      .filter(col("l_orderkey") < 2000)
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("l_partkey") % 65536).cast("long").as("x"),
        (col("l_suppkey") % 65536).cast("long").as("y"))
    l.select(col("l_orderkey"), col("l_linenumber"), col("x"), col("y"),
      graft.functions.Hilbert.hilbert16(col("x"), col("y")).as("h"))
      .orderBy(col("h"), col("l_orderkey"), col("l_linenumber"),
        col("x"), col("y"))
  }

  def hilbertKeysSql: String = {
    // one CTE per bit level i = 15..0, consuming the previous level's
    // rotated frame (x{i+1}, y{i+1}) and accumulated d{i+1}
    val steps = (15 to 0 by -1).map { i =>
      val s = 1L << i
      val (px, py, pd, prev) =
        if (i == 15) ("x", "y", "CAST(0 AS BIGINT)", "src")
        else (s"x${i + 1}", s"y${i + 1}", s"d${i + 1}", s"h${i + 1}")
      s"""h$i AS (
         |  SELECT l_orderkey, l_linenumber, x, y,
         |    $pd + ${s * s} * xor(
         |      3 * (CASE WHEN ($px & $s) > 0 THEN 1 ELSE 0 END),
         |      CASE WHEN ($py & $s) > 0 THEN 1 ELSE 0 END) AS d$i,
         |    CASE WHEN ($py & $s) = 0
         |      THEN (CASE WHEN ($px & $s) > 0 THEN ${s - 1} - $py ELSE $py END)
         |      ELSE $px END AS x$i,
         |    CASE WHEN ($py & $s) = 0
         |      THEN (CASE WHEN ($px & $s) > 0 THEN ${s - 1} - $px ELSE $px END)
         |      ELSE $py END AS y$i
         |  FROM $prev)""".stripMargin
    }
    s"""WITH src AS (
       |  SELECT l_orderkey, l_linenumber,
       |    CAST(l_partkey % 65536 AS BIGINT) AS x,
       |    CAST(l_suppkey % 65536 AS BIGINT) AS y
       |  FROM lineitem WHERE l_orderkey < 2000),
       |${steps.mkString(",\n")}
       |SELECT l_orderkey, l_linenumber, x, y, CAST(d0 AS BIGINT) AS h
       |FROM h0
       |ORDER BY h, l_orderkey, l_linenumber, x, y""".stripMargin
  }
}
