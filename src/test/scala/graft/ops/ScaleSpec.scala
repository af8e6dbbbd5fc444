package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkTestSession, Tables}

/** Evidence for the 100 TB design claims: bucketed joins plan without
  * a shuffle, and salted aggregation matches the direct aggregate. */
class ScaleSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("bucketed fact-fact join contains no shuffle exchange") {
    ScaleOps.writeBucketed(Tables.lineitem(spark, sf), "li_bucketed", "l_orderkey", 8)
    ScaleOps.writeBucketed(
      Tables.orders(spark, sf).withColumnRenamed("o_orderkey", "l_orderkey"),
      "ord_bucketed", "l_orderkey", 8)
    val joined = ScaleOps.bucketedJoin(spark, "li_bucketed", "ord_bucketed", "l_orderkey")
    assert(joined.count() > 0)
    val plan = joined.queryExecution.executedPlan
    val finalPlan = plan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val shuffles = finalPlan.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.isEmpty,
      s"expected exchange-free bucketed join, found ${shuffles.size} shuffles:\n$finalPlan")
  }

  private def bucketedStage: Seq[String] =
    SharedBuild.live[(String, String)]("bucketed").flatMap { case (o, l) => Seq(o, l) }

  test("evicting the bucketed stage drops its catalog tables and files; re-stage works") {
    // the r10 litter item: a long-lived session accumulates two
    // graft_bkt_* tables per (session, dir) staged, with nothing
    // pointing at old ones after a dir switch — eviction must leave
    // the catalog clean AND delete the managed-table directories
    ScaleOps.bucketedOrderStats(spark, sf).count() // stage
    val staged = bucketedStage
    assert(staged.nonEmpty, "staging must register its tables in the cache")
    val live = spark.catalog.listTables().collect().map(_.name).toSet
    assert(staged.forall(t => live.contains(t)), s"staged tables $staged not in catalog")
    val locations = staged.map(t =>
      new java.io.File(new java.net.URI(
        spark.sql(s"DESCRIBE EXTENDED $t").filter(col("col_name") === "Location")
          .head().getString(1))))
    assert(locations.forall(_.isDirectory))
    SharedBuild.releaseAll()
    val after = spark.catalog.listTables().collect().map(_.name).toSet
    assert(bucketedStage.isEmpty)
    assert(!after.exists(_.startsWith("graft_bkt_")),
      s"eviction left catalog litter: ${after.filter(_.startsWith("graft_bkt_"))}")
    assert(locations.forall(!_.exists()),
      "DROP on a managed table must delete its warehouse files")
    // the stage rebuilds on next use, with fresh names, same answers
    val again = ScaleOps.bucketedOrderStats(spark, sf).collect()
    assert(again.nonEmpty && bucketedStage.nonEmpty)
    assert((bucketedStage.toSet & staged.toSet).isEmpty,
      "re-stage must mint fresh table names, never reuse dropped ones")
  }

  test("non-bucketed equivalent of the same join DOES shuffle (control)") {
    val li = Tables.lineitem(spark, sf)
    val ord = Tables.orders(spark, sf).withColumnRenamed("o_orderkey", "l_orderkey")
    // disable broadcast so the control exercises the shuffle path
    val joined = li.hint("merge").join(ord, "l_orderkey")
    joined.count()
    val finalPlan = joined.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    assert(finalPlan.collect { case s: ShuffleExchangeExec => s }.nonEmpty)
  }

  test("date-partitioned layout prunes partitions on a date filter") {
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString
    ScaleOps.writeDatePartitioned(Tables.events(spark, sf), "ts", dir)
    val filtered = spark.read.parquet(dir)
      .filter(col("p_date") === "2024-01-03")
    assert(filtered.count() > 0)
    val plan = filtered.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scan = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    // partition filter present, and only one of the ~30 day-partitions read
    assert(scan.metadata("PartitionFilters").contains("p_date"))
    val nSelected = scan.selectedPartitions.partitionCount
    assert(scan.relation.location.inputFiles.length > nSelected,
      "expected pruning to skip partitions")
    assert(nSelected === 1)
  }

  test("salted aggregation equals direct aggregation") {
    val li = Tables.lineitem(spark, sf)
    val direct = li.groupBy("l_returnflag")
      .agg(sum(col("l_quantity").cast("decimal(18,6)")).cast("double")
        .as("sum_l_quantity"))
    val salted = ScaleOps.saltedSum(li, Seq("l_returnflag"), "l_quantity", 16)
    assert(salted.exceptAll(direct).isEmpty && direct.exceptAll(salted).isEmpty)
  }

  test("salted join equals the plain join on planted-hot-key data") {
    import spark.implicits._
    // 90% of rows share one key; the dim has per-key payloads. The
    // salt must be join-neutral: same multiset as the plain join.
    val big = spark.range(20000).select(
      when(col("id") % 10 =!= 0, lit("HOT"))
        .otherwise(concat(lit("k"), pmod(col("id"), lit(50L)).cast("string")))
        .as("k"),
      col("id").as("v"))
    val dim = (Seq("HOT") ++ (0 until 50).map(i => s"k$i"))
      .zipWithIndex.map { case (k, i) => (k, i * 7) }.toDF("k", "w")
    val plain = big.join(dim, "k")
    val salted = ScaleOps.saltedJoin(big, dim, "k", 8)
      .select(plain.columns.map(col): _*)
    assert(salted.count() === plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
    // and the salted plan really joins on (key, salt): the small side
    // was replicated 8x, so each (key, salt) pair appears once
    val rep = ScaleOps.saltedJoin(big, dim, "k", 8)
    assert(rep.columns.toSeq === Seq("k", "v", "w"), "salt column must not leak")
  }

  test("constant-valued hot key spreads across all salt buckets") {
    import spark.implicits._
    // the adversarial case for value-derived salts: ONE key, ONE value,
    // many rows — a real mitigation must still use every sub-key
    val hot = Seq.fill(10000)(("hot", 1.0)).toDF("k", "v").repartition(4)
    val buckets = ScaleOps.saltedPartial(hot, Seq("k"), "v", 16)
      .select("__salt").distinct().count()
    assert(buckets === 16, s"hot key used only $buckets of 16 salt buckets")
    val total = ScaleOps.saltedSum(hot, Seq("k"), "v", 16)
      .select(s"sum_v").as[Double].head()
    assert(total === 10000.0)
  }

  test("join_bloom injects a runtime bloom filter on the probe side") {
    val df = ScaleOps.bloomJoinRevenue(spark, sf)
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.toLowerCase.contains("bloomfilter"),
      s"expected an injected BloomFilterMightContain/Aggregate in:\n$optimized")
    // the bloom is a pre-filter only: results equal the plain join
    val plain = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf)
        .filter(col("o_orderpriority") === "1-URGENT"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count("*").as("n_items"))
    val got = df.select("o_orderstatus", "n_items")
    assert(got.exceptAll(plain).isEmpty && plain.exceptAll(got).isEmpty)
  }

  test("layout_compaction: footer sizes are real and the next-fit replays in Scala") {
    val rows = ScaleOps.compactionPlan(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length === 10, "one plan row per table")
    val byTbl = rows.map(r => r._1 -> r._2).toMap
    assert(byTbl("events") === 1000L && byTbl("documents") === 500L,
      "footer row counts must match the known sf0.001 cardinalities")
    assert(rows.forall(_._3 > 0), "every file has a positive compressed size")
    // independent next-fit replay over the reported sizes
    val target = 2L * 1024 * 1024
    var cum = 0L
    rows.sortBy(r => (-r._3, r._1)).foreach { case (tbl, _, bytes, bin) =>
      assert(bin === cum / target, s"$tbl bin (cum=$cum)")
      cum += bytes
    }
  }

  test("z-order layout prunes on EITHER dimension; a plain sort only its own") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // The claim behind layout_zorder: split a sorted write into 16
    // chunks (stand-ins for files, each carrying min/max stats). A
    // point predicate prunes every chunk whose [min,max] misses the
    // point. On a 256×256 grid, x-sorted chunks prune x perfectly
    // (1/16 survives) but NEVER prune y (every chunk spans the full y
    // range); 16 z-sorted chunks are the level-2 quadtree — a 4×4
    // grid of 64×64 cells — so ANY point predicate on x OR y keeps
    // only the 4 chunks in that band. That either-dimension bound is
    // what the 100 TB layout buys.
    val grid = spark.range(256L * 256)
      .select((col("id") % 256).as("x"), (col("id") / 256).cast("long").as("y"))
    val n = 16L
    def chunkBounds(sorted: org.apache.spark.sql.DataFrame) = {
      val w = Window.orderBy(col("ord"))
      sorted.withColumn("rn", row_number().over(w) - 1)
        .withColumn("chunk", expr(s"rn * $n div ${256 * 256}"))
        .groupBy("chunk")
        .agg(min("x").as("x0"), max("x").as("x1"),
          min("y").as("y0"), max("y").as("y1"))
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    }
    def surviving(bounds: Array[(Long, Long, Long, Long)],
        xPt: Option[Long], yPt: Option[Long]): Int =
      bounds.count { case (x0, x1, y0, y1) =>
        xPt.forall(p => x0 <= p && p <= x1) && yPt.forall(p => y0 <= p && p <= y1)
      }
    val zB = chunkBounds(grid.withColumn("ord",
      ScaleOps.zorder16(col("x"), col("y"))))
    val xB = chunkBounds(grid.withColumn("ord", col("x")))
    for (p <- Seq(7L, 100L, 200L, 255L)) {
      // z-sorted: both dimensions prune to the 4-chunk band
      assert(surviving(zB, Some(p), None) === 4, s"z x=$p")
      assert(surviving(zB, None, Some(p)) === 4, s"z y=$p")
      // x-sorted: its own column prunes perfectly, y not at all
      assert(surviving(xB, Some(p), None) === 1, s"x x=$p")
      assert(surviving(xB, None, Some(p)) === 16, s"x y=$p")
    }
  }
}
