package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Plan-shape regression guards: the scale properties the operators
  * are designed around (predicate pushdown, column pruning, broadcast
  * dimensions, top-k without global sort) asserted on actual plans so
  * a refactor can't silently regress them. */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def scans(df: DataFrame): Seq[FileSourceScanExec] = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan // AQE hides children
      case p => p
    }
    plan.collect { case s: FileSourceScanExec => s }
  }

  test("q1_pricing pushes the shipdate filter to the parquet scan") {
    val meta = scans(RelationalOps.q1Pricing(spark, sf)).head.metadata
    assert(meta("PushedFilters").contains("LessThanOrEqual(l_shipdate"))
  }

  test("q1_pricing prunes to the 7 referenced columns") {
    val schema = scans(RelationalOps.q1Pricing(spark, sf)).head.schema
    assert(schema.size === 7, schema.fieldNames.mkString(","))
  }

  test("q6_forecast (pure-SQL entry path) pushes all filters and prunes the scan") {
    // same plan guarantees as the Column-API queries: the SQL front
    // end must not cost pushdown or pruning
    val s = scans(RelationalOps.q6Forecast(spark, sf)).head
    val pushed = s.metadata("PushedFilters")
    assert(pushed.contains("GreaterThanOrEqual(l_shipdate"), pushed)
    assert(pushed.contains("GreaterThanOrEqual(l_discount"), pushed)
    assert(pushed.contains("LessThan(l_quantity"), pushed)
    assert(s.schema.size === 4, s.schema.fieldNames.mkString(","))
  }

  test("join_semi pushes the status equality predicate to the orders scan") {
    val pushed = scans(RelationalOps.semiJoinCustomers(spark, sf))
      .map(_.metadata("PushedFilters"))
    assert(pushed.exists(_.contains("EqualTo(o_orderstatus,O)")), pushed)
  }

  test("join_bucketed's fact-fact join reads co-partitioned buckets: no shuffle below the join") {
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // inspect the plan BEFORE execution: AQE's materialized stages
    // (QueryStageExec) hide their subtrees from collect()
    val df = ScaleOps.bucketedOrderStats(spark, sf)
    val finalPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val smj = finalPlan.collect { case j: SortMergeJoinExec => j }
    assert(smj.nonEmpty, s"expected a sort-merge join over the bucketed tables:\n$finalPlan")
    val shufflesBelowJoin = smj.head.collect { case s: ShuffleExchangeExec => s }
    assert(shufflesBelowJoin.isEmpty,
      s"bucketed join must not exchange its inputs:\n${smj.head}")
  }

  test("evt_prune's date range is a PARTITION filter: 7 of 30 day-directories scanned") {
    try {
      val df = EventOps.prunedWindow(spark, sf)
      val scan = scans(df).head
      val pf = scan.metadata("PartitionFilters")
      assert(pf.contains("event_date"), s"date range must prune partitions, got: $pf")
      // the week window must touch exactly the 7 matching day-partitions
      // out of the staged 30 — asked of the file index itself, with the
      // scan's own partition filters (deterministic, no execution)
      val selected = scan.relation.location
        .listFiles(scan.partitionFilters, scan.dataFilters)
      assert(selected.length === 7,
        s"expected 7 pruned day-partitions, listed ${selected.length}")
      val total = scan.relation.location.listFiles(Nil, Nil)
      assert(total.length === 30, s"staged layout should hold 30 days, got ${total.length}")
    } finally SharedBuild.releaseAll() // even on a red run
  }

  test("evt_dpp prunes partitions at RUNTIME: dynamicpruning filter, 3 of 30 dirs read") {
    try {
      val df = EventOps.dppTopDays(spark, sf)
      // the fact scan's partition filter must be a DPP subquery (the
      // top-3 days exist only after the dim aggregates)
      val scan = scans(df).head
      val pf = scan.metadata("PartitionFilters")
      assert(pf.contains("dynamicpruning"),
        s"expected a runtime DPP filter on the fact scan, got: $pf")
      // execute THIS plan (toRdd.count; df.count would plan separately),
      // then dig the EXECUTED scan out of the AQE query stages (the
      // final plan hides materialized stages behind leaf wrappers and
      // clones the initial plan's nodes, so neither the pre-execution
      // instance nor a flat collect sees the filled-in metrics)
      df.queryExecution.toRdd.count()
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.QueryStageExec
      def deepScans(p: SparkPlan): Seq[FileSourceScanExec] =
        p.collectWithSubqueries {
          // both wrappers hide their materialized subtree from collect():
          // QueryStageExec behind `plan`, the AQE root behind executedPlan
          case s: FileSourceScanExec => Seq(s)
          case q: QueryStageExec => deepScans(q.plan)
          case a: AdaptiveSparkPlanExec => deepScans(a.executedPlan)
        }.flatten
      val execScan = deepScans(df.queryExecution.executedPlan)
        .filter(_.metadata("PartitionFilters").contains("dynamicpruning"))
      assert(execScan.nonEmpty, "executed plan lost the DPP scan")
      val partsRead = execScan.head.metrics.get("numPartitions").map(_.value)
      assert(partsRead.contains(3L),
        s"DPP should read exactly 3 day-partitions, metrics said $partsRead")
    } finally SharedBuild.releaseAll()
  }

  test("grep's case-insensitive contains stays post-scan (lower() is not pushable)") {
    // documents the tradeoff: reference semantics are case-insensitive
    // (grep_map.py lowercases), and lower(text) blocks parquet
    // pushdown — the filter must run post-scan. If data were known
    // lowercase, dropping lower() would enable StringContains pushdown.
    val meta = scans(TextOps.grep(spark, sf)).head.metadata
    assert(!meta("PushedFilters").contains("StringContains"))
  }

  test("q5 snowflake joins broadcast all three dimensions") {
    val df = RelationalOps.q5RegionRevenue(spark, sf)
    df.count() // finalize AQE
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val broadcasts = plan.collect { case b: BroadcastExchangeExec => b }
    assert(broadcasts.size >= 3, s"expected >=3 broadcasts\n$plan")
  }

  test("top_orders plans as TakeOrderedAndProject (no global sort)") {
    val plan = RelationalOps.topOrders(spark, sf).queryExecution.executedPlan
    assert(plan.toString.contains("TakeOrderedAndProject"), plan.toString)
  }

  /** Spark jobs started while `body` runs, with async listener-bus
    * updates from earlier work drained on both sides. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    Thread.sleep(1000)
    val tracker = spark.sparkContext.statusTracker
    val before = tracker.getJobIdsForGroup(null).length
    val out = body
    Thread.sleep(1000)
    (out, tracker.getJobIdsForGroup(null).length - before)
  }

  test("sim_ann_ivf constructs lazily: no Spark jobs, no driver-side data in the plan") {
    // The r3 verdict's scale-killer: KMeans fit + collect() routing ran
    // JOBS during query *construction*. The rebuilt build/probe split
    // must be a pure lazy plan — index build, routing and ranking all
    // in-DAG.
    // Warm the Tables schema cache first — the one legitimate
    // construction-time job is parquet schema inference on a cold path.
    SimilarityOps.bruteTopK(spark, sf)
    val (df, jobs) = jobsDuring {
      val df = SimilarityOps.annIvf(spark, sf)
      df.queryExecution.analyzed // force analysis too — still no jobs
      df
    }
    assert(jobs === 0, "query construction must not run Spark jobs")
    // collect()-then-parallelize routing would surface as a local scan
    val logical = df.queryExecution.analyzed.toString
    assert(!logical.contains("LogicalRDD") && !logical.contains("LocalRelation"),
      "plan must not embed driver-side materialized data")
  }

  test("graph_kcore constructs lazily on a cold LSH pair build: no Spark jobs of its own") {
    // The peel is one task inside the action; construction only plans.
    // The LSH build's lazy `keys` checkpoint still runs the shuffle
    // stages below it under AQE: the embeddings scan's fan-out, in a
    // session wider than that scan. So kcore's construction may run
    // exactly the jobs the bare build runs, and none more. (That
    // checkpoint also embeds a LogicalRDD, so the plan check of the
    // test above does not apply.)
    SimilarityOps.bruteTopK(spark, sf) // warm the Tables schema cache
    try {
      SharedBuild.releaseBlocks()
      val (_, build) = jobsDuring(GraphOps.cachedLshPairs(spark, sf))
      SharedBuild.releaseBlocks()
      val (_, jobs) = jobsDuring(GraphOps.kcore(spark, sf).queryExecution.analyzed)
      assert(jobs === build, "kcore construction must run no Spark job beyond the LSH build's")
    } finally SharedBuild.releaseBlocks()
  }

  test("token/bigram explodes don't re-tokenize inside pushed-down filters") {
    // Regression guard for the explode-inferred-filter trap: plain
    // explode() infers `size(arr) > 0` and pushes it below the
    // array-building projection, re-running tokenization/bigram
    // building per row inside the Filter. The queries use
    // explode_outer + isNotNull(output) instead — so no Filter in the
    // optimized plan may contain the tokenize/lowercase expressions.
    def filterLines(df: DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.toString.split("\n").toSeq
        .filter(_.contains("Filter "))
    // the trap's signature is a LAMBDA (array build / tokenize) inside
    // a Filter — a plain once-per-row scalar predicate (e.g. the
    // length(pre) >= 2 guard) is legitimate pushdown
    for ((name, df) <- Seq(
        "word_count" -> TextOps.wordCount(spark, sf),
        "distinct_tokens" -> TextOps.distinctTokens(spark, sf),
        "text_lang_ngram" -> TextAnalysisOps.langIdNgram(spark, sf),
        "text_lang_id" -> TextAnalysisOps.langId(spark, sf));
        line <- filterLines(df))
      assert(!line.contains("lambdafunction("),
        s"$name: pushed filter re-runs an array build: ${line.trim.take(200)}")
  }

  test("dedup_minhash verify pass tokenizes candidates only (tokenize above the semi-join)") {
    // Single-tokenize guard (r4 verdict #3): the jaccard-verify
    // re-shingle must semi-join the corpus to candidate ids BEFORE
    // tokenizing — the shingle lambda may not appear anywhere inside
    // the semi-join's subtree, only above it. Otherwise the verify
    // pass tokenizes the whole corpus a second time.
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val fakeCands = spark.createDataFrame(Seq((1L, 2L))).toDF("d1", "d2")
    val plan = DedupOps.candidateShinglePlan(spark, sf, fakeCands)
      .queryExecution.optimizedPlan
    val semi = plan.collectFirst { case j: Join if j.joinType == LeftSemi => j }
    assert(semi.isDefined, s"expected a LeftSemi join in\n$plan")
    assert(!semi.get.toString.contains("lambdafunction("),
      s"tokenize ran below the candidate semi-join:\n${semi.get}")
    assert(plan.toString.contains("lambdafunction("),
      s"expected the shingle lambda above the semi-join:\n$plan")
  }

  test("dedup_minhash's returned plan reads only materialized intermediates") {
    // Both corpus passes (signature build, candidate re-shingle) run
    // exactly once into localCheckpoints at construction; the returned
    // plan must contain NO parquet scan, so downstream consumers
    // (dedup_clusters joins it twice) cannot multiply corpus passes.
    val df = DedupOps.dedupMinhash(spark, sf)
    assert(scans(df).isEmpty,
      s"expected no file scans, got:\n${df.queryExecution.executedPlan}")
  }

  test("sample_stratified keeps only K rows per stratum BEFORE the shuffle (WindowGroupLimit Partial)") {
    // the 100 TB property: a per-lang row_number window with few langs
    // would otherwise globally sort billions of rows per stratum on a
    // handful of reducers. Catalyst's InferWindowGroupLimit inserts a
    // map-side partial top-K (each task forwards ≤ K rows per lang),
    // so the shuffle carries K × langs × tasks rows, not the corpus.
    // This pins the optimization so a refactor (e.g. a rank filter the
    // rule can't see through) fails here instead of at scale.
    val plan = TrainingPrepOps.sampleStratified(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"),
      s"expected a partial WindowGroupLimit below the exchange:\n$plan")
  }

  test("dedup QA cross-check samples are fixed-budget (TakeOrdered, no full sort)") {
    // The quadratic brute-force checks bound their sample with a
    // hash-ordered limit — planned as TakeOrderedAndProject, never a
    // global sort of the corpus.
    val j = DedupOps.dedupNgramJaccard(spark, sf).queryExecution.executedPlan.toString
    val e = DedupOps.dedupEditDistance(spark, sf).queryExecution.executedPlan.toString
    assert(j.contains("TakeOrderedAndProject"), j)
    assert(e.contains("TakeOrderedAndProject"), e)
  }

  test("text_tfidf reuses the tf shuffle at runtime (one tokenize pass)") {
    // tf feeds both the df aggregation and the score join. The two tf
    // subtrees are canonically identical, so AQE must REUSE the
    // (doc_id, term) shuffle stage instead of tokenizing the corpus
    // twice — the single-tokenize property dedup_minhash gets from
    // explicit checkpoints, here provided by exchange reuse. If this
    // breaks (e.g. a refactor makes the branches diverge), the corpus
    // pays a second full scan+explode at 100 TB.
    val df = TextAnalysisOps.tfidf(spark, sf)
    df.queryExecution.toRdd.count() // finalize the AQE plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedQueryStage") || plan.contains("ReusedExchange"),
      s"tf stage not reused — corpus would tokenize twice:\n$plan")
  }

  test("join_range decomposes to a granule EQUI-join: no nested-loop, no cartesian") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    // the naive lo <= p < hi theta-join plans as BNLJ (every probe row
    // tests every interval); the granule decomposition must keep it a
    // hash-partitionable equi-join at any interval-table size
    val plan = RelationalOps.rangeJoinRevenue(spark, sf).queryExecution.executedPlan
    val bad = plan.collect {
      case b: BroadcastNestedLoopJoinExec => b
      case c: CartesianProductExec => c
    }
    assert(bad.isEmpty, s"interval join fell back to ${bad.map(_.nodeName)}")
  }

  test("rec_item_cosine: top-20 is TakeOrdered, co-prune sits under the marginal joins") {
    val plan = RelationalOps.itemCosine(spark, sf).queryExecution.executedPlan.toString
    // heap-select, not a global sort of the pair table
    assert(plan.contains("TakeOrderedAndProject"), plan.take(400))
    // the catalog-sized marginals must not be broadcast-hinted (the
    // basket_lift precedent); a broadcast of `marg` would appear as a
    // BroadcastHashJoin whose build side aggregates inc
    assert(!plan.contains("CartesianProduct"))
  }

  test("mm_phash_dedup: candidates come from the band EQUI-join, never an all-pairs product") {
    val plan = graft.multimodal.MultimodalOps.mmPhashDedup(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      plan.take(500))
  }

  test("profile_columns reads orders ONCE: six distincts through a single Expand scan") {
    // the oracle unions six SELECTs; the Spark plan must not — one
    // FileSourceScan, the multi-count(DISTINCT) folded into one agg
    val n = scans(RelationalOps.profileColumns(spark, sf)).size
    assert(n === 1, s"profiler re-scanned the table: $n scans")
  }

  test("two-phase skyline is partitioning-invariant and correct on a crafted frontier") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // crafted points: (date, price) with a known Pareto frontier —
    // 40 is dominated by 30 (same date, higher price), 10 by every
    // later-or-equal-priced point; frontier = {30, 20, 50}
    val pts = Seq(
      (10L, 100L, 5.0), (20L, 200L, 9.0), (30L, 300L, 7.0),
      (40L, 300L, 6.0), (50L, 50L, 11.0), (60L, 150L, 8.0))
      .toDF("o_orderkey", "dms", "price")
      .select(col("o_orderkey"), col("dms"),
        col("price").cast("decimal(18,6)").as("p"))
    def run(df: org.apache.spark.sql.DataFrame) =
      RelationalOps.skylineOn(df).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val base = run(pts.repartition(1))
    assert(base.map(_._1) === Seq(30L, 20L, 50L),
      s"wrong frontier: $base")
    // phase 1 only removes dominated points — ANY partitioning of the
    // input yields the identical global frontier
    (2 to 7 by 5).foreach { n =>
      assert(run(pts.repartition(n)) === base, s"partitioning $n diverged")
    }
  }
}
