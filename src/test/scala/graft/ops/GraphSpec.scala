package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** PageRank over near-dup pair graphs: mass conservation, centrality
  * ordering, and the bit-reproducibility the quantized contribution
  * sum exists to provide. */
class GraphSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // a star (hub 1 ↔ leaves 2..6) plus a disjoint 2-cycle (10 ↔ 11)
  private def starPairs = Seq(
    (1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L), (1L, 6L), (10L, 11L))
    .toDF("d1", "d2")

  test("pagerank conserves rank mass on a symmetric graph") {
    val ranks = GraphOps.pagerankOnPairs(starPairs).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // symmetric graph, no dangling nodes: every round redistributes
    // all mass, so Σr stays |V| up to the 1e-9 contribution quantum
    assert(math.abs(ranks.values.sum - ranks.size) < 1e-6,
      s"rank mass drifted: ${ranks.values.sum} over ${ranks.size} nodes")
  }

  test("pagerank ranks the hub above the leaves, and symmetric peers equally") {
    val ranks = GraphOps.pagerankOnPairs(starPairs).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert((2L to 6L).forall(l => ranks(1L) > ranks(l)),
      s"hub must out-rank leaves: $ranks")
    // the five leaves are automorphic — identical rank to the bit
    assert((3L to 6L).forall(l => ranks(l) == ranks(2L)))
    // the 2-cycle is regular: both nodes hold exactly rank 1 forever
    assert(math.abs(ranks(10L) - 1.0) < 1e-9 && ranks(10L) == ranks(11L))
  }

  test("pagerank is bit-identical across partitionings (quantized sums)") {
    val base = GraphOps.pagerankOnPairs(starPairs).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val shuffled = GraphOps.pagerankOnPairs(starPairs.repartition(7)).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    // == on doubles, not approx: the 1e-9 quantization makes every
    // round's reduce order-independent, so any partitioning must give
    // the same bits
    assert(base.sorted.sameElements(shuffled.sorted))
  }

  test("triangle counts and clustering coefficients on known shapes") {
    // K4 on 1..4 (every node: deg 3, 3 triangles, coeff 1.0) plus a
    // path 10-11-12 (ends: deg 1 coeff 0; middle: deg 2, no triangle)
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val pairs = (k4 ++ Seq((10L, 11L), (11L, 12L))).toDF("d1", "d2")
    val rows = GraphOps.trianglesOnPairs(pairs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    (1L to 4L).foreach { v =>
      assert(rows(v) === ((3L, 3L, 1.0)), s"K4 node $v")
    }
    assert(rows(10L) === ((1L, 0L, 0.0)))
    assert(rows(11L) === ((2L, 0L, 0.0)), "path middle: degree 2, no triangle")
    assert(rows(12L) === ((1L, 0L, 0.0)))
  }

  test("assortativity: star is perfectly disassortative, regular graph is NULL") {
    // K1,5: every edge joins the deg-5 hub to a deg-1 leaf → r = −1
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L), (1L, 6L)).toDF("d1", "d2")
    val r = GraphOps.assortativityOnPairs(star).collect()(0)
    assert(r.getLong(0) === 5L)
    assert(math.abs(r.getDouble(1) - (-1.0)) < 1e-9, s"star r: ${r.getDouble(1)}")
    // 2-cycle: all degrees equal → zero variance → NULL, not NaN/Inf
    val cyc = Seq((10L, 11L)).toDF("d1", "d2")
    val rc = GraphOps.assortativityOnPairs(cyc).collect()(0)
    assert(rc.isNullAt(1), "regular graph must yield NULL assortativity")
  }

  test("clustering: K4 coefficient 1.0 per degree-3 node, open path middle 0") {
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val pairs = (k4 ++ Seq((10L, 11L), (11L, 12L))).toDF("d1", "d2")
    val rows = GraphOps.clusteringOnPairs(pairs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(rows(3L) === ((4L, 1.0)), "K4: four deg-3 nodes, avg C = 1")
    assert(rows(2L) === ((1L, 0.0)), "path middle: deg 2, no closing edge")
    assert(!rows.contains(1L), "deg-1 nodes have no defined coefficient")
  }

  test("bfs: roots, shortest distances, multi-component, and the hop-cap horizon") {
    // a 13-node path 0-1-...-12 (diameter 12 > BfsRounds 8) plus the
    // disjoint star/2-cycle — pins all three declared semantics:
    // shortest hop counts, per-component roots, and the capped
    // horizon (a vertex farther than 8 hops from the true component
    // minimum reports the best label within 8 hops)
    val P = 100L // path ids offset clear of the star/cycle ids
    val path = (0L until 12L).map(i => (P + i, P + i + 1)).toDF("d1", "d2")
    val rows = GraphOps.bfsOnPairs(path.union(starPairs)).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // path component: nodes within the horizon see root P at their
    // true hop distance; past it, the best visible root is 8 back
    (0L to 8L).foreach(i => assert(rows(P + i) === ((P, i)), s"node ${P + i}"))
    (9L to 12L).foreach(i => assert(rows(P + i) === ((P + i - 8L, 8L)), s"node ${P + i}"))
    // star component: root 1, leaves at 1 hop; 2-cycle: root 10
    assert(rows(1L) === ((1L, 0L)))
    (2L to 6L).foreach(l => assert(rows(l) === ((1L, 1L)), s"leaf $l"))
    assert(rows(10L) === ((10L, 0L)) && rows(11L) === ((10L, 1L)))
    // bit-identical across partitionings: encoded min is order-free
    val repart = GraphOps.bfsOnPairs(path.union(starPairs).repartition(13))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(repart === rows)
  }

  test("bfs early-exits once a round improves nothing, and still matches the full run") {
    // a 3-node path 0-1-2: labels settle after round 2 (node 2 takes
    // root 0 via two hops), round 3 proves the fixpoint → 3 rounds run
    // of the 8 budgeted. The star+cycle settles in round 1, so round
    // 2 itself is the fixpoint proof. Early exit must be invisible in
    // the output (converged rounds are identity), which the
    // exhaustive-run comparison pins.
    val path2 = Seq((0L, 1L), (1L, 2L)).toDF("d1", "d2")
    val (df2, rounds2) = GraphOps.bfsOnPairsCounted(path2)
    assert(rounds2 === 3, s"2-hop path should settle in 3 rounds, ran $rounds2")
    val rows2 = df2.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rows2 === Map(0L -> ((0L, 0L)), 1L -> ((0L, 1L)), 2L -> ((0L, 2L))))
    val (dfs, roundsS) = GraphOps.bfsOnPairsCounted(starPairs)
    assert(roundsS === 2, s"star/cycle should settle in 2 rounds, ran $roundsS")
    assert(dfs.collect().map(_.toSeq) ===
      GraphOps.bfsOnPairs(starPairs, rounds = 8).collect().map(_.toSeq))
  }

  test("pair-graph cache: one persisted table per dir, shared, evictable, stable") {
    // exact getPersistentRDDs counts are flaky here: the pipeline's
    // transient localCheckpoint RDDs register there too and the
    // ContextCleaner unpersists them asynchronously — so assert the
    // cache's actual contract: one shared persisted instance per
    // (session, dir), rebuilt fresh after eviction, identical results.
    val sf = "/root/testdata/sf0.001"
    SharedBuild.releaseBlocks()
    val first = GraphOps.pagerank(spark, sf).collect().toSeq
    val p1 = GraphOps.cachedPairs(spark, sf)
    assert(p1.storageLevel.useMemory, "pair table must be persisted")
    assert(GraphOps.cachedPairs(spark, sf) eq p1,
      "pagerank and triangles must share ONE cached pair table per dir")
    val second = GraphOps.triangles(spark, sf).collect().toSeq
    assert(GraphOps.pagerank(spark, sf).collect().toSeq === first,
      "repeat rank must return identical results")
    SharedBuild.releaseBlocks()
    val p2 = GraphOps.cachedPairs(spark, sf)
    assert(!(p2 eq p1), "eviction must drop the cached instance")
    assert(GraphOps.triangles(spark, sf).collect().toSeq === second,
      "post-evict probes rebuild and still agree")
    SharedBuild.releaseBlocks()
  }

  test("LSH pair cache: linkpred, labelprop, and kcore share one build, evictable, stable") {
    // third instance of the build-once contract: the embedding-LSH
    // graph is probed by three declared queries and must be built once
    val sf = "/root/testdata/sf0.001"
    SharedBuild.releaseBlocks()
    val pred = GraphOps.linkPred(spark, sf).collect().toSeq
    val l1 = GraphOps.cachedLshPairs(spark, sf)
    assert(l1.storageLevel.useMemory, "LSH pair table must be persisted")
    assert(GraphOps.cachedLshPairs(spark, sf) eq l1,
      "linkpred, labelprop, kcore must share ONE cached LSH pair table per dir")
    val cores = GraphOps.kcore(spark, sf).collect().toSeq
    val labels = GraphOps.labelProp(spark, sf).collect().toSeq
    SharedBuild.releaseBlocks()
    assert(!(GraphOps.cachedLshPairs(spark, sf) eq l1),
      "eviction must drop the cached instance")
    assert(GraphOps.linkPred(spark, sf).collect().toSeq === pred)
    assert(GraphOps.kcore(spark, sf).collect().toSeq === cores)
    assert(GraphOps.labelProp(spark, sf).collect().toSeq === labels)
    SharedBuild.releaseBlocks()
  }

  test("cluster-label cache: shared across the cluster queries, evictable, stable") {
    // same contract as the pair cache one test up: dedup_clusters and
    // dedup_cluster_sizes must probe ONE persisted CC label table per
    // (session, dir) — the r12 verdict's double-rebuild fix — and
    // eviction must force a fresh, identical rebuild.
    val sf = "/root/testdata/sf0.001"
    SharedBuild.releaseBlocks()
    val clusters = DedupOps.dedupClusters(spark, sf).collect().toSeq
    val l1 = DedupOps.cachedClusterLabels(spark, sf)
    assert(l1.storageLevel.useMemory, "label table must be persisted")
    assert(DedupOps.cachedClusterLabels(spark, sf) eq l1,
      "dedup_clusters and dedup_cluster_sizes must share ONE label table per dir")
    val sizes = DedupOps.clusterSizes(spark, sf).collect().toSeq
    // cross-check: histogram mass equals the corpus size
    assert(sizes.map(r => r.getLong(2)).sum === clusters.size.toLong,
      "cluster-size histogram must cover every document exactly once")
    SharedBuild.releaseBlocks()
    val l2 = DedupOps.cachedClusterLabels(spark, sf)
    assert(!(l2 eq l1), "eviction must drop the cached instance")
    assert(DedupOps.dedupClusters(spark, sf).collect().toSeq === clusters,
      "post-evict probes rebuild and still agree")
    SharedBuild.releaseBlocks()
  }

  test("20-round pagerank keeps a bounded plan via periodic lineage cuts") {
    // without the every-5-rounds localCheckpoint the final plan nests
    // all 20 join+agg segments and optimizer time grows quadratically
    // with rounds; with it the plan covers at most the last 5 rounds
    val df = GraphOps.pagerankOnPairs(starPairs, rounds = 20)
    val joins = df.queryExecution.executedPlan.collect {
      case j if j.getClass.getSimpleName.contains("Join") => j
    }
    assert(joins.size <= 5,
      s"20-round plan should cover at most one 5-round segment, saw ${joins.size} joins")
    // the cuts are numerically inert: mass is still conserved after 20
    // rounds (symmetric graph, no dangling nodes)
    val ranks = df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(ranks.values.sum - ranks.size) < 1e-6,
      s"rank mass drifted over 20 rounds: ${ranks.values.sum} over ${ranks.size}")
    // and a 5-round run is bit-identical with and without the cut path
    // (5 rounds never triggers a cut - the declared query's plan shape
    // is untouched by this feature)
    val base = GraphOps.pagerankOnPairs(starPairs).collect().toSeq
    val explicit = GraphOps.pagerankOnPairs(starPairs, rounds = 5).collect().toSeq
    assert(base === explicit)
  }

  test("graph plan shapes are identical with the pair cache cold and materialized") {
    // the r7 red artifact: an unhinted plan flipped broadcast↔SMJ with
    // the warmth of the shared pair cache (unmaterialized IMR = plan
    // estimate, materialized = actual bytes). The hints in GraphOps pin
    // every join strategy; this probes BOTH states and demands one shape.
    val sf = "/root/testdata/sf0.001"
    import graft.tools.PlanFingerprint
    for (name <- Seq("graph_pagerank", "graph_triangles")) {
      SharedBuild.releaseBlocks()
      val cold = PlanFingerprint.of(graft.SparkEntry.queries(name)(spark, sf))
      GraphOps.cachedPairs(spark, sf).count() // materialize → real stats
      val warm = PlanFingerprint.of(graft.SparkEntry.queries(name)(spark, sf))
      assert(cold === warm,
        s"$name plan is cache-state-dependent:\n  cold: [$cold]\n  warm: [$warm]")
    }
    SharedBuild.releaseBlocks()
  }

  test("past the vertex gate pagerank flips to the pinned shuffle-reuse plan, bit-identically") {
    // the r10 weak item: broadcast(ranks) is a per-round driver collect
    // of |V| rows, a scale-killer once |V| outgrows the gate. A wide
    // synthetic graph (ring of 240 + chords) forced over a tiny gate
    // must (a) pick the pinned shuffled-hash plan with NO broadcast
    // anywhere, and (b) produce the exact bits of the broadcast plan —
    // the 1e-9 quantization makes the reduce order-independent.
    val wide = (0L until 240L).flatMap(i =>
      Seq((i, (i + 1) % 240), (i, (i + 7) % 240))).toDF("d1", "d2")
    val viaBroadcast = GraphOps.pagerankOnPairs(wide)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sorted
    val sharded = GraphOps.pagerankOnPairs(wide, broadcastVertexLimit = 8)
    val viaShuffle = sharded.collect().map(r => (r.getLong(0), r.getDouble(1))).sorted
    assert(viaBroadcast.sameElements(viaShuffle),
      "the two pinned plan modes must agree to the bit")
    import graft.tools.PlanFingerprint
    val fp = PlanFingerprint.of(GraphOps.pagerankOnPairs(wide, broadcastVertexLimit = 8))
    assert(fp.contains("ShuffledHashJoin"),
      s"large-|V| mode must use the pinned shuffled hash join: [$fp]")
    assert(!fp.contains("Broadcast"),
      s"large-|V| mode must keep |V|-sized data off the driver: [$fp]")
    // and the gate itself is pinned: the default (small-|V|) plan still
    // broadcasts and never shuffled-hash-joins
    val fpSmall = PlanFingerprint.of(GraphOps.pagerankOnPairs(wide))
    assert(fpSmall.contains("BroadcastHashJoin") && !fpSmall.contains("ShuffledHashJoin"),
      s"small-|V| mode must keep the broadcast plan: [$fpSmall]")
    // BFS and label propagation ride the same gate. Their rounds sit
    // behind lazy checkpoints, so the joins show in the checkpointed
    // plans, not in the returned frame's
    val loops = Seq[(String, Long => (org.apache.spark.sql.DataFrame, Int))](
      "bfs" -> (limit => GraphOps.bfsOnPairsCounted(wide, broadcastVertexLimit = limit)),
      "labelprop" -> (limit => GraphOps.labelPropOnPairsCounted(wide, broadcastVertexLimit = limit)))
    for ((name, run) <- loops) {
      val (small, smallJoins) = checkpointedJoins(run(1L << 20))
      val (big, bigJoins) = checkpointedJoins(run(8L))
      assert(small._1.collect().toSeq === big._1.collect().toSeq,
        s"$name: the two pinned plan modes must agree to the bit")
      assert(small._2 === big._2, s"$name: both modes must run the same rounds")
      assert(bigJoins.contains("ShuffledHashJoin") && !bigJoins.contains("BroadcastHashJoin"),
        s"$name: large-|V| rounds must use the pinned shuffled hash join: $bigJoins")
      assert(smallJoins.contains("BroadcastHashJoin") && !smallJoins.contains("ShuffledHashJoin"),
        s"$name: small-|V| rounds must keep the broadcast plan: $smallJoins")
    }
  }

  /** Runs `body` and returns its value with the join operators of
    * every plan it checkpointed (a listener sees each checkpoint's
    * executed plan; listener events arrive asynchronously, so the
    * collection waits for a quiet bus: a probe query's own event). */
  private def checkpointedJoins[T](body: => T): (T, Set[String]) = {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.util.QueryExecutionListener
    val joins = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val probed = new java.util.concurrent.CountDownLatch(1)
    val probe = s"probe-${System.nanoTime()}"
    def names(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => names(a.executedPlan)
      case q: QueryStageExec => names(q.plan)
      case _ => p.getClass.getSimpleName.stripSuffix("Exec") +: p.children.flatMap(names)
    }
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
        if (funcName == "localCheckpoint")
          names(qe.executedPlan).filter(_.endsWith("Join")).foreach(joins.add)
        else if (funcName == "collect" && qe.analyzed.toString.contains(probe))
          probed.countDown()
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = body
      Seq(probe).toDF(probe).collect() // the bus delivers in order
      assert(probed.await(30, java.util.concurrent.TimeUnit.SECONDS), "listener bus never drained")
      import scala.jdk.CollectionConverters._
      (out, joins.asScala.toSet)
    } finally spark.listenerManager.unregister(listener)
  }

  test("labelprop: the self-vote breaks the 2-cycle oscillation in one round") {
    // without the self-vote, synchronous updates on a couple swap
    // labels forever; with it both tie and adopt the min in round 1,
    // and round 2 is the no-change fixpoint probe
    val couple = Seq((10L, 11L)).toDF("d1", "d2")
    val (df, rounds) = GraphOps.labelPropOnPairsCounted(couple)
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted ===
      Seq((10L, 10L), (11L, 10L)))
    assert(rounds === 2, s"couple must fix in round 1 + 1 probe round, ran $rounds")
  }

  test("labelprop: a bridge vertex joins its MAJORITY side, not the min label") {
    // two triangles A={1,2,3} (→ label 1) and B={4,5,6} (→ label 4);
    // bridge 100 sees three B neighbors and one A neighbor. Round 1
    // gives it the min (1); once B converges, the 3-vote majority
    // must overturn that smaller label — the behavior that separates
    // LPA from connected-components min-flooding.
    val tri = (g: Seq[Long]) => Seq((g(0), g(1)), (g(1), g(2)), (g(0), g(2)))
    val pairs = (tri(Seq(1L, 2L, 3L)) ++ tri(Seq(4L, 5L, 6L)) ++
      Seq((1L, 100L), (4L, 100L), (5L, 100L), (6L, 100L))).toDF("d1", "d2")
    val (df, rounds) = GraphOps.labelPropOnPairsCounted(pairs)
    val labels = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L).forall(labels(_) == 1L), s"A side: $labels")
    assert(Seq(4L, 5L, 6L).forall(labels(_) == 4L), s"B side: $labels")
    assert(labels(100L) === 4L, s"bridge must follow the 3-vote majority: $labels")
    assert(rounds <= GraphOps.labelPropOnPairsCounted(pairs, rounds = 8)._2,
      "capped rounds never exceed the budget")
  }

  test("kcore: K4 heart, cycle shell, and pendant chain stratify as 3/2/1") {
    def coreness(edges: Seq[(Long, Long)], rounds: Option[Int]): Map[Long, Long] = {
      val pairs = edges.toDF("d1", "d2")
      rounds.fold(GraphOps.kcoreOnPairs(pairs))(r => GraphOps.kcoreOnPairs(pairs, rounds = r))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val heart = (1L to 4L).map(_ -> 3L).toMap
    // K4 on 1..4 (3-core), a 4-cycle 5-6-7-8 hanging off vertex 1 via
    // edge (1,5) (2-core but not 3), and a pendant chain 20-21-22
    // (peels entirely at k=2 → coreness 1). The chain needs TWO
    // peel rounds at k=2 (22 falls first, then 21) — exercising the
    // iterated peel, not just the first degree filter. A larger round
    // budget must not change it: the peel reaches its fixpoint first.
    val shells = k4 ++ Seq((5L, 6L), (6L, 7L), (7L, 8L), (5L, 8L), (1L, 5L)) ++
      Seq((20L, 21L), (21L, 22L))
    val shellCores = heart ++ (5L to 8L).map(_ -> 2L) ++ (20L to 22L).map(_ -> 1L)
    // A pendant path 4-30-31-32-33-34-35 sheds one vertex per round at
    // k=2, so the capped default rounds leave 30 and 31 in the 2-core
    // while 8 rounds peel the whole path: the cap is semantics, not a
    // fixpoint the peel would reach anyway.
    val path = k4 ++ (4L +: (30L to 35L)).sliding(2).map(p => (p(0), p(1))).toSeq
    for ((name, edges, rounds, want) <- Seq(
        ("shells, default rounds", shells, None, shellCores),
        ("shells, 8 rounds", shells, Some(8), shellCores),
        ("path, default rounds", path, None,
          heart ++ Map(30L -> 2L, 31L -> 2L) ++ (32L to 35L).map(_ -> 1L)),
        ("path, 8 rounds", path, Some(8), heart ++ (30L to 35L).map(_ -> 1L))))
      assert(coreness(edges, rounds) === want, name)
  }

  test("declared graph_pagerank runs on the sf0.001 corpus (edge-induced nodes only)") {
    val df = GraphOps.pagerank(spark, "/root/testdata/sf0.001")
    val rows = df.collect()
    val pairDocs = DedupOps.dedupMinhash(spark, "/root/testdata/sf0.001")
      .select("d1", "d2").collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(rows.map(_.getLong(0)).toSet === pairDocs,
      "rank exactly the nodes of the near-dup pair graph")
    assert(rows.forall(_.getDouble(1) > 0))
  }
}
