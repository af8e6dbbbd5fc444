package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Iterative graph analytics over the near-duplicate pair graph —
  * the missing shape between one-shot relational queries and the
  * fixpoint label propagation of [[DedupOps.dedupClusters]]: a
  * FIXED-round iterative computation whose per-round arithmetic must
  * be bit-reproducible on any cluster.
  *
  * The concrete operator is PageRank over the jaccard-verified
  * MinHash pair graph ([[DedupOps.dedupMinhash]], symmetrized). The
  * pipeline use: canonical-representative selection — inside a
  * near-dup cluster the highest-centrality member is the "most
  * connected" variant, a principled alternative to keep-lowest-id
  * when choosing which duplicate to retain.
  *
  * Scale shape: edges are materialized once (lazy localCheckpoint,
  * the [[DedupOps.dedupMinhash]] pattern) and each round is one
  * equi-join (rank × edge, keyed on src) plus one aggregation (keyed
  * on dst) — the standard distributed PR round. Past the
  * [[BroadcastVertexLimit]] vertex gate the edge table IS
  * hash-partitioned by src once and every round's shuffled hash join
  * reuses that partitioning; under it, ranks broadcast (|V| ≪ |E|
  * for the near-dup graph). Contributions are 1e-9-quantized to
  * BIGINT before the sum
  * (the [[SimilarityOps]] centroid trick), so the reduce is
  * order-independent and Spark (any partitioning) and DuckDB
  * (single-node) produce bit-identical doubles every round.
  */
object GraphOps {

  private val Damping = 0.85
  private val Base = 0.15
  private val Rounds = 5
  private val QScale = 1000000000.0 // 1e-9 contribution quantum
  // cut rank lineage every k rounds: each segment's plan covers at
  // most k join+agg rounds, so analysis/optimization cost per action
  // stays O(k) however many rounds the caller asks for (lineage
  // growth across rounds is otherwise quadratic in plan work)
  private val CheckpointEvery = 5

  // The near-dup pair graph is a build-once artifact: a pipeline runs
  // the minhash dedup once and then probes the graph many times
  // (ranking, density audits). One persisted pair table per
  // (session, dir) in the [[SharedBuild]] registry. `dedup_minhash`
  // itself stays a fresh pipeline (it IS the build).
  private[ops] def cachedPairs(spark: SparkSession, d: String): DataFrame =
    SharedBuild.frame(spark, "pairs", d)(
      DedupOps.dedupMinhash(spark, d).select(col("d1"), col("d2")).persist())

  // The embedding-LSH similarity graph is the same build-once shape
  // on the other substrate: linkPred, labelProp, and kcore all probe
  // it, and without a shared entry each rebuilt the full
  // bucket-join + verify pipeline per query (the r12
  // dedup_clusters/cluster_sizes redundancy, third instance).
  // `dedup_embedding_lsh` itself stays a fresh pipeline (it IS the
  // build).
  private[ops] def cachedLshPairs(spark: SparkSession, d: String): DataFrame =
    SharedBuild.frame(spark, "lshPairs", d)(
      SimilarityOps.dedupEmbeddingLsh(spark, d)
        .select(col("v1").as("d1"), col("v2").as("d2")).persist())

  /** Test/bench view: the live LSH-graph tables. */
  private[graft] def lshPairCacheSnapshot: Seq[DataFrame] = SharedBuild.live[DataFrame]("lshPairs")

  /** Test/bench view: the live pair tables (the
    * [[SimilarityOps.ivfCacheSnapshot]] pattern) — warmth assertions
    * must target these DataFrames. */
  private[graft] def pairCacheSnapshot: Seq[DataFrame] = SharedBuild.live[DataFrame]("pairs")

  // ---- the vertex-round kernel -----------------------------------
  // Each round of an iterative graph algorithm is one MapReduce job:
  // the vertex state joins the edges on src (map side), the result
  // shuffles by dst, and a min, sum or count reduces it. The pieces
  // below are that job's fixed parts; each algorithm supplies its own
  // state, reduce and convergence measure.

  /** The symmetrized edge table of an undirected pair list (d1, d2):
    * each pair in both orientations, as (src, dst). */
  private[ops] def edgesOf(pairs: DataFrame): DataFrame =
    pairs.select(col("d1").as("src"), col("d2").as("dst"))
      .union(pairs.select(col("d2").as("src"), col("d1").as("dst")))

  /** The vertex set of a symmetrized edge table, as `id`. */
  private[ops] def vertexIds(edges: DataFrame): DataFrame =
    edges.select(col("src").as("id")).distinct()

  /** Degree per vertex of a symmetrized edge table: (`key`, deg). */
  private def degreesOf(edges: DataFrame, key: String = "doc_id"): DataFrame =
    edges.groupBy(col("src").as(key)).agg(count(lit(1)).as("deg"))

  /** Vertex-count ceiling for the broadcast plan: a vertex state row
    * such as PageRank's (id BIGINT, r DOUBLE) is ≈ 24 B serialized,
    * so 2²⁰ vertices is a ~25 MB broadcast — the largest per-round
    * driver collect worth paying. Past the gate an unconditional
    * `broadcast(state)` IS a per-round driver collect of |V| rows
    * (|V| grows with the corpus at 100 TB), so the plan flips to the
    * shuffle-reuse mode of [[VertexGate]]. */
  private val BroadcastVertexLimit = 1L << 20

  /** The |V| gate and relax join of every vertex-round loop. Join
    * strategies are PINNED with explicit hints rather than left to
    * stats: the pair table arrives from a shared persisted cache whose
    * size estimate differs by orders of magnitude between the
    * unmaterialized (plan-estimate) and materialized (actual-bytes)
    * states, so an unhinted plan flips broadcast↔SMJ with cache
    * warmth. Which PINNED plan runs is decided once, by one `count()`
    * of the checkpointed vertex table (a build-time action, not a
    * per-round one):
    *
    *  - |V| ≤ `limit`: the vertex state broadcasts — one shuffle per
    *    round (the dst re-aggregation), no exchange on the edge side.
    *  - |V| above the gate: the edge side is hash-partitioned by `src`
    *    ONCE (the partitioning survives the localCheckpoint into the
    *    LogicalRDD), and every round's join is a shuffled hash join
    *    that reuses it — only the |V|-row state exchanges per round,
    *    never the |E|-row edge side, and nothing |V|-sized ever visits
    *    the driver.
    *
    * With `joinVertices` the vertex table (keyed `src`) is joined onto
    * the edges, under the same pinned strategy, before the edge side's
    * one checkpoint — PageRank's degrees. */
  private final class VertexGate(edges: DataFrame, vertices: DataFrame, limit: Long,
      joinVertices: Boolean = false) {
    private val small = vertices.count() <= limit
    private def pinned(t: DataFrame): DataFrame =
      if (small) broadcast(t) else t.hint("shuffle_hash")
    private val bySrc: DataFrame = {
      val part = if (small) edges else edges.repartition(col("src"))
      if (joinVertices) part.join(pinned(vertices), Seq("src")).localCheckpoint(false)
      else if (small) edges
      else part.localCheckpoint(false)
    }

    /** One round's relax join: the vertex state (keyed `id`) joined to
      * each vertex's out-edges. */
    def relax(state: DataFrame): DataFrame =
      bySrc.join(pinned(state), col("id") === col("src"))
  }

  /** The capped early-exit loop of every vertex-round algorithm: runs
    * `round` on the state until it reports no change or `cap` rounds
    * have run, and returns the last state with the number of rounds
    * run. Each round owns its convergence measure and its one driver
    * action, which also materializes that round's lazy checkpoint —
    * one job per round. Where the cap is declared semantics (BFS,
    * label propagation) the early exit is invisible: a round
    * that changes nothing is a fixpoint, every later round is the
    * identity, and the oracle's unrolled rounds compute the same
    * rows. */
  private[ops] def untilStable[S](cap: Int)(init: S)(round: S => (S, Boolean)): (S, Int) = {
    var state = init
    var t = 0
    var changed = true
    while (changed && t < cap) {
      t += 1
      val (next, c) = round(state)
      state = next
      changed = c
    }
    (state, t)
  }

  /** The head of every DuckDB graph mirror: `up(d1, d2)`, the
    * undirected pair list given by `upSql`, and `edges(src, dst)`,
    * both its orientations ([[edgesOf]]). AS MATERIALIZED: the
    * unrolled rounds and self-joins read both many times, and an
    * inlining planner would re-run the whole pair build per
    * reference. */
  private def edgeCtesSql(upSql: String): String =
    s"""up AS MATERIALIZED (
       |  $upSql),
       |edges AS MATERIALIZED (
       |  SELECT d1 AS src, d2 AS dst FROM up
       |  UNION ALL
       |  SELECT d2 AS src, d1 AS dst FROM up)""".stripMargin

  /** [[edgeCtesSql]] over the verified MinHash pairs (jaccard ≥ 0.6),
    * after the shared minhash pair CTEs. */
  private[ops] def minhashEdgeCtesSql: String =
    s"""${DedupOps.minhashPairsCteSql},
       |${edgeCtesSql("SELECT d1, d2 FROM pairs WHERE jaccard >= 0.6")}""".stripMargin

  /** [[edgeCtesSql]] over the embedding-LSH pair build. */
  private def lshEdgeCtesSql: String =
    edgeCtesSql(s"SELECT v1 AS d1, v2 AS d2 FROM (${SimilarityOps.dedupEmbeddingLshSql})")

  /** [[degreesOf]] as a CTE over `edges`. */
  private val DegCteSql = "deg AS (SELECT src AS doc_id, COUNT(*) AS deg FROM edges GROUP BY src)"

  /** PageRank on the symmetrized near-dup graph: r₀ = 1, then
    * [[Rounds]] rounds of r'(v) = 0.15 + 0.85·Σ_{u→v} r(u)/deg(u).
    * Edge-induced subgraph only (every node has degree ≥ 1, so there
    * is no dangling mass and every node receives rank each round). */
  def pagerank(spark: SparkSession, d: String): DataFrame =
    pagerankOnPairs(cachedPairs(spark, d))

  /** PR over an arbitrary undirected pair list (d1, d2) — the testable
    * core; [[pagerank]] feeds it the minhash near-dup pairs. Each
    * round is one [[VertexGate]] relax join (rank × degree-decorated
    * edge, keyed on src) plus one aggregation keyed on dst; the gate
    * counts the checkpointed degree table. Fixed rounds, no early
    * exit: the ranks move every round. */
  private[ops] def pagerankOnPairs(pairs: DataFrame, rounds: Int = Rounds,
      broadcastVertexLimit: Long = BroadcastVertexLimit): DataFrame = {
    // symmetrize once, materialize once: every round must re-read
    // blocks, not re-run the upstream pipeline
    val edges = edgesOf(pairs).localCheckpoint(false)
    val deg = degreesOf(edges, "src").localCheckpoint(false)
    val gate = new VertexGate(edges, deg, broadcastVertexLimit, joinVertices = true)
    var ranks = deg.select(col("src").as("id"), lit(1.0).as("r"))
    for (t <- 1 to rounds) {
      ranks = gate.relax(ranks)
        .select(col("dst"),
          // quantized contribution: exact BIGINT sum in any order
          round(col("r") / col("deg") * lit(QScale)).cast("long").as("cq"))
        .groupBy(col("dst"))
        .agg(sum(col("cq")).as("sq"))
        .select(col("dst").as("id"),
          (lit(Base) + lit(Damping) * (col("sq").cast("double") / lit(QScale))).as("r"))
      // bound the plan, not just the data: without this cut a t-round
      // plan nests t join+agg segments and optimizer time grows
      // quadratically over the run (GraphSpec guards 20 rounds). The
      // checkpoint is numerically inert — same quantized arithmetic.
      if (t % CheckpointEvery == 0 && t < rounds)
        ranks = ranks.localCheckpoint(false)
    }
    ranks.select(col("id").as("doc_id"), col("r").as("rank")).orderBy("doc_id")
  }

  /** BFS hop distance from each component's canonical representative
    * (its minimum doc_id) — the third fixed-round iterative shape
    * next to [[pagerank]]'s numeric fixpoint and
    * [[DedupOps.dedupClusters]]' pointer-jumping: plain frontier
    * relaxation, the primitive under "how far is this duplicate from
    * its cluster's canonical copy". Label and distance ride ONE
    * encoded BIGINT per vertex — enc = root·2¹⁰ + dist — so the
    * per-round lexicographic minimum (smallest reachable root, then
    * shortest distance to it) is a plain `min(enc)` and the reduce is
    * order-independent in any merge tree; both facts together make
    * every round bit-replayable in DuckDB as an unrolled CTE. Rounds
    * are CAPPED at [[BfsRounds]] (near-dup components are
    * near-cliques; the cap is part of the declared semantics and the
    * oracle unrolls exactly the same count — a vertex farther than
    * the cap from its true component minimum reports the best label
    * within the horizon, identically in both engines). Per-round
    * plan: one [[VertexGate]] relax join (frontier × edges on src) +
    * one min-agg on id: small |V| broadcasts the frontier; past the
    * gate the edge table is hash-partitioned by src once and only the
    * frontier shuffles. */
  def bfs(spark: SparkSession, d: String): DataFrame =
    bfsOnPairs(cachedPairs(spark, d))

  private val BfsRounds = 8
  private val BfsEnc = 1024L // dist field width; dist ≤ BfsRounds ≪ 1024

  private[ops] def bfsOnPairs(pairs: DataFrame, rounds: Int = BfsRounds,
      broadcastVertexLimit: Long = BroadcastVertexLimit): DataFrame =
    bfsOnPairsCounted(pairs, rounds, broadcastVertexLimit)._1

  /** BFS with the rounds-actually-run count exposed (GraphSpec pins
    * early convergence on a crafted 2-hop graph). Early exit: once a
    * round improves NO label, every further round is the identity, so
    * stopping is invisible to the declared capped-horizon semantics
    * and to the [[BfsRounds]]-unrolled oracle — near-dup components
    * are near-cliques that converge in 2–3 of the 8 budgeted rounds.
    * Convergence rides the round's own aggregate (the
    * [[DedupOps.connectedComponents]] pattern): each old label is
    * tagged with itself, propagated candidates with +∞, so
    * min(old) recovers the previous label and ONE 1-row count per
    * round crosses the driver — no extra old-vs-new join. */
  private[ops] def bfsOnPairsCounted(pairs: DataFrame, rounds: Int = BfsRounds,
      broadcastVertexLimit: Long = BroadcastVertexLimit): (DataFrame, Int) = {
    val edges = edgesOf(pairs).localCheckpoint(false)
    val best0 = vertexIds(edges)
      .select(col("id"), (col("id") * lit(BfsEnc)).as("enc"))
      .localCheckpoint(false)
    val gate = new VertexGate(edges, best0, broadcastVertexLimit)
    val (best, t) = untilStable(rounds)(best0) { best =>
      val prop = gate.relax(best)
        .select(col("dst").as("id"), (col("enc") + lit(1L)).as("enc"),
          lit(Long.MaxValue).as("old"))
      // every id appears exactly once in best (the vertex set is
      // fixed), so min(old) over the group IS the previous label
      val next = best.select(col("id"), col("enc"), col("enc").as("old"))
        .union(prop)
        .groupBy(col("id"))
        .agg(min(col("enc")).as("enc"), min(col("old")).as("old"))
        .localCheckpoint(false) // lazy; the count below materializes it
      val changed = next
        .agg(coalesce(sum((col("enc") < col("old")).cast("long")), lit(0L)))
        .head().getLong(0)
      (next.drop("old"), changed > 0)
    }
    (best.select(col("id").as("doc_id"),
        expr(s"enc div $BfsEnc").as("root"),
        (col("enc") % lit(BfsEnc)).as("dist"))
      .orderBy("doc_id"), t)
  }

  /** DuckDB mirror: the shared minhash pair CTEs, then [[BfsRounds]]
    * unrolled relaxation rounds with the identical encoded-min
    * arithmetic. */
  def bfsSql: String = {
    // AS MATERIALIZED is load-bearing: every round references the
    // previous frontier TWICE (keep + relax), and an inlining planner
    // would re-expand the whole upstream minhash pipeline 2^rounds
    // times — observed as a hang at 8 rounds before the hint
    val roundCtes = (1 to BfsRounds).map { t =>
      s"""b$t AS MATERIALIZED (
         |  SELECT id, MIN(enc) AS enc FROM (
         |    SELECT id, enc FROM b${t - 1}
         |    UNION ALL
         |    SELECT e.dst AS id, b.enc + 1 AS enc
         |    FROM b${t - 1} b JOIN edges e ON e.src = b.id) u
         |  GROUP BY id)""".stripMargin
    }.mkString(",\n")
    s"""WITH $minhashEdgeCtesSql,
       |b0 AS MATERIALIZED (
       |  SELECT DISTINCT src AS id, src * $BfsEnc AS enc FROM edges),
       |$roundCtes
       |SELECT id AS doc_id, enc // $BfsEnc AS root, enc % $BfsEnc AS dist
       |FROM b$BfsRounds ORDER BY doc_id""".stripMargin
  }

  /** Triangle count + local clustering coefficient per node of the
    * near-dup graph — the cluster-density audit: a near-dup cluster
    * should be near-clique (coefficient → 1); a low-coefficient,
    * high-degree node is a false bridge created by an over-eager
    * band (the thing a minhash-threshold tuning pass looks for).
    *
    * Shape: triangles enumerate via the DEGREE-ORDERED two-join —
    * each undirected edge is oriented from its lower-(deg, id)
    * endpoint to the higher, a total order, so every triangle is
    * enumerated exactly once (as its unique x→y→z orientation) AND
    * the candidate-path join is hub-proof: a degree-D node has ≤ the
    * number of HIGHER-degree neighbors as out-edges (O(√m) on any
    * graph), so a celebrity node contributes O(√m²)=O(m) candidate
    * paths instead of the O(D²) an id-ordered join can hit when the
    * hub happens to get a low id. Per-node counts come from one
    * explode + count. The coefficient is a single double division of
    * exact integers (2·T / deg·(deg−1)) — both engines divide the
    * same two BIGINTs, so no quantization is needed. */
  def triangles(spark: SparkSession, d: String): DataFrame =
    trianglesOnPairs(cachedPairs(spark, d))

  /** The degree-oriented edge list (lo → hi by (deg, id)) given a
    * precomputed (doc_id, deg) table — exposed (with the convenience
    * overload) for ScaleStressSpec's planted-hub assertion. Taking deg
    * as input lets [[trianglesOnPairs]] reuse the one degree aggregate
    * it already needs for the clustering coefficient instead of
    * rebuilding the edge union + groupBy a second time. */
  private[ops] def orientedEdges(pairs: DataFrame, deg: DataFrame): DataFrame = {
    val isLower = col("deg1") < col("deg2") ||
      (col("deg1") === col("deg2") && col("d1") < col("d2"))
    // deg is |V| rows vs |E| pairs — pin the broadcast so the plan
    // doesn't depend on whether the shared pair cache is materialized
    pairs
      .join(broadcast(deg.select(col("doc_id").as("d1"), col("deg").as("deg1"))), Seq("d1"))
      .join(broadcast(deg.select(col("doc_id").as("d2"), col("deg").as("deg2"))), Seq("d2"))
      .select(
        when(isLower, col("d1")).otherwise(col("d2")).as("lo"),
        when(isLower, col("d2")).otherwise(col("d1")).as("hi"))
  }

  private[ops] def orientedEdges(pairs: DataFrame): DataFrame =
    orientedEdges(pairs, degreesOf(edgesOf(pairs)))

  private[ops] def trianglesOnPairs(rawPairs: DataFrame): DataFrame = {
    val pairs = rawPairs.localCheckpoint(false) // (d1 < d2) by upstream construction
    // one degree aggregate feeds BOTH the orientation and the final
    // coefficient join (localCheckpoint: small |V|-row table, read 3×)
    val deg = degreesOf(edgesOf(pairs)).localCheckpoint(false)
    // materialize the oriented list once: the two-join reads it thrice
    val ord = orientedEdges(pairs, deg).localCheckpoint(false)
    // the candidate-path self-joins are edge-scale on BOTH sides —
    // pin sort-merge so a warm (tiny-stats) cache can't flip them to
    // broadcast and make the plan cache-state-dependent
    val tri = ord.select(col("lo").as("a"), col("hi").as("b"))
      .join(ord.select(col("lo").as("b"), col("hi").as("c")).hint("merge"), Seq("b"))
      .join(ord.select(col("lo").as("a"), col("hi").as("c")).hint("merge"), Seq("a", "c"))
    val cnt = tri.select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_tri"))
    // cnt ≤ |V| rows; broadcast the right (inner) side of the outer join
    deg.join(broadcast(cnt), Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        when(col("deg") >= 2,
          (coalesce(col("n_tri"), lit(0L)) * 2).cast("double") /
            (col("deg") * (col("deg") - 1)))
          .otherwise(lit(0.0)).as("clustering"))
      .orderBy("doc_id")
  }

  def trianglesSql: String =
    s"""WITH $minhashEdgeCtesSql,
       |$DegCteSql,
       |tri AS (
       |  SELECT ab.d1 AS a, ab.d2 AS b, bc.d2 AS c
       |  FROM up ab
       |  JOIN up bc ON bc.d1 = ab.d2
       |  JOIN up ac ON ac.d1 = ab.d1 AND ac.d2 = bc.d2),
       |cnt AS (
       |  SELECT node AS doc_id, COUNT(*) AS n_tri FROM (
       |    SELECT a AS node FROM tri UNION ALL
       |    SELECT b FROM tri UNION ALL
       |    SELECT c FROM tri) GROUP BY node)
       |SELECT d.doc_id, d.deg,
       |  COALESCE(c.n_tri, 0) AS n_tri,
       |  CASE WHEN d.deg >= 2
       |       THEN CAST(COALESCE(c.n_tri, 0) * 2 AS DOUBLE) / (d.deg * (d.deg - 1))
       |       ELSE CAST(0.0 AS DOUBLE) END AS clustering
       |FROM deg d LEFT JOIN cnt c ON c.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Degree distribution of the near-dup graph + CCDF — the first
    * thing a graph owner plots (is the pair graph the expected
    * near-clique blobs, or did a hot band glue a hub?): per degree,
    * node count, share, and the survival fraction P(deg ≥ k). Rides
    * the shared pair cache; the histogram is |V|→|distinct degrees|
    * (tiny), so the one global window runs on a frame that fits
    * anywhere. Shares and CCDF divide exact integers, rounded 9. */
  def degreeDist(spark: SparkSession, d: String): DataFrame =
    degreeDistOnPairs(cachedPairs(spark, d))

  private[ops] def degreeDistOnPairs(pairs: DataFrame): DataFrame = {
    val hist = degreesOf(edgesOf(pairs))
      .groupBy(col("deg")).agg(count(lit(1)).as("n_nodes"))
    val tot = hist.agg(sum(col("n_nodes")).as("nv"))
    // degree-descending running sum = nodes with degree ≥ this one;
    // the window input is the distinct-degree histogram, never |V|
    val w = Window.orderBy(col("deg").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    hist.crossJoin(broadcast(tot))
      .withColumn("n_ge", sum(col("n_nodes")).over(w))
      .select(col("deg"), col("n_nodes"),
        round(col("n_nodes").cast("double") / col("nv"), 9).as("share"),
        round(col("n_ge").cast("double") / col("nv"), 9).as("ccdf"))
      .orderBy("deg")
  }

  def degreeDistSql: String =
    s"""WITH $minhashEdgeCtesSql,
       |$DegCteSql,
       |hist AS (SELECT deg, COUNT(*) AS n_nodes FROM deg GROUP BY deg),
       |tot AS (SELECT SUM(n_nodes) AS nv FROM hist)
       |SELECT deg, CAST(n_nodes AS BIGINT) AS n_nodes,
       |  round(CAST(n_nodes AS DOUBLE) / (SELECT nv FROM tot), 9) AS share,
       |  round(CAST(SUM(n_nodes) OVER (ORDER BY deg DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
       |    / (SELECT nv FROM tot), 9) AS ccdf
       |FROM hist ORDER BY deg""".stripMargin

  /** Neighbor-Jaccard link prediction: for every NON-adjacent pair at
    * distance 2 in a similarity graph, |N(a)∩N(b)| / |N(a)∪N(b)| —
    * the classic "these two share most of their neighborhoods but no
    * edge" probe that surfaces pairs one missed bucket away from
    * detection. Runs on the embedding-LSH near-dup graph
    * ([[graft.ops.SimilarityOps.dedupEmbeddingLsh]]): plane-hash
    * bucketing admits only same-bucket pairs, so a vector pair split
    * across adjacent buckets is exactly what this recovers — the
    * semantic-dedup tuner's candidate list. (The MinHash text graph
    * is the wrong substrate here: its verified-jaccard≥0.6 components
    * are isolated couples with no 2-paths at any threshold.) Shape:
    * common-neighbor counting is the two-path equi-join through the
    * middle vertex — fan-out Σ deg(b)², the standard cost of
    * common-neighbor analytics, bounded because LSH components are
    * cell-bounded (and a pathological hub trips the ScaleStress
    * hot-bucket gate upstream); the adjacency exclusion is one
    * anti-join against the edge list; the union size is
    * inclusion–exclusion over two broadcast degree lookups — no
    * neighbor SETS ever cross the shuffle, only counts. The score
    * divides exact integers, rounded 9. */
  def linkPred(spark: SparkSession, d: String): DataFrame =
    linkPredOnPairs(cachedLshPairs(spark, d))

  private[ops] def linkPredOnPairs(rawPairs: DataFrame): DataFrame = {
    val pairs = rawPairs.localCheckpoint(false) // (d1 < d2) upstream
    val edges = edgesOf(pairs)
    val deg = degreesOf(edges).localCheckpoint(false)
    // two-path join through the middle vertex; a < c keeps each
    // candidate once (the undirected pair), same-vertex excluded
    val common = edges.select(col("src").as("a"), col("dst").as("b"))
      .join(edges.select(col("src").as("b"), col("dst").as("c")).hint("merge"), Seq("b"))
      .where(col("a") < col("c"))
      .groupBy(col("a"), col("c")).agg(count(lit(1)).as("n_common"))
    val nonAdj = common.join(
      pairs.select(col("d1").as("a"), col("d2").as("c")), Seq("a", "c"), "left_anti")
    nonAdj
      .join(broadcast(deg.select(col("doc_id").as("a"), col("deg").as("deg_a"))), Seq("a"))
      .join(broadcast(deg.select(col("doc_id").as("c"), col("deg").as("deg_c"))), Seq("c"))
      .select(col("a").as("d1"), col("c").as("d2"), col("n_common"),
        round(col("n_common").cast("double") /
          (col("deg_a") + col("deg_c") - col("n_common")), 9).as("jaccard_n"))
      .orderBy("d1", "d2")
  }

  def linkPredSql: String =
    s"""WITH $lshEdgeCtesSql,
       |$DegCteSql,
       |common AS (
       |  SELECT e1.src AS a, e2.dst AS c, COUNT(*) AS n_common
       |  FROM edges e1 JOIN edges e2 ON e1.dst = e2.src
       |  WHERE e1.src < e2.dst
       |  GROUP BY e1.src, e2.dst),
       |nonadj AS (
       |  SELECT a, c, n_common FROM common
       |  WHERE NOT EXISTS (SELECT 1 FROM up WHERE up.d1 = a AND up.d2 = c))
       |SELECT a AS d1, c AS d2, CAST(n_common AS BIGINT) AS n_common,
       |  round(CAST(n_common AS DOUBLE) / (da.deg + dc.deg - n_common), 9)
       |    AS jaccard_n
       |FROM nonadj JOIN deg da ON da.doc_id = a JOIN deg dc ON dc.doc_id = c
       |ORDER BY d1, d2""".stripMargin

  /** DuckDB mirror: the shared minhash pair CTEs, then [[Rounds]]
    * unrolled PR rounds with the identical quantize→BIGINT-sum→
    * dequantize arithmetic (same association order), so the final
    * doubles match bit for bit. */
  def pagerankSql: String = {
    val round1 = (1 to Rounds).map { t =>
      s"""r$t AS (
         |  SELECT e.dst AS id,
         |    $Base + $Damping * (CAST(SUM(CAST(round(r.r / e.deg * $QScale) AS BIGINT)) AS DOUBLE) / $QScale) AS r
         |  FROM wdeg e JOIN r${t - 1} r ON r.id = e.src
         |  GROUP BY e.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH $minhashEdgeCtesSql,
       |$DegCteSql,
       |wdeg AS (SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d ON d.doc_id = e.src),
       |r0 AS (SELECT doc_id AS id, CAST(1.0 AS DOUBLE) AS r FROM deg),
       |$round1
       |SELECT id AS doc_id, r AS rank FROM r$Rounds ORDER BY doc_id""".stripMargin
  }

  private val LpaRounds = 4

  /** Synchronous label propagation (community detection) over the
    * embedding-LSH similarity graph — the majority-vote complement to
    * [[DedupOps.dedupClusters]]' connectivity-only components: a
    * vertex adopts the most frequent label among its neighbors AND
    * its own current label (ties → smallest label), so a weakly
    * attached bridge vertex joins the side that dominates its
    * neighborhood rather than whatever happens to be connected. The
    * self-vote is load-bearing for determinism: without it,
    * synchronous updates on a 2-vertex component swap labels forever;
    * with it the pair ties and the min label wins in one round.
    * Substrate is [[SimilarityOps.dedupEmbeddingLsh]] (the
    * [[linkPred]] choice, same rationale — the MinHash graph's
    * components are isolated couples with no majority structure).
    *
    * Rounds are CAPPED at [[LpaRounds]] as declared semantics (the
    * oracle unrolls exactly that count) with the [[untilStable]]
    * early exit: a round that changes no label is a fixpoint — every
    * later round recomputes the identity, so stopping is invisible.
    * Per-round plan: one [[VertexGate]] relax join (labels × edges,
    * broadcast under the vertex gate, frontier-only shuffle past
    * it), one (vertex,label) count aggregate, and a per-vertex
    * winner pick via a ROW_NUMBER window partitioned by vertex —
    * candidate lists per vertex are degree-bounded, so the window
    * sort is per-neighborhood work, never data-sized. All-integer
    * counts; winner selection is a total order (cnt DESC, label ASC)
    * — bit-identical cross-engine. */
  def labelProp(spark: SparkSession, d: String): DataFrame =
    labelPropOnPairs(cachedLshPairs(spark, d))

  private[ops] def labelPropOnPairs(pairs: DataFrame, rounds: Int = LpaRounds,
      broadcastVertexLimit: Long = BroadcastVertexLimit): DataFrame =
    labelPropOnPairsCounted(pairs, rounds, broadcastVertexLimit)._1

  private[ops] def labelPropOnPairsCounted(pairs: DataFrame, rounds: Int = LpaRounds,
      broadcastVertexLimit: Long = BroadcastVertexLimit): (DataFrame, Int) = {
    val edges = edgesOf(pairs).localCheckpoint(false)
    val labels0 = vertexIds(edges).select(col("id"), col("id").as("label"))
      .localCheckpoint(false)
    val gate = new VertexGate(edges, labels0, broadcastVertexLimit)
    val (labels, t) = untilStable(rounds)(labels0) { labels =>
      val votes = gate.relax(labels)
        .select(col("dst").as("vid"), col("label"))
        .union(labels.select(col("id").as("vid"), col("label"))) // self-vote
      val w = Window.partitionBy(col("vid"))
        .orderBy(col("cnt").desc, col("label").asc)
      val next = votes.groupBy(col("vid"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("vid").as("id"), col("label"))
        .localCheckpoint(false) // lazy; the count below materializes it
      val changed = next
        .join(labels.withColumnRenamed("label", "old"), Seq("id"))
        .agg(coalesce(sum((col("label") =!= col("old")).cast("long")), lit(0L)))
        .head().getLong(0)
      (next, changed > 0)
    }
    (labels.select(col("id").as("vec_id"), col("label")).orderBy("vec_id"), t)
  }

  /** The up/edges/l0/round CTE chain ending in `l{LpaRounds}` —
    * shared by [[labelPropSql]] and [[modularitySql]]. */
  private def labelPropCtesSql: String = {
    val roundCtes = (1 to LpaRounds).map { t =>
      s"""c$t AS MATERIALIZED (
         |  SELECT vid, label, COUNT(*) AS cnt FROM (
         |    SELECT e.dst AS vid, l.label FROM l${t - 1} l JOIN edges e ON e.src = l.id
         |    UNION ALL
         |    SELECT id AS vid, label FROM l${t - 1}) v
         |  GROUP BY vid, label),
         |l$t AS MATERIALIZED (
         |  SELECT vid AS id, label FROM (
         |    SELECT vid, label,
         |      ROW_NUMBER() OVER (PARTITION BY vid ORDER BY cnt DESC, label ASC) AS rn
         |    FROM c$t) x WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""$lshEdgeCtesSql,
       |l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS label FROM edges),
       |$roundCtes""".stripMargin
  }

  /** DuckDB mirror: the embedding-LSH pair build as a subquery, then
    * [[LpaRounds]] unrolled majority-vote rounds with the identical
    * self-vote union and (cnt DESC, label ASC) winner order. AS
    * MATERIALIZED per round for the same reason as [[bfsSql]]. */
  def labelPropSql: String =
    s"""WITH $labelPropCtesSql
       |SELECT id AS vec_id, label FROM l$LpaRounds ORDER BY vec_id""".stripMargin

  /** Newman modularity Q of the [[labelProp]] partition — the
    * partition-quality self-eval (`sim_ann_recall` stance applied to
    * community detection): Q = Σ_c (e_c/m − (d_c/2m)²) over the
    * label-propagation communities on the embedding-LSH graph. A
    * community structure that matches the edge structure scores near
    * 1; random labels score near 0 — the one number a clustering
    * owner tracks per corpus drop.
    *
    * Scale shape: rides the shared LSH pair cache + the labelProp
    * rounds (vertex-bounded); everything after is two |V|-keyed
    * aggregates and an |E|-sized label join, reduced onto community
    * keys. Per-community terms round at 12 and sum through
    * DECIMAL(18,12) — community count is unbounded, so the sum must
    * be order-free, not a float fold. */
  def modularity(spark: SparkSession, d: String): DataFrame = {
    val pairs = cachedLshPairs(spark, d)
    val labels = labelPropOnPairs(pairs).localCheckpoint(false)
    val deg = degreesOf(edgesOf(pairs))
    val m = pairs.agg(count(lit(1)).as("m"))
    val dc = deg.join(labels.select(col("vec_id").as("doc_id"), col("label")), Seq("doc_id"))
      .groupBy(col("label")).agg(sum(col("deg")).as("d_c"))
    val ec = pairs
      .join(labels.select(col("vec_id").as("d1"), col("label").as("la")), Seq("d1"))
      .join(labels.select(col("vec_id").as("d2"), col("label").as("lb")), Seq("d2"))
      .where(col("la") === col("lb"))
      .groupBy(col("la").as("label")).agg(count(lit(1)).as("e_c"))
    val term = round(
      coalesce(col("e_c"), lit(0L)).cast("double") / col("m") -
        (col("d_c").cast("double") / (lit(2) * col("m"))) *
        (col("d_c").cast("double") / (lit(2) * col("m"))), 12)
    dc.join(ec, Seq("label"), "left_outer").crossJoin(broadcast(m))
      .agg(count(lit(1)).as("n_communities"), max(col("m")).as("n_edges"),
        round(sum(term.cast("decimal(18,12)")).cast("double"), 9).as("modularity"))
  }

  def modularitySql: String =
    s"""WITH $labelPropCtesSql,
       |labels AS MATERIALIZED (SELECT id, label FROM l$LpaRounds),
       |m AS (SELECT COUNT(*) AS m FROM up),
       |$DegCteSql,
       |dc AS (
       |  SELECT l.label, SUM(d.deg) AS d_c
       |  FROM deg d JOIN labels l ON l.id = d.doc_id GROUP BY 1),
       |ec AS (
       |  SELECT la.label, COUNT(*) AS e_c
       |  FROM up JOIN labels la ON la.id = up.d1 JOIN labels lb ON lb.id = up.d2
       |  WHERE la.label = lb.label GROUP BY 1)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
       |  CAST(MAX(m.m) AS BIGINT) AS n_edges,
       |  round(CAST(SUM(CAST(round(
       |    CAST(COALESCE(e.e_c, 0) AS DOUBLE) / m.m
       |      - (CAST(d.d_c AS DOUBLE) / (2 * m.m))
       |        * (CAST(d.d_c AS DOUBLE) / (2 * m.m)), 12)
       |    AS DECIMAL(18,12))) AS DOUBLE), 9) AS modularity
       |FROM dc d LEFT JOIN ec e USING (label), m""".stripMargin

  private val KcoreMaxK = 3
  private val KcoreRounds = 4

  /** k-core decomposition (coreness, capped at [[KcoreMaxK]]) of the
    * embedding-LSH similarity graph — the density stratification the
    * flat [[trianglesOnPairs]] coefficient can't give: coreness 1 is
    * a vertex peeled away with the trees and pendants, coreness 2
    * survives the cycle-preserving peel, coreness ≥ 3 sits in the
    * densely-interconnected heart a semantic-dedup pass should treat
    * as one redundancy cluster.
    *
    * Peeling at each level k = 2..[[KcoreMaxK]] runs exactly
    * [[KcoreRounds]] rounds as declared capped semantics (the [[bfs]]
    * horizon stance; the oracle unrolls the same count): a round
    * keeps an edge when both endpoints have live degree ≥ k, and
    * level k+1 starts from level k's last edge set. Coreness is 1 +
    * the number of levels whose last edge set holds the vertex.
    *
    * Scale shape: ONE task. The graph is the LSH build's top
    * [[SimilarityOps.LshPairLimit]] pairs, so it has at most twice
    * that many directed edges at any corpus size — an input one
    * reducer holds. The edge list coalesces to one partition and
    * [[peel]] runs every round in plain Scala; a distributed round
    * would pay one plan, one stage and one driver action per round
    * for the same handful of rows. */
  def kcore(spark: SparkSession, d: String): DataFrame =
    kcoreOnPairs(cachedLshPairs(spark, d))

  private[ops] def kcoreOnPairs(pairs: DataFrame, maxK: Int = KcoreMaxK,
      rounds: Int = KcoreRounds): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    edgesOf(pairs).coalesce(1).as[(Long, Long)]
      .mapPartitions(it => peel(it.toVector, maxK, rounds).iterator)
      .toDF("vec_id", "coreness").orderBy("vec_id")
  }

  /** [[kcoreOnPairs]]' capped peel over a symmetrized edge list:
    * (vertex, coreness) for every vertex of `edges`. */
  private def peel(edges: Seq[(Long, Long)], maxK: Int, rounds: Int): Seq[(Long, Long)] = {
    val coreness = scala.collection.mutable.LongMap(edges.map(e => e._1 -> 1L): _*)
    var live = edges
    for (k <- 2 to maxK) {
      for (_ <- 1 to rounds) {
        val deg = live.groupMapReduce(_._1)(_ => 1)(_ + _)
        live = live.filter { case (s, t) => deg(s) >= k && deg(t) >= k }
      }
      live.map(_._1).distinct.foreach(v => coreness(v) += 1)
    }
    coreness.toSeq
  }

  /** DuckDB mirror: [[KcoreRounds]] unrolled peel rounds per level
    * k = 2..[[KcoreMaxK]], each MATERIALIZED ([[bfsSql]] rationale),
    * then coreness = 1 + level-membership indicators. */
  def kcoreSql: String = {
    val ctes = scala.collection.mutable.ArrayBuffer(lshEdgeCtesSql,
      "verts AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges)")
    var prev = "edges"
    val coreCols = (2 to KcoreMaxK).map { k =>
      (1 to KcoreRounds).foreach { r =>
        ctes += s"""keep_${k}_$r AS MATERIALIZED (
                   |  SELECT src FROM $prev GROUP BY src HAVING COUNT(*) >= $k)""".stripMargin
        ctes += s"""e_${k}_$r AS MATERIALIZED (
                   |  SELECT e.src, e.dst FROM $prev e
                   |  WHERE EXISTS (SELECT 1 FROM keep_${k}_$r s WHERE s.src = e.src)
                   |    AND EXISTS (SELECT 1 FROM keep_${k}_$r t WHERE t.src = e.dst))""".stripMargin
        prev = s"e_${k}_$r"
      }
      ctes += s"core_$k AS MATERIALIZED (SELECT DISTINCT src AS id FROM $prev)"
      s"(CASE WHEN EXISTS (SELECT 1 FROM core_$k c WHERE c.id = v.id) THEN 1 ELSE 0 END)"
    }
    s"""WITH ${ctes.mkString(",\n")}
       |SELECT v.id AS vec_id,
       |  CAST(1 + ${coreCols.mkString("\n       + ")} AS BIGINT) AS coreness
       |FROM verts v ORDER BY vec_id""".stripMargin
  }

  /** Degree assortativity of the embedding-LSH similarity graph:
    * Pearson correlation of (deg(src), deg(dst)) over every directed
    * edge — Newman's r, the one scalar that says whether near-dup
    * hubs attach to other hubs (r > 0, redundancy concentrates in a
    * few mega-clusters worth pruning first) or to leaves (r < 0,
    * hub-and-spoke template reuse). The structural self-eval
    * companion to [[modularity]] (which scores a partition; this
    * scores the raw mixing pattern).
    *
    * Scale shape: rides the shared LSH pair cache; one |V|-keyed
    * degree aggregate, two equi-joins decorating each edge endpoint
    * (AQE broadcasts the |V|-row degree table when it fits; past
    * that both joins are src/dst-keyed shuffles, never wider than
    * |E|), then a single 6-sum reduction. All power sums are exact
    * BIGINTs (the [[EventOps.ols]] discipline); the final ratio is
    * the only double arithmetic, identical expression in both
    * engines, rounded 9. Degenerate regular graph (zero degree
    * variance) yields NULL in both engines. */
  def assortativity(spark: SparkSession, d: String): DataFrame =
    assortativityOnPairs(cachedLshPairs(spark, d))

  private[ops] def assortativityOnPairs(pairs: DataFrame): DataFrame = {
    val edges = edgesOf(pairs)
    val deg = degreesOf(edges)
    val xy = edges
      .join(deg.select(col("doc_id").as("src"), col("deg").as("x")), Seq("src"))
      .join(deg.select(col("doc_id").as("dst"), col("deg").as("y")), Seq("dst"))
    val s = xy.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"))
    val nD = col("n").cast("double")
    val num = nD * col("sxy") - col("sx").cast("double") * col("sy")
    val vx = nD * col("sxx") - col("sx").cast("double") * col("sx")
    val vy = nD * col("syy") - col("sy").cast("double") * col("sy")
    s.select((col("n") / 2).cast("long").as("n_edges"),
      when(vx * vy > 0, round(num / sqrt(vx * vy), 9)).as("assortativity"))
  }

  def assortativitySql: String =
    s"""WITH $lshEdgeCtesSql,
       |$DegCteSql,
       |xy AS (
       |  SELECT dx.deg AS x, dy.deg AS y FROM edges e
       |  JOIN deg dx ON dx.doc_id = e.src JOIN deg dy ON dy.doc_id = e.dst),
       |s AS (
       |  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy,
       |         SUM(x*x) AS sxx, SUM(y*y) AS syy FROM xy)
       |SELECT CAST(n / 2 AS BIGINT) AS n_edges,
       |  CASE WHEN (CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx)
       |          * (CAST(n AS DOUBLE)*syy - CAST(sy AS DOUBLE)*sy) > 0
       |    THEN round((CAST(n AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy)
       |      / sqrt((CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx)
       |           * (CAST(n AS DOUBLE)*syy - CAST(sy AS DOUBLE)*sy)), 9)
       |  END AS assortativity
       |FROM s""".stripMargin

  /** Local clustering coefficient, summarized per degree: for each
    * vertex with deg ≥ 2, C(v) = 2·tri(v) / (deg·(deg−1)) where
    * tri(v) counts edges among v's neighbors; reported as the
    * per-degree average — the C(k) curve whose slope distinguishes
    * flat random co-bucketing from the hierarchical structure real
    * near-dup corpora show (tight template families inside looser
    * topical neighborhoods). Complements [[triangles]] (a global
    * count) with the per-vertex normalization that makes densities
    * comparable across degrees.
    *
    * Scale shape: the two-path equi-join through the apex vertex
    * (Σ deg² fan-out, the [[linkPred]] cost bound — LSH components
    * are cell-bounded upstream) closed by one semi-join against the
    * canonical d1<d2 edge set; everything after is |V|-keyed. Each
    * C(v) is a ratio of exact integers rounded 9; the per-degree
    * mean sums them through DECIMAL(18,9) so the reduce is
    * order-independent (the [[OpsUtil.dsum]] contract). */
  def clustering(spark: SparkSession, d: String): DataFrame =
    clusteringOnPairs(cachedLshPairs(spark, d))

  private[ops] def clusteringOnPairs(pairs: DataFrame): DataFrame = {
    val edges = edgesOf(pairs)
    val deg = degreesOf(edges)
    val paths = edges.as("e1").join(edges.as("e2"),
        col("e1.dst") === col("e2.src") && col("e1.src") < col("e2.dst"))
      .select(col("e1.src").as("a"), col("e1.dst").as("v"), col("e2.dst").as("c"))
    // inner (not semi) is safe: `pairs` is distinct canonical pairs,
    // so each closing edge matches a path exactly once
    val tri = paths.join(pairs.select(col("d1").as("a"), col("d2").as("c")), Seq("a", "c"))
      .groupBy(col("v")).agg(count(lit(1)).as("tri"))
    val cv = deg.where(col("deg") >= 2)
      .join(tri, col("doc_id") === col("v"), "left_outer")
      .select(col("deg"),
        round(lit(2.0) * coalesce(col("tri"), lit(0L))
          / (col("deg") * (col("deg") - 1)), 9).as("cc"))
    cv.groupBy(col("deg"))
      .agg(count(lit(1)).as("n_nodes"),
        round(sum(col("cc").cast("decimal(18,9)")).cast("double")
          / count(lit(1)), 9).as("avg_cc"))
      .orderBy("deg")
  }

  def clusteringSql: String =
    s"""WITH $lshEdgeCtesSql,
       |$DegCteSql,
       |paths AS (
       |  SELECT e1.src AS a, e1.dst AS v, e2.dst AS c
       |  FROM edges e1 JOIN edges e2 ON e1.dst = e2.src AND e1.src < e2.dst),
       |tri AS (
       |  SELECT p.v, COUNT(*) AS tri FROM paths p
       |  JOIN up u ON u.d1 = p.a AND u.d2 = p.c GROUP BY p.v),
       |cv AS (
       |  SELECT d.deg,
       |    round(2.0 * COALESCE(t.tri, 0) / (d.deg * (d.deg - 1)), 9) AS cc
       |  FROM deg d LEFT JOIN tri t ON t.v = d.doc_id WHERE d.deg >= 2)
       |SELECT deg, COUNT(*) AS n_nodes,
       |  round(CAST(SUM(CAST(cc AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 9)
       |    AS avg_cc
       |FROM cv GROUP BY deg ORDER BY deg""".stripMargin
}
