package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.OpsUtil._

/** Deduplication operators over `documents` — the training-data-
  * pipeline extensions (north star; SURVEY.md §2.3 EXT).
  *
  * Scale stance: none of these do an all-pairs O(n²) compare over the
  * full corpus. Exact dedup is a hash-groupBy (one shuffle on the
  * content hash). MinHash goes shingle→signature→band→bucket-join, so
  * the candidate join is an equi-join on band keys — the standard LSH
  * trick that keeps 100 TB dedup near-linear. Only the final jaccard
  * verification touches candidate pairs. The sampled brute-force
  * n-gram query exists to cross-check LSH quality, and is explicitly
  * bounded (fixed-row-budget hash-ordered sample — constant pair
  * count at any corpus scale).
  *
  * All hashes are the cross-engine md5-based [[OpsUtil.xhash60]] so
  * every stage is reproducible in the DuckDB oracle.
  */
object DedupOps {

  /** Exact dedup: hash-groupBy on content. Output: surviving doc per
    * distinct text + multiplicity. (One shuffle on md5(text); at scale
    * group on the hash, never the full text bytes.) */
  def dedupExact(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count("*").as("n_copies"))
      .select("keep_id", "n_copies", "text_hash")
      .orderBy("keep_id")

  def dedupExactSql: String =
    """SELECT min(doc_id) AS keep_id, count(*) AS n_copies, md5(text) AS text_hash
      |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin

  // MinHash parameters: 12 hash functions in 4 bands × 3 rows
  // (s-curve threshold ≈ (1/4)^(1/3) ≈ 0.63). The 12 functions are a
  // universal family h_j(x) = (A_j·x + B_j) mod P over ONE md5-derived
  // base hash per shingle — md5 is the expensive part, so it runs
  // once per shingle, not once per (shingle × hash function).
  private val NumHashes = 12
  private val Bands = 4
  private val RowsPerBand = 3
  private val P = 1000000007L
  private val As = Seq(1000003L, 1000033L, 1000037L, 1000039L, 1000081L,
    1000099L, 1000117L, 1000121L, 1000133L, 1000151L, 1000159L, 1000171L)
  private val Bs = Seq(15485863L, 15485867L, 15485917L, 15485927L, 15485933L,
    15485941L, 15485959L, 15485989L, 15485993L, 15486013L, 15486041L, 15486047L)

  /** doc_id + distinct 3-token shingle array, over an arbitrary
    * (doc_id, text) frame — so the candidate join-back can re-shingle
    * ONLY candidate docs, not the corpus.
    *
    * TOTAL, not filtered: docs with <3 tokens get an EMPTY array via
    * the when-guard instead of a `where(size(tk) >= 3)`. The filter
    * form is a recompute trap (the same family as the explode
    * inferred-filter trap, PlanSpec): PushDownPredicates inlines the
    * predicate through the tk projection, so the whole corpus gets
    * tokenized once inside the pushed Filter and AGAIN in the
    * projection — and in the candidate path the filter pushes below
    * the semi-join, re-tokenizing the full corpus the semi-join exists
    * to avoid. Downstream, short docs drop out join-side: their
    * all-null signatures produce NULL band keys (null-propagating
    * concat) that the band equi-join never matches. The when-guard
    * also keeps sequence(1, size-2) away from its n<1 descending
    * behavior (the langIdNgram trap, TextEdgeSpec). */
  private def shingledOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"),
        when(size(col("tk")) >= 3, array_distinct(transform(
          sequence(lit(1), size(col("tk")) - 2),
          i => concat_ws(" ", element_at(col("tk"), i),
            element_at(col("tk"), i + 1), element_at(col("tk"), i + 2)))))
          .otherwise(array().cast("array<string>")).as("sh"))

  private def shingled(spark: SparkSession, d: String): DataFrame =
    shingledOf(Tables.documents(spark, d))

  private def shingledSql: String =
    s"""toks AS (SELECT doc_id, ${tokensSql("text")} AS tk FROM documents),
       |shingled AS (
       |  SELECT doc_id, list_distinct(list_transform(range(1, len(tk)-1),
       |           i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
       |  FROM toks WHERE len(tk) >= 3)""".stripMargin

  /** Lazy candidate-pair plan: shingle → 12-sig → 4-band keys →
    * band-bucket self-join → distinct id pairs. Band keys only —
    * shingle arrays are NOT carried through the band explode/join
    * (they'd multiply shuffle volume ×Bands); candidates join the
    * shingles back afterwards. Exposed for plan tests. */
  private[ops] def minhashCandidatePlan(spark: SparkSession, d: String): DataFrame = {
    val sh = shingled(spark, d)
      // one md5 per shingle; the 12 signature mins are cheap integer
      // transforms of this base-hash array
      .select(col("doc_id"), col("sh"),
        transform(col("sh"), s => xhash60(s, 0) % P).as("hx"))
    val sig = sh.select(
      (col("doc_id") +:
        (0 until NumHashes).map(j =>
          array_min(transform(col("hx"), x => (lit(As(j)) * x + lit(Bs(j))) % P)).as(s"h$j"))): _*)
    // concat (null-propagating), NOT concat_ws (null-skipping): a
    // short doc's null h* must yield a NULL band key the equi-join
    // drops, not a shared md5("") key that would clique every short
    // doc together. For ≥3-token docs the two are byte-identical.
    val banded = sig.select(
      col("doc_id"),
      posexplode(array((0 until Bands).map { b =>
        md5(concat((0 until RowsPerBand).flatMap(r =>
          Seq(col(s"h${b * RowsPerBand + r}").cast("string"), lit(","))).dropRight(1): _*))
      }: _*)).as(Seq("band_idx", "band_key")))
    banded.select(col("band_idx"), col("band_key"), col("doc_id").as("d1"))
      .join(banded.select(col("band_idx"), col("band_key"), col("doc_id").as("d2")),
        Seq("band_idx", "band_key"))
      .where(col("d1") < col("d2"))
      .select("d1", "d2").distinct()
  }

  /** Lazy candidate-only shingle plan: semi-join the corpus to the
    * candidate ids BEFORE tokenizing, so the jaccard-verify tokenize
    * pass is proportional to |candidates|, not |corpus|. Exposed for
    * plan tests (which assert the tokenize lambda sits ABOVE the
    * semi-join). */
  private[ops] def candidateShinglePlan(spark: SparkSession, d: String,
      candidates: DataFrame): DataFrame = {
    val candIds = candidates.select(col("d1").as("doc_id"))
      .union(candidates.select(col("d2").as("doc_id"))).distinct()
    shingledOf(Tables.documents(spark, d).join(candIds, Seq("doc_id"), "left_semi"))
  }

  /** MinHash + LSH near-duplicate pairs, jaccard-verified at ≥ 0.6.
    *
    * signature: 12 × min-over-shingles of salted xhash60;
    * banding: md5 over each 3-signature slice; candidates: equi-join
    * on (band index, band key); verify: exact shingle jaccard.
    *
    * Single-tokenize (r4 verdict item #3): at 100 TB tokenization is
    * the dominant CPU, so the corpus is shingled exactly ONCE (for the
    * signatures). The verify pass re-shingles only candidate docs via
    * [[candidateShinglePlan]], and both intermediates are materialized
    * once (localCheckpoint) and shared by both sides of the pair join
    * — downstream consumers (dedupClusters) can't multiply corpus
    * passes either, since the returned plan reads only checkpointed
    * blocks. */
  def dedupMinhash(spark: SparkSession, d: String): DataFrame = {
    // candidate id pairs (longs only — tiny): checkpointed so the two
    // shingle join-backs don't re-run the sig→band→self-join pipeline.
    // LAZY checkpoints (eager=false): materialization folds into the
    // first action instead of paying two extra scheduling round-trips
    // per run (measured ~0.5 s at sf0.1); shuffle-stage sharing still
    // computes each pipeline once within that action, and lineage is
    // truncated identically.
    val candidates = minhashCandidatePlan(spark, d).localCheckpoint(false)
    val shOnly = candidateShinglePlan(spark, d, candidates).localCheckpoint(false)
    val pairs = candidates
      .join(shOnly.select(col("doc_id").as("d1"), col("sh").as("sh1")), Seq("d1"))
      .join(shOnly.select(col("doc_id").as("d2"), col("sh").as("sh2")), Seq("d2"))
      .select(col("d1"), col("d2"),
        (size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
          (size(col("sh1")) + size(col("sh2")) -
            size(array_intersect(col("sh1"), col("sh2"))))).as("jaccard"))
    pairs.where(col("jaccard") >= 0.6).orderBy("d1", "d2")
  }

  /** Band-configuration sweep for `dedup_lsh_sweep` — every (bands ×
    * rows) factorization of the 12 signatures, with the implied S-curve
    * threshold (1/b)^(1/r) computed ONCE in Scala and injected as the
    * same literal into both engines (libm pow is not a cross-engine
    * contract). */
  private val SweepConfigs: Seq[(Int, Int, Double)] =
    Seq((2, 6), (3, 4), (4, 3), (6, 2)).map { case (b, r) =>
      (b, r, math.rint(math.pow(1.0 / b, 1.0 / r) * 1e6) / 1e6)
    }

  /** LSH banding sweep — the index-tuning readout an engineer runs
    * before fixing a near-dup config: the SAME 12-hash signature
    * table banded four ways (2×6 … 6×2), each config reporting its
    * candidate-pair count and how many of those candidates survive
    * exact jaccard ≥ 0.6 (precision), against the union-of-configs
    * truth set. The production 4×3 config's numbers sit in context:
    * looser bandings (6×2, threshold .41) admit false candidates that
    * cost verify CPU; tighter ones (2×6, .56) may miss borderline
    * pairs.
    *
    * Scale shape: shingle + hash ONCE (checkpointed — the corpus is
    * never re-tokenized per config), signatures once; each config
    * adds only its band-key explode and bucket self-join (candidate-
    * bounded). The truth verify runs on the UNION of candidates
    * (each pair's shingle join-back happens once, not per config).
    * Counts are exact integers; thresholds are injected literals. */
  def lshSweep(spark: SparkSession, d: String): DataFrame = {
    val sh = shingled(spark, d)
      .select(col("doc_id"), col("sh"),
        transform(col("sh"), s => xhash60(s, 0) % P).as("hx"))
      .localCheckpoint(false) // read by the sig build AND the truth verify
    val sig = sh.select(
      (col("doc_id") +:
        (0 until NumHashes).map(j =>
          array_min(transform(col("hx"), x => (lit(As(j)) * x + lit(Bs(j))) % P)).as(s"h$j"))): _*)
      .localCheckpoint(false) // read by all four bandings
    def candsOf(b: Int, r: Int): DataFrame = {
      val banded = sig.select(
        col("doc_id"),
        posexplode(array((0 until b).map { bi =>
          md5(concat((0 until r).flatMap(ri =>
            Seq(col(s"h${bi * r + ri}").cast("string"), lit(","))).dropRight(1): _*))
        }: _*)).as(Seq("band_idx", "band_key")))
      banded.select(col("band_idx"), col("band_key"), col("doc_id").as("d1"))
        .join(banded.select(col("band_idx"), col("band_key"), col("doc_id").as("d2")),
          Seq("band_idx", "band_key"))
        .where(col("d1") < col("d2"))
        .select("d1", "d2").distinct()
    }
    val cands = SweepConfigs.map { case (b, r, t) =>
      (b, r, t, candsOf(b, r).localCheckpoint(false))
    }
    val allc = cands.map(_._4).reduce(_ unionAll _).distinct()
    val inter = size(array_intersect(col("sh1"), col("sh2")))
    val truth = allc
      .join(sh.select(col("doc_id").as("d1"), col("sh").as("sh1")), Seq("d1"))
      .join(sh.select(col("doc_id").as("d2"), col("sh").as("sh2")), Seq("d2"))
      .where(inter.cast("double") /
        (size(col("sh1")) + size(col("sh2")) - inter) >= 0.6)
      .select("d1", "d2").localCheckpoint(false)
    cands.map { case (b, r, t, c) =>
      c.agg(count(lit(1)).as("n_cands")).crossJoin(
        c.join(truth, Seq("d1", "d2"), "left_semi")
          .agg(count(lit(1)).as("n_true")))
        .select(lit(b).as("bands"), lit(r).as("rows_per_band"),
          lit(t).as("threshold"), col("n_cands"), col("n_true"))
    }.reduce(_ unionAll _).orderBy("bands")
  }

  def lshSweepSql: String = {
    val sigCols = (0 until NumHashes).map(j =>
      s"list_min(list_transform(hx, x -> (${As(j)} * x + ${Bs(j)}) % $P)) AS h$j")
      .mkString(",\n    ")
    def bandedSql(b: Int, r: Int): String = (0 until b).map { bi =>
      val key = (0 until r).map(ri => s"h${bi * r + ri}").mkString(" || ',' || ")
      s"SELECT doc_id, $bi AS band_idx, md5($key) AS band_key FROM sig"
    }.mkString("\n    UNION ALL\n    ")
    val candCtes = SweepConfigs.map { case (b, r, _) =>
      s"""c${b}x$r AS MATERIALIZED (
         |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |  FROM (${bandedSql(b, r)}) a JOIN (${bandedSql(b, r)}) b
         |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         |   AND a.doc_id < b.doc_id)""".stripMargin
    }.mkString(",\n")
    val unionAllCands = SweepConfigs
      .map { case (b, r, _) => s"SELECT * FROM c${b}x$r" }.mkString(" UNION ALL ")
    val perConfig = SweepConfigs.map { case (b, r, t) =>
      val tLit = String.format(java.util.Locale.ROOT, "%.6f", Double.box(t))
      s"""SELECT $b AS bands, $r AS rows_per_band, $tLit AS threshold,
         |  (SELECT COUNT(*) FROM c${b}x$r) AS n_cands,
         |  (SELECT COUNT(*) FROM c${b}x$r JOIN truth USING (d1, d2)) AS n_true""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $shingledSql,
       |hashed AS (
       |  SELECT doc_id, sh,
       |    list_transform(sh, s -> ${xhash60Sql("s", 0)} % $P) AS hx
       |  FROM shingled),
       |sig AS MATERIALIZED (SELECT doc_id,
       |    $sigCols
       |  FROM hashed),
       |$candCtes,
       |allc AS MATERIALIZED (SELECT DISTINCT d1, d2 FROM ($unionAllCands)),
       |truth AS MATERIALIZED (
       |  SELECT d1, d2 FROM (
       |    SELECT d1, d2,
       |      CAST(len(list_intersect(s1.sh, s2.sh)) AS DOUBLE)
       |        / (len(s1.sh) + len(s2.sh) - len(list_intersect(s1.sh, s2.sh))) AS j
       |    FROM allc
       |    JOIN shingled s1 ON s1.doc_id = d1
       |    JOIN shingled s2 ON s2.doc_id = d2)
       |  WHERE j >= 0.6)
       |$perConfig
       |ORDER BY bands""".stripMargin
  }

  /** The full signature→band→candidate→jaccard CTE chain, ending in
    * `pairs` (d1 < d2, jaccard) — shared by [[dedupMinhashSql]] and
    * the graph oracles that build on the verified pair graph
    * ([[GraphOps.pagerankSql]]). */
  private[ops] def minhashPairsCteSql: String = {
    val sigCols = (0 until NumHashes).map(j =>
      s"list_min(list_transform(hx, x -> (${As(j)} * x + ${Bs(j)}) % $P)) AS h$j")
      .mkString(",\n    ")
    val bandRows = (0 until Bands).map { b =>
      val key = (0 until RowsPerBand).map(r => s"h${b * RowsPerBand + r}")
        .mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band_idx, md5($key) AS band_key FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    s"""$shingledSql,
       |hashed AS (
       |  SELECT doc_id, sh,
       |    list_transform(sh, s -> ${xhash60Sql("s", 0)} % $P) AS hx
       |  FROM shingled),
       |sig AS (SELECT doc_id,
       |    $sigCols
       |  FROM hashed),
       |banded AS (
       |  $bandRows),
       |cands AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM banded a JOIN banded b
       |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       |   AND a.doc_id < b.doc_id),
       |pairs AS (
       |  SELECT d1, d2,
       |    CAST(len(list_intersect(s1.sh, s2.sh)) AS DOUBLE)
       |      / (len(s1.sh) + len(s2.sh) - len(list_intersect(s1.sh, s2.sh))) AS jaccard
       |  FROM cands
       |  JOIN shingled s1 ON s1.doc_id = d1
       |  JOIN shingled s2 ON s2.doc_id = d2)""".stripMargin
  }

  def dedupMinhashSql: String =
    s"""WITH $minhashPairsCteSql
       |SELECT d1, d2, jaccard FROM pairs WHERE jaccard >= 0.6 ORDER BY d1, d2""".stripMargin

  /** SimHash: 60-bit per-document fingerprint (sign of per-bit vote
    * over token-occurrence hashes). Pure map-side work — one fused
    * loop per document via the codegen'd SimHash60 expression, no
    * explode, no shuffle (beyond the output ordering); near-dup
    * candidates would then band on fingerprint chunks exactly like
    * MinHash. */
  def dedupSimhash(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .select(col("doc_id"),
        graft.functions.SimHash.simhash60(
          transform(tokens(col("text")), t => xhash60(t, 0))).as("simhash"))
      .orderBy("doc_id")

  def dedupSimhashSql: String = {
    val votes = (0 until 60).map(bit =>
      s"SUM(CASE WHEN (h >> $bit) & 1 = 1 THEN 1 ELSE -1 END) AS c$bit").mkString(",\n    ")
    val fp = (0 until 60).map(bit =>
      s"(CASE WHEN c$bit > 0 THEN (1::BIGINT << $bit) ELSE 0 END)").mkString(" + ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(${tokensSql("text")}) AS tokn FROM documents),
       |h AS (SELECT doc_id, ${xhash60Sql("tokn", 0)} AS h FROM tok),
       |votes AS (SELECT doc_id,
       |    $votes
       |  FROM h GROUP BY doc_id)
       |SELECT doc_id, $fp AS simhash FROM votes ORDER BY doc_id""".stripMargin
  }

  /** Connected components over an undirected pair graph via min-label
    * propagation WITH pointer jumping: each round a node takes the min
    * of (its label, its neighbors' labels, its label's label). The
    * neighbor-min step alone is the Pregel pattern and needs
    * O(component diameter) rounds; the label-of-label "shortcut" join
    * makes the distance a label has travelled double each round, so
    * convergence is O(log diameter) — a 40-deep chain closes in ~7
    * rounds, not 40 (proven on a deliberately deep chain in
    * ScaleStressSpec). Fixpoint is unchanged: stability under
    * neighbor-min already forces one label per component, labels only
    * ever take node-id values inside their own component, and the min
    * node keeps itself — so the fixpoint label IS the component min.
    *
    * Operates on the edge-induced subgraph only (a node with no edge
    * is trivially its own cluster and has no business inside the
    * iteration — at 100 TB with a low dup rate this shrinks the
    * per-round join from |corpus| to |candidate docs|). Each round is
    * ONE distributed job — the convergence count materializes that
    * round's lazily-checkpointed labels as a side effect — and only a
    * 1-row count crosses the driver.
    *
    * @param pairs undirected edges as (d1, d2), each pair once
    * @return (labels frame (doc_id, cluster_id) over edge endpoints,
    *         rounds run) */
  def connectedComponents(pairs: DataFrame, maxRounds: Int = 20): (DataFrame, Int) = {
    // lazy checkpoints here and per-round below: each round's single
    // driver action (the convergence count) materializes that round's
    // labels as a side effect — one job per round, not two
    val edges = GraphOps.edgesOf(pairs)
      .localCheckpoint(false) // computed once; iterations reuse it
    val labels0 = GraphOps.vertexIds(edges)
      .select(col("id").as("doc_id"), col("id").as("cluster_id"))
      .localCheckpoint(false)
    // the state carries the round's change count for the check below
    val ((labels, changed), iter) =
      GraphOps.untilStable(maxRounds)((labels0, 1L)) { case (labels, _) =>
        val nbrMin = edges.join(labels, edges("dst") === labels("doc_id"))
          .groupBy(col("src")).agg(min(col("cluster_id")).as("nbr_min"))
        // pointer jump: my label's CURRENT label (labels is checkpointed,
        // so the three uses below scan materialized blocks, not lineage)
        val self = labels.select(col("doc_id").as("jid"), col("cluster_id").as("jlabel"))
        // the convergence indicator rides along in the propagation join
        // itself (no separate old-vs-new join per round); the count after
        // the lazy checkpoint is a cheap scan of materialized partitions
        val best = least(
          coalesce(col("nbr_min"), col("cluster_id")),
          coalesce(col("jlabel"), col("cluster_id")))
        val next = labels
          .join(nbrMin, labels("doc_id") === nbrMin("src"), "left_outer")
          .join(self, labels("cluster_id") === col("jid"), "left_outer")
          .select(labels("doc_id"),
            least(col("cluster_id"), best).as("cluster_id"),
            (best < col("cluster_id")).cast("long").as("__chg"))
          .localCheckpoint(false)
        val chg = next.agg(coalesce(sum(col("__chg")), lit(0L))).head().getLong(0)
        ((next.drop("__chg"), chg), chg > 0)
      }
    // with pointer jumping the cap is log-scale (maxRounds=20 covers
    // diameters ~2^20); past it, truncated labels are silently wrong
    // (and oracle-divergent), so fail LOUDLY
    require(changed == 0,
      s"connectedComponents did not converge after $iter rounds ($changed labels still changing) — " +
        "component diameter exceeds the iteration cap")
    (labels, iter)
  }

  /** Session entry of the CC label table (doc_id, cluster_id — every
    * document, no-edge docs labelled with themselves): the cluster
    * assignment is a build-once artifact probed by several queries
    * ([[dedupClusters]], [[clusterSizes]]), exactly like the near-dup
    * pair graph in [[graft.ops.GraphOps.cachedPairs]] — both live in
    * the [[SharedBuild]] registry. The pair build itself routes
    * through GraphOps' shared pair entry, so a session that runs the
    * graph queries AND the cluster queries builds the minhash
    * pipeline once, the CC fixpoint once, and every later probe is a
    * re-aggregation of the persisted |corpus|-row label table. */
  private[ops] def cachedClusterLabels(spark: SparkSession, d: String): DataFrame =
    SharedBuild.frame(spark, "clusters", d) {
      val (labels, _) = connectedComponents(GraphOps.cachedPairs(spark, d))
      // stitch the untouched majority back in: no-edge docs keep
      // themselves as cluster id
      Tables.documents(spark, d).select(col("doc_id"))
        .join(labels, Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
        .persist()
    }

  /** Near-duplicate clustering: connected components over the MinHash
    * pair graph ([[connectedComponents]] — pointer-jumping min-label
    * propagation, O(log diameter) rounds). Output: every document with
    * its cluster id (= min doc_id reachable through near-dup edges)
    * and whether it's the cluster's kept representative. The oracle
    * recomputes the same closure with a recursive CTE. Reads the
    * session-cached label table ([[cachedClusterLabels]]); the CC
    * build prices into whichever cluster/graph query runs first. */
  def dedupClusters(spark: SparkSession, d: String): DataFrame =
    cachedClusterLabels(spark, d)
      .select(col("doc_id"), col("cluster_id"),
        (col("doc_id") === col("cluster_id")).as("is_kept"))
      .orderBy("doc_id")

  def dedupClustersSql: String =
    s"""WITH RECURSIVE ${GraphOps.minhashEdgeCtesSql},
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, reach.r FROM edges e JOIN reach ON e.src = reach.id),
       |clusters AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id)
       |SELECT doc_id, cluster_id, doc_id = cluster_id AS is_kept
       |FROM clusters ORDER BY doc_id""".stripMargin

  /** Cluster-size histogram over [[dedupClusters]] — the dedup run's
    * headline ops metric: how many size-k near-dup clusters exist,
    * how many documents they hold, and what fraction of each size
    * class survives (always exactly one representative per cluster,
    * which the removable-fraction column makes auditable at a
    * glance). Two tiny re-aggregations on top of the session-cached
    * CC label table: cluster→size, then size→(count, docs). */
  def clusterSizes(spark: SparkSession, d: String): DataFrame =
    cachedClusterLabels(spark, d)
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz"))
      .agg(count(lit(1)).as("n_clusters"),
        (count(lit(1)) * col("sz")).as("n_docs"),
        round((col("sz") - 1).cast("double") / col("sz"), 9)
          .as("removable_frac"))
      .orderBy("sz")

  def clusterSizesSql: String =
    s"""SELECT sz, COUNT(*) AS n_clusters,
       |  CAST(COUNT(*) * sz AS BIGINT) AS n_docs,
       |  round(CAST(sz - 1 AS DOUBLE) / sz, 9) AS removable_frac
       |FROM (
       |  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS sz
       |  FROM ($dedupClustersSql) c GROUP BY cluster_id) s
       |GROUP BY sz ORDER BY sz""".stripMargin

  // QA cross-check sample budgets: the brute-force checks below are
  // quadratic in their SAMPLE, so the sample targets a fixed row
  // budget (hash-ordered limit — the lowest-xhash60 docs, a uniform
  // pseudo-random draw that any engine reproduces) instead of a fixed
  // fraction. Pair count is then flat (~N²/2) at ANY corpus scale —
  // a fraction-based sample would re-blow-up 100× at 100× data.
  private val JaccardSampleN = 200
  private val EditSampleN = 100

  /** The n lowest-xhash60(doc_id) documents: a uniform pseudo-random
    * draw that is deterministic on any partitioning and replayed
    * exactly by [[hashOrderedSampleSql]]. TakeOrdered plan — never a
    * full sort. */
  private def hashOrderedSample(spark: SparkSession, d: String, salt: Int, n: Int): DataFrame =
    Tables.documents(spark, d)
      .select(col("doc_id"), col("text"),
        xhash60(col("doc_id").cast("string"), salt).as("hk"))
      .orderBy(col("hk"), col("doc_id")).limit(n)
      .select(col("doc_id"), col("text"))

  private def hashOrderedSampleSql(salt: Int, n: Int): String =
    s"""SELECT doc_id, text FROM (
       |    SELECT doc_id, text,
       |      ${xhash60Sql("CAST(doc_id AS VARCHAR)", salt)} AS hk FROM documents)
       |  ORDER BY hk, doc_id LIMIT $n""".stripMargin

  /** Brute-force bigram jaccard over a fixed-budget doc sample — the
    * quality cross-check for the LSH path (explicitly NOT the scale
    * path; see class doc). The sample is the [[JaccardSampleN]]
    * lowest-content-hash docs: deterministic on any partitioning,
    * reproducible in the oracle, and constant-size at any SF so the
    * quadratic compare stays bounded. Top-20 pairs, deterministic
    * tie-break. */
  def dedupNgramJaccard(spark: SparkSession, d: String): DataFrame = {
    val grams = hashOrderedSample(spark, d, salt = 11, n = JaccardSampleN)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .where(size(col("tk")) >= 2)
      .select(col("doc_id"), array_distinct(transform(
        sequence(lit(1), size(col("tk")) - 1),
        i => concat_ws(" ", element_at(col("tk"), i), element_at(col("tk"), i + 1)))).as("g"))
    val a = grams.select(col("doc_id").as("d1"), col("g").as("g1"))
    val b = grams.select(col("doc_id").as("d2"), col("g").as("g2"))
    a.crossJoin(b).where(col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        (size(array_intersect(col("g1"), col("g2"))).cast("double") /
          (size(col("g1")) + size(col("g2")) -
            size(array_intersect(col("g1"), col("g2"))))).as("jaccard"))
      .orderBy(col("jaccard").desc, col("d1"), col("d2"))
      .limit(20)
  }

  def dedupNgramJaccardSql: String =
    s"""WITH samp AS (
       |  ${hashOrderedSampleSql(salt = 11, n = JaccardSampleN)}),
       |toks AS (
       |  SELECT doc_id, ${tokensSql("text")} AS tk FROM samp),
       |grams AS (
       |  SELECT doc_id, list_distinct(list_transform(range(1, len(tk)),
       |           i -> tk[i] || ' ' || tk[i+1])) AS g
       |  FROM toks WHERE len(tk) >= 2)
       |SELECT a.doc_id AS d1, b.doc_id AS d2,
       |  CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
       |    / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) AS jaccard
       |FROM grams a JOIN grams b ON a.doc_id < b.doc_id
       |ORDER BY jaccard DESC, d1, d2 LIMIT 20""".stripMargin

  /** Shingle CONTAINMENT — the asymmetric member of the dedup family:
    * C(A→B) = |A∩B| / |A| flags a document that is a subset/quote of
    * a larger one even when symmetric Jaccard is diluted by the size
    * gap (the long doc's extra shingles sink the union). Same
    * fixed-budget hash-ordered sample shape as [[dedupNgramJaccard]]
    * (distinct salt → independent draw), both directions emitted so
    * the quote and the quoted rank identically; at production scale
    * the pair source swaps to the LSH candidate join, this declared
    * face keeps the quadratic bounded to the sample. */
  def dedupContainment(spark: SparkSession, d: String): DataFrame = {
    val grams = hashOrderedSample(spark, d, salt = 17, n = JaccardSampleN)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .where(size(col("tk")) >= 2)
      .select(col("doc_id"), array_distinct(transform(
        sequence(lit(1), size(col("tk")) - 1),
        i => concat_ws(" ", element_at(col("tk"), i), element_at(col("tk"), i + 1)))).as("g"))
    val a = grams.select(col("doc_id").as("d1"), col("g").as("g1"))
    val b = grams.select(col("doc_id").as("d2"), col("g").as("g2"))
    val inter = size(array_intersect(col("g1"), col("g2"))).cast("double")
    a.crossJoin(b).where(col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        (inter / size(col("g1"))).as("c_1in2"),
        (inter / size(col("g2"))).as("c_2in1"),
        greatest(inter / size(col("g1")), inter / size(col("g2")))
          .as("containment"))
      .orderBy(col("containment").desc, col("d1"), col("d2"))
      .limit(20)
  }

  def dedupContainmentSql: String =
    s"""WITH samp AS (
       |  ${hashOrderedSampleSql(salt = 17, n = JaccardSampleN)}),
       |toks AS (
       |  SELECT doc_id, ${tokensSql("text")} AS tk FROM samp),
       |grams AS (
       |  SELECT doc_id, list_distinct(list_transform(range(1, len(tk)),
       |           i -> tk[i] || ' ' || tk[i+1])) AS g
       |  FROM toks WHERE len(tk) >= 2)
       |SELECT d1, d2, c_1in2, c_2in1,
       |  greatest(c_1in2, c_2in1) AS containment
       |FROM (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2,
       |    CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) / len(a.g) AS c_1in2,
       |    CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) / len(b.g) AS c_2in1
       |  FROM grams a JOIN grams b ON a.doc_id < b.doc_id)
       |ORDER BY containment DESC, d1, d2 LIMIT 20""".stripMargin

  /** Edit-distance near-dup: levenshtein over 32-char prefixes of a
    * fixed-budget hash-ordered sample ([[EditSampleN]] lowest-hash
    * docs — constant pair count at any SF, reproducible in the
    * oracle) — the character-level member of the dedup family
    * (catches typo-level variants that token jaccard misses).
    * Integer distances, exact in both engines. */
  def dedupEditDistance(spark: SparkSession, d: String): DataFrame = {
    val docs = hashOrderedSample(spark, d, salt = 13, n = EditSampleN)
      .select(col("doc_id"), substring(col("text"), 1, 32).as("prefix"))
    val a = docs.select(col("doc_id").as("d1"), col("prefix").as("p1"))
    val b = docs.select(col("doc_id").as("d2"), col("prefix").as("p2"))
    a.crossJoin(b).where(col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        levenshtein(col("p1"), col("p2")).as("edit_dist"))
      .orderBy(col("edit_dist"), col("d1"), col("d2"))
      .limit(20)
  }

  def dedupEditDistanceSql: String =
    s"""WITH docs AS (
      |  SELECT doc_id, substr(text, 1, 32) AS prefix FROM (
      |    ${hashOrderedSampleSql(salt = 13, n = EditSampleN)}))
      |SELECT a.doc_id AS d1, b.doc_id AS d2,
      |  levenshtein(a.prefix, b.prefix) AS edit_dist
      |FROM docs a JOIN docs b ON a.doc_id < b.doc_id
      |ORDER BY edit_dist, d1, d2 LIMIT 20""".stripMargin

  /** Reproducible sampling: hash-mod selection instead of rand() —
    * the same rows are selected on any cluster, any partitioning, any
    * engine (rand(seed) is partitioning-dependent; content hashing is
    * not). ~10% of documents, stratification visible via lang. */
  def sampleHash(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .where(xhash60(col("doc_id").cast("string"), 3) % 10 === 0)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy("doc_id")

  def sampleHashSql: String =
    s"""SELECT doc_id, lang, n_chars FROM documents
       |WHERE ${xhash60Sql("CAST(doc_id AS VARCHAR)", 3)} % 10 = 0
       |ORDER BY doc_id""".stripMargin

  /** Group-level set sketch via the custom MinHashSigAgg aggregate
    * (TypedImperativeAggregate): each language's vocabulary reduced to
    * a K=12 MinHash signature — the constant-size group summary whose
    * slot-wise equality rate estimates cross-group jaccard. Exploded
    * to scalar rows; the oracle recomputes every slot with a plain
    * MIN over the same hash family. */
  def groupMinhashSig(spark: SparkSession, d: String): DataFrame = {
    val tok = Tables.documents(spark, d)
      .select(col("lang"), explode_outer(tokens(col("text"))).as("tokn"))
      .where(col("tokn").isNotNull) // see TextOps.wordCount: avoids tokens() re-eval in an inferred pushed filter
      .select(col("lang"), (xhash60(col("tokn"), 0) % P).as("h"))
    tok.groupBy("lang")
      .agg(graft.functions.MinHashSigAgg.minhash_sig(col("h")).as("sig"))
      .select(col("lang"), posexplode(col("sig")).as(Seq("hash_idx", "min_val")))
      .orderBy("lang", "hash_idx")
  }

  def groupMinhashSigSql: String = {
    val aList = As.mkString("[", ", ", "]")
    val bList = Bs.mkString("[", ", ", "]")
    s"""WITH tok AS (
       |  SELECT lang, unnest(${tokensSql("text")}) AS tokn FROM documents),
       |h AS (SELECT lang, ${xhash60Sql("tokn", 0)} % $P AS h FROM tok),
       |sigs AS (
       |  SELECT lang, t.j AS hash_idx,
       |    MIN(($aList[t.j + 1] * h + $bList[t.j + 1]) % $P) AS min_val
       |  FROM h CROSS JOIN (SELECT unnest(range(12)) AS j) t
       |  GROUP BY lang, t.j)
       |SELECT lang, hash_idx, min_val FROM sigs ORDER BY lang, hash_idx""".stripMargin
  }

  /** Embedding near-duplicate detection: top-50 highest-cosine pairs.
    * Brute-force here (500-2000 vectors); the scale path is the LSH
    * bucketing in [[SimilarityOps.annLsh]]. */
  def dedupEmbedding(spark: SparkSession, d: String): DataFrame = {
    // precompute each vector's norm once: pair scoring then does ONE
    // codegen'd dot product instead of three (identical numerics —
    // sqrt(dot(v,v)) is the same double wherever it's computed)
    // bounded by construction: brute-force pairs only over the first
    // 2000 vectors (a no-op at test SFs, a hard cap at any scale —
    // the full-corpus path is the LSH/IVF indexes)
    val e = Tables.embeddings(spark, d)
      .where(col("vec_id") < 2000)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(norm2(col("v"))))
    val a = e.select(col("vec_id").as("v1"), col("v").as("e1"), col("nrm").as("n1"))
    val b = e.select(col("vec_id").as("v2"), col("v").as("e2"), col("nrm").as("n2"))
    a.crossJoin(b).where(col("v1") < col("v2"))
      .select(col("v1"), col("v2"),
        round(dotd(col("e1"), col("e2")) / (col("n1") * col("n2")), 9).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("v1"), col("v2"))
      .limit(50)
  }

  def dedupEmbeddingSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |          WHERE vec_id < 2000)
       |SELECT a.vec_id AS v1, b.vec_id AS v2,
       |  ${cosine9Sql("a.v", "b.v")} AS cos_sim
       |FROM e a JOIN e b ON a.vec_id < b.vec_id
       |ORDER BY cos_sim DESC, v1, v2 LIMIT 50""".stripMargin

  // ---------------------------------------------------------------
  // dedup_substring: exact substring dedup (Lee et al. 2022 style)
  // ---------------------------------------------------------------

  /** Minimum duplicated run, in tokens: a substring must repeat at
    * least this many tokens (anywhere in the corpus) to count. Lee et
    * al. use 50 BPE tokens at web scale; 8 fits the synthetic docs
    * (10-99 tokens) while exercising the same machinery. */
  private val SubK = 8

  /** Declared query `dedup_substring`: EXACT substring deduplication
    * in the style of Lee et al. 2022 ("Deduplicating Training Data
    * Makes Language Models Better") — find every maximal token run of
    * length ≥ [[SubK]] that occurs more than once anywhere in the
    * corpus, and emit a per-document removal manifest. Where
    * `dedup_span` ([[CurationOps.dedupSpan]]) hashes NON-overlapping
    * fixed windows (C4's recipe — a duplicate straddling a window
    * boundary is missed), this hashes the k-gram at EVERY token
    * position, so runs of unbounded length are recovered exactly:
    * consecutive duplicated positions chain, and a repeated
    * 500-token passage reports as one 500-token run.
    *
    * NOT a suffix array: Lee et al. build one giant suffix array,
    * which is the single-machine formulation. The distributed
    * equivalent here is hashed shingle buckets — one row per token
    * position carrying a 60-bit hash (the shuffle is hash-only,
    * linear in corpus tokens, same family as dedup_span), a
    * duplicate-bucket aggregate, and a per-document window pass that
    * merges surviving positions into maximal runs (positions ≤ K
    * apart cover contiguous tokens, so their intervals union). The
    * per-doc window state is bounded by the doc's own duplicated
    * positions. Output per document: duplicated-gram positions,
    * merged runs, exact duplicated-token coverage (interval union,
    * never double-counted), the longest run, and the removal
    * fraction. */
  def dedupSubstring(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(spark, d)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"), col("tk"), size(col("tk")).as("n_tokens"))
      .localCheckpoint(false) // tokenize once: grams + per-doc totals share it
    // one row per token position: (doc, position, 60-bit gram hash)
    val grams = toks
      .select(col("doc_id"), col("tk"),
        when(size(col("tk")) >= SubK,
          sequence(lit(0L), (size(col("tk")) - SubK).cast("long")))
          .otherwise(array().cast("array<bigint>")).as("ps"))
      .select(col("doc_id"), col("tk"), explode_outer(col("ps")).as("p"))
      .where(col("p").isNotNull)
      .select(col("doc_id"), col("p"),
        xhash60(concat_ws(" ",
          slice(col("tk"), (col("p") + 1).cast("int"), lit(SubK))), 37).as("gh"))
      .localCheckpoint(false) // gram hashes feed the dup aggregate AND the join back
    val dup = grams.groupBy(col("gh")).agg(count(lit(1)).as("cnt"))
      .where(col("cnt") > 1).select(col("gh"))
    val marked = grams.join(dup, Seq("gh"), "left_semi")
    // merge marked positions into maximal covered runs: two K-token
    // intervals [p, p+K-1] union iff the next start is ≤ p + K
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("p"))
    val runs = marked
      .withColumn("new_run",
        when(col("p") - lag(col("p"), 1).over(wDoc) <= SubK, 0L).otherwise(1L))
      .withColumn("run_id", sum(col("new_run")).over(
        wDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("run_id"))
      .agg(count(lit(1)).as("n_pos"),
        (max(col("p")) - min(col("p")) + SubK).as("run_len"))
    val perDoc = runs.groupBy(col("doc_id"))
      .agg(sum(col("n_pos")).as("n_dup_grams"),
        count(lit(1)).as("n_runs"),
        sum(col("run_len")).as("dup_tokens"),
        max(col("run_len")).as("longest_run"))
    toks.select(col("doc_id"), col("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        coalesce(col("n_runs"), lit(0L)).as("n_runs"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        coalesce(col("longest_run"), lit(0L)).as("longest_run"),
        round(coalesce(col("dup_tokens"), lit(0L)).cast("double") /
          col("n_tokens"), 9).as("dup_frac"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------
  // dedup_lines: corpus-wide line-level exact dedup (first-seen wins)
  // ---------------------------------------------------------------

  /** Lines shorter than this never participate in dedup — the
    * published practice (Dolma/RefinedWeb exempt short lines: "yes",
    * "", headers) AND the scale guard: the empty line would otherwise
    * be the hottest key in the corpus. */
  private val LineMinChars = 10
  /** Lines-per-document bound that makes doc_id·2^20+pos order-
    * preserving; enforced loudly, never silently wrong. */
  private val LinePosBound = 1 << 20

  /** Declared query `dedup_lines`: LINE-level exact dedup across the
    * whole corpus, first occurrence wins — the Dolma/RefinedWeb
    * boilerplate-removal stage (navigation bars, cookie banners,
    * license footers repeat across millions of pages; span dedup
    * ([[graft.ops.CurationOps]] dedup_span) sees fixed token windows,
    * this one dedups on the document's own line structure). Each doc
    * splits on `\n`; every line of ≥ [[LineMinChars]] chars is hashed
    * and the corpus-wide first occurrence (smallest (doc_id, pos))
    * is kept; later copies are dropped. Output per document: line
    * counts, kept-char total, and the duplicate-line fraction.
    *
    * Scale shape: first-seen resolution is a `min` GROUP BY on the
    * line hash — partial-aggregatable (map-side combine), so a
    * boilerplate line repeated a billion times ships ONE candidate
    * row per map partition, not a skewed window; the join back is a
    * hash equi-join on the same key (AQE splits any residual hot
    * bucket), and the per-doc rollup is doc-keyed. Never a window
    * over the hot hash. */
  def dedupLines(spark: SparkSession, d: String): DataFrame = {
    val lines = Tables.documents(spark, d)
      .select(col("doc_id"),
        posexplode(split(col("text"), "\n", -1)).as(Seq("pos", "line")))
      .select(col("doc_id"), col("pos"), col("line"),
        when(col("pos") >= LinePosBound,
          raise_error(lit("dedup_lines: doc exceeds line bound")))
          .otherwise(col("doc_id") * LinePosBound + col("pos")).as("k"),
        (length(col("line")) >= LineMinChars).as("elig"))
      .withColumn("h", when(col("elig"), xhash60(col("line"), 71)))
    val firsts = lines.where(col("elig"))
      .groupBy(col("h")).agg(min(col("k")).as("fk"))
    lines.join(firsts, Seq("h"), "left")
      .select(col("doc_id"), col("line"),
        (!col("elig") || col("k") === col("fk")).as("kept"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        count(when(col("kept"), 1)).as("n_kept"),
        count(when(!col("kept"), 1)).as("n_dropped"),
        coalesce(sum(when(col("kept"), length(col("line")).cast("long"))), lit(0L))
          .as("kept_chars"),
        (floor(count(when(!col("kept"), 1)).cast("double") / count(lit(1))
          * lit(1e9) + lit(0.5)) / lit(1e9)).as("dup_frac"))
      .orderBy("doc_id")
  }

  def dedupLinesSql: String =
    s"""WITH ls AS (
       |  SELECT doc_id, string_split(text, chr(10)) AS l FROM documents),
       |lines AS (
       |  SELECT doc_id,
       |    unnest(range(1, len(l) + 1)) - 1 AS pos,
       |    unnest(l) AS line
       |  FROM ls),
       |flagged AS (
       |  SELECT doc_id, line,
       |    CASE WHEN pos >= $LinePosBound
       |      THEN error('dedup_lines: doc exceeds line bound')
       |      ELSE doc_id * $LinePosBound + pos END AS k,
       |    length(line) >= $LineMinChars AS elig,
       |    CASE WHEN length(line) >= $LineMinChars
       |      THEN ${xhash60Sql("line", 71)} END AS h
       |  FROM lines),
       |firsts AS (
       |  SELECT h, MIN(k) AS fk FROM flagged WHERE elig GROUP BY h),
       |kept AS (
       |  SELECT f.doc_id, f.line, (NOT f.elig) OR f.k = fi.fk AS kept
       |  FROM flagged f LEFT JOIN firsts fi ON f.h = fi.h)
       |SELECT doc_id, COUNT(*) AS n_lines,
       |  CAST(COUNT(CASE WHEN kept THEN 1 END) AS BIGINT) AS n_kept,
       |  CAST(COUNT(CASE WHEN NOT kept THEN 1 END) AS BIGINT) AS n_dropped,
       |  CAST(COALESCE(SUM(CASE WHEN kept THEN length(line) END), 0) AS BIGINT)
       |    AS kept_chars,
       |  floor(CAST(COUNT(CASE WHEN NOT kept THEN 1 END) AS DOUBLE) / COUNT(*)
       |    * 1e9 + 0.5) / 1e9 AS dup_frac
       |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin

  def dedupSubstringSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, ${tokensSql("text")} AS tk FROM documents),
       |grams AS (
       |  SELECT doc_id, p, ${xhash60Sql(
             s"array_to_string(tk[(p + 1):(p + $SubK)], ' ')", 37)} AS gh
       |  FROM (
       |    SELECT doc_id, tk, unnest(range(len(tk) - $SubK + 1)) AS p
       |    FROM toks WHERE len(tk) >= $SubK)),
       |dup AS (SELECT gh FROM grams GROUP BY gh HAVING count(*) > 1),
       |marked AS (SELECT g.doc_id, g.p FROM grams g
       |           WHERE g.gh IN (SELECT gh FROM dup)),
       |flagged AS (
       |  SELECT doc_id, p,
       |    CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) <= $SubK
       |         THEN 0 ELSE 1 END AS new_run
       |  FROM marked),
       |runident AS (
       |  SELECT doc_id, p,
       |    SUM(new_run) OVER (PARTITION BY doc_id ORDER BY p
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
       |  FROM flagged),
       |runs AS (
       |  SELECT doc_id, run_id, count(*) AS n_pos,
       |    max(p) - min(p) + $SubK AS run_len
       |  FROM runident GROUP BY doc_id, run_id),
       |per_doc AS (
       |  SELECT doc_id, SUM(n_pos) AS n_dup_grams, count(*) AS n_runs,
       |    SUM(run_len) AS dup_tokens, MAX(run_len) AS longest_run
       |  FROM runs GROUP BY doc_id)
       |SELECT t.doc_id, len(t.tk) AS n_tokens,
       |  CAST(coalesce(p.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
       |  CAST(coalesce(p.n_runs, 0) AS BIGINT) AS n_runs,
       |  CAST(coalesce(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       |  CAST(coalesce(p.longest_run, 0) AS BIGINT) AS longest_run,
       |  round(CAST(coalesce(p.dup_tokens, 0) AS DOUBLE) / len(t.tk), 9)
       |    AS dup_frac
       |FROM toks t LEFT JOIN per_doc p ON t.doc_id = p.doc_id
       |ORDER BY t.doc_id""".stripMargin
}
