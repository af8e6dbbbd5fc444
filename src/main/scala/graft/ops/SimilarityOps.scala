package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.OpsUtil._

/** Similarity search over `embeddings.embedding: array<float>`.
  *
  * Two paths, per the north star:
  *  - [[bruteTopK]]: exact cosine top-k — a broadcast of the (small)
  *    query set against the full corpus, so the big side streams
  *    through one codegen stage with no shuffle. The correctness
  *    baseline.
  *  - [[annLsh]]: random-hyperplane LSH (sign-of-projection buckets,
  *    multi-table) — candidates come from equi-joins on bucket keys,
  *    never an all-pairs compare. This is the 100 TB path: bucket
  *    cardinality scales with corpus size, each query probes T
  *    buckets. Recall vs the brute-force baseline is asserted in
  *    SimilaritySpec.
  */
object SimilarityOps {

  private val K = 5

  /** Exact top-k neighbors for query vectors (vec_id < 10): broadcast
    * queries × corpus, rank per query. Ties broken by neighbor id so
    * output is deterministic. */
  def bruteTopK(spark: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(norm2(col("v"))))
    val q = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val c = e.select(col("vec_id").as("nid"), col("v").as("nv"), col("nrm").as("nn"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_sim").desc, col("nid"))
    broadcast(q).crossJoin(c)
      .where(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        round(dotd(col("qv"), col("nv")) / (col("qn") * col("nn")), 9).as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= K)
      .orderBy("qid", "rank")
  }

  def bruteTopKSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
       |scored AS (
       |  SELECT qid, e.vec_id AS nid, ${cosine9Sql("qv", "e.v")} AS cos_sim
       |  FROM q CROSS JOIN e WHERE qid <> e.vec_id),
       |ranked AS (
       |  SELECT qid, nid, cos_sim,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rank
       |  FROM scored)
       |SELECT qid, nid, cos_sim, rank FROM ranked WHERE rank <= $K
       |ORDER BY qid, rank""".stripMargin

  // LSH configuration: T hash tables × B hyperplanes each. Plane
  // weights are derived from the cross-engine xhash60 so the whole
  // index is deterministic and rebuildable anywhere.
  private val Tabs = 6
  private val Bits = 5
  private val Dim = 64

  /** Deterministic pseudo-random hyperplane component in [-1, 1). */
  private def planeWeight(table: Int, bit: Int, dim: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"plane:$table:$bit:$dim".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 15)
    val v = java.lang.Long.parseLong(hex, 16)
    (v % 2000001L) / 1000000.0 - 1.0
  }

  private lazy val planes: Map[Int, Seq[Seq[Double]]] = (0 until Tabs).map { t =>
    t -> (0 until Bits).map(b => (0 until Dim).map(i => planeWeight(t, b, i)))
  }.toMap

  /** Bucket key for table t: Bits-bit sign signature of projections. */
  private def bucketKey(v: org.apache.spark.sql.Column, t: Int) =
    (0 until Bits).map { b =>
      val plane = array(planes(t)(b).map(lit): _*)
      when(dotd(v.cast("array<double>"), plane) >= 0, shiftleft(lit(1), b)).otherwise(0)
    }.reduce(_ + _)

  /** The exploded sign-LSH membership relation: one (vec_id, v, tab,
    * bkt) row per table. Consumers that need keys only (the dedup
    * self-join) project `v` away and Catalyst prunes it out of the
    * pre-explode projection. */
  private[ops] def lshMembership(spark: SparkSession, d: String): DataFrame =
    Tables.embeddings(spark, d)
      .select(
        (col("vec_id") +: col("embedding").as("v") +:
          (0 until Tabs).map(t => bucketKey(col("embedding"), t).as(s"b$t"))): _*)
      .select(col("vec_id"), col("v"),
        posexplode(array((0 until Tabs).map(t => col(s"b$t")): _*)).as(Seq("tab", "bkt")))

  /** Approximate top-k via multi-table sign-LSH. Output: per query
    * (vec_id < 10) the top-3 candidates found in its buckets.
    * Approximate-by-design but fully deterministic (md5-derived
    * planes), so [[annLshSql]] replays the identical index in DuckDB
    * for a hash-exact oracle; recall vs [[bruteTopK]] is additionally
    * bounded in ScalaTest. */
  def annLsh(spark: SparkSession, d: String): DataFrame = {
    val buckets = lshMembership(spark, d)
    val q = buckets.where(col("vec_id") < 10)
      .select(col("tab"), col("bkt"), col("vec_id").as("qid"), col("v").as("qv"))
    val c = buckets.select(col("tab"), col("bkt"), col("vec_id").as("nid"), col("v").as("nv"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_sim").desc, col("nid"))
    broadcast(q).join(c, Seq("tab", "bkt"))
      .where(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), cosine9(col("qv"), col("nv")).as("cos_sim"))
      .distinct()
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .orderBy("qid", "rank")
  }

  /** The LSH pair build keeps this many highest-cosine pairs, so every
    * graph over it ([[GraphOps.kcore]] and the other LSH-graph
    * queries) has at most twice as many directed edges at any corpus
    * size. */
  private[ops] val LshPairLimit = 50

  /** Embedding near-dup detection at corpus scale: the LSH-bucketed
    * counterpart of [[DedupOps.dedupEmbedding]] — identical output
    * contract (top-50 highest-cosine pairs, v1 < v2) but candidate
    * pairs come ONLY from vectors sharing a sign-LSH bucket, so the
    * pair count is Σ bucket² per table instead of corpus². This is the
    * shape that removes the brute path's hard cap: where
    * dedup_embedding stops at 2000 vectors by construction, this plan
    * is linear in corpus size + bucket-bounded in pair work.
    *
    * Mirrors the dedup_minhash scale discipline: the bucket explode
    * carries (vec_id, tab, bkt) keys only — never the 64-dim vectors
    * (column pruning drops `v` from [[lshMembership]]) — and the
    * cosine verify joins vectors back by id for candidate pairs alone.
    * Deterministic md5-derived planes mean [[dedupEmbeddingLshSql]]
    * replays the identical index, so this approximate operator is
    * hash-checked end-to-end; overlap vs the brute top-50 is
    * additionally bounded in ScalaTest. */
  def dedupEmbeddingLsh(spark: SparkSession, d: String): DataFrame = {
    // keys-only membership (3 longs/row), lazily checkpointed so the
    // bucket signatures (Tabs × Bits dot products per vector — the
    // dominant per-row CPU) are computed ONCE, not once per self-join
    // side — the dedup_minhash single-tokenize discipline.
    val keys = lshMembership(spark, d).select("vec_id", "tab", "bkt")
      .localCheckpoint(false)
    val cands = keys.select(col("tab"), col("bkt"), col("vec_id").as("v1"))
      .join(keys.select(col("tab"), col("bkt"), col("vec_id").as("v2")), Seq("tab", "bkt"))
      .where(col("v1") < col("v2"))
      .select("v1", "v2").distinct()
    val e = corpus(spark, d)
    val ev1 = e.select(col("vec_id").as("v1"), col("v").as("e1"), sqrt(col("n2")).as("m1"))
    val ev2 = e.select(col("vec_id").as("v2"), col("v").as("e2"), sqrt(col("n2")).as("m2"))
    cands.join(ev1, "v1").join(ev2, "v2")
      .select(col("v1"), col("v2"),
        round(dotd(col("e1"), col("e2")) / (col("m1") * col("m2")), 9).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("v1"), col("v2"))
      .limit(LshPairLimit)
  }

  /** DuckDB mirror of [[dedupEmbeddingLsh]]: rebuilds the identical
    * plane/bucket index (shared CTE prefix with [[annLshSql]]), then
    * the same co-bucket candidate self-join and join-back scoring. */
  def dedupEmbeddingLshSql: String =
    s"""WITH $lshIndexCtes,
       |cands AS (
       |  SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
       |  FROM buckets a JOIN buckets b USING (tab, bkt)
       |  WHERE a.vec_id < b.vec_id),
       |scored AS (
       |  SELECT c.v1, c.v2, ${cosine9Sql("ea.v", "eb.v")} AS cos_sim
       |  FROM cands c
       |  JOIN e ea ON ea.vec_id = c.v1
       |  JOIN e eb ON eb.vec_id = c.v2)
       |SELECT v1, v2, cos_sim FROM scored
       |ORDER BY cos_sim DESC, v1, v2 LIMIT $LshPairLimit""".stripMargin

  /** Int8 scalar quantization round-trip: per vector, the symmetric
    * scale (127/max|x|), quantize, dequantize, and report the max
    * reconstruction error — the storage-reduction path for embedding
    * corpora (4 bytes/dim → 1). Pure per-row arithmetic; the oracle
    * recomputes it exactly. */
  def quantizeError(spark: SparkSession, d: String): DataFrame = {
    val v = col("embedding").cast("array<double>")
    val maxAbs = array_max(transform(v, x => abs(x)))
    val scale = lit(127.0) / maxAbs
    val err = array_max(zip_with(v,
      transform(v, x => round(x * scale) / scale),
      (x, deq) => abs(x - deq)))
    Tables.embeddings(spark, d)
      .where(maxAbs > 0)
      .select(col("vec_id"),
        round(maxAbs, 9).as("max_abs"),
        round(err, 9).as("max_q_err"))
      .orderBy("vec_id")
  }

  def quantizeErrorSql: String =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |    list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS max_abs
      |  FROM embeddings)
      |SELECT vec_id, round(max_abs, 9) AS max_abs,
      |  round(list_max(list_transform(v,
      |    x -> abs(x - round(x * (127.0 / max_abs)) / (127.0 / max_abs)))), 9) AS max_q_err
      |FROM e WHERE max_abs > 0 ORDER BY vec_id""".stripMargin

  /** Output dimensionality of the JL random projection. */
  private val RpK = 16

  /** Deterministic ±1 JL sign (the [[planeWeight]] construction with
    * a Rademacher range — Achlioptas 2003: ±1 entries satisfy the JL
    * lemma with the same guarantees as Gaussians and cost one sign
    * flip per term instead of a multiply). */
  private def rpSign(j: Int, i: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"rp:$j:$i".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 15)
    if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1.0 else -1.0
  }

  private lazy val rpSigns: Seq[Seq[Double]] =
    (0 until RpK).map(j => (0 until Dim).map(i => rpSign(j, i)))

  /** Johnson–Lindenstrauss random projection (64 → [[RpK]] dims) with
    * its distortion self-eval: per vector, the ratio of projected to
    * original squared norm ((Σ_j ⟨s_j, x⟩²/K) / ‖x‖², expectation 1
    * under JL), summarized per label — the one table you check before
    * trusting a projected index: a ratio distribution hugging 1 means
    * downstream cosine/L2 structure survived the 4× dim reduction.
    * The K×64 ±1 matrix is hash-derived once and inlined as literals
    * in BOTH plans (≈1 KB — matrix as broadcast constant, never a
    * join), so per-row cost is K sign-folds over the vector, no
    * shuffle until the ≤|labels|-key aggregate. Per-vector ratios
    * round at 9 and the label mean sums them through DECIMAL(18,9)
    * ([[OpsUtil.dsum]] contract); zero-norm vectors are excluded in
    * both engines. */
  def randomProjection(spark: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(spark, d)
      .select(col("label"), col("embedding").cast("array<double>").as("v"))
    val withP = e.select(
      (col("label") +:
        rpSigns.zipWithIndex.map { case (row, j) =>
          dotd(col("v"), array(row.map(lit): _*)).as(s"p$j")
        }) :+ norm2(col("v")).as("n2"): _*)
    val ySq = (0 until RpK).map(j => col(s"p$j") * col(s"p$j")).reduce(_ + _)
    val r = withP.where(col("n2") > 0)
      .select(col("label"),
        round((ySq / lit(RpK.toDouble)) / col("n2"), 9).as("r"))
    r.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        round(sum(col("r").cast("decimal(18,9)")).cast("double") /
          count(lit(1)), 9).as("avg_ratio"),
        min(col("r")).as("min_ratio"),
        max(col("r")).as("max_ratio"))
      .orderBy("label")
  }

  def randomProjectionSql: String = {
    def lst(row: Seq[Double]) =
      row.map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
    val pCols = rpSigns.zipWithIndex.map { case (row, j) =>
      s"list_sum(list_transform(range(1, $Dim + 1), i -> v[i] * (${lst(row)})[i])) AS p$j"
    }.mkString(",\n    ")
    val ySq = (0 until RpK).map(j => s"p$j*p$j").mkString(" + ")
    s"""WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |wp AS (
       |  SELECT label,
       |    $pCols,
       |    list_sum(list_transform(v, x -> x*x)) AS n2
       |  FROM e),
       |r AS (
       |  SELECT label, round((($ySq) / ${RpK.toDouble}) / n2, 9) AS r
       |  FROM wp WHERE n2 > 0)
       |SELECT label, COUNT(*) AS n_vecs,
       |  round(CAST(SUM(CAST(r AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 9) AS avg_ratio,
       |  MIN(r) AS min_ratio, MAX(r) AS max_ratio
       |FROM r GROUP BY label ORDER BY label""".stripMargin
  }

  /** Shared CTE prefix rebuilding the sign-LSH index in DuckDB: the
    * plane weights are md5-derived constants, so the whole index is
    * rebuildable in SQL — the planes are inlined as literals
    * (Double.toString round-trips exactly) and the bucket keys mirror
    * the Spark plan step for step. Yields CTEs `e` (cast vectors),
    * `planes`, `proj`, `buckets` (vec_id, tab, bkt). */
  private def lshIndexCtes: String = {
    val planeRows = (for (t <- 0 until Tabs; b <- 0 until Bits) yield {
      val ws = (0 until Dim).map(i => planeWeight(t, b, i)).mkString("[", ", ", "]")
      s"($t, $b, $ws)"
    }).mkString(",\n    ")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |planes AS (SELECT * FROM (VALUES
       |    $planeRows) AS t(tab, bit, w)),
       |proj AS (
       |  SELECT e.vec_id, p.tab,
       |    CASE WHEN list_sum(list_transform(range(1, $Dim + 1), i -> e.v[i] * p.w[i])) >= 0
       |         THEN (1 << p.bit) ELSE 0 END AS bv
       |  FROM e CROSS JOIN planes p),
       |buckets AS (SELECT vec_id, tab, SUM(bv) AS bkt FROM proj GROUP BY vec_id, tab)""".stripMargin
  }

  /** DuckDB mirror of [[annLsh]]: shared index CTEs, then the
    * candidate join and ranking mirroring the Spark plan. */
  def annLshSql: String = {
    s"""WITH $lshIndexCtes,
       |q AS (SELECT tab, bkt, vec_id AS qid FROM buckets WHERE vec_id < 10),
       |cands AS (
       |  SELECT DISTINCT q.qid, c.vec_id AS nid
       |  FROM q JOIN buckets c USING (tab, bkt)
       |  WHERE q.qid <> c.vec_id),
       |scored AS (
       |  SELECT cands.qid, cands.nid, ${cosine9Sql("qe.v", "ne.v")} AS cos_sim
       |  FROM cands
       |  JOIN e qe ON qe.vec_id = cands.qid
       |  JOIN e ne ON ne.vec_id = cands.nid),
       |ranked AS (SELECT qid, nid, cos_sim,
       |    row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rank
       |  FROM scored)
       |SELECT qid, nid, cos_sim, rank FROM ranked WHERE rank <= 3 ORDER BY qid, rank""".stripMargin
  }

  // IVF configuration. The cell count k is sized ∝ corpus — each cell
  // targets ~[[IvfCellPop]] vectors, the SemDeDup recipe that keeps the
  // within-cell pairwise stage's per-cell population (and so per-cell
  // pair count) flat as the corpus grows. k is computed INSIDE the plan
  // (a 1-row count aggregate cross-joined into the seed selection — no
  // driver action) and clamped to [IvfMinCells, IvfMaxCells]: the
  // ceiling keeps the broadcast centroid table bounded (65536 cells ×
  // 64 dims × 8 B ≈ 34 MB); past ~2M vectors the two-level
  // coarse-quantizer path ([[annIvf2]], `sim_ann_ivf2`) takes over —
  // its broadcasts are ⌈√k⌉-bounded, so k can keep growing ∝ corpus
  // (ScaleStressSpec drives it at 1.2M vectors × 67,600 cells).
  private val IvfCellPop = 32
  private val IvfMinCells = 4
  private val IvfMaxCells = 65536
  private val IvfProbe = 4
  private val IvfRounds = 3
  private val QScale = 1000000.0

  /** vec_id, v (array<double>), n2 (squared norm) — shared scan shape
    * for the IVF build and probe sides. */
  private def corpus(spark: SparkSession, d: String): DataFrame =
    Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("n2", norm2(col("v")))

  /** Squared distance via the precomputed norms:
    * (|v|² - 2·v·c) + |c|² — one codegen'd dot per pair. The exact
    * association order is mirrored in the SQL oracle. */
  private def sqdist2(n2v: Column, v: Column, c: Column, n2c: Column) =
    (n2v - lit(2.0) * dotd(v, c)) + n2c

  // ---------------------------------------------------------------
  // The Lloyd kernel: every k-means-style build below (IVF, two-level
  // IVF, PQ, k-means) is one MapReduce job per round — the map step
  // assigns each row to its nearest centroid ([[nearest]]), the reduce
  // step averages each cell ([[centroidMeans]]) — started from
  // [[seeds]]. Each has one SQL mirror generator for the oracle.
  // ---------------------------------------------------------------

  /** Nearest centroid, struct-min form: join the centroids (pass
    * `broadcast(cents)`; `on` empty is a cross join, else an equi-join
    * on those keys), then per `keys` group keep
    * min(struct(dist, id)) — lowest distance, ties to the lower id.
    * The caller owns the distance expression (and so its rounding).
    *
    * An aggregate, not a window: a row_number window shuffles and
    * sorts the whole ×k candidate fan-out, vectors included, while the
    * aggregate's map-side partial leaves one row per key before the
    * exchange. min(struct) plans as a SortAggregate (struct buffers
    * aren't hash-aggregable), but its sorts are partition-local over
    * the join's key-contiguous runs. `first` over each `carry` column
    * is deterministic: every row of a key group carries the identical
    * value (the group fans out only over candidate centroids).
    * Output: keys, carry, `id`, `dist`. */
  private[ops] def nearest(rows: DataFrame, cents: DataFrame, on: Seq[String],
      keys: Seq[String], carry: Seq[String], dist: Column, id: String): DataFrame =
    (if (on.isEmpty) rows.crossJoin(cents) else rows.join(cents, on))
      .withColumn("dist", dist)
      .groupBy(keys.map(col): _*)
      .agg(min(struct(col("dist"), col(id))).as("p"),
        carry.map(c => first(col(c)).as(c)): _*)
      .select(keys.map(col) ++ carry.map(col) ++
        Seq(col(s"p.$id").as(id), col("p.dist").as("dist")): _*)

  /** Nearest centroid, literal form: the centroids are driver-side
    * (id, array) pairs, so each row's candidate (dist, id) structs
    * ([[candidates]]) are plain codegen'd projections and the argmin
    * is their `least` — map-only, no join and no shuffle at any corpus
    * size. The same rule as the struct-min form: `least` on structs is
    * lexicographic, so lowest distance, ties to the lower id.
    * Output: carry, `id`, `dist`. */
  private[ops] def nearest(rows: DataFrame, cents: Seq[(Long, Seq[Double])],
      carry: Seq[String], dist: Column => Column, id: String): DataFrame = {
    val ds = candidates(cents, dist, id)
    val p = if (ds.size == 1) ds.head else least(ds: _*)
    rows.select(carry.map(col) :+ p.as("p"): _*)
      .select(carry.map(col) ++ Seq(col(s"p.$id").as(id), col("p.dist").as("dist")): _*)
  }

  /** One struct(dist, id) column per literal centroid; ids are
    * distinct, so two whole structs never tie. */
  private def candidates(cents: Seq[(Long, Seq[Double])], dist: Column => Column,
      id: String): Seq[Column] =
    cents.map { case (i, c) =>
      struct(dist(array(c.map(lit): _*)).as("dist"), lit(i).as(id))
    }

  /** Centroid mean — the reduce step: explode each assigned row's
    * `v` array, average per (keys, dim) under `mean` (both rules below
    * are order-independent, so the distributed partial aggregation is
    * deterministic), re-gather each centroid's array `c` in dim order
    * and add its squared norm `n2`. Never a per-cluster array fold on
    * one node. */
  private[ops] def centroidMeans(assigned: DataFrame, keys: Seq[String], v: String,
      mean: Column => Column, n2: String): DataFrame = {
    val ks = keys.map(col)
    assigned.select(ks :+ posexplode(col(v)).as(Seq("i", "x")): _*)
      .groupBy(ks :+ col("i"): _*)
      .agg(mean(col("x")).as("cx"))
      .groupBy(ks: _*)
      .agg(transform(array_sort(collect_list(struct(col("i"), col("cx")))),
        s => s.getField("cx")).as("c"))
      .withColumn(n2, norm2(col("c")))
  }

  /** Mean rule of the IVF and PQ builds: an exact BIGINT sum of
    * 1e-6-quantized components, divided back out as double — exact and
    * order-independent, so Spark (distributed partial aggregation) and
    * DuckDB (single-node) build bit-identical centroids and the index
    * is reproducible anywhere. */
  private[ops] def quantizedMean(x: Column): Column =
    sum(round(x * QScale).cast("long")).cast("double") / count(lit(1)) / QScale

  /** Seeds: the first k rows of `rows` in `order`, numbered `id` = 0,
    * 1, … in that order. An ordered limit — a distributed top-k, never
    * a corpus-wide window: the unpartitioned row_number runs over the
    * limit's rows only. `k` is a literal (the limit itself) or a
    * one-row count frame; a counted k is capped at [[IvfMaxCells]] and
    * the numbering is filtered against the broadcast count. */
  private def seeds(rows: DataFrame, order: Seq[Column], k: Either[Int, DataFrame],
      id: String): DataFrame = {
    val numbered = rows.orderBy(order: _*).limit(k.fold(identity, _ => IvfMaxCells))
      .withColumn(id, row_number().over(Window.orderBy(order: _*)) - 1)
    k.fold(_ => numbered, kf => numbered.crossJoin(broadcast(kf))
      .where(col(id) < col(kf.columns.head)).drop(kf.columns.head))
  }

  /** The SQL mirror of a counted [[seeds]]: the first rows of `from`
    * in `order` (capped at [[IvfMaxCells]]), numbered `id` from 0 and
    * kept below the count the scalar query `k` returns. */
  private def seedsCte(name: String, id: String, cols: String, from: String,
      order: String, k: String): String =
    s"""$name AS (
       |  SELECT * FROM (
       |    SELECT row_number() OVER (ORDER BY $order) - 1 AS $id, $cols
       |    FROM (SELECT * FROM $from ORDER BY $order LIMIT $IvfMaxCells))
       |  WHERE $id < ($k))""".stripMargin

  /** The SQL mirror of [[nearest]], and of the top-n routes: per
    * `part` group, the rows of `from` ranked ≤ n by (dist, id) —
    * row_number ordered by distance, ties to the lower id. Output:
    * `sel`'s columns, `dist` and the rank `rn`. */
  private def nearestCte(name: String, sel: String, dist: String, part: String,
      id: String, from: String, n: Int, materialized: Boolean = false): String =
    s"""$name AS${if (materialized) " MATERIALIZED" else ""} (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY $part ORDER BY dist, $id) AS rn
       |    FROM (SELECT $sel, $dist AS dist FROM $from)) WHERE rn <= $n)""".stripMargin

  /** The SQL mirror of [[centroidMeans]]: per (keys, dim) the `mean`
    * of the exploded `v` arrays of `from`, re-gathered in dim order
    * into `c`, plus its squared norm `n2`. */
  private def meansCte(name: String, keys: String, v: String, mean: String => String,
      n2: String, from: String, materialized: Boolean = false): String =
    s"""$name AS${if (materialized) " MATERIALIZED" else ""} (
       |  SELECT *, ${norm2Sql("c")} AS $n2 FROM (
       |    SELECT $keys, list(cx ORDER BY i) AS c FROM (
       |      SELECT $keys, i, ${mean("x")} AS cx FROM (
       |        SELECT $keys, unnest(range(1, len($v) + 1)) AS i, unnest($v) AS x
       |        FROM $from)
       |      GROUP BY $keys, i)
       |    GROUP BY $keys))""".stripMargin

  private def quantizedMeanSql(x: String): String =
    s"CAST(SUM(CAST(round($x * 1000000.0) AS BIGINT)) AS DOUBLE) / COUNT(*) / 1000000.0"

  private def assignCells(e: DataFrame, cents: DataFrame): DataFrame =
    nearest(e, broadcast(cents), Nil, Seq("vec_id"), Seq("v"),
      sqdist2(col("n2"), col("v"), col("c"), col("cn2")), "cell")

  /** 1-row (k) table: the corpus-proportional cell count, computed as
    * a plan-side count aggregate so the build stays a lazy DataFrame.
    * ceil(n / [[IvfCellPop]]) clamped to [[IvfMinCells]]..[[IvfMaxCells]]. */
  private def ivfK(e: DataFrame): DataFrame =
    e.agg(greatest(lit(IvfMinCells.toLong),
      least(lit(IvfMaxCells.toLong),
        ceil(count(lit(1)) / lit(IvfCellPop.toDouble)))).as("k"))

  /** IVF index build — the one-off indexing step, as a plain lazy
    * DataFrame: seeds are the k lowest xhash60(vec_id) vectors
    * (deterministic on any cluster; k ∝ corpus via [[ivfK]]), refined
    * by [[IvfRounds]] Lloyd's iterations expressed entirely as joins +
    * aggregations.
    * No MLlib fit, no driver-side action — at 100 TB this runs as an
    * ordinary distributed job and the (tiny) result is persisted once
    * and broadcast to every probe. */
  def annIvfCentroids(spark: SparkSession, d: String): DataFrame = {
    // The build consumes the corpus FIVE times (seed ordering, the k
    // count, and one assignment per Lloyd round), and each pass would
    // re-run the scan + cast + norm2 pipeline. A persist materializes
    // the normalized corpus on first use; every later pass reads the
    // blocks. Not localCheckpoint(false): under AQE that runs the
    // shuffle-map job when it is called, so construction would no
    // longer be lazy. The persisted plan carries the seed hash, so no
    // other query's plain corpus subplan matches it in the cache.
    val hashed = SharedBuild.frame(spark, "ivf-corpus", d)(
      corpus(spark, d).withColumn("hk", xhash60(col("vec_id").cast("string"), 7)).persist())
    val e = hashed.drop("hk")
    var cents = seeds(hashed, Seq(col("hk"), col("vec_id")), Right(ivfK(e)), "cell")
      .select(col("cell"), col("v").as("c"), col("n2").as("cn2"))
    for (_ <- 1 to IvfRounds)
      cents = centroidMeans(assignCells(e, cents), Seq("cell"), "v", quantizedMean, "cn2")
    cents
  }

  // One persisted centroid table per (session, sf-dir) in the
  // [[SharedBuild]] registry: repeat annIvf calls on the same data reuse
  // the SAME k-row entry instead of accumulating a fresh persist per
  // call. The real build-once path still persists the index to a table
  // ([[annIvfProbe]] + SketchSpec's parquet round-trip); this entry
  // only serves the self-contained query form.
  private def cachedCentroids(spark: SparkSession, d: String): DataFrame =
    SharedBuild.frame(spark, "ivf", d)(annIvfCentroids(spark, d).persist())

  /** IVF (inverted-file) ANN probe: route each query (vec_id < 10) to
    * its [[IvfProbe]] nearest cells via a broadcast centroid join +
    * row_number ≤ nprobe — no collect, no driver loop — then rank
    * candidates within the probed cells only (nprobe/k of the corpus).
    * Build and probe are split ([[annIvfCentroids]] is the index); the
    * deterministic quantized build means the DuckDB oracle replays the
    * identical index, so this approximate operator is hash-checked
    * end-to-end. */
  def annIvf(spark: SparkSession, d: String): DataFrame =
    annIvfProbe(spark, d, cachedCentroids(spark, d))

  // The covariance matrix is the same build-once artifact for the
  // spectral family (emb_power, emb_power_iter, emb_pca2): one
  // fixed-point Gram pass over the corpus feeds all three, and without
  // a shared entry each rebuilt it per query (the r12
  // dedup_clusters/cluster_sizes redundancy, fourth instance). dims²
  // ≤ 4096 rows.
  private def cachedCov(spark: SparkSession, d: String): DataFrame =
    SharedBuild.frame(spark, "cov", d) {
      // localCheckpoint, NOT bare persist: consumers reference cov up
      // to ~12 times inside one deeply nested plan (v3(v2(v1(cov))),
      // cov2(cov, u(v3...), lam1(...)), …), and with full lineage each
      // reference re-embeds the whole Gram pipeline — Catalyst
      // analysis alone blew emb_pca2 3.0 → 12.5 s. The checkpoint
      // truncates every reference to a flat block scan. Materialized
      // NOW by a dims² ≤ 4096-row action so no consumer recomputes
      // the Gram pass; blocks are swept by the bench's freeBlocks
      // (persistent-RDD unpersist) like every other checkpoint.
      val cov = covOf(spark, d).localCheckpoint(false)
      cov.count()
      cov
    }

  /** Test/bench view: the live centroid tables. Assertions about
    * caching behavior must target THESE DataFrames (count, identity,
    * storageLevel), never the context-global persistent-RDD registry —
    * that registry is shared by every suite on the session and mutates
    * asynchronously (other ops' caches, the ContextCleaner), which
    * made the eviction test flake in full-suite runs. */
  private[graft] def ivfCacheSnapshot: Seq[DataFrame] = SharedBuild.live[DataFrame]("ivf")

  /** Probe against an EXISTING index — the build-once/probe-many path:
    * `centroids` may be the freshly built [[annIvfCentroids]] or the
    * same table read back from storage (SketchSpec proves the parquet
    * round-trip probes identically). At 100 TB the index is written
    * once by an indexing job and every probe job just broadcasts it. */
  def annIvfProbe(spark: SparkSession, d: String, centroids: DataFrame): DataFrame = {
    val e = corpus(spark, d)
    ivfTop3(e, assignCells(e, centroids), q => nearestN(q.crossJoin(broadcast(centroids)),
      sqdist2(col("qn2"), col("qv"), col("c"), col("cn2")), "cell", IvfProbe))
  }

  /** The probe side of both IVF variants: the queries (vec_id < 10)
    * of `e`, routed by `probe` to (qid, cell) pairs, then the top-3
    * cosine neighbours per query among those cells' members of the
    * `assigned` corpus. */
  private def ivfTop3(e: DataFrame, assigned: DataFrame,
      probe: DataFrame => DataFrame): DataFrame = {
    val members = assigned.select(col("cell"), col("vec_id").as("nid"), col("v").as("nv"))
    val q = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("n2").as("qn2"))
    val wr = Window.partitionBy(col("qid")).orderBy(col("cos_sim").desc, col("nid"))
    probe(q).join(members, Seq("cell"))
      .join(broadcast(q.select(col("qid"), col("qv"))), Seq("qid"))
      .where(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), cosine9(col("qv"), col("nv")).as("cos_sim"))
      .withColumn("rank", row_number().over(wr))
      .where(col("rank") <= 3)
      .orderBy("qid", "rank")
  }

  /** The n nearest centroids `id` per query: a row_number window, not
    * the [[nearest]] aggregate, since the query side is a handful of
    * rows and n > 1. */
  private def nearestN(joined: DataFrame, dist: Column, id: String, n: Int): DataFrame =
    joined.withColumn("dist", dist)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("dist"), col(id))))
      .where(col("rn") <= n)
      .select(col("qid"), col(id))

  // ---------------------------------------------------------------
  // sim_ann_ivf2: two-level (coarse-quantized) IVF — the >65,536-cell
  // continuation promised at the IvfMaxCells ceiling above
  // ---------------------------------------------------------------

  /** Coarse beam width for QUERY routing (queries are few; a wider
    * beam buys recall for pennies). Corpus ASSIGNMENT routes beam-1 —
    * each vector lands in exactly one coarse group, the standard
    * hierarchical-quantizer assignment. */
  private val Ivf2CoarseProbe = 4
  private val Ivf2HashSeed = 13

  /** 1-row (kc): ceil(√k) coarse cells over the k fine centroids —
    * the level split that bounds every broadcast at O(√k) rows
    * however large k grows. */
  private def coarseK(cents: DataFrame): DataFrame =
    cents.agg(greatest(lit(1L), ceil(sqrt(count(lit(1))))).as("kc"))

  /** The coarse quantizer: the kc fine centroids with lowest
    * xhash60(cell) become the coarse centroids (ccell, cc, ccn2) —
    * hash-sampled, no refinement (a fine centroid IS already a
    * cluster representative; re-running Lloyd's over representatives
    * buys little and doubles the SQL replay). Deterministic on any
    * cluster, so the DuckDB oracle rebuilds the identical level. */
  private[ops] def coarseCentroids(cents: DataFrame): DataFrame =
    seeds(cents.withColumn("hk", xhash60(col("cell").cast("string"), Ivf2HashSeed)),
      Seq(col("hk"), col("cell")), Right(coarseK(cents)), "ccell")
      .select(col("ccell"), col("c").as("cc"), col("cn2").as("ccn2"))

  /** Fine→coarse map (k rows): each fine centroid with its nearest
    * coarse cell. */
  private def fineToCoarse(cents: DataFrame, coarse: DataFrame): DataFrame =
    nearest(cents, broadcast(coarse), Nil, Seq("cell"), Seq("c", "cn2"),
      sqdist2(col("cn2"), col("c"), col("cc"), col("ccn2")), "ccell").drop("dist")

  /** Two-level fine-cell assignment: route each row to its nearest
    * coarse cell (broadcast is kc ≈ √k rows — NEVER the k-row fine
    * table, which reaches the row via an equi-join on the coarse id),
    * then pick the nearest fine centroid within that coarse group. */
  private[ops] def assignCellsCoarse(e: DataFrame, cents: DataFrame): DataFrame = {
    val coarse = coarseCentroids(cents)
    assignCellsCoarseOn(e, coarse, fineToCoarse(cents, coarse))
  }

  /** [[assignCellsCoarse]] against PREBUILT coarse/f2c tables, so a
    * caller that also routes queries ([[annIvf2]]) shares one
    * coarse-level sub-plan instead of re-deriving it per consumer. */
  private def assignCellsCoarseOn(e: DataFrame, coarse: DataFrame,
      f2c: DataFrame): DataFrame = {
    val routed = nearest(e, broadcast(coarse), Nil, Seq("vec_id"), Seq("v", "n2"),
      sqdist2(col("n2"), col("v"), col("cc"), col("ccn2")), "ccell").drop("dist")
    nearest(routed, f2c, Seq("ccell"), Seq("vec_id"), Seq("v"),
      sqdist2(col("n2"), col("v"), col("c"), col("cn2")), "cell")
  }

  /** Two-level IVF probe over the session-cached [[annIvfCentroids]]
    * index, the same cache `dedup_semantic`/`sim_ann_ivf` share.
    *
    * Scale shape vs [[annIvfProbe]]: the flat probe broadcasts ALL k
    * fine centroids — fine under the [[IvfMaxCells]] ceiling, a
    * >34 MB-and-growing broadcast past it. Here nothing broadcast
    * exceeds kc ≈ √k rows: corpus assignment and query routing hit
    * the coarse level first, and fine centroids arrive per coarse
    * group via equi-join. k can grow ∝ corpus indefinitely (4B cells
    * ⇒ kc = 65,536 ⇒ a ≈34 MB coarse broadcast — the old ceiling,
    * now the square of the reachable scale). */
  def annIvf2(spark: SparkSession, d: String): DataFrame = {
    val e = corpus(spark, d)
    val cents = cachedCentroids(spark, d)
    // ONE coarse level + fine→coarse map (tiny: kc and k rows), lazily
    // checkpointed so member assignment and query routing read blocks
    // instead of each re-running the seed-select + argmin sub-plans
    val coarse = coarseCentroids(cents).localCheckpoint(false)
    val f2c = fineToCoarse(cents, coarse).localCheckpoint(false)
    // query routing: beam Ivf2CoarseProbe coarse cells, then the
    // IvfProbe nearest fine cells among those groups
    ivfTop3(e, assignCellsCoarseOn(e, coarse, f2c), q => {
      val qroute = nearestN(q.crossJoin(broadcast(coarse)),
        sqdist2(col("qn2"), col("qv"), col("cc"), col("ccn2")), "ccell", Ivf2CoarseProbe)
      nearestN(q.join(qroute, Seq("qid")).join(f2c, Seq("ccell")),
        sqdist2(col("qn2"), col("qv"), col("c"), col("cn2")), "cell", IvfProbe)
    })
  }

  /** Squared distance, the SQL mirror of [[sqdist2]]: the same
    * association order over the same sequential dot. */
  private def distSql(n2v: String, v: String, c: String, n2c: String) =
    s"($n2v - 2.0 * list_sum(list_transform(range(1, len($v) + 1), i -> $v[i] * $c[i]))) + $n2c"

  private def norm2Sql(v: String) = s"list_sum(list_transform($v, x -> x*x))"

  private def assignCteSql(name: String, cents: String) =
    nearestCte(name, "e.vec_id, e.v, c.cell", distSql("e.n2", "e.v", "c.c", "c.cn2"),
      "vec_id", "cell", s"e CROSS JOIN $cents c", 1)

  /** Shared oracle CTE chain: embeddings scan → deterministic seeds →
    * [[IvfRounds]] Lloyd's rounds → final cell assignment `af`
    * (vec_id, v, cell) — the SQL replay of [[annIvfCentroids]] +
    * [[assignCells]], used by both [[annIvfSql]] and
    * [[dedupSemanticSql]]. */
  private def ivfIndexCtesSql: String =
    s"""$ivfCentroidCtesSql,
       |${assignCteSql("af", s"c$IvfRounds")}""".stripMargin

  /** The centroid-build prefix alone (ends at CTE `c<IvfRounds>`, the
    * final fine-centroid table) — shared by the flat index replay
    * above and the two-level [[annIvf2Sql]], which assigns through
    * its own coarse level instead of `af`. */
  private def ivfCentroidCtesSql: String = {
    val rounds = (1 to IvfRounds).map { r =>
      assignCteSql(s"a$r", s"c${r - 1}") + ",\n" +
        meansCte(s"c$r", "cell", "v", quantizedMeanSql, "cn2", s"a$r")
    }.mkString(",\n")
    s"""e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |    ${norm2Sql("CAST(embedding AS DOUBLE[])")} AS n2
       |  FROM embeddings),
       |${seedsCte("c0", "cell", "v AS c, n2 AS cn2",
         s"(SELECT *, ${xhash60Sql("CAST(vec_id AS VARCHAR)", 7)} AS hk FROM e)", "hk, vec_id",
         s"SELECT GREATEST($IvfMinCells, LEAST($IvfMaxCells, " +
           s"CAST(ceil(COUNT(*) / ${IvfCellPop}.0) AS BIGINT))) FROM e")},
       |$rounds""".stripMargin
  }

  /** DuckDB mirror of [[annIvf]]: replays the identical seed order,
    * Lloyd's rounds (same quantized sums, same division order) and
    * probe routing as chained CTEs. */
  def annIvfSql: String =
    s"""WITH $ivfIndexCtesSql,
       |${ivfTop3Sql("af", nearestCte("probes", "q.qid, c.cell",
         distSql("q.qn2", "q.qv", "c.c", "c.cn2"), "qid", "cell",
         s"qs q CROSS JOIN c$IvfRounds c", IvfProbe))}""".stripMargin

  /** The SQL mirror of [[ivfTop3]]: the queries `qs`, the caller's
    * route CTEs ending in `probes` (qid, cell), then the top-3 cosine
    * ranking over the probed cells' members of `assigned`. */
  private def ivfTop3Sql(assigned: String, routes: String): String =
    s"""members AS (SELECT cell, vec_id AS nid, v AS nv FROM $assigned),
       |qs AS (SELECT vec_id AS qid, v AS qv, n2 AS qn2 FROM e WHERE vec_id < 10),
       |$routes,
       |scored AS (
       |  SELECT p.qid, m.nid, ${cosine9Sql("q.qv", "m.nv")} AS cos_sim
       |  FROM probes p
       |  JOIN members m USING (cell)
       |  JOIN qs q ON q.qid = p.qid
       |  WHERE p.qid <> m.nid),
       |ranked AS (SELECT qid, nid, cos_sim,
       |    row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rank
       |  FROM scored)
       |SELECT qid, nid, cos_sim, rank FROM ranked WHERE rank <= 3 ORDER BY qid, rank""".stripMargin

  /** The coarse-level CTE chain shared by [[annIvf2Sql]] and
    * [[dedupSemantic2Sql]]: coarse seeds over the fine centroids,
    * fine→coarse map, beam-1 corpus routing, and `af2` — the
    * two-level (vec_id, v, cell) assignment. */
  private def ivf2CoarseCtesSql: String = {
    val cF = s"c$IvfRounds"
    s"""${seedsCte("coarse", "ccell", "c AS cc, cn2 AS ccn2",
         s"(SELECT *, ${xhash60Sql("CAST(cell AS VARCHAR)", Ivf2HashSeed)} AS hk FROM $cF)",
         "hk, cell", s"SELECT GREATEST(1, CAST(ceil(sqrt(COUNT(*))) AS BIGINT)) FROM $cF")},
       |${nearestCte("f2c", "x.ccell, f.cell, f.c, f.cn2",
         distSql("f.cn2", "f.c", "x.cc", "x.ccn2"), "cell", "ccell",
         s"$cF f CROSS JOIN coarse x", 1)},
       |${nearestCte("vroute", "e.vec_id, e.v, e.n2, x.ccell",
         distSql("e.n2", "e.v", "x.cc", "x.ccn2"), "vec_id", "ccell",
         "e CROSS JOIN coarse x", 1)},
       |${nearestCte("af2", "r.vec_id, r.v, f.cell", distSql("r.n2", "r.v", "f.c", "f.cn2"),
         "vec_id", "cell", "vroute r JOIN f2c f USING (ccell)", 1)}""".stripMargin
  }

  /** DuckDB mirror of [[annIvf2]]: the shared centroid-build CTEs,
    * then the coarse level (hash-sampled seeds over the fine
    * centroids), fine→coarse map, beam-1 corpus assignment, beamed
    * query routing and ranking — step-for-step the Spark plan, with
    * every argmin expressed as a row_number window (≡ the Spark
    * side's struct-min aggregation: nearest, ties to the lower id). */
  def annIvf2Sql: String =
    s"""WITH $ivfCentroidCtesSql,
       |$ivf2CoarseCtesSql,
       |${ivfTop3Sql("af2",
         nearestCte("qroute", "q.qid, x.ccell", distSql("q.qn2", "q.qv", "x.cc", "x.ccn2"),
           "qid", "ccell", "qs q CROSS JOIN coarse x", Ivf2CoarseProbe) + ",\n" +
         nearestCte("probes", "q.qid, f.cell", distSql("q.qn2", "q.qv", "f.c", "f.cn2"),
           "qid", "cell", "qs q JOIN qroute r USING (qid) JOIN f2c f USING (ccell)", IvfProbe))}""".stripMargin

  // ---------------------------------------------------------------
  // dedup_semantic: SemDeDup-style cluster-bounded embedding dedup
  // ---------------------------------------------------------------

  // 0.4 sits just below the max natural cosine of the driver's random
  // 64-dim embeddings (~0.47 at sf0.01), so the flag actually fires on
  // the test tables; real text embeddings would use ~0.9+
  private val SemThresh = 0.4

  /** SemDeDup-style semantic dedup (Abbas et al. 2023): cluster the
    * embeddings (the [[annIvfCentroids]] IVF index, reused from the
    * session cache), then compare pairs ONLY within a cluster — each
    * vector reports its highest-cosine LOWER-id cluster-mate (ties to
    * the lower id) and is flagged a semantic duplicate when that
    * similarity clears [[SemThresh]]. Keeping the lowest id per
    * near-dup group is the deterministic "keep one representative"
    * rule.
    *
    * Scale stance: the pairwise stage is bounded by the CELL, not the
    * corpus — O(Σ |cell|²) with cell count k sized ∝ corpus (k grows
    * with N, per-cell population stays ~constant), exactly the
    * SemDeDup recipe for making within-cluster pairwise feasible at
    * web scale. The join is a cell-key equi-join (no global cross
    * join); the cosine is one codegen'd dot per pair. */
  def dedupSemantic(spark: SparkSession, d: String): DataFrame =
    semanticOn(assignCells(corpus(spark, d), cachedCentroids(spark, d))
      .select(col("cell"), col("vec_id"), col("v")))

  /** `dedup_semantic2`: SemDeDup through the TWO-LEVEL assignment —
    * the >65,536-cell continuation of [[dedupSemantic]], whose flat
    * [[assignCells]] broadcast hits the same [[IvfMaxCells]] ceiling
    * the flat probe does. Same fine-centroid cache, same within-cell
    * pairwise stage; only the routing differs (√k-bounded broadcasts,
    * [[assignCellsCoarse]]), so cells — and therefore verdicts — can
    * differ from the flat variant on boundary vectors. Deterministic,
    * replayed exactly by [[dedupSemantic2Sql]]. */
  def dedupSemantic2(spark: SparkSession, d: String): DataFrame =
    semanticOn(assignCellsCoarse(corpus(spark, d), cachedCentroids(spark, d))
      .select(col("cell"), col("vec_id"), col("v")))

  /** The SemDeDup body over an arbitrary (cell, vec_id, v) assignment:
    * within-cell lower-id pairs, best match per vector (max cos, ties
    * to the lowest aid), threshold flag.
    *
    * r17 opt (guide §5 — avoid recompute): the assignment plan is
    * referenced THREE times below (both sides of the pair join + the
    * final join-back), and Spark re-executes shared subplans — for
    * `dedup_semantic` that re-ran the corpus × k broadcast-argmin
    * pass ×3 (the job profile showed ~9 multi-second gap-free jobs;
    * dedup_semantic2's two-level routing re-derived its coarse/f2c
    * sub-builds ×3 on top, an 86-scan/384-Exchange plan). One lazy
    * localCheckpoint materializes the N-row assignment once; all
    * three references read the blocks. */
  private def semanticOn(m0: DataFrame): DataFrame = {
    val m = m0.localCheckpoint(false)
    val lower = m.select(col("cell"), col("vec_id").as("aid"), col("v").as("av"))
    val best = m.join(lower, Seq("cell"))
      .where(col("aid") < col("vec_id"))
      .select(col("vec_id"),
        struct(cosine9(col("av"), col("v")).as("cos"), (-col("aid")).as("na")).as("p"))
      .groupBy(col("vec_id"))
      .agg(max(col("p")).as("p")) // max cos, ties to lowest aid (max -aid)
      .select(col("vec_id"), (-col("p.na")).as("nn_id"), col("p.cos").as("nn_cos"))
    m.select(col("vec_id"), col("cell"))
      .join(best, Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("cell"), col("nn_id"), col("nn_cos"),
        coalesce(col("nn_cos") >= SemThresh, lit(false)).as("is_dup"))
      .orderBy("vec_id")
  }

  // ---------------------------------------------------------------
  // knn_label: nearest-neighbor label propagation (annotation)
  // ---------------------------------------------------------------

  private val KnnK = 10

  /** kNN label propagation — the "annotate by similarity" pipeline
    * stage: each held-out vector (every 25th id under id 2500 — a
    * deterministic holdout that is FIXED-SIZE (≤100 queries) at any
    * corpus scale, the [[graft.ops.DedupOps.dedupEmbedding]]
    * bounded-by-construction pattern) is assigned the majority label
    * of its [[KnnK]] nearest cosine neighbors among the REST of the
    * corpus; ties break to the higher cosine sum, then the lower
    * label. Emits the true label alongside the prediction so the
    * output doubles as a label-quality audit (the standard use:
    * validating noisy labels / propagating seed labels before
    * training).
    *
    * Scale stance: the holdout side is BROADCAST and constant-size,
    * so cost is O(corpus) — the corpus streams through one codegen'd
    * dot-product stage, and ranking shuffles only (qid, nid, cos)
    * triples — never vectors. For corpus-×-corpus annotation the
    * candidate stage swaps to the [[annIvfProbe]] cell-bounded join
    * (same downstream vote), exactly like [[dedupSemantic]]. */
  def knnLabel(spark: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
        col("label"))
      .withColumn("nrm", sqrt(norm2(col("v"))))
    val q = e.where(col("vec_id") % 25 === 0 && col("vec_id") < 2500)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"),
        col("label").as("true_label"))
    val c = e.select(col("vec_id").as("nid"), col("v").as("nv"),
      col("nrm").as("nn"), col("label").as("n_label"))
    val wRank = Window.partitionBy(col("qid"))
      .orderBy(col("cos_sim").desc, col("nid"))
    val neighbors = broadcast(q).crossJoin(c)
      .where(col("qid") =!= col("nid"))
      .select(col("qid"), col("true_label"), col("nid"), col("n_label"),
        round(dotd(col("qv"), col("nv")) / (col("qn") * col("nn")), 9).as("cos_sim"))
      .withColumn("rank", row_number().over(wRank))
      .where(col("rank") <= KnnK)
    val wVote = Window.partitionBy(col("qid"))
      .orderBy(col("votes").desc, col("sim_sum").desc, col("n_label"))
    neighbors
      .groupBy(col("qid"), col("true_label"), col("n_label"))
      .agg(count(lit(1)).as("votes"),
        sum(col("cos_sim").cast("decimal(18,9)")).cast("double").as("sim_sum"))
      .withColumn("rn", row_number().over(wVote))
      .where(col("rn") === 1)
      .select(col("qid").as("vec_id"), col("true_label"),
        col("n_label").as("pred_label"), col("votes"),
        (col("n_label") === col("true_label")).as("agree"))
      .orderBy("vec_id")
  }

  def knnLabelSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
       |  FROM embeddings),
       |q AS (SELECT vec_id AS qid, v AS qv, label AS true_label
       |  FROM e WHERE vec_id % 25 = 0 AND vec_id < 2500),
       |scored AS (
       |  SELECT qid, true_label, e.label AS n_label,
       |    ${cosine9Sql("qv", "e.v")} AS cos_sim,
       |    row_number() OVER (PARTITION BY qid
       |      ORDER BY ${cosine9Sql("qv", "e.v")} DESC, e.vec_id) AS rank
       |  FROM q CROSS JOIN e WHERE qid <> e.vec_id),
       |votes AS (
       |  SELECT qid, true_label, n_label, count(*) AS votes,
       |    CAST(SUM(CAST(cos_sim AS DECIMAL(18,9))) AS DOUBLE) AS sim_sum
       |  FROM scored WHERE rank <= $KnnK
       |  GROUP BY qid, true_label, n_label)
       |SELECT qid AS vec_id, true_label, n_label AS pred_label, votes,
       |  n_label = true_label AS agree
       |FROM (SELECT *, row_number() OVER (PARTITION BY qid
       |    ORDER BY votes DESC, sim_sum DESC, n_label) AS rn FROM votes)
       |WHERE rn = 1 ORDER BY vec_id""".stripMargin

  /** The SemDeDup SQL tail over a named (vec_id, v, cell) assignment
    * CTE — mirrors [[semanticOn]] step for step. */
  private def semanticTailSql(af: String): String =
    s"""pairs AS (
       |  SELECT b.vec_id, a.vec_id AS aid, ${cosine9Sql("a.v", "b.v")} AS cos
       |  FROM $af a JOIN $af b ON a.cell = b.cell AND a.vec_id < b.vec_id),
       |best AS (
       |  SELECT vec_id, aid AS nn_id, cos AS nn_cos FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cos DESC, aid) AS rn
       |    FROM pairs) WHERE rn = 1)
       |SELECT m.vec_id, m.cell, b.nn_id, b.nn_cos,
       |  COALESCE(b.nn_cos >= $SemThresh, FALSE) AS is_dup
       |FROM $af m LEFT JOIN best b USING (vec_id)""".stripMargin

  /** DuckDB mirror of [[dedupSemantic]] over the shared replayed
    * index: same cells, same pair orientation, same tie-breaks. */
  def dedupSemanticSql: String =
    s"""WITH $ivfIndexCtesSql,
       |${semanticTailSql("af")}
       |ORDER BY m.vec_id""".stripMargin

  /** DuckDB mirror of [[dedupSemantic2]]: the centroid build, the
    * shared coarse-level chain (→ `af2`), then the identical SemDeDup
    * tail. */
  def dedupSemantic2Sql: String =
    s"""WITH $ivfCentroidCtesSql,
       |$ivf2CoarseCtesSql,
       |${semanticTailSql("af2")}
       |ORDER BY m.vec_id""".stripMargin

  // ---------------------------------------------------------------
  // sim_pq: product-quantization ANN with ADC (asymmetric distance)
  // ---------------------------------------------------------------

  private val PqM = 8            // subspaces
  private val PqSubDim = Dim / PqM
  private val PqK = 16           // codes per subspace
  private val PqRounds = 2       // Lloyd refinements per subspace

  /** The corpus split into [[PqM]] subvectors: (vec_id, m, sv, n2s).
    * One narrow pass over the embedding column; no shuffle (the
    * explode is per-row). */
  private def pqSub(e: DataFrame): DataFrame =
    e.select(col("vec_id"),
      explode(sequence(lit(0), lit(PqM - 1))).as("m"), col("v"))
      .select(col("vec_id"), col("m"),
        slice(col("v"), col("m") * PqSubDim + 1, lit(PqSubDim)).as("sv"))
      .withColumn("n2s", norm2(col("sv")))

  /** Deterministic seeds: the [[PqK]] lowest vec_ids contribute their
    * m-th subvector as code k of subspace m. */
  private def pqSeeds(sub: DataFrame, e: DataFrame): DataFrame =
    sub.join(broadcast(seeds(e.select(col("vec_id")), Seq(col("vec_id")), Left(PqK), "k")),
        Seq("vec_id"))
      .select(col("m"), col("k"), col("sv").as("c"))
      .withColumn("n2c", norm2(col("c")))

  /** Nearest code per (vector, subspace) against the broadcast
    * (≤ PqM·PqK-row) codebook, on the distance rounded at 9. */
  private def pqAssign(sub: DataFrame, cents: DataFrame): DataFrame =
    nearest(sub, broadcast(cents), Seq("m"), Seq("vec_id", "m"), Seq("sv"),
      round(sqdist2(col("n2s"), col("sv"), col("c"), col("n2c")), 9), "k")

  /** 1-in-[[PqTrainMod]] deterministic hash-sample for codebook
    * training — the standard PQ recipe: codebooks are fit on a
    * bounded sample (fixed ~1M vectors at 100 TB), then the FULL
    * corpus is encoded against them. Training cost stops scaling
    * with the corpus; only the single encode pass does. */
  private val PqTrainMod = 4
  private def pqTrain(e: DataFrame): DataFrame =
    e.filter(pmod(xhash60(col("vec_id").cast("string"), 13), lit(PqTrainMod)) === 0)

  private def pqCodebook(e: DataFrame): DataFrame = {
    // The build stays a LAZY plan with the struct-min kernel, chosen by
    // measurement (OPTIMIZATION_r17.md): literal centroids collected
    // each round serialized construction into 3 driver round-trips and
    // made every consumer's construction eager — 2× SLOWER end-to-end
    // at sf0.1 (sim_ann_pq 2.40 → 4.79 s; sim_pq_recall 0.43 → 2.24 s,
    // whose lazy left join is otherwise pruned entirely under count()).
    // Checkpointing the ×PqM exploded subvectors also measured slower
    // (−17%); the narrow (vec_id, v) sample checkpoint is the one
    // materialization every seed/round pass reads.
    val train = pqTrain(e).select(col("vec_id"), col("v")).localCheckpoint(false)
    val sub = pqSub(train)
    var cents = pqSeeds(sub, train)
    for (_ <- 1 to PqRounds)
      cents = centroidMeans(pqAssign(sub, cents), Seq("m", "k"), "sv", quantizedMean, "n2c")
    cents
  }

  /** The PQ index as two tables — the artifacts a production build
    * job PERSISTS once (codebook: ≤ PqM·PqK rows; codes: one row per
    * (vector, subspace)) and every probe job reloads. Exposed so the
    * parquet round-trip is testable; [[annPq]] composes these with
    * [[pqProbe]] in one declared query. */
  private[ops] def pqIndex(e: DataFrame): (DataFrame, DataFrame) = {
    val cents = pqCodebook(e)
    val codes = pqAssign(pqSub(e), cents)
      .select(col("vec_id"), col("m"), col("k"))
    (cents, codes)
  }

  /** ADC probe against a (possibly reloaded) PQ index: build the
    * per-query lookup table against the codebook, then score codes
    * by integer-keyed lookup sums. A pure function of the two index
    * tables + the query vectors — the probe job's entire plan. */
  private[ops] def pqProbe(cents: DataFrame, codes: DataFrame,
      queries: DataFrame): DataFrame = {
    val q = pqSub(queries)
      .select(col("vec_id").as("qid"), col("m"),
        col("sv").as("qsv"), col("n2s").as("qn2"))
    val lut = q.join(broadcast(cents), Seq("m"))
      .select(col("qid"), col("m"), col("k"),
        round(sqdist2(col("qn2"), col("qsv"), col("c"), col("n2c")) * QScale)
          .cast("long").as("pq"))
    val adc = codes.join(broadcast(lut), Seq("m", "k"))
      .where(col("vec_id") =!= col("qid"))
      .groupBy(col("qid"), col("vec_id").as("nid"))
      .agg(round(sum(col("pq")).cast("double") / QScale, 6).as("adc"))
    val w = Window.partitionBy(col("qid")).orderBy(col("adc"), col("nid"))
    adc.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("qid"), col("nid"), col("adc"), col("rank"))
      .orderBy("qid", "rank")
  }

  /** PQ ANN with true ADC scoring (Jégou et al. 2011): the corpus is
    * compressed to [[PqM]] small integer codes per vector; each query
    * precomputes a (qid, m, k) LOOKUP TABLE of partial squared
    * distances to every code (10·8·16 entries here), and scoring a
    * candidate is then PqM integer-keyed lookups summed — no
    * per-candidate float dot at probe time. That is the 100 TB
    * economics of PQ: the scan side touches only the code columns
    * (PqM bytes/vector instead of 4·Dim), the float work is
    * queries×codebook-sized, and the integer-quantized partials make
    * the sum order-independent, so the DuckDB oracle replays the
    * whole index + probe bit-exactly. The codebook trains on the
    * deterministic [[pqTrain]] hash-sample (training cost stops
    * scaling with the corpus; only the one encode pass touches every
    * vector). Top-3 by ADC distance per query (qid < 10),
    * self-matches excluded. */
  def annPq(spark: SparkSession, d: String): DataFrame = {
    // lazy composition of the two index tables + probe, one action
    // (see the pqCodebook note)
    val e = corpus(spark, d)
    val (cents, codes) = pqIndex(e)
    pqProbe(cents, codes, e.filter(col("vec_id") < 10))
  }

  /** DuckDB replay of [[annPq]]: identical seeds, quantized Lloyd's
    * rounds per subspace, codes, LUT and integer-summed ADC. */
  def annPqSql: String = {
    def pqAssignCte(name: String, cents: String, src: String) =
      nearestCte(name, "s.vec_id, s.m, c.k, s.sv, s.n2s",
        s"round(${distSql("s.n2s", "s.sv", "c.c", "c.n2c")}, 9)", "vec_id, m", "k",
        s"$src s JOIN $cents c USING (m)", 1)
    val rounds = (1 to PqRounds).map { r =>
      pqAssignCte(s"a$r", s"c${r - 1}", "subt") + ",\n" +
        meansCte(s"c$r", "m, k", "sv", quantizedMeanSql, "n2c", s"a$r")
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |sub AS (
       |  SELECT vec_id, ms.m AS m,
       |    v[ms.m * $PqSubDim + 1 : ms.m * $PqSubDim + $PqSubDim] AS sv,
       |    ${norm2Sql(s"v[ms.m * $PqSubDim + 1 : ms.m * $PqSubDim + $PqSubDim]")} AS n2s
       |  FROM e CROSS JOIN (SELECT unnest(range(0, $PqM)) AS m) ms),
       |subt AS (
       |  SELECT * FROM sub
       |  WHERE ${xhash60Sql("CAST(vec_id AS VARCHAR)", 13)} % $PqTrainMod = 0),
       |ids AS (
       |  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS k
       |  FROM (SELECT DISTINCT vec_id FROM subt ORDER BY vec_id LIMIT $PqK)),
       |c0 AS (
       |  SELECT s.m, ids.k, s.sv AS c, s.n2s AS n2c
       |  FROM sub s JOIN ids USING (vec_id)),
       |$rounds,
       |${pqAssignCte("af", s"c$PqRounds", "sub")},
       |codes AS (SELECT vec_id, m, k FROM af),
       |q AS (
       |  SELECT vec_id AS qid, m, sv AS qsv, n2s AS qn2
       |  FROM sub WHERE vec_id < 10),
       |lut AS (
       |  SELECT q.qid, q.m, c.k,
       |    CAST(round((${distSql("q.qn2", "q.qsv", "c.c", "c.n2c")}) * 1000000.0)
       |      AS BIGINT) AS pq
       |  FROM q JOIN c$PqRounds c USING (m)),
       |adc AS (
       |  SELECT l.qid, cd.vec_id AS nid,
       |    round(CAST(SUM(l.pq) AS DOUBLE) / 1000000.0, 6) AS adc
       |  FROM codes cd JOIN lut l ON cd.m = l.m AND cd.k = l.k
       |  WHERE cd.vec_id <> l.qid
       |  GROUP BY l.qid, cd.vec_id),
       |ranked AS (
       |  SELECT qid, nid, adc,
       |    row_number() OVER (PARTITION BY qid ORDER BY adc, nid) AS rank
       |  FROM adc)
       |SELECT qid, nid, adc, rank FROM ranked WHERE rank <= 3
       |ORDER BY qid, rank""".stripMargin
  }

  /** Per-label vector profile through the higher-order array-function
    * surface — `filter`, `aggregate` (fold), `transform`, `sort_array`
    * — the lambda-on-array family no other declared query exercises
    * end-to-end (ArrayDot covers the codegen'd dot product; this
    * covers the general HOFs a feature-engineering user reaches for:
    * sparsity counts, L1 norms, per-vector order statistics).
    * Everything is per-row array work fused into ONE codegen stage
    * over the scan — zero joins, zero extra shuffles; the only
    * exchange is the final label aggregate (map-side combined onto 10
    * keys). Cross-engine: floats cast to double before any math; the
    * sequential fold mirrors DuckDB's list_sum in array order
    * (cosine9's proven pattern), per-row results round to 9 then sum
    * through DECIMAL(18,6). The per-vector median is an EXACT order
    * statistic (sorted element 33 of 64) — no float summation at all. */
  def embHofStats(spark: SparkSession, d: String): DataFrame = {
    val e = col("embedding").cast("array<double>")
    Tables.embeddings(spark, d)
      .select(col("label"),
        size(filter(e, x => x > lit(0.0))).cast("long").as("n_pos"),
        round(aggregate(e, lit(0.0), (acc, x) => acc + abs(x)), 9).as("l1"),
        round(array_max(transform(e, x => abs(x))), 9).as("abs_max"),
        element_at(sort_array(e), 33).as("med"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("n_pos")).as("sum_pos"),
        dsum(col("l1")).as("l1_total"),
        max(col("abs_max")).as("max_abs"),
        dsum(col("med")).as("med_total"))
      .orderBy("label")
  }

  def embHofStatsSql: String =
    """WITH per AS (
      |  SELECT label,
      |    CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
      |    round(list_sum(list_transform(embedding,
      |      x -> abs(CAST(x AS DOUBLE)))), 9) AS l1,
      |    round(list_max(list_transform(embedding,
      |      x -> abs(CAST(x AS DOUBLE)))), 9) AS abs_max,
      |    list_sort(list_transform(embedding,
      |      x -> CAST(x AS DOUBLE)))[33] AS med
      |  FROM embeddings)
      |SELECT label, COUNT(*) AS n_vecs,
      |  CAST(SUM(n_pos) AS BIGINT) AS sum_pos,
      |  CAST(SUM(CAST(l1 AS DECIMAL(18,6))) AS DOUBLE) AS l1_total,
      |  MAX(abs_max) AS max_abs,
      |  CAST(SUM(CAST(med AS DECIMAL(18,6))) AS DOUBLE) AS med_total
      |FROM per GROUP BY label ORDER BY label""".stripMargin

  /** Top-10 embedding outliers by diagonal-covariance Mahalanobis
    * distance — the statistically-scaled companion to
    * [[graft.ops.TrainingPrepOps.embHardExamples]]' raw-L2 mining: a
    * vector extreme only along naturally-high-variance dimensions is
    * NOT an outlier here, one extreme along a tight dimension is (the
    * distinction raw distance can't draw, and the standard first-pass
    * screen before expensive near-dup/quality checks). Per-dim
    * (mean, var) come from the one (dim)-keyed decimal-exact partial
    * aggregate [[graft.ops.TrainingPrepOps.embNormParams]] also uses;
    * the 64-row stats table joins back (dim-keyed, AQE-broadcast),
    * per-(vector, dim) standardized squares round to 9 and sum
    * through decimal, top-10 is TakeOrdered. Variance floors at 1e-12
    * so an all-constant dimension contributes nothing rather than a
    * division blowup. */
  def embOutliers(spark: SparkSession, d: String): DataFrame = {
    val ex = Tables.embeddings(spark, d)
      .select(col("vec_id"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("d", "x")))
    val stats = ex.groupBy(col("d"))
      .agg(graft.ops.OpsUtil.davg(col("x")).as("m"),
        sum((col("x") * col("x")).cast("decimal(28,12)")).cast("double").as("s2"),
        count(lit(1)).as("n"))
      .select(col("d"), col("m"),
        greatest(lit(1e-12), col("s2") / col("n") - col("m") * col("m")).as("v"))
    ex.join(broadcast(stats), Seq("d"))
      .groupBy(col("vec_id"))
      .agg(sum(round((col("x") - col("m")) * (col("x") - col("m")) / col("v"), 9)
        .cast("decimal(28,12)")).cast("double").as("d2"))
      .select(col("vec_id"), round(sqrt(col("d2")), 6).as("mdist"), col("d2"))
      .orderBy(col("d2").desc, col("vec_id")).limit(10)
      .select(col("vec_id"), col("mdist"))
  }

  def embOutliersSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |ex AS (SELECT vec_id, unnest(range(0, len(v))) AS d, unnest(v) AS x FROM e),
      |per AS (
      |  SELECT d, CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / COUNT(x) AS m,
      |    CAST(SUM(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE) AS s2, COUNT(*) AS n
      |  FROM ex GROUP BY d),
      |stats AS (
      |  SELECT d, m, greatest(1e-12, s2 / n - m * m) AS var FROM per),
      |dist AS (
      |  SELECT ex.vec_id,
      |    CAST(SUM(CAST(round((ex.x - st.m) * (ex.x - st.m) / st.var, 9)
      |      AS DECIMAL(28,12))) AS DOUBLE) AS d2
      |  FROM ex JOIN stats st ON st.d = ex.d GROUP BY ex.vec_id)
      |SELECT vec_id, round(sqrt(d2), 6) AS mdist
      |FROM dist ORDER BY d2 DESC, vec_id LIMIT 10""".stripMargin

  /** Covariance of the embedding corpus via per-partition fixed-point
    * Gram accumulation — the distributed-BLAS block pattern. Each
    * coordinate quantizes ONCE to a 1e-6-grid long (`round(x·10⁶)`,
    * the declared cross-engine recipe); every partition then folds its
    * rows into ONE dims×dims Array[Long] (exact integer arithmetic,
    * order-free by commutativity of +), and only dims² partial rows
    * per partition reach the exchange, where a DECIMAL(38,0) sum
    * merges them exactly at any corpus size. The declarative forms —
    * a self-join on vec_id, or a per-row dims² explode — shuffle or
    * interpret |corpus|·dims² product terms (higher-order-function
    * lambdas are not codegen'd): measured 10× slower at sf0.1 and
    * corpus-proportional at the exchange. mapPartitions is justified
    * here because the kernel is genuinely per-partition imperative
    * state (the accumulator matrix) that no Catalyst operator
    * expresses. Long-overflow is guarded loudly: |q| ≤ 2.1·10⁶ per
    * coordinate and ≤ 2·10⁶ rows per partition bound |acc| below
    * 2⁶³; the cross-partition merge is decimal, so total corpus size
    * is unbounded. */
  private def covOf(spark: SparkSession, d: String): DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    val e = Tables.embeddings(spark, d)
      .select(col("vec_id"), transform(col("embedding").cast("array<double>"),
        x => round(x * 1e6).cast("long")).as("q"))
    val m = e.select(posexplode(col("q")).as(Seq("d", "xq")))
      .groupBy(col("d"))
      .agg((sum(col("xq")).cast("double") / count(lit(1)) / 1e6).as("mu"),
        count(lit(1)).as("n"))
    val parts = e.select(col("q")).as[Array[Long]].mapPartitions { it =>
      var dims = -1
      var acc: Array[Long] = null
      var nRows = 0L
      while (it.hasNext) {
        val q = it.next()
        if (acc == null) { dims = q.length; acc = new Array[Long](dims * dims) }
        require(q.length == dims, s"ragged embedding: ${q.length} vs $dims dims")
        nRows += 1
        require(nRows <= 2000000L, "partition too large for long Gram accumulation")
        var i = 0
        while (i < dims) {
          require(math.abs(q(i)) <= 2100000L, s"coordinate exceeds fixed-point range: ${q(i)}")
          i += 1
        }
        i = 0
        while (i < dims) {
          val qi = q(i); val base = i * dims
          var j = 0
          while (j < dims) { acc(base + j) += qi * q(j); j += 1 }
          i += 1
        }
      }
      if (acc == null) Iterator.empty
      else (0 until dims).iterator.flatMap(i =>
        (0 until dims).iterator.map(j => (i, j, acc(i * dims + j))))
    }.toDF("di", "dj", "s")
    val xx = parts.groupBy(col("di"), col("dj"))
      .agg(sum(col("s").cast("decimal(38,0)")).cast("double").as("sxy"))
    xx
      .join(broadcast(m.select(col("d").as("di"), col("mu").as("mi"), col("n"))), Seq("di"))
      .join(broadcast(m.select(col("d").as("dj"), col("mu").as("mj"))), Seq("dj"))
      .select(col("di"), col("dj"),
        (col("sxy") / lit(1e12) / col("n") - col("mi") * col("mj")).as("c"))
  }

  /** DuckDB mirror of [[covOf]]'s quantized pipeline — shared CTE
    * prefix of [[embPowerSql]] and [[embPowerIterSql]]. The engines
    * sum the SAME exact integers (longs there, HUGEINT here), so cov
    * is bit-identical without any partitioning assumption. */
  private val covCteSql: String =
    """e AS (SELECT vec_id,
      |  list_transform(CAST(embedding AS DOUBLE[]),
      |    x -> CAST(round(x * 1000000.0) AS BIGINT)) AS q FROM embeddings),
      |ex AS (SELECT vec_id, unnest(range(0, len(q))) AS d, unnest(q) AS xq FROM e),
      |m AS (SELECT d, CAST(SUM(xq) AS DOUBLE) / COUNT(*) / 1000000.0 AS mu,
      |       COUNT(*) AS n FROM ex GROUP BY d),
      |xx AS (
      |  SELECT a.d AS di, b.d AS dj, SUM(a.xq * b.xq) AS sxy
      |  FROM ex a JOIN ex b ON a.vec_id = b.vec_id GROUP BY a.d, b.d),
      |cov AS MATERIALIZED (
      |  SELECT di, dj,
      |    CAST(sxy AS DOUBLE) / 1000000000000.0 / ma.n - ma.mu * mb.mu AS c
      |  FROM xx JOIN m ma ON ma.d = di JOIN m mb ON mb.d = dj)""".stripMargin

  /** One power-iteration step toward the embedding covariance's top
    * eigenvector — the distributed linear-algebra primitive under PCA
    * whitening and spectral diagnostics: cov = E[xxᵀ] − μμᵀ built the
    * way it scales (per-vector outer-product explode → (di, dj)
    * partial aggregation onto dims² = 4096 keys, map-side combined —
    * never a driver-side matrix), then v₁ = cov·v₀ from the exact
    * dyadic start v₀ = (1/8,…,1/8) (unit L2 norm at 64 dims, and 1/8
    * multiplies exactly). Cross-engine exactness: second moments sum
    * through DECIMAL(28,12), the per-entry cov float math runs once on
    * those exact operands, and the matvec re-sums rounded terms
    * through decimal. Declared face: per-dimension variance (the cov
    * diagonal) and the v₁ component. */
  def embPower(spark: SparkSession, d: String): DataFrame = {
    val cov = cachedCov(spark, d)
    val v1 = cov.groupBy(col("di").as("vd"))
      .agg(sum(round(col("c") * lit(0.125), 9).cast("decimal(28,12)"))
        .cast("double").as("v1"))
    cov.where(col("di") === col("dj"))
      .join(v1, col("di") === col("vd"))
      .select(col("di").cast("long").as("dim"),
        round(col("c"), 9).as("var_d"), round(col("v1"), 9).as("v1"))
      .orderBy("dim")
  }

  /** Three power-iteration rounds toward the covariance's dominant
    * eigenvector, plus the Rayleigh-quotient eigenvalue estimate —
    * [[embPower]]'s single step iterated (the `emb_kmeans_loop`
    * pattern applied to linear algebra). Each matvec is one
    * dims²-row join + dims-key aggregate with the vector BROADCAST
    * (dims ≪ corpus; the matrix never moves). No normalization
    * between rounds: cross-engine equality needs identically
    * quantized terms, not unit scale, so each product rounds at a
    * per-round precision matched to the shrinking magnitudes
    * (λ ≈ .02 here) and sums through DECIMAL — order-free,
    * bit-identical. Rayleigh = ⟨v₃,v₂⟩/⟨v₂,v₂⟩ through the same
    * quantized-sum recipe; NULL if v₂ vanished. */
  def embPowerIter(spark: SparkSession, d: String): DataFrame = {
    val cov = cachedCov(spark, d) // persisted; read by 3 matvecs
    val v1 = cov.groupBy(col("di").as("d"))
      .agg(sum(round(col("c") * lit(0.125), 9).cast("decimal(28,12)"))
        .cast("double").as("x"))
    def matvec(v: DataFrame, digits: Int) =
      cov.join(broadcast(v), cov("dj") === v("d"))
        .groupBy(cov("di").as("d"))
        .agg(sum(round(col("c") * col("x"), digits).cast(s"decimal(38,$digits)"))
          .cast("double").as("x"))
    val v2 = matvec(v1, 12)
    val v3 = matvec(v2, 14)
    val vv = v2.select(col("d"), col("x").as("v2"))
      .join(v3.select(col("d"), col("x").as("v3")), Seq("d"))
    val rq = vv.agg(
      sum(round(col("v3") * col("v2"), 18).cast("decimal(38,18)"))
        .cast("double").as("num"),
      sum(round(col("v2") * col("v2"), 18).cast("decimal(38,18)"))
        .cast("double").as("den"))
    vv.crossJoin(broadcast(rq))
      .select(col("d").cast("long").as("dim"), col("v2"), col("v3"),
        when(col("den") === 0, lit(null).cast("double"))
          .otherwise(round(col("num") / col("den"), 9)).as("rayleigh"))
      .orderBy("dim")
  }

  def embPowerIterSql: String =
    s"""WITH $covCteSql,
      |v1 AS (
      |  SELECT di AS d,
      |    CAST(SUM(CAST(round(c * 0.125, 9) AS DECIMAL(28,12))) AS DOUBLE) AS x
      |  FROM cov GROUP BY di),
      |v2 AS (
      |  SELECT cov.di AS d,
      |    CAST(SUM(CAST(round(cov.c * v1.x, 12) AS DECIMAL(38,12))) AS DOUBLE) AS x
      |  FROM cov JOIN v1 ON v1.d = cov.dj GROUP BY cov.di),
      |v3 AS (
      |  SELECT cov.di AS d,
      |    CAST(SUM(CAST(round(cov.c * v2.x, 14) AS DECIMAL(38,14))) AS DOUBLE) AS x
      |  FROM cov JOIN v2 ON v2.d = cov.dj GROUP BY cov.di),
      |vv AS (
      |  SELECT v2.d, v2.x AS v2, v3.x AS v3 FROM v2 JOIN v3 ON v3.d = v2.d),
      |rq AS (
      |  SELECT
      |    CAST(SUM(CAST(round(v3 * v2, 18) AS DECIMAL(38,18))) AS DOUBLE) AS num,
      |    CAST(SUM(CAST(round(v2 * v2, 18) AS DECIMAL(38,18))) AS DOUBLE) AS den
      |  FROM vv)
      |SELECT CAST(d AS BIGINT) AS dim, v2, v3,
      |  CASE WHEN den = 0 THEN CAST(NULL AS DOUBLE)
      |       ELSE round(num / den, 9) END AS rayleigh
      |FROM vv, rq ORDER BY dim""".stripMargin

  /** Two-component PCA via deflated power iteration — the spectral
    * step after [[embPowerIter]]: estimate (λ1, u) with the same
    * three quantized matvecs, deflate the covariance
    * (C₂ = C − λ1·û·ûᵀ, û unit), and power-iterate on C₂ for (λ2, w).
    * Output per dimension: both unit components, both eigenvalue
    * estimates, and their explained-variance shares against the
    * trace — the "how many dims does this embedding really have"
    * table that decides whether [[randomProjection]]'s 4× reduction
    * is safe for a given corpus.
    *
    * Scale shape: the corpus is touched ONCE (the fixed-point Gram
    * pass of [[covOf]]); everything after lives on dims² ≤ 4096 rows
    * with every vector broadcast. Deterministic cross-engine: each
    * matvec term rounds at the [[embPowerIter]] per-round precisions
    * and sums through DECIMAL; the deflated cells round at 12; the
    * second seed alternates ±0.125 by dimension parity (a fixed seed
    * orthogonal to nothing in particular — deflation, not the seed,
    * removes the first component). Degenerate spectra (zero Rayleigh
    * denominator / zero trace) yield NULLs identically in both
    * engines. */
  def embPca2(spark: SparkSession, d: String): DataFrame = {
    val cov = cachedCov(spark, d)
    // Every intermediate quantizes through INTEGER arithmetic —
    // floor(t·1eK + 0.5) summed as BIGINT — not round(_, k)-into-
    // DECIMAL: both engines' round(DOUBLE, k) implementations disagree
    // by one ulp at half-boundaries (observed on pc2 at sf0.01), while
    // floor over identical IEEE products is bit-identical by
    // construction. Scales leave BIGINT headroom at the largest
    // admissible coordinates (covOf caps |x| ≤ 2.1): terms ≤ ~1e12·5
    // per cell at 1e12, ≤ ~1e15·5 at 1e15, 64 terms per sum.
    def q(c: org.apache.spark.sql.Column, scale: Double) =
      floor(c * lit(scale) + lit(0.5))
    def qsum(c: org.apache.spark.sql.Column, scale: Double) =
      sum(q(c, scale)).cast("double") / lit(scale)
    def matvec(m: DataFrame, v: DataFrame, scale: Double) =
      m.join(broadcast(v), m("dj") === v("d"))
        .groupBy(m("di").as("d"))
        .agg(qsum(m("c") * v("x"), scale).as("x"))
    def rq(a: DataFrame, b: DataFrame) =
      a.select(col("d"), col("x").as("a"))
        .join(b.select(col("d"), col("x").as("b")), Seq("d"))
        .agg(qsum(col("b") * col("a"), 1e15).as("num"),
          qsum(col("a") * col("a"), 1e15).as("den"))
    def lam(r: DataFrame, name: String) = r.select(
      when(col("den") === 0, lit(null).cast("double"))
        .otherwise(col("num") / col("den")).as(name))
    def unit(v: DataFrame, name: String) = {
      val nn = v.agg(qsum(col("x") * col("x"), 1e15).as("nn"))
      v.crossJoin(broadcast(nn))
        .select(col("d"), (col("x") / sqrt(col("nn"))).as(name))
    }
    val v1 = cov.groupBy(col("di").as("d"))
      .agg(qsum(col("c") * lit(0.125), 1e12).as("x"))
    val v2 = matvec(cov, v1, 1e12)
    val v3 = matvec(cov, v2, 1e14)
    val u = unit(v3, "u")
    val lam1 = lam(rq(v2, v3), "lam1")
    val cov2 = cov
      .join(broadcast(u.select(col("d").as("di"), col("u").as("ui"))), Seq("di"))
      .join(broadcast(u.select(col("d").as("dj"), col("u").as("uj"))), Seq("dj"))
      .crossJoin(broadcast(lam1))
      .select(col("di"), col("dj"),
        (q(col("c") - col("lam1") * col("ui") * col("uj"), 1e12) / lit(1e12)).as("c"))
      .localCheckpoint(false)
    val w1 = u.select(col("d"),
      when(col("d") % 2 === 0, lit(0.125)).otherwise(lit(-0.125)).as("x"))
    val w2 = matvec(cov2, w1, 1e12)
    val w3 = matvec(cov2, w2, 1e14)
    val lam2 = lam(rq(w2, w3), "lam2")
    val tr = cov.where(col("di") === col("dj"))
      .agg(qsum(col("c"), 1e12).as("tr"))
    // f9, not round(_, 9): these outputs are quotients of exact
    // decimal sums (x/sqrt(nn), num/den) whose doubles can land on a
    // half-boundary of the 9th digit, where Spark's BigDecimal HALF_UP
    // and DuckDB's float rounding disagree by one ulp (observed on
    // pc2 at sf0.01). floor(x*1e9 + 0.5)/1e9 is the same IEEE ops in
    // both engines, so the quantization is bit-identical by
    // construction.
    def f9(c: org.apache.spark.sql.Column) =
      floor(c * lit(1e9) + lit(0.5)) / lit(1e9)
    u.join(unit(w3, "w"), Seq("d"))
      .crossJoin(broadcast(lam1)).crossJoin(broadcast(lam2))
      .crossJoin(broadcast(tr))
      .select(col("d").cast("long").as("dim"),
        f9(col("u")).as("pc1"), f9(col("w")).as("pc2"),
        f9(col("lam1")).as("lam1"), f9(col("lam2")).as("lam2"),
        when(col("tr") === 0, lit(null).cast("double"))
          .otherwise(f9(col("lam1") / col("tr"))).as("ev1_share"),
        when(col("tr") === 0, lit(null).cast("double"))
          .otherwise(f9(col("lam2") / col("tr"))).as("ev2_share"))
      .orderBy("dim")
  }

  // qsum mirror: SUM over CAST(floor(term·scale + 0.5) AS BIGINT) —
  // floor's integer-valued DOUBLE must become BIGINT before the SUM
  // (a double sum passes 2^53 at these scales and goes order-dependent)
  private def qsumSql(term: String, scale: String): String =
    s"CAST(SUM(CAST(floor($term * $scale + 0.5) AS BIGINT)) AS DOUBLE) / $scale"

  def embPca2Sql: String =
    s"""WITH $covCteSql,
      |v1 AS (
      |  SELECT di AS d, ${qsumSql("c * 0.125", "1e12")} AS x
      |  FROM cov GROUP BY di),
      |v2 AS (
      |  SELECT cov.di AS d, ${qsumSql("cov.c * v1.x", "1e12")} AS x
      |  FROM cov JOIN v1 ON v1.d = cov.dj GROUP BY cov.di),
      |v3 AS (
      |  SELECT cov.di AS d, ${qsumSql("cov.c * v2.x", "1e14")} AS x
      |  FROM cov JOIN v2 ON v2.d = cov.dj GROUP BY cov.di),
      |rq1 AS (
      |  SELECT ${qsumSql("v3.x * v2.x", "1e15")} AS num,
      |         ${qsumSql("v2.x * v2.x", "1e15")} AS den
      |  FROM v2 JOIN v3 ON v3.d = v2.d),
      |lam1 AS (SELECT CASE WHEN den = 0 THEN CAST(NULL AS DOUBLE)
      |                     ELSE num / den END AS lam1 FROM rq1),
      |n3 AS (SELECT ${qsumSql("x * x", "1e15")} AS nn FROM v3),
      |u AS (SELECT d, x / sqrt((SELECT nn FROM n3)) AS u FROM v3),
      |cov2 AS MATERIALIZED (
      |  SELECT cov.di, cov.dj,
      |    floor((cov.c - (SELECT lam1 FROM lam1) * ua.u * ub.u) * 1e12 + 0.5)
      |      / 1e12 AS c
      |  FROM cov JOIN u ua ON ua.d = cov.di JOIN u ub ON ub.d = cov.dj),
      |w1 AS (SELECT d, CASE WHEN d % 2 = 0 THEN CAST(0.125 AS DOUBLE)
      |                      ELSE CAST(-0.125 AS DOUBLE) END AS x FROM u),
      |w2 AS (
      |  SELECT cov2.di AS d, ${qsumSql("cov2.c * w1.x", "1e12")} AS x
      |  FROM cov2 JOIN w1 ON w1.d = cov2.dj GROUP BY cov2.di),
      |w3 AS (
      |  SELECT cov2.di AS d, ${qsumSql("cov2.c * w2.x", "1e14")} AS x
      |  FROM cov2 JOIN w2 ON w2.d = cov2.dj GROUP BY cov2.di),
      |rq2 AS (
      |  SELECT ${qsumSql("w3.x * w2.x", "1e15")} AS num,
      |         ${qsumSql("w2.x * w2.x", "1e15")} AS den
      |  FROM w2 JOIN w3 ON w3.d = w2.d),
      |lam2 AS (SELECT CASE WHEN den = 0 THEN CAST(NULL AS DOUBLE)
      |                     ELSE num / den END AS lam2 FROM rq2),
      |n3b AS (SELECT ${qsumSql("x * x", "1e15")} AS nn FROM w3),
      |tr AS (SELECT ${qsumSql("c", "1e12")} AS tr FROM cov WHERE di = dj)
      |SELECT CAST(u.d AS BIGINT) AS dim,
      |  floor(u.u * 1e9 + 0.5) / 1e9 AS pc1,
      |  floor(w3.x / sqrt((SELECT nn FROM n3b)) * 1e9 + 0.5) / 1e9 AS pc2,
      |  floor((SELECT lam1 FROM lam1) * 1e9 + 0.5) / 1e9 AS lam1,
      |  floor((SELECT lam2 FROM lam2) * 1e9 + 0.5) / 1e9 AS lam2,
      |  CASE WHEN (SELECT tr FROM tr) = 0 THEN CAST(NULL AS DOUBLE)
      |    ELSE floor((SELECT lam1 FROM lam1) / (SELECT tr FROM tr) * 1e9 + 0.5) / 1e9
      |  END AS ev1_share,
      |  CASE WHEN (SELECT tr FROM tr) = 0 THEN CAST(NULL AS DOUBLE)
      |    ELSE floor((SELECT lam2 FROM lam2) / (SELECT tr FROM tr) * 1e9 + 0.5) / 1e9
      |  END AS ev2_share
      |FROM u JOIN w3 ON w3.d = u.d ORDER BY dim""".stripMargin

  def embPowerSql: String =
    s"""WITH $covCteSql,
      |v1 AS (
      |  SELECT di AS vd,
      |    CAST(SUM(CAST(round(c * 0.125, 9) AS DECIMAL(28,12))) AS DOUBLE) AS v1
      |  FROM cov GROUP BY di)
      |SELECT CAST(cov.di AS BIGINT) AS dim, round(cov.c, 9) AS var_d,
      |  round(v1.v1, 9) AS v1
      |FROM cov JOIN v1 ON v1.vd = cov.di
      |WHERE cov.di = cov.dj ORDER BY dim""".stripMargin

  /** recall@3 core shared by [[annRecall]] (IVF) and [[pqRecall]]:
    * exact top-3 joined to an index's top-3 on (qid, nid), aggregated
    * onto |queries| keys; missed queries surface as recall 0, not as
    * absent rows (left join from the exact side). */
  private def recall3Of(brute: DataFrame, ann: DataFrame): DataFrame = {
    val b = brute.select(col("qid"), col("nid"))
    val hits = b.join(ann.select(col("qid"), col("nid")), Seq("qid", "nid"))
      .groupBy(col("qid")).agg(count(lit(1)).as("h"))
    b.select(col("qid")).distinct()
      .join(hits, Seq("qid"), "left")
      .select(col("qid"), coalesce(col("h"), lit(0L)).as("n_hits"),
        round(coalesce(col("h"), lit(0L)).cast("double") / lit(3.0), 9).as("recall3"))
      .orderBy("qid")
  }

  /** DuckDB mirror of [[recall3Of]] over an index's top-3 query. */
  private def recall3Sql(annSql: String): String =
    s"""WITH brute3 AS (
       |  SELECT qid, nid FROM ($bruteTopKSql) b WHERE rank <= 3),
       |ann AS (SELECT qid, nid FROM ($annSql) a),
       |hits AS (
       |  SELECT brute3.qid, COUNT(*) AS h
       |  FROM brute3 JOIN ann ON brute3.qid = ann.qid AND brute3.nid = ann.nid
       |  GROUP BY brute3.qid)
       |SELECT q.qid, COALESCE(h, 0) AS n_hits,
       |  round(COALESCE(h, 0) / 3.0, 9) AS recall3
       |FROM (SELECT DISTINCT qid FROM brute3) q
       |LEFT JOIN hits ON q.qid = hits.qid
       |ORDER BY q.qid""".stripMargin

  /** ANN self-evaluation: recall@3 of the IVF index against the exact
    * brute-force top-3, per query — the metric an index owner watches
    * when tuning nprobe/cell count, promoted to a first-class declared
    * query (SimilaritySpec asserts a recall FLOOR; this exposes the
    * exact per-query value under the hash gate, both sides replayed
    * deterministically by the oracle). Scale shape: both inputs are
    * existing declared plans (broadcast-probe joins); the recall join
    * matches two ≤3-row-per-query sets on (qid, nid) and aggregates
    * onto |queries| keys. */
  def annRecall(spark: SparkSession, d: String): DataFrame =
    recall3Of(bruteTopK(spark, d).where(col("rank") <= 3), annIvf(spark, d))

  def annRecallSql: String = recall3Sql(annIvfSql)

  /** recall@3 of the PQ index against the exact top-3 — [[annRecall]]
    * for the OTHER approximate index: IVF approximates by pruning the
    * candidate set, PQ by quantizing distances, and their recall
    * profiles differ, so an index owner watches both. Same scale
    * shape as [[annRecall]] (two existing declared plans joined on
    * ≤3-row-per-query sets). */
  def pqRecall(spark: SparkSession, d: String): DataFrame =
    recall3Of(bruteTopK(spark, d).where(col("rank") <= 3), annPq(spark, d))

  def pqRecallSql: String = recall3Sql(annPqSql)

  // ---------------------------------------------------------------
  // emb_kmeans*: k-means (k = 8) over the embedding corpus
  // ---------------------------------------------------------------

  private def kmVectors(spark: SparkSession, d: String) =
    Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  /** The 8 seeds (cid 1..8): the lowest content-derived hashes — the
    * deterministic stand-in for random init (rand() is
    * partitioning-dependent). */
  private def kmSeeds(e: DataFrame): DataFrame =
    seeds(e.withColumn("h", xhash60(col("vec_id").cast("string"), 99)),
      Seq(col("h"), col("vec_id")), Left(8), "cid")
      .select((col("cid") + 1).cast("long").as("cid"), col("v").as("c"))

  /** round(|v|² − 2·v·c + |c|², 9) against a centroid column or literal. */
  private def kmDist(c: Column): Column =
    round(norm2(col("v")) - lit(2.0) * dotd(col("v"), c) + norm2(c), 9)

  private def kmAssign(e: DataFrame, cents: DataFrame): DataFrame =
    nearest(e, broadcast(cents), Nil, Seq("vec_id"), Seq("v"), kmDist(col("c")), "cid")

  private def kmAssign(e: DataFrame, cents: Seq[(Long, Seq[Double])]): DataFrame =
    nearest(e, cents, Seq("vec_id", "v"), kmDist, "cid")

  /** Centroid re-estimation under the decimal-exact mean
    * ([[graft.ops.OpsUtil.davg]]); a centroid that loses every vector
    * drops out (k shrinks), the standard Lloyd degeneracy. */
  private def kmUpdate(assigned: DataFrame): DataFrame =
    centroidMeans(assigned, Seq("cid"), "v", davg, "cn2")

  /** The k ≤ 8 centroid rows COLLECTED (bounded by construction — the
    * [[graft.ops.TextAnalysisOps.ngramProfileLit]] 1-row-scalar
    * pattern), sorted by cid. One bounded driver action per call. */
  private def kmCentsLit(cents: DataFrame): Seq[(Long, Seq[Double])] =
    cents.select(col("cid"), col("c")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq.sortBy(_._1)

  /** Per-cluster population and mean distance; the mean goes through
    * a rounded decimal sum (dsum recipe) so the division is
    * exact-over-exact. */
  private def kmSummary(assigned: DataFrame): DataFrame =
    assigned.groupBy(col("cid").as("centroid"))
      .agg(count(lit(1)).as("n_vecs"),
        round(dsum(round(sqrt(col("dist")), 9)) / count(lit(1)), 6).as("mean_dist"))
      .orderBy("centroid")

  /** One Lloyd iteration of k-means (k = 8) over the embedding corpus
    * — the clustering primitive under the IVF index builders
    * ([[annIvf]] trains its coarse quantizer exactly this way) exposed
    * as its own declared, oracle-checked step: hash-ranked seed
    * selection (TakeOrdered top-8), one assignment pass (8 codegen'd
    * dots per vector, argmin with rounded distances and centroid-id
    * tie-break), and the per-cell population + mean distance the next
    * iteration's convergence check reads. The seeds are ≤ 8 rows by
    * construction, collected once, so assignment is the literal form:
    * one map-only scoring pass, then the 8-key aggregate. A full Lloyd
    * loop is this plan iterated ([[embKmeansLoop]]), like
    * [[GraphOps.pagerank]]'s per-round shape. */
  def embKmeans(spark: SparkSession, d: String): DataFrame = {
    val e = kmVectors(spark, d)
    kmSummary(kmAssign(e, kmCentsLit(kmSeeds(e))))
  }

  /** The full Lloyd LOOP — the scale continuation of the declared
    * one-iteration [[embKmeans]] (the [[graft.ops.GraphOps.pagerank]]
    * shape applied to clustering): per round, one broadcast-assign
    * pass over the corpus, one (cid, dim)-keyed partial-aggregate to
    * recompute means distributed, and exactly ONE bounded driver
    * action — the 1-row total-cost scalar the convergence check reads.
    * Centroid means are decimal-exact, so every round is deterministic
    * and Lloyd's monotone-descent guarantee is assertable
    * (ScaleStressSpec). Returns the final per-cluster summary and the
    * per-round total cost trace. */
  private[graft] def embKmeansIter(spark: SparkSession, d: String,
      rounds: Int): (DataFrame, Seq[Double]) = {
    val e = kmVectors(spark, d).localCheckpoint(false)
    var cents = kmSeeds(e)
    val costs = scala.collection.mutable.ArrayBuffer.empty[Double]
    (1 to rounds).foreach { _ =>
      val best = kmAssign(e, cents).localCheckpoint(false)
      costs += best.agg(dsum(round(sqrt(col("dist")), 9))).head().getDouble(0)
      cents = kmUpdate(best)
    }
    (kmSummary(kmAssign(e, cents)), costs.toSeq)
  }

  private val LloydRounds = 3

  /** The declared fixed-round Lloyd LOOP (r12 verdict #3): the
    * [[embKmeans]] single step iterated [[LloydRounds]] times under
    * the hash gate, exactly like `graph_pagerank`'s unrolled rounds —
    * seeds, then per round one assignment pass over the corpus and
    * one (cid, dim)-keyed partial aggregate, then the final
    * assignment summarized per surviving centroid. Unlike the
    * convergence-checked [[embKmeansIter]], the declared query runs a
    * FIXED round count. Centroids are ≤ 8×Dim doubles by
    * construction, so each round collects them (one bounded driver
    * action per round, the ngramProfileLit pattern) and assignment is
    * the map-only literal form; the only shuffles are the means'
    * k×Dim-row partial aggregates. Means are decimal-exact and
    * distances round to 9 after a fixed-order fold, so every round's
    * assignment is bit-identical cross-engine. */
  def embKmeansLoop(spark: SparkSession, d: String): DataFrame = {
    val e = kmVectors(spark, d).localCheckpoint(false)
    var cents = kmCentsLit(kmSeeds(e))
    (1 to LloydRounds).foreach(_ =>
      cents = kmCentsLit(kmUpdate(kmAssign(e, cents))))
    kmSummary(kmAssign(e, cents))
  }

  /** The k-means mirror prefix shared by [[embKmeansSql]],
    * [[embKmeansLoopSql]] and [[embSilhouetteSql]]: the corpus `e`,
    * the hash-ranked seeds `c0` and `a1`, each vector's n nearest
    * seeds. */
  private def kmSeedsScoredSql(n: Int, materialized: Boolean): String = {
    val m = if (materialized) " MATERIALIZED" else ""
    s"""e AS$m (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |c0 AS$m (
       |  SELECT r AS cid, v AS c FROM (SELECT v, row_number() OVER (
       |    ORDER BY ${xhash60Sql("CAST(vec_id AS VARCHAR)", 99)}, vec_id) AS r FROM e)
       |  WHERE r <= 8),
       |${kmAssignSql("a1", "c0", n, materialized)}""".stripMargin
  }

  private def kmAssignSql(name: String, cents: String, n: Int, materialized: Boolean) =
    nearestCte(name, "e.vec_id, e.v, s.cid",
      s"round(${distSql(norm2Sql("e.v"), "e.v", "s.c", norm2Sql("s.c"))}, 9)",
      "vec_id", "cid", s"e CROSS JOIN $cents s", n, materialized)

  private def kmSummarySql(assigned: String): String =
    s"""SELECT CAST(cid AS BIGINT) AS centroid, COUNT(*) AS n_vecs,
       |  round(CAST(SUM(CAST(round(sqrt(dist), 9) AS DECIMAL(18,6))) AS DOUBLE)
       |    / COUNT(*), 6) AS mean_dist
       |FROM $assigned GROUP BY cid ORDER BY centroid""".stripMargin

  def embKmeansSql: String =
    s"""WITH ${kmSeedsScoredSql(1, materialized = false)}
       |${kmSummarySql("a1")}""".stripMargin

  /** DuckDB mirror of [[embKmeansLoop]]: seeds, then [[LloydRounds]]
    * unrolled (re-estimate → assign) pairs with the identical decimal
    * mean and rounded-distance arithmetic, then the final assignment
    * summary. AS MATERIALIZED on every stage: each assignment is
    * referenced by the next round's means AND (transitively) every
    * later round — inlining would re-expand the pipeline
    * exponentially (the graph_bfs lesson). */
  def embKmeansLoopSql: String = {
    val davgSql = (x: String) => s"CAST(SUM(CAST($x AS DECIMAL(18,6))) AS DOUBLE) / COUNT($x)"
    val rounds = (1 to LloydRounds).map { t =>
      meansCte(s"c$t", "cid", "v", davgSql, "cn2", s"a$t", materialized = true) + ",\n" +
        kmAssignSql(s"a${t + 1}", s"c$t", 1, materialized = true)
    }.mkString(",\n")
    s"""WITH ${kmSeedsScoredSql(1, materialized = true)},
       |$rounds
       |${kmSummarySql(s"a${LloydRounds + 1}")}""".stripMargin
  }

  /** Simplified (centroid) silhouette of the k-means partition — the
    * clustering-quality readout next to [[embKmeans]]: per vector,
    * a = distance to its OWN centroid, b = distance to the nearest
    * OTHER centroid, s = (b − a) / max(a, b); reported as the
    * per-cluster mean. The full silhouette's pairwise a/b is O(n²);
    * the centroid form is the standard O(n·k) large-scale substitute
    * (one pass, same cost as the assignment itself).
    *
    * Scale shape: identical to [[embKmeans]] — the collected seeds,
    * one map-only scoring pass over the literal candidates, then a
    * k-key aggregate. a and b fall out of the same candidates: the
    * first `least` is the nearest seed, and nulling it out of a second
    * `least` gives the runner-up (the candidates' ids are distinct, so
    * only the nearest equals the first minimum). Distances round at 9,
    * s rounds at 9, means go through DECIMAL(18,9): bit-identical
    * cross-engine. */
  def embSilhouette(spark: SparkSession, d: String): DataFrame = {
    // The s0..s7 structs live in their own projection so each distance
    // evaluates once (non-cheap exprs block projection collapse).
    val e = kmVectors(spark, d)
    val cents = kmCentsLit(kmSeeds(e))
    val sCols = cents.indices.map(i => col(s"s$i"))
    val p1 = least(sCols: _*)
    val p2 = least(sCols.map(s => when(s === col("p1"), lit(null))
      .otherwise(s)): _*)
    val scored = e
      .select(col("vec_id") +: candidates(cents, kmDist, "cid").zipWithIndex
        .map { case (s, i) => s.as(s"s$i") }: _*)
      .select(col("vec_id") +: p1.as("p1") +: sCols: _*)
      .select(col("vec_id"), col("p1"), p2.as("p2"))
    scored
      .select(col("p1.cid").as("cid"),
        round(sqrt(col("p1.dist")), 9).as("da"),
        round(sqrt(col("p2.dist")), 9).as("db"))
      .select(col("cid"),
        when(greatest(col("da"), col("db")) > 0,
          round((col("db") - col("da")) / greatest(col("da"), col("db")), 9))
          .otherwise(lit(0.0)).as("s"))
      .groupBy(col("cid").as("cluster"))
      .agg(count(lit(1)).as("n_vecs"),
        round(sum(col("s").cast("decimal(18,9)")).cast("double") /
          count(lit(1)), 9).as("mean_sil"))
      .orderBy("cluster")
  }

  /** DuckDB mirror of [[embSilhouette]]: the k-means prefix with each
    * vector's two nearest seeds, pivoted into (a, b) before the
    * silhouette formula. */
  def embSilhouetteSql: String =
    s"""WITH ${kmSeedsScoredSql(2, materialized = false)},
       |aa AS (SELECT vec_id, cid, round(sqrt(dist), 9) AS da FROM a1 WHERE rn = 1),
       |bb AS (SELECT vec_id, round(sqrt(dist), 9) AS db FROM a1 WHERE rn = 2),
       |sil AS (SELECT aa.cid,
       |    CASE WHEN greatest(da, db) > 0
       |         THEN round((db - da) / greatest(da, db), 9)
       |         ELSE CAST(0.0 AS DOUBLE) END AS s
       |  FROM aa JOIN bb USING (vec_id))
       |SELECT CAST(cid AS BIGINT) AS cluster, COUNT(*) AS n_vecs,
       |  round(CAST(SUM(CAST(s AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 9)
       |    AS mean_sil
       |FROM sil GROUP BY cid ORDER BY cluster""".stripMargin

  // MMR (Maximal Marginal Relevance, Carbonell & Goldstein 1998):
  // greedy diversified top-k — each round picks the candidate
  // maximizing lambda*rel(q,d) - (1-lambda)*max_{s in S} sim(d,s).
  // The training-data face of it: dedup-AWARE sampling of nearest
  // neighbors (pure top-k returns near-duplicates of each other; MMR
  // trades relevance for coverage).
  private val MmrQueries = 3
  private val MmrPoolK = 20
  private val MmrK = 5

  /** Declared query `sim_mmr`: unrolled MMR selection (5 greedy
    * rounds, lambda 0.7) over a brute top-20 relevance pool for 3
    * query vectors. All scores are 9-decimal-quantized cosines /
    * affine combinations of them, ties broken by vec id, so the
    * DuckDB oracle replays the greedy EXACTLY via five materialized
    * CTEs (the logreg/PCA unrolled-iteration precedent).
    *
    * Scale shape: the pool build is the one corpus-sized stage (3
    * broadcast query rows x linear candidate scan + a per-query
    * top-20 window); every MMR round runs on <= 20 rows per query —
    * at real scale the pool would come from the ANN index
    * ([[annIvf]]) instead of the brute scan, and the greedy is
    * unchanged. */
  def mmrSelect(spark: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = e.where(col("vec_id") < MmrQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val cand = e.select(col("vec_id").as("nid"), col("v").as("nv"))
    val wPool = Window.partitionBy(col("qid")).orderBy(col("rel").desc, col("nid"))
    // the one corpus-sized stage; eager checkpoint so the pair build
    // and the collect below both read a flat <= 60-row block scan
    val pool = broadcast(q).crossJoin(cand)
      .where(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), cosine9(col("qv"), col("nv")).as("rel"),
        col("nv"))
      .withColumn("rk", row_number().over(wPool))
      .where(col("rk") <= MmrPoolK)
      .drop("rk")
      .localCheckpoint(true)
    val pa = pool.select(col("qid"), col("nid").as("a"), col("nv").as("av"))
    val pb = pool.select(col("qid"), col("nid").as("b"), col("nv").as("bv"))
    // quantized candidate-pair similarities, computed distributed so
    // the doubles entering the greedy are the exact values the oracle
    // computes; <= queries * PoolK^2 rows
    val pairSim = pa.join(pb, Seq("qid")).where(col("a") =!= col("b"))
      .select(col("qid"), col("a"), col("b"), cosine9(col("av"), col("bv")).as("sim"))
    // The greedy itself runs on the DRIVER (the Lloyd-loop / BPE
    // bounded-collect precedent): <= queries x PoolK rows in, 5
    // sequential argmax rounds that a distributed plan can only
    // express as 2^rounds nested self-joins (the first draft's
    // exponential-lineage lesson — 20 s of Catalyst analysis for 15
    // output rows). Same IEEE arithmetic as the oracle: products of
    // 9-decimal-quantized cosines, floor(x*1e9+0.5)/1e9, ties by id.
    val rels = pool.select(col("qid"), col("nid"), col("rel")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val sims = pairSim.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getDouble(3)).toMap
    def q9d(x: Double): Double = math.floor(x * 1e9 + 0.5) / 1e9
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Double)]
    rels.keys.map(_._1).toSeq.distinct.sorted.foreach { qid =>
      val candIds = rels.keys.collect { case (`qid`, nid) => nid }.toSeq.sorted
      var selected = List.empty[Long]
      var r = 1
      // stop when the pool runs dry (fewer than MmrK candidates for a
      // degenerate/tiny embeddings table): the oracle's round-r CTE is
      // empty then too, so both engines emit the same shorter pick list
      // — minBy on an empty round would instead crash this side only
      while (r <= MmrK && selected.size < candIds.size) {
        val scored = candIds.filterNot(selected.contains).map { nid =>
          val rel = rels((qid, nid))
          val score =
            if (selected.isEmpty) q9d(0.7 * rel)
            else q9d(0.7 * rel - 0.3 * selected.map(s => sims((qid, nid, s))).max)
          (nid, score)
        }
        val (bestNid, bestScore) = scored.minBy { case (nid, sc) => (-sc, nid) }
        selected = bestNid :: selected
        out += ((qid, r, bestNid, bestScore))
        r += 1
      }
    }
    import spark.implicits._
    out.toSeq.toDF("qid", "pick", "nid", "score").orderBy("qid", "pick")
  }

  def mmrSelectSql: String = {
    def roundCte(r: Int): String = {
      val prev = (1 until r).map(i => s"SELECT * FROM s$i").mkString(" UNION ALL ")
      s"""s$r AS MATERIALIZED (
         |  SELECT qid, $r AS pick, nid, score FROM (
         |    SELECT c.qid, c.nid, floor((CAST(0.7 AS DOUBLE) * c.rel
         |        - CAST(0.3 AS DOUBLE) * m.maxsim) * 1e9 + 0.5) / 1e9 AS score
         |    FROM slim c
         |    JOIN (SELECT ps.qid, ps.a, MAX(ps.sim) AS maxsim
         |          FROM ps JOIN ($prev) sel ON ps.qid = sel.qid AND ps.b = sel.nid
         |          GROUP BY ps.qid, ps.a) m
         |      ON m.qid = c.qid AND m.a = c.nid
         |    WHERE NOT EXISTS (SELECT 1 FROM ($prev) sel
         |                      WHERE sel.qid = c.qid AND sel.nid = c.nid))
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, nid) = 1)""".stripMargin
    }
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $MmrQueries),
       |pool AS MATERIALIZED (
       |  SELECT qid, nid, rel, nv FROM (
       |    SELECT qid, e.vec_id AS nid, ${cosine9Sql("qv", "e.v")} AS rel, e.v AS nv,
       |      ROW_NUMBER() OVER (PARTITION BY qid
       |        ORDER BY ${cosine9Sql("qv", "e.v")} DESC, e.vec_id) AS rk
       |    FROM q CROSS JOIN e WHERE qid <> e.vec_id)
       |  WHERE rk <= $MmrPoolK),
       |ps AS MATERIALIZED (
       |  SELECT p1.qid, p1.nid AS a, p2.nid AS b, ${cosine9Sql("p1.nv", "p2.nv")} AS sim
       |  FROM pool p1 JOIN pool p2 ON p1.qid = p2.qid AND p1.nid <> p2.nid),
       |slim AS (SELECT qid, nid, rel FROM pool),
       |s1 AS MATERIALIZED (
       |  SELECT qid, 1 AS pick, nid, score FROM (
       |    SELECT qid, nid,
       |      floor(CAST(0.7 AS DOUBLE) * rel * 1e9 + 0.5) / 1e9 AS score
       |    FROM slim)
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, nid) = 1),
       |${(2 to MmrK).map(roundCte).mkString(",\n")}
       |SELECT qid, pick, nid, score FROM (
       |  ${(1 to MmrK).map(i => s"SELECT * FROM s$i").mkString(" UNION ALL ")})
       |ORDER BY qid, pick""".stripMargin
  }
}
