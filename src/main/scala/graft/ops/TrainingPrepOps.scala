package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.OpsUtil._

/** Training-data preparation operators — the pipeline stages that sit
  * BETWEEN dedup/quality-filtering (DedupOps, TextAnalysisOps) and the
  * trainer: sequence chunking, benchmark decontamination, stratified
  * sampling, greedy sequence packing, incremental-ingest dedup, and
  * per-class embedding centroids (north-star extensions; SURVEY.md
  * §2.3 EXT).
  *
  * Scale stance, per operator:
  *  - chunking/packing/sampling are map-side or one-shuffle window
  *    work — no all-pairs anything, no driver-side loops;
  *  - decontamination streams the corpus once against a BROADCAST
  *    benchmark n-gram set (the benchmark side is small by definition —
  *    eval suites are KBs–MBs against a 100 TB corpus);
  *  - packing avoids the classic single-partition global-cumsum
  *    bottleneck by packing within hash buckets (each bucket is an
  *    independent stream — the same shape a 1000-executor run uses);
  *  - incremental dedup is one hash equi-anti-join — the shape of a
  *    daily ingest against a persisted corpus-hash index.
  *
  * All hashes are the cross-engine [[OpsUtil.xhash60]] so every stage
  * is replayed exactly by the DuckDB oracle.
  */
object TrainingPrepOps {

  // ---------------------------------------------------------------
  // text_chunk: fixed-size token windows for training sequences
  // ---------------------------------------------------------------

  private val ChunkW = 64

  /** Split each document into consecutive [[ChunkW]]-token chunks
    * (the pre-tokenized-sequence shape a trainer consumes). Pure
    * map-side: tokenize once, explode a chunk-index range, slice.
    * Empty docs yield zero chunks in both engines.
    *
    * explode_outer + isNotNull instead of explode: the inferred
    * non-empty filter explode generates would be pushed through the
    * projection and re-evaluate tokens() over the whole corpus
    * (the PlanSpec recompute trap). */
  def textChunk(spark: SparkSession, d: String): DataFrame = {
    val t = Tables.documents(spark, d)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"), col("tk"),
        when(size(col("tk")) > 0,
          sequence(lit(0L), floor((size(col("tk")) - lit(1)) / lit(ChunkW))))
          .otherwise(array().cast("array<bigint>")).as("ix"))
    t.select(col("doc_id"), col("tk"), explode_outer(col("ix")).as("chunk_idx"))
      .where(col("chunk_idx").isNotNull)
      .select(col("doc_id"), col("chunk_idx"),
        slice(col("tk"), (col("chunk_idx") * ChunkW + 1).cast("int"), lit(ChunkW)).as("chunk"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("chunk")).as("n_tokens"),
        xhash60(concat_ws(" ", col("chunk")), 7).as("chunk_hash"))
      .orderBy("doc_id", "chunk_idx")
  }

  def textChunkSql: String =
    s"""WITH toks AS (SELECT doc_id, ${tokensSql("text")} AS tk FROM documents),
       |ix AS (
       |  SELECT doc_id, tk, unnest(range(((len(tk) - 1) // $ChunkW) + 1)) AS chunk_idx
       |  FROM toks WHERE len(tk) > 0),
       |chunks AS (
       |  SELECT doc_id, chunk_idx,
       |    tk[(chunk_idx * $ChunkW + 1):(chunk_idx * $ChunkW + $ChunkW)] AS chunk
       |  FROM ix)
       |SELECT doc_id, chunk_idx, len(chunk) AS n_tokens,
       |  ${xhash60Sql(s"array_to_string(chunk, ' ')", 7)} AS chunk_hash
       |FROM chunks ORDER BY doc_id, chunk_idx""".stripMargin

  // ---------------------------------------------------------------
  // decontaminate: benchmark n-gram overlap scan
  // ---------------------------------------------------------------

  private val DecontamN = 5      // n-gram width (word-level)
  private val BenchDocs = 20     // synthetic "eval set" size

  /** doc_id + distinct 5-gram array (total — empty array for short
    * docs, same when-guard rationale as DedupOps.shingledOf). */
  private def grams5(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"),
        when(size(col("tk")) >= DecontamN, array_distinct(transform(
          sequence(lit(1), size(col("tk")) - (DecontamN - 1)),
          i => concat_ws(" ", (0 until DecontamN).map(o => element_at(col("tk"), i + o)): _*))))
          .otherwise(array().cast("array<string>")).as("g"))

  private def grams5Sql(src: String): String =
    s"""SELECT doc_id, list_distinct(list_transform(range(1, len(tk) - ${DecontamN - 2}),
       |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4])) AS g
       |  FROM (SELECT doc_id, ${tokensSql("text")} AS tk FROM $src)
       |  WHERE len(tk) >= $DecontamN""".stripMargin

  /** Benchmark decontamination: flag corpus documents sharing any
    * 5-gram with a held-out "benchmark" set (here: the [[BenchDocs]]
    * lowest-hash docs — a stand-in for a real eval suite), with the
    * shared-gram count as the contamination score.
    *
    * The benchmark gram set is tiny relative to any corpus, so both
    * the id exclusion and the gram probe are BROADCAST joins: the
    * corpus streams through one scan+explode, no corpus-side shuffle
    * until the per-doc count — exactly the shape a 100 TB
    * decontamination pass needs. */
  def decontaminate(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    val benchIds = docs
      .select(col("doc_id"), xhash60(col("doc_id").cast("string"), 17).as("hk"))
      .orderBy(col("hk"), col("doc_id")).limit(BenchDocs)
      .select(col("doc_id"))
    val benchGrams = grams5(docs.join(broadcast(benchIds), Seq("doc_id"), "left_semi"))
      .select(explode_outer(col("g")).as("gram"))
      .where(col("gram").isNotNull)
      .select(xhash60(col("gram"), 0).as("gh")).distinct()
    val corpusGrams = grams5(docs.join(broadcast(benchIds), Seq("doc_id"), "left_anti"))
      .select(col("doc_id"), explode_outer(col("g")).as("gram"))
      .where(col("gram").isNotNull)
      .select(col("doc_id"), xhash60(col("gram"), 0).as("gh"))
    // count(*), not countDistinct: per-doc grams are array_distinct'd
    // upstream and the probe side is distinct, so joined (doc_id, gh)
    // rows are already unique — a distinct-agg here would add a whole
    // extra shuffle phase for nothing
    corpusGrams.join(broadcast(benchGrams), Seq("gh"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared_ngrams"))
      .orderBy(col("n_shared_ngrams").desc, col("doc_id"))
  }

  def decontaminateSql: String =
    s"""WITH bench_ids AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id, ${xhash60Sql("CAST(doc_id AS VARCHAR)", 17)} AS hk FROM documents)
       |  ORDER BY hk, doc_id LIMIT $BenchDocs),
       |bench_grams AS (
       |  SELECT DISTINCT ${xhash60Sql("gram", 0)} AS gh FROM (
       |    SELECT unnest(g) AS gram FROM (
       |      ${grams5Sql("(SELECT * FROM documents WHERE doc_id IN (SELECT doc_id FROM bench_ids))")}))),
       |corpus_grams AS (
       |  SELECT doc_id, ${xhash60Sql("gram", 0)} AS gh FROM (
       |    SELECT doc_id, unnest(g) AS gram FROM (
       |      ${grams5Sql("(SELECT * FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM bench_ids))")})))
       |SELECT c.doc_id, count(*) AS n_shared_ngrams
       |FROM corpus_grams c JOIN bench_grams b ON c.gh = b.gh
       |GROUP BY c.doc_id
       |ORDER BY n_shared_ngrams DESC, doc_id""".stripMargin

  // ---------------------------------------------------------------
  // sample_stratified: fixed per-stratum budget, hash-ordered
  // ---------------------------------------------------------------

  private val StratumK = 20

  /** Stratified sampling: the [[StratumK]] lowest-hash documents PER
    * LANGUAGE — a fixed per-stratum budget (so rare languages are
    * fully represented and dominant ones capped, the balanced-mix
    * shape of training-set curation). Deterministic on any
    * partitioning via the content-derived hash order (rand(seed) is
    * partitioning-dependent; xhash60 is not).
    *
    * Scale note: a per-lang row_number window with FEW langs looks
    * like a handful of reducers sorting billions of rows each — but
    * Catalyst's InferWindowGroupLimit inserts a map-side PARTIAL
    * top-K below the exchange (each task forwards ≤ K rows per lang),
    * so the shuffle carries K × langs × tasks rows, not the corpus.
    * PlanSpec pins the WindowGroupLimit Partial node. */
  def sampleStratified(spark: SparkSession, d: String): DataFrame =
    topK(Tables.documents(spark, d)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        xhash60(col("doc_id").cast("string"), 21).as("hk")),
      Seq(col("lang")), Seq(col("hk"), col("doc_id")), StratumK, "rn")
      .select(col("lang"), col("doc_id"), col("n_chars"))
      .orderBy("lang", "doc_id")

  def sampleStratifiedSql: String =
    s"""SELECT lang, doc_id, n_chars FROM (${topKSql(
         s"(SELECT lang, doc_id, n_chars, ${xhash60Sql("CAST(doc_id AS VARCHAR)", 21)} AS hk " +
           "FROM documents)",
         "lang", "hk, doc_id", StratumK, "rn")})
       |ORDER BY lang, doc_id""".stripMargin

  /** Weighted sampling WITHOUT replacement — Efraimidis–Spirakis: each
    * document draws key = −ln(u)/w from a deterministic uniform
    * u = (xhash60(doc_id)+1)/2⁶⁰ and weight w = n_chars, and the 100
    * SMALLEST keys are the sample (longer documents proportionally
    * likelier, the standard length-weighted mix draw a training
    * pipeline makes). E-S is THE distributed weighted sampler: keys
    * are row-local (no coordination, any partitioning), selection is
    * one TakeOrdered top-K — never a global sort; the rank window
    * runs over the 100 already-selected rows only. rand(seed) would be
    * partitioning-dependent; the content-derived hash is not. Keys are
    * rounded to 9 before ranking (one ln per row — the cross-engine
    * float recipe; doc_id breaks rounding-induced ties). */
  def sampleWeighted(spark: SparkSession, d: String): DataFrame = {
    val u = (xhash60(col("doc_id").cast("string"), 77) + lit(1L)).cast("double") /
      lit(1152921504606846976.0)
    val w = greatest(col("n_chars"), lit(1L))
    val keyed = Tables.documents(spark, d)
      .select(col("doc_id"), w.as("w"),
        round(-log(u) / w.cast("double"), 9).as("k"))
    keyed.orderBy(col("k"), col("doc_id")).limit(100)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("k"), col("doc_id"))).cast("long"))
      .select(col("rank"), col("doc_id"), col("w"), col("k"))
      .orderBy("rank")
  }

  def sampleWeightedSql: String =
    s"""WITH keyed AS (
       |  SELECT doc_id, greatest(n_chars, 1) AS w,
       |    round(-ln(((${xhash60Sql("CAST(doc_id AS VARCHAR)", 77)}) + 1)
       |            / 1152921504606846976.0)
       |          / greatest(n_chars, 1), 9) AS k
       |  FROM documents),
       |r AS (SELECT doc_id, w, k,
       |  row_number() OVER (ORDER BY k, doc_id) AS rank FROM keyed)
       |SELECT CAST(rank AS BIGINT) AS rank, doc_id, CAST(w AS BIGINT) AS w, k
       |FROM r WHERE rank <= 100 ORDER BY rank""".stripMargin

  // ---------------------------------------------------------------
  // text_pack: greedy sequence packing into token-budget bins
  // ---------------------------------------------------------------

  private val PackBudget = 256
  private val PackBuckets = 32

  /** Greedy sequence packing: assign documents to ~[[PackBudget]]-token
    * training bins. A global greedy pack is a running cumulative sum —
    * a single-partition bottleneck at scale — so documents are first
    * hash-routed into [[PackBuckets]] independent buckets and packed
    * within each (cumsum window per bucket). Bins never split a
    * document; a doc that crosses the budget boundary opens the next
    * bin (standard first-fit streaming pack). Output is the bin
    * manifest: doc count + token total per (bucket, bin).
    *
    * At 1000 executors the bucket count scales with the cluster and
    * each bucket's window is one local sort — no global ordering
    * anywhere. */
  def textPack(spark: SparkSession, d: String): DataFrame = {
    val t = Tables.documents(spark, d)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"), size(col("tk")).as("n_tokens"),
        xhash60(col("doc_id").cast("string"), 23).as("hk"))
      .withColumn("bucket", col("hk") % PackBuckets)
    val w = Window.partitionBy(col("bucket")).orderBy(col("hk"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    t.withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("bin", floor(col("cum_before") / PackBudget))
      .groupBy(col("bucket"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("bin_tokens"))
      .orderBy("bucket", "bin")
  }

  def textPackSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, len(${tokensSql("text")}) AS n_tokens,
       |    ${xhash60Sql("CAST(doc_id AS VARCHAR)", 23)} AS hk
       |  FROM documents),
       |b AS (SELECT doc_id, n_tokens, hk, hk % $PackBuckets AS bucket FROM t),
       |c AS (
       |  SELECT bucket, n_tokens,
       |    COALESCE(SUM(n_tokens) OVER (PARTITION BY bucket ORDER BY hk, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
       |  FROM b)
       |SELECT bucket, CAST(cum_before // $PackBudget AS BIGINT) AS bin,
       |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
       |FROM c GROUP BY bucket, bin ORDER BY bucket, bin""".stripMargin

  // ---------------------------------------------------------------
  // dedup_incremental: new batch vs ingested corpus
  // ---------------------------------------------------------------

  /** Incremental-ingest dedup: treat ~20% of the corpus (hash-routed)
    * as the ALREADY-INGESTED store and the rest as today's incoming
    * batch; emit the incoming documents that survive dedup both
    * within the batch (exact hash-groupBy, min-id keeper) and against
    * the store (hash anti-join). This is the daily-ingest shape at
    * 100 TB: the store side is only (hash) — a persisted index, never
    * the text bytes — and the whole operator is two hash shuffles,
    * no comparisons beyond equality. */
  def dedupIncremental(spark: SparkSession, d: String): DataFrame = {
    val h = Tables.documents(spark, d)
      .select(col("doc_id"), md5(col("text")).as("text_hash"),
        xhash60(col("doc_id").cast("string"), 29).as("hk"))
    val ingested = h.where(col("hk") % 5 === 0)
      .select(col("text_hash").as("ingested_hash")).distinct()
    val incoming = h.where(col("hk") % 5 =!= 0)
    incoming
      .groupBy(col("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .join(ingested, col("text_hash") === col("ingested_hash"), "left_anti")
      .select(col("keep_id"), col("n_copies"), col("text_hash"))
      .orderBy("keep_id")
  }

  def dedupIncrementalSql: String =
    s"""WITH h AS (
       |  SELECT doc_id, md5(text) AS text_hash,
       |    ${xhash60Sql("CAST(doc_id AS VARCHAR)", 29)} AS hk
       |  FROM documents),
       |ingested AS (SELECT DISTINCT text_hash FROM h WHERE hk % 5 = 0),
       |incoming AS (SELECT * FROM h WHERE hk % 5 <> 0),
       |grouped AS (
       |  SELECT text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
       |  FROM incoming GROUP BY text_hash)
       |SELECT keep_id, n_copies, text_hash FROM grouped
       |WHERE text_hash NOT IN (SELECT text_hash FROM ingested)
       |ORDER BY keep_id""".stripMargin

  // ---------------------------------------------------------------
  // merge_upsert: update-else-insert (SCD-1) daily ingest
  // ---------------------------------------------------------------

  /** MERGE/upsert core on any (key, lang, n_chars)-shaped pair of
    * frames: full-outer on the key, source wins where present
    * (SCD type 1), and every row is tagged with what the merge did —
    * `insert` (source-only), `update` (matched, value changed),
    * `noop` (matched, identical), `carry` (target-only, kept as-is).
    * This is the one relational shape a daily pipeline runs that the
    * r12 surface lacked: `dedup_incremental` covers append-only
    * ingest; this covers update-else-insert. Scale shape: ONE hash
    * shuffle per side on the merge key (or none if both are already
    * bucketed by key — [[graft.ops.ScaleOps]]' layout); a
    * storage-layer MERGE INTO (Delta/Iceberg) would execute the same
    * join, so the declared plan IS the 100 TB plan. */
  private[ops] def mergeUpsertOn(tgt: DataFrame, src: DataFrame): DataFrame =
    tgt.select(col("doc_id"), col("lang").as("t_lang"), col("n_chars").as("t_chars"))
      .join(src.select(col("doc_id"), col("lang").as("s_lang"),
        col("n_chars").as("s_chars")), Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("s_lang"), col("t_lang")).as("lang"),
        coalesce(col("s_chars"), col("t_chars")).as("n_chars"),
        when(col("t_chars").isNull, lit("insert"))
          .when(col("s_chars").isNull, lit("carry"))
          .when(col("s_chars") =!= col("t_chars"), lit("update"))
          .otherwise(lit("noop")).as("action"))

  /** Declared upsert over `documents`: the even-id half of the corpus
    * is the ingested store, every third document arrives in today's
    * feed (doc_id%12==0 rows re-scored, +7 chars — so the matched set
    * splits into genuine updates and no-ops), odd multiples of 3 are
    * brand-new. Deterministic key routing, all four merge actions
    * exercised on the real corpus. */
  def mergeUpsert(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    val tgt = docs.where(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val src = docs.where(col("doc_id") % 3 === 0)
      .select(col("doc_id"), col("lang"),
        (col("n_chars") +
          when(col("doc_id") % 12 === 0, lit(7L)).otherwise(lit(0L))).as("n_chars"))
    mergeUpsertOn(tgt, src).orderBy("doc_id")
  }

  def mergeUpsertSql: String =
    """WITH tgt AS (
      |  SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 2 = 0),
      |src AS (
      |  SELECT doc_id, lang,
      |    n_chars + CASE WHEN doc_id % 12 = 0 THEN 7 ELSE 0 END AS n_chars
      |  FROM documents WHERE doc_id % 3 = 0)
      |SELECT COALESCE(t.doc_id, s.doc_id) AS doc_id,
      |  COALESCE(s.lang, t.lang) AS lang,
      |  CAST(COALESCE(s.n_chars, t.n_chars) AS BIGINT) AS n_chars,
      |  CASE WHEN t.doc_id IS NULL THEN 'insert'
      |       WHEN s.doc_id IS NULL THEN 'carry'
      |       WHEN s.n_chars <> t.n_chars THEN 'update'
      |       ELSE 'noop' END AS action
      |FROM tgt t FULL OUTER JOIN src s ON t.doc_id = s.doc_id
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // emb_centroid: per-label embedding centroids
  // ---------------------------------------------------------------

  /** Per-label embedding centroid statistics: element-wise mean vector
    * per label, reported as (vector count, centroid L2 norm). The
    * explode→(label, dim) partial-agg shape is the distributed way to
    * average vectors: map-side partial sums per dimension, one
    * shuffle keyed by (label, dim) — never a collect, never a
    * per-label array fold on one node. Exact cross-engine numerics
    * via decimal-summed means ([[OpsUtil.dsum]] rationale). */
  def embCentroid(spark: SparkSession, d: String): DataFrame = {
    val ex = Tables.embeddings(spark, d)
      .select(col("label"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x")))
    val per = ex.groupBy(col("label"), col("dim"))
      .agg(davg(col("x")).as("m"), count(lit(1)).as("cnt"))
    per.groupBy(col("label"))
      .agg(max(col("cnt")).as("n_vecs"),
        round(sqrt(sum((col("m") * col("m")).cast("decimal(28,12)")).cast("double")), 9)
          .as("centroid_norm"))
      .orderBy("label")
  }

  def embCentroidSql: String =
    s"""WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |ex AS (
       |  SELECT label, unnest(range(0, len(v))) AS dim, unnest(v) AS x FROM e),
       |per AS (
       |  SELECT label, dim,
       |    CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / COUNT(x) AS m,
       |    COUNT(*) AS cnt
       |  FROM ex GROUP BY label, dim)
       |SELECT label, MAX(cnt) AS n_vecs,
       |  round(sqrt(CAST(SUM(CAST(m * m AS DECIMAL(28,12))) AS DOUBLE)), 9) AS centroid_norm
       |FROM per GROUP BY label ORDER BY label""".stripMargin

  /** Per-dimension normalization parameters (mean, stddev) — the
    * standardization stats a feature-scaling pass fits before
    * training, companion to [[embCentroid]]'s per-label means: same
    * posexplode → (dim) partial-aggregate shape (map-side partial
    * sums, one shuffle onto 64 keys, never a collect), moments as
    * exact decimal sums (x through DECIMAL(18,6), x² through
    * DECIMAL(28,12) — float inputs cast identically in both engines),
    * the float math once per dim on those exact inputs in a fixed
    * order, variance clamped at 0 before sqrt (rounding can push an
    * all-equal dim's s2/n − mean² a few ulps negative). */
  def embNormParams(spark: SparkSession, d: String): DataFrame = {
    val ex = Tables.embeddings(spark, d)
      .select(posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x")))
    ex.groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        davg(col("x")).as("m"),
        sum((col("x") * col("x")).cast("decimal(28,12)")).cast("double").as("s2"))
      .select(col("dim"), col("n"),
        round(col("m"), 9).as("mean"),
        round(sqrt(greatest(lit(0.0),
          col("s2") / col("n") - col("m") * col("m"))), 9).as("stddev"))
      .orderBy("dim")
  }

  def embNormParamsSql: String =
    """WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |ex AS (SELECT unnest(range(0, len(v))) AS dim, unnest(v) AS x FROM e),
      |per AS (
      |  SELECT dim, COUNT(*) AS n,
      |    CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / COUNT(x) AS m,
      |    CAST(SUM(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE) AS s2
      |  FROM ex GROUP BY dim)
      |SELECT dim, n, round(m, 9) AS mean,
      |  round(sqrt(greatest(0.0, s2 / n - m * m)), 9) AS stddev
      |FROM per ORDER BY dim""".stripMargin

  /** Hard-example mining: the 3 vectors FARTHEST from their own
    * label's centroid, per label — the embedding-quality audit that
    * surfaces mislabeled/outlier training examples for re-annotation.
    * Scale shape: centroids come from the same (label, dim) partial
    * aggregation as [[embCentroid]] (decimal-exact, one fact
    * shuffle), the |labels|-row centroid table broadcasts, the
    * per-vector distance is one codegen'd dot, and the top-3 window
    * runs per label — never a global sort. Squared distance is kept
    * (no sqrt): monotone for ranking and one fewer float op to
    * mirror. */
  def embHardExamples(spark: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(spark, d)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
    val per = e.select(col("label"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim"))
      .agg(davg(col("x")).as("m"))
    val cents = per.groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
        s => s.getField("m")).as("c"))
    val scored = e.join(broadcast(cents), Seq("label"))
      .select(col("label"), col("vec_id"),
        round((norm2(col("v")) - lit(2.0) * dotd(col("v"), col("c")))
          + norm2(col("c")), 9).as("dist2"))
    topK(scored, Seq(col("label")), Seq(col("dist2").desc, col("vec_id")), 3, "rank")
      .select(col("label"), col("rank"), col("vec_id"), col("dist2"))
      .orderBy("label", "rank")
  }

  def embHardExamplesSql: String =
    s"""WITH e AS (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |ex AS (
      |  SELECT label, unnest(range(0, len(v))) AS dim, unnest(v) AS x FROM e),
      |per AS (
      |  SELECT label, dim,
      |    CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / COUNT(x) AS m
      |  FROM ex GROUP BY label, dim),
      |cents AS (SELECT label, list(m ORDER BY dim) AS c FROM per GROUP BY label),
      |scored AS (
      |  SELECT e.label, e.vec_id,
      |    round((list_sum(list_transform(e.v, x -> x*x))
      |      - 2.0 * list_sum(list_transform(range(1, len(e.v) + 1),
      |          i -> e.v[i] * c.c[i])))
      |      + list_sum(list_transform(c.c, x -> x*x)), 9) AS dist2
      |  FROM e JOIN cents c USING (label))
      |SELECT label, rank, vec_id, dist2
      |FROM (${topKSql("scored", "label", "dist2 DESC, vec_id", 3, "rank")})
      |ORDER BY label, rank""".stripMargin

  // ---------------------------------------------------------------
  // shard_manifest: training-shard layout planning
  // ---------------------------------------------------------------

  private val NShards = 16

  /** Training-shard layout manifest: deterministic id-hash shard
    * assignment (shard = xhash60(doc_id) mod [[NShards]] — stable
    * under re-runs, re-partitioning and engine choice; the same
    * engine-independent-routing rationale as
    * [[graft.ops.DedupOps.sampleHash]], keyed by id so a re-ingested
    * near-duplicate lands in a new shard's slot, not its twin's) with
    * per-shard volume
    * stats: doc/token/byte counts, distinct sources, and each shard's
    * document fraction. This is the plan a shard WRITER executes
    * (`df.repartition(NShards, shardExpr).write...`); emitting the
    * manifest instead of files keeps it oracle-checkable, and the
    * near-uniform `frac_docs` column IS the balance evidence — a
    * skewed shard here means a straggler executor at write time.
    *
    * One partial-aggregated shuffle to [[NShards]] rows; the fraction
    * normalizes via an unpartitioned window over that 16-row
    * aggregate ([[graft.ops.CurationOps.mixWeights]] precedent). At
    * 100 TB NShards scales to O(10k) and nothing changes shape —
    * distinct-source counting is the only two-phase piece and it
    * partial-aggregates on (shard, source) first. */
  def shardManifest(spark: SparkSession, d: String): DataFrame = {
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.documents(spark, d)
      .select(col("source"), col("n_chars"),
        size(tokens(col("text"))).as("n_tok"),
        (xhash60(col("doc_id").cast("string"), 53) % NShards).as("shard_id"))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        sum(col("n_chars")).as("n_bytes"),
        countDistinct(col("source")).as("n_sources"))
      .withColumn("frac_docs",
        round(col("n_docs").cast("double") / sum(col("n_docs")).over(wAll), 9))
      .orderBy("shard_id")
  }

  def shardManifestSql: String =
    s"""WITH per AS (
       |  SELECT ${xhash60Sql("CAST(doc_id AS VARCHAR)", 53)} % $NShards AS shard_id,
       |    source, n_chars, len(${tokensSql("text")}) AS n_tok
       |  FROM documents),
       |agg AS (
       |  SELECT shard_id, count(*) AS n_docs,
       |    CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |    CAST(sum(n_chars) AS BIGINT) AS n_bytes,
       |    count(DISTINCT source) AS n_sources
       |  FROM per GROUP BY shard_id)
       |SELECT shard_id, n_docs, n_tokens, n_bytes, n_sources,
       |  round(CAST(n_docs AS DOUBLE) / (SELECT sum(n_docs) FROM agg), 9) AS frac_docs
       |FROM agg ORDER BY shard_id""".stripMargin
}
