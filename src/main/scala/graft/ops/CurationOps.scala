package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.OpsUtil._

/** Corpus-curation operators — the remaining stages of a web-scale
  * training-data pipeline that sit alongside dedup/quality filtering
  * (north-star extensions; SURVEY.md §2.3 EXT):
  *
  *  - [[dedupSpan]]: C4-style duplicated-span detection — flag spans
  *    of tokens that occur more than once anywhere in the corpus and
  *    score each document by its duplicated-span fraction.
  *  - [[mixWeights]]: temperature-scaled source mixing — per-source
  *    sampling weights ∝ (token count)^(1/T), the standard recipe for
  *    balancing dominant vs rare sources in a training mix.
  *  - [[scoreDsir]]: DSIR-style importance scores — hashed n-gram
  *    log-likelihood ratio of a target distribution vs the corpus
  *    distribution, averaged per document.
  *
  * Scale stance: span dedup is one hash-only shuffle (span hashes,
  * never text bytes) plus an equi-join back — linear, same family as
  * exact dedup. Mixing weights aggregate to |sources| rows. DSIR uses
  * a FIXED 1024-bucket hashed feature space, so the fitted
  * distribution table is ≤1024 rows and BROADCAST at any corpus scale
  * — the corpus streams twice (fit pass + score pass), exactly the
  * two passes the original DSIR recipe makes over raw text.
  *
  * All hashes are the cross-engine [[OpsUtil.xhash60]]; doubles are
  * summed through DECIMAL after rounding (single-`ln` rounding to 6
  * decimals absorbs libm differences — the topBigramsPmi precedent).
  */
object CurationOps {

  // ---------------------------------------------------------------
  // dedup_span: C4-style duplicated-span scoring
  // ---------------------------------------------------------------

  private val SpanW = 8

  /** (doc_id, span_hash) for consecutive non-overlapping [[SpanW]]-token
    * spans (trailing partial span included — a duplicated tail is
    * still a duplicated span). explode_outer + isNotNull: the
    * inferred non-empty filter a plain explode generates would be
    * pushed below the projection and re-tokenize the corpus
    * (the PlanSpec recompute trap). */
  private def spanPlan(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"), col("tk"),
        when(size(col("tk")) > 0,
          sequence(lit(0L), floor((size(col("tk")) - lit(1)) / lit(SpanW))))
          .otherwise(array().cast("array<bigint>")).as("ix"))
      .select(col("doc_id"), col("tk"), explode_outer(col("ix")).as("span_idx"))
      .where(col("span_idx").isNotNull)
      .select(col("doc_id"),
        xhash60(concat_ws(" ",
          slice(col("tk"), (col("span_idx") * SpanW + 1).cast("int"), lit(SpanW))), 31)
          .as("sh"))

  /** C4-style span dedup: a span is "duplicated" if its hash occurs
    * more than once ANYWHERE in the corpus; each document is scored by
    * its duplicated-span fraction (C4 removes such spans — this emits
    * the removal manifest). Spans are computed once
    * (lazy localCheckpoint) and shared by the global duplicate-hash
    * aggregation and the per-document join back, so the corpus is
    * tokenized exactly once per run. The shuffle carries (doc_id,
    * 60-bit hash) only — never span text. */
  def dedupSpan(spark: SparkSession, d: String): DataFrame = {
    val spans = spanPlan(spark, d).localCheckpoint(false)
    val dup = spans.groupBy(col("sh")).agg(count(lit(1)).as("n"))
      .where(col("n") > 1)
      .select(col("sh"), lit(1).as("is_dup"))
    spans.join(dup, Seq("sh"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"), count(col("is_dup")).as("n_dup_spans"))
      .select(col("doc_id"), col("n_spans"), col("n_dup_spans"),
        round(col("n_dup_spans").cast("double") / col("n_spans"), 9).as("dup_span_frac"))
      .orderBy("doc_id")
  }

  def dedupSpanSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, ${tokensSql("text")} AS tk FROM documents),
       |spans AS (
       |  SELECT doc_id, ${xhash60Sql(
             s"array_to_string(tk[(span_idx * $SpanW + 1):(span_idx * $SpanW + $SpanW)], ' ')", 31)} AS sh
       |  FROM (
       |    SELECT doc_id, tk, unnest(range(((len(tk) - 1) // $SpanW) + 1)) AS span_idx
       |    FROM toks WHERE len(tk) > 0)),
       |dup AS (SELECT sh FROM spans GROUP BY sh HAVING count(*) > 1)
       |SELECT s.doc_id, count(*) AS n_spans,
       |  count(d.sh) AS n_dup_spans,
       |  round(CAST(count(d.sh) AS DOUBLE) / count(*), 9) AS dup_span_frac
       |FROM spans s LEFT JOIN dup d ON s.sh = d.sh
       |GROUP BY s.doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // mix_weights: temperature-scaled source mixing
  // ---------------------------------------------------------------

  private val MixBudget = 1000000L // token budget to allocate

  /** Temperature-scaled source mixing: per-source sampling weight
    * ∝ (token count)^(1/T) with T=2 (i.e. sqrt), normalized — the
    * standard up-weight-the-tail recipe for multi-source training
    * mixes — plus each source's token allocation under a fixed
    * budget. One partial-aggregated shuffle to |sources| rows; the
    * normalizing total is an UNPARTITIONED window over that tiny
    * aggregate — a deliberate single-partition step over |sources|
    * rows (sources number in the hundreds at worst; a cross-joined
    * 1-row aggregate à la topBigramsPmi would instead re-scan the
    * corpus for the total branch). sqrt is IEEE-correctly-rounded in
    * both engines; the rounded sqrts are summed through DECIMAL so
    * normalization is order-independent. */
  def mixWeights(spark: SparkSession, d: String): DataFrame = {
    val per = Tables.documents(spark, d)
      .select(col("source"), size(tokens(col("text"))).as("n"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(sqrt(col("n_tokens").cast("double")), 9).as("w_raw"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    per.withColumn("w_total",
        sum(col("w_raw").cast("decimal(28,9)")).over(wAll).cast("double"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("w_raw") / col("w_total"), 9).as("weight"),
        floor(round(col("w_raw") / col("w_total"), 9) * MixBudget).cast("bigint")
          .as("alloc_tokens"))
      .orderBy("source")
  }

  def mixWeightsSql: String =
    s"""WITH per AS (
       |  SELECT source, count(*) AS n_docs,
       |    CAST(sum(len(${tokensSql("text")})) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY source),
       |w AS (SELECT source, n_docs, n_tokens,
       |    round(sqrt(CAST(n_tokens AS DOUBLE)), 9) AS w_raw FROM per),
       |n AS (SELECT CAST(SUM(CAST(w_raw AS DECIMAL(28,9))) AS DOUBLE) AS w_total FROM w)
       |SELECT source, n_docs, n_tokens,
       |  round(w_raw / w_total, 9) AS weight,
       |  CAST(floor(round(w_raw / w_total, 9) * $MixBudget) AS BIGINT) AS alloc_tokens
       |FROM w, n ORDER BY source""".stripMargin

  // ---------------------------------------------------------------
  // score_dsir: hashed-feature importance scores
  // ---------------------------------------------------------------

  private val DsirB = 1024        // hashed feature buckets (fixed)
  private val TargetLang = "en"   // stand-in target distribution

  /** (doc_id, lang, bucket) token stream — every token hashed into one
    * of [[DsirB]] buckets. */
  private def dsirTokens(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("tk"))
      .select(col("doc_id"), col("lang"), explode_outer(col("tk")).as("tok"))
      .where(col("tok").isNotNull)
      .select(col("doc_id"), col("lang"),
        (xhash60(col("tok"), 37) % DsirB).as("bucket"))

  /** DSIR-style importance scoring: fit unigram distributions over a
    * FIXED [[DsirB]]-bucket hashed feature space for the target
    * (lang = [[TargetLang]], a stand-in for "looks like my target
    * domain") and the whole corpus, then score each document by its
    * mean per-token log-likelihood ratio (add-1 smoothed).
    *
    * Two corpus passes, exactly like the original DSIR recipe: the
    * fit pass aggregates to ≤[[DsirB]] rows (map-side partials, one
    * tiny shuffle, totals via a window over that tiny table), the
    * score pass joins the token stream against the BROADCAST fitted
    * table — no corpus-side shuffle until the per-document mean. The feature table is constant-size at ANY
    * corpus scale, which is the whole point of hashed features.
    * Each bucket's `ln` is rounded to 6 decimals (libm absorption),
    * then per-doc sums go through DECIMAL (order-independent). */
  def scoreDsir(spark: SparkSession, d: String): DataFrame = {
    val tok = dsirTokens(spark, d)
    // grand totals via an UNPARTITIONED window over the ≤DsirB-row
    // fitted table (not a cross-joined 1-row aggregate, which would
    // re-derive `feat` — and re-scan the corpus — for the total branch)
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val feat = tok.groupBy(col("bucket"))
      .agg(count(lit(1)).as("cs"),
        count(when(col("lang") === TargetLang, 1)).as("ct"))
      .withColumn("ns", sum(col("cs")).over(wAll))
      .withColumn("nt", sum(col("ct")).over(wAll))
    val llr = feat
      .select(col("bucket"),
        // counts cast to double BEFORE multiplying: BIGINT*BIGINT
        // overflows at 100 TB-scale token counts (the PMI precedent)
        round(log((col("ct") + 1).cast("double") * (col("ns") + DsirB) /
          ((col("cs") + 1).cast("double") * (col("nt") + DsirB))), 6).as("llr"))
    tok.join(broadcast(llr), Seq("bucket"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(col("llr").cast("decimal(18,6)")).cast("double") / count(lit(1)), 9)
          .as("dsir_score"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------
  // curate_pipeline: composed dedup → quality → sample funnel
  // ---------------------------------------------------------------

  /** End-to-end curation funnel — the operators composed the way a
    * real corpus-curation run chains them: exact dedup (keep the
    * lowest doc_id per content hash) → quality gate (Gopher-lite
    * length + mean-word-length rules) → 10% reproducible hash sample.
    * Emits one row per stage with surviving doc/token counts — the
    * funnel report every curation run ships with.
    *
    * Scale shape: ONE corpus pass computes all per-doc flags (the
    * only shuffle is the content-hash window for the dedup
    * representative), one partial-aggregated reduction produces the
    * stage counters, and `stack` unpivots the 1-row aggregate into
    * the 4-row funnel — no per-stage re-scan, which is exactly how
    * you'd instrument a 100 TB curation job (flags once, conditional
    * aggregation, never N passes for N stages). */
  def curatePipeline(spark: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("h")).orderBy(col("doc_id"))
    val flags = Tables.documents(spark, d)
      .select(col("doc_id"), tokens(col("text")).as("tk"),
        xhash60(col("text"), 31).as("h"),
        (xhash60(col("text"), 97) % 10).as("s10"))
      .select(col("doc_id"), col("h"), col("s10"), size(col("tk")).as("n_tok"),
        when(size(col("tk")) > 0,
          round(length(concat_ws("", col("tk"))).cast("double") / size(col("tk")), 9))
          .otherwise(lit(0.0)).as("mwl"))
      .withColumn("is_rep", row_number().over(w) === 1)
      .withColumn("is_q",
        col("is_rep") && col("n_tok") >= 5 && col("mwl") <= 10.0)
      .withColumn("is_s", col("is_q") && col("s10") === 0)
    flags.agg(
        count(lit(1)).as("in_docs"), sum(col("n_tok")).as("in_toks"),
        count(when(col("is_rep"), 1)).as("dd_docs"),
        sum(when(col("is_rep"), col("n_tok")).otherwise(0)).as("dd_toks"),
        count(when(col("is_q"), 1)).as("q_docs"),
        sum(when(col("is_q"), col("n_tok")).otherwise(0)).as("q_toks"),
        count(when(col("is_s"), 1)).as("s_docs"),
        sum(when(col("is_s"), col("n_tok")).otherwise(0)).as("s_toks"))
      .selectExpr("""stack(4,
          0, 'ingest',  in_docs, in_toks,
          1, 'dedup',   dd_docs, dd_toks,
          2, 'quality', q_docs,  q_toks,
          3, 'sample',  s_docs,  s_toks) AS (ord, stage, n_docs, n_tokens)""")
      .orderBy("ord")
  }

  def curatePipelineSql: String =
    s"""WITH f0 AS (
       |  SELECT doc_id, ${tokensSql("text")} AS tk,
       |    ${xhash60Sql("text", 31)} AS h,
       |    ${xhash60Sql("text", 97)} % 10 AS s10
       |  FROM documents),
       |f AS (
       |  SELECT len(tk) AS n_tok,
       |    row_number() OVER (PARTITION BY h ORDER BY doc_id) = 1 AS is_rep,
       |    CASE WHEN len(tk) > 0 THEN
       |      round(CAST(length(array_to_string(tk, '')) AS DOUBLE) / len(tk), 9)
       |      ELSE 0.0 END AS mwl,
       |    s10
       |  FROM f0),
       |fl AS (
       |  SELECT n_tok, is_rep,
       |    (is_rep AND n_tok >= 5 AND mwl <= 10.0) AS is_q,
       |    (is_rep AND n_tok >= 5 AND mwl <= 10.0 AND s10 = 0) AS is_s
       |  FROM f),
       |g AS (
       |  SELECT count(*) AS in_docs, CAST(sum(n_tok) AS BIGINT) AS in_toks,
       |    count(CASE WHEN is_rep THEN 1 END) AS dd_docs,
       |    CAST(sum(CASE WHEN is_rep THEN n_tok ELSE 0 END) AS BIGINT) AS dd_toks,
       |    count(CASE WHEN is_q THEN 1 END) AS q_docs,
       |    CAST(sum(CASE WHEN is_q THEN n_tok ELSE 0 END) AS BIGINT) AS q_toks,
       |    count(CASE WHEN is_s THEN 1 END) AS s_docs,
       |    CAST(sum(CASE WHEN is_s THEN n_tok ELSE 0 END) AS BIGINT) AS s_toks
       |  FROM fl)
       |SELECT * FROM (
       |  SELECT 0 AS ord, 'ingest' AS stage, in_docs AS n_docs, in_toks AS n_tokens FROM g
       |  UNION ALL SELECT 1, 'dedup', dd_docs, dd_toks FROM g
       |  UNION ALL SELECT 2, 'quality', q_docs, q_toks FROM g
       |  UNION ALL SELECT 3, 'sample', s_docs, s_toks FROM g)
       |ORDER BY ord""".stripMargin

  // ---------------------------------------------------------------
  // score_perplexity: hashed-unigram LM log-perplexity
  // ---------------------------------------------------------------

  /** CCNet-style language-model quality scoring: fit an add-1-smoothed
    * unigram LM over the SAME fixed [[DsirB]]-bucket hashed feature
    * space as [[scoreDsir]], then score each document by its mean
    * per-token negative log-probability (= log-perplexity; CCNet
    * buckets documents into head/middle/tail on exactly this number).
    * Where DSIR is a *ratio* (target vs corpus), this is the absolute
    * corpus-LM fit — the two standard importance/quality signals.
    *
    * Same two-pass shape as DSIR: the fit aggregates to ≤[[DsirB]]
    * rows (map-side partials, one tiny shuffle, grand total via an
    * unpartitioned window over that tiny table), the score pass joins
    * the token stream against the BROADCAST fitted table. Constant-
    * size model at any corpus scale. Each bucket's single `ln` is
    * rounded to 6 decimals (libm absorption); per-doc sums go through
    * DECIMAL so the mean is order-independent. */
  def scorePerplexity(spark: SparkSession, d: String): DataFrame = {
    val tok = dsirTokens(spark, d)
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val nll = tok.groupBy(col("bucket"))
      .agg(count(lit(1)).as("c"))
      .withColumn("n", sum(col("c")).over(wAll))
      // -ln p = ln((N + B) / (c + 1)); counts cast to double BEFORE
      // the divide (BIGINT totals at 100 TB scale)
      .select(col("bucket"),
        round(log((col("n") + DsirB).cast("double") / (col("c") + 1)), 6).as("nll"))
    tok.join(broadcast(nll), Seq("bucket"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(col("nll").cast("decimal(18,6)")).cast("double") / count(lit(1)), 9)
          .as("log_ppl"))
      .orderBy("doc_id")
  }

  def scorePerplexitySql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, lang, ${xhash60Sql("tok", 37)} % $DsirB AS bucket
       |  FROM (
       |    SELECT doc_id, lang, unnest(${tokensSql("text")}) AS tok FROM documents)),
       |feat AS (SELECT bucket, count(*) AS c FROM tok GROUP BY bucket),
       |totals AS (SELECT sum(c) AS n FROM feat),
       |nll AS (
       |  SELECT bucket,
       |    round(ln(CAST(n + $DsirB AS DOUBLE) / (c + 1)), 6) AS nll
       |  FROM feat, totals)
       |SELECT t.doc_id, t.lang, count(*) AS n_tokens,
       |  round(CAST(SUM(CAST(l.nll AS DECIMAL(18,6))) AS DOUBLE) / count(*), 9)
       |    AS log_ppl
       |FROM tok t JOIN nll l ON t.bucket = l.bucket
       |GROUP BY t.doc_id, t.lang ORDER BY doc_id""".stripMargin

  /** Quality cut for the kappa agreement study (fixed, not a corpus
    * quantile — the two signals must be independent of each other's
    * distribution for the agreement to mean anything). */
  private val KappaQualityCut = 0.6

  /** Inter-filter agreement (Cohen's κ) between the two quality
    * signals the pipeline already computes — the heuristic composite
    * ([[graft.ops.TextAnalysisOps.qualityScore]] ≥ [[KappaQualityCut]])
    * and the Gopher rule gate ([[graft.ops.TextAnalysisOps.gopherRules]]
    * `keep`) — the calibration table a curation owner reads before
    * trusting either filter alone: raw agreement says how often they
    * co-vote, κ subtracts the agreement two coin-flips with these
    * marginals would get for free. Chance-corrected agreement is the
    * standard duplicate-labeler diagnostic, and both inputs are
    * already-gated declared plans, so this is pure composition: one
    * doc_id equi-join and a single 2×2 conditional aggregate. The
    * four cell counts are exact BIGINTs; p_o/p_e/κ are identical
    * double expressions in both engines (each marginal ratio divides
    * before multiplying, so nothing overflows at any corpus size),
    * rounded 9; a degenerate table (p_e = 1) yields NULL κ in both. */
  def filterKappa(spark: SparkSession, d: String): DataFrame = {
    val a = TextAnalysisOps.qualityScore(spark, d)
      .select(col("doc_id"), (col("quality") >= KappaQualityCut).as("a"))
    val b = TextAnalysisOps.gopherRules(spark, d)
      .select(col("doc_id"), col("keep").as("b"))
    val cells = a.join(b, Seq("doc_id"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("a") && col("b"), 1L).otherwise(0L)).as("n11"),
        sum(when(col("a") && !col("b"), 1L).otherwise(0L)).as("n10"),
        sum(when(!col("a") && col("b"), 1L).otherwise(0L)).as("n01"),
        sum(when(!col("a") && !col("b"), 1L).otherwise(0L)).as("n00"))
    val nD = col("n").cast("double")
    val po = (col("n11") + col("n00")).cast("double") / nD
    val pe = ((col("n11") + col("n10")).cast("double") / nD) *
        ((col("n11") + col("n01")).cast("double") / nD) +
      ((col("n01") + col("n00")).cast("double") / nD) *
        ((col("n10") + col("n00")).cast("double") / nD)
    cells.select(col("n").as("n_docs"),
      col("n11"), col("n10"), col("n01"), col("n00"),
      round(po, 9).as("agreement"),
      when(lit(1.0) - pe === 0, lit(null).cast("double"))
        .otherwise(round((po - pe) / (lit(1.0) - pe), 9)).as("kappa"))
  }

  def filterKappaSql: String = {
    val qualityKeep =
      s"""SELECT doc_id, quality >= $KappaQualityCut AS a
         |FROM (${TextAnalysisOps.qualityScoreSql})""".stripMargin
    val gopherKeep =
      s"""SELECT doc_id, keep AS b FROM (${TextAnalysisOps.gopherRulesSql})"""
    s"""WITH qa AS ($qualityKeep),
       |gb AS ($gopherKeep),
       |cells AS (
       |  SELECT COUNT(*) AS n,
       |    SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS n11,
       |    SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS n10,
       |    SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS n01,
       |    SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS n00
       |  FROM qa JOIN gb USING (doc_id))
       |SELECT CAST(n AS BIGINT) AS n_docs,
       |  CAST(n11 AS BIGINT) AS n11, CAST(n10 AS BIGINT) AS n10,
       |  CAST(n01 AS BIGINT) AS n01, CAST(n00 AS BIGINT) AS n00,
       |  round(CAST(n11 + n00 AS DOUBLE) / n, 9) AS agreement,
       |  CASE WHEN 1.0 - (
       |      (CAST(n11 + n10 AS DOUBLE) / n) * (CAST(n11 + n01 AS DOUBLE) / n)
       |    + (CAST(n01 + n00 AS DOUBLE) / n) * (CAST(n10 + n00 AS DOUBLE) / n)) = 0
       |    THEN CAST(NULL AS DOUBLE)
       |    ELSE round((CAST(n11 + n00 AS DOUBLE) / n - (
       |      (CAST(n11 + n10 AS DOUBLE) / n) * (CAST(n11 + n01 AS DOUBLE) / n)
       |    + (CAST(n01 + n00 AS DOUBLE) / n) * (CAST(n10 + n00 AS DOUBLE) / n)))
       |    / (1.0 - (
       |      (CAST(n11 + n10 AS DOUBLE) / n) * (CAST(n11 + n01 AS DOUBLE) / n)
       |    + (CAST(n01 + n00 AS DOUBLE) / n) * (CAST(n10 + n00 AS DOUBLE) / n))), 9)
       |  END AS kappa
       |FROM cells""".stripMargin
  }

  def scoreDsirSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, lang, ${xhash60Sql("tok", 37)} % $DsirB AS bucket
       |  FROM (
       |    SELECT doc_id, lang, unnest(${tokensSql("text")}) AS tok FROM documents)),
       |feat AS (
       |  SELECT bucket, count(*) AS cs,
       |    count(CASE WHEN lang = '$TargetLang' THEN 1 END) AS ct
       |  FROM tok GROUP BY bucket),
       |totals AS (SELECT sum(cs) AS ns, sum(ct) AS nt FROM feat),
       |llr AS (
       |  SELECT bucket,
       |    round(ln(CAST(ct + 1 AS DOUBLE) * (ns + $DsirB)
       |      / (CAST(cs + 1 AS DOUBLE) * (nt + $DsirB))), 6) AS llr
       |  FROM feat, totals)
       |SELECT t.doc_id, t.lang, count(*) AS n_tokens,
       |  round(CAST(SUM(CAST(l.llr AS DECIMAL(18,6))) AS DOUBLE) / count(*), 9)
       |    AS dsir_score
       |FROM tok t JOIN llr l ON t.bucket = l.bucket
       |GROUP BY t.doc_id, t.lang ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // score_ppl_kn: interpolated Kneser–Ney bigram log-perplexity
  // ---------------------------------------------------------------

  /** The KN absolute discount (Chen & Goodman's fixed-D variant). */
  private val KnD = 0.75

  /** Declared query `score_ppl_kn`: interpolated KNESER–NEY bigram
    * log-perplexity per document — the published best practice for
    * n-gram curation scoring (Chen & Goodman 1998; the smoothing
    * KenLM defaults to), and the real-LM upgrade over the two
    * existing scorers: `score_ppl` is a hashed UNIGRAM model and
    * `text_bigram_lm` is add-1 smoothing, which systematically
    * over-penalizes unseen-but-plausible bigrams. KN's insight is the
    * CONTINUATION count: the backoff weight of a word is how many
    * distinct contexts it follows, not how often it occurs —
    *   P(w2|w1) = max(c(w1w2) − D, 0)/c(w1)
    *            + D·N1+(w1·)/c(w1) · N1+(·w2)/|bigram types|.
    * Every term is a plain aggregate: bigram counts, history counts,
    * distinct-follower and distinct-context counts, one global
    * bigram-type total — so both engines replay the model exactly
    * (per-bigram log rounded to 6 decimals, decimal-summed per doc,
    * the bigramLm float recipe).
    *
    * Scale shape: one corpus tokenize, bigram/unigram-keyed count
    * shuffles (linear, map-side combined), a 1-row type total
    * broadcast, and a doc-keyed average. Never a per-pair or
    * per-vocab² stage. */
  def scorePplKn(spark: SparkSession, d: String): DataFrame = {
    val tok = Tables.documents(spark, d)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
    val bg = tok.where(size(col("tk")) >= 2)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("tk")) - 1),
        i => struct(element_at(col("tk"), i).as("w1"),
          element_at(col("tk"), i + 1).as("w2")))).as("t"))
      .select(col("doc_id"), col("t.w1").as("w1"), col("t.w2").as("w2"))
      .localCheckpoint(false) // one bigram explode feeds model AND scoring
    val cb = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val cu = cb.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1f")) // N1+(w1·)
    val cw = cb.groupBy(col("w2")).agg(count(lit(1)).as("n1b")) // N1+(·w2)
    val bt = cb.agg(count(lit(1)).as("bt")) // |distinct bigrams|
    val model = cb.join(cu, Seq("w1")).join(cw, Seq("w2"))
      .crossJoin(broadcast(bt))
      .select(col("w1"), col("w2"),
        round(log(
          greatest(col("c12") - lit(KnD), lit(0.0)) / col("c1") +
            lit(KnD) * col("n1f") / col("c1") * col("n1b") / col("bt")), 6)
          .as("lp"))
    bg.join(model, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(-sum(col("lp").cast("decimal(18,9)")).cast("double") /
          count(lit(1)), 6).as("kn_logppl"))
      .orderBy(col("doc_id"))
  }

  def scorePplKnSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, ${tokensSql("text")} AS tk FROM documents),
       |bg AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(1, len(tk)), i -> tk[i])) AS w1,
       |    unnest(list_transform(range(1, len(tk)), i -> tk[i+1])) AS w2
       |  FROM tok WHERE len(tk) >= 2),
       |cb AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2),
       |cu AS (SELECT w1, SUM(c12) AS c1, COUNT(*) AS n1f FROM cb GROUP BY 1),
       |cw AS (SELECT w2, COUNT(*) AS n1b FROM cb GROUP BY 1),
       |bt AS (SELECT COUNT(*) AS bt FROM cb),
       |model AS (
       |  SELECT cb.w1, cb.w2,
       |    round(ln(greatest(cb.c12 - $KnD, 0.0) / cu.c1
       |      + $KnD * cu.n1f / cu.c1 * cw.n1b / bt.bt), 6) AS lp
       |  FROM cb JOIN cu USING (w1) JOIN cw USING (w2), bt)
       |SELECT bg.doc_id, COUNT(*) AS n_bigrams,
       |  round(-CAST(SUM(CAST(m.lp AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6)
       |    AS kn_logppl
       |FROM bg JOIN model m ON bg.w1 = m.w1 AND bg.w2 = m.w2
       |GROUP BY bg.doc_id ORDER BY bg.doc_id""".stripMargin

  // ---------------------------------------------------------------
  // score_nb: multinomial Naive Bayes domain classifier
  // ---------------------------------------------------------------

  private val NbB = 1024       // hashed feature buckets (fixed)
  private val NbHoldMod = 5    // doc_id % 5 == 0 → held-out fold

  /** Declared query `score_nb`: a MULTINOMIAL NAIVE BAYES domain
    * classifier trained and evaluated corpus-side — the fastText-
    * style "quality/domain classifier" every published curation
    * pipeline (CCNet, LLaMA, RedPajama) trains to route documents,
    * here with `source` as the label. Deterministic 80/20 fold on
    * `doc_id % 5`; training fits per-class token counts over the
    * FIXED [[NbB]]-bucket hashed feature space (the DSIR space, new
    * salt); the held-out fold is scored with add-1 smoothing:
    *   loglik(c | doc) = ln P(c) + Σ_tok ln (n[c,bucket]+1)/(n[c]+B)
    * and the prediction is the argmax (ties → lexicographically
    * smallest class, pinned by the row_number ordering in BOTH
    * engines). Output: the held-out confusion matrix with per-cell
    * mean log-likelihood — the eval artifact a classifier gate ships.
    *
    * Replayability: per-token and prior logs are rounded to 6
    * decimals then summed as DECIMAL (order-independent, exact), so
    * the argmax compares identical exact numerics in both engines;
    * the only double division is the final per-cell mean
    * (half-boundary-safe floor quantize, the evt_did recipe).
    *
    * Scale shape: the model is DENSE classes×[[NbB]] (built by cross
    * join against `spark.range(B)` so unseen buckets score their
    * smoothed floor instead of silently dropping) — constant-size at
    * any corpus scale, BROADCAST to both joins; the corpus streams
    * twice (fit pass with map-side combine onto ≤C·B rows, score
    * pass), and the only corpus-keyed shuffle is the per-(doc, class)
    * reduction. Never a vocabulary-sized state. */
  def scoreNb(spark: SparkSession, d: String): DataFrame = {
    // single-tokenize (r16 opt): `base` feeds THREE consumers (class
    // priors, token counts, held-out scoring). Un-checkpointed, each
    // consumer re-ran the tokenize regex over its slice of the corpus
    // — tokenization is the dominant CPU here, exactly the multiplied
    // corpus pass the dedup family already checkpoints away. Lazy
    // localCheckpoint: one materialized token table, three readers.
    // The filter sits ABOVE the checkpoint barrier: filtering on
    // size(tk) below it would let PushDownPredicates inline the
    // tokenize into the pushed Filter and run it twice per row (the
    // shingledOf recompute trap).
    val base = Tables.documents(spark, d)
      .select(col("doc_id"), col("source"), tokens(col("text")).as("tk"))
      .localCheckpoint(false)
      .where(size(col("tk")) > 0) // a token-less doc has no NB evidence
    val trainDocs = base.where(col("doc_id") % NbHoldMod =!= 0)
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val classes = trainDocs.groupBy(col("source").as("cls"))
      .agg(count(lit(1)).as("n_docs_c"))
    val priors = classes
      .withColumn("n_docs_tot", sum(col("n_docs_c")).over(wAll))
      .select(col("cls"),
        round(log(col("n_docs_c").cast("double") / col("n_docs_tot")), 6)
          .cast("decimal(18,6)").as("logprior"))
    val counts = trainDocs
      .select(col("source").as("cls"), explode(col("tk")).as("tok"))
      .select(col("cls"), (xhash60(col("tok"), 53) % NbB).as("bucket"))
      .groupBy(col("cls"), col("bucket")).agg(count(lit(1)).as("n_cb"))
    val ctot = counts.groupBy(col("cls")).agg(sum(col("n_cb")).as("n_c"))
    val model = ctot
      .crossJoin(spark.range(NbB).select(col("id").as("bucket")))
      .join(counts, Seq("cls", "bucket"), "left")
      .select(col("cls"), col("bucket"),
        round(log((coalesce(col("n_cb"), lit(0L)) + 1).cast("double") /
          (col("n_c") + NbB)), 6).cast("decimal(18,6)").as("logp"))
    val heldTok = base.where(col("doc_id") % NbHoldMod === 0)
      .select(col("doc_id"), col("source").as("actual"), explode(col("tk")).as("tok"))
      .select(col("doc_id"), col("actual"),
        (xhash60(col("tok"), 53) % NbB).as("bucket"))
    val scores = heldTok.join(broadcast(model), Seq("bucket"))
      .groupBy(col("doc_id"), col("actual"), col("cls"))
      .agg(sum(col("logp")).as("sum_logp"))
      .join(broadcast(priors), Seq("cls"))
      .select(col("doc_id"), col("actual"), col("cls"),
        (col("logprior") + col("sum_logp")).as("loglik"))
    topK(scores, Seq(col("doc_id")), Seq(col("loglik").desc, col("cls")), 1, "rn")
      .groupBy(col("actual"), col("cls"))
      .agg(count(lit(1)).as("n_docs"),
        (floor(sum(col("loglik")).cast("double") / count(lit(1)) * lit(1e9)
          + lit(0.5)) / lit(1e9)).as("avg_loglik"))
      .select(col("actual"), col("cls").as("predicted"), col("n_docs"),
        col("avg_loglik"))
      .orderBy("actual", "predicted")
  }

  def scoreNbSql: String =
    s"""WITH base AS (
       |  SELECT doc_id, source, ${tokensSql("text")} AS tk FROM documents
       |  WHERE len(${tokensSql("text")}) > 0),
       |train AS (SELECT * FROM base WHERE doc_id % $NbHoldMod <> 0),
       |classes AS (SELECT source AS cls, COUNT(*) AS n_docs_c
       |  FROM train GROUP BY source),
       |tot AS (SELECT SUM(n_docs_c) AS n_docs_tot FROM classes),
       |priors AS (SELECT cls,
       |    CAST(round(ln(CAST(n_docs_c AS DOUBLE) / n_docs_tot), 6)
       |      AS DECIMAL(18,6)) AS logprior
       |  FROM classes, tot),
       |counts AS (
       |  SELECT source AS cls, ${xhash60Sql("tok", 53)} % $NbB AS bucket,
       |    COUNT(*) AS n_cb
       |  FROM (SELECT source, unnest(tk) AS tok FROM train)
       |  GROUP BY 1, 2),
       |ctot AS (SELECT cls, SUM(n_cb) AS n_c FROM counts GROUP BY cls),
       |model AS (
       |  SELECT t.cls, b.range AS bucket,
       |    CAST(round(ln(CAST(COALESCE(n.n_cb, 0) + 1 AS DOUBLE)
       |      / (t.n_c + $NbB)), 6) AS DECIMAL(18,6)) AS logp
       |  FROM ctot t CROSS JOIN range($NbB) b
       |  LEFT JOIN counts n ON n.cls = t.cls AND n.bucket = b.range),
       |held AS (
       |  SELECT doc_id, source AS actual, ${xhash60Sql("tok", 53)} % $NbB AS bucket
       |  FROM (SELECT doc_id, source, unnest(tk) AS tok FROM base
       |        WHERE doc_id % $NbHoldMod = 0)),
       |scores AS (
       |  SELECT h.doc_id, h.actual, m.cls,
       |    ANY_VALUE(p.logprior) + SUM(m.logp) AS loglik
       |  FROM held h JOIN model m ON h.bucket = m.bucket
       |  JOIN priors p ON p.cls = m.cls
       |  GROUP BY h.doc_id, h.actual, m.cls),
       |pred AS (${topKSql("scores", "doc_id", "loglik DESC, cls", 1, "rn")})
       |SELECT actual, cls AS predicted, COUNT(*) AS n_docs,
       |  floor(CAST(SUM(loglik) AS DOUBLE) / COUNT(*) * 1e9 + 0.5) / 1e9
       |    AS avg_loglik
       |FROM pred
       |GROUP BY actual, cls ORDER BY actual, predicted""".stripMargin
}
