package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.OpsUtil._

/** Text-analysis operators over `documents` — language ID, quality
  * scoring, token counting, fingerprinting (north-star extensions).
  *
  * Everything is per-document map-side work (no shuffle except final
  * ordering / the lang-ID argmax): at 100 TB these run as one codegen
  * pass over the corpus scan. No UDFs — all built-in expressions, so
  * whole-stage codegen fuses scan → compute → project.
  */
object TextAnalysisOps {

  /** Token counting: whitespace tokens vs a BPE-ish regex pass
    * (letter runs / digit runs / single other chars — the shape of a
    * byte-pair pre-tokenizer), plus char stats. */
  def tokenStats(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .select(
        col("doc_id"),
        size(tokens(col("text"))).as("n_ws_tokens"),
        size(regexp_extract_all(lower(col("text")),
          lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).as("n_bpe_tokens"),
        length(col("text")).as("n_chars"),
        size(array_distinct(tokens(col("text")))).as("n_unique_tokens"))
      .orderBy("doc_id")

  def tokenStatsSql: String =
    s"""SELECT doc_id,
       |  len(${tokensSql("text")}) AS n_ws_tokens,
       |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_bpe_tokens,
       |  length(text) AS n_chars,
       |  len(list_distinct(${tokensSql("text")})) AS n_unique_tokens
       |FROM documents ORDER BY doc_id""".stripMargin

  // Tiny per-language stopword lists for the n-gram/stopword language
  // heuristic. Deliberately inline (broadcast lookup) — at scale this
  // is a broadcast join against a dictionary table.
  private val Stopwords: Seq[(String, String)] = Seq(
    "en" -> "the", "en" -> "a", "en" -> "of", "en" -> "and", "en" -> "is",
    "en" -> "data", "en" -> "order", "en" -> "key", "en" -> "row", "en" -> "table",
    "es" -> "el", "es" -> "la", "es" -> "de", "es" -> "y", "es" -> "es",
    "fr" -> "le", "fr" -> "la", "fr" -> "de", "fr" -> "et", "fr" -> "est",
    "de" -> "der", "de" -> "die", "de" -> "und", "de" -> "ist", "de" -> "das")

  private def stopwordsValuesSql: String =
    Stopwords.map { case (l, w) => s"('$l', '$w')" }.mkString(", ")

  /** Per-doc argmax of stopword hits as ONE map-side expression —
    * struct(n_hits, lang), zero hits → (0, 'und'). The dictionary is
    * a compile-time constant, so each language's occurrence count is
    * a filter+size over the token array and the argmax is a fold in
    * alphabetical language order (strict `>` keeps the earlier
    * language on ties — exactly the old row_number(n_hits DESC, lang
    * ASC) rule). r16 opt (guide §2.3/§2.4): the previous shape
    * exploded every token of the corpus, broadcast-joined the
    * dictionary, shuffled (doc, lang) hit counts, ran a per-doc
    * window, and left-joined back to documents — four corpus-sized
    * exchanges for a decision that only ever needed the doc's own
    * row. */

  private[graft] def bestStopLang(tk: Column): Column = {
    val langs = Stopwords.map(_._1).distinct.sorted
    val words = langs.map(l => Stopwords.collect { case (`l`, w) => w })
    val allWords = Stopwords.map(_._2).distinct
    // ONE pass over the token array: pre-filter to dictionary hits
    // (duplicates kept — these are occurrence counts), fold the hits
    // into a per-language count vector, then argmax the vector in the
    // aggregate's finish lambda. Every subexpression is referenced
    // once, so nothing re-evaluates per language or per comparison
    // (the naive per-language filter() or a reduceLeft-of-when argmax
    // both re-scan the tokens per language — measured 2-5× this
    // query). The (0, 'und') argmax zero loses every tie, so zero
    // hits everywhere yields 'und' exactly like the old left-join
    // coalesce; strict `>` over the lang-ascending candidates is the
    // old row_number(n_hits DESC, lang ASC) rule.
    aggregate(
      filter(tk, t => t.isInCollection(allWords)),
      array_repeat(lit(0L), langs.size),
      (acc, t) => array(langs.indices.map(i =>
        element_at(acc, i + 1) +
          when(t.isInCollection(words(i)), 1L).otherwise(0L)): _*),
      counts => aggregate(
        array(langs.indices.map(i =>
          struct(element_at(counts, i + 1).as("n_hits"),
            lit(langs(i)).as("lang"))): _*),
        struct(lit(0L).as("n_hits"), lit("und").as("lang")),
        (acc, x) => when(x.getField("n_hits") > acc.getField("n_hits"), x)
          .otherwise(acc)))
  }

  /** Language ID: argmax of stopword hits per language (ties → first
    * language alphabetically; zero hits → 'und') — the per-doc
    * [[bestStopLang]] expression over one corpus scan. */
  def langId(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .select(col("doc_id"), col("lang").as("meta_lang"), col("text"))
      // tk in its OWN projection: bestStopLang references its input
      // once per language, so an inline tokens(text) would be copied
      // (and tokenized) per language; 5 references also keep
      // CollapseProject from re-inlining the materialized column
      .select(col("doc_id"), col("meta_lang"), tokens(col("text")).as("tk"))
      .select(col("doc_id"), bestStopLang(col("tk")).as("b"),
        col("meta_lang"))
      .select(col("doc_id"), col("b.lang").as("pred_lang"),
        col("b.n_hits").as("n_hits"), col("meta_lang"))
      .orderBy("doc_id")

  def langIdSql: String =
    s"""WITH dict(sl_lang, sl_word) AS (VALUES $stopwordsValuesSql),
       |tok AS (SELECT doc_id, unnest(${tokensSql("text")}) AS tokn FROM documents),
       |hits AS (
       |  SELECT doc_id, sl_lang, COUNT(*) AS n_hits
       |  FROM tok JOIN dict ON tokn = sl_word
       |  GROUP BY doc_id, sl_lang),
       |best AS (${topKSql("hits", "doc_id", "n_hits DESC, sl_lang", 1, "rnk")})
       |SELECT d.doc_id, COALESCE(b.sl_lang, 'und') AS pred_lang,
       |  COALESCE(b.n_hits, 0) AS n_hits, d.lang AS meta_lang
       |FROM documents d LEFT JOIN best b
       |  ON d.doc_id = b.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** doc_id + lang + distinct char-bigram array over the lowered
    * 256-char prefix. The lowered prefix is materialized as its OWN
    * projection first: an expression inside the transform() lambda
    * re-evaluates per element, so lower(text) inline would
    * re-lowercase the whole document once per bigram position
    * (measured ~40% of this query's cost at sf0.1). TOTAL, not
    * filtered ([[graft.ops.DedupOps]] shingledOf pattern): docs with
    * a <2-char prefix get an EMPTY array via the when-guard — which
    * both keeps sequence(1, len-1) away from its len<2 descending
    * behavior AND keeps every doc in the one-pass scoring output
    * (empty bigrams → zero overlap → 'und', as in the oracle). */
  private[graft] def docBigrams(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("lang"),
        substring(lower(col("text")), 1, 256).as("pre"))
      .select(col("doc_id"), col("lang"),
        when(length(col("pre")) >= 2,
          array_distinct(transform(
            sequence(lit(1), length(col("pre")) - 1),
            i => col("pre").substr(i, lit(2)))))
          .otherwise(array().cast("array<string>")).as("bgs"))

  /** The per-language top-20 bigram profile collapsed to ONE row:
    * profs = array of struct(p_lang, pbgs), sorted by language. Built
    * from the 1-in-10 hash-sampled docs exactly as before (explode →
    * doc-frequency groupBy → per-lang row_number top-20), then two
    * tiny aggregations fold the ≤ langs×20 rows into a single
    * broadcastable row — the scoring pass consumes it as a 1-row
    * broadcast nested-loop join instead of a corpus-keyed shuffle. */
  private def ngramProfileRow(bigrams: DataFrame): DataFrame = {
    val sampled = bigrams
      .where(xhash60(col("doc_id").cast("string"), 5) % 10 === 0)
      .select(col("lang"), explode_outer(col("bgs")).as("bg"))
      .where(col("bg").isNotNull)
    // top-20 by (df DESC, bg ASC) as slice(array_sort(collect_list))
    // over the (lang, bg) counts — one aggregation instead of the old
    // row_number window + its lang-keyed exchange + a second groupBy
    // (every stage here is an AQE barrier; the per-lang candidate set
    // is ≤ |alphabet|² rows, so the struct sort is bounded). The
    // (-df, bg) struct sorts ascending = df DESC, bg ASC — the exact
    // old window order.
    sampled.groupBy(col("lang"), col("bg"))
      .agg(count("*").as("df"))
      .groupBy(col("lang").as("p_lang"))
      .agg(transform(
        slice(array_sort(collect_list(struct((-col("df")).as("neg_df"),
          col("bg").as("bg")))), 1, 20),
        s => s.getField("bg")).as("pbgs"))
      .agg(array_sort(collect_list(struct(col("p_lang"), col("pbgs"))))
        .as("profs"))
      // the union of every profile's bigrams, alongside: scoring
      // prefilters each doc's bigrams against it so the per-language
      // membership loop runs over profile hits only
      .select(col("profs"),
        array_distinct(flatten(transform(col("profs"),
          p => p.getField("pbgs")))).as("all_bgs"))
  }

  /** The profile COLLECTED (one bounded driver action — ≤ langs × 20
    * strings by construction, the 1-row-scalar pattern of
    * emb_kmeans_loop / MMR), sorted by language. Measured motivation:
    * attaching the 1-row profile in-plan — BNLJ cross, broadcast-hash
    * on a constant key, even checkpoint-then-aggregate — costs a flat
    * ~1.2 s at sf0.1, and an interpreted HOF scoring kernel ~0.3 ms
    * per row; with the profile as Scala data the scorer below compiles
    * to per-language codegen'd array_intersect literals with no join
    * at all.
    *
    * NOTE (ADVICE r16): this makes [[langIdNgram]]/[[langConfusion]]
    * CONSTRUCTION eager — building their DataFrame runs one bounded
    * Spark job (this head()). Tooling that constructs plans without
    * executing them (DumpPlans, fingerprint tests) therefore runs a
    * real job for these two queries; that is by design, not a leak. */
  private[graft] def ngramProfileLit(spark: SparkSession, d: String): Seq[(String, Seq[String])] = {
    import org.apache.spark.sql.Row
    val row = ngramProfileRow(docBigrams(Tables.documents(spark, d))).head()
    row.getSeq[Row](0).map(r => (r.getString(0), r.getSeq[String](1)))
      .sortBy(_._1)
  }

  /** Per-language overlap columns over the doc's bigram array:
    * |bgs ∩ pbgs_lang| via codegen'd array_intersect against LITERAL
    * profile arrays — identical to the old explode → profile join →
    * count(*) per (doc, lang), since both sides are distinct. Feeds
    * [[bestNgramFromOverlaps]]; the two stay separate projections so
    * each intersect evaluates once. */
  private[graft] def ngramOverlapCols(bgs: Column,
      profs: Seq[(String, Seq[String])]): Seq[Column] =
    profs.map { case (l, pb) =>
      size(array_intersect(bgs, array(pb.map(lit): _*))).cast("long").as(s"ov_$l")
    }

  /** Scalar argmax over the materialized overlap columns:
    * struct(overlap, lang), max 0 → (0, 'und'). The when-chain runs
    * in ALPHABETICAL language order, so the first column equal to the
    * max is the alphabetically-first tied language — the old
    * row_number(overlap DESC, p_lang ASC) rule. All plain scalar
    * comparisons: whole-stage codegen keeps the argmax inside the
    * scan's projection. */
  private[graft] def bestNgramFromOverlaps(langs: Seq[String]): Column = {
    if (langs.isEmpty)
      return struct(lit(0L).as("overlap"), lit("und").as("lang"))
    val ovs = langs.map(l => col(s"ov_$l"))
    val m = if (ovs.size == 1) ovs.head else greatest(ovs: _*)
    val pred = langs.zip(ovs).foldLeft(when(m === 0L, lit("und"))) {
      case (c, (l, ov)) => c.when(ov === m, lit(l))
    }.otherwise(lit("und"))
    struct(m.as("overlap"), pred.as("lang"))
  }

  /** Char-n-gram language ID — the classic n-gram-profile heuristic:
    * build per-language top-20 character-bigram profiles, then
    * classify each document by profile overlap (argmax, ties to the
    * alphabetically first language).
    *
    * The profile is built from a deterministic 1-in-10 hash sample of
    * documents (the [[DedupOps.sampleHash]] pattern): a tiny
    * top-20-per-language artifact must not cost an O(corpus) second
    * pass at 100 TB, and a content-hash sample is partitioning- and
    * engine-independent so the oracle reproduces it exactly. Only the
    * scoring pass touches the full corpus. */
  def langIdNgram(spark: SparkSession, d: String): DataFrame = {
    // r16 opt (guide §2.3/§2.4): the old shape exploded the corpus's
    // bigrams, broadcast-joined the profile, shuffled (doc, lang)
    // overlap counts, ran a per-doc window, and left-joined back to
    // documents — the full corpus crossed three exchanges to score.
    // Now the profile collapses to one bounded row, is collected and
    // re-injected as literals ([[ngramProfileLit]]), and scoring is a
    // map-only pass: one corpus scan with the per-doc argmax
    // expression; the only corpus-sized exchange left is the final
    // presentation sort.
    val profs = ngramProfileLit(spark, d)
    docBigrams(Tables.documents(spark, d))
      .select(Seq(col("doc_id"), col("lang").as("meta_lang")) ++
        ngramOverlapCols(col("bgs"), profs): _*)
      .select(col("doc_id"),
        bestNgramFromOverlaps(profs.map(_._1)).as("b"),
        col("meta_lang"))
      .select(col("doc_id"), col("b.lang").as("pred_lang"),
        col("b.overlap").as("overlap"), col("meta_lang"))
      .orderBy("doc_id")
  }

  def langIdNgramSql: String =
    s"""WITH pre AS (
       |  SELECT doc_id, lang, substr(lower(text), 1, 256) AS pre FROM documents),
       |bigrams AS (
       |  SELECT doc_id, lang,
       |    list_distinct(list_transform(range(1, length(pre)),
       |      i -> substr(pre, i, 2))) AS bgs
       |  FROM pre WHERE length(pre) >= 2),
       |exploded AS (SELECT doc_id, lang, unnest(bgs) AS bg FROM bigrams),
       |sampled AS (
       |  SELECT lang, unnest(bgs) AS bg FROM bigrams
       |  WHERE ${xhash60Sql("CAST(doc_id AS VARCHAR)", 5)} % 10 = 0),
       |prof AS (
       |  SELECT lang AS p_lang, bg FROM (${topKSql(
         "(SELECT lang, bg, COUNT(*) AS df FROM sampled GROUP BY lang, bg)",
         "lang", "df DESC, bg", 20, "rnk")})),
       |scored AS (
       |  SELECT doc_id, p_lang, COUNT(*) AS overlap
       |  FROM exploded JOIN prof ON exploded.bg = prof.bg
       |  GROUP BY doc_id, p_lang),
       |best AS (${topKSql("scored", "doc_id", "overlap DESC, p_lang", 1, "rnk")})
       |SELECT d.doc_id, COALESCE(b.p_lang, 'und') AS pred_lang,
       |  COALESCE(b.overlap, 0) AS overlap, d.lang AS meta_lang
       |FROM documents d LEFT JOIN best b
       |  ON d.doc_id = b.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Agreement/confusion matrix between the suite's TWO language
    * identifiers — stopword-dictionary [[langId]] vs char-bigram
    * profile [[langIdNgram]] — scored against the corpus metadata
    * label: the model-comparison readout a pipeline owner looks at
    * before swapping classifiers ([[SimilarityOps.annRecall]]'s
    * self-evaluation pattern applied to text). Each matrix cell
    * carries how often each side also matched the metadata label, so
    * disagreement cells show WHICH side was right. Both inputs are
    * existing declared plans; the join is doc-keyed, the matrix is
    * ≤ (langs+1)² cells. */
  def langConfusion(spark: SparkSession, d: String): DataFrame = {
    // r16 opt (guide §2.4): both classifiers are per-doc expressions
    // now ([[bestStopLang]], [[bestNgramFromOverlaps]]), so the confusion
    // matrix needs no doc-keyed join of two full query outputs — ONE
    // corpus scan computes both predictions side by side and the only
    // exchange is the ≤ (langs+1)²-cell aggregation. The ngram
    // profile subplan (sample → top-20 → 1 row) is shared verbatim
    // with [[langIdNgram]].
    val profs = ngramProfileLit(spark, d)
    Tables.documents(spark, d)
      .select(col("lang"), tokens(col("text")).as("tk"),
        substring(lower(col("text")), 1, 256).as("pre"))
      .select(col("lang"), col("tk"),
        when(length(col("pre")) >= 2,
          array_distinct(transform(
            sequence(lit(1), length(col("pre")) - 1),
            i => col("pre").substr(i, lit(2)))))
          .otherwise(array().cast("array<string>")).as("bgs"))
      .select(Seq(col("lang"),
        bestStopLang(col("tk")).getField("lang").as("pred_sw")) ++
        ngramOverlapCols(col("bgs"), profs): _*)
      .select(col("lang").as("meta_lang"), col("pred_sw"),
        bestNgramFromOverlaps(profs.map(_._1))
          .getField("lang").as("pred_ng"))
      .groupBy(col("pred_sw"), col("pred_ng"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("pred_sw") === col("meta_lang"), 1L).otherwise(0L))
          .as("n_sw_correct"),
        sum(when(col("pred_ng") === col("meta_lang"), 1L).otherwise(0L))
          .as("n_ng_correct"))
      .orderBy("pred_sw", "pred_ng")
  }

  def langConfusionSql: String =
    s"""SELECT sw.pred_lang AS pred_sw, ng.pred_lang AS pred_ng,
       |  COUNT(*) AS n,
       |  CAST(SUM(CASE WHEN sw.pred_lang = sw.meta_lang THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_sw_correct,
       |  CAST(SUM(CASE WHEN ng.pred_lang = sw.meta_lang THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_ng_correct
       |FROM ($langIdSql) sw JOIN ($langIdNgramSql) ng
       |  ON sw.doc_id = ng.doc_id
       |GROUP BY 1, 2 ORDER BY pred_sw, pred_ng""".stripMargin

  /** Token co-occurrence: top-30 adjacent token bigrams by frequency
    * with PMI (pointwise mutual information) — the word2vec-style
    * association statistic. PMI is rounded to 6 decimals to absorb
    * libm log differences between engines. */
  def topBigramsPmi(spark: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(spark, d)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .where(size(col("tk")) >= 2)
    val bigrams = toks.select(explode(transform(
      sequence(lit(1), size(col("tk")) - 1),
      i => struct(element_at(col("tk"), i).as("w1"),
        element_at(col("tk"), i + 1).as("w2")))).as("bg"))
      .select(col("bg.w1"), col("bg.w2"))
    // the grand total is a 1-row aggregate cross-joined into the same
    // DAG (mirrors the oracle's `FROM c12, n`) — no driver-side
    // count(), no materialization of the full bigram stream. The
    // bigram projection is recomputed per consumer, which at scale is
    // cheaper than spilling O(total tokens) rows to executor storage.
    val total = bigrams.agg(count("*").as("total"))
    val w1c = bigrams.groupBy("w1").agg(count("*").as("c1"))
    val w2c = bigrams.groupBy("w2").agg(count("*").as("c2"))
    bigrams.groupBy("w1", "w2").agg(count("*").as("c12"))
      .join(w1c, Seq("w1")).join(w2c, Seq("w2"))
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("c12"),
        // c1/c2 cast to double BEFORE multiplying: a BIGINT*BIGINT
        // product overflows at 100 TB-scale counts (~1e11 each) —
        // silently in Spark (non-ANSI), loudly in DuckDB
        round(log(col("c12").cast("double") * col("total") /
          (col("c1").cast("double") * col("c2"))), 6).as("pmi"))
      .orderBy(col("c12").desc, col("w1"), col("w2"))
      .limit(30)
  }

  def topBigramsPmiSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, ${tokensSql("text")} AS tk FROM documents),
       |bigrams AS (
       |  SELECT unnest(list_transform(range(1, len(tk)),
       |    i -> {'w1': tk[i], 'w2': tk[i+1]})) AS r
       |  FROM toks WHERE len(tk) >= 2),
       |flat AS (SELECT r.w1 AS w1, r.w2 AS w2 FROM bigrams),
       |n AS (SELECT COUNT(*) AS total FROM flat),
       |c1 AS (SELECT w1, COUNT(*) AS c1 FROM flat GROUP BY w1),
       |c2 AS (SELECT w2, COUNT(*) AS c2 FROM flat GROUP BY w2),
       |c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM flat GROUP BY w1, w2)
       |SELECT c12.w1, c12.w2, c12.c12,
       |  round(ln(CAST(c12.c12 AS DOUBLE) * n.total / (CAST(c1.c1 AS DOUBLE) * c2.c2)), 6) AS pmi
       |FROM c12, n
       |JOIN c1 ON c12.w1 = c1.w1
       |JOIN c2 ON c12.w2 = c2.w2
       |ORDER BY c12.c12 DESC, c12.w1, c12.w2 LIMIT 30""".stripMargin

  /** Dunning log-likelihood-ratio collocations over the same top-30
    * bigrams as [[topBigramsPmi]] — the statistic that fixes PMI's
    * known failure mode: PMI rewards RARITY (a hapax pair scores
    * higher than a frequent genuine collocation), while the G² LLR
    * scores the full 2×2 contingency table (k11=c12, k12=c1−c12,
    * k21=c2−c12, k22=N−c1−c2+c12) so evidence scales with support.
    * Computed in the entropy form G² = 2·(Σ xlx(k) − Σ xlx(margins) +
    * xlx(N)) with xlx(0) ≡ 0 guarded by an explicit CASE in BOTH
    * engines (0·ln 0 would otherwise be NaN — any cell or margin can
    * be zero for a word that only ever appears in one slot). Counts
    * cast to double BEFORE any arithmetic (the [[topBigramsPmi]]
    * overflow stance); the addition chain is written in the same
    * left-to-right order in both engines and rounded to 6 decimals to
    * absorb libm differences. Plan shape is [[topBigramsPmi]]'s: three
    * count aggregates + a 1-row broadcast total, no new shuffles. */
  def topBigramsLlr(spark: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(spark, d)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .where(size(col("tk")) >= 2)
    val bigrams = toks.select(explode(transform(
      sequence(lit(1), size(col("tk")) - 1),
      i => struct(element_at(col("tk"), i).as("w1"),
        element_at(col("tk"), i + 1).as("w2")))).as("bg"))
      .select(col("bg.w1"), col("bg.w2"))
    val total = bigrams.agg(count("*").as("total"))
    val w1c = bigrams.groupBy("w1").agg(count("*").as("c1"))
    val w2c = bigrams.groupBy("w2").agg(count("*").as("c2"))
    val cells = bigrams.groupBy("w1", "w2").agg(count("*").as("c12"))
      .join(w1c, Seq("w1")).join(w2c, Seq("w2"))
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("c12"),
        col("c12").cast("double").as("k11"),
        (col("c1") - col("c12")).cast("double").as("k12"),
        (col("c2") - col("c12")).cast("double").as("k21"),
        (col("total") - col("c1") - col("c2") + col("c12")).cast("double").as("k22"),
        col("c1").cast("double").as("r1"),
        (col("total") - col("c1")).cast("double").as("r2"),
        col("c2").cast("double").as("cm1"),
        (col("total") - col("c2")).cast("double").as("cm2"),
        col("total").cast("double").as("nn"))
    def xlx(c: String) = expr(s"CASE WHEN $c > 0 THEN $c * ln($c) ELSE 0.0 END")
    cells.select(col("w1"), col("w2"), col("c12"),
      round(lit(2.0) * (xlx("k11") + xlx("k12") + xlx("k21") + xlx("k22")
        - xlx("r1") - xlx("r2") - xlx("cm1") - xlx("cm2") + xlx("nn")), 6).as("llr"))
      .orderBy(col("c12").desc, col("w1"), col("w2"))
      .limit(30)
  }

  def topBigramsLlrSql: String = {
    def xlx(c: String) = s"(CASE WHEN $c > 0 THEN $c * ln($c) ELSE 0.0 END)"
    s"""WITH toks AS (
       |  SELECT doc_id, ${tokensSql("text")} AS tk FROM documents),
       |bigrams AS (
       |  SELECT unnest(list_transform(range(1, len(tk)),
       |    i -> {'w1': tk[i], 'w2': tk[i+1]})) AS r
       |  FROM toks WHERE len(tk) >= 2),
       |flat AS (SELECT r.w1 AS w1, r.w2 AS w2 FROM bigrams),
       |n AS (SELECT COUNT(*) AS total FROM flat),
       |c1 AS (SELECT w1, COUNT(*) AS c1 FROM flat GROUP BY w1),
       |c2 AS (SELECT w2, COUNT(*) AS c2 FROM flat GROUP BY w2),
       |c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM flat GROUP BY w1, w2),
       |cells AS (
       |  SELECT c12.w1, c12.w2, c12.c12,
       |    CAST(c12.c12 AS DOUBLE) AS k11,
       |    CAST(c1.c1 - c12.c12 AS DOUBLE) AS k12,
       |    CAST(c2.c2 - c12.c12 AS DOUBLE) AS k21,
       |    CAST(n.total - c1.c1 - c2.c2 + c12.c12 AS DOUBLE) AS k22,
       |    CAST(c1.c1 AS DOUBLE) AS r1, CAST(n.total - c1.c1 AS DOUBLE) AS r2,
       |    CAST(c2.c2 AS DOUBLE) AS cm1, CAST(n.total - c2.c2 AS DOUBLE) AS cm2,
       |    CAST(n.total AS DOUBLE) AS nn
       |  FROM c12, n
       |  JOIN c1 ON c12.w1 = c1.w1
       |  JOIN c2 ON c12.w2 = c2.w2)
       |SELECT w1, w2, c12,
       |  round(2.0 * (${xlx("k11")} + ${xlx("k12")} + ${xlx("k21")} + ${xlx("k22")}
       |    - ${xlx("r1")} - ${xlx("r2")} - ${xlx("cm1")} - ${xlx("cm2")} + ${xlx("nn")}), 6) AS llr
       |FROM cells
       |ORDER BY c12 DESC, w1, w2 LIMIT 30""".stripMargin
  }

  /** Corpus-level summary: one row of global stats. */
  def corpusStats(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        size(tokens(col("text"))).as("n_tok"))
      .agg(
        count("*").as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_tok")).as("total_tokens"),
        sum(col("n_chars")).as("total_chars"),
        (sum(col("n_tok")).cast("double") / count("*")).as("avg_tokens"))

  def corpusStatsSql: String =
    s"""SELECT COUNT(*) AS n_docs, COUNT(DISTINCT lang) AS n_langs,
       |  CAST(SUM(len(${tokensSql("text")})) AS BIGINT) AS total_tokens,
       |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       |  CAST(SUM(len(${tokensSql("text")})) AS DOUBLE) / COUNT(*) AS avg_tokens
       |FROM documents""".stripMargin

  // -------------------------------------------------------------
  // text_pii_scrub: PII detection + redaction (the CCNet/Dolma-style
  // scrub stage every released-corpus pipeline runs before training)
  // -------------------------------------------------------------

  // Pattern strings restricted to syntax Java regex and RE2 interpret
  // IDENTICALLY (character classes, bounded quantifiers, \b, \d as
  // ASCII, non-capturing groups — no backrefs, no lookaround), so the
  // DuckDB oracle runs the very same strings.
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val Ipv4Re = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"
  private val DigitRunRe = "\\d{7,}" // account/phone/id-like sequences

  /** PII scrub over an arbitrary documents-shaped frame — the
    * testable core ([[piiScrub]] feeds it the corpus). Counts and
    * redacts in a FIXED cascade (emails → IPv4 → long digit runs),
    * each stage counted against the previous stage's output so a
    * digit run inside an IP (or an IP inside an email domain) is
    * attributed to exactly one category; replacement tags contain no
    * digits, so later passes cannot re-match earlier redactions.
    * Pure per-row map-side work — no shuffle beyond the output
    * ordering, scans only (doc_id, text). */
  private[ops] def piiScrubOn(docs: DataFrame): DataFrame = {
    val afterEmail = regexp_replace(col("text"), EmailRe, "<EMAIL>")
    val afterIp = regexp_replace(afterEmail, Ipv4Re, "<IP>")
    val clean = regexp_replace(afterIp, DigitRunRe, "<NUM>")
    docs.select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))).as("n_emails"),
        size(regexp_extract_all(afterEmail, lit(Ipv4Re), lit(0))).as("n_ips"),
        size(regexp_extract_all(afterIp, lit(DigitRunRe), lit(0))).as("n_digit_runs"),
        length(clean).as("clean_len"))
      .withColumn("has_pii",
        col("n_emails") + col("n_ips") + col("n_digit_runs") > 0)
      .orderBy("doc_id")
  }

  /** Declared query `text_pii_scrub`: per-document PII counts by
    * category plus the redacted length. */
  def piiScrub(spark: SparkSession, d: String): DataFrame =
    piiScrubOn(Tables.documents(spark, d))

  def piiScrubSql: String =
    s"""WITH s AS (
       |  SELECT doc_id, text,
       |    regexp_replace(text, '$EmailRe', '<EMAIL>', 'g') AS after_email
       |  FROM documents),
       |s2 AS (
       |  SELECT *, regexp_replace(after_email, '$Ipv4Re', '<IP>', 'g') AS after_ip
       |  FROM s)
       |SELECT doc_id,
       |  len(regexp_extract_all(text, '$EmailRe')) AS n_emails,
       |  len(regexp_extract_all(after_email, '$Ipv4Re')) AS n_ips,
       |  len(regexp_extract_all(after_ip, '$DigitRunRe')) AS n_digit_runs,
       |  length(regexp_replace(after_ip, '$DigitRunRe', '<NUM>', 'g')) AS clean_len,
       |  len(regexp_extract_all(text, '$EmailRe'))
       |    + len(regexp_extract_all(after_email, '$Ipv4Re'))
       |    + len(regexp_extract_all(after_ip, '$DigitRunRe')) > 0 AS has_pii
       |FROM s2 ORDER BY doc_id""".stripMargin

  /** Quality scoring: unique-token ratio, stopword ratio, length
    * normalization → weighted score. Pure arithmetic on counts, so the
    * score is bit-deterministic across engines. */
  def qualityScore(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .where(size(col("tk")) > 0)
    val swArr = array(Stopwords.map(_._2).distinct.map(lit): _*)
    val scored = docs.select(
      col("doc_id"),
      size(col("tk")).as("n_tokens"),
      (size(array_distinct(col("tk"))).cast("double") / size(col("tk"))).as("uniq_ratio"),
      (size(filter(col("tk"), t => array_contains(swArr, t))).cast("double") /
        size(col("tk"))).as("stop_ratio"),
      least(size(col("tk")).cast("double") / 100.0, lit(1.0)).as("len_norm"))
    scored.select(col("doc_id"), col("n_tokens"), col("uniq_ratio"),
        col("stop_ratio"), col("len_norm"),
        round(col("uniq_ratio") * 0.4 + col("stop_ratio") * 0.3 +
          col("len_norm") * 0.3, 9).as("quality"))
      .orderBy("doc_id")
  }

  def qualityScoreSql: String = {
    val swList = Stopwords.map(_._2).distinct.map(w => s"'$w'").mkString(", ")
    s"""WITH docs AS (
       |  SELECT doc_id, ${tokensSql("text")} AS tk FROM documents),
       |scored AS (
       |  SELECT doc_id, len(tk) AS n_tokens,
       |    CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) AS uniq_ratio,
       |    CAST(len(list_filter(tk, t -> list_contains([$swList], t))) AS DOUBLE)
       |      / len(tk) AS stop_ratio,
       |    least(CAST(len(tk) AS DOUBLE) / 100.0, 1.0) AS len_norm
       |  FROM docs WHERE len(tk) > 0)
       |SELECT doc_id, n_tokens, uniq_ratio, stop_ratio, len_norm,
       |  round(uniq_ratio * 0.4 + stop_ratio * 0.3 + len_norm * 0.3, 9) AS quality
       |FROM scored ORDER BY doc_id""".stripMargin
  }

  /** Winnowing fingerprints (the MOSS scheme): hash every 3-token
    * shingle, slide a window of 4 hashes, keep each window's minimum
    * — the document's stable fingerprint set. Output is exploded to
    * (doc_id, fp) rows so the oracle compares scalars, not arrays.
    * Map-side only until the final ordering. */
  def winnow(spark: SparkSession, d: String): DataFrame = {
    val W = 4
    val docs = Tables.documents(spark, d)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .where(size(col("tk")) >= 3 + W - 1)
      .select(col("doc_id"), transform(
        sequence(lit(1), size(col("tk")) - 2),
        i => xhash60(concat_ws(" ", element_at(col("tk"), i),
          element_at(col("tk"), i + 1), element_at(col("tk"), i + 2)), 0)).as("hx"))
    // explode_outer: plain explode's inferred size>0 filter would push
    // below BOTH projections and re-run the whole shingle-hash +
    // window-min build per row (see langIdNgram)
    docs.select(col("doc_id"), explode_outer(array_distinct(transform(
        sequence(lit(1), size(col("hx")) - (W - 1)),
        i => array_min(slice(col("hx"), i, lit(W)))))).as("fp"))
      .where(col("fp").isNotNull)
      .orderBy("doc_id", "fp")
  }

  def winnowSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, ${tokensSql("text")} AS tk FROM documents),
       |hashed AS (
       |  SELECT doc_id, list_transform(range(1, len(tk)-1),
       |    i -> ${xhash60Sql("tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]", 0)}) AS hx
       |  FROM toks WHERE len(tk) >= 6),
       |wins AS (
       |  SELECT doc_id, list_distinct(list_transform(range(1, len(hx)-2),
       |    i -> list_min(hx[i:i+3]))) AS fps
       |  FROM hashed)
       |SELECT doc_id, unnest(fps) AS fp FROM wins ORDER BY doc_id, fp""".stripMargin

  /** Document fingerprint: polynomial rolling hash over the token
    * stream (order-sensitive, unlike the set-based dedup hashes) —
    * fold of (acc * 31 + tokenhash) mod 1e9+7. */
  def fingerprint(spark: SparkSession, d: String): DataFrame = {
    val M = 1000000007L
    Tables.documents(spark, d)
      .select(col("doc_id"),
        aggregate(
          transform(tokens(col("text")), t => pmod(xhash60(t, 7), lit(M))),
          lit(0L),
          (acc, h) => pmod(acc * 31 + h, lit(M))).as("fp"))
      .orderBy("doc_id")
  }

  def fingerprintSql: String =
    s"""SELECT doc_id,
       |  list_reduce(
       |    list_prepend(0::BIGINT,
       |      list_transform(${tokensSql("text")},
       |        t -> ${xhash60Sql("t", 7)} % 1000000007)),
       |    (acc, h) -> (acc * 31 + h) % 1000000007) AS fp
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Gopher/MassiveText-style corpus-filter rules: the repetition and
    * shape signals a pretraining curation pass gates on — token count,
    * mean word length, numeric-token fraction, duplicate-3-gram
    * fraction, top-2-gram fraction — each as a value AND a boolean
    * rule flag, plus the conjunction `keep`.
    *
    * Scale shape: everything except `top_2gram_frac` is a single
    * map-side pass; the per-doc mode needs one (doc, gram) shuffle —
    * the standard distributed mode computation (no per-doc driver
    * work, no array sort). Flags compare ROUNDED values so the two
    * engines gate on identical doubles. */
  def gopherRules(spark: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(spark, d)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .where(size(col("tk")) > 0)
    val scal = base
      .select(col("doc_id"), col("tk"), size(col("tk")).as("n"),
        when(size(col("tk")) >= 3, transform(
          sequence(lit(1), size(col("tk")) - 2),
          i => concat_ws(" ", element_at(col("tk"), i),
            element_at(col("tk"), i + 1), element_at(col("tk"), i + 2))))
          .otherwise(array().cast("array<string>")).as("g3"))
      .select(col("doc_id"), col("n").as("n_tokens"),
        round(length(concat_ws("", col("tk"))).cast("double") / col("n"), 9)
          .as("mean_word_len"),
        round(size(filter(col("tk"), t => t.rlike("^[0-9]+$"))).cast("double") / col("n"), 9)
          .as("frac_numeric"),
        when(size(col("g3")) > 0,
          round(lit(1.0) - size(array_distinct(col("g3"))).cast("double") / size(col("g3")), 9))
          .otherwise(lit(0.0)).as("dup_3gram_frac"),
        col("tk"))
    // per-doc mode of 2-grams: one (doc, gram) shuffle, then max/total
    val g2 = scal.select(col("doc_id"),
        when(col("n_tokens") >= 2, transform(
          sequence(lit(1), col("n_tokens").cast("int") - 1),
          i => concat_ws(" ", element_at(col("tk"), i), element_at(col("tk"), i + 1))))
          .otherwise(array().cast("array<string>")).as("g2"))
      .select(col("doc_id"), explode_outer(col("g2")).as("gram"))
      .where(col("gram").isNotNull)
      .groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(round(max(col("cnt")).cast("double") / sum(col("cnt")), 9).as("top_2gram_frac"))
    scal.drop("tk")
      .join(g2, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tokens"), col("mean_word_len"),
        col("frac_numeric"), col("dup_3gram_frac"),
        coalesce(col("top_2gram_frac"), lit(0.0)).as("top_2gram_frac"))
      .select(col("*"),
        (col("n_tokens") >= 20 && col("n_tokens") <= 100000).as("rule_len"),
        (col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0).as("rule_mwl"),
        (col("frac_numeric") <= 0.2).as("rule_num"),
        (col("dup_3gram_frac") <= 0.2 && col("top_2gram_frac") <= 0.2).as("rule_rep"))
      .select(col("*"),
        (col("rule_len") && col("rule_mwl") && col("rule_num") && col("rule_rep")).as("keep"))
      .orderBy("doc_id")
  }

  def gopherRulesSql: String =
    s"""WITH base AS (
       |  SELECT doc_id, tk FROM (SELECT doc_id, ${tokensSql("text")} AS tk FROM documents)
       |  WHERE len(tk) > 0),
       |scal AS (
       |  SELECT doc_id, len(tk) AS n_tokens,
       |    round(CAST(length(array_to_string(tk, '')) AS DOUBLE) / len(tk), 9) AS mean_word_len,
       |    round(CAST(len(list_filter(tk, t -> regexp_full_match(t, '[0-9]+'))) AS DOUBLE)
       |      / len(tk), 9) AS frac_numeric,
       |    CASE WHEN len(tk) >= 3 THEN round(1.0 -
       |        CAST(len(list_distinct(list_transform(range(1, len(tk) - 1),
       |          i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS DOUBLE)
       |        / (len(tk) - 2), 9)
       |      ELSE 0.0 END AS dup_3gram_frac,
       |    tk
       |  FROM base),
       |g2 AS (
       |  SELECT doc_id, gram, count(*) AS cnt FROM (
       |    SELECT doc_id, unnest(list_transform(range(1, len(tk)),
       |      i -> tk[i] || ' ' || tk[i+1])) AS gram
       |    FROM base WHERE len(tk) >= 2)
       |  GROUP BY doc_id, gram),
       |top2 AS (
       |  SELECT doc_id, round(CAST(max(cnt) AS DOUBLE) / sum(cnt), 9) AS top_2gram_frac
       |  FROM g2 GROUP BY doc_id),
       |vals AS (
       |  SELECT s.doc_id, s.n_tokens, s.mean_word_len, s.frac_numeric,
       |    s.dup_3gram_frac, COALESCE(t.top_2gram_frac, 0.0) AS top_2gram_frac
       |  FROM scal s LEFT JOIN top2 t ON t.doc_id = s.doc_id),
       |flags AS (
       |  SELECT *,
       |    n_tokens >= 20 AND n_tokens <= 100000 AS rule_len,
       |    mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS rule_mwl,
       |    frac_numeric <= 0.2 AS rule_num,
       |    dup_3gram_frac <= 0.2 AND top_2gram_frac <= 0.2 AS rule_rep
       |  FROM vals)
       |SELECT *, rule_len AND rule_mwl AND rule_num AND rule_rep AS keep
       |FROM flags ORDER BY doc_id""".stripMargin

  private val TfidfK = 3

  /** Per-document TF-IDF keyword extraction: top-[[TfidfK]] terms per
    * document by tf·idf (idf = ln((N+1)/(df+1)), add-1 smoothed; ties
    * broken by term). Shape at scale: one explode → (doc, term)
    * partial-aggregated shuffle for tf; df is a second aggregation of
    * tf (not of the corpus); N is a count(*) over the documents scan —
    * parquet answers that from row-group METADATA (zero data columns
    * read), so the "extra pass" is a metadata sum even at 100 TB. The
    * per-doc top-K window gets a map-side partial WindowGroupLimit
    * (the sample_stratified precedent), so the final shuffle carries
    * ≤ K·tasks rows per doc-partition, not every (doc, term) pair.
    * idf's single `ln` is rounded to 6 decimals (libm absorption),
    * the product to 9. */
  def tfidf(spark: SparkSession, d: String): DataFrame = {
    val tf = Tables.documents(spark, d)
      .select(col("doc_id"), explode_outer(tokens(col("text"))).as("term"))
      .where(col("term").isNotNull)
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    // the tf > 0 filter is semantically a no-op (counts are ≥ 1) but
    // load-bearing: without it Catalyst prunes count(1) out of this
    // branch's tf aggregate, the two tf subtrees stop being
    // canonically identical, and AQE can no longer reuse the
    // (doc_id, term) shuffle stage — the corpus would tokenize twice
    // (PlanSpec pins the ReusedQueryStage)
    val df = tf.where(col("tf") > 0).groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = Tables.documents(spark, d).agg(count(lit(1)).as("n_docs"))
    val idf = df.crossJoin(broadcast(n))
      .select(col("term"),
        round(log((col("n_docs") + 1).cast("double") / (col("df") + 1)), 6).as("idf"))
    topK(tf.join(idf, Seq("term"))
      .select(col("doc_id"), col("term"), col("tf"),
        round(col("tf") * col("idf"), 9).as("tfidf")),
      Seq(col("doc_id")), Seq(col("tfidf").desc, col("term")), TfidfK, "rank")
      .orderBy("doc_id", "rank")
  }

  def tfidfSql: String =
    s"""WITH tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM (
       |    SELECT doc_id, unnest(${tokensSql("text")}) AS term FROM documents)
       |  GROUP BY doc_id, term),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |idf AS (
       |  SELECT term, round(ln(CAST(n_docs + 1 AS DOUBLE) / (df + 1)), 6) AS idf
       |  FROM df, n),
       |scored AS (
       |  SELECT tf.doc_id, tf.term, tf.tf, round(tf.tf * idf.idf, 9) AS tfidf
       |  FROM tf JOIN idf ON tf.term = idf.term)
       |SELECT doc_id, term, tf, tfidf, rank
       |FROM (${topKSql("scored", "doc_id", "tfidf DESC, term", TfidfK, "rank")})
       |ORDER BY doc_id, rank""".stripMargin

  private val TopkRanks = 5

  /** Heavy-hitter tokens per language via the [[graft.functions.MgTopKAgg]]
    * Misra–Gries sketch, scored IN-QUERY against the exact counts —
    * the `agg_approx` pattern for approximate operators: raw sketch
    * counters are merge-tree-dependent and must never be declared, so
    * the declared columns are the exact top-[[TopkRanks]] tokens plus
    * two flags that any CORRECT MG state makes deterministically true
    * (under-estimate bounds contain the exact count; every token
    * heavier than the error bound is tracked). A broken update/merge
    * schedule flips a flag and fails the oracle hash.
    *
    * Scale shape: the sketch groupBy ships ≤ K counters per language
    * partial (map-side combined TypedImperativeAggregate); the exact
    * companion is the scoring harness, not the production path. */
  def topkSketch(spark: SparkSession, d: String): DataFrame = {
    val tok = Tables.documents(spark, d)
      .select(col("lang"), explode(tokens(col("text"))).as("token"))
    val sk = tok.groupBy(col("lang"))
      .agg(graft.functions.MgTopKAgg.mg_topk(col("token")).as("sk"))
    val exact = tok.groupBy(col("lang"), col("token")).agg(count(lit(1)).as("n"))
    val top = topK(exact, Seq(col("lang")), Seq(col("n").desc, col("token")), TopkRanks, "rank")
    // try_element_at, not element_at: Spark 4 runs ANSI mode by
    // default, where element_at THROWS on a missing map key — and a
    // top-K token the MG sketch evicted (est = 0) is exactly the case
    // the hh_tracked flag exists to score, so it must map to 0, not
    // fail the query on flat token distributions.
    val est = coalesce(try_element_at(col("sk.counts"), col("token")), lit(0L))
    top.join(sk, Seq("lang"))
      .select(col("lang"), col("rank"), col("token"), col("n"),
        (est <= col("n") && col("n") <= est + col("sk.err")).as("bounds_hold"),
        (est > 0 || col("n") <= col("sk.err")).as("hh_tracked"))
      .orderBy("lang", "rank")
  }

  // The oracle computes the exact top-K and asserts the two MG
  // guarantees as literal TRUE — the sketch side has no SQL replay
  // (its counters are merge-tree-dependent by design); a wrong
  // implementation produces a false flag and hash-mismatches.
  def topkSketchSql: String =
    s"""WITH tok AS (
       |  SELECT lang, unnest(${tokensSql("text")}) AS token FROM documents),
       |exact AS (SELECT lang, token, COUNT(*) AS n FROM tok GROUP BY lang, token)
       |SELECT lang, rank, token, n, TRUE AS bounds_hold, TRUE AS hh_tracked
       |FROM (${topKSql("exact", "lang", "n DESC, token", TopkRanks, "rank")})
       |ORDER BY lang, rank""".stripMargin

  /** Count-Min frequency estimates per language via the
    * [[graft.functions.CmsAgg]] sketch, probed at the exact top-5
    * tokens. Unlike the MG sketch above, the CMS grid is
    * partition-independent (increments + elementwise-add merges are
    * exact sums), so the RAW estimates are declarable: the DuckDB
    * oracle rebuilds the identical D×W grid from the same
    * md5-slice bucket arithmetic and must land on the same numbers —
    * a far stronger gate than a guarantee flag. overcount_ok
    * (est ≥ exact) is CMS's defining one-sided bound, kept as a
    * self-describing column.
    *
    * Scale shape: the sketch groupBy ships D·W longs per language
    * partial regardless of vocabulary size (map-side combined
    * TypedImperativeAggregate); the exact companion join is the
    * scoring harness, not the production path. */
  def cmsEstimates(spark: SparkSession, d: String): DataFrame = {
    import graft.functions.CmsAgg
    val tok = Tables.documents(spark, d)
      .select(col("lang"), explode(tokens(col("text"))).as("token"))
    val sk = tok.groupBy(col("lang"))
      .agg(CmsAgg.cms_sketch(col("token")).as("sk"))
    val exact = tok.groupBy(col("lang"), col("token")).agg(count(lit(1)).as("n"))
    val top = topK(exact, Seq(col("lang")), Seq(col("n").desc, col("token")), TopkRanks, "rank")
    // row r's bucket: the r-th 8-hex-digit slice of md5(token) mod W —
    // the same built-in md5 the oracle replays (functions, not UDFs)
    val est = least((0 until CmsAgg.D).map { r =>
      element_at(col("sk"),
        (lit(r * CmsAgg.W) +
          pmod(conv(substring(md5(col("token")), 8 * r + 1, 8), 16, 10)
            .cast("long"), lit(CmsAgg.W.toLong)) + 1).cast("int"))
    }: _*)
    top.join(sk, Seq("lang"))
      .select(col("lang"), col("rank"), col("token"), col("n"),
        est.as("est"), (est >= col("n")).as("overcount_ok"))
      .orderBy("lang", "rank")
  }

  /** Full CMS replay in SQL: same tokenizer, same md5-slice buckets,
    * same grid counts, same min-over-rows estimate. */
  def cmsEstimatesSql: String =
    s"""WITH tok AS (
       |  SELECT lang, unnest(${tokensSql("text")}) AS token FROM documents),
       |exact AS (SELECT lang, token, COUNT(*) AS n FROM tok GROUP BY lang, token),
       |ranked AS (${topKSql("exact", "lang", "n DESC, token", TopkRanks, "rank")}),
       |rws AS (SELECT unnest(range(4)) AS r),
       |cnt AS (
       |  SELECT t.lang, w.r,
       |    ('0x' || substr(md5(t.token), CAST(8*w.r + 1 AS INT), 8))::BIGINT % 64 AS b,
       |    COUNT(*) AS c
       |  FROM tok t CROSS JOIN rws w GROUP BY 1, 2, 3),
       |probe AS (
       |  SELECT k.lang, k.rank, k.token, k.n, w.r,
       |    ('0x' || substr(md5(k.token), CAST(8*w.r + 1 AS INT), 8))::BIGINT % 64 AS b
       |  FROM ranked k CROSS JOIN rws w)
       |SELECT p.lang, p.rank, p.token, p.n,
       |  CAST(MIN(COALESCE(c.c, 0)) AS BIGINT) AS est,
       |  MIN(COALESCE(c.c, 0)) >= p.n AS overcount_ok
       |FROM probe p LEFT JOIN cnt c
       |  ON c.lang = p.lang AND c.r = p.r AND c.b = p.b
       |GROUP BY p.lang, p.rank, p.token, p.n
       |ORDER BY p.lang, p.rank""".stripMargin

  /** Zipf-law fit of the word-frequency distribution: log-log
    * regression slope of frequency vs rank (natural text sits near
    * −1; a flat or near-0 slope is a corpus-quality red flag —
    * synthetic/templated text, as this generator's ≈−0.18 shows).
    * One corpus tokenize into word counts, a vocab-sized rank window,
    * then the least-squares slope from per-point terms rounded to 9
    * and decimal-summed (the score_dsir ln-precision recipe) so both
    * engines feed identical exact sums into one final double
    * expression. At scale the rank window runs over the VOCAB table
    * (cap it top-N for a truly unbounded vocabulary). */
  def zipfSlope(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val freq = Tables.documents(spark, d)
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
    val pts = freq
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n").desc, col("tok"))))
      .select(round(log(col("rank").cast("double")), 9).as("x"),
        round(log(col("n").cast("double")), 9).as("y"))
    val dsum12 = (c: org.apache.spark.sql.Column) =>
      sum(c.cast("decimal(28,12)")).cast("double")
    pts.agg(
        count(lit(1)).as("m"),
        dsum12(col("x")).as("sx"),
        dsum12(col("y")).as("sy"),
        dsum12(round(col("x") * col("y"), 9)).as("sxy"),
        dsum12(round(col("x") * col("x"), 9)).as("sxx"))
      .select(col("m"),
        round((col("m") * col("sxy") - col("sx") * col("sy")) /
          (col("m") * col("sxx") - col("sx") * col("sx")), 6).as("zipf_slope"))
  }

  def zipfSlopeSql: String =
    s"""WITH freq AS (
       |  SELECT tok, COUNT(*) AS n FROM (
       |    SELECT unnest(${tokensSql("text")}) AS tok FROM documents) t
       |  GROUP BY tok),
       |ranked AS (
       |  SELECT row_number() OVER (ORDER BY n DESC, tok) AS rank, n FROM freq),
       |pts AS (
       |  SELECT round(ln(CAST(rank AS DOUBLE)), 9) AS x,
       |    round(ln(CAST(n AS DOUBLE)), 9) AS y
       |  FROM ranked),
       |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS m,
       |  CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) AS sx,
       |  CAST(SUM(CAST(y AS DECIMAL(28,12))) AS DOUBLE) AS sy,
       |  CAST(SUM(CAST(round(x*y, 9) AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
       |  CAST(SUM(CAST(round(x*x, 9) AS DECIMAL(28,12))) AS DOUBLE) AS sxx
       |  FROM pts)
       |SELECT m, round((m*sxy - sx*sy) / (m*sxx - sx*sx), 6) AS zipf_slope
       |FROM s""".stripMargin

  /** BPE merge training — 5 iterations of REAL byte-pair-encoding
    * vocabulary learning (count adjacent symbol pairs, merge the most
    * frequent, repeat), the tokenizer-construction step every LLM
    * pipeline runs before `text_token_stats`-style counting. Written
    * the way it scales: the corpus is read ONCE into a word-frequency
    * table (standard word-level pre-tokenization), checkpointed; every
    * merge iteration is VOCAB-sized work (pair explode over the
    * symbol sequences, weighted by word count), and the driver sees
    * exactly one (pair, count) row per iteration — the bounded
    * per-round action [[GraphOps.pagerank]] also uses. Ties break
    * count-desc then pair-asc, so the learned merges are
    * deterministic; pair substitution is literal non-overlapping
    * left-to-right `replace` on space-joined symbols — identical
    * semantics in both engines — and the oracle replays all 5
    * iterations as unrolled CTE stages. */
  def bpeMerges(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    bpeTrain(spark, d)._1.toDF("merge_rank", "pair", "cnt").orderBy("merge_rank")
  }

  /** Shared BPE training core: returns (learned merges, the final
    * symbol-sequence-per-word table after applying them). One driver
    * round-trip (1 row) per merge — exact sequential BPE, right for
    * the declared 5-round query; a real 30k+-merge vocabulary goes
    * through [[bpeTrainBatched]], which amortizes the driver actions
    * over symbol-disjoint merge batches. */
  private def bpeTrain(spark: SparkSession, d: String)
      : (Seq[(Int, String, Long)], DataFrame) = {
    val chars = filter(split(col("tok"), ""), c => c =!= "")
    var seq = Tables.documents(spark, d)
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .select(concat_ws(" ", chars).as("seq"), col("n"))
      .localCheckpoint(false) // one corpus scan; iterations are vocab-sized
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    var k = 1
    var exhausted = false
    while (k <= BpeMergeRounds && !exhausted) {
      val top = seq
        .select(split(col("seq"), " ").as("l"), col("n"))
        .where(size(col("l")) >= 2)
        .select(explode(transform(sequence(lit(1), size(col("l")) - 1),
          i => concat(element_at(col("l"), i), lit(" "),
            element_at(col("l"), i + 1)))).as("p"), col("n"))
        .groupBy(col("p")).agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("p")).limit(1)
        .collect().headOption
      top match {
        case None => exhausted = true // every word fully merged already
        case Some(row) =>
          val (pair, cnt) = (row.getString(0), row.getLong(1))
          merges += ((k, pair, cnt))
          seq = seq.select(
            trim(replace(concat(lit(" "), col("seq"), lit(" ")),
              lit(s" $pair "),
              lit(" " + pair.replace(" ", "") + " "))).as("seq"), col("n"))
          k += 1
      }
    }
    (merges.toSeq, seq)
  }

  /** Batched BPE training — the scale continuation of [[bpeTrain]]
    * for real 30k–100k-merge vocabularies, where one driver round-trip
    * PER MERGE is a wall-clock non-starter. Each round costs ONE
    * vocab-sized pair-count job + ONE bounded driver action (top
    * `candidates` pair rows) + ONE apply pass, and learns every
    * greedily-chosen symbol-disjoint pair from the candidate list — so
    * an m-merge vocabulary takes O(m / merges-per-round) Spark jobs
    * (measured ≥8 merges/round on the synthetic corpus; real text with
    * a large alphabet does far better).
    *
    * Batch safety: two same-round merges commute iff their symbol sets
    * are disjoint AND neither's merged output collides with the
    * other's inputs. The greedy filter enforces both with one
    * used-symbol set: accept (x, y) iff x, y, and xy are all unseen,
    * then mark all three used. Within a round, counts are against the
    * PRE-round corpus (the standard batched-BPE semantics), which is
    * why the batched merge SEQUENCE can differ from sequential BPE's
    * after round 1 — and why [[bpeMerges]] (exact sequential BPE,
    * DuckDB-replayable as unrolled CTEs) remains the declared surface
    * while this is the documented scale path (ScaleStressSpec trains
    * ≥64 merges in a bounded number of rounds). */
  private[graft] def bpeTrainBatched(spark: SparkSession, d: String,
      nMerges: Int, candidates: Int = 256): (Seq[(Int, String, Long)], Int) = {
    val chars = filter(split(col("tok"), ""), c => c =!= "")
    var seq = Tables.documents(spark, d)
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .select(concat_ws(" ", chars).as("seq"), col("n"))
      .localCheckpoint(false) // one corpus scan; rounds are vocab-sized
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    var rounds = 0
    var exhausted = false
    while (merges.size < nMerges && !exhausted) {
      val top = seq
        .select(split(col("seq"), " ").as("l"), col("n"))
        .where(size(col("l")) >= 2)
        .select(explode(transform(sequence(lit(1), size(col("l")) - 1),
          i => concat(element_at(col("l"), i), lit(" "),
            element_at(col("l"), i + 1)))).as("p"), col("n"))
        .groupBy(col("p")).agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("p")).limit(candidates)
        .collect() // the round's one driver action: ≤ `candidates` rows
      rounds += 1
      if (top.isEmpty) exhausted = true
      else {
        val used = scala.collection.mutable.Set.empty[String]
        val chosen = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
        top.foreach { row =>
          val (pair, cnt) = (row.getString(0), row.getLong(1))
          if (merges.size + chosen.size < nMerges) {
            val Array(x, y) = pair.split(" ", 2)
            if (!used(x) && !used(y) && !used(x + y)) {
              chosen += ((pair, cnt))
              used ++= Seq(x, y, x + y)
            }
          }
        }
        chosen.foreach { case (pair, cnt) =>
          merges += ((merges.size + 1, pair, cnt))
        }
        // one apply pass for the whole batch: symbol-disjoint replaces
        // commute, folded in chosen order for determinism; same
        // space-padded non-overlapping replace as the sequential core
        val applied = chosen.foldLeft(concat(lit(" "), col("seq"), lit(" "))) {
          case (c, (pair, _)) =>
            replace(c, lit(s" $pair "), lit(" " + pair.replace(" ", "") + " "))
        }
        seq = seq.select(trim(applied).as("seq"), col("n"))
        // periodic checkpoint keeps the replace-chain lineage bounded
        if (rounds % 8 == 0) seq = seq.localCheckpoint(false)
      }
    }
    (merges.toSeq, rounds)
  }

  /** The APPLY side of [[bpeMerges]]: segment the vocabulary with the
    * learned merges and emit the resulting subword-token histogram —
    * what the trained tokenizer actually produces over this corpus
    * (top 15, weighted by word frequency; learned multi-char subwords
    * surface next to residual single characters). Same scale shape as
    * training: everything after the one corpus scan is vocab-sized. */
  def bpeTokenize(spark: SparkSession, d: String): DataFrame = {
    val (_, seq) = bpeTrain(spark, d)
    seq.select(explode(split(col("seq"), " ")).as("token"), col("n"))
      .groupBy(col("token")).agg(sum(col("n")).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(15)
  }

  def bpeTokenizeSql: String = {
    // replay training (bpeMergesSql's unrolled stages), apply the 5th
    // merge too, then histogram the final symbol stream
    val mergeAll = (0 until BpeMergeRounds).map { k =>
      // COALESCE: an exhausted round (empty top$k → NULL scalar
      // subqueries → NULL replace) must degrade to a no-op stage, the
      // way the Scala trainer's early `exhausted` stop does — without
      // it every later seq stage is NULL and the histogram diverges.
      s"""seq${k + 1} AS (
         |  SELECT trim(COALESCE(replace(' ' || seq || ' ',
         |    ' ' || (SELECT p FROM top$k) || ' ',
         |    ' ' || (SELECT replace(p, ' ', '') FROM top$k) || ' '),
         |    ' ' || seq || ' ')) AS seq, n
         |  FROM seq$k)""".stripMargin
    }
    val pairsTops = (0 until BpeMergeRounds).map { k =>
      s"""pairs$k AS (
         |  SELECT p, CAST(SUM(n) AS BIGINT) AS cnt FROM (
         |    SELECT unnest(list_transform(range(1, len(l)),
         |      i -> l[i] || ' ' || l[i+1])) AS p, n
         |    FROM (SELECT string_split(seq, ' ') AS l, n FROM seq$k) s) u
         |  GROUP BY p),
         |top$k AS (SELECT p, cnt FROM pairs$k ORDER BY cnt DESC, p LIMIT 1)""".stripMargin
    }
    val base =
      s"""words AS (
         |  SELECT tok AS word, COUNT(*) AS n FROM (
         |    SELECT unnest(${tokensSql("text")}) AS tok FROM documents) t
         |  GROUP BY tok),
         |seq0 AS (
         |  SELECT array_to_string(string_split(word, ''), ' ') AS seq, n
         |  FROM words)""".stripMargin
    val stages = (0 until BpeMergeRounds)
      .map(k => pairsTops(k) + ",\n" + mergeAll(k)).mkString(",\n")
    s"""WITH $base,
       |$stages
       |SELECT token, CAST(SUM(n) AS BIGINT) AS cnt FROM (
       |  SELECT unnest(string_split(seq, ' ')) AS token, n
       |  FROM seq$BpeMergeRounds) t
       |GROUP BY token ORDER BY cnt DESC, token LIMIT 15""".stripMargin
  }

  private val BpeMergeRounds = 5

  def bpeMergesSql: String = {
    val base =
      s"""words AS (
         |  SELECT tok AS word, COUNT(*) AS n FROM (
         |    SELECT unnest(${tokensSql("text")}) AS tok FROM documents) t
         |  GROUP BY tok),
         |seq0 AS (
         |  SELECT array_to_string(string_split(word, ''), ' ') AS seq, n
         |  FROM words)""".stripMargin
    def pairs(k: Int) =
      s"""pairs$k AS (
         |  SELECT p, CAST(SUM(n) AS BIGINT) AS cnt FROM (
         |    SELECT unnest(list_transform(range(1, len(l)),
         |      i -> l[i] || ' ' || l[i+1])) AS p, n
         |    FROM (SELECT string_split(seq, ' ') AS l, n FROM seq$k) s) u
         |  GROUP BY p),
         |top$k AS (SELECT p, cnt FROM pairs$k ORDER BY cnt DESC, p LIMIT 1)""".stripMargin
    // COALESCE: see bpeTokenizeSql — an exhausted round's empty top$k
    // must no-op the stage (the merges UNION then naturally emits zero
    // rows for that round, matching the Scala loop's early stop).
    def merge(k: Int) =
      s"""seq${k + 1} AS (
         |  SELECT trim(COALESCE(replace(' ' || seq || ' ',
         |    ' ' || (SELECT p FROM top$k) || ' ',
         |    ' ' || (SELECT replace(p, ' ', '') FROM top$k) || ' '),
         |    ' ' || seq || ' ')) AS seq, n
         |  FROM seq$k)""".stripMargin
    val stages = (0 until BpeMergeRounds).map { k =>
      pairs(k) + (if (k < BpeMergeRounds - 1) ",\n" + merge(k) else "")
    }.mkString(",\n")
    val out = (0 until BpeMergeRounds)
      .map(k => s"SELECT ${k + 1} AS merge_rank, p AS pair, cnt FROM top$k")
      .mkString("\nUNION ALL ")
    s"WITH $base,\n$stages\nSELECT * FROM (\n$out) r ORDER BY merge_rank"
  }

  /** Jensen–Shannon divergence of each source's token distribution
    * from the corpus-wide one — the domain-mix drift monitor a
    * multi-source training pipeline runs per crawl snapshot (a source
    * whose JSD jumps changed its content mix). Distributions live on
    * a BOUNDED support — the top-100 corpus tokens (count-desc,
    * token-asc) — so the |sources|×|support| comparison frame is
    * fixed-size however large the corpus grows; the frame is built
    * with a broadcast of the support against the |sources|-row totals
    * and a LEFT join of per-source counts, so a token a source lacks
    * contributes its full q-side JSD mass instead of silently
    * vanishing (truncated-divergence bug). JSD is symmetric and
    * bounded [0, ln 2]; both halves' ln terms are rounded to 9 and
    * summed through decimal. */
  def textJsd(spark: SparkSession, d: String): DataFrame = {
    val tok = Tables.documents(spark, d)
      .select(col("source"), explode(tokens(col("text"))).as("t"))
    val support = tok.groupBy(col("t")).agg(count(lit(1)).as("qn"))
      .orderBy(col("qn").desc, col("t")).limit(100)
    val stot = support.agg(sum(col("qn")).cast("double").as("qtot"))
    val src = tok.join(broadcast(support.select(col("t"))), Seq("t"))
      .groupBy(col("source"), col("t")).agg(count(lit(1)).as("pn"))
    val srctot = src.groupBy(col("source"))
      .agg(sum(col("pn")).cast("double").as("ptot"))
    val frame = srctot.crossJoin(broadcast(support))
      .join(src, Seq("source", "t"), "left")
      .crossJoin(broadcast(stot))
      .select(col("source"),
        (coalesce(col("pn"), lit(0L)).cast("double") / col("ptot")).as("p"),
        (col("qn").cast("double") / col("qtot")).as("q"))
    val m2 = (col("p") + col("q")) / lit(2.0)
    val contrib = frame.select(col("source"),
      (when(col("p") > 0, round(lit(0.5) * col("p") * log(col("p") / m2), 9))
        .otherwise(lit(0.0)) +
        round(lit(0.5) * col("q") * log(col("q") / m2), 9)).as("c"))
    contrib.groupBy(col("source"))
      .agg(count(lit(1)).as("n_support"),
        round(sum(col("c").cast("decimal(28,12)")).cast("double"), 6).as("jsd"))
      .orderBy("source")
  }

  def textJsdSql: String =
    s"""WITH tok AS (SELECT source, unnest(${tokensSql("text")}) AS t FROM documents),
       |corpus AS (SELECT t, COUNT(*) AS n FROM tok GROUP BY t),
       |support AS (SELECT t, n FROM corpus ORDER BY n DESC, t LIMIT 100),
       |stot AS (SELECT CAST(SUM(n) AS DOUBLE) AS tot FROM support),
       |src AS (
       |  SELECT tok.source, tok.t, COUNT(*) AS n
       |  FROM tok JOIN support USING (t) GROUP BY 1, 2),
       |srctot AS (SELECT source, CAST(SUM(n) AS DOUBLE) AS tot FROM src GROUP BY source),
       |frame AS (
       |  SELECT st.source, sup.t, sup.n AS qn, COALESCE(src.n, 0) AS pn
       |  FROM srctot st CROSS JOIN support sup
       |  LEFT JOIN src ON src.source = st.source AND src.t = sup.t),
       |terms AS (
       |  SELECT f.source,
       |    CAST(f.pn AS DOUBLE) / st.tot AS p,
       |    CAST(f.qn AS DOUBLE) / (SELECT tot FROM stot) AS q
       |  FROM frame f JOIN srctot st ON st.source = f.source),
       |contrib AS (
       |  SELECT source,
       |    CASE WHEN p > 0 THEN round(0.5 * p * ln(p / ((p + q) / 2)), 9)
       |         ELSE 0 END
       |    + round(0.5 * q * ln(q / ((p + q) / 2)), 9) AS c
       |  FROM terms)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_support,
       |  round(CAST(SUM(CAST(c AS DECIMAL(28,12))) AS DOUBLE), 6) AS jsd
       |FROM contrib GROUP BY source ORDER BY source""".stripMargin

  /** Flesch–Kincaid grade-level readability per document — the
    * classic quality feature next to [[qualityScores]]' ratio signals
    * and the Gopher rules: 0.39·(words/sentences) +
    * 11.8·(syllables/words) − 15.59, with sentences counted as
    * terminator RUNS ([.!?]+), syllables approximated as vowel runs
    * ([aeiouy]+, the standard cheap estimator), and both clamped ≥ 1
    * so fragment documents score instead of dividing by zero. All
    * three inputs are exact integer counts from one regexp pass per
    * document (row-local, no shuffle beyond the final sort), so the
    * one float expression runs on identical operands in both engines
    * (round 6). */
  def readability(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .select(col("doc_id"),
        greatest(size(tokens(col("text"))), lit(1)).cast("long").as("n_words"),
        greatest(size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))), lit(1))
          .cast("long").as("n_sents"),
        size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0)))
          .cast("long").as("n_syll"))
      .select(col("doc_id"), col("n_words"), col("n_sents"), col("n_syll"),
        round(lit(0.39) * col("n_words").cast("double") / col("n_sents")
          + lit(11.8) * col("n_syll").cast("double") / col("n_words")
          - lit(15.59), 6).as("fk_grade"))
      .orderBy("doc_id")

  def readabilitySql: String =
    s"""WITH c AS (
       |  SELECT doc_id,
       |    greatest(len(${tokensSql("text")}), 1) AS n_words,
       |    greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sents,
       |    len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syll
       |  FROM documents)
       |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       |  CAST(n_sents AS BIGINT) AS n_sents, CAST(n_syll AS BIGINT) AS n_syll,
       |  round(0.39 * CAST(n_words AS DOUBLE) / n_sents
       |    + 11.8 * CAST(n_syll AS DOUBLE) / n_words - 15.59, 6) AS fk_grade
       |FROM c ORDER BY doc_id""".stripMargin

  /** Inverted-index build — the search-engine primitive the text
    * suite lacked: token → document-frequency + posting list, built
    * from ONE tokenize pass (shared [[OpsUtil.tokens]]), per-doc
    * `array_distinct` BEFORE the explode (so a token counts once per
    * document — df, not tf — and the exploded row count is bounded by
    * distinct-tokens-per-doc, not document length), then one shuffle
    * keyed on token with map-side combine. Posting lists are
    * `sort_array(collect_list(...))` — collect order is partition-
    * dependent, the sorted SET is not — and the declared face carries
    * a bounded 5-doc slice per token (full postings at 100 TB live in
    * storage, keyed by token; a driver-visible result never holds
    * them). Top-20 by df is TakeOrdered. */
  def invertedIndex(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("df"),
        // joined to a string: the driver's DuckDB compare hashes
        // scalar cells, not nested arrays
        array_join(slice(sort_array(collect_list(col("doc_id"))), 1, 5), ",")
          .as("sample_docs"))
      .orderBy(col("df").desc, col("token"))
      .limit(20)

  def invertedIndexSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(list_distinct(${tokensSql("text")})) AS token
       |  FROM documents)
       |SELECT token, COUNT(*) AS df,
       |  array_to_string(list_sort(list(doc_id))[1:5], ',') AS sample_docs
       |FROM tok GROUP BY token
       |ORDER BY df DESC, token LIMIT 20""".stripMargin

  /** Conjunctive (AND) term search through posting intersection — the
    * query side of [[invertedIndex]], written the way it scales: the
    * token filter prunes the exploded stream to the query terms'
    * postings BEFORE any shuffle, then one doc-keyed aggregate counts
    * distinct matched terms per document (= the k-way posting
    * intersection without pairwise joins; k terms intersect in one
    * pass whatever k is). Result is the per-language hit profile, so
    * the declared face stays dimension-sized. */
  def searchAnd(spark: SparkSession, d: String): DataFrame = {
    val terms = Seq("spark", "window", "join")
    val hits = Tables.documents(spark, d)
      .select(col("doc_id"), col("lang"),
        explode(array_distinct(tokens(col("text")))).as("token"))
      .where(col("token").isin(terms: _*))
      .groupBy(col("doc_id"), col("lang"))
      .agg(countDistinct(col("token")).as("n_terms"))
      .where(col("n_terms") === terms.size)
    hits.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy("lang")
  }

  def searchAndSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, lang, unnest(list_distinct(${tokensSql("text")})) AS token
       |  FROM documents),
       |hits AS (
       |  SELECT doc_id, lang FROM tok
       |  WHERE token IN ('spark', 'window', 'join')
       |  GROUP BY doc_id, lang HAVING COUNT(DISTINCT token) = 3)
       |SELECT lang, COUNT(*) AS n_docs,
       |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
       |FROM hits GROUP BY lang ORDER BY lang""".stripMargin

  /** Per-document character-trigram entropy — the gibberish/boilerplate
    * detector next to the token-level quality screens ([[gopherRules]]
    * works on words; this catches keyboard-mash and base64 blobs whose
    * WORDS look fine-length): H = −Σ p·ln p over the doc's trigram
    * distribution. Low entropy = repetitive (template/boilerplate),
    * abnormally high = near-uniform bytes (encoded junk). Per-doc work
    * is O(chars) — the trigram explode is a map-side transform on the
    * text the scan already read, and the two aggregates key on
    * (doc_id, tri) then doc_id, so nothing exceeds document
    * cardinality × distinct-trigram fan-out. Computed via the
    * count-form identity H = ln T − (Σ c·ln c)/T, which needs NO
    * totals join — the two aggregations pipeline on one shuffle.
    * Each c·ln c term quantizes to 12 decimals and sums as DECIMAL
    * (order-free — [[graft.ops.OpsUtil.dsum]] rationale); both
    * engines then evaluate the identical two-double expression. */
  def charEntropy(spark: SparkSession, d: String): DataFrame =
    // one fused per-row pass (graft.functions.TrigramStats, the
    // SimHash60 pattern): the explode-every-trigram original shuffled
    // ~70× the document count through TWO aggregations; this keeps
    // entropy entirely inside the scan projection — the only exchange
    // left is the final orderBy. Decimal quantization is replicated
    // bit-for-bit (see the expression's Scaladoc), so the DuckDB
    // oracle is unchanged. n_trigrams > 0 mirrors the oracle's
    // "no trigrams → no row" semantics for sub-3-char docs.
    Tables.documents(spark, d)
      .select(col("doc_id"),
        graft.functions.TrigramStats.trigramStats(lower(col("text"))).as("ts"))
      .select(col("doc_id"), col("ts.n_trigrams").as("n_trigrams"),
        col("ts.n_distinct").as("n_distinct"), col("ts.entropy").as("entropy"))
      .where(col("n_trigrams") > 0)
      .orderBy("doc_id")

  def charEntropySql: String =
    """WITH tg AS (
      |  SELECT doc_id, substr(lower(text), CAST(i AS INT), 3) AS tri
      |  FROM (SELECT doc_id, text, unnest(range(1, length(text) - 1)) AS i
      |        FROM documents)),
      |c AS (SELECT doc_id, tri, COUNT(*) AS c FROM tg GROUP BY 1, 2),
      |t AS (
      |  SELECT doc_id, SUM(c) AS tot, COUNT(*) AS n_distinct,
      |    CAST(SUM(CAST(round(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)), 12)
      |      AS DECIMAL(28,12))) AS DOUBLE) AS clnc
      |  FROM c GROUP BY doc_id)
      |SELECT doc_id, CAST(tot AS BIGINT) AS n_trigrams,
      |  CAST(n_distinct AS BIGINT) AS n_distinct,
      |  round(ln(CAST(tot AS DOUBLE)) - clnc / CAST(tot AS DOUBLE), 9) AS entropy
      |FROM t ORDER BY doc_id""".stripMargin

  /** Feature hashing (the hashing trick): every token routed to one of
    * [[HashFeatureBuckets]] buckets by the shared cross-engine hash —
    * the classical-ML vectorizer (no vocabulary build, no OOV, fixed
    * width at any corpus size, which is exactly why it scales: the
    * "vocabulary" never crosses the cluster). Declared summary per
    * document: non-zero bucket count, squared L2 norm of the count
    * vector (exact integer), and the dominant bucket
    * (max count, min bucket id tie-break via min_by on a sort key —
    * deterministic). The full sparse vector is the (doc_id, bucket, c)
    * intermediate; the summary keeps the declared output
    * array-free. */
  private val HashFeatureBuckets = 1024

  def hashFeatures(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"),
        (xhash60(col("tok"), 7) % HashFeatureBuckets).as("bucket"))
      .groupBy(col("doc_id"), col("bucket")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nnz"),
        sum(col("c") * col("c")).as("sum_sq"),
        min_by(col("bucket"), struct((-col("c")).as("nc"), col("bucket")))
          .as("top_bucket"))
      .orderBy("doc_id")

  def hashFeaturesSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(${tokensSql("text")}) AS tok FROM documents),
       |b AS (
       |  SELECT doc_id, ${xhash60Sql("tok", 7)} % $HashFeatureBuckets AS bucket,
       |    COUNT(*) AS c
       |  FROM tok GROUP BY 1, 2),
       |s AS (
       |  SELECT doc_id, COUNT(*) AS nnz, SUM(c*c) AS sum_sq, MAX(c) AS maxc
       |  FROM b GROUP BY doc_id)
       |SELECT s.doc_id, CAST(s.nnz AS BIGINT) AS nnz,
       |  CAST(s.sum_sq AS BIGINT) AS sum_sq,
       |  CAST(MIN(b.bucket) AS BIGINT) AS top_bucket
       |FROM s JOIN b ON b.doc_id = s.doc_id AND b.c = s.maxc
       |GROUP BY s.doc_id, s.nnz, s.sum_sq ORDER BY s.doc_id""".stripMargin

  /** RAKE keyword extraction (Rose et al. 2010): candidate phrases are
    * maximal stopword-free token runs; each word scores
    * degree/frequency over the whole corpus (degree = Σ length of the
    * phrases it appears in — co-occurrence-rich words win); a phrase
    * scores the sum of its words' scores; declared output is the
    * corpus top-[[RakeTopK]]. The multi-word phrase reconstruction is
    * the dim-sorted-collect trick (positions ride the explode; no
    * order-dependent collect). Shape: one posexplode per doc, run
    * segmentation on the (doc, pos) window, word stats are one
    * token-keyed aggregate (|vocab| rows, broadcast back), and the
    * top-K cut rides a unique (score, doc, run) total order so the
    * limit is deterministic. Per-word scores round to 9 and sum as
    * DECIMAL — order-free. */
  private val RakeTopK = 20

  def rakeKeywords(spark: SparkSession, d: String): DataFrame = {
    val stop = Stopwords.filter(_._1 == "en").map(_._2)
    val toks = Tables.documents(spark, d)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
      .withColumn("is_stop", col("tok").isInCollection(stop))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val words = toks
      .withColumn("run", sum(col("is_stop").cast("int")).over(w))
      .where(!col("is_stop"))
      .select(col("doc_id"), col("run"), col("pos"), col("tok"))
      .localCheckpoint(false) // read by phrases AND word stats
    val phrases = words.groupBy(col("doc_id"), col("run"))
      .agg(concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            s => s.getField("tok"))).as("phrase"),
        count(lit(1)).as("n_words"))
    val wordStats = words
      .join(phrases.select(col("doc_id"), col("run"), col("n_words")),
        Seq("doc_id", "run"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("freq"), sum(col("n_words")).as("wdeg"))
    val scored = words
      .join(broadcast(wordStats), Seq("tok"))
      .groupBy(col("doc_id"), col("run"))
      .agg(round(sum(
          round(col("wdeg").cast("double") / col("freq"), 9).cast("decimal(18,9)"))
        .cast("double"), 6).as("score"))
    phrases.join(scored, Seq("doc_id", "run"))
      .orderBy(col("score").desc, col("doc_id"), col("run"))
      .limit(RakeTopK)
      .select(col("doc_id"), col("phrase"), col("n_words"), col("score"))
      .orderBy(col("score").desc, col("doc_id"), col("run"))
  }

  def rakeKeywordsSql: String = {
    val stop = Stopwords.filter(_._1 == "en").map("'" + _._2 + "'").mkString(", ")
    s"""WITH tok AS (
       |  SELECT doc_id, pos, tok, tok IN ($stop) AS is_stop FROM (
       |    SELECT doc_id,
       |      unnest(range(0, len(${tokensSql("text")}))) AS pos,
       |      unnest(${tokensSql("text")}) AS tok
       |    FROM documents)),
       |words AS (
       |  SELECT doc_id, run, pos, tok FROM (
       |    SELECT doc_id, pos, tok, is_stop,
       |      SUM(CAST(is_stop AS INT)) OVER (
       |        PARTITION BY doc_id ORDER BY pos) AS run
       |    FROM tok) WHERE NOT is_stop),
       |phrases AS (
       |  SELECT doc_id, run, string_agg(tok, ' ' ORDER BY pos) AS phrase,
       |    COUNT(*) AS n_words
       |  FROM words GROUP BY doc_id, run),
       |ws AS (
       |  SELECT tok, COUNT(*) AS freq, SUM(n_words) AS wdeg
       |  FROM words JOIN phrases USING (doc_id, run) GROUP BY tok),
       |scored AS (
       |  SELECT doc_id, run,
       |    round(CAST(SUM(CAST(round(CAST(wdeg AS DOUBLE) / freq, 9)
       |      AS DECIMAL(18,9))) AS DOUBLE), 6) AS score
       |  FROM words JOIN ws USING (tok) GROUP BY doc_id, run)
       |SELECT doc_id, phrase, CAST(n_words AS BIGINT) AS n_words, score
       |FROM phrases JOIN scored USING (doc_id, run)
       |ORDER BY score DESC, doc_id, run LIMIT $RakeTopK""".stripMargin
  }

  /** BM25 query-term set and ranking depth. Terms chosen present at
    * every SF; k1 = 1.2, b = 0.75 (the Robertson defaults). */
  private val Bm25Terms = Seq("hash", "join", "stream")
  private val Bm25TopK  = 20

  /** BM25 document ranking — the retrieval scorer the text suite
    * lacked (TF-IDF extracts keywords; BM25 RANKS documents for a
    * query): for the fixed query [[Bm25Terms]], per-term
    * idf = ln((N − df + 0.5)/(df + 0.5) + 1) and per-doc
    * tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl)), summed over the query
    * terms; top-[[Bm25TopK]] docs, ties by doc_id.
    *
    * Scale shape: the corpus tokenizes ONCE and the query-term filter
    * sits directly on the exploded stream, so the (doc, term) shuffle
    * carries only query-term hits — |terms|-bounded, not vocabulary-
    * sized; df/idf is a 3-row broadcast; dl is one doc-sized
    * aggregation; N and Σdl are 1-row broadcast scalars. The final
    * top-K is TakeOrdered (distributed heap-select, no global sort),
    * and the rank window runs AFTER the limit on [[Bm25TopK]] rows —
    * the single-partition window touches a constant-size set at any
    * SF. Per-term scores round at 9, sum through DECIMAL(18,9) (the
    * text_rake recipe), so both engines rank identical exact values. */
  def bm25Rank(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = Tables.documents(spark, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    // r17 opt (guide §2.4, plans/r17/text_bm25_before.txt): dl, stats,
    // tf and idf each re-derived from `tok`, and Spark re-executes
    // shared subplans — the before-plan scans and tokenizes the corpus
    // FIVE times (each behind its own fan-out exchange). One doc-keyed
    // aggregate computes dl AND the per-query-term counts together
    // (the term list is a fixed ≤3-entry constant, so the pivot adds
    // three codegen'd conditional sums), checkpointed once; dl/stats/
    // tf/idf all derive from those |docs|-sized blocks. tf rows are
    // identical: explode of the pivot filtered to tf > 0 reproduces
    // exactly the (doc, term) groups the old groupBy produced.
    val per = tok.groupBy(col("doc_id")).agg(
      count(lit(1)).as("dl"),
      Bm25Terms.map(t =>
        sum(when(col("term") === t, 1L).otherwise(0L)).as(s"tf_$t")): _*)
      .localCheckpoint(false)
    val dl = per.select(col("doc_id"), col("dl"))
    val stats = per.agg(count(lit(1)).cast("double").as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val tf = per.select(col("doc_id"), explode(array(Bm25Terms.map(t =>
        struct(lit(t).as("term"), col(s"tf_$t").as("tf"))): _*)).as("e"))
      .where(col("e.tf") > 0)
      .select(col("doc_id"), col("e.term").as("term"), col("e.tf").as("tf"))
    val idf = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
      .select(col("term"),
        round(log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1), 6)
          .as("idf"))
    val scored = tf.join(broadcast(idf), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        round(col("idf") * col("tf") * 2.2 /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))),
          9).as("term_score"))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("term_score").cast("decimal(18,9)")).cast("double"), 9)
        .as("score"))
    scored.orderBy(col("score").desc, col("doc_id")).limit(Bm25TopK)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))))
      .orderBy(col("rank"))
  }

  def bm25RankSql: String = {
    val termList = Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(${tokensSql("text")}) AS term FROM documents),
       |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
       |stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
       |    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
       |  WHERE term IN ($termList) GROUP BY 1, 2),
       |idf AS (SELECT term,
       |    round(ln((n_docs - df + 0.5) / (df + 0.5) + 1), 6) AS idf
       |  FROM (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1), stats),
       |scored AS (
       |  SELECT tf.doc_id,
       |    round(CAST(SUM(CAST(round(idf.idf * tf.tf * 2.2 /
       |        (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)), 9)
       |      AS DECIMAL(18,9))) AS DOUBLE), 9) AS score
       |  FROM tf JOIN idf USING (term) JOIN dl USING (doc_id), stats
       |  GROUP BY tf.doc_id)
       |SELECT doc_id, score,
       |  row_number() OVER (ORDER BY score DESC, doc_id) AS rank
       |FROM scored QUALIFY rank <= $Bm25TopK ORDER BY rank""".stripMargin
  }

  /** Heaps-law vocabulary growth over 3-gram shingles — the curve a
    * tokenizer/dedup owner reads before sizing vocabulary budgets:
    * docs split into 10 ingestion-order deciles (by doc_id), each
    * reporting its shingle volume, NEW shingle types (first global
    * occurrence lands in this decile), and the cumulative vocabulary.
    * Shingle-level, not token-level: the synthetic corpus's closed
    * word vocab saturates in decile 1, while the 3-gram space keeps
    * growing — the curve the law describes.
    *
    * Scale shape: first-occurrence is ONE (shingle → min doc_id)
    * aggregate — no cumulative distinct per prefix. The decile rank
    * window orders the doc-ID LIST (one narrow column; at real scale
    * ingestion deciles come from shard manifests instead — noted, and
    * the window input is |docs|, never tokens). Cumulative sum runs
    * on 10 rows. All exact integers. */
  def heapsGrowth(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, d)
    val sh = docs.select(col("doc_id"), tokens(col("text")).as("tk"))
      .where(size(col("tk")) >= 3)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("tk")) - 2),
        i => concat_ws(" ", element_at(col("tk"), i),
          element_at(col("tk"), i + 1), element_at(col("tk"), i + 2)))).as("t"))
    val nd = docs.agg(countDistinct(col("doc_id")).as("n"))
    val rk = docs.select(col("doc_id")).distinct()
      .withColumn("r", row_number().over(Window.orderBy(col("doc_id"))))
      .crossJoin(broadcast(nd))
      .select(col("doc_id"),
        (expr("(r - 1) * 10 div n") + 1).cast("int").as("decile"))
    val firsts = sh.groupBy(col("t")).agg(min(col("doc_id")).as("fd"))
    val newv = firsts
      .join(rk.select(col("doc_id").as("fd"), col("decile")), Seq("fd"))
      .groupBy(col("decile")).agg(count(lit(1)).as("new_types"))
    val per = sh.join(rk, Seq("doc_id"))
      .groupBy(col("decile")).agg(count(lit(1)).as("n_grams"))
    per.join(newv, Seq("decile"), "left_outer")
      .select(col("decile"), col("n_grams"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
      .withColumn("vocab_cum", sum(col("new_types")).over(
        Window.orderBy(col("decile")).rowsBetween(Window.unboundedPreceding, 0)))
      .orderBy(col("decile"))
  }

  def heapsGrowthSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, ${tokensSql("text")} AS tk FROM documents),
       |tok AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
       |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS t
       |  FROM toks WHERE len(tk) >= 3),
       |nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
       |rk AS (SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS r
       |  FROM (SELECT DISTINCT doc_id FROM documents)),
       |dec AS (SELECT ((r - 1) * 10) // n + 1 AS decile, doc_id FROM rk, nd),
       |firsts AS (SELECT t, MIN(doc_id) AS fd FROM tok GROUP BY 1),
       |newv AS (SELECT d.decile, COUNT(*) AS new_types
       |  FROM firsts f JOIN dec d ON d.doc_id = f.fd GROUP BY 1),
       |per AS (SELECT d.decile, COUNT(*) AS n_grams
       |  FROM tok JOIN dec d USING (doc_id) GROUP BY 1)
       |SELECT CAST(p.decile AS INT) AS decile,
       |  CAST(p.n_grams AS BIGINT) AS n_grams,
       |  CAST(COALESCE(nv.new_types, 0) AS BIGINT) AS new_types,
       |  CAST(SUM(COALESCE(nv.new_types, 0)) OVER (ORDER BY p.decile) AS BIGINT)
       |    AS vocab_cum
       |FROM per p LEFT JOIN newv nv USING (decile) ORDER BY p.decile""".stripMargin

  /** Boilerplate detection thresholds: a 3-gram counts as boilerplate
    * when it appears in at least [[BoilerMinDocs]] distinct docs. */
  private val BoilerMinDocs = 3
  private val BoilerTopK    = 20

  /** Cross-document boilerplate detection — the C4/RefinedWeb curation
    * pass that strips navigation chrome and legal footers: 3-gram
    * shingles counted by DISTINCT-document frequency; the top
    * [[BoilerTopK]] shingles present in ≥ [[BoilerMinDocs]] docs are
    * the removal candidates. (Within-doc repetition is `text_gopher_rules`;
    * this is the ACROSS-doc signal.)
    *
    * Scale shape: the corpus tokenizes once; `array_distinct` dedups
    * shingles PER DOC map-side (no (doc, shingle) shuffle just to
    * dedup), so the single shuffle carries doc-frequency partials with
    * map-side combine. Top-K is TakeOrdered — distributed heap-select,
    * no global sort. Counts are exact integers. */
  def boilerplate(spark: SparkSession, d: String): DataFrame = {
    val tok = Tables.documents(spark, d)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .where(size(col("tk")) >= 3)
    tok.select(explode(array_distinct(transform(
        sequence(lit(1), size(col("tk")) - 2),
        i => concat_ws(" ", element_at(col("tk"), i),
          element_at(col("tk"), i + 1), element_at(col("tk"), i + 2)))))
        .as("shingle"))
      .groupBy(col("shingle")).agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") >= BoilerMinDocs)
      .orderBy(col("n_docs").desc, col("shingle")).limit(BoilerTopK)
  }

  /** Add-one-smoothed bigram language model, trained on the corpus
    * and scored back over every document — the LM-filter shape
    * (cc_net/KenLM-style) next to `score_ppl`'s hashed-unigram model:
    * per doc, mean of ln((c(w₁w₂)+1)/(c(w₁)+V)) over its bigrams.
    *
    * Scale shape: the corpus tokenizes ONCE into a (doc, w₁, bigram)
    * stream; counts aggregate onto bigram-vocabulary keys; the scored
    * model (per-bigram log-prob) is assembled model-side and the doc
    * stream joins it ONCE on the bigram key — vocabulary-sized tables
    * shuffle-join (never broadcast: a 100 TB corpus's bigram vocab is
    * not a dimension), V is a 1-row broadcast scalar. Log terms round
    * at 6 (ulp guard), sum through DECIMAL(18,9), mean rounds at 6. */
  def bigramLm(spark: SparkSession, d: String): DataFrame = {
    val tok = Tables.documents(spark, d)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
    val bg = tok.where(size(col("tk")) >= 2)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("tk")) - 1),
        i => struct(element_at(col("tk"), i).as("w1"),
          concat_ws(" ", element_at(col("tk"), i),
            element_at(col("tk"), i + 1)).as("b")))).as("t"))
      .select(col("doc_id"), col("t.w1").as("w1"), col("t.b").as("b"))
    val cb = bg.groupBy(col("b"), col("w1")).agg(count(lit(1)).as("c12"))
    val cu = bg.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val vocab = tok.select(explode(col("tk")).as("t"))
      .agg(countDistinct(col("t")).as("v"))
    val model = cb.join(cu, Seq("w1")).crossJoin(broadcast(vocab))
      .select(col("b"),
        round(log((col("c12") + lit(1.0)) / (col("c1") + col("v"))), 6).as("lp"))
    bg.join(model, Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("lp").cast("decimal(18,9)")).cast("double") /
          count(lit(1)), 6).as("avg_logp"))
      .orderBy(col("doc_id"))
  }

  def bigramLmSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, ${tokensSql("text")} AS tk FROM documents),
       |bg AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(1, len(tk)), i -> tk[i])) AS w1,
       |    unnest(list_transform(range(1, len(tk)),
       |      i -> tk[i] || ' ' || tk[i+1])) AS b
       |  FROM tok WHERE len(tk) >= 2),
       |cb AS (SELECT b, COUNT(*) AS c12 FROM bg GROUP BY 1),
       |cu AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
       |vocab AS (SELECT COUNT(DISTINCT t) AS v
       |  FROM (SELECT unnest(tk) AS t FROM tok)),
       |sc AS (SELECT bg.doc_id,
       |    round(ln((cb.c12 + 1.0) / (cu.c1 + vocab.v)), 6) AS lp
       |  FROM bg JOIN cb USING (b) JOIN cu USING (w1), vocab)
       |SELECT doc_id, COUNT(*) AS n_bigrams,
       |  round(CAST(SUM(CAST(lp AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6)
       |    AS avg_logp
       |FROM sc GROUP BY 1 ORDER BY doc_id""".stripMargin

  def boilerplateSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, ${tokensSql("text")} AS tk FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |    unnest(list_transform(range(1, len(tk) - 1),
       |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS shingle
       |  FROM tok WHERE len(tk) >= 3)
       |SELECT shingle, COUNT(*) AS n_docs FROM sh GROUP BY 1
       |HAVING COUNT(*) >= $BoilerMinDocs
       |ORDER BY n_docs DESC, shingle LIMIT $BoilerTopK""".stripMargin

  private val NgramTopK = 30

  /** Corpus-wide trigram frequency table (top [[NgramTopK]]): total
    * occurrences AND document frequency per trigram — the phrase-level
    * census behind stock-phrase detection and n-gram contamination
    * lists, complementing [[boilerplate]] (doc-distinct shingles over
    * a floor) with the raw occurrence counts a frequency analyst
    * needs. One tokenize pass, one explode, one trigram-keyed
    * map-side-combined aggregate (count + countDistinct plan as a
    * single two-level shuffle), TakeOrdered for the top-K with
    * tie-stable (count DESC, trigram ASC) order. */
  def ngramTopK(spark: SparkSession, d: String): DataFrame = {
    val tok = Tables.documents(spark, d)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .where(size(col("tk")) >= 3)
    tok.select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("tk")) - 2),
        i => concat_ws(" ", element_at(col("tk"), i),
          element_at(col("tk"), i + 1), element_at(col("tk"), i + 2))))
        .as("trigram"))
      .groupBy(col("trigram"))
      .agg(count(lit(1)).as("n_occ"), countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occ").desc, col("trigram")).limit(NgramTopK)
  }

  def ngramTopKSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, ${tokensSql("text")} AS tk FROM documents),
       |tri AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(1, len(tk) - 1),
       |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS trigram
       |  FROM tok WHERE len(tk) >= 3)
       |SELECT trigram, COUNT(*) AS n_occ,
       |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
       |FROM tri GROUP BY trigram
       |ORDER BY n_occ DESC, trigram LIMIT $NgramTopK""".stripMargin

  /** Polarity lexicon: token → ±1. Tiny here, but the operator shape
    * (per-token lookup folded in-array, integer doc score) is the
    * production one — a real lexicon swaps the CASE for a broadcast
    * map without touching the aggregation. */
  private val SentimentLex: Seq[(String, Int)] = Seq(
    "fast" -> 1, "big" -> 1, "spark" -> 1,
    "slow" -> -1, "small" -> -1, "dup" -> -1)

  /** Lexicon sentiment/polarity scoring per language — the
    * quality-filter shape every corpus pipeline runs (toxicity,
    * promotional-tone, spam lexicons): per-doc integer score =
    * Σ lexicon(token), then per-lang doc counts, mean score, and
    * positive/negative doc shares. Join-free: the lookup folds inside
    * the token array (one tokenize pass, no explode, no shuffle until
    * the ≤|langs|-key aggregate), so corpus cost is O(total tokens)
    * with a |langs|-row shuffle — the cheapest possible shape at
    * 100 TB. Scores are exact integers; shares and means divide two
    * exact numbers, rounded 9 ([[OpsUtil.dsum]] stance). */
  def sentiment(spark: SparkSession, d: String): DataFrame = {
    val score = aggregate(tokens(col("text")), lit(0L), (acc, t) =>
      acc + SentimentLex.foldLeft(when(lit(false), lit(0L))) {
        case (c, (w, s)) => c.when(t === w, lit(s.toLong))
      }.otherwise(lit(0L)))
    Tables.documents(spark, d)
      .select(col("lang"), score.as("s"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("s")).as("sum_score"),
        round(sum(col("s")).cast("double") / count(lit(1)), 9).as("avg_score"),
        round(sum(when(col("s") > 0, 1L).otherwise(0L)).cast("double") /
          count(lit(1)), 9).as("pos_share"),
        round(sum(when(col("s") < 0, 1L).otherwise(0L)).cast("double") /
          count(lit(1)), 9).as("neg_share"))
      .orderBy("lang")
  }

  def sentimentSql: String = {
    val cases = SentimentLex
      .map { case (w, s) => s"WHEN t = '$w' THEN $s" }
      .mkString("CASE ", " ", " ELSE 0 END")
    s"""WITH sc AS (
       |  SELECT lang,
       |    CAST(COALESCE(list_sum(list_transform(${tokensSql("text")},
       |      t -> $cases)), 0) AS BIGINT) AS s
       |  FROM documents)
       |SELECT lang, COUNT(*) AS n_docs, CAST(SUM(s) AS BIGINT) AS sum_score,
       |  round(CAST(SUM(s) AS DOUBLE) / COUNT(*), 9) AS avg_score,
       |  round(CAST(SUM(CASE WHEN s > 0 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / COUNT(*), 9) AS pos_share,
       |  round(CAST(SUM(CASE WHEN s < 0 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / COUNT(*), 9) AS neg_share
       |FROM sc GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** Fixed multi-script seed appended to every `zh` document in BOTH
    * engines: the driver corpus is pure ASCII, so CJK coverage is
    * introduced deterministically inside the query (same literal in
    * the Spark code and the oracle SQL — the segmentation itself is
    * the thing under test, and it runs over genuinely mixed-script
    * text). Han, Hiragana+Katakana (with embedded Kanji), and Hangul,
    * plus a Latin word inside the CJK run to exercise run switching. */
  private val CjkSeed =
    "深度学习需要大量训练数据 データのSpark重複除去は大切です 데이터 품질이 중요합니다"

  /** Unicode codepoint classes for deterministic script-aware
    * segmentation (the r13 verdict's top residual gap): no ICU, no
    * dictionary — pure codepoint ranges, so DuckDB replays the exact
    * rules. CJK scripts have no spaces; the standard analyzer
    * baseline is one token per Han/Kana/Hangul codepoint (what
    * Lucene's CJKBigramFilter/StandardTokenizer degrade to without a
    * dictionary), while Latin segments on non-letter/digit runs. */
  private val HanClass = "\\x{4E00}-\\x{9FFF}"
  private val KanaClass = "\\x{3040}-\\x{30FF}"
  private val HangulClass = "\\x{AC00}-\\x{D7AF}"
  private val CjkClass = HanClass + KanaClass + HangulClass

  /** Declared query `text_segment_cjk`: script-aware segmentation of
    * the (CJK-seeded) corpus. Every CJK codepoint becomes its own
    * token (space-padded via one regexp pass), Latin text lowercases
    * and splits on non-letter/digit runs; each token is classified by
    * FIRST-codepoint script class and the result is the per-class
    * token-frequency head (top 3 by count, ties broken by token) plus
    * class totals — a total order both engines reproduce exactly.
    *
    * Scale shape: seed + pad + split + explode are one codegen'd
    * map pass over the corpus scan; the only shuffle is the (class,
    * token) count — the word-count shape, pre-aggregated map-side.
    * At 100 TB the regexp pad is the cost to watch; it is a single
    * linear pass per doc (no backtracking — the pattern is one
    * character class). */
  def segmentCjk(spark: SparkSession, d: String): DataFrame = {
    val seeded = Tables.documents(spark, d)
      .select(when(col("lang") === "zh",
          concat(col("text"), lit(" " + CjkSeed)))
        .otherwise(col("text")).as("txt"))
    val toks = seeded
      .select(explode(split(lower(
          regexp_replace(col("txt"), s"([$CjkClass])", " $1 ")),
        "[^\\p{L}\\p{Nd}]+")).as("token"))
      .where(col("token") =!= "")
      .select(col("token"),
        when(col("token").rlike(s"^[$HanClass]"), "han")
          .when(col("token").rlike(s"^[$KanaClass]"), "kana")
          .when(col("token").rlike(s"^[$HangulClass]"), "hangul")
          .otherwise("latin").as("script"))
    val counts = toks.groupBy(col("script"), col("token"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("script"))
      .orderBy(col("n").desc, col("token"))
    val tot = Window.partitionBy(col("script"))
    counts
      .withColumn("rank", row_number().over(w))
      .withColumn("class_tokens", sum(col("n")).over(tot))
      .withColumn("class_distinct", count(lit(1)).over(tot))
      .where(col("rank") <= 3)
      .select(col("script"), col("rank"), col("token"), col("n"),
        col("class_tokens"), col("class_distinct"))
      .orderBy("script", "rank")
  }

  def segmentCjkSql: String = {
    val cjk = CjkClass
    s"""WITH seeded AS (
       |  SELECT CASE WHEN lang = 'zh' THEN text || ' $CjkSeed'
       |    ELSE text END AS txt
       |  FROM documents),
       |toks AS (
       |  SELECT unnest(string_split_regex(lower(
       |      regexp_replace(txt, '([$cjk])', ' \\1 ', 'g')),
       |    '[^\\p{L}\\p{Nd}]+')) AS token
       |  FROM seeded),
       |classed AS (
       |  SELECT token,
       |    CASE WHEN regexp_matches(token, '^[$HanClass]') THEN 'han'
       |         WHEN regexp_matches(token, '^[$KanaClass]') THEN 'kana'
       |         WHEN regexp_matches(token, '^[$HangulClass]') THEN 'hangul'
       |         ELSE 'latin' END AS script
       |  FROM toks WHERE token <> ''),
       |counts AS (
       |  SELECT script, token, COUNT(*) AS n
       |  FROM classed GROUP BY script, token),
       |ranked AS (
       |  SELECT script, token, n,
       |    ROW_NUMBER() OVER (PARTITION BY script ORDER BY n DESC, token) AS rank,
       |    SUM(n) OVER (PARTITION BY script) AS class_tokens,
       |    COUNT(*) OVER (PARTITION BY script) AS class_distinct
       |  FROM counts)
       |SELECT script, CAST(rank AS INT) AS rank, token, n,
       |  CAST(class_tokens AS BIGINT) AS class_tokens, class_distinct
       |FROM ranked WHERE rank <= 3 ORDER BY script, rank""".stripMargin
  }

  /** Fullwidth seed for `text_width_fold` (same deterministic-seeding
    * stance as [[CjkSeed]]): fullwidth Latin/digits/punct (U+FF01..
    * U+FF5E) plus the ideographic space U+3000, mixed with CJK — the
    * exact shape CJK web text arrives in, where "ＧＰＵ" and "GPU"
    * are different tokens until width folding unifies them. */
  private val WidthSeed =
    "ＧＰＵ１２８台で学習　ｓｐｅｅｄ！（ｖ２．０）"

  /** Declared query `text_width_fold`: Unicode width folding — map
    * every fullwidth form U+FF01..U+FF5E to its ASCII twin
    * (codepoint − 0xFEE0) and U+3000 to a plain space, the first
    * normalization pass of every CJK curation pipeline (NFKC's most
    * impactful subset, expressed as a deterministic 1:1 `translate`
    * both engines run verbatim — no ICU). The output proves the fold
    * does real work: per lang, the count of ASCII-word tokens BEFORE
    * vs AFTER folding (fullwidth "ｓｐｅｅｄ" only becomes a
    * recoverable token after the fold) and the total fullwidth chars
    * folded. One codegen'd map pass; the only shuffle is the |lang|-
    * keyed aggregate. */
  def widthFold(spark: SparkSession, d: String): DataFrame = {
    val from = (0xFF01 to 0xFF5E).map(_.toChar).mkString + '　'
    val to = (0x21 to 0x7E).map(_.toChar).mkString + " "
    val seeded = Tables.documents(spark, d)
      .select(col("lang"),
        when(col("lang") === "zh", concat(col("text"), lit(" " + WidthSeed)))
          .otherwise(col("text")).as("txt"))
      .withColumn("folded", translate(col("txt"), from, to))
    def asciiTokens(c: org.apache.spark.sql.Column) =
      size(regexp_extract_all(lower(c), lit("[a-z0-9]+"), lit(0))).cast("long")
    seeded
      .select(col("lang"),
        asciiTokens(col("txt")).as("tok_before"),
        asciiTokens(col("folded")).as("tok_after"),
        (length(col("txt")) - length(regexp_replace(col("txt"),
          s"[$from]", ""))).cast("long").as("fw_chars"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tok_before")).as("ascii_tokens_before"),
        sum(col("tok_after")).as("ascii_tokens_after"),
        sum(col("fw_chars")).as("fullwidth_chars"))
      .orderBy("lang")
  }

  /** NFKC-subset mapping table: each row is verbatim
    * `java.text.Normalizer.normalize(key, NFKC)` (pinned in
    * TextEdgeSpec — the table IS a subset of the real normalization,
    * not an approximation of it). Two families:
    * compatibility singletons (ligatures, superscripts, vulgar
    * fractions, letterlike symbols, ellipses) and canonical
    * COMPOSITION pairs (base + combining mark → precomposed — the NFC
    * half of NFKC, the form decomposed crawls arrive in). Keys never
    * appear in any value, so the chain is idempotent UNDER THE FIXED
    * TABLE ORDER both engines replay (not order-independent in
    * general: a value's trailing base letter can combine with a
    * following input mark — e.g. U+2116 "No" + U+0301 composes only
    * because the composition rows come after the singletons). Built
    * from codepoints (no raw combining chars in the source file). */
  private[ops] val NfkcTable: Seq[(String, String)] = {
    def s(cps: Int*): String = new String(cps.toArray, 0, cps.length)
    Seq(
      s(0xFB00) -> "ff", s(0xFB01) -> "fi", s(0xFB02) -> "fl",
      s(0xFB03) -> "ffi", s(0xFB04) -> "ffl",
      s(0xB9) -> "1", s(0xB2) -> "2", s(0xB3) -> "3", s(0x2070) -> "0",
      s(0xBD) -> s('1', 0x2044, '2'), s(0xBC) -> s('1', 0x2044, '4'),
      s(0xBE) -> s('3', 0x2044, '4'),
      s(0x2122) -> "TM", s(0x2116) -> "No",
      s(0x2103) -> s(0xB0, 'C'), s(0x2109) -> s(0xB0, 'F'),
      s(0xB5) -> s(0x3BC),     // micro sign -> greek mu
      s(0x2126) -> s(0x3A9),   // ohm sign -> omega
      s(0x212B) -> s(0xC5),    // angstrom sign -> A-ring
      s(0x2026) -> "...", s(0x2025) -> "..",
      s(0x2033) -> s(0x2032, 0x2032),
      // canonical composition: base + combining mark -> precomposed
      s('e', 0x301) -> s(0xE9), s('a', 0x301) -> s(0xE1),
      s('o', 0x301) -> s(0xF3), s('u', 0x308) -> s(0xFC),
      s('n', 0x303) -> s(0xF1), s('c', 0x327) -> s(0xE7))
  }

  /** NFKC seed (the [[WidthSeed]]/[[CjkSeed]] deterministic-seeding
    * stance): every table row appears at least once, mixed into
    * running text the way compatibility characters actually occur. */
  private val NfkcSeed: String = {
    def s(cps: Int*): String = new String(cps.toArray, 0, cps.length)
    s(0xFB01) + "nance o" + s(0xFB03) + "ce " + s(0xFB02) + "ow e" +
      s(0xFB00) + "ort su" + s(0xFB04) + "e x" + s(0xB2) + " y" + s(0xB3) +
      " z" + s(0xB9) + " n" + s(0x2070) + " " + s(0xBD) + " cup " +
      s(0xBC) + " left " + s(0xBE) + " done Graft" + s(0x2122) + " " +
      s(0x2116) + "5 20" + s(0x2103) + " 68" + s(0x2109) + " 3" +
      s(0xB5) + "s 50" + s(0x2126) + " 2" + s(0x212B) + " wait" +
      s(0x2026) + " gap" + s(0x2025) + " 5" + s(0x2033) + " caf" +
      s('e', 0x301) + " ma" + s('n', 0x303) + "ana " + s('u', 0x308) +
      "ber gar" + s('c', 0x327) + "on"
  }

  /** Declared query `text_nfkc`: deterministic NFKC-subset
    * normalization — the standard pass before dedup on multilingual
    * crawls ("ﬁnance" and "finance", "caf" + combining acute and
    * "café" are different strings until normalized, so near-dup pairs
    * silently miss). ICU/java.text.Normalizer can't run in DuckDB, so
    * the op IS an explicit mapping table (the `text_width_fold`
    * technique scaled up to 1:N replacements and canonical
    * composition pairs) that both engines replay verbatim as chained
    * `replace`; TextEdgeSpec pins every row to the real
    * Normalizer.normalize(NFKC) output. Declared result per lang:
    * docs, chars before/after, docs changed — one codegen'd map pass,
    * the only shuffle is the |lang|-keyed aggregate. */
  def nfkcFold(spark: SparkSession, d: String): DataFrame = {
    val seeded = Tables.documents(spark, d)
      .select(col("lang"),
        when(col("lang") === "fr", concat(col("text"), lit(" " + NfkcSeed)))
          .otherwise(col("text")).as("txt"))
    val folded = NfkcTable.foldLeft(col("txt")) { case (c, (from, to)) =>
      replace(c, lit(from), lit(to))
    }
    seeded.select(col("lang"), col("txt"), folded.as("folded"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("txt")).cast("long")).as("chars_before"),
        sum(length(col("folded")).cast("long")).as("chars_after"),
        sum(when(col("txt") =!= col("folded"), 1L).otherwise(0L))
          .as("docs_changed"))
      .orderBy("lang")
  }

  def nfkcFoldSql: String = {
    // mapped chars carry no quotes/backslashes; values are plain ASCII
    // or BMP letters — both embed verbatim in a DuckDB string literal
    val folded = NfkcTable.foldLeft("txt") { case (e, (from, to)) =>
      s"replace($e, '$from', '$to')"
    }
    s"""WITH seeded AS (
       |  SELECT lang,
       |    CASE WHEN lang = 'fr' THEN text || ' $NfkcSeed' ELSE text END AS txt
       |  FROM documents),
       |f AS (SELECT lang, txt, $folded AS folded FROM seeded)
       |SELECT lang, COUNT(*) AS n_docs,
       |  CAST(SUM(length(txt)) AS BIGINT) AS chars_before,
       |  CAST(SUM(length(folded)) AS BIGINT) AS chars_after,
       |  CAST(SUM(CASE WHEN txt <> folded THEN 1 ELSE 0 END) AS BIGINT)
       |    AS docs_changed
       |FROM f GROUP BY lang ORDER BY lang""".stripMargin
  }

  def widthFoldSql: String = {
    // `from` is entirely U+3000..U+FF5E — no ASCII quote/backslash/
    // regex metachars, so it embeds verbatim in both the SQL literal
    // and the RE2 character class (the ASCII twins in `to` DO carry
    // quote+backslash and need escaping)
    val from = (0xFF01 to 0xFF5E).map(_.toChar).mkString + '　'
    val to = (0x21 to 0x7E).map(_.toChar).mkString + " "
    val toSql = to.replace("'", "''")
    s"""WITH seeded AS (
       |  SELECT lang,
       |    CASE WHEN lang = 'zh' THEN text || ' $WidthSeed' ELSE text END AS txt
       |  FROM documents),
       |f AS (
       |  SELECT lang, txt, translate(txt, '$from', '$toSql') AS folded
       |  FROM seeded)
       |SELECT lang, COUNT(*) AS n_docs,
       |  CAST(SUM(len(regexp_extract_all(lower(txt), '[a-z0-9]+'))) AS BIGINT)
       |    AS ascii_tokens_before,
       |  CAST(SUM(len(regexp_extract_all(lower(folded), '[a-z0-9]+'))) AS BIGINT)
       |    AS ascii_tokens_after,
       |  CAST(SUM(length(txt) - length(regexp_replace(txt, '[$from]', '', 'g')))
       |    AS BIGINT) AS fullwidth_chars
       |FROM f GROUP BY lang ORDER BY lang""".stripMargin
  }

  // ---------------------------------------------------------------
  // text_stem: Porter stemming over the corpus vocabulary
  // ---------------------------------------------------------------

  /** Inflection-family seed for `text_stem` (the [[NfkcSeed]]
    * deterministic-seeding stance): the synthetic corpus vocabulary is
    * 31 uninflected words, so without seeding no stem would ever unify
    * two surface forms and the gate would compare empty sets. The seed
    * exercises every step of the cascade — plurals (1a), ed/ing with
    * all three cleanups (1b), y→i (1c), the double-suffix map (2),
    * -alize/-iciti (3), single-suffix deletion incl. ION (4), final-e
    * and -ll (5) — appended to every `en` document identically in both
    * engines. */
  private val StemSeed: String =
    "connect connected connecting connection connections " +
      "argue argued arguing argument arguments " +
      "hope hoping hopeful hopefulness hopping hopped " +
      "relate relational adjust adjustable adjusted adjustment " +
      "generalize generalization generalizations " +
      "control controlled controlling caress caresses poni ponies " +
      "formal formaliti formalize electrical electriciti " +
      "valence valenci depend dependent happy happier file filing"

  /** Declared query `text_stem`: Porter (1980) stemming — the
    * standard normalization before token-level dedup / TF-IDF, where
    * "connect", "connected", "connecting", "connection" must count as
    * one term. The whole algorithm is a SQL rewrite cascade generated
    * from one shared rule table ([[PorterSql]] — the `text_nfkc`
    * replay technique scaled to a conditional rewrite system), so the
    * DuckDB oracle recomputes the identical stems independently;
    * PorterSpec pins every step against the paper's own example
    * tables. Cascade runs over the DISTINCT VOCABULARY (sublinear in
    * the corpus by Heaps' law), never the token stream; output = the
    * stems that actually unified ≥ 2 surface forms, top 100 by token
    * mass. Spark side enters through SQL TEXT over a dir-scoped temp
    * view (the q6_forecast entry-path precedent). */
  def textStem(spark: SparkSession, d: String): DataFrame = {
    val view = "documents_stem_" + java.lang.Long.toHexString(
      java.security.MessageDigest.getInstance("MD5").digest(
        d.getBytes("UTF-8")).take(8).foldLeft(0L)((a, b) => (a << 8) | (b & 0xffL)))
    Tables.documents(spark, d).createOrReplaceTempView(view)
    val seeded = s"CASE WHEN lang = 'en' THEN text || ' $StemSeed' ELSE text END"
    // r17 opt (guide §2.4, plans/r17/text_stem_before.txt): the
    // vocabulary CTE fans into BOTH union branches (stemmable cascade
    // + passthru) and Spark inlines it, so the corpus was scanned,
    // tokenized and vocab-aggregated twice. Materialize voc once
    // (EAGER checkpoint: the two consumers run as concurrent stages
    // of one job, and a lazy checkpoint would let both stages race to
    // compute the same partitions) and run the cascade over the
    // checkpointed blocks — one corpus pass, vocabulary-sized work
    // after. Result-identical: the same voc rows feed the same
    // cascade; the oracle keeps the single-query form.
    val tokSource =
      s"SELECT explode(filter(split(lower($seeded), '\\\\s+'), t -> t <> '')) AS tok " +
        s"FROM $view"
    val voc = spark.sql(
      s"SELECT tok, COUNT(*) AS n FROM ($tokSource) tokc GROUP BY tok")
      .localCheckpoint(true)
    voc.createOrReplaceTempView(view + "_voc")
    spark.sql(PorterSql.fullSqlOverVoc(PorterSql.SparkDia,
      s"SELECT tok, n FROM ${view}_voc"))
  }

  def textStemSql: String = {
    val seeded = s"CASE WHEN lang = 'en' THEN text || ' $StemSeed' ELSE text END"
    PorterSql.fullSql(PorterSql.DuckDia,
      s"SELECT unnest(${tokensSql(seeded)}) AS tok FROM documents")
  }

  // ---------------------------------------------------------------
  // text_url_norm: URL canonicalization + host-level aggregation
  // ---------------------------------------------------------------

  /** Tracking query parameters the canonicalizer strips — the
    * standard CommonCrawl-curation set (campaign/click identifiers
    * that vary per impression while pointing at the same resource). */
  private val TrackingParamRe = "^(utm_[a-z0-9_]*|gclid|fbclid)="

  /** Declared query `text_url_norm`: URL canonicalization + host-level
    * stats — the pass every web-corpus curation pipeline runs BEFORE
    * host aggregation and URL-level dedup (RFC 3986 §6 normalization:
    * without it "HTTP://WWW.Site.org:80/a?utm_source=x&id=1#top" and
    * "http://site.org/a?id=1" count as different pages). The tables
    * carry no URL column, so each document deterministically derives
    * TWO messy variants of the same logical URL (case-mangled scheme/
    * host, www. prefix, explicit default ports — with a NON-default
    * :8080 that must survive — tracking params, shuffled param order,
    * trailing slash, fragment; both engines build the identical
    * strings, the src_csv_corrupt planted-input precedent). The
    * OPERATOR is the canonicalizer, a pure codegen'd expression chain
    * over the url string alone: drop fragment, lowercase scheme +
    * authority, strip leading www., strip scheme-default port only,
    * strip trailing path slash (empty path → "/"), drop
    * [[TrackingParamRe]] params, SORT surviving params. Output per
    * canonical host: url count, distinct canonical URLs (the dedup
    * win: 2 variants collapse to 1), tracking-tainted count, lex-min
    * example. Map-side compute; the only shuffle is the |hosts|-keyed
    * aggregate — at 100 TB this is one pass over the scan. */
  def urlNorm(spark: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(spark, d)
      .select(col("doc_id"), col("lang"), col("source"),
        explode(array(lit(0L), lit(1L))).as("v"))
    // --- messy construction (mirrored literally in the oracle) ---
    val scheme0 = when(col("doc_id") % 2 === 0, "http").otherwise("https")
    val scheme = when((col("doc_id") + col("v")) % 3 === 0, upper(scheme0))
      .otherwise(scheme0)
    val hostCore = concat(col("source"), lit(".example.org"))
    val host0 = when((col("doc_id") + col("v")) % 2 === 0,
      concat(lit("WWW."), hostCore)).otherwise(hostCore)
    val host = when(col("doc_id") % 3 === 0, upper(host0)).otherwise(host0)
    val defPort = when(col("doc_id") % 2 === 0, ":80").otherwise(":443")
    val port = when((col("doc_id") + col("v")) % 5 === 0, defPort)
      .otherwise(when(col("doc_id") % 11 === 0, ":8080").otherwise(""))
    val path = concat(lit("/a/"), (col("doc_id") % 97).cast("string"),
      when(col("v") === 1, "/").otherwise(""))
    val utm = when(col("doc_id") % 4 === 0, "&utm_campaign=x").otherwise("")
    val idp = concat(lit("id="), (col("doc_id") % 50).cast("string"))
    val qry = when(col("v") === 0,
        concat(lit("?"), idp, lit("&lang="), col("lang"), utm))
      .otherwise(concat(lit("?lang="), col("lang"),
        lit("&utm_source=news&"), idp, utm))
    val frag = when((col("doc_id") + col("v")) % 7 === 0, "#top").otherwise("")
    val urls = base.select(
      concat(scheme, lit("://"), host, port, path, qry, frag).as("url"))
    // --- the canonicalizer (operates on the url string alone) ---
    val noFrag = regexp_extract(col("url"), "^([^#]*)", 1)
    val schemeC = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val auth = regexp_replace(
      lower(regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)),
      "^www\\.", "")
    val hostC = when(schemeC === "http", regexp_replace(auth, ":80$", ""))
      .when(schemeC === "https", regexp_replace(auth, ":443$", ""))
      .otherwise(auth)
    val pathRaw = regexp_extract(noFrag,
      "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    val pathTrim = regexp_replace(pathRaw, "/+$", "")
    val pathC = when(pathTrim === "", "/").otherwise(pathTrim)
    val qKept = array_sort(filter(split(regexp_extract(noFrag, "\\?(.*)$", 1), "&"),
      p => p =!= "" && !p.rlike(TrackingParamRe)))
    val qC = array_join(qKept, "&")
    val canon = concat(schemeC, lit("://"), hostC, pathC,
      when(qC === "", "").otherwise(concat(lit("?"), qC)))
    urls.select(col("url"), hostC.as("host"), canon.as("canonical_url"))
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_urls"),
        countDistinct(col("canonical_url")).as("n_canonical"),
        sum(when(col("url").rlike("[?&](utm_[a-z0-9_]*|gclid|fbclid)="), 1L)
          .otherwise(0L)).as("n_tracking"),
        min(col("canonical_url")).as("example_url"))
      .orderBy("host")
  }

  def urlNormSql: String =
    s"""WITH base AS (
       |  SELECT doc_id, lang, source, t.v
       |  FROM documents CROSS JOIN (SELECT unnest([0, 1]) AS v) t),
       |messy AS (
       |  SELECT
       |    (CASE WHEN (doc_id + v) % 3 = 0
       |       THEN upper(CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'https' END)
       |       ELSE CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'https' END END)
       |    || '://' ||
       |    (CASE WHEN doc_id % 3 = 0
       |       THEN upper(CASE WHEN (doc_id + v) % 2 = 0
       |              THEN 'WWW.' || source || '.example.org'
       |              ELSE source || '.example.org' END)
       |       ELSE CASE WHEN (doc_id + v) % 2 = 0
       |              THEN 'WWW.' || source || '.example.org'
       |              ELSE source || '.example.org' END END)
       |    || (CASE WHEN (doc_id + v) % 5 = 0
       |          THEN CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END
       |          ELSE CASE WHEN doc_id % 11 = 0 THEN ':8080' ELSE '' END END)
       |    || '/a/' || CAST(doc_id % 97 AS VARCHAR)
       |    || (CASE WHEN v = 1 THEN '/' ELSE '' END)
       |    || (CASE WHEN v = 0
       |          THEN '?id=' || CAST(doc_id % 50 AS VARCHAR) || '&lang=' || lang
       |          ELSE '?lang=' || lang || '&utm_source=news&id='
       |               || CAST(doc_id % 50 AS VARCHAR) END)
       |    || (CASE WHEN doc_id % 4 = 0 THEN '&utm_campaign=x' ELSE '' END)
       |    || (CASE WHEN (doc_id + v) % 7 = 0 THEN '#top' ELSE '' END) AS url
       |  FROM base),
       |parts AS (
       |  SELECT url, regexp_extract(url, '^([^#]*)', 1) AS nofrag FROM messy),
       |canon AS (
       |  SELECT url,
       |    lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
       |    regexp_replace(
       |      lower(regexp_extract(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
       |      '^www\\.', '') AS auth,
       |    regexp_replace(
       |      regexp_extract(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1),
       |      '/+$$', '') AS path_trim,
       |    array_to_string(list_sort(list_filter(
       |      string_split(regexp_extract(nofrag, '\\?(.*)$$', 1), '&'),
       |      p -> p <> '' AND NOT regexp_matches(p, '$TrackingParamRe'))), '&') AS q
       |  FROM parts),
       |c2 AS (
       |  SELECT url,
       |    CASE WHEN scheme = 'http' THEN regexp_replace(auth, ':80$$', '')
       |         WHEN scheme = 'https' THEN regexp_replace(auth, ':443$$', '')
       |         ELSE auth END AS host,
       |    scheme, path_trim, q FROM canon),
       |c3 AS (
       |  SELECT url, host,
       |    scheme || '://' || host
       |      || (CASE WHEN path_trim = '' THEN '/' ELSE path_trim END)
       |      || (CASE WHEN q = '' THEN '' ELSE '?' || q END) AS canonical_url
       |  FROM c2)
       |SELECT host, COUNT(*) AS n_urls,
       |  CAST(COUNT(DISTINCT canonical_url) AS BIGINT) AS n_canonical,
       |  CAST(SUM(CASE WHEN regexp_matches(url,
       |    '[?&](utm_[a-z0-9_]*|gclid|fbclid)=') THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_tracking,
       |  min(canonical_url) AS example_url
       |FROM c3 GROUP BY host ORDER BY host""".stripMargin
}
