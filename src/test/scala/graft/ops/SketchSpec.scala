package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Approximate operators bounded against exact answers (they have no
  * DuckDB oracle — sketch internals are engine-specific). */
class SketchSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("sketch within-bound flags are all true (HLL 15%, median 5%)") {
    val rows = RelationalOps.approxSketches(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("hll_within_15pct"), s"group ${r.get(0)}: HLL out of bound")
      assert(r.getAs[Boolean]("median_within_5pct"), s"group ${r.get(0)}: median out of bound")
    }
  }

  test("exact_median column agrees with the percentiles query") {
    val exact = RelationalOps.percentiles(spark, sf).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("median_price")).toMap
    RelationalOps.approxSketches(spark, sf).collect().foreach { r =>
      assert(r.getAs[Double]("exact_median") === exact(r.getString(0)))
    }
  }

  test("IVF index round-trips through parquet: stored-index probe ≡ inline probe") {
    // build once / probe many: the centroid table written to storage
    // and read back must route queries identically to the fresh build
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-index").toString
    SimilarityOps.annIvfCentroids(spark, sf).write.mode("overwrite").parquet(dir)
    val stored = spark.read.parquet(dir)
    val fromStored = SimilarityOps.annIvfProbe(spark, sf, stored).collect().toSeq
    val inline = SimilarityOps.annIvf(spark, sf).collect().toSeq
    assert(fromStored === inline)
  }

  test("annIvf centroid cache: one persisted entry per dir, evictable, results stable") {
    // Assertions target the cache's OWN entries (ivfCacheSnapshot) —
    // the global getPersistentRDDs count is shared suite-wide state
    // (GraphOps' pair cache, the async ContextCleaner) and flaked the
    // full-suite run in r6.
    SharedBuild.releaseBlocks()
    assert(SimilarityOps.ivfCacheSnapshot.isEmpty, "evict must leave an empty cache")
    val first = SimilarityOps.annIvf(spark, sf).collect().toSeq
    val afterOne = SimilarityOps.ivfCacheSnapshot
    assert(afterOne.size === 1, "one cache entry per (session, dir)")
    assert(afterOne.head.storageLevel.useMemory, "centroid table must be persisted")
    val second = SimilarityOps.annIvf(spark, sf).collect().toSeq
    val afterTwo = SimilarityOps.ivfCacheSnapshot
    assert(second === first, "repeat probe must return identical results")
    assert(afterTwo.size === 1 && (afterTwo.head eq afterOne.head),
      "second call must reuse the same cached centroid table")
    SharedBuild.releaseBlocks()
    assert(SimilarityOps.ivfCacheSnapshot.isEmpty, "cache empty after evict")
    assert(afterOne.head.storageLevel === org.apache.spark.storage.StorageLevel.NONE,
      "releaseBlocks must unpersist the centroid table")
    // post-evict probes rebuild and still agree
    assert(SimilarityOps.annIvf(spark, sf).collect().toSeq === first)
    SharedBuild.releaseBlocks()
  }

  test("CMS grid is partition-independent and estimates are one-sided overcounts") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.CmsAgg
    // skewed vocabulary: "hot" 500x, decreasing tail
    val words = (Seq.fill(500)("hot") ++
      (0 until 50).flatMap(i => Seq.fill(50 - i)(s"w$i"))).map(Tuple1(_))
    val base = words.toDF("w")
    def grid(df: org.apache.spark.sql.DataFrame): Array[Long] =
      df.agg(CmsAgg.cms_sketch(col("w")).as("sk"))
        .collect().head.getAs[scala.collection.Seq[Long]]("sk").toArray
    // exact sums: any partitioning must produce the identical grid
    val g1 = grid(base.repartition(1))
    val g13 = grid(base.repartition(13))
    assert(g1.sameElements(g13), "CMS grid must not depend on the merge tree")
    assert(g1.sum === words.size.toLong * CmsAgg.D, "every item increments D counters")
    // defining guarantee: est(x) >= true(x), exact on the isolated hot key
    def est(g: Array[Long], item: String): Long = {
      val bs = CmsAgg.buckets(item)
      (0 until CmsAgg.D).map(r => g(r * CmsAgg.W + bs(r))).min
    }
    assert(est(g1, "hot") >= 500L)
    (0 until 50).foreach { i =>
      assert(est(g1, s"w$i") >= (50 - i).toLong, s"w$i undercounted")
    }
    assert(est(g1, "never-seen") >= 0L)
  }

  test("Bloom popcount is partition-independent; membership never false-negative; estimate in bound") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.BloomAgg
    // 300 distinct values with duplicates (dups must not move any bit)
    val rows = (0 until 300).flatMap(i => Seq(s"item$i", s"item$i")).map(Tuple1(_))
    val base = rows.toDF("v")
    def bits(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(BloomAgg.bloom_bits(col("v")).as("b")).collect().head.getLong(0)
    // OR-union: any merge tree yields the identical bit set
    val b1 = bits(base.repartition(1))
    val b13 = bits(base.repartition(13))
    assert(b1 === b13, "bloom bits must not depend on the merge tree")
    // popcount equals the distinct-position count computed directly
    val wantBits = (0 until 300)
      .flatMap(i => BloomAgg.positions(s"item$i")).distinct.size.toLong
    assert(b1 === wantBits)
    // no false negatives by construction; fill-inversion estimate of
    // n within the sketch's coarse tolerance (K*n = 900 of M = 1024
    // bits -> heavy collisions; 35% is the analytic ballpark here)
    val est = -(BloomAgg.M.toDouble / BloomAgg.K) *
      math.log(1.0 - b1.toDouble / BloomAgg.M)
    assert(math.abs(est - 300.0) <= 300 * 0.35, s"estimate $est too far from 300")
  }

  test("KMV sketch is partition-independent; below-K path is exact; estimate in error bound") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.KmvAgg
    // 500 distinct values with duplicates (sketch path), plus a group
    // of 7 distinct (below-K exact path)
    val rows = (0 until 500).flatMap(i => Seq(("big", s"v$i"), ("big", s"v$i"))) ++
      (0 until 7).map(i => ("small", s"u$i"))
    val base = rows.toDF("g", "v")
      .select(col("g"), OpsUtil.xhash60(col("v"), 0).as("h"))
    def sketch(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("g").agg(KmvAgg.kmv_distinct(col("h")).as("sk"))
        .select(col("g"), col("sk.n_held"), col("sk.kth_hash"), col("sk.est_distinct"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.get(2), r.getLong(3))).toMap
    // order statistics of a deterministic hash set: any merge tree
    // must yield the identical K smallest values
    val s1 = sketch(base.repartition(1))
    val s13 = sketch(base.repartition(13))
    assert(s1 === s13, "KMV state must not depend on the merge tree")
    val (heldS, kthS, estS) = s1("small")
    assert(heldS == 7L && kthS == null && estS == 7L, "below-K must be exact with null kth")
    val (heldB, kthB, estB) = s1("big")
    assert(heldB == KmvAgg.K.toLong && kthB != null)
    // ~1/sqrt(K) ≈ 18% standard error; 3σ bound on 500 true distinct
    assert(math.abs(estB - 500L) <= 500 * 0.54, s"estimate $estB too far from 500")
  }

  test("KMV a-not-b: below-K sketches give the exact difference; big sets stay in bound") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.KmvAgg
    def sketchOf(vals: Seq[String]) =
      vals.toDF("v").select(OpsUtil.xhash60(col("v"), 0).as("h"))
        .agg(KmvAgg.kmv_distinct(col("h")).as("sk"))
        .select(col("sk.kth_hash"), col("sk.hashes")).collect().head
    def estDiff(a: Seq[String], b: Seq[String]): (Long, Long) = {
      val (ra, rb) = (sketchOf(a), sketchOf(b))
      val full = 1L << 60
      val theta = math.min(
        Option(ra.get(0)).map(_.asInstanceOf[Long]).getOrElse(full),
        Option(rb.get(0)).map(_.asInstanceOf[Long]).getOrElse(full))
      val hb = rb.getAs[scala.collection.Seq[Long]](1).toSet
      val survivors = ra.getAs[scala.collection.Seq[Long]](1)
        .count(h => h < theta && !hb.contains(h))
      val est = math.floor(survivors.toDouble * (full.toDouble / theta)).toLong
      val exact = (a.toSet -- b.toSet).size.toLong
      (est, exact)
    }
    // both below K: theta = 2^60, membership exact → estimate IS exact
    val (eSmall, xSmall) = estDiff((0 until 20).map(i => s"a$i"),
      (10 until 25).map(i => s"a$i"))
    assert(eSmall === xSmall && xSmall === 10L)
    // both far above K: 800 \ 500-overlap → true diff 500; 3σ of the
    // ~1/sqrt(K) relative error
    val (eBig, xBig) = estDiff((0 until 800).map(i => s"v$i"),
      (300 until 900).map(i => s"v$i"))
    assert(xBig === 300L)
    // the a-not-b error is relative to the UNION (survivors ≈
    // K·diff/union ≈ 9 here → σ/est ≈ 1/√9 ≈ 33%); allow 3σ
    assert(math.abs(eBig - xBig) <= 310, s"est $eBig too far from $xBig")
  }

  test("topkSketch survives a flat distribution where top-5 tokens are evicted (ANSI)") {
    import spark.implicits._
    // 100 distinct tokens, one occurrence each: the K=32 MG sketch
    // wipes its counters on every 33rd insert, so nearly every token —
    // including the exact top-5 (all-ties broken by token asc) — ends
    // untracked (est = 0). Under Spark 4's default ANSI mode a plain
    // element_at on the missing key would THROW; the query must
    // instead score est=0 through the hh_tracked flag (n <= err).
    val text = (0 until 100).map(i => f"tk$i%03d").mkString(" ")
    val docs = Seq((1L, text, "xx", "edge", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft-mgflat").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = TextAnalysisOps.topkSketch(spark, dir).collect()
    assert(rows.length === 5, "one lang, ranks 1..5")
    rows.foreach { r =>
      assert(r.getAs[Long]("n") === 1L)
      assert(r.getAs[Boolean]("bounds_hold"), s"rank ${r.getAs[Int]("rank")}: bounds")
      assert(r.getAs[Boolean]("hh_tracked"), s"rank ${r.getAs[Int]("rank")}: recall")
    }
  }

  test("dedup_semantic flags crafted near-duplicate embeddings, keeps the representative") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    def jitter(v: Array[Float]): Array[Float] =
      v.map(x => x + (rnd.nextGaussian() * 0.02).toFloat) // cos ≈ 0.999
    val base = vec()
    val rows = Seq(
      (100L, base, 0),
      (101L, jitter(base), 0),           // near-dup of 100
      (102L, jitter(base), 0)) ++        // near-dup of 100
      (200L until 230L).map(i => (i, vec(), 1)) // independent fillers
    val dir = java.nio.file.Files.createTempDirectory("graft-semdedup").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = SimilarityOps.dedupSemantic(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.size === rows.size, "every vector appears once")
    // 100 is the lowest id of its group: never flagged (no lower-id mate)
    assert(!out(100L).getAs[Boolean]("is_dup"))
    // 101/102 must be flagged with 100 as the representative partner
    for (id <- Seq(101L, 102L)) {
      assert(out(id).getAs[Boolean]("is_dup"), s"$id not flagged")
      assert(out(id).getAs[Long]("nn_id") === 100L, s"$id partner")
      assert(out(id).getAs[Double]("nn_cos") > 0.99)
    }
    SharedBuild.releaseBlocks() // don't leak the temp-dir index entry
  }

  test("sim_mmr stops gracefully when the pool runs dry (degenerate tiny table)") {
    import spark.implicits._
    // 4 vectors total: the 3 query vectors see only 3 candidates each
    // (self excluded), fewer than MmrK=5 — each greedy must emit 3
    // picks and stop, matching the oracle's empty round-4 CTE, instead
    // of crashing on minBy over an empty candidate set
    val rnd = new scala.util.Random(13)
    val rows = (0L until 4L).map { i =>
      (i, Array.fill(64)(rnd.nextGaussian().toFloat), 0)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-mmr-tiny").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = SimilarityOps.mmrSelect(spark, dir).collect()
    assert(out.length === 9, s"3 queries x 3 exhaustible picks, got ${out.length}")
    out.groupBy(_.getLong(0)).foreach { case (qid, picks) =>
      assert(picks.map(_.getInt(1)).sorted.toSeq === Seq(1, 2, 3), s"query $qid")
      assert(picks.map(_.getLong(2)).distinct.length === 3, s"query $qid distinct")
    }
  }

  test("emb_rp: one-hot vectors project with EXACTLY unit ratio; corpus hugs 1") {
    import spark.implicits._
    // ⟨s_j, e_i⟩² = s_{j,i}² = 1 for every ±1 sign row, so a one-hot
    // vector's ratio is exactly (K·1/K)/1 = 1 — an algebraic identity
    // of the Rademacher matrix, independent of the hash draws
    val oneHots = (0 until 64).map { i =>
      (i.toLong, Array.tabulate(64)(k => if (k == i) 1.0f else 0.0f), 0)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-rp").toString
    oneHots.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val r = SimilarityOps.randomProjection(spark, dir).collect()
    assert(r.length === 1)
    assert(r(0).getLong(1) === 64L)
    assert(r(0).getDouble(2) === 1.0 && r(0).getDouble(3) === 1.0 &&
      r(0).getDouble(4) === 1.0, s"one-hot ratios must be exactly 1: ${r(0)}")
    // corpus-wide: the JL expectation — per-label means near 1
    val corpus = SimilarityOps.randomProjection(spark, sf).collect()
    assert(corpus.map(_.getLong(1)).sum === 500L)
    corpus.foreach { row =>
      val avg = row.getDouble(2)
      assert(avg > 0.5 && avg < 1.6, s"label ${row.get(0)} avg ratio $avg")
    }
  }

  test("emb_pca2: recovers a planted 2D spectrum; corpus components near-orthogonal") {
    import spark.implicits._
    // planted spectrum: axis0 variance 2.25, axis1 variance 0.25,
    // rest 0 (coords stay inside covOf's |x| <= 2.1 fixed-point range)
    val pts = for (s0 <- Seq(-1.5f, 1.5f); s1 <- Seq(-0.5f, 0.5f); k <- 0 until 5) yield {
      val v = new Array[Float](64); v(0) = s0; v(1) = s1
      ((s0 * 2).toLong * 100 + (s1 * 2).toLong * 10 + 500 + k, v, 0)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-pca2").toString
    pts.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val rows = SimilarityOps.embPca2(spark, dir).collect()
    val pc1 = rows.map(_.getDouble(1)); val pc2 = rows.map(_.getDouble(2))
    assert(math.abs(pc1(0)) > 0.999, s"pc1 must align with axis0: ${pc1(0)}")
    assert(math.abs(pc2(1)) > 0.999, s"pc2 must align with axis1: ${pc2(1)}")
    assert(math.abs(rows(0).getDouble(3) - 2.25) < 0.01, s"lam1: ${rows(0).getDouble(3)}")
    assert(math.abs(rows(0).getDouble(4) - 0.25) < 0.01, s"lam2: ${rows(0).getDouble(4)}")
    assert(math.abs(rows(0).getDouble(5) - 0.9) < 0.01, "ev1 share of trace 2.5")
    // corpus: ordered spectrum, near-orthogonal components, sane shares
    val c = SimilarityOps.embPca2(spark, sf).collect()
    val l1 = c(0).getDouble(3); val l2 = c(0).getDouble(4)
    assert(l1 >= l2 && l2 > 0, s"spectrum order: $l1 vs $l2")
    val dot = c.map(r => r.getDouble(1) * r.getDouble(2)).sum
    assert(math.abs(dot) < 0.05, s"pc1·pc2 = $dot")
    assert(c(0).getDouble(5) > 0 && c(0).getDouble(5) <= 1.0)
  }

  test("knn_label predicts the crafted neighborhood's label, not the query's own") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    def jitter(v: Array[Float]): Array[Float] =
      v.map(x => x + (rnd.nextGaussian() * 0.02).toFloat) // cos ≈ 0.999
    val q = vec()
    // query id 0 (the only id ≡ 0 mod 25) carries label 9; its 10
    // nearest neighbors (ids 1-10) all carry label 7; fillers at
    // 201-220 (none ≡ 0 mod 25) are far away with label 3
    val rows = Seq((0L, q, 9)) ++
      (1L to 10L).map(i => (i, jitter(q), 7)) ++
      (201L to 220L).map(i => (i, vec(), 3))
    val dir = java.nio.file.Files.createTempDirectory("graft-knn").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = SimilarityOps.knnLabel(spark, dir).collect()
    assert(out.length === 1, "exactly one holdout query")
    val r = out.head
    assert(r.getAs[Long]("vec_id") === 0L)
    assert(r.getAs[Int]("true_label") === 9)
    assert(r.getAs[Int]("pred_label") === 7, "majority of the 10 nearest")
    assert(r.getAs[Long]("votes") === 10L, "all k votes from the crafted cluster")
    assert(!r.getAs[Boolean]("agree"))
  }

  test("LSH embedding dedup: top-50 usefully overlaps the brute top-50") {
    // deterministic index ⇒ deterministic overlap; 26/50 at sf0.001.
    // The corpus is near-orthogonal random vectors (max cos ≈ 0.5), the
    // worst case for sign-LSH — real near-dup corpora bucket far better.
    val brute = DedupOps.dedupEmbedding(spark, sf).select("v1", "v2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SimilarityOps.dedupEmbeddingLsh(spark, sf).select("v1", "v2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val overlap = (brute & lsh).size
    assert(overlap >= 20, s"overlap $overlap/50")
  }

  test("LSH embedding dedup compares a small fraction of all pairs") {
    // the scale claim made concrete: candidate pairs (co-bucketed under
    // ≥1 of the 6 tables) are ~18% of corpus² here, and the fraction
    // FALLS as buckets are sized up (more bits) for bigger corpora
    import org.apache.spark.sql.functions.col
    val keys = SimilarityOps.lshMembership(spark, sf).select("vec_id", "tab", "bkt")
    val cands = keys.select(col("tab"), col("bkt"), col("vec_id").as("v1"))
      .join(keys.select(col("tab"), col("bkt"), col("vec_id").as("v2")), Seq("tab", "bkt"))
      .where(col("v1") < col("v2"))
      .select("v1", "v2").distinct().count()
    val n = graft.Tables.embeddings(spark, sf).count()
    val all = n * (n - 1) / 2
    assert(cands < all / 4, s"candidates $cands of $all pairs")
  }

  test("IVF ANN recall@3 vs brute force is useful") {
    val brute = SimilarityOps.bruteTopK(spark, sf)
      .where(org.apache.spark.sql.functions.col("rank") <= 3)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = SimilarityOps.annIvf(spark, sf)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.2, s"recall $recall")
  }

  test("two-level IVF recall@3 vs brute force is useful") {
    // the coarse level is an extra approximation (a query's true cell
    // may hide in an unprobed coarse group) — same usefulness floor as
    // the flat index, measured the same way
    val brute = SimilarityOps.bruteTopK(spark, sf)
      .where(org.apache.spark.sql.functions.col("rank") <= 3)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf2 = SimilarityOps.annIvf2(spark, sf)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & ivf2).size.toDouble / brute.size
    assert(recall >= 0.2, s"two-level recall $recall")
  }

  test("two-level SemDeDup agrees with the flat variant on most vectors") {
    // routing differences only move BOUNDARY vectors between cells, so
    // the two variants must agree on the vast majority of is_dup
    // verdicts (and cover the identical vector set)
    val flat = SimilarityOps.dedupSemantic(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    val two = SimilarityOps.dedupSemantic2(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(flat.keySet === two.keySet, "both variants must cover every vector")
    val agree = flat.count { case (id, d) => two(id) == d }
    info(s"is_dup agreement: $agree/${flat.size}")
    assert(agree.toDouble / flat.size >= 0.9,
      s"two-level SemDeDup diverges from flat on ${flat.size - agree}/${flat.size}")
  }

  test("PQ index round-trips through parquet and probes identically") {
    import org.apache.spark.sql.functions._
    // The build-once/probe-many production path: the two index tables
    // (codebook + codes) persisted to parquet, RELOADED, and probed —
    // results must be row-identical to the self-contained query. This
    // is what makes PQ economical at 100 TB: the encode pass runs
    // once, probe jobs read PqM small integer columns per vector,
    // never the embeddings.
    val e = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("n2", graft.ops.OpsUtil.norm2(col("v")))
    val (cents, codes) = SimilarityOps.pqIndex(e)
    val dir = java.nio.file.Files.createTempDirectory("graft-pqidx").toString
    cents.write.mode("overwrite").parquet(s"$dir/codebook")
    codes.write.mode("overwrite").parquet(s"$dir/codes")
    val rCents = spark.read.parquet(s"$dir/codebook")
    val rCodes = spark.read.parquet(s"$dir/codes")
    val want = SimilarityOps.annPq(spark, sf).collect().toSeq
    val got = SimilarityOps.pqProbe(rCents, rCodes,
      e.filter(col("vec_id") < 10)).collect().toSeq
    assert(got === want)
    graft.ops.OpsUtil.deleteRecursively(dir)
  }

  test("PQ ADC ranks are informative: picks sit deep inside the exact L2 order") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // 8×16-code PQ on structureless uniform 64-dim vectors is the
    // distortion worst case, so exact recall@3 is not the contract —
    // what must hold is that ADC is far from random: the MEAN exact
    // rank of the picks sits in the top 20% and the MEDIAN in the top
    // 10% (a random scorer sits at ~50% mean; the max is left
    // unasserted — the tail is inherently unstable on a 500-vector
    // corpus with a 16-seed codebook). Measured: mean 43 / median 21
    // of 500 at sf0.001; mean 28 / max 181 of 6000 at sf0.01.
    val e = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val l2 = broadcast(q).join(e, col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        aggregate(zip_with(col("qv"), col("v"), (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x).as("dist"))
    val ranked = l2.withColumn("rk", row_number().over(
      Window.partitionBy(col("qid")).orderBy(col("dist"), col("nid"))))
    val picks = SimilarityOps.annPq(spark, sf).select("qid", "nid")
    val ranks = picks.join(ranked, Seq("qid", "nid"))
      .select("rk").collect().map(_.getInt(0))
    val n = e.count()
    assert(ranks.length === picks.count(),
      "every PQ pick must appear in the exact ranking")
    val sorted = ranks.sorted
    assert(ranks.sum.toDouble / ranks.length <= n / 5.0,
      s"mean exact rank ${ranks.sum.toDouble / ranks.length} of $n — ADC degenerated")
    assert(sorted(sorted.length / 2) <= n / 10,
      s"median exact rank ${sorted(sorted.length / 2)} of $n")
  }
}
