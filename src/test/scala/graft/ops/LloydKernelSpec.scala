package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.ops.OpsUtil.{dotd, norm2}

/** The vector family's Lloyd kernel against plain-Scala models, on a
  * hand-built corpus whose small-integer coordinates make every
  * distance exact, so the ties below are real ties: nearest centroid
  * is the lowest distance, ties to the lower id, in both the
  * struct-min and the literal form; the quantized centroid mean is
  * the BIGINT sum of 1e-6-quantized components over the count. */
class LloydKernelSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import SparkTestSession.spark.implicits._

  // ids deliberately out of position order, so "lower id" is not
  // "first centroid listed"
  private val cents: Seq[(Long, Seq[Double])] = Seq(
    7L -> Seq(0.0, 0.0), 3L -> Seq(2.0, 0.0), 5L -> Seq(0.0, 2.0), 1L -> Seq(2.0, 2.0))

  // (1,1) ties all four, (1,0) ties 7 and 3, (2,1) ties 3 and 1,
  // (1,2) ties 5 and 1, (0,1) ties 7 and 5; the rest have one nearest
  private val vecs: Seq[(Long, Seq[Double])] = Seq(
    10L -> Seq(1.0, 1.0), 11L -> Seq(1.0, 0.0), 12L -> Seq(2.0, 1.0),
    13L -> Seq(1.0, 2.0), 14L -> Seq(0.0, 1.0), 15L -> Seq(3.0, 3.0),
    16L -> Seq(-1.0, 0.0), 17L -> Seq(2.0, -1.0))

  private def sq(v: Seq[Double], c: Seq[Double]): Double =
    (v.map(x => x * x).sum - 2.0 * v.zip(c).map { case (a, b) => a * b }.sum) +
      c.map(x => x * x).sum

  /** vec_id → (id, dist): lowest distance, ties to the lower id. */
  private val model: Map[Long, (Long, Double)] = vecs.map { case (vid, v) =>
    vid -> cents.map { case (id, c) => (sq(v, c), id) }.min.swap
  }.toMap

  test("the model's corpus has exact ties, broken to the lower id") {
    assert(model(10L) == (1L, 2.0))
    assert(model(11L) == (3L, 1.0))
    assert(model(12L) == (1L, 1.0))
    assert(model(14L) == (5L, 1.0))
  }

  test("struct-min and literal nearest agree with the argmin model") {
    val e = vecs.toDF("vec_id", "v").withColumn("n2", norm2(col("v")))
    val c = cents.toDF("cell", "c").withColumn("cn2", norm2(col("c")))
    def got(df: DataFrame): Map[Long, (Long, Double)] =
      df.select("vec_id", "cell", "dist").as[(Long, Long, Double)].collect()
        .map { case (vid, id, d) => vid -> (id, d) }.toMap
    val structMin = SimilarityOps.nearest(e, broadcast(c), Nil, Seq("vec_id"), Seq("v"),
      (col("n2") - lit(2.0) * dotd(col("v"), col("c"))) + col("cn2"), "cell")
    val literal = SimilarityOps.nearest(e, cents, Seq("vec_id", "v"),
      cl => (norm2(col("v")) - lit(2.0) * dotd(col("v"), cl)) + norm2(cl), "cell")
    assert(got(structMin) == model)
    assert(got(literal) == model)
  }

  test("the quantized mean kernel gives the model's centroids") {
    // components off the 1e-6 grid, so the quantization rounds
    val assigned = Seq(
      0L -> Seq(0.1234567, -1.5), 0L -> Seq(0.25, 2.0000004), 0L -> Seq(-0.3333333, 0.1),
      4L -> Seq(1.0, 1.0), 4L -> Seq(0.7, -0.7666666))
    def q(x: Double): Long = math.round(x * 1e6)
    val want = assigned.groupBy(_._1).map { case (cell, rows) =>
      val c = rows.map(_._2).transpose.map(xs => xs.map(q).sum.toDouble / xs.size / 1e6)
      cell -> (c, c.map(x => x * x).sum)
    }
    val got = SimilarityOps.centroidMeans(assigned.toDF("cell", "v"), Seq("cell"), "v",
        SimilarityOps.quantizedMean, "cn2")
      .select("cell", "c", "cn2").as[(Long, Seq[Double], Double)].collect()
      .map { case (cell, c, n2) => cell -> (c, n2) }.toMap
    assert(got == want)
  }
}
