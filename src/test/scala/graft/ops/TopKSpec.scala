package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** The per-key top-k kernel and the in-set pair expansion against
  * plain-Scala models. The table's scores repeat within a group, and
  * ids are listed out of order, so "ties go to the lower id" is
  * exercised by real ties and not by input order. */
class TopKSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import SparkTestSession.spark.implicits._

  // group a: 0.9 twice, 0.5 three times; group b: two rows; group c:
  // one row; group d: every score tied
  private val rows: Seq[(String, Long, Double)] = Seq(
    ("a", 14L, 0.5), ("a", 3L, 0.9), ("a", 11L, 0.5), ("a", 9L, 0.9),
    ("a", 2L, 0.1), ("a", 7L, 0.5),
    ("b", 5L, 0.2), ("b", 4L, 0.7),
    ("c", 8L, 0.3),
    ("d", 30L, 1.0), ("d", 10L, 1.0), ("d", 20L, 1.0))

  /** (group, id) → rank: highest score first, ties to the lower id,
    * the first k of each group. */
  private def model(k: Int): Map[(String, Long), Int] =
    rows.groupBy(_._1).values.flatMap { g =>
      g.sortBy { case (_, id, score) => (-score, id) }.take(k).zipWithIndex
        .map { case ((grp, id, _), i) => (grp, id) -> (i + 1) }
    }.toMap

  private def topK(k: Int): Map[(String, Long), Int] =
    OpsUtil.topK(rows.toDF("g", "id", "score"), Seq(col("g")),
        Seq(col("score").desc, col("id")), k, "rank")
      .select("g", "id", "rank").as[(String, Long, Int)].collect()
      .map { case (g, id, r) => (g, id) -> r }.toMap

  test("ties go to the lower id, as in the model") {
    val got = topK(4)
    assert(got == model(4))
    assert(got(("a", 3L)) == 1 && got(("a", 9L)) == 2)
    assert(got(("a", 7L)) == 3 && got(("a", 11L)) == 4)
    assert(!got.contains(("a", 14L)))
    assert(got(("d", 10L)) == 1 && got(("d", 20L)) == 2 && got(("d", 30L)) == 3)
  }

  test("a group smaller than k keeps all its rows") {
    val got = topK(3)
    assert(got == model(3))
    assert(got.keySet.filter(_._1 == "b") == Set(("b", 4L), ("b", 5L)))
    assert(got.keySet.filter(_._1 == "c") == Set(("c", 8L)))
  }

  test("k = 1 gives the argmax of each group") {
    val argmax = rows.groupBy(_._1).map { case (g, rs) =>
      g -> rs.minBy { case (_, id, score) => (-score, id) }._2
    }
    val got = topK(1)
    assert(got.values.toSet == Set(1))
    assert(got.keySet == argmax.toSet)
  }

  test("a group keeps at most k rows even when its order ties") {
    // ordered by score alone, group d is one three-way tie: a numbering
    // that gives ties one rank (rank, dense_rank) would keep all three
    val sizes = OpsUtil.topK(rows.toDF("g", "id", "score"), Seq(col("g")),
        Seq(col("score").desc), 2, "rank")
      .groupBy("g").count().as[(String, Long)].collect().toMap
    assert(sizes == Map("a" -> 2L, "b" -> 2L, "c" -> 1L, "d" -> 2L))
  }

  test("an empty partition key throws") {
    val df = rows.toDF("g", "id", "score")
    intercept[IllegalArgumentException](OpsUtil.topK(df, Nil, Seq(col("id")), 1, "rank"))
    intercept[IllegalArgumentException](OpsUtil.topKSql("t", "", "id", 1, "rank"))
  }

  test("pairsWithin gives combinations(2) of each sorted set, sizes 0 and 1 included") {
    val sets: Seq[(Long, Seq[Long])] = Seq(
      1L -> Seq(2L, 5L, 7L, 9L), 2L -> Seq(3L, 4L), 3L -> Seq(6L), 4L -> Seq.empty,
      5L -> Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L))
    val want = sets.flatMap { case (_, ps) =>
      ps.combinations(2).map { case Seq(a, b) => (a, b) }
    }
    val got = RelationalOps.pairsWithin(sets.toDF("key", "ps"), "a", "b")
      .as[(Long, Long)].collect().toSeq
    assert(got.sorted == want.sorted)
    assert(got.size == 6 + 1 + 21)
  }
}
