package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.functions.RangeOverlap.range_overlap
import graft.functions.GraftFunctions

/** The interval-join planner rule: the naive `range_overlap` join
  * must plan as a binned equi-join (never a nested loop), preserve
  * bag semantics exactly (checked against the un-rewritten plan on
  * the same data), and leave conditions it can't orient alone. */
class RangeOverlapJoinSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // duplicate left row → bag semantics visible; intervals span bins
  private def sides: (DataFrame, DataFrame) = (
    Seq((1L, 10L, 20L), (1L, 10L, 20L), (2L, 30L, 40L), (3L, 100L, 101L))
      .toDF("id1", "s1", "e1"),
    Seq((10L, 15L, 35L), (11L, 40L, 45L), (12L, 200L, 300L))
      .toDF("id2", "s2", "e2"))

  private def joined: DataFrame = {
    val (a, b) = sides
    a.join(b, range_overlap(col("s1"), col("e1"), col("s2"), col("e2"), 10L))
      .select(col("id1"), col("id2"))
  }

  private def withoutRule[T](f: => T): T = {
    val em = spark.experimental
    val saved = em.extraOptimizations
    em.extraOptimizations = saved.filterNot(_ eq RewriteRangeOverlapJoin)
    try f finally em.extraOptimizations = saved
  }

  test("rule plans the naive interval join as a binned equi-join") {
    GraftPlans.install(spark)
    val df = joined
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"interval join not rewritten:\n$plan")
    // [10,20]×2 and [30,40] overlap [15,35]; [30,40] touches [40,45];
    // [100,101] matches nothing
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ===
      Seq((1L, 10L), (1L, 10L), (2L, 10L), (2L, 11L)))
  }

  test("rewritten plan is bag-identical to the un-rewritten nested loop") {
    GraftPlans.install(spark)
    val fast = joined.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val (slow, slowPlan) = withoutRule {
      val df = joined
      (df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq,
        df.queryExecution.executedPlan.toString)
    }
    assert(slowPlan.contains("BroadcastNestedLoopJoin") || slowPlan.contains("CartesianProduct"),
      "control plan should be the nested-loop fallback")
    assert(fast === slow, "rewrite changed join semantics")
  }

  test("rule leaves a non-orientable condition alone (bounds mixing sides)") {
    GraftPlans.install(spark)
    val (a, b) = sides
    // e1 from the LEFT used as the second interval's end: can't split
    val df = a.join(b, range_overlap(col("s1"), col("e1"), col("s2"), col("e1"), 10L))
      .select(col("id1"), col("id2"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("CartesianProduct"),
      s"rule should not have fired:\n$plan")
    df.collect() // still executes correctly
  }

  test("rule is idempotent under predicate pushdown (the injectOptimizerRule interplay)") {
    // The failure mode this pins: in a fixed-point batch shared with
    // PushDownPredicates, the residual Filter (still holding the
    // RangeOverlap predicate) is pushed back into the bin equi-join's
    // condition — an unguarded rule re-fires on its own output every
    // iteration until the Optimizer aborts on max-iterations.
    GraftPlans.install(spark)
    import org.apache.spark.sql.catalyst.optimizer.PushDownPredicates
    val (a, b) = sides
    val analyzed = a.join(b,
        range_overlap(col("s1"), col("e1"), col("s2"), col("e2"), 10L))
      .select(col("id1"), col("id2"))
      .queryExecution.analyzed
    val once = RewriteRangeOverlapJoin(analyzed)
    assert(once.toString != analyzed.toString, "rule should fire on the naive join")
    val pushed = PushDownPredicates(once)
    val again = RewriteRangeOverlapJoin(pushed)
    assert(again.fastEquals(pushed),
      s"rule re-fired on its own pushed-back output:\n$again")
  }

  test("SparkSessionExtensions session path plans and runs range_overlap") {
    import org.apache.spark.sql.SparkSession
    // a second session over the SAME SparkContext, built the way a
    // user would with SparkSessionExtensions. (The string form
    // `spark.sql.extensions=graft.functions.GraftExtensions` is read
    // from the SparkCONTEXT's static conf, so it can't take effect on
    // a shared test context — builder.withExtensions runs the same
    // GraftExtensions.apply → injectOptimizerRule path after Spark's
    // class loading, which is the part that's ours to test.)
    val prevActive = SparkSession.getActiveSession
    val prevDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 =
      try graft.GraftSession.builder("local[8, 2]", 8)
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      finally {
        prevDefault.foreach(SparkSession.setDefaultSession)
        prevActive.foreach(SparkSession.setActiveSession)
      }
    import s2.implicits._
    val a = Seq((1L, 10L, 20L), (1L, 10L, 20L), (2L, 30L, 40L), (3L, 100L, 101L))
      .toDF("id1", "s1", "e1")
    val b = Seq((10L, 15L, 35L), (11L, 40L, 45L), (12L, 200L, 300L))
      .toDF("id2", "s2", "e2")
    // the injected rule sits in the operator-optimization fixed point
    // WITH PushDownPredicates — this used to throw 'Max iterations'
    val df = a.join(b, range_overlap(col("s1"), col("e1"), col("s2"), col("e2"), 10L))
      .select(col("id1"), col("id2"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"extensions-path session did not rewrite the interval join:\n$plan")
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ===
      Seq((1L, 10L), (1L, 10L), (2L, 10L), (2L, 11L)))
    // injected SQL functions reachable too
    assert(s2.sql("SELECT range_overlap(1L, 5L, 3L, 9L, 10) AS o").head().getBoolean(0))
  }

  test("range_overlap is SQL-reachable with literal bin width") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT range_overlap(1L, 5L, 3L, 9L, 10) AS o1, " +
        "range_overlap(1L, 2L, 3L, 9L, 10) AS o2, " +
        "range_overlap(CAST(NULL AS BIGINT), 2L, 3L, 9L, 10) AS o3").head()
    assert(r.getBoolean(0) && !r.getBoolean(1) && r.isNullAt(2))
  }
}
