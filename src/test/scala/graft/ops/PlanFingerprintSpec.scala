package graft.ops

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkEntry, SparkTestSession}
import graft.tools.PlanFingerprint

/** Every declared query's physical-plan shape, diffed against the
  * committed snapshot — so an optimizer/refactor regression (lost
  * broadcast, extra exchange, degraded TakeOrdered) fails loudly
  * instead of surfacing as a silent bench slowdown three rounds later.
  *
  * On an INTENDED plan change, regenerate and commit:
  * {{{ GRAFT_REGEN_FINGERPRINTS=1 sbt "testOnly graft.ops.PlanFingerprintSpec" }}}
  */
class PlanFingerprintSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"
  private val snapPath = Paths.get("src/test/resources/plan_fingerprints.tsv")

  test("declared-query plan shapes match the committed snapshot") {
    // probe on COLD session caches: a materialized pair/centroid cache
    // (e.g. GraphSpec ran earlier in this JVM) exposes tiny
    // InMemoryRelation stats and flips SortMergeJoin → broadcast,
    // making the fingerprint depend on suite order
    SharedBuild.releaseBlocks()
    val actual = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> PlanFingerprint.of(fn(spark, sf))
    }
    if (sys.env.contains("GRAFT_REGEN_FINGERPRINTS")) {
      Files.createDirectories(snapPath.getParent)
      Files.write(snapPath,
        actual.map { case (n, f) => s"$n\t$f" }.asJava)
      info(s"regenerated ${actual.size} fingerprints at $snapPath")
    } else {
      assert(Files.exists(snapPath),
        s"no snapshot at $snapPath — regenerate with GRAFT_REGEN_FINGERPRINTS=1")
      val want = Files.readAllLines(snapPath).asScala
        .map(_.split("\t", 2)).map(a => a(0) -> a.lift(1).getOrElse("")).toMap
      val diffs = actual.flatMap { case (name, fp) =>
        want.get(name) match {
          case None => Some(s"$name: NEW query (no snapshot entry) — got [$fp]")
          case Some(w) if w != fp => Some(s"$name: plan shape changed\n  snapshot: [$w]\n  actual:   [$fp]")
          case _ => None
        }
      } ++ (want.keySet -- actual.map(_._1).toSet).toSeq.sorted
        .map(n => s"$n: in snapshot but no longer declared")
      assert(diffs.isEmpty,
        "plan fingerprint drift (regenerate with GRAFT_REGEN_FINGERPRINTS=1 " +
          s"if intended):\n${diffs.mkString("\n")}")
    }
  }
}
