package graft.ops

import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** The build-once registry's contract: one build per key under races,
  * nested builds, retry after a failed build, reverse-order release
  * with the two lifetimes kept apart, and per-session keys. Every test
  * uses its own kinds, so entries other suites left behind never
  * collide with these. */
class SharedBuildSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Run `f` on `n` threads released together; wait for all of them. */
  private def onThreads[T](n: Int)(f: => T): Seq[T] = {
    val pool = Executors.newFixedThreadPool(n)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val start = new CyclicBarrier(n)
    try {
      val all = Future.sequence((1 to n).map(_ => Future { start.await(); f }))
      Await.result(all, 60.seconds)
    } finally { pool.shutdown(); pool.awaitTermination(10, TimeUnit.SECONDS) }
  }

  test("8 racing callers run one build and all get the same instance") {
    val builds = new AtomicInteger(0)
    val got = onThreads(8) {
      SharedBuild.frame(spark, "spec-race", "d") {
        builds.incrementAndGet()
        Thread.sleep(200) // keep the build open while the others arrive
        spark.range(1).toDF().persist()
      }
    }
    assert(builds.get === 1, "the build must run exactly once")
    assert(got.forall(_ eq got.head), "every caller must get the one built instance")
    assert(SharedBuild.live[AnyRef]("spec-race") === Seq(got.head))
    SharedBuild.releaseBlocks()
    assert(SharedBuild.live[AnyRef]("spec-race").isEmpty)
  }

  test("a build that asks for another key neither deadlocks nor throws") {
    // the cachedClusterLabels -> cachedPairs shape, raced against a
    // direct reader of the inner key; ConcurrentHashMap.computeIfAbsent
    // would throw "Recursive update" on the nested call
    val inner = new AtomicInteger(0)
    def pairs = SharedBuild.staged(spark, "spec-inner", "d") {
      inner.incrementAndGet(); Thread.sleep(100); "pairs"
    }(_ => ())
    val got = onThreads(4) {
      (SharedBuild.staged(spark, "spec-outer", "d")(pairs + "+labels")(_ => ()), pairs)
    }
    assert(got.forall(_ === (("pairs+labels", "pairs"))))
    assert(inner.get === 1)
  }

  test("a build that throws is not cached; the next call retries") {
    val builds = new AtomicInteger(0)
    def get() = SharedBuild.staged(spark, "spec-fail", "d") {
      if (builds.incrementAndGet() == 1) throw new IllegalStateException("first build fails")
      "ok"
    }(_ => ())
    val e = intercept[IllegalStateException](get())
    assert(e.getMessage === "first build fails")
    assert(SharedBuild.live[String]("spec-fail").isEmpty, "a failed build must leave no entry")
    assert(get() === "ok")
    assert(get() === "ok")
    assert(builds.get === 2, "one failed build, one good build, then a hit")
  }

  test("release runs in reverse build order; block release leaves staged entries alone") {
    val released = new java.util.concurrent.ConcurrentLinkedQueue[String]
    def stage(name: String)(build: => Unit): String =
      SharedBuild.staged(spark, s"spec-order-$name", "d") { build; name }(released.add(_))
    stage("a")(())
    stage("b")(())
    stage("c")(stage("d")(())) // d finishes first, so it was built before c
    val frame = SharedBuild.frame(spark, "spec-order-frame", "d")(spark.range(3).toDF().persist())
    assert(frame.storageLevel.useMemory)

    SharedBuild.releaseBlocks()
    assert(frame.storageLevel === org.apache.spark.storage.StorageLevel.NONE,
      "releaseBlocks must unpersist the frame")
    assert(SharedBuild.live[AnyRef]("spec-order-frame").isEmpty)
    assert(released.isEmpty, "releaseBlocks must not touch staged entries")
    assert(Seq("a", "b", "c", "d").forall(n => SharedBuild.live[String](s"spec-order-$n") == Seq(n)))

    SharedBuild.releaseAll()
    import scala.jdk.CollectionConverters._
    assert(released.asScala.toSeq === Seq("c", "d", "b", "a"))
    assert(Seq("a", "b", "c", "d").forall(n => SharedBuild.live[String](s"spec-order-$n").isEmpty))
  }

  test("two sessions never share an entry") {
    val other = spark.newSession()
    val builds = new AtomicInteger(0)
    def get(s: org.apache.spark.sql.SparkSession) =
      SharedBuild.staged(s, "spec-session", "d") { builds.incrementAndGet(); new Object }(_ => ())
    val mine = get(spark)
    val theirs = get(other)
    assert(!(mine eq theirs))
    assert((get(spark) eq mine) && (get(other) eq theirs))
    assert(builds.get === 2)
    assert(SharedBuild.live[AnyRef]("spec-session").size === 2)
  }
}
