package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (Spark sessions are
  * expensive; suites run sequentially under sbt's default). */
object SparkTestSession {
  // local[8, 2]: 8 threads, maxFailures=2 — task retry is ON so
  // MrRetrySpec can prove the reference's fault-tolerance property
  // (a failed task attempt is rescheduled and the job still completes,
  // tests/test_manager_05.py). Plain local[8] would fail the whole job
  // on the first task failure.
  // The shared confs come from GraftSession, as for Verify and Bench,
  // so plan tests see the production plan.
  lazy val spark: SparkSession = GraftSession.builder("local[8, 2]", 8)
    .appName("graft-test")
    .getOrCreate()
}
