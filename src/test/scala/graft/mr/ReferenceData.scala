package graft.mr

import java.nio.file.{Files, Paths}
import org.scalactic.source
import org.scalatest.funsuite.AnyFunSuite

/** The reference implementation's own test data (FIXTURES.md §A):
  * the `input/` corpus, the `correct/` goldens and the `exec/`
  * scripts. The repo holds none of these, so a test that reads them
  * is registered with [[refTest]]: it runs unchanged where the
  * directory exists and is reported as ignored (skipped in the JUnit
  * XML) where it does not.
  */
trait ReferenceData { this: AnyFunSuite =>
  protected val refData = "/root/reference/tests/testdata"

  /** `test(name)(body)` where the reference data exists, else
    * `ignore(name)(body)`. A canceled test (`assume`) would not do:
    * sbt's JUnit XML counts it as neither skipped nor failed. */
  protected def refTest(name: String)(body: => Any)(implicit pos: source.Position): Unit =
    if (Files.isDirectory(Paths.get(refData))) test(name)(body) else ignore(name)(body)
}
