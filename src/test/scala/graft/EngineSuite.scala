package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session keeps the
  * test run fast; suites must not mutate global state destructively). */
object EngineSuite {
  lazy val spark: SparkSession = graft.engine.GraftSession.local(cores = 8, shufflePartitions = 8)
  val sfDir = "/root/testdata/sf0.001"
}

abstract class EngineSuite extends AnyFunSuite {
  def spark: SparkSession = EngineSuite.spark
  def sfDir: String = EngineSuite.sfDir
}

/** Bounds every test of a suite: a test still running after
  * `testLimit` is interrupted and fails, so a stalled Spark job or probe
  * fails loudly instead of using up the whole suite's time budget. */
trait BoundedTests extends AnyFunSuite with org.scalatest.concurrent.TimeLimits {
  def testLimit: org.scalatest.time.Span

  override def withFixture(test: NoArgTest): org.scalatest.Outcome =
    failAfter(testLimit)(super.withFixture(test))(
      org.scalatest.concurrent.ThreadSignaler)
}
