package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for operator specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
}

/** Tag for multi-minute duration-contract tests (state soaks, randomized
  * equivalence sweeps). The DEFAULT `sbt test` excludes them (build.sbt
  * passes `-l org.scalatest.tags.Slow`) so the suite fits a CI window;
  * `sbt testFull` runs everything. Use as `test("…", Slow) { … }` or via
  * the `@org.scalatest.tags.Slow` class annotation for whole suites.
  */
object Slow extends org.scalatest.Tag("org.scalatest.tags.Slow")

object SparkSpec {
  lazy val session: SparkSession = GraftSession("graft-test", "local[4]", 4)
}
