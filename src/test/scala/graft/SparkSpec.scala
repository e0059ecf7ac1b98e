package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one JVM-wide session; Spark
  * reuses it across suites via getOrCreate). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"
}

object SparkSpec {
  /** Shuffle/spill go to the swept workspace: leftovers of old runs
    * once filled /tmp and failed unrelated tests with ENOSPC. */
  lazy val session: SparkSession =
    GraftSession(4, localDir = Some(GraftSession.sweptLocalDir()))
}
