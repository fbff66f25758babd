package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session
}

object SparkSuite {
  /** The Verify/Bench session policy (`Session.local`), so specs exercise
    * the exact runtime surface, at 4 threads and 4 shuffle partitions
    * whatever the host. */
  lazy val session: SparkSession = Session.local(4)
}
