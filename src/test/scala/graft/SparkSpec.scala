package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for ScalaTest suites. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  // One session per JVM — suites share it; sbt forks a single test JVM.
  // The mains' set-up, pinned to 4 cores whatever SPARK_GRAFT_CPUS says.
  lazy val session: SparkSession = {
    val s = GraftSession.builder("4")
      .appName("graft-test")
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
