package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one JVM-wide SparkSession across suites. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "0.001"): String = s"/root/testdata/sf$dir"
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Graft.session(appName = "graft-tests", cores = 4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
