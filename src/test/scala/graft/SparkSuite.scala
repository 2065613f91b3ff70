package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM — Test/fork := true). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session
  def sf(dir: String): String = s"/root/testdata/$dir"
}

object SparkSuite {
  lazy val session: SparkSession = Launch.session(Launch.Local4, Some("graft-test"))
}
