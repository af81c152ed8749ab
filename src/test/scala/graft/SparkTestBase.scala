package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite; sf0.001 fixtures for speed. */
trait SparkTestBase extends AnyFunSuite {
  val sfDir = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = SparkTestBase.session
}

object SparkTestBase {
  val cores = 4
  lazy val session: SparkSession = EngineSession(cores)
}
