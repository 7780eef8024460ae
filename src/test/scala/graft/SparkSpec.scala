package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM under Test/fork). */
object SparkSpec {
  lazy val session: SparkSession = Session.local("4", logLevel = "ERROR")
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  /** Smoke-scale fixture dir (read-only driver test data). */
  val sf = "/root/testdata/sf0.001"
  def q(name: String) = QueryCatalog.byName(name)
}
