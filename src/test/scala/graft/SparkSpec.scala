package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for operator specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = {
    // Session is shared across suites; never stop it here. Release what
    // the suite staged on it — query-tier pins of every session on its
    // shared state and the memo tier — so the next suite starts clean.
    try Staging.releaseAll(spark) finally super.afterAll()
  }
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession(cpus = 4, logLevel = "ERROR")
}
