package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Outcome}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs. Each test is one
  * [[graft.model.RelCache.scope]], as each catalog query is in Verify. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def withFixture(test: NoArgTest): Outcome =
    graft.model.RelCache.scope(super.withFixture(test))
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = graft.model.SessionTuning.session(2)
      .appName("graft-test")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
