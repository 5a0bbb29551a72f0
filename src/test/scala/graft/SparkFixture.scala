package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.Suite

/** Shared local session for specs — made by the harness mains' own
  * `Tables.session`, at 4 cores.
  */
trait SparkFixture extends BeforeAndAfterAll { self: Suite =>
  lazy val spark: SparkSession = SparkFixture.session
  val sfDir = "/root/testdata/sf0.001"
  override def afterAll(): Unit = super.afterAll()
}

object SparkFixture {
  lazy val session: SparkSession = Tables.session("graft-test", "4")
}
