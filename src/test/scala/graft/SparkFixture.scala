package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.Suite

import graft.io.Scratch

/** Shared local session for specs — made by the harness mains' own
  * `Tables.session`, at 4 cores — plus the specs' one source of fixture
  * directories, [[tempDir]].
  */
trait SparkFixture extends BeforeAndAfterAll { self: Suite =>
  lazy val spark: SparkSession = SparkFixture.session
  val sfDir = "/root/testdata/sf0.001"

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  /** A fresh directory `<prefix>…` in `java.io.tmpdir`, deleted with
    * everything under it when the suite ends.
    */
  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally tempDirs.forEach(d => Scratch.delete(d))
}

object SparkFixture {
  lazy val session: SparkSession = Tables.session("graft-test", "4")
}
