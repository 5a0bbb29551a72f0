package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.OpCache

/** The dir-stamped memo contract: a repeat call on an unchanged input dir
  * is a cache hit (the build closure never re-runs), and ANY content
  * mutation of the dir — a new file, a rewrite — misses and rebuilds.
  * Round 9's convention ("cached dirs are immutable") silently served
  * stale frames if violated; the stamp turns that into a rebuild.
  */
class OpCacheSpec extends AnyFunSuite with SparkFixture {

  test("memoDir hits on an unchanged dir and rebuilds after mutation") {
    import spark.implicits._
    val dir = tempDir("opcache_spec")
    try {
      Files.writeString(dir.resolve("part-0"), "one")
      var builds = 0
      def call() = OpCache.memoDir("opCacheSpec",
        spark.sparkContext.applicationId, dir.toString, "k", {
          builds += 1
          Seq(builds).toDS().cache()
        })
      assert(call().head() == 1)
      assert(call().head() == 1) // unchanged dir: memo hit, no rebuild
      assert(builds == 1)
      // mutate: new file changes (count, bytes) whatever the mtime
      // granularity of the filesystem
      Files.writeString(dir.resolve("part-1"), "two")
      assert(call().head() == 2) // stamp changed: rebuilt from new contents
      assert(builds == 2)
    } finally {
      OpCache.release("opCacheSpec")
      Files.list(dir).forEach(p => Files.delete(p))
      Files.delete(dir)
    }
  }

  test("dirStamp distinguishes absent, empty, and populated dirs") {
    val dir = tempDir("opcache_stamp")
    try {
      assert(OpCache.dirStamp(dir.resolve("nope").toString) == "absent")
      val empty = OpCache.dirStamp(dir.toString)
      Files.writeString(dir.resolve("f"), "x")
      assert(OpCache.dirStamp(dir.toString) != empty)
    } finally {
      Files.list(dir).forEach(p => Files.delete(p))
      Files.delete(dir)
    }
  }
}
