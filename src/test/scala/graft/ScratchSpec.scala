package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.io.Scratch
import graft.operators.AnnIndexStore

/** The driver's scratch disk leaks nothing: a work directory goes on every
  * exit path of its run, the delete never follows a symlink out of the
  * directory, and the JVM-lifetime artifacts go with the root.
  */
class ScratchSpec extends AnyFunSuite with SparkFixture {

  /** Entries named `prefix…` at the top of `java.io.tmpdir` (where a
    * per-run directory used to be made) and in the scratch root's `work/`
    * (where it is made now): one check covers both trees. */
  private def tmpEntries(prefix: String): Set[Path] =
    Seq(Paths.get(System.getProperty("java.io.tmpdir")), Scratch.root.resolve("work"))
      .filter(Files.isDirectory(_)).flatMap { d =>
        val st = Files.list(d)
        try st.toArray.map(_.asInstanceOf[Path])
          .filter(_.getFileName.toString.startsWith(prefix)).toSet
        finally st.close()
      }.toSet

  test("a throwing body still deletes its work directory") {
    var seen: Option[Path] = None
    intercept[IllegalStateException] {
      Scratch.withWorkDir("scratch_throw") { d =>
        seen = Some(d)
        Files.writeString(d.resolve("partial"), "x")
        throw new IllegalStateException("drain failed")
      }
    }
    assert(seen.isDefined && !Files.exists(seen.get))
    assert(Scratch.liveWorkDirs.isEmpty)
  }

  test("deleting a work directory that holds a symlink leaves the link's target intact") {
    val outside = tempDir("scratch_target")
    val target = Files.writeString(outside.resolve("corpus.parquet"), "corpus")
    Scratch.withWorkDir("scratch_link") { d =>
      val src = Files.createDirectories(d.resolve("src"))
      Scratch.link(outside, src.resolve("dir_link"))
      Scratch.link(target, src.resolve("file_link"))
      assert(Files.isSymbolicLink(src.resolve("dir_link")))
    }
    assert(Files.readString(target) == "corpus")
    assert(Scratch.liveWorkDirs.isEmpty)
  }

  test("q47 leaves no work directory behind when its drain fails") {
    // an events file without event_type: q47 raises while planning its
    // stream, after its work directory has been staged
    val dir = tempDir("scratch_noetype")
    spark.read.parquet(s"$sfDir/events.parquet").drop("event_type")
      .write.parquet(dir.resolve("events.parquet").toString)
    val before = tmpEntries("q47_append")
    intercept[Exception] {
      SparkEntry.queries("q47_stream_hourly_append")(spark, dir.toString).collect()
    }
    assert(tmpEntries("q47_append") -- before == Set.empty,
      "q47 left its work directory behind")
    assert(Scratch.liveWorkDirs.isEmpty, s"left: ${Scratch.liveWorkDirs}")
  }

  test("q185's auto-built ANN artifact is deleted by the scratch root's shutdown hook") {
    assert(SparkEntry.queries("q185_ann_index_serve")(spark, sfDir).collect().nonEmpty)
    // same parameters as the registered query: the memoized artifact
    val artifact = Paths.get(AnnIndexStore.artifactPath(spark, sfDir, 64, 5, 8, 256, 3))
    assert(artifact.startsWith(Scratch.root) && Files.isDirectory(artifact.resolve("codes")))
    Scratch.deleteRoot()
    assert(!Files.exists(artifact))
    assert(!Files.exists(Scratch.root))
    // every memo went with the root: the next call rebuilds under a new root
    assert(SparkEntry.queries("q185_ann_index_serve")(spark, sfDir).collect().nonEmpty)
    assert(Files.isDirectory(
      Paths.get(AnnIndexStore.artifactPath(spark, sfDir, 64, 5, 8, 256, 3)).resolve("codes")))
  }
}
