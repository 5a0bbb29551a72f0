package graft

import java.io.{IOException, RandomAccessFile}
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileContext, FileStatus, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{ForkFreeLocalFileSystem, ForkFreeLocalFs}
import graft.sources.Archive
import graft.streaming.{FakeKinesis, StreamOps, StreamProducer}

/** The session's local file system (`graft.io.LocalFs`): archive and
  * checkpoint writes start no subprocess, while files, permission bits,
  * `.crc` checksums and symlink handling stay those of stock Hadoop.
  */
class LocalFsSpec extends AnyFunSuite with SparkFixture {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  /** All 12 permission bits, sticky included (java.nio's POSIX view has 9). */
  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 4095

  private def octal(s: String): Int = Integer.parseInt(s, 8)

  private def under(root: JPath): Seq[JPath] = {
    val s = Files.walk(root)
    try s.iterator.asScala.filter(_ != root).toVector finally s.close()
  }

  private def localConf: Configuration = spark.sessionState.newHadoopConf()

  /** A new, uncached `file://` file system for `conf`; a plain
    * `Configuration` gives the one the classpath registers by default.
    */
  private def fileFs(conf: Configuration): FileSystem = FileSystem.newInstance(new URI("file:///"), conf)

  /** Four records over three dates, stored through `Archive.store`. */
  private def storeArchive(): JPath = {
    import spark.implicits._
    val root = tempDir("localfs_archive")
    val df = Seq((1L, ts("2024-01-05 10:00:00"), 1.0), (2L, ts("2024-01-06 11:00:00"), 2.0),
      (3L, ts("2024-01-06 12:00:00"), 3.0), (4L, ts("2024-01-07 09:00:00"), 4.0))
      .toDF("event_id", "ts", "value")
    Archive.store(df, root.toString, "c1")
    root
  }

  private def stackTypes(e: RecordedEvent): Seq[(String, String)] =
    Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
      .map(f => (f.getMethod.getType.getName, f.getMethod.getName))

  test("archive store and a checkpointed stream drain start no local-FS subprocess") {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    val ckpt = tempDir("localfs_ckpt")
    try {
      storeArchive()
      FakeKinesis.reset()
      FakeKinesis.createStream("lfs", 2)
      val p = new StreamProducer
      (1L to 6L).foreach(i => p.put("lfs", s"k$i",
        Map("event_id" -> i, "ts" -> ts(s"2024-01-0${i % 3 + 5} 10:00:00"), "value" -> i.toDouble)))
      val decoded = spark.readStream.format("kinesis-graft").option("stream", "lfs").load()
        .selectExpr("from_msgpack(data, 'event_id BIGINT, ts TIMESTAMP, value DOUBLE') AS r")
        .select("r.event_id", "r.ts", "r.value")
      val root = tempDir("localfs_drain").toString
      StreamOps.startStore(decoded, root, "prod", ckpt.toString).awaitTermination()
      assert(Archive.read(spark, root, "prod", "20240101", "20241231").count() === 6)
      // control: the recording does see a process this thread starts
      new ProcessBuilder("true").start().waitFor()
    } finally rec.stop()
    val dump = Files.createTempFile("localfs", ".jfr")
    rec.dump(dump)
    rec.close()
    val events = RecordingFile.readAllEvents(dump).asScala.toVector
    Files.delete(dump)
    assert(Files.exists(ckpt.resolve("commits").resolve("0")), "the drain must commit a batch")
    assert(events.exists(e => stackTypes(e).exists(_._1 == getClass.getName)),
      "the recording must capture the control process")
    val forked = events.filter(e => stackTypes(e).exists {
      case ("org.apache.hadoop.fs.RawLocalFileSystem", _) => true
      case ("org.apache.hadoop.fs.FileUtil", "readLink") => true
      case _ => false
    })
    assert(forked.isEmpty,
      s"${forked.size} local-FS subprocesses, e.g. ${forked.take(3).map(_.getString("command")).mkString("; ")}")
  }

  test("the session's Hadoop conf resolves file:// to the fork-free classes") {
    val conf = localConf
    assert(FileSystem.get(new URI("file:///"), conf).isInstanceOf[ForkFreeLocalFileSystem])
    assert(FileContext.getLocalFSFileContext(conf).getDefaultFileSystem.isInstanceOf[ForkFreeLocalFs])
  }

  test("archive files and directories get stock Hadoop's default permission bits") {
    val conf = localConf
    val umask = FsPermission.getUMask(conf)
    val fileMode = FsPermission.getFileDefault.applyUMask(umask).toShort.toInt
    val dirMode = FsPermission.getDirDefault.applyUMask(umask).toShort.toInt
    val (dirs, files) = under(storeArchive()).partition(Files.isDirectory(_))
    assert(dirs.exists(_.getFileName.toString.startsWith("date=")))
    assert(files.exists(_.toString.endsWith(".tri")))
    dirs.foreach(d => assert(mode(d) === dirMode, d))
    files.foreach(f => assert(mode(f) === fileMode, f))
  }

  test("creates, mkdirs, chmods and renames leave the same files as the stock file system") {
    Seq("022", "077", "002", "027").foreach { umask =>
      def written(conf: Configuration): Seq[(String, Int)] = {
        conf.set(FsPermission.UMASK_LABEL, umask)
        val fs = fileFs(conf)
        val root = tempDir("localfs_perm")
        val r = new Path(root.toUri)
        fs.create(new Path(r, "a/b/file")).close()
        fs.mkdirs(new Path(r, "plain/dir"))
        fs.mkdirs(new Path(r, "masked/dir"), FsPermission.getDirDefault.applyUMask(FsPermission.getUMask(conf)))
        fs.create(new Path(r, "chmod")).close()
        fs.setPermission(new Path(r, "chmod"), new FsPermission(octal("640").toShort))
        fs.mkdirs(new Path(r, "chmod_dir"))
        fs.setPermission(new Path(r, "chmod_dir"), new FsPermission(octal("701").toShort))
        // a rename onto an existing file is refused; onto a new name it moves the .crc too
        assert(!fs.rename(new Path(r, "chmod"), new Path(r, "a/b/file")))
        assert(fs.rename(new Path(r, "chmod"), new Path(r, "moved")))
        val got = under(root).map(p => root.relativize(p).toString -> mode(p)).sorted
        fs.close()
        got
      }
      val stock = written(new Configuration())
      assert(stock.exists(_._1.endsWith(".moved.crc")))
      assert(written(new Configuration(localConf)) === stock, s"umask $umask")
    }
  }

  test("a flipped byte in a .tri file still fails the read with a checksum error") {
    val root = storeArchive()
    val tris = under(root).filter(_.toString.endsWith(".tri"))
    assert(tris.nonEmpty)
    tris.foreach { t =>
      assert(Files.exists(t.resolveSibling(s".${t.getFileName}.crc")), s"no .crc beside $t")
    }
    assert(spark.read.format("tri").load(root.toString).count() === 4)
    val raf = new RandomAccessFile(tris.head.toFile, "rw")
    try {
      val at = raf.length / 2
      raf.seek(at)
      val b = raf.read()
      raf.seek(at)
      raf.write(b ^ 0xff)
    } finally raf.close()
    val e = intercept[Exception](spark.read.format("tri").load(root.toString).collect())
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toVector
    assert(chain.exists(_.isInstanceOf[ChecksumException]), chain.mkString("\n"))
  }

  test("symlinks and sticky bits still take Hadoop's own path") {
    val conf = localConf
    val fs = FileSystem.getLocal(conf)
    val fc = FileContext.getLocalFSFileContext(conf)
    val stockFs = fileFs(new Configuration())
    val stockFc = FileContext.getLocalFSFileContext(new Configuration())
    assert(!stockFs.isInstanceOf[ForkFreeLocalFileSystem])
    assert(!stockFc.getDefaultFileSystem.isInstanceOf[ForkFreeLocalFs])
    val dir = tempDir("localfs_link")
    val target = Files.write(dir.resolve("target"), "x".getBytes)
    val missing = dir.resolve("missing")
    val link = Files.createSymbolicLink(dir.resolve("link"), target)
    val dangling = Files.createSymbolicLink(dir.resolve("dangling"), missing)
    // Hadoop's local file system reads a link through its bare path string
    Seq(link -> target, dangling -> missing).foreach { case (l, t) =>
      val st = fs.getFileLinkStatus(new Path(l.toString))
      assert(st.isSymlink, l)
      assert(st.getSymlink.toUri.getPath === t.toString)
    }
    def answer(linkStatus: Path => FileStatus, p: Path): String =
      try {
        val st = linkStatus(p)
        Seq(st.isSymlink, if (st.isSymlink) st.getSymlink else "", st.isFile, st.getLen).mkString(",")
      } catch { case e: IOException => e.getClass.getName }
    for (p <- Seq(link, dangling, target, missing, dir); path <- Seq(new Path(p.toString), new Path(p.toUri))) {
      assert(answer(fs.getFileLinkStatus, path) === answer(stockFs.getFileLinkStatus, path), path)
      assert(answer(fc.getFileLinkStatus, path) === answer(stockFc.getFileLinkStatus, path), path)
    }
    stockFs.close()
    val sticky = Files.createDirectory(dir.resolve("sticky"))
    fs.setPermission(new Path(sticky.toUri), new FsPermission(octal("1777").toShort))
    assert(mode(sticky) === octal("1777"))
    fs.setPermission(new Path(sticky.toUri), new FsPermission(octal("750").toShort))
    assert(mode(sticky) === octal("750"))
  }
}
