package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Multimodal

/** The decode stage must be a REAL codec pass: these tests check the
  * generated payloads are genuine PNG/WAV containers (magic bytes), and
  * that the decoded metadata q30/q60 emit equals values computed here
  * WITHOUT any codec — which only holds if encode->decode is lossless
  * and the decoder actually parsed the container.
  */
class MultimodalSpec extends AnyFunSuite with SparkFixture {

  private def md5hex(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(b)
      .map(x => f"$x%02x").mkString

  test("buildPng emits a real PNG container; ImageIO round-trips the raster") {
    val png = Multimodal.buildPng(37L, "the quick brown fox jumps over the lazy dog 0123")
    // PNG signature: 89 50 4E 47 0D 0A 1A 0A
    assert((png(0) & 0xff) == 0x89 && png(1) == 'P' && png(2) == 'N' && png(3) == 'G')
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    assert(img.getWidth == (1 + 37 % 16) && img.getHeight == (1 + (37 / 16) % 16))
  }

  test("buildWav emits a real RIFF/WAVE container") {
    val wav = Multimodal.buildWav(5L, "hello world, this is a pcm payload")
    assert(new String(wav, 0, 4, "US-ASCII") == "RIFF")
    assert(new String(wav, 8, 4, "US-ASCII") == "WAVE")
  }

  test("buildGif emits a real multi-frame GIF; frames round-trip the md5 rasters") {
    val gif = Multimodal.buildGif(9L, "animated payload text")
    assert(new String(gif, 0, 6, "US-ASCII") == "GIF89a" ||
      new String(gif, 0, 6, "US-ASCII") == "GIF87a")
    val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(gif))
    reader.setInput(iis, false, true)
    assert(reader.getNumImages(true) == (2 + 9 % 6)) // 5 frames
    // every frame's decoded red channel is exactly the generating digest
    (0 until 5).foreach { f =>
      val img = reader.read(f)
      assert(img.getWidth == 4 && img.getHeight == 4)
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(s"9:$f:animated payload text".getBytes("UTF-8"))
      val px = img.getRGB(0, 0, 4, 4, null, 0, 4)
      (0 until 16).foreach { i =>
        assert(((px(i) >> 16) & 0xff) == (digest(i) & 0xff), s"frame $f pixel $i")
      }
    }
    iis.close(); reader.dispose()
  }

  test("q89 samples every 2nd frame and sums exactly the sampled digests") {
    val spark2 = spark
    import spark2.implicits._
    val dir = tempDir("giffix").toString
    // doc 2 -> 4 frames (samples f=0,2), doc 3 -> 5 frames (f=0,2,4)
    Seq((2L, "aa bb"), (3L, "cc dd"))
      .toDF("doc_id", "text")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("source", org.apache.spark.sql.functions.lit("t"))
      .withColumn("n_chars", org.apache.spark.sql.functions.length(
        org.apache.spark.sql.functions.col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    def digestSum(id: Long, f: Int, text: String): Long =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id:$f:$text".getBytes("UTF-8")).map(b => (b & 0xff).toLong).sum
    val got = Multimodal.gifFrameSample(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === Seq(
      (2L, 4L, 2L, digestSum(2, 0, "aa bb") + digestSum(2, 2, "aa bb")),
      (3L, 5L, 3L, digestSum(3, 0, "cc dd") + digestSum(3, 2, "cc dd") + digestSum(3, 4, "cc dd"))))
  }

  test("q30 decoded dimensions and pixel checksum match the codec-free rule") {
    val rows = Multimodal.blobMeta(spark, sfDir).collect()
    assert(rows.length > 0)
    val texts = Tables.table(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { r =>
      val id = r.getLong(0)
      val w = 1L + id % 16L; val h = 1L + (id / 16L) % 16L
      assert(r.getLong(1) == w, s"width doc $id")
      assert(r.getLong(2) == h, s"height doc $id")
      assert(r.getLong(3) == w * h * 3)
      val src = texts(id).getBytes("UTF-8")
      val cycled = Array.tabulate((w * h * 3).toInt)(i => src(i % src.length))
      assert(r.getString(4) == md5hex(cycled), s"pixel md5 doc $id")
    }
  }

  test("q61 thumbnails equal the codec-free nearest-neighbor rule") {
    val rows = Multimodal.imageResize(spark, sfDir).collect()
    assert(rows.length > 0)
    val texts = Tables.table(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { r =>
      val id = r.getLong(0)
      val w = (1L + id % 16L).toInt; val h = (1L + (id / 16L) % 16L).toInt
      assert(r.getLong(1) == w && r.getLong(2) == h)
      val src = texts(id).getBytes("UTF-8")
      val cyc = Array.tabulate(w * h * 3)(i => src(i % src.length))
      val out = Array.tabulate(8 * 8 * 3) { p =>
        val pix = p / 3; val c = p % 3
        val sx = (pix % 8) * w / 8; val sy = (pix / 8) * h / 8
        cyc((sy * w + sx) * 3 + c)
      }
      assert(r.getString(3) == md5hex(out), s"thumb md5 doc $id")
    }
  }

  test("q62 amplitude stats equal integer folds of the generating samples") {
    val rows = Multimodal.audioEnergy(spark, sfDir).collect()
    assert(rows.length > 0)
    val texts = Tables.table(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { r =>
      val id = r.getLong(0)
      val vs = texts(id).getBytes("UTF-8").map(b => (b & 0xff).toLong * 257L)
      assert(r.getLong(1) == vs.length.toLong)
      assert(r.getLong(2) == vs.sum, s"sum_amp doc $id")
      assert(r.getLong(3) == vs.max, s"peak_amp doc $id")
    }
  }

  test("q60 decoded format and pcm checksum match the codec-free rule") {
    val rows = Multimodal.audioMeta(spark, sfDir).collect()
    assert(rows.length > 0)
    val texts = Tables.table(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getLong(1) == 8000L * (1L + id % 4L), s"rate doc $id")
      assert(r.getLong(2) == 1L)
      val src = texts(id).getBytes("UTF-8")
      assert(r.getLong(3) == src.length.toLong, s"frames doc $id")
      val doubled = src.flatMap(b => Array(b, b))
      assert(r.getString(4) == md5hex(doubled), s"pcm md5 doc $id")
    }
  }
}
