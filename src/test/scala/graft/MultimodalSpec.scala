package graft

import graft.operators.Multimodal
import graft.operators.Multimodal.MediaRow
import org.apache.spark.sql.functions._

/** The real-decoder multimodal path: ImageIO must parse the handwritten
  * BMPs, the raster features must equal the generating arithmetic, and
  * undecodable payloads must fail loudly (dead-letterable), not decode
  * to garbage.
  */
class MultimodalSpec extends SparkSpec {

  test("ImageIO round-trip: decoded raster equals the generating arithmetic") {
    val row = MediaRow(7L, "image/bmp", Multimodal.encodeBmp(7L, 123L))
    val f = Multimodal.decodeImage(row)
    assert(f.width == 16 && f.height == 16)
    assert(f.byte_len == Multimodal.BmpBytes)
    val expectedSum = (0 until 256).map(i => (i * 37 + 7L * 11 + 123L) % 256).sum
    assert(f.mean_luma == expectedSum.toDouble / (255.0 * 256))
    // deterministic
    assert(Multimodal.decodeImage(row) == f)
  }

  test("mm_features: full pipeline over documents, distributed decode") {
    import spark.implicits._
    val rows = Multimodal.mmFeatures(spark, Sf0001)
      .as[(Long, Long, Int, Int, Double)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall { case (_, len, w, h, luma) =>
      len == Multimodal.BmpBytes && w == 16 && h == 16 &&
        luma >= 0.0 && luma <= 1.0
    })
    // spot-check one row against the arithmetic, computed independently
    val (docId, textLen) = Tables.documents(spark, Sf0001)
      .select(col("doc_id"), length(col("text")).cast("long"))
      .as[(Long, Long)].head()
    val expected = (0 until 256).map(i => (i * 37 + docId * 11 + textLen) % 256)
      .sum.toDouble / (255.0 * 256)
    val got = rows.toMap2(docId)._4
    assert(got == expected, s"doc $docId: got $got expected $expected")
  }

  test("undecodable payload fails loudly") {
    intercept[IllegalArgumentException] {
      Multimodal.decodeImage(MediaRow(1L, "image/bmp", "not an image".getBytes))
    }
  }

  test("box resize: decoded-then-resized pixels equal block means of the arithmetic") {
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(Multimodal.encodeBmp(3L, 42L)))
    val px = Multimodal.resizeBoxPixels(img, 4)
    assert(px.length == 16)
    def level(i: Int): Long = (i * 37 + 3L * 11 + 42L) % 256
    val expected = (0 until 16).map { p =>
      val (bx, by) = (p % 4, p / 4)
      val sum = (for (dy <- 0 until 4; dx <- 0 until 4)
        yield level((by * 4 + dy) * 16 + (bx * 4 + dx))).sum
      sum / 16
    }
    assert(px.toSeq == expected)
    // degenerate resize (factor 1) is the identity raster
    val id16 = Multimodal.resizeBoxPixels(img, 1)
    assert(id16.length == 256 && (0 until 256).forall(i => id16(i) == level(i)))
  }

  test("frame sampling: every sampled frame decodes to its own arithmetic") {
    val m = MediaRow(5L, "video/x-fixture", Multimodal.encodeVideo(5L, 99L, 6))
    assert(m.payload.length == 6 * Multimodal.BmpBytes)
    val frames = Multimodal.sampleFrames(m, 2).toSeq
    assert(frames.map(_.frame_idx) == Seq(0L, 2L, 4L))
    frames.foreach { fr =>
      val expected = (0 until 256)
        .map(i => (i * 37 + 5L * 11 + 99L + fr.frame_idx * 53) % 256)
        .sum.toDouble / (255.0 * 256)
      assert(fr.mean_luma == expected, s"frame ${fr.frame_idx}")
    }
    // NOTE: every frame's MEAN is exactly 0.5 by construction (i·37 mod
    // 256 is a bijection, so each frame's pixel sum is the full residue
    // sum) — frame distinctness must be asserted on the RASTER
    val all = Multimodal.sampleFrames(m, 1).toSeq
    assert(all.length == 6)
    def raster(f: Int): Seq[Long] = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
        java.util.Arrays.copyOfRange(m.payload,
          f * Multimodal.BmpBytes, (f + 1) * Multimodal.BmpBytes)))
      Multimodal.resizeBoxPixels(img, 1).toSeq
    }
    assert(raster(0) != raster(2) && raster(2) != raster(4))
    // pixel-level parity of a sampled frame with its arithmetic
    assert(raster(2) == (0 until 256).map(i => (i * 37 + 5L * 11 + 99L + 2 * 53) % 256))
  }

  test("audio: real WAV decode equals the sample arithmetic") {
    val m = MediaRow(9L, "audio/wav", Multimodal.encodeWav(9L, 77L))
    assert(m.payload.length == Multimodal.WavBytes)
    val f = Multimodal.decodeAudio(m)
    assert(f.n_samples == 1024 && f.sample_rate == 8000)
    def level(i: Int): Long = (i * 37 + 9L * 11 + 77L) % 256
    assert(f.first_sample == level(0))
    val levels = (0 until 1024).map(level)
    assert(f.mean_level == levels.sum.toDouble / (255.0 * 1024))
    assert(f.rms == math.sqrt(
      levels.map(l => (l - 128) * (l - 128)).sum.toDouble / 1024))
    // a truncated container fails loudly, not silently
    intercept[Exception] {
      Multimodal.decodeAudio(MediaRow(9L, "audio/wav",
        java.util.Arrays.copyOfRange(m.payload, 0, 20)))
    }
  }

  test("PNG: real writer+reader round-trip is pixel-exact") {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
      Multimodal.encodePng(5L, 99L)))
    assert(img != null && img.getWidth == 16 && img.getHeight == 16)
    // raster samples equal the generating arithmetic, pixel for pixel
    val r = img.getRaster
    (0 until 256).foreach { i =>
      assert(r.getSample(i % 16, i / 16, 0) == ((i * 37 + 5L * 11 + 99L) % 256),
        s"pixel $i differs after PNG round-trip")
    }
    // PNG container really is PNG (magic), and is not the raw raster
    val bytes = Multimodal.encodePng(5L, 99L)
    assert((bytes(0) & 0xff) == 0x89 && bytes(1) == 'P'.toByte)
  }

  test("GIF: palette round-trip is pixel-exact, palette entries carry literal gray") {
    val bytes = Multimodal.encodeGif(5L, 99L)
    assert(bytes(0) == 'G'.toByte && bytes(1) == 'I'.toByte && bytes(2) == 'F'.toByte)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    assert(img != null && img.getWidth == 16 && img.getHeight == 16)
    (0 until 256).foreach { i =>
      val want = ((i * 37 + 5L * 11 + 99L) % 256).toInt
      val rgb = img.getRGB(i % 16, i / 16)
      assert((rgb & 0xff) == want && ((rgb >> 16) & 0xff) == want,
        s"pixel $i differs after GIF round-trip: got ${rgb.toHexString}, want $want")
    }
    val rows = graft.operators.Multimodal.mmGif(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Int]("width") == 16 && r.getAs[Int]("height") == 16)
      assert(math.abs(r.getAs[Double]("mean_luma") -
        r.getAs[Long]("px_sum") / (255.0 * 256)) < 1e-12)
    }
  }

  test("JPEG: lossy decode keeps dims exact and mean luma tightly in band") {
    val bytes = Multimodal.encodeJpeg(5L, 99L)
    assert((bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8) // SOI
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    assert(img != null && img.getWidth == 16 && img.getHeight == 16)
    val dec = Multimodal.rasterSum(img).toDouble / (255.0 * 256)
    val exact = Multimodal.rasterSum(Multimodal.fixtureRaster(5L, 99L))
      .toDouble / (255.0 * 256)
    assert(math.abs(dec - exact) <= 0.02, s"luma drifted: dec=$dec exact=$exact")
    // and the loss is REAL: the sawtooth raster does not round-trip
    val rr = img.getRaster
    val exactPx = (0 until 256).map(i => ((i * 37 + 5L * 11 + 99L) % 256).toInt)
    assert((0 until 256).exists(i => rr.getSample(i % 16, i / 16, 0) != exactPx(i)),
      "JPEG round-tripped losslessly — band test is vacuous")
  }

  test("mm_png / mm_jpeg: distributed pipelines over the corpus") {
    val png = graft.operators.Multimodal.mmPng(spark, Sf0001).collect()
    assert(png.nonEmpty)
    png.foreach { r =>
      assert(r.getAs[Int]("width") == 16 && r.getAs[Int]("height") == 16)
      val s = r.getAs[Long]("px_sum")
      assert(math.abs(r.getAs[Double]("mean_luma") - s / (255.0 * 256)) < 1e-12)
    }
    val jpeg = graft.operators.Multimodal.mmJpeg(spark, Sf0001).collect()
    assert(jpeg.length == png.length)
    assert(jpeg.forall(r => r.getAs[Boolean]("decodes_ok") &&
      r.getAs[Boolean]("luma_in_band")))
  }

  test("profiled-range guards re-check a corpus rewritten in place") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("mm_guard").toString
    def writeCorpus(ids: Seq[Long]): Unit =
      ids.toDF("doc_id").coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
    writeCorpus(Seq(0L, 1L, 2L))
    assert(Multimodal.mmPhashJpegSurvival(spark, dir).count() == 3)
    // same path, new max beyond every profiled range
    writeCorpus(Seq(0L, 1L + Seq(Multimodal.PhashJpegProfiledMaxId,
      Multimodal.VideoJpegProfiledMaxId, Multimodal.AudioUlawProfiledMaxId).max))
    val audits = Seq[() => Any](
      () => Multimodal.mmPhashJpegSurvival(spark, dir),
      () => Multimodal.mmVideoJpegSurvival(spark, dir),
      () => Multimodal.mmAudioUlawSurvival(spark, dir))
    audits.foreach { audit =>
      val e = intercept[IllegalArgumentException](audit())
      assert(e.getMessage.contains("profiled for"))
    }
  }

  private implicit class TupleOps(rows: Array[(Long, Long, Int, Int, Double)]) {
    def toMap2: Map[Long, (Long, Int, Int, Double)] =
      rows.map(t => t._1 -> ((t._2, t._3, t._4, t._5))).toMap
  }
}
