package graft.multimodal

import graft.{TempDirs, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val media = Multimodal.generate(spark, 90)

  test("generator is deterministic and schema-complete") {
    val a = Multimodal.generate(spark, 30).collect().map(_.media_id).toSeq
    val b = Multimodal.generate(spark, 30).repartition(7)
      .collect().map(_.media_id).toSeq.sorted
    assert(a.sorted == b)
    val df = media.toDF()
    assert(df.schema.fieldNames.toSet ==
      Multimodal.mediaSchema.fieldNames.toSet)
    assert(df.filter($"payload".isNull).count() == 0)
  }

  test("feature extraction: stable checksums, fixed-dim features") {
    val f1 = Multimodal.extractFeatures(media).collect()
      .map(f => f.media_id -> f.checksum).toMap
    val f2 = Multimodal.extractFeatures(media.repartition(5)).collect()
      .map(f => f.media_id -> f.checksum).toMap
    assert(f1 == f2) // partition-layout independent
    val dims = Multimodal.extractFeatures(media)
      .collect().map(_.feature.length).distinct
    assert(dims.toSeq == Seq(Multimodal.StubCodec.FeatureDim))
  }

  test("features survive a parquet round-trip with binary + array columns") {
    val dir = TempDirs("graft_media")
    Multimodal.extractFeatures(media).write.mode("overwrite")
      .parquet(s"$dir/features")
    val back = spark.read.parquet(s"$dir/features")
    assert(back.count() == media.count())
    assert(back.schema("feature").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, containsNull = false) ||
      back.schema("feature").dataType.typeName == "array")
  }

  test("frame sampling yields bounded per-video frames") {
    val frames = Multimodal.sampleFrames(media, nFrames = 4)
    val perVideo = frames.groupBy($"media_id").count()
    assert(perVideo.filter($"count" > 4).count() == 0)
    assert(frames.filter(length($"frame_bytes") === 0).count() == 0)
  }

  test("ImageCodec golden: decoded PNG pixels produce the hand-computed luminance grid") {
    // 2×2 image, one pure color per pixel: the 4×4 grid puts each pixel
    // alone in a corner cell; expected luminances are the Rec.601
    // weights computed here independently of the codec.
    val img = new java.awt.image.BufferedImage(2, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xff0000) // red
    img.setRGB(1, 0, 0x00ff00) // green
    img.setRGB(0, 1, 0x0000ff) // blue
    img.setRGB(1, 1, 0xffffff) // white
    val png = Multimodal.ImageCodec.encodePng(img)
    val f = Multimodal.ImageCodec.decodeToFeature(png)
    assert(f.length == Multimodal.ImageCodec.FeatureDim)
    def lum(r: Int, g: Int, b: Int) =
      (0.299f * r + 0.587f * g + 0.114f * b) / 255.0f
    // cell(x,y) = min(y*4/h,3)*4 + min(x*4/w,3) with w=h=2:
    // (0,0) → 0; (1,0) → 2; (0,1) → 8; (1,1) → 10
    assert(math.abs(f(0) - lum(255, 0, 0)) < 1e-6)
    assert(math.abs(f(2) - lum(0, 255, 0)) < 1e-6)
    assert(math.abs(f(8) - lum(0, 0, 255)) < 1e-6)
    assert(math.abs(f(10) - lum(255, 255, 255)) < 1e-6)
    assert(Seq(1, 3, 5, 15).forall(i => f(i) == 0.0f)) // unhit cells empty
  }

  test("ImageCodec: PNG round-trip preserves pixels; resize is nearest-neighbor") {
    val png = Multimodal.ImageCodec.makePng(7L, 8)
    val img = Multimodal.ImageCodec.decode(png)
    assert(img.getWidth == 8 && img.getHeight == 8)
    // round-trip: encode(decode(png)) decodes to identical pixels
    val img2 = Multimodal.ImageCodec.decode(
      Multimodal.ImageCodec.encodePng(img))
    for (y <- 0 until 8; x <- 0 until 8)
      assert((img2.getRGB(x, y) & 0xffffff) == (img.getRGB(x, y) & 0xffffff))
    // resize 8→4: target pixel (x,y) samples source (2x, 2y)
    val small = Multimodal.ImageCodec.decode(
      Multimodal.ImageCodec.resize(png, 4))
    assert(small.getWidth == 4 && small.getHeight == 4)
    for (y <- 0 until 4; x <- 0 until 4)
      assert((small.getRGB(x, y) & 0xffffff) ==
        (img.getRGB(2 * x, 2 * y) & 0xffffff))
    // never upscales
    val same = Multimodal.ImageCodec.decode(
      Multimodal.ImageCodec.resize(png, 100))
    assert(same.getWidth == 8 && same.getHeight == 8)
  }

  test("generated image payloads are real PNGs; distributed decode + resize work") {
    val images = media.filter(_.kind == "image")
    // every image payload starts with the PNG magic and decodes to its
    // declared metadata dimensions
    val heads = images.collect()
    assert(heads.nonEmpty)
    heads.foreach { m =>
      assert((m.payload(0) & 0xff) == 0x89 && m.payload(1) == 0x50.toByte)
      val img = Multimodal.ImageCodec.decode(m.payload)
      assert(img.getWidth == m.width.get && img.getHeight == m.height.get)
    }
    val resized = Multimodal.resizeImages(media, maxSide = 32)
    assert(resized.count() == images.count())
    assert(resized.filter($"out_width" =!= 32 || $"out_height" =!= 32)
      .count() == 0)
    // image features come from decoded pixels: luminance grid is bounded
    val feats = Multimodal.extractFeatures(media)
      .filter(_.kind == "image").collect()
    assert(feats.forall(_.feature.forall(v => v >= 0.0f && v <= 1.0f)))
  }

  test("AudioCodec golden: WAV round-trip preserves PCM; RMS envelope matches hand math") {
    // constant-amplitude square wave: RMS of every bin is exactly the
    // amplitude — computed here independently of the codec
    val amp = 8000
    val pcm = Array.tabulate[Short](1600)(i =>
      (if ((i / 8) % 2 == 0) amp else -amp).toShort)
    val wav = Multimodal.AudioCodec.encodeWav(pcm)
    // RIFF/WAVE magic
    assert(new String(wav.slice(0, 4), "US-ASCII") == "RIFF")
    assert(new String(wav.slice(8, 12), "US-ASCII") == "WAVE")
    assert(Multimodal.AudioCodec.decodePcm(wav).toSeq == pcm.toSeq)
    val f = Multimodal.AudioCodec.decodeToFeature(wav)
    assert(f.length == Multimodal.AudioCodec.FeatureDim)
    val expected = amp / 32768.0f
    f.foreach(v => assert(math.abs(v - expected) < 1e-4, s"$v vs $expected"))
    // duration: 1600 samples at 8 kHz = 200 ms
    assert(Multimodal.AudioCodec.durationMs(wav) == 200)
  }

  test("generated audio payloads are real WAVs matching their metadata") {
    val audios = media.filter(_.kind == "audio").collect()
    assert(audios.nonEmpty)
    audios.foreach { m =>
      assert(new String(m.payload.slice(0, 4), "US-ASCII") == "RIFF")
      assert(Multimodal.AudioCodec.durationMs(m.payload) == m.duration_ms.get)
    }
    // audio features come from decoded samples: a sine mix with peak
    // amplitude 0.7 has per-bin RMS well inside (0, 0.7]
    val feats = Multimodal.extractFeatures(media)
      .filter(_.kind == "audio").collect()
    assert(feats.nonEmpty)
    assert(feats.forall(_.feature.forall(v => v > 0.0f && v <= 0.7f)))
  }

  test("resize plan: aspect preserved, never upscales") {
    val plan = Multimodal.resizePlan(media.toDF(), maxSide = 32)
    assert(plan.filter($"out_width" > 32 || $"out_height" > 32).count() == 0)
    assert(plan.filter($"scale" > 1.0).count() == 0)
  }

  test("VideoCodec golden: MPNG AVI round-trips frames pixel-exact") {
    // lossless PNG frames → decoded pixels must equal the originals
    val frames = (0 until 5).map { fno =>
      val img = new java.awt.image.BufferedImage(16, 12,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 12; x <- 0 until 16)
        img.setRGB(x, y, (fno * 40 + x * 5) << 16 | (y * 20) << 8 | fno * 50)
      img
    }
    val avi = VideoCodec.makeAvi(frames, fps = 5, frameFormat = "png")
    assert(new String(avi.slice(0, 4), "US-ASCII") == "RIFF")
    assert(new String(avi.slice(8, 12), "US-ASCII") == "AVI ")
    assert(VideoCodec.frameCount(avi) == 5)
    assert(VideoCodec.durationMs(avi) == 1000)
    val back = VideoCodec.decodeFrames(avi)
    frames.zip(back).foreach { case (a, b) =>
      assert(a.getWidth == b.getWidth && a.getHeight == b.getHeight)
      for (y <- 0 until a.getHeight; x <- 0 until a.getWidth)
        assert((a.getRGB(x, y) & 0xffffff) == (b.getRGB(x, y) & 0xffffff))
    }
  }

  test("VideoCodec: corrupt AVIs fail fast with the descriptive require") {
    // regression for the round-4 bounds checks: a corrupt LE32 size must
    // raise the descriptive IllegalArgumentException, never loop forever
    // (negative size walked `off` backwards) or escape as a raw
    // ArrayIndexOutOfBounds / StringIndexOutOfBounds
    def le32(v: Int): Array[Byte] = Array(
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def avi(chunkSize: Int): Array[Byte] =
      "RIFF".getBytes("US-ASCII") ++ le32(100) ++ "AVI ".getBytes("US-ASCII") ++
        "00dc".getBytes("US-ASCII") ++ le32(chunkSize) ++ Array.fill[Byte](8)(1)

    for (bad <- Seq(-5 /*negative walks backwards*/,
        1000 /*truncated: size exceeds payload*/,
        Int.MaxValue - 4 /*int wrap: dataOff + size overflows negative*/)) {
      val e1 = intercept[IllegalArgumentException](VideoCodec.frameChunks(avi(bad)))
      assert(e1.getMessage.contains("corrupt RIFF chunk"), s"size=$bad")
      val e2 = intercept[IllegalArgumentException](VideoCodec.durationMs(avi(bad)))
      assert(e2.getMessage.contains("corrupt RIFF chunk"), s"size=$bad")
    }
    // non-AVI payloads are rejected before any chunk walk
    val e = intercept[IllegalArgumentException](
      VideoCodec.frameChunks("not a riff container at all".getBytes))
    assert(e.getMessage.contains("not a RIFF/AVI container"))
  }

  test("VideoCodec: MJPEG decode recovers luminance within JPEG tolerance") {
    val avi = VideoCodec.makeAviSample(id = 7, nFrames = 8, side = 32, fps = 4)
    val back = VideoCodec.decodeFrames(avi)
    assert(back.length == 8)
    // JPEG is lossy but mean luminance survives to within a few percent
    val feature = VideoCodec.decodeToFeature(avi)
    assert(feature.length == 16)
    val firstLum = ImageCodecSupport.meanLuminance(back.head)
    assert(math.abs(feature(0) - firstLum) < 1e-6) // bin 0 = frame 0 here
    assert(feature.forall(v => v >= 0f && v <= 1f))
    // temporal envelope varies across bins (frames drift by design)
    assert(feature.distinct.length > 1)
  }

  test("generated video payloads are real AVIs; distributed decode + frame sampling work") {
    val vids = media.filter(_.kind == "video").collect()
    assert(vids.nonEmpty)
    vids.foreach { m =>
      assert(m.format == "avi")
      assert(new String(m.payload.slice(0, 4), "US-ASCII") == "RIFF")
      assert(VideoCodec.durationMs(m.payload) == m.duration_ms.get)
      assert(VideoCodec.frameCount(m.payload) == 4 + (m.media_id % 9).toInt)
    }
    // distributed feature extraction runs the real container parse
    val feats = Multimodal.extractFeatures(media)
      .filter(_.kind == "video").collect()
    assert(feats.nonEmpty)
    assert(feats.forall(f => f.feature.length == 16 &&
      f.feature.exists(_ > 0f)))
    // sampled frames are decodable JPEG stills
    val sampled = Multimodal.sampleFrames(media, nFrames = 3)
      .select($"frame_bytes").as[Array[Byte]].collect()
    assert(sampled.nonEmpty)
    sampled.foreach { bytes =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      assert(img != null && img.getWidth == 32)
    }
  }
}
