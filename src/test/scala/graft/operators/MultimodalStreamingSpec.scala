package graft.operators

import graft.SparkSpec
import graft.catalog.GraftCatalog
import graft.streaming.IngestStream
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

class MultimodalSpec extends SparkSpec {

  private def mediaDf(n: Int) = {
    val rows = (0 until n).map { i =>
      Row(i.toLong, Array.fill[Byte](100 + i)((i % 127).toByte), "img")
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), Multimodal.MediaSchema)
  }

  test("feature extraction: schema, determinism, batch shape") {
    val out = Multimodal.extractFeatures(mediaDf(10))
    assert(out.schema == Multimodal.FeatureSchema)
    val rows = out.orderBy("media_id").collect()
    assert(rows.length == 10)
    assert(rows.forall(_.getSeq[Float](6).length == 8))
    assert(rows.forall(r => r.getLong(2) == 100 + r.getLong(0))) // n_bytes
    // deterministic: re-running yields identical checksums
    val again = Multimodal.extractFeatures(mediaDf(10))
      .orderBy("media_id").collect()
    assert(rows.map(_.getLong(5)).toSeq == again.map(_.getLong(5)).toSeq)
  }

  test("frame sampling: n frames per item, slices cover the byte range") {
    val frames = Multimodal.sampleFrames(mediaDf(3), framesPerItem = 4)
      .orderBy("media_id", "frame_idx").collect()
    assert(frames.length == 12)
    assert(frames.map(_.getInt(1)).toSeq.take(4) == Seq(0, 1, 2, 3))
    assert(frames.forall(_.getAs[Array[Byte]](2).nonEmpty))
  }

  /** Deterministic w×h PNG: left half black, right half white. */
  private def pngBytes(w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, if (x < w / 2) 0x000000 else 0xffffff)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  test("image formats decode for REAL via the JDK codec (true dims + histogram)") {
    val rows = Seq(
      Row(0L, pngBytes(32, 16), "png"),
      Row(1L, pngBytes(10, 10), "PNG"),       // format match is case-blind
      Row(2L, Array[Byte](1, 2, 3), "png"),   // corrupt -> stub fallback
      Row(3L, pngBytes(8, 8), "wav"))         // non-image -> stub
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), Multimodal.MediaSchema)
    val got = Multimodal.extractFeatures(media).orderBy("media_id").collect()

    // true dimensions from the decoded raster, not byte-derived pseudo
    assert(got(0).getInt(3) == 32 && got(0).getInt(4) == 16)
    assert(got(1).getInt(3) == 10 && got(1).getInt(4) == 10)
    // half-black half-white: luminance mass sits in bins 0 and 7 only
    val hist = got(0).getSeq[Float](6)
    assert(math.abs(hist(0) - 0.5f) < 1e-6 && math.abs(hist(7) - 0.5f) < 1e-6,
      s"expected 50/50 luminance split, got $hist")
    assert((1 to 6).forall(b => hist(b) == 0f), s"mid bins must be empty: $hist")
    // corrupt bytes and non-image formats take the stub path (pseudo
    // dims are byte-derived, never the raster's)
    val stubDims = Multimodal.decodeStub(Array[Byte](1, 2, 3))
    assert(got(2).getInt(3) == stubDims._1 && got(2).getInt(4) == stubDims._2)
    val wavStub = Multimodal.decodeStub(pngBytes(8, 8))
    assert(got(3).getInt(3) == wavStub._1 && got(3).getInt(4) == wavStub._2)
    // checksum lineage is decoder-independent (shared byteChecksum)
    assert(got(0).getLong(5) == Multimodal.byteChecksum(pngBytes(32, 16)))
  }

  /** 16-bit mono PCM WAV: `frames` samples from a generator. */
  private def wavBytes(frames: Int, rate: Float)(sample: Int => Short): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(rate, 16, 1, true, false)
    val pcm = new Array[Byte](frames * 2)
    for (i <- 0 until frames) {
      val s = sample(i)
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** Minimal MJPEG-in-AVI encoder for the fixture: RIFF('AVI ') with an
    * hdrl LIST carrying avih (frame count + dims) and a movi LIST with
    * one '00dc' JPEG chunk per frame — the structure decodeAviMjpeg
    * parses. Frames are solid-gray JPEGs of increasing brightness. */
  private def aviBytes(w: Int, h: Int, nFrames: Int): Array[Byte] = {
    def jpeg(level: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val rgb = (level << 16) | (level << 8) | level
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", out)
      out.toByteArray
    }
    val bb = new java.io.ByteArrayOutputStream()
    def le32(v: Int): Array[Byte] =
      Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def chunk(id: String, body: Array[Byte]): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream()
      o.write(id.getBytes("US-ASCII")); o.write(le32(body.length)); o.write(body)
      if (body.length % 2 == 1) o.write(0) // even padding
      o.toByteArray
    }
    def list(subtype: String, bodies: Array[Byte]*): Array[Byte] = {
      val inner = new java.io.ByteArrayOutputStream()
      inner.write(subtype.getBytes("US-ASCII")); bodies.foreach(inner.write)
      chunk("LIST", inner.toByteArray)
    }
    val avih = new Array[Byte](56)
    System.arraycopy(le32(nFrames), 0, avih, 16, 4) // dwTotalFrames
    System.arraycopy(le32(w), 0, avih, 32, 4)       // dwWidth
    System.arraycopy(le32(h), 0, avih, 36, 4)       // dwHeight
    val frames = (0 until nFrames).map(i => chunk("00dc", jpeg(i * 255 / math.max(1, nFrames - 1))))
    val payload = new java.io.ByteArrayOutputStream()
    payload.write("AVI ".getBytes("US-ASCII"))
    payload.write(list("hdrl", chunk("avih", avih)))
    payload.write(list("movi", frames: _*))
    val p = payload.toByteArray
    bb.write("RIFF".getBytes("US-ASCII")); bb.write(le32(p.length)); bb.write(p)
    bb.toByteArray
  }

  test("MJPEG AVI decodes for REAL (header dims + temporal brightness profile)") {
    val avi = aviBytes(24, 12, nFrames = 10)
    val rows = Seq(
      Row(0L, avi, "avi"),
      Row(1L, avi.take(20), "avi"),                 // truncated -> stub
      Row(2L, Array[Byte](1, 2, 3, 4), "avi"))      // garbage -> stub
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), Multimodal.MediaSchema)
    val got = Multimodal.extractFeatures(media).orderBy("media_id").collect()
    val real = got(0)
    assert(real.getInt(3) == 24 && real.getInt(4) == 12,
      s"dims from avih: ${real.mkString(",")}")
    val profile = real.getSeq[Float](6)
    assert(profile.length == 8)
    // frames brighten monotonically 0 -> 255: the temporal profile must
    // increase and span most of the luminance range
    assert(profile.zip(profile.tail).forall { case (a, b) => a <= b }, profile)
    assert(profile.last - profile.head > 0.5f, profile)
    // malformed rows fell back to the stub's pseudo-dims (not the avih)
    assert(got(1).getInt(3) != 24 || got(1).getInt(4) != 12)
  }

  test("AVI frame sampling emits real JPEG payloads, evenly spaced") {
    val avi = aviBytes(16, 16, nFrames = 9)
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(0L, avi, "avi")), 1),
      Multimodal.MediaSchema)
    val frames = Multimodal.sampleFrames(media, framesPerItem = 3)
      .orderBy("frame_idx").collect()
    assert(frames.length == 3)
    frames.foreach { r =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](2)))
      assert(img != null && img.getWidth == 16 && img.getHeight == 16)
    }
    // evenly spaced across a brightening clip: each sampled frame is a
    // distinct payload
    assert(frames.map(_.getAs[Array[Byte]](2).toSeq).distinct.length == 3)
  }

  test("PCM WAV decodes for REAL via the JDK sound API (rate, channels, RMS)") {
    // 1600 frames @8kHz: first half silence, second half full-scale
    // square wave -> RMS segments 0..3 ~ 0, 4..7 ~ 1
    val wav = wavBytes(1600, 8000f) { i =>
      if (i < 800) 0 else if (i % 2 == 0) 32767 else -32768
    }
    val rows = Seq(Row(0L, wav, "wav"))
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), Multimodal.MediaSchema)
    val got = Multimodal.extractFeatures(media).collect()(0)
    assert(got.getInt(3) == 8000, "width carries the sample rate")
    assert(got.getInt(4) == 1, "height carries the channel count")
    val rms = got.getSeq[Float](6)
    assert((0 to 3).forall(s => rms(s) < 0.01f), s"leading silence: $rms")
    assert((4 to 7).forall(s => rms(s) > 0.99f), s"trailing square wave: $rms")
  }
}

class IngestStreamSpec extends SparkSpec {

  test("streaming ingest lands micro-batches in hour partitions") {
    val cat = new GraftCatalog(spark, tmpDir("stream_cat"))
    val landing = tmpDir("landing")
    val ckpt = tmpDir("ckpt")
    val schema = StructType(Seq(
      StructField("time", TimestampType),
      StructField("host", StringType),
      StructField("v", DoubleType)))

    // drop a parquet batch into the landing dir (3 rows, 2 hours)
    val base = 1717200000000000L
    import spark.implicits._
    Seq((base, "a", 1.0), (base + 3600L * 1000000 + 5, "b", 2.0),
      (base + 7, "c", 3.0))
      .toDF("us", "host", "v")
      .select(timestamp_micros(col("us")).as("time"), col("host"), col("v"))
      .coalesce(1).write.mode("append").parquet(landing)

    val q = IngestStream.fromParquetLanding(cat, "default", "stream_m",
      landing, schema, ckpt, Trigger.ProcessingTime("1 second"))
    try {
      q.processAllAvailable()
    } finally q.stop()

    val parts = cat.listHourPartitions("default", "stream_m")
    assert(parts.length == 2, parts.mkString(","))
    assert(cat.table("default", "stream_m").count() == 3)
    // second batch appends without reprocessing the first (checkpoint)
    Seq((base + 9, "d", 4.0)).toDF("us", "host", "v")
      .select(timestamp_micros(col("us")).as("time"), col("host"), col("v"))
      .coalesce(1).write.mode("append").parquet(landing)
    val q2 = IngestStream.fromParquetLanding(cat, "default", "stream_m",
      landing, schema, ckpt, Trigger.ProcessingTime("1 second"))
    try q2.processAllAvailable() finally q2.stop()
    assert(cat.table("default", "stream_m").count() == 4)
  }
}
