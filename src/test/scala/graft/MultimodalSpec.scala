package graft

import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal

class MultimodalSpec extends SparkSpec {

  private lazy val media = Multimodal.fakeMediaFromText(
    Tables(spark, "/root/testdata/sf0.001").documents.limit(20), "doc_id", "text")

  test("media schema round-trips blob + typed meta") {
    val s = media.schema
    assert(s("blob").dataType.typeName == "binary")
    assert(s("meta").dataType.typeName == "struct")
  }

  test("batched feature extraction: 16-dim L1-normalized features, blob dropped") {
    val out = Multimodal.extractFeatures(media, batchSize = 8)
    assert(!out.columns.contains("blob"))
    val rows = out.select("media_id", "features", "n_bytes").collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      val f = r.getAs[scala.collection.Seq[Float]]("features")
      assert(f.length == 16)
      assert(math.abs(f.sum - 1.0f) < 1e-3, s"features should be L1-normalized, got ${f.sum}")
    }
  }

  test("feature extraction is deterministic") {
    val a = Multimodal.extractFeatures(media).select("media_id", "features")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val b = Multimodal.extractFeatures(media).select("media_id", "features")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(a == b)
  }

  test("frame sampling emits one feature row per frame") {
    val out = Multimodal.sampleFrames(media, frames = 4)
    assert(out.count() == 80)
    assert(out.select("frame_idx").distinct().count() == 4)
  }

  test("frame sampling resolves on the media's own session, not the active one") {
    val other = spark.newSession()
    org.apache.spark.sql.SparkSession.setActiveSession(spark)
    val media2 = Multimodal.fakeMediaFromText(
      other.range(5).selectExpr("id AS doc_id", "concat('doc ', id) AS text"), "doc_id", "text")
    val out = Multimodal.sampleFrames(media2, frames = 2)
    assert(out.sparkSession eq other)
    assert(out.count() == 10)
  }

  // --- a hand-built MP4 with known sample tables -------------------------
  // atoms: ftyp, moov(trak(mdia(hdlr:vide, minf(stbl(stsz,stsc,stco,stss))))),
  // mdat with 6 samples of sizes 10..60 in two 3-sample chunks
  private def atom(name: String, payload: Array[Byte]*): Array[Byte] = {
    val body = payload.flatten.toArray
    java.nio.ByteBuffer.allocate(8 + body.length)
      .putInt(8 + body.length).put(name.getBytes("US-ASCII")).put(body).array()
  }
  private def be(xs: Int*): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(4 * xs.length)
    xs.foreach(b.putInt)
    b.array()
  }
  private val mp4SampleSizes = Seq(10, 20, 30, 40, 50, 60)

  /** (blob, sync byte ranges) — stss marks samples 1 and 4 (1-based). */
  private def craftMp4(withStss: Boolean = true): (Array[Byte], Seq[(Long, Long)]) = {
    val samples = mp4SampleSizes.zipWithIndex.map { case (n, i) =>
      Array.fill(n)((0x10 * (i + 1)).toByte) // distinctive per-sample bytes
    }
    val mdatBody = samples.flatten.toArray
    val ftyp = atom("ftyp", "isomiso2".getBytes("US-ASCII"))
    def moovFor(c1: Int, c2: Int): Array[Byte] = {
      val hdlr = atom("hdlr", be(0, 0), "vide".getBytes("US-ASCII"), be(0, 0, 0))
      val stsz = atom("stsz", be(0, 0, 6), be(mp4SampleSizes: _*))
      val stsc = atom("stsc", be(0, 1), be(1, 3, 1)) // all chunks: 3 samples
      val stco = atom("stco", be(0, 2), be(c1, c2))
      val stss = atom("stss", be(0, 2), be(1, 4))
      val stbl = atom("stbl",
        if (withStss) Array(stsz, stsc, stco, stss).flatten else Array(stsz, stsc, stco).flatten)
      atom("moov", atom("trak", atom("mdia", hdlr, atom("minf", stbl))))
    }
    // chunk offsets depend on moov's length; moov's length does not depend
    // on the offset VALUES — resolve with a probe pass
    val moovLen = moovFor(0, 0).length
    val mdatStart = ftyp.length + moovLen + 8
    val c1 = mdatStart
    val c2 = mdatStart + mp4SampleSizes.take(3).sum
    val blob = ftyp ++ moovFor(c1, c2) ++ atom("mdat", mdatBody)
    val offsets = mp4SampleSizes.scanLeft(0)(_ + _)
    val ranges = (0 until 6).map { i =>
      val off = (if (i < 3) c1 + offsets(i) else c2 + (offsets(i) - offsets(3))).toLong
      (off, mp4SampleSizes(i).toLong)
    }
    (blob, if (withStss) Seq(ranges(0), ranges(3)) else ranges)
  }

  test("MP4 sample tables: stss keyframes land on exact byte ranges") {
    import graft.multimodal.IsoBmff
    val (blob, expect) = craftMp4()
    assert(IsoBmff.syncSampleRanges(blob).toSeq == expect)
    // the declared ranges really contain the per-sample fill bytes
    for (((off, sz), i) <- expect.zip(Seq(0, 3)))
      assert(blob.slice(off.toInt, (off + sz).toInt).forall(_ == (0x10 * (i + 1)).toByte),
        s"sample $i range does not hold its fill bytes")
    // no stss atom => every sample is a sync sample (ISO 14496-12 8.6.2)
    val (noStss, all) = craftMp4(withStss = false)
    assert(IsoBmff.syncSampleRanges(noStss).toSeq == all)
    // a forged stsz count cannot force a huge allocation: table is rejected
    val forged = blob.clone()
    val stszAt = blob.indices.find(i => i + 4 < blob.length &&
      new String(blob, i, 4, "US-ASCII") == "stsz").get
    java.nio.ByteBuffer.wrap(forged, stszAt + 12, 4).putInt(Int.MaxValue)
    assert(IsoBmff.syncSampleRanges(forged).isEmpty)
  }

  test("sampleFrames on MP4 picks keyframe payloads, not blind chunks") {
    import spark.implicits._
    val (blob, expect) = craftMp4()
    val media = Seq((1L, "video", blob)).toDF("media_id", "modality", "blob")
    val out = Multimodal.sampleFrames(media, frames = 2)
      .select("media_id", "frame_idx", "features", "n_bytes").collect()
    assert(out.length == 2)
    // each sampled frame is EXACTLY a sync sample's byte range: n_bytes
    // matches and the features equal the stub histogram of that exact slice
    for ((r, (off, sz)) <- out.sortBy(_.getInt(1)).zip(expect)) {
      assert(r.getLong(3) == sz, s"frame ${r.getInt(1)}: n_bytes ${r.getLong(3)} != $sz")
      val slice = blob.slice(off.toInt, (off + sz).toInt)
      assert(r.getSeq[Float](2) == Multimodal.decodeStub(slice).toSeq,
        s"frame ${r.getInt(1)} features are not the keyframe slice's")
    }
    // a non-MP4 blob still falls back to equal chunks (same row contract)
    val fake = Multimodal.sampleFrames(
      Seq((2L, "video", Array.fill[Byte](120)(7))).toDF("media_id", "modality", "blob"),
      frames = 4)
    assert(fake.count() == 4)
    assert(fake.select("n_bytes").collect().forall(_.getLong(0) == 30L))
  }

  // --- a hand-built MJPEG AVI whose frames are REAL JPEGs -----------------
  private def le(xs: Int*): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(4 * xs.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    xs.foreach(b.putInt)
    b.array()
  }
  private def riffChunk(id: String, payload: Array[Byte]): Array[Byte] = {
    val pad = payload.length & 1
    java.nio.ByteBuffer.allocate(8 + payload.length + pad)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put(id.getBytes("US-ASCII")).putInt(payload.length).put(payload).array()
  }
  private def riffList(sub: String, children: Array[Byte]*): Array[Byte] =
    riffChunk("LIST", sub.getBytes("US-ASCII") ++ children.flatten)

  private def jpegOf(w: Int, h: Int, rgb: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    bos.toByteArray
  }

  /** RIFF-AVI: LIST hdrl(avih + LIST strl(strh vids + strf)) +
    * LIST movi(00dc frames). 40000 µs/frame = 25 fps. `handler` is the
    * strh fccHandler AND the strf biCompression fourcc ("MJPG", or
    * four NULs = biCompression 0 = BI_RGB raw DIB); `strfHeight` lets a test declare the
    * top-down (negative) form.
    */
  private def craftAvi(frames: Seq[Array[Byte]], w: Int, h: Int,
      handler: String = "MJPG", bitCount: Int = 24,
      strfHeight: Option[Int] = None): Array[Byte] = {
    val avih = riffChunk("avih",
      le(40000, 0, 0, 0, frames.length, 0, 1, 0, w, h, 0, 0, 0, 0))
    val strh = riffChunk("strh",
      "vids".getBytes("US-ASCII") ++ handler.getBytes("US-ASCII") ++
        le(0, 0, 0, 1, 25, 0, frames.length, 0, 0, 0) ++ new Array[Byte](8))
    val strf = riffChunk("strf",
      le(40, w, strfHeight.getOrElse(h)) ++
        Array[Byte](1, 0, bitCount.toByte, 0) ++ handler.getBytes("US-ASCII") ++
        le(w * h * bitCount / 8, 0, 0, 0, 0))
    val hdrl = riffList("hdrl", avih, riffList("strl", strh, strf))
    val movi = riffList("movi", frames.map(j => riffChunk("00dc", j)): _*)
    val body = "AVI ".getBytes("US-ASCII") ++ hdrl ++ movi
    java.nio.ByteBuffer.allocate(8 + body.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put("RIFF".getBytes("US-ASCII")).putInt(body.length).put(body).array()
  }

  test("MJPEG-in-AVI decodes REAL video frames: parse, meta, sampling, poster features") {
    import spark.implicits._
    import graft.multimodal.Codecs
    // four visually distinct 16x16 frames (JPEG is lossy; solid colors
    // survive roundtrip closely enough for feature comparison by equality
    // against the SAME decoder output)
    val colors = Seq(0xFF0000, 0x00FF00, 0x0000FF, 0xFFFFFF)
    val jpegs = colors.map(jpegOf(16, 16, _))
    val blob = craftAvi(jpegs, 16, 16)

    // container parse: video stream found, MJPG handler, one range per
    // frame, each range holding a complete JPEG (SOI marker at offset 0)
    val avi = Codecs.parseAvi(blob).getOrElse(fail("AVI did not parse"))
    assert((avi.width, avi.height, avi.handler, avi.totalFrames) == (16, 16, "MJPG", 4))
    assert(avi.usPerFrame == 40000L)
    assert(avi.frames.length == 4)
    for (((off, sz), j) <- avi.frames.zip(jpegs))
      assert(blob.slice(off.toInt, (off + sz).toInt).toSeq == j.toSeq,
        "frame range does not hold its JPEG verbatim")

    // mediaMeta: avi fourcc with dimensions and duration (4 × 40 ms)
    val meta = Seq(Tuple1(blob)).toDF("blob")
      .select(Multimodal.mediaMeta(col("blob")).as("m"))
      .select("m.format", "m.width", "m.height", "m.duration_ms")
      .collect().head
    assert((meta.getString(0), meta.getInt(1), meta.getInt(2), meta.getLong(3)) ==
      ("avi", 16, 16, 160L))

    // sampleFrames: frame-aware picks (frames 0 and 2 of 4), REAL pixels —
    // the features are the JPEG decoder's, not the stub histogram
    val media = Seq((1L, "video", blob)).toDF("media_id", "modality", "blob")
    val out = Multimodal.sampleFrames(media, frames = 2)
      .select("frame_idx", "features", "n_bytes").collect().sortBy(_.getInt(0))
    assert(out.length == 2)
    for ((r, pick) <- out.zip(Seq(0, 2))) {
      val expected = Multimodal.decodeFeatures(jpegs(pick)).toSeq
      assert(r.getLong(2) == jpegs(pick).length.toLong)
      assert(r.getSeq[Float](1) == expected,
        s"frame $pick features are not the real JPEG decode's")
      assert(r.getSeq[Float](1) != Multimodal.decodeStub(jpegs(pick)).toSeq,
        s"frame $pick fell through to the stub")
    }

    // whole-blob features: the poster frame (frame 0) decodes for real
    assert(Multimodal.decodeFeatures(blob).toSeq ==
      Multimodal.decodeFeatures(jpegs.head).toSeq)
    assert(Multimodal.decodeFeatures(blob).toSeq != Multimodal.decodeStub(blob).toSeq)

    // malformed AVIs are data, not crashes: truncated header parses to
    // None; a frame chunk whose size runs past the blob is skipped
    assert(Codecs.parseAvi(blob.take(32)).isEmpty)
    val forged = blob.clone()
    val at = forged.indices.find(i => i + 4 <= forged.length &&
      new String(forged, i, 4, "US-ASCII") == "00dc").get
    java.nio.ByteBuffer.wrap(forged, at + 4, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(Int.MaxValue)
    assert(Codecs.parseAvi(forged).forall(_.frames.length < 4),
      "an overflowing frame size must not produce an out-of-bounds range")
  }

  test("imageMeta parses real PNG/JPEG/GIF/BMP headers from raw bytes") {
    import spark.implicits._
    def png(w: Int, h: Int): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(24)
      b.put(Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte))
      b.putInt(13).put("IHDR".getBytes).putInt(w).putInt(h)
      b.array()
    }
    def jpeg(w: Int, h: Int): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(30)
      b.put(Array(0xFF, 0xD8, 0xFF, 0xE0).map(_.toByte)).putShort(16.toShort)
      b.put(new Array[Byte](14)) // APP0 payload
      b.put(Array(0xFF, 0xC0).map(_.toByte)).putShort(17.toShort)
      b.put(8.toByte).putShort(h.toShort).putShort(w.toShort)
      b.array()
    }
    def gif(w: Int, h: Int): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(10).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("GIF89a".getBytes).putShort(w.toShort).putShort(h.toShort)
      b.array()
    }
    def bmp(w: Int, h: Int): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(26).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("BM".getBytes).put(new Array[Byte](16)).putInt(w).putInt(-h) // top-down BMP
      b.array()
    }
    val rows = Seq(
      (1L, png(640, 480)), (2L, jpeg(200, 100)), (3L, gif(32, 16)),
      (4L, bmp(64, 48)), (5L, "not an image".getBytes))
    val got = rows.toDF("id", "blob")
      .select(col("id"), Multimodal.imageMeta(col("blob")).as("m"))
      .select("id", "m.format", "m.width", "m.height")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1 else r.getInt(2), if (r.isNullAt(3)) -1 else r.getInt(3)))
      .sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, "png", 640, 480), (2L, "jpeg", 200, 100), (3L, "gif", 32, 16),
      (4L, "bmp", 64, 48), (5L, "unknown", -1, -1)))
  }

  test("mediaMeta parses WAV/MP4/Matroska container headers from raw bytes") {
    import spark.implicits._
    // canonical PCM WAV: 8 kHz mono 16-bit, 0.5 s of data (8000 B)
    def wav(rate: Int, channels: Int, bits: Int, dataBytes: Int): Array[Byte] = {
      val byteRate = rate * channels * bits / 8
      val b = java.nio.ByteBuffer.allocate(44 + dataBytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes).putInt(36 + dataBytes).put("WAVE".getBytes)
      b.put("fmt ".getBytes).putInt(16)
        .putShort(1.toShort).putShort(channels.toShort)
        .putInt(rate).putInt(byteRate)
        .putShort((channels * bits / 8).toShort).putShort(bits.toShort)
      b.put("data".getBytes).putInt(dataBytes)
      b.array()
    }
    // minimal ISO-BMFF: ftyp + moov(mvhd v0 + trak(tkhd v0 with 16.16 dims))
    def mp4(timescale: Int, duration: Int, w: Int, h: Int): Array[Byte] = {
      val mvhd = java.nio.ByteBuffer.allocate(108)
      mvhd.putInt(108).put("mvhd".getBytes).putInt(0) // v0 + flags
        .putInt(0).putInt(0).putInt(timescale).putInt(duration)
      val tkhd = java.nio.ByteBuffer.allocate(92)
      tkhd.putInt(92).put("tkhd".getBytes).putInt(0)  // v0 + flags
        .putInt(0).putInt(0).putInt(1).putInt(0).putInt(duration)
        .put(new Array[Byte](52))                     // reserved..matrix
        .putInt(w << 16).putInt(h << 16)
      val trak = java.nio.ByteBuffer.allocate(8 + 92)
      trak.putInt(8 + 92).put("trak".getBytes).put(tkhd.array())
      val moov = java.nio.ByteBuffer.allocate(8 + 108 + 100)
      moov.putInt(8 + 108 + 100).put("moov".getBytes)
        .put(mvhd.array()).put(trak.array())
      val b = java.nio.ByteBuffer.allocate(16 + 216)
      b.putInt(16).put("ftyp".getBytes).put("isom".getBytes).putInt(0)
      b.put(moov.array())
      b.array()
    }
    // EBML header with DocType
    def mkv(doctype: String): Array[Byte] = {
      val dt = doctype.getBytes("US-ASCII")
      val body = java.nio.ByteBuffer.allocate(2 + 1 + dt.length)
      body.put(0x42.toByte).put(0x82.toByte)            // DocType id
        .put((0x80 | dt.length).toByte).put(dt)         // 1-byte size vint
      val b = java.nio.ByteBuffer.allocate(4 + 1 + body.capacity())
      b.put(Array(0x1A, 0x45, 0xDF, 0xA3).map(_.toByte))
        .put((0x80 | body.capacity()).toByte)            // header size vint
        .put(body.array())
      b.array()
    }
    val rows = Seq(
      (1L, wav(8000, 1, 16, 8000)),        // 8000 B / 16000 B/s = 500 ms
      (2L, mp4(1000, 2500, 1920, 1080)),   // 2500/1000 s = 2500 ms
      (3L, mkv("matroska")),
      (4L, mkv("webm")),
      (5L, Array[Byte](0x42, 0x42)))
    val got = rows.toDF("id", "blob")
      .select(col("id"), Multimodal.mediaMeta(col("blob")).as("m"))
      .select("id", "m.format", "m.width", "m.height", "m.duration_ms",
        "m.sample_rate", "m.channels")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1 else r.getInt(2),
        if (r.isNullAt(3)) -1 else r.getInt(3),
        if (r.isNullAt(4)) -1L else r.getLong(4),
        if (r.isNullAt(5)) -1 else r.getInt(5),
        if (r.isNullAt(6)) -1 else r.getInt(6)))
      .sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, "wav", -1, -1, 500L, 8000, 1),
      (2L, "mp4", 1920, 1080, 2500L, -1, -1),
      (3L, "matroska", -1, -1, -1L, -1, -1),
      (4L, "webm", -1, -1, -1L, -1, -1),
      (5L, "unknown", -1, -1, -1L, -1, -1)))
  }

  test("mediaMeta terminates on malformed container sizes (corrupt blobs are data)") {
    import spark.implicits._
    // RIFF chunk whose le32 size truncates to a non-positive Int step
    // (0xFFFFFFF8 → toInt -8 → old step 8 + (-8) + 0 = 0)
    val badWav = {
      val b = java.nio.ByteBuffer.allocate(24).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes).putInt(16).put("WAVE".getBytes)
      b.put("junk".getBytes).putInt(0xFFFFFFF8)
      b.array()
    }
    // ISO-BMFF atom with a 64-bit size whose low 32 bits are 0 (old i += 0)
    val badMp4 = {
      val b = java.nio.ByteBuffer.allocate(40)
      b.putInt(16).put("ftyp".getBytes).put("isom".getBytes).putInt(0)
      b.putInt(1).put("free".getBytes).putLong(0x100000000L)
      b.array()
    }
    // EBML element whose declared size truncates to -(idW+sW): id 2 B,
    // size vint 8 B, value 0xFFFFFFF6 → toInt -10 → old step 0
    val badMkv = {
      val b = java.nio.ByteBuffer.allocate(4 + 1 + 10)
      b.put(Array(0x1A, 0x45, 0xDF, 0xA3).map(_.toByte))
        .put((0x80 | 10).toByte)                    // header size = 10
        .put(0x42.toByte).put(0x82.toByte)          // DocType id
        .put(0x01.toByte)                           // 8-byte size vint
        .put(Array[Byte](0, 0, 0, -1, -1, -1, 0xF6.toByte))
      b.array()
    }
    val got = Seq((1L, badWav), (2L, badMp4), (3L, badMkv)).toDF("id", "blob")
      .select(col("id"), Multimodal.mediaMeta(col("blob")).as("m"))
      .select("id", "m.format")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(got.toSeq == Seq((1L, "wav"), (2L, "mp4"), (3L, "matroska")))
  }

  test("Codecs: PNG round-trips exact pixels through zlib + all five scanline filters") {
    import graft.multimodal.Codecs
    // 4x5 RGB image; rows filtered with types 0..4 by OUR forward filter,
    // so the decoder's un-filtering of every type is verified against the
    // original raw pixels
    val w = 4; val h = 5; val bpp = 3
    val raw = Array.tabulate(h, w * bpp)((y, x) => ((y * 31 + x * 7) % 256).toByte)
    def forwardFilter(y: Int, ftype: Int): Array[Byte] = {
      val row = raw(y); val prev = if (y > 0) raw(y - 1) else new Array[Byte](w * bpp)
      Array.tabulate(w * bpp) { x =>
        val cur = row(x) & 0xFF
        val left = if (x >= bpp) row(x - bpp) & 0xFF else 0
        val up = prev(x) & 0xFF
        val ul = if (x >= bpp) prev(x - bpp) & 0xFF else 0
        val pred = ftype match {
          case 0 => 0
          case 1 => left
          case 2 => up
          case 3 => (left + up) / 2
          case 4 =>
            val p = left + up - ul
            val pa = math.abs(p - left); val pb = math.abs(p - up); val pc = math.abs(p - ul)
            if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul
        }
        ((cur - pred) & 0xFF).toByte
      }
    }
    val scanlines = new java.io.ByteArrayOutputStream()
    for (y <- 0 until h) {
      scanlines.write(y % 5) // filter type cycles 0..4
      scanlines.write(forwardFilter(y, y % 5))
    }
    val deflated = {
      val d = new java.util.zip.Deflater()
      d.setInput(scanlines.toByteArray); d.finish()
      val buf = new Array[Byte](4096)
      val out = new java.io.ByteArrayOutputStream()
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      d.end(); out.toByteArray
    }
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(12 + data.length)
      b.putInt(data.length).put(typ.getBytes("US-ASCII")).put(data)
      val crc = new java.util.zip.CRC32()
      crc.update(typ.getBytes("US-ASCII")); crc.update(data)
      b.putInt(crc.getValue.toInt)
      b.array()
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(w).putInt(h).put(8.toByte).put(2.toByte) // depth 8, RGB
      .put(0.toByte).put(0.toByte).put(0.toByte).array()
    val png = Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte) ++
      chunk("IHDR", ihdr) ++ chunk("IDAT", deflated) ++ chunk("IEND", Array.empty)
    val img = Codecs.decodePng(png).getOrElse(fail("png did not decode"))
    assert((img.width, img.height, img.channels) == (w, h, bpp))
    assert(img.pixels.toSeq == raw.flatten.toSeq, "decoded pixels differ from source")
    // garbage and truncation return cleanly, never hang or throw
    assert(Codecs.decodePng(Array[Byte](1, 2, 3)).isEmpty)
    Codecs.decodePng(png.dropRight(7)): Unit
  }

  test("Codecs: encodeBmp/decodeBmp are inverse; resizeNearest block math is exact") {
    import graft.multimodal.Codecs
    // 3x2 RGB (odd width exercises the 4-byte row padding on encode)
    val src = Codecs.Image(3, 2, 3, Array[Int](
      255, 0, 0, 0, 255, 0, 0, 0, 255,
      10, 20, 30, 40, 50, 60, 70, 80, 90).map(_.toByte))
    val back = Codecs.decodeBmp(Codecs.encodeBmp(src)).getOrElse(fail("round-trip"))
    assert((back.width, back.height, back.channels) == (3, 2, 3))
    assert(back.pixels.toSeq == src.pixels.toSeq)
    // grayscale replicates to RGB through the 24-bit encode
    val gray = Codecs.Image(2, 1, 1, Array[Byte](7, 9))
    val g = Codecs.decodeBmp(Codecs.encodeBmp(gray)).getOrElse(fail("gray"))
    assert(g.pixels.toSeq == Seq[Byte](7, 7, 7, 9, 9, 9))
    // upscale 2x2 -> 4x4: every source pixel becomes a 2x2 block
    val two = Codecs.Image(2, 2, 1, Array[Byte](1, 2, 3, 4))
    val up = Codecs.resizeNearest(two, 4, 4)
    assert(up.pixels.toSeq == Seq[Byte](1, 1, 2, 2, 1, 1, 2, 2, 3, 3, 4, 4, 3, 3, 4, 4))
    // downscale 4x4 -> 2x2 picks the top-left of each block
    assert(Codecs.resizeNearest(up, 2, 2).pixels.toSeq == two.pixels.toSeq)
  }

  test("resizeImages resizes every decodable blob to target, passes junk through") {
    import spark.implicits._
    import graft.multimodal.Codecs
    val src = Codecs.encodeBmp(Codecs.Image(3, 2, 3,
      Array.tabulate(18)(i => (i * 13).toByte)))
    val junk = "definitely not pixels".getBytes
    val rows = Seq(
      (1L, "image", src, ("bmp", 3, 2, 0L)),
      (2L, "image", junk, ("fake", 1, 1, 0L)))
      .toDF("media_id", "modality", "blob", "meta")
    val out = Multimodal.resizeImages(rows, 4, 4).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Boolean]("resized"))
    val resized = Codecs.decodeBmp(out(1L).getAs[Array[Byte]]("blob"))
      .getOrElse(fail("resized blob must decode"))
    assert((resized.width, resized.height) == (4, 4))
    val m = out(1L).getAs[org.apache.spark.sql.Row]("meta")
    assert((m.getString(0), m.getInt(1), m.getInt(2)) == ("bmp", 4, 4))
    assert(!out(2L).getAs[Boolean]("resized"))
    assert(out(2L).getAs[Array[Byte]]("blob").toSeq == junk.toSeq,
      "undecodable blobs must pass through unchanged")
  }

  test("Codecs: BMP (bottom-up, padded rows) and WAV PCM round-trip exactly") {
    import graft.multimodal.Codecs
    // 3x2 24-bit BMP: rows are stored bottom-up and pad 9 -> 12 bytes
    val pix = Array( // (r,g,b) by (y,x), top-down
      Array((255, 0, 0), (0, 255, 0), (0, 0, 255)),
      Array((10, 20, 30), (40, 50, 60), (70, 80, 90)))
    val rowBytes = 12
    val hdr = java.nio.ByteBuffer.allocate(54).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    hdr.put('B'.toByte).put('M'.toByte).putInt(54 + rowBytes * 2)
      .putInt(0).putInt(54)                       // reserved, data offset
      .putInt(40).putInt(3).putInt(2)             // header size, w, h (bottom-up)
      .putShort(1).putShort(24).putInt(0).putInt(rowBytes * 2)
      .putInt(0).putInt(0).putInt(0).putInt(0)
    val body = new java.io.ByteArrayOutputStream()
    for (y <- Seq(1, 0)) {                        // bottom row first, BGR + 3 pad
      for (x <- 0 until 3) {
        val (r, g, b) = pix(y)(x)
        body.write(b); body.write(g); body.write(r)
      }
      body.write(0); body.write(0); body.write(0)
    }
    val bmpBytes = hdr.array() ++ body.toByteArray
    val img = Codecs.decodeBmp(bmpBytes).getOrElse(fail("bmp did not decode"))
    assert((img.width, img.height, img.channels) == (3, 2, 3))
    val got = for (y <- 0 until 2; x <- 0 until 3) yield (
      img.pixels((y * 3 + x) * 3) & 0xFF,
      img.pixels((y * 3 + x) * 3 + 1) & 0xFF,
      img.pixels((y * 3 + x) * 3 + 2) & 0xFF)
    assert(got.toSeq == pix.flatten.toSeq, "BMP pixels (RGB, top-down) differ")

    // WAV: known 16-bit samples round-trip with rate/channels
    val samples = Array[Short](0, 1000, -1000, 32767, -32768, 12345)
    val wav = java.nio.ByteBuffer.allocate(44 + samples.length * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    wav.put("RIFF".getBytes).putInt(36 + samples.length * 2).put("WAVE".getBytes)
      .put("fmt ".getBytes).putInt(16).putShort(1).putShort(2)
      .putInt(16000).putInt(16000 * 2 * 2).putShort(4).putShort(16)
      .put("data".getBytes).putInt(samples.length * 2)
    samples.foreach(s => wav.putShort(s))
    val pcm = Codecs.decodeWav(wav.array()).getOrElse(fail("wav did not decode"))
    assert((pcm.sampleRate, pcm.channels) == (16000, 2))
    assert(pcm.samples.toSeq == samples.toSeq)
  }

  test("IMA-ADPCM WAV decodes for real: pinned vectors, block reset, " +
      "spb truncation, encoder round-trip, feature dispatch") {
    import graft.multimodal.{Codecs, Multimodal}
    // fmt-17 WAV builder: 20-byte fmt (16 + cbSize/samplesPerBlock ext)
    def adpcmWav(rate: Int, ch: Int, blockAlign: Int, spb: Int,
        data: Array[Byte]): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(48 + data.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes).putInt(40 + data.length).put("WAVE".getBytes)
        .put("fmt ".getBytes).putInt(20).putShort(0x11).putShort(ch.toShort)
        .putInt(rate).putInt(rate * blockAlign / spb).putShort(blockAlign.toShort)
        .putShort(4).putShort(2).putShort(spb.toShort)
        .put("data".getBytes).putInt(data.length).put(data)
      b.array()
    }
    def header(pred: Int, idx: Int): Array[Byte] =
      Array((pred & 0xFF).toByte, ((pred >> 8) & 0xFF).toByte, idx.toByte, 0.toByte)

    // mono: header pred=100 idx=0, codes (low nibble first) 4,7,8,1,2,F,B,3
    // — expected samples computed with an independent reference decoder
    val monoData = header(100, 0) ++
      Array(0x74, 0x18, 0xF2, 0x3B).map(_.toByte)
    val monoExpected = Seq(100, 107, 123, 121, 127, 137, 112, 87, 111)
    val mono = Codecs.decodeImaAdpcmWav(adpcmWav(8000, 1, 8, 9, monoData))
      .getOrElse(fail("mono adpcm did not decode"))
    assert((mono.sampleRate, mono.channels) == (8000, 1))
    assert(mono.samples.map(_.toInt).toSeq == monoExpected)

    // two identical blocks: per-block header resets the predictor/index
    val mono2 = Codecs.decodeImaAdpcmWav(
      adpcmWav(8000, 1, 8, 9, monoData ++ monoData))
      .getOrElse(fail("two-block adpcm did not decode"))
    assert(mono2.samples.map(_.toInt).toSeq == monoExpected ++ monoExpected)

    // declared samplesPerBlock BOUNDS the block (trailing codes unused)
    val monoTrunc = Codecs.decodeImaAdpcmWav(adpcmWav(8000, 1, 8, 5, monoData))
      .getOrElse(fail("truncated adpcm did not decode"))
    assert(monoTrunc.samples.map(_.toInt).toSeq == monoExpected.take(5))

    // stereo: per-channel headers then interleaved 4-byte code groups
    val stData = header(-200, 5) ++ header(500, 10) ++
      Array(0x10, 0x32, 0x54, 0x76).map(_.toByte) ++ // ch0 codes 0..7
      Array(0x98, 0xBA, 0xDC, 0xFE).map(_.toByte)    // ch1 codes 8..F
    val ch0 = Seq(-200, -199, -196, -190, -183, -174, -161, -139, -93)
    val ch1 = Seq(500, 498, 492, 482, 471, 457, 435, 399, 323)
    val st = Codecs.decodeImaAdpcmWav(adpcmWav(44100, 2, 16, 9, stData))
      .getOrElse(fail("stereo adpcm did not decode"))
    assert((st.sampleRate, st.channels) == (44100, 2))
    assert(st.samples.map(_.toInt).toSeq ==
      ch0.zip(ch1).flatMap { case (l, r) => Seq(l, r) })

    // encoder round-trip: a test-side IMA encoder (the canonical greedy
    // bit construction) over a sine sweep — decode must track the input
    // (ADPCM is lossy; the adaptive step keeps error a fraction of the
    // signal once locked on)
    val stepsT = Array(7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25,
      28, 31, 34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130,
      143, 157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494,
      544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707,
      1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358,
      5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
      16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767)
    val adjT = Array(-1, -1, -1, -1, 2, 4, 6, 8)
    val signal = (0 until 489).map(i =>
      (8000 * math.sin(i / 12.0)).toInt.toShort).toArray
    var pred = signal(0).toInt; var idx = 0
    val codes = new Array[Int](signal.length - 1)
    for (k <- 1 until signal.length) {
      val step = stepsT(idx)
      var delta = signal(k) - pred
      var code = 0
      if (delta < 0) { code = 8; delta = -delta }
      if (delta >= step) { code |= 4; delta -= step }
      if (delta >= (step >> 1)) { code |= 2; delta -= step >> 1 }
      if (delta >= (step >> 2)) { code |= 1 }
      // decoder-mirror state update
      val n = code
      var diff = step >> 3
      if ((n & 1) != 0) diff += step >> 2
      if ((n & 2) != 0) diff += step >> 1
      if ((n & 4) != 0) diff += step
      pred = if ((n & 8) != 0) pred - diff else pred + diff
      pred = math.max(-32768, math.min(32767, pred))
      idx = math.max(0, math.min(88, idx + adjT(n & 7)))
      codes(k - 1) = code
    }
    // one block: blockAlign = 4 + codes/2, spb = signal length
    val dataBytes = codes.grouped(2)
      .map(g => ((g.lift(1).getOrElse(0) << 4) | g(0)).toByte).toArray
    val rt = Codecs.decodeImaAdpcmWav(adpcmWav(8000, 1, 4 + dataBytes.length,
        signal.length, header(signal(0), 0) ++ dataBytes))
      .getOrElse(fail("round-trip adpcm did not decode"))
    assert(rt.samples.length == signal.length)
    val tailErr = (100 until signal.length)
      .map(i => math.abs(rt.samples(i) - signal(i))).max
    assert(tailErr <= 1200, s"ADPCM tracking error $tailErr after lock-on")

    // malformed headers are DATA, not crashes: a declared spb far past
    // the block's code capacity caps (never reads past the block or
    // allocates past the data); a stereo blockAlign that breaks the
    // 8-byte group interleave refuses with None
    val overdeclared = Codecs.decodeImaAdpcmWav(
      adpcmWav(8000, 1, 8, 65535, monoData))
      .getOrElse(fail("overdeclared spb did not decode"))
    assert(overdeclared.samples.map(_.toInt).toSeq == monoExpected,
      "spb cap must clamp to the block's capacity")
    // mono blockAlign 9 with a partial trailing byte: in-bounds decode
    val odd = Codecs.decodeImaAdpcmWav(
      adpcmWav(8000, 1, 9, 100, monoData ++ Array(0x11.toByte)))
    assert(odd.exists(_.samples.length == 11),
      s"odd blockAlign capacity: ${odd.map(_.samples.length)}")
    assert(Codecs.decodeImaAdpcmWav(adpcmWav(44100, 2, 10, 3,
      header(0, 0) ++ header(0, 0) ++ Array(0x10.toByte, 0x32.toByte))).isEmpty,
      "stereo blockAlign not 8-group-aligned must refuse")

    // a TRUNCATED fmt chunk (declared size < 16) must refuse, not parse
    // channels/rate/blockAlign from the NEXT chunk's bytes — for both the
    // ADPCM and the PCM decoder
    def truncFmtWav(fmtTag: Int): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(12 + 8 + 12 + 8 + 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes).putInt(28).put("WAVE".getBytes)
        .put("fmt ".getBytes).putInt(12) // declares only 12 fmt bytes
        .putShort(fmtTag.toShort).putShort(1).putInt(8000).putInt(8000)
        .put("data".getBytes).putInt(8).putLong(0L)
      b.array()
    }
    assert(Codecs.decodeImaAdpcmWav(truncFmtWav(0x11)).isEmpty,
      "truncated fmt chunk must not decode (ADPCM)")
    assert(Codecs.decodeWav(truncFmtWav(1)).isEmpty,
      "truncated fmt chunk must not decode (PCM)")

    // feature dispatch: the ADPCM blob reaches audioFeatures, not the stub
    val blob = adpcmWav(8000, 1, 8, 9, monoData)
    assert(Multimodal.decodeFeatures(blob).toSeq ==
      Multimodal.audioFeatures(mono).toSeq)
    assert(Multimodal.decodeFeatures(blob).toSeq !=
      Multimodal.decodeStub(blob).toSeq)
  }

  test("G.711 µ-law/A-law WAV decodes for real: pinned table values, " +
      "whole-domain sign symmetry, companding round-trip, dispatch") {
    import graft.multimodal.{Codecs, Multimodal}
    def g711Wav(fmtTag: Int, rate: Int, ch: Int, data: Array[Byte]): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(44 + data.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes).putInt(36 + data.length).put("WAVE".getBytes)
        .put("fmt ".getBytes).putInt(16).putShort(fmtTag.toShort).putShort(ch.toShort)
        .putInt(rate).putInt(rate * ch).putShort(ch.toShort).putShort(8)
        .put("data".getBytes).putInt(data.length).put(data)
      b.array()
    }
    def decode(fmtTag: Int, bytes: Int*): Seq[Int] =
      Codecs.decodeG711Wav(g711Wav(fmtTag, 8000, 1, bytes.map(_.toByte).toArray))
        .getOrElse(fail(s"fmt-$fmtTag wav did not decode")).samples.map(_.toInt).toSeq

    // pinned values from the public G.711 expansion tables: µ-law peaks
    // ±32124 (0x00 most-negative, 0x80 most-positive, 0x7F/0xFF zero);
    // A-law peaks ±32256 with the INVERTED sign convention (0x55 = -8,
    // 0xD5 = +8 — the smallest magnitudes)
    assert(decode(7, 0x00, 0x80, 0x7F, 0xFF) == Seq(-32124, 32124, 0, 0))
    assert(decode(6, 0x2A, 0xAA, 0x55, 0xD5) == Seq(-32256, 32256, -8, 8))

    // whole-domain sign symmetry: flipping the (pre-complement) sign bit
    // negates the decoded value for every one of the 256 code points, in
    // both laws — the structural property of the segment format
    val allBytes = (0 until 256).toSeq
    for (law <- Seq(6, 7)) {
      val vals = decode(law, allBytes: _*)
      val flipped = decode(law, allBytes.map(_ ^ 0x80): _*)
      assert(vals.zip(flipped).forall { case (a, b) => a == -b },
        s"law $law: sign-bit flip must negate the expansion")
    }

    // companding round-trip: a test-side µ-law COMPRESSOR (the public
    // bias-and-segment-search construction: bias 0x84, segment ends
    // 0xFF·2^seg-ish, XOR mask by sign) over a sine sweep — expansion
    // must land within the segment's quantization half-step of the input
    val segEnd = Array(0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF, 0x1FFF, 0x3FFF, 0x7FFF)
    def ulawCompress(s0: Int): Int = {
      val mask = if (s0 < 0) 0x7F else 0xFF
      val s = math.min(math.abs(s0), 32635) + 0x84
      var seg = 0
      while (seg < 8 && s > segEnd(seg)) seg += 1
      (((seg << 4) | ((s >> (seg + 3)) & 0x0F)) ^ mask) & 0xFF
    }
    val signal = (0 until 512).map(i => (14000 * math.sin(i / 9.0)).toInt)
    val rt = decode(7, signal.map(ulawCompress): _*)
    signal.zip(rt).foreach { case (x, y) =>
      // segment seg spans biased values ~[2^(seg+7), 2^(seg+8)) at step
      // 2^(seg+3), so half-step error is at most (|x|+0x84)/32 (+8 for
      // the linear segment 0)
      assert(math.abs(x - y) <= (math.abs(x) + 0x84) / 32 + 8,
        s"µ-law round-trip: $x decoded to $y")
    }

    // codec checks: a fmt-6/7 WAV must be 8-bit; fmt-1 never reaches this
    // decoder; the stereo layout carries channels through
    assert(Codecs.decodeG711Wav(g711Wav(7, 8000, 1, Array[Byte](1, 2))
      .patch(34, Array[Byte](16, 0), 2)).isEmpty, "16-bit fmt-7 must refuse")
    assert(Codecs.decodeG711Wav(wavOf16bitPcm).isEmpty, "fmt-1 PCM must refuse")
    val st = Codecs.decodeG711Wav(g711Wav(6, 16000, 2, Array.fill[Byte](8)(0x55)))
      .getOrElse(fail("stereo A-law did not decode"))
    assert((st.sampleRate, st.channels, st.samples.length) == (16000, 2, 8))

    // feature dispatch: a G.711 blob reaches audioFeatures, not the stub
    val blob = g711Wav(7, 8000, 1,
      (0 until 256).map(i => ulawCompress(100 * (i - 128)).toByte).toArray)
    val pcm = Codecs.decodeG711Wav(blob).get
    assert(Multimodal.decodeFeatures(blob).toSeq ==
      Multimodal.audioFeatures(pcm).toSeq)
    assert(Multimodal.decodeFeatures(blob).toSeq !=
      Multimodal.decodeStub(blob).toSeq)
  }

  /** 16-bit stereo PCM fixture shared by the cross-codec refusal checks. */
  private def wavOf16bitPcm: Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(48)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes).putInt(40).put("WAVE".getBytes)
      .put("fmt ".getBytes).putInt(16).putShort(1).putShort(2)
      .putInt(16000).putInt(16000 * 4).putShort(4).putShort(16)
      .put("data".getBytes).putInt(4).putInt(0)
    b.array()
  }

  test("MS-ADPCM WAV decodes for real: pinned two-tap prediction, block " +
      "reset, stereo interleave, malformed refusals, dispatch") {
    import graft.multimodal.{Codecs, Multimodal}
    // fmt-2 WAV builder: 50-byte fmt = 16 base + cbSize(2) + spb(2) +
    // nCoef(2) + the 7 standard coefficient pairs (28) — the layout every
    // MS-ADPCM file carries
    val stdCoefs = Seq((256, 0), (512, -256), (0, 0), (192, 64), (240, 0),
      (460, -208), (392, -232))
    def msWav(rate: Int, ch: Int, blockAlign: Int, spb: Int,
        data: Array[Byte], coefs: Seq[(Int, Int)] = stdCoefs): Array[Byte] = {
      val fmtLen = 22 + coefs.length * 4
      val b = java.nio.ByteBuffer.allocate(28 + fmtLen + data.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes).putInt(20 + fmtLen + data.length).put("WAVE".getBytes)
        .put("fmt ".getBytes).putInt(fmtLen).putShort(2).putShort(ch.toShort)
        .putInt(rate).putInt(rate * blockAlign / math.max(1, spb))
        .putShort(blockAlign.toShort).putShort(4)
        .putShort((fmtLen - 18).toShort).putShort(spb.toShort)
        .putShort(coefs.length.toShort)
      coefs.foreach { case (c1, c2) => b.putShort(c1.toShort).putShort(c2.toShort) }
      b.put("data".getBytes).putInt(data.length).put(data)
      b.array()
    }
    def monoHeader(pIdx: Int, delta: Int, s1: Int, s2: Int): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(7).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put(pIdx.toByte).putShort(delta.toShort).putShort(s1.toShort).putShort(s2.toShort)
      b.array()
    }

    // mono, predictor 1 (coef 512/-256 — the genuine two-tap 2·s1 − s2
    // form), delta 32, seeds s1=1000 s2=900; codes high-nibble-first
    // 1,7,F,8. Expected values hand-derived from the spec recurrence:
    //   pred = (s1·512 + s2·(−256))/256 + signedCode·delta (clamped)
    //   delta = max(16, adaptTable(code)·delta/256)
    // code 1: 1100+32=1132, delta 230·32/256=28
    // code 7: (1132·2−1000)+7·28=1264+196=1460, delta 614·28/256=67
    // code F(−1): (1460·2−1132)−67=1788−67=1721, delta 230·67/256=60
    // code 8(−8): (1721·2−1460)−480=1982−480=1502
    val monoData = monoHeader(1, 32, 1000, 900) ++ Array(0x17, 0xF8).map(_.toByte)
    val monoExpected = Seq(900, 1000, 1132, 1460, 1721, 1502)
    val mono = Codecs.decodeMsAdpcmWav(msWav(8000, 1, 9, 6, monoData))
      .getOrElse(fail("mono ms-adpcm did not decode"))
    assert((mono.sampleRate, mono.channels) == (8000, 1))
    assert(mono.samples.map(_.toInt).toSeq == monoExpected)

    // two identical blocks: the per-block header resets everything
    val mono2 = Codecs.decodeMsAdpcmWav(msWav(8000, 1, 9, 6, monoData ++ monoData))
      .getOrElse(fail("two-block ms-adpcm did not decode"))
    assert(mono2.samples.map(_.toInt).toSeq == monoExpected ++ monoExpected)

    // declared samplesPerBlock BOUNDS the block; a forged huge spb caps
    // at the block's nibble capacity
    val monoTrunc = Codecs.decodeMsAdpcmWav(msWav(8000, 1, 9, 4, monoData))
      .getOrElse(fail("truncated ms-adpcm did not decode"))
    assert(monoTrunc.samples.map(_.toInt).toSeq == monoExpected.take(4))
    val overdeclared = Codecs.decodeMsAdpcmWav(msWav(8000, 1, 9, 65535, monoData))
      .getOrElse(fail("overdeclared spb did not decode"))
    assert(overdeclared.samples.map(_.toInt).toSeq == monoExpected)

    // stereo: per-FIELD channel interleave in the header, nibbles
    // alternating ch0/ch1 from the high nibble; predictor 0 (coef 256/0)
    // makes each step pred = s1 + code·delta — values hand-derived
    val stHdr = java.nio.ByteBuffer.allocate(14).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put(0.toByte).put(0.toByte)                    // bpred ch0, ch1
      .putShort(16).putShort(16)                       // idelta
      .putShort(100).putShort(-100)                    // sample1 (newer)
      .putShort(50).putShort(-50)                      // sample2 (older)
      .array()
    // nibbles: 2(ch0) 1(ch1) 9(ch0,−7) A(ch1,−6)
    val stData = stHdr ++ Array(0x21, 0x9A).map(_.toByte)
    val st = Codecs.decodeMsAdpcmWav(msWav(44100, 2, 16, 4, stData))
      .getOrElse(fail("stereo ms-adpcm did not decode"))
    assert((st.sampleRate, st.channels) == (44100, 2))
    // frames: (s2) 50,−50 | (s1) 100,−100 | 100+32, −100+16 | 132−112, −84−96
    assert(st.samples.map(_.toInt).toSeq ==
      Seq(50, -50, 100, -100, 132, -84, 20, -180))

    // malformed inputs are DATA, refused — never guessed at: a predictor
    // index past the declared coefficient table, a fmt without the
    // coefficient extension, and a non-fmt-2 WAV
    assert(Codecs.decodeMsAdpcmWav(msWav(8000, 1, 9, 6,
      monoHeader(7, 32, 1000, 900) ++ Array(0x17, 0xF8).map(_.toByte))).isEmpty,
      "predictor index >= nCoef must refuse")
    assert(Codecs.decodeMsAdpcmWav(msWav(8000, 1, 9, 6, monoData, coefs = Nil)).isEmpty,
      "a fmt-2 WAV without its coefficient table must refuse")
    assert(Codecs.decodeMsAdpcmWav(wavOf16bitPcm).isEmpty, "fmt-1 PCM must refuse")
    assert(Codecs.decodeWav(msWav(8000, 1, 9, 6, monoData)).isEmpty,
      "the PCM decoder must not eat a fmt-2 WAV")

    // feature dispatch: the MS-ADPCM blob reaches audioFeatures via the
    // audio chain, not the stub
    val blob = msWav(8000, 1, 9, 6, monoData)
    assert(Multimodal.decodeFeatures(blob).toSeq ==
      Multimodal.audioFeatures(mono).toSeq)
    assert(Multimodal.decodeFeatures(blob).toSeq !=
      Multimodal.decodeStub(blob).toSeq)
  }

  test("uncompressed-DIB AVI decodes REAL video frames: the synthesized " +
      "BMP header makes each raw raster a decodable BMP") {
    import spark.implicits._
    import graft.multimodal.Codecs
    // four 2x2 solid-color frames, built by encoding a known Image as BMP
    // and STRIPPING the 54-byte header — exactly what a BI_RGB AVI frame
    // chunk holds (bottom-up 4-byte-padded BGR rows)
    val colors = Seq((255, 0, 0), (0, 255, 0), (0, 0, 255), (255, 255, 255))
    val images = colors.map { case (r, g, b) =>
      Codecs.Image(2, 2, 3, Array.fill(4)(Array(r.toByte, g.toByte, b.toByte)).flatten)
    }
    val dibs = images.map(img => Codecs.encodeBmp(img).drop(54))
    assert(dibs.head.length == 16) // rowBytes (2·3 → pad 8) × 2 rows
    val nulFcc = new String(Array.fill(4)(0.toChar)) // biCompression 0 = BI_RGB
    val blob = craftAvi(dibs, 2, 2, handler = nulFcc)

    // parse: biCompression 0 + fccHandler NULs → handler "", bitCount 24
    val avi = Codecs.parseAvi(blob).getOrElse(fail("DIB AVI did not parse"))
    assert((avi.handler, avi.bitCount, avi.topDown) == ("", 24, false))
    assert(avi.frames.length == 4)

    // dibPrefix: exactly a header decodeBmp accepts, only for a
    // whole-raster-sized frame
    val prefix = Codecs.dibPrefix(avi, dibs.head.length)
    assert(prefix.length == 54)
    for ((dib, img) <- dibs.zip(images)) {
      val decoded = Codecs.decodeBmp(prefix ++ dib)
        .getOrElse(fail("prefixed DIB frame did not decode"))
      assert(decoded.pixels.toSeq == img.pixels.toSeq, "frame pixels differ")
    }
    assert(Codecs.dibPrefix(avi, dibs.head.length - 1).isEmpty,
      "a partial frame must not be prefixed")
    val mjpgAvi = Codecs.parseAvi(craftAvi(dibs, 2, 2)).get
    assert(Codecs.dibPrefix(mjpgAvi, dibs.head.length).isEmpty,
      "an MJPG stream must not be prefixed")

    // sampleFrames: REAL per-frame pixels (frames 0 and 2), features are
    // the BMP decoder's — not the stub histogram of the raw slice
    val media = Seq((1L, "video", blob)).toDF("media_id", "modality", "blob")
    val out = Multimodal.sampleFrames(media, frames = 2)
      .select("frame_idx", "features", "n_bytes").collect().sortBy(_.getInt(0))
    assert(out.length == 2)
    for ((r, pick) <- out.zip(Seq(0, 2))) {
      assert(r.getLong(2) == 54L + dibs(pick).length, "prefix + raster bytes")
      assert(r.getSeq[Float](1) == Multimodal.imageFeatures(images(pick)).toSeq,
        s"frame $pick features are not the real DIB decode's")
    }

    // whole-blob features: the poster frame decodes for real
    assert(Multimodal.decodeFeatures(blob).toSeq ==
      Multimodal.imageFeatures(images.head).toSeq)
    assert(Multimodal.decodeFeatures(blob).toSeq != Multimodal.decodeStub(blob).toSeq)

    // top-down form: a negative strf biHeight flips row order in the
    // synthesized header, and the decode matches the original image again
    val tdBlob = craftAvi(images.map { img =>
      // top-down payload = rows in natural order (no flip), same padding
      val rowBytes = 8
      val outB = new Array[Byte](rowBytes * 2)
      for (y <- 0 until 2; x <- 0 until 2) {
        val s = (y * 2 + x) * 3
        outB(y * rowBytes + x * 3) = img.pixels(s + 2)     // B
        outB(y * rowBytes + x * 3 + 1) = img.pixels(s + 1) // G
        outB(y * rowBytes + x * 3 + 2) = img.pixels(s)     // R
      }
      outB
    }, 2, 2, handler = nulFcc, strfHeight = Some(-2))
    val tdAvi = Codecs.parseAvi(tdBlob).getOrElse(fail("top-down AVI did not parse"))
    assert(tdAvi.topDown && tdAvi.height == 2)
    assert(Multimodal.decodeFeatures(tdBlob).toSeq ==
      Multimodal.imageFeatures(images.head).toSeq,
      "top-down DIB poster must decode to the same pixels")
  }

  test("extractFeatures uses REAL pixels for decodable formats, stub for the rest") {
    import spark.implicits._
    import graft.multimodal.Codecs
    // an all-black 8x8 PNG: every luminance lands in bin 0 — the byte
    // histogram of the COMPRESSED stream could never look like this
    val w = 8; val h = 8
    val scan = new java.io.ByteArrayOutputStream()
    for (_ <- 0 until h) { scan.write(0); scan.write(new Array[Byte](w * 3)) }
    val deflated = {
      val d = new java.util.zip.Deflater()
      d.setInput(scan.toByteArray); d.finish()
      val buf = new Array[Byte](4096)
      val out = new java.io.ByteArrayOutputStream()
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      d.end(); out.toByteArray
    }
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(12 + data.length)
      b.putInt(data.length).put(typ.getBytes("US-ASCII")).put(data)
      val crc = new java.util.zip.CRC32()
      crc.update(typ.getBytes("US-ASCII")); crc.update(data)
      b.putInt(crc.getValue.toInt).array()
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(w).putInt(h).put(8.toByte).put(2.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte).array()
    val png = Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte) ++
      chunk("IHDR", ihdr) ++ chunk("IDAT", deflated) ++ chunk("IEND", Array.empty)
    assert(Codecs.decodePng(png).isDefined)
    val rows = Seq(
      (1L, "image", png, ("png", w, h, 0L)),
      (2L, "image", "plain text blob".getBytes, ("fake", 1, 1, 0L)))
      .toDF("media_id", "modality", "blob", "meta")
    val feats = Multimodal.extractFeatures(rows).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](r.fieldIndex("features"))).toMap
    assert(feats(1L).head == 1.0f,
      s"black PNG must put ALL luminance mass in bin 0, got ${feats(1L)}")
    // the text blob still rides the stub byte histogram
    val stub = graft.multimodal.Multimodal.decodeStub("plain text blob".getBytes)
    assert(feats(2L).toSeq == stub.toSeq)
  }

  test("Codecs PNG/BMP agree pixel-exact with the JDK's independent ImageIO decoders") {
    import graft.multimodal.Codecs
    // random images encoded by ImageIO (whose PNG encoder picks its own
    // scanline filters) must decode bit-identically through the hand-
    // rolled decoders — two independent implementations cross-checked
    val rnd = new scala.util.Random(42)
    for ((w, h) <- Seq((1, 1), (7, 3), (32, 17))) {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rnd.nextInt() & 0xFFFFFF)
      for (fmt <- Seq("png", "bmp")) {
        val out = new java.io.ByteArrayOutputStream()
        assert(javax.imageio.ImageIO.write(img, fmt, out), s"JDK cannot encode $fmt")
        val dec = (if (fmt == "png") Codecs.decodePng(out.toByteArray)
          else Codecs.decodeBmp(out.toByteArray))
          .getOrElse(fail(s"$fmt ${w}x$h did not decode"))
        assert((dec.width, dec.height) == (w, h), s"$fmt dims")
        for (y <- 0 until h; x <- 0 until w) {
          val exp = img.getRGB(x, y)
          val d = (y * w + x) * dec.channels
          val got = ((dec.pixels(d) & 0xFF) << 16) |
            ((dec.pixels(d + 1) & 0xFF) << 8) | (dec.pixels(d + 2) & 0xFF)
          assert(got == (exp & 0xFFFFFF),
            f"$fmt ($x,$y): got $got%06x want ${exp & 0xFFFFFF}%06x")
        }
      }
    }
  }

  test("JPEG and GIF decode for real through the JDK's bundled ImageIO readers") {
    import graft.multimodal.Multimodal
    // flat mid-gray 16x16 image -> every luminance lands near bin 8; the
    // byte histogram of a COMPRESSED stream could never concentrate there
    val img = new java.awt.image.BufferedImage(16, 16,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 16) img.setRGB(x, y, 0x808080)
    def encode(fmt: String): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, out), s"JDK cannot encode $fmt")
      out.toByteArray
    }
    for (fmt <- Seq("jpg", "gif")) {
      val blob = encode(fmt)
      val feats = Multimodal.decodeFeatures(blob)
      // lossy codecs may wobble +-1 bin around 128>>4 = 8
      val mass = feats(7) + feats(8) + feats(9)
      assert(mass > 0.99f,
        s"$fmt: decoded luminance mass around bin 8 was $mass (${feats.toSeq})")
      assert(Multimodal.decodeStub(blob).toSeq != feats.toSeq,
        s"$fmt: features must come from pixels, not compressed bytes")
    }
    // truncated JPEG: falls back to the stub, never throws
    val cut = encode("jpg").take(20)
    assert(Multimodal.decodeFeatures(cut).toSeq == Multimodal.decodeStub(cut).toSeq)
  }

  test("adversarial JPEG header declaring huge dimensions is rejected pre-decode") {
    import graft.multimodal.Multimodal
    // a REAL jpeg whose SOF0 dimension fields are patched to 65535x65535
    // (4.3 gigapixels): the header-first guard must reject it from the
    // declared size, without ImageIO.read allocating the pixel raster
    val img = new java.awt.image.BufferedImage(8, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val out = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", out))
    val blob = out.toByteArray
    // find the SOF0 marker (FF C0); height/width are at offsets +5..+8
    val sof = blob.indices.dropRight(1)
      .find(i => (blob(i) & 0xFF) == 0xFF && (blob(i + 1) & 0xFF) == 0xC0)
      .getOrElse(fail("no SOF0 marker in encoded jpeg"))
    for (off <- 5 to 8) blob(sof + off) = 0xFF.toByte
    assert(Multimodal.imageIoFeatures(blob).isEmpty,
      "65535x65535 declared dimensions must be rejected from the header")
    // and the public path degrades to the stub rather than throwing
    assert(Multimodal.decodeFeatures(blob).toSeq == Multimodal.decodeStub(blob).toSeq)
  }

  test("mediaMeta still classifies image formats (shared header path)") {
    import spark.implicits._
    val png = {
      val b = java.nio.ByteBuffer.allocate(24)
      b.put(Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte))
      b.putInt(13).put("IHDR".getBytes).putInt(320).putInt(240)
      b.array()
    }
    val got = Seq((1L, png)).toDF("id", "blob")
      .select(Multimodal.mediaMeta(col("blob")).as("m"))
      .select("m.format", "m.width", "m.height").head()
    assert((got.getString(0), got.getInt(1), got.getInt(2)) == ("png", 320, 240))
  }
}
