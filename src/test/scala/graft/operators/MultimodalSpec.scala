package graft.operators

import graft.SparkSpec

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def mediaDf = {
    val rows = (0 until 50).map { i =>
      val payload = Array.tabulate[Byte](i * 7 % 97 + 10)(j => ((i + j) % 251).toByte)
      (i.toLong, Multimodal.pack(28, 28, 1, i % 3, payload))
    } :+ (999L, Array[Byte](1, 2, 3)) // corrupt blob
    rows.toDF("id", "blob").repartition(3)
  }

  test("decodeHeader yields typed metadata incl. corrupt-blob handling") {
    val out = Multimodal.decodeHeader(mediaDf, "blob")
    assert(out.schema("meta").dataType == Multimodal.metaSchema)
    val good = out.filter($"meta.valid").count()
    val bad = out.filter(!$"meta.valid").count()
    assert(good == 50 && bad == 1)
    val m = out.filter($"id" === 0).select($"meta.width", $"meta.height",
      $"meta.channels", $"meta.kind", $"meta.payload_len").head()
    assert((m.getInt(0), m.getInt(1), m.getInt(2), m.getInt(3), m.getInt(4))
      == (28, 28, 1, 0, 10))
  }

  test("perceptual aHash: hand-computed bits on a 2D raster, stability, null law") {
    // 16x16 grayscale: left half dark (10), right half bright (200) —
    // sample grid columns 0..3 land dark, 4..7 bright; mean in between
    // → hash = the 0xF0 column pattern on every row
    val half = Array.tabulate[Byte](256)(i => if (i % 16 < 8) 10 else 200.toByte)
    def blobOf(px: Array[Byte]) = Multimodal.pack(16, 16, 1, 0,
      graft.functions.GrftCodec.pnmEncode(16, 16, 1, px))
    def hashOf(px: Array[Byte]): Option[Long] = {
      val r = Multimodal.imageAHash(
        Seq((1L, blobOf(px))).toDF("id", "blob"), "blob")
        .select($"ahash").head()
      if (r.isNullAt(0)) None else Some(r.getLong(0))
    }
    val expected = (0 until 64)
      .filter(j => j % 8 >= 4).map(j => 1L << j).sum
    assert(hashOf(half).contains(expected))
    // one-pixel noise OFF the sample grid (row 1 — sampled rows/cols
    // are the even ones at 16→8) leaves the hash unchanged
    val noisy = half.clone(); noisy(16 + 1) = 90.toByte
    assert(hashOf(noisy) == hashOf(half))
    // undecodable payload → null hash
    val bad = Multimodal.imageAHash(
      Seq((2L, Multimodal.pack(3, 1, 1, 0, Array[Byte](9, 9, 9))))
        .toDF("id", "blob"), "blob")
      .select($"ahash").head()
    assert(bad.isNullAt(0))
    // RGB raster: brightness = channel sum at the sampled pixel
    val rgb = Array.tabulate[Byte](16 * 16 * 3)(i =>
      if ((i / 3) % 16 < 8) 10 else 100.toByte)
    val rgbBlob = Multimodal.pack(16, 16, 3, 0,
      "P6\n16 16\n255\n".getBytes("ASCII") ++ rgb)
    val rh = Multimodal.imageAHash(
      Seq((3L, rgbBlob)).toDF("id", "blob"), "blob").select($"ahash").head()
    assert(!rh.isNullAt(0) && rh.getLong(0) == expected)
  }

  test("video hash: the CENTER frame is hashed, matching the image hash of that frame") {
    // 2 frames of a 16x16 video: frame 0 constant, frame 1 the
    // half-dark/half-bright raster — nFrames/2 = 1, so the video hash
    // must equal frame 1's image aHash, not frame 0's zero hash
    val flat = Array.fill[Byte](256 * 3)(50)
    val half = Array.tabulate[Byte](256 * 3)(i =>
      if ((i / 3) % 16 < 8) 10 else 200.toByte)
    val avi = Multimodal.pack(16, 16, 3, 2,
      graft.functions.GrftCodec.aviEncode(16, 16, 40000, Array(flat, half)))
    val vh = Multimodal.videoHash(Seq((1L, avi)).toDF("id", "blob"), "blob")
      .select($"vhash").head().getLong(0)
    val expected = (0 until 64).filter(j => j % 8 >= 4).map(j => 1L << j).sum
    assert(vh == expected)
    // undecodable payload → null
    val bad = Multimodal.videoHash(
      Seq((2L, Multimodal.pack(3, 1, 3, 2, Array[Byte](9, 9, 9))))
        .toDF("id", "blob"), "blob").select($"vhash").head()
    assert(bad.isNullAt(0))
  }

  test("audio fingerprint: derivative signs, channel 0 of stereo, null law") {
    def wavBlob(samples: Array[Short], channels: Int = 1) =
      Multimodal.pack(samples.length / channels, 1, channels, 1,
        graft.functions.GrftCodec.wavEncode(8000, channels, samples))
    def fpOf(blob: Array[Byte]): Option[Long] = {
      val r = Multimodal.audioFingerprint(
        Seq((1L, blob)).toDF("id", "blob"), "blob").select($"afp").head()
      if (r.isNullAt(0)) None else Some(r.getLong(0))
    }
    // strictly rising ramp → every derivative sign set
    val ramp = Array.tabulate[Short](130)(i => (i * 10).toShort)
    assert(fpOf(wavBlob(ramp)).contains(-1L)) // all 64 bits
    // constant signal → no bit set
    assert(fpOf(wavBlob(Array.fill[Short](130)(42))).contains(0L))
    // stereo: fingerprint follows CHANNEL 0 (left rising, right falling)
    val stereo = Array.tabulate[Short](260)(i =>
      if (i % 2 == 0) (i * 5).toShort else (-i * 5).toShort)
    assert(fpOf(wavBlob(stereo, channels = 2)).contains(-1L))
    // undecodable payload → null
    assert(fpOf(Multimodal.pack(3, 1, 1, 1, Array[Byte](9, 9, 9))).isEmpty)
  }

  test("real PNM codec: pixel decode, stats, and true raster resize") {
    // 4x2 grayscale gradient packed as a REAL P5 image in a kind=0 container
    val pixels = Array.tabulate[Byte](8)(i => (i * 10).toByte)
    val pgm = graft.functions.GrftCodec.pnmEncode(4, 2, 1, pixels)
    val df = Seq((1L, Multimodal.pack(4, 2, 1, 0, pgm))).toDF("id", "blob")
    val img = Multimodal.decodeImage(df, "blob").select($"image.*").head()
    assert((img.getInt(0), img.getInt(1), img.getInt(2)) == ((4, 2, 1)))
    assert(img.getLong(3) == 8 && img.getLong(4) == pixels.map(_ & 0xff).sum.toLong)
    // resize 4x2 → 2x1 samples the TRUE raster: pixels (0,0) and (0,2)
    val rimg = Multimodal.decodeImage(
      Multimodal.resize(df, "blob", 2, 1), "resized", "rimg")
      .select($"rimg.*").head()
    assert((rimg.getInt(0), rimg.getInt(1)) == ((2, 1)))
    assert(rimg.getLong(4) == 0L + 20L)
    // P6 RGB with a comment in the header decodes too
    val ppm = "P6 # comment\n2 1\n255\n".getBytes("ASCII") ++
      Array[Byte](1, 2, 3, 4, 5, 6)
    val p = Multimodal.decodeImage(
      Seq((2L, Multimodal.pack(2, 1, 3, 0, ppm))).toDF("id", "blob"), "blob")
      .select($"image.*").head()
    assert((p.getInt(0), p.getInt(1), p.getInt(2)) == ((2, 1, 3)))
    assert(p.getLong(4) == 21L)
    // a kind=0 container whose payload is NOT an image → null fields
    val j = Multimodal.decodeImage(
      Seq((3L, Multimodal.pack(3, 1, 1, 0, Array[Byte](9, 9, 9)))).toDF("id", "blob"),
      "blob").select($"image.*").head()
    assert(j.isNullAt(0) && j.isNullAt(4))
  }

  test("extractFeatures computes payload stats distributively") {
    val out = Multimodal.extractFeatures(mediaDf, "blob")
    assert(out.count() == 51)
    val r = out.filter($"id" === 1).head()
    val expected = Array.tabulate[Byte](1 * 7 % 97 + 10)(j => ((1 + j) % 251).toByte)
    assert(r.getAs[Long]("payload_bytes") == expected.length.toLong)
    assert(r.getAs[Long]("payload_checksum") == expected.map(_ & 0xff).sum.toLong)
    // corrupt container yields null stats, not garbage numbers
    val bad = out.filter($"id" === 999).head()
    assert(bad.isNullAt(out.schema.fieldIndex("payload_bytes")) &&
      bad.isNullAt(out.schema.fieldIndex("payload_checksum")) &&
      bad.isNullAt(out.schema.fieldIndex("mean_byte")))
  }

  test("pack rejects dimensions that overflow the header fields") {
    intercept[IllegalArgumentException] {
      Multimodal.pack(70000, 1, 1, 0, Array[Byte](1))
    }
    intercept[IllegalArgumentException] {
      Multimodal.pack(1, 1, 300, 0, Array[Byte](1))
    }
  }

  test("sampleFrames explodes payloads into strided frame rows") {
    val payload = Array.tabulate[Byte](100)(_.toByte) // 10 frames of 10
    val df = Seq((1L, Multimodal.pack(0, 0, 0, 2, payload))).toDF("id", "blob")
    val frames = Multimodal.sampleFrames(df, "blob", frameSize = 10, stride = 3)
    val got = frames.select($"frame_no", $"frame").collect()
      .map(r => r.getInt(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    assert(got.keySet == Set(0, 3, 6, 9))
    assert(got(3) == (30 until 40).map(_.toByte).toSeq)
  }

  test("resize downsamples the raster and re-packs a valid container") {
    // 4x4 single-channel "image" with pixel value = row*4+col
    val px = Array.tabulate[Byte](16)(_.toByte)
    val df = Seq((1L, Multimodal.pack(4, 4, 1, 0, px)), (2L, Array[Byte](9, 9))).toDF("id", "blob")
    val out = Multimodal.resize(df, "blob", outWidth = 2, outHeight = 2)
    val ok = out.filter($"id" === 1).select($"resized").head().getAs[Array[Byte]](0)
    // nearest-neighbour with sy = y*4/2: picks rows 0,2 and cols 0,2
    val meta = Multimodal.decodeHeader(
      Seq((1L, ok)).toDF("id", "blob"), "blob").select($"meta.*").head()
    assert((meta.getInt(0), meta.getInt(1), meta.getBoolean(5)) == (2, 2, true))
    assert(ok.drop(Multimodal.HeaderLen).toSeq == Seq[Byte](0, 2, 8, 10))
    // corrupt input resizes to null instead of throwing
    assert(out.filter($"id" === 2).select($"resized").head().isNullAt(0))
  }

  test("resize treats header dims exceeding the payload as invalid, not a crash") {
    // well-formed container (length field matches payload) whose declared
    // raster 50x50x3 needs 7500 bytes but the payload has 16
    val lying = Multimodal.pack(50, 50, 3, 0, Array.tabulate[Byte](16)(_.toByte))
    val df = Seq((1L, lying)).toDF("id", "blob")
    assert(Multimodal.decodeHeader(df, "blob").select($"meta.valid").head().getBoolean(0))
    val out = Multimodal.resize(df, "blob", outWidth = 2, outHeight = 2)
    assert(out.select($"resized").head().isNullAt(0))
  }

  test("real BMP codec: roundtrip with row padding, bottom-up and top-down") {
    import graft.functions.GrftCodec
    // 3x2 RGB: width 3 → row stride 12 (9 pixel bytes + 3 pad bytes),
    // so padding and the bottom-up row flip are both exercised
    val rgb = Array.tabulate[Byte](3 * 2 * 3)(i => (i * 11 % 251).toByte)
    val bmp = GrftCodec.bmpEncode(3, 2, rgb)
    assert(bmp.length == 54 + 12 * 2)
    val dec = GrftCodec.bmpDecode(bmp, 0)
    assert(dec != null && dec.width == 3 && dec.height == 2 && dec.channels == 3)
    assert(dec.data.toSeq == rgb.toSeq) // decode(encode(x)) == x
    // a top-down variant (negative height) decodes to the same raster:
    // flip the stored rows and negate the height field
    val topDown = bmp.clone()
    val stride = 12
    Array.copy(bmp, 54 + stride, topDown, 54, stride)
    Array.copy(bmp, 54, topDown, 54 + stride, stride)
    val negH = java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(-2).array()
    Array.copy(negH, 0, topDown, 22, 4)
    val dec2 = GrftCodec.bmpDecode(topDown, 0)
    assert(dec2 != null && dec2.data.toSeq == rgb.toSeq)
    // unsupported configs are data, not errors
    val bpp8 = bmp.clone(); bpp8(28) = 8
    assert(GrftCodec.bmpDecode(bpp8, 0) == null)
    val rle = bmp.clone(); rle(30) = 1
    assert(GrftCodec.bmpDecode(rle, 0) == null)
    assert(GrftCodec.bmpDecode("BMnot really".getBytes, 0) == null)
  }

  test("real BMP codec: container resize decodes, resamples, re-encodes BMP") {
    import graft.functions.GrftCodec
    // 4x1 gray-as-RGB ramp in a kind=0 container
    val px = Array[Byte](10, 10, 10, 40, 40, 40, 70, 70, 70, 100, 100, 100)
    val packed = Seq((1L, Multimodal.pack(4, 1, 3, 0, GrftCodec.bmpEncode(4, 1, px))))
      .toDF("id", "blob")
    val resized = Multimodal.resize(packed, "blob", 2, 1)
    val out = Multimodal.decodeImage(resized, "resized")
      .select($"image.width", $"image.height", $"image.channels",
        $"image.n_pixels", $"image.pix_checksum").head()
    // nearest-neighbour picks source pixels 0 and 2 → 10 and 70, ×3 channels
    assert((out.getInt(0), out.getInt(1), out.getInt(2), out.getLong(3),
      out.getLong(4)) == (2, 1, 3, 6L, 3L * (10 + 70)))
    // and the re-encoded payload is itself a decodable BMP
    val blob = resized.select($"resized").head().getAs[Array[Byte]](0)
    val inner = GrftCodec.bmpDecode(blob, GrftCodec.HeaderLen)
    assert(inner != null && inner.width == 2 && inner.height == 1)
  }

  test("real PNG codec: roundtrip through zlib + every filter type") {
    import graft.functions.GrftCodec
    // 5x3 so Sub/Up/Average/Paeth all have real left/up/up-left
    // neighbours to predict from; both gray and RGB color types
    for (channels <- Seq(1, 3); ft <- 0 to 4) {
      val px = Array.tabulate[Byte](5 * 3 * channels)(i => (i * 37 % 256).toByte)
      val png = GrftCodec.pngEncode(5, 3, channels, px, ft)
      val dec = GrftCodec.pngDecode(png, 0)
      assert(dec != null, s"channels=$channels filter=$ft")
      assert((dec.width, dec.height, dec.channels) == (5, 3, channels))
      assert(dec.data.toSeq == px.toSeq,
        s"decode(encode(x, filter=$ft)) != x for channels=$channels")
    }
  }

  test("real PNG codec: corrupt streams are data, not errors") {
    import graft.functions.GrftCodec
    val px = Array.tabulate[Byte](4 * 2 * 3)(i => (i * 13).toByte)
    val png = GrftCodec.pngEncode(4, 2, 3, px)
    // flip one IDAT byte → CRC mismatch → null (the chunk walk verifies)
    val bad = png.clone(); bad(45) = (bad(45) ^ 0x5a).toByte
    assert(GrftCodec.pngDecode(bad, 0) == null)
    // truncated stream → null
    assert(GrftCodec.pngDecode(java.util.Arrays.copyOf(png, png.length - 8), 0) == null)
    // unsupported color type (palette=3) → null, with CRC re-stamped so
    // only the configuration check can reject it
    val pal = png.clone(); pal(25) = 3
    val c = new java.util.zip.CRC32; c.update(pal, 12, 17)
    java.nio.ByteBuffer.wrap(pal, 29, 4).putInt(c.getValue.toInt)
    assert(GrftCodec.pngDecode(pal, 0) == null)
    // not a PNG at all
    assert(GrftCodec.pngDecode("definitely not a png".getBytes, 0) == null)
  }

  test("real PNG codec: container resize decodes, resamples, re-encodes PNG") {
    import graft.functions.GrftCodec
    // 4x1 grayscale ramp in a kind=0 container, written with the Paeth
    // filter so the resize path must reconstruct a non-trivial filter
    val px = Array[Byte](10, 40, 70, 100)
    val packed = Seq((1L, Multimodal.pack(4, 1, 1, 0,
        GrftCodec.pngEncode(4, 1, 1, px, filterType = 4))))
      .toDF("id", "blob")
    val resized = Multimodal.resize(packed, "blob", 2, 1)
    val out = Multimodal.decodeImage(resized, "resized")
      .select($"image.width", $"image.height", $"image.channels",
        $"image.n_pixels", $"image.pix_checksum").head()
    // nearest-neighbour picks source pixels 0 and 2 → 10 and 70
    assert((out.getInt(0), out.getInt(1), out.getInt(2), out.getLong(3),
      out.getLong(4)) == (2, 1, 1, 2L, 80L))
    // and the re-encoded payload is itself a decodable PNG
    val blob = resized.select($"resized").head().getAs[Array[Byte]](0)
    val inner = GrftCodec.pngDecode(blob, GrftCodec.HeaderLen)
    assert(inner != null && inner.width == 2 && inner.height == 1)
    assert(inner.data.toSeq == Seq[Byte](10, 70))
  }

  test("real JPEG codec: constant blocks round-trip exactly at quality 100") {
    import graft.functions.GrftCodec
    // quality 100 → all-ones quant tables; a constant 8x8 block has
    // DC = 8·(v−128) (integral) and exactly-zero ACs, so the lossy
    // format becomes exact for this structure — the q111 fixture's
    // foundation
    val vals = Array(7, 250, 128, 33)
    val px = new Array[Byte](32 * 8)
    for (b <- 0 until 4; y <- 0 until 8; x <- 0 until 8)
      px(y * 32 + b * 8 + x) = vals(b).toByte
    val jpg = GrftCodec.jpegEncode(32, 8, 1, px, quality = 100)
    val dec = GrftCodec.jpegDecode(jpg, 0)
    assert(dec != null && dec.width == 32 && dec.height == 8 && dec.channels == 1)
    assert(dec.data.toSeq == px.toSeq)
    // RGB constant blocks: exact in the YCbCr domain; the two color
    // conversions cost at most ±2 per sample
    val rgb = new Array[Byte](16 * 8 * 3)
    for (b <- 0 until 2; y <- 0 until 8; x <- 0 until 8; ch <- 0 until 3)
      rgb((y * 16 + b * 8 + x) * 3 + ch) = (if (b == 0) 40 + ch * 60 else 200 - ch * 35).toByte
    val jc = GrftCodec.jpegDecode(GrftCodec.jpegEncode(16, 8, 3, rgb, quality = 100), 0)
    assert(jc != null && jc.channels == 3)
    val maxDiff = rgb.indices.map(i => math.abs((jc.data(i) & 0xff) - (rgb(i) & 0xff))).max
    assert(maxDiff <= 2, s"RGB constant-block max diff $maxDiff")
  }

  test("real JPEG codec: agrees with the JDK decoder on its own output") {
    import graft.functions.GrftCodec
    // smooth gradient, quality 90: both decoders see the same
    // coefficients, so differences are only IDCT + color rounding
    val w = 32; val h = 24
    val px = new Array[Byte](w * h * 3)
    for (y <- 0 until h; x <- 0 until w) {
      px((y * w + x) * 3) = (x * 5 + 20).toByte
      px((y * w + x) * 3 + 1) = (y * 6 + 30).toByte
      px((y * w + x) * 3 + 2) = ((x + y) * 3 + 40).toByte
    }
    val jpg = GrftCodec.jpegEncode(w, h, 3, px, quality = 90)
    val jdk = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jpg))
    assert(jdk != null && jdk.getWidth == w && jdk.getHeight == h)
    val ours = GrftCodec.jpegDecode(jpg, 0)
    assert(ours != null)
    var maxDiff = 0
    var sumDiff = 0L
    for (y <- 0 until h; x <- 0 until w) {
      val argb = jdk.getRGB(x, y)
      val theirs = Seq((argb >> 16) & 0xff, (argb >> 8) & 0xff, argb & 0xff)
      for (c <- 0 until 3) {
        val d = math.abs(theirs(c) - (ours.data((y * w + x) * 3 + c) & 0xff))
        maxDiff = math.max(maxDiff, d); sumDiff += d
      }
    }
    assert(maxDiff <= 4, s"max per-sample diff vs JDK decoder: $maxDiff")
    assert(sumDiff.toDouble / (w * h * 3) <= 1.0,
      s"mean per-sample diff vs JDK decoder: ${sumDiff.toDouble / (w * h * 3)}")
  }

  test("real JPEG codec: decodes the JDK encoder's subsampled output") {
    import graft.functions.GrftCodec
    // the JDK writer subsamples chroma (4:2:0) by default, so this
    // exercises the multi-block MCU + upsampling path; our box
    // upsampler vs the JDK's triangle filter differ most at chroma
    // edges, so use a smooth gradient and a mean-level bound
    val w = 40; val h = 16
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, ((x * 4 + 30) << 16) | ((y * 8 + 40) << 8) | (x * 3 + y * 2 + 50))
    val baos = new java.io.ByteArrayOutputStream
    assert(javax.imageio.ImageIO.write(img, "jpeg", baos))
    val jpg = baos.toByteArray
    val ours = GrftCodec.jpegDecode(jpg, 0)
    assert(ours != null && ours.width == w && ours.height == h && ours.channels == 3)
    val jdk = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jpg))
    var sumDiff = 0L
    for (y <- 0 until h; x <- 0 until w) {
      val argb = jdk.getRGB(x, y)
      val theirs = Seq((argb >> 16) & 0xff, (argb >> 8) & 0xff, argb & 0xff)
      for (c <- 0 until 3)
        sumDiff += math.abs(theirs(c) - (ours.data((y * w + x) * 3 + c) & 0xff))
    }
    val mean = sumDiff.toDouble / (w * h * 3)
    assert(mean <= 5.0, s"mean per-sample diff vs JDK decoder on 4:2:0: $mean")
  }

  test("real JPEG codec: restart markers, corrupt and unsupported streams") {
    import graft.functions.GrftCodec
    val vals = Array(10, 60, 110, 160, 210, 250)
    val px = new Array[Byte](48 * 8)
    for (b <- 0 until 6; y <- 0 until 8; x <- 0 until 8)
      px(y * 48 + b * 8 + x) = vals(b).toByte
    // DRI + RSTn every 2 MCUs must decode identically (and exactly)
    val jpg = GrftCodec.jpegEncode(48, 8, 1, px, quality = 100, restartMcus = 2)
    assert(new String(jpg.map(b => f"${b & 0xff}%02x").mkString).contains("ffdd"))
    val dec = GrftCodec.jpegDecode(jpg, 0)
    assert(dec != null && dec.data.toSeq == px.toSeq)
    // truncated entropy data → null, not a crash
    assert(GrftCodec.jpegDecode(java.util.Arrays.copyOf(jpg, jpg.length - 10), 0) == null)
    // progressive SOF2 → null (flip the SOF0 marker byte)
    val prog = jpg.clone()
    val sofAt = prog.indices.find(i =>
      (prog(i) & 0xff) == 0xff && (prog(i + 1) & 0xff) == 0xc0).get
    prog(sofAt + 1) = 0xc2.toByte
    assert(GrftCodec.jpegDecode(prog, 0) == null)
    // not a JPEG at all
    assert(GrftCodec.jpegDecode("definitely not a jpeg".getBytes, 0) == null)
  }

  test("real JPEG codec: container resize decodes, resamples, re-encodes lossless") {
    import graft.functions.GrftCodec
    // 2 constant 8x8 blocks → NN resize to 2x1 picks pixels (0,0) and
    // (8,0) = the two block values; the re-encoded payload must be a
    // PNG (lossy media decodes once, derived artifacts stay exact)
    val px = new Array[Byte](16 * 8)
    for (b <- 0 until 2; y <- 0 until 8; x <- 0 until 8)
      px(y * 16 + b * 8 + x) = (if (b == 0) 25 else 225).toByte
    val packed = Seq((1L, Multimodal.pack(16, 8, 1, 0,
        GrftCodec.jpegEncode(16, 8, 1, px, quality = 100))))
      .toDF("id", "blob")
    val resized = Multimodal.resize(packed, "blob", 2, 1)
    val out = Multimodal.decodeImage(resized, "resized")
      .select($"image.width", $"image.height", $"image.channels",
        $"image.n_pixels", $"image.pix_checksum").head()
    assert((out.getInt(0), out.getInt(1), out.getInt(2), out.getLong(3),
      out.getLong(4)) == (2, 1, 1, 2L, 250L))
    val blob = resized.select($"resized").head().getAs[Array[Byte]](0)
    val inner = GrftCodec.pngDecode(blob, GrftCodec.HeaderLen)
    assert(inner != null && inner.data.toSeq == Seq[Byte](25, 225.toByte))
  }

  test("real WAV codec: roundtrip, chunk walk, and unsupported configs") {
    import graft.functions.GrftCodec
    // stereo roundtrip: interleaved L/R frames incl. negative samples
    val frames = Array[Short](100, -200, 3000, -4000, 32767, -32768)
    val wav = GrftCodec.wavEncode(44100, 2, frames)
    assert(wav.length == 44 + 12)
    val dec = GrftCodec.wavDecode(wav, 0)
    assert(dec != null && dec.sampleRate == 44100 && dec.channels == 2 &&
      dec.nFrames == 3)
    // an unknown odd-sized chunk before fmt is skipped with its pad byte
    val extra = java.nio.ByteBuffer.allocate(wav.length + 8 + 3 + 1)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    extra.put(wav, 0, 12) // RIFF..WAVE
    extra.put("LIST".getBytes("ASCII")).putInt(3)
      .put(Array[Byte](1, 2, 3, 0)) // 3-byte body + RIFF pad
    extra.put(wav, 12, wav.length - 12)
    val dec2 = GrftCodec.wavDecode(extra.array(), 0)
    assert(dec2 != null && dec2.nFrames == 3 && dec2.channels == 2)
    // unsupported configs are data, not errors
    val mulaw = wav.clone(); mulaw(20) = 7 // format tag != PCM
    assert(GrftCodec.wavDecode(mulaw, 0) == null)
    val bits8 = wav.clone(); bits8(34) = 8 // bits per sample != 16
    assert(GrftCodec.wavDecode(bits8, 0) == null)
    assert(GrftCodec.wavDecode("RIFFnot a wave".getBytes, 0) == null)
  }

  test("real WAV codec: container resample decodes, resamples, re-encodes WAV") {
    import graft.functions.GrftCodec
    val samples = Array[Short](1000, 2000, 3000, 4000)
    val packed = Seq((1L, Multimodal.pack(4, 1, 1, 1,
        GrftCodec.wavEncode(8000, 1, samples))))
      .toDF("id", "blob")
    val resampled = Multimodal.resize(packed, "blob", 2, 1)
    val out = Multimodal.decodeAudio(resampled, "resized")
      .select($"audio.sample_rate", $"audio.channels", $"audio.n_frames",
        $"audio.sample_checksum", $"audio.peak").head()
    // nearest-neighbour picks source frames 0 and 2 → 1000 and 3000
    assert((out.getInt(0), out.getInt(1), out.getLong(2), out.getLong(3),
      out.getInt(4)) == (8000, 1, 2L, 4000L, 3000))
    // the re-encoded payload is itself a decodable WAV at the same rate
    val blob = resampled.select($"resized").head().getAs[Array[Byte]](0)
    val inner = GrftCodec.wavDecode(blob, GrftCodec.HeaderLen)
    assert(inner != null && inner.sampleRate == 8000 && inner.nFrames == 2)
    // audio has no second raster axis: outHeight != 1 is undecodable
    assert(Multimodal.resize(packed, "blob", 2, 2)
      .select($"resized").head().isNullAt(0))
    // a kind=0 container with the same payload is NOT audio
    val asImage = Seq((1L, Multimodal.pack(4, 1, 1, 0,
        GrftCodec.wavEncode(8000, 1, samples))))
      .toDF("id", "blob")
    assert(Multimodal.decodeAudio(asImage, "blob")
      .select($"audio.sample_rate").head().isNullAt(0))
  }

  test("real AVI codec: roundtrip, chunk walk, and unsupported configs") {
    import graft.functions.GrftCodec
    // two 3x2 RGB frames: width 3 → stride 12, so DIB padding and the
    // bottom-up row flip are exercised per frame
    val f0 = Array.tabulate[Byte](3 * 2 * 3)(i => (i * 11 % 251).toByte)
    val f1 = Array.tabulate[Byte](3 * 2 * 3)(i => (i * 7 % 211).toByte)
    val avi = GrftCodec.aviEncode(3, 2, 40000, Array(f0, f1))
    val dec = GrftCodec.aviDecode(avi, 0)
    assert(dec != null && dec.width == 3 && dec.height == 2 &&
      dec.nFrames == 2 && dec.usPerFrame == 40000)
    assert(GrftCodec.aviFrameRgb(dec, 0).toSeq == f0.toSeq) // decode(encode(x)) == x
    assert(GrftCodec.aviFrameRgb(dec, 1).toSeq == f1.toSeq)
    // an unknown top-level odd-sized chunk between hdrl and movi is
    // skipped with its RIFF pad byte
    def i32(b: Array[Byte], off: Int): Int =
      (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
        ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)
    val moviAt = {
      var p = 12
      while (!(avi(p) == 'L' && avi(p + 8) == 'm')) p += 8 + i32(avi, p + 4)
      p
    }
    val extra = java.nio.ByteBuffer
      .allocate(avi.length + 12).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    extra.put(avi, 0, moviAt)
    extra.put("JUNK".getBytes("ASCII")).putInt(3).put(Array[Byte](9, 9, 9, 0))
    extra.put(avi, moviAt, avi.length - moviAt)
    val padded = extra.array()
    // patch the RIFF size for the inserted 12 bytes
    val newSize = java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(padded.length - 8).array()
    Array.copy(newSize, 0, padded, 4, 4)
    val dec2 = GrftCodec.aviDecode(padded, 0)
    assert(dec2 != null && dec2.nFrames == 2 &&
      GrftCodec.aviFrameRgb(dec2, 1).toSeq == f1.toSeq)
    // a top-down variant (negative strf height) decodes to the same
    // rasters: flip each frame's stored rows and negate the height
    val topDown = avi.clone()
    val strfHAt = {
      var p = 0
      while (!(topDown(p) == 's' && topDown(p + 1) == 't' && topDown(p + 2) == 'r' &&
        topDown(p + 3) == 'f')) p += 1
      p + 8 + 8
    }
    val negH = java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(-2).array()
    Array.copy(negH, 0, topDown, strfHAt, 4)
    val stride = 12
    for (f <- 0 until 2) {
      val base = {
        var p = 12
        while (!(topDown(p) == 'L' && topDown(p + 8) == 'm')) p += 8 + i32(topDown, p + 4)
        p + 12 + 8 + f * (8 + stride * 2)
      }
      val row0 = java.util.Arrays.copyOfRange(topDown, base, base + stride)
      Array.copy(topDown, base + stride, topDown, base, stride)
      Array.copy(row0, 0, topDown, base + stride, stride)
    }
    val decTd = GrftCodec.aviDecode(topDown, 0)
    assert(decTd != null && GrftCodec.aviFrameRgb(decTd, 0).toSeq == f0.toSeq &&
      GrftCodec.aviFrameRgb(decTd, 1).toSeq == f1.toSeq)
    // unsupported configs are data, not errors: non-24-bit frames,
    // compressed streams, and a movi with no preceding hdrl
    val strfAt = {
      var p = 0
      while (!(avi(p) == 's' && avi(p + 1) == 't' && avi(p + 2) == 'r' &&
        avi(p + 3) == 'f')) p += 1
      p + 8
    }
    val bpp8 = avi.clone(); bpp8(strfAt + 14) = 8
    assert(GrftCodec.aviDecode(bpp8, 0) == null)
    val rle = avi.clone(); rle(strfAt + 16) = 1
    assert(GrftCodec.aviDecode(rle, 0) == null)
    assert(GrftCodec.aviDecode("RIFFnot a video".getBytes, 0) == null)
  }

  test("real AVI codec: container resize resamples every frame, re-encodes AVI") {
    import graft.functions.GrftCodec
    // two 4x1 gray-as-RGB frames in a kind=2 container
    def gray(bs: Byte*): Array[Byte] = bs.toArray.flatMap(b => Array(b, b, b))
    val f0 = gray(10, 40, 70, 100)
    val f1 = gray(20, 50, 80, 110)
    val packed = Seq((1L, Multimodal.pack(4, 1, 3, 2,
        GrftCodec.aviEncode(4, 1, 40000, Array(f0, f1)))))
      .toDF("id", "blob")
    val resized = Multimodal.resize(packed, "blob", 2, 1)
    val out = Multimodal.decodeVideo(resized, "resized")
      .select($"video.width", $"video.height", $"video.channels",
        $"video.n_frames", $"video.pix_checksum").head()
    // nearest-neighbour picks source pixels 0 and 2 of EACH frame
    // → (10+70) + (20+80), ×3 channels
    assert((out.getInt(0), out.getInt(1), out.getInt(2), out.getLong(3),
      out.getLong(4)) == (2, 1, 3, 2L, 3L * (10 + 70 + 20 + 80)))
    // the re-encoded payload is itself a decodable AVI with both frames
    val blob = resized.select($"resized").head().getAs[Array[Byte]](0)
    val inner = GrftCodec.aviDecode(blob, GrftCodec.HeaderLen)
    assert(inner != null && inner.width == 2 && inner.nFrames == 2 &&
      inner.usPerFrame == 40000)
    assert(GrftCodec.aviFrameRgb(inner, 1).toSeq == gray(20, 80).toSeq)
    // sampleFrames on a real AVI returns DECODED RGB rasters
    val frames = Multimodal.sampleFrames(packed, "blob", frameSize = 999,
        stride = 1)
      .select($"frame_no", $"frame").collect()
    assert(frames.length == 2)
    assert(frames(0).getAs[Array[Byte]](1).toSeq == f0.toSeq)
    assert(frames(1).getInt(0) == 1 &&
      frames(1).getAs[Array[Byte]](1).toSeq == f1.toSeq)
    // a kind=0 container with the same payload is NOT video
    val asImage = Seq((1L, Multimodal.pack(4, 1, 3, 0,
        GrftCodec.aviEncode(4, 1, 40000, Array(f0)))))
      .toDF("id", "blob")
    assert(Multimodal.decodeVideo(asImage, "blob")
      .select($"video.width").head().isNullAt(0))
  }

  test("binary payloads survive the Arrow pipe round-trip") {
    val cmd = graft.operators.clients.JvmChild.command("graft.operators.clients.ArrowEchoChild")
    val df = mediaDf.filter($"id" < 10).coalesce(1)
    val declared = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("blob", org.apache.spark.sql.types.BinaryType)))
    val out = Stream.arrow(df, cmd, declared)
    val meta = Multimodal.decodeHeader(out, "blob")
    assert(meta.filter($"meta.valid").count() == 10)
  }
}
