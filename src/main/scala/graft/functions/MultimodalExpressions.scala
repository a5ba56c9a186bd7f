package graft.functions

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import graft.functions.ArgType.{binary, integral, literal}

/** GRFT binary-container codec as static helpers callable from
  * whole-stage-generated Java (top-level Scala objects compile with
  * static forwarders, so janino code can call
  * `graft.functions.GrftCodec.meta(bytes)` directly).
  *
  * The GRFT header is the deterministic stand-in for JPEG/WAV headers
  * (the container has no media codecs — see [[graft.operators.Multimodal]]):
  * magic "GRFT", u16 width, u16 height, u8 channels, u8 kind
  * (0=image, 1=audio, 2=video), u32 payload length, little-endian.
  * Mirrors the reference's binary-attribute packing of MNIST images
  * (`py_pkg/examples/4-machine-learning.py:49-109`).
  */
object GrftCodec {
  val HeaderLen = 14

  val metaSchema: StructType = StructType(Seq(
    StructField("width", IntegerType), StructField("height", IntegerType),
    StructField("channels", IntegerType), StructField("kind", IntegerType),
    StructField("payload_len", IntegerType), StructField("valid", BooleanType)))

  val statsSchema: StructType = StructType(Seq(
    StructField("payload_bytes", LongType),
    StructField("payload_checksum", LongType),
    StructField("mean_byte", DoubleType)))

  def pack(width: Int, height: Int, channels: Int, kind: Int,
           payload: Array[Byte]): Array[Byte] = {
    require(width >= 0 && width <= 0xffff && height >= 0 && height <= 0xffff,
      s"width/height must fit u16, got ${width}x$height")
    require(channels >= 0 && channels <= 0xff && kind >= 0 && kind <= 0xff,
      s"channels/kind must fit u8, got channels=$channels kind=$kind")
    val b = ByteBuffer.allocate(HeaderLen + payload.length).order(ByteOrder.LITTLE_ENDIAN)
    b.put("GRFT".getBytes("ASCII"))
    b.putShort(width.toShort).putShort(height.toShort)
    b.put(channels.toByte).put(kind.toByte)
    b.putInt(payload.length)
    b.put(payload)
    b.array()
  }

  private def headerValid(bytes: Array[Byte]): Boolean =
    bytes != null && bytes.length >= HeaderLen &&
      bytes(0) == 'G' && bytes(1) == 'R' && bytes(2) == 'F' && bytes(3) == 'T'

  /** Typed header metadata; a corrupt container yields null fields with
    * `valid = false` (never a null struct — corrupt media is data, not
    * missing data).
    */
  def meta(bytes: Array[Byte]): InternalRow = {
    if (!headerValid(bytes))
      return InternalRow(null, null, null, null, null, false)
    val b = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    b.position(4)
    val w = b.getShort & 0xffff
    val h = b.getShort & 0xffff
    val c = b.get() & 0xff
    val k = b.get() & 0xff
    val len = b.getInt
    InternalRow(w, h, c, k, len, len == bytes.length - HeaderLen)
  }

  /** Payload byte stats (count, checksum, mean); nulls for a corrupt
    * container so garbage blobs never pollute feature statistics.
    */
  def stats(bytes: Array[Byte]): InternalRow = {
    val m = meta(bytes)
    if (m.isNullAt(0) || !m.getBoolean(5))
      return InternalRow(null, null, null)
    var sum = 0L
    var i = HeaderLen
    while (i < bytes.length) { sum += (bytes(i) & 0xff); i += 1 }
    val n = bytes.length - HeaderLen
    val mean = if (n == 0) 0.0 else sum.toDouble / n
    InternalRow(n.toLong, sum, mean)
  }

  /** Nearest-neighbour downsample of the fake raster (payload treated
    * as row-major width×height×channels bytes); re-packs a well-formed
    * GRFT container with the new dimensions. Returns null for a corrupt
    * container or a header whose declared raster exceeds the payload
    * (lying dims are invalid data, not a crash).
    */
  def resize(bytes: Array[Byte], outWidth: Int, outHeight: Int): Array[Byte] = {
    val m = meta(bytes)
    if (m.isNullAt(0) || !m.getBoolean(5)) return null
    // REAL paths: a kind=0 container holding a PNM or BMP image
    // resizes its actual raster (dims from the image header) and
    // re-encodes a valid payload in the SAME format, so resized media
    // decodes like any other image
    val img = pnmOfContainer(bytes)
    if (img != null) {
      val out = nnResize(img.bytes, img.offset, img.width, img.height,
        img.channels, outWidth, outHeight)
      return pack(outWidth, outHeight, img.channels, 0,
        pnmEncode(outWidth, outHeight, img.channels, out))
    }
    val bmp = bmpOfContainer(bytes)
    if (bmp != null) {
      val out = nnResize(bmp.data, bmp.offset, bmp.width, bmp.height,
        bmp.channels, outWidth, outHeight)
      return pack(outWidth, outHeight, bmp.channels, 0,
        bmpEncode(outWidth, outHeight, out))
    }
    val png = pngOfContainer(bytes)
    if (png != null) {
      val out = nnResize(png.data, png.offset, png.width, png.height,
        png.channels, outWidth, outHeight)
      return pack(outWidth, outHeight, png.channels, 0,
        pngEncode(outWidth, outHeight, png.channels, out))
    }
    // JPEG input re-encodes LOSSLESS (PNG): a resize re-encoded as
    // JPEG would stack a second generation of quantization loss on
    // every transform, so the pipeline decodes lossy media once and
    // keeps derived artifacts exact — the policy production media
    // pipelines use
    val jpg = jpegOfContainer(bytes)
    if (jpg != null) {
      val out = nnResize(jpg.data, jpg.offset, jpg.width, jpg.height,
        jpg.channels, outWidth, outHeight)
      return pack(outWidth, outHeight, jpg.channels, 0,
        pngEncode(outWidth, outHeight, jpg.channels, out))
    }
    // REAL audio path: a kind=1 container holding a PCM WAV resamples
    // its actual frames (1-D nearest-neighbour over outWidth frames,
    // all channels carried; outHeight must be 1 — audio has no second
    // raster axis) and re-encodes a valid WAV at the original rate
    val wav = wavOfContainer(bytes)
    if (wav != null) {
      if (outHeight != 1 || wav.nFrames == 0) return null
      val out = new Array[Short](outWidth * wav.channels)
      var x = 0
      while (x < outWidth) {
        val sx = x * wav.nFrames / outWidth
        var ch = 0
        while (ch < wav.channels) {
          val si = wav.offset + (sx * wav.channels + ch) * 2
          out(x * wav.channels + ch) =
            ((u16le(wav.bytes, si) << 16) >> 16).toShort
          ch += 1
        }
        x += 1
      }
      return pack(outWidth, 1, wav.channels, 1,
        wavEncode(wav.sampleRate, wav.channels, out))
    }
    // REAL video path: a kind=2 container holding an uncompressed AVI
    // spatially resizes EVERY frame (nearest-neighbour, frame count and
    // rate preserved) and re-encodes a valid AVI
    val avi = aviOfContainer(bytes)
    if (avi != null) {
      val frames = Array.tabulate(avi.nFrames) { f =>
        nnResize(aviFrameRgb(avi, f), 0, avi.width, avi.height, 3,
          outWidth, outHeight)
      }
      return pack(outWidth, outHeight, 3, 2,
        aviEncode(outWidth, outHeight, avi.usPerFrame, frames))
    }
    // declared-stub path: payload treated as a bare row-major raster
    val w = m.getInt(0); val h = m.getInt(1); val c = m.getInt(2)
    if (w == 0 || h == 0 || bytes.length - HeaderLen < w.toLong * h * c) return null
    val outBytes = nnResize(bytes, HeaderLen, w, h, c, outWidth, outHeight)
    pack(outWidth, outHeight, c, m.getInt(3), outBytes)
  }

  /** Nearest-neighbour sampling of a row-major raster at `off`. */
  private def nnResize(bytes: Array[Byte], off: Int, w: Int, h: Int, c: Int,
                       outWidth: Int, outHeight: Int): Array[Byte] = {
    val outBytes = new Array[Byte](outWidth * outHeight * c)
    var y = 0
    while (y < outHeight) {
      val sy = y * h / outHeight
      var x = 0
      while (x < outWidth) {
        val sx = x * w / outWidth
        var ch = 0
        while (ch < c) {
          outBytes((y * outWidth + x) * c + ch) =
            bytes(off + (sy * w + sx) * c + ch)
          ch += 1
        }
        x += 1
      }
      y += 1
    }
    outBytes
  }

  // ---- real image codec: netpbm P5 (grayscale) / P6 (RGB) ----
  // The one genuinely decodable image family with zero native deps:
  // ASCII header ("P5\n<w> <h>\n<maxval>\n") + raw 8-bit raster. This is
  // the REAL codec path for kind=0 GRFT containers whose payload is a
  // PGM/PPM image — decode, pixel stats and resize operate on the
  // actual raster; non-image payloads keep the declared-stub behavior.

  /** Decoded PNM view: channels ∈ {1, 3}, `offset` = raster start in
    * `bytes`. Null result = not a (supported) PNM payload.
    */
  final case class Pnm(width: Int, height: Int, channels: Int, offset: Int,
                       bytes: Array[Byte])

  def pnmEncode(w: Int, h: Int, channels: Int, pixels: Array[Byte]): Array[Byte] = {
    require(channels == 1 || channels == 3, s"PNM channels must be 1 or 3, got $channels")
    require(pixels.length >= w * h * channels, "raster shorter than dimensions")
    val header = s"P${if (channels == 1) 5 else 6}\n$w $h\n255\n".getBytes("ASCII")
    val out = new Array[Byte](header.length + w * h * channels)
    System.arraycopy(header, 0, out, 0, header.length)
    System.arraycopy(pixels, 0, out, header.length, w * h * channels)
    out
  }

  /** Parse a P5/P6 payload starting at `off`; whitespace runs and `#`
    * comment lines per the netpbm spec; only maxval ≤ 255 (1-byte
    * samples). Returns null for anything else — undecodable media is
    * data, not an error.
    */
  def pnmDecode(bytes: Array[Byte], off: Int): Pnm = {
    if (bytes == null || bytes.length < off + 2) return null
    if (bytes(off) != 'P') return null
    val channels = bytes(off + 1) match {
      case '5' => 1
      case '6' => 3
      case _ => return null
    }
    var p = off + 2
    def skipSpace(): Boolean = {
      var sawSpace = false
      var more = true
      while (more && p < bytes.length) {
        val b = bytes(p)
        if (b == ' ' || b == '\n' || b == '\r' || b == '\t') { sawSpace = true; p += 1 }
        else if (b == '#') { while (p < bytes.length && bytes(p) != '\n') p += 1 }
        else more = false
      }
      sawSpace
    }
    def readInt(): Int = {
      var v = 0L
      var any = false
      while (p < bytes.length && bytes(p) >= '0' && bytes(p) <= '9') {
        v = v * 10 + (bytes(p) - '0'); any = true; p += 1
        if (v > Int.MaxValue) return -1
      }
      if (any) v.toInt else -1
    }
    if (!skipSpace()) return null
    val w = readInt(); if (w <= 0) return null
    if (!skipSpace()) return null
    val h = readInt(); if (h <= 0) return null
    if (!skipSpace()) return null
    val maxval = readInt(); if (maxval <= 0 || maxval > 255) return null
    // exactly ONE whitespace byte separates maxval from the raster
    if (p >= bytes.length) return null
    val sep = bytes(p)
    if (sep != ' ' && sep != '\n' && sep != '\r' && sep != '\t') return null
    p += 1
    if (bytes.length - p < w.toLong * h * channels) return null
    Pnm(w, h, channels, p, bytes)
  }

  /** Decode a kind=0 GRFT container whose payload is a PNM image, or
    * null when the container/image is undecodable.
    */
  def pnmOfContainer(bytes: Array[Byte]): Pnm = {
    val m = meta(bytes)
    if (m.isNullAt(0) || !m.getBoolean(5) || m.getInt(3) != 0) return null
    pnmDecode(bytes, HeaderLen)
  }

  // ---- real image codec #2: uncompressed 24-bit BMP (BI_RGB) ----
  // The second zero-native-dep decodable family: BITMAPFILEHEADER (14
  // bytes, "BM" magic) + BITMAPINFOHEADER (40 bytes, little-endian),
  // bitCount=24, compression=0, rows padded to 4 bytes, stored
  // bottom-up (positive height) or top-down (negative height), BGR
  // sample order. Decode normalizes to a row-major top-down RGB
  // raster; encode writes the canonical bottom-up form. Other BMP
  // configurations (paletted 1/4/8-bit, 16/32-bit, RLE) decode to
  // null — undecodable media is data, not an error.

  /** A decoded raster normalized to row-major top-down RGB/gray:
    * `data` holds exactly width×height×channels samples from `offset`.
    */
  final case class Raster(width: Int, height: Int, channels: Int,
                          offset: Int, data: Array[Byte])

  private def bmpRowStride(w: Int): Int = (w * 3 + 3) & ~3

  /** Encode a row-major RGB raster as a canonical bottom-up 24-bit
    * BI_RGB BMP (the form every viewer and library accepts).
    */
  def bmpEncode(w: Int, h: Int, pixels: Array[Byte]): Array[Byte] = {
    require(pixels.length >= w * h * 3, "raster shorter than dimensions")
    val stride = bmpRowStride(w)
    val dataSize = stride * h
    val fileSize = 54 + dataSize
    val b = ByteBuffer.allocate(fileSize).order(ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte).putInt(fileSize)
      .putShort(0).putShort(0).putInt(54) // reserved, pixel-data offset
    b.putInt(40).putInt(w).putInt(h) // BITMAPINFOHEADER, bottom-up
      .putShort(1).putShort(24).putInt(0).putInt(dataSize)
      .putInt(2835).putInt(2835).putInt(0).putInt(0) // 72 dpi, no palette
    val out = b.array()
    var y = 0
    while (y < h) {
      val src = (h - 1 - y) * w * 3 // bottom-up: last raster row first
      val dst = 54 + y * stride
      var x = 0
      while (x < w) {
        out(dst + x * 3) = pixels(src + x * 3 + 2)     // B
        out(dst + x * 3 + 1) = pixels(src + x * 3 + 1) // G
        out(dst + x * 3 + 2) = pixels(src + x * 3)     // R
        x += 1
      }
      y += 1
    }
    out
  }

  private def u16le(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)

  private def i32le(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

  /** Parse a 24-bit BI_RGB BMP payload starting at `off` into a
    * top-down RGB [[Raster]]; null for any other configuration.
    */
  def bmpDecode(bytes: Array[Byte], off: Int): Raster = {
    if (bytes == null || bytes.length < off + 54) return null
    if (bytes(off) != 'B' || bytes(off + 1) != 'M') return null
    val pixOff = i32le(bytes, off + 10)
    val dibSize = i32le(bytes, off + 14)
    if (dibSize < 40) return null // BITMAPCOREHEADER etc. unsupported
    val w = i32le(bytes, off + 18)
    val rawH = i32le(bytes, off + 22)
    val topDown = rawH < 0
    val h = if (topDown) -rawH else rawH
    if (w <= 0 || h == 0) return null
    if (u16le(bytes, off + 26) != 1) return null // planes
    if (u16le(bytes, off + 28) != 24) return null // bitCount
    if (i32le(bytes, off + 30) != 0) return null // BI_RGB only
    val stride = bmpRowStride(w)
    if (pixOff < 54 || bytes.length - off - pixOff < stride.toLong * h) return null
    val out = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      val srcRow = if (topDown) y else h - 1 - y
      val src = off + pixOff + srcRow * stride
      val dst = y * w * 3
      var x = 0
      while (x < w) {
        out(dst + x * 3) = bytes(src + x * 3 + 2)     // R
        out(dst + x * 3 + 1) = bytes(src + x * 3 + 1) // G
        out(dst + x * 3 + 2) = bytes(src + x * 3)     // B
        x += 1
      }
      y += 1
    }
    Raster(w, h, 3, 0, out)
  }

  /** Decode a kind=0 GRFT container whose payload is a 24-bit BMP, or
    * null when the container/image is undecodable.
    */
  def bmpOfContainer(bytes: Array[Byte]): Raster = {
    val m = meta(bytes)
    if (m.isNullAt(0) || !m.getBoolean(5) || m.getInt(3) != 0) return null
    bmpDecode(bytes, HeaderLen)
  }

  // ---- real image codec #3: PNG (8-bit gray / RGB, non-interlaced) ----
  // The most common real-world image format, pure JVM: zlib via
  // java.util.zip.{Deflater,Inflater}, CRC32 chunk checksums, and the
  // full five-type scanline filter model (None/Sub/Up/Average/Paeth —
  // the encoder picks a filter per row, the decoder must reconstruct
  // whatever it finds). Supported: bit depth 8, color type 0
  // (grayscale) or 2 (RGB), compression 0, filter method 0,
  // non-interlaced — the overwhelmingly common configuration.
  // Paletted/16-bit/alpha/interlaced decode to null — undecodable
  // media is data, not an error.

  private val PngSig: Array[Byte] =
    Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  private def crc32(typeAndData: Array[Byte]*): Int = {
    val c = new java.util.zip.CRC32
    typeAndData.foreach(c.update)
    c.getValue.toInt
  }

  /** Paeth predictor (RFC 2083 §6.6): nearest of left/up/up-left to
    * the linear estimate a + b − c, ties a > b > c.
    */
  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** Encode a row-major 8-bit raster (channels 1 = gray, 3 = RGB) as a
    * valid non-interlaced PNG. `filterType` (0-4) is applied to every
    * scanline — like a real encoder's per-row filter choice, and the
    * lever the tests use to gate the decoder's reconstruction of all
    * five types.
    */
  def pngEncode(w: Int, h: Int, channels: Int, pixels: Array[Byte],
                filterType: Int = 0): Array[Byte] = {
    require(channels == 1 || channels == 3, s"PNG channels must be 1 or 3, got $channels")
    require(pixels.length >= w * h * channels, "raster shorter than dimensions")
    require(filterType >= 0 && filterType <= 4, s"filter type 0-4, got $filterType")
    val bpp = channels
    val stride = w * channels
    val raw = new Array[Byte]((stride + 1) * h)
    var y = 0
    while (y < h) {
      raw(y * (stride + 1)) = filterType.toByte
      var i = 0
      while (i < stride) {
        val x = pixels(y * stride + i) & 0xff
        val a = if (i >= bpp) pixels(y * stride + i - bpp) & 0xff else 0
        val b = if (y > 0) pixels((y - 1) * stride + i) & 0xff else 0
        val c = if (i >= bpp && y > 0) pixels((y - 1) * stride + i - bpp) & 0xff else 0
        val pred = filterType match {
          case 0 => 0
          case 1 => a
          case 2 => b
          case 3 => (a + b) / 2
          case 4 => paeth(a, b, c)
        }
        raw(y * (stride + 1) + 1 + i) = ((x - pred) & 0xff).toByte
        i += 1
      }
      y += 1
    }
    val deflater = new java.util.zip.Deflater
    deflater.setInput(raw); deflater.finish()
    val buf = new Array[Byte](raw.length + 64)
    val outStream = new java.io.ByteArrayOutputStream
    while (!deflater.finished())
      outStream.write(buf, 0, deflater.deflate(buf))
    deflater.end()
    val idat = outStream.toByteArray
    val ihdr = ByteBuffer.allocate(13)
      .putInt(w).putInt(h)
      .put(8.toByte).put((if (channels == 1) 0 else 2).toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte).array()
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val t = typ.getBytes("ASCII")
      ByteBuffer.allocate(12 + data.length)
        .putInt(data.length).put(t).put(data).putInt(crc32(t, data)).array()
    }
    val parts = Seq(PngSig, chunk("IHDR", ihdr), chunk("IDAT", idat),
      chunk("IEND", Array.empty[Byte]))
    val out = new Array[Byte](parts.map(_.length).sum)
    var off = 0
    parts.foreach { p => System.arraycopy(p, 0, out, off, p.length); off += p.length }
    out
  }

  /** Parse a PNG payload at `off` into a top-down [[Raster]]: chunk
    * walk with CRC32 verification, IDAT concatenation, zlib inflate,
    * and per-scanline reconstruction of all five filter types. Null
    * for any unsupported configuration or corrupt stream.
    */
  def pngDecode(bytes: Array[Byte], off: Int): Raster = {
    if (bytes == null || bytes.length < off + 8 + 25) return null
    var i = 0
    while (i < 8) { if (bytes(off + i) != PngSig(i)) return null; i += 1 }
    var p = off + 8
    var w = 0; var h = 0; var channels = 0
    var sawIhdr = false; var sawIend = false
    val idat = new java.io.ByteArrayOutputStream
    while (!sawIend) {
      if (bytes.length - p < 12) return null
      val len = ByteBuffer.wrap(bytes, p, 4).getInt
      // `len > remaining - 12` instead of `remaining < 12 + len`: the
      // latter wraps negative for len near Int.MaxValue and lets a
      // corrupt length through to CRC32.update.
      if (len < 0 || len > bytes.length - p - 12) return null
      val typ = new String(bytes, p + 4, 4, "ASCII")
      val c = new java.util.zip.CRC32
      c.update(bytes, p + 4, 4 + len)
      if (c.getValue.toInt != ByteBuffer.wrap(bytes, p + 8 + len, 4).getInt)
        return null
      typ match {
        case "IHDR" =>
          if (sawIhdr || len != 13) return null
          sawIhdr = true
          w = ByteBuffer.wrap(bytes, p + 8, 4).getInt
          h = ByteBuffer.wrap(bytes, p + 12, 4).getInt
          if (w <= 0 || h <= 0) return null
          if (bytes(p + 16) != 8) return null // bit depth
          channels = bytes(p + 17) match { // color type
            case 0 => 1
            case 2 => 3
            case _ => return null
          }
          if (bytes(p + 18) != 0 || bytes(p + 19) != 0 || bytes(p + 20) != 0)
            return null // compression / filter method / interlace
        case "IDAT" =>
          if (!sawIhdr) return null
          idat.write(bytes, p + 8, len)
        case "IEND" => sawIend = true
        case _ => () // ancillary chunks (tEXt, pHYs, ...) skipped
      }
      p += 12 + len
    }
    if (!sawIhdr) return null
    // IHDR dims are attacker-controlled; int products overflow for w,h
    // up to 2^31-1 (negative-size crash or a giant allocation before any
    // IDAT validation). Raster contract is null-on-corrupt, so bound the
    // long products by what a JVM array can hold before allocating.
    val strideL = w.toLong * channels
    if (strideL > Int.MaxValue - 1 || (strideL + 1) * h > Int.MaxValue - 8) return null
    val stride = strideL.toInt
    val raw = new Array[Byte]((stride + 1) * h)
    val inflater = new java.util.zip.Inflater
    inflater.setInput(idat.toByteArray)
    var got = 0
    try {
      while (got < raw.length && !inflater.finished()) {
        val n = inflater.inflate(raw, got, raw.length - got)
        // n == 0 with output space left and !finished means the stream
        // is truncated OR wants a preset dictionary (FDICT) — either way
        // undecodable; looping again would spin forever on FDICT.
        if (n == 0) return null
        got += n
      }
      if (got != raw.length || !inflater.finished()) return null
    } catch {
      case _: java.util.zip.DataFormatException => return null
    } finally inflater.end()
    val out = new Array[Byte](stride * h)
    val bpp = channels
    var y = 0
    while (y < h) {
      val ft = raw(y * (stride + 1)) & 0xff
      if (ft > 4) return null
      var j = 0
      while (j < stride) {
        val x = raw(y * (stride + 1) + 1 + j) & 0xff
        val a = if (j >= bpp) out(y * stride + j - bpp) & 0xff else 0
        val b = if (y > 0) out((y - 1) * stride + j) & 0xff else 0
        val c = if (j >= bpp && y > 0) out((y - 1) * stride + j - bpp) & 0xff else 0
        val pred = ft match {
          case 0 => 0
          case 1 => a
          case 2 => b
          case 3 => (a + b) / 2
          case 4 => paeth(a, b, c)
        }
        out(y * stride + j) = ((x + pred) & 0xff).toByte
        j += 1
      }
      y += 1
    }
    Raster(w, h, channels, 0, out)
  }

  /** Decode a kind=0 GRFT container whose payload is a PNG, or null
    * when the container/image is undecodable.
    */
  def pngOfContainer(bytes: Array[Byte]): Raster = {
    val m = meta(bytes)
    if (m.isNullAt(0) || !m.getBoolean(5) || m.getInt(3) != 0) return null
    pngDecode(bytes, HeaderLen)
  }

  // ---- real image codec #4: baseline JFIF JPEG (ITU-T T.81) ----
  // Pure-JVM baseline sequential DCT: marker segment walk, 8-bit DQT,
  // SOF0, canonical Huffman (DHT), byte-unstuffed entropy decode with
  // DRI/RST support, dequant + inverse zigzag + double-precision IDCT,
  // box chroma upsampling (h,v <= 2), JFIF YCbCr->RGB. The encoder
  // emits 4:4:4 (or single-component grayscale) with the Annex K
  // quant/Huffman tables under IJG quality scaling — at quality 100
  // every quant entry is 1, so constant 8x8 blocks round-trip EXACTLY
  // (DC = 8*(v-128) is integral; every AC term is a full-period cosine
  // sum that rounds to 0), which is what lets the q111 gate replay the
  // decode in SQL despite JPEG being lossy in general. Everything else
  // — progressive/arithmetic/12-bit/16-bit-DQT/sampling >2 — decodes
  // to null: undecodable media is data, not an error.

  private val ZigZag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  // ITU-T T.81 Annex K.1 example quantization tables (the de-facto
  // standard every encoder scales)
  private val StdLumaQuant: Array[Int] = Array(
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99)
  private val StdChromaQuant: Array[Int] = Array(
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99)

  // Annex K.3 typical Huffman tables: (BITS counts per code length
  // 1..16, HUFFVAL symbols in code order)
  private val DcLumaBits = Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val DcLumaVals = (0 to 11).map(_.toByte).toArray
  private val DcChromaBits = Array(0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
  private val DcChromaVals = (0 to 11).map(_.toByte).toArray
  private val AcLumaBits = Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d)
  private val AcLumaVals: Array[Byte] = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xa1, 0x08,
    0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0a, 0x16, 0x17, 0x18, 0x19, 0x1a, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3a, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6a, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3,
    0xa4, 0xa5, 0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6,
    0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7, 0xc8, 0xc9,
    0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1, 0xe2,
    0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf1, 0xf2, 0xf3, 0xf4,
    0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa).map(_.toByte)
  private val AcChromaBits = Array(0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77)
  private val AcChromaVals: Array[Byte] = Array(
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xa1, 0xb1, 0xc1, 0x09, 0x23, 0x33, 0x52, 0xf0, 0x15, 0x62, 0x72, 0xd1,
    0x0a, 0x16, 0x24, 0x34, 0xe1, 0x25, 0xf1, 0x17, 0x18, 0x19, 0x1a, 0x26,
    0x27, 0x28, 0x29, 0x2a, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3a, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6a, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7a, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a,
    0xa2, 0xa3, 0xa4, 0xa5, 0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4,
    0xb5, 0xb6, 0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7,
    0xc8, 0xc9, 0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda,
    0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf2, 0xf3, 0xf4,
    0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa).map(_.toByte)

  private val DctCos: Array[Double] = {
    // cos((2x+1) u pi / 16) indexed [x*8 + u]
    val t = new Array[Double](64)
    var x = 0
    while (x < 8) {
      var u = 0
      while (u < 8) {
        t(x * 8 + u) = math.cos((2 * x + 1) * u * math.Pi / 16)
        u += 1
      }
      x += 1
    }
    t
  }
  private val InvSqrt2 = 1.0 / math.sqrt(2.0)

  /** IJG quality scaling: 100 -> every entry 1 (exact for integral
    * coefficients), 50 -> the Annex K table verbatim. Input `base` is
    * in natural (row) order as printed in the spec; the returned table
    * is in ZIGZAG order — the order DQT streams, coefficients index,
    * and both codecs use internally.
    */
  private def scaleQuant(base: Array[Int], quality: Int): Array[Int] = {
    val q = math.max(1, math.min(100, quality))
    val scale = if (q < 50) 5000 / q else 200 - 2 * q
    Array.tabulate(64)(i =>
      math.max(1, math.min(255, (base(ZigZag(i)) * scale + 50) / 100)))
  }

  /** MSB-first bit accumulator with JPEG byte stuffing (0xFF -> 0xFF00). */
  private final class JpegBitWriter(out: java.io.ByteArrayOutputStream) {
    private var acc = 0
    private var nBits = 0
    def write(value: Int, bits: Int): Unit = {
      var i = bits - 1
      while (i >= 0) {
        acc = (acc << 1) | ((value >> i) & 1)
        nBits += 1
        if (nBits == 8) {
          out.write(acc)
          if (acc == 0xff) out.write(0x00)
          acc = 0; nBits = 0
        }
        i -= 1
      }
    }
    /** Pad the final partial byte with 1-bits (T.81 F.1.2.3). */
    def flush(): Unit = if (nBits > 0) { write(0xff, 8 - nBits) }
  }

  /** (code, length) per symbol from a BITS/HUFFVAL spec (canonical). */
  private def huffEncodeTable(bits: Array[Int], vals: Array[Byte]): Array[Int] = {
    // packed: table(sym) = (code << 5) | length; length <= 16, code < 2^16
    val t = new Array[Int](256)
    var code = 0
    var k = 0
    var len = 1
    while (len <= 16) {
      var i = 0
      while (i < bits(len - 1)) {
        t(vals(k) & 0xff) = (code << 5) | len
        code += 1; k += 1; i += 1
      }
      code <<= 1
      len += 1
    }
    t
  }

  private def bitCategory(v: Int): Int = {
    var cat = 0
    var a = math.abs(v)
    while (a != 0) { cat += 1; a >>= 1 }
    cat
  }

  private val InvZigZag: Array[Int] = {
    val t = new Array[Int](64)
    var i = 0
    while (i < 64) { t(ZigZag(i)) = i; i += 1 }
    t
  }

  /** Forward DCT + quantization of one 8x8 block (`block` holds
    * level-shifted samples), emitting zigzag-ordered coefficients.
    * Separable row-column evaluation: 2·8·64 multiplies per block
    * instead of the direct form's 64·64.
    */
  private def fdctQuant(block: Array[Double], quant: Array[Int]): Array[Int] = {
    // rows first: tmp(y,u) = sum_x block(y,x)·cos(x,u)
    val tmp = new Array[Double](64)
    var y = 0
    while (y < 8) {
      var u = 0
      while (u < 8) {
        var s = 0.0
        var x = 0
        while (x < 8) { s += block(y * 8 + x) * DctCos(x * 8 + u); x += 1 }
        tmp(y * 8 + u) = s
        u += 1
      }
      y += 1
    }
    val coef = new Array[Int](64)
    var v = 0
    while (v < 8) {
      var u = 0
      while (u < 8) {
        var s = 0.0
        y = 0
        while (y < 8) { s += tmp(y * 8 + u) * DctCos(y * 8 + v); y += 1 }
        val cu = if (u == 0) InvSqrt2 else 1.0
        val cv = if (v == 0) InvSqrt2 else 1.0
        val zz = InvZigZag(v * 8 + u)
        coef(zz) = math.round(s * cu * cv / 4.0 / quant(zz)).toInt
        u += 1
      }
      v += 1
    }
    coef
  }

  private def encodeBlock(bw: JpegBitWriter, coef: Array[Int], prevDc: Int,
                          dcTab: Array[Int], acTab: Array[Int]): Int = {
    val diff = coef(0) - prevDc
    val dcCat = bitCategory(diff)
    val dcCode = dcTab(dcCat)
    bw.write(dcCode >> 5, dcCode & 31)
    if (dcCat > 0)
      bw.write(if (diff < 0) diff + (1 << dcCat) - 1 else diff, dcCat)
    var lastNz = 63
    while (lastNz > 0 && coef(lastNz) == 0) lastNz -= 1
    var k = 1
    var run = 0
    while (k <= lastNz) {
      if (coef(k) == 0) run += 1
      else {
        while (run >= 16) {
          val zrl = acTab(0xf0); bw.write(zrl >> 5, zrl & 31); run -= 16
        }
        val cat = bitCategory(coef(k))
        val sym = acTab((run << 4) | cat)
        bw.write(sym >> 5, sym & 31)
        bw.write(if (coef(k) < 0) coef(k) + (1 << cat) - 1 else coef(k), cat)
        run = 0
      }
      k += 1
    }
    if (lastNz < 63) { val eob = acTab(0x00); bw.write(eob >> 5, eob & 31) }
    coef(0)
  }

  /** Encode a row-major gray (channels=1) or RGB (channels=3) raster as
    * a baseline JFIF JPEG: 4:4:4 sampling, Annex K tables at IJG
    * `quality`, optional restart interval (`restartMcus` > 0 emits DRI
    * + RSTn markers — the corruption-recovery geometry real encoders
    * ship). `quality=100` makes every quant entry 1, so any block whose
    * forward-DCT coefficients are integral round-trips exactly.
    */
  def jpegEncode(w: Int, h: Int, channels: Int, pixels: Array[Byte],
                 quality: Int = 90, restartMcus: Int = 0): Array[Byte] = {
    require(channels == 1 || channels == 3,
      s"JPEG encoder supports gray or RGB, got channels=$channels")
    require(w > 0 && h > 0, s"dimensions must be positive, got ${w}x$h")
    require(pixels.length >= w * h * channels, "raster shorter than dimensions")
    val lumaQ = scaleQuant(StdLumaQuant, quality)
    val chromaQ = scaleQuant(StdChromaQuant, quality)
    val out = new java.io.ByteArrayOutputStream
    def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
    def segment(m: Int, body: Array[Byte]): Unit = {
      marker(m)
      out.write((body.length + 2) >> 8); out.write((body.length + 2) & 0xff)
      out.write(body, 0, body.length)
    }
    marker(0xd8) // SOI
    segment(0xe0, Array[Byte]('J', 'F', 'I', 'F', 0, 1, 1, 0, 0, 1, 0, 1, 0, 0))
    def dqt(id: Int, q: Array[Int]): Unit =
      segment(0xdb, (id.toByte +: ZigZag.indices.map(i => q(i).toByte)).toArray)
    dqt(0, lumaQ)
    if (channels == 3) dqt(1, chromaQ)
    // SOF0: baseline, 8-bit, 1x1 sampling everywhere (4:4:4)
    val sofBody = new java.io.ByteArrayOutputStream
    sofBody.write(8)
    sofBody.write(h >> 8); sofBody.write(h & 0xff)
    sofBody.write(w >> 8); sofBody.write(w & 0xff)
    sofBody.write(channels)
    var c = 0
    while (c < channels) {
      sofBody.write(c + 1) // component id
      sofBody.write(0x11) // h=1, v=1
      sofBody.write(if (c == 0) 0 else 1) // quant table id
      c += 1
    }
    segment(0xc0, sofBody.toByteArray)
    def dht(clazz: Int, id: Int, bits: Array[Int], vals: Array[Byte]): Unit =
      segment(0xc4, (((clazz << 4) | id).toByte +: bits.map(_.toByte)) ++ vals)
    dht(0, 0, DcLumaBits, DcLumaVals)
    dht(1, 0, AcLumaBits, AcLumaVals)
    if (channels == 3) {
      dht(0, 1, DcChromaBits, DcChromaVals)
      dht(1, 1, AcChromaBits, AcChromaVals)
    }
    if (restartMcus > 0)
      segment(0xdd, Array[Byte]((restartMcus >> 8).toByte, (restartMcus & 0xff).toByte))
    val sosBody = new java.io.ByteArrayOutputStream
    sosBody.write(channels)
    c = 0
    while (c < channels) {
      sosBody.write(c + 1)
      sosBody.write(if (c == 0) 0x00 else 0x11) // DC/AC table ids
      c += 1
    }
    sosBody.write(0); sosBody.write(63); sosBody.write(0) // Ss, Se, Ah/Al
    segment(0xda, sosBody.toByteArray)
    // entropy-coded data: 4:4:4 MCU = one 8x8 block per component
    val dcLumaT = huffEncodeTable(DcLumaBits, DcLumaVals)
    val acLumaT = huffEncodeTable(AcLumaBits, AcLumaVals)
    val dcChromaT = huffEncodeTable(DcChromaBits, DcChromaVals)
    val acChromaT = huffEncodeTable(AcChromaBits, AcChromaVals)
    val mcusX = (w + 7) / 8
    val mcusY = (h + 7) / 8
    var bw = new JpegBitWriter(out)
    val prevDc = new Array[Int](channels)
    val block = new Array[Double](64)
    var mcu = 0
    var rstIdx = 0
    var my = 0
    while (my < mcusY) {
      var mx = 0
      while (mx < mcusX) {
        if (restartMcus > 0 && mcu > 0 && mcu % restartMcus == 0) {
          bw.flush()
          marker(0xd0 + rstIdx)
          rstIdx = (rstIdx + 1) % 8
          java.util.Arrays.fill(prevDc, 0)
          bw = new JpegBitWriter(out)
        }
        c = 0
        while (c < channels) {
          var by = 0
          while (by < 8) {
            var bx = 0
            while (bx < 8) {
              // edge-replicated padding for partial boundary blocks
              val px = math.min(mx * 8 + bx, w - 1)
              val py = math.min(my * 8 + by, h - 1)
              val v =
                if (channels == 1) pixels(py * w + px) & 0xff
                else {
                  val r = pixels((py * w + px) * 3) & 0xff
                  val g = pixels((py * w + px) * 3 + 1) & 0xff
                  val b = pixels((py * w + px) * 3 + 2) & 0xff
                  val d = c match {
                    case 0 => 0.299 * r + 0.587 * g + 0.114 * b
                    case 1 => -0.168736 * r - 0.331264 * g + 0.5 * b + 128
                    case _ => 0.5 * r - 0.418688 * g - 0.081312 * b + 128
                  }
                  math.max(0, math.min(255, math.round(d).toInt))
                }
              block(by * 8 + bx) = v - 128.0
              bx += 1
            }
            by += 1
          }
          val coef = fdctQuant(block, if (c == 0) lumaQ else chromaQ)
          prevDc(c) = encodeBlock(bw, coef, prevDc(c),
            if (c == 0) dcLumaT else dcChromaT,
            if (c == 0) acLumaT else acChromaT)
          c += 1
        }
        mcu += 1
        mx += 1
      }
      my += 1
    }
    bw.flush()
    marker(0xd9) // EOI
    out.toByteArray
  }

  // Canonical Huffman DECODE table (T.81 F.2.2.3): per code length,
  // the smallest/largest code and the HUFFVAL index of the smallest.
  private final class JpegHuffTable(bits: Array[Int], val vals: Array[Byte]) {
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17)
    val valPtr = new Array[Int](17)
    locally {
      var code = 0
      var k = 0
      var len = 1
      while (len <= 16) {
        if (bits(len - 1) == 0) { maxCode(len) = -1 }
        else {
          valPtr(len) = k
          minCode(len) = code
          code += bits(len - 1); k += bits(len - 1)
          maxCode(len) = code - 1
        }
        code <<= 1
        len += 1
      }
    }
  }

  private final class JpegDecodeError extends RuntimeException("jpeg", null, false, false)

  /** Entropy-segment bit reader: unstuffs 0xFF00, stops at any real
    * marker (position left ON the 0xFF).
    */
  private final class JpegBitReader(bytes: Array[Byte], var pos: Int, limit: Int) {
    private var acc = 0
    private var nBits = 0
    def align(): Unit = { acc = 0; nBits = 0 }
    def readBit(): Int = {
      if (nBits == 0) {
        if (pos >= limit) throw new JpegDecodeError
        val b = bytes(pos) & 0xff
        if (b == 0xff) {
          if (pos + 1 >= limit) throw new JpegDecodeError
          val b2 = bytes(pos + 1) & 0xff
          if (b2 != 0x00) throw new JpegDecodeError // marker mid-coefficient
          pos += 2
        } else pos += 1
        acc = b; nBits = 8
      }
      nBits -= 1
      (acc >> nBits) & 1
    }
    def readBits(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | readBit(); i += 1 }
      v
    }
    def decodeHuff(t: JpegHuffTable): Int = {
      var code = readBit()
      var len = 1
      while (len <= 16) {
        if (t.maxCode(len) >= 0 && code <= t.maxCode(len))
          return t.vals(t.valPtr(len) + code - t.minCode(len)) & 0xff
        code = (code << 1) | readBit()
        len += 1
      }
      throw new JpegDecodeError
    }
    /** T.81 F.2.2.1 EXTEND: sign-extend a magnitude-category value. */
    def receiveExtend(cat: Int): Int = {
      if (cat == 0) return 0
      val v = readBits(cat)
      if (v < (1 << (cat - 1))) v - (1 << cat) + 1 else v
    }
  }

  private def idctBlock(coef: Array[Int], quant: Array[Int],
                        plane: Array[Byte], planeW: Int, px: Int, py: Int,
                        planeH: Int): Unit = {
    // dequant + inverse zigzag + fold in the C(u)C(v) normalization;
    // then separable row-column IDCT (2·8·64 multiplies per block)
    val g = new Array[Double](64)
    var i = 0
    while (i < 64) {
      val zz = ZigZag(i)
      val u = zz & 7
      val v = zz >> 3
      val cu = if (u == 0) InvSqrt2 else 1.0
      val cv = if (v == 0) InvSqrt2 else 1.0
      g(zz) = cu * cv * coef(i).toDouble * quant(i)
      i += 1
    }
    // tmp(x,v) = sum_u g(v,u)·cos(x,u)
    val tmp = new Array[Double](64)
    var v = 0
    while (v < 8) {
      var x = 0
      while (x < 8) {
        var s = 0.0
        var u = 0
        while (u < 8) { s += g(v * 8 + u) * DctCos(x * 8 + u); u += 1 }
        tmp(x * 8 + v) = s
        x += 1
      }
      v += 1
    }
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var s = 0.0
        v = 0
        while (v < 8) { s += tmp(x * 8 + v) * DctCos(y * 8 + v); v += 1 }
        val ox = px + x
        val oy = py + y
        if (ox < planeW && oy < planeH) {
          val sv = math.round(s / 4.0 + 128.0).toInt
          plane(oy * planeW + ox) = math.max(0, math.min(255, sv)).toByte
        }
        x += 1
      }
      y += 1
    }
  }

  /** Decode a baseline JFIF payload at `off` into a top-down gray or
    * RGB [[Raster]]; null for progressive/arithmetic/12-bit streams,
    * sampling factors above 2, 16-bit quant tables, or any truncated /
    * corrupt structure.
    */
  def jpegDecode(bytes: Array[Byte], off: Int): Raster = {
    try jpegDecodeOrThrow(bytes, off)
    catch { case _: JpegDecodeError | _: ArrayIndexOutOfBoundsException => null }
  }

  private def jpegDecodeOrThrow(bytes: Array[Byte], off: Int): Raster = {
    if (bytes == null || bytes.length < off + 4) return null
    if ((bytes(off) & 0xff) != 0xff || (bytes(off + 1) & 0xff) != 0xd8) return null
    val quant = new Array[Array[Int]](4)
    val dcTabs = new Array[JpegHuffTable](4)
    val acTabs = new Array[JpegHuffTable](4)
    var w = 0; var h = 0
    var nComp = 0
    // per component: id, hSamp, vSamp, quantId, dcId, acId
    val compH = new Array[Int](3); val compV = new Array[Int](3)
    val compQ = new Array[Int](3); val compId = new Array[Int](3)
    val compDc = new Array[Int](3); val compAc = new Array[Int](3)
    var restartInterval = 0
    var p = off + 2
    def u16(at: Int): Int = ((bytes(at) & 0xff) << 8) | (bytes(at + 1) & 0xff)
    while (p + 4 <= bytes.length) {
      if ((bytes(p) & 0xff) != 0xff) return null
      val m = bytes(p + 1) & 0xff
      if (m == 0xd9) return null // EOI before SOS
      val segLen = u16(p + 2)
      if (segLen < 2 || p + 2 + segLen > bytes.length) return null
      val body = p + 4
      val bodyLen = segLen - 2
      m match {
        case 0xdb => // DQT: one or more tables
          var q = body
          while (q < body + bodyLen) {
            val pq = (bytes(q) & 0xff) >> 4
            val tq = bytes(q) & 0x0f
            if (pq != 0 || tq > 3 || q + 65 > body + bodyLen) return null
            quant(tq) = Array.tabulate(64)(i => bytes(q + 1 + i) & 0xff)
            q += 65
          }
        case 0xc4 => // DHT: one or more tables
          var q = body
          while (q < body + bodyLen) {
            val tc = (bytes(q) & 0xff) >> 4
            val th = bytes(q) & 0x0f
            if (tc > 1 || th > 3 || q + 17 > body + bodyLen) return null
            val bits = Array.tabulate(16)(i => bytes(q + 1 + i) & 0xff)
            val n = bits.sum
            if (n == 0 || n > 256 || q + 17 + n > body + bodyLen) return null
            val vals = java.util.Arrays.copyOfRange(bytes, q + 17, q + 17 + n)
            val t = new JpegHuffTable(bits, vals)
            if (tc == 0) dcTabs(th) = t else acTabs(th) = t
            q += 17 + n
          }
        case 0xc0 | 0xc1 => // SOF0/1 (baseline + extended sequential)
          if ((bytes(body) & 0xff) != 8) return null // 8-bit precision only
          h = u16(body + 1); w = u16(body + 3)
          nComp = bytes(body + 5) & 0xff
          if (w <= 0 || h <= 0 || (nComp != 1 && nComp != 3)) return null
          var c = 0
          while (c < nComp) {
            compId(c) = bytes(body + 6 + c * 3) & 0xff
            val hv = bytes(body + 7 + c * 3) & 0xff
            compH(c) = hv >> 4; compV(c) = hv & 0x0f
            compQ(c) = bytes(body + 8 + c * 3) & 0xff
            if (compH(c) < 1 || compH(c) > 2 || compV(c) < 1 || compV(c) > 2 ||
              compQ(c) > 3) return null
            c += 1
          }
        case 0xc2 | 0xc3 | 0xc5 | 0xc6 | 0xc7 | 0xc9 | 0xca | 0xcb | 0xcd |
            0xce | 0xcf =>
          return null // progressive / arithmetic / hierarchical
        case 0xdd =>
          if (bodyLen < 2) return null
          restartInterval = u16(body)
        case 0xda => // SOS: scan header then entropy data
          if (w == 0 || nComp == 0) return null
          val ns = bytes(body) & 0xff
          if (ns != nComp) return null // interleaved single-scan only
          var c = 0
          while (c < ns) {
            val cid = bytes(body + 1 + c * 2) & 0xff
            val tt = bytes(body + 2 + c * 2) & 0xff
            val idx = compId.indexOf(cid)
            if (idx < 0 || idx >= nComp) return null
            compDc(idx) = tt >> 4; compAc(idx) = tt & 0x0f
            c += 1
          }
          return decodeScan(bytes, body + 1 + ns * 2 + 3, w, h, nComp,
            compH, compV, compQ, compDc, compAc, quant, dcTabs, acTabs,
            restartInterval)
        case _ => () // APPn / COM / unknown: skip
      }
      p += 2 + segLen
    }
    null
  }

  private def decodeScan(bytes: Array[Byte], scanStart: Int, w: Int, h: Int,
                         nComp: Int, compH: Array[Int], compV: Array[Int],
                         compQ: Array[Int], compDc: Array[Int], compAc: Array[Int],
                         quant: Array[Array[Int]], dcTabs: Array[JpegHuffTable],
                         acTabs: Array[JpegHuffTable],
                         restartInterval: Int): Raster = {
    val hMax = (0 until nComp).map(compH).max
    val vMax = (0 until nComp).map(compV).max
    val mcusX = (w + 8 * hMax - 1) / (8 * hMax)
    val mcusY = (h + 8 * vMax - 1) / (8 * vMax)
    // per-component plane sized to whole MCU coverage
    val planeW = new Array[Int](nComp)
    val planeH = new Array[Int](nComp)
    val planes = new Array[Array[Byte]](nComp)
    var c = 0
    while (c < nComp) {
      if (quant(compQ(c)) == null || dcTabs(compDc(c)) == null ||
        acTabs(compAc(c)) == null) return null
      planeW(c) = mcusX * compH(c) * 8
      planeH(c) = mcusY * compV(c) * 8
      planes(c) = new Array[Byte](planeW(c) * planeH(c))
      c += 1
    }
    val br = new JpegBitReader(bytes, scanStart, bytes.length)
    val prevDc = new Array[Int](nComp)
    val coef = new Array[Int](64)
    var mcu = 0
    var my = 0
    while (my < mcusY) {
      var mx = 0
      while (mx < mcusX) {
        if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
          // byte-align and consume the RSTn marker
          br.align()
          if (br.pos + 1 >= bytes.length) throw new JpegDecodeError
          if ((bytes(br.pos) & 0xff) != 0xff) throw new JpegDecodeError
          val rm = bytes(br.pos + 1) & 0xff
          if (rm < 0xd0 || rm > 0xd7) throw new JpegDecodeError
          br.pos += 2
          java.util.Arrays.fill(prevDc, 0)
        }
        c = 0
        while (c < nComp) {
          var by = 0
          while (by < compV(c)) {
            var bx = 0
            while (bx < compH(c)) {
              java.util.Arrays.fill(coef, 0)
              val dcSym = br.decodeHuff(dcTabs(compDc(c)))
              if (dcSym > 15) throw new JpegDecodeError
              prevDc(c) += br.receiveExtend(dcSym)
              coef(0) = prevDc(c)
              var k = 1
              var done = false
              while (!done && k < 64) {
                val rs = br.decodeHuff(acTabs(compAc(c)))
                val run = rs >> 4
                val cat = rs & 0x0f
                if (cat == 0) {
                  if (run == 15) k += 16 // ZRL
                  else done = true // EOB
                } else {
                  k += run
                  if (k > 63) throw new JpegDecodeError
                  coef(k) = br.receiveExtend(cat)
                  k += 1
                }
              }
              idctBlock(coef, quant(compQ(c)), planes(c), planeW(c),
                (mx * compH(c) + bx) * 8, (my * compV(c) + by) * 8, planeH(c))
              bx += 1
            }
            by += 1
          }
          c += 1
        }
        mcu += 1
        mx += 1
      }
      my += 1
    }
    // compose the output raster: box upsampling via integer coordinate
    // scaling per component
    if (nComp == 1) {
      val outData = new Array[Byte](w * h)
      var y = 0
      while (y < h) {
        System.arraycopy(planes(0), y * planeW(0), outData, y * w, w)
        y += 1
      }
      Raster(w, h, 1, 0, outData)
    } else {
      val outData = new Array[Byte](w * h * 3)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val yy = planes(0)((y * compV(0) / vMax) * planeW(0) + x * compH(0) / hMax) & 0xff
          val cb = (planes(1)((y * compV(1) / vMax) * planeW(1) + x * compH(1) / hMax) & 0xff) - 128
          val cr = (planes(2)((y * compV(2) / vMax) * planeW(2) + x * compH(2) / hMax) & 0xff) - 128
          val o = (y * w + x) * 3
          outData(o) = clamp255(math.round(yy + 1.402 * cr).toInt)
          outData(o + 1) = clamp255(math.round(yy - 0.344136 * cb - 0.714136 * cr).toInt)
          outData(o + 2) = clamp255(math.round(yy + 1.772 * cb).toInt)
          x += 1
        }
        y += 1
      }
      Raster(w, h, 3, 0, outData)
    }
  }

  private def clamp255(v: Int): Byte = math.max(0, math.min(255, v)).toByte

  /** Decode a kind=0 GRFT container whose payload is a baseline JPEG,
    * or null when the container/image is undecodable.
    */
  def jpegOfContainer(bytes: Array[Byte]): Raster = {
    val m = meta(bytes)
    if (m.isNullAt(0) || !m.getBoolean(5) || m.getInt(3) != 0) return null
    jpegDecode(bytes, HeaderLen)
  }

  // ---- real audio codec: RIFF/WAVE 16-bit PCM ----
  // The audio counterpart of the PNM/BMP paths: canonical RIFF
  // container ("RIFF" u32 size "WAVE"), chunk walk with even-byte
  // padding, "fmt " chunk (PCM format 1, 16-bit samples, 1-8
  // channels), "data" chunk of little-endian interleaved frames.
  // Anything else — compressed formats, 8/24/32-bit samples, a data
  // chunk before fmt — decodes to null: undecodable media is data,
  // not an error.

  /** Decoded WAV view: `offset` = start of sample data in `bytes`,
    * `nFrames` = per-channel frame count.
    */
  final case class Wav(sampleRate: Int, channels: Int, offset: Int,
                       nFrames: Int, bytes: Array[Byte])

  /** Encode interleaved 16-bit frames as a canonical 44-byte-header
    * PCM WAV (the form every audio tool accepts).
    */
  def wavEncode(sampleRate: Int, channels: Int, samples: Array[Short]): Array[Byte] = {
    require(sampleRate > 0, s"sample rate must be positive, got $sampleRate")
    require(channels >= 1 && channels <= 8, s"WAV channels must be 1-8, got $channels")
    require(samples.length % channels == 0,
      s"${samples.length} samples do not tile ${channels}-channel frames")
    val dataSize = samples.length * 2
    val b = ByteBuffer.allocate(44 + dataSize).order(ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("ASCII"))
    b.put("fmt ".getBytes("ASCII")).putInt(16)
      .putShort(1).putShort(channels.toShort).putInt(sampleRate)
      .putInt(sampleRate * channels * 2) // byte rate
      .putShort((channels * 2).toShort).putShort(16) // block align, bits
    b.put("data".getBytes("ASCII")).putInt(dataSize)
    var i = 0
    while (i < samples.length) { b.putShort(samples(i)); i += 1 }
    b.array()
  }

  private def chunkId(b: Array[Byte], off: Int, id: String): Boolean =
    b(off) == id.charAt(0) && b(off + 1) == id.charAt(1) &&
      b(off + 2) == id.charAt(2) && b(off + 3) == id.charAt(3)

  /** Parse a 16-bit PCM WAV payload starting at `off` (proper chunk
    * walk: unknown chunks — LIST, fact, cue — are skipped with the
    * RIFF even-byte pad; fmt must precede data per spec). Null for any
    * other configuration.
    */
  def wavDecode(bytes: Array[Byte], off: Int): Wav = {
    if (bytes == null || bytes.length < off + 12) return null
    if (!chunkId(bytes, off, "RIFF") || !chunkId(bytes, off + 8, "WAVE")) return null
    var p = off + 12
    var fmtSeen = false
    var channels = 0
    var sampleRate = 0
    while (p + 8 <= bytes.length) {
      val size = i32le(bytes, p + 4)
      val body = p + 8
      if (size < 0 || size > bytes.length - body) return null
      if (chunkId(bytes, p, "fmt ")) {
        if (size < 16) return null
        if (u16le(bytes, body) != 1) return null // PCM only
        channels = u16le(bytes, body + 2)
        sampleRate = i32le(bytes, body + 4)
        if (u16le(bytes, body + 14) != 16) return null // 16-bit only
        if (channels < 1 || channels > 8 || sampleRate <= 0) return null
        fmtSeen = true
      } else if (chunkId(bytes, p, "data")) {
        if (!fmtSeen) return null
        return Wav(sampleRate, channels, body, size / (2 * channels), bytes)
      }
      p = body + size + (size & 1) // chunks are word-aligned
    }
    null
  }

  /** Decode a kind=1 GRFT container whose payload is a PCM WAV, or
    * null when the container/audio is undecodable.
    */
  def wavOfContainer(bytes: Array[Byte]): Wav = {
    val m = meta(bytes)
    if (m.isNullAt(0) || !m.getBoolean(5) || m.getInt(3) != 1) return null
    wavDecode(bytes, HeaderLen)
  }

  val audioSchema: StructType = StructType(Seq(
    StructField("sample_rate", IntegerType), StructField("channels", IntegerType),
    StructField("n_frames", LongType), StructField("sample_checksum", LongType),
    StructField("mean_sample", DoubleType), StructField("peak", IntegerType)))

  /** REAL sample statistics over the decoded audio of a kind=1 WAV
    * container — rate/channels from the fmt chunk, checksum, mean and
    * peak (max |sample|) over the actual signed 16-bit samples
    * (all-null fields when undecodable).
    */
  def samples(bytes: Array[Byte]): InternalRow = {
    val wav = wavOfContainer(bytes)
    if (wav == null) return InternalRow(null, null, null, null, null, null)
    val n = wav.nFrames * wav.channels
    var sum = 0L
    var peak = 0
    var i = 0
    while (i < n) {
      val s = (u16le(wav.bytes, wav.offset + 2 * i) << 16) >> 16 // sign-extend
      sum += s
      val a = if (s < 0) -s else s
      if (a > peak) peak = a
      i += 1
    }
    InternalRow(wav.sampleRate, wav.channels, wav.nFrames.toLong, sum,
      if (n == 0) 0.0 else sum.toDouble / n, peak)
  }

  /** 64-bit perceptual video hash of a kind=2 AVI container: the
    * image [[ahash]] grid applied to the DECODED RGB raster of the
    * temporally-CENTER frame (`nFrames/2` — the canonical keyframe
    * proxy; whole-video aggregation would let any one frame flip the
    * mean). Same strict integer arithmetic, null when undecodable.
    * Completes the text/image/audio/video signature set over one
    * [[graft.operators.TextDedup.hammingPairs64]] miner.
    */
  def vhash(bytes: Array[Byte]): Any = {
    if (bytes == null) return null
    val avi = aviOfContainer(bytes)
    if (avi == null || avi.nFrames <= 0 || avi.width <= 0 || avi.height <= 0)
      return null
    val frame = aviFrameRgb(avi, avi.nFrames / 2)
    val g = new Array[Long](64)
    var t = 0L
    var r = 0
    while (r < 8) {
      val y = r * avi.height / 8
      var c = 0
      while (c < 8) {
        val x = c * avi.width / 8
        val base = (y * avi.width + x) * 3
        val s = (frame(base) & 0xff).toLong + (frame(base + 1) & 0xff) +
          (frame(base + 2) & 0xff)
        g(r * 8 + c) = s
        t += s
        c += 1
      }
      r += 1
    }
    var h = 0L
    var j = 0
    while (j < 64) { if (64L * g(j) > t) h |= (1L << j); j += 1 }
    java.lang.Long.valueOf(h)
  }

  /** 64-bit audio fingerprint over the DECODED samples of a kind=1
    * PCM WAV container: 65 channel-0 sample points at
    * `i_t = t·n/65` (integer division, nearest-neighbour like the
    * image hash), bit j set iff `s(i_{j+1}) > s(i_j)` strictly — the
    * sign-of-derivative hash (the Haitsma–Kalker family's time-domain
    * core without the filterbank), integer-exact on any engine. A
    * re-encoded / slightly re-leveled copy keeps most derivative
    * signs, so [[TextDedup.hammingPairs64]] mines near-duplicate
    * audio exactly like text/image signatures. Null when undecodable
    * or empty.
    */
  def afp(bytes: Array[Byte]): Any = {
    if (bytes == null) return null
    val wav = wavOfContainer(bytes)
    if (wav == null || wav.nFrames <= 0) return null
    val n = wav.nFrames
    def sAt(i: Long): Int = {
      val idx = wav.offset + 2 * i * wav.channels
      (u16le(wav.bytes, idx.toInt) << 16) >> 16
    }
    var h = 0L
    var j = 0
    while (j < 64) {
      val a = sAt(j.toLong * n / 65)
      val b = sAt((j + 1).toLong * n / 65)
      if (b > a) h |= (1L << j)
      j += 1
    }
    java.lang.Long.valueOf(h)
  }

  /** 64-bit ENVELOPE hash over the decoded samples of a kind=1 PCM
    * WAV container — the audio analogue of the image [[ahash]] mean
    * compare, which is what near-dup MINING wants (where [[afp]]'s
    * derivative signs identify a recording, they flip too easily
    * under byte-level edits to band-collide — measured: zero banded
    * pairs at any useful hamming radius on the test corpus, vs the
    * mean-compare's image-like pair yield). 64 DISTINCT channel-0
    * sample points at `i_j = j·n/64` (integer division,
    * nearest-neighbour — mirroring [[afp]]'s 65-point sampling and
    * the image [[ahash]]'s 64 distinct grid samples, so hamming
    * distances take every value in 0..64 and all four 16-bit bands
    * carry independent signal), bit j set iff `64·s(i_j) > Σs` — the
    * strict integer mean compare on SIGNED samples (any fixed DC
    * shift cancels algebraically: 64·(s+d) > Σs+64d ⟺ 64·s > Σs, so
    * re-leveled copies hash identically). Null when undecodable.
    */
  def aenv(bytes: Array[Byte]): Any = {
    if (bytes == null) return null
    val wav = wavOfContainer(bytes)
    if (wav == null || wav.nFrames <= 0) return null
    val n = wav.nFrames
    def sAt(i: Long): Long = {
      val idx = wav.offset + 2 * i * wav.channels
      ((u16le(wav.bytes, idx.toInt) << 16) >> 16).toLong
    }
    val g = new Array[Long](64)
    var t = 0L
    var c = 0
    while (c < 64) { g(c) = sAt(c.toLong * n / 64); t += g(c); c += 1 }
    var h = 0L
    var j = 0
    while (j < 64) { if (64L * g(j) > t) h |= (1L << j); j += 1 }
    java.lang.Long.valueOf(h)
  }

  // ---- real video codec: uncompressed 24-bit AVI (RIFF, DIB frames) ----
  // The video counterpart of the PNM/BMP/WAV paths, and the third use
  // of the same two primitives: the RIFF chunk walk (WAV) over DIB
  // rasters (BMP). Canonical layout: "RIFF" size "AVI ", LIST hdrl
  // (avih main header + LIST strl with a 'vids' strh and a
  // BITMAPINFOHEADER strf), LIST movi of '00db'/'00dc' frame chunks —
  // each frame a 24-bit BI_RGB raster with 4-byte row padding,
  // bottom-up (positive strf height) or top-down (negative), BGR
  // sample order. Anything else — compressed streams, paletted or
  // 16/32-bit frames, movi before hdrl — decodes to null: undecodable
  // media is data, not an error.

  /** Decoded AVI view: `frameOffsets(i)` = start of frame i's DIB
    * raster in `bytes`; `usPerFrame` = avih frame interval.
    */
  final case class Avi(width: Int, height: Int, usPerFrame: Int,
                       topDown: Boolean, frameOffsets: Array[Int],
                       bytes: Array[Byte]) {
    def nFrames: Int = frameOffsets.length
  }

  /** Encode row-major top-down RGB frames (each width×height×3 bytes)
    * as a canonical single-stream 24-bit BI_RGB AVI (bottom-up DIB
    * frames, the form every player and ffmpeg accept).
    */
  def aviEncode(w: Int, h: Int, usPerFrame: Int,
                frames: Array[Array[Byte]]): Array[Byte] = {
    require(w > 0 && h > 0, s"frame dims must be positive, got ${w}x$h")
    require(usPerFrame > 0, s"frame interval must be positive, got $usPerFrame")
    frames.foreach(f => require(f.length >= w * h * 3,
      "frame raster shorter than dimensions"))
    val stride = bmpRowStride(w)
    val frameBytes = stride * h
    val moviSize = 4 + frames.length * (8 + frameBytes)
    val hdrlSize = 4 + (8 + 56) + (8 + 4 + (8 + 56) + (8 + 40))
    val riffSize = 4 + (8 + hdrlSize) + (8 + moviSize)
    val b = ByteBuffer.allocate(8 + riffSize).order(ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("ASCII")).putInt(riffSize).put("AVI ".getBytes("ASCII"))
    b.put("LIST".getBytes("ASCII")).putInt(hdrlSize).put("hdrl".getBytes("ASCII"))
    b.put("avih".getBytes("ASCII")).putInt(56)
      .putInt(usPerFrame).putInt(0).putInt(0).putInt(0) // us/frame, rate, pad, flags
      .putInt(frames.length).putInt(0).putInt(1).putInt(frameBytes) // total, initial, streams, bufsize
      .putInt(w).putInt(h).putInt(0).putInt(0).putInt(0).putInt(0) // dims + reserved
    b.put("LIST".getBytes("ASCII")).putInt(4 + 64 + 48).put("strl".getBytes("ASCII"))
    b.put("strh".getBytes("ASCII")).putInt(56)
      .put("vids".getBytes("ASCII")).put("DIB ".getBytes("ASCII"))
      .putInt(0).putShort(0).putShort(0).putInt(0) // flags, priority, language, initial
      .putInt(usPerFrame).putInt(1000000) // scale/rate = frame interval
      .putInt(0).putInt(frames.length).putInt(frameBytes).putInt(-1).putInt(0) // start, length, bufsize, quality, samplesize
      .putShort(0).putShort(0).putShort(w.toShort).putShort(h.toShort) // rcFrame
    b.put("strf".getBytes("ASCII")).putInt(40)
    b.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .putInt(0).putInt(frameBytes).putInt(2835).putInt(2835).putInt(0).putInt(0)
    b.put("LIST".getBytes("ASCII")).putInt(moviSize).put("movi".getBytes("ASCII"))
    val out = b.array()
    var pos = out.length - frames.length * (8 + frameBytes)
    var i = 0
    while (i < frames.length) {
      out(pos) = '0'; out(pos + 1) = '0'; out(pos + 2) = 'd'; out(pos + 3) = 'b'
      out(pos + 4) = (frameBytes & 0xff).toByte
      out(pos + 5) = ((frameBytes >> 8) & 0xff).toByte
      out(pos + 6) = ((frameBytes >> 16) & 0xff).toByte
      out(pos + 7) = ((frameBytes >> 24) & 0xff).toByte
      val pix = frames(i)
      var y = 0
      while (y < h) {
        val src = (h - 1 - y) * w * 3 // bottom-up rows
        val dst = pos + 8 + y * stride
        var x = 0
        while (x < w) {
          out(dst + x * 3) = pix(src + x * 3 + 2)     // B
          out(dst + x * 3 + 1) = pix(src + x * 3 + 1) // G
          out(dst + x * 3 + 2) = pix(src + x * 3)     // R
          x += 1
        }
        y += 1
      }
      pos += 8 + frameBytes
      i += 1
    }
    out
  }

  /** Parse an uncompressed 24-bit AVI starting at `off`; null for any
    * other configuration. hdrl must precede movi (per spec), the strf
    * raster must match the avih dims, and every frame chunk must hold
    * exactly one stride-padded raster.
    */
  def aviDecode(bytes: Array[Byte], off: Int): Avi = {
    if (bytes == null || bytes.length < off + 12) return null
    if (!chunkId(bytes, off, "RIFF") || !chunkId(bytes, off + 8, "AVI ")) return null
    val riffSize = i32le(bytes, off + 4)
    if (riffSize < 4 || riffSize > bytes.length - off - 8) return null
    val end = off + 8 + riffSize
    var w = 0; var h = 0; var usPerFrame = 0
    var topDown = false; var fmtOk = false
    var frameOffsets: Array[Int] = null
    var nFrames = 0
    var p = off + 12
    while (p + 8 <= end) {
      val size = i32le(bytes, p + 4)
      val body = p + 8
      if (size < 0 || size > end - body) return null
      if (chunkId(bytes, p, "LIST") && size >= 4) {
        if (chunkId(bytes, body, "hdrl")) {
          var q = body + 4
          val hEnd = body + size
          while (q + 8 <= hEnd) {
            val s2 = i32le(bytes, q + 4); val b2 = q + 8
            if (s2 < 0 || s2 > hEnd - b2) return null
            if (chunkId(bytes, q, "avih") && s2 >= 40) {
              usPerFrame = i32le(bytes, b2)
              w = i32le(bytes, b2 + 32)
              h = i32le(bytes, b2 + 36)
            } else if (chunkId(bytes, q, "LIST") && s2 >= 4 &&
                chunkId(bytes, b2, "strl")) {
              var r = b2 + 4
              val sEnd = b2 + s2
              while (r + 8 <= sEnd) {
                val s3 = i32le(bytes, r + 4); val b3 = r + 8
                if (s3 < 0 || s3 > sEnd - b3) return null
                if (chunkId(bytes, r, "strf") && s3 >= 40) {
                  val bcH = i32le(bytes, b3 + 8)
                  topDown = bcH < 0
                  fmtOk = i32le(bytes, b3 + 4) == w &&
                    (if (topDown) -bcH else bcH) == h &&
                    u16le(bytes, b3 + 12) == 1 && // planes
                    u16le(bytes, b3 + 14) == 24 && // bitCount
                    i32le(bytes, b3 + 16) == 0 // BI_RGB only
                }
                r = b3 + s3 + (s3 & 1)
              }
            }
            q = b2 + s2 + (s2 & 1)
          }
        } else if (chunkId(bytes, body, "movi")) {
          // hdrl must already have declared a decodable stream
          if (!fmtOk || w <= 0 || h <= 0 || w > 0xffff || h > 0xffff) return null
          val stride = bmpRowStride(w)
          if (frameOffsets == null) frameOffsets = new Array[Int](size / (8 + stride * h) + 1)
          var q = body + 4
          val mEnd = body + size
          while (q + 8 <= mEnd) {
            val s2 = i32le(bytes, q + 4); val b2 = q + 8
            if (s2 < 0 || s2 > mEnd - b2) return null
            if (chunkId(bytes, q, "00db") || chunkId(bytes, q, "00dc")) {
              if (s2 != stride * h) return null // one full raster per frame
              frameOffsets(nFrames) = b2
              nFrames += 1
            }
            q = b2 + s2 + (s2 & 1)
          }
        }
      }
      p = body + size + (size & 1)
    }
    if (!fmtOk || frameOffsets == null) return null
    Avi(w, h, usPerFrame, topDown, java.util.Arrays.copyOf(frameOffsets, nFrames), bytes)
  }

  /** Decode a kind=2 GRFT container whose payload is an uncompressed
    * AVI, or null when the container/video is undecodable.
    */
  def aviOfContainer(bytes: Array[Byte]): Avi = {
    val m = meta(bytes)
    if (m.isNullAt(0) || !m.getBoolean(5) || m.getInt(3) != 2) return null
    aviDecode(bytes, HeaderLen)
  }

  /** Frame `idx` of a decoded AVI as a row-major top-down RGB raster
    * (BGR + padding + row order normalized away, same as [[bmpDecode]]).
    */
  def aviFrameRgb(avi: Avi, idx: Int): Array[Byte] = {
    val w = avi.width; val h = avi.height
    val stride = bmpRowStride(w)
    val base = avi.frameOffsets(idx)
    val out = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      val srcRow = if (avi.topDown) y else h - 1 - y
      val src = base + srcRow * stride
      val dst = y * w * 3
      var x = 0
      while (x < w) {
        out(dst + x * 3) = avi.bytes(src + x * 3 + 2)     // R
        out(dst + x * 3 + 1) = avi.bytes(src + x * 3 + 1) // G
        out(dst + x * 3 + 2) = avi.bytes(src + x * 3)     // B
        x += 1
      }
      y += 1
    }
    out
  }

  val videoSchema: StructType = StructType(Seq(
    StructField("width", IntegerType), StructField("height", IntegerType),
    StructField("channels", IntegerType), StructField("n_frames", LongType),
    StructField("pix_checksum", LongType), StructField("mean_pixel", DoubleType)))

  /** REAL pixel statistics over every decoded frame of a kind=2 AVI
    * container — dims from the stream header, checksum and mean over
    * the actual RGB samples of all frames (all-null fields when
    * undecodable).
    */
  def video(bytes: Array[Byte]): InternalRow = {
    val avi = aviOfContainer(bytes)
    if (avi == null) return InternalRow(null, null, null, null, null, null)
    val w = avi.width; val h = avi.height
    val stride = bmpRowStride(w)
    var sum = 0L
    var f = 0
    while (f < avi.nFrames) {
      val base = avi.frameOffsets(f)
      var y = 0
      while (y < h) {
        var i = base + y * stride
        val rowEnd = i + w * 3 // padding bytes excluded from the stats
        while (i < rowEnd) { sum += (avi.bytes(i) & 0xff); i += 1 }
        y += 1
      }
      f += 1
    }
    val n = avi.nFrames.toLong * w * h * 3
    InternalRow(w, h, 3, avi.nFrames.toLong, sum,
      if (n == 0) 0.0 else sum.toDouble / n)
  }

  val imageSchema: StructType = StructType(Seq(
    StructField("width", IntegerType), StructField("height", IntegerType),
    StructField("channels", IntegerType), StructField("n_pixels", LongType),
    StructField("pix_checksum", LongType), StructField("mean_pixel", DoubleType)))

  /** The one image-family dispatch: decoded raster of a kind=0
    * container through every pure-JVM codec (PNM → BMP → PNG → JPEG),
    * or null. Shared by [[pixels]] and [[ahash]] so a codec wired into
    * one can never be missing from the other.
    */
  private def rasterOfContainer(bytes: Array[Byte]): Raster =
    pnmOfContainer(bytes) match {
      case p: Pnm => Raster(p.width, p.height, p.channels, p.offset, p.bytes)
      case null => bmpOfContainer(bytes) match {
        case r: Raster => r
        case null => pngOfContainer(bytes) match {
          case r: Raster => r
          case null => jpegOfContainer(bytes)
        }
      }
    }

  /** REAL pixel statistics over the decoded raster of a kind=0 PNM,
    * BMP, PNG or baseline-JPEG container (all-null fields when
    * undecodable).
    */
  def pixels(bytes: Array[Byte]): InternalRow = {
    val img = rasterOfContainer(bytes)
    if (img == null) return InternalRow(null, null, null, null, null, null)
    val n = img.width.toLong * img.height * img.channels
    var sum = 0L
    var i = img.offset
    val end = img.offset + n.toInt
    while (i < end) { sum += (img.data(i) & 0xff); i += 1 }
    InternalRow(img.width, img.height, img.channels, n, sum,
      if (n == 0) 0.0 else sum.toDouble / n)
  }

  /** 64-bit perceptual average-hash (aHash) over the DECODED raster of
    * a kind=0 PNM/BMP/PNG/JPEG container: an 8×8 nearest-neighbour
    * sample grid (y = r·h/8, x = c·w/8, integer division), per-sample
    * brightness = the channel sum at that pixel, and bit j (row-major)
    * set iff `64·g_j > Σg` — the strict integer mean compare, so the
    * hash is exact on any engine with no float mean anywhere. Null
    * when the container is undecodable. Near-duplicate images (crops
    * aside) differ in few bits — the image-side analogue of SimHash,
    * and the same 4×16 banding mines pairs from it.
    */
  def ahash(bytes: Array[Byte]): Any = {
    if (bytes == null) return null
    val img = rasterOfContainer(bytes)
    if (img == null || img.width <= 0 || img.height <= 0) return null
    val g = new Array[Long](64)
    var t = 0L
    var r = 0
    while (r < 8) {
      val y = r * img.height / 8
      var c = 0
      while (c < 8) {
        val x = c * img.width / 8
        val base = img.offset + (y * img.width + x) * img.channels
        var ch = 0; var s = 0L
        while (ch < img.channels) { s += (img.data(base + ch) & 0xff); ch += 1 }
        g(r * 8 + c) = s
        t += s
        c += 1
      }
      r += 1
    }
    var h = 0L
    var j = 0
    while (j < 64) { if (64L * g(j) > t) h |= (1L << j); j += 1 }
    java.lang.Long.valueOf(h)
  }

  /** Every `stride`-th `frameSize` slice of the payload, as an array of
    * frames (index i holds frame number i*stride). Anything without a
    * payload — null, header-only, too short — yields an empty array.
    *
    * REAL path: when the container is a decodable kind=2 AVI, each
    * element is the DECODED width×height×3 top-down RGB raster of
    * frame i*stride — the frame geometry comes from the stream header,
    * so `frameSize` is ignored (a real codec knows its own frame size;
    * the argument only shapes the declared-stub slicing below).
    */
  def frames(bytes: Array[Byte], frameSize: Int, stride: Int): ArrayData = {
    if (bytes == null || bytes.length <= HeaderLen)
      return new GenericArrayData(Array.empty[Any])
    val avi = aviOfContainer(bytes)
    if (avi != null) {
      val out = (0 until avi.nFrames by stride)
        .map(f => aviFrameRgb(avi, f): Any)
      return new GenericArrayData(out.toArray)
    }
    val payloadLen = bytes.length - HeaderLen
    val nFrames = payloadLen / frameSize
    val out = (0 until nFrames by stride).map { f =>
      java.util.Arrays.copyOfRange(bytes,
        HeaderLen + f * frameSize, HeaderLen + (f + 1) * frameSize): Any
    }
    new GenericArrayData(out.toArray)
  }
}

/** `graft_meta(bin)` → header metadata struct (never null; corrupt
  * containers yield `valid = false` with null fields).
  *
  * Each GRFT kernel is one static call into [[GrftCodec]], so the
  * 14-byte header parse (a pure projection) stays inside
  * WholeStageCodegen instead of round-tripping every row through
  * `df.rdd` + external Rows — the difference between a narrow
  * columnar scan and a full deserialize at 100 TB. A null blob reaches
  * the codec, which treats it as undecodable media.
  */
case class GrftMeta(child: Expression) extends StaticKernel(
  "graft_meta", Seq(binary), GrftCodec.metaSchema, GrftCodec, "meta", Nulls.NeverNull)

/** `graft_stats(bin)` → payload stats struct (never null; corrupt
  * containers yield null fields).
  */
case class GrftStats(child: Expression) extends StaticKernel(
  "graft_stats", Seq(binary), GrftCodec.statsSchema, GrftCodec, "stats", Nulls.NeverNull)

/** `graft_pixels(bin)` → REAL decoded-raster statistics for a kind=0
  * GRFT container holding a PNM (P5/P6) image — width/height/channels
  * from the image header, checksum and mean over the actual pixels.
  * Undecodable input yields all-null fields (never an error).
  */
case class GrftPixels(child: Expression) extends StaticKernel(
  "graft_pixels", Seq(binary), GrftCodec.imageSchema, GrftCodec, "pixels", Nulls.NeverNull)

/** `graft_ahash(bin)` → 64-bit perceptual average-hash of the decoded
  * raster (see [[GrftCodec.ahash]]); null when undecodable.
  */
case class GrftAHash(child: Expression) extends StaticKernel(
  "graft_ahash", Seq(binary), LongType, GrftCodec, "ahash", Nulls.Passed)

/** `graft_vhash(bin)` → 64-bit perceptual hash of the center frame of
  * a kind=2 AVI container (see [[GrftCodec.vhash]]); null when
  * undecodable.
  */
case class GrftVideoHash(child: Expression) extends StaticKernel(
  "graft_vhash", Seq(binary), LongType, GrftCodec, "vhash", Nulls.Passed)

/** `graft_afp(bin)` → 64-bit sign-of-derivative audio fingerprint of
  * the decoded samples (see [[GrftCodec.afp]]); null when undecodable.
  */
case class GrftAudioFp(child: Expression) extends StaticKernel(
  "graft_afp", Seq(binary), LongType, GrftCodec, "afp", Nulls.Passed)

/** `graft_aenv(bin)` → 64-bit envelope (mean-compare) hash of the
  * decoded samples (see [[GrftCodec.aenv]]) — the audio MINING hash,
  * banding-friendly where `graft_afp`'s derivative signs are not;
  * null when undecodable.
  */
case class GrftAudioEnv(child: Expression) extends StaticKernel(
  "graft_aenv", Seq(binary), LongType, GrftCodec, "aenv", Nulls.Passed)

/** `graft_samples(bin)` → REAL decoded-audio statistics for a kind=1
  * GRFT container holding a PCM WAV — rate/channels from the fmt
  * chunk, checksum/mean/peak over the actual 16-bit samples.
  * Undecodable input yields all-null fields (never an error).
  */
case class GrftSamples(child: Expression) extends StaticKernel(
  "graft_samples", Seq(binary), GrftCodec.audioSchema, GrftCodec, "samples", Nulls.NeverNull)

/** `graft_video(bin)` → REAL all-frame pixel statistics of a kind=2
  * AVI container (all-null fields when undecodable).
  */
case class GrftVideo(child: Expression) extends StaticKernel(
  "graft_video", Seq(binary), GrftCodec.videoSchema, GrftCodec, "video", Nulls.NeverNull)

private[graft] object GrftArgs {
  /** Fold a literal int argument at plan time (the output raster dims /
    * frame geometry are operator options, not per-row data — exactly
    * like the reference's mandatory stream settings).
    */
  def foldInt(e: Expression, fn: String, name: String): Int = e.eval(null) match {
    case n: Number => n.intValue // the type check admits integral literals only
    case other => throw new IllegalArgumentException(
      s"$fn: $name must be an integer literal, got $other")
  }
}

/** `graft_resize(bin, out_width, out_height)` → resized GRFT container
  * (null for corrupt input — invalid media stays data, not an error).
  * The output dims are literals, folded at plan time.
  */
case class GrftResize(first: Expression, second: Expression, third: Expression)
  extends StaticKernel("graft_resize", Seq(binary, literal(integral), literal(integral)),
    BinaryType, GrftCodec, "resize", Nulls.Passed) {
  override protected def callArgs: Seq[Any] = {
    val outW = GrftArgs.foldInt(second, prettyName, "out_width")
    val outH = GrftArgs.foldInt(third, prettyName, "out_height")
    require(outW > 0 && outH > 0, s"$prettyName: output dims must be positive, got ${outW}x$outH")
    Seq(first, outW, outH)
  }
}

/** `graft_frames(bin, frame_size, stride)` → array of every stride-th
  * frame of the payload (element i = frame number i*stride; empty array
  * when there is no payload). Compose with `posexplode` for the
  * row-per-frame view — the explode is Catalyst's, so frame sampling
  * needs no RDD drop-down at all. The geometry is literal, folded at
  * plan time.
  */
case class GrftFrames(first: Expression, second: Expression, third: Expression)
  extends StaticKernel("graft_frames", Seq(binary, literal(integral), literal(integral)),
    ArrayType(BinaryType, containsNull = false), GrftCodec, "frames", Nulls.NeverNull) {
  override protected def callArgs: Seq[Any] = {
    val frameSize = GrftArgs.foldInt(second, prettyName, "frame_size")
    val stride = GrftArgs.foldInt(third, prettyName, "stride")
    require(frameSize > 0 && stride > 0,
      s"$prettyName: frame_size and stride must be positive, got $frameSize/$stride")
    Seq(first, frameSize, stride)
  }
}

object MultimodalExpressions {
  import graft.sql.FunctionTable.kernel

  /** The GRFT media kernels' SQL functions, declared once. */
  val functions: Seq[graft.sql.FunctionTable.Entry[Expression]] = Seq(
    kernel[GrftMeta]("graft_meta")(a => GrftMeta(a.head)),
    kernel[GrftStats]("graft_stats")(a => GrftStats(a.head)),
    kernel[GrftPixels]("graft_pixels")(a => GrftPixels(a.head)),
    kernel[GrftSamples]("graft_samples")(a => GrftSamples(a.head)),
    kernel[GrftVideo]("graft_video")(a => GrftVideo(a.head)),
    kernel[GrftAHash]("graft_ahash")(a => GrftAHash(a.head)),
    kernel[GrftAudioFp]("graft_afp")(a => GrftAudioFp(a.head)),
    kernel[GrftAudioEnv]("graft_aenv")(a => GrftAudioEnv(a.head)),
    kernel[GrftVideoHash]("graft_vhash")(a => GrftVideoHash(a.head)),
    kernel[GrftResize]("graft_resize")(a => GrftResize(a(0), a(1), a(2))),
    kernel[GrftFrames]("graft_frames")(a => GrftFrames(a(0), a(1), a(2))))

  /** Register the GRFT functions in the session registry (idempotent). */
  def register(spark: SparkSession): Unit = graft.sql.FunctionTable.register(spark, functions)
}
