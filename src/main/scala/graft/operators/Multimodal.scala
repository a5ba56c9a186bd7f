package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{GrftCodec, MultimodalExpressions}

/** Multimodal column handling: images/audio/video as opaque `binary`
  * columns with typed metadata, batch decode / feature-extract /
  * resize / frame-sample plumbing.
  *
  * The codec layer parses a deterministic GRFT container format (our
  * stand-in for opaque media blobs). Each media kind has a REAL
  * zero-native-dep codec path: kind=0 images holding netpbm P5/P6 or
  * uncompressed 24-bit BMP payloads ([[decodeImage]]/[[resize]]
  * operate on the actual raster), kind=1 audio holding 16-bit PCM WAV
  * ([[decodeAudio]]/[[resize]] operate on the actual samples), and
  * kind=2 video holding uncompressed 24-bit AVI
  * ([[decodeVideo]]/[[resize]]/[[sampleFrames]] operate on the actual
  * frame rasters). Payloads in any OTHER format keep the declared
  * STUB behavior with real Spark plumbing: correct schemas, codegen'd
  * per-row decode, bounded memory; adding a compressed codec (JPEG,
  * MP3, H.264 would all need native libs this container lacks) is a
  * one-function change inside [[graft.functions.GrftCodec]]. The distributed topology (narrow
  * decode → columnar metadata → keyed shuffles only after size
  * reduction) is what matters at 100 TB, where you decode close to the
  * data and never shuffle raw bytes.
  *
  * Every operator here is a pure Catalyst projection over the
  * [[graft.functions.MultimodalExpressions]] expressions — no
  * `df.rdd` round-trip, no external-Row deserialization, and the whole
  * decode stays inside WholeStageCodegen (asserted in PlanQualitySpec).
  *
  * Mirrors the reference's binary-attribute usage: MNIST 28×28 images
  * packed into a `binary` attribute (`py_pkg/examples/4-machine-learning.py:49-109`).
  */
object Multimodal {

  /** GRFT header: magic "GRFT", u16 width, u16 height, u8 channels,
    * u8 kind (0=image, 1=audio, 2=video), u32 payload length.
    */
  val HeaderLen: Int = GrftCodec.HeaderLen

  def pack(width: Int, height: Int, channels: Int, kind: Int,
           payload: Array[Byte]): Array[Byte] =
    GrftCodec.pack(width, height, channels, kind, payload)

  val metaSchema: StructType = GrftCodec.metaSchema

  /** Decode the typed metadata of a binary media column into a struct
    * column (schema-declared, codegen'd header parse — corrupt blobs
    * yield `valid = false`, never an error).
    */
  def decodeHeader(df: DataFrame, binCol: String, out: String = "meta"): DataFrame = {
    MultimodalExpressions.register(df.sparkSession)
    df.withColumn(out, call_function("graft_meta", col(binCol)))
  }

  /** REAL image decode for kind=0 containers holding a netpbm P5/P6
    * payload (the one image family decodable with zero native deps):
    * dims/channels from the image header, checksum and mean over the
    * actual raster. Undecodable media yields null fields. Same narrow
    * codegen'd-projection topology as [[decodeHeader]] — at 100 TB the
    * decode runs next to the scan and only the (tiny) stats shuffle.
    */
  def decodeImage(df: DataFrame, binCol: String, out: String = "image"): DataFrame = {
    MultimodalExpressions.register(df.sparkSession)
    df.withColumn(out, call_function("graft_pixels", col(binCol)))
  }

  /** 64-bit perceptual average-hash over the DECODED raster (8×8
    * nearest-neighbour grid, strict integer mean compare — see
    * `GrftCodec.ahash`): the image-side SimHash. Null for undecodable
    * media. Narrow codegen'd projection like [[decodeImage]]; feed the
    * result (renamed to `simhash`) into
    * [[TextDedup.hammingPairs64]] to mine near-duplicate images with
    * the same banded equi-join as text.
    */
  def imageAHash(df: DataFrame, binCol: String, out: String = "ahash"): DataFrame = {
    MultimodalExpressions.register(df.sparkSession)
    df.withColumn(out, call_function("graft_ahash", col(binCol)))
  }

  /** 64-bit sign-of-derivative audio fingerprint over the DECODED PCM
    * samples (65 nearest-neighbour sample points, bit = strictly
    * rising — see `GrftCodec.afp`): the audio-side SimHash, integer
    * exact. Null for undecodable media; feed (renamed to `simhash`)
    * into [[TextDedup.hammingPairs64]] like the image hash.
    */
  def audioFingerprint(df: DataFrame, binCol: String, out: String = "afp"): DataFrame = {
    MultimodalExpressions.register(df.sparkSession)
    df.withColumn(out, call_function("graft_afp", col(binCol)))
  }

  /** 64-bit envelope (mean-compare) hash over the DECODED PCM — the
    * audio MINING hash (see `GrftCodec.aenv`): [[audioFingerprint]]'s
    * derivative signs identify a recording but flip too easily to
    * band-collide, while this aHash-style mean compare yields
    * image-like pair sets under [[TextDedup.hammingPairs64]]. Any
    * fixed DC shift cancels algebraically, so re-leveled copies hash
    * identically. Integer exact; null for undecodable media.
    */
  def audioEnvHash(df: DataFrame, binCol: String, out: String = "aenv"): DataFrame = {
    MultimodalExpressions.register(df.sparkSession)
    df.withColumn(out, call_function("graft_aenv", col(binCol)))
  }

  /** 64-bit perceptual hash of a video's temporally-center frame
    * (the image aHash grid over the DECODED RGB raster — see
    * `GrftCodec.vhash`): the video-side signature, integer exact,
    * null for undecodable media. Feed (renamed to `simhash`) into
    * [[TextDedup.hammingPairs64]] like the image/audio hashes.
    */
  def videoHash(df: DataFrame, binCol: String, out: String = "vhash"): DataFrame = {
    MultimodalExpressions.register(df.sparkSession)
    df.withColumn(out, call_function("graft_vhash", col(binCol)))
  }

  /** REAL audio decode for kind=1 containers holding a RIFF/WAVE
    * 16-bit PCM payload: rate/channels from the fmt chunk, checksum /
    * mean / peak over the actual samples. Undecodable media yields
    * null fields. Same narrow codegen'd-projection topology as
    * [[decodeImage]]; [[resize]] with `outHeight = 1` resamples WAV
    * payloads to `outWidth` frames (format-preserving re-encode).
    */
  def decodeAudio(df: DataFrame, binCol: String, out: String = "audio"): DataFrame = {
    MultimodalExpressions.register(df.sparkSession)
    df.withColumn(out, call_function("graft_samples", col(binCol)))
  }

  /** REAL video decode for kind=2 containers holding an uncompressed
    * 24-bit AVI payload (RIFF chunk walk + DIB frame rasters — the
    * same two primitives as the WAV and BMP paths): dims from the
    * stream header, checksum / mean over the actual RGB samples of
    * every frame. Undecodable media yields null fields. [[resize]]
    * spatially resamples every frame (frame count and rate preserved,
    * format-preserving re-encode); [[sampleFrames]] returns DECODED
    * RGB rasters for AVI payloads.
    */
  def decodeVideo(df: DataFrame, binCol: String, out: String = "video"): DataFrame = {
    MultimodalExpressions.register(df.sparkSession)
    df.withColumn(out, call_function("graft_video", col(binCol)))
  }

  /** STUB pixel decode: summarise the payload instead of rasterising it
    * (deterministic fake for the missing codec). Real implementation
    * would decompress inside `GrftCodec.stats`; the Spark side — a
    * narrow codegen'd projection — is production-shaped. Invalid
    * containers get null stats, so garbage blobs never pollute feature
    * statistics.
    */
  def extractFeatures(df: DataFrame, binCol: String): DataFrame = {
    MultimodalExpressions.register(df.sparkSession)
    df.withColumn("_grft_stats", call_function("graft_stats", col(binCol)))
      .withColumn("payload_bytes", col("_grft_stats.payload_bytes"))
      .withColumn("payload_checksum", col("_grft_stats.payload_checksum"))
      .withColumn("mean_byte", col("_grft_stats.mean_byte"))
      .drop("_grft_stats")
  }

  /** STUB resize: nearest-neighbour downsample of the fake raster
    * (payload treated as row-major width×height×channels bytes, the
    * GRFT stand-in for decoded pixels). Output is a well-formed GRFT
    * container with the new dimensions, so resized media flows through
    * the same decode/feature plumbing; corrupt or lying-dims input
    * resizes to null instead of throwing. A real implementation swaps
    * the sampling loop in `GrftCodec.resize` for a codec call; the
    * narrow codegen'd topology (resize close to the data, shuffle only
    * shrunken bytes) is the part that matters at 100 TB.
    */
  def resize(df: DataFrame, binCol: String, outWidth: Int, outHeight: Int,
             out: String = "resized"): DataFrame = {
    require(outWidth > 0 && outHeight > 0)
    MultimodalExpressions.register(df.sparkSession)
    df.withColumn(out,
      call_function("graft_resize", col(binCol), lit(outWidth), lit(outHeight)))
  }

  /** Frame sampling for video-kind payloads: every `stride`-th frame
    * becomes one output row (`graft_frames` + Catalyst posexplode — at
    * scale this is where you cut 100 TB of video to the frames you
    * actually train on, before any shuffle). For a decodable AVI
    * payload each frame is the DECODED top-down RGB raster (geometry
    * from the stream header; `frameSize` ignored); other payloads keep
    * the declared-stub `frameSize` slicing.
    */
  def sampleFrames(df: DataFrame, binCol: String, frameSize: Int,
                   stride: Int): DataFrame = {
    require(frameSize > 0 && stride > 0)
    MultimodalExpressions.register(df.sparkSession)
    val orig = df.columns.toIndexedSeq.map(col)
    df.withColumn("_grft_frames",
        call_function("graft_frames", col(binCol), lit(frameSize), lit(stride)))
      .select(orig :+ posexplode(col("_grft_frames")).as(Seq("_grft_pos", "frame")): _*)
      .select(orig :+ (col("_grft_pos") * stride).cast("int").as("frame_no") :+ col("frame"): _*)
  }
}
