package graft.functions

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.types._
import graft.SparkSpec
import graft.operators.Multimodal
import graft.sql.GraftExtensions

/** Every SQL kernel gives the same rows through generated code and
  * through interpreted eval.
  *
  * Each kernel in [[GraftExtensions.builders]] runs over one small
  * RDD-backed fixture (so nothing is folded on the driver), whose last
  * row is null in every input column: once under whole-stage codegen with no fallback to
  * interpretation, once with codegen switched off everywhere. The two
  * result sets must be equal row for row.
  */
class KernelParitySpec extends SparkSpec {

  /** One call per kernel, over the fixture's columns. */
  private val calls: Map[String, String] = Map(
    "graft_shingles" -> "graft_shingles(text, 2)",
    "graft_simhash" -> "graft_simhash(text, 16)",
    "graft_minhash" -> "graft_minhash(split(text, ' '), 4, 1)",
    "graft_spans" -> "graft_spans(text, 2)",
    "graft_grams" -> "graft_grams(text, 2)",
    "graft_winnow" -> "graft_winnow(text, 1, 2)",
    "graft_cdc" -> "graft_cdc(text, 2, 2)",
    "graft_cdc_bytes" -> "graft_cdc_bytes(bin, 4, 3)",
    "graft_fhash" -> "graft_fhash(text, 8)",
    "graft_char_windows" -> "graft_char_windows(text, 3)",
    "graft_gram_hashes" -> "graft_gram_hashes(text, 2, 8)",
    "graft_ac_count" -> "graft_ac_count(text, concat('a b', char(1), 'é'))",
    "graft_dot" -> "graft_dot(vf, vd)",
    "graft_cosine" -> "graft_cosine(vd, vd)",
    "graft_hyperplane" -> "graft_hyperplane(vd, 2, 3, 4)",
    "graft_argmax_cos" ->
      "graft_argmax_cos(vf, array(1L, 2L), array(1D, 0D, 0D, 0D, 0D, 1D, 1D, 0D))",
    "graft_quantize8" -> "graft_quantize8(vf)",
    "graft_quantize8_arr" -> "graft_quantize8_arr(vd)",
    "graft_dot8" -> "graft_dot8(q8, q8)",
    "graft_pq_encode" -> "graft_pq_encode(vd, array(0D, 0D, 1D, 1D, 2D, 0D, 0D, 2D), 2, 2)",
    "graft_pq_assign" -> "graft_pq_assign(vf, 4D, array(0D, 0D, 1D, 1D, 2D, 0D, 0D, 2D), 2, 2)",
    "graft_rotate" -> "graft_rotate(vd, array(0, 1, 2, 3), 0.6D, 0.8D)",
    "graft_meta" -> "graft_meta(bin)",
    "graft_stats" -> "graft_stats(bin)",
    "graft_pixels" -> "graft_pixels(bin)",
    "graft_samples" -> "graft_samples(bin)",
    "graft_video" -> "graft_video(bin)",
    "graft_ahash" -> "graft_ahash(bin)",
    "graft_afp" -> "graft_afp(bin)",
    "graft_aenv" -> "graft_aenv(bin)",
    "graft_vhash" -> "graft_vhash(bin)",
    "graft_resize" -> "graft_resize(bin, 2, 2)",
    "graft_frames" -> "graft_frames(bin, 4, 1)")

  private def fixture: DataFrame = {
    val schema = StructType(Seq(
      StructField("id", IntegerType),
      StructField("text", StringType),
      StructField("bin", BinaryType),
      StructField("vd", ArrayType(DoubleType)),
      StructField("vf", ArrayType(FloatType)),
      StructField("q8", BinaryType)))
    val gray = Array.tabulate[Byte](64)(i => (i * 4).toByte)
    val rgb = Array.tabulate[Byte](8 * 8 * 3)(i => (i * 7 % 251).toByte)
    val image = Multimodal.pack(8, 8, 1, 0, GrftCodec.pnmEncode(8, 8, 1, gray))
    val audio = Multimodal.pack(130, 1, 1, 1,
      GrftCodec.wavEncode(8000, 1, Array.tabulate[Short](130)(i => (i * i % 977).toShort)))
    val video = Multimodal.pack(8, 8, 3, 2,
      GrftCodec.aviEncode(8, 8, 40000, Array(rgb, rgb.reverse, rgb)))
    val rows = Seq(
      Row(1, "a b c d a b c", image, Seq(1.0, -2.0, 3.0, 0.5),
        Seq(1.0f, 2.0f, 3.0f, 4.0f), Array[Byte](1, -2, 3)),
      Row(2, "héllo wörld déjà vu a b é", audio, Seq(0.25, 0.0, -1.5, 2.0),
        Seq(-1.0f, 0.5f, 0.0f, 2.0f), Array[Byte](127, -127, 0)),
      Row(3, "x", video, Seq(1.0, 2.0), Seq(1.0f, 0.0f, 0.0f, 0.0f), Array[Byte](5)),
      Row(4, "", Array[Byte](9, 9), Seq(1.0, null, 3.0, 4.0),
        Seq(0.0f, 0.0f, 0.0f, 0.0f), Array.emptyByteArray),
      Row(5, null, null, null, null, null))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  /** Nested values in a form `==` compares by content. */
  private def norm(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case r: Row => r.toSeq.map(norm)
    case s: scala.collection.Seq[_] => s.map(norm)
    case d: Double if d.isNaN => "NaN"
    case other => other
  }

  /** `call` over `src` under `conf`, as normalized rows in id order. */
  private def run(src: DataFrame, call: String, conf: Seq[(String, String)]): Seq[Any] = {
    val before = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // a fresh Dataset per run: a plan is fixed once it is executed
      val df = src.selectExpr("id", s"$call AS out")
      val out = df.collect().sortBy(_.getInt(0)).toSeq.map(norm)
      val codegen = df.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec])
      assert(codegen == (conf.head._2 == "true"), df.queryExecution.executedPlan)
      out
    } finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("every SQL kernel returns the same rows with and without codegen") {
    GraftExtensions.register(spark)
    assert(calls.keySet == GraftExtensions.builders.keySet)
    val src = fixture
    val generated = Seq("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false")
    val interpreted = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    for ((name, call) <- calls.toSeq.sortBy(_._1)) {
      val (a, b) = (run(src, call, generated), run(src, call, interpreted))
      assert(a.size == 5, name)
      assert(a == b, s"$name: codegen $a != interpreted $b")
    }
  }
}
