package graft.functions

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec
import graft.operators.Similarity

/** Null/mismatch semantics of the native `graft_dot` expression: must be
  * indistinguishable from the `zip_with`+`aggregate` higher-order
  * fallback (`Similarity.dotHof`) — including NULL on length mismatch
  * and NULL on a null element (zip_with pads/propagates null, and
  * `acc + null` is null).
  */
class VectorExpressionsSpec extends SparkSpec {

  private def df = {
    val schema = StructType(Seq(
      StructField("name", StringType),
      StructField("a", ArrayType(DoubleType)),
      StructField("b", ArrayType(DoubleType))))
    spark.createDataFrame(
      java.util.Arrays.asList(
        Row("ok", Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
        Row("mismatch", Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0)),
        Row("null_elem", Seq(1.0, null, 3.0), Seq(1.0, 2.0, 3.0)),
        Row("null_arr", null, Seq(1.0))),
      schema)
  }

  test("graft_dot matches the zip_with fallback on mismatched and null inputs") {
    VectorExpressions.register(spark)
    val out = df.select(col("name"),
        Similarity.dot(col("a"), col("b")).as("native"),
        Similarity.dotHof(col("a"), col("b")).as("hof"))
      .collect().map(r => r.getString(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(out("ok") == (Some(32.0), Some(32.0)))
    assert(out("mismatch") == (None, None))
    assert(out("null_elem") == (None, None))
    assert(out("null_arr") == (None, None))
  }

  test("interpreted eval path agrees with codegen on mismatch/null") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    def arr(xs: Seq[Any]) = Literal.create(xs, ArrayType(DoubleType))
    def ev(a: Seq[Any], b: Seq[Any]): Any = DotProduct(arr(a), arr(b)).eval()
    assert(ev(Seq(1.0, 2.0), Seq(3.0, 4.0)) == 11.0)
    assert(ev(Seq(1.0, 2.0), Seq(3.0)) == null)
    assert(ev(Seq(1.0, null), Seq(3.0, 4.0)) == null)
  }

  test("graft_argmax_cos: smallest-id ties, exact argmax, bad geometry → null") {
    import spark.implicits._
    VectorExpressions.register(spark)
    // bench 10=(1,0) and 20=(1,0) are identical → any query ties them;
    // 30=(0,1) is orthogonal to the x-axis queries
    val ids = Array(10L, 20L, 30L)
    val mat = Array(1.0, 0.0, 1.0, 0.0, 0.0, 1.0)
    val rows = Seq(
      (1L, Seq(2.0, 0.0)),   // cos 1 with 10 and 20 → tie → id 10
      (2L, Seq(0.0, 5.0)),   // exactly bench 30
      (3L, Seq(1.0, 1.0))    // cos .7071 with all; tie again → id 10
    ).toDF("vec_id", "v")
    val out = rows.select(col("vec_id"),
        call_function("graft_argmax_cos", col("v"),
          typedLit(ids), typedLit(mat)).as("m"))
      .select(col("vec_id"), col("m.bench_id"), round(col("m.cos"), 4))
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(out == Seq((1L, 10L, 1.0), (2L, 30L, 1.0), (3L, 10L, 0.7071)))
    // a dim-mismatched vector yields a null struct, not a wrong score
    val bad = Seq((9L, Seq(1.0, 2.0, 3.0))).toDF("vec_id", "v")
      .select(call_function("graft_argmax_cos", col("v"),
        typedLit(ids), typedLit(mat)).as("m"))
    assert(bad.head().isNullAt(0))
  }

  test("graft_quantize8 / graft_dot8: exact bytes, zero vector, mismatch") {
    import spark.implicits._
    VectorExpressions.register(spark)
    val df = Seq(
      ("ramp", Seq(0.0, -63.5, 127.0)), // scale 1: bytes 0, -63, 127
      ("zero", Seq(0.0, 0.0, 0.0))
    ).toDF("name", "v")
      .select(col("name"), call_function("graft_quantize8", col("v")).as("m"))
      .select(col("name"), col("m.scale"), col("m.q"))
    val rows = df.collect().map(r =>
      r.getString(0) -> (r.getDouble(1), r.getAs[Array[Byte]](2).toSeq)).toMap
    // maxabs 127 → scale 1.0; floor(-63.5 + 0.5) = -63 (floor, not
    // round-half-even which would give -64 in some engines)
    assert(rows("ramp") == (1.0, Seq[Byte](0, -63, 127)))
    assert(rows("zero") == (0.0, Seq[Byte](0, 0, 0)))
    // integer dot of the quantized payloads: 0·0 + (-63)·(-63) + 127·127
    val d = Seq((Array[Byte](0, -63, 127), Array[Byte](0, -63, 127)))
      .toDF("a", "b")
      .select(call_function("graft_dot8", col("a"), col("b"))).head()
    assert(d.getLong(0) == 63L * 63 + 127L * 127)
    val mm = Seq((Array[Byte](1, 2), Array[Byte](1)))
      .toDF("a", "b")
      .select(call_function("graft_dot8", col("a"), col("b"))).head()
    assert(mm.isNullAt(0))
  }
}
