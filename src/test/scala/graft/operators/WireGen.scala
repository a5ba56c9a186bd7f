package graft.operators

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Arbitrary, Gen}

/** Generators shared by the wire-format round-trip properties: rows of
  * plain Scala values (`null` for null/NA) over a format's types, with
  * per-column null rates, empty, long and multi-byte strings, chunk
  * sizes from 1 to rows + 1, and partition counts that leave some
  * partitions empty.
  */
object WireGen {

  def samples[A](gen: Gen[A], n: Int): Seq[A] =
    Iterator.continually(gen.sample).flatten.take(n).toSeq

  /** Valid UTF-8 text: arbitrary strings (unpaired surrogates become
    * `?`, as any UTF-8 encoder makes them), multi-byte runs, empty and
    * long values.
    */
  val text: Gen[String] = Gen.frequency(
    3 -> Arbitrary.arbitrary[String].map(s =>
      new String(s.getBytes(StandardCharsets.UTF_8), StandardCharsets.UTF_8)),
    3 -> Gen.listOf(Gen.oneOf("a", "é", "日本", "😀", "\n", "\t", "\\", " "))
      .map(_.mkString),
    2 -> Gen.const(""),
    1 -> Gen.choose(100, 400).map(n => "ü" * n))

  /** A value of `dt`, never null. `rNa` leaves out the int32 value R
    * reserves for NA (`NA_integer_` is `Int.MinValue`).
    */
  def value(dt: DataType, rNa: Boolean): Gen[Any] = dt match {
    case LongType => Gen.oneOf(Gen.const(Long.MinValue), Gen.const(Long.MaxValue),
      Gen.const(0L), Arbitrary.arbitrary[Long])
    case IntegerType =>
      val ints = Gen.oneOf(Gen.const(Int.MaxValue), Gen.const(0), Arbitrary.arbitrary[Int])
      if (rNa) ints.suchThat(_ != Int.MinValue) else Gen.oneOf(Gen.const(Int.MinValue), ints)
    case DoubleType => Gen.oneOf(Gen.const(Double.NaN), Gen.const(-0.0),
      Gen.const(Double.NegativeInfinity), Gen.const(1e-300), Arbitrary.arbitrary[Double])
    case StringType => text
    case BinaryType => Gen.oneOf(Gen.const(Array.emptyByteArray),
      Gen.listOf(Arbitrary.arbitrary[Byte]).map(_.toArray))
    case other => throw new IllegalArgumentException(s"no generator for $other")
  }

  /** One test case: a schema drawn from `types`, its rows, a chunk size
    * in 1..rows+1 and a partition count up to rows + 2.
    */
  final case class Case(schema: StructType, rows: IndexedSeq[Seq[Any]], chunk: Int, parts: Int)

  def cases(types: Seq[DataType], maxRows: Int, rNa: Boolean = false): Gen[Case] = for {
    width <- Gen.choose(1, 4)
    cols <- Gen.listOfN(width, Gen.oneOf(types))
    nullRates <- Gen.listOfN(width, Gen.oneOf(0.0, 0.1, 0.5, 1.0))
    n <- Gen.choose(0, maxRows)
    rows <- Gen.listOfN(n, Gen.sequence[List[Any], Any](cols.zip(nullRates).map { case (dt, p) =>
      Gen.frequency(
        (math.round(p * 100).toInt, Gen.const(null)),
        (math.round((1 - p) * 100).toInt, value(dt, rNa)))
    }))
    chunk <- Gen.choose(1, n + 1)
    parts <- Gen.choose(1, math.min(n + 2, 6))
  } yield Case(
    StructType(cols.zipWithIndex.map { case (dt, i) => StructField(s"c$i", dt) }),
    rows.toIndexedSeq, chunk, parts)

  def internalRow(values: Seq[Any]): InternalRow =
    new GenericInternalRow(values.map {
      case s: String => UTF8String.fromString(s)
      case v => v
    }.toArray)

  /** A comparable form of one value: bytes as a Seq, doubles by their
    * bits (NaN equals NaN, -0.0 differs from 0.0), text as a String.
    */
  def norm(v: Any): Any = v match {
    case null => null
    case b: Array[Byte] => b.toSeq
    case d: Double => ("double", java.lang.Double.doubleToLongBits(d))
    case s: UTF8String => s.toString
    case t: org.apache.arrow.vector.util.Text => t.toString
    case l: java.lang.Long => l.longValue
    case i: java.lang.Integer => i.intValue
    case other => other
  }

  def normRow(r: Row): Seq[Any] = r.toSeq.map(norm)
}
