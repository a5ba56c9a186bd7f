package graft.operators

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Arbitrary, Gen}
import org.scalatest.funsuite.AnyFunSuite

/** Property-based checks of the TSV cell encoding — the null/escape
  * fidelity the reference's golden tests pin down (`tests/test.sh:67-79`),
  * generalized over arbitrary strings (raw ScalaCheck generators).
  */
class TsvPropertySpec extends AnyFunSuite {

  private def samples[A](gen: Gen[A], n: Int = 500): Seq[A] =
    Iterator.continually(gen.sample).flatten.take(n).toSeq

  private val strings: Seq[String] =
    samples(Arbitrary.arbitrary[String]) ++
      Seq("", "\n", "\t\t", "\\", "\\N", "a\tb\nc\rd\\e", "\\n literal")

  test("escaped text never contains raw control bytes") {
    strings.foreach { s =>
      val e = TsvProtocol.escape(s)
      assert(!e.contains('\n') && !e.contains('\t') && !e.contains('\r'), s"for ${s.toList}")
    }
  }

  test("escape/unescape round-trips every string") {
    strings.foreach { s =>
      assert(TsvProtocol.unescape(TsvProtocol.escape(s)) == s, s"for ${s.toList}")
    }
  }

  /** One single-column row formatted for the wire. */
  private def cell(v: Any, dt: DataType): String =
    TsvProtocol.formatInternalRow(new GenericInternalRow(Array[Any](v)),
      StructType(Seq(StructField("c", dt))))

  test("formatInternalRow distinguishes null vs empty vs value") {
    assert(cell(null, StringType) == "\\N")
    assert(cell(UTF8String.fromString(""), StringType) == "")
    assert(cell(UTF8String.fromString("\\N"), StringType) == "\\\\N")
    assert(cell(Double.NaN, DoubleType) == "nan")
    assert(cell(true, BooleanType) == "true")
  }

  test("row formatting joins with single tabs regardless of content") {
    val schema = StructType(Seq(StructField("a", StringType), StructField("b", StringType)))
    samples(Gen.zip(Arbitrary.arbitrary[String], Arbitrary.arbitrary[String]), 300)
      .foreach { case (a, b) =>
        val row = new GenericInternalRow(
          Array[Any](UTF8String.fromString(a), UTF8String.fromString(b)))
        val cells = TsvProtocol.formatInternalRow(row, schema).split("\t", -1)
        assert(cells.length == 2)
        assert(TsvProtocol.unescape(cells(0)) == a && TsvProtocol.unescape(cells(1)) == b)
      }
  }
}
