package graft.operators

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, InputStream}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
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

  test("a truncated message with no child process is a plain EOF") {
    // an in-memory decode has no child to diagnose: "3 lines" promised,
    // one delivered
    intercept[java.io.EOFException] {
      TsvProtocol.readMessage(
        new java.io.ByteArrayInputStream("3\na\n".getBytes("UTF-8")), null, lastMessage = false)
    }
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

  // ---- the byte codec against the String formatting it replaced ----

  /** The String-path formatter the byte frame replaced, kept verbatim as
    * the parity oracle: escape the decoded `String`, then UTF-8 encode.
    */
  private def stringPathLine(row: InternalRow, schema: StructType): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < schema.length) {
      if (i > 0) sb.append('\t')
      if (row.isNullAt(i)) sb.append("\\N")
      else schema.fields(i).dataType match {
        case StringType  => sb.append(TsvProtocol.escape(row.getUTF8String(i).toString))
        case LongType    => sb.append(row.getLong(i))
        case IntegerType => sb.append(row.getInt(i))
        case DoubleType  =>
          val d = row.getDouble(i)
          sb.append(if (d.isNaN) "nan" else d.toString)
        case FloatType   =>
          val f = row.getFloat(i)
          sb.append(if (f.isNaN) "nan" else f.toString)
        case BooleanType => sb.append(if (row.getBoolean(i)) "true" else "false")
        case ShortType   => sb.append(row.getShort(i))
        case ByteType    => sb.append(row.getByte(i))
        case dt: DecimalType => sb.append(row.getDecimal(i, dt.precision, dt.scale).toString)
        case DateType    => sb.append(DateTimeUtils.toJavaDate(row.getInt(i)).toString)
        case TimestampType => sb.append(DateTimeUtils.toJavaTimestamp(row.getLong(i)).toString)
        case other => fail(s"no oracle for $other")
      }
      i += 1
    }
    sb.toString
  }

  private val allTypes = StructType(Seq(
    StructField("s", StringType), StructField("l", LongType),
    StructField("i", IntegerType), StructField("d", DoubleType),
    StructField("f", FloatType), StructField("b", BooleanType),
    StructField("sh", ShortType), StructField("by", ByteType),
    StructField("dec", DecimalType(10, 2)), StructField("wide", DecimalType(38, 10)),
    StructField("dt", DateType), StructField("ts", TimestampType)))

  private val text: Gen[String] = Gen.frequency(
    4 -> Arbitrary.arbitrary[String],
    3 -> Gen.listOf(Gen.oneOf("a", "é", "日本", "\uD83D\uDE00", "\n", "\t", "\r", "\\", "\\N", " "))
      .map(_.mkString),
    1 -> Gen.const(""))

  private def orNull[A](g: Gen[A]): Gen[Any] = Gen.frequency(1 -> Gen.const(null), 6 -> g)

  private val rowGen: Gen[InternalRow] = for {
    s <- orNull(text.map(UTF8String.fromString))
    l <- orNull(Gen.oneOf(Gen.const(Long.MinValue), Gen.const(Long.MaxValue), Gen.const(0L),
      Arbitrary.arbitrary[Long]))
    i <- orNull(Arbitrary.arbitrary[Int])
    d <- orNull(Gen.oneOf(Gen.const(Double.NaN), Gen.const(-0.0), Gen.const(Double.PositiveInfinity),
      Gen.const(1e-300), Arbitrary.arbitrary[Double]))
    f <- orNull(Gen.oneOf(Gen.const(Float.NaN), Gen.const(Float.NegativeInfinity),
      Arbitrary.arbitrary[Float]))
    b <- orNull(Arbitrary.arbitrary[Boolean])
    sh <- orNull(Arbitrary.arbitrary[Short])
    by <- orNull(Arbitrary.arbitrary[Byte])
    dec <- orNull(Gen.choose(-99999999L, 99999999L).map(u => Decimal(u, 10, 2)))
    wide <- orNull(Gen.choose(-1000000000000L, 1000000000000L).map(u => Decimal(BigDecimal(u, 10), 38, 10)))
    dt <- orNull(Gen.choose(-200000, 200000))
    ts <- orNull(Gen.choose(-4000000000000000L, 4000000000000000L))
  } yield new GenericInternalRow(Array[Any](s, l, i, d, f, b, sh, by, dec, wide, dt, ts))

  private def utf8(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)

  test("frame bytes equal the String path's line bytes for every TSV type") {
    val rows = samples(rowGen, 400)
    val frame = new TsvProtocol.Frame(16) // tiny: every row grows it
    val expected = new ByteArrayOutputStream
    rows.foreach { r =>
      val line = stringPathLine(r, allTypes)
      assert(TsvProtocol.formatInternalRow(r, allTypes) == line)
      expected.write(utf8(line))
      expected.write('\n')
      frame.appendRow(r, allTypes)
    }
    val wire = new ByteArrayOutputStream
    frame.writeTo(wire)
    assert(wire.toByteArray.toSeq == (utf8(s"${rows.size}\n") ++ expected.toByteArray).toSeq)
    // the String wrapper frames the same bytes
    val viaLines = new ByteArrayOutputStream
    TsvProtocol.writeChunk(viaLines, rows.iterator.map(stringPathLine(_, allTypes)), rows.size)
    assert(viaLines.toByteArray.toSeq == wire.toByteArray.toSeq)
    // a cleared frame starts over
    frame.clear()
    frame.appendRow(rows.head, allTypes)
    val one = new ByteArrayOutputStream
    frame.writeTo(one)
    assert(one.toByteArray.toSeq ==
      (utf8("1\n" + stringPathLine(rows.head, allTypes)) :+ '\n'.toByte).toSeq)
  }

  /** A stream that hands out one byte per `read`, however many are asked. */
  private final class OneByteAtATime(bytes: Array[Byte]) extends InputStream {
    private var pos = 0
    override def read(): Int =
      if (pos < bytes.length) { pos += 1; bytes(pos - 1) & 0xff } else -1
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      if (len == 0) 0 else { val c = read(); if (c < 0) -1 else { b(off) = c.toByte; 1 } }
  }

  private def message(body: String): Array[Byte] =
    utf8(s"${body.count(_ == '\n') + 1}\n$body\n")

  test("decoded bodies do not depend on read sizes or buffer refills") {
    val bodies = samples(Gen.listOf(text.map(TsvProtocol.escape)).map(_.mkString("\n")), 200)
    val wire = bodies.flatMap(message).toArray
    def decodeAll(in: InputStream): Seq[String] =
      bodies.map(_ => TsvProtocol.readMessage(in, null, lastMessage = true))
    // the String path decoded the body bytes as UTF-8
    val expected = bodies.map(b => new String(utf8(b), StandardCharsets.UTF_8))
    assert(decodeAll(new ByteArrayInputStream(wire)) == expected)
    assert(decodeAll(new OneByteAtATime(wire)) == expected)
    assert(decodeAll(new PipeIn(new OneByteAtATime(wire))) == expected)
    assert(decodeAll(new PipeIn(new ByteArrayInputStream(wire), 7)) == expected)
    // two messages of ~700 KB: the second crosses the 1 MiB refill
    val big = Seq.tabulate(2)(k => Iterator.tabulate(7000)(j => s"$k-$j\t" + "é" * 50).mkString("\n"))
    val in = new PipeIn(new ByteArrayInputStream(big.flatMap(message).toArray))
    big.foreach { b =>
      val body = TsvProtocol.readBody(in, null, lastMessage = true)
      assert(body.getBytes.toSeq == utf8(b).toSeq)
    }
    assert(in.read() == -1)
  }

  test("'1\\n\\n' is one empty row and '0\\n' is no data") {
    def bytes(s: String) = new ByteArrayInputStream(utf8(s))
    assert(TsvProtocol.readMessage(bytes("1\n\n"), null) == "")
    assert(TsvProtocol.readBody(bytes("1\n\n"), null).numBytes == 0)
    assert(TsvProtocol.readMessage(bytes("0\n"), null) == null)
    assert(TsvProtocol.readBody(bytes("0\n"), null) == null)
    // the stream is left right after the message
    val two = bytes("1\n\n2\na\nb\n")
    assert(TsvProtocol.readMessage(two, null) == "")
    assert(TsvProtocol.readMessage(two, null) == "a\nb")
  }

  test("invalid UTF-8 passes through the byte codec unchanged, both ways") {
    // the String path replaced bad bytes with U+FFFD; the byte path
    // hands the child's bytes on as they are, like the R-DF and Arrow
    // decoders do
    val bad = Array[Int](0xff, 'a', 0xc3, '\t', 0x80).map(_.toByte)
    val resp = utf8("1\n") ++ bad ++ utf8("\n")
    val body = TsvProtocol.readBody(new ByteArrayInputStream(resp), null)
    assert(body.getBytes.toSeq == bad.toSeq)
    val frame = new TsvProtocol.Frame
    frame.appendRow(new GenericInternalRow(Array[Any](UTF8String.fromBytes(bad))),
      StructType(Seq(StructField("c", StringType))))
    val wire = new ByteArrayOutputStream
    frame.writeTo(wire)
    assert(wire.toByteArray.toSeq == (utf8("1\n") ++
      Array[Int](0xff, 'a', 0xc3, '\\', 't', 0x80, '\n').map(_.toByte)).toSeq)
  }
}
