package graft.operators

import java.io.{IOException, InputStream, OutputStream}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** TSV wire protocol of the reference stream operator.
  *
  * Framing (reference `src/TSVInterface.cpp:163-362`, `README.md:31-99`):
  * each message is `"<nLines>\n"` followed by exactly nLines
  * tab-separated lines. Parent→child `0\n` means end-of-data; the child
  * then answers one final message. Child→parent `0\n` means "no data
  * right now" and produces no output cell.
  *
  * Value encoding (reference `src/TSVInterface.cpp:189-292`):
  * null → `\N`; NaN → `nan`; strings escape `\n` `\t` `\r` `\\`;
  * booleans `true`/`false`; numerics in round-trip decimal form.
  *
  * Both directions work on bytes. [[Frame]] formats rows straight from
  * their `UTF8String` bytes into one reusable buffer that goes out in
  * one write; [[readBody]] scans a response for its newlines inside a
  * [[PipeIn]]'s buffer and returns it as a `UTF8String`. Bytes that are
  * not valid UTF-8 pass through unchanged both ways. The `String`
  * functions ([[formatInternalRow]], [[writeChunk]], [[readMessage]])
  * wrap the same code for child-side clients and tests.
  */
object TsvProtocol {
  import ChildProcess.readByte

  def escape(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '\n' => sb.append("\\n")
        case '\t' => sb.append("\\t")
        case '\r' => sb.append("\\r")
        case '\\' => sb.append("\\\\")
        case c    => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** Inverse of `escape` — what a child-side consumer applies to cell
    * text (the reference clients do the same when they need raw values).
    */
  def unescape(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'n'  => sb.append('\n'); i += 2
          case 't'  => sb.append('\t'); i += 2
          case 'r'  => sb.append('\r'); i += 2
          case '\\' => sb.append('\\'); i += 2
          case _    => sb.append(c); i += 1
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Format one `InternalRow` as a TSV line: the text of the bytes
    * [[Frame.appendRow]] puts on the wire, without the newline.
    */
  def formatInternalRow(row: InternalRow, schema: StructType): String = {
    val f = new Frame(64)
    f.appendCells(row, schema)
    new String(f.body.array, 0, f.body.length, StandardCharsets.UTF_8)
  }

  /** Write one data message: header line with the row count, then rows. */
  def writeChunk(out: OutputStream, lines: Iterator[String], n: Int): Unit = {
    val f = new Frame(1 << 12)
    lines.foreach { l =>
      val b = l.getBytes(StandardCharsets.UTF_8)
      f.body.write(b, 0, b.length)
      f.body.write('\n')
    }
    f.writeTo(out, n)
  }

  /** Write the end-of-data message (`0\n`). */
  def writeEof(out: OutputStream): Unit = {
    out.write('0'); out.write('\n'); out.flush()
  }

  /** Read one response message; returns the body without the header and
    * without the trailing newline, or null for a `0\n` "no data right
    * now" response (which produces no output row). Null — not empty
    * string — because `1\n\n` is a legitimate one-line response whose
    * content is empty and must still materialize a row.
    */
  def readMessage(in: InputStream, child: ChildProcess,
                  lastMessage: Boolean = false): String = {
    val body = readBody(in, child, lastMessage)
    if (body == null) null else body.toString
  }

  /** [[readMessage]] on bytes: the body as the child wrote it, invalid
    * UTF-8 included, over a fresh array (the row keeps it). The header
    * is digits only and at most 19 of them; the body is read through
    * its n-th newline and capped at [[ChildProcess.MaxMessageBytes]].
    */
  def readBody(in: InputStream, child: ChildProcess,
               lastMessage: Boolean = false): UTF8String = {
    val p = PipeIn.of(in)
    var n = 0L
    var digits = 0
    var c = readByte(p, child, lastMessage)
    while (c != '\n') {
      if (c < '0' || c > '9')
        throw new IOException(s"malformed TSV response header (byte $c)")
      digits += 1
      if (digits > 19) throw new IOException("TSV header overflow")
      if (n > (Long.MaxValue - (c - '0')) / 10)
        throw new NumberFormatException("TSV header exceeds a long")
      n = n * 10 + (c - '0')
      c = readByte(p, child, lastMessage)
    }
    if (digits == 0) throw new NumberFormatException("empty TSV header")
    if (n == 0) return null
    val body = new ByteSink(0)
    if (!p.transferLines(n, body, ChildProcess.MaxMessageBytes))
      ChildProcess.closed(child, lastMessage, "mid-message")
    // strip the final newline, as the reference does
    UTF8String.fromBytes(body.array, 0, body.length - 1)
  }

  /** One outgoing data message, built in place and reused: rows are
    * formatted straight from their `UTF8String` bytes and escaped on
    * bytes — `\n \t \r \\` are ASCII and every byte of a multi-byte
    * UTF-8 character is >= 0x80, so no character can contain one.
    * Numbers, `\N` and `nan` keep `Long/Double/Float.toString`'s text,
    * built without a `String`; decimals, dates and timestamps keep
    * their `toString`. Binary is rejected, as in the reference's TSV
    * path.
    */
  final class Frame(initial: Int = 1 << 16) {
    private[TsvProtocol] val body = new ByteSink(initial)
    private val header = new ByteSink(24)
    private val number = new java.lang.StringBuilder(32)
    private var lines = 0

    def rows: Int = lines

    def clear(): Unit = { body.reset(); lines = 0 }

    /** One row and its newline. */
    def appendRow(row: InternalRow, schema: StructType): Unit = {
      appendCells(row, schema)
      body.write('\n')
      lines += 1
    }

    /** `"<rows>\n"`, then the rows in one write, then flush. */
    def writeTo(out: OutputStream): Unit = writeTo(out, lines)

    private[TsvProtocol] def writeTo(out: OutputStream, n: Int): Unit = {
      header.reset()
      header.writeDecimal(n)
      header.write('\n')
      header.writeTo(out)
      body.writeTo(out)
      out.flush()
    }

    private[TsvProtocol] def appendCells(row: InternalRow, schema: StructType): Unit = {
      var i = 0
      while (i < schema.length) {
        if (i > 0) body.write('\t')
        if (row.isNullAt(i)) { body.write('\\'); body.write('N') }
        else schema.fields(i).dataType match {
          case StringType  => appendEscaped(row.getUTF8String(i))
          case LongType    => body.writeDecimal(row.getLong(i))
          case IntegerType => body.writeDecimal(row.getInt(i))
          case DoubleType  =>
            val d = row.getDouble(i)
            if (d.isNaN) body.writeAscii("nan")
            else { number.setLength(0); body.writeAscii(number.append(d)) }
          case FloatType   =>
            val f = row.getFloat(i)
            if (f.isNaN) body.writeAscii("nan")
            else { number.setLength(0); body.writeAscii(number.append(f)) }
          case BooleanType => body.writeAscii(if (row.getBoolean(i)) "true" else "false")
          case ShortType   => body.writeDecimal(row.getShort(i))
          case ByteType    => body.writeDecimal(row.getByte(i))
          case dt: DecimalType =>
            appendText(row.getDecimal(i, dt.precision, dt.scale).toString)
          case DateType =>
            appendText(DateTimeUtils.toJavaDate(row.getInt(i)).toString)
          case TimestampType =>
            appendText(DateTimeUtils.toJavaTimestamp(row.getLong(i)).toString)
          case BinaryType =>
            throw new IllegalArgumentException(
              "binary attributes are not supported over TSV; use the Arrow format")
          case other =>
            throw new IllegalArgumentException(
              s"type $other is not supported over the TSV stream format")
        }
        i += 1
      }
    }

    private def appendText(s: String): Unit = {
      val b = s.getBytes(StandardCharsets.UTF_8)
      body.write(b, 0, b.length)
    }

    /** Copy the raw bytes, then widen each escaped byte in place from the
      * end (only when the cell has one).
      */
    private def appendEscaped(s: UTF8String): Unit = {
      val n = s.numBytes
      body.ensure(n)
      val start = body.length
      s.writeToMemory(body.array, Platform.BYTE_ARRAY_OFFSET + start)
      body.advance(n)
      val end = start + n
      var k = 0
      var i = start
      while (i < end) {
        if (escaped(body.array(i)) != 0) k += 1
        i += 1
      }
      if (k > 0) {
        body.ensure(k)
        val a = body.array
        var src = end - 1
        var dst = end + k - 1
        while (src >= start) {
          val b = a(src)
          val e = escaped(b)
          if (e != 0) { a(dst) = e; a(dst - 1) = '\\'.toByte; dst -= 2 }
          else { a(dst) = b; dst -= 1 }
          src -= 1
        }
        body.advance(k)
      }
    }
  }

  /** The letter after the backslash for a byte TSV escapes, else 0. */
  private def escaped(b: Byte): Byte = (b: Int) match {
    case '\n'  => 'n'.toByte
    case '\t'  => 't'.toByte
    case '\r'  => 'r'.toByte
    case '\\' => '\\'.toByte
    case _     => 0
  }
}
