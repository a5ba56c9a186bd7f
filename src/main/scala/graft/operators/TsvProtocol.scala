package graft.operators

import java.io.{ByteArrayOutputStream, IOException, InputStream, OutputStream}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.types._

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

  /** Format one `InternalRow` as a TSV line (the
    * [[graft.plans.StreamExec]] hot path: no external-Row conversion).
    * Binary is rejected, as in the reference's TSV path.
    */
  def formatInternalRow(row: org.apache.spark.sql.catalyst.InternalRow,
                        schema: StructType): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < schema.length) {
      if (i > 0) sb.append('\t')
      if (row.isNullAt(i)) sb.append("\\N")
      else schema.fields(i).dataType match {
        case StringType  => sb.append(escape(row.getUTF8String(i).toString))
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
        case dt: DecimalType =>
          sb.append(row.getDecimal(i, dt.precision, dt.scale).toString)
        case DateType =>
          sb.append(org.apache.spark.sql.catalyst.util.DateTimeUtils
            .toJavaDate(row.getInt(i)).toString)
        case TimestampType =>
          sb.append(org.apache.spark.sql.catalyst.util.DateTimeUtils
            .toJavaTimestamp(row.getLong(i)).toString)
        case BinaryType =>
          throw new IllegalArgumentException(
            "binary attributes are not supported over TSV; use the Arrow format")
        case other =>
          throw new IllegalArgumentException(
            s"type $other is not supported over the TSV stream format")
      }
      i += 1
    }
    sb.toString
  }

  /** Write one data message: header line with the row count, then rows. */
  def writeChunk(out: OutputStream, lines: Iterator[String], n: Int): Unit = {
    out.write((n.toString + "\n").getBytes(StandardCharsets.UTF_8))
    lines.foreach { l =>
      out.write(l.getBytes(StandardCharsets.UTF_8))
      out.write('\n')
    }
    out.flush()
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
    val header = new StringBuilder
    var c = readByte(in, child, lastMessage)
    while (c != '\n') {
      if (c < '0' || c > '9')
        throw new IOException(s"malformed TSV response header (byte $c)")
      header.append(c.toChar)
      if (header.length > 19) throw new IOException("TSV header overflow")
      c = readByte(in, child, lastMessage)
    }
    val n = java.lang.Long.parseLong(header.toString)
    if (n == 0) return null
    val buf = new ByteArrayOutputStream(1 << 10)
    var newlines = 0L
    while (newlines < n) {
      val b = readByte(in, child, lastMessage)
      if (b == '\n') newlines += 1
      buf.write(b)
      if (buf.size() > ChildProcess.MaxMessageBytes)
        throw new IOException("response from child exceeds maximum size")
    }
    val s = buf.toString(StandardCharsets.UTF_8.name())
    s.substring(0, s.length - 1) // strip final newline, as the reference does
  }
}
