package graft.operators

import java.io.{IOException, InputStream, OutputStream}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The R-data-frame wire format (`format=df`): each message is a valid
  * R `serialize(..., xdr = FALSE, version = 2)` byte stream holding a
  * named list of equal-length columns — exactly what the reference's
  * host engine writes and what an unmodified reference R client
  * (`r_pkg/R/exported.R:84-107`, `map`/`getChunk` with
  * `unserialize(stdin)` / `serialize(..., xdr=FALSE, version=2)`)
  * consumes and produces.
  *
  * Wire layout (reference `src/DFInterface.cpp:168-275` encode,
  * `:285-447` decode; constants `:170-179`):
  *  - 14-byte header: `"B\n"`, serialization version 2 (int32 LE),
  *    writer version, min reader version (R 2.3.0);
  *  - VECSXP flags with the has-attributes bit (`13 02 00 00`), int32
  *    column count;
  *  - per column: SXP flags (`0d`/`0e`/`10` = int/real/string), int32
  *    row count, then the values — int32 LE, double LE, or per-string
  *    `CHARSXP` flags (`09 00 04 00`) + int32 byte length + UTF-8
  *    bytes;
  *  - the `names` attribute as an R pairlist: LISTSXP-with-tag flags,
  *    the `names` symbol, a STRSXP of column names, NILVALUE
  *    terminator (`src/DFInterface.cpp:177-179` `R_TAIL_HDR`/`R_TAIL`).
  *
  * NA sentinels (`src/DFInterface.cpp:116-118,206-216`): doubles use
  * R's NA_real_ payload `0x7ff00000000007a2` (compared by raw bits,
  * like the reference's `memcmp` — an ordinary NaN is DATA, not NA);
  * int32 uses INT32_MIN (R's NA_integer_); strings use length −1.
  *
  * An EMPTY message — attribute-less VECSXP (`13 00 00 00`) with
  * column count 0, i.e. R's `serialize(list())` — is the end-of-data
  * marker parent→child and the "no data now" / final-answer-done
  * marker child→parent (`writeFinalDF`/`readDF` `:277-299`).
  *
  * Types: R data frames carry exactly int32 / double / character, so
  * the wire supports IntegerType/ShortType (widened like the
  * reference's TE_UINT16), DoubleType, and StringType. LongType is
  * rejected with guidance — R has no int64 (the reference likewise
  * refuses, `src/StreamSettings.h` allows types=double,string,int32).
  */
object RdfProtocol {
  import ChildProcess.{readByte, readFully}

  /** `"B\n"` + version 2 + R 3.2.0 writer + R 2.3.0 min reader, the
    * exact bytes of `serialize(..., xdr=FALSE, version=2)` output and
    * of the reference's `R_HEADER` (`src/DFInterface.cpp:170`).
    */
  val Header: Array[Byte] = Array(
    0x42, 0x0a, 0x02, 0x00, 0x00, 0x00, 0x00, 0x02,
    0x03, 0x00, 0x00, 0x03, 0x02, 0x00).map(_.toByte)

  private val VECSXP = 0x13
  private val INTSXP = 0x0d
  private val REALSXP = 0x0e
  private val STRSXP = 0x10
  private val CHARSXP = 0x09
  private val LISTSXP = 0x02
  private val SYMSXP = 0x01
  private val NILVALUE = 0xfe
  private val HasAttrBit = 0x200
  private val HasTagBit = 0x400
  /** ASCII-level CHARSXP flags, as the reference writes for every
    * string (`R_CHARSXP`, `src/DFInterface.cpp:175`).
    */
  private val CharsxpFlags = 0x00040009

  val NaInt: Int = Int.MinValue
  /** Raw bit pattern of R's NA_real_ (low word 1954 — the year). */
  val NaRealBits: Long = 0x7ff00000000007a2L

  def supported(dt: DataType): Boolean = dt match {
    case IntegerType | ShortType | DoubleType | StringType => true
    case _ => false
  }

  /** Declared child-output columns must be exactly the R triple (Short
    * is fine INBOUND — widened like the reference's TE_UINT16 — but a
    * child can only ever answer int32/double/character).
    */
  def checkDeclared(schema: StructType): Unit =
    schema.fields.foreach { f =>
      f.dataType match {
        case IntegerType | DoubleType | StringType => ()
        case other => throw new IllegalArgumentException(
          s"declared output column '${f.name}' has type ${other.simpleString}, " +
            "not supported over the R df stream format (it returns int/double/string only)")
      }
    }

  def checkSchema(schema: StructType, role: String): Unit =
    schema.fields.foreach { f =>
      if (!supported(f.dataType)) {
        val hint = f.dataType match {
          case LongType => "; R data frames have no int64 — cast to double or int"
          case FloatType => "; cast to double"
          case _ => ""
        }
        throw new IllegalArgumentException(
          s"$role column '${f.name}' has type ${f.dataType.simpleString}, " +
            s"unsupported by the R df format (int/double/string only)$hint")
      }
    }

  // ---- little-endian primitives ----

  private def writeInt(out: OutputStream, v: Int): Unit = {
    out.write(v & 0xff); out.write((v >>> 8) & 0xff)
    out.write((v >>> 16) & 0xff); out.write((v >>> 24) & 0xff)
  }

  private def writeCharsxp(out: OutputStream, s: UTF8String): Unit = {
    writeInt(out, CharsxpFlags)
    writeInt(out, s.numBytes)
    s.writeTo(out)
  }

  // ---- encode (parent → child), reference writeDF:181-275 ----

  /** Write one data message: the rows as a named list of typed columns
    * (column-major, like the reference's per-attribute chunk loop).
    * `rows` must be materialized (it is traversed once per column).
    * Numeric columns are staged in one little-endian byte array and
    * written in a single call — per-value write(byte) calls through
    * the stream dominated the encode cost at chunk sizes in the
    * thousands (4 calls per int, 8 per double).
    */
  def writeChunk(out: OutputStream, rows: IndexedSeq[InternalRow],
                 schema: StructType): Unit = {
    out.write(Header)
    writeInt(out, VECSXP | HasAttrBit)
    writeInt(out, schema.length)
    val n = rows.length
    var c = 0
    while (c < schema.length) {
      schema.fields(c).dataType match {
        case StringType =>
          writeInt(out, STRSXP)
          writeInt(out, n)
          var j = 0
          while (j < n) {
            if (rows(j).isNullAt(c)) { writeInt(out, CharsxpFlags); writeInt(out, -1) }
            else writeCharsxp(out, rows(j).getUTF8String(c))
            j += 1
          }
        case DoubleType =>
          writeInt(out, REALSXP)
          writeInt(out, n)
          val buf = new Array[Byte](8 * n)
          var j = 0
          while (j < n) {
            val bits =
              if (rows(j).isNullAt(c)) NaRealBits
              else java.lang.Double.doubleToRawLongBits(rows(j).getDouble(c))
            putLongLe(buf, 8 * j, bits)
            j += 1
          }
          out.write(buf)
        case it @ (IntegerType | ShortType) =>
          writeInt(out, INTSXP)
          writeInt(out, n)
          val buf = new Array[Byte](4 * n)
          var j = 0
          while (j < n) {
            val v =
              if (rows(j).isNullAt(c)) NaInt
              else if (it == ShortType) rows(j).getShort(c).toInt
              else rows(j).getInt(c)
            putIntLe(buf, 4 * j, v)
            j += 1
          }
          out.write(buf)
        case other =>
          throw new IllegalArgumentException(
            s"type $other is not supported over the R df stream format")
      }
      c += 1
    }
    writeNames(out, schema.fieldNames)
    out.flush()
  }

  private def putIntLe(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = v.toByte
    b(off + 1) = (v >>> 8).toByte
    b(off + 2) = (v >>> 16).toByte
    b(off + 3) = (v >>> 24).toByte
  }

  private def putLongLe(b: Array[Byte], off: Int, v: Long): Unit = {
    var i = 0
    while (i < 8) { b(off + i) = (v >>> (8 * i)).toByte; i += 1 }
  }

  /** The `names` attribute pairlist (reference `R_TAIL_HDR` +
    * name STRSXP + `R_TAIL`, `src/DFInterface.cpp:262-274`).
    */
  private def writeNames(out: OutputStream, names: Array[String]): Unit = {
    writeInt(out, LISTSXP | HasTagBit)
    writeInt(out, SYMSXP)
    writeCharsxp(out, UTF8String.fromString("names"))
    writeInt(out, STRSXP)
    writeInt(out, names.length)
    names.foreach(n => writeCharsxp(out, UTF8String.fromString(n)))
    writeInt(out, NILVALUE)
  }

  /** End-of-data: R's `serialize(list())` — attribute-less empty list
    * (reference `writeFinalDF`, `src/DFInterface.cpp:277-283`).
    */
  def writeEof(out: OutputStream): Unit = {
    out.write(Header)
    writeInt(out, VECSXP)
    writeInt(out, 0)
    out.flush()
  }

  // ---- decode (child → parent), reference readDF:285-447 ----

  /** Read one message against the declared schema. Returns null for an
    * empty (0-column) message — the child's "no data right now" or its
    * final-answer-done marker. Every decoded column must match the
    * declared type and the first column's length (reference
    * `readDF:301-326` checks).
    */
  def readMessage(in: InputStream, child: ChildProcess, declared: StructType,
                  lastMessage: Boolean = false): Array[InternalRow] = {
    val m = decode(in, child, Some(declared), lastMessage)
    if (m == null) null else m._2
  }

  /** Child-side / schema-agnostic decode: infer each column's Spark
    * type from its SXP tag and the field names from the `names`
    * attribute — the JVM analog of R's `data.frame(unserialize(con))`.
    * Returns null for the empty end-of-data message. Used by the JVM
    * test clients (and usable for `format=df` schema inference).
    */
  def readDynamic(in: InputStream): (StructType, Array[InternalRow]) =
    decode(in, null, None, lastMessage = true)

  /** The one message decoder: header, list flags, the columns, then
    * the `names` pairlist. With a `declared` schema the column count and
    * each column's SEXP are checked before that column's values are
    * read; without one the types come from the SEXP tags.
    */
  private def decode(in: InputStream, child: ChildProcess, declared: Option[StructType],
                     lastMessage: Boolean): (StructType, Array[InternalRow]) = {
    val head = readFully(in, new Array[Byte](Header.length), child, lastMessage)
    if (head(0) != 'B' || head(1) != '\n' || readIntAt(head, 2) != 2) {
      val printable = head.take(3).map(b => if (b >= 32 && b < 127) b.toChar.toString else "·").mkString
      throw new IOException(
        s"malformed R serialization header from child (${head.take(3).mkString(",")} = \"$printable\"); " +
          "the child wrote non-protocol bytes to stdout — stdout is the reserved data channel, " +
          "so route diagnostics (including JVM -Xlog output) to stderr")
    }
    val flags = readInt(in, child, lastMessage)
    if ((flags & 0xff) != VECSXP)
      throw new IOException(f"expected an R list response, got SEXP flags 0x$flags%08x")
    val numCols = readInt(in, child, lastMessage)
    if (numCols == 0) return null
    declared.foreach { d =>
      if (numCols != d.length)
        throw new IOException(
          s"received incorrect number of columns: $numCols (declared ${d.length})")
    }
    var numRows = -1
    val types = new Array[DataType](numCols)
    val cols = new Array[Array[Any]](numCols)
    var c = 0
    while (c < numCols) {
      val sxp = readInt(in, child, lastMessage) & 0xff
      val t = sxp match {
        case INTSXP => IntegerType
        case REALSXP => DoubleType
        case STRSXP => StringType
        case _ => null
      }
      declared match {
        case Some(d) if t != d.fields(c).dataType =>
          throw new IOException(
            f"column '${d.fields(c).name}' arrived as SEXP 0x$sxp%02x, " +
              f"declared ${d.fields(c).dataType.simpleString}")
        case None if t == null =>
          throw new IOException(f"unsupported column SEXP 0x$sxp%02x in R df message")
        case _ => ()
      }
      types(c) = t
      val n = readInt(in, child, lastMessage)
      if (c == 0) {
        if (n < 0) throw new IOException("received negative number of rows")
        numRows = n
      } else if (n != numRows)
        throw new IOException(s"received lists of different sizes ($n vs $numRows)")
      if ((if (t == DoubleType) 8L else 4L) * n > ChildProcess.MaxMessageBytes)
        throw new IOException("response from child exceeds maximum size")
      val vals = new Array[Any](n)
      t match {
        case DoubleType =>
          val buf = readFully(in, new Array[Byte](8 * n), child, lastMessage)
          var j = 0
          while (j < n) {
            val bits = readLongAt(buf, 8 * j)
            vals(j) = if (bits == NaRealBits) null
                      else java.lang.Double.longBitsToDouble(bits)
            j += 1
          }
        case IntegerType =>
          val buf = readFully(in, new Array[Byte](4 * n), child, lastMessage)
          var j = 0
          while (j < n) {
            val v = readIntAt(buf, 4 * j)
            vals(j) = if (v == NaInt) null else v
            j += 1
          }
        case _ =>
          var j = 0
          while (j < n) {
            val bytes = readCharsxp(in, child, lastMessage)
            vals(j) = if (bytes == null) null else UTF8String.fromBytes(bytes)
            j += 1
          }
      }
      cols(c) = vals
      c += 1
    }
    val names =
      if ((flags & HasAttrBit) != 0) readNames(in, child, numCols, lastMessage)
      else Array.tabulate(numCols)(i => s"c$i")
    val rows = new Array[InternalRow](numRows)
    var j = 0
    while (j < numRows) {
      val fields = new Array[Any](numCols)
      var i = 0
      while (i < numCols) { fields(i) = cols(i)(j); i += 1 }
      rows(j) = new GenericInternalRow(fields)
      j += 1
    }
    (StructType(names.zip(types).map { case (nm, t) =>
      StructField(nm, t, nullable = true) }), rows)
  }

  /** The `names` attribute pairlist (reference `R_TAIL_HDR` + name
    * STRSXP + `R_TAIL`, read by fixed sizes at `readDF:438-446`).
    */
  private def readNames(in: InputStream, child: ChildProcess, numCols: Int,
                        lastMessage: Boolean): Array[String] = {
    val listFlags = readInt(in, child, lastMessage)
    if ((listFlags & 0xff) != LISTSXP || (listFlags & HasTagBit) == 0)
      throw new IOException(f"expected a names pairlist, got flags 0x$listFlags%08x")
    val symFlags = readInt(in, child, lastMessage)
    if ((symFlags & 0xff) != SYMSXP)
      throw new IOException(f"expected the names symbol, got flags 0x$symFlags%08x")
    readCharsxp(in, child, lastMessage)
    val strFlags = readInt(in, child, lastMessage)
    if ((strFlags & 0xff) != STRSXP)
      throw new IOException(f"expected a names vector, got flags 0x$strFlags%08x")
    val n = readInt(in, child, lastMessage)
    if (n != numCols)
      throw new IOException(s"names vector has $n entries for $numCols columns")
    val names = Array.fill(n) {
      val bytes = readCharsxp(in, child, lastMessage)
      if (bytes == null) "NA" else new String(bytes, StandardCharsets.UTF_8)
    }
    val tail = readInt(in, child, lastMessage)
    if ((tail & 0xff) != NILVALUE)
      throw new IOException(f"expected pairlist terminator, got flags 0x$tail%08x")
    names
  }

  /** One CHARSXP's bytes, or null for NA (length −1). */
  private def readCharsxp(in: InputStream, child: ChildProcess,
                          lastMessage: Boolean): Array[Byte] = {
    val flags = readInt(in, child, lastMessage)
    if ((flags & 0xff) != CHARSXP)
      throw new IOException(f"expected CHARSXP, got flags 0x$flags%08x")
    val len = readInt(in, child, lastMessage)
    if (len < -1 || len > ChildProcess.MaxMessageBytes)
      throw new IOException(s"error reading string size ($len)")
    if (len == -1) null else readFully(in, new Array[Byte](len), child, lastMessage)
  }

  /** One little-endian int32, byte by byte: no array per value. */
  private def readInt(in: InputStream, child: ChildProcess,
                      lastMessage: Boolean): Int =
    readByte(in, child, lastMessage) | (readByte(in, child, lastMessage) << 8) |
      (readByte(in, child, lastMessage) << 16) | (readByte(in, child, lastMessage) << 24)

  private def readIntAt(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

  private def readLongAt(b: Array[Byte], off: Int): Long = {
    var v = 0L
    var i = 7
    while (i >= 0) { v = (v << 8) | (b(off + i) & 0xff); i -= 1 }
    v
  }
}
