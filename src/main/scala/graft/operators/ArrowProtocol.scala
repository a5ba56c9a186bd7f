package graft.operators

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, EOFException, IOException, InputStream, OutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.channels.Channels

import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.BufferAllocator
import org.apache.arrow.vector._
import org.apache.arrow.vector.ipc.{ArrowStreamReader, ArrowStreamWriter}
import org.apache.arrow.vector.types.FloatingPointPrecision
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema}
import org.apache.spark.sql.types._

/** Arrow IPC wire protocol of the reference stream operator.
  *
  * Framing (reference `src/FeatherInterface.cpp:229-392`): each message is
  * a little-endian uint64 byte length followed by a complete Arrow IPC
  * stream containing exactly one RecordBatch. A zero length from parent to
  * child means end-of-data; zero from child to parent means "no data right
  * now". After EOF the child answers one final message.
  *
  * Types are restricted to int64 / int32 / double / string / binary
  * (reference `src/FeatherInterface.cpp:165-188`, `src/StreamSettings.h:97-116`);
  * nulls travel as Arrow validity bitmaps.
  */
object ArrowProtocol {
  val MaxResponseBytes: Long = 1L << 30

  def arrowField(name: String, dt: DataType): Field = {
    val t: ArrowType = dt match {
      case LongType    => new ArrowType.Int(64, true)
      case IntegerType => new ArrowType.Int(32, true)
      case DoubleType  => new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE)
      case StringType  => ArrowType.Utf8.INSTANCE
      case BinaryType  => ArrowType.Binary.INSTANCE
      case other => throw new IllegalArgumentException(
        s"type $other not supported over the Arrow stream format " +
          "(supported: long, int, double, string, binary)")
    }
    new Field(name, FieldType.nullable(t), java.util.Collections.emptyList())
  }

  def arrowSchema(schema: StructType): Schema =
    new Schema(schema.fields.map(f => arrowField(f.name, f.dataType)).toList.asJava)

  /** Encode one batch of `InternalRow`s (the [[graft.plans.StreamExec]]
    * hot path: strings leave as their UTF-8 bytes directly, no
    * `String` materialization).
    */
  def writeBatchInternal(out: OutputStream, allocator: BufferAllocator,
                         schema: StructType,
                         rows: scala.collection.Seq[org.apache.spark.sql.catalyst.InternalRow]): Unit = {
    val root = VectorSchemaRoot.create(arrowSchema(schema), allocator)
    try {
      root.allocateNew()
      var col = 0
      while (col < schema.length) {
        val vec = root.getVector(col)
        var i = 0
        rows.foreach { row =>
          if (row.isNullAt(col)) vec match {
            case v: BigIntVector    => v.setNull(i)
            case v: IntVector       => v.setNull(i)
            case v: Float8Vector    => v.setNull(i)
            case v: VarCharVector   => v.setNull(i)
            case v: VarBinaryVector => v.setNull(i)
            case v => throw new IllegalStateException(s"unexpected vector $v")
          } else vec match {
            case v: BigIntVector    => v.setSafe(i, row.getLong(col))
            case v: IntVector       => v.setSafe(i, row.getInt(col))
            case v: Float8Vector    => v.setSafe(i, row.getDouble(col))
            case v: VarCharVector   => v.setSafe(i, row.getUTF8String(col).getBytes)
            case v: VarBinaryVector => v.setSafe(i, row.getBinary(col))
            case v => throw new IllegalStateException(s"unexpected vector $v")
          }
          i += 1
        }
        col += 1
      }
      root.setRowCount(rows.length)
      writeRoot(out, root)
    } finally root.close()
  }

  /** Accumulating encoder for the columnar INPUT path: when the
    * operator's child is itself columnar (vectorized parquet scan,
    * another Arrow pipe), values move column-at-a-time from the child
    * vectors into the Arrow builders with no `InternalRow`
    * materialization, no per-row `copy()`, and no per-value virtual
    * dispatch on the schema (one type match per column, then a tight
    * primitive loop). `append` copies, so the source batch may be
    * recycled by the scan after the call — which is what lets one
    * protocol frame span several scan batches and honor the operator's
    * `chunkSize` exactly, like the row path does.
    */
  final class ColumnarFrameBuffer(schema: StructType, allocator: BufferAllocator) {
    private var root = VectorSchemaRoot.create(arrowSchema(schema), allocator)
    root.allocateNew()
    private var n = 0

    def rowCount: Int = n

    def append(batch: org.apache.spark.sql.vectorized.ColumnarBatch,
               start: Int, len: Int): Unit = {
      var col = 0
      while (col < schema.length) {
        val cv = batch.column(col)
        root.getVector(col) match {
          case v: BigIntVector =>
            var i = 0
            while (i < len) {
              if (cv.isNullAt(start + i)) v.setNull(n + i)
              else v.setSafe(n + i, cv.getLong(start + i))
              i += 1
            }
          case v: IntVector =>
            var i = 0
            while (i < len) {
              if (cv.isNullAt(start + i)) v.setNull(n + i)
              else v.setSafe(n + i, cv.getInt(start + i))
              i += 1
            }
          case v: Float8Vector =>
            var i = 0
            while (i < len) {
              if (cv.isNullAt(start + i)) v.setNull(n + i)
              else v.setSafe(n + i, cv.getDouble(start + i))
              i += 1
            }
          case v: VarCharVector =>
            var i = 0
            while (i < len) {
              if (cv.isNullAt(start + i)) v.setNull(n + i)
              else v.setSafe(n + i, cv.getUTF8String(start + i).getBytes)
              i += 1
            }
          case v: VarBinaryVector =>
            var i = 0
            while (i < len) {
              if (cv.isNullAt(start + i)) v.setNull(n + i)
              else v.setSafe(n + i, cv.getBinary(start + i))
              i += 1
            }
          case v => throw new IllegalStateException(s"unexpected vector $v")
        }
        col += 1
      }
      n += len
    }

    /** Frame the buffered rows as one message and reset for the next. */
    def writeAndReset(out: OutputStream): Unit = {
      root.setRowCount(n)
      try writeRoot(out, root)
      finally {
        root.close()
        root = VectorSchemaRoot.create(arrowSchema(schema), allocator)
        root.allocateNew()
        n = 0
      }
    }

    def close(): Unit = root.close()
  }

  /** Frame one filled root as a length-prefixed single-batch IPC stream. */
  private def writeRoot(out: OutputStream, root: VectorSchemaRoot): Unit = {
    val baos = new ByteArrayOutputStream(1 << 12)
    val writer = new ArrowStreamWriter(root, null, Channels.newChannel(baos))
    writer.start(); writer.writeBatch(); writer.end(); writer.close()
    val payload = baos.toByteArray
    writeLen(out, payload.length.toLong)
    out.write(payload)
    out.flush()
  }

  /** End-of-data: a bare zero length (reference `writeFinalFeather`). */
  def writeEof(out: OutputStream): Unit = { writeLen(out, 0L); out.flush() }

  private def writeLen(out: OutputStream, n: Long): Unit = {
    val b = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
    b.putLong(n)
    out.write(b.array())
  }

  /** Read one length-prefixed frame: its payload bytes, or None for a
    * zero-length frame. The length is an unsigned 64-bit value, so one
    * with its top bit set reads as negative here and is rejected along
    * with anything over [[MaxResponseBytes]].
    */
  def readFrame(in: InputStream, child: ChildProcess,
                lastMessage: Boolean): Option[Array[Byte]] = {
    val len = readLen(in, child, lastMessage)
    if (len == 0) return None
    if (len < 0 || len > MaxResponseBytes)
      throw new IOException("response from child exceeds maximum size")
    val payload = new Array[Byte](len.toInt)
    var off = 0
    while (off < payload.length) {
      val r = in.read(payload, off, payload.length - off)
      if (r < 0) {
        if (!lastMessage) child.throwIfDeadAfter(2000)
        throw new EOFException("child stdout closed mid-message")
      }
      off += r
    }
    Some(payload)
  }

  /** Columnar read: return the open ArrowStreamReader positioned on the
    * message's RecordBatch (None for a zero-length frame). The caller
    * owns the reader and must close it after consuming the vectors —
    * this is the zero-copy path ([[graft.plans.StreamExec]] wraps the
    * vectors as Spark `ArrowColumnVector`s). Arity and vector types are
    * validated against the declared schema here; the
    * one-RecordBatch-per-message rule is checked by the caller at close
    * time (checking earlier would clobber the zero-copied buffers).
    */
  def readMessageReader(in: InputStream, child: ChildProcess,
                        allocator: BufferAllocator, declared: StructType,
                        lastMessage: Boolean = false): Option[ArrowStreamReader] = {
    val frame = readFrame(in, child, lastMessage)
    if (frame.isEmpty) return None
    val reader = new ArrowStreamReader(new ByteArrayInputStream(frame.get), allocator)
    try {
      if (!reader.loadNextBatch())
        throw new IOException("Arrow response contained no RecordBatch")
      val root = reader.getVectorSchemaRoot
      if (root.getFieldVectors.size() != declared.length)
        throw new IOException(
          s"child returned ${root.getFieldVectors.size()} columns; " +
            s"declared types expect ${declared.length}")
      root.getFieldVectors.asScala.zip(declared.fields).foreach { case (v, f) =>
        (v, f.dataType) match {
          case (_: BigIntVector, LongType)       => ()
          case (_: IntVector, IntegerType)       => ()
          case (_: IntVector, LongType)          => () // pandas int32 widening
          case (_: Float8Vector, DoubleType)     => ()
          case (_: VarCharVector, StringType)    => ()
          case (_: VarBinaryVector, BinaryType)  => ()
          case (vec, t) => throw new IOException(
            s"child column ${vec.getName} has Arrow type ${vec.getClass.getSimpleName}, " +
              s"declared type is $t")
        }
      }
      Some(reader)
    } catch { case t: Throwable => reader.close(); throw t }
  }

  private def readLen(in: InputStream, child: ChildProcess, lastMessage: Boolean): Long = {
    val b = new Array[Byte](8)
    var off = 0
    while (off < 8) {
      val r = in.read(b, off, 8 - off)
      if (r < 0) {
        if (!lastMessage) child.throwIfDeadAfter(2000)
        throw new EOFException("child stdout closed before message length")
      }
      off += r
    }
    ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN).getLong
  }
}
