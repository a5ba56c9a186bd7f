package graft.operators

import java.io.{ByteArrayInputStream, IOException, InputStream, OutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.channels.WritableByteChannel

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

  /** The inverse of [[arrowField]]: the Spark type a response vector
    * decodes to, or None for a vector type the format does not carry.
    */
  private[operators] def sparkType(v: FieldVector): Option[DataType] = v match {
    case _: BigIntVector    => Some(LongType)
    case _: IntVector       => Some(IntegerType)
    case _: Float8Vector    => Some(DoubleType)
    case _: VarCharVector   => Some(StringType)
    case _: VarBinaryVector => Some(BinaryType)
    case _                  => None
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
    private val frame = new ByteSink(1 << 16)
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
      try writeRoot(out, root, frame)
      finally {
        root.close()
        root = VectorSchemaRoot.create(arrowSchema(schema), allocator)
        root.allocateNew()
        n = 0
      }
    }

    def close(): Unit = root.close()
  }

  /** Frame one filled root as a length-prefixed single-batch IPC stream:
    * serialized into `frame` (reusable; its contents are replaced) after
    * an 8-byte gap, the length filled into the gap, and the whole frame
    * written once.
    */
  private[operators] def writeRoot(out: OutputStream, root: VectorSchemaRoot,
                                   frame: ByteSink = new ByteSink(1 << 12)): Unit = {
    frame.reset()
    frame.write(NoLength, 0, 8)
    val writer = new ArrowStreamWriter(root, null, frame: WritableByteChannel)
    writer.start(); writer.writeBatch(); writer.end(); writer.close()
    ByteBuffer.wrap(frame.array, 0, 8).order(ByteOrder.LITTLE_ENDIAN)
      .putLong(frame.length - 8L)
    frame.writeTo(out)
    out.flush()
  }

  /** End-of-data: a bare zero length (reference `writeFinalFeather`). */
  def writeEof(out: OutputStream): Unit = { out.write(NoLength); out.flush() }

  private val NoLength = new Array[Byte](8)

  /** Read one length-prefixed frame: its payload bytes, or None for a
    * zero-length frame. The length is an unsigned 64-bit value, so one
    * with its top bit set reads as negative here and is rejected along
    * with anything over [[ChildProcess.MaxMessageBytes]].
    */
  def readFrame(in: InputStream, child: ChildProcess,
                lastMessage: Boolean): Option[Array[Byte]] = {
    val len = ByteBuffer.wrap(ChildProcess.readFully(in, new Array[Byte](8), child,
      lastMessage, "before message length")).order(ByteOrder.LITTLE_ENDIAN).getLong
    if (len == 0) return None
    if (len < 0 || len > ChildProcess.MaxMessageBytes)
      throw new IOException("response from child exceeds maximum size")
    Some(ChildProcess.readFully(in, new Array[Byte](len.toInt), child, lastMessage))
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
                        lastMessage: Boolean = false): Option[ArrowStreamReader] =
    readFrame(in, child, lastMessage).map(loadBatch(_, allocator, { root =>
      if (root.getFieldVectors.size() != declared.length)
        throw new IOException(
          s"child returned ${root.getFieldVectors.size()} columns; " +
            s"declared types expect ${declared.length}")
      root.getFieldVectors.asScala.zip(declared.fields).foreach { case (v, f) =>
        sparkType(v) match {
          case Some(t) if t == f.dataType => ()
          case Some(IntegerType) if f.dataType == LongType => () // pandas int32 widening
          case _ => throw new IOException(
            s"child column ${v.getName} has Arrow type ${v.getClass.getSimpleName}, " +
              s"declared type is ${f.dataType}")
        }
      }
    }))

  /** Open one frame's IPC stream positioned on its RecordBatch and run
    * `check` on it; the caller owns (and closes) the returned reader.
    */
  private[operators] def loadBatch(payload: Array[Byte], allocator: BufferAllocator,
                                   check: VectorSchemaRoot => Unit = _ => ()): ArrowStreamReader = {
    val reader = new ArrowStreamReader(new ByteArrayInputStream(payload), allocator)
    try {
      if (!reader.loadNextBatch())
        throw new IOException("Arrow response contained no RecordBatch")
      check(reader.getVectorSchemaRoot)
      reader
    } catch { case t: Throwable => reader.close(); throw t }
  }
}
