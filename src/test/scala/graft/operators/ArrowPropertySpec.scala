package graft.operators

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.operators.clients.JvmChild

/** Round-trip properties of the Arrow wire format over its five types:
  * the codec on its own, and whole streams through `Stream.arrow` and
  * the JVM echo child, whose consecutive chunks differ in null pattern
  * and string length — what a frame buffer reused across chunks must
  * not leak from one chunk into the next.
  */
class ArrowPropertySpec extends SparkSpec with StreamLeakFixture {
  import WireGen._

  private val types = Seq(LongType, IntegerType, DoubleType, StringType, BinaryType)

  private val echoCmd = JvmChild.command("graft.operators.clients.ArrowEchoChild")

  test("writeBatchInternal then readMessageReader is the identity on every chunk") {
    val allocator = new RootAllocator(Long.MaxValue)
    try samples(cases(types, 40), 150).foreach { c =>
      c.rows.grouped(c.chunk).foreach { chunk =>
        val wire = new ByteArrayOutputStream
        ArrowProtocol.writeBatchInternal(wire, allocator, c.schema, chunk.map(internalRow))
        val reader = ArrowProtocol.readMessageReader(
          new ByteArrayInputStream(wire.toByteArray), null, allocator, c.schema).get
        try {
          val vecs = reader.getVectorSchemaRoot.getFieldVectors.asScala.toSeq
          assert(reader.getVectorSchemaRoot.getRowCount == chunk.size)
          val got = chunk.indices.map(i => vecs.map(v => norm(v.getObject(i))))
          assert(got == chunk.map(_.map(norm)), s"schema ${c.schema.simpleString}")
        } finally reader.close()
      }
    } finally allocator.close()
  }

  test("a frame buffer reused across chunks writes the bytes of a fresh one for each") {
    val allocator = new RootAllocator(Long.MaxValue)
    try samples(cases(types, 40), 100).foreach { c =>
      val buf = new ArrowProtocol.ColumnarFrameBuffer(c.schema, allocator)
      try c.rows.grouped(c.chunk).foreach { chunk =>
        val rows = chunk.map(internalRow)
        val reused = new ByteArrayOutputStream
        rows.foreach(buf.appendRow)
        buf.writeTo(reused)
        val fresh = new ByteArrayOutputStream
        ArrowProtocol.writeBatchInternal(fresh, allocator, c.schema, rows)
        assert(reused.toByteArray.toSeq == fresh.toByteArray.toSeq,
          s"schema ${c.schema.simpleString}")
      } finally buf.close()
    } finally allocator.close()
  }

  /** Stream `rows` through the echo child; the responses in input order. */
  private def echo(schema: StructType, rows: Seq[Seq[Any]], chunk: Int, parts: Int): Seq[Seq[Any]] = {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromSeq), parts), schema)
    Stream.arrow(df, echoCmd, schema, chunkSize = chunk, reuseChildren = true)
      .orderBy("instance_id", "chunk_no", "value_no")
      .select(schema.fieldNames.toSeq.map(col): _*)
      .collect().toSeq.map(normRow)
  }

  test("Stream.arrow echo returns random streams exactly, empty partitions included") {
    samples(cases(types, 60), 6).foreach { c =>
      assert(echo(c.schema, c.rows, c.chunk, c.parts) == c.rows.map(_.map(norm)),
        s"schema ${c.schema.simpleString}, chunk ${c.chunk}, parts ${c.parts}")
    }
  }

  test("consecutive chunks with different null patterns and string lengths come back exactly") {
    val schema = StructType(Seq(StructField("s", StringType), StructField("l", LongType),
      StructField("b", BinaryType), StructField("d", DoubleType)))
    // chunk k of 5 rows: long multi-byte strings and no nulls, then all
    // nulls, then short strings with every other row null, ...
    val rows = (0 until 40).map { i =>
      val k = i / 5
      k % 3 match {
        case 0 => Seq("é" * (200 + i), i.toLong, Array.fill(64 + i)(i.toByte), i * 0.5)
        case 1 => Seq(null, null, null, null)
        case _ =>
          if (i % 2 == 0) Seq("", null, Array.emptyByteArray, null)
          else Seq(null, -i.toLong, null, Double.NaN)
      }
    }
    assert(echo(schema, rows, 5, 1) == rows.map(_.map(norm)))
    assert(echo(schema, rows.reverse, 7, 1) == rows.reverse.map(_.map(norm)))
  }

  test("chunk sizes from 1 to rows + 1 all echo the same rows") {
    val gen = cases(Seq(LongType, StringType), 12).suchThat(_.rows.nonEmpty)
    val c = samples(gen, 1).head
    (1 to c.rows.size + 1).foreach { chunk =>
      assert(echo(c.schema, c.rows, chunk, 1) == c.rows.map(_.map(norm)), s"chunk $chunk")
    }
  }

  test("an empty input completes the handshake with no rows") {
    val schema = StructType(Seq(StructField("l", LongType)))
    assert(echo(schema, Nil, 3, 3).isEmpty)
  }
}
