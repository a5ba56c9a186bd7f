package graft.operators

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.operators.clients.JvmChild

/** Round-trip properties of the R-DF wire format over the R triple
  * (int32, double, string): the codec on its own, and whole streams
  * through `Stream.df` and the JVM echo child, whose consecutive chunks
  * differ in NA pattern and string length — what column buffers reused
  * across chunks must not leak from one chunk into the next. R reserves
  * `Int.MinValue` for `NA_integer_`, so int columns never generate it.
  */
class RdfPropertySpec extends SparkSpec with StreamLeakFixture {
  import WireGen._

  private val types = Seq(IntegerType, DoubleType, StringType)

  private val echoCmd = JvmChild.command("graft.operators.clients.RdfEchoChild")

  private def decoded(rows: Array[org.apache.spark.sql.catalyst.InternalRow],
                      schema: StructType): Seq[Seq[Any]] =
    rows.toSeq.map(r => schema.fields.indices.map(i =>
      if (r.isNullAt(i)) null else norm(r.get(i, schema.fields(i).dataType))))

  test("writeChunk then readMessage is the identity on every chunk") {
    samples(cases(types, 40, rNa = true), 150).foreach { c =>
      c.rows.grouped(c.chunk).foreach { chunk =>
        val wire = new ByteArrayOutputStream
        RdfProtocol.writeChunk(wire, chunk.map(internalRow), c.schema)
        val got = RdfProtocol.readMessage(
          new ByteArrayInputStream(wire.toByteArray), null, c.schema)
        assert(decoded(got, c.schema) == chunk.map(_.map(norm)),
          s"schema ${c.schema.simpleString}")
      }
    }
  }

  test("a frame reused across chunks writes the bytes writeChunk writes for each") {
    samples(cases(types, 40, rNa = true), 100).foreach { c =>
      val frame = new RdfProtocol.Frame(c.schema)
      c.rows.grouped(c.chunk).foreach { chunk =>
        val rows = chunk.map(internalRow)
        val reused = new ByteArrayOutputStream
        rows.foreach(frame.appendRow)
        frame.writeTo(reused)
        val fresh = new ByteArrayOutputStream
        RdfProtocol.writeChunk(fresh, rows, c.schema)
        assert(reused.toByteArray.toSeq == fresh.toByteArray.toSeq,
          s"schema ${c.schema.simpleString}")
      }
    }
  }

  /** Stream `rows` through the echo child; the responses in input order. */
  private def echo(schema: StructType, rows: Seq[Seq[Any]], chunk: Int, parts: Int): Seq[Seq[Any]] = {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromSeq), parts), schema)
    Stream.df(df, echoCmd, schema, chunkSize = chunk, reuseChildren = true)
      .orderBy("instance_id", "chunk_no", "value_no")
      .select(schema.fieldNames.toSeq.map(col): _*)
      .collect().toSeq.map(normRow)
  }

  test("Stream.df echo returns random streams exactly, empty partitions included") {
    samples(cases(types, 60, rNa = true), 6).foreach { c =>
      assert(echo(c.schema, c.rows, c.chunk, c.parts) == c.rows.map(_.map(norm)),
        s"schema ${c.schema.simpleString}, chunk ${c.chunk}, parts ${c.parts}")
    }
  }

  test("consecutive chunks with different NA patterns and string lengths come back exactly") {
    val schema = StructType(Seq(StructField("s", StringType), StructField("i", IntegerType),
      StructField("d", DoubleType)))
    val rows = (0 until 40).map { i =>
      (i / 5) % 3 match {
        case 0 => Seq("日本" * (100 + i), i, i * 0.5)
        case 1 => Seq(null, null, null)
        case _ => if (i % 2 == 0) Seq("", null, Double.NaN) else Seq(null, -i, null)
      }
    }
    assert(echo(schema, rows, 5, 1) == rows.map(_.map(norm)))
    assert(echo(schema, rows.reverse, 7, 1) == rows.reverse.map(_.map(norm)))
  }

  test("chunk sizes from 1 to rows + 1 all echo the same rows") {
    val gen = cases(Seq(IntegerType, StringType), 12, rNa = true).suchThat(_.rows.nonEmpty)
    val c = samples(gen, 1).head
    (1 to c.rows.size + 1).foreach { chunk =>
      assert(echo(c.schema, c.rows, chunk, 1) == c.rows.map(_.map(norm)), s"chunk $chunk")
    }
  }
}
