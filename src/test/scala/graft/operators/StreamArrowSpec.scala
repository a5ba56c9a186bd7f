package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec

/** Arrow IPC pipe protocol tests: round-trip through a real child JVM
  * speaking the reference framing (length-prefixed single-batch IPC
  * streams), mirroring the reference's `tests/test_low.py` type matrix.
  */
class StreamArrowSpec extends SparkSpec {
  import spark.implicits._

  /** Launch the in-repo echo client as a real OS child process. */
  private def echoCmd: String =
    graft.operators.clients.JvmChild.command("graft.operators.clients.ArrowEchoChild")

  test("int64/double/string/binary round-trip with nulls (type matrix)") {
    val schema = StructType(Seq(
      StructField("i", LongType), StructField("d", DoubleType),
      StructField("s", StringType), StructField("b", BinaryType)))
    val rows = Seq(
      Row(1L, 1.5, "one", Array[Byte](1, 2, 3)),
      Row(null, null, null, null),
      Row(3L, Double.NaN, "three\nwith\tctrl", Array[Byte]()))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
    val out = Stream.arrow(df, echoCmd, schema).collect()
    assert(out.length == 3)
    val sorted = out.sortBy(r => Option(r.getAs[java.lang.Long]("value_no")).map(_.toLong).get)
    assert(sorted(0).getLong(0) == 1L && sorted(0).getString(2) == "one")
    assert(sorted(0).getAs[Array[Byte]](3).toSeq == Seq[Byte](1, 2, 3))
    assert(sorted(1).isNullAt(0) && sorted(1).isNullAt(1) &&
      sorted(1).isNullAt(2) && sorted(1).isNullAt(3))
    assert(sorted(2).getDouble(1).isNaN)
    assert(sorted(2).getString(2) == "three\nwith\tctrl")
    // lineage columns present
    assert(out.head.schema.fieldNames.toSeq
      .containsSlice(Seq("instance_id", "chunk_no", "value_no")))
  }

  test("multi-chunk echo preserves every row across partitions") {
    val df = spark.range(0, 500).repartition(4)
      .select($"id", ($"id" * 2).cast("double").as("d"))
    val declared = StructType(Seq(
      StructField("id", LongType), StructField("d", DoubleType)))
    val out = Stream.arrow(df, echoCmd, declared, chunkSize = 64)
    assert(out.count() == 500)
    assert(out.agg(sum($"id")).head.getLong(0) == (0L until 500L).sum)
    assert(out.select($"instance_id").distinct().count() == 4)
    // chunk_no increments per message within a partition
    assert(out.groupBy($"instance_id", $"chunk_no").count().count() >= 4)
  }

  test("declared-type mismatch is a protocol error") {
    val df = spark.range(0, 10).coalesce(1).select($"id")
    val wrong = StructType(Seq(StructField("id", StringType)))
    val e = intercept[Exception] { Stream.arrow(df, echoCmd, wrong).count() }
    def all(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: all(t.getCause)
    assert(all(e).exists(m => m != null && m.contains("declared type")))
  }

  test("empty partitions still complete the EOF handshake") {
    val df = spark.range(0, 3).repartition(8).select($"id")
    val declared = StructType(Seq(StructField("id", LongType)))
    assert(Stream.arrow(df, echoCmd, declared).count() == 3)
  }

  test("child that exits early fails the query with the child diagnosis") {
    val df = spark.range(0, 10).coalesce(1).select($"id")
    val declared = StructType(Seq(StructField("id", LongType)))
    val e = intercept[Exception] { Stream.arrow(df, "exit 3", declared).count() }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("exited prematurely")), msgs(e).mkString(" | "))
  }

  test("frame lengths past the cap or with the top bit set are rejected") {
    // uint64 lengths 2^63+16 and 2^64-1 read as negative longs; 2^30+1
    // is one byte over the 1 GiB cap. None may be trusted as a length.
    def frame(len: Long): java.io.InputStream = {
      val b = java.nio.ByteBuffer.allocate(8 + 16).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.putLong(len)
      new java.io.ByteArrayInputStream(b.array())
    }
    val allocator = new org.apache.arrow.memory.RootAllocator(Long.MaxValue)
    try {
      for (len <- Seq(Long.MinValue + 16, -1L, (1L << 30) + 1)) {
        val e1 = intercept[java.io.IOException] {
          ArrowProtocol.readFrame(frame(len), null, lastMessage = false)
        }
        assert(e1.getMessage.contains("exceeds maximum size"), s"len=$len")
        val e2 = intercept[java.io.IOException] {
          ArrowProtocol.readMessageReader(frame(len), null, allocator,
            StructType(Seq(StructField("id", LongType))))
        }
        assert(e2.getMessage.contains("exceeds maximum size"), s"len=$len")
      }
    } finally allocator.close()
  }

  test("inferSchema reads the child's response schema from a sample") {
    val df = spark.range(0, 100)
      .select($"id", ($"id" * 1.5).as("d"), concat(lit("s"), $"id").as("s"))
    val got = Stream.inferSchema(df, echoCmd)
    assert(got.fields.map(f => (f.name, f.dataType)).toSeq == Seq(
      ("id", LongType), ("d", DoubleType), ("s", StringType)))
  }

  test("Arrow side input is delivered first under the columnar plan") {
    // regression: the columnar transition rule wraps the side
    // BroadcastExchangeExec in RowToColumnarExec, which cannot
    // executeBroadcast — StreamExec must unwrap it. The echo child
    // answers the side batch as its first message, so its rows appear
    // in the output ahead of the partition rows.
    val df = spark.range(0, 10).coalesce(1).select($"id")
    val side = spark.range(100, 103).select($"id")
    val declared = StructType(Seq(StructField("id", LongType)))
    val out = Stream.arrow(df, echoCmd, declared, side = Some(side)).collect()
    assert(out.length == 13)
    val firstChunk = out.filter(_.getAs[Long]("chunk_no") == 0L).map(_.getLong(0)).sorted
    assert(firstChunk.toSeq == Seq(100L, 101L, 102L))
    assert(out.map(_.getLong(0)).sum == (0L until 10L).sum + 100 + 101 + 102)
  }

  test("a one-line empty TSV response keeps its row ('1\\n\\n' is not 'no data')") {
    // child answers every chunk with exactly one empty line
    val emptyLine =
      """awk -W interactive 'BEGIN{n=-1}
        |{ if (n<0) { n=$0+0; if (n==0) { print 0; fflush(); exit }; next }
        |  else     { if (--n==0) { printf "1\n\n"; fflush(); n=-1 } } }'"""
        .stripMargin.replace("\n", " ")
    val df = spark.range(0, 6).coalesce(1).select($"id")
    val out = Stream.tsv(df, emptyLine, chunkSize = 3).collect()
    assert(out.length == 2) // one empty-but-real response per chunk
    assert(out.forall(_.getString(2) == ""))
    assert(out.map(_.getAs[Long]("chunk_no")).sorted.toSeq == Seq(0L, 1L))
  }

  test("unsupported declared types are rejected eagerly") {
    val df = spark.range(0, 1).select($"id")
    val bad = StructType(Seq(StructField("t", TimestampType)))
    intercept[IllegalArgumentException] { Stream.arrow(df, echoCmd, bad) }
  }

  test("columnar parquet input encodes straight from the scan vectors") {
    // the vectorized parquet scan feeds StreamExec as ColumnarBatches;
    // ColumnarFrameBuffer must slice multi-chunk batches and carry every
    // type (incl. nulls) without an InternalRow detour
    val dir = tempDir("graft_colin")
    spark.range(0, 300).select(
        $"id",
        when($"id" % 7 === 0, lit(null)).otherwise($"id" * 0.5).as("d"),
        when($"id" % 11 === 0, lit(null)).otherwise(concat(lit("s"), $"id")).as("s"),
        when($"id" % 13 === 0, lit(null))
          .otherwise(encode(concat(lit("b"), $"id"), "utf-8")).as("b"))
      .coalesce(1)
      .write.mode("overwrite").parquet(dir)
    val in = spark.read.parquet(dir)
    val declared = StructType(Seq(
      StructField("id", LongType), StructField("d", DoubleType),
      StructField("s", StringType), StructField("b", BinaryType)))
    val plan = Stream.arrow(in, echoCmd, declared, chunkSize = 64)
    val out = plan.collect()
    assert(out.length == 300)
    val byId = out.map(r => r.getLong(0) -> r).toMap
    assert(byId(15L).getDouble(1) == 7.5 && byId(15L).getString(2) == "s15")
    assert(byId(7L).isNullAt(1) && byId(22L).isNullAt(2) && byId(26L).isNullAt(3))
    assert(new String(byId(15L).getAs[Array[Byte]](3), "UTF-8") == "b15")
    // 300 rows / chunkSize 64 -> 5 messages from one partition
    assert(out.map(_.getAs[Long]("chunk_no")).distinct.sorted.toSeq ==
      Seq(0L, 1L, 2L, 3L, 4L))
    // and the physical plan has no row transition below the pipe: the
    // scan's batches feed the stream operator directly
    val exec = plan.queryExecution.executedPlan
    val stream = exec.collectFirst { case s: graft.plans.StreamExec => s }.get
    assert(stream.input.supportsColumnar,
      s"expected a columnar child under StreamExec, got:\n${stream.input}")
  }

  /** The reference python client's read/write/map loop
    * (`py_pkg/scidbstrm/__init__.py:62-139`), re-typed verbatim in
    * behavior: u64-LE size prefix, `pyarrow.ipc.open_stream` directly
    * on stdin (relying on the IPC end-of-stream marker our encoder must
    * emit), pandas conversion, 0-frame for "no data"/EOF. Runs with
    * `python3 -u` exactly like the reference's `python_map` command.
    */
  private val scidbstrmLoop: String =
    """import struct, sys
      |import pyarrow
      |stdin = sys.stdin.buffer
      |stdout = sys.stdout.buffer
      |
      |def read():
      |    sz = struct.unpack('<Q', stdin.read(8))[0]
      |    if sz:
      |        stream = pyarrow.ipc.open_stream(stdin)
      |        return stream.read_pandas()
      |    return None
      |
      |def write(df=None):
      |    if df is None:
      |        stdout.write(struct.pack('<Q', 0))
      |        return
      |    buf = pyarrow.BufferOutputStream()
      |    table = pyarrow.Table.from_pandas(df)
      |    table = table.replace_schema_metadata()
      |    writer = pyarrow.RecordBatchStreamWriter(buf, table.schema)
      |    writer.write_table(table)
      |    writer.close()
      |    byt = buf.getvalue().to_pybytes()
      |    stdout.write(struct.pack('<Q', len(byt)))
      |    stdout.write(byt)
      |
      |def map_loop(map_fun, finalize_fun=None):
      |    while True:
      |        df = read()
      |        if df is None:
      |            break
      |        write(map_fun(df))
      |    if finalize_fun is None:
      |        write()
      |    else:
      |        write(finalize_fun())
      |""".stripMargin

  private def pythonArrowAvailable: Boolean =
    scala.util.Try(
      new ProcessBuilder("python3", "-c", "import pyarrow, pandas")
        .start().waitFor() == 0).getOrElse(false)

  private def pythonChild(body: String): String = {
    val f = java.nio.file.Files.createTempFile("graft_py_child", ".py")
    java.nio.file.Files.write(f, (scidbstrmLoop + body).getBytes("UTF-8"))
    f.toFile.deleteOnExit()
    s"python3 -u $f"
  }

  test("reference python client identity map round-trips the Arrow pipe") {
    assume(pythonArrowAvailable, "python3 with pyarrow+pandas not available")
    val df = spark.range(0, 200).repartition(2)
      .select($"id", ($"id" % 5).cast("double").as("d"))
    val declared = StructType(Seq(
      StructField("id", LongType), StructField("d", DoubleType)))
    val out = Stream.arrow(df, pythonChild("map_loop(lambda df: df)\n"),
      declared, chunkSize = 64)
    assert(out.count() == 200)
    assert(out.agg(sum($"id")).head.getLong(0) == (0L until 200L).sum)
    assert(out.agg(sum($"d")).head.getDouble(0) == (0L until 200L).map(_ % 5).sum.toDouble)
  }

  test("reference python client empty-map + finalize (ML pattern) works") {
    assume(pythonArrowAvailable, "python3 with pyarrow+pandas not available")
    // the reference's distributed-ML shape (4-machine-learning.py):
    // each chunk answered with a 0-frame ("no data now"), one final
    // aggregate per instance after EOF
    val body =
      """state = {"n": 0, "s": 0}
        |def m(df):
        |    state["n"] += len(df)
        |    state["s"] += int(df["id"].sum())
        |    return None
        |def fin():
        |    import pandas
        |    return pandas.DataFrame({"n": [state["n"]], "s": [state["s"]]})
        |map_loop(m, fin)
        |""".stripMargin
    val df = spark.range(0, 300).repartition(3).select($"id")
    val declared = StructType(Seq(
      StructField("n", LongType), StructField("s", LongType)))
    val out = Stream.arrow(df, pythonChild(body), declared, chunkSize = 50).collect()
    assert(out.length == 3) // one aggregate row per partition's child
    assert(out.map(_.getAs[Long]("n")).sum == 300L)
    assert(out.map(_.getAs[Long]("s")).sum == (0L until 300L).sum)
  }

  test("Arrow sideLocal delivers each side partition to exactly one child") {
    // non-replicated ARRAY2 on the Arrow path: echo child, total rows =
    // main + side (each side row exactly once), side rows in chunk 0
    val main = spark.range(0, 30).repartition(3).select($"id")
    val side = spark.range(100, 106).repartition(3).select($"id")
    val declared = StructType(Seq(StructField("id", LongType)))
    val out = Stream.arrow(main, echoCmd, declared, chunkSize = 100,
      side = Some(side), sideLocal = true).collect()
    assert(out.length == 36)
    val sideEcho = out.filter(_.getLong(0) >= 100L)
    assert(sideEcho.length == 6)
    assert(sideEcho.forall(_.getAs[Long]("chunk_no") == 0L))
    // and no broadcast exchange in the plan
    val plan = Stream.arrow(main, echoCmd, declared,
      side = Some(side), sideLocal = true).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastExchange"), plan)
  }

  test("Arrow sideLocal works over a columnar (parquet) input child") {
    val dir = tempDir("graft_sidelocal")
    spark.range(0, 40).select($"id").repartition(2)
      .write.mode("overwrite").parquet(dir)
    val in = spark.read.parquet(dir)
    val nParts = in.rdd.getNumPartitions
    val side = spark.range(200, 204).repartition(nParts).select($"id")
    val declared = StructType(Seq(StructField("id", LongType)))
    val out = Stream.arrow(in, echoCmd, declared, chunkSize = 100,
      side = Some(side), sideLocal = true).collect()
    assert(out.length == 44)
    assert(out.count(_.getLong(0) >= 200L) == 4)
  }

  test("columnar frames honor chunkSize across scan batches") {
    // scan batches (50 rows) smaller than the declared chunk (120):
    // one protocol frame must accumulate rows from several batches,
    // exactly like the row path groups its iterator
    val dir = tempDir("graft_chunk")
    spark.range(0, 300).select($"id").coalesce(1)
      .write.mode("overwrite").parquet(dir)
    spark.conf.set("spark.sql.parquet.columnarReaderBatchSize", "50")
    try {
      val in = spark.read.parquet(dir)
      val declared = StructType(Seq(StructField("id", LongType)))
      val out = Stream.arrow(in, echoCmd, declared, chunkSize = 120).collect()
      assert(out.length == 300)
      val perChunk = out.groupBy(_.getAs[Long]("chunk_no"))
        .map { case (c, rs) => c -> rs.length }
      assert(perChunk == Map(0L -> 120, 1L -> 120, 2L -> 60), perChunk.toString)
    } finally spark.conf.unset("spark.sql.parquet.columnarReaderBatchSize")
  }
}
