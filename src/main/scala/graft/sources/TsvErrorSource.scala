package graft.sources

import java.nio.charset.StandardCharsets
import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 implementation of the reference's parallel delimited
  * load + parse semantics (`aio_input(path, num_attributes:n)` and
  * `parse(A, num_attributes:n)`, SURVEY.md §2.5): every line splits into
  * exactly `numAttributes` string columns `a0..a{n-1}` plus an `error`
  * column that captures the raw line when the field count differs —
  * malformed input is data, not an exception.
  *
  * Usage:
  * {{{
  * spark.read.format("graft.sources.TsvErrorSource")
  *   .option("numAttributes", "3").option("delimiter", "\t")
  *   .load("/path/to/files")
  * }}}
  *
  * Scale notes: files larger than `maxSplitBytes` (default 128 MB, the
  * same default as `spark.sql.files.maxPartitionBytes`) are split into
  * byte ranges like Spark's own FileScan, so a single huge TSV load
  * parallelizes across the cluster instead of pinning one task. Line
  * ownership is self-consistent across splits: a split owns exactly the
  * lines whose first byte lies in `[start, end)`; a reader with
  * `start > 0` discards through the first newline at-or-after
  * `start - 1` (so a line beginning exactly at `start` is kept), and
  * the line straddling `end` is read to completion by its owner.
  * Schema is declared via options, never inferred, so planning touches
  * no data; column pruning flows through the declared read schema.
  */
class TsvErrorSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TsvErrorSource.schemaFor(options.getInt("numAttributes", 1))

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new TsvErrorTable(schema, properties.asScala.toMap)
}

object TsvErrorSource {
  def schemaFor(n: Int): StructType =
    StructType((0 until n).map(i => StructField(s"a$i", StringType)) :+
      StructField("error", StringType))
}

private class TsvErrorTable(schema: StructType, props: Map[String, String])
  extends Table with SupportsRead {
  override def name(): String = s"graft-tsv(${props.getOrElse("path", "?")})"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new TsvScanBuilder(schema, options.asScala.toMap ++ props)
}

/** Minimal serializable Hadoop Configuration carrier (Spark's own
  * SerializableConfiguration is private[spark]): executors need the
  * driver session's fs.* settings (credentials, defaultFS, custom
  * filesystems), which a bare `new Configuration()` would drop.
  */
private class SerializableHadoopConf(
    @transient var value: org.apache.hadoop.conf.Configuration) extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new org.apache.hadoop.conf.Configuration(false)
    value.readFields(in)
  }
}

private class TsvScanBuilder(schema: StructType, opts: Map[String, String])
  extends ScanBuilder with Scan with Batch {
  override def build(): Scan = this
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this

  // Spark option keys are case-insensitive; the merged map mixes
  // lowercased scan options with original-case table properties
  private def opt(name: String): Option[String] =
    opts.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v }

  private val hadoopConf = new SerializableHadoopConf(
    org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())

  private def paths: Seq[String] =
    opt("path").toSeq ++ opt("paths").toSeq.flatMap { raw =>
      // DataFrameReader.load(p1, p2, ...) passes `paths` as a JSON array
      if (raw.trim.startsWith("["))
        new com.fasterxml.jackson.databind.ObjectMapper()
          .readValue(raw, classOf[Array[String]]).toSeq
      else raw.split(',').toSeq
    }

  private def maxSplitBytes: Long =
    opt("maxSplitBytes").map(_.toLong).getOrElse(128L * 1024 * 1024)

  private def hidden(name: String): Boolean =
    name.startsWith("_") || name.startsWith(".")

  private def hasGlob(p: String): Boolean = p.exists("*?[]{}".contains(_))

  override def planInputPartitions(): Array[InputPartition] = {
    val conf = hadoopConf.value
    val split = maxSplitBytes
    def partitionsOf(path: String, len: Long): Seq[TsvFilePartition] =
      if (len <= split) Seq(TsvFilePartition(path, 0L, Long.MaxValue))
      else (0L until len by split).map(off =>
        TsvFilePartition(path, off, math.min(split, len - off)))
    paths.flatMap { p =>
      val p0 = new Path(p)
      val fs = p0.getFileSystem(conf)
      val matched = Option(fs.globStatus(p0)).map(_.toSeq).getOrElse(Seq.empty)
      if (matched.isEmpty)
        throw new java.io.FileNotFoundException(s"no files match path $p")
      matched.flatMap { st =>
        if (st.isDirectory)
          fs.listStatus(st.getPath).toSeq
            .filter(s => s.isFile && !hidden(s.getPath.getName))
            .flatMap(s => partitionsOf(s.getPath.toString, s.getLen))
        else if (hasGlob(p) && hidden(st.getPath.getName))
          Seq.empty // globs skip hidden files like the built-in sources
        else
          partitionsOf(st.getPath.toString, st.getLen)
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new TsvReaderFactory(schema.length - 1,
      opt("delimiter").getOrElse("\t").charAt(0), hadoopConf)
}

private case class TsvFilePartition(path: String, start: Long, length: Long)
  extends InputPartition

private object TsvReaderFactory {
  /** Split on the literal delimiter character (String.split treats its
    * argument as a regex, so '|' or '.' would split every boundary),
    * preserving trailing empty fields.
    */
  def splitLiteral(line: String, delim: Char): Array[String] = {
    val out = Array.newBuilder[String]
    var start = 0
    var i = line.indexOf(delim)
    while (i >= 0) {
      out += line.substring(start, i)
      start = i + 1
      i = line.indexOf(delim, start)
    }
    out += line.substring(start)
    out.result()
  }
}

/** Byte-position-aware line scanner over an input stream: needed
  * because split ownership is defined on byte offsets, which a
  * character-level BufferedReader cannot report. Scanning for '\n' at
  * the byte level is UTF-8-safe (no multi-byte sequence contains 0x0A);
  * a trailing '\r' is stripped, matching BufferedReader.readLine for
  * \n / \r\n terminated input. `bytesConsumed` counts every byte read
  * off the stream including terminators.
  */
private class LineScanner(in: java.io.InputStream) {
  private val buf = new Array[Byte](1 << 16)
  private var bufLen = 0
  private var bufPos = 0
  private var eof = false
  var bytesConsumed: Long = 0L

  private def fill(): Boolean = {
    if (eof) return false
    bufLen = in.read(buf)
    bufPos = 0
    if (bufLen <= 0) { eof = true; false } else true
  }

  /** Next line without its terminator, or null at end of stream. */
  def readLine(): String = {
    var out: java.io.ByteArrayOutputStream = null
    var lineStart = bufPos
    while (true) {
      if (bufPos >= bufLen) {
        if (bufPos > lineStart) {
          if (out == null) out = new java.io.ByteArrayOutputStream(256)
          out.write(buf, lineStart, bufPos - lineStart)
        }
        if (!fill()) {
          if (out == null) return null
          val bytes = out.toByteArray
          bytesConsumed += bytes.length
          return new String(bytes, StandardCharsets.UTF_8)
        }
        lineStart = 0
      }
      val b = buf(bufPos)
      bufPos += 1
      if (b == '\n') {
        val bytes: Array[Byte] =
          if (out == null) java.util.Arrays.copyOfRange(buf, lineStart, bufPos - 1)
          else {
            out.write(buf, lineStart, bufPos - 1 - lineStart)
            out.toByteArray
          }
        bytesConsumed += bytes.length + 1 // content + '\n'
        val n = if (bytes.nonEmpty && bytes(bytes.length - 1) == '\r') bytes.length - 1
                else bytes.length
        return new String(bytes, 0, n, StandardCharsets.UTF_8)
      }
    }
    null // unreachable
  }
}

private class TsvReaderFactory(nAttrs: Int, delim: Char,
                               hadoopConf: SerializableHadoopConf)
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[TsvFilePartition]
    new PartitionReader[InternalRow] {
      private val fs = new Path(p.path).getFileSystem(hadoopConf.value)
      private val stream = fs.open(new Path(p.path))
      private val end: Long =
        if (p.length == Long.MaxValue) Long.MaxValue else p.start + p.length
      // absolute offset where this reader's first owned line starts: a
      // reader not at the file head discards through the first newline
      // at-or-after start-1, so a line beginning exactly at `start` is
      // kept while one straddling `start` is left to the previous split
      private val firstLineStart: Long = {
        if (p.start > 0) {
          stream.seek(p.start - 1)
          var off = p.start - 1
          var b = stream.read()
          while (b >= 0 && b != '\n') { off += 1; b = stream.read() }
          off + 1
        } else 0L
      }
      private val scanner = new LineScanner(stream)
      private var row: InternalRow = _

      override def next(): Boolean = {
        // offset of the next unread line = first owned line + consumed
        if (firstLineStart + scanner.bytesConsumed >= end) return false
        val line = scanner.readLine()
        if (line == null) return false
        val fields = TsvReaderFactory.splitLiteral(line, delim)
        val vals = new Array[Any](nAttrs + 1)
        if (fields.length == nAttrs) {
          var i = 0
          while (i < nAttrs) { vals(i) = UTF8String.fromString(fields(i)); i += 1 }
          vals(nAttrs) = null
        } else {
          // arity mismatch: keep whatever parsed, record the raw line
          var i = 0
          while (i < nAttrs) {
            vals(i) = if (i < fields.length) UTF8String.fromString(fields(i)) else null
            i += 1
          }
          vals(nAttrs) = UTF8String.fromString(line)
        }
        row = InternalRow.fromSeq(vals.toIndexedSeq)
        true
      }

      override def get(): InternalRow = row
      override def close(): Unit = stream.close()
    }
  }
}
