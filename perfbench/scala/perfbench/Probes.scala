package perfbench

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets

import org.apache.arrow.memory.RootAllocator
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.types.StructType

import graft.operators.{ArrowProtocol, ChildProcess, RdfProtocol, TsvProtocol}
import graft.plans.StreamExec

/** Layer probes that call the program's public functions directly:
  * codec replays on in-memory streams, child spawn and turnaround
  * timings, and the fork counter of executed `StreamExec` nodes. */
object Probes {

  /** The mawk children of the pipe queries (q40 echo, q41 finalize-sum):
    * loop-style, so pooled children serve one stream after another. */
  val AwkEcho: String =
    """awk -W interactive 'BEGIN{n=-1}
      |{ if (n<0) { n=$0+0; if (n==0) { print 0; fflush(); n=-1; next }; print n }
      |  else     { print "ok\t" $0; if (--n==0) { fflush(); n=-1 } } }'"""
      .stripMargin.replace("\n", " ")

  val AwkSum: String =
    """awk -W interactive 'BEGIN{n=-1; s=0}
      |{ if (n<0) { n=$0+0;
      |             if (n==0) { printf "1\n%d\n", s; fflush(); s=0; n=-1 };
      |             next }
      |  s += $1; if (--n==0) { print 0; fflush(); n=-1 } }'"""
      .stripMargin.replace("\n", " ")

  private object Plans extends AdaptiveSparkPlanHelper {
    def streams(p: SparkPlan): Seq[StreamExec] = collect(p) { case s: StreamExec => s }
  }

  /** Children forked by the `stream()` nodes of an executed DataFrame. */
  def forks(df: DataFrame): Long =
    Plans.streams(df.queryExecution.executedPlan).map(_.metrics("numChildren").value).sum

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def reps[T](n: Int)(body: => T): Seq[Double] =
    (1 to n).map { _ => val t0 = System.nanoTime(); body; (System.nanoTime() - t0).toDouble }

  /** Encode and decode `rows` through one format's public functions on
    * in-memory streams, `chunk` rows per message. The decode input is
    * what an echo child sends back. Returns ns/row each way and
    * request bytes/row (medians of `n` replays). */
  def codec(fmt: String, rows: IndexedSeq[InternalRow], schema: StructType,
            chunk: Int, n: Int = 5): Map[String, Double] = {
    val chunks = rows.grouped(chunk).toIndexedSeq
    val nRows = rows.size.toDouble
    val allocator = new RootAllocator(Long.MaxValue)
    try {
      val encodeOne: IndexedSeq[InternalRow] => Array[Byte] = fmt match {
        case "tsv" => c =>
          val out = new ByteArrayOutputStream()
          TsvProtocol.writeChunk(out, c.iterator.map(TsvProtocol.formatInternalRow(_, schema)), c.size)
          out.toByteArray
        case "arrow" => c =>
          val out = new ByteArrayOutputStream()
          ArrowProtocol.writeBatchInternal(out, allocator, schema, c)
          out.toByteArray
        case "rdf" => c =>
          val out = new ByteArrayOutputStream()
          RdfProtocol.writeChunk(out, c, schema)
          out.toByteArray
      }
      val encoded = chunks.map(encodeOne)
      // what the echo child answers: TSV prefixes each line with "ok\t",
      // the binary echo clients send the frame back unchanged
      val responses = if (fmt != "tsv") encoded else encoded.map { b =>
        val s = new String(b, StandardCharsets.UTF_8)
        val nl = s.indexOf('\n')
        val body = s.substring(nl + 1).split("\n", -1).dropRight(1).map("ok\t" + _)
        (s.substring(0, nl + 1) + body.mkString("", "\n", "\n")).getBytes(StandardCharsets.UTF_8)
      }
      val decodeOne: Array[Byte] => Unit = fmt match {
        case "tsv" => b => TsvProtocol.readMessage(new ByteArrayInputStream(b), null)
        case "arrow" => b =>
          ArrowProtocol.readMessageReader(new ByteArrayInputStream(b), null, allocator, schema)
            .foreach(_.close())
        case "rdf" => b => RdfProtocol.readMessage(new ByteArrayInputStream(b), null, schema)
      }
      val enc = Trace.span("codec", s"codec.$fmt.encode")(reps(n)(chunks.foreach(encodeOne)))
      val dec = Trace.span("codec", s"codec.$fmt.decode")(reps(n)(responses.foreach(decodeOne)))
      Map(s"codec.$fmt.encode_ns_per_row" -> median(enc) / nRows,
        s"codec.$fmt.decode_ns_per_row" -> median(dec) / nRows,
        s"codec.$fmt.bytes_per_row" -> encoded.map(_.length.toDouble).sum / nRows)
    } finally allocator.close()
  }

  /** Fork a child and complete an empty stream with it: start-up plus
    * the first (end-of-data) round trip. Median over `n` spawns, ms. */
  def spawnMs(cmd: String, fmt: String, n: Int): Double = median((1 to n).map { _ =>
    Trace.span("child", s"child.spawn.$fmt") {
      val t0 = System.nanoTime()
      val c = new ChildProcess(cmd, None)
      try {
        fmt match {
          case "tsv" =>
            TsvProtocol.writeEof(c.stdin)
            TsvProtocol.readMessage(c.stdout, c, lastMessage = true)
          case "arrow" =>
            val a = new RootAllocator(Long.MaxValue)
            try {
              ArrowProtocol.writeEof(c.stdin)
              ArrowProtocol.readMessageReader(c.stdout, c, a, new StructType(),
                lastMessage = true).foreach(_.close())
            } finally a.close()
        }
        (System.nanoTime() - t0) / 1e6
      } finally c.terminate()
    }
  })

  /** Exchange turnaround with a live mawk echo child: `n` exchanges of a
    * `lines`-line chunk, each timed from the first written byte to the
    * last response byte; microseconds, in exchange order. */
  def turnaroundUs(n: Int, lines: Int): Seq[Double] = {
    val c = new ChildProcess(AwkEcho, None)
    try {
      val body = (0 until lines).map(i => s"$i\tturnaround probe line")
      (1 to n).map { _ =>
        val t0 = System.nanoTime()
        Trace.span("child", "child.exchange") {
          TsvProtocol.writeChunk(c.stdin, body.iterator, lines)
          TsvProtocol.readMessage(c.stdout, c)
        }
        (System.nanoTime() - t0) / 1e3
      }
    } finally c.terminate()
  }
}
