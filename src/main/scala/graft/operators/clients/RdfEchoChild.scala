package graft.operators.clients

import java.io.{FileDescriptor, FileInputStream, FileOutputStream}

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._

import graft.operators.{PipeIn, PipeOut, RdfProtocol}

/** Child-side R-DF protocol client: the JVM analog of the reference R
  * client loop (`r_pkg/R/exported.R:84-107` — `unserialize(stdin)` /
  * `serialize(..., xdr=FALSE, version=2)` per chunk, empty list as the
  * end-of-data handshake).
  *
  * Modes (arg 0, default `echo`):
  *  - `echo`     — R's `map(I)`: decode each message and re-encode it
  *    verbatim; answer the final empty message with an empty message.
  *  - `rowcount` — R's `map(f, final=g)` aggregation shape: answer
  *    every data chunk with "no data now" (the empty message) while
  *    accumulating a row count, then answer the final message with a
  *    one-row data frame `(n: int)`.
  *
  * Decode→re-encode (never byte-copy) so the round trip also proves
  * each message is a valid self-contained serialization stream.
  */
object RdfEchoChild {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("echo")
    // LOOP-STYLE (child pooling): after the end-of-data handshake the
    // client resets its per-stream state and waits for the next
    // stream's first message — the reference R client's `map(f)` loop
    // shape, which only ends when the parent closes the pipe. Peeking
    // lets the loop distinguish the clean between-streams EOF (first
    // byte of a message) from EOF mid-message (still an error inside
    // readDynamic). The lock-free pipe ends sit on the raw descriptors.
    val in = new PipeIn(new FileInputStream(FileDescriptor.in))
    val out = new PipeOut(new FileOutputStream(FileDescriptor.out))
    var rows = 0L
    var done = false
    while (!done) {
      if (in.peek() < 0) {
        done = true // pool shutdown: pipe closed between streams
      } else {
        RdfProtocol.readDynamic(in) match {
          case null =>
            if (mode == "rowcount") {
              val schema = StructType(Seq(StructField("n", IntegerType)))
              RdfProtocol.writeChunk(out,
                IndexedSeq(new GenericInternalRow(Array[Any](rows.toInt))), schema)
            } else {
              RdfProtocol.writeEof(out)
            }
            out.flush()
            rows = 0L // end of this stream; await the next one
          case (schema, batch) =>
            if (mode == "rowcount") {
              rows += batch.length
              RdfProtocol.writeEof(out) // "no data right now"
            } else {
              RdfProtocol.writeChunk(out, batch.toIndexedSeq, schema)
            }
            out.flush()
        }
      }
    }
  }
}
