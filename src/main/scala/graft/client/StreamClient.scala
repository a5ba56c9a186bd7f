package graft.client

import java.io.{FileDescriptor, FileInputStream, FileOutputStream, InputStream, OutputStream}

import graft.operators.{PipeIn, PipeOut, TsvProtocol}

/** Child-side client library for writing stream children on the JVM —
  * the Scala analog of the reference's Python `scidbstrm` package
  * (`py_pkg/scidbstrm/__init__.py:62-139`) over the TSV wire format.
  *
  * Contract (reference `README.md:31-79`): stdin carries data messages
  * (`"n\n"` header + n TSV lines); `0\n` from the parent means
  * end-of-data; the child must answer exactly one message per request
  * and one final message after EOF. stdout is the data channel — log to
  * stderr only (`py_pkg/README.rst:101-131`).
  *
  * {{{
  * // echo child:
  * object Echo { def main(a: Array[String]): Unit =
  *   StreamClient.map(rows => rows) }
  * // aggregating child (map + finalize, pattern P3):
  * object Sum { def main(a: Array[String]): Unit = {
  *   var s = 0L
  *   StreamClient.map(rows => { rows.foreach(r => s += r.head.toLong); Nil },
  *                    finalizeFun = () => Seq(Seq(s.toString))) } }
  * }}}
  */
object StreamClient {

  type TsvRow = Seq[String]

  /** The TSV framing is [[graft.operators.TsvProtocol]]'s; this adds only
    * the split into rows and cells (limit −1, so trailing empty cells
    * keep their column slot).
    */
  final class Channel(in: InputStream, out: OutputStream) {
    private val bin = new PipeIn(in)
    private val bout = new PipeOut(out)

    /** Read one message; None when the parent signals end-of-data. */
    def read(): Option[Seq[TsvRow]] =
      Option(TsvProtocol.readMessage(bin, null, lastMessage = true))
        .map(_.split("\n", -1).toSeq.map(_.split("\t", -1).toSeq))

    /** Write one response message (empty Seq → `0\n`, "no data now"). */
    def write(rows: Seq[TsvRow]): Unit =
      TsvProtocol.writeChunk(bout, rows.iterator.map(_.mkString("\t")), rows.size)
  }

  /** The channel over this process's raw stdin/stdout descriptors. */
  def channel(): Channel =
    new Channel(new FileInputStream(FileDescriptor.in), new FileOutputStream(FileDescriptor.out))

  /** Per-message map loop with optional finalize — the analog of
    * `scidbstrm.map(map_fun, finalize_fun)` (`__init__.py:117-139`).
    */
  def map(mapFun: Seq[TsvRow] => Seq[TsvRow],
          finalizeFun: () => Seq[TsvRow] = () => Nil): Unit = {
    val ch = channel()
    var running = true
    while (running) ch.read() match {
      case Some(rows) => ch.write(mapFun(rows))
      case None       => ch.write(finalizeFun()); running = false
    }
  }

  /** Consume one message manually (side-input pattern, the analog of the
    * R client's `getChunk`, `r_pkg/R/exported.R:118-126`): returns the
    * rows and acks with an empty message.
    */
  def getChunk(ch: Channel): Seq[TsvRow] = {
    val rows = ch.read().getOrElse(sys.error("expected side-input message, got EOF"))
    ch.write(Nil)
    rows
  }

  /** Log to stderr (stdout is the data channel). */
  def debug(msg: String): Unit = System.err.println(s"[child] $msg")
}

/** Runnable echo child (TSV): prefix-echo every row. */
object TsvEchoChild {
  def main(args: Array[String]): Unit =
    StreamClient.map(rows => rows.map(r => "ok" +: r))
}

/** Runnable aggregating child (TSV): global sum of column 0,
  * emitted only in the final message (pattern P3).
  */
object TsvSumChild {
  def main(args: Array[String]): Unit = {
    var s = 0L
    StreamClient.map(
      rows => { rows.foreach(r => s += r.head.toLong); Nil },
      finalizeFun = () => Seq(Seq(s.toString)))
  }
}

/** Runnable side-input child (TSV): first message is a key→value
  * lookup; subsequent rows' first column is mapped through it.
  */
object TsvLookupChild {
  def main(args: Array[String]): Unit = {
    val ch = StreamClient.channel()
    val lookup = StreamClient.getChunk(ch).map(r => r.head -> r(1)).toMap
    var running = true
    while (running) ch.read() match {
      case Some(rows) => ch.write(rows.map(r => Seq(lookup.getOrElse(r.head, "?"))))
      case None       => ch.write(Nil); running = false
    }
  }
}
