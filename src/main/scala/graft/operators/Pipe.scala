package graft.operators

import java.io.{IOException, InputStream, OutputStream}
import java.nio.ByteBuffer
import java.nio.channels.WritableByteChannel

/** The buffered ends of a child pipe, used on both sides of it: the
  * operator's [[ChildProcess]] and the JVM children in
  * `graft.operators.clients` / `graft.client`.
  *
  * `java.io.BufferedInputStream.read()` and
  * `BufferedOutputStream.write(int)` take a monitor on every call, and
  * the wire formats make one such call per byte (TSV's line scan) or
  * per int (R-DF). Each pipe end has exactly one reading or writing
  * thread at a time, so these take no lock. `close` may come from
  * another thread (the watchdog or a failed writer): it marks the end
  * closed and closes the underlying stream, and the next refill or
  * drain fails with an `IOException`, as a closed JDK stream does.
  */
object Pipe {

  /** Buffer of each pipe end (reference `src/ChildProcess.h:47`). */
  val BufferBytes: Int = 1 << 20

  private[operators] def closedError(): Nothing = throw new IOException("Stream closed")
}

/** Buffered, lock-free read end of a pipe. */
final class PipeIn(in: InputStream, size: Int = Pipe.BufferBytes) extends InputStream {
  private val buf = new Array[Byte](size)
  private var pos = 0
  private var lim = 0
  private var filled = 0L
  @volatile private var closed = false

  /** Bytes handed to readers so far; read-ahead is not counted. */
  def consumed: Long = filled - (lim - pos)

  /** Refill the empty buffer; false at the end of the stream. A refill
    * that starts or returns after [[close]] fails.
    */
  private def fill(): Boolean = {
    if (closed) Pipe.closedError()
    var r = 0
    while (r == 0) r = in.read(buf, 0, buf.length)
    if (closed) Pipe.closedError()
    if (r < 0) false
    else { pos = 0; lim = r; filled += r; true }
  }

  override def read(): Int =
    if (pos < lim || fill()) { val b = buf(pos) & 0xff; pos += 1; b }
    else -1

  override def read(b: Array[Byte], off: Int, len: Int): Int =
    if (len == 0) 0
    else if (pos < lim || fill()) {
      val n = math.min(len, lim - pos)
      System.arraycopy(buf, pos, b, off, n)
      pos += n
      n
    } else -1

  /** The next byte without consuming it, or −1 at the end of the
    * stream: how a loop-style child tells the clean between-streams EOF
    * from EOF inside a message.
    */
  def peek(): Int = if (pos < lim || fill()) buf(pos) & 0xff else -1

  override def close(): Unit = { closed = true; in.close() }

  /** Move the bytes up to and including the `n`-th newline into `sink`,
    * failing once the moved bytes would pass `maxBytes`. False when the
    * stream ends first. The scan works on the buffer in place: no call
    * per byte.
    */
  def transferLines(n: Long, sink: ByteSink, maxBytes: Long): Boolean = {
    var left = n
    while (left > 0) {
      if (pos >= lim && !fill()) return false
      var i = pos
      while (i < lim && left > 0) {
        if (buf(i) == '\n') left -= 1
        i += 1
      }
      if (sink.length.toLong + (i - pos) > maxBytes)
        throw new IOException("response from child exceeds maximum size")
      sink.write(buf, pos, i - pos)
      pos = i
    }
    true
  }
}

object PipeIn {

  /** `in` itself when it is a pipe end; otherwise a one-byte view that
    * never reads past the bytes it hands out, so a caller's own stream
    * keeps every byte after the message.
    */
  def of(in: InputStream): PipeIn = in match {
    case p: PipeIn => p
    case other => new PipeIn(other, 1)
  }
}

/** Buffered, lock-free write end of a pipe. `close` does not flush: it
  * is the kill path, and every protocol write flushes its own frame.
  */
final class PipeOut(out: OutputStream, size: Int = Pipe.BufferBytes) extends OutputStream {
  private val buf = new Array[Byte](size)
  private var pos = 0
  private var drained = 0L
  @volatile private var closed = false

  /** Bytes written so far, buffered or not. */
  def written: Long = drained + pos

  private def drain(): Unit = if (pos > 0) {
    if (closed) Pipe.closedError()
    out.write(buf, 0, pos)
    drained += pos
    pos = 0
  }

  override def write(b: Int): Unit = {
    if (pos == buf.length) drain()
    buf(pos) = b.toByte
    pos += 1
  }

  override def write(b: Array[Byte], off: Int, len: Int): Unit =
    if (len <= buf.length - pos) {
      System.arraycopy(b, off, buf, pos, len)
      pos += len
    } else {
      drain()
      if (len >= buf.length) {
        if (closed) Pipe.closedError()
        out.write(b, off, len)
        drained += len
      } else {
        System.arraycopy(b, off, buf, 0, len)
        pos = len
      }
    }

  override def flush(): Unit = { drain(); out.flush() }

  override def close(): Unit = { closed = true; out.close() }
}

/** A growable byte array with no lock (`ByteArrayOutputStream`
  * synchronizes every write): a frame being built, or a message being
  * read. It is also a channel, so an Arrow IPC writer serializes
  * straight into it.
  */
final class ByteSink(initial: Int = 256) extends OutputStream with WritableByteChannel {
  private var bytes = new Array[Byte](initial)
  private var size = 0

  /** The backing array; valid up to [[length]]. */
  def array: Array[Byte] = bytes
  def length: Int = size

  def reset(): Unit = size = 0

  /** Room for `extra` more bytes; the array may move. */
  def ensure(extra: Int): Unit = {
    val need = size.toLong + extra
    if (need > bytes.length) {
      if (need > Int.MaxValue - 8) throw new OutOfMemoryError(s"frame of $need bytes")
      val cap = math.max(need, math.min(2L * bytes.length, Int.MaxValue - 8L)).toInt
      bytes = java.util.Arrays.copyOf(bytes, cap)
    }
  }

  /** Mark `n` bytes written past [[length]] in place (after [[ensure]]). */
  def advance(n: Int): Unit = size += n

  override def write(b: Int): Unit = {
    ensure(1)
    bytes(size) = b.toByte
    size += 1
  }

  override def write(b: Array[Byte], off: Int, len: Int): Unit = {
    ensure(len)
    System.arraycopy(b, off, bytes, size, len)
    size += len
  }

  override def write(src: ByteBuffer): Int = {
    val n = src.remaining
    ensure(n)
    src.get(bytes, size, n)
    size += n
    n
  }

  /** `v` in decimal ASCII, as `Long.toString` spells it. */
  def writeDecimal(v: Long): Unit = {
    ensure(20)
    var x = v
    if (x < 0) {
      bytes(size) = '-'.toByte
      size += 1
      if (x == Long.MinValue) { // -x overflows: write its leading 9, then the rest
        bytes(size) = '9'.toByte
        size += 1
        x = 223372036854775808L
      } else x = -x
    }
    val start = size
    while ({ bytes(size) = ('0' + (x % 10)).toByte; size += 1; x /= 10; x != 0 }) ()
    var i = start
    var j = size - 1
    while (i < j) {
      val t = bytes(i); bytes(i) = bytes(j); bytes(j) = t
      i += 1; j -= 1
    }
  }

  /** Text that is all ASCII (numbers, keywords), one byte per char. */
  def writeAscii(s: CharSequence): Unit = {
    val n = s.length
    ensure(n)
    var i = 0
    while (i < n) { bytes(size + i) = s.charAt(i).toByte; i += 1 }
    size += n
  }

  /** Everything written, to `out` in one call. */
  def writeTo(out: OutputStream): Unit = out.write(bytes, 0, size)

  override def isOpen: Boolean = true

  override def close(): Unit = ()
}
