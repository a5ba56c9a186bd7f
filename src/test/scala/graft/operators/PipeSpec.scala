package graft.operators

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, IOException, InputStream}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

/** The lock-free pipe ends: byte accounting, and the close contract the
  * watchdog and cancellation path rely on — a read that refills, or is
  * blocked, when the end is closed fails with an `IOException`.
  */
class PipeSpec extends AnyFunSuite {

  /** An input whose next `read` blocks until `release`, then returns `answer`. */
  private final class Gate(answer: Int) extends InputStream {
    val entered = new CountDownLatch(1)
    private val open = new CountDownLatch(1)
    def release(): Unit = open.countDown()
    override def read(): Int = throw new UnsupportedOperationException
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      entered.countDown()
      open.await()
      if (answer < 0) -1 else { b(off) = answer.toByte; 1 }
    }
    override def close(): Unit = release()
  }

  /** Run `read` on another thread while `in` is closed under it. */
  private def readAcrossClose(answer: Int): Throwable = {
    val gate = new Gate(answer)
    val in = new PipeIn(gate)
    @volatile var err: Throwable = null
    val t = new Thread(() => try in.read() catch { case e: Throwable => err = e })
    t.start()
    assert(gate.entered.await(10, TimeUnit.SECONDS))
    in.close()
    t.join(10000)
    assert(!t.isAlive)
    err
  }

  test("a read blocked when the end is closed fails with an IOException") {
    assert(readAcrossClose(answer = 'x').isInstanceOf[IOException])
    assert(readAcrossClose(answer = -1).isInstanceOf[IOException])
  }

  test("a refill after close fails, and so does a drain") {
    val in = new PipeIn(new ByteArrayInputStream(Array[Byte](1, 2, 3)))
    in.close()
    intercept[IOException](in.read())
    val out = new PipeOut(new ByteArrayOutputStream)
    out.write(1)
    out.close()
    intercept[IOException](out.flush())
  }

  test("byte counters follow what was handed out, not what was buffered") {
    val in = new PipeIn(new ByteArrayInputStream(Array.fill[Byte](100)(7)), 16)
    assert(in.consumed == 0)
    in.read()
    assert(in.consumed == 1)
    assert(in.peek() == 7 && in.consumed == 1)
    assert(in.read(new Array[Byte](40), 0, 40) == 15) // the rest of the buffer
    assert(in.consumed == 16)
    val sink = new ByteArrayOutputStream
    val out = new PipeOut(sink, 16)
    out.write(Array.fill[Byte](10)(1), 0, 10)
    assert(out.written == 10 && sink.size == 0)
    out.write(Array.fill[Byte](40)(2), 0, 40) // larger than the buffer: straight through
    assert(out.written == 50 && sink.size == 50)
    out.write(3)
    out.flush()
    assert(out.written == 51 && sink.size == 51)
  }

  test("ByteSink formats every long as Long.toString does") {
    val sink = new ByteSink(1)
    val xs = Seq(0L, 7L, -7L, 10L, Long.MaxValue, Long.MinValue, Long.MinValue + 1,
      Int.MinValue.toLong) ++ {
      val rnd = new scala.util.Random(3)
      Seq.fill(200)(rnd.nextLong())
    }
    xs.foreach { x =>
      sink.reset()
      sink.writeDecimal(x)
      assert(new String(sink.array, 0, sink.length, "US-ASCII") == x.toString)
    }
  }
}
