package graft.operators

import java.lang.management.ManagementFactory

import scala.concurrent.{Await, Future, TimeoutException}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The half-duplex exchange every format runs through
  * (`ChildProcess.exchange`): its writer threads are reused across
  * exchanges, it writes a frame while it reads the answer, so a child
  * that answers before it has read the frame cannot deadlock, and
  * terminating the child never waits on a blocked write.
  */
class ExchangeSpec extends SparkSpec with StreamLeakFixture {
  import spark.implicits._

  /** Loop-style awk echo: one `ok`-prefixed line per input line. */
  private val loopEcho =
    """awk -W interactive 'BEGIN{n=-1}
      |{ if (n<0) { n=$0+0; if (n==0) { print 0; fflush(); n=-1; next }; print n }
      |  else     { print "ok\t" $0; if (--n==0) { fflush(); n=-1 } } }'"""
      .stripMargin.replace("\n", " ")

  test("a pooled 51-exchange stream reuses writer threads instead of starting one per exchange") {
    // one partition, 50 data frames of 100 rows plus end-of-data
    val out = Stream.tsv(spark.range(0, 5000).coalesce(1).select($"id"), loopEcho,
      chunkSize = 100, reuseChildren = true)
    val mx = ManagementFactory.getThreadMXBean
    assert(out.collect().length == 50)
    val before = mx.getTotalStartedThreadCount
    assert(out.collect().length == 50)
    val started = mx.getTotalStartedThreadCount - before
    assert(started < 10, s"$started threads started by a second run of 51 exchanges")
  }

  test("terminate does not wait on a write blocked on a child that does not read") {
    // the stuck-writer rule and cancellation both end in terminate while
    // a write may be blocked on a full pipe
    val child = new ChildProcess("exec sleep 600", None)
    @volatile var werr: Throwable = null
    val writer = new Thread(() =>
      try { child.stdin.write(new Array[Byte](4 << 20)); child.stdin.flush() }
      catch { case t: Throwable => werr = t })
    writer.setDaemon(true)
    writer.start()
    Thread.sleep(500)
    assert(writer.isAlive, "the 4 MiB write should block on the full pipe")
    try Await.result(Future(child.terminate()), 20.seconds)
    catch { case e: TimeoutException => fail("terminate waited on the blocked write", e) }
    writer.join(5000)
    assert(werr.isInstanceOf[java.io.IOException], s"writer ended with $werr")
    assert(!child.alive)
  }

  test("a child that answers each header before reading its frame does not deadlock") {
    // Each answer (256 KiB) is far past a pipe's capacity and each frame
    // (~1.6 MiB) far past both pipe buffers: a parent that wrote the
    // whole frame before reading would block on a child blocked on its
    // own write.
    val py =
      """import sys
        |inp, out = sys.stdin.buffer, sys.stdout.buffer
        |pad = b"x" * (256 * 1024)
        |seen = 0
        |while True:
        |    line = inp.readline()
        |    if not line:
        |        break
        |    n = int(line)
        |    if n == 0:
        |        out.write(b"1\nread\t%d\n" % seen)
        |        out.flush()
        |        break
        |    out.write(b"1\nheader\t%d\t%s\n" % (n, pad))
        |    out.flush()
        |    for _ in range(n):
        |        inp.readline()
        |    seen += n
        |""".stripMargin
    val cmd = "python3 -c '" + py.replace("'", "'\\''") + "'"
    val df = spark.range(0, 50000).coalesce(1).select($"id", repeat(lit("y"), 60).as("pad"))
    val group = "exchange-early-answer"
    val run = Future {
      spark.sparkContext.setJobGroup(group, "early-answer child", interruptOnCancel = true)
      try Stream.tsv(df, cmd, chunkSize = 25000).collect().map(_.getString(2)).toSeq
      finally spark.sparkContext.clearJobGroup()
    }
    val responses =
      try Await.result(run, 120.seconds)
      catch { case e: TimeoutException =>
        spark.sparkContext.cancelJobGroup(group)
        fail("the stream deadlocked on a child that answers early", e)
      }
    val headers = responses.filter(_.startsWith("header\t")).map(_.split("\t")(1).toLong)
    assert(headers == Seq(25000L, 25000L))
    assert(responses.filter(_.startsWith("read\t")) == Seq("read\t50000"))
  }
}
