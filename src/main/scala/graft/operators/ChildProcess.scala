package graft.operators

import java.io.{EOFException, IOException, InputStream, OutputStream}
import java.util.concurrent.{Executors, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.InternalRow

/** Lifecycle manager for one external child process per Spark task.
  *
  * Mirrors the reference's child runtime (reference `src/ChildProcess.cpp`):
  *  - `fork + execle("/bin/bash","-c",cmd)` → `ProcessBuilder("/bin/bash","-c",cmd)`
  *    (`src/ChildProcess.cpp:49-102`)
  *  - stderr is the child's log channel, stdout the data channel
  *    (`py_pkg/README.rst:101-131`) → stderr inherited into the executor log
  *  - 100 ms liveness/cancellation poll loop (`src/ChildProcess.cpp:130-225`)
  *    → a daemon watchdog thread that checks Spark task interruption every
  *    100 ms and destroys the child, unblocking any pipe read
  *  - termination escalation: close pipes, SIGTERM, bounded wait, SIGKILL
  *    (`src/ChildProcess.cpp:104-128`) → [[terminate]], which closes
  *    stdin only after the child is gone
  *  - 1 MiB buffered pipe ends, flushed once per message
  *    (`src/ChildProcess.h:47,78-116`) → [[PipeOut]] / [[PipeIn]], which
  *    take no lock per byte; `terminate` closes them, so a read blocked
  *    or refilling after it fails with an `IOException`
  *  - the poll loop that feeds a chunk while it reads the answer
  *    (`src/ChildProcess.cpp:130-225`) → [[exchange]], whose write runs
  *    on a pooled writer thread while the caller reads
  */
final class ChildProcess(cmd: String, ctx: Option[TaskContext]) {
  private val proc = {
    val pb = new ProcessBuilder("/bin/bash", "-c", cmd)
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    pb.start()
  }
  val stdin = new PipeOut(proc.getOutputStream)
  val stdout = new PipeIn(proc.getInputStream)

  private val closed = new AtomicBoolean(false)

  // a JVM that dies mid-query must not orphan children (the reference's
  // host kills the whole process tree on query teardown)
  private val shutdownHook = new Thread(() => proc.destroyForcibly())
  try Runtime.getRuntime.addShutdownHook(shutdownHook)
  catch { case _: IllegalStateException => () } // already shutting down

  // Task binding is REBINDABLE (child pooling, r18 verdict directive 3):
  // a pooled child detaches from the finished task (unbind) and is
  // re-attached by the next borrower (bind). The generation counter
  // makes each task's completion listener a no-op once the child has
  // moved on — listeners accumulate on the TaskContext, not here.
  @volatile private var bound: TaskContext = null
  private val bindGen = new AtomicLong(0L)

  // The reference re-validates the query every 100 ms while blocked on
  // child I/O and kills the child on cancellation. JVM pipe reads are not
  // interruptible, so a watchdog destroys the process when the Spark task
  // is killed, which makes the blocked read fail fast. One watchdog per
  // child for its whole (possibly multi-task) life: it polls whichever
  // task is CURRENTLY bound and just sleeps while the child idles in
  // the pool.
  private val watchdog: Thread = ctx match {
    case Some(_) =>
      val t = new Thread(() => {
        try {
          while (!closed.get() && proc.isAlive) {
            val c = bound
            if (c != null && c.isInterrupted()) terminate()
            else Thread.sleep(100)
          }
        } catch { case _: InterruptedException => () }
      }, s"graft-child-watchdog-${proc.pid()}")
      t.setDaemon(true)
      t.start()
      t
    case None => null
  }

  ctx.foreach(bind)

  /** Attach this child to a task: the watchdog honors the task's
    * cancellation from here on, and task completion terminates the
    * child UNLESS it was released first ([[unbind]]) — the pooling
    * hand-off. Construction with a ctx binds automatically (the
    * original single-task lifecycle).
    */
  def bind(c: TaskContext): Unit = {
    val gen = bindGen.incrementAndGet()
    bound = c
    c.addTaskCompletionListener[Unit] { _ =>
      if (bindGen.get() == gen) terminate()
    }
  }

  /** Detach from the current task without terminating — called only by
    * the pool when the stream protocol completed cleanly. The pending
    * completion listener becomes a no-op; the watchdog goes dormant
    * until the next [[bind]].
    */
  private[operators] def unbind(): Unit = {
    bound = null
    bindGen.incrementAndGet()
  }

  /** True while the child has not exited. */
  def alive: Boolean = proc.isAlive

  /** Throw if the child already exited (protocol violation / crash). */
  def throwIfDead(): Unit =
    if (!proc.isAlive) {
      val code = proc.exitValue()
      throw new IOException(
        s"stream child exited prematurely with code $code (cmd: $cmd)")
    }

  /** Like `throwIfDead`, but first allow a short grace period for the
    * exit status to be reaped — EOF on the pipe can be observable a
    * moment before `isAlive` flips.
    */
  private def throwIfDeadAfter(graceMillis: Long): Unit = {
    proc.waitFor(graceMillis, TimeUnit.MILLISECONDS)
    throwIfDead()
  }

  /** One half-duplex exchange: `write` runs on a pooled writer thread
    * while the calling thread runs `read`, whose result is returned.
    * Both at once is load-bearing: a child that answers before it has
    * consumed the whole message fills its stdout pipe, and a write on
    * the reading thread would then deadlock both sides.
    *
    * Failures follow the reference's liveness loop. A writer failure
    * terminates the child, which unblocks the read. A non-IO writer
    * error is the root cause; an IO writer error gets the premature-exit
    * diagnosis when the child has died. A writer still busy 60 s after
    * the read kills the child and fails: the next exchange would run
    * two writers on one pipe.
    */
  def exchange[R](write: => Unit)(read: => R): R = {
    @volatile var werr: Throwable = null
    val task: Runnable = () =>
      try write catch { case t: Throwable => werr = t; terminate() }
    val writer = ChildProcess.writers.submit(task)
    def joined(): Boolean =
      try { writer.get(60, TimeUnit.SECONDS); true }
      catch { case _: TimeoutException => false }
    val resp =
      try read
      catch { case re: Throwable =>
        joined()
        if (werr != null && !werr.isInstanceOf[IOException]) throw werr
        if (werr != null) { throwIfDead(); throw werr }
        throw re
      }
    if (!joined()) {
      terminate()
      sys.error(s"stream writer stuck >60s feeding child stdin ($cmd); child terminated")
    }
    if (werr != null) { throwIfDead(); throw werr }
    resp
  }

  /** Close stdout, SIGTERM, wait ≤500 ms, SIGKILL, then close stdin.
    * Idempotent. Stdin closes last: a write blocked on a child that does
    * not read holds the JDK pipe stream's lock, which closing it would
    * wait for; once the child is gone, that write fails and lets go.
    */
  def terminate(): Unit = {
    if (!closed.compareAndSet(false, true)) return
    try stdout.close() catch { case _: IOException => () }
    val handle = proc.toHandle
    handle.destroy()
    if (!proc.waitFor(500, TimeUnit.MILLISECONDS)) {
      handle.destroyForcibly()
      proc.waitFor(5, TimeUnit.SECONDS)
    }
    try stdin.close() catch { case _: IOException => () }
    if (watchdog != null) watchdog.interrupt()
    try Runtime.getRuntime.removeShutdownHook(shutdownHook)
    catch { case _: IllegalStateException => () }
  }
}

/** One outgoing message of a wire format, filled on the task thread
  * between exchanges and reused: rows are appended one at a time, and
  * `writeTo` sends them as one flushed message and clears the frame.
  */
trait WireFrame {
  def appendRow(row: InternalRow): Unit
  def rows: Int
  def writeTo(out: OutputStream): Unit
}

/** What every wire format's decoder shares: the message size cap and
  * the end-of-stream rule; and the writer threads of every exchange.
  */
object ChildProcess {

  /** Name prefix of the exchange writer threads. */
  val WriterThreadPrefix = "graft-child-writer-"

  /** Daemon writer threads shared by every child's exchanges: an idle
    * one serves the next exchange of any task or child, and one idle
    * for 60 s ends.
    */
  private val writers = {
    val n = new AtomicLong()
    Executors.newCachedThreadPool { r =>
      val t = new Thread(r, WriterThreadPrefix + n.incrementAndGet())
      t.setDaemon(true)
      t
    }
  }

  /** Largest message any wire format accepts from a child, 1 GiB
    * (reference `src/TSVInterface.h:102`).
    */
  private[operators] val MaxMessageBytes: Long = 1L << 30

  /** Fill `buf` from a child's stdout, or fail when it ends first. */
  private[operators] def readFully(in: InputStream, buf: Array[Byte],
                                   child: ChildProcess, lastMessage: Boolean,
                                   where: String = "mid-message"): Array[Byte] = {
    var off = 0
    while (off < buf.length) {
      val r = in.read(buf, off, buf.length - off)
      if (r < 0) closed(child, lastMessage, where)
      off += r
    }
    buf
  }

  /** One byte of a child's stdout (the TSV header, R-DF's int32s), or fail at its end. */
  private[operators] def readByte(in: InputStream, child: ChildProcess,
                                  lastMessage: Boolean): Int = {
    val b = in.read()
    if (b < 0) closed(child, lastMessage, "mid-message")
    b
  }

  /** Stdout ended before the bytes a message promised. A live child
    * that has since died gets the premature-exit diagnosis; after
    * end-of-data a child may exit right after its last write, but the
    * final message must still be complete. With no child — an in-memory
    * decode — the EOF is the whole story.
    */
  private[operators] def closed(child: ChildProcess, lastMessage: Boolean, where: String): Nothing = {
    if (!lastMessage && child != null) child.throwIfDeadAfter(2000)
    throw new EOFException(s"child stdout closed $where")
  }
}
