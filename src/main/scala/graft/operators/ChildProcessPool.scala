package graft.operators

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedDeque, Executors, TimeUnit}

import org.apache.spark.TaskContext

/** Executor-local pool of stream children whose protocol completed
  * cleanly, keyed by command line (r18 verdict directive 3).
  *
  * The reference holds ONE child per instance for the lifetime of a
  * query (`src/PhysicalStream.cpp`: the child is forked at open and
  * torn down at close, never per chunk); the Spark port forks per TASK,
  * which on a bench that re-runs each pipe query cold+3 reps pays the
  * child startup (mawk ~10 ms, a pinned child JVM ~300 ms) partitions ×
  * runs times — the dominant, and noisiest, cost of the pipe family.
  * Pooling reuses a protocol-complete child for the next task with the
  * SAME command: fork count drops from (partitions × runs) to the
  * concurrency high-water mark, exactly like Spark's own Python worker
  * reuse (`spark.python.worker.reuse`, on by default).
  *
  * Reuse is OPT-IN per stream call (`Stream.tsv/arrow/df(reuseChildren = true)`)
  * because it needs a LOOP-STYLE child: one that answers the final
  * message and then waits for the next stream's first message instead
  * of exiting (the reference R/Python clients are loop-shaped the same
  * way — their `map(f)` loop only ends when the parent closes the
  * pipe). A child that exits after its final message simply never
  * survives into the pool (release discards dead children), so a
  * mis-marked command degrades to the fork-per-task behavior — except
  * for the narrow race where the child is released alive and dies
  * before the next borrower's first write, which fails that task; hence
  * opt-in rather than default.
  *
  * Lifecycle guarantees, unchanged from the single-task design:
  * cancellation still kills the child (the borrower re-binds its
  * TaskContext, so the watchdog polls the LIVE task), task failure
  * still kills it (release only happens after the final response is
  * read), and JVM shutdown still kills it (per-child shutdown hook).
  * Idle children are reaped after [[IdleReapMillis]] so a long-lived
  * executor holds children only while pipe queries actually run.
  */
object ChildProcessPool {
  /** Hard cap on idle children per command. */
  val MaxIdlePerCmd = 64

  /** Idle children older than this are terminated by the reaper. */
  val IdleReapMillis: Long = 60000L

  private final case class Idle(child: ChildProcess, since: Long)

  private val idle = new ConcurrentHashMap[String, ConcurrentLinkedDeque[Idle]]()

  // lazily started single daemon; runs only once pooling is first used
  private lazy val reaper = {
    val ex = Executors.newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, "graft-child-pool-reaper")
      t.setDaemon(true)
      t
    })
    ex.scheduleWithFixedDelay(
      () => reapOlderThan(System.currentTimeMillis() - IdleReapMillis),
      15, 15, TimeUnit.SECONDS)
    ex
  }

  private def reapOlderThan(cutoff: Long): Unit = {
    val it = idle.values().iterator()
    while (it.hasNext) {
      val q = it.next()
      // idle entries age from the head (release appends, borrow pops
      // the tail — LIFO keeps the warmest child busiest)
      var e = q.peekFirst()
      while (e != null && (e.since < cutoff || !e.child.alive)) {
        if (q.remove(e)) e.child.terminate()
        e = q.peekFirst()
      }
    }
  }

  /** A pooled child for `cmd` re-bound to `ctx`, or a fresh fork.
    * Returns (child, freshlyForked) — the metric counts real forks.
    */
  def acquire(cmd: String, ctx: Option[TaskContext],
              reuse: Boolean): (ChildProcess, Boolean) = {
    if (reuse) {
      reaper // materialize the lazy val: reaping active from first use
      val q = idle.get(cmd)
      if (q != null) {
        var e = q.pollLast()
        while (e != null) {
          if (e.child.alive) {
            ctx.foreach(e.child.bind)
            return (e.child, false)
          }
          e.child.terminate() // close fds of a child that died idle
          e = q.pollLast()
        }
      }
    }
    (new ChildProcess(cmd, ctx), true)
  }

  /** Hand a child whose stream protocol completed CLEANLY (final
    * response fully read) back to the pool, or terminate it when reuse
    * is off / the child already exited / the pool is full. Never call
    * on an error path — a child mid-protocol is not reusable (its task
    * completion listener will terminate it).
    */
  def release(cmd: String, child: ChildProcess, reuse: Boolean): Unit = {
    if (!reuse) { child.terminate(); return }
    child.unbind()
    if (!child.alive) { child.terminate(); return }
    val q = idle.computeIfAbsent(cmd,
      _ => new ConcurrentLinkedDeque[Idle]())
    q.addLast(Idle(child, System.currentTimeMillis()))
    while (q.size > MaxIdlePerCmd) {
      val drop = q.pollFirst()
      if (drop != null) drop.child.terminate()
    }
  }

  /** Terminate every idle child now (test hygiene / explicit drain). */
  def drain(): Unit = reapOlderThan(Long.MaxValue)

  /** Idle children currently pooled for `cmd` (test observability). */
  def idleCount(cmd: String): Int = {
    val q = idle.get(cmd)
    if (q == null) 0 else q.size
  }
}
