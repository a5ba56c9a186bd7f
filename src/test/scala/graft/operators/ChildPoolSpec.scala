package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec
import graft.operators.clients.JvmChild

/** Child-process pooling (r18 verdict directive 3): a loop-style child
  * that answers the end-of-data handshake and then waits for the next
  * stream is returned to [[ChildProcessPool]] and reused by the next
  * task with the same command — fork count drops from tasks to the
  * concurrency high-water mark. Exit-style children (every pre-pooling
  * script) must degrade to fork-per-task with identical results.
  *
  * Every test drains the pool before returning: pooled idle children
  * are a deliberate cross-query state, but CancellationSpec counts live
  * awk processes and must not see ours.
  */
class ChildPoolSpec extends SparkSpec {
  import spark.implicits._

  /** Loop-style echo: finalize resets state instead of exiting (the
    * PipeQueries production shape).
    */
  private val loopEcho =
    """awk -W interactive 'BEGIN{n=-1}
      |{ if (n<0) { n=$0+0; if (n==0) { print 0; fflush(); n=-1; next }; print n }
      |  else     { print "ok\t" $0; if (--n==0) { fflush(); n=-1 } } }'"""
      .stripMargin.replace("\n", " ")

  /** Exit-style echo: the pre-pooling script (exits after finalize). */
  private val exitEcho =
    """awk -W interactive 'BEGIN{n=-1}
      |{ if (n<0) { n=$0+0; if (n==0) { print 0; fflush(); exit }; print n }
      |  else     { print "ok\t" $0; if (--n==0) { fflush(); n=-1 } } }'"""
      .stripMargin.replace("\n", " ")

  private def sumEcho(df: org.apache.spark.sql.DataFrame): Long =
    df.select(explode(split($"response", "\n")).as("l"))
      .select(split($"l", "\t").getItem(1).cast("long").as("v"))
      .agg(sum($"v")).head().getLong(0)

  test("loop-style children are pooled and reused across runs") {
    try {
      val df = spark.range(0, 1000).repartition(4).select($"id")
      val expected = (0L until 1000L).sum
      val out = Stream.tsv(df, loopEcho, chunkSize = 100, reuseChildren = true)
      assert(sumEcho(out) == expected)
      // the partition children survived the protocol into the pool
      // (≤ 4: a task finishing before a sibling starts already reuses)
      val pooled = ChildProcessPool.idleCount(loopEcho)
      assert(pooled >= 1 && pooled <= 4, s"pooled=$pooled")
      // second run: children come FROM the pool and go back — no growth
      assert(sumEcho(out) == expected)
      assert(ChildProcessPool.idleCount(loopEcho) <= pooled.max(4))
    } finally ChildProcessPool.drain()
    assert(ChildProcessPool.idleCount(loopEcho) == 0)
  }

  test("reuse off keeps the fork-per-task lifecycle (empty pool)") {
    try {
      val df = spark.range(0, 100).repartition(2).select($"id")
      val out = Stream.tsv(df, loopEcho, chunkSize = 50)
      assert(sumEcho(out) == (0L until 100L).sum)
      assert(ChildProcessPool.idleCount(loopEcho) == 0)
    } finally ChildProcessPool.drain()
  }

  test("exit-style children degrade gracefully under reuse") {
    try {
      val df = spark.range(0, 100).repartition(2).select($"id")
      val out = Stream.tsv(df, exitEcho, chunkSize = 50, reuseChildren = true)
      val expected = (0L until 100L).sum
      // the child exits right after its final message; whether release
      // catches it dead or the next borrow does, both runs must succeed
      assert(sumEcho(out) == expected)
      assert(sumEcho(out) == expected)
    } finally ChildProcessPool.drain()
  }

  test("cancellation listener does not kill a child already released") {
    try {
      val df = spark.range(0, 100).repartition(1).select($"id")
      val out = Stream.tsv(df, loopEcho, chunkSize = 50, reuseChildren = true)
      assert(sumEcho(out) == (0L until 100L).sum)
      // the task that used the pooled child has completed; its
      // completion listener ran — the released child must still be alive
      Thread.sleep(300)
      assert(ChildProcessPool.idleCount(loopEcho) == 1)
      val reused = sumEcho(out) // would fork anew if the child died
      assert(reused == (0L until 100L).sum)
      assert(ChildProcessPool.idleCount(loopEcho) == 1)
    } finally ChildProcessPool.drain()
  }

  /** Two runs through a loop-style JVM echo child: the children of the
    * first run are pooled and serve the second without the pool growing.
    */
  private def pooledTwice(cmd: String, run: () => Long, expected: Long): Unit =
    try {
      assert(run() == expected)
      val pooled = ChildProcessPool.idleCount(cmd)
      assert(pooled >= 1 && pooled <= 4, s"pooled=$pooled")
      assert(run() == expected)
      assert(ChildProcessPool.idleCount(cmd) <= pooled.max(4))
    } finally ChildProcessPool.drain()

  test("loop-style Arrow children are pooled and reused across runs") {
    val cmd = JvmChild.command("graft.operators.clients.ArrowEchoChild")
    val df = spark.range(0, 1000).repartition(4).select($"id")
    val declared = StructType(Seq(StructField("id", LongType)))
    val out = Stream.arrow(df, cmd, declared, chunkSize = 100, reuseChildren = true)
    pooledTwice(cmd, () => out.agg(sum($"id")).head().getLong(0), (0L until 1000L).sum)
  }

  test("loop-style R-DF children are pooled and reused across runs") {
    val cmd = JvmChild.command("graft.operators.clients.RdfEchoChild")
    val df = spark.range(0, 1000).repartition(4).select($"id".cast("int").as("i"))
    val declared = StructType(Seq(StructField("i", IntegerType)))
    val out = Stream.df(df, cmd, declared, chunkSize = 100, reuseChildren = true)
    pooledTwice(cmd, () => out.agg(sum($"i")).head().getLong(0), (0L until 1000L).sum)
  }
}
