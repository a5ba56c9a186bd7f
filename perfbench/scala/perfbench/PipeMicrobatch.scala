package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.streaming.StreamingOps

/** `pipe_microbatch`: an open-loop generator feeds a `MemoryStream` at
  * a fixed rate in small ticks; `StreamingOps.pipePerBatch` pipes each
  * micro-batch through the mawk echo child (forked per task, no
  * pooling) and the sink parses the echoed rows back.
  *
  * Row ids are dense in generation order and row `i` is due at
  * `t0 + i / Rate`, so a batch record (sink end time, ids seen) is
  * enough for run.py to compute every row's due-to-sink latency and
  * to check exactly-once delivery.
  */
object PipeMicrobatch {
  val Rate = 5000          // rows per second
  val TickMs = 10          // generator tick
  val WarmupSeconds = 10.0 // excluded from the latency samples
  val Partitions = Harness.Parallelism

  final case class Batch(id: Long, end: Long, n: Long, idLo: Long, idHi: Long,
                         idSum: Long, forks: Long, traced: Boolean)

  /** One running query with its generator state. */
  final class Run(spark: SparkSession, seed: Long) {
    import spark.implicits._
    implicit private val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    private val mem = MemoryStream[(Long, Long, String)](Partitions)
    val batches = new ConcurrentLinkedQueue[Batch]()
    val seen = new ConcurrentLinkedQueue[Array[Long]]()
    val sunk = new AtomicLong(0)
    private val rnd = new scala.util.Random(seed)
    private val words = Array("query", "row", "stream", "spark", "line", "batch",
      "value", "hash", "filter", "data", "column", "window", "join", "vector")
    var generated = 0L

    private def sink(piped: DataFrame, batchId: Long): Unit = {
      val traced = Trace.on
      Trace.span("batch", "batch.sink") {
        val f = split(col("line"), "\t", -1)
        val parsed = piped.select(explode(split(col("response"), "\n")).as("line"))
          .select(f.getItem(1).cast("long").as("id"))
        val ids = Trace.span("stream", "stream.tsv")(parsed.collect()).map(_.getLong(0))
        val end = System.nanoTime()
        if (ids.nonEmpty) {
          seen.add(ids)
          sunk.addAndGet(ids.length)
          batches.add(Batch(batchId, end, ids.length, ids.min, ids.max, ids.sum,
            Probes.forks(parsed), traced))
        }
      }
    }

    val query: StreamingQuery = StreamingOps.pipePerBatch(mem.toDF(), Probes.AwkEcho, sink)

    /** Rows `[from, until)`; the due stamp is in microseconds from t0. */
    def add(from: Long, until: Long): Unit = {
      mem.addData((from until until).map { i =>
        val payload = Array.fill(2 + rnd.nextInt(6))(words(rnd.nextInt(words.length)))
          .mkString(" ")
        (i, i * 1000000L / Rate, payload)
      })
      generated = until
    }

    def stop(): Unit = { query.stop() }
  }

  /** Open-loop schedule: every tick adds the rows that fell due since
    * the last one. With `traced`, tracing is on in every other second
    * after the warm-up. Returns (late_ms_max, backlog_rows_max). */
  def generate(r: Run, t0: Long, seconds: Double, traced: Boolean): (Double, Long) = {
    var lateMax = 0.0
    var backlogMax = 0L
    val total = (seconds * Rate).toLong
    var tick = 1L
    while (r.generated < total) {
      val due = t0 + tick * TickMs * 1000000L
      val ms = tick * TickMs
      Trace.on = traced && ms >= WarmupSeconds * 1000 && (ms / 1000) % 2 == 1
      val wait = due - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      lateMax = math.max(lateMax, (System.nanoTime() - due) / 1e6)
      val until = math.min(total, tick * TickMs * Rate / 1000)
      if (until > r.generated) r.add(r.generated, until)
      backlogMax = math.max(backlogMax, r.generated - r.sunk.get)
      tick += 1
    }
    (lateMax, backlogMax)
  }

  def run(spark: SparkSession, rec: Harness.Record): Unit = {
    val args = rec.args
    // set-up: start a query and get one small batch through it, five
    // times (a set-up takes half a second, so the median needs more of
    // them); each start pays planning, the first fork and the sink path
    for (rep <- 0 until 5) {
      val t0 = System.nanoTime()
      val r = new Run(spark, args.seed + rep)
      r.add(0, 100)
      r.query.processAllAvailable()
      rec.setupS += (System.nanoTime() - t0) / 1e9
      r.stop()
    }

    val progress = new ConcurrentLinkedQueue[Map[String, Any]]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        progress.add(Map("batch" -> p.batchId, "rows" -> p.numInputRows) ++
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue })
      }
    }
    spark.streams.addListener(listener)
    val r = new Run(spark, args.seed)
    val t0 = System.nanoTime()
    // a traced run alternates untraced and traced seconds: the gap
    // between their latencies is the tracing overhead
    val (late, backlog) = generate(r, t0, WarmupSeconds + args.seconds, args.trace)
    r.query.processAllAvailable()
    Trace.on = false
    r.stop()
    spark.streams.removeListener(listener)

    val ids = r.seen.asScala.toSeq
    val counts = new Array[Byte](r.generated.toInt)
    var outOfRange = 0L
    ids.foreach(_.foreach { i =>
      if (i < 0 || i >= counts.length) outOfRange += 1
      else if (counts(i.toInt) < 100) counts(i.toInt) = (counts(i.toInt) + 1).toByte
    })
    rec.extra("t0") = t0
    rec.extra("rate") = Rate
    rec.extra("warmup_s") = WarmupSeconds
    rec.extra("partitions") = Partitions
    rec.extra("generated") = r.generated
    rec.extra("sunk") = r.sunk.get
    rec.extra("distinct") = counts.count(_ > 0).toLong
    rec.extra("duplicated") = counts.count(_ > 1).toLong
    rec.extra("missing") = counts.count(_ == 0).toLong
    rec.extra("out_of_range") = outOfRange
    rec.extra("late_ms_max") = late
    rec.extra("backlog_rows_max") = backlog
    rec.extra("batches") = r.batches.asScala.toSeq.sortBy(_.id).map(b => Map(
      "id" -> b.id, "end" -> b.end, "n" -> b.n, "id_lo" -> b.idLo,
      "id_hi" -> b.idHi, "id_sum" -> b.idSum, "forks" -> b.forks, "traced" -> b.traced))
    rec.extra("progress") = progress.asScala.toSeq
    if (args.trace) {
      Trace.on = true
      Trace.pass = -1
      rec.counters("child.spawn_ms.mawk") = Probes.spawnMs(Probes.AwkEcho, "tsv", 5)
      rec.extra("turnaround_us") = Probes.turnaroundUs(1000, 10)
      Trace.on = false
    }
  }
}
