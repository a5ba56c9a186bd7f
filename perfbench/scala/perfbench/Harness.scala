package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import graft.operators.ChildProcessPool

/** Workload runner. Runs one workload in this JVM and writes the raw
  * record (`raw.json`, plus `spans.json` when traced) that
  * `perfbench/run.py` turns into metrics and checks.
  *
  * Usage: perfbench.Harness <workload> <seed> <seconds> <trace 0|1>
  *          <dataDir> <outDir>
  *        perfbench.Harness oracle-sql <out.json>
  */
object Harness {
  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, dataDir: String, outDir: String)

  /** Cores the session runs on; the workloads are sized for four. */
  val Cores = 4

  /** Partitions of every stage and stream call. Half the cores: each
    * running task also drives a child process, and the driver, GC and
    * JIT threads need the rest, so nothing waits for a core. */
  val Parallelism = 2

  /** One timed operation of a closed loop (it is due when it starts). */
  final case class Op(kind: String, pass: Int, traced: Boolean, start: Long,
                      end: Long, rows: Long, ok: Boolean, error: String,
                      result: Map[String, Any])

  final class Record(val args: Args) {
    val setupS = mutable.ArrayBuffer.empty[Double]
    val ops = mutable.ArrayBuffer.empty[Op]
    val counters = mutable.LinkedHashMap.empty[String, Any]
    val extra = mutable.LinkedHashMap.empty[String, Any]

    def json(rssPeakMb: Double): String = Json.obj(
      "workload" -> args.workload, "seed" -> args.seed, "cores" -> Cores,
      "host_cores" -> Runtime.getRuntime.availableProcessors(),
      "seconds" -> args.seconds, "trace" -> args.trace,
      "setup_s" -> setupS.toSeq, "rss_peak_mb" -> rssPeakMb,
      "counters" -> counters, "extra" -> extra,
      "ops" -> ops.map(o => mutable.LinkedHashMap[String, Any](
        "kind" -> o.kind, "pass" -> o.pass, "traced" -> o.traced,
        "start" -> o.start, "end" -> o.end, "rows" -> o.rows,
        "ok" -> o.ok, "error" -> o.error, "result" -> o.result)))
  }

  /** Time `body` as one operation; a thrown error is recorded, not
    * propagated, so one failure never hides the rest of the run. */
  def timeOp(rec: Record, kind: String, pass: Int, rows: Long)(
      body: => Map[String, Any]): Op = {
    val t0 = System.nanoTime()
    val op = try {
      val r = body
      Op(kind, pass, Trace.on, t0, System.nanoTime(), rows, ok = true, null, r)
    } catch {
      case e: Throwable =>
        Op(kind, pass, Trace.on, t0, System.nanoTime(), rows, ok = false,
          s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300), Map.empty)
    }
    rec.ops += op
    op
  }

  /** Run length of a closed loop: at least `minPasses` passes, and
    * another only while one more pass as long as the last would still
    * end inside `seconds`. */
  final class Budget(seconds: Double, minPasses: Int = 1) {
    private val t0 = System.nanoTime()
    private var last = t0
    private var lastLap = 0L
    private var passes = 0
    def lap(): Unit = {
      val now = System.nanoTime()
      lastLap = now - last
      last = now
      passes += 1
    }
    def another(): Boolean =
      passes < minPasses || (last - t0) + lastLap <= (seconds * 1e9).toLong
  }

  /** Scheduler counters from task, stage and job events. */
  final class SchedListener extends SparkListener {
    val jobs, stages, tasks = new AtomicLong
    val runMs, cpuNs, delayMs, gcMs, shufWrite, shufRead = new AtomicLong
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        runMs.addAndGet(m.executorRunTime)
        cpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        val info = e.taskInfo
        if (info != null && info.finished) {
          // the scheduler delay the Spark UI shows: wall time of the task
          // not spent deserializing, running or returning its result
          val d = info.duration - m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - info.gettingResultTime
          delayMs.addAndGet(math.max(0L, d))
        }
      }
    }
    def snapshot(): Map[String, Double] = Map(
      "jobs" -> jobs.get.toDouble, "stages" -> stages.get.toDouble,
      "tasks" -> tasks.get.toDouble, "task_s" -> runMs.get / 1e3,
      "cpu_s" -> cpuNs.get / 1e9, "delay_s" -> delayMs.get / 1e3,
      "gc_s" -> gcMs.get / 1e3, "shuffle_write_mb" -> shufWrite.get / 1e6,
      "shuffle_read_mb" -> shufRead.get / 1e6)
  }

  def delta(after: Map[String, Double], before: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }

  /** Peak resident memory of this JVM (the kernel's high-water mark)
    * and, separately, the peak summed resident size of its live
    * descendant processes (the stream children), sampled every 100 ms;
    * the children's heaps grow with their own GC timing, so their peak
    * is a layer metric, not part of the end-to-end one. A child
    * caught between fork and exec still shares this JVM's memory and
    * reports its size; it is recognised by the identical virtual size
    * and skipped. */
  final class RssSampler extends Thread("perfbench-rss") {
    @volatile private var peakKidsKb = 0L
    @volatile private var running = true
    setDaemon(true)
    private def statusKb(pid: Long, key: String): Long =
      try {
        Files.readAllLines(Paths.get(s"/proc/$pid/status")).asScala
          .find(_.startsWith(key))
          .map(_.split("\\s+")(1).toLong).getOrElse(0L)
      } catch { case _: Exception => 0L }
    def sample(): Unit = {
      val self = ProcessHandle.current()
      val selfVm = statusKb(self.pid(), "VmSize:")
      val kids = self.descendants().iterator().asScala.map(_.pid())
        .filter(p => statusKb(p, "VmSize:") != selfVm)
        .map(p => statusKb(p, "VmRSS:")).sum
      peakKidsKb = math.max(peakKidsKb, kids)
    }
    override def run(): Unit =
      while (running) { sample(); Thread.sleep(100) }
    /** (JVM high-water mark, children's peak) in MB. */
    def stopAndPeaksMb(): (Double, Double) = {
      running = false
      sample()
      (statusKb(ProcessHandle.current().pid(), "VmHWM:") / 1024.0, peakKidsKb / 1024.0)
    }
  }

  /** Drain the child pool, then count what is still alive: descendant
    * processes and child watchdog threads. */
  def leakCheck(): Map[String, Any] = {
    ChildProcessPool.drain()
    def kids = ProcessHandle.current().descendants().iterator().asScala
      .count(_.isAlive)
    def watchdogs = Thread.getAllStackTraces.keySet.asScala
      .count(t => t.isAlive && t.getName.startsWith("graft-child-watchdog-"))
    val deadline = System.nanoTime() + 5000000000L
    while ((kids + watchdogs) > 0 && System.nanoTime() < deadline) Thread.sleep(50)
    Map("children" -> kids, "watchdogs" -> watchdogs)
  }

  def threadsStarted: Long = ManagementFactory.getThreadMXBean.getTotalStartedThreadCount

  def gcSeconds: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Parallelism.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    if (argv.length == 2 && argv(0) == "oracle-sql") {
      // the DuckDB oracle SQL of the suite_mix queries, for run.py
      val sql = graft.SparkEntry.oracleSql
      Files.write(Paths.get(argv(1)), Json.value(
        SuiteMix.Queries.map(q => q -> sql(q)).toMap).getBytes(StandardCharsets.UTF_8))
      return
    }
    if (argv.length != 6) {
      System.err.println(
        "usage: perfbench.Harness <workload> <seed> <seconds> <trace> <dataDir> <outDir>")
      sys.exit(2)
    }
    val args = Args(argv(0), argv(1).toLong, argv(2).toDouble, argv(3) == "1",
      argv(4), argv(5))
    Files.createDirectories(Paths.get(args.outDir))
    val rss = new RssSampler
    rss.start()
    val rec = new Record(args)
    val t0 = System.nanoTime()
    val spark = session()
    rec.extra("session_s") = (System.nanoTime() - t0) / 1e9
    try {
      args.workload match {
        case "pipe_bulk"       => PipeBulk.run(spark, rec)
        case "pipe_microbatch" => PipeMicrobatch.run(spark, rec)
        case "suite_mix"       => SuiteMix.run(spark, rec)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      rec.extra("leak") = leakCheck()
    } finally {
      Trace.on = false
      val (jvmMb, kidsMb) = rss.stopAndPeaksMb()
      rec.counters("child.rss_peak_mb") = kidsMb
      Files.write(Paths.get(args.outDir, "raw.json"),
        rec.json(jvmMb).getBytes(StandardCharsets.UTF_8))
      if (args.trace)
        Files.write(Paths.get(args.outDir, "spans.json"),
          Trace.json.getBytes(StandardCharsets.UTF_8))
      spark.stop()
    }
  }
}
