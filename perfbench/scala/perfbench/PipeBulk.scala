package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructType}
import org.apache.spark.storage.StorageLevel

import graft.operators.{ChildProcessPool, Stream}
import graft.operators.clients.JvmChild

/** `pipe_bulk`: 240k cached rows through pooled loop-style children in
  * every wire format. Each round runs the four calls once, in an order
  * drawn from the seed; a call is one `stream()` plus the aggregate
  * that proves its output (count and sums, checked by run.py). */
object PipeBulk {
  val Partitions = Harness.Parallelism
  val Kinds: Seq[String] = Seq("tsv_echo", "tsv_agg", "arrow_echo", "rdf_echo")
  val TsvChunk = 5000
  val BinChunk = 8192

  private lazy val arrowCmd = JvmChild.command("graft.operators.clients.ArrowEchoChild")
  private lazy val rdfCmd = JvmChild.command("graft.operators.clients.RdfEchoChild")

  final class Inputs(val in: DataFrame, val rdfIn: DataFrame) {
    def unpersist(): Unit = { in.unpersist(blocking = true); rdfIn.unpersist(blocking = true) }
  }

  def prepare(spark: SparkSession, dir: String): Inputs = {
    import spark.implicits._
    val in = spark.read.parquet(s"$dir/bulk.parquet")
      .select($"l_quantity", $"l_orderkey", $"l_returnflag", $"text")
      .repartition(Partitions, $"l_orderkey")
      .persist(StorageLevel.MEMORY_ONLY)
    // the R-DF wire carries int32/double/string only
    val rdfIn = in.select($"l_quantity", $"l_orderkey".cast(IntegerType).as("l_orderkey"),
      $"l_returnflag", $"text").persist(StorageLevel.MEMORY_ONLY)
    in.count()
    rdfIn.count()
    new Inputs(in, rdfIn)
  }

  /** The echo calls' proof: count, key and quantity sums, and the
    * summed length of the text as it crossed the wire. */
  private def echoAgg(df: DataFrame, textLen: org.apache.spark.sql.Column): DataFrame =
    df.agg(count(lit(1)).as("n"), sum(col("l_orderkey").cast("long")).as("sum_orderkey"),
      sum(col("l_quantity")).as("sum_qty"), sum(textLen).as("sum_text_len"))

  /** Build the call's DataFrame (the stream node plus its proof). */
  def call(kind: String, inputs: Inputs): DataFrame = kind match {
    case "tsv_echo" =>
      // echoed line: ok \t qty \t orderkey \t flag \t escaped text
      val f = split(col("line"), "\t", -1)
      echoAgg(
        Stream.tsv(inputs.in, Probes.AwkEcho, TsvChunk, reuseChildren = true)
          .select(explode(split(col("response"), "\n")).as("line"))
          .select(f.getItem(1).cast("double").as("l_quantity"),
            f.getItem(2).cast("long").as("l_orderkey"), f.getItem(4).as("text")),
        length(col("text")))
    case "tsv_agg" =>
      Stream.tsv(inputs.in, Probes.AwkSum, TsvChunk, reuseChildren = true)
        .agg(sum(col("response").cast("long")).as("sum_qty"))
    case "arrow_echo" =>
      echoAgg(Stream.arrow(inputs.in, arrowCmd, inputs.in.schema, BinChunk,
        reuseChildren = true), length(col("text")))
    case "rdf_echo" =>
      echoAgg(Stream.df(inputs.rdfIn, rdfCmd, inputs.rdfIn.schema, BinChunk,
        reuseChildren = true), length(col("text")))
  }

  def fmtOf(kind: String): String = kind match {
    case "tsv_echo" => "tsv"
    case "tsv_agg"  => "tsv_agg"
    case "arrow_echo" => "arrow"
    case "rdf_echo" => "rdf"
  }

  /** Run one call; returns its proof row and the forks it made. */
  def runCall(kind: String, inputs: Inputs): (Map[String, Any], Long) = {
    val df = call(kind, inputs)
    val row = df.collect().head
    val result = df.schema.fieldNames.zipWithIndex.map { case (n, i) =>
      n -> (row.get(i) match {
        case null => null
        case v: java.lang.Number => v.doubleValue
        case v => v.toString
      })
    }.toMap
    (result, Probes.forks(df))
  }

  def run(spark: SparkSession, rec: Harness.Record): Unit = {
    val args = rec.args
    val rnd = new scala.util.Random(args.seed)
    // set-up, three times: drain the child pool, cache the input, and
    // start a child of every kind on a 4k-row sample of it
    var inputs: Inputs = null
    for (_ <- 0 until 3) {
      if (inputs != null) inputs.unpersist()
      ChildProcessPool.drain()
      val t0 = System.nanoTime()
      inputs = prepare(spark, args.dataDir)
      val sample = new Inputs(
        inputs.in.sample(0.007, args.seed).repartition(Partitions),
        inputs.rdfIn.sample(0.007, args.seed).repartition(Partitions))
      Kinds.foreach(k => runCall(k, sample))
      rec.setupS += (System.nanoTime() - t0) / 1e9
    }
    // two untimed full rounds: the first passes over all rows run slow
    // (JIT of the full-size paths in this JVM and in the children)
    for (_ <- 0 until 2) Kinds.foreach(k => runCall(k, inputs))
    val sizes = inputs.in.rdd.mapPartitions(it => Iterator(it.size.toLong)).collect().toSeq
    val rows = sizes.sum
    def exchanges(chunk: Int): Long = sizes.map(n => (n + chunk - 1) / chunk + 1).sum
    rec.extra("partition_rows") = sizes
    rec.extra("exchanges") = Kinds.map(k =>
      k -> exchanges(if (k.startsWith("tsv")) TsvChunk else BinChunk)).toMap

    val listener = new Harness.SchedListener
    // a traced run alternates untraced and traced rounds: the gap
    // between them is the tracing overhead, free of warm-up drift
    if (args.trace) spark.sparkContext.addSparkListener(listener)
    val clock = new Harness.Budget(args.seconds, minPasses = if (args.trace) 2 else 1)
    var pass = 0
    while (clock.another()) {
      val traced = args.trace && pass % 2 == 1
      Trace.on = traced
      Trace.pass = pass
      rnd.shuffle(Kinds).foreach { kind =>
        val fmt = fmtOf(kind)
        var forks = 0L
        var before: Map[String, Double] = null
        var threads0 = 0L
        if (traced) {
          org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
          before = listener.snapshot()
          threads0 = Harness.threadsStarted
        }
        val op = Harness.timeOp(rec, kind, pass, rows) {
          val (r, f) = Trace.span("stream", s"stream.$fmt")(runCall(kind, inputs))
          forks = f
          r
        }
        if (traced) {
          org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
          val d = Harness.delta(listener.snapshot(), before)
          rec.ops(rec.ops.size - 1) = op.copy(result = op.result ++ Map(
            "task_s" -> d("task_s"), "tasks" -> d("tasks"), "forks" -> forks,
            "threads_started" -> (Harness.threadsStarted - threads0)))
        }
      }
      pass += 1
      clock.lap()
    }
    Trace.on = false

    if (args.trace) {
      Trace.on = true
      Trace.pass = -1
      val sample = inputs.in.queryExecution.toRdd.map(_.copy()).take(40000).toIndexedSeq
      val rdfSample = inputs.rdfIn.queryExecution.toRdd.map(_.copy()).take(40000).toIndexedSeq
      val schema: StructType = inputs.in.schema
      rec.counters ++= Probes.codec("tsv", sample, schema, TsvChunk)
      rec.counters ++= Probes.codec("arrow", sample, schema, BinChunk)
      rec.counters ++= Probes.codec("rdf", rdfSample, inputs.rdfIn.schema, BinChunk)
      rec.counters("child.spawn_ms.mawk") = Probes.spawnMs(Probes.AwkEcho, "tsv", 5)
      rec.counters("child.spawn_ms.jvm") = Probes.spawnMs(arrowCmd, "arrow", 3)
      rec.extra("turnaround_us") = Probes.turnaroundUs(1000, 10)
      Trace.on = false
      spark.sparkContext.removeSparkListener(listener)
    }
    inputs.unpersist()
  }
}
