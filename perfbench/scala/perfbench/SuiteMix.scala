package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** `suite_mix`: 4 oracle-checked non-pipe queries from
  * `SparkEntry.queries`, each materialised with
  * `queryExecution.toRdd.count()`. A pass runs every query once, in an
  * order drawn from the seed; a run makes at least two passes. The
  * first of two untimed warm passes writes each result as parquet for
  * run.py's DuckDB oracle check; timed passes must reproduce its row
  * counts. */
object SuiteMix {
  /** Task-time-heavy queries: the capped simhash miner and exact
    * percentiles. */
  val Heavy: Seq[String] = Seq("q140_simhash64_capped", "q64_percentiles")
  /** Floor-dominated queries: planning and job submission outweigh
    * their task time. */
  val Floor: Seq[String] = Seq("q01_agg", "q16_sessionize")
  val Queries: Seq[String] = Heavy ++ Floor
  /** The tables those queries read. */
  val Tables: Seq[String] = Seq("documents", "events", "lineitem")

  def run(spark: SparkSession, rec: Harness.Record): Unit = {
    val args = rec.args
    val dir = args.dataDir
    val rnd = new scala.util.Random(args.seed)
    // set-up: a fresh session that registers and scans the queries'
    // tables, three times
    var s: SparkSession = spark
    for (_ <- 0 until 3) {
      val t0 = System.nanoTime()
      s = spark.newSession()
      SuiteMix.Tables.foreach(t => graft.Tables.load(s, dir, t).count())
      rec.setupS += (System.nanoTime() - t0) / 1e9
    }
    val qs = SparkEntry.queries

    // warm pass: JIT and codegen caches fill, and every result is kept
    // for the oracle check
    val warm0 = System.nanoTime()
    val verified = Queries.map { q =>
      val out = s"${args.outDir}/verify/$q"
      val q0 = System.nanoTime()
      val ok = try {
        val df = qs(q)(s, dir)
        df.coalesce(1).write.mode("overwrite").option("compression", "none").parquet(out)
        s.read.parquet(out).count()
      } catch { case e: Throwable =>
        rec.extra(s"verify_error.$q") = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        -1L
      }
      rec.extra(s"warm_s.$q") = (System.nanoTime() - q0) / 1e9
      q -> ok
    }.toMap
    rec.extra("warm_pass_s") = (System.nanoTime() - warm0) / 1e9
    rec.extra("verified_rows") = verified
    // a second untimed pass, run as the timed ones are: after the cold
    // pass alone the first timed pass still ran 20-40% slow (JIT); a
    // query that fails here fails, and is counted, in the timed passes
    Queries.foreach(q => scala.util.Try(qs(q)(s, dir).queryExecution.toRdd.count()))

    val listener = new Harness.SchedListener
    // two passes at least, so every query has a mean of two (four in
    // a traced run, which alternates untraced and traced passes: the gap
    // between them is the tracing overhead, free of warm-up drift)
    if (args.trace) spark.sparkContext.addSparkListener(listener)
    val clock = new Harness.Budget(args.seconds, minPasses = if (args.trace) 4 else 2)
    var pass = 0
    while (clock.another()) {
      val traced = args.trace && pass % 2 == 1
      Trace.on = traced
      Trace.pass = pass
      rnd.shuffle(Queries).foreach { q =>
        var before: Map[String, Double] = null
        var gc0 = 0.0
        if (traced) {
          org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
          before = listener.snapshot()
          gc0 = Harness.gcSeconds
        }
        val op = Harness.timeOp(rec, q, pass, 0L) {
          Trace.span("query", q) {
            val t0 = System.nanoTime()
            val df: DataFrame = Trace.span("driver", "driver.build")(qs(q)(s, dir))
            val t1 = System.nanoTime()
            Trace.span("driver", "driver.plan")(df.queryExecution.executedPlan)
            val t2 = System.nanoTime()
            val n = Trace.span("driver", "driver.exec")(df.queryExecution.toRdd.count())
            val t3 = System.nanoTime()
            Map("rows" -> n, "build_s" -> (t1 - t0) / 1e9, "plan_s" -> (t2 - t1) / 1e9,
              "exec_s" -> (t3 - t2) / 1e9)
          }
        }
        if (traced) {
          org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
          val d = Harness.delta(listener.snapshot(), before)
          rec.ops(rec.ops.size - 1) = op.copy(result = op.result ++ d ++
            Map("jvm_gc_s" -> (Harness.gcSeconds - gc0)))
        }
      }
      pass += 1
      clock.lap()
    }
    Trace.on = false
    if (args.trace) spark.sparkContext.removeSparkListener(listener)
  }
}
