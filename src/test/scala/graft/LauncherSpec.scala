package graft

import java.nio.file.{Files, Paths}

/** The launcher code behind the mains, exercised on the shared session
  * (never through a `main`, which would stop it): Bench's sidecar
  * naming, Verify's query filter and the per-query form of Plans.
  */
class LauncherSpec extends SparkSpec {
  private def names(dir: String, filtered: Boolean, failed: Boolean) =
    Seq("spread", "bench_out").map(stem =>
      Bench.sidecarName(stem, Bench.round(dir), 8, filtered, failed))

  test("clean full-suite runs are stamped by the next round and the core count") {
    val dir = tempDir("graft_launcher_")
    Files.write(Paths.get(dir, "BENCH_r7.json"), "{}".getBytes("UTF-8"))
    Files.write(Paths.get(dir, "BENCH_r6_c8.json"), "{}".getBytes("UTF-8"))
    assert(Bench.round(dir) == Some(8))
    assert(names(dir, filtered = false, failed = false) ==
      Seq("spread_r8_c8.json", "bench_out_r8_c8.json"))
  }

  test("filtered or failed runs land in the partial sidecars, stamped or not") {
    val stamped = tempDir("graft_launcher_")
    Files.write(Paths.get(stamped, "BENCH_r7.json"), "{}".getBytes("UTF-8"))
    val bare = tempDir("graft_launcher_")
    val partial = Seq("spread_partial.json", "bench_out_partial.json")
    for (dir <- Seq(stamped, bare);
         (filtered, failed) <- Seq((true, false), (false, true), (true, true)))
      assert(names(dir, filtered, failed) == partial, s"$dir $filtered $failed")
  }

  test("the summary line of a 179-query run with every query failed fits 2000 chars") {
    val failed = (1 to 179).map(i => f"q$i%03d_some_long_query_name")
    val line = Bench.summaryLine(123.4567, 234.5678, 0.6123, 3, 179, failed,
      "/root/testdata/sf0.1", "/repo/bench_out_partial.json")
    assert(line.length <= Bench.MaxSummaryChars, line.length)
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(json.get("value").asDouble == 123.4567 && json.get("cold_sec").asDouble == 234.5678)
    assert(json.get("geomean_sec").asDouble == 0.6123 && json.get("reps").asInt == 3)
    assert(json.get("queries").asInt == 179 && json.get("failed_count").asInt == 179)
    val named = json.get("failed")
    assert(named.size > 0 && named.size < 179)
    assert((0 until named.size).map(named.get(_).asText) == failed.take(named.size))
    assert(json.get("sf").asText == "/root/testdata/sf0.1")
    assert(json.get("artifact").asText == "/repo/bench_out_partial.json")
  }

  test("a clean run with no BENCH_r*.json in the repo dir is unstamped") {
    val bare = tempDir("graft_launcher_")
    assert(Bench.round(bare).isEmpty)
    assert(Bench.round(bare + "/missing").isEmpty)
    assert(names(bare, filtered = false, failed = false) ==
      Seq("spread_unstamped.json", "bench_out_unstamped.json"))
  }

  test("a Verify prefix filter selects the same names from the queries and the oracle SQL") {
    val only = Some(Seq("q39_", "q40_", "q41_", "q42_", "q43_", "q79_"))
    val dumped = Verify.selected(SparkEntry.queries, only).keySet
    assert(dumped.size == 6 && dumped.forall(n => only.get.exists(n.startsWith)), dumped)
    assert(Verify.selected(SparkEntry.oracleSql, only).keySet == dumped)
    // an unfiltered run still dumps and writes every query
    assert(Verify.selected(SparkEntry.queries, None).size == 179)
    assert(Verify.selected(SparkEntry.oracleSql, None).size == 179)
  }

  test("Plans.dump writes one formatted plan per prefix-matched query") {
    val out = tempDir("graft_plans_")
    Plans.dump(spark, sf, out, "before", Seq("q01_", "q40_"))
    assert(new java.io.File(out).list().sorted.toSeq ==
      Seq("q01_agg_before.txt", "q40_pipe_echo_before.txt"))
    val q40 = Files.readString(Paths.get(out, "q40_pipe_echo_before.txt"))
    // formatted explain names StreamExec by its nodeName, "Stream"
    assert("""(?m)^\(\d+\) Stream$""".r.findFirstIn(q40).isDefined, q40)
    assert(Files.readString(Paths.get(out, "q01_agg_before.txt")).contains("== Physical Plan =="))
  }

  test("inJobGroup tags every job of a query with its name and clears the group after") {
    val sc = spark.sparkContext
    // (job group, description) of every job this thread starts — the
    // marker property keeps other threads' jobs out of the record
    val marker = java.util.UUID.randomUUID().toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties).filter(_.getProperty("graft.test.marker") == marker)
          .foreach(p => seen.add((p.getProperty("spark.jobGroup.id"),
            p.getProperty("spark.job.description"))))
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.test.marker", marker)
    try {
      val rows = LocalSession.inJobGroup(spark, "q01_agg") {
        SparkEntry.queries("q01_agg")(spark, sf).collect().length
      }
      assert(rows > 0)
      sc.setJobDescription("sentinel")
      spark.range(1).count()
      sc.setJobDescription(null)
      // the listener bus is asynchronous and delivers in order: once the
      // sentinel arrived, every job of the query has too
      val deadline = System.nanoTime() + 30e9.toLong
      while (!seen.toArray.exists(_ == ((null, "sentinel"))) &&
             System.nanoTime() < deadline) Thread.sleep(20)
      val jobs = seen.toArray(Array.empty[(String, String)]).toSeq
      val (sentinel, queryJobs) = jobs.partition(_._2 == "sentinel")
      assert(sentinel.nonEmpty && sentinel.forall(_._1 == null), jobs)
      assert(queryJobs.nonEmpty && queryJobs.forall(_._1 == "q01_agg"), jobs)
    } finally {
      sc.setLocalProperty("graft.test.marker", null)
      sc.removeSparkListener(listener)
    }
  }
}
