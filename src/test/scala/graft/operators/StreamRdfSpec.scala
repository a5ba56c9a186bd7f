package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec
import graft.operators.clients.JvmChild

/** End-to-end `format=df` pipe tests: the R-serialization wire format
  * through the full StreamExec child-process loop (reference
  * `src/DFInterface.cpp` + `r_pkg/R/exported.R` semantics), using the
  * JVM R-DF client plus — when an R interpreter is installed — the
  * reference R client loop itself re-typed from
  * `r_pkg/R/exported.R:84-107` and run under `Rscript`.
  */
class StreamRdfSpec extends SparkSpec {
  import spark.implicits._

  private val declared = StructType(Seq(
    StructField("i", IntegerType), StructField("d", DoubleType),
    StructField("s", StringType)))

  private def inputDf =
    spark.range(0, 100).repartition(4)
      .select($"id".cast("int").as("i"),
        ($"id" * 0.5).as("d"),
        concat(lit("r"), $"id").as("s"))
      .withColumn("i", when($"i" % 10 === 0, lit(null)).otherwise($"i"))
      .withColumn("s", when($"i" % 7 === 0, lit(null)).otherwise($"s"))

  private val echoCmd = JvmChild.command("graft.operators.clients.RdfEchoChild")

  test("echo round-trips every row, null sentinels included, with lineage") {
    val out = Stream.df(inputDf, echoCmd, declared, chunkSize = 16).cache()
    try {
      assert(out.columns.toSeq ==
        Seq("i", "d", "s", "instance_id", "chunk_no", "value_no"))
      assert(out.count() == 100)
      val in = inputDf.select($"i", $"d", $"s").collect()
        .map(r => (Option(r.get(0)), r.getDouble(1), Option(r.get(2)))).toSet
      val got = out.select($"i", $"d", $"s").collect()
        .map(r => (Option(r.get(0)), r.getDouble(1), Option(r.get(2)))).toSet
      assert(got == in)
      assert(out.select($"instance_id").distinct.count() == 4)
      // several chunks per partition at chunkSize=16
      assert(out.select($"instance_id", $"chunk_no").distinct.count() >= 8)
    } finally out.unpersist()
  }

  test("rowcount finalize mode answers only the final message (P2/P3)") {
    val out = Stream.df(inputDf, s"$echoCmd rowcount",
      StructType(Seq(StructField("n", IntegerType))), chunkSize = 16)
    val perChild = out.select($"n").as[Int].collect()
    assert(perChild.length == 4) // one final answer per partition child
    assert(perChild.sum == 100)
  }

  test("broadcast side input reaches every child first") {
    val side = Seq((1000, 1.5, "model")).toDF("i", "d", "s")
    val out = Stream.df(inputDf, echoCmd, declared, chunkSize = 64,
      side = Some(side))
    // chunk 0 of every partition is the echoed side row
    val first = out.filter($"chunk_no" === 0)
      .select($"i", $"s").collect()
    assert(first.length == 4)
    assert(first.forall(r => r.getInt(0) == 1000 && r.getString(1) == "model"))
    assert(out.count() == 104)
  }

  test("sideLocal delivers each side partition to exactly one child") {
    // non-replicated ARRAY2 on the R-DF path: echo child, total rows =
    // main + side (each side row exactly once), side rows in chunk 0
    val main = spark.range(0, 30).repartition(3).select($"id".cast("int").as("i"))
    val side = spark.range(100, 106).repartition(3).select($"id".cast("int").as("i"))
    val declared = StructType(Seq(StructField("i", IntegerType)))
    val out = Stream.df(main, echoCmd, declared, chunkSize = 100,
      side = Some(side), sideLocal = true).collect()
    assert(out.length == 36)
    val sideEcho = out.filter(_.getInt(0) >= 100)
    assert(sideEcho.map(_.getInt(0)).sorted.toSeq == (100 until 106))
    assert(sideEcho.forall(_.getAs[Long]("chunk_no") == 0L))
    val plan = Stream.df(main, echoCmd, declared, side = Some(side), sideLocal = true)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastExchange"), plan)
  }

  test("empty partitions still complete the EOF handshake") {
    val df = spark.range(0, 3).repartition(8).select($"id".cast("int").as("i"))
    val declared = StructType(Seq(StructField("i", IntegerType)))
    assert(Stream.df(df, echoCmd, declared).count() == 3)
  }

  test("child that exits early fails the query with the child diagnosis") {
    val e = intercept[Exception] {
      Stream.df(inputDf, "exit 3", declared).count()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(m =>
      m.contains("exited prematurely") || m.contains("closed mid-message")),
      msgs(e).mkString(" | "))
  }

  test("int64 input is rejected with casting guidance") {
    val e = intercept[IllegalArgumentException] {
      Stream.df(spark.range(5).toDF("id"), echoCmd, declared)
    }
    assert(e.getMessage.contains("int64"))
  }

  test("pre-captured R transcript drives the full pipe without R installed") {
    // the checked-in session transcript (real-R envelope: 4.4.1 writer
    // version, ASCII-level CHARSXPs — see tools/gen_rdf_fixtures.py)
    // replayed as the child: `cat` streams [typed response][empty
    // final], exactly what a one-chunk reference `map` session writes
    // to stdout. This exercises StreamExec's R-df read path end-to-end
    // with bytes our own writer never produces — the always-running
    // twin of the environment-gated Rscript e2e below.
    val url = getClass.getResource("/rdf/r441_transcript.bin")
    assume(url != null && url.getProtocol == "file", s"fixture not on disk: $url")
    val path = new java.io.File(url.toURI).getAbsolutePath
    val sch = StructType(Seq(
      StructField("x", IntegerType), StructField("y", DoubleType),
      StructField("s", StringType)))
    val in = Seq((10, 0.5, "in")).toDF("x", "y", "s").coalesce(1)
    // emit the transcript, then drain stdin until the parent closes it
    // (a child that exits the instant its output is written would trip
    // the liveness check before the exchange completes)
    val out = Stream.df(in, s"cat $path; cat >/dev/null", sch, chunkSize = 16)
      .select($"x", $"y", $"s").collect()
    assert(out.length == 2)
    assert(out(0).getInt(0) == 1 && out(0).getDouble(1) == 2.5 &&
      out(0).getString(2) == "ab")
    assert(out(1).isNullAt(0) && out(1).isNullAt(1) && out(1).isNullAt(2))
  }

  /** The unmodified reference R client loop (`r_pkg/R/exported.R:84-107`
    * `map`), re-typed with the library boilerplate inlined: binary
    * stdin/stdout connections, `unserialize`/`serialize(..., xdr=FALSE,
    * version=2)`, `data.frame(...)` per message, empty-list handshake.
    * Skips (does not fail) when no R interpreter is installed.
    */
  test("reference R client loop round-trips via Rscript (skips without R)") {
    val rscript = Seq("/usr/bin/Rscript", "/usr/local/bin/Rscript")
      .find(p => new java.io.File(p).canExecute)
      .orElse(sys.env.get("PATH").flatMap(_.split(':')
        .map(d => new java.io.File(d, "Rscript"))
        .find(_.canExecute).map(_.getAbsolutePath)))
    assume(rscript.isDefined, "Rscript not installed; skipping R e2e")
    val script =
      """con_in <- file("stdin", "rb")
        |con_out <- pipe("cat", "wb")
        |while (TRUE) {
        |  input <- data.frame(unserialize(con_in), stringsAsFactors = FALSE)
        |  if (nrow(input) == 0) {
        |    writeBin(serialize(list(), NULL, xdr = FALSE, version = 2), con_out)
        |    flush(con_out)
        |    quit(save = "no")
        |  }
        |  out <- list(i = as.integer(input$i), d = input$d + 1, s = input$s)
        |  writeBin(serialize(out, NULL, xdr = FALSE, version = 2), con_out)
        |  flush(con_out)
        |}""".stripMargin
    val f = Files.createTempFile("graft_rdf_", ".R")
    Files.writeString(f, script)
    try {
      val out = Stream.df(inputDf, s"${rscript.get} --vanilla $f", declared,
        chunkSize = 32)
      assert(out.count() == 100)
      // the child added 1.0 to every double — proves real R decoded us
      assert(out.agg(sum($"d")).head.getDouble(0) ==
        inputDf.agg(sum($"d" + 1)).head.getDouble(0))
    } finally Files.deleteIfExists(f)
  }
}
