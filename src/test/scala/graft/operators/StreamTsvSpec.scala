package graft.operators

import org.apache.spark.SparkException
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** TSV pipe protocol tests, mirroring the reference's golden shell tests
  * (`tests/test.sh`): echo round-trip, nulls/escapes, per-partition
  * aggregate with finalize, side input, child-crash handling.
  */
class StreamTsvSpec extends SparkSpec with StreamLeakFixture {
  import spark.implicits._

  /** awk echo client: replies to each chunk with one line per input line,
    * and an empty final message (reference `stream_test_client` analog).
    */
  private val awkEcho =
    """awk -W interactive 'BEGIN{n=-1}
      |{ if (n<0) { n=$0+0; if (n==0) { print 0; fflush(); exit }; print n }
      |  else     { print "ok\t" $0; if (--n==0) { fflush(); n=-1 } } }'""".stripMargin.replace("\n", " ")

  test("echo round-trips every row with lineage columns") {
    val df = spark.range(0, 1000).repartition(4).select($"id")
    val out = Stream.tsv(df, awkEcho, chunkSize = 100)
    assert(out.columns.toSeq == Seq("instance_id", "chunk_no", "response"))
    val lines = out.select(explode(split($"response", "\n")).as("l"))
      .select(split($"l", "\t").getItem(1).cast("long").as("v"))
    assert(lines.count() == 1000)
    assert(lines.agg(sum($"v")).head().getLong(0) == (0L until 1000L).sum)
    // 4 partitions x (1000/4 rows / 100 chunk) = 10+ chunks, several instances
    assert(out.select($"instance_id").distinct().count() == 4)
  }

  test("nulls and escapes follow the reference encoding") {
    val df = Seq(
      (Some(1L), Some("plain")),
      (None: Option[Long], Some("tab\there\nand\rnl\\end")),
      (Some(3L), None: Option[String])
    ).toDF("a", "b").coalesce(1)
    // cat-like child: echo chunk body verbatim
    val catEcho =
      """awk -W interactive 'BEGIN{n=-1}
        |{ if (n<0) { n=$0+0; if (n==0) { print 0; fflush(); exit }; print n }
        |  else     { print $0; if (--n==0) { fflush(); n=-1 } } }'""".stripMargin.replace("\n", " ")
    val resp = Stream.tsv(df, catEcho).select($"response").head().getString(0)
    val lines = resp.split("\n").toSeq
    assert(lines == Seq(
      "1\tplain",
      "\\N\ttab\\there\\nand\\rnl\\\\end",
      "3\t\\N"))
  }

  test("per-partition aggregate with finalize (P3) sums correctly") {
    // child keeps a running sum, emits only in the final message
    val awkSum =
      """awk -W interactive 'BEGIN{n=-1; s=0}
        |{ if (n<0) { n=$0+0;
        |             if (n==0) { printf "1\n%d\n", s; fflush(); exit };
        |             next }
        |  s += $1; if (--n==0) { print 0; fflush(); n=-1 } }'""".stripMargin.replace("\n", " ")
    val df = spark.range(1, 51).repartition(4).select($"id")
    val out = Stream.tsv(df, awkSum, chunkSize = 7)
    val total = out.select($"response".cast("long").as("s"))
      .agg(sum($"s")).head().getLong(0)
    assert(total == 1275) // reference tests/test.expected:36-37 (sum 1..50)
  }

  test("side input (P6) is delivered before partition data") {
    // child reads the first message as a key->name lookup, then maps ids
    val awkLookup =
      """awk -W interactive 'BEGIN{n=-1; mode=0}
        |{ if (n<0) { n=$0+0;
        |             if (n==0) { print 0; fflush(); exit };
        |             if (mode==0) hdr=1; print (mode==0 ? 0 : n); next }
        |  if (mode==0) { split($0,f,"\t"); m[f[1]]=f[2]; if (--n==0){ fflush(); n=-1; mode=1 } }
        |  else { print m[$1]; if (--n==0) { fflush(); n=-1 } } }'""".stripMargin.replace("\n", " ")
    val side = Seq((0L, "zero"), (1L, "one"), (2L, "two")).toDF("k", "v")
    val df = spark.range(0, 9).select(($"id" % 3).as("k")).repartition(3)
    val out = Stream.tsv(df, awkLookup, side = Some(side))
    val names = out.select(explode(split($"response", "\n")).as("name"))
      .groupBy($"name").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(names == Map("zero" -> 3L, "one" -> 3L, "two" -> 3L))
  }

  test("sideLocal delivers each side partition to exactly one child") {
    // non-replicated ARRAY2 semantics: with a cat echo child, total
    // echoed lines = main rows + side rows (each side row exactly once);
    // broadcast mode would echo main + partitions x side
    val main = spark.range(0, 30).repartition(3).select($"id")
    val side = spark.range(100, 106).repartition(3).select($"id")
    val out = Stream.tsv(main, "cat", chunkSize = 100,
      side = Some(side), sideLocal = true).collect()
    val lines = out.map(_.getString(2)).filter(_.nonEmpty)
      .flatMap(_.split("\n", -1)).map(_.toLong)
    assert(lines.length == 36, s"expected 30 main + 6 side lines, got ${lines.length}")
    assert(lines.count(_ >= 100L) == 6)
    assert(lines.filter(_ < 100L).sorted.toSeq == (0L until 30L).toSeq)
    // and the plan carries no broadcast for the side input
    val plan = Stream.tsv(main, "cat", side = Some(side), sideLocal = true)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastExchange"), plan)
  }

  test("sideLocal side rows arrive before the partition's own data") {
    // chunk 0 of every child must be the local side chunk (when present)
    val main = spark.range(0, 12).repartition(2).select($"id")
    val side = spark.range(100, 104).repartition(2).select($"id")
    val out = Stream.tsv(main, "cat", chunkSize = 100,
      side = Some(side), sideLocal = true).collect()
    val firstChunks = out.filter(_.getAs[Long]("chunk_no") == 0L)
      .flatMap(_.getString(2).split("\n", -1)).map(_.toLong)
    assert(firstChunks.forall(_ >= 100L),
      s"chunk 0 must hold only side rows, got ${firstChunks.mkString(",")}")
    assert(firstChunks.sorted.toSeq == (100L until 104L).toSeq)
  }

  test("sideLocal rejects misaligned partition counts at execution") {
    val main = spark.range(0, 12).repartition(3).select($"id")
    val side = spark.range(100, 104).repartition(2).select($"id")
    val e = intercept[Exception] {
      Stream.tsv(main, "cat", side = Some(side), sideLocal = true).count()
    }
    assert(e.getMessage != null && e.getMessage.toLowerCase.contains("partition"),
      e.getMessage)
  }

  test("empty partitions still complete the EOF handshake") {
    val df = spark.range(0, 3).repartition(8).select($"id")
    val out = Stream.tsv(df, awkEcho).collect()
    assert(out.flatMap(_.getString(2).split("\n")).map(_.stripPrefix("ok\t").toLong)
      .sorted.toSeq == Seq(0L, 1L, 2L))
  }

  test("chunk_no counts only data-bearing responses") {
    // the child answers "no data right now" to every other chunk: the
    // responses that do carry data still number 0..k-1 with no gaps
    val alternating =
      """awk -W interactive 'BEGIN{n=-1; c=0}
        |{ if (n<0) { n=$0+0; if (n==0) { print 0; fflush(); exit }; next }
        |  if (--n==0) { if (c%2==0) printf "1\nc%d\n", c; else print 0;
        |                fflush(); c++; n=-1 } }'""".stripMargin.replace("\n", " ")
    val df = spark.range(0, 6).coalesce(1).select($"id")
    val out = Stream.tsv(df, alternating, chunkSize = 1).collect()
      .map(r => r.getAs[Long]("chunk_no") -> r.getString(2)).sortBy(_._1)
    assert(out.toSeq == Seq(0L -> "c0", 1L -> "c2", 2L -> "c4"))
  }

  test("child that exits early fails the query") {
    val df = spark.range(0, 10).coalesce(1).toDF("id")
    val e = intercept[SparkException] {
      Stream.tsv(df, "exit 3").count()
    }
    assert(e.getMessage.contains("exited prematurely") ||
      Option(e.getCause).exists(_.getMessage.contains("exited prematurely")))
  }

  test("binary columns are rejected on the TSV path") {
    val df = Seq(Array[Byte](1, 2)).toDF("b").coalesce(1)
    val e = intercept[Exception] { Stream.tsv(df, awkEcho).count() }
    assert(e.getMessage.contains("Arrow") ||
      Option(e.getCause).exists(_.getMessage.contains("Arrow")))
  }

  test("allowlist gate rejects unlisted commands") {
    spark.conf.set("spark.graft.stream.allowedCommands", "cat")
    try {
      val df = spark.range(0, 2).toDF("id")
      intercept[IllegalArgumentException] { Stream.tsv(df, "rm -rf /tmp/x") }
    } finally spark.conf.unset("spark.graft.stream.allowedCommands")
  }

  test("a stdlib Python child speaks the reference protocol unmodified") {
    // the reference's Python TSV clients (py_pkg/README.rst:101-131
    // pattern: consume "n\n"+lines, answer "0\n" per chunk, emit the
    // aggregate only in the final message) must work against this
    // engine byte-for-byte — map+finalize with zero engine-side help
    assume(new java.io.File("/usr/bin/python3").exists ||
      sys.env.get("PATH").exists(_.split(':')
        .exists(p => new java.io.File(p, "python3").exists)))
    val py =
      """import sys
        |total = 0
        |while True:
        |    line = sys.stdin.readline()
        |    if not line:
        |        break
        |    n = int(line)
        |    if n == 0:
        |        sys.stdout.write("1\nTOTAL\t%d\n" % total)
        |        sys.stdout.flush()
        |        break
        |    for _ in range(n):
        |        total += int(sys.stdin.readline().split("\t")[0])
        |    sys.stdout.write("0\n")
        |    sys.stdout.flush()
        |""".stripMargin
    val cmd = "python3 -uc '" + py.replace("'", "'\\''") + "'"
    val df = spark.range(0, 100).repartition(4).toDF("id")
    val out = Stream.tsv(df, cmd, chunkSize = 16).collect()
    // one finalize row per partition; partial totals sum to Σ 0..99
    assert(out.length == 4)
    val totals = out.map(_.getString(2).stripPrefix("TOTAL\t").toLong)
    assert(totals.sum == (0L until 100L).sum)
  }

  test("bytesToChild and bytesFromChild count the wire bytes of each exchange") {
    val df = Seq(
      (Some(1L), Some("plain")),
      (None: Option[Long], Some("tab\there")),
      (Some(3L), None: Option[String])
    ).toDF("a", "b").coalesce(1)
    // cat-like child: answers each chunk with its body verbatim
    val catEcho =
      """awk -W interactive 'BEGIN{n=-1}
        |{ if (n<0) { n=$0+0; if (n==0) { print 0; fflush(); exit }; print n }
        |  else     { print $0; if (--n==0) { fflush(); n=-1 } } }'""".stripMargin.replace("\n", " ")
    val out = Stream.tsv(df, catEcho)
    assert(out.collect().length == 1)
    val stream = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collectFirst(out.queryExecution.executedPlan) { case s: graft.plans.StreamExec => s }.get
    // one data frame, then end-of-data; the echo answers the same bytes
    val wire = "3\n1\tplain\n\\N\ttab\\there\n3\t\\N\n" + "0\n"
    assert(stream.metrics("bytesToChild").value == wire.length)
    assert(stream.metrics("bytesFromChild").value == wire.length)
  }
}
