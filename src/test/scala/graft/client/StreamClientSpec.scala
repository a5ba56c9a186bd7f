package graft.client

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.operators.Stream

/** Drive the JVM child-side client library through real child processes
  * (the reference's `tests/test_low.py` shape: parent operator ×
  * client-library children).
  */
class StreamClientSpec extends SparkSpec {
  import spark.implicits._

  private def jvmChild(main: String): String =
    graft.operators.clients.JvmChild.command(main)

  test("Channel round-trips UTF-8 and trailing empty cells") {
    // write() encodes UTF-8; a byte-at-a-time toChar read would decode
    // Latin-1 and corrupt any non-ASCII cell, and split('\t') would drop
    // the trailing empty field
    val rows = Seq(Seq("héllo", "世界", ""), Seq("", "naïve space", "ok"))
    val baos = new java.io.ByteArrayOutputStream()
    new StreamClient.Channel(new java.io.ByteArrayInputStream(Array.empty), baos)
      .write(rows)
    val back = new StreamClient.Channel(
      new java.io.ByteArrayInputStream(baos.toByteArray),
      new java.io.ByteArrayOutputStream()).read()
    assert(back == Some(rows))
  }

  test("TsvEchoChild echoes with prefix through the client library") {
    val df = spark.range(0, 200).repartition(2).select($"id")
    val out = Stream.tsv(df, jvmChild("graft.client.TsvEchoChild"), chunkSize = 50)
    val vals = out.select(explode(split($"response", "\n")).as("l"))
      .select(split($"l", "\t").getItem(1).cast("long").as("v"))
    assert(vals.count() == 200)
    assert(vals.agg(sum($"v")).head().getLong(0) == (0L until 200L).sum)
  }

  test("TsvSumChild aggregates per partition via map+finalize") {
    val df = spark.range(1, 101).repartition(4).select($"id")
    val out = Stream.tsv(df, jvmChild("graft.client.TsvSumChild"))
    val total = out.agg(sum($"response".cast("long"))).head().getLong(0)
    assert(total == 5050)
  }

  test("TsvLookupChild consumes the side input first") {
    val side = Seq(("1", "one"), ("2", "two")).toDF("k", "v")
    val df = Seq("1", "2", "1", "3").toDF("k").coalesce(1)
    val out = Stream.tsv(df, jvmChild("graft.client.TsvLookupChild"), side = Some(side))
    val got = out.select(explode(split($"response", "\n")).as("v"))
      .groupBy($"v").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("one" -> 2L, "two" -> 1L, "?" -> 1L))
  }
}
