package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec

/** Reference-fidelity stress fixtures (FIXTURES.md §1):
  *  - the 800k-double / 8-chunk TSV echo stress array (`tests/test.sh:15-18`)
  *  - the 10k-strings-with-one-null single Arrow batch
  *    (ARROW-1676 regression, `tests/test_low.py:140-161`)
  */
class ProtocolStressSpec extends SparkSpec with StreamLeakFixture {
  import spark.implicits._

  test("800k doubles echo through TSV in 8 chunks of 100k") {
    val awkEcho =
      """awk -W interactive 'BEGIN{n=-1}
        |{ if (n<0) { n=$0+0; if (n==0) { print 0; fflush(); exit }; print n }
        |  else     { print $0; if (--n==0) { fflush(); n=-1 } } }'"""
        .stripMargin.replace("\n", " ")
    val df = spark.range(1, 800001).repartition(8)
      .select($"id".cast("double").as("val"))
    val out = Stream.tsv(df, awkEcho, chunkSize = 100000)
    val vals = out.select(explode(split($"response", "\n")).as("l"))
      .select($"l".cast("double").as("v"))
    assert(vals.count() == 800000L)
    assert(vals.agg(sum($"v")).head().getDouble(0) == 800000.0 * 800001.0 / 2)
    // 8 partitions x 1 chunk each (100k rows per chunk)
    assert(out.count() == 8)
  }

  test("200k mixed rows with NA sentinels stress the R-DF format") {
    // volume + both NA paths (int32 INT32_MIN, string len -1) + a
    // multi-chunk exchange per partition, like the TSV stress shape
    val cmd = graft.operators.clients.JvmChild.command("graft.operators.clients.RdfEchoChild")
    val df = spark.range(0, 200000).repartition(4)
      .select(
        when($"id" % 1000 === 0, lit(null)).otherwise($"id").cast("int").as("i"),
        ($"id" * 0.25).as("d"),
        when($"id" % 997 === 0, lit(null))
          .otherwise(concat(lit("s"), $"id")).as("s"))
    val declared = StructType(Seq(
      StructField("i", IntegerType), StructField("d", DoubleType),
      StructField("s", StringType)))
    val out = Stream.df(df, cmd, declared, chunkSize = 25000).cache()
    try {
      assert(out.count() == 200000L)
      assert(out.filter($"i".isNull).count() == 200L)
      assert(out.filter($"s".isNull).count() == 201L) // 0 hits both moduli
      assert(out.agg(sum($"i".cast("long"))).head().getLong(0) ==
        (0L until 200000L).filter(_ % 1000 != 0).sum)
      assert(out.agg(sum($"d")).head().getDouble(0) ==
        (0L until 200000L).map(_ * 0.25).sum)
      // 4 partitions x 2 chunks each at chunkSize 25000
      assert(out.select($"instance_id", $"chunk_no").distinct().count() == 8)
    } finally out.unpersist()
  }

  test("10k strings with one null survive a single Arrow batch") {
    val cmd = graft.operators.clients.JvmChild.command("graft.operators.clients.ArrowEchoChild")
    val df = spark.range(1, 10001).coalesce(1)
      .select(when($"id" < 10000, $"id".cast("string")).as("val"))
    val declared = StructType(Seq(StructField("val", StringType)))
    val out = Stream.arrow(df, cmd, declared, chunkSize = 10000)
    assert(out.count() == 10000)
    assert(out.filter($"val".isNull).count() == 1)
    assert(out.groupBy($"chunk_no").count().count() == 1) // one batch
  }
}
