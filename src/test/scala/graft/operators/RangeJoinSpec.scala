package graft.operators

import graft.SparkSpec

class RangeJoinSpec extends SparkSpec {
  import spark.implicits._

  private def intervals(n: Int, seed: Int) = {
    val r = new scala.util.Random(seed)
    (0 until n).map { i =>
      val lo = r.nextInt(10000).toLong
      (i.toLong, lo, lo + 1 + r.nextInt(500).toLong)
    }.toDF("id", "lo", "hi")
  }

  test("binned overlap join equals the broadcast theta join") {
    val a = intervals(400, 1).withColumnRenamed("id", "aid")
      .withColumnRenamed("lo", "alo").withColumnRenamed("hi", "ahi")
    val b = intervals(300, 2).withColumnRenamed("id", "bid")
      .withColumnRenamed("lo", "blo").withColumnRenamed("hi", "bhi")
    val exact = RangeJoin.broadcastOverlap(a, b, "alo", "ahi", "blo", "bhi")
      .select($"aid", $"bid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (w <- Seq(10L, 100L, 1000L)) {
      val binned = RangeJoin.binnedOverlap(a, b, "alo", "ahi", "blo", "bhi", binWidth = w)
        .select($"aid", $"bid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(binned == exact, s"binWidth=$w: ${binned.size} vs ${exact.size}")
    }
    assert(exact.nonEmpty)
  }

  test("binned join is an equi-join on bins (shuffle-partitionable)") {
    val a = intervals(50, 3).withColumnRenamed("lo", "alo").withColumnRenamed("hi", "ahi")
    val b = intervals(50, 4).withColumnRenamed("id", "bid")
      .withColumnRenamed("lo", "blo").withColumnRenamed("hi", "bhi")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = RangeJoin.binnedOverlap(a, b, "alo", "ahi", "blo", "bhi")
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"), plan)
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }
}
