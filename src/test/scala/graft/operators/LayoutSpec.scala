package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Z-order layout: interleave correctness against a bit-twiddling
  * reference, and the property the layout exists for — per-partition
  * bounding boxes shrink on EVERY clustered dimension relative to a
  * single-column sort, which is what turns min/max footer pruning
  * into multi-predicate file skipping at 100 TB.
  */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  private def refZ(a: Long, b: Long): Long = {
    var z = 0L
    var j = 0
    while (j < 16) {
      z |= ((a >> j) & 1L) << (2 * j)
      z |= ((b >> j) & 1L) << (2 * j + 1)
      j += 1
    }
    z
  }

  test("zvalue matches the reference bit interleave") {
    val samples = Seq((0L, 0L), (65535L, 0L), (0L, 65535L), (65535L, 65535L),
      (1L, 2L), (43690L, 21845L), (12345L, 54321L))
    val out = samples.toDF("a", "b")
      .select(Layout.zvalue($"a", $"b").as("z")).as[Long].collect().toSeq
    assert(out == samples.map { case (a, b) => refZ(a, b) })
    // three dims stay below the sign bit
    val z3 = Seq((65535L, 65535L, 65535L)).toDF("a", "b", "c")
      .select(Layout.zvalue($"a", $"b", $"c").as("z")).as[Long].head()
    assert(z3 == (1L << 48) - 1 && z3 > 0)
  }

  test("z-order shrinks per-partition bounding boxes vs a one-column sort") {
    val ev = Tables.load(spark, sf, "events")
      .select($"event_id", $"user_id", unix_timestamp($"ts").as("tsec"))
    val mm = ev.agg(min($"user_id"), max($"user_id"),
      min($"tsec"), max($"tsec")).head()
    val grid = ev.select($"event_id",
      Layout.gridBucket($"user_id", mm.getLong(0), mm.getLong(1)).as("ga"),
      Layout.gridBucket($"tsec", mm.getLong(2), mm.getLong(3)).as("gb"))

    def pruneCost(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val b = Layout.partitionBounds(df, "ga", "gb")
        .agg(sum($"a_max" - $"a_min").as("sa"), sum($"b_max" - $"b_min").as("sb"))
        .head()
      (b.getLong(0), b.getLong(1))
    }

    val nPart = 8
    val (za, zb) = pruneCost(
      Layout.zorder(grid, Seq($"ga", $"gb"), numPartitions = nPart))
    val (ua, ub) = pruneCost(
      grid.repartitionByRange(nPart, $"ga").sortWithinPartitions($"ga"))

    // the one-column layout prunes its own column near-perfectly but
    // leaves the other dimension's span at ~full range per partition;
    // the z-order bounds BOTH — its combined span total must be
    // strictly smaller, and the non-sorted dimension must shrink by
    // a wide margin
    assert(za + zb < ua + ub, s"z=($za,$zb) user-sorted=($ua,$ub)")
    assert(zb < ub / 2, s"ts-span under z-order: $zb vs user-sorted $ub")
  }
}
