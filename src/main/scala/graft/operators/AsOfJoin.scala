package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join: for every left row, attach the most recent right row
  * (same key) with time ≤ the left row's time (direction "backward"),
  * or the earliest right row with time ≥ it ("forward") — the canonical
  * market-data/event-attribution operator Spark lacks natively.
  *
  * Implementation is the scalable union-window formulation, not a range
  * join: tag both sides, union them, and take `last(right value,
  * ignoreNulls) OVER (PARTITION BY key ORDER BY time, tag)` — ONE
  * shuffle on (key), linear in rows, no quadratic candidate space. At
  * 100 TB this is the difference between a sort within partitions and
  * an interval-join blowup.
  */
object AsOfJoin {

  /** Join `left` to the nearest `right` row per key in the given
    * direction (inclusive at equal times on both directions).
    *
    * @param valueCols right-side columns to carry (returned as
    *                  `asof_<name>`, null when no matching right row)
    * @param direction "backward" (latest right row at-or-before the
    *                  left time) or "forward" (earliest at-or-after)
    */
  def join(left: DataFrame, right: DataFrame, key: String, time: String,
           valueCols: Seq[String], tieBreaker: Option[String] = None,
           direction: String = "backward"): DataFrame = {
    require(direction == "backward" || direction == "forward",
      s"direction must be backward or forward, got $direction")
    val backward = direction == "backward"
    val leftCols = left.columns.toIndexedSeq
    val keep = Set(key, time) ++ tieBreaker
    // both directions use the RUNNING frame (unboundedPreceding..current
    // row) so WindowExec streams each key group in O(n); forward is the
    // same formulation traversed in reverse time order. A
    // (current..unboundedFollowing) frame would re-scan the frame per
    // row — O(n²) per key group, fatal for a hot key at corpus scale.
    // Tag 0 sorts the right rows before left rows at equal time in
    // either traversal, so a right row at exactly t stays visible.
    val l = left.withColumn("_tag", lit(1))
      .select((leftCols.map(col) :+ col("_tag")) ++
        valueCols.map(c => lit(null).cast(right.schema(c).dataType).as(s"_v_$c")): _*)
    // a right row with no timestamp can never be "at or before/after"
    // anything — drop it so the running last() cannot pick it up (desc
    // sorts nulls last, where it would otherwise shadow real matches)
    val r = right.filter(col(time).isNotNull).withColumn("_tag", lit(0))
      .select((leftCols.map(c =>
        (if (keep(c)) col(c) else lit(null).cast(left.schema(c).dataType))
          .as(c)) :+ col("_tag")) ++
        valueCols.map(c => col(c).as(s"_v_$c")): _*)
    // forward flips time and tie-break: the running `last` then yields
    // the EARLIEST right row at-or-after the left time (ties -> the
    // smallest tie-breaker, because it is traversed last descending)
    val orderCols =
      (if (backward) Seq(col(time).asc, col("_tag").asc)
       else Seq(col(time).desc, col("_tag").asc)) ++
        tieBreaker.map(c => if (backward) col(c).asc else col(c).desc)
    val w = Window.partitionBy(col(key))
      .orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    val filled = l.unionByName(r)
      .select(Seq(col("*")) ++ valueCols.map(c =>
        last(col(s"_v_$c"), ignoreNulls = true).over(w).as(s"asof_$c")): _*)
    // a null-time left row has no defensible match in either direction
    // (desc parks it last, where the running last() would hand it the
    // earliest right row) — force its asof_* to null
    filled.filter(col("_tag") === 1)
      .select(leftCols.map(col) ++ valueCols.map(c =>
        when(col(time).isNull, lit(null)).otherwise(col(s"asof_$c"))
          .as(s"asof_$c")): _*)
  }

  /** Nearest-match as-of join: for each left row, the right row (same
    * key) with the smallest absolute time distance, ties to the earlier
    * side (pandas `merge_asof(direction="nearest")` semantics). Composed
    * from one backward and one forward pass — two O(n) running-window
    * shuffles on the same key, still no range-join blowup. `time` must
    * be numeric (epoch seconds/millis), as subtraction decides the
    * winner.
    */
  def joinNearest(left: DataFrame, right: DataFrame, key: String, time: String,
                  valueCols: Seq[String], tieBreaker: Option[String] = None): DataFrame = {
    val leftCols = left.columns.toIndexedSeq
    val carry = (time +: valueCols).distinct
    def renamed(df: DataFrame, pfx: String): DataFrame =
      carry.foldLeft(df)((d, c) => d.withColumnRenamed(s"asof_$c", s"$pfx$c"))
    val back = renamed(
      join(left, right, key, time, carry, tieBreaker, "backward"), "_b_")
    val both = renamed(
      join(back, right, key, time, carry, tieBreaker, "forward"), "_f_")
    val backWins = col(s"_b_$time").isNotNull &&
      (col(s"_f_$time").isNull ||
        col(time) - col(s"_b_$time") <= col(s"_f_$time") - col(time))
    // a left row with no timestamp has no defensible nearest match: the
    // forward pass's DESC sort parks nulls last, where the running
    // last() would hand them the earliest right row — force null instead
    both.select(leftCols.map(col) ++ valueCols.map(c =>
      when(col(time).isNull, lit(null))
        .when(backWins, col(s"_b_$c"))
        .otherwise(col(s"_f_$c")).as(s"asof_$c")): _*)
  }
}
