package graft.queries

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

/** P8 end-to-end: distributed partial statistics → driver-side combine/
  * solve → broadcast model → distributed predict (the reference's
  * partial_fit/combine/predict topology,
  * `py_pkg/examples/4-machine-learning.py:167-313`).
  */
class MLPatternSpec extends SparkSpec {
  import spark.implicits._

  test("linear model: distributed fit via sufficient stats, broadcast predict") {
    val events = Tables.load(spark, sf, "events")
      .withColumn("x", get_json_object($"props", "$.k").cast("double"))
      .select($"x", $"value".as("y"))
      .cache()

    // distributed partial aggregation (one tiny row to the driver)
    val s = events.agg(
      count(lit(1)).cast("double").as("n"),
      sum($"x").as("sx"), sum($"y").as("sy"),
      sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sxx")).head()
    val (n, sx, sy, sxy, sxx) =
      (s.getDouble(0), s.getDouble(1), s.getDouble(2), s.getDouble(3), s.getDouble(4))

    // "combine models" on the driver: closed-form least squares
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val intercept = sy / n - slope * sx / n
    assert(!slope.isNaN && !intercept.isNaN)

    // broadcast model (captured constants), distributed predict + RMSE
    val withPred = events.withColumn("pred", lit(intercept) + lit(slope) * $"x")
    val rmse = math.sqrt(
      withPred.agg(avg(pow($"y" - $"pred", 2))).head().getDouble(0))
    // model must beat the trivial mean predictor (or at worst tie)
    val meanOnly = math.sqrt(
      events.agg(avg(pow($"y" - lit(sy / n), 2))).head().getDouble(0))
    assert(rmse <= meanOnly + 1e-9, s"rmse $rmse vs mean-only $meanOnly")
    events.unpersist()
  }
}
