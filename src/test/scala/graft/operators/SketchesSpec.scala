package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Mergeable-sketch tests beyond the oracle gates: q71 gates KMV and
  * q81 gates Misra–Gries in their exact regimes; these cover the
  * approximation regimes and adversarial partitioning.
  */
class SketchesSpec extends SparkSpec {
  import spark.implicits._

  test("heavy hitters is exact below capacity under any partitioning") {
    val terms = (1 to 40).flatMap(i => Seq.fill(i)(s"t$i"))
    val df = spark.createDataset(scala.util.Random.shuffle(terms))
      .repartition(13).toDF("term")
    val got = df.agg(Sketches.heavyHitters($"term", 64).as("hh"))
      .select(explode($"hh").as("e")).select($"e._1", $"e._2")
      .as[(String, Long)].collect().toMap
    assert(got == (1 to 40).map(i => s"t$i" -> i.toLong).toMap)
  }

  test("quantile sketch is exact below k and partitioning-invariant above it") {
    // 60 values, k=100: the sample IS the data, so picks are the exact
    // discrete percentiles regardless of partitioning
    val vals = scala.util.Random.shuffle((1 to 60).map(_.toDouble))
    val small = vals.zipWithIndex
      .map { case (v, i) => (i / 61.0, v) } // any distinct us
      .toDF("u", "v").repartition(7)
    val exact = small
      .agg(Sketches.quantileSketch($"u", $"v", k = 100, ps = Seq(0.5, 0.9)).as("q"))
      .select($"q" (0), $"q" (1)).as[(Double, Double)].head()
    assert(exact == ((30.0, 54.0))) // ceil(.5*60)=30th, ceil(.9*60)=54th
    // above k: the bottom-k sample (and so the picks) must not depend
    // on partitioning
    val big = (1 to 5000).map(i => (((i * 2654435761L) % 9973) / 9973.0, i.toDouble))
    val byPartitioning = Seq(1, 13, 32).map { p =>
      big.toDF("u", "v").repartition(p)
        .agg(Sketches.quantileSketch($"u", $"v", k = 100, ps = Seq(0.25, 0.75)).as("q"))
        .select($"q" (0), $"q" (1)).as[(Double, Double)].head()
    }
    assert(byPartitioning.distinct.size == 1)
    // and equals the picks over the explicitly computed bottom-100
    val sample = big.sortBy(identity).take(100).map(_._2).sorted
    assert(byPartitioning.head == ((sample(24), sample(74))))
  }

  test("heavy hitters over capacity: heavy term survives with a sound lower bound") {
    // 2000 'hot' + 500 distinct rares, capacity 50: hot's true share
    // (2000/2500) far exceeds N/(cap+1) ≈ 49, so it MUST survive, with
    // count in [true - N/(cap+1), true]
    val rows = Seq.fill(2000)("hot") ++ (1 to 500).map(i => s"rare$i")
    val df = spark.createDataset(scala.util.Random.shuffle(rows))
      .repartition(7).toDF("term")
    val got = df.agg(Sketches.heavyHitters($"term", 50).as("hh"))
      .select(explode($"hh").as("e")).select($"e._1", $"e._2")
      .as[(String, Long)].collect().toMap
    assert(got.size <= 50)
    assert(got.contains("hot"))
    val bound = 2500L / 51L
    assert(got("hot") <= 2000L && got("hot") >= 2000L - bound,
      s"hot count ${got("hot")} outside [${2000L - bound}, 2000]")
    // every reported count is a lower bound on the true count
    got.foreach { case (t, c) =>
      val truth = if (t == "hot") 2000L else 1L
      assert(c <= truth, s"$t reported $c > true $truth")
    }
  }

  test("heavy hitters skips nulls and keeps deterministic output order") {
    val df = Seq(Some("a"), None, Some("a"), Some("b"), None, Some("c"), Some("b"))
      .toDF("term").repartition(3)
    val got = df.agg(Sketches.heavyHitters($"term", 10).as("hh"))
      .select(explode($"hh").as("e")).select($"e._1", $"e._2")
      .as[(String, Long)].collect().toSeq
    // sorted by count desc then term asc; a=2 b=2 c=1
    assert(got == Seq(("a", 2L), ("b", 2L), ("c", 1L)))
  }

  /** JVM-side reference CMS: build from exact term counts. */
  private def refCms(counts: Map[String, Long], d: Int, w: Int): Array[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Long](d * w)
    counts.foreach { case (t, c) =>
      val hex = md.digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (0 until d).foreach { i =>
        val p = java.lang.Long.parseLong(hex.substring(8 * i, 8 * i + 8), 16) % w
        out(i * w + p.toInt) += c
      }
      md.reset()
    }
    out
  }

  test("count-min matrix equals the reference and is partitioning-invariant") {
    val terms = (1 to 40).flatMap(i => Seq.fill(i)(s"term$i"))
    val truth = terms.groupBy(identity).map { case (t, g) => t -> g.size.toLong }
    val expected = refCms(truth, d = 3, w = 64).toSeq
    Seq(1, 7, 32).foreach { p =>
      val df = spark.createDataset(scala.util.Random.shuffle(terms))
        .repartition(p).toDF("term")
      val got = Sketches.cmsBuild(df, $"term", d = 3, w = 64).toSeq
      assert(got == expected, s"counter matrix diverged at $p partitions")
    }
  }

  test("count-min estimates are >= exact, and exact when collision-free") {
    val terms = (1 to 40).flatMap(i => Seq.fill(i)(s"term$i"))
    val df = spark.createDataset(terms).repartition(5).toDF("term")
    // w=64 forces collisions among 40 terms
    val narrow = Sketches.cmsBuild(df, $"term", d = 3, w = 64)
    val est = df.distinct()
      .select($"term", Sketches.cmsEstimate($"term", narrow, 3, 64).as("e"))
      .as[(String, Long)].collect().toMap
    (1 to 40).foreach { i =>
      assert(est(s"term$i") >= i.toLong, s"term$i underestimated: ${est(s"term$i")} < $i")
    }
    assert(est.exists { case (t, e) => e > t.stripPrefix("term").toLong },
      "w=64 over 40 terms produced no collision — widen the test")
    // d=4, w=8192: 40 terms almost surely collision-free in min-of-4
    val wide = Sketches.cmsBuild(df, $"term", d = 4, w = 8192)
    val exact = df.distinct()
      .select($"term", Sketches.cmsEstimate($"term", wide, 4, 8192).as("e"))
      .as[(String, Long)].collect().toMap
    (1 to 40).foreach(i => assert(exact(s"term$i") == i.toLong))
  }

  test("KMV set-ops are exact below saturation and partitioning-invariant") {
    // sources A = {1..30}, B = {20..45}: union 45, inter 11. With
    // k=64 > |union| no sketch saturates, so union_est/overlap/
    // jaccard_est/inter_est must all be EXACT — and identical under
    // adversarial partitioning (the state is a pure function of the
    // value set).
    val rows = (1 to 30).map(i => ("A", i.toLong)) ++
      (20 to 45).map(i => ("B", i.toLong))
    val df = spark.createDataset(scala.util.Random.shuffle(rows))
      .toDF("src", "key")
      .withColumn("h", md5($"key".cast("string").cast("binary")))
      .withColumn("u", expr(Sampling.u01Spark("h")))
    for (parts <- Seq(1, 7)) {
      val got = Sketches.kmvSetOps(df.repartition(parts), "src", $"u", k = 64)
        .collect()
      assert(got.length == 1)
      val r = got(0)
      assert(r.getAs[String]("src_a") == "A" && r.getAs[String]("src_b") == "B")
      assert(r.getAs[Long]("k_used") == 45L)
      assert(r.getAs[Double]("union_est") == 45.0)
      assert(r.getAs[Long]("overlap") == 11L)
      assert(r.getAs[Double]("jaccard_est") == 11.0 / 45.0)
      assert(r.getAs[Double]("inter_est") == (11.0 / 45.0) * 45.0)
    }
  }

  test("KMV set-ops saturated: estimates stay near truth at k << n") {
    // 3000-key union, 1000-key intersection, k=64: the estimator's
    // relative error concentrates around 1/sqrt(k) ≈ 12.5%; assert a
    // generous 3-sigma-ish envelope (deterministic — md5 draws)
    val rows = (1 to 2000).map(i => ("A", i.toLong)) ++
      (1001 to 3000).map(i => ("B", i.toLong))
    val df = spark.createDataset(rows).toDF("src", "key")
      .withColumn("h", md5($"key".cast("string").cast("binary")))
      .withColumn("u", expr(Sampling.u01Spark("h")))
    val r = Sketches.kmvSetOps(df, "src", $"u", k = 64).collect()(0)
    val unionEst = r.getAs[Double]("union_est")
    val interEst = r.getAs[Double]("inter_est")
    assert(math.abs(unionEst - 3000.0) / 3000.0 < 0.4, s"union_est $unionEst")
    assert(math.abs(interEst - 1000.0) / 1000.0 < 0.6, s"inter_est $interEst")
  }

  test("HLL registers match a reference derivation and merge by max") {
    def refState(keys: Seq[Long]): (Seq[Int], Long) = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val regs = new Array[Int](64)
      keys.foreach { k =>
        val hex = md.digest(k.toString.getBytes("UTF-8"))
          .map(b => f"${b & 0xff}%02x").mkString
        md.reset()
        val bucket = Integer.parseInt(hex.substring(0, 2), 16) % 64
        val w = hex.substring(2, 15)
        val lz = w.takeWhile(_ == '0').length
        val rho = if (lz == 13) 53 else {
          val d = Character.digit(w(lz), 16)
          val nib = if (d >= 8) 0 else if (d >= 4) 1 else if (d >= 2) 2 else 3
          lz * 4 + nib + 1
        }
        regs(bucket) = math.max(regs(bucket), rho)
      }
      (regs.toSeq, regs.map(r => 1L << (53 - r)).sum)
    }
    val keys = (1L to 500L)
    // duplicates must be idempotent: feed every key three times,
    // adversarially partitioned so merge() does real work
    val df = spark.createDataset(keys ++ keys ++ keys).repartition(13)
      .toDF("k")
      .select(md5($"k".cast("string").cast("binary")).as("h"))
    val got = df.agg(Sketches.hllSketch($"h").as("hll"))
      .select($"hll.registers", $"hll.zint", $"hll.est").head()
    val (regs, zint) = refState(keys)
    assert(got.getSeq[Int](0) == regs)
    assert(got.getLong(1) == zint)
    val est = got.getLong(2)
    val expectedEst =
      (Sketches.HllEstNumerator / (BigInt(1000) * zint)).toLong
    assert(est == expectedEst)
    // raw HLL at n=500 >> m=64 should land within ~30% of truth
    assert(est > 350 && est < 650, s"est=$est")
  }
}
