package graft.operators

import graft.SparkSpec

class FuzzyMatchSpec extends SparkSpec {
  import spark.implicits._

  private def pairsOf(rows: Seq[(Long, String)],
                      cap: Option[Int] = None): Set[(Long, Long, Long)] =
    FuzzyMatch.editDistance1Pairs(
        rows.toDF("id", "s"), "id", "s", cap)
      .as[(Long, Long, Long)].collect().toSet

  test("finds substitution, insertion, deletion; rejects distance 2") {
    val rows = Seq(
      1L -> "kitten", 2L -> "mitten",   // substitution → 1
      3L -> "kittens",                  // insertion vs 1 → 1
      4L -> "kiten",                    // deletion vs 1 → 1
      5L -> "sitting",                  // distance ≥ 2 from all
      6L -> "ab", 7L -> "ba")           // shared variants, distance 2
    val got = pairsOf(rows)
    val expected = rows.combinations(2).collect {
      case Seq((ia, sa), (ib, sb))
          if levenshteinRef(sa, sb) <= 1 =>
        (math.min(ia, ib), math.max(ia, ib), levenshteinRef(sa, sb).toLong)
    }.toSet
    assert(got == expected)
    assert(!got.exists(p => Set(p._1, p._2) == Set(6L, 7L)),
      "ab/ba share deletion variants but are distance 2 — verify must kill")
  }

  test("exact duplicates surface at distance 0") {
    val got = pairsOf(Seq(1L -> "same", 2L -> "same", 3L -> "other"))
    assert(got == Set((1L, 2L, 0L)))
  }

  test("empty strings are handled (empty vs single char = distance 1)") {
    val got = pairsOf(Seq(1L -> "", 2L -> "x", 3L -> ""))
    assert(got == Set((1L, 3L, 0L), (1L, 2L, 1L), (2L, 3L, 1L)))
  }

  test("recall 1 vs brute force on a random small corpus") {
    val rng = new scala.util.Random(42)
    val alphabet = "ab"
    val rows = (1L to 120L).map { i =>
      i -> (0 until (2 + rng.nextInt(4)))
        .map(_ => alphabet(rng.nextInt(alphabet.length))).mkString
    }
    val brute = rows.combinations(2).collect {
      case Seq((ia, sa), (ib, sb)) if levenshteinRef(sa, sb) <= 1 =>
        (math.min(ia, ib), math.max(ia, ib), levenshteinRef(sa, sb).toLong)
    }.toSet
    assert(pairsOf(rows) == brute)
  }

  test("hot-variant cap only removes pairs, never corrupts survivors") {
    val rows = (1L to 30L).map(i => i -> f"Row#$i%04d")
    val uncapped = pairsOf(rows)
    val capped = pairsOf(rows, cap = Some(3))
    assert(capped.subsetOf(uncapped))
    assert(capped.forall(_._3 <= 1))
  }

  test("plan is an equi-join on the variant key, not a nested loop") {
    val df = FuzzyMatch.editDistance1Pairs(
      (1L to 50L).map(i => i -> s"str$i").toDF("id", "s"), "id", "s")
    val physical = df.queryExecution.executedPlan.toString
    assert(!physical.contains("CartesianProduct"),
      s"fuzzy match must not plan a cartesian product:\n$physical")
    assert(!physical.contains("BroadcastNestedLoopJoin"),
      s"fuzzy match must not plan a nested-loop join:\n$physical")
  }

  test("non-integral id columns fail fast instead of silently dropping rows") {
    val df = Seq(("u-1", "abc"), ("u-2", "abd")).toDF("id", "s")
    val e = intercept[IllegalArgumentException] {
      FuzzyMatch.editDistance1Pairs(df, "id", "s")
    }
    assert(e.getMessage.contains("integral id column"), e.getMessage)
  }

  test("shuffle-join regime computes the variant table once (exchange reuse)") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    // the 100 TB regime: both self-join sides shuffle on the variant
    // key; their subplans canonicalize identically, so the second side
    // must read the first side's shuffle files (ReusedExchange), never
    // re-run the deletion-neighborhood Generate
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = FuzzyMatch.editDistance1Pairs(
        (1L to 200L).map(i => i -> s"str$i").toDF("id", "s"), "id", "s")
      df.collect()
      val fin = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case o => o
      }
      val s = fin.toString
      assert(s.linesIterator.count(_.contains("+- Generate")) == 1, s)
      assert(s.contains("ReusedExchange"), s)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  /** Reference Wagner–Fischer distance for the oracle side of tests. */
  private def levenshteinRef(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }
}
