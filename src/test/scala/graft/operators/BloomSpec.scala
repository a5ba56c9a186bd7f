package graft.operators

import graft.SparkSpec

/** Bloom prefilter beyond the q95 oracle gate: soundness (never a
  * false negative) under adversarial partitioning, merge = single
  * partition, semantics vs a hand-rolled reference, and the
  * prefilter ⊇ exact-semi-join contract.
  */
class BloomSpec extends SparkSpec {
  import spark.implicits._

  private val M = 256
  private val K = 3

  /** Reference: positions straight from the JVM md5, no Spark. */
  private def refPositions(key: String): Seq[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString
    (0 until K).map(i => java.lang.Long.parseLong(hex.substring(8 * i, 8 * i + 8), 16) % M)
  }

  private def refContains(words: Array[Long], key: String): Boolean =
    refPositions(key).forall(p => ((words((p >>> 6).toInt) >>> (p & 63)) & 1L) == 1L)

  test("no false negatives under any partitioning; FPs exist when undersized") {
    val keys = (1 to 120).map(_.toString)
    val built = Bloom.build(keys.toDF("k").repartition(13), $"k", M, K)
    // every inserted key passes
    val pass = keys.toDF("k").where(Bloom.mightContain($"k", built, M, K)).count()
    assert(pass == 120)
    // 120 keys in 256 bits is saturated enough that some of 1000
    // non-members must collide — and each FP is also a REFERENCE FP
    val nonMembers = (1001 to 2000).map(_.toString)
    val fp = nonMembers.toDF("k").where(Bloom.mightContain($"k", built, M, K))
      .as[String].collect()
    assert(fp.nonEmpty, "undersized bloom produced no false positive")
    fp.foreach(k => assert(refContains(built, k), s"expression passed $k but reference rejects"))
  }

  test("distributed build equals single-partition build word-for-word") {
    val keys = (1 to 300).map(i => s"key$i").toDF("k")
    val a = Bloom.build(keys.repartition(17), $"k", M, K)
    val b = Bloom.build(keys.coalesce(1), $"k", M, K)
    assert(a.toSeq == b.toSeq)
  }

  test("expression membership matches the JVM reference for every key") {
    val keys = (1 to 80).map(_.toString)
    val built = Bloom.build(keys.toDF("k").repartition(5), $"k", M, K)
    val probe = (1 to 500).map(_.toString)
    val got = probe.toDF("k")
      .select($"k", Bloom.mightContain($"k", built, M, K).as("p"))
      .as[(String, Boolean)].collect().toMap
    probe.foreach(k => assert(got(k) == refContains(built, k), s"mismatch at $k"))
  }

  test("prefilter output is a superset of the exact semi join") {
    val big = (1 to 1000).map(i => (i.toLong, i % 7)).toDF("id", "x")
    val small = Seq(3L, 77L, 500L, 999L).toDF("id")
    val pre = Bloom.prefilter(big, $"id", small, $"id", m = 64, k = 2)
      .select($"id").as[Long].collect().toSet
    val exact = big.join(small, Seq("id"), "left_semi")
      .select($"id").as[Long].collect().toSet
    assert(exact.subsetOf(pre))
  }
}
