package graft.operators

import graft.SparkSpec

/** Bigram-LM scoring vs hand-computed add-one-smoothed probabilities,
  * plus the structural contracts: short-doc drop, pruning-to-floor,
  * and broadcast-only model joins (the plan that scales).
  */
class NgramLmSpec extends SparkSpec {
  import spark.implicits._

  test("scores match the hand-computed add-one model") {
    // corpus: d1 = "a b a b", d2 = "a a"
    // unigrams: a=4, b=2  -> V=2
    // bigrams:  "a b"=2, "b a"=1, "a a"=1
    // minCount=2 keeps only "a b" (c12=2); others floor to c12=0
    val docs = Seq((1L, "a b a b"), (2L, "a a")).toDF("doc_id", "text")
    val got = NgramLm.scoreDocs(docs, "doc_id", "text", minCount = 2L)
      .orderBy($"doc_id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // q("a b") = floor(1e6 * 3 / (4 + 2)) = 500000   (c1(a)=4)
    // q("b a") = floor(1e6 * 1 / (2 + 2)) = 250000   (c1(b)=2, pruned)
    // q("a a") = floor(1e6 * 1 / (4 + 2)) = 166666
    // d1: bigrams [a b, b a, a b] -> sum = 1250000, mean = 416666
    // d2: bigrams [a a]           -> sum = 166666,  mean = 166666
    assert(got == Seq((1L, 3L, 1250000L, 416666L), (2L, 1L, 166666L, 166666L)))
  }

  test("single-token and empty docs drop out; tokens include split empties") {
    val docs = Seq((1L, "only"), (2L, ""), (3L, "x y")).toDF("doc_id", "text")
    val ids = NgramLm.scoreDocs(docs, "doc_id", "text").select($"doc_id")
      .as[Long].collect().toSet
    assert(ids == Set(3L))
  }

  test("pruning everything floors every bigram to the smoothing floor") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    // minCount=10 prunes all bigrams; V=3, c1(a)=c1(b)=1
    // q = floor(1e6 * 1 / (1 + 3)) = 250000 for both
    val got = NgramLm.scoreDocs(docs, "doc_id", "text", minCount = 10L)
      .as[(Long, Long, Long, Long)].head()
    assert(got == ((1L, 2L, 500000L, 250000L)))
  }

  test("model and unigram joins are broadcasts — no shuffle of the score stream") {
    val docs = (1L to 200L).map(i => (i, s"w${i % 7} w${i % 5} w${i % 3}"))
      .toDF("doc_id", "text")
    val plan = NgramLm.scoreDocs(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"), s"model join fell back to SMJ:\n$plan")
  }

  test("perplexity buckets partition by score threshold, best scores to bucket 0") {
    // nine docs with three distinct score groups (3 docs each) =>
    // bucket boundaries align exactly with the score groups
    val docs = (
      (1 to 3).map(i => (i.toLong, "a b a b a b")) ++   // high-prob bigrams
      (4 to 6).map(i => (i.toLong, "a c b c a c")) ++   // mixed
      (7 to 9).map(i => (i.toLong, "x y z w q v"))      // all-rare bigrams
    ).toDF("doc_id", "text")
    val got = NgramLm.perplexityBuckets(docs, "doc_id", "text",
        minCount = 2L, nBuckets = 3)
      .orderBy($"doc_id")
      .as[(Long, Long, Int)].collect().toSeq
    val byBucket = got.groupBy(_._3).view.mapValues(_.map(_._1).toSet).toMap
    assert(byBucket.keySet === Set(0, 1, 2))
    // same text => same score => same bucket; buckets ordered by score
    assert(byBucket(0) === Set(1L, 2L, 3L) || byBucket(0) === Set(4L, 5L, 6L) ||
      byBucket(0) === Set(7L, 8L, 9L))
    val scoreOf = got.map(t => (t._1, t._2)).toMap
    for (a <- got; b <- got if a._3 < b._3)
      assert(scoreOf(a._1) > scoreOf(b._1),
        s"bucket ${a._3} doc ${a._1} must outscore bucket ${b._3} doc ${b._1}")
  }

  test("docs sharing an lm_mean always share a bucket") {
    val docs = Seq((1L, "a b a b"), (2L, "a b a b"), (3L, "a a"),
      (4L, "b b"), (5L, "a b")).toDF("doc_id", "text")
    val got = NgramLm.perplexityBuckets(docs, "doc_id", "text", 2L, 3)
      .as[(Long, Long, Int)].collect().toSeq
    got.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).distinct.size == 1)
    }
  }
}
