package graft.operators

import graft.SparkSpec

/** Connected components: correctness on known graphs + the storage
  * contract (superseded per-round checkpoints are released; only the
  * final labels stay pinned).
  */
class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def labelsOf(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Components.connectedComponents(edges.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("chain collapses to min label in O(log n) rounds") {
    val chain = (1L until 20L).map(i => (i, i + 1))
    val got = labelsOf(chain)
    assert(got.size == 20)
    assert(got.values.toSet == Set(1L))
  }

  test("two components + star keep separate min labels") {
    // component {1,2,3,4} (star on 1) and {10,11,12} (path)
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (10L, 11L), (11L, 12L))
    val got = labelsOf(edges)
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("direction and duplicate edges are irrelevant") {
    val got = labelsOf(Seq((5L, 2L), (2L, 5L), (5L, 2L), (9L, 5L)))
    assert(got == Map(2L -> 2L, 5L -> 2L, 9L -> 2L))
  }

  test("keepBestInCluster keeps the top score per component, witnesses the winner") {
    import spark.implicits._
    // cluster {1,2,3} via chain pairs; scores make 2 the winner;
    // cluster {5,6} ties on score → smaller id 5 wins; 9 is a
    // singleton (no pair) and keeps itself
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val scored = Seq((1L, 10L), (2L, 30L), (3L, 20L),
      (5L, 7L), (6L, 7L), (9L, 1L)).toDF("doc_id", "n_chars")
    val got = Components.keepBestInCluster(pairs, scored, "doc_id", "n_chars")
      .collect()
      .map(r => r.getLong(0) -> (r.getBoolean(3), r.getLong(4))).toMap
    assert(got(1L) == ((false, 2L)))
    assert(got(2L) == ((true, 2L)))
    assert(got(3L) == ((false, 2L)))
    assert(got(5L) == ((true, 5L)))
    assert(got(6L) == ((false, 5L)))
    assert(got(9L) == ((true, 9L)))
  }

  test("keepBestInCluster survives a planted giant cluster (aggregate, not window)") {
    import spark.implicits._
    // one component swallowing 500 docs (the boilerplate-corpus skew
    // case): the winner must come from a map-side-combinable
    // aggregate, and the plan must carry NO window over component
    val pairs = (1L until 500L).map(i => (0L, i)).toDF("doc_a", "doc_b")
    val scored = (0L until 500L).map(i => (i, if (i == 250L) 99L else 1L))
      .toDF("doc_id", "score")
    val out = Components.keepBestInCluster(pairs, scored, "doc_id", "score")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    val got = out.collect()
      .map(r => r.getLong(0) -> (r.getBoolean(3), r.getLong(4))).toMap
    assert(got.size == 500)
    assert(got(250L) == ((true, 250L)))
    assert(got.count(_._2._1) == 1, "exactly one keeper in the giant cluster")
    assert(got(0L) == ((false, 250L)) && got(499L) == ((false, 250L)))
  }

  test("superseded round state is released; only final labels stay pinned") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = Components.connectedComponents(
      (1L until 40L).map(i => (i, i + 1)).toDF("a", "b"), "a", "b")
    assert(out.count() == 40)
    val pinned = sc.getPersistentRDDs.keySet.toSet -- before
    // at most the final round's checkpoint remains (edge table + all
    // superseded rounds were unpersisted inside the loop)
    assert(pinned.size <= 1, s"leaked checkpoint RDDs: $pinned")
  }
}
