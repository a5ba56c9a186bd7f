package graft.operators

import graft.SparkSpec

/** Ranking semantics beyond the oracle gates (q98/q99 hash-gate the
  * full plans): IDF ordering, tf saturation, RRF edge cases.
  */
class RankingSpec extends SparkSpec {
  import spark.implicits._

  private def score(docs: Seq[(Long, String)], terms: Seq[String]) =
    Ranking.bm25Search(docs.toDF("doc_id", "text"), "doc_id", "text", terms)
      .select($"doc_id", $"score").as[(Long, Long)].collect().toMap

  test("a rare term outranks a common term at equal tf and length") {
    // 'rare' in 1 of 4 docs, 'common' in all 4; doc 1 and 2 have the
    // same length and tf=1 for their respective term
    val docs = Seq(
      1L -> "rare pad pad pad",
      2L -> "common pad pad pad",
      3L -> "common x y z",
      4L -> "common x y z")
    val s = score(docs, Seq("rare", "common"))
    assert(s(1L) > s(2L), s)
  }

  test("tf saturates: doubling tf less than doubles the score") {
    val docs = Seq(
      1L -> "t pad pad pad pad pad pad pad",
      2L -> "t t pad pad pad pad pad pad",
      3L -> "x x x x x x x x") // vocabulary ballast, same length
    val s = score(docs, Seq("t"))
    assert(s(2L) > s(1L), s)
    assert(s(2L) < 2L * s(1L), s)
  }

  test("shorter documents win at equal tf (length normalization)") {
    val docs = Seq(
      1L -> "t pad",
      2L -> "t pad pad pad pad pad pad pad pad pad pad pad",
      3L -> "x y") // keeps avgdl off doc 1's length
    val s = score(docs, Seq("t"))
    assert(s(1L) > s(2L), s)
  }

  test("bm25 term-score fragment is the same text fed to both engines") {
    // the parity contract: ONE string; if someone edits the Spark side
    // only, this catches the drift
    val sql = Ranking.bm25TermScoreSql("f", "df", "dl", "n", "sdl", 1.2, 0.75)
    assert(sql.contains("2.2") && sql.contains("0.75") && sql.contains("1.2"), sql)
    assert(!sql.toLowerCase.contains("ln(") && !sql.toLowerCase.contains("log"), sql)
  }

  test("rrf: an id absent from one list contributes only the other rank") {
    val a = Seq((10L, 1L), (20L, 2L)).toDF("id", "rnk")
    val b = Seq((20L, 1L), (30L, 2L)).toDF("id", "rnk")
    val got = Ranking.rrfFuse(a, b, "id", kRrf = 60, topK = 10)
      .as[(Long, Long, Long, Long)].collect().toList
    def c(r: Long) = math.floor(1000000000.0 / (60.0 + r)).toLong
    // 20 is in both lists (ranks 2 and 1); 10 and 30 are single-list
    assert(got == List(
      (20L, 2L, 1L, c(2) + c(1)),
      (10L, 1L, 0L, c(1)),
      (30L, 0L, 2L, c(2))), got)
  }

  test("ranked assigns dense 1-based ranks with id tiebreak") {
    val df = Seq((5L, 3.0), (2L, 3.0), (9L, 7.0)).toDF("id", "s")
    val got = Ranking.ranked(df, "id", "s")
      .select($"id", $"rnk").as[(Long, Long)].collect().toMap
    assert(got == Map(9L -> 1L, 2L -> 2L, 5L -> 3L), got)
  }
}
