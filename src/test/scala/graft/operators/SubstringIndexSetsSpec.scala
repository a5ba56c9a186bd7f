package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** Lifecycle proofs for the versioned multi-eval-set decontamination
  * window index (r11 verdict directive 9): append+compact ≡ rebuild,
  * the pointer flip gates which version a probe reads, and the
  * one-pass multi-set probe equals the inline per-set scans.
  */
class SubstringIndexSetsSpec extends SparkSpec {
  private lazy val docs = Tables.load(spark, sf, "documents")
  private def setTagged(src: String, id: Int) =
    docs.filter(col("source") === src).withColumn("eval_set_id", lit(id))

  private def windowRows(path: String, v: Int): Seq[(String, Int)] =
    spark.read.parquet(s"$path/v$v")
      .select(col("g"), col("eval_set_id").cast("int"))
      .distinct().collect()
      .map(r => (r.getString(0), r.getInt(1))).sortBy(identity).toSeq

  test("append + compact is identical to a fresh rebuild") {
    val incr = tempDir("graft_ssets_incr")
    val full = tempDir("graft_ssets_full")
    // incremental: v0 = set0 + half of set1, append the other half,
    // compact (physical dedup of any cross-file duplicate windows)
    TextDedup.writeSubstringIndexSets(
      setTagged("src0", 0).unionByName(
        setTagged("src1", 1).filter(col("doc_id") % 2 === 0)), incr)
    TextDedup.appendToSubstringIndexSets(
      docs.filter(col("source") === "src1" && col("doc_id") % 2 =!= 0),
      evalSetId = 1, incr)
    val vCompact = TextDedup.compactSubstringIndexSets(spark, incr)
    assert(vCompact == 1)
    // rebuild: both sets in one shot
    TextDedup.writeSubstringIndexSets(
      setTagged("src0", 0).unionByName(setTagged("src1", 1)), full)
    val a = windowRows(incr, vCompact)
    val b = windowRows(full, 0)
    assert(a.nonEmpty && a == b)
    // and the compacted version holds no physical duplicates: raw row
    // count equals the distinct count
    val raw = spark.read.parquet(s"$incr/v$vCompact").count()
    assert(raw == a.size.toLong, s"compaction left duplicates: $raw vs ${a.size}")
  }

  test("pointer flip gates the probed version; old version stays readable") {
    val dir = tempDir("graft_ssets_ptr")
    TextDedup.writeSubstringIndexSets(setTagged("src0", 0), dir)
    val before = TextDedup.substringMatchesIndexedSets(
      docs.filter(col("source") =!= "src0"), dir).collect().toSeq
    assert(before.nonEmpty)
    // append src1 as a NEW set, compact: probe now sees both suites
    TextDedup.appendToSubstringIndexSets(
      docs.filter(col("source") === "src1"), evalSetId = 1, dir)
    TextDedup.compactSubstringIndexSets(spark, dir)
    val after = TextDedup.substringMatchesIndexedSets(
      docs.filter(!col("source").isin("src0", "src1")), dir).collect().toSeq
    assert(after.map(_.getLong(1)).toSet == Set(0L, 1L))
    // v0 was not rewritten by the compaction (in-flight readers)
    assert(spark.read.parquet(s"$dir/v0")
      .select(col("eval_set_id").cast("int")).distinct()
      .collect().map(_.getInt(0)).toSet == Set(0, 1))
  }

  test("multi-set probe equals the inline per-set scans") {
    val dir = tempDir("graft_ssets_probe")
    TextDedup.writeSubstringIndexSets(
      setTagged("src0", 0).unionByName(setTagged("src1", 1)), dir)
    val train = docs.filter(!col("source").isin("src0", "src1"))
    val got = TextDedup.substringMatchesIndexedSets(train, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val want = Seq("src0" -> 0L, "src1" -> 1L).flatMap { case (src, id) =>
      TextDedup.substringMatches(train, docs.filter(col("source") === src))
        .collect().map(r => (r.getLong(0), id, r.getLong(1),
          r.getLong(2), r.getLong(3)))
    }.toSet
    assert(got.nonEmpty && got == want)
  }
}
