package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The indexed-vector-count meta stamp (r18 verdict directive 6):
  * `writeIndex` stamps the tree's row count into its meta, appends
  * maintain it with one O(batch) count (never a recount of the standing
  * tree), and `indexedVectorCount` reads it with no Spark job — with a
  * footer-only recount as the pre-stamp fallback. q179's hot-cell cap
  * (history/4) derives from this stamp instead of counting the corpus
  * per probe.
  */
class IvfIndexMetaSpec extends SparkSpec {
  import spark.implicits._

  private def emb(from: Long, until: Long) =
    spark.range(from, until).select($"id".as("vec_id"),
      array($"id".cast("double"), lit(1.0)).as("embedding"))

  private val cents = Seq((0, Seq(0.0, 1.0)), (1, Seq(100.0, 1.0)))

  test("build stamps the count, append maintains it, fallback recounts") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_meta_").toString
    val path = s"$dir/idx"
    IvfIndex.writeIndex(emb(0, 40), cents, path)
    assert(IvfIndex.indexedVectorCount(spark, path) == 40L)
    IvfIndex.appendToIndex(emb(40, 55), path)
    assert(IvfIndex.indexedVectorCount(spark, path) == 55L)
    // pre-stamp tree: delete the meta — the reader must recount
    val meta = new java.io.File(path, "_graft_index_meta.json")
    assert(meta.exists())
    assert(meta.delete())
    assert(IvfIndex.indexedVectorCount(spark, path) == 55L)
    // an append to a pre-stamp tree restamps it durably
    IvfIndex.appendToIndex(emb(55, 60), path)
    assert(meta.exists())
    assert(IvfIndex.indexedVectorCount(spark, path) == 60L)
  }

  test("retrain and compact carry the stamp into the new version") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_meta_v_").toString
    val path = s"$dir/idx"
    IvfIndex.writeVersionedIndex(emb(0, 30), cents, path)
    assert(IvfIndex.indexedVectorCount(spark, path) == 30L)
    IvfIndex.retrainIndexVersionWith(spark, path, cents)
    assert(IvfIndex.indexedVectorCount(spark, path) == 30L)
    IvfIndex.compactIndexVersion(spark, path)
    assert(IvfIndex.indexedVectorCount(spark, path) == 30L)
  }

  test("ADC readers and appenders follow the version pointer through compaction") {
    // residual-ADC tree of 150 vectors, compacted (flat root → v1), a
    // 50-vector batch appended, compacted again (v1 → v2): after every
    // step the meta stamp, the list occupancy and an all-lists probe
    // must all see the same live version — history + batch
    val dir = java.nio.file.Files.createTempDirectory("ivf_meta_adc_").toString
    val path = s"$dir/idx"
    val vecs = (from: Long, until: Long) =>
      spark.range(from, until).select($"id".as("vec_id"),
        array(($"id" % 13).cast("double"), ($"id" % 7).cast("double"),
          lit(1.0), ($"id" % 3).cast("double")).as("embedding"))
    val cents4 = Seq((0, Seq(0.0, 0.0, 1.0, 0.0)), (1, Seq(12.0, 6.0, 1.0, 2.0)))
    def seen(expected: Long, step: String): Unit = {
      assert(IvfIndex.indexedVectorCount(spark, path) == expected, step)
      assert(IvfIndex.listSkewStats(spark, path).agg(sum($"n")).head().getLong(0)
        == expected, step)
      assert(IvfIndex.topKResidualAdcIndexed(spark, path, Seq(1.0, 1.0, 1.0, 1.0),
        k = 1000, nProbe = cents4.size).count() == expected, step)
    }
    IvfIndex.writeResidualAdcIndex(vecs(0L, 150L), cents4, path, m = 2, kCode = 4)
    seen(150L, "build")
    assert(IvfIndex.compactIndexVersion(spark, path) == 1)
    seen(150L, "first compaction")
    IvfIndex.appendToResidualAdcIndex(vecs(150L, 200L), path)
    seen(200L, "append")
    assert(IvfIndex.compactIndexVersion(spark, path) == 2)
    seen(200L, "second compaction")
  }
}
