package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{LocalSession, Tables}
import graft.operators.{TextAnalysis, TextDedup}

/** Standing-index probe flatness smoke (r15 verdict directive 1):
  * builds each bucketed standing index at a 1× and a 10× history
  * size, probes both with the SAME small batch, and grades the probe
  * wall-time ratio. Under the bucketed layout the probe reads only
  * the batch's buckets/keys, so its cost is a function of the batch,
  * not the history — the measured ratio should sit far below the 10×
  * an O(index) scan would show (budget ≤ 3× absorbs scheduler noise
  * and the log-ish cost of more part files per touched bucket).
  *
  * History tiers: sf0.1 documents (5k docs) vs testdata_sf1 (50k — a
  * verbatim 10× of the same corpus, tools/gen_sf1.py); the probe
  * batch is 200 sf0.1 docs with ids disjoint from nothing in
  * particular — the probe's cost model does not depend on hit rate.
  * Timing: 1 cold + 3 timed reps per cell, min of the timed reps (the
  * contention-robust statistic, like tools/scale_smoke.py).
  *
  * `runMain graft.tools.ProbeSmoke [out.md] [dir1x] [dir10x]` — writes
  * tools/probe_smoke_report.md by default; every row also prints as
  * `[probe-smoke] family t1x=… t10x=… ratio=… verdict=…`. The two
  * history dirs default to /root/testdata/sf0.1 and ./testdata_sf1
  * and are overridable by args 2/3 or SPARK_GRAFT_SMOKE_1X_DIR /
  * SPARK_GRAFT_SMOKE_10X_DIR (the Bench parameterization
  * convention), so the smoke runs on any machine layout.
  */
object ProbeSmoke {
  def main(args: Array[String]): Unit = {
    val outFile = if (args.nonEmpty) args(0) else "tools/probe_smoke_report.md"
    val dir1x = args.lift(1)
      .orElse(sys.env.get("SPARK_GRAFT_SMOKE_1X_DIR"))
      .getOrElse("/root/testdata/sf0.1")
    val dir10x = args.lift(2)
      .orElse(sys.env.get("SPARK_GRAFT_SMOKE_10X_DIR"))
      .getOrElse("testdata_sf1")
    val cpus = LocalSession.defaultCpus
    val spark = LocalSession.local(cpus)
    // the smoke's indexes are deliberately small — force the
    // pruning machinery on so the mechanism is what gets graded
    spark.conf.set(graft.operators.IndexLayout.PruneMinBytesKey, "0")

    val small = Tables.load(spark, dir1x, "documents")
      .select(col("doc_id"), col("text"))
    val big = Tables.load(spark, dir10x, "documents")
      .select(col("doc_id"), col("text"))
    val batch = small.filter(col("doc_id") >= 4800).cache()
    batch.count()

    def tmp(kind: String): String = {
      val slug = kind.replaceAll("[^A-Za-z0-9_]+", "_")
      val p = Files.createTempDirectory(s"graft_probesmoke_$slug")
      sys.addShutdownHook {
        if (Files.exists(p))
          Files.walk(p).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
            .forEach(f => Files.deleteIfExists(f))
      }
      p.toString
    }

    /** min-of-3 timed probe executions after a cold pass; each run
      * re-CONSTRUCTS the probe (the prune-collect jobs are part of
      * the per-batch cost being graded) and fully materializes it.
      */
    def time(probe: () => DataFrame): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        probe().queryExecution.toRdd.count()
        val dt = (System.nanoTime() - t0) / 1e9
        Tables.releaseTrackedCaches(spark)
        dt
      }
      once() // cold
      Seq.fill(3)(once()).min
    }

    case class Row(family: String, t1: Double, t10: Double,
                   budget: Double) {
      def ratio: Double = t10 / t1
      def verdict: String = if (ratio <= budget) "PASS" else "FAIL"
    }
    val rows = scala.collection.mutable.ArrayBuffer.empty[Row]
    def grade(family: String, build: (DataFrame, String) => Unit,
              probe: String => () => DataFrame,
              budget: Double = 3.0): Unit = {
      val d1 = tmp(s"${family}_1x"); val d10 = tmp(s"${family}_10x")
      build(small, d1); build(big, d10)
      val r = Row(family, time(probe(d1)), time(probe(d10)), budget)
      rows += r
      println(f"[probe-smoke] $family t1x=${r.t1}%.3f t10x=${r.t10}%.3f " +
        f"ratio=${r.ratio}%.2f budget<=${r.budget}%.1f verdict=${r.verdict}")
    }

    grade("norm_hash (q175)",
      (h, p) => TextDedup.writeNormHashIndex(h, p),
      p => () => TextDedup.normalizedDedupAgainstIndex(batch, p))

    grade("cdc_chunks (q163)",
      (h, p) => TextDedup.writeChunkIndex(h, p, w = 4, d = 16),
      p => () => TextDedup.cdcProbeAgainstChunkIndex(batch, p, w = 4, d = 16))

    val sigSmall = TextDedup.simhash64(small).cache(); sigSmall.count()
    val sigBig = TextDedup.simhash64(big).cache(); sigBig.count()
    val sigBatch = TextDedup.simhash64(batch).cache(); sigBatch.count()
    grade("hash64_banded (q161)",
      (h, p) => TextDedup.writeHashIndex(
        if (h eq small) sigSmall else sigBig, p),
      p => () => TextDedup.nearDupsAgainstHashIndex(sigBatch, p,
        maxHamming = 3, maxBandFreq = Some(64L)))

    grade("minhash_sigs (q150/q77)",
      (h, p) => TextDedup.writeSignatureIndex(h, p),
      p => () => TextDedup.nearDupsAgainstIndex(batch, p, threshold = 0.8))

    // substring windows: the probe's key universe is per-CHAR windows,
    // so pruning granularity depends on the batch. A bounded batch
    // (distinct windows <= MaxKeyPushdown) rides the key-pushdown path
    // and must be flat; a big batch touches every bucket and rides the
    // broadcast SEMI-JOIN tier (key-restricted, but not parquet-pushed
    // — every touched-bucket row is read and hash-probed), so it
    // tracks the touched-bucket volume: graded against the LINEAR
    // budget (~10x + noise) and printed so the trade stays visible.
    // (The broadcast tier — benchmark window sets are usually MBs —
    // is trivially flat and not under grade; maxBroadcastBytes = 0
    // forces the oversized-index tier here.)
    val batch12 = small.filter(col("doc_id") >= 4988).cache()
    batch12.count()
    grade("substring_windows bounded batch (q139)",
      (h, p) => TextDedup.writeSubstringIndex(h, p, windowChars = 40),
      p => () => TextDedup.substringMatchesIndexed(batch12, p,
        windowChars = 40, maxBroadcastBytes = 0L))
    grade("substring_windows 200-doc batch (scan-bound)",
      (h, p) => TextDedup.writeSubstringIndex(h, p, windowChars = 40),
      p => () => TextDedup.substringMatchesIndexed(batch, p,
        windowChars = 40, maxBroadcastBytes = 0L),
      budget = 12.0)

    grade("gram_index (q151)",
      (h, p) => TextAnalysis.writeGramIndex(h, p),
      p => () => TextAnalysis.noveltyAgainstIndex(batch, p))

    // semantic IVF ingest probe (q178/q179): the one per-batch probe
    // whose per-LIST cost grows with history by design (a Voronoi
    // cell is ~corpus/k), so flatness comes from the hot-cell guard:
    // lists above maxListN are skipped after a partition-column-only
    // count (no payload read), and probe data I/O is then bounded by
    // cap·touched at ANY history size. The cap here is the 1x
    // history's largest list — the per-batch scan budget a production
    // deployment would set — so the 10x lists (each ~10x their 1x
    // size) trip it and the CAPPED probe stays flat.
    val embSmall = Tables.load(spark, dir1x, "embeddings")
    val embBig = Tables.load(spark, dir10x, "embeddings")
    val seedCents = embSmall.filter(col("vec_id") < 4)
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .collect().sortBy(_.getLong(0))
      .map(r => (r.getLong(0).toInt, r.getSeq[Double](1).toSeq)).toSeq
    val listCap = graft.operators.IvfIndex.assign(embSmall, seedCents)
      .groupBy(col("list_id")).count()
      .agg(max(col("count"))).head().getLong(0)
    val embBatch = embSmall.filter(col("vec_id") >= 4800)
      .select((col("vec_id") + 100000L).as("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE) + 0.005D)")
          .as("embedding")).cache()
    embBatch.count()
    grade("semantic_ivf capped (q179)",
      (h, p) => graft.operators.IvfIndex.writeIndex(
        if (h eq small) embSmall else embBig, seedCents, p),
      p => () => graft.operators.IvfIndex.semanticDedupAgainstIndex(
        embBatch, p, threshold = 0.95, maxListN = Some(listCap)))

    // custom bucket count under the same grade: the production knob
    // (spark.graft.indexNumBuckets, persisted per tree) must keep the
    // probe flat — the probe reads B from the tree's meta, so this
    // also exercises the meta round-trip at a non-default B
    spark.conf.set(graft.operators.IndexLayout.NumBucketsKey, "64")
    try
      grade("norm_hash @ B=64 (custom bucket count)",
        (h, p) => TextDedup.writeNormHashIndex(h, p),
        p => () => TextDedup.normalizedDedupAgainstIndex(batch, p))
    finally
      spark.conf.unset(graft.operators.IndexLayout.NumBucketsKey)

    val sb = new StringBuilder
    sb.append("# Standing-index probe flatness: history 1x (5k docs) vs ")
    sb.append("10x (50k docs), fixed 200-doc batch\n\n")
    sb.append("Bucketed layout (IndexLayout): the probe prunes its scan to ")
    sb.append("the batch's buckets/keys, so probe cost tracks the batch, ")
    sb.append("not the history. Budget: ratio <= 3.0 (noise + more part ")
    sb.append("files per touched bucket); an O(index) scan would sit near ")
    sb.append("10x. The one deliberate exception: a batch whose distinct ")
    sb.append("key count exceeds the IN-list pushdown cap touches every ")
    sb.append("bucket and rides the broadcast semi-join tier (keys ")
    sb.append("restrict rows but are not parquet-pushed) — the 200-doc ")
    sb.append("substring-window row measures that tier against a linear ")
    sb.append("12x budget so the trade stays visible (production sizes B ")
    sb.append("in the thousands, and benchmark window sets normally ride ")
    sb.append("the broadcast tier anyway). min of 3 timed ")
    sb.append("reps after a cold pass, local[").append(cpus).append("].\n\n")
    sb.append("| index family | probe t(1x) s | probe t(10x) s | ratio | budget | verdict |\n")
    sb.append("|---|---|---|---|---|---|\n")
    rows.foreach { r =>
      sb.append(f"| ${r.family} | ${r.t1}%.3f | ${r.t10}%.3f " +
        f"| ${r.ratio}%.2fx | <=${r.budget}%.1fx | ${r.verdict} |\n")
    }
    Files.writeString(Paths.get(outFile), sb.toString, StandardCharsets.UTF_8)
    println(s"[probe-smoke] wrote $outFile")
    spark.stop()
  }
}
