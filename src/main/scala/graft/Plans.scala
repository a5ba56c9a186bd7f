package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode

/** Dump `explain("formatted")` plans, in one of two forms:
  *  - `runMain graft.Plans [sfDir] [outFile]` writes a representative
  *    query per plan family into PLANS.md — the plan-shape evidence
  *    behind the scale claims (what PlanQualitySpec asserts, in
  *    reviewable form);
  *  - `runMain graft.Plans <sfDir> <outDir> <suffix> <q1,q2,...>`
  *    writes `<outDir>/<query>_<suffix>.txt` for each query matching a
  *    name prefix (like SPARK_GRAFT_ONLY) — the before/after plan
  *    evidence for optimization rounds. The session is Bench's, so the
  *    dumped plan is the one the bench executes (modulo AQE's runtime
  *    re-optimization, which explain shows as isFinalPlan=false).
  */
object Plans {
  private val Showcase: Seq[(String, String)] = Seq(
    "q02_filter_project" -> "filter + projection pushed into the parquet scan",
    "q03_join_agg" -> "star join: every dimension broadcast, partial+final agg",
    "q21_minhash_lsh" -> "dedup: narrow shingling, codegen'd HashAggregate signatures, banded self-join, candidate-only verification",
    "q30_ann_topk" -> "ANN: codegen'd graft_dot inside WholeStageCodegen, broadcast query vector, TakeOrderedAndProject",
    "q40_pipe_echo" -> "pipe operator: custom StreamExec, narrow (no Exchange below it)",
    "q43_pipe_arrow_echo" -> "Arrow pipe: columnar StreamExec output, codegen'd ColumnarToRow above",
    "q34_simhash_pairs" -> "simhash pair mining: band-keyed self-join (output ∝ collisions), exact bit_count verify",
    "q47_range_join_binned" -> "range join scale path: binned equi-join, no nested loop",
    "q62_salted_agg" -> "skew: two-phase salted aggregation (hot key spread over salts)",
    "q67_token_packing" -> "sequence packing: one window cumsum per group, no sequential state",
    "q38_simhash64_pairs" -> "64-bit simhash: same banded self-join shape with 2^16-key bands",
    "q48_containment" -> "containment: inverted-index equi-join, both directions from one ordered join",
    "q56_knn_graph" -> "LSH-blocked kNN graph: equi-join on the sin-plane bucket code (O(sum bucket^2), not O(n^2)), WindowGroupLimit before the per-vector shuffle; oracle reproduces the identical blocking",
    "q85_bmp_codec" -> "real 24-bit BMP decode/resize/re-encode chain, pixel-gated like q80; pure WholeStageCodegen projection",
    "q88_wav_codec" -> "real 16-bit PCM WAV decode/resample/re-encode chain, sample-gated like q80/q85; pure WholeStageCodegen projection",
    "q86_ngram_jaccard_capped" -> "blocked n-gram Jaccard with the hot-shingle cap engaged (doc-freq > 20 dropped); the skew-safe config value-gated, cap folded into the oracle",
    "q87_containment_capped" -> "containment pairs with the hot-shingle cap engaged (doc-freq > 5 dropped); the skew-safe config value-gated, cap folded into the oracle",
    "q39_pipe_local_side" -> "non-replicated pipe side input: zipped partitions, zero BroadcastExchange",
    "q76_curate_e2e" -> "full curation chain: token gate, LSH dedup + components, decontamination semi join, split bands",
    "q77_incremental_dedup" -> "incremental ingestion dedup: new-batch bands joined against the stored signature index",
    "q64_percentiles" -> "exact percentile_disc by value-domain refinement (r10): the shown plan is the FINISH pass — frozen-bucket filter feeding a task-keyed window over <= finishRows distinct values; no group-key window, no value-buffer aggregate (the histogram rounds are separate narrow scans)",
    "q122_ivfadc" -> "IVFADC probe (r10): PartitionFilters prune to the probed lists, the ADC rank is m integer lookups into the literal cell table + TakeOrderedAndProject",
    "q123_residual_ivfadc" -> "residual IVFADC probe (r10): same pruned layout, per-list ADC cell tables selected by a CASE over the partition column",
    "q125_hashed_knn" -> "embedding-free kNN (r10): one narrow graft_fhash + graft_dot pass straight into TakeOrderedAndProject — no Generate, no Join, no word shuffle",
    "q127_max_dup_spans" -> "maximal dup spans (r10): narrow gram kernel, one hash-groupBy, left-semi seed join, per-doc islands window — work ∝ duplication",
    "q129_text_clusters" -> "text clustering from raw text (r10): seed vectors as literals, integer argmin in one pass, single window for cluster sizes",
    "q136_image_near_dup" -> "image near-dup mining (r10): perceptual aHash over real decoded rasters, then the SAME 4x16 banded first-match self-join as text SimHash — one miner for every 64-bit signature",
    "q140_simhash64_capped" -> "capped 64-bit simhash mining (r11): hot band keys (> cap members) excluded from their band's self-join via per-row flags, first-match treats hot prior bands as non-matches — every join group bounded by the cap, no straggler task on a boilerplate-heavy corpus",
    "q141_image_near_dup_capped" -> "capped image near-dup mining (r13): the q140 hot-band cap applied to q136's aHash signatures — k identical thumbnails can no longer form a k^2 band group; at sf0.01 the cap excludes 50 hot keys per band and shrinks the pair set 1587 -> 32",
    "q143_concat_chunk" -> "concat-and-chunk export (r13): ONE per-shard window cumsum over token counts, integer div boundary math — no global sort, no sequential state, shards are the parallel unit",
    "q144_snapshot_diff" -> "snapshot diff (r13): one full-outer SortMergeJoin on (key, fingerprint) — payloads stay scan-side, classification is a projection above the join",
    "q145_delta_dedup" -> "delta-driven incremental dedup (r13): only the snapshot delta is shingled/hashed; the corpus is reached through its persisted MinHash signature index — banded equi-join against the index scan, candidate-only exact verification",
    "q146_chunk_manifest" -> "sequence-writer manifest (r13): explode(sequence(first_seq, last_seq)) above concatChunk's one window — output ∝ docs + boundary crossings, all interval math in one projection, no extra Exchange",
    "q148_kmeans_int" -> "integer-exact Lloyd k-means (r13): the shown plan is the FINAL assignment — one narrow argmin pass over k literal centroid arrays, no join, no shuffle; each earlier round was the same narrow pass + one (cluster, dim) hash aggregation with only k*dim rows reaching the driver",
    "q179_semantic_ingest_capped" -> "capped semantic ingest probe (r18): the batch is assigned by STORED centroids (broadcast argmin), the standing index is read only from the batch's lists via PartitionFilters, and the hot-cell guard shows up IN the plan — hot list directories are excluded by a NOT-IN partition filter before any payload page is read, so the probe's scan is bounded by maxListN x touched regardless of index skew",
    "q180_semantic_index_retrain" -> "versioned-index probe (r18): identical probe shape through the _current pointer — the scan's Location points INSIDE the flipped v1 directory, proving retrain+flip are invisible to the probe plan (same pruning, new geometry)")

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    if (args.length > 4 || args.length == 3) {
      System.err.println("usage: graft.Plans [sfDir] [outFile]\n" +
        "       graft.Plans <sfDir> <outDir> <suffix> <q1,q2,...>")
      sys.exit(2)
    }
    val spark = LocalSession.local()
    if (args.length == 4) dump(spark, sfDir, args(1), args(2), args(3).split(",").toSeq)
    else showcase(spark, sfDir, args.lift(1).getOrElse("PLANS.md"))
    spark.stop()
  }

  private def explain(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  def showcase(spark: SparkSession, sfDir: String, outFile: String): Unit = {
    val sb = new StringBuilder
    sb.append("# PLANS — physical plan shapes of representative queries\n\n")
    sb.append("Generated by `runMain graft.Plans` (explain mode `formatted`, ")
    sb.append(s"data `$sfDir`). These are the shapes `PlanQualitySpec` locks in.\n")
    Showcase.foreach { case (name, why) =>
      val plan = explain(SparkEntry.queries(name)(spark, sfDir))
      sb.append(s"\n## $name — $why\n\n```\n$plan```\n")
    }
    Files.write(Paths.get(outFile), sb.toString.getBytes(StandardCharsets.UTF_8))
    println(s"[plans] wrote $outFile")
  }

  /** One `<outDir>/<query>_<suffix>.txt` per query starting with any of
    * `prefixes`. */
  def dump(spark: SparkSession, sfDir: String, outDir: String, suffix: String,
      prefixes: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
         if prefixes.exists(name.startsWith)) {
      spark.sparkContext.setJobDescription(s"plan: $name")
      val out = Paths.get(outDir, s"${name}_$suffix.txt")
      Files.write(out, explain(fn(spark, sfDir)).getBytes(StandardCharsets.UTF_8))
      println(s"[plans] wrote $out")
      Tables.releaseOperatorCaches(spark)
    }
  }
}
