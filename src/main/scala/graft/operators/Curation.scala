package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The standard training-corpus curation pipeline as one call:
  * token-count gate → cluster-level near-dup removal → eval-set
  * decontamination → deterministic split assignment. Each stage is one
  * of the library's gated operators; the composition itself is gated
  * end-to-end by q76_curate_e2e (one oracle over the whole chain).
  *
  * The length gate is deliberately a bare token-count filter (one
  * narrow projection) — richer signals (stopword ratio, repetition)
  * live in [[TextAnalysis.qualityScore]]/[[TextAnalysis.repetitionStats]]
  * and callers compose them in front when they want them; the pipeline
  * must not silently impose an English-specific stopword gate on a
  * multilingual corpus (the q36 lesson).
  *
  * Scale shape: the token gate and split assignment are narrow; the
  * dedup stage is the LSH pair miner + pointer-jumping components
  * (both documented in their own operators); decontamination is one
  * semi join against the benchmark gram set, broadcast only while the
  * benchmark's word count stays under `maxBroadcastGrams` (the same
  * guarded bound as [[TextAnalysis.contaminationStats]] — an eval
  * suite with tens of millions of grams must shuffle, not OOM the
  * driver). Nothing in the chain is quadratic in the corpus.
  *
  * Cache contract: the LSH stage caches its shingle-set table — release
  * with `graft.Tables.releaseOperatorCaches` after the terminal action.
  * Like the stats operator, the broadcast guard costs one narrow
  * word-count aggregation over `bench` at CONSTRUCTION time.
  *
  * @return the curated corpus: the input columns plus `n_tokens` and
  *         `split`, containing only gate-passing, cluster-deduped,
  *         uncontaminated documents.
  */
object Curation {
  def curate(docs: DataFrame, bench: DataFrame,
             minTokens: Int = 20,
             dedupThreshold: Double = 0.5,
             contaminationNgram: Int = 3,
             splits: Seq[(String, Double)] =
               Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)),
             maxBroadcastGrams: Long = 2000000L): DataFrame = {
    val qdocs = docs
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .filter(col("n_tokens") >= minTokens)
    val benchGrams = TextDedup.wordShingles(bench, contaminationNgram)
      .select(col("sh")).distinct()
    val wordBound = Option(
      bench.agg(sum(size(split(col("text"), " ")))).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    val benchSide =
      if (wordBound <= maxBroadcastGrams) broadcast(benchGrams) else benchGrams
    // The dedup chain (LSH pair mining + pointer-jumping components)
    // and decontamination are INDEPENDENT per-doc properties: probing
    // contamination on all gate-passing docs instead of dedup
    // survivors flags a superset, but `clean` anti-joins it FROM the
    // survivors, so the surviving set is identical — which frees the
    // two most expensive stages to run as concurrent jobs on the
    // shared input (guide §2.6, the multimodalIngestVerdict
    // discipline; the components loop's serial rounds overlap the
    // decontam scan instead of preceding it).
    val probes = buildConcurrently(docs.sparkSession, Seq(
      ("curate: near-dup drop set", () => graft.Tables.trackOperatorCache(
        Components.dupClusters(
            TextDedup.minhashLshPairs(qdocs, dedupThreshold))
          .filter(col("doc_id") =!= col("component")).select(col("doc_id"))
          .cache())),
      ("curate: decontam", () => graft.Tables.trackOperatorCache(
        TextDedup.wordShingles(qdocs, contaminationNgram)
          .join(benchSide, Seq("sh"), "left_semi")
          .select(col("doc_id")).distinct()
          .cache()))))
    val (drop, contaminated) = (probes(0), probes(1))
    val clean = qdocs.join(drop, Seq("doc_id"), "left_anti")
      .join(contaminated, Seq("doc_id"), "left_anti")
    Sampling.assignSplit(clean, "doc_id", splits)
  }

  /** UNIFIED multimodal ingest admission — the q150 (text) and q161
    * (media) per-batch verdicts composed into ONE chain over docs
    * carrying both a text and a media `blob` column: the delta batch
    * near-dup-probes the standing MinHash signature index, text
    * survivors' media signatures probe the standing 64-bit hash index
    * (capped banded join, index-side hot cap), media survivors are
    * decontaminated against the benchmark windows, and every delta
    * doc gets one verdict with a REASON —
    * `dup_text > dup_media > contaminated > kept`.
    *
    * `mediaSig` is the signature extractor column (e.g.
    * `graft_ahash(blob)` for images, `graft_aenv`/`graft_vhash` for
    * audio/video); docs whose signature is null (no media, or
    * undecodable) simply skip the media stage. Both standing indexes
    * are read-only state outside the batch — only the batch is ever
    * shingled/hashed, so the chain is O(batch + collisions) and each
    * doc's verdict is a pure function of (doc, standing state): any
    * batching of the snapshot yields the union of the batch verdicts
    * (the StreamingOpsSpec parity pin for the per-batch flavor).
    */
  def multimodalIngestVerdict(delta: DataFrame,
                              mediaSig: org.apache.spark.sql.Column,
                              sigIndexPath: String, hashIndexPath: String,
                              bench: DataFrame,
                              threshold: Double = 0.8, windowChars: Int = 40,
                              maxHamming: Int = 3,
                              maxBandFreq: Option[Long] = None): DataFrame = {
    // cache(): the verdict references the delta through FOUR lineages
    // (three probes, final join) and the delta's own lineage is
    // expensive — a media-signature kernel pass over two snapshots plus
    // the full-outer diff — so without a barrier each stage would
    // recompute it (measured: the uncached q166 chain cost ~10x its
    // cached cost). Tracked, so BOTH release flavors work: query
    // callers via releaseOperatorCaches, the per-micro-batch streaming
    // caller via releaseTrackedCaches (which the untracked cache()
    // here previously leaked past).
    val d = graft.Tables.trackOperatorCache(delta.cache())
    val spark = d.sparkSession
    // materialize the delta ONCE before the concurrent probes below:
    // three threads racing to build the same uncached InMemoryRelation
    // would each recompute the partitions they scan first
    d.count()
    // The three probes are INDEPENDENT over the full delta: the old
    // chain probed media only on text survivors and decontam only on
    // media survivors, but the verdict's precedence
    // (dup_text > dup_media > contaminated > kept) makes the per-doc
    // status identical either way — a doc flagged by an earlier stage
    // reports that stage's reason no matter what later stages say, so
    // widening a later probe's input to all delta docs can only set
    // flags the precedence already masks. Decoupling them removes the
    // two anti-join barriers AND lets the probes run as CONCURRENT
    // actions on the shared cached delta (guide §2.6 job overlap): the
    // LSH band probe, the banded hash probe and the window decontam
    // each spend most of their wall in short serial stages
    // (batch-stats collects, index-meta reads, AQE planning), so
    // overlapping them backfills those gaps — the r18 profile's q166
    // cost was 47 mostly-serial jobs.
    // Each probe's doc_id set is cached: the sets are tiny, but their
    // LINEAGES are the expensive probes, and each set is referenced by
    // both its materializing count and the final verdict join. The
    // whole probe — construction (the index probes run bounded
    // batch-stats collects and meta reads eagerly) and materialization
    // — runs inside its thread.
    val probes = buildConcurrently(spark, Seq(
      ("ingest probe: text near-dups", () => graft.Tables.trackOperatorCache(
        TextDedup
          .nearDupsAgainstIndex(d.select(col("doc_id"), col("text")),
            sigIndexPath, threshold)
          .select(col("doc_id")).distinct().cache())),
      ("ingest probe: media near-dups", () => graft.Tables.trackOperatorCache(
        TextDedup
          .nearDupsAgainstHashIndex(
            d.select(col("doc_id"), mediaSig.as("simhash"))
              .filter(col("simhash").isNotNull),
            hashIndexPath, maxHamming, maxBandFreq)
          .select(col("doc_id")).distinct().cache())),
      ("ingest probe: decontam", () => graft.Tables.trackOperatorCache(
        TextDedup
          .substringMatches(d.select(col("doc_id"), col("text")), bench,
            windowChars)
          .select(col("doc_id")).distinct().cache()))))
    val (textDups, mediaDups, contaminated) =
      (probes(0), probes(1), probes(2))
    d
      .join(textDups.withColumn("is_tdup", lit(true)), Seq("doc_id"), "left")
      .join(mediaDups.withColumn("is_mdup", lit(true)), Seq("doc_id"), "left")
      .join(contaminated.withColumn("is_cont", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("is_tdup"), lit("dup_text"))
          .when(col("is_mdup"), lit("dup_media"))
          .when(col("is_cont"), lit("contaminated"))
          .otherwise(lit("kept")).as("status"),
        length(col("text")).cast("long").as("n_chars"))
  }

  /** Build AND fully materialize independent (already-`cache()`d by
    * their builder) frames on concurrent driver threads (guide §2.6):
    * Spark's FIFO scheduler backfills one job's straggler tail with the
    * next job's tasks, and — the dominant effect at micro-batch sizes —
    * each probe's serial driver work (planning, batch-stats collects,
    * index meta reads, AQE re-optimization) overlaps the others'
    * instead of queueing behind them. Each thread constructs its frame
    * (eager construction work included), then materializes it with one
    * count — the frames are cached, so the caller's downstream use
    * reads the built cache. The first failure is rethrown after every
    * thread finishes (a failed probe must not leave a sibling running
    * against a cache the caller is about to release). Everything the
    * closures touch (CacheManager, function registry, the tracked-cache
    * registry) is thread-safe for concurrent sessions already.
    */
  private[graft] def buildConcurrently(
      spark: org.apache.spark.sql.SparkSession,
      tasks: Seq[(String, () => DataFrame)]): IndexedSeq[DataFrame] = {
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val out = new Array[DataFrame](tasks.size)
    val threads = tasks.zipWithIndex.map { case ((name, fn), i) =>
      val t = new Thread(() => {
        try {
          spark.sparkContext.setJobDescription(name)
          val df = fn()
          df.count()
          out(i) = df
        } catch { case e: Throwable => errs.add(e) }
        finally spark.sparkContext.setJobDescription(null)
      }, s"graft-probe-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    threads.foreach(_.join())
    if (!errs.isEmpty) throw errs.peek()
    out.toIndexedSeq
  }
}
