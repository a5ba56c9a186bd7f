package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Similarity, TextAnalysis, TextDedup}

/** Training-data pipeline queries: deduplication, text analysis,
  * similarity search, multimodal metadata — each backed by the operator
  * library and checked against a DuckDB oracle that replays the same
  * (md5-based, integer-safe) computation.
  *
  * The q21 oracle is deliberately the *direct* O(n·overlap) Jaccard — it
  * defines the ground truth the Spark-side MinHash+LSH must reproduce,
  * so the hash-compare doubles as an LSH recall proof at threshold 0.5.
  */
object DataPipeline {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q20_dedup_exact" -> { (s, dir) =>
      TextDedup.exactDedup(Tables.load(s, dir, "documents"))
    },
    // NORMALIZED exact dedup (q169): the corpus is lowercase
    // single-spaced by construction, so the variants exact-dedup must
    // miss are PLANTED — every %7 doc re-enters upper-cased with
    // trailing punctuation, every %11 doc re-enters comma-separated —
    // and the gate proves normalizedDedup groups each variant with its
    // original (q20 over the same union would put them in singleton
    // groups). The oracle replays the planting and the normalization
    // (lower + regexp collapse + trim) verbatim.
    "q169_norm_dedup" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.load(s, dir, "documents").select($"doc_id", $"text")
      // planted-variant ids live ABOVE the real id range at every
      // scale factor: off = max(doc_id)+1 (a one-column aggregate the
      // oracle replays as a scalar subquery), so case variants occupy
      // [off, 2·off) and punct variants [2·off, 3·off) — disjoint from
      // the corpus and from each other, and the original (smallest id)
      // stays each group's keeper
      val off = docs.agg(max($"doc_id")).head().getLong(0) + 1L
      val caseVar = docs.filter($"doc_id" % 7 === 0)
        .select(($"doc_id" + off).as("doc_id"),
          concat(upper($"text"), lit("!!!")).as("text"))
      val punctVar = docs.filter($"doc_id" % 11 === 0)
        .select(($"doc_id" + 2L * off).as("doc_id"),
          regexp_replace($"text", " ", ", ").as("text"))
      TextDedup.normalizedDedup(
        docs.unionByName(caseVar).unionByName(punctVar))
    },
    // normalized dedup at INGEST time: the standing 33-byte/doc
    // canonical-hash index (built at doc_id < 200, O(batch)-appended
    // to < 350) probed by the rest of the corpus plus planted
    // upper-cased variants of HISTORY docs — the variants prove the
    // canonical form (not the raw text) is what the index catches,
    // and the lifecycle proves build + append + probe compose
    "q175_norm_dedup_ingest" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.load(s, dir, "documents").select($"doc_id", $"text")
      val path = SharedArtifacts.normHashIndexPath(s, dir,
        buildAt = 200L, splitAt = 350L)
      // variant ids above the real range at every SF (see q169)
      val off = docs.agg(max($"doc_id")).head().getLong(0) + 1L
      val batch = docs.filter($"doc_id" >= 350)
        .unionByName(docs.filter($"doc_id" < 350 && $"doc_id" % 7 === 0)
          .select(($"doc_id" + off).as("doc_id"),
            concat(upper($"text"), lit("!!!")).as("text")))
      TextDedup.normalizedDedupAgainstIndex(batch, path)
    },
    "q21_minhash_lsh" -> { (s, dir) =>
      TextDedup.minhashLshPairs(Tables.loadParallel(s, dir, "documents"), threshold = 0.5)
    },
    "q22_ngram_jaccard" -> { (s, dir) =>
      TextDedup.blockedNgramJaccard(Tables.loadParallel(s, dir, "documents"), threshold = 0.5)
    },
    // end-to-end dedup application: remove the higher-id member of every
    // verified near-dup pair, keep the rest of the corpus.
    "q28_dedup_apply" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.loadParallel(s, dir, "documents")
      val drop = TextDedup.minhashLshPairs(docs, threshold = 0.5)
        .select($"doc_b".as("doc_id")).distinct()
      docs.join(drop, Seq("doc_id"), "left_anti")
        .agg(count(lit(1)).as("n_kept"), sum($"doc_id").as("sum_kept_ids"))
    },
    "q23_simhash" -> { (s, dir) =>
      TextDedup.simhash(Tables.load(s, dir, "documents")).orderBy(col("doc_id"))
    },
    // SimHash pair mining: band-blocked candidates + exact hamming
    // verify. The brute-force O(n²) oracle proves the 4-band blocking
    // loses no pair at hamming <= 3 (pigeonhole recall = 1).
    "q34_simhash_pairs" -> { (s, dir) =>
      TextDedup.simhashPairs(Tables.loadParallel(s, dir, "documents"), maxHamming = 3)
    },
    // 64-bit SimHash pair mining — the corpus-scale default miner (each
    // 16-bit band key has 2^16 values, so band self-joins partition
    // evenly instead of collapsing onto 16 keys). Same brute-force
    // O(n²) oracle shape as q34: recall-1 proof for the banding.
    "q38_simhash64_pairs" -> { (s, dir) =>
      TextDedup.simhash64Pairs(Tables.loadParallel(s, dir, "documents"), maxHamming = 3)
    },
    // the SKEW-SAFE configuration of the 64-bit banded miner (the
    // q86/q87 discipline applied to banding): band keys shared by more
    // than `HammingBandCap` signatures — k near-identical docs in a
    // boilerplate-heavy corpus — are excluded from their band's
    // self-join, so no join group exceeds the cap and no straggler
    // task can emit k² candidates. The oracle states the capped
    // semantics DECLARATIVELY (brute-force hamming join, keep a pair
    // iff some equal band's key is non-hot), so the hash match proves
    // the first-match banded plan implements exactly that set.
    "q140_simhash64_capped" -> { (s, dir) =>
      TextDedup.simhash64Pairs(Tables.loadParallel(s, dir, "documents"),
        maxHamming = 3, maxBandFreq = Some(HammingBandCap))
    },
    // asymmetric containment (quote/excerpt detection): a short doc
    // quoted inside a long one scores near 1 even when Jaccard is tiny
    "q48_containment" -> { (s, dir) =>
      TextDedup.containmentPairs(Tables.loadParallel(s, dir, "documents"), threshold = 0.8)
    },
    // the SKEW-SAFE configurations of the two inverted-index miners,
    // correctness-proven rather than just unit-tested: the hot-shingle
    // cap (drop grams shared by more than `cap` documents — licence
    // boilerplate at corpus scale) is folded into the oracle as the
    // same document-frequency filter, so the gated result proves the
    // capped universe's sizes, pair counts, and scores all shift
    // together exactly as designed. Caps chosen to actually bite on
    // this corpus (hundreds of bigrams above 20 docs, trigrams above 5).
    "q86_ngram_jaccard_capped" -> { (s, dir) =>
      TextDedup.blockedNgramJaccard(Tables.loadParallel(s, dir, "documents"),
        threshold = 0.5, maxShingleFreq = Some(20))
    },
    "q87_containment_capped" -> { (s, dir) =>
      TextDedup.containmentPairs(Tables.loadParallel(s, dir, "documents"),
        threshold = 0.8, maxShingleFreq = Some(5))
    },
    // incremental ingestion dedup: half the corpus lives in a MinHash
    // signature index (built ONCE per process via SharedArtifacts —
    // the persisted history of a production ingest, not part of the
    // per-batch work), the other half dedups AGAINST it: the new batch
    // is shingled once, history is only ever read from its index. The
    // timed query is therefore the incremental probe the operator
    // exists to make O(batch). Oracle = direct cross-set Jaccard.
    "q77_incremental_dedup" -> { (s, dir) =>
      import org.apache.spark.sql.functions.col
      val docs = Tables.load(s, dir, "documents")
      val idxPath = SharedArtifacts.signatureIndexPath(s, dir, splitAt = 250)
      TextDedup.nearDupsAgainstIndex(docs.filter(col("doc_id") >= 250), idxPath,
        threshold = 0.5)
    },
    // tokenizer-prep vocabulary profile: relative-frequency vocab +
    // per-source out-of-vocabulary token counts (integer-exact rule)
    "q78_vocab_oov" -> { (s, dir) =>
      TextAnalysis.vocabOovStats(Tables.load(s, dir, "documents"), relDenom = 1000L)
    },
    // paragraph-dedup signal with deterministic 10-word span boundaries
    "q49_span_dup" -> { (s, dir) =>
      TextDedup.spanDupStats(Tables.load(s, dir, "documents"), spanWords = 10)
    },
    "q24_langid" -> { (s, dir) =>
      TextAnalysis.langIdConfusion(Tables.load(s, dir, "documents"))
    },
    // maximal duplicated spans (seed-and-extend over sliding 10-grams;
    // the parallel stand-in for suffix-array exact-substring dedup):
    // every row is one maximal cross-document duplicated word span —
    // start, inclusive end, seed count, width. Work ∝ one gram-hash
    // shuffle + duplicated positions only; the oracle replays seeds,
    // island merging and span arithmetic from the same md5 prefixes.
    "q127_max_dup_spans" -> { (s, dir) =>
      TextDedup.maxDupSpans(Tables.loadParallel(s, dir, "documents"),
        spanWords = 10, minDocs = 2)
    },
    // end-to-end training-data pipeline: quality filter → exact dedup
    // among survivors → per-doc language ID → corpus stats per guessed
    // language. One oracle over the whole composition proves the stages
    // agree with their SQL definitions AND compose without drift.
    "q36_pipeline_e2e" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
      // gate on token count, not the (English-specific) stopword ratio:
      // the stopword gate would empty every non-en language before the
      // langid stage gets to see it
      val quality = TextAnalysis.qualityScore(docs).filter($"n_tokens" >= 20)
        .select($"doc_id", $"n_tokens")
      val qualityDocs = docs.join(quality.select($"doc_id"), Seq("doc_id"))
      val kept = TextDedup.exactDedup(qualityDocs)
        .select($"keep_id".as("doc_id"))
      val guesses = TextAnalysis.langIdGuesses(docs)
        .select($"doc_id", $"guess")
      quality.join(kept, Seq("doc_id"))
        .join(guesses, Seq("doc_id"))
        .groupBy($"guess")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("sum_tokens"))
        .orderBy($"guess")
    },
    "q33_langid_ngram" -> { (s, dir) =>
      TextAnalysis.langIdCharNgram(Tables.loadParallel(s, dir, "documents"))
    },
    "q25_quality" -> { (s, dir) =>
      TextAnalysis.qualityScore(Tables.load(s, dir, "documents"))
    },
    "q26_token_stats" -> { (s, dir) =>
      TextAnalysis.tokenStats(Tables.load(s, dir, "documents"))
    },
    "q27_fingerprint" -> { (s, dir) =>
      TextAnalysis.fingerprint(Tables.load(s, dir, "documents"))
    },
    "q29_bpeish_tokens" -> { (s, dir) =>
      TextAnalysis.bpeishTokenStats(Tables.load(s, dir, "documents"))
    },
    "q30_ann_topk" -> { (s, dir) =>
      Similarity.bruteForceTopK(Tables.load(s, dir, "embeddings"), queryVecId = 0L, k = 20)
    },
    // int8-quantized ANN: q30's brute-force shape over the 8×-compressed
    // index, ranked by QUANTIZED cosine — scales cancel, so the ranking
    // derives entirely from exact integer graft_dot8 products and the
    // oracle reproduces the quantization (floor(x/scale + 0.5): floor,
    // not round, because round's half-mode differs across engines) and
    // every score bit-for-bit
    "q93_quantized_topk" -> { (s, dir) =>
      Similarity.topKQuantized(Tables.load(s, dir, "embeddings"), queryVecId = 0L, k = 20)
    },
    // corpus-profiling: most source-distinctive terms by smoothed tf-idf
    "q55_tfidf_terms" -> { (s, dir) =>
      TextAnalysis.tfidfTopTerms(Tables.load(s, dir, "documents"), topK = 3)
    },
    // kNN graph on the SCALE-SAFE plan: hyperplane-LSH-blocked pairs
    // (equi-join on the deterministic sin-plane bucket code, O(Σ
    // bucket²) not O(n²)). The oracle reproduces the identical
    // blocking in SQL — sin planes are closed-form — so this
    // value-gates the approximate plan itself, not a proxy: same
    // buckets, same within-bucket ranking, bit-equal cosines. The
    // exact O(n²) knnGraph stays as the AnnRecallSpec baseline, where
    // bits=0 degenerates this operator to it bit-for-bit.
    "q56_knn_graph" -> { (s, dir) =>
      Similarity.knnGraphLshBlocked(Tables.loadParallel(s, dir, "embeddings"),
        k = 2, bits = 3, dim = 64)
    },
    "q31_vec_near_dup" -> { (s, dir) =>
      Similarity.nearDupPairs(Tables.loadParallel(s, dir, "embeddings"), threshold = 0.8)
    },
    // no-blocking-key embedding near-dup MINING (multi-table hyperplane
    // LSH + exact-cosine verify) on a derived fixture with planted
    // near-dups: each vector gets a deterministic jittered copy
    // (+0.005·(1 + vec_id%3) per element, seeded by vec_id like q51's
    // corrupt blobs). The original corpus is near-orthogonal (max
    // pairwise cos ≈ 0.51), so the only pairs ≥ 0.8 are the planted
    // ones at cos ≈ 0.999 — where the miner's per-pair miss probability
    // is ~1e-9 — making the brute-force O(n²) oracle an exact recall
    // AND soundness gate (verification already guarantees precision).
    // AnnRecallSpec keeps the adversarial-recall measurement on the
    // unplanted corpus.
    "q35_lsh_vec_dup" -> { (s, dir) =>
      import s.implicits._
      val emb = Tables.loadParallel(s, dir, "embeddings")
      val base = emb.select($"vec_id",
        transform($"embedding", x => x.cast("double")).as("embedding"))
      // jitter BEFORE offsetting the id: a lateral column alias would
      // otherwise bind the lambda's vec_id to the new (offset) value
      val planted = emb.select($"vec_id",
        transform($"embedding", x =>
          x.cast("double") +
            lit(0.005) * (lit(1L) + pmod($"vec_id", lit(3L))).cast("double"))
          .as("embedding"))
        .select(($"vec_id" + 10000L).as("vec_id"), $"embedding")
      Similarity.lshNearDupPairs(base.unionAll(planted), threshold = 0.8)
    },
    // embedding-level benchmark decontamination: label-0 vectors stand
    // in for the (small) eval set, the rest are the corpus; for every
    // corpus vector the nearest benchmark vector and the threshold
    // flag, computed by the literal-matrix graft_argmax_cos kernel —
    // one narrow codegen'd projection, no candidate rows. Exact-double
    // cosine parity with the oracle (same widen-then-sequential-sum
    // order as q30/q31), so argmax, rounding and the >= 0.8
    // comparison all hash-match.
    "q92_semantic_decontam" -> { (s, dir) =>
      import s.implicits._
      val emb = Tables.load(s, dir, "embeddings")
      Similarity.semanticContamination(
          emb.filter($"label" =!= 0), emb.filter($"label" === 0),
          threshold = 0.8)
        .orderBy($"vec_id")
    },
    // the guarded fallback tier of the same operator: an eval set too
    // big for plan literals takes the broadcast-join + map-side
    // struct-max argmax path instead. Forced here via strategy="join"
    // (the auto bound never trips at test scale); the oracle is the
    // identical brute-force window argmax, so the fallback is proven
    // value-identical to q92's literal-kernel path — same cosine, same
    // smallest-id tie-break, same threshold flags.
    "q104_semantic_decontam_join" -> { (s, dir) =>
      import s.implicits._
      val emb = Tables.load(s, dir, "embeddings")
      Similarity.semanticContamination(
          emb.filter($"label" =!= 0), emb.filter($"label" === 0),
          threshold = 0.8, strategy = "join")
        .orderBy($"vec_id")
    },
    // IVF index probing ALL lists: approximate search degenerates to
    // exact, so the brute-force oracle doubles as an index-correctness
    // proof (assignment loses no vectors, per-list search scores match)
    "q32_ivf_topk" -> { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val centroids = graft.operators.IvfIndex.train(emb, nLists = 4, iters = 1)
      graft.operators.IvfIndex.topK(emb, centroids, queryVecId = 0L, k = 20, nProbe = 4)
    },
    // incremental IVF maintenance: the index was built on half the
    // corpus and extended with the other half via appendToIndex (once
    // per process — SharedArtifacts; the persisted state of an ANN
    // ingestion pipeline). Probing ALL lists degenerates to exact
    // search, so the brute-force oracle proves the appended vectors
    // landed in the right lists (a misassigned or dropped vector would
    // change the top-20).
    "q84_ivf_append" -> { (s, dir) =>
      val path = SharedArtifacts.ivfAppendedIndexPath(s, dir, splitAt = 250)
      graft.operators.IvfIndex.topKIndexed(s, path, queryVecId = 0L,
        k = 20, nProbe = 8)
    },
    // quantized IVF: q93's int8 compression inside q32/q84's
    // list-partitioned pruned layout — the index actually shipped at
    // 100 TB (probe I/O ≈ nProbe/(8·nLists) of the raw corpus).
    // Probing ALL lists degenerates to q93's exact integer ranking, so
    // the quantization-replaying oracle value-gates assignment, int8
    // storage and integer scoring end-to-end; partial-probe recall and
    // the partition-pruning plan shape are AnnRecallSpec rows.
    "q110_quantized_ivf" -> { (s, dir) =>
      val path = SharedArtifacts.ivfQuantizedIndexPath(s, dir, nLists = 8)
      graft.operators.IvfIndex.topKQuantizedIndexed(s, path, queryVecId = 0L,
        k = 20, nProbe = 8)
    },

    // product quantization: every vector's m=8 codebook ids (seeded
    // subspace codebooks, plan-literal like IVF centroids) plus the
    // integer ADC estimate against query vec 0; the oracle re-derives
    // every subspace argmin and every micro-unit ADC cell from the
    // same exact-double arithmetic, so one flipped code breaks the gate
    "q121_pq_codes" -> { (s, dir) =>
      Similarity.pqEncodeAdc(Tables.loadParallel(s, dir, "embeddings"),
          m = PqM, kCode = PqK, queryVecId = 0L)
        .orderBy(col("vec_id"))
    },
    // IVFADC: q121's PQ codes as the stored payload inside q110's
    // list-partitioned pruned layout, ranked by ascending integer ADC
    // distance — the RAM-resident index a 100 TB embedding corpus
    // actually serves (partition pruning × 64-smaller payload). All
    // lists probed here, so the search is value-identical to the q121
    // integer-ADC brute force and the oracle replays codes, cells and
    // the top-k pick end-to-end; partial-probe recall and the
    // partition-pruning plan shape are AnnRecallSpec rows.
    "q122_ivfadc" -> { (s, dir) =>
      val path = SharedArtifacts.ivfAdcIndexPath(s, dir, nLists = 8,
        m = PqM, kCode = PqK)
      val qv = Tables.load(s, dir, "embeddings")
        .filter(col("vec_id") === 0L)
        .select(transform(col("embedding"), x => x.cast("double")))
        .head().getSeq[Double](0)
      graft.operators.IvfIndex.topKAdcIndexed(s, path, qv, k = 20,
        nProbe = 8, excludeVecId = 0L)
    },
    // OPQ-style ROTATED PQ: a fixed seeded chain of exact 3-4-5
    // Givens rotations mixes dimensions across the subspace cuts
    // before encoding (the decorrelation OPQ's learned R exists for,
    // minus the non-replayable SVD) — rotated vectors are bit-equal
    // cross-engine, so the oracle unrolls all 16 rotations and then
    // replays the full q121 PQ/ADC derivation over them
    "q133_rotated_pq" -> { (s, dir) =>
      Similarity.rotatedPqAdc(Tables.loadParallel(s, dir, "embeddings"),
          rounds = RotRounds, m = PqM, kCode = PqK, queryVecId = 0L)
        .orderBy(col("vec_id"))
    },
    // RESIDUAL IVFADC (the classical Jégou design): PQ codes encode
    // v − centroid(list) instead of the raw vector, so the m bytes
    // describe only what the coarse quantizer didn't explain; ranking
    // uses a PER-LIST integer ADC table (query residual vs the shared
    // residual codebook). Seed-centroid geometry (iters = 0) keeps the
    // whole index SQL-replayable: the oracle re-derives assignment,
    // residuals, codebook, codes, all nLists×m×k cells and the final
    // pick — one flipped code or cell anywhere breaks the gate.
    // Partial-probe recall and partition pruning are AnnRecallSpec rows.
    // ADC + exact re-rank — the two-stage search that lifts the
    // measured quantizer ceiling (ANN_RECALL.md: IVFADC plateaus at
    // recall ≈ 0.90 regardless of nProbe): the q122 index picks the
    // 60 best codes by integer ADC, then ONE bounded broadcast
    // semi-join back to the raw embeddings ranks those 60 by exact
    // cosine. All lists probed here so the candidate set is
    // deterministic and the oracle replays codes → cells → candidate
    // cut → exact-cosine top-20 end-to-end; the recall lift at
    // partial probes is an AnnRecallSpec row + ANN_RECALL.md curves.
    "q157_adc_rerank" -> { (s, dir) =>
      val path = SharedArtifacts.ivfAdcIndexPath(s, dir, nLists = 8,
        m = PqM, kCode = PqK)
      val emb = Tables.load(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id") === 0L)
        .select(transform(col("embedding"), x => x.cast("double")))
        .head().getSeq[Double](0)
      graft.operators.IvfIndex.topKAdcRerankIndexed(s, path, emb, qv,
        k = 20, nProbe = 8, cand = 60, excludeVecId = 0L)
    },
    "q123_residual_ivfadc" -> { (s, dir) =>
      val path = SharedArtifacts.ivfResidualAdcIndexPath(s, dir, nLists = 8,
        m = PqM, kCode = PqK)
      val qv = Tables.load(s, dir, "embeddings")
        .filter(col("vec_id") === 0L)
        .select(transform(col("embedding"), x => x.cast("double")))
        .head().getSeq[Double](0)
      graft.operators.IvfIndex.topKResidualAdcIndexed(s, path, qv, k = 20,
        nProbe = 8, excludeVecId = 0L)
    },
    // hashing-trick featurization: signed 256-bucket integer count
    // vectors straight from text — ONE narrow codegen'd kernel pass
    // (no word explode, no (doc,bucket) shuffle) — gated as the sparse
    // nonzero entries, every bucket and sign replayed from md5 hex by
    // the oracle. The text→vector bridge into the ANN stack for a
    // corpus with no precomputed embeddings.
    "q124_feature_hash" -> { (s, dir) =>
      graft.operators.TextVectors.sparseEntries(
          Tables.loadParallel(s, dir, "documents"), dim = 256)
        .select(col("doc_id"), col("bucket").cast("long").as("bucket"), col("w"))
        .orderBy(col("doc_id"), col("bucket"))
    },
    // the q76 composition argument over the SESSION's new family:
    // quality gate (integer word floor) → keep-one span-removal dedup
    // (drop docs losing ≥ half their words) → integer-exact text
    // clustering, reported per cluster. Every stage is individually
    // gated (q131, q129); this gate proves they COMPOSE without
    // drift, entirely in integers, entirely from raw text.
    "q132_text_curation" -> { (s, dir) =>
      val docs = Tables.loadParallel(s, dir, "documents")
      val removal = TextDedup.dupSpanRemovalStats(docs, spanWords = 10,
        minDocs = 2)
      val clusters = graft.operators.TextVectors.clusterAssign(docs,
        Seq(0L, 1L, 2L, 3L), dim = 256)
      removal.join(clusters, Seq("doc_id"))
        .withColumn("quality", col("n_words") >= 20)
        .withColumn("kept", col("quality") &&
          (col("n_words_removed") * 2 < col("n_words")))
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("quality"), 1L).otherwise(0L)).as("n_quality"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("kept"), col("n_words") - col("n_words_removed"))
            .otherwise(0L)).as("words_kept"))
        .orderBy(col("cluster_id"))
    },
    // the APPLY side of q127 (Lee et al.'s keep-one policy): spans
    // cluster by content key, the (doc, pos)-minimal span owns its
    // cluster, and every other span's words count toward removal as a
    // per-doc INTERVAL UNION (overlapping spans must not double-count
    // — a running-max window, not a sum). One integer row per doc.
    "q131_dedup_apply_spans" -> { (s, dir) =>
      TextDedup.dupSpanRemovalStats(Tables.loadParallel(s, dir, "documents"),
        spanWords = 10, minDocs = 2)
    },
    // the REWRITE consuming q131's manifest: the deduplicated corpus
    // itself — non-owner duplicated spans excised word-for-word, the
    // owner occurrence and all untouched docs byte-identical. The
    // oracle rebuilds every clean text by anti-joining covered word
    // positions and re-agreeing the words in order.
    "q171_dedup_rewrite" -> { (s, dir) =>
      TextDedup.dupSpanRewrite(Tables.loadParallel(s, dir, "documents"),
        spanWords = 10, minDocs = 2)
    },
    // ANN index built ENTIRELY from raw text: hashed vectors inside
    // the q32-style IVF-flat list layout, probing HALF the lists —
    // and because hashed geometry is integer-exact, the oracle
    // replays the PRUNED probe itself (centroid distances, probe
    // ranking, membership, cosine top-k), not just an all-probes
    // degenerate — the strongest index gate in the suite.
    "q130_text_ivf" -> { (s, dir) =>
      val path = SharedArtifacts.textIvfIndexPath(s, dir, nLists = 8, dim = 256)
      graft.operators.IvfIndex.topKIndexed(s, path, queryVecId = 0L,
        k = 20, nProbe = 4)
    },
    // document clustering straight from raw text (hashed vectors +
    // seeded Voronoi): because hashed entries are integers, every
    // assignment score cc − 2vc is an EXACT integer — a bit-replayable
    // clustering no float-embedding k-means can offer. One kernel pass
    // + 4 seed literals; the oracle replays vectors, norms, dots,
    // argmin and cluster sizes from md5 hex.
    "q129_text_clusters" -> { (s, dir) =>
      graft.operators.TextVectors.clusterAssign(
          Tables.loadParallel(s, dir, "documents"),
          seedDocIds = Seq(0L, 1L, 2L, 3L), dim = 256)
        .orderBy(col("doc_id"))
    },
    // the Lloyd ITERATION trajectory oracle-gated (q112/q113 gate only
    // the iters = 0 Voronoi step; IvfIndex.lloyd's float means can't
    // cross engines): two integer-exact rounds over the int8 codes —
    // argmin assignment, floor-divided centroid update, reassignment —
    // replayed bit-for-bit by unrolled CTEs
    "q148_kmeans_int" -> { (s, dir) =>
      Similarity.kmeansIntRounds(Tables.load(s, dir, "embeddings"),
          k = 4, rounds = 2)
        .orderBy(col("vec_id"))
    },
    // TRAINED PQ codebooks (the step real PQ deployments never skip —
    // ANN_RECALL.md measured seed codebooks collapsing on the
    // de-cloned tier): per-subspace integer Lloyd on a GLOBAL int8
    // grid (one uniform scale preserves geometry; per-vector scaling
    // would not), floor-divided means, graft_pq_encode tie-break —
    // so the oracle replays gmx, the grid, both rounds and every
    // final (code, d2) bit-for-bit. One row per (vector, subspace).
    "q165_pq_train_int" -> { (s, dir) =>
      val (gmx, flat) = SharedArtifacts.pqIntCodebook(s, dir,
        m = PqM, kCode = PqK, rounds = PqTrainRounds)
      graft.operators.IvfIndex.pqAssignInt(
          Tables.load(s, dir, "embeddings"), gmx, flat, m = PqM, kCode = PqK)
        .orderBy(col("vec_id"), col("m_sub"))
    },
    // q165 at the PRODUCTION codebook size (kCode = 32, the operating
    // tier ANN_RECALL.md's de-cloned curves recommend): the oracle
    // replays the 32-seed integer Lloyd bit-for-bit, so the gate
    // proves the codebook derivation that writeTrainedAdcIndex ships
    "q176_pq_train_int32" -> { (s, dir) =>
      val (gmx, flat) = SharedArtifacts.pqIntCodebook(s, dir,
        m = PqM, kCode = PqK32, rounds = PqTrainRounds)
      graft.operators.IvfIndex.pqAssignInt(
          Tables.load(s, dir, "embeddings"), gmx, flat, m = PqM,
          kCode = PqK32)
        .orderBy(col("vec_id"), col("m_sub"))
    },
    // JL ±1 random projection (Achlioptas 2003): 64 → 16 dims in one
    // narrow pass of 16 codegen'd dot products against md5-derived
    // sign literals — the downstream-byte-shrinking lever for every
    // distance-based stage; the oracle rebuilds the sign matrix and
    // every product from the same md5 parity
    "q128_jl_project" -> { (s, dir) =>
      Similarity.randomProject(Tables.load(s, dir, "embeddings"), outDim = 16)
        .select(col("vec_id"), col("out_dim").cast("long").as("out_dim"),
          round(col("p"), 4).as("p"))
        .orderBy(col("vec_id"), col("out_dim"))
    },
    // embedding-free kNN: cosine top-20 to doc 0 over the hashed
    // vectors — dots and norms are exact integers (entries are ±word
    // counts), so the ranking is bit-reproducible; only the final
    // division is floating point, in the shared round-4 currency
    "q125_hashed_knn" -> { (s, dir) =>
      graft.operators.TextVectors.hashedKnn(
        Tables.loadParallel(s, dir, "documents"), queryDocId = 0L,
        dim = 256, k = 20)
    },
    // SemDeDup-shaped semantic dedup over q35's planted fixture: every
    // original is joined by a jittered copy at id+10000, then the
    // operator clusters around 4 seed vectors (iters = 0, so the
    // oracle can replay the exact Voronoi geometry from the corpus)
    // and drops any vector with a smaller-id same-cluster neighbour at
    // cosine >= 0.95. Gated per-row: cluster id, keep/drop decision
    // AND the witness (`dup_of`), so a single misassigned vector or a
    // missed/phantom pair flips the hash. SimilaritySpec covers the
    // Lloyd-refined (iters > 0) geometry the oracle can't express.
    "q112_semantic_dedup" -> { (s, dir) =>
      import s.implicits._
      val emb = Tables.loadParallel(s, dir, "embeddings")
      val base = emb.select($"vec_id",
        transform($"embedding", x => x.cast("double")).as("embedding"))
      val planted = emb.select($"vec_id",
        transform($"embedding", x =>
          x.cast("double") +
            lit(0.005) * (lit(1L) + pmod($"vec_id", lit(3L))).cast("double"))
          .as("embedding"))
        .select(($"vec_id" + 10000L).as("vec_id"), $"embedding")
      Similarity.semanticDedup(base.unionAll(planted),
          seedIds = Seq(0L, 1L, 2L, 3L), threshold = 0.95, iters = 0)
        .select($"vec_id", $"cluster_id".cast("long").as("cluster_id"),
          $"kept", $"dup_of")
        .orderBy($"vec_id")
    },
    // q112 with the degenerate-cluster guard engaged: clusters larger
    // than total/4 members are EXCLUDED from pair mining (all their
    // members kept) — the declarative cap semantics that keep one
    // skewed centroid from making the within-cluster join quadratic.
    // The cap deliberately BITES on this fixture (two of the four
    // Voronoi cells exceed total/4 at every SF), so the gate pins both
    // arms: capped-out clusters all-kept, surviving clusters deduped
    // identically to q112. The count() that sizes the cap is one
    // batch-cheap job; at production scale the cap is a constant you
    // choose (~10⁵), not a computed fraction.
    "q177_semdedup_capped" -> { (s, dir) =>
      import s.implicits._
      val emb = Tables.loadParallel(s, dir, "embeddings")
      val base = emb.select($"vec_id",
        transform($"embedding", x => x.cast("double")).as("embedding"))
      val planted = emb.select($"vec_id",
        transform($"embedding", x =>
          x.cast("double") +
            lit(0.005) * (lit(1L) + pmod($"vec_id", lit(3L))).cast("double"))
          .as("embedding"))
        .select(($"vec_id" + 10000L).as("vec_id"), $"embedding")
      val u = base.unionAll(planted)
      Similarity.semanticDedup(u, seedIds = Seq(0L, 1L, 2L, 3L),
          threshold = 0.95, iters = 0, maxClusterN = Some(u.count() / 4))
        .select($"vec_id", $"cluster_id".cast("long").as("cluster_id"),
          $"kept", $"dup_of")
        .orderBy($"vec_id")
    },
    // SEMANTIC ingest dedup — the embedding-level member of the
    // incremental probe family (MinHash q77, norm-hash q175, CDC
    // q163, media q161): a planted batch of jittered copies (the q112
    // fixture, ids +10000) probes the STANDING seeded IVF-flat index
    // over the history. Assignment rides the stored centroids (k-row
    // pull), history is read only from the batch's lists (partition
    // filter), and the oracle replays both assignments, the same-cell
    // cosine pairs, the min witness and the per-vector dup count.
    "q178_semantic_ingest_dedup" -> { (s, dir) =>
      import s.implicits._
      val path = SharedArtifacts.ivfSeedIndexPath(s, dir, nLists = 4)
      graft.operators.IvfIndex.semanticDedupAgainstIndex(
          jitteredBatch(Tables.loadParallel(s, dir, "embeddings")), path,
          threshold = 0.95)
        .orderBy($"vec_id")
    },
    // q178 with the hot-cell guard engaged: index lists holding more
    // than history/4 vectors contribute NO pairs — their batch vectors
    // are reported fresh with hot = true (the maxClusterN/maxBandFreq
    // discipline applied to the ingest probe). The cap deliberately
    // BITES on the seed geometry (two of the four Voronoi cells exceed
    // history/4 at every SF — the same skew q177 exploits), so the
    // gate pins both arms: hot cells all fresh+flagged, cold cells
    // identical to q178. Hot directories never reach the payload scan
    // (partition pruning), so the capped probe's data read is bounded
    // by cap·touched at any history size.
    "q179_semantic_ingest_capped" -> { (s, dir) =>
      import s.implicits._
      val path = SharedArtifacts.ivfSeedIndexPath(s, dir, nLists = 4)
      // cap = history/4, where history is read off the STANDING index's
      // own meta stamp (one driver-side file read, no job): the cap is
      // a property of the index, and at 100 TB a per-batch corpus
      // count would be exactly the cost the index exists to avoid
      // (r18 verdict directive 6; the stamp equals the emb.count() the
      // old memo computed — the index holds the whole embeddings table)
      graft.operators.IvfIndex.semanticDedupAgainstIndex(
          jitteredBatch(Tables.loadParallel(s, dir, "embeddings")), path,
          threshold = 0.95,
          maxListN = Some(
            graft.operators.IvfIndex.indexedVectorCount(s, path) / 4))
        .orderBy($"vec_id")
    },
    // Standing-IVF LIFECYCLE: the index behind this probe was built at
    // the seed-0..3 geometry (q178's), then RETRAINED around vec_id
    // 4..7 and atomically flipped to v1 (SharedArtifacts does both
    // steps once per process) — the probe resolves the `_current`
    // pointer, so a hash match proves the retrain landed: the oracle
    // replays the NEW geometry (seeds 4..7), which assigns most
    // vectors differently from q178's.
    "q180_semantic_index_retrain" -> { (s, dir) =>
      import s.implicits._
      val path = SharedArtifacts.ivfVersionedIndexPath(s, dir)
      graft.operators.IvfIndex.semanticDedupAgainstIndex(
          jitteredBatch(Tables.loadParallel(s, dir, "embeddings")), path,
          threshold = 0.95)
        .orderBy($"vec_id")
    },
    // prototypicality pruning ("beyond neural scaling laws" shape):
    // rank every vector by cosine to its own cluster centroid and drop
    // the most-prototypical 10% of each cluster (the policy large-data
    // pruning uses: easy examples teach least). The keep rule is exact
    // integer arithmetic (rank*10 > n) so the gate is immune to float
    // formatting; the ranking itself rides on unrounded doubles in
    // both engines.
    "q113_prototype_filter" -> { (s, dir) =>
      import s.implicits._
      Similarity.prototypicality(Tables.load(s, dir, "embeddings"),
          seedIds = Seq(0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L), iters = 0)
        .withColumn("kept", $"proto_rank" * 10 > $"cluster_n")
        .select($"vec_id", $"cluster_id".cast("long").as("cluster_id"),
          $"proto_cos", $"proto_rank".cast("long").as("proto_rank"), $"kept")
        .orderBy($"vec_id")
    },

    // greedy k-center diverse selection: the oracle unrolls all k
    // rounds in SQL — each round's min-distance table, argmax and
    // tie-break replayed from the same double arithmetic — so the gate
    // pins the entire farthest-point-first trajectory, not just the
    // final set
    "q117_kcenter" -> { (s, dir) =>
      Similarity.kCenterSelect(Tables.loadParallel(s, dir, "embeddings"),
          k = KCenterK, startId = 0L)
        .orderBy(col("round"))
    },
    "q50_multimodal_meta" -> { (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "documents")
        .select($"doc_id", encode($"text", "utf-8").as("payload"), $"text")
        .select($"doc_id",
          length($"payload").cast("long").as("n_bytes"),
          pmod(length($"payload"), lit(256)).cast("long").as("fake_width"),
          ascii(substring($"text", 1, 1)).cast("long").as("fake_height"))
        .orderBy($"doc_id")
    },
    // GRFT container round-trip through the REAL binary-media operators:
    // pack each document's bytes into a container (1% corrupted to a
    // 3-byte stub), decodeHeader parses it back, and the oracle
    // recomputes every header field from the text — so the byte layout
    // (magic, u16 dims, u8 channels/kind, u32 length) is what's gated.
    "q51_multimodal_roundtrip" -> { (s, dir) =>
      import s.implicits._
      val packed = SharedArtifacts.mediaFixture(s, dir, "grft")
      graft.operators.Multimodal.decodeHeader(packed, "blob")
        .select($"doc_id", $"meta.width", $"meta.height", $"meta.channels",
          $"meta.kind", $"meta.payload_len", $"meta.valid")
        .orderBy($"doc_id")
    },
    // REAL image codec end-to-end: each document's (ASCII) bytes become
    // a genuine 1-row grayscale PGM image inside a kind=0 GRFT
    // container; graft_resize decodes the ACTUAL raster, resamples it
    // to 16×1 nearest-neighbour, re-encodes a valid PGM payload; and
    // graft_pixels decodes THAT and reports raster stats. The oracle
    // recomputes the sampled pixel values straight from the text
    // (pixel x of the resize = byte at 1 + floor(x·w/16)), so the whole
    // decode→resize→re-encode→decode chain is value-gated, not header-
    // gated. Every 97th doc is corrupted to prove undecodable media
    // degrades to nulls, never errors. (mean_pixel = checksum/16 is
    // exact in both engines: 1/16 is a terminating binary AND decimal
    // fraction, so round(·,4) is the identity.)
    // perceptual image hashing over REAL decoded rasters: the q80 PGM
    // fixture (text bytes as a 1-row grayscale image, every 97th doc
    // corrupted) hashed by graft_ahash — 8×8 nearest-neighbour grid,
    // strict integer mean compare, no float anywhere — so the oracle
    // recomputes all 64 bits from character arithmetic. Corrupted
    // media hashes to null, never errors.
    "q135_image_phash" -> { (s, dir) =>
      import s.implicits._
      graft.operators.Multimodal
        .imageAHash(SharedArtifacts.mediaFixture(s, dir, "pgm"), "blob")
        .select($"doc_id", $"ahash")
        .orderBy($"doc_id")
    },
    // image near-dup mining: the aHash signatures through the SAME
    // 4×16 banded equi-join as text SimHash (TextDedup.hammingPairs64)
    // — perceptually-identical/near images pair up with output ∝ band
    // collisions; the oracle recomputes hashes and the brute-force
    // hamming join (banding recall is 1 at maxHamming <= 3).
    // This UNCAPPED form is the oracle baseline (it proves the banded
    // join equals the exact hamming join); the production 100 TB
    // configuration is q141's hot-band-capped variant, mirroring the
    // q38 (uncapped) / q140 (capped) text SimHash pair.
    "q136_image_near_dup" -> { (s, dir) =>
      import s.implicits._
      val sigs = graft.operators.Multimodal
        .imageAHash(SharedArtifacts.mediaFixture(s, dir, "pgm"), "blob")
        .filter($"ahash".isNotNull)
        .select($"doc_id", $"ahash".as("simhash"))
      TextDedup.hammingPairs64(sigs, maxHamming = 3)
    },
    // the SKEW-SAFE configuration of the image miner — the q140
    // hot-band-cap discipline applied to q136's aHash signatures: k
    // near-identical thumbnails in a boilerplate-heavy image corpus
    // share band keys exactly like text SimHash, so the same per-key
    // cap bounds every band join group. The oracle states the capped
    // semantics DECLARATIVELY (brute-force hamming join, keep a pair
    // iff some equal band's key is non-hot); aHash's low entropy makes
    // the cap bite hard on this corpus — at sf0.01 it excludes 50 hot
    // keys per band (largest group 16) and shrinks q136's 1587 pairs
    // to 32 — so the gate proves a far-from-no-op configuration.
    "q141_image_near_dup_capped" -> { (s, dir) =>
      import s.implicits._
      val sigs = graft.operators.Multimodal
        .imageAHash(SharedArtifacts.mediaFixture(s, dir, "pgm"), "blob")
        .filter($"ahash".isNotNull)
        .select($"doc_id", $"ahash".as("simhash"))
      TextDedup.hammingPairs64(sigs, maxHamming = 3,
        maxBandFreq = Some(HammingBandCap))
    },
    // media dedup APPLIED: the q141 capped pairs feed the q75
    // pointer-jumping components and the smallest-id keep policy —
    // per image, its cluster and the keep verdict. The oracle chains
    // the q141 pair replay into the recursive closure, so one wrong
    // pair, label or verdict flips the hash
    "q155_image_dedup_apply" -> { (s, dir) =>
      import s.implicits._
      val sigs = graft.operators.Multimodal
        .imageAHash(SharedArtifacts.mediaFixture(s, dir, "pgm"), "blob")
        .filter($"ahash".isNotNull)
        .select($"doc_id", $"ahash".as("simhash"))
      dedupApply(sigs)
    },

    // AUDIO dedup applied end-to-end — the q141/q155 chain with the
    // envelope hash as the signature (afp's derivative signs never
    // band-collide on this corpus — measured zero pairs at any useful
    // radius — so mining rides the mean-compare hash, exactly as
    // image mining rides aHash rather than raw pixel diffs): capped
    // hamming pairs → pointer-jumping components → smallest-id keep
    // policy, one row per decodable audio doc. The oracle replays the
    // envelope bits from character arithmetic and chains the capped
    // pair replay into the recursive closure.
    "q158_audio_dedup_apply" -> { (s, dir) =>
      import s.implicits._
      val sigs = graft.operators.Multimodal
        .audioEnvHash(SharedArtifacts.mediaFixture(s, dir, "wav"), "blob")
        .filter($"aenv".isNotNull)
        .select($"doc_id", $"aenv".as("simhash"))
      dedupApply(sigs)
    },
    // VIDEO dedup applied end-to-end: q138's center-frame perceptual
    // hash through the IDENTICAL capped chain — proving the claim
    // that one apply chain serves every modality's 64-bit signature
    "q159_video_dedup_apply" -> { (s, dir) =>
      import s.implicits._
      val sigs = graft.operators.Multimodal
        .videoHash(SharedArtifacts.mediaFixture(s, dir, "avi"), "blob")
        .filter($"vhash".isNotNull)
        .select($"doc_id", $"vhash".as("simhash"))
      dedupApply(sigs)
    },

    // MEDIA dedup at INGEST time — the media analogue of q145/q151:
    // the standing aHash index (built on doc_id < 200, extended to 250
    // by the O(batch) append, so the gate covers build + append +
    // probe) is probed by the new batch (doc_id >= 250) through the
    // capped banded join — only the batch is ever hashed; the history
    // is READ from its 16-byte/doc index. The hot-band cap applies to
    // the INDEX side (the standing corpus is where boilerplate
    // accumulates). The oracle states the capped probe declaratively:
    // a hamming<=3 (batch, indexed) pair survives iff some equal band
    // has a non-hot INDEX key — at sf0.01 the cap shrinks 755 cross
    // pairs to 82, far from vacuous.
    "q161_media_ingest_dedup" -> { (s, dir) =>
      import s.implicits._
      val path = SharedArtifacts.hashIndexPath(s, dir,
        buildAt = 200L, splitAt = 250L)
      val batch = graft.operators.Multimodal
        .imageAHash(SharedArtifacts.mediaFixture(s, dir, "pgm"), "blob")
        .filter($"ahash".isNotNull && $"doc_id" >= 250)
        .select($"doc_id", $"ahash".as("simhash"))
      TextDedup.nearDupsAgainstHashIndex(batch, path, maxHamming = 3,
        maxBandFreq = Some(HammingBandCap))
    },

    "q80_image_codec" -> { (s, dir) =>
      import s.implicits._
      val packed = SharedArtifacts.mediaFixture(s, dir, "pgm")
      val resized = graft.operators.Multimodal.resize(packed, "blob", 16, 1)
      graft.operators.Multimodal.decodeImage(resized, "resized")
        .select($"doc_id", $"image.width", $"image.height", $"image.channels",
          $"image.n_pixels", $"image.pix_checksum",
          round($"image.mean_pixel", 4).as("mean_pixel"))
        .orderBy($"doc_id")
    },
    // SECOND real image codec end-to-end: the same decode→resize→
    // re-encode→decode pixel gate as q80, but through the 24-bit BI_RGB
    // BMP path (BITMAPFILEHEADER/BITMAPINFOHEADER, 4-byte row padding,
    // bottom-up BGR rows). Each document's (ASCII) bytes become a w×1
    // RGB bitmap with gray pixels (b,b,b); graft_resize decodes the
    // ACTUAL BMP raster, resamples to 16×1, re-encodes a valid BMP;
    // graft_pixels decodes THAT. The oracle recomputes the sampled
    // values straight from the text (each sampled byte counts 3× —
    // once per channel), so the whole BMP chain is value-gated.
    // (mean_pixel = checksum/48 = 3·S/48 = S/16 exactly — a
    // terminating binary and decimal fraction, so round(·,4) is the
    // identity in both engines, like q80.)
    "q85_bmp_codec" -> { (s, dir) =>
      import s.implicits._
      val packed = SharedArtifacts.mediaFixture(s, dir, "bmp")
      val resized = graft.operators.Multimodal.resize(packed, "blob", 16, 1)
      graft.operators.Multimodal.decodeImage(resized, "resized")
        .select($"doc_id", $"image.width", $"image.height", $"image.channels",
          $"image.n_pixels", $"image.pix_checksum",
          round($"image.mean_pixel", 4).as("mean_pixel"))
        .orderBy($"doc_id")
    },
    // THIRD real image codec end-to-end — PNG, the most common
    // real-world format, pure JVM (zlib Inflater/Deflater + CRC32 +
    // scanline filters): same decode→resize→re-encode→decode pixel
    // gate as q80/q85, with each document's PNG written using filter
    // type doc_id % 5 — so the gate proves the decoder's
    // reconstruction of ALL FIVE filter types (None/Sub/Up/Average/
    // Paeth), the zlib round-trip, and the CRC chunk walk, not just
    // the happy filter-0 path. The oracle recomputes the sampled
    // values straight from the text exactly like q80 (grayscale: each
    // sampled byte counts once; checksum/16 = mean exactly).
    "q106_png_codec" -> { (s, dir) =>
      import s.implicits._
      val packed = SharedArtifacts.mediaFixture(s, dir, "png")
      val resized = graft.operators.Multimodal.resize(packed, "blob", 16, 1)
      graft.operators.Multimodal.decodeImage(resized, "resized")
        .select($"doc_id", $"image.width", $"image.height", $"image.channels",
          $"image.n_pixels", $"image.pix_checksum",
          round($"image.mean_pixel", 4).as("mean_pixel"))
        .orderBy($"doc_id")
    },
    // FOURTH real image codec end-to-end — baseline JPEG, the one
    // remaining common real-world format, pure JVM (marker walk, DQT/
    // DHT, canonical Huffman entropy decode with byte unstuffing,
    // dequant + IDCT). JPEG is lossy, so the q80/q85/q106 fixture is
    // adapted to the structure where the format is EXACT: each of the
    // 16 sampled text bytes becomes a constant 8x8 block (DC =
    // 8·(v−128), integral; ACs exactly 0) encoded at quality 100
    // (all-ones quant tables) — so decode reproduces the input
    // bit-for-bit and the oracle can replay the chain from the text.
    // The resize step decodes the ACTUAL JPEG (16-block Huffman scan +
    // IDCT), NN-samples block corners, and re-encodes LOSSLESS (PNG —
    // lossy media decodes once, derived artifacts stay exact); every
    // 97th doc is corrupt to prove undecodable JPEG degrades to nulls.
    "q111_jpeg_codec" -> { (s, dir) =>
      import s.implicits._
      val packed = SharedArtifacts.mediaFixture(s, dir, "jpeg")
      val resized = graft.operators.Multimodal.resize(packed, "blob", 16, 1)
      graft.operators.Multimodal.decodeImage(resized, "resized")
        .select($"doc_id", $"image.width", $"image.height", $"image.channels",
          $"image.n_pixels", $"image.pix_checksum",
          round($"image.mean_pixel", 4).as("mean_pixel"))
        .orderBy($"doc_id")
    },
    // REAL audio codec end-to-end — the kind=1 counterpart of q80/q85:
    // each document's (ASCII) bytes become centered 16-bit PCM samples
    // ((b-128)·256) inside a genuine mono RIFF/WAVE payload;
    // graft_resize decodes the ACTUAL wave, resamples to 16 frames
    // nearest-neighbour (frame x = source frame floor(x·n/16)),
    // re-encodes a valid WAV; and graft_samples decodes THAT. The
    // oracle recomputes every sampled value straight from the text, so
    // the decode→resample→re-encode→decode chain is value-gated like
    // the image paths. Every 97th doc is corrupted to prove
    // undecodable audio degrades to nulls, never errors.
    // (mean_sample = checksum/16 where checksum = 256·(S−2048) — an
    // exact integer in both engines, so round(·,4) is the identity.)
    // audio fingerprinting over REAL decoded PCM: the q88 WAV fixture
    // hashed by graft_afp — 65 nearest-neighbour sample points, bit =
    // strictly-rising derivative sign, integer-exact — so the oracle
    // recomputes all 64 bits from character comparisons (the fixture's
    // (byte−128)·256 sample map is order-preserving). Corrupt media →
    // null, never errors.
    "q137_audio_fingerprint" -> { (s, dir) =>
      import s.implicits._
      val packed = SharedArtifacts.mediaFixture(s, dir, "wav")
      graft.operators.Multimodal.audioFingerprint(packed, "blob")
        .select($"doc_id", $"afp")
        .orderBy($"doc_id")
    },
    "q88_wav_codec" -> { (s, dir) =>
      import s.implicits._
      val packed = SharedArtifacts.mediaFixture(s, dir, "wav")
      val resampled = graft.operators.Multimodal.resize(packed, "blob", 16, 1)
      graft.operators.Multimodal.decodeAudio(resampled, "resized")
        .select($"doc_id", $"audio.sample_rate", $"audio.channels",
          $"audio.n_frames", $"audio.sample_checksum",
          round($"audio.mean_sample", 4).as("mean_sample"), $"audio.peak")
        .orderBy($"doc_id")
    },
    // REAL video codec end-to-end — the kind=2 counterpart of
    // q80/q85/q88, exercising the full RIFF+DIB machinery: each
    // document's (ASCII) bytes become a 4-frame n×1 RGB AVI where
    // frame f's pixel x is the gray byte at (x+f) mod n (so every
    // frame is a distinct rotation of the text and the per-frame
    // decode order matters); graft_resize decodes EVERY actual frame,
    // spatially resamples each to 16×1 nearest-neighbour (pixel x =
    // source pixel floor(x·n/16), frame count and rate preserved),
    // re-encodes a valid AVI; and graft_video decodes THAT and sums
    // over all 4 decoded frames. The oracle recomputes every sampled
    // value straight from the text, so the whole
    // encode→decode→resize→re-encode→decode chain is value-gated.
    // Every 97th doc is corrupted to prove undecodable video degrades
    // to nulls, never errors. (mean_pixel = checksum/192 = 3S/192 =
    // S/64 — exactly representable and ≤ 6 decimal digits, so
    // round(·,6) is the identity in both engines.)
    "q90_avi_codec" -> { (s, dir) =>
      import s.implicits._
      val packed = SharedArtifacts.mediaFixture(s, dir, "avi")
      val resized = graft.operators.Multimodal.resize(packed, "blob", 16, 1)
      graft.operators.Multimodal.decodeVideo(resized, "resized")
        .select($"doc_id", $"video.width", $"video.height", $"video.channels",
          $"video.n_frames", $"video.pix_checksum",
          round($"video.mean_pixel", 6).as("mean_pixel"))
        .orderBy($"doc_id")
    },
    // video perceptual hash: the q90 AVI fixture's CENTER frame
    // (nFrames/2 = 2) through the image aHash grid over the real
    // decoded RGB raster — channel-sum brightness, strict integer
    // mean compare — so the oracle recomputes all 64 bits from the
    // frame-2 byte rotation (x+2 mod n) in character arithmetic
    "q138_video_hash" -> { (s, dir) =>
      import s.implicits._
      val packed = SharedArtifacts.mediaFixture(s, dir, "avi")
      graft.operators.Multimodal.videoHash(packed, "blob")
        .select($"doc_id", $"vhash")
        .orderBy($"doc_id")
    },

    // winnowing fingerprints (MOSS): positions AND hashes of every
    // selected k-gram, annotated with cross-doc share counts — the
    // oracle replays each window's rightmost-min selection from the
    // same md5 prefixes, so the gate pins the whole sketch, not a
    // summary of it
    // content-defined chunking (gear/Rabin family core): every doc
    // tiled into variable-size word chunks cut where the 48-bit gram
    // hash ≡ 0 mod 32, annotated with cross-doc share counts — the
    // sub-document / storage dedup primitive (fixed chunking loses
    // alignment after any edit; CDC boundaries realign within w
    // words). The oracle replays every cut decision hash-for-hash and
    // every chunk hash, so one moved boundary anywhere flips the gate
    "q162_cdc_chunks" -> { (s, dir) =>
      import s.implicits._
      TextDedup.cdcChunkStats(Tables.loadParallel(s, dir, "documents"),
          w = CdcW, d = CdcD)
        .orderBy($"doc_id", $"chunk_idx")
    },
    // sub-document dedup at INGEST time — the chunk-granular q151/q161:
    // the new batch (doc_id >= 250) is CDC-chunked and probes the
    // standing chunk-hash index of the history (built on doc_id < 200,
    // extended to 250 by the O(batch) append, so the gate covers
    // build + append + probe). Only the batch is ever chunked; the
    // history is READ from its 3-column index, and the per-hash count
    // aggregate is map-side combined. n_index_docs = 0 marks the
    // chunks that are genuinely new content.
    "q163_cdc_ingest_probe" -> { (s, dir) =>
      import s.implicits._
      val path = SharedArtifacts.cdcChunkIndexPath(s, dir,
        buildAt = 200L, splitAt = 250L, w = CdcW, d = CdcD)
      TextDedup.cdcProbeAgainstChunkIndex(
          Tables.loadParallel(s, dir, "documents").filter($"doc_id" >= 250),
          path, w = CdcW, d = CdcD)
        .orderBy($"doc_id", $"chunk_idx")
    },
    // the APPLY side of q162 (keep-first at chunk granularity —
    // Lee et al.'s policy applied to CDC chunks): every chunk whose
    // hash occurred at a smaller (doc_id, chunk_idx) is removed, and
    // each doc's surviving chunks merge into maximal kept word
    // intervals — the rewrite manifest sub-document storage dedup
    // consumes. Ownership is one aggregate (never a window over a hot
    // hash); the oracle replays cuts, hashes, first-occurrence
    // selection and the island merge end-to-end.
    "q164_cdc_keep_manifest" -> { (s, dir) =>
      import s.implicits._
      TextDedup.cdcKeepFirstManifest(Tables.loadParallel(s, dir, "documents"),
          w = CdcW, d = CdcD)
        .orderBy($"doc_id", $"span_idx")
    },
    // the REWRITE consuming q164's manifest: the chunk-deduplicated
    // corpus itself — each doc re-emitted as its kept chunk spans'
    // words in order (one copy of every distinct chunk survives
    // corpus-wide); the oracle rebuilds every clean text by joining
    // kept word positions and re-agreeing the words.
    "q172_cdc_rewrite" -> { (s, dir) =>
      TextDedup.cdcRewrite(Tables.loadParallel(s, dir, "documents"),
        w = CdcW, d = CdcD)
    },
    // CDC at BYTE granularity (graft_cdc_bytes): the gear window
    // slides per byte, so BINARY columns — media blobs, packed
    // records — dedup at sub-file granularity with no word-boundary
    // assumption. Gated over the corpus text's raw bytes (pure-ASCII
    // fixture, so the oracle replays every windowed md5 cut, chunk
    // hash and share count with substr arithmetic); TextDedupSpec
    // proves the same operator on real GRFT containers (shared
    // payload regions share chunk hashes across different headers).
    "q167_cdc_byte_chunks" -> { (s, dir) =>
      import s.implicits._
      TextDedup.cdcByteChunkStats(
          Tables.loadParallel(s, dir, "documents")
            .select($"doc_id", $"text".cast("binary").as("b")),
          "b", w = CdcByteW, d = CdcByteD)
        .orderBy($"doc_id", $"chunk_idx")
    },
    // byte-CDC APPLY: the q164 keep-first discipline at byte
    // granularity — first occurrence of each byte-chunk hash owns it,
    // surviving chunks merge into maximal kept byte intervals
    "q173_cdc_byte_manifest" -> { (s, dir) =>
      import s.implicits._
      TextDedup.cdcByteKeepFirstManifest(
          Tables.loadParallel(s, dir, "documents")
            .select($"doc_id", $"text".cast("binary").as("b")),
          "b", w = CdcByteW, d = CdcByteD)
        .orderBy($"doc_id", $"span_idx")
    },
    // byte-CDC REWRITE: each blob re-emitted as its kept byte ranges
    // concatenated (the storage-dedup compaction for binary columns),
    // gated by the rewritten blob's md5 + byte length
    "q174_cdc_byte_rewrite" -> { (s, dir) =>
      import s.implicits._
      TextDedup.cdcByteRewrite(
          Tables.loadParallel(s, dir, "documents")
            .select($"doc_id", $"text".cast("binary").as("b")),
          "b", w = CdcByteW, d = CdcByteD)
    },

    "q114_winnowing" -> { (s, dir) =>
      import s.implicits._
      TextDedup.winnowMatchStats(Tables.loadParallel(s, dir, "documents"),
          k = WinnowK, w = WinnowW)
        .orderBy($"doc_id", $"pos")
    }
  )

  // winnowing parameters: guarantee = any shared run of k+w-1 = 8
  // words between two docs shares a fingerprint; sketch density
  // ~2/(w+1) = a third of the gram count
  // the q112 jitter fixture as an ingest batch (shared by
  // q178/q179/q180 and their oracles — one definition so the three
  // replays can never desynchronize): every history vector re-arrives
  // with ids +10000 and a deterministic +0.005·(1 + vec_id % 3) shift
  private def jitteredBatch(emb: org.apache.spark.sql.DataFrame)
  : org.apache.spark.sql.DataFrame =
    emb.select(col("vec_id"),
        transform(col("embedding"), x =>
          x.cast("double") +
            lit(0.005) * (lit(1L) + pmod(col("vec_id"), lit(3L))).cast("double"))
          .as("embedding"))
      .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))

  private val WinnowK = 4
  private val WinnowW = 5

  // CDC parameters: 4-word gram window, expected chunk ~16 words —
  // small enough that the sf0.01 docs produce several chunks each
  private val CdcW = 4
  private val CdcD = 16
  // byte-gear CDC shape (q167): 16-byte gear window, ~64-byte chunks
  private val CdcByteW = 16
  private val CdcByteD = 64

  /** Shared CDC chunk replay for the q162/q163/q164 oracles: the
    * WITH-chain ending in `ch(doc_id, chunk_idx, fw, tw, chunk_hash)`
    * — every cut decision from the same 48-bit md5 prefixes, chunk
    * intervals, chunk hashes.
    */
  private lazy val cdcChunkCtes: String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |g AS (SELECT doc_id, ws, len(ws) AS n FROM w),
       |cuts AS (SELECT doc_id, ws, n,
       |    list_filter(range($CdcW - 1, n - 1), i ->
       |      CAST(('0x' || substr(md5(array_to_string(
       |        list_slice(ws, i - $CdcW + 2, i + 1), ' ')), 1, 12))
       |        AS BIGINT) % $CdcD = 0) AS cs
       |  FROM g),
       |e AS (SELECT doc_id, ws, n, list_concat(cs, [n - 1]) AS ends FROM cuts),
       |seg AS (SELECT doc_id, ws, ends,
       |    unnest(range(0, len(ends))) AS chunk_idx
       |  FROM e),
       |c AS (SELECT doc_id, ws, chunk_idx,
       |    CASE WHEN chunk_idx = 0 THEN 0 ELSE ends[CAST(chunk_idx AS INT)] + 1
       |    END AS fw,
       |    ends[CAST(chunk_idx AS INT) + 1] AS tw
       |  FROM seg),
       |ch AS (SELECT doc_id, chunk_idx, fw, tw,
       |    md5(array_to_string(list_slice(ws, CAST(fw AS INT) + 1,
       |      CAST(tw AS INT) + 1), ' ')) AS chunk_hash
       |  FROM c)""".stripMargin

  // byte-gear CDC replay over the pure-ASCII corpus bytes, shared by
  // q167 (chunks + share counts), q173 (keep-first byte manifest) and
  // q174 (byte rewrite); ends at ch = (doc_id, chunk_idx, fb, tb,
  // chunk_hash) with t = (doc_id, text, n) still in scope
  private lazy val cdcByteCtes: String =
    s"""WITH t AS (SELECT doc_id, text, octet_length(encode(text)) AS n
       |           FROM documents
       |           WHERE octet_length(encode(text)) >= 1),
       |cuts AS (SELECT doc_id, text, n,
       |    list_filter(range(${CdcByteW - 1}, n - 1), i ->
       |      CAST(('0x' || substr(md5(substr(text,
       |        CAST(i AS INT) - ${CdcByteW - 2}, $CdcByteW)), 1, 12))
       |        AS BIGINT) % $CdcByteD = 0) AS cs
       |  FROM t),
       |e AS (SELECT doc_id, text, n, list_concat(cs, [n - 1]) AS ends
       |      FROM cuts),
       |seg AS (SELECT doc_id, text, ends,
       |    unnest(range(0, len(ends))) AS chunk_idx
       |  FROM e),
       |c AS (SELECT doc_id, text, chunk_idx,
       |    CASE WHEN chunk_idx = 0 THEN 0 ELSE ends[CAST(chunk_idx AS INT)] + 1
       |    END AS fb,
       |    ends[CAST(chunk_idx AS INT) + 1] AS tb
       |  FROM seg),
       |ch AS (SELECT doc_id, chunk_idx, fb, tb,
       |    md5(substr(text, CAST(fb AS INT) + 1,
       |      CAST(tb - fb + 1 AS INT))) AS chunk_hash
       |  FROM c)""".stripMargin

  private val KCenterK = 8

  // q140's hot-band cap: chosen to BITE on this corpus — at sf0.01
  // the cap both excludes dozens of hot band keys (largest group: 28
  // members) AND drops 2 of q38's 12 pairs (their only equal bands
  // are hot), so the gate proves the capped universe's pair set
  // shifts exactly as designed, not a no-op configuration
  private final val HammingBandCap = 2L

  /** The modality-agnostic capped dedup APPLY chain (q155 image, q158
    * audio, q159 video): capped-banded hamming pairs → pointer-jumping
    * components → smallest-id keep policy, one row per hashed doc.
    * `sigs` must be `(doc_id, simhash)` from any 64-bit perceptual
    * signature — one chain serves every modality, which is the point.
    */
  private def dedupApply(sigs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // cache the (doc_id, simhash) signatures: the frame feeds both the
    // pair miner and the final per-doc join, and its lineage is a full
    // media decode+hash pass — uncached, that decode ran twice per
    // query. Narrow rows (16 bytes/doc), released by the caller via
    // graft.Tables.releaseOperatorCaches like every operator cache.
    val s = graft.Tables.trackOperatorCache(sigs.cache())
    val pairs = TextDedup.hammingPairs64(s, maxHamming = 3,
        maxBandFreq = Some(HammingBandCap))
      .select(col("doc_a"), col("doc_b"))
    val labels = graft.operators.Components.dupClusters(pairs)
    s.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"),
        (coalesce(col("component"), col("doc_id")) === col("doc_id")).as("kept"))
      .orderBy(col("doc_id"))
  }

  /** The q141 oracle's CTE chain (aHash replay, band keys, hot keys),
    * shared verbatim with the q155 closure replay. `WITH RECURSIVE` so
    * a consumer may append recursive CTEs.
    */
  private lazy val imageCappedCtes: String = {
    val bands = (0 until 4)
      .map(j => s"CAST((ahash >> ${j * 16}) & 65535 AS BIGINT) AS k$j")
      .mkString(",\n        ")
    val hots = (0 until 4)
      .map(j => s"h$j AS (SELECT k$j AS kv FROM k GROUP BY 1 " +
        s"HAVING count(*) > $HammingBandCap)")
      .mkString(",\n")
    s"""WITH RECURSIVE t AS (SELECT doc_id, text, octet_length(encode(text)) AS w
       |           FROM documents),
       |g AS (SELECT doc_id,
       |        list_transform(range(0, 8), c ->
       |          CAST(ascii(substr(text, CAST((c * w) // 8 AS INT) + 1, 1))
       |            AS BIGINT)) AS cs
       |      FROM t WHERE doc_id % 97 <> 0 AND w >= 1),
       |h AS (SELECT doc_id,
       |        CAST(list_aggregate(list_transform(range(0, 64), j ->
       |          CASE WHEN 64 * cs[CAST(j % 8 AS INT) + 1]
       |                    > 8 * list_aggregate(cs, 'sum') THEN
       |            CASE WHEN j = 63 THEN CAST('-9223372036854775808' AS HUGEINT)
       |                 ELSE CAST(CAST(1 AS BIGINT) << CAST(j AS INT) AS HUGEINT)
       |            END
       |          ELSE CAST(0 AS HUGEINT) END), 'sum') AS BIGINT) AS ahash
       |      FROM g),
       |k AS (SELECT doc_id, ahash,
       |        $bands
       |      FROM h),
       |$hots""".stripMargin
  }

  /** The q141 oracle's capped pair SELECT over [[imageCappedCtes]]. */
  private lazy val imageCappedPairSelect: String = {
    val keep = (0 until 4)
      .map(j => s"(a.k$j = b.k$j AND a.k$j NOT IN (SELECT kv FROM h$j))")
      .mkString("\n     OR ")
    s"""SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.ahash, b.ahash)) AS INT) AS hamming
       |FROM k a JOIN k b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.ahash, b.ahash)) <= 3
       |  AND ($keep)""".stripMargin
  }

  /** 64-bit-builder SQL shared by the audio/video signature replays:
    * sums the per-bit HUGEINT contributions of `bitCond(j)` (bit 63 is
    * the sign bit of the signed BIGINT both engines store).
    */
  private def sigBits64(bitCond: String): String =
    s"""CAST(list_aggregate(list_transform(range(0, 64), j ->
       |          CASE WHEN $bitCond THEN
       |            CASE WHEN j = 63 THEN CAST('-9223372036854775808' AS HUGEINT)
       |                 ELSE CAST(CAST(1 AS BIGINT) << CAST(j AS INT) AS HUGEINT)
       |            END
       |          ELSE CAST(0 AS HUGEINT) END), 'sum') AS BIGINT)""".stripMargin

  /** The generic capped dedup-apply oracle (the q155 chain over ANY
    * 64-bit signature): takes `hashCtes` — a `WITH RECURSIVE` prefix
    * ending in `h(doc_id, sig)` — and appends the 4×16 band keys, the
    * hot-key exclusion at [[HammingBandCap]], the capped pair select,
    * the recursive closure, and the keep verdict. Mirrors
    * [[imageCappedCtes]]/[[imageCappedPairSelect]] with the column
    * name generalized; the image oracles keep their original text.
    */
  private def sigDedupApplySql(hashCtes: String): String = {
    val bands = (0 until 4)
      .map(j => s"CAST((sig >> ${j * 16}) & 65535 AS BIGINT) AS k$j")
      .mkString(",\n        ")
    val hots = (0 until 4)
      .map(j => s"h$j AS (SELECT k$j AS kv FROM k GROUP BY 1 " +
        s"HAVING count(*) > $HammingBandCap)")
      .mkString(",\n")
    val keep = (0 until 4)
      .map(j => s"(a.k$j = b.k$j AND a.k$j NOT IN (SELECT kv FROM h$j))")
      .mkString("\n     OR ")
    s"""$hashCtes,
       |k AS (SELECT doc_id, sig,
       |        $bands
       |      FROM h),
       |$hots,
       |dup AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM k a JOIN k b ON a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.sig, b.sig)) <= 3
       |    AND ($keep)),
       |e AS (SELECT doc_a AS a, doc_b AS b FROM dup
       |      UNION SELECT doc_b, doc_a FROM dup),
       |reach(a, b) AS (SELECT a, a FROM e
       |                UNION
       |                SELECT e.a, r.b FROM e JOIN reach r ON e.b = r.a),
       |labels AS (SELECT a AS doc_id, min(b) AS component FROM reach
       |           GROUP BY 1)
       |SELECT h.doc_id,
       |  CAST(coalesce(l.component, h.doc_id) AS BIGINT) AS component,
       |  (coalesce(l.component, h.doc_id) = h.doc_id) AS kept
       |FROM h LEFT JOIN labels l USING (doc_id)
       |ORDER BY h.doc_id""".stripMargin
  }

  /** Envelope-hash replay for the q158 oracle: the WAV fixture's
    * sample map is `(byte − 128)·256` at points `c·n/8` (channel 0,
    * nearest-neighbour), bit j set iff `64·s(j%8) > 8·Σs` — character
    * arithmetic end-to-end (corrupted every-97th docs hash to null
    * and drop out of `h`, like the image chain).
    */
  private lazy val audioEnvCtes: String =
    s"""WITH RECURSIVE t AS (SELECT doc_id, text, octet_length(encode(text)) AS n
       |           FROM documents),
       |g AS (SELECT doc_id,
       |        list_transform(range(0, 64), c ->
       |          (CAST(ascii(substr(text, CAST((c * n) // 64 AS INT) + 1, 1))
       |            AS BIGINT) - 128) * 256) AS cs
       |      FROM t WHERE doc_id % 97 <> 0 AND n >= 1),
       |h AS (SELECT doc_id,
       |        ${sigBits64("64 * cs[CAST(j AS INT) + 1] > list_aggregate(cs, 'sum')")} AS sig
       |      FROM g)""".stripMargin

  /** Center-frame video-hash replay for the q159 oracle — the q138
    * derivation (frame-2 byte rotation, 3× channel-replicated
    * brightness, mean compare) emitting `sig`.
    */
  private lazy val videoHashCtes: String =
    s"""WITH RECURSIVE t AS (SELECT doc_id, text, octet_length(encode(text)) AS n
       |           FROM documents),
       |g AS (SELECT doc_id,
       |        list_transform(range(0, 8), c ->
       |          3 * CAST(ascii(substr(text,
       |            ((CAST((c * n) // 8 AS INT) + 2) % n) + 1, 1)) AS BIGINT))
       |          AS cs
       |      FROM t WHERE doc_id % 97 <> 0 AND n >= 1),
       |h AS (SELECT doc_id,
       |        ${sigBits64("64 * cs[CAST(j % 8 AS INT) + 1] > 8 * list_aggregate(cs, 'sum')")} AS sig
       |      FROM g)""".stripMargin

  // rotation rounds for q133's rotated PQ
  private final val RotRounds = 16

  // PQ shape: 64 dims = 8 subspaces x 8 dims, 16-entry seed codebooks
  // (constants inlined into the generated oracle SQL — `final` for the
  // same initialization-order reason as Corpus.PageRankIters)
  private final val PqM = 8
  private final val PqK = 16
  private final val PqSub = 8
  // integer-Lloyd rounds for the q165 trained-codebook gate
  private final val PqTrainRounds = 2
  // production codebook size for the q176 gate (ANN_RECALL.md: 16
  // entries underfit the de-cloned tier; 32+ is where trained
  // codebooks start recovering usable recall)
  private final val PqK32 = 32

  /** The q165/q176 oracle, parameterized by PQ shape: gmx + global
    * int8 grid from the raw embeddings, per-subspace seed codebooks
    * (vec_id < k), `rounds` unrolled (d2, kk)-argmin assignment +
    * floor-divided update rounds, final per-(vector, subspace) code
    * and exact integer d2.
    */
  private def pqTrainIntOracle(m: Int, k: Int, sub: Int,
                               trainRounds: Int): String = {
    val rounds = (1 to trainRounds).map { r =>
      val prevC = s"c${r - 1}"
      s"""d$r AS (SELECT p.vec_id, p.ms, c.kk,
         |    list_dot_product(p.qs, p.qs) - 2 * list_dot_product(p.qs, c.cq)
         |      + list_dot_product(c.cq, c.cq) AS d2
         |  FROM p JOIN $prevC c USING (ms)),
         |a$r AS (SELECT vec_id, ms, kk FROM (
         |    SELECT vec_id, ms, kk,
         |      row_number() OVER (PARTITION BY vec_id, ms
         |                         ORDER BY d2, kk) AS rn
         |    FROM d$r) WHERE rn = 1),
         |x$r AS (SELECT a.ms, a.kk, unnest(p.qs) AS x,
         |         unnest(range(1, len(p.qs) + 1)) AS dd
         |  FROM a$r a JOIN p USING (vec_id, ms)),
         |s$r AS (SELECT ms, kk, dd, sum(x) AS s, count(*) AS n FROM x$r
         |       GROUP BY 1, 2, 3),
         |c$r AS (SELECT ms, kk, list(CAST(floor(s / n) AS DOUBLE)
         |                            ORDER BY dd) AS cq
         |    FROM s$r GROUP BY 1, 2
         |  UNION ALL SELECT pc.ms, pc.kk, pc.cq FROM $prevC pc
         |    WHERE NOT EXISTS (SELECT 1 FROM s$r z
         |                      WHERE z.ms = pc.ms AND z.kk = pc.kk))"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |gm AS (SELECT max(list_aggregate(list_transform(v, x -> abs(x)),
       |                                 'max')) AS gmx FROM e),
       |qz AS (SELECT vec_id, list_transform(v,
       |    x -> CAST(CAST(floor(x / (gmx / 127.0) + 0.5) AS BIGINT)
       |              AS DOUBLE)) AS q
       |  FROM e, gm),
       |sb AS (SELECT unnest(range(0, $m)) AS ms),
       |p AS (SELECT vec_id, ms,
       |    list_slice(q, CAST(ms * $sub + 1 AS INT),
       |      CAST(ms * $sub + $sub AS INT)) AS qs
       |  FROM qz CROSS JOIN sb),
       |c0 AS (SELECT ms, CAST(vec_id AS INT) AS kk, qs AS cq FROM p
       |       WHERE vec_id < $k),
       |$rounds,
       |df AS (SELECT p.vec_id, p.ms, c.kk,
       |    list_dot_product(p.qs, p.qs) - 2 * list_dot_product(p.qs, c.cq)
       |      + list_dot_product(c.cq, c.cq) AS d2
       |  FROM p JOIN c$trainRounds c USING (ms))
       |SELECT vec_id, CAST(ms AS BIGINT) AS m_sub,
       |  CAST(kk AS BIGINT) AS code, CAST(d2 AS BIGINT) AS d2
       |FROM (SELECT vec_id, ms, kk, d2,
       |    row_number() OVER (PARTITION BY vec_id, ms
       |                       ORDER BY d2, kk) AS rn
       |  FROM df) WHERE rn = 1
       |ORDER BY vec_id, m_sub""".stripMargin
  }

  // ---- oracle SQL (generated from the same definitions the operators use) ----

  private def duckStopScore(markers: Seq[String]): String =
    markers.map(m => s"len(list_filter(w, x -> x = '$m'))").mkString(" + ")

  private val jaccardTail =
    """sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
      |j AS (SELECT da, db, common * 1.0 / (sa.n + sb.n - common) AS jac
      |      FROM pairs JOIN sizes sa ON da = sa.doc_id
      |                 JOIN sizes sb ON db = sb.doc_id)
      |SELECT da AS doc_a, db AS doc_b, round(jac, 4) AS jaccard
      |FROM j WHERE jac >= 0.5 ORDER BY 1, 2""".stripMargin

  /** Shared CTE prefix computing `s(doc_id, simhash)` — the exact
    * md5-hex-digit SimHash the Spark operator computes, reused by the
    * q23 (signatures) and q34 (pair-mining) oracles.
    */
  private val simhashCore: String = {
    val bitSums = (0 until 16).map { j =>
      val p = j / 4 + 1
      val ones = "0123456789abcdef"
        .filter(c => (Integer.parseInt(c.toString, 16) >> (j % 4) & 1) == 1)
        .map(c => s"'$c'").mkString(", ")
      s"sum(CASE WHEN substr(h, $p, 1) IN ($ones) THEN 1 ELSE -1 END) AS b$j"
    }.mkString(",\n    ")
    val hashExpr = (0 until 16)
      .map(j => s"(CASE WHEN b$j > 0 THEN ${1 << j} ELSE 0 END)").mkString(" + ")
    s"""WITH wd AS (SELECT doc_id, unnest(string_split(text, ' ')) AS wd FROM documents),
       |h AS (SELECT doc_id, md5(wd) AS h FROM wd),
       |b AS (SELECT doc_id,
       |    $bitSums
       |  FROM h GROUP BY 1),
       |s AS (SELECT doc_id, CAST($hashExpr AS INT) AS simhash FROM b)""".stripMargin
  }

  private val simhashSql: String =
    s"""$simhashCore
       |SELECT doc_id, simhash FROM s ORDER BY doc_id""".stripMargin

  private val simhashPairsSql: String =
    s"""$simhashCore
       |SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.simhash, b2.simhash)) AS INT) AS hamming
       |FROM s a JOIN s b2 ON a.doc_id < b2.doc_id
       |WHERE bit_count(xor(a.simhash, b2.simhash)) <= 3
       |ORDER BY 1, 2""".stripMargin

  /** CTE prefix computing `s(doc_id, simhash)` for the 64-bit SimHash:
    * bit j of a word's hash is bit j%4 of hex digit 16 - j/4 of
    * md5(word) — exactly the bits of the signed big-endian value the
    * Spark operator builds with `conv(substr(md5(wd), 1, 16), 16, -10)`.
    */
  private val simhash64Core: String = {
    val bitSums = (0 until 64).map { j =>
      val p = 16 - j / 4 // 1-indexed hex digit holding bit j (big-endian)
      val ones = "0123456789abcdef"
        .filter(c => (Integer.parseInt(c.toString, 16) >> (j % 4) & 1) == 1)
        .map(c => s"'$c'").mkString(", ")
      s"sum(CASE WHEN substr(h, $p, 1) IN ($ones) THEN 1 ELSE -1 END) AS b$j"
    }.mkString(",\n    ")
    val hashExpr = (0 until 64).map { j =>
      // 2^63 as a signed 64-bit value is Long.MinValue; DuckDB rejects
      // the bare literal, so spell it arithmetically
      val weight = if (j == 63) "(-9223372036854775807 - 1)" else (1L << j).toString
      s"(CASE WHEN b$j > 0 THEN $weight ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH wd AS (SELECT doc_id, unnest(string_split(text, ' ')) AS wd FROM documents),
       |h AS (SELECT doc_id, substr(md5(wd), 1, 16) AS h FROM wd),
       |b AS (SELECT doc_id,
       |    $bitSums
       |  FROM h GROUP BY 1),
       |s AS (SELECT doc_id, CAST($hashExpr AS BIGINT) AS simhash FROM b)""".stripMargin
  }

  private val simhash64PairsSql: String =
    s"""$simhash64Core
       |SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.simhash, b2.simhash)) AS INT) AS hamming
       |FROM s a JOIN s b2 ON a.doc_id < b2.doc_id
       |WHERE bit_count(xor(a.simhash, b2.simhash)) <= 3
       |ORDER BY 1, 2""".stripMargin

  // q140: the capped miner's semantics, stated independently of the
  // banded plan — brute-force hamming join, pair kept iff at least one
  // EQUAL band has a key shared by <= cap docs. (`>>` is arithmetic in
  // DuckDB but the & 65535 mask extracts the same 16 bits as Spark's
  // shiftrightunsigned for every band position.)
  private val simhash64CappedPairsSql: String = {
    val bands = (0 until 4)
      .map(j => s"CAST((simhash >> ${j * 16}) & 65535 AS BIGINT) AS k$j")
      .mkString(",\n        ")
    val hots = (0 until 4)
      .map(j => s"h$j AS (SELECT k$j AS kv FROM k GROUP BY 1 " +
        s"HAVING count(*) > $HammingBandCap)")
      .mkString(",\n")
    val keep = (0 until 4)
      .map(j => s"(a.k$j = b.k$j AND a.k$j NOT IN (SELECT kv FROM h$j))")
      .mkString("\n     OR ")
    s"""$simhash64Core,
       |k AS (SELECT doc_id, simhash,
       |        $bands
       |      FROM s),
       |$hots
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
       |FROM k a JOIN k b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
       |  AND ($keep)
       |ORDER BY 1, 2""".stripMargin
  }

  private val langidSql: String = {
    val scores = TextAnalysis.langProfiles.map { case (l, ms) =>
      s"${duckStopScore(ms)} AS score_$l"
    }.mkString(",\n    ")
    val gm = TextAnalysis.langProfiles.map { case (l, _) => s"score_$l" }.mkString(", ")
    val cases = TextAnalysis.langProfiles.map { case (l, _) =>
      s"WHEN score_$l = greatest($gm) THEN '$l'"
    }.mkString("\n    ")
    s"""WITH s AS (SELECT doc_id, lang,
       |    $scores
       |  FROM (SELECT doc_id, lang, string_split(text, ' ') w FROM documents)),
       |g AS (SELECT lang,
       |  CASE WHEN greatest($gm) <= 0 THEN 'und'
       |    $cases
       |    ELSE 'und' END AS guess
       |  FROM s)
       |SELECT lang, guess, CAST(count(*) AS BIGINT) AS n
       |FROM g GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  // mirrors TextAnalysis.langIdCharNgram: per-language score = sum of
  // non-overlapping substring-occurrence counts over its gram set
  // (`replace` counting — same left-to-right semantics both engines),
  // one projection, no per-position unnest
  private val langidNgramSql: String = {
    val langs = TextAnalysis.charTrigramProfiles.map(_._1)
    val scoreCols = TextAnalysis.charTrigramProfiles.map { case (l, gs) =>
      gs.map { g0 =>
        val g = g0.replace("'", "''")
        s"(length(t) - length(replace(t, '$g', ''))) // 3"
      }.mkString("(", " + ", s") AS score_$l")
    }.mkString(",\n    ")
    val gm = langs.map(l => s"score_$l").mkString(", ")
    val cases = langs.map(l =>
      s"WHEN score_$l = greatest($gm) THEN '$l'").mkString("\n    ")
    s"""WITH t AS (SELECT doc_id, lang, ' ' || text || ' ' AS t FROM documents),
       |s AS (SELECT doc_id, lang,
       |    $scoreCols
       |  FROM t),
       |g2 AS (SELECT lang,
       |  CASE WHEN greatest($gm) <= 0 THEN 'und'
       |    $cases
       |    ELSE 'und' END AS guess
       |  FROM s)
       |SELECT lang, guess, CAST(count(*) AS BIGINT) AS n
       |FROM g2 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  private val pipelineSql: String = {
    val scores = TextAnalysis.langProfiles.map { case (l, ms) =>
      s"${duckStopScore(ms)} AS score_$l"
    }.mkString(",\n    ")
    val gm = TextAnalysis.langProfiles.map { case (l, _) => s"score_$l" }.mkString(", ")
    val cases = TextAnalysis.langProfiles.map { case (l, _) =>
      s"WHEN score_$l = greatest($gm) THEN '$l'"
    }.mkString("\n    ")
    s"""WITH d AS (SELECT doc_id, lang, text, string_split(text, ' ') AS w FROM documents),
       |q AS (SELECT doc_id, text, len(w) AS n_tokens FROM d
       |      WHERE len(w) >= 20),
       |k AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY text),
       |s AS (SELECT doc_id,
       |    $scores
       |  FROM d),
       |g AS (SELECT doc_id,
       |  CASE WHEN greatest($gm) <= 0 THEN 'und'
       |    $cases
       |    ELSE 'und' END AS guess
       |  FROM s)
       |SELECT g.guess, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(q.n_tokens) AS BIGINT) AS sum_tokens
       |FROM q JOIN k USING (doc_id) JOIN g USING (doc_id)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "q33_langid_ngram" -> langidNgramSql,
    "q36_pipeline_e2e" -> pipelineSql,
    "q20_dedup_exact" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
        |  CAST(count(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    // normalized dedup replay: the same planted variants, DuckDB's
    // lower/regexp_replace('g')/trim as the canonical form
    "q169_norm_dedup" ->
      """WITH base AS (SELECT doc_id, text FROM documents),
        |off AS (SELECT max(doc_id) + 1 AS o FROM base),
        |al AS (SELECT doc_id, text FROM base
        |       UNION ALL
        |       SELECT doc_id + (SELECT o FROM off), upper(text) || '!!!'
        |       FROM base WHERE doc_id % 7 = 0
        |       UNION ALL
        |       SELECT doc_id + 2 * (SELECT o FROM off),
        |         replace(text, ' ', ', ')
        |       FROM base WHERE doc_id % 11 = 0),
        |k AS (SELECT doc_id,
        |        md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ',
        |          'g'))) AS norm_hash
        |      FROM al),
        |g AS (SELECT norm_hash, min(doc_id) AS keep_id,
        |        CAST(count(*) AS BIGINT) AS n_copies
        |      FROM k GROUP BY 1)
        |SELECT k.doc_id, k.norm_hash, g.keep_id, g.n_copies,
        |  CAST(CASE WHEN k.doc_id = g.keep_id THEN 1 ELSE 0 END AS BIGINT)
        |    AS is_kept
        |FROM k JOIN g USING (norm_hash)
        |ORDER BY k.doc_id""".stripMargin,

    // q175: the index is definitionally the history's canonical
    // hashes, so the oracle recomputes it inline — the hash match
    // proves the build + O(batch) append + probe lifecycle changed
    // nothing semantic
    "q175_norm_dedup_ingest" ->
      """WITH hist AS (SELECT doc_id,
        |        md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ',
        |          'g'))) AS norm_hash
        |      FROM documents WHERE doc_id < 350),
        |idx AS (SELECT norm_hash, min(doc_id) AS first_doc,
        |         CAST(count(*) AS BIGINT) AS n_index_docs
        |        FROM hist GROUP BY 1),
        |off AS (SELECT max(doc_id) + 1 AS o FROM documents),
        |batch AS (SELECT doc_id, text FROM documents WHERE doc_id >= 350
        |          UNION ALL
        |          SELECT doc_id + (SELECT o FROM off), upper(text) || '!!!'
        |          FROM documents WHERE doc_id < 350 AND doc_id % 7 = 0),
        |k AS (SELECT doc_id,
        |        md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ',
        |          'g'))) AS norm_hash
        |      FROM batch)
        |SELECT k.doc_id, k.norm_hash,
        |  CAST(coalesce(idx.n_index_docs, 0) AS BIGINT) AS n_index_docs,
        |  idx.first_doc
        |FROM k LEFT JOIN idx USING (norm_hash)
        |ORDER BY k.doc_id""".stripMargin,

    "q21_minhash_lsh" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
         |           WHERE len(string_split(text, ' ')) >= 3),
         |sh AS (SELECT DISTINCT doc_id,
         |         unnest(list_transform(range(1, len(w) - 1),
         |                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
         |       FROM w),
         |pairs AS (SELECT a.doc_id da, b.doc_id db, count(*) common
         |          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |$jaccardTail""".stripMargin,

    "q22_ngram_jaccard" ->
      s"""WITH w AS (SELECT doc_id, source, lang, string_split(text, ' ') AS w
         |           FROM documents WHERE len(string_split(text, ' ')) >= 2),
         |sh AS (SELECT DISTINCT doc_id, source, lang,
         |         unnest(list_transform(range(1, len(w)),
         |                i -> w[i] || ' ' || w[i+1])) AS sh
         |       FROM w),
         |pairs AS (SELECT a.doc_id da, b.doc_id db, count(*) common
         |          FROM sh a JOIN sh b
         |            ON a.source = b.source AND a.lang = b.lang
         |           AND a.sh = b.sh AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |$jaccardTail""".stripMargin,

    "q28_dedup_apply" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
         |           WHERE len(string_split(text, ' ')) >= 3),
         |sh AS (SELECT DISTINCT doc_id,
         |         unnest(list_transform(range(1, len(w) - 1),
         |                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
         |       FROM w),
         |sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
         |pairs AS (SELECT a.doc_id da, b.doc_id db, count(*) common
         |          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |j AS (SELECT db FROM pairs
         |      JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
         |      WHERE common * 1.0 / (sa.n + sb.n - common) >= 0.5)
         |SELECT CAST(count(*) AS BIGINT) AS n_kept,
         |  CAST(sum(doc_id) AS BIGINT) AS sum_kept_ids
         |FROM documents WHERE doc_id NOT IN (SELECT db FROM j)""".stripMargin,

    "q23_simhash" -> simhashSql,
    "q34_simhash_pairs" -> simhashPairsSql,
    "q38_simhash64_pairs" -> simhash64PairsSql,
    "q140_simhash64_capped" -> simhash64CappedPairsSql,

    "q48_containment" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |           WHERE len(string_split(text, ' ')) >= 3),
        |sh AS (SELECT DISTINCT doc_id,
        |         unnest(list_transform(range(1, len(w) - 1),
        |                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
        |       FROM w),
        |cand AS (SELECT a.doc_id da, b.doc_id db, count(*) common
        |         FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id <> b.doc_id
        |         GROUP BY 1, 2),
        |sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1)
        |SELECT da AS contained, db AS container,
        |  round(common * 1.0 / sa.n, 4) AS containment
        |FROM cand JOIN sizes sa ON da = sa.doc_id
        |WHERE common * 1.0 / sa.n >= 0.8
        |ORDER BY 1, 2""".stripMargin,

    "q86_ngram_jaccard_capped" ->
      s"""WITH w AS (SELECT doc_id, source, lang, string_split(text, ' ') AS w
         |           FROM documents WHERE len(string_split(text, ' ')) >= 2),
         |sh0 AS (SELECT DISTINCT doc_id, source, lang,
         |         unnest(list_transform(range(1, len(w)),
         |                i -> w[i] || ' ' || w[i+1])) AS sh
         |       FROM w),
         |hot AS (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) > 20),
         |sh AS (SELECT * FROM sh0 WHERE sh NOT IN (SELECT sh FROM hot)),
         |pairs AS (SELECT a.doc_id da, b.doc_id db, count(*) common
         |          FROM sh a JOIN sh b
         |            ON a.source = b.source AND a.lang = b.lang
         |           AND a.sh = b.sh AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |$jaccardTail""".stripMargin,

    "q87_containment_capped" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |           WHERE len(string_split(text, ' ')) >= 3),
        |sh0 AS (SELECT DISTINCT doc_id,
        |         unnest(list_transform(range(1, len(w) - 1),
        |                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
        |       FROM w),
        |hot AS (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) > 5),
        |sh AS (SELECT * FROM sh0 WHERE sh NOT IN (SELECT sh FROM hot)),
        |cand AS (SELECT a.doc_id da, b.doc_id db, count(*) common
        |         FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id <> b.doc_id
        |         GROUP BY 1, 2),
        |sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1)
        |SELECT da AS contained, db AS container,
        |  round(common * 1.0 / sa.n, 4) AS containment
        |FROM cand JOIN sizes sa ON da = sa.doc_id
        |WHERE common * 1.0 / sa.n >= 0.8
        |ORDER BY 1, 2""".stripMargin,

    "q77_incremental_dedup" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |           WHERE len(string_split(text, ' ')) >= 3),
        |sh AS (SELECT DISTINCT doc_id,
        |         unnest(list_transform(range(1, len(w) - 1),
        |                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
        |       FROM w),
        |cand AS (SELECT a.doc_id da, b.doc_id db, count(*) common
        |         FROM sh a JOIN sh b
        |           ON a.sh = b.sh AND a.doc_id >= 250 AND b.doc_id < 250
        |         GROUP BY 1, 2),
        |sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
        |j AS (SELECT da, db, common * 1.0 / (sa.n + sb.n - common) AS jac
        |      FROM cand JOIN sizes sa ON da = sa.doc_id
        |                JOIN sizes sb ON db = sb.doc_id)
        |SELECT da AS doc_id, db AS dup_of, round(jac, 4) AS jaccard
        |FROM j WHERE jac >= 0.5 ORDER BY 1, 2""".stripMargin,

    "q78_vocab_oov" ->
      """WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
        |f AS (SELECT w, count(*) AS f FROM w GROUP BY 1),
        |t AS (SELECT sum(f) AS total FROM f),
        |v AS (SELECT w FROM f, t WHERE f * 1000 >= total),
        |vs AS (SELECT CAST(count(*) AS BIGINT) AS vocab_size FROM v)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN w.w IN (SELECT w FROM v) THEN 0 ELSE 1 END) AS BIGINT)
        |    AS n_oov,
        |  (SELECT vocab_size FROM vs) AS vocab_size
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,

    // maximal-span replay: sliding 10-gram 48-bit md5-prefix hashes,
    // seeds = hashes in >= 2 distinct docs, islands via pos - rn,
    // span = [min(pos), max(pos) + 9]
    "q127_max_dup_spans" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (SELECT doc_id, i AS pos,
        |        CAST(('0x' || substr(md5(array_to_string(
        |          list_slice(ws, i + 1, i + 10), ' ')), 1, 12)) AS BIGINT) AS gh
        |      FROM w, unnest(range(0, len(ws) - 9)) AS t(i)),
        |dup AS (SELECT gh FROM (SELECT gh, count(DISTINCT doc_id) AS nd
        |                        FROM g GROUP BY 1) WHERE nd >= 2),
        |h AS (SELECT doc_id, pos FROM g WHERE gh IN (SELECT gh FROM dup)),
        |r AS (SELECT doc_id, pos,
        |        pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |      FROM h)
        |SELECT doc_id, CAST(min(pos) AS BIGINT) AS start_pos,
        |  CAST(max(pos) + 9 AS BIGINT) AS end_pos,
        |  CAST(count(*) AS BIGINT) AS n_seeds,
        |  CAST(max(pos) - min(pos) + 10 AS BIGINT) AS span_words
        |FROM r GROUP BY doc_id, grp
        |ORDER BY doc_id, start_pos""".stripMargin,

    "q49_span_dup" ->
      """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
        |sp AS (SELECT doc_id, source,
        |         unnest(list_transform(range(0, CAST(ceil(len(ws) / 10.0) AS INT)),
        |           i -> array_to_string(list_slice(ws, i*10 + 1, i*10 + 10), ' '))) AS span
        |       FROM w),
        |dup AS (SELECT span FROM (SELECT span, count(DISTINCT doc_id) nd
        |                          FROM sp GROUP BY 1) WHERE nd >= 2),
        |pd AS (SELECT doc_id, source, count(*) AS n_spans,
        |         sum(CASE WHEN span IN (SELECT span FROM dup) THEN 1 ELSE 0 END) AS n_dup
        |       FROM sp GROUP BY 1, 2)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_spans) AS BIGINT) AS sum_spans,
        |  CAST(sum(n_dup) AS BIGINT) AS sum_dup_spans,
        |  CAST(sum(CASE WHEN n_dup * 2 >= n_spans THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_docs_half_dup
        |FROM pd GROUP BY 1 ORDER BY 1""".stripMargin,

    "q24_langid" -> langidSql,

    "q25_quality" -> {
      val stop = duckStopScore(Seq("the", "a", "of", "and", "to", "is"))
      s"""SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
         |  CAST(len(w) AS BIGINT) AS n_tokens,
         |  CAST($stop AS BIGINT) AS n_stopwords,
         |  CAST(list_aggregate(list_transform(w, x -> length(x)), 'max') AS BIGINT)
         |    AS max_token_len,
         |  (len(w) >= 20 AND ($stop) * 20 >= len(w)) AS is_quality
         |FROM (SELECT doc_id, text, string_split(text, ' ') w FROM documents)
         |ORDER BY doc_id""".stripMargin
    },

    "q26_token_stats" ->
      """WITH t AS (SELECT doc_id, source, len(w) AS n_tokens,
        |    CAST(list_aggregate(list_transform(w,
        |      x -> CAST(floor(greatest(length(x) - 1, 0) / 6) AS BIGINT)), 'sum')
        |      AS BIGINT) AS extra
        |  FROM (SELECT doc_id, source, string_split(text, ' ') w FROM documents))
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
        |  CAST(sum(n_tokens + extra) AS BIGINT) AS sum_subword_tokens,
        |  CAST(min(n_tokens) AS BIGINT) AS min_tokens,
        |  CAST(max(n_tokens) AS BIGINT) AS max_tokens
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,

    "q29_bpeish_tokens" -> {
      // DuckDB standard SQL strings keep backslashes literal; only the
      // leading apostrophe of the contraction branch needs doubling
      val re = TextAnalysis.BpeishPattern.replace("'", "''")
      s"""WITH t AS (SELECT doc_id, source,
         |    len(regexp_extract_all(text, '$re')) AS n_bpeish
         |  FROM documents)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_bpeish) AS BIGINT) AS sum_bpeish_tokens,
         |  CAST(min(n_bpeish) AS BIGINT) AS min_bpeish_tokens,
         |  CAST(max(n_bpeish) AS BIGINT) AS max_bpeish_tokens
         |FROM t GROUP BY 1 ORDER BY 1""".stripMargin
    },

    "q27_fingerprint" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |           WHERE len(string_split(text, ' ')) >= 5),
        |sh AS (SELECT DISTINCT doc_id,
        |         unnest(list_transform(range(1, len(w) - 3),
        |           i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4])) AS sh
        |       FROM w),
        |g AS (SELECT doc_id, min(md5(sh)) AS min_gram_hash,
        |        max(md5(sh)) AS max_gram_hash, CAST(count(*) AS BIGINT) AS n_grams
        |      FROM sh GROUP BY 1)
        |SELECT d.doc_id, md5(d.text) AS text_hash,
        |  g.min_gram_hash, g.max_gram_hash, g.n_grams
        |FROM documents d LEFT JOIN g ON d.doc_id = g.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "q32_ivf_topk" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |d AS (SELECT e.vec_id,
        |    list_dot_product(e.v, q.qv) AS dp,
        |    sqrt(list_dot_product(e.v, e.v)) AS nv,
        |    sqrt(list_dot_product(q.qv, q.qv)) AS nq
        |  FROM e, q WHERE e.vec_id <> 0)
        |SELECT vec_id, round(dp / (nv * nq), 4) AS cos
        |FROM d ORDER BY round(dp / (nv * nq), 4) DESC, vec_id LIMIT 20""".stripMargin,

    "q84_ivf_append" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |d AS (SELECT e.vec_id,
        |    list_dot_product(e.v, q.qv) AS dp,
        |    sqrt(list_dot_product(e.v, e.v)) AS nv,
        |    sqrt(list_dot_product(q.qv, q.qv)) AS nq
        |  FROM e, q WHERE e.vec_id <> 0)
        |SELECT vec_id, round(dp / (nv * nq), 4) AS cos
        |FROM d ORDER BY round(dp / (nv * nq), 4) DESC, vec_id LIMIT 20""".stripMargin,

    "q30_ann_topk" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |d AS (SELECT e.vec_id,
        |    list_dot_product(e.v, q.qv) AS dp,
        |    sqrt(list_dot_product(e.v, e.v)) AS nv,
        |    sqrt(list_dot_product(q.qv, q.qv)) AS nq
        |  FROM e, q WHERE e.vec_id <> 0)
        |SELECT vec_id, round(dp / (nv * nq), 4) AS cos
        |FROM d ORDER BY round(dp / (nv * nq), 4) DESC, vec_id LIMIT 20""".stripMargin,

    "q35_lsh_vec_dup" ->
      """WITH o AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |p AS (SELECT vec_id + 10000 AS vid,
        |    list_transform(v, x -> x + 0.005 * CAST(1 + vec_id % 3 AS DOUBLE)) AS v
        |  FROM o),
        |u AS (SELECT vec_id, v FROM o UNION ALL SELECT vid AS vec_id, v FROM p),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM u),
        |pr AS (SELECT a.vec_id va, b.vec_id vb,
        |    list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cos
        |  FROM n a JOIN n b ON a.vec_id < b.vec_id)
        |SELECT va AS vec_a, vb AS vec_b, round(cos, 4) AS cos
        |FROM pr WHERE cos >= 0.8 ORDER BY 1, 2""".stripMargin,

    // q110 shares q93's oracle: all-probes quantized IVF ≡ exact
    // integer quantized brute force (the oracle replays the
    // floor(x/scale+0.5) quantization and integer dots; scales cancel)
    "q110_quantized_ivf" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |m AS (SELECT vec_id, v,
        |    list_aggregate(list_transform(v, x -> abs(x)), 'max') AS mx
        |  FROM e),
        |qz AS (SELECT vec_id,
        |    CASE WHEN mx = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(v,
        |           x -> CAST(floor(x / (mx / 127.0) + 0.5) AS BIGINT)) END AS q
        |  FROM m),
        |qq AS (SELECT q AS qv FROM qz WHERE vec_id = 0),
        |d AS (SELECT z.vec_id,
        |    list_dot_product(z.q, qq.qv) AS qd,
        |    list_dot_product(z.q, z.q) AS qaa,
        |    list_dot_product(qq.qv, qq.qv) AS qbb
        |  FROM qz z, qq WHERE z.vec_id <> 0)
        |SELECT vec_id,
        |       round(qd / sqrt(CAST(qaa * qbb AS DOUBLE)), 4) AS qcos
        |FROM d
        |ORDER BY round(qd / sqrt(CAST(qaa * qbb AS DOUBLE)), 4) DESC, vec_id
        |LIMIT 20""".stripMargin,

    // q112: the oracle replays the ENTIRE operator — q35's planted
    // fixture, the Voronoi assignment around the 4 seed vectors (same
    // ||c||² − 2·v·c argmin with the same (score, cid) tie-break), the
    // within-cluster cosine pairs, and the min-witness drop rule.
    "q112_semantic_dedup" ->
      """WITH o AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |p AS (SELECT vec_id + 10000 AS vid,
        |    list_transform(v, x -> x + 0.005 * CAST(1 + vec_id % 3 AS DOUBLE)) AS v
        |  FROM o),
        |u AS (SELECT vec_id, v FROM o UNION ALL SELECT vid AS vec_id, v FROM p),
        |c AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
        |      FROM u WHERE vec_id IN (0, 1, 2, 3)),
        |sc AS (SELECT u.vec_id, u.v, c.cid,
        |    list_dot_product(c.cv, c.cv) - 2 * list_dot_product(u.v, c.cv) AS score
        |  FROM u, c),
        |asn AS (SELECT vec_id, v, cid FROM (
        |    SELECT vec_id, v, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY score, cid) AS rn
        |    FROM sc) WHERE rn = 1),
        |n AS (SELECT vec_id, v, cid, sqrt(list_dot_product(v, v)) AS nrm FROM asn),
        |pr AS (SELECT a.vec_id AS wa, b.vec_id AS wb
        |  FROM n a JOIN n b ON a.cid = b.cid AND a.vec_id < b.vec_id
        |  WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.95),
        |d AS (SELECT wb AS vec_id, min(wa) AS dup_of FROM pr GROUP BY 1)
        |SELECT asn.vec_id, asn.cid AS cluster_id,
        |  d.dup_of IS NULL AS kept, d.dup_of
        |FROM asn LEFT JOIN d ON asn.vec_id = d.vec_id
        |ORDER BY asn.vec_id""".stripMargin,

    // q177: the q112 replay with the cluster cap — pairs are mined
    // only within clusters of ≤ count(*)/4 members (integer division
    // both engines); members of capped-out clusters are all kept.
    "q177_semdedup_capped" ->
      """WITH o AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |p AS (SELECT vec_id + 10000 AS vid,
        |    list_transform(v, x -> x + 0.005 * CAST(1 + vec_id % 3 AS DOUBLE)) AS v
        |  FROM o),
        |u AS (SELECT vec_id, v FROM o UNION ALL SELECT vid AS vec_id, v FROM p),
        |c AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
        |      FROM u WHERE vec_id IN (0, 1, 2, 3)),
        |sc AS (SELECT u.vec_id, u.v, c.cid,
        |    list_dot_product(c.cv, c.cv) - 2 * list_dot_product(u.v, c.cv) AS score
        |  FROM u, c),
        |asn AS (SELECT vec_id, v, cid FROM (
        |    SELECT vec_id, v, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY score, cid) AS rn
        |    FROM sc) WHERE rn = 1),
        |small AS (SELECT cid FROM asn GROUP BY cid
        |  HAVING count(*) <= (SELECT count(*) // 4 FROM u)),
        |n AS (SELECT asn.vec_id, asn.v, asn.cid,
        |    sqrt(list_dot_product(asn.v, asn.v)) AS nrm
        |  FROM asn JOIN small ON asn.cid = small.cid),
        |pr AS (SELECT a.vec_id AS wa, b.vec_id AS wb
        |  FROM n a JOIN n b ON a.cid = b.cid AND a.vec_id < b.vec_id
        |  WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.95),
        |d AS (SELECT wb AS vec_id, min(wa) AS dup_of FROM pr GROUP BY 1)
        |SELECT asn.vec_id, asn.cid AS cluster_id,
        |  d.dup_of IS NULL AS kept, d.dup_of
        |FROM asn LEFT JOIN d ON asn.vec_id = d.vec_id
        |ORDER BY asn.vec_id""".stripMargin,

    // q178: history assignment around the 4 seed vectors (the index
    // build), batch assignment of the jittered copies by the SAME
    // stored geometry, same-cell cosine pairs at 0.95, min witness +
    // dup count per batch vector.
    "q178_semantic_ingest_dedup" ->
      """WITH o AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |c AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
        |      FROM o WHERE vec_id IN (0, 1, 2, 3)),
        |ha AS (SELECT vec_id, v, cid FROM (
        |    SELECT o.vec_id, o.v, c.cid,
        |      row_number() OVER (PARTITION BY o.vec_id ORDER BY
        |        list_dot_product(c.cv, c.cv) - 2 * list_dot_product(o.v, c.cv),
        |        c.cid) AS rn
        |    FROM o, c) WHERE rn = 1),
        |p AS (SELECT vec_id + 10000 AS vec_id,
        |    list_transform(v, x -> x + 0.005 * CAST(1 + vec_id % 3 AS DOUBLE)) AS v
        |  FROM o),
        |ba AS (SELECT vec_id, v, cid FROM (
        |    SELECT p.vec_id, p.v, c.cid,
        |      row_number() OVER (PARTITION BY p.vec_id ORDER BY
        |        list_dot_product(c.cv, c.cv) - 2 * list_dot_product(p.v, c.cv),
        |        c.cid) AS rn
        |    FROM p, c) WHERE rn = 1),
        |hits AS (SELECT b.vec_id, min(h.vec_id) AS dup_of,
        |    count(*) AS n_dups
        |  FROM ba b JOIN ha h ON b.cid = h.cid
        |  WHERE list_dot_product(b.v, h.v) /
        |    (sqrt(list_dot_product(b.v, b.v)) * sqrt(list_dot_product(h.v, h.v)))
        |    >= 0.95
        |  GROUP BY 1)
        |SELECT ba.vec_id, CAST(ba.cid AS BIGINT) AS list_id,
        |  CAST(coalesce(hits.n_dups, 0) AS BIGINT) AS n_dups, hits.dup_of
        |FROM ba LEFT JOIN hits ON ba.vec_id = hits.vec_id
        |ORDER BY ba.vec_id""".stripMargin,

    // q179: the q178 replay with the hot-cell cap — index cells
    // holding more than count(history)/4 vectors (integer division,
    // both engines) contribute no pairs; their batch vectors are
    // fresh with hot = true.
    "q179_semantic_ingest_capped" ->
      """WITH o AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |c AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
        |      FROM o WHERE vec_id IN (0, 1, 2, 3)),
        |ha AS (SELECT vec_id, v, cid FROM (
        |    SELECT o.vec_id, o.v, c.cid,
        |      row_number() OVER (PARTITION BY o.vec_id ORDER BY
        |        list_dot_product(c.cv, c.cv) - 2 * list_dot_product(o.v, c.cv),
        |        c.cid) AS rn
        |    FROM o, c) WHERE rn = 1),
        |hot AS (SELECT cid FROM ha GROUP BY cid
        |  HAVING count(*) > (SELECT count(*) // 4 FROM o)),
        |p AS (SELECT vec_id + 10000 AS vec_id,
        |    list_transform(v, x -> x + 0.005 * CAST(1 + vec_id % 3 AS DOUBLE)) AS v
        |  FROM o),
        |ba AS (SELECT vec_id, v, cid FROM (
        |    SELECT p.vec_id, p.v, c.cid,
        |      row_number() OVER (PARTITION BY p.vec_id ORDER BY
        |        list_dot_product(c.cv, c.cv) - 2 * list_dot_product(p.v, c.cv),
        |        c.cid) AS rn
        |    FROM p, c) WHERE rn = 1),
        |hits AS (SELECT b.vec_id, min(h.vec_id) AS dup_of,
        |    count(*) AS n_dups
        |  FROM ba b JOIN ha h ON b.cid = h.cid
        |  WHERE b.cid NOT IN (SELECT cid FROM hot)
        |    AND list_dot_product(b.v, h.v) /
        |    (sqrt(list_dot_product(b.v, b.v)) * sqrt(list_dot_product(h.v, h.v)))
        |    >= 0.95
        |  GROUP BY 1)
        |SELECT ba.vec_id, CAST(ba.cid AS BIGINT) AS list_id,
        |  CAST(coalesce(hits.n_dups, 0) AS BIGINT) AS n_dups, hits.dup_of,
        |  ba.cid IN (SELECT cid FROM hot) AS hot
        |FROM ba LEFT JOIN hits ON ba.vec_id = hits.vec_id
        |ORDER BY ba.vec_id""".stripMargin,

    // q180: the q178 replay at the RETRAINED geometry — history and
    // batch assigned around the vectors of vec_id 4..7 (cid 0..3 in
    // vec_id order), which is what v1 of the versioned index stores.
    "q180_semantic_index_retrain" ->
      """WITH o AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |c AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
        |      FROM o WHERE vec_id IN (4, 5, 6, 7)),
        |ha AS (SELECT vec_id, v, cid FROM (
        |    SELECT o.vec_id, o.v, c.cid,
        |      row_number() OVER (PARTITION BY o.vec_id ORDER BY
        |        list_dot_product(c.cv, c.cv) - 2 * list_dot_product(o.v, c.cv),
        |        c.cid) AS rn
        |    FROM o, c) WHERE rn = 1),
        |p AS (SELECT vec_id + 10000 AS vec_id,
        |    list_transform(v, x -> x + 0.005 * CAST(1 + vec_id % 3 AS DOUBLE)) AS v
        |  FROM o),
        |ba AS (SELECT vec_id, v, cid FROM (
        |    SELECT p.vec_id, p.v, c.cid,
        |      row_number() OVER (PARTITION BY p.vec_id ORDER BY
        |        list_dot_product(c.cv, c.cv) - 2 * list_dot_product(p.v, c.cv),
        |        c.cid) AS rn
        |    FROM p, c) WHERE rn = 1),
        |hits AS (SELECT b.vec_id, min(h.vec_id) AS dup_of,
        |    count(*) AS n_dups
        |  FROM ba b JOIN ha h ON b.cid = h.cid
        |  WHERE list_dot_product(b.v, h.v) /
        |    (sqrt(list_dot_product(b.v, b.v)) * sqrt(list_dot_product(h.v, h.v)))
        |    >= 0.95
        |  GROUP BY 1)
        |SELECT ba.vec_id, CAST(ba.cid AS BIGINT) AS list_id,
        |  CAST(coalesce(hits.n_dups, 0) AS BIGINT) AS n_dups, hits.dup_of
        |FROM ba LEFT JOIN hits ON ba.vec_id = hits.vec_id
        |ORDER BY ba.vec_id""".stripMargin,

    // q113: same assignment replay over 8 seeds, then cosine to the
    // OWN centroid, a (pc DESC, vec_id) rank within the cluster, and
    // the integer keep rule rank*10 > n (drop the most-prototypical
    // 10% of each cluster).
    "q113_prototype_filter" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |c AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
        |      FROM e WHERE vec_id IN (0, 1, 2, 3, 4, 5, 6, 7)),
        |sc AS (SELECT e.vec_id, e.v, c.cid,
        |    list_dot_product(c.cv, c.cv) - 2 * list_dot_product(e.v, c.cv) AS score
        |  FROM e, c),
        |asn AS (SELECT vec_id, v, cid FROM (
        |    SELECT vec_id, v, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY score, cid) AS rn
        |    FROM sc) WHERE rn = 1),
        |pcx AS (SELECT a.vec_id, a.cid,
        |    list_dot_product(a.v, c.cv) /
        |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.cv, c.cv))) AS pc
        |  FROM asn a JOIN c ON a.cid = c.cid),
        |r AS (SELECT vec_id, cid AS cluster_id, pc,
        |    row_number() OVER (PARTITION BY cid ORDER BY pc DESC, vec_id) AS proto_rank,
        |    count(*) OVER (PARTITION BY cid) AS n
        |  FROM pcx)
        |SELECT vec_id, cluster_id, round(pc, 4) AS proto_cos, proto_rank,
        |  proto_rank * 10 > n AS kept
        |FROM r ORDER BY vec_id""".stripMargin,

    "q93_quantized_topk" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |m AS (SELECT vec_id, v,
        |    list_aggregate(list_transform(v, x -> abs(x)), 'max') AS mx
        |  FROM e),
        |qz AS (SELECT vec_id,
        |    CASE WHEN mx = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(v,
        |           x -> CAST(floor(x / (mx / 127.0) + 0.5) AS BIGINT)) END AS q
        |  FROM m),
        |qq AS (SELECT q AS qv FROM qz WHERE vec_id = 0),
        |d AS (SELECT z.vec_id,
        |    list_dot_product(z.q, qq.qv) AS qd,
        |    list_dot_product(z.q, z.q) AS qaa,
        |    list_dot_product(qq.qv, qq.qv) AS qbb
        |  FROM qz z, qq WHERE z.vec_id <> 0)
        |SELECT vec_id,
        |       round(qd / sqrt(CAST(qaa * qbb AS DOUBLE)), 4) AS qcos
        |FROM d
        |ORDER BY round(qd / sqrt(CAST(qaa * qbb AS DOUBLE)), 4) DESC, vec_id
        |LIMIT 20""".stripMargin,

    // the q93 quantization chain, then two unrolled Lloyd rounds: the
    // zipped unnest pairs each code with its dimension for the
    // per-(cluster, dim) sums, floor(s/n) rebuilds each centroid, and
    // clusters that empty keep their previous centroid (the UNION arm)
    "q148_kmeans_int" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |m AS (SELECT vec_id, v,
        |    list_aggregate(list_transform(v, x -> abs(x)), 'max') AS mx
        |  FROM e),
        |qz AS (SELECT vec_id,
        |    CASE WHEN mx = 0 THEN list_transform(v, x -> CAST(0 AS DOUBLE))
        |         ELSE list_transform(v,
        |           x -> CAST(CAST(floor(x / (mx / 127.0) + 0.5) AS BIGINT)
        |                     AS DOUBLE))
        |    END AS q
        |  FROM m),
        |c0 AS (SELECT CAST(vec_id AS INT) AS cid, q AS cq FROM qz
        |       WHERE vec_id < 4),
        |d1 AS (SELECT z.vec_id, c.cid,
        |    list_dot_product(z.q, z.q) - 2 * list_dot_product(z.q, c.cq)
        |      + list_dot_product(c.cq, c.cq) AS d2
        |  FROM qz z CROSS JOIN c0 c),
        |a1 AS (SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        |    FROM d1) WHERE rn = 1),
        |x1 AS (SELECT a.cid, unnest(z.q) AS x,
        |         unnest(range(1, len(z.q) + 1)) AS dim
        |  FROM a1 a JOIN qz z USING (vec_id)),
        |s1 AS (SELECT cid, dim, sum(x) AS s, count(*) AS n FROM x1
        |       GROUP BY 1, 2),
        |c1 AS (SELECT cid, list(CAST(floor(s / n) AS DOUBLE) ORDER BY dim) AS cq
        |    FROM s1 GROUP BY 1
        |  UNION ALL SELECT cid, cq FROM c0
        |    WHERE cid NOT IN (SELECT DISTINCT cid FROM s1)),
        |d2_ AS (SELECT z.vec_id, c.cid,
        |    list_dot_product(z.q, z.q) - 2 * list_dot_product(z.q, c.cq)
        |      + list_dot_product(c.cq, c.cq) AS d2
        |  FROM qz z CROSS JOIN c1 c),
        |a2 AS (SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        |    FROM d2_) WHERE rn = 1),
        |x2 AS (SELECT a.cid, unnest(z.q) AS x,
        |         unnest(range(1, len(z.q) + 1)) AS dim
        |  FROM a2 a JOIN qz z USING (vec_id)),
        |s2 AS (SELECT cid, dim, sum(x) AS s, count(*) AS n FROM x2
        |       GROUP BY 1, 2),
        |c2 AS (SELECT cid, list(CAST(floor(s / n) AS DOUBLE) ORDER BY dim) AS cq
        |    FROM s2 GROUP BY 1
        |  UNION ALL SELECT cid, cq FROM c1
        |    WHERE cid NOT IN (SELECT DISTINCT cid FROM s2)),
        |df AS (SELECT z.vec_id, c.cid,
        |    list_dot_product(z.q, z.q) - 2 * list_dot_product(z.q, c.cq)
        |      + list_dot_product(c.cq, c.cq) AS d2
        |  FROM qz z CROSS JOIN c2 c)
        |SELECT vec_id, CAST(cid AS BIGINT) AS cluster, CAST(d2 AS BIGINT) AS d2
        |FROM (SELECT vec_id, cid, d2,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        |  FROM df)
        |WHERE rn = 1 ORDER BY vec_id""".stripMargin,

    // trained-PQ replay: the q148 integer-Lloyd oracle generalized
    // with the subspace as a DATA dimension — gmx and the global grid
    // from the raw embeddings, per-(ms) seed codebooks, each round's
    // (d2, kk)-argmin assignment + floor-divided update unrolled, and
    // the final per-(vector, subspace) code + exact integer d2
    "q165_pq_train_int" -> pqTrainIntOracle(PqM, PqK, PqSub, PqTrainRounds),
    // the q165 discipline at the PRODUCTION codebook size: kCode = 32
    // (the knob ANN_RECALL.md's de-cloned tier shows the 16-entry
    // seed convention underfitting) — same arithmetic, 32 seeds
    "q176_pq_train_int32" -> pqTrainIntOracle(PqM, PqK32, PqSub,
      PqTrainRounds),

    "q92_semantic_decontam" ->
      """WITH e AS (SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |n AS (SELECT vec_id, label, v,
        |    sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |c AS (SELECT vec_id, v, nrm FROM n WHERE label <> 0),
        |b AS (SELECT vec_id AS bench_id, v AS bv, nrm AS bnrm
        |      FROM n WHERE label = 0),
        |j AS (SELECT c.vec_id, b.bench_id,
        |        list_dot_product(c.v, b.bv) / (c.nrm * b.bnrm) AS cos
        |      FROM c, b),
        |r AS (SELECT vec_id, bench_id, cos,
        |        row_number() OVER (PARTITION BY vec_id
        |                           ORDER BY cos DESC, bench_id) AS rn
        |      FROM j)
        |SELECT vec_id, bench_id AS best_bench_id,
        |       round(cos, 4) AS max_cos, cos >= 0.8 AS contaminated
        |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin,

    "q104_semantic_decontam_join" ->
      """WITH e AS (SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |n AS (SELECT vec_id, label, v,
        |    sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |c AS (SELECT vec_id, v, nrm FROM n WHERE label <> 0),
        |b AS (SELECT vec_id AS bench_id, v AS bv, nrm AS bnrm
        |      FROM n WHERE label = 0),
        |j AS (SELECT c.vec_id, b.bench_id,
        |        list_dot_product(c.v, b.bv) / (c.nrm * b.bnrm) AS cos
        |      FROM c, b),
        |r AS (SELECT vec_id, bench_id, cos,
        |        row_number() OVER (PARTITION BY vec_id
        |                           ORDER BY cos DESC, bench_id) AS rn
        |      FROM j)
        |SELECT vec_id, bench_id AS best_bench_id,
        |       round(cos, 4) AS max_cos, cos >= 0.8 AS contaminated
        |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin,

    "q31_vec_near_dup" ->
      """WITH e AS (SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |n AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |p AS (SELECT a.vec_id va, b.vec_id vb,
        |    list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cos
        |  FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id)
        |SELECT va AS vec_a, vb AS vec_b, round(cos, 4) AS cos
        |FROM p WHERE cos >= 0.8 ORDER BY 1, 2""".stripMargin,

    "q55_tfidf_terms" ->
      """WITH w AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS term
        |           FROM documents),
        |dfreq AS (SELECT term, count(DISTINCT doc_id) AS doc_freq FROM w GROUP BY 1),
        |tf AS (SELECT source, term, count(*) AS tf FROM w GROUP BY 1, 2),
        |tot AS (SELECT count(*) AS n FROM documents),
        |s AS (SELECT source, term, tf, doc_freq,
        |        round(tf * ln((n + 1) * 1.0 / (doc_freq + 1)), 4) AS tfidf
        |      FROM tf JOIN dfreq USING (term), tot),
        |r AS (SELECT *, row_number() OVER
        |        (PARTITION BY source ORDER BY tfidf DESC, term ASC) AS rank
        |      FROM s)
        |SELECT source, term, CAST(tf AS BIGINT) AS tf,
        |  CAST(doc_freq AS BIGINT) AS doc_freq,
        |  tfidf, CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 3 ORDER BY source, rank""".stripMargin,

    "q56_knn_graph" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |bk AS (SELECT vec_id, v,
        |    (CASE WHEN list_dot_product(v,
        |       list_transform(range(0,64), d -> sin(1 + 0*64 + d))) >= 0
        |      THEN 1 ELSE 0 END)
        |  + (CASE WHEN list_dot_product(v,
        |       list_transform(range(0,64), d -> sin(1 + 1*64 + d))) >= 0
        |      THEN 2 ELSE 0 END)
        |  + (CASE WHEN list_dot_product(v,
        |       list_transform(range(0,64), d -> sin(1 + 2*64 + d))) >= 0
        |      THEN 4 ELSE 0 END) AS bucket
        |  FROM e),
        |n AS (SELECT vec_id, v, bucket,
        |    sqrt(list_dot_product(v, v)) AS nrm FROM bk),
        |p AS (SELECT a.vec_id src, b.vec_id dst,
        |    list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cos
        |  FROM n a JOIN n b
        |    ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
        |r AS (SELECT src, dst, cos, row_number() OVER
        |        (PARTITION BY src ORDER BY cos DESC, dst ASC) AS rank
        |      FROM p)
        |SELECT src, dst, round(cos, 4) AS cos, CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 2 ORDER BY src, rank""".stripMargin,

    "q50_multimodal_meta" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  CAST(octet_length(encode(text)) % 256 AS BIGINT) AS fake_width,
        |  CAST(ascii(substr(text, 1, 1)) AS BIGINT) AS fake_height
        |FROM documents ORDER BY doc_id""".stripMargin,

    // aHash replay: 8 column samples at x = c·w/8 (rows identical for
    // the 1-row fixture), bit j set iff 64·g > 8·Σcols, the sign bit
    // via the explicit HUGEINT min literal (DuckDB refuses 1 << 63)
    "q135_image_phash" ->
      """WITH t AS (SELECT doc_id, text, octet_length(encode(text)) AS w
        |           FROM documents),
        |g AS (SELECT doc_id,
        |        list_transform(range(0, 8), c ->
        |          CAST(ascii(substr(text, CAST((c * w) // 8 AS INT) + 1, 1))
        |            AS BIGINT)) AS cs
        |      FROM t WHERE doc_id % 97 <> 0 AND w >= 1),
        |h AS (SELECT doc_id,
        |        CAST(list_aggregate(list_transform(range(0, 64), j ->
        |          CASE WHEN 64 * cs[CAST(j % 8 AS INT) + 1]
        |                    > 8 * list_aggregate(cs, 'sum') THEN
        |            CASE WHEN j = 63 THEN CAST('-9223372036854775808' AS HUGEINT)
        |                 ELSE CAST(CAST(1 AS BIGINT) << CAST(j AS INT) AS HUGEINT)
        |            END
        |          ELSE CAST(0 AS HUGEINT) END), 'sum') AS BIGINT) AS ahash
        |      FROM g)
        |SELECT t.doc_id, h.ahash FROM t LEFT JOIN h USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,

    // image near-dup replay: the same hashes, brute-force hamming join
    "q136_image_near_dup" ->
      """WITH t AS (SELECT doc_id, text, octet_length(encode(text)) AS w
        |           FROM documents),
        |g AS (SELECT doc_id,
        |        list_transform(range(0, 8), c ->
        |          CAST(ascii(substr(text, CAST((c * w) // 8 AS INT) + 1, 1))
        |            AS BIGINT)) AS cs
        |      FROM t WHERE doc_id % 97 <> 0 AND w >= 1),
        |h AS (SELECT doc_id,
        |        CAST(list_aggregate(list_transform(range(0, 64), j ->
        |          CASE WHEN 64 * cs[CAST(j % 8 AS INT) + 1]
        |                    > 8 * list_aggregate(cs, 'sum') THEN
        |            CASE WHEN j = 63 THEN CAST('-9223372036854775808' AS HUGEINT)
        |                 ELSE CAST(CAST(1 AS BIGINT) << CAST(j AS INT) AS HUGEINT)
        |            END
        |          ELSE CAST(0 AS HUGEINT) END), 'sum') AS BIGINT) AS ahash
        |      FROM g)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.ahash, b.ahash)) AS INT) AS hamming
        |FROM h a JOIN h b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.ahash, b.ahash)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,

    // capped image near-dup replay: the same hashes, the same
    // brute-force hamming join, pair kept iff at least one EQUAL band
    // has a key shared by <= cap docs (the q140 declarative semantics
    // over aHash — `>>` is arithmetic in DuckDB but the & 65535 mask
    // extracts the same 16 bits as Spark's shiftrightunsigned)
    "q141_image_near_dup_capped" ->
      s"""$imageCappedCtes
        |$imageCappedPairSelect
        |ORDER BY doc_a, doc_b""".stripMargin,

    // the q141 pair replay chained into the recursive closure: labels
    // = min reachable doc over the undirected pair graph, kept iff a
    // doc IS its own component (or unpaired); universe = every image
    // with a hash (the h CTE)
    "q155_image_dedup_apply" ->
      s"""$imageCappedCtes,
        |dup AS ($imageCappedPairSelect),
        |e AS (SELECT doc_a AS a, doc_b AS b FROM dup
        |      UNION SELECT doc_b, doc_a FROM dup),
        |reach(a, b) AS (SELECT a, a FROM e
        |                UNION
        |                SELECT e.a, r.b FROM e JOIN reach r ON e.b = r.a),
        |labels AS (SELECT a AS doc_id, min(b) AS component FROM reach
        |           GROUP BY 1)
        |SELECT h.doc_id,
        |  CAST(coalesce(l.component, h.doc_id) AS BIGINT) AS component,
        |  (coalesce(l.component, h.doc_id) = h.doc_id) AS kept
        |FROM h LEFT JOIN labels l USING (doc_id)
        |ORDER BY h.doc_id""".stripMargin,

    // aHash replay split at the index boundary: hot keys measured on
    // the INDEX side only, pairs = batch × index with the declarative
    // capped-band keep rule
    "q161_media_ingest_dedup" -> {
      val bands = (0 until 4)
        .map(j => s"CAST((ahash >> ${j * 16}) & 65535 AS BIGINT) AS k$j")
        .mkString(",\n        ")
      val hots = (0 until 4)
        .map(j => s"h$j AS (SELECT k$j AS kv FROM idx GROUP BY 1 " +
          s"HAVING count(*) > $HammingBandCap)")
        .mkString(",\n")
      val keep = (0 until 4)
        .map(j => s"(a.k$j = b.k$j AND b.k$j NOT IN (SELECT kv FROM h$j))")
        .mkString("\n     OR ")
      s"""WITH t AS (SELECT doc_id, text, octet_length(encode(text)) AS w
         |           FROM documents),
         |g AS (SELECT doc_id,
         |        list_transform(range(0, 8), c ->
         |          CAST(ascii(substr(text, CAST((c * w) // 8 AS INT) + 1, 1))
         |            AS BIGINT)) AS cs
         |      FROM t WHERE doc_id % 97 <> 0 AND w >= 1),
         |h AS (SELECT doc_id,
         |        CAST(list_aggregate(list_transform(range(0, 64), j ->
         |          CASE WHEN 64 * cs[CAST(j % 8 AS INT) + 1]
         |                    > 8 * list_aggregate(cs, 'sum') THEN
         |            CASE WHEN j = 63 THEN CAST('-9223372036854775808' AS HUGEINT)
         |                 ELSE CAST(CAST(1 AS BIGINT) << CAST(j AS INT) AS HUGEINT)
         |            END
         |          ELSE CAST(0 AS HUGEINT) END), 'sum') AS BIGINT) AS ahash
         |      FROM g),
         |k AS (SELECT doc_id, ahash,
         |        $bands
         |      FROM h),
         |idx AS (SELECT * FROM k WHERE doc_id < 250),
         |bat AS (SELECT * FROM k WHERE doc_id >= 250),
         |$hots
         |SELECT a.doc_id, b.doc_id AS dup_of,
         |  CAST(bit_count(xor(a.ahash, b.ahash)) AS INT) AS hamming
         |FROM bat a JOIN idx b
         |  ON bit_count(xor(a.ahash, b.ahash)) <= 3
         | AND ($keep)
         |ORDER BY a.doc_id, dup_of""".stripMargin
    },

    // envelope-hash replay chained into the capped closure — the q155
    // gate shape over the audio signature
    "q158_audio_dedup_apply" -> sigDedupApplySql(audioEnvCtes),
    // center-frame video-hash replay through the identical chain
    "q159_video_dedup_apply" -> sigDedupApplySql(videoHashCtes),

    "q80_image_codec" ->
      """WITH t AS (SELECT doc_id, text, octet_length(encode(text)) AS w
        |           FROM documents),
        |px AS (SELECT doc_id,
        |         list_transform(range(0, 16),
        |           x -> ascii(substr(text, CAST(x * w // 16 AS INT) + 1, 1))) AS pix
        |       FROM t WHERE doc_id % 97 <> 0),
        |st AS (SELECT doc_id, CAST(list_aggregate(pix, 'sum') AS BIGINT) AS s
        |       FROM px)
        |SELECT t.doc_id,
        |  CASE WHEN t.doc_id % 97 = 0 THEN NULL ELSE 16 END AS width,
        |  CASE WHEN t.doc_id % 97 = 0 THEN NULL ELSE 1 END AS height,
        |  CASE WHEN t.doc_id % 97 = 0 THEN NULL ELSE 1 END AS channels,
        |  CASE WHEN t.doc_id % 97 = 0 THEN NULL
        |       ELSE CAST(16 AS BIGINT) END AS n_pixels,
        |  st.s AS pix_checksum,
        |  CASE WHEN t.doc_id % 97 = 0 THEN NULL
        |       ELSE round(st.s / 16.0, 4) END AS mean_pixel
        |FROM t LEFT JOIN st USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,

    "q85_bmp_codec" ->
      """WITH t AS (SELECT doc_id, text, octet_length(encode(text)) AS w
        |           FROM documents),
        |px AS (SELECT doc_id,
        |         list_transform(range(0, 16),
        |           x -> ascii(substr(text, CAST(x * w // 16 AS INT) + 1, 1))) AS pix
        |       FROM t WHERE doc_id % 97 <> 0),
        |st AS (SELECT doc_id,
        |         CAST(3 * list_aggregate(pix, 'sum') AS BIGINT) AS s
        |       FROM px)
        |SELECT t.doc_id,
        |  CASE WHEN t.doc_id % 97 = 0 THEN NULL ELSE 16 END AS width,
        |  CASE WHEN t.doc_id % 97 = 0 THEN NULL ELSE 1 END AS height,
        |  CASE WHEN t.doc_id % 97 = 0 THEN NULL ELSE 3 END AS channels,
        |  CASE WHEN t.doc_id % 97 = 0 THEN NULL
        |       ELSE CAST(48 AS BIGINT) END AS n_pixels,
        |  st.s AS pix_checksum,
        |  CASE WHEN t.doc_id % 97 = 0 THEN NULL
        |       ELSE round(st.s / 48.0, 4) END AS mean_pixel
        |FROM t LEFT JOIN st USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,

    "q106_png_codec" ->
      """WITH t AS (SELECT doc_id, text, octet_length(encode(text)) AS w
        |           FROM documents),
        |px AS (SELECT doc_id,
        |         list_transform(range(0, 16),
        |           x -> ascii(substr(text, CAST(x * w // 16 AS INT) + 1, 1))) AS pix
        |       FROM t WHERE doc_id % 97 <> 0),
        |st AS (SELECT doc_id, CAST(list_aggregate(pix, 'sum') AS BIGINT) AS s
        |       FROM px)
        |SELECT t.doc_id,
        |  CASE WHEN t.doc_id % 97 = 0 THEN NULL ELSE 16 END AS width,
        |  CASE WHEN t.doc_id % 97 = 0 THEN NULL ELSE 1 END AS height,
        |  CASE WHEN t.doc_id % 97 = 0 THEN NULL ELSE 1 END AS channels,
        |  CASE WHEN t.doc_id % 97 = 0 THEN NULL
        |       ELSE CAST(16 AS BIGINT) END AS n_pixels,
        |  st.s AS pix_checksum,
        |  CASE WHEN t.doc_id % 97 = 0 THEN NULL
        |       ELSE round(st.s / 16.0, 4) END AS mean_pixel
        |FROM t LEFT JOIN st USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,

    // q111 shares q106's oracle shape: the constant-block quality-100
    // JPEG chain is exact, so the sampled bytes come straight from the
    // text (block x = byte at floor(x·w/16); NN resize picks block x's
    // corner pixel)
    "q111_jpeg_codec" ->
      """WITH t AS (SELECT doc_id, text, octet_length(encode(text)) AS w
        |           FROM documents),
        |px AS (SELECT doc_id,
        |         list_transform(range(0, 16),
        |           x -> ascii(substr(text, CAST(x * w // 16 AS INT) + 1, 1))) AS pix
        |       FROM t WHERE doc_id % 97 <> 0),
        |st AS (SELECT doc_id, CAST(list_aggregate(pix, 'sum') AS BIGINT) AS s
        |       FROM px)
        |SELECT t.doc_id,
        |  CASE WHEN t.doc_id % 97 = 0 THEN NULL ELSE 16 END AS width,
        |  CASE WHEN t.doc_id % 97 = 0 THEN NULL ELSE 1 END AS height,
        |  CASE WHEN t.doc_id % 97 = 0 THEN NULL ELSE 1 END AS channels,
        |  CASE WHEN t.doc_id % 97 = 0 THEN NULL
        |       ELSE CAST(16 AS BIGINT) END AS n_pixels,
        |  st.s AS pix_checksum,
        |  CASE WHEN t.doc_id % 97 = 0 THEN NULL
        |       ELSE round(st.s / 16.0, 4) END AS mean_pixel
        |FROM t LEFT JOIN st USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,

    // audio-fingerprint replay: 65 sample indices t·n/65, the
    // order-preserving (byte−128)·256 map reduces each derivative
    // sign to a character comparison; sign bit via the HUGEINT min
    // literal like q135
    "q137_audio_fingerprint" ->
      """WITH t AS (SELECT doc_id, text, octet_length(encode(text)) AS n
        |           FROM documents),
        |g AS (SELECT doc_id,
        |        list_transform(range(0, 65), tt ->
        |          CAST(ascii(substr(text, CAST((tt * n) // 65 AS INT) + 1, 1))
        |            AS BIGINT)) AS ss
        |      FROM t WHERE doc_id % 97 <> 0 AND n >= 1),
        |h AS (SELECT doc_id,
        |        CAST(list_aggregate(list_transform(range(0, 64), j ->
        |          CASE WHEN ss[CAST(j AS INT) + 2] > ss[CAST(j AS INT) + 1] THEN
        |            CASE WHEN j = 63 THEN CAST('-9223372036854775808' AS HUGEINT)
        |                 ELSE CAST(CAST(1 AS BIGINT) << CAST(j AS INT) AS HUGEINT)
        |            END
        |          ELSE CAST(0 AS HUGEINT) END), 'sum') AS BIGINT) AS afp
        |      FROM g)
        |SELECT t.doc_id, h.afp FROM t LEFT JOIN h USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,

    "q88_wav_codec" ->
      """WITH t AS (SELECT doc_id, text, octet_length(encode(text)) AS n
        |           FROM documents),
        |sm AS (SELECT doc_id,
        |         list_transform(range(0, 16),
        |           x -> (ascii(substr(text, CAST(x * n // 16 AS INT) + 1, 1))
        |                 - 128) * 256) AS s
        |       FROM t WHERE doc_id % 97 <> 0),
        |st AS (SELECT doc_id,
        |         CAST(list_aggregate(s, 'sum') AS BIGINT) AS cs,
        |         CAST(list_aggregate(list_transform(s, v -> abs(v)), 'max')
        |              AS INT) AS pk
        |       FROM sm)
        |SELECT t.doc_id,
        |  CASE WHEN t.doc_id % 97 = 0 THEN NULL ELSE 8000 END AS sample_rate,
        |  CASE WHEN t.doc_id % 97 = 0 THEN NULL ELSE 1 END AS channels,
        |  CASE WHEN t.doc_id % 97 = 0 THEN NULL
        |       ELSE CAST(16 AS BIGINT) END AS n_frames,
        |  st.cs AS sample_checksum,
        |  CASE WHEN t.doc_id % 97 = 0 THEN NULL
        |       ELSE round(st.cs / 16.0, 4) END AS mean_sample,
        |  st.pk AS peak
        |FROM t LEFT JOIN st USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,

    // video-hash replay: center-frame pixel x = byte (x+2) mod n,
    // brightness = 3·byte (grayscale-replicated RGB), the q135 64-bit
    // builder over the 8 column samples
    "q138_video_hash" ->
      """WITH t AS (SELECT doc_id, text, octet_length(encode(text)) AS n
        |           FROM documents),
        |g AS (SELECT doc_id,
        |        list_transform(range(0, 8), c ->
        |          3 * CAST(ascii(substr(text,
        |            ((CAST((c * n) // 8 AS INT) + 2) % n) + 1, 1)) AS BIGINT))
        |          AS cs
        |      FROM t WHERE doc_id % 97 <> 0 AND n >= 1),
        |h AS (SELECT doc_id,
        |        CAST(list_aggregate(list_transform(range(0, 64), j ->
        |          CASE WHEN 64 * cs[CAST(j % 8 AS INT) + 1]
        |                    > 8 * list_aggregate(cs, 'sum') THEN
        |            CASE WHEN j = 63 THEN CAST('-9223372036854775808' AS HUGEINT)
        |                 ELSE CAST(CAST(1 AS BIGINT) << CAST(j AS INT) AS HUGEINT)
        |            END
        |          ELSE CAST(0 AS HUGEINT) END), 'sum') AS BIGINT) AS vhash
        |      FROM g)
        |SELECT t.doc_id, h.vhash FROM t LEFT JOIN h USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,

    "q90_avi_codec" ->
      """WITH t AS (SELECT doc_id, text, octet_length(encode(text)) AS n
        |           FROM documents),
        |px AS (SELECT doc_id,
        |         list_transform(
        |           flatten(list_transform(range(0, 4), f ->
        |             list_transform(range(0, 16), x ->
        |               (CAST(x * n // 16 AS INT) + f) % n))),
        |           i -> ascii(substr(text, CAST(i AS INT) + 1, 1))) AS pix
        |       FROM t WHERE doc_id % 97 <> 0),
        |st AS (SELECT doc_id,
        |         CAST(3 * list_aggregate(pix, 'sum') AS BIGINT) AS s
        |       FROM px)
        |SELECT t.doc_id,
        |  CASE WHEN t.doc_id % 97 = 0 THEN NULL ELSE 16 END AS width,
        |  CASE WHEN t.doc_id % 97 = 0 THEN NULL ELSE 1 END AS height,
        |  CASE WHEN t.doc_id % 97 = 0 THEN NULL ELSE 3 END AS channels,
        |  CASE WHEN t.doc_id % 97 = 0 THEN NULL
        |       ELSE CAST(4 AS BIGINT) END AS n_frames,
        |  st.s AS pix_checksum,
        |  CASE WHEN t.doc_id % 97 = 0 THEN NULL
        |       ELSE round(st.s / 192.0, 6) END AS mean_pixel
        |FROM t LEFT JOIN st USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,

    "q51_multimodal_roundtrip" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 97 = 0 THEN NULL
        |       ELSE CAST(octet_length(encode(text)) % 256 AS INT) END AS width,
        |  CASE WHEN doc_id % 97 = 0 THEN NULL
        |       ELSE CAST(octet_length(encode(text)) // 256 % 256 AS INT) END AS height,
        |  CASE WHEN doc_id % 97 = 0 THEN NULL
        |       ELSE CAST(1 + doc_id % 3 AS INT) END AS channels,
        |  CASE WHEN doc_id % 97 = 0 THEN NULL
        |       ELSE CAST(doc_id % 3 AS INT) END AS kind,
        |  CASE WHEN doc_id % 97 = 0 THEN NULL
        |       ELSE CAST(octet_length(encode(text)) AS INT) END AS payload_len,
        |  doc_id % 97 <> 0 AS valid
        |FROM documents ORDER BY doc_id""".stripMargin,

    // PQ replay: per (vector, subspace, centroid) exact-double
    // subdistance (the same three list_dot_product sums the kernel
    // accumulates), per-subspace argmin with (d2, id) order, the
    // micro-unit integer ADC cells from query vec 0, and the
    // order-free integer ADC sum
    "q121_pq_codes" -> {
      def slice(src: String, ms: String) =
        s"list_slice($src, $ms*$PqSub + 1, $ms*$PqSub + $PqSub)"
      val sa = slice("e.v", "ms.m"); val sc = slice("cb.v", "ms.m")
      val cCols = (0 until PqM)
        .map(i => s"CAST(max(CASE WHEN m = $i THEN kk END) AS INT) AS c$i")
        .mkString(",\n         ")
      val qJoins = (0 until PqM)
        .map(i => s"JOIN qd q$i ON q$i.m = $i AND q$i.kk = p.c$i").mkString("\n      ")
      val adcSum = (0 until PqM).map(i => s"q$i.qdi").mkString(" + ")
      s"""WITH e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |cb AS (SELECT vec_id AS kk, v FROM e WHERE vec_id < $PqK),
         |ms AS (SELECT unnest(range(0, $PqM)) AS m),
         |sd AS (SELECT e.vec_id, ms.m, cb.kk,
         |        (list_dot_product($sa, $sa)
         |         - 2 * list_dot_product($sa, $sc)
         |         + list_dot_product($sc, $sc)) AS d2
         |       FROM e CROSS JOIN ms CROSS JOIN cb),
         |codes AS (SELECT vec_id, m, kk FROM (
         |    SELECT vec_id, m, kk,
         |      row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, kk) AS rn
         |    FROM sd) WHERE rn = 1),
         |qd AS (SELECT m, kk, CAST(floor(1000000 * d2) AS BIGINT) AS qdi
         |       FROM sd WHERE vec_id = 0),
         |p AS (SELECT vec_id,
         |         $cCols
         |      FROM codes GROUP BY 1)
         |SELECT p.vec_id, ${(0 until PqM).map(i => s"p.c$i").mkString(", ")},
         |  CAST($adcSum AS BIGINT) AS adc
         |FROM p
         |      $qJoins
         |ORDER BY p.vec_id""".stripMargin
    },

    // IVFADC replay: the q121 derivation (exact-double subdistances,
    // per-subspace argmin codes, micro-unit ADC cells from query vec
    // 0) followed by the ascending-ADC top-20 pick over every list —
    // all probes, so the pruned layout must reproduce the brute-force
    // integer ranking exactly
    "q122_ivfadc" -> {
      def slice(src: String, ms: String) =
        s"list_slice($src, $ms*$PqSub + 1, $ms*$PqSub + $PqSub)"
      val sa = slice("e.v", "ms.m"); val sc = slice("cb.v", "ms.m")
      val cCols = (0 until PqM)
        .map(i => s"CAST(max(CASE WHEN m = $i THEN kk END) AS INT) AS c$i")
        .mkString(",\n         ")
      val qJoins = (0 until PqM)
        .map(i => s"JOIN qd q$i ON q$i.m = $i AND q$i.kk = p.c$i").mkString("\n      ")
      val adcSum = (0 until PqM).map(i => s"q$i.qdi").mkString(" + ")
      s"""WITH e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |cb AS (SELECT vec_id AS kk, v FROM e WHERE vec_id < $PqK),
         |ms AS (SELECT unnest(range(0, $PqM)) AS m),
         |sd AS (SELECT e.vec_id, ms.m, cb.kk,
         |        (list_dot_product($sa, $sa)
         |         - 2 * list_dot_product($sa, $sc)
         |         + list_dot_product($sc, $sc)) AS d2
         |       FROM e CROSS JOIN ms CROSS JOIN cb),
         |codes AS (SELECT vec_id, m, kk FROM (
         |    SELECT vec_id, m, kk,
         |      row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, kk) AS rn
         |    FROM sd) WHERE rn = 1),
         |qd AS (SELECT m, kk, CAST(floor(1000000 * d2) AS BIGINT) AS qdi
         |       FROM sd WHERE vec_id = 0),
         |p AS (SELECT vec_id,
         |         $cCols
         |      FROM codes GROUP BY 1)
         |SELECT p.vec_id, CAST($adcSum AS BIGINT) AS adc
         |FROM p
         |      $qJoins
         |WHERE p.vec_id <> 0
         |ORDER BY CAST($adcSum AS BIGINT) ASC, p.vec_id ASC
         |LIMIT 20""".stripMargin
    },

    // two-stage replay: the q122 derivation cut at the 60-candidate
    // (adc, vec_id) boundary, then the q30 exact-cosine ranking over
    // exactly those rows — one wrong code, cell, candidate or cosine
    // anywhere flips the final top-20
    "q157_adc_rerank" -> {
      def slice(src: String, ms: String) =
        s"list_slice($src, $ms*$PqSub + 1, $ms*$PqSub + $PqSub)"
      val sa = slice("e.v", "ms.m"); val sc = slice("cb.v", "ms.m")
      val cCols = (0 until PqM)
        .map(i => s"CAST(max(CASE WHEN m = $i THEN kk END) AS INT) AS c$i")
        .mkString(",\n         ")
      val qJoins = (0 until PqM)
        .map(i => s"JOIN qd q$i ON q$i.m = $i AND q$i.kk = p.c$i").mkString("\n      ")
      val adcSum = (0 until PqM).map(i => s"q$i.qdi").mkString(" + ")
      s"""WITH e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |cb AS (SELECT vec_id AS kk, v FROM e WHERE vec_id < $PqK),
         |ms AS (SELECT unnest(range(0, $PqM)) AS m),
         |sd AS (SELECT e.vec_id, ms.m, cb.kk,
         |        (list_dot_product($sa, $sa)
         |         - 2 * list_dot_product($sa, $sc)
         |         + list_dot_product($sc, $sc)) AS d2
         |       FROM e CROSS JOIN ms CROSS JOIN cb),
         |codes AS (SELECT vec_id, m, kk FROM (
         |    SELECT vec_id, m, kk,
         |      row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, kk) AS rn
         |    FROM sd) WHERE rn = 1),
         |qd AS (SELECT m, kk, CAST(floor(1000000 * d2) AS BIGINT) AS qdi
         |       FROM sd WHERE vec_id = 0),
         |p AS (SELECT vec_id,
         |         $cCols
         |      FROM codes GROUP BY 1),
         |cand AS (SELECT p.vec_id
         |  FROM p
         |      $qJoins
         |  WHERE p.vec_id <> 0
         |  ORDER BY CAST($adcSum AS BIGINT) ASC, p.vec_id ASC
         |  LIMIT 60),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         |d AS (SELECT e.vec_id,
         |    list_dot_product(e.v, q.qv) AS dp,
         |    sqrt(list_dot_product(e.v, e.v)) AS nv,
         |    sqrt(list_dot_product(q.qv, q.qv)) AS nq
         |  FROM cand JOIN e USING (vec_id), q)
         |SELECT vec_id, round(dp / (nv * nq), 4) AS cos
         |FROM d ORDER BY round(dp / (nv * nq), 4) DESC, vec_id LIMIT 20""".stripMargin
    },

    // rotated-PQ replay: the 16 Givens rotations unrolled as chained
    // CTEs (same multiply-add order as the kernel), then the q121
    // PQ/ADC derivation verbatim over the rotated frame
    "q133_rotated_pq" -> {
      val pairs = graft.operators.Similarity.givensPairs(64, RotRounds)
      val rotCtes = pairs.zipWithIndex.map { case ((i, j), r) =>
        s"""e${r + 1} AS (SELECT vec_id, list_transform(range(1, 65), ix ->
           |    CASE WHEN ix = ${i + 1}
           |         THEN 0.6 * v[${i + 1}] + 0.8 * v[${j + 1}]
           |         WHEN ix = ${j + 1}
           |         THEN -0.8 * v[${i + 1}] + 0.6 * v[${j + 1}]
           |         ELSE v[ix] END) AS v
           |  FROM e$r)""".stripMargin
      }.mkString(",\n")
      val fin = s"e${pairs.length}"
      def slice(src: String, ms: String) =
        s"list_slice($src, $ms*$PqSub + 1, $ms*$PqSub + $PqSub)"
      val sa = slice("e.v", "ms.m"); val sc = slice("cb.v", "ms.m")
      val cCols = (0 until PqM)
        .map(i => s"CAST(max(CASE WHEN m = $i THEN kk END) AS INT) AS c$i")
        .mkString(",\n         ")
      val qJoins = (0 until PqM)
        .map(i => s"JOIN qd q$i ON q$i.m = $i AND q$i.kk = p.c$i").mkString("\n      ")
      val adcSum = (0 until PqM).map(i => s"q$i.qdi").mkString(" + ")
      s"""WITH e0 AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |$rotCtes,
         |e AS (SELECT vec_id, v FROM $fin),
         |cb AS (SELECT vec_id AS kk, v FROM e WHERE vec_id < $PqK),
         |ms AS (SELECT unnest(range(0, $PqM)) AS m),
         |sd AS (SELECT e.vec_id, ms.m, cb.kk,
         |        (list_dot_product($sa, $sa)
         |         - 2 * list_dot_product($sa, $sc)
         |         + list_dot_product($sc, $sc)) AS d2
         |       FROM e CROSS JOIN ms CROSS JOIN cb),
         |codes AS (SELECT vec_id, m, kk FROM (
         |    SELECT vec_id, m, kk,
         |      row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, kk) AS rn
         |    FROM sd) WHERE rn = 1),
         |qd AS (SELECT m, kk, CAST(floor(1000000 * d2) AS BIGINT) AS qdi
         |       FROM sd WHERE vec_id = 0),
         |p AS (SELECT vec_id,
         |         $cCols
         |      FROM codes GROUP BY 1)
         |SELECT p.vec_id, ${(0 until PqM).map(i => s"p.c$i").mkString(", ")},
         |  CAST($adcSum AS BIGINT) AS adc
         |FROM p
         |      $qJoins
         |ORDER BY p.vec_id""".stripMargin
    },

    // residual IVFADC replay: seed-centroid Voronoi assignment (score
    // = cc − 2vc, ties to smallest cid), residual r = v − cv, residual
    // codebook = r of vec_id < k, per-(vec,m) subspace argmin over the
    // residual slices, per-LIST query cell tables floor(1e6·(aa−2ab+bb))
    // over the query residual, then the (adc, vec_id) top-k pick —
    // the entire index derivation in one SQL statement
    "q123_residual_ivfadc" -> {
      def slice(src: String, ms: String) =
        s"list_slice($src, $ms*$PqSub + 1, $ms*$PqSub + $PqSub)"
      val sa = slice("res.r", "ms.m"); val sc = slice("cb.cv", "ms.m")
      val qa = slice("qres.qr", "ms.m")
      val cCols = (0 until PqM)
        .map(i => s"CAST(max(CASE WHEN m = $i THEN kk END) AS INT) AS c$i")
        .mkString(",\n         ")
      val qJoins = (0 until PqM)
        .map(i => s"JOIN qd q$i ON q$i.cid = pa.cid AND q$i.m = $i AND q$i.kk = pa.c$i")
        .mkString("\n      ")
      val adcSum = (0 until PqM).map(i => s"q$i.qdi").mkString(" + ")
      s"""WITH e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |c AS (SELECT CAST(vec_id AS INT) AS cid, v AS cv FROM e WHERE vec_id < 8),
         |sc0 AS (SELECT e.vec_id, e.v, c.cid,
         |    list_dot_product(c.cv, c.cv) - 2 * list_dot_product(e.v, c.cv) AS score
         |  FROM e, c),
         |asn AS (SELECT vec_id, v, cid FROM (
         |    SELECT vec_id, v, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY score, cid) AS rn
         |    FROM sc0) WHERE rn = 1),
         |res AS (SELECT a.vec_id, a.cid,
         |    list_transform(range(1, 65), i -> a.v[i] - c.cv[i]) AS r
         |  FROM asn a JOIN c USING (cid)),
         |cb AS (SELECT vec_id AS kk, r AS cv FROM res WHERE vec_id < $PqK),
         |ms AS (SELECT unnest(range(0, $PqM)) AS m),
         |sd AS (SELECT res.vec_id, ms.m, cb.kk,
         |        (list_dot_product($sa, $sa)
         |         - 2 * list_dot_product($sa, $sc)
         |         + list_dot_product($sc, $sc)) AS d2
         |       FROM res CROSS JOIN ms CROSS JOIN cb),
         |codes AS (SELECT vec_id, m, kk FROM (
         |    SELECT vec_id, m, kk,
         |      row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, kk) AS rn
         |    FROM sd) WHERE rn = 1),
         |qres AS (SELECT c.cid,
         |    list_transform(range(1, 65), i -> q.v[i] - c.cv[i]) AS qr
         |  FROM c CROSS JOIN (SELECT v FROM e WHERE vec_id = 0) q),
         |qd AS (SELECT qres.cid, ms.m, cb.kk,
         |    CAST(floor(1000000 * (list_dot_product($qa, $qa)
         |         - 2 * list_dot_product($qa, $sc)
         |         + list_dot_product($sc, $sc))) AS BIGINT) AS qdi
         |  FROM qres CROSS JOIN ms CROSS JOIN cb),
         |p AS (SELECT vec_id,
         |         $cCols
         |      FROM codes GROUP BY 1),
         |pa AS (SELECT p.*, asn.cid FROM p JOIN asn USING (vec_id))
         |SELECT pa.vec_id, CAST($adcSum AS BIGINT) AS adc
         |FROM pa
         |      $qJoins
         |WHERE pa.vec_id <> 0
         |ORDER BY CAST($adcSum AS BIGINT) ASC, pa.vec_id ASC
         |LIMIT 20""".stripMargin
    },

    // hashing-trick replay: bucket = first 13 md5 hex digits mod dim,
    // sign = parity of hex digit 14, ±1 per word occurrence, empty
    // segments skipped — the same derivation graft_fhash performs
    "q124_feature_hash" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |           FROM documents),
        |t AS (SELECT doc_id, md5(term) AS h FROM w WHERE term <> ''),
        |b AS (SELECT doc_id,
        |    CAST(('0x' || substr(h, 1, 13)) AS BIGINT) % 256 AS bucket,
        |    CASE WHEN CAST(('0x' || substr(h, 14, 1)) AS INT) % 2 = 1
        |         THEN 1 ELSE -1 END AS s
        |  FROM t)
        |SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
        |  CAST(sum(s) AS BIGINT) AS w
        |FROM b GROUP BY 1, 2 HAVING sum(s) <> 0
        |ORDER BY doc_id, bucket""".stripMargin,

    // composition replay: q131's removal CTEs + q129's clustering
    // CTEs joined per doc, then the integer keep rules and per-cluster
    // rollup — stage drift anywhere breaks the hash
    "q132_text_curation" ->
      """WITH wr AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (SELECT doc_id, i AS pos,
        |        CAST(('0x' || substr(md5(array_to_string(
        |          list_slice(ws, i + 1, i + 10), ' ')), 1, 12)) AS BIGINT) AS gh
        |      FROM wr, unnest(range(0, len(ws) - 9)) AS t(i)),
        |dup AS (SELECT gh FROM (SELECT gh, count(DISTINCT doc_id) AS nd
        |                        FROM g GROUP BY 1) WHERE nd >= 2),
        |h AS (SELECT doc_id, pos, gh FROM g
        |      WHERE gh IN (SELECT gh FROM dup)),
        |r AS (SELECT doc_id, pos, gh,
        |        pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |      FROM h),
        |isl AS (SELECT doc_id, min(pos) AS s, max(pos) + 9 AS e,
        |         arg_min(gh, pos) AS key_gh
        |        FROM r GROUP BY doc_id, grp),
        |no AS (SELECT doc_id, s, e FROM (
        |    SELECT doc_id, s, e,
        |      row_number() OVER (PARTITION BY key_gh ORDER BY doc_id, s) AS rk
        |    FROM isl) WHERE rk > 1),
        |r2 AS (SELECT doc_id, s, e,
        |        max(e) OVER (PARTITION BY doc_id ORDER BY s, e
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |       FROM no),
        |cut AS (SELECT doc_id,
        |         sum(greatest(0, e - greatest(s - 1, coalesce(prev_end, -1))))
        |           AS nw
        |        FROM r2 GROUP BY 1),
        |wl AS (SELECT doc_id, len(string_split(text, ' ')) AS n_words
        |       FROM documents),
        |rem AS (SELECT wl.doc_id, wl.n_words, coalesce(cut.nw, 0) AS nwr
        |        FROM wl LEFT JOIN cut USING (doc_id)),
        |tw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |       FROM documents),
        |t2 AS (SELECT doc_id, md5(term) AS h FROM tw WHERE term <> ''),
        |b2 AS (SELECT doc_id,
        |    CAST(('0x' || substr(h, 1, 13)) AS BIGINT) % 256 AS bucket,
        |    CASE WHEN CAST(('0x' || substr(h, 14, 1)) AS INT) % 2 = 1
        |         THEN 1 ELSE -1 END AS sgn
        |  FROM t2),
        |v2 AS (SELECT doc_id, bucket, CAST(sum(sgn) AS DOUBLE) AS w
        |       FROM b2 GROUP BY 1, 2 HAVING sum(sgn) <> 0),
        |sd AS (SELECT * FROM (VALUES (0, 0), (1, 1), (2, 2), (3, 3))
        |       AS t(sdoc, cid)),
        |sv2 AS (SELECT sd.cid, v2.bucket, v2.w FROM sd
        |        JOIN v2 ON v2.doc_id = sd.sdoc),
        |cn2 AS (SELECT cid, sum(w * w) AS cc FROM sv2 GROUP BY 1),
        |dots2 AS (SELECT v2.doc_id, sv2.cid, sum(v2.w * sv2.w) AS vc
        |          FROM v2 JOIN sv2 USING (bucket) GROUP BY 1, 2),
        |dd AS (SELECT doc_id FROM documents),
        |asn AS (SELECT doc_id, cid FROM (
        |    SELECT dd.doc_id, cn2.cid,
        |      row_number() OVER (PARTITION BY dd.doc_id
        |        ORDER BY cn2.cc - 2 * coalesce(dots2.vc, 0), cn2.cid) AS rn
        |    FROM dd CROSS JOIN cn2
        |    LEFT JOIN dots2 ON dots2.doc_id = dd.doc_id AND dots2.cid = cn2.cid)
        |  WHERE rn = 1),
        |j AS (SELECT rem.doc_id, rem.n_words, rem.nwr, asn.cid,
        |        rem.n_words >= 20 AS quality,
        |        rem.n_words >= 20 AND rem.nwr * 2 < rem.n_words AS kept
        |      FROM rem JOIN asn ON asn.doc_id = rem.doc_id)
        |SELECT CAST(cid AS BIGINT) AS cluster_id,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN quality THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
        |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN kept THEN n_words - nwr ELSE 0 END) AS BIGINT)
        |    AS words_kept
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,

    // span-removal replay: q127's islands with their first-seed hash
    // as content key, ownership rank, per-doc interval union via the
    // running-max window, zero-filled per-doc manifest
    "q131_dedup_apply_spans" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (SELECT doc_id, i AS pos,
        |        CAST(('0x' || substr(md5(array_to_string(
        |          list_slice(ws, i + 1, i + 10), ' ')), 1, 12)) AS BIGINT) AS gh
        |      FROM w, unnest(range(0, len(ws) - 9)) AS t(i)),
        |dup AS (SELECT gh FROM (SELECT gh, count(DISTINCT doc_id) AS nd
        |                        FROM g GROUP BY 1) WHERE nd >= 2),
        |h AS (SELECT doc_id, pos, gh FROM g
        |      WHERE gh IN (SELECT gh FROM dup)),
        |r AS (SELECT doc_id, pos, gh,
        |        pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |      FROM h),
        |isl AS (SELECT doc_id, min(pos) AS s, max(pos) + 9 AS e,
        |         arg_min(gh, pos) AS key_gh
        |        FROM r GROUP BY doc_id, grp),
        |no AS (SELECT doc_id, s, e FROM (
        |    SELECT doc_id, s, e,
        |      row_number() OVER (PARTITION BY key_gh ORDER BY doc_id, s) AS rk
        |    FROM isl) WHERE rk > 1),
        |r2 AS (SELECT doc_id, s, e,
        |        max(e) OVER (PARTITION BY doc_id ORDER BY s, e
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |       FROM no),
        |cut AS (SELECT doc_id, count(*) AS nsp,
        |         sum(greatest(0, e - greatest(s - 1, coalesce(prev_end, -1))))
        |           AS nw
        |        FROM r2 GROUP BY 1),
        |wl AS (SELECT doc_id, len(string_split(text, ' ')) AS n_words
        |       FROM documents)
        |SELECT wl.doc_id, CAST(wl.n_words AS BIGINT) AS n_words,
        |  CAST(coalesce(cut.nsp, 0) AS BIGINT) AS n_spans_removed,
        |  CAST(coalesce(cut.nw, 0) AS BIGINT) AS n_words_removed
        |FROM wl LEFT JOIN cut USING (doc_id)
        |ORDER BY wl.doc_id""".stripMargin,

    // q171: q131's CTE chain to the merged non-owner regions, then
    // covered word positions anti-joined away and the clean text
    // re-agreed in word order
    "q171_dedup_rewrite" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (SELECT doc_id, i AS pos,
        |        CAST(('0x' || substr(md5(array_to_string(
        |          list_slice(ws, i + 1, i + 10), ' ')), 1, 12)) AS BIGINT) AS gh
        |      FROM w, unnest(range(0, len(ws) - 9)) AS t(i)),
        |dup AS (SELECT gh FROM (SELECT gh, count(DISTINCT doc_id) AS nd
        |                        FROM g GROUP BY 1) WHERE nd >= 2),
        |h AS (SELECT doc_id, pos, gh FROM g
        |      WHERE gh IN (SELECT gh FROM dup)),
        |r AS (SELECT doc_id, pos, gh,
        |        pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |      FROM h),
        |isl AS (SELECT doc_id, min(pos) AS s, max(pos) + 9 AS e,
        |         arg_min(gh, pos) AS key_gh
        |        FROM r GROUP BY doc_id, grp),
        |no AS (SELECT doc_id, s, e FROM (
        |    SELECT doc_id, s, e,
        |      row_number() OVER (PARTITION BY key_gh ORDER BY doc_id, s) AS rk
        |    FROM isl) WHERE rk > 1),
        |cov AS (SELECT DISTINCT doc_id, unnest(generate_series(s, e)) AS i
        |        FROM no),
        |wi AS (SELECT doc_id, i, ws[CAST(i AS INT) + 1] AS word
        |       FROM w, unnest(range(0, len(ws))) AS t(i)),
        |keptw AS (SELECT wi.doc_id, wi.i, wi.word
        |          FROM wi LEFT JOIN cov
        |            ON wi.doc_id = cov.doc_id AND wi.i = cov.i
        |          WHERE cov.i IS NULL),
        |asm AS (SELECT doc_id,
        |         string_agg(word, ' ' ORDER BY i) AS clean_text,
        |         count(*) AS nw
        |        FROM keptw GROUP BY 1)
        |SELECT w.doc_id, CAST(len(w.ws) AS BIGINT) AS n_words,
        |  coalesce(asm.clean_text, '') AS clean_text,
        |  CAST(coalesce(asm.nw, 0) AS BIGINT) AS n_words_kept
        |FROM w LEFT JOIN asm USING (doc_id)
        |ORDER BY w.doc_id""".stripMargin,

    // text-IVF replay: the ONLY pruned-probe gate — hashed sparse
    // vectors, 8-seed Voronoi assignment, integer centroid distances
    // rank the 4 probed lists, membership filter, cosine top-k — the
    // full index serving path in one SQL statement
    "q130_text_ivf" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |           FROM documents),
        |t AS (SELECT doc_id, md5(term) AS h FROM w WHERE term <> ''),
        |b AS (SELECT doc_id,
        |    CAST(('0x' || substr(h, 1, 13)) AS BIGINT) % 256 AS bucket,
        |    CASE WHEN CAST(('0x' || substr(h, 14, 1)) AS INT) % 2 = 1
        |         THEN 1 ELSE -1 END AS s
        |  FROM t),
        |v AS (SELECT doc_id, bucket, CAST(sum(s) AS DOUBLE) AS w
        |      FROM b GROUP BY 1, 2 HAVING sum(s) <> 0),
        |n AS (SELECT doc_id, sum(w * w) AS nn FROM v GROUP BY 1),
        |sd AS (SELECT * FROM (VALUES (0, 0), (1, 1), (2, 2), (3, 3),
        |       (4, 4), (5, 5), (6, 6), (7, 7)) AS t(sdoc, cid)),
        |sv AS (SELECT sd.cid, v.bucket, v.w FROM sd
        |       JOIN v ON v.doc_id = sd.sdoc),
        |cn AS (SELECT cid, sum(w * w) AS cc FROM sv GROUP BY 1),
        |dots AS (SELECT v.doc_id, sv.cid, sum(v.w * sv.w) AS vc
        |         FROM v JOIN sv USING (bucket) GROUP BY 1, 2),
        |dd AS (SELECT doc_id FROM documents),
        |asn AS (SELECT doc_id, cid FROM (
        |    SELECT dd.doc_id, cn.cid,
        |      row_number() OVER (PARTITION BY dd.doc_id
        |        ORDER BY cn.cc - 2 * coalesce(dots.vc, 0), cn.cid) AS rn
        |    FROM dd CROSS JOIN cn
        |    LEFT JOIN dots ON dots.doc_id = dd.doc_id AND dots.cid = cn.cid)
        |  WHERE rn = 1),
        |qq AS (SELECT nn FROM n WHERE doc_id = 0),
        |pr AS (SELECT cn.cid FROM cn
        |       LEFT JOIN dots d0 ON d0.cid = cn.cid AND d0.doc_id = 0, qq
        |       ORDER BY cn.cc - 2 * coalesce(d0.vc, 0) + qq.nn, cn.cid
        |       LIMIT 4),
        |qv AS (SELECT bucket, w FROM v WHERE doc_id = 0),
        |mem AS (SELECT asn.doc_id FROM asn
        |        WHERE asn.cid IN (SELECT cid FROM pr) AND asn.doc_id <> 0),
        |dq AS (SELECT v.doc_id, sum(v.w * qv.w) AS dot
        |       FROM v JOIN qv USING (bucket)
        |       WHERE v.doc_id IN (SELECT doc_id FROM mem) GROUP BY 1),
        |sc AS (SELECT mem.doc_id AS vec_id,
        |         round(coalesce(dq.dot, 0) / (sqrt(n.nn) * sqrt(qq.nn)), 4)
        |           AS cos
        |       FROM mem JOIN n ON n.doc_id = mem.doc_id
        |       LEFT JOIN dq ON dq.doc_id = mem.doc_id, qq)
        |SELECT vec_id, cos FROM sc ORDER BY cos DESC, vec_id LIMIT 20""".stripMargin,

    // text-cluster replay: q124's sparse vectors, seed norms and
    // sparse dots per (doc, seed), score = cc − 2·vc (exact integers),
    // (score, cid) argmin, window cluster sizes
    "q129_text_clusters" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |           FROM documents),
        |t AS (SELECT doc_id, md5(term) AS h FROM w WHERE term <> ''),
        |b AS (SELECT doc_id,
        |    CAST(('0x' || substr(h, 1, 13)) AS BIGINT) % 256 AS bucket,
        |    CASE WHEN CAST(('0x' || substr(h, 14, 1)) AS INT) % 2 = 1
        |         THEN 1 ELSE -1 END AS s
        |  FROM t),
        |v AS (SELECT doc_id, bucket, CAST(sum(s) AS DOUBLE) AS w
        |      FROM b GROUP BY 1, 2 HAVING sum(s) <> 0),
        |sd AS (SELECT * FROM (VALUES (0, 0), (1, 1), (2, 2), (3, 3))
        |       AS t(sdoc, cid)),
        |sv AS (SELECT sd.cid, v.bucket, v.w FROM sd
        |       JOIN v ON v.doc_id = sd.sdoc),
        |cn AS (SELECT cid, sum(w * w) AS cc FROM sv GROUP BY 1),
        |dots AS (SELECT v.doc_id, sv.cid, sum(v.w * sv.w) AS vc
        |         FROM v JOIN sv USING (bucket) GROUP BY 1, 2),
        |dd AS (SELECT doc_id FROM documents),
        |sc AS (SELECT dd.doc_id, cn.cid,
        |         cn.cc - 2 * coalesce(dots.vc, 0) AS score
        |       FROM dd CROSS JOIN cn
        |       LEFT JOIN dots ON dots.doc_id = dd.doc_id AND dots.cid = cn.cid),
        |asn AS (SELECT doc_id, cid, score FROM (
        |    SELECT doc_id, cid, score,
        |      row_number() OVER (PARTITION BY doc_id ORDER BY score, cid) AS rn
        |    FROM sc) WHERE rn = 1)
        |SELECT doc_id, CAST(cid AS BIGINT) AS cluster_id,
        |  CAST(score AS BIGINT) AS score,
        |  count(*) OVER (PARTITION BY cid) AS cluster_n
        |FROM asn ORDER BY doc_id""".stripMargin,

    // JL replay: sign(j,i) = parity of the first md5 hex digit of
    // 'jl:j:i', dot via the same sequential fold
    "q128_jl_project" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |s AS (SELECT j, list_transform(range(0, 64), i ->
        |        CASE WHEN CAST(('0x' || substr(md5('jl:' || j || ':' || i), 1, 1))
        |                  AS INT) % 2 = 1
        |             THEN 1.0 ELSE -1.0 END) AS sv
        |      FROM (SELECT unnest(range(0, 16)) AS j))
        |SELECT e.vec_id, CAST(s.j AS BIGINT) AS out_dim,
        |  round(list_dot_product(e.v, s.sv), 4) AS p
        |FROM e CROSS JOIN s
        |ORDER BY e.vec_id, s.j""".stripMargin,

    // hashed kNN replay: the same sparse vectors, integer dots via a
    // bucket join against doc 0's entries, integer norms, one rounded
    // division — zero-norm docs excluded like the engine side
    "q125_hashed_knn" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |           FROM documents),
        |t AS (SELECT doc_id, md5(term) AS h FROM w WHERE term <> ''),
        |b AS (SELECT doc_id,
        |    CAST(('0x' || substr(h, 1, 13)) AS BIGINT) % 256 AS bucket,
        |    CASE WHEN CAST(('0x' || substr(h, 14, 1)) AS INT) % 2 = 1
        |         THEN 1 ELSE -1 END AS s
        |  FROM t),
        |v AS (SELECT doc_id, bucket, CAST(sum(s) AS DOUBLE) AS w
        |      FROM b GROUP BY 1, 2 HAVING sum(s) <> 0),
        |n AS (SELECT doc_id, sum(w * w) AS nn FROM v GROUP BY 1),
        |q AS (SELECT bucket, w FROM v WHERE doc_id = 0),
        |qn AS (SELECT sqrt(nn) AS qn FROM n WHERE doc_id = 0),
        |d AS (SELECT v.doc_id, sum(v.w * q.w) AS dot
        |      FROM v JOIN q USING (bucket) GROUP BY 1),
        |sc AS (SELECT n.doc_id,
        |    round(coalesce(d.dot, 0) / (sqrt(n.nn) * qn.qn), 4) AS cos
        |  FROM n LEFT JOIN d USING (doc_id), qn
        |  WHERE n.doc_id <> 0 AND n.nn > 0)
        |SELECT doc_id, cos FROM sc ORDER BY cos DESC, doc_id LIMIT 20""".stripMargin,

    // k-center replay: every greedy round unrolled — round i's CTE
    // computes each remaining point's exact-double min squared L2 to
    // the accumulated selected set (aa - 2ab + bb, the same sequential
    // sums graft_dot performs), rounds to the shared 4-decimal
    // currency, and re-derives the (dmin DESC, vec_id) winner
    "q117_kcenter" -> {
      val rounds = (2 to KCenterK).map { i =>
        val prev = s"a${i - 1}"
        s"""d$i AS (SELECT e.vec_id,
           |    round(min(list_dot_product(e.v, e.v)
           |      - 2 * list_dot_product(e.v, s.v)
           |      + list_dot_product(s.v, s.v)), 4) AS dmin
           |  FROM e, e s
           |  WHERE s.vec_id IN (SELECT vec_id FROM $prev)
           |    AND e.vec_id NOT IN (SELECT vec_id FROM $prev)
           |  GROUP BY e.vec_id),
           |w$i AS (SELECT CAST($i AS INT) AS round, vec_id, dmin AS dist
           |  FROM d$i ORDER BY dmin DESC, vec_id LIMIT 1),
           |a$i AS (SELECT vec_id FROM $prev UNION ALL SELECT vec_id FROM w$i)"""
          .stripMargin
      }.mkString(",\n")
      val union = (1 to KCenterK)
        .map(i => s"SELECT round, vec_id, dist FROM w$i").mkString("\nUNION ALL ")
      s"""WITH e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |w1 AS (SELECT CAST(1 AS INT) AS round, vec_id,
         |    CAST(0.0 AS DOUBLE) AS dist FROM e WHERE vec_id = 0),
         |a1 AS (SELECT vec_id FROM w1),
         |$rounds
         |$union
         |ORDER BY round""".stripMargin
    },

    // winnowing replay: same md5-prefix gram hashes, same windows, and
    // the same rightmost-min rule — rightmost position of the window
    // minimum = i + W - (1-based position of the min in the REVERSED
    // window slice)
    // every cut decision replayed from the same 48-bit md5 prefixes
    // (i ends a chunk iff hash(w-gram ending at i) % d = 0, plus the
    // forced final end), then chunk intervals, chunk hashes, and the
    // cross-doc share counts
    "q162_cdc_chunks" ->
      s"""$cdcChunkCtes,
         |sh AS (SELECT chunk_hash, count(DISTINCT doc_id) AS n_docs
         |       FROM ch GROUP BY 1)
         |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
         |  CAST(fw AS BIGINT) AS from_word, CAST(tw AS BIGINT) AS to_word,
         |  CAST(tw - fw + 1 AS BIGINT) AS n_words, chunk_hash,
         |  CAST(n_docs AS BIGINT) AS n_docs
         |FROM ch JOIN sh USING (chunk_hash)
         |ORDER BY doc_id, chunk_idx""".stripMargin,

    // the same CDC replay split into index (doc_id < 250) and batch
    // (>= 250): per batch chunk, how many distinct index docs already
    // hold its hash — the lifecycle split (build < 200, append
    // 200..249) is invisible to the oracle because the append is
    // required to be equivalent to having built at 250
    "q163_cdc_ingest_probe" ->
      s"""$cdcChunkCtes,
         |idx AS (SELECT chunk_hash, count(DISTINCT doc_id) AS n_index_docs
         |        FROM ch WHERE doc_id < 250 GROUP BY 1),
         |bat AS (SELECT * FROM ch WHERE doc_id >= 250)
         |SELECT bat.doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
         |  CAST(fw AS BIGINT) AS from_word, CAST(tw AS BIGINT) AS to_word,
         |  CAST(tw - fw + 1 AS BIGINT) AS n_words, chunk_hash,
         |  CAST(coalesce(idx.n_index_docs, 0) AS BIGINT) AS n_index_docs
         |FROM bat LEFT JOIN idx USING (chunk_hash)
         |ORDER BY bat.doc_id, chunk_idx""".stripMargin,

    // byte-gear replay: window ending at 0-based byte i covers
    // 1-based chars [i - W + 2, i + 1] (pure-ASCII corpus: chars ≡
    // bytes, asserted by the media fixtures), cut iff the 48-bit md5
    // prefix ≡ 0 mod D; then chunk intervals, chunk hashes of the
    // raw slices, and cross-doc share counts
    "q167_cdc_byte_chunks" ->
      s"""$cdcByteCtes,
         |sh AS (SELECT chunk_hash, count(DISTINCT doc_id) AS n_docs
         |       FROM ch GROUP BY 1)
         |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
         |  CAST(fb AS BIGINT) AS from_byte, CAST(tb AS BIGINT) AS to_byte,
         |  CAST(tb - fb + 1 AS BIGINT) AS n_bytes, chunk_hash,
         |  CAST(n_docs AS BIGINT) AS n_docs
         |FROM ch JOIN sh USING (chunk_hash)
         |ORDER BY doc_id, chunk_idx""".stripMargin,

    // q173: byte-CDC first-occurrence selection + the gap-and-island
    // merge into maximal KEPT byte intervals (q164 at byte granularity)
    "q173_cdc_byte_manifest" ->
      s"""$cdcByteCtes,
         |kept AS (SELECT doc_id, chunk_idx, fb, tb FROM (
         |    SELECT doc_id, chunk_idx, fb, tb,
         |      row_number() OVER (PARTITION BY chunk_hash
         |                         ORDER BY doc_id, chunk_idx) AS rn
         |    FROM ch) WHERE rn = 1),
         |il AS (SELECT doc_id, chunk_idx, fb, tb,
         |    CASE WHEN lag(chunk_idx) OVER (PARTITION BY doc_id
         |                                   ORDER BY chunk_idx)
         |              = chunk_idx - 1 THEN 0 ELSE 1 END AS ns
         |  FROM kept),
         |sp AS (SELECT doc_id, fb, tb,
         |    sum(ns) OVER (PARTITION BY doc_id ORDER BY chunk_idx) AS span_id
         |  FROM il)
         |SELECT doc_id, CAST(span_id - 1 AS BIGINT) AS span_idx,
         |  CAST(min(fb) AS BIGINT) AS from_byte,
         |  CAST(max(tb) AS BIGINT) AS to_byte,
         |  CAST(sum(tb - fb + 1) AS BIGINT) AS n_bytes_kept,
         |  CAST(count(*) AS BIGINT) AS n_chunks
         |FROM sp GROUP BY doc_id, span_id
         |ORDER BY doc_id, span_idx""".stripMargin,

    // q174: the byte rewrite — kept chunk slices concatenated in
    // order, compared by md5 + byte length (a raw blob column would
    // defeat the scalar hash compare)
    "q174_cdc_byte_rewrite" ->
      s"""$cdcByteCtes,
         |kept AS (SELECT doc_id, chunk_idx, fb, tb FROM (
         |    SELECT doc_id, chunk_idx, fb, tb,
         |      row_number() OVER (PARTITION BY chunk_hash
         |                         ORDER BY doc_id, chunk_idx) AS rn
         |    FROM ch) WHERE rn = 1),
         |asm AS (SELECT k.doc_id,
         |         string_agg(substr(t.text, CAST(k.fb AS INT) + 1,
         |           CAST(k.tb - k.fb + 1 AS INT)), '' ORDER BY k.fb)
         |           AS clean
         |        FROM kept k JOIN t USING (doc_id) GROUP BY 1)
         |SELECT t.doc_id, CAST(t.n AS BIGINT) AS n_bytes,
         |  md5(coalesce(asm.clean, '')) AS clean_md5,
         |  CAST(octet_length(encode(coalesce(asm.clean, ''))) AS BIGINT)
         |    AS n_bytes_clean
         |FROM t LEFT JOIN asm USING (doc_id)
         |ORDER BY t.doc_id""".stripMargin,

    // keep-first replay: first occurrence per chunk hash by
    // (doc_id, chunk_idx), then the gap-and-island merge of each
    // doc's surviving chunks into maximal kept intervals
    "q164_cdc_keep_manifest" ->
      s"""$cdcChunkCtes,
         |kept AS (SELECT doc_id, chunk_idx, fw, tw FROM (
         |    SELECT doc_id, chunk_idx, fw, tw,
         |      row_number() OVER (PARTITION BY chunk_hash
         |                         ORDER BY doc_id, chunk_idx) AS rn
         |    FROM ch) WHERE rn = 1),
         |il AS (SELECT doc_id, chunk_idx, fw, tw,
         |    CASE WHEN lag(chunk_idx) OVER (PARTITION BY doc_id
         |                                   ORDER BY chunk_idx)
         |              = chunk_idx - 1 THEN 0 ELSE 1 END AS ns
         |  FROM kept),
         |sp AS (SELECT doc_id, fw, tw,
         |    sum(ns) OVER (PARTITION BY doc_id ORDER BY chunk_idx) AS span_id
         |  FROM il)
         |SELECT doc_id, CAST(span_id - 1 AS BIGINT) AS span_idx,
         |  CAST(min(fw) AS BIGINT) AS from_word,
         |  CAST(max(tw) AS BIGINT) AS to_word,
         |  CAST(sum(tw - fw + 1) AS BIGINT) AS n_words_kept,
         |  CAST(count(*) AS BIGINT) AS n_chunks
         |FROM sp GROUP BY doc_id, span_id
         |ORDER BY doc_id, span_idx""".stripMargin,

    // q172: q164's first-occurrence chunk selection, then kept word
    // positions joined back and the clean text re-agreed in order
    "q172_cdc_rewrite" ->
      s"""$cdcChunkCtes,
         |kept AS (SELECT doc_id, chunk_idx, fw, tw FROM (
         |    SELECT doc_id, chunk_idx, fw, tw,
         |      row_number() OVER (PARTITION BY chunk_hash
         |                         ORDER BY doc_id, chunk_idx) AS rn
         |    FROM ch) WHERE rn = 1),
         |cov AS (SELECT doc_id, unnest(generate_series(fw, tw)) AS i
         |        FROM kept),
         |wi AS (SELECT doc_id, i, ws[CAST(i AS INT) + 1] AS word
         |       FROM w, unnest(range(0, len(ws))) AS t(i)),
         |kw AS (SELECT wi.doc_id, wi.i, wi.word
         |       FROM wi JOIN cov
         |         ON wi.doc_id = cov.doc_id AND wi.i = cov.i),
         |asm AS (SELECT doc_id,
         |         string_agg(word, ' ' ORDER BY i) AS clean_text,
         |         count(*) AS nw
         |        FROM kw GROUP BY 1)
         |SELECT w.doc_id, CAST(len(w.ws) AS BIGINT) AS n_words,
         |  coalesce(asm.clean_text, '') AS clean_text,
         |  CAST(coalesce(asm.nw, 0) AS BIGINT) AS n_words_kept
         |FROM w LEFT JOIN asm USING (doc_id)
         |ORDER BY w.doc_id""".stripMargin,

    "q114_winnowing" -> {
      val gram = (0 until WinnowK)
        .map(j => if (j == 0) "ws[i]" else s"ws[i+$j]").mkString("||' '||")
      val slice = s"list_slice(hs, i, i + ${WinnowW - 1})"
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
         |           WHERE text IS NOT NULL),
         |g AS (SELECT doc_id, list_transform(range(1, len(ws) - ${WinnowK - 2}),
         |        i -> substr(md5($gram), 1, 12)) AS hs
         |      FROM w WHERE len(ws) >= ${WinnowK + WinnowW - 1}),
         |s AS (SELECT doc_id, hs,
         |        list_distinct(list_transform(range(1, len(hs) - ${WinnowW - 2}),
         |          i -> i + $WinnowW - list_position(list_reverse($slice),
         |                 list_aggregate($slice, 'min')))) AS sel
         |      FROM g),
         |fp AS (SELECT doc_id, CAST(unnest(sel) AS INT) AS pos, hs FROM s),
         |f2 AS (SELECT doc_id, pos, hs[pos] AS h FROM fp),
         |sh AS (SELECT h, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
         |       FROM f2 GROUP BY 1)
         |SELECT f2.doc_id, f2.pos, f2.h, sh.n_docs
         |FROM f2 JOIN sh USING (h)
         |ORDER BY f2.doc_id, f2.pos""".stripMargin
    }
  )
}
