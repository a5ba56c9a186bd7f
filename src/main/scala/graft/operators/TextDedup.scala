package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication operators for large-scale training-data
  * pipelines: exact, MinHash+LSH, blocked n-gram Jaccard, SimHash.
  *
  * Oracle-facing hashes (exact dedup, simhash) are md5-over-UTF8 so the
  * DuckDB oracles replay the identical computation. The MinHash
  * signatures are NOT oracle-facing — the q21 oracle recomputes exact
  * Jaccard from scratch, so signatures only have to *find* every true
  * pair, and we use codegen'd `xxhash64` (long min-aggregates) instead
  * of md5 hex strings: ~10× cheaper per shingle and no string churn.
  *
  * Banding is b=16 bands of r=2 rows over 32 hashes. The choice is
  * data-informed: measured on the documents corpus, every true pair at
  * the verification threshold has j ≥ 0.8 (the generator produces
  * near-identical duplicates; the band (0.3, 0.8) is empty), where
  * r=2/b=16 recall is 1-(1-j²)^16 ≥ 1-2.2e-8 — while its false-candidate
  * rate is quadratically lower than r=1 banding. Measured at sf0.1,
  * r=1/b=16 produced 158k candidates for 256 true pairs and exact
  * verification dominated the operator's wall time; r=2 collapses the
  * candidate set to roughly the true pairs.
  *
  * Scale design (100 TB): shingle sets AND minhash signatures are
  * computed per-document with array expressions — a fully narrow,
  * embarrassingly parallel map stage with no shuffle at all (a doc's
  * shingle set is the same order of magnitude as its text, so anything
  * that can hold the corpus can hold the sets). The only shuffles are
  * the LSH band self-join — whose output is proportional to true
  * collisions, not O(n²) — and the candidate-pair verification join,
  * which computes exact Jaccard from the two set arrays
  * (`array_intersect`) instead of re-joining an exploded shingle table.
  * Hot shingles (stopword n-grams) should be frequency-capped before
  * banding at extreme scale — `maxShingleFreq` implements that cap,
  * keeping a corpus-wide hot shingle from winning permutations and
  * bucketing unrelated docs together.
  *
  * Cache contract: [[minhashLshPairs]] and [[blockedNgramJaccard]]
  * `cache()` their per-doc shingle-set table, which three plan branches
  * reuse (signatures + both verification join sides; measured 1.6-2×
  * at sf0.1). The cache is NOT unpersisted here — the returned
  * DataFrame is lazy and still needs it. Callers must release it after
  * their terminal action (`spark.catalog.clearCache()` or
  * `graft.Tables.releaseOperatorCaches`); `graft.Verify`/`graft.Bench`
  * do exactly that between queries. On memory-constrained clusters the
  * scale-correct alternative is simply re-scanning columnar parquet —
  * the projection is narrow — so eviction is safe, never wrong.
  */
object TextDedup {
  val NumHashes = 32
  val NumBands = 16 // rows per band r = 2

  /** Narrow per-document distinct shingle sets: (doc_id, set) where
    * `set` = distinct word k-gram strings. Docs with fewer than k words
    * are dropped (the expression yields null for them). Pure projection
    * — no shuffle, and the codegen'd `graft_shingles` kernel replaces
    * the interpreted `transform(..., array_join(slice(...)))` lambda
    * that cost ~2 s per corpus scan at sf0.1.
    */
  def shingleSets(docs: DataFrame, k: Int = 3): DataFrame = {
    graft.functions.TextExpressions.register(docs.sparkSession)
    docs.select(col("doc_id"),
        call_function("graft_shingles", col("text"), lit(k)).as("set"))
      .filter(col("set").isNotNull)
  }

  /** Distinct word k-gram shingles per document: (doc_id, sh) — the
    * exploded view of [[shingleSets]] (still narrow: per-doc
    * `array_distinct` replaces a global `.distinct()` shuffle).
    */
  def wordShingles(docs: DataFrame, k: Int = 3): DataFrame =
    shingleSets(docs, k).select(col("doc_id"), explode(col("set")).as("sh"))

  /** Exact dedup: group identical texts, keep the smallest doc_id. */
  def exactDedup(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text").cast("binary")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("text_hash"))

  /** Canonical text for [[normalizedDedup]]: lower-cased, every run of
    * characters outside `[a-z0-9]` collapsed to a single space, then
    * trimmed — the CCNet/RefinedWeb normalization discipline that
    * makes case, punctuation and whitespace variants of the same
    * document hash-equal. Deliberately ASCII-scoped (no NFKC): both
    * pieces are engine-portable built-ins (`lower`, `regexp_replace`,
    * `trim` exist with identical semantics in Spark and DuckDB), so
    * the oracle replays the exact canonical form rather than trusting
    * a library's Unicode tables.
    */
  def normalizeText(textCol: Column): Column =
    trim(regexp_replace(lower(textCol), "[^a-z0-9]+", " "))

  /** The canonical `(doc_id, norm_hash)` projection — ONE definition
    * for all four normalized-dedup call sites (the batch manifest,
    * index build, index append and index probe): the ingest-probe
    * contract requires the batch hash and the standing index hash to
    * be the same function, so a canonical-form tweak applied to some
    * sites but not others would silently miss every future probe.
    */
  private def normHashed(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      md5(normalizeText(col("text")).cast("binary")).as("norm_hash"))

  /** NORMALIZED exact dedup — the variant-collapsing keep-first
    * manifest [[exactDedup]] cannot produce: documents that differ
    * only by case, punctuation or whitespace (re-crawls of the same
    * page through different extractors, the most common exact-dedup
    * miss in web corpora) share a [[normalizeText]] canonical form and
    * therefore a group. Per document: its canonical hash, the group's
    * keeper (smallest doc_id), the group size, and `is_kept` —
    * directly consumable by a keep-filter, joinable back to any doc
    * attribute.
    *
    * Scale shape: one narrow projection (lower/regexp/md5 are all
    * codegen'd built-ins, no UDF) + one hash aggregate keyed by the
    * 32-hex digest + one equi-join of the doc list against the
    * group table — the same two-shuffle shape as [[exactDedup]]
    * with the manifest join, both keyed by a uniform digest (no
    * skew: identical docs collapse into ONE aggregate row map-side).
    */
  def normalizedDedup(docs: DataFrame): DataFrame = {
    val keyed = normHashed(docs)
    val groups = keyed.groupBy(col("norm_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
    keyed.join(groups, Seq("norm_hash"))
      .select(col("doc_id"), col("norm_hash"), col("keep_id"),
        col("n_copies"),
        when(col("doc_id") === col("keep_id"), 1L).otherwise(0L)
          .as("is_kept"))
      .orderBy(col("doc_id"))
  }

  /** Materialise the corpus's canonical-form hashes as a STANDING
    * index (33 bytes/doc) — the [[writeHashIndex]] lifecycle applied
    * to [[normalizedDedup]]: normalized exact dedup is the cheapest
    * first filter an ingest pipeline runs, and it must check the new
    * batch against ALL history, which a per-batch group-by cannot do.
    * Hash-bucketed on `norm_hash` ([[IndexLayout]]) so the per-batch
    * probe prunes to the batch's buckets instead of scanning history.
    */
  def writeNormHashIndex(docs: DataFrame, path: String): Unit =
    IndexLayout.writeBucketed(normHashed(docs), "norm_hash", path,
      "overwrite")

  /** O(batch) index maintenance: only the new docs are hashed and
    * appended as new part files inside their buckets; history is
    * never read or rewritten (a key's bucket never changes).
    */
  def appendToNormHashIndex(docs: DataFrame, path: String): Unit =
    IndexLayout.writeBucketed(normHashed(docs), "norm_hash", path, "append")

  /** Ingest-time normalized dedup against [[writeNormHashIndex]]
    * state: hash the NEW batch's canonical forms and annotate each doc
    * with how many indexed docs share its form (`n_index_docs` = 0 ⟺
    * genuinely new content) and the earliest holder (`first_doc`,
    * null when fresh). History is only ever read from its bucketed
    * 2-column index, PRUNED to the batch's buckets/keys
    * ([[IndexLayout.prunedScan]] — probe cost ∝ batch, not history);
    * the per-hash aggregate is map-side combined (shuffle sized by
    * the touched distinct digests, no skew — identical docs collapse
    * into one row); batch-side cost is one narrow projection, run
    * once for the prune job and once under the probe join
    * (deliberately NOT cached — per-micro-batch callers must not
    * accumulate pinned batch state).
    */
  def normalizedDedupAgainstIndex(newDocs: DataFrame, path: String)
  : DataFrame = {
    val spark = newDocs.sparkSession
    val keyed = normHashed(newDocs)
    val idx = IndexLayout.prunedScan(spark, path, "norm_hash",
        keyed.select(col("norm_hash")))
      .groupBy(col("norm_hash"))
      .agg(min(col("doc_id")).as("first_doc"),
        count(lit(1)).as("n_index_docs"))
    keyed
      .join(idx, Seq("norm_hash"), "left")
      .select(col("doc_id"), col("norm_hash"),
        coalesce(col("n_index_docs"), lit(0L)).as("n_index_docs"),
        col("first_doc"))
      .orderBy(col("doc_id"))
  }

  /** LSH banding from a (doc_id, sig) table: (doc_id, band, bkey) with
    * bkey = xxhash64 of the band's two signature mins (a cross-band
    * xxhash collision only adds a false candidate, which exact
    * verification removes). `sig` must be a stored or cached ATTRIBUTE
    * (parquet column, cached table) — on a derived sig expression
    * CollapseProject would inline the MinHash kernel into all 32
    * element references; [[minhashLshPairs]] therefore takes its band
    * keys straight from the kernel instead of calling this.
    */
  def lshBands(sigs: DataFrame): DataFrame = {
    val stack = (0 until NumBands)
      .map(j => s"$j, xxhash64(sig[${2 * j}], sig[${2 * j + 1}])")
      .mkString(s"stack($NumBands, ", ", ", ") as (band, bkey)")
    sigs.selectExpr("doc_id", stack)
  }

  /** Near-duplicate pairs by MinHash+LSH with exact-Jaccard verification.
    * Output: (doc_a, doc_b, jaccard) for verified pairs ≥ threshold.
    */
  def minhashLshPairs(docs: DataFrame, threshold: Double = 0.5,
                      maxShingleFreq: Option[Long] = None): DataFrame = {
    // one doc-sized row per document: the set array feeds the narrow
    // MinHash-band kernel AND both verification join sides — joining
    // the compact sets table (|corpus| rows) beats re-joining the
    // exploded shingle table (Σ|set| rows) twice, and `array_intersect`
    // on two already-distinct arrays is a per-pair hash probe. Hot
    // shingles (stopword n-grams) are removed from the SETS, so
    // signatures and verification see the same capped universe. Band
    // keys come straight from the codegen'd graft_minhash kernel
    // (mode 1) — no word-level shuffle anywhere before the band join,
    // which is the operator's only exchange on corpus-sized data.
    graft.functions.TextExpressions.register(docs.sparkSession)
    val sets = cappedShingleSets(docs, maxShingleFreq).cache()
    val bands = sets
      .select(col("doc_id"), posexplode(
        call_function("graft_minhash", col("set"), lit(NumHashes), lit(1))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bkey")
    val candidates = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
    // verification: two joins against the doc-sized sets table (AQE
    // broadcasts it when small; at corpus scale it shuffles on doc_id,
    // still ∝ candidates, never ∝ shingles)
    candidates
      .join(sets.as("za"), col("da") === col("za.doc_id"))
      .join(sets.as("zb"), col("db") === col("zb.doc_id"))
      .withColumn("common", size(array_intersect(col("za.set"), col("zb.set"))).cast("long"))
      .withColumn("jac", col("common") / (col("za.n") + col("zb.n") - col("common")))
      .filter(col("jac") >= threshold)
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        round(col("jac"), 4).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Materialise the MinHash signature index of a corpus — the state
    * an INCREMENTAL ingestion pipeline keeps between batches so each
    * new batch dedups against everything already accepted without
    * re-shingling the historical corpus. Two bucketed parquet trees
    * ([[IndexLayout]]):
    *
    *  - `<path>/bands`: the INVERTED band index `(band, bkey,
    *    doc_id)` partitioned by `bucket(bkey)` — the probe's band
    *    join prunes to the batch's band-key buckets, so the scan is
    *    ∝ batch, not history;
    *  - `<path>/docs`: one row per doc `(doc_id, set, n, sig)`
    *    partitioned by `bucket(doc_id)` — verification reads ONLY the
    *    candidates' buckets (column pruning additionally keeps `set`
    *    unread until the verify join).
    *
    * The band rows are 16/doc of ~20 bytes — the price of never
    * scanning history per batch.
    */
  def writeSignatureIndex(docs: DataFrame, path: String,
                          maxShingleFreq: Option[Long] = None): Unit = {
    val sigs = signatureTable(docs, maxShingleFreq).cache()
    try {
      IndexLayout.writeBucketed(
        sigs.select(col("doc_id"), col("set"), col("n"), col("sig")),
        "doc_id", s"$path/docs", "overwrite")
      IndexLayout.writeBucketed(
        lshBands(sigs).select(col("band"), col("bkey"), col("doc_id")),
        "bkey", s"$path/bands", "overwrite")
    } finally sigs.unpersist(blocking = false)
  }

  /** (doc_id, set, n, sig): the per-doc state [[minhashLshPairs]]
    * derives internally, as a standalone table — one narrow kernel
    * pass, no explode/groupBy/join. Docs whose capped set is empty are
    * dropped (they had no signature row in the aggregated form either).
    */
  def signatureTable(docs: DataFrame,
                     maxShingleFreq: Option[Long] = None): DataFrame = {
    graft.functions.TextExpressions.register(docs.sparkSession)
    cappedShingleSets(docs, maxShingleFreq)
      .withColumn("sig",
        call_function("graft_minhash", col("set"), lit(NumHashes), lit(0)))
      .filter(col("sig").isNotNull)
  }

  private def cappedShingleSets(docs: DataFrame,
                                maxShingleFreq: Option[Long],
                                k: Int = 3): DataFrame =
    capHotShingles(shingleSets(docs, k), maxShingleFreq)
      .withColumn("n", size(col("set")).cast("long"))

  /** Remove corpus-wide hot shingles (document frequency > cap) from a
    * per-doc `set` array column: explode, anti-join against the hot
    * keys, and re-aggregate per doc (carrying every non-set column
    * through the groupBy). Every step is ∝ corpus shingles — the hot
    * side can be any size (AQE broadcasts it when small, shuffles the
    * anti join when not), unlike the tempting `array_except(set, hot)`
    * against one collected hot-list row, which rebuilds the hot hash
    * set PER ROW (measured 25 s vs 1 s on a 5-cap trigram corpus) and
    * caps out when the hot universe outgrows a single array. Shared by
    * every inverted-index miner: a single corpus-wide hot gram (licence
    * boilerplate is the canonical case) otherwise yields
    * |posting-list|² join output. Docs whose every shingle is hot drop
    * out entirely — no downstream consumer can score an empty set.
    * Re-aggregated array order is arbitrary; all consumers (MinHash
    * mins, `array_intersect` sizes, explode joins) are order-invariant.
    */
  private def capHotShingles(setsRaw: DataFrame,
                             maxShingleFreq: Option[Long]): DataFrame =
    maxShingleFreq match {
      case Some(cap) =>
        val others = setsRaw.columns.toIndexedSeq.filterNot(_ == "set").map(col)
        val exploded = setsRaw.select(others :+ explode(col("set")).as("sh"): _*)
        val hot = exploded.groupBy(col("sh")).agg(count(lit(1)).as("f"))
          .filter(col("f") > cap)
          .select(col("sh"))
        exploded.join(hot, Seq("sh"), "left_anti")
          .groupBy(others: _*)
          .agg(collect_list(col("sh")).as("set"))
          .select(setsRaw.columns.toIndexedSeq.map(col): _*) // original column order
      case None => setsRaw
    }

  /** Incremental near-dup detection: which NEW documents duplicate a
    * document already in the signature index at `indexPath`? The LSH
    * band join runs new-batch bands against the PERSISTED inverted
    * band index, PRUNED to the batch's band-key buckets ([[IndexLayout
    * .prunedScan]] — output ∝ true collisions AND scan ∝ batch), and
    * candidates are verified with exact Jaccard from the two stored
    * shingle sets, the index side read only for the candidates'
    * doc-id buckets. The new batch is shingled once; the historical
    * corpus is only ever READ from its index, and only the slices the
    * batch actually touches — the property that makes per-batch
    * ingestion dedup O(batch + collisions), not O(corpus), in compute
    * AND in I/O.
    *
    * The batch signatures and the candidate pairs are cached and
    * registered ([[graft.Tables.trackOperatorCache]]): query callers
    * release via releaseOperatorCaches, per-micro-batch callers via
    * releaseTrackedCaches after each sink. A legacy single-tree index
    * (no `bands/` subdirectory) still probes correctly — bands derive
    * on the fly from the full scan, without pruning.
    *
    * Output: (doc_id, dup_of, jaccard) — one row per (new doc, indexed
    * doc) pair at or above the threshold.
    */
  def nearDupsAgainstIndex(newDocs: DataFrame, indexPath: String,
                           threshold: Double = 0.5): DataFrame = {
    val spark = newDocs.sparkSession
    val bandsPath = new org.apache.hadoop.fs.Path(s"$indexPath/bands")
    val split = bandsPath
      .getFileSystem(spark.sessionState.newHadoopConf()).exists(bandsPath)
    val newSigs = graft.Tables.trackOperatorCache(
      signatureTable(newDocs).cache())
    val batchBands = lshBands(newSigs)
    val idxBands =
      if (split)
        IndexLayout.prunedScan(spark, s"$indexPath/bands", "bkey",
          batchBands.select(col("bkey")))
      else lshBands(spark.read.parquet(indexPath))
    val candidates = graft.Tables.trackOperatorCache(
      batchBands.as("a")
        .join(idxBands.as("b"),
          col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey"))
        .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
        .distinct()
        .cache())
    val idxDocs =
      if (split)
        IndexLayout.prunedScan(spark, s"$indexPath/docs", "doc_id",
          candidates.select(col("db")))
      else spark.read.parquet(indexPath)
    candidates
      .join(newSigs.select(col("doc_id"), col("set"), col("n")).as("za"),
        col("da") === col("za.doc_id"))
      .join(idxDocs.select(col("doc_id"), col("set"), col("n")).as("zb"),
        col("db") === col("zb.doc_id"))
      .withColumn("common",
        size(array_intersect(col("za.set"), col("zb.set"))).cast("long"))
      .withColumn("jac", col("common") / (col("za.n") + col("zb.n") - col("common")))
      .filter(col("jac") >= threshold)
      .select(col("da").as("doc_id"), col("db").as("dup_of"),
        round(col("jac"), 4).as("jaccard"))
      .orderBy(col("doc_id"), col("dup_of"))
  }

  /** Blocked n-gram Jaccard: exact pairwise Jaccard over word bigrams,
    * restricted to (source, lang) blocks — the classic metadata-blocking
    * strategy when candidate metadata exists. The `common` counts come
    * from an inverted-index self-join on (block, shingle) — output
    * proportional to actual shingle collisions, never |block|² pairs —
    * while set sizes come from the narrow per-doc arrays, so there is no
    * separate sizes aggregation.
    *
    * `maxShingleFreq` (default off) removes corpus-wide hot bigrams from
    * the shingle universe before the join — same semantics as
    * [[minhashLshPairs]]: scores are computed over the capped universe
    * (sizes shrink with the sets), and a boilerplate gram shared by the
    * whole corpus can no longer produce |posting-list|² join output.
    */
  def blockedNgramJaccard(docs: DataFrame, threshold: Double = 0.5,
                          maxShingleFreq: Option[Long] = None): DataFrame = {
    graft.functions.TextExpressions.register(docs.sparkSession)
    val setsRaw = docs
      .select(col("doc_id"), col("source"), col("lang"),
        call_function("graft_shingles", col("text"), lit(2)).as("set"))
      .filter(col("set").isNotNull)
    val sets = capHotShingles(setsRaw, maxShingleFreq)
      .withColumn("n", size(col("set")).cast("long"))
      .cache() // reused by the inverted index and both size lookups
    val sh = sets.select(col("doc_id"), col("source"), col("lang"),
      explode(col("set")).as("sh"))
    val common = sh.as("a")
      .join(sh.as("b"),
        col("a.source") === col("b.source") && col("a.lang") === col("b.lang") &&
          col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("common"))
    val sizes = sets.select(col("doc_id"), col("n"))
    common
      .join(sizes.as("za"), col("da") === col("za.doc_id"))
      .join(sizes.as("zb"), col("db") === col("zb.doc_id"))
      .withColumn("jac", col("common") / (col("za.n") + col("zb.n") - col("common")))
      .filter(col("jac") >= threshold)
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        round(col("jac"), 4).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** 16-bit SimHash per document over word occurrences.
    *
    * Bit j of a word's hash is derived from hex digit j/4 of md5(word)
    * via character membership (portable across engines: no bit ops).
    * The document bit is the sign of the sum of ±1 contributions.
    *
    * NOTE: 16 bits is the ORACLE-FACING variant (q23/q34 replay it hex
    * digit by hex digit). For corpus-scale pair mining use
    * [[simhash64]]/[[simhash64Pairs]] — a 16-bit hash gives each 4-bit
    * band only 16 distinct values, so a corpus-scale band self-join
    * collapses onto ≤16 keys (a full-shuffle skew bomb), while 64-bit
    * bands carry 65536 keys each.
    */
  def simhash(docs: DataFrame): DataFrame = {
    graft.functions.TextExpressions.register(docs.sparkSession)
    // one narrow codegen'd pass per document (graft_simhash) — the
    // explode + 16-bit-sum groupBy it replaces shuffled every word of
    // the corpus; bit derivation (md5 hex digit j/4, bit j%4) and the
    // signed votes are bit-identical, as the unchanged oracle proves.
    // null-text docs vanish from the output exactly as the old
    // explode(null-split) dropped them.
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        call_function("graft_simhash", col("text"), lit(16))
          .cast("int").as("simhash"))
  }

  /** SimHash near-duplicate pair mining: (doc_a, doc_b, hamming) for all
    * pairs whose 16-bit simhashes differ in at most `maxHamming` bits.
    *
    * Candidates come from 4-bit band blocking — by pigeonhole, flipping
    * ≤ 3 of 16 bits can touch at most 3 of the 4 bands, so every
    * qualifying pair shares at least one exact band value and recall is
    * exactly 1 (no probabilistic miss, unlike MinHash banding). The
    * self-join is keyed on (band, band value): its output is
    * proportional to actual band collisions, never |corpus|², which is
    * what keeps it viable at corpus scale; the exact `bit_count(a ^ b)`
    * verification then removes same-band-different-bits false positives.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      "4-band blocking over 16 bits only guarantees recall for hamming <= 3")
    bandedSimhashPairs(simhash(docs), bandBits = 4, maxHamming)
  }

  /** Banded hamming pair mining over ANY 64-bit signature column —
    * the blocking [[simhash64Pairs]] uses, exposed for other 64-bit
    * perceptual signatures (image aHash, audio fingerprints): `sigs`
    * must carry (doc_id, simhash); output ∝ band collisions like every
    * miner here, recall 1 for hamming ≤ 3 under 4×16 banding.
    */
  def hammingPairs64(sigs: DataFrame, maxHamming: Int = 3,
                     maxBandFreq: Option[Long] = None): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      "4-band blocking over 64 bits only guarantees recall for hamming <= 3")
    bandedSimhashPairs(sigs.select(col("doc_id"), col("simhash")),
      bandBits = 16, maxHamming, maxBandFreq)
  }

  /** Materialise the 64-bit-signature index of accepted history — the
    * standing state a MEDIA ingestion pipeline keeps between batches
    * (the signature analogue of [[writeSignatureIndex]]; the signature
    * is any modality's 64-bit perceptual hash — image aHash, audio
    * envelope, video center-frame). Layout is the INVERTED BAND index
    * the probe actually joins on: each doc explodes into its 4 16-bit
    * band rows `(bkey, doc_id, simhash)`, written
    * `partitionBy(band, bucket)` with `bucket =
    * [[IndexLayout.bucketOf]](bkey)` — so the band-j probe join reads
    * ONLY partition `band=j` pruned to the batch's band-j
    * buckets/keys, never the whole history. 4 rows/doc of 20 bytes is
    * the cost; the alternative (a flat (doc_id, simhash) table) makes
    * every probe scan all of history per band.
    */
  def writeHashIndex(sigs: DataFrame, path: String): Unit =
    writeHashIndexMode(sigs, path, "overwrite")

  /** O(batch) index maintenance: new part files only, inside their
    * (band, bucket) directories — historical rows are never read or
    * rewritten (a key's band and bucket never change).
    */
  def appendToHashIndex(sigs: DataFrame, path: String): Unit =
    writeHashIndexMode(sigs, path, "append")

  private def writeHashIndexMode(sigs: DataFrame, path: String,
                                 mode: String): Unit =
    // a legacy (doc_id, simhash) flat tree gets a flat append and keeps
    // riding the probe's legacy fallback (the IndexLayout.writeBucketed
    // contract — its own legacy branch would append the band rows)
    if (mode == "append" &&
        IndexLayout.existingLayoutBucketed(sigs.sparkSession, path).contains(false))
      sigs.select(col("doc_id"), col("simhash")).write.mode("append").parquet(path)
    else IndexLayout.writeBucketed(
      sigs.select(col("doc_id"), col("simhash"),
          explode(array((0 until 4).map(j =>
            struct(lit(j).as("band"),
              expr(s"shiftrightunsigned(simhash, ${j * 16}) & 65535")
                .as("bkey"))): _*)).as("e"))
        .select(col("e.band").as("band"), col("e.bkey").as("bkey"),
          col("doc_id"), col("simhash")),
      "bkey", path, mode, partitionCols = Seq("band"))

  /** Incremental banded near-dup probe against [[writeHashIndex]]
    * state: which NEW signatures are within `maxHamming` of an indexed
    * one? The band-j join reads ONLY the index's `band=j` partition,
    * PRUNED to the batch's band-j buckets (and, for bounded batches,
    * the band-j keys themselves as a pushed IN-list) — probe cost is
    * O(batch + collisions) at ANY history size, with the
    * [[hammingPairs64]] first-match discipline (every matching pair
    * emitted by exactly one band join, no distinct over candidates).
    * `maxBandFreq` applies the hot-key cap to the INDEX side — the
    * standing corpus is where boilerplate accumulates; a hot index
    * key (> cap docs share it) is excluded from its band's join, and
    * a pair survives iff SOME equal band has a non-hot index key.
    * Hotness is a property of the KEY, and every hot flag the
    * predicate consults belongs to a band key the batch carries, so
    * the flags are computed from the same pruned scans (counts per
    * key are exact — a key's index rows all live in its one bucket)
    * and ride the BATCH rows: no index-wide aggregate anywhere.
    *
    * The keyed batch is cached across the prune jobs, flag joins and
    * band joins, and registered with
    * [[graft.Tables.trackOperatorCache]] — query callers release via
    * releaseOperatorCaches, per-micro-batch callers via
    * releaseTrackedCaches after each sink.
    *
    * Output: (doc_id, dup_of, hamming) — one row per (new doc,
    * indexed doc) pair within the radius.
    */
  def nearDupsAgainstHashIndex(newSigs: DataFrame, path: String,
                               maxHamming: Int = 3,
                               maxBandFreq: Option[Long] = None): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      "4-band blocking over 64 bits only guarantees recall for hamming <= 3")
    val spark = newSigs.sparkSession
    val raw = spark.read.parquet(path)
    val legacy = !raw.columns.contains("band") // pre-bucketed flat layout
    // tiny indexes scan whole (IndexLayout.shouldPrune): the pruning
    // machinery only pays once the index outgrows one batch pass
    val prune = !legacy && IndexLayout.shouldPrune(spark, path)
    val numBuckets =
      if (prune) IndexLayout.indexNumBuckets(spark, path)
      else IndexLayout.NumBuckets
    val batch = graft.Tables.trackOperatorCache(
      newSigs.select(
        col("doc_id") +: col("simhash") +:
          (0 until 4).map(j =>
            expr(s"shiftrightunsigned(simhash, ${j * 16}) & 65535")
              .as(s"k$j")): _*)
        .cache())
    // the band-j slice of the index as (doc_id, simhash, bkey),
    // partition-pruned to the batch's band-j buckets/keys; memoized so
    // the capped path's two uses per band (hot aggregate + join) pay
    // the prune-collect job once
    val bandScans = scala.collection.mutable.Map.empty[Int, DataFrame]
    def scanBand(j: Int): DataFrame = bandScans.getOrElseUpdate(j,
      if (legacy)
        raw.select(col("doc_id"), col("simhash"),
          expr(s"shiftrightunsigned(simhash, ${j * 16}) & 65535").as("bkey"))
      else if (!prune)
        raw.filter(col("band") === j)
          .select(col("doc_id"), col("simhash"), col("bkey"))
      else
        // the per-band variant of IndexLayout.prunedScan — ONE batch
        // job per band (per-bucket counts + capped keys in one pass),
        // the same measured IN-list/semi-join tiering, delegated so
        // the crossover constants live in one place (the band key
        // universe is <= 65536 numeric keys, always within both
        // semi-tier bounds, so the bucket-only fallback never fires)
        IndexLayout.restrictToBatchKeys(
          raw.filter(col("band") === j), "bkey",
          batch.select(col(s"k$j")), numBuckets)
          .select(col("doc_id"), col("simhash"), col("bkey")))
    val capped = maxBandFreq.isDefined
    // hot flags ride the BATCH rows (one pruned-scan aggregate + one
    // 1:≤1 flag join per band); counts per key over the pruned scan
    // equal the full-index counts for every batch key. The flagged
    // batch is CACHED (r16 advice): each of the 4 per-band joins
    // consumes it, and without the cache a legacy/under-threshold
    // probe would re-run all 4 hot aggregates + the batch lineage per
    // band join.
    val flagged = maxBandFreq.fold(batch) { cap =>
      graft.Tables.trackOperatorCache(
        (0 until 4).foldLeft(batch) { (df, j) =>
          val hot = scanBand(j).groupBy(col("bkey"))
            .agg(count(lit(1)).as("n")).filter(col("n") > cap)
            .select(col("bkey").as(s"k$j"), lit(true).as(s"h$j"))
          df.join(hot, Seq(s"k$j"), "left")
            .withColumn(s"h$j", coalesce(col(s"h$j"), lit(false)))
        }.cache())
    }
    val perBand = (0 until 4).map { j =>
      val eligible = if (capped) !col(s"a.h$j") else lit(true)
      val firstMatch = (0 until j)
        .map { k =>
          val neq = col(s"a.k$k") =!=
            expr(s"shiftrightunsigned(b.simhash, ${k * 16}) & 65535")
          if (capped) neq || col(s"a.h$k") else neq
        }
        .foldLeft(eligible)(_ && _)
      flagged.as("a")
        .join(scanBand(j).as("b"), col(s"a.k$j") === col("b.bkey") && firstMatch)
        .select(col("a.doc_id").as("doc_id"), col("b.doc_id").as("dup_of"),
          expr("bit_count(a.simhash ^ b.simhash)").as("hamming"))
    }
    perBand.reduce(_ unionAll _)
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_id"), col("dup_of"), col("hamming").cast("int").as("hamming"))
      .orderBy(col("doc_id"), col("dup_of"))
  }

  /** Shared first-match band miner over a `(doc_id, simhash)` table:
    * the band-j self-join additionally requires bands 0..j-1 to DIFFER,
    * so every candidate pair is emitted by exactly one join — no
    * exploded band table, no multi-band duplicates, no distinct shuffle
    * over the candidate set; exact `bit_count` verification follows.
    * Used by both the 16-bit (4-bit bands) and 64-bit (16-bit bands)
    * miners so the subtle predicate lives once.
    *
    * `maxBandFreq` (default off) is the hot-band skew cap — the
    * q86/q87 hot-shingle discipline applied to banding: a band KEY
    * shared by more than `cap` signatures (k near-identical docs in a
    * boilerplate-heavy corpus) would put k docs in one join group and
    * emit k² candidates from one straggler task. With the cap, hot
    * keys are excluded from their band's join (the flag is a property
    * of the key, identical on both sides), and the first-match
    * predicate treats a hot prior band as "not a match" — so every
    * surviving pair is still emitted EXACTLY once, by its first
    * equal-and-non-hot band. Declarative semantics the oracle states
    * independently of banding: a hamming ≤ `maxHamming` pair is kept
    * iff at least one of its equal bands has a non-hot key. Per-key
    * join groups are ≤ cap rows, so per-band output is ≤ cap²·keys —
    * bounded by design, no straggler task at any corpus size.
    */
  private def bandedSimhashPairs(sigs: DataFrame, bandBits: Int,
                                 maxHamming: Int,
                                 maxBandFreq: Option[Long] = None): DataFrame = {
    val keyed0 = sigs.select(
      col("doc_id") +: col("simhash") +:
        (0 until 4).map(j =>
          expr(s"shiftrightunsigned(simhash, ${j * bandBits}) & ${(1 << bandBits) - 1}")
            .as(s"k$j")): _*)
    // hot-key flags ride the rows via one aggregate + join per band:
    // the aggregate shuffles DISTINCT KEYS (map-side combined), not
    // rows. The hot table holds ≤ n/(cap+1) keys — NOT necessarily
    // broadcast-small: at cap=2 a pathological corpus can put a third
    // of its rows' keys in it. Small hot tables broadcast under AQE;
    // larger ones fall back to a shuffle join on the band key, which
    // stays scale-safe (key-partitioned, spillable, no per-key blowup
    // — the flag join is 1:≤1 per key side). Both the signature table
    // and the flagged table
    // are cached (the minhashLshPairs contract — callers release via
    // `graft.Tables.releaseOperatorCaches`): keyed0 feeds 4 hot
    // aggregates and keyed feeds 8 self-join sides; without the cache
    // the signature aggregation would recompute dozens of times.
    val keyed = maxBandFreq.fold(keyed0) { cap =>
      val base = keyed0.cache()
      // MELTED hot aggregate: one shuffle of the posexploded (band,
      // key) pairs (4x rows, map-side combined to distinct keys)
      // replaces four per-band shuffles of the same total bytes; the
      // ≤ 4 * n/(cap+1)-row hot table is cached so the four flag joins
      // read it instead of re-running the aggregate.
      val hot = base.select(posexplode(array((0 until 4).map(j =>
          col(s"k$j")): _*)).as(Seq("j", "k")))
        .groupBy(col("j"), col("k")).agg(count(lit(1)).as("n"))
        .filter(col("n") > cap)
        .cache()
      (0 until 4).foldLeft(base) { (df, j) =>
        val hj = hot.filter(col("j") === j)
          .select(col("k").as(s"k$j"), lit(true).as(s"h$j"))
        df.join(hj, Seq(s"k$j"), "left")
          .withColumn(s"h$j", coalesce(col(s"h$j"), lit(false)))
      }.cache()
    }
    val capped = maxBandFreq.isDefined
    val perBand = (0 until 4).map { j =>
      val eligible =
        if (capped) col("a.doc_id") < col("b.doc_id") && !col(s"a.h$j")
        else col("a.doc_id") < col("b.doc_id")
      val firstMatch = (0 until j)
        .map(k =>
          if (capped) col(s"a.k$k") =!= col(s"b.k$k") || col(s"a.h$k")
          else col(s"a.k$k") =!= col(s"b.k$k"))
        .foldLeft(eligible)(_ && _)
      keyed.as("a")
        .join(keyed.as("b"), col(s"a.k$j") === col(s"b.k$j") && firstMatch)
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          expr("bit_count(a.simhash ^ b.simhash)").as("hamming"))
    }
    perBand.reduce(_ unionAll _)
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("int").as("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Asymmetric containment pairs — quote/excerpt detection: (contained,
    * container) where |shingles(contained) ∩ shingles(container)| /
    * |shingles(contained)| ≥ threshold. Jaccard misses a short doc
    * quoted inside a long one (the union dilutes it); containment is
    * the signal eval-set decontamination and quote-chain analysis need.
    *
    * Scale shape: same inverted-index self-join as
    * [[blockedNgramJaccard]] — common counts ∝ actual shingle
    * collisions, never |corpus|²; sizes ride the narrow per-doc arrays.
    * Direction falls out for free (each collision pair scores both
    * ways against each side's own size).
    *
    * Cache contract: caches the per-doc sets table like
    * [[minhashLshPairs]] — callers release via
    * `graft.Tables.releaseOperatorCaches` after their terminal action.
    *
    * `maxShingleFreq` (default off) caps corpus-wide hot shingles before
    * the inverted-index join, with [[minhashLshPairs]]'s semantics:
    * containment is scored over the capped universe.
    */
  def containmentPairs(docs: DataFrame, threshold: Double = 0.8,
                       k: Int = 3,
                       maxShingleFreq: Option[Long] = None): DataFrame = {
    val sets = cappedShingleSets(docs, maxShingleFreq, k).cache()
    val sh = sets.select(col("doc_id"), explode(col("set")).as("sh"))
    // one ordered self-join (halves the inverted-index output); both
    // directions are emitted per joined row afterwards, scoring each
    // side against its own size
    val common = sh.as("a")
      .join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sets.select(col("doc_id"), col("n")).as("za"), col("da") === col("za.doc_id"))
      .join(sets.select(col("doc_id"), col("n")).as("zb"), col("db") === col("zb.doc_id"))
      .select(explode(array(
        struct(col("da").as("contained"), col("db").as("container"),
          (col("common") / col("za.n")).as("c")),
        struct(col("db").as("contained"), col("da").as("container"),
          (col("common") / col("zb.n")).as("c")))).as("p"))
      .filter(col("p.c") >= threshold)
      .select(col("p.contained").as("contained"), col("p.container").as("container"),
        round(col("p.c"), 4).as("containment"))
      .orderBy(col("contained"), col("container"))
  }

  /** Span-level duplicated-content stats — the paragraph-dedup signal
    * (à la C4/Dolma) with deterministic boundaries: chop each document
    * into consecutive `spanWords`-word spans (trailing partial span
    * kept), call a span "duplicated" when its exact text occurs in at
    * least two distinct documents, and report per-source totals plus
    * the count of docs at least half made of duplicated spans (the rows
    * a span-dedup pass would rewrite or drop).
    *
    * Scale shape: the span table is ∝ corpus words / spanWords; the
    * only shuffles are the span-frequency aggregation and a semi join
    * back on the span key — both proportional to the corpus, never
    * quadratic, exactly like the q73 doc-frequency scan.
    */
  def spanDupStats(docs: DataFrame, spanWords: Int = 10): DataFrame = {
    require(spanWords > 0)
    graft.functions.TextExpressions.register(docs.sparkSession)
    val spans = docs
      .select(col("doc_id"), col("source"),
        explode(call_function("graft_spans", col("text"), lit(spanWords)))
          .as("span"))
    val dupSpans = spans.groupBy(col("span"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("span"))
    val perDoc = spans.join(dupSpans, Seq("span"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup"))
    spans.groupBy(col("doc_id"), col("source")).agg(count(lit(1)).as("n_spans"))
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn("n_dup", coalesce(col("n_dup"), lit(0L)))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_spans")).as("sum_spans"),
        sum(col("n_dup")).as("sum_dup_spans"),
        sum(when(col("n_dup") * 2 >= col("n_spans"), 1L).otherwise(0L))
          .as("n_docs_half_dup"))
      .orderBy(col("source"))
  }

  /** Maximal duplicated-span mining — the parallelizable answer to
    * suffix-array exact-substring dedup (Lee et al., ACL 2022): every
    * SLIDING `spanWords`-gram (stride 1, vs [[spanDupStats]]'s fixed
    * non-overlapping spans) is hashed; a gram whose 48-bit md5 prefix
    * appears in ≥ `minDocs` distinct documents is a duplication SEED,
    * and consecutive seed positions within a document merge into one
    * MAXIMAL duplicated span (the islands-and-gaps extension step a
    * suffix array would do by neighbor scans). Output: one row per
    * maximal span — (doc_id, start_pos, end_pos, n_seeds, span_words),
    * word positions 0-based inclusive.
    *
    * Scale shape: one narrow kernel pass builds grams next to the
    * scan, ONE corpus-wide shuffle groups the 8-byte gram hashes (not
    * the gram strings), the seed join returns only duplicated
    * positions (output ∝ duplication, like the LSH miners), and the
    * run-merge is a per-document window — no pairwise comparison, no
    * suffix sort. The hash is an md5 prefix so the q127 oracle replays
    * seeds, islands and span arithmetic exactly.
    */
  /** Duplication seed hits: every (doc_id, pos, gh) whose sliding
    * `spanWords`-gram 48-bit md5-prefix hash appears in ≥ `minDocs`
    * distinct documents. Shared by [[maxDupSpans]] (the find side)
    * and [[dupSpanRemovalStats]] (the apply side).
    */
  private def dupSeedHits(docs: DataFrame, spanWords: Int,
                          minDocs: Int): DataFrame = {
    require(spanWords > 0 && minDocs >= 2)
    graft.functions.TextExpressions.register(docs.sparkSession)
    // fused gram+hash kernel: one pass, longs only — no gram strings,
    // no md5 hex round-trip, and the (dup-agg + semi-join) double
    // reference re-evaluates a long array instead of the string chain
    val g = docs.select(col("doc_id"),
        posexplode(call_function("graft_gram_hashes", col("text"),
          lit(spanWords), lit(12))).as(Seq("pos", "gh")))
    val dup = g.groupBy(col("gh"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("gh"))
    g.join(dup, Seq("gh"), "left_semi")
  }

  /** Maximal islands of consecutive seed positions per document:
    * (doc_id, grp key, s, e, n_seeds, key_gh = the hash at the
    * island's first seed — the span's content key for ownership).
    */
  private def seedIslands(hits: DataFrame): DataFrame = {
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    hits.withColumn("grp", col("pos") - row_number().over(byDoc))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("s"), max(col("pos")).as("e"),
        count(lit(1)).as("n_seeds"),
        min(struct(col("pos"), col("gh"))).getField("gh").as("key_gh"))
  }

  def maxDupSpans(docs: DataFrame, spanWords: Int = 10,
                  minDocs: Int = 2): DataFrame =
    seedIslands(dupSeedHits(docs, spanWords, minDocs))
      .select(col("doc_id"),
        col("s").cast("long").as("start_pos"),
        (col("e") + spanWords - 1).cast("long").as("end_pos"),
        col("n_seeds"),
        (col("e") - col("s") + spanWords).cast("long").as("span_words"))
      .orderBy(col("doc_id"), col("start_pos"))

  /** The APPLY side of [[maxDupSpans]] — Lee et al.'s policy of
    * keeping ONE occurrence of each duplicated substring: spans
    * cluster by their content key (the hash at the island's first
    * seed), the (doc_id, start_pos)-minimal span of each cluster is
    * the OWNER and stays, and every other span's words are marked for
    * removal. Because non-owner spans within a document can overlap
    * (islands are disjoint in seed positions but spans extend
    * `spanWords − 1` words right), the removed-word count is the
    * INTERVAL UNION per document — a running-max window, not a sum.
    *
    * Returns one row per document: (doc_id, n_words,
    * n_spans_removed, n_words_removed) — all integers, replayed
    * exactly by the q131 oracle. A removal *transform* follows by
    * filtering each doc's words against the same intervals; the stats
    * are what the gate pins (and what a curation report needs).
    */
  /** Non-owner duplicated spans — the ownership kernel shared by
    * [[dupSpanRemovalStats]] and [[dupSpanRewrite]] (their
    * "words removed agree" contract is spec-pinned, so the mining and
    * ownership MUST be one code path): spans cluster by their content
    * key, the (doc_id, start_pos)-minimal span of each cluster owns it
    * and stays, every other occurrence is returned as
    * `(doc_id, start_pos, end_pos)` word intervals (0-based inclusive).
    */
  private def nonOwnerSpans(docs: DataFrame, spanWords: Int,
                            minDocs: Int): DataFrame = {
    val spans = seedIslands(dupSeedHits(docs, spanWords, minDocs))
      .select(col("doc_id"), col("s").as("start_pos"),
        (col("e") + spanWords - 1).as("end_pos"), col("key_gh"))
    // Ownership is ONE map-side-combinable aggregate
    // (min(struct(doc_id, start_pos)) per content key) + a span-sized
    // equi-join back — the keepFirstSpans discipline, NOT a
    // row_number window over key_gh: a boilerplate span occurring in
    // millions of docs would concentrate that window's whole key
    // partition in a single straggler task, while the aggregate
    // collapses it to one row map-side. (doc_id, start_pos) is unique
    // per island within a doc (islands are disjoint pos runs), so the
    // struct-min picks exactly the (doc_id, start_pos)-minimal span.
    val owner = spans.groupBy(col("key_gh"))
      .agg(min(struct(col("doc_id"), col("start_pos"))).as("o"))
      .select(col("key_gh"), col("o.doc_id").as("o_doc"),
        col("o.start_pos").as("o_start"))
    spans.join(owner, Seq("key_gh"))
      .filter(col("doc_id") =!= col("o_doc") ||
        col("start_pos") =!= col("o_start"))
      .select(col("doc_id"), col("start_pos"), col("end_pos"))
  }

  def dupSpanRemovalStats(docs: DataFrame, spanWords: Int = 10,
                          minDocs: Int = 2): DataFrame = {
    val nonOwner = nonOwnerSpans(docs, spanWords, minDocs)
    val prevMax = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("start_pos"), col("end_pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val removed = nonOwner
      .withColumn("prev_end", max(col("end_pos")).over(prevMax))
      .withColumn("add", greatest(lit(0),
        col("end_pos") - greatest(col("start_pos") - 1,
          coalesce(col("prev_end"), lit(-1)))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans_removed"),
        sum(col("add")).as("n_words_removed"))
    docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_words"))
      .join(removed, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        coalesce(col("n_spans_removed"), lit(0L)).as("n_spans_removed"),
        coalesce(col("n_words_removed"), lit(0L)).cast("long")
          .as("n_words_removed"))
      .orderBy(col("doc_id"))
  }

  /** The REWRITE that consumes [[dupSpanRemovalStats]]'s manifest —
    * the word-granular sibling of [[decontamRewrite]], making good on
    * the stats operator's "a removal transform follows" promise: every
    * document is re-emitted with its NON-OWNER duplicated spans
    * excised (the owner — the (doc_id, start_pos)-minimal span of each
    * content key — keeps its occurrence), so exactly one copy of every
    * duplicated substring survives corpus-wide.
    *
    * Scale shape: mining and ownership are [[dupSpanRemovalStats]]
    * verbatim (one gram-hash shuffle, output ∝ duplication). The
    * non-owner intervals merge into maximal regions per doc (window
    * bounded by doc length), collect into ONE array per affected doc,
    * and the word filter is a narrow higher-order expression — no
    * per-word shuffle, no reassembly join; untouched docs pass through
    * byte-identical via the left join.
    *
    * Returns `(doc_id, n_words, clean_text, n_words_kept)` with
    * `n_words − n_words_kept` = the stats operator's
    * `n_words_removed` (spec-pinned).
    */
  def dupSpanRewrite(docs: DataFrame, spanWords: Int = 10,
                     minDocs: Int = 2): DataFrame = {
    val nonOwner = nonOwnerSpans(docs, spanWords, minDocs)
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("start_pos"), col("end_pos"))
    val prevMax = byDoc.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val run = byDoc.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val regions = nonOwner
      .withColumn("prev_end", max(col("end_pos")).over(prevMax))
      .withColumn("new_r",
        when(col("start_pos") > coalesce(col("prev_end"), lit(-2)) + 1, 1L)
          .otherwise(0L))
      .withColumn("rid", sum(col("new_r")).over(run))
      .groupBy(col("doc_id"), col("rid"))
      .agg(min(col("start_pos")).as("rs"), max(col("end_pos")).as("re"))
    val ivs = regions.groupBy(col("doc_id"))
      .agg(collect_list(struct(col("rs"), col("re"))).as("ivs"))
    val ws = split(col("text"), " ")
    val kept = filter(ws, (_, i) =>
      !exists(col("ivs"), iv => i >= iv("rs") && i <= iv("re")))
    docs.join(ivs, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(ws).cast("long").as("n_words"),
        when(col("ivs").isNull, col("text"))
          .otherwise(array_join(kept, " ")).as("clean_text"),
        when(col("ivs").isNull, size(ws))
          .otherwise(size(kept)).cast("long").as("n_words_kept"))
      .orderBy(col("doc_id"))
  }

  /** 64-bit SimHash per document — the corpus-scale default.
    *
    * The word hash is the first 16 hex digits of md5(word) read as a
    * signed 64-bit big-endian value (`conv(..., 16, -10)`), so the
    * DuckDB oracle can replay every bit from the same digest (xxhash64
    * would be ~3× cheaper but exists in no other engine; md5 keeps the
    * brute-force oracle honest and is still one digest per word). Bit j
    * is extracted with a logical shift, and the document bit is the
    * sign of the summed ±1 contributions — 64 codegen'd long sums in
    * one HashAggregate with map-side partials.
    */
  def simhash64(docs: DataFrame): DataFrame = {
    graft.functions.TextExpressions.register(docs.sparkSession)
    // narrow codegen'd per-doc pass; see [[simhash]] — this is the
    // corpus-scale shape (signatures computed next to the scan, the
    // only shuffle left in the pair miners is the band self-join)
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        call_function("graft_simhash", col("text"), lit(64)).as("simhash"))
  }

  /** SimHash near-duplicate pair mining over the 64-bit hash: all pairs
    * within `maxHamming` bits, mined with first-match banding over 4
    * bands of 16 bits (pigeonhole recall = 1 for hamming ≤ 3, same
    * argument as [[simhashPairs]]) and verified with exact
    * `bit_count(a ^ b)`.
    *
    * This is the pair miner to run at corpus scale: each band key has
    * 2^16 distinct values, so the band self-joins hash-partition evenly
    * instead of collapsing onto the 16 keys a 16-bit hash would allow —
    * candidates stay proportional to true band collisions all the way
    * up.
    */
  def simhash64Pairs(docs: DataFrame, maxHamming: Int = 3,
                     maxBandFreq: Option[Long] = None): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      "4-band blocking over 64 bits only guarantees recall for hamming <= 3")
    bandedSimhashPairs(simhash64(docs), bandBits = 16, maxHamming, maxBandFreq)
  }

  /** Every character window of length `w` of each doc, with its
    * 1-based start position — the char-level analogue of
    * [[wordShingles]]. Docs shorter than `w` contribute nothing (the
    * explicit length filter matters: `sequence(1, n)` with n <= 0
    * would COUNT DOWN, not return empty).
    */
  private def charWindows(docs: DataFrame, w: Int): DataFrame = {
    graft.functions.TextExpressions.register(docs.sparkSession)
    // one linear kernel pass per doc (zero-copy window slices) instead
    // of explode(sequence) + substring(text, pos, w), whose char-indexed
    // substring walk is O(pos) per position — quadratic per document —
    // and whose Generate carried the full text on every per-char row
    docs.filter(col("text").isNotNull && length(col("text")) >= w)
      .select(col("doc_id"),
        posexplode(call_function("graft_char_windows", col("text"), lit(w)))
          .as(Seq("p0", "g")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"), col("g"))
  }

  /** Character-level exact-substring decontamination (the exact-match
    * discipline of Lee et al. 2021, "Deduplicating Training Data Makes
    * Language Models Better", re-shaped for Spark): a training doc is
    * flagged wherever any of its char windows of length `windowChars`
    * appears verbatim anywhere in the benchmark set. Catches the
    * contamination word-n-gram overlap misses — split-word boundaries,
    * punctuation-fused quotes — because the windows slide over raw
    * characters.
    *
    * Plan shape (the 100 TB design): the benchmark side is tiny by
    * definition (eval sets are MBs), so its distinct windows broadcast;
    * the corpus side is a narrow Generate (the w-per-char blowup is
    * transient in the pipeline, never shuffled or stored) feeding a
    * broadcast left-semi hash join, and only the SURVIVING rows — true
    * matches — reach the per-doc aggregation shuffle. One scan of the
    * corpus, shuffle ∝ contamination found. `maxBroadcastChars` guards
    * the broadcast the same way [[graft.operators.TextAnalysis
    * .contaminationStats]] does, falling back to a shuffle semi join
    * for an oversized benchmark.
    *
    * Returns one row per contaminated doc: total matching window
    * positions, distinct matched windows, and the earliest match
    * position (`first_pos`, 1-based).
    */
  /** The benchmark side of every exact-substring decontamination
    * operator: its distinct char windows, broadcast when the guarded
    * size estimate (total bench chars × window width) fits — shared by
    * [[substringMatches]] and the apply family ([[decontamIntervals]])
    * so the broadcast heuristic can never drift between find and cut.
    */
  private def benchWindowSide(bench: DataFrame, windowChars: Int,
                              maxBroadcastChars: Long): DataFrame = {
    val benchGrams = charWindows(bench, windowChars).select(col("g")).distinct()
    val benchChars = Option(
      bench.agg(sum(length(col("text")))).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    if (benchChars * windowChars <= maxBroadcastChars) broadcast(benchGrams)
    else benchGrams
  }

  def substringMatches(docs: DataFrame, bench: DataFrame,
                       windowChars: Int = 40,
                       maxBroadcastChars: Long = 100000000L): DataFrame = {
    val benchSide = benchWindowSide(bench, windowChars, maxBroadcastChars)
    charWindows(docs, windowChars)
      .join(benchSide, Seq("g"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"),
        countDistinct(col("g")).as("n_grams"),
        min(col("pos")).as("first_pos"))
      .orderBy(col("doc_id"))
  }

  /** Shared hit→interval stage of the decontamination APPLY family:
    * the [[substringMatches]] probe (guarded broadcast of the
    * benchmark's distinct windows, transient per-char Generate,
    * left-semi join) with every match position turned into a removal
    * interval `[pos − padChars, pos + windowChars − 1 + padChars]`
    * clamped to the document. Returns `(doc_id, s, e)`, one row per
    * hit — the input both the stats and the rewrite union per doc.
    */
  private def decontamIntervals(docs: DataFrame, bench: DataFrame,
                                windowChars: Int, padChars: Int,
                                maxBroadcastChars: Long): DataFrame = {
    val benchSide = benchWindowSide(bench, windowChars, maxBroadcastChars)
    graft.functions.TextExpressions.register(docs.sparkSession)
    docs
      .filter(col("text").isNotNull && length(col("text")) >= windowChars)
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
        posexplode(call_function("graft_char_windows", col("text"),
          lit(windowChars))).as(Seq("p0", "g")))
      .select(col("doc_id"), col("n_chars"),
        (col("p0") + 1).cast("long").as("pos"), col("g"))
      .join(benchSide, Seq("g"), "left_semi")
      .select(col("doc_id"),
        greatest(lit(1L), col("pos") - padChars).as("s"),
        least(col("n_chars"),
          col("pos") + lit((windowChars - 1 + padChars).toLong)).as("e"))
  }

  /** The APPLY side of [[substringMatches]] — the decontamination
    * counterpart of [[dupSpanRemovalStats]] (q131) and
    * [[cdcKeepFirstManifest]] (q164): instead of dropping a whole
    * training document because one 40-char window leaked from an eval
    * set, CUT the leaked region and keep the rest. Every matching
    * window position becomes a removal interval `[pos − padChars,
    * pos + windowChars − 1 + padChars]` (padding removes the context
    * a verbatim leak usually drags along), clamped to the document;
    * the per-document removal is the INTERVAL UNION of those — the
    * q131 running-max window — because consecutive match positions
    * overlap by construction.
    *
    * Returns one row per training doc (zero rows filled in):
    * `(doc_id, n_chars, n_hits, n_spans_removed, n_chars_removed)`
    * where `n_spans_removed` counts maximal contiguous removed
    * regions (what a rewrite step cuts) and `n_chars_removed` is the
    * union size. All integers; the oracle replays every window match
    * and the union arithmetic.
    *
    * Scale shape: identical to [[substringMatches]] until the hits
    * exist — one corpus scan, a transient per-char Generate, a
    * broadcast left-semi join — so shuffle is ∝ contamination found,
    * and the union window partitions by doc (bounded by document
    * length, never by corpus size). The final left join restores the
    * uncontaminated majority without widening anything.
    */
  def decontamSpanRemovalStats(docs: DataFrame, bench: DataFrame,
                               windowChars: Int = 40, padChars: Int = 0,
                               maxBroadcastChars: Long = 100000000L)
  : DataFrame = {
    val iv = decontamIntervals(docs, bench, windowChars, padChars,
      maxBroadcastChars)
    val prevMax = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("s"), col("e"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val cut = iv
      .withColumn("prev_end", max(col("e")).over(prevMax))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"),
        sum(when(col("s") > coalesce(col("prev_end"), lit(-2L)) + 1, 1L)
          .otherwise(0L)).as("n_spans_removed"),
        sum(greatest(lit(0L), col("e") - greatest(col("s") - 1,
          coalesce(col("prev_end"), lit(-1L))))).as("n_chars_removed"))
    docs.select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"))
      .join(cut, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chars"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("n_spans_removed"), lit(0L)).cast("long")
          .as("n_spans_removed"),
        coalesce(col("n_chars_removed"), lit(0L)).cast("long")
          .as("n_chars_removed"))
      .orderBy(col("doc_id"))
  }

  /** The REWRITE that consumes [[decontamSpanRemovalStats]]'s
    * intervals — the first manifest CONSUMER in the apply family (the
    * stats operators end at counts; this one emits the cut corpus):
    * each training doc is re-emitted with the union of its removal
    * intervals excised, i.e. `clean_text` = the ordered concatenation
    * of the kept complement segments. Uncontaminated docs pass through
    * byte-identical; a fully-covered doc becomes the empty string.
    *
    * Scale shape: the hits/union stage is [[decontamSpanRemovalStats]]
    * verbatim (shuffle ∝ contamination). The complement and the
    * re-assembly touch ONLY contaminated docs — kept segments group
    * per doc and `array_sort` over the collected (offset, segment)
    * structs rebuilds the text deterministically (segment counts are
    * bounded by the doc's hit count, not the corpus) — and one final
    * left join restores the untouched majority without materializing
    * anything for them.
    *
    * Returns `(doc_id, n_chars, clean_text, n_chars_clean)` with
    * `n_chars − n_chars_clean` = the stats operator's
    * `n_chars_removed` (spec-pinned).
    */
  def decontamRewrite(docs: DataFrame, bench: DataFrame,
                      windowChars: Int = 40, padChars: Int = 0,
                      maxBroadcastChars: Long = 100000000L): DataFrame = {
    val iv = decontamIntervals(docs, bench, windowChars, padChars,
      maxBroadcastChars)
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("s"), col("e"))
    val prevMax = byDoc.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val run = byDoc.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    // merge the hit intervals into maximal removed regions (rs, re)
    val regions = iv
      .withColumn("prev_end", max(col("e")).over(prevMax))
      .withColumn("new_r",
        when(col("s") > coalesce(col("prev_end"), lit(-2L)) + 1, 1L)
          .otherwise(0L))
      .withColumn("rid", sum(col("new_r")).over(run))
      .groupBy(col("doc_id"), col("rid"))
      .agg(min(col("s")).as("rs"), max(col("e")).as("re"))
    // kept complement: the gap before each region + the tail after the
    // last one, all within [1, n_chars]
    val lens = docs.select(col("doc_id"),
      length(col("text")).cast("long").as("n_chars"))
    val byRs = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("rs"))
    val gaps = regions
      .withColumn("prev_re", lag(col("re"), 1).over(byRs))
      .select(col("doc_id"),
        (coalesce(col("prev_re"), lit(0L)) + 1).as("ks"),
        (col("rs") - 1).as("ke"))
      .filter(col("ks") <= col("ke"))
    val tails = regions.groupBy(col("doc_id"))
      .agg(max(col("re")).as("mre"))
      .join(lens, Seq("doc_id"))
      .select(col("doc_id"), (col("mre") + 1).as("ks"),
        col("n_chars").as("ke"))
      .filter(col("ks") <= col("ke"))
    // assemble the cut docs; mark them so empty-after-cut is distinct
    // from never-touched
    val cutDocs = regions.select(col("doc_id")).distinct()
    val assembled = gaps.unionByName(tails)
      .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
      .select(col("doc_id"), struct(col("ks"),
        expr("substring(text, ks, ke - ks + 1)").as("seg")).as("p"))
      .groupBy(col("doc_id"))
      .agg(array_join(
        transform(array_sort(collect_list(col("p"))), x => x("seg")), "")
        .as("clean_text"))
    docs.select(col("doc_id"), col("text"),
        length(col("text")).cast("long").as("n_chars"))
      .join(cutDocs.withColumn("is_cut", lit(1)), Seq("doc_id"), "left")
      .join(assembled, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chars"),
        when(col("is_cut").isNull, col("text"))
          .otherwise(coalesce(col("clean_text"), lit("")))
          .as("clean_text"))
      .withColumn("n_chars_clean",
        length(col("clean_text")).cast("long"))
      .orderBy(col("doc_id"))
  }

  /** Materialise the benchmark's distinct char windows as a PERSISTED
    * decontamination index — the q77/q84 maintenance pattern applied
    * to exact-substring decontamination: eval sets change rarely, so a
    * production pipeline builds their window set once and probes every
    * ingest batch against it instead of recomputing the benchmark scan
    * per run. Windows are stored as the raw strings (exact semantics —
    * a hashed index would admit false positives and diverge from
    * [[substringMatches]]).
    */
  def writeSubstringIndex(bench: DataFrame, path: String,
                          windowChars: Int = 40): Unit =
    IndexLayout.writeBucketed(
      charWindows(bench, windowChars).select(col("g")).distinct(),
      "g", path, "overwrite")

  /** Incrementally extend a substring index with a new benchmark's
    * windows: O(new benchmark) — existing windows are never rewritten
    * (new part files land inside their buckets), and cross-file
    * duplicate windows are harmless (the probe is a left-semi join;
    * `n_grams` counts distinct matched windows either way), so no
    * global dedup pass is needed at append time.
    */
  def appendToSubstringIndex(newBench: DataFrame, path: String,
                             windowChars: Int = 40): Unit =
    IndexLayout.writeBucketed(
      charWindows(newBench, windowChars).select(col("g")).distinct(),
      "g", path, "append")

  /** [[substringMatches]] against a PERSISTED window index: identical
    * results (the q139 gate hash-matches q101's oracle), but the
    * benchmark side is one parquet read of the distinct windows — the
    * probe cost of an ingest batch no longer includes the benchmark
    * scan. Small indexes ride a broadcast like the inline path; the
    * broadcast decision reads the index's ON-DISK byte size from the
    * filesystem (free metadata), not a `count()` scan — a per-probe
    * count would double the index read cost of every batch.
    *
    * `maxBroadcastBytes` bounds the DECODED index: snappy-parquet short
    * strings expand ~3-10× when decoded to JVM rows, so the decision
    * applies [[BroadcastExpansionFactor]] before comparing —
    * the default 64 MB therefore admits ≈ 64 MB of in-memory hash
    * relation (~13 MB on disk), in line with executor-memory budgets,
    * instead of the up-to-640 MB relation the raw on-disk compare
    * allowed.
    */
  def substringMatchesIndexed(docs: DataFrame, path: String,
                              windowChars: Int = 40,
                              maxBroadcastBytes: Long = 64L << 20): DataFrame = {
    // small index: broadcast the whole thing. Oversized index: prune
    // the scan to the batch's window buckets — one extra batch-sized
    // window pass buys a history-independent index read; a batch's
    // window universe almost always exceeds the key-pushdown cap, so
    // this is normally bucket pruning ([[IndexLayout.probeScan]])
    val (idx, small) = IndexLayout.probeScan(docs.sparkSession, path, "g",
      charWindows(docs, windowChars).select(col("g")), maxBroadcastBytes)
    substringMatchesIndexedDf(docs, if (small) broadcast(idx) else idx,
      windowChars)
  }

  /** [[IndexLayout.BroadcastExpansionFactor]], the on-disk-to-decoded
    * ratio behind the `maxBroadcastBytes` bound of the indexed probes.
    */
  final val BroadcastExpansionFactor = IndexLayout.BroadcastExpansionFactor

  /** The probe stage of [[substringMatchesIndexed]] over an ALREADY
    * LOADED (and broadcast-decided) index frame — per-micro-batch
    * callers (`StreamingOps.transformPerBatch`) load the immutable
    * index and size the broadcast ONCE outside the loop instead of
    * paying a parquet read + count job per batch.
    */
  def substringMatchesIndexedDf(docs: DataFrame, idx: DataFrame,
                                windowChars: Int = 40): DataFrame =
    charWindows(docs, windowChars)
      .join(idx, Seq("g"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"),
        countDistinct(col("g")).as("n_grams"),
        min(col("pos")).as("first_pos"))
      .orderBy(col("doc_id"))

  // ---- versioned multi-eval-set decontamination index ----------------
  //
  // Layout: <root>/v<N>/eval_set_id=<id>/bucket=<b>/part-*.parquet
  // (IndexLayout.writeBucketed, eval_set_id leading) plus a tiny
  // `_current` pointer file naming the active version. Production keeps
  // ONE standing index for many benchmark suites: new benchmark batches
  // append in O(batch) into the current version's partition, and
  // compaction (or a rebuild) writes a NEW version directory and flips
  // the pointer last — in-flight probes keep reading a consistent
  // snapshot, and append+compact is provably identical to a fresh
  // rebuild (the index is a distinct-window SET; see
  // SubstringIndexSetsSpec).

  /** Build version 0 of a multi-eval-set window index: `benchSets`
    * carries (eval_set_id, doc_id, text); distinct windows are written
    * partitioned by eval_set_id, so a probe against a subset of suites
    * is a partition-pruned scan.
    */
  def writeSubstringIndexSets(benchSets: DataFrame, path: String,
                              windowChars: Int = 40): Unit =
    IndexLayout.publishVersion(benchSets.sparkSession, path, 0) { v0 =>
      IndexLayout.writeBucketed(
        charWindows(benchSets.select(col("doc_id"), col("text")), windowChars)
          .join(benchSets.select(col("doc_id"), col("eval_set_id")), Seq("doc_id"))
          .select(col("g"), col("eval_set_id")).distinct(),
        "g", v0, "overwrite", partitionCols = Seq("eval_set_id"))
    }

  /** O(new batch) append of one benchmark batch into `evalSetId`'s
    * partition of the CURRENT version: existing files are never
    * rewritten, and duplicate windows across files are harmless — the
    * probe dedups (g, eval_set_id) before joining, and compaction
    * removes them physically.
    */
  def appendToSubstringIndexSets(newBench: DataFrame, evalSetId: Int,
                                 path: String, windowChars: Int = 40): Unit =
    IndexLayout.writeBucketed(
      charWindows(newBench, windowChars).select(col("g")).distinct()
        .withColumn("eval_set_id", lit(evalSetId)),
      "g", IndexLayout.resolveVersionDir(newBench.sparkSession, path), "append",
      partitionCols = Seq("eval_set_id"))

  /** Compact the current version into version N+1 (per-set distinct —
    * appended duplicate windows collapse, file counts reset) and flip
    * the pointer. Compaction is a rebuild, so it takes the session's
    * bucket count (the natural place to grow B as the index grows).
    * Returns the new version number; the old directory is left for
    * in-flight readers (a retention job deletes versions older than
    * the read horizon).
    */
  def compactSubstringIndexSets(spark: org.apache.spark.sql.SparkSession,
                                path: String): Int =
    IndexLayout.publishNextVersion(spark, path) { (live, next) =>
      IndexLayout.writeBucketed(
        spark.read.parquet(live).select(col("g"), col("eval_set_id")).distinct(),
        "g", next, "overwrite", partitionCols = Seq("eval_set_id"))
    }

  /** Probe an ingest batch against EVERY eval set of the current index
    * version in one pass: per-(doc, eval set) hit stats, the q101
    * aggregate keyed by suite. The index side dedups (g, eval_set_id)
    * so un-compacted appends cannot inflate n_hits; small indexes ride
    * a broadcast under the same sizing rule as
    * [[substringMatchesIndexed]].
    */
  def substringMatchesIndexedSets(docs: DataFrame, path: String,
                                  windowChars: Int = 40,
                                  maxBroadcastBytes: Long = 64L << 20): DataFrame = {
    val spark = docs.sparkSession
    val (scan, small) = IndexLayout.probeScan(spark,
      IndexLayout.resolveVersionDir(spark, path), "g",
      charWindows(docs, windowChars).select(col("g")), maxBroadcastBytes)
    val idx = scan
      .select(col("g"), col("eval_set_id").cast("long").as("eval_set_id"))
      .distinct()
    charWindows(docs, windowChars)
      .join(if (small) broadcast(idx) else idx, Seq("g"))
      .groupBy(col("doc_id"), col("eval_set_id"))
      .agg(count(lit(1)).as("n_hits"),
        countDistinct(col("g")).as("n_grams"),
        min(col("pos")).as("first_pos"))
      .orderBy(col("doc_id"), col("eval_set_id"))
  }

  /** Winnowing fingerprints (MOSS — Schleimer/Wilkerson/Aiken, SIGMOD
    * 2003) per document: one row per selected (position, k-gram-hash)
    * fingerprint, columns `doc_id, pos, h`.
    *
    * The selection runs entirely inside the codegen'd
    * `graft_winnow` kernel (O(n) monotonic deque, rightmost-min
    * tie-break — see [[graft.functions.WinnowFingerprints]]): a fully
    * narrow map stage next to the scan, no shuffle. Guarantee: any two
    * documents sharing a run of `k + w - 1` words share at least one
    * fingerprint hash, so cross-doc overlap mining is the equi-join on
    * `h` that [[winnowMatchStats]] performs — sized by the ~2/(w+1)
    * sketch, never by all pairs.
    */
  def winnowFingerprints(docs: DataFrame, k: Int = 4, w: Int = 5): DataFrame = {
    graft.functions.TextExpressions.register(docs.sparkSession)
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        explode(call_function("graft_winnow", col("text"), lit(k), lit(w)))
          .as("fp"))
      .select(col("doc_id"), col("fp.pos").as("pos"), col("fp.h").as("h"))
  }

  /** Fingerprints annotated with how many distinct documents share
    * each hash — the winnowing cross-doc overlap signal. One exact
    * aggregation on `h` (map-side partial) plus one equi-join back;
    * both shuffles are fingerprint-sized (~2/(w+1) of the gram count).
    */
  def winnowMatchStats(docs: DataFrame, k: Int = 4, w: Int = 5): DataFrame = {
    val fps = winnowFingerprints(docs, k, w)
    val shared = fps.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    fps.join(shared, Seq("h"))
      .select(col("doc_id"), col("pos"), col("h"), col("n_docs"))
  }

  /** Content-defined chunking (the gear/Rabin family's
    * position-independent core — see `graft_cdc`): tile every document
    * into variable-size word chunks cut where the 48-bit gram hash ≡ 0
    * mod `d` (expected chunk ≈ d words). Local edits perturb only the
    * boundaries within `w` words of the edit — chunk hashes realign
    * after it — so chunk-hash equality finds content shared ACROSS
    * positions and documents, where fixed-size chunking (q74) loses
    * alignment after any edit. The storage/sub-doc-dedup primitive.
    *
    * Output: one row per (doc, chunk) — `(doc_id, chunk_idx,
    * from_word, to_word, n_words, chunk_hash)` with word intervals
    * 0-based inclusive tiling `[0, n)` per doc, `chunk_hash` =
    * md5 of the space-joined chunk words. One narrow kernel pass +
    * one Generate; no shuffle.
    */
  def cdcChunks(docs: DataFrame, w: Int = 8, d: Int = 32): DataFrame = {
    graft.functions.TextExpressions.register(docs.sparkSession)
    docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"),
        call_function("graft_cdc", col("text"), lit(w), lit(d)).as("ends"))
      .select(col("doc_id"), col("ws"), col("ends"),
        posexplode(col("ends")).as(Seq("chunk_idx", "to_word")))
      .withColumn("from_word",
        when(col("chunk_idx") === 0, lit(0))
          .otherwise(element_at(col("ends"), col("chunk_idx")) + 1))
      .withColumn("n_words", col("to_word") - col("from_word") + 1)
      .withColumn("chunk_hash",
        md5(array_join(slice(col("ws"), col("from_word") + 1, col("n_words")),
          " ").cast("binary")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("from_word").cast("long").as("from_word"),
        col("to_word").cast("long").as("to_word"),
        col("n_words").cast("long").as("n_words"), col("chunk_hash"))
  }

  /** Cross-doc share counts over any chunks frame (word- or
    * byte-granular): each chunk annotated with how many distinct docs
    * hold a chunk with the same hash. The only shuffle is the
    * chunk-hash aggregation + join, sized by chunks, never by pairs.
    */
  private def chunkShareCounts(ch: DataFrame): DataFrame = {
    val shared = ch.groupBy(col("chunk_hash"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    ch.join(shared, Seq("chunk_hash"))
      .select(ch.columns.toIndexedSeq.map(col) :+ col("n_docs"): _*)
  }

  /** First-occurrence chunk selection + gap-and-island merge — the
    * keep-first kernel shared by the word- and byte-granular
    * manifests (a tie-break or island-merge fix must land in BOTH
    * granularities at once, hence one code path): the smallest
    * (doc_id, chunk_idx) occurrence of each chunk hash owns it and
    * stays; each doc's surviving chunks merge into maximal kept
    * intervals over the `from`/`to` columns, with the interval sum
    * emitted as `keptOut`.
    */
  private def keepFirstSpans(ch: DataFrame, from: String, to: String,
                             n: String, keptOut: String): DataFrame = {
    val owner = ch.groupBy(col("chunk_hash"))
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("o"))
      .select(col("chunk_hash"), col("o.doc_id").as("o_doc"),
        col("o.chunk_idx").as("o_idx"))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("chunk_idx"))
    ch.join(owner, Seq("chunk_hash"))
      .filter(col("doc_id") === col("o_doc") && col("chunk_idx") === col("o_idx"))
      .withColumn("prev_idx", lag(col("chunk_idx"), 1).over(byDoc))
      .withColumn("new_span",
        when(col("prev_idx").isNull ||
          col("prev_idx") =!= col("chunk_idx") - 1, 1L).otherwise(0L))
      .withColumn("span_id", sum(col("new_span")).over(byDoc.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("span_id"))
      .agg(min(col(from)).as(from), max(col(to)).as(to),
        sum(col(n)).as(keptOut), count(lit(1)).as("n_chunks"))
      .select(col("doc_id"), (col("span_id") - 1).cast("long").as("span_idx"),
        col(from), col(to), col(keptOut), col("n_chunks"))
  }

  /** [[cdcChunks]] annotated with cross-doc share counts — per chunk,
    * how many distinct docs contain a chunk with the same hash (the
    * sub-document dedup signal).
    */
  def cdcChunkStats(docs: DataFrame, w: Int = 8, d: Int = 32): DataFrame =
    chunkShareCounts(cdcChunks(docs, w, d))

  /** Byte-level CDC tiling of a BINARY column (`graft_cdc_bytes` —
    * the [[cdcChunks]] gear with raw bytes as the symbol stream, for
    * media blobs and packed records that have no word boundaries):
    * one row per (doc, chunk) — `(doc_id, chunk_idx, from_byte,
    * to_byte, n_bytes, chunk_hash)` with byte intervals 0-based
    * inclusive tiling `[0, n)`, `chunk_hash` = md5 of the chunk's raw
    * bytes. Empty/null blobs emit no rows. One narrow kernel pass +
    * one Generate; no shuffle.
    */
  def cdcByteChunks(docs: DataFrame, binCol: String,
                    w: Int = 16, d: Int = 64): DataFrame = {
    graft.functions.TextExpressions.register(docs.sparkSession)
    docs
      .select(col("doc_id"), col(binCol).as("_b"),
        call_function("graft_cdc_bytes", col(binCol), lit(w), lit(d)).as("ends"))
      .select(col("doc_id"), col("_b"), col("ends"),
        posexplode(col("ends")).as(Seq("chunk_idx", "to_byte")))
      .withColumn("from_byte",
        when(col("chunk_idx") === 0, lit(0))
          .otherwise(element_at(col("ends"), col("chunk_idx")) + 1))
      .withColumn("n_bytes", col("to_byte") - col("from_byte") + 1)
      .withColumn("chunk_hash",
        md5(expr("substring(_b, from_byte + 1, n_bytes)")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("from_byte").cast("long").as("from_byte"),
        col("to_byte").cast("long").as("to_byte"),
        col("n_bytes").cast("long").as("n_bytes"), col("chunk_hash"))
  }

  /** [[cdcByteChunks]] with cross-doc share counts — the q162 signal
    * at byte granularity; the only shuffle is the chunk-hash
    * aggregate + join, sized by chunks.
    */
  def cdcByteChunkStats(docs: DataFrame, binCol: String,
                        w: Int = 16, d: Int = 64): DataFrame =
    chunkShareCounts(cdcByteChunks(docs, binCol, w, d))

  /** [[cdcKeepFirstManifest]] at BYTE granularity — the apply side the
    * byte-gear miner ([[cdcByteChunks]]) was missing: every blob chunk
    * whose hash occurred EARLIER (smaller (doc_id, chunk_idx)) is
    * removed, the first occurrence owns its hash, and each doc's
    * surviving chunks merge into maximal KEPT byte intervals —
    * `(doc_id, span_idx, from_byte, to_byte, n_bytes_kept, n_chunks)`.
    * One [[keepFirstSpans]] kernel serves both granularities.
    */
  def cdcByteKeepFirstManifest(docs: DataFrame, binCol: String,
                               w: Int = 16, d: Int = 64): DataFrame =
    keepFirstSpans(cdcByteChunks(docs, binCol, w, d),
      "from_byte", "to_byte", "n_bytes", "n_bytes_kept")

  /** The BYTE-granular rewrite — [[cdcRewrite]]'s sibling for BINARY
    * columns, consuming [[cdcByteKeepFirstManifest]]: each blob
    * re-emitted as the concatenation of its kept byte ranges, so one
    * copy of every distinct byte chunk survives corpus-wide (the
    * storage-dedup compaction for media blobs and packed records).
    * The reassembly is a narrow expression — kept spans sort in one
    * array per doc and `aggregate` folds their `substr` slices with
    * binary `concat` — so nothing byte-level ever shuffles. Because a
    * raw blob column would defeat the gate's hash compare (and be
    * large), the gate-facing output is the rewritten blob's md5 and
    * byte length: `(doc_id, n_bytes, clean_md5, n_bytes_clean)`; a
    * doc whose every chunk is owned elsewhere yields the empty blob.
    */
  def cdcByteRewrite(docs0: DataFrame, binCol: String,
                     w: Int = 16, d: Int = 64): DataFrame = {
    // empty/null blobs emit NO row — symmetric with [[cdcByteChunks]]
    // (which never chunks them) and with the q174 oracle's base CTE
    // (octet_length >= 1): without this filter the left join below
    // would fabricate an md5-of-empty row the chunk side never saw
    val docs = docs0.filter(col(binCol).isNotNull && length(col(binCol)) >= 1)
    val ivs = cdcByteKeepFirstManifest(docs, binCol, w, d)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("from_byte").as("fb"),
        col("to_byte").as("tb"))).as("ivs"))
    val cleanBin = aggregate(
      transform(array_sort(col("ivs")), iv =>
        col(binCol).substr((iv("fb") + 1).cast("int"),
          (iv("tb") - iv("fb") + 1).cast("int"))),
      lit(Array.empty[Byte]),
      (acc, x) => concat(acc, x))
    docs.join(ivs, Seq("doc_id"), "left")
      .select(col("doc_id"),
        length(col(binCol)).cast("long").as("n_bytes"),
        when(col("ivs").isNull, md5(lit(Array.empty[Byte])))
          .otherwise(md5(cleanBin)).as("clean_md5"),
        when(col("ivs").isNull, lit(0L))
          .otherwise(length(cleanBin)).cast("long").as("n_bytes_clean"))
      .orderBy(col("doc_id"))
  }

  /** Materialise the standing CDC chunk-hash index of accepted
    * history: one parquet row per (doc, chunk) occurrence —
    * `(doc_id, chunk_idx, chunk_hash)` — the sub-document analogue of
    * [[writeSignatureIndex]]/[[writeHashIndex]]. Columnar parquet
    * hash-bucketed on `chunk_hash` ([[IndexLayout]]) so probes prune;
    * band-free (chunk equality is exact), so there is no index
    * structure to rebuild on append.
    */
  def writeChunkIndex(docs: DataFrame, path: String,
                      w: Int = 8, d: Int = 32): Unit =
    IndexLayout.writeBucketed(
      cdcChunks(docs, w, d)
        .select(col("doc_id"), col("chunk_idx"), col("chunk_hash")),
      "chunk_hash", path, "overwrite")

  /** O(batch) chunk-index maintenance: only the new docs are chunked
    * and written as new part files inside their buckets — historical
    * rows are never read or rewritten (the [[appendToHashIndex]]
    * discipline).
    */
  def appendToChunkIndex(docs: DataFrame, path: String,
                         w: Int = 8, d: Int = 32): Unit =
    IndexLayout.writeBucketed(
      cdcChunks(docs, w, d)
        .select(col("doc_id"), col("chunk_idx"), col("chunk_hash")),
      "chunk_hash", path, "append")

  /** Ingest-time sub-document dedup probe against [[writeChunkIndex]]
    * state: CDC-chunk the NEW batch only and annotate every batch
    * chunk with how many distinct indexed docs already contain a
    * chunk with the same hash (`n_index_docs` = 0 ⟺ genuinely new
    * content). The history is only ever READ from its bucketed
    * 3-column index — never re-chunked — PRUNED to the batch's
    * buckets/keys ([[IndexLayout.prunedScan]]: probe cost ∝ batch +
    * collisions at ANY history size), and the per-hash aggregate is
    * map-side combined (shuffle sized by the touched distinct hashes,
    * each a 16-byte digest, not by documents). Batch-side cost is
    * O(batch): the narrow kernel + Generate runs once for the prune
    * job and once under the probe join — deliberately NOT cached, so
    * per-micro-batch streaming callers ([[graft.streaming.StreamingOps
    * .cdcProbePerBatch]]) never accumulate pinned batch state.
    *
    * Output: one row per batch chunk — `(doc_id, chunk_idx,
    * from_word, to_word, n_words, chunk_hash, n_index_docs)`.
    */
  def cdcProbeAgainstChunkIndex(newDocs: DataFrame, path: String,
                                w: Int = 8, d: Int = 32): DataFrame = {
    val spark = newDocs.sparkSession
    val batch = cdcChunks(newDocs, w, d)
    val counts = IndexLayout.prunedScan(spark, path, "chunk_hash",
        batch.select(col("chunk_hash")))
      .groupBy(col("chunk_hash"))
      .agg(countDistinct(col("doc_id")).as("n_index_docs"))
    batch
      .join(counts, Seq("chunk_hash"), "left")
      .select(col("doc_id"), col("chunk_idx"), col("from_word"),
        col("to_word"), col("n_words"), col("chunk_hash"),
        coalesce(col("n_index_docs"), lit(0L)).as("n_index_docs"))
  }

  /** The APPLY side of CDC sub-document dedup (the chunk-granular
    * q131): every chunk whose hash occurred EARLIER — at a smaller
    * (doc_id, chunk_idx) — is removed; the first occurrence owns its
    * hash and is kept (so exactly one copy of every distinct chunk
    * survives, including within-doc repeats). The manifest emitted is
    * what a rewrite step consumes: per doc, the maximal runs of kept
    * chunks as word intervals — `(doc_id, span_idx, from_word,
    * to_word, n_words_kept, n_chunks)`; docs whose every chunk is
    * owned elsewhere emit no rows.
    *
    * Scale shape: ownership is ONE map-side-combinable aggregate
    * (`min(struct(doc_id, chunk_idx))` per hash — an aggregate, not a
    * window, so a boilerplate chunk shared by millions of docs never
    * concentrates in one window partition) plus one chunk-sized
    * equi-join back; the run-merge window is partitioned by doc
    * (bounded by document length). Chunks tile the doc disjointly, so
    * unlike q131's overlapping spans no interval union is needed —
    * adjacent kept chunks merge by the gap-and-island window.
    */
  def cdcKeepFirstManifest(docs: DataFrame, w: Int = 8, d: Int = 32): DataFrame =
    keepFirstSpans(cdcChunks(docs, w, d),
      "from_word", "to_word", "n_words", "n_words_kept")

  /** The REWRITE that consumes [[cdcKeepFirstManifest]] — the third
    * and last manifest consumer, completing the rewrite symmetry
    * across all three cut families (decontamination
    * [[decontamRewrite]], duplicated spans [[dupSpanRewrite]], CDC
    * chunks here): every document re-emitted as the ordered
    * concatenation of the words inside its KEPT chunk spans, so
    * exactly one copy of every distinct chunk survives corpus-wide. A
    * doc whose every chunk is owned elsewhere becomes the empty
    * string; a doc owning all its chunks is byte-identical.
    *
    * Scale shape: mining/ownership is [[cdcKeepFirstManifest]]
    * verbatim (one map-side-combinable ownership aggregate + one
    * chunk-sized join); the kept spans collect into ONE array per doc
    * (bounded by the doc's chunk count) and the word selection is the
    * same narrow two-arg higher-order filter as [[dupSpanRewrite]] —
    * no per-word shuffle.
    *
    * Returns `(doc_id, n_words, clean_text, n_words_kept)` with
    * `n_words_kept` = the manifest's per-doc `n_words_kept` sum
    * (spec-pinned).
    */
  def cdcRewrite(docs: DataFrame, w: Int = 8, d: Int = 32): DataFrame = {
    val ivs = cdcKeepFirstManifest(docs, w, d)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("from_word").as("fw"),
        col("to_word").as("tw"))).as("ivs"))
    val ws = split(col("text"), " ")
    val kept = filter(ws, (_, i) =>
      exists(col("ivs"), iv => i >= iv("fw") && i <= iv("tw")))
    docs.join(ivs, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(ws).cast("long").as("n_words"),
        when(col("ivs").isNull, lit(""))
          .otherwise(array_join(kept, " ")).as("clean_text"),
        when(col("ivs").isNull, lit(0))
          .otherwise(size(kept)).cast("long").as("n_words_kept"))
      .orderBy(col("doc_id"))
  }
}
