package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Text analysis operators for training-data pipelines: language ID,
  * quality scoring, token statistics, document fingerprinting.
  *
  * All computations are integer/string based (counts and comparisons,
  * no cross-engine float division) so the DuckDB oracles reproduce them
  * bit-for-bit. Each operator is a narrow projection + one aggregation —
  * at 100 TB these pipeline entirely inside whole-stage codegen with no
  * shuffle except the final group-by.
  */
object TextAnalysis {

  /** Stopword marker profiles per language for the n-gram/stopword
    * language-ID heuristic. Deterministic argmax with lexicographic
    * tie-break (ties go to the alphabetically first language).
    */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "en" -> Seq("the", "a", "of", "and", "to", "is"),
    "es" -> Seq("el", "la", "los", "que", "y", "es"),
    "fr" -> Seq("le", "les", "des", "et", "est", "une"),
    "zh" -> Seq("的", "了", "是", "我", "不", "在"))

  private def scoreExpr(markers: Seq[String]): String =
    markers.map(m => s"size(filter(w, x -> x = '$m'))").mkString(" + ")

  /** Per-document classification from marker hits (doc_id, lang, ml =
    * matched language): pivot-count scores → deterministic argmax
    * (ordered when-chain, alphabetically first language wins ties, no
    * hits → 'und') → one row per doc (doc_id, lang, guess).
    */
  private def guessesFromHits(docs: DataFrame, hits: DataFrame,
                              langs: Seq[String]): DataFrame = {
    val scores = hits
      .groupBy(col("doc_id"), col("lang"))
      .pivot("ml", langs)
      .count()
    // docs with zero marker hits drop out of `scores`; restore them with
    // all-zero rows so they classify as 'und' like the direct formulation
    val scored = docs.select(col("doc_id"), col("lang"))
      .join(scores, Seq("doc_id", "lang"), "left")
      .na.fill(0L, langs)
    val maxScore = greatest(langs.map(col): _*)
    val guessCol = langs.foldLeft(when(maxScore <= 0, lit("und"))) {
      case (acc, l) => acc.when(col(l) === maxScore, lit(l))
    }.otherwise(lit("und"))
    scored.withColumn("guess", guessCol)
      .select(col("doc_id"), col("lang"), col("guess"))
  }

  private def confusionFromHits(docs: DataFrame, hits: DataFrame,
                                langs: Seq[String]): DataFrame =
    guessesFromHits(docs, hits, langs)
      .groupBy(col("lang"), col("guess"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("guess"))

  /** Per-doc stopword-marker hits: (doc_id, lang, ml = matched
    * language), the shared input of [[langIdGuesses]] and
    * [[langIdConfusion]].
    */
  private def markerHits(docs: DataFrame): DataFrame = {
    // marker words are globally unique across profiles, so one map works
    val markerMap = map(langProfiles.flatMap { case (l, ms) =>
      ms.flatMap(m => Seq(lit(m), lit(l)))
    }: _*)
    docs
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("wd"))
      .select(col("doc_id"), col("lang"), element_at(markerMap, col("wd")).as("ml"))
      .filter(col("ml").isNotNull)
  }

  /** Per-document language guess (doc_id, lang, guess) — the
    * composable form used by pipeline queries; [[langIdConfusion]] is
    * its confusion-matrix aggregation.
    */
  def langIdGuesses(docs: DataFrame): DataFrame =
    guessesFromHits(docs, markerHits(docs), langProfiles.map(_._1))

  /** Per-document language guess + confusion matrix vs the labeled lang.
    *
    * Implemented as explode → map-literal lookup → pivot-count rather
    * than 30 `size(filter(...))` higher-order expressions: the lambda
    * form generates a codegen unit so large that first-compile cost
    * dominates small runs, while this shape is all codegen-friendly
    * primitives and one keyed aggregation (the scalable topology — at
    * 100 TB the marker lookup is a narrow map stage and the only
    * shuffle is per-doc score aggregation).
    */
  def langIdConfusion(docs: DataFrame): DataFrame =
    confusionFromHits(docs, markerHits(docs), langProfiles.map(_._1))

  /** Characteristic char trigrams per language, derived
    * deterministically from the marker lexicon: every trigram of each
    * space-padded marker word, kept only when unique to one language.
    */
  val charTrigramProfiles: Seq[(String, Seq[String])] = {
    val raw = langProfiles.map { case (l, ws) =>
      l -> ws.flatMap { w0 =>
        val w = s" $w0 "
        (0 to w.length - 3).map(i => w.substring(i, i + 3))
      }.distinct
    }
    val owners = raw.flatMap { case (l, gs) => gs.map(_ -> l) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
    raw.map { case (l, gs) => l -> gs.filter(g => owners(g) == 1) }
  }

  /** Char-n-gram language ID: the same confusion-matrix output as
    * [[langIdConfusion]] but scored on character trigrams of the
    * space-padded text — the classic n-gram profile heuristic, robust
    * to languages without whitespace tokenization (the zh markers only
    * ever match here via their padded single-char grams).
    *
    * Scores are substring-occurrence counts (non-overlapping,
    * left-to-right — `replace` semantics, identical in the JVM and
    * DuckDB) summed over each language's gram set, computed as ONE
    * whole-stage-codegen projection per document: no per-position
    * explode (which costs a row per character), no hit-table shuffle,
    * no pivot — the scan is the only pass over the corpus and the lone
    * shuffle is the tiny (lang, guess) aggregation. That plan shape is
    * flat in corpus size, which is what survives 100 TB.
    */
  def langIdCharNgram(docs: DataFrame): DataFrame = {
    val langs = charTrigramProfiles.map(_._1)
    // materialize the padded text once: inlining it into each of the
    // ~90 gram counters would blow the codegen'd expression tree up
    // ~200× (multi-second janino compile for zero runtime gain)
    val padded = docs.select(col("doc_id"), col("lang"),
      concat(lit(" "), col("text"), lit(" ")).as("_t"))
    val t = col("_t")
    val scores = charTrigramProfiles.map { case (l, gs) =>
      gs.map(g => (length(t) - length(replace(t, lit(g)))).divide(3))
        .reduce(_ + _).cast("long").as(s"score_$l")
    }
    val scored = padded.select(Seq(col("doc_id"), col("lang")) ++ scores: _*)
    val maxScore = greatest(langs.map(l => col(s"score_$l")): _*)
    val guessCol = langs.foldLeft(when(maxScore <= 0, lit("und"))) {
      case (acc, l) => acc.when(col(s"score_$l") === maxScore, lit(l))
    }.otherwise(lit("und"))
    scored.withColumn("guess", guessCol)
      .groupBy(col("lang"), col("guess"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("guess"))
  }

  /** Quality metrics per document — integer components plus a boolean
    * flag (token count and stopword-ratio test expressed as integer
    * comparisons so no float crosses the oracle boundary).
    */
  def qualityScore(docs: DataFrame, minTokens: Int = 20): DataFrame = {
    val stopwords = Seq("the", "a", "of", "and", "to", "is")
    docs.select(col("doc_id"), col("text"), split(col("text"), " ").as("w"))
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        size(col("w")).cast("long").as("n_tokens"),
        expr(scoreExpr(stopwords)).cast("long").as("n_stopwords"),
        expr("aggregate(w, 0, (m, x) -> greatest(m, length(x)))").cast("long")
          .as("max_token_len"))
      .withColumn("is_quality",
        col("n_tokens") >= minTokens && col("n_stopwords") * lit(20) >= col("n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Token statistics per source: BPE-ish token estimate = whitespace
    * tokens plus long-word splits (every 6 chars of a word beyond the
    * first 6 counts as an extra token — a deterministic stand-in for a
    * subword tokenizer's behavior on long words).
    */
  def tokenStats(docs: DataFrame): DataFrame = {
    docs.select(col("doc_id"), col("source"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), col("source"),
        size(col("w")).cast("long").as("n_tokens"),
        expr("aggregate(w, 0, (acc, x) -> acc + CAST(floor(greatest(length(x) - 1, 0) / 6) AS INT))")
          .cast("long").as("n_extra_subtokens"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"),
        sum(col("n_tokens") + col("n_extra_subtokens")).as("sum_subword_tokens"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"))
      .orderBy(col("source"))
  }

  /** BPE-ish regex tokenization (GPT-2-style pre-tokenizer, simplified
    * to constructs shared by Java regex and RE2 — no lookarounds):
    * common contractions, letter runs, digit runs, punctuation runs.
    * This is the pre-tokenization pass a byte-pair encoder would refine;
    * the count is the budget-relevant "token" number for corpus sizing.
    */
  val BpeishPattern = "'(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+"

  /** Per-source regex-token statistics (the "BPE-ish" counterpart of
    * the whitespace-based [[tokenStats]]).
    */
  def bpeishTokenStats(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
        size(regexp_extract_all(col("text"), lit(BpeishPattern), lit(0)))
          .cast("long").as("n_bpeish"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bpeish")).as("sum_bpeish_tokens"),
        min(col("n_bpeish")).as("min_bpeish_tokens"),
        max(col("n_bpeish")).as("max_bpeish_tokens"))
      .orderBy(col("source"))

  /** Within-document repetition statistics per source — the Gopher-style
    * "duplicate word fraction" quality signal, computed entirely from
    * narrow array expressions (`size` / `array_distinct` per doc, no
    * explode, no per-word shuffle): the scan is the only pass over the
    * corpus and the lone shuffle is the tiny per-source aggregation.
    * Outputs integer sums only (consumers derive ratios), keeping the
    * oracle comparison float-free.
    */
  def repetitionStats(docs: DataFrame): DataFrame =
    docs.select(col("source"), split(col("text"), " ").as("w"))
      .select(col("source"),
        size(col("w")).cast("long").as("n"),
        size(array_distinct(col("w"))).cast("long").as("d"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n")).as("sum_words"),
        sum(col("n") - col("d")).as("sum_dup_words"),
        max(col("n") - col("d")).as("max_dup_words"))
      .orderBy(col("source"))

  /** PII-shaped patterns for corpus scrubbing. Constructs restricted to
    * the regex subset Java and RE2 share (no lookarounds, no backrefs)
    * so the same pattern runs in Spark, DuckDB, and any RE2-based
    * scrubber unchanged.
    */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "phone" -> "\\+?[0-9]{1,3}[-. ]?\\(?[0-9]{3}\\)?[-. ]?[0-9]{3}[-. ]?[0-9]{4}",
    "ipv4" -> "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b")

  /** Redact every match of `pattern` in `column`, adding
    * `<column>_redacted` and a `<column>_n_redactions` count. A narrow
    * projection (regexp_replace + regexp_extract_all are both
    * codegen'd): at 100 TB this is a pure map stage that pipelines with
    * the scan — redact close to the data, never shuffle raw text to a
    * scrubbing service.
    */
  def redactPattern(df: DataFrame, column: String, pattern: String,
                    replacement: String = "[REDACTED]"): DataFrame =
    df.withColumn(s"${column}_redacted",
        regexp_replace(col(column), pattern, replacement))
      .withColumn(s"${column}_n_redactions",
        size(regexp_extract_all(col(column), lit(pattern), lit(0))).cast("long"))

  /** Apply every [[PiiPatterns]] rule in sequence (each tag replaced by
    * its own marker, counts per rule).
    */
  def redactPii(df: DataFrame, column: String): DataFrame =
    PiiPatterns.foldLeft(
      df.withColumn(s"${column}_pii", col(column))) { case (d, (tag, pat)) =>
      d.withColumn(s"${column}_n_$tag",
          size(regexp_extract_all(col(s"${column}_pii"), lit(pat), lit(0))).cast("long"))
        .withColumn(s"${column}_pii",
          regexp_replace(col(s"${column}_pii"), pat, s"[${tag.toUpperCase}]"))
    }

  /** Benchmark-contamination report: for each non-benchmark source, how
    * many docs share at least one word `n`-gram with the benchmark set
    * (the decontamination check every training pipeline runs against
    * eval suites). The corpus side stays a narrow shingle projection +
    * one semi join + one per-source count, with output proportional to
    * contaminated docs, not candidate pairs.
    *
    * The benchmark gram table is broadcast only while it is verifiably
    * small: distinct n-grams are bounded above by the benchmark's total
    * word count, which one NARROW single-pass aggregation over the
    * bench text measures (no explode, no distinct — a `limit(k).count`
    * probe on the gram table would still run the full distinct
    * aggregation, paying the gram build twice; measured 3.1 s vs 0.2 s
    * at sf0.1). Past `maxBroadcastGrams` the semi join drops the hint
    * and AQE picks the strategy — a real eval suite can carry tens of
    * millions of distinct n-grams, where an unconditional broadcast
    * hint would OOM the driver instead of shuffling.
    *
    * NOTE: the bound probe is one eager narrow Spark job at DataFrame
    * CONSTRUCTION time (the join hint must be decided while building
    * the plan) — merely constructing this operator's result executes
    * that small aggregation, like `IvfIndex.topK`'s query-row lookup.
    */
  def contaminationStats(docs: DataFrame, bench: DataFrame, n: Int = 3,
                         maxBroadcastGrams: Long = 2000000L): DataFrame = {
    val benchGrams = TextDedup.wordShingles(bench, n)
      .select(col("sh")).distinct()
    val wordBound = Option(
      bench.agg(sum(size(split(col("text"), " ")))).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    val benchSide =
      if (wordBound <= maxBroadcastGrams) broadcast(benchGrams)
      else benchGrams
    val docGrams = TextDedup.wordShingles(docs, n)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
    val contaminated = docGrams
      .join(benchSide, Seq("sh"), "left_semi")
      .select(col("doc_id"), col("source")).distinct()
      .groupBy(col("source")).agg(count(lit(1)).as("n_contaminated"))
    docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .join(contaminated, Seq("source"), "left")
      .na.fill(0L, Seq("n_contaminated"))
      .orderBy(col("source"))
  }

  /** First-occurrence n-gram novelty: per document, how many of its
    * distinct word k-grams appear HERE FIRST (ingestion order =
    * ascending doc_id) — the marginal-new-content signal a curation
    * pipeline uses to rank sources and decide whether the next crawl
    * dump still pays for itself. A doc of boilerplate already seen
    * scores ~0; genuinely new text scores ~its gram count.
    *
    * Scale shape: two hash aggregations over the distinct-shingle
    * view, both ∝ corpus grams. The per-gram `min(doc_id)` collapses
    * the gram table to one row per DISTINCT gram before the per-doc
    * recount, so no joins ever touch the wide gram table — the only
    * join is doc-keyed (one row per doc on each side). All-integer
    * outputs; docs with fewer than k words carry no shingles and are
    * excluded (the dedup miners' domain).
    */
  def noveltyStats(docs: DataFrame, k: Int = 3): DataFrame = {
    val grams = TextDedup.wordShingles(docs, k)
    val totals = grams.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"))
    val novel = grams.groupBy(col("sh"))
      .agg(min(col("doc_id")).as("doc_id"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_novel"))
    totals.join(novel, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"))
  }

  /** Materialise the DISTINCT-gram index of a corpus: one parquet row
    * per distinct word k-gram — the standing state that makes
    * [[noveltyAgainstIndex]] an O(batch) ingest-time probe instead of
    * a rescan of the history. Existence is all novelty needs (a gram
    * in the history can never be first-seen in a later batch), so the
    * index carries no owner column and appends stay cheap.
    * Hash-bucketed on the gram ([[IndexLayout]]) so probes and
    * append-time dedup prune to the batch's buckets.
    */
  def writeGramIndex(docs: DataFrame, path: String, k: Int = 3): Unit =
    IndexLayout.writeBucketed(
      TextDedup.wordShingles(docs, k).select(col("sh")).distinct(),
      "sh", path, "overwrite")

  /** O(batch) index maintenance: append the batch's grams that are
    * not already present. One batch-sized distinct + one anti-join
    * probe of the standing index (PRUNED to the batch's buckets) —
    * the history is only ever read where the batch can collide.
    */
  def appendGramIndex(batch: DataFrame, path: String, k: Int = 3): Unit = {
    val fresh = TextDedup.wordShingles(batch, k).select(col("sh")).distinct()
    val idx = IndexLayout.prunedScan(batch.sparkSession, path, "sh", fresh)
    IndexLayout.writeBucketed(
      fresh.join(idx, Seq("sh"), "left_anti"), "sh", path, "append")
  }

  /** Ingest-time novelty: [[noveltyStats]] for a NEW batch against the
    * standing gram index — per batch doc, how many of its distinct
    * k-grams are first-seen here (absent from the history AND not
    * first-claimed by a smaller-id batch doc). When the index holds
    * the grams of all docs with smaller ids, this equals the
    * full-corpus [[noveltyStats]] restricted to the batch — the gate's
    * equivalence — while only the batch is ever shingled.
    *
    * Scale shape: batch grams anti-join the index (hash join on the
    * gram key, index side never collected and PRUNED to the batch's
    * buckets — [[IndexLayout.prunedScan]]), then the same two
    * batch-sized aggregations as the inline operator.
    */
  def noveltyAgainstIndex(batch: DataFrame, path: String,
                          k: Int = 3): DataFrame = {
    val grams = TextDedup.wordShingles(batch, k)
    val idx = IndexLayout.prunedScan(batch.sparkSession, path, "sh",
      grams.select(col("sh")))
    val totals = grams.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"))
    val novel = grams.join(idx, Seq("sh"), "left_anti")
      .groupBy(col("sh"))
      .agg(min(col("doc_id")).as("doc_id"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_novel"))
    totals.join(novel, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"))
  }

  /** Corpus-wide hot n-grams by document frequency — the C4-style
    * boilerplate-discovery pass (grams that appear in many distinct
    * docs are headers/footers/licence text to strip). Per-doc distinct
    * shingles keep the count a true document frequency and the explode
    * output ∝ corpus grams; one hash aggregation, then a top-k sort on
    * the (tiny) gram table.
    */
  def hotNgrams(docs: DataFrame, n: Int = 3, topK: Int = 10): DataFrame =
    TextDedup.wordShingles(docs, n)
      .groupBy(col("sh").as("gram"))
      .agg(count(lit(1)).as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("gram").asc)
      .limit(topK)

  /** Tokenizer-prep vocabulary profile: the corpus vocabulary is every
    * word whose relative frequency is at least 1/`relDenom` of the
    * token stream (`freq * relDenom >= total_tokens` — an INTEGER
    * comparison, so the rule is exact in any engine and scale-invariant
    * where an absolute count cutoff degenerates as the corpus grows).
    * Reports, per source, total tokens and how many fall outside the
    * vocabulary — the out-of-vocabulary rate a tokenizer build needs
    * before committing to a vocab.
    *
    * Scale shape: one corpus word-frequency aggregation (∝ vocabulary),
    * a broadcast of the tiny vocab table into the membership join, and
    * one per-source aggregation.
    */
  def vocabOovStats(docs: DataFrame, relDenom: Long = 1000L): DataFrame = {
    require(relDenom > 0)
    val words = docs.select(col("source"),
      explode(split(col("text"), " ")).as("w"))
    val freqs = words.groupBy(col("w")).agg(count(lit(1)).as("f"))
    val total = freqs.agg(sum(col("f")).as("total_tokens"))
    val vocab = freqs.crossJoin(broadcast(total))
      .filter(col("f") * relDenom >= col("total_tokens"))
      .select(col("w"), lit(1L).as("in_vocab"))
    val vocabSize = vocab.agg(count(lit(1)).as("vocab_size"))
    words.join(broadcast(vocab), Seq("w"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .crossJoin(broadcast(vocabSize))
      .select(col("source"), col("n_tokens"), col("n_oov"), col("vocab_size"))
      .orderBy(col("source"))
  }

  /** Power-of-two length histogram: bucket = floor(log2(len)), computed
    * EXACTLY as the bit length of the integer (via its binary-string
    * representation) rather than a float log that can misbucket exact
    * powers of two by one ulp. The corpus length profile is the first
    * chart every data audit draws; one hash aggregation over a narrow
    * projection.
    */
  def lengthLogHistogram(df: DataFrame, lenCol: String): DataFrame =
    df.filter(col(lenCol) > 0)
      .withColumn("bucket",
        (length(conv(col(lenCol).cast("string"), 10, 2)) - 1).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col(lenCol)).as("sum_len"),
        min(col(lenCol)).as("min_len"), max(col(lenCol)).as("max_len"))
      .orderBy(col("bucket"))

  /** Most source-distinctive terms by smoothed tf-idf:
    * `tf(source, term) * ln((N + 1) / (doc_freq + 1))`, top `topK` per
    * source — the corpus-profiling pass that surfaces what each crawl
    * source is actually about (and catches template contamination as
    * weirdly-high-idf boilerplate tokens).
    *
    * Scale shape: two keyed aggregations (corpus doc-frequency ∝
    * vocabulary; per-source term frequency ∝ source vocabularies), a
    * broadcast of the single-row total, and a per-source window whose
    * `row_number <= k` filter plans a WindowGroupLimit — partitions trim
    * to local top-k before the stratum shuffle, so nothing global ever
    * sorts the whole vocabulary.
    *
    * Ranking is on the ROUNDED score: `ln` is not guaranteed correctly
    * rounded across engines, so two raw scores within an ulp of each
    * other could rank differently between Spark and an oracle; rounding
    * to the output precision first makes such near-ties exact ties,
    * broken deterministically by term.
    */
  def tfidfTopTerms(docs: DataFrame, topK: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = docs.select(col("doc_id"), col("source"),
      explode(split(col("text"), " ")).as("term"))
    val docFreq = words.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("doc_freq"))
    val tf = words.groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val total = docs.agg(count(lit(1)).as("n_total"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("tfidf").desc, col("term").asc)
    tf.join(docFreq, Seq("term"))
      .crossJoin(broadcast(total))
      .withColumn("tfidf", round(
        col("tf") * log((col("n_total") + 1).cast("double") / (col("doc_freq") + 1)), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("source"), col("term"), col("tf"), col("doc_freq"),
        col("tfidf"), col("rank").cast("long").as("rank"))
      .orderBy(col("source"), col("rank"))
  }

  /** Context-length chunking: split each document into overlapping
    * ~`chunkTokens`-token windows (stride = chunkTokens − overlap) —
    * the pre-tokenization pass that turns long documents into
    * training-sequence-sized pieces. Chunk starts are
    * `1, 1+stride, …` up to `max(n − overlap, 1)`, so every token is
    * covered, the final chunk may run short, and a doc shorter than one
    * chunk yields exactly one chunk. Narrow explode: output rows ∝
    * chunks, no shuffle, deterministic chunk numbering — at 100 TB
    * this pipelines with the scan and the (doc_id, chunk_no) key is
    * stable under retries.
    */
  def chunkByTokens(docs: DataFrame, chunkTokens: Int, overlap: Int): DataFrame = {
    require(chunkTokens > 0 && overlap >= 0 && overlap < chunkTokens,
      s"need 0 <= overlap < chunkTokens, got chunk=$chunkTokens overlap=$overlap")
    val stride = chunkTokens - overlap
    docs.select(col("doc_id"), col("source"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), col("source"), col("w"),
        posexplode(expr(
          s"sequence(1, greatest(size(w) - $overlap, 1), $stride)"))
          .as(Seq("chunk_no", "st")))
      .select(col("doc_id"), col("source"),
        col("chunk_no").cast("long").as("chunk_no"),
        array_join(slice(col("w"), col("st"), lit(chunkTokens)), " ").as("chunk"))
      .withColumn("n_chunk_tokens", size(split(col("chunk"), " ")).cast("long"))
  }

  /** Rule-based quality gate in the Gopher/C4 family (Rae et al. 2021
    * §A1.1, Raffel et al. 2020 §2.2), adapted to word-level rules for
    * single-line corpora. Every rule is an integer comparison with
    * ratio thresholds cross-multiplied away (no division, no floats),
    * so the flags replay bit-for-bit in any engine:
    *
    *   r_word_count: minWords <= n <= maxWords
    *   r_mean_len:   3 <= mean word length <= 10, as 3n <= chars <= 10n
    *   r_dup_frac:   duplicate-word fraction <= 30%, as 10(n-d) <= 3n
    *   r_stopwords:  >= 2 distinct stopwords present
    *   r_max_word:   longest word <= 20 chars (no unbroken junk runs)
    *
    * One narrow projection (split + collection built-ins), no shuffle —
    * the 100 TB shape is a pure map stage that pipelines with the scan,
    * exactly like [[qualityScore]].
    */
  def gopherRules(docs: DataFrame, minWords: Int = 10, maxWords: Int = 100000,
                  stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "is"))
      : DataFrame = {
    docs.select(col("doc_id"), col("text"), split(col("text"), " ").as("w"))
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_words"),
        // single-space-joined words: chars = sum(word lens) + (n - 1)
        (length(col("text")) - size(col("w")) + 1).cast("long").as("n_word_chars"),
        size(array_distinct(col("w"))).cast("long").as("n_distinct"),
        size(array_intersect(array_distinct(col("w")),
          lit(stopwords.toArray))).cast("long").as("n_stop_kinds"),
        expr("aggregate(w, 0, (m, x) -> greatest(m, length(x)))").cast("long")
          .as("max_word_len"))
      .withColumn("r_word_count",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("r_mean_len",
        lit(3L) * col("n_words") <= col("n_word_chars") &&
          col("n_word_chars") <= lit(10L) * col("n_words"))
      .withColumn("r_dup_frac",
        lit(10L) * (col("n_words") - col("n_distinct")) <= lit(3L) * col("n_words"))
      .withColumn("r_stopwords", col("n_stop_kinds") >= 2L)
      .withColumn("r_max_word", col("max_word_len") <= 20L)
      .withColumn("pass",
        col("r_word_count") && col("r_mean_len") && col("r_dup_frac") &&
          col("r_stopwords") && col("r_max_word"))
      .orderBy(col("doc_id"))
  }

  /** Document fingerprint: full-text hash plus min/max rolling window
    * hash over word 5-grams (the winnowing-style sketch primitives).
    */
  def fingerprint(docs: DataFrame): DataFrame = {
    val sh5 = TextDedup.wordShingles(docs, k = 5)
      .withColumn("h", md5(col("sh").cast("binary")))
      .groupBy(col("doc_id"))
      .agg(min(col("h")).as("min_gram_hash"), max(col("h")).as("max_gram_hash"),
        count(lit(1)).as("n_grams"))
    docs.select(col("doc_id"), md5(col("text").cast("binary")).as("text_hash"))
      .join(sh5, Seq("doc_id"), "left")
      .orderBy(col("doc_id"))
  }

  /** Blocklist phrase counting via one Aho–Corasick scan per document
    * (see [[graft.functions.AhoCorasickCounts]]): (doc_id, pattern, n)
    * for every pattern with at least one (possibly overlapping)
    * char-level occurrence. One narrow kernel pass regardless of
    * pattern count — the scrubbing/contamination-phrase scan shape for
    * a 10^4-phrase blocklist over a 100 TB corpus, where per-pattern
    * `instr`/regex scans would multiply the text touched by |patterns|.
    */
  def multiPatternCounts(docs: DataFrame, patterns: Seq[String]): DataFrame = {
    graft.functions.AhoCorasick.register(docs.sparkSession)
    val delim = graft.functions.AhoCorasick.Delimiter.toString
    require(patterns.nonEmpty && patterns.forall(p => p.nonEmpty && !p.contains(delim)),
      "patterns must be non-empty and delimiter-free")
    val patArray = array(patterns.map(lit): _*)
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        posexplode(call_function("graft_ac_count", col("text"),
          lit(patterns.mkString(delim)))).as(Seq("pidx", "n")))
      .filter(col("n") > 0)
      .select(col("doc_id"),
        element_at(patArray, col("pidx") + 1).as("pattern"), col("n"))
  }
}
