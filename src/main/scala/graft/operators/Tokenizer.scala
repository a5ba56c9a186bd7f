package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

/** Tokenizer training over a corpus: the distributed primitives of
  * byte-pair-encoding vocabulary construction.
  *
  * The 100 TB shape has two tiers, and keeping them apart is the whole
  * design: [[wordFreqs]] is the single corpus-scale pass (explode words
  * → one keyed shuffle) whose output is VOCABULARY-sized — Heaps' law
  * puts distinct words at ~K·N^0.5, so a 100 TB corpus reduces to a
  * table of maybe 10^8 rows. Everything iterative ([[bpeTrainMerges]])
  * then runs on that word-frequency table: each merge round is one
  * pair-count aggregation over vocab-sized data plus a one-row argmax
  * collect, never touching the corpus again. This mirrors how real
  * tokenizer training works (HuggingFace/SentencePiece pre-tokenize to
  * word counts, then train on the counts), re-expressed as Spark
  * aggregations instead of an in-memory hash map so the vocabulary
  * table itself can exceed one machine.
  *
  * Related reference surface: per-group text aggregation via
  * `grouped_aggregate` (`src/PhysicalStream.cpp` composition patterns);
  * the reference has no tokenizer, so this ring extends it the same way
  * the dedup/ANN operators do.
  */
object Tokenizer {

  /** Corpus word-frequency table — THE corpus-scale shuffle (one
    * explode + one keyed aggregation with map-side partial counts);
    * everything downstream operates on this vocabulary-sized result.
    * Words are space-split tokens, matching the other text operators.
    */
  def wordFreqs(docs: DataFrame): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Adjacent symbol-pair counts weighted by word frequency — one BPE
    * statistics round. `wordSymbols` must carry `freq` (long) and
    * `syms` (array&lt;string&gt;, the word's current symbol sequence).
    * Every adjacent position counts, so "aaa" contributes the pair
    * (a,a) twice — standard BPE statistics.
    */
  def pairCounts(wordSymbols: DataFrame): DataFrame =
    wordSymbols
      .filter(size(col("syms")) >= 2)
      .select(col("freq"), explode(expr(
        "transform(sequence(0, size(syms) - 2), " +
          "i -> struct(syms[i] AS left, syms[i + 1] AS right))")).as("p"))
      .select(col("freq"), col("p.left").as("left"), col("p.right").as("right"))
      .groupBy("left", "right")
      .agg(sum(col("freq")).as("pair_count"))

  /** Left-to-right greedy replacement of adjacent (left, right) by the
    * merged symbol — the standard BPE merge application, shared by the
    * distributed UDF and the in-memory trainer so the two paths can
    * never diverge.
    */
  private def mergeSyms(syms: Seq[String], left: String, right: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == left && syms(i + 1) == right) {
        out += left + right
        i += 2
      } else {
        out += syms(i)
        i += 1
      }
    }
    out.toSeq
  }

  /** Merge application as a UDF — acceptable HERE because it runs over
    * the vocabulary table, not the corpus: the per-round work is
    * vocab-sized by construction.
    */
  private def applyMerge(left: String, right: String): UserDefinedFunction =
    udf { (syms: Seq[String]) => mergeSyms(syms, left, right) }

  /** In-memory BPE merge loop over a COLLECTED word-frequency table —
    * the production path for real vocabularies. A tokenizer needs
    * 30k–50k merge rounds; at Spark's ~0.3 s/job scheduling floor a
    * distributed round-loop spends hours on driver latency alone,
    * while the word-frequency table it iterates over is vocab-sized by
    * Heaps' law and nearly always fits the driver. So: ONE corpus-
    * scale pass builds the table, this loop trains on it in memory
    * with incremental pair-count maintenance (only words containing
    * the merged pair are touched per round, found via posting lists —
    * the same bookkeeping real BPE trainers use), and the distributed
    * loop remains as the bound-checked overflow path.
    *
    * Determinism: the argmax is a full (count desc, left asc, right
    * asc) comparison over the counts map, so hash-iteration order and
    * the collect order of `words` are both irrelevant — this produces
    * the IDENTICAL merge table as the distributed loop (asserted by
    * TokenizerSpec's equivalence property test).
    */
  private[operators] def trainMergesLocal(
      words: Array[(Seq[String], Long)],
      nMerges: Int): Seq[(Int, String, String, String, Long)] = {
    import scala.collection.mutable
    val syms: Array[Seq[String]] = words.map(_._1)
    val freqs: Array[Long] = words.map(_._2)
    val counts = mutable.HashMap.empty[(String, String), Long]
    // pair -> word indices that contained the pair at some point;
    // entries can go stale (cheap), contributions never do
    val posting = mutable.HashMap.empty[(String, String), mutable.HashSet[Int]]
    def eachPair(s: Seq[String])(f: ((String, String)) => Unit): Unit = {
      var i = 0
      while (i + 1 < s.length) { f((s(i), s(i + 1))); i += 1 }
    }
    def add(idx: Int): Unit = eachPair(syms(idx)) { p =>
      counts.update(p, counts.getOrElse(p, 0L) + freqs(idx))
      posting.getOrElseUpdate(p, mutable.HashSet.empty) += idx
    }
    def remove(idx: Int): Unit = eachPair(syms(idx)) { p =>
      val n = counts(p) - freqs(idx)
      if (n == 0L) counts.remove(p) else counts.update(p, n)
    }
    words.indices.foreach(add)
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    var rank = 1
    while (rank <= nMerges && counts.nonEmpty) {
      var bestPair: (String, String) = null
      var bestCount = 0L
      counts.foreach { case (p, c) =>
        if (bestPair == null || c > bestCount ||
          (c == bestCount && (p._1 < bestPair._1 ||
            (p._1 == bestPair._1 && p._2 < bestPair._2)))) {
          bestPair = p; bestCount = c
        }
      }
      val (l, r) = bestPair
      merges += ((rank, l, r, l + r, bestCount))
      posting.remove(bestPair).foreach(_.foreach { idx =>
        val s = syms(idx)
        val hit = (0 until s.length - 1).exists(i => s(i) == l && s(i + 1) == r)
        if (hit) {
          remove(idx)
          syms(idx) = mergeSyms(s, l, r)
          add(idx)
        }
      })
      counts.remove(bestPair) // all contributions were just removed; belt+braces
      rank += 1
    }
    merges.result()
  }

  /** Distributed merge loop — the overflow path when the vocabulary
    * exceeds the driver bound: one vocab-sized pair-count aggregation
    * + one-row argmax collect per round. Each round's result is
    * `localCheckpoint`ed (eager), which BOTH materializes it for the
    * next round's two consumers AND truncates the logical plan —
    * without that the lineage nests one UDF projection per round and a
    * multi-thousand-round train dies on plan size long before any data
    * limit (a chained `cache()` keeps the full plan tree alive).
    * `symSeqs` needs `syms` (array&lt;string&gt;) and `freq` (long).
    */
  private def trainMergesDistributed(symSeqs: DataFrame, nMerges: Int)
      : Seq[(Int, String, String, String, Long)] = {
    var syms = symSeqs.select(col("syms"), col("freq"))
      .localCheckpoint(true) // vocab-sized; each round re-reads it
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    var rank = 1
    var exhausted = false
    while (rank <= nMerges && !exhausted) {
      val top = pairCounts(syms)
        .orderBy(desc("pair_count"), asc("left"), asc("right"))
        .limit(1).collect() // ONE row crosses to the driver per round
      top.headOption match {
        case None => exhausted = true // no pairs left to merge
        case Some(best) =>
          val (left, right, n) = (best.getString(0), best.getString(1), best.getLong(2))
          merges += ((rank, left, right, left + right, n))
          syms = syms.withColumn("syms",
            applyMerge(left, right)(col("syms"))).localCheckpoint(true)
          rank += 1
      }
    }
    merges.result()
  }

  /** Train `nMerges` BPE merges over the corpus: one corpus pass for
    * word frequencies (THE corpus-scale shuffle), then the merge loop
    * over the vocab-sized result — in driver memory while the
    * vocabulary fits `maxLocalVocab` rows (the common case, and ~1000×
    * faster for real 30k+ merge vocabularies: no per-round job
    * scheduling), distributed rounds beyond it. Both paths produce the
    * IDENTICAL merge table (ties broken lexicographically, like the
    * round ordering of real BPE trainers). Returns the merge table
    * (rank, left, right, merged, pair_count) — the artifact a
    * tokenizer ships.
    */
  def bpeTrainMerges(docs: DataFrame, nMerges: Int,
                     maxLocalVocab: Long = 2000000L): DataFrame =
    bpeTrainMergesOnSymbols(
      wordFreqs(docs).select(
        expr("filter(split(word, ''), s -> length(s) > 0)").as("syms"),
        col("freq")),
      nMerges, maxLocalVocab)

  /** Train over explicit symbol sequences — the general entry behind
    * [[bpeTrainMerges]] (which feeds it char symbols per word). Feeding
    * WORD symbols per document instead gives word-level BPE over a
    * pre-tokenized corpus, the shape production trainers consume.
    * `symSeqs` needs `syms` (array&lt;string&gt;) and `freq` (long);
    * it must be vocabulary-sized (aggregated upstream), never the raw
    * corpus rows — the two-tier local/distributed split assumes it.
    */
  def bpeTrainMergesOnSymbols(symSeqs: DataFrame, nMerges: Int,
                              maxLocalVocab: Long = 2000000L): DataFrame = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    val spark = symSeqs.sparkSession
    import spark.implicits._
    val wf = symSeqs.select(col("syms"), col("freq"))
      .cache() // vocab-sized; probed then iterated
    try {
      val vocab = wf.count()
      val merges =
        if (vocab <= maxLocalVocab) {
          val rows = wf.collect().map(r =>
            (r.getSeq[String](0), r.getLong(1)))
          trainMergesLocal(rows, nMerges)
        } else trainMergesDistributed(wf, nMerges)
      merges.toDF("rank", "left", "right", "merged", "pair_count")
    } finally { wf.unpersist(); () }
  }

  /** Segment one word against a rank lookup: repeatedly merge the
    * PRESENT pair with the lowest rank until none of the word's
    * adjacent pairs is in the table — the standard applier production
    * BPE tokenizers use. Per-word cost is O(len · merges_applied),
    * INDEPENDENT of the merge-table size; the old rank-order scan
    * ([[segmentWordRankScan]]) pays O(nMerges · len) per word — ~30k
    * mostly-missing passes per word at a production vocabulary.
    *
    * Equivalence: for a TRAINED table the two appliers produce
    * identical output. A merge at rank k can only create adjacencies
    * involving its merged symbol, and that symbol first exists at
    * round k, so every pair the trainer records over it has rank > k —
    * merging the lowest present rank first therefore never applies a
    * merge the rank-order scan would have missed, and vice versa.
    * (TokenizerSpec asserts old ≡ new on trained tables; q109 gates
    * the applier end-to-end against the oracle's rank-order replay.)
    */
  private[operators] def segmentWord(
      word: String,
      rankOf: java.util.HashMap[(String, String), Integer]): Seq[String] =
    segmentSyms(word.split("").toSeq.filter(_.nonEmpty), rankOf)

  /** [[segmentWord]]'s engine over an explicit symbol sequence — used
    * directly for word-level BPE (symbols = words).
    */
  private[operators] def segmentSyms(
      init: Seq[String],
      rankOf: java.util.HashMap[(String, String), Integer]): Seq[String] = {
    var syms: Seq[String] = init
    var done = syms.length < 2 || rankOf.isEmpty
    while (!done) {
      var best = Int.MaxValue
      var bl: String = null
      var br: String = null
      var i = 0
      while (i + 1 < syms.length) {
        val r = rankOf.get((syms(i), syms(i + 1)))
        if (r != null && r < best) { best = r; bl = syms(i); br = syms(i + 1) }
        i += 1
      }
      if (bl == null) done = true
      else syms = mergeSyms(syms, bl, br)
    }
    syms
  }

  /** The old apply-side algorithm — one full pass over the word per
    * table entry, in rank order. Kept as the executable spec for
    * [[segmentWord]]'s equivalence property test; not used by any
    * query path.
    */
  private[operators] def segmentWordRankScan(
      word: String, ranked: Array[(String, String)]): Seq[String] = {
    var syms: Seq[String] = word.split("").toSeq.filter(_.nonEmpty)
    ranked.foreach { case (l, r) => syms = mergeSyms(syms, l, r) }
    syms
  }

  /** Build the segmentation UDF for a trained merge table. The table
    * is collected to the driver and shipped in the UDF closure as a
    * pair→rank hash map — it is the trained artifact (thousands of
    * rows), never corpus-scale data.
    */
  private def rankMap(mergeTable: DataFrame): java.util.HashMap[(String, String), Integer] = {
    val rankOf = new java.util.HashMap[(String, String), Integer]
    mergeTable.select("rank", "left", "right").collect().foreach { r =>
      val key = (r.getString(1), r.getString(2))
      val rank = r.getInt(0)
      val prev = rankOf.get(key)
      if (prev == null || rank < prev) rankOf.put(key, rank)
    }
    rankOf
  }

  def bpeApplier(mergeTable: DataFrame): UserDefinedFunction = {
    val rankOf = rankMap(mergeTable)
    udf { (word: String) => segmentWord(word, rankOf) }
  }

  /** [[bpeApplier]] over explicit symbol sequences (array&lt;string&gt;
    * column) — the apply side of word-level BPE.
    */
  def bpeApplierSymbols(mergeTable: DataFrame): UserDefinedFunction = {
    val rankOf = rankMap(mergeTable)
    udf { (syms: Seq[String]) => segmentSyms(syms, rankOf) }
  }

  /** Segment each document's words with a trained merge table — the
    * apply side of BPE, greedy rank-order semantics (see
    * [[segmentWord]] for the applier and its equivalence argument).
    */
  def bpeSegment(docs: DataFrame, mergeTable: DataFrame): DataFrame = {
    val segment = bpeApplier(mergeTable)
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .withColumn("tokens", segment(col("word")))
  }
}
