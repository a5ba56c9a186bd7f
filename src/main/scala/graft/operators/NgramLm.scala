package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bigram language-model quality scoring — the perplexity-filter stage
  * of a training-data pipeline (score every document against an n-gram
  * LM fit on the corpus; drop the tails) expressed as two broadcast
  * joins and integer arithmetic.
  *
  * Model: add-one-smoothed bigram probabilities
  * P(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V), with the bigram table
  * pruned to counts ≥ minCount — pruning is what makes the model
  * broadcastable at corpus scale (a 100 TB corpus has ~10^9 raw
  * bigrams but ~10^7 above any useful floor; unseen/pruned bigrams
  * fall back to the smoothing floor 1/(c(w1)+V), exactly the
  * smoothing's job). The score pipeline is: one narrow pass emitting
  * (doc, bigram) with multiplicity, a broadcast join to the pruned
  * model, a broadcast join to the unigram table, one groupBy(doc) —
  * no shuffle proportional to anything but the document count.
  *
  * Scores are gate-portable integers, not log-likelihoods: per bigram
  * q = floor(1e6 · P(w2|w1)) — the product 1e6·(c12+1) is exact below
  * 2^53, IEEE division is correctly rounded in both engines, floor of
  * equal doubles is equal (the same cross-engine float contract as
  * q30's cosines; log/exp would NOT survive it, different libm). The
  * per-document sum is then an integer sum — order-insensitive, so
  * partitioning cannot flip a bit. A real filter thresholds this
  * integer directly (it is a monotone transform of avg probability).
  */
object NgramLm {

  /** (doc_id, bigram) with multiplicity from a whitespace-token text
    * column — the codegen'd `graft_grams` kernel (one split per row,
    * no per-element lambda re-split). Docs with < 2 tokens yield null
    * and drop out, mirroring the oracle's len >= 2 guard.
    */
  def bigrams(docs: DataFrame, id: String, text: String): DataFrame = {
    graft.functions.TextExpressions.register(docs.sparkSession)
    docs.select(col(id),
        call_function("graft_grams", col(text), lit(2)).as("bgs"))
      .where(col("bgs").isNotNull)
      .select(col(id), explode(col("bgs")).as("bg"))
  }

  /** Unigram counts over the same tokenization. */
  def unigrams(docs: DataFrame, text: String): DataFrame =
    docs.select(explode(split(col(text), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1"))

  /** Per-document LM score: n_bigrams, the integer score sum, and the
    * truncating per-bigram mean (`div` — floor for the non-negative
    * scores here, identical to DuckDB's `//`).
    */
  def scoreDocs(docs: DataFrame, id: String, text: String,
                minCount: Long = 2L): DataFrame = {
    val uni = unigrams(docs, text)
    // vocabulary size: one scalar off a count — model fitting's driver
    // step, like IVF's centroid pull; never row data
    val v = uni.count()
    val model = bigrams(docs, id, text)
      .groupBy("bg").agg(count(lit(1)).as("c12"))
      .where(col("c12") >= minCount)
    bigrams(docs, id, text)
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .join(broadcast(model), Seq("bg"), "left")
      .join(broadcast(uni), col("w1") === uni("w"), "left")
      .withColumn("q",
        floor(lit(1000000L) * (coalesce(col("c12"), lit(0L)) + 1L) /
          (col("c1") + lit(v))).cast("long"))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("q")).as("lm_sum"),
        expr("sum(q) div count(1)").as("lm_mean"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): every
    * scored document assigned to one of `nBuckets` quality tiers
    * (0 = head … nBuckets-1 = tail) by its position in the corpus
    * score distribution. Output: (id, lm_mean, bucket).
    *
    * The bucket rule is threshold-on-the-score, not rank-on-the-doc:
    * all docs sharing an integer `lm_mean` land in the same bucket,
    * assigned from the count of strictly-better-scored docs —
    * `bucket = min(nBuckets-1, floor(nBuckets * n_better / n))`.
    * That keeps the global pass SCALABLE: the only unpartitioned
    * window runs over the aggregated score DISTRIBUTION (distinct
    * integer scores, ≤ 1e6 rows by construction — a bounded model-size
    * artifact like the LM itself), never over the corpus; docs then
    * join the broadcast distribution on their score. A rank-per-doc
    * rule (ntile) would need a corpus-wide total order — the
    * single-partition sort this formulation exists to avoid.
    */
  def perplexityBuckets(docs: DataFrame, id: String, text: String,
                        minCount: Long = 2L, nBuckets: Int = 3): DataFrame = {
    val scores = scoreDocs(docs, id, text, minCount)
    val dist = scores.groupBy(col("lm_mean")).agg(count(lit(1)).as("cnt"))
    scores.join(broadcast(bucketThresholds(dist, nBuckets)), Seq("lm_mean"))
      .select(col(id), col("lm_mean"), col("bucket"))
  }

  /** The score→bucket table from a (lm_mean, cnt) score DISTRIBUTION —
    * the decision core shared by the batch operator above and the
    * incremental per-batch flavor
    * ([[graft.streaming.StreamingOps.pplBucketsPerBatch]], which feeds
    * it the cumulative distribution): both assign
    * `min(nBuckets-1, floor(nBuckets·n_better/n))` from the same
    * integer arithmetic, so stream and batch agree exactly on any
    * shared prefix. The window here runs over the distribution, never
    * the corpus.
    */
  def bucketThresholds(dist: DataFrame, nBuckets: Int): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be >= 2, got $nBuckets")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("lm_mean").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    dist
      .withColumn("n_better", coalesce(sum(col("cnt")).over(w), lit(0L)))
      .withColumn("n", sum(col("cnt")).over())
      .select(col("lm_mean"),
        least(lit(nBuckets - 1L),
          expr(s"($nBuckets * n_better) div n")).cast("int").as("bucket"))
  }
}
