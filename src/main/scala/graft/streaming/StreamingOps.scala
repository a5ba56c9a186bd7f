package graft.streaming

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Structured Streaming flavor of the engine (SURVEY.md §7.2 M8).
  *
  * The reference is batch-only — its "streaming" is process piping — so
  * this module is a capability extension: the same chunk-sequence model
  * mapped onto micro-batches. Patterns covered:
  *  - P5 (carried-state window) as a stateful streaming session/window
  *  - tumbling event-time windows with watermark-based late-data drop
  *  - the pipe operator applied per micro-batch via foreachBatch
  */
object StreamingOps {

  /** Hard ceiling on the driver-held state the per-batch incremental
    * operators fold micro-batches into (distinct integer scores for
    * the bucket/budget flavors, sources for the KMV flavor). The
    * bound is structural for the gated score functions — integer
    * deciles / source ids — but a caller feeding a CONTINUOUS score
    * would grow the map without limit; the `limit(n+1)`+require makes
    * that fail loudly instead of OOMing the driver.
    */
  final val MaxDriverGroups = 100000

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                   event_type: String, value: Double)
  case class SessionUpdate(user_id: Long, n_events: Long, sum_value: Double,
                           start_sec: Long, end_sec: Long)
  case class SessionState(n: Long, sum: Double, startSec: Long, lastSec: Long)

  /** Tumbling 1-hour event-time window with a 30-minute watermark:
    * counts and sums per (window, event_type). Works on a streaming or
    * batch events DataFrame (same code path — that is the point of the
    * unified Dataset API).
    */
  def hourlyAggregates(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:00").as("hour"),
        col("event_type"), col("n"), col("sum_value"))

  /** Gap-based sessionization with explicit state: a session closes when
    * >gap passes without an event for that user (the streaming
    * equivalent of the batch q16_sessionize query), emitted as one row
    * per closed session. Each group's state carries an EVENT-time
    * timeout at lastSec + gap, so a user that simply goes quiet has
    * their final session flushed as soon as the stream's watermark
    * passes the gap — no wall-clock wait, no state parked forever.
    * (A processing-time timeout would also force the engine to schedule
    * wall-clock batches, making `processAllAvailable` block for the
    * whole gap.)
    *
    * @param lateness watermark delay: events arriving in a later
    *                 micro-batch with ts below (max seen ts − lateness)
    *                 are DROPPED before the stateful operator. The
    *                 default "0 seconds" keeps state minimal but loses
    *                 any cross-batch out-of-order event; feeds with
    *                 disorder should pass their real lateness bound and
    *                 pay the extra state.
    */
  def sessionize(events: Dataset[Event], gapSeconds: Long = 1800,
                 lateness: String = "0 seconds"): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionUpdate](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // the watermark passed lastSec + gap: the open session is over
            val s = state.get
            state.remove()
            Iterator.single(SessionUpdate(userId, s.n, s.sum, s.startSec, s.lastSec))
          } else {
            // within a micro-batch, order the user's events by time
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var st = state.getOption.orNull
            val closed = Seq.newBuilder[SessionUpdate]
            sorted.foreach { e =>
              val sec = e.ts.getTime / 1000
              st match {
                case null =>
                  st = SessionState(1, e.value, sec, sec)
                case s if sec - s.lastSec > gapSeconds =>
                  closed += SessionUpdate(userId, s.n, s.sum, s.startSec, s.lastSec)
                  st = SessionState(1, e.value, sec, sec)
                case s =>
                  st = SessionState(s.n + 1, s.sum + e.value, s.startSec, sec)
              }
            }
            if (st != null) {
              state.update(st)
              // must stay above the current watermark or Spark rejects it
              state.setTimeoutTimestamp(math.max(
                (st.lastSec + gapSeconds) * 1000 + 1,
                state.getCurrentWatermarkMs() + 1))
            } else state.remove()
            closed.result().iterator
          }
      }
  }

  /** Synthetic far-future event: advances the event-time watermark past
    * every open session's timeout, so [[sessionize]] flushes them all —
    * the deterministic end-of-stream drain for tests and batch replays.
    */
  def drainSentinel(maxSec: Long): Event =
    Event(Long.MaxValue, new Timestamp((maxSec + 1000000L) * 1000L), -1L, "drain", 0.0)

  /** Streaming exact deduplication for a document/event feed: drop
    * every record whose content hash was already seen, with state
    * bounded by the event-time watermark (a duplicate arriving later
    * than `withinDelay` after the original is passed through — the
    * standard state/recall trade every streaming dedup makes; at 100 TB
    * /day unbounded exact state is not an option).
    *
    * Built on `dropDuplicatesWithinWatermark`, so the state store keys
    * on the (tiny) hash column, not the document body.
    */
  def dedupExactStream(docs: DataFrame, contentCol: String, tsCol: String,
                       withinDelay: String = "1 hour"): DataFrame =
    docs
      .withColumn("content_hash", md5(col(contentCol).cast("binary")))
      .withWatermark(tsCol, withinDelay)
      .dropDuplicatesWithinWatermark("content_hash")

  /** One banded-signature row per (doc, band) for the streaming
    * near-dup filter.
    */
  case class BandedDoc(doc_id: Long, simhash: Long, band: Int, bkey: Long)

  /** A near-dup candidate emitted by [[nearDupCandidatesStream]]:
    * `doc_id` collided with earlier `dup_of` in some band at the given
    * hamming distance. The same pair can surface from several bands —
    * deduplicate downstream (`groupBy(doc_id).agg(min(dup_of))` is the
    * keep-earliest policy).
    */
  case class DupCandidate(doc_id: Long, dup_of: Long, hamming: Int)

  /** Per-row 64-bit SimHash, identical bit-for-bit to the batch
    * `TextDedup.simhash64` (asserted in StreamingOpsSpec): word hashes
    * from the first 16 md5 hex digits, document bits from the signed
    * bit sums. The batch operator aggregates exploded words (codegen'd
    * HashAggregate — right for a scan over a corpus); here each
    * document is ONE streaming row, so the same math runs as
    * higher-order array folds over the row's own words — narrow, no
    * shuffle, no state.
    */
  def simhash64Col(textCol: String): Column =
    expr(
      s"""aggregate(sequence(0, 63), cast(0 as bigint), (acc, j) ->
         |  acc + IF(aggregate(
         |      transform(split($textCol, ' '),
         |        w -> cast(conv(substr(md5(cast(w as binary)), 1, 16), 16, -10) as bigint)),
         |      0, (a, h) -> a + IF((shiftrightunsigned(h, j) & 1) = 1, 1, -1)) > 0,
         |    shiftleft(cast(1 as bigint), j), cast(0 as bigint)))""".stripMargin)

  /** Streaming near-duplicate candidate mining at ingestion: each
    * document's 64-bit SimHash is banded into 4×16-bit keys, and a
    * stateful operator keyed on (band, key) compares every new arrival
    * against the signatures already seen in that bucket, emitting a
    * [[DupCandidate]] per hamming-≤`maxHamming` match. The pigeonhole
    * argument of the batch miner applies unchanged: a true pair within
    * `maxHamming` ≤ 3 shares at least one band, so no candidate is
    * missed while both docs' signatures are in state.
    *
    * State design for an unbounded feed: one signature (16 bytes) per
    * doc per band, and each bucket is capped at `maxBucket` signatures
    * (oldest kept — the keep-earliest policy's natural direction; a
    * pathological hot bucket, e.g. near-empty documents, stops
    * accumulating instead of growing forever — the streaming analog of
    * the batch `maxShingleFreq` cap, with the same recall caveat on
    * whatever exceeds the cap).
    */
  def nearDupCandidatesStream(docs: DataFrame, textCol: String = "text",
                              maxHamming: Int = 3,
                              maxBucket: Int = 1024): Dataset[DupCandidate] = {
    require(maxHamming >= 0 && maxHamming <= 3,
      "4-band blocking over 64 bits only guarantees recall for hamming <= 3")
    import docs.sparkSession.implicits._
    val banded = docs
      .withColumn("simhash", simhash64Col(textCol))
      .select(col("doc_id"), col("simhash"),
        explode(expr(
          "transform(sequence(0, 3), j -> struct(j as band, shiftrightunsigned(simhash, j * 16) & 65535 as bkey))"))
          .as("b"))
      .select(col("doc_id"), col("simhash"),
        col("b.band").as("band"), col("b.bkey").as("bkey"))
      .as[BandedDoc]
    banded
      .groupByKey(d => (d.band, d.bkey))
      .flatMapGroupsWithState[Vector[(Long, Long)], DupCandidate](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: (Int, Long), rows: Iterator[BandedDoc], state: GroupState[Vector[(Long, Long)]]) =>
          var bucket = state.getOption.getOrElse(Vector.empty)
          val out = Seq.newBuilder[DupCandidate]
          rows.toSeq.sortBy(_.doc_id).foreach { d =>
            bucket.foreach { case (prevId, prevSig) =>
              if (prevId != d.doc_id) {
                val hamming = java.lang.Long.bitCount(prevSig ^ d.simhash)
                if (hamming <= maxHamming)
                  out += DupCandidate(d.doc_id, prevId, hamming)
              }
            }
            // an at-least-once source can re-deliver a doc: never store
            // it twice (duplicates would eat the bucket cap and evict
            // capacity for distinct signatures)
            if (bucket.size < maxBucket && !bucket.exists(_._1 == d.doc_id))
              bucket :+= (d.doc_id, d.simhash)
          }
          state.update(bucket)
          out.result().iterator
      }
  }

  /** Watermarked stream-stream interval join: pair each left event with
    * the right-side events of the same key that occur within
    * `[left.ts, left.ts + within]` — the canonical impression→click
    * correlation. Both sides carry watermarks and the join condition
    * bounds event time in BOTH directions, which is what lets Spark
    * expire buffered state instead of holding each side forever (state
    * per side ≈ watermark + interval worth of data, independent of
    * stream length — the property that matters on an unbounded feed).
    * Works identically on batch frames (same API, no watermark state).
    */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   within: String = "15 minutes",
                   watermark: String = "30 minutes",
                   leftTs: String = "ts", rightTs: String = "ts"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark).alias("l")
    val r = right.withWatermark(rightTs, watermark).alias("r")
    l.join(r,
      col(s"l.$key") === col(s"r.$key") &&
        col(s"r.$rightTs") >= col(s"l.$leftTs") &&
        col(s"r.$rightTs") <= col(s"l.$leftTs") + expr(s"INTERVAL $within"))
  }

  private type Sink = (DataFrame, Long) => Unit

  /** The one per-batch adapter: `each` runs on every micro-batch of
    * `input` (append mode, foreachBatch) — the same batch operator
    * serving the stream through one Dataset entry point.
    */
  private def perBatch(input: DataFrame)(each: Sink): StreamingQuery =
    input.writeStream.outputMode(OutputMode.Append).foreachBatch(each).start()

  /** `each`, then release the operator caches its probes tracked
    * (`graft.Tables.trackOperatorCache`), so a long-running stream
    * never accumulates them.
    */
  private def releasing(each: Sink): Sink = (batch, batchId) =>
    try each(batch, batchId)
    finally graft.Tables.releaseTrackedCaches(batch.sparkSession)

  /** Hand `probe` to the sink; with `appendAfterProbe`, pin it first
    * (persist + count) so the `append` of the batch to the standing
    * index cannot leak into a sink that evaluates lazily, and release
    * the pinned blocks once the append is done.
    */
  private def probeThenAppend(probe: DataFrame, batchId: Long, sink: Sink,
                              appendAfterProbe: Boolean)(append: => Unit): Unit =
    if (appendAfterProbe) {
      val pinned = probe.persist()
      try {
        pinned.count() // break the probe->index dependency NOW
        sink(pinned, batchId)
        append
      } finally pinned.unpersist(blocking = false)
    } else sink(probe, batchId)

  /** `batch` grouped by `key` and aggregated by `agg`, collected: at
    * most [[MaxDriverGroups]] groups (the `limit(n+1)` means the driver
    * never receives more), or the stream fails loudly.
    */
  private def driverGroups(batch: DataFrame, key: String, agg: Column,
                           fn: String, held: String): Array[Row] = {
    val groups = batch.groupBy(col(key)).agg(agg).limit(MaxDriverGroups + 1).collect()
    require(groups.length <= MaxDriverGroups,
      s"$fn: > $MaxDriverGroups distinct $key values in one batch — the driver-held $held")
    groups
  }

  /** Fold one batch's per-score `agg` into the driver-held cumulative
    * distribution `cum` of a bounded integer score.
    */
  private def foldScores(cum: mutable.Map[Long, Long], batch: DataFrame,
                         scoreCol: String, agg: Column, fn: String): Unit = {
    driverGroups(batch, scoreCol, agg, fn, "distribution assumes a bounded " +
      "integer score (bucket/round the score upstream)")
      .foreach(r => cum(r.getLong(0)) = cum.getOrElse(r.getLong(0), 0L) + r.getLong(1))
    require(cum.size <= MaxDriverGroups,
      s"$fn: cumulative distribution exceeded $MaxDriverGroups distinct scores")
  }

  /** Run ANY batch DataFrame transform per micro-batch — the
    * foreachBatch adapter that lets every stateless batch operator
    * (decontamination probes against a standing index, fingerprints,
    * quality gates) serve an ingest stream with the exact operator
    * call the batch pipeline uses. State, if any, lives OUTSIDE the
    * stream (e.g. a persisted index); the stream itself stays
    * watermark-free.
    */
  def transformPerBatch(input: DataFrame, f: DataFrame => DataFrame,
                        sink: (DataFrame, Long) => Unit): StreamingQuery =
    perBatch(input)((batch, batchId) => sink(f(batch), batchId))

  /** Run the pipe operator on each micro-batch of a stream: the
    * streaming flavor of `Stream.tsv` (reference chunk-sequence model
    * mapped onto micro-batches).
    */
  def pipePerBatch(input: DataFrame, cmd: String,
                   sink: (DataFrame, Long) => Unit): StreamingQuery =
    transformPerBatch(input, graft.operators.Stream.tsv(_, cmd), sink)

  /** Incremental CCNet-style perplexity bucketing over a stream of
    * ALREADY-SCORED documents `(id, lm_mean)` (the scoring LM is a
    * pretrained artifact in a streaming pipeline — per-doc scoring is
    * stateless; the cross-doc state is the score DISTRIBUTION, which
    * is what this operator accumulates). Each micro-batch folds its
    * per-score counts into the cumulative distribution (driver-held,
    * bounded by distinct integer scores — the same model-sized-
    * artifact argument as the batch operator) and assigns THIS batch's
    * docs from [[graft.operators.NgramLm.bucketThresholds]] over the
    * cumulative distribution. Exactly the batch operator's integer
    * thresholds: a single-batch stream reproduces
    * `perplexityBuckets` bit-for-bit, and batch k's assignments equal
    * the batch threshold table of the full prefix 1..k applied to
    * batch k (earlier emissions are never retracted — the
    * at-ingestion admission flavor of the policy).
    */
  def pplBucketsPerBatch(scored: DataFrame, scoreCol: String = "lm_mean",
                         nBuckets: Int = 3, sink: (DataFrame, Long) => Unit)
  : StreamingQuery = {
    val cum = mutable.Map.empty[Long, Long]
    perBatch(scored) { (batch, batchId) =>
      val spark = batch.sparkSession
      import spark.implicits._
      foldScores(cum, batch, scoreCol, count(lit(1)).as("cnt"), "pplBucketsPerBatch")
      // bucketThresholds' distribution contract is the (lm_mean, cnt)
      // schema; rename on the way in and out so any scoreCol works
      val thresholds = graft.operators.NgramLm
        .bucketThresholds(cum.toSeq.toDF("lm_mean", "cnt"), nBuckets)
        .withColumnRenamed("lm_mean", scoreCol)
      sink(batch.join(broadcast(thresholds), Seq(scoreCol)), batchId)
    }
  }

  /** Incremental token-budget admission over a stream of scored docs
    * `(id, score, tokens)`: the cumulative (score → tokens)
    * distribution is driver-held like [[pplBucketsPerBatch]]'s, and
    * each micro-batch's docs get keep decisions from
    * [[graft.operators.Sampling.tokenBudgetGroups]] over the
    * cumulative distribution — the same integer budget arithmetic as
    * the batch operator (single-batch stream ≡ `tokenBudgetSelect`
    * bit-for-bit; batch k's decisions ≡ the cumulative decision table
    * of prefix 1..k applied to batch k's docs). Admission semantics:
    * decisions are emitted once and never retracted; the at-most-one
    * boundary score group packs each batch's docs by id against the
    * budget headroom the cumulative table grants that score.
    */
  def tokenBudgetPerBatch(scored: DataFrame, idCol: String, scoreCol: String,
                          tokensCol: String, budgetNum: Long, budgetDen: Long,
                          sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val cum = mutable.Map.empty[Long, Long]
    perBatch(scored) { (batch, batchId) =>
      val spark = batch.sparkSession
      import spark.implicits._
      foldScores(cum, batch, scoreCol, sum(col(tokensCol)).as("st"), "tokenBudgetPerBatch")
      val groups = graft.operators.Sampling
        .tokenBudgetGroups(cum.toSeq.toDF("s", "st"), budgetNum, budgetDen)
      sink(graft.operators.Sampling
        .tokenBudgetApply(batch, idCol, scoreCol, tokensCol, groups), batchId)
    }
  }

  /** The full q150 incremental-ingest verdict chain per micro-batch:
    * each arriving batch of candidate-new `(doc_id, text)` docs is
    * diffed against the standing snapshot fingerprints (only
    * added/changed content proceeds), the delta near-dup-probes the
    * standing MinHash signature index, survivors are decontaminated
    * against the benchmark windows, and the sink receives one
    * `(doc_id, status, n_chars)` verdict per delta doc
    * (dup > contaminated > kept).
    *
    * All cross-doc state lives OUTSIDE the stream — `oldSnap` (a
    * static `(doc_id, fp)` fingerprint table), the persisted
    * signature index, and the static benchmark — and each doc's
    * verdict is a pure function of (doc, standing state), so the
    * stream is embarrassingly batchable: any batching of the new
    * snapshot yields the union of the batch verdicts, and a
    * single-batch stream reproduces the q150 batch chain bit-for-bit
    * (the StreamingOpsSpec parity pin). A batch here is a PARTIAL
    * snapshot: 'removed' keys are what the full diff of the final
    * snapshot says, not a per-batch notion, so only added/changed
    * flow through — the at-ingestion admission flavor, like the other
    * per-batch operators. The index probe caches its batch signatures
    * and candidates (tracked); they are released per micro-batch.
    */
  def ingestVerdictPerBatch(newDocs: DataFrame, oldSnap: DataFrame,
                            sigIndexPath: String, bench: DataFrame,
                            threshold: Double = 0.8, windowChars: Int = 40,
                            sink: (DataFrame, Long) => Unit): StreamingQuery =
    perBatch(newDocs)(releasing { (batch, batchId) =>
      val fpNew = batch.withColumn("fp", md5(col("text").cast("binary")))
      val delta = graft.operators.SnapshotDiff
        .delta(oldSnap, fpNew, "doc_id", "fp")
        .select(col("doc_id"), col("text"))
      val dups = graft.operators.TextDedup
        .nearDupsAgainstIndex(delta, sigIndexPath, threshold)
        .select(col("doc_id")).distinct()
      val survivors = delta.join(dups, Seq("doc_id"), "left_anti")
      val contaminated = graft.operators.TextDedup
        .substringMatches(survivors, bench, windowChars)
        .select(col("doc_id")).distinct()
      sink(delta
        .join(dups.withColumn("is_dup", lit(true)), Seq("doc_id"), "left")
        .join(contaminated.withColumn("is_cont", lit(true)),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("is_dup"), lit("dup"))
            .when(col("is_cont"), lit("contaminated"))
            .otherwise(lit("kept")).as("status"),
          length(col("text")).cast("long").as("n_chars")), batchId)
    })

  /** The UNIFIED multimodal admission chain per micro-batch: each
    * arriving batch of candidate-new `(doc_id, text, blob)` docs is
    * diffed against the standing multimodal snapshot fingerprints
    * (md5(text) + media signature, so a media-only change re-ingests
    * the doc), and the delta runs
    * [[graft.operators.Curation.multimodalIngestVerdict]] — text
    * dedup against the MinHash index, media dedup of text survivors
    * against the 64-bit hash index, decontamination — emitting one
    * `(doc_id, status, n_chars)` verdict with a reason
    * (dup_text > dup_media > contaminated > kept).
    *
    * All cross-doc state is OUTSIDE the stream (`oldSnap` with its
    * precomputed `fp`, the two persisted indexes, the static
    * benchmark), so each doc's verdict is a pure function of (doc,
    * standing state) and any batching yields the union of the batch
    * verdicts — single-batch ≡ the q166 batch chain bit-for-bit
    * (the StreamingOpsSpec parity pin). The media probe inside the
    * verdict caches its keyed batch (tracked); it is released per
    * micro-batch.
    */
  def multimodalIngestPerBatch(newDocs: DataFrame, oldSnap: DataFrame,
                               mediaSig: Column,
                               sigIndexPath: String, hashIndexPath: String,
                               bench: DataFrame,
                               threshold: Double = 0.8, windowChars: Int = 40,
                               maxHamming: Int = 3,
                               maxBandFreq: Option[Long] = None,
                               sink: (DataFrame, Long) => Unit): StreamingQuery =
    perBatch(newDocs)(releasing { (batch, batchId) =>
      val fpNew = batch.withColumn("fp",
        concat(md5(col("text").cast("binary")), lit(":"),
          coalesce(mediaSig.cast("string"), lit("none"))))
      val delta = graft.operators.SnapshotDiff
        .delta(oldSnap, fpNew, "doc_id", "fp")
        .select(col("doc_id"), col("text"), col("blob"))
      sink(graft.operators.Curation.multimodalIngestVerdict(delta,
        mediaSig, sigIndexPath, hashIndexPath, bench,
        threshold, windowChars, maxHamming, maxBandFreq), batchId)
    })

  /** Per-batch MEDIA ingest dedup: each micro-batch of `(doc_id,
    * simhash)` signatures (any modality's 64-bit perceptual hash)
    * probes the standing [[graft.operators.TextDedup.writeHashIndex]]
    * state through the capped banded join — the streaming flavor of
    * q161, with the index as static state outside the stream (the
    * same per-batch-vs-standing-state shape as
    * [[ingestVerdictPerBatch]]). Each batch's hit set is a pure
    * function of (batch, index), so any batching yields the union of
    * batch results — the StreamingOpsSpec parity pin. The probe caches
    * the keyed batch (tracked); it is released per micro-batch.
    */
  def mediaDedupPerBatch(sigs: DataFrame, indexPath: String,
                         maxHamming: Int = 3,
                         maxBandFreq: Option[Long] = None,
                         sink: (DataFrame, Long) => Unit): StreamingQuery =
    perBatch(sigs)(releasing { (batch, batchId) =>
      sink(graft.operators.TextDedup.nearDupsAgainstHashIndex(
        batch, indexPath, maxHamming, maxBandFreq), batchId)
    })

  /** Per-batch SEMANTIC ingest dedup: each micro-batch of `(vec_id,
    * embedding)` vectors probes the standing
    * [[graft.operators.IvfIndex.writeIndex]] state through
    * [[graft.operators.IvfIndex.semanticDedupAgainstIndex]] — the
    * streaming flavor of q178, completing the per-batch symmetry
    * across the dedup modalities (MinHash [[ingestVerdictPerBatch]],
    * media [[mediaDedupPerBatch]], CDC [[cdcProbePerBatch]]). With `appendAfterProbe` the batch then
    * extends the index via `appendToIndex` (stored-centroid
    * assignment, O(batch) new part files in the touched lists), so
    * batch n+1 sees batch n's vectors — with the same defensive
    * materialization as the CDC flavor: the probe is pinned + counted
    * BEFORE the sink and the append, so a deferring sink can never
    * observe its own batch in the index. `maxListN` passes the
    * hot-cell guard through (q179 semantics: over-budget index lists
    * are skipped, their batch vectors reported fresh with `hot` =
    * true) — on a long-running stream the cap is what keeps a
    * skew-accumulating index from inflating every future batch. The
    * probe caches its assigned batch (tracked); it is released per
    * micro-batch.
    */
  def semanticDedupPerBatch(emb: DataFrame, indexPath: String,
                            threshold: Double,
                            maxListN: Option[Long] = None,
                            appendAfterProbe: Boolean = false,
                            sink: (DataFrame, Long) => Unit): StreamingQuery =
    perBatch(emb)(releasing { (batch, batchId) =>
      probeThenAppend(graft.operators.IvfIndex.semanticDedupAgainstIndex(
          batch, indexPath, threshold, maxListN), batchId, sink, appendAfterProbe) {
        graft.operators.IvfIndex.appendToIndex(batch, indexPath)
      }
    })

  /** Per-batch SUB-DOCUMENT ingest dedup: each micro-batch of
    * `(doc_id, text)` docs is CDC-chunked (batch-only kernel pass) and
    * probed against the standing
    * [[graft.operators.TextDedup.writeChunkIndex]] state — the
    * streaming flavor of q163, closing the per-batch symmetry the
    * other standing indexes already have ([[ingestVerdictPerBatch]]
    * for MinHash, [[mediaDedupPerBatch]] for media hashes). With
    * `appendAfterProbe` the batch's chunks then extend the index as
    * new part files (O(batch), history never rewritten), so batch n+1
    * sees batch n's content — the incremental-ingest lifecycle in one
    * sink. With `appendAfterProbe` the probe result is DEFENSIVELY
    * materialized (persist + count) before the sink sees it and before
    * the append runs, so correctness cannot hinge on whether the sink
    * evaluates eagerly — a deferring sink (one that stashes the
    * DataFrame and collects later) would otherwise observe its own
    * batch in the index. The pinned blocks are released once the
    * batch's append completes (the extra pass is batch-sized); a sink
    * that defers collection beyond its own foreachBatch invocation
    * must copy the rows it needs — after release a recompute would
    * read the extended index.
    *
    * Each batch's probe result is a pure function of (batch, index
    * state), so with `appendAfterProbe = false` any batching yields
    * the union of batch results, and with it the 3-batch run equals
    * the sequential replay — both pinned by StreamingOpsSpec.
    */
  def cdcProbePerBatch(docs: DataFrame, indexPath: String,
                       w: Int = 8, d: Int = 32,
                       appendAfterProbe: Boolean = false,
                       sink: (DataFrame, Long) => Unit): StreamingQuery =
    perBatch(docs) { (batch, batchId) =>
      probeThenAppend(graft.operators.TextDedup.cdcProbeAgainstChunkIndex(
          batch, indexPath, w, d), batchId, sink, appendAfterProbe) {
        graft.operators.TextDedup.appendToChunkIndex(batch, indexPath, w, d)
      }
    }

  /** Incremental cross-source KMV set-operation estimates over a
    * stream of `(groupCol, uCol)` rows: each micro-batch is sketched
    * distributed (one mergeable partial aggregate), the per-source
    * bottom-k states merge into a driver-held map (bounded: k doubles
    * per source — the same model-sized-artifact argument as the other
    * per-batch flavors), and the sink receives the refreshed pair
    * estimates from [[graft.operators.Sketches.kmvCombinePairs]].
    * KMV merge is exact and associative, so after batches 1..n the
    * emitted table is BIT-IDENTICAL to the batch operator over the
    * concatenated input — the parity StreamingOpsSpec pins.
    */
  def kmvSetOpsPerBatch(rows: DataFrame, groupCol: String, uCol: String,
                        k: Int, sink: (DataFrame, Long) => Unit): StreamingQuery = {
    import org.apache.spark.sql.types.{ArrayType, DoubleType, StructField, StructType}
    // keyed by the group column's NATIVE value, so any type the batch
    // operator Sketches.kmvSetOps accepts (string source ids, int
    // shard ids, …) streams identically
    val states = mutable.LinkedHashMap.empty[Any, graft.operators.Sketches.KmvState]
    perBatch(rows) { (batch, batchId) =>
      driverGroups(batch, groupCol,
        graft.operators.Sketches.kmvValues(col(uCol), k).as("vals"),
        "kmvSetOpsPerBatch", "sketch map assumes a bounded source/group cardinality")
        .foreach { r =>
          val src = r.get(0)
          val incoming = graft.operators.Sketches.KmvState(k, r.getSeq[Double](1).toArray)
          states(src) = states.get(src).map(_ merge incoming).getOrElse(incoming)
        }
      require(states.size <= MaxDriverGroups,
        s"kmvSetOpsPerBatch: cumulative source map exceeded $MaxDriverGroups")
      val sk = batch.sparkSession.createDataFrame(
        java.util.Arrays.asList(states.toSeq.map { case (s, st) =>
          Row(s, st.values.toSeq) }: _*),
        StructType(Seq(batch.schema(groupCol).copy(name = groupCol),
          StructField("vals", ArrayType(DoubleType)))))
      sink(graft.operators.Sketches.kmvCombinePairs(sk, groupCol, k), batchId)
    }
  }
}
