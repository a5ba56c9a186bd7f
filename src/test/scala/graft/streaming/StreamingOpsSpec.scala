package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}
import graft.streaming.StreamingOps.Event

/** Structured Streaming flavor: streaming results must agree with their
  * batch analogs on the same events table (the unified-API contract).
  */
class StreamingOpsSpec extends SparkSpec {
  import spark.implicits._

  private def loadEvents: Seq[Event] =
    Tables.load(spark, sf, "events")
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect().toSeq.sortBy(e => (e.ts.getTime, e.event_id))

  test("streaming hourly aggregates equal the batch computation") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = StreamingOps.hourlyAggregates(mem.toDF())
      .writeStream.outputMode("append").format("memory")
      .queryName("hourly_out").start()
    val events = loadEvents
    mem.addData(events)
    // advance watermark far past the data so every window closes
    mem.addData(Seq(StreamingOps.drainSentinel(events.map(_.ts.getTime / 1000).max)))
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("hourly_out")
      .filter($"event_type" =!= "drain")
      .orderBy($"hour", $"event_type")
      .collect().toSeq
    val batch = Tables.load(spark, sf, "events")
      .groupBy(date_format(date_trunc("hour", $"ts"), "yyyy-MM-dd HH:00").as("hour"),
        $"event_type")
      .agg(count(lit(1)).as("n"), round(sum($"value"), 4).as("sum_value"))
      .orderBy($"hour", $"event_type")
      .collect().toSeq
    assert(streamed == batch)
  }

  test("stateful sessionization matches the batch window-function query") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Event]
    val sessions = StreamingOps.sessionize(mem.toDS())
    val q = sessions.writeStream.outputMode("append").format("memory")
      .queryName("sessions_out").start()
    val events = loadEvents
    mem.addData(events)
    // close every user's open session with per-user far-future sentinels
    val maxSec = events.map(_.ts.getTime / 1000).max
    val users = events.map(_.user_id).distinct
    mem.addData(users.map(u =>
      StreamingOps.drainSentinel(maxSec).copy(user_id = u)))
    q.processAllAvailable(); q.stop()

    val streamedSessions = spark.table("sessions_out")
      .groupBy($"user_id").agg(count(lit(1)).as("n_sessions"),
        sum($"n_events").as("n_events"))
      .orderBy($"user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

    val batch = graft.queries.Relational.queries("q16_sessionize")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(streamedSessions == batch)
  }

  test("a quiet user's open session flushes via the event-time timeout") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = StreamingOps.sessionize(mem.toDS(), gapSeconds = 60)
      .writeStream.outputMode("append").format("memory")
      .queryName("timeout_out").start()
    val base = java.time.Instant.parse("2026-01-01T00:00:00Z").getEpochSecond
    // user 7 has two events, then goes silent forever
    mem.addData(Seq(
      Event(1L, new java.sql.Timestamp(base * 1000), 7L, "view", 1.0),
      Event(2L, new java.sql.Timestamp((base + 10) * 1000), 7L, "view", 2.0)))
    q.processAllAvailable()
    // only OTHER traffic advances the watermark past the gap
    mem.addData(Seq(
      Event(3L, new java.sql.Timestamp((base + 1000) * 1000), 8L, "view", 0.0)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("timeout_out")
      .filter($"user_id" === 7L).collect()
    assert(got.length == 1, got.mkString(","))
    assert(got.head.getAs[Long]("n_events") == 2L)
    assert(got.head.getAs[Long]("start_sec") == base)
    assert(got.head.getAs[Long]("end_sec") == base + 10)
  }

  test("sessionize lateness bound decides whether cross-batch stragglers count") {
    implicit val sq = spark.sqlContext
    val base = java.time.Instant.parse("2026-01-01T00:00:00Z").getEpochSecond
    def run(lateness: String, name: String): Long = {
      val mem = MemoryStream[Event]
      val q = StreamingOps.sessionize(mem.toDS(), gapSeconds = 600, lateness = lateness)
        .writeStream.outputMode("append").format("memory").queryName(name).start()
      // batch 1 advances the watermark to (base+100 - lateness)
      mem.addData(Seq(
        Event(1L, new java.sql.Timestamp(base * 1000), 7L, "view", 1.0),
        Event(2L, new java.sql.Timestamp((base + 100) * 1000), 7L, "view", 2.0)))
      q.processAllAvailable()
      // batch 2: a straggler 50s behind the max seen event time
      mem.addData(Seq(
        Event(3L, new java.sql.Timestamp((base + 50) * 1000), 7L, "view", 3.0)))
      q.processAllAvailable()
      mem.addData(Seq(StreamingOps.drainSentinel(base + 100).copy(user_id = 7L)))
      q.processAllAvailable(); q.stop()
      spark.table(name).filter($"user_id" === 7L)
        .agg(sum($"n_events")).head().getLong(0)
    }
    // 0s watermark: the straggler is below it and silently dropped
    assert(run("0 seconds", "late_strict") == 2L)
    // a real lateness bound keeps it, at the price of more state
    assert(run("5 minutes", "late_lenient") == 3L)
  }

  test("streaming exact dedup drops within-watermark duplicates, keeps state on the hash") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Event]
    val out = StreamingOps.dedupExactStream(
      mem.toDF().withColumn("text", concat(lit("doc-"), ($"event_id" % 5).cast("string"))),
      contentCol = "text", tsCol = "ts", withinDelay = "1 hour")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("dedup_out").start()
    // 20 events but only 5 distinct contents, all within the same hour
    val base = java.time.Instant.parse("2026-01-01T00:00:00Z").toEpochMilli
    mem.addData((0 until 20).map(i => Event(i.toLong,
      new java.sql.Timestamp(base + i * 1000L), i.toLong % 3, "view", i.toDouble)))
    q.processAllAvailable(); q.stop()
    val kept = spark.table("dedup_out").select($"text").as[String].collect()
    assert(kept.length == 5)
    assert(kept.toSet == (0 until 5).map(i => s"doc-$i").toSet)
  }

  test("stream-stream interval join matches the batch join") {
    implicit val sq = spark.sqlContext
    val views = MemoryStream[Event]
    val clicks = MemoryStream[Event]
    val joined = StreamingOps.intervalJoin(
        views.toDF(), clicks.toDF(), key = "user_id", within = "15 minutes")
      .select(col("l.event_id").as("view_id"), col("r.event_id").as("click_id"))
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("ssj_out").start()
    val base = java.time.Instant.parse("2026-01-01T00:00:00Z").toEpochMilli
    def ev(id: Long, user: Long, offsetSec: Long, kind: String) =
      Event(id, new java.sql.Timestamp(base + offsetSec * 1000L), user, kind, 0.0)
    // user 1: click 10 min after the view (match), and one at 20 min (no)
    // user 2: click BEFORE the view (no match); user 3: other user (no)
    views.addData(Seq(ev(1, 1, 0, "view"), ev(2, 2, 600, "view")))
    clicks.addData(Seq(ev(100, 1, 600, "click"), ev(101, 1, 1200, "click"),
      ev(102, 2, 0, "click"), ev(103, 3, 60, "click")))
    q.processAllAvailable(); q.stop()
    val got = spark.table("ssj_out").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 100L)))
    // batch parity: identical API call over static frames
    val vb = Seq(ev(1, 1, 0, "view"), ev(2, 2, 600, "view")).toDF()
    val cb = Seq(ev(100, 1, 600, "click"), ev(101, 1, 1200, "click"),
      ev(102, 2, 0, "click"), ev(103, 3, 60, "click")).toDF()
    val batch = StreamingOps.intervalJoin(vb, cb, key = "user_id", within = "15 minutes")
      .select(col("l.event_id"), col("r.event_id")).as[(Long, Long)].collect().toSet
    assert(batch == got)
  }

  test("seeded mixture sampling is stream/batch identical (stateless narrow filter)") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Event]
    val sampled = graft.operators.Sampling.seededMixture(
      mem.toDF(), stratumCol = "event_type", seedCol = "event_id",
      rates = Map("view" -> 0.2), defaultRate = 0.6)
    val q = sampled.writeStream.outputMode("append").format("memory")
      .queryName("mix_out").start()
    val events = loadEvents.take(2000)
    mem.addData(events)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("mix_out").select($"event_id").as[Long]
      .collect().sorted.toSeq
    val batch = graft.operators.Sampling.seededMixture(
        events.toDF(), "event_type", "event_id",
        Map("view" -> 0.2), defaultRate = 0.6)
      .select($"event_id").as[Long].collect().sorted.toSeq
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("semantic decontamination is stream/batch identical (stateless kernel scan)") {
    // the literal-matrix graft_argmax_cos kernel is a narrow stateless
    // projection, so an ingestion stream can be decontaminated against
    // a benchmark with the SAME operator call as batch — no state, no
    // watermark, no aggregation
    implicit val sq = spark.sqlContext
    val emb = graft.Tables.load(spark, sf, "embeddings")
    val bench = emb.filter($"label" === 0)
    val corpusRows = emb.filter($"label" =!= 0)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect().toSeq
    val mem = MemoryStream[(Long, Seq[Float])]
    val flagged = graft.operators.Similarity.semanticContamination(
      mem.toDF().toDF("vec_id", "embedding"), bench, threshold = 0.8)
    val q = flagged.writeStream.outputMode("append").format("memory")
      .queryName("decon_out").start()
    mem.addData(corpusRows)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("decon_out")
      .as[(Long, Long, Double, Boolean)].collect().sortBy(_._1).toSeq
    val batch = graft.operators.Similarity.semanticContamination(
        emb.filter($"label" =!= 0), bench, threshold = 0.8)
      .as[(Long, Long, Double, Boolean)].collect().sortBy(_._1).toSeq
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("mergeable sketches run under streaming aggregation, equal to batch") {
    // the wire-size argument that makes KMV/CMS/quantile sketches the
    // 100 TB aggregates also makes them streaming-native: partial
    // states merge associatively, so outputMode(complete) over a
    // micro-batched stream must land on the exact batch answer no
    // matter how the rows were batched
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Double)]
    def sketch(df: DataFrame): DataFrame = df.toDF("id", "v")
      .withColumn("h", md5($"id".cast("string").cast("binary")))
      .withColumn("u", expr(graft.operators.Sampling.u01Spark("h")))
      .agg(graft.operators.Sketches.kmvDistinct($"u", 32).as("est"),
        graft.operators.Sketches.quantileSketch($"u", $"v", 16,
          Seq(0.5)).as("qs"))
    val q = sketch(mem.toDF())
      .writeStream.outputMode("complete").format("memory")
      .queryName("sketch_out").start()
    val rows = (1L to 500L).map(i => (i % 137, (i % 97).toDouble))
    rows.grouped(83).foreach(g => mem.addData(g)) // uneven micro-batches
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("sketch_out").collect().head
    val batch = sketch(rows.toDF()).collect().head
    assert(streamed.getDouble(0) == batch.getDouble(0))
    assert(streamed.getSeq[Double](1) == batch.getSeq[Double](1))
  }

  test("pipe operator runs inside foreachBatch on a micro-batched stream") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Long]
    val results = new ConcurrentLinkedQueue[Long]()
    val awkEcho =
      """awk -W interactive 'BEGIN{n=-1}
        |{ if (n<0) { n=$0+0; if (n==0) { print 0; fflush(); exit }; print n }
        |  else     { print "ok\t" $0; if (--n==0) { fflush(); n=-1 } } }'"""
        .stripMargin.replace("\n", " ")
    val q = StreamingOps.pipePerBatch(mem.toDF(), awkEcho, (piped: DataFrame, _: Long) => {
      val n = piped.select(explode(split(col("response"), "\n"))).count()
      results.add(n)
    })
    mem.addData(1L to 100L)
    mem.addData(101L to 150L)
    q.processAllAvailable(); q.stop()
    assert(results.iterator().hasNext)
    var total = 0L
    results.forEach(n => total += n)
    assert(total == 150L)
  }

  test("per-row streaming simhash64 equals the batch operator bit-for-bit") {
    val docs = Tables.load(spark, sf, "documents").limit(50)
    val streaming = docs
      .withColumn("sh", StreamingOps.simhash64Col("text"))
      .select($"doc_id", $"sh").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = graft.operators.TextDedup.simhash64(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streaming == batch)
  }

  test("streaming near-dup candidates find the planted pair across micro-batches") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val candidates = StreamingOps.nearDupCandidatesStream(
      mem.toDF().toDF("doc_id", "text"))
    val q = candidates.writeStream.outputMode("append").format("memory")
      .queryName("neardup_out").start()
    // doc 2 = doc 1 plus one appended word — measured simhash64 hamming
    // of 1 (a one-word swap in a short doc shifts many bit sums past
    // zero and lands well above 3; near-dup at 64-bit granularity means
    // high overlap with margin); doc 3 unrelated; the near-dup arrives
    // in a LATER micro-batch than the original
    val base = (0 until 101).map(i => s"word$i").mkString(" ")
    mem.addData(Seq((1L, base), (3L, "completely different words about query planning engines now")))
    q.processAllAvailable()
    mem.addData(Seq((2L, base + " extra1")))
    q.processAllAvailable(); q.stop()
    val got = spark.table("neardup_out").as[StreamingOps.DupCandidate].collect()
    // keep-earliest decision: doc 2 is a dup of doc 1; doc 3 clean
    val decisions = got.groupBy(_.doc_id).map { case (d, cs) => d -> cs.map(_.dup_of).min }
    assert(decisions == Map(2L -> 1L), got.mkString(","))
  }

  test("streaming near-dup bucket cap bounds state on a hot bucket") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    // identical docs all land in the same buckets; cap 5 keeps the 5
    // earliest signatures, so later arrivals still match those
    val candidates = StreamingOps.nearDupCandidatesStream(
      mem.toDF().toDF("doc_id", "text"), maxBucket = 5)
    val q = candidates.writeStream.outputMode("append").format("memory")
      .queryName("neardup_cap_out").start()
    mem.addData((1L to 20L).map(i => (i, "same words every single time here")))
    q.processAllAvailable(); q.stop()
    val got = spark.table("neardup_cap_out").as[StreamingOps.DupCandidate].collect()
    // every doc after the first matches the earliest kept signatures
    val decisions = got.groupBy(_.doc_id).map { case (d, cs) => d -> cs.map(_.dup_of).min }
    assert((2L to 20L).forall(d => decisions.get(d).contains(1L)), decisions.toString)
  }

  test("winnowing fingerprints are stream/batch identical (stateless kernel scan)") {
    // graft_winnow is a narrow per-document kernel with no state, so an
    // ingestion stream can be fingerprinted with the SAME operator
    // call as batch; cross-doc matching then rides any streaming join
    implicit val sq = spark.sqlContext
    val docs = graft.Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    val mem = MemoryStream[(Long, String)]
    val fps = graft.operators.TextDedup.winnowFingerprints(
      mem.toDF().toDF("doc_id", "text"), k = 4, w = 5)
    val q = fps.writeStream.outputMode("append").format("memory")
      .queryName("winnow_out").start()
    mem.addData(docs)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("winnow_out")
      .as[(Long, Int, String)].collect().sortBy(t => (t._1, t._2)).toSeq
    val batch = graft.operators.TextDedup.winnowFingerprints(
        docs.toDF("doc_id", "text"), k = 4, w = 5)
      .as[(Long, Int, String)].collect().sortBy(t => (t._1, t._2)).toSeq
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("incremental perplexity buckets: single batch ≡ batch op; prefix thresholds per batch") {
    implicit val sq = spark.sqlContext
    val docs = graft.Tables.load(spark, sf, "documents")
    val scored = graft.operators.NgramLm.scoreDocs(docs, "doc_id", "text", 2L)
      .select($"doc_id", $"lm_mean").as[(Long, Long)].collect().sortBy(_._1).toSeq
    val batchOp = graft.operators.NgramLm
      .perplexityBuckets(docs, "doc_id", "text", 2L, 3)
      .as[(Long, Long, Int)].collect().sortBy(_._1).toSeq

    // single-batch stream reproduces the batch operator bit-for-bit
    val got = new ConcurrentLinkedQueue[(Long, Long, Int)]()
    val mem1 = MemoryStream[(Long, Long)]
    val q1 = StreamingOps.pplBucketsPerBatch(
      mem1.toDF().toDF("doc_id", "lm_mean"), "lm_mean", 3,
      (df, _) => df.select($"doc_id", $"lm_mean", $"bucket")
        .as[(Long, Long, Int)].collect().foreach(got.add))
    mem1.addData(scored)
    q1.processAllAvailable(); q1.stop()
    assert(got.toArray.map(_.asInstanceOf[(Long, Long, Int)])
      .sortBy(_._1).toSeq == batchOp && batchOp.nonEmpty)

    // multi-batch: batch k's assignments equal the batch threshold
    // table of the full prefix applied to batch k's docs
    val (b1, b2) = scored.splitAt(scored.length / 2)
    val perBatch = new ConcurrentLinkedQueue[(Long, Seq[(Long, Long, Int)])]()
    val mem2 = MemoryStream[(Long, Long)]
    val q2 = StreamingOps.pplBucketsPerBatch(
      mem2.toDF().toDF("doc_id", "lm_mean"), "lm_mean", 3,
      (df, id) => perBatch.add(id -> df.select($"doc_id", $"lm_mean", $"bucket")
        .as[(Long, Long, Int)].collect().sortBy(_._1).toSeq))
    mem2.addData(b1); q2.processAllAvailable()
    mem2.addData(b2); q2.processAllAvailable(); q2.stop()
    val outs = perBatch.toArray.map(_.asInstanceOf[(Long, Seq[(Long, Long, Int)])])
      .sortBy(_._1).map(_._2)
    def expect(prefix: Seq[(Long, Long)], batchRows: Seq[(Long, Long)]) = {
      val dist = prefix.groupBy(_._2).map { case (s, rs) => s -> rs.size.toLong }
      val th = graft.operators.NgramLm.bucketThresholds(
          dist.toSeq.toDF("lm_mean", "cnt"), 3)
        .as[(Long, Int)].collect().toMap
      batchRows.map { case (id, s) => (id, s, th(s)) }.sortBy(_._1)
    }
    assert(outs(0) == expect(b1, b1))
    assert(outs(1) == expect(b1 ++ b2, b2))
  }

  test("decontamination probes a standing window index stream/batch identically") {
    // the persisted q139 index is static state OUTSIDE the stream, so
    // an ingest stream probes it per micro-batch with the SAME
    // operator call as batch — no watermark, no stateful operator
    implicit val sq = spark.sqlContext
    val docs = graft.Tables.load(spark, sf, "documents")
    import org.apache.spark.sql.functions.col
    val dir = tempDir("graft_stream_dc_idx")
    graft.operators.TextDedup.writeSubstringIndex(
      docs.filter(col("source") === "src0"), dir, 40)
    val train = docs.filter(col("source") =!= "src0")
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    val batch = graft.operators.TextDedup.substringMatchesIndexed(
        train.toDF("doc_id", "text"), dir, 40)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val got = new ConcurrentLinkedQueue[(Long, Long, Long, Long)]()
    val mem = MemoryStream[(Long, String)]
    // load the immutable index and size the broadcast ONCE, outside
    // the per-batch loop — the intended streaming shape
    val idx = org.apache.spark.sql.functions.broadcast(
      spark.read.parquet(dir))
    val q = StreamingOps.transformPerBatch(mem.toDF().toDF("doc_id", "text"),
      b => graft.operators.TextDedup.substringMatchesIndexedDf(b, idx, 40),
      (df, _) => df.as[(Long, Long, Long, Long)].collect().foreach(got.add))
    mem.addData(train)
    q.processAllAvailable(); q.stop()
    assert(got.toArray.map(_.asInstanceOf[(Long, Long, Long, Long)])
      .sortBy(_._1).toSeq == batch && batch.nonEmpty)
  }

  test("delta-dedup probes the standing MinHash index stream/batch identically") {
    // the q145 composition in streaming form: snapshot deltas arrive
    // as micro-batches and probe the immutable full-corpus signature
    // index with the SAME operator call as batch — ingestion dedup
    // never rescans the corpus, in either mode
    implicit val sq = spark.sqlContext
    def words(i: Long) = (0 until 20).map(j => s"s${i}_$j").mkString(" ")
    val old = (1L to 12L).map(i => (i, words(i))).toDF("doc_id", "text")
    val dir = tempDir("graft_stream_delta_idx")
    graft.operators.TextDedup.writeSignatureIndex(old, dir)
    // delta: one verbatim re-add, one edit, one genuinely new doc
    val delta = Seq((101L, words(1L)), (3L, words(3L) + " v2"),
      (201L, words(99L)))
    val batch = graft.operators.TextDedup.nearDupsAgainstIndex(
        delta.toDF("doc_id", "text"), dir, threshold = 0.8)
      .select($"doc_id", $"dup_of", $"jaccard")
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    val got = new ConcurrentLinkedQueue[(Long, Long, Double)]()
    val mem = MemoryStream[(Long, String)]
    val q = StreamingOps.transformPerBatch(mem.toDF().toDF("doc_id", "text"),
      b => graft.operators.TextDedup.nearDupsAgainstIndex(b, dir, 0.8)
        .select($"doc_id", $"dup_of", $"jaccard"),
      (df, _) => df.as[(Long, Long, Double)].collect().foreach(got.add))
    mem.addData(delta.take(2)); q.processAllAvailable()
    mem.addData(delta.drop(2)); q.processAllAvailable(); q.stop()
    assert(got.toArray.map(_.asInstanceOf[(Long, Long, Double)])
      .sortBy(_._1).toSeq == batch)
    assert(batch.map(h => (h._1, h._2)) == Seq((3L, 3L), (101L, 1L)))
  }

  test("ingest-time novelty probes the standing gram index stream/batch identically") {
    // the q151 probe in streaming form: each micro-batch anti-joins
    // the immutable gram index with the SAME operator call as batch.
    // (Per-batch novelty is per-batch state by design — cross-batch
    // first-occurrence belongs to the appendGramIndex maintenance
    // step between batches, not to the probe.)
    implicit val sq = spark.sqlContext
    def words(a: Int, b: Int) = (a until b).map(i => s"w$i").mkString(" ")
    val history = Seq((1L, words(0, 20)), (2L, words(15, 35)))
      .toDF("doc_id", "text")
    val dir = tempDir("graft_stream_gram_idx")
    graft.operators.TextAnalysis.writeGramIndex(history, dir)
    val batch = Seq((10L, words(0, 10)),    // all grams in history -> 0
      (11L, words(30, 45)),                 // partially new
      (12L, words(100, 110)))               // all new
    val want = graft.operators.TextAnalysis.noveltyAgainstIndex(
        batch.toDF("doc_id", "text"), dir)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val got = new ConcurrentLinkedQueue[(Long, Long, Long)]()
    val mem = MemoryStream[(Long, String)]
    val q = StreamingOps.transformPerBatch(mem.toDF().toDF("doc_id", "text"),
      b => graft.operators.TextAnalysis.noveltyAgainstIndex(b, dir),
      (df, _) => df.as[(Long, Long, Long)].collect().foreach(got.add))
    mem.addData(batch); q.processAllAvailable(); q.stop()
    assert(got.toArray.map(_.asInstanceOf[(Long, Long, Long)])
      .sortBy(_._1).toSeq == want)
    assert(want.find(_._1 == 10L).get._3 == 0L)
    assert(want.find(_._1 == 12L).get._3 > 0L)
  }

  test("media fingerprints are stream/batch identical (stateless kernel scans)") {
    // graft_ahash / graft_afp are narrow per-blob kernels with no
    // state: an ingestion stream fingerprints media with the SAME
    // operator calls as batch; near-dup mining then rides the banded
    // join downstream
    implicit val sq = spark.sqlContext
    val blobs = graft.Tables.load(spark, sf, "documents").limit(60)
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
      .map { case (id, text) =>
        val bytes = text.getBytes("UTF-8")
        val img = graft.operators.Multimodal.pack(bytes.length, 1, 1, 0,
          graft.functions.GrftCodec.pnmEncode(bytes.length, 1, 1, bytes))
        val samples = bytes.map(b => (((b & 0xff) - 128) * 256).toShort)
        val wav = graft.operators.Multimodal.pack(bytes.length, 1, 1, 1,
          graft.functions.GrftCodec.wavEncode(8000, 1, samples))
        (id, img, wav)
      }
    val mem = MemoryStream[(Long, Array[Byte], Array[Byte])]
    val fps = graft.operators.Multimodal.audioFingerprint(
      graft.operators.Multimodal.imageAHash(
        mem.toDF().toDF("doc_id", "img", "wav"), "img"), "wav")
      .select($"doc_id", $"ahash", $"afp")
    val q = fps.writeStream.outputMode("append").format("memory")
      .queryName("media_fp_out").start()
    mem.addData(blobs)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("media_fp_out")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val batch = graft.operators.Multimodal.audioFingerprint(
        graft.operators.Multimodal.imageAHash(
          blobs.toDF("doc_id", "img", "wav"), "img"), "wav")
      .select($"doc_id", $"ahash", $"afp")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("feature hashing is stream/batch identical (stateless kernel scan)") {
    // graft_fhash is a narrow per-document kernel with no state: an
    // ingestion stream vectorizes with the SAME operator call as batch
    implicit val sq = spark.sqlContext
    val docs = graft.Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    val mem = MemoryStream[(Long, String)]
    val vecs = graft.operators.TextVectors.sparseEntries(
      mem.toDF().toDF("doc_id", "text"), dim = 64)
    val q = vecs.writeStream.outputMode("append").format("memory")
      .queryName("fhash_out").start()
    mem.addData(docs)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("fhash_out")
      .as[(Long, Int, Long)].collect().sortBy(t => (t._1, t._2)).toSeq
    val batch = graft.operators.TextVectors.sparseEntries(
        docs.toDF("doc_id", "text"), dim = 64)
      .as[(Long, Int, Long)].collect().sortBy(t => (t._1, t._2)).toSeq
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("incremental KMV set-ops: merged stream states ≡ the batch operator bit-for-bit") {
    implicit val sq = spark.sqlContext
    val rows = graft.Tables.load(spark, sf, "orders")
      .select($"o_orderstatus".as("src"), $"o_custkey".as("key"))
      .withColumn("h", md5($"key".cast("string").cast("binary")))
      .withColumn("u", expr(graft.operators.Sampling.u01Spark("h")))
      .select($"src", $"u".cast("double")).as[(String, Double)].collect().toSeq
    val batchOp = graft.operators.Sketches.kmvSetOps(
        rows.toDF("src", "u"), "src", $"u", 64)
      .orderBy($"src_a", $"src_b").collect().toSeq
    // two micro-batches: KMV merge is exact and associative, so the
    // final emission equals the batch operator over all rows
    val (b1, b2) = rows.splitAt(rows.length / 3)
    val emissions = new ConcurrentLinkedQueue[(Long, Seq[org.apache.spark.sql.Row])]()
    val mem = MemoryStream[(String, Double)]
    val q = StreamingOps.kmvSetOpsPerBatch(
      mem.toDF().toDF("src", "u"), "src", "u", 64,
      (df, id) => emissions.add(
        id -> df.orderBy($"src_a", $"src_b").collect().toSeq))
    mem.addData(b1); q.processAllAvailable()
    mem.addData(b2); q.processAllAvailable(); q.stop()
    val outs = emissions.toArray
      .map(_.asInstanceOf[(Long, Seq[org.apache.spark.sql.Row])])
      .sortBy(_._1).map(_._2)
    assert(outs.length == 2 && batchOp.nonEmpty)
    assert(outs(1) == batchOp)
  }

  test("incremental token budget: single batch ≡ batch op; cumulative groups per batch") {
    implicit val sq = spark.sqlContext
    val docs = graft.Tables.load(spark, sf, "documents")
    val scored = graft.operators.NgramLm.scoreDocs(docs, "doc_id", "text", 2L)
      .select($"doc_id", $"lm_mean", ($"n_bigrams" + 1L).as("n_tokens"))
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val batchOp = graft.operators.Sampling.tokenBudgetSelect(
        scored.toDF("doc_id", "lm_mean", "n_tokens"),
        "doc_id", "lm_mean", "n_tokens", 6L, 10L)
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1).toSeq

    val got = new ConcurrentLinkedQueue[(Long, Long, Long, Boolean)]()
    val mem1 = MemoryStream[(Long, Long, Long)]
    val q1 = StreamingOps.tokenBudgetPerBatch(
      mem1.toDF().toDF("doc_id", "lm_mean", "n_tokens"),
      "doc_id", "lm_mean", "n_tokens", 6L, 10L,
      (df, _) => df.as[(Long, Long, Long, Boolean)].collect().foreach(got.add))
    mem1.addData(scored)
    q1.processAllAvailable(); q1.stop()
    assert(got.toArray.map(_.asInstanceOf[(Long, Long, Long, Boolean)])
      .sortBy(_._1).toSeq == batchOp && batchOp.exists(_._4) &&
      batchOp.exists(!_._4))

    // multi-batch: batch k's decisions come from the cumulative
    // decision table of prefix 1..k applied to batch k's docs
    val (b1, b2) = scored.splitAt(scored.length / 2)
    val perBatch = new ConcurrentLinkedQueue[(Long, Seq[(Long, Long, Long, Boolean)])]()
    val mem2 = MemoryStream[(Long, Long, Long)]
    val q2 = StreamingOps.tokenBudgetPerBatch(
      mem2.toDF().toDF("doc_id", "lm_mean", "n_tokens"),
      "doc_id", "lm_mean", "n_tokens", 6L, 10L,
      (df, id) => perBatch.add(id ->
        df.as[(Long, Long, Long, Boolean)].collect().sortBy(_._1).toSeq))
    mem2.addData(b1); q2.processAllAvailable()
    mem2.addData(b2); q2.processAllAvailable(); q2.stop()
    val outs = perBatch.toArray
      .map(_.asInstanceOf[(Long, Seq[(Long, Long, Long, Boolean)])])
      .sortBy(_._1).map(_._2)
    def expect(prefix: Seq[(Long, Long, Long)], batchRows: Seq[(Long, Long, Long)]) = {
      val dist = prefix.groupBy(_._2)
        .map { case (s, rs) => s -> rs.map(_._3).sum }.toSeq.toDF("s", "st")
      graft.operators.Sampling.tokenBudgetApply(
          batchRows.toDF("doc_id", "lm_mean", "n_tokens"),
          "doc_id", "lm_mean", "n_tokens",
          graft.operators.Sampling.tokenBudgetGroups(dist, 6L, 10L))
        .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    }
    assert(outs(0) == expect(b1, b1))
    assert(outs(1) == expect(b1 ++ b2, b2))
  }

  test("Aho-Corasick blocklist counts are stream/batch identical (stateless kernel scan)") {
    implicit val sq = spark.sqlContext
    val pats = Seq("a a", "table", "scan")
    val docs = graft.Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    val mem = MemoryStream[(Long, String)]
    val counts = graft.operators.TextAnalysis.multiPatternCounts(
      mem.toDF().toDF("doc_id", "text"), pats)
    val q = counts.writeStream.outputMode("append").format("memory")
      .queryName("ac_out").start()
    mem.addData(docs)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("ac_out")
      .as[(Long, String, Long)].collect().sortBy(t => (t._1, t._2)).toSeq
    val batch = graft.operators.TextAnalysis.multiPatternCounts(
        docs.toDF("doc_id", "text"), pats)
      .as[(Long, String, Long)].collect().sortBy(t => (t._1, t._2)).toSeq
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("ingest verdict chain: 3-batch stream ≡ single batch ≡ batch replay") {
    // the q150 composition (diff → delta dedup vs the standing index →
    // decontam of survivors → verdict) run per micro-batch against
    // standing state; verdicts must be independent of the batching
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.load(spark, sf, "documents")
      .select($"doc_id", $"source", $"text")
    val base = docs.select($"doc_id", $"text")
    // new snapshot planting all three outcomes (the q150 recipe)
    val edits = base.filter($"doc_id" % 7 =!= 0)
      .withColumn("text", when($"doc_id" % 5 === 0,
        concat($"text", lit(" v2"))).otherwise($"text"))
    val readds = base.filter($"doc_id" % 11 === 0)
      .select(($"doc_id" + 10000000L).as("doc_id"), $"text")
    val contamAdds = docs.filter($"source" === "src0" && $"doc_id" % 3 === 0)
      .select(($"doc_id" + 20000000L).as("doc_id"),
        substring($"text", 1, 80).as("text"))
    val freshAdds = base.filter($"doc_id" % 17 === 0)
      .select($"doc_id",
        array_join(transform(sequence(lit(1), lit(25)),
          i => concat(lit("zz"), $"doc_id", lit("w"), i)), " ").as("text"))
      .select(($"doc_id" + 30000000L).as("doc_id"), $"text")
    val newSnap = edits.unionByName(readds).unionByName(contamAdds)
      .unionByName(freshAdds)
      .as[(Long, String)].collect().toSeq
    assert(newSnap.nonEmpty)
    val oldSnap = base.withColumn("fp", md5($"text".cast("binary")))
      .select($"doc_id", $"fp")
    val idx = tempDir("graft_stream_ingest_idx")
    graft.operators.TextDedup.writeSignatureIndex(base, idx)
    val bench = docs.filter($"source" === "src0").select($"doc_id", $"text")

    def runStream(batches: Seq[Seq[(Long, String)]]): Seq[(Long, String, Long)] = {
      val got = new ConcurrentLinkedQueue[(Long, String, Long)]()
      val mem = MemoryStream[(Long, String)]
      val q = StreamingOps.ingestVerdictPerBatch(
        mem.toDF().toDF("doc_id", "text"), oldSnap, idx, bench,
        sink = (df, _) => df.as[(Long, String, Long)].collect().foreach(got.add))
      batches.foreach { b => mem.addData(b); q.processAllAvailable() }
      q.stop()
      got.toArray.map(_.asInstanceOf[(Long, String, Long)]).sortBy(_._1).toSeq
    }
    // batch replay: the same operator calls over the whole snapshot
    val fpNew = newSnap.toDF("doc_id", "text")
      .withColumn("fp", md5($"text".cast("binary")))
    val delta = graft.operators.SnapshotDiff
      .delta(oldSnap, fpNew, "doc_id", "fp").select($"doc_id", $"text")
    val dups = graft.operators.TextDedup
      .nearDupsAgainstIndex(delta, idx, threshold = 0.8)
      .select($"doc_id").distinct()
    val survivors = delta.join(dups, Seq("doc_id"), "left_anti")
    val cont = graft.operators.TextDedup
      .substringMatches(survivors, bench, windowChars = 40)
      .select($"doc_id").distinct()
    val replay = delta
      .join(dups.withColumn("is_dup", lit(true)), Seq("doc_id"), "left")
      .join(cont.withColumn("is_cont", lit(true)), Seq("doc_id"), "left")
      .select($"doc_id",
        when($"is_dup", lit("dup")).when($"is_cont", lit("contaminated"))
          .otherwise(lit("kept")).as("status"),
        length($"text").cast("long").as("n_chars"))
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq

    val single = runStream(Seq(newSnap))
    val grouped = newSnap.groupBy(t => (t._1 % 3).toInt)
    val three = runStream(Seq(grouped.getOrElse(0, Nil),
      grouped.getOrElse(1, Nil), grouped.getOrElse(2, Nil)))
    assert(single == replay && replay.nonEmpty)
    assert(three == replay)
    // the batch planted every verdict class
    assert(Set("dup", "contaminated", "kept").subsetOf(
      replay.map(_._2).toSet),
      replay.groupBy(_._2).map { case (k, v) => s"$k=${v.size}" }.mkString(", "))
  }

  test("unified multimodal ingest: 3-batch stream ≡ single batch ≡ batch replay") {
    // the q166 composition (multimodal fp diff → text dedup → media
    // dedup → decontam → reason-ranked verdict) per micro-batch
    // against standing state; verdicts must be batching-independent
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.functions._
    graft.functions.MultimodalExpressions.register(spark)
    val docs = graft.Tables.load(spark, sf, "documents")
      .select($"doc_id", $"source", $"text")
    val media = graft.queries.SharedArtifacts.mediaFixture(spark, sf, "pgm")
    val base = docs.select($"doc_id", $"text").join(media, Seq("doc_id"), "left")
    val edits = base.filter($"doc_id" % 7 =!= 0)
      .withColumn("text", when($"doc_id" % 5 === 0,
        concat($"text", lit(" v2"))).otherwise($"text"))
    val readds = base.filter($"doc_id" % 11 === 0)
      .select(($"doc_id" + 10000000L).as("doc_id"), $"text", $"blob")
    val contamAdds = docs.filter($"source" === "src0" && $"doc_id" % 3 === 0)
      .select(($"doc_id" + 20000000L).as("doc_id"),
        substring($"text", 1, 80).as("text"),
        lit(null).cast("binary").as("blob"))
    val mediaAdds = base.filter($"doc_id" % 13 === 0)
      .select($"doc_id", $"blob",
        array_join(transform(sequence(lit(1), lit(25)),
          i => concat(lit("mm"), $"doc_id", lit("w"), i)), " ").as("text"))
      .select(($"doc_id" + 40000000L).as("doc_id"), $"text", $"blob")
    val newSnap = edits.unionByName(readds).unionByName(contamAdds)
      .unionByName(mediaAdds)
      .as[(Long, String, Array[Byte])].collect().toSeq
    assert(newSnap.nonEmpty)
    def fp(df: DataFrame) = df.withColumn("fp",
      concat(md5($"text".cast("binary")), lit(":"),
        coalesce(call_function("graft_ahash", $"blob").cast("string"),
          lit("none"))))
    val oldSnap = fp(base).select($"doc_id", $"fp")
    val sigIdx = tempDir("graft_stream_mm_sig")
    graft.operators.TextDedup.writeSignatureIndex(
      base.select($"doc_id", $"text"), sigIdx)
    val hashIdx = tempDir("graft_stream_mm_hash")
    graft.operators.TextDedup.writeHashIndex(
      graft.operators.Multimodal.imageAHash(base, "blob")
        .filter($"ahash".isNotNull)
        .select($"doc_id", $"ahash".as("simhash")), hashIdx)
    val bench = docs.filter($"source" === "src0").select($"doc_id", $"text")
    val sig = call_function("graft_ahash", col("blob"))

    def runStream(batches: Seq[Seq[(Long, String, Array[Byte])]])
    : Seq[(Long, String, Long)] = {
      val got = new ConcurrentLinkedQueue[(Long, String, Long)]()
      val mem = MemoryStream[(Long, String, Array[Byte])]
      val q = StreamingOps.multimodalIngestPerBatch(
        mem.toDF().toDF("doc_id", "text", "blob"), oldSnap, sig,
        sigIdx, hashIdx, bench,
        sink = (df, _) => df.as[(Long, String, Long)].collect().foreach(got.add))
      batches.foreach { b => mem.addData(b); q.processAllAvailable() }
      q.stop()
      got.toArray.map(_.asInstanceOf[(Long, String, Long)]).sortBy(_._1).toSeq
    }
    // batch replay through the shared operator
    val delta = graft.operators.SnapshotDiff
      .delta(oldSnap, fp(newSnap.toDF("doc_id", "text", "blob")),
        "doc_id", "fp")
      .select($"doc_id", $"text", $"blob")
    val replay = graft.operators.Curation
      .multimodalIngestVerdict(delta, sig, sigIdx, hashIdx, bench)
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq

    val single = runStream(Seq(newSnap))
    val grouped = newSnap.groupBy(t => (t._1 % 3).toInt)
    val three = runStream(Seq(grouped.getOrElse(0, Nil),
      grouped.getOrElse(1, Nil), grouped.getOrElse(2, Nil)))
    assert(single == replay && replay.nonEmpty)
    assert(three == replay)
    // every verdict class fired, including the one neither unimodal
    // chain can produce (fresh text carrying an already-indexed image)
    assert(Set("dup_text", "dup_media", "contaminated", "kept").subsetOf(
      replay.map(_._2).toSet),
      replay.groupBy(_._2).map { case (k, v) => s"$k=${v.size}" }.mkString(", "))
  }

  test("media ingest dedup probes the standing hash index stream/batch identically") {
    implicit val sq = spark.sqlContext
    val blobSig = 0x0123456789abcdefL
    val anchorA = 0x1111222233334444L
    val anchorB = 0x5555666677778888L
    val history = ((0 until 200).map(i => (i.toLong, blobSig)) ++
      Seq((9001L, anchorA), (9002L, anchorB))).toDF("doc_id", "simhash")
    val idx = tempDir("graft_stream_media_idx")
    graft.operators.TextDedup.writeHashIndex(history, idx)
    val batch = Seq((100001L, anchorA ^ 1L), (100002L, anchorB),
      (100003L, blobSig ^ 2L))
    val expected = graft.operators.TextDedup
      .nearDupsAgainstHashIndex(batch.toDF("doc_id", "simhash"), idx,
        maxHamming = 3, maxBandFreq = Some(8L))
      .as[(Long, Long, Int)].collect().sortBy(r => (r._1, r._2)).toSeq
    val got = new ConcurrentLinkedQueue[(Long, Long, Int)]()
    val mem = MemoryStream[(Long, Long)]
    val q = StreamingOps.mediaDedupPerBatch(
      mem.toDF().toDF("doc_id", "simhash"), idx, 3, Some(8L),
      (df, _) => df.as[(Long, Long, Int)].collect().foreach(got.add))
    // two batches: the anchors, then the blob probe
    mem.addData(batch.take(2)); q.processAllAvailable()
    mem.addData(batch.drop(2)); q.processAllAvailable(); q.stop()
    val streamed = got.toArray.map(_.asInstanceOf[(Long, Long, Int)])
      .sortBy(r => (r._1, r._2)).toSeq
    assert(streamed == expected && expected.nonEmpty)
  }

  test("CDC probe: 3-batch stream ≡ batch operator; append lifecycle ≡ sequential replay") {
    implicit val sq = spark.sqlContext
    def mk(id: Long, seed: Int) =
      (id, (0 until 120).map(i => s"w${(i * 13 + seed) % 211}").mkString(" "))
    val history = (0L until 6L).map(i => mk(i, i.toInt))
      .toDF("doc_id", "text")
    val batch = Seq(mk(100L, 2), mk(101L, 4),
      (102L, (0 until 120).map(i => s"fresh$i").mkString(" ")))
    // probe-only flavor: any batching unions to the batch result
    val idx = tempDir("graft_stream_cdc_idx")
    graft.operators.TextDedup.writeChunkIndex(history, idx, w = 4, d = 16)
    val want = graft.operators.TextDedup.cdcProbeAgainstChunkIndex(
        batch.toDF("doc_id", "text"), idx, w = 4, d = 16)
      .as[(Long, Long, Long, Long, Long, String, Long)]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    val got = new ConcurrentLinkedQueue[(Long, Long, Long, Long, Long, String, Long)]()
    val mem = MemoryStream[(Long, String)]
    val q = StreamingOps.cdcProbePerBatch(
      mem.toDF().toDF("doc_id", "text"), idx, w = 4, d = 16,
      sink = (df, _) => df.as[(Long, Long, Long, Long, Long, String, Long)]
        .collect().foreach(got.add))
    batch.foreach { d => mem.addData(d); q.processAllAvailable() }
    q.stop()
    assert(got.toArray
      .map(_.asInstanceOf[(Long, Long, Long, Long, Long, String, Long)])
      .sortBy(r => (r._1, r._2)).toSeq == want && want.nonEmpty)
    // the clone probes indexed, the fresh doc probes 0
    assert(want.filter(_._1 == 100L).forall(_._7 > 0))
    assert(want.filter(_._1 == 102L).forall(_._7 == 0))

    // append lifecycle: batch n+1 sees batch n's chunks — equal to the
    // sequential replay of probe-then-append with the batch operator
    val idxS = tempDir("graft_stream_cdc_idx_s")
    val idxR = tempDir("graft_stream_cdc_idx_r")
    graft.operators.TextDedup.writeChunkIndex(history, idxS, w = 4, d = 16)
    graft.operators.TextDedup.writeChunkIndex(history, idxR, w = 4, d = 16)
    val gotS = new ConcurrentLinkedQueue[(Long, Long, Long)]()
    val mem2 = MemoryStream[(Long, String)]
    val q2 = StreamingOps.cdcProbePerBatch(
      mem2.toDF().toDF("doc_id", "text"), idxS, w = 4, d = 16,
      appendAfterProbe = true,
      sink = (df, _) => df.select("doc_id", "chunk_idx", "n_index_docs")
        .as[(Long, Long, Long)].collect().foreach(gotS.add))
    // 102 is fresh in batch 1; its re-add in batch 2 must probe > 0
    val b1 = Seq(batch(2)); val b2 = Seq((202L, batch(2)._2), mk(201L, 5))
    mem2.addData(b1); q2.processAllAvailable()
    mem2.addData(b2); q2.processAllAvailable(); q2.stop()
    val replay = Seq(b1, b2).flatMap { b =>
      val r = graft.operators.TextDedup.cdcProbeAgainstChunkIndex(
          b.toDF("doc_id", "text"), idxR, w = 4, d = 16)
        .select("doc_id", "chunk_idx", "n_index_docs")
        .as[(Long, Long, Long)].collect().toSeq
      graft.operators.TextDedup.appendToChunkIndex(
        b.toDF("doc_id", "text"), idxR, w = 4, d = 16)
      r
    }.sortBy(r => (r._1, r._2))
    val streamed2 = gotS.toArray.map(_.asInstanceOf[(Long, Long, Long)])
      .sortBy(r => (r._1, r._2)).toSeq
    assert(streamed2 == replay)
    assert(streamed2.filter(_._1 == 102L).forall(_._3 == 0))
    assert(streamed2.filter(_._1 == 202L).forall(_._3 > 0))
  }

  test("semantic probe: 2-batch stream ≡ batch operator; append lifecycle ≡ sequential replay") {
    implicit val sq = spark.sqlContext
    // two well-separated blobs as history; batch = a near-copy of a
    // member of each blob plus one orthogonal fresh vector
    val history = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.1f, 0.0f)),
      (3L, Array(0.1f, 0.9f, 0.0f, 0.1f))).toDF("vec_id", "embedding")
    val batch = Seq(
      (10L, Array(0.9f, 0.1f, 0.1001f, 0.0f)),  // near-copy of 2
      (11L, Array(0.1f, 0.9f, 0.0f, 0.1001f)),  // near-copy of 3
      (12L, Array(0.0f, 0.0f, 0.0f, 1.0f)))     // fresh
    val cents = Seq(
      0 -> Seq(1.0, 0.0, 0.0, 0.0), 1 -> Seq(0.0, 1.0, 0.0, 0.0))
    val idx = tempDir("graft_stream_sem_idx")
    graft.operators.IvfIndex.writeIndex(history, cents, idx)
    val want = graft.operators.IvfIndex.semanticDedupAgainstIndex(
        batch.toDF("vec_id", "embedding"), idx, threshold = 0.999)
      .as[(Long, Long, Long, Option[Long])]
      .collect().sortBy(_._1).toSeq
    val got = new ConcurrentLinkedQueue[(Long, Long, Long, Option[Long])]()
    val mem = MemoryStream[(Long, Array[Float])]
    val q = StreamingOps.semanticDedupPerBatch(
      mem.toDF().toDF("vec_id", "embedding"), idx, threshold = 0.999,
      sink = (df, _) => df.as[(Long, Long, Long, Option[Long])]
        .collect().foreach(got.add))
    mem.addData(batch.take(2)); q.processAllAvailable()
    mem.addData(batch.drop(2)); q.processAllAvailable(); q.stop()
    val streamed = got.toArray
      .map(_.asInstanceOf[(Long, Long, Long, Option[Long])])
      .sortBy(_._1).toSeq
    assert(streamed == want && want.nonEmpty)
    assert(want.find(_._1 == 10L).get._4.contains(2L))
    assert(want.find(_._1 == 11L).get._4.contains(3L))
    assert(want.find(_._1 == 12L).get._3 == 0L)

    // append lifecycle: batch n+1 must see batch n's vectors — equal
    // to the sequential probe-then-append replay with the batch ops
    val idxS = tempDir("graft_stream_sem_idx_s")
    val idxR = tempDir("graft_stream_sem_idx_r")
    graft.operators.IvfIndex.writeIndex(history, cents, idxS)
    graft.operators.IvfIndex.writeIndex(history, cents, idxR)
    val gotS = new ConcurrentLinkedQueue[(Long, Long, Long, Option[Long])]()
    val mem2 = MemoryStream[(Long, Array[Float])]
    val q2 = StreamingOps.semanticDedupPerBatch(
      mem2.toDF().toDF("vec_id", "embedding"), idxS, threshold = 0.999,
      appendAfterProbe = true,
      sink = (df, _) => df.as[(Long, Long, Long, Option[Long])]
        .collect().foreach(gotS.add))
    // 12 is fresh in batch 1; its re-add (22) in batch 2 must hit
    val b1 = Seq(batch(2)); val b2 = Seq((22L, batch(2)._2))
    mem2.addData(b1); q2.processAllAvailable()
    mem2.addData(b2); q2.processAllAvailable(); q2.stop()
    val replay = Seq(b1, b2).flatMap { b =>
      val r = graft.operators.IvfIndex.semanticDedupAgainstIndex(
          b.toDF("vec_id", "embedding"), idxR, threshold = 0.999)
        .as[(Long, Long, Long, Option[Long])].collect().toSeq
      graft.operators.IvfIndex.appendToIndex(
        b.toDF("vec_id", "embedding"), idxR)
      r
    }.sortBy(_._1)
    val streamed2 = gotS.toArray
      .map(_.asInstanceOf[(Long, Long, Long, Option[Long])])
      .sortBy(_._1).toSeq
    assert(streamed2 == replay)
    assert(streamed2.find(_._1 == 12L).get._3 == 0L)
    assert(streamed2.find(_._1 == 22L).get._4.contains(12L))
  }

  test("semantic probe with maxListN: streamed hot-cell guard ≡ capped batch operator") {
    implicit val sq = spark.sqlContext
    // list 0 of the standing index is HOT (12 near-clones > cap = 10);
    // the stream's batches carry a near-copy landing in the hot list
    // and one landing in the cold list — per-batch results must equal
    // the capped batch operator's, including the hot flag
    val history = ((10L until 22L).map(i =>
      (i, Array(1.0f, 0.0f, (i % 7) * 1e-4f, 0.0f))) ++ Seq(
      (1L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (3L, Array(0.1f, 0.9f, 0.0f, 0.1f))))
      .toDF("vec_id", "embedding")
    val cents = Seq(0 -> Seq(1.0, 0.0, 0.0, 0.0), 1 -> Seq(0.0, 1.0, 0.0, 0.0))
    val idx = tempDir("graft_stream_sem_hot")
    graft.operators.IvfIndex.writeIndex(history, cents, idx)
    val batch = Seq(
      (100L, Array(1.0f, 0.0f, 1e-4f, 0.0f)),   // hot list
      (101L, Array(0.1f, 0.9f, 0.0f, 0.1001f))) // cold list
    val want = graft.operators.IvfIndex.semanticDedupAgainstIndex(
        batch.toDF("vec_id", "embedding"), idx, threshold = 0.999,
        maxListN = Some(10L))
      .as[(Long, Long, Long, Option[Long], Boolean)]
      .collect().sortBy(_._1).toSeq
    graft.Tables.releaseTrackedCaches(spark)
    val got = new ConcurrentLinkedQueue[(Long, Long, Long, Option[Long], Boolean)]()
    val mem = MemoryStream[(Long, Array[Float])]
    val q = StreamingOps.semanticDedupPerBatch(
      mem.toDF().toDF("vec_id", "embedding"), idx, threshold = 0.999,
      maxListN = Some(10L),
      sink = (df, _) => df.as[(Long, Long, Long, Option[Long], Boolean)]
        .collect().foreach(r => got.add(r)))
    mem.addData(batch.take(1)); q.processAllAvailable()
    mem.addData(batch.drop(1)); q.processAllAvailable(); q.stop()
    val streamed = got.toArray
      .map(_.asInstanceOf[(Long, Long, Long, Option[Long], Boolean)])
      .sortBy(_._1).toSeq
    assert(streamed == want && want.nonEmpty)
    assert(want.find(_._1 == 100L).get._5 &&
      want.find(_._1 == 100L).get._3 == 0L) // hot: fresh + flagged
    assert(!want.find(_._1 == 101L).get._5 &&
      want.find(_._1 == 101L).get._4.contains(3L))
  }

  test("retrain-and-flip lands between micro-batches: the next batch probes v1 transparently") {
    implicit val sq = spark.sqlContext
    // v0 has a degenerate one-cell geometry holding both blobs;
    // between batch 1 and batch 2 a maintenance job retrains around
    // the blob anchors and atomically flips — the SAME running stream
    // must probe v1 for batch 2 (assignments by the NEW geometry)
    // with no restart: the probe resolves the `_current` pointer per
    // micro-batch, and the overwrite-rename flip guarantees it never
    // observes a missing pointer mid-maintenance
    val history = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.1f, 0.0f)),
      (3L, Array(0.1f, 0.9f, 0.0f, 0.1f))).toDF("vec_id", "embedding")
    val idx = tempDir("graft_stream_sem_retrain")
    graft.operators.IvfIndex.writeVersionedIndex(history,
      Seq(0 -> Seq(0.5, 0.5, 0.0, 0.0)), idx) // one cell swallows all
    val got = new ConcurrentLinkedQueue[(Long, Long, Long, Option[Long])]()
    val mem = MemoryStream[(Long, Array[Float])]
    val q = StreamingOps.semanticDedupPerBatch(
      mem.toDF().toDF("vec_id", "embedding"), idx, threshold = 0.999,
      sink = (df, _) => df.as[(Long, Long, Long, Option[Long])]
        .collect().foreach(got.add))
    val nearCopyOf3 = Array(0.1f, 0.9f, 0.0f, 0.1001f)
    mem.addData(Seq((100L, nearCopyOf3))); q.processAllAvailable()
    // maintenance between batches: re-center on the blob anchors
    graft.operators.IvfIndex.retrainIndexVersionWith(spark, idx,
      Seq(0 -> Seq(1.0, 0.0, 0.0, 0.0), 1 -> Seq(0.0, 1.0, 0.0, 0.0)))
    mem.addData(Seq((101L, nearCopyOf3))); q.processAllAvailable(); q.stop()
    val streamed = got.toArray
      .map(_.asInstanceOf[(Long, Long, Long, Option[Long])])
      .sortBy(_._1).toSeq
    // batch 1 probed v0 (everything in cell 0); batch 2 probed v1
    // (the same vector now lands in blob B's cell) — same witness
    assert(streamed == Seq(
      (100L, 0L, 1L, Some(3L)),
      (101L, 1L, 1L, Some(3L))), streamed.toString)
  }

  test("per-batch driver state fails loudly on unbounded score cardinality") {
    // the driver-held cumulative distribution assumes a bounded
    // integer score; a CONTINUOUS score (every row distinct) must
    // fail the stream with the cardinality message, not OOM the
    // driver — the limit(n+1) bound means the driver never even
    // receives the oversized result
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val q = StreamingOps.pplBucketsPerBatch(
      mem.toDF().toDF("doc_id", "lm_mean"), "lm_mean", 3, (_, _) => ())
    mem.addData((0L to StreamingOps.MaxDriverGroups.toLong).map(i => (i, i)))
    val e = intercept[Exception] { q.processAllAvailable() }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("distinct lm_mean")),
      messages(e).mkString(" | "))
    q.stop()
  }
}
