package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private def docs = (0 until 400).map { i =>
    (i.toLong, s"src${i % 4}", Seq.fill(i % 30 + 1)("w").mkString(" "))
  }.toDF("doc_id", "source", "text")

  test("seededMixture keeps the same rows under any partitioning") {
    val rates = Map("src0" -> 0.05, "src1" -> 0.8)
    def ids(df: org.apache.spark.sql.DataFrame) =
      Sampling.seededMixture(df, "source", "doc_id", rates, defaultRate = 0.3)
        .select($"doc_id").as[Long].collect().sorted.toSeq
    val a = ids(docs.repartition(1))
    val b = ids(docs.repartition(13, $"text"))
    assert(a == b && a.nonEmpty)
    // rates bite per stratum: src0 keeps far fewer than src1
    val kept = Sampling.seededMixture(docs, "source", "doc_id", rates, 0.3)
      .groupBy($"source").count().as[(String, Long)].collect().toMap
    assert(kept.getOrElse("src0", 0L) < kept("src1"))
  }

  test("packByTokenBudget bins are contiguous and respect the budget bound") {
    val t = docs.select($"source", $"doc_id",
      size(split($"text", " ")).cast("long").as("n_tokens"))
    val packed = Sampling.packByTokenBudget(t, "n_tokens", budget = 100L,
      partitionCol = "source", orderCol = "doc_id")
    val sums = packed.groupBy($"source", $"bin")
      .agg(sum($"n_tokens").as("s"), max($"n_tokens").as("m"))
      .collect()
    // a bin holds < budget tokens before its last doc was added, so its
    // total is < budget + that doc's size
    assert(sums.forall(r => r.getLong(2) < 100L + r.getLong(3)))
    // order within a group is what packs: doc_id order -> nondecreasing bins
    val perDoc = packed.filter($"source" === "src0")
      .orderBy($"doc_id").select($"bin").as[Long].collect()
    assert(perDoc.sameElements(perDoc.sorted))
  }

  test("packByTokenBudget skips bin ids when one doc overflows the budget") {
    // a 250-token doc with budget 100 advances the boundary past bins
    // 0-2 at once: the next doc lands in bin 2, bins are NOT contiguous
    val t = Seq(("s", 1L, 250L), ("s", 2L, 10L), ("s", 3L, 10L))
      .toDF("source", "doc_id", "n_tokens")
    val bins = Sampling.packByTokenBudget(t, "n_tokens", budget = 100L,
        partitionCol = "source", orderCol = "doc_id")
      .orderBy($"doc_id").select($"bin").as[Long].collect().toSeq
    assert(bins == Seq(0L, 2L, 2L), bins.toString)
  }

  test("packByTokenBudget refuses to overwrite an existing bin column") {
    val t = Seq(("s", 1L, 10L, "mine")).toDF("source", "doc_id", "n_tokens", "bin")
    intercept[IllegalArgumentException] {
      Sampling.packByTokenBudget(t, "n_tokens", 100L, "source", "doc_id")
    }
    // a caller-chosen output name routes around the collision
    val out = Sampling.packByTokenBudget(t, "n_tokens", 100L, "source", "doc_id",
      binCol = "pack_bin")
    assert(out.columns.contains("pack_bin") &&
      out.select($"bin").head().getString(0) == "mine")
  }

  test("assignSplit covers every row, respects rough proportions, and is stable") {
    val df = spark.range(0, 2000).toDF("id")
    val splits = Seq(("train", 0.8), ("val", 0.1), ("test", 0.1))
    val got = Sampling.assignSplit(df, "id", splits)
    val counts = got.groupBy($"split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 2000L)
    assert(counts("train") > 1500 && counts("val") > 120 && counts("test") > 120, counts.toString)
    // membership is a pure function of the seed: any partitioning agrees
    val again = Sampling.assignSplit(df.repartition(7), "id", splits)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val first = got.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(first == again)
  }

  test("assignSplit rejects weights that do not sum to 1") {
    intercept[IllegalArgumentException] {
      Sampling.assignSplit(spark.range(1).toDF("id"), "id",
        Seq(("a", 0.5), ("b", 0.4)))
    }
  }

  test("leakageSafeSplit keeps every dup cluster inside one split") {
    import org.apache.spark.sql.functions._
    // 300 docs; edges chain docs into clusters of 3 (0-1-2, 30-31-32, …)
    val docs = (0L until 300L).map(i => (i, i * 10)).toDF("doc_id", "n_chars")
    val pairs = (0L until 300L by 30L)
      .flatMap(i => Seq((i, i + 1), (i + 1, i + 2)))
      .toDF("doc_a", "doc_b")
    val out = Sampling.leakageSafeSplit(docs, pairs, "doc_id",
      Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
    // every doc labeled, exactly once
    assert(out.count() == 300 && out.filter(col("split").isNull).count() == 0)
    // the leakage property: no cluster straddles two splits
    val labels = Components.dupClusters(pairs)
    val straddle = out.join(labels, Seq("doc_id"))
      .groupBy("component").agg(countDistinct("split").as("ns"))
      .filter(col("ns") > 1).count()
    assert(straddle == 0)
    // unclustered docs band exactly as plain assignSplit
    val clustered = labels.select("doc_id").collect().map(_.getLong(0)).toSet
    val plain = Sampling.assignSplit(docs, "doc_id",
        Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    out.collect().filter(r => !clustered(r.getLong(0)))
      .foreach(r => assert(r.getString(2) == plain(r.getLong(0))))
  }

  test("assignShards gives every shard a contiguous 1..n position order") {
    val df = spark.range(0, 500).toDF("id")
    val out = Sampling.assignShards(df, "id", nShards = 8).collect()
    assert(out.length == 500)
    val byShard = out.groupBy(_.getAs[Long]("shard"))
    assert(byShard.keySet.forall(s => s >= 0 && s < 8))
    byShard.foreach { case (_, rows) =>
      val ps = rows.map(_.getAs[Long]("shard_pos")).sorted
      assert(ps.toSeq == (1L to rows.length).toSeq) // dense rank, no gaps
    }
    // stable under repartitioning: same (shard, pos) per id
    val again = Sampling.assignShards(df.repartition(11), "id", nShards = 8)
      .collect().map(r => r.getLong(0) -> ((r.getAs[Long]("shard"), r.getAs[Long]("shard_pos")))).toMap
    val first = out.map(r => r.getLong(0) -> ((r.getAs[Long]("shard"), r.getAs[Long]("shard_pos")))).toMap
    assert(first == again)
  }

  test("token-budget selection fills greedily by score, exact at the boundary") {
    import spark.implicits._
    // scores with a multi-doc boundary group: budget = 60% of 100 = 60
    // tokens; score 3 group (30 tokens) fits, score 2 group (40) fits
    // partially: docs 4,5 (10+10) fit, doc 6 (20) would overflow
    val scored = Seq(
      (1L, 3L, 10L), (2L, 3L, 10L), (3L, 3L, 10L),
      (4L, 2L, 10L), (5L, 2L, 10L), (6L, 2L, 20L),
      (7L, 1L, 30L)
    ).toDF("doc_id", "score", "tokens")
    val got = Sampling.tokenBudgetSelect(scored, "doc_id", "score", "tokens",
        budgetNum = 6L, budgetDen = 10L)
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    val kept = got.filter(_._4).map(_._1)
    assert(kept == Seq(1L, 2L, 3L, 4L, 5L), got.toString)
    // budget respected and maximal: kept tokens <= 60, next candidate overflows
    assert(got.filter(_._4).map(_._3).sum <= 60L)
    // partitioning-invariant
    val again = Sampling.tokenBudgetSelect(scored.repartition(7),
        "doc_id", "score", "tokens", 6L, 10L)
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(again == got)
  }

  test("concatChunk boundary math is token-exact and partition-invariant") {
    val t = docs.select($"source", $"doc_id",
      size(split($"text", " ")).cast("long").as("n_tokens"))
    def run(df: org.apache.spark.sql.DataFrame) =
      Sampling.concatChunk(df, "n_tokens", seqLen = 50L,
          partitionCol = "source", orderCol = "doc_id")
        .select($"doc_id", $"start_off", $"first_seq", $"last_seq",
          $"n_seqs_spanned")
        .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(run(t.repartition(1)) == run(t.repartition(7, $"text")))
    // replay one shard sequentially: offsets are the exact cumsum and
    // every span is floor-division of its token interval
    val rows = Sampling.concatChunk(t, "n_tokens", 50L, "source", "doc_id")
      .filter($"source" === "src1").orderBy($"doc_id")
      .select($"n_tokens", $"start_off", $"first_seq", $"last_seq",
        $"n_seqs_spanned").as[(Long, Long, Long, Long, Long)].collect()
    var off = 0L
    rows.foreach { case (n, so, fs, ls, span) =>
      assert(so == off && fs == off / 50 && ls == (off + n - 1) / 50
        && span == ls - fs + 1)
      off += n
    }
    // the fixture's 2..30-token docs against seqLen=50 must cross
    // boundaries somewhere, else the split-doc assertions are vacuous
    assert(rows.exists(_._5 > 1))
    // empty docs occupy no stream tokens and are excluded
    val withEmpty = t.unionByName(Seq(("src1", 999L, 0L))
      .toDF("source", "doc_id", "n_tokens"))
    assert(!Sampling.concatChunk(withEmpty, "n_tokens", 50L, "source", "doc_id")
      .filter($"doc_id" === 999L).collect().nonEmpty)
  }

  test("epochRepeats: integer targets, full epochs, hash-ordered partial epoch") {
    import org.apache.spark.sql.functions.{col, md5}
    val t = Seq(
      (1L, "a", 100L), (2L, "a", 100L), (3L, "a", 100L), (4L, "a", 100L),
      (5L, "b", 50L), (6L, "b", 50L),
      (7L, "c", 10L), (8L, "zero", 0L)
    ).toDF("doc_id", "source", "n_tokens")
    val w = Seq(("a", 2L), ("b", 1L), ("c", 1L)).toDF("source", "weight")
    // budget 1000, den 4: targets a=500, b=250, c=250. a: full 1,
    // rem 100 -> exactly one extra repeat (the md5-first doc). b:
    // full 2, rem 50 -> one extra. c: full 25, rem 0 -> none.
    // "zero" has no weight -> 0 repeats; the 0-token doc is excluded.
    val out = Sampling.epochRepeats(t, "doc_id", "source", "n_tokens", w, 1000L)
      .as[(Long, String, Long, Long)].collect()
    assert(!out.exists(_._1 == 8L))
    val bySrc = out.groupBy(_._2)
    assert(bySrc("a").map(_._4).sorted.toSeq == Seq(1L, 1L, 1L, 2L))
    assert(bySrc("b").map(_._4).sorted.toSeq == Seq(2L, 3L))
    assert(bySrc("c").map(_._4).toSeq == Seq(25L))
    // the extra repeat goes to the md5-smallest doc of the source
    val aFirst = t.filter(col("source") === "a")
      .orderBy(md5(col("doc_id").cast("string").cast("binary")).asc)
      .select(col("doc_id")).head().getLong(0)
    assert(out.find(r => r._2 == "a" && r._4 == 2L).get._1 == aFirst)
    // scheduled tokens land within one boundary doc of each target
    val sched = out.groupBy(_._2).map { case (s, rs) =>
      s -> rs.map(r => r._3 * r._4).sum
    }
    assert(sched("a") == 500L && sched("b") == 250L && sched("c") == 250L)
  }

  test("concatChunk sepTokens: one EOS per doc shifts every later boundary") {
    import org.apache.spark.sql.functions.{col, lit}
    // one shard, fixed order: docs of 10 tokens each, seqLen 16
    val t = (1L to 6L).map(i => (i, 10L)).toDF("doc_id", "n_tokens")
      .withColumn("g", lit("all"))
    def spans(sep: Long) = Sampling.concatChunk(t, "n_tokens", 16L, "g",
        "doc_id", sepTokens = sep)
      .select(col("doc_id"), col("start_off"), col("first_seq"), col("last_seq"))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val raw = spans(0L)
    val sep = spans(1L)
    // raw stream: offsets 0,10,20,... separated stream: 0,11,22,...
    assert(raw.map(_._2) == Seq(0L, 10L, 20L, 30L, 40L, 50L))
    assert(sep.map(_._2) == Seq(0L, 11L, 22L, 33L, 44L, 55L))
    // doc 2 raw spans [10,20) -> seqs 0..1; separated [11,22) covers
    // its EOS too -> seqs 0..1 but doc 3 separated [22,33) -> 1..2
    // while raw [20,30) -> 1..1: the separator provably moves splits
    assert(raw.find(_._1 == 3L).get._3 == raw.find(_._1 == 3L).get._4)
    assert(sep.find(_._1 == 3L).get._3 != sep.find(_._1 == 3L).get._4)
  }

  test("fimSplit: cuts tile the doc, prefix never empty, pass-throughs whole") {
    val t = (1L to 200L).map(i => (i, 5L + i % 40L)).toDF("doc_id", "n_tokens")
      .union(Seq((999L, 1L)).toDF("doc_id", "n_tokens")) // sub-2-token doc
    val out = Sampling.fimSplit(t, "doc_id", "n_tokens")
      .as[(Long, Long, Long, Long, Long, Boolean)].collect().toSeq
    assert(out.length == 201)
    // the three segments always tile [0, n)
    assert(out.forall(r => r._3 + r._4 + r._5 == r._2))
    assert(out.forall(_._3 >= 1)) // prefix never empty
    val applied = out.filter(r => r._4 > 0 || r._5 > 0)
    // ~half the docs split (hash fraction 1/2); all splits have n >= 2
    assert(applied.size > 60 && applied.size < 140)
    assert(applied.forall(_._2 >= 2))
    // the 1-token doc passes through whole and unflagged
    val tiny = out.find(_._1 == 999L).get
    assert(tiny._3 == 1L && tiny._4 == 0L && tiny._5 == 0L && !tiny._6)
    // SPM mode only ever set on split docs
    assert(out.filter(_._6).forall(r => r._4 > 0 || r._5 > 0 || r._3 < r._2))
  }

  test("trainOrder: one row per scheduled instance, interleaved repeats, dense ranks") {
    import org.apache.spark.sql.functions.col
    val sched = Seq(
      (1L, "a", 10L, 3L), (2L, "a", 10L, 2L),
      (3L, "b", 5L, 0L),                       // not in the mixture
      (4L, "b", 5L, 4L)
    ).toDF("doc_id", "source", "n_tokens", "n_repeats")
    val out = Sampling.trainOrder(sched, "doc_id", nShards = 4)
      .select(col("doc_id"), col("rep"), col("shard"), col("shard_pos"))
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out.length == 9) // 3 + 2 + 0 + 4
    assert(!out.exists(_._1 == 3L))
    // every (doc, rep) instance appears exactly once
    assert(out.map(r => (r._1, r._2)).distinct.size == 9)
    // per shard, positions are the dense 1..n ranks
    out.groupBy(_._3).foreach { case (_, rows) =>
      assert(rows.map(_._4).sorted.toSeq == (1L to rows.size).toSeq)
    }
    // repeats interleave: at least one doc's repeats land in
    // different shards (id#rep seeds are independent hashes; with 9
    // instances over 4 shards an all-same-shard layout per doc would
    // mean the seed ignores rep)
    assert(out.groupBy(_._1).exists(_._2.map(_._3).distinct.size > 1))
  }

  test("fimPack: segments tile each doc, sentinel offsets exact, degenerate config = concatChunk") {
    val t = docs.select($"source", $"doc_id",
      size(split($"text", " ")).cast("long").as("n_tokens"))
    val out = Sampling.fimPack(t, "doc_id", "n_tokens", seqLen = 50L,
        partitionCol = "source", orderCol = "doc_id",
        fimNum = 1L, fimDen = 2L, sentinelTokens = 1L)
      .select($"source", $"doc_id", $"n_tokens", $"seg", $"seg_order",
        $"src_from", $"src_to", $"n_seg_tokens", $"seg_start_off",
        $"first_seq", $"last_seq")
      .as[(String, Long, Long, String, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    assert(out.nonEmpty && out.forall(_._8 > 0)) // no empty segments
    // per doc: the src intervals PARTITION [0, n) (order-independent)
    out.groupBy(_._2).foreach { case (_, segs) =>
      val n = segs.head._3
      val ivs = segs.map(s => (s._6, s._7)).sortBy(_._1)
      assert(ivs.head._1 == 0L && ivs.last._2 == n)
      ivs.sliding(2).foreach {
        case Seq(a, b) => assert(a._2 == b._1, s"gap/overlap: $segs")
        case _ =>
      }
      // emitted layout: consecutive emitted segments are separated by
      // one sentinel per emission slot between them — a skipped EMPTY
      // segment still occupies its sentinel (the <SUF> marker is
      // written even when the suffix is empty, as in real FIM formats)
      val em = segs.sortBy(_._5)
      if (em.head._4 != "whole") {
        em.sliding(2).foreach {
          case Seq(a, b) => assert(a._9 + a._8 + (b._5 - a._5) == b._9,
            s"sentinel arithmetic broken: $segs")
          case _ =>
        }
        // mode ordering: middle is always emitted last
        assert(em.last._4 == "middle" || em.size < 3)
      }
      // spans follow from offsets
      segs.foreach { s =>
        assert(s._10 == s._9 / 50L && s._11 == (s._9 + s._8 - 1) / 50L)
      }
    }
    // both modes and both shapes occur on this corpus
    assert(out.exists(_._4 == "whole") && out.exists(_._4 == "suffix"))
    assert(out.count(_._4 == "prefix") > 0)
    // fimNum = 0, sentinels = 0 degenerates to concatChunk exactly
    val deg = Sampling.fimPack(t, "doc_id", "n_tokens", seqLen = 50L,
        partitionCol = "source", orderCol = "doc_id",
        fimNum = 0L, fimDen = 2L, sentinelTokens = 0L)
      .select($"doc_id", $"seg", $"seg_start_off", $"first_seq", $"last_seq")
      .as[(Long, String, Long, Long, Long)].collect().toSeq
    val cc = Sampling.concatChunk(t, "n_tokens", 50L, "source", "doc_id")
      .select($"doc_id", $"start_off", $"first_seq", $"last_seq")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(deg.forall(_._2 == "whole"))
    assert(deg.map(d => (d._1, d._3, d._4, d._5)).sortBy(_._1) ==
      cc.sortBy(_._1))
  }

  test("chunkManifest refuses a separator-packed stream (metadata contract)") {
    val t = docs.select($"source", $"doc_id",
      size(split($"text", " ")).cast("long").as("n_tokens"))
    // concatChunk stamps sepTokens into start_off's metadata; the
    // manifest's doc-interval arithmetic is only valid for the raw
    // concatenation, so a separated stream must fail loudly
    val sep = Sampling.concatChunk(t, "n_tokens", 50L, "source", "doc_id",
      sepTokens = 1L)
    val e = intercept[IllegalArgumentException] {
      Sampling.chunkManifest(sep, "n_tokens", 50L)
    }
    assert(e.getMessage.contains("sepTokens"))
    // and the metadata survives the projections a consumer would do
    val projected = sep.select($"doc_id", $"start_off", $"first_seq",
      $"last_seq", $"n_tokens")
    assert(intercept[IllegalArgumentException] {
      Sampling.chunkManifest(projected, "n_tokens", 50L)
    }.getMessage.contains("sepTokens"))
  }

  test("epochRepeats fails fast on an empty or zero-total weights table") {
    val t = Seq((1L, "a", 100L)).toDF("doc_id", "source", "n_tokens")
    val none = Seq.empty[(String, Long)].toDF("source", "weight")
    assert(intercept[IllegalArgumentException] {
      Sampling.epochRepeats(t, "doc_id", "source", "n_tokens", none, 1000L)
    }.getMessage.contains("weights"))
    val zero = Seq(("a", 0L)).toDF("source", "weight")
    assert(intercept[IllegalArgumentException] {
      Sampling.epochRepeats(t, "doc_id", "source", "n_tokens", zero, 1000L)
    }.getMessage.contains("weights"))
    // weights for sources absent from the input are DOCUMENTED to
    // leave their budget share unspent, not fail: only source "a"
    // exists, so it gets floor(1000 * 1/2) = 500 tokens -> 5 repeats
    val w = Seq(("a", 1L), ("ghost", 1L)).toDF("source", "weight")
    val out = Sampling.epochRepeats(t, "doc_id", "source", "n_tokens", w, 1000L)
      .select($"n_repeats").as[Long].collect().toSeq
    assert(out == Seq(5L))
  }

  test("chunkManifest segments tile both the docs and the sequences") {
    val t = docs.select($"source", $"doc_id",
      size(split($"text", " ")).cast("long").as("n_tokens"))
    val packed = Sampling.concatChunk(t, "n_tokens", 50L, "source", "doc_id")
    val m = Sampling.chunkManifest(packed, "n_tokens", 50L)
      .select($"source", $"doc_id", $"n_tokens", $"seq", $"seg_doc_from",
        $"seg_doc_to", $"seg_seq_from", $"n_seg_tokens")
      .as[(String, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    assert(m.forall(_._8 > 0)) // no empty segments
    // per doc: segments in seq order tile [0, n_tokens) contiguously
    m.groupBy(_._2).foreach { case (_, segs) =>
      val ordered = segs.sortBy(_._4)
      assert(ordered.head._5 == 0L)
      assert(ordered.last._6 == ordered.head._3) // last seg_doc_to == n_tokens
      ordered.sliding(2).foreach {
        case Seq(a, b) => assert(a._6 == b._5) // contiguous doc intervals
        case _ =>
      }
    }
    // per (shard, seq): segments tile the sequence from 0; every
    // non-tail sequence carries exactly seqLen tokens
    val lastSeq = m.groupBy(_._1).map { case (src, segs) =>
      src -> segs.map(_._4).max
    }
    m.groupBy(s => (s._1, s._4)).foreach { case ((src, seq), segs) =>
      val ordered = segs.sortBy(_._7)
      assert(ordered.head._7 == 0L) // first segment starts the sequence
      ordered.sliding(2).foreach {
        case Seq(a, b) => assert(a._7 + a._8 == b._7) // contiguous
        case _ =>
      }
      if (seq != lastSeq(src)) assert(segs.map(_._8).sum == 50L)
    }
    // manifest explode count replays n_seqs_spanned exactly
    val spanned = packed.select($"doc_id", $"n_seqs_spanned")
      .as[(Long, Long)].collect().toMap
    m.groupBy(_._2).foreach { case (id, segs) =>
      assert(segs.size.toLong == spanned(id))
    }
  }
}
