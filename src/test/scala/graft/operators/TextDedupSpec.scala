package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  // two near-identical docs (0, 1) and one unrelated doc (2)
  private def docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog tonight"),
    (1L, "the quick brown fox jumps over the lazy cat tonight"),
    (2L, "completely different words about spark query planning engines")
  ).toDF("doc_id", "text").repartition(3)

  test("minhashLshPairs finds the true near-dup pair and nothing else") {
    val pairs = TextDedup.minhashLshPairs(docs, threshold = 0.5).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((0L, 1L)))
    // 8 distinct trigram shingles each; the 2 containing dog/cat differ:
    // jaccard = 6 / (8 + 8 - 6)
    assert(math.abs(pairs.head.getDouble(2) - 0.6) < 1e-3)
  }

  test("maxShingleFreq cap removes boilerplate shingles from sets AND signatures") {
    // 8-word boilerplate shared by four docs: its 6 interior trigrams
    // have frequency 4. Docs 3-4 (and 5-6) differ only in the tail, so
    // uncapped their jaccard is 7/9 — found at threshold 0.5. Capping at
    // freq <= 3 deletes the boilerplate trigrams from the shingle
    // universe, dropping every cross-pair below threshold.
    val bp = "aaa bbb ccc ddd eee fff ggg hhh"
    val cluster = Seq(
      (3L, s"$bp unique one"), (4L, s"$bp unique two"),
      (5L, s"$bp filler alpha"), (6L, s"$bp filler beta")
    ).toDF("doc_id", "text").repartition(2)
    val uncapped = TextDedup.minhashLshPairs(cluster, threshold = 0.5).collect()
    assert(uncapped.exists(r => r.getLong(0) == 3L && r.getLong(1) == 4L))
    val capped = TextDedup.minhashLshPairs(cluster, threshold = 0.5,
      maxShingleFreq = Some(3)).collect()
    assert(capped.isEmpty)
  }

  test("simhashPairs matches the brute-force hamming join (recall = 1)") {
    val mined = TextDedup.simhashPairs(docs, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val s = TextDedup.simhash(docs)
    val brute = s.as("a").join(s.as("b"), $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id", $"b.doc_id",
        expr("bit_count(a.simhash ^ b.simhash)").as("h"))
      .filter($"h" <= 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(mined == brute)
  }

  test("simhashPairs rejects maxHamming beyond the blocking guarantee") {
    intercept[IllegalArgumentException] {
      TextDedup.simhashPairs(docs, maxHamming = 4)
    }
  }

  test("containmentPairs finds an excerpt Jaccard would miss") {
    // doc 11 is a verbatim excerpt of doc 10: containment(11 in 10) = 1
    // while jaccard = 6/14 < 0.5 (the long doc dilutes the union)
    val corpus = Seq(
      (10L, "a b c d e f g h i j k l m n o p"), // 14 trigrams
      (11L, "a b c d e f g h"),                 // 6 trigrams, all in doc 10
      (12L, "x y z w v u t s r q")
    ).toDF("doc_id", "text").repartition(2)
    val pairs = TextDedup.containmentPairs(corpus, threshold = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq == Seq((11L, 10L, 1.0)))
    // and the symmetric jaccard indeed misses it
    assert(TextDedup.blockedNgramJaccard(
      corpus.withColumn("source", lit("s")).withColumn("lang", lit("en")),
      threshold = 0.5).collect().isEmpty)
  }

  test("hot-shingle cap stops the boilerplate quadratic blowup in containment and blocked jaccard") {
    // 20 docs that are 9 words of shared licence boilerplate plus one
    // unique word: every pair collides on the hot grams, so uncapped the
    // inverted-index joins emit all C(20,2) pairs (the |posting-list|²
    // shape). Capping at doc-frequency 3 removes the boilerplate grams
    // from the universe and the candidate set collapses to zero.
    val bp = "l1 l2 l3 l4 l5 l6 l7 l8 l9"
    val corpus = (0L until 20L).map(i => (i, "s", "en", s"$bp unique$i"))
      .toDF("doc_id", "source", "lang", "text").repartition(4)
    val cUncapped = TextDedup.containmentPairs(corpus, threshold = 0.8).count()
    assert(cUncapped == 20L * 19L, s"expected all directed pairs, got $cUncapped")
    assert(TextDedup.containmentPairs(corpus, threshold = 0.8,
      maxShingleFreq = Some(3)).count() == 0L)
    val jUncapped = TextDedup.blockedNgramJaccard(corpus, threshold = 0.5).count()
    assert(jUncapped == 20L * 19L / 2, s"expected all pairs, got $jUncapped")
    assert(TextDedup.blockedNgramJaccard(corpus, threshold = 0.5,
      maxShingleFreq = Some(3)).count() == 0L)
  }

  test("spanDupStats counts spans shared across documents") {
    // spans of 3 words; docs 1/2 share their first span, doc 3 is clean
    val corpus = Seq(
      (1L, "s1", "a b c x y z"),     // spans: "a b c", "x y z"
      (2L, "s1", "a b c q r t"),     // spans: "a b c", "q r t"
      (3L, "s2", "h i j k l m")
    ).toDF("doc_id", "source", "text").repartition(2)
    val got = TextDedup.spanDupStats(corpus, spanWords = 3).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    // s1: 2 docs, 4 spans, 2 duplicated ("a b c" in both), both docs
    // half-duplicated; s2 clean
    assert(got("s1") == ((2L, 4L, 2L, 2L)))
    assert(got("s2") == ((1L, 2L, 0L, 0L)))
  }

  test("simhash64 word hash equals the first 8 md5 bytes read big-endian") {
    // the conv(substr(md5, 1, 16), 16, -10) formulation must agree with
    // an independent digest: one doc per word makes the doc simhash
    // equal the word hash (every bit sum is ±1 from a single word)
    val words = Seq("hello", "spark", "graft", "zebra")
    val df = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    val got = TextDedup.simhash64(df).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    words.zipWithIndex.foreach { case (w, i) =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(w.getBytes("UTF-8"))
      val expected = java.nio.ByteBuffer.wrap(d.take(8)).getLong
      assert(got(i.toLong) == expected, s"word $w")
    }
  }

  test("simhash64Pairs matches the brute-force hamming join (recall = 1)") {
    val mined = TextDedup.simhash64Pairs(docs, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val s = TextDedup.simhash64(docs)
    val brute = s.as("a").join(s.as("b"), $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id", $"b.doc_id",
        expr("bit_count(a.simhash ^ b.simhash)").as("h"))
      .filter($"h" <= 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(mined == brute)
  }

  test("hammingPairs64 hot-band cap bounds planted skew, keeps non-hot-band pairs") {
    // adversarial blob: 5000 IDENTICAL signatures (the boilerplate-
    // heavy-crawl shape) — every band key hot at any small cap, so the
    // capped miner must emit ZERO of the C(5000,2) ≈ 12.5M blob pairs
    // and never build a 5000-row join group; plus one planted pair
    // whose bands 1-3 keys are unique (non-hot) — it must survive,
    // emitted exactly once
    val blobSig = 0x0123456789abcdefL
    val sigA = 0x7777000100020003L
    val sigB = 0x7777000100020007L // band0 differs by 1 bit; bands 1-3 equal
    val rows = (0 until 5000).map(i => (i.toLong, blobSig)) ++
      Seq((10001L, sigA), (10002L, sigB))
    val sigs = rows.toDF("doc_id", "simhash").repartition(8)
    val capped = TextDedup.hammingPairs64(sigs, maxHamming = 3,
        maxBandFreq = Some(8L)).collect().toSeq
    assert(capped.map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      == Seq((10001L, 10002L, 1)))
    // smaller blob, uncapped: the quadratic candidate set IS the
    // output — the behavior the cap exists to bound
    val small = ((0 until 300).map(i => (i.toLong, blobSig)) ++
      Seq((10001L, sigA), (10002L, sigB))).toDF("doc_id", "simhash")
    assert(TextDedup.hammingPairs64(small, 3).count() == 300L * 299 / 2 + 1)
    // a pair whose only equal band is hot is DROPPED (the q140
    // declarative semantics: keep iff some equal band is non-hot)
    // equal to blob in band 0 only (hot there); 1 bit apart in each
    // of bands 1-3 → hamming 3, matchable ONLY through the hot band
    val base = 0x2000300040000000L | (blobSig & 0xffffL)
    val hotOnly = ((0 until 10).map(i => (i.toLong, blobSig)) ++ Seq(
      (20001L, base), (20002L, base ^ 0x0001000100010000L)))
      .toDF("doc_id", "simhash")
    // uncapped: the pair rides the band-0 match
    assert(TextDedup.hammingPairs64(hotOnly, 3)
      .filter(col("doc_a") >= 20000L).count() == 1L)
    // capped: band 0's key is hot (12 > 4 members) → pair dropped
    assert(TextDedup.hammingPairs64(hotOnly, 3, Some(4L))
      .filter(col("doc_a") >= 20000L).count() == 0L)
  }

  test("hot-band cap semantics survive a non-broadcastable hot table") {
    // the hot table holds ≤ n/(cap+1) keys — at small caps that is NOT
    // broadcast-small (cap=2 can put a third of the corpus's keys in
    // it), and the flag join must fall back to a shuffle join with
    // identical semantics. Force the fallback for every join by
    // disabling auto-broadcast outright and re-check the planted-skew
    // expectations.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val blobSig = 0x0123456789abcdefL
      val sigA = 0x7777000100020003L
      val sigB = 0x7777000100020007L
      val rows = (0 until 500).map(i => (i.toLong, blobSig)) ++
        Seq((10001L, sigA), (10002L, sigB))
      val sigs = rows.toDF("doc_id", "simhash").repartition(8)
      val mined = TextDedup.hammingPairs64(sigs, maxHamming = 3,
        maxBandFreq = Some(8L))
      assert(mined.collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        == Seq((10001L, 10002L, 1)))
      // and the broadcast really was off — no join in the executed
      // plan used a broadcast exchange
      assert(!mined.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("simhash64 band keys span the full 16-bit space, not 16 values") {
    // the scale rationale for the 64-bit path: band keys must distribute
    // across 2^16 values; with ~100 docs the 4x100 keys should be nearly
    // all distinct (the 16-bit variant would cap at 16 per band)
    val many = (0L until 100L).map(i => (i, s"w${i}a w${i}b w${i}c w${i}d w${i}e"))
      .toDF("doc_id", "text")
    val keyed = TextDedup.simhash64(many).selectExpr(
      "shiftrightunsigned(simhash, 0) & 65535 as k0",
      "shiftrightunsigned(simhash, 16) & 65535 as k1")
    val distinct = keyed.selectExpr("count(distinct k0) as d0", "count(distinct k1) as d1").head()
    assert(distinct.getLong(0) > 90 && distinct.getLong(1) > 90, distinct.toString)
  }

  // --- char-level exact-substring decontamination ---

  // 60 chars, no repeated 40-window (i*7 mod 26 has period 26)
  private def benchText: String =
    (0 until 60).map(i => ('a' + (i * 7) % 26).toChar).mkString

  test("dupSpanRemovalStats matches an independent brute-force reference on random corpora") {
    import spark.implicits._
    // straight-line reference: grams by string (the impl's 48-bit hash
    // is injective at this vocab size), dup set, islands, ownership,
    // interval union — no windows, no DataFrames
    def brute(docs: Seq[(Long, String)], k: Int): Map[Long, (Long, Long)] = {
      val words = docs.map { case (id, t) => id -> t.split(" ", -1) }.toMap
      val grams = for {
        (id, w) <- words.toSeq; i <- 0 to w.length - k if w.length >= k
      } yield (id, i, w.slice(i, i + k).mkString(" "))
      val nd = grams.groupBy(_._3).map { case (g, xs) =>
        g -> xs.map(_._1).distinct.size }
      val hits = grams.filter(x => nd(x._3) >= 2)
      case class Isl(doc: Long, s: Int, e: Int, key: String)
      val islands = hits.groupBy(_._1).toSeq.flatMap { case (id, xs) =>
        val byPos = xs.map(x => x._2 -> x._3).toMap
        val ps = xs.map(_._2).distinct.sorted
        val runs = ps.foldLeft(List.empty[List[Int]]) {
          case (acc, p) if acc.nonEmpty && acc.head.head == p - 1 =>
            (p :: acc.head) :: acc.tail
          case (acc, p) => List(p) :: acc
        }
        runs.map(r => Isl(id, r.min, r.max, byPos(r.min)))
      }
      val nonOwner = islands.groupBy(_.key).values.flatMap(v =>
        v.sortBy(x => (x.doc, x.s)).drop(1)).toSeq
      nonOwner.groupBy(_.doc).map { case (id, spans) =>
        val ivs = spans.map(x => (x.s, x.e + k - 1)).sortBy(identity)
        var prevEnd = -1; var total = 0L
        for ((s, e) <- ivs) {
          total += math.max(0, e - math.max(s - 1, prevEnd))
          prevEnd = math.max(prevEnd, e)
        }
        id -> (spans.size.toLong, total)
      }
    }
    val rng = new scala.util.Random(42)
    val vocab = Seq("a", "b", "c", "d", "e", "f")
    for (trial <- 1 to 5) {
      val docs = (0L until 12L).map(id => id ->
        Seq.fill(rng.nextInt(16))(vocab(rng.nextInt(vocab.size))).mkString(" "))
      val expect = brute(docs, 3)
      val got = TextDedup.dupSpanRemovalStats(
          docs.toDF("doc_id", "text").repartition(5), spanWords = 3, minDocs = 2)
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3)))
        .filter(_._2 != ((0L, 0L))).toMap
      assert(got == expect, s"trial $trial: $got vs $expect\n$docs")
    }
  }

  test("substringMatches flags the planted run with exact position math") {
    val bench = Seq((100L, benchText)).toDF("doc_id", "text").repartition(2)
    val train = Seq(
      // 10-char clean prefix, then a verbatim 50-char run from bench:
      // windows fit at positions 11 .. 11+(50-40) -> 11 hits
      (1L, ("X" * 10) + benchText.substring(5, 55)),
      (2L, "Z" * 80),         // no shared window
      (3L, benchText.take(30) // shares chars but shorter than the window
      )).toDF("doc_id", "text").repartition(3)
    val out = TextDedup.substringMatches(train, bench, windowChars = 40)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((1L, 11L, 11L, 11L)))
  }

  test("decontamSpanRemovalStats pads, clamps and unions the leaked windows") {
    // windowChars = 5, padChars = 2; bench "ABCDEF" contributes the
    // two overlapping windows ABCDE / BCDEF — every interval below is
    // hand-computed
    val bench = Seq((100L, "ABCDEF")).toDF("doc_id", "text")
    val train = Seq(
      // hits at pos 3 and 12 -> intervals [1,9] [10,18]: ADJACENT, so
      // one contiguous removed region covering the whole doc
      (1L, "xxABCDExxxxABCDExx"),
      // hit at pos 1: pad clamps at both doc edges -> [1,5]
      (2L, "ABCDE"),
      (3L, "nomatchhere"), // length >= window, zero hits -> zeros
      (4L, "abc"),         // shorter than the window -> zeros
      // overlapping hits pos 3 (ABCDE) and 4 (BCDEF) -> [1,9] [2,10]
      // union to ONE region of 10 chars, n_hits counts both
      (5L, "zzABCDEFzz"),
      // hits at pos 1 and 15 -> [1,7] [13,19]: gap at 8..12 -> TWO
      // regions, 14 chars
      (6L, "ABCDEzzzzzzzzzABCDE")
    ).toDF("doc_id", "text").repartition(3)
    val out = TextDedup.decontamSpanRemovalStats(train, bench,
        windowChars = 5, padChars = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(out == Seq(
      (1L, 18L, 2L, 1L, 18L),
      (2L, 5L, 1L, 1L, 5L),
      (3L, 11L, 0L, 0L, 0L),
      (4L, 3L, 0L, 0L, 0L),
      (5L, 10L, 2L, 1L, 10L),
      (6L, 19L, 2L, 2L, 14L)))
  }

  test("dupSpanRewrite excises non-owner spans word-for-word, owners untouched") {
    import spark.implicits._
    // the q131 fixture: doc 9's two non-owner spans [5,14] and [10,19]
    // overlap — the rewrite must cut their 15-word UNION and keep the
    // 5-word prefix; owner docs 2 and 3 must pass through identically
    val as = (1 to 15).map(i => s"a$i")
    val d9 = ((0 to 4).map(i => s"w$i") ++ as).mkString(" ")
    val d2 = (Seq("b1", "b2") ++ as.take(10)).mkString(" ")
    val d3 = (Seq("c1") ++ as.drop(5)).mkString(" ")
    val docs = Seq((9L, d9), (2L, d2), (3L, d3)).toDF("doc_id", "text")
      .repartition(3)
    val out = TextDedup.dupSpanRewrite(docs, spanWords = 10, minDocs = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .toSeq
    assert(out == Seq(
      (2L, 12L, d2, 12L),
      (3L, 11L, d3, 11L),
      (9L, 20L, "w0 w1 w2 w3 w4", 5L)))
    // consistency with the stats manifest: words removed agree per doc
    val stats = TextDedup.dupSpanRemovalStats(docs, spanWords = 10,
        minDocs = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1) - r.getLong(3)))
      .toMap
    assert(out.forall { case (id, _, _, nKept) => stats(id) == nKept })
  }

  test("dupSpan ownership survives a planted hot key (one span in every doc)") {
    import spark.implicits._
    // 200 docs all carry the SAME 10-word boilerplate span (one key_gh
    // shared corpus-wide — the skew case the min-struct ownership
    // aggregate exists for); doc 0 is the (doc_id, start_pos)-minimal
    // occurrence and must be the only doc keeping its words
    val boiler = (1 to 10).map(i => s"bp$i").mkString(" ")
    val docs = (0L until 200L).map(i => (i, s"u${i}a u${i}b " + boiler))
      .toDF("doc_id", "text").repartition(8)
    val out = TextDedup.dupSpanRemovalStats(docs, spanWords = 10, minDocs = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(out(0L) == ((0L, 0L)), s"owner doc 0 lost words: ${out(0L)}")
    (1L until 200L).foreach { i =>
      assert(out(i) == ((1L, 10L)), s"doc $i: ${out(i)}")
    }
    // and the rewrite agrees: every non-owner doc keeps only its two
    // unique words, the owner keeps everything
    val rw = TextDedup.dupSpanRewrite(docs, spanWords = 10, minDocs = 2)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(rw(0L) == s"u0a u0b " + boiler)
    assert(rw(7L) == "u7a u7b")
  }

  test("decontamRewrite re-emits the cut corpus character-for-character") {
    val bench = Seq((100L, "ABCDEF")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "xxABCDExxxxABCDExx"),       // union covers the whole doc
      (2L, "ABCDE"),                    // exact-match doc -> empty
      (3L, "nomatchhere"),              // untouched, byte-identical
      (6L, "ABCDEzzzzzzzzzABCDE"),      // two regions, middle kept
      (7L, "headxxABCDEyyytail")        // one region, head+tail kept
    ).toDF("doc_id", "text").repartition(2)
    val out = TextDedup.decontamRewrite(train, bench,
        windowChars = 5, padChars = 2)
      .collect()
      .map(r => (r.getLong(0), r.getString(2), r.getLong(3))).toSeq
    assert(out == Seq(
      (1L, "", 0L),
      (2L, "", 0L),
      (3L, "nomatchhere", 11L),
      (6L, "zzzzz", 5L),        // kept [8,12] of ABCDE + 9 z's + ABCDE
      (7L, "headytail", 9L)))   // removed [5,13] of the 18-char doc
    // consistency with the stats manifest: chars removed agree per doc
    val stats = TextDedup.decontamSpanRemovalStats(train, bench,
        windowChars = 5, padChars = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1) - r.getLong(4)))
      .toMap
    assert(out.forall { case (id, _, nClean) => stats(id) == nClean })
  }

  test("normalizedDedup groups case/punct/whitespace variants, keeps alnum splits apart") {
    val d = Seq(
      (1L, "Hello, World!"),
      (2L, "hello world"),
      (3L, "HELLO  WORLD"),
      (4L, "different text"),
      (5L, "abc123"),   // punctuation INSIDE an alnum run becomes a
      (6L, "ABC-123")   // space -> 5 and 6 must NOT group
    ).toDF("doc_id", "text").repartition(3)
    val out = TextDedup.normalizedDedup(d).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    assert(out == Seq(
      (1L, 1L, 3L, 1L), (2L, 1L, 3L, 0L), (3L, 1L, 3L, 0L),
      (4L, 4L, 1L, 1L), (5L, 5L, 1L, 1L), (6L, 6L, 1L, 1L)))
    // and exactDedup over the same input sees six distinct texts
    assert(TextDedup.exactDedup(d).count() == 6L)
  }

  test("maxDupSpans merges seed runs into one maximal planted span") {
    import spark.implicits._
    // doc 1 and doc 2 share words 5..19 of doc 1 (a 15-word run →
    // 6 sliding 10-gram seeds at positions 5..10 in doc 1); doc 3
    // repeats ITS OWN words but shares nothing cross-doc
    val shared = (1 to 15).map(i => s"dup$i").mkString(" ")
    val d1 = ((1 to 5).map(i => s"a$i") ++ shared.split(" ") ++
      (1 to 8).map(i => s"b$i")).mkString(" ")
    val d2 = ((1 to 3).map(i => s"c$i") ++ shared.split(" ") ++
      (1 to 4).map(i => s"d$i")).mkString(" ")
    val d3 = (("self " * 30).trim + " tail1 tail2").trim
    val out = TextDedup.maxDupSpans(
      Seq((1L, d1), (2L, d2), (3L, d3)).toDF("doc_id", "text")
        .repartition(3), spanWords = 10, minDocs = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // doc 1: words 5..19 inclusive; doc 2: words 3..17; doc 3: none
    // (its repeats are within one document, below minDocs = 2)
    assert(out.toSeq == Seq((1L, 5L, 19L, 6L, 15L), (2L, 3L, 17L, 6L, 15L)))
  }

  test("dupSpanRemovalStats: owners keep their span; overlapping removals union") {
    import spark.implicits._
    // doc 9 holds a1..a15 at positions 5..19; doc 2 shares a1..a10
    // (and owns that key — smaller doc_id), doc 3 shares a6..a15 (and
    // owns it). Doc 9's two non-owner spans [5,14] and [10,19]
    // OVERLAP by 5 words, so its removal is the 15-word union, not 20.
    val as = (1 to 15).map(i => s"a$i")
    val d9 = ((0 to 4).map(i => s"w$i") ++ as).mkString(" ")
    val d2 = (Seq("b1", "b2") ++ as.take(10)).mkString(" ")
    val d3 = (Seq("c1") ++ as.drop(5)).mkString(" ")
    val got = TextDedup.dupSpanRemovalStats(
        Seq((9L, d9), (2L, d2), (3L, d3)).toDF("doc_id", "text")
          .repartition(3), spanWords = 10, minDocs = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(got(2L) == ((0L, 0L)), got)
    assert(got(3L) == ((0L, 0L)), got)
    assert(got(9L) == ((2L, 15L)), got)
  }

  test("index-backed substring matching equals the inline scan") {
    val bench = Seq((100L, benchText)).toDF("doc_id", "text")
    val train = Seq(
      (1L, ("X" * 10) + benchText.substring(5, 55)),
      (2L, "Z" * 80)).toDF("doc_id", "text")
    val inline = TextDedup.substringMatches(train, bench, 40).collect().toSeq
    val dir = tempDir("graft_substr_idx")
    TextDedup.writeSubstringIndex(bench, dir, 40)
    val indexed = TextDedup.substringMatchesIndexed(train, dir, 40)
      .collect().toSeq
    assert(indexed == inline && inline.nonEmpty)
    // the shuffle tier (index too big to broadcast) is value-identical
    // AND bucket-prunes its index scan to the batch's windows — the
    // oversized-index path must never scan the whole standing index
    // (prune threshold forced to 0: this fixture index is tiny)
    spark.conf.set(graft.operators.IndexLayout.PruneMinBytesKey, "0")
    try {
      val big = TextDedup.substringMatchesIndexed(train, dir, 40,
        maxBroadcastBytes = 0L)
      val bigPlan = big.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert("""PartitionFilters: \[[^\]]*bucket""".r.findFirstIn(bigPlan)
        .isDefined, bigPlan)
      assert(big.collect().toSeq == inline)
    } finally
      spark.conf.unset(graft.operators.IndexLayout.PruneMinBytesKey)
    // incremental append: half the benchmark at build + half appended
    // equals the full inline scan (duplicate windows across files are
    // harmless to the left-semi probe)
    val dir2 = tempDir("graft_substr_idx2")
    TextDedup.writeSubstringIndex(
      bench.select($"doc_id", substring($"text", 1, 60).as("text")), dir2, 40)
    TextDedup.appendToSubstringIndex(bench, dir2, 40)
    val appended = TextDedup.substringMatchesIndexed(train, dir2, 40)
      .collect().toSeq
    assert(appended == inline)
  }

  test("hash index probe: build+append ≡ rebuild; index-side hot cap bounds planted skew") {
    // standing history: 5000 identical blob signatures (boilerplate)
    // plus two distinct anchors; batch: one probe near each anchor and
    // one near the blob. Index-side hot cap must kill the blob match
    // (its every band key is hot in the INDEX) and keep the anchor
    // matches, each emitted exactly once despite 4 equal bands.
    val blobSig = 0x0123456789abcdefL
    val anchorA = 0x1111222233334444L
    val anchorB = 0x5555666677778888L
    val history = ((0 until 5000).map(i => (i.toLong, blobSig)) ++
      Seq((9001L, anchorA), (9002L, anchorB))).toDF("doc_id", "simhash")
    val dir = tempDir("graft_hash_idx")
    // build on a prefix, append the rest — probe results must equal a
    // one-shot rebuild (the O(batch) maintenance claim)
    TextDedup.writeHashIndex(history.filter($"doc_id" < 3000), dir)
    TextDedup.appendToHashIndex(history.filter($"doc_id" >= 3000), dir)
    val batch = Seq(
      (100001L, anchorA ^ 1L),          // 1 bit from anchor A
      (100002L, anchorB),               // exact dup of anchor B
      (100003L, blobSig ^ 2L)           // 1 bit from the hot blob
    ).toDF("doc_id", "simhash")
    val hits = TextDedup.nearDupsAgainstHashIndex(batch, dir,
        maxHamming = 3, maxBandFreq = Some(8L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(hits == Seq((100001L, 9001L, 1), (100002L, 9002L, 0)))
    val dir2 = tempDir("graft_hash_idx_rebuild")
    TextDedup.writeHashIndex(history, dir2)
    val rebuilt = TextDedup.nearDupsAgainstHashIndex(batch, dir2,
        maxHamming = 3, maxBandFreq = Some(8L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(rebuilt == hits)
    // uncapped, the blob probe matches every blob row — the quadratic
    // group the cap exists to bound
    assert(TextDedup.nearDupsAgainstHashIndex(batch, dir2, maxHamming = 3)
      .filter($"doc_id" === 100003L).count() == 5000L)
  }

  test("CDC chunks tile the doc; an edit perturbs only boundaries near it") {
    val words = (0 until 400).map(i => s"w${i * 7 % 131}")
    val doc = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
    val chunks = TextDedup.cdcChunks(doc, w = 4, d = 16)
      .select($"chunk_idx", $"from_word", $"to_word", $"chunk_hash")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    // chunks tile [0, n) contiguously
    assert(chunks.head._2 == 0L && chunks.last._3 == 399L && chunks.size > 3)
    chunks.sliding(2).foreach {
      case Seq(a, b) => assert(a._3 + 1 == b._2)
      case _ =>
    }
    // THE CDC property: insert a word near the front — every chunk
    // hash after the boundaries realign (within w words of the edit)
    // is unchanged, which is what makes chunk-hash equality find
    // shared content across positions. Fixed-size chunking (q74)
    // would shift every later chunk.
    val edited = Seq((1L, ("INSERTED" +: words).mkString(" ")))
      .toDF("doc_id", "text")
    val editedHashes = TextDedup.cdcChunks(edited, w = 4, d = 16)
      .select($"chunk_hash").as[String].collect().toSet
    val origHashes = chunks.map(_._4).toSet
    val preserved = (origHashes & editedHashes).size.toDouble / origHashes.size
    assert(preserved > 0.7, s"only $preserved of chunk hashes survived the edit")
    // and the first chunk (containing the edit) did change
    assert(!editedHashes.contains(chunks.head._4))
  }

  test("CDC keep-first manifest: first occurrence owns, islands merge") {
    // one 40-word block B with internal variety, tiled so doc 1 holds
    // B twice (within-doc repeat) and doc 2 holds B once plus unique
    // tail — with (w=4, d=16) the block is long enough to carry whole
    // chunks
    val block = (0 until 60).map(i => s"b${i * 11 % 97}").mkString(" ")
    val tail = (0 until 60).map(i => s"u$i").mkString(" ")
    val docs = Seq((1L, s"$block $block"), (2L, s"$block $tail"))
      .toDF("doc_id", "text")
    val chunks = TextDedup.cdcChunks(docs, w = 4, d = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(5)))
    val manifest = TextDedup.cdcKeepFirstManifest(docs, w = 4, d = 16)
      .orderBy($"doc_id", $"span_idx").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    // keep-first replay in Scala: the manifest's kept chunk count per
    // doc equals the first-occurrence selection
    val firstOwner = chunks.groupBy(_._3).map { case (_, occ) =>
      occ.minBy(o => (o._1, o._2)) }.toSet
    val keptPerDoc = firstOwner.groupBy(_._1).view.mapValues(_.size).toMap
    val manifestChunksPerDoc = manifest.groupBy(_._1)
      .view.mapValues(_.map(_._6).sum).toMap
    assert(manifestChunksPerDoc == keptPerDoc)
    // doc 1's repeated block: at least one chunk hash repeats within
    // the doc and only the first copy is kept (fewer kept than total)
    val d1Total = chunks.count(_._1 == 1L)
    assert(keptPerDoc(1L) < d1Total, "within-doc repeat was not deduped")
    // spans are disjoint, ordered, and sum their chunk words exactly
    manifest.foreach { case (_, _, fw, tw, nw, _) => assert(nw == tw - fw + 1) }
    manifest.groupBy(_._1).values.foreach { spans =>
      spans.sortBy(_._2).sliding(2).foreach {
        case Seq(a, b) => assert(a._4 < b._3 - 1 ||
          (a._4 < b._3), "spans overlap or touch unmerged")
        case _ =>
      }
    }
  }

  test("cdcRewrite keeps exactly the manifest's words, first copy survives") {
    // the keep-first fixture: doc 1 = block twice (within-doc repeat),
    // doc 2 = the same block + a unique tail
    val block = (0 until 60).map(i => s"b${i * 11 % 97}").mkString(" ")
    val tail = (0 until 60).map(i => s"u$i").mkString(" ")
    val docs = Seq((1L, s"$block $block"), (2L, s"$block $tail"))
      .toDF("doc_id", "text")
    val out = TextDedup.cdcRewrite(docs, w = 4, d = 16)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .toSeq
    // rewrite-vs-manifest consistency: kept words agree per doc, and
    // the clean text is exactly the kept spans' words in order
    val manifest = TextDedup.cdcKeepFirstManifest(docs, w = 4, d = 16)
      .collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    val keptWords = manifest.groupBy(_._1).view.mapValues(_.map(_._4).sum)
    out.foreach { case (id, nWords, clean, nKept) =>
      assert(keptWords(id) == nKept)
      assert(nKept < nWords, "nothing deduped — vacuous fixture")
      val ws = docs.filter($"doc_id" === id).head().getString(1).split(" ")
      val expect = manifest.filter(_._1 == id).sortBy(_._2)
        .flatMap { case (_, fw, tw, _) =>
          ws.slice(fw.toInt, tw.toInt + 1) }.mkString(" ")
      assert(clean == expect)
    }
    // doc 1 keeps strictly more than zero and loses its repeat
    assert(out.find(_._1 == 1L).get._4 > 0)
  }

  test("norm-hash index: append-built probe equals rebuild; variants hit, fresh miss") {
    val hist = Seq((1L, "Alpha, Beta!"), (2L, "gamma delta"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "ALPHA BETA"),        // normalizes to doc 1's form
      (11L, "gamma  delta"),      // whitespace variant of doc 2
      (12L, "entirely new words") // fresh
    ).toDF("doc_id", "text")
    val dir1 = tempDir("graft_norm_idx_append")
    TextDedup.writeNormHashIndex(hist.filter($"doc_id" < 2), dir1)
    TextDedup.appendToNormHashIndex(hist.filter($"doc_id" >= 2), dir1)
    val dir2 = tempDir("graft_norm_idx_full")
    TextDedup.writeNormHashIndex(hist, dir2)
    def probe(p: String) =
      TextDedup.normalizedDedupAgainstIndex(batch, p).collect()
        .map(r => (r.getLong(0), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3))).toSeq
    val appended = probe(dir1)
    assert(appended == probe(dir2))
    assert(appended == Seq((10L, 1L, 1L), (11L, 1L, 2L), (12L, 0L, -1L)))
  }

  test("appends detect a legacy flat index and keep it readable (no mixed layout)") {
    // a pre-bucketing flat tree: appending bucket=*/ dirs into it
    // would break partition discovery ("Conflicting directory
    // structures") and corrupt the standing index on the first append
    // (r16 advice). The append must stay flat; the probe's legacy
    // fallback keeps reading the whole tree.
    val hist1 = Seq((1L, "Alpha, Beta!")).toDF("doc_id", "text")
    val hist2 = Seq((2L, "gamma delta")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "ALPHA BETA"), (11L, "gamma  delta"), (12L, "fresh words"))
      .toDF("doc_id", "text")
    val dir = tempDir("graft_norm_idx_legacy")
    // legacy layout = the 2-column projection written flat
    TextDedup.normalizedDedup(hist1)
      .select($"doc_id", $"norm_hash").write.mode("overwrite").parquet(dir)
    TextDedup.appendToNormHashIndex(hist2, dir)
    val got = TextDedup.normalizedDedupAgainstIndex(batch, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSeq
    assert(got == Seq((10L, 1L, 1L), (11L, 1L, 2L), (12L, 0L, -1L)))
    // and the tree stayed flat — no bucket partition column appeared
    assert(!spark.read.parquet(dir).columns.contains("bucket"))
  }

  test("hash-index append detects a legacy flat tree and keeps it readable") {
    val anchorA = 0x1111222233334444L
    val anchorB = 0x5555666677778888L
    val dir = tempDir("graft_hash_idx_legacy")
    // legacy layout: flat (doc_id, simhash), no band/bucket dirs
    Seq((1L, anchorA)).toDF("doc_id", "simhash")
      .write.mode("overwrite").parquet(dir)
    TextDedup.appendToHashIndex(
      Seq((2L, anchorB)).toDF("doc_id", "simhash"), dir)
    val batch = Seq((100L, anchorA ^ 1L), (101L, anchorB))
      .toDF("doc_id", "simhash")
    val hits = TextDedup.nearDupsAgainstHashIndex(batch, dir, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(hits == Seq((100L, 1L, 1), (101L, 2L, 0)))
    assert(!spark.read.parquet(dir).columns.contains("band"))
  }

  test("CDC chunk index: append-built probe equals rebuild-from-scratch") {
    val mk = (id: Long, seed: Int) =>
      (id, (0 until 120).map(i => s"w${(i * 13 + seed) % 211}").mkString(" "))
    val history = (0L until 8L).map(i => mk(i, i.toInt)).toDF("doc_id", "text")
    // doc 101 must be genuinely fresh: a different seed of the same
    // cyclic progression would be a rotation of the history's word
    // stream, which CDC (position-independent by design) would find
    val batch = Seq(mk(100L, 3),
      (101L, (0 until 120).map(i => s"fresh$i").mkString(" ")))
      .toDF("doc_id", "text")
    val dir1 = tempDir("graft_cdc_idx_append")
    TextDedup.writeChunkIndex(history.filter($"doc_id" < 4), dir1, w = 4, d = 16)
    TextDedup.appendToChunkIndex(history.filter($"doc_id" >= 4), dir1, w = 4, d = 16)
    val dir2 = tempDir("graft_cdc_idx_full")
    TextDedup.writeChunkIndex(history, dir2, w = 4, d = 16)
    def probe(p: String) =
      TextDedup.cdcProbeAgainstChunkIndex(batch, p, w = 4, d = 16)
        .orderBy($"doc_id", $"chunk_idx").collect().toSeq
    val appended = probe(dir1)
    assert(appended == probe(dir2))
    // doc 100 clones doc 3's text → all its chunks indexed; doc 101 is
    // fresh → no chunk indexed
    val byDoc = appended.groupBy(_.getLong(0))
    assert(byDoc(100L).forall(_.getLong(6) > 0))
    assert(byDoc(101L).forall(_.getLong(6) == 0))
  }

  test("byte-CDC rewrite compacts shared payload bytes across GRFT containers") {
    import graft.operators.Multimodal
    // like the q167 fixture (container B front-inserts 97 bytes
    // before the same 4000-byte payload) but with a REPEAT-FREE
    // payload — q167's (i·31+7) mod 251 repeats every 251 bytes, so
    // its owner doc would legitimately self-compact; the LCG top
    // bytes below have no repeated 16-byte window in 4000 bytes,
    // making "first occurrence stays byte-identical" a valid
    // assertion
    var lcg = 42L
    val payload = Array.tabulate[Byte](4000) { _ =>
      lcg = lcg * 6364136223846793005L + 1442695040888963407L
      (lcg >>> 56).toByte
    }
    val a = Multimodal.pack(10, 1, 1, 0, payload)
    val b = Multimodal.pack(11, 2, 1, 0,
      Array.fill[Byte](97)(3) ++ payload)
    val df = Seq((1L, a), (2L, b)).toDF("doc_id", "blob")
    val out = TextDedup.cdcByteRewrite(df, "blob", w = 16, d = 64)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .toSeq
    // doc 1 owns every chunk (smaller doc_id) -> byte-identical
    val m1 = java.security.MessageDigest.getInstance("MD5")
      .digest(a).map("%02x".format(_)).mkString
    assert(out.find(_._1 == 1L).get._3 == m1)
    assert(out.find(_._1 == 1L).get._4 == a.length.toLong)
    // doc 2 loses the shared interior: > 70% of its bytes compact away
    val (_, n2, _, k2) = out.find(_._1 == 2L).get
    assert(n2 == b.length.toLong && k2 < n2 * 3 / 10,
      s"doc 2 kept $k2 of $n2 bytes — shared payload not compacted")
    // manifest consistency: kept bytes agree with the manifest sums
    val manifest = TextDedup.cdcByteKeepFirstManifest(df, "blob",
        w = 16, d = 64)
      .collect().map(r => (r.getLong(0), r.getLong(4)))
    val sums = manifest.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    out.foreach { case (id, _, _, nKept) =>
      assert(sums.getOrElse(id, 0L) == nKept) }
  }

  test("byte-CDC over GRFT blobs: shared payload regions share chunk hashes") {
    import graft.operators.Multimodal
    // two real GRFT containers with different headers whose payloads
    // share a 4000-byte region (container B front-inserts 97 bytes):
    // the gear realigns within w bytes, so interior chunk hashes match
    // across the offset — the sub-file storage-dedup property no
    // fixed-offset scheme has
    val payload = Array.tabulate[Byte](4000)(i => ((i * 31 + 7) % 251).toByte)
    val a = Multimodal.pack(10, 1, 1, 0, payload)
    val b = Multimodal.pack(11, 2, 1, 0,
      Array.fill[Byte](97)(3) ++ payload)
    val df = Seq((1L, a), (2L, b)).toDF("doc_id", "blob")
    val ch = TextDedup.cdcByteChunks(df, "blob", w = 16, d = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(5)))
    // tiling: per doc, chunks start at 0, are contiguous, end at n-1
    for ((id, blob) <- Seq((1L, a), (2L, b))) {
      val cs = ch.filter(_._1 == id).sortBy(_._2)
      assert(cs.head._3 == 0L && cs.last._4 == blob.length - 1L && cs.size > 3)
      cs.sliding(2).foreach {
        case Array(x, y) => assert(x._4 + 1 == y._3)
        case _ =>
      }
    }
    val h1 = ch.filter(_._1 == 1L).map(_._5).toSet
    val h2 = ch.filter(_._1 == 2L).map(_._5).toSet
    val preserved = (h1 & h2).size.toDouble / h1.size
    assert(preserved > 0.7,
      s"only $preserved of chunk hashes survived the 97-byte offset")
    // and the first chunk (the differing header region) did NOT match
    val first1 = ch.filter(_._1 == 1L).minBy(_._2)._5
    assert(!h2.contains(first1) ||
      ch.filter(_._1 == 2L).minBy(_._2)._5 != first1)
  }

  test("substringMatches shuffle fallback equals the broadcast path") {
    val bench = Seq((100L, benchText)).toDF("doc_id", "text")
    val train = Seq((1L, ("X" * 10) + benchText.substring(5, 55)))
      .toDF("doc_id", "text")
    val broadcastPath = TextDedup.substringMatches(train, bench, 40).collect()
    val shufflePath = TextDedup.substringMatches(train, bench, 40,
      maxBroadcastChars = 0L).collect()
    assert(broadcastPath.toSeq == shufflePath.toSeq)
  }
}
