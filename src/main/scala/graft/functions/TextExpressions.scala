package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.ArgType.{arrayOf, binary, int, string}

/** Native Catalyst expression for word k-gram shingling — the hot
  * primitive of every text-dedup / contamination / boilerplate
  * operator.
  *
  * The declarative formulation
  * `array_distinct(transform(sequence(1, size(w)-k+1), i ->
  * array_join(slice(w, i, k), ' ')))` evaluates an interpreted lambda
  * per gram (plus a `slice` array copy per gram) and blocks whole-stage
  * codegen for the enclosing Project — measured ~2 s per corpus scan at
  * sf0.1, multiplied across every operator that shingles. This
  * expression builds the distinct gram set in one tight JVM loop and
  * stays inside WholeStageCodegen via a static call.
  *
  * Semantics are IDENTICAL to the formulation it replaces:
  * words = `split(text, " ")` (Java regex split, limit −1, trailing
  * empties kept — the same call Spark's `split` makes); grams are the
  * `n-k+1` consecutive k-word joins; the result keeps FIRST-occurrence
  * order (like `array_distinct`); fewer than k words — the rows the
  * old `size(w) >= k` pre-filter dropped — yields NULL so callers
  * filter `isNotNull` instead.
  */
case class WordShingles(text: Expression, k: Expression) extends StaticKernel(
  "graft_shingles", Seq(string, int), ArrayType(StringType, containsNull = false),
  TextShingling, "shingles")

/** Multiset k-grams with multiplicity — `graft_grams(text, k)`. Same
  * tokenization contract as [[WordShingles]] but WITHOUT the distinct:
  * the n−k+1 consecutive grams in order, for counting uses (n-gram LM
  * training/scoring, CMS feeds) where multiplicity is the point. Null
  * for texts with fewer than k words.
  */
case class WordGrams(text: Expression, k: Expression) extends StaticKernel(
  "graft_grams", Seq(string, int), ArrayType(StringType, containsNull = false),
  TextShingling, "grams")

/** Static shingling kernel, shared by interpreted eval and codegen. */
object TextShingling {
  /** Byte-range word layout of `text` split on every 0x20 byte — the
    * exact segmentation of `split(text, ' ', -1)` (0x20 never occurs
    * inside a multi-byte UTF-8 sequence, so byte split == char split;
    * empty segments kept). Returns (bytes, starts, n) with `n` words,
    * `starts(i)` the byte offset of word i and `starts(n) =
    * bytes.length + 1` a sentinel, so:
    *  - word i = bytes[starts(i), starts(i+1) − 1)
    *  - the ' '-join of words i..j = bytes[starts(i), starts(j+1) − 1)
    *    — every inter-word separator is exactly one space byte by
    *    construction, so joined grams are CONTIGUOUS RANGES of the
    *    original bytes and never need building or re-encoding.
    * Replaces the per-kernel `toString.split(" ", -1)` (a UTF-16
    * decode + per-word String allocation) and every per-gram
    * StringBuilder + getBytes round-trip — pure per-task-work
    * reduction, byte-identical outputs.
    */
  private def wordRanges(text: UTF8String): (Array[Byte], Array[Int], Int) = {
    val bytes = text.getBytes
    var n = 1
    var i = 0
    while (i < bytes.length) { if (bytes(i) == 0x20) n += 1; i += 1 }
    val starts = new Array[Int](n + 1)
    starts(n) = bytes.length + 1
    var w = 1
    i = 0
    while (i < bytes.length) {
      if (bytes(i) == 0x20) { starts(w) = i + 1; w += 1 }
      i += 1
    }
    (bytes, starts, n)
  }

  /** Distinct word k-grams of `text` in first-occurrence order, or null
    * when the text has fewer than k words (the caller's drop condition).
    */
  def shingles(text: UTF8String, k: Int): GenericArrayData = {
    val (bytes, starts, n) = wordRanges(text)
    if (n < k) return null
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var i = 0
    while (i <= n - k) {
      seen.add(UTF8String.fromBytes(bytes, starts(i),
        starts(i + k) - 1 - starts(i)))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var p = 0
    while (it.hasNext) { out(p) = it.next(); p += 1 }
    new GenericArrayData(out)
  }

  /** Multiset word k-grams: every consecutive k-word join, duplicates
    * and order kept (the LM/counting flavor of `shingles`, which
    * dedups for set-similarity). Null when fewer than k words.
    */
  def grams(text: UTF8String, k: Int): GenericArrayData = {
    val (bytes, starts, n) = wordRanges(text)
    if (n < k) return null
    val out = new Array[Any](n - k + 1)
    var i = 0
    while (i <= n - k) {
      out(i) = UTF8String.fromBytes(bytes, starts(i),
        starts(i + k) - 1 - starts(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** The md5-prefix hash of every consecutive k-word gram, in position
    * order: value of the first `hexDigits` hex characters of
    * md5(gram) — exactly `conv(substring(md5(gram), 1, hexDigits),
    * 16, 10)` — computed in ONE linear pass over the text's byte
    * ranges. Replaces the gram-string Generate + Spark Md5 (32-char
    * hex string allocation) + Substring + Conv (decimal re-parse) per
    * gram with a direct digest-nibble pack. Null when fewer than k
    * words (like [[grams]]).
    */
  def gramHashes(text: UTF8String, k: Int, hexDigits: Int): GenericArrayData = {
    require(k >= 1 && hexDigits >= 1 && hexDigits <= 15,
      s"graft_gram_hashes requires k >= 1, 1 <= hexDigits <= 15, got ($k, $hexDigits)")
    val (bytes, starts, n) = wordRanges(text)
    if (n < k) return null
    val md = md5.get()
    val dg = new Array[Byte](16)
    val out = new Array[Any](n - k + 1)
    var i = 0
    while (i <= n - k) {
      md.reset()
      md.update(bytes, starts(i), starts(i + k) - 1 - starts(i))
      md.digest(dg, 0, 16)
      var h = 0L
      var d = 0
      while (d < hexDigits) {
        val b = dg(d >> 1) & 0xff
        h = (h << 4) | (if ((d & 1) == 0) b >>> 4 else b & 0xf)
        d += 1
      }
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }

  /** All `w`-char windows of `text` in position order (window i, 0-based,
    * = chars [i, i+w)) — ONE linear char-boundary walk emitting
    * zero-copy byte slices. Replaces the decontam family's
    * `explode(sequence(1, len−w+1))` + `substring(text, pos, w)` shape,
    * whose per-position substring walks chars from the string start
    * (O(len²) per document) and whose Generate carried the full text
    * on every per-char row. Null when the text has fewer than `w`
    * chars (the callers' length filter drops those rows anyway).
    */
  def charWindows(text: UTF8String, w: Int): GenericArrayData = {
    // match the sibling kernels' validation (gramHashes, cdcCuts,
    // winnow): w = 0 would silently emit nChars+1 empty windows and a
    // negative w would surface as a NegativeArraySizeException deep in
    // the kernel instead of an argument error (r18 advice)
    require(w >= 1, s"graft_char_windows requires w >= 1, got $w")
    val bytes = text.getBytes
    val nBytes = bytes.length
    var nChars = 0
    var i = 0
    while (i < nBytes) { if ((bytes(i) & 0xC0) != 0x80) nChars += 1; i += 1 }
    if (nChars < w) return null
    val starts = new Array[Int](nChars + 1)
    starts(nChars) = nBytes
    var c = 0
    i = 0
    while (i < nBytes) {
      if ((bytes(i) & 0xC0) != 0x80) { starts(c) = i; c += 1 }
      i += 1
    }
    val out = new Array[Any](nChars - w + 1)
    i = 0
    while (i <= nChars - w) {
      out(i) = UTF8String.fromBytes(bytes, starts(i), starts(i + w) - starts(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Consecutive spans of `spanWords` words, trailing partial kept. */
  def spans(text: UTF8String, spanWords: Int): GenericArrayData = {
    val (bytes, starts, n) = wordRanges(text)
    val nSpans = (n + spanWords - 1) / spanWords
    val out = new Array[Any](nSpans)
    var i = 0
    while (i < nSpans) {
      val from = i * spanWords
      val end = math.min(n, (i + 1) * spanWords)
      out(i) = UTF8String.fromBytes(bytes, starts(from),
        starts(end) - 1 - starts(from))
      i += 1
    }
    new GenericArrayData(out)
  }

  private val md5 = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  /** Per-document SimHash over `split(text, " ")` words (empty words
    * included, like the explode it replaces). `bits` is 16 or 64; see
    * [[WordSimHash]] for the exact bit derivations.
    */
  def simhash(text: UTF8String, bits: Int): Long = {
    require(bits == 16 || bits == 64, s"graft_simhash supports 16 or 64 bits, got $bits")
    val (bytes, starts, n) = wordRanges(text)
    val votes = new Array[Int](bits)
    val md = md5.get()
    val h = new Array[Byte](16)
    var i = 0
    while (i < n) {
      md.reset()
      md.update(bytes, starts(i), starts(i + 1) - 1 - starts(i))
      md.digest(h, 0, 16)
      if (bits == 64) {
        var wh = 0L
        var b = 0
        while (b < 8) { wh = (wh << 8) | (h(b) & 0xffL); b += 1 }
        var j = 0
        while (j < 64) {
          if (((wh >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
      } else {
        var j = 0
        while (j < 16) {
          val d = j / 4 // hex digit index; even = high nibble of byte d/2
          val byteV = h(d / 2) & 0xff
          val nib = if (d % 2 == 0) byteV >>> 4 else byteV & 0xf
          if (((nib >> (j % 4)) & 1) == 1) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < bits) { if (votes(j) > 0) sig |= (1L << j); j += 1 }
    sig
  }

  /** Hashing-trick document vector (Weinberger et al., ICML 2009): one
    * signed `dim`-bucket count vector per document — bucket = first 13
    * md5 hex digits mod `dim`, sign = parity of hex digit 14, each
    * word occurrence contributing ±1. Empty split segments are
    * skipped. Integer entries, so downstream dot products are exact
    * and the DuckDB oracle replays every vector from the same md5 hex.
    */
  def featureHash(text: UTF8String, dim: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    require(dim >= 2 && dim <= (1 << 20),
      s"graft_fhash needs 2 <= dim <= ${1 << 20}, got $dim")
    val (bytes, starts, n) = wordRanges(text)
    val acc = new Array[Long](dim)
    val md = md5.get()
    val h = new Array[Byte](16)
    var i = 0
    while (i < n) {
      val wLen = starts(i + 1) - 1 - starts(i)
      if (wLen > 0) {
        md.reset()
        md.update(bytes, starts(i), wLen)
        md.digest(h, 0, 16)
        // first 13 hex digits = bytes 0-5 plus the high nibble of byte
        // 6 (52 bits, always non-negative)
        var pre = 0L
        var b = 0
        while (b < 6) { pre = (pre << 8) | (h(b) & 0xffL); b += 1 }
        val hv = (pre << 4) | ((h(6) & 0xf0L) >>> 4)
        // hex digit 14 = the low nibble of byte 6; its parity is the sign
        val sign = if ((h(6) & 0x01) == 1) 1L else -1L
        acc((hv % dim).toInt) += sign
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(acc)
  }

  import org.apache.spark.sql.catalyst.expressions.XXH64

  // seed-chain prefixes of xxhash64(lit(seed), sh): hashInt(seed, 42)
  @volatile private var seedHashes: Array[Long] = Array.empty
  private def seedHash(numHashes: Int): Array[Long] = {
    val cached = seedHashes
    if (cached.length >= numHashes) cached
    else {
      val fresh = Array.tabulate(numHashes)(k => XXH64.hashInt(k, 42L))
      seedHashes = fresh
      fresh
    }
  }

  /** MinHash signature mins (`mode` 0) or LSH band keys (`mode` 1) of
    * a distinct-shingle array; null for null/empty input. See
    * [[MinHashAgg]] for the exact hash chains.
    */
  def minhash(set: org.apache.spark.sql.catalyst.util.ArrayData,
              numHashes: Int, mode: Int): GenericArrayData = {
    if (set == null || set.numElements() == 0) return null
    val seeds = seedHash(numHashes)
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < set.numElements()) {
      val sh = set.getUTF8String(i)
      var k = 0
      while (k < numHashes) {
        val h = XXH64.hashUTF8String(sh, seeds(k))
        if (h < mins(k)) mins(k) = h
        k += 1
      }
      i += 1
    }
    if (mode == 0) new GenericArrayData(mins.map(v => v: Any))
    else {
      // band key j = xxhash64(s_{2j}, s_{2j+1}) over the signed mins
      val keys = new Array[Any](numHashes / 2)
      var j = 0
      while (j < numHashes / 2) {
        keys(j) = XXH64.hashLong(mins(2 * j + 1), XXH64.hashLong(mins(2 * j), 42L))
        j += 1
      }
      new GenericArrayData(keys)
    }
  }

  private val HexDigits = "0123456789abcdef".toCharArray

  /** Content-defined chunk boundaries (see [[CdcCuts]]): the complete
    * ascending list of chunk-END word indices — word index i (0-based)
    * ends a chunk when the 48-bit md5 prefix of the w-word gram ending
    * at i is ≡ 0 mod d, plus the forced final end n-1. One narrow
    * O(n·w) pass, no state across documents.
    */
  def cdcCuts(text: UTF8String, w: Int, d: Long): GenericArrayData = {
    require(w >= 1 && d >= 1, s"graft_cdc requires w >= 1 and d >= 1, got ($w, $d)")
    val (bytes, starts, n) = wordRanges(text)
    val md = md5.get()
    val dg = new Array[Byte](16)
    val ends = new java.util.ArrayList[Any]()
    var i = w - 1
    while (i < n - 1) { // the final index is a forced end, never a gram cut
      // the w-word gram ending at i is the contiguous byte range from
      // word i−w+1's start to word i's end (single-space separators)
      val from = starts(i - w + 1)
      md.reset()
      md.update(bytes, from, starts(i + 1) - 1 - from)
      md.digest(dg, 0, 16)
      var h = 0L
      var b = 0
      while (b < 6) { h = (h << 8) | (dg(b) & 0xffL); b += 1 }
      if (h % d == 0L) ends.add(i)
      i += 1
    }
    ends.add(n - 1)
    new GenericArrayData(ends.toArray)
  }

  /** Byte-level content-defined chunk boundaries (see
    * [[CdcByteCuts]]): byte offset i ends a chunk when the 48-bit md5
    * prefix of the w-byte window ending at i ≡ 0 mod d, plus the
    * forced final end at n-1. The [[cdcCuts]] arithmetic with raw
    * bytes as the symbol stream — BINARY columns (media blobs,
    * serialized records) have no word boundaries, so the gear window
    * slides per byte. Null for empty input (no content, no chunks).
    */
  def cdcCutsBytes(bin: Array[Byte], w: Int, d: Long): GenericArrayData = {
    require(w >= 1 && d >= 1,
      s"graft_cdc_bytes requires w >= 1 and d >= 1, got ($w, $d)")
    val n = bin.length
    if (n == 0) return null
    val md = md5.get()
    val dg = new Array[Byte](16)
    val ends = new java.util.ArrayList[Any]()
    var i = w - 1
    while (i < n - 1) { // the final offset is a forced end, never a gear cut
      md.reset()
      md.update(bin, i - w + 1, w)
      md.digest(dg, 0, 16)
      var h = 0L
      var b = 0
      while (b < 6) { h = (h << 8) | (dg(b) & 0xffL); b += 1 }
      if (h % d == 0L) ends.add(i)
      i += 1
    }
    ends.add(n - 1)
    new GenericArrayData(ends.toArray)
  }

  /** Winnowing fingerprint selection (see [[WinnowFingerprints]]):
    * word k-gram md5-prefix hashes, O(n) monotonic-deque sliding-window
    * minimum with RIGHTMOST tie-break, distinct selected positions in
    * ascending order. Null when fewer than k+w-1 words.
    */
  def winnow(text: UTF8String, k: Int, w: Int): GenericArrayData = {
    require(k >= 1 && w >= 1, s"graft_winnow requires k >= 1 and w >= 1, got ($k, $w)")
    val (bytes, starts, nWords) = wordRanges(text)
    val n = nWords - k + 1 // gram count
    if (n < w) return null
    // 48-bit md5 prefix per consecutive k-gram, kept as a LONG for the
    // deque comparisons (the published hex form is fixed-width
    // lowercase, so hex string order == 48-bit value order and
    // equality coincides — the hex is rendered only for the selected
    // grams below). Each gram is a contiguous byte range of the text.
    val md = md5.get()
    val dg = new Array[Byte](16)
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) {
      md.reset()
      md.update(bytes, starts(i), starts(i + k) - 1 - starts(i))
      md.digest(dg, 0, 16)
      var h = 0L
      var b = 0
      while (b < 6) { h = (h << 8) | (dg(b) & 0xffL); b += 1 }
      hs(i) = h
      i += 1
    }
    // monotonic deque of gram indices with strictly increasing hashes;
    // `>=` on push keeps the LATER index of equal hashes at the front —
    // the robust-winnowing rightmost-min rule
    val deque = new Array[Int](n)
    var head = 0
    var tail = 0 // exclusive
    val selected = new java.util.ArrayList[Int]()
    var last = -1
    i = 0
    while (i < n) {
      while (tail > head && hs(deque(tail - 1)) >= hs(i)) tail -= 1
      deque(tail) = i
      tail += 1
      if (i >= w - 1) {
        while (deque(head) <= i - w) head += 1
        val sel = deque(head)
        if (sel != last) { selected.add(sel); last = sel }
      }
      i += 1
    }
    val out = new Array[Any](selected.size)
    var p = 0
    while (p < selected.size) {
      val s = selected.get(p)
      val hex = new Array[Char](12)
      var b = 0
      while (b < 12) {
        hex(b) = HexDigits(((hs(s) >>> ((11 - b) * 4)) & 0xfL).toInt)
        b += 1
      }
      out(p) = org.apache.spark.sql.catalyst.InternalRow(
        s + 1, UTF8String.fromString(new String(hex)))
      p += 1
    }
    new GenericArrayData(out)
  }
}

/** md5-prefix hash per consecutive k-word gram (see
  * [[TextShingling.gramHashes]]) — `graft_gram_hashes(text, k,
  * hexDigits)` → array<long>, the fused form of `transform(
  * graft_grams(text, k), g -> conv(substring(md5(g), 1, hexDigits),
  * 16, 10))`.
  */
case class GramHashes(text: Expression, k: Expression, hexDigits: Expression) extends StaticKernel(
  "graft_gram_hashes", Seq(string, int, int),
  ArrayType(LongType, containsNull = false), TextShingling, "gramHashes")

/** All `w`-char windows of a text in position order (see
  * [[TextShingling.charWindows]]) — `graft_char_windows(text, w)`;
  * callers pair it with `posexplode` (0-based pos + 1 = the old
  * 1-based `sequence` position).
  */
case class CharWindows(text: Expression, w: Expression) extends StaticKernel(
  "graft_char_windows", Seq(string, int), ArrayType(StringType, containsNull = false),
  TextShingling, "charWindows")

/** Consecutive `spanWords`-word spans of a text (trailing partial span
  * kept, duplicates kept, document order) — the span-dedup chopper.
  * Identical to `transform(sequence(0, ceil(n/sw)-1), i ->
  * array_join(slice(w, i*sw+1, sw), ' '))` over `w = split(text, ' ')`
  * without the interpreted per-span lambda.
  */
case class WordSpans(text: Expression, spanWords: Expression) extends StaticKernel(
  "graft_spans", Seq(string, int), ArrayType(StringType, containsNull = false),
  TextShingling, "spans")

/** Native per-document SimHash — one narrow pass over the text instead
  * of the explode + 16/64-bit-sum groupBy the declarative form needs.
  * At corpus scale the difference is structural: the old shape
  * shuffles every WORD of the corpus into a per-doc aggregation; this
  * computes the signature next to the scan and shuffles nothing.
  *
  * Bit-exact with the aggregation it replaces (and with the DuckDB
  * oracles, which recompute from md5 hex):
  *  - 64-bit: word hash = first 16 md5 hex chars as a signed int64
  *    (`conv(substr(md5(w), 1, 16), 16, -10)`) = the first 8 digest
  *    bytes big-endian; signature bit j set iff Σ_words ±1 on
  *    (hash >>> j) & 1 is positive.
  *  - 16-bit: signature bit j set from the same signed vote on bit
  *    (j%4) of md5 hex DIGIT j/4 (digit 2i = high nibble of byte i).
  */
case class WordSimHash(text: Expression, bits: Expression) extends StaticKernel(
  "graft_simhash", Seq(string, int), LongType,
  TextShingling, "simhash")

/** Hashing-trick featurization (`graft_fhash(text, dim)`): the
  * text→vector bridge that needs no trained embedding model — one
  * narrow codegen'd pass per document emitting a signed `dim`-bucket
  * integer count vector (see [[TextShingling.featureHash]] for the
  * exact md5 bucket/sign derivation). The declarative equivalent
  * explodes every word of the corpus into a (doc, bucket) groupBy —
  * a corpus-sized shuffle; this computes the whole vector next to the
  * scan and shuffles nothing. Output feeds the SAME downstream stack
  * as real embeddings: cosine kNN, LSH, semantic dedup, IVF — with
  * exact integer dot products.
  */
case class FeatureHash(text: Expression, dim: Expression) extends StaticKernel(
  "graft_fhash", Seq(string, int),
  ArrayType(LongType, containsNull = false), TextShingling, "featureHash")

/** Per-document MinHash over a distinct-shingle array, in one narrow
  * codegen'd pass: the declarative form exploded every shingle of the
  * corpus into a 32-way min aggregation — a word-level shuffle before
  * banding even starts. Hashes are bit-identical to
  * `min(xxhash64(lit(seed), sh))` (`XXH64.hashInt(seed, 42)` chained
  * into `XXH64.hashUTF8String`, signed min), so stored signature
  * indexes and band keys are unchanged.
  *
  * `mode` selects the output: 0 = the `numHashes` signature mins;
  * 1 = the `numHashes/2` LSH band keys (`xxhash64(s_{2j}, s_{2j+1})`,
  * i.e. `XXH64.hashLong` chained from seed 42). Band keys come
  * straight from the kernel so callers never build 32 `element_at`
  * references to a DERIVED sig column — CollapseProject would inline
  * the kernel into every reference (the LSH planeBit lesson).
  * Null or empty input yields null (the exploded aggregation simply
  * had no row for such docs).
  */
case class MinHashAgg(set: Expression, numHashes: Expression, mode: Expression) extends StaticKernel(
  "graft_minhash", Seq(arrayOf(StringType), int, int),
  ArrayType(LongType, containsNull = false), TextShingling, "minhash")

/** Winnowing fingerprints — `graft_winnow(text, k, w)`.
  *
  * The MOSS local-fingerprinting scheme (Schleimer, Wilkerson, Aiken,
  * SIGMOD 2003): hash every consecutive word k-gram, slide a window of
  * `w` hashes over the sequence, and select each window's minimum
  * (RIGHTMOST occurrence on ties — robust winnowing, so a long run of
  * equal hashes re-selects at most once per window). The selected
  * (position, hash) set is a ~2/(w+1)-density document sketch with the
  * guarantee that any shared run of k+w-1 words between two documents
  * shares at least one fingerprint — cross-doc overlap detection
  * becomes an equi-join on fingerprint hashes instead of an all-pairs
  * scan.
  *
  * The gram hash is the first 12 hex digits of md5(gram), kept AS the
  * hex string: fixed-width lowercase hex compares identically to the
  * 48-bit value, and the DuckDB oracle replays every selection
  * byte-for-byte from the same digests. Returns
  * `array<struct<pos:int, h:string>>` with 1-based gram positions in
  * ascending order, or null when the text has fewer than k+w-1 words
  * (no complete window — the caller's drop condition).
  *
  * One narrow per-document kernel pass: an O(n) monotonic deque, no
  * shuffle, next to the scan — the 100 TB shape (the only shuffle in a
  * winnowing-based matcher is the fingerprint equi-join, whose size is
  * the sketch, not the corpus).
  */
case class WinnowFingerprints(text: Expression, k: Expression, w: Expression) extends StaticKernel(
  "graft_winnow", Seq(string, int, int),
  WinnowFingerprints.OutType, TextShingling, "winnow")

object WinnowFingerprints {
  val OutType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("pos", IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("h", StringType, nullable = false))),
    containsNull = false)
}

/** Content-defined chunk boundaries — `graft_cdc(text, w, d)`.
  *
  * The gear/Rabin family's position-independent core: word index i
  * ends a chunk when hash(w-gram ending at i) ≡ 0 mod d (expected
  * chunk length ≈ d words), plus the forced final end. Because each
  * cut decision depends only on the w words before it, an insertion
  * or deletion perturbs boundaries only until the gram stream
  * realigns (≤ w words) — the property that makes chunk-hash equality
  * find shared content ACROSS positions, where fixed-size chunking
  * (q74) loses alignment after any edit. Deliberately unbounded
  * (no min/max clamp): the clamped variants make every boundary
  * depend on the previous one (sequential state an oracle cannot
  * replay positionally); the unbounded cut set is what the DuckDB
  * gate replays hash-for-hash, and chunk-length concentration around
  * d is measured, not enforced.
  *
  * Returns `array<int>` of 0-based chunk-end word indices, ascending,
  * always ending with n-1; null text → null. The gram hash is the
  * same 48-bit md5 prefix as `graft_winnow`. One narrow codegen'd
  * pass next to the scan — the only shuffle in a CDC dedup is the
  * chunk-hash equi-join, sized by chunks, not the corpus.
  */
case class CdcCuts(text: Expression, w: Expression, d: Expression) extends StaticKernel(
  "graft_cdc", Seq(string, int, int),
  ArrayType(IntegerType, containsNull = false), TextShingling, "cdcCuts")

/** Byte-level content-defined chunk boundaries —
  * `graft_cdc_bytes(bin, w, d)`: the [[CdcCuts]] gear over a BINARY
  * column's raw bytes (media blobs, packed records — the reference's
  * binary-attribute pathway, `py_pkg/examples/4-machine-learning.py:49-109`,
  * treats binary columns as first-class). Offset i (0-based) ends a
  * chunk when the 48-bit md5 prefix of the w-byte window ending at i
  * ≡ 0 mod d, plus the forced final end — expected chunk ≈ d bytes,
  * boundaries realign within w bytes of an edit, so chunk-hash
  * equality finds shared byte regions across offsets and blobs (the
  * storage-dedup primitive at sub-file granularity). Returns
  * `array<int>` of 0-based chunk-end offsets; null/empty input →
  * null. One narrow codegen'd pass.
  */
case class CdcByteCuts(bin: Expression, w: Expression, d: Expression) extends StaticKernel(
  "graft_cdc_bytes", Seq(binary, int, int),
  ArrayType(IntegerType, containsNull = false), TextShingling, "cdcCutsBytes")

object TextExpressions {
  import graft.sql.FunctionTable.kernel

  /** The text kernels' SQL functions, declared once. */
  val functions: Seq[graft.sql.FunctionTable.Entry[Expression]] = Seq(
    kernel[WordShingles]("graft_shingles")(a => WordShingles(a(0), a(1))),
    kernel[WordSimHash]("graft_simhash")(a => WordSimHash(a(0), a(1))),
    kernel[MinHashAgg]("graft_minhash")(a => MinHashAgg(a(0), a(1), a(2))),
    kernel[WordSpans]("graft_spans")(a => WordSpans(a(0), a(1))),
    kernel[WordGrams]("graft_grams")(a => WordGrams(a(0), a(1))),
    kernel[WinnowFingerprints]("graft_winnow")(a => WinnowFingerprints(a(0), a(1), a(2))),
    kernel[CdcCuts]("graft_cdc")(a => CdcCuts(a(0), a(1), a(2))),
    kernel[CdcByteCuts]("graft_cdc_bytes")(a => CdcByteCuts(a(0), a(1), a(2))),
    kernel[FeatureHash]("graft_fhash")(a => FeatureHash(a(0), a(1))),
    kernel[CharWindows]("graft_char_windows")(a => CharWindows(a(0), a(1))),
    kernel[GramHashes]("graft_gram_hashes")(a => GramHashes(a(0), a(1), a(2))))

  /** Register the text kernels in the session's function registry
    * (idempotent), for the DataFrame API and SQL alike.
    */
  def register(spark: SparkSession): Unit = graft.sql.FunctionTable.register(spark, functions)
}
