package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Multi-pattern substring counting — `graft_ac_count(text, patterns)`.
  *
  * Aho–Corasick (CACM 1975): all patterns are compiled into one
  * goto/fail automaton and the text is scanned ONCE, emitting every
  * (possibly overlapping) occurrence of every pattern in
  * O(len + matches) — the blocklist-scrubbing / contamination-phrase
  * scan of a training-data pipeline. The alternative the reference
  * pattern replaces — one `instr`/regex pass per pattern — scans the
  * corpus |patterns| times; at a 100 TB corpus with a 10^4-phrase
  * blocklist that is four orders of magnitude more text touched. The
  * automaton is built once per distinct pattern set per JVM (keyed on
  * the delimited pattern string) and shared across threads; pattern
  * lists are blocklist-sized driver artifacts, never row data.
  *
  * `patterns` is a `\u0001`-delimited literal; the result is
  * `array<long>` of occurrence counts aligned with the pattern order
  * (char-level, overlapping occurrences counted — the standard AC
  * semantics a brute-force `substr(text, i, len(p)) = p` scan
  * replays position by position).
  */
case class AhoCorasickCounts(text: Expression, patterns: Expression) extends StaticKernel(
  "graft_ac_count", Seq(ArgType.string, ArgType.string),
  ArrayType(LongType, containsNull = false), AhoCorasick, "counts")

object AhoCorasick {
  val Delimiter = '\u0001'

  /** Compiled goto/fail/output automaton over a fixed pattern set. */
  final class Automaton(patterns: Array[String]) {
    require(patterns.nonEmpty && patterns.forall(_.nonEmpty),
      "graft_ac_count requires a non-empty list of non-empty patterns")
    val nPatterns: Int = patterns.length

    // trie construction: per-state char->state transition maps
    private val gotoMaps =
      scala.collection.mutable.ArrayBuffer(
        new java.util.HashMap[Character, Integer]())
    private val ownOut = scala.collection.mutable.ArrayBuffer[List[Int]](Nil)
    for ((p, pid) <- patterns.zipWithIndex) {
      var s = 0
      for (c <- p) {
        val next = gotoMaps(s).get(c)
        s = if (next != null) next.intValue()
        else {
          gotoMaps += new java.util.HashMap[Character, Integer]()
          ownOut += Nil
          gotoMaps(s).put(c, gotoMaps.size - 1)
          gotoMaps.size - 1
        }
      }
      ownOut(s) = pid :: ownOut(s)
    }

    private val nStates = gotoMaps.size
    private val fail = new Array[Int](nStates)
    // outClosure(s) = pattern ids ending at s, INCLUDING through the
    // fail chain — precomputed so the scan adds matches in O(1) amortized
    private val outClosure = new Array[Array[Int]](nStates)

    // BFS fail-link construction (root's children fail to root)
    locally {
      val queue = new java.util.ArrayDeque[Integer]()
      outClosure(0) = ownOut(0).toArray
      gotoMaps(0).forEach { (_, child) =>
        fail(child) = 0
        queue.add(child)
      }
      while (!queue.isEmpty) {
        val s = queue.poll().intValue()
        outClosure(s) = (ownOut(s) ++ outClosure(fail(s)).toList).toArray
        gotoMaps(s).forEach { (c, child) =>
          var f = fail(s)
          while (f != 0 && !gotoMaps(f).containsKey(c)) f = fail(f)
          val fc = gotoMaps(f).get(c)
          fail(child) =
            if (fc != null && fc.intValue() != child.intValue()) fc.intValue() else 0
          queue.add(child)
        }
      }
    }

    /** Occurrence counts per pattern over one text scan. */
    def count(text: String): Array[Long] = {
      val counts = new Array[Long](nPatterns)
      var s = 0
      var i = 0
      while (i < text.length) {
        val c = text.charAt(i)
        var next = gotoMaps(s).get(c)
        while (next == null && s != 0) {
          s = fail(s)
          next = gotoMaps(s).get(c)
        }
        if (next != null) s = next.intValue()
        val out = outClosure(s)
        var j = 0
        while (j < out.length) { counts(out(j)) += 1L; j += 1 }
        i += 1
      }
      counts
    }
  }

  // one automaton per distinct pattern set per JVM, shared by all
  // threads (construction is idempotent; the map is tiny — pattern
  // sets are query literals)
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Automaton]()

  def automaton(delimited: String): Automaton =
    cache.computeIfAbsent(delimited, { d =>
      // -1 keeps trailing empty segments: silently dropping an empty
      // pattern (doubled/trailing delimiter from a SQL caller) would
      // shift every later pattern's index and misalign the counts array
      val pats = d.split(Delimiter.toString, -1)
      require(pats.forall(_.nonEmpty),
        s"graft_ac_count: empty pattern segment in '$d' — counts would " +
          "be positionally misaligned with the caller's pattern list")
      new Automaton(pats)
    })

  def counts(text: UTF8String, delimitedPatterns: UTF8String): GenericArrayData = {
    val a = automaton(delimitedPatterns.toString)
    new GenericArrayData(a.count(text.toString).map(v => v: Any))
  }

  /** The multi-pattern counter's SQL function, declared once. */
  val functions: Seq[graft.sql.FunctionTable.Entry[Expression]] = Seq(
    graft.sql.FunctionTable.kernel[AhoCorasickCounts]("graft_ac_count")(
      a => AhoCorasickCounts(a(0), a(1))))

  def register(spark: SparkSession): Unit = graft.sql.FunctionTable.register(spark, functions)
}
