package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkSpec

class TsvErrorSourceSpec extends SparkSpec {
  import spark.implicits._

  test("declared-arity TSV load with malformed-row capture") {
    val dir = tempDir("graft_tsv")
    Files.writeString(Paths.get(dir, "part1.tsv"),
      "1\talpha\tx\n2\tbeta\ty\nbadline\n3\tgamma\tz\ttoomany\n")
    Files.writeString(Paths.get(dir, "part2.tsv"),
      "4\tdelta\tw\n")
    val df = spark.read.format("graft.sources.TsvErrorSource")
      .option("numAttributes", "3")
      .load(dir)
    assert(df.columns.toSeq == Seq("a0", "a1", "a2", "error"))
    assert(df.count() == 5)
    val good = df.filter($"error".isNull)
    assert(good.count() == 3)
    assert(good.select($"a1").as[String].collect().toSet == Set("alpha", "beta", "delta"))
    val bad = df.filter($"error".isNotNull).select($"error").as[String].collect().toSet
    assert(bad == Set("badline", "3\tgamma\tz\ttoomany"))
    // two files -> two partitions (instance-parallel load)
    assert(df.rdd.getNumPartitions == 2)
  }

  test("regex-special delimiter is treated literally") {
    // '|' is regex alternation: a regex-based split would explode every
    // line into per-character fields and flag every row as an error
    val dir = tempDir("graft_pipe")
    Files.writeString(Paths.get(dir, "f.psv"), "a|b|\nc|d|e\n")
    val df = spark.read.format("graft.sources.TsvErrorSource")
      .option("numAttributes", "3").option("delimiter", "|")
      .load(dir)
    val rows = df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
    // trailing empty field must keep its column slot (split limit -1)
    assert(rows.toSet == Set(("a", "b", "", null), ("c", "d", "e", null)))
  }

  test("byte-range splits partition a large file without losing or duplicating lines") {
    val dir = tempDir("graft_split")
    // variable-length lines so split boundaries land mid-line, at line
    // starts, and inside multi-byte UTF-8 (é is 2 bytes)
    val lines = (0 until 500).map(i => s"$i\tvalué${"x" * (i % 13)}\tz")
    Files.writeString(Paths.get(dir, "big.tsv"), lines.mkString("", "\n", "\n"))
    def load(maxSplit: Option[Long]) = {
      val r = spark.read.format("graft.sources.TsvErrorSource")
        .option("numAttributes", "3")
      maxSplit.foreach(m => r.option("maxSplitBytes", m.toString))
      r.load(dir)
    }
    val whole = load(None)
    assert(whole.rdd.getNumPartitions == 1)
    for (split <- Seq(64L, 97L, 1000L)) {
      val df = load(Some(split))
      assert(df.rdd.getNumPartitions > 1, s"split=$split")
      assert(df.filter($"error".isNotNull).count() == 0, s"split=$split")
      // exact multiset equality with the unsplit read
      val got = df.select($"a0", $"a1").as[(String, String)].collect().sortBy(_._1.toInt)
      val want = whole.select($"a0", $"a1").as[(String, String)].collect().sortBy(_._1.toInt)
      assert(got.toSeq == want.toSeq, s"split=$split")
      assert(got.length == 500, s"split=$split")
    }
  }

  test("a split boundary exactly on a line start assigns the line once") {
    val dir = tempDir("graft_edge")
    // every line is exactly 8 bytes ("aaaaaa1\n"), so maxSplitBytes=8
    // puts every boundary precisely at a line start
    val lines = (0 until 32).map(i => f"line$i%03d")
    Files.writeString(Paths.get(dir, "fixed.tsv"), lines.mkString("", "\n", "\n"))
    val df = spark.read.format("graft.sources.TsvErrorSource")
      .option("numAttributes", "1").option("maxSplitBytes", "8")
      .load(dir)
    assert(df.rdd.getNumPartitions == 32)
    assert(df.select($"a0").as[String].collect().sorted.toSeq == lines.sorted)
  }

  test("multi-path load, globs, and hidden-file exclusion") {
    val dir = tempDir("graft_multi")
    Files.writeString(Paths.get(dir, "a.tsv"), "1\tx\n")
    Files.writeString(Paths.get(dir, "b.tsv"), "2\ty\n")
    Files.writeString(Paths.get(dir, ".hidden.tsv"), "9\tz\n")
    Files.writeString(Paths.get(dir, "_temp.tsv"), "9\tz\n")
    def read(paths: String*) = {
      val r = spark.read.format("graft.sources.TsvErrorSource")
        .option("numAttributes", "2")
      r.load(paths: _*)
    }
    // DataFrameReader.load(p1, p2) ships `paths` as a JSON array
    val two = read(s"$dir/a.tsv", s"$dir/b.tsv")
    assert(two.select($"a0").as[String].collect().sorted.toSeq == Seq("1", "2"))
    // glob expansion skips hidden files
    val glob = read(s"$dir/*.tsv")
    assert(glob.select($"a0").as[String].collect().sorted.toSeq == Seq("1", "2"))
    // directory listing skips _ and . files
    val all = read(dir)
    assert(all.select($"a0").as[String].collect().sorted.toSeq == Seq("1", "2"))
  }

  test("option keys are case-insensitive") {
    val dir = tempDir("graft_ci")
    Files.writeString(Paths.get(dir, "f.tsv"),
      (0 until 64).map(i => s"$i\tv").mkString("", "\n", "\n"))
    val df = spark.read.format("graft.sources.TsvErrorSource")
      .option("NUMATTRIBUTES", "2").option("maxsplitbytes", "64")
      .load(dir)
    assert(df.columns.toSeq == Seq("a0", "a1", "error"))
    assert(df.rdd.getNumPartitions > 1) // the lowercased split option applied
    assert(df.count() == 64)
  }

  test("custom delimiter") {
    val dir = tempDir("graft_csv")
    Files.writeString(Paths.get(dir, "f.csv"), "a,b\nc,d\n")
    val df = spark.read.format("graft.sources.TsvErrorSource")
      .option("numAttributes", "2").option("delimiter", ",")
      .load(dir)
    assert(df.filter($"error".isNull).count() == 2)
    assert(df.select($"a0").as[String].collect().toSet == Set("a", "c"))
  }
}
