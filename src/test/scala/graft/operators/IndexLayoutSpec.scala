package graft.operators

import graft.SparkSpec

/** The bucketed standing-index layout's probe contract: every
  * key-restriction tier (literal IN-list ≤ MaxKeyPushdown, broadcast
  * left-semi ≤ SemiJoinMaxKeys, bucket-only above) returns exactly the
  * index rows whose key equals some batch key — value-identical across
  * tiers — and the cheaper-shape tiering itself is the measured
  * crossover of tools/inlist_crossover.md.
  */
class IndexLayoutSpec extends SparkSpec {

  import spark.implicits._

  test("prunedScan tiers are value-identical and pick the measured shape") {
    val dir = tempDir("graft_idxlayout_tiers")
    val idx = (0L until 20000L).map(i => (i, s"payload$i")).toDF("k", "p")
    IndexLayout.writeBucketed(idx, "k", dir, "overwrite")
    spark.conf.set(IndexLayout.PruneMinBytesKey, "0")
    try {
      def probe(nKeys: Int) = {
        val batch = (0 until nKeys).map(i => i.toLong * 7L).toDF("k")
        IndexLayout.prunedScan(spark, dir, "k", batch)
          .join(batch.distinct(), Seq("k")) // the consumer contract
          .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      }
      def expected(nKeys: Int) =
        (0 until nKeys).map(_ * 7L).filter(_ < 20000L)
          .map(k => (k, s"payload$k")).toSet
      // tier 1: IN-list (<= MaxKeyPushdown distinct keys)
      assert(probe(100) == expected(100))
      // tier 2: broadcast semi-join (> MaxKeyPushdown)
      val n2 = IndexLayout.MaxKeyPushdown + 500
      assert(probe(n2) == expected(n2))
      // the tier-2 plan really is a left-semi broadcast, not a
      // key-literal filter over thousands of entries
      val bigBatch = (0 until n2).map(i => i.toLong * 7L).toDF("k")
      val plan = IndexLayout.prunedScan(spark, dir, "k", bigBatch)
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
        plan)
      // and bucket pruning reached the scan in both tiers
      assert("""PartitionFilters: \[[^\]]*bucket""".r.findFirstIn(plan)
        .isDefined, plan)
    } finally spark.conf.unset(IndexLayout.PruneMinBytesKey)
  }

  test("configurable bucket count: B is a property of the tree, not the session") {
    // the production sizing rule (B ≈ index_bytes / 128 MB) made
    // usable: overwrite writes take the session conf and persist B in
    // the tree's meta; appends and probes always use the TREE's B —
    // a key's bucket must never depend on who is asking. The same
    // holds for every bucketed writer: the generic layout, the banded
    // hash index (band=j/bucket=i) and the versioned eval-set window
    // index (v0/eval_set_id=s/bucket=i).
    val kv = (from: Long, until: Long) =>
      (from until until).map(i => (i, i * 3L)).toDF("k", "v")
    val sigs = (from: Long, until: Long) =>
      (from until until).map(i => (i, i * 0x9E3779B97F4A7C15L)).toDF("doc_id", "simhash")
    val bench = (from: Long, until: Long) => (from until until)
      .map(i => (1, i, (0 until 12).map(j => s"w${i}x$j").mkString(" ")))
      .toDF("eval_set_id", "doc_id", "text")
    // (input, overwrite build, append, the tree directory holding B)
    val inputs: Seq[(String, String => Unit, String => Unit, String => String)] = Seq(
      ("writeBucketed",
        IndexLayout.writeBucketed(kv(0L, 5000L), "k", _, "overwrite"),
        IndexLayout.writeBucketed(kv(5000L, 6000L), "k", _, "append"),
        identity),
      ("hash index",
        TextDedup.writeHashIndex(sigs(0L, 2000L), _),
        TextDedup.appendToHashIndex(sigs(2000L, 2500L), _),
        identity),
      ("substring index sets",
        TextDedup.writeSubstringIndexSets(bench(0L, 100L), _),
        TextDedup.appendToSubstringIndexSets(bench(100L, 120L), 1, _),
        d => s"$d/v0"))
    val dirs = for ((name, build, append, treeOf) <- inputs) yield {
      val dir = tempDir("graft_idxlayout_b64")
      val tree = treeOf(dir)
      spark.conf.set(IndexLayout.NumBucketsKey, "64")
      try {
        build(dir)
        assert(IndexLayout.indexNumBuckets(spark, tree) == 64, name)
        def bucketDirs(f: java.io.File): Seq[String] = f.listFiles().toSeq
          .filter(_.isDirectory).flatMap(d =>
            if (d.getName.startsWith("bucket=")) Seq(d.getName) else bucketDirs(d))
        val buckets = bucketDirs(new java.io.File(tree)).toSet
        assert(buckets.size > IndexLayout.NumBuckets && buckets.size <= 64,
          s"$name: ${buckets.size}")
        // an append from a session with a DIFFERENT conf still lands in
        // the tree's 64-bucket geometry — and does NOT touch the meta
        // file at all (appends read B, they don't choose it; rewriting
        // even the same value per ingest batch is a pointless failure
        // surface, and mtime pins that no rewrite happens)
        val meta = new java.io.File(tree, "_graft_index_meta.json")
        val metaStamp = meta.lastModified()
        spark.conf.set(IndexLayout.NumBucketsKey, "4")
        append(dir)
        assert(IndexLayout.indexNumBuckets(spark, tree) == 64, name)
        assert(meta.lastModified() == metaStamp, name)
        assert(bucketDirs(new java.io.File(tree)).forall(b =>
          b.stripPrefix("bucket=").toInt < 64), name)
      } finally spark.conf.unset(IndexLayout.NumBucketsKey)
      dir
    }
    // probe correctness under forced pruning at the tree's B
    spark.conf.set(IndexLayout.PruneMinBytesKey, "0")
    try {
      val batch = Seq(10L, 4999L, 5500L, 123456L).toDF("k")
      val got = IndexLayout.prunedScan(spark, dirs.head, "k", batch)
        .join(batch, Seq("k")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((10L, 30L), (4999L, 14997L), (5500L, 16500L)), got)
      // the banded probe finds a historical and an appended signature
      val probe = sigs(0L, 2500L).filter($"doc_id".isin(7L, 2222L))
        .select(($"doc_id" + 10000L).as("doc_id"), $"simhash")
      val hits = TextDedup.nearDupsAgainstHashIndex(probe, dirs(1))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(hits == Seq((10007L, 7L), (12222L, 2222L)), hits)
    } finally spark.conf.unset(IndexLayout.PruneMinBytesKey)
  }

  test("missing meta: wide trees fail loudly, default-width trees stay legacy") {
    // a B=64 tree whose meta is lost (crash between data and meta
    // write, partial copy) must NOT silently read as B=16 — the next
    // append would mis-bucket every key and probes would silently
    // drop matches on the mixed tree (r17 verdict #3 / advice)
    val dir = tempDir("graft_idxlayout_meta_lost")
    spark.conf.set(IndexLayout.NumBucketsKey, "64")
    try IndexLayout.writeBucketed(
      (0L until 5000L).map(i => (i, i)).toDF("k", "v"), "k", dir, "overwrite")
    finally spark.conf.unset(IndexLayout.NumBucketsKey)
    assert(IndexLayout.indexNumBuckets(spark, dir) == 64)
    assert(new java.io.File(dir, "_graft_index_meta.json").delete())
    val e = intercept[IllegalStateException](
      IndexLayout.indexNumBuckets(spark, dir))
    assert(e.getMessage.contains("Rebuild"), e.getMessage)
    // appends and pruned probes go through the same read → loud too
    intercept[IllegalStateException](IndexLayout.writeBucketed(
      (5000L until 5100L).map(i => (i, i)).toDF("k", "v"), "k", dir, "append"))
    // a DEFAULT-width tree with no meta is every pre-knob tree: its
    // bucket dirs stay under 16, so it keeps reading as B=16
    val dir16 = tempDir("graft_idxlayout_meta_legacy")
    IndexLayout.writeBucketed(
      (0L until 1000L).map(i => (i, i)).toDF("k", "v"), "k", dir16, "overwrite")
    assert(new java.io.File(dir16, "_graft_index_meta.json").delete())
    assert(IndexLayout.indexNumBuckets(spark, dir16) == IndexLayout.NumBuckets)
  }

  test("missing meta: the guard sees bucket directories under a partition level") {
    // TextDedup's hash index is band=j/bucket=i: a B=64 tree with its
    // meta lost must fail like a flat one, not read as B=16
    val dir = tempDir("graft_idxlayout_meta_banded")
    spark.conf.set(IndexLayout.NumBucketsKey, "64")
    try TextDedup.writeHashIndex(
      (0L until 3000L).map(i => (i, i * 0x9E3779B97F4A7C15L)).toDF("doc_id", "simhash"), dir)
    finally spark.conf.unset(IndexLayout.NumBucketsKey)
    assert(IndexLayout.indexNumBuckets(spark, dir) == 64)
    assert(new java.io.File(dir, "_graft_index_meta.json").delete())
    assert(!new java.io.File(dir).list().exists(_.startsWith("bucket=")))
    val e = intercept[IllegalStateException](IndexLayout.indexNumBuckets(spark, dir))
    assert(e.getMessage.contains("Rebuild"), e.getMessage)
  }

  test("semi-join tier is byte-bounded: oversized key bytes fall back to bucket-only") {
    // SemiJoinMaxKeys bounds ROWS; wide string keys could still build
    // a driver-hostile broadcast (r17 advice). Over the byte bound the
    // scan falls back to bucket-only pruning — value-identical for
    // every consumer (they re-join on the key), just unpushed.
    val dir = tempDir("graft_idxlayout_bytes")
    val idx = (0L until 20000L).map(i => (s"key_${"x" * 30}_$i", i))
      .toDF("k", "p")
    IndexLayout.writeBucketed(idx, "k", dir, "overwrite")
    spark.conf.set(IndexLayout.PruneMinBytesKey, "0")
    try {
      val n = IndexLayout.MaxKeyPushdown + 500 // above the IN-list tier
      val batch = (0 until n).map(i => s"key_${"x" * 30}_${i * 7}").toDF("k")
      def scan() = IndexLayout.prunedScan(spark, dir, "k", batch)
      val expected = (0 until n).map(_ * 7L).filter(_ < 20000L)
        .map(i => (s"key_${"x" * 30}_$i", i)).toSet
      def got(df: org.apache.spark.sql.DataFrame) =
        df.join(batch.distinct(), Seq("k")).collect()
          .map(r => (r.getString(0), r.getLong(1))).toSet
      // within the byte bound: the broadcast semi tier
      assert(scan().queryExecution.executedPlan.toString
        .contains("LeftSemi"))
      assert(got(scan()) == expected)
      // over the byte bound: bucket-only, same values
      spark.conf.set(IndexLayout.SemiJoinMaxBytesKey, "1024")
      assert(!scan().queryExecution.executedPlan.toString
        .contains("LeftSemi"))
      assert(got(scan()) == expected)
    } finally {
      spark.conf.unset(IndexLayout.PruneMinBytesKey)
      spark.conf.unset(IndexLayout.SemiJoinMaxBytesKey)
    }
  }

  test("version pointer: flip is atomic-rename, resolve falls back to the flat root") {
    val dir = tempDir("graft_idxlayout_versions")
    // no pointer: version 0, resolve = the root itself (legacy trees)
    assert(IndexLayout.currentVersion(spark, dir) == 0)
    assert(IndexLayout.resolveVersionDir(spark, dir) == dir)
    IndexLayout.flipVersion(spark, dir, 0)
    assert(IndexLayout.resolveVersionDir(spark, dir) == s"$dir/v0")
    IndexLayout.flipVersion(spark, dir, 1)
    assert(IndexLayout.currentVersion(spark, dir) == 1)
    assert(IndexLayout.resolveVersionDir(spark, dir) == s"$dir/v1")
    // no temp file left behind
    assert(!new java.io.File(dir, "_current.tmp").exists())
  }

  test("prunedScan casts batch keys to the index key type before bucketing") {
    // xxhash64 is type-sensitive: an INT batch key against a LONG
    // index key would bucket differently and silently drop every
    // match without the cast (r16 advice)
    val dir = tempDir("graft_idxlayout_cast")
    val idx = (0L until 1000L).map(i => (i, i * 2L)).toDF("k", "v")
    IndexLayout.writeBucketed(idx, "k", dir, "overwrite")
    spark.conf.set(IndexLayout.PruneMinBytesKey, "0")
    try {
      val batch = (0 until 50).map(_ * 3).toDF("k") // INT keys
      val got = IndexLayout.prunedScan(spark, dir, "k", batch)
        .collect().map(_.getLong(0)).toSet
      assert((0 until 50).map(_ * 3L).toSet.subsetOf(got), got.toString)
    } finally spark.conf.unset(IndexLayout.PruneMinBytesKey)
  }
}
