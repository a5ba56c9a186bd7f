package graft.sql

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}
import graft.operators.Stream

/** SQL surface: graft functions callable from spark.sql, full SQL
  * workflows over registered views, and the SQL→pipe bridge.
  */
class GraftSqlSpec extends SparkSpec {
  import spark.implicits._

  test("graft_dot and graft_cosine work from SQL") {
    GraftExtensions.register(spark)
    val d = spark.sql(
      "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d").head().getDouble(0)
    assert(d == 11.0)
    val c = spark.sql(
      "SELECT graft_cosine(array(2.0D, 0.0D), array(5.0D, 0.0D)) AS c").head().getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("round-7 vector kernels work from SQL") {
    GraftExtensions.register(spark)
    // argmax over a 2-row literal matrix: (2,0) is exactly bench 10
    val am = spark.sql(
      "SELECT graft_argmax_cos(array(2.0D, 0.0D), array(10L, 20L), " +
        "array(1.0D, 0.0D, 0.0D, 1.0D)) AS m").select("m.bench_id", "m.cos").head()
    assert(am.getLong(0) == 10L && am.getDouble(1) == 1.0)
    val qz = spark.sql(
      "SELECT graft_quantize8(array(0.0D, 127.0D)) AS m")
      .select("m.scale", "m.q").head()
    assert(qz.getDouble(0) == 1.0 &&
      qz.getAs[Array[Byte]](1).toSeq == Seq[Byte](0, 127))
    val d8 = spark.sql(
      "SELECT graft_dot8(graft_quantize8(array(0.0D, 127.0D)).q, " +
        "graft_quantize8(array(0.0D, 127.0D)).q) AS d").head().getLong(0)
    assert(d8 == 127L * 127)
  }

  test("graft_grams multiset k-grams work from SQL") {
    GraftExtensions.register(spark)
    val g = spark.sql(
      "SELECT graft_grams('a b a b c', 2) AS g").head().getSeq[String](0)
    // multiset: "a b" appears twice (positions 0 and 2)
    assert(g.sorted == Seq("a b", "a b", "b a", "b c"))
    val uni = spark.sql(
      "SELECT graft_grams('x y', 1) AS g").head().getSeq[String](0)
    assert(uni == Seq("x", "y"))
  }

  test("graft_winnow and graft_ac_count work from SQL") {
    GraftExtensions.register(spark)
    // winnow: k=1, w=2 over "b a c" — gram hashes are md5 prefixes of
    // the words; each 2-window's min is selected
    val fps = spark.sql(
      "SELECT graft_winnow('b a c', 1, 2) AS f").head()
      .getSeq[org.apache.spark.sql.Row](0)
    assert(fps.nonEmpty && fps.forall(_.getString(1).length == 12))
    assert(fps.map(_.getInt(0)) == fps.map(_.getInt(0)).sorted)
    // short text: null
    assert(spark.sql("SELECT graft_winnow('a', 4, 5) AS f").head().isNullAt(0))
    // AC counts: overlapping occurrences, pattern order preserved
    val ac = spark.sql(
      "SELECT graft_ac_count('a a a', concat('a a', char(1), 'b')) AS c")
      .head().getSeq[Long](0)
    assert(ac == Seq(2L, 0L))
  }

  test("GRFT media functions work from plain SQL") {
    GraftExtensions.register(spark)
    val blob = graft.operators.Multimodal.pack(4, 2, 1, 0,
      Array.tabulate[Byte](8)(_.toByte))
    Seq(Tuple1(blob)).toDF("b").createOrReplaceTempView("media")
    val m = spark.sql(
      "SELECT graft_meta(b).width w, graft_meta(b).valid v, " +
        "graft_stats(b).payload_bytes n, graft_resize(b, 2, 1) r, " +
        "size(graft_frames(b, 2, 1)) nf FROM media").head()
    assert(m.getInt(0) == 4 && m.getBoolean(1))
    assert(m.getLong(2) == 8L)
    assert(m.getAs[Array[Byte]](3) != null)
    assert(m.getInt(4) == 4) // 8-byte payload / frame_size 2 = 4 frames
  }

  test("full SQL query over registered test tables") {
    Tables.registerAll(spark, sf)
    val got = spark.sql(
      """SELECT n_name, count(*) AS n
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin).count()
    assert(got > 0)
  }

  test("SQL view pipes through the stream operator via tsvSql") {
    spark.range(0, 20).select($"id").createOrReplaceTempView("pipe_in")
    val awkEcho =
      """awk -W interactive 'BEGIN{n=-1}
        |{ if (n<0) { n=$0+0; if (n==0) { print 0; fflush(); exit }; print n }
        |  else     { print $0; if (--n==0) { fflush(); n=-1 } } }'"""
        .stripMargin.replace("\n", " ")
    val out = Stream.tsvSql(spark, "pipe_in", awkEcho)
    val n = out.select(explode(split($"response", "\n"))).count()
    assert(n == 20)
  }

  test("graft_stream_tsv table function pipes a view from plain SQL") {
    GraftExtensions.register(spark)
    spark.range(0, 15).select($"id").createOrReplaceTempView("tvf_in")
    val awkEcho =
      """awk -W interactive 'BEGIN{n=-1}
        |{ if (n<0) { n=$0+0; if (n==0) { print 0; fflush(); exit }; print n }
        |  else     { print $0; if (--n==0) { fflush(); n=-1 } } }'"""
        .stripMargin.replace("\n", " ")
    val out = spark.sql(
      s"SELECT * FROM graft_stream_tsv('tvf_in', '${awkEcho.replace("'", "\\'")}')")
    assert(out.columns.toSeq == Seq("instance_id", "chunk_no", "response"))
    val n = out.select(explode(split(col("response"), "\n"))).count()
    assert(n == 15)
    // optional chunk_size literal (reference chunk_size: keyword): one
    // partition of 15 rows in chunks of 4 -> 4 response messages
    spark.range(0, 15).coalesce(1).select($"id").createOrReplaceTempView("tvf_in1")
    val chunked = spark.sql(
      s"SELECT * FROM graft_stream_tsv('tvf_in1', '${awkEcho.replace("'", "\\'")}', '4')")
    assert(chunked.count() == 4)
  }

  test("graft_fuzzy_pairs table function equals the operator API") {
    GraftExtensions.register(spark)
    Tables.registerAll(spark, sf)
    val api = graft.operators.FuzzyMatch
      .editDistance1Pairs(Tables.load(spark, sf, "customer"), "c_custkey", "c_name")
      .orderBy("id_a", "id_b").collect().toSeq
    val tvf = spark.sql(
      "SELECT * FROM graft_fuzzy_pairs('customer', 'c_custkey', 'c_name') " +
        "ORDER BY id_a, id_b").collect().toSeq
    assert(api.nonEmpty && tvf == api)
    // the optional cap literal must reach the operator
    val capped = spark.sql(
      "SELECT * FROM graft_fuzzy_pairs('customer', 'c_custkey', 'c_name', '1')").count()
    assert(capped <= api.size)
  }

  test("graft_bloom_prefilter table function equals the operator API") {
    GraftExtensions.register(spark)
    Tables.registerAll(spark, sf)
    val orders = Tables.load(spark, sf, "orders")
    val small = Tables.load(spark, sf, "customer")
      .select($"c_custkey").orderBy($"c_custkey").limit(40)
    small.createOrReplaceTempView("bloom_keys")
    val api = graft.operators.Bloom
      .prefilter(orders, orders("o_custkey"), small, small("c_custkey"), 1 << 16, 3)
      .select($"o_orderkey").as[Long].collect().sorted.toSeq
    val tvf = spark.sql(
      "SELECT o_orderkey FROM graft_bloom_prefilter(" +
        "'orders', 'o_custkey', 'bloom_keys', 'c_custkey', '65536', '3')")
      .as[Long].collect().sorted.toSeq
    assert(api.nonEmpty && tvf == api)
  }

  test("graft_zorder table function equals the operator API") {
    GraftExtensions.register(spark)
    Tables.registerAll(spark, sf)
    val api = spark.sql("SELECT * FROM graft_zorder('part', 'p_size,p_partkey', '4')")
    // layout op: same rows, clustered order; spot-check the clustering
    // really happened (first partition's z-range disjoint from last's)
    val base = Tables.load(spark, sf, "part")
    assert(api.count() == base.count())
    assert(api.select(sum($"p_partkey")).head().getLong(0) ==
      base.select(sum($"p_partkey")).head().getLong(0))
    val z = graft.operators.Layout.zvalue(api("p_size"), api("p_partkey"))
    val parts = api.select(spark_partition_id().as("p"), z.as("z"))
      .groupBy($"p").agg(min($"z").as("lo"), max($"z").as("hi"))
      .orderBy($"p").as[(Int, Long, Long)].collect()
    parts.sliding(2).foreach {
      case Array((_, _, hi1), (_, lo2, _)) => assert(hi1 <= lo2)
      case _ => ()
    }
  }

  test("graft_dsir table function equals the operator API") {
    GraftExtensions.register(spark)
    Tables.registerAll(spark, sf)
    val docs = Tables.load(spark, sf, "documents")
    docs.filter($"source" =!= "src0").createOrReplaceTempView("dsir_raw")
    docs.filter($"source" === "src0").createOrReplaceTempView("dsir_target")
    val api = graft.operators.Dsir.importanceWeights(
        spark.table("dsir_raw"), spark.table("dsir_target"), buckets = 4096)
      .orderBy($"doc_id").collect().toSeq
    val tvf = spark.sql(
      "SELECT * FROM graft_dsir('dsir_raw', 'dsir_target', 'doc_id', 'text', '4096') " +
        "ORDER BY doc_id").collect().toSeq
    assert(api.nonEmpty && tvf == api)
    // default-argument form runs too
    assert(spark.sql(
      "SELECT * FROM graft_dsir('dsir_raw', 'dsir_target')").count() == api.size)
  }

  test("graft_semantic_dedup and graft_prototypes table functions equal the operator API") {
    GraftExtensions.register(spark)
    Tables.registerAll(spark, sf)
    val emb = Tables.load(spark, sf, "embeddings")
    val api = graft.operators.Similarity.semanticDedup(
        emb, Seq(0L, 1L), threshold = 0.9, iters = 0)
      .orderBy($"vec_id").collect().toSeq
    val tvf = spark.sql(
      "SELECT * FROM graft_semantic_dedup('embeddings', '0,1', '0.9') " +
        "ORDER BY vec_id").collect().toSeq
    assert(api.nonEmpty && tvf == api)
    val papi = graft.operators.Similarity.prototypicality(emb, Seq(0L, 1L), iters = 1)
      .orderBy($"vec_id").collect().toSeq
    val ptvf = spark.sql(
      "SELECT * FROM graft_prototypes('embeddings', '0,1', '1') " +
        "ORDER BY vec_id").collect().toSeq
    assert(papi.nonEmpty && ptvf == papi)
  }

  test("graft_kcenter and graft_pq table functions equal the operator API") {
    GraftExtensions.register(spark)
    Tables.registerAll(spark, sf)
    val emb = Tables.load(spark, sf, "embeddings")
    val kapi = graft.operators.Similarity.kCenterSelect(emb, k = 4, startId = 0L)
      .orderBy($"round").collect().toSeq
    val ktvf = spark.sql(
      "SELECT * FROM graft_kcenter('embeddings', '4') ORDER BY round")
      .collect().toSeq
    assert(kapi.nonEmpty && ktvf == kapi)
    val papi = graft.operators.Similarity.pqEncodeAdc(emb, m = 4, kCode = 8,
        queryVecId = 0L)
      .orderBy($"vec_id").collect().toSeq
    val ptvf = spark.sql(
      "SELECT * FROM graft_pq('embeddings', '4', '8', '0') ORDER BY vec_id")
      .collect().toSeq
    assert(papi.nonEmpty && ptvf == papi)
  }

  test("graft_winnow_stats, graft_ppl_buckets and graft_token_budget equal the operator API") {
    GraftExtensions.register(spark)
    Tables.registerAll(spark, sf)
    val docs = Tables.load(spark, sf, "documents")
    val wapi = graft.operators.TextDedup.winnowMatchStats(docs, k = 4, w = 5)
      .orderBy($"doc_id", $"pos").collect().toSeq
    val wtvf = spark.sql(
      "SELECT * FROM graft_winnow_stats('documents') ORDER BY doc_id, pos")
      .collect().toSeq
    assert(wapi.nonEmpty && wtvf == wapi)
    val bapi = graft.operators.NgramLm.perplexityBuckets(docs, "doc_id", "text")
      .orderBy($"doc_id").collect().toSeq
    val btvf = spark.sql(
      "SELECT * FROM graft_ppl_buckets('documents') ORDER BY doc_id")
      .collect().toSeq
    assert(bapi.nonEmpty && btvf == bapi)
    val scored = graft.operators.NgramLm.scoreDocs(docs, "doc_id", "text", 2L)
      .select($"doc_id", $"lm_mean", ($"n_bigrams" + 1L).as("n_tokens"))
    scored.createOrReplaceTempView("tb_scored")
    val tapi = graft.operators.Sampling.tokenBudgetSelect(scored,
        "doc_id", "lm_mean", "n_tokens", 6L, 10L)
      .orderBy($"doc_id").collect().toSeq
    val ttvf = spark.sql(
      "SELECT * FROM graft_token_budget('tb_scored', 'doc_id', 'lm_mean', " +
        "'n_tokens', '6', '10') ORDER BY doc_id").collect().toSeq
    assert(tapi.nonEmpty && ttvf == tapi)
  }

  test("graft_novelty, graft_dedup_index and graft_kmeans equal the operator API") {
    GraftExtensions.register(spark)
    Tables.registerAll(spark, sf)
    val docs = Tables.load(spark, sf, "documents")
    val napi = graft.operators.TextAnalysis.noveltyStats(docs)
      .orderBy($"doc_id").collect().toSeq
    val ntvf = spark.sql(
      "SELECT * FROM graft_novelty('documents') ORDER BY doc_id")
      .collect().toSeq
    assert(napi.nonEmpty && ntvf == napi)
    val idx = tempDir("graft_sql_dedup_idx")
    graft.operators.TextDedup.writeSignatureIndex(
      docs.filter($"doc_id" < 250), idx)
    val batch = docs.filter($"doc_id" >= 250)
    batch.createOrReplaceTempView("new_batch")
    val dapi = graft.operators.TextDedup.nearDupsAgainstIndex(batch, idx, 0.5)
      .collect().toSeq
    val dtvf = spark.sql(
      s"SELECT * FROM graft_dedup_index('new_batch', '$idx', '0.5')")
      .collect().toSeq
    assert(dapi.nonEmpty && dtvf == dapi)
    val emb = Tables.load(spark, sf, "embeddings")
    val kapi = graft.operators.Similarity.kmeansIntRounds(emb, 4, 2)
      .orderBy($"vec_id").collect().toSeq
    val ktvf = spark.sql(
      "SELECT * FROM graft_kmeans('embeddings', '4', '2') ORDER BY vec_id")
      .collect().toSeq
    assert(kapi.nonEmpty && ktvf == kapi)
  }

  test("graft_kmeans TVF state releases per session without evicting user caches") {
    GraftExtensions.register(spark)
    Tables.registerAll(spark, sf)
    import org.apache.spark.storage.StorageLevel
    val user = Tables.load(spark, sf, "nation").cache()
    user.count()
    val before = spark.sparkContext.getPersistentRDDs.size
    val tvf = spark.sql(
      "SELECT * FROM graft_kmeans('embeddings', '4', '1') ORDER BY vec_id")
    tvf.collect()
    assert(spark.sparkContext.getPersistentRDDs.size > before,
      "the TVF's evaluation-barrier persist must be live after the query")
    // surgical release: only the TVF's tracked frame goes; the user
    // cache survives (the clearCache hammer would have evicted it)
    Tables.releaseTrackedCaches(spark)
    assert(spark.sparkContext.getPersistentRDDs.size <= before,
      "tracked TVF frames must be unpersisted by releaseTrackedCaches")
    assert(user.storageLevel != StorageLevel.NONE,
      "user caches must survive the tracked release")
    user.unpersist(blocking = false)
  }

  test("graft_cdc_chunks and graft_media_dedup_index equal the operator API") {
    GraftExtensions.register(spark)
    Tables.registerAll(spark, sf)
    val docs = Tables.load(spark, sf, "documents")
    val capi = graft.operators.TextDedup.cdcChunkStats(docs, w = 4, d = 16)
      .orderBy($"doc_id", $"chunk_idx").collect().toSeq
    val ctvf = spark.sql(
      "SELECT * FROM graft_cdc_chunks('documents', '4', '16') " +
        "ORDER BY doc_id, chunk_idx").collect().toSeq
    assert(capi.nonEmpty && ctvf == capi)
    // media index probe: simhash view + persisted index, capped
    val sigs = graft.operators.TextDedup.simhash64(docs)
    val idx = tempDir("graft_sql_media_idx")
    graft.operators.TextDedup.writeHashIndex(
      sigs.filter($"doc_id" < 250), idx)
    val batch = sigs.filter($"doc_id" >= 250)
    batch.createOrReplaceTempView("media_batch")
    val mapi = graft.operators.TextDedup
      .nearDupsAgainstHashIndex(batch, idx, 3, Some(2L)).collect().toSeq
    val mtvf = spark.sql(
      s"SELECT * FROM graft_media_dedup_index('media_batch', '$idx', '3', '2')")
      .collect().toSeq
    assert(mtvf == mapi)
  }

  test("graft_cdc_probe and graft_cdc_manifest equal the operator API") {
    GraftExtensions.register(spark)
    Tables.registerAll(spark, sf)
    val docs = Tables.load(spark, sf, "documents")
    val idx = tempDir("graft_sql_cdc_idx")
    graft.operators.TextDedup.writeChunkIndex(
      docs.filter($"doc_id" < 250), idx, w = 4, d = 16)
    val batch = docs.filter($"doc_id" >= 250)
    batch.createOrReplaceTempView("cdc_batch")
    val papi = graft.operators.TextDedup
      .cdcProbeAgainstChunkIndex(batch, idx, w = 4, d = 16)
      .orderBy($"doc_id", $"chunk_idx").collect().toSeq
    val ptvf = spark.sql(
      s"SELECT * FROM graft_cdc_probe('cdc_batch', '$idx', '4', '16') " +
        "ORDER BY doc_id, chunk_idx").collect().toSeq
    assert(papi.nonEmpty && ptvf == papi)
    assert(papi.exists(_.getLong(6) > 0),
      "probe found no indexed chunks — vacuous fixture")
    val mapi2 = graft.operators.TextDedup
      .cdcKeepFirstManifest(docs, w = 4, d = 16)
      .orderBy($"doc_id", $"span_idx").collect().toSeq
    val mtvf2 = spark.sql(
      "SELECT * FROM graft_cdc_manifest('documents', '4', '16') " +
        "ORDER BY doc_id, span_idx").collect().toSeq
    assert(mapi2.nonEmpty && mtvf2 == mapi2)
  }

  test("graft_decontam_apply and graft_norm_dedup equal the operator API") {
    GraftExtensions.register(spark)
    Tables.registerAll(spark, sf)
    val docs = Tables.load(spark, sf, "documents")
    val train = docs.filter($"source" =!= "src0")
    val bench = docs.filter($"source" === "src0")
    train.createOrReplaceTempView("dc_train")
    bench.createOrReplaceTempView("dc_bench")
    val dapi = graft.operators.TextDedup
      .decontamSpanRemovalStats(train, bench, windowChars = 40,
        padChars = 20)
      .collect().toSeq
    val dtvf = spark.sql(
      "SELECT * FROM graft_decontam_apply('dc_train', 'dc_bench', " +
        "'40', '20') ORDER BY doc_id").collect().toSeq
    assert(dapi.nonEmpty && dtvf == dapi)
    val napi = graft.operators.TextDedup.normalizedDedup(docs)
      .collect().toSeq
    val ntvf = spark.sql(
      "SELECT * FROM graft_norm_dedup('documents') ORDER BY doc_id")
      .collect().toSeq
    assert(napi.nonEmpty && ntvf == napi)
  }

  test("graft_media_dedup_index rejects non-integral doc_id/simhash") {
    GraftExtensions.register(spark)
    Tables.registerAll(spark, sf)
    Tables.load(spark, sf, "documents")
      .selectExpr("CAST(doc_id AS STRING) AS doc_id",
        "CAST(doc_id AS DOUBLE) AS simhash")
      .createOrReplaceTempView("bad_sigs")
    val e = intercept[IllegalArgumentException] {
      spark.sql("SELECT * FROM graft_media_dedup_index('bad_sigs', '/tmp/x')")
    }
    assert(e.getMessage.contains("must be integral"))
  }

  test("graft_near_dup mines text AND image signatures from plain SQL") {
    GraftExtensions.register(spark)
    Tables.registerAll(spark, sf)
    // text: 64-bit SimHash signatures through the TVF = the operator API
    val sigs = graft.operators.TextDedup
      .simhash64(Tables.load(spark, sf, "documents"))
    sigs.createOrReplaceTempView("text_sigs")
    val api = graft.operators.TextDedup.hammingPairs64(sigs, 3)
      .collect().toSeq
    val tvf = spark.sql(
      "SELECT * FROM graft_near_dup('text_sigs', 'doc_id', 'simhash')")
      .collect().toSeq
    assert(api.nonEmpty && tvf == api)
    // the hot-band cap literal must reach the miner (q140 semantics)
    val cappedApi = graft.operators.TextDedup
      .hammingPairs64(sigs, 3, Some(2L)).collect().toSeq
    val cappedTvf = spark.sql(
      "SELECT * FROM graft_near_dup('text_sigs', 'doc_id', 'simhash', '3', '2')")
      .collect().toSeq
    assert(cappedTvf == cappedApi && cappedApi.size <= api.size)
    // planted hot band so the cap provably BITES through the TVF (at
    // this sf the corpus alone may never trip it, which would make the
    // <= assertion above vacuous): 4 identical signatures (> cap = 2)
    // mine all 6 pairs uncapped and ZERO capped, plus a non-hot pair
    // that must survive both ways
    (Seq.tabulate(4)(i => (100L + i, 42L)) ++
      Seq((200L, 0x0101010101010101L), (201L, 0x0101010101010101L)))
      .toDF("doc_id", "simhash").createOrReplaceTempView("hot_sigs")
    val hotAll = spark.sql(
      "SELECT * FROM graft_near_dup('hot_sigs', 'doc_id', 'simhash')")
      .collect().toSeq
    val hotCapped = spark.sql(
      "SELECT * FROM graft_near_dup('hot_sigs', 'doc_id', 'simhash', '3', '2')")
      .collect().toSeq
    assert(hotAll.size == 7) // C(4,2) hot pairs + the non-hot pair
    assert(hotCapped.map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      == Seq((200L, 201L, 0)))
    // non-integral id/signature columns fail loudly instead of being
    // silently cast to null
    Seq(("a", 1L)).toDF("doc_id", "simhash")
      .createOrReplaceTempView("bad_sigs")
    val err = intercept[Exception] {
      spark.sql("SELECT * FROM graft_near_dup('bad_sigs', 'doc_id', 'simhash')")
        .collect()
    }
    assert(err.getMessage.contains("must be integral"), err.getMessage)
    // image: aHash signatures computed IN SQL (graft_ahash over real
    // packed rasters, two of them identical) mined by the same TVF
    val mk = (bytes: Array[Byte]) => graft.operators.Multimodal.pack(
      bytes.length, 1, 1, 0,
      graft.functions.GrftCodec.pnmEncode(bytes.length, 1, 1, bytes))
    val a = Array.tabulate[Byte](64)(i => (i * 3).toByte)
    val b = Array.tabulate[Byte](64)(i => (255 - i * 2).toByte)
    Seq((1L, mk(a)), (2L, mk(b)), (3L, mk(a)))
      .toDF("doc_id", "blob").createOrReplaceTempView("imgs")
    spark.sql("SELECT doc_id, graft_ahash(blob) AS ahash FROM imgs")
      .createOrReplaceTempView("img_sigs")
    val imgPairs = spark.sql(
      "SELECT * FROM graft_near_dup('img_sigs', 'doc_id', 'ahash', '0')")
      .collect().toSeq
    assert(imgPairs.map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      == Seq((1L, 3L, 0)))
  }

  test("graft_max_dup_spans, graft_hashed_knn and graft_kmv_setops equal the operator API") {
    GraftExtensions.register(spark)
    Tables.registerAll(spark, sf)
    val docs = Tables.load(spark, sf, "documents")
    val sapi = graft.operators.TextDedup.maxDupSpans(docs, 10, 2)
      .collect().toSeq
    val stvf = spark.sql(
      "SELECT * FROM graft_max_dup_spans('documents') ORDER BY doc_id, start_pos")
      .collect().toSeq
    assert(sapi.nonEmpty && stvf == sapi)
    val kapi = graft.operators.TextVectors.hashedKnn(docs, 0L, 256, 20)
      .collect().toSeq
    val ktvf = spark.sql(
      "SELECT * FROM graft_hashed_knn('documents', 0) ORDER BY cos DESC, doc_id")
      .collect().toSeq
    assert(kapi.nonEmpty && ktvf == kapi)
    val orders = Tables.load(spark, sf, "orders")
    import org.apache.spark.sql.functions.{expr, md5}
    val d = orders.select($"o_orderstatus".as("src"), $"o_custkey".as("key"))
      .distinct()
    val withU = d
      .withColumn("h", md5($"key".cast("string").cast("binary")))
      .withColumn("u", expr(graft.operators.Sampling.u01Spark("h")))
    orders.createOrReplaceTempView("orders_v")
    val mapi = graft.operators.Sketches.kmvSetOps(withU, "src", $"u", 64)
      .orderBy($"src_a", $"src_b").collect().toSeq
    // the TVF hashes the key column itself but does NOT pre-distinct:
    // KMV state dedups by hash, so feeding raw rows is equivalent
    val mtvf = spark.sql(
      "SELECT * FROM graft_kmv_setops('orders_v', 'o_orderstatus', 'o_custkey') " +
        "ORDER BY src_a, src_b").collect().toSeq
    assert(mapi.nonEmpty && mtvf == mapi)
    Tables.load(spark, sf, "embeddings").createOrReplaceTempView("emb_v")
    val japi = graft.operators.Similarity.randomProject(
        Tables.load(spark, sf, "embeddings"), 8)
      .orderBy($"vec_id", $"out_dim").collect().toSeq
    val jtvf = spark.sql(
      "SELECT * FROM graft_jl_project('emb_v', 8) ORDER BY vec_id, out_dim")
      .collect().toSeq
    assert(japi.nonEmpty && jtvf == japi)
    val capi = graft.operators.TextVectors.clusterAssign(docs, Seq(0L, 1L), 64)
      .orderBy($"doc_id").collect().toSeq
    val ctvf = spark.sql(
      "SELECT * FROM graft_text_clusters('documents', '0,1', 64) ORDER BY doc_id")
      .collect().toSeq
    assert(capi.nonEmpty && ctvf == capi)
    val rapi = graft.operators.TextDedup.dupSpanRemovalStats(docs, 10, 2)
      .collect().toSeq
    val rtvf = spark.sql(
      "SELECT * FROM graft_dup_span_removal('documents') ORDER BY doc_id")
      .collect().toSeq
    assert(rapi.nonEmpty && rtvf == rapi)
    Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
      .createOrReplaceTempView("kb_pairs")
    docs.select($"doc_id", $"n_chars").createOrReplaceTempView("kb_scored")
    val kbapi = graft.operators.Components.keepBestInCluster(
        spark.table("kb_pairs"), spark.table("kb_scored"),
        "doc_id", "n_chars")
      .orderBy($"doc_id").collect().toSeq
    val kbtvf = spark.sql(
      "SELECT * FROM graft_keep_best('kb_pairs', 'kb_scored', " +
        "'doc_id', 'n_chars') ORDER BY doc_id").collect().toSeq
    assert(kbapi.nonEmpty && kbtvf == kbapi)
  }

  test("graft_stream_arrow table function declares types/names like the reference keywords") {
    GraftExtensions.register(spark)
    spark.range(0, 12).select($"id", ($"id" * 1.5).as("v"))
      .createOrReplaceTempView("tvf_arrow_in")
    val cmd = graft.operators.clients.JvmChild
      .command("graft.operators.clients.ArrowEchoChild").replace("'", "\\'")
    val out = spark.sql(
      s"SELECT * FROM graft_stream_arrow('tvf_arrow_in', '$cmd', 'int64,double', 'id,v')")
    assert(out.columns.toSeq ==
      Seq("id", "v", "instance_id", "chunk_no", "value_no"))
    assert(out.count() == 12)
    assert(out.agg(sum($"id")).head().getLong(0) == (0L until 12L).sum)
  }

  test("graft_stream_df table function speaks the R data-frame wire format") {
    GraftExtensions.register(spark)
    spark.range(0, 10)
      .select($"id".cast("int").as("i"), ($"id" * 0.5).as("d"))
      .createOrReplaceTempView("tvf_df_in")
    val cmd = graft.operators.clients.JvmChild
      .command("graft.operators.clients.RdfEchoChild").replace("'", "\\'")
    val out = spark.sql(
      s"SELECT * FROM graft_stream_df('tvf_df_in', '$cmd', 'int32,double', 'i,d')")
    assert(out.columns.toSeq ==
      Seq("i", "d", "instance_id", "chunk_no", "value_no"))
    assert(out.count() == 10)
    assert(out.agg(sum($"i".cast("long"))).head().getLong(0) == (0L until 10L).sum)
    val bad = intercept[Exception] {
      spark.sql("SELECT * FROM graft_stream_df('tvf_df_in', 'cat', 'int64', 'x')")
        .collect()
    }
    assert(bad.getMessage.contains("not supported over the R df stream format"),
      bad.getMessage)
  }

  test("stream table functions reject bad arity and non-literal arguments") {
    GraftExtensions.register(spark)
    spark.range(0, 3).select($"id").createOrReplaceTempView("tvf_bad")
    val e1 = intercept[Exception] {
      spark.sql("SELECT * FROM graft_stream_tsv('tvf_bad')").collect()
    }
    assert(e1.getMessage.contains("graft_stream_tsv expects"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql("SELECT * FROM graft_stream_arrow('tvf_bad', 'cat', 'int64')").collect()
    }
    assert(e2.getMessage.contains("graft_stream_arrow expects"), e2.getMessage)
    val e3 = intercept[Exception] {
      spark.sql("SELECT * FROM graft_stream_arrow('tvf_bad', 'cat', 'uuid', 'x')").collect()
    }
    assert(e3.getMessage.contains("not supported over the Arrow stream format"),
      e3.getMessage)
    // every table function owns the same arity check: nine literals
    // are more than any of them accepts
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Literal}
    val nine = Seq.fill(9)(Literal("tvf_bad"))
    assert(GraftExtensions.tableBuilders.size == 31)
    GraftExtensions.tableBuilders.foreach { case (name, (_, build)) =>
      val e = intercept[IllegalArgumentException](build(nine))
      assert(e.getMessage.contains(s"$name expects"), e.getMessage)
    }
    // and the same literal rule: a column reference is not an argument
    val (_, buildTsv) = GraftExtensions.tableBuilders("graft_stream_tsv")
    val e4 = intercept[IllegalArgumentException] {
      buildTsv(Seq(Literal("tvf_bad"),
        AttributeReference("cmd", org.apache.spark.sql.types.StringType)()))
    }
    assert(e4.getMessage.contains("graft_stream_tsv arguments must be literals"),
      e4.getMessage)
  }

  test("GraftExtensions.register alone gives a fresh session every scalar kernel") {
    // a fresh session sees none of the kernels the operators registered
    // on the shared one; only the extension's own table registers here
    val fresh = spark.newSession()
    GraftExtensions.register(fresh)
    val tables = Seq(graft.functions.TextExpressions.functions,
      graft.functions.VectorExpressions.functions,
      graft.functions.AhoCorasick.functions,
      graft.functions.MultimodalExpressions.functions)
    // each name is declared in exactly one table; graft_cosine is the
    // extension's own
    assert(GraftExtensions.builders.size == tables.map(_.size).sum + 1)
    assert(GraftExtensions.builders.size == 33)
    GraftExtensions.builders.keys.foreach { name =>
      assert(fresh.catalog.functionExists(name), name)
    }
    val r = fresh.sql(
      "SELECT graft_cdc('a b c d', 2, 1) AS cuts, graft_char_windows('abcd', 2) AS w, " +
        "graft_quantize8_arr(array(0.0D, 127.0D)) AS q").head()
    assert(r.getSeq[Int](0) == Seq(1, 2, 3))
    assert(r.getSeq[String](1) == Seq("ab", "bc", "cd"))
    assert(r.getSeq[Double](2) == Seq(0.0, 127.0))
  }

  test("every scalar kernel rejects wrong-typed arguments at analysis") {
    import org.apache.spark.sql.AnalysisException
    import org.apache.spark.sql.catalyst.expressions.Literal
    GraftExtensions.register(spark)
    // graft_cosine is graft_dot's composition, so its errors name graft_dot
    val kernels = GraftExtensions.builders.keys.toSeq.filterNot(_ == "graft_cosine").sorted
    assert(kernels.size == 32)
    // no kernel takes a boolean anywhere; the arity is what the builder reads
    val accepted = kernels.filterNot { name =>
      val arity = GraftExtensions.builders(name)._2(Seq.fill(5)(Literal(true))).children.size
      val call = s"SELECT $name(${Seq.fill(arity)("true").mkString(", ")})"
      try { spark.sql(call); false }
      catch { case e: AnalysisException => e.getMessage.contains(s"$name expects") }
    }
    assert(accepted.isEmpty, s"analyzed with wrong-typed arguments: $accepted")
  }

  test("graft_cosine equals the Similarity column API on real embeddings") {
    GraftExtensions.register(spark)
    val emb = Tables.load(spark, sf, "embeddings").limit(10)
      .select($"vec_id", graft.operators.Similarity.toDouble($"embedding").as("v"))
    val viaSql = emb.selectExpr("vec_id", "graft_cosine(v, v) AS c")
      .collect().map(_.getDouble(1))
    assert(viaSql.forall(c => math.abs(c - 1.0) < 1e-9))
  }
}
