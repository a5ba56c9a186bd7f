package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Divide, Expression, ExpressionInfo, Multiply, Sqrt}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{BinaryType, DoubleType, IntegerType, LongType, StringType, StructField, StructType}
import graft.functions.DotProduct
import graft.operators.Stream

/** SQL surface of the engine (SURVEY.md §7.2 M7).
  *
  * Registers the graft scalar functions so plain `spark.sql` users get
  * them; usable two ways:
  *  - `--conf spark.sql.extensions=graft.sql.GraftExtensions` (or
  *    `.withExtensions(new GraftExtensions)`) at session build time, or
  *  - `GraftExtensions.register(spark)` on a live session (function
  *    registry path, what the library entry points call internally).
  *
  * The pipe operator stays a DataFrame transform (`graft.operators.Stream`)
  * because its output schema is an operator *option*, not inferable from
  * SQL argument expressions — exactly why the reference makes `types:` a
  * mandatory keyword (`src/StreamSettings.h:62-324`). `Stream.tsvSql`
  * bridges SQL workflows by piping a registered view.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.builders.foreach { case (name, (info, builder)) =>
      e.injectFunction((FunctionIdentifier(name), info, builder))
    }
    GraftExtensions.tableBuilders.foreach { case (name, (info, builder)) =>
      e.injectTableFunction((FunctionIdentifier(name), info, builder))
    }
    // plans graft.plans.StreamPlan (the pipe operator's logical node) to
    // StreamExec; also self-registers lazily via the Stream API for
    // sessions built without extensions
    e.injectPlannerStrategy(_ => graft.plans.StreamStrategy)
  }
}

object GraftExtensions {
  private def cosine(args: Seq[Expression]): Expression = {
    val (a, b) = (args(0), args(1))
    Divide(DotProduct(a, b),
      Multiply(Sqrt(DotProduct(a, a)), Sqrt(DotProduct(b, b))))
  }

  val builders: Map[String, (ExpressionInfo, Seq[Expression] => Expression)] = Map(
    "graft_dot" -> (
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (args: Seq[Expression]) => DotProduct(args(0), args(1))),
    "graft_cosine" -> (
      new ExpressionInfo(classOf[DotProduct].getName, "graft_cosine"),
      cosine _),
    "graft_shingles" -> (
      new ExpressionInfo(classOf[graft.functions.WordShingles].getName, "graft_shingles"),
      (args: Seq[Expression]) => graft.functions.WordShingles(args(0), args(1))),
    "graft_simhash" -> (
      new ExpressionInfo(classOf[graft.functions.WordSimHash].getName, "graft_simhash"),
      (args: Seq[Expression]) => graft.functions.WordSimHash(args(0), args(1))),
    "graft_minhash" -> (
      new ExpressionInfo(classOf[graft.functions.MinHashAgg].getName, "graft_minhash"),
      (args: Seq[Expression]) =>
        graft.functions.MinHashAgg(args(0), args(1), args(2))),
    "graft_spans" -> (
      new ExpressionInfo(classOf[graft.functions.WordSpans].getName, "graft_spans"),
      (args: Seq[Expression]) => graft.functions.WordSpans(args(0), args(1))),
    "graft_grams" -> (
      new ExpressionInfo(classOf[graft.functions.WordGrams].getName, "graft_grams"),
      (args: Seq[Expression]) => graft.functions.WordGrams(args(0), args(1))),
    "graft_winnow" -> (
      new ExpressionInfo(classOf[graft.functions.WinnowFingerprints].getName, "graft_winnow"),
      (args: Seq[Expression]) =>
        graft.functions.WinnowFingerprints(args(0), args(1), args(2))),
    "graft_ac_count" -> (
      new ExpressionInfo(classOf[graft.functions.AhoCorasickCounts].getName, "graft_ac_count"),
      (args: Seq[Expression]) =>
        graft.functions.AhoCorasickCounts(args(0), args(1))),
    "graft_fhash" -> (
      new ExpressionInfo(classOf[graft.functions.FeatureHash].getName, "graft_fhash"),
      (args: Seq[Expression]) => graft.functions.FeatureHash(args(0), args(1))),
    "graft_rotate" -> (
      new ExpressionInfo(classOf[graft.functions.RotateGivens].getName, "graft_rotate"),
      (args: Seq[Expression]) =>
        graft.functions.RotateGivens(args(0), args(1), args(2), args(3))),
    "graft_pq_encode" -> (
      new ExpressionInfo(classOf[graft.functions.PqEncode].getName, "graft_pq_encode"),
      (args: Seq[Expression]) =>
        graft.functions.PqEncode(args(0), args(1), args(2), args(3))),
    "graft_hyperplane" -> (
      new ExpressionInfo(classOf[graft.functions.HyperplaneCodes].getName, "graft_hyperplane"),
      (args: Seq[Expression]) =>
        graft.functions.HyperplaneCodes(args(0), args(1), args(2), args(3))),
    "graft_argmax_cos" -> (
      new ExpressionInfo(classOf[graft.functions.ArgMaxCosine].getName, "graft_argmax_cos"),
      (args: Seq[Expression]) =>
        graft.functions.ArgMaxCosine(args(0), args(1), args(2))),
    "graft_quantize8" -> (
      new ExpressionInfo(classOf[graft.functions.Quantize8].getName, "graft_quantize8"),
      (args: Seq[Expression]) => graft.functions.Quantize8(args(0))),
    "graft_dot8" -> (
      new ExpressionInfo(classOf[graft.functions.Dot8].getName, "graft_dot8"),
      (args: Seq[Expression]) => graft.functions.Dot8(args(0), args(1)))
  ) ++ graft.functions.MultimodalExpressions.builders // graft_meta/stats/resize/frames

  private def lit(fn: String)(e: Expression): String = {
    require(e.foldable, s"$fn arguments must be literals, got $e")
    String.valueOf(e.eval(null))
  }

  /** SQL table function `graft_stream_tsv('<view>', '<cmd>'
    * [, chunk_size])` — the reference's `stream(A, 'cmd'
    * [, chunk_size:…])` callable from plain SQL. Arguments must be
    * literals (the output schema is fixed by the TSV format, so
    * analysis stays schema-sound).
    */
  private def streamTsvPlan(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 2 || args.length == 3,
      "graft_stream_tsv expects (table_name, command[, chunk_size]) literals")
    val str = lit("graft_stream_tsv") _
    val chunkSize = if (args.length == 3) str(args(2)).toInt else 10000
    val spark = SparkSession.active
    Stream.tsv(spark.table(str(args.head)), str(args(1)), chunkSize)
      .queryExecution.logical
  }

  /** SQL table functions `graft_stream_arrow('<view>', '<cmd>',
    * '<types csv>', '<names csv>'[, chunk_size])` and `graft_stream_df`
    * (same arguments) — the reference's `stream(A, 'cmd',
    * format:'feather'|'df', types:…, names:…)`
    * (`src/StreamSettings.h:97-116`) callable from plain SQL; the
    * declared types/names lists fix the output schema at analysis time
    * exactly as the mandatory keywords do. `build` is `Stream.arrow` or
    * `Stream.df`, which reject the types their format cannot carry.
    */
  private def declaredStreamPlan(fn: String, format: String,
                                 build: (DataFrame, String, StructType, Int) => DataFrame)(
                                 args: Seq[Expression]): LogicalPlan = {
    require(args.length == 4 || args.length == 5,
      s"$fn expects (table_name, command, types_csv, names_csv[, chunk_size]) literals")
    val str = lit(fn) _
    val types = str(args(2)).split(',').map(_.trim.toLowerCase)
    val names = str(args(3)).split(',').map(_.trim)
    require(types.length == names.length,
      s"types (${types.length}) and names (${names.length}) must have equal arity")
    val declared = StructType(names.zip(types).toSeq.map { case (n, t) =>
      StructField(n, t match {
        case "int64" | "long" | "bigint" => LongType
        case "int32" | "int"             => IntegerType
        case "double" | "float64"        => DoubleType
        case "string"                    => StringType
        case "binary"                    => BinaryType
        case other => throw new IllegalArgumentException(
          s"type $other not supported over the $format stream format")
      })
    })
    val chunkSize = if (args.length == 5) str(args(4)).toInt else 10000
    build(SparkSession.active.table(str(args.head)), str(args(1)), declared, chunkSize)
      .queryExecution.logical
  }

  // ---- operator-level table functions: the r7/r8 operator family ----
  // Same design as the stream TVFs: arguments are literals naming a
  // registered view plus operator options, the builder delegates to
  // the operator's DataFrame API and returns its logical plan — SQL
  // users get the exact gated plan, not a reimplementation.

  /** `graft_fuzzy_pairs('<view>', '<id_col>', '<str_col>'
    * [, max_variant_freq])` — all row pairs within edit distance 1
    * (deletion-neighborhood blocking + banded verify, the q102 plan).
    */
  private def fuzzyPairsPlan(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 3 || args.length == 4,
      "graft_fuzzy_pairs expects (table_name, id_col, str_col[, max_variant_freq]) literals")
    val str = lit("graft_fuzzy_pairs") _
    val cap = if (args.length == 4) Some(str(args(3)).toInt) else None
    graft.operators.FuzzyMatch.editDistance1Pairs(
        SparkSession.active.table(str(args.head)), str(args(1)), str(args(2)), cap)
      .queryExecution.logical
  }

  /** `graft_bloom_prefilter('<big_view>', '<big_key>', '<small_view>',
    * '<small_key>'[, m, k])` — rows of the big side whose key might be
    * in the small side's key set (the q95 broadcast-bit-array plan;
    * false positives possible, false negatives not).
    */
  private def bloomPrefilterPlan(args: Seq[Expression]): LogicalPlan = {
    require(args.length >= 4 && args.length <= 6,
      "graft_bloom_prefilter expects (big_table, big_key, small_table, small_key[, m, k]) literals")
    val str = lit("graft_bloom_prefilter") _
    val spark = SparkSession.active
    val big = spark.table(str(args.head))
    val small = spark.table(str(args(2)))
    val m = if (args.length >= 5) str(args(4)).toInt else 1 << 20
    val k = if (args.length >= 6) str(args(5)).toInt else 3
    graft.operators.Bloom.prefilter(big, big(str(args(1))), small, small(str(args(3))), m, k)
      .queryExecution.logical
  }

  /** `graft_zorder('<view>', '<dims csv>', num_partitions)` — the
    * q94 Z-order layout clustering (one range exchange on the Morton
    * code + in-partition sort).
    */
  private def zorderPlan(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 3,
      "graft_zorder expects (table_name, dims_csv, num_partitions) literals")
    val str = lit("graft_zorder") _
    val df = SparkSession.active.table(str(args.head))
    val dims = str(args(1)).split(',').map(c => df(c.trim)).toSeq
    graft.operators.Layout.zorder(df, dims, str(args(2)).toInt)
      .queryExecution.logical
  }

  /** `graft_dsir('<raw_view>', '<target_view>'[, '<id_col>',
    * '<text_col>', buckets])` — the q107 DSIR importance weights
    * (hashed-bigram target/raw likelihood ratio per document).
    */
  private def dsirPlan(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 2 || args.length == 4 || args.length == 5,
      "graft_dsir expects (raw_table, target_table[, id_col, text_col[, buckets]]) literals")
    val str = lit("graft_dsir") _
    val spark = SparkSession.active
    val id = if (args.length >= 4) str(args(2)) else "doc_id"
    val text = if (args.length >= 4) str(args(3)) else "text"
    val buckets = if (args.length == 5) str(args(4)).toInt else 65536
    graft.operators.Dsir.importanceWeights(
        spark.table(str(args.head)), spark.table(str(args(1))), id, text, buckets)
      .queryExecution.logical
  }

  /** `graft_semantic_dedup('<view>', '<seed_ids csv>', threshold
    * [, iters])` — the q112 SemDeDup plan: per-row cluster id,
    * keep/drop decision and minimal witness.
    */
  private def semanticDedupPlan(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 3 || args.length == 4,
      "graft_semantic_dedup expects (table_name, seed_ids_csv, threshold[, iters]) literals")
    val str = lit("graft_semantic_dedup") _
    val seeds = str(args(1)).split(',').map(_.trim.toLong).toSeq
    val iters = if (args.length == 4) str(args(3)).toInt else 0
    graft.operators.Similarity.semanticDedup(
        SparkSession.active.table(str(args.head)), seeds,
        str(args(2)).toDouble, iters)
      .queryExecution.logical
  }

  /** `graft_prototypes('<view>', '<seed_ids csv>'[, iters])` — the
    * q113 prototypicality ranking (cosine to own centroid + in-cluster
    * rank, for prune-by-difficulty policies).
    */
  private def prototypesPlan(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 2 || args.length == 3,
      "graft_prototypes expects (table_name, seed_ids_csv[, iters]) literals")
    val str = lit("graft_prototypes") _
    val seeds = str(args(1)).split(',').map(_.trim.toLong).toSeq
    val iters = if (args.length == 3) str(args(2)).toInt else 0
    graft.operators.Similarity.prototypicality(
        SparkSession.active.table(str(args.head)), seeds, iters)
      .queryExecution.logical
  }

  /** `graft_near_dup('<view>', '<id_col>', '<sig_col>'
    * [, max_hamming[, max_band_freq]])` — near-duplicate pairs over
    * ANY 64-bit signature column (text SimHash, image aHash, audio
    * fingerprint, video hash) through the one shared 4×16 banded
    * first-match miner (the q38/q136/q140 plan). `max_band_freq`
    * engages the hot-band skew cap: band keys shared by more rows are
    * excluded from their band's self-join, bounding every join group.
    */
  private def nearDupPlan(args: Seq[Expression]): LogicalPlan = {
    require(args.length >= 3 && args.length <= 5,
      "graft_near_dup expects (table_name, id_col, sig_col[, max_hamming[, max_band_freq]]) literals")
    val str = lit("graft_near_dup") _
    val df = SparkSession.active.table(str(args.head))
    // fail loudly on non-integral id/signature columns: cast("long")
    // would silently turn a string/float column into nulls and mine an
    // empty (or wrong) pair set
    def longCol(name: String): org.apache.spark.sql.Column = {
      import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
      val dt = df.schema(name).dataType
      require(Seq(LongType, IntegerType, ShortType, ByteType).contains(dt),
        s"graft_near_dup column '$name' must be integral (64-bit " +
          s"signature semantics); got ${dt.simpleString} — cast it " +
          "explicitly in the view if that is intended")
      df(name).cast("long")
    }
    val maxHamming = if (args.length >= 4) str(args(3)).toInt else 3
    val cap = if (args.length == 5) Some(str(args(4)).toLong) else None
    graft.operators.TextDedup.hammingPairs64(
        df.select(longCol(str(args(1))).as("doc_id"),
          longCol(str(args(2))).as("simhash")),
        maxHamming, cap)
      .queryExecution.logical
  }

  /** `graft_novelty('<view>'[, k])` — q147's first-occurrence k-gram
    * novelty per document over a (doc_id, text) view: how much of each
    * doc is genuinely new content in ingestion order.
    */
  private def noveltyPlan(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 1 || args.length == 2,
      "graft_novelty expects (table_name[, k]) literals")
    val str = lit("graft_novelty") _
    val k = if (args.length == 2) str(args(1)).toInt else 3
    graft.operators.TextAnalysis.noveltyStats(
        SparkSession.active.table(str(args.head)), k)
      .queryExecution.logical
  }

  /** `graft_dedup_index('<view>', '<index_path>'[, threshold])` —
    * ingestion dedup of a new (doc_id, text) batch against a persisted
    * MinHash signature index (the q77/q145 probe): only the batch is
    * shingled, the history is reached through its index.
    */
  private def dedupIndexPlan(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 2 || args.length == 3,
      "graft_dedup_index expects (table_name, index_path[, threshold]) literals")
    val str = lit("graft_dedup_index") _
    val thr = if (args.length == 3) str(args(2)).toDouble else 0.5
    graft.operators.TextDedup.nearDupsAgainstIndex(
        SparkSession.active.table(str(args.head)), str(args(1)), thr)
      .queryExecution.logical
  }

  /** `graft_cdc_chunks('<view>'[, w[, d]])` — q162's content-defined
    * chunking with cross-doc share counts over a (doc_id, text) view:
    * the sub-document dedup tiling.
    */
  private def cdcChunksPlan(args: Seq[Expression]): LogicalPlan = {
    require(args.length >= 1 && args.length <= 3,
      "graft_cdc_chunks expects (table_name[, w[, d]]) literals")
    val str = lit("graft_cdc_chunks") _
    val w = if (args.length >= 2) str(args(1)).toInt else 8
    val d = if (args.length >= 3) str(args(2)).toInt else 32
    graft.operators.TextDedup.cdcChunkStats(
        SparkSession.active.table(str(args.head)), w, d)
      .queryExecution.logical
  }

  /** `graft_cdc_probe('<view>', '<index_path>'[, w[, d]])` — q163's
    * ingest-time sub-document dedup: CDC-chunk a (doc_id, text) batch
    * and annotate every chunk with how many indexed docs already hold
    * its hash (the history is read from its chunk-hash index, never
    * re-chunked).
    */
  private def cdcProbePlan(args: Seq[Expression]): LogicalPlan = {
    require(args.length >= 2 && args.length <= 4,
      "graft_cdc_probe expects (table_name, index_path[, w[, d]]) literals")
    val str = lit("graft_cdc_probe") _
    val w = if (args.length >= 3) str(args(2)).toInt else 8
    val d = if (args.length >= 4) str(args(3)).toInt else 32
    graft.operators.TextDedup.cdcProbeAgainstChunkIndex(
        SparkSession.active.table(str(args.head)), str(args(1)), w, d)
      .queryExecution.logical
  }

  /** `graft_decontam_apply('<train_view>', '<bench_view>'
    * [, window_chars[, pad_chars]])` — q168's decontamination APPLY:
    * per training doc, the padded/clamped/unioned removal intervals of
    * every char window found verbatim in the benchmark view.
    */
  private def decontamApplyPlan(args: Seq[Expression]): LogicalPlan = {
    require(args.length >= 2 && args.length <= 4,
      "graft_decontam_apply expects (train_table, bench_table" +
        "[, window_chars[, pad_chars]]) literals")
    val str = lit("graft_decontam_apply") _
    val w = if (args.length >= 3) str(args(2)).toInt else 40
    val p = if (args.length >= 4) str(args(3)).toInt else 0
    graft.operators.TextDedup.decontamSpanRemovalStats(
        SparkSession.active.table(str(args.head)),
        SparkSession.active.table(str(args(1))), w, p)
      .queryExecution.logical
  }

  /** `graft_norm_dedup('<view>')` — q169's normalization-collapsing
    * keep-first dedup manifest over a (doc_id, text) view.
    */
  private def normDedupPlan(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 1,
      "graft_norm_dedup expects a (table_name) literal")
    val str = lit("graft_norm_dedup") _
    graft.operators.TextDedup.normalizedDedup(
        SparkSession.active.table(str(args.head)))
      .queryExecution.logical
  }

  /** `graft_cdc_manifest('<view>'[, w[, d]])` — q164's keep-first
    * chunk-removal manifest over a (doc_id, text) view: per doc, the
    * maximal word intervals of chunks whose hash occurs here first.
    */
  private def cdcManifestPlan(args: Seq[Expression]): LogicalPlan = {
    require(args.length >= 1 && args.length <= 3,
      "graft_cdc_manifest expects (table_name[, w[, d]]) literals")
    val str = lit("graft_cdc_manifest") _
    val w = if (args.length >= 2) str(args(1)).toInt else 8
    val d = if (args.length >= 3) str(args(2)).toInt else 32
    graft.operators.TextDedup.cdcKeepFirstManifest(
        SparkSession.active.table(str(args.head)), w, d)
      .queryExecution.logical
  }

  /** `graft_media_dedup_index('<view>', '<index_path>'[, max_hamming[,
    * max_band_freq]])` — q161's capped banded probe of a (doc_id,
    * simhash) batch against a persisted 64-bit signature index: media
    * dedup at ingest time, O(batch + collisions).
    */
  private def mediaDedupIndexPlan(args: Seq[Expression]): LogicalPlan = {
    require(args.length >= 2 && args.length <= 4,
      "graft_media_dedup_index expects (table_name, index_path[, max_hamming[, max_band_freq]]) literals")
    val str = lit("graft_media_dedup_index") _
    val df = SparkSession.active.table(str(args.head))
    // same fail-loudly contract as graft_near_dup: a string/float
    // doc_id or simhash would flow into shiftrightunsigned and mine
    // wrong (or silently empty) band keys
    def longCol(name: String): org.apache.spark.sql.Column = {
      import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
      val dt = df.schema(name).dataType
      require(Seq(LongType, IntegerType, ShortType, ByteType).contains(dt),
        s"graft_media_dedup_index column '$name' must be integral " +
          s"(64-bit signature semantics); got ${dt.simpleString} — cast " +
          "it explicitly in the view if that is intended")
      df(name).cast("long")
    }
    val mh = if (args.length >= 3) str(args(2)).toInt else 3
    val cap = if (args.length >= 4) Some(str(args(3)).toLong) else None
    graft.operators.TextDedup.nearDupsAgainstHashIndex(
        df.select(longCol("doc_id").as("doc_id"),
          longCol("simhash").as("simhash")),
        str(args(1)), mh, cap)
      .queryExecution.logical
  }

  /** `graft_kmeans('<view>', k, rounds)` — the q148 integer-exact
    * Lloyd iterations over a (vec_id, embedding) view: final
    * (vec_id, cluster, d2) after `rounds` assign→recompute passes.
    */
  private def kmeansPlan(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 3,
      "graft_kmeans expects (table_name, k, rounds) literals")
    val str = lit("graft_kmeans") _
    val out = graft.operators.Similarity.kmeansIntRounds(
      SparkSession.active.table(str(args.head)),
      str(args(1)).toInt, str(args(2)).toInt)
    // the operator returns a PERSISTED frame — that persist is the
    // evaluation barrier that keeps the k argmin struct references
    // from re-inlining the quantize kernel per reference (measured
    // 41 s at sf1 interpreted), so it must survive until the TVF's
    // consumer has executed. Do NOT unpersist here; instead REGISTER
    // it, so a long-lived SQL session can release exactly the TVF
    // state it created (`graft.Tables.releaseTrackedCaches`) without
    // the clearCache hammer evicting unrelated user caches.
    // Verify/Bench's releaseOperatorCaches releases tracked frames
    // first and then clears, unchanged.
    graft.Tables.trackOperatorCache(out).queryExecution.logical
  }

  /** `graft_kcenter('<view>', k[, start_id])` — the q117 greedy
    * farthest-point-first diverse selection: one row per round
    * (round, vec_id, dist).
    */
  private def kcenterPlan(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 2 || args.length == 3,
      "graft_kcenter expects (table_name, k[, start_id]) literals")
    val str = lit("graft_kcenter") _
    val start = if (args.length == 3) str(args(2)).toLong else 0L
    graft.operators.Similarity.kCenterSelect(
        SparkSession.active.table(str(args.head)), str(args(1)).toInt, start)
      .queryExecution.logical
  }

  /** `graft_pq('<view>', m, k_code[, query_vec_id])` — the q121
    * product quantization: per-vector subspace codes + the integer
    * ADC estimate against the query vector.
    */
  private def pqPlan(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 3 || args.length == 4,
      "graft_pq expects (table_name, m, k_code[, query_vec_id]) literals")
    val str = lit("graft_pq") _
    val qid = if (args.length == 4) str(args(3)).toLong else 0L
    graft.operators.Similarity.pqEncodeAdc(
        SparkSession.active.table(str(args.head)),
        str(args(1)).toInt, str(args(2)).toInt, qid)
      .queryExecution.logical
  }

  /** `graft_winnow_stats('<view>'[, k, w])` — the q114 winnowing
    * fingerprints with cross-document share counts
    * (doc_id, pos, h, n_docs).
    */
  private def winnowStatsPlan(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 1 || args.length == 3,
      "graft_winnow_stats expects (table_name[, k, w]) literals")
    val str = lit("graft_winnow_stats") _
    val k = if (args.length == 3) str(args(1)).toInt else 4
    val w = if (args.length == 3) str(args(2)).toInt else 5
    graft.operators.TextDedup.winnowMatchStats(
        SparkSession.active.table(str(args.head)), k, w)
      .queryExecution.logical
  }

  /** `graft_ppl_buckets('<view>'[, '<id_col>', '<text_col>',
    * min_count, n_buckets])` — the q115 CCNet-style perplexity
    * bucketing (id, lm_mean, bucket).
    */
  private def pplBucketsPlan(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 1 || args.length == 3 || args.length == 5,
      "graft_ppl_buckets expects (table_name[, id_col, text_col[, min_count, n_buckets]]) literals")
    val str = lit("graft_ppl_buckets") _
    val id = if (args.length >= 3) str(args(1)) else "doc_id"
    val text = if (args.length >= 3) str(args(2)) else "text"
    val minCount = if (args.length == 5) str(args(3)).toLong else 2L
    val nBuckets = if (args.length == 5) str(args(4)).toInt else 3
    graft.operators.NgramLm.perplexityBuckets(
        SparkSession.active.table(str(args.head)), id, text, minCount, nBuckets)
      .queryExecution.logical
  }

  /** `graft_token_budget('<view>', '<id_col>', '<score_col>',
    * '<tokens_col>', budget_num, budget_den)` — the q120 token-budget
    * subset selection (id, score, tokens, kept).
    */
  private def tokenBudgetPlan(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 6,
      "graft_token_budget expects (table_name, id_col, score_col, tokens_col, budget_num, budget_den) literals")
    val str = lit("graft_token_budget") _
    graft.operators.Sampling.tokenBudgetSelect(
        SparkSession.active.table(str(args.head)),
        str(args(1)), str(args(2)), str(args(3)),
        str(args(4)).toLong, str(args(5)).toLong)
      .queryExecution.logical
  }

  /** `graft_max_dup_spans('<view>'[, span_words, min_docs])` — the
    * q127 maximal duplicated-span mining (doc_id, start_pos, end_pos,
    * n_seeds, span_words).
    */
  private def maxDupSpansPlan(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 1 || args.length == 3,
      "graft_max_dup_spans expects (table_name[, span_words, min_docs]) literals")
    val str = lit("graft_max_dup_spans") _
    val spanWords = if (args.length == 3) str(args(1)).toInt else 10
    val minDocs = if (args.length == 3) str(args(2)).toInt else 2
    graft.operators.TextDedup.maxDupSpans(
        SparkSession.active.table(str(args.head)), spanWords, minDocs)
      .queryExecution.logical
  }

  /** `graft_dup_span_removal('<view>'[, span_words, min_docs])` — the
    * q131 keep-one span-removal manifest (doc_id, n_words,
    * n_spans_removed, n_words_removed).
    */
  private def dupSpanRemovalPlan(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 1 || args.length == 3,
      "graft_dup_span_removal expects (table_name[, span_words, min_docs]) literals")
    val str = lit("graft_dup_span_removal") _
    val spanWords = if (args.length == 3) str(args(1)).toInt else 10
    val minDocs = if (args.length == 3) str(args(2)).toInt else 2
    graft.operators.TextDedup.dupSpanRemovalStats(
        SparkSession.active.table(str(args.head)), spanWords, minDocs)
      .queryExecution.logical
  }

  /** `graft_keep_best('<pairs_view>', '<scored_view>', '<id_col>',
    * '<score_col>')` — the q134 quality-aware dup-cluster keep policy
    * (id, component, score, kept, kept_by).
    */
  private def keepBestPlan(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 4,
      "graft_keep_best expects (pairs_table, scored_table, id_col, score_col) literals")
    val str = lit("graft_keep_best") _
    val spark = SparkSession.active
    graft.operators.Components.keepBestInCluster(
        spark.table(str(args.head)), spark.table(str(args(1))),
        str(args(2)), str(args(3)))
      .queryExecution.logical
  }

  /** `graft_hashed_knn('<view>', query_doc_id[, dim, k])` — the q125
    * embedding-free cosine kNN over hashing-trick vectors
    * (doc_id, cos).
    */
  private def hashedKnnPlan(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 2 || args.length == 4,
      "graft_hashed_knn expects (table_name, query_doc_id[, dim, k]) literals")
    val str = lit("graft_hashed_knn") _
    val dim = if (args.length == 4) str(args(2)).toInt else 256
    val k = if (args.length == 4) str(args(3)).toInt else 20
    graft.operators.TextVectors.hashedKnn(
        SparkSession.active.table(str(args.head)), str(args(1)).toLong, dim, k)
      .queryExecution.logical
  }

  /** `graft_kmv_setops('<view>', '<group_col>', '<key_col>'[, k])` —
    * the q126 cross-source union/intersection/Jaccard estimates from
    * per-source KMV sketches (the hash-uniform is derived from the key
    * column with the shared md5-prefix u01).
    */
  private def kmvSetOpsPlan(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 3 || args.length == 4,
      "graft_kmv_setops expects (table_name, group_col, key_col[, k]) literals")
    val str = lit("graft_kmv_setops") _
    val k = if (args.length == 4) str(args(3)).toInt else 64
    val df = SparkSession.active.table(str(args.head))
    require(!df.columns.contains("_graft_kmv_h") &&
      !df.columns.contains("_graft_kmv_u"),
      "input already has a _graft_kmv_h/_graft_kmv_u column; rename it")
    val withU = df
      .withColumn("_graft_kmv_h",
        org.apache.spark.sql.functions.md5(
          df(str(args(2))).cast("string").cast("binary")))
      .withColumn("_graft_kmv_u", org.apache.spark.sql.functions.expr(
        graft.operators.Sampling.u01Spark("_graft_kmv_h")))
    graft.operators.Sketches.kmvSetOps(withU, str(args(1)),
        org.apache.spark.sql.functions.col("_graft_kmv_u"), k)
      .queryExecution.logical
  }

  /** `graft_jl_project('<view>'[, out_dim])` — the q128 ±1 JL random
    * projection (vec_id, out_dim, p).
    */
  private def jlProjectPlan(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 1 || args.length == 2,
      "graft_jl_project expects (table_name[, out_dim]) literals")
    val str = lit("graft_jl_project") _
    val outDim = if (args.length == 2) str(args(1)).toInt else 16
    graft.operators.Similarity.randomProject(
        SparkSession.active.table(str(args.head)), outDim)
      .queryExecution.logical
  }

  /** `graft_text_clusters('<view>', '<seed_doc_ids csv>'[, dim])` —
    * the q129 integer-exact text clustering (doc_id, cluster_id,
    * score, cluster_n) over hashing-trick vectors.
    */
  private def textClustersPlan(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 2 || args.length == 3,
      "graft_text_clusters expects (table_name, seed_doc_ids_csv[, dim]) literals")
    val str = lit("graft_text_clusters") _
    val seeds = str(args(1)).split(',').map(_.trim.toLong).toSeq
    val dim = if (args.length == 3) str(args(2)).toInt else 256
    graft.operators.TextVectors.clusterAssign(
        SparkSession.active.table(str(args.head)), seeds, dim)
      .queryExecution.logical
  }

  val tableBuilders: Map[String, (ExpressionInfo, Seq[Expression] => LogicalPlan)] = Map(
    "graft_stream_tsv" -> (
      new ExpressionInfo(Stream.getClass.getName, "graft_stream_tsv"),
      streamTsvPlan _),
    "graft_stream_arrow" -> (
      new ExpressionInfo(Stream.getClass.getName, "graft_stream_arrow"),
      declaredStreamPlan("graft_stream_arrow", "Arrow",
        Stream.arrow(_, _, _, _)) _),
    "graft_stream_df" -> (
      new ExpressionInfo(Stream.getClass.getName, "graft_stream_df"),
      declaredStreamPlan("graft_stream_df", "R df",
        Stream.df(_, _, _, _)) _),
    "graft_fuzzy_pairs" -> (
      new ExpressionInfo(graft.operators.FuzzyMatch.getClass.getName, "graft_fuzzy_pairs"),
      fuzzyPairsPlan _),
    "graft_bloom_prefilter" -> (
      new ExpressionInfo(graft.operators.Bloom.getClass.getName, "graft_bloom_prefilter"),
      bloomPrefilterPlan _),
    "graft_zorder" -> (
      new ExpressionInfo(graft.operators.Layout.getClass.getName, "graft_zorder"),
      zorderPlan _),
    "graft_dsir" -> (
      new ExpressionInfo(graft.operators.Dsir.getClass.getName, "graft_dsir"),
      dsirPlan _),
    "graft_semantic_dedup" -> (
      new ExpressionInfo(graft.operators.Similarity.getClass.getName, "graft_semantic_dedup"),
      semanticDedupPlan _),
    "graft_prototypes" -> (
      new ExpressionInfo(graft.operators.Similarity.getClass.getName, "graft_prototypes"),
      prototypesPlan _),
    "graft_near_dup" -> (
      new ExpressionInfo(graft.operators.TextDedup.getClass.getName, "graft_near_dup"),
      nearDupPlan _),
    "graft_kcenter" -> (
      new ExpressionInfo(graft.operators.Similarity.getClass.getName, "graft_kcenter"),
      kcenterPlan _),
    "graft_novelty" -> (
      new ExpressionInfo(graft.operators.TextAnalysis.getClass.getName, "graft_novelty"),
      noveltyPlan _),
    "graft_dedup_index" -> (
      new ExpressionInfo(graft.operators.TextDedup.getClass.getName, "graft_dedup_index"),
      dedupIndexPlan _),
    "graft_kmeans" -> (
      new ExpressionInfo(graft.operators.Similarity.getClass.getName, "graft_kmeans"),
      kmeansPlan _),
    "graft_cdc_chunks" -> (
      new ExpressionInfo(graft.operators.TextDedup.getClass.getName, "graft_cdc_chunks"),
      cdcChunksPlan _),
    "graft_cdc_probe" -> (
      new ExpressionInfo(graft.operators.TextDedup.getClass.getName, "graft_cdc_probe"),
      cdcProbePlan _),
    "graft_cdc_manifest" -> (
      new ExpressionInfo(graft.operators.TextDedup.getClass.getName, "graft_cdc_manifest"),
      cdcManifestPlan _),
    "graft_decontam_apply" -> (
      new ExpressionInfo(graft.operators.TextDedup.getClass.getName, "graft_decontam_apply"),
      decontamApplyPlan _),
    "graft_norm_dedup" -> (
      new ExpressionInfo(graft.operators.TextDedup.getClass.getName, "graft_norm_dedup"),
      normDedupPlan _),
    "graft_media_dedup_index" -> (
      new ExpressionInfo(graft.operators.TextDedup.getClass.getName, "graft_media_dedup_index"),
      mediaDedupIndexPlan _),
    "graft_pq" -> (
      new ExpressionInfo(graft.operators.Similarity.getClass.getName, "graft_pq"),
      pqPlan _),
    "graft_winnow_stats" -> (
      new ExpressionInfo(graft.operators.TextDedup.getClass.getName, "graft_winnow_stats"),
      winnowStatsPlan _),
    "graft_ppl_buckets" -> (
      new ExpressionInfo(graft.operators.NgramLm.getClass.getName, "graft_ppl_buckets"),
      pplBucketsPlan _),
    "graft_token_budget" -> (
      new ExpressionInfo(graft.operators.Sampling.getClass.getName, "graft_token_budget"),
      tokenBudgetPlan _),
    "graft_max_dup_spans" -> (
      new ExpressionInfo(graft.operators.TextDedup.getClass.getName, "graft_max_dup_spans"),
      maxDupSpansPlan _),
    "graft_hashed_knn" -> (
      new ExpressionInfo(graft.operators.TextVectors.getClass.getName, "graft_hashed_knn"),
      hashedKnnPlan _),
    "graft_kmv_setops" -> (
      new ExpressionInfo(graft.operators.Sketches.getClass.getName, "graft_kmv_setops"),
      kmvSetOpsPlan _),
    "graft_jl_project" -> (
      new ExpressionInfo(graft.operators.Similarity.getClass.getName, "graft_jl_project"),
      jlProjectPlan _),
    "graft_text_clusters" -> (
      new ExpressionInfo(graft.operators.TextVectors.getClass.getName, "graft_text_clusters"),
      textClustersPlan _),
    "graft_dup_span_removal" -> (
      new ExpressionInfo(graft.operators.TextDedup.getClass.getName, "graft_dup_span_removal"),
      dupSpanRemovalPlan _),
    "graft_keep_best" -> (
      new ExpressionInfo(graft.operators.Components.getClass.getName, "graft_keep_best"),
      keepBestPlan _))

  /** Register every graft function on a live session (idempotent). */
  def register(spark: SparkSession): Unit = {
    builders.foreach { case (name, (_, builder)) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "built-in")
    }
    tableBuilders.foreach { case (name, (_, builder)) =>
      spark.sessionState.tableFunctionRegistry.createOrReplaceTempFunction(
        name, builder, "built-in")
    }
  }
}
