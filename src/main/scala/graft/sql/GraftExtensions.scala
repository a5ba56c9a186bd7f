package graft.sql

import org.apache.spark.sql.{Column, DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Divide, Expression, ExpressionInfo, Multiply, Sqrt}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions.{col, expr, md5}
import org.apache.spark.sql.types.{BinaryType, ByteType, DoubleType, IntegerType, LongType, ShortType, StringType, StructField, StructType}
import graft.functions.{AhoCorasick, DotProduct, MultimodalExpressions, TextExpressions, VectorExpressions}
import graft.operators.{Bloom, Components, Dsir, FuzzyMatch, Layout, NgramLm, Sampling, Similarity, Sketches, Stream, TextAnalysis, TextDedup, TextVectors}

/** SQL surface of the engine (SURVEY.md §7.2 M7).
  *
  * Registers the graft scalar and table functions so plain `spark.sql`
  * users get them; usable two ways:
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

  /** Every scalar kernel: each kernel object's own table plus `graft_cosine`. */
  val builders: Map[String, (ExpressionInfo, Seq[Expression] => Expression)] =
    (TextExpressions.functions ++ VectorExpressions.functions ++
      AhoCorasick.functions ++ MultimodalExpressions.functions :+
      FunctionTable.kernel[DotProduct]("graft_cosine")(cosine)).toMap

  /** The literal arguments of one table-function call. */
  final class Args private[GraftExtensions] (fn: String, args: Seq[Expression]) {
    /** Argument `i` as a string; it must be a literal (a foldable). */
    def str(i: Int): String = {
      val e = args(i)
      require(e.foldable, s"$fn arguments must be literals, got $e")
      String.valueOf(e.eval(null))
    }
    def opt(i: Int): Option[String] = if (i < args.length) Some(str(i)) else None
    /** The registered view named by argument `i`. */
    def table(i: Int): DataFrame = SparkSession.active.table(str(i))
    def int(i: Int): Int = str(i).toInt
    def int(i: Int, default: Int): Int = opt(i).fold(default)(_.toInt)
    def long(i: Int): Long = str(i).toLong
    def long(i: Int, default: Long): Long = opt(i).fold(default)(_.toLong)
    def ids(i: Int): Seq[Long] = str(i).split(',').map(_.trim.toLong).toSeq
  }

  /** Table function `name`: its arguments must be literals naming
    * registered views plus operator options, and `build` delegates to
    * the operator's DataFrame API, so SQL users get the exact gated
    * plan, not a reimplementation. `usage` is the argument list the
    * arity error quotes; `owner` is the operator its info names.
    */
  private def tvf(name: String, owner: AnyRef, usage: String, arities: Int*)(
      build: Args => DataFrame): FunctionTable.Entry[LogicalPlan] =
    name -> (new ExpressionInfo(owner.getClass.getName, name), { (args: Seq[Expression]) =>
      require(arities.contains(args.length), s"$name expects $usage literals")
      build(new Args(name, args)).queryExecution.logical
    })

  /** The output schema a declared-format stream TVF fixes at analysis
    * time, like the reference's mandatory `types:`/`names:` keywords
    * (`src/StreamSettings.h:97-116`).
    */
  private def declared(a: Args, format: String): StructType = {
    val types = a.str(2).split(',').map(_.trim.toLowerCase)
    val names = a.str(3).split(',').map(_.trim)
    require(types.length == names.length,
      s"types (${types.length}) and names (${names.length}) must have equal arity")
    StructType(names.zip(types).toSeq.map { case (n, t) =>
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
  }

  /** `df(name)` as a long, failing loudly unless the column is
    * integral: `cast("long")` would turn a string/float id or signature
    * into nulls and mine an empty (or wrong) pair set.
    */
  private def integral(df: DataFrame, name: String, fn: String): Column = {
    val dt = df.schema(name).dataType
    require(Seq(LongType, IntegerType, ShortType, ByteType).contains(dt),
      s"$fn column '$name' must be integral (64-bit signature semantics); " +
        s"got ${dt.simpleString} — cast it explicitly in the view if that is intended")
    df(name).cast("long")
  }

  private val StreamArgs = "(table_name, command, types_csv, names_csv[, chunk_size])"

  val tableBuilders: Map[String, (ExpressionInfo, Seq[Expression] => LogicalPlan)] = Map(
    // the reference's stream(A, 'cmd'[, chunk_size:…]); the TSV format fixes the schema
    tvf("graft_stream_tsv", Stream, "(table_name, command[, chunk_size])", 2, 3) { a =>
      Stream.tsv(a.table(0), a.str(1), a.int(2, 10000)) },
    // stream(A, 'cmd', format:'feather', types:…, names:…)
    tvf("graft_stream_arrow", Stream, StreamArgs, 4, 5) { a =>
      Stream.arrow(a.table(0), a.str(1), declared(a, "Arrow"), a.int(4, 10000)) },
    // stream(A, 'cmd', format:'df', types:…, names:…)
    tvf("graft_stream_df", Stream, StreamArgs, 4, 5) { a =>
      Stream.df(a.table(0), a.str(1), declared(a, "R df"), a.int(4, 10000)) },
    // q102: all row pairs within edit distance 1
    tvf("graft_fuzzy_pairs", FuzzyMatch,
        "(table_name, id_col, str_col[, max_variant_freq])", 3, 4) { a =>
      FuzzyMatch.editDistance1Pairs(a.table(0), a.str(1), a.str(2), a.opt(3).map(_.toInt)) },
    // q95: big-side rows whose key might be in the small side's key set
    tvf("graft_bloom_prefilter", Bloom,
        "(big_table, big_key, small_table, small_key[, m, k])", 4, 5, 6) { a =>
      val (big, small) = (a.table(0), a.table(2))
      Bloom.prefilter(big, big(a.str(1)), small, small(a.str(3)), a.int(4, 1 << 20), a.int(5, 3)) },
    // q94: Z-order layout clustering
    tvf("graft_zorder", Layout, "(table_name, dims_csv, num_partitions)", 3) { a =>
      val df = a.table(0)
      Layout.zorder(df, a.str(1).split(',').map(c => df(c.trim)).toSeq, a.int(2)) },
    // q107: DSIR importance weights
    tvf("graft_dsir", Dsir,
        "(raw_table, target_table[, id_col, text_col[, buckets]])", 2, 4, 5) { a =>
      Dsir.importanceWeights(a.table(0), a.table(1), a.opt(2).getOrElse("doc_id"),
        a.opt(3).getOrElse("text"), a.int(4, 65536)) },
    // q112: SemDeDup cluster id, keep/drop decision and witness per row
    tvf("graft_semantic_dedup", Similarity,
        "(table_name, seed_ids_csv, threshold[, iters])", 3, 4) { a =>
      Similarity.semanticDedup(a.table(0), a.ids(1), a.str(2).toDouble, a.int(3, 0)) },
    // q113: prototypicality ranking
    tvf("graft_prototypes", Similarity, "(table_name, seed_ids_csv[, iters])", 2, 3) { a =>
      Similarity.prototypicality(a.table(0), a.ids(1), a.int(2, 0)) },
    // q38/q136/q140: near-dup pairs over any 64-bit signature column,
    // max_band_freq caps hot bands
    tvf("graft_near_dup", TextDedup,
        "(table_name, id_col, sig_col[, max_hamming[, max_band_freq]])", 3, 4, 5) { a =>
      val df = a.table(0)
      TextDedup.hammingPairs64(
        df.select(integral(df, a.str(1), "graft_near_dup").as("doc_id"),
          integral(df, a.str(2), "graft_near_dup").as("simhash")),
        a.int(3, 3), a.opt(4).map(_.toLong)) },
    // q117: greedy farthest-point-first selection
    tvf("graft_kcenter", Similarity, "(table_name, k[, start_id])", 2, 3) { a =>
      Similarity.kCenterSelect(a.table(0), a.int(1), a.long(2, 0L)) },
    // q147: first-occurrence k-gram novelty per document
    tvf("graft_novelty", TextAnalysis, "(table_name[, k])", 1, 2) { a =>
      TextAnalysis.noveltyStats(a.table(0), a.int(1, 3)) },
    // q77/q145: batch dedup against a persisted MinHash signature index
    tvf("graft_dedup_index", TextDedup, "(table_name, index_path[, threshold])", 2, 3) { a =>
      TextDedup.nearDupsAgainstIndex(a.table(0), a.str(1), a.opt(2).fold(0.5)(_.toDouble)) },
    // q148: integer-exact Lloyd iterations, final (vec_id, cluster, d2)
    tvf("graft_kmeans", Similarity, "(table_name, k, rounds)", 3) { a =>
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
      graft.Tables.trackOperatorCache(
        Similarity.kmeansIntRounds(a.table(0), a.int(1), a.int(2))) },
    // q162: content-defined chunks with cross-doc share counts
    tvf("graft_cdc_chunks", TextDedup, "(table_name[, w[, d]])", 1, 2, 3) { a =>
      TextDedup.cdcChunkStats(a.table(0), a.int(1, 8), a.int(2, 32)) },
    // q163: batch chunks annotated from a persisted chunk-hash index
    tvf("graft_cdc_probe", TextDedup, "(table_name, index_path[, w[, d]])", 2, 3, 4) { a =>
      TextDedup.cdcProbeAgainstChunkIndex(a.table(0), a.str(1), a.int(2, 8), a.int(3, 32)) },
    // q164: keep-first chunk-removal manifest
    tvf("graft_cdc_manifest", TextDedup, "(table_name[, w[, d]])", 1, 2, 3) { a =>
      TextDedup.cdcKeepFirstManifest(a.table(0), a.int(1, 8), a.int(2, 32)) },
    // q168: decontamination removal intervals per training doc
    tvf("graft_decontam_apply", TextDedup,
        "(train_table, bench_table[, window_chars[, pad_chars]])", 2, 3, 4) { a =>
      TextDedup.decontamSpanRemovalStats(a.table(0), a.table(1), a.int(2, 40), a.int(3, 0)) },
    // q169: normalization-collapsing keep-first dedup manifest
    tvf("graft_norm_dedup", TextDedup, "(table_name)", 1) { a =>
      TextDedup.normalizedDedup(a.table(0)) },
    // q161: capped banded probe against a persisted 64-bit signature index
    tvf("graft_media_dedup_index", TextDedup,
        "(table_name, index_path[, max_hamming[, max_band_freq]])", 2, 3, 4) { a =>
      val df = a.table(0)
      TextDedup.nearDupsAgainstHashIndex(
        df.select(integral(df, "doc_id", "graft_media_dedup_index").as("doc_id"),
          integral(df, "simhash", "graft_media_dedup_index").as("simhash")),
        a.str(1), a.int(2, 3), a.opt(3).map(_.toLong)) },
    // q121: product-quantization codes + integer ADC estimate
    tvf("graft_pq", Similarity, "(table_name, m, k_code[, query_vec_id])", 3, 4) { a =>
      Similarity.pqEncodeAdc(a.table(0), a.int(1), a.int(2), a.long(3, 0L)) },
    // q114: winnowing fingerprints with cross-doc share counts
    tvf("graft_winnow_stats", TextDedup, "(table_name[, k, w])", 1, 3) { a =>
      TextDedup.winnowMatchStats(a.table(0), a.int(1, 4), a.int(2, 5)) },
    // q115: CCNet-style perplexity buckets
    tvf("graft_ppl_buckets", NgramLm,
        "(table_name[, id_col, text_col[, min_count, n_buckets]])", 1, 3, 5) { a =>
      NgramLm.perplexityBuckets(a.table(0), a.opt(1).getOrElse("doc_id"),
        a.opt(2).getOrElse("text"), a.long(3, 2L), a.int(4, 3)) },
    // q120: token-budget subset selection
    tvf("graft_token_budget", Sampling,
        "(table_name, id_col, score_col, tokens_col, budget_num, budget_den)", 6) { a =>
      Sampling.tokenBudgetSelect(a.table(0), a.str(1), a.str(2), a.str(3), a.long(4), a.long(5)) },
    // q127: maximal duplicated spans
    tvf("graft_max_dup_spans", TextDedup, "(table_name[, span_words, min_docs])", 1, 3) { a =>
      TextDedup.maxDupSpans(a.table(0), a.int(1, 10), a.int(2, 2)) },
    // q125: embedding-free cosine kNN over hashing-trick vectors
    tvf("graft_hashed_knn", TextVectors, "(table_name, query_doc_id[, dim, k])", 2, 4) { a =>
      TextVectors.hashedKnn(a.table(0), a.long(1), a.int(2, 256), a.int(3, 20)) },
    // q126: cross-source KMV union/intersection/Jaccard estimates, the
    // hash-uniform derived from the key column by the shared md5-prefix u01
    tvf("graft_kmv_setops", Sketches, "(table_name, group_col, key_col[, k])", 3, 4) { a =>
      val df = a.table(0)
      require(!df.columns.contains("_graft_kmv_h") && !df.columns.contains("_graft_kmv_u"),
        "input already has a _graft_kmv_h/_graft_kmv_u column; rename it")
      val withU = df
        .withColumn("_graft_kmv_h", md5(df(a.str(2)).cast("string").cast("binary")))
        .withColumn("_graft_kmv_u", expr(Sampling.u01Spark("_graft_kmv_h")))
      Sketches.kmvSetOps(withU, a.str(1), col("_graft_kmv_u"), a.int(3, 64)) },
    // q128: ±1 JL random projection
    tvf("graft_jl_project", Similarity, "(table_name[, out_dim])", 1, 2) { a =>
      Similarity.randomProject(a.table(0), a.int(1, 16)) },
    // q129: integer-exact text clustering over hashing-trick vectors
    tvf("graft_text_clusters", TextVectors, "(table_name, seed_doc_ids_csv[, dim])", 2, 3) { a =>
      TextVectors.clusterAssign(a.table(0), a.ids(1), a.int(2, 256)) },
    // q131: keep-one span-removal manifest
    tvf("graft_dup_span_removal", TextDedup, "(table_name[, span_words, min_docs])", 1, 3) { a =>
      TextDedup.dupSpanRemovalStats(a.table(0), a.int(1, 10), a.int(2, 2)) },
    // q134: quality-aware dup-cluster keep policy
    tvf("graft_keep_best", Components,
        "(pairs_table, scored_table, id_col, score_col)", 4) { a =>
      Components.keepBestInCluster(a.table(0), a.table(1), a.str(2), a.str(3)) })

  /** Register every graft function on a live session (idempotent). */
  def register(spark: SparkSession): Unit = {
    FunctionTable.register(spark, builders)
    FunctionTable.install(spark.sessionState.tableFunctionRegistry, tableBuilders)
  }
}
