package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling and corpus-shaping operators.
  *
  * All randomness is hash-derived (the reference's reproducible-RNG
  * contract, `r_pkg/vignettes/poLCA.Rmd:34-43`, mapped to per-row seed
  * hashing): md5 over a seed column gives decisions that are identical
  * on any engine, any partitioning, any cluster size — and replayable
  * by the DuckDB oracles bit-for-bit.
  */
object Sampling {

  /** Schema-metadata key [[concatChunk]] stamps on `start_off` with the
    * `sepTokens` it packed with, so interval consumers
    * ([[chunkManifest]]) can reject a separated stream loudly.
    */
  final val SepTokensMetaKey = "graft_sep_tokens"

  /** u in [0,1) from the first 13 hex digits (52 bits — exact in an
    * IEEE double) of a 32-hex hash string: prefix / 16^13. One hex
    * parse per row instead of the earlier 16-term per-digit expansion,
    * whose ~50-node expression tree cost multi-second janino compiles
    * per query for identical semantics. Binary-exact both engines.
    * The hash is computed once into a column named by `hashCol`.
    */
  private val U01Denom = "4503599627370496.0" // 16^13 = 2^52

  /** Spark SQL flavor (`conv(hex, 16, 10)`). */
  def u01Spark(hashCol: String): String =
    s"(cast(conv(substr($hashCol, 1, 13), 16, 10) as bigint) / $U01Denom)"

  /** DuckDB flavor (`'0x…'::BIGINT` hex cast) — for oracle SQL only. */
  def u01Duck(hashCol: String): String =
    s"(CAST(('0x' || substr($hashCol, 1, 13)) AS BIGINT) / $U01Denom)"

  /** Seeded mixture resampling: keep each row iff its hash-uniform
    * u < rate(stratum) — the corpus-rebalancing primitive (downsample
    * boilerplate-heavy sources, upweight scarce ones) every
    * training-data pipeline runs before tokenization. Pure narrow
    * filter: no shuffle, no state, reproducible under retries and
    * repartitioning because the decision depends only on `seedCol`.
    */
  def seededMixture(df: DataFrame, stratumCol: String, seedCol: String,
                    rates: Map[String, Double],
                    defaultRate: Double): DataFrame = {
    // distinctive scratch names, and an explicit error on collision:
    // withColumn would silently overwrite (and drop would then delete)
    // a caller's column of the same name
    val (h, u) = ("_graft_mixture_h", "_graft_mixture_u")
    require(!df.columns.contains(h) && !df.columns.contains(u),
      s"input already has a $h/$u column; rename it before seededMixture")
    val rateExpr = rates.foldLeft(when(lit(false), lit(0.0))) {
      case (acc, (k, v)) => acc.when(col(stratumCol) === k, lit(v))
    }.otherwise(lit(defaultRate))
    df.withColumn(h, md5(col(seedCol).cast("string").cast("binary")))
      .withColumn(u, expr(u01Spark(h)))
      .filter(col(u) < rateExpr)
      .drop(h, u)
  }

  /** Deterministic weighted sampling without replacement: keep the `k`
    * rows per stratum with the largest `ln(u) / w` key (the
    * Efraimidis–Spirakis A-ES scheme under a log transform — order-
    * equivalent to `u^(1/w)`, numerically tamer). Heavier rows win
    * proportionally more often, yet the draw is a pure function of the
    * seed column: identical on any engine, partitioning, or cluster
    * size, and replayable under retries. One window shuffle on the
    * stratum key — and because the filter is `row_number() <= k`,
    * Spark plans a WindowGroupLimit that trims every partition to its
    * local top-k BEFORE the exchange (asserted in PlanQualitySpec), so
    * only k rows per stratum per partition ever shuffle.
    *
    * Rows with null/non-positive weight are excluded (they have no
    * defensible inclusion probability).
    *
    * u is clamped to ≥ 2⁻⁵³ before the log: an all-zero 13-digit hash
    * prefix (p ≈ 2⁻⁵² per row — real money across trillions of rows)
    * would otherwise make Spark's `log(0)` null (row silently sorts
    * last, never sampled) while DuckDB's `ln(0)` throws. The clamp is
    * sub-resolution (every non-zero u is ≥ 2⁻⁵²) and exact in both
    * engines, so it changes no draw except un-excluding the u=0 row.
    */
  def weightedTopK(df: DataFrame, stratumCol: String, seedCol: String,
                   weightCol: String, k: Int): DataFrame = {
    require(k > 0)
    val (h, key, rn) = ("_graft_ws_h", "_graft_ws_key", "_graft_ws_rn")
    require(Seq(h, key, rn).forall(!df.columns.contains(_)),
      s"input already has a $h/$key/$rn column; rename it before weightedTopK")
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(col(key).desc, col(seedCol).asc)
    df.filter(col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn(h, md5(col(seedCol).cast("string").cast("binary")))
      .withColumn(key,
        log(greatest(expr(u01Spark(h)), lit(math.pow(2, -53)))) / col(weightCol))
      .withColumn(rn, row_number().over(w))
      .filter(col(rn) <= k)
      .drop(h, key, rn)
  }

  /** Temperature-scaled mixture weights per stratum: weight_s =
    * sqrt(size_s / max_size) — the τ=2 source-rebalancing curve
    * (upweight scarce sources relative to the dominant one) used to
    * derive the `rates` fed to [[seededMixture]]. The exponent is
    * fixed at 1/2 deliberately: IEEE `sqrt` is correctly rounded in
    * every engine, so the weight is bit-deterministic and oracle-
    * replayable, where a general `pow(x, alpha)` is not. Normalizing
    * by the max stratum (exact, order-free) rather than the sum keeps
    * the result independent of float summation order.
    */
  def temperatureWeights(df: DataFrame, stratumCol: String,
                         sizeCol: String): DataFrame = {
    val totals = df.groupBy(col(stratumCol)).agg(sum(col(sizeCol)).as("total"))
    val mx = totals.agg(max(col("total")).as("max_total"))
    totals.crossJoin(broadcast(mx))
      .withColumn("weight", sqrt(col("total") / col("max_total")))
      .select(col(stratumCol), col("total"), round(col("weight"), 4).as("weight"))
      .orderBy(col(stratumCol))
  }

  /** Deterministic train/validation/test split: each row's hash-uniform
    * u falls into one of the cumulative weight bands, yielding a
    * `split` label that is a pure function of the seed column —
    * identical on any engine or partitioning, stable when the corpus
    * grows (a doc never migrates between splits unless its band
    * boundary moves). Pure narrow projection: no shuffle.
    */
  /** Near-dup-leakage-safe split: like [[assignSplit]], but every
    * member of a duplicate cluster draws its band from the CLUSTER
    * REPRESENTATIVE (the component label), so near-duplicates can
    * never straddle train/test — the eval-leakage channel a plain
    * per-doc split leaves open (a test doc whose near-copy sits in
    * train is a leaked answer, and at corpus scale there are millions
    * of them). `pairs` = verified near-dup edges (doc_a, doc_b) from
    * any miner ([[TextDedup.minhashLshPairs]], simhash, embedding
    * LSH); unclustered docs band on their own id exactly as before,
    * so this degrades to [[assignSplit]] when `pairs` is empty. Cost
    * over assignSplit: the pointer-jumping components labeling
    * (pairs-sized) + one left join of the (clustered-docs-sized)
    * label table onto the corpus.
    */
  def leakageSafeSplit(docs: DataFrame, pairs: DataFrame, seedCol: String,
                       splits: Seq[(String, Double)],
                       splitCol: String = "split"): DataFrame = {
    val key = "_graft_split_key"
    require(!docs.columns.contains(key),
      s"input already has a $key column; rename it before leakageSafeSplit")
    val labels = Components.dupClusters(pairs)
      .withColumnRenamed("doc_id", seedCol)
    val keyed = docs.join(labels, Seq(seedCol), "left")
      .withColumn(key, coalesce(col("component"), col(seedCol)))
      .drop("component")
    assignSplit(keyed, key, splits, splitCol).drop(key)
  }

  def assignSplit(df: DataFrame, seedCol: String,
                  splits: Seq[(String, Double)],
                  splitCol: String = "split"): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 > 0),
      "splits must be non-empty with positive weights")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"split weights must sum to 1, got ${splits.map(_._2).sum}")
    require(!df.columns.contains(splitCol),
      s"input already has a $splitCol column; pass a different splitCol")
    val h = "_graft_split_h"
    require(!df.columns.contains(h),
      s"input already has a $h column; rename it before assignSplit")
    val cuts = splits.scanLeft(0.0) { case (acc, (_, w)) => acc + w }.tail
    val u = expr(u01Spark(h))
    // the last band is an unconditional otherwise: u < 1 always, and a
    // float-summed final cut fractionally below 1 must not leak rows
    // into a null split
    val labelled = splits.init.zip(cuts.init)
      .foldLeft(when(lit(false), lit(null: String))) {
        case (acc, ((name, _), cut)) => acc.when(u < lit(cut), lit(name))
      }.otherwise(lit(splits.last._1))
    df.withColumn(h, md5(col(seedCol).cast("string").cast("binary")))
      .withColumn(splitCol, labelled)
      .drop(h)
  }

  /** Deterministic shard assignment for training-data output: shard =
    * hash(seed) mod nShards and `shard_pos` = the row's rank within its
    * shard ordered by (hash, seed) — i.e. the byte layout a writer
    * produces with `repartition(nShards, shard).sortWithinPartitions`.
    * Both columns are pure functions of the seed column: retries,
    * repartitioning, and cluster size cannot reorder a shard. The rank
    * is one window shuffle keyed on the shard id; at production scale
    * nShards should be ≥ the write parallelism you want (each shard is
    * one window partition).
    */
  def assignShards(df: DataFrame, seedCol: String, nShards: Int): DataFrame = {
    require(nShards > 0)
    val (h, shard, pos) = ("_graft_shard_h", "shard", "shard_pos")
    require(Seq(h, shard, pos).forall(!df.columns.contains(_)),
      s"input already has a $h/$shard/$pos column; rename it before assignShards")
    val w = Window.partitionBy(col(shard)).orderBy(col(h).asc, col(seedCol).asc)
    df.withColumn(h, md5(col(seedCol).cast("string").cast("binary")))
      .withColumn(shard,
        pmod(expr(s"cast(conv(substr($h, 1, 13), 16, 10) as bigint)"), lit(nShards.toLong)))
      .withColumn(pos, row_number().over(w).cast("long"))
      .drop(h)
  }

  /** Fixed-boundary sequence packing: within each `partitionCol` group
    * ordered by `orderCol`, a row's bin is
    * `floor(tokens_before_it / budget)` — consecutive docs pack into
    * ~budget-token bins (a bin may overflow by its last doc, the
    * standard streaming-packing tolerance). This is deliberately NOT
    * greedy reset-based packing: a greedy packer's bin boundary depends
    * on every earlier decision (inherently sequential state), while the
    * fixed-boundary variant is one window cumsum — embarrassingly
    * parallel per group, which is what survives a 100 TB corpus.
    * Returns the input plus a `bin` column. A single doc larger than
    * `budget` advances the cumsum past several boundaries, so bin ids
    * within a group are nondecreasing but NOT necessarily contiguous —
    * consumers must iterate the bins that exist, not `0..max`.
    */
  def packByTokenBudget(df: DataFrame, tokensCol: String, budget: Long,
                        partitionCol: String, orderCol: String,
                        binCol: String = "bin"): DataFrame = {
    require(budget > 0)
    // same hazard seededMixture guards: withColumn silently overwrites
    require(!df.columns.contains(binCol),
      s"input already has a $binCol column; pass a different binCol")
    val before = Window.partitionBy(col(partitionCol)).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn(binCol,
      floor(coalesce(sum(col(tokensCol)).over(before), lit(0L)) / lit(budget))
        .cast("long"))
  }

  /** Token-exact concat-and-chunk packing — the standard pretraining
    * export format: within each `partitionCol` shard, documents are
    * conceptually concatenated in `orderCol` order and the token
    * stream is cut into EXACT `seqLen`-token training sequences, so a
    * document may span a sequence boundary (unlike
    * [[packByTokenBudget]], whose bins break at doc edges and may
    * overflow). Per input row this adds:
    *
    *  - `start_off`: tokens before the doc in its shard's stream
    *  - `first_seq` / `last_seq`: the sequence ids the doc's first and
    *    last token land in (`floor(start_off / seqLen)` and
    *    `floor((start_off + tokens - 1) / seqLen)`)
    *  - `n_seqs_spanned`: `last_seq - first_seq + 1` — > 1 iff the doc
    *    is split across a boundary
    *
    * Scale shape: ONE window cumsum partitioned by the shard key —
    * shards are the parallel unit (the writer that materializes the
    * sequences is per-shard sequential by the format's definition, so
    * the plan mirrors production exactly); no global sort, no state.
    * Everything is integer arithmetic on token counts, so any engine
    * replays the same boundaries bit-for-bit. Rows with non-positive
    * token counts are excluded — an empty doc occupies no tokens of
    * the stream, so it has no defensible sequence span.
    */
  /** `sepTokens`: tokens the writer appends after EVERY document
    * (EOS/BOS separators — real packers always insert at least one,
    * and it shifts every later boundary). A doc's span covers its own
    * tokens plus its trailing separators; offsets are over the
    * separated stream. 0 (the default) is the raw concatenation.
    */
  def concatChunk(df: DataFrame, tokensCol: String, seqLen: Long,
                  partitionCol: String, orderCol: String,
                  sepTokens: Long = 0L): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    require(sepTokens >= 0, s"sepTokens must be >= 0, got $sepTokens")
    val added = Seq("start_off", "first_seq", "last_seq", "n_seqs_spanned")
    require(added.forall(!df.columns.contains(_)),
      s"input already has one of ${added.mkString("/")}; rename it first")
    val before = Window.partitionBy(col(partitionCol)).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    // stamp the separator width into the output schema so consumers
    // that assume the raw concatenation (chunkManifest) can DETECT a
    // separated stream instead of silently mis-tiling it — nothing in
    // the data itself distinguishes the two
    val sepMeta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(SepTokensMetaKey, sepTokens).build()
    df.filter(col(tokensCol) > 0)
      .withColumn("start_off",
        coalesce(sum(col(tokensCol) + lit(sepTokens)).over(before), lit(0L))
          .cast("long").as("start_off", sepMeta))
      // `div`, not `/`: float division truncates wrongly past 2^53 —
      // real token offsets at corpus scale sit within a long, so the
      // boundary math stays integer end-to-end
      .withColumn("first_seq", expr(s"start_off div $seqLen"))
      .withColumn("last_seq",
        expr(s"(start_off + $tokensCol + $sepTokens - 1) div $seqLen"))
      .withColumn("n_seqs_spanned", col("last_seq") - col("first_seq") + 1L)
  }

  /** The writer-side manifest of [[concatChunk]]: one row per
    * (document, training sequence) SEGMENT — which token interval of
    * the doc lands in which interval of the sequence. This is the
    * structure a sequence writer (and its attention-mask /
    * provenance metadata) consumes: per sequence, the ordered
    * segments tile `[0, seqLen)` (the per-shard tail sequence tiles a
    * prefix), and per document the segments tile `[0, tokens)`.
    *
    * Input must be [[concatChunk]] output (carries `start_off` /
    * `first_seq` / `last_seq`) produced with `sepTokens = 0` — the
    * interval arithmetic below assumes a doc's span is exactly its
    * own tokens; separator-aware manifests belong to the writer that
    * knows what the separators are. Adds per segment:
    *
    *  - `seq`: the training-sequence id within the shard
    *  - `seg_doc_from` / `seg_doc_to`: the doc's token interval
    *    (half-open) contributing to this sequence
    *  - `seg_seq_from`: where that interval starts inside the sequence
    *  - `n_seg_tokens`: interval width, > 0 by construction
    *
    * Scale shape: `explode(sequence(first_seq, last_seq))` — output
    * and work are docs + boundary crossings (crossings ≈ total tokens
    * / seqLen), never docs × sequences; everything after the explode
    * is integer arithmetic in the same projection, no extra shuffle
    * beyond [[concatChunk]]'s one window.
    */
  def chunkManifest(packed: DataFrame, tokensCol: String,
                    seqLen: Long): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    require(Seq("start_off", "first_seq", "last_seq").forall(
        packed.columns.contains(_)),
      "chunkManifest consumes concatChunk output (start_off/first_seq/last_seq)")
    // loud-fail on a separated stream: concatChunk stamps sepTokens
    // into start_off's metadata; a doc's span there covers separator
    // tokens this manifest's doc-interval arithmetic knows nothing
    // about, so the segment tiling would be silently wrong
    val m = packed.schema("start_off").metadata
    val sep = if (m.contains(SepTokensMetaKey)) m.getLong(SepTokensMetaKey) else 0L
    require(sep == 0L,
      s"chunkManifest requires concatChunk output built with sepTokens = 0 " +
        s"(got $sep): separator-aware manifests belong to the writer that " +
        "knows what the separators are")
    packed
      .withColumn("seq", explode(sequence(col("first_seq"), col("last_seq"))))
      .withColumn("seg_doc_from",
        greatest(lit(0L), col("seq") * seqLen - col("start_off")))
      .withColumn("seg_doc_to",
        least(col(tokensCol).cast("long"),
          (col("seq") + 1L) * seqLen - col("start_off")))
      .withColumn("seg_seq_from",
        col("start_off") + col("seg_doc_from") - col("seq") * seqLen)
      .withColumn("n_seg_tokens", col("seg_doc_to") - col("seg_doc_from"))
      .drop("first_seq", "last_seq", "n_seqs_spanned")
  }

  /** Fractional-epoch repeat schedule: MATERIALIZE a data mixture as
    * per-document repeat counts — the step that turns "source s gets
    * weight w of a B-token budget" into the actual training list.
    * Each source's token target is `floor(B·w_s / Σw)` (exact
    * integers); the source repeats in full `floor(target/corpus_s)`
    * times, and the remaining tokens come from a deterministic
    * md5-ordered prefix: a doc earns one extra repeat iff the tokens
    * before it leave room for any of it (`cum_before < rem`, the
    * boundary-doc convention of [[concatChunk]]). Fractional epochs
    * are how real mixtures land (2.3 epochs of books, 0.7 of web);
    * hash order makes the partial epoch a stable, engine-independent
    * subset instead of "whatever the scan returned first".
    *
    * `weights`: (`sourceCol`, weight) with INTEGER weights — ratios
    * like 3:2:1, so targets replay exactly in any engine. Sources
    * absent from `weights` get repeat 0 (still emitted: the schedule
    * is total). Zero-token docs are excluded.
    *
    * Scale shape: one per-source aggregation joined back broadcast
    * (|sources| rows), one window cumsum per source — the same
    * shuffle budget as [[concatChunk]]. All-integer outputs.
    */
  def epochRepeats(df: DataFrame, idCol: String, sourceCol: String,
                   tokensCol: String, weights: DataFrame,
                   budgetTokens: Long): DataFrame = {
    require(budgetTokens >= 0, s"budget must be >= 0, got $budgetTokens")
    // duplicate weight rows for one source would fan out the join AND
    // double-count the denominator inconsistently; summing per source
    // first gives duplicates one well-defined meaning (they add)
    val w1 = weights.groupBy(col(sourceCol))
      .agg(sum(col("weight").cast("long")).as("_w"))
    // weights is a config table (a handful of rows by construction),
    // so validating its total eagerly is a bounded driver action —
    // an empty table or zero total would otherwise surface as null
    // targets rows later instead of failing here. NOTE the documented
    // denominator semantics: the total includes weight rows for
    // sources ABSENT from `df` — their budget share is deliberately
    // left unspent (the mixture says what fraction each source GETS,
    // not how to redistribute a missing source's share); filter the
    // weights table first if redistribution is wanted.
    val denRow = w1.agg(sum(col("_w"))).head()
    require(!denRow.isNullAt(0) && denRow.getLong(0) > 0,
      "epochRepeats needs a non-empty weights table with positive total weight")
    val den = w1.agg(sum(col("_w")).as("_den"))
    val targets = df.filter(col(tokensCol) > 0)
      .groupBy(col(sourceCol))
      .agg(sum(col(tokensCol).cast("long")).as("_src_tokens"))
      .join(w1, Seq(sourceCol), "left")
      .na.fill(0L, Seq("_w"))
      .crossJoin(broadcast(den))
      .withColumn("_target",
        expr(s"($budgetTokens * _w) div _den"))
      .withColumn("_full", expr("_target div _src_tokens"))
      .withColumn("_rem", col("_target") - col("_full") * col("_src_tokens"))
      .select(col(sourceCol), col("_full"), col("_rem"))
    val h = md5(col(idCol).cast("string").cast("binary"))
    val before = Window.partitionBy(col(sourceCol))
      .orderBy(h.asc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.filter(col(tokensCol) > 0)
      .join(broadcast(targets), Seq(sourceCol))
      .withColumn("_cum_before",
        coalesce(sum(col(tokensCol).cast("long")).over(before), lit(0L)))
      .select(col(idCol), col(sourceCol),
        col(tokensCol).cast("long").as(tokensCol),
        (col("_full") +
          when(col("_cum_before") < col("_rem"), 1L).otherwise(0L))
          .as("n_repeats"))
  }

  /** The physical training order of an [[epochRepeats]] schedule:
    * every (document, repeat) instance gets a deterministic
    * (shard, shard_pos) — repeats explode into one row each, the
    * instance seed is `id#rep` so two repeats of the same doc land in
    * INDEPENDENT hash positions (the well-mixed global shuffle
    * pretraining wants — epochs interleave instead of concatenating),
    * and [[assignShards]] turns the seed into the writer layout.
    * Reproducible on any engine/partitioning; scale cost = the explode
    * (output ∝ scheduled instances) + assignShards' one window.
    */
  def trainOrder(schedule: DataFrame, idCol: String,
                 nShards: Int): DataFrame = {
    require(schedule.columns.contains("n_repeats"),
      "trainOrder consumes epochRepeats output (needs n_repeats)")
    val seed = "_graft_order_seed"
    require(!schedule.columns.contains(seed),
      s"input already has a $seed column; rename it before trainOrder")
    val exploded = schedule.filter(col("n_repeats") > 0)
      .withColumn("rep", explode(sequence(lit(1L), col("n_repeats"))))
      .withColumn(seed, concat(col(idCol).cast("string"), lit("#"),
        col("rep").cast("string")))
    assignShards(exploded, seed, nShards).drop(seed)
  }

  /** Deterministic fill-in-the-middle (FIM) split plan: for a
    * hash-chosen `fimNum/fimDen` fraction of documents, cut the token
    * stream into prefix `[0, a)` / middle `[a, b)` / suffix `[b, n)`
    * at hash-derived points, plus the PSM-vs-SPM mode flag — the
    * standard code-model pretraining transform (Bavarian et al. 2022 /
    * StarCoder), emitted as an integer PLAN (lengths, not strings) so
    * the downstream packer can apply it during sequence writing.
    * Every decision is a pure function of the id: any engine, retry,
    * or partitioning reproduces the same splits, and an oracle replays
    * them bit-for-bit. Unselected docs (and docs under 2 tokens) pass
    * through whole (`a = b = n`). Prefix is never empty; middle and
    * suffix may be. Pure narrow projection — no shuffle.
    */
  def fimSplit(docs: DataFrame, idCol: String, tokensCol: String,
               fimNum: Long = 1L, fimDen: Long = 2L): DataFrame = {
    require(fimDen > 0 && fimNum >= 0,
      s"fim fraction must be >= 0 with positive denominator, got $fimNum/$fimDen")
    val added = Seq("prefix_len", "middle_len", "suffix_len", "spm_mode")
    require(added.forall(!docs.columns.contains(_)),
      s"input already has one of ${added.mkString("/")}; rename it first")
    def h(tag: String) = expr(
      s"cast(conv(substr(md5(cast(concat(cast($idCol as string), '$tag') " +
        s"as binary)), 1, 13), 16, 10) as bigint)")
    val n = col(tokensCol).cast("long")
    val applied = pmod(h(":f"), lit(fimDen)) < lit(fimNum) && n >= 2L
    val a = when(applied, lit(1L) + pmod(h(":a"), n - 1L)).otherwise(n)
    val b = when(applied, a + pmod(h(":b"), n - a + 1L)).otherwise(n)
    // preserve pass-through columns (shard keys, order columns) so the
    // plan can feed the packer directly — a narrow projection either way
    docs.withColumn(tokensCol, n)
      .withColumn("prefix_len", a)
      .withColumn("middle_len", b - a)
      .withColumn("suffix_len", n - b)
      .withColumn("spm_mode", applied && pmod(h(":m"), lit(2L)) === 1L)
  }

  /** [[fimSplit]] APPLIED inside the packer — the production export
    * step q153 only plans: the token stream the writer emits per doc
    * is the FIM-reordered segment sequence (PSM: prefix, suffix,
    * middle; SPM: suffix, prefix, middle — Bavarian et al. 2022),
    * each segment preceded by one `sentinelTokens`-token sentinel
    * (`<PRE>`/`<SUF>`/`<MID>`; unselected docs pass through whole
    * with no sentinels), and [[concatChunk]] cuts that emitted stream
    * into exact `seqLen` sequences — the reordered segments and their
    * sentinels shift every later boundary exactly like q156's EOS
    * tokens did.
    *
    * Output: one row per NON-EMPTY (doc, segment) — pass-through
    * columns plus
    *  - `seg` (`prefix`/`middle`/`suffix`/`whole`), `seg_order`
    *    (emission rank within the doc)
    *  - `src_from`/`src_to`: the segment's ORIGINAL token interval
    *    (half-open) — the provenance a loss-masking writer needs
    *  - `n_seg_tokens`, `seg_start_off` (absolute offset of the
    *    segment's first own token in the shard stream, after its
    *    sentinel), `first_seq`/`last_seq` (the training sequences the
    *    segment's own tokens land in)
    *
    * Scale shape: [[fimSplit]] is a narrow projection, the offset
    * cumsum is [[concatChunk]]'s ONE window, segments are a 3-way
    * explode in the same projection — no extra shuffle, everything
    * integer, any engine replays it bit-for-bit.
    */
  def fimPack(docs: DataFrame, idCol: String, tokensCol: String,
              seqLen: Long, partitionCol: String, orderCol: String,
              fimNum: Long = 1L, fimDen: Long = 2L,
              sentinelTokens: Long = 1L): DataFrame = {
    require(sentinelTokens >= 0,
      s"sentinelTokens must be >= 0, got $sentinelTokens")
    // same name-collision contract as concatChunk/fimSplit: these are
    // the columns fimPack adds (or uses internally) — a pass-through
    // input column with one of these names would be silently
    // overwritten, breaking the documented pass-through preservation
    val fimAdded = Seq("seg", "seg_order", "src_from", "src_to",
      "n_seg_tokens", "seg_start_off", "_emit_len", "_sg")
    require(fimAdded.forall(!docs.columns.contains(_)),
      s"input already has one of ${fimAdded.mkString("/")}; rename it first")
    val plans = fimSplit(docs, idCol, tokensCol, fimNum, fimDen)
    val n = col(tokensCol)
    val p = col("prefix_len"); val sfx = col("suffix_len")
    // applied ⟺ a < n (fimSplit draws a from [1, n-1] when selected
    // and pins a = n otherwise)
    val applied = col("prefix_len") < n
    val emitted = plans.withColumn("_emit_len",
      n + when(applied, lit(3L * sentinelTokens)).otherwise(lit(0L)))
    val packed = concatChunk(emitted, "_emit_len", seqLen,
      partitionCol, orderCol)
    val s = lit(sentinelTokens)
    def segment(name: String, order: Column, from: Column, to: Column,
                off: Column) =
      struct(lit(name).as("seg"), order.cast("long").as("seg_order"),
        from.cast("long").as("src_from"), to.cast("long").as("src_to"),
        off.cast("long").as("seg_off"))
    val b = p + col("middle_len")
    val segs = when(applied,
      when(col("spm_mode"),
        array( // SPM: suffix, prefix, middle
          segment("suffix", lit(0L), b, n, s),
          segment("prefix", lit(1L), lit(0L), p, s * 2 + sfx),
          segment("middle", lit(2L), p, b, s * 3 + sfx + p)))
      .otherwise(
        array( // PSM: prefix, suffix, middle
          segment("prefix", lit(0L), lit(0L), p, s),
          segment("suffix", lit(1L), b, n, s * 2 + p),
          segment("middle", lit(2L), p, b, s * 3 + p + sfx))))
      .otherwise(array(segment("whole", lit(0L), lit(0L), n, lit(0L))))
    packed
      .withColumn("_sg", explode(segs))
      .filter(col("_sg.src_to") > col("_sg.src_from")) // skip empty segments
      .withColumn("seg", col("_sg.seg"))
      .withColumn("seg_order", col("_sg.seg_order"))
      .withColumn("src_from", col("_sg.src_from"))
      .withColumn("src_to", col("_sg.src_to"))
      .withColumn("n_seg_tokens", col("src_to") - col("src_from"))
      .withColumn("seg_start_off", col("start_off") + col("_sg.seg_off"))
      // doc-level spans are meaningless post-reorder: replace with the
      // segment's own
      .drop("first_seq", "last_seq", "n_seqs_spanned", "_sg")
      .withColumn("first_seq", expr(s"seg_start_off div $seqLen"))
      .withColumn("last_seq",
        expr(s"(seg_start_off + n_seg_tokens - 1) div $seqLen"))
      .drop("start_off", "_emit_len")
  }

  /** Token-budget subset selection: keep the best-scoring documents
    * whose token counts fit a budget of `budgetNum/budgetDen` of the
    * corpus total — the "fill N tokens with the highest-quality data"
    * step of training-set assembly. Ordering is (score desc, id asc).
    *
    * The scalable trick is the q115 one: no corpus-wide total order.
    * The cutoff comes from the aggregated SCORE DISTRIBUTION (one
    * unpartitioned window over distinct integer scores — a bounded
    * model-sized artifact): every score group whose cumulative tokens
    * fit keeps ALL its docs; at most ONE boundary group needs doc
    * granularity, and its running sum is a window PARTITIONED by that
    * single score value — never a global sort. All arithmetic is
    * integer (token counts, integer scores, one integer
    * multiply/divide for the budget), so any engine replays the exact
    * kept set. Returns (id, score, tokens, kept).
    */
  def tokenBudgetSelect(scored: DataFrame, idCol: String, scoreCol: String,
                        tokensCol: String, budgetNum: Long,
                        budgetDen: Long): DataFrame = {
    val dist = scored.groupBy(col(scoreCol).as("s"))
      .agg(sum(col(tokensCol)).as("st"))
    tokenBudgetApply(scored, idCol, scoreCol, tokensCol,
      tokenBudgetGroups(dist, budgetNum, budgetDen))
  }

  /** The per-score-group decision table from a (s, st) token
    * DISTRIBUTION — the decision core shared by [[tokenBudgetSelect]]
    * and the incremental per-batch flavor
    * ([[graft.streaming.StreamingOps.tokenBudgetPerBatch]], which
    * feeds it the cumulative distribution): a score group keeps all
    * its docs when its cumulative tokens fit the integer budget,
    * at most one boundary group needs doc granularity.
    */
  def tokenBudgetGroups(dist: DataFrame, budgetNum: Long,
                        budgetDen: Long): DataFrame = {
    require(budgetNum >= 0 && budgetDen > 0,
      s"budget fraction must be >= 0 with positive denominator, got $budgetNum/$budgetDen")
    val before = Window.orderBy(col("s").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    dist
      .withColumn("cum_before", coalesce(sum(col("st")).over(before), lit(0L)))
      .withColumn("total", sum(col("st")).over())
      .withColumn("budget", expr(s"($budgetNum * total) div $budgetDen"))
      .select(col("s"), col("cum_before"), col("budget"),
        (col("cum_before") + col("st") <= col("budget")).as("keep_all"),
        (col("cum_before") < col("budget") &&
          col("cum_before") + col("st") > col("budget")).as("boundary"))
  }

  /** Per-doc keep decisions for `scored` against a decision table from
    * [[tokenBudgetGroups]]. The only window partitions by the single
    * boundary score value — never a global sort.
    */
  def tokenBudgetApply(scored: DataFrame, idCol: String, scoreCol: String,
                       tokensCol: String, groups: DataFrame): DataFrame = {
    val id = col(idCol); val score = col(scoreCol); val tokens = col(tokensCol)
    val inGroup = Window.partitionBy(score).orderBy(id)
      .rowsBetween(Window.unboundedPreceding, -1)
    scored.join(broadcast(groups), score === col("s"))
      .withColumn("kept",
        col("keep_all") ||
          (col("boundary") &&
            col("cum_before") + coalesce(sum(tokens).over(inGroup), lit(0L)) +
              tokens <= col("budget")))
      .select(id, score, tokens, col("kept"))
  }
}
