package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorExpressions

/** IVF (inverted-file) approximate nearest-neighbour index: partition
  * the corpus into `nLists` Voronoi cells around trained centroids;
  * queries probe only the `nProbe` nearest cells.
  *
  * Training is Lloyd's k-means expressed in DataFrame ops:
  * assignment = argmin over a broadcast centroid table (codegen'd
  * `graft_dot` distances), update = per-(cluster, dim) mean via
  * posexplode + groupBy — both scale-out friendly (no driver loop over
  * data, only over iterations; the only driver-sized object is the
  * k×dim centroid table itself, which is what gets broadcast in any IVF
  * design). Initial centroids are deterministic samples (hash-picked),
  * so training is reproducible.
  *
  * At 100 TB: train on a sample, assign the full corpus once (narrow
  * scan + broadcast argmin, written out partitioned by `list_id`), then
  * every query reads `nProbe`/`nLists` of the data — the standard
  * IVF-flat layout.
  */
object IvfIndex {

  /** Package hook for operators composing on the same assignment
    * geometry (semantic dedup, prototypicality): argmin cluster id for
    * the `v` column against a literal centroid table.
    */
  private[operators] def argmin(centroids: Seq[(Int, Seq[Double])]): Column =
    centroidArgmin(centroids)

  private def centroidArgmin(centroids: Seq[(Int, Seq[Double])]): Column = {
    // squared L2 distance to each centroid; the vector norm term is
    // constant per row, so argmin over (||c||² - 2 v·c) suffices
    val scored = centroids.map { case (cid, c) =>
      val cNorm = c.map(x => x * x).sum
      val dotExpr = call_function("graft_dot", col("v"),
        array(c.map(x => lit(x)): _*))
      struct((lit(cNorm) - lit(2.0) * dotExpr).as("score"), lit(cid).as("cid"))
    }
    array_min(array(scored: _*)).getField("cid")
  }

  /** Train centroids with a few Lloyd iterations. Returns (cid, vector);
    * dimensionality is inferred from the data.
    */
  def train(emb: DataFrame, nLists: Int = 8, iters: Int = 3): Seq[(Int, Seq[Double])] = {
    VectorExpressions.register(emb.sparkSession)
    val vecs = emb.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v")).cache()
    // deterministic init: spread by hash of vec_id
    val init: Seq[(Int, Seq[Double])] =
      vecs.withColumn("h", pmod(xxhash64(col("vec_id")), lit(nLists * 37)))
        .orderBy(col("h"), col("vec_id")).limit(nLists)
        .collect().toSeq.zipWithIndex
        .map { case (r, i) => (i, r.getSeq[Double](1).toSeq) }
    val centroids = lloyd(vecs, init, iters)
    vecs.unpersist()
    centroids
  }

  /** Lloyd refinement from an EXPLICIT initial centroid set over a
    * `(vec_id, v: array<double>)` frame. Each round is one distributed
    * pass: assignment = broadcast argmin (narrow), update = per-
    * (cluster, dim) mean via posexplode + groupBy; the only driver-side
    * object is the k×dim centroid table. Centroids whose cluster
    * empties keep their previous position (never fewer than k cells).
    * Shared by [[train]] (hash-picked init) and the seed-initialised
    * curation operators (semantic dedup, prototypicality), so every
    * consumer refines on the same geometry.
    */
  private[operators] def lloyd(vecs: DataFrame, init: Seq[(Int, Seq[Double])],
                               iters: Int): Seq[(Int, Seq[Double])] = {
    var centroids = init
    for (_ <- 0 until iters) {
      val assigned = vecs.withColumn("cid", centroidArgmin(centroids))
      val updated = assigned
        .select(col("cid"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy(col("cid"), col("dim")).agg(avg(col("x")).as("m"))
        .groupBy(col("cid"))
        .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("pairs"))
        .select(col("cid"), expr("transform(pairs, p -> p.m)").as("c"))
        .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toSeq)).toSeq
      // keep centroids whose cluster emptied
      val byId = updated.toMap
      centroids = centroids.map { case (cid, c) => (cid, byId.getOrElse(cid, c)) }
    }
    centroids
  }

  /** Assign every vector to its nearest centroid list. */
  def assign(emb: DataFrame, centroids: Seq[(Int, Seq[Double])]): DataFrame = {
    VectorExpressions.register(emb.sparkSession)
    emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("list_id", centroidArgmin(centroids))
  }

  /** Scored scan of `probed` against the already-collected query vector:
    * the query rides as a literal array (no second corpus scan, no
    * cross join), the per-row division is `try_divide` (a zero-norm
    * vector scores null instead of throwing under ANSI).
    */
  private def scoreAgainst(probed: DataFrame, qRow: Seq[Double],
                           k: Int): DataFrame = {
    val qv = array(qRow.map(lit): _*)
    val qn = math.sqrt(qRow.map(x => x * x).sum)
    probed.select(col("vec_id"),
        round(try_divide(call_function("graft_dot", col("v"), qv),
          sqrt(call_function("graft_dot", col("v"), col("v"))) * lit(qn)), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)
  }

  private def nearestLists(centroids: Seq[(Int, Seq[Double])],
                           qRow: Seq[Double], nProbe: Int): Seq[Int] =
    centroids.map { case (cid, c) =>
      (cid, c.zip(qRow).map { case (a, b) => (a - b) * (a - b) }.sum)
    }.sortBy(_._2).take(nProbe).map(_._1)

  /** Top-k cosine search probing only the query's `nProbe` nearest
    * lists. One head lookup for the query vector plus ONE pass over the
    * probed fraction of the corpus (the assignment lineage is cached so
    * the lookup does not re-score the corpus).
    */
  def topK(emb: DataFrame, centroids: Seq[(Int, Seq[Double])], queryVecId: Long,
           k: Int = 20, nProbe: Int = 2): DataFrame = {
    val indexed = assign(emb, centroids).cache()
    val qRow = indexed.filter(col("vec_id") === queryVecId)
      .select(col("v")).head().getSeq[Double](0).toSeq
    val probeLists = nearestLists(centroids, qRow, nProbe)
    scoreAgainst(
      indexed.filter(col("vec_id") =!= queryVecId && col("list_id").isin(probeLists: _*)),
      qRow, k)
  }

  /** One resolved IVF tree: the live version directory behind `path`
    * (the `_current` pointer's target, or `path` itself for a flat
    * tree). Every reader and appender opens the tree here, so none can
    * miss the pointer; the centroid table and the ADC codebook are
    * each read at most once per call.
    */
  private final class Tree(spark: SparkSession, path: String) {
    val dir: String = IndexLayout.resolveVersionDir(spark, path)
    def lists: DataFrame = spark.read.parquet(s"$dir/lists")
    lazy val centroids: Seq[(Int, Seq[Double])] =
      spark.read.parquet(s"$dir/centroids")
        .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toSeq)).toSeq
    lazy val codebook: Codebook = {
      val r = spark.read.parquet(s"$dir/codebook").head()
      Codebook(r.getInt(0), r.getInt(1), r.getInt(2), r.getSeq[Double](3))
    }
  }

  /** A flat `m·kCode·sub` PQ codebook and its shape. */
  private final case class Codebook(m: Int, kCode: Int, sub: Int,
                                    flat: Seq[Double]) {
    /** `(vec_id, codes, list_id)`: `vec` PQ-encoded against this
      * codebook — the ONE narrow codegen'd projection of
      * [[Similarity.pqEncodeAdc]].
      */
    def encode(assigned: DataFrame, vec: Column): DataFrame =
      assigned.select(col("vec_id"),
        call_function("graft_pq_encode", vec,
          typedLit(flat), lit(m), lit(kCode)).as("codes"),
        col("list_id"))

    /** A row's integer ADC estimate: `m` lookups into the micro-unit
      * cell table `qd` plus an order-free integer sum.
      */
    def adc(qd: Seq[Long]): Column = {
      val qdLit = typedLit(qd)
      (0 until m).map(ms =>
          element_at(qdLit, lit(ms * kCode) + element_at(col("codes"), ms + 1) + 1))
        .reduce(_ + _)
    }
  }

  /** The codebook an ADC build encodes with: the explicit (trained)
    * `codebook`, length-checked, or the replayable seed convention —
    * the subvectors of the first `kCode` rows of `seedRows`, a
    * `(vec_id, vector)` frame of raw vectors or residuals. An explicit
    * codebook needs no seed rows: the seed collect only runs on the
    * default path.
    */
  private def adcCodebook(codebook: Option[Seq[Double]], seedRows: => DataFrame,
                          dim: Int, m: Int, kCode: Int): Codebook = {
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    val flat = codebook.map { cb =>
      require(cb.length == m * kCode * sub,
        s"codebook length ${cb.length} != ${m * kCode * sub}")
      cb
    }.getOrElse {
      val seeds = seedRows.filter(col("vec_id") < kCode)
        .collect().sortBy(_.getLong(0)).map(_.getSeq[Double](1).toArray)
      require(seeds.length == kCode, s"need $kCode seed vectors, got ${seeds.length}")
      IndexedSeq.tabulate(m * kCode * sub) { idx =>
        val ms = idx / (kCode * sub); val kk = idx / sub % kCode; val i = idx % sub
        seeds(kk)(ms * sub + i)
      }
    }
    Codebook(m, kCode, sub, flat)
  }

  /** Meta key holding the tree's total indexed-vector count — stamped
    * at build time and maintained by appends, so cap constants derived
    * from history size (q179's `maxListN` = history/4) are read off the
    * index's own metadata instead of re-counting the corpus per probe
    * (r18 verdict directive 6: at 100 TB a full history count per batch
    * is exactly the cost the standing index exists to avoid).
    */
  private val RowsMetaKey = "numRows"

  /** The one writer of a tree's `lists` directory (one parquet
    * directory per inverted list) and of its [[RowsMetaKey]] stamp,
    * for builds and appends alike. An append adds the batch's own count
    * (its lineage is micro-batch-sized by contract) to the stored total
    * — never a recount of the standing tree; an overwrite, or an
    * append to a pre-stamp tree, counts the written lists from parquet
    * row-group statistics (footers only, no payload pages).
    */
  private def writeLists(rows: DataFrame, dir: String, mode: String): Unit = {
    val spark = rows.sparkSession
    val stamped =
      if (mode == "append")
        IndexLayout.readMetaLong(spark, dir, RowsMetaKey).map(_ + rows.count())
      else None
    rows.write.partitionBy("list_id").mode(mode).parquet(s"$dir/lists")
    IndexLayout.upsertMetaLong(spark, dir, RowsMetaKey,
      stamped.getOrElse(spark.read.parquet(s"$dir/lists").count()))
  }

  /** Driver artifacts: the centroid table (every layout) and the flat
    * codebook (ADC layouts), each one parquet file beside `lists`, so
    * the artifact schema can never drift between index variants.
    */
  private def writeCentroids(spark: SparkSession, dir: String,
                             centroids: Seq[(Int, Seq[Double])]): Unit = {
    import spark.implicits._
    centroids.toDF("cid", "centroid")
      .repartition(1).write.mode("overwrite").parquet(s"$dir/centroids")
  }

  private def writeCodebook(spark: SparkSession, dir: String,
                            cb: Codebook): Unit = {
    import spark.implicits._
    Seq((cb.m, cb.kCode, cb.sub, cb.flat))
      .toDF("m", "k", "sub", "flat")
      .repartition(1).write.mode("overwrite").parquet(s"$dir/codebook")
  }

  /** Materialise the IVF-flat layout: the assigned corpus written as
    * parquet partitioned by `list_id` (one directory per inverted
    * list), plus the centroid table. At 100 TB this is the layout that
    * makes probing cheap: a query's `nProbe` lists become partition
    * filters, so the scan touches only `nProbe/nLists` of the data —
    * verified by the partition-pruning assertion in `AnnRecallSpec`.
    */
  def writeIndex(emb: DataFrame, centroids: Seq[(Int, Seq[Double])],
                 path: String): Unit = {
    writeLists(assign(emb, centroids), path, "overwrite")
    writeCentroids(emb.sparkSession, path, centroids)
  }

  /** Number of vectors in the index at `path` (the current version):
    * the meta stamp, or — for trees that predate it — one parquet
    * metadata count (footers only). A driver-side file read on every
    * stamped tree: no Spark job, no corpus scan, history-size-
    * independent.
    */
  def indexedVectorCount(spark: SparkSession, path: String): Long = {
    val tree = new Tree(spark, path)
    IndexLayout.readMetaLong(spark, tree.dir, RowsMetaKey)
      .getOrElse(tree.lists.count())
  }

  /** Incrementally add vectors to a materialised index: assignment
    * uses the STORED centroids (the index geometry is fixed — standard
    * IVF maintenance; retrain only on drift) and the new rows are
    * appended into their list partitions without touching existing
    * data. The ANN counterpart of the incremental dedup index:
    * ingestion cost is O(batch) — one narrow scan of the batch plus a
    * broadcast argmin — and the historical corpus is never rewritten.
    */
  def appendToIndex(newEmb: DataFrame, path: String): Unit = {
    val tree = new Tree(newEmb.sparkSession, path)
    writeLists(assign(newEmb, tree.centroids), tree.dir, "append")
  }

  // ---- standing-index lifecycle (versioned IVF-flat) ----------------
  //
  // [[writeIndex]] fixes the centroid geometry forever — fine between
  // retrains, but a drifting corpus degrades assignment quality (and
  // the measured list skew of seed geometries — ANN_RECALL.md: the
  // seed top-1 list holds 27.7% of the corpus vs 14.1% trained — makes
  // a rebalance path a correctness-of-scale feature, not a nicety).
  // The lifecycle is the substring index's version-pointer protocol
  // (IndexLayout.publishNextVersion): versions are immutable `v<N>`
  // sibling dirs, `_current` names the live one, probes resolve the
  // pointer once per batch, and retrain builds the NEXT version
  // completely before the flip — in-flight probes keep their snapshot,
  // and a pre-versioning flat tree migrates in place (its root data
  // stays for in-flight readers; new readers follow the pointer).

  /** Build version 0 of a VERSIONED IVF-flat index: [[writeIndex]]
    * into `path/v0` plus the `_current` pointer. Probes and appends
    * against `path` resolve the pointer, so the call sites are
    * identical to the flat layout.
    */
  def writeVersionedIndex(emb: DataFrame, centroids: Seq[(Int, Seq[Double])],
                          path: String): Unit =
    IndexLayout.publishVersion(emb.sparkSession, path, 0)(
      writeIndex(emb, centroids, _))

  /** Re-center the standing index at `path` around EXPLICIT new
    * centroids: the current version's vectors are re-assigned (one
    * distributed pass — broadcast argmin, exactly the build path) and
    * written as the next version, then the pointer flips. Returns the
    * new version number; the old directory is left for in-flight
    * readers (a retention job deletes versions older than the read
    * horizon). Centroid ids need not match the old geometry — the new
    * version is self-contained.
    */
  def retrainIndexVersionWith(spark: SparkSession, path: String,
                              centroids: Seq[(Int, Seq[Double])]): Int =
    IndexLayout.publishNextVersion(spark, path) { (live, next) =>
      writeIndex(storedCorpus(spark.read.parquet(s"$live/lists")), centroids, next)
    }

  /** The stored vectors of a flat-layout `lists` frame, back in the
    * `(vec_id, embedding)` input shape of the build path.
    */
  private def storedCorpus(lists: DataFrame): DataFrame =
    lists.select(col("vec_id"), col("v").as("embedding"))

  /** [[retrainIndexVersionWith]] with centroids TRAINED on the
    * index's own current corpus ([[train]]'s deterministic-init Lloyd
    * rounds) — the production drift response: rebalance the lists to
    * the corpus that actually accumulated, atomically, while probes
    * keep reading the old version.
    *
    * `sampleFraction` is the 100 TB knob this file's header already
    * prescribes ("train on a sample, assign the full corpus once"):
    * each Lloyd iteration is a full pass (posexplode + groupBy) over
    * whatever train() sees, so retraining a corpus-sized index on all
    * of it pays `iters` corpus-wide shuffles for centroids a k-means
    * estimate doesn't need — centroid error shrinks with sample size,
    * not corpus size. The sample is DETERMINISTIC (hash of vec_id, no
    * RNG), so a retrain is replayable; the re-assignment that builds
    * the new version still covers every stored vector.
    */
  def retrainIndexVersion(spark: SparkSession, path: String, nLists: Int = 8,
                          iters: Int = 3, sampleFraction: Double = 1.0): Int = {
    require(sampleFraction > 0.0 && sampleFraction <= 1.0,
      s"sampleFraction must be in (0, 1]; got $sampleFraction")
    val corpus = storedCorpus(new Tree(spark, path).lists)
    val trainSet =
      if (sampleFraction >= 1.0) corpus
      else corpus.filter(
        pmod(xxhash64(col("vec_id")), lit(1000000L))
          < lit((sampleFraction * 1000000L).toLong))
    retrainIndexVersionWith(spark, path, train(trainSet, nLists, iters))
  }

  /** COMPACT the current version into the next one WITHOUT touching
    * the geometry — the other half of the lifecycle, for when the
    * problem is fragmentation rather than drift: every
    * [[appendToIndex]] micro-batch lands ~one new part file in each
    * touched list directory, so after thousands of batches a probe's
    * cost turns file-open-bound (parquet footer reads) long before
    * any list is hot. Retraining would defragment too, but pays a
    * full broadcast-argmin pass over the corpus to recompute
    * assignments that cannot change; compaction instead rewrites the
    * stored rows clustered by their EXISTING `list_id` (one shuffle
    * by partition key, ~one file per list) and copies the centroid
    * table unchanged, then flips the pointer — same snapshot
    * semantics as retrain, in-flight readers keep the old version.
    * Mirrors the substring index's versioned compaction
    * ([[TextDedup.compactSubstringIndexSets]]). Returns the new version.
    *
    * Like retrain, this assumes the single-writer maintenance model
    * (one compaction/retrain job at a time, appends quiesced during
    * the copy): an append that lands in the OLD version after the
    * rewrite's snapshot read would not be carried into the new one.
    */
  def compactIndexVersion(spark: SparkSession, path: String): Int =
    IndexLayout.publishNextVersion(spark, path) { (live, next) =>
      // one shuffle by partition key → ~one file per list
      writeLists(spark.read.parquet(s"$live/lists").repartition(col("list_id")),
        next, "overwrite")
      // carry every non-lists sibling artifact unchanged (centroids
      // always; a codebook when the tree is ADC-shaped) — compaction
      // must never strip an artifact a probe needs
      for (side <- Seq("centroids", "codebook")) {
        val sp = new org.apache.hadoop.fs.Path(s"$live/$side")
        if (sp.getFileSystem(spark.sessionState.newHadoopConf()).exists(sp))
          spark.read.parquet(s"$live/$side")
            .repartition(1).write.mode("overwrite").parquet(s"$next/$side")
      }
    }

  /** Per-list occupancy of the index at `path` — the measurement half
    * of the retrain decision (the list-skew figures in ANN_RECALL.md,
    * as an operator): `(list_id, n, share)` for every populated
    * list, share = n / total. Reads ONLY the partition column (no
    * payload pages), so it costs footer reads — run it per maintenance
    * window, not per batch.
    */
  def listSkewStats(spark: SparkSession, path: String): DataFrame =
    new Tree(spark, path).lists
      .groupBy(col("list_id")).agg(count(lit(1)).as("n"))
      .withColumn("share", col("n") / sum(col("n")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))

  /** The decision rule on [[listSkewStats]]: retrain when the hottest
    * list holds more than `maxTopShare` of the corpus (the skew level
    * at which one list is a straggler task and a floor on pruning —
    * ANN_RECALL.md records 27.7% for seed geometry vs 14.1% trained
    * at nLists = 8). A ≤ k-row driver pull.
    */
  def needsRetrain(spark: SparkSession, path: String,
                   maxTopShare: Double = 0.25): Boolean =
    listSkewStats(spark, path)
      .agg(max(col("share"))).head().getDouble(0) > maxTopShare

  /** Ingest-time SEMANTIC dedup probe against a standing [[writeIndex]]
    * tree — the embedding-level member of the incremental-ingest
    * family (MinHash q77, norm-hash q175, CDC chunks q163, media bands
    * q161 cover the other modalities): which NEW vectors are within
    * cosine `threshold` of an already-INDEXED vector in the same
    * Voronoi cell? SemDeDup's within-cell comparison discipline
    * applied across the batch/history boundary, so a re-embedded
    * paraphrase of historical content is caught without re-scoring
    * history.
    *
    * Scale shape: the batch is assigned by the STORED centroids (a
    * k-row driver pull — the index geometry is fixed between
    * retrains), and the history is only ever read from the lists the
    * batch actually touches — the batch's ≤ k distinct `list_id`s
    * arrive as a partition filter, so probe I/O is the batch's cells,
    * not the corpus, at ANY history size. Within the touched cells the
    * join is the equi-join on `list_id` (pair work Σ|batch_cell|·
    * |index_cell| — the k knob bounds cell sizes exactly as in
    * [[graft.operators.Similarity.semanticDedup]]), followed by one
    * map-side-combinable min/count aggregate keyed by batch vector.
    *
    * Output: one row per batch vector — `(vec_id, list_id, n_dups,
    * dup_of)` with `dup_of` = the smallest-id indexed witness at or
    * above the threshold (null, with `n_dups` 0, when the vector is
    * semantically fresh). Cross-cell near-dups are the method's
    * accepted recall loss, as in SemDeDup.
    *
    * `maxListN` is the HOT-CELL guard (the `maxClusterN`/`maxBandFreq`
    * discipline its batch siblings carry): without it, one hot Voronoi
    * list — which seed geometries produce by default (ANN_RECALL.md,
    * `listSkewStats`: 27.7% of the corpus in the top-1 seed list) — makes
    * per-batch probe I/O and join work ∝ corpus/k with no error. With
    * the cap, index lists holding MORE than `maxListN` vectors
    * contribute no pairs: their batch vectors are reported fresh
    * (`n_dups` 0, `dup_of` null) with `hot` = true — declarative
    * semantics an oracle can state without knowing the plan. The
    * hotness decision reads only the partition column (a per-list
    * count over the touched directories — row-group metadata, no
    * vector payloads), and hot directories are then excluded from the
    * payload scan by partition pruning, so with the cap the probe's
    * data read is bounded by `maxListN`·touched regardless of how
    * skewed the index grew. The `hot` column only exists when the cap
    * is set, so uncapped callers (q178) see the original schema.
    */
  def semanticDedupAgainstIndex(newEmb: DataFrame, path: String,
                                threshold: Double,
                                maxListN: Option[Long] = None): DataFrame = {
    val spark = newEmb.sparkSession
    VectorExpressions.register(spark)
    val tree = new Tree(spark, path)
    // ONE assignment pass per batch: the assigned frame feeds the
    // touched-list collect, the hits join AND the final left join —
    // cached + tracked like every other per-batch probe (r17 verdict
    // #2); query callers release via releaseOperatorCaches, per-batch
    // callers (semanticDedupPerBatch) via releaseTrackedCaches.
    val batch = graft.Tables.trackOperatorCache(
      assign(newEmb, tree.centroids).cache())
    // the touched cells: bounded by k (the centroid count), so the
    // collect is a ≤ k-row driver pull, never batch-sized
    val touched = batch.select(col("list_id")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val inTouched = tree.lists
      .filter(col("list_id").isin(touched: _*)) // partition pruning
    // hot lists: a count over the partition column only (no payload
    // read), ≤ k rows collected; hot directories never reach the scan
    val hotLists: Seq[Int] = maxListN.fold(Seq.empty[Int]) { cap =>
      inTouched.groupBy(col("list_id")).agg(count(lit(1)).as("n"))
        .filter(col("n") > cap).collect().map(_.getInt(0)).toSeq
    }
    val lists = (if (hotLists.isEmpty) inTouched
                 else inTouched.filter(!col("list_id").isin(hotLists: _*)))
      .select(col("list_id"), col("vec_id").as("ivec"), col("v").as("iv"))
    val hits = batch.as("b")
      .join(lists, Seq("list_id"))
      .filter(Similarity.cosine(col("b.v"), col("iv")) >= threshold)
      .groupBy(col("b.vec_id").as("vec_id"))
      .agg(min(col("ivec")).as("dup_of"), count(lit(1)).as("n_dups"))
    val base = batch.select(col("vec_id"), col("list_id"))
      .join(hits, Seq("vec_id"), "left")
      .select(col("vec_id"), col("list_id").cast("long").as("list_id"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"), col("dup_of"))
    maxListN.fold(base) { _ =>
      base.withColumn("hot",
        if (hotLists.isEmpty) lit(false)
        else col("list_id").isin(hotLists.map(_.toLong): _*))
    }
  }

  /** Materialise the QUANTIZED IVF-flat layout: the same list-partitioned
    * parquet as [[writeIndex]], but the stored payload is the int8
    * quantization (per-vector symmetric `scale` + one-byte-per-dim
    * BINARY `qvec`) instead of the float64 array — 8× fewer bytes per
    * row. This composes the two scale levers that were previously
    * separate: partition pruning (probe only `nProbe`/`nLists`
    * directories) × payload compression (each scanned row is 1/8 the
    * size), so probe I/O is ~`nProbe`/(8·`nLists`) of the raw corpus —
    * at 100 TB the difference between an index that fits the cluster
    * page cache and one that doesn't. Assignment geometry is identical
    * to [[writeIndex]] (argmin over the float centroids, computed
    * before quantization), so lists match the float index row-for-row.
    */
  def writeQuantizedIndex(emb: DataFrame, centroids: Seq[(Int, Seq[Double])],
                          path: String): Unit = {
    writeLists(assign(emb, centroids)
      .select(col("vec_id"), col("list_id"),
        call_function("graft_quantize8", col("v")).as("m"))
      .select(col("vec_id"), col("m.scale").as("scale"),
        col("m.q").as("qvec"), col("list_id")), path, "overwrite")
    writeCentroids(emb.sparkSession, path, centroids)
  }

  /** Top-k search against a materialised QUANTIZED index, ranked by
    * quantized cosine exactly as [[Similarity.topKQuantized]]: the
    * symmetric scales cancel, so every returned score derives from
    * exact integer `graft_dot8` products over the stored bytes and is
    * bit-reproducible. The query's dequantized vector (`q·scale ≈ v`)
    * picks the probed lists — that approximation affects only WHICH
    * lists are scanned, never a returned score, and at `nProbe` =
    * `nLists` the ranking degenerates to the exact integer brute force
    * (the q110 gate). Probed lists arrive as a partition-column filter
    * (directory pruning, asserted in AnnRecallSpec).
    */
  def topKQuantizedIndexed(spark: SparkSession, path: String,
                           queryVecId: Long, k: Int = 20, nProbe: Int = 2): DataFrame = {
    VectorExpressions.register(spark)
    val tree = new Tree(spark, path)
    val lists = tree.lists
    val q = lists.filter(col("vec_id") === queryVecId)
      .select(col("qvec"), col("scale")).head()
    val qBytes = q.getAs[Array[Byte]](0)
    val qScale = q.getDouble(1)
    val probeLists = nearestLists(tree.centroids,
      qBytes.toSeq.map(_.toDouble * qScale), nProbe)
    // |dot8| ≤ 127²·dim and qaa·qbb ≤ (127²·dim)² < 2^53 at dim ≤ 558:
    // every value is exactly representable, so rounding and order match
    // the q93 oracle bit-for-bit
    val qbb = qBytes.map(b => b.toLong * b.toLong).sum
    lists.filter(col("list_id").isin(probeLists: _*)) // partition pruning
      .filter(col("vec_id") =!= queryVecId)
      .select(col("vec_id"),
        call_function("graft_dot8", col("qvec"), lit(qBytes)).as("qd"),
        call_function("graft_dot8", col("qvec"), col("qvec")).as("qaa"))
      .select(col("vec_id"),
        round(col("qd") / sqrt((col("qaa") * lit(qbb)).cast("double")), 4)
          .as("qcos"))
      .orderBy(col("qcos").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Materialise the IVFADC layout (Jégou et al., TPAMI 2011): the
    * list-partitioned parquet of [[writeIndex]] with PQ codes as the
    * stored payload — `m` one-byte-range centroid ids per vector
    * instead of the float64 array, the last compression rung below the
    * int8 of [[writeQuantizedIndex]]. Probe I/O is
    * ~`nProbe`/(`8·dim/m`·`nLists`) of the raw corpus (64-dim float64
    * at m=8: 64× smaller payload × partition pruning) — the layout a
    * 100 TB embedding corpus actually serves RAM-resident.
    *
    * Codes follow the q121 convention exactly — raw vectors against
    * the seed codebook (subvectors of the first `kCode` vectors), NOT
    * classical residuals (v − centroid): that keeps one global ADC
    * table per query (built once, shipped as a literal) and lets the
    * q122 gate equate the all-probes search with the q121 integer-ADC
    * oracle; residual encoding would need per-list tables and its own
    * oracle. The encode itself is the same ONE narrow codegen'd
    * projection as [[Similarity.pqEncodeAdc]].
    */
  def writeAdcIndex(emb: DataFrame, centroids: Seq[(Int, Seq[Double])],
                    path: String, m: Int = 8, kCode: Int = 16,
                    codebook: Option[Seq[Double]] = None): Unit = {
    VectorExpressions.register(emb.sparkSession)
    writeAdcTree(assign(emb, centroids), col("v"), centroids, path,
      adcCodebook(codebook,
        emb.select(col("vec_id"), transform(col("embedding"), x => x.cast("double"))),
        centroids.head._2.length, m, kCode))
  }

  /** The build half shared by both ADC layouts: `assigned` rows with
    * `vec` (raw vectors or residuals) PQ-encoded against `cb`, plus the
    * centroid table and the codebook.
    */
  private def writeAdcTree(assigned: DataFrame, vec: Column,
                           centroids: Seq[(Int, Seq[Double])], path: String,
                           cb: Codebook): Unit = {
    writeLists(cb.encode(assigned, vec), path, "overwrite")
    writeCentroids(assigned.sparkSession, path, centroids)
    writeCodebook(assigned.sparkSession, path, cb)
  }

  /** [[writeAdcIndex]] with a TRAINED codebook — the production build
    * path: [[trainPqCodebooksIntRaw]] (per-subspace integer Lloyd on
    * the global int8 grid, the q165/q176-gated derivation) replaces
    * the replayable seed convention, which ANN_RECALL.md's de-cloned
    * tier shows underfitting badly (recall@10 0.125 → 0.5+ at the
    * published kCode=32/64 + re-rank operating points). Training is
    * an offline index-build cost paid once per (corpus, shape) — the
    * BPE-merge-table discipline; the probe side (topKAdcIndexed /
    * topKAdcRerankIndexed) is codebook-agnostic and unchanged.
    */
  def writeTrainedAdcIndex(emb: DataFrame, centroids: Seq[(Int, Seq[Double])],
                           path: String, m: Int = 8, kCode: Int = 32,
                           rounds: Int = 2): Unit =
    writeAdcIndex(emb, centroids, path, m, kCode,
      codebook = Some(trainPqCodebooksIntRaw(emb, m, kCode, rounds)))

  /** Top-k search against a materialised IVFADC index by ASCENDING
    * integer ADC distance. The raw query vector arrives WITH the query
    * (production shape — the index never stores floats): the driver
    * builds the m×k micro-unit ADC cell table `floor(1e6·subdist)`
    * once ([[Similarity.pqEncodeAdc]]'s exact arithmetic), ships it as
    * a literal, and each probed row's estimate is m integer lookups +
    * an order-free integer sum — bit-reproducible on any engine.
    * Probed lists arrive as a partition-column filter (directory
    * pruning); at `nProbe` = `nLists` the ranking equals the q121
    * integer-ADC brute force (the q122 gate).
    */
  def topKAdcIndexed(spark: SparkSession, path: String,
                     queryVec: Seq[Double], k: Int = 20, nProbe: Int = 2,
                     excludeVecId: Long = -1L): DataFrame = {
    val tree = new Tree(spark, path)
    val cb = tree.codebook
    require(queryVec.length == cb.m * cb.sub,
      s"query dim ${queryVec.length} != index dim ${cb.m * cb.sub}")
    val qd = graft.functions.PqKernel.adcCellTable(
      queryVec.toIndexedSeq, cb.flat.toIndexedSeq, cb.m, cb.kCode, cb.sub)
    val probeLists = nearestLists(tree.centroids, queryVec, nProbe)
    tree.lists
      .filter(col("list_id").isin(probeLists: _*)) // partition pruning
      .filter(col("vec_id") =!= excludeVecId)
      .select(col("vec_id"), cb.adc(qd.toSeq).as("adc"))
      .orderBy(col("adc").asc, col("vec_id").asc)
      .limit(k)
  }

  /** Exact-cosine re-rank of a BOUNDED candidate set against the raw
    * embedding table — the second stage every production ADC deployment
    * runs, because the quantizer (not the probe set) is the recall
    * ceiling: `ANN_RECALL.md` measured IVFADC/residual-IVFADC plateau
    * at recall@10 ≈ 0.90 regardless of nProbe; with this stage on top
    * (candidates = c·k, c ≈ 3-10) the plateau lifts to ~1.0.
    *
    * `candidates` must be bounded (it comes from an ADC top-`c·k`) —
    * it is broadcast onto the embedding scan, so the re-rank is a
    * narrow semi-join touching exactly the candidate rows: no shuffle
    * of the corpus, no second full scan ranking. Ordering ties break
    * on `vec_id` like [[Similarity.bruteForceTopK]], whose
    * (vec_id, cos) output schema this mirrors.
    */
  def exactRerank(emb: DataFrame, candidates: DataFrame,
                  queryVec: Seq[Double], k: Int): DataFrame = {
    VectorExpressions.register(emb.sparkSession)
    val qv = typedLit(queryVec)
    val qn = math.sqrt(queryVec.map(x => x * x).sum)
    emb.join(broadcast(candidates.select(col("vec_id"))), Seq("vec_id"))
      .select(col("vec_id"),
        round(try_divide(call_function("graft_dot", col("embedding"), qv),
          sqrt(call_function("graft_dot", col("embedding"), col("embedding")))
            * lit(qn)), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Two-stage IVFADC search: ADC selects the `cand` best codes from
    * the probed lists ([[topKAdcIndexed]]), then [[exactRerank]]
    * returns the exact-cosine top-k over only those rows. `cand`
    * defaults to 3·k — the c where the measured recall plateau lifts;
    * extra stage cost is one bounded broadcast semi-join.
    */
  def topKAdcRerankIndexed(spark: SparkSession, path: String, emb: DataFrame,
                           queryVec: Seq[Double], k: Int = 20, nProbe: Int = 2,
                           cand: Int = 0, excludeVecId: Long = -1L): DataFrame = {
    val c = if (cand > 0) cand else 3 * k
    require(c >= k, s"candidate pool $c smaller than k=$k")
    exactRerank(emb.filter(col("vec_id") =!= excludeVecId),
      topKAdcIndexed(spark, path, queryVec, c, nProbe, excludeVecId),
      queryVec, k)
  }

  /** [[topKAdcRerankIndexed]] over the residual-IVFADC layout. */
  def topKResidualAdcRerankIndexed(spark: SparkSession, path: String, emb: DataFrame,
                                   queryVec: Seq[Double], k: Int = 20,
                                   nProbe: Int = 2, cand: Int = 0,
                                   excludeVecId: Long = -1L): DataFrame = {
    val c = if (cand > 0) cand else 3 * k
    require(c >= k, s"candidate pool $c smaller than k=$k")
    exactRerank(emb.filter(col("vec_id") =!= excludeVecId),
      topKResidualAdcIndexed(spark, path, queryVec, c, nProbe, excludeVecId),
      queryVec, k)
  }

  /** Elementwise residual `v − centroid(list_id)` as one narrow
    * `zip_with` over a CASE chain of centroid literals (`nLists`
    * dim-sized arrays — a bounded plan artifact like the codebook).
    */
  private def residualCol(centroids: Seq[(Int, Seq[Double])]): Column = {
    val cent = centroids.tail.foldLeft(
      when(col("list_id") === centroids.head._1, typedLit(centroids.head._2))) {
      case (acc, (cid, c)) => acc.when(col("list_id") === cid, typedLit(c))
    }
    zip_with(col("v"), cent, (a, c) => a - c)
  }

  /** Train the residual sub-codebooks with per-subspace Lloyd rounds —
    * the step real PQ deployments never skip: each subspace's `kCode`
    * entries move to the centroids of the corpus's residual subvectors
    * (init = the seed residuals, so `iters = 0` degenerates to the
    * replayable seed codebook). One [[lloyd]] run per subspace — `m`
    * small distributed jobs, an offline index-build cost — and the
    * result is a `m·kCode·sub` flat literal like every other codebook.
    */
  def trainResidualCodebooks(emb: DataFrame, centroids: Seq[(Int, Seq[Double])],
                             m: Int = 8, kCode: Int = 16, iters: Int = 2): Seq[Double] = {
    val spark = emb.sparkSession
    VectorExpressions.register(spark)
    val withRes = assign(emb, centroids).withColumn("r", residualCol(centroids))
      .select(col("vec_id"), col("r")).cache()
    val seeds = withRes.filter(col("vec_id") < kCode)
      .collect().sortBy(_.getLong(0)).map(_.getSeq[Double](1).toArray)
    require(seeds.length == kCode, s"need $kCode seed vectors, got ${seeds.length}")
    val dim = seeds.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    val flat = new Array[Double](m * kCode * sub)
    for (ms <- 0 until m) {
      val proj = withRes.select(col("vec_id"),
        slice(col("r"), ms * sub + 1, sub).as("v"))
      val init = (0 until kCode).map(kk =>
        (kk, seeds(kk).slice(ms * sub, ms * sub + sub).toSeq))
      for ((kk, c) <- lloyd(proj, init, iters); i <- 0 until sub)
        flat((ms * kCode + kk) * sub + i) = c(i)
    }
    withRes.unpersist()
    flat.toSeq
  }

  /** Integer-exact per-subspace PQ codebook TRAINING — the
    * [[Similarity.kmeansIntRounds]] arithmetic applied per subspace,
    * so the trained codebook is bit-replayable by any engine (the
    * q165 gate) while fixing the measured recall collapse of seed
    * codebooks on clone-free corpora (`ANN_RECALL.md`): 16 seed
    * subvectors underfit unstructured embeddings; Lloyd rounds move
    * each subspace's entries to (floor-divided) residual-mass centers.
    *
    * Geometry: the corpus is quantized onto a GLOBAL integer grid —
    * `q_i = floor(x_i / (gmx/127) + 0.5)` with `gmx` = max |entry|
    * over the corpus — ONE uniform scale factor (unlike the
    * per-vector scaling of `graft_quantize8_arr`, which distorts
    * relative geometry across vectors), so clustering the grid is
    * clustering the raw space and the trained entries transfer back
    * to raw units by multiplying with `gmx/127`. Seeds = subvectors
    * of the first `kCode` vectors (the replayable convention);
    * assignment argmin breaks ties on the smaller entry id, exactly
    * like `graft_pq_encode`; empty entries keep their previous value.
    * `m` × `rounds` small distributed aggregate jobs over one cached
    * narrow projection — an offline index-build cost.
    *
    * Returns (gmx, flat m·kCode·sub codebook in QUANTIZED units —
    * integer-valued doubles).
    */
  def trainPqCodebooksInt(emb: DataFrame, m: Int = 8, kCode: Int = 16,
                          rounds: Int = 2): (Double, Seq[Double]) = {
    require(m >= 1 && kCode >= 1 && rounds >= 0,
      s"need m >= 1, kCode >= 1, rounds >= 0; got ($m, $kCode, $rounds)")
    VectorExpressions.register(emb.sparkSession)
    val gmx = emb.select(max(expr(
      "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))")))
      .head().getDouble(0)
    require(gmx > 0, "all-zero embedding corpus cannot seed a codebook")
    val q = emb.select(col("vec_id"), expr(
        s"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) / " +
          s"(${gmx}D / 127.0D) + 0.5D) AS DOUBLE))").as("q"))
      .cache()
    val seeds = q.filter(col("vec_id") < kCode)
      .collect().sortBy(_.getLong(0)).map(_.getSeq[Double](1).toArray)
    require(seeds.length == kCode, s"need $kCode seed vectors, got ${seeds.length}")
    val dim = seeds.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    val flat = new Array[Double](m * kCode * sub)
    for (ms <- 0 until m) {
      val proj = q.select(col("vec_id"),
        slice(col("q"), ms * sub + 1, sub).as("v"))
      // score = cc − 2·v·c (the per-row vv term is constant across
      // entries, so the (score, id)-min is the true d2 argmin with
      // the graft_pq_encode tie-break) — the fused graft_pq_assign
      // kernel at m=1 over the already-quantized slice (gmx <= 0 =
      // no re-quantize) replays the old literal argmin tree
      // bit-for-bit while keeping each round's plan a 3-node tree
      def best(cents: Seq[Seq[Double]]) = element_at(
        call_function("graft_pq_assign", col("v"), lit(0.0),
          typedLit(cents.flatten), lit(1), lit(kCode)), 1)
      var cents: Seq[Seq[Double]] =
        (0 until kCode).map(kk => seeds(kk).slice(ms * sub, ms * sub + sub).toSeq)
      for (_ <- 0 until rounds) {
        val sums = proj.withColumn("kk", best(cents).getField("code").cast("int"))
          .select(col("kk"), posexplode(col("v")).as(Seq("d", "x")))
          .groupBy(col("kk"), col("d"))
          .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
          .collect()
          .map(r => (r.getInt(0), r.getInt(1)) -> (r.getDouble(2), r.getLong(3)))
          .toMap
        cents = cents.zipWithIndex.map { case (c, kk) =>
          c.indices.map { d =>
            sums.get((kk, d))
              .map { case (s, n) => math.floor(s / n) }.getOrElse(c(d))
          }
        }
      }
      for (kk <- 0 until kCode; i <- 0 until sub)
        flat((ms * kCode + kk) * sub + i) = cents(kk)(i)
    }
    q.unpersist(blocking = false)
    (gmx, flat.toSeq)
  }

  /** [[trainPqCodebooksInt]]'s codebook moved to RAW-vector units
    * (each entry × gmx/127) — drop-in for every codebook consumer
    * ([[writeAdcIndex]], [[Similarity.pqEncodeAdc]]).
    */
  def trainPqCodebooksIntRaw(emb: DataFrame, m: Int = 8, kCode: Int = 16,
                             rounds: Int = 2): Seq[Double] = {
    val (gmx, flat) = trainPqCodebooksInt(emb, m, kCode, rounds)
    flat.map(_ * (gmx / 127.0))
  }

  /** The APPLY half of the q165 gate: per-subspace code assignment of
    * the quantized corpus against an already-trained integer codebook
    * (`gmx`/`flat` from [[trainPqCodebooksInt]]) — ONE narrow pass,
    * codebook as literals. Training (an offline index-build cost) is
    * memoized per process by the query layer like the BPE merge
    * table, so it is not re-paid per query run; a one-call
    * train-then-assign wrapper would re-quantize and re-cache the
    * full corpus a second time, which is why none exists.
    */
  def pqAssignInt(emb: DataFrame, gmx: Double, flat: Seq[Double],
                  m: Int, kCode: Int): DataFrame = {
    VectorExpressions.register(emb.sparkSession)
    // ONE fused codegen'd kernel call per row (quantize + m argmins +
    // d2 — PqKernel.assignInt pins the bit-identical arithmetic). The
    // old form built an m·(kCode+1)-dot literal tree whose Catalyst
    // analysis/optimization alone cost seconds of driver time per run
    // (measured 4.8 s plan time at m=8, kCode=32) and needed a cache()
    // barrier to stop CollapseProject re-inlining the interpreted
    // quantize HOF; the kernel needs neither the cache nor the tree.
    emb.select(col("vec_id"), explode(call_function("graft_pq_assign",
        col("embedding"), lit(gmx), typedLit(flat), lit(m), lit(kCode))).as("e"))
      .select(col("vec_id"), col("e.m_sub").as("m_sub"),
        col("e.code").as("code"), col("e.d2").as("d2"))
  }

  /** Materialise the RESIDUAL IVFADC layout — the classical Jégou
    * et al. TPAMI 2011 design that [[writeAdcIndex]] deliberately
    * simplified away: each vector's PQ codes encode the RESIDUAL
    * `v − centroid(list)` rather than the raw vector. Residuals
    * cluster tightly around the origin regardless of which cell the
    * vector landed in, so the same `m`-byte code spends its bits on
    * the part of the vector the coarse quantizer did NOT already
    * explain — higher fidelity at identical payload bytes (the
    * AnnRecallSpec row pins it as strictly lower reconstruction SSE).
    * The cost is per-list ADC tables at query time: `nProbe` × `m` ×
    * `kCode` integer cells instead of one global table — still a
    * driver-built literal (8×8×16 = 1 KiB-ish), built once per query,
    * never per row.
    *
    * `codebook` defaults to the residuals of the first `kCode`
    * vectors (seed convention of [[Similarity.pqEncodeAdc]], applied
    * post-assignment), computed through the SAME `assign` +
    * [[residualCol]] lineage as the corpus so the q123 oracle replays
    * codebook, codes and cells from one arithmetic; pass
    * [[trainResidualCodebooks]]' output for the production-fidelity
    * variant. Gate geometry uses seed centroids (`cid` = `vec_id` of
    * the first `nLists` rows, iters = 0 — the q112/q113
    * replayable-Voronoi convention).
    */
  def writeResidualAdcIndex(emb: DataFrame, centroids: Seq[(Int, Seq[Double])],
                            path: String, m: Int = 8, kCode: Int = 16,
                            codebook: Option[Seq[Double]] = None): Unit = {
    VectorExpressions.register(emb.sparkSession)
    val assigned = assign(emb, centroids).withColumn("r", residualCol(centroids))
    writeAdcTree(assigned, col("r"), centroids, path,
      adcCodebook(codebook, assigned.select(col("vec_id"), col("r")),
        centroids.head._2.length, m, kCode))
  }

  /** Incrementally add vectors to a RESIDUAL IVFADC index: assignment,
    * residuals and codes all derive from the STORED centroids and
    * codebook (fixed geometry, like [[appendToIndex]]), so the
    * appended rows are byte-identical to what a full rebuild would
    * store for them — AnnRecallSpec pins append-built ≡ full-built
    * list-for-list. Ingestion cost is O(batch): one narrow scan +
    * broadcast argmin + the encode projection.
    */
  def appendToResidualAdcIndex(newEmb: DataFrame, path: String): Unit = {
    VectorExpressions.register(newEmb.sparkSession)
    val tree = new Tree(newEmb.sparkSession, path)
    val assigned = assign(newEmb, tree.centroids)
      .withColumn("r", residualCol(tree.centroids))
    writeLists(tree.codebook.encode(assigned, col("r")), tree.dir, "append")
  }

  /** Top-k search against a RESIDUAL IVFADC index by ascending integer
    * ADC distance. Per probed list the driver subtracts that list's
    * centroid from the raw query (`qr = q − c_L`) and builds the
    * list's own `m`×`kCode` micro-unit cell table
    * `floor(1e6·subdist(qr, codebook))` — [[Similarity.pqEncodeAdc]]'s
    * exact aa−2ab+bb accumulation — so each row's estimate is still m
    * integer lookups + an order-free integer sum, just through the
    * CASE arm of its own partition. Probed lists arrive as a
    * partition-column filter (directory pruning); at `nProbe` =
    * `nLists` the result is fully deterministic and the q123 oracle
    * replays assignment, residuals, codebook, codes, every per-list
    * cell and the final pick end-to-end.
    */
  def topKResidualAdcIndexed(spark: SparkSession, path: String,
                             queryVec: Seq[Double], k: Int = 20, nProbe: Int = 2,
                             excludeVecId: Long = -1L): DataFrame = {
    val tree = new Tree(spark, path)
    val cb = tree.codebook
    require(queryVec.length == cb.m * cb.sub,
      s"query dim ${queryVec.length} != index dim ${cb.m * cb.sub}")
    val probeLists = nearestLists(tree.centroids, queryVec, nProbe)
    val centById = tree.centroids.toMap
    def cellAdc(lid: Int): Column = {
      val c = centById(lid)
      val qr = IndexedSeq.tabulate(queryVec.length)(i => queryVec(i) - c(i))
      cb.adc(graft.functions.PqKernel.adcCellTable(qr, cb.flat.toIndexedSeq,
        cb.m, cb.kCode, cb.sub).toSeq)
    }
    val adc = probeLists.tail.foldLeft(
      when(col("list_id") === probeLists.head, cellAdc(probeLists.head))) {
      case (acc, lid) => acc.when(col("list_id") === lid, cellAdc(lid))
    }
    tree.lists
      .filter(col("list_id").isin(probeLists: _*)) // partition pruning
      .filter(col("vec_id") =!= excludeVecId)
      .select(col("vec_id"), adc.as("adc"))
      .orderBy(col("adc").asc, col("vec_id").asc)
      .limit(k)
  }

  /** Top-k cosine search against a materialised index: the probed lists
    * arrive as a partition-column filter, so only those directories are
    * scanned, and the single scoring pass reuses the collected query
    * vector as a literal (no second scan, no cross join).
    */
  def topKIndexed(spark: SparkSession, path: String,
                  queryVecId: Long, k: Int = 20, nProbe: Int = 2): DataFrame = {
    VectorExpressions.register(spark)
    val tree = new Tree(spark, path)
    val lists = tree.lists
    val qRow = lists.filter(col("vec_id") === queryVecId)
      .select(col("v")).head().getSeq[Double](0).toSeq
    val probeLists = nearestLists(tree.centroids, qRow, nProbe)
    scoreAgainst(
      lists.filter(col("list_id").isin(probeLists: _*)) // partition pruning
        .filter(col("vec_id") =!= queryVecId),
      qRow, k)
  }
}
