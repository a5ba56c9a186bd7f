package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.operators.{IvfIndex, Similarity}

/** Measured recall@10 curves for every approximate-ANN index family,
  * against the brute-force cosine ground truth (the q30 operator) on
  * the same embeddings table — the accuracy/cost dial published as a
  * table in COVERAGE.md (r10-r12 verdict directive 1).
  *
  * Families and knobs:
  *  - IVF-flat (q32/q110 layout): recall@10 vs nProbe — the probed
  *    fraction IS the scan cost under the partition-pruned layout.
  *  - IVFADC (q122) and residual IVFADC (q123): recall@10 vs nProbe at
  *    the same m-byte payload.
  *  - PQ (q121): recall@10 vs m (bytes/vector) and vs kCode.
  *  - Rotated PQ (q133): recall@10 vs m, same integer-ADC convention.
  *
  * Methodology: `nQueries` deterministic query ids spread across the
  * corpus (skipping the `vec_id < kCode` codebook-seed rows), mean
  * recall@10 = |approx-top-10 ∩ exact-top-10| / 10 averaged over the
  * queries. Ground truth excludes the query vector, like every index
  * path. `runMain graft.AnnCurves [sfDir] [outFile] [nQueries]`.
  */
object AnnCurves {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "testdata_sf1"
    val outFile = if (args.length > 1) args(1) else "ANN_RECALL.md"
    val nQueries = if (args.length > 2) args(2).toInt else 16
    val spark = LocalSession.local()

    val emb = Tables.load(spark, sfDir, "embeddings").cache()
    val n = emb.count()
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    // deterministic query ids, clear of the vec_id < 32 seed rows any
    // kCode <= 32 codebook uses
    val qids = (0 until nQueries).map(i => 32L + i * ((n - 32) / nQueries))
    val k = 10

    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("vec_id").collect().map(_.getLong(0)).toSet
    val exact: Map[Long, Set[Long]] = qids.map { q =>
      q -> ids(Similarity.bruteForceTopK(emb, q, k))
    }.toMap
    def meanRecall(top: Long => Set[Long]): Double =
      qids.map(q => (top(q) & exact(q)).size.toDouble / k).sum / qids.size

    val sb = new StringBuilder
    sb.append(s"## ANN recall@10 — `$sfDir` embeddings ")
    sb.append(s"($n × $dim, mean over $nQueries queries)\n\n")
    sb.append("| family | knob | recall@10 | corpus fraction scanned |\n")
    sb.append("|---|---|---|---|\n")
    def row(family: String, knob: String, recall: Double, frac: String): Unit = {
      sb.append(f"| $family | $knob | $recall%.3f | $frac |\n")
      println(f"[ann] $family $knob recall@10=$recall%.3f scanned=$frac")
    }

    val nLists = 16
    val centroids = IvfIndex.train(emb, nLists, iters = 2)
    val qvs: Map[Long, Seq[Double]] = qids.map { q =>
      q -> emb.filter(col("vec_id") === q)
        .select(transform(col("embedding"), x => x.cast("double")))
        .head().getSeq[Double](0).toSeq
    }.toMap

    // IVF-flat over the partition-pruned materialised layout
    val ivfDir = Files.createTempDirectory("graft_ann_ivf_").toString
    IvfIndex.writeIndex(emb, centroids, ivfDir)
    for (nProbe <- Seq(1, 2, 4, 8, 16)) {
      row(s"IVF-flat (nLists=$nLists)", s"nProbe=$nProbe",
        meanRecall(q => ids(IvfIndex.topKIndexed(spark, ivfDir, q, k, nProbe))),
        s"~${nProbe}/$nLists")
    }

    // IVFADC: same lists, m=8 PQ codes as payload
    val adcDir = Files.createTempDirectory("graft_ann_adc_").toString
    IvfIndex.writeAdcIndex(emb, centroids, adcDir, m = 8, kCode = 16)
    for (nProbe <- Seq(1, 2, 4, 8, 16)) {
      row("IVFADC (m=8, kCode=16)", s"nProbe=$nProbe",
        meanRecall(q => ids(IvfIndex.topKAdcIndexed(spark, adcDir, qvs(q), k,
          nProbe, excludeVecId = q))),
        s"~${nProbe}/$nLists of codes")
    }

    // ADC + exact re-rank: the same index picks cand = 3k codes, then
    // one bounded broadcast semi-join ranks those rows by exact cosine
    // — the stage that lifts the quantizer ceiling
    for (c <- Seq(3, 10); nProbe <- Seq(1, 2, 4, 8, 16)) {
      row(s"IVFADC + re-rank (cand=${c}k)", s"nProbe=$nProbe",
        meanRecall(q => ids(IvfIndex.topKAdcRerankIndexed(spark, adcDir, emb,
          qvs(q), k, nProbe, cand = c * k, excludeVecId = q))),
        s"~${nProbe}/$nLists of codes + ${c * k} rows")
    }

    // residual IVFADC: trained per-list residual codebooks, same bytes
    val radcDir = Files.createTempDirectory("graft_ann_radc_").toString
    val cb = IvfIndex.trainResidualCodebooks(emb, centroids, m = 8,
      kCode = 16, iters = 2)
    IvfIndex.writeResidualAdcIndex(emb, centroids, radcDir, m = 8, kCode = 16,
      codebook = Some(cb))
    for (nProbe <- Seq(1, 2, 4, 8, 16)) {
      row("residual IVFADC (m=8, kCode=16)", s"nProbe=$nProbe",
        meanRecall(q => ids(IvfIndex.topKResidualAdcIndexed(spark, radcDir,
          qvs(q), k, nProbe, excludeVecId = q))),
        s"~${nProbe}/$nLists of codes")
    }
    for (c <- Seq(3, 10); nProbe <- Seq(1, 2, 4, 8, 16)) {
      row(s"residual IVFADC + re-rank (cand=${c}k)", s"nProbe=$nProbe",
        meanRecall(q => ids(IvfIndex.topKResidualAdcRerankIndexed(spark,
          radcDir, emb, qvs(q), k, nProbe, cand = c * k, excludeVecId = q))),
        s"~${nProbe}/$nLists of codes + ${c * k} rows")
    }

    // PQ / rotated PQ: full compressed scan, knob = bytes per vector
    def pqTop(df: org.apache.spark.sql.DataFrame, q: Long): Set[Long] =
      df.filter(col("vec_id") =!= q)
        .orderBy(col("adc").asc, col("vec_id").asc).limit(k)
        .select("vec_id").collect().map(_.getLong(0)).toSet
    for (m <- Seq(4, 8, 16)) {
      row("PQ (kCode=16)", s"m=$m",
        meanRecall(q => pqTop(Similarity.pqEncodeAdc(emb, m, 16, q), q)),
        "1 (compressed)")
    }
    for (kc <- Seq(8, 16, 32)) {
      row("PQ (m=8)", s"kCode=$kc",
        meanRecall(q => pqTop(Similarity.pqEncodeAdc(emb, 8, kc, q), q)),
        "1 (compressed)")
    }
    for (m <- Seq(4, 8, 16)) {
      row("rotated PQ (rounds=16, kCode=16)", s"m=$m",
        meanRecall(q => pqTop(Similarity.rotatedPqAdc(emb, 16, m, 16, q), q)),
        "1 (compressed)")
    }

    // ---- de-cloned tier: seed vs TRAINED codebooks ----
    // the corpus the quantizer will actually meet (no verbatim
    // clones); integer-Lloyd training (q165) vs the seed convention
    val declonedDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val emb2 = Tables.load(spark, declonedDir, "embeddings").cache()
    val n2 = emb2.count()
    val qids2 = (0 until nQueries).map(i => 32L + i * ((n2 - 32) / nQueries))
    val exact2: Map[Long, Set[Long]] = qids2.map { q =>
      q -> ids(Similarity.bruteForceTopK(emb2, q, k))
    }.toMap
    def meanRecall2(top: Long => Set[Long]): Double =
      qids2.map(q => (top(q) & exact2(q)).size.toDouble / k).sum / qids2.size
    sb.append(s"\n## De-cloned tier — `$declonedDir` embeddings ")
    sb.append(s"($n2 × $dim): seed vs trained codebooks\n\n")
    sb.append("| family | knob | seed recall@10 | trained recall@10 |\n")
    sb.append("|---|---|---|---|\n")
    def row2(family: String, knob: String, seed: Double, trained: Double): Unit = {
      def fmt(v: Double) = if (v.isNaN) "—" else f"$v%.3f"
      sb.append(s"| $family | $knob | ${fmt(seed)} | ${fmt(trained)} |\n")
      println(s"[ann] de-cloned $family $knob seed=${fmt(seed)} trained=${fmt(trained)}")
    }
    // lloyd >= 2 are the published operating points: a single round
    // measured below-seed once (m=8, 0.119 vs 0.125 — one neighbour
    // on one query) — under-trained codebooks are not a config this
    // table recommends
    for (m <- Seq(4, 8, 16); rounds <- Seq(2, 4)) {
      val cb = IvfIndex.trainPqCodebooksIntRaw(emb2, m, 16, rounds)
      row2("PQ (kCode=16)", s"m=$m, lloyd=$rounds",
        meanRecall2(q => pqTop(Similarity.pqEncodeAdc(emb2, m, 16, q), q)),
        meanRecall2(q => pqTop(Similarity.pqEncodeAdc(emb2, m, 16, q, Some(cb)), q)))
    }
    val cents2 = IvfIndex.train(emb2, nLists, iters = 2)
    val qvs2: Map[Long, Seq[Double]] = qids2.map { q =>
      q -> emb2.filter(col("vec_id") === q)
        .select(transform(col("embedding"), x => x.cast("double")))
        .head().getSeq[Double](0).toSeq
    }.toMap
    val cbT = IvfIndex.trainPqCodebooksIntRaw(emb2, 8, 16, rounds = 2)
    val adcSeedDir = Files.createTempDirectory("graft_ann_adc_s_").toString
    val adcTrainDir = Files.createTempDirectory("graft_ann_adc_t_").toString
    IvfIndex.writeAdcIndex(emb2, cents2, adcSeedDir, m = 8, kCode = 16)
    IvfIndex.writeAdcIndex(emb2, cents2, adcTrainDir, m = 8, kCode = 16,
      codebook = Some(cbT))
    for (nProbe <- Seq(1, 2, 4, 8, 16)) {
      row2("IVFADC (m=8, kCode=16, lloyd=2)", s"nProbe=$nProbe",
        meanRecall2(q => ids(IvfIndex.topKAdcIndexed(spark, adcSeedDir,
          qvs2(q), k, nProbe, excludeVecId = q))),
        meanRecall2(q => ids(IvfIndex.topKAdcIndexed(spark, adcTrainDir,
          qvs2(q), k, nProbe, excludeVecId = q))))
    }

    // ---- de-cloned tier, LARGER trained codebooks (r15 directive 4):
    // kCode = 32/64 — the knob the 16-entry seed convention capped —
    // at m = 8 and 16, full-scan PQ seed-vs-trained first
    for (kc <- Seq(32, 64); m <- Seq(8, 16)) {
      val cb = IvfIndex.trainPqCodebooksIntRaw(emb2, m, kc, rounds = 4)
      row2(s"PQ (kCode=$kc, lloyd=4)", s"m=$m",
        meanRecall2(q => pqTop(Similarity.pqEncodeAdc(emb2, m, kc, q), q)),
        meanRecall2(q => pqTop(Similarity.pqEncodeAdc(emb2, m, kc, q,
          Some(cb)), q)))
    }
    // IVFADC + exact re-rank through writeTrainedAdcIndex (the
    // production build path): the published ≥ 0.5 operating points
    for (kc <- Seq(32, 64); m <- Seq(8, 16)) {
      val d = Files.createTempDirectory(s"graft_ann_adc_t${kc}_$m").toString
      IvfIndex.writeTrainedAdcIndex(emb2, cents2, d, m, kc, rounds = 4)
      for (nProbe <- Seq(4, 8, 16)) {
        row2(s"IVFADC trained (m=$m, kCode=$kc, lloyd=4)",
          s"nProbe=$nProbe, adc-only",
          Double.NaN, // seed column not re-measured at this shape
          meanRecall2(q => ids(IvfIndex.topKAdcIndexed(spark, d,
            qvs2(q), k, nProbe, excludeVecId = q))))
        row2(s"IVFADC trained + re-rank (m=$m, kCode=$kc, cand=10k)",
          s"nProbe=$nProbe",
          Double.NaN,
          meanRecall2(q => ids(IvfIndex.topKAdcRerankIndexed(spark, d,
            emb2, qvs2(q), k, nProbe, cand = 10 * k, excludeVecId = q))))
      }
    }

    // ---- text-IVF tier (r16 directive 5): the embedding-free hashed
    // text vectors (the q124/q130 bridge) through seed vs TRAINED
    // geometry on the de-cloned documents. Seed = the oracle-replayable
    // conventions (IVF centroids are the first nLists docs' hashed
    // vectors — the q130 geometry; ADC codebook = subvectors of the
    // first kCode vectors); trained = Lloyd IVF centroids +
    // writeTrainedAdcIndex's integer-Lloyd codebook (the q176-gated
    // derivation). Ground truth: brute hashed-vector cosine.
    val docsT = Tables.load(spark, declonedDir, "documents")
    // integer counts cast once to double: the ANN kernels are
    // float/double-typed (exactly representable — entries are small)
    val tvecs = graft.operators.TextVectors.featureHashVectors(docsT, 256)
      .select(col("doc_id").as("vec_id"),
        transform(col("fvec"), x => x.cast("double")).as("embedding"))
      .cache()
    val nT = tvecs.count()
    val qidsT = (0 until nQueries).map(i => 32L + i * ((nT - 32) / nQueries))
    val exactT: Map[Long, Set[Long]] = qidsT.map { q =>
      q -> ids(Similarity.bruteForceTopK(tvecs, q, k))
    }.toMap
    def meanRecallT(top: Long => Set[Long]): Double =
      qidsT.map(q => (top(q) & exactT(q)).size.toDouble / k).sum / qidsT.size
    val qvsT: Map[Long, Seq[Double]] = qidsT.map { q =>
      q -> tvecs.filter(col("vec_id") === q)
        .select(transform(col("embedding"), x => x.cast("double")))
        .head().getSeq[Double](0).toSeq
    }.toMap
    sb.append(s"\n## Text-IVF tier — `$declonedDir` documents hashed to ")
    sb.append(s"256-d integer vectors ($nT docs): seed vs trained\n\n")
    sb.append("| family | knob | seed recall@10 | trained recall@10 |\n")
    sb.append("|---|---|---|---|\n")
    val nListsT = 16
    val seedCentsT = tvecs.filter(col("vec_id") < nListsT)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")))
      .collect().sortBy(_.getLong(0)).zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Double](1).toSeq) }.toSeq
    val trainCentsT = IvfIndex.train(tvecs, nListsT, iters = 2)
    val ivfSeedDir = Files.createTempDirectory("graft_ann_tivf_s_").toString
    val ivfTrainDir = Files.createTempDirectory("graft_ann_tivf_t_").toString
    IvfIndex.writeIndex(tvecs, seedCentsT, ivfSeedDir)
    IvfIndex.writeIndex(tvecs, trainCentsT, ivfTrainDir)
    for (nProbe <- Seq(1, 2, 4, 8)) {
      row2(s"text IVF-flat (nLists=$nListsT)", s"nProbe=$nProbe",
        meanRecallT(q => ids(IvfIndex.topKIndexed(spark, ivfSeedDir, q, k, nProbe))),
        meanRecallT(q => ids(IvfIndex.topKIndexed(spark, ivfTrainDir, q, k, nProbe))))
    }
    // the compressed tier over text vectors: trained IVFADC + exact
    // re-rank vs the all-seed conventions at the same shape. Published
    // for honesty, not as a recommendation — AnnRecallSpec's 24-config
    // sweep (m × kCode × rounds × cand) plateaus at 0.20–0.48, cand
    // the only effective lever: PQ's global int8 grid crushes
    // heavy-tailed sparse count vectors (see the note below).
    val adcSeedT = Files.createTempDirectory("graft_ann_tadc_s_").toString
    val adcTrainT = Files.createTempDirectory("graft_ann_tadc_t_").toString
    IvfIndex.writeAdcIndex(tvecs, seedCentsT, adcSeedT, m = 16, kCode = 64)
    IvfIndex.writeTrainedAdcIndex(tvecs, trainCentsT, adcTrainT, m = 16,
      kCode = 64, rounds = 2)
    for (nProbe <- Seq(8, 16); cand <- Seq(10, 30)) {
      row2(s"text IVFADC + re-rank (m=16, kCode=64, cand=${cand}k)",
        s"nProbe=$nProbe",
        meanRecallT(q => ids(IvfIndex.topKAdcRerankIndexed(spark, adcSeedT,
          tvecs, qvsT(q), k, nProbe, cand = cand * k, excludeVecId = q))),
        meanRecallT(q => ids(IvfIndex.topKAdcRerankIndexed(spark, adcTrainT,
          tvecs, qvsT(q), k, nProbe, cand = cand * k, excludeVecId = q))))
    }

    sb.append("""
      |Notes:
      |- `testdata_sf1` replicates the sf0.1 embeddings 10× VERBATIM, so for
      |  every query 9 of the exact top-10 are exact clones that PQ-quantize
      |  identically: the ADC families' recall "plateau" at 0.90 is exactly the
      |  clone fraction — the quantizer reliably returns the clones and almost
      |  never the 10th (first non-clone) neighbour, and adding probes cannot
      |  fix a quantizer ceiling. The re-rank rows show the standard fix — ADC
      |  proposes cand candidates, an exact-cosine re-rank over only those rows
      |  recovers the missing neighbours — and ALSO show its sizing rule: the
      |  candidate pool must scale with the corpus's duplication factor. On
      |  this 10×-cloned tier cand = 3k (30 rows) spans only ~3 distinct code
      |  groups, so it recovers little; cand = 10k spans ~10 and lifts further.
      |  At 100 TB, size cand ≈ c·k·(expected clones per near-dup cluster).
      |- A clone-heavy tier cannot separate near-equal indexes (rotated-PQ
      |  m >= 8 "parity" here is inside clone noise). The de-cloned section
      |  above measures the 2000-vector sf0.1 tier, where absolute recalls
      |  are far lower for every PQ family (16-entry codebooks underfit
      |  unstructured embeddings) and the fixed rotation can lose at any m —
      |  see the rotatedPqAdc scaladoc before enabling rotation.
      |- Trained codebooks (integer per-subspace Lloyd on a global int8
      |  grid — `IvfIndex.trainPqCodebooksInt`, gated bit-exactly by q165)
      |  recover recall over the seed convention at every de-cloned
      |  operating point above (AnnRecallSpec pins trained >= seed); the
      |  seed columns are what ships when training is skipped. lloyd=1 was
      |  measured and is NOT published as an operating point: one round
      |  landed below seed once (m=8: 0.119 vs 0.125, one neighbour on one
      |  of 16 queries) — train >= 2 rounds. On the cloned sf1 tier both
      |  codebooks hit the same clone ceiling, so the de-cloned table is
      |  the one that ranks quantizers.
      |- The kCode=32/64 rows (r15 directive 4) are the PRODUCTION
      |  operating tier, built through `IvfIndex.writeTrainedAdcIndex`
      |  (the 32-entry integer-Lloyd derivation is oracle-gated by
      |  q176). The de-cloned recall collapse is fixed by the
      |  combination, not any single knob: trained codebooks at
      |  kCode >= 32 give the ADC stage usable candidate ordering
      |  (adc-only 0.19-0.46), and the exact re-rank over cand = 10k
      |  turns that into 0.61-0.93 — RECOMMENDED operating points:
      |  m=16, kCode=32, nProbe=16, cand=10k -> 0.919 recall@10
      |  scanning all codes + 100 raw rows; m=8, kCode=32, nProbe=8,
      |  cand=10k -> 0.613 scanning half the codes. The seed column is
      |  dash-marked there: the seed convention exists for oracle
      |  replay, not production, and its kCode=16 collapse is already
      |  quantified above. AnnRecallSpec pins the >= 0.5 bar end-to-end
      |  through writeTrainedAdcIndex.
      |- The text-IVF tier (r16 directive 5) runs the embedding-free
      |  hashed vectors through the SAME index stack: seed columns are
      |  the q130/q121 oracle conventions, trained columns are Lloyd
      |  IVF centroids + the q176-gated integer-Lloyd codebook via
      |  writeTrainedAdcIndex. The RECOMMENDED text serving path is the
      |  trained IVF-FLAT index: scoring over the probed lists is exact
      |  integer arithmetic, so recall is purely an assignment question
      |  and full probe reproduces brute force bit-for-bit
      |  (AnnRecallSpec pins both). The ADC tier is published for
      |  honesty, NOT recommended for hashed text: count vectors are
      |  heavy-tailed (hot buckets reach hundreds while typical entries
      |  are 1-3), so PQ's global int8 grid quantizes most entries
      |  to zero and the ADC ordering plateaus at 0.20-0.48 recall@10
      |  across a 24-config sweep regardless of m/kCode/rounds — cand
      |  (the exact re-rank pool) is the only effective lever. Real
      |  embeddings don't have this pathology (see the tiers above);
      |  if text must be compressed, quantize per-vector (the q93 int8
      |  path) instead of product-quantizing.
      |- Text IVF-flat seed-vs-trained columns must be read against the
      |  PROBED-ROW fraction, not nProbe/nLists: the seeded geometry is
      |  skewed (`IvfIndex.listSkewStats`, sf0.1: seed top-1 list holds
      |  27.7% of the corpus vs trained 14.1%; at nProbe=8 seed probes
      |  52.2% of rows vs trained 45.4%, at nProbe=1 10.3% vs 6.4%), so
      |  seed's higher recall at equal nProbe is bought with more
      |  scanned rows — per scanned row the geometries are ~equivalent
      |  (and trained wins outright at nProbe=1: 0.281 @ 6.4% vs 0.231
      |  @ 10.3%). Operationally the BALANCED lists are the point: a
      |  list holding a quarter of a 100 TB corpus is a straggler task
      |  and a floor on pruning, so trained centroids remain the
      |  recommendation.
      |""".stripMargin)
    Files.writeString(Paths.get(outFile), sb.toString,
      StandardCharsets.UTF_8)
    println(s"[ann] wrote $outFile")
    spark.stop()
  }
}
