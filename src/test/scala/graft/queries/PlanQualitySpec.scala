package graft.queries

import graft.{SparkSpec, Tables}
import graft.operators.Similarity

/** Plan-quality regression tests: the physical plans the queries rely on
  * at 100 TB must not silently degrade — filters/projections reach the
  * parquet scan, small dimensions broadcast, the vector hot path stays
  * inside whole-stage codegen, and the pipe operator introduces no
  * shuffle.
  */
class PlanQualitySpec extends SparkSpec {

  private def formatted(name: String): String =
    SparkEntryAccess.query(name)(spark, sf).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("q02 pushes filter and projection into the parquet scan") {
    val plan = formatted("q02_filter_project")
    assert(plan.contains("PushedFilters"), plan)
    assert(plan.contains("GreaterThan(l_quantity,45.0)"), plan)
    assert(plan.contains("EqualTo(l_returnflag,R)"), plan)
    // projection pruned: only the 5 referenced columns are read
    assert(!plan.contains("l_shipdate"), plan)
  }

  test("q03 joins every dimension with a broadcast, never sort-merge") {
    val plan = formatted("q03_join_agg")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q07 range join broadcasts the band table") {
    val plan = formatted("q07_range_join")
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("graft_dot participates in whole-stage codegen") {
    val df = Similarity.bruteForceTopK(
      Tables.load(spark, sf, "embeddings"), queryVecId = 0L, k = 5)
    df.collect() // AQE only materializes codegen stages at execution
    val plan = df.queryExecution.executedPlan.toString
    // "*(n)" marks operators inside WholeStageCodegen stage n: the
    // Project computing graft_dot must carry it
    assert("""\*\(\d+\) Project \[[^\]]*graft_dot""".r.findFirstIn(plan).isDefined, plan)
  }

  test("shingle sets are one codegen'd narrow projection") {
    // raw read, not Tables.load: the loader's deterministic hot-table
    // redistribution (its own documented local-tier exchange) must not
    // mask the OPERATOR property pinned here — the kernel itself adds
    // no shuffle over whatever layout the input arrives in
    val df = graft.operators.TextDedup.shingleSets(
      spark.read.parquet(s"$sf/documents.parquet"), k = 3)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the graft_shingles kernel stays inside a WholeStageCodegen stage
    // (the interpreted-lambda formulation it replaced broke the stage)
    assert("""\*\(\d+\) Project \[[^\]]*graft_shingles""".r.findFirstIn(plan).isDefined, plan)
    assert(!plan.contains("Exchange"), plan) // narrow: no shuffle
  }

  test("the pipe operator is a narrow transformation (no Exchange)") {
    import spark.implicits._
    val piped = graft.operators.Stream.tsv(
      Tables.load(spark, sf, "lineitem").select($"l_orderkey"), "cat")
    val plan = piped.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
    assert(!plan.contains("Exchange"), plan)
  }

  test("the pipe operator plans as StreamExec via the injected strategy") {
    import spark.implicits._
    val piped = graft.operators.Stream.tsv(
      Tables.load(spark, sf, "lineitem").select($"l_orderkey"), "cat")
    val plan = piped.queryExecution.executedPlan.toString
    assert(plan.contains("Stream cat"), plan)
  }

  test("the pipe side input rides a planner-managed BroadcastExchange") {
    import spark.implicits._
    val side = Tables.load(spark, sf, "nation").select($"n_nationkey", $"n_name")
    val piped = graft.operators.Stream.tsv(
      Tables.load(spark, sf, "customer").select($"c_nationkey"),
      "cat", side = Some(side))
    val plan = piped.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"), plan)
    // the input side must still be exchange-free (narrow operator)
    val above = plan.linesIterator.takeWhile(!_.contains("BroadcastExchange")).mkString("\n")
    assert(!above.contains("Exchange "), plan)
  }

  test("minhash banding is a narrow codegen'd kernel, not a word shuffle") {
    // regression for three measured dead ends: collect_set demotes the
    // old signature groupBy to ObjectHashAggregate; higher-order
    // array_min(transform(...)) signatures leave whole-stage codegen;
    // and the explode + 32-min groupBy itself shuffled every word of
    // the corpus — band keys now come straight from graft_minhash
    val plan = formatted("q21_minhash_lsh")
    assert(plan.contains("graft_minhash"), plan)
    assert(!plan.contains("ObjectHashAggregate"), plan)
    // banding + verification must be equi-joins, never a cross product
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("blocked jaccard common counts come from an equi-join inverted index") {
    val plan = formatted("q22_ngram_jaccard")
    // the |block|^2 array-intersect formulation would plan a sort-merge
    // or nested-loop join keyed only on (source, lang); the inverted
    // index joins on the shingle too, and never a cross product
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("sh"), plan)
  }

  test("simhash pair mining plans as equi-joins with no distinct shuffle") {
    val plan = formatted("q34_simhash_pairs")
    // first-match banding: four band-keyed self-joins unioned — never a
    // cross product, and no HashAggregate(distinct) over the candidates
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(plan.contains("Union"), plan)
  }

  test("simhash64 pair mining keeps the q34 plan shape on the 64-bit bands") {
    val plan = formatted("q38_simhash64_pairs")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("Union"), plan)
  }

  test("capped simhash64 mining stays banded equi-joins; hot flags ride the rows") {
    val plan = formatted("q140_simhash64_capped")
    // the hot-band cap must not change the join family: band-keyed
    // equi-joins + union, no cross product, no nested loop; the
    // hot-key tables enter as joins, never as collected literals
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("Union"), plan)
    assert(!plan.contains(" IN ("), plan)
  }

  test("capped image mining keeps the q140 banded shape over aHash signatures") {
    val plan = formatted("q141_image_near_dup_capped")
    // same pin as q140: band-keyed equi-joins + union, no cross
    // product, no nested loop, hot-key tables as joins not literals
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("Union"), plan)
    assert(!plan.contains(" IN ("), plan)
  }

  test("containment pairs ride the shingle-keyed inverted index") {
    val plan = formatted("q48_containment")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("tf-idf top terms trim to k per partition before the stratum shuffle") {
    val plan = SparkEntryAccess.query("q55_tfidf_terms")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("blocked kNN graph pairs through a bucket equi-join, not a nested loop") {
    val df = SparkEntryAccess.query("q56_knn_graph")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the pair stage must be keyed on the LSH bucket code — an
    // equi-join (sort-merge or shuffled-hash) — with no O(n^2)
    // nested-loop fallback anywhere in the plan; WindowGroupLimit
    // before the per-vector exchange, dot product inside codegen
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("WindowGroupLimit"), plan)
    assert("""\*\(\d+\) Project \[[^\]]*graft_dot""".r.findFirstIn(plan).isDefined, plan)
  }

  test("semantic dedup pairs only within clusters via an equi-join on cluster_id") {
    val df = SparkEntryAccess.query("q112_semantic_dedup")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the pair stage must be keyed on cluster_id — an equi-join with no
    // all-pairs fallback: Σ|cell|² work bounded by the seed count, the
    // 100 TB contract of the SemDeDup shape; assignment itself is a
    // narrow broadcast argmin (no exchange below the join inputs)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.toLowerCase.contains("cluster_id"), plan)
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"), plan)
  }

  test("prototypicality has no pair stage: argmin, k-row broadcast join, one window") {
    val df = SparkEntryAccess.query("q113_prototype_filter")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("SortMergeJoin"), plan) // centroids broadcast
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("Window"), plan)
  }

  test("semantic decontamination is one codegen'd narrow scan — no join, no agg") {
    val df = SparkEntryAccess.query("q92_semantic_decontam")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the benchmark rides the graft_argmax_cos kernel as a literal
    // matrix: no n×m candidate rows may exist, so the plan must have
    // no join and no aggregate — just a codegen'd projection over the
    // corpus scan (the only exchange is the final presentation sort)
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Aggregate"), plan)
    assert("""\*\(\d+\) Project \[[^\]]*graft_argmax_cos""".r.findFirstIn(plan).isDefined, plan)
  }

  test("semantic decontamination join fallback broadcasts and pre-aggregates") {
    val df = SparkEntryAccess.query("q104_semantic_decontam_join")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the oversized-eval-set tier: benchmark side broadcast (nested
    // loop — the scoring is a cross product by semantics), argmax as a
    // struct-max aggregate with a map-side partial so the n×m scored
    // rows never reach an exchange; no plain cartesian
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert("""partial_max""".r.findFirstIn(plan).isDefined
      || plan.contains("partial"), plan)
  }

  test("exact percentiles run bounded-memory: no value buffers, no per-group sort") {
    val df = SparkEntryAccess.query("q64_percentiles")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the refinement form (operators.Percentiles): no percentile_disc
    // ObjectHashAggregate value buffers (memory ∝ distinct values per
    // group), and — the r9 scale-killer — no Window partitioned by the
    // 3-value group key sorting whole groups in single tasks. The only
    // Windows allowed are the finish pass's per-task rank over rows
    // that already passed the frozen-bucket equality Filter.
    assert(!plan.contains("ObjectHashAggregate"), plan)
    assert(!plan.contains("percentile"), plan)
    assert(!plan.contains("windowspecdefinition(l_returnflag"), plan)
    if (plan.contains("windowspecdefinition"))
      assert(plan.contains("FLOOR"), plan) // bucket filter feeds the window
  }

  test("q39 local-side pipe plans without any broadcast exchange") {
    val plan = SparkEntryAccess.query("q39_pipe_local_side")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastExchange"), plan)
    assert(plan.contains("Stream "), plan)
  }

  test("cube expands grouping sets inside codegen'd HashAggregate") {
    val plan = formatted("q63_cube")
    assert(plan.contains("Expand"), plan)
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("ObjectHashAggregate"), plan)
  }

  test("sliding windows stay a single pass (explode + hash aggregate)") {
    val plan = formatted("q65_sliding_window")
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // one scan of events, no self-join of the table against the windows
    // (each file appears once: one "Location:" detail block per scan)
    assert("Location:".r.findAllIn(plan).size == 1, plan)
    assert(plan.contains("Expand"), plan)
  }

  test("arrow stream output is columnar with a codegen'd ColumnarToRow above it") {
    import spark.implicits._
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val cmd = graft.operators.clients.JvmChild.command(
      "graft.operators.clients.ArrowEchoChild")
    val declared = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_quantity", DoubleType)))
    val piped = graft.operators.Stream.arrow(
      Tables.load(spark, sf, "lineitem").select($"l_orderkey", $"l_quantity"),
      cmd, declared)
    val plan = piped.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"), plan)
    assert(plan.contains("Stream "), plan)
  }

  test("GRFT header decode stays inside whole-stage codegen") {
    import spark.implicits._
    import org.apache.spark.sql.functions.encode
    // regression for the df.rdd round-trip this operator once used: a
    // 14-byte header parse is a pure projection and must not leave
    // WholeStageCodegen (no DeserializeToObject / external-Row scan)
    val packed = Tables.load(spark, sf, "documents")
      .select($"doc_id", encode($"text", "utf-8").as("blob"))
      .select($"doc_id", callPacked($"doc_id", $"blob").as("blob"))
    val decoded = graft.operators.Multimodal.decodeHeader(packed, "blob")
      .select($"doc_id", $"meta.width", $"meta.valid")
    decoded.collect()
    val plan = decoded.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[[^\]]*graft_meta""".r.findFirstIn(plan).isDefined, plan)
    assert(!plan.contains("DeserializeToObject"), plan)
    assert(!plan.contains("Scan ExistingRDD"), plan)
  }

  private def callPacked = org.apache.spark.sql.functions.udf {
    (id: Long, payload: Array[Byte]) =>
      graft.operators.Multimodal.pack(
        payload.length % 256, payload.length / 256 % 256, 1, 0, payload)
  }

  test("q70 broadcasts the benchmark gram set into the semi join") {
    val plan = formatted("q70_contamination")
    // the corpus-side explode must probe a broadcast of the (small)
    // benchmark grams — a shuffled semi join here would move the whole
    // exploded corpus gram table at 100 TB
    assert(plan.contains("LeftSemi"), plan)
    assert(!plan.contains("SortMergeJoin [sh"), plan)
  }

  test("q100 gopher rules stay one narrow projection over the scan") {
    val plan = formatted("q100_gopher_rules")
    // pure map stage: no join, no aggregation; the only exchanges are
    // the final presentation sort and the loader's documented
    // hot-table redistribution (hash by doc_id — a local-tier input
    // layout step, not part of the operator)
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("HashAggregate"), plan)
    val exchanges = plan.linesIterator
      .count(_.matches("""\(\d+\) Exchange.*"""))
    assert(exchanges <= 2, plan)
  }

  test("q101 probes benchmark windows via a broadcast left-semi join") {
    val plan = formatted("q101_substr_decontam")
    // the corpus-side char-window Generate must feed a BROADCAST semi
    // join — a shuffled semi join would move the w-per-char exploded
    // corpus over the wire at 100 TB; only true matches may shuffle
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("LeftSemi"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q71 KMV sketch aggregates map-side before any exchange") {
    val plan = SparkEntryAccess.query("q71_distinct_sketch")(spark, sf)
      .queryExecution.executedPlan.toString
    // partial sketch state per partition, k doubles per group over the
    // wire — the mergeable-aggregation contract of the KMV design
    assert(plan.contains("partial_kmvdistinct"), plan)
  }

  test("bloom membership is a filter, not a join — and sketch builds aggregate map-side") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val ev = Tables.load(spark, sf, "events")
    val words = graft.operators.Bloom.build(
      ev.filter($"event_type" === "purchase").select($"user_id"), $"user_id", 256, 3)
    val probe = ev.where(graft.operators.Bloom.mightContain($"user_id", words, 256, 3))
      .queryExecution.executedPlan.toString
    // the probe must be a pure scan-side filter on a literal bit array:
    // no join, no exchange — the whole point of the runtime-filter shape
    assert(!probe.contains("Join"), probe)
    assert(!probe.contains("Exchange"), probe)
    // and the build must be a partial+final aggregate (m/64 longs per
    // partition over the wire), like the KMV/MG/CMS mergeable family
    val build = ev.select(graft.operators.Bloom.positions(
        graft.operators.Bloom.md5Hex($"user_id"), 3, 256).as("p"))
      .agg(udaf(new graft.operators.Bloom.BloomBuild(256)).apply($"p"))
      .queryExecution.executedPlan.toString
    assert(build.contains("partial_bloombuild"), build)
  }

  test("cms estimates are a narrow projection over the literal counter matrix") {
    import spark.implicits._
    val docs = Tables.load(spark, sf, "documents")
    val bi = graft.operators.NgramLm.bigrams(docs, "doc_id", "text").select($"bg")
    val cms = graft.operators.Sketches.cmsBuild(bi, $"bg", 3, 256)
    val est = bi.distinct()
      .select($"bg", graft.operators.Sketches.cmsEstimate($"bg", cms, 3, 256))
      .queryExecution.executedPlan.toString
    assert(!est.contains("Join"), est)
  }

  test("q98 bm25 filters the word stream to the query terms pre-shuffle") {
    val plan = SparkEntryAccess.query("q98_bm25_rank")(spark, sf)
      .queryExecution.executedPlan.toString
    // the explode output is cut to the literal term set by a Filter
    // (output ∝ matches, not corpus size) and the df/corpus-stats
    // sides ride broadcasts — no corpus-sized sort-merge for them
    assert(plan.contains("Generate explode"), plan)
    assert(plan.contains("dup") && plan.contains("vector"), plan)
    assert(plan.contains("BroadcastExchange"), plan)
  }

  test("q72 weighted sampling pushes top-k below the shuffle") {
    val plan = SparkEntryAccess.query("q72_weighted_sample")(spark, sf)
      .queryExecution.executedPlan.toString
    // WindowGroupLimit(Partial) trims each partition to k rows before
    // the stratum exchange: the bounded per-partition top-k the
    // operator's scale story relies on
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("stream input columns survive column pruning (black-box operator)") {
    import spark.implicits._
    // regression: ColumnPruning's generic case once inserted an empty
    // Project under StreamPlan (references = none), feeding the child
    // zero-width rows; the narrow projection downstream masked it until
    // values were parsed
    val piped = graft.operators.Stream.tsv(
      spark.range(0, 8).select($"id"), "cat", chunkSize = 4)
    import org.apache.spark.sql.functions._
    val total = piped
      .select(explode(split($"response", "\n")).as("l"))
      .select($"l".cast("long").as("v"))
      .agg(sum($"v")).head().getLong(0)
    assert(total == (0L until 8L).sum)
  }
  test("q114 winnowing: the kernel runs next to the scan, joins only on fingerprints") {
    val plan = formatted("q114_winnowing")
    // the selection runs inside graft_winnow; the only join is the
    // fingerprint-sized share-count equi-join
    assert(plan.contains("graft_winnow"), plan)
    assert(!plan.contains("SortMergeJoin [doc_id"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q116 multi-pattern: one narrow AC pass, no join at all") {
    val plan = formatted("q116_multi_pattern")
    assert(plan.contains("graft_ac_count"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("q121 PQ encode: codebook rides the plan as a literal, no join") {
    val plan = formatted("q121_pq_codes")
    assert(plan.contains("graft_pq_encode"), plan)
    assert(!plan.contains("Join"), plan)
    // exchanges: the loader redistribution and the final sort only
    val exchanges = plan.linesIterator.count(_.matches("""\(\d+\) Exchange.*"""))
    assert(exchanges <= 2, plan)
  }

  test("q124 feature hashing: one narrow kernel pass, no word explode before the vector") {
    val plan = formatted("q124_feature_hash")
    assert(plan.contains("graft_fhash"), plan)
    // the only Generate is the SPARSE posexplode of the already-built
    // dim-sized vector — never a per-word explode (words >> dim)
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("posexplode"), plan)
    assert(!plan.toLowerCase.contains("split(text"), plan)
  }

  test("q125 hashed kNN: no explode, no join — kernel scan straight into top-k") {
    val plan = formatted("q125_hashed_knn")
    assert(plan.contains("graft_fhash"), plan)
    assert(plan.contains("graft_dot"), plan)
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Generate"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q127 max-dup spans: seeds join left-semi on gram hashes, no cartesian") {
    val plan = formatted("q127_max_dup_spans")
    // r18: gram materialization + md5-prefix hashing fused into the
    // graft_gram_hashes kernel (same values, one pass)
    assert(plan.contains("graft_gram_hashes"), plan)
    // the duplicated-hash membership arrives as a LeftSemi equi-join
    // on the 8-byte hash; the island merge is a per-doc window
    assert(plan.contains("LeftSemi"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("Window"), plan)
  }

  test("q128 JL projection: sign matrix rides as literals, one narrow pass") {
    val plan = formatted("q128_jl_project")
    assert(plan.contains("graft_dot"), plan)
    assert(!plan.contains("Join"), plan)
    // exchanges: only the final global orderBy
    val exchanges = plan.linesIterator.count(_.matches("""\(\d+\) Exchange.*"""))
    assert(exchanges <= 1, plan)
  }

  test("q129 text clustering: seed vectors ride as literals, no join before the window") {
    val plan = formatted("q129_text_clusters")
    assert(plan.contains("graft_fhash"), plan)
    assert(plan.contains("graft_dot"), plan)
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("Window"), plan) // only the cluster_n count
  }

  test("q130 text IVF: probed lists arrive as partition filters over the text index") {
    val plan = formatted("q130_text_ivf")
    assert("""PartitionFilters: \[[^\]]*list_id""".r.findFirstIn(plan).isDefined, plan)
    assert(plan.contains("graft_dot"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("q126 KMV set-ops: sketches aggregate map-side; the combine is sketch-sized") {
    val plan = formatted("q126_kmv_setops")
    // partial aggregation of the KMV udaf before the exchange: the
    // (src, vals) frame that reaches the pair combine is S rows
    assert(plan.contains("kmvvaluesagg"), plan.toLowerCase)
    assert(plan.contains("partial_"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q149 epoch schedule: targets broadcast onto the docs, one source window, no cartesian") {
    val plan = formatted("q149_epoch_repeats")
    // the per-source target table joins back via broadcast (|sources|
    // rows), never a shuffled join of the corpus
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("Window"), plan)
  }

  test("q151 novelty probe: batch grams anti-join the index scan, never collect it") {
    val plan = formatted("q151_novelty_index")
    assert(plan.contains("LeftAnti"), plan)
    // the standing index is read as a parquet scan inside the join —
    // no IN-literal rewrite, no driver-side materialization
    assert("""Scan parquet[\s\S]*gram_index""".r.findFirstIn(plan).isDefined, plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q152 train order: explode then ONE shard-keyed window, no join at all") {
    val plan = formatted("q152_train_order")
    assert(plan.contains("Generate"), plan) // the repeats explode
    assert(plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q157 ADC re-rank: bounded broadcast semi-join back to the embeddings, no corpus shuffle") {
    val plan = formatted("q157_adc_rerank")
    // stage 1 reads the pruned index lists; stage 2 joins the bounded
    // candidate set to the raw embeddings via broadcast — never a
    // shuffled or nested-loop join of the corpus
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q158/q159 media dedup apply: banded pair join, no cartesian, one labels join") {
    for (q <- Seq("q158_audio_dedup_apply", "q159_video_dedup_apply")) {
      val plan = formatted(q)
      // pairs come from the capped banded equi-join (same machinery as
      // q140/q141) — a cartesian or nested-loop anywhere means the
      // hamming join degenerated
      assert(!plan.contains("CartesianProduct"), s"$q: $plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q: $plan")
      // the signature kernel runs as a codegen'd projection
      assert(plan.contains(if (q.startsWith("q158")) "graft_aenv" else "graft_vhash"),
        s"$q: $plan")
    }
  }

  test("q160 FIM pack: two windows (shard rank + emitted cumsum), explode, no extra shuffle") {
    val plan = formatted("q160_fim_pack")
    // the segment fan-out is a Generate in the same stage as the
    // offset arithmetic — no join at all in the whole plan
    assert(plan.contains("Generate"), plan)
    assert(plan.contains("Window"), plan)
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q162 CDC chunks: narrow kernel + generate, one hash-agg share join, no cartesian") {
    val plan = formatted("q162_cdc_chunks")
    assert(plan.contains("graft_cdc"), plan)
    assert(plan.contains("Generate"), plan)
    // the share counts come from a hash aggregation joined back — the
    // only join in the plan; never a cartesian/nested-loop
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q163 CDC probe: batch-only kernel, index read via hash-agg equi-join") {
    val plan = formatted("q163_cdc_ingest_probe")
    // the batch side is chunked by the codegen'd kernel; the history
    // arrives ONLY as a parquet scan of its 3-column index, aggregated
    // per hash and equi-joined — never a cartesian/nested-loop
    assert(plan.contains("graft_cdc"), plan)
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // the index scan is pruned to exactly the two columns the count
    // aggregate needs (chunk_idx is stored but not read)
    assert(plan.contains("struct<doc_id:bigint,chunk_hash:string>"), plan)
  }

  test("standing-index probes prune their scans to the batch's buckets") {
    // q163 (chunk-hash), q175 (norm-hash), q161 (banded media hash),
    // q77 (MinHash bands), q151 (gram index): every standing index is
    // bucketed and every probe's parquet scan carries a bucket
    // partition filter once the index crosses the engage threshold
    // (forced to 0 here — the gate-scale indexes are KBs, and the
    // threshold exists precisely so tiny indexes skip the machinery)
    spark.conf.set(graft.operators.IndexLayout.PruneMinBytesKey, "0")
    try {
      for (q <- Seq("q163_cdc_ingest_probe", "q175_norm_dedup_ingest",
          "q161_media_ingest_dedup", "q77_incremental_dedup",
          "q151_novelty_index")) {
        val plan = formatted(q)
        assert("""PartitionFilters: \[[^\]]*bucket""".r.findFirstIn(plan)
          .isDefined, s"$q probe scan is not bucket-pruned:\n$plan")
      }
      // the banded media probe additionally pins its band slice
      val mplan = formatted("q161_media_ingest_dedup")
      assert("""PartitionFilters: \[[^\]]*band""".r.findFirstIn(mplan)
        .isDefined, mplan)
    } finally spark.conf.unset(graft.operators.IndexLayout.PruneMinBytesKey)
  }

  test("q164 CDC keep-first: one ownership aggregate + doc-partitioned window") {
    val plan = formatted("q164_cdc_keep_manifest")
    assert(plan.contains("graft_cdc"), plan)
    // ownership is an AGGREGATE on chunk_hash (map-side combinable),
    // not a window over the hash — a boilerplate chunk shared by
    // millions of docs must never concentrate in one window partition
    assert(plan.contains("HashAggregate"), plan)
    assert(plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q167 byte-CDC: narrow kernel + generate, hash-agg share join, no cartesian") {
    val plan = formatted("q167_cdc_byte_chunks")
    assert(plan.contains("graft_cdc_bytes"), plan)
    assert(plan.contains("Generate"), plan)
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q166 multimodal ingest: every join keyed, no cartesian/nested-loop") {
    val plan = formatted("q166_multimodal_ingest")
    // the chain composes a full-outer fp diff, banded equi-joins and
    // anti/semi joins — all key-partitioned; a cartesian or NLJ
    // anywhere would be quadratic in the corpus
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q168 decontam apply: benchmark broadcast-semi-joins the windows, no cartesian") {
    val plan = formatted("q168_decontam_apply")
    // identical to q101 until hits exist: the benchmark's distinct
    // windows broadcast into a LEFT-SEMI join over the transient
    // per-char Generate — the only shuffles carry hits (the union
    // window + final doc join), never window rows
    assert(plan.contains("Generate"), plan)
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      plan)
    assert(plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q170 decontam rewrite: hits-sized reassembly, untouched majority via left joins") {
    val plan = formatted("q170_decontam_rewrite")
    // same broadcast-semi hit stage as q168; the complement windows
    // and the collect_list reassembly run only over contaminated
    // docs, and the corpus re-enters through keyed left joins
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      plan)
    assert(plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q171 dedup rewrite: interval arrays join the corpus once, word filter is narrow") {
    val plan = formatted("q171_dedup_rewrite")
    // mining/ownership is q131's shape; the rewrite itself is one
    // collect_list aggregate + one keyed left join + a higher-order
    // filter expression — no per-word shuffle, no reassembly join
    assert(plan.contains("graft_gram_hashes"), plan)
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q131/q171 span ownership is a HashAggregate, never a window over key_gh") {
    // a boilerplate span occurring in millions of docs is ONE key_gh
    // value: ownership must collapse it map-side (min(struct) per
    // key), not sort the whole key partition in one window task. The
    // only windows left in the plan partition by doc_id (island merge
    // + interval union), whose partitions are bounded by doc length.
    for (q <- Seq("q131_dedup_apply_spans", "q171_dedup_rewrite")) {
      val plan = formatted(q)
      val windowSpecs = plan.linesIterator
        .filter(_.contains("Window ")).mkString("\n")
      assert(!windowSpecs.contains("key_gh"),
        s"$q has a window partitioned by key_gh:\n$windowSpecs")
      assert(plan.contains("HashAggregate"), plan)
    }
  }

  test("q172 CDC rewrite: ownership aggregate + one interval-array join, narrow word cut") {
    val plan = formatted("q172_cdc_rewrite")
    assert(plan.contains("graft_cdc"), plan)
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q173/q174 byte-CDC apply: ownership aggregate + narrow binary reassembly") {
    for (q <- Seq("q173_cdc_byte_manifest", "q174_cdc_byte_rewrite")) {
      val plan = formatted(q)
      assert(plan.contains("graft_cdc_bytes"), plan)
      assert(plan.contains("HashAggregate"), plan)
      assert(!plan.contains("CartesianProduct"), plan)
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    }
  }

  test("q169 normalized dedup: one digest aggregate + one manifest join, no cartesian") {
    val plan = formatted("q169_norm_dedup")
    // the canonical form is codegen'd built-ins (no UDF anywhere) and
    // ownership is an md5-keyed HashAggregate with map-side partials
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.toLowerCase.contains("batchevalpython"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q175 ingest norm dedup: history arrives only as its 2-column index scan") {
    val plan = formatted("q175_norm_dedup_ingest")
    // the batch is one narrow projection; history is a parquet scan
    // of (doc_id, norm_hash) aggregated per hash — never re-hashed
    assert(plan.contains("struct<doc_id:bigint,norm_hash:string>"), plan)
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q148 k-means: the argmin pass reads the materialized codes, no join") {
    val df = SparkEntryAccess.query("q148_kmeans_int")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // centroids ride as literals into graft_dot; the only input is the
    // cached quantized table — no Join of any kind in the assignment
    assert(plan.contains("graft_dot"), plan)
    assert(plan.contains("InMemoryTableScan"), plan)
    assert(!plan.contains("Join"), plan)
  }
}

/** Test-side accessor that keeps PlanQualitySpec free of the SparkEntry
  * name (avoids the graft.queries package/method shadowing).
  */
private object SparkEntryAccess {
  def query(name: String): (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
    graft.SparkEntry.queries(name)
}
