package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Remaining reference dataflow patterns as oracle-checked queries:
  *
  * P8 (distributed ML, `py_pkg/examples/4-machine-learning.py:167-313`):
  * the partial-fit → combine topology natively — per-partition partial
  * aggregation of regression sufficient statistics, combined by
  * Catalyst's partial+final aggregate into one tiny model-input row.
  * Solving/broadcast/predict is the driver-side tail (see MLPatternSpec).
  *
  * P10 (reproducible parallel RNG, `r_pkg/vignettes/poLCA.Rmd:34-43`):
  * seed-derived uniform variates — md5-hash-based so the sample is
  * identical on any engine, any partitioning, any cluster size: the
  * property the reference gets from per-row L'Ecuyer seed streams.
  */
object Patterns {

  // hash-uniform helpers shared with the Sampling operators — one
  // source of truth so the operator and its oracle can never drift
  private def u01Spark(hashCol: String): String =
    graft.operators.Sampling.u01Spark(hashCol)

  private def u01Duck(hashCol: String): String =
    graft.operators.Sampling.u01Duck(hashCol)

  /** The q66 mixture: downsample src0 hard, upweight src1, default the rest. */
  private val mixtureRates = Map("src0" -> 0.05, "src1" -> 0.5)
  private val mixtureDefault = 0.25

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // P8: regression sufficient statistics value ~ k (map-side partials
    // per partition, one combined row out — the "combine models" step).
    "q60_ml_suffstats" -> { (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "events")
        .withColumn("x", get_json_object($"props", "$.k").cast("double"))
        .agg(
          count(lit(1)).as("n"),
          // x is integer-valued and value has 2 decimals: sum x and
          // x*x as exact integer-in-double (< 2^53), and route the
          // value-carrying sums through exact decimals so the gate is
          // independent of partition count / summation order (the
          // full-corpus sum_xy reaches ~2.5e8 where a double sum only
          // carries ~1e-7 — too tight for a 4-decimal gate).
          round(sum($"x"), 4).as("sum_x"),
          sum($"value".cast("decimal(18,2)")).cast("double").as("sum_y"),
          sum(($"x".cast("decimal(9,0)") * $"value".cast("decimal(18,2)")))
            .cast("double").as("sum_xy"),
          round(sum($"x" * $"x"), 4).as("sum_xx"))
    },

    // forward as-of join: each view matched to the user's NEXT purchase
    // at-or-after it (conversion-lag attribution, the mirror of q46).
    "q37_asof_forward" -> { (s, dir) =>
      import s.implicits._
      val e = Tables.load(s, dir, "events")
        .withColumn("sec", unix_timestamp($"ts"))
        .select($"event_id", $"user_id", $"event_type", $"value", $"sec")
      val views = e.filter($"event_type" === "view")
        .select($"event_id", $"user_id", $"sec")
      val purchases = e.filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", $"sec", $"value")
      graft.operators.AsOfJoin.join(views, purchases,
          key = "user_id", time = "sec", valueCols = Seq("value"),
          tieBreaker = Some("event_id"), direction = "forward")
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_views"),
          sum(when($"asof_value".isNotNull, 1L).otherwise(0L)).as("n_converted"),
          round(sum(coalesce($"asof_value", lit(0d))), 4).as("sum_next_purchase"))
        .orderBy($"user_id")
    },

    // as-of join: each purchase attributed to the user's most recent
    // prior view (union-window formulation — one shuffle, no range join).
    "q46_asof_join" -> { (s, dir) =>
      import s.implicits._
      val e = Tables.load(s, dir, "events")
        .withColumn("sec", unix_timestamp($"ts"))
        .select($"event_id", $"user_id", $"event_type", $"value", $"sec")
      val purchases = e.filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", $"sec")
      val views = e.filter($"event_type" === "view")
        .select($"event_id", $"user_id", $"sec", $"value")
      graft.operators.AsOfJoin.join(purchases, views,
          key = "user_id", time = "sec", valueCols = Seq("value"),
          tieBreaker = Some("event_id"))
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_purchases"),
          sum(when($"asof_value".isNotNull, 1L).otherwise(0L)).as("n_with_prior_view"),
          round(sum(coalesce($"asof_value", lit(0d))), 4).as("sum_asof_value"))
        .orderBy($"user_id")
    },

    // P10: seed-reproducible 30% sample — same rows regardless of
    // engine, partitioning, or cluster size.
    "q61_seeded_sample" -> { (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "events")
        .withColumn("h", md5($"event_id".cast("string").cast("binary")))
        .withColumn("u", expr(u01Spark("h")))
        .filter($"u" < 0.3)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), round(sum($"value"), 4).as("sum_value"))
        .orderBy($"event_type")
    },

    // corpus mixture resampling: per-source seeded keep rates (the
    // rebalancing step before tokenization). Decision = hash of doc_id
    // only, so the sample is partitioning- and cluster-size-invariant.
    "q66_mixture_sample" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
      graft.operators.Sampling.seededMixture(docs, "source", "doc_id",
          mixtureRates, mixtureDefault)
        .select($"source", $"doc_id", size(split($"text", " ")).cast("long").as("n_tokens"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_kept"), sum($"n_tokens").as("sum_tokens"))
        .orderBy($"source")
    },

    // fractional-epoch mixture MATERIALIZED: integer weights derived
    // from the source name (w = digits % 3 + 1), budget = 3x corpus
    // tokens — full epochs vary by source and every source exercises
    // the hash-ordered partial-epoch boundary. The budget probe is one
    // eager scalar agg at construction (the contaminationStats
    // precedent); targets/full/rem and the extra-repeat cutoff are
    // all integer, so the schedule replays exactly
    "q149_epoch_repeats" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
        .select($"doc_id", $"source",
          size(split($"text", " ")).cast("long").as("n_tokens"))
      val weights = docs.select($"source").distinct()
        .withColumn("weight", expr("cast(substr(source, 4) as int) % 3 + 1"))
      val budget = 3L * docs.agg(sum($"n_tokens")).head().getLong(0)
      graft.operators.Sampling.epochRepeats(docs, "doc_id", "source",
          "n_tokens", weights, budget)
        .orderBy($"doc_id")
    },

    // q149's schedule made PHYSICAL: every (doc, repeat) instance
    // explodes to a row seeded by `id#rep`, so repeats of one doc land
    // in independent hash positions — epochs interleave instead of
    // concatenating — and assignShards fixes the writer layout. The
    // gate replays every instance's shard and exact rank
    "q152_train_order" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
        .select($"doc_id", $"source",
          size(split($"text", " ")).cast("long").as("n_tokens"))
      val weights = docs.select($"source").distinct()
        .withColumn("weight", expr("cast(substr(source, 4) as int) % 3 + 1"))
      val budget = 3L * docs.agg(sum($"n_tokens")).head().getLong(0)
      val schedule = graft.operators.Sampling.epochRepeats(docs, "doc_id",
        "source", "n_tokens", weights, budget)
      graft.operators.Sampling.trainOrder(schedule, "doc_id", nShards = 8)
        .select($"shard", $"shard_pos", $"doc_id", $"rep")
        .orderBy($"shard", $"shard_pos")
    },

    // deterministic FIM split plan (Bavarian et al. 2022): half the
    // docs (hash-chosen) get hash-derived prefix/middle/suffix cuts +
    // the PSM/SPM mode flag, the rest pass through whole — all
    // integer lengths, every decision a pure function of doc_id
    "q153_fim" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
        .select($"doc_id", size(split($"text", " ")).cast("long").as("n_tokens"))
      graft.operators.Sampling.fimSplit(docs, "doc_id", "n_tokens")
        .orderBy($"doc_id")
    },

    // the q153 FIM plans APPLIED inside the packer: per doc the writer
    // emits sentinel-prefixed reordered segments (PSM/SPM), concatChunk
    // cuts the EMITTED stream — reordered segments + sentinels shift
    // every later boundary exactly like q156's EOS tokens. Gated per
    // shard with the (doc_id + seg_order)-keyed span fingerprint over
    // the segment spans, so one wrong cut, order, sentinel or offset
    // anywhere flips the hash
    "q160_fim_pack" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
        .select($"doc_id", size(split($"text", " ")).cast("long").as("n_tokens"))
      val packed = graft.operators.Sampling.fimPack(
        graft.operators.Sampling.assignShards(docs, "doc_id", nShards = 8),
        "doc_id", "n_tokens", seqLen = 64L,
        partitionCol = "shard", orderCol = "shard_pos",
        fimNum = 1L, fimDen = 2L, sentinelTokens = 1L)
      packed.groupBy($"shard")
        .agg(countDistinct($"doc_id").as("n_docs"),
          count(lit(1)).as("n_segs"),
          sum($"n_seg_tokens").as("n_seg_tokens"),
          sum(when($"last_seq" > $"first_seq", 1L).otherwise(0L))
            .as("n_split_segs"),
          sum($"first_seq" * ($"doc_id" + $"seg_order") + $"last_seq")
            .as("span_fingerprint"))
        .orderBy($"shard")
    },

    // the full export path chained: mixture schedule (q149) → physical
    // interleaved order (q152) → token-exact sequence packing (q143's
    // concatChunk over the SCHEDULED stream, repeats included). Gated
    // per shard with the span fingerprint keyed by (doc_id + rep) so
    // every instance's boundary arithmetic is pinned
    "q154_schedule_pack" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
        .select($"doc_id", $"source",
          size(split($"text", " ")).cast("long").as("n_tokens"))
      val weights = docs.select($"source").distinct()
        .withColumn("weight", expr("cast(substr(source, 4) as int) % 3 + 1"))
      val budget = 3L * docs.agg(sum($"n_tokens")).head().getLong(0)
      val order = graft.operators.Sampling.trainOrder(
        graft.operators.Sampling.epochRepeats(docs, "doc_id", "source",
          "n_tokens", weights, budget),
        "doc_id", nShards = 8)
      val packed = graft.operators.Sampling.concatChunk(order, "n_tokens",
        seqLen = 64L, partitionCol = "shard", orderCol = "shard_pos")
      packed.groupBy($"shard")
        .agg(count(lit(1)).as("n_instances"),
          sum($"n_tokens").as("n_tokens"),
          expr("(sum(n_tokens) + 63) div 64").as("n_seqs"),
          sum(when($"n_seqs_spanned" > 1L, 1L).otherwise(0L))
            .as("n_split_instances"),
          sum($"first_seq" * ($"doc_id" + $"rep") + $"last_seq")
            .as("span_fingerprint"))
        .withColumn("tail_padding", $"n_seqs" * 64L - $"n_tokens")
        .orderBy($"shard")
    },

    // fixed-boundary sequence packing: ~500-token bins per source
    // (window cumsum — the parallelizable packing; greedy reset packing
    // is sequential state and does not scale).
    "q67_token_packing" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
        .select($"source", $"doc_id", size(split($"text", " ")).cast("long").as("n_tokens"))
      graft.operators.Sampling.packByTokenBudget(docs, "n_tokens",
          budget = 500L, partitionCol = "source", orderCol = "doc_id")
        .groupBy($"source", $"bin")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("sum_tokens"))
        .orderBy($"source", $"bin")
    },

    // Skew-mitigation path under the gate: the two-phase salted
    // aggregation must be value-identical to a direct groupBy
    // (l_quantity is integer-valued, so double addition is
    // order-insensitive here and no rounding is needed).
    "q62_salted_agg" -> { (s, dir) =>
      import s.implicits._
      val li = Tables.load(s, dir, "lineitem").select($"l_returnflag", $"l_quantity")
      graft.operators.Skew.saltedSumCount(li, "l_returnflag", "l_quantity")
        .orderBy($"l_returnflag")
    },

    // cohort retention matrix: users bucketed by first-activity week,
    // counted in each later active week — all-integer arithmetic, one
    // event scan, user-sized shuffles only (see Funnel.retentionCohorts)
    "q83_retention" -> { (s, dir) =>
      graft.operators.Funnel.retentionCohorts(Tables.load(s, dir, "events"))
    },

    // Z-order layout clustering: every event's Morton code over the
    // (user_id, event-time) grid — the multi-dimensional sort key that
    // makes min/max file pruning work on BOTH predicate columns at
    // once (LayoutSpec measures the bounding-box shrink vs a
    // single-column sort; this query gates the interleave itself).
    // Grid normalization is closed-form from the global min/max
    // (recomputed identically by the oracle), and the interleave is
    // pure integer shifts/masks — bit-for-bit engine-portable.
    "q94_zorder" -> { (s, dir) =>
      import s.implicits._
      import graft.operators.Layout
      val ev = Tables.load(s, dir, "events")
        .select($"event_id", $"user_id", unix_timestamp($"ts").as("tsec"))
      val mm = ev.agg(min($"user_id"), max($"user_id"),
        min($"tsec"), max($"tsec")).head()
      ev.select($"event_id",
          Layout.zvalue(
            Layout.gridBucket($"user_id", mm.getLong(0), mm.getLong(1)),
            Layout.gridBucket($"tsec", mm.getLong(2), mm.getLong(3))).as("z"))
        .orderBy($"event_id")
    },

    // ordered-sequence conversion funnel: users who viewed, then
    // clicked strictly after their first view, then purchased strictly
    // after that — per-step scans + user-sized min aggregates, never a
    // global sort (see graft.operators.Funnel)
    "q82_funnel" -> { (s, dir) =>
      import org.apache.spark.sql.functions.col
      graft.operators.Funnel.conversion(
        Tables.load(s, dir, "events"),
        Seq("view" -> (col("event_type") === "view"),
          "click" -> (col("event_type") === "click"),
          "purchase" -> (col("event_type") === "purchase")))
    }
  )

  /** The 2-dim Morton interleave as a DuckDB bit expression: bit j of
    * `a` lands at 2j, of `b` at 2j+1 (matching `Layout.zvalue(a, b)`);
    * disjoint bit positions make + equivalent to OR.
    */
  private def duckZ2(a: String, b: String): String =
    (0 until graft.operators.Layout.Bits).flatMap(j => Seq(
      s"((($a >> $j) & 1) << ${2 * j})",
      s"((($b >> $j) & 1) << ${2 * j + 1})")).mkString(" + ")

  val oracleSql: Map[String, String] = Map(
    "q94_zorder" ->
      s"""WITH e AS (SELECT event_id, user_id,
         |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec FROM events),
         |mm AS (SELECT min(user_id) umin, max(user_id) umax,
         |         min(tsec) tmin, max(tsec) tmax FROM e),
         |g AS (SELECT event_id,
         |    ((user_id - umin) * 65536) // (umax - umin + 1) AS ga,
         |    ((tsec - tmin) * 65536) // (tmax - tmin + 1) AS gb
         |  FROM e, mm)
         |SELECT event_id, CAST(${duckZ2("ga", "gb")} AS BIGINT) AS z
         |FROM g ORDER BY event_id""".stripMargin,
    "q60_ml_suffstats" ->
      """SELECT CAST(count(*) AS BIGINT) AS n,
        |  round(sum(x), 4) AS sum_x,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_y,
        |  CAST(sum(CAST(x AS DECIMAL(9,0)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_xy,
        |  round(sum(x * x), 4) AS sum_xx
        |FROM (SELECT CAST(json_extract_string(props, '$.k') AS DOUBLE) AS x, value
        |      FROM events)""".stripMargin,

    "q37_asof_forward" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, value,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS sec
        |  FROM events WHERE event_type IN ('purchase', 'view')),
        |j AS (
        |  SELECT event_id, user_id, sec, event_type,
        |    first_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
        |      OVER (PARTITION BY user_id
        |            ORDER BY sec, CASE WHEN event_type = 'view' THEN 0 ELSE 1 END,
        |                     event_id
        |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS asof_value
        |  FROM e)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_views,
        |  CAST(sum(CASE WHEN asof_value IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_converted,
        |  round(sum(coalesce(asof_value, 0)), 4) AS sum_next_purchase
        |FROM j WHERE event_type = 'view'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q46_asof_join" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, value,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS sec
        |  FROM events WHERE event_type IN ('purchase', 'view')),
        |j AS (
        |  SELECT event_id, user_id, sec, event_type,
        |    last_value(CASE WHEN event_type = 'view' THEN value END IGNORE NULLS)
        |      OVER (PARTITION BY user_id
        |            ORDER BY sec, CASE WHEN event_type = 'view' THEN 0 ELSE 1 END,
        |                     event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_value
        |  FROM e)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_purchases,
        |  CAST(sum(CASE WHEN asof_value IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_with_prior_view,
        |  round(sum(coalesce(asof_value, 0)), 4) AS sum_asof_value
        |FROM j WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q61_seeded_sample" ->
      s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |  round(sum(value), 4) AS sum_value
         |FROM (SELECT event_type, value, ${u01Duck("h")} AS u
         |      FROM (SELECT event_type, value,
         |              md5(CAST(event_id AS VARCHAR)) AS h FROM events))
         |WHERE u < 0.3 GROUP BY 1 ORDER BY 1""".stripMargin,

    "q62_salted_agg" ->
      """SELECT l_returnflag, sum(l_quantity) AS sum_l_quantity,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q66_mixture_sample" -> {
      val rateCase = mixtureRates.toSeq.sortBy(_._1)
        .map { case (k, v) => s"WHEN '$k' THEN $v" }
        .mkString("CASE source ", " ", s" ELSE $mixtureDefault END")
      s"""WITH h AS (SELECT source, doc_id, text,
         |    md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
         |u AS (SELECT source, doc_id, text, ${u01Duck("h")} AS u FROM h),
         |kept AS (SELECT source, len(string_split(text, ' ')) AS n_tokens
         |         FROM u WHERE u < $rateCase)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
         |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
         |FROM kept GROUP BY 1 ORDER BY 1""".stripMargin
    },

    // the schedule replayed: integer targets floor(B*w/Σw), full
    // epochs by integer division, the partial epoch cut at the
    // md5-ordered cumulative-token boundary (cum_before < rem)
    "q149_epoch_repeats" ->
      """WITH t AS (SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |d AS (SELECT * FROM t WHERE n_tokens > 0),
        |b AS (SELECT 3 * sum(n_tokens) AS budget FROM t),
        |w AS (SELECT source, CAST(substr(source, 4) AS INT) % 3 + 1 AS wt
        |      FROM (SELECT DISTINCT source FROM t)),
        |den AS (SELECT sum(wt) AS den FROM w),
        |tg AS (SELECT source, sum(n_tokens) AS st FROM d GROUP BY 1),
        |f AS (SELECT tg.source, tg.st,
        |        (b.budget * w.wt) // den.den AS target,
        |        ((b.budget * w.wt) // den.den) // tg.st AS fl
        |      FROM tg JOIN w USING (source), b, den),
        |g AS (SELECT source, fl, target - fl * st AS rem FROM f),
        |c AS (SELECT doc_id, source, n_tokens,
        |        coalesce(sum(n_tokens) OVER (PARTITION BY source
        |          ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        |      FROM d)
        |SELECT c.doc_id, c.source, c.n_tokens,
        |  CAST(g.fl + CASE WHEN c.cb < g.rem THEN 1 ELSE 0 END AS BIGINT)
        |    AS n_repeats
        |FROM c JOIN g USING (source) ORDER BY doc_id""".stripMargin,

    // the schedule CTEs continued: one generate_series per doc over
    // its repeats, the `id#rep` seed hashed, sharded, and ranked —
    // bit-exact replay of every instance's (shard, shard_pos)
    "q152_train_order" ->
      """WITH t AS (SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |d AS (SELECT * FROM t WHERE n_tokens > 0),
        |b AS (SELECT 3 * sum(n_tokens) AS budget FROM t),
        |w AS (SELECT source, CAST(substr(source, 4) AS INT) % 3 + 1 AS wt
        |      FROM (SELECT DISTINCT source FROM t)),
        |den AS (SELECT sum(wt) AS den FROM w),
        |tg AS (SELECT source, sum(n_tokens) AS st FROM d GROUP BY 1),
        |f AS (SELECT tg.source, tg.st,
        |        (b.budget * w.wt) // den.den AS target,
        |        ((b.budget * w.wt) // den.den) // tg.st AS fl
        |      FROM tg JOIN w USING (source), b, den),
        |g AS (SELECT source, fl, target - fl * st AS rem FROM f),
        |c AS (SELECT doc_id, source, n_tokens,
        |        coalesce(sum(n_tokens) OVER (PARTITION BY source
        |          ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        |      FROM d),
        |r AS (SELECT c.doc_id,
        |        g.fl + CASE WHEN c.cb < g.rem THEN 1 ELSE 0 END AS n_repeats
        |      FROM c JOIN g USING (source)),
        |x AS (SELECT doc_id,
        |        unnest(generate_series(1, CAST(n_repeats AS BIGINT))) AS rep
        |      FROM r WHERE n_repeats > 0),
        |hx AS (SELECT doc_id, rep,
        |         CAST(doc_id AS VARCHAR) || '#' || CAST(rep AS VARCHAR) AS seed
        |       FROM x),
        |sx AS (SELECT doc_id, rep, seed, md5(seed) AS h FROM hx),
        |sh AS (SELECT doc_id, rep, seed, h,
        |         CAST(('0x' || substr(h, 1, 13)) AS BIGINT) % 8 AS shard
        |       FROM sx)
        |SELECT CAST(shard AS BIGINT) AS shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY h ASC, seed ASC)
        |    AS BIGINT) AS shard_pos,
        |  doc_id, CAST(rep AS BIGINT) AS rep
        |FROM sh ORDER BY shard, shard_pos""".stripMargin,

    // the q152 chain continued: per-shard rank, cumulative-token
    // offsets, integer-div sequence boundaries, then the q143 rollup
    // with the (doc_id + rep)-keyed span fingerprint
    "q154_schedule_pack" ->
      """WITH t AS (SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |d AS (SELECT * FROM t WHERE n_tokens > 0),
        |b AS (SELECT 3 * sum(n_tokens) AS budget FROM t),
        |w AS (SELECT source, CAST(substr(source, 4) AS INT) % 3 + 1 AS wt
        |      FROM (SELECT DISTINCT source FROM t)),
        |den AS (SELECT sum(wt) AS den FROM w),
        |tg AS (SELECT source, sum(n_tokens) AS st FROM d GROUP BY 1),
        |f AS (SELECT tg.source, tg.st,
        |        (b.budget * w.wt) // den.den AS target,
        |        ((b.budget * w.wt) // den.den) // tg.st AS fl
        |      FROM tg JOIN w USING (source), b, den),
        |g AS (SELECT source, fl, target - fl * st AS rem FROM f),
        |c AS (SELECT doc_id, source, n_tokens,
        |        coalesce(sum(n_tokens) OVER (PARTITION BY source
        |          ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        |      FROM d),
        |r AS (SELECT c.doc_id, c.n_tokens,
        |        g.fl + CASE WHEN c.cb < g.rem THEN 1 ELSE 0 END AS n_repeats
        |      FROM c JOIN g USING (source)),
        |x AS (SELECT doc_id, n_tokens,
        |        unnest(generate_series(1, CAST(n_repeats AS BIGINT))) AS rep
        |      FROM r WHERE n_repeats > 0),
        |sh AS (SELECT doc_id, rep, n_tokens,
        |         CAST(doc_id AS VARCHAR) || '#' || CAST(rep AS VARCHAR) AS seed,
        |         md5(CAST(doc_id AS VARCHAR) || '#' || CAST(rep AS VARCHAR)) AS h
        |       FROM x),
        |sd AS (SELECT doc_id, rep, n_tokens, seed, h,
        |         CAST(('0x' || substr(h, 1, 13)) AS BIGINT) % 8 AS shard
        |       FROM sh),
        |p AS (SELECT doc_id, rep, n_tokens, shard,
        |        row_number() OVER (PARTITION BY shard ORDER BY h ASC, seed ASC)
        |          AS pos
        |      FROM sd),
        |o AS (SELECT doc_id, rep, n_tokens, shard,
        |        CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard
        |          ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |          0) AS BIGINT) AS start_off
        |      FROM p),
        |q AS (SELECT shard, doc_id, rep, n_tokens,
        |        start_off // 64 AS first_seq,
        |        (start_off + n_tokens - 1) // 64 AS last_seq
        |      FROM o)
        |SELECT CAST(shard AS BIGINT) AS shard,
        |  CAST(count(*) AS BIGINT) AS n_instances,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  CAST((sum(n_tokens) + 63) // 64 AS BIGINT) AS n_seqs,
        |  CAST(sum(CASE WHEN last_seq > first_seq THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_split_instances,
        |  CAST(sum(first_seq * (doc_id + rep) + last_seq) AS BIGINT)
        |    AS span_fingerprint,
        |  CAST((sum(n_tokens) + 63) // 64 * 64 - sum(n_tokens) AS BIGINT)
        |    AS tail_padding
        |FROM q GROUP BY 1 ORDER BY 1""".stripMargin,

    // the same md5-derived cut arithmetic: h(tag) = first 13 hex of
    // md5(id || tag); a in [1, n-1], b in [a, n]; unselected or
    // sub-2-token docs pass through whole
    "q153_fim" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
        |h AS (SELECT doc_id, n,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':f'), 1, 13))
        |      AS BIGINT) % 2 AS hf,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':a'), 1, 13))
        |      AS BIGINT) AS ha,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':b'), 1, 13))
        |      AS BIGINT) AS hb,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':m'), 1, 13))
        |      AS BIGINT) % 2 AS hm
        |  FROM t),
        |c AS (SELECT doc_id, n, hf < 1 AND n >= 2 AS applied, ha, hb, hm
        |      FROM h),
        |ab AS (SELECT doc_id, n, applied, hm,
        |    CASE WHEN applied THEN 1 + ha % (n - 1) ELSE n END AS a
        |  FROM c),
        |f AS (SELECT doc_id, n, applied, hm, a,
        |    CASE WHEN applied THEN a + hb % (n - a + 1) ELSE n END AS b
        |  FROM (SELECT ab.*, c.hb FROM ab JOIN c USING (doc_id)))
        |SELECT doc_id, n AS n_tokens, a AS prefix_len,
        |  CAST(b - a AS BIGINT) AS middle_len,
        |  CAST(n - b AS BIGINT) AS suffix_len,
        |  (applied AND hm = 1) AS spm_mode
        |FROM f ORDER BY doc_id""".stripMargin,

    // the q153 cut arithmetic + the q156 shard/cumsum machinery over
    // the EMITTED lengths (n + 3 sentinels when applied), then the
    // per-mode segment offsets (PSM: [S]p [S]s [S]m; SPM: [S]s [S]p
    // [S]m) and the segment-span rollup
    "q160_fim_pack" ->
      """WITH t AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
        |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |      FROM documents),
        |hx AS (SELECT doc_id, n, h,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':f'), 1, 13))
        |      AS BIGINT) % 2 AS hf,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':a'), 1, 13))
        |      AS BIGINT) AS ha,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':b'), 1, 13))
        |      AS BIGINT) AS hb,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':m'), 1, 13))
        |      AS BIGINT) % 2 AS hm
        |  FROM t),
        |c0 AS (SELECT doc_id, n, h, hf < 1 AND n >= 2 AS applied, ha, hb, hm
        |       FROM hx),
        |ab AS (SELECT doc_id, n, h, applied, hm, hb,
        |    CASE WHEN applied THEN 1 + ha % (n - 1) ELSE n END AS a
        |  FROM c0),
        |f AS (SELECT doc_id, n, h, applied, hm, a,
        |    CASE WHEN applied THEN a + hb % (n - a + 1) ELSE n END AS b
        |  FROM ab),
        |s AS (SELECT *, CAST(('0x' || substr(h, 1, 13)) AS BIGINT) % 8 AS shard
        |      FROM f WHERE n > 0),
        |r AS (SELECT *, row_number() OVER (PARTITION BY shard
        |        ORDER BY h ASC, doc_id ASC) AS pos FROM s),
        |e AS (SELECT *, n + CASE WHEN applied THEN 3 ELSE 0 END AS emit_len
        |      FROM r),
        |c AS (SELECT *, CAST(coalesce(sum(emit_len) OVER (PARTITION BY shard
        |        ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |        0) AS BIGINT) AS start_off FROM e),
        |seg AS (
        |  SELECT shard, doc_id, CAST(0 AS BIGINT) AS seg_order,
        |    CAST(0 AS BIGINT) AS src_from, n AS src_to, start_off AS abs_off
        |  FROM c WHERE NOT applied
        |  UNION ALL
        |  SELECT shard, doc_id, CAST(CASE WHEN hm = 1 THEN 1 ELSE 0 END AS BIGINT),
        |    CAST(0 AS BIGINT), a,
        |    start_off + CASE WHEN hm = 1 THEN 2 + (n - b) ELSE 1 END
        |  FROM c WHERE applied
        |  UNION ALL
        |  SELECT shard, doc_id, CAST(CASE WHEN hm = 1 THEN 0 ELSE 1 END AS BIGINT),
        |    b, n,
        |    start_off + CASE WHEN hm = 1 THEN 1 ELSE 2 + a END
        |  FROM c WHERE applied AND n - b > 0
        |  UNION ALL
        |  SELECT shard, doc_id, CAST(2 AS BIGINT), a, b,
        |    start_off + 3 + CASE WHEN hm = 1 THEN (n - b) + a ELSE a + (n - b) END
        |  FROM c WHERE applied AND b - a > 0),
        |g AS (SELECT shard, doc_id, seg_order, src_from, src_to,
        |    abs_off // 64 AS first_seq,
        |    (abs_off + (src_to - src_from) - 1) // 64 AS last_seq
        |  FROM seg)
        |SELECT CAST(shard AS BIGINT) AS shard,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_segs,
        |  CAST(sum(src_to - src_from) AS BIGINT) AS n_seg_tokens,
        |  CAST(sum(CASE WHEN last_seq > first_seq THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_split_segs,
        |  CAST(sum(first_seq * (doc_id + seg_order) + last_seq) AS BIGINT)
        |    AS span_fingerprint
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,

    "q67_token_packing" ->
      """WITH t AS (SELECT source, doc_id,
        |    len(string_split(text, ' ')) AS n_tokens FROM documents),
        |b AS (SELECT source, n_tokens,
        |    CAST(floor(coalesce(sum(n_tokens) OVER (
        |      PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 500)
        |      AS BIGINT) AS bin
        |  FROM t)
        |SELECT source, bin, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q83_retention" ->
      """WITH wk AS (SELECT DISTINCT user_id,
        |    CAST(floor(epoch(ts) / 604800) AS BIGINT) AS p
        |  FROM events),
        |c AS (SELECT user_id, min(p) AS cohort FROM wk GROUP BY 1)
        |SELECT cohort, p - cohort AS period_offset,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM wk JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q82_funnel" ->
      """WITH s1 AS (SELECT user_id AS u, min(ts) AS t FROM events
        |            WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id AS u, min(e.ts) AS t FROM events e
        |       JOIN s1 ON e.user_id = s1.u AND e.ts > s1.t
        |       WHERE e.event_type = 'click' GROUP BY 1),
        |s3 AS (SELECT e.user_id AS u, min(e.ts) AS t FROM events e
        |       JOIN s2 ON e.user_id = s2.u AND e.ts > s2.t
        |       WHERE e.event_type = 'purchase' GROUP BY 1),
        |c AS (SELECT CAST(1 AS INT) AS step, 'view' AS step_name,
        |        (SELECT count(*) FROM s1) AS n
        |      UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
        |      UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3))
        |SELECT step, step_name, CAST(n AS BIGINT) AS n_users,
        |  round(CAST(n AS DOUBLE) /
        |    (SELECT n FROM c WHERE step = 1), 4) AS pct_of_first
        |FROM c ORDER BY step""".stripMargin
  )
}
