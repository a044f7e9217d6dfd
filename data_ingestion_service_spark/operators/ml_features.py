"""Feature-engineering and inference-audit operators: RFM segmentation,
leave-one-out target encoding, weight-of-evidence / information value,
deterministic bootstrap confidence intervals, and exact split-point
changepoint detection.

These are the table-stakes feature/label passes a training-data platform
runs next to the corpus pipeline: turning raw facts into model features
(RFM, target encoding, WOE) and auditing series/estimates before they
feed a model (bootstrap CI, changepoint).

Cross-engine exactness discipline (SURVEY.md §5): sufficient statistics
accumulate as exact BIGINTs (cents / e6 fixed point); randomness is a
pure md5 function of row keys (identical literal construction in both
engines); each key performs at most one final float expression (a log or
quotient of exact integers with fixed parenthesization) floored to e6.

Scale shapes (100 TB): every key is one or two key-partitioned shuffles
plus a broadcast of a group-bounded model table (5 event types, 125 RFM
cells, 32 replicate rows, one calendar's worth of days). Nothing is
all-pairs and nothing collects data-proportional state to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestion_service_spark.catalog import load_table
from data_ingestion_service_spark.functions.vector import as_double, cosine
from data_ingestion_service_spark.registry import register
from data_ingestion_service_spark.session import call_persisted, session_persisted

# ---------------------------------------------------------------------------
# q_rfm_segments — classic RFM customer segmentation: recency (days
# since last order, vs the corpus max date so the score is data-relative
# and reproducible), frequency (order count), monetary (lifetime cents),
# each scored into quintiles with a deterministic tie-break on custkey,
# then rolled up per (r, f, m) cell with exact mean monetary.
#
# Exactness: recency/frequency are exact integers; monetary accumulates
# in cents; ntile ordering carries c_custkey as the unique tie-break so
# quintile assignment is total-order deterministic in both engines; the
# cell mean is an integer division of exact BIGINTs.
#
# Scale: one custkey rollup shuffle, three quintile windows over the
# CUSTOMER-sized (not order-sized) table, one 125-cell rollup. At 100 TB
# the quintile boundaries come from an approx-percentile pre-pass plus a
# boundary broadcast (documented alternative); the exact ntile is kept
# here because the scored table is customer-dimension-sized.
# ---------------------------------------------------------------------------

_RFM_ORACLE = """
WITH maxd AS (SELECT max(o_orderdate) AS mx FROM orders),
per_cust AS (
  SELECT o_custkey AS ck,
         date_diff('day', max(o_orderdate), (SELECT mx FROM maxd))
           AS recency_days,
         count(*) AS frequency,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS monetary_cents
  FROM orders
  GROUP BY 1
),
scored AS (
  SELECT ck, recency_days, frequency, monetary_cents,
         ntile(5) OVER (ORDER BY recency_days, ck) AS r_score,
         ntile(5) OVER (ORDER BY frequency DESC, ck) AS f_score,
         ntile(5) OVER (ORDER BY monetary_cents DESC, ck) AS m_score
  FROM per_cust
)
SELECT r_score, f_score, m_score,
       count(*) AS n_customers,
       CAST(sum(monetary_cents) // count(*) AS BIGINT) AS mean_monetary_cents
FROM scored
GROUP BY 1, 2, 3
"""


@register("q_rfm_segments", oracle=_RFM_ORACLE)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("monetary_cents"),
    )
    # The corpus max date is a 1-row aggregate broadcast into the scan —
    # not a driver-side collect.
    maxd = orders.agg(F.max("o_orderdate").alias("mx"))
    per_cust = per_cust.join(F.broadcast(maxd)).select(
        "ck",
        F.datediff(F.col("mx"), F.col("last_order")).alias("recency_days"),
        "frequency",
        "monetary_cents",
    )
    scored = per_cust.select(
        "ck",
        "monetary_cents",
        F.ntile(5)
        .over(Window.orderBy("recency_days", "ck"))
        .alias("r_score"),
        F.ntile(5)
        .over(Window.orderBy(F.desc("frequency"), F.asc("ck")))
        .alias("f_score"),
        F.ntile(5)
        .over(Window.orderBy(F.desc("monetary_cents"), F.asc("ck")))
        .alias("m_score"),
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("monetary_cents").cast("bigint").alias("sum_mc"),
        )
        .select(
            "r_score",
            "f_score",
            "m_score",
            "n_customers",
            # Exact BIGINT division (truncate == floor on non-negatives)
            # — never a double quotient that could land an ulp off the
            # oracle's integer `//`.
            F.expr("sum_mc div n_customers").alias("mean_monetary_cents"),
        )
    )


# ---------------------------------------------------------------------------
# q_target_encode — leave-one-out target encoding of `event_type` by
# event value: each event's feature is the mean value of all OTHER
# events of its type, the standard leakage-free categorical encoding
# (each row's own label is excluded so the feature never memorizes it).
#
# Exactness: values quantize to exact cents; per-type (n, sum) are exact
# BIGINT sufficient statistics; the LOO mean is an integer division
# (sum_cents − own_cents) * 10000 // (n − 1) → e4-of-cents fixed point.
# The ×10⁴ headroom bounds the product at ~5·10¹⁸ even at 10¹⁰ events
# per type (value ≤ $500.02); beyond that the same two-pass shape runs
# with the multiplier folded into the broadcast stats.
#
# Scale: pass 1 is a 5-row groupBy (map-side combined); pass 2 joins the
# broadcast stats back into the event scan — no event-keyed shuffle at
# all. Output is md5-sampled (~1%) so the checked surface stays bounded
# while the encoding itself is computed for every row.
# ---------------------------------------------------------------------------

_TARGET_ENCODE_ORACLE = """
WITH ev AS (
  SELECT event_id, event_type,
         CAST(round(value * 100) AS BIGINT) AS v_cents
  FROM events
),
stats AS (
  SELECT event_type, count(*) AS n,
         CAST(sum(v_cents) AS BIGINT) AS sum_cents
  FROM ev GROUP BY 1
)
SELECT e.event_id, e.event_type,
       CAST((s.sum_cents - e.v_cents) * 10000 // (s.n - 1) AS BIGINT)
         AS loo_enc_e4
FROM ev e JOIN stats s ON s.event_type = e.event_type
WHERE ('0x' || substr(md5(CAST(e.event_id AS VARCHAR)), 1, 2))::BIGINT < 3
"""


@register("q_target_encode", oracle=_TARGET_ENCODE_ORACLE)
def q_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("v_cents"),
    )
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v_cents").cast("bigint").alias("sum_cents"),
    )
    # ~1% deterministic sample: first md5 byte < 3 (3/256). The sample
    # gates OUTPUT volume only; the encoding join runs over all rows.
    h = F.conv(
        F.substring(F.md5(F.col("event_id").cast("string").cast("binary")), 1, 2),
        16,
        10,
    ).cast("bigint")
    return (
        ev.join(F.broadcast(stats), "event_type")
        .filter(h < 3)
        .select(
            "event_id",
            "event_type",
            F.expr("(sum_cents - v_cents) * 10000 div (n - 1)").alias(
                "loo_enc_e4"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q_woe_iv — weight of evidence and information value of `source` as a
# predictor of the binary target lang = 'en': the standard credit-scoring
# / feature-screening statistic (Siddiqi's WOE/IV). Laplace-smoothed
# (+1 per class per source, +n_sources on the totals) so a one-class
# source cannot diverge the log.
#
# Exactness: all eight counts are exact BIGINTs; the odds ratio is
# (g_s/g_tot)/(b_s/b_tot) with fixed parenthesization (each factor a
# correctly-rounded double quotient of exact integers — the q_pmi
# pattern); ln is floored to e6. The IV term multiplies the pre-floored
# BIGINT woe_e6 by the exact probability difference and floors again, so
# no float-accumulation ordering exists anywhere.
#
# Scale: one source-keyed count shuffle (map-side combined, two
# conditional sums), a 1-row totals broadcast. Source cardinality bounds
# every post-scan structure.
# ---------------------------------------------------------------------------

_WOE_ORACLE = """
WITH per_src AS (
  SELECT source,
         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) + 1 AS BIGINT)
           AS g,
         CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) + 1 AS BIGINT)
           AS b
  FROM documents
  GROUP BY 1
),
tot AS (
  SELECT CAST(sum(g) AS BIGINT) AS g_tot, CAST(sum(b) AS BIGINT) AS b_tot
  FROM per_src
)
SELECT source, g AS n_good, b AS n_bad,
       CAST(floor(ln((g * 1.0 / g_tot) / (b * 1.0 / b_tot)) * 1000000)
            AS BIGINT) AS woe_e6,
       CAST(floor(((g * 1.0 / g_tot) - (b * 1.0 / b_tot))
                  * CAST(floor(ln((g * 1.0 / g_tot) / (b * 1.0 / b_tot))
                               * 1000000) AS BIGINT)) AS BIGINT) AS iv_term_e6
FROM per_src CROSS JOIN tot
"""


@register("q_woe_iv", oracle=_WOE_ORACLE)
def q_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        (F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)) + 1)
        .cast("bigint")
        .alias("g"),
        (F.sum(F.when(F.col("lang") == "en", 0).otherwise(1)) + 1)
        .cast("bigint")
        .alias("b"),
    )
    tot = per_src.agg(
        F.sum("g").cast("bigint").alias("g_tot"),
        F.sum("b").cast("bigint").alias("b_tot"),
    )
    joined = per_src.join(F.broadcast(tot))
    pg = F.col("g") * 1.0 / F.col("g_tot")
    pb = F.col("b") * 1.0 / F.col("b_tot")
    woe_e6 = F.floor(F.log(pg / pb) * 1000000).cast("bigint")
    return joined.select(
        "source",
        F.col("g").alias("n_good"),
        F.col("b").alias("n_bad"),
        woe_e6.alias("woe_e6"),
        F.floor((pg - pb) * woe_e6).cast("bigint").alias("iv_term_e6"),
    )


# ---------------------------------------------------------------------------
# q_bootstrap_ci — deterministic Poisson bootstrap of mean order value:
# 32 replicates where order o's multiplicity in replicate b is a pure
# md5 function of (o_orderkey, b) mapped through the Poisson(1) CDF
# (P(0)=P(1)=.3679, P(2)=.1839, P(3)=.0613, else 4) — the online
# bootstrap of Oza/Russell and Chamandy et al., reproducible across
# engines, runs, and cluster sizes because no RNG state exists.
#
# Exactness: the uniform is 8 exact md5 nibbles (u < 2³²) compared to
# pre-scaled integer CDF thresholds; replicate means are integer cents
# divisions of exact BIGINT (Σ m·cents, Σ m); the CI picks fixed ranks
# (2, 16, 31) of the 32 sorted replicate means with the replicate id as
# tie-break — order-total, no interpolation.
#
# Scale: the 32× fan-out is a map-side explode of a broadcast literal
# range (no shuffle growth — partial aggregation combines per (b) before
# the 32-row exchange). 100 TB changes Σ magnitudes (cents ≤ 6·10⁷ per
# order ⇒ Σ m·cents < 2⁶³ until ~10¹³ orders), not the plan. The input
# is repartitioned to cluster parallelism BEFORE the fan-out: the
# fixture is one parquet split, so without it all 4.8M md5 evaluations
# ran in ONE task (measured 3.3s of the key's 4.0s at sf0.1; 0.35s
# cluster-wide — the doc_shingles round-3 lesson applied to compute-
# amplifying fan-outs, not just explodes of text). At 100 TB the input
# arrives pre-split and the repartition is a no-op-shaped rebalance.
# ---------------------------------------------------------------------------

_BOOT_B = 32
# floor(2^32 * poisson(1).cdf(k)) for k = 0, 1, 2
_POIS_C0 = 1580030168
_POIS_C1 = 3160060337
_POIS_C2 = 3950075421
_POIS_C3 = 4213413783

_BOOTSTRAP_ORACLE = f"""
WITH reps AS (SELECT unnest(range(0, {_BOOT_B})) AS b),
fanned AS (
  SELECT r.b,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents,
         ('0x' || substr(
            md5(CAST(o.o_orderkey AS VARCHAR) || ':' || CAST(r.b AS VARCHAR)),
            1, 8))::BIGINT AS u
  FROM orders o CROSS JOIN reps r
),
rep_means AS (
  SELECT b,
         CAST(sum(CASE WHEN u < {_POIS_C0} THEN 0
                       WHEN u < {_POIS_C1} THEN 1
                       WHEN u < {_POIS_C2} THEN 2
                       WHEN u < {_POIS_C3} THEN 3
                       ELSE 4 END * cents) AS BIGINT)
         // CAST(sum(CASE WHEN u < {_POIS_C0} THEN 0
                          WHEN u < {_POIS_C1} THEN 1
                          WHEN u < {_POIS_C2} THEN 2
                          WHEN u < {_POIS_C3} THEN 3
                          ELSE 4 END) AS BIGINT) AS mean_cents
  FROM fanned
  GROUP BY b
),
ranked AS (
  SELECT mean_cents,
         row_number() OVER (ORDER BY mean_cents, b) AS rk
  FROM rep_means
)
SELECT
  max(CASE WHEN rk = 2 THEN mean_cents END) AS lo_ci_cents,
  max(CASE WHEN rk = 16 THEN mean_cents END) AS median_cents,
  max(CASE WHEN rk = 31 THEN mean_cents END) AS hi_ci_cents
FROM ranked
"""


@register("q_bootstrap_ci", oracle=_BOOTSTRAP_ORACLE)
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    par = spark.sparkContext.defaultParallelism
    orders = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
        .repartition(par)
    )
    fanned = orders.select(
        "o_orderkey",
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
    )
    u = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":",
                    F.col("o_orderkey").cast("string"),
                    F.col("b").cast("string"),
                ).cast("binary")
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    mult = (
        F.when(u < _POIS_C0, 0)
        .when(u < _POIS_C1, 1)
        .when(u < _POIS_C2, 2)
        .when(u < _POIS_C3, 3)
        .otherwise(4)
    )
    rep_means = (
        fanned.select("b", (mult * F.col("cents")).alias("wc"), mult.alias("m"))
        .groupBy("b")
        .agg(
            F.sum("wc").cast("bigint").alias("sum_wc"),
            F.sum("m").cast("bigint").alias("sum_m"),
        )
        .select("b", F.expr("sum_wc div sum_m").alias("mean_cents"))
    )
    ranked = rep_means.select(
        "mean_cents",
        F.row_number()
        .over(Window.orderBy("mean_cents", "b"))
        .alias("rk"),
    )
    return ranked.agg(
        F.max(F.when(F.col("rk") == 2, F.col("mean_cents"))).alias(
            "lo_ci_cents"
        ),
        F.max(F.when(F.col("rk") == 16, F.col("mean_cents"))).alias(
            "median_cents"
        ),
        F.max(F.when(F.col("rk") == 31, F.col("mean_cents"))).alias(
            "hi_ci_cents"
        ),
    )


# ---------------------------------------------------------------------------
# q_changepoint — exact split-point changepoint detection on the daily
# event-value series: for every candidate split day t, score the
# absolute difference between the mean of days ≤ t and the mean of days
# > t (the two-sample scan statistic behind CUSUM-style monitors, exact
# rather than sequential), and return the top-3 candidate splits. The
# drift screen run before trusting any ingested time series.
#
# Exactness: daily sums are exact cents; prefix sums come from an
# unbounded window over the DAY-sized series; both segment means floor
# to e6-of-cents via integer division before the difference, so the
# score is an exact BIGINT. Tie-break on day keeps the top-3 total-order
# deterministic.
#
# Scale: one day-keyed rollup shuffle; the window and ranking run over a
# calendar-bounded series (≤ a few thousand rows regardless of fact
# volume). The ×10⁶ prefix product stays under 2⁶³ until ~9·10¹² cents
# of cumulative value; past that the same statistic runs on e3 units.
# ---------------------------------------------------------------------------

_CHANGEPOINT_ORACLE = """
WITH daily AS (
  SELECT date_trunc('day', ts)::TIMESTAMP AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events
  GROUP BY 1
),
pre AS (
  SELECT day, cents,
         CAST(sum(cents) OVER w AS BIGINT) AS cum_cents,
         CAST(count(*) OVER w AS BIGINT) AS cum_n,
         CAST(sum(cents) OVER () AS BIGINT) AS tot_cents,
         CAST(count(*) OVER () AS BIGINT) AS tot_n
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
scored AS (
  SELECT day,
         abs(cum_cents * 1000000 // cum_n
             - (tot_cents - cum_cents) * 1000000 // (tot_n - cum_n))
           AS gap_e6
  FROM pre
  WHERE cum_n < tot_n
)
SELECT day AS split_day, gap_e6
FROM scored
ORDER BY gap_e6 DESC, split_day
LIMIT 3
"""


@register("q_changepoint", oracle=_CHANGEPOINT_ORACLE)
def q_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.date_trunc("day", "ts").cast("timestamp_ntz").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    pre = daily.select(
        "day",
        F.sum("cents").over(w).cast("bigint").alias("cum_cents"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("cum_n"),
        F.sum("cents").over(wall).cast("bigint").alias("tot_cents"),
        F.count(F.lit(1)).over(wall).cast("bigint").alias("tot_n"),
    )
    # DuckDB `//` floors while Spark `div` truncates toward zero — equal
    # here because each segment mean is a quotient of NON-NEGATIVE exact
    # integers; only the OUTER difference can go negative and abs() wraps
    # that, so floor-vs-truncate cannot diverge.
    scored = pre.filter(F.col("cum_n") < F.col("tot_n")).select(
        "day",
        F.abs(
            F.expr("cum_cents * 1000000 div cum_n")
            - F.expr(
                "(tot_cents - cum_cents) * 1000000 div (tot_n - cum_n)"
            )
        ).alias("gap_e6"),
    )
    return (
        scored.orderBy(F.desc("gap_e6"), F.asc("day"))
        .limit(3)
        .select(F.col("day").alias("split_day"), "gap_e6")
    )


# ---------------------------------------------------------------------------
# q_nearest_centroid — nearest-centroid (Rocchio) classification of the
# embedding table against its own per-label centroids, reported as a
# confusion matrix: the quality gate an embedding pipeline runs after
# re-featurization (a label whose vectors stop resolving to their own
# centroid signals drift or a broken encoder). Complements
# q_eval_metrics (bucket-majority over sign-LSH) with the geometric
# classifier.
#
# Exactness: centroid components are exact BIGINT sums of e6-quantized
# elements (q_embedding_drift's construction) divided once per label —
# order-independent under any distributed accumulation; each
# vector×centroid cosine is one fixed-order fold over pos-sorted arrays
# rounded to 4 decimals; argmax tie-breaks on the smaller label.
#
# Scale: one (label, pos) integer rollup shuffle, a |labels|-row
# broadcast, one map-side scored pass with a per-vector top-1 window.
# The corpus never self-joins; the centroid table is label-bounded.
# ---------------------------------------------------------------------------

_NEAREST_CENTROID_ORACLE = """
WITH pos AS (SELECT unnest(range(1, 65)) AS p),
elems AS (
  SELECT label, pos.p AS p,
         CAST(floor(e.embedding[pos.p]::DOUBLE * 1000000) AS BIGINT) AS q
  FROM embeddings e, pos
),
cent AS (
  SELECT label AS c_label, list(cv ORDER BY p) AS centroid
  FROM (
    SELECT label, p, CAST(sum(q) AS BIGINT) * 1.0 / count(*) AS cv
    FROM elems GROUP BY label, p
  )
  GROUP BY label
),
scored AS (
  SELECT e.vec_id, e.label, c.c_label,
         round(list_cosine_similarity(e.embedding::DOUBLE[], c.centroid), 4)
           AS cs
  FROM embeddings e CROSS JOIN cent c
),
best AS (
  SELECT vec_id, label, c_label AS predicted,
         row_number() OVER (
           PARTITION BY vec_id ORDER BY cs DESC, c_label
         ) AS rn
  FROM scored
)
SELECT label, predicted, count(*) AS n
FROM best WHERE rn = 1
GROUP BY 1, 2
"""


@register("q_nearest_centroid", oracle=_NEAREST_CENTROID_ORACLE)
def q_nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    elems = emb.select(
        "label", F.posexplode(as_double("embedding")).alias("p0", "x")
    ).select(
        "label",
        (F.col("p0") + 1).alias("p"),
        F.floor(F.col("x") * 1000000).cast("long").alias("q"),
    )
    cent = (
        elems.groupBy("label", "p")
        .agg((F.sum("q").cast("long") * 1.0 / F.count(F.lit(1))).alias("cv"))
        .groupBy(F.col("label").alias("c_label"))
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("p", "cv"))),
                lambda s: s["cv"],
            ).alias("centroid")
        )
    )
    scored = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "label",
        "c_label",
        F.round(cosine(as_double("embedding"), F.col("centroid")), 4).alias(
            "cs"
        ),
    )
    # r11 note: folding the per-vector top-1 into a partial-aggregating
    # groupBy with min(struct(-cs, c_label)) was tried and MEASURED
    # WORSE (0.70s → 0.92s warm): a struct-typed MIN buffer falls out of
    # whole-stage codegen into a sort-based aggregate, costing more than
    # the window's exchange+sort saves at this fan-out. The window shape
    # stays (per-vector partitions are embarrassingly parallel at scale).
    w = Window.partitionBy("vec_id").orderBy(F.desc("cs"), F.asc("c_label"))
    return (
        scored.select(
            "label",
            F.col("c_label").alias("predicted"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .groupBy("label", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# q_ann_recall — the IVF approximation MEASURED (the embedding-side
# companion to q_lsh_recall): for 5 fixed probe vectors, how many of the
# exact cosine top-5 neighbors does the label-block IVF search (probe
# the top-2 blocks only — q_knn_ivf's index shape) actually return?
# This is the tuning loop for nprobe/cell count on a new embedding
# space, promoted to a first-class audited metric.
#
# Exactness: both neighbor sets rank by round(cos, 4) with vec_id
# tie-break (q_knn_ivf's discipline); recall is an integer e6 ratio of
# exact counts.
#
# Scale: probes and centroids are label-/probe-bounded broadcasts; the
# corpus-sized work is one scored scan for the exact truth (at 100 TB
# the truth side restricts to a fixed audit sample, same shape) and one
# semi-join-pruned scan for the IVF side. Nothing is all-pairs.
# ---------------------------------------------------------------------------

_ANN_N_PROBES = 5
_ANN_K = 5

_ANN_RECALL_ORACLE = f"""
WITH pos AS (SELECT unnest(range(1, 65)) AS p),
probes AS (
  SELECT vec_id AS probe_id, embedding::DOUBLE[] AS pe
  FROM embeddings WHERE vec_id < {_ANN_N_PROBES}
),
elems AS (
  SELECT label, e.embedding[pos.p]::DOUBLE AS v, pos.p
  FROM embeddings e, pos
),
cent AS (
  SELECT label, list(cv ORDER BY p) AS centroid
  FROM (SELECT label, p, round(avg(v), 6) AS cv FROM elems GROUP BY label, p)
  GROUP BY label
),
lab_rank AS (
  SELECT p.probe_id, c.label,
         row_number() OVER (
           PARTITION BY p.probe_id
           ORDER BY round(list_cosine_similarity(c.centroid, p.pe), 4) DESC,
                    c.label
         ) AS lr
  FROM cent c CROSS JOIN probes p
),
scored AS (
  SELECT p.probe_id, e.vec_id, e.label,
         round(list_cosine_similarity(e.embedding::DOUBLE[], p.pe), 4) AS cs
  FROM embeddings e CROSS JOIN probes p
  WHERE e.vec_id <> p.probe_id
),
exact_top AS (
  SELECT probe_id, vec_id
  FROM (
    SELECT probe_id, vec_id,
           row_number() OVER (
             PARTITION BY probe_id ORDER BY cs DESC, vec_id
           ) AS rn
    FROM scored
  ) WHERE rn <= {_ANN_K}
),
ivf_top AS (
  SELECT probe_id, vec_id
  FROM (
    SELECT s.probe_id, s.vec_id,
           row_number() OVER (
             PARTITION BY s.probe_id ORDER BY s.cs DESC, s.vec_id
           ) AS rn
    FROM scored s
    JOIN lab_rank lr ON lr.probe_id = s.probe_id AND lr.label = s.label
                    AND lr.lr <= 2
  ) WHERE rn <= {_ANN_K}
)
SELECT e.probe_id,
       count(i.vec_id) AS n_hits,
       CAST(count(i.vec_id) * 1000000 // {_ANN_K} AS BIGINT) AS recall_e6
FROM exact_top e
LEFT JOIN ivf_top i ON i.probe_id = e.probe_id AND i.vec_id = e.vec_id
GROUP BY e.probe_id
"""


@register("q_ann_recall", oracle=_ANN_RECALL_ORACLE)
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < _ANN_N_PROBES).select(
        F.col("vec_id").alias("probe_id"), as_double("embedding").alias("pe")
    )
    elems = emb.select(
        "label", F.posexplode(as_double("embedding")).alias("p0", "v")
    ).select("label", (F.col("p0") + 1).alias("p"), "v")
    cent = (
        elems.groupBy("label", "p")
        .agg(F.round(F.avg("v"), 6).alias("cv"))
        .groupBy("label")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("p", "cv"))),
                lambda s: s["cv"],
            ).alias("centroid")
        )
    )
    wlab = Window.partitionBy("probe_id").orderBy(
        F.desc("csim"), F.asc("label")
    )
    lab_top2 = (
        cent.crossJoin(F.broadcast(probes))
        .select(
            "probe_id",
            "label",
            F.round(cosine(F.col("centroid"), F.col("pe")), 4).alias("csim"),
        )
        .select("probe_id", "label", F.row_number().over(wlab).alias("lr"))
        .filter(F.col("lr") <= 2)
        .drop("lr")
    )
    scored = (
        emb.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "vec_id",
            "label",
            F.round(cosine(as_double("embedding"), F.col("pe")), 4).alias(
                "cs"
            ),
        )
    )
    wtop = Window.partitionBy("probe_id").orderBy(
        F.desc("cs"), F.asc("vec_id")
    )
    exact_top = (
        scored.select(
            "probe_id", "vec_id", F.row_number().over(wtop).alias("rn")
        )
        .filter(F.col("rn") <= _ANN_K)
        .drop("rn")
    )
    ivf_top = (
        scored.join(F.broadcast(lab_top2), ["probe_id", "label"], "left_semi")
        .select("probe_id", "vec_id", F.row_number().over(wtop).alias("rn"))
        .filter(F.col("rn") <= _ANN_K)
        .drop("rn")
    )
    hits = ivf_top.select(
        F.col("probe_id").alias("h_probe"), F.col("vec_id").alias("hit_id")
    )
    return (
        exact_top.join(
            hits,
            (F.col("probe_id") == F.col("h_probe"))
            & (F.col("vec_id") == F.col("hit_id")),
            "left",
        )
        .groupBy("probe_id")
        .agg(
            F.count("hit_id").alias("n_hits"),
            F.expr(f"count(hit_id) * 1000000 div {_ANN_K}").alias(
                "recall_e6"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q_power_iteration — three unrolled power-iteration steps toward the
# leading principal direction of the embedding gram matrix, entirely in
# exact integer arithmetic: the spectral screen an embedding pipeline
# runs to detect collapse (one direction swallowing the variance) or an
# encoder change. CONTRACT: the deterministic 3-step iterate, not the
# converged eigenvector — convergence rate is (λ2/λ1)^t, so on a
# healthy near-isotropic space (this fixture: λ1/λ2 ≈ 1.07) three steps
# are a partial rotation, while on a COLLAPSED space (the failure the
# screen exists to catch) λ1 ≫ λ2 and the iterate locks on immediately.
# The Rayleigh-quotient trend of the iterate is the signal; a pinned
# numpy third implementation reproduces the ladder bit-for-bit
# (tests/test_invariants.py). The gram matrix is the MEAN gram (Σ qᵢqⱼ div n), so every
# magnitude below is corpus-size-INDEPENDENT and the same ladder runs
# unchanged at 100 TB.
#
# Exactness: components quantize to e3 before any product, so gram
# accumulation is an exact BIGINT sum under any order (|q| ≤ 578·10³
# bound from unit-norm inputs ⇒ Σqᵢqⱼ < 2⁶³ until ~10¹³ vectors); each
# iterate renormalizes to ±1e6 by integer division — Spark `div` and
# DuckDB `//` both truncate toward zero on BIGINT operands (measured
# here on the negative gram entries; see _int_div), so the negative
# components an eigenvector legitimately has divide identically. No
# float exists anywhere in the key.
#
# Scale: one 64²-group shuffle over the posexploded pairs (the only
# corpus-sized pass, session-persisted across the three iterates); each
# iterate is a 4096×64 join-aggregate on the gram table — driver never
# sees data.
# ---------------------------------------------------------------------------

_PI_Q = 1000  # e3 component quantization
_PI_NORM = 1000000  # iterate renormalization target (±1e6)

_POWER_ITER_ORACLE = f"""
WITH pos AS (SELECT unnest(range(1, 65)) AS p),
n AS (SELECT count(*) AS n FROM embeddings),
elems AS (
  SELECT vec_id, pos.p AS p,
         CAST(floor(e.embedding[pos.p]::DOUBLE * {_PI_Q}) AS BIGINT) AS q
  FROM embeddings e, pos
),
gram AS (
  SELECT a.p AS i, b.p AS j,
         CAST(sum(a.q * b.q) AS BIGINT) // (SELECT n FROM n) AS g
  FROM elems a JOIN elems b ON a.vec_id = b.vec_id
  GROUP BY 1, 2
),
v1 AS (SELECT i, CAST(sum(g) AS BIGINT) AS s FROM gram GROUP BY i),
d1 AS (SELECT max(abs(s)) // {_PI_NORM} + 1 AS d FROM v1),
v1n AS (SELECT i AS j, s // (SELECT d FROM d1) AS x FROM v1),
v2 AS (
  SELECT g.i, CAST(sum(g.g * v.x) AS BIGINT) AS s
  FROM gram g JOIN v1n v ON v.j = g.j GROUP BY g.i
),
d2 AS (SELECT max(abs(s)) // {_PI_NORM} + 1 AS d FROM v2),
v2n AS (SELECT i AS j, s // (SELECT d FROM d2) AS x FROM v2),
v3 AS (
  SELECT g.i, CAST(sum(g.g * v.x) AS BIGINT) AS s
  FROM gram g JOIN v2n v ON v.j = g.j GROUP BY g.i
),
d3 AS (SELECT max(abs(s)) // {_PI_NORM} + 1 AS d FROM v3)
SELECT i AS pos, CAST(s // (SELECT d FROM d3) AS BIGINT) AS loading_e6
FROM v3
"""


def _int_div(num: str, den: str) -> "F.Column":
    """Exact BIGINT division matching DuckDB `//` on INTEGER operands.

    Measured on this container (gram-table A/B): DuckDB's `//` over
    BIGINTs TRUNCATES toward zero exactly like Spark's `div` — the
    floor-semantics documentation applies to its float path only. A
    pmod-floor emulation here was one-off-low on every negative gram
    entry until replaced with plain `div`."""
    return F.expr(f"{num} div {den}")


def _emb_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-persisted 64×64 mean-gram table of the embedding corpus."""

    def build() -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings")
        elems = emb.select(
            "vec_id", F.posexplode(as_double("embedding")).alias("p0", "x")
        ).select(
            "vec_id",
            (F.col("p0") + 1).alias("p"),
            F.floor(F.col("x") * _PI_Q).cast("long").alias("q"),
        )
        ncnt = emb.agg(F.count(F.lit(1)).alias("n"))
        a = elems.select(
            "vec_id", F.col("p").alias("i"), F.col("q").alias("qa")
        )
        b = elems.select(
            "vec_id", F.col("p").alias("j"), F.col("q").alias("qb")
        )
        return (
            a.join(b, "vec_id")
            .groupBy("i", "j")
            .agg(F.sum(F.col("qa") * F.col("qb")).cast("long").alias("sg"))
            .join(F.broadcast(ncnt))
            .select("i", "j", _int_div("sg", "n").alias("g"))
        )

    return session_persisted(spark, ("emb_gram", sf_dir), build)


@register("q_power_iteration", oracle=_POWER_ITER_ORACLE)
def q_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-8 shape change, measured: the iterate ladder used to run as
    chained gram-join-broadcast steps — 5 sequential broadcast-exchange
    jobs over a 64-row vector, ~3.1s WARM at sf0.1, pure Spark job
    floor (the r7 VERDICT's 'per-iteration job scheduling'). The gram
    is 64x64 = 4096 rows BY CONSTRUCTION (corpus-size-independent), so
    the ladder is driver-side exact integer linear algebra on the
    collected gram — the standard distributed-PCA split (distributed
    gram pass, local eig; same bounded-block license as the MMR
    rerank). The corpus-sized work stays in _emb_gram. Python int
    division is floor, Spark div / DuckDB // truncate toward zero —
    _tdiv replays truncation exactly on the negative gram entries."""
    gram_rows = _emb_gram(spark, sf_dir).collect()  # 64x64, bounded
    g = {(r.i, r.j): r.g for r in gram_rows}
    dims = sorted({i for i, _ in g})

    def _tdiv(a: int, b: int) -> int:
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    v = {i: sum(g[(i, j)] for j in dims) for i in dims}
    for _ in range(2):
        d = max(abs(s) for s in v.values()) // _PI_NORM + 1
        x = {j: _tdiv(v[j], d) for j in dims}
        v = {i: sum(g[(i, j)] * x[j] for j in dims) for i in dims}
    d = max(abs(s) for s in v.values()) // _PI_NORM + 1
    return spark.createDataFrame(
        [(i, _tdiv(v[i], d)) for i in dims], "pos long, loading_e6 long"
    )


# ---------------------------------------------------------------------------
# q_calibration_bins — reliability diagram of a probabilistic feature:
# bin documents into score deciles (score = stopword fraction, the
# q_quality_score signal; stopwords are English markers in real
# corpora) and report per bin the observed lang='en' rate beside the
# mean score. The calibration audit every score-gated pipeline runs
# before trusting a threshold: a calibrated score has observed rate
# tracking the bin mean. On THIS fixture the langs share one
# vocabulary, so the table shows a flat/weak relationship — which is
# exactly the audit doing its job (an uninformative score caught
# before it gates anything).
#
# Exactness: the score is an exact e4 integer (stopword count ×10⁴ div
# token count); decile assignment is ntile over (score, doc_id) —
# total-order deterministic; rates and means are integer divisions of
# exact counts/sums.
#
# Scale: one map pass to score (JVM-side higher-order filter), one
# global decile window over per-DOC rows (at 100 TB: approx-quantile
# boundaries broadcast, same contract), one 10-row rollup.
# ---------------------------------------------------------------------------

_CALIB_ORACLE = """
WITH scored AS (
  SELECT doc_id,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         len(list_filter(string_split(text, ' '),
             w -> w IN ('the', 'a', 'of', 'and', 'to'))) * 10000
           // len(string_split(text, ' ')) AS score_e4
  FROM documents
),
binned AS (
  SELECT y, score_e4,
         ntile(10) OVER (ORDER BY score_e4, doc_id) AS bin
  FROM scored
)
SELECT bin,
       count(*) AS n_docs,
       CAST(sum(y) AS BIGINT) AS n_positive,
       CAST(sum(y) * 1000000 // count(*) AS BIGINT) AS observed_rate_e6,
       CAST(sum(score_e4) // count(*) AS BIGINT) AS mean_score_e4
FROM binned
GROUP BY bin
"""


@register("q_calibration_bins", oracle=_CALIB_ORACLE)
def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_ingestion_service_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    stop = F.size(
        F.filter(toks, lambda w: w.isin("the", "a", "of", "and", "to"))
    )
    scored = docs.select(
        "doc_id",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        (stop * 10000).alias("s_num"),
        F.size(toks).alias("s_den"),
    ).select("doc_id", "y", F.expr("s_num div s_den").alias("score_e4"))
    w = Window.orderBy("score_e4", "doc_id")
    return (
        scored.select("y", "score_e4", F.ntile(10).over(w).alias("bin"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("y").cast("bigint").alias("n_positive"),
            F.expr("sum(y) * 1000000 div count(*)").alias("observed_rate_e6"),
            F.expr("sum(score_e4) div count(*)").alias("mean_score_e4"),
        )
    )


# ---------------------------------------------------------------------------
# q_event_trigrams — third-order sequential pattern mining: the top-15
# event-type trigrams over per-user time-ordered streams (the
# path-analysis extension of q_markov_transitions' bigram matrix —
# funnels and habit loops are 3-step shapes). Sequence order ties on
# identical timestamps break by event_id, so the sequence every engine
# walks is total-order identical.
#
# Scale: ONE user-partitioned window pass builds both lead columns
# (same spec ⇒ same sort), then a trigram rollup and top-15
# TakeOrderedAndProject. User skew bounds the window partition, the
# same exposure q_markov_transitions documents.
# ---------------------------------------------------------------------------

_TRIGRAM_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type AS t1,
         lead(event_type, 1) OVER w AS t2,
         lead(event_type, 2) OVER w AS t3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT t1, t2, t3, count(*) AS n
FROM seq
WHERE t3 IS NOT NULL
GROUP BY t1, t2, t3
ORDER BY n DESC, t1, t2, t3
LIMIT 15
"""


@register("q_event_trigrams", oracle=_TRIGRAM_ORACLE)
def q_event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    )
    return (
        seq.filter(F.col("t3").isNotNull())
        .groupBy("t1", "t2", "t3")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "t1", "t2", "t3")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# q_auc_score — EXACT ROC AUC of the stopword score against the
# lang='en' label via the Mann-Whitney U statistic, computed entirely
# in integers: 2U = Σ_s n_pos(s)·(2·cum_neg_below(s) + n_neg(s)) over
# the per-score histogram (the +n_neg(s) term is the tie correction —
# ties count half, doubled to stay integer). The threshold-free
# companion to q_calibration_bins: calibration asks "does the score
# mean what it says", AUC asks "does it rank positives above negatives
# at all".
#
# Exactness: every term is an exact BIGINT; the final ratio is ONE
# integer-product division (2U·10⁶) div (2·n_pos·n_neg). Products stay
# under 2⁶³ until ~10⁹ docs per class; past that the same histogram
# computes AUC from e3-bucketed scores.
#
# Scale: one corpus scan → per-score histogram (score domain-bounded:
# ≤10⁴ distinct e4 ratios), one ordered window over the HISTOGRAM, one
# final rollup. The corpus never sorts.
# ---------------------------------------------------------------------------

_AUC_ORACLE = """
WITH scored AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         len(list_filter(string_split(text, ' '),
             w -> w IN ('the', 'a', 'of', 'and', 'to'))) * 10000
           // len(string_split(text, ' ')) AS score_e4
  FROM documents
),
hist AS (
  SELECT score_e4,
         CAST(sum(y) AS BIGINT) AS n_pos,
         CAST(sum(1 - y) AS BIGINT) AS n_neg
  FROM scored GROUP BY score_e4
),
cum AS (
  SELECT n_pos, n_neg,
         CAST(coalesce(sum(n_neg) OVER (
           ORDER BY score_e4
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS neg_below
  FROM hist
)
SELECT CAST(sum(n_pos) AS BIGINT) AS n_pos,
       CAST(sum(n_neg) AS BIGINT) AS n_neg,
       CAST(sum(n_pos * (2 * neg_below + n_neg)) AS BIGINT) AS u2,
       CAST(sum(n_pos * (2 * neg_below + n_neg)) * 1000000
            // (2 * sum(n_pos) * sum(n_neg)) AS BIGINT) AS auc_e6
FROM cum
"""


@register("q_auc_score", oracle=_AUC_ORACLE)
def q_auc_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_ingestion_service_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    stop = F.size(
        F.filter(toks, lambda w: w.isin("the", "a", "of", "and", "to"))
    )
    scored = docs.select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        (stop * 10000).alias("s_num"),
        F.size(toks).alias("s_den"),
    ).select("y", F.expr("s_num div s_den").alias("score_e4"))
    hist = scored.groupBy("score_e4").agg(
        F.sum("y").cast("bigint").alias("n_pos"),
        F.sum(1 - F.col("y")).cast("bigint").alias("n_neg"),
    )
    w = Window.orderBy("score_e4").rowsBetween(Window.unboundedPreceding, -1)
    cum = hist.select(
        "n_pos",
        "n_neg",
        F.coalesce(F.sum("n_neg").over(w), F.lit(0))
        .cast("bigint")
        .alias("neg_below"),
    )
    return cum.agg(
        F.sum("n_pos").cast("bigint").alias("n_pos"),
        F.sum("n_neg").cast("bigint").alias("n_neg"),
        F.sum(F.col("n_pos") * (2 * F.col("neg_below") + F.col("n_neg")))
        .cast("bigint")
        .alias("u2"),
        F.expr(
            "cast(sum(n_pos * (2 * neg_below + n_neg)) * 1000000"
            " div (2 * sum(n_pos) * sum(n_neg)) as bigint)"
        ).alias("auc_e6"),
    )


# ---------------------------------------------------------------------------
# q_ks_test — exact two-sample Kolmogorov-Smirnov drift statistic
# between the two halves of the hash split (q_train_test_split's
# construction) over document length: D = max_x |ECDF_a(x) − ECDF_b(x)|.
# The distribution-shape drift test beside q_psi_drift's binned one —
# KS is bin-free, so a shift PSI's 10 buckets can hide still moves D.
#
# Exactness: ECDF steps are cumulative-count windows over the per-value
# histogram; each ECDF value floors to e6 via integer division BEFORE
# the difference, so D_e6 is an exact BIGINT max (bounded tie-break:
# report the smallest n_chars achieving the max).
#
# Scale: one scan → (value, split) histogram (value-domain-bounded),
# one ordered window over the histogram, one max rollup. No sort of the
# corpus, no join.
# ---------------------------------------------------------------------------

_KS_ORACLE = """
WITH tagged AS (
  SELECT n_chars,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c'
              THEN 1 ELSE 0 END AS is_a
  FROM documents
),
hist AS (
  SELECT n_chars,
         CAST(sum(is_a) AS BIGINT) AS na,
         CAST(sum(1 - is_a) AS BIGINT) AS nb
  FROM tagged GROUP BY n_chars
),
cum AS (
  SELECT n_chars,
         CAST(sum(na) OVER w AS BIGINT) AS ca,
         CAST(sum(nb) OVER w AS BIGINT) AS cb,
         CAST(sum(na) OVER () AS BIGINT) AS ta,
         CAST(sum(nb) OVER () AS BIGINT) AS tb
  FROM hist
  WINDOW w AS (ORDER BY n_chars ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
gaps AS (
  SELECT n_chars,
         abs(ca * 1000000 // ta - cb * 1000000 // tb) AS gap_e6
  FROM cum
)
SELECT max(gap_e6) AS d_e6,
       CAST(min(CASE WHEN gap_e6 = (SELECT max(gap_e6) FROM gaps)
                THEN n_chars END) AS BIGINT) AS at_n_chars
FROM gaps
"""


@register("q_ks_test", oracle=_KS_ORACLE)
def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    is_a = F.when(
        F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 1)
        < "c",
        1,
    ).otherwise(0)
    hist = docs.select("n_chars", is_a.alias("is_a")).groupBy("n_chars").agg(
        F.sum("is_a").cast("bigint").alias("na"),
        F.sum(1 - F.col("is_a")).cast("bigint").alias("nb"),
    )
    w = Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = hist.select(
        "n_chars",
        F.sum("na").over(w).cast("bigint").alias("ca"),
        F.sum("nb").over(w).cast("bigint").alias("cb"),
        F.sum("na").over(wall).cast("bigint").alias("ta"),
        F.sum("nb").over(wall).cast("bigint").alias("tb"),
    )
    gaps = cum.select(
        "n_chars",
        F.abs(
            F.expr("ca * 1000000 div ta") - F.expr("cb * 1000000 div tb")
        ).alias("gap_e6"),
    )
    wmax = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        gaps.select(
            "gap_e6",
            "n_chars",
            F.max("gap_e6").over(wmax).alias("dmax"),
        )
        .filter(F.col("gap_e6") == F.col("dmax"))
        .agg(
            F.max("gap_e6").alias("d_e6"),
            F.min("n_chars").cast("bigint").alias("at_n_chars"),
        )
    )


# ---------------------------------------------------------------------------
# q_embed_outliers — mislabeled-example mining (the confident-learning
# screen): for each label, the 2 vectors FARTHEST from their own
# label's centroid by cosine — the rows a labeling-quality pass sends
# to re-annotation first. Reuses q_nearest_centroid's exact
# integer-sum centroid construction; per-label bottom-2 by
# (cos ASC, vec_id) is total-order deterministic.
#
# Scale: the centroid table is label-bounded and broadcast; one scored
# scan; the per-label bottom-k window partitions by label. Nothing is
# all-pairs.
# ---------------------------------------------------------------------------

_EMBED_OUTLIERS_ORACLE = """
WITH pos AS (SELECT unnest(range(1, 65)) AS p),
elems AS (
  SELECT label, pos.p AS p,
         CAST(floor(e.embedding[pos.p]::DOUBLE * 1000000) AS BIGINT) AS q
  FROM embeddings e, pos
),
cent AS (
  SELECT label AS c_label, list(cv ORDER BY p) AS centroid
  FROM (
    SELECT label, p, CAST(sum(q) AS BIGINT) * 1.0 / count(*) AS cv
    FROM elems GROUP BY label, p
  )
  GROUP BY label
),
scored AS (
  SELECT e.vec_id, e.label,
         round(list_cosine_similarity(e.embedding::DOUBLE[], c.centroid), 4)
           AS cs
  FROM embeddings e JOIN cent c ON c.c_label = e.label
)
SELECT label, vec_id, cs AS centroid_cos
FROM (
  SELECT label, vec_id, cs,
         row_number() OVER (PARTITION BY label ORDER BY cs, vec_id) AS rn
  FROM scored
)
WHERE rn <= 2
"""


@register("q_embed_outliers", oracle=_EMBED_OUTLIERS_ORACLE)
def q_embed_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    elems = emb.select(
        "label", F.posexplode(as_double("embedding")).alias("p0", "x")
    ).select(
        "label",
        (F.col("p0") + 1).alias("p"),
        F.floor(F.col("x") * 1000000).cast("long").alias("q"),
    )
    cent = (
        elems.groupBy("label", "p")
        .agg((F.sum("q").cast("long") * 1.0 / F.count(F.lit(1))).alias("cv"))
        .groupBy(F.col("label").alias("c_label"))
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("p", "cv"))),
                lambda s: s["cv"],
            ).alias("centroid")
        )
    )
    scored = emb.join(
        F.broadcast(cent), F.col("label") == F.col("c_label")
    ).select(
        "vec_id",
        "label",
        F.round(cosine(as_double("embedding"), F.col("centroid")), 4).alias(
            "cs"
        ),
    )
    w = Window.partitionBy("label").orderBy(F.asc("cs"), F.asc("vec_id"))
    return (
        scored.select(
            "label", "vec_id", "cs", F.row_number().over(w).alias("rn")
        )
        .filter(F.col("rn") <= 2)
        .select("label", "vec_id", F.col("cs").alias("centroid_cos"))
    )


# ---------------------------------------------------------------------------
# q_dedup_modality_diff — the two near-dup families AUDITED AGAINST
# EACH OTHER: over the id range covered by both tables, how many pairs
# does the token-shingle Jaccard tier flag that the embedding-cosine
# tier misses, and vice versa? Text dedup catches verbatim/templated
# duplication; embedding dedup catches paraphrase; the disagreement
# counts are the coverage argument for running both (SemDeDup's
# motivation, measured on this corpus instead of assumed). Both pair
# sets come from the session-persisted stores the dedup family already
# builds.
#
# Scale: both inputs are near-dup-density-sized pair lists (never
# corpora); the diff is two tiny joins plus one summary row. The id
# intersection restricts via a broadcast of the embedding key set —
# dimension-bounded on the fixture's embed table by construction.
# ---------------------------------------------------------------------------


def _modality_diff_oracle() -> str:
    from data_ingestion_service_spark.operators.llm import (
        _HOT_SHINGLE_CAP,
        _NEAR_DEDUP_THRESHOLD,
    )
    from data_ingestion_service_spark.operators.llm_extended import (
        _NEAR_DUP_COS_THRESHOLD,
    )

    return f"""
WITH ids AS (
  SELECT d.doc_id
  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
),
toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
  WHERE doc_id IN (SELECT doc_id FROM ids)
),
sh AS MATERIALIZED (
  SELECT DISTINCT doc_id, shingle
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(t) - 1),
                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
    FROM toks
    WHERE len(t) >= 3
  )
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
tp AS (
  SELECT p.doc_a, p.doc_b
  FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  -- mirror the Spark side's hot-shingle posting-list cap so the two
  -- definitions stay identical at ANY scale (ADVICE r6)
  WHERE a.shingle IN (SELECT shingle FROM sh
                      GROUP BY shingle
                      HAVING count(DISTINCT doc_id) <= {_HOT_SHINGLE_CAP})
    GROUP BY 1, 2
  ) p
  JOIN sizes sa ON sa.doc_id = p.doc_a
  JOIN sizes sb ON sb.doc_id = p.doc_b
  WHERE p.n_common * 1.0 / (sa.sz + sb.sz - p.n_common)
        >= {_NEAR_DEDUP_THRESHOLD}
),
ep AS (
  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
  FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
        WHERE vec_id IN (SELECT doc_id FROM ids)) a
  JOIN (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
        WHERE vec_id IN (SELECT doc_id FROM ids)) b
    ON a.vec_id < b.vec_id
  WHERE round(list_cosine_similarity(a.e, b.e), 4)
        >= {_NEAR_DUP_COS_THRESHOLD}
)
SELECT
  (SELECT count(*) FROM tp) AS n_text_pairs,
  (SELECT count(*) FROM ep) AS n_embed_pairs,
  (SELECT count(*) FROM tp JOIN ep
     ON ep.doc_a = tp.doc_a AND ep.doc_b = tp.doc_b) AS n_both,
  (SELECT count(*) FROM tp) - (SELECT count(*) FROM tp JOIN ep
     ON ep.doc_a = tp.doc_a AND ep.doc_b = tp.doc_b) AS n_text_only,
  (SELECT count(*) FROM ep) - (SELECT count(*) FROM tp JOIN ep
     ON ep.doc_a = tp.doc_a AND ep.doc_b = tp.doc_b) AS n_embed_only
"""


@register("q_dedup_modality_diff", oracle=_modality_diff_oracle())
def q_dedup_modality_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_ingestion_service_spark.operators.llm import near_dup_pairs
    from data_ingestion_service_spark.operators.llm_extended import (
        embed_near_dup_pairs,
    )

    emb_ids = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id")
    )
    doc_ids = load_table(spark, sf_dir, "documents").select("doc_id")
    ids = emb_ids.join(doc_ids, "doc_id", "left_semi")
    tp = (
        near_dup_pairs(spark, sf_dir)
        .select("doc_a", "doc_b")
        .join(
            F.broadcast(ids.select(F.col("doc_id").alias("doc_a"))), "doc_a"
        )
        .join(
            F.broadcast(ids.select(F.col("doc_id").alias("doc_b"))), "doc_b"
        )
    )
    ep = embed_near_dup_pairs(spark, sf_dir).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    ep = ep.join(
        F.broadcast(ids.select(F.col("doc_id").alias("doc_a"))), "doc_a"
    ).join(F.broadcast(ids.select(F.col("doc_id").alias("doc_b"))), "doc_b")
    # r11 optimization (guide §2.4): the three separate counts (nt, ne,
    # nb) crossJoined through broadcasts re-ran the tp/ep candidate
    # pipelines once per aggregate — 18 steady-state jobs, 208 plan
    # exchanges, 22 Python nodes, and an 8.5s noop wall for a 1-row
    # answer. One full-outer join of the two (small) pair sets computes
    # all three counts in a single pass: count(t) = |tp|, count(e) =
    # |ep|, both-non-null = |tp ∩ ep|. Identical arithmetic, one job.
    t = tp.withColumn("t", F.lit(1))
    e = ep.withColumn("e", F.lit(1))
    joined = t.join(e, ["doc_a", "doc_b"], "full_outer")
    return joined.agg(
        F.count("t").alias("n_text_pairs"),
        F.count("e").alias("n_embed_pairs"),
        F.count(
            F.when(F.col("t").isNotNull() & F.col("e").isNotNull(), F.lit(1))
        ).alias("n_both"),
    ).select(
        "n_text_pairs",
        "n_embed_pairs",
        "n_both",
        (F.col("n_text_pairs") - F.col("n_both")).alias("n_text_only"),
        (F.col("n_embed_pairs") - F.col("n_both")).alias("n_embed_only"),
    )


# ---------------------------------------------------------------------------
# q_naive_bayes — multinomial Naive Bayes language classification,
# trained and evaluated on the corpus in one job (the classic
# MapReduce-era text classifier, and the third classifier lens beside
# q_eval_metrics' LSH-majority and q_nearest_centroid's geometry):
# P(w|l) = (c_lw + 1)/(T_l + V) with Laplace smoothing over the FULL
# vocab×lang grid (unseen (w,l) pairs score the smoothed floor, not
# zero), priors from document counts, argmax over per-doc log-sums.
#
# Exactness: every log term is floor(1e6·ln(exact-int ratio)) computed
# identically in both engines BEFORE the per-doc integer sum (the
# q_lm_score discipline); priors add as e6 integers; argmax tie-breaks
# on the smaller lang.
#
# Scale: the model is vocabulary×|langs|-bounded and broadcast; the
# corpus-sized work is one token scan joined against it and one
# (doc, lang) rollup. At 100 TB the grid gets a min-count cutoff with
# the same smoothed default — identical plan shape.
# ---------------------------------------------------------------------------

_NB_ORACLE = """
WITH toks AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
  FROM documents
),
vocab AS (SELECT DISTINCT w FROM toks),
vsize AS (SELECT CAST(count(*) AS BIGINT) AS v FROM vocab),
langs AS (SELECT DISTINCT lang AS l FROM documents),
cnt AS (
  SELECT lang AS l, w, CAST(count(*) AS BIGINT) AS c
  FROM toks GROUP BY 1, 2
),
totals AS (SELECT l, CAST(sum(c) AS BIGINT) AS t FROM cnt GROUP BY l),
grid AS (
  SELECT vl.w, vl.l,
         CAST(floor(ln((coalesce(c.c, 0) + 1) * 1.0
                       / (t.t + (SELECT v FROM vsize))) * 1000000)
              AS BIGINT) AS lp_e6
  FROM (SELECT v.w, g.l FROM vocab v CROSS JOIN langs g) vl
  JOIN totals t ON t.l = vl.l
  LEFT JOIN cnt c ON c.w = vl.w AND c.l = vl.l
),
priors AS (
  SELECT lang AS l,
         CAST(floor(ln(count(*) * 1.0
                       / (SELECT count(*) FROM documents)) * 1000000)
              AS BIGINT) AS prior_e6
  FROM documents GROUP BY lang
),
doc_scores AS (
  SELECT t.doc_id, t.lang, g.l,
         CAST(sum(g.lp_e6) AS BIGINT) AS s
  FROM toks t JOIN grid g ON g.w = t.w
  GROUP BY 1, 2, 3
),
best AS (
  SELECT d.doc_id, d.lang, d.l AS predicted,
         row_number() OVER (
           PARTITION BY d.doc_id ORDER BY d.s + p.prior_e6 DESC, d.l
         ) AS rn
  FROM doc_scores d JOIN priors p ON p.l = d.l
)
SELECT lang, predicted, count(*) AS n
FROM best WHERE rn = 1
GROUP BY 1, 2
"""


@register("q_naive_bayes", oracle=_NB_ORACLE)
def q_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_ingestion_service_spark.functions.text import tokens

    # r11 optimization (guide §2.3/§2.4/§3.1): the r6 shape exploded the
    # corpus three times (vocab, cnt, doc_scores), SHUFFLED the full
    # token stream by `w` to join the model grid (both sides exchanged,
    # and the joined stream carried |langs|× the token rows into the
    # per-(doc, lang, l) aggregate), then ranked with a per-doc window —
    # 18 steady-state jobs / 38 plan exchanges. Now the model BROADCASTS
    # in map form (w → {lang: count}, the docstring's stated vocabulary×
    # |langs|-bounded design) and every lang's log-score folds as a
    # parallel SUM COLUMN in one pass over the token stream: no corpus-
    # sized exchange, no |langs|× row fan-out, no window sort. The lang
    # list and the exact-integer totals/vocab-size are bounded driver
    # pulls off the persisted (l, w) count; every float step (the 1.0
    # division, ln, ×1e6 floor) stays JVM-side with the identical
    # expression structure, so the scores are bit-identical. The argmax
    # is least(struct(-total, l)) — (total DESC, l ASC) ≡ (-total, l)
    # ASC — evaluated per doc row after the one docs-keyed aggregate.
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", F.explode(tokens("text")).alias("w")
    )
    cnt = call_persisted(
        toks.groupBy(F.col("lang").alias("l"), "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    # Bounded pulls (|langs| rows + one scalar) — exact BIGINTs only;
    # no float crosses the driver boundary. NOTE (ADVICE r11): these
    # collects make DataFrame CONSTRUCTION eager — an explain-only
    # caller pays the two bounded jobs; the bench/driver always execute
    # the query, so the cost lands inside the timed call either way. A
    # NULL lang would break both the Python sort below (None vs str)
    # and map_from_entries (null map key), and the model's label column
    # must be total anyway — guard it explicitly rather than letting
    # either failure surface downstream.
    totals_rows = sorted(
        (r.l, int(r.t))
        for r in cnt.filter(F.col("l").isNotNull())
        .groupBy("l")
        .agg(F.sum("c").alias("t"))
        .collect()
    )
    if not totals_rows:
        raise ValueError("q_naive_bayes: no non-null lang labels in corpus")
    v_size = cnt.select("w").distinct().count()
    langs = [l for l, _ in totals_rows]
    per_w = cnt.groupBy("w").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("l", "c")))
        ).alias("cm")
    )
    # Per-lang token log-probability, folded as one sum column per lang
    # over the single broadcast-joined token pass. Bound note (VERDICT
    # r11): schema width is ∝ |langs| — fine for the bounded language
    # domain this classifier exists for (tens of labels); an unbounded
    # label domain would need the map-typed re-aggregation form instead
    # of parallel sum columns.
    scored = toks.join(F.broadcast(per_w), "w").groupBy("doc_id", "lang").agg(
        *[
            F.sum(
                F.floor(
                    F.log(
                        (F.coalesce(F.col("cm").getItem(l), F.lit(0)) + 1)
                        * 1.0
                        / F.lit(int(t) + int(v_size)).cast("bigint")
                    )
                    * 1000000
                ).cast("bigint")
            )
            .cast("bigint")
            .alias(f"s_{i}")
            for i, (l, t) in enumerate(totals_rows)
        ]
    )
    # Priors stay relational (a 1-row lang→prior map, built JVM-side so
    # the ln matches the engine's float path) and cross in as a map.
    priors = (
        docs.groupBy(F.col("lang").alias("l"))
        .agg(F.count(F.lit(1)).alias("nl"))
        .withColumn("nd", F.sum("nl").over(Window.partitionBy()))
        .select(
            "l",
            F.floor(F.log(F.col("nl") * 1.0 / F.col("nd")) * 1000000)
            .cast("bigint")
            .alias("prior_e6"),
        )
    )
    priors_map = priors.agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("l", "prior_e6")))
        ).alias("pm")
    )
    cands = [
        F.struct(
            (
                -(F.col(f"s_{i}") + F.col("pm").getItem(l))
            ).alias("neg_total"),
            F.lit(l).alias("l"),
        )
        for i, l in enumerate(langs)
    ]
    predicted = (
        F.least(*cands) if len(cands) > 1 else cands[0]
    )["l"].alias("predicted")
    return (
        scored.crossJoin(F.broadcast(priors_map))
        .select("lang", predicted)
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# q_dim_truncation — Matryoshka-style dimension-truncation quality
# audit: for 5 probe vectors, compare the cosine top-10 under the full
# 64-dim embedding against the top-10 under the first-16-dims
# truncation (the MRL serving trick: store/search a prefix, rerank
# full). Reports per probe the overlap@10 and recall_e6 — the
# approximation-measured discipline (q_lsh_recall / q_ann_recall /
# q_countmin_audit) applied to dimensionality reduction, which is the
# first lever a 100 TB vector store pulls (4× less IO before any index).
#
# Exactness: both rankings use round(cos, 4) with vec_id tie-break;
# overlap is an exact count join.
#
# Scale: probes broadcast; one scored scan computes BOTH cosines (the
# truncated vector is a slice — no second pass); two per-probe top-k
# windows; a tiny overlap join.
# ---------------------------------------------------------------------------

_DIMTRUNC_K = 10
_DIMTRUNC_DIMS = 16

_DIM_TRUNCATION_ORACLE = f"""
WITH probes AS (
  SELECT vec_id AS probe_id, embedding::DOUBLE[] AS pe
  FROM embeddings WHERE vec_id < 5
),
scored AS (
  SELECT p.probe_id, e.vec_id,
         round(list_cosine_similarity(e.embedding::DOUBLE[], p.pe), 4)
           AS cs_full,
         round(list_cosine_similarity(
           (e.embedding::DOUBLE[])[1:{_DIMTRUNC_DIMS}],
           p.pe[1:{_DIMTRUNC_DIMS}]), 4) AS cs_trunc
  FROM embeddings e CROSS JOIN probes p
  WHERE e.vec_id <> p.probe_id
),
full_top AS (
  SELECT probe_id, vec_id FROM (
    SELECT probe_id, vec_id,
           row_number() OVER (
             PARTITION BY probe_id ORDER BY cs_full DESC, vec_id) AS rn
    FROM scored
  ) WHERE rn <= {_DIMTRUNC_K}
),
trunc_top AS (
  SELECT probe_id, vec_id FROM (
    SELECT probe_id, vec_id,
           row_number() OVER (
             PARTITION BY probe_id ORDER BY cs_trunc DESC, vec_id) AS rn
    FROM scored
  ) WHERE rn <= {_DIMTRUNC_K}
)
SELECT f.probe_id,
       count(t.vec_id) AS n_overlap,
       CAST(count(t.vec_id) * 1000000 // {_DIMTRUNC_K} AS BIGINT)
         AS recall_e6
FROM full_top f
LEFT JOIN trunc_top t ON t.probe_id = f.probe_id AND t.vec_id = f.vec_id
GROUP BY f.probe_id
"""


@register("q_dim_truncation", oracle=_DIM_TRUNCATION_ORACLE)
def q_dim_truncation(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), as_double("embedding").alias("pe")
    )
    scored = (
        emb.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "vec_id",
            F.round(cosine(as_double("embedding"), F.col("pe")), 4).alias(
                "cs_full"
            ),
            F.round(
                cosine(
                    F.slice(as_double("embedding"), 1, _DIMTRUNC_DIMS),
                    F.slice(F.col("pe"), 1, _DIMTRUNC_DIMS),
                ),
                4,
            ).alias("cs_trunc"),
        )
    )
    wf = Window.partitionBy("probe_id").orderBy(
        F.desc("cs_full"), F.asc("vec_id")
    )
    wt = Window.partitionBy("probe_id").orderBy(
        F.desc("cs_trunc"), F.asc("vec_id")
    )
    full_top = (
        scored.select(
            "probe_id", "vec_id", F.row_number().over(wf).alias("rn")
        )
        .filter(F.col("rn") <= _DIMTRUNC_K)
        .drop("rn")
    )
    trunc_top = (
        scored.select(
            "probe_id", "vec_id", F.row_number().over(wt).alias("rn")
        )
        .filter(F.col("rn") <= _DIMTRUNC_K)
        .select(
            F.col("probe_id").alias("t_probe"), F.col("vec_id").alias("t_vec")
        )
    )
    return (
        full_top.join(
            trunc_top,
            (F.col("probe_id") == F.col("t_probe"))
            & (F.col("vec_id") == F.col("t_vec")),
            "left",
        )
        .groupBy("probe_id")
        .agg(
            F.count("t_vec").alias("n_overlap"),
            F.expr(f"count(t_vec) * 1000000 div {_DIMTRUNC_K}").alias(
                "recall_e6"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q_spearman — exact Spearman rank correlation between document length
# and LM quality score (are longer documents more fluent?): rho =
# 1 − 6·Σd²/(n·(n²−1)) over tie-broken ranks (row_number by (value,
# doc_id) — a total order, so both engines rank identically; classic
# Spearman with ties averaged needs fractional ranks, which would
# reintroduce floats — the tie-broken variant is the standard
# integer-exact alternative and is stated in the column name).
#
# Exactness: ranks and Σd² are exact BIGINTs (Σd² < n³ ⇒ < 2⁶³ until
# n ≈ 2·10⁶ docs; past that the same statistic computes on e3-bucketed
# ranks); the final rho is ONE integer expression floored to e6.
#
# Scale: the LM score passes are q_lm_score's; the two rank windows
# order per-DOC rows. At 100 TB ranks come from a distributed sort —
# the same two-window shape.
# ---------------------------------------------------------------------------

_SPEARMAN_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
bi AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg
  FROM toks WHERE len(t) >= 2
),
bi2 AS (SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1 FROM bi),
c2 AS (SELECT bg, count(*) AS c2 FROM bi2 GROUP BY bg),
c1 AS (SELECT w1, count(*) AS c1 FROM bi2 GROUP BY w1),
per_doc AS (
  SELECT b.doc_id,
         CAST(sum(CAST(floor(log2(c2.c2 * 1.0 / c1.c1) * 1000000) AS BIGINT))
              // count(*) AS BIGINT) AS score
  FROM bi2 b JOIN c2 ON c2.bg = b.bg JOIN c1 ON c1.w1 = b.w1
  GROUP BY b.doc_id
),
joined AS (
  SELECT p.doc_id, p.score, d.n_chars
  FROM per_doc p JOIN documents d ON d.doc_id = p.doc_id
),
ranked AS (
  SELECT row_number() OVER (ORDER BY n_chars, doc_id) AS rx,
         row_number() OVER (ORDER BY score, doc_id) AS ry
  FROM joined
)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum((rx - ry) * (rx - ry)) AS BIGINT) AS sum_d2,
       CAST(floor((1.0 - 6.0 * sum((rx - ry) * (rx - ry))
                   / (count(*) * (count(*) * count(*) - 1.0))) * 1000000)
            AS BIGINT) AS rho_tiebroken_e6
FROM ranked
"""


@register("q_spearman", oracle=_SPEARMAN_ORACLE)
def q_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_ingestion_service_spark.functions.text import shingle_rows

    docs = load_table(spark, sf_dir, "documents")
    bi = shingle_rows(docs, 2).select(
        "doc_id",
        F.col("shingle").alias("bg"),
        F.substring_index("shingle", " ", 1).alias("w1"),
    )
    c2 = bi.groupBy("bg").agg(F.count(F.lit(1)).alias("c2"))
    c1 = bi.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    per_doc = (
        bi.join(c2, "bg")
        .join(c1, "w1")
        .select(
            "doc_id",
            F.floor(F.log2(F.col("c2") * 1.0 / F.col("c1")) * 1000000)
            .cast("bigint")
            .alias("lp_e6"),
        )
        .groupBy("doc_id")
        .agg(F.expr("sum(lp_e6) div count(*)").alias("score"))
    )
    joined = per_doc.join(docs.select("doc_id", "n_chars"), "doc_id")
    # row_number() is 32-bit; the squared rank difference must multiply
    # in BIGINT (overflowed at sf1's 50k docs: (rx−ry)² > 2³¹).
    ranked = joined.select(
        F.row_number()
        .over(Window.orderBy("n_chars", "doc_id"))
        .cast("bigint")
        .alias("rx"),
        F.row_number()
        .over(Window.orderBy("score", "doc_id"))
        .cast("bigint")
        .alias("ry"),
    )
    d2 = (F.col("rx") - F.col("ry")) * (F.col("rx") - F.col("ry"))
    return ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(d2).cast("bigint").alias("sum_d2"),
        F.floor(
            (
                1.0
                - 6.0
                * F.sum(d2)
                / (
                    F.count(F.lit(1))
                    * (F.count(F.lit(1)) * F.count(F.lit(1)) - 1.0)
                )
            )
            * 1000000
        )
        .cast("bigint")
        .alias("rho_tiebroken_e6"),
    )


# ---------------------------------------------------------------------------
# q_trimmed_mean — 5%-trimmed mean event value per type: the robust
# location estimate a monitoring pipeline prefers over the raw mean
# (one fat-fingered upload should not move the dashboard). Trim bounds
# are exact integer rank cutoffs (drop rank ≤ n·5 div 100 and
# rank > n − n·5 div 100 under a per-type total order), so both
# engines drop the identical rows; the surviving mean is an exact
# cents division.
#
# Scale: one per-type rank window (the same shape as
# q_latency_percentiles) and one rollup; type cardinality bounds the
# output.
# ---------------------------------------------------------------------------

_TRIMMED_ORACLE = """
WITH ranked AS (
  SELECT event_type,
         CAST(round(value * 100) AS BIGINT) AS cents,
         row_number() OVER (
           PARTITION BY event_type
           ORDER BY CAST(round(value * 100) AS BIGINT), event_id
         ) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events
),
kept AS (
  SELECT event_type, cents, n
  FROM ranked
  WHERE rn > n * 5 // 100 AND rn <= n - n * 5 // 100
)
SELECT event_type,
       CAST(max(n) AS BIGINT) AS n_events,
       CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(cents) // count(*) AS BIGINT) AS trimmed_mean_cents
FROM kept
GROUP BY event_type
"""


@register("q_trimmed_mean", oracle=_TRIMMED_ORACLE)
def q_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    w = Window.partitionBy("event_type").orderBy(cents.asc(), F.col("event_id").asc())
    wn = Window.partitionBy("event_type")
    ranked = events.select(
        "event_type",
        cents.alias("cents"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    kept = ranked.filter(
        (F.col("rn") > F.expr("n * 5 div 100"))
        & (F.col("rn") <= F.col("n") - F.expr("n * 5 div 100"))
    )
    return kept.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n_events"),
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.expr("sum(cents) div count(*)").alias("trimmed_mean_cents"),
    )


# ---------------------------------------------------------------------------
# q_sliced_auc — disaggregated (per-slice) AUC: q_auc_score's exact
# Mann-Whitney statistic computed PER SOURCE — the fairness/robustness
# audit that catches a score working on aggregate while failing a
# slice (the aggregate AUC averages it away). Slices with a degenerate
# class (no positives or no negatives) report auc_e6 = -1 instead of
# dividing by zero — those slices are exactly the ones the audit must
# surface, not drop.
#
# Exactness/scale: q_auc_score's integer histogram construction with
# `source` added to every key — the rank window partitions by source
# over the (source, score) histogram, never the corpus.
# ---------------------------------------------------------------------------

_SLICED_AUC_ORACLE = """
WITH scored AS (
  SELECT source,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         len(list_filter(string_split(text, ' '),
             w -> w IN ('the', 'a', 'of', 'and', 'to'))) * 10000
           // len(string_split(text, ' ')) AS score_e4
  FROM documents
),
hist AS (
  SELECT source, score_e4,
         CAST(sum(y) AS BIGINT) AS n_pos,
         CAST(sum(1 - y) AS BIGINT) AS n_neg
  FROM scored GROUP BY source, score_e4
),
cum AS (
  SELECT source, n_pos, n_neg,
         CAST(coalesce(sum(n_neg) OVER (
           PARTITION BY source ORDER BY score_e4
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS neg_below
  FROM hist
)
SELECT source,
       CAST(sum(n_pos) AS BIGINT) AS n_pos,
       CAST(sum(n_neg) AS BIGINT) AS n_neg,
       CASE WHEN sum(n_pos) = 0 OR sum(n_neg) = 0 THEN -1
            ELSE CAST(sum(n_pos * (2 * neg_below + n_neg)) * 1000000
                      // (2 * sum(n_pos) * sum(n_neg)) AS BIGINT)
       END AS auc_e6
FROM cum
GROUP BY source
"""


@register("q_sliced_auc", oracle=_SLICED_AUC_ORACLE)
def q_sliced_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_ingestion_service_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    stop = F.size(
        F.filter(toks, lambda w: w.isin("the", "a", "of", "and", "to"))
    )
    scored = docs.select(
        "source",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        (stop * 10000).alias("s_num"),
        F.size(toks).alias("s_den"),
    ).select("source", "y", F.expr("s_num div s_den").alias("score_e4"))
    hist = scored.groupBy("source", "score_e4").agg(
        F.sum("y").cast("bigint").alias("n_pos"),
        F.sum(1 - F.col("y")).cast("bigint").alias("n_neg"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("score_e4")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = hist.select(
        "source",
        "n_pos",
        "n_neg",
        F.coalesce(F.sum("n_neg").over(w), F.lit(0))
        .cast("bigint")
        .alias("neg_below"),
    )
    return cum.groupBy("source").agg(
        F.sum("n_pos").cast("bigint").alias("n_pos"),
        F.sum("n_neg").cast("bigint").alias("n_neg"),
        F.when(
            (F.sum("n_pos") == 0) | (F.sum("n_neg") == 0), F.lit(-1)
        )
        .otherwise(
            F.expr(
                "cast(sum(n_pos * (2 * neg_below + n_neg)) * 1000000"
                " div (2 * sum(n_pos) * sum(n_neg)) as bigint)"
            )
        )
        .cast("bigint")
        .alias("auc_e6"),
    )


# ---------------------------------------------------------------------------
# q_ols2 — closed-form two-feature ordinary least squares: regress line
# revenue (whole dollars) on quantity and discount basis points via the
# centered normal equations. The "does price scale with quantity and
# how much does discounting bite" baseline model, fit in ONE aggregation
# pass — the map-side-combinable sufficient-statistics shape that is THE
# way to fit linear models at 100 TB (no per-row residual pass, no
# gradient iterations, no collect of anything but 10 scalars).
#
# Exactness: all sufficient statistics are exact BIGINTs (y in whole
# dollars keeps Σy² ≤ ~6e16 at sf1 — cents would overflow BIGINT's
# 9.2e18 at Σy²); the closed-form solve is ONE double expression per
# coefficient over those exact integers, with the identical fragment
# string (_OLS2_*) evaluated by BOTH engines — identical scalar inputs,
# identical parenthesization, identical IEEE result, floored to e6.
# Products that could overflow BIGINT (Σy·Σy ~ 3.6e23) are cast to
# DOUBLE before multiplying, in the shared fragment itself.
#
# Scale: one scan, partial-aggregated map-side into a single 10-column
# row; the solve is driver-free (a projection on the 1-row aggregate).
# ---------------------------------------------------------------------------

# Shared final-expression fragments — evaluated verbatim by Spark
# (F.expr) and DuckDB (string-embedded) over the identical exact-BIGINT
# sufficient statistics, so the doubles are bit-identical.
_OLS2_C = (
    "(CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))",
    "(CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))",
    "(CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))",
    "(CAST(s1y AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))",
    "(CAST(s2y AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))",
    "(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))",
)
_OLS2_DET = f"({_OLS2_C[2]} * {_OLS2_C[0]} - {_OLS2_C[1]} * {_OLS2_C[1]})"
_OLS2_B1 = (
    f"(({_OLS2_C[2]} * {_OLS2_C[3]} - {_OLS2_C[1]} * {_OLS2_C[4]}) / {_OLS2_DET})"
)
_OLS2_B2 = (
    f"(({_OLS2_C[0]} * {_OLS2_C[4]} - {_OLS2_C[1]} * {_OLS2_C[3]}) / {_OLS2_DET})"
)
_OLS2_B0 = (
    f"(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)"
    f" - {_OLS2_B1} * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)"
    f" - {_OLS2_B2} * CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))"
)
_OLS2_R2 = f"(({_OLS2_B1} * {_OLS2_C[3]} + {_OLS2_B2} * {_OLS2_C[4]}) / {_OLS2_C[5]})"

_OLS2_STATS = """
SELECT CAST(count(*) AS BIGINT)          AS n,
       CAST(sum(x1) AS BIGINT)           AS s1,
       CAST(sum(x2) AS BIGINT)           AS s2,
       CAST(sum(y) AS BIGINT)            AS sy,
       CAST(sum(x1 * x1) AS BIGINT)      AS s11,
       CAST(sum(x2 * x2) AS BIGINT)      AS s22,
       CAST(sum(x1 * x2) AS BIGINT)      AS s12,
       CAST(sum(x1 * y) AS BIGINT)       AS s1y,
       CAST(sum(x2 * y) AS BIGINT)       AS s2y,
       CAST(sum(y * y) AS BIGINT)        AS syy
FROM t
"""

_OLS2_ORACLE = f"""
WITH t AS (
  SELECT CAST(round(l_quantity) AS BIGINT)          AS x1,
         CAST(round(l_discount * 10000) AS BIGINT)  AS x2,
         CAST(round(l_extendedprice) AS BIGINT)     AS y
  FROM lineitem
),
s AS ({_OLS2_STATS})
SELECT n,
       CAST(floor({_OLS2_B0} * 1000000) AS BIGINT) AS b0_e6,
       CAST(floor({_OLS2_B1} * 1000000) AS BIGINT) AS b1_e6,
       CAST(floor({_OLS2_B2} * 1000000) AS BIGINT) AS b2_e6,
       CAST(floor({_OLS2_R2} * 1000000) AS BIGINT) AS r2_e6
FROM s
"""


@register("q_ols2", oracle=_OLS2_ORACLE)
def q_ols2(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.round("l_quantity").cast("bigint").alias("x1"),
        F.round(F.col("l_discount") * 10000).cast("bigint").alias("x2"),
        F.round("l_extendedprice").cast("bigint").alias("y"),
    )
    stats = li.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x1").cast("bigint").alias("s1"),
        F.sum("x2").cast("bigint").alias("s2"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).cast("bigint").alias("s11"),
        F.sum(F.col("x2") * F.col("x2")).cast("bigint").alias("s22"),
        F.sum(F.col("x1") * F.col("x2")).cast("bigint").alias("s12"),
        F.sum(F.col("x1") * F.col("y")).cast("bigint").alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).cast("bigint").alias("s2y"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    return stats.select(
        "n",
        F.expr(f"CAST(floor({_OLS2_B0} * 1000000) AS BIGINT)").alias("b0_e6"),
        F.expr(f"CAST(floor({_OLS2_B1} * 1000000) AS BIGINT)").alias("b1_e6"),
        F.expr(f"CAST(floor({_OLS2_B2} * 1000000) AS BIGINT)").alias("b2_e6"),
        F.expr(f"CAST(floor({_OLS2_R2} * 1000000) AS BIGINT)").alias("r2_e6"),
    )


# ---------------------------------------------------------------------------
# q_label_noise — kNN label-disagreement audit (the confident-learning /
# Cleanlab screen): for each probe vector, find its 3 nearest neighbors
# by cosine and flag the probe when the neighbors have a MAJORITY label
# that disagrees with the probe's own label — the standard cheap pass
# for surfacing mislabeled training examples before a classifier ever
# sees them. Complements q_embed_outliers (distance-to-own-centroid
# lens) with the local-neighborhood lens.
#
# Determinism: cosine accumulates f64 left-to-right over identical f32
# inputs (bit-identical across engines — q_knn_self's discipline);
# neighbor rank ties break on vec_id; the majority of a sorted 3-label
# list is its middle element when that element repeats, else a -1
# "no majority" sentinel — pure integer logic.
#
# Scale (round 7): ONE linear embedding scan through an Arrow/numpy
# kernel — probes (200×64) ride in the closure, each batch scores
# batch×200 cosines as 64 vectorized rank-1 updates (the SAME
# left-to-right f64 fold as functions.vector.cosine, so every cosine is
# bit-identical to the zip_with/aggregate expression and to DuckDB's
# DOUBLE[] aggregate — rank order provably matches the exact oracle),
# and emits only its LOCAL top-3 per probe. The global rank then runs
# over ≤ partitions×200×3 rows — a map-side top-k combine, never the
# N×200 scored-pair materialization the round-6 version shuffled
# (sf0.1: 5.1s → sub-second; the interpreted zip_with lambda was ~all
# of it). An IVF/LSH shortlist was MEASURED and rejected for this key:
# the fixture embeddings are isotropic — preserving the exact top-3
# needs all 10 label blocks (and all 16 kmeans cells) for at least one
# probe at every SF, so any pruning shortlist breaks the exact oracle.
# On a real clustered corpus the IVF mask composes with this same
# kernel (zero the masked columns before the fold); the kernel is the
# 100 TB shape either way: linear scan, vectorized math, bounded reduce.
# ---------------------------------------------------------------------------

_LN_PROBES = 200
_LN_K = 3

_LABEL_NOISE_ORACLE = f"""
WITH p AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
  WHERE vec_id < {_LN_PROBES}
),
scored AS (
  SELECT p.vec_id, p.label AS true_label, e.label AS nn_label,
         row_number() OVER (
           PARTITION BY p.vec_id
           ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], p.v) DESC,
                    e.vec_id
         ) AS rk
  FROM p JOIN embeddings e ON e.vec_id <> p.vec_id
),
votes AS (
  SELECT vec_id, true_label,
         list_sort(list(nn_label)) AS ls
  FROM scored
  WHERE rk <= {_LN_K}
  GROUP BY 1, 2
)
SELECT vec_id, true_label,
       CASE WHEN ls[1] = ls[2] OR ls[2] = ls[3] THEN ls[2]
            ELSE -1 END AS maj_label,
       CAST(CASE WHEN (CASE WHEN ls[1] = ls[2] OR ls[2] = ls[3]
                       THEN ls[2] ELSE -1 END) NOT IN (-1, true_label)
            THEN 1 ELSE 0 END AS BIGINT) AS flagged
FROM votes
"""


def _label_noise_votes(spark: SparkSession, sf_dir: str, scored: DataFrame) -> DataFrame:
    """Shared majority-vote tail: rank candidate (p_id, nn) rows, take
    top-_LN_K per probe, vote. `scored` needs columns p_id, true_label,
    nn_label, nn_id, cos."""
    from pyspark.sql import Window

    w = Window.partitionBy("p_id").orderBy(F.desc("cos"), F.asc("nn_id"))
    votes = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _LN_K)
        .groupBy("p_id", "true_label")
        .agg(F.array_sort(F.collect_list("nn_label")).alias("ls"))
    )
    maj = F.when(
        (F.element_at("ls", 1) == F.element_at("ls", 2))
        | (F.element_at("ls", 2) == F.element_at("ls", 3)),
        F.element_at("ls", 2),
    ).otherwise(F.lit(-1))
    return votes.select(
        F.col("p_id").alias("vec_id"),
        "true_label",
        maj.cast("int").alias("maj_label"),
        F.when(
            maj.isin(-1) | (maj == F.col("true_label")), 0
        )
        .otherwise(1)
        .cast("bigint")
        .alias("flagged"),
    )


def _q_label_noise_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-6 brute path (broadcast probes × full scored-pair window),
    kept UNREGISTERED as the pytest cross-check invariant for the Arrow
    kernel: both paths must agree row-for-row on the fixture."""
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < _LN_PROBES).select(
        F.col("vec_id").alias("p_id"),
        F.col("label").alias("true_label"),
        as_double("embedding").alias("v"),
    )
    scored = (
        emb.alias("e")
        .join(F.broadcast(probes), F.col("e.vec_id") != F.col("p_id"))
        .select(
            "p_id",
            "true_label",
            F.col("e.label").alias("nn_label"),
            F.col("e.vec_id").alias("nn_id"),
            cosine(as_double("e.embedding"), F.col("v")).alias("cos"),
        )
    )
    return _label_noise_votes(spark, sf_dir, scored)


# Driver-side memo of the collected probe slice, keyed by the fixture
# file's identity — the probe fetch is one extra Spark job per call
# otherwise (~0.15s of pure scheduling at fixture scale).
_LN_PROBE_CACHE: dict = {}


def _label_noise_probes(spark: SparkSession, sf_dir: str):
    import os

    import numpy as np

    path = os.path.join(sf_dir, "embeddings.parquet")
    try:
        st = os.stat(path)
        key = (path, st.st_mtime_ns, st.st_size)
    except OSError:
        key = (path, 0, 0)
    hit = _LN_PROBE_CACHE.get(key)
    if hit is None:
        emb = load_table(spark, sf_dir, "embeddings")
        rows = (
            emb.filter(F.col("vec_id") < _LN_PROBES)
            .select("vec_id", "label", as_double("embedding").alias("v"))
            .collect()
        )
        hit = (
            np.array([r.vec_id for r in rows], dtype=np.int64),
            np.array([r.label for r in rows], dtype=np.int64),
            np.array([r.v for r in rows], dtype=np.float64),  # P × 64
        )
        _LN_PROBE_CACHE[key] = hit
    return hit


@register("q_label_noise", oracle=_LABEL_NOISE_ORACLE)
def q_label_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    # 200-probe slice to the driver (bounded, same class as the centroid
    # fetch in q_knn_ivf_arrow); rides the kernel closure as 200×64 f64.
    p_ids, p_labels, p_mat = _label_noise_probes(spark, sf_dir)
    n_dim = p_mat.shape[1]

    def _fold_norm(mat: "np.ndarray") -> "np.ndarray":
        # norm(): acc = acc + x*x per dim, left-to-right, then sqrt —
        # same IEEE op sequence as the zip_with/aggregate expression.
        acc = np.zeros(mat.shape[0])
        for d in range(mat.shape[1]):
            acc += mat[:, d] * mat[:, d]
        return np.sqrt(acc)

    p_norm = _fold_norm(p_mat)
    if not (p_norm > 0.0).all():
        raise ValueError("q_label_noise: zero-norm probe embedding")

    def local_topk(batches):
        from data_ingestion_service_spark.chaos import maybe_fail

        maybe_fail("label_noise_topk")  # retry rung (no-op unless enabled)
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            # vec_id-ascending rows: a stable sort on -cos then keeps the
            # oracle's (cos DESC, vec_id ASC) order within equal cosines.
            pdf = pdf.sort_values("vec_id", kind="mergesort")
            ids = pdf["vec_id"].to_numpy()
            labels = pdf["label"].to_numpy()
            mat = np.vstack(pdf["emb"].to_numpy()).astype(np.float64)
            # dot(): 64 rank-1 updates — multiply then add per dim, the
            # exact fold order of functions.vector.dot, vectorized across
            # (batch × probes). Bit-identical to the JVM expression and
            # to DuckDB's DOUBLE[] aggregate on the same f32 inputs.
            acc = np.zeros((len(ids), len(p_ids)))
            for d in range(n_dim):
                acc += np.outer(mat[:, d], p_mat[:, d])
            nrm = _fold_norm(mat)
            # A zero-norm embedding makes cos NaN, and np.argsort(-col)
            # ranks NaN LAST while the brute path's ORDER BY cos DESC
            # ranks it FIRST — fail loudly instead of silently diverging
            # from the oracle on a degenerate vector (ADVICE r7).
            if not np.all(nrm > 0.0):
                raise ValueError(
                    "q_label_noise: zero-norm embedding in batch — the "
                    "kernel's local top-k would diverge from the brute "
                    "path's NaN ordering"
                )
            cos = acc / np.outer(nrm, p_norm)
            out = []
            for j in range(len(p_ids)):
                col = cos[:, j]
                cand = np.flatnonzero(ids != p_ids[j])
                take = cand[
                    np.argsort(-col[cand], kind="mergesort")[:_LN_K]
                ]
                out.append(
                    pd.DataFrame(
                        {
                            "p_id": p_ids[j],
                            "true_label": int(p_labels[j]),
                            "nn_label": labels[take],
                            "nn_id": ids[take],
                            "cos": col[take],
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True)

    # true_label rides the closure too — no probe-side join downstream.
    scored = emb.select(
        "vec_id", "label", as_double("embedding").alias("emb")
    ).mapInPandas(
        local_topk,
        schema="p_id bigint, true_label int, nn_label int, nn_id bigint, cos double",
    )
    return _label_noise_votes(spark, sf_dir, scored)


# ---------------------------------------------------------------------------
# q_wilson_ci — Wilson score interval for per-event-type purchase-value
# "high ticket" rates (share of events with value > 100): the
# binomial CI that stays inside [0,1] and behaves at small n, which is
# why experiment dashboards use it over the naive ±1.96√(pq/n).
# Completes the testing family: q_ab_test compares two proportions,
# q_bootstrap_ci resamples a mean, this one intervals a single rate.
#
# Exactness: successes/trials are exact BIGINTs; the interval is ONE
# shared-fragment double expression (z = 1.96 embedded as a literal)
# over those integers, floored to e6 — identical inputs, identical
# parenthesization, identical IEEE result in both engines.
#
# Scale: one map-side-combinable rollup to |event types| rows.
# ---------------------------------------------------------------------------

_WILSON_Z2 = "3.8416"  # 1.96^2, exact decimal literal in both engines

_WILSON_CENTER = (
    f"((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)"
    f" + {_WILSON_Z2} / (2.0 * CAST(n AS DOUBLE)))"
    f" / (1.0 + {_WILSON_Z2} / CAST(n AS DOUBLE)))"
)
_WILSON_HALF = (
    f"((1.96 * sqrt((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))"
    f" * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)"
    f" + {_WILSON_Z2} / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))"
    f" / (1.0 + {_WILSON_Z2} / CAST(n AS DOUBLE)))"
)

_WILSON_ORACLE = f"""
WITH s AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN value > 100 THEN 1 ELSE 0 END) AS BIGINT) AS k
  FROM events
  GROUP BY 1
)
SELECT event_type, n, k,
       k * 1000000 // n AS rate_e6,
       CAST(floor(({_WILSON_CENTER} - {_WILSON_HALF}) * 1000000) AS BIGINT)
         AS ci_lo_e6,
       CAST(floor(({_WILSON_CENTER} + {_WILSON_HALF}) * 1000000) AS BIGINT)
         AS ci_hi_e6
FROM s
"""


@register("q_wilson_ci", oracle=_WILSON_ORACLE)
def q_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("value") > 100, 1).otherwise(0))
        .cast("bigint")
        .alias("k"),
    )
    return s.select(
        "event_type",
        "n",
        "k",
        F.expr("k * 1000000 div n").alias("rate_e6"),
        F.expr(
            f"CAST(floor(({_WILSON_CENTER} - {_WILSON_HALF}) * 1000000)"
            " AS BIGINT)"
        ).alias("ci_lo_e6"),
        F.expr(
            f"CAST(floor(({_WILSON_CENTER} + {_WILSON_HALF}) * 1000000)"
            " AS BIGINT)"
        ).alias("ci_hi_e6"),
    )


# ---------------------------------------------------------------------------
# q_mutual_nn — reciprocal nearest neighbors within the probe slice
# (vec_id < 200): pairs where each vector is the OTHER's single nearest
# neighbor by cosine. Mutual-NN is the high-precision matcher used in
# bitext mining (Artetxe & Schwenk's margin criterion starts here) and
# in dedup verification — a one-directional NN can be a hub artifact
# (many points' NN is the same hub; reciprocity kills hubs
# structurally, no threshold needed).
#
# Determinism: cosine accumulates f64 left-to-right over identical f32
# inputs (q_knn_self's bit-identical discipline); NN rank ties break
# on vec_id; the pair emits once as (lo, hi).
#
# Scale: probe-bounded brute (200 × 200 within the slice — the filter
# is pushed to the scan); at corpus scale the same reciprocity test
# runs over the IVF/LSH shortlist NN table (q_knn_* family), identical
# downstream logic.
# ---------------------------------------------------------------------------

_MNN_PROBES = 200

_MUTUAL_NN_ORACLE = f"""
WITH p AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
  WHERE vec_id < {_MNN_PROBES}
),
nn AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         row_number() OVER (
           PARTITION BY a.vec_id
           ORDER BY list_cosine_similarity(b.v, a.v) DESC, b.vec_id
         ) AS rk,
         round(list_cosine_similarity(b.v, a.v), 4) AS cos_sim
  FROM p a JOIN p b ON a.vec_id <> b.vec_id
),
best AS (SELECT src, dst, cos_sim FROM nn WHERE rk = 1)
SELECT x.src AS vec_a, x.dst AS vec_b, x.cos_sim
FROM best x JOIN best y ON y.src = x.dst AND y.dst = x.src
WHERE x.src < x.dst
"""


@register("q_mutual_nn", oracle=_MUTUAL_NN_ORACLE)
def q_mutual_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < _MNN_PROBES
    )
    p = emb.select("vec_id", as_double("embedding").alias("v"))
    a = p.select(F.col("vec_id").alias("src"), F.col("v").alias("va"))
    b = p.select(F.col("vec_id").alias("dst"), F.col("v").alias("vb"))
    nn = (
        a.join(F.broadcast(b), F.col("src") != F.col("dst"))
        .select(
            "src",
            "dst",
            cosine(F.col("vb"), F.col("va")).alias("cos"),
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("src").orderBy(
                    F.desc("cos"), F.asc("dst")
                )
            ),
        )
        .filter(F.col("rk") == 1)
        .select("src", "dst", F.round("cos", 4).alias("cos_sim"))
    )
    # r11 optimization (guide §2.4): the reciprocity self-join broadcast
    # a second copy of `nn`, re-running the probe×probe scoring and the
    # rank window. Each probe has exactly ONE rank-1 row, so a pair is
    # mutual iff its canonical (lo, hi) key appears twice in `nn` —
    # one tiny groupBy over the |probes|-row NN table, no second pass.
    # cos_sim is the lo→hi direction's score (the x.src < x.dst row).
    lo = F.least("src", "dst")
    hi = F.greatest("src", "dst")
    return (
        nn.groupBy(lo.alias("vec_a"), hi.alias("vec_b"))
        .agg(
            F.count(F.lit(1)).alias("n_dir"),
            F.max(
                F.when(F.col("src") < F.col("dst"), F.col("cos_sim"))
            ).alias("cos_sim"),
        )
        .filter(F.col("n_dir") == 2)
        .select("vec_a", "vec_b", "cos_sim")
    )
