"""Training-example generation operators: point-in-time churn labels,
skip-gram pair extraction with frequency subsampling, negative sampling
over an interaction graph, and k-fold assignment.

These produce MODEL INPUTS (labels, pairs, folds) rather than corpus
statistics — the step between the cleaned corpus and the trainer, where
the classic failure is leakage (features computed after the label
cutoff, negatives that are secretly positives, folds that split
correlated rows). Each key's construction makes the non-leakage property
structural and oracle-checkable.

Exactness discipline (SURVEY.md §5): counts are exact BIGINTs; sampling
and fold assignment are pure md5 functions of row keys with identical
literal construction in both engines; time cutoffs compare exact epoch
seconds, never engine-local interval arithmetic.

Scale shapes (100 TB): per-user/per-doc windows and rollups, broadcast
vocabulary/interaction-bounded model tables, md5-gated output sampling.
No corpus self-joins; the one deliberate grid (user × 25 brands) is
dimension-bounded by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestion_service_spark.catalog import load_table
from data_ingestion_service_spark.functions import money
from data_ingestion_service_spark.registry import register

# ---------------------------------------------------------------------------
# q_churn_labels — point-in-time churn label generation: pick a cutoff
# 7 days before the corpus's last event, build per-user features ONLY
# from events before the cutoff (count, exact-cents spend, distinct
# types, seconds from each user's last pre-cutoff event to the cutoff)
# and the label ONLY from events after it (churned = no post-cutoff
# activity). The leakage rule — no feature may read past the cutoff —
# is structural: features and label aggregate disjoint conditional
# slices of one scan.
#
# Exactness: the cutoff is exact epoch-seconds arithmetic on a 1-row
# broadcast max (never engine-local date intervals); all features are
# exact integers.
#
# Scale: ONE event scan, one user-keyed rollup with conditional
# aggregates, the cutoff broadcast in. Output keeps every user with
# pre-cutoff history (user dimension-sized).
# ---------------------------------------------------------------------------

_CHURN_HORIZON_S = 7 * 86400

_CHURN_ORACLE = f"""
WITH cutoff AS (
  SELECT CAST(max(floor(epoch(ts))) AS BIGINT) - {_CHURN_HORIZON_S} AS cut_s
  FROM events
),
ev AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t_s, event_type,
         CAST(round(value * 100) AS BIGINT) AS v_cents
  FROM events
),
per_user AS (
  SELECT user_id,
         CAST(sum(CASE WHEN t_s < cut_s THEN 1 ELSE 0 END) AS BIGINT)
           AS n_before,
         CAST(sum(CASE WHEN t_s < cut_s THEN v_cents ELSE 0 END) AS BIGINT)
           AS spend_cents,
         CAST(count(DISTINCT CASE WHEN t_s < cut_s THEN event_type END)
              AS BIGINT) AS n_types,
         CAST(max(cut_s) - max(CASE WHEN t_s < cut_s THEN t_s END) AS BIGINT)
           AS last_gap_s,
         CAST(CASE WHEN sum(CASE WHEN t_s >= cut_s THEN 1 ELSE 0 END) = 0
              THEN 1 ELSE 0 END AS BIGINT) AS churned
  FROM ev CROSS JOIN cutoff
  GROUP BY user_id
)
SELECT user_id, n_before, spend_cents, n_types, last_gap_s, churned
FROM per_user
WHERE n_before > 0
"""


@register("q_churn_labels", oracle=_CHURN_ORACLE)
def q_churn_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    ev = events.select(
        "user_id",
        F.unix_timestamp("ts").cast("bigint").alias("t_s"),
        "event_type",
        money.cents("value").alias("v_cents"),
    )
    cutoff = ev.agg(
        (F.max("t_s") - F.lit(_CHURN_HORIZON_S)).alias("cut_s")
    )
    before = F.col("t_s") < F.col("cut_s")
    per_user = (
        ev.join(F.broadcast(cutoff))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(before, 1).otherwise(0)).cast("bigint").alias("n_before"),
            F.sum(F.when(before, F.col("v_cents")).otherwise(0))
            .cast("bigint")
            .alias("spend_cents"),
            F.countDistinct(F.when(before, F.col("event_type")))
            .cast("bigint")
            .alias("n_types"),
            F.expr(
                "cast(first(cut_s)"
                " - max(case when t_s < cut_s then t_s end) as bigint)"
            ).alias("last_gap_s"),
            F.when(
                F.sum(F.when(~before, 1).otherwise(0)) == 0, 1
            )
            .otherwise(0)
            .cast("bigint")
            .alias("churned"),
        )
    )
    return per_user.filter(F.col("n_before") > 0)


# ---------------------------------------------------------------------------
# q_skipgram_pairs — word2vec training-pair extraction with frequency
# subsampling (Mikolov et al.): drop instances of words whose corpus
# frequency exceeds a cap — instance kept iff md5(doc:pos) uniform
# < (2³²·CAP) div freq, an exact-integer linear-count variant of the
# sqrt(t/f) rule — then emit (center, context) pairs at offsets 1 and 2
# over the SURVIVING sequence (subsampling happens before windowing, so
# deleting hot words widens effective context — the original's
# documented behavior). Reports the top-15 directed pairs.
#
# Exactness: the keep threshold is an exact integer division of exact
# counts; the survivor sequence is re-ordered by original position with
# lead() over a total order; pair counts are exact.
#
# Scale: one token scan for the frequency model (vocabulary-bounded,
# broadcast back), one map-side keep-filter, ONE per-doc window pass
# for both offsets, a pair rollup, top-15 TakeOrderedAndProject.
# ---------------------------------------------------------------------------

_SG_FREQ_CAP = 200  # instances; words above this are down-sampled
_SG_2_32 = 1 << 32

_SKIPGRAM_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, i AS pos, t[CAST(i AS INT)] AS w
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
  CROSS JOIN unnest(range(1, len(t) + 1)) AS u(i)
),
freq AS (SELECT w, count(*) AS f FROM toks GROUP BY w),
kept AS (
  SELECT t.doc_id, t.pos, t.w
  FROM toks t JOIN freq ON freq.w = t.w
  WHERE freq.f <= {_SG_FREQ_CAP}
     OR ('0x' || substr(md5(CAST(t.doc_id AS VARCHAR) || ':' ||
                            CAST(t.pos AS VARCHAR)), 1, 8))::BIGINT
        < ({_SG_2_32} * {_SG_FREQ_CAP}) // freq.f
),
seq AS (
  SELECT doc_id, w,
         lead(w, 1) OVER win AS c1,
         lead(w, 2) OVER win AS c2
  FROM kept
  WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
),
pairs AS (
  SELECT w AS center, c1 AS context FROM seq WHERE c1 IS NOT NULL
  UNION ALL
  SELECT c1, w FROM seq WHERE c1 IS NOT NULL
  UNION ALL
  SELECT w, c2 FROM seq WHERE c2 IS NOT NULL
  UNION ALL
  SELECT c2, w FROM seq WHERE c2 IS NOT NULL
)
SELECT center, context, count(*) AS n
FROM pairs
GROUP BY center, context
ORDER BY n DESC, center, context
LIMIT 15
"""


@register("q_skipgram_pairs", oracle=_SKIPGRAM_ORACLE)
def q_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_ingestion_service_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("p0", "w")
    ).select("doc_id", (F.col("p0") + 1).alias("pos"), "w")
    freq = toks.groupBy("w").agg(F.count(F.lit(1)).alias("f"))
    u = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":",
                    F.col("doc_id").cast("string"),
                    F.col("pos").cast("string"),
                ).cast("binary")
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    kept = (
        toks.join(F.broadcast(freq), "w")
        .filter(
            (F.col("f") <= _SG_FREQ_CAP)
            | (u < F.expr(f"({_SG_2_32}L * {_SG_FREQ_CAP}) div f"))
        )
        .select("doc_id", "pos", "w")
    )
    win = Window.partitionBy("doc_id").orderBy("pos")
    seq = kept.select(
        "w",
        F.lead("w", 1).over(win).alias("c1"),
        F.lead("w", 2).over(win).alias("c2"),
    )
    # Emit all four directed pairs from ONE window pass via a map-side
    # array explode — a unionAll of per-direction selects re-evaluates
    # the whole kept→window lineage once per branch (4 Window nodes; the
    # posture test pins this to one).
    pairs = seq.select(
        F.explode(
            F.array(
                F.struct(F.col("w").alias("center"), F.col("c1").alias("context")),
                F.struct(F.col("c1").alias("center"), F.col("w").alias("context")),
                F.struct(F.col("w").alias("center"), F.col("c2").alias("context")),
                F.struct(F.col("c2").alias("center"), F.col("w").alias("context")),
            )
        ).alias("p")
    ).select("p.center", "p.context")
    return (
        pairs.filter(F.col("center").isNotNull() & F.col("context").isNotNull())
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "center", "context")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# q_negative_samples — negative sampling over the customer→brand
# purchase graph: for each buyer, the 3 md5-top-ranked brands they have
# NEVER purchased — the negatives a recommender / contrastive trainer
# pairs against observed positives. "Never purchased" is structural (an
# anti-join against the full interaction set, not a frequency
# heuristic), so a negative can never secretly be a positive.
#
# Scale: interactions roll up to DISTINCT (customer, brand) — bounded
# by customers × 25 brands, as is the candidate grid (buyers × the
# broadcast 25-brand dimension). The md5 rank window partitions per
# customer over ≤ 25 rows. Output is md5-gated to ~1/16 of buyers.
# ---------------------------------------------------------------------------

_NEG_K = 3

_NEG_SAMPLES_ORACLE = f"""
WITH bought AS (
  SELECT DISTINCT o.o_custkey AS ck, p.p_brand AS brand
  FROM orders o
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  JOIN part p ON p.p_partkey = l.l_partkey
),
buyers AS (SELECT DISTINCT ck FROM bought),
brands AS (SELECT DISTINCT p_brand AS brand FROM part),
cand AS (
  SELECT b.ck, br.brand,
         ('0x' || substr(md5(CAST(b.ck AS VARCHAR) || '|' || br.brand),
                         1, 12))::BIGINT AS rk
  FROM buyers b CROSS JOIN brands br
  WHERE NOT EXISTS (
    SELECT 1 FROM bought t WHERE t.ck = b.ck AND t.brand = br.brand
  )
)
SELECT ck, brand, neg_rank
FROM (
  SELECT ck, brand,
         row_number() OVER (PARTITION BY ck ORDER BY rk, brand) AS neg_rank
  FROM cand
)
WHERE neg_rank <= {_NEG_K}
  AND substr(md5(CAST(ck AS VARCHAR)), 1, 1) = '0'
"""


@register("q_negative_samples", oracle=_NEG_SAMPLES_ORACLE)
def q_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    bought = (
        orders.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .select(F.col("o_custkey").alias("ck"), F.col("p_brand").alias("brand"))
        .distinct()
    )
    buyers = bought.select("ck").distinct()
    brands = part.select(F.col("p_brand").alias("brand")).distinct()
    cand = buyers.crossJoin(F.broadcast(brands)).join(
        bought, ["ck", "brand"], "left_anti"
    )
    rk = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|", F.col("ck").cast("string"), F.col("brand")
                ).cast("binary")
            ),
            1,
            12,
        ),
        16,
        10,
    ).cast("bigint")
    w = Window.partitionBy("ck").orderBy(rk.asc(), F.col("brand").asc())
    sample_gate = (
        F.substring(F.md5(F.col("ck").cast("string").cast("binary")), 1, 1)
        == "0"
    )
    return (
        cand.select("ck", "brand", F.row_number().over(w).alias("neg_rank"))
        .filter((F.col("neg_rank") <= _NEG_K) & sample_gate)
    )


# ---------------------------------------------------------------------------
# q_kfold_assign — deterministic 5-fold cross-validation assignment
# (fold = md5(doc_id) mod 5) with the audit a CV split needs before
# use: per (fold, lang) counts plus each fold's share of its language
# (e6) — imbalance here means the id→fold hash interacts with how ids
# were assigned, the same failure family q_label_balance screens on the
# train/test split. Purely map-side + one domain-bounded rollup.
# ---------------------------------------------------------------------------

_KFOLD_ORACLE = """
WITH assigned AS (
  SELECT lang,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 5
           AS fold
  FROM documents
),
per_cell AS (
  SELECT lang, fold, count(*) AS n_docs FROM assigned GROUP BY 1, 2
),
per_lang AS (
  SELECT lang, CAST(sum(n_docs) AS BIGINT) AS n_lang FROM per_cell GROUP BY 1
)
SELECT c.lang, c.fold, c.n_docs,
       CAST(c.n_docs * 1000000 // p.n_lang AS BIGINT) AS lang_share_e6
FROM per_cell c JOIN per_lang p ON p.lang = c.lang
"""


@register("q_kfold_assign", oracle=_KFOLD_ORACLE)
def q_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fold = (
        F.conv(
            F.substring(
                F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        % 5
    )
    per_cell = docs.select("lang", fold.alias("fold")).groupBy(
        "lang", "fold"
    ).agg(F.count(F.lit(1)).alias("n_docs"))
    # Per-lang totals as a window over the 25-cell rollup: a separate
    # groupBy + join branch would re-scan the corpus (posture-pinned to
    # one scan).
    wl = Window.partitionBy("lang")
    return per_cell.select(
        "lang",
        "fold",
        "n_docs",
        F.sum("n_docs").over(wl).cast("bigint").alias("n_lang"),
    ).select(
        "lang",
        "fold",
        "n_docs",
        F.expr("n_docs * 1000000 div n_lang").alias("lang_share_e6"),
    )


# ---------------------------------------------------------------------------
# q_temporal_split — time-based train/validation split with its leakage
# surface AUDITED: events split at the 75th-percentile-ish fixed cutoff
# (exact epoch-seconds arithmetic over the corpus min/max — a pure
# function of the data, reproducible anywhere), reported per split with
# the count of users appearing on BOTH sides. For time-series models
# the hash split q_train_test_split uses is WRONG (future leaks into
# train); this is the split that replaces it, and cross-side users are
# exactly the rows a per-user-normalizing feature could leak through.
#
# Exactness: cutoff = min_s + (max_s − min_s)·3 div 4 — all BIGINT; the
# cross-side user count is an exact conditional aggregate.
#
# Scale: one scan, one user rollup with conditional slices, a 2-row
# reassembly. The min/max pre-pass is a 1-row broadcast.
# ---------------------------------------------------------------------------

_TEMPORAL_SPLIT_ORACLE = """
WITH bounds AS (
  SELECT CAST(min(floor(epoch(ts))) AS BIGINT) AS mn,
         CAST(max(floor(epoch(ts))) AS BIGINT) AS mx
  FROM events
),
cut AS (SELECT mn + (mx - mn) * 3 // 4 AS cut_s FROM bounds),
ev AS (
  SELECT user_id,
         CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                   < (SELECT cut_s FROM cut)
              THEN 'train' ELSE 'valid' END AS split,
         CAST(round(value * 100) AS BIGINT) AS v_cents
  FROM events
),
per_user AS (
  SELECT user_id,
         CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_train,
         CAST(sum(CASE WHEN split = 'valid' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_valid
  FROM ev GROUP BY user_id
)
SELECT s.split, s.n_events, s.value_cents, b.n_cross_users
FROM (
  SELECT split, count(*) AS n_events,
         CAST(sum(v_cents) AS BIGINT) AS value_cents
  FROM ev GROUP BY split
) s
CROSS JOIN (
  SELECT CAST(sum(CASE WHEN n_train > 0 AND n_valid > 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_cross_users
  FROM per_user
) b
"""


@register("q_temporal_split", oracle=_TEMPORAL_SPLIT_ORACLE)
def q_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    ev0 = events.select(
        "user_id",
        F.unix_timestamp("ts").cast("bigint").alias("t_s"),
        money.cents("value").alias("v_cents"),
    )
    bounds = ev0.agg(
        F.min("t_s").alias("mn"), F.max("t_s").alias("mx")
    ).select(F.expr("mn + (mx - mn) * 3 div 4").alias("cut_s"))
    ev = ev0.join(F.broadcast(bounds)).select(
        "user_id",
        F.when(F.col("t_s") < F.col("cut_s"), "train")
        .otherwise("valid")
        .alias("split"),
        "v_cents",
    )
    per_split = ev.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("v_cents").cast("bigint").alias("value_cents"),
    )
    cross = (
        ev.groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("split") == "train", 1).otherwise(0)).alias(
                "n_train"
            ),
            F.sum(F.when(F.col("split") == "valid", 1).otherwise(0)).alias(
                "n_valid"
            ),
        )
        .agg(
            F.sum(
                F.when((F.col("n_train") > 0) & (F.col("n_valid") > 0), 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("n_cross_users")
        )
    )
    return per_split.crossJoin(F.broadcast(cross)).select(
        "split", "n_events", "value_cents", "n_cross_users"
    )


# ---------------------------------------------------------------------------
# q_coldstart_audit — cold-start coverage of the temporal split: how
# many validation events belong to users the training side has never
# seen? The recsys/personalization eval audit — a model with per-user
# state scores those events from nothing, and a validation set
# dominated by them measures the prior, not the model. Uses the SAME
# cutoff construction as q_temporal_split so the two keys audit one
# split definition.
#
# Scale: one scan → per-user conditional rollup (train count, valid
# count) → one summary row. No join at all: "user unseen in train" is
# a per-user predicate over the conditional counts.
# ---------------------------------------------------------------------------

_COLDSTART_ORACLE = """
WITH bounds AS (
  SELECT CAST(min(floor(epoch(ts))) AS BIGINT) AS mn,
         CAST(max(floor(epoch(ts))) AS BIGINT) AS mx
  FROM events
),
cut AS (SELECT mn + (mx - mn) * 3 // 4 AS cut_s FROM bounds),
per_user AS (
  SELECT user_id,
         CAST(sum(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                            < (SELECT cut_s FROM cut)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
         CAST(sum(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                            >= (SELECT cut_s FROM cut)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_valid
  FROM events
  GROUP BY user_id
)
SELECT
  CAST(sum(CASE WHEN n_valid > 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_valid_users,
  CAST(sum(CASE WHEN n_valid > 0 AND n_train = 0 THEN 1 ELSE 0 END)
       AS BIGINT) AS n_cold_users,
  CAST(sum(n_valid) AS BIGINT) AS n_valid_events,
  CAST(sum(CASE WHEN n_train = 0 THEN n_valid ELSE 0 END) AS BIGINT)
    AS n_cold_events,
  CAST(sum(CASE WHEN n_train = 0 THEN n_valid ELSE 0 END) * 1000000
       // greatest(sum(n_valid), 1) AS BIGINT) AS cold_event_share_e6
FROM per_user
"""


@register("q_coldstart_audit", oracle=_COLDSTART_ORACLE)
def q_coldstart_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    ev0 = events.select(
        "user_id", F.unix_timestamp("ts").cast("bigint").alias("t_s")
    )
    bounds = ev0.agg(
        F.min("t_s").alias("mn"), F.max("t_s").alias("mx")
    ).select(F.expr("mn + (mx - mn) * 3 div 4").alias("cut_s"))
    per_user = (
        ev0.join(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("t_s") < F.col("cut_s"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_train"),
            F.sum(F.when(F.col("t_s") >= F.col("cut_s"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_valid"),
        )
    )
    return per_user.agg(
        F.sum(F.when(F.col("n_valid") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_valid_users"),
        F.sum(
            F.when((F.col("n_valid") > 0) & (F.col("n_train") == 0), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("n_cold_users"),
        F.sum("n_valid").cast("bigint").alias("n_valid_events"),
        F.sum(F.when(F.col("n_train") == 0, F.col("n_valid")).otherwise(0))
        .cast("bigint")
        .alias("n_cold_events"),
        F.expr(
            "cast(sum(case when n_train = 0 then n_valid else 0 end)"
            " * 1000000 div greatest(sum(n_valid), 1L) as bigint)"
        ).alias("cold_event_share_e6"),
    )


# ---------------------------------------------------------------------------
# q_pit_features — point-in-time feature assembly over the fact table
# itself: for every order (the label row), features computed ONLY from
# the same customer's STRICTLY EARLIER orders — prior order count,
# prior lifetime value in cents, and days since the previous order.
# This is the feature-store "as-of the label timestamp" join done
# window-style: because the frame ends at 1 PRECEDING, a feature can
# never read the label row or anything after it — the non-leakage
# property is structural, not a convention.
#
# Exactness: money in cents; day gaps are exact date differences; the
# first order per customer has NULL days_since_prev and zero priors on
# both engines. Ties on o_orderdate are total-ordered by o_orderkey.
#
# Scale: ONE custkey-keyed shuffle; all three features come from the
# same window partitioning (no second pass, no self-join). At 100 TB
# this is the canonical "training examples from a fact stream" shape —
# per-entity partitions, O(1) running state per row.
# ---------------------------------------------------------------------------

_PIT_ORACLE = """
WITH o AS (
  SELECT o_orderkey, o_custkey, o_orderdate::DATE AS d,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
)
SELECT o_orderkey, o_custkey,
       CAST(count(*) OVER prior AS BIGINT)               AS n_prior_orders,
       CAST(coalesce(sum(cents) OVER prior, 0) AS BIGINT) AS prior_ltv_cents,
       date_diff('day', lag(d, 1) OVER w, d)              AS days_since_prev,
       cents                                              AS label_cents
FROM o
WINDOW
  w AS (PARTITION BY o_custkey ORDER BY d, o_orderkey),
  prior AS (PARTITION BY o_custkey ORDER BY d, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
"""


@register("q_pit_features", oracle=_PIT_ORACLE)
def q_pit_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.to_date("o_orderdate").alias("d"),
        money.cents("o_totalprice").alias("cents"),
    )
    w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    prior = w.rowsBetween(Window.unboundedPreceding, -1)
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.count(F.lit(1)).over(prior).cast("bigint").alias("n_prior_orders"),
        F.coalesce(F.sum("cents").over(prior), F.lit(0))
        .cast("bigint")
        .alias("prior_ltv_cents"),
        F.datediff(F.col("d"), F.lag("d", 1).over(w)).alias(
            "days_since_prev"
        ),
        F.col("cents").alias("label_cents"),
    )


# ---------------------------------------------------------------------------
# q_gains_table — the cumulative-gains / lift table for a risk score:
# rank users by the interpretable score "seconds since last pre-cutoff
# activity" (long-silent users disengage), cut into risk deciles, and
# report per-decile positive rate, cumulative share of all positives
# captured (gains), and lift vs the base rate. This is THE table a
# retention campaign reads ("contacting the top 2 deciles reaches X% of
# at-risk users at Y× random") and the standard model-quality audit
# beside AUC (q_auc_score gives one number; gains give the operating
# curve).
#
# Label: "below-median post-cutoff activity" — the fixture is too dense
# for literal churn (q_churn_labels measures it: zero churners at every
# sf, all 150 users stay active), so the positive class is the lower
# half of post-cutoff engagement, split at the DISCRETE median
# (lower-middle element, = DuckDB quantile_disc(0.5)); ~half the users
# are positive by construction at any scale, so the gains curve always
# has support. Features (gap) read strictly BEFORE the cutoff, the
# label strictly AFTER — q_churn_labels' leakage discipline.
#
# Exactness: decile assignment is ntile(10) with user_id tie-break;
# the median is picked by integer rank over the user table (1-row
# broadcast), never interpolated; counts are exact BIGINTs; rates/
# gains/lift are e6 integer divisions with a greatest(...,1) guard on
# degenerate label distributions, identical in both engines.
#
# Scale: one event scan → user-dimension rollup; the median rank
# window and ntile run over users (at 100 TB swap exact ntile for
# approx-percentile boundaries, as q_rfm_segments documents); the
# gains window runs over 10 rows.
# ---------------------------------------------------------------------------

_GAINS_ORACLE = f"""
WITH cutoff AS (
  SELECT CAST(max(floor(epoch(ts))) AS BIGINT) - {_CHURN_HORIZON_S} AS cut_s
  FROM events
),
per_user AS MATERIALIZED (
  SELECT user_id,
         CAST(sum(CASE WHEN t_s < cut_s THEN 1 ELSE 0 END) AS BIGINT)
           AS n_before,
         CAST(max(cut_s) - max(CASE WHEN t_s < cut_s THEN t_s END) AS BIGINT)
           AS last_gap_s,
         CAST(sum(CASE WHEN t_s >= cut_s THEN 1 ELSE 0 END) AS BIGINT)
           AS n_after
  FROM (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t_s FROM events)
  CROSS JOIN cutoff
  GROUP BY user_id
  HAVING sum(CASE WHEN t_s < cut_s THEN 1 ELSE 0 END) > 0
),
med AS (SELECT quantile_disc(n_after, 0.5) AS m FROM per_user),
scored AS (
  SELECT CASE WHEN p.n_after < med.m THEN 1 ELSE 0 END AS pos,
         ntile(10) OVER (ORDER BY p.last_gap_s DESC, p.user_id) AS decile
  FROM per_user p CROSS JOIN med
),
per_decile AS (
  SELECT decile,
         CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(pos) AS BIGINT) AS n_pos
  FROM scored
  GROUP BY 1
),
tot AS (SELECT CAST(sum(n_users) AS BIGINT) AS all_users,
               CAST(greatest(sum(n_pos), 1) AS BIGINT) AS all_pos
        FROM per_decile)
SELECT d.decile, d.n_users, d.n_pos,
       d.n_pos * 1000000 // d.n_users AS pos_rate_e6,
       CAST(sum(d.n_pos) OVER (ORDER BY d.decile) AS BIGINT) * 1000000
         // t.all_pos AS cum_gain_e6,
       (d.n_pos * t.all_users) * 1000000
         // (d.n_users * t.all_pos) AS lift_e6
FROM per_decile d CROSS JOIN tot t
"""


@register("q_gains_table", oracle=_GAINS_ORACLE)
def q_gains_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_timestamp("ts").cast("bigint").alias("t_s")
    )
    cutoff = ev.agg((F.max("t_s") - F.lit(_CHURN_HORIZON_S)).alias("cut_s"))
    before = F.col("t_s") < F.col("cut_s")
    per_user = (
        ev.join(F.broadcast(cutoff))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(before, 1).otherwise(0))
            .cast("bigint")
            .alias("n_before"),
            F.expr(
                "cast(first(cut_s)"
                " - max(case when t_s < cut_s then t_s end) as bigint)"
            ).alias("last_gap_s"),
            F.sum(F.when(~before, 1).otherwise(0))
            .cast("bigint")
            .alias("n_after"),
        )
        .filter(F.col("n_before") > 0)
    )
    # Median, label, and decile all as WINDOWS over the one per_user
    # lineage — a second DataFrame reference would re-expand the whole
    # event-scan tree per use (the first cut of this key scanned events
    # 24×; this shape scans it twice — cutoff agg + rollup — like
    # q_churn_labels). The unpartitioned windows run over the USER
    # dimension (q_rfm_segments documents the approx-boundary swap for
    # 100 TB).
    w_rank = Window.orderBy("n_after", "user_id")
    w_all = Window.orderBy("n_after", "user_id").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    with_med = (
        per_user.withColumn("rk", F.row_number().over(w_rank))
        .withColumn("n_u", F.count(F.lit(1)).over(w_all))
        .withColumn(
            "m",
            F.max(
                F.when(
                    F.col("rk") == F.expr("(n_u + 1) div 2"), F.col("n_after")
                )
            ).over(w_all),
        )
    )
    scored = with_med.select(
        F.when(F.col("n_after") < F.col("m"), 1).otherwise(0).alias("pos"),
        F.ntile(10)
        .over(Window.orderBy(F.desc("last_gap_s"), F.asc("user_id")))
        .alias("decile"),
    )
    per_decile = scored.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("pos").cast("bigint").alias("n_pos"),
    )
    # Totals and the cumulative sum as windows over the 10-row decile
    # table (same single-lineage rule).
    d_all = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    d_cum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        per_decile.withColumn(
            "all_users", F.sum("n_users").over(d_all).cast("bigint")
        )
        .withColumn(
            "all_pos",
            F.greatest(F.sum("n_pos").over(d_all), F.lit(1)).cast("bigint"),
        )
        .withColumn("cum_pos", F.sum("n_pos").over(d_cum).cast("bigint"))
        .select(
            "decile",
            "n_users",
            "n_pos",
            F.expr("n_pos * 1000000 div n_users").alias("pos_rate_e6"),
            F.expr("cum_pos * 1000000 div all_pos").alias("cum_gain_e6"),
            F.expr(
                "(n_pos * all_users) * 1000000 div (n_users * all_pos)"
            ).alias("lift_e6"),
        )
    )
